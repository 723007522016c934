package graft.storage

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.types.{DataType, StructType}

/** Versioned file manifest for a copy-on-write table — the analog of
  * the reference's DuckDB-owned storage (tables in
  * `/root/reference/catalog/table.go:18-63`), re-expressed for
  * immutable columnar files.
  *
  * A table directory holds immutable parquet data files plus
  * `_manifest/v%09d.json` snapshots. Every DML statement produces a new
  * manifest version listing exactly the files that constitute the table
  * — INSERT appends files, DELETE/UPDATE/MERGE swap rewritten files in,
  * TRUNCATE commits an empty list. Readers pin one version → snapshot
  * isolation for free; the commit is a single atomic rename → the
  * single-writer transaction journal from SURVEY.md §7 Phase 3.
  *
  * At 100 TB the manifest lists O(#files) strings (metadata-only, no
  * data paths through the driver); the same design scales by sharding
  * the file list, which is out of scope here.
  *
  * Table metadata the reference hides in DuckDB column COMMENTs
  * (`/root/reference/catalog/type_mapping.go:31-42`) lives here in
  * `props` (original logical types, enum values, display width), and
  * the AUTO_INCREMENT counter (`catalog/table.go:785-949`) is the
  * `autoInc` field, bumped transactionally with the data commit.
  */
final case class Manifest(
    version: Long,
    schema: StructType,
    pkCols: Seq[String],
    files: Seq[String],
    autoInc: Long,
    props: Map[String, String],
    /** Per-file PK min/max recorded at write time from the parquet
      * footers (no Spark job): file path → PHYSICAL column name →
      * Seq(min, max) string-encoded in the column's physical type.
      * Keyed physically so ALTER RENAME never invalidates stats. The
      * scale story behind it: the reference answers "which storage
      * holds this key" with an ART index probe
      * (`/root/reference/delta/controller.go:481-488`); the
      * copy-on-write analog is file-range pruning, so a CDC merge
      * touching one key range opens only the overlapping files
      * instead of scanning the table. Absent entries (old manifests,
      * unsupported types) just mean "not prunable" — always safe. */
    fileStats: Map[String, Map[String, Seq[String]]] = Map.empty) {

  /** Swap the file list; stats for dropped files are shed, stats for
    * newly written files ride in via `newStats`. MySQL advances the
    * auto-increment counter past any EXPLICITLY inserted id (A23) —
    * the per-file PK stats computed for merge pruning carry the
    * incoming max for free, so the bump costs no extra job here.
    * THE single funnel for that invariant: every data commit (insert,
    * REPLACE, ON DUPLICATE KEY, INSERT IGNORE, merge, LOAD) passes
    * through withFiles, so no write path can leave the counter stale.
    * Guards (the same set the old insert-only path used): the auto
    * column must be a PK member (AUTO_INCREMENT requires a key; only
    * PK columns carry file stats anyway) and not string-typed — a
    * numeric-LOOKING string id must never advance a counter it does
    * not own. Files without usable stats simply don't advance it; the
    * AUTO_INCREMENT=n option / setval replay stays the authoritative
    * seed.
    *
    * Explicit id 0 (round-13 verdict #5 — DECIDED semantics): the
    * engine behaves as if MySQL's NO_AUTO_VALUE_ON_ZERO mode were
    * always on — an explicit 0 through an AUTO_INCREMENT column is
    * STORED LITERALLY, never re-assigned (default MySQL would mint the
    * next id; PG identity and the testdata's 0-based keys both want
    * the literal). An explicit NULL is NOT an assign trigger either:
    * it fails loudly instead of silently minting. Assignment happens
    * ONLY when the column is omitted from the insert list (or the
    * whole VALUES row uses DEFAULT). AutoIncZeroSemanticsSpec pins
    * these behaviors; the q111 oracle agrees (testdata custkeys start
    * at 0 and ride through AUTO_INCREMENT columns literally). */
  def withFiles(f: Seq[String],
      newStats: Map[String, Map[String, Seq[String]]] = Map.empty): Manifest = {
    val listed = f.toSet
    val bumped = (for {
      c <- autoIncCol
      if pkCols.contains(c)
      fld <- schema.fields.find(_.name == c)
      if fld.dataType != org.apache.spark.sql.types.StringType
      phys = props.getOrElse(s"phys.$c", c)
      maxes = newStats.values.flatMap(_.get(phys)).flatMap(_.lift(1))
        .flatMap(v => scala.util.Try(v.toLong).toOption)
      if maxes.nonEmpty
    } yield math.max(autoInc, maxes.max + 1L)).getOrElse(autoInc)
    copy(files = f, autoInc = bumped,
      fileStats = (fileStats ++ newStats).filter { case (k, _) => listed(k) })
  }

  /** The column `autoInc` assigns (AUTO_INCREMENT, serial or identity:
    * an `autoinc.<col>` prop), if the table has one. */
  def autoIncCol: Option[String] =
    schema.fieldNames.find(c => props.get(s"autoinc.$c").contains("true"))
}

object Manifest {
  private val mapper = new ObjectMapper()

  /** Pluggable manifest journal access: [[GraftTable]] reads and commits
    * through this seam so a [[Transaction]] can stage commits in memory
    * and publish them atomically later. The default is the on-disk
    * journal (load/commit below). */
  trait TableIO {
    def load(table: Path): Manifest
    def commit(table: Path, m: Manifest): Manifest
  }

  /** Direct per-statement commits (auto-commit mode). */
  object DirectIO extends TableIO {
    def load(table: Path): Manifest = Manifest.load(table)
    def commit(table: Path, m: Manifest): Manifest = Manifest.commit(table, m)
  }

  /** Manifest JSON reads since JVM start — a cheap observability hook
    * the Engine spec uses to assert the lazy catalog path does no
    * per-query full-catalog manifest scans. */
  val loadCount = new java.util.concurrent.atomic.AtomicLong(0)

  /** Journal IO seam ([[JournalStore]]): local hard-link claims by
    * default; deployments on shared storage (and the Hadoop-journal
    * spec) install a [[HadoopJournalStore]]. Global because the
    * journal's location IS global to the warehouse. */
  @volatile var store: JournalStore = NioJournalStore

  // Props carrying the two-phase transaction protocol (multi-statement
  // BEGIN/COMMIT/ROLLBACK — reference backend/session.go:87-145). A
  // manifest version with `txn.pending` set is invisible until the
  // transaction's decision file says "commit".
  val PendingProp = "txn.pending"
  val TxnDirProp = "txn.dir"

  private def dir(table: Path): Path = table.resolve("_manifest")

  def latestVersion(table: Path): Option[Long] = {
    val vs = versions(table)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** All retained journal versions (unsorted). */
  def versions(table: Path): Seq[Long] =
    store.list(dir(table))
      .collect { case s if s.matches("v\\d{9}\\.json") => s.substring(1, 10).toLong }

  /** Load the latest VISIBLE manifest. Versions placed by an in-flight
    * or aborted transaction (carrying [[PendingProp]]) are skipped for
    * CONTENT, but the returned `version` stays the raw journal head so
    * the next commit's slot derivation still collides with — and thus
    * detects — every concurrent writer, decided or not. An undecided
    * pending head is waited on briefly, then force-aborted (presumed
    * dead writer); the decision file makes that arbitration race-free.
    */
  /** The table has no (visible) manifest — i.e. it does not exist.
    * Subclasses IllegalStateException so callers that treat "missing"
    * generically keep working; existence probes (`DROP TABLE IF
    * EXISTS`) catch exactly this and let genuine IO/parse failures
    * propagate. */
  class NoSuchTableException(msg: String) extends IllegalStateException(msg)

  def load(table: Path): Manifest = {
    val raw = latestVersion(table).getOrElse(
      throw new NoSuchTableException(s"no manifest under $table"))
    var v = raw
    var m = loadVersion(table, v)
    while (!isVisible(m)) {
      v -= 1
      if (v < 0) throw new NoSuchTableException(s"no visible manifest under $table")
      m = loadVersion(table, v)
    }
    // strip the txn protocol props from the RESOLVED manifest: a later
    // commit copying props must not re-mark its (non-transactional)
    // version as pending — that would chain every future load through
    // the decision file, and losing the _txn dir would then make every
    // descendant version invisible
    val clean = m.copy(props = m.props - PendingProp - TxnDirProp)
    if (clean.version == raw) clean else clean.copy(version = raw)
  }

  /** Newest version whose content a reader would see (the version
    * [[load]] resolves to) — pending/aborted heads are skipped. */
  def visibleVersion(table: Path): Option[Long] =
    latestVersion(table).map { raw =>
      var v = raw
      while (v >= 0 && !isVisible(loadVersion(table, v))) v -= 1
      require(v >= 0, s"no visible manifest under $table")
      v
    }

  /** Load version `v` for READING (time travel): refuses the payload
    * of a pending or aborted transaction — [[load]] skips such heads,
    * and `VERSION AS OF` must not expose rows that were never
    * committed. A decided-commit version reads fine. */
  def loadVisibleVersion(table: Path, v: Long): Manifest = {
    val m = loadVersion(table, v)
    if (!isVisible(m)) throw new IllegalArgumentException(
      s"version $v holds an uncommitted transaction's staging")
    m.copy(props = m.props - PendingProp - TxnDirProp)
  }

  /** Versions safe for time travel — pending/aborted txn heads hidden. */
  def visibleVersions(table: Path): Seq[Long] =
    versions(table).filter(v => isVisible(loadVersion(table, v)))

  private def isVisible(m: Manifest): Boolean = m.props.get(PendingProp) match {
    case None => true
    case Some(txnId) =>
      decide(Paths.get(m.props(TxnDirProp)), txnId, forceAbortAfterMs = 2000L)
  }

  /** Resolve (blocking) whether transaction `txnId` committed. If no
    * decision lands within `forceAbortAfterMs`, claim an "abort"
    * decision ourselves — the writer is presumed dead; if it is in fact
    * racing us to decide "commit", exactly one claim wins ([[tryDecide]]
    * is a hard-link creation). Returns true iff committed. */
  def decide(txnDir: Path, txnId: String, forceAbortAfterMs: Long): Boolean = {
    val f = txnDir.resolve(s"$txnId.decided")
    val deadline = System.nanoTime() + forceAbortAfterMs * 1000000L
    while (true) {
      if (store.exists(f))
        return new String(store.read(f), "UTF-8") == "commit"
      if (System.nanoTime() > deadline) tryDecide(txnDir, txnId, "abort")
      else Thread.sleep(2)
    }
    false // unreachable
  }

  /** Atomically claim the decision for `txnId` (hard-link creation =
    * atomic and exclusive; the content is fully written before the link
    * appears). Returns true iff OUR claim won. */
  def tryDecide(txnDir: Path, txnId: String, decision: String): Boolean = {
    store.mkdirs(txnDir)
    store.writeExclusive(txnDir.resolve(s"$txnId.decided"),
      decision.getBytes("UTF-8"))
  }

  def loadVersion(table: Path, v: Long): Manifest = {
    loadCount.incrementAndGet()
    val raw = mapper.readValue(
      store.read(dir(table).resolve(f"v$v%09d.json")), classOf[java.util.Map[String, Object]])
    Manifest(
      version = raw.get("version").asInstanceOf[Number].longValue(),
      schema = DataType.fromJson(raw.get("schema").asInstanceOf[String]).asInstanceOf[StructType],
      pkCols = raw.get("pkCols").asInstanceOf[java.util.List[String]].asScala.toSeq,
      files = raw.get("files").asInstanceOf[java.util.List[String]].asScala.toSeq,
      autoInc = raw.get("autoInc").asInstanceOf[Number].longValue(),
      props = raw.get("props").asInstanceOf[java.util.Map[String, String]].asScala.toMap,
      fileStats = Option(raw.get("fileStats")) // absent in old manifests
        .map(_.asInstanceOf[java.util.Map[String, java.util.Map[String, java.util.List[String]]]]
          .asScala.map { case (f, cols) =>
            f -> cols.asScala.map { case (c, mm) => c -> mm.asScala.toSeq }.toMap
          }.toMap)
        .getOrElse(Map.empty))
  }

  /** Atomically commit `m` as the next version. The claim on the
    * version slot is [[JournalStore.writeExclusive]] — atomic AND
    * exclusive per store (local: hard-link creation; HDFS-like:
    * rename-if-absent; a plain overwriting rename would silently drop
    * a concurrent writer's commit). A losing writer gets a
    * ConcurrentModificationException: re-read the manifest, rebase,
    * retry — the optimistic-concurrency loop every manifest-journal
    * store (Delta/Iceberg) runs. */
  def commit(table: Path, m: Manifest): Manifest = {
    val d = dir(table)
    store.mkdirs(d)
    // The slot is derived from the version the WRITER READ (m.version),
    // not from a re-listing: a stale writer must collide with whoever
    // advanced the journal past it (its file list was built against
    // m.files — landing in any later slot would drop the other
    // writer's commit), fail, rebase, retry.
    val next = if (latestVersion(table).isEmpty) 0L else m.version + 1
    val out = m.copy(version = next)
    val payload = mapper.writeValueAsBytes(Map(
      "version" -> java.lang.Long.valueOf(out.version),
      "schema" -> out.schema.json,
      "pkCols" -> out.pkCols.asJava,
      "files" -> out.files.asJava,
      "autoInc" -> java.lang.Long.valueOf(out.autoInc),
      "props" -> out.props.asJava,
      "fileStats" -> out.fileStats.map { case (f, cols) =>
        f -> cols.map { case (c, mm) => c -> mm.asJava }.asJava
      }.asJava).asJava)
    if (!store.writeExclusive(d.resolve(f"v$next%09d.json"), payload))
      throw new java.util.ConcurrentModificationException(
        s"manifest version $next was committed concurrently")
    out
  }
}
