package graft.storage

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

class GraftTableSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("v", DoubleType)))

  private def freshTable(pk: Seq[String] = Seq("id")): GraftTable =
    GraftTable.create(spark, tmpDir("graft_tbl"), schema, pk)

  test("create + insert + read round-trip, versions bump") {
    val t = freshTable()
    assert(t.read().count() === 0)
    assert(t.manifest.version === 0)
    val n = t.insert(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "v"))
    assert(n === 2)
    assert(t.manifest.version === 1)
    assert(t.read().orderBy("id").as[(Long, String, Double)].collect()
      === Array((1L, "a", 1.0), (2L, "b", 2.0)))
  }

  test("snapshot isolation: reader pinned before a delete sees old data") {
    val t = freshTable()
    t.insert(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "v"))
    val snapshot = t.read()
    t.delete(col("id") === 1L)
    assert(snapshot.count() === 2) // old files immutable
    assert(t.read().count() === 1)
  }

  test("delete rewrites only affected files") {
    val t = freshTable()
    t.insert(Seq((1L, "a", 1.0)).toDF("id", "name", "v"))
    t.insert(Seq((2L, "b", 2.0)).toDF("id", "name", "v"))
    val filesBefore = t.manifest.files
    // force the PRUNED path — tiny fixtures otherwise take the r17
    // rewrite-all arm, whose whole point is to skip the probe
    spark.conf.set("spark.graft.merge.rewriteAllMaxBytes", "0")
    val deleted = try t.delete(col("id") === 2L)
      finally spark.conf.unset("spark.graft.merge.rewriteAllMaxBytes")
    assert(deleted === 1)
    val filesAfter = t.manifest.files
    // file holding id=1 is carried over untouched
    assert(filesBefore.intersect(filesAfter).nonEmpty)
    assert(t.read().select("id").as[Long].collect() === Array(1L))
    // the rewrite-all arm (default threshold) answers the same
    val t2 = freshTable()
    t2.insert(Seq((1L, "a", 1.0)).toDF("id", "name", "v"))
    t2.insert(Seq((2L, "b", 2.0)).toDF("id", "name", "v"))
    assert(t2.delete(col("id") === 2L) === 1)
    assert(t2.read().select("id").as[Long].collect() === Array(1L))
  }

  test("delete with no matches is a no-op commit-wise") {
    // both copy-on-write arms: rewrite-all (default) and pruned (0)
    for (cap <- Seq(None, Some("0"))) {
      val t = freshTable()
      t.insert(Seq((1L, "a", 1.0)).toDF("id", "name", "v"))
      val v = t.manifest.version
      cap.foreach(spark.conf.set("spark.graft.merge.rewriteAllMaxBytes", _))
      try {
        assert(t.delete(col("id") === 99L) === 0)
        assert(t.update(col("id") === 99L, Map("v" -> lit(0.0))) === 0)
      } finally spark.conf.unset("spark.graft.merge.rewriteAllMaxBytes")
      assert(t.manifest.version === v, s"arm $cap bumped the version")
      assert(t.read().as[(Long, String, Double)].collect() === Array((1L, "a", 1.0)))
    }
  }

  test("update applies set-exprs to matching rows only") {
    val t = freshTable()
    t.insert(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "v"))
    val n = t.update(col("id") === 2L, Map("v" -> (col("v") * 10), "name" -> lit("B")))
    assert(n === 1)
    assert(t.read().orderBy("id").as[(Long, String, Double)].collect()
      === Array((1L, "a", 1.0), (2L, "B", 20.0)))
  }

  test("truncate empties the table but keeps schema") {
    val t = freshTable()
    t.insert(Seq((1L, "a", 1.0)).toDF("id", "name", "v"))
    t.truncate()
    assert(t.read().count() === 0)
    assert(t.schema === schema)
  }

  test("merge: blind-append fast path when no PK overlaps") {
    val t = freshTable()
    t.insert(Seq((1L, "a", 1.0)).toDF("id", "name", "v"))
    val changes = Seq((2L, "b", 2.0, 2)).toDF("id", "name", "v", "action")
    t.merge(changes)
    assert(t.read().orderBy("id").as[(Long, String, Double)].collect()
      === Array((1L, "a", 1.0), (2L, "b", 2.0)))
  }

  test("merge: general upsert + delete case analysis") {
    val t = freshTable()
    t.insert(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "name", "v"))
    val changes = Seq(
      (1L, "a2", 10.0, 1), // update existing
      (3L, "c", 3.0, 0),   // delete existing
      (4L, "d", 4.0, 2))   // insert new
      .toDF("id", "name", "v", "action")
    t.merge(changes)
    assert(t.read().orderBy("id").as[(Long, String, Double)].collect()
      === Array((1L, "a2", 10.0), (2L, "b", 2.0), (4L, "d", 4.0)))
  }

  test("merge: delete-only path") {
    val t = freshTable()
    t.insert(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "v"))
    val changes = Seq((1L, null.asInstanceOf[String], 0.0, 0))
      .toDF("id", "name", "v", "action")
    t.merge(changes)
    assert(t.read().select("id").as[Long].collect() === Array(2L))
  }

  test("merge refuses a partitioned parent, which holds no rows") {
    val t = GraftTable.create(spark, tmpDir("graft_parent_merge"), schema,
      Seq("id"), props = Map("partition.by" -> "RANGE (id)"))
    val ex = intercept[IllegalArgumentException](
      t.merge(Seq((1L, "a", 1.0, 0)).toDF("id", "name", "v", "action")))
    assert(ex.getMessage.contains("partitioned parent"), ex.getMessage)
  }

  test("merge into empty table inserts upserts") {
    val t = freshTable()
    t.merge(Seq((1L, "a", 1.0, 2)).toDF("id", "name", "v", "action"))
    assert(t.read().count() === 1)
  }

  test("keyless merge: REPLACE deletes full-row matches then inserts, last dup wins") {
    // index-less mode (/root/reference/delta/controller.go "no-PK" arm,
    // main_test.go:840-869 keyless REPLACE)
    val t = GraftTable.create(spark, tmpDir("graft_keyless"), schema, pkCols = Nil)
    t.insert(Seq((1L, "a", 1.0), (1L, "a", 1.0), (2L, "b", 2.0))
      .toDF("id", "name", "v")) // duplicates allowed: no key
    // REPLACE of the duplicated row: both stored copies removed, one back
    t.merge(Seq((1L, "a", 1.0, 2)).toDF("id", "name", "v", "action"))
    assert(t.read().orderBy("id").as[(Long, String, Double)].collect()
      === Array((1L, "a", 1.0), (2L, "b", 2.0)))
    // keyless delete removes every copy of the matching row only
    t.insert(Seq((2L, "b", 2.0)).toDF("id", "name", "v"))
    t.merge(Seq((2L, "b", 2.0, 0)).toDF("id", "name", "v", "action"))
    assert(t.read().as[(Long, String, Double)].collect() === Array((1L, "a", 1.0)))
    // condense on a keyless batch keys by the full row image
    val batch = Seq(
      (5L, "e", 5.0, 2, 1L, 1L, 1L),
      (5L, "e", 5.0, 2, 1L, 1L, 2L), // same row again, later coords
      (6L, "f", 6.0, 2, 1L, 1L, 3L))
      .toDF("id", "name", "v", "action", "txn_group", "txn_seq", "txn_stmt")
    t.merge(graft.streaming.CdcMerge.condense(batch, Nil)
      .select("id", "name", "v", "action"))
    assert(t.read().count() === 3) // 1 + distinct rows 5 and 6, not 4
  }

  test("auto-inc offsets join stays flat at high partition counts") {
    val t = GraftTable.create(spark, tmpDir("graft_ai_wide"), schema, Seq("id"))
    val src = spark.range(1000)
      .selectExpr("concat('n', id) AS name", "CAST(id AS DOUBLE) AS v")
      .repartition(257) // would be a 257-deep when() chain in the old plan
    t.insertAutoInc(src, "id")
    val ids = t.read().select("id").as[Long].collect().sorted
    assert(ids === (1L to 1000L).toArray)
    assert(t.manifest.autoInc === 1001L)
  }

  test("auto-increment ids are unique, increasing, counter persists") {
    val t = GraftTable.create(spark, tmpDir("graft_ai"), schema, Seq("id"))
    t.insertAutoInc(Seq(("a", 1.0), ("b", 2.0), ("c", 3.0))
      .toDF("name", "v").repartition(3), "id")
    val ids1 = t.read().select("id").as[Long].collect().sorted
    assert(ids1 === Array(1L, 2L, 3L))
    t.insertAutoInc(Seq(("d", 4.0)).toDF("name", "v"), "id")
    val ids2 = t.read().select("id").as[Long].collect().sorted
    assert(ids2 === Array(1L, 2L, 3L, 4L))
    assert(t.manifest.autoInc === 5L)
  }

  test("generated columns are computed at insert time") {
    val t = GraftTable.create(spark, tmpDir("graft_gen"), schema, Seq("id"),
      props = Map("generated.v" -> "id * 10.0"))
    t.insert(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    assert(t.read().orderBy("id").as[(Long, String, Double)].collect()
      === Array((1L, "a", 10.0), (2L, "b", 20.0)))
    // explicit value for a generated column is overridden (STORED semantics)
    t.insert(Seq((3L, "c", 999.0)).toDF("id", "name", "v"))
    assert(t.read().filter($"id" === 3L).select("v").as[Double].head() === 30.0)
  }

  test("analyze persists row count and column stats in the manifest") {
    val t = freshTable()
    t.insert(Seq((1L, "a", 1.5), (2L, "b", 3.5), (2L, "c", 3.5))
      .toDF("id", "name", "v"))
    val stats = t.analyze()
    assert(stats("stats.rowCount") === "3")
    assert(stats("stats.min.v") === "1.5" && stats("stats.max.v") === "3.5")
    assert(t.manifest.props("stats.rowCount") === "3")
  }

  test("CHECK constraints reject violating inserts, pass valid ones") {
    val t = GraftTable.create(spark, tmpDir("graft_chk"), schema, Seq("id"),
      props = Map("check.v_positive" -> "v > 0"))
    t.insert(Seq((1L, "a", 1.0)).toDF("id", "name", "v")) // valid
    val e = intercept[IllegalArgumentException] {
      t.insert(Seq((2L, "b", -5.0)).toDF("id", "name", "v"))
    }
    assert(e.getMessage.contains("v_positive"))
    assert(t.read().count() === 1) // rejected batch not committed
  }

  test("CHECK: NULL check result passes (MySQL semantics)") {
    val nullableSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("v", DoubleType, nullable = true)))
    val t = GraftTable.create(spark, tmpDir("graft_chknull"), nullableSchema,
      Seq("id"), props = Map("check.v_positive" -> "v > 0"))
    // v = null → check evaluates NULL → passes, like MySQL
    t.insert(Seq((1L, "a", Some(1.0)), (2L, "b", None))
      .toDF("id", "name", "v"))
    assert(t.read().count() === 2)
  }

  test("CHECK constraints enforced on UPDATE and MERGE upserts") {
    val t = GraftTable.create(spark, tmpDir("graft_chkdml"), schema, Seq("id"),
      props = Map("check.v_positive" -> "v > 0"))
    t.insert(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "v"))
    val eu = intercept[IllegalArgumentException] {
      t.update(col("id") === 1L, Map("v" -> lit(-9.0)))
    }
    assert(eu.getMessage.contains("v_positive"))
    assert(t.read().filter(col("v") < 0).count() === 0)
    val em = intercept[IllegalArgumentException] {
      t.merge(Seq((2L, "b", -7.0, 1)).toDF("id", "name", "v", "action"))
    }
    assert(em.getMessage.contains("v_positive"))
    assert(t.read().filter(col("v") < 0).count() === 0)
    // valid update + merge still go through
    t.update(col("id") === 1L, Map("v" -> lit(5.0)))
    t.merge(Seq((3L, "c", 3.0, 2)).toDF("id", "name", "v", "action"))
    assert(t.read().count() === 3)
  }

  test("time travel: readVersion reconstructs any retained snapshot") {
    val t = freshTable()
    t.insert(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "v")) // v1
    t.update(col("id") === 1L, Map("v" -> lit(9.0)))                      // v2
    t.delete(col("id") === 2L)                                            // v3
    assert(t.history() === Seq(0L, 1L, 2L, 3L))
    assert(t.readVersion(0).count() === 0)
    assert(t.readVersion(1).orderBy("id").select("v").as[Double].collect()
      === Array(1.0, 2.0))
    assert(t.readVersion(2).orderBy("id").select("v").as[Double].collect()
      === Array(9.0, 2.0))
    assert(t.readVersion(3).select("v").as[Double].collect() === Array(9.0))
    // vacuum drops old versions; the latest still reads
    t.vacuum(keepVersions = 1, minAgeMs = 0)
    assert(t.history() === Seq(3L))
    assert(t.read().count() === 1)
  }

  test("concurrent manifest commits: exactly one writer wins each version") {
    val t = freshTable()
    t.insert(Seq((1L, "a", 1.0)).toDF("id", "name", "v"))
    // 8 threads race to commit on top of the same base version
    val base = t.manifest
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        start.await()
        try {
          Manifest.commit(t.path, base.copy(props = Map("writer" -> i.toString)))
          wins.incrementAndGet()
        } catch { case _: java.util.ConcurrentModificationException => () }
      })
    }
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(wins.get === 1) // one winner, seven clean conflicts
    // journal stays linear: no skipped or duplicated version
    assert(t.manifest.version === base.version + 1)
    // losers can rebase and retry successfully
    Manifest.commit(t.path, t.manifest.copy(props = Map("writer" -> "retry")))
    assert(t.manifest.props("writer") === "retry")
  }

  test("checkUnique reports duplicate keys, empty when constraint holds") {
    val t = freshTable()
    t.insert(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "v"))
    assert(t.checkUnique().count() === 0)
    t.insert(Seq((2L, "b2", 9.0)).toDF("id", "name", "v")) // violates pk
    val dups = t.checkUnique().collect()
    assert(dups.length === 1 && dups.head.getLong(0) === 2L)
  }

  test("compact merges small files; vacuum removes unreferenced ones") {
    val t = freshTable()
    (1 to 5).foreach(i => t.insert(Seq((i.toLong, s"r$i", i * 1.0)).toDF("id", "name", "v")))
    // pruned-path delete keeps the other 4 files in place (the
    // compact scenario needs a fragmented manifest)
    spark.conf.set("spark.graft.merge.rewriteAllMaxBytes", "0")
    try t.delete(col("id") === 3L)
    finally spark.conf.unset("spark.graft.merge.rewriteAllMaxBytes")
    val before = t.read().orderBy("id").collect()
    assert(t.manifest.files.size >= 4)

    t.compact()
    assert(t.manifest.files.size === 1)
    assert(t.read().orderBy("id").collect() === before)

    val dataDir = t.path.resolve("data")
    def diskFiles() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dataDir).iterator().asScala
        .count(p => p.toString.endsWith(".parquet"))
    }
    assert(diskFiles() > 1) // old files still on disk for old readers
    val removed = t.vacuum(keepVersions = 1, minAgeMs = 0)
    assert(removed > 0)
    assert(diskFiles() === 1)
    assert(t.read().orderBy("id").collect() === before) // data intact
  }

  test("open on missing table fails; create twice fails") {
    val p = tmpDir("graft_missing").resolve("nope")
    intercept[Exception] { GraftTable.open(spark, p) }
    val t = freshTable()
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, t.path, schema)
    }
  }

  // ------------------------------------------------------------------
  // storage-core review regressions (round 6)

  test("UPDATE enforces CHECKs on rows matched BEFORE the update") {
    val t = GraftTable.create(spark, tmpDir("graft_chk_upd"), schema,
      Seq("id"), props = Map("check.v_small" -> "v < 10"))
    t.insert(Seq((1L, "a", 5.0)).toDF("id", "name", "v"))
    // SET changes the column WHERE references: re-filtering post-update
    // values would exempt the row from the check entirely
    val err = intercept[IllegalArgumentException](
      t.update(col("v") === 5.0, Map("v" -> lit(50.0))))
    assert(err.getMessage.contains("v_small"))
    assert(t.read().select("v").as[Double].head() === 5.0) // unchanged
  }

  test("UPDATE recomputes stored generated columns from post-SET values") {
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("price", DoubleType), StructField("qty", DoubleType),
      StructField("total", DoubleType)))
    val t = GraftTable.create(spark, tmpDir("graft_gen_upd"), sch,
      Seq("id"), props = Map("generated.total" -> "price * qty"))
    t.insert(Seq((1L, 2.0, 3.0)).toDF("id", "price", "qty"))
    assert(t.read().select("total").as[Double].head() === 6.0)
    t.update(col("id") === 1L, Map("price" -> lit(10.0)))
    assert(t.read().select("total").as[Double].head() === 30.0)
  }

  test("insertAutoInc enforces CHECKs and computes generated columns") {
    val sch = StructType(Seq(StructField("id", LongType),
      StructField("v", DoubleType), StructField("neg", DoubleType)))
    val t = GraftTable.create(spark, tmpDir("graft_autoinc_chk"), sch,
      Seq("id"), props = Map("check.pos" -> "v > 0", "generated.neg" -> "-v"))
    val n = t.insertAutoInc(Seq(4.0).toDF("v"), "id")
    assert(n === 1)
    assert(t.read().select("neg").as[Double].head() === -4.0)
    intercept[IllegalArgumentException](
      t.insertAutoInc(Seq(-1.0).toDF("v"), "id"))
  }

  test("keyless merge matches rows with NULL columns (null-safe key)") {
    val t = GraftTable.create(spark, tmpDir("graft_keyless_null"), schema, Nil)
    t.insert(Seq((1L, null.asInstanceOf[String], 1.0)).toDF("id", "name", "v"))
    // REPLACE of the identical row: old copy must be matched (not
    // left behind by '=' null semantics) -> exactly one copy remains
    assert(t.replaceRows(
      Seq((1L, null.asInstanceOf[String], 1.0)).toDF("id", "name", "v")) === 1)
    assert(t.read().count() === 1)
    // a condensed DELETE of the null-bearing row is not a no-op
    t.merge(Seq((1L, null.asInstanceOf[String], 1.0))
      .toDF("id", "name", "v").withColumn("action", lit(0)))
    assert(t.read().count() === 0)
  }

  test("file-replacing commits collide with a concurrent writer (no lost update)") {
    val path = tmpDir("graft_occ_race")
    GraftTable.create(spark, path, schema, Seq("id"))
    val direct = new GraftTable(spark, path)
    direct.insert(Seq((1L, "a", 1.0)).toDF("id", "name", "v"))
    // io seam: a commit lands between our read and our commit
    def racingTable(marker: Long): GraftTable = {
      var raced = false
      GraftTable.open(spark, path, new Manifest.TableIO {
        def load(table: java.nio.file.Path): Manifest = Manifest.load(table)
        def commit(table: java.nio.file.Path, m: Manifest): Manifest = {
          if (!raced) {
            raced = true
            direct.insert(Seq((marker, "raced", 9.0)).toDF("id", "name", "v"))
          }
          Manifest.commit(table, m)
        }
      })
    }
    intercept[java.util.ConcurrentModificationException](
      racingTable(97L).compact())
    assert(direct.read().filter(col("id") === 97L).count() === 1) // not lost
    intercept[java.util.ConcurrentModificationException](
      racingTable(98L).merge(Seq((1L, "z", 2.0)).toDF("id", "name", "v")
        .withColumn("action", lit(2))))
    assert(direct.read().filter(col("id") === 98L).count() === 1)
    intercept[java.util.ConcurrentModificationException](
      racingTable(99L).delete(col("id") === 1L))
    assert(direct.read().orderBy("id").select("id").as[Long].collect()
      === Array(1L, 97L, 98L, 99L))
  }

  test("assignAutoIncIds reserves its range: a stale minter fails loudly") {
    val path = tmpDir("graft_ai_reserve")
    GraftTable.create(spark, path, schema, Seq("id"))
    val before = Manifest.load(path)
    val src = Seq(("a", 1.0), ("b", 2.0)).toDF("name", "v")
    def ids(t: GraftTable) =
      t.assignAutoIncIds(src, "id")._1.select("id").as[Long].collect().toSeq
    assert(ids(new GraftTable(spark, path)) === Seq(1L, 2L))
    // io seam: this handle's first load answers the manifest as it was
    // before the other handle's ids were minted
    var stale = true
    val late = new GraftTable(spark, path, new Manifest.TableIO {
      def load(table: java.nio.file.Path): Manifest =
        if (stale) { stale = false; before } else Manifest.load(table)
      def commit(table: java.nio.file.Path, m: Manifest): Manifest =
        Manifest.commit(table, m)
    })
    val minted = scala.util.Try(ids(late))
    assert(minted.failed.toOption
      .exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
      s"a stale minter returned $minted (the other handle holds 1, 2)")
    // a fresh read mints past the reserved range
    assert(ids(late) === Seq(3L, 4L))
    // no rows: no reservation commit
    val v = Manifest.load(path).version
    late.assignAutoIncIds(src.limit(0), "id")
    assert(Manifest.load(path).version === v)
  }

  test("time travel refuses an aborted transaction's staged version") {
    val t = freshTable()
    t.insert(Seq((1L, "a", 1.0)).toDF("id", "name", "v"))
    val m = t.manifest
    // place an aborted txn's pending version at the journal head
    val txnDir = tmpDir("graft_txn_aborted")
    Manifest.tryDecide(txnDir, "tx1", "abort")
    Manifest.commit(t.path, m.copy(
      files = Nil, // "rolled back" content a reader must never see
      props = m.props + (Manifest.PendingProp -> "tx1",
        Manifest.TxnDirProp -> txnDir.toString)))
    val staged = Manifest.latestVersion(t.path).get
    assert(t.read().count() === 1) // load() skips the aborted head
    assert(!t.history().contains(staged))
    intercept[IllegalArgumentException](t.readVersion(staged).count())
    assert(t.readVersion(m.version).count() === 1) // committed: fine
  }

  test("z-order compaction tolerates an all-NULL column") {
    val t = freshTable()
    t.insert(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "v")
      .withColumn("v", lit(null).cast("double")))
    t.compactZOrder("id", "v") // v: all bounds null -> constant bucket
    assert(t.read().count() === 2)
  }

  test("withFiles counter funnel guards: string-typed / non-PK auto column never advances") {
    // the single auto-inc-advance implementation lives in
    // Manifest.withFiles; its guards must match the old insert-only
    // path's (round-11 verdict #2): a numeric-LOOKING string PK must
    // not advance a counter it does not own
    val sSchema = StructType(Seq(
      StructField("id", StringType), StructField("v", DoubleType)))
    val t = GraftTable.create(spark, tmpDir("graft_strauto"), sSchema,
      Seq("id"), props = Map("autoinc.id" -> "true"))
    t.insert(Seq(("777", 1.0)).toDF("id", "v"))
    assert(t.manifest.autoInc === 1L,
      "string-typed auto column advanced the counter")
    // non-PK auto column: no file stats recorded -> no advance either
    val t2 = GraftTable.create(spark, tmpDir("graft_nonpkauto"), schema,
      Seq("name"), props = Map("autoinc.id" -> "true"))
    t2.insert(Seq((900L, "a", 1.0)).toDF("id", "name", "v"))
    assert(t2.manifest.autoInc === 1L)
    // the positive case, through plain insert (no special-cased path):
    // explicit integral PK id advances past max
    val t3 = GraftTable.create(spark, tmpDir("graft_intauto"), schema,
      Seq("id"), props = Map("autoinc.id" -> "true"))
    t3.insert(Seq((41L, "a", 1.0)).toDF("id", "name", "v"))
    assert(t3.manifest.autoInc === 42L)
  }

  test("DML works in a warehouse path containing spaces") {
    val base = tmpDir("graft spaced dir")
    val t = GraftTable.create(spark, base.resolve("t"), schema, Seq("id"))
    t.insert(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "v"))
    // input_file_name() returns percent-encoded URIs: exact-string
    // matching against raw manifest paths silently no-ops here
    assert(t.delete(col("id") === 2L) === 1)
    assert(t.update(col("id") === 1L, Map("v" -> lit(7.0))) === 1)
    t.merge(Seq((1L, "a2", 8.0)).toDF("id", "name", "v")
      .withColumn("action", lit(2)))
    assert(t.read().as[(Long, String, Double)].collect() ===
      Array((1L, "a2", 8.0)))
    assert(t.checkUnique().count() === 0) // merge did not duplicate
  }

  test("a failed write leaves no orphaned staging files (r14 ADVICE)") {
    // both failure shapes: (a) the NOT NULL raise_error fires INSIDE
    // the write job (staged dir exists, file list never computed) and
    // (b) a CHECK violation detected after the files land — every
    // path must unwind the never-committed staging output
    val base = tmpDir("graft_stage_clean")
    val sch = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", DoubleType)))
    val t = GraftTable.create(spark, base.resolve("t"), sch, Seq("id"),
      props = Map("check.pos" -> "v > 0"))
    t.insert(Seq((1L, 1.0)).toDF("id", "v"))
    def dataFiles(): Set[String] = {
      val d = base.resolve("t").resolve("data")
      val st = java.nio.file.Files.walk(d)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(p =>
          p.toString.endsWith(".parquet")).map(_.toString).toSet
      } finally st.close()
    }
    val committed = dataFiles()
    // (a) NULL through NOT NULL PK: raise_error inside the write job
    intercept[Exception](
      t.insert(Seq((null.asInstanceOf[java.lang.Long], 2.0))
        .toDF("id", "v").selectExpr("CAST(id AS BIGINT) AS id", "v")))
    // (b) CHECK violation: files written, then validation aborts
    intercept[Exception](t.insert(Seq((2L, -5.0)).toDF("id", "v")))
    assert(dataFiles() === committed,
      "failed writes must not strand staging parquet files")
    assert(t.read().count() === 1)
  }
}
