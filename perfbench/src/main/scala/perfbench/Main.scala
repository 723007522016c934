package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.{Engine, SqlRouter}
import graft.operators.Operators
import graft.streaming.{BinlogEncoder, BinlogRowDecoder, FrameLog}

/** One benchmark run inside one JVM: set-up (Spark session, table loads
  * into fresh warehouses, warm-up pass), a closed-loop measured window
  * with one client, then dumps of every answer the checks need.
  *
  * Usage: Main <input dir> <output dir> <seconds> <trace 0|1> <cpus>
  *
  * The input directory holds `spec.json` (DDL, load statements, warm-up
  * count), `ops.jsonl` (the op stream) and the parquet tables the loads
  * read. The output directory receives `result.json` (timings, storage
  * and heap figures, per-layer aggregates), `answers.jsonl` (one line per
  * completed op that returns rows or failed), `final.json` (end-of-window
  * table contents for `dml`) and, in traced runs, `spans.jsonl`.
  */
object Main {
  private val mapper = new ObjectMapper()
  /** Set-up loads per run; `setup_s` counts their median. */
  private val LoadReps = 3

  def main(args: Array[String]): Unit = {
    val Array(inDirS, outDirS, secondsS, traceS, cpusS) = args
    val inDir = Paths.get(inDirS).toAbsolutePath
    val outDir = Paths.get(outDirS).toAbsolutePath
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cpus = cpusS.toInt
    val cores = Runtime.getRuntime.availableProcessors
    require(cpus >= 1 && cpus <= cores, s"local[$cpus] asks for more threads than the $cores cores")
    val spec = mapper.readTree(inDir.resolve("spec.json").toFile)
    val workload = spec.get("workload").asText
    val ops = Files.readAllLines(inDir.resolve("ops.jsonl")).asScala
      .filter(_.nonEmpty).map(mapper.readTree).toVector

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // keep a fixed number of finished jobs, stages and queries in
      // Spark's status store, so the live heap does not grow with the
      // number of ops a window happens to complete
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", outDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", outDir.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val sparkStartS = (System.currentTimeMillis() - jvmStart) / 1000.0

    // set-up: LoadReps loads, each into a fresh warehouse; the last one
    // carries the measured window
    val watcher = new WarehouseWatcher
    var engine: Engine = null
    val loadS = (1 to LoadReps).map { r =>
      val wh = outDir.resolve(s"warehouse-$r")
      val t0 = System.nanoTime()
      val e = new Engine(spark, wh)
      e.bindTables(inDir.toString,
        spec.get("tables").elements().asScala.map(_.asText).toSeq: _*)
      (spec.get("ddl").elements().asScala ++ spec.get("loads").elements().asScala)
        .foreach(s => SqlRouter.execute(e, s.asText))
      if (workload == "dml") initReplica(e)
      val dt = (System.nanoTime() - t0) / 1e9
      if (engine != null) deleteTree(engine.warehouse)
      engine = e
      watcher.reset(wh)
      dt
    }
    val runner = new OpRunner(workload, engine, outDir)
    val nWarm = math.min(spec.get("warmup_ops").asInt, ops.size)
    val tw = System.nanoTime()
    val warmupErrors = ops.take(nWarm).flatMap(op => runner.run(op, record = false).error)
    System.gc() // the window starts from a collected heap
    val warmupS = (System.nanoTime() - tw) / 1e9
    watcher.step()

    // measured window: ops start while the window is open
    val tracer = if (traced) Some(new Tracer(spark, engine, watcher)) else None
    val samples = new JList[Object]()
    var ampSum = 0.0
    val seenKinds = scala.collection.mutable.HashMap.empty[String, Int]
    var i = nWarm
    val w0 = System.nanoTime()
    while (i < ops.size && System.nanoTime() - w0 < (seconds * 1e9).toLong) {
      // alternate per op kind, so every kind the window reaches is traced
      val kind = ops(i).get("kind").asText
      val traceThis = seenKinds.getOrElse(kind, 0) % 2 == 0
      seenKinds(kind) = seenKinds.getOrElse(kind, 0) + 1
      tracer.foreach(_.beginOp(traceThis))
      val st0 = Main.cpuTicks()
      val s = runner.run(ops(i), record = true)
      val st1 = Main.cpuTicks()
      tracer match {
        case Some(t) => t.endOp(s, runner.extra.toMap)
        case None => watcher.step()
      }
      // space amplification is sampled after every op: its value at one
      // instant depends on where the maintenance cycle happens to stand
      ampSum += watcher.totalBytes.toDouble /
        math.max(1L, WarehouseWatcher.visibleDataBytes(engine.warehouse))
      // the host's steal share while the op ran: run.py times only the
      // ops the hypervisor left alone
      val js = s.toJson
      js.put("steal", Double.box((st1._1 - st0._1).toDouble / math.max(1L, st1._2 - st0._2)))
      samples.add(js)
      i += 1
    }
    val windowS = (System.nanoTime() - w0) / 1e9
    val exhausted = i >= ops.size

    // end of window: live heap, storage figures, final table contents
    System.gc(); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    runner.dumpFinal()
    tracer.foreach(_.writeSpans(outDir.resolve("spans.jsonl")))

    val res = new JMap[String, Object]()
    res.put("workload", workload)
    res.put("spark_start_s", Double.box(sparkStartS))
    res.put("load_s", loadS.map(Double.box).asJava)
    res.put("warmup_s", Double.box(warmupS))
    res.put("warmup_ops", Int.box(nWarm))
    res.put("warmup_errors", warmupErrors.asJava)
    res.put("window_s", Double.box(windowS))
    res.put("exhausted", Boolean.box(exhausted))
    res.put("ops", samples)
    res.put("heap_mb", Double.box(heapMb))
    res.put("bytes_written", Long.box(watcher.writtenBytes))
    res.put("space_amp", Double.box(ampSum / math.max(1, samples.size)))
    res.put("jvm", System.getProperty("java.vm.name") + " " +
      System.getProperty("java.runtime.version"))
    res.put("spark", spark.version)
    tracer.foreach(t => res.put("trace", t.summary()))
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(outDir.resolve("result.json").toFile, res)
    runner.close()
    spark.stop()
  }

  /** The replica's frame log starts with a FORMAT_DESCRIPTION event. */
  private def initReplica(e: Engine): Unit = {
    val dir = e.warehouse.resolve("_replica")
    Files.createDirectories(dir)
    FrameLog.append(dir, "replica", Seq((0L, BinlogEncoder.fde())))
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat; zeros where
    * the file does not exist. */
  def cpuTicks(): (Long, Long) =
    try {
      val r = Files.newBufferedReader(Paths.get("/proc/stat"))
      val v = try r.readLine().trim.split("\\s+").drop(1).take(8).map(_.toLong) finally r.close()
      (v(7), v.sum)
    } catch { case _: Exception => (0L, 0L) }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** A Row as plain JSON-able values: numbers stay numbers, decimals
    * and dates become strings, nested arrays become lists. */
  def plain(v: Any): Object = v match {
    case null => null
    case r: Row => val l = new JList[Object](); r.toSeq.foreach(x => l.add(plain(x))); l
    case s: scala.collection.Seq[_] => val l = new JList[Object](); s.foreach(x => l.add(plain(x))); l
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => t.toString
    case b: Array[Byte] => new String(b, "UTF-8")
    case o: AnyRef => o
    case o => o.asInstanceOf[AnyRef]
  }
}

/** One completed op: wall time, rows it returned or changed, error. */
final case class Sample(id: Int, kind: String, ms: Double, rows: Long,
    error: Option[String], spans: Seq[Span]) {
  def toJson: JMap[String, Object] = {
    val m = new JMap[String, Object]()
    m.put("id", Int.box(id)); m.put("kind", kind); m.put("ms", Double.box(ms))
    m.put("rows", Long.box(rows)); error.foreach(m.put("error", _))
    m
  }
}

/** A timed interval on the epoch-millisecond clock Spark's events use. */
final case class Span(name: String, startMs: Double, endMs: Double,
    parent: String, opId: Int) {
  def ms: Double = endMs - startMs
}

object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + offsetNs) / 1e6
}

/** Executes ops of one workload against the engine through its public
  * entry points and records what the checks need. */
final class OpRunner(workload: String, e: Engine, outDir: Path) {
  private val mapper = new ObjectMapper()
  private val answers = Files.newBufferedWriter(outDir.resolve("answers.jsonl"))
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]

  private def span[A](name: String, opId: Int, parent: String)(f: => A): A = {
    val t0 = Clock.nowMs
    try f finally spans += Span(name, t0, Clock.nowMs, parent, opId)
  }

  /** Per-op figures the tracer reads after the op. */
  val extra = scala.collection.mutable.HashMap.empty[String, Double]

  def run(op: JsonNode, record: Boolean): Sample = {
    val id = op.get("id").asInt
    val kind = op.get("kind").asText
    spans.clear()
    extra.clear()
    // encoding a binlog window is the primary's work, outside the timer
    val window = if (op.has("txns")) Some(encodeWindow(op)) else None
    val codes = if (op.has("batch")) Some(batchFrame(op)) else None
    val t1 = Clock.nowMs
    var out: Object = null
    var rows = 0L
    val err = try {
      (window, codes) match {
        case (Some((frames, tables, changeRows)), _) =>
          span("streaming.append", id, kind)(
            FrameLog.append(e.warehouse.resolve("_replica"), "replica", frames))
          val n = span("streaming.apply", id, kind)(e.applyReplicaLog(tables))
          require(n == unapplied + frames.size,
            s"applied $n frames of ${unapplied + frames.size}")
          unapplied = 0
          rows = changeRows
          extra("frames") = n.toDouble
          extra("change_rows") = changeRows.toDouble
        case (None, None) =>
          op.get("sql").elements().asScala.map(_.asText).foreach { s =>
            val r = span("sqlrouter.execute", id, kind)(SqlRouter.execute(e, s))
            r.df match {
              case Some(df) =>
                val got = span("client.collect", id, kind)(df.collect())
                rows += got.length
                out = Main.plain(got.toSeq)
              case None => rows += math.max(r.affected, 0L)
            }
          }
        case (None, Some(cs)) =>
          val pairs = span("operators.pairs", id, kind) {
            val found = Operators.jaccardPairsAuto(cs, "doc_id", "cs", op.get("tau").asDouble)
            val got = found.select(col("a_id"), col("b_id")).collect()
            Operators.releaseCheckpoints(found)
            got
          }
          val edges = e.spark.createDataFrame(java.util.Arrays.asList(pairs: _*),
            StructType(Seq(StructField("a_id", LongType), StructField("b_id", LongType))))
          val comps = span("operators.cc", id, kind)(
            Operators.connectedComponents(edges, "a_id", "b_id", maxIter = 50)
              .collect())
          rows = op.get("docs").asLong(0L)
          extra("pairs_out") = pairs.length.toDouble
          val m = new JMap[String, Object]()
          m.put("pairs", Main.plain(pairs.toSeq))
          m.put("clusters", Main.plain(comps.toSeq))
          out = m
      }
      None
    } catch {
      case t: Throwable if !t.isInstanceOf[VirtualMachineError] =>
        Some(t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage).take(300))
    }
    val t2 = Clock.nowMs
    val opSpan = Span(kind, t1, t2, "", id)
    val s = Sample(id, kind, t2 - t1, rows, err, opSpan +: spans.toSeq)
    if (out != null || err.isDefined) {
      val m = new JMap[String, Object]()
      m.put("id", Int.box(id)); m.put("warmup", Boolean.box(!record))
      err.foreach(m.put("error", _))
      if (out != null) m.put("rows", out)
      answers.write(mapper.writeValueAsString(m)); answers.newLine()
    }
    s
  }

  // ---- replica window: transactions encoded as the primary would

  /** Frames in the log not applied yet: set-up's format description. */
  private var unapplied = if (workload == "dml") 1L else 0L
  private var nextOff = 1L
  private var gno = 1L
  private val sid = (1 to 16).map(_.toByte).toArray
  private lazy val tableIds: Map[String, Long] =
    e.listTables("main").sorted.zipWithIndex.map { case (t, i) => t -> (10L + i) }.toMap

  private def cell(v: JsonNode, t: org.apache.spark.sql.types.DataType): Any =
    if (v == null || v.isNull) null else t match {
      case org.apache.spark.sql.types.IntegerType => v.asInt
      case org.apache.spark.sql.types.LongType => v.asLong
      case _ => v.asText
    }

  private def encodeWindow(op: JsonNode): (Seq[(Long, Array[Byte])], Seq[String], Long) = {
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Byte])]
    val touched = scala.collection.mutable.LinkedHashSet.empty[String]
    var changeRows = 0L
    op.get("txns").elements().asScala.foreach { txn =>
      val t = txn.get("table").asText
      val schema = e.table(t).schema
      val specs = BinlogRowDecoder.specsFor(schema)
      def image(n: JsonNode): Seq[Any] =
        schema.fields.toSeq.zipWithIndex.map { case (f, i) => cell(n.get(i), f.dataType) }
      val changes = txn.get("changes").elements().asScala.map { ch =>
        changeRows += 1
        ch.get(0).asText match {
          case "I" => BinlogEncoder.Ins(image(ch.get(1)))
          case "U" => BinlogEncoder.Upd(image(ch.get(1)), image(ch.get(2)))
          case "D" => BinlogEncoder.Del(image(ch.get(1)))
        }
      }.toSeq
      val (fs, next) = BinlogEncoder.txn(nextOff, sid, gno, tableIds(t), "main", t,
        specs, changes)
      frames ++= fs
      nextOff = next
      gno += 1
      touched += s"main.$t"
    }
    (frames.toSeq, touched.toSeq, changeRows)
  }

  // ---- dedup: the batch's shingle code sets, read from the engine table

  private def batchFrame(op: JsonNode): DataFrame =
    e.table("corpus").read()
      .filter(col("batch") === op.get("batch").asInt)
      .select(col("doc_id"), expr("shingle_code_set(text)").as("cs"))

  /** End-of-window table contents for the model checks. */
  def dumpFinal(): Unit = {
    val queries = workload match {
      case "dml" => Seq(
        "acct" -> "SELECT id, grp, bal, note FROM acct ORDER BY id",
        "pc" -> "SELECT id, name, bal, n FROM pc ORDER BY id",
        "uq" -> "SELECT em, n FROM uq ORDER BY em",
        "uq_ids" -> "SELECT count(*) AS c, count(DISTINCT id) AS d, min(id) AS lo FROM uq") ++
        e.listTables("main").sorted.filter(_.startsWith("cdc_"))
          .map(t => t -> s"SELECT * FROM $t ORDER BY id")
      case _ => Nil
    }
    if (queries.nonEmpty) {
      val m = new JMap[String, Object]()
      queries.foreach { case (k, q) =>
        m.put(k, Main.plain(SqlRouter.execute(e, q).df.get.collect().toSeq))
      }
      mapper.writeValue(outDir.resolve("final.json").toFile, m)
    }
  }

  def close(): Unit = answers.close()
}
