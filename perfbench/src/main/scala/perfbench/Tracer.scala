package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.{LinkedHashMap => JMap}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.Engine

/** Files under the warehouse, diffed between ops: bytes and files
  * written, parquet files removed, manifest versions committed. */
final class WarehouseWatcher {
  private var root: Path = _
  private var files = Map.empty[String, (Long, Long)]
  var writtenBytes = 0L
  var lastBytes = 0L
  var lastDataWritten = 0
  var lastDataRemoved = 0
  var lastManifests = 0

  def reset(r: Path): Unit = { root = r; files = Map.empty; writtenBytes = 0L; step() }

  def step(): Unit = {
    val cur = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.foreach { p =>
        try {
          if (Files.isRegularFile(p))
            cur(p.toString) = (Files.size(p), Files.getLastModifiedTime(p).toMillis)
        } catch { case _: java.io.IOException => () } // removed mid-walk
      } finally s.close()
    }
    val changed = cur.filter { case (k, v) => !files.get(k).contains(v) }
    lastBytes = changed.values.map(_._1).sum
    lastDataWritten = changed.keys.count(_.endsWith(".parquet"))
    lastManifests = changed.keys.count(_.contains("/_manifest/"))
    lastDataRemoved = files.keys.count(k => k.endsWith(".parquet") && !cur.contains(k))
    writtenBytes += lastBytes
    files = cur.toMap
  }

  def totalBytes: Long = files.values.map(_._1).sum
}

object WarehouseWatcher {
  /** Data files the visible manifest of every table lists. */
  def visibleFiles(wh: Path): Seq[Path] = {
    val s = Files.walk(wh)
    val tables = try s.iterator().asScala
      .filter(p => p.getFileName.toString == "_manifest").map(_.getParent).toVector
    finally s.close()
    tables.flatMap { t =>
      try graft.storage.Manifest.load(t).files.map { f =>
        val u = try new java.net.URI(f) catch { case _: Exception => null }
        if (u != null && u.getScheme != null) Paths.get(u.getPath) else Paths.get(f)
      } catch { case _: Exception => Nil }
    }
  }

  def visibleDataBytes(wh: Path): Long =
    visibleFiles(wh).map(p => if (Files.exists(p)) Files.size(p) else 0L).sum
}

/** The traced run's instrument. Every other op of each kind is traced;
  * the rest run with the listeners idle, so one run yields the tracing
  * overhead too. Events between two drains of Spark's listener bus
  * belong to the one op the single client ran in between. */
final class Tracer(spark: SparkSession, e: Engine, watcher: WarehouseWatcher)
    extends AdaptiveSparkPlanHelper {
  @volatile private var armed = false
  private final case class Job(id: Int, start: Long, var end: Long)
  private final case class Qe(phases: Map[String, (Long, Long)], plan: SparkPlan, atMs: Double)
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val qes = new ConcurrentLinkedQueue[Qe]()
  private val taskAgg = new Array[Double](7) // tasks run cpu wait shuffle input result
  private var stagesSubmitted = 0

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = if (armed) {
      val job = Job(j.jobId, j.time, j.time); jobs.add(job); jobById.put(j.jobId, job)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobById.get(j.jobId)).foreach(_.end = j.time)
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = if (armed) {
      stagesSubmitted += 1
      stageSubmit.put(s.stageInfo.stageId,
        s.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (armed) {
      val m = t.taskMetrics
      taskAgg(0) += 1
      if (m != null) {
        taskAgg(1) += m.executorRunTime
        taskAgg(2) += m.executorCpuTime / 1e6
        taskAgg(4) += m.shuffleWriteMetrics.bytesWritten
        taskAgg(5) += m.inputMetrics.recordsRead
        taskAgg(6) += m.resultSize
      }
      val sub = stageSubmit.get(t.stageId)
      if (sub != 0L || stageSubmit.containsKey(t.stageId))
        taskAgg(3) += math.max(0L, t.taskInfo.launchTime - sub)
    }
  })

  e.spark.listenerManager.register(new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = if (armed) {
      val ph = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      qes.add(Qe(ph, qe.executedPlan, Clock.nowMs))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = rec(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = rec(qe)
  })

  // -------------------------------------------------------------------
  // per-op counters

  private final case class Counters(ruleNs: Long, ruleRuns: Long, compiles: Long,
      fsOps: Long, fsBytes: Long, gcMs: Long, jitMs: Long)

  private def counters(): Counters = {
    val r = RuleExecutor.getCurrentMetrics()
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Counters(r.time, r.numRuns, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      fs.map(_.getReadOps.toLong).sum, fs.map(_.getBytesRead).sum,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
  }

  private var before: Counters = _
  private var tracing = false
  private val perOp = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
  private val tracedMs = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  private val untracedMs = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  private val allSpans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var selfcheckMax = 0.0

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  def beginOp(traceThis: Boolean): Unit = {
    drain()
    jobs.clear(); jobById.clear(); stageSubmit.clear(); qes.clear()
    java.util.Arrays.fill(taskAgg, 0.0); stagesSubmitted = 0
    tracing = traceThis
    if (traceThis) before = counters()
    armed = traceThis
  }

  /** Close the op: attribute every drained event to it. Untraced ops
    * only contribute their wall time to the overhead estimate. */
  def endOp(s: Sample, extra: Map[String, Double]): Unit = {
    drain()
    armed = false
    watcher.step()
    if (s.error.nonEmpty) return
    if (!tracing) { untracedMs += s.kind -> s.ms; return }
    tracedMs += s.kind -> s.ms
    val after = counters()
    val opSpan = s.spans.head
    val jobList = jobs.asScala.toSeq
    val qeList = qes.asScala.toSeq
    def phaseMs(p: String) = qeList.flatMap(_.phases.get(p)).map { case (a, b) => b - a }.sum.toDouble
    def spanMs(n: String) = s.spans.filter(_.name == n).map(_.ms).sum
    val pairsSpans = s.spans.filter(_.name == "operators.pairs")
    val ccSpans = s.spans.filter(_.name == "operators.cc")
    val candidates = qeList
      .filter(q => pairsSpans.exists(sp => q.atMs >= sp.startMs && q.atMs <= sp.endMs + 50))
      .map(q => candidatePairs(q.plan)).sum
    val pairsOut = extra.getOrElse("pairs_out", 0.0)

    // self time of every interval of the op: the op itself, the entry
    // points the runner timed, Catalyst phases and Spark jobs
    val iv = (s.spans ++ qeList.flatMap(_.phases.collect {
      case (p, (a, b)) if p != "total" => Span(p, a.toDouble, b.toDouble, "", s.id) }) ++
      jobList.map(j => Span("job", j.start.toDouble, j.end.toDouble, "", s.id))).toIndexedSeq
    val (self, roots) = selfTimes(iv)
    // the check: the op's time outside every timed entry point, plus
    // the part of drained events that lies outside the op, as a share
    // of the op's wall time
    val wall = opSpan.ms
    val outside = roots.filter(_ != 0).map(iv).map(x =>
      math.max(0.0, math.min(x.endMs, opSpan.startMs) - x.startMs) +
        math.max(0.0, x.endMs - math.max(x.startMs, opSpan.endMs))).sum
    val err = if (wall > 0) (self(0) + outside) / wall else 0.0
    selfcheckMax = math.max(selfcheckMax, err)

    val visible = WarehouseWatcher.visibleFiles(e.warehouse).size.toDouble
    perOp += Map(
      "sqlrouter.self_ms" -> iv.indices.filter(iv(_).name == "sqlrouter.execute").map(self).sum,
      "catalyst.qe_count" -> qeList.size.toDouble,
      "catalyst.analysis_ms" -> phaseMs("analysis"),
      "catalyst.optimization_ms" -> phaseMs("optimization"),
      "catalyst.planning_ms" -> phaseMs("planning"),
      "catalyst.rule_ms" -> (after.ruleNs - before.ruleNs) / 1e6,
      "catalyst.rule_runs" -> (after.ruleRuns - before.ruleRuns).toDouble,
      "codegen.compiles" -> (after.compiles - before.compiles).toDouble,
      "scheduler.jobs" -> jobList.size.toDouble,
      "scheduler.stages" -> stagesSubmitted.toDouble,
      "scheduler.tasks" -> taskAgg(0),
      "scheduler.job_ms" -> jobList.map(j => (j.end - j.start).toDouble).sum,
      "scheduler.task_run_ms" -> taskAgg(1),
      "scheduler.task_cpu_ms" -> taskAgg(2),
      "scheduler.task_wait_ms" -> taskAgg(3),
      "scheduler.shuffle_write_bytes" -> taskAgg(4),
      "scheduler.input_rows" -> taskAgg(5),
      "scheduler.result_bytes" -> taskAgg(6),
      "storage.manifest_commits" -> watcher.lastManifests.toDouble,
      "storage.files_written" -> watcher.lastDataWritten.toDouble,
      "storage.files_removed" -> watcher.lastDataRemoved.toDouble,
      "storage.bytes_written" -> watcher.lastBytes.toDouble,
      "storage.visible_files" -> visible,
      "storage.fs_read_ops" -> (after.fsOps - before.fsOps).toDouble,
      "storage.fs_bytes_read" -> (after.fsBytes - before.fsBytes).toDouble,
      "streaming.append_ms" -> spanMs("streaming.append"),
      "streaming.apply_ms" -> spanMs("streaming.apply"),
      "streaming.frames" -> extra.getOrElse("frames", 0.0),
      "streaming.change_rows" -> extra.getOrElse("change_rows", 0.0),
      "operators.pairs_ms" -> spanMs("operators.pairs"),
      "operators.cc_ms" -> spanMs("operators.cc"),
      "operators.candidate_pairs" -> candidates,
      "operators.pairs_out" -> pairsOut,
      "operators.pair_yield" -> (if (candidates > 0) pairsOut / candidates else 0.0),
      "operators.cc_jobs" -> jobList.count(j =>
        ccSpans.exists(sp => j.start >= sp.startMs - 1 && j.start <= sp.endMs)).toDouble,
      "jvm.gc_ms" -> (after.gcMs - before.gcMs).toDouble,
      "jvm.jit_ms" -> (after.jitMs - before.jitMs).toDouble)

    allSpans ++= s.spans
    jobList.foreach(j => allSpans += Span(s"job ${j.id}", j.start, j.end, opSpan.name, s.id))
    qeList.foreach(_.phases.foreach { case (p, (a, b)) =>
      allSpans += Span(s"catalyst.$p", a, b, opSpan.name, s.id) })
  }

  /** Pairs the verify join evaluated: for the nested-loop verify, the
    * product of its two inputs' rows; for an equi-join on shingle
    * codes, the hits it emitted. Read from the executed plan's
    * SQLMetrics. */
  private def candidatePairs(plan: SparkPlan): Double = {
    def rowsOut(p: SparkPlan): Double =
      p.metrics.get("numOutputRows").map(_.value.toDouble)
        .orElse(p.metrics.get("shuffleRecordsWritten").map(_.value.toDouble))
        .getOrElse(p.children.headOption.map(rowsOut).getOrElse(0.0))
    collectWithSubqueries(plan) {
      case j: BroadcastNestedLoopJoinExec => rowsOut(j.left) * rowsOut(j.right)
      case j: org.apache.spark.sql.execution.joins.HashJoin
          if j.leftKeys.exists(_.references.exists(_.name.contains("code"))) =>
        j.asInstanceOf[SparkPlan].metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
    }.sum
  }

  /** Self time of each interval: its length minus the time its direct
    * children cover. An interval's parent is the tightest other interval
    * that holds it, with 1 ms of slack for Spark's millisecond clock;
    * of two equal intervals the one listed first is the parent. Returns
    * the self times and the intervals no other holds. */
  private def selfTimes(iv: IndexedSeq[Span]): (IndexedSeq[Double], Seq[Int]) = {
    def holds(p: Span, c: Span) = c.startMs >= p.startMs - 1 && c.endMs <= p.endMs + 1
    val parent = iv.indices.map { i =>
      val outer = iv.indices.filter(j => j != i && holds(iv(j), iv(i)) &&
        (iv(j).ms > iv(i).ms || (iv(j).ms == iv(i).ms && j < i)))
      if (outer.isEmpty) -1 else outer.minBy(j => (iv(j).ms, -j))
    }
    val self = iv.indices.map { i =>
      val kids = iv.indices.filter(parent(_) == i)
        .map(j => (math.max(iv(j).startMs, iv(i).startMs), math.min(iv(j).endMs, iv(i).endMs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered, end = 0.0
      var first = true
      kids.foreach { case (a, b) =>
        if (first || a >= end) { covered += b - a; end = b; first = false }
        else if (b > end) { covered += b - end; end = b }
      }
      iv(i).ms - covered
    }
    (self, iv.indices.filter(parent(_) == -1))
  }

  def summary(): JMap[String, Object] = {
    val m = new JMap[String, Object]()
    val keys = perOp.headOption.map(_.keys.toSeq.sorted).getOrElse(Nil)
    val means = new JMap[String, Object]()
    keys.foreach(k => means.put(k, Double.box(perOp.map(_(k)).sum / perOp.size)))
    m.put("per_op", means)
    m.put("traced_ops", Int.box(perOp.size))
    m.put("traced_p50_ms", Double.box(Stats.median(tracedMs.map(_._2).toSeq)))
    m.put("untraced_p50_ms", Double.box(Stats.median(untracedMs.map(_._2).toSeq)))
    // traced minus untraced p50 per op kind, averaged over the kinds
    // both halves ran: comparing like with like keeps the op mix of
    // the two halves out of the estimate
    val byKind = tracedMs.map(_._1).distinct.flatMap { k =>
      val a = tracedMs.collect { case (`k`, ms) => ms }
      val b = untracedMs.collect { case (`k`, ms) => ms }
      if (b.isEmpty) None else Some(Stats.median(a.toSeq) - Stats.median(b.toSeq))
    }
    m.put("overhead_ms", Double.box(if (byKind.isEmpty) 0.0 else byKind.sum / byKind.size))
    m.put("selfcheck_max_err", Double.box(selfcheckMax))
    m
  }

  def writeSpans(p: Path): Unit = {
    val mapper = new ObjectMapper()
    val w = Files.newBufferedWriter(p)
    try allSpans.foreach { s =>
      val o = new JMap[String, Object]()
      o.put("name", s.name); o.put("start_ms", Double.box(s.startMs))
      o.put("end_ms", Double.box(s.endMs)); o.put("parent", s.parent)
      o.put("op_id", Int.box(s.opId))
      w.write(mapper.writeValueAsString(o)); w.newLine()
    } finally w.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
