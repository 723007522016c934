package graft.operators

import java.util.concurrent.atomic.AtomicInteger
import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-call Spark-job floor and checkpoint lifetime of the dedup
  * operators. A dedup batch of a few hundred documents is dominated by
  * per-job scheduling, so every operator call materializes and counts
  * its input once. The prefix-route bound is the measured count (9)
  * plus one for AQE drift, the lenience StatementJobFloorSpec uses;
  * the edge-list bounds are structural and exact. */
class OperatorJobFloorSpec extends SparkSpec {
  import spark.implicits._
  graft.functions.GraftFunctions.register(spark)

  // sorted distinct code-sets over a cold vocabulary (routes prefix);
  // every doc ≡ 1 (mod 10) repeats its predecessor but for one code
  private def sparseSets(nDocs: Int): Seq[(Long, Seq[Long])] = {
    def base(i: Int): Seq[Long] = (0 until 24)
      .map(j => (i * 131L + j * 31L + (i + j) * (i + j)) % 100000)
      .distinct.take(8).sorted
    (0 until nDocs).map { i =>
      (i.toLong, if (i % 10 == 1) (base(i - 1).init :+ (200000L + i)).sorted
                 else base(i))
    }
  }
  private def sparse(nDocs: Int): DataFrame = sparseSets(nDocs).toDF("doc_id", "cs")

  /** Events `listen` counts while `body` runs (as StatementJobFloorSpec:
    * a short sleep lets the bus drain). */
  private def counted[T](listen: AtomicInteger => SparkListener)(
      body: => T): (T, Int) = {
    val n = new AtomicInteger(0)
    val listener = listen(n)
    Thread.sleep(200)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Thread.sleep(200)
      (out, n.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def jobsOf[T](body: => T): (T, Int) = counted(n => new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
  })(body)

  private def cachedRdds(): Set[Int] =
    spark.sparkContext.getRDDStorageInfo.filter(_.isCached).map(_.id).toSet

  /** RDD ids cached since `before` once async unpersists settle. */
  private def leftover(before: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var left = cachedRdds() -- before
    while (left.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50); left = cachedRdds() -- before
    }
    left
  }

  test("jaccardPairsAuto prefix route plus collect stays under its job bound") {
    val cs = sparse(160)
    val plan = Operators.jaccardPairsAuto(cs, "doc_id", "cs", 0.5)
    assert(!plan.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"), "fixture did not route prefix")
    Operators.releaseCheckpoints(plan)
    val (pairs, jobs) = jobsOf {
      val found = Operators.jaccardPairsAuto(cs, "doc_id", "cs", 0.5)
      try found.select("a_id", "b_id").as[(Long, Long)].collect().toSet
      finally Operators.releaseCheckpoints(found)
    }
    val docs = sparseSets(160)
    val brute = (for {
      (a, sa) <- docs; (b, sb) <- docs if a < b
      inter = sa.intersect(sb).size
      if inter.toDouble / (sa.size + sb.size - inter) >= 0.5
    } yield (a, b)).toSet
    assert(brute.size === 16 && pairs === brute)
    assert(jobs <= 10, s"prefix-route jaccardPairsAuto + collect ran $jobs jobs")
  }

  test("releaseCheckpoints frees each checkpoint RDD once") {
    // a prefix-route result reads its one checkpoint from four leaves
    // (the candidate self-join's two sides and the two verify sides)
    val found = Operators.jaccardPairsAuto(sparse(160), "doc_id", "cs", 0.5)
    found.collect()
    val leaves = found.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    assert(leaves.size > leaves.distinct.size, "fixture shares no checkpoint")
    val (_, unpersists) = counted(n => new SparkListener {
      override def onUnpersistRDD(u: SparkListenerUnpersistRDD): Unit =
        n.incrementAndGet()
    })(Operators.releaseCheckpoints(found))
    assert(unpersists === 1)
  }

  test("connectedComponents: 0 jobs on a local edge list, 2 otherwise") {
    val expected = Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
    val local = Seq((1L, 2L), (3L, 2L), (11L, 10L)).toDF("a", "b")
    val (got, jobs) = jobsOf(
      Operators.connectedComponents(local, "a", "b").as[(Long, Long)].collect())
    assert(got.toSet === expected)
    assert(jobs === 0, s"local edge list ran $jobs jobs")
    // shuffle-free but not local: a count job and a collect job
    val remote = spark.sparkContext
      .parallelize(Seq((1L, 2L), (3L, 2L), (11L, 10L)), 2).toDF("a", "b")
    val (got2, jobs2) = jobsOf(
      Operators.connectedComponents(remote, "a", "b").as[(Long, Long)].collect())
    assert(got2.toSet === expected)
    assert(jobs2 <= 2, s"non-local edge list ran $jobs2 jobs")
  }

  test("each operator call evaluates its upstream once") {
    val rows = spark.sparkContext.longAccumulator("upstream rows")
    val tap = udf((cs: Seq[Long]) => { rows.add(1); cs }).asNondeterministic()
    val cs = sparse(160).select(col("doc_id"), tap(col("cs")).as("cs"))
    val found = Operators.jaccardPairsAuto(cs, "doc_id", "cs", 0.5)
    found.collect()
    Operators.releaseCheckpoints(found)
    assert(rows.sum === 160L, "jaccardPairsAuto re-evaluated its input")
    rows.reset()
    val edges = spark.sparkContext.parallelize((1L to 16L).map(i => (i, i + 1)), 2)
      .toDF("a", "b").select(col("a"), tap(array(col("b")))(0).as("b"))
    Operators.connectedComponents(edges, "a", "b").collect()
    assert(rows.sum === 16L, "connectedComponents re-evaluated its input")
  }

  test("no checkpoint blocks outlive a released result or a driver-path cc") {
    val before = cachedRdds()
    for (n <- Seq(160, 9000)) { // below and above the re-rank crossover
      val found = Operators.jaccardPairsAuto(sparse(n), "doc_id", "cs", 0.5,
        denseMaxDocs = 0)
      assert(found.count() >= n / 10)
      Operators.releaseCheckpoints(found)
      assert(leftover(before).isEmpty, s"n=$n: blocks left after release")
    }
    val edges = spark.range(0, 40).select(col("id").as("a"), (col("id") / 2).cast("long").as("b"))
    Operators.connectedComponents(edges, "a", "b").collect()
    assert(leftover(before).isEmpty, "driver-path connectedComponents left blocks")
  }
}
