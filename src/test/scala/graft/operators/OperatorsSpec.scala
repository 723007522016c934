package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.functions.GraftFunctions.register(spark)
  }

  test("asofJoin picks the latest right row at or before each left row") {
    val trades = Seq((1L, 10L, 100.0), (1L, 20L, 101.0), (2L, 15L, 50.0))
      .toDF("sym", "t", "px")
    val quotes = Seq((1L, 5L, 99.0), (1L, 10L, 99.5), (1L, 18L, 100.5),
      (2L, 99L, 49.0))
      .toDF("sym", "t", "bid")
    val out = Operators.asofJoin(trades, quotes, Seq("sym"), "t", "t")
      .orderBy("sym", "t")
      .select("sym", "t", "px", "asof_bid", "asof_t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        Option(r.get(3)), Option(r.get(4))))
    assert(out === Array(
      (1L, 10L, 100.0, Some(99.5), Some(10L)),  // equal time matches
      (1L, 20L, 101.0, Some(100.5), Some(18L)),
      (2L, 15L, 50.0, None, None)))             // no quote before → null
  }

  test("sessionize splits at gaps, increments per key") {
    val ev = Seq((1L, 0L), (1L, 100L), (1L, 5000L), (1L, 5100L), (2L, 0L))
      .toDF("uid", "t")
    val out = Operators.sessionize(ev, Seq("uid"), "t", gap = 1000L)
      .orderBy("uid", "t").select("uid", "t", "session_id")
      .as[(Long, Long, Long)].collect()
    assert(out === Array((1L, 0L, 1L), (1L, 100L, 1L), (1L, 5000L, 2L),
      (1L, 5100L, 2L), (2L, 0L, 1L)))
  }

  test("minHashPairs finds near-identical token sets, skips dissimilar") {
    val docs = Seq(
      (1L, Seq("a", "b", "c", "d", "e", "f", "g", "h")),
      (2L, Seq("a", "b", "c", "d", "e", "f", "g", "x")),   // ~0.78 jaccard vs 1
      (3L, Seq("q", "r", "s", "t", "u", "v", "w", "z")))   // disjoint
      .toDF("id", "toks")
    val pairs = Operators.minHashPairs(docs, "id", "toks", threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect()
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("Jaccard verify joins compile under whole-stage codegen (no fallback)") {
    // sorted_intersect_count over non-nullable arrays (collect_set
    // output) inside a ShuffledHashJoin condition failed to compile
    // ("isNull_0 is not an rvalue") and ran interpreted; with the
    // fallback off that compile error fails the query instead
    val docs = Seq(
      (1L, Seq("a", "b", "c", "d", "e", "f", "g", "h")),
      (2L, Seq("a", "b", "c", "d", "e", "f", "g", "x")),
      (3L, Seq("q", "r", "s", "t", "u", "v", "w", "z")))
      .toDF("id", "toks")
    val sets = Seq((1L, Seq(1L, 2L, 3L, 4L)), (2L, Seq(1L, 2L, 3L, 5L)),
      (3L, Seq(7L, 8L, 9L))).toDF("id", "cs")
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val mh = Operators.minHashPairs(docs, "id", "toks", threshold = 0.5)
        .select("a_id", "b_id").as[(Long, Long)].collect()
      assert(mh.toSeq === Seq((1L, 2L)))
      val pre = Operators.jaccardPairsPrefix(sets, "id", "cs", 0.5)
      try assert(pre.select("a_id", "b_id", "inter").as[(Long, Long, Long)]
        .collect().toSeq === Seq((1L, 2L, 3L)))
      finally Operators.releaseCheckpoints(pre)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("jaccardPairsPrefix keeps exact-threshold pairs (positional-filter rounding)") {
    // two 9-code sets sharing exactly their 3 LAST-sorted codes:
    // Jaccard = 3/15 = 0.2 = τ. τ/(1+τ) rounds UP in double for τ=0.2
    // (0.1666…69·18 = 3.0000000000000004 → ceil 4 without the epsilon
    // nudge), which silently dropped this boundary pair in the join.
    val sets = Seq(
      (1L, (1L to 6L) ++ Seq(100L, 101L, 102L)),
      (2L, (10L to 15L) ++ Seq(100L, 101L, 102L))
    ).toDF("id", "cs")
    val out = Operators.jaccardPairsPrefix(sets, "id", "cs", 0.2)
      .select("a_id", "b_id", "inter", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out === Array((1L, 2L, 3L, 0.2)))
    // τ=0.55 boundary: |a|=100, b = a's last 55 codes → J = 55/100 =
    // 0.55 exactly. 100·0.55 = 55.000000000000006 in double: without
    // the epsilon the LENGTH filter rejects the pair and the PREFIX
    // ceil shortens a's indexed prefix below the shared suffix.
    val a100 = (1L to 100L).toArray
    val sets2 = Seq((10L, a100), (20L, a100.takeRight(55))).toDF("id", "cs")
    val out2 = Operators.jaccardPairsPrefix(sets2, "id", "cs", 0.55)
      .select("a_id", "b_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out2 === Array((10L, 20L, 0.55)))
  }

  test("jaccardPairsAuto dense route: bitmap verify ≡ merge-walk verify") {
    // a deliberately dense corpus (hot 40-code vocabulary, 60 docs)
    // that routes dense; run the branch twice — bitmap enabled
    // (default) and disabled (bitmapMaxVocab = 0) — and require
    // BIT-IDENTICAL output incl. the jaccard doubles. Covers boundary
    // pairs (identical sets, disjoint sets, exact-threshold overlaps).
    val rnd = new scala.util.Random(7)
    val docs = (1L to 60L).map { id =>
      val base = (0 until 12).map(_ => rnd.nextInt(40).toLong + 100)
      (id, base.distinct.sorted.toArray)
    } ++ Seq((200L, Array(100L, 101L, 102L)), (201L, Array(100L, 101L, 102L)),
      (202L, Array(900L)), (203L, Array(901L)))
    val df = docs.toDF("id", "cs")
    def run(vmax: Int) = Operators.jaccardPairsAuto(
        df, "id", "cs", 0.2, bitmapMaxVocab = vmax)
      .select("a_id", "b_id", "inter", "jaccard")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(p => (p._1, p._2))
    val bm = run(32768)
    val mw = run(0)
    assert(bm.nonEmpty && bm === mw)
  }

  test("dense route bitmap verify is null-safe (null set / null element)") {
    // r18 ADVICE: a null code-set array (or a null element) must
    // exclude its pairs — the merge-walk's nullSafeEval verdict — not
    // NPE the whole query when the bitmap branch is selected
    val rnd = new scala.util.Random(11)
    val base = (1L to 60L).map { id =>
      val cs = (0 until 12).map(_ => rnd.nextInt(40).toLong + 100)
        .distinct.sorted.map(java.lang.Long.valueOf).toArray
      (id, cs)
    }
    val withNulls = base ++ Seq(
      (500L, null: Array[java.lang.Long]),
      (501L, Array[java.lang.Long](100L, null, 102L)))
    def run(docs: Seq[(Long, Array[java.lang.Long])]) =
      Operators.jaccardPairsAuto(
        docs.toDF("id", "cs"), "id", "cs", 0.2, bitmapMaxVocab = 32768)
      .select("a_id", "b_id", "inter", "jaccard")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(p => (p._1, p._2))
    // null docs pair with nothing; every clean pair is unchanged
    assert(run(withNulls) === run(base))
  }

  test("connectedComponents labels every node with its component min (both paths)") {
    // two components {1,2,3,4} (chain) and {10,11}; 20 isolated via self-pair
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L))
      .toDF("a", "b")
    val expected = Array((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L), (20L, 20L))
    // driver union-find fast path
    val fast = Operators.connectedComponents(edges, "a", "b")
      .orderBy("id").as[(Long, Long)].collect()
    assert(fast === expected)
    // distributed label-propagation path (cutoff forced to 0)
    val dist = Operators.connectedComponents(edges, "a", "b",
      driverFastPathMaxEdges = 0L)
      .orderBy("id").as[(Long, Long)].collect()
    assert(dist === expected)
  }

  test("rangeJoin matches the naive theta join and plans an equi-join") {
    val pts = Seq((1L, 3L), (2L, 10L), (3L, 17L), (4L, 25L), (5L, 99L))
      .toDF("pid", "pt")
    val iv = Seq((100L, 0L, 11L), (200L, 9L, 20L), (300L, 25L, 26L),
      (400L, 50L, 50L)) // empty interval: must match nothing
      .toDF("iid", "lo", "hi")
    val got = Operators.rangeJoin(pts, "pt", iv, "lo", "hi", binWidth = 4L)
      .select("pid", "iid").as[(Long, Long)].collect().sorted
    val want = pts.as("p").join(iv.as("i"),
        col("pt") >= col("lo") && col("pt") < col("hi"))
      .select("pid", "iid").as[(Long, Long)].collect().sorted
    assert(got === want)
    assert(got === Array((1L, 100L), (2L, 100L), (2L, 200L), (3L, 200L),
      (4L, 300L)))
    // the point of the operator: a hash/sort-merge EQUI-join on the bin,
    // never a nested-loop/cartesian plan
    val plan = Operators.rangeJoin(pts, "pt", iv, "lo", "hi", 4L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"))
  }

  test("groupedRank equals the window row_number, at full parallelism") {
    val df = (0 until 5000).map { i =>
      (s"g${i % 3}", (i * 37) % 1000, i.toLong) // non-unique order values
    }.toDF("g", "v", "id").repartition(11)
    val got = Operators.groupedRank(df, Seq("g"), Seq("v", "id"))
      .select("g", "id", "rn").as[(String, Long, Long)].collect().sorted
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v"), col("id"))
    val want = df.withColumn("rn", row_number().over(w).cast("long"))
      .select("g", "id", "rn").as[(String, Long, Long)].collect().sorted
    assert(got === want)
    // determinism under a different input partitioning
    val again = Operators.groupedRank(df.repartition(3), Seq("g"), Seq("v", "id"))
      .select("g", "id", "rn").as[(String, Long, Long)].collect().sorted
    assert(again === got)
  }

  test("rankAndCountByGroup: both regimes agree, and the switch routes by size") {
    val df = (0 until 6000).map { i =>
      // one huge group (5k rows), two small ones — the few-huge-groups
      // percentile shape the size switch exists for
      (if (i < 5000) "big" else s"g${i % 2}", (i * 37) % 997, i.toLong)
    }.toDF("g", "v", "id").repartition(7)
    def run(threshold: Long) =
      Operators.rankAndCountByGroup(df, Seq("g"), Seq("v", "id"),
        maxGroupRows = threshold)
        .select("g", "id", "rn", "n").as[(String, Long, Long, Long)]
        .collect().sorted
    val windowed = run(Long.MaxValue) // window regime
    val routed = run(1L) // forced groupedRank regime
    assert(windowed === routed)
    // counts ride along correctly in both
    assert(windowed.filter(_._1 == "big").map(_._4).distinct === Array(5000L))
    // the distributed regime's plan range-partitions; the window one doesn't
    def planOf(threshold: Long) = Operators.rankAndCountByGroup(
      df, Seq("g"), Seq("v", "id"), maxGroupRows = threshold)
      .queryExecution.executedPlan.toString
    // (the range repartition runs eagerly behind groupedRank's
    // localCheckpoint, so the final plan shows its __pid slice column)
    assert(planOf(1L).contains("__pid"))
    assert(!planOf(Long.MaxValue).contains("__pid"))
    // empty input: no rank job, empty result with the contract columns
    val empty = Operators.rankAndCountByGroup(df.filter(lit(false)),
      Seq("g"), Seq("v", "id"))
    assert(empty.count() === 0L)
    assert(Seq("rn", "n").forall(empty.columns.contains))
    // null group keys form a group (window semantics) — the count join
    // must be null-safe, not an equi-join that silently drops them
    val withNull = Seq((null.asInstanceOf[String], 1, 1L),
      (null.asInstanceOf[String], 2, 2L), ("a", 3, 3L))
      .toDF("g", "v", "id")
    val nulled = Operators.rankAndCountByGroup(withNull, Seq("g"),
      Seq("v", "id")).select("id", "rn", "n")
      .as[(Long, Long, Long)].collect().sorted
    assert(nulled === Array((1L, 1L, 2L), (2L, 2L, 2L), (3L, 1L, 1L)))
  }

  test("packSequences fills bins greedily in order, per partition key") {
    val docs = Seq(
      ("a", 1L, 600L), ("a", 2L, 500L), ("a", 3L, 400L), ("a", 4L, 300L),
      ("b", 1L, 1000L), ("b", 2L, 100L))
      .toDF("src", "id", "toks")
    val out = Operators.packSequences(docs, Seq("src"), "id", "toks", 1000L)
      .select("src", "id", "bin").as[(String, Long, Long)].collect().sorted
    // a: cum-before = 0, 600, 1100, 1500 → bins 0, 0, 1, 1
    // b: cum-before = 0, 1000 → bins 0, 1
    assert(out === Array(("a", 1L, 0L), ("a", 2L, 0L), ("a", 3L, 1L),
      ("a", 4L, 1L), ("b", 1L, 0L), ("b", 2L, 1L)))
  }

  test("hashSample is deterministic, repartition-invariant, and weighted") {
    val df = (0 until 2000).map(i => (i.toLong, s"s${i % 2}")).toDF("id", "src")
    val key = concat(col("src"), lit(":"), col("id").cast("string"))
    val kept1 = Operators.hashSample(df, key, lit(500))
      .select("id").as[Long].collect().sorted
    val kept2 = Operators.hashSample(df.repartition(7), key, lit(500))
      .select("id").as[Long].collect().sorted
    assert(kept1 === kept2) // same subset regardless of run/partitioning
    assert(math.abs(kept1.length - 1000) < 150) // ~50% rate
    // per-row rate column: src-dependent weights realize different rates
    val rates = Operators.hashSample(df, key,
        when(col("src") === "s0", 900).otherwise(100))
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(rates("s0") > 800 && rates("s1") < 200)
  }

  test("topKPerGroup returns exactly k ranked rows per group") {
    val df = (1 to 100).map(i => (i % 4, i)).toDF("g", "v")
    val out = Operators.topKPerGroup(df, Seq("g"), Seq(col("v").desc), 3)
    assert(out.count() === 12)
    assert(out.filter(col("g") === 0).orderBy(col("rank"))
      .select("v").as[Int].collect() === Array(100, 96, 92))
  }

  test("globalRank matches a global window without a single-partition exchange") {
    val df = (1 to 997).map(i => ((i * 7919) % 1000, i.toLong)).toDF("v", "id")
    val (ranked, n) = Operators.globalRank(df, Seq("v", "id"), "r")
    assert(n === 997L)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"), col("id"))
    val expected = df.withColumn("r", row_number().over(w).cast("long"))
      .orderBy("r").as[(Int, Long, Long)].collect()
    assert(ranked.orderBy("r").as[(Int, Long, Long)].collect() === expected)
    // the operator's own plan never funnels data through one partition
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), plan.take(2000))
  }

  test("ntileFromRank reproduces SQL ntile bucket sizes, incl. uneven split") {
    val df = (1 to 10).map(i => (i, i.toLong)).toDF("v", "id")
    val (ranked, n) = Operators.globalRank(df, Seq("v", "id"), "r")
    val tiles = ranked.withColumn("t", Operators.ntileFromRank("r", n, 3))
      .orderBy("r").select("t").as[Int].collect()
    // ntile(3) over 10 rows: buckets of 4, 3, 3
    assert(tiles === Array(1, 1, 1, 1, 2, 2, 2, 3, 3, 3))
    // k > N: each row its own bucket
    val (r2, n2) = Operators.globalRank(df.limit(2), Seq("v", "id"), "r")
    assert(r2.withColumn("t", Operators.ntileFromRank("r", n2, 5))
      .orderBy("r").select("t").as[Int].collect() === Array(1, 2))
  }

  test("piiScrub counts and redacts realistic spans; no-shuffle plan") {
    val df = Seq(
      (1L, "mail me at jane.doe+spam@sub.example.co.uk or call +1-415-555-0199"),
      (2L, "two mails a@b.io c.d@e.org and server 192.168.0.1"),
      (3L, "clean text with version 1.2 and price $3.50"),
      (4L, "10.0.0.1 leads; trailing mail x@y.zz")
    ).toDF("id", "text")
    val out = Operators.piiScrub(df, "text")
      .select("id", "n_emails", "n_phones", "n_ips", "scrubbed")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 1L, 1L, 0L,
      "mail me at <EMAIL> or call <PHONE>")))
    assert(out(1) === ((2L, 2L, 0L, 1L, "two mails <EMAIL> <EMAIL> and server <IP>")))
    // dotted version/price numbers must NOT look like IPs (2 groups, not 4)
    assert(out(2) === ((3L, 0L, 0L, 0L, "clean text with version 1.2 and price $3.50")))
    assert(out(3) === ((4L, 1L, 0L, 1L, "<IP> leads; trailing mail <EMAIL>")))
    // narrow shape: no exchange anywhere in the scrub plan
    val plan = Operators.piiScrub(df, "text").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("approxNtile buckets are monotone and near-even") {
    val df = (1 to 4000).map(i => ((i * 7919) % 4096).toDouble).toDF("x")
    val out = Operators.approxNtile(df, "x", 4)
    // monotone in x
    val byTile = out.groupBy("tile")
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"), count(lit(1)).as("n"))
      .orderBy("tile").as[(Int, Double, Double, Long)].collect()
    assert(byTile.map(_._1) === Array(1, 2, 3, 4))
    byTile.sliding(2).foreach { case Array(a, b) => assert(a._3 <= b._2) }
    // near-even: each bucket within 15% of N/k
    byTile.foreach(t => assert(math.abs(t._4 - 1000) < 150, t))
  }
}
