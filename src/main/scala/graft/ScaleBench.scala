package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence harness for the dedup/ANN family (round-9 verdict
  * item 6): runs the production-path operators over synthetically
  * scaled corpora and prints wall time, output size, and the
  * THEORETICAL candidate masses per scale factor, so the 100-TB
  * "sub-quadratic" verdicts rest on measured growth curves instead of
  * argument. The measured regimes are tabulated in docs/SCALE.md.
  *
  * Corpus construction: the sf documents/embeddings replicated
  * `factor`× with disjoint id ranges; replica r ≥ 1 perturbs content
  * deterministically — ~1/7 of words rewritten (hash-salted by r) so
  * replicas are NEAR-duplicates of their originals (Jaccard ≈ 0.6 on
  * bigram shingles), and embeddings get ±1.5% per-dim hash noise
  * (cosine ≈ 0.997 to the original). That is the shape a real dedup
  * workload scales with: both fresh mass AND duplicate mass grow.
  *
  * Measured per factor:
  *  - mass line: n, brute n(n-1)/2, the ppjoin prefix-filter candidate
  *    mass at τ=0.5 (Σ df² over indexed prefixes — what the inverted
  *    index would materialize), and the LSH band-bucket pair mass
  *    (Σ s(s-1)/2 over (band, v) buckets — what the banded join
  *    materializes before verify).
  *  - lsh_pairs: MinHash 8-perm / 4-band candidate join + exact verify
  *    (q63's shape) — the headline sub-quadratic dedup path.
  *  - ppjoin05: prefix-filtered exact Jaccard τ=0.5 (q89).
  *  - clusters05: density-routed pairs τ=0.5 → connected components
  *    (q69's graph).
  *  - jacc_auto008 (factors ≤ 2 only): the q61/q66 dense regime — the
  *    router's broadcast pair scan is deliberately O(n²) where the
  *    measured Σ df² exceeds it; its curve documents WHY LSH is the
  *    scale path, and capping the factor keeps the run bounded.
  *  - cos_pruned04 / emb_clusters: metric-pruned exact cosine pairs
  *    (q95) and components over them (q91's result on the scale path).
  */
object ScaleBench {
  /** Per-round scale-TREND measurement (r17 verdict #6): the three
    * priciest data operators' SCALE PATHS at corpus factors
    * {1, `factor`}, returning a compact artifact line Bench emits in
    * its tail — so every BENCH_r carries a MEASURED growth ratio
    * instead of SCALE.md's argued one. The dedup entry runs q63's
    * banded-LSH shape, not q61's jaccardPairsAuto: at this corpus's
    * density the auto router DELIBERATELY picks the broadcast pair
    * scan (Σ df² exceeds brute — measured 31× at 4× data, exactly the
    * O(n²) its scaladoc declares), and SURVEY/SCALE.md name LSH as
    * the dedup path that survives 100 TB. The trend line measures
    * whether the paths you'd RUN at scale track data growth.
    *
    * Corpus: DISJOINT replicas, unlike main()'s near-dup replicas.
    * Every word of replica r ≥ 1 is rewritten under salt r (not 1/7
    * of them), and embeddings get a per-replica SIGN REFLECTION
    * (norms and within-replica angles exactly preserved; cross-replica
    * sims collapse toward 0 in 64 dims). Each replica's pair
    * structure is therefore isomorphic to factor 1 and the TRUE
    * output/duplicate mass grows linearly with the factor — the right
    * denominator for a "wall time tracks data" claim. main()'s
    * near-dup corpus deliberately grows duplicate mass quadratically
    * (that is what its curves study) and would conflate output growth
    * with engine overhead here.
    *
    * q95 runs the operator's own auto sizing both factors (r18:
    * k = n/64 bounded cells + 48·k sample-fit + two-level assignment
    * — candidate mass linear in n where the old √n sizing gave
    * n^1.5; a fixed k=8 degrades by construction as n quadruples,
    * and main()'s factor-20 block already measures that crossover).
    * Shingling/checkpoint prep is pinned OUTSIDE the
    * timed window: the trend isolates the operator, the per-query
    * bench lines already carry end-to-end cost. */
  def trend(spark: SparkSession, sfDir: String, factor: Int = 4): String = {
    import graft.operators.{Operators, SimilarityOps}
    val docs0 = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val embs0 = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val idOff = 10000000L
    def docsAt(f: Int): DataFrame = (0 until f).map { r =>
      if (r == 0) docs0
      else docs0.select((col("doc_id") + lit(r * idOff)).as("doc_id"),
        expr(s"array_join(transform(split(text, ' '), w -> " +
          s"concat('w$r', abs(hash(w, $r)))), ' ')").as("text"))
    }.reduce(_.unionByName(_))
    // CLUSTERED embedding base (r18): the raw testdata vectors are
    // isotropic on the unit sphere (measured: cross-sims centered at
    // 0, p99 = 0.29), where NO exact metric pruner can beat brute
    // force at τ=0.4 — every cell radius covers the sphere, all cell
    // pairs are admissible (measured: 15625/15625), and the "trend"
    // would just time an n² verify at every sizing. Real embedding
    // corpora cluster; ±3σ/dim hash-derived centers over ~128-point
    // latent clusters give within-cluster cos ≈ 0.9 and cross ≈ 0 —
    // the regime the pruned operator is BUILT for, with output and
    // candidate mass both linear in n by construction.
    lazy val nClusters = math.max(4, (embs0.count() / 128L).toInt)
    def embsAt(f: Int): DataFrame = (0 until f).map { r =>
      val base = embs0.select(col("vec_id"), expr(
        s"transform(embedding, (v, i) -> CAST(v + (CASE WHEN " +
          s"pmod(hash(pmod(hash(vec_id), $nClusters), i), 2) = 0 " +
          s"THEN 0.375e0 ELSE -0.375e0 END) AS FLOAT))").as("embedding"))
      if (r == 0) base
      else base.select((col("vec_id") + lit(r * idOff)).as("vec_id"),
        expr(s"transform(embedding, (v, i) -> CAST(CASE WHEN " +
          s"pmod(hash(i, $r), 2) = 0 THEN v ELSE -v END AS FLOAT))")
          .as("embedding"))
    }.reduce(_.unionByName(_))
    def time(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      math.round((System.nanoTime() - t0) / 1e7) / 100.0
    }
    def fmt(v: Double): String = {
      val s = (math.round(v * 100) / 100.0).toString
      if (s.endsWith(".0")) s.dropRight(2) else s
    }
    /** q63's banded-LSH shape over code sets: banded candidates +
      * exact sorted_intersect_count verify at τ=0.5. */
    def lsh(cs: DataFrame): DataFrame = {
      val bands = Operators.minHashBands(cs, "doc_id", "cs")
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.v") === col("y.v") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
        .join(cs.select(col("doc_id").as("a_id"), col("cs").as("ca"))
          .hint("shuffle_hash"), "a_id")
        .join(cs.select(col("doc_id").as("b_id"), col("cs").as("cb"))
          .hint("shuffle_hash"), "b_id")
        .withColumn("inter", expr("sorted_intersect_count(ca, cb)"))
        .withColumn("jaccard", col("inter").cast("double") /
          (size(col("ca")) + size(col("cb")) - col("inter")))
        .filter(col("jaccard") >= 0.5)
    }
    // warmup discipline (r18): trend() runs at the END of a 120-query
    // bench epoch, where these three operators' codegen/JIT paths are
    // cold and executor heaps carry residue — measured UNwarmed, the
    // factor-1 runs absorbed one-time costs so factor 4 timed FASTER
    // than factor 1 (63: 3.12→1.78), i.e. pure noise where the line
    // must prove scaling. One untimed factor-1 pass first pins JIT +
    // codegen caches, so both timed factors measure the operator.
    val factorRuns = Seq(-1, 1, factor)
    val out = factorRuns.map { f0 =>
      val f = math.abs(f0)
      val cs = docsAt(f).select(col("doc_id"),
        expr("shingle_code_set(text)").as("cs")).localCheckpoint(true)
      val embs = embsAt(f).localCheckpoint(true)
      val t63 = time(lsh(cs))
      val t89 = time(Operators.jaccardPairsPrefix(cs, "doc_id", "cs", 0.5))
      // k = 0: the operator's own auto sizing (n/64 bounded cells +
      // sample-fit + two-level assignment) IS the scale path the
      // trend line must measure. τ = 0.85, the near-dup regime the
      // operator exists for: the admission bound is
      // √(2−2τ) = 0.55, so near-orthogonal clusters (cdist ≈ √2)
      // PRUNE — at q95's gate threshold 0.4 the bound is 1.095 and
      // the triangle inequality cannot separate orthogonal clusters
      // at all (measured: 13606/15625 cell pairs admissible,
      // candidates = n²/2 — timing brute force at every sizing).
      val t95 = time(SimilarityOps.exactCosinePairsPruned(
        embs, "vec_id", "embedding", threshold = 0.85, k = 0, iters = 2))
      cs.unpersist(blocking = false)
      embs.unpersist(blocking = false)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      (t63, t89, t95)
    }.drop(1) // the warmup pass is not a sample
    val (f1, fN) = (out.head, out.last)
    s"63:${fmt(f1._1)}/${fmt(fN._1)} 89:${fmt(f1._2)}/${fmt(fN._2)} " +
      s"95:${fmt(f1._3)}/${fmt(fN._3)}"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // `f20` runs ONLY the trailing factor-20 block (extending an
    // existing curve without re-measuring factors 1–10); `f20cos`
    // further restricts it to the embedding op — ppjoin's ~1e9
    // survivor spills at this factor want the disk to themselves
    val f20Only = args.sameElements(Array("f20"))
    val f20Cos = args.sameElements(Array("f20cos"))
    val factors =
      if (f20Only || f20Cos) Seq.empty
      else if (args.nonEmpty) args.toSeq.map(_.toInt)
      else Seq(1, 2, 5, 10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.configure(spark)
    graft.functions.GraftFunctions.register(spark)

    val docs0 = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val embs0 = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val idOff = 10000000L

    def scaledDocs(f: Int): DataFrame = (0 until f).map { r =>
      if (r == 0) docs0
      else docs0.select((col("doc_id") + lit(r * idOff)).as("doc_id"),
        expr(s"array_join(transform(split(text, ' '), w -> " +
          s"CASE WHEN pmod(hash(w, $r), 7) = 0 " +
          s"THEN concat('w', abs(hash(w, $r))) ELSE w END), ' ')").as("text"))
    }.reduce(_.unionByName(_))

    def scaledEmbs(f: Int): DataFrame = (0 until f).map { r =>
      if (r == 0) embs0
      else embs0.select((col("vec_id") + lit(r * idOff)).as("vec_id"),
        expr(s"transform(embedding, (v, i) -> CAST(v + 0.015e0 * " +
          s"(pmod(hash(vec_id, i, $r), 101) - 50) / 50.0e0 AS FLOAT))")
          .as("embedding"))
    }.reduce(_.unionByName(_))

    // NO blanket unpersist between ops: the scaled inputs are
    // localCheckpoint-pinned and must survive the whole factor;
    // operator-internal checkpoints leak until the factor ends, which
    // this corpus size affords
    def timed(tag: String, f: Int)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = df.count()
      // Double.toString (locale-safe), not %f (default-locale commas)
      val dt = math.round((System.nanoTime() - t0) / 1e7) / 100.0
      println(s"""{"op":"$tag","factor":$f,"rows":$n,"sec":$dt}""")
    }

    import graft.operators.{Operators, SimilarityOps}

    /** q63's LSH shape: banded candidates + exact verify at τ=0.5. */
    def lshPairs(cs: DataFrame): DataFrame = {
      val bands = Operators.minHashBands(cs, "doc_id", "cs")
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.v") === col("y.v") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
      cand
        .join(cs.select(col("doc_id").as("a_id"), col("cs").as("ca"))
          .hint("shuffle_hash"), "a_id")
        .join(cs.select(col("doc_id").as("b_id"), col("cs").as("cb"))
          .hint("shuffle_hash"), "b_id")
        .withColumn("inter", expr("sorted_intersect_count(ca, cb)"))
        .withColumn("jaccard", col("inter").cast("double") /
          (size(col("ca")) + size(col("cb")) - col("inter")))
        .filter(col("jaccard") >= 0.5)
    }

    factors.foreach { f =>
      val docs = scaledDocs(f).localCheckpoint(true)
      val cs = docs.select(col("doc_id"),
        expr("shingle_code_set(text)").as("cs")).localCheckpoint(true)
      val n = cs.count()

      // theoretical candidate masses — what each strategy would verify
      val sets = cs.select(col("doc_id").as("__id"), col("cs").as("__cs"),
        size(col("cs")).as("__len"))
      val prefixMass = Operators.prefixCandidateMass(sets, 0.5)
      // round-10: the POST-filter survivor count too — the pairs that
      // actually reach verify after the in-join length/positional
      // conjuncts, vs the Σ df² upper bound above. Round-13 adds the
      // DF-ORDERED survivor count — the mass the production path
      // (canonical frequency order) actually materializes.
      val survivors = Operators.prefixSurvivorCount(sets, 0.5)
      val survDford = Operators.prefixSurvivorCount(
        Operators.freqRankedSets(cs, "doc_id", "cs"), 0.5)
      val lshMass = Operators.minHashBands(cs, "doc_id", "cs")
        .groupBy(col("band"), col("v")).count()
        .agg(sum(expr("count * (count - 1) / 2")).cast("long")).collect()(0)
        .getLong(0)
      println(s"""{"op":"mass","factor":$f,"n":$n,"brute":${n * (n - 1) / 2},""" +
        s""""prefix05":$prefixMass,"prefix05_survivors":$survivors,""" +
        s""""survivors_dford":$survDford,"lsh_buckets":$lshMass}""")

      timed("lsh_pairs", f)(lshPairs(cs))
      timed("ppjoin05", f)(
        Operators.jaccardPairsPrefix(cs, "doc_id", "cs", 0.5))
      timed("clusters05", f)(
        Operators.connectedComponents(
          Operators.jaccardPairsAuto(cs, "doc_id", "cs", 0.5)
            .select(col("a_id"), col("b_id")),
          "a_id", "b_id", maxIter = 50))
      if (f <= 2)
        timed("jacc_auto008", f)(
          Operators.jaccardPairsAuto(cs, "doc_id", "cs", 0.08))

      val embs = scaledEmbs(f).localCheckpoint(true)
      timed("cos_pruned04", f)(
        SimilarityOps.exactCosinePairsPruned(
          embs, "vec_id", "embedding", threshold = 0.4, k = 8, iters = 2))
      // round-10: the same operator with cells RETUNED per factor —
      // k ≈ √n (the standard IVF sizing) instead of the fixed 8 the
      // fixed-k curve pays for at 10×; the delta is what per-scale
      // tuning buys
      val nEmb = embs.count()
      val kTuned = math.max(8, math.round(math.sqrt(nEmb.toDouble)).toInt)
      timed(s"cos_pruned04_k$kTuned", f)(
        SimilarityOps.exactCosinePairsPruned(
          embs, "vec_id", "embedding", threshold = 0.4, k = kTuned, iters = 2))
      timed("emb_clusters", f)(
        Operators.connectedComponents(
          SimilarityOps.exactCosinePairsPruned(
            embs, "vec_id", "embedding", threshold = 0.4, k = 8, iters = 2)
            .select(col("a_id"), col("b_id")),
          "a_id", "b_id", maxIter = 50))
    }

    // round-10 added one factor-20 point for the headline LSH path;
    // round-11 verdict asked the SAME doubling for the two remaining
    // curves — ppjoin (with its survivor mass, the quantity its wall
    // time tracks) and the fixed-k pruned-cosine path — so every
    // 100-TB extrapolation (docs/SCALE.md) rests on a measured
    // factor-20 point, not a 10× curve extended by argument.
    if (args.isEmpty || f20Only || f20Cos) {
      val f = 20
      if (!f20Cos) {
        val cs = scaledDocs(f).select(col("doc_id"),
          expr("shingle_code_set(text)").as("cs")).localCheckpoint(true)
        val n = cs.count()
        val sets = cs.select(col("doc_id").as("__id"), col("cs").as("__cs"),
          size(col("cs")).as("__len"))
        val prefixMass = Operators.prefixCandidateMass(sets, 0.5)
        val survivors = Operators.prefixSurvivorCount(sets, 0.5)
        val survDford = Operators.prefixSurvivorCount(
          Operators.freqRankedSets(cs, "doc_id", "cs"), 0.5)
        val lshMass = Operators.minHashBands(cs, "doc_id", "cs")
          .groupBy(col("band"), col("v")).count()
          .agg(sum(expr("count * (count - 1) / 2")).cast("long")).collect()(0)
          .getLong(0)
        println(s"""{"op":"mass","factor":$f,"n":$n,"brute":${n * (n - 1) / 2},""" +
          s""""prefix05":$prefixMass,"prefix05_survivors":$survivors,""" +
          s""""survivors_dford":$survDford,"lsh_buckets":$lshMass}""")
        timed("lsh_pairs", f)(lshPairs(cs))
        timed("ppjoin05", f)(
          Operators.jaccardPairsPrefix(cs, "doc_id", "cs", 0.5))
      }
      // fixed k=8 hits its spill wall HERE (measured, round 12): at
      // n=40k the 8 centroids stop separating the replica clusters,
      // every cell pair becomes admissible and verify goes quadratic
      // with ~1 KB pair rows — the exact crossover round 10 predicted
      // ("retuning matters when cells stop fitting executor memory").
      // The factor-20 point therefore measures the √n-retuned tier,
      // which IS the operator's scale path at this size.
      val embs = scaledEmbs(f).localCheckpoint(true)
      val nEmb = embs.count()
      val kT = math.max(8, math.round(math.sqrt(nEmb.toDouble)).toInt)
      timed(s"cos_pruned04_k$kT", f)(
        SimilarityOps.exactCosinePairsPruned(
          embs, "vec_id", "embedding", threshold = 0.4, k = kT, iters = 2))
    }
    spark.stop()
  }
}
