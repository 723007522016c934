package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector-similarity operators beyond the query pack: k-means training
  * for IVF cells (q73 uses deterministic stand-in centroids; this is
  * the real trainer a production index builds with).
  *
  * Everything is expression-based — the per-row argmin over centroids
  * compiles to k codegen'd [[graft.functions.VecDot]] calls plus an
  * array_min over (distance, index) structs, so assignment stays inside
  * whole-stage codegen with no UDF and no shuffle. Requires
  * [[graft.functions.GraftFunctions.register]].
  */
object SimilarityOps {

  /** Column: index (0-based) of the nearest centroid by squared L2 —
    * ‖v−c‖² = ‖v‖² − 2·v·c + ‖c‖², and ‖v‖² is constant per row, so
    * argmin needs only −2·v·c + ‖c‖². Ties break to the lowest index
    * (struct ordering), keeping assignment deterministic. */
  def nearestCell(vec: Column, centroids: Seq[Array[Double]]): Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    array_min(distStructArray(vec, centroids)).getField("i")
  }

  /** Array of (shifted distance, index) structs — the shared argmin
    * material of [[nearestCell]] and [[nearestCells]]. The centroid
    * set rides as ONE 2-D array literal walked by a `transform` HOF,
    * so the GENERATED CODE is O(1) in k — the per-centroid expression
    * fold this replaces emitted O(k) code and hit Janino's 64 KB
    * method limit near k≈200 (found measuring the √n-retuned tier at
    * ScaleBench factor 20, where √n = 200). Values are identical
    * (same d/i structs, same tie-break), only the code shape changes. */
  private def distStructArray(vec: Column,
      centroids: Seq[Array[Double]]): Column = {
    val cents = typedlit(centroids.map(_.toSeq))
    val norms = typedlit(centroids.map(_.map(x => x * x).sum))
    transform(cents, (c, i) => struct(
      (lit(-2.0) * call_function("vec_dot", vec, c) +
        element_at(norms, i + 1)).as("d"),
      i.as("i")))
  }

  /** Assign every row its nearest-centroid cell id. */
  def kmeansAssign(df: DataFrame, vecCol: String,
      centroids: Seq[Array[Double]], cellCol: String = "cell"): DataFrame =
    df.withColumn(cellCol, nearestCell(col(vecCol), centroids))

  /** Two-level cell assignment: a coarse argmin over ~√k SUPER
    * centroids (the centroids clustered driver-side), then an exact
    * argmin over the 2 nearest supers' member centroids. Per-point
    * work drops from O(k·d) to O(3√k·d) — the term that made the flat
    * assignment scale as n^1.5 when k ≈ √n (ScaleBench trend's q95
    * ratio: 3.5× at 4× data, heading past linear at 100 TB).
    *
    * APPROXIMATE by design, and safe where it is used: a point near a
    * super boundary may land in a near-nearest cell instead of the
    * nearest, which only inflates that cell's measured covering
    * radius — [[exactCosinePairsPruned]]/[[exactKnnPruned]] derive
    * their admission bounds from the radii AFTER assignment, so the
    * candidate set stays a superset and the verified output stays
    * bit-identical to brute force (PrunedPropertySpec). Probing the 2
    * nearest supers keeps the assignment near-exact in practice.
    * Deterministic: hash-free argmins, ties to the lowest index.
    * Below 64 centroids the flat argmin is cheaper — returned as-is. */
  private[operators] def twoLevelNearest(vec: Column,
      cents: Seq[Array[Double]]): Column = {
    val k = cents.size
    if (k <= 64) nearestCell(vec, cents)
    else {
      val k2 = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
      val (supers, members) = clusterCentroids(cents, k2)
      // per super: its member centroids as (sqNorm, vector, global id)
      val memberLit = typedlit(members.map(_.map(g =>
        (cents(g).map(x => x * x).sum, cents(g).toSeq, g))))
      val probes = nearestCells(vec, supers, math.min(2, supers.size))
      val cand = flatten(transform(probes,
        s => element_at(memberLit, s + 1)))
      array_min(transform(cand, m => struct(
        (lit(-2.0) * call_function("vec_dot", vec, m.getField("_2")) +
          m.getField("_1")).as("d"),
        m.getField("_3").as("i")))).getField("i")
    }
  }

  /** Driver-side Lloyd over the (≤4096) centroids themselves: ~√k
    * super-centroids plus each super's member list. Empty supers are
    * dropped and renumbered, so every emitted super has ≥1 member.
    * Pure Scala on k points — microseconds next to one Spark job. */
  private def clusterCentroids(cents: Seq[Array[Double]], k2: Int)
      : (Seq[Array[Double]], Seq[Seq[Int]]) = {
    val dim = cents.head.length
    // deterministic spread init: every (k/k2)-th centroid
    var supers = (0 until k2)
      .map(i => cents(i * cents.size / k2).clone()).toArray
    var assign = new Array[Int](cents.size)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    var it = 0
    while (it < 8) {
      var ci = 0
      while (ci < cents.size) {
        var best = 0; var bd = Double.MaxValue; var si = 0
        while (si < supers.length) {
          val dd = d2(cents(ci), supers(si))
          if (dd < bd) { bd = dd; best = si }
          si += 1
        }
        assign(ci) = best
        ci += 1
      }
      val sums = Array.fill(supers.length)(new Array[Double](dim))
      val counts = new Array[Int](supers.length)
      var cj = 0
      while (cj < cents.size) {
        val s = assign(cj); counts(s) += 1
        var di = 0
        while (di < dim) { sums(s)(di) += cents(cj)(di); di += 1 }
        cj += 1
      }
      supers = supers.zipWithIndex.map { case (old, si) =>
        if (counts(si) == 0) old
        else sums(si).map(_ / counts(si))
      }
      it += 1
    }
    val bySuper = assign.zipWithIndex.groupBy(_._1)
    val kept = (0 until supers.length)
      .filter(bySuper.contains).map(si =>
        (supers(si), bySuper(si).map(_._2).toSeq.sorted))
    (kept.map(_._1).toSeq, kept.map(_._2).toSeq)
  }

  /** Column: the `nprobe` nearest centroid indices, ascending squared
    * L2 (ties to the lowest index) — an IVF query's probe list. Same
    * codegen shape as [[nearestCell]] plus one array_sort over k
    * structs. */
  def nearestCells(vec: Column, centroids: Seq[Array[Double]],
      nprobe: Int): Column = {
    require(centroids.nonEmpty, "need at least one centroid")
    require(nprobe >= 1 && nprobe <= centroids.size,
      s"nprobe in [1, ${centroids.size}]: $nprobe")
    transform(slice(array_sort(distStructArray(vec, centroids)), 1, nprobe),
      _.getField("i"))
  }

  /** Batch rows → persisted-index rows `(idCol, cellCol, vecCol)`: the
    * append the caller makes to IVF state after a
    * [[incrementalCosinePairs]] step. */
  def ivfIndexRows(batch: DataFrame, idCol: String, vecCol: String,
      cellCol: String, centroids: Seq[Array[Double]]): DataFrame =
    batch.select(col(idCol),
      nearestCell(col(vecCol).cast("array<double>"), centroids).as(cellCol),
      col(vecCol).cast("array<double>").as(vecCol))

  /** One micro-batch of INCREMENTAL embedding near-dup detection over a
    * persisted IVF index — the embedding-space twin of
    * [[Operators.incrementalMinHashPairs]], the continuous-ingest shape
    * at 100 TB: the corpus is cell-assigned ONCE (`index` =
    * (id, cell, vec) rows accumulated via [[ivfIndexRows]] under a
    * FIXED centroid set from [[kmeansFit]] — retraining would re-shuffle
    * the whole corpus), and only the arriving batch computes fresh
    * assignments. Returns `(a_id, b_id, cos)` with `a_id < b_id` for
    * cosine ≥ `threshold`, covering corpus↔batch and batch↔batch pairs;
    * corpus-internal pairs were reported by earlier steps.
    *
    * Plan shape: the batch probes its `nprobe` nearest cells (codegen
    * argmin list, centroids inlined as literals — k stays the COARSE
    * quantizer size, ~√corpus), candidates come from one equi-join on
    * the cell id keyed at batch×nprobe rows, and the exact-cosine
    * verify joins vectors back by id. Nothing broadcasts the corpus;
    * every stage is a keyed shuffle bounded by the batch's cell
    * neighborhoods.
    *
    * Recall contract: identical to the batch IVF query (q73) — a pair
    * is seen when the index side's cell is among the batch side's
    * `nprobe` probes; boundary-straddling pairs need `nprobe` > 1 (the
    * classic inverted-file trade, tunable per batch).
    */
  def incrementalCosinePairs(batch: DataFrame, index: DataFrame,
      idCol: String, vecCol: String, cellCol: String,
      centroids: Seq[Array[Double]], nprobe: Int,
      threshold: Double): DataFrame = {
    val batchVecs = batch.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    val probes = batchVecs.select(col("__id").as("__qa"),
      explode(nearestCells(col("__v"), centroids, nprobe)).as(cellCol))
    val batchCells = batchVecs.select(col("__id").as("__qb"),
      nearestCell(col("__v"), centroids).as(cellCol))
    val indexCells = index.select(col(idCol).as("__qb"), col(cellCol))
    val cand = probes
      .join(indexCells.unionByName(batchCells), cellCol)
      .filter(col("__qa") =!= col("__qb"))
      .select(least(col("__qa"), col("__qb")).as("__pa"),
        greatest(col("__qa"), col("__qb")).as("__pb"))
      .distinct()
    val allVecs = index.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__v")).unionByName(batchVecs)
    def nrm(v: Column): Column = sqrt(call_function("vec_dot", v, v))
    // shuffle-hash on the vector sides (see exactCosinePairsPruned's
    // note: never sort candidate rows carrying a vector payload)
    cand
      .join(allVecs.select(col("__id").as("__pa"), col("__v").as("__va"))
        .hint("shuffle_hash"), "__pa")
      .join(allVecs.select(col("__id").as("__pb"), col("__v").as("__vb"))
        .hint("shuffle_hash"), "__pb")
      .withColumn("__cos", call_function("vec_dot", col("__va"), col("__vb")) /
        (nrm(col("__va")) * nrm(col("__vb"))))
      .filter(col("__cos") >= threshold)
      .select(col("__pa").as("a_id"), col("__pb").as("b_id"),
        col("__cos").as("cos"))
  }

  /** EXACT cosine-threshold pairs with metric cell pruning — the
    * distributable scale path for the brute-force all-pairs scan
    * (q72's shape). Exactness argument: on UNIT vectors,
    * cos(a,b) ≥ t ⟺ ‖â−b̂‖ ≤ D with D = √(2−2t); for a in cell i and
    * b in cell j the triangle inequality gives
    * ‖cᵢ−cⱼ‖ ≤ rᵢ + ‖â−b̂‖ + rⱼ, so every qualifying pair lives in a
    * cell pair with ‖cᵢ−cⱼ‖ ≤ rᵢ+rⱼ+D — the admissible set. Candidates
    * are generated ONLY for admissible cell pairs and then verified
    * with the caller's exact similarity (computed from the ORIGINAL
    * vectors, so results are bit-identical to the brute-force scan);
    * all pruning bounds are nudged by an admit-direction epsilon, the
    * jaccardPairsPrefix convention.
    *
    * Scale shape: no broadcast of the corpus and no nested-loop join —
    * assignments shuffle keyed on the cell, the k²-row admissible-pair
    * table broadcasts, and work factors into |cellᵢ|×|cellⱼ| blocks
    * (the block-matrix decomposition of the pair scan, minus the
    * blocks the metric bound excludes; on clustered embeddings most
    * of them). Worst case — a corpus with no cluster structure at a
    * loose threshold — degrades to the full block set, still with
    * keyed shuffles only. Parallelism is bounded by cell-pair
    * granularity: one giant cell puts its whole block in one task, so
    * size k with the corpus (k ≈ √n keeps expected block work
    * constant) — k is an explicit knob for exactly this reason.
    *
    * Returns (a_id, b_id, sim) with a_id < b_id, sim ≥ threshold. The
    * result reads the cell-index checkpoint lazily — call
    * [[Operators.releaseCheckpoints]] on it after materializing. */
  def exactCosinePairsPruned(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, k: Int = 0, iters: Int = 4): DataFrame = {
    require(threshold > -1 && threshold <= 1, s"threshold in (-1,1]: $threshold")
    val eps = 1e-6
    def nrm(v: Column): Column = sqrt(call_function("vec_dot", v, v))
    // unit-normalize ONCE (zero vectors normalize to NaN, never join a
    // finite-distance bound, and could not pass any cosine threshold)
    val vecs = df.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v0"))
      .withColumn("__n", nrm(col("__v0")))
      // a zero/NaN-norm vector cannot pass any cosine threshold, and
      // left in it would poison a cell radius with NaN. NOTE Spark
      // sorts NaN GREATER than any number, so `> 0` alone keeps NaN —
      // the isnan guard is load-bearing
      .filter(col("__n") > 0 && !isnan(col("__n")))
      .select(col("__id"),
        expr("transform(__v0, x -> x / __n)").as("__v"))
      .localCheckpoint() // scanned by kmeansFit + assignment + radii
    // k ≤ 0 → auto: n/64 cells BOUND the expected cell size at 64, so
    // the admissible-block candidate mass stays LINEAR in n (constant
    // admissible neighbors per cell × bounded block area). The old
    // √n auto-sizing made candidate mass ~ c·n²/k = c·n^1.5 — the
    // measured 3.5×-at-4×-data trend term, and the thing that would
    // actually break at 100 TB. The 4096 cap bounds the centroid
    // literal the codegen walks (~2 MB of doubles at 64 dims); past
    // n ≈ 256k per partition-shard the cell size grows again — at
    // that scale shard the corpus and union (docs/SCALE.md).
    val n = vecs.count()
    val kk = if (k > 0) k
      else math.max(8, math.min(4096, (n / 64L).toInt))
    // r18 scale shape: the flat pipeline's three full-corpus argmins
    // (2 fit iterations + assignment) were each O(n·k·d), and with
    // k ≈ √n the whole operator scaled as n^1.5 (ScaleBench trend:
    // 3.5× at 4× data). Two changes, neither touching the verified
    // output (admission stays a superset; PrunedPropertySpec pins
    // output ≡ brute): the FIT runs on a deterministic hash-sample of
    // ~48·k rows (48 points per centroid pin the field; fit cost
    // becomes O(k²·d) = O(n·d) at auto-k), and the full-corpus
    // assignment goes through [[twoLevelNearest]] (O(3√k·d) per point
    // instead of O(k·d)). Cluster quality only moves the pruning
    // bound — radii are measured AFTER assignment.
    val step = math.max(1L, n / (48L * kk))
    val fitInput =
      if (step <= 1L) vecs
      else vecs.filter(pmod(xxhash64(col("__id")), lit(step)) === 0)
    val cents = kmeansFit(fitInput, "__id", "__v", kk, iters,
      init = "hash", fastAssign = true)
    val assign = vecs
      .withColumn("__cell", twoLevelNearest(col("__v"), cents))
      .localCheckpoint() // feeds radii + both join sides
    Operators.releaseCheckpoints(vecs) // superseded by assign
    val radius = cellRadii(assign, "__v", "__cell", cents)
    val dBound = math.sqrt(math.max(0.0, 2 - 2 * threshold)) + eps
    def cdist(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    // admissible (ordered) cell pairs — both orders for i≠j so either
    // id ordering of a cross-cell pair is generated exactly once
    val admissible = for {
      i <- cents.indices; j <- cents.indices
      if radius.contains(i) && radius.contains(j)
      if i == j || cdist(cents(i), cents(j)) <= radius(i) + radius(j) + dBound
    } yield (i, j)
    val sp = df.sparkSession
    import sp.implicits._
    val pairsDf = admissible.toDF("__ca", "__cb")
    val a = assign.select(col("__id").as("a_id"), col("__cell").as("__ca"))
    val b = assign.select(col("__id").as("b_id"), col("__cell").as("__cb"))
    val orig = df.select(col(idCol).as("__oid"), col(vecCol).as("__ov"))
    val cand = a.join(broadcast(pairsDf), "__ca").join(b, "__cb")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    // exact verify on the ORIGINAL vectors — bit-identical to the
    // brute-force formulation. The vector sides carry a shuffle-hash
    // hint: a sort-merge join here SORTS candidate-pair rows that
    // already carry a vector (~0.5 KB each), so the spill footprint is
    // candidate-mass × vector-size — measured at ScaleBench factor 20
    // that exceeded the disk. SHJ builds the per-partition hash map on
    // the corpus side (n/parts vectors) and STREAMS the narrow id-pair
    // side; only id pairs ever shuffle, no pair-with-vector row sorts.
    cand
      .join(orig.select(col("__oid").as("a_id"), col("__ov").as("__va"))
        .hint("shuffle_hash"), "a_id")
      .join(orig.select(col("__oid").as("b_id"), col("__ov").as("__vb"))
        .hint("shuffle_hash"), "b_id")
      .withColumn("sim", call_function("vec_dot", col("__va"), col("__vb")) /
        (nrm(col("__va")) * nrm(col("__vb"))))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), col("sim"))
  }

  /** Per-cell covering radius: max distance of any UNIT vector in
    * `vCol` to its cell's centroid — driver-side (k values), one keyed
    * aggregation. The geometric primitive both metric-pruned operators
    * ([[exactCosinePairsPruned]], [[exactKnnPruned]]) build their
    * admissibility bounds from. */
  private def cellRadii(assign: DataFrame, vCol: String, cellCol: String,
      cents: Seq[Array[Double]]): Map[Int, Double] =
    assign
      .withColumn("__d", sqrt(greatest(lit(0.0),
        call_function("vec_dot", col(vCol), col(vCol)) -
          lit(2.0) * call_function("vec_dot", col(vCol),
            element_at(typedlit(cents.map(_.toSeq)), col(cellCol) + 1)) +
          element_at(typedlit(cents.map(c => c.map(x => x * x).sum)),
            col(cellCol) + 1))))
      .groupBy(col(cellCol)).agg(max(col("__d")).as("__r"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

  /** EXACT cosine top-k neighbors per query with metric cell pruning —
    * the distributable scale path for the brute-force KNN scan (q70's
    * shape). Two phases:
    *   1. SEED: each query probes only its own nearest cell's members;
    *      the kth-best similarity found is a LOWER bound t on the true
    *      kth (fewer than k members → −∞).
    *   2. PRUNE + VERIFY: for unit vectors, any corpus member x in
    *      cell j satisfies cos(q,x) = ⟨q̂,ĉⱼ⟩ + ⟨q̂, x̂−ĉⱼ⟩ ≤
    *      ⟨q̂,cⱼ⟩ + rⱼ (Cauchy–Schwarz + the cell radius), so only
    *      cells with ⟨q̂,cⱼ⟩ + rⱼ ≥ t − ε can hold a top-k member.
    *      Exact similarities over the admitted cells' members (from the
    *      ORIGINAL vectors — bit-identical to the brute scan) feed the
    *      bounded top-k aggregator for the final ranking.
    * The seed cell is always re-admitted (its bound ≥ its own best),
    * so phase 2 ranks a superset of phase 1 — no result stitching.
    *
    * Scale shape: both candidate joins are keyed on the cell (corpus
    * never broadcasts, no per-query corpus scan); the only non-keyed
    * join is queries × the nCells-row centroid table for the bounds —
    * bounded by the cell count, not the data. Ranking runs through the
    * bounded-state top-k aggregator (map-side combine to ≤ k rows per
    * query before the exchange). On clustered embeddings most cells
    * fail the bound; the worst case (no cluster structure) degrades to
    * visiting all cells — still keyed shuffles only. As with
    * [[exactCosinePairsPruned]], per-cell task granularity means
    * nCells should grow with the corpus (≈ √n).
    *
    * Zero-norm vectors have undefined cosine and are excluded on both
    * sides. Returns (q_id, n_id, sim, rank 1..k) ranked by (sim DESC,
    * n_id ASC) — a total order, so ties are deterministic. The result
    * reads the cell-index and query checkpoints lazily — call
    * [[Operators.releaseCheckpoints]] on it after materializing. */
  def exactKnnPruned(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 0, iters: Int = 3,
      excludeSelfId: Boolean = true): DataFrame = {
    require(k > 0, s"k > 0: $k")
    val eps = 1e-6
    def nrm(v: Column): Column = sqrt(call_function("vec_dot", v, v))
    val cvec = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_emb"))
      .withColumn("n_nrm", nrm(col("n_emb")))
      .filter(col("n_nrm") > 0 && !isnan(col("n_nrm"))) // NaN sorts > 0
      .withColumn("__u",
        expr("transform(CAST(n_emb AS ARRAY<DOUBLE>), x -> x / n_nrm)"))
      .localCheckpoint() // scanned by kmeansFit + assignment
    // nCells ≤ 0 → auto n/64 bounded cells, as in
    // exactCosinePairsPruned (r18: the √n sizing gave n^1.5 probe
    // mass; bounded cells keep it linear), with the same 48·cells
    // sample-fit and two-level assignment. Exactness survives both:
    // the phase-1 seed from an approximately-assigned query cell is
    // still a VALID kth-sim lower bound (any cell's kth-best is),
    // and phase-2 admission uses radii measured AFTER assignment —
    // the probe set stays a superset (PrunedPropertySpec ≡ brute).
    val nCorpus = cvec.count()
    val cells = if (nCells > 0) nCells
      else math.max(8, math.min(4096, (nCorpus / 64L).toInt))
    val fitStep = math.max(1L, nCorpus / (48L * cells))
    val fitInput =
      if (fitStep <= 1L) cvec
      else cvec.filter(pmod(xxhash64(col("n_id")), lit(fitStep)) === 0)
    val cents = kmeansFit(fitInput, "n_id", "__u", cells, iters,
      init = "hash", fastAssign = true)
    val assignU = cvec.withColumn("__cell", twoLevelNearest(col("__u"), cents))
      .localCheckpoint() // feeds radii + phase-1 + phase-2 probe sides
    Operators.releaseCheckpoints(cvec) // superseded by assignU
    val radius = cellRadii(assignU, "__u", "__cell", cents)
    val assign = assignU.drop("__u")
    val qvec = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_emb"))
      .withColumn("q_nrm", nrm(col("q_emb")))
      .filter(col("q_nrm") > 0 && !isnan(col("q_nrm"))) // NaN sorts > 0
      .withColumn("__qu",
        expr("transform(CAST(q_emb AS ARRAY<DOUBLE>), x -> x / q_nrm)"))
      .withColumn("__qcell", twoLevelNearest(col("__qu"), cents))
      .localCheckpoint() // feeds both phases
    val tk = graft.functions.TopK.topk(k)
    def noSelf(c: DataFrame): DataFrame =
      if (excludeSelfId) c.filter(col("q_id") =!= col("n_id")) else c
    def simCol: Column = call_function("vec_dot", col("q_emb"), col("n_emb")) /
      (col("q_nrm") * col("n_nrm"))
    // phase 1 — kth-sim lower bound from the query's own cell
    val seeds = noSelf(qvec.join(
        assign.withColumnRenamed("__cell", "__qcell"), "__qcell"))
      .withColumn("__sim", simCol)
      .groupBy(col("q_id")).agg(tk(col("__sim"), col("n_id")).as("__tk"))
      .select(col("q_id"),
        when(size(col("__tk")) >= k,
          element_at(col("__tk"), k).getField("score"))
          .otherwise(lit(Double.NegativeInfinity)).as("__t"))
    // phase 2 — bounds join against the nCells-row centroid table,
    // then exact sims over the admitted cells' members
    val sp = corpus.sparkSession
    import sp.implicits._
    val cellsDf = cents.zipWithIndex
      .flatMap { case (c, i) => radius.get(i).map(r => (i, c.toSeq, r)) }
      .toDF("__cell", "__cent", "__r")
    val admitted = qvec
      .join(seeds, Seq("q_id"), "left") // query alone in its cell → no seed row
      .withColumn("__t", coalesce(col("__t"), lit(Double.NegativeInfinity)))
      .crossJoin(broadcast(cellsDf))
      .filter(call_function("vec_dot", col("__qu"), col("__cent")) + col("__r")
        >= col("__t") - lit(eps))
      .select(col("q_id"), col("q_emb"), col("q_nrm"), col("__cell"))
    noSelf(admitted.join(assign, "__cell"))
      .withColumn("__sim", simCol)
      .groupBy(col("q_id")).agg(tk(col("__sim"), col("n_id")).as("__tk"))
      .select(col("q_id"), posexplode(col("__tk")).as(Seq("__p", "__s")))
      .select(col("q_id"), col("__s").getField("id").as("n_id"),
        col("__s").getField("score").as("sim"), (col("__p") + 1).as("rank"))
  }

  /** Product-quantization model: `books(j)(c)` is sub-centroid c of
    * subspace j — m subspaces of `dsub` dims, `ksub` centroids each.
    * A vector's code is m small ints (vs dim floats): the memory-bound
    * ANN tier under IVF — at 100 TB the encoded corpus is dim·4/m
    * times smaller than the raw embeddings, and a candidate scan costs
    * O(m) table lookups per pair instead of O(dim) multiplies. */
  final case class PqModel(m: Int, dsub: Int, ksub: Int,
      books: Seq[Seq[Array[Double]]])

  /** Fit PQ codebooks: UNIT-normalize (so squared L2 ranks exactly as
    * cosine), slice each vector into m subspaces, and train all m
    * codebooks TOGETHER — the subspaces partition the same rows, so
    * one hash-init action samples every subspace's seeds at once and
    * each Lloyd iteration is ONE corpus pass (per-row codegen argmin
    * for all m subspaces, one (j, cell, dim)-keyed aggregation of
    * m·ksub·dsub partial sums) instead of m separate passes. At scale
    * that is the difference between scanning the corpus iters times
    * and m·iters times. Equivalent to training each subspace
    * independently — hash init picks the same ksub ROWS for every
    * subspace either way, assignments are per-subspace independent,
    * empty cells keep their previous centroid (the fused mean's
    * partial-sum order may differ from the per-subspace trainer's in
    * the last ulp, which moves no correctness property: the exact
    * operators are exact for ANY codebook and the approximate tiers'
    * guarantees are recall floors). Deterministic end to end. */
  def pqFit(df: DataFrame, idCol: String, vecCol: String, m: Int,
      ksub: Int = 16, iters: Int = 2): PqModel = {
    require(m > 0 && ksub > 1, s"m > 0, ksub > 1: $m/$ksub")
    val base = unitVecs(df, idCol, vecCol).localCheckpoint()
    val dim = base.select(size(col("__u"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    // init: ONE action — the ksub lowest-hash rows seed all m books
    val sampled = base.orderBy(xxhash64(col("__id")), col("__id")).limit(ksub)
      .select(col("__u")).collect().map(_.getSeq[Double](0).toArray)
    require(sampled.nonEmpty, "pqFit: no non-zero vectors to train on")
    // a corpus smaller than ksub still yields EXACTLY ksub centroids —
    // every consumer (pqLut, the encoders) indexes books(j)(c) for
    // c < ksub, so the codebook length is part of the model contract;
    // duplicate centroids are harmless (argmin ties break low)
    val seeds = Array.tabulate(ksub)(i => sampled(i % sampled.length))
    var books: Seq[Seq[Array[Double]]] = (0 until m).map { j =>
      seeds.toSeq.map(v => v.slice(j * dsub, (j + 1) * dsub))
    }
    var it = 0
    while (it < iters) {
      val assign = (0 until m).map { j =>
        val sub = slice(col("__u"), j * dsub + 1, dsub)
        struct(nearestCell(sub, books(j)).as("cell"), sub.as("sub"))
      }
      val updated = base
        .select(posexplode(array(assign: _*)).as(Seq("__j", "__s")))
        .select(col("__j"), col("__s.cell").as("__cell"),
          posexplode(col("__s.sub")).as(Seq("__dim", "__x")))
        .groupBy(col("__j"), col("__cell"), col("__dim"))
        .agg(sum(col("__x")).as("__sx"), count(lit(1)).as("__n"))
        .collect()
      val byCell = updated.groupBy(r => (r.getInt(0), r.getInt(1)))
      books = books.zipWithIndex.map { case (book, j) =>
        book.zipWithIndex.map { case (old, c) =>
          byCell.get((j, c)) match {
            case Some(rows) =>
              val next = new Array[Double](dsub)
              rows.foreach { r =>
                next(r.getInt(2)) = r.getDouble(3) / r.getLong(4)
              }
              next
            case None => old // empty cell: keep previous centroid
          }
        }
      }
      it += 1
    }
    Operators.releaseCheckpoints(base)
    PqModel(m, dsub, ksub, books)
  }

  /** Encode to `(idCol, code array<int> of length m)` — subspace j's
    * entry is the argmin sub-centroid (codegen argmin per subspace,
    * narrow map, no shuffle). */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame =
    unitVecs(df, idCol, vecCol)
      .select(col("__id").as(idCol), array((0 until model.m).map(j =>
        nearestCell(slice(col("__u"), j * model.dsub + 1, model.dsub),
          model.books(j))): _*).as("code"))

  /** Approximate top-k by ASYMMETRIC distance: each query precomputes
    * its m×ksub lookup table of exact sub-distances to every
    * sub-centroid (one narrow projection over the query side — the
    * corpus is never decoded), then a candidate's distance is m table
    * lookups summed by an array fold. Ranking runs through the bounded
    * top-k aggregator. The scan is query×corpus like the brute
    * baseline, but each pair costs O(m) lookups on m-int codes instead
    * of O(dim) multiplies on dim floats — the PQ trade. Returns
    * (q_id, n_id, approx_dist, rank), rank 1..k by (approx_dist ASC,
    * n_id ASC); APPROXIMATE by design (spec measures recall vs brute),
    * self-pairs excluded. */
  def pqTopK(codes: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, model: PqModel, k: Int): DataFrame = {
    require(k > 0, s"k > 0: $k")
    val q = unitVecs(queries, idCol, vecCol)
      .select(col("__id").as("q_id"), pqLut(model).as("__lut"))
    val cand = broadcast(q)
      .join(codes.select(col(idCol).as("n_id"), col("code")),
        col("q_id") =!= col("n_id"))
    rankByAdc(cand, model, k)
  }

  /** One-pass IVF-PQ index rows `(idCol, cellCol, code)` — coarse cell
    * and PQ code from the same unit-vector projection, one narrow map
    * (the persistable state [[ivfPqTopK]] probes). */
  def pqIndex(df: DataFrame, idCol: String, vecCol: String, model: PqModel,
      cents: Seq[Array[Double]], cellCol: String = "cell"): DataFrame =
    unitVecs(df, idCol, vecCol).select(col("__id").as(idCol),
      nearestCell(col("__u"), cents).as(cellCol),
      array((0 until model.m).map(j =>
        nearestCell(slice(col("__u"), j * model.dsub + 1, model.dsub),
          model.books(j))): _*).as("code"))

  /** IVF-composed PQ — the production ANN shape at 100 TB (coarse
    * cells prune WHERE to look, codes compress WHAT is looked at):
    * `index` carries (idCol, cellCol, code) rows (pqEncode output +
    * [[kmeansAssign]] on the SAME unit vectors); each query explodes
    * to its `nprobe` nearest cells and the candidate join is KEYED on
    * the cell — the corpus side never broadcasts (pqTopK's broadcast
    * scan is the right plan only while the query set is small), and
    * each admitted candidate still costs m LUT lookups. With
    * nprobe = |cells| the candidate set is the full corpus and the
    * result is IDENTICAL to [[pqTopK]] — the composition adds recall
    * loss only through cell pruning, never through scoring. Returns
    * (q_id, n_id, approx_dist, rank). */
  def ivfPqTopK(index: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cellCol: String, model: PqModel,
      cents: Seq[Array[Double]], nprobe: Int, k: Int): DataFrame = {
    require(k > 0, s"k > 0: $k")
    val q = unitVecs(queries, idCol, vecCol)
      .select(col("__id").as("q_id"), pqLut(model).as("__lut"),
        explode(nearestCells(col("__u"), cents, nprobe)).as(cellCol))
    val cand = q
      .join(index.select(col(idCol).as("n_id"), col(cellCol), col("code")),
        Seq(cellCol))
      .filter(col("q_id") =!= col("n_id"))
    rankByAdc(cand, model, k)
  }

  /** [[pqEncode]] plus the per-point quantization residual:
    * `(idCol, code, resid)` with resid = ‖x̂ − decode(code)‖ =
    * √Σⱼ‖x̂ⱼ − bookⱼ(codeⱼ)‖² — the subspace argmins' own distances,
    * computed in the same narrow no-shuffle map as the codes. The
    * residual is what turns ADC from a heuristic score into a BOUND:
    * by the triangle inequality |‖q̂−x̂‖ − ‖q̂−decode(x)‖| ≤ resid(x),
    * which [[exactKnnPq]] uses to prune exactly. */
  def pqEncodeResidual(df: DataFrame, idCol: String, vecCol: String,
      model: PqModel): DataFrame = {
    // ONE argmin per subspace: the min struct carries both the code
    // (.i) and the shifted distance (.d); min true sub-dist² =
    // ‖xⱼ‖² + min(−2·xⱼ·c + ‖c‖²). Building the ksub-entry struct
    // array once — not once for the code and again for the residual —
    // halves the dominant per-row expression work of the encode stage.
    val mins = (0 until model.m).map { j =>
      val sub = slice(col("__u"), j * model.dsub + 1, model.dsub)
      struct(
        array_min(distStructArray(sub, model.books(j))).as("ms"),
        call_function("vec_dot", sub, sub).as("n2"))
    }
    unitVecs(df, idCol, vecCol)
      .select(col("__id").as(idCol), array(mins: _*).as("__mm"))
      .select(col(idCol),
        expr("transform(__mm, x -> x.ms.i)").as("code"),
        sqrt(greatest(lit(0.0), expr(
          "aggregate(transform(__mm, x -> x.n2 + x.ms.d), " +
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"))).as("resid"))
  }

  /** EXACT cosine top-k with PQ pruning — the third member of the
    * exact-under-pruning family ([[exactCosinePairsPruned]],
    * [[exactKnnPruned]]), here with PRODUCT-QUANTIZED candidates:
    * bit-identical to the brute scan for ANY codebook, so the driver's
    * hash gate (q70's oracle SQL) proves the whole PQ arithmetic chain
    * — fit, encode, LUT, ADC fold — end to end.
    *
    * Exactness argument: with d(x) = √ADC(q,x) (the EXACT distance
    * from q̂ to x's decoded point — the LUT entries are exact
    * per-subspace squared distances) and r(x) the stored residual,
    * the triangle inequality gives ‖q̂−x̂‖ ≥ d(x) − r(x). Phase 1
    * exact-verifies the ADC top-k, whose worst member's TRUE distance
    * t upper-bounds the true kth distance. Phase 2 admits only
    * candidates with d(x) − r(x) ≤ t + ε — everything else provably
    * cannot enter the top-k — and exact-verifies the admitted set on
    * the ORIGINAL vectors, so returned sims are bit-identical to the
    * brute formulation (float-rounding of the ADC fold moves only
    * which non-members are admitted, never the result, the same
    * admit-direction-ε convention as the other pruned operators).
    *
    * Scale shape: the candidate scan touches m-int codes (never the
    * raw corpus — the PQ memory trade), queries broadcast with their
    * m·ksub LUTs, the two verify joins are keyed on the id, and
    * ranking runs through the bounded top-k aggregator. Admitted-set
    * size degrades gracefully with codebook quality: a worse fit
    * admits more verify work, never wrong answers.
    *
    * Returns (q_id, n_id, sim, rank 1..k) by (sim DESC, n_id ASC) —
    * exact ranks, self-pairs excluded. */
  def exactKnnPq(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, model: PqModel, k: Int): DataFrame = {
    require(k > 0, s"k > 0: $k")
    val eps = 1e-9
    def nrm(v: Column): Column = sqrt(call_function("vec_dot", v, v))
    val codes = pqEncodeResidual(corpus, idCol, vecCol, model)
    val q = unitVecs(queries, idCol, vecCol)
      .select(col("__id").as("q_id"), pqLut(model).as("__lut"))
    val cand = broadcast(q)
      .join(codes.select(col(idCol).as("n_id"), col("code"), col("resid")),
        col("q_id") =!= col("n_id"))
      .withColumn("__d", adcDist(model))
      // LUT and code dropped BEFORE the checkpoint: only the scored
      // (q_id, n_id, resid, d) quad is scanned twice (seed + admit)
      .select(col("q_id"), col("n_id"), col("resid"), col("__d"))
      .localCheckpoint()
    // exact-sim verify material: the ORIGINAL vectors, q70's expressions
    val origQ = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_emb"))
      .withColumn("q_nrm", nrm(col("q_emb")))
    val origC = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_emb"))
      .withColumn("n_nrm", nrm(col("n_emb")))
    def simCol: Column = call_function("vec_dot", col("q_emb"), col("n_emb")) /
      (col("q_nrm") * col("n_nrm"))
    val tk = graft.functions.TopK.topk(k)
    // phase 1 — ADC top-k, exact-verified: t = the worst member's TRUE
    // distance ≥ the true kth distance (fewer than k members → +∞)
    val seedIds = cand
      .groupBy(col("q_id")).agg(tk(-col("__d"), col("n_id")).as("__tk"))
      .select(col("q_id"),
        explode(expr("transform(__tk, s -> s.id)")).as("n_id"),
        size(col("__tk")).as("__nseed"))
    val seedT = seedIds
      .join(origQ, "q_id").join(origC, "n_id")
      .withColumn("__dist", sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * simCol)))
      .groupBy(col("q_id"))
      .agg(max(col("__dist")).as("__t"), first(col("__nseed")).as("__n"))
      .select(col("q_id"), when(col("__n") >= k, col("__t"))
        .otherwise(lit(Double.PositiveInfinity)).as("__t"))
    // phase 2 — residual-bound admission + exact verify + exact ranks
    val admitted = cand
      .join(seedT, Seq("q_id"), "left")
      .withColumn("__t", coalesce(col("__t"), lit(Double.PositiveInfinity)))
      .filter(sqrt(greatest(lit(0.0), col("__d"))) - col("resid")
        <= col("__t") + lit(eps))
      .select(col("q_id"), col("n_id"))
    // the result reads the scored-candidate checkpoint lazily — as with
    // the other pruned operators, the caller releases after materializing
    admitted
      .join(origQ, "q_id").join(origC, "n_id")
      .withColumn("__sim", simCol)
      .groupBy(col("q_id")).agg(tk(col("__sim"), col("n_id")).as("__tk"))
      .select(col("q_id"), posexplode(col("__tk")).as(Seq("__p", "__s")))
      .select(col("q_id"), col("__s").getField("id").as("n_id"),
        col("__s").getField("score").as("sim"), (col("__p") + 1).as("rank"))
  }

  /** Flat m×ksub LUT over the unit query column "__u": entry
    * j·ksub + c = ‖q_j − books(j)(c)‖², exact doubles — the single
    * source of the ADC arithmetic for [[pqTopK]] and [[ivfPqTopK]]. */
  private def pqLut(model: PqModel): Column =
    array((for (j <- 0 until model.m; c <- 0 until model.ksub) yield {
      val sub = slice(col("__u"), j * model.dsub + 1, model.dsub)
      val cent = typedlit(model.books(j)(c).toSeq)
      call_function("vec_dot", sub, sub) -
        lit(2.0) * call_function("vec_dot", sub, cent) +
        lit(model.books(j)(c).map(x => x * x).sum)
    }): _*)

  /** ADC distance column over rows carrying (code, __lut): m LUT
    * lookups summed by an array fold — ‖q̂ − decode(code)‖² in exact
    * doubles. */
  private def adcDist(model: PqModel): Column = expr(
    s"""aggregate(zip_with(code, sequence(0, ${model.m - 1}),
          (c, j) -> element_at(__lut, j * ${model.ksub} + c + 1)),
        CAST(0 AS DOUBLE), (acc, x) -> acc + x)""")

  /** Shared ADC scoring + bounded top-k tail: candidates carrying
    * (q_id, code, __lut) → (q_id, n_id, approx_dist, rank 1..k) by
    * (approx_dist ASC, n_id ASC). */
  private def rankByAdc(cand: DataFrame, model: PqModel, k: Int): DataFrame = {
    val tk = graft.functions.TopK.topk(k)
    cand
      .withColumn("__d", adcDist(model))
      .groupBy(col("q_id"))
      .agg(tk(-col("__d"), col("n_id")).as("__tk"))
      .select(col("q_id"), posexplode(col("__tk")).as(Seq("__p", "__s")))
      .select(col("q_id"), col("__s").getField("id").as("n_id"),
        (-col("__s").getField("score")).as("approx_dist"),
        (col("__p") + 1).as("rank"))
  }

  /** Unit-normalized copy `(idCol, vecCol)` — the projection every
    * cosine-space operator here shares, exposed so compositions train
    * in the same space (e.g. IVF cells for [[ivfPqTopK]] must live
    * where the PQ codes live). */
  def unitNormalized(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    unitVecs(df, idCol, vecCol)
      .select(col("__id").as(idCol), col("__u").as(vecCol))

  /** (__id, __u): unit-normalized double vectors, zero-norm rows
    * dropped (shared by the PQ operators). */
  private def unitVecs(df: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v0"))
      .withColumn("__n", sqrt(call_function("vec_dot", col("__v0"), col("__v0"))))
      .filter(col("__n") > 0 && !isnan(col("__n"))) // NaN sorts > 0
      .select(col("__id"), expr("transform(__v0, x -> x / __n)").as("__u"))

  /** Squared distance to the NEAREST of `centroids` (true value, not
    * the per-row-shifted argmin form — comparable ACROSS rows, which
    * farthest-point init needs). */
  private def minSqDist(vec: Column, centroids: Seq[Array[Double]]): Column =
    // same O(1)-in-k code shape as distStructArray (the literal-fold
    // form hit Janino's 64 KB method limit near k≈200)
    call_function("vec_dot", vec, vec) +
      array_min(distStructArray(vec, centroids).getField("d"))

  /** Lloyd's k-means over `vecCol` (Array[Float/Double]).
    * Deterministic end to end: farthest-point init (first = lowest
    * `idCol`, each next = the point farthest from the chosen set, ties
    * to the lowest id — naive lowest-k init collapses when all seeds
    * land in one true cluster), assignment ties break to the lowest
    * centroid index, and the centroid update averages with an
    * order-free mean per dimension. Each iteration is one assignment
    * pass (codegen, no shuffle) plus one k×dim-sized aggregation — the
    * update shuffle carries (cell, dim) partial sums only, never
    * vectors. Empty cells keep their previous centroid.
    *
    * `init`: "farthest" (default — best cells, but k SEQUENTIAL driver
    * actions) or "hash" (ONE action: the k rows with the lowest
    * xxhash64(id) — a deterministic pseudo-random sample, the right
    * trade when k grows with the corpus and centroid quality only
    * tunes pruning effectiveness, never correctness, as in the exact
    * metric-pruned operators). */
  def kmeansFit(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, init: String = "farthest",
      fastAssign: Boolean = false): Seq[Array[Double]] = {
    require(k > 0 && iters >= 0, "k > 0, iters >= 0")
    require(init == "farthest" || init == "hash", s"unknown init $init")
    val vecs = df.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
      .localCheckpoint() // scanned k+iters times
    var cents: Seq[Array[Double]] =
      if (init == "hash")
        vecs.orderBy(xxhash64(col("__id")), col("__id")).limit(k)
          .select(col("__v")).collect()
          .map(_.getSeq[Double](0).toArray).toSeq
      else Seq(
        vecs.orderBy(col("__id")).limit(1)
          .select(col("__v")).head().getSeq[Double](0).toArray)
    while (cents.size < k) {
      cents = cents :+ vecs
        .withColumn("__d", minSqDist(col("__v"), cents))
        .orderBy(col("__d").desc, col("__id")).limit(1)
        .select(col("__v")).head().getSeq[Double](0).toArray
    }
    var it = 0
    while (it < iters) {
      val updated = vecs
        .withColumn("__cell",
          if (fastAssign) twoLevelNearest(col("__v"), cents)
          else nearestCell(col("__v"), cents))
        .select(col("__cell"), posexplode(col("__v")).as(Seq("__dim", "__x")))
        .groupBy(col("__cell"), col("__dim"))
        .agg(sum(col("__x")).as("__s"), count(lit(1)).as("__n"))
        .collect()
      val byCell = updated.groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, ci) =>
        byCell.get(ci) match {
          case Some(rows) =>
            val dim = old.length
            val next = new Array[Double](dim)
            rows.foreach { r =>
              next(r.getInt(1)) = r.getDouble(2) / r.getLong(3)
            }
            next
          case None => old // empty cell: keep previous centroid
        }
      }
      it += 1
    }
    // the working checkpoint is fully consumed (centroids are plain
    // driver values) — free its storage blocks now rather than waiting
    // for a driver GC (see Operators.releaseCheckpoints)
    Operators.releaseCheckpoints(vecs)
    cents
  }
}
