package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, StringType,
  StructField, StructType}

/** Reusable whole-operator APIs for the capabilities Spark has no
  * single built-in for. Each is the shuffle-minimal formulation the
  * query pack verifies against the DuckDB oracle (q32/q43/q62/q63);
  * here they are generalized over arbitrary DataFrames so a library
  * user gets the operator, not a query recipe.
  */
object Operators {

  /** Free the storage blocks behind every `localCheckpoint()` a frame's
    * plan references, each RDD once, the moment the frame is
    * superseded. `Dataset.unpersist` cannot do this (the blocks belong
    * to the checkpointed internal RDD, not the cache manager), and
    * waiting for the ContextCleaner means an iterative operator holds
    * every superseded iteration's blocks until a driver GC — on a
    * 100 TB run that storage residue evicts execution memory. The
    * checkpointed RDD sits in the plan's `LogicalRDD` leaves.
    *
    * Operators whose RESULT reads a checkpoint lazily (e.g.
    * [[jaccardPairsPrefix]]) cannot free it internally: call this on
    * the result AFTER materializing it (write / collect); the frame must
    * not be re-executed afterwards. Iterative operators that fully
    * consume their checkpoints internally ([[connectedComponents]])
    * free them eagerly and need no call. */
  def releaseCheckpoints(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.distinctBy(_.id).foreach(_.unpersist(blocking = false))

  /** AS-OF JOIN: for every left row, the most recent right row at or
    * before it per key. One shuffle on the key, one ordered window pass
    * — never a per-key cross join, so it survives 100 TB event tables.
    * Right columns are emitted with `rightPrefix`.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTime: String, rightTime: String,
      rightPrefix: String = "asof_"): DataFrame = {
    val lCols = left.columns
    val rCols = right.columns.filterNot(keyCols.contains)
    val lTagged = left.select(
      (keyCols.map(col) :+ col(leftTime).as("__t") :+ lit(1).as("__isLeft")) ++
        lCols.filterNot(c => keyCols.contains(c)).map(c => col(c).as(s"__l_$c")) ++
        rCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"__r_$c")): _*)
    val rTagged = right.select(
      (keyCols.map(col) :+ col(rightTime).as("__t") :+ lit(0).as("__isLeft")) ++
        lCols.filterNot(c => keyCols.contains(c))
          .map(c => lit(null).cast(left.schema(c).dataType).as(s"__l_$c")) ++
        rCols.map(c => col(c).as(s"__r_$c")): _*)
    // right rows sort before left rows at equal time → "at or before"
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__t"), col("__isLeft"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = rCols.foldLeft(lTagged.unionByName(rTagged)) { (acc, c) =>
      acc.withColumn(s"__r_$c",
        last(col(s"__r_$c"), ignoreNulls = true).over(w))
    }
    filled.filter(col("__isLeft") === 1)
      .select(keyCols.map(col) ++
        lCols.filterNot(keyCols.contains).map(c => col(s"__l_$c").as(c)) ++
        rCols.map(c => col(s"__r_$c").as(s"$rightPrefix$c")): _*)
  }

  /** SESSIONIZE: assign a per-key session id that increments at gaps
    * larger than `gap` in `timeCol` (same units as the column). */
  def sessionize(df: DataFrame, keyCols: Seq[String], timeCol: String,
      gap: Long, orderTieBreak: Seq[String] = Nil,
      sessionCol: String = "session_id"): DataFrame = {
    val order = (col(timeCol) +: orderTieBreak.map(col)): Seq[Column]
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    df.withColumn("__prev", lag(col(timeCol), 1).over(w))
      .withColumn("__boundary",
        when(col("__prev").isNull || col(timeCol) - col("__prev") > gap, 1)
          .otherwise(0))
      .withColumn(sessionCol, sum(col("__boundary"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev", "__boundary")
  }

  /** MinHash-LSH near-duplicate candidate pairs over an id + token-set
    * DataFrame (`idCol`, `tokensCol: Array[String]`). Returns
    * (a_id, b_id, jaccard) for pairs sharing ≥1 of `bands` signature
    * bands, verified with exact Jaccard ≥ `threshold`. Sub-quadratic:
    * the only shuffles are the signature aggregation and the
    * (band, value) join. Uses the engine's poly_hash +
    * sorted_intersect_count codegen expressions (register via
    * GraftFunctions).
    */
  def minHashPairs(df: DataFrame, idCol: String, tokensCol: String,
      threshold: Double, bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    import graft.queries.HashFrags.{A, B, P}
    require(bands * rowsPerBand <= A.length, s"≤${A.length} hash funcs available")
    val k = bands * rowsPerBand
    val codes = df.select(col(idCol).as("__id"),
        explode(array_distinct(col(tokensCol))).as("__tok"))
      .withColumn("__code", expr("poly_hash(__tok)"))
    val sigCols = (0 until k).map(i =>
      min(expr(s"(${A(i)} * __code + ${B(i)}) % $P")).as(s"__mh$i"))
    val sig = codes.groupBy(col("__id")).agg(sigCols.head, sigCols.tail: _*)
    val bandStructs = (0 until bands).map { b =>
      val v = (0 until rowsPerBand)
        .map(r => s"__mh${b * rowsPerBand + r}")
        .reduce((x, y) => s"($x) * $P + $y")
      s"struct($b AS band, $v AS v)"
    }.mkString("array(", ", ", ")")
    val bandsDf = sig.select(col("__id"), explode(expr(bandStructs)).as("bv"))
      .select(col("__id"), col("bv.band").as("band"), col("bv.v").as("v"))
    val cand = bandsDf.as("x").join(bandsDf.as("y"),
        col("x.band") === col("y.band") && col("x.v") === col("y.v") &&
          col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("a_id"), col("y.__id").as("b_id")).distinct()
    val sets = codes.groupBy(col("__id"))
      .agg(sort_array(collect_set(col("__code"))).as("__cs"))
    // shuffle-hash on the set sides (see jaccardPairsPrefix's note:
    // never sort candidate rows carrying a set payload)
    cand
      .join(sets.select(col("__id").as("a_id"), col("__cs").as("ca"))
        .hint("shuffle_hash"), "a_id")
      .join(sets.select(col("__id").as("b_id"), col("__cs").as("cb"))
        .hint("shuffle_hash"), "b_id")
      .withColumn("inter", expr("sorted_intersect_count(ca, cb)"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("ca")) + size(col("cb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** MinHash band keys over an id + SORTED distinct code-set frame
    * (`shingle_code_set` output) — the unit of INCREMENTAL near-dup
    * state. A dedup pipeline persists `(id, band, v)` (the LSH index)
    * and `(id, cs)` (the verify sets) as tables; each arriving batch
    * computes only ITS OWN bands, joins them against the stored index
    * to find candidates vs the entire corpus, then appends its rows to
    * both tables. Corpus work per batch is one index join — the
    * corpus is never re-shingled, re-hashed, or re-banded. See
    * [[incrementalMinHashPairs]] for the batch step.
    */
  def minHashBands(codeSets: DataFrame, idCol: String, setCol: String,
      bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    import graft.queries.HashFrags.{A, B, P}
    require(bands * rowsPerBand <= A.length, s"≤${A.length} hash funcs available")
    val k = bands * rowsPerBand
    val codes = codeSets.select(col(idCol).as("__id"),
      explode(col(setCol)).as("__code"))
    val sigCols = (0 until k).map(i =>
      min(expr(s"(${A(i)} * __code + ${B(i)}) % $P")).as(s"__mh$i"))
    val sig = codes.groupBy(col("__id")).agg(sigCols.head, sigCols.tail: _*)
    val bandStructs = (0 until bands).map { b =>
      val v = (0 until rowsPerBand)
        .map(r => s"__mh${b * rowsPerBand + r}")
        .reduce((x, y) => s"($x) * $P + $y")
      s"struct($b AS band, $v AS v)"
    }.mkString("array(", ", ", ")")
    sig.select(col("__id").as(idCol), explode(expr(bandStructs)).as("bv"))
      .select(col(idCol), col("bv.band").as("band"), col("bv.v").as("v"))
  }

  /** One micro-batch of INCREMENTAL MinHash near-dup detection: find
    * every pair (corpus ↔ batch and batch ↔ batch) at exact Jaccard ≥
    * `threshold`, where the corpus side is the PERSISTED state
    * (`indexBands` = (id, band, v), `indexSets` = (id, cs)) and only
    * the batch's own bands/sets are computed fresh. Returns
    * (a_id, b_id, jaccard) with a_id < b_id. The caller appends
    * `batchBands`/`batchSets` to the state tables afterwards (see
    * IncrementalDedupSpec for the GraftTable-backed loop).
    */
  def incrementalMinHashPairs(batchSets: DataFrame, batchBands: DataFrame,
      indexSets: DataFrame, indexBands: DataFrame, idCol: String,
      setCol: String, threshold: Double): DataFrame = {
    val allBands = indexBands.unionByName(batchBands)
    // candidates must touch the batch: batch bands probe the combined
    // index — corpus-internal pairs were reported in earlier batches
    val cand = batchBands.as("x").join(allBands.as("y"),
        col("x.band") === col("y.band") && col("x.v") === col("y.v") &&
          col(s"x.$idCol") =!= col(s"y.$idCol"))
      .select(least(col(s"x.$idCol"), col(s"y.$idCol")).as("a_id"),
        greatest(col(s"x.$idCol"), col(s"y.$idCol")).as("b_id"))
      .distinct()
    val allSets = indexSets.unionByName(batchSets)
    // shuffle-hash on the set sides (see jaccardPairsPrefix's note)
    cand
      .join(allSets.select(col(idCol).as("a_id"), col(setCol).as("ca"))
        .hint("shuffle_hash"), "a_id")
      .join(allSets.select(col(idCol).as("b_id"), col(setCol).as("cb"))
        .hint("shuffle_hash"), "b_id")
      .withColumn("inter", expr("sorted_intersect_count(ca, cb)"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("ca")) + size(col("cb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** One batch of INCREMENTAL exact gram-overlap detection over a
    * persisted inverted gram index — the continuous form of the
    * substring-dedup / decontamination shapes (q92/q93) and the last
    * member of the incremental family (MinHash bands, IVF cells, bloom
    * sketch, PQ codes): the corpus is gram-exploded ONCE into `(id,
    * code)` index rows; each arriving batch probes the index with ITS
    * OWN codes and then appends them. Inputs are DISTINCT `(idCol,
    * codeCol)` rows on both sides (hash grams with `poly_hash` to keep
    * the index compact); an id must not appear on both sides.
    *
    * Returns (a_id, b_id, shared) for pairs touching the batch with
    * ≥ `minShared` common codes — corpus-internal pairs were reported
    * by earlier steps. Both probe joins are keyed on the code and the
    * count aggregation on the pair: no broadcast, no driver state. */
  def incrementalGramPairs(batchCodes: DataFrame, indexCodes: DataFrame,
      idCol: String, codeCol: String, minShared: Long = 1L): DataFrame = {
    require(minShared >= 1, s"minShared >= 1: $minShared")
    // corpus↔batch: each shared code contributes exactly one row
    val vsIndex = batchCodes.as("x").join(indexCodes.as("y"),
        col(s"x.$codeCol") === col(s"y.$codeCol") &&
          col(s"x.$idCol") =!= col(s"y.$idCol"))
      .select(least(col(s"x.$idCol"), col(s"y.$idCol")).as("a_id"),
        greatest(col(s"x.$idCol"), col(s"y.$idCol")).as("b_id"))
    // batch↔batch: one direction only, or every shared code counts twice
    val vsBatch = batchCodes.as("x").join(batchCodes.as("y"),
        col(s"x.$codeCol") === col(s"y.$codeCol") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a_id"), col(s"y.$idCol").as("b_id"))
    vsIndex.unionByName(vsBatch)
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Prefix-filtered inverted-index Jaccard pairs — the SPARSE-corpus
    * exact near-dup path (the all-pairs scan of
    * `DedupQueries.exactJaccardPairs` is the dense-corpus choice; this
    * is the alternative its scaladoc names). Input: `idCol` + a SORTED
    * distinct code array (`shingle_code_set` output). The classic
    * ppjoin-style cascade:
    *
    *  1. length filter — Jaccard ≥ τ forces |a∩b| ≥ τ·|a∪b| ≥
    *     τ·max(|a|,|b|), so min size ≥ τ·max size: pairs outside the
    *     size ratio never verify;
    *  2. prefix filter — index only the first |s| − ⌈τ·|s|⌉ + 1 codes
    *     of each sorted set: two qualifying sets MUST share a prefix
    *     code (fewer than ⌈τ·|s|⌉ overlaps are impossible otherwise),
    *     so the inverted-index join touches Σ df(prefix)² candidate
    *     rows instead of Σ df² — the gap grows with τ;
    *  3. positional filter — a match at (sorted) positions p_a, p_b
    *     bounds the overlap by the codes remaining at/after the match:
    *     |a∩b| ≤ min(|a|−p_a, |b|−p_b), while Jaccard ≥ τ needs
    *     |a∩b| ≥ ⌈τ/(1+τ)·(|a|+|b|)⌉. Rows whose bound cannot reach
    *     the requirement drop INSIDE the join, before the pair-distinct
    *     shuffle (safe: both arrays share one sort order, so a
    *     qualifying pair's first shared prefix code always passes);
    *  4. exact verify — `sorted_intersect_count` on the full arrays.
    *
    * Before any of that, the universe is re-ranked by ASCENDING global
    * document frequency (the ppjoin paper's canonical order): the
    * prefix filter holds under any total order, so putting the RAREST
    * codes into every prefix minimizes the Σ df² candidate mass the
    * equi-join materializes — the single biggest lever on a corpus
    * whose hot shingles would otherwise land in prefixes at random.
    * Results are identical (the recode is an order-preserving
    * bijection); the price is one linear df aggregation + recode join.
    *
    * Every stage is a keyed shuffle (code, then pair, then id) — no
    * broadcast of the corpus, no driver state: the 100 TB shape. At
    * low τ the prefix approaches the whole set and the dense-corpus
    * broadcast scan wins instead; measure at your τ.
    *
    * The input is checkpointed and counted once, and the returned frame
    * reads that checkpoint lazily: after materializing the result, call
    * [[releaseCheckpoints]] on it to drop the blocks without waiting
    * for a driver GC.
    */
  def jaccardPairsPrefix(codeSets: DataFrame, idCol: String, setCol: String,
      tau: Double): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau in (0,1]: $tau")
    val (sets, n) = countedSets(codeSets, idCol, setCol)
    prefixPairs(sets, n, tau)
  }

  /** Checkpoint `df` and count it in one pass: the checkpoint is lazy,
    * so the count's job writes its blocks and the upstream runs once. */
  private def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val cp = df.localCheckpoint(eager = false)
    (cp, cp.queryExecution.toRdd.count())
  }

  /** The checkpointed, counted (__id, __cs, __len) projection every
    * Jaccard entry starts from (shingling/hashing upstream runs once). */
  private def countedSets(codeSets: DataFrame, idCol: String,
      setCol: String): (DataFrame, Long) =
    checkpointCounted(codeSets.select(col(idCol).as("__id"),
      col(setCol).as("__cs"), size(col(setCol)).as("__len")))

  /** The prefix route over [[countedSets]]' output; the result reads
    * its checkpoint (or, above the re-rank crossover, the re-ranked one). */
  private def prefixPairs(sets: DataFrame, n: Long, tau: Double): DataFrame = {
    val ranked = freqRanked(sets, n)
    // EVERY τ-dependent filter in the cascade is nudged by a relative
    // epsilon in the ADMIT direction: τ·len (and τ/(1+τ)) round UP in
    // binary for many τ (e.g. 100·0.55 = 55.000000000000006, τ=0.2 →
    // 0.1666…69), and an over-rounded bound silently drops
    // exact-boundary pairs the verify stage — and the all-pairs oracle
    // — would keep. The nudge only admits extra candidates, which the
    // exact verify prunes identically on both engines.
    // dedup AFTER the verify: the equi-join's duplicate hits (one per
    // shared prefix code) verify to bit-identical rows, and deduping
    // every candidate first shuffled 6.4 M rows to keep 3.7 M at
    // sf0.1/τ=0.5, of which 256 survive — behind the τ filter the
    // distinct sees survivors only.
    val cand = prefixCandidates(ranked, tau, dedup = false)
    // verify-join physical shape by corpus size `n` (an upper bound on
    // the re-ranked corpus, which drops empty sets): up to ~32 k sets ×
    // a few hundred bytes the corpus side broadcasts and candidates
    // never shuffle; above, shuffle-hash builds per-partition maps on
    // the corpus slice and STREAMS the narrow id pairs (SMJ would SORT
    // candidates carrying a set payload — ScaleBench factor 20
    // measured 987 M survivors).
    def side(idAs: String, csAs: String): DataFrame = {
      val s = ranked.select(col("__id").as(idAs), col("__cs").as(csAs))
      if (n <= 32768) broadcast(s) else s.hint("shuffle_hash")
    }
    cand
      .join(side("a_id", "ca"), "a_id")
      .join(side("b_id", "cb"), "b_id")
      .withColumn("inter", expr("sorted_intersect_count(ca, cb)"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("ca")) + size(col("cb")) - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("a_id"), col("b_id"), col("inter").cast("long").as("inter"),
        col("jaccard"))
      .dropDuplicates("a_id", "b_id")
  }

  /** CANONICAL UNIVERSE ORDER (round-12 verdict #5; the ppjoin
    * paper's central lever): the prefix filter is valid under ANY
    * global total order, and the candidate mass is Σ df(code)² over
    * PREFIX codes — so re-rank the universe by ASCENDING document
    * frequency and every prefix holds its set's RAREST codes. Hash
    * order (shingle_code_set's output) puts hot codes into prefixes
    * at random and the equi-join's df² blows up on exactly those; df
    * order collapses it. Rank = position in the (df, code) sort —
    * injective and order-preserving; built by one distributed sort +
    * zipWithIndex, never a driver collect or a single-partition
    * window. Intersections and set sizes are preserved by the
    * bijection, so pairs and jaccards are IDENTICAL to the hash-order
    * path. Returns a localCheckpoint'd (__id, __cs, __len), re-ranked
    * above the crossover (empty sets drop there: they never reach τ). */
  private[graft] def freqRankedSets(codeSets: DataFrame, idCol: String,
      setCol: String): DataFrame = {
    val (sets, n) = countedSets(codeSets, idCol, setCol)
    freqRanked(sets, n)
  }

  /** [[freqRankedSets]] over [[countedSets]]' output; above the
    * crossover it frees `sets` once the re-ranked checkpoint exists. */
  private def freqRanked(sets: DataFrame, n: Long): DataFrame = {
    // the recode is a linear overhead that pays for itself through the
    // quadratic candidate join — but only once the corpus is big
    // enough for Σ df² to dominate (measured: 10 k docs 12.7 s → 4.3 s
    // WITH recode; 5 k docs 5.4 s → 6.9 s, overhead-bound). Below the
    // crossover keep the input's own sorted hash order — the filter
    // cascade is order-agnostic, results identical either way.
    if (n <= 8192) return sets
    val sp = sets.sparkSession
    import sp.implicits._
    val rankDf = sets.select(explode(col("__cs")).as("__code"))
      .groupBy("__code").agg(count(lit(1)).as("__df"))
      .orderBy(col("__df"), col("__code"))
      .rdd.zipWithIndex()
      .map { case (r, i) => (r.getLong(0), i) }
      .toDF("__code", "__rank")
    val ranked = sets.select(col("__id"), explode(col("__cs")).as("__code"))
      .join(rankDf.hint("shuffle_hash"), "__code")
      .groupBy("__id")
      .agg(sort_array(collect_list(col("__rank"))).as("__cs"),
        count(lit(1)).cast("int").as("__len"))
      .localCheckpoint()
    releaseCheckpoints(sets) // both consumers materialized into `ranked`
    ranked
  }

  /** The ppjoin candidate stage, shared by the production path and the
    * ScaleBench survivor probe: prefix explode + equi-join on codes
    * with the length and positional filters INSIDE the join condition
    * (cheap conjuncts prune before the pair materializes downstream;
    * `__pos` is 0-based, so |s|−pos codes remain at/after the match),
    * deduped to distinct (a_id, b_id) when `dedup` (the survivor-probe
    * unit); the pairs path passes dedup=false and dedups AFTER the
    * verify instead. Every returned pair costs one sorted-merge
    * verify. */
  private def prefixCandidates(sets: DataFrame, tau: Double,
      dedup: Boolean = true): DataFrame = {
    val eps = 1e-6
    val pref = sets.select(col("__id"), col("__len"),
        posexplode(slice(col("__cs"), lit(1),
          (col("__len") - ceil(col("__len") * tau - col("__len") * eps) + 1)
            .cast("int"))))
      .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "__code")
      // the candidate join's parallelism is inherited from THIS frame
      // (its other side broadcasts, and nothing downstream reshuffles
      // until the dedup): a small corpus scans as one partition, which
      // serialized the Σdf² equi-join + verify onto one core (measured
      // 2.6 s for the join alone at sf0.1). The prefix rows are narrow
      // and tiny relative to the candidate mass they fan into — spread
      // them across the cluster before the join.
      .repartition(sets.sparkSession.sparkContext.defaultParallelism)
    val raw = pref.as("x").join(pref.as("y"),
        col("x.__code") === col("y.__code") &&
          col("x.__id") < col("y.__id") &&
          col("y.__len") * tau - col("y.__len") * eps <= col("x.__len") &&
          col("x.__len") * tau - col("x.__len") * eps <= col("y.__len") &&
          least(col("x.__len") - col("x.__pos"), col("y.__len") - col("y.__pos"))
            >= ceil(lit(tau / (1 + tau)) * (col("x.__len") + col("y.__len"))
              - lit(eps) * (col("x.__len") + col("y.__len"))))
      .select(col("x.__id").as("a_id"), col("y.__id").as("b_id"))
    if (dedup) raw.distinct() else raw
  }

  /** ppjoin post-filter SURVIVOR count (ScaleBench probe, round-9
    * verdict #6): distinct candidate pairs that pass the in-join
    * length/positional filters and reach the verify stage — the
    * prefix path's REAL verify workload, vs [[prefixCandidateMass]]'s
    * Σ df² upper bound which counts every equi-join hit before those
    * conjuncts prune. */
  private[graft] def prefixSurvivorCount(sets: DataFrame, tau: Double): Long =
    prefixCandidates(sets, tau).count()

  /** Candidate-pair mass of the ppjoin prefix path at threshold `tau`:
    * Σ over prefix codes of df², where df is the code's document
    * frequency WITHIN prefixes — each equi-join candidate is one
    * sorted-merge verify, so this is the prefix path's work in the
    * same unit as the dense scan's n²/2. One linear aggregation (the
    * same explode the prefix path itself performs). `sets` must carry
    * (__cs sorted codes, __len). */
  private[graft] def prefixCandidateMass(sets: DataFrame,
      tau: Double): Long = {
    val eps = 1e-6
    sets.select(explode(slice(col("__cs"), lit(1),
        (col("__len") - ceil(col("__len") * tau - col("__len") * eps) + 1)
          .cast("int"))).as("__c"))
      .groupBy(col("__c")).agg(count(lit(1)).as("__df"))
      .agg(coalesce(sum(col("__df") * col("__df")), lit(0L)).as("__m"))
      .head().getLong(0)
  }

  /** DENSITY-ADAPTIVE exact Jaccard pairs: routes between the two
    * exact formulations by MEASURED corpus statistics, not a guess.
    * The prefix-filtered inverted-index join ([[jaccardPairsPrefix]])
    * is sub-quadratic on sparse shingle spaces but materializes
    * Σ df² candidates — on a dense corpus (small hot vocabulary) that
    * exceeds the n²/2 pairs of the broadcast scan it was meant to
    * avoid. Both costs are one codegen sorted-merge per unit, so they
    * are directly comparable: the router pays one linear aggregation
    * ([[prefixCandidateMass]]) and picks the smaller. The dense route
    * is additionally gated by `denseMaxDocs` — above it the set-side
    * broadcast stops fitting in an executor regardless of density
    * (the same idea as [[connectedComponents]]' driver cutoff).
    *
    * Both routes return identical results (exact verify; boundary
    * epsilon only ever ADMITS candidates): (a_id, b_id, inter,
    * jaccard ≥ tau). The input is checkpointed and counted once, and
    * either route's result reads that `localCheckpoint` — call
    * [[releaseCheckpoints]] after materializing.
    *
    * The mass estimate is measured in the INPUT's hash order, while
    * the prefix route itself re-ranks by document frequency
    * ([[freqRankedSets]]) and typically materializes 2–5× less — so
    * the router is CONSERVATIVE toward the dense route. That bias is
    * safe: it only matters near the crossover, where both routes cost
    * about the same, and the dense route is additionally capped by
    * `denseMaxDocs` anyway. */
  def jaccardPairsAuto(codeSets: DataFrame, idCol: String, setCol: String,
      tau: Double, denseMaxDocs: Long = 16384,
      bitmapMaxVocab: Int = BitmapMaxVocab): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau in (0,1]: $tau")
    // one pass feeds the stats pass + whichever route wins
    val (sets, n) = countedSets(codeSets, idCol, setCol)
    // n < 2 → no pairs: take the dense route without the stats pass
    // (prefixCandidateMass' sum() over an empty frame is null)
    val useDense = n <= denseMaxDocs && (n < 2 || {
      val densePairs = n * (n - 1) / 2
      densePairs <= prefixCandidateMass(sets, tau) / 2
    })
    if (!useDense) prefixPairs(sets, n, tau)
    else {
      // BIT-PARALLEL verify (r18 optimization round): a corpus is only
      // ever routed dense because its vocabulary is HOT — which also
      // means it is small. Measure it (one bounded collect); when it
      // indexes into ≤ BitmapMaxVocab bits and the recoded broadcast
      // stays executor-safe, recode every set to a fixed-width bitmap
      // over the sorted code universe: the per-pair intersect becomes
      // V/64 word ANDs + popcounts instead of a |set|-step merge walk.
      // popcount(a AND b) is EXACTLY |a ∩ b| for code SETS (the
      // operator contract — shingle_code_set emits sorted DISTINCT
      // codes), lengths come from the same __len ints, and jaccard
      // keeps the identical double arithmetic, so the output is
      // bit-identical to the merge-walk path (OperatorsSpec pins the
      // two branches against each other). Oversized vocabularies keep
      // the merge walk.
      // null codes are dropped from the vocab measure (a null element
      // can't index a bitmap; the merge-walk verify answers null for
      // such a set and the pair is excluded — the UDF below mirrors
      // that by emitting a null bitmap, r18 ADVICE)
      val vocab =
        if (bitmapMaxVocab <= 0) Array.empty[Long]
        else sets.select(explode(col("__cs")).as("__c")).distinct()
          .filter(col("__c").isNotNull)
          .limit(bitmapMaxVocab + 1).collect().map(_.getLong(0))
      val useBitmap = bitmapMaxVocab > 0 && vocab.length <= bitmapMaxVocab &&
        n * (vocab.length / 8 + 48) <= 64L * 1024 * 1024
      val payload =
        if (useBitmap) {
          val index = vocab.sorted.zipWithIndex.toMap
          val bc = sets.sparkSession.sparkContext.broadcast(index)
          val words = (math.max(vocab.length, 1) + 63) / 64
          // null-safe (r18 ADVICE): a null set — or a set carrying a
          // null element, which violates the code-set contract —
          // yields a NULL bitmap; BitmapAndCount propagates the null
          // and the pair is excluded, exactly like the merge-walk
          // verify's nullSafeEval answer on such input
          val toBitmap = udf((cs: Seq[java.lang.Long]) => {
            if (cs == null || cs.contains(null)) null
            else {
              val arr = new Array[Long](words)
              val ix = bc.value
              cs.foreach { c =>
                val i = ix(c.longValue()); arr(i >> 6) |= 1L << (i & 63) }
              arr
            }
          })
          sets.withColumn("__pl", toBitmap(col("__cs")))
        } else sets.withColumn("__pl", col("__cs"))
      val a = payload.select(col("__id").as("a_id"), col("__pl").as("ca"),
        col("__len").as("la"))
      val b = payload.select(col("__id").as("b_id"), col("__pl").as("cb"),
        col("__len").as("lb"))
        // AQE would coalesce this few-MB side to one partition and
        // serialize the whole pair scan onto one core; the scan's cost
        // is quadratic in rows, not bytes
        .repartition(256, col("b_id"))
      // jaccard test inside the join condition with the trivial id
      // conjunct FIRST, so the codegen'd intersect runs for n²/2
      // unordered pairs, not all n² ordered ones. (la + lb) are the
      // same size() ints both branches — the double arithmetic is
      // unchanged from the pre-bitmap shape.
      val inter =
        if (useBitmap) expr("bitmap_and_count(ca, cb)")
        else expr("sorted_intersect_count(ca, cb)")
      val jac = inter.cast("double") / (col("la") + col("lb") - inter)
      broadcast(a).join(b, col("a_id") < col("b_id") && jac >= tau)
        .select(col("a_id"), col("b_id"),
          inter.cast("long").as("inter"), jac.as("jaccard"))
    }
  }

  /** Vocabulary cap for the dense route's bitmap verify: 32768 bits =
    * 4 KB per document worst-case, and the n·V/8 broadcast guard in
    * the branch keeps the recoded corpus executor-safe. */
  private val BitmapMaxVocab = 32768

  /** Connected components over an undirected edge list — the dedup
    * pipeline's clustering step. Returns (id, cluster) where cluster =
    * min id in the component. Up to `driverFastPathMaxEdges` input
    * edge ROWS are collected and folded by driver-side union-find (0
    * Spark jobs for a local edge list, else 2: count, collect). Larger
    * graphs run iterative min-label propagation: each round joins
    * labels across the mirrored edges and keeps the minimum (two
    * shuffles and a fixed ~1s of scheduling per round; near-dup graphs
    * are shallow). Deterministic: the fixed point is min-reachable-id.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20, driverFastPathMaxEdges: Long = 1_000_000L): DataFrame = {
    val e0 = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
    // sized BEFORE anything is collected; a non-local input is
    // checkpointed by the counting pass, so the (possibly expensive)
    // upstream pair computation runs once whichever path wins
    val (e, nEdges) = e0.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        (e0, lr.data.length.toLong)
      case _ => checkpointCounted(e0)
    }
    if (nEdges <= driverFastPathMaxEdges) {
      val idType = e.schema("src").dataType
      implicit val ord: Ordering[Any] = (idType match {
        case LongType | IntegerType | ShortType =>
          Ordering.by((x: Any) => x.asInstanceOf[Number].longValue())
        case StringType => Ordering.by((x: Any) => x.asInstanceOf[String])
        case other =>
          throw new IllegalArgumentException(s"unsupported id type $other")
      })
      val parent = scala.collection.mutable.Map.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      e.collect().foreach { row =>
        val (a, b) = (row.get(0), row.get(1))
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
      }
      releaseCheckpoints(e) // collected to the driver; blocks not needed
      val rows = parent.keys.toSeq.groupBy(find).toSeq.flatMap {
        case (root, members) => members.map(id =>
          org.apache.spark.sql.Row(id, root)) // root IS the min by construction
      }
      val schema = StructType(Seq(StructField("id", idType),
        StructField("cluster", idType)))
      import scala.jdk.CollectionConverters._
      return edges.sparkSession.createDataFrame(rows.asJava, schema)
    }
    // normalize partitioning: upstream operators may leave hundreds of
    // tiny partitions whose per-task overhead dwarfs the graph work
    val e1 = e.repartition(edges.sparkSession.sparkContext.defaultParallelism)
    val sym = e1
      .unionByName(e1.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint() // reused every round
    releaseCheckpoints(e) // sym materialized eagerly; e is superseded
    // localCheckpoint per round truncates lineage — without it the
    // plan (and driver heap) grows with every iteration
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // candidate labels seen across one hop
      val viaEdges = sym.join(labels, col("dst") === col("id"))
        .select(col("src").as("id"), col("cluster"))
      val next = labels.unionByName(viaEdges)
        .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
        .localCheckpoint()
      val changed = next.as("n")
        .join(labels.as("o"), col("n.id") === col("o.id"))
        .filter(col("n.cluster") =!= col("o.cluster")).count()
      releaseCheckpoints(labels) // superseded by next (already materialized)
      labels = next
      converged = changed == 0
      i += 1
    }
    releaseCheckpoints(sym) // the fixed point no longer references edges
    labels
  }

  /** RANGE (interval) JOIN: every point row whose `pointCol` falls in
    * an interval row's `[loCol, hiCol)`. Naive formulations plan as a
    * BroadcastNestedLoopJoin (every point × every interval — quadratic,
    * dead at scale). Here both sides are bucketed into fixed-width bins
    * of the point domain: an interval is exploded to the bins it covers,
    * a point belongs to exactly one bin, and the join becomes an
    * EQUI-join on the bin (shuffle/broadcast hash join, linear) with the
    * precise range predicate applied as a post-filter. No duplicates:
    * each (point, interval) pair meets in exactly the point's bin.
    *
    * Pick `binWidth` near the typical interval length: intervals then
    * explode to ~2 bins each, and bin fan-out (not data volume) stays
    * the scale knob. All three columns must be numeric (cast timestamps
    * to epoch first). Interval columns are emitted as-is — prefix them
    * before calling if names collide with point columns.
    */
  def rangeJoin(points: DataFrame, pointCol: String,
      intervals: DataFrame, loCol: String, hiCol: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    // empty intervals (hi <= lo) match nothing; dropping them up front
    // also keeps sequence() ascending (it would count DOWN on stop<start)
    val binned = intervals.filter(col(hiCol) > col(loCol)).withColumn("__bin",
      explode(sequence(floor(col(loCol) / binWidth).cast("long"),
        floor((col(hiCol) - 1) / binWidth).cast("long"))))
    val pts = points.withColumn("__bin",
      floor(col(pointCol) / binWidth).cast("long"))
    pts.join(binned, Seq("__bin"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("__bin")
  }

  /** SEQUENCE PACKING: assign each row a bin id such that consecutive
    * rows (in `orderCol` order within `partitionCols`) fill up to
    * `budget` units of `sizeCol` per bin — the training-data packing
    * step (concatenate documents up to a token budget per sample). The
    * greedy-in-order rule is bin = floor(preceding-cumulative-size /
    * budget): deterministic, one window pass, no iteration. Packing is
    * per partition key (shard/source), so no global sort bottleneck —
    * at 100 TB the partition key is the shard, and each shard packs
    * independently.
    */
  def packSequences(df: DataFrame, partitionCols: Seq[String],
      orderCol: String, sizeCol: String, budget: Long,
      binCol: String = "bin"): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(col(sizeCol)).over(w))
      .withColumn(binCol,
        floor((col("__cum") - col(sizeCol)) / budget).cast("long"))
      .drop("__cum")
  }

  /** Deterministic hash sampling: keep a row iff
    * `poly_hash(key) % 1000 < permille`. Unlike rand()-based sampling
    * this is reproducible across runs, engines, and repartitioning —
    * the property a training-data pipeline needs so a re-run selects
    * the SAME subset (and so sampling composes with incremental
    * processing). `permille` may be a per-row Column (e.g. a per-source
    * rate) for weighted dataset mixtures. Requires
    * [[graft.functions.GraftFunctions.register]].
    */
  def hashSample(df: DataFrame, key: Column, permille: Column): DataFrame = {
    // poly_hash is a plain polynomial fold — structured keys (common
    // prefixes + short numeric suffixes) leave its low digits biased.
    // One LCG step mod the same prime disperses consecutive hashes
    // (multiplication mod a prime is a bijection with large strides)
    // before the ‰ bucket. All intermediates < 2^63 (ANSI-safe).
    val h = call_function("poly_hash", key)
    df.filter((h * lit(1103515245L) + lit(12345L)) % lit(1000000007L)
      % 1000 < permille)
  }

  /** Distributed per-group row_number over a total order WITHOUT the
    * single-task-per-group window bottleneck: `row_number() OVER
    * (PARTITION BY g ORDER BY o)` ships every group to one task — with
    * few, large groups (e.g. 3 return flags over 600 M rows) that is a
    * 3-core sort of the whole table. Here: range-repartition on
    * (group, order) so each task holds a contiguous slice, count rows
    * per (partition, group) — a metadata-sized collect — prefix-sum
    * offsets on the driver, then stream each sorted partition once
    * adding offset + local index. Same numbers as the window, full
    * cluster parallelism. Determinism: the rank is a function of the
    * total order only, not of where range boundaries land; `orderCols`
    * must be a total order (include a unique tie-break).
    *
    * Crossover: below ~one-task-per-group of data the plain window's
    * single shuffle wins (measured at sf0.1: 3 groups × 200k rows sort
    * faster in 3 tasks than this two-shuffle pipeline) — reach for this
    * when groups are few AND huge, the regime where the window
    * serializes onto a handful of executors or spills.
    */
  def groupedRank(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], rankCol: String = "rn"): DataFrame = {
    import scala.jdk.CollectionConverters._
    val spark = df.sparkSession
    val n = spark.sessionState.conf.numShufflePartitions
    val keys = (groupCols ++ orderCols).map(col)
    // range-partition defines the contiguous slices; the slice id rides
    // along as a column so downstream shuffles can't lose it
    val tagged = df.repartitionByRange(n, keys: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint() // two consumers: counts pass + rank pass
    val countRows = tagged
      .groupBy(col("__pid") +: groupCols.map(col): _*).count().collect()
    // offset of (pid, group) = rows of the same group in earlier slices
    val offRows = countRows.groupBy(r => (1 to groupCols.size).map(r.get))
      .iterator.flatMap { case (g, rows) =>
        val parts = rows.map(r => r.getInt(0) -> r.getLong(groupCols.size + 1))
          .sortBy(_._1)
        val cum = parts.map(_._2).scanLeft(0L)(_ + _) // cum(i) = rows before slice i
        parts.zip(cum).map { case ((pid, _), off) =>
          org.apache.spark.sql.Row.fromSeq(pid +: g :+ off)
        }
      }.toSeq
    val offSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__pid",
        org.apache.spark.sql.types.IntegerType) +:
        groupCols.map(c => df.schema(c)) :+
        org.apache.spark.sql.types.StructField("__off",
          org.apache.spark.sql.types.LongType))
    val offDf = spark.createDataFrame(offRows.asJava, offSchema)
    // per-slice-per-group window: n × |groups| small sorts in parallel —
    // never one task per group
    val w = Window.partitionBy(col("__pid") +: groupCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    tagged.join(broadcast(offDf), "__pid" +: groupCols)
      .withColumn(rankCol, row_number().over(w).cast("long") + col("__off"))
      .drop("__pid", "__off")
  }

  /** Per-group `(row_number over a total order, group row count)` with
    * SIZE-SWITCHED execution — the few-huge-groups percentile/median
    * shape (q44/q77). Below the crossover the plain per-group window
    * (one shuffle, one sort task per group) wins; once the LARGEST
    * group exceeds `maxGroupRows` — more than one task's sort budget —
    * it serializes the whole group onto one core (and spills), so the
    * router switches to [[groupedRank]]'s distributed rank. The probe
    * is a partial-aggregated per-group count — metadata-sized output in
    * this regime by definition (few groups) — and its result doubles as
    * the broadcast `countCol`, so neither path pays a `count(*) OVER
    * (PARTITION BY g)` second window.
    *
    * `maxGroupRows` default: measured on local[32], 3 groups
    * (round 7) — at 1M rows/group the two paths tie
    * (2.40s vs 2.45s), at 2M the distributed path already wins 1.6x
    * (4.85s vs 3.04s), at 16M it wins 2.9x (50.6s vs 17.6s, the window
    * regime sorting 16M-row groups on 3 of 32 cores). The crossover is
    * LOW because the window path wastes (cores - groups) of the
    * machine; 1M rows/group is where per-task overhead of the extra
    * shuffle stops mattering.
    *
    * Callers with an expensive upstream plan should cache/checkpoint
    * `df` first — the probe and the ranking pass each evaluate it. */
  def rankAndCountByGroup(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], rankCol: String = "rn",
      countCol: String = "n", maxGroupRows: Long = 1_000_000L): DataFrame = {
    val counts = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as(countCol))
    val biggest = counts.agg(max(col(countCol))).collect()(0)
    if (biggest.isNullAt(0)) return df // empty input: nothing to rank
      .withColumn(rankCol, lit(0L)).withColumn(countCol, lit(0L))
    val ranked =
      if (biggest.getLong(0) <= maxGroupRows) {
        val w = Window.partitionBy(groupCols.map(col): _*)
          .orderBy(orderCols.map(col): _*)
        df.withColumn(rankCol, row_number().over(w).cast("long"))
      } else groupedRank(df, groupCols, orderCols, rankCol)
    // null-SAFE join keys: groupBy treats null as a group (and the
    // window ranks its rows), but an equi-join would drop them — the
    // window formulation this replaces kept null-keyed groups
    val cond = groupCols.map(c => ranked(c) <=> counts(c)).reduce(_ && _)
    ranked.join(broadcast(counts), cond)
      .select(ranked.columns.map(ranked(_)).toIndexedSeq :+ counts(countCol): _*)
  }

  /** Exact GLOBAL rank over a unique total order WITHOUT the
    * single-partition window Spark plans for `Window.orderBy` with no
    * partition key (one task sorting the whole table — the q49-class
    * scale-killer). Range-partition on the order key, count rows per
    * slice (one metadata-sized collect), broadcast the per-slice prefix
    * sums, then rank = slice offset + intra-slice row_number — n
    * parallel slice sorts instead of one global one. Returns the ranked
    * frame and the total row count (callers derive percent_rank =
    * (rank-1)/(N-1), cume_dist = rank/N, ntile from it for free,
    * because the order is unique).
    */
  def globalRank(df: DataFrame, orderCols: Seq[String],
      rankCol: String = "rank"): (DataFrame, Long) = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = spark.sessionState.conf.numShufflePartitions
    val tagged = df.repartitionByRange(n, orderCols.map(col): _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint() // two consumers: counts pass + rank pass
    val counts = tagged.groupBy(col("__pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val total = counts.map(_._2).sum
    val offsets = counts.map(_._2).scanLeft(0L)(_ + _).zip(counts)
      .map { case (off, (pid, _)) => (pid, off) }
    val offDf = broadcast(offsets.toSeq.toDF("__pid", "__off"))
    val w = Window.partitionBy(col("__pid")).orderBy(orderCols.map(col): _*)
    val ranked = tagged.join(offDf, "__pid")
      .withColumn(rankCol, row_number().over(w).cast("long") + col("__off"))
      .drop("__pid", "__off")
    (ranked, total)
  }

  /** Exact ntile(k) bucket from a [[globalRank]] rank column — the
    * same uneven-bucket rule SQL ntile uses (first N mod k buckets get
    * one extra row). Pure integer arithmetic on the already-computed
    * rank: no extra shuffle, no window. */
  def ntileFromRank(rankCol: String, total: Long, k: Int): Column = {
    val q = total / k
    val rem = total % k
    val boundary = (q + 1) * rem // ranks <= boundary fall in the fat buckets
    expr(s"CAST(CASE WHEN $q = 0 OR $rankCol <= $boundary " +
      s"THEN (($rankCol - 1) DIV ${q + 1}) + 1 " +
      s"ELSE $rem + (($rankCol - $boundary - 1) DIV $q) + 1 END AS INT)")
  }

  /** Approximate ntile for when exact bucket boundaries aren't worth a
    * rank pass at all: one `approx_percentile` aggregation yields k-1
    * boundaries, bucket assignment is a broadcast-free scalar compare.
    * Error is bounded by the sketch accuracy; buckets are monotone in
    * the order column by construction. The 100-TB default: two scans,
    * zero shuffles of the data itself. */
  def approxNtile(df: DataFrame, orderCol: String, k: Int,
      outCol: String = "tile", accuracy: Int = 10000): DataFrame = {
    require(k >= 1)
    val qs = (1 until k).map(_.toDouble / k)
    val row = df.agg(approx_percentile(col(orderCol),
      typedLit(qs), lit(accuracy)).as("bs")).collect()(0)
    val bs = row.getSeq[Any](0).map(x => x.toString.toDouble)
    val tile = bs.foldLeft(lit(1)) { (acc, b) =>
      acc + when(col(orderCol).cast("double") > lit(b), 1).otherwise(0)
    }
    df.withColumn(outCol, tile)
  }

  /** Exact top-k rows per group by `orderBy` (ties broken by the given
    * columns) — planned as WindowGroupLimit: each partition ships at
    * most k rows per group to the shuffle. */
  def topKPerGroup(df: DataFrame, keyCols: Seq[String], orderBy: Seq[Column],
      k: Int, rankCol: String = "rank"): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderBy: _*)
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** Bits for a Bloom sketch of `n` keys at false-positive rate `fpp`
    * (the standard m = −n·ln(p)/ln²2), clamped to Spark's
    * runtime-filter cap. */
  private def bloomBits(spark: org.apache.spark.sql.SparkSession,
      n: Long, fpp: Double): Long = {
    val maxBits = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864")
      .toLong
    math.min(maxBits, math.max(64L,
      math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong))
  }

  /** Distributed Bloom sketch of `keyCol` as bytes — Catalyst's bloom
    * aggregate (per-partition build, partial merge; the key set never
    * collects anywhere as strings), serialized in the standard
    * `spark.util.sketch.BloomFilter` stream format. `expectedItems` is
    * the CAPACITY plan, not a measurement: sketches built with the
    * same (expectedItems, fpp) are parameter-compatible and
    * [[bloomMerge]] OR-combines them losslessly — the unit of
    * INCREMENTAL decontamination state (persist the bytes; merge each
    * arriving eval batch's sketch; probe corpus batches against the
    * running union — the sketch twin of the MinHash band index).
    * An empty batch yields the empty sketch with the same parameters.
    * Requires [[graft.functions.GraftFunctions.register]]. */
  def bloomSketch(keys: DataFrame, keyCol: String, expectedItems: Long,
      fpp: Double = 0.01): Array[Byte] = {
    require(fpp > 0 && fpp < 1, s"fpp in (0,1): $fpp")
    require(expectedItems > 0, s"expectedItems > 0: $expectedItems")
    val bits = bloomBits(keys.sparkSession, expectedItems, fpp)
    Option(keys.select(col(keyCol)).filter(col(keyCol).isNotNull)
      .agg(call_function("bloom_agg", xxhash64(col(keyCol)),
        lit(expectedItems), lit(bits)).as("bf"))
      .head().getAs[Array[Byte]]("bf"))
      .getOrElse { // zero rows → the aggregate evals to null
        val out = new java.io.ByteArrayOutputStream()
        org.apache.spark.util.sketch.BloomFilter
          .create(expectedItems, bits).writeTo(out)
        out.toByteArray
      }
  }

  /** OR-union of two parameter-compatible sketches (same
    * expectedItems/fpp at build): exactly the sketch of the key
    * union — bit-identical, not an approximation of the merge. */
  def bloomMerge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val fa = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a))
    val fb = BloomFilter.readFrom(new java.io.ByteArrayInputStream(b))
    fa.mergeInPlace(fb) // throws IncompatibleMergeException on param drift
    val out = new java.io.ByteArrayOutputStream()
    fa.writeTo(out)
    out.toByteArray
  }

  /** `left` reduced to rows whose `leftKey` MIGHT be in `sketch` — the
    * probe half of [[bloomSketch]]: a codegen'd filter evaluated
    * before any shuffle of `left`; only the sketch's bits travel. */
  def bloomPrefilterWith(left: DataFrame, leftKey: String,
      sketch: Array[Byte]): DataFrame =
    left.filter(call_function("bloom_might_contain", lit(sketch),
      xxhash64(col(leftKey))))

  /** Map-side Bloom prefilter: `left` reduced to rows whose `leftKey`
    * MIGHT appear among `right`'s `rightKey`s — no false negatives,
    * ≈`fpp` false positives. One-shot composition of [[bloomSketch]]
    * (sized by the measured distinct key count) + [[bloomPrefilterWith]]. */
  def bloomPrefilter(left: DataFrame, leftKey: String, right: DataFrame,
      rightKey: String, fpp: Double = 0.01): DataFrame = {
    val keys = right.select(col(rightKey)).filter(col(rightKey).isNotNull)
    val n = math.max(1L, keys.distinct().count())
    bloomPrefilterWith(left, leftKey, bloomSketch(keys, rightKey, n, fpp))
  }

  /** EXACT distributed semi-join through a Bloom prefilter — the
    * runtime-filter pattern as a whole operator. [[bloomPrefilter]]
    * cuts `left` to ≈ true hits + fpp·|left| BEFORE the join shuffle,
    * then an exact semi-join against the key set removes the false
    * positives, so the result is exactly `left ⋉ right` while the
    * shuffled probe volume is bounded by the survivor count, not
    * |left|. The decontamination shape at 100 TB: `left` = corpus
    * grams (TBs), `right` = eval-set grams (GBs) — neither side
    * broadcasts, and the corpus-sized shuffle disappears. */
  def semiJoinBloom(left: DataFrame, leftKey: String, right: DataFrame,
      rightKey: String, fpp: Double = 0.01): DataFrame = {
    val pre = bloomPrefilter(left, leftKey, right, rightKey, fpp)
    pre.join(right.select(col(rightKey).as(leftKey)).na.drop(Seq(leftKey)),
      Seq(leftKey), "left_semi")
  }

  /** One PII scrub rule: `countCol` gets the number of `regex` matches
    * in the input text; matches are replaced with `placeholder`. */
  final case class ScrubRule(countCol: String, placeholder: String,
      regex: String)

  /** The default rule set of the C4/Dolma/FineWeb-style scrub pass:
    * email addresses, NANP phone numbers, dotted-quad IPs. The regex
    * subset (character classes, bounded repetition, literals — no \b,
    * no lookaround) behaves identically under Java regex and RE2, so
    * results stay portable across engines. */
  val DefaultPiiRules: Seq[ScrubRule] = Seq(
    ScrubRule("n_emails", "<EMAIL>",
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
    ScrubRule("n_phones", "<PHONE>", "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"),
    ScrubRule("n_ips", "<IP>",
      "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"))

  /** PII DETECTION + REDACTION over a free-text column (the scrub step
    * between crawl and tokenizer): per rule, a `countCol` with the
    * match count, plus `outCol` holding the text with every match
    * replaced by the rule's placeholder.
    *
    * Counts are measured on the ORIGINAL text (rules count
    * independently); redaction applies rules IN ORDER over the running
    * result — give placeholders an alphabet no later rule can match
    * (the angle-bracket tags satisfy this for the default rules).
    *
    * 100 TB shape: pure narrow per-row compute — all counting and
    * replacing happens inside one codegen'd projection attached to the
    * scan, no shuffle, no state. */
  def piiScrub(df: DataFrame, textCol: String,
      rules: Seq[ScrubRule] = DefaultPiiRules,
      outCol: String = "scrubbed"): DataFrame = {
    val withCounts = rules.foldLeft(df) { (d, r) =>
      d.withColumn(r.countCol,
        size(regexp_extract_all(col(textCol), lit(r.regex), lit(0)))
          .cast("long"))
    }
    val scrubbed = rules.foldLeft(col(textCol)) { (c, r) =>
      regexp_replace(c, r.regex, r.placeholder)
    }
    withCounts.withColumn(outCol, scrubbed)
  }
}
