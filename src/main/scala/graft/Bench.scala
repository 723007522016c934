package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints per-query timings plus ONE headline JSON line.
  *
  * Output contract. The driver tail-captures the LAST 2000 CHARS of
  * sbt stdout — a total-byte budget, not a per-line one (r8 proved
  * this: the window boundary cut mid-line into the first per-query
  * line). build.sbt pipes the forked stdout through verbatim (no
  * "[info] " prefixes) and suppresses the trailing "[success]" line.
  * Print order is INVERSE priority (r18): the diagnostic lines
  * (warm/anomaly/band/stmt/scale) come FIRST, the four per-query bq
  * lines next, the headline LAST — so when an epoch's diagnostics run
  * long, tail truncation eats a diagnostic line's head, never
  * per-query data or the totals (r17's artifact lost q1-q5's colds
  * exactly that way).
  *   bq lines: {"bqK":"<id>:<cold>[/<oracle>] ..."} — id is the query
  *     number without the q/zero prefix (1=q01, 100=q100), cold is
  *     this epoch's first timed run in seconds, oracle the intra-epoch
  *     DuckDB seconds ("x" when the oracle didn't run; OMITTED with
  *     its slash when the oracle ran under 0.05s — read as ~0, the
  *     r18 byte-budget rule that keeps ~70 sub-50ms oracles from
  *     costing ~300 tail bytes).
  *   {"rerun":"<id>:<first>><min> ..."} (only when nonempty, sf0.1) —
  *     band outliers re-run once at epoch end (min-of-two cold, r18
  *     verdict #1); the first sample is preserved here and in
  *     target/bench_full.json, which carries the complete per-query
  *     cold/warm/oracle table for machine consumption. Printed LAST
  *     among the diagnostics (directly above the bq lines): tail
  *     truncation must eat the other diagnostics' heads first.
  *   {"warm":"<id>:<warm> ..."} (only when nonempty) — the second-run
  *     time for queries whose cold run was anomalously slower (cold >
  *     1.5x warm and > 0.5s absolute gap). A query listed here is
  *     slow from epoch position (JIT/page-cache/first-job effects),
  *     NOT from its plan.
  *   headline: {"errs":{only failures},"oracle_failed":[...],
  *     "baseline_only":[...],"baseline_total":B,"warm_total":W,
  *     "sf":...,"oracle_total":...,"ratio":...,
  *     "metric":"total","value":N,"unit":"sec"}
  * The headline totals stay cold-run sums (comparable with r≤8).
  *
  * q70/q72 are brute-force oracle anchors for the hash-checked pruned
  * tiers (q95/q97) — `baseline_only`: timed and reported, but excluded
  * from the headline total and the ratio, which reflect the production
  * paths the engine would actually run at scale.
  *
  * When python3+duckdb are present (driver machines), the DuckDB oracle
  * for every SQL-expressible query runs in the SAME process epoch, so
  * the spark/duck ratio — the acceptance signal — is computed
  * intra-epoch and thermal drift cancels. Oracle failures are NOT
  * swallowed: failed names are listed in `oracle_failed` and excluded
  * from BOTH sides of the ratio, keeping the query sets matched.
  * Disable with SPARK_GRAFT_ORACLE=0; absence of python/duckdb
  * degrades to null. */
object Bench {
  /** Quadratic brute baselines kept as the oracle anchors for the
    * hash-proven pruned twins (q95/q97) — never the production path. */
  private val BaselineOnly = Set("q70_knn_brute", "q72_cosine_pairs")

  /** Previous-round per-query band at sf0.1 (round-12 verdict #3):
    * min over the carried floor and the latest measured colds —
    * refreshed in the r19 optimization round from the two
    * post-optimization back-to-back full epochs (BENCH_r19*.json),
    * so this round's improvements become next round's regression floor
    * AND the r19 band-outlier re-run trigger.
    * Any cold run exceeding 2x its band lands
    * in the `band` line with its warm time, so a >2x outlier
    * self-explains in the artifact — the reader separates "epoch
    * position" (warm back inside the band) from a real regression
    * (warm outside too) without consulting the previous artifact.
    * Refresh each round from the latest BENCH_r artifacts; entries are
    * keyed by bare query number. */
  private val PrevBand: Map[Int, Double] = Map(
    1 -> 1.05, 2 -> 1.06, 3 -> 0.6, 4 -> 0.69, 5 -> 0.18, 6 -> 0.74,
    7 -> 0.61, 8 -> 0.34, 9 -> 0.27, 10 -> 0.22, 11 -> 0.31, 12 -> 0.3,
    13 -> 0.35, 14 -> 0.74, 15 -> 0.31, 16 -> 0.37, 17 -> 0.84,
    18 -> 0.39, 19 -> 0.37, 20 -> 0.36, 21 -> 0.3, 22 -> 0.14,
    23 -> 0.96, 24 -> 0.36, 25 -> 0.24, 26 -> 0.19, 27 -> 0.56,
    28 -> 0.21, 29 -> 0.58, 30 -> 0.32, 31 -> 1.09, 32 -> 0.45,
    33 -> 0.39, 34 -> 0.25, 35 -> 0.52, 36 -> 0.2, 37 -> 0.7, 38 -> 0.26,
    39 -> 0.63, 40 -> 0.42, 41 -> 1.62, 42 -> 0.7, 43 -> 0.76,
    44 -> 1.06, 45 -> 0.17, 46 -> 0.44, 47 -> 0.78, 48 -> 0.35,
    49 -> 0.68, 50 -> 0.31, 51 -> 0.36, 52 -> 0.39, 53 -> 0.33,
    54 -> 0.64, 55 -> 0.48, 56 -> 0.91, 57 -> 0.6, 58 -> 0.28,
    59 -> 0.25, 60 -> 0.41, 61 -> 3.13, 62 -> 0.59, 63 -> 1.13,
    64 -> 0.99, 65 -> 0.39, 66 -> 3.16, 67 -> 1.93, 68 -> 0.46,
    69 -> 1.75, 70 -> 0.55, 71 -> 1.15, 72 -> 1.79, 73 -> 0.57,
    74 -> 1.17, 75 -> 0.34, 76 -> 0.29, 77 -> 1.71, 78 -> 0.41,
    79 -> 0.17, 80 -> 0.22, 81 -> 1.39, 82 -> 0.95, 83 -> 0.6,
    84 -> 0.41, 85 -> 0.62, 86 -> 0.28, 87 -> 0.49, 88 -> 0.7,
    89 -> 2.85, 90 -> 0.51, 91 -> 1.43, 92 -> 1.63, 93 -> 1.23,
    94 -> 0.64, 95 -> 1.58, 96 -> 0.9, 97 -> 0.84, 100 -> 1.37,
    101 -> 0.4, 102 -> 2.03, 103 -> 1.44, 104 -> 1.13, 105 -> 1.36,
    106 -> 1.1, 107 -> 1.44, 108 -> 2.01, 109 -> 0.56, 110 -> 2.18,
    111 -> 3.97, 112 -> 1.53, 113 -> 2.36, 114 -> 2.33, 115 -> 3.05,
    116 -> 1.96, 117 -> 2.06, 118 -> 1.77, 119 -> 2.67, 120 -> 0.41,
    121 -> 1.79, 122 -> 2.63)

  /** Environment sentinels (qx-prefixed; r15's probe fleet retired in
    * r16 once the driver comparator's decimal canonicalization was
    * pinned — docs/DIAG_PROTOCOL.md). They are NOT operators —
    * excluding them keeps the headline total comparable across rounds
    * and the per-query lines inside the 2000-char tail window. */
  private def benchable[T](m: Map[String, T]): Map[String, T] =
    m.filterNot(_._1.startsWith("qx"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    System.setProperty("graft.sf.dir", sfDir) // q106/q109 oracle paths
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.configure(spark)
    // noop sink: forces FULL evaluation of every output column —
    // count() would let Catalyst prune projections (and drop sorts),
    // under-measuring vs the oracle baseline which materializes rows.
    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // Drop state a query may leave behind (cached frames, the
    // localCheckpoint blocks iterative operators pin) so one query's
    // storage residue never steals execution memory from the next —
    // each timing measures that query alone.
    def reset(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // Warm through DISTINCT plan shapes (scan+agg, shuffle join, window,
    // string-function corpus) — one warmup query leaves the others'
    // codegen/exchange/sort paths cold and the first measured query of
    // that shape absorbs the JIT cost (r5 bench showed q01 at 9.5s when
    // measured cold vs 1.0s warm; q36 band-flagged every epoch r16-r18
    // at ~8× its warm time for the same reason — it is the first query
    // through the wide string-expression codegen).
    // r18 adds four more shape families whose FIRST measured query
    // otherwise absorbed the kernel's JIT every epoch (quiet-epoch
    // cold/warm gaps: q67 4.1/2.3, q95 3.3/1.9, q54 1.7/0.8, q41
    // band-flagged): q62 warms shingle_code_set + explode/agg (feeds
    // q61-q66/q89/q92/q93), q73 the unit-vec/kmeans/vec_dot path
    // (q67/q70-q73/q95/q97), q40 the CDC condense aggregation, q81 the
    // Engine/SqlRouter/GraftTable DML write path the q102+ chains run.
    Seq("q01_pricing_summary", "q02_revenue_by_nation", "q11_window_rank",
      "q36_function_corpus", "q62_minhash_sig", "q73_ann_ivf",
      "q40_cdc_condense", "q81_replace_upsert")
      .foreach { name =>
        try run(SparkEntry.queries(name))
        catch { case _: Throwable => () } // warmup only
        reset()
      }
    // media-decode kernels (ImageIO/sound/AVI walkers) — a 64-row
    // synthetic decode warms them for a fraction of q119's cost
    try {
      val media = graft.multimodal.MultimodalOps.synthesize(spark, 64)
      graft.multimodal.MultimodalOps.extractFeatures(media).toDF()
        .write.format("noop").mode("overwrite").save()
      graft.multimodal.MultimodalOps.extractFeatures(
          graft.multimodal.MultimodalOps.resizeImages(media, 8, 8)).toDF()
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () } // warmup only
    reset()
    // A failing query must be VISIBLE: record its error string and exit
    // non-zero, so a regression can't masquerade as a near-zero "speedup".
    // Each query runs TWICE (cold, then warm): the cold time is the
    // comparable headline number, the warm time attributes epoch-
    // position anomalies (q23 in r7/r8 driver epochs) in-artifact.
    case class Timing(cold: Double, warm: Double, err: Option[String])
    // query id without the q/zero prefix: q01 -> 1, q100 -> 100
    def qid(name: String): Int = name.tail.takeWhile(_.isDigit).toInt
    // query name -> cold-run per-statement wall times (DML chains only)
    val stmtCold = new java.util.concurrent.ConcurrentHashMap[String, String]()
    // local-iteration filter (comma-separated name substrings): time a
    // handful of queries under the SAME warmup + reset regime as the
    // full run. The driver never sets it — full-suite behavior and the
    // output contract are unchanged.
    val only: String => Boolean = sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(f) if f.nonEmpty => name => f.split(',').exists(name.contains)
      case _ => _ => true
    }
    // fail fast on a filter matching nothing — otherwise the run pays
    // the full oracle pass and then crashes on an empty grouping
    require(benchable(SparkEntry.queries).keys.exists(only),
      "SPARK_GRAFT_ONLY matched no queries")
    def timeOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err: Option[String] =
        try { run(fn); None }
        catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName)) }
      val dt = math.round((System.nanoTime() - t0) / 1e6) / 1e3 // ms precision
      reset()
      (dt, err)
    }
    val firstPass: Map[String, Timing] = benchable(SparkEntry.queries)
      .filter(kv => only(kv._1)).map { case (name, fn) =>
      def timed(): (Double, Option[String]) = timeOne(fn)
      val (cold, err1) = timed()
      // snapshot the chain's per-statement line from the COLD run (the
      // graded number) before the warm rerun overwrites it
      Option(graft.queries.CdcQueries.StmtTimer.last.get(name.takeWhile(_ != '_')))
        .foreach(l => stmtCold.put(name, l))
      val (warm, err2) = if (err1.isEmpty) timed() else (cold, err1)
      // only the COLD run (the graded timing) decides pass/fail: a
      // transient warm-rerun failure must not convert a healthy
      // benchmark into a reported regression — the warm sample just
      // falls back to cold (no anomaly claimed)
      name -> Timing(cold, if (err2.isDefined) cold else warm, err1)
    }
    // Band-outlier bounded re-run (r18 verdict #1 — the bench defends
    // itself against a contended minute): a cold sample blowing past
    // its PrevBand floor (same predicate as the band line) gets ONE
    // more run at epoch end, and the reported cold is the MIN of the
    // two. Bounded by construction: outliers only, severity-ranked,
    // capped at 8 re-runs — a quiet epoch re-runs nothing and the
    // headline is byte-identical to the old methodology. Every re-run
    // is DISCLOSED: the {"rerun":"id:orig>min ..."} diagnostic line
    // carries the original sample, and target/bench_full.json keeps
    // both numbers. Noise-only by design: a real regression is slow on
    // the re-run too and keeps its slow cold.
    val reruns = scala.collection.mutable.ListBuffer.empty[(Int, Double, Double)]
    val results: Map[String, Timing] =
      if (!sfDir.contains("sf0.1")) firstPass
      else {
        val flagged = firstPass.toSeq
          .filter { case (name, t) =>
            t.err.isEmpty && PrevBand.get(qid(name)).exists(b =>
              t.cold > math.max(2 * b, b + 1.0))
          }
          .sortBy { case (name, t) => -(t.cold / PrevBand(qid(name))) }
          .take(8)
        val patched = flagged.flatMap { case (name, t) =>
          val (again, err) = timeOne(benchable(SparkEntry.queries)(name))
          if (err.isDefined) None // transient re-run failure: keep the original
          else {
            reruns += ((qid(name), t.cold, math.min(t.cold, again)))
            if (again < t.cold) {
              // re-snapshot the chain attribution so the stmt line
              // matches the cold that gets reported
              Option(graft.queries.CdcQueries.StmtTimer.last
                .get(name.takeWhile(_ != '_')))
                .foreach(l => stmtCold.put(name, l))
              Some(name -> t.copy(cold = again))
            } else None
          }
        }
        firstPass ++ patched
      }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    // errs carries ONLY failing queries — the all-null map doubled the
    // r6 line length and pushed the timings map off the captured tail.
    val errs = results.collect { case (k, t) if t.err.isDefined =>
      s"\"" + k + "\":" + jstr(t.err.get.take(200))
    }.mkString("{", ",", "}")

    val (oracleTimes, oracleFailed) = runOracle(sfDir)

    // like-for-like set for the ratio: oracle succeeded, spark
    // succeeded, and not a baseline-only anchor — matched on BOTH sides
    val lfl = benchable(SparkEntry.oracleSql).keySet
      .filter(oracleTimes.contains)
      .filter(k => results.get(k).exists(_.err.isEmpty))
      .diff(BaselineOnly)
    val oracleTotal: Option[Double] =
      if (oracleTimes.isEmpty) None else Some(lfl.toSeq.map(oracleTimes).sum)
    val sparkLfl = lfl.toSeq.flatMap(k => results.get(k).map(_.cold)).sum
    val ratio = oracleTotal.filter(_ > 0).map(t => sparkLfl / t)

    val total = results.collect {
      case (k, t) if !BaselineOnly.contains(k) => t.cold }.sum
    val warmTotal = results.collect {
      case (k, t) if !BaselineOnly.contains(k) => t.warm }.sum
    val baselineTotal = results.collect {
      case (k, t) if BaselineOnly.contains(k) => t.cold }.sum

    def r2(v: Double): String = (math.round(v * 100) / 100.0).toString
    // compact time format: 2dp under 10s, 1dp above — per-query
    // resolution where it matters, bytes saved where it doesn't.
    // Double.toString, never %f: the f-interpolator is default-locale
    // dependent (de_DE would emit comma decimals and break the JSON)
    def fmtT(v: Double): String = {
      // strip redundant trailing ".0"/zero-decimals: with 117 queries
      // x 2 numbers the emission crowds the driver's 2000-char tail
      // window — "0.0"->"0", "1.50"->"1.5" buys the margin back
      val s =
        if (v >= 10) (math.round(v * 10) / 10.0).toString
        else (math.round(v * 100) / 100.0).toString
      if (s.contains('.'))
        s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
      else s
    }
    // byte budget (r18): an entry whose oracle RAN and took <0.05s
    // drops the "/oracle" suffix entirely (read as ~0) — across ~70
    // sub-50ms oracles that buys back ~300 bytes of the tail window;
    // "/x" (oracle didn't run) stays explicit
    val perQ = results.toSeq.sortBy(p => qid(p._1)).map { case (name, t) =>
      val o = oracleTimes.get(name) match {
        case Some(v) if v < 0.05 => ""
        case Some(v) => "/" + fmtT(v)
        case None => "/x"
      }
      s"${qid(name)}:${fmtT(t.cold)}$o"
    }
    // 4 lines of ~30 entries, BUFFERED: the driver tail-captures the
    // LAST 2000 chars, so these print AFTER the diagnostic lines —
    // any overflow cuts a diagnostic line's head, never per-query data
    val chunk = (perQ.size + 3) / 4
    val bqLines = perQ.grouped(chunk).zipWithIndex.map { case (g, i) =>
      s"""{"bq${i + 1}":"${g.mkString(" ")}"}"""
    }.toSeq
    // diagnostic lines (rerun/warm/anomaly/band/stmt/scale) accumulate
    // here and print FIRST — lowest-priority content sits earliest in
    // the stream, where tail truncation lands
    val diag = scala.collection.mutable.ListBuffer.empty[String]
    // anomaly self-report: queries whose cold run was inflated by
    // epoch position, with the warm time that attributes it
    val anomalies = results.toSeq
      .filter(p => p._2.err.isEmpty && p._2.cold > 1.5 * p._2.warm &&
        p._2.cold - p._2.warm > 0.5)
      .sortBy(p => -(p._2.cold - p._2.warm)) // biggest gaps first
      .map(p => qid(p._1) -> s"${qid(p._1)}:${fmtT(p._2.warm)}")
    if (anomalies.nonEmpty) {
      // byte budget: the whole emission must stay inside the driver's
      // 2000-char tail — keep the 6 largest gaps, count the rest
      val shown = anomalies.take(6).sortBy(_._1).map(_._2)
      val more = if (anomalies.size > 6) s" +${anomalies.size - 6}" else ""
      diag += s"""{"warm":"${shown.mkString(" ")}$more"}"""
    }
    // the warm gate's blind spot (r10 verdict: q23 ran 4.3s on BOTH
    // runs of one epoch): a query slow relative to its oracle on cold
    // AND warm is flagged here with both samples — a reader (and
    // tools/bench_compare.py) can then separate "slow both runs this
    // epoch" (contention/GC/statement-floor chains, warm ≈ cold every
    // round) from a cold-only JIT artifact, instead of the artifact
    // staying silent about it
    val slowBoth = results.toSeq
      .filter { case (name, t) =>
        t.err.isEmpty && t.cold > 2.0 &&
          oracleTimes.get(name).exists(o => t.cold > 10 * o) &&
          !(t.cold > 1.5 * t.warm && t.cold - t.warm > 0.5)
      }
    if (slowBoth.nonEmpty) {
      // byte-capped like the warm line: the DML chains re-run their
      // whole statement sequence on the warm pass too, so they ALWAYS
      // satisfy warm ≈ cold — without a cap this line alone can push
      // the emission past the driver's 2000-char tail window. Rank by
      // SEVERITY (cold seconds) before capping so a genuine high-id
      // regression is never truncated behind expected low-id chains;
      // display re-sorts the survivors by id.
      val shown = slowBoth.sortBy(-_._2.cold).take(3)
        .sortBy(p => qid(p._1))
        .map { case (name, t) => s"${qid(name)}:${fmtT(t.cold)}/${fmtT(t.warm)}" }
      val more = if (slowBoth.size > 3) s" +${slowBoth.size - 3}" else ""
      diag += s"""{"anomaly":"${shown.mkString(" ")}$more"}"""
    }
    // previous-round band check (r12 verdict #3): EVERY >2x cold
    // outlier vs the last rounds' per-query floor self-reports with
    // its warm time — `id:cold/warm!band`. Warm back inside ~the band
    // = epoch position; warm outside too = treat as a real change.
    // Bands are sf0.1 numbers, so the line only emits at that scale.
    if (sfDir.contains("sf0.1")) {
      val outliers = results.toSeq
        .filter { case (name, t) =>
          t.err.isEmpty && PrevBand.get(qid(name)).exists(b =>
            t.cold > math.max(2 * b, b + 1.0))
        }
        .sortBy(p => qid(p._1))
        .map { case (name, t) =>
          s"${qid(name)}:${fmtT(t.cold)}/${fmtT(t.warm)}!${fmtT(PrevBand(qid(name)))}"
        }
      if (outliers.nonEmpty) {
        // byte budget: the whole emission must stay inside the
        // driver's 2000-char tail window — cap the line, count the rest
        val shown = outliers.take(6)
        val more = if (outliers.size > 6) s" +${outliers.size - 6}" else ""
        diag += s"""{"band":"${shown.mkString(" ")}$more"}"""
      }
      // per-statement attribution for the SLOWEST chains (r17 verdict
      // #1a): the StmtTimer lines go to stderr, outside the driver's
      // tail — re-emit the cold run's line for the 2 slowest chains
      // UNCONDITIONALLY. The r16 band-outlier gate had a blind spot:
      // a chain whose band was seeded from its own slow history can
      // never outlie it (q111 across r15-r17 stayed the suite's
      // slowest chain with zero stmt lines in any artifact). Byte
      // budget: 2 chains, 115 chars each — enough for a chain's 5-6
      // heaviest statements, which is what attribution needs.
      val stmtSlowest = results.toSeq
        .filter { case (name, t) =>
          t.err.isEmpty && stmtCold.containsKey(name) }
        .sortBy(-_._2.cold).take(2)
      stmtSlowest.foreach { case (name, _) =>
        val line = stmtCold.get(name).take(115)
        diag += s"""{"stmt${qid(name)}":${jstr(line)}}"""
      }
    }

    // measured scale-trend line (r17 verdict #6): the three priciest
    // data operators' scale paths at corpus factors {1,4} over DISJOINT replicas
    // (ScaleBench.trend — output mass grows linearly by construction,
    // so the cold ratio is an engine-scaling measurement, not an
    // output-growth one). Emitted per driver round at sf0.1; skipped
    // under a local SPARK_GRAFT_ONLY iteration filter or
    // SPARK_GRAFT_SCALE=0. A trend failure must never sink the bench:
    // it degrades to an error tag in the same key.
    val scaleEnv = sys.env.get("SPARK_GRAFT_SCALE")
    if (sfDir.contains("sf0.1") && !scaleEnv.contains("0") &&
        (sys.env.get("SPARK_GRAFT_ONLY").isEmpty || scaleEnv.contains("1"))) {
      val line =
        try ScaleBench.trend(spark, sfDir, factor = 4)
        catch { case e: Throwable =>
          "err:" + Option(e.getMessage).getOrElse(e.getClass.getName).take(60) }
      diag += s"""{"scale":${jstr(line)}}""" // factor 4, docs/SCALE.md
      reset()
    }

    // disclosure of every band-outlier re-run: id:<first cold>><min>
    // (the bq/headline numbers use the min; the original sample is
    // preserved here and in target/bench_full.json). Appended LAST so
    // it sits CLOSEST to the bq lines — tail truncation of an
    // over-budget emission must eat warm/anomaly/band heads before it
    // eats the re-run disclosure (the one diagnostic the headline's
    // integrity depends on).
    if (reruns.nonEmpty) {
      val shown = reruns.sortBy(_._1)
        .map { case (id, orig, now) => s"$id:${fmtT(orig)}>${fmtT(now)}" }
      diag += s"""{"rerun":"${shown.mkString(" ")}"}"""
    }
    // lost Observation events re-run explicit aggregation passes —
    // exactly what statement-chain inflation on a loaded epoch looks
    // like; a nonzero count here attributes it from the artifact alone
    // (r14 verdict #6). Only emitted when nonzero (tail byte budget).
    val obsLost = graft.storage.GraftTable.obsFallbacks.get()
    val obsJson = if (obsLost > 0) s""""obs_fallbacks":$obsLost,""" else ""
    val oracleJson = oracleTotal.fold("null")(t => r2(t))
    val ratioJson = ratio.fold("null")(r => (math.round(r * 1000) / 1e3).toString)
    val failedJson = oracleFailed.sorted
      .map(n => "\"" + n.takeWhile(_ != '_') + "\"").mkString("[", ",", "]")
    val baselineJson = BaselineOnly.toSeq.sorted
      .map(n => "\"" + n.takeWhile(_ != '_') + "\"").mkString("[", ",", "]")
    // print order = inverse priority: diagnostic lines first (tail
    // truncation, if any, eats their heads), then the per-query bq
    // lines, then the headline LAST — the total must survive any
    // truncation of the FRONT of the captured stream. The canaries key
    // labels CORRECTNESS's 3 designed reds in-artifact (r16 verdict
    // #8; docs/DIAG_PROTOCOL.md).
    // Complete machine-readable per-query results (r18 verdict #4: the
    // compact bq tail grammar defeated the driver's per-query parser —
    // PERF_r18 had per_query empty). The stdout contract above stays
    // FROZEN; this file is the full-fidelity copy: every query's cold /
    // warm / oracle seconds plus the pre-rerun cold where a band
    // re-run replaced it. Best-effort: a write failure must never sink
    // the bench.
    try {
      val rerunOrig = reruns.map { case (id, orig, _) => id -> orig }.toMap
      val perQueryJson = results.toSeq.sortBy(p => qid(p._1)).map {
        case (name, t) =>
          val o = oracleTimes.get(name).map(v => s""","oracle":${r2(v)}""").getOrElse("")
          val ro = rerunOrig.get(qid(name))
            .map(v => s""","cold_first":${r2(v)}""").getOrElse("")
          val e = t.err.map(m => s""","err":${jstr(m.take(200))}""").getOrElse("")
          s"${jstr(name)}:{\"cold\":${r2(t.cold)},\"warm\":${r2(t.warm)}$o$ro$e}"
      }.mkString("{", ",", "}")
      val full = s"""{"sf":${jstr(sfDir)},"cpus":$cpus,"metric":"total","value":${r2(total)},"warm_total":${r2(warmTotal)},"baseline_total":${r2(baselineTotal)},"oracle_total":$oracleJson,"ratio":$ratioJson,"queries":$perQueryJson}"""
      val dir = java.nio.file.Paths.get("target")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve("bench_full.json"),
        full.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    diag.foreach(println)
    bqLines.foreach(println)
    println(s"""{"errs":$errs,"oracle_failed":$failedJson,"baseline_only":$baselineJson,$obsJson"canaries":"qx_env_dec_a/b/c expected-red","baseline_total":${r2(baselineTotal)},"warm_total":${r2(warmTotal)},"sf":"$sfDir","oracle_total":$oracleJson,"ratio":$ratioJson,"metric":"total","value":${r2(total)},"unit":"sec"}""")
    System.out.flush()
    spark.stop()
    if (results.values.exists(_.err.isDefined)) sys.exit(1)
  }

  /** Intra-epoch DuckDB oracle: PER-QUERY seconds over every oracleSql
    * entry plus the names that failed. Whole-process comparisons across
    * rounds drift with machine thermals; running both sides back-to-back
    * makes the ratio the stable signal, and per-query oracle times make
    * an anomalous epoch attributable in one read. */
  private def runOracle(sfDir: String): (Map[String, Double], Seq[String]) = {
    if (sys.env.get("SPARK_GRAFT_ORACLE").contains("0"))
      return (Map.empty, Nil)
    try {
      val sqls = benchable(SparkEntry.oracleSql)
      val tmp = java.io.File.createTempFile("oracle_sql", ".json")
      tmp.deleteOnExit()
      val body = sqls.toSeq.sortBy(_._1).map { case (k, v) =>
        def esc(s: String) = s.flatMap {
          case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => " "
          case '\r' => " "; case '\t' => " "; case c => c.toString
        }
        "\"" + k + "\":\"" + esc(v) + "\""
      }.mkString("{", ",", "}")
      java.nio.file.Files.write(tmp.toPath, body.getBytes("UTF-8"))
      val script =
        """import duckdb, json, sys, time
          |sqls = json.load(open(sys.argv[1])); sf = sys.argv[2]
          |con = duckdb.connect(); con.execute("PRAGMA threads=%s" % sys.argv[3])
          |for t in ["region","nation","customer","supplier","part","orders",
          |          "lineitem","events","documents","embeddings"]:
          |    con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')" % (t, sf, t))
          |for name in sorted(sqls):
          |    t0 = time.time()
          |    try:
          |        con.execute(sqls[name]).fetchall()
          |        print("ORACLE_Q %s=%.3f" % (name, time.time() - t0))
          |    except Exception:
          |        print("ORACLE_ERR %s" % name)
          |print("ORACLE_DONE")
          |""".stripMargin
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      val pb = new ProcessBuilder("python3", "-c", script, tmp.getAbsolutePath, sfDir, cpus)
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val outReader = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      val lines = scala.collection.mutable.ArrayBuffer.empty[String]
      val drain = new Thread(() => {
        var l = outReader.readLine()
        while (l != null) { lines.synchronized(lines += l); l = outReader.readLine() }
      })
      drain.setDaemon(true); drain.start()
      val done = proc.waitFor(1200, java.util.concurrent.TimeUnit.SECONDS)
      if (!done) { proc.destroyForcibly(); return (Map.empty, Nil) }
      drain.join(5000)
      val snap = lines.synchronized(lines.toVector)
      if (!snap.contains("ORACLE_DONE")) return (Map.empty, Nil)
      val times = snap.collect {
        case l if l.startsWith("ORACLE_Q ") =>
          val Array(n, t) = l.stripPrefix("ORACLE_Q ").split("=", 2)
          n -> t.toDouble
      }.toMap
      val failed = snap.collect {
        case l if l.startsWith("ORACLE_ERR ") => l.stripPrefix("ORACLE_ERR ")
      }
      (times, failed.toSeq)
    } catch { case _: Throwable => (Map.empty, Nil) }
  }
}
