package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.operators.Operators

/** Extended relational surface (round 2): the function-corpus rows of
  * SURVEY §2.B that round 1 exercised only through the MySqlShims spec
  * layer, now oracle-verified end-to-end — PIVOT/UNPIVOT through the
  * real `RelationalGroupedDataset.pivot` / `Dataset.unpivot` APIs,
  * statistical aggregates, distribution window functions
  * (ntile/percent_rank/cume_dist), and datetime/string/array function
  * batteries — plus the binned range join ([[Operators.rangeJoin]]),
  * the interval analog of q32's as-of join.
  *
  * Determinism discipline (see RelationalQueries scaladoc): double
  * aggregation goes through exact DECIMAL sums; statistical moments are
  * then computed from those exact sums with an IDENTICAL double
  * expression tree on both engines, which IEEE-754 evaluates
  * bit-identically — native stddev/corr partial-merge order is
  * partition-dependent on BOTH engines and would be hash-flaky.
  */
object ExtendedQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)
  private def dec4(c: Column): Column = c.cast(DecimalType(28, 4))
  private def dsum4(c: Column): Column = sum(dec4(c)).cast("double")
  /** NTZ → epoch seconds (NTZ has no direct long cast; under the UTC
    * session the timestamp hop is the identity — matches the oracle's
    * epoch_us(ts) // 1000000). */
  private def epochSec(c: Column): Column =
    c.cast("timestamp").cast("long")

  // --------------------------------------------------------------------
  // q46 — PIVOT through the RelationalGroupedDataset.pivot API (explicit
  // value list → no extra distinct-values job; at scale the value list
  // is always declared, never discovered).
  private val q46 = QueryDef(
    "q46_pivot",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy(col("o_orderpriority")),
    Some("""SELECT o_orderpriority,
      count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
      count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
      count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  // --------------------------------------------------------------------
  // q47 — UNPIVOT through the Dataset.unpivot API (wide → long).
  private val q47 = QueryDef(
    "q47_unpivot",
    (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(dsum4(col("l_quantity")).as("sum_qty"),
          dsum4(col("l_extendedprice")).as("sum_price"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price")), "metric", "value")
        .orderBy(col("l_returnflag"), col("metric")),
    Some("""WITH a AS (SELECT l_returnflag,
        CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_price
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
      UNION ALL
      SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM a
      ORDER BY l_returnflag, metric"""))

  // --------------------------------------------------------------------
  // q48 — statistical aggregates (avg/variance/stddev/correlation) from
  // exact decimal power sums. One hash aggregation (map-side partials on
  // exact decimals — order-independent), moments derived per group.
  private val statsSql = """WITH s AS (
      SELECT c_mktsegment,
        count(*) AS n,
        sum(CAST(c_acctbal AS DECIMAL(18,2))) AS sx,
        sum(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2))) AS sxx,
        sum(CAST(c_custkey AS DECIMAL(18,0))) AS sy,
        sum(CAST(c_custkey AS DECIMAL(18,0)) * CAST(c_custkey AS DECIMAL(18,0))) AS syy,
        sum(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_custkey AS DECIMAL(18,0))) AS sxy
      FROM customer GROUP BY c_mktsegment)
    SELECT c_mktsegment, n AS n_cust,
      CAST(sx AS DOUBLE) / n AS avg_bal,
      (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1) AS var_bal,
      sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1)) AS stddev_bal,
      (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_bal_key
    FROM s ORDER BY c_mktsegment"""
  private val q48 = QueryDef(
    "q48_stats_agg",
    (s, dir) => { Tables.register(s, dir); s.sql(statsSql) },
    Some(statsSql))

  // --------------------------------------------------------------------
  // q49 — distribution window functions: ntile / percent_rank /
  // cume_dist over a unique total order — computed WITHOUT the
  // single-partition Window Spark would plan for an unpartitioned
  // ORDER BY: Operators.globalRank range-slices the order, prefix-sums
  // slice counts on the driver, and derives all three distribution
  // functions from the exact global rank (the order is unique, so
  // percent_rank = (rank-1)/(N-1) and cume_dist = rank/N exactly).
  private val q49 = QueryDef(
    "q49_ntile_distribution",
    (s, dir) => {
      val base = t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
      val (ranked, n) = graft.operators.Operators.globalRank(
        base, Seq("c_acctbal", "c_custkey"), "__rank")
      ranked
        .withColumn("quartile", graft.operators.Operators.ntileFromRank("__rank", n, 4))
        .withColumn("pct_rank",
          (col("__rank") - 1).cast("double") / lit((n - 1).toDouble))
        .withColumn("cum_dist", col("__rank").cast("double") / lit(n.toDouble))
        .drop("__rank")
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_acctbal,
      ntile(4) OVER w AS quartile,
      percent_rank() OVER w AS pct_rank,
      cume_dist() OVER w AS cum_dist
      FROM customer
      WINDOW w AS (ORDER BY c_acctbal, c_custkey)
      ORDER BY c_custkey"""))

  // --------------------------------------------------------------------
  // q57 — datetime function battery over orders (extract fields, trunc,
  // date arithmetic, formatting). All pure projections — stay inside
  // one codegen stage, no shuffle beyond the final sort.
  private val q57 = QueryDef(
    "q57_datetime_corpus",
    (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          quarter(col("o_orderdate")).as("qtr"),
          month(col("o_orderdate")).as("mon"),
          dayofmonth(col("o_orderdate")).as("dom"),
          // Spark: 1=Sunday; DuckDB dayofweek: 0=Sunday — align to 0-base
          (dayofweek(col("o_orderdate")) - 1).as("dow"),
          trunc(col("o_orderdate").cast("date"), "month").as("month_start"),
          date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
          last_day(col("o_orderdate").cast("date")).as("eom"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("fmt"),
          datediff(lit("1998-01-01").cast("date"),
            col("o_orderdate").cast("date")).as("days_to_98"))
        .orderBy(col("o_orderkey")),
    Some("""SELECT o_orderkey,
      year(o_orderdate) AS yr, quarter(o_orderdate) AS qtr,
      month(o_orderdate) AS mon, dayofmonth(o_orderdate) AS dom,
      dayofweek(o_orderdate) AS dow,
      date_trunc('month', CAST(o_orderdate AS DATE)) AS month_start,
      CAST(o_orderdate AS DATE) + 30 AS plus30,
      last_day(CAST(o_orderdate AS DATE)) AS eom,
      strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS fmt,
      date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS days_to_98
      FROM orders ORDER BY o_orderkey"""))

  // --------------------------------------------------------------------
  // q58 — string function battery over part.
  private val q58 = QueryDef(
    "q58_string_corpus",
    (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_name")).as("up"),
          length(col("p_name")).as("len"),
          substring(col("p_name"), 3, 8).as("sub"),
          lpad(col("p_brand"), 12, "*").as("pad"),
          regexp_replace(col("p_name"), "a", "@").as("rep"),
          substring_index(col("p_name"), " ", 1).as("first_word"),
          reverse(col("p_brand")).as("rev"),
          instr(col("p_name"), "an").as("pos_an"),
          concat_ws("|", col("p_brand"), col("p_type")).as("cw"),
          md5(col("p_name")).as("md"),
          regexp_extract(col("p_name"), "([a-z]+)", 1).as("rx"))
        .orderBy(col("p_partkey")),
    Some("""SELECT p_partkey,
      upper(p_name) AS up, length(p_name) AS len,
      substring(p_name, 3, 8) AS sub,
      lpad(p_brand, 12, '*') AS pad,
      replace(p_name, 'a', '@') AS rep,
      split_part(p_name, ' ', 1) AS first_word,
      reverse(p_brand) AS rev,
      instr(p_name, 'an') AS pos_an,
      concat_ws('|', p_brand, p_type) AS cw,
      md5(p_name) AS md,
      regexp_extract(p_name, '([a-z]+)', 1) AS rx
      FROM part ORDER BY p_partkey"""))

  // --------------------------------------------------------------------
  // q59 — array/list function battery (split → sort/slice/distinct →
  // back to scalars so the comparator sees plain columns).
  private val q59 = QueryDef(
    "q59_array_corpus",
    (s, dir) => {
      val words = split(col("p_name"), " ")
      t(s, dir, "part")
        .select(col("p_partkey"),
          size(words).as("n_words"),
          concat_ws(" ", array_sort(words)).as("sorted_words"),
          concat_ws(" ", slice(words, 1, 2)).as("first2"),
          size(array_distinct(words)).as("n_uniq"),
          array_contains(words, "tan").as("has_tan"),
          element_at(words, -1).as("last_word"))
        .orderBy(col("p_partkey"))
    },
    Some("""WITH w AS (SELECT p_partkey, string_split(p_name, ' ') AS words FROM part)
      SELECT p_partkey,
        length(words) AS n_words,
        array_to_string(list_sort(words), ' ') AS sorted_words,
        array_to_string(list_slice(words, 1, 2), ' ') AS first2,
        length(list_distinct(words)) AS n_uniq,
        list_contains(words, 'tan') AS has_tan,
        words[-1] AS last_word
      FROM w ORDER BY p_partkey"""))

  // --------------------------------------------------------------------
  // q74 — RANGE JOIN: lineitems shipped within 30 days of their order
  // window, via the binned equi-join ([[Operators.rangeJoin]] — a
  // shuffle hash join on the bin, never a nested-loop). The oracle
  // states the plain inequality join (DuckDB plans its IEJoin).
  private val q74 = QueryDef(
    "q74_range_join",
    (s, dir) => {
      val iv = t(s, dir, "orders")
        .filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"),
          epochSec(col("o_orderdate")).as("lo"),
          (epochSec(col("o_orderdate")) + 2592000L).as("hi"))
      val pts = t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 45) // selective: ~12% of lineitems
        .select(col("l_extendedprice"), epochSec(col("l_shipdate")).as("pt"))
      Operators.rangeJoin(pts, "pt", iv, "lo", "hi", binWidth = 604800L * 2)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_items"), dsum4(col("l_extendedprice")).as("revenue"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, count(*) AS n_items,
      CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS revenue
      FROM orders o JOIN lineitem l
        ON epoch_us(l.l_shipdate) // 1000000 >= epoch_us(o.o_orderdate) // 1000000
       AND epoch_us(l.l_shipdate) // 1000000 < epoch_us(o.o_orderdate) // 1000000 + 2592000
      WHERE o.o_orderkey % 97 = 0 AND l.l_quantity >= 45
      GROUP BY o_orderkey ORDER BY o_orderkey"""))

  // --------------------------------------------------------------------
  // q75 — SEQUENCE PACKING ([[Operators.packSequences]]): pack each
  // source's documents (in doc_id order) into 2048-token bins; report
  // per-bin document counts and token totals. The oracle states the
  // same greedy-in-order rule as a window cumulative sum.
  private val q75 = QueryDef(
    "q75_pack_sequences",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).as("toks"))
      Operators.packSequences(docs, Seq("source"), "doc_id", "toks", 2048L)
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("source"), col("bin"))
    },
    Some("""WITH d AS (SELECT source, doc_id,
        len(string_split(text, ' ')) AS toks FROM documents),
      c AS (SELECT *, sum(toks) OVER (PARTITION BY source ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS cum FROM d),
      b AS (SELECT *, CAST(floor((cum - toks) / 2048) AS BIGINT) AS bin FROM c)
      SELECT source, bin, count(*) AS n_docs,
        CAST(sum(toks) AS BIGINT) AS n_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM b GROUP BY source, bin ORDER BY source, bin"""))

  // --------------------------------------------------------------------
  // q76 — DATASET MIXTURE ([[Operators.hashSample]]): weighted,
  // deterministic per-source sampling (source srcN keeps 1000−40·N ‰)
  // via the shared poly_hash — reproducible across engines and runs,
  // unlike rand()-based sampling. Reports the realized mixture.
  private val q76 = QueryDef(
    "q76_dataset_mixture",
    (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).as("toks"),
          substring(col("source"), 4, 10).cast("int").as("srcn"))
      Operators.hashSample(docs,
          concat(col("source"), lit(":"), col("doc_id").cast("string")),
          lit(1000) - col("srcn") * 40)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("toks")).as("n_tokens"))
        .orderBy(col("source"))
    },
    Some(s"""WITH d AS (SELECT source, doc_id,
        len(string_split(text, ' ')) AS toks,
        CAST(substr(source, 4) AS INT) AS srcn,
        ${HashFrags.wordCodeDuck("source || ':' || CAST(doc_id AS VARCHAR)")} AS h
      FROM documents)
      SELECT source, count(*) AS n_kept, CAST(sum(toks) AS BIGINT) AS n_tokens
      FROM d WHERE (h * 1103515245 + 12345) % 1000000007 % 1000 < 1000 - srcn * 40
      GROUP BY source ORDER BY source"""))

  // --------------------------------------------------------------------
  // q77 — per-group percentiles, positionally (generalizes q44's
  // median): rank rows on a unique total order, pick the value at
  // index floor((n-1)·p)+1 ("lower" interpolation). Selects an actual
  // element — no interpolation arithmetic, so bit-exact across
  // engines; native percentile_cont interpolates in
  // implementation-defined double order. Shared SQL text on both sides.
  private val pctSql = """WITH r AS (
      SELECT l_returnflag, l_extendedprice,
        row_number() OVER (PARTITION BY l_returnflag
          ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem)
    SELECT l_returnflag,
      max(CASE WHEN rn = CAST(floor((n - 1) * 0.25) AS BIGINT) + 1 THEN l_extendedprice END) AS p25,
      max(CASE WHEN rn = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1 THEN l_extendedprice END) AS p50,
      max(CASE WHEN rn = CAST(floor((n - 1) * 0.75) AS BIGINT) + 1 THEN l_extendedprice END) AS p75,
      max(CASE WHEN rn = CAST(floor((n - 1) * 0.9) AS BIGINT) + 1 THEN l_extendedprice END) AS p90
    FROM r GROUP BY l_returnflag ORDER BY l_returnflag"""
  // Size-switched ranking ([[Operators.rankAndCountByGroup]]): at sf0.1
  // the 3-group window path runs (one shuffle, fastest below the
  // crossover); past ~4M rows in one group the SAME query routes to the
  // distributed groupedRank instead of serializing a group per task —
  // the measured crossover is in the rankAndCountByGroup scaladoc.
  private val q77 = QueryDef(
    "q77_percentiles",
    (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      val ranked = Operators.rankAndCountByGroup(li, Seq("l_returnflag"),
        Seq("l_extendedprice", "l_orderkey", "l_linenumber"))
      def pick(p: Double, name: String) =
        max(when(col("rn") === floor((col("n") - 1) * p).cast("long") + 1,
          col("l_extendedprice"))).as(name)
      ranked.groupBy(col("l_returnflag"))
        .agg(pick(0.25, "p25"), pick(0.5, "p50"),
          pick(0.75, "p75"), pick(0.9, "p90"))
        .orderBy(col("l_returnflag"))
    },
    Some(pctSql))

  // --------------------------------------------------------------------
  // q78 — conditional + boolean aggregates (count_if / bool_and /
  // bool_or): one partial-aggregated shuffle over 5 groups.
  private val q78 = QueryDef(
    "q78_conditional_agg",
    (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(count_if(col("o_totalprice") > 200000).as("n_big"),
          bool_and(col("o_orderstatus") === "F").as("all_f"),
          bool_or(col("o_orderstatus") === "P").as("any_p"),
          count_if(col("o_orderstatus") =!= "O").as("n_closed"))
        .orderBy(col("o_orderpriority")),
    Some("""SELECT o_orderpriority,
      count(CASE WHEN o_totalprice > 200000 THEN 1 END) AS n_big,
      bool_and(o_orderstatus = 'F') AS all_f,
      bool_or(o_orderstatus = 'P') AS any_p,
      count(CASE WHEN o_orderstatus <> 'O' THEN 1 END) AS n_closed
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  // --------------------------------------------------------------------
  // q79 — regexp_extract_all + explode: token mining over part names
  // (the find-all surface q58's single-match regexp doesn't cover).
  private val q79 = QueryDef(
    "q79_regexp_tokens",
    (s, dir) =>
      t(s, dir, "part")
        .select(explode(expr("regexp_extract_all(p_name, '[a-z]+', 0)")).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(30),
    Some("""SELECT tok, count(*) AS n
      FROM (SELECT unnest(regexp_extract_all(p_name, '[a-z]+')) AS tok FROM part) x
      GROUP BY tok ORDER BY n DESC, tok LIMIT 30"""))

  // --------------------------------------------------------------------
  // q80 — histogram with a global-share window: fixed-width buckets,
  // per-bucket share of total via an unpartitioned window sum (the
  // aggregate-of-aggregate shape; the global window is over the tiny
  // bucket table, not the fact table).
  private val q80 = QueryDef(
    "q80_histogram",
    (s, dir) => {
      val h = t(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"))
      h.withColumn("share",
          col("n").cast("double") / sum(col("n")).over(Window.partitionBy()))
        .orderBy(col("bucket"))
    },
    Some("""WITH h AS (SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
        count(*) AS n FROM orders GROUP BY 1)
      SELECT bucket, n,
        CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS BIGINT) AS share
      FROM h ORDER BY bucket"""))

  val defs: Seq[QueryDef] = Seq(q46, q47, q48, q49, q57, q58, q59, q74,
    q75, q76, q77, q78, q79, q80)
}
