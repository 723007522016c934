package graft

/** PG declarative partitioning bounds (A19/A42 restore surface —
  * reference `pgserver/` accepts partitioned pg_dump DDL by DuckDB
  * passthrough; here the parent/child relation lives in manifest
  * props: `partition.by` on the parent, one `partchild.<name>` per
  * attached child holding the verbatim bounds text).
  *
  * This object is pure TEXT → SQL-text compilation: it parses the
  * recorded strategy (`RANGE (a, b)` / `LIST (k)` / `HASH (k)`) and a
  * child's bounds clause (`FOR VALUES FROM (..) TO (..)` / `IN (..)` /
  * `WITH (MODULUS m, REMAINDER r)` / `DEFAULT`) into a boolean SQL
  * predicate "this row belongs to this child". The predicate is used
  * twice, and both uses are Catalyst-declarative (scale story):
  *
  *  - INSERT through the parent filters the source frame once per
  *    child (first-match-wins chaining makes routing mutually
  *    exclusive even if recorded ranges overlapped) — each child
  *    insert is an ordinary distributed append, nothing driver-sized.
  *  - Parent reads attach the predicate as a filter on each child
  *    scan, so a WHERE that contradicts a child's bounds folds to an
  *    empty branch (Catalyst constraint propagation + PruneFilters)
  *    — PG-style partition pruning for free, which at 100 TB is the
  *    difference between scanning one partition and all of them.
  *
  * RANGE bounds compare lexicographically over the key tuple (PG
  * semantics): the comparison compiles to nested `>`/`=` text, never
  * struct-literal comparison (struct field-name mismatches break
  * analysis). MINVALUE/MAXVALUE truncate the tuple at first sentinel
  * — PG ignores later components — flipping strictness as the
  * sentinel direction requires.
  */
object Partitioning {

  final case class Spec(strategy: String, keys: Seq[String])

  // top-level comma split of PG text: standard strings, so a
  // backslash is literal inside '...' (`IN ('C:\', 'D:\')` is two values)
  private def splitPg(s: String): Seq[String] =
    SqlText.splitTop(s, sps = SqlText.spans(s, standardStrings = true))

  /** Parse the recorded `partition.by` prop text, e.g. `RANGE (a, b)`. */
  def parse(text: String): Spec = {
    val m = """(?is)^\s*(RANGE|LIST|HASH)\s*\((.*)\)\s*$""".r
      .findFirstMatchIn(text.trim)
      .getOrElse(throw new IllegalArgumentException(
        s"unsupported partition strategy: $text"))
    val keys = splitPg(m.group(2)).map(_.trim).filter(_.nonEmpty)
    require(keys.nonEmpty, s"empty partition key: $text")
    val strat = m.group(1).toUpperCase
    if (strat == "LIST") require(keys.length == 1,
      "LIST partitioning takes exactly one key column (PG semantics)")
    Spec(strat, keys)
  }

  /** Boolean SQL predicate for `bounds`, or None when the child is the
    * DEFAULT partition (the caller routes the residual there). */
  def boundPredicateSql(spec: Spec, bounds: String): Option[String] = {
    val b = bounds.trim
    if (b.equalsIgnoreCase("DEFAULT")) return None
    val body = """(?is)^FOR\s+VALUES\s+(.*)$""".r.findFirstMatchIn(b)
      .map(_.group(1).trim)
      .getOrElse(throw new IllegalArgumentException(
        s"unsupported partition bounds: $bounds"))
    spec.strategy match {
      case "RANGE" =>
        val m = """(?is)^FROM\s*\((.*?)\)\s*TO\s*\((.*?)\)\s*$""".r
          .findFirstMatchIn(body)
          .getOrElse(throw new IllegalArgumentException(
            s"RANGE bounds must be FOR VALUES FROM (..) TO (..): $bounds"))
        val lo = splitPg(m.group(1)).map(_.trim)
        val hi = splitPg(m.group(2)).map(_.trim)
        require(lo.length == spec.keys.length && hi.length == spec.keys.length,
          s"bound arity ${lo.length}/${hi.length} != key arity " +
            s"${spec.keys.length}: $bounds")
        // PG's partition constraint carries IS NOT NULL per key: the
        // bound comparison is only defined over non-null tuples, and
        // without the conjunct a direct INSERT of a NULL key into a
        // bounded child would pass the CHECK (NULL = unknown = pass)
        // yet vanish from the parent's bounds-filtered read — the
        // silent-hide this module promises to avoid. Routing is
        // unaffected (NULL still falls to DEFAULT via coalesce).
        val notNull = spec.keys.map(k => s"(($k) IS NOT NULL)")
          .mkString(" AND ")
        Some(s"($notNull AND ${rangeCmp(spec.keys, lo, lower = true)} AND " +
          s"${rangeCmp(spec.keys, hi, lower = false)})")
      case "LIST" =>
        val m = """(?is)^IN\s*\((.*)\)\s*$""".r.findFirstMatchIn(body)
          .getOrElse(throw new IllegalArgumentException(
            s"LIST bounds must be FOR VALUES IN (..): $bounds"))
        val vals = splitPg(m.group(1)).map(_.trim)
        val (nulls, rest) = vals.partition(_.equalsIgnoreCase("NULL"))
        val k = spec.keys.head
        val inPart =
          if (rest.isEmpty) None
          // same IS NOT NULL rationale as RANGE when NULL is not a
          // listed value — `k IN (..)` is NULL (CHECK-pass) on a NULL
          // key, and PG's constraint spells the conjunct out
          else if (nulls.isEmpty)
            Some(s"((($k) IS NOT NULL) AND (($k) IN (${rest.mkString(", ")})))")
          else Some(s"(($k) IN (${rest.mkString(", ")}))")
        val nullPart = if (nulls.isEmpty) None else Some(s"(($k) IS NULL)")
        Some((inPart.toSeq ++ nullPart).mkString("(", " OR ", ")"))
      case "HASH" =>
        val (mod, rem) = hashBounds(body, bounds)
        // any deterministic hash works for self-consistency: routing
        // and parent reads both compile through this same text
        Some(s"(pmod(xxhash64(${spec.keys.mkString(", ")}), $mod) = $rem)")
      case other =>
        throw new IllegalArgumentException(s"unsupported strategy $other")
    }
  }

  /** Structural overlap/duplicate checks at attach time, PG-style loud:
    * one DEFAULT; no duplicate LIST value; no duplicate HASH
    * (modulus, remainder); RANGE intervals compared on the first key
    * component when both literals are numeric or quoted strings
    * (best-effort — routing stays safe regardless because INSERT
    * chains first-match-wins). */
  def validateNewChild(spec: Spec, newBounds: String,
      existing: Seq[(String, String)]): Unit = {
    val nb = newBounds.trim
    if (nb.equalsIgnoreCase("DEFAULT")) {
      existing.find(_._2.trim.equalsIgnoreCase("DEFAULT")).foreach { case (c, _) =>
        throw new IllegalArgumentException(
          s"partition $c is already the DEFAULT partition")
      }
      return
    }
    // parse validates the shape even when no sibling exists yet
    boundPredicateSql(spec, nb)
    spec.strategy match {
      case "LIST" =>
        val mine = listValues(nb).toSet
        existing.filterNot(_._2.trim.equalsIgnoreCase("DEFAULT")).foreach {
          case (c, b) =>
            val shared = listValues(b).toSet.intersect(mine)
            require(shared.isEmpty,
              s"partition $c already holds value(s) ${shared.mkString(", ")}")
        }
      case "HASH" =>
        val mine = hashBounds(stripForValues(nb), nb)
        existing.filterNot(_._2.trim.equalsIgnoreCase("DEFAULT")).foreach {
          case (c, b) =>
            require(hashBounds(stripForValues(b), b) != mine,
              s"partition $c already holds (modulus, remainder) $mine")
        }
      case "RANGE" =>
        firstComponentInterval(nb).foreach { case (lo1, hi1) =>
          existing.filterNot(_._2.trim.equalsIgnoreCase("DEFAULT")).foreach {
            case (c, b) =>
              firstComponentInterval(b).foreach { case (lo2, hi2) =>
                require(!(math.max(lo1, lo2) < math.min(hi1, hi2)),
                  s"range overlaps existing partition $c")
              }
          }
        }
      case _ =>
    }
  }

  // ------------------------------------------------------------------

  /** Lexicographic tuple comparison compiled to nested AND/OR text.
    * `lower = true` compiles the inclusive FROM side (`>=`), false the
    * exclusive TO side (`<`). MINVALUE/MAXVALUE truncate the tuple and
    * flip strictness per PG's bound semantics. */
  private def rangeCmp(keys0: Seq[String], vals0: Seq[String],
      lower: Boolean): String = {
    val idx = vals0.indexWhere(v =>
      v.equalsIgnoreCase("MINVALUE") || v.equalsIgnoreCase("MAXVALUE"))
    if (idx == 0) {
      val minv = vals0.head.equalsIgnoreCase("MINVALUE")
      // FROM (MINVALUE): no lower bound; TO (MAXVALUE): no upper.
      // FROM (MAXVALUE) / TO (MINVALUE): the empty range, loud-free.
      return if (minv == lower) "true" else "false"
    }
    val (keys, vals, cmpOp) =
      if (idx < 0) (keys0, vals0, if (lower) ">=" else "<")
      else {
        val minv = vals0(idx).equalsIgnoreCase("MINVALUE")
        val op = (lower, minv) match {
          case (true, true) => ">="  // >= (p, -inf)  ==  prefix >= p
          case (true, false) => ">"  // >= (p, +inf)  ==  prefix >  p
          case (false, true) => "<"  // <  (p, -inf)  ==  prefix <  p
          case (false, false) => "<=" // < (p, +inf)  ==  prefix <= p
        }
        (keys0.take(idx), vals0.take(idx), op)
      }
    def cmp(ks: Seq[String], vs: Seq[String]): String = (ks, vs) match {
      case (Seq(k), Seq(v)) => s"(($k) $cmpOp ($v))"
      case (k +: kt, v +: vt) =>
        s"((($k) ${cmpOp.take(1)} ($v)) OR ((($k) = ($v)) AND ${cmp(kt, vt)}))"
      case _ => throw new IllegalArgumentException("bound arity mismatch")
    }
    cmp(keys, vals)
  }

  private def stripForValues(b: String): String =
    """(?is)^FOR\s+VALUES\s+(.*)$""".r.findFirstMatchIn(b.trim)
      .map(_.group(1).trim).getOrElse(b.trim)

  private def listValues(b: String): Seq[String] =
    """(?is)^IN\s*\((.*)\)\s*$""".r.findFirstMatchIn(stripForValues(b))
      .map(m => splitPg(m.group(1)).map { v0 =>
        // quoted string literals compare VERBATIM — LIST values are
        // case-sensitive ('eu' and 'EU' are distinct partitions, in
        // PG and in this engine's own routing predicate); only bare
        // tokens (NULL, numbers) normalize case
        val v = v0.trim
        if (v.startsWith("'")) v else v.toUpperCase
      })
      .getOrElse(Seq.empty)

  private def hashBounds(body: String, orig: String): (Long, Long) = {
    val m =
      """(?is)^WITH\s*\(\s*MODULUS\s+(\d+)\s*,\s*REMAINDER\s+(\d+)\s*\)\s*$""".r
        .findFirstMatchIn(body)
        .getOrElse(throw new IllegalArgumentException(
          s"HASH bounds must be WITH (MODULUS m, REMAINDER r): $orig"))
    val (mod, rem) = (m.group(1).toLong, m.group(2).toLong)
    require(mod > 0 && rem >= 0 && rem < mod,
      s"remainder must be in [0, modulus): $orig")
    (mod, rem)
  }

  /** First-key interval as doubles when comparable: numeric literals
    * directly, single-quoted strings by UTF16 prefix rank (enough for
    * like-typed date/text bounds), sentinels as ±inf. */
  private def firstComponentInterval(b: String): Option[(Double, Double)] = {
    val m = """(?is)^FROM\s*\((.*?)\)\s*TO\s*\((.*?)\)\s*$""".r
      .findFirstMatchIn(stripForValues(b)).getOrElse(return None)
    def rank(v0: String): Option[Double] = {
      val v = v0.trim
      if (v.equalsIgnoreCase("MINVALUE")) Some(Double.NegativeInfinity)
      else if (v.equalsIgnoreCase("MAXVALUE")) Some(Double.PositiveInfinity)
      else if (v.startsWith("'") && v.endsWith("'") && v.length >= 2) {
        // rank quoted strings by the first 6 UTF16 units — a total
        // order consistent with lexicographic order on those units
        val s = v.substring(1, v.length - 1)
        Some(s.take(6).padTo(6, 0.toChar)
          .foldLeft(0.0)((acc, c) => acc * 65536.0 + c.toInt))
      } else v.toDoubleOption
    }
    for {
      lo <- rank(splitPg(m.group(1)).head)
      hi <- rank(splitPg(m.group(2)).head)
    } yield (lo, hi)
  }

  /** PG DDL invariant (advice r12): every unique structure — the
    * PRIMARY KEY or any unique index — on a partitioned table must
    * include ALL partition key columns; PG refuses the DDL outright
    * ("unique constraint on partitioned table must include all
    * partitioning columns"). The per-child routing of the merge
    * family RELIES on it: a key that doesn't cover the partition key
    * could have its conflicting row living in a SIBLING partition,
    * and the routed per-child merge would silently mint a duplicate.
    * An expression partition key can never be covered by a column
    * list, so any unique structure refuses there too (PG:
    * "unsupported ... constraint with partition key definition"). */
  def requireKeyCovered(spec: Spec, arbCols: Seq[String],
      what: String): Unit = {
    val lc = arbCols.map(_.trim.stripPrefix("\"").stripSuffix("\"")
      .stripPrefix("`").stripSuffix("`").toLowerCase).toSet
    spec.keys.map(_.trim).foreach { k =>
      val plain = k.matches("[A-Za-z_][A-Za-z0-9_$]*")
      require(plain && lc.contains(k.toLowerCase),
        s"$what on a table partitioned by ${spec.strategy} " +
          s"(${spec.keys.mkString(", ")}) must include all partition key " +
          s"columns (missing: $k) — a key not covering the partition key " +
          "could conflict with a row in a sibling partition (PG refuses " +
          "this at DDL)")
    }
  }

  /** Column names a partition key references — bare identifiers in the
    * key text that exist in `fields` (function names filter out). The
    * UPDATE-through-parent guard refuses SETs touching any of them:
    * an expression key like `lower(name)` must block `SET name`. */
  def keyColumns(spec: Spec, fields: Seq[String]): Seq[String] = {
    val lower = fields.map(f => f.toLowerCase -> f).toMap
    spec.keys.flatMap(k =>
      "[A-Za-z_][A-Za-z0-9_$]*".r.findAllIn(k)
        .flatMap(t => lower.get(t.toLowerCase))).distinct
  }
}
