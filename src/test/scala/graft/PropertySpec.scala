package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.types._
import graft.storage.Manifest
import graft.functions.PolyHash

/** Property-based checks for the leaf primitives whose correctness
  * everything else leans on (raw scalacheck generators, fixed seeds for
  * reproducibility). */
class PropertySpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val nameGen = Gen.identifier.map(_.take(20)).suchThat(_.nonEmpty)
  private val typeGen = Gen.oneOf[DataType](IntegerType, LongType, DoubleType,
    StringType, BooleanType, DateType, TimestampNTZType, DecimalType(12, 3),
    ArrayType(FloatType), BinaryType)

  test("manifest round-trips arbitrary schemas, pk, props, counters") {
    val gen = for {
      cols <- Gen.nonEmptyListOf(Gen.zip(nameGen, typeGen)).map(_.distinctBy(_._1))
      props <- Gen.mapOf(Gen.zip(nameGen, Gen.alphaNumStr.map(_.take(30))))
      autoInc <- Gen.choose(0L, Long.MaxValue / 2)
    } yield (cols, props, autoInc)
    samples(gen, 25).foreach { case (cols, props, autoInc) =>
      val schema = StructType(cols.map { case (n, t) => StructField(n, t) })
      val dir = tmpDir("prop_manifest")
      val m = Manifest.commit(dir,
        Manifest(0L, schema, cols.take(1).map(_._1), Nil, autoInc, props))
      val back = Manifest.load(dir)
      assert(back.schema === schema)
      assert(back.props === props)
      assert(back.autoInc === autoInc)
      assert(back.version === m.version)
    }
  }

  test("poly_hash matches the reference fold for arbitrary ASCII strings") {
    def referenceFold(s: String): Long =
      s.foldLeft(7L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L)
    samples(Gen.asciiPrintableStr, 200).foreach { s =>
      assert(PolyHash.hash(s) === referenceFold(s), s"input: ${s.take(40)}")
      assert(PolyHash.hash(s) >= 0 && PolyHash.hash(s) < 1000000007L)
    }
  }

  test("sorted_intersect_count equals set intersection size") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val pairGen = Gen.zip(Gen.listOf(Gen.choose(0L, 50L)), Gen.listOf(Gen.choose(0L, 50L)))
    val cases = samples(pairGen, 40)
    val df = cases.map { case (a, b) =>
      (a.toSet.toSeq.sorted, b.toSet.toSeq.sorted,
        a.toSet.intersect(b.toSet).size.toLong)
    }.toDF("x", "y", "expected")
    val bad = df.select(expr("sorted_intersect_count(x, y)").as("got"), col("expected"))
      .filter(col("got") =!= col("expected")).count()
    assert(bad === 0)
  }

  test("shingle_code_set equals the HOF split/transform/distinct/hash pipeline") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // word-ish strings with repeated words, double/leading/trailing
    // spaces — the empty-token edge cases split(' ') semantics carry
    val wordGen = Gen.oneOf("a", "bb", "ccc", "", "dd", "a")
    // ≥2 words: the HOF reference's sequence(1, n-1) is ill-defined
    // below that (descending sequence → element_at(words, 0) error)
    val textGen = for {
      a <- wordGen; b <- wordGen; rest <- Gen.listOf(wordGen)
    } yield (a :: b :: rest).mkString(" ")
    val texts = samples(textGen, 60).distinct
    val df = texts.toDF("text")
    val bad = df.select(
        expr("shingle_code_set(text)").as("fast"),
        expr("""array_sort(array_distinct(transform(
            array_distinct(transform(sequence(1, size(split(text, ' ')) - 1),
              i -> concat(element_at(split(text, ' '), i), ' ',
                          element_at(split(text, ' '), i + 1)))),
            sh -> poly_hash(sh))))""").as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(bad === 0)
    // single word / empty text → no shingles
    assert(spark.sql("SELECT shingle_code_set('hello')").head().getSeq[Long](0).isEmpty)
  }

  test("rangeJoin equals the naive theta join for arbitrary intervals") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val caseGen = for {
      pts <- Gen.listOfN(60, Gen.choose(-100L, 100L))
      ivs <- Gen.listOfN(25, Gen.zip(Gen.choose(-120L, 120L), Gen.choose(-30L, 60L)))
      w <- Gen.choose(1L, 40L)
    } yield (pts, ivs.map { case (lo, len) => (lo, lo + len) }, w)
    samples(caseGen, 8).foreach { case (pts, ivs, w) =>
      val p = pts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("pid", "pt")
      val iv = ivs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("iid", "lo", "hi")
      val got = graft.operators.Operators.rangeJoin(p, "pt", iv, "lo", "hi", w)
        .select("pid", "iid").as[(Long, Long)].collect().sorted.toSeq
      val want = p.join(iv, col("pt") >= col("lo") && col("pt") < col("hi"))
        .select("pid", "iid").as[(Long, Long)].collect().sorted.toSeq
      assert(got === want, s"binWidth=$w")
    }
  }

  test("packSequences bins are order-contiguous and budget-bounded") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val caseGen = for {
      sizes <- Gen.nonEmptyListOf(Gen.choose(1L, 900L)).map(_.take(80))
      budget <- Gen.choose(500L, 3000L)
    } yield (sizes, budget)
    samples(caseGen, 8).foreach { case (sizes, budget) =>
      val df = sizes.zipWithIndex.map { case (sz, i) => ("k", i.toLong, sz) }
        .toDF("key", "ord", "sz")
      val out = graft.operators.Operators
        .packSequences(df, Seq("key"), "ord", "sz", budget)
        .select("ord", "sz", "bin").as[(Long, Long, Long)]
        .collect().sortBy(_._1)
      // bins start at 0, never decrease, and advance by the greedy rule
      assert(out.head._3 === 0L)
      assert(out.sliding(2).forall { case Array(a, b) => b._3 >= a._3; case _ => true })
      // reference single-threaded greedy
      var cum = 0L
      out.foreach { case (_, sz, bin) =>
        assert(bin === cum / budget, s"budget=$budget")
        cum += sz
      }
    }
  }

  test("zorder2 interleave is a bijection on 32-bit pairs") {
    import graft.functions.ZOrder2
    def deinterleave(z: Long): (Long, Long) = {
      def compact(x0: Long): Long = {
        var x = x0 & 0x5555555555555555L
        x = (x | (x >> 1)) & 0x3333333333333333L
        x = (x | (x >> 2)) & 0x0F0F0F0F0F0F0F0FL
        x = (x | (x >> 4)) & 0x00FF00FF00FF00FFL
        x = (x | (x >> 8)) & 0x0000FFFF0000FFFFL
        x = (x | (x >> 16)) & 0x00000000FFFFFFFFL
        x
      }
      (compact(z), compact(z >> 1))
    }
    val gen = Gen.zip(Gen.choose(0L, 0xffffffffL), Gen.choose(0L, 0xffffffffL))
    samples(gen, 200).foreach { case (a, b) =>
      val z = ZOrder2.interleave(a, b)
      assert(deinterleave(z) === ((a, b)), s"a=$a b=$b z=$z")
    }
    // locality in the small: adjacent (a,b) cells share high bits
    assert(ZOrder2.interleave(0, 0) === 0L)
    assert(ZOrder2.interleave(1, 0) === 1L)
    assert(ZOrder2.interleave(0, 1) === 2L)
    assert(ZOrder2.interleave(1, 1) === 3L)
  }

  test("struct-max argmax equals the window row_number pick (q69's core)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // random (group, id, quality) with heavy ties in quality — the
    // regime where a non-deterministic max_by would diverge
    val rowGen = Gen.zip(Gen.choose(0, 8), Gen.choose(0L, 400L),
      Gen.choose(0L, 5L))
    val rows = samples(rowGen, 300).distinctBy(r => (r._1, r._2))
    val df = rows.toDF("g", "id", "q")
    val viaStruct = df.groupBy(col("g"))
      .agg(max(struct(col("q").as("q"), (-col("id")).as("neg"))).as("m"))
      .select(col("g"), (-col("m.neg")).as("keep"), col("m.q").as("kq"))
      .as[(Int, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      val best = rs.minBy(r => (-r._3, r._2)) // max q, then min id
      g -> ((best._2, best._3))
    }
    assert(viaStruct === expected)
  }

  test("piiScrub recovers spans planted at random positions and scrubs clean") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(8).mkString)
    val piiGen = Gen.oneOf(
      Gen.zip(word, word).map { case (u, d) => (s"$u@$d.org", "e") },
      Gen.zip(Gen.choose(100, 999), Gen.choose(100, 999), Gen.choose(1000, 9999))
        .map { case (a, b, c) => (s"+1-$a-$b-$c", "p") },
      Gen.zip(Gen.choose(0, 255), Gen.choose(0, 255), Gen.choose(0, 255))
        .map { case (a, b, c) => (s"$a.$b.$c.${(a + c) % 256}", "i") })
    val docGen = for {
      pre <- Gen.listOf(word)
      spans <- Gen.listOf(piiGen)
      sep <- Gen.listOfN(math.max(1, spans.length), word)
    } yield {
      // interleave filler words and spans; spaces keep spans intact
      val body = spans.zip(sep).flatMap { case ((s, _), w) => Seq(s, w) }
      val text = (pre ++ body).mkString(" ")
      val n = spans.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      (text, n.getOrElse("e", 0L), n.getOrElse("p", 0L), n.getOrElse("i", 0L))
    }
    val cases = samples(docGen, 120)
    val df = cases.zipWithIndex
      .map { case ((t, e, p, i), ix) => (ix.toLong, t, e, p, i) }
      .toDF("id", "text", "xe", "xp", "xi")
    val out = graft.operators.Operators.piiScrub(df, "text")
    val bad = out.filter(col("n_emails") =!= col("xe") ||
      col("n_phones") =!= col("xp") || col("n_ips") =!= col("xi"))
      .select("id", "text").as[(Long, String)].collect()
    assert(bad.isEmpty, bad.take(3).mkString("\n"))
    // scrubbing is complete under re-scan
    val residue = graft.operators.Operators
      .piiScrub(out.select(col("scrubbed").as("text")), "text")
      .agg(sum(col("n_emails") + col("n_phones") + col("n_ips")))
      .as[Long].head()
    assert(residue === 0L)
  }

  test("hashSample keep-sets are monotone in the sampling rate") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = (0 until 1500).map(i => (i.toLong, s"k$i")).toDF("id", "k")
    val kept = Seq(100, 400, 800, 1000).map { p =>
      p -> graft.operators.Operators.hashSample(df, col("k"), lit(p))
        .select("id").as[Long].collect().toSet
    }
    kept.sliding(2).foreach { case Seq((p1, s1), (p2, s2)) =>
      assert(s1.subsetOf(s2), s"keep($p1) ⊄ keep($p2)")
    }
    assert(kept.last._2.size === 1500) // permille 1000 keeps everything
  }

  test("splitTopWord never fires inside quotes, parens, or identifiers") {
    // fragments whose composition covers the scanner's decision space:
    // the keyword in code position, inside every quote kind, inside
    // parens, and embedded in identifiers
    // note: a bare \' fragment is deliberately absent — an unbalanced
    // quote runs to end of input, so the balance assertions below
    // would not hold for the before-part
    val frag = Gen.oneOf(
      "a = 1", "'x WHERE y'", "\"w WHERE z\"", "`q WHERE r`",
      "(SELECT 1 WHERE true)", "wherever", "my_where", "where_to",
      "f(a, 'b)')", "x")
    val gen = Gen.listOfN(6, frag).map(_.mkString(" "))
    samples(gen, 150).foreach { s =>
      SqlText.splitTop(s, "WHERE") match {
        case Seq(before, after) =>
          // the split point is a REAL keyword: gluing the pieces back
          // with it reproduces the input modulo whitespace, and the
          // before-part carries balanced quotes/parens
          def squash(x: String) = x.replaceAll("\\s+", " ").trim
          assert(squash(s"$before WHERE $after") === squash(s))
          assert(before.count(_ == '(') === before.count(_ == ')'))
          Seq('\'', '"', '`').foreach(q =>
            assert(before.count(_ == q) % 2 === 0, s"unbalanced $q in: $before"))
        case _ =>
          // no top-level keyword: every WHERE in the input is quoted,
          // parenthesized, or part of an identifier — verified by the
          // masked scan finding none either
          val masked = SqlText.mask(s)
          """(?i)(?<![\w$])where(?![\w$])""".r.findAllMatchIn(masked).foreach { m =>
            // any remaining bare WHERE must be inside parens or backticks
            val prefix = masked.substring(0, m.start)
            val depth = prefix.count(_ == '(') - prefix.count(_ == ')')
            val inBacktick = prefix.count(_ == '`') % 2 == 1
            assert(depth > 0 || inBacktick, s"missed WHERE in: $s")
          }
      }
    }
  }

  test("SqlText.mask keeps the length and every code character") {
    // fragments over every span kind and knob-sensitive spelling:
    // escapes, doubled delimiters, comments, dollar bodies, unterminated
    // openers
    val frag = Gen.oneOf("a", " ", "(", ")", ",", "'x'", "'it''s'",
      "'b\\'c'", "\"d\"", "`e``f`", "-- c\n", "/* k */", "$$ g $$",
      "$t$ h $t$", "#", "'", "\"", "/*", "\\", "$1")
    val gen = Gen.listOf(frag).map(_.mkString)
    samples(gen, 300).foreach { s =>
      for {
        hash <- Seq(true, false)
        dollar <- Seq(true, false)
        std <- Seq(true, false)
      } {
        val sps = SqlText.spans(s, hashComments = hash, dollarQuotes = dollar,
          standardStrings = std)
        val masked = SqlText.mask(s, sps)
        assert(masked.length === s.length, s"length of mask($s)")
        sps.filter(_.kind == SqlText.Code).foreach { sp =>
          assert(masked.substring(sp.start, sp.end) ===
            s.substring(sp.start, sp.end), s"code of mask($s)")
        }
      }
    }
  }

  test("parseSetList expands tuple-SETs positionally and preserves plain pairs") {
    val ident = Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty)
    val value = Gen.oneOf("1", "'a,b'", "f(x, y)", "(1 + 2)", "'it''s'")
    val plain = Gen.zip(ident, value).map { case (k, v) => (Seq(k -> v), s"$k = $v") }
    val tuple = for {
      ks <- Gen.listOfN(3, ident).map(_.distinct).suchThat(_.size >= 2)
      vs <- Gen.listOfN(3, value).map(_.take(ks.size))
      if vs.size == ks.size
    } yield (ks.zip(vs), s"(${ks.mkString(", ")}) = (${vs.mkString(", ")})")
    val gen = Gen.nonEmptyListOf(Gen.oneOf(plain, tuple))
    samples(gen, 120).foreach { entries =>
      val expected = entries.flatMap(_._1)
      val sql = entries.map(_._2).mkString(", ")
      val parsed = SqlRouter.parseSetList(sql).map { case (k, v) => (k.trim, v.trim) }
      assert(parsed === expected, s"input: $sql")
    }
  }

  test("joinRefs recovers names and aliases across join spellings") {
    val name = Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty)
    val ref = for {
      n <- name; a <- Gen.option(name)
      spell <- Gen.oneOf(0, 1, 2)
    } yield a match {
      case Some(al) if spell == 1 => ((n, al), s"$n AS $al")
      case Some(al) => ((n, al), s"$n $al")
      case None => ((n, n), n)
    }
    val joiner = Gen.oneOf(" JOIN ", " LEFT JOIN ", " INNER JOIN ",
      " CROSS JOIN ", ", ")
    val gen = for {
      refs <- Gen.listOfN(3, ref).suchThat(_.nonEmpty)
      js <- Gen.listOfN(2, joiner)
    } yield {
      val txt = refs.map(_._2).zipWithIndex.map { case (t, i) =>
        if (i == 0) t else js((i - 1) % js.size) + t
      }.mkString
      // ON conditions between refs must contribute nothing
      (refs.map(_._1), txt + " ON a.id = b.id")
    }
    samples(gen, 120).foreach { case (expected, txt) =>
      assert(SqlRouter.joinRefs(txt) === expected, s"input: $txt")
    }
  }

  test("RANGE bound predicates match PG's lexicographic extended-real semantics") {
    // Partitioning.rangeCmp compiles multi-key bounds with
    // MINVALUE/MAXVALUE sentinel truncation into nested AND/OR text —
    // the fiddliest partition code. Oracle: treat MINVALUE as -inf and
    // MAXVALUE as +inf, compare tuples lexicographically on extended
    // reals; FROM is row >= lo, TO is row < hi (PG semantics — the
    // sentinel resolves the comparison at its position, which is
    // exactly PG's "components after a sentinel are ignored").
    import org.apache.spark.sql.functions.col
    sealed trait B
    case class V(v: Long) extends B
    case object MinV extends B
    case object MaxV extends B
    def spell(b: B): String = b match {
      case V(v) => v.toString; case MinV => "MINVALUE"; case MaxV => "MAXVALUE"
    }
    def ext(b: B): Double = b match {
      case V(v) => v.toDouble
      case MinV => Double.NegativeInfinity
      case MaxV => Double.PositiveInfinity
    }
    def lexCmp(row: Seq[Long], bound: Seq[B]): Int =
      row.zip(bound).iterator.map { case (r, b) =>
        java.lang.Double.compare(r.toDouble, ext(b))
      }.find(_ != 0).getOrElse(0)
    val bGen = Gen.oneOf(Gen.choose(-2L, 2L).map(V(_): B),
      Gen.const(MinV: B), Gen.const(MaxV: B))
    val boundsGen = for {
      lo <- Gen.listOfN(2, bGen)
      hi <- Gen.listOfN(2, bGen)
    } yield (lo, hi)
    val rows = for (a <- -3L to 3L; b <- -3L to 3L) yield (a, b)
    import spark.implicits._
    val df = rows.toDF("a", "b")
    val spec = Partitioning.Spec("RANGE", Seq("a", "b"))
    samples(boundsGen, 60).foreach { case (lo, hi) =>
      val bounds = s"FOR VALUES FROM (${lo.map(spell).mkString(", ")}) " +
        s"TO (${hi.map(spell).mkString(", ")})"
      val pred = Partitioning.boundPredicateSql(spec, bounds).get
      val got = df.selectExpr("a", "b", s"coalesce($pred, false) AS p")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getBoolean(2))
        .toMap
      rows.foreach { case (a, b) =>
        val expect = lexCmp(Seq(a, b), lo) >= 0 && lexCmp(Seq(a, b), hi) < 0
        assert(got((a, b)) === expect,
          s"row ($a, $b) vs $bounds — predicate: $pred")
      }
    }
  }

  test("LIST bound predicates match set membership, NULL semantics included") {
    import org.apache.spark.sql.functions.col
    // values: small strings + optional NULL membership; rows include
    // NULL keys — a NULL key belongs to a child iff NULL is LISTED
    // (the IS NOT NULL conjunct keeps it out of every other child)
    val valGen = Gen.nonEmptyListOf(
      Gen.oneOf("'a'", "'b'", "'c'", "'EU'", "'eu'", "NULL")).map(_.distinct)
    val rows: Seq[Option[String]] =
      Seq(Some("a"), Some("b"), Some("c"), Some("EU"), Some("eu"),
        Some("zz"), None)
    import spark.implicits._
    val df = rows.map(v => Tuple1(v.orNull)).toDF("k")
    val spec = Partitioning.Spec("LIST", Seq("k"))
    samples(valGen, 40).foreach { vals =>
      val bounds = s"FOR VALUES IN (${vals.mkString(", ")})"
      val pred = Partitioning.boundPredicateSql(spec, bounds).get
      val got = df.selectExpr("k", s"coalesce($pred, false) AS p")
        .collect().map(r => Option(r.getString(0)) -> r.getBoolean(1)).toMap
      val listed = vals.filter(_ != "NULL")
        .map(_.stripPrefix("'").stripSuffix("'")).toSet
      val nullListed = vals.contains("NULL")
      rows.foreach { k =>
        val expect = k.fold(nullListed)(listed.contains)
        assert(got(k) === expect, s"key $k vs $bounds — predicate: $pred")
      }
    }
  }
}
