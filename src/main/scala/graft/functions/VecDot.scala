package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen dot product over two float/double arrays.
  *
  * Semantics are exactly the strict left-to-right double fold
  *   Σ_i (double)a[i] * (double)b[i]
  * i.e. bit-identical to the SQL
  * `aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS
  * DOUBLE)), 0D, (acc, v) -> acc + v)` it replaces — the HOF version is
  * interpreted per element (Catalyst lambda evaluation) and dominated
  * similarity-search benchmarks; this expression stays inside
  * whole-stage codegen as one tight Java loop (~25× less overhead per
  * pair at 64 dims). A null input or null element yields null, matching
  * zip_with/aggregate null propagation.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects float/double arrays, got ${left.dataType} / ${right.dataType}")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // length mismatch -> NULL, like the documented zip_with/aggregate
    // SQL (zip_with null-pads the shorter side, nulling the sum): a
    // ragged embedding must surface as null, never as a plausible
    // partial dot product
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    // fresh names: two vec_dot calls may land in one codegen scope —
    // fixed identifiers would collide and kill whole-stage codegen
    val n = ctx.freshName("n"); val i = ctx.freshName("i")
    val acc = ctx.freshName("acc"); val anyNull = ctx.freshName("anyNull")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |boolean $anyNull = $n != $b.numElements();
         |for (int $i = 0; !$anyNull && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $anyNull = true; break; }
         |  $acc += (double)$a.$lGet($i) * (double)$b.$rGet($i);
         |}
         |if ($anyNull) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Sorted-merge intersection count of two ascending BIGINT arrays.
  *
  * The set-similarity workhorse: |A ∩ B| over hashed-shingle sets in a
  * single codegen'd two-pointer pass (~|A|+|B| long comparisons, no
  * per-pair hash table). Equal to `size(array_intersect(a, b))` when
  * both inputs are sorted distinct arrays. Null input → null.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isLongArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expects bigint arrays, got ${left.dataType} / ${right.dataType}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable ||
    Seq(left, right).exists(_.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => false
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var n = 0L
    while (i < x.numElements() && j < y.numElements()) {
      // a null ELEMENT violates the sorted-code-set contract: surface
      // null (an unboxed read would NPE or count a phantom 0 match)
      if (x.isNullAt(i) || y.isNullAt(j)) return null
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { n += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // fresh names — fixed identifiers collide when the expression
    // appears more than once in a codegen scope
    val i = ctx.freshName("i"); val j = ctx.freshName("j")
    val n = ctx.freshName("n"); val an = ctx.freshName("an")
    val bn = ctx.freshName("bn"); val xv = ctx.freshName("xv")
    val yv = ctx.freshName("yv")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // When the expression is NON-nullable (both inputs non-nullable
      // arrays with containsNull=false) nullSafeCodeGen never declares
      // ev.isNull: the result is the codegen constant `false`, and any
      // reference to the name — assigning it (r19) or reading it —
      // makes janino REJECT the generated class ("isNull_0 is not an
      // rvalue"), so the enclosing stage or join condition silently
      // fell back to INTERPRETED mode (every non-nullable-array join
      // verify: the minhash and prefix-Jaccard τ filters). Null
      // elements cannot exist in that shape, so ev.isNull is touched
      // only when it is declared.
      val nullElemGuard =
        if (nullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }"
        else ""
      val store =
        if (nullable) s"if (!${ev.isNull}) { ${ev.value} = $n; }"
        else s"${ev.value} = $n;"
      s"""
         |int $i = 0, $j = 0; long $n = 0;
         |int $an = $a.numElements(), $bn = $b.numElements();
         |while ($i < $an && $j < $bn) {
         |  $nullElemGuard
         |  long $xv = $a.getLong($i), $yv = $b.getLong($j);
         |  if ($xv == $yv) { $n++; $i++; $j++; }
         |  else if ($xv < $yv) $i++; else $j++;
         |}
         |$store
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Popcount of the AND of two fixed-width bitmaps stored as bigint
  * arrays — the bit-parallel exact form of [[SortedIntersectCount]]
  * when the code universe is small enough to index (r18 optimization
  * round: the dense-corpus Jaccard scan's per-pair merge walk becomes
  * ~V/64 word ANDs). Inputs must be bitmaps over the SAME universe
  * mapping and equal length (the builder guarantees both); for SETS
  * (distinct codes, the operator contract) the count is exactly
  * |a ∩ b|. Null input → null.
  */
case class BitmapAndCount(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isLongArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expects bigint arrays, got ${left.dataType} / ${right.dataType}")

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0; var c = 0L
    while (i < n) {
      c += java.lang.Long.bitCount(x.getLong(i) & y.getLong(i))
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val i = ctx.freshName("i"); val c = ctx.freshName("c")
    val n = ctx.freshName("n")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $c = 0; int $i = 0;
         |while ($i < $n) {
         |  $c += java.lang.Long.bitCount($a.getLong($i) & $b.getLong($i));
         |  $i++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitmapAndCount =
    copy(left = newLeft, right = newRight)
}

/** Polynomial string hash h = fold(seed=7; h*31 + codepoint, mod 1e9+7)
  * — the engine's shared shingle/word hashing primitive, bit-identical
  * to the `aggregate(transform(sequence(...), ascii(substring(...))))`
  * HOF fold it replaces (and to the DuckDB oracle's `list_reduce`
  * formulation), but as one codegen'd loop instead of three nested
  * interpreted lambdas per string. Null → null.
  */
case class PolyHash(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"expects string, got ${child.dataType}")

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    PolyHash.hash(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.hash($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

/** PostgreSQL COPY TEXT-format field unescape (the decode half of
  * `COPY ... FROM` in the default text format, which pg_dump emits when
  * not asked for csv): `\b \f \n \r \t \v \\` plus 1–3-digit octal
  * (`\101`) and `\xH[H]` hex escapes; any other backslashed character
  * decodes to itself (PG's documented rule). Null → null. One codegen
  * loop per field — the per-cell hot path of a restore. */
case class PgUnescapeText(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"expects string, got ${child.dataType}")

  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any =
    PgUnescapeText.decode(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PgUnescapeText.decode($c)")

  override protected def withNewChildInternal(newChild: Expression): PgUnescapeText =
    copy(child = newChild)
}

/** The encode half of PG COPY TEXT ([[PgUnescapeText]]'s inverse):
  * backslash, tab, newline, CR, and the other C0 controls PG escapes
  * (`\b \f \v`) become escape sequences so the emitted field can never
  * contain a raw delimiter or record separator. Null → null. */
case class PgEscapeText(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"expects string, got ${child.dataType}")

  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any =
    PgEscapeText.encode(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PgEscapeText.encode($c)")

  override protected def withNewChildInternal(newChild: Expression): PgEscapeText =
    copy(child = newChild)
}

object PgEscapeText {
  def encode(u: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val s = u.toString
    var needs = false
    var i = 0
    while (i < s.length && !needs) {
      val c = s.charAt(i)
      needs = c == '\\' || c == '\t' || c == '\n' || c == '\r' ||
        c == '\b' || c == '\f' || c == '\u000B'
      i += 1
    }
    if (!needs) return u
    val out = new java.lang.StringBuilder(s.length + 8)
    i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => out.append("\\\\")
        case '\t' => out.append("\\t")
        case '\n' => out.append("\\n")
        case '\r' => out.append("\\r")
        case '\b' => out.append("\\b")
        case '\f' => out.append("\\f")
        case '\u000B' => out.append("\\v")
        case c => out.append(c)
      }
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(out.toString)
  }
}

object PgUnescapeText {
  def decode(u: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val s = u.toString
    if (s.indexOf('\\') < 0) return u
    // BYTE-level output: \xHH and \ooo escapes denote BYTES (PG's
    // documented semantics — \777 is the byte 0xFF), so a char-level
    // decode would mangle escaped multi-byte UTF-8. Plain runs flush
    // through UTF-8; escape bytes write raw.
    val out = new java.io.ByteArrayOutputStream(s.length)
    val run = new java.lang.StringBuilder
    def flush(): Unit = if (run.length > 0) {
      out.write(run.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      run.setLength(0)
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != '\\' || i + 1 >= s.length) { run.append(c); i += 1 }
      else {
        val n = s.charAt(i + 1)
        i += 2
        n match {
          case 'b' => flush(); out.write('\b')
          case 'f' => flush(); out.write('\f')
          case 'n' => flush(); out.write('\n')
          case 'r' => flush(); out.write('\r')
          case 't' => flush(); out.write('\t')
          case 'v' => flush(); out.write(0x0B)
          case 'x' =>
            // \xH or \xHH; bare \x (no hex digit) is a literal 'x'
            var v = 0; var d = 0
            while (d < 2 && i < s.length &&
                Character.digit(s.charAt(i), 16) >= 0) {
              v = v * 16 + Character.digit(s.charAt(i), 16); i += 1; d += 1
            }
            if (d == 0) run.append('x') else { flush(); out.write(v & 0xFF) }
          case o if o >= '0' && o <= '7' =>
            var v = o - '0'; var d = 1
            while (d < 3 && i < s.length &&
                s.charAt(i) >= '0' && s.charAt(i) <= '7') {
              v = v * 8 + (s.charAt(i) - '0'); i += 1; d += 1
            }
            flush(); out.write(v & 0xFF)
          case other => run.append(other) // PG: unknown escape = itself
        }
      }
    }
    flush()
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out.toByteArray)
  }
}

/** Escape-aware PG COPY TEXT field split: a backslash consumes the
  * following character, so an ESCAPED delimiter (`a\|b` under
  * DELIMITER '|') never splits — plain `split()` would cut inside the
  * escape sequence for any delimiter PG escapes in data. Returns the
  * RAW (still-escaped) fields; [[PgUnescapeText]] decodes them. */
case class PgSplitFields(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expects (string, string), got ${left.dataType} / ${right.dataType}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(l: Any, s: Any): Any =
    PgSplitFields.split(
      l.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.PgSplitFields.split($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PgSplitFields =
    copy(left = newLeft, right = newRight)
}

/** MySQL SELECT INTO OUTFILE field encoding (reference
  * `backend/loaddata.go:115-227`'s exact inverse; MySQL manual "FIELDS
  * ESCAPED BY" output rules): the escape char prefixes ITSELF and each
  * character of `special` (the first char of FIELDS TERMINATED BY,
  * the line terminator, the enclosure char when set) — written as
  * escape + the ACTUAL character, not a letter form — and ASCII NUL is
  * written as escape + '0'. Everything else passes through. Null →
  * null (the caller writes the `\N` marker). */
case class MySqlEscapeText(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expects (string, string), got ${left.dataType} / ${right.dataType}")

  override def dataType: DataType = StringType

  override def nullSafeEval(l: Any, s: Any): Any =
    MySqlEscapeText.encode(
      l.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.MySqlEscapeText.encode($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MySqlEscapeText =
    copy(left = newLeft, right = newRight)
}

object MySqlEscapeText {
  /** `sp`'s FIRST char is the FIELDS ESCAPED BY character; the rest
    * are the specials to prefix. Only the escape char itself doubles
    * (MySQL: a custom `ESCAPED BY '^'` leaves backslashes alone). */
  def encode(u: org.apache.spark.unsafe.types.UTF8String,
      sp: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val s = u.toString
    val spec = sp.toString
    val esc = spec.charAt(0)
    val special = spec.substring(1)
    var needs = false
    var i = 0
    while (i < s.length && !needs) {
      val c = s.charAt(i)
      needs = c == esc || c == '\u0000' || special.indexOf(c) >= 0
      i += 1
    }
    if (!needs) return u
    val out = new java.lang.StringBuilder(s.length + 8)
    i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == esc) out.append(esc).append(esc)
      else if (c == '\u0000') out.append(esc).append('0')
      else if (special.indexOf(c) >= 0) out.append(esc).append(c)
      else out.append(c)
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(out.toString)
  }
}

/** MySQL LOAD DATA field decoding ([[MySqlEscapeText]]'s inverse plus
  * the letter forms the MySQL reader accepts on input): `\0`→NUL,
  * `\b \n \r \t \Z`→their control characters, and `\X`→X for any other
  * X (which is how escape + actual-tab/newline/backslash round-trip).
  * `\N` NULL markers are matched on the RAW field by the caller,
  * before decoding. */
case class MySqlUnescapeText(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"expects string, got ${child.dataType}")

  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any =
    MySqlUnescapeText.decode(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MySqlUnescapeText.decode($c)")

  override protected def withNewChildInternal(newChild: Expression): MySqlUnescapeText =
    copy(child = newChild)
}

object MySqlUnescapeText {
  def decode(u: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    val s = u.toString
    if (s.indexOf('\\') < 0) return u
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != '\\' || i + 1 >= s.length) { out.append(c); i += 1 }
      else {
        s.charAt(i + 1) match {
          case '0' => out.append('\u0000')
          case 'b' => out.append('\b')
          case 'n' => out.append('\n')
          case 'r' => out.append('\r')
          case 't' => out.append('\t')
          case 'Z' => out.append('\u001A')
          case other => out.append(other) // incl. \\ and escaped actuals
        }
        i += 2
      }
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(out.toString)
  }
}

object PgSplitFields {
  def split(line: org.apache.spark.unsafe.types.UTF8String,
      sep: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val s = line.toString
    val sd = sep.toString
    require(sd.length == 1, s"single-char delimiter: '$sd'")
    val d = sd.charAt(0)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.unsafe.types.UTF8String]
    val cur = new java.lang.StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        cur.append(c).append(s.charAt(i + 1)); i += 2
      } else if (c == d) {
        out += org.apache.spark.unsafe.types.UTF8String.fromString(cur.toString)
        cur.setLength(0); i += 1
      } else { cur.append(c); i += 1 }
    }
    out += org.apache.spark.unsafe.types.UTF8String.fromString(cur.toString)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray[Any])
  }
}

object PolyHash {
  /** Must stay in lock-step with HashFrags.wordCodeDuck (the oracle). */
  def hash(s: String): Long = {
    var h = 7L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }
}

/** Sorted distinct array of poly_hash codes over a text's word-bigram
  * shingles — the dedup pack's entire shingling pipeline
  * (split → bigram transform → distinct → hash → set → sort) as ONE
  * codegen'd call per document instead of five interpreted HOF lambdas
  * per shingle (measured 7× on the sf0.1 documents table). Word split
  * is on the literal single space, KEEPING empty tokens — identical to
  * Spark `split(text, ' ')` (limit −1) and DuckDB `string_split`.
  * Dedup is by shingle STRING first (array_distinct analog), then by
  * code; output sorted ascending for sorted_intersect_count. Null → null.
  */
case class ShingleCodeSet(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"expects string, got ${child.dataType}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    ShingleCodeSet.codeSet(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleCodeSet.codeSet($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): ShingleCodeSet =
    copy(child = newChild)
}

object ShingleCodeSet {
  def codeSet(text: String): ArrayData = {
    val words = text.split(" ", -1) // keep empty tokens (split/string_split)
    val seen = new java.util.HashSet[String]()
    val codes = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < words.length - 1) {
      val sh = words(i) + " " + words(i + 1)
      if (seen.add(sh)) codes.add(PolyHash.hash(sh))
      i += 1
    }
    val out = new Array[Long](codes.size)
    val it = codes.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/** Morton/Z-order interleave of two non-negative 32-bit values into one
  * BIGINT sort key: bit 2i = a's bit i, bit 2i+1 = b's bit i. Sorting
  * by the result clusters BOTH dimensions locally, so parquet min/max
  * stats skip files for predicates on either column — the 2-D
  * data-skipping layout `GraftTable.compactZOrder` builds. Inputs are
  * masked to their low 32 bits (callers bucketize first). Null → null.
  */
case class ZOrder2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"zorder2 expects (bigint, bigint), got ${left.dataType} / ${right.dataType}")

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrder2.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.ZOrder2.interleave($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder2 =
    copy(left = newLeft, right = newRight)
}

object ZOrder2 {
  /** Spread the low 32 bits of x to the even bit positions. */
  def spread(x0: Long): Long = {
    var x = x0 & 0xffffffffL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  def interleave(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)
}

/** Runtime registration of engine-native functions into any session's
  * function registry (the analog of the reference's
  * `myfunc/registry.go` + macro registration at startup). */
object GraftFunctions {
  def register(spark: SparkSession): Unit = {
    val fr = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    fr.createOrReplaceTempFunction("vec_dot",
      exprs => VecDot(exprs(0), exprs(1)), "built-in")
    fr.createOrReplaceTempFunction("sorted_intersect_count",
      exprs => SortedIntersectCount(exprs(0), exprs(1)), "built-in")
    fr.createOrReplaceTempFunction("bitmap_and_count",
      exprs => BitmapAndCount(exprs(0), exprs(1)), "built-in")
    fr.createOrReplaceTempFunction("poly_hash",
      exprs => PolyHash(exprs(0)), "built-in")
    fr.createOrReplaceTempFunction("shingle_code_set",
      exprs => ShingleCodeSet(exprs(0)), "built-in")
    fr.createOrReplaceTempFunction("zorder2",
      exprs => ZOrder2(exprs(0), exprs(1)), "built-in")
    // A36 charset transcoding (`/root/reference/charset/charset.go`
    // converts result bytes UTF-8 ↔ client charset): transcode(bin,
    // from, to) → binary, composed from Spark's codegen'd
    // decode/encode expressions — bytes in charset `from` re-encoded
    // into charset `to`.
    fr.createOrReplaceTempFunction("transcode",
      exprs => new org.apache.spark.sql.catalyst.expressions.Encode(
        new org.apache.spark.sql.catalyst.expressions.Decode(
          Seq(exprs(0), exprs(1))), exprs(2)), "built-in")
    // Bloom-sketch build + probe — Catalyst's runtime-filter pair
    // (distributed TypedImperativeAggregate build with partial merge;
    // codegen probe), surfaced as callable functions for
    // [[graft.operators.Operators.semiJoinBloom]]. Both operate on
    // xxhash64(key) longs: bloom_agg(h, n_items, n_bits) → binary,
    // bloom_might_contain(binary, h) → boolean.
    fr.createOrReplaceTempFunction("bloom_agg",
      exprs => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(exprs(0), exprs(1), exprs(2)), "built-in")
    fr.createOrReplaceTempFunction("bloom_might_contain",
      exprs => org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(exprs(0), exprs(1)), "built-in")
    // A15/A12 text-format restore + dump: PG COPY escape codec
    fr.createOrReplaceTempFunction("pg_unescape",
      exprs => PgUnescapeText(exprs(0)), "built-in")
    fr.createOrReplaceTempFunction("pg_escape",
      exprs => PgEscapeText(exprs(0)), "built-in")
    fr.createOrReplaceTempFunction("pg_split_fields",
      exprs => PgSplitFields(exprs(0), exprs(1)), "built-in")
    // A12 SELECT INTO OUTFILE / A11 LOAD DATA: MySQL escape codec
    fr.createOrReplaceTempFunction("mysql_escape",
      exprs => MySqlEscapeText(exprs(0), exprs(1)), "built-in")
    fr.createOrReplaceTempFunction("mysql_unescape",
      exprs => MySqlUnescapeText(exprs(0)), "built-in")
  }
}
