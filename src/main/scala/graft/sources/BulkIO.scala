package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

/** Bulk + columnar IO (reference A11–A17):
  * MySQL `LOAD DATA [LOCAL] INFILE` option surface
  * (`/root/reference/backend/loaddata.go:115-227`: sep/quote/escape/
  * null-marker/skip-lines/column subset) re-expressed on `spark.read`,
  * PG `COPY TO` csv/json/parquet
  * (`/root/reference/pgserver/datawriter.go:33-173`), and duplicate-key
  * handling (`INSERT OR IGNORE / OR REPLACE`,
  * `backend/loaddata.go:96-113`) via the copy-on-write table's
  * anti-join / merge paths.
  *
  * Scale: loads are plain distributed scans (one task per file split);
  * IGNORE adds one broadcast anti-join against existing PKs; REPLACE is
  * the PK-pruned merge. Exports partition the output by the incoming
  * DataFrame's partitioning — `coalesce(1)` only when a single wire
  * stream is requested (the reference's FIFO-to-client analog).
  */
object BulkIO {

  /** The reference's LOAD DATA / COPY option surface. `nullValue`
    * defaults to MySQL's `\N`; `skipLines` implements `IGNORE n
    * LINES`; `quote = "\u0000"` disables enclosure (MySQL's ENCLOSED
    * BY '' default); `failFast` makes malformed lines an ERROR (the PG
    * COPY contract) instead of PERMISSIVE all-null rows. Statement
    * handlers pick the dialect's defaults (SqlRouter.loadDataOptions /
    * copyOptions) — these constructor defaults are the generic-CSV
    * personality. */
  final case class CsvOptions(
      sep: String = ",",
      quote: String = "\"",
      escape: String = "\\",
      nullValue: String = "\\N",
      header: Boolean = false,
      skipLines: Int = 0,
      failFast: Boolean = false,
      /** `LINES TERMINATED BY` — may be MULTI-CHAR (`\r\n`, `xx`);
        * honored by the escape-aware reader (the reference's builder
        * degrades every multi-char value to `\r\n`,
        * `backend/loaddata.go:162-167`). */
      lineSep: String = "\n",
      /** `LINES STARTING BY` — MySQL semantics: skip everything up to
        * and INCLUDING the prefix; a line without the prefix is
        * skipped entirely. Empty = off. */
      lineStart: String = "")

  private def readerOpts(o: CsvOptions): Map[String, String] = Map(
    "sep" -> o.sep, "quote" -> o.quote, "escape" -> o.escape,
    "nullValue" -> o.nullValue, "header" -> o.header.toString,
    "mode" -> (if (o.failFast) "FAILFAST" else "PERMISSIVE"))

  /** LOAD: CSV → DataFrame with a declared schema (never inferred —
    * matches the reference's DDL-driven typing, SURVEY §1.2). */
  def loadCsv(spark: SparkSession, path: String, schema: StructType,
      opts: CsvOptions = CsvOptions()): DataFrame = {
    if (opts.skipLines <= 0) {
      spark.read.options(readerOpts(opts)).schema(schema).csv(path)
    } else {
      // IGNORE n LINES: per-file line skip. Line order within a file is
      // reconstructed from (file, monotonic id) — splits of one file get
      // increasing ids in offset order. A declared header counts as one
      // more skipped line (from_csv cannot honor the header option).
      val skip = opts.skipLines + (if (opts.header) 1 else 0)
      val lines0 = spark.read.text(path)
        .withColumn("__f", input_file_name())
        .withColumn("__mid", monotonically_increasing_id())
      // the per-file cutoff id is computed on the SKINNY (file, id)
      // projection and broadcast back — the full line text never
      // shuffles through the window (a 10 GB file would otherwise land
      // on one reducer just to drop n lines)
      val w = Window.partitionBy(col("__f")).orderBy(col("__mid"))
      val cutoff = lines0.select(col("__f"), col("__mid"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= skip)
        .groupBy(col("__f")).agg(max(col("__mid")).as("__cut"))
      val lines = lines0.join(broadcast(cutoff), Seq("__f"), "left")
        .filter(col("__cut").isNull || col("__mid") > col("__cut"))
        // blank lines: the csv READER drops them; from_csv would turn
        // them into spurious all-null rows
        .filter(length(col("value")) > 0)
      lines.select(from_csv(col("value"), schema, readerOpts(opts)).as("r"))
        .select(schema.fieldNames.map(f => col(s"r.$f")): _*)
    }
  }

  /** COPY ... FROM in PostgreSQL's default TEXT format — the format
    * pg_dump emits when not asked for csv. NOT a csv dialect: fields
    * split on RAW delimiter characters only (tabs/newlines/backslashes
    * IN data always arrive escaped), `\N` marks NULL BEFORE unescaping
    * (so a literal field "\\N" decodes to the two-char string), every
    * other field decodes PG escape sequences (codegen `pg_unescape`),
    * and BYTEA columns accept the hex form `\x48...` → bytes (PG's
    * default bytea_output since 9.0; the legacy `escape` output — raw
    * octal per byte — would round-trip through UTF-8 and is NOT
    * supported: dump with the default). Strict: a row with the wrong
    * field count ERRORS (the COPY contract). Reference surface:
    * `pgserver/dataloader.go:19-289`. */
  def pgTextFrame(spark: SparkSession, schema: StructType, path: String,
      sep: String = "\t", nullStr: String = "\\N"): DataFrame = {
    require(sep.length == 1, s"single-char delimiter: '$sep'")
    graft.functions.GraftFunctions.register(spark)
    val fields = schema.fields
    val arity = fields.length
    val lines = spark.read.text(path)
      // escape-AWARE split (PgSplitFields): PG escapes in-data
      // delimiter characters, so a plain split would cut inside the
      // escape sequence for any non-default delimiter
      .select(call_function("pg_split_fields", col("value"), lit(sep))
        .as("__f"))
      // strict arity — PERMISSIVE-style null-padding would silently
      // corrupt a restore
      .withColumn("__n", size(col("__f")))
    val cols = fields.zipWithIndex.map { case (f, i) =>
      val raw = element_at(col("__f"), i + 1)
      // unescape FIRST: bytea's hex form travels text-escaped on disk
      // (`\\x48...` — the backslash itself is escaped), so the `\x`
      // marker only exists after decode
      val decoded = call_function("pg_unescape", raw)
      val nonNull = f.dataType match {
        case org.apache.spark.sql.types.BinaryType =>
          when(decoded.startsWith("\\x"),
            unhex(decoded.substr(lit(3), length(decoded))))
            .otherwise(decoded.cast(f.dataType))
        case dt => decoded.cast(dt)
      }
      when(raw === nullStr, lit(null).cast(f.dataType))
        .otherwise(nonNull).as(f.name)
    }
    lines
      // assert_true survives optimization (side-effecting), so the
      // arity check cannot be pruned away with the helper columns
      .filter(assert_true(col("__n") === arity,
        concat(lit("COPY TEXT row has "), col("__n"),
          lit(s" fields, expected $arity"))).isNull)
      .select(cols.toIndexedSeq: _*)
  }

  /** COPY ... TO in PG TEXT format — [[pgTextFrame]]'s inverse:
    * every field escapes the delimiter/record chars (codegen
    * `pg_escape`), BINARY columns emit the `\x` hex form, NULL emits
    * `nullStr`. Written as one text line per row; `singleStream`
    * collapses to exactly `path` like [[exportCsv]]. */
  def exportPgText(df: DataFrame, path: String, sep: String = "\t",
      nullStr: String = "\\N", singleStream: Boolean = false): Unit = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val cols = df.schema.fields.map { f =>
      val c = col(f.name)
      val enc = f.dataType match {
        case org.apache.spark.sql.types.BinaryType =>
          // the \x marker's own backslash must be text-escaped on disk
          // (pg_escape doubles it) — a bare \x would decode as the
          // single-byte \xNN escape on a real PG restore
          call_function("pg_escape", concat(lit("\\x"), lower(hex(c))))
        case org.apache.spark.sql.types.StringType =>
          call_function("pg_escape", c)
        case _ => c.cast("string") // numerics/dates never need escapes
      }
      when(c.isNull, lit(nullStr)).otherwise(enc)
    }
    val lines = df.select(concat_ws(sep, cols.toIndexedSeq: _*).as("value"))
    if (!singleStream) { lines.write.mode("overwrite").text(path); return }
    val tmp = path + ".__graft_tmp_" + java.util.UUID.randomUUID()
    lines.coalesce(1).write.mode("overwrite").text(tmp)
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val fs = tmpPath.getFileSystem(conf)
    val part = fs.listStatus(tmpPath).map(_.getPath)
      .find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    val dest = new org.apache.hadoop.fs.Path(path)
    fs.delete(dest, true)
    if (!fs.rename(part, dest))
      throw new java.io.IOException(s"could not move $part to $dest")
    fs.delete(tmpPath, true)
  }

  /** COPY ... TO (FORMAT CSV) — `singleStream=true` ≈ one FIFO to the
    * client: the output is ONE FILE at exactly `path` (a Spark
    * part-file directory named out.csv would break every client that
    * opens the path as a file); false keeps distributed part-files. */
  def exportCsv(df: DataFrame, path: String, opts: CsvOptions = CsvOptions(),
      singleStream: Boolean = false): Unit = {
    val writerOpts = Map("sep" -> opts.sep, "quote" -> opts.quote,
      "escape" -> opts.escape, "nullValue" -> opts.nullValue,
      "header" -> opts.header.toString)
    if (!singleStream) {
      df.write.mode("overwrite").options(writerOpts).csv(path)
      return
    }
    val tmp = path + ".__graft_tmp_" + java.util.UUID.randomUUID()
    df.coalesce(1).write.mode("overwrite").options(writerOpts).csv(tmp)
    moveSinglePart(df.sparkSession, tmp, path)
  }

  /** Collapse a one-part Spark output directory to exactly `path`. */
  private def moveSinglePart(spark: SparkSession, tmp: String,
      path: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val fs = tmpPath.getFileSystem(conf)
    val part = fs.listStatus(tmpPath).map(_.getPath)
      .find(_.getName.startsWith("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
    val dest = new org.apache.hadoop.fs.Path(path)
    fs.delete(dest, true)
    if (!fs.rename(part, dest))
      throw new java.io.IOException(s"could not move $part to $dest")
    fs.delete(tmpPath, true)
  }

  /** SELECT ... INTO OUTFILE in MySQL's FIELDS ESCAPED BY encoding —
    * the byte-exact inverse of the reference's LOAD DATA contract
    * (`/root/reference/backend/loaddata.go:115-227`, MySQL manual
    * output rules): with a non-empty escape char, the escape char
    * itself, the first FIELDS TERMINATED BY char, the line terminator
    * and the enclosure char are written as escape + ACTUAL character
    * (a field containing a tab serializes as `\<tab>`, an embedded
    * newline as `\<newline>` INSIDE the physical line), ASCII NUL as
    * `\0`, and NULL as `\N` — or as the word `NULL` when enclosed or
    * escape-less, exactly the reference's nullstr fork. Enclosure
    * (when set) wraps every field. The query runs distributed; only
    * the final single-file stream serializes. */
  def exportMySqlText(df: DataFrame, path: String,
      opts: CsvOptions = CsvOptions(), singleStream: Boolean = true): Unit = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val enc = if (opts.quote == "\u0000") "" else opts.quote
    val esc = opts.escape
    // chars that must be escaped: first sep char, line terminator,
    // enclosure (MySQL manual: "the FIELDS ESCAPED BY character is
    // used to prefix ... the first character of FIELDS TERMINATED BY
    // and LINES TERMINATED BY")
    val special = opts.sep.take(1) + "\n" + enc
    // reference loaddata.go nullstr fork: enclosed or escape-less
    // dialects spell NULL as the word; otherwise \N
    val nullRep =
      if (enc.nonEmpty || esc.isEmpty) "NULL"
      else esc.take(1) + "N"
    val cols = df.schema.fields.map { f =>
      val base = col(f.name).cast("string")
      val escaped =
        if (esc.isEmpty) base
        // mysql_escape's 2nd arg: FIRST char = the escape character
        // (FIELDS ESCAPED BY may be custom), rest = chars to prefix
        else call_function("mysql_escape", base, lit(esc.take(1) + special))
      val enclosed =
        if (enc.isEmpty) escaped
        else concat(lit(enc), escaped, lit(enc))
      when(col(f.name).isNull, lit(nullRep)).otherwise(enclosed)
    }
    val lines = df.select(concat_ws(opts.sep, cols.toIndexedSeq: _*).as("value"))
    if (!singleStream) { lines.write.mode("overwrite").text(path); return }
    val tmp = path + ".__graft_tmp_" + java.util.UUID.randomUUID()
    lines.coalesce(1).write.mode("overwrite").text(tmp)
    moveSinglePart(df.sparkSession, tmp, path)
  }

  /** LOAD DATA for MySQL's backslash-escape dialect —
    * [[exportMySqlText]]'s reading half, and MORE faithful than the
    * reference (whose DuckDB read_csv cannot interpret `\` escapes and
    * passes `escape = ''` — `loaddata.go:177-180`'s TODO): an escaped
    * line terminator does NOT end the record, `\N` (raw, unenclosed)
    * is NULL, fields split on raw separators only, and letter escapes
    * decode per the MySQL input rules. Each FILE parses as one unit
    * (MySQL reads the file sequentially too) via wholetext — a glob of
    * files still parallelizes per file; fields then decode in codegen.
    * Strict arity like the PG TEXT path. Falls back to the streaming
    * CSV frame for oversized files. */
  def mySqlTextFrame(spark: SparkSession, schema: StructType,
      path: String, opts: CsvOptions = CsvOptions()): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    require(opts.escape == "\\", "mysql-text load expects ESCAPED BY '\\'")
    // wholetext holds each file as ONE string (the price of decoding
    // escaped line terminators, which no line-splitting reader can
    // see); the JVM caps strings at 2 GB and the scan buffers ~2-3x
    // the file, so oversized files fall back to the streaming CSV
    // reader — reference parity (DuckDB read_csv with escape=''),
    // which handles every dump that carries no in-data escapes.
    val maxBytes = spark.conf
      .getOption("spark.graft.load.wholeTextMaxBytes")
      .map(_.toLong).getOrElse(512L * 1024 * 1024)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val entries = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Nil)
    val oversized = entries.exists { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).exists(_.getLen > maxBytes)
      else st.getLen > maxBytes
    }
    val customLines = opts.lineStart.nonEmpty || opts.lineSep != "\n"
    if (oversized) {
      // the streaming CSV fallback cannot express a line PREFIX or an
      // arbitrary multi-char terminator — failing loudly beats a
      // silent misparse of every row
      require(!customLines,
        "LOAD DATA with LINES STARTING BY / multi-char LINES TERMINATED " +
          s"BY needs the in-memory reader; file exceeds ${maxBytes}B")
      return loadCsv(spark, path, schema, opts)
    }
    val sep = opts.sep.take(1)
    val enc = if (opts.quote == "\u0000") "" else opts.quote
    import spark.implicits._
    val files = spark.read.option("wholetext", "true").text(path).as[String]
    // escape-aware record split + IGNORE n LINES, per file. The
    // terminator may be MULTI-CHAR (`\r\n`, `xx`) — matched only at
    // unescaped positions, so an escaped first terminator char in data
    // never splits a record. LINES STARTING BY applies per record
    // AFTER the skip: MySQL drops everything up to and including the
    // prefix and skips prefix-less lines entirely — semantics the
    // reference's DuckDB builder cannot express (`backend/loaddata.go:
    // 162-167` degrades multi-char terminators to '\r\n' and drops the
    // prefix option).
    val skip = opts.skipLines
    val term = if (opts.lineSep.isEmpty) "\n" else opts.lineSep
    val start = opts.lineStart
    val lines = files.flatMap { content =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val cur = new java.lang.StringBuilder
      var i = 0
      while (i < content.length) {
        val c = content.charAt(i)
        if (c == '\\' && i + 1 < content.length) {
          cur.append(c).append(content.charAt(i + 1)); i += 2
        } else if (c == term.charAt(0) &&
            content.regionMatches(i, term, 0, term.length)) {
          out += cur.toString; cur.setLength(0); i += term.length
        } else { cur.append(c); i += 1 }
      }
      if (cur.length > 0) out += cur.toString
      val recs = out.drop(skip)
      if (start.isEmpty) recs
      else recs.flatMap { r =>
        val p = r.indexOf(start)
        if (p < 0) None else Some(r.substring(p + start.length))
      }
    }.toDF("value").filter(length(col("value")) > 0)
    val fields = schema.fields
    val arity = fields.length
    val split = lines
      .select(call_function("pg_split_fields", col("value"), lit(sep)).as("__f"))
      .withColumn("__n", size(col("__f")))
    val cols = fields.zipWithIndex.map { case (f, i) =>
      val raw0 = element_at(col("__f"), i + 1)
      // enclosure strip (raw, before unescaping)
      val raw =
        if (enc.isEmpty) raw0
        else when(raw0.startsWith(enc) && raw0.endsWith(enc) &&
          length(raw0) >= 2 * enc.length,
          raw0.substr(lit(enc.length + 1), length(raw0) - 2 * enc.length))
          .otherwise(raw0)
      val decoded = call_function("mysql_unescape", raw)
      // \N only counts UNENCLOSED and raw (a literal field `\\N`
      // decodes to the two-char string, like the PG path)
      when(raw0 === "\\N" || raw0 === "NULL" && lit(enc.nonEmpty),
        lit(null).cast(f.dataType))
        .otherwise(decoded.cast(f.dataType)).as(f.name)
    }
    split
      .filter(assert_true(col("__n") === arity,
        concat(lit("LOAD DATA row has "), col("__n"),
          lit(s" fields, expected $arity"))).isNull)
      .select(cols.toIndexedSeq: _*)
  }

  /** COPY ... TO (FORMAT PARQUET / JSON). */
  def exportParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)
  def exportJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** A17: direct file querying (`SELECT ... FROM 'file.parquet'`). */
  def queryParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
  def queryCsv(spark: SparkSession, path: String, schema: StructType,
      opts: CsvOptions = CsvOptions()): DataFrame =
    loadCsv(spark, path, schema, opts)
}
