package graft.sources

import java.nio.file.Files
import graft.SparkSpec
import graft.storage.GraftTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bulk/columnar IO fixtures mirroring FIXTURES.md §5 (basic.csv,
  * test2.csv, issue329.tsv shapes) + Arrow IPC round-trips. */
class BulkIOSpec extends SparkSpec {
  import spark.implicits._
  import BulkIO._

  private val xySchema = StructType(Seq(
    StructField("pk", IntegerType), StructField("c1", StringType)))

  private def writeFile(name: String, content: String): String = {
    val p = tmpDir("bulkio").resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  test("basic csv load (test2.csv shape, header)") {
    val f = writeFile("test2.csv", "pk,c1\n1,hi\n2,hello\n")
    val df = loadCsv(spark, f, xySchema, CsvOptions(header = true))
    assert(df.orderBy("pk").as[(Int, String)].collect()
      === Array((1, "hi"), (2, "hello")))
  }

  test("tsv with null marker, custom escape, skip lines (issue329 shape)") {
    val f = writeFile("x.tsv",
      "junk line\n1\t{\"a\": \"b\"}\n2\t\\N\n3\tplain\n")
    val df = loadCsv(spark, f, xySchema,
      CsvOptions(sep = "\t", quote = "\u0000", nullValue = "\\N", skipLines = 1))
    assert(df.orderBy("pk").as[(Int, String)].collect()
      === Array((1, "{\"a\": \"b\"}"), (2, null), (3, "plain")))
  }

  test("LOAD ... IGNORE keeps existing rows on pk conflict") {
    val t = GraftTable.create(spark, tmpDir("load_ign"), xySchema, Seq("pk"))
    t.insert(Seq((1, "old")).toDF("pk", "c1"))
    val f = writeFile("in.csv", "1,new\n2,two\n")
    t.insertIgnoreRows(loadCsv(spark, f, t.schema, CsvOptions()))
    assert(t.read().orderBy("pk").as[(Int, String)].collect()
      === Array((1, "old"), (2, "two")))
  }

  test("LOAD ... REPLACE overwrites on pk conflict") {
    val t = GraftTable.create(spark, tmpDir("load_rep"), xySchema, Seq("pk"))
    t.insert(Seq((1, "old")).toDF("pk", "c1"))
    val f = writeFile("in.csv", "1,new\n2,two\n")
    t.replaceRows(loadCsv(spark, f, t.schema, CsvOptions()))
    assert(t.read().orderBy("pk").as[(Int, String)].collect()
      === Array((1, "new"), (2, "two")))
  }

  test("LOAD ... REPLACE with in-file duplicate PKs keeps the last row") {
    val t = GraftTable.create(spark, tmpDir("load_rep_dup"), xySchema, Seq("pk"))
    t.insert(Seq((1, "old")).toDF("pk", "c1"))
    // MySQL REPLACE processes the file in order: the final occurrence of
    // each key wins, and the table must end with one row per PK
    val f = writeFile("dup.csv", "1,first\n2,two\n1,second\n1,last\n")
    t.replaceRows(loadCsv(spark, f, t.schema, CsvOptions()))
    assert(t.read().orderBy("pk").as[(Int, String)].collect()
      === Array((1, "last"), (2, "two")))
    assert(t.checkUnique().count() === 0)
  }

  test("csv export round-trips with options") {
    val df = Seq((1, "a,b"), (2, null.asInstanceOf[String])).toDF("pk", "c1")
    val out = tmpDir("csv_out").resolve("d").toString
    exportCsv(df, out, CsvOptions(sep = "|", nullValue = "NULL"), singleStream = true)
    val back = loadCsv(spark, out, xySchema, CsvOptions(sep = "|", nullValue = "NULL"))
    assert(back.orderBy("pk").as[(Int, String)].collect()
      === Array((1, "a,b"), (2, null)))
  }

  test("parquet + json export round-trip") {
    val df = Seq((1, "a"), (2, "b")).toDF("pk", "c1")
    val pq = tmpDir("pq_out").resolve("d").toString
    exportParquet(df, pq)
    assert(queryParquet(spark, pq).count() === 2)
    val js = tmpDir("js_out").resolve("d").toString
    exportJson(df, js)
    assert(spark.read.schema(xySchema).json(js).count() === 2)
  }

  test("LOAD JSON into a table with REPLACE semantics") {
    val t = GraftTable.create(spark, tmpDir("load_json"), xySchema, Seq("pk"))
    t.insert(Seq((1, "old")).toDF("pk", "c1"))
    val f = writeFile("in.jsonl",
      """{"pk": 1, "c1": "new"}""" + "\n" + """{"pk": 2, "c1": "two"}""" + "\n")
    t.replaceRows(spark.read.schema(t.schema).json(f))
    assert(t.read().orderBy("pk").as[(Int, String)].collect()
      === Array((1, "new"), (2, "two")))
  }

  test("arrow IPC round-trip preserves values, nulls, and schema") {
    val df = Seq(
      (1L, Some(1.5), "x", true),
      (2L, None, null.asInstanceOf[String], false))
      .toDF("id", "v", "s", "b")
    val bytes = ArrowCodec.encode(df, batchRows = 1) // force multi-batch
    val back = ArrowCodec.decode(spark, bytes)
    assert(back.schema.fieldNames === df.schema.fieldNames)
    assert(back.orderBy("id").collect().map(_.toSeq)
      === df.orderBy("id").collect().map(_.toSeq))
  }

  test("arrow decode of binary column") {
    val df = Seq((1, Array[Byte](1, 2, 3))).toDF("id", "payload")
    val back = ArrowCodec.decode(spark, ArrowCodec.encode(df))
    assert(back.select("payload").as[Array[Byte]].collect().head.toSeq === Seq(1, 2, 3))
  }

  // ------------------------------------------------------------------
  // sources review regressions (round 6)

  test("singleStream export writes ONE FILE at exactly the given path") {
    val df = Seq((1, "a"), (2, "b")).toDF("pk", "c1")
    val out = tmpDir("bulkio_single").resolve("out.csv").toString
    exportCsv(df, out, CsvOptions(header = true), singleStream = true)
    val p = java.nio.file.Paths.get(out)
    assert(java.nio.file.Files.isRegularFile(p)) // a file, not a part-dir
    val back = loadCsv(spark, out, xySchema, CsvOptions(header = true))
    assert(back.orderBy("pk").as[(Int, String)].collect()
      === Array((1, "a"), (2, "b")))
  }

  test("skipLines tolerates interior blank lines and honors header") {
    val f = writeFile("blank.csv", "junk to skip\npk,c1\n1,hi\n\n2,ho\n")
    val df = loadCsv(spark, f, xySchema,
      CsvOptions(header = true, skipLines = 1))
    // header counted as one more skipped line; the blank line is NOT an
    // all-null row
    assert(df.orderBy("pk").as[(Int, String)].collect()
      === Array((1, "hi"), (2, "ho")))
  }

  test("COPY TEXT format: escapes, bytea hex, \\N nulls") {
    graft.functions.GraftFunctions.register(spark)
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("txt", StringType),
      StructField("payload", BinaryType), StructField("n", LongType)))
    val t = GraftTable.create(spark, tmpDir("pgtext"), schema, Seq("id"))
    // what pg_dump actually emits: tab-separated, escape sequences for
    // control chars/backslash, \x hex bytea, \N nulls
    val body =
      "1\ta\\tb\\nc\t\\\\x48454c4c4f\t7\n" +
      "2\t\\N\t\\N\t\\N\n" +
      "3\tocta\\101l and hex\\x41!\t\\\\x00ff7f\t0\n" +
      "4\tback\\\\slash\t\\\\x\t1\n"
    val f = writeFile("pg.txt", body)
    assert(t.insert(pgTextFrame(spark, t.schema, f)) === 4L)
    val got = t.read().orderBy("id").collect().map(r => (r.getInt(0),
      Option(r.getString(1)), Option(r.get(2)).map(_.asInstanceOf[Array[Byte]].toSeq),
      Option(r.get(3))))
    assert(got(0) === ((1, Some("a\tb\nc"), Some("HELLO".getBytes("UTF-8").toSeq), Some(7L))))
    assert(got(1) === ((2, None, None, None)))
    assert(got(2) === ((3, Some("octaAl and hexA!"), Some(Seq[Byte](0x00, -1, 0x7f)), Some(0L))))
    assert(got(3) === ((4, Some("back\\slash"), Some(Seq.empty[Byte]), Some(1L))))
  }

  test("COPY TEXT rejects wrong-arity rows instead of null-padding") {
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType)))
    val t = GraftTable.create(spark, tmpDir("pgtext_bad"), schema, Seq("id"))
    val f = writeFile("bad.txt", "1\ta\n2\tb\textra\n")
    intercept[Exception](t.insert(pgTextFrame(spark, t.schema, f)))
  }

  test("LINES TERMINATED BY: multi-char terminators, escaped first char stays data") {
    graft.functions.GraftFunctions.register(spark)
    val t = GraftTable.create(spark, tmpDir("lines_term"), xySchema, Seq("pk"))
    // \r\n terminators; a field carrying an ESCAPED \r (via \\r byte
    // pair is not the MySQL spelling — the writer emits backslash+CR)
    // must not split the record
    val body = "1\tone\r\n2\ttwo\\\r\nstill\r\n3\tthree\r\n"
    val f = writeFile("crlf.txt", body)
    val opts = CsvOptions(sep = "\t", quote = "\u0000", escape = "\\",
      nullValue = "\\N", lineSep = "\r\n")
    assert(t.insert(mySqlTextFrame(spark, t.schema, f, opts)) === 3L)
    val got = t.read().orderBy("pk").as[(Int, String)].collect()
    assert(got(0) === ((1, "one")) && got(2) === ((3, "three")))
    assert(got(1)._2.startsWith("two") && got(1)._2.contains("still"),
      s"escaped CR split the record: ${got(1)}")

    // arbitrary multi-char terminator (the reference degrades these
    // to \r\n — backend/loaddata.go:162-167; MySQL honors them)
    val t2 = GraftTable.create(spark, tmpDir("lines_xx"), xySchema, Seq("pk"))
    val f2 = writeFile("xx.txt", "1\taxx2\tbxx3\tcxx")
    assert(t2.insert(mySqlTextFrame(spark, t2.schema, f2,
      opts.copy(lineSep = "xx"))) === 3L)
    assert(t2.read().orderBy("pk").as[(Int, String)].collect()
      === Array((1, "a"), (2, "b"), (3, "c")))
  }

  test("LINES STARTING BY: prefix and junk before it drop; prefix-less lines skip") {
    graft.functions.GraftFunctions.register(spark)
    val t = GraftTable.create(spark, tmpDir("lines_start"), xySchema, Seq("pk"))
    // MySQL manual semantics: skip up to AND INCLUDING the prefix;
    // a line without the prefix is skipped entirely
    val body = "junk>>1\tone\n>>2\ttwo\nno prefix here\nxx>>3\tthree\n"
    val f = writeFile("prefix.txt", body)
    val opts = CsvOptions(sep = "\t", quote = "\u0000", escape = "\\",
      nullValue = "\\N", lineStart = ">>")
    assert(t.insert(mySqlTextFrame(spark, t.schema, f, opts)) === 3L)
    assert(t.read().orderBy("pk").as[(Int, String)].collect()
      === Array((1, "one"), (2, "two"), (3, "three")))
  }

  test("LOAD DATA SQL: LINES STARTING BY + TERMINATED BY route through the reader") {
    val e = new graft.Engine(spark, tmpDir("lines_sql"))
    graft.SqlRouter.execute(e, "CREATE TABLE t (pk INT PRIMARY KEY, c1 STRING)")
    val f = writeFile("sql_lines.txt", "##1\tone\r\nskipme\r\n##2\ttwo\r\n")
    graft.SqlRouter.execute(e, s"LOAD DATA INFILE '$f' INTO TABLE t " +
      "FIELDS TERMINATED BY '\\t' " +
      "LINES STARTING BY '##' TERMINATED BY '\\r\\n'")
    import org.apache.spark.sql.Row
    assert(graft.SqlRouter.execute(e, "SELECT pk, c1 FROM t ORDER BY pk")
      .df.get.collect().toSeq === Seq(Row(1, "one"), Row(2, "two")))
  }
}
