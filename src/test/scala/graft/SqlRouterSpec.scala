package graft

class SqlRouterSpec extends SparkSpec {
  import spark.implicits._

  private def exec(e: Engine, q: String) = SqlRouter.execute(e, q)

  test("end-to-end SQL statement surface") {
    val e = new Engine(spark, tmpDir("router_wh"))
    exec(e, "CREATE TABLE users (id BIGINT PRIMARY KEY, name STRING, bal DOUBLE)")
    assert(e.listTables() === Seq("users"))

    val ins = exec(e, "INSERT INTO users VALUES (1, 'ann', 10.5), (2, 'bo', 20.0)")
    assert(ins.affected === 2)
    val ins2 = exec(e, "INSERT INTO users SELECT 3, 'cy', 30.0")
    assert(ins2.affected === 1)

    val sel = exec(e, "SELECT name FROM users WHERE bal > 15 ORDER BY id")
    assert(sel.df.get.as[String].collect() === Array("bo", "cy"))

    val upd = exec(e, "UPDATE users SET bal = bal * 2 WHERE name = 'ann'")
    assert(upd.affected === 1)
    assert(exec(e, "SELECT bal FROM users WHERE id = 1").df.get.as[Double].head() === 21.0)

    val del = exec(e, "DELETE FROM users WHERE id = 2")
    assert(del.affected === 1)
    assert(exec(e, "SELECT count(*) FROM users").df.get.as[Long].head() === 2)

    exec(e, "CREATE VIEW rich AS SELECT * FROM users WHERE bal > 25")
    assert(exec(e, "SELECT name FROM rich").df.get.as[String].collect() === Array("cy"))

    exec(e, "ALTER TABLE users ADD COLUMN tag STRING DEFAULT 'x' NOT NULL")
    assert(exec(e, "SELECT tag FROM users WHERE id = 1").df.get.as[String].head() === "x")
    exec(e, "ALTER TABLE users RENAME COLUMN tag TO label")
    exec(e, "ALTER TABLE users MODIFY COLUMN label VARCHAR(64)")
    exec(e, "ALTER TABLE users ALTER COLUMN label TYPE STRING")
    exec(e, "ALTER TABLE users DROP COLUMN label")

    exec(e, "INSERT INTO users VALUES (9, 'zed', 1.0)")
    exec(e, "ANALYZE TABLE users COMPUTE STATISTICS")
    assert(e.table("users").manifest.props("stats.rowCount") === "3")
    exec(e, "OPTIMIZE users")
    assert(e.table("users").manifest.files.size === 1)
    // default VACUUM age-gates young files (open-txn safety);
    // RETAIN 0 SECONDS forces immediate collection
    assert(exec(e, "VACUUM users").affected === 0)
    assert(exec(e, "VACUUM users RETAIN 0 SECONDS").affected > 0)

    exec(e, "TRUNCATE TABLE users")
    assert(exec(e, "SELECT count(*) FROM users").df.get.as[Long].head() === 0)
    // time travel reads any retained pre-truncate version
    val latest = e.table("users").history().last
    assert(exec(e, s"SELECT * FROM users VERSION AS OF ${latest - 1}")
      .df.get.count() > 0)

    exec(e, "CREATE DATABASE analytics")
    exec(e, "USE analytics")
    assert(e.currentDatabase === "analytics")
    exec(e, "CREATE TABLE t (a INT)")
    assert(e.listTables("analytics") === Seq("t"))
    exec(e, "DROP TABLE t")
    exec(e, "USE main")
    exec(e, "DROP DATABASE analytics")
  }

  test("CREATE TABLE AS SELECT") {
    val e = new Engine(spark, tmpDir("router_ctas"))
    exec(e, "CREATE TABLE src (a INT, b STRING)")
    exec(e, "INSERT INTO src VALUES (1, 'x'), (2, 'y'), (3, 'z')")
    val r = exec(e, "CREATE TABLE dst AS SELECT a * 10 AS a10, b FROM src WHERE a > 1")
    assert(r.affected === 2)
    assert(exec(e, "SELECT a10 FROM dst ORDER BY a10").df.get.as[Int].collect()
      === Array(20, 30))
    assert(e.table("dst").schema.fieldNames === Array("a10", "b"))
  }

  test("composite primary key parse") {
    val e = new Engine(spark, tmpDir("router_pk"))
    exec(e, "CREATE TABLE kv (a INT, b INT, v STRING, PRIMARY KEY (a, b))")
    assert(e.table("kv").manifest.pkCols === Seq("a", "b"))
  }

  test("REPLACE INTO: incoming rows win, last in-batch duplicate wins") {
    val e = new Engine(spark, tmpDir("router_replace"))
    exec(e, "CREATE TABLE t (id INT PRIMARY KEY, v STRING)")
    exec(e, "INSERT INTO t VALUES (1, 'old1'), (2, 'old2')")
    val r = exec(e, "REPLACE INTO t VALUES (1, 'new1a'), (1, 'new1b'), (3, 'new3')")
    assert(r.affected === 2) // two distinct keys after condense
    assert(exec(e, "SELECT v FROM t ORDER BY id").df.get.as[String].collect()
      === Array("new1b", "old2", "new3"))
  }

  test("REPLACE INTO on a keyless table collapses full-row duplicates") {
    val e = new Engine(spark, tmpDir("router_replace_keyless"))
    exec(e, "CREATE TABLE t (id INT, v STRING)")
    exec(e, "INSERT INTO t VALUES (1, 'x'), (1, 'x'), (2, 'y')")
    exec(e, "REPLACE INTO t VALUES (1, 'x'), (3, 'z')")
    // both stored (1,'x') copies replaced by exactly one
    assert(exec(e, "SELECT id FROM t ORDER BY id").df.get.as[Int].collect()
      === Array(1, 2, 3))
  }

  test("INSERT IGNORE keeps existing rows and drops in-batch duplicates") {
    val e = new Engine(spark, tmpDir("router_ignore"))
    exec(e, "CREATE TABLE t (id INT PRIMARY KEY, v STRING)")
    exec(e, "INSERT INTO t VALUES (1, 'old1')")
    val r = exec(e, "INSERT IGNORE INTO t VALUES (1, 'new1'), (2, 'new2'), (2, 'dup2')")
    assert(r.affected === 1) // only id=2 inserted
    assert(exec(e, "SELECT v FROM t ORDER BY id").df.get.as[String].collect()
      === Array("old1", "new2"))
  }

  test("INSERT ... ON DUPLICATE KEY UPDATE with VALUES() and self-reference") {
    val e = new Engine(spark, tmpDir("router_odku"))
    exec(e, "CREATE TABLE t (id INT PRIMARY KEY, v STRING, hits INT)")
    exec(e, "INSERT INTO t VALUES (1, 'a', 10), (2, 'b', 20)")
    val r = exec(e,
      "INSERT INTO t VALUES (1, 'a2', 99), (3, 'c', 1) " +
        "ON DUPLICATE KEY UPDATE v = VALUES(v), hits = hits + 1")
    assert(r.affected === 3) // 2 for the update + 1 for the insert (MySQL-style)
    assert(exec(e, "SELECT v, hits FROM t ORDER BY id").df.get
      .as[(String, Int)].collect()
      === Array(("a2", 11), ("b", 20), ("c", 1)))
  }

  test("BEGIN/COMMIT/ROLLBACK route to the session transaction") {
    val e = new Engine(spark, tmpDir("router_txn"))
    // autocommit mode: COMMIT/ROLLBACK without an open txn are no-ops
    exec(e, "COMMIT")
    exec(e, "ROLLBACK")
    exec(e, "CREATE TABLE t (id INT PRIMARY KEY, v STRING)")
    exec(e, "INSERT INTO t VALUES (1, 'x')")
    exec(e, "BEGIN")
    exec(e, "INSERT INTO t VALUES (2, 'y')")
    assert(e.inTransaction)
    exec(e, "ROLLBACK")
    assert(exec(e, "SELECT count(*) FROM t").df.get.as[Long].head() === 1)
    exec(e, "START TRANSACTION")
    exec(e, "INSERT INTO t VALUES (2, 'y')")
    exec(e, "DELETE FROM t WHERE id = 1")
    exec(e, "COMMIT")
    assert(exec(e, "SELECT v FROM t").df.get.as[String].collect() === Array("y"))
  }

  test("CREATE TABLE LIKE / IF NOT EXISTS / DROP IF EXISTS") {
    val e = new Engine(spark, tmpDir("router_like"))
    exec(e, "CREATE TABLE src (id BIGINT PRIMARY KEY, v STRING)")
    exec(e, "CREATE TABLE dst LIKE src")
    assert(e.table("dst").manifest.pkCols === Seq("id"))
    assert(e.table("dst").schema.fieldNames === Array("id", "v"))
    assert(exec(e, "SELECT count(*) FROM dst").df.get.as[Long].head() === 0)
    // IF NOT EXISTS: silent no-ops on existing names
    exec(e, "CREATE TABLE IF NOT EXISTS dst (x INT)")
    exec(e, "CREATE TABLE IF NOT EXISTS dst LIKE src")
    assert(e.table("dst").schema.fieldNames === Array("id", "v"))
    exec(e, "DROP TABLE IF EXISTS nothere")
    exec(e, "DROP TABLE IF EXISTS dst")
    assert(e.listTables() === Seq("src"))
  }

  test("column-list INSERT fills defaults, then nulls; all DML forms take lists") {
    val e = new Engine(spark, tmpDir("router_inscols"))
    exec(e, "CREATE TABLE t (id BIGINT PRIMARY KEY, v STRING, n INT)")
    exec(e, "ALTER TABLE t ADD COLUMN tag STRING DEFAULT 'd'")
    val r = exec(e, "INSERT INTO t (v, id) VALUES ('a', 1), ('b', 2)")
    assert(r.affected === 2)
    assert(exec(e, "SELECT id, v, n, tag FROM t ORDER BY id").df.get
      .as[(Long, String, Option[Int], String)].collect()
      === Array((1L, "a", None, "d"), (2L, "b", None, "d")))
    // REPLACE / INSERT IGNORE / ON DUPLICATE KEY all accept column lists
    exec(e, "REPLACE INTO t (id, v) VALUES (1, 'a2')")
    exec(e, "INSERT IGNORE INTO t (id, v) VALUES (1, 'lost'), (3, 'c')")
    exec(e, "INSERT INTO t (id, v) VALUES (2, 'b2'), (4, 'e') " +
      "ON DUPLICATE KEY UPDATE v = VALUES(v)")
    assert(exec(e, "SELECT id, v FROM t ORDER BY id").df.get
      .as[(Long, String)].collect()
      === Array((1L, "a2"), (2L, "b2"), (3L, "c"), (4L, "e")))
  }

  test("RENAME TABLE and ALTER TABLE RENAME TO preserve history") {
    val e = new Engine(spark, tmpDir("router_rename"))
    exec(e, "CREATE TABLE a (id INT PRIMARY KEY, v STRING)")
    exec(e, "INSERT INTO a VALUES (1, 'x')")
    exec(e, "RENAME TABLE a TO b")
    assert(e.listTables() === Seq("b"))
    assert(exec(e, "SELECT v FROM b").df.get.as[String].collect() === Array("x"))
    exec(e, "ALTER TABLE b RENAME TO c")
    assert(e.listTables() === Seq("c"))
    assert(e.table("c").history().nonEmpty)
  }

  test("SHOW CREATE TABLE and DESCRIBE") {
    val e = new Engine(spark, tmpDir("router_showcreate"))
    exec(e, "CREATE TABLE t (id BIGINT PRIMARY KEY, v STRING)")
    val (tn, stmt) = exec(e, "SHOW CREATE TABLE t").df.get
      .as[(String, String)].head()
    assert(tn === "t")
    assert(stmt.contains("id BIGINT") && stmt.contains("v STRING") &&
      stmt.contains("PRIMARY KEY (id)"))
    // the rendered DDL round-trips through the router
    exec(e, stmt.replace("CREATE TABLE t", "CREATE TABLE t2"))
    assert(e.table("t2").manifest.pkCols === Seq("id"))
    val desc = exec(e, "DESCRIBE t").df.get
      .as[(String, String, Boolean, Boolean)].collect()
    assert(desc.map(_._1) === Array("id", "v"))
  }

  test("BACKUP / RESTORE DATABASE as SQL") {
    val e = new Engine(spark, tmpDir("router_backup"))
    exec(e, "CREATE TABLE t (id INT PRIMARY KEY, v STRING)")
    exec(e, "INSERT INTO t VALUES (1, 'x'), (2, 'y')")
    val dest = tmpDir("router_backup_dest")
    exec(e, s"BACKUP DATABASE main TO '$dest'")
    exec(e, "DELETE FROM t WHERE id = 2")
    // a bad source must fail BEFORE touching the database
    intercept[IllegalArgumentException](
      exec(e, "RESTORE DATABASE main FROM '/no/such/backup'"))
    assert(exec(e, "SELECT count(*) FROM t").df.get.as[Long].head() === 1)
    exec(e, s"RESTORE DATABASE main FROM '$dest'")
    assert(exec(e, "SELECT count(*) FROM t").df.get.as[Long].head() === 2)
  }

  test("statement classification emits the wire command tags (A38)") {
    val cases = Seq(
      "SELECT 1" -> "SELECT",
      " with x as (select 1) select * from x" -> "SELECT",
      "VALUES (1)" -> "SELECT",
      "INSERT INTO t VALUES (1)" -> "INSERT",
      "REPLACE INTO t VALUES (1)" -> "INSERT",
      "UPDATE t SET a = 1" -> "UPDATE",
      "DELETE FROM t" -> "DELETE",
      "TRUNCATE TABLE t" -> "TRUNCATE TABLE",
      "START TRANSACTION" -> "BEGIN",
      "CREATE TABLE t (a INT)" -> "CREATE TABLE",
      "CREATE OR REPLACE VIEW v AS SELECT 1" -> "CREATE VIEW",
      "DROP DATABASE d" -> "DROP DATABASE",
      "ALTER TABLE t ADD COLUMN c INT" -> "ALTER TABLE",
      "SHOW TABLES" -> "SHOW",
      "DESCRIBE t" -> "SHOW",
      "EXPLAIN SELECT 1" -> "EXPLAIN")
    cases.foreach { case (sql, tag) =>
      assert(SqlRouter.classify(sql) === tag, sql)
    }
  }

  test("COPY TO / COPY FROM route to the bulk-IO machinery") {
    val e = new Engine(spark, tmpDir("router_copy"))
    exec(e, "CREATE TABLE t (id BIGINT PRIMARY KEY, v STRING)")
    exec(e, "INSERT INTO t VALUES (1, 'a'), (2, 'b,с'), (3, NULL)")
    val csv = tmpDir("router_copy_csv")
    exec(e, s"COPY t TO '$csv' (FORMAT CSV, HEADER, NULLSTR '\\N')")
    val pq = tmpDir("router_copy_pq")
    exec(e, s"COPY (SELECT id, upper(v) AS v FROM t WHERE id < 3) TO '$pq' (FORMAT PARQUET)")
    assert(spark.read.parquet(pq.toString).orderBy("id")
      .collect().map(_.getString(1)) === Array("A", "B,С"))
    exec(e, "CREATE TABLE t2 LIKE t")
    val r = exec(e, s"COPY t2 FROM '$csv' (FORMAT CSV, HEADER, NULLSTR '\\N')")
    assert(r.affected === 3)
    assert(exec(e, "SELECT v FROM t2 ORDER BY id").df.get
      .collect().map(_.getString(0)) === Array("a", "b,с", null))
  }

  test("LOAD DATA INFILE with field options, skip lines, and REPLACE") {
    val e = new Engine(spark, tmpDir("router_load"))
    exec(e, "CREATE TABLE t (id BIGINT PRIMARY KEY, v STRING)")
    exec(e, "INSERT INTO t VALUES (1, 'old')")
    val f = java.nio.file.Files.createTempFile("router_load", ".tsv")
    java.nio.file.Files.write(f,
      "skip me\n1\tnew\n2\t\\N\n3\t\"x\ty\"\n".getBytes("UTF-8"))
    val r = exec(e, s"LOAD DATA INFILE '$f' REPLACE INTO TABLE t " +
      "FIELDS TERMINATED BY '\\t' ENCLOSED BY '\"' ESCAPED BY '\\\\' " +
      "IGNORE 1 LINES")
    assert(r.affected === 3)
    assert(exec(e, "SELECT v FROM t ORDER BY id").df.get
      .collect().map(_.getString(0)) === Array("new", null, "x\ty"))
  }

  test("LOAD DATA column list, @vars + SET, defaults, auto ids, arbiter") {
    // MySQL's `(col_or_@var, ...) SET col = expr` surface (r15;
    // reference fast path takes plain lists, GMS fallback the rest —
    // `backend/loaddata.go:24-34,250-268`): the file supplies only the
    // listed entries, @vars feed SET expressions, unlisted columns take
    // DEFAULT, the omitted AUTO_INCREMENT key assigns, and LOAD REPLACE
    // arbitrates on the single unique index like the merge family.
    val e = new Engine(spark, tmpDir("router_load_cols"))
    exec(e, "CREATE TABLE t (id BIGINT NOT NULL AUTO_INCREMENT, em STRING, " +
      "n INT, d DOUBLE DEFAULT 2.5, PRIMARY KEY (id), UNIQUE KEY uq_em (em))")
    val f = java.nio.file.Files.createTempFile("router_load_cols", ".tsv")
    java.nio.file.Files.write(f, "a\t3\nb\t4\n".getBytes("UTF-8"))
    exec(e, s"LOAD DATA INFILE '$f' INTO TABLE t (em, @x) " +
      "SET n = CAST(@x AS INT) * 2")
    assert(exec(e, "SELECT id, em, n, d FROM t ORDER BY id").df.get
      .as[(Long, String, Int, Double)].collect().toSeq ===
      Seq((1L, "a", 6, 2.5), (2L, "b", 8, 2.5)))
    // REPLACE keyed on the implied unique arbiter: 'b' re-images under
    // a fresh id, 'c' is new
    val f2 = java.nio.file.Files.createTempFile("router_load_cols2", ".tsv")
    java.nio.file.Files.write(f2, "b\t9\nc\t5\n".getBytes("UTF-8"))
    exec(e, s"LOAD DATA INFILE '$f2' REPLACE INTO TABLE t (em, @x) " +
      "SET n = CAST(@x AS INT)")
    assert(exec(e, "SELECT em, n FROM t ORDER BY em").df.get
      .as[(String, Int)].collect().toSeq ===
      Seq(("a", 6), ("b", 9), ("c", 5)))
    assert(exec(e, "SELECT count(*) FROM t WHERE id > 2").df.get
      .as[Long].head() === 2L, "replaced rows carry fresh auto ids")
    // IGNORE through the same arbiter: existing 'c' survives untouched
    val f3 = java.nio.file.Files.createTempFile("router_load_cols3", ".tsv")
    java.nio.file.Files.write(f3, "c\t77\nd\t6\n".getBytes("UTF-8"))
    exec(e, s"LOAD DATA INFILE '$f3' IGNORE INTO TABLE t (em, @x) " +
      "SET n = CAST(@x AS INT)")
    assert(exec(e, "SELECT em, n FROM t ORDER BY em").df.get
      .as[(String, Int)].collect().toSeq ===
      Seq(("a", 6), ("b", 9), ("c", 5), ("d", 6)))
    // unknown column stays loud
    intercept[Exception](
      exec(e, s"LOAD DATA INFILE '$f' INTO TABLE t (nope, @x)"))
    // UTF-8-safe charsets pass through; others refuse loudly instead
    // of silently misreading the bytes (reference fast-path line)
    exec(e, s"LOAD DATA INFILE '$f2' IGNORE INTO TABLE t " +
      "CHARACTER SET utf8mb4 (em, @x) SET n = CAST(@x AS INT)")
    intercept[Exception](
      exec(e, s"LOAD DATA INFILE '$f' INTO TABLE t CHARACTER SET latin1"))
  }

  test("LOAD DATA SET without a column list maps the file positionally") {
    // r15 ADVICE (medium): legal MySQL — no column list means the
    // file's fields map positionally to ALL table columns, then SET
    // overrides. Non-SET columns must read the FILE's values, not
    // DEFAULT/NULL.
    val e = new Engine(spark, tmpDir("router_load_setnolist"))
    exec(e, "CREATE TABLE t (id BIGINT PRIMARY KEY, em STRING, " +
      "n INT DEFAULT 99)")
    val f = java.nio.file.Files.createTempFile("router_setnolist", ".tsv")
    java.nio.file.Files.write(f, "1\ta\t3\n2\tb\t4\n".getBytes("UTF-8"))
    exec(e, s"LOAD DATA INFILE '$f' INTO TABLE t SET n = n * 10")
    assert(exec(e, "SELECT id, em, n FROM t ORDER BY id").df.get
      .as[(Long, String, Int)].collect().toSeq ===
      Seq((1L, "a", 30), (2L, "b", 40)),
      "file values must survive for non-SET columns; SET sees the file value")
  }

  test("LOAD DATA SET: quoted @names stay text; an escaped-quote option keeps the SET") {
    val e = new Engine(spark, tmpDir("router_load_lexing"))
    exec(e, "CREATE TABLE t (id BIGINT NOT NULL AUTO_INCREMENT, em STRING, " +
      "n INT, PRIMARY KEY (id))")
    val f = java.nio.file.Files.createTempFile("router_load_lexing", ".tsv")
    java.nio.file.Files.write(f, "a\t3\n".getBytes("UTF-8"))
    // an @name inside a string literal is text, not a file column
    exec(e, s"LOAD DATA INFILE '$f' INTO TABLE t (em, @x) " +
      "SET n = CAST(@x AS INT), em = CONCAT(em, 'it\\'s @x')")
    assert(exec(e, "SELECT em, n FROM t").df.get.as[(String, Int)].collect()
      .toSeq === Seq(("ait's @x", 3)))
    // a backslash-escaped quote in an option literal must not hide the
    // column list and the SET clause behind it
    val g = java.nio.file.Files.createTempFile("router_load_lexing2", ".tsv")
    java.nio.file.Files.write(g, "'b'\t4\n".getBytes("UTF-8"))
    exec(e, s"LOAD DATA INFILE '$g' INTO TABLE t FIELDS TERMINATED BY '\\t' " +
      "ENCLOSED BY '\\'' (em, @x) SET n = CAST(@x AS INT) * 2")
    assert(exec(e, "SELECT em, n FROM t WHERE id = 2").df.get
      .as[(String, Int)].collect().toSeq === Seq(("b", 8)))
  }

  test("one lexer: statement shapes the per-pass scanners misread") {
    val e = new Engine(spark, tmpDir("router_one_lexer"))
    exec(e, "CREATE TABLE t (id BIGINT PRIMARY KEY, v STRING)")
    exec(e, "INSERT INTO t VALUES (1, 'a')")
    // ON DUPLICATE KEY UPDATE glued to the VALUES paren still upserts
    exec(e, "INSERT INTO t VALUES (1, 'x')ON DUPLICATE KEY UPDATE v = 'b'")
    assert(exec(e, "SELECT v FROM t WHERE id = 1").df.get.as[String].head() === "b")
    // a double-quoted (MySQL string) `INTO q FROM` is data, not a
    // SELECT ... INTO target
    assert(exec(e, "SELECT \"p INTO q FROM r\" AS s").df.get.as[String]
      .head() === "p INTO q FROM r")
    assert(!e.listTables().contains("q"))
    // an apostrophe inside a comment does not hide a catalog
    // reference from the PG rewrites
    assert(exec(e, "SELECT /* it's */ count(*) FROM pg_catalog.pg_namespace")
      .df.get.as[Long].head() > 0)
  }

  test("LOAD DATA quoted column lists parse; stray paren groups refuse") {
    // r15 ADVICE (low): a backtick/double-quoted column list used to
    // fail the bare-identifier regex and silently degrade to a
    // full-schema positional load.
    val e = new Engine(spark, tmpDir("router_load_quotedcols"))
    exec(e, "CREATE TABLE t (id BIGINT NOT NULL AUTO_INCREMENT, em STRING, " +
      "n INT, PRIMARY KEY (id))")
    val f = java.nio.file.Files.createTempFile("router_quotedcols", ".tsv")
    java.nio.file.Files.write(f, "a\t3\nb\t4\n".getBytes("UTF-8"))
    exec(e, s"LOAD DATA INFILE '$f' INTO TABLE t (`em`, @x) " +
      "SET n = CAST(@x AS INT) + 1")
    assert(exec(e, "SELECT em, n FROM t ORDER BY em").df.get
      .as[(String, Int)].collect().toSeq === Seq(("a", 4), ("b", 5)))
    exec(e, s"""LOAD DATA INFILE '$f' INTO TABLE t ("em", @x) """ +
      "SET n = CAST(@x AS INT) + 10, em = concat(em, '2')")
    assert(exec(e, "SELECT em, n FROM t ORDER BY em").df.get
      .as[(String, Int)].collect().toSeq ===
      Seq(("a", 4), ("a2", 13), ("b", 5), ("b2", 14)))
    // a trailing paren group that is NOT a column list must refuse
    // loudly, not silently fall into the ignored options text
    val ex = intercept[IllegalArgumentException](
      exec(e, s"LOAD DATA INFILE '$f' INTO TABLE t (em em, @x)"))
    assert(ex.getMessage.contains("column list"))
  }

  test("PREPARE / EXECUTE USING / DEALLOCATE and SHOW INDEX") {
    val e = new Engine(spark, tmpDir("router_prep"))
    exec(e, "CREATE TABLE t (id BIGINT PRIMARY KEY, v STRING)")
    exec(e, "INSERT INTO t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    exec(e, "PREPARE q FROM 'SELECT v FROM t WHERE id >= ? ORDER BY id LIMIT ?'")
    assert(exec(e, "EXECUTE q USING 2, 1").df.get.as[String].collect()
      === Array("b"))
    assert(exec(e, "EXECUTE q USING 1, 10").df.get.as[String].collect()
      === Array("a", "b", "c"))
    exec(e, "DEALLOCATE PREPARE q")
    intercept[IllegalArgumentException](exec(e, "EXECUTE q USING 1, 1"))
    val idx = exec(e, "SHOW INDEX FROM t").df.get
      .select("key_name", "column_name").as[(String, String)].collect()
    assert(idx === Array(("PRIMARY", "id")))
    e.table("t").compact(clusterBy = Seq("v"))
    val idx2 = exec(e, "SHOW INDEXES FROM t").df.get
      .select("key_name", "column_name").as[(String, String)].collect()
    assert(idx2 === Array(("PRIMARY", "id"), ("CLUSTERING", "v")))
    // an unclustered OPTIMIZE destroys the ordering — the record goes too
    exec(e, "OPTIMIZE t")
    val idx3 = exec(e, "SHOW INDEX FROM t").df.get
      .select("key_name").as[String].collect()
    assert(idx3 === Array("PRIMARY"))
    // EXECUTE USING respects quoted literals containing commas
    exec(e, "INSERT INTO t VALUES (9, 'a,b')")
    exec(e, "PREPARE f FROM 'SELECT id FROM t WHERE v = ?'")
    assert(exec(e, "EXECUTE f USING 'a,b'").df.get.as[Long].collect()
      === Array(9L))
  }

  test("multi-statement script execution") {
    val e = new Engine(spark, tmpDir("router_script"))
    val rs = SqlRouter.executeScript(e,
      """CREATE TABLE t (id INT PRIMARY KEY, v STRING);
         INSERT INTO t VALUES (1, 'a;b'), (2, 'c');
         BEGIN;
         UPDATE t SET v = 'z' WHERE id = 2;
         COMMIT;
         SELECT v FROM t ORDER BY id""")
    assert(rs.size === 6)
    assert(rs.last.df.get.as[String].collect() === Array("a;b", "z"))
  }

  test("auto-staging: consecutive same-table DML commits ONE journal version") {
    val e = new Engine(spark, tmpDir("router_autostage"))
    exec(e, "CREATE TABLE t (id INT PRIMARY KEY, v STRING)")
    val v0 = e.table("t").history().last
    val rs = SqlRouter.executeScript(e,
      """INSERT INTO t VALUES (1, 'a');
         INSERT INTO t VALUES (2, 'b'), (3, 'c');
         UPDATE t SET v = 'b2' WHERE id = 2;
         INSERT INTO t VALUES (4, 'd');
         SELECT count(*) AS n FROM t""")
    assert(rs.size === 5)
    // 4 DML statements -> ONE staged publish, not 4 autocommit versions
    assert(e.table("t").history().last === v0 + 1)
    assert(rs.last.df.get.as[Long].head() === 4L)
    assert(exec(e, "SELECT v FROM t ORDER BY id").df.get.as[String].collect()
      === Array("a", "b2", "c", "d"))
    // a SELECT (or another table) ends the run: two runs -> two versions
    SqlRouter.executeScript(e,
      """INSERT INTO t VALUES (5, 'e');
         INSERT INTO t VALUES (6, 'f');
         SELECT 1;
         INSERT INTO t VALUES (7, 'g');
         INSERT INTO t VALUES (8, 'h')""")
    assert(e.table("t").history().last === v0 + 3)
    // an explicit BEGIN...COMMIT is untouched (no nested auto-txn)
    SqlRouter.executeScript(e,
      """BEGIN;
         INSERT INTO t VALUES (9, 'i');
         INSERT INTO t VALUES (10, 'j');
         COMMIT""")
    assert(e.table("t").history().last === v0 + 4)
    assert(exec(e, "SELECT count(*) AS n FROM t").df.get.as[Long].head() === 10L)
    // failure mid-run rolls the WHOLE auto-txn back
    val before = exec(e, "SELECT count(*) AS n FROM t").df.get.as[Long].head()
    intercept[Exception](SqlRouter.executeScript(e,
      """INSERT INTO t VALUES (11, 'k');
         INSERT INTO t VALUES (12, 'x', 'extra-col')"""))
    assert(!e.inTransaction) // the auto-txn was rolled back, not leaked
    assert(exec(e, "SELECT count(*) AS n FROM t").df.get.as[Long].head() === before)
  }

  test("script splitter ignores ';' in comments and backticked names") {
    // dump-file shapes: a ';' inside -- and /* */ comments or inside a
    // backticked identifier must not split the script (round-4 advice)
    val stmts = SqlRouter.splitStatements(
      """-- header; not a statement
         CREATE TABLE `odd;name` (id INT); /* block; comment
         spanning lines; still one */ INSERT INTO `odd;name` VALUES (1);
         SELECT * -- trailing; comment
         FROM `odd;name`""")
    assert(stmts.size === 3)
    assert(stmts(0).contains("CREATE TABLE `odd;name`"))
    assert(stmts(1).startsWith("/* block"))
    assert(stmts(1).contains("INSERT INTO `odd;name`"))
    assert(stmts(2).contains("FROM `odd;name`"))
  }

  test("COPY HEADER accepts the libpq boolean spellings") {
    val e = new Engine(spark, tmpDir("router_hdr"))
    exec(e, "CREATE TABLE t (id INT PRIMARY KEY, v STRING)")
    exec(e, "INSERT INTO t VALUES (1, 'a')")
    val dir = tmpDir("router_hdr_csv")
    for ((spell, expectHeader) <- Seq(("ON", true), ("off", false),
        ("1", true), ("0", false), ("TRUE", true))) {
      val f = dir.resolve(s"c_$spell").toString
      exec(e, s"COPY t TO '$f' (FORMAT CSV, HEADER $spell)")
      val first = spark.read.text(f).as[String].collect().head
      assert(first.startsWith("id") === expectHeader, s"HEADER $spell")
    }
    intercept[IllegalArgumentException](
      exec(e, s"COPY t TO '${dir.resolve("bad")}' (FORMAT CSV, HEADER maybe)"))
  }

  test("IF EXISTS probes propagate IO failures, not just absence") {
    import scala.jdk.CollectionConverters._
    val e = new Engine(spark, tmpDir("router_probe"))
    exec(e, "CREATE TABLE t (id INT PRIMARY KEY)")
    // corrupt the manifest: the probe must NOT read this as "absent"
    val mdir = e.warehouse.resolve("main").resolve("t").resolve("_manifest")
    val latest = java.nio.file.Files.list(mdir).iterator().asScala
      .filter(_.getFileName.toString.matches("v\\d{9}\\.json"))
      .toSeq.sortBy(_.getFileName.toString).last
    java.nio.file.Files.write(latest, "{not json".getBytes)
    val thrown =
      try { exec(e, "DROP TABLE IF EXISTS t"); None }
      catch { case ex: Exception => Some(ex) }
    assert(thrown.isDefined,
      "corrupt manifest silently treated as an absent table")
  }

  test("SHOW TABLES / DATABASES / COLUMNS and SET / SHOW VARIABLES") {
    val e = new Engine(spark, tmpDir("router_show"))
    exec(e, "CREATE TABLE t (id INT PRIMARY KEY, v STRING)")
    assert(exec(e, "SHOW TABLES").df.get.as[String].collect() === Array("t"))
    assert(exec(e, "SHOW DATABASES").df.get.as[String].collect().contains("main"))
    val cols = exec(e, "SHOW COLUMNS FROM t").df.get
      .as[(String, String, Boolean, Boolean)].collect()
    assert(cols === Array(("id", "int", true, true), ("v", "string", true, false)))
    exec(e, "SET my_var = 'hello'")
    exec(e, "SET GLOBAL persisted_var = 42")
    assert(e.getVar("my_var") === Some("hello"))
    // names STARTING with a modifier keyword must not lose the prefix
    exec(e, "SET session_timeout = 30")
    exec(e, "SET global_flag = 1")
    assert(e.getVar("session_timeout") === Some("30"))
    assert(e.getVar("global_flag") === Some("1"))
    exec(e, "SET @@GLOBAL.max_connections = 10")
    assert(e.getVar("max_connections") === Some("10"))
    val vars = exec(e, "SHOW VARIABLES LIKE 'my%'").df.get
      .as[(String, String)].collect()
    assert(vars === Array(("my_var", "hello")))
    // GLOBAL persists to the warehouse: a fresh engine still sees it
    val e2 = new Engine(spark, e.warehouse)
    assert(e2.getVar("persisted_var") === Some("42"))
  }

  test("UPDATE SET list with comma- and WHERE-bearing string literals") {
    val e = new Engine(spark, tmpDir("router_setsplit"))
    exec(e, "CREATE TABLE notes (id INT PRIMARY KEY, note STRING, v INT)")
    exec(e, "INSERT INTO notes VALUES (1, 'old', 0), (2, 'keep', 0)")
    // a literal containing a top-level comma, an '=', and the word
    // WHERE must neither split the SET list nor end it early
    val r = exec(e,
      "UPDATE notes SET note = 'a, b = c WHERE x', v = 7 WHERE id = 1")
    assert(r.affected === 1)
    val got = exec(e, "SELECT note, v FROM notes ORDER BY id").df.get
      .as[(String, Int)].collect()
    assert(got === Array(("a, b = c WHERE x", 7), ("keep", 0)))
    // no WHERE at all still updates every row
    assert(exec(e, "UPDATE notes SET v = 9").affected === 2)
    // splitSetWhere unit surface: subquery parens don't hide the real WHERE
    assert(SqlRouter.splitSetWhere("a = (SELECT x WHERE y) WHERE id = 1") ===
      ("a = (SELECT x WHERE y)", Some("id = 1")))
    assert(SqlRouter.splitSetWhere("a = 1") === ("a = 1", None))
    // a truncated statement ending in a bare WHERE is a syntax error —
    // NOT an unconditional whole-table update
    val err = intercept[IllegalArgumentException](
      SqlRouter.splitSetWhere("v = 9 WHERE"))
    assert(err.getMessage.contains("WHERE"))
    assert(exec(e, "SELECT count(*) FROM notes WHERE v = 9").df.get
      .as[Long].head() === 2L) // unchanged by the failed parse
  }

  // ------------------------------------------------------------------
  // router review regressions (round 6)

  test("backticked identifiers route to the graft engine (dump form)") {
    val e = new Engine(spark, tmpDir("router_bt"))
    exec(e, "CREATE TABLE `bt` (`id` INT PRIMARY KEY, `v` STRING)")
    assert(e.listTables().contains("bt")) // graft table, not Spark catalog
    exec(e, "INSERT INTO `bt` VALUES (1, 'a')")
    exec(e, "ALTER TABLE `bt` ADD COLUMN `c` DECIMAL(10,2) NOT NULL DEFAULT 0")
    assert(exec(e, "SELECT id, v, c FROM bt").df.get.count() === 1)
    // backticks INSIDE string literals survive verbatim
    exec(e, "UPDATE bt SET v = 'tick `x` kept' WHERE id = 1")
    assert(exec(e, "SELECT v FROM bt").df.get.as[String].head() === "tick `x` kept")
    assert(SqlRouter.stripIdentQuotes("SELECT `a b`") === "SELECT `a b`") // not an identifier
  }

  // ------------------------------------------------------------------
  // router review regressions (round 7)

  test("backticked reserved words reach Catalyst UNSTRIPPED (fall-through)") {
    val e = new Engine(spark, tmpDir("router_bt_kw"))
    // `order` is a reserved word: stripping its backticks before the
    // engine.sql fall-through turned valid SQL into a parse error
    val r = exec(e, "SELECT 1 AS `order`").df.get
    assert(r.columns.toSeq === Seq("order") && r.as[Int].head() === 1)
    exec(e, "CREATE TABLE kw (id INT PRIMARY KEY, v STRING)")
    exec(e, "INSERT INTO kw VALUES (1, 'a')")
    assert(exec(e, "SELECT `v` FROM kw WHERE `id` = 1").df.get
      .as[String].head() === "a")
  }

  test("CTAS paren-unwrap only strips a MATCHED outer pair") {
    assert(SqlRouter.unwrapParens("(SELECT 1)") === "SELECT 1")
    assert(SqlRouter.unwrapParens("(SELECT a) UNION ALL (SELECT b)") ===
      "(SELECT a) UNION ALL (SELECT b)")
    assert(SqlRouter.unwrapParens("(SELECT ')' AS x)") === "SELECT ')' AS x")
    assert(SqlRouter.unwrapParens("(SELECT 1 AS `a)b`)") === "SELECT 1 AS `a)b`")
    val e = new Engine(spark, tmpDir("router_ctas_union"))
    exec(e, "CREATE TABLE u AS (SELECT 1 AS x) UNION ALL (SELECT 2 AS x)")
    assert(exec(e, "SELECT x FROM u").df.get.as[Int].collect().sorted
      === Array(1, 2))
  }

  test("ALTER ADD accepts MySQL's NOT NULL DEFAULT order and comma types") {
    val e = new Engine(spark, tmpDir("router_alter_order"))
    exec(e, "CREATE TABLE ao (id INT PRIMARY KEY)")
    exec(e, "INSERT INTO ao VALUES (1)")
    exec(e, "ALTER TABLE ao ADD COLUMN p DECIMAL(10,2) NOT NULL DEFAULT 3.5")
    exec(e, "ALTER TABLE ao ADD COLUMN q STRING DEFAULT 'x' NOT NULL")
    val r = exec(e, "SELECT p, q FROM ao").df.get.collect()(0)
    assert(r.getDecimal(0).doubleValue() === 3.5 && r.getString(1) === "x")
    exec(e, "ALTER TABLE ao MODIFY COLUMN p DECIMAL(12,3)")
    assert(exec(e, "SELECT p FROM ao").df.get.schema.head.dataType.sql
      === "DECIMAL(12,3)")
  }

  test("ON DUPLICATE KEY UPDATE is quote-aware on both split and VALUES()") {
    val e = new Engine(spark, tmpDir("router_odku_quotes"))
    exec(e, "CREATE TABLE n (id INT PRIMARY KEY, note STRING)")
    // the phrase inside a literal: a PLAIN insert, not an upsert
    exec(e, "INSERT INTO n VALUES (1, 'see ON DUPLICATE KEY UPDATE docs')")
    assert(exec(e, "SELECT note FROM n").df.get.as[String].head()
      === "see ON DUPLICATE KEY UPDATE docs")
    // a literal 'VALUES(x)' in the SET list survives verbatim
    exec(e, "INSERT INTO n VALUES (1, 'ignored') " +
      "ON DUPLICATE KEY UPDATE note = 'VALUES(x)'")
    assert(exec(e, "SELECT note FROM n").df.get.as[String].head() === "VALUES(x)")
  }

  test("CTAS accepts a parenthesized source query") {
    val e = new Engine(spark, tmpDir("router_ctas_paren"))
    exec(e, "CREATE TABLE src (id INT PRIMARY KEY)")
    exec(e, "INSERT INTO src VALUES (1), (2)")
    exec(e, "CREATE TABLE dst AS (SELECT id FROM src WHERE id > 1)")
    assert(exec(e, "SELECT * FROM dst").df.get.count() === 1)
  }

  test("IF [NOT] EXISTS probes work inside an open transaction") {
    val e = new Engine(spark, tmpDir("router_txn_exists"))
    exec(e, "BEGIN")
    exec(e, "DROP TABLE IF EXISTS missing") // no-op, must not throw
    exec(e, "CREATE TABLE IF NOT EXISTS fresh (id INT PRIMARY KEY)")
    exec(e, "INSERT INTO fresh VALUES (1)") // the CREATE really happened
    exec(e, "COMMIT")
    assert(exec(e, "SELECT * FROM fresh").df.get.count() === 1)
  }

  test("LOAD DATA defaults are MySQL's (tab-separated, no enclosure)") {
    val e = new Engine(spark, tmpDir("router_loaddefaults"))
    exec(e, "CREATE TABLE ld (id INT PRIMARY KEY, v STRING)")
    val f = tmpDir("router_ld_file").resolve("dump.tsv")
    java.nio.file.Files.writeString(f, "1\t\"quoted\" text\n2\t\\N\n")
    exec(e, s"LOAD DATA INFILE '$f' INTO TABLE ld")
    val got = exec(e, "SELECT id, v FROM ld ORDER BY id").df.get
      .collect().map(r => (r.getInt(0), Option(r.getString(1))))
    // tab-separated; a leading double quote is DATA (no enclosure);
    // \N is the NULL marker
    assert(got === Array((1, Some("\"quoted\" text")), (2, None)))
  }

  test("COPY CSV treats empty fields as NULL and errors on malformed rows") {
    val e = new Engine(spark, tmpDir("router_copypg"))
    exec(e, "CREATE TABLE c (id INT PRIMARY KEY, v STRING)")
    val f = tmpDir("router_copy_file").resolve("in.csv")
    java.nio.file.Files.writeString(f, "1,\n2,x\n")
    exec(e, s"COPY c FROM '$f' (FORMAT csv)")
    val got = exec(e, "SELECT id, v FROM c ORDER BY id").df.get
      .collect().map(r => (r.getInt(0), Option(r.getString(1))))
    assert(got === Array((1, None), (2, Some("x")))) // empty -> NULL (PG)
    val bad = tmpDir("router_copy_bad").resolve("bad.csv")
    java.nio.file.Files.writeString(bad, "nonsense,1,2,3,4\n")
    intercept[Exception](exec(e, s"COPY c FROM '$bad' (FORMAT csv)"))
  }

  test("bare COPY is PG TEXT format and round-trips escapes + bytea") {
    val e = new Engine(spark, tmpDir("router_copytext"))
    exec(e, "CREATE TABLE tt (id INT PRIMARY KEY, v STRING, b BINARY)")
    exec(e, "INSERT INTO tt VALUES " +
      "(1, 'tab\\there', X'00FF'), (2, NULL, NULL), (3, 'back\\\\slash', X'41')")
    val f = tmpDir("router_copytext_file").resolve("out.txt")
    exec(e, s"COPY tt TO '$f'") // no FORMAT → TEXT, PG's default
    val raw = java.nio.file.Files.readString(f)
    assert(raw.contains("tab\\there") && raw.contains("\\\\x00ff"),
      raw) // escapes + hex bytea actually on disk
    exec(e, "CREATE TABLE tt2 LIKE tt")
    exec(e, s"COPY tt2 FROM '$f'")
    val got = exec(e, "SELECT id, v, b FROM tt2 ORDER BY id").df.get
      .collect().map(r => (r.getInt(0), Option(r.getString(1)),
        Option(r.get(2)).map(_.asInstanceOf[Array[Byte]].toSeq)))
    assert(got === Array(
      (1, Some("tab\there"), Some(Seq[Byte](0x00, -1))),
      (2, None, None),
      (3, Some("back\\slash"), Some(Seq[Byte](0x41)))))
  }

  test("COPY TO/FROM (FORMAT ARROW) round-trips through the IPC codec") {
    val e = new Engine(spark, tmpDir("router_arrow"))
    exec(e, "CREATE TABLE a (id BIGINT PRIMARY KEY, v STRING)")
    exec(e, "INSERT INTO a VALUES (1, 'x'), (2, NULL)")
    val f = tmpDir("router_arrow_file").resolve("out.arrow")
    exec(e, s"COPY a TO '$f' (FORMAT ARROW)")
    exec(e, "CREATE TABLE b LIKE a")
    val r = exec(e, s"COPY b FROM '$f' (FORMAT ARROW)")
    assert(r.affected === 2)
    assert(exec(e, "SELECT id, v FROM b ORDER BY id").df.get
      .collect().map(x => (x.getLong(0), Option(x.getString(1))))
      === Array((1L, Some("x")), (2L, None)))
  }

  test("TABLE statement returns all rows (reference table_statement.bats)") {
    val e = new Engine(spark, tmpDir("router_tablestmt"))
    exec(e, "CREATE TABLE ts (id INT PRIMARY KEY, v STRING)")
    exec(e, "INSERT INTO ts VALUES (2,'b'), (1,'a')")
    assert(exec(e, "TABLE ts ORDER BY id").df.get.collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((1, "a"), (2, "b")))
  }

  test("post-data ADD CONSTRAINT: CHECK enforced, FK/UNIQUE dropped") {
    val e = new Engine(spark, tmpDir("router_postdata"))
    exec(e, "CREATE TABLE parent (id INT PRIMARY KEY)")
    exec(e, "CREATE TABLE child (id INT PRIMARY KEY, pid INT, qty INT)")
    // the pg_dump post-data section a dump with referential integrity
    // emits — must not abort the replay
    exec(e, "ALTER TABLE ONLY child ADD CONSTRAINT child_pid_fkey " +
      "FOREIGN KEY (pid) REFERENCES parent(id)")
    exec(e, "ALTER TABLE ONLY child ADD CONSTRAINT child_pid_uniq UNIQUE (pid)")
    // CHECK routes to real A22 enforcement
    exec(e, "ALTER TABLE ONLY child ADD CONSTRAINT qty_pos CHECK (qty > 0)")
    exec(e, "INSERT INTO child VALUES (1, 10, 5)")
    intercept[Exception](exec(e, "INSERT INTO child VALUES (2, 11, -1)"))
    assert(exec(e, "SELECT count(*) FROM child").df.get
      .collect()(0).getLong(0) === 1L)
  }

  test("normalizeMysqlLiterals: hex, bit, introducers — quote-aware") {
    val n = SqlRouter.normalizeMysqlLiterals _
    // --hex-blob literals, incl. MySQL's implied leading zero
    assert(n("INSERT INTO t VALUES (1, 0x48454C)") ===
      "INSERT INTO t VALUES (1, X'48454C')")
    assert(n("SELECT 0xABC") === "SELECT X'0ABC'")
    // bit literals → decimal; empty → 0
    assert(n("VALUES (b'0101', B'11', b'')") === "VALUES (5, 3, 0)")
    // charset introducers dropped before string and hex literals
    assert(n("VALUES (_binary 'AB', _utf8mb4'x', _binary 0x41)") ===
      "VALUES ('AB', 'x', X'41')")
    // inside string/backtick spans: untouched
    assert(n("SELECT '0xAB b''01'' _binary ok'") ===
      "SELECT '0xAB b''01'' _binary ok'")
    assert(n("SELECT `0xAB` FROM `b'tab'`") === "SELECT `0xAB` FROM `b'tab'`")
    // word-boundary discipline: identifiers keep their text
    assert(n("SELECT a0x1, _mycol, tab0x FROM t") ===
      "SELECT a0x1, _mycol, tab0x FROM t")
    assert(n("SELECT 10x") === "SELECT 10x")
    // non-introducer underscore word followed by a string is NOT eaten
    assert(n("SELECT _notacharset 'alias'") === "SELECT _notacharset 'alias'")
    // PG escape-string prefix dropped; bare identifiers ending in e kept
    assert(n("SELECT E'a\\nb', e'x', sole 'y'") === "SELECT 'a\\nb', 'x', sole 'y'")
  }

  test("blob columns replay from mysqldump literal forms end-to-end") {
    val e = new Engine(spark, tmpDir("router_hexblob"))
    exec(e, "CREATE TABLE bin_t (id INT PRIMARY KEY, payload BLOB, flags INT)")
    // the three forms a MySQL dump can carry binary/bit data in
    exec(e, "INSERT INTO bin_t VALUES (1, 0x48454C4C4F, b'0101')")
    exec(e, "INSERT INTO bin_t VALUES (2, _binary 'AB', b'')")
    exec(e, "INSERT INTO bin_t (id, payload) VALUES (3, X'00FF7F')")
    val got = exec(e, "SELECT id, payload, flags FROM bin_t ORDER BY id").df.get
      .collect()
      .map(r => (r.getInt(0), Option(r.get(1)).map(_.asInstanceOf[Array[Byte]].toSeq),
        Option(r.get(2))))
    assert(got(0) === ((1, Some("HELLO".getBytes("UTF-8").toSeq), Some(5))))
    assert(got(1) === ((2, Some("AB".getBytes("UTF-8").toSeq), Some(0))))
    assert(got(2) === ((3, Some(Seq[Byte](0x00, -1, 0x7F)), None)))
    // and a 0x literal in a predicate routes through engine.sql intact
    assert(exec(e, "SELECT id FROM bin_t WHERE payload = 0x4142").df.get
      .collect().map(_.getInt(0)).toSeq === Seq(2))
  }

  test("stored-program arms drop dump routines but keep Spark's own CREATE FUNCTION") {
    val e = new Engine(spark, tmpDir("router_fn"))
    // UNAMBIGUOUS dump spellings: accepted + dropped (no engine analog)
    assert(exec(e,
      "CREATE DEFINER=`root`@`localhost` FUNCTION `f`(x INT) RETURNS INT\nBEGIN\nRETURN x;\nEND").df.isEmpty)
    assert(exec(e,
      "CREATE FUNCTION fb(x INT) RETURNS INT\nBEGIN\nRETURN x;\nEND").df.isEmpty)
    assert(exec(e,
      "CREATE FUNCTION h() RETURNS trigger LANGUAGE plpgsql AS $$BEGIN RETURN NEW; END;$$").df.isEmpty)
    // Spark 4's SQL-UDF form must still reach Catalyst and WORK —
    // including with its optional LANGUAGE SQL clause and an AS-cast
    // in the body (neither may trip the PG-function discriminator)
    exec(e, "CREATE FUNCTION plus_one(x INT) RETURNS INT RETURN x + 1")
    assert(exec(e, "SELECT plus_one(41) AS v").df.get
      .collect().head.getInt(0) === 42)
    exec(e, "CREATE FUNCTION twice(x INT) RETURNS INT LANGUAGE SQL " +
      "RETURN CAST(x AS INT) * 2")
    assert(exec(e, "SELECT twice(21) AS v").df.get
      .collect().head.getInt(0) === 42)
    // dump-marker text INSIDE string literals must not trip the drop
    // arms: this Spark UDF's body contains '$tmp$' and 'save as'
    exec(e, "CREATE FUNCTION strip_tag(s STRING) RETURNS STRING " +
      "RETURN replace(replace(s, '$tmp$', ''), 'save as', '')")
    assert(exec(e, "SELECT strip_tag('a$tmp$b') AS v").df.get
      .collect().head.getString(0) === "ab")
    // the AMBIGUOUS spelling — characteristics + RETURN body is valid
    // Spark 4 SQL-UDF syntax AND valid MySQL-dump syntax — registers
    // as a WORKING UDF via Catalyst (better restore fidelity than a
    // drop), never aborts
    exec(e, "CREATE FUNCTION g(x INT) RETURNS INT DETERMINISTIC RETURN x + 1")
    assert(exec(e, "SELECT g(1) AS v").df.get.collect().head.getInt(0) === 2)
    // none of the DROPPED spellings registered anything
    intercept[Exception](exec(e, "SELECT fb(1)").df.get.collect())
  }

  test("session-authorization/role forms are accepted (pg_dumpall shape)") {
    val e = new Engine(spark, tmpDir("router_auth"))
    assert(exec(e, "SET SESSION AUTHORIZATION app").df.isEmpty)
    assert(exec(e, "SET LOCAL SESSION AUTHORIZATION DEFAULT").df.isEmpty)
    assert(exec(e, "SET ROLE readonly").df.isEmpty)
    assert(exec(e, "RESET ROLE").df.isEmpty)
    assert(exec(e, "RESET search_path").df.isEmpty)
    // RESET of a variable the SET arm recorded clears the session value
    exec(e, "SET search_path = myschema")
    assert(e.getVar("search_path") === Some("myschema"))
    exec(e, "RESET search_path")
    assert(e.getVar("search_path") === None)
  }

  test("splitStatements property: randomized quoted/commented units split exactly") {
    // deterministic LCG over compositions of the features the splitter
    // must respect — semicolons inside every quoting/commenting form
    // must NOT split, real separators between units MUST
    val units = Seq(
      "SELECT 'a;b'",
      "INSERT INTO t VALUES ('it''s;ok', \"x;y\")",
      "SELECT `col;weird` FROM t",
      "SELECT 1 -- tail; comment\n",
      "SELECT /* block; comment */ 2",
      "SELECT $$dollar; body$$",
      "SELECT $fn$tagged; body$fn$",
      "UPDATE t SET v = 'a\\';q'",
      "DELETE FROM t WHERE x = 3")
    var seed = 42L
    def nextInt(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n).toInt + n) % n
    }
    (0 until 50).foreach { trial =>
      val k = 1 + nextInt(6)
      val chosen = (0 until k).map(_ => units(nextInt(units.size)))
      val script = chosen.mkString("", ";\n", ";")
      val got = SqlRouter.splitStatements(script)
      assert(got.map(_.trim) === chosen.map(_.trim),
        s"trial $trial: ${script.take(120)}")
    }
  }

  test("dollar-quoted bodies survive statement splitting") {
    val script =
      """CREATE FUNCTION t() RETURNS trigger LANGUAGE plpgsql AS $$
        |BEGIN
        |  UPDATE x SET a = 1;
        |  RETURN NEW;
        |END;
        |$$;
        |SELECT 1 AS one;
        |""".stripMargin
    val stmts = SqlRouter.splitStatements(script)
    assert(stmts.size === 2)
    assert(stmts.head.contains("UPDATE x SET a = 1;")) // body intact
    assert(stmts(1) === "SELECT 1 AS one")
  }

  test("SqlText spans partition the input exactly, across knob settings") {
    val samples = Seq(
      "SELECT 'a;b', \"c\", `d` -- tail 'x\n/* block ' */ $$body';$$ #m\n0xAB",
      "INSERT INTO t VALUES ('it''s', 'a\\'q', `b`)",
      "-- only\n/* unterminated",
      "'unterminated too",
      "$fn$ tagged; 'body' $fn$ SELECT 1",
      "")
    for {
      s <- samples
      hash <- Seq(true, false)
      dollar <- Seq(true, false)
      bsBt <- Seq(true, false)
    } {
      val sps = SqlText.spans(s, hash, dollar, bsBt)
      assert(sps.map(sp => s.substring(sp.start, sp.end)).mkString === s,
        s"partition of ${s.take(40)} hash=$hash dollar=$dollar")
      assert(sps.forall(sp => sp.end > sp.start))
      // adjacent spans meet exactly
      sps.sliding(2).foreach {
        case Seq(a, b) => assert(a.end === b.start)
        case _ => ()
      }
    }
    // knob semantics
    assert(SqlText.spans("a # b", hashComments = true)
      .exists(_.kind == SqlText.LineComment))
    assert(!SqlText.spans("a # b")
      .exists(_.kind == SqlText.LineComment))
    assert(SqlText.spans("$1 $$x$$", dollarQuotes = true)
      .count(_.kind == SqlText.Dollar) === 1) // $1 never opens a span
    // a doubled delimiter stays inside its span; standardStrings makes
    // a backslash literal inside '...'
    assert(SqlText.spans("'it''s' x").head === SqlText.Span(SqlText.Quoted, 0, 7))
    assert(SqlText.spans("'a\\' b'").size === 1)
    assert(SqlText.spans("'a\\' b'", standardStrings = true).size === 3)
    // mask: delimiters stay, bodies and comments blank, `keep` exempts
    assert(SqlText.mask("f('a,b') -- x\n\"c\"") === "f('   ')      \" \"")
    assert(SqlText.mask("\"c\" 'd'", keep = "\"") === "\"c\" ' '")
    assert(SqlText.mask("$q$ x $q$", SqlText.spans("$q$ x $q$",
      dollarQuotes = true)) === "$q$   $q$")
    // replaceCode: literals and comments copy through
    assert(SqlText.replaceCode("a + 'a' /* a */", "a".r)(_ => "b") ===
      "b + 'a' /* a */")
    // splitTop: commas at depth 0 only; keywords whole-word, spaced
    // freely, case-insensitive; limit 2 cuts at the first one
    assert(SqlText.splitTop("a, f(b, c), 'd,e'") === Seq("a", " f(b, c)", " 'd,e'"))
    assert(SqlText.splitTop("") === Nil)
    assert(SqlText.splitTop("a,") === Seq("a", ""))
    assert(SqlText.splitTop("x = 1 where_to (a WHERE b) wHeRe y", "WHERE") ===
      Seq("x = 1 where_to (a WHERE b) ", " y"))
    assert(SqlText.splitTop("(v)ON  duplicate\nKEY UPDATE w", "ON DUPLICATE KEY UPDATE") ===
      Seq("(v)", " w"))
    assert(SqlText.splitTop("a 'WHERE' b", "WHERE") === Seq("a 'WHERE' b"))
    // matchParen: both directions, -1 when unbalanced
    val m = SqlText.mask("f(a, ')', (b))")
    assert(SqlText.matchParen(m, 1) === 13)
    assert(SqlText.matchParen(m, 13) === 1)
    assert(SqlText.matchParen(m, 10) === 12)
    assert(SqlText.matchParen(SqlText.mask("(a"), 0) === -1)
  }

  test("stripPublicSchema: an apostrophe inside a comment can't flip quote state") {
    // the bug class ADVICE r7 flagged on the literal normalizer: the
    // comment's apostrophe used to open a phantom string span, after
    // which every later real qualifier was kept verbatim
    val q = "-- it's the header\nSELECT * FROM public.users u " +
      "JOIN public.orders o ON u.id = o.uid"
    val out = SqlRouter.stripPublicSchema(q)
    assert(!out.contains("public."))
    assert(out.contains("FROM users"))
    // and the protections stay: quoted occurrences survive untouched
    val keep = "SELECT 'public.keep', \"public\".x FROM t -- public.nope"
    val kept = SqlRouter.stripPublicSchema(keep)
    assert(kept.contains("'public.keep'"))
    assert(kept.contains("\"public\""))
    assert(kept.contains("-- public.nope"))
  }

  test("serial columns, INSERT..SET, multi-table TRUNCATE, INSERT..RETURNING") {
    val e = new Engine(spark, tmpDir("router_shapes"))

    // PG classic serial: implicitly NOT NULL + auto-assigned
    exec(e, "CREATE TABLE s1 (id serial PRIMARY KEY, v STRING)")
    exec(e, "INSERT INTO s1 (v) VALUES ('a'), ('b')")
    assert(exec(e, "SELECT id FROM s1 ORDER BY id").df.get.as[Int].collect()
      === Array(1, 2))
    assert(!e.table("s1").schema("id").nullable)

    // MySQL INSERT ... SET sugar routes through the same insert path
    exec(e, "CREATE TABLE t1 (a INT, b STRING)")
    exec(e, "INSERT INTO t1 SET a = 1, b = 'x, y=z'") // comma/= inside literal
    assert(exec(e, "SELECT a, b FROM t1").df.get.as[(Int, String)].head()
      === ((1, "x, y=z")))
    exec(e, "REPLACE INTO t1 SET a = 2, b = 'w'")
    assert(exec(e, "SELECT count(*) FROM t1").df.get.as[Long].head() === 2)

    // PG multi-table TRUNCATE with identity restart
    exec(e, "INSERT INTO s1 (v) VALUES ('c')") // id 3
    exec(e, "CREATE TABLE s2 (x INT)")
    exec(e, "INSERT INTO s2 VALUES (9)")
    exec(e, "TRUNCATE s1, s2 RESTART IDENTITY CASCADE")
    assert(exec(e, "SELECT count(*) FROM s1").df.get.as[Long].head() === 0)
    assert(exec(e, "SELECT count(*) FROM s2").df.get.as[Long].head() === 0)
    exec(e, "INSERT INTO s1 (v) VALUES ('again')")
    assert(exec(e, "SELECT id FROM s1").df.get.as[Int].head() === 1) // restarted

    // INSERT ... RETURNING: the id-grab shape (auto-assigned → exact
    // read-back by the assigned range), plus the explicit-insert form
    val r1 = exec(e, "INSERT INTO s1 (v) VALUES ('r1'), ('r2') RETURNING id, v")
    assert(r1.affected === 2)
    assert(r1.df.get.as[(Int, String)].collect().sortBy(_._1)
      === Array((2, "r1"), (3, "r2")))
    val r2 = exec(e, "INSERT INTO t1 (a, b) VALUES (7, 'k') RETURNING b, a")
    assert(r2.df.get.as[(String, Int)].head() === (("k", 7)))
    // the word RETURNING inside a string literal does not trigger
    val r3 = exec(e, "INSERT INTO t1 (a, b) VALUES (8, 'not RETURNING x')")
    assert(r3.df.isEmpty && r3.affected === 1)
  }

  test("MySQL client-session surface: SET NAMES, SHOW lists, locking tails, DEFAULT VALUES") {
    val e = new Engine(spark, tmpDir("router_client"))
    exec(e, "CREATE TABLE users (id BIGINT PRIMARY KEY, v STRING)")
    exec(e, "CREATE VIEW vu AS SELECT id FROM users")
    exec(e, "INSERT INTO users VALUES (1, 'a')")

    // SET NAMES records the session charset vars like the real server
    exec(e, "SET NAMES utf8mb4 COLLATE utf8mb4_0900_ai_ci")
    assert(e.getVar("character_set_client") === Some("utf8mb4"))
    assert(e.getVar("collation_connection") === Some("utf8mb4_0900_ai_ci"))

    // SHOW TABLES answers views too, filters with LIKE, FULL adds type
    assert(exec(e, "SHOW TABLES").df.get.as[String].collect().sorted
      === Array("users", "vu"))
    assert(exec(e, "SHOW TABLES LIKE 'use%'").df.get.as[String].collect()
      === Array("users"))
    assert(exec(e, "SHOW FULL TABLES").df.get.as[(String, String)].collect()
      .toMap === Map("users" -> "BASE TABLE", "vu" -> "VIEW"))

    // SHOW TABLE STATUS: MySQL column names, live row/auto-inc stats
    exec(e, "ANALYZE TABLE users COMPUTE STATISTICS")
    val st = exec(e, "SHOW TABLE STATUS LIKE 'users'").df.get.collect()
    assert(st.length === 1)
    assert(st.head.getAs[String]("Name") === "users")
    assert(st.head.getAs[Long]("Rows") === 1L)

    // connect-time lists are shaped, non-empty
    assert(exec(e, "SHOW COLLATION").df.get.columns.head === "Collation")
    assert(exec(e, "SHOW CHARACTER SET").df.get.count() > 0)
    assert(exec(e, "SHOW ENGINES").df.get.count() === 1)
    assert(exec(e, "SHOW STATUS").df.get.count() > 0)

    // row-locking tails are accepted-and-dropped (snapshot semantics);
    // the phrase inside a trailing string literal is untouched
    assert(exec(e, "SELECT v FROM users WHERE id = 1 FOR UPDATE")
      .df.get.as[String].head() === "a")
    assert(exec(e, "SELECT v FROM users LOCK IN SHARE MODE")
      .df.get.count() === 1)
    assert(exec(e, "SELECT 'keep FOR UPDATE'").df.get.as[String].head()
      === "keep FOR UPDATE")

    // PG all-defaults insert
    exec(e, "CREATE TABLE d1 (id serial PRIMARY KEY, v STRING)")
    exec(e, "INSERT INTO d1 DEFAULT VALUES")
    assert(exec(e, "SELECT id FROM d1").df.get.as[Int].head() === 1)
  }

  test("UPDATE/DELETE RETURNING answer post-update and deleted-row images") {
    val e = new Engine(spark, tmpDir("router_dml_returning"))
    exec(e, "CREATE TABLE r (id BIGINT PRIMARY KEY, v INT)")
    exec(e, "INSERT INTO r VALUES (1, 10), (2, 20), (3, 30)")

    // UPDATE RETURNING: post-update images of the matched rows only
    val u = exec(e, "UPDATE r SET v = v * 2 WHERE v < 25 RETURNING id, v")
    assert(u.affected === 2)
    assert(u.df.get.as[(Long, Int)].collect().sortBy(_._1)
      === Array((1L, 20), (2L, 40)))
    assert(exec(e, "SELECT v FROM r WHERE id = 3").df.get.as[Int].head() === 30)

    // DELETE RETURNING: the deleted rows' images; also the no-WHERE form
    val d = exec(e, "DELETE FROM r WHERE id = 1 RETURNING v")
    assert(d.affected === 1)
    assert(d.df.get.as[Int].head() === 20)
    val dAll = exec(e, "DELETE FROM r RETURNING id")
    assert(dAll.affected === 2)
    assert(dAll.df.get.as[Long].collect().sorted === Array(2L, 3L))
    assert(exec(e, "SELECT count(*) FROM r").df.get.as[Long].head() === 0)

    // the word inside a string literal doesn't trigger (UPDATE path)
    exec(e, "INSERT INTO r VALUES (9, 1)")
    val u2 = exec(e, "UPDATE r SET v = length('x RETURNING y') WHERE id = 9")
    assert(u2.df.isEmpty && u2.affected === 1)
    assert(exec(e, "SELECT v FROM r WHERE id = 9").df.get.as[Int].head() === 13)
  }

  test("temp/unlogged tables, SELECT INTO, CTAS WITH NO DATA, TYPE USING, COPY TO STDOUT") {
    val e = new Engine(spark, tmpDir("router_shapes2"))
    exec(e, "CREATE TABLE base (id BIGINT PRIMARY KEY, v STRING)")
    exec(e, "INSERT INTO base VALUES (1,'a'), (2,'b')")

    // TEMP/UNLOGGED prefixes route to ordinary tables (documented:
    // persistence beyond the session is the divergence, not a failure)
    exec(e, "CREATE TEMPORARY TABLE tmp1 (x INT)")
    exec(e, "CREATE UNLOGGED TABLE ul1 (x INT)")
    assert(e.listTables().contains("tmp1") && e.listTables().contains("ul1"))

    // PG SELECT INTO = CTAS; the phrase inside a literal stays inert
    exec(e, "SELECT id, v INTO newt FROM base WHERE id = 1")
    assert(exec(e, "SELECT v FROM newt").df.get.as[String].head() === "a")
    assert(exec(e, "SELECT 'go INTO x FROM y' FROM base").df.get.count() === 2)

    // CTAS WITH NO DATA creates schema only
    exec(e, "CREATE TABLE cn AS SELECT * FROM base WITH NO DATA")
    assert(e.table("cn").schema.fieldNames.toSeq === Seq("id", "v"))
    assert(exec(e, "SELECT count(*) FROM cn").df.get.as[Long].head() === 0)

    // ALTER TYPE USING: cast-of-the-column accepted, anything else loud
    exec(e, "ALTER TABLE cn ALTER COLUMN id TYPE INT USING id::int")
    intercept[IllegalArgumentException] {
      exec(e, "ALTER TABLE cn ALTER COLUMN v TYPE INT USING length(v)")
    }

    // COPY TO STDOUT answers the rows as a result set; a bogus FORMAT
    // fails as loudly as on the to-file path
    val r = exec(e, "COPY base TO STDOUT (FORMAT CSV)")
    assert(r.df.get.count() === 2)
    intercept[IllegalArgumentException] {
      exec(e, "COPY base TO STDOUT (FORMAT BOGUS)")
    }

    // CTAS IF NOT EXISTS is an idempotent no-op that doesn't run the query
    exec(e, "CREATE TABLE IF NOT EXISTS newt AS SELECT * FROM base")
    assert(exec(e, "SELECT count(*) FROM newt").df.get.as[Long].head() === 1)

    // SELECT INTO with PG's TEMP/TABLE keywords
    exec(e, "SELECT id INTO TEMP TABLE ti FROM base WHERE id = 2")
    assert(exec(e, "SELECT id FROM ti").df.get.as[Long].head() === 2L)

    // USING accepts a cast to the DECLARED comma-parameterized type,
    // refuses a cast to a different type (it would silently degrade)
    exec(e, "CREATE TABLE uz (a INT, b DOUBLE)")
    exec(e, "ALTER TABLE uz ALTER COLUMN b TYPE DECIMAL(10,2) USING b::decimal(10, 2)")
    intercept[IllegalArgumentException] {
      exec(e, "ALTER TABLE uz ALTER COLUMN a TYPE INT USING a::date")
    }
  }

  test("review regressions: txn truncate, self-referencing RETURNING, SET+ODKU, LIKE filters") {
    val e = new Engine(spark, tmpDir("router_review3"))
    exec(e, "CREATE TABLE t (id INT NOT NULL AUTO_INCREMENT, v STRING, PRIMARY KEY (id))")
    exec(e, "INSERT INTO t VALUES (1, 'a'), (2, 'b')")

    // TRUNCATE ... RESTART IDENTITY inside a transaction stages through
    // the txn io — a ROLLBACK undoes BOTH the truncation and the reset
    exec(e, "BEGIN")
    exec(e, "TRUNCATE t RESTART IDENTITY")
    exec(e, "ROLLBACK")
    assert(exec(e, "SELECT count(*) FROM t").df.get.as[Long].head() === 2)
    // bare TRUNCATE resets the counter (MySQL semantics); CONTINUE
    // IDENTITY keeps it
    exec(e, "INSERT INTO t (v) VALUES ('c')") // id 3
    exec(e, "TRUNCATE TABLE t")
    exec(e, "INSERT INTO t (v) VALUES ('one')")
    assert(exec(e, "SELECT id FROM t").df.get.as[Int].head() === 1)
    exec(e, "TRUNCATE t CONTINUE IDENTITY")
    exec(e, "INSERT INTO t (v) VALUES ('two')")
    assert(exec(e, "SELECT id FROM t").df.get.as[Int].head() === 2)

    // a SELECT-sourced INSERT RETURNING answers the values actually
    // stored, not a re-execution over the post-insert table
    exec(e, "CREATE TABLE s (id BIGINT PRIMARY KEY)")
    exec(e, "INSERT INTO s VALUES (10)")
    val r = exec(e, "INSERT INTO s SELECT max(id) + 1 FROM s RETURNING id")
    assert(r.df.get.as[Long].head() === 11L)

    // INSERT ... SET with ON DUPLICATE KEY UPDATE re-routes canonically
    exec(e, "INSERT INTO t SET v = 'dup' ON DUPLICATE KEY UPDATE v = 'upd'")
    exec(e, "UPDATE t SET id = 2 WHERE false") // no-op; keep state clear
    val before = exec(e, "SELECT count(*) FROM t").df.get.as[Long].head()
    exec(e, s"INSERT INTO t SET id = 2, v = 'x' ON DUPLICATE KEY UPDATE v = 'upd2'")
    assert(exec(e, "SELECT count(*) FROM t").df.get.as[Long].head() === before)
    assert(exec(e, "SELECT v FROM t WHERE id = 2").df.get.as[String].head() === "upd2")

    // SHOW ... LIKE filters apply
    assert(exec(e, "SHOW SESSION STATUS LIKE 'Ssl_version'").df.get.count() === 0)
    assert(exec(e, "SHOW STATUS LIKE 'Uptime'").df.get.count() === 1)
    assert(exec(e, "SHOW COLLATION LIKE 'utf8mb4%'").df.get.count() === 2)

    // RETURNING inside a dollar-quoted literal stays inert
    exec(e, "CREATE TABLE dq (id INT, body STRING)")
    exec(e, "INSERT INTO dq VALUES (1, 'x')")
    exec(e, "UPDATE dq SET body = $$text RETURNING rows$$ WHERE id = 1")
    assert(exec(e, "SELECT body FROM dq").df.get.as[String].head()
      === "text RETURNING rows")
  }

  test("ON CONFLICT ... RETURNING: the ORM id-grab upsert shape") {
    val e = new Engine(spark, tmpDir("router_ocret"))
    exec(e, "CREATE TABLE oc2 (id BIGINT PRIMARY KEY, v STRING, n INT)")
    exec(e, "INSERT INTO oc2 VALUES (1, 'a', 10)")

    // DO NOTHING RETURNING answers only the rows actually inserted
    val r1 = exec(e,
      "INSERT INTO oc2 VALUES (1, 'skip', 0), (2, 'new', 20) ON CONFLICT (id) DO NOTHING RETURNING id, v")
    assert(r1.df.get.as[(Long, String)].collect().toSeq === Seq((2L, "new")))

    // DO UPDATE RETURNING answers post-images: updated and inserted
    val r2 = exec(e,
      "INSERT INTO oc2 VALUES (1, 'z', 5), (3, 'c', 30) ON CONFLICT (id) DO UPDATE SET n = oc2.n + excluded.n RETURNING id, n")
    assert(r2.df.get.as[(Long, Int)].collect().sortBy(_._1).toSeq
      === Seq((1L, 15), (3L, 30)))
    assert(exec(e, "SELECT n FROM oc2 WHERE id = 1").df.get.as[Int].head() === 15)
  }

  test("PG ON CONFLICT upsert: DO NOTHING, DO UPDATE with excluded refs and WHERE guard") {
    val e = new Engine(spark, tmpDir("router_onconflict"))
    exec(e, "CREATE TABLE oc (id BIGINT PRIMARY KEY, v STRING, n INT)")
    exec(e, "INSERT INTO oc VALUES (1, 'a', 10), (2, 'b', 20)")

    // DO NOTHING: existing keys kept, new keys inserted
    exec(e, "INSERT INTO oc VALUES (1, 'X', 99), (3, 'c', 30) ON CONFLICT (id) DO NOTHING")
    assert(exec(e, "SELECT v FROM oc WHERE id = 1").df.get.as[String].head() === "a")
    assert(exec(e, "SELECT count(*) FROM oc").df.get.as[Long].head() === 3)

    // DO UPDATE: excluded.* is the incoming row; bare/table-qualified
    // names are the existing row
    exec(e, "INSERT INTO oc VALUES (1, 'Z', 5) ON CONFLICT (id) DO UPDATE SET v = excluded.v, n = oc.n + excluded.n")
    assert(exec(e, "SELECT v, n FROM oc WHERE id = 1").df.get.as[(String, Int)].head()
      === (("Z", 15)))

    // WHERE guard: the update applies only where the condition holds
    exec(e, "INSERT INTO oc VALUES (1, 'W', 100), (2, 'W', 1) ON CONFLICT (id) DO UPDATE SET n = excluded.n WHERE excluded.n > oc.n")
    assert(exec(e, "SELECT n FROM oc WHERE id = 1").df.get.as[Int].head() === 100)
    assert(exec(e, "SELECT n FROM oc WHERE id = 2").df.get.as[Int].head() === 20)

    // the phrase inside a string literal does not trigger the arm
    exec(e, "INSERT INTO oc VALUES (4, 'on conflict (id) do nothing', 1)")
    assert(exec(e, "SELECT count(*) FROM oc").df.get.as[Long].head() === 4)

    // a non-PK conflict target is refused loudly
    intercept[IllegalArgumentException] {
      exec(e, "INSERT INTO oc VALUES (5, 'x', 1) ON CONFLICT (v) DO NOTHING")
    }
  }

  test("EXPLAIN: query statement type answered with the Spark plan") {
    val e = new Engine(spark, tmpDir("router_explain"))
    exec(e, "CREATE TABLE ex1 (id BIGINT PRIMARY KEY, grp STRING, v DOUBLE)")
    exec(e, "INSERT INTO ex1 VALUES (1,'a',1.0), (2,'a',2.0), (3,'b',3.0)")

    // plain EXPLAIN: formatted physical plan, one line per row, and the
    // engine table's scan + the filter actually show in it
    val plan = exec(e,
      "EXPLAIN SELECT grp, sum(v) AS s FROM ex1 WHERE id > 1 GROUP BY grp")
      .df.get.as[String].collect().mkString("\n")
    assert(plan.contains("HashAggregate"))
    assert(plan.contains("Scan parquet") || plan.contains("Scan ExistingRDD")
      || plan.contains("LocalTableScan"))
    assert(SqlRouter.classify("EXPLAIN SELECT 1") === "EXPLAIN")

    // EXPLAIN ANALYZE (PG/DuckDB spelling): runs the plan — the printed
    // adaptive plan is the runtime-final one, with a timing footer
    val analyzed = exec(e, "EXPLAIN ANALYZE SELECT grp, count(*) FROM ex1 GROUP BY grp")
      .df.get.as[String].collect()
    assert(analyzed.exists(_.contains("isFinalPlan=true")))
    assert(analyzed.last.startsWith("Execution Time:"))

    // PG paren option list + MySQL FORMAT= + Spark native modes all parse
    assert(exec(e, "EXPLAIN (COSTS OFF) SELECT 1 AS x").df.get.count() > 0)
    assert(exec(e, "EXPLAIN FORMAT=TREE SELECT 1 AS x").df.get.count() > 0)
    val ext = exec(e, "EXPLAIN EXTENDED SELECT 1 AS x")
      .df.get.as[String].collect().mkString("\n")
    assert(ext.contains("== Analyzed Logical Plan =="))
    // a parenthesized QUERY head is a query, not an option list
    assert(exec(e, "EXPLAIN (SELECT 1 AS x UNION ALL SELECT 2) ORDER BY x")
      .df.get.count() > 0)

    // option-head parser unit cases
    assert(SqlRouter.parseExplain("ANALYZE SELECT 1") === ((true, "formatted", "SELECT 1")))
    assert(SqlRouter.parseExplain("(ANALYZE, FORMAT JSON) SELECT 1") ===
      ((true, "formatted", "SELECT 1")))
    assert(SqlRouter.parseExplain("VERBOSE SELECT 1") === ((false, "extended", "SELECT 1")))
    // PG boolean option VALUES are honored: (ANALYZE OFF) is an
    // explicit opt-out, it must NOT run the query
    assert(SqlRouter.parseExplain("(ANALYZE OFF) SELECT 1")._1 === false)
    assert(SqlRouter.parseExplain("(ANALYZE FALSE, VERBOSE) SELECT 1") ===
      ((false, "extended", "SELECT 1")))
    assert(SqlRouter.parseExplain("(ANALYZE ON) SELECT 1")._1 === true)
    assert(SqlRouter.parseExplain("(VERBOSE OFF) SELECT 1")._2 === "formatted")
    // ANALYZED is a column alias start, not the ANALYZE option
    assert(SqlRouter.parseExplain("SELECT 1 AS analyzed")._1 === false)

    // non-query statements are refused loudly, not silently mis-planned
    intercept[IllegalArgumentException] {
      exec(e, "EXPLAIN INSERT INTO ex1 VALUES (4,'c',4.0)")
    }
  }

  test("SELECT INTO OUTFILE is LOAD DATA's inverse: round-trip restores exact state") {
    val e = new Engine(spark, tmpDir("router_outfile"))
    exec(e, "CREATE TABLE src (id BIGINT PRIMARY KEY, v STRING, d DOUBLE)")
    exec(e, "INSERT INTO src VALUES (1, 'plain', 1.5), (2, NULL, 2.5), " +
      "(3, 'comma,and semi;', 3.5)")
    val f = tmpDir("outfile_rt").resolve("t.tsv").toString

    // trailing position, default options (tab/no-quote/backslash/\N)
    val r = exec(e, s"SELECT id, v, d FROM src ORDER BY id INTO OUTFILE '$f'")
    assert(r.affected === 3)
    // the file is ONE file at exactly the path, \N for NULL
    val bytes = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f)), "UTF-8")
    assert(bytes.contains("2\t\\N\t2.5"))

    exec(e, "CREATE TABLE dst (id BIGINT PRIMARY KEY, v STRING, d DOUBLE)")
    exec(e, s"LOAD DATA INFILE '$f' INTO TABLE dst")
    assert(exec(e, "SELECT * FROM dst ORDER BY id").df.get.collect().toSeq
      === exec(e, "SELECT * FROM src ORDER BY id").df.get.collect().toSeq)

    // explicit FIELDS options round-trip too (the loaddata.go surface
    // inverted); before-FROM clause position parses as well
    val f2 = tmpDir("outfile_rt2").resolve("t.csv").toString
    exec(e, s"SELECT id, v FROM src INTO OUTFILE '$f2' " +
      "FIELDS TERMINATED BY '|' ESCAPED BY '\\\\'")
    exec(e, "CREATE TABLE dst2 (id BIGINT PRIMARY KEY, v STRING)")
    exec(e, s"LOAD DATA INFILE '$f2' INTO TABLE dst2 " +
      "FIELDS TERMINATED BY '|' ESCAPED BY '\\\\'")
    assert(exec(e, "SELECT count(*) FROM dst2").df.get.as[Long].head() === 3)
    val f3 = tmpDir("outfile_rt3").resolve("t3.tsv").toString
    exec(e, s"SELECT id INTO OUTFILE '$f3' FROM src WHERE id > 1")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f3)), "UTF-8").linesIterator.size === 2)

    // MySQL refuses to overwrite an existing file (error 1086 analog)
    intercept[IllegalArgumentException] {
      exec(e, s"SELECT id FROM src INTO OUTFILE '$f'")
    }
    // the phrase inside a string literal stays inert
    val lit = exec(e, "SELECT 'x INTO OUTFILE ''/tmp/nope''' AS s").df.get
    assert(lit.as[String].head() === "x INTO OUTFILE '/tmp/nope'")

    // INTO DUMPFILE: one row, raw bytes, no terminators
    val fd = tmpDir("outfile_dump").resolve("one.bin").toString
    exec(e, s"SELECT v FROM src WHERE id = 1 INTO DUMPFILE '$fd'")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fd)), "UTF-8") === "plain")
    intercept[IllegalArgumentException] {
      exec(e, s"SELECT id FROM src INTO DUMPFILE '${fd}2'")
    }
  }

  test("OUTFILE writes MySQL FIELDS ESCAPED BY encoding, byte-exact, and LOAD DATA decodes it") {
    val e = new Engine(spark, tmpDir("router_outfile_esc"))
    exec(e, "CREATE TABLE src (id BIGINT PRIMARY KEY, v STRING)")
    // embedded tab, newline, backslash, NUL — every character the
    // MySQL output rules escape (inserted via the table API so no SQL
    // literal-escape layer sits between the test and the file)
    e.table("src").insert(Seq(
      (1L, "a\tb"), (2L, "l1\nl2"), (3L, "back\\slash"),
      (4L, "z\u0000q")).toDF("id", "v"))
    exec(e, "INSERT INTO src VALUES (5, NULL)")

    val f = tmpDir("outfile_esc").resolve("t.tsv").toString
    exec(e, s"SELECT id, v FROM src ORDER BY id INTO OUTFILE '$f'")
    val bytes = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f)), "UTF-8")
    // MySQL writes escape + ACTUAL character (backslash+tab, backslash+
    // newline), doubles the backslash, spells NUL as \0 and NULL as \N
    assert(bytes ===
      "1\ta\\\tb\n" +
      "2\tl1\\\nl2\n" +
      "3\tback\\\\slash\n" +
      "4\tz\\0q\n" +
      "5\t\\N\n")

    // ...and LOAD DATA reads it back to the exact original state —
    // including the record whose escaped newline spans physical lines
    exec(e, "CREATE TABLE dst (id BIGINT PRIMARY KEY, v STRING)")
    exec(e, s"LOAD DATA INFILE '$f' INTO TABLE dst")
    assert(exec(e, "SELECT * FROM dst ORDER BY id").df.get.collect().toSeq
      === exec(e, "SELECT * FROM src ORDER BY id").df.get.collect().toSeq)
  }

  test("multi-table UPDATE/DELETE joins and tuple-SET route onto the CoW merge path") {
    val e = new Engine(spark, tmpDir("router_joindml"))
    exec(e, "CREATE TABLE acc (id BIGINT PRIMARY KEY, owner STRING, bal DOUBLE)")
    exec(e, "CREATE TABLE adj (id BIGINT PRIMARY KEY, delta DOUBLE, flag STRING)")
    exec(e, "INSERT INTO acc VALUES (1,'a',10), (2,'b',20), (3,'c',30), (4,'d',40)")
    exec(e, "INSERT INTO adj VALUES (1, 5, 'y'), (3, -10, 'y'), (4, 99, 'n')")

    // MySQL join UPDATE: target resolved from the SET qualifier
    val u1 = exec(e,
      "UPDATE acc JOIN adj ON acc.id = adj.id SET acc.bal = acc.bal + adj.delta WHERE adj.flag = 'y'")
    assert(u1.affected === 2)
    assert(exec(e, "SELECT bal FROM acc ORDER BY id").df.get.as[Double].collect()
      .toSeq === Seq(15.0, 20.0, 20.0, 40.0))

    // PG UPDATE ... FROM with WHERE join; RETURNING answers stored rows
    val u2 = exec(e,
      "UPDATE acc SET owner = adj.flag FROM adj WHERE acc.id = adj.id AND adj.delta > 0 RETURNING id, owner")
    assert(u2.df.get.as[(Long, String)].collect().sortBy(_._1).toSeq
      === Seq((1L, "y"), (4L, "n")))
    assert(exec(e, "SELECT owner FROM acc WHERE id = 4").df.get.as[String].head() === "n")

    // tuple-SET expands positionally (plain single-table arm)
    exec(e, "UPDATE acc SET (owner, bal) = ('z', 0) WHERE id = 2")
    assert(exec(e, "SELECT owner, bal FROM acc WHERE id = 2")
      .df.get.as[(String, Double)].head() === (("z", 0.0)))
    // ...and a row-subquery RHS is refused loudly
    intercept[IllegalArgumentException] {
      exec(e, "UPDATE acc SET (owner, bal) = (SELECT 'q', 1) WHERE id = 2")
    }

    // MySQL multi-table DELETE: DELETE a FROM a JOIN b
    val d1 = exec(e, "DELETE acc FROM acc JOIN adj ON acc.id = adj.id WHERE adj.delta < 0")
    assert(d1.affected === 1)
    assert(exec(e, "SELECT count(*) FROM acc WHERE id = 3").df.get.as[Long].head() === 0)

    // PG DELETE ... USING (target not repeated in USING)
    val d2 = exec(e, "DELETE FROM acc USING adj WHERE acc.id = adj.id AND adj.flag = 'n' RETURNING id")
    assert(d2.df.get.as[Long].collect().toSeq === Seq(4L))
    assert(exec(e, "SELECT id FROM acc ORDER BY id").df.get.as[Long].collect()
      .toSeq === Seq(1L, 2L))

    // MySQL DELETE FROM a USING a JOIN b (target repeated): state above
    exec(e, "INSERT INTO acc VALUES (9,'x',1)")
    exec(e, "INSERT INTO adj VALUES (9, 0, 'y')")
    val d3 = exec(e, "DELETE FROM acc USING acc JOIN adj ON acc.id = adj.id WHERE adj.id = 9")
    assert(d3.affected === 1)

    // writing two tables in one UPDATE is refused loudly
    intercept[IllegalArgumentException] {
      exec(e, "UPDATE acc JOIN adj ON acc.id = adj.id SET acc.bal = 0, adj.delta = 0")
    }
    // a join-UPDATE with nothing after SET is refused loudly
    intercept[IllegalArgumentException] {
      exec(e, "UPDATE acc JOIN adj ON acc.id = adj.id SET")
    }
    // join-UPDATE of a primary-key column is refused loudly
    intercept[IllegalArgumentException] {
      exec(e, "UPDATE acc JOIN adj ON acc.id = adj.id SET acc.id = adj.id + 100")
    }

    // aliased forms: UPDATE t AS x ... / DELETE FROM t AS x USING
    exec(e, "UPDATE acc AS x JOIN adj AS y ON x.id = y.id SET x.owner = y.flag")
    assert(exec(e, "SELECT owner FROM acc WHERE id = 1").df.get.as[String].head() === "y")

    // volatile SET + RETURNING: returned value IS the stored value
    exec(e, "CREATE TABLE vt (id BIGINT PRIMARY KEY, tok STRING)")
    exec(e, "INSERT INTO vt VALUES (1, 'old')")
    val rv = exec(e, "UPDATE vt SET tok = uuid() WHERE id = 1 RETURNING tok")
      .df.get.as[String].head()
    assert(exec(e, "SELECT tok FROM vt WHERE id = 1").df.get.as[String].head() === rv)
    assert(rv !== "old")
  }

  test("review r9 second pass: aliased USING, chained txns, savepoint ordering, SHOW keywords") {
    val e = new Engine(spark, tmpDir("router_rev2"))
    exec(e, "CREATE TABLE ra (id BIGINT PRIMARY KEY, v INT)")
    exec(e, "CREATE TABLE rb (id BIGINT PRIMARY KEY)")
    exec(e, "INSERT INTO ra VALUES (1, 10), (2, 20)")
    exec(e, "INSERT INTO rb VALUES (2)")

    // aliased PG DELETE ... USING reaches the join arm
    val d = exec(e, "DELETE FROM ra AS x USING rb WHERE x.id = rb.id")
    assert(d.affected === 1)
    assert(exec(e, "SELECT id FROM ra").df.get.as[Long].collect().toSeq === Seq(1L))

    // bare-aliased single-table forms (PG spellings)
    exec(e, "INSERT INTO ra VALUES (7, 70), (8, 80)")
    exec(e, "UPDATE ra AS y SET y.v = y.v + 1 WHERE y.id = 7")
    assert(exec(e, "SELECT v FROM ra WHERE id = 7").df.get.as[Int].head() === 71)
    val da = exec(e, "DELETE FROM ra AS z WHERE z.id = 8 RETURNING id")
    assert(da.df.get.as[Long].collect().toSeq === Seq(8L))
    exec(e, "DELETE FROM ra y WHERE y.id = 7") // alias without AS
    assert(exec(e, "SELECT count(*) FROM ra WHERE id >= 7").df.get.as[Long].head() === 0)

    // COMMIT AND CHAIN begins a new transaction — the follow-up work
    // is still transactional and rolls back
    exec(e, "BEGIN")
    exec(e, "INSERT INTO ra VALUES (3, 30)")
    exec(e, "COMMIT AND CHAIN")
    exec(e, "INSERT INTO ra VALUES (4, 40)")
    exec(e, "ROLLBACK")
    assert(exec(e, "SELECT id FROM ra ORDER BY id").df.get.as[Long].collect()
      .toSeq === Seq(1L, 3L))

    // rollback-to destroys savepoints established after the target
    exec(e, "BEGIN")
    exec(e, "SAVEPOINT a")
    exec(e, "INSERT INTO ra VALUES (5, 50)")
    exec(e, "SAVEPOINT b")
    exec(e, "ROLLBACK TO a")
    intercept[IllegalArgumentException] { exec(e, "ROLLBACK TO b") }
    exec(e, "ROLLBACK")

    // isolation level: MySQL spelling at @@, PG spelling at SHOW
    exec(e, "SET SESSION TRANSACTION ISOLATION LEVEL READ COMMITTED")
    assert(exec(e, "SELECT @@transaction_isolation AS i").df.get.as[String]
      .head() === "READ-COMMITTED")
    assert(exec(e, "SHOW TRANSACTION ISOLATION LEVEL").df.get.as[String]
      .head() === "read committed")

    // structural SHOW keywords are not GUC-parameter errors
    assert(exec(e, "SHOW SCHEMAS").df.isDefined)
    // mixed-case GUC set/read meet at one normalized key
    exec(e, "SET TimeZone = 'America/Denver'")
    assert(exec(e, "SHOW timezone").df.get.as[String].head() === "America/Denver")
    exec(e, "RESET TIMEZONE")
    assert(exec(e, "SHOW TimeZone").df.get.as[String].head() === "UTC")
    // an unrecorded dotted name is Spark's own RESET — Catalyst path
    exec(e, "RESET spark.sql.adaptive.enabled")
    // @@ inside a dollar-quoted literal stays opaque
    assert(exec(e, "SELECT $$a@@b$$ AS t").df.get.as[String].head() === "a@@b")

    // nested BEGIN under PG session evidence keeps the txn open
    // (MySQL sessions commit-then-begin — covered by autocommit spec)
    exec(e, "SET statement_timeout = 0") // pg preamble evidence
    exec(e, "BEGIN")
    exec(e, "INSERT INTO ra VALUES (6, 60)")
    exec(e, "BEGIN") // PG: warn-and-ignore
    exec(e, "ROLLBACK")
    assert(exec(e, "SELECT count(*) FROM ra WHERE id = 6")
      .df.get.as[Long].head() === 0)
  }

  test("SAVEPOINT / ROLLBACK TO / RELEASE: the nested-transaction shape") {
    val e = new Engine(spark, tmpDir("router_savepoint"))
    exec(e, "CREATE TABLE sp (id BIGINT PRIMARY KEY, v STRING)")

    exec(e, "BEGIN")
    exec(e, "INSERT INTO sp VALUES (1, 'keep')")
    exec(e, "SAVEPOINT sp1")
    exec(e, "INSERT INTO sp VALUES (2, 'drop')")
    exec(e, "UPDATE sp SET v = 'mutated' WHERE id = 1")
    // read-your-writes sees the savepoint-era state...
    assert(exec(e, "SELECT count(*) FROM sp").df.get.as[Long].head() === 2)
    exec(e, "ROLLBACK TO SAVEPOINT sp1")
    // ...and rolling back restores exactly the snapshot
    assert(exec(e, "SELECT v FROM sp ORDER BY id").df.get.as[String].collect()
      .toSeq === Seq("keep"))
    // the savepoint survives a rollback-to (PG: reusable)
    exec(e, "INSERT INTO sp VALUES (3, 'second-try')")
    exec(e, "ROLLBACK TO sp1")
    assert(exec(e, "SELECT count(*) FROM sp").df.get.as[Long].head() === 1)
    exec(e, "INSERT INTO sp VALUES (4, 'final')")
    exec(e, "RELEASE SAVEPOINT sp1")
    intercept[IllegalArgumentException] { exec(e, "ROLLBACK TO sp1") }
    exec(e, "COMMIT")
    assert(exec(e, "SELECT id FROM sp ORDER BY id").df.get.as[Long].collect()
      .toSeq === Seq(1L, 4L))

    // outside a transaction: SAVEPOINT is tolerated (MySQL reading),
    // ROLLBACK TO is refused loudly
    exec(e, "SAVEPOINT loose")
    intercept[IllegalStateException] { exec(e, "ROLLBACK TO SAVEPOINT loose") }
  }

  test("PG session-statement surface: SHOW guc, SET TO, txn modifiers, DISCARD/RESET") {
    val e = new Engine(spark, tmpDir("router_pgsession"))

    // pgjdbc connection setup, both SET spellings
    exec(e, "SET extra_float_digits = 3")
    exec(e, "SET client_encoding TO 'UTF8'")
    assert(exec(e, "SHOW client_encoding").df.get.as[String].head() === "UTF8")

    // bare GUC SHOW: PG defaults under the session overlay, the column
    // named after the parameter; unknown GUCs error with PG's wording
    val sv = exec(e, "SHOW server_version").df.get
    assert(sv.columns.toSeq === Seq("server_version"))
    assert(sv.as[String].head() === "15.0")
    assert(exec(e, "SHOW search_path").df.get.as[String].head() === "public")
    intercept[IllegalArgumentException] { exec(e, "SHOW no_such_guc") }

    // isolation characteristics record and read back
    assert(exec(e, "SHOW TRANSACTION ISOLATION LEVEL").df.get.as[String].head()
      === "read committed")
    exec(e, "SET SESSION CHARACTERISTICS AS TRANSACTION ISOLATION LEVEL SERIALIZABLE")
    assert(exec(e, "SHOW TRANSACTION ISOLATION LEVEL").df.get.as[String].head()
      === "serializable")

    // txn-head modifiers parse; the machinery works under them
    exec(e, "CREATE TABLE pt (id BIGINT PRIMARY KEY)")
    exec(e, "BEGIN ISOLATION LEVEL REPEATABLE READ")
    exec(e, "INSERT INTO pt VALUES (1)")
    exec(e, "ROLLBACK WORK")
    assert(exec(e, "SELECT count(*) FROM pt").df.get.as[Long].head() === 0)
    exec(e, "START TRANSACTION READ WRITE")
    exec(e, "INSERT INTO pt VALUES (2)")
    exec(e, "COMMIT WORK")
    assert(exec(e, "SELECT count(*) FROM pt").df.get.as[Long].head() === 1)

    // SET TIME ZONE / RESET / DISCARD ALL session-state lifecycle
    exec(e, "SET TIME ZONE 'America/New_York'")
    assert(exec(e, "SHOW TimeZone").df.get.as[String].head() === "America/New_York")
    exec(e, "RESET timezone")
    assert(exec(e, "SHOW TimeZone").df.get.as[String].head() === "UTC")
    exec(e, "SET statement_timeout = 0")
    exec(e, "DISCARD ALL")
    assert(exec(e, "SHOW VARIABLES LIKE 'statement_timeout'").df.get.count() === 0)

    // SHOW ALL lists (name, setting, description) rows
    assert(exec(e, "SHOW ALL").df.get
      .filter("name = 'server_version'").count() === 1)
  }

  test("connect-time client surface: @@sysvars, session functions, diagnostics SHOWs") {
    val e = new Engine(spark, tmpDir("router_handshake"))

    // the Connector/J handshake shape: multiple @@refs with aliases
    val hs = exec(e, "SELECT @@session.auto_increment_increment AS aii, " +
      "@@character_set_client AS csc, @@max_allowed_packet AS map").df.get
    assert(hs.collect().head.toSeq === Seq(1, "utf8mb4", 67108864))
    // mysql CLI banner query; session SET overlays the default
    assert(exec(e, "SELECT @@version_comment LIMIT 1").df.get.count() === 1)
    assert(exec(e, "SELECT @@autocommit AS a").df.get.as[Int].head() === 1)
    exec(e, "SET sql_mode = 'NO_ENGINE_SUBSTITUTION'")
    assert(exec(e, "SELECT @@sql_mode AS m").df.get.as[String].head()
      === "NO_ENGINE_SUBSTITUTION")
    exec(e, "SET sql_mode = ''")
    // unknown sysvar errors like the server; quoted spans stay inert
    intercept[IllegalArgumentException] { exec(e, "SELECT @@no_such_var") }
    assert(exec(e, "SELECT '@@autocommit' AS s").df.get.as[String].head()
      === "@@autocommit")

    // engine-bound session functions
    exec(e, "CREATE DATABASE hsdb")
    exec(e, "USE hsdb")
    assert(exec(e, "SELECT DATABASE() AS d").df.get.as[String].head() === "hsdb")
    exec(e, "USE main")
    assert(exec(e, "SELECT DATABASE() AS d").df.get.as[String].head() === "main")
    assert(exec(e, "SELECT CONNECTION_ID() AS c").df.get.as[Long].head() > 0)

    // LAST_INSERT_ID(): 0 before any insert, then the FIRST id the
    // most recent auto-inc statement assigned (MySQL batch rule)
    assert(exec(e, "SELECT LAST_INSERT_ID() AS l").df.get.as[Long].head() === 0L)
    exec(e, "CREATE TABLE li (id BIGINT NOT NULL AUTO_INCREMENT, v STRING, PRIMARY KEY (id))")
    exec(e, "INSERT INTO li (v) VALUES ('a'), ('b')")
    assert(exec(e, "SELECT LAST_INSERT_ID() AS l").df.get.as[Long].head() === 1L)
    exec(e, "INSERT INTO li (v) VALUES ('c')")
    assert(exec(e, "SELECT LAST_INSERT_ID() AS l").df.get.as[Long].head() === 3L)

    // SHOW VARIABLES answers stock defaults under the session overlay
    assert(exec(e, "SHOW VARIABLES LIKE 'max_allowed_packet'")
      .df.get.collect().head.getString(1) === "67108864")
    assert(exec(e, "SHOW SESSION VARIABLES LIKE 'wait_timeout'").df.get.count() === 1)

    // SHOW [FULL] TABLES FROM <db> scopes to that database
    exec(e, "CREATE DATABASE otherdb")
    exec(e, "CREATE TABLE otherdb.ot (a INT)")
    assert(exec(e, "SHOW TABLES FROM otherdb").df.get.as[String].collect()
      .toSeq === Seq("ot"))
    assert(exec(e, "SHOW FULL TABLES IN otherdb").df.get.collect()
      .head.toSeq === Seq("ot", "BASE TABLE"))

    // diagnostics area: always-empty warnings/errors, a root grant row
    assert(exec(e, "SHOW WARNINGS").df.get.count() === 0)
    assert(exec(e, "SHOW ERRORS LIMIT 10").df.get.count() === 0)
    assert(exec(e, "SHOW COUNT(*) WARNINGS").df.get.as[Int].head() === 0)
    assert(exec(e, "SHOW GRANTS").df.get.as[String].head()
      .startsWith("GRANT ALL PRIVILEGES"))
  }

  test("UPDATE/DELETE ORDER BY LIMIT: the batched-DML shape") {
    val e = new Engine(spark, tmpDir("router_dmllimit"))
    exec(e, "CREATE TABLE bd (id BIGINT PRIMARY KEY, v INT)")
    exec(e, "INSERT INTO bd VALUES (1,10), (2,20), (3,30), (4,40), (5,50)")

    // DELETE the two smallest by v
    val d = exec(e, "DELETE FROM bd ORDER BY v LIMIT 2")
    assert(d.affected === 2)
    assert(exec(e, "SELECT id FROM bd ORDER BY id").df.get.as[Long].collect()
      .toSeq === Seq(3L, 4L, 5L))
    // WHERE + DESC + LIMIT + RETURNING: the deleted images come back
    val d2 = exec(e, "DELETE FROM bd WHERE v > 25 ORDER BY v DESC LIMIT 1 RETURNING id, v")
    assert(d2.df.get.as[(Long, Int)].collect().toSeq === Seq((5L, 50)))
    assert(exec(e, "SELECT count(*) FROM bd").df.get.as[Long].head() === 2)

    // UPDATE the largest remaining row only
    val u = exec(e, "UPDATE bd SET v = v + 1 ORDER BY v DESC LIMIT 1")
    assert(u.affected === 1)
    assert(exec(e, "SELECT v FROM bd ORDER BY id").df.get.as[Int].collect()
      .toSeq === Seq(30, 41))
    // LIMIT without ORDER BY: some single row updates
    val u2 = exec(e, "UPDATE bd SET v = 0 LIMIT 1")
    assert(u2.affected === 1)
    assert(exec(e, "SELECT count(*) FROM bd WHERE v = 0").df.get.as[Long].head() === 1)

    // garbage tails are refused loudly, never silently dropped (an
    // unrecognized tail is not a single-table DELETE — it falls
    // through and Catalyst rejects it)
    intercept[Exception] {
      exec(e, "DELETE FROM bd SOMETHING ELSE")
    }
    intercept[IllegalArgumentException] {
      exec(e, "UPDATE bd SET v = 1 LIMIT 1 OFFSET 2")
    }
  }

  test("SET autocommit drives the implicit-transaction lifecycle") {
    val e = new Engine(spark, tmpDir("router_autocommit"))
    exec(e, "CREATE TABLE ac (id BIGINT PRIMARY KEY, v INT)")

    // autocommit=0 opens an implicit txn; ROLLBACK discards staged DML
    // and immediately reopens one
    exec(e, "SET autocommit = 0")
    assert(e.inTransaction)
    exec(e, "INSERT INTO ac VALUES (1, 10)")
    exec(e, "ROLLBACK")
    assert(exec(e, "SELECT count(*) FROM ac").df.get.as[Long].head() === 0)
    assert(e.inTransaction) // fresh implicit txn
    exec(e, "INSERT INTO ac VALUES (2, 20)")
    exec(e, "COMMIT")
    assert(exec(e, "SELECT count(*) FROM ac").df.get.as[Long].head() === 1)

    // BEGIN under an open implicit txn commits it first (MySQL rule)
    exec(e, "INSERT INTO ac VALUES (3, 30)")
    exec(e, "BEGIN")
    exec(e, "ROLLBACK") // rolls back ONLY the explicit txn's (empty) work
    assert(exec(e, "SELECT count(*) FROM ac").df.get.as[Long].head() === 2)

    // autocommit=1 commits whatever is open and ends the lifecycle
    exec(e, "INSERT INTO ac VALUES (4, 40)")
    exec(e, "SET autocommit = 1")
    assert(!e.inTransaction)
    assert(exec(e, "SELECT count(*) FROM ac").df.get.as[Long].head() === 3)
    exec(e, "COMMIT") // plain no-op again
    assert(!e.inTransaction)

    intercept[IllegalArgumentException] {
      exec(e, "SET autocommit = maybe")
    }
  }

  test("review round-9 regressions: generated-col RETURNING, quoted OUTFILE, qualified SET keys") {
    val e = new Engine(spark, tmpDir("router_r9rev"))

    // staged UPDATE ... RETURNING recomputes generated columns — the
    // returned value must be the stored post-SET derivation
    exec(e, "CREATE TABLE gc (id BIGINT PRIMARY KEY, a INT, g INT GENERATED ALWAYS AS (a + 1) STORED)")
    exec(e, "INSERT INTO gc (id, a) VALUES (1, 10)")
    val r = exec(e, "UPDATE gc SET a = 5 WHERE id = 1 RETURNING g")
    assert(r.df.get.as[Int].head() === 6)
    assert(exec(e, "SELECT g FROM gc WHERE id = 1").df.get.as[Int].head() === 6)

    // 'INTO OUTFILE' inside a DOUBLE-quoted MySQL string literal stays
    // inert (default mode: double quotes are strings)
    val lit2 = exec(e, "SELECT \"see INTO OUTFILE '/tmp/nope' docs\" AS s").df.get
    assert(lit2.as[String].head() === "see INTO OUTFILE '/tmp/nope' docs")

    // qualified SET keys: non-PK updates apply (never silently
    // dropped), PK updates route to the classic arm and work
    exec(e, "CREATE TABLE qk (id BIGINT PRIMARY KEY, v STRING)")
    exec(e, "INSERT INTO qk VALUES (1, 'a')")
    exec(e, "UPDATE qk SET qk.v = 'b' WHERE id = 1")
    assert(exec(e, "SELECT v FROM qk WHERE id = 1").df.get.as[String].head() === "b")
    val rq = exec(e, "UPDATE qk SET qk.id = 2 WHERE id = 1 RETURNING id")
    assert(rq.df.get.as[Long].head() === 2L)
    assert(exec(e, "SELECT id FROM qk").df.get.as[Long].head() === 2L)
    // ...and an unknown SET column is refused loudly, not ignored
    intercept[IllegalArgumentException] {
      exec(e, "UPDATE qk SET nope = 1 WHERE id = 2")
    }

    // ANSI_QUOTES with a backslash-escaped quote inside a string: the
    // literal survives, the double-quoted span still folds
    exec(e, "SET sql_mode = 'ANSI_QUOTES'")
    val s2 = exec(e, "SELECT 'don\\'t say \"v\"' AS x, \"v\" AS y FROM (SELECT 'col' AS v)")
      .df.get.as[(String, String)].head()
    assert(s2 === (("don't say \"v\"", "col")))
    exec(e, "SET sql_mode = ''")
  }

  test("MariaDB INSERT ... ON DUPLICATE KEY UPDATE ... RETURNING answers post-images") {
    val e = new Engine(spark, tmpDir("router_odkuret"))
    exec(e, "CREATE TABLE mo (id BIGINT PRIMARY KEY, v STRING, hits INT)")
    exec(e, "INSERT INTO mo VALUES (1, 'a', 10)")

    val r = exec(e, "INSERT INTO mo VALUES (1, 'x', 5), (2, 'b', 20) " +
      "ON DUPLICATE KEY UPDATE hits = hits + VALUES(hits) RETURNING id, v, hits")
    assert(r.df.get.as[(Long, String, Int)].collect().sortBy(_._1).toSeq
      === Seq((1L, "a", 15), (2L, "b", 20)))
    assert(exec(e, "SELECT hits FROM mo WHERE id = 1").df.get.as[Int].head() === 15)

    // the INSERT ... SET sugar with ODKU + RETURNING re-routes too
    val r2 = exec(e, "INSERT INTO mo SET id = 2, v = 'c', hits = 7 " +
      "ON DUPLICATE KEY UPDATE v = VALUES(v) RETURNING id, v, hits")
    assert(r2.df.get.as[(Long, String, Int)].collect().toSeq
      === Seq((2L, "c", 20)))
  }

  test("ANSI_QUOTES sql_mode flips double-quote lexing per session") {
    val e = new Engine(spark, tmpDir("router_ansiq"))
    exec(e, "CREATE TABLE aq (id BIGINT PRIMARY KEY, v STRING)")
    exec(e, "INSERT INTO aq VALUES (1, 'str')")

    // default MySQL mode: "v" is a STRING literal
    assert(exec(e, "SELECT \"v\" AS x FROM aq").df.get.as[String].head() === "v")

    // same statement under ANSI_QUOTES: "v" is the COLUMN
    exec(e, "SET sql_mode = 'ANSI_QUOTES'")
    assert(exec(e, "SELECT \"v\" AS x FROM aq").df.get.as[String].head() === "str")

    // quoted identifiers route through DDL/DML like backticks do
    exec(e, "CREATE TABLE \"Qt\" (\"Id\" BIGINT PRIMARY KEY, \"Val\" STRING)")
    assert(e.listTables().exists(_.equalsIgnoreCase("Qt")))
    exec(e, "INSERT INTO \"Qt\" VALUES (1, 'x')")
    assert(exec(e, "SELECT \"Val\" AS w FROM \"Qt\"").df.get.as[String].head() === "x")
    exec(e, "UPDATE \"Qt\" SET \"Val\" = 'y' WHERE \"Id\" = 1")
    assert(exec(e, "SELECT \"Val\" AS w FROM \"Qt\"").df.get.as[String].head() === "y")

    // composite 'ANSI' mode carries ANSI_QUOTES; resetting restores
    // MySQL string lexing
    exec(e, "SET sql_mode = 'ANSI'")
    assert(exec(e, "SELECT \"v\" AS x FROM aq").df.get.as[String].head() === "str")
    exec(e, "SET sql_mode = ''")
    assert(exec(e, "SELECT \"v\" AS x FROM aq").df.get.as[String].head() === "v")
  }

  test("advice r8 regressions: returning_ idents, guarded RETURNING, dup-key images, PG TRUNCATE default") {
    val e = new Engine(spark, tmpDir("router_advice9"))

    // an identifier starting with 'returning' is ONE identifier in
    // PG's lexer, never the keyword — the SET list must stay whole
    exec(e, "CREATE TABLE adv (id BIGINT PRIMARY KEY, returning_customer BOOLEAN, n INT)")
    exec(e, "INSERT INTO adv VALUES (1, false, 10)")
    val u = exec(e, "UPDATE adv SET n = 2, returning_customer = true WHERE id = 1")
    assert(u.affected === 1)
    assert(u.df.isEmpty) // no RETURNING clause was parsed
    assert(exec(e, "SELECT returning_customer, n FROM adv WHERE id = 1")
      .df.get.as[(Boolean, Int)].head() === ((true, 2)))

    // guarded DO UPDATE ... WHERE ... RETURNING: only rows actually
    // updated or inserted come back; guard-excluded conflict rows are
    // omitted (PG semantics), not echoed unchanged
    exec(e, "CREATE TABLE g (id BIGINT PRIMARY KEY, n INT)")
    exec(e, "INSERT INTO g VALUES (1, 10), (2, 20)")
    val r = exec(e, "INSERT INTO g VALUES (1, 100), (2, 1), (3, 30) " +
      "ON CONFLICT (id) DO UPDATE SET n = excluded.n WHERE excluded.n > g.n " +
      "RETURNING id, n")
    assert(r.df.get.as[(Long, Int)].collect().sortBy(_._1).toSeq
      === Seq((1L, 100), (3L, 30)))
    assert(exec(e, "SELECT n FROM g WHERE id = 2").df.get.as[Int].head() === 20)

    // duplicate in-batch keys: the RETURNING image condenses with the
    // write path's ordering — DO UPDATE keeps the LAST occurrence
    // (upsertOnDuplicate), DO NOTHING the FIRST (insertIgnoreRows) —
    // so returned values always equal stored rows
    val r2 = exec(e, "INSERT INTO g VALUES (5, 1), (5, 2), (5, 3) " +
      "ON CONFLICT (id) DO UPDATE SET n = excluded.n RETURNING id, n")
    assert(r2.df.get.as[(Long, Int)].collect().toSeq === Seq((5L, 3)))
    assert(exec(e, "SELECT n FROM g WHERE id = 5").df.get.as[Int].head() === 3)
    val r3 = exec(e, "INSERT INTO g VALUES (6, 1), (6, 2) " +
      "ON CONFLICT (id) DO NOTHING RETURNING id, n")
    assert(r3.df.get.as[(Long, Int)].collect().toSeq === Seq((6L, 1)))
    assert(exec(e, "SELECT n FROM g WHERE id = 6").df.get.as[Int].head() === 1)

    // a PG-shaped session (pg_dump preamble SET replayed) flips bare
    // TRUNCATE to PG's default CONTINUE IDENTITY; a fresh engine
    // without that evidence keeps MySQL's reset semantics (covered by
    // the review-regressions test above)
    val e2 = new Engine(spark, tmpDir("router_advice9_pg"))
    exec(e2, "CREATE TABLE pt (id INT NOT NULL AUTO_INCREMENT, v STRING, PRIMARY KEY (id))")
    exec(e2, "SET statement_timeout = 0") // pg_dump preamble line
    exec(e2, "INSERT INTO pt (v) VALUES ('a'), ('b')") // ids 1,2
    exec(e2, "TRUNCATE pt")
    exec(e2, "INSERT INTO pt (v) VALUES ('c')")
    assert(exec(e2, "SELECT id FROM pt").df.get.as[Int].head() === 3)
    // explicit RESTART IDENTITY still resets even under PG evidence
    exec(e2, "TRUNCATE pt RESTART IDENTITY")
    exec(e2, "INSERT INTO pt (v) VALUES ('d')")
    assert(exec(e2, "SELECT id FROM pt").df.get.as[Int].head() === 1)
    // ...and the evidence does not leak into the OTHER engine
    exec(e, "CREATE TABLE mt (id INT NOT NULL AUTO_INCREMENT, v STRING, PRIMARY KEY (id))")
    exec(e, "INSERT INTO mt (v) VALUES ('a'), ('b')")
    exec(e, "TRUNCATE mt")
    exec(e, "INSERT INTO mt (v) VALUES ('c')")
    assert(exec(e, "SELECT id FROM mt").df.get.as[Int].head() === 1)
  }

  test("unique indexes record and serve as ON CONFLICT arbiters") {
    val e = new Engine(spark, tmpDir("router_unique"))
    // mysqldump body form records the column set
    exec(e, "CREATE TABLE u (id BIGINT PRIMARY KEY, email STRING, n INT, " +
      "UNIQUE KEY uq_email (email))")
    assert(e.table("u").uniqueIndexes === Map("uq_email" -> Seq("email")))
    exec(e, "INSERT INTO u VALUES (1, 'a@x', 1), (2, 'b@x', 1)")

    // conflict keyed on the unique column: the existing row KEEPS its
    // primary key (PG semantics — only SET columns change)
    val r = exec(e, "INSERT INTO u VALUES (9, 'a@x', 100), (3, 'c@x', 3) " +
      "ON CONFLICT (email) DO UPDATE SET n = excluded.n RETURNING id, email, n")
    assert(r.df.get.as[(Long, String, Int)].collect().sortBy(_._1).toSeq
      === Seq((1L, "a@x", 100), (3L, "c@x", 3)))
    assert(exec(e, "SELECT id, n FROM u ORDER BY id").df.get
      .as[(Long, Int)].collect().toSeq === Seq((1L, 100), (2L, 1), (3L, 3)))

    // DO NOTHING keyed on the unique column
    val r2 = exec(e, "INSERT INTO u VALUES (10, 'b@x', 5), (4, 'd@x', 4) " +
      "ON CONFLICT (email) DO NOTHING")
    assert(r2.affected === 1)
    assert(exec(e, "SELECT count(*) FROM u").df.get.as[Long].head() === 4)

    // ON CONSTRAINT <name> resolves the recorded index by name
    exec(e, "INSERT INTO u VALUES (11, 'd@x', 40) " +
      "ON CONFLICT ON CONSTRAINT uq_email DO UPDATE SET n = excluded.n")
    assert(exec(e, "SELECT id, n FROM u WHERE email = 'd@x'").df.get
      .as[(Long, Int)].head() === ((4L, 40)))

    // ALTER TABLE ADD CONSTRAINT UNIQUE + CREATE UNIQUE INDEX record;
    // DROP INDEX (both spellings) unrecords; plain INDEX stays dropped
    exec(e, "CREATE TABLE v (id BIGINT PRIMARY KEY, a INT, b INT)")
    exec(e, "ALTER TABLE v ADD CONSTRAINT uq_ab UNIQUE (a, b)")
    assert(e.table("v").uniqueIndexes === Map("uq_ab" -> Seq("a", "b")))
    exec(e, "CREATE UNIQUE INDEX uq_b ON v USING btree (b)")
    assert(e.table("v").uniqueIndexes.keySet === Set("uq_ab", "uq_b"))
    exec(e, "CREATE INDEX plain_a ON v (a)")
    assert(e.table("v").uniqueIndexes.keySet === Set("uq_ab", "uq_b"))
    exec(e, "DROP INDEX uq_b ON v") // MySQL spelling
    exec(e, "DROP INDEX uq_ab")     // PG spelling (scans the db)
    assert(e.table("v").uniqueIndexes.isEmpty)

    // a target that is neither the PK nor a recorded unique set still
    // refuses loudly
    val ex = intercept[IllegalArgumentException](
      exec(e, "INSERT INTO v VALUES (1, 1, 1) ON CONFLICT (a) DO NOTHING"))
    assert(ex.getMessage.contains("recorded unique index"))

    // inline column attribute form
    exec(e, "CREATE TABLE w (id BIGINT PRIMARY KEY, tag STRING UNIQUE)")
    assert(e.table("w").uniqueIndexes === Map("tag_key" -> Seq("tag")))

    // recorded indexes surface through the introspection surfaces
    val idx = exec(e, "SHOW INDEX FROM u").df.get.collect()
      .map(r => (r.getString(1), r.getInt(2), r.getString(3))).toSeq
    assert(idx.contains(("PRIMARY", 1, "id")))
    assert(idx.contains(("uq_email", 1, "email")))
    assert(exec(e,
      """SELECT index_name, column_name FROM information_schema.statistics
        |WHERE table_name = 'u' ORDER BY index_name""".stripMargin)
      .df.get.collect().map(r => (r.getString(0), r.getString(1))).toSeq
      === Seq(("PRIMARY", "id"), ("uq_email", "email")))
    assert(exec(e,
      """SELECT constraint_name FROM information_schema.table_constraints
        |WHERE table_name = 'u' AND constraint_type = 'UNIQUE'""".stripMargin)
      .df.get.collect().map(_.getString(0)).toSeq === Seq("uq_email"))

    // MariaDB-style multi-row exercise through the ODKU-equivalent
    // spelling keeps working against the PK (regression guard)
    exec(e, "INSERT INTO w VALUES (1, 'x') " +
      "ON CONFLICT (id) DO UPDATE SET tag = excluded.tag")
  }

  test("bare-aliased single-table UPDATE/DELETE route without a join") {
    val e = new Engine(spark, tmpDir("router_barealias"))
    exec(e, "CREATE TABLE t (id BIGINT PRIMARY KEY, v INT)")
    exec(e, "INSERT INTO t VALUES (1, 10), (2, 20), (3, 30)")
    // UPDATE t AS x ... with alias-qualified refs everywhere
    val u = exec(e, "UPDATE t AS x SET x.v = x.v + 1 WHERE x.id <= 2")
    assert(u.affected === 2)
    // implicit-alias spelling (no AS)
    val u2 = exec(e, "UPDATE t x SET x.v = 0 WHERE x.id = 3")
    assert(u2.affected === 1)
    assert(exec(e, "SELECT v FROM t ORDER BY id").df.get
      .as[Int].collect().toSeq === Seq(11, 21, 0))
    // DELETE FROM t AS x / bare-alias form
    assert(exec(e, "DELETE FROM t AS x WHERE x.id = 1").affected === 1)
    assert(exec(e, "DELETE FROM t x WHERE x.v = 0").affected === 1)
    assert(exec(e, "SELECT id FROM t").df.get.as[Long].collect().toSeq
      === Seq(2L))
  }

  test("review regressions: dialect-evidence masking, arbiter PK guard, rename follow-through, txn-staged ALTER props") {
    // 1. quoted data and PG's @@ operator never flip the dialect
    val e = new Engine(spark, tmpDir("router_rev10"))
    exec(e, "CREATE TABLE notes (id BIGINT PRIMARY KEY, body STRING)")
    exec(e, "INSERT INTO notes VALUES (1, 'use `code` fences')")
    assert(e.sessionDialect.isEmpty) // backticks inside a literal: data
    val ftProbe = intercept[Exception](
      exec(e, "SELECT * FROM notes WHERE body @@ to_tsquery('x')"))
    assert(e.sessionDialect.isEmpty) // spaced @@ operator: no evidence
    exec(e, "SELECT `id` FROM notes") // backtick-quoted ident: evidence
    assert(e.sessionDialect === Some("mysql"))

    // 2. a novel arbiter value carrying an EXISTING primary key is a
    // PK violation, not a silent duplicate/replace
    exec(e, "CREATE TABLE u (id BIGINT PRIMARY KEY, email STRING, n INT, " +
      "UNIQUE KEY uq_email (email))")
    exec(e, "INSERT INTO u VALUES (1, 'a@x', 1)")
    val pkClash = intercept[IllegalArgumentException](exec(e,
      "INSERT INTO u VALUES (1, 'fresh@x', 9) ON CONFLICT (email) DO NOTHING"))
    assert(pkClash.getMessage.toLowerCase.contains("primary key"))
    val pkClash2 = intercept[IllegalArgumentException](exec(e,
      "INSERT INTO u VALUES (1, 'fresh@x', 9) ON CONFLICT (email) " +
        "DO UPDATE SET n = excluded.n"))
    assert(pkClash2.getMessage.toLowerCase.contains("primary key"))
    // ...and an unknown ON CONSTRAINT name errors like PG
    val badC = intercept[IllegalArgumentException](exec(e,
      "INSERT INTO u VALUES (2, 'b@x', 1) " +
        "ON CONFLICT ON CONSTRAINT orders_pkey DO NOTHING"))
    assert(badC.getMessage.contains("does not exist"))
    // the auto-named PK constraint of THIS table still resolves
    exec(e, "INSERT INTO u VALUES (2, 'b@x', 1) " +
      "ON CONFLICT ON CONSTRAINT u_pkey DO NOTHING")

    // 3. renaming a GENERATED column keeps it recomputing (prop key
    // follows the rename)
    exec(e, "CREATE TABLE g (id BIGINT PRIMARY KEY, a DOUBLE, " +
      "tot DOUBLE GENERATED ALWAYS AS (a * 2) STORED)")
    exec(e, "INSERT INTO g (id, a) VALUES (1, 3)")
    exec(e, "ALTER TABLE g RENAME COLUMN tot TO grand")
    exec(e, "UPDATE g SET a = 5 WHERE id = 1")
    assert(exec(e, "SELECT grand FROM g WHERE id = 1").df.get
      .as[Double].head() === 10.0)

    // 4. ALTER ADD's generated/check props stage WITH the column: a
    // rollback removes both, leaving no orphaned enforcement
    exec(e, "CREATE TYPE lvl AS ENUM ('lo', 'hi')")
    exec(e, "BEGIN")
    exec(e, "ALTER TABLE g ADD COLUMN l lvl")
    exec(e, "ROLLBACK")
    assert(!e.table("g").schema.fieldNames.contains("l"))
    assert(!e.table("g").manifest.props.contains("check.enum_l"))
    exec(e, "INSERT INTO g (id, a) VALUES (2, 1)") // no orphan check fires

    // 5. online-DDL DROP INDEX tails stay accepted
    exec(e, "DROP INDEX uq_email ON u ALGORITHM=INPLACE LOCK=NONE")
    assert(e.table("u").uniqueIndexes.isEmpty)

    // 6. row alias whose column alias shadows a real column: the SET
    // target stays the real column
    exec(e, "CREATE TABLE ra (id BIGINT PRIMARY KEY, a INT)")
    exec(e, "INSERT INTO ra VALUES (1, 10)")
    exec(e, "INSERT INTO ra (id, a) VALUES (1, 5) AS n(nid, a) " +
      "ON DUPLICATE KEY UPDATE a = a + 100")
    // bare `a` in the RHS is the COLUMN ALIAS (incoming 5) + 100
    assert(exec(e, "SELECT a FROM ra WHERE id = 1").df.get
      .as[Int].head() === 105)
  }

  test("SHOW CREATE TABLE round-trips the FULL constraint surface") {
    val e = new Engine(spark, tmpDir("router_showcreate_full"))
    exec(e, "CREATE TABLE rt (id BIGINT NOT NULL AUTO_INCREMENT, " +
      "email STRING, sc DOUBLE DEFAULT 1.5, " +
      "tot DOUBLE GENERATED ALWAYS AS (sc * 2) STORED, " +
      "PRIMARY KEY (id), UNIQUE KEY uq_e (email), " +
      "CONSTRAINT pos_sc CHECK (sc >= 0))")
    // inline CHECK recorded at CREATE (mysqldump 8 emits this form)
    assert(e.table("rt").manifest.props("check.pos_sc") === "sc >= 0")
    intercept[Exception](
      exec(e, "INSERT INTO rt (email, sc) VALUES ('x@x', -1)"))
    exec(e, "INSERT INTO rt (email, sc) VALUES ('a@x', 2)") // id 1

    val (_, ddl) = exec(e, "SHOW CREATE TABLE rt").df.get
      .as[(String, String)].head()
    assert(ddl.contains("AUTO_INCREMENT") &&
      ddl.contains("UNIQUE KEY uq_e (email)") &&
      ddl.contains("CONSTRAINT pos_sc CHECK (sc >= 0)") &&
      ddl.contains("GENERATED ALWAYS AS (sc * 2) STORED") &&
      ddl.contains("DEFAULT 1.5"))

    // replaying the rendered DDL restores BEHAVIOR, not just shape
    exec(e, ddl.replace("CREATE TABLE rt", "CREATE TABLE rt2"))
    val t2 = e.table("rt2")
    assert(t2.manifest.pkCols === Seq("id"))
    assert(t2.uniqueIndexes === Map("uq_e" -> Seq("email")))
    assert(t2.manifest.props("check.pos_sc") === "sc >= 0")
    assert(t2.manifest.props("generated.tot") === "sc * 2")
    assert(t2.manifest.props("default.sc") === "1.5")
    // counter continuity via the AUTO_INCREMENT= table option
    exec(e, "INSERT INTO rt2 (email, sc) VALUES ('b@x', 3)")
    assert(exec(e, "SELECT id, tot FROM rt2").df.get
      .as[(Long, Double)].head() === ((2L, 6.0)))
    // the check enforces on the replayed table too
    intercept[Exception](
      exec(e, "INSERT INTO rt2 (email, sc) VALUES ('c@x', -9)"))
    // and the unique index arbitrates
    exec(e, "INSERT INTO rt2 (id, email, sc) VALUES (50, 'b@x', 7) " +
      "ON CONFLICT (email) DO UPDATE SET sc = excluded.sc")
    assert(exec(e, "SELECT id, sc FROM rt2 WHERE email = 'b@x'").df.get
      .as[(Long, Double)].head() === ((2L, 7.0)))
  }

  test("SHOW CREATE replays the identity FLAVOR (serial stays PG-strict)") {
    // r15: serial / GENERATED BY DEFAULT record identity.<col> =
    // by_default so (a) SHOW CREATE replays the PG spelling instead of
    // degrading to AUTO_INCREMENT and (b) the replayed column keeps
    // PG's explicit-NULL-raises semantics (the MySQL NULL-assign
    // rewrite must not adopt it)
    val e = new Engine(spark, tmpDir("router_showcreate_ident"))
    exec(e, "CREATE TABLE si (id BIGSERIAL, v STRING, PRIMARY KEY (id))")
    val (_, ddl) = exec(e, "SHOW CREATE TABLE si").df.get
      .as[(String, String)].head()
    assert(ddl.contains("GENERATED BY DEFAULT AS IDENTITY"),
      s"serial must replay as PG identity, got: $ddl")
    exec(e, ddl.replace("CREATE TABLE si", "CREATE TABLE si2"))
    exec(e, "INSERT INTO si2 (v) VALUES ('a')")
    intercept[Exception](exec(e, "INSERT INTO si2 VALUES (NULL, 'x')"))
    assert(exec(e, "SELECT count(*) FROM si2").df.get.as[Long].head() === 1L)
  }

  test("pg_dump metadata-only ALTERs accept; partition attach stays loud") {
    val e = new Engine(spark, tmpDir("router_metaalter"))
    exec(e, "CREATE TABLE pt (id BIGINT PRIMARY KEY, v STRING)")
    // the knob surface pg_dump emits for tuned tables — none of these
    // may abort a restore
    exec(e, "ALTER TABLE ONLY pt REPLICA IDENTITY FULL")
    exec(e, "ALTER TABLE pt VALIDATE CONSTRAINT some_fk")
    exec(e, "ALTER TABLE ONLY pt ALTER COLUMN v SET STATISTICS 1000")
    exec(e, "ALTER TABLE pt ALTER COLUMN v SET STORAGE EXTERNAL")
    exec(e, "ALTER TABLE pt SET (fillfactor = 70)")
    exec(e, "ALTER TABLE pt DISABLE TRIGGER ALL")
    exec(e, "ALTER TABLE pt ENABLE ROW LEVEL SECURITY")
    exec(e, "ALTER TABLE pt CLUSTER ON some_idx")
    exec(e, "ALTER TABLE pt SET UNLOGGED")
    // a missing table still errors (the accept arm validates)
    intercept[Exception](exec(e, "ALTER TABLE nope REPLICA IDENTITY FULL"))
    // ATTACH PARTITION on a NON-partitioned table is loud (the
    // partitioned path has its own suite below)
    intercept[Exception](exec(e,
      "ALTER TABLE pt ATTACH PARTITION c FOR VALUES FROM (1) TO (2)"))
    exec(e, "INSERT INTO pt VALUES (1, 'a')")
    assert(exec(e, "SELECT count(*) FROM pt").df.get.as[Long].head() === 1)
  }

  test("PG user types: CREATE TYPE AS ENUM / CREATE DOMAIN / extension DDL replay") {
    val e = new Engine(spark, tmpDir("router_usertypes"))
    // the pg_dump preamble lines that used to abort a replay
    exec(e, "CREATE EXTENSION IF NOT EXISTS plpgsql WITH SCHEMA pg_catalog")
    exec(e, "COMMENT ON EXTENSION plpgsql IS 'PL/pgSQL procedural language'")

    exec(e, "CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')")
    exec(e, "CREATE DOMAIN posint AS integer")
    exec(e, "CREATE TABLE moods (id BIGINT PRIMARY KEY, m mood, n posint)")
    exec(e, "INSERT INTO moods VALUES (1, 'happy', 5), (2, NULL, 7)")
    assert(exec(e, "SELECT m FROM moods WHERE id = 1").df.get
      .as[String].head() === "happy")
    // the enum's value set enforces through the CHECK machinery
    intercept[Exception](exec(e, "INSERT INTO moods VALUES (3, 'angry', 1)"))
    // the domain resolved to its base type at column creation
    assert(e.table("moods").schema("n").dataType ===
      org.apache.spark.sql.types.IntegerType)

    // DROP TYPE: gone-ness errors without IF EXISTS; columns already
    // typed keep their storage type and check
    exec(e, "DROP TYPE mood CASCADE")
    intercept[IllegalArgumentException](exec(e, "DROP TYPE mood"))
    exec(e, "DROP TYPE IF EXISTS mood")
    intercept[Exception](exec(e, "INSERT INTO moods VALUES (3, 'angry', 1)"))

    // ALTER ADD with a user enum type records the check too
    exec(e, "CREATE TYPE shirt_size AS ENUM ('s', 'm', 'l')")
    exec(e, "ALTER TABLE moods ADD COLUMN sz shirt_size")
    exec(e, "INSERT INTO moods VALUES (4, NULL, 1, 'm')")
    intercept[Exception](
      exec(e, "INSERT INTO moods VALUES (5, NULL, 1, 'xl')"))
    assert(exec(e, "SELECT count(*) FROM moods").df.get.as[Long].head() === 3)
  }

  test("MySQL 8.0.19 row-alias ODKU and maintenance statements") {
    val e = new Engine(spark, tmpDir("router_rowalias"))
    exec(e, "CREATE TABLE t (id BIGINT PRIMARY KEY, a INT, b INT)")
    exec(e, "INSERT INTO t VALUES (1, 10, 100)")

    // plain row alias: alias.col is the incoming row (the modern
    // replacement for the deprecated VALUES(col))
    val r = exec(e, "INSERT INTO t VALUES (1, 20, 200), (2, 2, 2) AS new " +
      "ON DUPLICATE KEY UPDATE a = new.a, b = b + new.b")
    assert(r.affected === 3) // 2 per update + 1 per insert
    assert(exec(e, "SELECT a, b FROM t WHERE id = 1").df.get
      .as[(Int, Int)].head() === ((20, 300)))
    assert(exec(e, "SELECT a, b FROM t WHERE id = 2").df.get
      .as[(Int, Int)].head() === ((2, 2)))

    // column aliases: bare alias names map positionally onto the
    // insert column list; alias.colAlias works too
    exec(e, "INSERT INTO t (id, a, b) VALUES (1, 7, 70) AS new(nid, na, nb) " +
      "ON DUPLICATE KEY UPDATE a = na, b = new.nb")
    assert(exec(e, "SELECT a, b FROM t WHERE id = 1").df.get
      .as[(Int, Int)].head() === ((7, 70)))
    // a string literal containing ' AS new' stays inert
    exec(e, "INSERT INTO t VALUES (5, 1, 1) " +
      "ON DUPLICATE KEY UPDATE a = a") // control: no alias parsed
    assert(exec(e, "SELECT count(*) FROM t").df.get.as[Long].head() === 3)

    // maintenance statements (mysqldump/mysqlcheck surface)
    exec(e, "FLUSH PRIVILEGES")
    exec(e, "FLUSH LOCAL LOGS")
    exec(e, "KILL QUERY 42")
    val chk = exec(e, "CHECK TABLE t").df.get.collect()
    assert(chk.length === 1)
    assert(chk.head.getString(2) === "status" && chk.head.getString(3) === "OK")
    val cs1 = exec(e, "CHECKSUM TABLE t").df.get.collect().head.getLong(1)
    assert(cs1 === exec(e, "CHECKSUM TABLE t").df.get.collect().head.getLong(1))
    exec(e, "INSERT INTO t VALUES (9, 9, 9)")
    assert(exec(e, "CHECKSUM TABLE t").df.get.collect().head.getLong(1) !== cs1)
    // missing table errors loudly, like the real server
    intercept[Exception](exec(e, "CHECK TABLE nope"))
  }

  test("join-UPDATE multi-match collapse records a SHOW WARNINGS note") {
    val e = new Engine(spark, tmpDir("router_fanout"))
    exec(e, "CREATE TABLE t (id BIGINT PRIMARY KEY, v INT)")
    exec(e, "CREATE TABLE m (mid BIGINT, tid BIGINT, dv INT)")
    exec(e, "INSERT INTO t VALUES (1, 0), (2, 0)")
    // two match rows for tid=1 — the collapse picks one, unspecified
    exec(e, "INSERT INTO m VALUES (10, 1, 5), (11, 1, 7), (12, 2, 9)")
    val r = exec(e, "UPDATE t JOIN m ON t.id = m.tid SET t.v = m.dv")
    assert(r.affected === 2)
    val warn = exec(e, "SHOW WARNINGS").df.get.collect()
    assert(warn.length === 1)
    assert(warn.head.getString(0) === "Note")
    assert(warn.head.getString(2).contains("join matches collapsed"))
    assert(exec(e, "SHOW COUNT(*) WARNINGS").df.get.as[Int].head() === 1)
    // the surviving value is one of the match rows' values
    val v1 = exec(e, "SELECT v FROM t WHERE id = 1").df.get.as[Int].head()
    assert(v1 === 5 || v1 === 7)
    assert(exec(e, "SELECT v FROM t WHERE id = 2").df.get.as[Int].head() === 9)
    // a unique join leaves the diagnostics area clean (cleared by the
    // next non-SHOW statement, and no new note recorded)
    exec(e, "UPDATE t JOIN m ON t.id = m.tid AND m.mid = 12 SET t.v = 1")
    assert(exec(e, "SHOW WARNINGS").df.get.collect().isEmpty)
  }

  test("session dialect flag: latest evidence wins and flips mid-session") {
    val e = new Engine(spark, tmpDir("router_dialect"))
    assert(e.sessionDialect.isEmpty)
    exec(e, "CREATE TABLE dt (id INT NOT NULL AUTO_INCREMENT, v STRING, PRIMARY KEY (id))")

    // backtick identifiers are decisive MySQL evidence
    exec(e, "INSERT INTO `dt` (v) VALUES ('a'), ('b')") // ids 1,2
    assert(e.sessionDialect === Some("mysql"))
    exec(e, "TRUNCATE dt") // MySQL default: RESTART identity
    exec(e, "INSERT INTO dt (v) VALUES ('c')")
    assert(exec(e, "SELECT id FROM dt").df.get.as[Int].head() === 1)

    // a PG tool takes over: SET x TO y spelling flips the flag, and
    // bare TRUNCATE now preserves the sequence (CONTINUE IDENTITY)
    exec(e, "SET search_path TO public")
    assert(e.sessionDialect === Some("pg"))
    exec(e, "TRUNCATE dt")
    exec(e, "INSERT INTO dt (v) VALUES ('d')")
    assert(exec(e, "SELECT id FROM dt").df.get.as[Int].head() === 2)

    // ...and back: SET NAMES is MySQL connect-time, flag flips again
    exec(e, "SET NAMES utf8mb4")
    assert(e.sessionDialect === Some("mysql"))
    exec(e, "TRUNCATE dt")
    exec(e, "INSERT INTO dt (v) VALUES ('e')")
    assert(exec(e, "SELECT id FROM dt").df.get.as[Int].head() === 1)

    // nested BEGIN keys on the same flag: MySQL implicitly commits the
    // open transaction, PG warns and keeps it
    exec(e, "BEGIN")
    exec(e, "INSERT INTO dt (v) VALUES ('f')")
    exec(e, "BEGIN") // mysql: commits the insert, opens a fresh txn
    exec(e, "ROLLBACK")
    assert(exec(e, "SELECT count(*) FROM dt").df.get.as[Long].head() === 2)

    exec(e, "SET statement_timeout = 0") // pg evidence
    exec(e, "BEGIN")
    exec(e, "INSERT INTO dt (v) VALUES ('g')")
    exec(e, "BEGIN") // pg: warn-and-ignore, txn stays open
    exec(e, "ROLLBACK")
    assert(exec(e, "SELECT count(*) FROM dt").df.get.as[Long].head() === 2)

    // statements with no unambiguous marker leave the flag untouched
    exec(e, "SELECT 1")
    assert(e.sessionDialect === Some("pg"))

    // VERSION() follows the dialect (every client banner reads it)
    assert(exec(e, "SELECT version() AS v").df.get.as[String].head()
      .startsWith("PostgreSQL 15.0"))
    exec(e, "SET NAMES utf8mb4")
    assert(exec(e, "SELECT VERSION() AS v").df.get.as[String].head()
      === "8.0.33")
  }

  test("alias-HAVING rewrite: non-whitelisted aggregates stay native, single-pass inline") {
    // count_if is an aggregate the old name-blacklist missed: the
    // expansion must NOT inline into WHERE (round-10 advice)
    val kept = SqlRouter.rewriteAliasHaving(
      "SELECT count_if(x > 0) AS n FROM t HAVING n > 5")
    assert(kept === "SELECT count_if(x > 0) AS n FROM t HAVING n > 5")
    // unknown call heads (UDAFs) likewise stay native
    assert(SqlRouter.rewriteAliasHaving(
      "SELECT my_udaf(x) AS n FROM t HAVING n > 5")
      .contains("HAVING"))
    // scalar-whitelisted expansions still rewrite (the Connector/J shape)
    val rw = SqlRouter.rewriteAliasHaving(
      "SELECT upper(c) AS tag FROM t HAVING tag IN ('A','B')")
    assert(rw.contains("WHERE ((upper(c)) IN ('A','B'))") && !rw.toUpperCase.contains("HAVING"))
    // single pass: alias `b` referenced in HAVING expands once; the
    // word `a` INSIDE b's expansion must not be re-substituted even
    // though `a` is also a select-list alias
    val chained = SqlRouter.rewriteAliasHaving(
      "SELECT x AS a, a + 1 AS b FROM t HAVING b > 5")
    assert(chained.contains("WHERE ((a + 1) > 5)"),
      s"chained alias corrupted: $chained")
    // EXISTS/ANY/SOME are predicate syntax, not aggregates: a
    // condition combining an alias with an EXISTS subquery rewrites
    // (round-11 advice — the old keyword set missed them and fell
    // back to native HAVING, which fails analysis on the alias ref)
    val ex = SqlRouter.rewriteAliasHaving(
      "SELECT upper(c) AS tag FROM t " +
        "HAVING tag = 'A' AND EXISTS (SELECT 1 FROM u)")
    assert(ex.contains("WHERE") && !ex.toUpperCase.contains("HAVING"),
      s"EXISTS blocked the rewrite: $ex")
    // ...but an aggregate INSIDE the subquery still blocks it
    assert(SqlRouter.rewriteAliasHaving(
      "SELECT upper(c) AS tag FROM t " +
        "HAVING tag = 'A' AND EXISTS (SELECT 1 FROM u HAVING count(*) > 2)")
      .contains("HAVING"))
    val anyQ = SqlRouter.rewriteAliasHaving(
      "SELECT upper(c) AS tag FROM t HAVING tag = ANY (SELECT v FROM u)")
    assert(!anyQ.toUpperCase.contains("HAVING"),
      s"ANY blocked the rewrite: $anyQ")
  }

  test("partCache holds at most one live entry per table across commits") {
    val e = new Engine(spark, tmpDir("router_partcache"))
    exec(e, "CREATE TABLE pc (id BIGINT PRIMARY KEY, v STRING)")
    val dir = e.warehouse.resolve(e.currentDatabase).resolve("pc")
    (1 to 5).foreach { i =>
      exec(e, s"INSERT INTO pc VALUES ($i, 'v$i')")
      exec(e, "SELECT count(*) FROM pc") // registration path populates
    }
    import scala.jdk.CollectionConverters._
    val mine = Engine.partCache.keySet.asScala.count(_ == dir)
    assert(mine <= 1, s"partCache grew to $mine entries for one table")
    // drop evicts — a recreated dir never reads a stale children list
    exec(e, "DROP TABLE pc")
    assert(!Engine.partCache.containsKey(dir))
  }

  test("partial unique index is NOT recorded as a total arbiter") {
    val e = new Engine(spark, tmpDir("router_partial_uq"))
    exec(e, "CREATE TABLE t (id BIGINT PRIMARY KEY, email STRING, active BOOLEAN)")
    exec(e, "CREATE UNIQUE INDEX uq_act ON t (email) WHERE active")
    assert(e.table("t").uniqueArbiters.isEmpty,
      "a WHERE-tailed (partial) index must stay accepted-and-dropped")
    // benign tails still record
    exec(e, "CREATE UNIQUE INDEX uq_em ON t USING btree (email) TABLESPACE ts1")
    assert(e.table("t").uniqueArbiters("uq_em") === Seq("email"))
  }

  test("expression-arbiter hardening: prefix-length entries strip, quoted columns stay plain") {
    val e = new Engine(spark, tmpDir("router_arb_hard"))
    // mysqldump body: `UNIQUE KEY uq (email(10))` parses as a CALL, so
    // the body-time Try(expr) check passed it — the post-create
    // re-analysis must strip it (accepted-and-dropped, never a bogus
    // arbiter that fails at DML time)
    exec(e, "CREATE TABLE t (id BIGINT PRIMARY KEY, email STRING, " +
      "UNIQUE KEY uq (email(10)))")
    assert(e.table("t").uniqueArbiters.isEmpty,
      s"prefix-length entry recorded: ${e.table("t").uniqueArbiters}")
    // ...while a resolving expression entry in the SAME position stays
    exec(e, "CREATE TABLE t2 (id BIGINT PRIMARY KEY, email STRING, " +
      "UNIQUE KEY uq2 ((lower(email))))")
    assert(e.table("t2").uniqueArbiters("uq2") === Seq("lower(email)"))
    // recorded expression text is Spark SQL, where `\` escapes inside a
    // literal: `'\')'` is ONE literal, so its `)` closes nothing
    exec(e, "CREATE TABLE t5 (id BIGINT PRIMARY KEY, email STRING, " +
      "UNIQUE KEY uq5 ((concat(email, '\\')')), id))")
    assert(e.table("t5").uniqueArbiters("uq5") ===
      Seq("concat(email, '\\')')", "id"))
    // a quoted plain column records as the bare column, not as an
    // expression — selectExpr would read `"Email"` as a string LITERAL
    // and arbiter-join on a constant (the silent worst case)
    exec(e, "CREATE TABLE t3 (id BIGINT PRIMARY KEY, \"Email\" STRING)")
    exec(e, "CREATE UNIQUE INDEX uq3 ON t3 (\"Email\")")
    assert(e.table("t3").uniqueArbiters("uq3") === Seq("Email"))
    // mixed list: the quoted plain column normalizes bare at record
    // time; the expression rides alongside
    exec(e, "CREATE TABLE t4 (id BIGINT PRIMARY KEY, tenant STRING, " +
      "email STRING)")
    exec(e, "CREATE UNIQUE INDEX uq4 ON t4 (\"tenant\", lower(email))")
    assert(e.table("t4").uniqueArbiters("uq4") === Seq("tenant", "lower(email)"))
    // ...and the arbiter actually works: same (tenant, lower(email))
    // resolves the conflict instead of inserting a duplicate
    exec(e, "INSERT INTO t4 VALUES (1, 'acme', 'A@x.com')")
    exec(e, "INSERT INTO t4 VALUES (2, 'acme', 'a@X.COM') " +
      "ON CONFLICT ON CONSTRAINT uq4 DO UPDATE SET email = excluded.email")
    assert(exec(e, "SELECT count(*) FROM t4").df.get.as[Long].head() === 1L)
    assert(exec(e, "SELECT email FROM t4").df.get.as[String].head()
      === "a@X.COM")
    // two different tenants, same email: NO conflict (a constant-key
    // arbiter join would wrongly collapse these)
    exec(e, "INSERT INTO t4 VALUES (3, 'globex', 'a@x.com') " +
      "ON CONFLICT ON CONSTRAINT uq4 DO UPDATE SET email = excluded.email")
    assert(exec(e, "SELECT count(*) FROM t4").df.get.as[Long].head() === 2L)
  }

  test("PG LOCK TABLE on a table named *_tables does not flip the dialect") {
    val e = new Engine(spark, tmpDir("router_lock_dialect"))
    exec(e, "CREATE TABLE audit_tables (id INT)")
    exec(e, "BEGIN")
    exec(e, "LOCK TABLE audit_tables IN EXCLUSIVE MODE")
    assert(e.sessionDialect !== Some("mysql"),
      "substring TABLES must not count as MySQL evidence")
    exec(e, "ROLLBACK")
    exec(e, "LOCK TABLES audit_tables READ") // the real MySQL statement
    assert(e.sessionDialect === Some("mysql"))
    exec(e, "UNLOCK TABLES")
  }

  test("ALTER TABLE IF EXISTS <missing> metadata knob never aborts a restore") {
    val e = new Engine(spark, tmpDir("router_ifexists_meta"))
    // pg_dump --if-exists emits these against tables a selective
    // restore may not have created
    exec(e, "ALTER TABLE IF EXISTS nope REPLICA IDENTITY FULL")
    exec(e, "CREATE TABLE t (id INT)")
    exec(e, "ALTER TABLE IF EXISTS t REPLICA IDENTITY FULL")
    intercept[Exception] {
      exec(e, "ALTER TABLE nope2 REPLICA IDENTITY FULL") // no IF EXISTS: loud
    }
  }

  test("non-PK arbiter: in-batch rows with distinct arbiter values but one PK violate") {
    val e = new Engine(spark, tmpDir("router_arb_pkdup"))
    exec(e, "CREATE TABLE t (id BIGINT PRIMARY KEY, email STRING, n INT, " +
      "UNIQUE KEY uq_em (email))")
    exec(e, "INSERT INTO t VALUES (1, 'a@x', 1)")
    val ex = intercept[Exception] {
      exec(e, "INSERT INTO t VALUES (7, 'b@x', 1), (7, 'c@x', 1) " +
        "ON CONFLICT (email) DO NOTHING")
    }
    assert(ex.getMessage.toLowerCase.contains("primary key"))
  }

  test("expression arbiters: lower(email) records, keys upserts, renames, round-trips") {
    val e = new Engine(spark, tmpDir("router_expr_arb"))
    exec(e, "CREATE TABLE t (id BIGINT PRIMARY KEY, email STRING, hits INT)")
    exec(e, "CREATE UNIQUE INDEX uq_lower ON t (lower(email))")
    assert(e.table("t").uniqueArbiters("uq_lower") === Seq("lower(email)"))
    exec(e, "INSERT INTO t VALUES (1, 'Ann@X.com', 1), (2, 'bo@y.com', 1)")
    // DO UPDATE keyed on the expression: 'ANN@x.COM' collides with row 1
    exec(e, "INSERT INTO t VALUES (10, 'ANN@x.COM', 5), (11, 'cy@z.io', 7) " +
      "ON CONFLICT (lower(email)) DO UPDATE SET hits = hits + excluded.hits")
    assert(exec(e, "SELECT id, hits FROM t ORDER BY id").df.get
      .as[(Long, Int)].collect() === Array((1L, 6), (2L, 1), (11L, 7)))
    // DO NOTHING via ON CONSTRAINT name resolution
    exec(e, "INSERT INTO t VALUES (20, 'BO@Y.COM', 9), (21, 'dee@w.net', 9) " +
      "ON CONFLICT ON CONSTRAINT uq_lower DO NOTHING")
    assert(exec(e, "SELECT count(*) FROM t").df.get.as[Long].head() === 4)
    // a MySQL prefix-length form still drops (no bogus arbiter)
    exec(e, "CREATE UNIQUE INDEX uq_pre ON t (email(5))")
    assert(!e.table("t").uniqueArbiters.contains("uq_pre"))
    // RENAME COLUMN rewrites the recorded expression text
    exec(e, "ALTER TABLE t RENAME COLUMN email TO mail")
    assert(e.table("t").uniqueArbiters("uq_lower") === Seq("lower(mail)"))
    // SHOW CREATE renders the functional index and the replay keeps it
    val ddl = exec(e, "SHOW CREATE TABLE t").df.get.collect()(0).getString(1)
    assert(ddl.contains("UNIQUE KEY uq_lower ((lower(mail)))"), ddl)
    exec(e, ddl.replace("CREATE TABLE t", "CREATE TABLE t2"))
    assert(e.table("t2").uniqueArbiters("uq_lower") === Seq("lower(mail)"))
  }

  test("explicit ids through the merge path advance the auto-inc counter") {
    // MySQL advances the counter past ANY explicitly inserted id,
    // including rows written by REPLACE / ON DUPLICATE KEY UPDATE /
    // ON CONFLICT (reference catalog/table.go:785-949) — a later
    // auto-assigned INSERT must never collide
    val e = new Engine(spark, tmpDir("router_ai_merge"))
    exec(e, "CREATE TABLE t (id BIGINT NOT NULL AUTO_INCREMENT, v STRING, PRIMARY KEY (id))")
    exec(e, "INSERT INTO t (v) VALUES ('a')") // id 1, counter -> 2
    exec(e, "REPLACE INTO t VALUES (100, 'x')")
    assert(e.table("t").manifest.autoInc === 101L,
      "REPLACE with explicit id must advance the counter")
    exec(e, "INSERT INTO t (v) VALUES ('b')") // must take 101, not 2
    assert(exec(e, "SELECT id FROM t WHERE v = 'b'").df.get.as[Long].head() === 101L)

    // the ODKU insert arm advances too
    exec(e, "INSERT INTO t VALUES (200, 'y') ON DUPLICATE KEY UPDATE v = 'upd'")
    exec(e, "INSERT INTO t (v) VALUES ('c')")
    assert(exec(e, "SELECT id FROM t WHERE v = 'c'").df.get.as[Long].head() === 201L)

    // INSERT IGNORE of an explicit id advances as well
    exec(e, "INSERT IGNORE INTO t VALUES (300, 'z')")
    exec(e, "INSERT INTO t (v) VALUES ('d')")
    assert(exec(e, "SELECT id FROM t WHERE v = 'd'").df.get.as[Long].head() === 301L)
  }

  // ------------------------------------------------------------------
  // PG declarative partitioning (round-12: the full PARTITION OF /
  // ATTACH / DETACH / routed-DML surface — pg_dump ≥11 restore shape)

  test("partitioning: RANGE parent routes INSERT, prunes, detaches") {
    val e = new Engine(spark, tmpDir("router_part_range"))
    exec(e, "CREATE TABLE pt (id BIGINT, v STRING) PARTITION BY RANGE (id)")
    // empty parent reads as empty, no partitions yet -> INSERT is loud
    assert(exec(e, "SELECT count(*) FROM pt").df.get.as[Long].head() === 0L)
    intercept[Exception](exec(e, "INSERT INTO pt VALUES (1, 'a')"))
    exec(e, "CREATE TABLE pt_lo PARTITION OF pt FOR VALUES FROM (MINVALUE) TO (100)")
    exec(e, "CREATE TABLE pt_mid PARTITION OF pt FOR VALUES FROM (100) TO (200)")
    // no default yet: out-of-range is loud BEFORE any child commits
    intercept[Exception](exec(e, "INSERT INTO pt VALUES (500, 'x')"))
    assert(exec(e, "SELECT count(*) FROM pt_lo").df.get.as[Long].head() === 0L)
    exec(e, "CREATE TABLE pt_hi PARTITION OF pt DEFAULT")
    exec(e, "INSERT INTO pt VALUES (5, 'a'), (150, 'b'), (500, 'c'), (99, 'd')")
    assert(exec(e, "SELECT count(*) FROM pt_lo").df.get.as[Long].head() === 2L)
    assert(exec(e, "SELECT count(*) FROM pt_mid").df.get.as[Long].head() === 1L)
    assert(exec(e, "SELECT count(*) FROM pt_hi").df.get.as[Long].head() === 1L)
    assert(exec(e, "SELECT id FROM pt ORDER BY id").df.get.as[Long].collect()
      === Array(5L, 99L, 150L, 500L))
    // overlap is loud at attach time
    intercept[Exception](exec(e,
      "CREATE TABLE pt_bad PARTITION OF pt FOR VALUES FROM (150) TO (300)"))
    intercept[Exception](exec(e, "CREATE TABLE pt_d2 PARTITION OF pt DEFAULT"))
    // UPDATE/DELETE fan out per child
    assert(exec(e, "UPDATE pt SET v = 'B' WHERE id = 150").affected === 1L)
    assert(exec(e, "SELECT v FROM pt_mid").df.get.as[String].head() === "B")
    // partition-key SET through the parent MOVES the row (PG >=11)
    assert(exec(e, "UPDATE pt SET id = 5000 WHERE id = 150").affected === 1L)
    assert(exec(e, "SELECT count(*) FROM pt_mid").df.get.as[Long].head() === 0L)
    assert(exec(e, "SELECT v FROM pt_hi WHERE id = 5000").df.get
      .as[String].head() === "B")
    assert(exec(e, "DELETE FROM pt WHERE id >= 99").affected === 3L)
    assert(exec(e, "SELECT count(*) FROM pt").df.get.as[Long].head() === 1L)
    // DETACH: the child keeps rows, the parent stops unioning them
    exec(e, "INSERT INTO pt VALUES (120, 'mid')")
    exec(e, "ALTER TABLE pt DETACH PARTITION pt_mid")
    assert(exec(e, "SELECT count(*) FROM pt").df.get.as[Long].head() === 1L)
    assert(exec(e, "SELECT count(*) FROM pt_mid").df.get.as[Long].head() === 1L)
    intercept[Exception](exec(e, "ALTER TABLE pt DETACH PARTITION pt_mid"))
    // TRUNCATE on the parent truncates every attached child
    exec(e, "TRUNCATE TABLE pt")
    assert(exec(e, "SELECT count(*) FROM pt").df.get.as[Long].head() === 0L)
    assert(exec(e, "SELECT count(*) FROM pt_mid").df.get.as[Long].head() === 1L)
  }

  test("partitioning: ATTACH validates schema, bounds and existing rows") {
    val e = new Engine(spark, tmpDir("router_part_attach"))
    exec(e, "CREATE TABLE pt (id BIGINT, v STRING) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE c1 (id BIGINT, v STRING)")
    exec(e, "INSERT INTO c1 VALUES (5, 'ok'), (999, 'stray')")
    // a row outside the declared bounds refuses the attach
    intercept[Exception](exec(e,
      "ALTER TABLE ONLY pt ATTACH PARTITION c1 FOR VALUES FROM (0) TO (100)"))
    exec(e, "DELETE FROM c1 WHERE id = 999")
    exec(e, "ALTER TABLE ONLY pt ATTACH PARTITION c1 FOR VALUES FROM (0) TO (100)")
    assert(exec(e, "SELECT count(*) FROM pt").df.get.as[Long].head() === 1L)
    // schema mismatch is loud
    exec(e, "CREATE TABLE c2 (id BIGINT, other STRING)")
    intercept[Exception](exec(e,
      "ALTER TABLE pt ATTACH PARTITION c2 FOR VALUES FROM (100) TO (200)"))
    // DEFAULT attach refuses rows a non-default sibling owns
    exec(e, "CREATE TABLE c3 (id BIGINT, v STRING)")
    exec(e, "INSERT INTO c3 VALUES (50, 'belongs-to-c1')")
    intercept[Exception](exec(e, "ALTER TABLE pt ATTACH PARTITION c3 DEFAULT"))
    exec(e, "UPDATE c3 SET id = 5000")
    exec(e, "ALTER TABLE pt ATTACH PARTITION c3 DEFAULT")
    assert(exec(e, "SELECT count(*) FROM pt").df.get.as[Long].head() === 2L)
  }

  test("partitioning: LIST with NULL, HASH modulus, and auto-inc through the parent") {
    val e = new Engine(spark, tmpDir("router_part_list"))
    exec(e, "CREATE TABLE lt (k STRING, n INT) PARTITION BY LIST (k)")
    exec(e, "CREATE TABLE lt_ab PARTITION OF lt FOR VALUES IN ('a', 'b')")
    exec(e, "CREATE TABLE lt_null PARTITION OF lt FOR VALUES IN (NULL, 'z')")
    // duplicate list value is loud
    intercept[Exception](exec(e,
      "CREATE TABLE lt_dup PARTITION OF lt FOR VALUES IN ('b')"))
    // bounds are PG text: a backslash is literal inside '...', so
    // ('C:\', 'D:\') is two values and 'D:\' collides
    intercept[IllegalArgumentException](Partitioning.validateNewChild(
      Partitioning.Spec("LIST", Seq("k")), "FOR VALUES IN ('D:\\')",
      Seq("lt_win" -> "FOR VALUES IN ('C:\\', 'D:\\')")))
    exec(e, "INSERT INTO lt VALUES ('a', 1), (NULL, 2), ('z', 3)")
    assert(exec(e, "SELECT count(*) FROM lt_ab").df.get.as[Long].head() === 1L)
    assert(exec(e, "SELECT count(*) FROM lt_null").df.get.as[Long].head() === 2L)
    intercept[Exception](exec(e, "INSERT INTO lt VALUES ('q', 9)"))

    val e2 = new Engine(spark, tmpDir("router_part_hash"))
    exec(e2, "CREATE TABLE ht (id BIGINT, v STRING) PARTITION BY HASH (id)")
    exec(e2, "CREATE TABLE ht_0 PARTITION OF ht FOR VALUES WITH (MODULUS 2, REMAINDER 0)")
    intercept[Exception](exec(e2,
      "CREATE TABLE ht_dup PARTITION OF ht FOR VALUES WITH (MODULUS 2, REMAINDER 0)"))
    exec(e2, "CREATE TABLE ht_1 PARTITION OF ht FOR VALUES WITH (MODULUS 2, REMAINDER 1)")
    exec(e2, "INSERT INTO ht SELECT id, concat('v', id) FROM range(100)")
    val c0 = exec(e2, "SELECT count(*) FROM ht_0").df.get.as[Long].head()
    val c1 = exec(e2, "SELECT count(*) FROM ht_1").df.get.as[Long].head()
    assert(c0 + c1 === 100L && c0 > 0 && c1 > 0)
    assert(exec(e2, "SELECT count(*) FROM ht").df.get.as[Long].head() === 100L)

    // the parent owns the auto-inc counter; ids stay unique across
    // children and explicit ids advance it (the A23 invariant through
    // the parent — a later auto-assigned id never collides)
    val e3 = new Engine(spark, tmpDir("router_part_auto"))
    exec(e3, "CREATE TABLE at (id BIGINT NOT NULL AUTO_INCREMENT, v STRING, " +
      "PRIMARY KEY (id)) PARTITION BY RANGE (id)")
    exec(e3, "CREATE TABLE at_lo PARTITION OF at FOR VALUES FROM (1) TO (1000)")
    exec(e3, "CREATE TABLE at_hi PARTITION OF at DEFAULT")
    exec(e3, "INSERT INTO at (v) VALUES ('a'), ('b')") // ids 1, 2
    exec(e3, "INSERT INTO at VALUES (5000, 'explicit')") // -> at_hi, counter -> 5001
    exec(e3, "INSERT INTO at (v) VALUES ('c')") // id 5001, never 3
    assert(exec(e3, "SELECT id FROM at ORDER BY id").df.get.as[Long].collect()
      === Array(1L, 2L, 5000L, 5001L))
    assert(exec(e3, "SELECT count(*) FROM at_hi").df.get.as[Long].head() === 2L)
  }

  test("partitioning: direct child DML enforces the partition bound (CHECK)") {
    val e = new Engine(spark, tmpDir("router_part_check"))
    exec(e, "CREATE TABLE bt (id BIGINT, v STRING) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE bt_lo PARTITION OF bt FOR VALUES FROM (0) TO (100)")
    // an out-of-bounds row written DIRECTLY to the child is loud (PG
    // enforces the partition constraint) — silently accepting it would
    // make the row invisible through the parent's bounds-filtered read
    intercept[Exception](exec(e, "INSERT INTO bt_lo VALUES (500, 'x')"))
    // a NULL partition key is loud too (advice r12): the bound CHECK
    // carries PG's IS NOT NULL conjunct, so the NULL doesn't slip in
    // as CHECK-unknown and then hide from the parent's filtered read
    intercept[Exception](exec(e, "INSERT INTO bt_lo VALUES (NULL, 'n')"))
    exec(e, "INSERT INTO bt_lo VALUES (50, 'ok')")
    // an UPDATE moving the key out of bounds is loud too
    intercept[Exception](exec(e, "UPDATE bt_lo SET id = 500 WHERE id = 50"))
    // ... while a NULL key routed THROUGH the parent still lands in
    // the DEFAULT partition (routing semantics unchanged)
    exec(e, "CREATE TABLE bt_d PARTITION OF bt DEFAULT")
    exec(e, "INSERT INTO bt VALUES (NULL, 'null-row')")
    assert(exec(e, "SELECT count(*) FROM bt_d").df.get.as[Long].head() === 1L)
    assert(exec(e, "SELECT count(*) FROM bt WHERE id IS NULL").df.get
      .as[Long].head() === 1L)
    // LIST without NULL in the value list rejects a NULL-key direct
    // insert the same way; a NULL-listed child accepts it
    exec(e, "CREATE TABLE lnt (k STRING, v STRING) PARTITION BY LIST (k)")
    exec(e, "CREATE TABLE lnt_ab PARTITION OF lnt FOR VALUES IN ('a', 'b')")
    exec(e, "CREATE TABLE lnt_n PARTITION OF lnt FOR VALUES IN (NULL, 'z')")
    intercept[Exception](exec(e, "INSERT INTO lnt_ab VALUES (NULL, 'x')"))
    exec(e, "INSERT INTO lnt_n VALUES (NULL, 'ok')")
    assert(exec(e, "SELECT count(*) FROM lnt WHERE k IS NULL").df.get
      .as[Long].head() === 1L)
    // detach releases the constraint — the table is plain again
    exec(e, "ALTER TABLE bt DETACH PARTITION bt_lo")
    exec(e, "INSERT INTO bt_lo VALUES (500, 'now fine')")
    assert(exec(e, "SELECT count(*) FROM bt_lo").df.get.as[Long].head() === 2L)
  }

  test("partitioning: attach refused while the DEFAULT partition holds owned rows") {
    val e = new Engine(spark, tmpDir("router_part_defprobe"))
    exec(e, "CREATE TABLE dpt (k BIGINT, v STRING) PARTITION BY LIST (k)")
    exec(e, "CREATE TABLE dpt_d PARTITION OF dpt DEFAULT")
    exec(e, "INSERT INTO dpt VALUES (5, 'in-default')")
    // PG: the default's rows would violate its updated constraint
    intercept[Exception](exec(e,
      "CREATE TABLE dpt_5 PARTITION OF dpt FOR VALUES IN (5)"))
    exec(e, "DELETE FROM dpt_d WHERE k = 5")
    exec(e, "CREATE TABLE dpt_5 PARTITION OF dpt FOR VALUES IN (5)")
    exec(e, "INSERT INTO dpt VALUES (5, 'routed')")
    assert(exec(e, "SELECT count(*) FROM dpt_5").df.get.as[Long].head() === 1L)
    // LIST values are case-sensitive: 'EU' is not a duplicate of 'eu'
    exec(e, "CREATE TABLE dpt_eu PARTITION OF dpt FOR VALUES IN (7)")
    val e2 = new Engine(spark, tmpDir("router_part_listcase"))
    exec(e2, "CREATE TABLE lt (r STRING) PARTITION BY LIST (r)")
    exec(e2, "CREATE TABLE lt_a PARTITION OF lt FOR VALUES IN ('eu')")
    exec(e2, "CREATE TABLE lt_b PARTITION OF lt FOR VALUES IN ('EU')")
    exec(e2, "INSERT INTO lt VALUES ('eu'), ('EU')")
    assert(exec(e2, "SELECT count(*) FROM lt_a").df.get.as[Long].head() === 1L)
    assert(exec(e2, "SELECT count(*) FROM lt_b").df.get.as[Long].head() === 1L)
  }

  test("partitioning: HASH children read unfiltered; expression-key SET refused; LIMIT refused") {
    // HASH reads union WITHOUT the routing-hash filter — a restored
    // dump's rows were placed by PG's hash, not this engine's, and
    // must never silently vanish from parent reads
    val e = new Engine(spark, tmpDir("router_part_hashread"))
    exec(e, "CREATE TABLE h (id BIGINT, v STRING) PARTITION BY HASH (id)")
    exec(e, "CREATE TABLE h0 (id BIGINT, v STRING)")
    exec(e, "INSERT INTO h0 VALUES (1, 'pg-placed'), (2, 'pg-placed')")
    exec(e, "ALTER TABLE h ATTACH PARTITION h0 " +
      "FOR VALUES WITH (MODULUS 2, REMAINDER 0)")
    exec(e, "CREATE TABLE h1 PARTITION OF h " +
      "FOR VALUES WITH (MODULUS 2, REMAINDER 1)")
    // both rows visible regardless of which remainder our hash assigns
    assert(exec(e, "SELECT count(*) FROM h").df.get.as[Long].head() === 2L)
    // expression partition keys: SET on a referenced column is refused
    val e2 = new Engine(spark, tmpDir("router_part_exprkey"))
    exec(e2, "CREATE TABLE xt (name STRING, v INT) " +
      "PARTITION BY RANGE (lower(name))")
    exec(e2, "CREATE TABLE xt_a PARTITION OF xt " +
      "FOR VALUES FROM ('a') TO ('n')")
    exec(e2, "INSERT INTO xt VALUES ('alice', 1)")
    intercept[Exception](exec(e2, "UPDATE xt SET name = 'zed' WHERE v = 1"))
    // UPDATE ... LIMIT through the parent would apply per child
    intercept[Exception](exec(e2, "UPDATE xt SET v = 2 LIMIT 1"))
  }

  test("partitioning: DROP drops children with the parent; dropping a child detaches") {
    val e = new Engine(spark, tmpDir("router_part_drop"))
    exec(e, "CREATE TABLE dt (id BIGINT, v STRING) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE dt_a PARTITION OF dt FOR VALUES FROM (0) TO (100)")
    exec(e, "CREATE TABLE dt_b PARTITION OF dt DEFAULT")
    exec(e, "INSERT INTO dt VALUES (1, 'a'), (500, 'b')")
    // DROP on an attached child implicitly detaches (one manifest
    // commit via the child's partof reverse pointer — no catalog scan)
    exec(e, "DROP TABLE dt_a")
    assert(e.table("dt").partitionChildren.map(_._1) === Seq("dt_b"))
    assert(exec(e, "SELECT count(*) FROM dt").df.get.as[Long].head() === 1L)
    // a DETACHED child drops like any table, parent untouched
    exec(e, "ALTER TABLE dt DETACH PARTITION dt_b")
    exec(e, "DROP TABLE dt_b")
    assert(e.table("dt").partitionChildren.isEmpty)
    // DROP on the parent drops every attached child with it (PG:
    // partitions are dependent objects)
    exec(e, "CREATE TABLE dt2 (id BIGINT, v STRING) PARTITION BY LIST (v)")
    exec(e, "CREATE TABLE dt2_x PARTITION OF dt2 FOR VALUES IN ('x')")
    exec(e, "DROP TABLE dt2")
    assert(!e.listTables().contains("dt2_x"))
  }

  test("partitioning: COPY FROM and LOAD DATA route through the parent") {
    val e = new Engine(spark, tmpDir("router_part_copy"))
    exec(e, "CREATE TABLE ct (id BIGINT PRIMARY KEY, v STRING) " +
      "PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE ct_lo PARTITION OF ct FOR VALUES FROM (0) TO (100)")
    exec(e, "CREATE TABLE ct_hi PARTITION OF ct DEFAULT")
    val f = java.nio.file.Files.createTempFile("graft_part_copy", ".csv")
    java.nio.file.Files.writeString(f, "5,a\n500,b\n7,c\n")
    assert(exec(e, s"COPY ct FROM '$f' (FORMAT CSV)").affected === 3L)
    assert(exec(e, "SELECT count(*) FROM ct_lo").df.get.as[Long].head() === 2L)
    assert(exec(e, "SELECT count(*) FROM ct_hi").df.get.as[Long].head() === 1L)
    // LOAD DATA REPLACE: duplicate-key semantics apply per child
    val f2 = java.nio.file.Files.createTempFile("graft_part_load", ".tsv")
    java.nio.file.Files.writeString(f2, "5\tA2\n900\tnew\n")
    assert(exec(e,
      s"LOAD DATA INFILE '$f2' REPLACE INTO TABLE ct").affected === 2L)
    assert(exec(e, "SELECT v FROM ct WHERE id = 5").df.get.as[String].head()
      === "A2")
    assert(exec(e, "SELECT count(*) FROM ct").df.get.as[Long].head() === 4L)
    // an out-of-range row in the file is loud BEFORE any child commits
    exec(e, "ALTER TABLE ct DETACH PARTITION ct_hi")
    val f3 = java.nio.file.Files.createTempFile("graft_part_bad", ".csv")
    java.nio.file.Files.writeString(f3, "50,x\n5000,y\n")
    intercept[Exception](exec(e, s"COPY ct FROM '$f3' (FORMAT CSV)"))
    assert(exec(e, "SELECT count(*) FROM ct_lo WHERE v = 'x'")
      .df.get.as[Long].head() === 0L)
  }

  test("partitioning: subpartitioned tree routes, reads, truncates and drops recursively") {
    val e = new Engine(spark, tmpDir("router_part_sub"))
    exec(e, "CREATE TABLE root (id BIGINT, region STRING, v STRING) " +
      "PARTITION BY RANGE (id)")
    // a child that is itself a parent (the pg_dump subpartition shape)
    exec(e, "CREATE TABLE mid PARTITION OF root " +
      "FOR VALUES FROM (0) TO (1000) PARTITION BY LIST (region)")
    exec(e, "CREATE TABLE mid_eu PARTITION OF mid FOR VALUES IN ('eu')")
    exec(e, "CREATE TABLE mid_us PARTITION OF mid FOR VALUES IN ('us')")
    exec(e, "CREATE TABLE hi PARTITION OF root DEFAULT")
    // two-level routing through the root
    exec(e, "INSERT INTO root VALUES (5, 'eu', 'a'), (6, 'us', 'b'), " +
      "(5000, 'eu', 'c')")
    assert(exec(e, "SELECT count(*) FROM mid_eu").df.get.as[Long].head() === 1L)
    assert(exec(e, "SELECT count(*) FROM mid_us").df.get.as[Long].head() === 1L)
    assert(exec(e, "SELECT count(*) FROM hi").df.get.as[Long].head() === 1L)
    // reads union recursively at every level
    assert(exec(e, "SELECT count(*) FROM root").df.get.as[Long].head() === 3L)
    assert(exec(e, "SELECT count(*) FROM mid").df.get.as[Long].head() === 2L)
    // an in-range row with no matching leaf is loud
    intercept[Exception](exec(e, "INSERT INTO root VALUES (7, 'jp', 'x')"))
    // UPDATE/DELETE fan out through the levels
    assert(exec(e, "UPDATE root SET v = 'Z' WHERE region = 'eu'")
      .affected === 2L)
    assert(exec(e, "DELETE FROM root WHERE id = 6").affected === 1L)
    // TRUNCATE cascades to the leaves
    exec(e, "TRUNCATE TABLE root")
    assert(exec(e, "SELECT count(*) FROM mid_eu").df.get.as[Long].head() === 0L)
    // DROP of the MID-LEVEL node (parent and child at once) drops its
    // own subtree AND detaches from root — advice r12: the grandparent
    // must not keep a dangling partchild pointer, or every later
    // read/DML on it throws
    exec(e, "INSERT INTO root VALUES (8, 'eu', 'back'), (6000, 'us', 'd')")
    exec(e, "DROP TABLE mid")
    assert(e.listTables().toSet === Set("root", "hi"))
    assert(exec(e, "SELECT count(*) FROM root").df.get.as[Long].head() === 1L)
    exec(e, "INSERT INTO root VALUES (7000, 'jp', 'e')") // routes to hi
    assert(exec(e, "SELECT count(*) FROM root").df.get.as[Long].head() === 2L)
    // DROP root drops the rest of the tree
    exec(e, "DROP TABLE root")
    assert(e.listTables().isEmpty)
  }

  test("partitioning: a routed INSERT inside a transaction rolls back atomically") {
    val e = new Engine(spark, tmpDir("router_part_txn"))
    exec(e, "CREATE TABLE tt (id BIGINT, v STRING) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE tt_lo PARTITION OF tt FOR VALUES FROM (0) TO (100)")
    exec(e, "CREATE TABLE tt_hi PARTITION OF tt DEFAULT")
    exec(e, "INSERT INTO tt VALUES (1, 'keep')")
    exec(e, "BEGIN")
    // one statement, commits staged on BOTH children
    exec(e, "INSERT INTO tt VALUES (2, 'a'), (500, 'b')")
    assert(exec(e, "SELECT count(*) FROM tt").df.get.as[Long].head() === 3L)
    exec(e, "ROLLBACK")
    // every child's staged commit rolled back together
    assert(exec(e, "SELECT count(*) FROM tt").df.get.as[Long].head() === 1L)
    assert(exec(e, "SELECT count(*) FROM tt_hi").df.get.as[Long].head() === 0L)
    exec(e, "BEGIN")
    exec(e, "INSERT INTO tt VALUES (3, 'c'), (600, 'd')")
    exec(e, "COMMIT")
    assert(exec(e, "SELECT count(*) FROM tt").df.get.as[Long].head() === 3L)
  }

  test("partitioning: REPLACE / INSERT IGNORE / ODKU route with per-child semantics") {
    val e = new Engine(spark, tmpDir("router_part_merge"))
    exec(e, "CREATE TABLE mt (id BIGINT NOT NULL AUTO_INCREMENT, v STRING, " +
      "n INT, PRIMARY KEY (id)) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE mt_lo PARTITION OF mt FOR VALUES FROM (1) TO (100)")
    exec(e, "CREATE TABLE mt_hi PARTITION OF mt DEFAULT")
    exec(e, "INSERT INTO mt VALUES (1, 'a', 1), (150, 'b', 1)")
    // REPLACE resolves against the child holding the key (a unique
    // key on a partitioned table always includes the partition key)
    exec(e, "REPLACE INTO mt VALUES (150, 'b2', 9)")
    assert(exec(e, "SELECT v FROM mt WHERE id = 150").df.get.as[String].head()
      === "b2")
    assert(exec(e, "SELECT count(*) FROM mt").df.get.as[Long].head() === 2L)
    // IGNORE keeps the existing row
    exec(e, "INSERT IGNORE INTO mt VALUES (1, 'clobber', 0)")
    assert(exec(e, "SELECT v FROM mt WHERE id = 1").df.get.as[String].head()
      === "a")
    // ODKU updates in place per child
    exec(e, "INSERT INTO mt VALUES (150, 'x', 5) " +
      "ON DUPLICATE KEY UPDATE n = n + 1")
    assert(exec(e, "SELECT n FROM mt WHERE id = 150").df.get.as[Int].head()
      === 10)
    // q108's invariant THROUGH the parent: every merge-family explicit
    // id advanced the parent's counter — the next auto id is 151
    exec(e, "INSERT INTO mt (v, n) VALUES ('auto', 0)")
    assert(exec(e, "SELECT id FROM mt WHERE v = 'auto'").df.get.as[Long].head()
      === 151L)
  }

  test("PG identity ALWAYS: explicit ids refused; OVERRIDING SYSTEM/USER VALUE") {
    val e = new Engine(spark, tmpDir("router_identity_ovr"))
    exec(e, "CREATE TABLE idt (id BIGINT GENERATED ALWAYS AS IDENTITY, " +
      "v STRING, PRIMARY KEY (id))")
    exec(e, "INSERT INTO idt (v) VALUES ('a')")
    // PG refuses a plain explicit value into a GENERATED ALWAYS column
    val ex = intercept[Exception](
      exec(e, "INSERT INTO idt (id, v) VALUES (10, 'x')"))
    assert(ex.getMessage.contains("GENERATED ALWAYS"))
    // a positional insert provides the column too
    intercept[Exception](exec(e, "INSERT INTO idt VALUES (10, 'x')"))
    // pg_dump --inserts shape: OVERRIDING SYSTEM VALUE admits it, and
    // the explicit id advances the counter
    exec(e,
      "INSERT INTO idt (id, v) OVERRIDING SYSTEM VALUE VALUES (10, 'x')")
    exec(e, "INSERT INTO idt (v) VALUES ('b')")
    // the valid PG combo: OVERRIDING SYSTEM VALUE ... ON CONFLICT
    exec(e, "INSERT INTO idt (id, v) OVERRIDING SYSTEM VALUE VALUES " +
      "(10, 'x2') ON CONFLICT (id) DO UPDATE SET v = excluded.v")
    assert(exec(e, "SELECT v FROM idt WHERE id = 10").df.get
      .as[String].head() === "x2")
    // OVERRIDING USER VALUE discards the supplied id for the sequence
    exec(e,
      "INSERT INTO idt (id, v) OVERRIDING USER VALUE VALUES (99, 'y')")
    assert(exec(e, "SELECT id FROM idt ORDER BY id").df.get
      .as[Long].collect().toSeq === Seq(1L, 10L, 11L, 12L))
    // BY DEFAULT identity keeps accepting explicit ids
    exec(e, "CREATE TABLE idd (id BIGINT GENERATED BY DEFAULT AS " +
      "IDENTITY, v STRING, PRIMARY KEY (id))")
    exec(e, "INSERT INTO idd (id, v) VALUES (5, 'z')")
    assert(exec(e, "SELECT id FROM idd").df.get.as[Long].head() === 5L)
    // SHOW CREATE round-trips the ALWAYS flavor
    val (_, show) = exec(e, "SHOW CREATE TABLE idt").df.get
      .as[(String, String)].head()
    assert(show.contains("GENERATED ALWAYS AS IDENTITY"))
    // pg_catalog surfaces it: attidentity 'a' (psql \d reads this)
    assert(exec(e, "SELECT a.attidentity FROM pg_catalog.pg_attribute a " +
      "JOIN pg_catalog.pg_class c ON a.attrelid = c.oid " +
      "WHERE c.relname = 'idt' AND a.attname = 'id'").df.get
      .as[String].head() === "a")
    // ALTER-added ALWAYS enforces too; DROP IDENTITY releases it
    exec(e, "CREATE TABLE ida (id BIGINT NOT NULL, v STRING, " +
      "PRIMARY KEY (id))")
    exec(e, "ALTER TABLE ida ALTER COLUMN id ADD GENERATED ALWAYS AS " +
      "IDENTITY (START WITH 3)")
    intercept[Exception](exec(e, "INSERT INTO ida (id, v) VALUES (9, 'q')"))
    exec(e, "ALTER TABLE ida ALTER COLUMN id DROP IDENTITY")
    exec(e, "INSERT INTO ida (id, v) VALUES (9, 'q')")
    assert(exec(e, "SELECT id FROM ida").df.get.as[Long].head() === 9L)
  }

  test("partitioning: PG ON CONFLICT routes through a partitioned parent") {
    val e = new Engine(spark, tmpDir("router_part_conflict"))
    exec(e, "CREATE TABLE pt (id BIGINT NOT NULL, v STRING, n INT, " +
      "PRIMARY KEY (id)) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE pt_lo PARTITION OF pt FOR VALUES FROM (1) TO (100)")
    exec(e, "CREATE TABLE pt_hi PARTITION OF pt DEFAULT")
    exec(e, "INSERT INTO pt VALUES (1, 'a', 1), (150, 'b', 1)")
    // DO NOTHING keeps the existing row in whichever child holds it
    exec(e, "INSERT INTO pt VALUES (1, 'clobber', 0), (50, 'new', 2) " +
      "ON CONFLICT (id) DO NOTHING")
    assert(exec(e, "SELECT v FROM pt WHERE id = 1").df.get.as[String].head()
      === "a")
    assert(exec(e, "SELECT count(*) FROM pt").df.get.as[Long].head() === 3L)
    // DO UPDATE resolves per child, excluded.* refs and WHERE guard intact
    exec(e, "INSERT INTO pt VALUES (150, 'x', 5) " +
      "ON CONFLICT (id) DO UPDATE SET n = pt.n + excluded.n WHERE pt.n < 10")
    assert(exec(e, "SELECT n FROM pt WHERE id = 150").df.get.as[Int].head()
      === 6)
    // the guard leaves a non-matching row untouched
    exec(e, "INSERT INTO pt VALUES (150, 'x', 99) " +
      "ON CONFLICT (id) DO UPDATE SET n = excluded.n WHERE pt.n > 100")
    assert(exec(e, "SELECT n FROM pt WHERE id = 150").df.get.as[Int].head()
      === 6)
  }

  test("partitioning: DETACH of a subpartitioned mid-level node keeps its subtree") {
    val e = new Engine(spark, tmpDir("router_part_middetach"))
    exec(e, "CREATE TABLE droot (id BIGINT, r STRING, v STRING) " +
      "PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE dmid PARTITION OF droot " +
      "FOR VALUES FROM (0) TO (100) PARTITION BY LIST (r)")
    exec(e, "CREATE TABLE dmid_eu PARTITION OF dmid FOR VALUES IN ('eu')")
    exec(e, "CREATE TABLE dhi PARTITION OF droot DEFAULT")
    exec(e, "INSERT INTO droot VALUES (1, 'eu', 'a'), (200, 'us', 'b')")
    exec(e, "ALTER TABLE droot DETACH PARTITION dmid")
    // root no longer sees dmid's rows; dmid stands alone as a parent
    assert(exec(e, "SELECT count(*) FROM droot").df.get.as[Long].head() === 1L)
    assert(exec(e, "SELECT count(*) FROM dmid").df.get.as[Long].head() === 1L)
    assert(e.table("dmid").partitionBy === Some("LIST (r)"))
    assert(!e.table("dmid").manifest.props.contains("partof"))
    // detached mid routes its OWN inserts; the old level-1 bound is gone
    exec(e, "INSERT INTO dmid VALUES (5000, 'eu', 'c')")
    assert(exec(e, "SELECT count(*) FROM dmid_eu").df.get.as[Long].head() === 2L)
    assert(exec(e, "SELECT count(*) FROM droot").df.get.as[Long].head() === 1L)
  }

  test("partitioning: CREATE TABLE LIKE never copies partition linkage") {
    // r13 audit: LIKE used to copy props wholesale — a clone of a
    // parent claimed the ORIGINAL's children via partchild.*, and a
    // clone of a child carried a partof pointer its parent never
    // recorded. Both are the two-writers-one-child corruption shape.
    val e = new Engine(spark, tmpDir("router_part_like"))
    exec(e, "CREATE TABLE lp (id BIGINT NOT NULL AUTO_INCREMENT, v STRING, " +
      "PRIMARY KEY (id)) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE lp_a PARTITION OF lp FOR VALUES FROM (0) TO (100)")
    exec(e, "CREATE TABLE lp_b PARTITION OF lp DEFAULT")
    exec(e, "INSERT INTO lp VALUES (1, 'a'), (200, 'b')")
    exec(e, "CREATE TABLE clone LIKE lp")
    assert(e.table("clone").partitionBy === None)
    assert(!e.table("clone").manifest.props.keys.exists(k =>
      k.startsWith("partchild.") || k == "partof"))
    // the clone is a PLAIN empty table; writes stay its own
    exec(e, "INSERT INTO clone VALUES (1, 'x')")
    assert(exec(e, "SELECT count(*) FROM clone").df.get.as[Long].head() === 1L)
    assert(exec(e, "SELECT count(*) FROM lp").df.get.as[Long].head() === 2L)
    assert(exec(e, "SELECT count(*) FROM lp_a").df.get.as[Long].head() === 1L)
    // a clone of a CHILD is standalone too (no partof, no bound CHECK)
    exec(e, "CREATE TABLE cclone LIKE lp_a")
    assert(!e.table("cclone").manifest.props.contains("partof"))
    exec(e, "INSERT INTO cclone VALUES (500, 'out-of-old-bounds')")
    assert(exec(e, "SELECT count(*) FROM cclone").df.get.as[Long].head() === 1L)
    // the auto-inc MARKING copies (MySQL LIKE semantics)
    exec(e, "INSERT INTO clone (v) VALUES ('auto')")
    assert(exec(e, "SELECT max(id) FROM clone").df.get.as[Long].head() >= 2L)
  }

  test("partitioning: merge-family RETURNING through the parent (id-grab upserts)") {
    // r13: the ORM id-grab shapes — INSERT ... ON CONFLICT DO
    // NOTHING/DO UPDATE ... RETURNING and MariaDB ODKU RETURNING —
    // work through a partitioned parent: per-child images, serial
    // routing, cross-child union.
    val e = new Engine(spark, tmpDir("router_part_mret"))
    exec(e, "CREATE TABLE mr (id BIGINT NOT NULL, v STRING, n INT, " +
      "PRIMARY KEY (id)) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE mr_lo PARTITION OF mr FOR VALUES FROM (0) TO (100)")
    exec(e, "CREATE TABLE mr_hi PARTITION OF mr DEFAULT")
    exec(e, "INSERT INTO mr VALUES (1, 'a', 1), (150, 'b', 2)")
    // DO NOTHING RETURNING answers ONLY the actually-inserted rows,
    // across both children
    val dn = exec(e, "INSERT INTO mr VALUES (1, 'dup', 0), (50, 'new', 3), " +
      "(250, 'new2', 4) ON CONFLICT (id) DO NOTHING RETURNING id")
    assert(dn.affected === 2L)
    assert(dn.df.get.as[Long].collect().sorted === Array(50L, 250L))
    // DO UPDATE RETURNING answers post-images across children
    val du = exec(e, "INSERT INTO mr VALUES (1, 'x', 10), (150, 'y', 20) " +
      "ON CONFLICT (id) DO UPDATE SET n = mr.n + excluded.n " +
      "RETURNING id, n")
    assert(du.df.get.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getInt(1))).toSeq === Seq((1L, 11), (150L, 22)))
    // MariaDB ODKU RETURNING, same shape
    val od = exec(e, "INSERT INTO mr VALUES (50, 'z', 100), (260, 'w', 5) " +
      "ON DUPLICATE KEY UPDATE n = n + VALUES(n) RETURNING id, n")
    assert(od.df.get.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getInt(1))).toSeq === Seq((50L, 103), (260L, 5)))
    // tree state consistent after all three
    assert(exec(e, "SELECT count(*) FROM mr").df.get.as[Long].head() === 5L)
    assert(exec(e, "SELECT count(*) FROM mr_lo").df.get.as[Long].head() === 2L)
  }

  test("partitioning: UPDATE of the partition key moves rows between children") {
    val e = new Engine(spark, tmpDir("router_part_move"))
    exec(e, "CREATE TABLE mv (id BIGINT NOT NULL, v STRING, " +
      "PRIMARY KEY (id), CHECK (v <> 'bad')) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE mv_lo PARTITION OF mv FOR VALUES FROM (0) TO (500)")
    exec(e, "CREATE TABLE mv_hi PARTITION OF mv " +
      "FOR VALUES FROM (500) TO (2000)")
    exec(e, "INSERT INTO mv VALUES (10, 'a'), (20, 'b'), (600, 'c')")
    // lo -> hi movement; the untouched row stays put
    val n = exec(e, "UPDATE mv SET id = id + 1000 WHERE id < 15").affected
    assert(n === 1L)
    assert(exec(e, "SELECT count(*) FROM mv_lo").df.get.as[Long].head() === 1L)
    assert(exec(e, "SELECT count(*) FROM mv_hi").df.get.as[Long].head() === 2L)
    assert(exec(e, "SELECT id FROM mv WHERE v = 'a'").df.get.as[Long].head()
      === 1010L)
    // images that STILL match the WHERE must not be deleted by it:
    // delete-originals runs before the re-routed insert
    exec(e, "UPDATE mv SET id = id + 1 WHERE id >= 600")
    assert(exec(e, "SELECT sort_array(collect_list(id)) ids FROM mv")
      .df.get.selectExpr("ids").as[Seq[Long]].head() === Seq(20L, 601L, 1011L))
    // out-of-bounds movement fails loudly BEFORE any delete
    val ex = intercept[Exception](
      exec(e, "UPDATE mv SET id = id + 9000 WHERE id = 20"))
    assert(ex.getMessage.contains("no partition"))
    assert(exec(e, "SELECT count(*) FROM mv").df.get.as[Long].head() === 3L)
    assert(exec(e, "SELECT id FROM mv WHERE v = 'b'").df.get.as[Long].head()
      === 20L)
    // an inherited CHECK violation aborts BEFORE the delete too
    val ex2 = intercept[Exception](
      exec(e, "UPDATE mv SET id = id + 600, v = 'bad' WHERE id = 20"))
    assert(ex2.getMessage.contains("CHECK"))
    assert(exec(e, "SELECT v FROM mv WHERE id = 20").df.get.as[String].head()
      === "b")
    // movement is transactional: the delete and re-insert stage with a
    // user transaction and roll back as one
    exec(e, "BEGIN")
    exec(e, "UPDATE mv SET id = id + 600 WHERE id = 20")
    assert(exec(e, "SELECT count(*) FROM mv_lo").df.get.as[Long].head() === 0L)
    exec(e, "ROLLBACK")
    assert(exec(e, "SELECT id FROM mv WHERE v = 'b'").df.get.as[Long].head()
      === 20L)
    assert(exec(e, "SELECT count(*) FROM mv").df.get.as[Long].head() === 3L)
  }

  test("partitioning: UPDATE/DELETE RETURNING through the parent (r12 verdict #4)") {
    val e = new Engine(spark, tmpDir("router_part_ret"))
    exec(e, "CREATE TABLE rt (id BIGINT NOT NULL, v STRING, n INT, " +
      "PRIMARY KEY (id)) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE rt_lo PARTITION OF rt FOR VALUES FROM (0) TO (100)")
    exec(e, "CREATE TABLE rt_hi PARTITION OF rt DEFAULT")
    exec(e, "INSERT INTO rt VALUES (1, 'a', 1), (50, 'b', 2), " +
      "(150, 'c', 3), (250, 'd', 4)")
    // UPDATE RETURNING answers post-images ACROSS children
    val up = exec(e,
      "UPDATE rt SET n = n * 10 WHERE id IN (50, 150) RETURNING id, n")
    assert(up.affected === 2L)
    assert(up.df.get.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getInt(1))).toSeq === Seq((50L, 20), (150L, 30)))
    // row-movement RETURNING answers the frozen post-SET images
    val mv = exec(e,
      "UPDATE rt SET id = id + 300 WHERE id = 50 RETURNING id, v")
    assert(mv.affected === 1L)
    assert(mv.df.get.collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq === Seq((350L, "b")))
    assert(exec(e, "SELECT count(*) FROM rt_lo").df.get.as[Long].head() === 1L)
    // DELETE RETURNING unions the per-child pre-delete images
    val del = exec(e, "DELETE FROM rt WHERE n >= 20 RETURNING id, v, n")
    assert(del.affected === 2L)
    assert(del.df.get.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
      === Seq((150L, "c", 30), (350L, "b", 20)))
    assert(exec(e, "SELECT count(*) FROM rt").df.get.as[Long].head() === 2L)
    // ORDER BY/LIMIT stay refused through the parent
    intercept[Exception](exec(e, "DELETE FROM rt ORDER BY id LIMIT 1"))
    intercept[Exception](exec(e, "UPDATE rt SET n = 0 LIMIT 1"))
    // time travel on the parent refuses loudly (each partition has its
    // own version history — the parent's own file list is empty at
    // every version, and answering it would be the silent-zero shape)
    val tt = intercept[Exception](
      exec(e, "SELECT * FROM rt VERSION AS OF 1"))
    assert(tt.getMessage.contains("time travel"))
    val hist = e.table("rt_hi").history()
    assert(exec(e, s"SELECT * FROM rt_hi VERSION AS OF ${hist.last}").df.get
      .count() >= 0L) // children time-travel individually
  }

  test("partitioning: column ALTERs recurse to every child (PG semantics)") {
    // round-13 probe: RENAME on a parent "succeeded" while the
    // parent's union kept serving the old column — the silent lie.
    // Column ALTERs now fan to children (subpartition depth included).
    val e = new Engine(spark, tmpDir("router_part_alter"))
    exec(e, "CREATE TABLE pa (id BIGINT, region STRING, v STRING) " +
      "PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE pa_mid PARTITION OF pa " +
      "FOR VALUES FROM (0) TO (100) PARTITION BY LIST (region)")
    exec(e, "CREATE TABLE pa_mid_eu PARTITION OF pa_mid FOR VALUES IN ('eu')")
    exec(e, "CREATE TABLE pa_hi PARTITION OF pa DEFAULT")
    exec(e, "INSERT INTO pa VALUES (1, 'eu', 'a'), (200, 'us', 'b')")
    // ADD COLUMN reaches every leaf and the parent read serves it
    exec(e, "ALTER TABLE pa ADD COLUMN n INT DEFAULT 7 NOT NULL")
    assert(exec(e, "SELECT sum(n) FROM pa").df.get.as[Long].head() === 14L)
    assert(exec(e, "SELECT n FROM pa_mid_eu").df.get.as[Int].head() === 7)
    // RENAME: the parent read serves the NEW name, children agree
    exec(e, "ALTER TABLE pa RENAME COLUMN v TO label")
    assert(exec(e, "SELECT label FROM pa WHERE id = 1").df.get
      .as[String].head() === "a")
    assert(exec(e, "SELECT label FROM pa_hi").df.get.as[String].head() === "b")
    // MODIFY type recurses
    exec(e, "ALTER TABLE pa MODIFY COLUMN n BIGINT")
    assert(exec(e, "SELECT n FROM pa_hi").df.get.as[Long].head() === 7L)
    // SET DEFAULT recurses: a direct child insert sees it
    exec(e, "ALTER TABLE pa ALTER COLUMN label SET DEFAULT 'dflt'")
    exec(e, "INSERT INTO pa_hi (id, region, n) VALUES (300, 'us', 1)")
    assert(exec(e, "SELECT label FROM pa WHERE id = 300").df.get
      .as[String].head() === "dflt")
    // ADD CHECK recurses: a DIRECT child insert can't bypass it
    exec(e, "ALTER TABLE pa ADD CONSTRAINT n_pos CHECK (n >= 0)")
    intercept[Exception](exec(e,
      "INSERT INTO pa_hi VALUES (301, 'us', 'x', -5)"))
    // DROP COLUMN recurses
    exec(e, "ALTER TABLE pa DROP COLUMN label")
    assert(!e.table("pa_mid_eu").schema.fieldNames.contains("label"))
    assert(exec(e, "SELECT count(*) FROM pa").df.get.as[Long].head() === 3L)
    // a mid-fan failure rolls the whole tree back (duplicate column on
    // ONE child pre-created out-of-band)
    exec(e, "CREATE TABLE q (id BIGINT, v STRING) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE q_a PARTITION OF q FOR VALUES FROM (0) TO (10)")
    exec(e, "CREATE TABLE q_b PARTITION OF q DEFAULT")
    exec(e, "ALTER TABLE q_b ADD COLUMN extra INT")
    intercept[Exception](exec(e, "ALTER TABLE q ADD COLUMN extra INT"))
    assert(!e.table("q_a").schema.fieldNames.contains("extra"),
      "mid-fan failure must not leave a half-altered tree")
  }

  test("partitioning: RENAME re-keys partchild/partof pointers") {
    val e = new Engine(spark, tmpDir("router_part_rename"))
    exec(e, "CREATE TABLE rp (id BIGINT NOT NULL, v STRING, " +
      "PRIMARY KEY (id)) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE rp_a PARTITION OF rp FOR VALUES FROM (0) TO (100)")
    exec(e, "CREATE TABLE rp_b PARTITION OF rp DEFAULT")
    exec(e, "INSERT INTO rp VALUES (1, 'x'), (200, 'y')")
    // renaming a CHILD re-keys the parent's partchild entry: reads and
    // routing keep working under the new name
    exec(e, "ALTER TABLE rp_a RENAME TO rp_first")
    assert(exec(e, "SELECT count(*) FROM rp").df.get.as[Long].head() === 2L)
    exec(e, "INSERT INTO rp VALUES (2, 'z')")
    assert(exec(e, "SELECT count(*) FROM rp_first").df.get.as[Long].head()
      === 2L)
    // renaming the PARENT re-points every child's partof: dropping a
    // child under the new parent name detaches cleanly
    exec(e, "RENAME TABLE rp TO rp2")
    assert(exec(e, "SELECT count(*) FROM rp2").df.get.as[Long].head() === 3L)
    exec(e, "DROP TABLE rp_b")
    assert(exec(e, "SELECT count(*) FROM rp2").df.get.as[Long].head() === 2L)
    exec(e, "INSERT INTO rp2 VALUES (3, 'w')")
    assert(exec(e, "SELECT count(*) FROM rp_first").df.get.as[Long].head()
      === 3L)
    // a linked table refuses a cross-database rename, nothing changed
    exec(e, "CREATE DATABASE otherdb")
    intercept[Exception](exec(e, "RENAME TABLE rp_first TO otherdb.rpf"))
    assert(exec(e, "SELECT count(*) FROM rp2").df.get.as[Long].head() === 3L)
  }

  test("partitioning: concurrent child writes place every row (8 children)") {
    val e = new Engine(spark, tmpDir("router_part_par"))
    exec(e, "CREATE TABLE p8 (id BIGINT NOT NULL, v STRING, " +
      "PRIMARY KEY (id)) PARTITION BY RANGE (id)")
    (0 until 8).foreach(i => exec(e,
      s"CREATE TABLE p8_$i PARTITION OF p8 " +
        s"FOR VALUES FROM (${i * 100}) TO (${(i + 1) * 100})"))
    // one routed INSERT spanning all 8 children exercises the
    // concurrent write pool
    exec(e, "INSERT INTO p8 SELECT id, concat('v', id) FROM range(0, 800)")
    (0 until 8).foreach(i =>
      assert(exec(e, s"SELECT count(*) FROM p8_$i").df.get.as[Long].head()
        === 100L, s"child $i"))
    assert(exec(e, "SELECT count(*) FROM p8").df.get.as[Long].head() === 800L)
    // boundary rows landed in the right child, values intact
    assert(exec(e, "SELECT v FROM p8_3 WHERE id = 300").df.get
      .as[String].head() === "v300")
    assert(exec(e, "SELECT v FROM p8_3 WHERE id = 399").df.get
      .as[String].head() === "v399")
  }

  test("partitioning: unique structures must cover the partition key (PG DDL invariant)") {
    val e = new Engine(spark, tmpDir("router_part_cover"))
    // inline PK omitting the partition key refuses at CREATE (PG:
    // "unique constraint ... must include all partitioning columns")
    intercept[Exception](exec(e, "CREATE TABLE bad1 (id BIGINT, k BIGINT, " +
      "PRIMARY KEY (id)) PARTITION BY RANGE (k)"))
    // body UNIQUE KEY omitting it refuses too
    intercept[Exception](exec(e, "CREATE TABLE bad2 (id BIGINT, k BIGINT, " +
      "v STRING, UNIQUE KEY uv (v)) PARTITION BY LIST (k)"))
    // an expression partition key can never be covered by a PK
    intercept[Exception](exec(e, "CREATE TABLE bad3 (id BIGINT, name STRING, " +
      "PRIMARY KEY (id)) PARTITION BY RANGE (lower(name))"))
    assert(e.listTables().isEmpty)
    // covering composite PK is fine; post-hoc uniques check the same way
    exec(e, "CREATE TABLE ok (id BIGINT, k BIGINT, v STRING, " +
      "PRIMARY KEY (id, k)) PARTITION BY RANGE (k)")
    intercept[Exception](exec(e, "CREATE UNIQUE INDEX uv ON ok (v)"))
    exec(e, "CREATE UNIQUE INDEX ukv ON ok (k, v)")
    // pg_dump's post-data ADD CONSTRAINT PRIMARY KEY checks too
    exec(e, "CREATE TABLE ok2 (id BIGINT, k BIGINT) PARTITION BY RANGE (k)")
    intercept[Exception](exec(e,
      "ALTER TABLE ONLY ok2 ADD CONSTRAINT ok2_pkey PRIMARY KEY (id)"))
    exec(e, "ALTER TABLE ONLY ok2 ADD CONSTRAINT ok2_pkey PRIMARY KEY (id, k)")
    // a subpartitioned child inheriting the PK must have ITS key
    // covered as well (PG refuses the recursive index build)
    exec(e, "CREATE TABLE tr (a BIGINT, b STRING, PRIMARY KEY (a)) " +
      "PARTITION BY RANGE (a)")
    intercept[Exception](exec(e, "CREATE TABLE tr_sub PARTITION OF tr " +
      "FOR VALUES FROM (0) TO (10) PARTITION BY LIST (b)"))
    // unique-index DDL recurses to children (PG index builds do):
    // a child-direct ON CONFLICT can then resolve the same arbiter
    exec(e, "CREATE TABLE ok_c1 PARTITION OF ok FOR VALUES FROM (0) TO (10)")
    exec(e, "CREATE UNIQUE INDEX kv2 ON ok (k, v)")
    assert(e.table("ok_c1").uniqueIndexes.contains("kv2"))
    exec(e, "ALTER TABLE ok ADD CONSTRAINT kv3 UNIQUE (k, v)")
    assert(e.table("ok_c1").uniqueIndexes.contains("kv3"))
    exec(e, "DROP INDEX kv2 ON ok")
    assert(!e.table("ok_c1").uniqueIndexes.contains("kv2"))
    exec(e, "DROP INDEX kv3") // PG form: every holder drops it
    assert(!e.table("ok").uniqueIndexes.contains("kv3"))
    assert(!e.table("ok_c1").uniqueIndexes.contains("kv3"))
  }

  test("partitioning: merge-family chain is loop-stable (20 iterations, bit-exact)") {
    // round-12 adjudication: the driver's q111 hash flake traced to a
    // wrong oracle (sf0.1 id collisions), NOT to routeFrame's
    // concurrent child writes — but the merge family is now
    // deterministic-by-construction anyway (serial=true per-child
    // writes in declaration order). This spec locks that in: the
    // exact q111 statement shape, run 20 times from scratch, must
    // produce ONE bit-exact result row set every time.
    def runChain(i: Int): String = {
      val e = new Engine(spark, tmpDir(s"router_loopstab_$i"))
      exec(e, "CREATE TABLE lc (id BIGINT NOT NULL AUTO_INCREMENT, " +
        "v STRING, n INT, PRIMARY KEY (id)) PARTITION BY RANGE (id)")
      exec(e, "CREATE TABLE lc_lo PARTITION OF lc FOR VALUES FROM (1) TO (60)")
      exec(e, "CREATE TABLE lc_hi PARTITION OF lc DEFAULT")
      exec(e, "INSERT INTO lc SELECT id, concat('v', id), 0 FROM range(1, 121)")
      exec(e, "REPLACE INTO lc SELECT id, concat('r', id), 1 " +
        "FROM range(1, 121) WHERE id % 10 = 0")
      exec(e, "INSERT IGNORE INTO lc SELECT id, 'clobber', 9 " +
        "FROM range(1, 121) WHERE id % 7 = 0")
      exec(e, "INSERT INTO lc SELECT id, concat('v', id), 5 FROM range(1, 121) " +
        "WHERE id % 25 = 0 ON DUPLICATE KEY UPDATE n = n + VALUES(n)")
      exec(e, "INSERT INTO lc SELECT id, concat('v', id), 100 " +
        "FROM range(1, 121) WHERE id % 20 = 0 " +
        "ON CONFLICT (id) DO UPDATE SET n = lc.n + excluded.n WHERE lc.n < 5")
      exec(e, "UPDATE lc SET id = id + 200 WHERE id < 60 AND id % 30 = 0")
      val rows = exec(e,
        "SELECT id, v, n FROM lc ORDER BY id, v, n").df.get.collect()
      e.dropTable("lc") // drops the tree; keeps the spark session lean
      rows.map(_.toString).mkString("\n")
    }
    val first = runChain(0)
    (1 until 20).foreach { i =>
      assert(runChain(i) === first, s"iteration $i diverged")
    }
  }

  test("partitioning: two engines route concurrent INSERTs into one tree (r12 verdict #6)") {
    // the journal's 8-writer race lifted to partition trees: two
    // Engine instances over the SAME warehouse interleave routed
    // INSERTs whose slices hit the SAME children — blind appends
    // rebase-and-retry on lost OCC races (GraftTable.commitAppend),
    // so every row lands exactly once and the tree stays consistent.
    val wh = tmpDir("router_part_2eng")
    val e1 = new Engine(spark, wh)
    exec(e1, "CREATE TABLE cr (id BIGINT NOT NULL, v STRING, " +
      "PRIMARY KEY (id)) PARTITION BY RANGE (id)")
    exec(e1, "CREATE TABLE cr_lo PARTITION OF cr FOR VALUES FROM (0) TO (500)")
    exec(e1, "CREATE TABLE cr_hi PARTITION OF cr DEFAULT")
    val e2 = new Engine(spark, wh)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    // each engine fires 6 routed INSERTs of 100 rows spanning BOTH
    // children; id ranges are disjoint across engines
    def worker(e: Engine, base: Long): Thread = new Thread(() => {
      start.await()
      try (0 until 6).foreach { i =>
        val lo = base + i * 100
        exec(e, s"INSERT INTO cr SELECT id, concat('v', id) " +
          s"FROM range($lo, ${lo + 100})")
      } catch { case t: Throwable => errs.add(t) }
    })
    val ts = Seq(worker(e1, 0L), worker(e2, 2000L))
    ts.foreach(_.start()); start.countDown(); ts.foreach(_.join())
    assert(errs.isEmpty, s"concurrent routed INSERT failed: ${errs.peek()}")
    // every row exactly once, each in the right child
    val fresh = new Engine(spark, wh)
    assert(exec(fresh, "SELECT count(*) FROM cr").df.get.as[Long].head()
      === 1200L)
    assert(exec(fresh, "SELECT count(DISTINCT id) FROM cr").df.get
      .as[Long].head() === 1200L)
    assert(exec(fresh, "SELECT count(*) FROM cr_lo").df.get.as[Long].head()
      === 500L)
    assert(exec(fresh, "SELECT count(*) FROM cr_hi").df.get.as[Long].head()
      === 700L)
  }

  test("partitioning: cross-engine merge conflicts stay LOUD (no silent lost update)") {
    // blind appends rebase-and-retry (commitAppend), but file-list-
    // REPLACING merge writes must NOT: their read set (the files they
    // rewrote) is stale after a lost race, and a silent retry could
    // resurrect a row the winner replaced. Contract: the loser throws;
    // the table stays exactly the winner's state.
    val wh = tmpDir("router_merge_race")
    val e1 = new Engine(spark, wh)
    exec(e1, "CREATE TABLE mrace (id BIGINT NOT NULL, v STRING, " +
      "PRIMARY KEY (id))")
    exec(e1, "INSERT INTO mrace VALUES (1, 'base')")
    val e2 = new Engine(spark, wh)
    // e1 stages a merge read against the current version, e2 commits a
    // replace first — e1's commit must fail loudly
    val t1 = e1.table("mrace")
    val base = t1.manifest
    exec(e2, "REPLACE INTO mrace VALUES (1, 'winner')")
    val ex = intercept[Exception] {
      // direct low-level collision: replay a commit on the stale base
      graft.storage.Manifest.commit(t1.path,
        base.withFiles(base.files, Map.empty))
    }
    assert(ex.isInstanceOf[java.util.ConcurrentModificationException])
    assert(exec(e1, "SELECT v FROM mrace WHERE id = 1").df.get
      .as[String].head() === "winner")
  }

  test("partitioning: routed INSERT is single-pass — one source scan for N children") {
    // round-12 verdict #2: the old shape was checkpoint + groupBy-count
    // + one filtered re-read PER child (3 + N jobs). The single-pass
    // shape is ONE partitionBy write job (+1 footer-less manifest
    // commit per child, no Spark job), so a 6-child insert with no
    // auto-inc and no CHECKs runs exactly one job.
    val e = new Engine(spark, tmpDir("router_part_onepass"))
    exec(e, "CREATE TABLE sp (id BIGINT, v STRING) PARTITION BY RANGE (id)")
    (0 until 6).foreach(i => exec(e,
      s"CREATE TABLE sp_$i PARTITION OF sp " +
        s"FOR VALUES FROM (${i * 100}) TO (${(i + 1) * 100})"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      exec(e, "INSERT INTO sp SELECT id, concat('v', id) FROM range(0, 600)")
      // listener events post asynchronously — wait for the bus to
      // drain (bounded retry keeps the spec deterministic)
      var waited = 0
      while (jobs.get() == 0 && waited < 100) { Thread.sleep(50); waited += 1 }
      Thread.sleep(300) // absorb any stragglers before asserting an upper bound
      assert(jobs.get() === 1,
        s"routed INSERT ran ${jobs.get()} jobs — expected the single " +
          "partitionBy write")
    } finally spark.sparkContext.removeSparkListener(listener)
    // and the rows all landed
    (0 until 6).foreach(i =>
      assert(exec(e, s"SELECT count(*) FROM sp_$i").df.get.as[Long].head()
        === 100L, s"child $i"))
    assert(exec(e, "SELECT count(*) FROM sp").df.get.as[Long].head() === 600L)
  }

  test("partitioning: COPY TO / CHECKSUM / ANALYZE / VACUUM see the union") {
    val e = new Engine(spark, tmpDir("router_part_maint"))
    exec(e, "CREATE TABLE mp (id BIGINT NOT NULL, v STRING, " +
      "PRIMARY KEY (id)) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE mp_lo PARTITION OF mp FOR VALUES FROM (0) TO (50)")
    exec(e, "CREATE TABLE mp_hi PARTITION OF mp DEFAULT")
    exec(e, "INSERT INTO mp VALUES (1, 'a'), (60, 'b'), (70, 'c')")
    // COPY parent TO exports the children's union, not an empty file
    val out = tmpDir("router_part_copyto").resolve("mp.csv").toString
    exec(e, s"COPY mp TO '$out' (FORMAT CSV, HEADER)")
    val lines = scala.io.Source.fromFile(out).getLines().toList
    assert(lines.length === 4) // header + 3 rows
    // CHECKSUM TABLE folds the union (a file-less parent would be 0)
    val ck = exec(e, "CHECKSUM TABLE mp").df.get.collect()(0).getLong(1)
    val ckLo = exec(e, "CHECKSUM TABLE mp_lo").df.get.collect()(0).getLong(1)
    assert(ck !== 0L)
    assert(ck !== ckLo)
    // ANALYZE records the union's rowCount on the parent
    exec(e, "ANALYZE TABLE mp")
    assert(e.table("mp").manifest.props("stats.rowCount") === "3")
    assert(e.table("mp_hi").manifest.props("stats.rowCount") === "2")
    // VACUUM visits every node: a crash-orphaned single-pass staging
    // dir under the PARENT is age-gated away (round 13)
    val orphan = e.table("mp").path.resolve("ingest").resolve("dead-run")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.writeString(orphan.resolve("part-0.parquet"), "x")
    exec(e, "VACUUM mp") // default age gate: young orphan survives
    assert(java.nio.file.Files.exists(orphan))
    exec(e, "VACUUM mp RETAIN 0 SECONDS")
    assert(!java.nio.file.Files.exists(orphan),
      "aged ingest orphan must be reclaimed")
    exec(e, "OPTIMIZE mp")
    assert(exec(e, "SELECT count(*) FROM mp").df.get.as[Long].head() === 3L)
  }

  test("partitioning: MySQL partition trailers accept-and-ignore; PG trailers route") {
    // r12 verdict #7: the BARE (non-comment) MySQL partition trailer —
    // explicit list / PARTITIONS n / KEY / COLUMNS — is a no-op table
    // option like the reference's GMS path treats it: the table
    // creates PLAIN (never a bogus PG parent that rejects every
    // write), a Note lands in the diagnostics area, and writes work.
    val e = new Engine(spark, tmpDir("router_part_mysql"))
    exec(e,
      "CREATE TABLE m (id BIGINT, v STRING) PARTITION BY RANGE (id) " +
        "(PARTITION p0 VALUES LESS THAN (6), PARTITION p1 VALUES LESS THAN (10))")
    assert(e.table("m").partitionBy === None)
    val w = exec(e, "SHOW WARNINGS").df.get.collect()
    assert(w.exists(_.getString(2).contains("PARTITION BY clause ignored")))
    exec(e, "INSERT INTO m VALUES (3, 'a'), (8, 'b')")
    assert(exec(e, "SELECT count(*) FROM m").df.get.as[Long].head() === 2L)
    exec(e,
      "CREATE TABLE m2 (id BIGINT, v STRING) PARTITION BY HASH (id) PARTITIONS 4")
    assert(e.table("m2").partitionBy === None)
    exec(e, "CREATE TABLE m3 (a BIGINT, b STRING) PARTITION BY KEY (a)")
    assert(e.table("m3").partitionBy === None)
    exec(e, "CREATE TABLE m4 (a BIGINT, d DATE) " +
      "PARTITION BY RANGE COLUMNS(d) (PARTITION p0 VALUES LESS THAN ('2020-01-01'))")
    assert(e.table("m4").partitionBy === None)
    exec(e, "DROP TABLE m")
    exec(e, "DROP TABLE m2")
    exec(e, "DROP TABLE m3")
    exec(e, "DROP TABLE m4")
    assert(e.listTables().isEmpty)
    // SHOW CREATE round-trips the PG parent's PARTITION BY trailer
    exec(e, "CREATE TABLE pt (id BIGINT, v STRING) PARTITION BY RANGE (id)")
    val show = exec(e, "SHOW CREATE TABLE pt").df.get.collect()(0).getString(1)
    assert(show.contains("PARTITION BY RANGE (id)"), show)
    exec(e, "DROP TABLE pt")
    exec(e, show) // replays as a partitioned parent
    assert(e.table("pt").partitionBy === Some("RANGE (id)"))
  }

  test("DROP DATABASE: IF EXISTS tolerated, CASCADE/RESTRICT trailers route") {
    val e = new Engine(spark, tmpDir("router_dropdb"))
    exec(e, "CREATE DATABASE d1")
    exec(e, "DROP DATABASE d1 CASCADE") // PG DROP SCHEMA spelling
    assert(!e.listDatabases().contains("d1"))
    // explicit RESTRICT refuses a NON-EMPTY database (PG semantics) —
    // the trailer-tolerant arm must not silently destroy its tables
    exec(e, "CREATE DATABASE d3")
    exec(e, "USE d3")
    exec(e, "CREATE TABLE keepme (id BIGINT)")
    exec(e, "USE main")
    intercept[Exception](exec(e, "DROP DATABASE d3 RESTRICT"))
    assert(e.listDatabases().contains("d3"), "RESTRICT dropped a non-empty db")
    exec(e, "DROP DATABASE d3 CASCADE")
    exec(e, "DROP DATABASE IF EXISTS d1") // absent: a tolerated no-op
    intercept[Exception](exec(e, "DROP DATABASE d1")) // bare form stays loud
    exec(e, "CREATE DATABASE d2")
    exec(e, "DROP DATABASE IF EXISTS d2")
    assert(!e.listDatabases().contains("d2"))
  }

  test("partitioning: child-local CHECK enforced on rows routed through the parent") {
    // r13 advice (medium): the single-pass ingest enforced only the
    // PARENT's CHECKs; a CHECK added directly to one child must still
    // reject rows routed into it (PG semantics), while the other
    // children keep the adoption fast path.
    val e = new Engine(spark, tmpDir("router_part_childck"))
    exec(e, "CREATE TABLE ck (id BIGINT, v STRING) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE ck_a PARTITION OF ck FOR VALUES FROM (0) TO (100)")
    exec(e, "CREATE TABLE ck_b PARTITION OF ck DEFAULT")
    exec(e, "ALTER TABLE ck_a ADD CONSTRAINT no_bad CHECK (v <> 'bad')")
    // 'bad' routed to ck_b: only the parent's (empty) rules apply there
    exec(e, "INSERT INTO ck VALUES (200, 'bad')")
    // clean rows into the guarded child take the logical fallback
    exec(e, "INSERT INTO ck VALUES (5, 'ok'), (6, 'fine')")
    // a violating row routed into the guarded child is LOUD...
    val ex = intercept[Exception](exec(e, "INSERT INTO ck VALUES (7, 'bad')"))
    assert(ex.getMessage.contains("no_bad"))
    // ...and nothing of the failed statement landed
    assert(exec(e, "SELECT count(*) FROM ck").df.get.as[Long].head() === 3L)
    assert(exec(e, "SELECT count(*) FROM ck_a").df.get.as[Long].head() === 2L)
    // a child-local generated column diverges the same way: fallback
    // recomputes it with the LEAF's rule instead of adopting raw bytes
    exec(e, "INSERT INTO ck VALUES (8, 'bad2')") // ck_a accepts non-'bad'
    assert(exec(e, "SELECT v FROM ck_a WHERE id = 8").df.get
      .as[String].head() === "bad2")
  }

  test("partitioning: routed explicit ids advance MID-LEVEL parents' counters") {
    // r13 advice (low): single-pass adoption advanced only the ROOT's
    // A23 counter; an auto-assign INSERT aimed at a mid-level parent
    // then read a stale counter and could mint ids duplicating routed
    // explicit ones. Every mid-level node on the path to a hit leaf
    // must advance, like routeFrame's per-level pass did.
    val e = new Engine(spark, tmpDir("router_part_midinc"))
    exec(e, "CREATE TABLE ar (id BIGINT NOT NULL AUTO_INCREMENT, " +
      "v STRING, PRIMARY KEY (id)) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE ar_mid PARTITION OF ar " +
      "FOR VALUES FROM (0) TO (1000) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE ar_mid_a PARTITION OF ar_mid " +
      "FOR VALUES FROM (0) TO (500)")
    exec(e, "CREATE TABLE ar_mid_b PARTITION OF ar_mid " +
      "FOR VALUES FROM (500) TO (1000)")
    exec(e, "CREATE TABLE ar_hi PARTITION OF ar DEFAULT")
    // explicit ids 1..39 routed through the ROOT (single-pass adopt)
    exec(e, "INSERT INTO ar SELECT id, concat('v', id) FROM range(1, 40)")
    // auto-assign at the MID level: its counter must have advanced
    exec(e, "INSERT INTO ar_mid (v) VALUES ('auto')")
    val autoId = exec(e, "SELECT id FROM ar_mid WHERE v = 'auto'")
      .df.get.as[Long].head()
    assert(autoId === 40L, s"mid-level counter was stale: minted $autoId")
    // no duplicate ids anywhere in the tree
    val (n, d) = exec(e,
      "SELECT count(*), count(DISTINCT id) FROM ar").df.get
      .as[(Long, Long)].head()
    assert(n === 40L && d === 40L)
  }

  test("DROP INDEX bare form: multi-root ambiguity errors, tree copies drop") {
    // r13 advice (low): the bare-PG spelling dropped the name from
    // EVERY table; index names are per-manifest here, so an unrelated
    // table's live arbiter silently vanished. r15 verdict #8 tightens
    // the r13 first-root-wins + warning to a loud ERROR (PG raises on
    // ambiguity; a silent wrong-table drop is the worst failure class
    // for a dump replay). Unambiguous bare drops still recurse their
    // fanned subtree copies.
    val e = new Engine(spark, tmpDir("router_dropidx"))
    exec(e, "CREATE TABLE pa (id BIGINT NOT NULL, em STRING, " +
      "PRIMARY KEY (id)) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE pa_lo PARTITION OF pa FOR VALUES FROM (0) TO (10)")
    exec(e, "CREATE TABLE zz (id BIGINT PRIMARY KEY, em STRING)")
    exec(e, "CREATE UNIQUE INDEX uq_em ON pa (em, id)")
    exec(e, "CREATE UNIQUE INDEX uq_em ON zz (em)")
    assert(e.table("pa_lo").uniqueIndexes.contains("uq_em")) // fanned copy
    val ex = intercept[IllegalArgumentException] {
      exec(e, "DROP INDEX uq_em") // bare PG form, two unrelated roots
    }
    assert(ex.getMessage.contains("ambiguous") &&
      ex.getMessage.contains("ON <table>"),
      s"multi-root bare drop must error with the qualified form: $ex")
    assert(e.table("pa").uniqueIndexes.contains("uq_em") &&
      e.table("zz").uniqueIndexes.contains("uq_em"),
      "an ambiguous drop must change NOTHING")
    // the MySQL qualified spelling disambiguates and recurses the tree
    exec(e, "DROP INDEX uq_em ON pa")
    assert(!e.table("pa").uniqueIndexes.contains("uq_em"))
    assert(!e.table("pa_lo").uniqueIndexes.contains("uq_em"),
      "fanned subtree copy must drop with the root")
    assert(e.table("zz").uniqueIndexes.contains("uq_em"),
      "unrelated same-named index must survive")
    // now unambiguous: the bare form removes the remaining holder
    exec(e, "DROP INDEX uq_em")
    assert(!e.table("zz").uniqueIndexes.contains("uq_em"))
    // r14 ADVICE: a bare drop NO table holds is no longer a silent
    // no-op — it surfaces a warning (not an error: plain non-unique
    // indexes are accepted-and-dropped at CREATE, so their later DROP
    // is legitimate dump-replay traffic). IF EXISTS stays silent.
    e.clearWarnings()
    exec(e, "DROP INDEX uq_em")
    assert(e.warnings.exists(_._3.contains("uq_em")),
      "no-holder bare DROP INDEX must surface a warning")
    e.clearWarnings()
    exec(e, "DROP INDEX IF EXISTS uq_em")
    assert(!e.warnings.exists(_._3.contains("uq_em")),
      "IF EXISTS keeps the no-op form silent")
  }
}
