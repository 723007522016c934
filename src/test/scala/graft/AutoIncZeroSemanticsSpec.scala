package graft

/** Round-13 verdict #5: explicit 0 through an AUTO_INCREMENT column.
  * DECIDED semantics (Manifest.withFiles scaladoc): the engine behaves
  * as if MySQL's NO_AUTO_VALUE_ON_ZERO mode were always on —
  *  - explicit 0 is STORED LITERALLY (default MySQL would re-assign;
  *    PG identity and the 0-based testdata keys both want the literal),
  *  - explicit NULL in a literal VALUES batch where EVERY tuple is
  *    NULL at the auto position IS an assign trigger (round 15, r14
  *    ADVICE: the `INSERT INTO t VALUES (NULL, ...)` mysqldump/ORM
  *    replay shape) — a purely syntactic rewrite to the omitted form,
  *  - every OTHER explicit NULL (mixed batches, SELECT sources,
  *    UPDATE-to-NULL, PG identity columns) stays a LOUD error,
  *  - assignment otherwise happens only when the column is OMITTED.
  * These pins keep dump replays and the q111 oracle (custkeys start at
  * 0) deterministic across rounds. */
class AutoIncZeroSemanticsSpec extends SparkSpec {
  import spark.implicits._

  private def exec(e: Engine, q: String) = SqlRouter.execute(e, q)

  test("explicit 0 is stored literally and the counter still advances past max") {
    val e = new Engine(spark, tmpDir("autoinc_zero"))
    exec(e, "CREATE TABLE t (id BIGINT NOT NULL AUTO_INCREMENT, v STRING, " +
      "PRIMARY KEY (id))")
    exec(e, "INSERT INTO t VALUES (0, 'zero'), (5, 'five')")
    // 0 survives as 0 — NOT re-assigned to the next counter value
    assert(exec(e, "SELECT v FROM t WHERE id = 0").df.get
      .as[String].head() === "zero")
    // the explicit batch advanced the counter past ITS max (5 -> 6),
    // and the 0 row neither re-assigned nor stalled the counter at 1
    exec(e, "INSERT INTO t (v) VALUES ('auto')")
    assert(exec(e, "SELECT id FROM t WHERE v = 'auto'").df.get
      .as[Long].head() === 6L)
    assert(exec(e, "SELECT count(*), count(DISTINCT id) FROM t").df.get
      .as[(Long, Long)].head() === ((3L, 3L)))
  }

  test("all-NULL VALUES batch assigns ids (mysqldump replay); mixed stays loud") {
    val e = new Engine(spark, tmpDir("autoinc_null"))
    exec(e, "CREATE TABLE t (id BIGINT NOT NULL AUTO_INCREMENT, v STRING, " +
      "PRIMARY KEY (id))")
    // the dump-replay shape: NULL at the auto position in EVERY tuple
    // is MySQL's assign trigger (r14 ADVICE — r13 pinned this loud,
    // which broke standard `INSERT ... VALUES (NULL, ...)` replays)
    exec(e, "INSERT INTO t VALUES (NULL, 'x'), (NULL, 'y')")
    assert(exec(e, "SELECT id, v FROM t ORDER BY id").df.get
      .as[(Long, String)].collect().toSeq === Seq((1L, "x"), (2L, "y")))
    assert(e.getVar("last_insert_id").contains("1"))
    // explicit column list spelling too
    exec(e, "INSERT INTO t (id, v) VALUES (NULL, 'z')")
    assert(exec(e, "SELECT max(id) FROM t").df.get.as[Long].head() === 3L)
    // MIXED batch (one NULL, one explicit) keeps the loud guard: MySQL
    // would sequence per row; a silent half-assign would corrupt keys
    intercept[Exception](
      exec(e, "INSERT INTO t VALUES (NULL, 'm1'), (50, 'm2')"))
    // SELECT sources with NULL ids stay loud too (not a literal batch)
    intercept[Exception](
      exec(e, "INSERT INTO t SELECT NULL, 'q' FROM t WHERE id = 1"))
    assert(exec(e, "SELECT count(*) FROM t").df.get.as[Long].head() === 3L)
    // the same rule holds for IGNORE, REPLACE and ODKU
    exec(e, "INSERT IGNORE INTO t VALUES (NULL, 'i')")
    exec(e, "REPLACE INTO t VALUES (NULL, 'r')")
    exec(e, "INSERT INTO t VALUES (NULL, 'o') ON DUPLICATE KEY UPDATE v = 'dup'")
    assert(exec(e, "SELECT id, v FROM t WHERE id > 3 ORDER BY id").df.get
      .as[(Long, String)].collect().toSeq === Seq((4L, "i"), (5L, "r"), (6L, "o")))
    assert(e.getVar("last_insert_id").contains("6"))
    intercept[Exception](
      exec(e, "INSERT IGNORE INTO t VALUES (NULL, 'm3'), (60, 'm4')"))
    // a NULL id is a fresh id: IGNORE arbitrates on the one unique key
    exec(e, "CREATE TABLE tu (id BIGINT NOT NULL AUTO_INCREMENT, em STRING, " +
      "PRIMARY KEY (id), UNIQUE KEY uq_em (em))")
    exec(e, "INSERT INTO tu VALUES (NULL, 'a')")
    assert(exec(e, "INSERT IGNORE INTO tu VALUES (NULL, 'a'), (NULL, 'b')")
      .affected === 1L)
    assert(exec(e, "SELECT em FROM tu ORDER BY em").df.get.as[String]
      .collect().toSeq === Seq("a", "b"))
    // and through a partitioned parent, which owns the counter
    exec(e, "CREATE TABLE pp (id BIGINT NOT NULL AUTO_INCREMENT, v STRING, " +
      "PRIMARY KEY (id)) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE pp_lo PARTITION OF pp FOR VALUES FROM (0) TO (100)")
    exec(e, "CREATE TABLE pp_hi PARTITION OF pp FOR VALUES FROM (100) TO (1000)")
    exec(e, "INSERT INTO pp VALUES (NULL, 'a')")
    exec(e, "INSERT IGNORE INTO pp VALUES (NULL, 'b')")
    exec(e, "REPLACE INTO pp VALUES (NULL, 'c')")
    exec(e, "INSERT INTO pp VALUES (NULL, 'd') ON DUPLICATE KEY UPDATE v = 'dup'")
    assert(exec(e, "SELECT id, v FROM pp_lo ORDER BY id").df.get
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    intercept[Exception](
      exec(e, "INSERT IGNORE INTO pp VALUES (NULL, 'm5'), (150, 'm6')"))
    assert(exec(e, "SELECT count(*) FROM pp").df.get.as[Long].head() === 4L)
  }

  test("explicit NULL into a PG identity column stays loud (PG raises)") {
    val e = new Engine(spark, tmpDir("autoinc_null_ident"))
    exec(e, "CREATE TABLE t (id BIGINT GENERATED BY DEFAULT AS IDENTITY, " +
      "v STRING, PRIMARY KEY (id))")
    intercept[Exception](exec(e, "INSERT INTO t VALUES (NULL, 'x')"))
    assert(exec(e, "SELECT count(*) FROM t").df.get.as[Long].head() === 0L)
  }

  test("UPDATE that nulls a NOT NULL / PK column is loud, nothing committed") {
    val e = new Engine(spark, tmpDir("autoinc_updnull"))
    exec(e, "CREATE TABLE t (id BIGINT NOT NULL AUTO_INCREMENT, v STRING, " +
      "PRIMARY KEY (id))")
    exec(e, "INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    intercept[Exception](exec(e, "UPDATE t SET id = NULL WHERE id = 2"))
    // the copy-on-write rewrite aborted before its manifest commit
    assert(exec(e, "SELECT count(*), CAST(min(id) AS BIGINT), " +
      "CAST(max(id) AS BIGINT) FROM t").df.get
      .as[(Long, Long, Long)].head() === ((2L, 1L, 2L)))
  }

  test("merge family assigns OMITTED auto-inc ids (was: silent NULL id)") {
    val e = new Engine(spark, tmpDir("autoinc_merge"))
    exec(e, "CREATE TABLE t (id BIGINT NOT NULL AUTO_INCREMENT, em STRING, " +
      "n INT, PRIMARY KEY (id), UNIQUE KEY uq_em (em))")
    // every arm of the family with the id column omitted:
    exec(e, "INSERT IGNORE INTO t (em, n) VALUES ('a', 1)") // id 1
    exec(e, "REPLACE INTO t (em, n) VALUES ('b', 2)") // id 2
    exec(e, "INSERT INTO t (em, n) VALUES ('c', 3) " +
      "ON DUPLICATE KEY UPDATE n = n + 1") // id 3
    // the arm the round-14 review caught: non-partitioned ON CONFLICT
    // DO UPDATE without RETURNING (previously default-filled NULL id)
    exec(e, "INSERT INTO t (em, n) VALUES ('d', 4) " +
      "ON CONFLICT (em) DO UPDATE SET n = t.n + excluded.n") // id 4
    exec(e, "INSERT INTO t (em, n) VALUES ('a', 9) " +
      "ON CONFLICT (em) DO UPDATE SET n = t.n + excluded.n") // update, id burns
    val rows = exec(e, "SELECT id, em, n FROM t ORDER BY id").df.get
      .as[(Long, String, Int)].collect().toSeq
    assert(rows.map(_._2) === Seq("a", "b", "c", "d"))
    assert(rows.map(_._1) === Seq(1L, 2L, 3L, 4L), s"ids were $rows")
    assert(rows.head._3 === 10) // the guarded update applied
  }

  test("LAST_INSERT_ID untouched when IGNORE / DO NOTHING inserts nothing") {
    val e = new Engine(spark, tmpDir("autoinc_lid"))
    exec(e, "CREATE TABLE t (id BIGINT NOT NULL AUTO_INCREMENT, em STRING, " +
      "PRIMARY KEY (id), UNIQUE KEY uq_em (em))")
    exec(e, "INSERT INTO t (em) VALUES ('a')")
    assert(e.getVar("last_insert_id").contains("1"))
    // all-conflict DO NOTHING: zero rows insert, the session var and
    // the stored ids stay as they were (the burned counter may move)
    exec(e, "INSERT INTO t (em) VALUES ('a') ON CONFLICT (em) DO NOTHING")
    assert(e.getVar("last_insert_id").contains("1"),
      "LAST_INSERT_ID moved on a zero-insert statement")
    assert(exec(e, "SELECT count(*) FROM t").df.get.as[Long].head() === 1L)
    // all-duplicate column-list LOAD DATA IGNORE, auto key omitted:
    // ids assign (and burn) while the file is read, the same restore
    // leaves LAST_INSERT_ID where it was
    val f = java.nio.file.Files.createTempFile("autoinc_lid_load", ".tsv")
    java.nio.file.Files.write(f, "a\n".getBytes("UTF-8"))
    assert(exec(e, s"LOAD DATA INFILE '$f' IGNORE INTO TABLE t (em)")
      .affected === 0L)
    assert(e.getVar("last_insert_id").contains("1"),
      "LAST_INSERT_ID moved on a zero-insert LOAD DATA IGNORE")
    assert(exec(e, "SELECT count(*) FROM t").df.get.as[Long].head() === 1L)
  }

  test("LAST_INSERT_ID untouched when ODKU / DO UPDATE only updates") {
    // r14 ADVICE: the affected count is NONZERO for a pure-update
    // batch, so the IGNORE-style inserted==0 restore must key on the
    // merge's actual insert count, not on affected
    val e = new Engine(spark, tmpDir("autoinc_lid_odku"))
    exec(e, "CREATE TABLE t (id BIGINT NOT NULL AUTO_INCREMENT, em STRING, " +
      "n INT, PRIMARY KEY (id), UNIQUE KEY uq_em (em))")
    exec(e, "INSERT INTO t (em, n) VALUES ('a', 1)")
    assert(e.getVar("last_insert_id").contains("1"))
    // all-conflict ODKU: updates only — MySQL leaves LAST_INSERT_ID()
    exec(e, "INSERT INTO t (em, n) VALUES ('a', 5) " +
      "ON DUPLICATE KEY UPDATE n = n + VALUES(n)")
    assert(e.getVar("last_insert_id").contains("1"),
      "LAST_INSERT_ID moved on an update-only ODKU batch")
    // all-conflict PG DO UPDATE: same contract
    exec(e, "INSERT INTO t (em, n) VALUES ('a', 7) " +
      "ON CONFLICT (em) DO UPDATE SET n = t.n + excluded.n")
    assert(e.getVar("last_insert_id").contains("1"),
      "LAST_INSERT_ID moved on an update-only DO UPDATE batch")
    // a batch that DOES insert moves it to the first assigned id
    exec(e, "INSERT INTO t (em, n) VALUES ('b', 2) " +
      "ON DUPLICATE KEY UPDATE n = n + VALUES(n)")
    assert(exec(e, "SELECT CAST(max(id) AS BIGINT) FROM t").df.get
      .as[Long].head() > 1L)
    assert(!e.getVar("last_insert_id").contains("1"),
      "LAST_INSERT_ID must advance when the upsert batch inserts")
    assert(exec(e, "SELECT n FROM t WHERE em = 'a'").df.get
      .as[Int].head() === 13)
  }

  test("REPLACE keys on the single unique arbiter when the auto PK is omitted") {
    // MySQL REPLACE deletes rows conflicting on ANY unique key; with
    // the PK omitted (fresh ids can't conflict) the one recorded
    // unique index is the arbiter — the old row dies, the replacement
    // carries a NEW auto id (r15)
    val e = new Engine(spark, tmpDir("autoinc_replace_uq"))
    exec(e, "CREATE TABLE t (id BIGINT NOT NULL AUTO_INCREMENT, em STRING, " +
      "n INT, PRIMARY KEY (id), UNIQUE KEY uq_em (em))")
    exec(e, "INSERT INTO t (em, n) VALUES ('a', 1)") // id 1
    exec(e, "REPLACE INTO t (em, n) VALUES ('a', 9)") // kills id 1, id 2
    assert(exec(e, "SELECT id, em, n FROM t ORDER BY id").df.get
      .as[(Long, String, Int)].collect().toSeq === Seq((2L, "a", 9)))
    exec(e, "REPLACE INTO t (em, n) VALUES ('b', 3)") // no conflict, id 3
    assert(exec(e, "SELECT id, em, n FROM t ORDER BY id").df.get
      .as[(Long, String, Int)].collect().toSeq ===
      Seq((2L, "a", 9), (3L, "b", 3)))
  }

  test("NULL unique-arbiter values never conflict (PG/MySQL semantics)") {
    // a unique index admits any number of NULLs: in-batch NULL rows
    // must not condense to one survivor, and NULL never matches a
    // stored NULL — every arbiter-keyed arm INSERTS them (r15)
    val e = new Engine(spark, tmpDir("autoinc_null_arb"))
    exec(e, "CREATE TABLE t (id BIGINT NOT NULL AUTO_INCREMENT, em STRING, " +
      "n INT, PRIMARY KEY (id), UNIQUE KEY uq_em (em))")
    exec(e, "INSERT IGNORE INTO t (em, n) VALUES (NULL, 1), (NULL, 2)")
    assert(exec(e, "SELECT count(*) FROM t").df.get.as[Long].head() === 2L,
      "both in-batch NULL-arbiter rows must insert")
    exec(e, "INSERT INTO t (em, n) VALUES (NULL, 3) " +
      "ON DUPLICATE KEY UPDATE n = n + 100") // no conflict with stored NULLs
    exec(e, "REPLACE INTO t (em, n) VALUES (NULL, 4), (NULL, 5)")
    assert(exec(e, "SELECT count(*), CAST(max(n) AS INT), " +
      "count(DISTINCT id) FROM t").df.get
      .as[(Long, Int, Long)].head() === ((5L, 5, 5L)),
      "NULL arbiter rows insert, never update or replace")
    // the best-effort uniqueness audit must not flag the NULL group
    assert(e.table("t").checkUnique(Seq("em")).count() === 0L,
      "multiple NULL unique values are not a violation")
  }

  test("volatile/now-family merge sources freeze: one stamp across children") {
    val e = new Engine(spark, tmpDir("autoinc_volatile"))
    exec(e, "CREATE TABLE v (id BIGINT NOT NULL, ts TIMESTAMP, " +
      "PRIMARY KEY (id)) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE v_lo PARTITION OF v FOR VALUES FROM (0) TO (50)")
    exec(e, "CREATE TABLE v_hi PARTITION OF v DEFAULT")
    // now() reports deterministic=true but is stamped PER
    // QueryExecution: without the freeze each child's write (its own
    // execution) would store a different timestamp
    exec(e, "REPLACE INTO v SELECT id, current_timestamp() FROM range(0, 100)")
    assert(exec(e, "SELECT count(*) FROM v").df.get.as[Long].head() === 100L)
    assert(exec(e, "SELECT count(DISTINCT ts) FROM v").df.get
      .as[Long].head() === 1L, "now() re-stamped across child writes")
  }

  test("explicit 0 through a PARTITIONED parent routes and stays literal") {
    val e = new Engine(spark, tmpDir("autoinc_zero_part"))
    exec(e, "CREATE TABLE p (id BIGINT NOT NULL AUTO_INCREMENT, v STRING, " +
      "PRIMARY KEY (id)) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE p_lo PARTITION OF p FOR VALUES FROM (0) TO (10)")
    exec(e, "CREATE TABLE p_hi PARTITION OF p DEFAULT")
    exec(e, "INSERT INTO p VALUES (0, 'zero'), (50, 'fifty')")
    assert(exec(e, "SELECT v FROM p_lo WHERE id = 0").df.get
      .as[String].head() === "zero")
    exec(e, "INSERT INTO p (v) VALUES ('auto')") // counter -> 51
    assert(exec(e, "SELECT id FROM p WHERE v = 'auto'").df.get
      .as[Long].head() === 51L)
  }

  test("a DECIMAL auto-increment key routed through a parent advances by value") {
    // parquet stores DECIMAL(10,2) as INT64 unscaled: a footer max of
    // 5.00 reads 500, and taking it as the key pushed the counter to 501
    val e = new Engine(spark, tmpDir("autoinc_decimal_part"))
    exec(e, "CREATE TABLE d (id DECIMAL(10,2) NOT NULL AUTO_INCREMENT, v STRING, " +
      "PRIMARY KEY (id)) PARTITION BY RANGE (id)")
    exec(e, "CREATE TABLE d_lo PARTITION OF d FOR VALUES FROM (0) TO (10)")
    exec(e, "CREATE TABLE d_hi PARTITION OF d DEFAULT")
    exec(e, "INSERT INTO d VALUES (5.00, 'five')")
    exec(e, "INSERT INTO d (v) VALUES ('auto')") // counter -> 6
    assert(exec(e, "SELECT CAST(id AS BIGINT) FROM d WHERE v = 'auto'").df.get
      .as[Long].head() === 6L)
  }
}
