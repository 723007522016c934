package graft

import graft.SqlRouter.executeScript

/** Dump-replay end-to-end (reference: the dump/shell ingest path,
  * `main_test.go:840-869`, `test/bats/mysql/load_data.bats`): feed a
  * `mysqldump --single-transaction`-shaped script and a pg_dump-shaped
  * COPY script through [[SqlRouter.executeScript]] verbatim — comments,
  * conditional comments, backticks, LOCK TABLES, table options, KEY
  * entries, multi-row INSERTs, SETs, post-data ALTER ADD CONSTRAINT —
  * and check the end state equals the rows the dump encodes. */
class DumpReplaySpec extends SparkSpec {
  import spark.implicits._

  test("mysqldump-shaped script replays to the exact table state") {
    val e = new Engine(spark, tmpDir("dump_mysql"))
    val script =
      """-- MySQL dump 10.13  Distrib 8.0.32, for Linux (x86_64)
        |--
        |-- Host: localhost    Database: shop
        |-- ------------------------------------------------------
        |/*!40101 SET @OLD_CHARACTER_SET_CLIENT=@@CHARACTER_SET_CLIENT */;
        |/*!40103 SET TIME_ZONE='+00:00' */;
        |
        |DROP TABLE IF EXISTS `alltypes`;
        |CREATE TABLE `alltypes` (
        |  `id` int NOT NULL,
        |  `c_small` smallint DEFAULT NULL,
        |  `c_dec` decimal(10,2) NOT NULL DEFAULT '0.00',
        |  `c_txt` varchar(100) DEFAULT NULL,
        |  `c_dt` datetime DEFAULT NULL,
        |  `c_enum` enum('low','high') DEFAULT 'low',
        |  PRIMARY KEY (`id`),
        |  KEY `idx_txt` (`c_txt`)
        |) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4 COLLATE=utf8mb4_0900_ai_ci;
        |
        |LOCK TABLES `alltypes` WRITE;
        |INSERT INTO `alltypes` VALUES (1,10,3.50,'a; b','2024-01-15 10:30:00','low'),(2,NULL,0.00,'it''s','2024-02-01 00:00:00','high');
        |INSERT INTO `alltypes` VALUES (3,7,12.25,NULL,NULL,'low');
        |UNLOCK TABLES;
        |SET @saved_cs_client = 'utf8mb4';
        |""".stripMargin
    executeScript(e, script)

    // end state: exactly the rows the dump encodes, typed faithfully
    val rows = e.sql("""SELECT id, c_small, CAST(c_dec AS STRING), c_txt,
        CAST(c_dt AS STRING), c_enum FROM alltypes ORDER BY id""")
      .as[(Int, Option[Short], String, Option[String], Option[String], String)]
      .collect()
    assert(rows === Array(
      (1, Some(10: Short), "3.50", Some("a; b"), Some("2024-01-15 10:30:00"), "low"),
      (2, None, "0.00", Some("it's"), Some("2024-02-01 00:00:00"), "high"),
      (3, Some(7: Short), "12.25", None, None, "low")))
    // structure: pk captured, column DEFAULT recorded, KEY entry dropped
    val m = e.table("alltypes").manifest
    assert(m.pkCols === Seq("id"))
    assert(m.props.get("default.c_dec") === Some("'0.00'"))
    assert(m.schema("id").nullable === false)
    assert(m.schema("c_dt").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    // the two INSERTs auto-staged into ONE journal version (create = v0)
    assert(e.table("alltypes").history() === Seq(0L, 1L))
    // pk semantics live: REPLACE INTO upserts by id after the replay
    SqlRouter.execute(e, "REPLACE INTO alltypes VALUES (3,8,1.00,'z',NULL,'high')")
    assert(e.sql("SELECT c_txt FROM alltypes WHERE id = 3")
      .as[String].head() === "z")
    // runs of UPDATEs and of DELETEs on one table auto-stage the same way
    val v0 = e.table("alltypes").history().size
    executeScript(e, "UPDATE alltypes SET c_small = 1 WHERE id = 1;\n" +
      "UPDATE alltypes SET c_small = 2 WHERE id = 2;\n")
    assert(e.table("alltypes").history().size === v0 + 1)
    executeScript(e, "DELETE FROM alltypes WHERE id = 1;\n" +
      "DELETE FROM alltypes WHERE id = 2;\n")
    assert(e.table("alltypes").history().size === v0 + 2)
    assert(e.sql("SELECT id FROM alltypes").as[Int].collect().toSeq === Seq(3))
  }

  test("partitioned-table dump: the 50100 PARTITION BY trailer can't derail CREATE") {
    // mysqldump emits partitioning as a version-conditional comment
    // DIRECTLY inside the CREATE TABLE statement, full of parens:
    //   ) ENGINE=InnoDB ... /*!50100 PARTITION BY RANGE (`id`)
    //   (PARTITION p0 VALUES LESS THAN (100) ENGINE = InnoDB, ...) */;
    // the greedy column-body capture used to swallow through it and
    // store a garbage PK ("id)\n) ENGINE..."), which then broke every
    // later INSERT's file pruning. Routing now strips comment spans.
    val e = new Engine(spark, tmpDir("dump_part"))
    val script =
      """DROP TABLE IF EXISTS `pt`;
        |CREATE TABLE `pt` (
        |  `id` bigint NOT NULL,
        |  `v` varchar(32) DEFAULT NULL,
        |  PRIMARY KEY (`id`)
        |) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4
        |/*!50100 PARTITION BY RANGE (`id`)
        |(PARTITION p0 VALUES LESS THAN (100) ENGINE = InnoDB,
        | PARTITION p1 VALUES LESS THAN MAXVALUE ENGINE = InnoDB) */;
        |INSERT INTO `pt` VALUES (1,'a'),(200,'b');
        |""".stripMargin
    executeScript(e, script)
    val m = e.table("pt").manifest
    assert(m.pkCols === Seq("id")) // not "id)\n) ENGINE..."
    assert(m.schema.fieldNames.toSeq === Seq("id", "v"))
    assert(e.sql("SELECT count(*) FROM pt").as[Long].head() === 2)
    // partitioning is accepted-and-dropped; pk semantics live
    SqlRouter.execute(e, "REPLACE INTO pt VALUES (200,'c')")
    assert(e.sql("SELECT v FROM pt WHERE id = 200").as[String].head() === "c")
  }

  test("partitioned-table dump: the BARE (uncommented) MySQL trailer replays too") {
    // dumps piped through `sed 's|/\*!50100 \(.*\) \*/|\1|'` (a common
    // cross-server replay trick) carry the partition clause OUTSIDE
    // any comment — r12 verdict #7: accept-and-ignore like the
    // reference's GMS path, never a bogus PG parent
    val e = new Engine(spark, tmpDir("dump_part_bare"))
    val script =
      """CREATE TABLE `bt` (
        |  `id` bigint NOT NULL,
        |  `v` varchar(32) DEFAULT NULL,
        |  PRIMARY KEY (`id`)
        |) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4
        |PARTITION BY RANGE (`id`)
        |(PARTITION p0 VALUES LESS THAN (100) ENGINE = InnoDB,
        | PARTITION p1 VALUES LESS THAN MAXVALUE ENGINE = InnoDB);
        |INSERT INTO `bt` VALUES (1,'a'),(200,'b');
        |""".stripMargin
    executeScript(e, script)
    assert(e.table("bt").partitionBy === None)
    assert(e.table("bt").manifest.pkCols === Seq("id"))
    assert(e.sql("SELECT count(*) FROM bt").as[Long].head() === 2)
    SqlRouter.execute(e, "REPLACE INTO bt VALUES (200,'c')")
    assert(e.sql("SELECT v FROM bt WHERE id = 200").as[String].head() === "c")
  }

  test("partitioned pg_dump replays to exact state: PARTITION BY + ATTACH + per-leaf COPY") {
    // the shape pg_dump ≥11 emits for a declaratively partitioned
    // table: the parent CREATE carries the PARTITION BY trailer,
    // children are plain CREATEs attached via ALTER TABLE ONLY ...
    // ATTACH PARTITION, and COPY targets the LEAF partitions
    val e = new Engine(spark, tmpDir("dump_pg_part"))
    val script =
      """SET statement_timeout = 0;
        |SET standard_conforming_strings = on;
        |SELECT pg_catalog.set_config('search_path', '', false);
        |
        |CREATE TABLE public.measurements (
        |    city_id bigint NOT NULL,
        |    logdate date NOT NULL,
        |    peaktemp bigint
        |) PARTITION BY RANGE (logdate);
        |
        |ALTER TABLE public.measurements OWNER TO app;
        |
        |CREATE TABLE public.m_y2023 (
        |    city_id bigint NOT NULL,
        |    logdate date NOT NULL,
        |    peaktemp bigint
        |);
        |
        |ALTER TABLE ONLY public.measurements ATTACH PARTITION public.m_y2023 FOR VALUES FROM ('2023-01-01') TO ('2024-01-01');
        |
        |CREATE TABLE public.m_y2024 (
        |    city_id bigint NOT NULL,
        |    logdate date NOT NULL,
        |    peaktemp bigint
        |);
        |
        |ALTER TABLE ONLY public.measurements ATTACH PARTITION public.m_y2024 FOR VALUES FROM ('2024-01-01') TO ('2025-01-01');
        |
        |COPY public.m_y2023 (city_id, logdate, peaktemp) FROM stdin;
        |1	2023-03-01	21
        |2	2023-07-14	33
        |\.
        |
        |COPY public.m_y2024 (city_id, logdate, peaktemp) FROM stdin;
        |1	2024-01-02	\N
        |\.
        |
        |ALTER TABLE ONLY public.m_y2023
        |    ADD CONSTRAINT m_y2023_pkey PRIMARY KEY (city_id, logdate);
        |""".stripMargin
    executeScript(e, script)
    assert(e.table("measurements").partitionBy === Some("RANGE (logdate)"))
    assert(e.table("measurements").partitionChildren.map(_._1).sorted
      === Seq("m_y2023", "m_y2024"))
    // the parent unions the leaves exactly
    assert(e.sql("SELECT count(*) FROM measurements").as[Long].head() === 3L)
    assert(SqlRouter.execute(e,
      "SELECT city_id FROM measurements WHERE logdate >= DATE'2024-01-01'")
      .df.get.as[Long].collect().toSeq === Seq(1L))
    // pg_dump >=12 also ADDs the PARENT's constraint post-data
    executeScript(e,
      """ALTER TABLE ONLY public.measurements
        |    ADD CONSTRAINT measurements_pkey PRIMARY KEY (city_id, logdate);
        |""".stripMargin)
    assert(e.table("measurements").manifest.pkCols
      === Seq("city_id", "logdate"))
    // post-restore: INSERT through the parent routes by the restored bounds
    SqlRouter.execute(e,
      "INSERT INTO measurements VALUES (9, DATE'2023-12-31', 5)")
    assert(e.sql("SELECT count(*) FROM m_y2023").as[Long].head() === 3L)
    // ...and the restored parent PK serves as an ON CONFLICT arbiter
    // with per-child resolution
    SqlRouter.execute(e,
      "INSERT INTO measurements VALUES (9, DATE'2023-12-31', 8) " +
        "ON CONFLICT (city_id, logdate) DO UPDATE SET peaktemp = " +
        "excluded.peaktemp")
    assert(SqlRouter.execute(e, "SELECT peaktemp FROM measurements " +
      "WHERE city_id = 9").df.get.as[Long].head() === 8L)
    assert(e.sql("SELECT count(*) FROM m_y2023").as[Long].head() === 3L)
    intercept[Exception](SqlRouter.execute(e,
      "INSERT INTO measurements VALUES (9, DATE'2025-06-01', 5)"))
    // SUBPARTITIONED restore shape: the mid-level table's CREATE
    // carries its own PARTITION BY trailer, both levels attach via
    // ALTER, COPY targets the leaf
    executeScript(e,
      """CREATE TABLE public.m_y2025 (
        |    city_id bigint NOT NULL,
        |    logdate date NOT NULL,
        |    peaktemp bigint
        |) PARTITION BY RANGE (city_id);
        |ALTER TABLE ONLY public.measurements ATTACH PARTITION public.m_y2025 FOR VALUES FROM ('2025-01-01') TO ('2026-01-01');
        |CREATE TABLE public.m_y2025_a (
        |    city_id bigint NOT NULL,
        |    logdate date NOT NULL,
        |    peaktemp bigint
        |);
        |ALTER TABLE ONLY public.m_y2025 ATTACH PARTITION public.m_y2025_a FOR VALUES FROM (0) TO (100);
        |COPY public.m_y2025_a (city_id, logdate, peaktemp) FROM stdin;
        |7	2025-06-01	19
        |\.
        |""".stripMargin)
    assert(e.table("m_y2025").partitionBy === Some("RANGE (city_id)"))
    // both levels union into the root; two-level routing works
    assert(e.sql("SELECT count(*) FROM measurements").as[Long].head() === 5L)
    SqlRouter.execute(e,
      "INSERT INTO measurements VALUES (8, DATE'2025-07-04', 30)")
    assert(e.sql("SELECT count(*) FROM m_y2025_a").as[Long].head() === 2L)
  }

  test("PG 10+ identity columns replay: ADD GENERATED AS IDENTITY and inline forms") {
    // modern pg_dump restores identity (the serial replacement) as a
    // post-data ALTER with a multi-line sequence-option list; this
    // used to abort the whole replay with a ParseException
    val e = new Engine(spark, tmpDir("dump_identity"))
    val script =
      """CREATE TABLE ids (
        |    id bigint NOT NULL,
        |    v text
        |);
        |ALTER TABLE ids ALTER COLUMN id ADD GENERATED BY DEFAULT AS IDENTITY (
        |    SEQUENCE NAME ids_id_seq
        |    START WITH 5
        |    INCREMENT BY 1
        |    NO MINVALUE
        |    NO MAXVALUE
        |    CACHE 1
        |);
        |INSERT INTO ids (id, v) VALUES (1, 'a');
        |INSERT INTO ids (v) VALUES ('b');
        |""".stripMargin
    executeScript(e, script)
    // BY DEFAULT: explicit id kept, omitted id assigned from START WITH
    assert(e.sql("SELECT id FROM ids ORDER BY id").as[Long].collect().toSeq
      === Seq(1L, 5L))
    assert(e.table("ids").manifest.props.get("autoinc.id") === Some("true"))
    // inline CREATE form (hand-written DDL)
    SqlRouter.executeScript(e,
      """CREATE TABLE ids2 (id bigint GENERATED ALWAYS AS IDENTITY, v text);
        |INSERT INTO ids2 (v) VALUES ('a'), ('b');
        |""".stripMargin)
    assert(e.sql("SELECT id FROM ids2 ORDER BY id").as[Long].collect().toSeq
      === Seq(1L, 2L))
    // DROP IDENTITY clears the assignment
    SqlRouter.execute(e, "ALTER TABLE ids ALTER COLUMN id DROP IDENTITY IF EXISTS")
    assert(e.table("ids").manifest.props.get("autoinc.id") === None)
  }

  test("mysqldump auto-increment: inline attr, AUTO_INCREMENT=n option, explicit-id bump") {
    val e = new Engine(spark, tmpDir("dump_autoinc"))
    executeScript(e,
      """CREATE TABLE `ai` (
        |  `id` int NOT NULL AUTO_INCREMENT,
        |  `v` varchar(8) DEFAULT NULL,
        |  PRIMARY KEY (`id`)
        |) ENGINE=InnoDB AUTO_INCREMENT=7 DEFAULT CHARSET=utf8mb4;
        |INSERT INTO `ai` VALUES (1,'a'),(2,'b');
        |""".stripMargin)
    // the dump's AUTO_INCREMENT=7 option restores id continuity: the
    // next assigned id is 7, not 3 (used to be lost → NOT NULL crash)
    SqlRouter.execute(e, "INSERT INTO ai (v) VALUES ('c')")
    assert(e.sql("SELECT id FROM ai ORDER BY id").as[Int].collect().toSeq
      === Seq(1, 2, 7))
    // MySQL advances the counter past explicitly inserted ids (the
    // per-file PK stats carry the max for free — no extra job)
    SqlRouter.execute(e, "INSERT INTO ai VALUES (100, 'x')")
    SqlRouter.execute(e, "INSERT INTO ai (v) VALUES ('y')")
    assert(e.sql("SELECT max(id) FROM ai").as[Int].head() === 101)
  }

  test("mysqldump stored generated column replays and computes") {
    val e = new Engine(spark, tmpDir("dump_gen"))
    executeScript(e,
      """CREATE TABLE `g` (
        |  `a` int NOT NULL,
        |  `b` int GENERATED ALWAYS AS ((`a` * 2)) STORED,
        |  PRIMARY KEY (`a`)
        |);
        |INSERT INTO `g` (`a`) VALUES (3);
        |""".stripMargin)
    assert(e.table("g").manifest.props.get("generated.b") === Some("(a * 2)"))
    assert(e.sql("SELECT b FROM g").as[Option[Int]].head() === Some(6))
  }

  test("pg_dump-shaped script (COPY + post-data pkey) replays to the exact state") {
    val e = new Engine(spark, tmpDir("dump_pg"))
    // the bulk rows travel as a COPY file, the pg restore shape
    val csv = tmpDir("dump_pg_data").resolve("pgtypes.csv")
    java.nio.file.Files.write(csv,
      ("1,19.99,hello,true,2024-03-01 12:00:00\n" +
        "2,,\"with, comma\",false,\n" +
        "3,0.50,,true,2024-03-02 08:15:30\n").getBytes("UTF-8"))
    val script =
      s"""SET statement_timeout = 0;
         |SET client_encoding = 'UTF8';
         |SET standard_conforming_strings = 'on';
         |
         |CREATE TABLE pgtypes (
         |    id bigint NOT NULL,
         |    price numeric(12,2),
         |    note text,
         |    flag boolean,
         |    created timestamp without time zone
         |);
         |
         |COPY pgtypes FROM '${csv}' (FORMAT csv);
         |INSERT INTO pgtypes VALUES (4, 7.25, 'post-copy', false, NULL);
         |
         |ALTER TABLE ONLY pgtypes
         |    ADD CONSTRAINT pgtypes_pkey PRIMARY KEY (id);
         |""".stripMargin
    executeScript(e, script)

    val rows = e.sql("""SELECT id, CAST(price AS STRING), note, flag,
        CAST(created AS STRING) FROM pgtypes ORDER BY id""")
      .as[(Long, Option[String], Option[String], Option[Boolean], Option[String])]
      .collect()
    assert(rows === Array(
      (1L, Some("19.99"), Some("hello"), Some(true), Some("2024-03-01 12:00:00")),
      (2L, None, Some("with, comma"), Some(false), None),
      (3L, Some("0.50"), None, Some(true), Some("2024-03-02 08:15:30")),
      (4L, Some("7.25"), Some("post-copy"), Some(false), None)))
    val m = e.table("pgtypes").manifest
    assert(m.pkCols === Seq("id")) // the post-data ALTER landed
    assert(m.schema("created").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    assert(m.schema("note").dataType === org.apache.spark.sql.types.StringType)
    // pk semantics live after the post-data constraint
    SqlRouter.execute(e, "REPLACE INTO pgtypes VALUES (4, 9.99, 'upserted', true, NULL)")
    assert(e.sql("SELECT note FROM pgtypes WHERE id = 4").as[String].head()
      === "upserted")
  }

  test("section-header comments attached to DROP/LOCK TABLES still route") {
    // Real mysqldump output puts a '--' header block DIRECTLY before
    // DROP TABLE and LOCK TABLES — the preceding ';' detaches it from
    // the prior statement, so it arrives glued to the head of the NEXT
    // one. Routing regexes anchor on whitespace: without the head strip
    // LOCK TABLES hits Catalyst (ParseException) and DROP TABLE lands
    // in Spark's catalog. The header text also carries an apostrophe
    // ("it's") ahead of hex literals to pin the literal normalizer's
    // comment awareness.
    val e = new Engine(spark, tmpDir("dump_hdr"))
    val script =
      """-- MySQL dump 10.13  Distrib 8.0.32
        |
        |--
        |-- Table structure for table `hdr`
        |--
        |
        |DROP TABLE IF EXISTS `hdr`;
        |CREATE TABLE `hdr` (
        |  `id` int NOT NULL,
        |  `tag` varchar(20) DEFAULT NULL,
        |  `payload` blob,
        |  PRIMARY KEY (`id`)
        |) ENGINE=InnoDB;
        |
        |--
        |-- Dumping data for table `hdr` (it's the body section)
        |--
        |
        |LOCK TABLES `hdr` WRITE;
        |INSERT INTO `hdr` VALUES
        |  (1,'a',0x41), -- it's row one
        |  (2,'b',0x4243);
        |UNLOCK TABLES;
        |""".stripMargin
    executeScript(e, script)
    // DROP+CREATE reached the ENGINE (not Spark's catalog), LOCK TABLES
    // was accepted, and the hex literal AFTER the apostrophe-bearing
    // inline comment still normalized to X'...'
    val rows = e.sql("SELECT id, tag, payload FROM hdr ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1),
        r.get(2).asInstanceOf[Array[Byte]].toSeq))
    assert(rows === Array(
      (1, "a", Seq[Byte](0x41)),
      (2, "b", Seq[Byte](0x42, 0x43))))
    assert(e.table("hdr").manifest.pkCols === Seq("id"))
  }

  test("pg_dump multi-word column types parse (character varying, double precision)") {
    val e = new Engine(spark, tmpDir("dump_pg_mw"))
    val script =
      """--
        |-- Name: mw; Type: TABLE; Schema: public
        |--
        |
        |CREATE TABLE mw (
        |    id integer NOT NULL,
        |    name character varying(50),
        |    code character(3),
        |    ratio double precision,
        |    created timestamp(6) without time zone
        |);
        |
        |INSERT INTO mw VALUES (1, 'alpha', 'abc', 0.5, '2024-05-01 09:00:00');
        |INSERT INTO mw VALUES (2, NULL, NULL, NULL, NULL);
        |
        |ALTER TABLE ONLY mw
        |    ADD CONSTRAINT mw_pkey PRIMARY KEY (id);
        |""".stripMargin
    executeScript(e, script)
    val m = e.table("mw").manifest
    assert(m.schema("name").dataType === org.apache.spark.sql.types.StringType)
    assert(m.schema("code").dataType === org.apache.spark.sql.types.StringType)
    assert(m.schema("ratio").dataType === org.apache.spark.sql.types.DoubleType)
    assert(m.schema("created").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    assert(m.pkCols === Seq("id"))
    val rows = e.sql("""SELECT id, name, code, ratio,
        CAST(created AS STRING) FROM mw ORDER BY id""")
      .as[(Int, Option[String], Option[String], Option[Double], Option[String])]
      .collect()
    assert(rows === Array(
      (1, Some("alpha"), Some("abc"), Some(0.5), Some("2024-05-01 09:00:00")),
      (2, None, None, None, None)))
  }

  test("modern pg_dump replays VERBATIM: stdin COPY, schema qualifiers, sequences, ACLs") {
    // the real shape `pg_dump` emits today: session GUCs + set_config,
    // public.-qualified names, OWNER TO, serial column as integer +
    // CREATE SEQUENCE + SET DEFAULT nextval + setval, COPY ... FROM
    // stdin with inline TEXT data, post-data pkey, COMMENT ON, GRANT
    val e = new Engine(spark, tmpDir("dump_pg_modern"))
    val script =
      """--
        |-- PostgreSQL database dump
        |--
        |
        |SET statement_timeout = 0;
        |SET lock_timeout = 0;
        |SET client_encoding = 'UTF8';
        |SET standard_conforming_strings = on;
        |SELECT pg_catalog.set_config('search_path', '', false);
        |SET row_security = off;
        |
        |SET default_tablespace = '';
        |SET default_table_access_method = heap;
        |
        |--
        |-- Name: users; Type: TABLE; Schema: public; Owner: app
        |--
        |
        |CREATE TABLE public.users (
        |    id integer NOT NULL,
        |    name character varying(80),
        |    note text,
        |    created timestamp without time zone
        |);
        |
        |ALTER TABLE public.users OWNER TO app;
        |
        |--
        |-- Name: users_id_seq; Type: SEQUENCE; Schema: public; Owner: app
        |--
        |
        |CREATE SEQUENCE public.users_id_seq
        |    AS integer
        |    START WITH 1
        |    INCREMENT BY 1
        |    NO MINVALUE
        |    NO MAXVALUE
        |    CACHE 1;
        |
        |ALTER SEQUENCE public.users_id_seq OWNER TO app;
        |
        |ALTER SEQUENCE public.users_id_seq OWNED BY public.users.id;
        |
        |--
        |-- Name: users id; Type: DEFAULT; Schema: public; Owner: app
        |--
        |
        |ALTER TABLE ONLY public.users ALTER COLUMN id SET DEFAULT nextval('public.users_id_seq'::regclass);
        |
        |--
        |-- Data for Name: users; Type: TABLE DATA; Schema: public; Owner: app
        |--
        |
        |COPY public.users (id, name, note, created) FROM stdin;
        |1	alice	first; said "hi"	2024-01-01 10:00:00
        |2	bob	\N	\N
        |3	carol	tab\there-ам&	2024-02-01 08:30:00
        |\.
        |
        |--
        |-- Name: touch_updated(); Type: FUNCTION; Schema: public; Owner: app
        |--
        |
        |CREATE FUNCTION public.touch_updated() RETURNS trigger
        |    LANGUAGE plpgsql
        |    AS $$
        |BEGIN
        |  NEW.created := now();
        |  RETURN NEW;
        |END;
        |$$;
        |
        |ALTER FUNCTION public.touch_updated() OWNER TO app;
        |
        |--
        |-- Name: tags; Type: TABLE; Schema: public; Owner: app
        |--
        |
        |CREATE TABLE public.tags (
        |    uid integer,
        |    tag text
        |);
        |
        |COPY public.tags (uid, tag) FROM stdin;
        |1	admin
        |3	beta; tester
        |\.
        |
        |--
        |-- Name: users_id_seq; Type: SEQUENCE SET; Schema: public; Owner: app
        |--
        |
        |SELECT pg_catalog.setval('public.users_id_seq', 3, true);
        |
        |--
        |-- Name: users users_pkey; Type: CONSTRAINT; Schema: public; Owner: app
        |--
        |
        |ALTER TABLE ONLY public.users
        |    ADD CONSTRAINT users_pkey PRIMARY KEY (id);
        |
        |--
        |-- Name: users_name_idx; Type: INDEX; Schema: public; Owner: app
        |--
        |
        |CREATE INDEX users_name_idx ON public.users USING btree (name);
        |
        |COMMENT ON TABLE public.users IS 'application users';
        |
        |GRANT SELECT ON TABLE public.users TO readonly;
        |""".stripMargin
    executeScript(e, script)

    val rows = e.sql("""SELECT id, name, note, CAST(created AS STRING)
        FROM users ORDER BY id""")
      .as[(Int, Option[String], Option[String], Option[String])].collect()
    assert(rows === Array(
      (1, Some("alice"), Some("first; said \"hi\""), Some("2024-01-01 10:00:00")),
      (2, Some("bob"), None, None),
      (3, Some("carol"), Some("tab\there-ам&"), Some("2024-02-01 08:30:00"))))
    val m = e.table("users").manifest
    assert(m.pkCols === Seq("id")) // post-data constraint landed
    assert(m.schema("name").dataType === org.apache.spark.sql.types.StringType)
    // the serial machinery mapped onto the engine's auto-inc: the
    // nextval default flagged the column, setval positioned the counter
    assert(m.props.get("autoinc.id") === Some("true"))
    assert(m.autoInc === 4L) // setval(3, true) → next id 4
    // the SECOND stdin block (spool-loop position arithmetic) landed too
    assert(e.sql("SELECT uid, tag FROM tags ORDER BY uid")
      .as[(Int, String)].collect() ===
      Array((1, "admin"), (3, "beta; tester")))
    val n = e.table("users").insertAutoInc(
      Seq((Option.empty[String], Option.empty[String], Option.empty[String]))
        .toDF("name", "note", "created")
        .selectExpr("name", "note", "CAST(created AS TIMESTAMP_NTZ) AS created"),
      "id")
    assert(n === 1L)
    assert(e.sql("SELECT max(id) FROM users").as[Int].head() === 4)
  }

  test("partitioned + identity pg_dump: ALWAYS on the parent, setval, leaf COPY") {
    // the composition a modern PG database actually dumps: a LIST
    // parent whose id is GENERATED ALWAYS (added post-data with a
    // SEQUENCE NAME option block), children attached, data COPYed to
    // the leaves (COPY bypasses identity enforcement like PG), the
    // parent PK added post-data, and setval positioning the counter
    val e = new Engine(spark, tmpDir("dump_pg_part_identity"))
    executeScript(e,
      """CREATE TABLE public.events_p (
        |    id bigint NOT NULL,
        |    kind text NOT NULL,
        |    n bigint
        |) PARTITION BY LIST (kind);
        |
        |CREATE TABLE public.ev_a (
        |    id bigint NOT NULL,
        |    kind text NOT NULL,
        |    n bigint
        |);
        |ALTER TABLE ONLY public.events_p ATTACH PARTITION public.ev_a FOR VALUES IN ('a');
        |
        |CREATE TABLE public.ev_rest (
        |    id bigint NOT NULL,
        |    kind text NOT NULL,
        |    n bigint
        |);
        |ALTER TABLE ONLY public.events_p ATTACH PARTITION public.ev_rest DEFAULT;
        |
        |ALTER TABLE public.events_p ALTER COLUMN id ADD GENERATED ALWAYS AS IDENTITY (
        |    SEQUENCE NAME public.events_p_id_seq
        |    START WITH 1
        |    INCREMENT BY 1
        |    NO MINVALUE
        |    NO MAXVALUE
        |    CACHE 1
        |);
        |
        |COPY public.ev_a (id, kind, n) FROM stdin;
        |1	a	10
        |\.
        |
        |COPY public.ev_rest (id, kind, n) FROM stdin;
        |2	b	20
        |\.
        |
        |ALTER TABLE ONLY public.events_p
        |    ADD CONSTRAINT events_p_pkey PRIMARY KEY (id, kind);
        |
        |SELECT pg_catalog.setval('public.events_p_id_seq', 2, true);
        |""".stripMargin)
    assert(e.sql("SELECT count(*) FROM events_p").as[Long].head() === 2L)
    // the restored counter continues: an auto-assigned insert routes
    // by bounds and takes id 3
    SqlRouter.execute(e, "INSERT INTO events_p (kind, n) VALUES ('c', 30)")
    assert(SqlRouter.execute(e,
      "SELECT id FROM events_p WHERE kind = 'c'").df.get.as[Long].head()
      === 3L)
    assert(e.sql("SELECT count(*) FROM ev_rest").as[Long].head() === 2L)
    // the restored ALWAYS flavor enforces through the parent
    val ex = intercept[Exception](SqlRouter.execute(e,
      "INSERT INTO events_p VALUES (99, 'a', 0)"))
    assert(ex.getMessage.contains("GENERATED ALWAYS"))
    SqlRouter.execute(e, "INSERT INTO events_p (id, kind, n) " +
      "OVERRIDING SYSTEM VALUE VALUES (99, 'a', 0)")
    assert(e.sql("SELECT count(*) FROM ev_a").as[Long].head() === 2L)
  }

  test("mysqldump --routines section (DELIMITER blocks) replays without shredding") {
    // stored-program bodies carry ';' statements inside; the dump
    // switches the client delimiter to ';;' around them. The splitter
    // must honor that or the body's first ';' shreds the parse. The
    // routines themselves have no engine analog (Spark has no stored
    // procedures — the reference's DuckDB backend is in the same
    // position) and are accepted + dropped; everything around them
    // must still land.
    val e = new Engine(spark, tmpDir("dump_routines"))
    val script =
      """DROP TABLE IF EXISTS `acc`;
        |CREATE TABLE `acc` (
        |  `id` int NOT NULL,
        |  `v` int DEFAULT NULL,
        |  PRIMARY KEY (`id`)
        |);
        |INSERT INTO `acc` VALUES (1,10),(2,20);
        |
        |--
        |-- Dumping routines for database 'shop'
        |--
        |DELIMITER ;;
        |CREATE DEFINER=`root`@`localhost` PROCEDURE `refresh_totals`()
        |BEGIN
        |  UPDATE acc SET v = v + 1;
        |  SELECT count(*) FROM acc;
        |END ;;
        |DELIMITER ;
        |
        |INSERT INTO `acc` VALUES (3,30);
        |""".stripMargin
    executeScript(e, script)
    // the routine was dropped, NOT executed (v unchanged), and the
    // statements after the DELIMITER blocks still ran
    val rows = e.sql("SELECT id, v FROM acc ORDER BY id")
      .as[(Int, Option[Int])].collect()
    assert(rows === Array((1, Some(10)), (2, Some(20)), (3, Some(30))))
  }

  test("DELIMITER $$ (the textbook convention) splits too — '$$' is the separator, not a dollar quote") {
    // with sep='$$' the splitter must NOT treat the separators as PG
    // dollar-quote openers, or the whole segment glues into one
    // statement and everything after the routine is silently lost
    val e = new Engine(spark, tmpDir("dump_routines_dollar"))
    val script =
      """CREATE TABLE `acc2` (`id` int NOT NULL, `v` int, PRIMARY KEY (`id`));
        |DELIMITER $$
        |CREATE PROCEDURE `p`()
        |BEGIN
        |  UPDATE acc2 SET v = 0;
        |END$$
        |INSERT INTO `acc2` VALUES (1,10)$$
        |DELIMITER ;
        |INSERT INTO `acc2` VALUES (2,20);
        |""".stripMargin
    executeScript(e, script)
    val rows = e.sql("SELECT id, v FROM acc2 ORDER BY id")
      .as[(Int, Option[Int])].collect()
    assert(rows === Array((1, Some(10)), (2, Some(20))))
  }

  test("pg_dump TEXT-format COPY (the actual default) replays bytea + escapes") {
    val e = new Engine(spark, tmpDir("dump_pg_text"))
    // pg_dump's default COPY format: tab-separated, escape sequences,
    // \N nulls, bytea as \x hex
    val data = tmpDir("dump_pg_text_data").resolve("blobs.txt")
    java.nio.file.Files.write(data,
      ("1\tline one\\nline two\t\\\\x48454c4c4f\n" +
        "2\t\\N\t\\N\n" +
        "3\ttab\\there\t\\\\x00ff\n").getBytes("UTF-8"))
    val script =
      s"""SET client_encoding = 'UTF8';
         |
         |CREATE TABLE blobs (
         |    id bigint NOT NULL,
         |    body text,
         |    payload bytea
         |);
         |
         |COPY blobs FROM '${data}';
         |
         |ALTER TABLE ONLY blobs
         |    ADD CONSTRAINT blobs_pkey PRIMARY KEY (id);
         |""".stripMargin
    executeScript(e, script)
    val rows = e.sql("SELECT id, body, payload FROM blobs ORDER BY id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        Option(r.get(2)).map(_.asInstanceOf[Array[Byte]].toSeq)))
    assert(rows === Array(
      (1L, Some("line one\nline two"), Some("HELLO".getBytes("UTF-8").toSeq)),
      (2L, None, None),
      (3L, Some("tab\there"), Some(Seq[Byte](0x00, -1)))))
    assert(e.table("blobs").manifest.schema("payload").dataType ===
      org.apache.spark.sql.types.BinaryType)
  }
}
