package graft

import org.apache.spark.sql.Row

/** A33–A35: pg_catalog emulation + PG client-spelling compatibility.
  * Query shapes mirror the reference's compat tests
  * (`pgserver/in_place_handler_test.go`) and the metadata queries psql
  * and the PG JDBC driver actually send. */
class PgCatalogSpec extends SparkSpec {

  private def mkEngine(tag: String): Engine = {
    val e = new Engine(spark, tmpDir(tag))
    SqlRouter.execute(e,
      "CREATE TABLE accounts (id BIGINT PRIMARY KEY, owner STRING, bal DOUBLE)")
    SqlRouter.execute(e,
      "CREATE TABLE notes (note_id INT, body STRING)")
    SqlRouter.execute(e,
      "CREATE VIEW rich_accounts AS SELECT * FROM accounts WHERE bal > 100")
    e
  }

  private def rows(e: Engine, q: String): Seq[Row] =
    SqlRouter.execute(e, q).df.get.collect().toSeq

  test("psql-style table listing over pg_class x pg_namespace") {
    val e = mkEngine("pgcat_psql")
    val out = rows(e,
      """SELECT c.relname, c.relkind FROM pg_catalog.pg_class c
        |JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
        |WHERE n.nspname = 'public' AND c.relkind IN ('r', 'v')
        |ORDER BY c.relkind, c.relname""".stripMargin)
    assert(out === Seq(Row("accounts", "r"), Row("notes", "r"),
      Row("rich_accounts", "v")))
    // the pk index relation exists with its PG naming convention
    val idx = rows(e,
      "SELECT relname FROM pg_catalog.pg_class WHERE relkind = 'i'")
    assert(idx === Seq(Row("accounts_pkey")))
  }

  test("Metabase table-discovery query runs verbatim (regclass, !~, pg_description)") {
    val e = mkEngine("pgcat_metabase")
    // reference pgserver/in_place_handler_test.go:55-84 — verbatim
    // except their nspname filter naming their test schemas
    val out = rows(e,
      """SELECT
        |    n.nspname AS schema,
        |    c.relname AS name,
        |    CASE c.relkind
        |        WHEN 'r' THEN 'TABLE'
        |        WHEN 'p' THEN 'PARTITIONED TABLE'
        |        WHEN 'v' THEN 'VIEW'
        |        WHEN 'f' THEN 'FOREIGN TABLE'
        |        WHEN 'm' THEN 'MATERIALIZED VIEW'
        |        ELSE NULL
        |    END AS type,
        |    d.description AS description,
        |    stat.n_live_tup AS estimated_row_count
        |FROM pg_catalog.pg_class AS c
        |     INNER JOIN pg_catalog.pg_namespace AS n ON c.relnamespace = n.oid
        |     LEFT JOIN pg_catalog.pg_description AS d ON ((c.oid = d.objoid)
        |                                                 AND (d.objsubid = 1))
        |                                                 AND (d.classoid = 'pg_class'::RegClass)
        |     LEFT JOIN pg_stat_user_tables AS stat ON (n.nspname = stat.schemaname)
        |                                              AND (c.relname = stat.relname)
        |WHERE ((((c.relnamespace = n.oid) AND (n.nspname !~ 'information_schema'))
        |          AND (n.nspname != 'pg_catalog'))
        |          AND (c.relkind IN ('r', 'p', 'v', 'f', 'm')))
        |      AND (n.nspname IN ('public', 'test'))
        |ORDER BY type ASC, schema ASC, name ASC""".stripMargin)
    assert(out.map(r => (r.getString(1), r.getString(2))) ===
      Seq(("accounts", "TABLE"), ("notes", "TABLE"),
        ("rich_accounts", "VIEW")))
  }

  test("JDBC primary-key discovery via pg_index/pg_attribute/_pg_expandarray") {
    val e = mkEngine("pgcat_jdbc")
    // the getPrimaryKeys query shape (reference
    // in_place_handler_test.go:92-117) in the Spark-dialect SRF
    // spelling: inline(...) instead of the select-list SRF
    val out = rows(e,
      """SELECT result.TABLE_NAME, result.COLUMN_NAME, result.KEY_SEQ, result.PK_NAME
        |FROM (SELECT
        |          ct.relname AS TABLE_NAME,
        |          a.attname AS COLUMN_NAME,
        |          k.n AS KEY_SEQ,
        |          ci.relname AS PK_NAME,
        |          a.attnum AS A_ATTNUM,
        |          k.x AS KEY_ATTNUM
        |      FROM pg_catalog.pg_class ct
        |           JOIN pg_catalog.pg_attribute a ON (ct.oid = a.attrelid)
        |           JOIN pg_catalog.pg_namespace n ON (ct.relnamespace = n.oid)
        |           JOIN pg_catalog.pg_index i ON (a.attrelid = i.indrelid)
        |           JOIN pg_catalog.pg_class ci ON (ci.oid = i.indexrelid)
        |           LATERAL VIEW inline(_pg_expandarray(i.indkey)) k
        |      WHERE n.nspname = 'public'
        |            AND ct.relname = 'accounts'
        |            AND i.indisprimary) result
        |WHERE result.A_ATTNUM = result.KEY_ATTNUM
        |ORDER BY result.table_name, result.pk_name, result.key_seq""".stripMargin)
    assert(out === Seq(Row("accounts", "id", 1, "accounts_pkey")))
  }

  test("pgjdbc getPrimaryKeys runs in its ORIGINAL select-list-SRF spelling") {
    val e = mkEngine("pgcat_jdbc_orig")
    // the driver's exact emission: SRF in the select list, the bare
    // call aliased AS KEYS, and the outer (result.KEYS).x field access
    // — auto-rewritten to a shared LATERAL VIEW
    val out = rows(e,
      """SELECT result.TABLE_NAME, result.COLUMN_NAME, result.KEY_SEQ, result.PK_NAME
        |FROM (SELECT
        |          ct.relname AS TABLE_NAME,
        |          a.attname AS COLUMN_NAME,
        |          (information_schema._pg_expandarray(i.indkey)).n AS KEY_SEQ,
        |          ci.relname AS PK_NAME,
        |          information_schema._pg_expandarray(i.indkey) AS KEYS,
        |          a.attnum AS A_ATTNUM
        |      FROM pg_catalog.pg_class ct
        |           JOIN pg_catalog.pg_attribute a ON (ct.oid = a.attrelid)
        |           JOIN pg_catalog.pg_namespace n ON (ct.relnamespace = n.oid)
        |           JOIN pg_catalog.pg_index i ON (a.attrelid = i.indrelid)
        |           JOIN pg_catalog.pg_class ci ON (ci.oid = i.indexrelid)
        |      WHERE n.nspname = 'public'
        |            AND ct.relname = 'accounts'
        |            AND i.indisprimary) result
        |WHERE result.A_ATTNUM = (result.KEYS).x
        |ORDER BY result.table_name, result.pk_name, result.key_seq""".stripMargin)
    assert(out === Seq(Row("accounts", "id", 1, "accounts_pkey")))
    // the FROM-clause LATERAL VIEW spelling stays untouched (the
    // rewrite only targets select-list occurrences)
    assert(PgCompat.expandSrf(
      "SELECT k.n FROM t LATERAL VIEW inline(_pg_expandarray(a)) k") ===
      "SELECT k.n FROM t LATERAL VIEW inline(_pg_expandarray(a)) k")
    // differing arguments are refused loudly, never cross-joined
    intercept[IllegalArgumentException] {
      PgCompat.expandSrf(
        "SELECT (_pg_expandarray(a)).n, (_pg_expandarray(b)).x FROM t")
    }
    // ...and so are SIBLING subselects at the same depth — only one
    // would receive the LATERAL VIEW
    intercept[IllegalArgumentException] {
      PgCompat.expandSrf(
        "SELECT (SELECT (_pg_expandarray(a)).n FROM t1) p, " +
          "(SELECT (_pg_expandarray(a)).x FROM t2) q FROM z")
    }
    // case-insensitive spelling still rewrites (PG folds identifiers)
    assert(PgCompat.expandSrf("SELECT (_PG_ExpandArray(a)).n FROM t")
      .contains("LATERAL VIEW"))
  }

  test("pg_type probes and regtype/regclass resolution") {
    val e = mkEngine("pgcat_types")
    assert(rows(e, "SELECT oid FROM pg_catalog.pg_type WHERE typname = 'int4'")
      === Seq(Row(23L)))
    assert(rows(e, "SELECT 'varchar'::regtype, 'pg_class'::regclass")
      === Seq(Row(1043L, 1259L)))
    // a user relation resolves to its live oid — consistent with pg_class
    val fromCast = rows(e, "SELECT 'accounts'::regclass").head.getLong(0)
    val fromCat = rows(e,
      "SELECT oid FROM pg_catalog.pg_class WHERE relname = 'accounts'")
      .head.getLong(0)
    assert(fromCast === fromCat)
    // attribute types line up with pg_type oids
    assert(rows(e,
      """SELECT a.attname, t.typname
        |FROM pg_catalog.pg_attribute a JOIN pg_catalog.pg_type t ON t.oid = a.atttypid
        |WHERE a.attrelid = 'accounts'::regclass ORDER BY a.attnum""".stripMargin)
      === Seq(Row("id", "int8"), Row("owner", "text"), Row("bal", "float8")))
  }

  test("= ANY over arrays and current_schemas fold to Spark spellings") {
    val e = mkEngine("pgcat_any")
    assert(rows(e,
      "SELECT nspname FROM pg_catalog.pg_namespace WHERE nspname = ANY(current_schemas(false))")
      === Seq(Row("public")))
    assert(rows(e, "SELECT current_schema()") === Seq(Row("public")))
    assert(rows(e, "SELECT current_database()") === Seq(Row("main")))
  }

  test("in-place probes: recovery, WAL position, current_setting") {
    val e = mkEngine("pgcat_probes")
    assert(rows(e, "SELECT pg_catalog.pg_is_in_recovery()") === Seq(Row("f")))
    assert(rows(e, "SELECT pg_catalog.pg_last_wal_replay_lsn()")
      === Seq(Row("0/0")))
    // a replication pipeline that records its position is reported
    SqlRouter.execute(e, "SET wal_replay_lsn = '0/1A2B3C'")
    assert(rows(e, "SELECT pg_catalog.pg_current_wal_lsn()")
      === Seq(Row("0/1A2B3C")))
    assert(rows(e, "SELECT current_setting('server_version_num')")
      === Seq(Row("150000")))
    // engine variables take precedence over defaults
    SqlRouter.execute(e, "SET search_path = 'public, graft'")
    assert(rows(e, "SELECT current_setting('search_path')")
      === Seq(Row("public, graft")))
    // unknown parameters surface the PG error, not an empty result
    val err = intercept[IllegalArgumentException] {
      rows(e, "SELECT current_setting('no_such_guc')")
    }
    assert(err.getMessage.contains("no_such_guc"))
    // embedded (non-whole-statement) spellings flow through the
    // Catalyst rewrite instead: settings inline as literals and casts
    // apply
    assert(rows(e,
      "SELECT current_setting('server_version_num')::int4 + 1 AS v")
      === Seq(Row(150001)))
  }

  test("hardcoded psql enum-introspection query is answered") {
    val e = mkEngine("pgcat_fullmatch")
    val out = SqlRouter.execute(e,
      "SELECT pg_type.oid, enumlabel FROM pg_enum JOIN pg_type ON " +
        "pg_type.oid=enumtypid ORDER BY oid, enumsortorder")
    assert(out.df.get.columns.toSeq === Seq("oid", "enumlabel"))
    assert(out.df.get.count() === 0) // no enum types: empty, no error
  }

  test("compat macros: pg_get_indexdef, pg_get_expr, pg_table_is_visible") {
    val e = mkEngine("pgcat_macros")
    // the Metabase index-column query's function surface
    // (in_place_handler_test.go:30-44): indexdef answers '' (the
    // reference macro's contract), pg_get_expr passes its node tree
    // through, visibility is TRUE
    val out = rows(e,
      """SELECT PG_CATALOG.PG_GET_INDEXDEF(i.indexrelid, 1, FALSE) AS fld,
        |       pg_catalog.pg_get_expr(i.indexprs, i.indrelid) AS expr,
        |       pg_catalog.pg_table_is_visible(i.indrelid) AS vis
        |FROM pg_catalog.pg_index i
        |WHERE (PG_CATALOG.PG_GET_EXPR(i.indpred, i.indrelid) IS NULL)""".stripMargin)
    assert(out === Seq(Row("", null, true)))
    assert(rows(e, "SELECT pg_backend_pid() > 0").head.getBoolean(0))
  }

  test("views over pg_catalog re-register frames through the closure") {
    val e = mkEngine("pgcat_views")
    SqlRouter.execute(e,
      "CREATE VIEW table_census AS SELECT relkind, count(*) AS n " +
        "FROM pg_catalog.pg_class GROUP BY relkind")
    assert(rows(e,
      "SELECT n FROM table_census WHERE relkind = 'r'") === Seq(Row(2L)))
    // a catalog change is visible through the stored view: frames
    // rebuild from live metadata on every registration
    SqlRouter.execute(e, "CREATE TABLE extra (x INT)")
    assert(rows(e,
      "SELECT n FROM table_census WHERE relkind = 'r'") === Seq(Row(3L)))
  }

  test("pg_proc lists the engine-native function surface") {
    val e = mkEngine("pgcat_proc")
    val names = rows(e,
      "SELECT proname FROM pg_catalog.pg_proc WHERE proname IN " +
        "('vec_dot', 'my_list_contains', '_pg_expandarray')")
      .map(_.getString(0)).toSet
    assert(names === Set("vec_dot", "my_list_contains", "_pg_expandarray"))
  }

  test("pg_tables/pg_views convenience views and pg_stat_user_tables") {
    val e = mkEngine("pgcat_tables")
    assert(rows(e,
      "SELECT schemaname, tablename, hasindexes FROM pg_tables ORDER BY tablename")
      === Seq(Row("public", "accounts", true), Row("public", "notes", false)))
    assert(rows(e, "SELECT viewname FROM pg_views") === Seq(Row("rich_accounts")))
    assert(rows(e,
      "SELECT relname, n_live_tup FROM pg_stat_user_tables ORDER BY relname")
      === Seq(Row("accounts", 0L), Row("notes", 0L)))
  }

  test("information_schema relations are SQL-addressable when qualified") {
    val e = mkEngine("pgcat_infoschema")
    assert(rows(e,
      """SELECT table_name, table_type FROM information_schema.tables
        |WHERE table_schema = 'public' ORDER BY table_name""".stripMargin)
      === Seq(Row("accounts", "BASE TABLE"), Row("notes", "BASE TABLE"),
        Row("rich_accounts", "VIEW")))
    assert(rows(e,
      """SELECT column_name, data_type, is_nullable
        |FROM information_schema.columns
        |WHERE table_name = 'accounts' ORDER BY ordinal_position""".stripMargin)
      === Seq(Row("id", "bigint", "NO"), Row("owner", "text", "YES"),
        Row("bal", "double precision", "YES")))
    // the JDBC getPrimaryKeys fallback shape: constraints join usage
    assert(rows(e,
      """SELECT k.column_name, k.ordinal_position
        |FROM information_schema.table_constraints c
        |JOIN information_schema.key_column_usage k
        |  ON c.constraint_name = k.constraint_name
        |WHERE c.constraint_type = 'PRIMARY KEY' AND c.table_name = 'accounts'
        |ORDER BY k.ordinal_position""".stripMargin)
      === Seq(Row("id", 1)))
    assert(rows(e,
      "SELECT view_definition FROM information_schema.views WHERE table_name = 'rich_accounts'")
      .head.getString(0).toLowerCase.contains("from accounts"))
    // MySQL Connector/J getIndexInfo shape: statistics lists PK columns
    assert(rows(e,
      """SELECT index_name, seq_in_index, column_name, non_unique
        |FROM information_schema.statistics
        |WHERE table_name = 'accounts' ORDER BY seq_in_index""".stripMargin)
      === Seq(Row("PRIMARY", 1, "id", 0)))
    // stored programs and FKs are accepted-and-dropped, so their
    // relations answer EMPTY, not unknown-relation — with MySQL's full
    // column set (Connector/J getProcedures selects ROUTINE_COMMENT,
    // CREATED, ...; a missing column would be an AnalysisException)
    assert(rows(e,
      """SELECT routine_name, routine_type, routine_comment AS remarks,
        |created, last_altered, is_deterministic, definer
        |FROM information_schema.routines
        |WHERE routine_schema = 'public'""".stripMargin).isEmpty)
    assert(rows(e,
      "SELECT constraint_name FROM information_schema.referential_constraints")
      .isEmpty)
    // bare `tables` stays an ordinary identifier: a user table named
    // `tables` is NOT shadowed by the emulation
    SqlRouter.execute(e, "CREATE TABLE tables (x INT)")
    SqlRouter.execute(e, "INSERT INTO tables VALUES (7)")
    assert(rows(e, "SELECT x FROM tables") === Seq(Row(7)))
  }

  test("MySQL-convention information_schema overlay (Connector/J useInformationSchema=true)") {
    val e = mkEngine("pgcat_mysql_is")
    // a MySQL session announces itself at connect time (@@ sysvars)
    SqlRouter.execute(e, "SELECT @@version_comment LIMIT 1")
    assert(e.sessionDialect === Some("mysql"))

    // Connector/J getTables, the information_schema path: TABLE_SCHEMA
    // must equal DATABASE() (the silently-empty surface of round 9),
    // the CASE alias folds BASE TABLE→TABLE, and the group-less
    // alias-HAVING tail runs (MySQL-ism, rewritten to a subquery)
    val tables = rows(e,
      """SELECT TABLE_SCHEMA AS TABLE_CAT, NULL AS TABLE_SCHEM, TABLE_NAME,
        | CASE WHEN TABLE_TYPE='BASE TABLE' THEN
        |   CASE WHEN TABLE_SCHEMA = 'mysql' OR TABLE_SCHEMA = 'performance_schema'
        |        THEN 'SYSTEM TABLE' ELSE 'TABLE' END
        |  WHEN TABLE_TYPE='TEMPORARY' THEN 'LOCAL_TEMPORARY'
        |  ELSE TABLE_TYPE END AS TABLE_TYPE,
        | TABLE_COMMENT AS REMARKS, NULL AS TYPE_CAT, NULL AS TYPE_SCHEM,
        | NULL AS TYPE_NAME, NULL AS SELF_REFERENCING_COL_NAME,
        | NULL AS REF_GENERATION
        |FROM INFORMATION_SCHEMA.TABLES
        |WHERE TABLE_SCHEMA = DATABASE() AND TABLE_NAME LIKE '%'
        |HAVING TABLE_TYPE IN ('TABLE','VIEW')
        |ORDER BY TABLE_TYPE, TABLE_SCHEMA, TABLE_NAME""".stripMargin)
    assert(tables.map(r => (r.getString(0), r.getString(2), r.getString(3)))
      === Seq(("main", "accounts", "TABLE"), ("main", "notes", "TABLE"),
        ("main", "rich_accounts", "VIEW")))
    // ...and the rows agree with the fully-routed SHOW surface
    val shown = rows(e, "SHOW FULL TABLES").map(r =>
      (r.getString(0), r.getString(1)))
    assert(tables.map(r => (r.getString(2),
      if (r.getString(3) == "VIEW") "VIEW" else "BASE TABLE")) === shown)

    // Connector/J getColumns source columns: COLUMN_TYPE / COLUMN_KEY /
    // EXTRA / IS_NULLABLE with MySQL type spellings
    val cols = rows(e,
      """SELECT TABLE_SCHEMA AS TABLE_CAT, COLUMN_NAME,
        | UPPER(DATA_TYPE) AS TYPE_NAME, UPPER(COLUMN_TYPE) AS FULL_TYPE,
        | CHARACTER_MAXIMUM_LENGTH, NUMERIC_PRECISION, NUMERIC_SCALE,
        | IF(IS_NULLABLE='YES', 1, 0) AS NULLABLE, COLUMN_KEY,
        | IF(EXTRA LIKE '%auto_increment%','YES','NO') AS IS_AUTOINCREMENT,
        | ORDINAL_POSITION
        |FROM INFORMATION_SCHEMA.COLUMNS
        |WHERE TABLE_SCHEMA = DATABASE() AND TABLE_NAME = 'accounts'
        |ORDER BY ORDINAL_POSITION""".stripMargin)
    assert(cols.map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getInt(7), r.getString(8)))
      === Seq(("main", "id", "BIGINT", 0, "PRI"),
        ("main", "owner", "TEXT", 1, ""),
        ("main", "bal", "DOUBLE", 1, "")))

    // auto_increment surfaces through EXTRA, recorded spelling through
    // COLUMN_TYPE
    SqlRouter.execute(e, "CREATE TABLE seqd (id INT NOT NULL AUTO_INCREMENT, " +
      "tag VARCHAR(40), PRIMARY KEY (id))")
    val seqd = rows(e,
      """SELECT COLUMN_NAME, COLUMN_TYPE, COLUMN_KEY, EXTRA,
        | CHARACTER_MAXIMUM_LENGTH
        |FROM information_schema.columns
        |WHERE TABLE_SCHEMA = DATABASE() AND TABLE_NAME = 'seqd'
        |ORDER BY ORDINAL_POSITION""".stripMargin)
    assert(seqd.map(r => (r.getString(0), r.getString(1), r.getString(2),
      r.getString(3))) === Seq(("id", "int", "PRI", "auto_increment"),
      ("tag", "varchar(40)", "", "")))
    assert(seqd(1).getInt(4) === 40)

    // getImportedKeys probes REFERENCED_TABLE_SCHEMA — present, empty
    assert(rows(e,
      """SELECT CONSTRAINT_NAME FROM information_schema.key_column_usage
        |WHERE REFERENCED_TABLE_SCHEMA IS NOT NULL""".stripMargin).isEmpty)
    // statistics respells table_schema too (getIndexInfo WHERE clause)
    assert(rows(e,
      """SELECT INDEX_NAME, COLUMN_NAME FROM information_schema.statistics
        |WHERE TABLE_SCHEMA = DATABASE() AND TABLE_NAME = 'accounts'""".stripMargin)
      === Seq(Row("PRIMARY", "id")))

    // generated columns surface through EXTRA / GENERATION_EXPRESSION
    SqlRouter.execute(e, "CREATE TABLE genc (id BIGINT PRIMARY KEY, " +
      "a DOUBLE, tot DOUBLE GENERATED ALWAYS AS (a * 2) STORED)")
    assert(rows(e,
      """SELECT COLUMN_NAME, EXTRA, GENERATION_EXPRESSION
        |FROM information_schema.columns
        |WHERE TABLE_SCHEMA = DATABASE() AND TABLE_NAME = 'genc'
        |  AND COLUMN_NAME = 'tot'""".stripMargin)
      === Seq(Row("tot", "STORED GENERATED", "a * 2")))

    // the PG-verbatim frames are untouched: a session without MySQL
    // evidence keeps the spec'd 'public' convention
    val pg = mkEngine("pgcat_mysql_is_pg")
    assert(pg.sessionDialect.isEmpty)
    assert(rows(pg,
      """SELECT table_name FROM information_schema.tables
        |WHERE table_schema = 'public' ORDER BY table_name""".stripMargin)
      .map(_.getString(0)) === Seq("accounts", "notes", "rich_accounts"))
    // ...and PG's own generated-column spellings answer there
    SqlRouter.execute(pg, "CREATE TABLE genp (id BIGINT PRIMARY KEY, " +
      "a DOUBLE, tot DOUBLE GENERATED ALWAYS AS (a * 2) STORED)")
    assert(rows(pg,
      """SELECT is_generated, generation_expression
        |FROM information_schema.columns
        |WHERE table_name = 'genp' AND column_name = 'tot'""".stripMargin)
      === Seq(Row("ALWAYS", "a * 2")))
    assert(rows(pg,
      """SELECT is_generated FROM information_schema.columns
        |WHERE table_name = 'genp' AND column_name = 'a'""".stripMargin)
      === Seq(Row("NEVER")))
  }

  test("regex-operator and cast rewrites are quote-aware (units)") {
    val e = new Engine(spark, tmpDir("pgcat_units"))
    // a tilde inside a string literal never rewrites
    assert(PgCompat.regexOps("SELECT '~' AS t") === "SELECT '~' AS t")
    assert(PgCompat.regexOps("SELECT a !~ 'x' FROM t")
      === "SELECT NOT (a RLIKE 'x') FROM t")
    assert(PgCompat.regexOps("SELECT a ~* 'x.*y' FROM t")
      === "SELECT a RLIKE '(?i)x.*y' FROM t")
    // a '::' inside a literal survives; outside it folds to CAST with
    // the multi-word PG type names mapped
    assert(PgCompat.casts(e, "SELECT 'a::b' AS t") === "SELECT 'a::b' AS t")
    assert(PgCompat.casts(e, "SELECT x::character varying(10) FROM t")
      === "SELECT CAST(x AS STRING) FROM t")
    assert(PgCompat.casts(e, "SELECT (a + b)::numeric(10,2) FROM t")
      === "SELECT CAST((a + b) AS DECIMAL(10,2)) FROM t")
    assert(PgCompat.casts(e, "SELECT ts::timestamp without time zone FROM t")
      === "SELECT CAST(ts AS TIMESTAMP) FROM t")
    // a paren group glued to an identifier chain is a call: the whole
    // call is the operand; a doubled quote stays inside its literal
    assert(PgCompat.casts(e, "SELECT count(*)::bigint FROM t")
      === "SELECT CAST(count(*) AS BIGINT) FROM t")
    assert(PgCompat.casts(e, "SELECT s.f(x, ')')::int FROM t")
      === "SELECT CAST(s.f(x, ')') AS INT) FROM t")
    assert(PgCompat.casts(e, "SELECT 'it''s'::text")
      === "SELECT CAST('it''s' AS STRING)")
    // ANY with a subquery operand becomes IN, array operand the shim
    assert(PgCompat.anyOp("WHERE x = ANY(SELECT id FROM t)")
      === "WHERE x IN (SELECT id FROM t)")
    assert(PgCompat.anyOp("WHERE x = ANY(arr_col)")
      === "WHERE my_list_contains(arr_col, x)")
    // PG identifier quoting converts; embedded '' stays a literal
    assert(PgCompat.quoteIdents("""SELECT "a-b" FROM "T" WHERE x = 'he said ""'""")
      === "SELECT `a-b` FROM `T` WHERE x = 'he said \"\"'")
  }

  test("psql \\d+ partition listing: pg_inherits, relpartbound, pg_partitioned_table") {
    val e = new Engine(spark, tmpDir("pgcat_part"))
    SqlRouter.execute(e,
      "CREATE TABLE pt (id BIGINT, v STRING) PARTITION BY RANGE (id)")
    SqlRouter.execute(e,
      "CREATE TABLE pt_lo PARTITION OF pt FOR VALUES FROM (0) TO (100)")
    SqlRouter.execute(e, "CREATE TABLE pt_hi PARTITION OF pt DEFAULT")
    // the parent is relkind 'p' with relhassubclass
    assert(rows(e, "SELECT relkind, relhassubclass FROM pg_catalog.pg_class " +
      "WHERE relname = 'pt'") === Seq(Row("p", true)))
    // the \d+ shape: children + bounds through pg_inherits and
    // pg_get_expr over relpartbound
    val kids = rows(e,
      """SELECT c.relname, pg_get_expr(c.relpartbound, c.oid)
        |FROM pg_catalog.pg_inherits i
        |JOIN pg_catalog.pg_class c ON c.oid = i.inhrelid
        |JOIN pg_catalog.pg_class p ON p.oid = i.inhparent
        |WHERE p.relname = 'pt' ORDER BY c.relname""".stripMargin)
    assert(kids === Seq(Row("pt_hi", "DEFAULT"),
      Row("pt_lo", "FOR VALUES FROM (0) TO (100)")))
    // strategy + key attnum + default-partition oid
    val meta = rows(e,
      """SELECT pt.partstrat, pt.partnatts, d.relname
        |FROM pg_catalog.pg_partitioned_table pt
        |JOIN pg_catalog.pg_class d ON d.oid = pt.partdefid""".stripMargin)
    assert(meta === Seq(Row("r", 1, "pt_hi")))
    // detach removes the edge
    SqlRouter.execute(e, "ALTER TABLE pt DETACH PARTITION pt_lo")
    assert(rows(e, "SELECT count(*) FROM pg_catalog.pg_inherits")
      === Seq(Row(1L)))
    assert(rows(e, "SELECT relispartition FROM pg_catalog.pg_class " +
      "WHERE relname = 'pt_lo'") === Seq(Row(false)))
  }
}
