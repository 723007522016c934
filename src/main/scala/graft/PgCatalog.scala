package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** A33–A35: PostgreSQL system-catalog emulation, engine-side.
  *
  * The reference emulates pg_catalog with SQL-defined tables/views in a
  * `__sys__` schema plus a regex rewrite that routes `pg_catalog.x`
  * references there (`catalog/internal_tables.go:283-638`,
  * `catalog/internal_views.go:14-89`, `pgserver/stmt.go:266-314`), and
  * answers recovery / WAL / setting probes without touching the engine
  * (`pgserver/in_place_handler.go:20-192`). It creates the big catalog
  * relations (pg_type/pg_proc/pg_class) EMPTY — correct schemas, no
  * rows — because DuckDB underneath supplies its own populated copies.
  *
  * Spark has no such native layer, so this object goes further: every
  * relation is a DataFrame built live from engine metadata (manifests,
  * view registry, function registry) and registered on demand as a
  * `__sys__<name>` temp view by [[Engine.registerReferenced]] whenever a
  * statement references it (after [[PgCompat]] rewrites the PG
  * spellings). Introspection queries therefore see the real catalog:
  * psql-style listings, Metabase's pg_class/pg_namespace/pg_description
  * joins, and JDBC primary-key discovery all return live rows.
  *
  * Schema-to-namespace mapping: the engine's CURRENT database plays the
  * role of PG's `public` schema (oid 2200) — the same convention
  * `SqlRouter.normalizeStatement` applies to `public.`-qualified names —
  * and every other database appears as a namespace under its own name.
  *
  * Everything here is metadata-sized: frames are built from manifests
  * on the driver (no jobs) and hold O(catalog) rows, never data.
  */
object PgCatalog {

  /** Relation names the compat rewrite recognizes after FROM/JOIN/INTO
    * or a `pg_catalog.` qualifier. The A34 set, plus the relations the
    * reference gets natively from DuckDB (pg_attribute, pg_description,
    * pg_enum) that its compat-test queries rely on
    * (`pgserver/in_place_handler_test.go:39-117`), plus the psql
    * convenience views pg_tables/pg_views. */
  val tableNames: Set[String] = Set(
    "pg_namespace", "pg_class", "pg_attribute", "pg_type", "pg_proc",
    "pg_range", "pg_index", "pg_enum", "pg_description", "pg_matviews",
    "pg_stat_user_tables", "pg_stat_replication", "pg_subscription",
    "pg_tables", "pg_views", "pg_inherits", "pg_partitioned_table")

  /** SQL-addressable information_schema relations (the standard surface
    * client tools introspect with — the reference's own pg_index /
    * pg_stat_user_tables emulation views are DEFINED over these,
    * `catalog/internal_views.go:46-89`). Registered as `__is__<name>`
    * by the same on-demand path as the pg_catalog relations.
    * Convention: `table_catalog` is the engine database;
    * `table_schema` is its PG-visible namespace name (`public` for the
    * current database, the db name otherwise) — consistent with
    * pg_namespace. */
  val infoSchemaNames: Set[String] = Set(
    "schemata", "tables", "columns", "views", "table_constraints",
    "key_column_usage", "statistics", "routines",
    "referential_constraints")

  /** Fixed oids of the catalog relations themselves (public PostgreSQL
    * constants — what `'pg_class'::regclass` must resolve to). */
  val catalogRelOids: Map[String, Long] = Map(
    "pg_type" -> 1247L, "pg_attribute" -> 1249L, "pg_proc" -> 1255L,
    "pg_class" -> 1259L, "pg_description" -> 2609L, "pg_index" -> 2610L,
    "pg_inherits" -> 2611L, "pg_namespace" -> 2615L, "pg_enum" -> 3501L,
    "pg_partitioned_table" -> 3350L, "pg_range" -> 3541L)

  // ------------------------------------------------------------------
  // Type table: the PG built-in types the engine's type system maps
  // onto, with their public fixed oids (pg_type.dat). typlen -1 means
  // varlena; typarray links each base type to its array type.

  private final case class PgTy(oid: Long, name: String, len: Int,
      cat: String, pref: Boolean, elem: Long, array: Long, coll: Long)

  private val baseTypes: Seq[PgTy] = Seq(
    PgTy(16, "bool", 1, "B", pref = true, 0, 1000, 0),
    PgTy(17, "bytea", -1, "U", pref = false, 0, 1001, 0),
    PgTy(18, "char", 1, "Z", pref = false, 0, 1002, 0),
    PgTy(19, "name", 64, "S", pref = false, 18, 1003, 950),
    PgTy(20, "int8", 8, "N", pref = false, 0, 1016, 0),
    PgTy(21, "int2", 2, "N", pref = false, 0, 1005, 0),
    PgTy(23, "int4", 4, "N", pref = false, 0, 1007, 0),
    PgTy(25, "text", -1, "S", pref = true, 0, 1009, 100),
    PgTy(26, "oid", 4, "N", pref = false, 0, 1028, 0),
    PgTy(114, "json", -1, "U", pref = false, 0, 199, 0),
    PgTy(700, "float4", 4, "N", pref = false, 0, 1021, 0),
    PgTy(701, "float8", 8, "N", pref = true, 0, 1022, 0),
    PgTy(1042, "bpchar", -1, "S", pref = false, 0, 1014, 100),
    PgTy(1043, "varchar", -1, "S", pref = false, 0, 1015, 100),
    PgTy(1082, "date", 4, "D", pref = false, 0, 1182, 0),
    PgTy(1083, "time", 8, "D", pref = false, 0, 1183, 0),
    PgTy(1114, "timestamp", 8, "D", pref = false, 0, 1115, 0),
    PgTy(1184, "timestamptz", 8, "D", pref = true, 0, 1185, 0),
    PgTy(1186, "interval", 16, "T", pref = true, 0, 1187, 0),
    PgTy(1700, "numeric", -1, "N", pref = false, 0, 1231, 0),
    PgTy(2205, "regclass", 4, "N", pref = false, 0, 2210, 0),
    PgTy(2249, "record", -1, "P", pref = false, 0, 2287, 0),
    PgTy(2950, "uuid", 16, "U", pref = false, 0, 2951, 0),
    PgTy(3802, "jsonb", -1, "U", pref = false, 0, 3807, 0))

  /** The base types plus their array companions (psql's \dT and driver
    * type probes touch both). */
  private val builtinTypes: Seq[PgTy] = baseTypes ++
    Seq(1000L -> 16L, 1001L -> 17L, 1005L -> 21L, 1007L -> 23L,
      1009L -> 25L, 1014L -> 1042L, 1015L -> 1043L, 1016L -> 20L,
      1021L -> 700L, 1022L -> 701L, 1115L -> 1114L, 1182L -> 1082L,
      1185L -> 1184L, 1231L -> 1700L, 199L -> 114L, 3807L -> 3802L)
      .map { case (aOid, eOid) =>
        val elemName = baseTypes.find(_.oid == eOid).map(_.name).getOrElse("?")
        PgTy(aOid, "_" + elemName, -1, "A", pref = false, eOid, 0, 0)
      }

  /** `'typname'::regtype` resolution (PgCompat) + pg_type rows. */
  val typeOidByName: Map[String, Long] =
    builtinTypes.map(t => t.name -> t.oid).toMap ++ Map(
      "boolean" -> 16L, "bigint" -> 20L, "smallint" -> 21L,
      "integer" -> 23L, "int" -> 23L, "real" -> 700L,
      "double precision" -> 701L, "character varying" -> 1043L,
      "character" -> 1042L, "decimal" -> 1700L,
      "timestamp without time zone" -> 1114L,
      "timestamp with time zone" -> 1184L)

  /** Spark type → pg_type oid, for pg_attribute.atttypid. */
  def pgTypeOid(dt: DataType): Long = dt match {
    case BooleanType => 16L
    case ByteType | ShortType => 21L
    case IntegerType => 23L
    case LongType => 20L
    case FloatType => 700L
    case DoubleType => 701L
    case _: DecimalType => 1700L
    case StringType => 25L
    case BinaryType => 17L
    case DateType => 1082L
    case TimestampType => 1184L
    case TimestampNTZType => 1114L
    case ArrayType(et, _) =>
      builtinTypes.find(t => t.cat == "A" && t.elem == pgTypeOid(et))
        .map(_.oid).getOrElse(2277L) // anyarray when no companion row
    case _: MapType => 114L  // closest analog: json document
    case _: StructType => 2249L // record
    case _ => 25L
  }

  // ------------------------------------------------------------------
  // Live catalog enumeration: one consistent snapshot shared by every
  // frame built for a statement. Relation oids are assigned from the
  // sorted (db, name) enumeration starting at PG's user-oid floor
  // 16384 — deterministic for a given catalog state, and internally
  // consistent across pg_class/pg_attribute/pg_index within a
  // statement, which is all catalog joins require.

  private final case class Rel(oid: Long, nspOid: Long, nspname: String,
      name: String, kind: String, schema: StructType, pk: Seq[String],
      checks: Int, autoinc: Set[String], defaults: Map[String, String],
      viewDef: Option[String], pkIndexOid: Long,
      uniques: Map[String, Seq[String]] = Map.empty,
      generated: Map[String, String] = Map.empty,
      /** `RANGE (keys)` text when this rel is a partitioned PARENT. */
      partStrat: Option[String] = None,
      /** (parent bare name, bounds text) when this rel is an attached
        * partition — surfaces as relispartition/relpartbound and
        * pg_inherits. */
      partOf: Option[(String, String)] = None,
      /** columns whose identity flavor is GENERATED ALWAYS —
        * attidentity 'a' (BY DEFAULT / AUTO_INCREMENT stay 'd'). */
      identityAlways: Set[String] = Set.empty)

  private final case class Snapshot(namespaces: Seq[(Long, String, Long, String)],
      rels: Seq[Rel])

  private def snapshot(engine: Engine): Snapshot = {
    val dbs = engine.listDatabases().sorted
    val current = engine.currentDatabase
    // builtin namespaces per the reference's initial data
    // (`catalog/initial_data.go:8-13`); the current db IS `public`
    val builtins = Seq(
      (99L, "pg_toast", 10L, null: String),
      (11L, "pg_catalog", 10L, "{postgres=UC/postgres,=U/postgres}"),
      (2200L, "public", 6171L,
        "{pg_database_owner,=UC/pg_database_owner,=U/pg_database_owner}"),
      (13219L, "information_schema", 10L, "{postgres=UC/postgres,=U/postgres}"))
    val userNs = dbs.filterNot(_ == current).zipWithIndex.map {
      case (db, i) => (16000L + i, db, 10L, null: String)
    }
    val nsOf: Map[String, (Long, String)] =
      (dbs.filterNot(_ == current).map(db =>
        db -> (userNs.find(_._2 == db).get._1, db)) :+
        (current -> (2200L, "public"))).toMap

    var next = 16384L
    val rels = Seq.newBuilder[Rel]
    dbs.foreach { db =>
      val (nspOid, nspname) = nsOf(db)
      // one manifest pass per db; the parent→child bounds lookup for
      // relpartbound/pg_inherits reads the PARENT's partchild props
      val mans = engine.listTables(db).sorted
        .map(t => t -> engine.table(s"$db.$t").manifest)
      val byName = mans.toMap
      mans.foreach { case (t, m) =>
        val oid = next; next += 1
        val pkOid = if (m.pkCols.nonEmpty) { val o = next; next += 1; o } else 0L
        rels += Rel(oid, nspOid, nspname, t, "r", m.schema, m.pkCols,
          m.props.keys.count(_.startsWith("check.")),
          m.props.keys.filter(_.startsWith("autoinc."))
            .map(_.stripPrefix("autoinc.")).toSet,
          m.props.collect { case (k, v) if k.startsWith("default.") =>
            k.stripPrefix("default.") -> v },
          None, pkOid,
          m.props.collect { case (k, v) if k.startsWith("unique.") =>
            k.stripPrefix("unique.") -> v.split(',').map(_.trim).toSeq },
          m.props.collect { case (k, v) if k.startsWith("generated.") =>
            k.stripPrefix("generated.") -> v },
          identityAlways = m.props.collect {
            case (k, v) if k.startsWith("identity.") && v == "always" =>
              k.stripPrefix("identity.")
          }.toSet,
          partStrat = m.props.get("partition.by"),
          partOf = m.props.get("partof").flatMap(p =>
            byName.get(p).flatMap(_.props.get(s"partchild.$t"))
              .map(b => (p, b))))
        if (pkOid != 0L)
          rels += Rel(pkOid, nspOid, nspname, s"${t}_pkey", "i",
            new StructType(), Nil, 0, Set.empty, Map.empty, None, 0L)
      }
      engine.viewDefs(db).toSeq.sortBy(_._1).foreach { case (v, defn) =>
        val oid = next; next += 1
        // view columns would need plan analysis (a potential recursion
        // into registration) — relnatts 0, no pg_attribute rows
        rels += Rel(oid, nspOid, nspname, v, "v", new StructType(), Nil,
          0, Set.empty, Map.empty, Some(defn), 0L)
      }
    }
    Snapshot(builtins ++ userNs, rels.result())
  }

  /** oid of a user relation by PG-visible name — `'t'::regclass`
    * resolution for user tables ("public.t" and bare "t" accepted). */
  def relOid(engine: Engine, name: String): Option[Long] = {
    val bare = name.stripPrefix("public.").toLowerCase
    catalogRelOids.get(bare).orElse(
      snapshot(engine).rels.find(_.name.toLowerCase == bare).map(_.oid))
  }

  // ------------------------------------------------------------------
  // Frame construction

  private def mk(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)

  private def ddl(s: String): StructType = StructType.fromDDL(s)

  /** Build one catalog relation as a DataFrame. Unknown names throw —
    * callers gate on [[tableNames]]. */
  def frame(engine: Engine, name: String): DataFrame = {
    val spark = engine.spark
    lazy val snap = snapshot(engine)
    name match {
      case "pg_namespace" =>
        mk(spark, ddl("oid BIGINT, nspname STRING, nspowner BIGINT, nspacl STRING"),
          snap.namespaces.map(n => Row(n._1, n._2, n._3, n._4)))

      case "pg_range" => // initial data per catalog/initial_data.go:15-22
        mk(spark, ddl("rngtypid BIGINT, rngsubtype BIGINT, rngmultitypid BIGINT, " +
          "rngcollation BIGINT, rngsubopc BIGINT, rngcanonical STRING, rngsubdiff STRING"),
          Seq(
            Row(3904L, 23L, 4451L, 0L, 1978L, "int4range_canonical", "int4range_subdiff"),
            Row(3906L, 1700L, 4532L, 0L, 3125L, "-", "numrange_subdiff"),
            Row(3908L, 1114L, 4533L, 0L, 3128L, "-", "tsrange_subdiff"),
            Row(3910L, 1184L, 4534L, 0L, 3127L, "-", "tstzrange_subdiff"),
            Row(3912L, 1082L, 4535L, 0L, 3122L, "daterange_canonical", "daterange_subdiff"),
            Row(3926L, 20L, 4536L, 0L, 3124L, "int8range_canonical", "int8range_subdiff")))

      case "pg_type" => // 31 columns per the reference DDL
        val schema = ddl("oid BIGINT, typname STRING, typnamespace BIGINT, " +
          "typowner BIGINT, typlen INT, typbyval BOOLEAN, typtype STRING, " +
          "typcategory STRING, typispreferred BOOLEAN, typisdefined BOOLEAN, " +
          "typdelim STRING, typrelid BIGINT, typsubscript BIGINT, typelem BIGINT, " +
          "typarray BIGINT, typinput BIGINT, typoutput BIGINT, typreceive BIGINT, " +
          "typsend BIGINT, typmodin BIGINT, typmodout BIGINT, typanalyze BIGINT, " +
          "typalign STRING, typstorage STRING, typnotnull BOOLEAN, " +
          "typbasetype BIGINT, typtypmod INT, typndims INT, typcollation BIGINT, " +
          "typdefaultbin STRING, typdefault STRING")
        mk(spark, schema, builtinTypes.map { t =>
          val fixed = t.len > 0
          Row(t.oid, t.name, 11L, 10L, t.len, fixed && t.len <= 8,
            "b", t.cat, t.pref, true, ",", 0L, 0L, t.elem, t.array,
            0L, 0L, 0L, 0L, 0L, 0L, 0L,
            if (t.len == 8) "d" else "i", if (fixed) "p" else "x",
            false, 0L, -1, 0, t.coll, null, null)
        })

      case "pg_inherits" =>
        // declarative partitioning's parent↔child edges (what psql's
        // \d+ partition listing joins pg_class through)
        val schema = ddl("inhrelid BIGINT, inhparent BIGINT, " +
          "inhseqno INT, inhdetachpending BOOLEAN")
        val oidOf = snap.rels.map(r => (r.nspOid, r.name) -> r.oid).toMap
        mk(spark, schema, snap.rels.flatMap { r =>
          r.partOf.flatMap { case (p, _) =>
            oidOf.get((r.nspOid, p)).map(po => Row(r.oid, po, 1, false))
          }
        })

      case "pg_partitioned_table" =>
        // key metadata of each partitioned parent: strategy char,
        // key attnums (0 for expression keys, whose text rides in
        // partexprs — PG's own convention), and the DEFAULT child oid
        val schema = ddl("partrelid BIGINT, partstrat STRING, " +
          "partnatts INT, partdefid BIGINT, partattrs ARRAY<INT>, " +
          "partexprs STRING")
        val oidOf = snap.rels.map(r => (r.nspOid, r.name) -> r.oid).toMap
        mk(spark, schema, snap.rels.flatMap { r =>
          r.partStrat.flatMap { by =>
            scala.util.Try(graft.Partitioning.parse(by)).toOption.map { spec =>
              val attnum = spec.keys.map { k =>
                if (k.matches("[A-Za-z_][A-Za-z0-9_$]*"))
                  r.schema.fieldNames.indexWhere(_.equalsIgnoreCase(k)) + 1
                else 0
              }
              val exprs = spec.keys.filterNot(
                _.matches("[A-Za-z_][A-Za-z0-9_$]*"))
              val defOid = snap.rels.find(c =>
                c.partOf.exists { case (p, b) =>
                  p == r.name && c.nspOid == r.nspOid &&
                    b.trim.equalsIgnoreCase("DEFAULT")
                }).map(_.oid).getOrElse(0L)
              Row(r.oid, spec.strategy.take(1).toLowerCase,
                spec.keys.length, defOid, attnum,
                if (exprs.isEmpty) null else exprs.mkString(", "))
            }
          }
        })

      case "pg_class" => // 36 columns per the reference DDL
        val schema = ddl("oid BIGINT, relname STRING, relnamespace BIGINT, " +
          "reltype BIGINT, reloftype BIGINT, relowner BIGINT, relam BIGINT, " +
          "relfilenode BIGINT, reltablespace BIGINT, relpages INT, " +
          "reltuples FLOAT, relallvisible INT, reltoastrelid BIGINT, " +
          "relhasindex BOOLEAN, relisshared BOOLEAN, relpersistence STRING, " +
          "relkind STRING, relnatts INT, relchecks INT, relhasrules BOOLEAN, " +
          "relhastriggers BOOLEAN, relhassubclass BOOLEAN, relrowsecurity BOOLEAN, " +
          "relforcerowsecurity BOOLEAN, relispopulated BOOLEAN, relreplident STRING, " +
          "relispartition BOOLEAN, relrewrite BIGINT, relfrozenxid BIGINT, " +
          "relminmxid BIGINT, relacl STRING, reloptions STRING, relpartbound STRING")
        // the catalog relations are ordinary tables in pg_catalog
        val catalogRels = catalogRelOids.toSeq.sortBy(_._2).map {
          case (name, oid) => Rel(oid, 11L, "pg_catalog", name, "r",
            new StructType(), Nil, 0, Set.empty, Map.empty, None, 0L)
        }
        mk(spark, schema, (snap.rels ++ catalogRels).map { r =>
          // a partitioned parent is relkind 'p' with relhassubclass;
          // an attached partition carries relispartition + its bounds
          // in relpartbound (pg_get_expr's passthrough returns the
          // text — what psql's \d+ partition listing renders)
          Row(r.oid, r.name, r.nspOid, 0L, 0L, 10L, 2L, r.oid, 0L, 0,
            -1.0f, 0, 0L, r.pk.nonEmpty, false, "p",
            if (r.partStrat.isDefined) "p" else r.kind,
            r.schema.fields.length, r.checks, false, false,
            r.partStrat.isDefined, false,
            false, true, if (r.pk.nonEmpty) "d" else "n",
            r.partOf.isDefined, 0L, 0L,
            0L, null, null, r.partOf.map(_._2).orNull)
        })

      case "pg_attribute" =>
        val schema = ddl("attrelid BIGINT, attname STRING, atttypid BIGINT, " +
          "attstattarget INT, attlen INT, attnum INT, attndims INT, " +
          "attcacheoff INT, atttypmod INT, attbyval BOOLEAN, attalign STRING, " +
          "attstorage STRING, attnotnull BOOLEAN, atthasdef BOOLEAN, " +
          "attidentity STRING, attgenerated STRING, attisdropped BOOLEAN, " +
          "attislocal BOOLEAN, attinhcount INT, attcollation BIGINT")
        mk(spark, schema, snap.rels.filter(_.kind == "r").flatMap { r =>
          r.schema.fields.zipWithIndex.map { case (f, i) =>
            val tyOid = pgTypeOid(f.dataType)
            val ty = builtinTypes.find(_.oid == tyOid)
            val len = ty.map(_.len).getOrElse(-1)
            Row(r.oid, f.name, tyOid, -1, len, i + 1,
              if (f.dataType.isInstanceOf[ArrayType]) 1 else 0, -1, -1,
              len > 0 && len <= 8, if (len == 8) "d" else "i",
              if (len > 0) "p" else "x",
              !f.nullable || r.pk.contains(f.name),
              r.defaults.contains(f.name) || r.autoinc.contains(f.name),
              if (r.identityAlways.contains(f.name)) "a"
              else if (r.autoinc.contains(f.name)) "d" else "",
              "", false, true, 0, ty.map(_.coll).getOrElse(0L))
          }
        })

      case "pg_index" => // per the reference view + indisvalid for JDBC
        val schema = StructType(Seq(
          StructField("indexrelid", LongType), StructField("indrelid", LongType),
          StructField("indnatts", IntegerType), StructField("indnkeyatts", IntegerType),
          StructField("indisunique", BooleanType), StructField("indisprimary", BooleanType),
          StructField("indisvalid", BooleanType),
          StructField("indkey", ArrayType(IntegerType)),
          StructField("indcollation", ArrayType(LongType)),
          StructField("indclass", ArrayType(LongType)),
          StructField("indoption", ArrayType(IntegerType)),
          StructField("indexprs", StringType), StructField("indpred", StringType)))
        mk(spark, schema, snap.rels.filter(r => r.kind == "r" && r.pk.nonEmpty)
          .map { r =>
            val positions = r.pk.map(c =>
              r.schema.fieldNames.indexOf(c) + 1).toArray
            Row(r.pkIndexOid, r.oid, r.pk.size, r.pk.size, true, true, true,
              positions, Array.empty[Long], Array.empty[Long],
              Array.empty[Int], null, null)
          })

      case "pg_proc" =>
        // every SQL-callable function in the session registry — the
        // engine-native registrations (GraftFunctions, MySqlShims) plus
        // Spark's builtins, which is what a populated pg_proc holds
        val schema = ddl("oid BIGINT, proname STRING, pronamespace BIGINT, " +
          "proowner BIGINT, prolang BIGINT, procost FLOAT, prorows FLOAT, " +
          "provariadic BIGINT, prokind STRING, prosecdef BOOLEAN, " +
          "proleakproof BOOLEAN, proisstrict BOOLEAN, proretset BOOLEAN, " +
          "provolatile STRING, proparallel STRING, pronargs INT, " +
          "pronargdefaults INT, prorettype BIGINT, proargtypes STRING, " +
          "prosrc STRING")
        val names = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .sessionState.functionRegistry.listFunction()
          .map(_.funcName).distinct.sorted
        mk(spark, schema, names.zipWithIndex.map { case (fn, i) =>
          Row(20000L + i, fn, 11L, 10L, 12L, 1.0f, 0.0f, 0L, "f", false,
            false, false, false, "i", "s", 0, 0, 0L, "", fn)
        })

      case "pg_enum" =>
        mk(spark, ddl("oid BIGINT, enumtypid BIGINT, enumsortorder FLOAT, " +
          "enumlabel STRING"), Nil)

      case "pg_description" =>
        mk(spark, ddl("objoid BIGINT, classoid BIGINT, objsubid INT, " +
          "description STRING"), Nil)

      case "pg_matviews" => // per the reference DDL
        mk(spark, ddl("schemaname STRING, matviewname STRING, matviewowner STRING, " +
          "tablespace STRING, hasindexes BOOLEAN, ispopulated BOOLEAN, " +
          "definition STRING"), Nil)

      case "pg_subscription" => // per the reference DDL (r16: fed by
        // the engine's subscription catalog — Engine.subscriptions)
        mk(spark, ddl("subname STRING, subconninfo STRING, subpublication STRING, " +
          "subskiplsn STRING, subenabled BOOLEAN"),
          engine.subscriptions.toSeq.sortBy(_._1).map { case (n, s) =>
            Row(n, s("connection"), s("publication"), s("lsn"),
              s("enabled") == "true")
          })

      case "pg_stat_replication" =>
        mk(spark, ddl("pid INT, usesysid BIGINT, usename STRING, " +
          "application_name STRING, client_addr STRING, client_hostname STRING, " +
          "client_port INT, backend_start TIMESTAMP, state STRING, " +
          "sent_lsn STRING, write_lsn STRING, flush_lsn STRING, replay_lsn STRING, " +
          "sync_priority INT, sync_state STRING"), Nil)

      case "pg_stat_user_tables" =>
        // reference view shape (internal_views.go:16-48) with relid as
        // the pg_class oid (PG's actual type) instead of its
        // schema||'.'||name expedient, so joins on relid compose
        val schema = ddl("relid BIGINT, schemaname STRING, relname STRING, " +
          "seq_scan BIGINT, last_seq_scan TIMESTAMP, seq_tup_read BIGINT, " +
          "idx_scan BIGINT, last_idx_scan TIMESTAMP, idx_tup_fetch BIGINT, " +
          "n_tup_ins BIGINT, n_tup_upd BIGINT, n_tup_del BIGINT, " +
          "n_tup_hot_upd BIGINT, n_live_tup BIGINT, n_dead_tup BIGINT, " +
          "n_mod_since_analyze BIGINT, last_vacuum TIMESTAMP, " +
          "last_analyze TIMESTAMP, vacuum_count BIGINT, analyze_count BIGINT")
        mk(spark, schema, snap.rels.filter(_.kind == "r").map { r =>
          Row(r.oid, r.nspname, r.name, 0L, null, 0L, 0L, null, 0L,
            0L, 0L, 0L, 0L, 0L, 0L, 0L, null, null, 0L, 0L)
        })

      case "pg_tables" =>
        mk(spark, ddl("schemaname STRING, tablename STRING, tableowner STRING, " +
          "tablespace STRING, hasindexes BOOLEAN, hasrules BOOLEAN, " +
          "hastriggers BOOLEAN, rowsecurity BOOLEAN"),
          snap.rels.filter(_.kind == "r").map(r =>
            Row(r.nspname, r.name, "graft", null, r.pk.nonEmpty, false,
              false, false)))

      case "pg_views" =>
        mk(spark, ddl("schemaname STRING, viewname STRING, viewowner STRING, " +
          "definition STRING"),
          snap.rels.filter(_.kind == "v").map(r =>
            Row(r.nspname, r.name, "graft", r.viewDef.orNull)))

      case other =>
        throw new IllegalArgumentException(s"not a pg_catalog relation: $other")
    }
  }

  /** PG's information_schema data_type spelling for a Spark type. */
  def pgDataTypeName(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case ByteType | ShortType => "smallint"
    case IntegerType => "integer"
    case LongType => "bigint"
    case FloatType => "real"
    case DoubleType => "double precision"
    case _: DecimalType => "numeric"
    case StringType => "text"
    case BinaryType => "bytea"
    case DateType => "date"
    case TimestampType => "timestamp with time zone"
    case TimestampNTZType => "timestamp without time zone"
    case _: ArrayType => "ARRAY"
    case _ => "USER-DEFINED"
  }

  /** Build one information_schema relation as a DataFrame. */
  def infoFrame(engine: Engine, name: String): DataFrame = {
    val spark = engine.spark
    lazy val snap = snapshot(engine)
    name match {
      case "schemata" =>
        mk(spark, ddl("catalog_name STRING, schema_name STRING, schema_owner STRING"),
          snap.namespaces.map(n => Row(engine.currentDatabase, n._2, "graft")))

      case "tables" =>
        mk(spark, ddl("table_catalog STRING, table_schema STRING, " +
          "table_name STRING, table_type STRING"),
          snap.rels.filter(r => r.kind == "r" || r.kind == "v").map(r =>
            Row(dbOf(engine, r), r.nspname, r.name,
              if (r.kind == "v") "VIEW" else "BASE TABLE")))

      case "columns" =>
        val schema = ddl("table_catalog STRING, table_schema STRING, " +
          "table_name STRING, column_name STRING, ordinal_position INT, " +
          "column_default STRING, is_nullable STRING, data_type STRING, " +
          "character_maximum_length INT, numeric_precision INT, " +
          "numeric_scale INT, udt_name STRING, is_generated STRING, " +
          "generation_expression STRING")
        mk(spark, schema, snap.rels.filter(_.kind == "r").flatMap { r =>
          r.schema.fields.zipWithIndex.map { case (f, i) =>
            val (prec, scale) = f.dataType match {
              case d: DecimalType => (d.precision: Integer, d.scale: Integer)
              case IntegerType => (32: Integer, 0: Integer)
              case LongType => (64: Integer, 0: Integer)
              case ShortType | ByteType => (16: Integer, 0: Integer)
              case FloatType => (24: Integer, null: Integer)
              case DoubleType => (53: Integer, null: Integer)
              case _ => (null: Integer, null: Integer)
            }
            Row(dbOf(engine, r), r.nspname, r.name, f.name, i + 1,
              if (r.autoinc.contains(f.name)) s"nextval('${r.name}_${f.name}_seq'::regclass)"
              else r.defaults.get(f.name).orNull,
              if (f.nullable && !r.pk.contains(f.name)) "YES" else "NO",
              pgDataTypeName(f.dataType), null, prec, scale,
              builtinTypes.find(_.oid == pgTypeOid(f.dataType))
                .map(_.name).getOrElse("text"),
              if (r.generated.contains(f.name)) "ALWAYS" else "NEVER",
              r.generated.get(f.name).orNull)
          }
        })

      case "views" =>
        mk(spark, ddl("table_catalog STRING, table_schema STRING, " +
          "table_name STRING, view_definition STRING"),
          snap.rels.filter(_.kind == "v").map(r =>
            Row(dbOf(engine, r), r.nspname, r.name, r.viewDef.orNull)))

      case "table_constraints" =>
        mk(spark, ddl("constraint_catalog STRING, constraint_schema STRING, " +
          "constraint_name STRING, table_schema STRING, table_name STRING, " +
          "constraint_type STRING"),
          snap.rels.filter(_.kind == "r").flatMap { r =>
            val pk = if (r.pk.nonEmpty)
              Seq(Row(dbOf(engine, r), r.nspname, s"${r.name}_pkey",
                r.nspname, r.name, "PRIMARY KEY"))
            else Nil
            val uq = r.uniques.keys.toSeq.sorted.map(nm =>
              Row(dbOf(engine, r), r.nspname, nm, r.nspname, r.name,
                "UNIQUE"))
            pk ++ uq ++ (0 until r.checks).map(i =>
              Row(dbOf(engine, r), r.nspname, s"${r.name}_check_$i",
                r.nspname, r.name, "CHECK"))
          })

      case "key_column_usage" =>
        mk(spark, ddl("constraint_catalog STRING, constraint_schema STRING, " +
          "constraint_name STRING, table_schema STRING, table_name STRING, " +
          "column_name STRING, ordinal_position INT"),
          snap.rels.filter(_.kind == "r").flatMap { r =>
            r.pk.zipWithIndex.map { case (c, i) =>
              Row(dbOf(engine, r), r.nspname, s"${r.name}_pkey",
                r.nspname, r.name, c, i + 1)
            } ++ r.uniques.toSeq.sortBy(_._1).flatMap { case (nm, cols) =>
              cols.zipWithIndex.map { case (c, i) =>
                Row(dbOf(engine, r), r.nspname, nm, r.nspname, r.name,
                  c, i + 1)
              }
            }
          })

      case "statistics" =>
        // MySQL's index-metadata relation (Connector/J getIndexInfo
        // reads it). The PK is the only key structure (A21: layout is
        // the index analog) — one row per PK column, MySQL column
        // conventions: non_unique 0, index_name PRIMARY, collation 'A'.
        mk(spark, ddl("table_catalog STRING, table_schema STRING, " +
          "table_name STRING, non_unique INT, index_schema STRING, " +
          "index_name STRING, seq_in_index INT, column_name STRING, " +
          "collation STRING, cardinality BIGINT, index_type STRING"),
          snap.rels.filter(_.kind == "r").flatMap { r =>
            r.pk.zipWithIndex.map { case (c, i) =>
              Row(dbOf(engine, r), r.nspname, r.name, 0, r.nspname,
                "PRIMARY", i + 1, c, "A", null, "btree-analog")
            } ++ r.uniques.toSeq.sortBy(_._1).flatMap { case (nm, cols) =>
              // recorded unique indexes (A21 round-10) list alongside
              // the PK — what getIndexInfo(unique=true) reads
              cols.zipWithIndex.map { case (c, i) =>
                Row(dbOf(engine, r), r.nspname, r.name, 0, r.nspname,
                  nm, i + 1, c, "A", null, "btree-analog")
              }
            }
          })

      case "routines" =>
        // stored programs are accepted-and-dropped (CreateRoutine), so
        // the relation is EMPTY — but with MySQL's FULL column set:
        // Connector/J's getProcedures/getFunctions select
        // ROUTINE_COMMENT/CREATED/LAST_ALTERED etc., and a missing
        // column is an AnalysisException, not the intended zero rows
        mk(spark, ddl("specific_name STRING, routine_catalog STRING, " +
          "routine_schema STRING, routine_name STRING, " +
          "routine_type STRING, data_type STRING, " +
          "character_maximum_length INT, numeric_precision INT, " +
          "numeric_scale INT, dtd_identifier STRING, " +
          "routine_body STRING, routine_definition STRING, " +
          "external_name STRING, external_language STRING, " +
          "parameter_style STRING, is_deterministic STRING, " +
          "sql_data_access STRING, security_type STRING, " +
          "created TIMESTAMP, last_altered TIMESTAMP, sql_mode STRING, " +
          "routine_comment STRING, definer STRING, " +
          "character_set_client STRING, collation_connection STRING, " +
          "database_collation STRING"), Nil)

      case "referential_constraints" =>
        // FK constraints are validated-and-dropped on replay
        // (AlterAddIgnoredConstraint) — empty, standard shape
        mk(spark, ddl("constraint_catalog STRING, constraint_schema STRING, " +
          "constraint_name STRING, unique_constraint_catalog STRING, " +
          "unique_constraint_schema STRING, unique_constraint_name STRING, " +
          "match_option STRING, update_rule STRING, delete_rule STRING, " +
          "table_name STRING, referenced_table_name STRING"), Nil)

      case other =>
        throw new IllegalArgumentException(
          s"not an information_schema relation: $other")
    }
  }

  private def dbOf(engine: Engine, r: Rel): String =
    if (r.nspname == "public") engine.currentDatabase else r.nspname

  // ------------------------------------------------------------------
  // MySQL-convention information_schema (round-9 verdict #1; reference
  // anchor `main_test.go:802` TestInfoSchema — the reference serves
  // MySQL clients, whose I_S convention is TABLE_SCHEMA = <database>,
  // *_CATALOG = 'def'). `tables` and `columns` are built natively with
  // the full MySQL column sets (Connector/J's useInformationSchema=true
  // metadata queries select ENGINE/TABLE_COMMENT/COLUMN_TYPE/COLUMN_KEY/
  // EXTRA/... — a missing column is an AnalysisException, not a NULL);
  // the remaining relations reuse the PG builders with schema/catalog
  // values respelled. Metadata-sized, driver-built, like everything
  // else here.

  /** `character_maximum_length` from a MySQL column_type spelling. */
  private def charMaxLen(colType: String): Integer = {
    val m = "(?i)^(?:var)?(?:char|binary)\\s*\\((\\d+)\\)".r
      .findFirstMatchIn(colType)
    m.map(g => (g.group(1).toInt): Integer).getOrElse {
      if (colType.startsWith("text") || colType.startsWith("blob")) 65535
      else null
    }
  }

  def mysqlInfoFrame(engine: Engine, name: String): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val spark = engine.spark
    lazy val snap = snapshot(engine)
    name match {
      case "schemata" =>
        mk(spark, ddl("catalog_name STRING, schema_name STRING, " +
          "default_character_set_name STRING, " +
          "default_collation_name STRING, sql_path STRING"),
          snap.namespaces.map(n =>
            Row("def", if (n._2 == "public") engine.currentDatabase else n._2,
              "utf8mb4", "utf8mb4_0900_ai_ci", null)))

      case "tables" =>
        mk(spark, ddl("table_catalog STRING, table_schema STRING, " +
          "table_name STRING, table_type STRING, engine STRING, " +
          "version INT, row_format STRING, table_rows BIGINT, " +
          "avg_row_length BIGINT, data_length BIGINT, " +
          "max_data_length BIGINT, index_length BIGINT, data_free BIGINT, " +
          "auto_increment BIGINT, create_time TIMESTAMP, " +
          "update_time TIMESTAMP, check_time TIMESTAMP, " +
          "table_collation STRING, checksum BIGINT, " +
          "create_options STRING, table_comment STRING"),
          snap.rels.filter(r => r.kind == "r" || r.kind == "v").map { r =>
            val isView = r.kind == "v"
            Row(/*catalog*/ "def", dbOf(engine, r), r.name,
              if (isView) "VIEW" else "BASE TABLE",
              if (isView) null else "graft", // SHOW TABLE STATUS engine
              if (isView) null else (10: Integer),
              if (isView) null else "Columnar",
              null, null, null, null, null, null, null, null, null, null,
              if (isView) null else "utf8mb4_0900_ai_ci", null,
              if (isView) null else "",
              if (isView) "VIEW" else "") // MySQL: view REMARKS = 'VIEW'
          })

      case "columns" =>
        mk(spark, ddl("table_catalog STRING, table_schema STRING, " +
          "table_name STRING, column_name STRING, ordinal_position INT, " +
          "column_default STRING, is_nullable STRING, data_type STRING, " +
          "character_maximum_length INT, character_octet_length INT, " +
          "numeric_precision INT, numeric_scale INT, " +
          "datetime_precision INT, character_set_name STRING, " +
          "collation_name STRING, column_type STRING, column_key STRING, " +
          "extra STRING, privileges STRING, column_comment STRING, " +
          "generation_expression STRING, srs_id INT"),
          snap.rels.filter(_.kind == "r").flatMap { r =>
            r.schema.fields.zipWithIndex.map { case (f, i) =>
              // the recorded original spelling round-trips (varchar(64)
              // stays varchar(64)); engine-dialect STRING renders as
              // MySQL's text
              val colType = graft.types.TypeMapper
                .toMySql(f).toLowerCase.trim match {
                case "string" => "text"
                case t => t
              }
              val dataType = colType.takeWhile(c => c != '(' && c != ' ')
              val (prec, scale) = f.dataType match {
                case d: DecimalType => (d.precision: Integer, d.scale: Integer)
                case IntegerType => (10: Integer, 0: Integer)
                case LongType => (19: Integer, 0: Integer)
                case ShortType => (5: Integer, 0: Integer)
                case ByteType => (3: Integer, 0: Integer)
                case FloatType => (12: Integer, null: Integer)
                case DoubleType => (22: Integer, null: Integer)
                case _ => (null: Integer, null: Integer)
              }
              val isStr = f.dataType == StringType
              val maxLen = charMaxLen(colType)
              val auto = r.autoinc.contains(f.name)
              Row("def", dbOf(engine, r), r.name, f.name, i + 1,
                if (auto) null else r.defaults.get(f.name).orNull,
                if (f.nullable && !r.pk.contains(f.name)) "YES" else "NO",
                dataType, if (isStr) maxLen else null,
                if (isStr && maxLen != null) (maxLen * 4: Integer) else null,
                prec, scale,
                f.dataType match {
                  case TimestampType | TimestampNTZType => 0: Integer
                  case _ => null
                },
                if (isStr) "utf8mb4" else null,
                if (isStr) "utf8mb4_0900_ai_ci" else null,
                colType, if (r.pk.contains(f.name)) "PRI" else "",
                if (auto) "auto_increment"
                else if (r.generated.contains(f.name)) "STORED GENERATED"
                else "",
                "select,insert,update,references", "",
                r.generated.getOrElse(f.name, ""), null)
            }
          })

      case "key_column_usage" =>
        // MySQL KCU adds the FK-side columns (getImportedKeys filters
        // REFERENCED_TABLE_SCHEMA IS NOT NULL — column must exist)
        mysqlConvention(engine, infoFrame(engine, name))
          .withColumn("position_in_unique_constraint",
            lit(null).cast("int"))
          .withColumn("referenced_table_schema", lit(null).cast("string"))
          .withColumn("referenced_table_name", lit(null).cast("string"))
          .withColumn("referenced_column_name", lit(null).cast("string"))

      case other =>
        mysqlConvention(engine, infoFrame(engine, other))
    }
  }

  /** Respell a PG-convention frame to MySQL's: schema columns carry the
    * database name ('public' IS the current db), catalog columns 'def'. */
  private def mysqlConvention(engine: Engine, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val db = engine.currentDatabase
    val schemaCols = Set("table_schema", "index_schema", "constraint_schema",
      "routine_schema", "schema_name", "unique_constraint_schema")
    val catalogCols = Set("table_catalog", "constraint_catalog",
      "catalog_name", "routine_catalog", "unique_constraint_catalog",
      "specific_catalog")
    df.columns.foldLeft(df) { (d, c) =>
      if (schemaCols(c))
        d.withColumn(c, when(col(c) === "public", lit(db)).otherwise(col(c)))
      else if (catalogCols(c)) d.withColumn(c, lit("def"))
      else d
    }
  }

  /** Register the frame behind `__sys__<name>` / `__is__<name>` if the
    * identifier names a known catalog relation (no-op otherwise) —
    * called from [[Engine.registerReferenced]] for each such identifier
    * a statement mentions. Rebuilt per statement: the frames are
    * metadata-sized and must reflect current catalog state. */
  def registerIfKnown(engine: Engine, ident: String): Unit =
    if (ident.startsWith("__sys__")) {
      val name = ident.stripPrefix("__sys__")
      if (tableNames.contains(name))
        frame(engine, name).createOrReplaceTempView(ident)
    } else if (ident.startsWith("__is__")) {
      val name = ident.stripPrefix("__is__")
      if (infoSchemaNames.contains(name)) {
        // dialect overlay (round-9 verdict #1, reference anchor
        // `main_test.go:802` TestInfoSchema): a session with POSITIVE
        // MySQL evidence gets the MySQL convention — TABLE_SCHEMA is
        // the database name (so `TABLE_SCHEMA = DATABASE()` returns
        // real rows), *_CATALOG is 'def', and tables/columns carry the
        // full MySQL column sets Connector/J selects with
        // useInformationSchema=true. The PG-verbatim frames are the
        // DEFAULT — an evidence-free or pg-shaped session sees exactly
        // the spec'd shapes, unchanged.
        val df =
          if (engine.sessionDialect.contains("mysql"))
            mysqlInfoFrame(engine, name)
          else infoFrame(engine, name)
        df.createOrReplaceTempView(ident)
      }
    }

  // ------------------------------------------------------------------
  // Settings surface (A35's current_setting probe): engine variables
  // first, then the PG defaults clients commonly read.

  private[graft] val settingDefaults = Map(
    "server_version" -> "15.0",
    "server_version_num" -> "150000",
    "server_encoding" -> "UTF8",
    "client_encoding" -> "UTF8",
    "max_connections" -> "100",
    "standard_conforming_strings" -> "on",
    "integer_datetimes" -> "on",
    "search_path" -> "public",
    "transaction_isolation" -> "read committed",
    "max_identifier_length" -> "63",
    "bytea_output" -> "hex",
    "datestyle" -> "ISO, MDY")

  /** `current_setting(name)` value: session variable if SET, else the
    * PG default, else None (the caller surfaces the PG error). */
  def setting(engine: Engine, name: String): Option[String] = {
    val key = name.toLowerCase
    engine.getVar(key).map { v =>
      // the session var stores MySQL spelling (READ-COMMITTED — what
      // @@transaction_isolation readers map); PG surfaces answer
      // lowercase-spaced
      if (key == "transaction_isolation")
        v.toLowerCase.replace('-', ' ') else v
    }.orElse {
      if (key == "timezone")
        Some(engine.spark.conf.get("spark.sql.session.timeZone", "UTC"))
      else settingDefaults.get(key)
    }
  }
}
