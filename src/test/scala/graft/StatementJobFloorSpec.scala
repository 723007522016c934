package graft

import java.nio.file.Files

/** Regression guard for the per-statement Spark-job floor (r15 verdict
  * #5): multi-statement DML chains pay a fixed scheduling cost per
  * job, so tiny literal-VALUES statements must stay on the
  * driver-local fast paths (LocalRelation detection in
  * GraftTable.indexedLocal / pickPerKey / merge). Bounds are lenient
  * (+1 over the measured count) so AQE/runtime drift doesn't flake,
  * but a regression to the r15 shape (5-job auto-insert, 9-job ODKU)
  * trips loudly. */
class StatementJobFloorSpec extends SparkSpec {
  test("literal DML statements stay under the job-count bounds") {
    val e = new Engine(spark, Files.createTempDirectory("graft_jobfloor"))
    // `collect`: the count includes reading the RETURNING frame
    def run(q: String, collect: Boolean = false): Int = countJobs {
      val r = SqlRouter.execute(e, q)
      if (collect) r.df.foreach(_.collect())
    }._2
    run("CREATE TABLE t (id BIGINT NOT NULL AUTO_INCREMENT, v STRING, " +
      "n INT, PRIMARY KEY (id))")
    run("INSERT INTO t VALUES (1, 'seed', 0), (2, 'seed', 0)")
    val autoIns = run("INSERT INTO t (v, n) VALUES ('a', 1)")
    assert(autoIns <= 2, s"auto-assign literal INSERT ran $autoIns jobs " +
      "(driver-local id fast path regressed)")
    val rep = run("REPLACE INTO t VALUES (1, 'rep', 9)")
    assert(rep <= 5, s"literal REPLACE ran $rep jobs")
    val ign = run("INSERT IGNORE INTO t VALUES (2, 'ign', 6)")
    assert(ign <= 3, s"literal INSERT IGNORE ran $ign jobs")
    val odku = run("INSERT INTO t VALUES (2, 'odku', 4) " +
      "ON DUPLICATE KEY UPDATE n = n + 1")
    assert(odku <= 8, s"literal ODKU ran $odku jobs")
    // semantics survived the fast paths
    import spark.implicits._
    assert(SqlRouter.execute(e, "SELECT id, v, n FROM t ORDER BY id")
      .df.get.as[(Long, String, Int)].collect().toSeq ===
      Seq((1L, "rep", 9), (2L, "seed", 1), (3L, "a", 1)))

    // UPDATE / DELETE shapes; bounds are the counts measured before
    // the row-image refactor, plus one
    run("CREATE TABLE u (id BIGINT NOT NULL, v STRING, n INT, PRIMARY KEY (id))")
    run("INSERT INTO u VALUES (1, 'a', 1), (2, 'b', 2), (3, 'c', 3), (4, 'd', 4)")
    val upd = run("UPDATE u SET n = n + 1 WHERE id = 1")
    assert(upd <= 2, s"plain UPDATE ran $upd jobs")
    val del = run("DELETE FROM u WHERE id = 4")
    assert(del <= 2, s"plain DELETE ran $del jobs")
    val updRet = run("UPDATE u SET n = 7 WHERE id = 2 RETURNING id, n",
      collect = true)
    assert(updRet <= 4, s"staged UPDATE ... RETURNING ran $updRet jobs")
    val updLim = run("UPDATE u SET v = 'z' ORDER BY id DESC LIMIT 1")
    assert(updLim <= 3, s"UPDATE ... ORDER BY ... LIMIT ran $updLim jobs")
    val delLim = run("DELETE FROM u ORDER BY id LIMIT 1")
    assert(delLim <= 3, s"DELETE ... LIMIT ran $delLim jobs")
    run("CREATE TABLE p (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id)) " +
      "PARTITION BY RANGE (id)")
    run("CREATE TABLE p_lo PARTITION OF p FOR VALUES FROM (0) TO (100)")
    run("CREATE TABLE p_hi PARTITION OF p FOR VALUES FROM (100) TO (1000)")
    run("INSERT INTO p VALUES (1, 'a'), (2, 'b'), (150, 'c')")
    val move = run("UPDATE p SET id = id + 200 WHERE id = 1")
    assert(move <= 6, s"partition-key UPDATE (row movement) ran $move jobs")
    assert(SqlRouter.execute(e, "SELECT id, v, n FROM u ORDER BY id")
      .df.get.as[(Long, String, Int)].collect().toSeq ===
      Seq((2L, "b", 7), (3L, "z", 3)))
    assert(SqlRouter.execute(e, "SELECT id FROM p_hi ORDER BY id")
      .df.get.as[Long].collect().toSeq === Seq(150L, 201L))

    // INSERT-family shapes; bounds are the counts measured before
    // plain INSERT moved onto the shared write path, plus one
    val litIns = run("INSERT INTO t VALUES (10, 'lit', 1)")
    assert(litIns <= 2, s"literal explicit-id INSERT ran $litIns jobs")
    val selIns = run("INSERT INTO u SELECT id + 100, v, n FROM u")
    assert(selIns <= 2, s"small INSERT ... SELECT ran $selIns jobs")
    val autoSel = run("INSERT INTO t (v, n) SELECT v, n FROM u WHERE id > 100")
    assert(autoSel <= 6,
      s"omitted-auto INSERT ... SELECT ran $autoSel jobs")
    val autoRet = run("INSERT INTO t (v, n) VALUES ('ret', 2) RETURNING id",
      collect = true)
    assert(autoRet <= 3,
      s"omitted-auto INSERT ... RETURNING (with the collect) ran $autoRet jobs")
    val dflt = run("INSERT INTO t DEFAULT VALUES")
    assert(dflt <= 6, s"INSERT ... DEFAULT VALUES ran $dflt jobs")
    val routed = run("INSERT INTO p VALUES (3, 'd'), (160, 'e')")
    assert(routed <= 2,
      s"literal INSERT into a two-child parent ran $routed jobs")
    val autoIgn = run("INSERT IGNORE INTO t (v, n) VALUES ('ig', 3)")
    assert(autoIgn <= 3, s"omitted-auto INSERT IGNORE ran $autoIgn jobs")
    run("CREATE TABLE pa (id BIGINT NOT NULL AUTO_INCREMENT, v STRING, " +
      "PRIMARY KEY (id)) PARTITION BY RANGE (id)")
    run("CREATE TABLE pa_lo PARTITION OF pa FOR VALUES FROM (0) TO (100)")
    run("CREATE TABLE pa_hi PARTITION OF pa FOR VALUES FROM (100) TO (1000)")
    val autoRouted = run("INSERT INTO pa (v) VALUES ('a'), ('b')")
    assert(autoRouted <= 2,
      s"omitted-auto INSERT into a two-child parent ran $autoRouted jobs")
    // the omitted-auto literal INSERT mints inside its own commit
    val h0 = e.table("t").history().size
    run("INSERT INTO t (v, n) VALUES ('one', 4)")
    assert(e.table("t").history().size === h0 + 1,
      "omitted-auto literal INSERT committed more than one manifest version")
    assert(SqlRouter.execute(e, "SELECT id, v FROM t WHERE id >= 10 " +
      "AND id NOT IN (11, 12) ORDER BY id").df.get.as[(Long, String)]
      .collect().toSeq === Seq((10L, "lit"), (13L, "ret"), (14L, null),
        (15L, "ig"), (16L, "one")))
    assert(SqlRouter.execute(e, "SELECT id FROM pa_lo ORDER BY id")
      .df.get.as[Long].collect().toSeq === Seq(1L, 2L))

    // parent, aliased and join UPDATE/DELETE shapes; bounds are the
    // counts measured before they shared one mutation path, plus one
    val parUpd = run("UPDATE p SET v = 'w' WHERE id IN (2, 150)")
    assert(parUpd <= 3, s"plain parent UPDATE ran $parUpd jobs")
    val parDel = run("DELETE FROM p WHERE id IN (3, 160)")
    assert(parDel <= 3, s"parent DELETE ran $parDel jobs")
    val aliasDel = run("DELETE FROM u AS x WHERE x.id = 3")
    assert(aliasDel <= 4, s"aliased single-table DELETE ran $aliasDel jobs")
    val joinDel = run("DELETE u FROM u JOIN t ON u.id = t.id")
    assert(joinDel <= 5, s"join DELETE ran $joinDel jobs")
    assert(SqlRouter.execute(e, "SELECT id, v FROM p ORDER BY id")
      .df.get.as[(Long, String)].collect().toSeq ===
      Seq((2L, "w"), (150L, "w"), (201L, "a")))
    assert(SqlRouter.execute(e, "SELECT id FROM u ORDER BY id")
      .df.get.as[Long].collect().toSeq === Seq(102L, 103L))
  }
}
