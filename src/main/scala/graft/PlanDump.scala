package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round measurement tool (guide §1.4/§7.2): writes the
  * `.explain("formatted")` output of declared queries to files so
  * before/after plan claims are checkable offline.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> [nameSubstr,...]
  *
  * For every matching query the frame is BUILT (for DML chains this
  * executes the chain — the dumped plan is the final read, which is
  * the part a plan diff can speak to) and the formatted plan string
  * is written to <outDir>/<name>_<tag>.txt. Never run by the driver;
  * it changes no query semantics.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val tag = args(2)
    val filter: String => Boolean =
      if (args.length > 3 && args(3).nonEmpty) {
        val pats = args(3).split(',')
        name => pats.exists(name.contains)
      } else _ => true
    java.nio.file.Files.createDirectories(outDir)
    System.setProperty("graft.sf.dir", sfDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.configure(spark)
    SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => filter(kv._1))
      .foreach { case (name, fn) =>
        spark.sparkContext.setJobDescription(s"plandump: $name")
        val plan =
          try fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          catch { case e: Throwable =>
            s"PLAN UNAVAILABLE: ${Option(e.getMessage).getOrElse(e.getClass.getName)}"
          }
        java.nio.file.Files.write(
          outDir.resolve(s"${name.takeWhile(_ != '_')}_$tag.txt"),
          (s"== $name ($tag, $sfDir) ==\n" + plan).getBytes("UTF-8"))
        println(s"PLAN $name -> ${name.takeWhile(_ != '_')}_$tag.txt")
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    spark.stop()
  }
}
