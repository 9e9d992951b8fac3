package graft

/** Plan-evidence dump (optimization rounds): `.explain("formatted")`
  * for each named query into `plans/<tag>/<query>_<suffix>.txt`.
  *
  * Usage: SPARK_GRAFT_PLANS=q170_cluster_survivor,q196 \
  *        SPARK_GRAFT_PLAN_TAG=r19 SPARK_GRAFT_PLAN_SUFFIX=before \
  *        sbt "runMain graft.Plans"
  *
  * Same session as Bench ([[LocalSession]]) so the dumped plan is the
  * benched plan.
  * Queries whose builder performs eager staging (scratch writes) run
  * that staging here too — the dump reflects the final returned frame.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "r19")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val filter = sys.env.get("SPARK_GRAFT_PLANS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val spark = LocalSession()
    val outDir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(outDir): Unit
    SparkEntry.queries
      .filter { case (name, _) =>
        filter.contains(name) || filter.contains(name.takeWhile(_ != '_'))
      }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            outDir.resolve(s"${name}_$suffix.txt"), plan)
          println(s"[plans] wrote ${name}_$suffix.txt")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plans] $name FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
