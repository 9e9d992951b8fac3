package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{EtlQueries, ExtendedQueries, PipelineQueries, Q, RelationalQueries, StreamingQueries}

/** Driver contract — see /root/repo/SURVEY.md §2 (grading inventory)
  * and §7 (build plan). One `queries` entry per implemented operator;
  * `oracleSql` carries the DuckDB-equivalent SQL with identical column
  * names and ORDER BY.
  */
object SparkEntry {

  /** Every graded operator (SURVEY.md §2.1-§2.3). */
  val registry: Seq[Q] =
    EtlQueries.all ++ RelationalQueries.all ++ PipelineQueries.all ++
      ExtendedQueries.all ++ StreamingQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Multi-way star join + aggregate (TPC-H Q5-flavored; SURVEY.md §2.2 #16).
    */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.starJoin(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (catalog listing), which get the weaker rows-only check.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}

/** The one local session the driver mains (Bench, Verify, Plans) run
  * in, so the benched, verified and dumped plans share one conf:
  * `local[cpus]`, shuffle partitions = cpus, UTC, nanosAsLong, UI off,
  * WARN logging. `cpus` is `SPARK_GRAFT_CPUS` (default 32).
  */
private[graft] object LocalSession {
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
