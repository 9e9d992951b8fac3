package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // A query that throws must NOT silently vanish from the driver's
    // correctness artifact (round 8: 17 erroring queries were simply
    // absent) — collect every failure into errors.json alongside the
    // results, and print a loud end-of-run summary.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Local-iteration subset (unset for the driver = full run):
    // SPARK_GRAFT_ONLY=q38_x,q96_y limits both results and oracle dump.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def included(name: String) = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => included(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(800)}"
        errors(name) = msg
        System.err.println(s"[verify] $name FAILED — $msg")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => included(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty) {
      System.err.println(
        s"[verify] ${errors.size}/${SparkEntry.queries.size} queries " +
          s"FAILED: ${errors.keys.mkString(", ")}")
    }
    spark.stop()
  }
}
