package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.DatasetCatalog

/** Metadata-only parquet statistics — answering min/max/count questions
  * from FOOTERS alone, without reading a single data page.
  *
  * This is the 100 TB pruning primitive: a partition-pruned scan is
  * cheap exactly because the planner can decide relevance from
  * row-group statistics. This operator surfaces those statistics as a
  * DataFrame, so a pipeline can (a) audit that its layout actually
  * produces prunable files (tight per-file min/max ranges), and
  * (b) answer per-partition count/min/max rollups at metadata cost —
  * O(files) footer reads, zero data IO, instead of a full scan.
  *
  * Scale shape: the driver lists only the IMMEDIATE children of the
  * root (the [[graft.sources.DatasetCatalog.walk]] at depth 1 —
  * O(top-level dirs + root files) names, never the full tree), then
  * each executor task walks its subtree and reads footers, so a
  * 10^8-object lake holds at most one directory level of names on the
  * driver while footer reads parallelize across the cluster. Each
  * footer read is a few KB of IO regardless of file size. The returned
  * frame is row-group-grained; callers aggregate to file or partition
  * grain.
  *
  * Reference behavior anchor: the reference engine's blueprints
  * enumerate S3 objects and act on names/sizes only
  * (amazons3-blueprints download_file.py:101-228); this extends the
  * same "metadata before data" discipline to parquet's own statistics
  * layer.
  */
object Meta {

  private def isDataFile(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")

  /** One row per (file, row-group): partition-dir value (from the
    * trailing `key=value` path segment, empty when unpartitioned),
    * row count, and the column-chunk min/max for `column` as doubles.
    *
    * Row groups whose chunk lacks statistics (`hasNonNullValue` false
    * — e.g. an all-null chunk) report null min/max but keep their row
    * count, so totals stay exact even when stats are absent.
    */
  def footerStats(
      spark: SparkSession,
      dir: String,
      column: String): DataFrame = {
    import spark.implicits._
    val rootPath = new Path(dir)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Driver memory bound: ONE listing page — the immediate children
    // of the root. Child directories become executor work units that
    // expand their own subtree remotely; only root-level file names
    // and first-level dir names ever live in a driver Seq.
    val units = DatasetCatalog.walk(fs, rootPath, maxDepth = 1)
      .collect { case (st, name) if !name.startsWith("_") &&
        (st.isDirectory || isDataFile(name)) =>
        (st.getPath.toString, st.isDirectory)
      }
      .toSeq
    // The SESSION Hadoop conf rides to executors (spark.hadoop.* keys,
    // S3A credentials/endpoints, fs.* impl overrides) — a fresh
    // Configuration() would see only classpath *-site.xml defaults and
    // break object-store footer reads.
    val confBc = spark.sparkContext.broadcast(
      new HadoopConfHolder(spark.sparkContext.hadoopConfiguration))
    val partRe = ".*/[^/=]+=([^/]+)/[^/]*$".r
    val nUnits = units.size.max(1)
    spark.createDataset(units)
      .repartition(math.min(nUnits, spark.sparkContext.defaultParallelism))
      .mapPartitions { paths =>
        val conf = confBc.value.value
        paths.flatMap { case (unit, isDir) =>
          val unitPath = new Path(unit)
          val files: Iterator[String] =
            if (isDir)
              DatasetCatalog.walk(unitPath.getFileSystem(conf), unitPath)
                .map(_._1.getPath)
                .filter(p => isDataFile(p.getName))
                .map(_.toString)
            else Iterator.single(unit)
          files.flatMap { p =>
            val part = p match {
              case partRe(v) => v
              case _ => ""
            }
            val reader = ParquetFileReader.open(
              HadoopInputFile.fromPath(new Path(p), conf))
            try {
              reader.getFooter.getBlocks.asScala.map { block =>
                val chunk = block.getColumns.asScala
                  .find(_.getPath.toDotString == column)
                  .getOrElse(throw new IllegalArgumentException(
                    s"column $column absent from footer of $p"))
                val st = chunk.getStatistics
                // Numeric stats surface as doubles; string/binary/
                // other statistics keep the row count but report null
                // bounds rather than ClassCastException-ing the scan.
                val (mn, mx) =
                  if (st != null && st.hasNonNullValue)
                    (st.genericGetMin, st.genericGetMax) match {
                      case (a: Number, b: Number) =>
                        (Some(a.doubleValue), Some(b.doubleValue))
                      case _ => (None, None)
                    }
                  else (None, None)
                (part, p, block.getRowCount, mn, mx)
              }.toSeq
            } finally reader.close()
          }
        }
      }
      .toDF("part", "file", "n_rows", "min_v", "max_v")
  }
}

/** Serializable carrier for the session Hadoop Configuration (the
  * engine-internal equivalent is `private[spark]`): Java serialization
  * of the key/value map via Hadoop's own Writable form. Broadcast once
  * per footerStats call; executors rebuild a real Configuration.
  */
final class HadoopConfHolder(
    @transient private var conf: org.apache.hadoop.conf.Configuration)
  extends Serializable {

  def value: org.apache.hadoop.conf.Configuration = conf

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new org.apache.hadoop.conf.Configuration(false)
    conf.readFields(in)
  }
}
