package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Cluster-safe scratch storage for every intermediate materialization
  * the engine writes (loop round truncation, digest-collapsed corpora,
  * staged pair files, per-JVM parquet caches, planted fixtures).
  *
  * Resolution order for the scratch ROOT (VERDICT r11 item 1):
  *   1. `spark.graft.scratch.dir` — any Hadoop-FS URI (`s3a://…`,
  *      `hdfs://…`, `file:/…`); the production setting on a cluster.
  *   2. The SparkContext checkpoint dir, when configured — already
  *      required to be cluster-shared storage.
  *   3. A driver-local temp dir, removed at JVM exit — correct ONLY
  *      on `local[*]`, where driver and executors share a filesystem.
  *
  * Every path operation goes through the Hadoop FileSystem API of the
  * RESOLVED root (never `java.nio`), so a configured `s3a://` root
  * exercises the exact code path a real deployment uses. On a
  * multi-node cluster a `java.nio` temp dir is wrong twice over:
  * executors write their partitions to *their own* local disks, and
  * the driver-side re-read silently misses them.
  *
  * Lifecycle: subdirectories under a CONFIGURED root are the caller's
  * to remove ([[delete]]) — operators with a bounded lifetime (loop
  * rounds) delete on release; lazily-consumed materializations (a
  * collapsed corpus referenced by a returned DataFrame) cannot safely
  * self-delete and stay until the caller cleans the root. The local
  * fallback root is one dir per JVM with ONE shutdown hook.
  */
object ScratchSpace {

  /** Session conf key naming the scratch root URI. */
  val ConfKey = "spark.graft.scratch.dir"

  private val seq = new AtomicLong()

  /** The single per-JVM local fallback root (lazy; one shutdown hook). */
  private lazy val localRoot: String = {
    val r = java.nio.file.Files.createTempDirectory("graft_scratch_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rec(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rec))
        f.delete(): Unit
      }
      rec(r.toFile)
    }))
    r.toUri.toString // file:/… — explicit scheme, never default-FS relative
  }

  /** The resolved scratch root for this session (see resolution order). */
  def root(spark: SparkSession): String =
    spark.conf.getOption(ConfKey)
      .orElse(spark.sparkContext.getCheckpointDir)
      .getOrElse(localRoot)

  /** A fresh unique directory under [[root]], created via the root's
    * own Hadoop FileSystem and returned fully qualified.
    */
  def dir(spark: SparkSession, prefix: String): String = {
    val base = new Path(root(spark))
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val p = new Path(base,
      s"$prefix${java.lang.Long.toHexString(System.nanoTime())}_${seq.incrementAndGet()}")
    fs.mkdirs(p): Unit
    fs.makeQualified(p).toString
  }

  /** Recursive delete through the path's own FileSystem (no-op when
    * the path is already gone).
    */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true): Unit
  }

  /** Materialize a DataFrame by a scratch-parquet round-trip: write
    * to a fresh dir under [[root]], read back. The returned frame's
    * lineage is ONLY the parquet scan, so callers can unpersist /
    * drop every input the plan referenced. This is the CLUSTER-SAFE
    * materialization — unlike `localCheckpoint`, whose blocks die
    * with their executors, the file survives executor loss (SURVEY §4
    * rule, now unconditional). The scratch dir lives until the
    * session's scratch root is cleaned (local fallback: JVM exit);
    * callers holding node-grain results that must outlive the session
    * should write to a destination of their own instead.
    */
  def materialize(df: org.apache.spark.sql.DataFrame,
      prefix: String): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val d = dir(spark, prefix)
    df.write.mode("overwrite").parquet(d)
    spark.read.parquet(d)
  }

  /** Per-round lineage truncation for an iterative loop: a reliable
    * `checkpoint()` when the context has a checkpoint dir, else a
    * `round_N` parquet round-trip under one fresh `prefix` dir. Either
    * way each round's plan is a flat scan, so round cost stays
    * constant (persist() alone keeps every round's plan chained on all
    * the rounds before it).
    */
  private[graft] final class Rounds(spark: SparkSession, prefix: String) {
    private val scratch =
      if (spark.sparkContext.getCheckpointDir.isDefined) None
      else Some(dir(spark, prefix))
    private var round = 0

    def materialize(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame = {
      round += 1
      scratch match {
        case None => df.checkpoint()
        case Some(d) =>
          val p = s"$d/round_$round"
          df.write.mode("overwrite").parquet(p)
          spark.read.parquet(p)
      }
    }

    /** Delete the round files (no-op on the checkpoint path). */
    def cleanup(): Unit = scratch.foreach(delete(spark, _))
  }

  /** Write raw bytes to `dir/name` through the Hadoop FS API (parent
    * dirs auto-created; `name` may contain `/`). The fixture-planting
    * primitive — works identically on a local root and an object
    * store, unlike `java.nio.file.Files.write`.
    */
  def writeBytes(
      spark: SparkSession, dir: String, name: String,
      bytes: Array[Byte]): Unit = {
    val p = new Path(dir, name)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Read a whole scratch file back as bytes (test/fixture sizes). */
  def readBytes(spark: SparkSession, file: String): Array[Byte] = {
    val p = new Path(file)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val st = fs.getFileStatus(p)
    require(st.getLen <= Int.MaxValue,
      s"readBytes loads the whole file into one array; $file is " +
        s"${st.getLen} bytes (> 2 GiB) — stream it instead")
    val buf = new Array[Byte](st.getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0L, buf) finally in.close()
    buf
  }

  /** Copy one file from any Hadoop path into `dir/name` (streaming
    * copy through both filesystems — the watch-dir feed primitive).
    */
  def copyIn(
      spark: SparkSession, srcFile: String, dir: String,
      name: String): Unit = {
    val hc = spark.sessionState.newHadoopConf()
    val src = new Path(srcFile)
    val dst = new Path(dir, name)
    val in = src.getFileSystem(hc).open(src)
    try {
      val out = dst.getFileSystem(hc).create(dst, true)
      try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      finally out.close()
    } finally in.close()
  }

  /** Write `df` as ONE parquet file at `destDir/name` and return its
    * byte size: a `coalesce(1)` write to a fresh scratch stage, its
    * single part file copied in, the stage removed. The fixture and
    * watch-dir feed primitive (planted Delta/Iceberg data files,
    * streaming sentinels and shards).
    */
  def writeOneFile(
      df: org.apache.spark.sql.DataFrame, destDir: String,
      name: String): Long = {
    val spark = df.sparkSession
    val stage = dir(spark, "one_file_")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    copyIn(spark, onePartFile(spark, stage), destDir, name)
    delete(spark, stage)
    val out = new Path(destDir, name)
    out.getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(out).getLen
  }

  /** The single `part-` file a `coalesce(1)` write left in `stage`;
    * throws when there is none or more than one, so a broken stage
    * never feeds a partial or empty file downstream.
    */
  private[graft] def onePartFile(spark: SparkSession, stage: String): String = {
    val p = new Path(stage)
    val parts = p.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(p)
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
    if (parts.length != 1)
      throw new IllegalStateException(
        s"expected exactly one part file in $stage, found ${parts.length}")
    parts.head.getPath.toString
  }

  /** Sorted (relative name, md5-of-bytes) of every data file under
    * each immediate subdirectory of `dir` — the partition-grain
    * byte-stability fingerprint (q168), via the Hadoop FS API so it
    * audits object-store layouts too. Hidden files (`.`/`_` prefixed)
    * are committer metadata, not data, and are excluded.
    */
  def partitionDigests(
      spark: SparkSession, dir: String): Map[String, String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).filter(_.isDirectory).map { d =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      fs.listStatus(d.getPath)
        .filter(st => st.isFile &&
          !st.getPath.getName.startsWith(".") &&
          !st.getPath.getName.startsWith("_"))
        .sortBy(_.getPath.getName)
        .foreach { st =>
          digest.update(st.getPath.getName.getBytes("UTF-8"))
          // stream the bytes through the digest — no whole-file
          // buffer, so >2 GiB partition files digest fine
          val in = fs.open(st.getPath)
          try {
            val buf = new Array[Byte](1 << 16)
            var n = in.read(buf)
            while (n > 0) { digest.update(buf, 0, n); n = in.read(buf) }
          } finally in.close()
        }
      d.getPath.getName -> digest.digest().map("%02x".format(_)).mkString
    }.toMap
  }
}
