package graft.sources

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** Test filesystem for Delta commit races: `race:///<path>` serves the
  * local file `<path>`, with every returned FileStatus translated back
  * to the `race` scheme. Once armed ([[RaceFileSystem.arm]]), the next
  * create-exclusive of a `_delta_log/<20 digits>.json` file first
  * plants the armed competitor commit at that very name — so the
  * writer loses the version it was about to create, exactly as against
  * a concurrent committer, without any hook inside the writer.
  */
class RaceFileSystem extends FileSystem {
  private val local = new RawLocalFileSystem()

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    local.initialize(URI.create("file:///"), conf)
    setConf(conf)
  }

  override def getScheme: String = "race"
  override def getUri: URI = URI.create("race:///")

  private def toLocal(p: Path): Path =
    new Path(new URI("file", null, p.toUri.getPath, null))

  private def translate(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      st.getPermission, st.getOwner, st.getGroup,
      new Path(new URI("race", null, st.getPath.toUri.getPath, null)))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    local.open(toLocal(f), bufferSize)
  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    if (!overwrite && f.getParent != null &&
      f.getParent.getName == "_delta_log" &&
      f.getName.matches("\\d{20}\\.json"))
      RaceFileSystem.take().foreach { lines =>
        val out = local.create(toLocal(f), false)
        try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
        finally out.close()
      }
    local.create(toLocal(f), permission, overwrite, bufferSize,
      replication, blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    local.append(toLocal(f), bufferSize, progress)
  override def rename(src: Path, dst: Path): Boolean =
    local.rename(toLocal(src), toLocal(dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    local.delete(toLocal(f), recursive)
  override def listStatus(f: Path): Array[FileStatus] =
    local.listStatus(toLocal(f)).map(translate)
  override def setWorkingDirectory(newDir: Path): Unit = ()
  override def getWorkingDirectory: Path = new Path("race:///")
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    local.mkdirs(toLocal(f), permission)
  override def getFileStatus(f: Path): FileStatus =
    translate(local.getFileStatus(toLocal(f)))
}

object RaceFileSystem {
  private var competitor: Option[Seq[String]] = None

  /** Plant `lines` as the next Delta commit any writer creates. */
  def arm(lines: Seq[String]): Unit = synchronized {
    competitor = Some(lines)
  }

  /** True while an armed competitor has not been planted yet. */
  def armed: Boolean = synchronized(competitor.nonEmpty)

  private def take(): Option[Seq[String]] = synchronized {
    val c = competitor
    competitor = None
    c
  }

  /** Bind `race://` for `spark` and return a fresh, empty table root
    * under it.
    */
  def table(spark: SparkSession, prefix: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.race.impl", classOf[RaceFileSystem].getName)
    "race://" + new Path(graft.ScratchSpace.dir(spark, prefix)).toUri.getPath
  }
}
