package graft.sources

import scala.collection.immutable.SortedMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** The one reader of a Delta table's `_delta_log` layout (public
  * protocol, github.com/delta-io/delta PROTOCOL.md): [[DeltaRead]]'s
  * replay, time travel and change feeds and every [[DeltaWrite]] verb
  * see the log through an instance of this class, and nothing else
  * lists or parses `_delta_log`.
  *
  *  - **One listing** per instance: JSON commits, single-part classic
  *    checkpoints and multi-part checkpoint sets come from ONE
  *    `listStatus`. A writer that lost a version race takes a fresh
  *    instance ([[relist]]).
  *  - **One commit-file reader** ([[actions]]): each commit is read at
  *    most once per instance, refused above [[DeltaLog.MaxLogFileBytes]],
  *    then parsed STRICT (an unparseable line fails — replay and change
  *    feeds) or LENIENT (the line is skipped — commit timestamps and
  *    the writer-side scan).
  *  - **One declared-actions scan** ([[declared]]): every JSON commit,
  *    below a checkpoint too, and every checkpoint, single- or
  *    multi-part, read leniently. It yields the protocol actions in
  *    replay order, every metaData configuration and the highest txn
  *    version per appId — the inputs of the writer gate, the
  *    deletion-vector declaration check, the current protocol and the
  *    idempotent-append counters. One bad line below a checkpoint skips
  *    only itself, so it cannot hide a later `delta.appendOnly`.
  */
private[sources] final class DeltaLog private (
    val spark: SparkSession,
    val path: String,
    val fs: FileSystem,
    val root: Path,
    val logDir: Path,
    listed: Option[Array[FileStatus]]) {
  import DeltaLog._

  /** `_delta_log` exists (possibly empty). */
  def present: Boolean = listed.nonEmpty

  /** `_delta_log` holds at least one file — the writers' "table exists". */
  def nonEmpty: Boolean = listed.exists(_.nonEmpty)

  private val byName: Seq[(String, FileStatus)] =
    listed.getOrElse(Array.empty[FileStatus]).toSeq
      .map(st => st.getPath.getName -> st)

  /** JSON commits by version. */
  val jsons: SortedMap[Long, FileStatus] = SortedMap.from(
    byName.collect { case (n, st) if n.matches("\\d{20}\\.json") =>
      n.take(20).toLong -> st })
  if (jsons.size > MaxLogFiles)
    fail(s"log has ${jsons.size} commits (> $MaxLogFiles) — replay " +
      "refused; the table needs checkpoint-based access")

  /** Single-part classic checkpoints by version. */
  val singles: SortedMap[Long, FileStatus] = SortedMap.from(
    byName.collect {
      case (n, st) if n.matches("\\d{20}\\.checkpoint\\.parquet") =>
        n.take(20).toLong -> st
    })

  /** Multi-part checkpoint parts by version, as listed:
    * (part index, part count, file). Completeness is checked on use.
    */
  val multis: SortedMap[Long, Seq[(Int, Int, FileStatus)]] = {
    val part = "\\d{20}\\.checkpoint\\.(\\d+)\\.(\\d+)\\.parquet".r
    SortedMap.from(byName.collect {
      case (n @ part(i, k), st) => (n.take(20).toLong, (i.toInt, k.toInt, st))
    }.groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2) })
  }

  /** Every version present, ascending: JSON commits plus
    * checkpoint-only versions.
    */
  lazy val versions: Seq[Long] =
    (jsons.keys ++ singles.keys ++ multis.keys).toSeq.distinct.sorted

  /** The version the next commit takes (0 for a new table). */
  def nextVersion: Long = versions.lastOption.fold(0L)(_ + 1)

  /** A fresh listing of the same table (after a lost version race). */
  def relist(): DeltaLog = open(spark, path)

  private def fail(why: String): Nothing =
    throw new IllegalArgumentException(s"DeltaLog: $path — $why")

  /** The files of the checkpoint at `version`: the single-part file
    * when present, else every part of a COMPLETE multi-part set in
    * part order — a torn set (missing part, inconsistent n) refuses.
    */
  def checkpointFiles(version: Long): Seq[FileStatus] =
    singles.get(version).map(Seq(_)).getOrElse {
      val parts = multis.getOrElse(version,
        fail(s"multi-part checkpoint $version: no parts found"))
      val ns = parts.map(_._2).distinct
      if (ns.size != 1)
        fail(s"multi-part checkpoint $version: inconsistent part " +
          s"counts ${ns.sorted.mkString(",")} — torn checkpoint")
      val n = ns.head
      val byPart = parts.map(t => t._1 -> t._3).toMap
      val missing = (1 to n).filterNot(byPart.contains)
      if (missing.nonEmpty)
        fail(s"multi-part checkpoint $version: missing part(s) " +
          s"${missing.mkString(",")} of $n — torn checkpoint")
      (1 to n).map(byPart)
    }

  /** Checkpoint part files read as ONE parquet scan. */
  def checkpointDf(files: Seq[FileStatus]): DataFrame =
    spark.read.parquet(files.map(_.getPath.toString): _*)

  private val commits = mutable.Map.empty[Long, Seq[Either[String, JsonNode]]]

  /** The action lines of JSON commit `version`, read once per listing.
    * `strict`: an unparseable line fails; otherwise it is skipped.
    */
  def actions(version: Long, strict: Boolean): Seq[JsonNode] =
    commits.getOrElseUpdate(version, readCommit(version)).flatMap {
      case Right(node) => Some(node)
      case Left(err) =>
        if (strict)
          fail(s"commit $version: unparseable action line ($err)")
        None
    }

  private def readCommit(version: Long): Seq[Either[String, JsonNode]] = {
    val st = jsons.getOrElse(version,
      fail(s"version $version has no JSON commit"))
    if (st.getLen > MaxLogFileBytes)
      fail(s"commit $version is ${st.getLen} bytes — hostile size")
    val bytes = new Array[Byte](st.getLen.toInt)
    val in = fs.open(st.getPath)
    try in.readFully(0, bytes) finally in.close()
    new String(bytes, "UTF-8").linesIterator
      .map(_.trim).filter(_.nonEmpty)
      .map { line =>
        try Right(mapper.readTree(line))
        catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
      }.toSeq
  }

  /** The lenient all-history scan (see the class doc). */
  lazy val declared: Declared = {
    val protocols = Seq.newBuilder[Protocol]
    val configs = Seq.newBuilder[Map[String, String]]
    val txns = mutable.Map.empty[String, Long]
    def offerTxn(app: String, v: Long): Unit =
      if (app.nonEmpty && v > txns.getOrElse(app, Long.MinValue))
        txns(app) = v
    // replay order: commit v, then the checkpoint that summarizes it
    val sources = jsons.keys.map(_ -> false).toSeq ++
      (singles.keys ++ multis.keys).toSeq.distinct.map(_ -> true)
    sources.sorted.foreach {
      case (v, false) =>
        actions(v, strict = false).foreach { node =>
          child(node, "protocol").foreach { p =>
            protocols += Protocol(
              child(p, "minReaderVersion").fold(1)(_.asInt(1)),
              child(p, "minWriterVersion").fold(2)(_.asInt(2)),
              texts(p.get("readerFeatures")),
              texts(p.get("writerFeatures")))
          }
          child(node, "metaData").flatMap(child(_, "configuration"))
            .foreach(c => configs += stringMap(c))
          child(node, "txn").foreach { t =>
            offerTxn(child(t, "appId").fold("")(_.asText()),
              child(t, "version").fold(-1L)(_.asLong(-1L)))
          }
        }
      case (v, true) =>
        val files = singles.get(v).toSeq ++
          multis.getOrElse(v, Seq.empty).sortBy(_._1).map(_._3)
        val df = checkpointDf(files)
        val has = df.schema.fieldNames.toSet
        def isSet(c: String): Column =
          if (has(c)) col(c).isNotNull else lit(false)
        df.where(isSet("protocol") || isSet("metaData") || isSet("txn"))
          .select(isSet("protocol"),
            fieldOr(df, "protocol.minReaderVersion", "int"),
            fieldOr(df, "protocol.minWriterVersion", "int"),
            fieldOr(df, "protocol.readerFeatures", "array<string>"),
            fieldOr(df, "protocol.writerFeatures", "array<string>"),
            fieldOr(df, "metaData.configuration", "map<string,string>"),
            fieldOr(df, "txn.appId", "string"),
            fieldOr(df, "txn.version", "long"))
          .collect().foreach { r =>
            def feats(i: Int): Seq[String] =
              if (r.isNullAt(i)) Nil else r.getSeq[String](i).toSeq
            if (r.getBoolean(0))
              protocols += Protocol(
                if (r.isNullAt(1)) 1 else r.getInt(1),
                if (r.isNullAt(2)) 2 else r.getInt(2),
                feats(3), feats(4))
            if (!r.isNullAt(5)) configs += r.getMap[String, String](5).toMap
            if (!r.isNullAt(6) && !r.isNullAt(7))
              offerTxn(r.getString(6), r.getLong(7))
          }
    }
    Declared(protocols.result(), configs.result(), txns.toMap)
  }
}

private[sources] object DeltaLog {

  val MaxLogFiles = 100000
  val MaxLogFileBytes: Long = 64L << 20
  private val mapper = new ObjectMapper()

  /** One protocol action: versions plus the explicit feature lists
    * (empty when absent).
    */
  final case class Protocol(
      minReader: Int,
      minWriter: Int,
      readerFeatures: Seq[String],
      writerFeatures: Seq[String])

  /** What the whole log declares: protocol actions in replay order,
    * every metaData configuration, highest txn version per appId.
    */
  final case class Declared(
      protocols: Seq[Protocol],
      configurations: Seq[Map[String, String]],
      txns: Map[String, Long]) {

    /** The table's current protocol: the last one replayed. */
    def protocol: Protocol =
      protocols.lastOption.getOrElse(Protocol(1, 2, Nil, Nil))
  }

  /** List `<path>/_delta_log` once. A missing directory is an absent
    * log, not an error — callers decide what that means.
    */
  def open(spark: SparkSession, path: String): DeltaLog = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(p)
    val logDir = new Path(root, "_delta_log")
    val listed =
      try Some(fs.listStatus(logDir))
      catch { case _: java.io.FileNotFoundException => None }
    new DeltaLog(spark, path, fs, root, logDir, listed)
  }

  /** The (dotted) column `path` of a checkpoint frame cast to
    * `sqlType`, or a typed null when the checkpoint's schema lacks it.
    */
  def fieldOr(df: DataFrame, path: String, sqlType: String): Column = {
    val found = path.split('.').foldLeft(Option[DataType](df.schema)) {
      case (Some(st: StructType), name) =>
        st.find(_.name == name).map(_.dataType)
      case _ => None
    }
    if (found.nonEmpty) col(path).cast(sqlType)
    else lit(null).cast(sqlType)
  }

  /** A JSON object's string-valued entries. */
  def stringMap(o: JsonNode): Map[String, String] = {
    val it = o.properties().iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) {
      val e = it.next()
      b += e.getKey -> e.getValue.asText()
    }
    b.result()
  }

  /** `node.field` when present and not JSON null. */
  private def child(node: JsonNode, field: String): Option[JsonNode] =
    Option(node.get(field)).filter(!_.isNull)

  private def texts(arr: JsonNode): Seq[String] =
    if (arr == null || arr.isNull) Nil
    else (0 until arr.size()).map(arr.get(_).asText())
}
