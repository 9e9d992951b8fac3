package graft.sources

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, Metadata, MetadataBuilder, StringType, StructField, StructType, TimestampType}

/** Read-only Delta Lake table scan — `_delta_log` JSON replay.
  *
  * A real S3 lake is full of Delta tables someone else wrote; an ETL
  * engine that can list/move/compact but not READ the lake's dominant
  * table format stops one verb short of real use (the reference
  * treats objects as opaque bytes, download_file.py:60-85 — this is
  * engine-side interop per the PUBLIC Delta transaction-log protocol,
  * github.com/delta-io/delta PROTOCOL.md).
  *
  * Scope (refuse-loudly outside it):
  *  - contiguous `_delta_log/<20-digit>.json` commits from version 0,
  *    OR a CLASSIC checkpoint — single-part
  *    (`<20-digit>.checkpoint.parquet`) or multi-part
  *    (`.checkpoint.<i>.<n>.parquet`, all n parts required, torn sets
  *    refused) — whose JSON tail reaches the requested version: base
  *    state loads from the checkpoint's add/metaData/protocol rows,
  *    then commits checkpoint+1.. replay as JSON. V2 (sidecar /
  *    checkpointMetadata) checkpoints are refused loudly, as is a
  *    vacuumed-head log with no usable checkpoint;
  *  - protocol minReaderVersion 1, 2 with `delta.columnMapping.mode`
  *    `name` (physical parquet names mapped back to logical schema
  *    names from the schemaString field metadata) or `id` (columns
  *    resolved by parquet footer field id against the schemaString's
  *    `delta.columnMapping.id`), and 3 when readerFeatures ⊆
  *    {columnMapping, deletionVectors}. Nested-field mapping refuses.
  *    Deletion vectors (PROTOCOL.md z85/roaring format,
  *    [[DeletionVectors]]) fold into the scan as a distributed
  *    anti-join on `_metadata.row_index` — bitmap parsing happens on
  *    EXECUTORS (one bitmap in memory per task), never a driver
  *    expansion;
  *  - parquet data files, relative or absolute URI-encoded paths;
  *  - partitioned tables: partition values come from the add actions'
  *    `partitionValues` (Delta data files do NOT contain partition
  *    columns) and are attached via ONE broadcast join against the
  *    scan's `_metadata.file_path` — one distributed scan regardless
  *    of partition count, never a per-partition union loop.
  *
  * Replay is last-action-wins in (version, line) order: the live file
  * set folds add/remove by path; `metaData` updates the schema;
  * `commitInfo`/`txn`/`cdc`/`domainMetadata` actions are ignored (cdc
  * files are change-feed data, not table data). Protocol requirements
  * are COLLECTED during replay and validated against the final
  * metaData configuration (a protocol action can precede the metaData
  * that makes it satisfiable, even within one commit). The log is
  * driver-read (it is metadata, like the reference's key listing)
  * through [[DeltaLog]], the one reader of the `_delta_log` layout:
  * one listing per call, commits read once and parsed STRICTLY here
  * (an unparseable line in a replayed commit refuses), checkpoint
  * parts resolved in one place. The DATA scan is a distributed Spark
  * parquet read of the live files with the log schema enforced.
  */
object DeltaRead {

  /** One live data file: the add action's RAW (still URI-encoded)
    * relative-or-absolute path + its partition values (None = null
    * partition value; keys are PHYSICAL names under column mapping) +
    * the add's per-file `stats` JSON when present (numRecords/
    * minValues/maxValues — the zone-map [[readPruned]] skips files
    * with) + the deletion-vector descriptor when the file carries one.
    */
  final case class DeltaFile(
      path: String,
      partitionValues: Map[String, Option[String]],
      stats: Option[String] = None,
      size: Long = 0L,
      dv: Option[DeletionVectors.DvDescriptor] = None) {

    /** The add's `stats.numRecords` (physical rows), when written. */
    def numRecords: Option[Long] =
      stats.flatMap { s =>
        try Option(mapper.readTree(s).get("numRecords"))
          .filter(_.isNumber).map(_.asLong())
        catch { case _: Exception => None }
      }

    /** Physical rows minus the rows the file's DV masks. */
    def liveRows: Option[Long] =
      numRecords.map(_ - dv.map(_.cardinality).getOrElse(0L))
  }

  /** The replayed state of the log at a version. `metaId` and
    * `configuration` are the metaData action's identity and table
    * properties — a checkpoint writer must carry BOTH through (losing
    * `delta.appendOnly` in a checkpoint would erase the constraint
    * for every post-cleanup reader). `columnMappingMode` is the
    * validated `delta.columnMapping.mode` ("none", "name" or "id").
    */
  final case class DeltaSnapshot(
      version: Long,
      schema: StructType,
      partitionColumns: Seq[String],
      liveFiles: Seq[DeltaFile],
      metaId: String = "",
      configuration: Map[String, String] = Map.empty) {

    def columnMappingMode: String =
      configuration.getOrElse("delta.columnMapping.mode", "none")

    /** logical column name → PHYSICAL parquet name (identity map
      * outside column mapping; under BOTH name and id mode the
      * physicalName metadata names the on-disk column — id mode still
      * assigns physical names, it just RESOLVES by field id).
      */
    def physicalNames: Map[String, String] =
      schema.map { f =>
        f.name -> (
          if (columnMappingMode != "none" &&
            f.metadata.contains(PhysicalNameKey))
            f.metadata.getString(PhysicalNameKey)
          else f.name)
      }.toMap
  }

  private[sources] val PhysicalNameKey = "delta.columnMapping.physicalName"
  private[sources] val ColumnIdKey = "delta.columnMapping.id"

  private val mapper = new ObjectMapper()

  private def fail(path: String, why: String): Nothing =
    throw new IllegalArgumentException(s"DeltaRead: $path — $why")

  /** The table's log, listed once; refuses when `_delta_log` is absent. */
  private def readerLog(spark: SparkSession, path: String): DeltaLog = {
    val log = DeltaLog.open(spark, path)
    if (!log.present) fail(path, "no _delta_log — not a Delta table")
    log
  }

  /** Versions present in the log, ascending: JSON commits plus
    * checkpoint-only versions (a vacuumed-head table's oldest
    * readable version is its checkpoint, reachable via `asOf`).
    */
  def versions(spark: SparkSession, path: String): Seq[Long] =
    readerLog(spark, path).versions

  /** Reader requirements collected during replay — validated against
    * the FINAL metaData configuration once replay completes.
    */
  private final class ReaderReqs {
    var minReader: Int = 1
    val features = mutable.Set.empty[String]
    def record(mr: Int, feats: Iterable[String]): Unit = {
      if (mr > minReader) minReader = mr
      features ++= feats
    }
  }

  private val SupportedReaderFeatures =
    Set("columnMapping", "deletionVectors")

  private def validateReaderReqs(
      path: String,
      reqs: ReaderReqs,
      config: Map[String, String]): Unit = {
    val mode = config.getOrElse("delta.columnMapping.mode", "none")
    if (mode != "none" && mode != "name" && mode != "id")
      fail(path, s"unknown delta.columnMapping.mode '$mode'")
    reqs.minReader match {
      case 1 | 2 => () // v2 = column mapping, validated via mode above
      case 3 =>
        val unsupported = reqs.features -- SupportedReaderFeatures
        if (unsupported.nonEmpty)
          fail(path, "table requires reader features " +
            s"${unsupported.toSeq.sorted.mkString(",")} — only " +
            s"${SupportedReaderFeatures.toSeq.sorted.mkString(",")} " +
            "are supported")
      case mr =>
        fail(path, s"table requires reader version $mr — only reader " +
          "versions 1-3 (column mapping name mode, deletion vectors) " +
          "are supported")
    }
  }

  /** Replay the log to `asOf` (default: latest). Base state comes from
    * version-0 JSON when the JSON chain is complete, else from the
    * newest classic checkpoint (single-part preferred; complete
    * multi-part sets accepted) whose JSON tail reaches the target
    * version.
    */
  def snapshot(
      spark: SparkSession,
      path: String,
      asOf: Option[Long] = None): DeltaSnapshot =
    snapshotOf(readerLog(spark, path), asOf)

  /** [[snapshot]] over an already-listed log. */
  private[sources] def snapshotOf(
      log: DeltaLog,
      asOf: Option[Long] = None): DeltaSnapshot = {
    val path = log.path
    val jsons = log.jsons.keys.toSeq
    val singles = log.singles.keys.toSeq
    val multis = log.multis.keys.toSeq
    val known = log.versions
    if (known.isEmpty) fail(path, "empty _delta_log")
    asOf.foreach { v =>
      if (!known.contains(v))
        fail(path,
          s"version $v not in log (have ${known.min}..${known.max})")
    }
    val upTo = asOf.getOrElse(known.max)
    val jsonSet = jsons.toSet
    val pureJson =
      jsons.headOption.contains(0L) && (0L to upTo).forall(jsonSet.contains)
    def reaches(c: Long): Boolean =
      c <= upTo && ((c + 1) to upTo).forall(jsonSet.contains)
    // base = the newest usable checkpoint version; at a tie, the
    // single-part file wins (one read instead of n —
    // DeltaLog.checkpointFiles prefers it)
    val base: Option[Long] =
      if (pureJson) None
      else (singles ++ multis).filter(reaches).maxOption.orElse {
        if (jsons.isEmpty || jsons.head != 0L)
          fail(path, s"log starts at version " +
            s"${jsons.headOption.getOrElse(-1L)}, not 0, and no " +
            s"usable checkpoint reaches version $upTo — early " +
            "commits were vacuumed after a checkpoint; read this " +
            "table with a full engine")
        val missing = (0L to upTo).find(v => !jsonSet.contains(v)).get
        fail(path, s"log gap: version $missing missing — " +
          "truncated or checkpoint-compacted log without a " +
          "usable checkpoint is unsupported")
      }
    var schema: Option[StructType] = None
    var partCols: Seq[String] = Nil
    var metaId = ""
    var config: Map[String, String] = Map.empty
    val reqs = new ReaderReqs
    val live = mutable.LinkedHashMap.empty[String, DeltaFile]
    val setMetaInfo: (String, Map[String, String]) => Unit =
      (id, cfg) => { metaId = id; config = cfg }
    base.foreach { c =>
      loadCheckpoint(log, c,
        s => schema = Some(s), pc => partCols = pc, setMetaInfo, live,
        reqs)
    }
    val firstJson = base.map(_ + 1).getOrElse(0L)
    (firstJson to upTo).foreach { v =>
      log.actions(v, strict = true).foreach { node =>
        applyAction(path, v, node,
          s => schema = Some(s), pc => partCols = pc, setMetaInfo, live,
          reqs)
      }
    }
    val sch = schema.getOrElse(
      fail(path, "no metaData action in log — schema unknown"))
    validateReaderReqs(path, reqs, config)
    val snap = DeltaSnapshot(upTo, sch, partCols, live.values.toSeq,
      metaId, config)
    if (snap.columnMappingMode != "none") requireFlatMapping(path, sch)
    if (snap.columnMappingMode == "id")
      sch.foreach { f =>
        if (!f.metadata.contains(ColumnIdKey))
          fail(path, s"column mapping mode=id but column '${f.name}' " +
            "carries no delta.columnMapping.id — malformed schema")
      }
    snap
  }

  /** Refuse (loudly) when a column-mapped schema maps NESTED fields:
    * top-level mapping is the implemented scope; silently reading a
    * nested physical name (or field id) as its logical name would be
    * wrong.
    */
  private def requireFlatMapping(path: String, schema: StructType): Unit = {
    def hasNestedMapping(dt: DataType): Boolean = dt match {
      case st: StructType =>
        st.exists(f => f.metadata.contains(PhysicalNameKey) ||
          f.metadata.contains(ColumnIdKey) ||
          hasNestedMapping(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType =>
        hasNestedMapping(a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        hasNestedMapping(m.keyType) || hasNestedMapping(m.valueType)
      case _ => false
    }
    schema.foreach { f =>
      if (hasNestedMapping(f.dataType))
        fail(path, s"column '${f.name}' carries column-mapping " +
          "metadata on NESTED fields — only top-level name mapping is " +
          "supported; read this table with a full engine")
    }
  }

  /** Load the net replay state from a classic checkpoint (one or more
    * part files read as ONE parquet scan): protocol rows feed the
    * deferred reader gate, the metaData row sets schema/partition
    * columns, add rows ARE the live file set (remove rows are vacuum
    * tombstones, already applied — ignored; deletionVector structs
    * parse into the file entries). The checkpoint is read as parquet
    * through Spark and collected — log state is driver metadata by
    * design, and the live-file count is capped; v2 columns
    * (`sidecar`/`checkpointMetadata`) refuse.
    */
  private def loadCheckpoint(
      log: DeltaLog,
      version: Long,
      setSchema: StructType => Unit,
      setPartCols: Seq[String] => Unit,
      setMetaInfo: (String, Map[String, String]) => Unit,
      live: mutable.LinkedHashMap[String, DeltaFile],
      reqs: ReaderReqs): Unit = {
    val path = log.path
    val df = log.checkpointDf(log.checkpointFiles(version))
    val top = df.schema.fieldNames.toSet
    Seq("sidecar", "checkpointMetadata").foreach { c =>
      if (top.contains(c))
        fail(path, s"checkpoint $version carries a '$c' column — v2 " +
          "checkpoints are unsupported (classic only)")
    }
    def field(c: String, t: String): Column = DeltaLog.fieldOr(df, c, t)
    if (top.contains("protocol")) {
      df.where(col("protocol").isNotNull)
        .select(col("protocol.minReaderVersion"),
          field("protocol.readerFeatures", "array<string>"))
        .collect().foreach { r =>
          val mr = if (r.isNullAt(0)) 1 else r.getInt(0)
          val feats =
            if (r.isNullAt(1)) Seq.empty[String]
            else r.getSeq[String](1).toSeq
          reqs.record(mr, feats)
        }
    }
    if (!top.contains("metaData"))
      fail(path, s"checkpoint $version: no metaData column")
    val metas = df.where(col("metaData").isNotNull)
      .select(col("metaData.schemaString"),
        col("metaData.partitionColumns"),
        col("metaData.format.provider"),
        field("metaData.id", "string"),
        field("metaData.configuration", "map<string,string>"))
      .collect()
    if (metas.isEmpty)
      fail(path, s"checkpoint $version: no metaData row")
    metas.foreach { r =>
      val provider = if (r.isNullAt(2)) "parquet" else r.getString(2)
      if (provider != "parquet")
        fail(path, s"checkpoint $version: data format '$provider' " +
          "unsupported (parquet only)")
      if (r.isNullAt(0))
        fail(path, s"checkpoint $version: metaData without schemaString")
      DataType.fromJson(r.getString(0)) match {
        case st: StructType => setSchema(st)
        case other =>
          fail(path, s"checkpoint $version: schemaString is $other")
      }
      setPartCols(
        if (r.isNullAt(1)) Seq.empty else r.getSeq[String](1).toSeq)
      setMetaInfo(
        if (r.isNullAt(3)) "" else r.getString(3),
        if (r.isNullAt(4)) Map.empty
        else r.getMap[String, String](4).toMap)
    }
    if (top.contains("add")) {
      val adds0 = df.where(col("add").isNotNull)
      val n = adds0.count()
      if (n > DeltaLog.MaxLogFiles)
        fail(path, s"checkpoint $version holds $n live " +
          s"files (> ${DeltaLog.MaxLogFiles}) — driver replay refused; " +
          "read this table with a full engine")
      val rows = adds0
        .select(col("add.path"), col("add.partitionValues"),
          field("add.stats", "string"),
          coalesce(field("add.size", "long"), lit(0L)),
          field("add.deletionVector.storageType", "string"),
          field("add.deletionVector.pathOrInlineDv", "string"),
          field("add.deletionVector.offset", "int"),
          field("add.deletionVector.sizeInBytes", "int"),
          field("add.deletionVector.cardinality", "long"))
        .collect()
      rows.foreach { r =>
        val raw = r.getString(0)
        if (raw == null)
          fail(path, s"checkpoint $version: add without path")
        val pvs: Map[String, Option[String]] =
          if (r.isNullAt(1)) Map.empty
          else r.getMap[String, String](1).toMap
            .map { case (k, v) => k -> Option(v) }
        val stats =
          if (r.isNullAt(2)) None
          else Option(r.getString(2)).filter(_.nonEmpty)
        val size = if (r.isNullAt(3)) 0L else r.getLong(3)
        val dv =
          if (r.isNullAt(4)) None
          else Some(DeletionVectors.DvDescriptor(
            r.getString(4),
            r.getString(5),
            if (r.isNullAt(6)) None else Some(r.getInt(6)),
            if (r.isNullAt(7))
              fail(path, s"checkpoint $version: deletionVector " +
                "without sizeInBytes")
            else r.getInt(7),
            if (r.isNullAt(8))
              fail(path, s"checkpoint $version: deletionVector " +
                "without cardinality")
            else r.getLong(8)))
        live(raw) = DeltaFile(raw, pvs, stats, size, dv)
      }
    }
  }

  private def applyAction(
      path: String,
      v: Long,
      node: JsonNode,
      setSchema: StructType => Unit,
      setPartCols: Seq[String] => Unit,
      setMetaInfo: (String, Map[String, String]) => Unit,
      live: mutable.LinkedHashMap[String, DeltaFile],
      reqs: ReaderReqs): Unit = {
    val protocol = node.get("protocol")
    if (protocol != null) {
      val r = Option(protocol.get("minReaderVersion")).map(_.asInt(1))
        .getOrElse(1)
      val feats = Option(protocol.get("readerFeatures"))
        .filter(!_.isNull).toSeq.flatMap { arr =>
          (0 until arr.size()).map(arr.get(_).asText())
        }
      reqs.record(r, feats)
    }
    val meta = node.get("metaData")
    if (meta != null) {
      val provider = Option(meta.get("format"))
        .flatMap(f => Option(f.get("provider"))).map(_.asText(""))
        .getOrElse("parquet")
      if (provider != "parquet")
        fail(path, s"commit $v: data format '$provider' unsupported " +
          "(parquet only)")
      val ss = Option(meta.get("schemaString")).map(_.asText())
        .getOrElse(fail(path, s"commit $v: metaData without schemaString"))
      // Delta's schemaString IS Spark's StructType JSON serialization
      DataType.fromJson(ss) match {
        case st: StructType => setSchema(st)
        case other => fail(path, s"commit $v: schemaString is $other")
      }
      val pcs = Option(meta.get("partitionColumns")).map { arr =>
        (0 until arr.size()).map(arr.get(_).asText())
      }.getOrElse(Seq.empty)
      setPartCols(pcs.toSeq)
      val id = Option(meta.get("id")).filter(!_.isNull)
        .map(_.asText()).getOrElse("")
      val cfg = Option(meta.get("configuration")).filter(!_.isNull)
        .map(DeltaLog.stringMap).getOrElse(Map.empty[String, String])
      setMetaInfo(id, cfg)
    }
    val add = node.get("add")
    if (add != null) {
      val dv = Option(add.get("deletionVector")).filter(!_.isNull)
        .map(dvDescriptorOf(path, v, _))
      val raw = Option(add.get("path")).map(_.asText())
        .getOrElse(fail(path, s"commit $v: add without path"))
      val pvs = partitionValuesOf(add)
      val stats = Option(add.get("stats")).filter(!_.isNull)
        .map(_.asText()).filter(_.nonEmpty)
      val size = Option(add.get("size")).filter(_.isNumber)
        .map(_.asLong(0L)).getOrElse(0L)
      live(raw) = DeltaFile(raw, pvs, stats, size, dv)
    }
    val remove = node.get("remove")
    if (remove != null) {
      Option(remove.get("path")).map(_.asText()).foreach(live.remove)
    }
    // commitInfo / txn / cdc / domainMetadata: ignored by design
  }

  /** An action's `partitionValues` object as (name → Option(value)). */
  private def partitionValuesOf(
      node: JsonNode): Map[String, Option[String]] = {
    val pvNode = node.get("partitionValues")
    if (pvNode == null || pvNode.isNull) Map.empty
    else {
      val it = pvNode.properties().iterator()
      val b = Map.newBuilder[String, Option[String]]
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey ->
          (if (e.getValue.isNull) None else Some(e.getValue.asText()))
      }
      b.result()
    }
  }

  /** An add action's `deletionVector` node as a descriptor. */
  private def dvDescriptorOf(
      path: String,
      v: Long,
      d: JsonNode): DeletionVectors.DvDescriptor =
    DeletionVectors.DvDescriptor(
      Option(d.get("storageType")).map(_.asText()).getOrElse(
        fail(path, s"commit $v: deletionVector without storageType")),
      Option(d.get("pathOrInlineDv")).map(_.asText()).getOrElse(
        fail(path, s"commit $v: deletionVector without pathOrInlineDv")),
      Option(d.get("offset")).filter(_.isNumber).map(_.asInt()),
      Option(d.get("sizeInBytes")).filter(_.isNumber).map(_.asInt())
        .getOrElse(fail(path,
          s"commit $v: deletionVector without sizeInBytes")),
      Option(d.get("cardinality")).filter(_.isNumber).map(_.asLong())
        .getOrElse(fail(path,
          s"commit $v: deletionVector without cardinality")))

  /** Delta RELATIVE paths are RFC 2396 URI-encoded (spaces as %20
    * etc.); decode percent escapes, keep raw on malformed input.
    * Absolute URIs go through `new Path(new URI(raw))`, which decodes
    * on its own.
    */
  private[sources] def decodePath(raw: String): String =
    try Option(new java.net.URI(raw).getPath).getOrElse(raw)
    catch { case _: java.net.URISyntaxException => raw }

  /** Scheme-and-authority-insensitive normal form for matching the
    * scan's `_metadata.file_path` against log paths: both sides go
    * through the SAME transform, so `file:/x`, `file:///x` and `/x`
    * all meet at `/x`.
    */
  private def normalizeCol(c: Column): Column =
    regexp_replace(c, "^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")
  private[sources] def normalizeStr(s: String): String =
    s.replaceFirst("^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")

  /** Scan the live data of a Delta table (optionally at a past
    * version). One distributed parquet read of the live files with
    * the log's schema enforced; partitioned tables get their
    * partition columns re-attached from the add actions'
    * `partitionValues` via one broadcast equi-join on the scan's
    * `_metadata.file_path`, cast to the schema's types. Column order
    * is the log schema's.
    */
  def read(
      spark: SparkSession,
      path: String,
      asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, path, asOf)
    scanFiles(spark, path, snap, snap.liveFiles)
  }

  /** [[read]] plus a `__delta_file` column carrying each row's source
    * file in the normalized form of [[fileKey]] — the copy-on-write
    * primitive ([[DeltaWrite.merge]] uses it to find and rewrite only
    * the files that contain matched keys).
    */
  def readWithFilePath(
      spark: SparkSession,
      path: String,
      asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, path, asOf)
    scanFiles(spark, path, snap, snap.liveFiles, keepFile = true)
  }

  /** The normalized identity of a live file — matches both the scan's
    * `_metadata.file_path` (URI-encoded) and [[readWithFilePath]]'s
    * `__delta_file` values.
    */
  private[sources] def fileKey(
      fs: org.apache.hadoop.fs.FileSystem,
      root: Path,
      f: DeltaFile): String = {
    val fp =
      if (f.path.matches("^[A-Za-z][A-Za-z0-9+.-]*://.*"))
        new Path(new java.net.URI(f.path))
      else new Path(root, decodePath(f.path))
    normalizeStr(fs.makeQualified(fp).toUri.toString)
  }

  /** Partition-pruned + zone-map-skipped scan — the scan that makes
    * the log's metadata pay at 100 TB: [[read]] scans EVERY live file
    * regardless of predicate, this one prunes the file list
    * driver-side BEFORE the distributed scan from exactly what the
    * log already carries, then still applies the predicates row-level
    * so the result is bit-identical to
    * `read(...).where(<the same predicates>)` whether or not any file
    * was skippable:
    *
    *  - `partitionEquals`: keep only files whose add-action
    *    `partitionValues` equal every given (column -> value); a NULL
    *    partition value never matches an equality (SQL semantics).
    *  - `range`: (column, lo, hi) inclusive over a LONG-typed column;
    *    a file is skipped only when its add `stats` JSON
    *    (minValues/maxValues — written by every real Delta writer)
    *    PROVES no overlap. Missing/unparseable stats, or stats
    *    lacking the column, keep the file — skipping is an
    *    optimization, never a correctness input.
    */
  def readPruned(
      spark: SparkSession,
      path: String,
      asOf: Option[Long] = None,
      partitionEquals: Map[String, String] = Map.empty,
      range: Option[(String, Long, Long)] = None): DataFrame = {
    val snap = snapshot(spark, path, asOf)
    partitionEquals.keys.foreach { k =>
      if (!snap.partitionColumns.contains(k))
        fail(path, s"partitionEquals on '$k', which is not a " +
          s"partition column (have ${snap.partitionColumns.mkString(",")})")
    }
    range.foreach { case (c, lo, hi) =>
      if (!snap.schema.fieldNames.contains(c))
        fail(path, s"range filter on unknown column '$c'")
      if (lo > hi) fail(path, s"range filter on '$c': lo $lo > hi $hi")
    }
    // add-action partitionValues and stats are keyed by PHYSICAL
    // column names under column mapping — translate before matching
    val phys = snap.physicalNames
    val pruned = snap.liveFiles
      .filter { f =>
        partitionEquals.forall { case (k, v) =>
          f.partitionValues.get(phys(k)).flatten.contains(v)
        }
      }
      .filter(f => range.forall { case (c, lo, hi) =>
        statsOverlap(f.stats, phys(c), lo, hi)
      })
    val base = scanFiles(spark, path, snap, pruned)
    val withPart = partitionEquals.foldLeft(base) { case (df, (k, v)) =>
      df.where(col(k) === lit(v))
    }
    range.fold(withPart) { case (c, lo, hi) =>
      withPart.where(col(c) >= lit(lo) && col(c) <= lit(hi))
    }
  }

  /** Metadata-only row count — `SELECT count(*)` without touching a
    * data file: the sum of the live adds' `stats.numRecords` MINUS
    * each file's deletion-vector cardinality (numRecords counts
    * physical rows; DV'd rows are logically deleted), the path every
    * real Delta reader takes for unfiltered counts (at 100 TB the
    * difference between a log read and a full scan). REFUSES (loudly)
    * when any live file lacks numRecords — a partial metadata count
    * would be silently wrong; scan instead.
    */
  def countRows(
      spark: SparkSession,
      path: String,
      asOf: Option[Long] = None): Long = {
    val snap = snapshot(spark, path, asOf)
    snap.liveFiles.map { f =>
      f.liveRows.getOrElse(fail(path, s"live file ${f.path} " +
        "carries no numRecords stats — a metadata-only count would be " +
        "wrong; scan the table instead"))
    }.sum
  }

  /** Incremental (version-range) read — the Delta streaming-source
    * verb: the rows ADDED in commits `fromVersion..toVersion`
    * (inclusive; default to = latest), each tagged with its
    * `__commit_version`. This is how a downstream pipeline consumes a
    * lake table without rescanning it: at 100 TB the difference
    * between reading one day's appends and re-reading the table.
    *
    * Semantics mirror the real Delta source's strict default: the
    * range must be PURE APPEND — a remove action with
    * dataChange=true in range means updates/deletes happened, and
    * silently emitting their adds would double-count rewritten rows,
    * so it refuses loudly unless `ignoreDeletes` (the engines'
    * escape hatch for retention-driven deletes). Adds with
    * dataChange=false (compaction rewrites) are skipped — they move
    * bytes, not data. The range must exist as JSON commits
    * (checkpoint-compacted history refuses: the per-version
    * attribution is gone). Column-mapped tables read through the
    * same physical-name mapping as [[read]]; DV-carrying adds refuse
    * (a DV'd add is an update, not an append).
    */
  def readChanges(
      spark: SparkSession,
      path: String,
      fromVersion: Long,
      toVersion: Option[Long] = None,
      ignoreDeletes: Boolean = false): DataFrame = {
    val (log, upTo) = changeRange(spark, path, fromVersion, toVersion)
    // schema/mapping/protocol state at the END of the range
    val snap = snapshotOf(log, asOf = Some(upTo))
    val adds = Seq.newBuilder[(Long, DeltaFile)]
    (fromVersion to upTo).foreach { v =>
      log.actions(v, strict = true).foreach { node =>
        val remove = node.get("remove")
        if (remove != null) {
          val dataChange = Option(remove.get("dataChange"))
            .forall(_.asBoolean(true))
          if (dataChange && !ignoreDeletes)
            fail(path, s"commit $v REMOVES data in the requested " +
              "range — not pure append (updates/deletes would " +
              "double-count); pass ignoreDeletes for " +
              "retention-driven deletes or re-read the table")
        }
        val add = node.get("add")
        if (add != null) {
          val dataChange = Option(add.get("dataChange"))
            .forall(_.asBoolean(true))
          if (dataChange) {
            if (Option(add.get("deletionVector")).exists(!_.isNull))
              fail(path, s"commit $v adds a DV-carrying file — an " +
                "update, not an append; incremental read refused")
            val raw = Option(add.get("path")).map(_.asText())
              .getOrElse(fail(path, s"commit $v: add without path"))
            adds += ((v, DeltaFile(raw, partitionValuesOf(add))))
          }
        }
      }
    }
    // a path re-added within the range keeps its LAST add (the file is
    // scanned once; last-action-wins, same rule as replay). toSeq
    // BEFORE mapping: Map.map over (version, file) tuples would
    // re-key by version and collapse same-version files.
    val added = adds.result()
      .groupBy(_._2.path).toSeq.map(_._2.maxBy(_._1)).sortBy(_._1)
    val outSchema = snap.schema.add("__commit_version", LongType)
    if (added.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[Row](), outSchema)
    // one distributed scan of the added files; the version tag rides
    // the same broadcast-attach shape as partition values
    val scan = scanFiles(spark, path, snap,
      added.map(_._2), keepFile = true)
    val verRows = added.map { case (v, f) =>
      Row(fileKey(log.fs, log.root, f), v)
    }
    val javaRows = new java.util.ArrayList[Row](verRows.length)
    verRows.foreach(javaRows.add)
    val verDf = spark.createDataFrame(javaRows, StructType(Seq(
      StructField("__delta_file", StringType, nullable = false),
      StructField("__commit_version", LongType, nullable = false))))
    scan.join(broadcast(verDf), "__delta_file")
      .select(outSchema.map(f => col(f.name)): _*)
  }

  /** Change-data-feed read — row-level changes for commits
    * `fromVersion..toVersion`, each row tagged `_change_type`
    * (insert / update_preimage / update_postimage / delete) and
    * `_commit_version`. The consumable form of MERGE/UPDATE history:
    * [[readChanges]] refuses any in-range remove, this replays them.
    *
    * Per the public CDF semantics: a commit WITH `cdc` actions is
    * described COMPLETELY by its cdc files (read as-is); a commit
    * without them derives — add-only commits are inserts, remove-only
    * commits are deletes (the removed files' content, which must
    * still exist: vacuumed change history is gone, exactly like the
    * real feed past its retention). A commit that BOTH adds and
    * removes data without cdc files refuses loudly: change data was
    * never recorded (the table lacked
    * `delta.enableChangeDataFeed=true`), and per-row attribution is
    * unrecoverable. Column-mapped tables and cdc files on partitioned
    * tables refuse (documented bound).
    */
  def readCdf(
      spark: SparkSession,
      path: String,
      fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val (log, upTo) = changeRange(spark, path, fromVersion, toVersion)
    val fs = log.fs
    val root = log.root
    val snap = snapshotOf(log, asOf = Some(upTo))
    if (snap.columnMappingMode != "none")
      fail(path, "CDF read on a column-mapped table is unsupported; " +
        "read with a full engine")
    val outSchema = snap.schema
      .add("_change_type", StringType)
      .add("_commit_version", LongType)
    val parts = Seq.newBuilder[DataFrame]
    (fromVersion to upTo).foreach { v =>
      val cdcPaths = Seq.newBuilder[String]
      val adds = Seq.newBuilder[DeltaFile]
      val removes = Seq.newBuilder[String]
      log.actions(v, strict = true).foreach { node =>
        Option(node.get("cdc")).filter(!_.isNull).foreach { c =>
          cdcPaths += Option(c.get("path")).map(_.asText())
            .getOrElse(fail(path, s"commit $v: cdc without path"))
        }
        Option(node.get("add")).filter(!_.isNull).foreach { add =>
          if (Option(add.get("dataChange")).forall(_.asBoolean(true)))
            adds += DeltaFile(
              Option(add.get("path")).map(_.asText()).getOrElse(
                fail(path, s"commit $v: add without path")),
              partitionValuesOf(add),
              dv = Option(add.get("deletionVector"))
                .filter(!_.isNull).map(dvDescriptorOf(path, v, _)))
        }
        Option(node.get("remove")).filter(!_.isNull).foreach { rm =>
          if (Option(rm.get("dataChange")).forall(_.asBoolean(true)))
            removes += Option(rm.get("path")).map(_.asText())
              .getOrElse(fail(path, s"commit $v: remove without path"))
        }
      }
      val cdcs = cdcPaths.result()
      val a = adds.result()
      val r = removes.result()
      if (cdcs.nonEmpty) {
        // cdc files are the commit's COMPLETE change description
        if (snap.partitionColumns.nonEmpty)
          fail(path, s"commit $v carries cdc files on a PARTITIONED " +
            "table — partition-valued cdc reads are unsupported")
        val files = cdcs.map { raw =>
          val fp =
            if (raw.matches("^[A-Za-z][A-Za-z0-9+.-]*://.*"))
              new Path(new java.net.URI(raw))
            else new Path(root, decodePath(raw))
          fs.makeQualified(fp).toString
        }
        val cdcSchema = snap.schema.add("_change_type", StringType)
        parts += spark.read.schema(cdcSchema).parquet(files: _*)
          .withColumn("_commit_version", lit(v))
      } else if (a.nonEmpty && r.nonEmpty) {
        fail(path, s"commit $v rewrites data (adds AND removes) " +
          "without cdc files — change data was never recorded " +
          "(enable delta.enableChangeDataFeed); per-row changes are " +
          "unrecoverable")
      } else if (a.nonEmpty) {
        if (a.exists(_.dv.nonEmpty))
          fail(path, s"commit $v adds a DV-carrying file without cdc " +
            "files — an update whose change data was never recorded")
        parts += scanFiles(spark, path, snap, a)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(v))
      } else if (r.nonEmpty) {
        // delete rows = the removed files' content at v-1
        val prev = snapshotOf(log, asOf = Some(v - 1))
        val prevByPath = prev.liveFiles.map(f => f.path -> f).toMap
        val files = r.map(rp => prevByPath.getOrElse(rp,
          fail(path, s"commit $v removes '$rp' which is not live at " +
            s"version ${v - 1} — malformed log")))
        parts += scanFiles(spark, path, snap, files)
          .withColumn("_change_type", lit("delete"))
          .withColumn("_commit_version", lit(v))
      }
    }
    val ps = parts.result()
    if (ps.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[Row](), outSchema)
    else ps.reduce(_ unionByName _)
      .select(outSchema.map(f => col(f.name)): _*)
  }

  /** (version, timestampMs) per log version, ascending, with the
    * engines' monotonicity adjustment (a commit never reads as older
    * than its predecessor). The timestamp is the commit's
    * `commitInfo.timestamp` when present, else the commit (or
    * checkpoint) file's modification time.
    */
  def versionTimestamps(
      spark: SparkSession,
      path: String): Seq[(Long, Long)] = {
    val log = readerLog(spark, path)
    var prev = Long.MinValue
    log.versions.map { v =>
      val ts = log.jsons.get(v) match {
        case Some(st) =>
          log.actions(v, strict = false).iterator
            .flatMap(n => Option(n.get("commitInfo")).filter(!_.isNull))
            .flatMap(ci => Option(ci.get("timestamp")).filter(_.isNumber))
            .map(_.asLong()).nextOption()
            .getOrElse(st.getModificationTime)
        case None => log.checkpointFiles(v).head.getModificationTime
      }
      val mono = math.max(ts, prev)
      prev = mono
      (v, mono)
    }
  }

  /** The log, the range's end (default: latest) and a refusal when the
    * range is empty or any version in it has no JSON commit.
    */
  private def changeRange(
      spark: SparkSession,
      path: String,
      fromVersion: Long,
      toVersion: Option[Long]): (DeltaLog, Long) = {
    val log = readerLog(spark, path)
    val upTo = toVersion.getOrElse(log.versions.max)
    if (fromVersion < 0 || fromVersion > upTo)
      fail(path, s"version range $fromVersion..$upTo is empty/invalid")
    (fromVersion to upTo).foreach { v =>
      if (!log.jsons.contains(v))
        fail(path, s"version $v has no JSON commit (checkpoint-" +
          "compacted history) — per-version change attribution is " +
          "gone; re-read the full table instead")
    }
    (log, upTo)
  }

  /** Resolve an instant (epoch millis) to the version the table was
    * at — the LATEST version whose commit timestamp <= the instant.
    * Refuses before the first commit (the table did not exist yet).
    */
  def versionAt(
      spark: SparkSession,
      path: String,
      timestampMs: Long): Long = {
    val stamped = versionTimestamps(spark, path)
    val atOrBefore = stamped.takeWhile(_._2 <= timestampMs)
    if (atOrBefore.isEmpty)
      fail(path, s"timestamp $timestampMs precedes the first commit " +
        s"(${stamped.head._2}) — the table did not exist yet")
    atOrBefore.last._1
  }

  /** [[read]] at the version the table was at a given instant. */
  def readAsOfTimestamp(
      spark: SparkSession,
      path: String,
      timestampMs: Long): DataFrame =
    read(spark, path, asOf = Some(versionAt(spark, path, timestampMs)))

  /** True unless the file's stats JSON PROVES [lo, hi] cannot match:
    * min > hi or max < lo on the column's long-valued min/max. Any
    * missing piece keeps the file.
    */
  private[sources] def statsOverlap(
      stats: Option[String],
      column: String,
      lo: Long,
      hi: Long): Boolean = stats match {
    case None => true
    case Some(s) =>
      try {
        val node = mapper.readTree(s)
        def bound(obj: String): Option[Long] =
          Option(node.get(obj)).flatMap(o => Option(o.get(column)))
            .filter(_.isNumber).map(_.asLong())
        val min = bound("minValues")
        val max = bound("maxValues")
        !(min.exists(_ > hi) || max.exists(_ < lo))
      } catch { case _: Exception => true }
  }

  /** One distributed parquet scan of `live` with the snapshot schema
    * enforced, partition columns re-attached (broadcast equi-join on
    * the scan's `_metadata.file_path`), physical parquet names mapped
    * back to logical names (column-mapping name mode), and
    * deletion-vector rows dropped via ONE distributed anti-join on
    * `_metadata.row_index` (bitmaps parse on executors — descriptor
    * rows are log-grain metadata; expanded row indexes flow straight
    * into the join's shuffle, never through the driver).
    */
  private[sources] def scanFiles(
      spark: SparkSession,
      path: String,
      snap: DeltaSnapshot,
      liveList: Seq[DeltaFile],
      keepFile: Boolean = false,
      keepRowIndex: Boolean = false): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(p)
    val partCols = snap.partitionColumns
    val mode = snap.columnMappingMode
    val phys = snap.physicalNames
    if (phys.values.toSeq.distinct.size != phys.size)
      fail(path, "column mapping assigns duplicate physical names")
    // the name the data scan exposes per logical column: the PHYSICAL
    // name under name mode; the LOGICAL name under id mode, where the
    // parquet reader matches footer field ids instead of names (the
    // requested schema carries parquet.field.id from the log's
    // delta.columnMapping.id)
    val readName: String => String =
      if (mode == "name") phys else identity[String]
    val dataSchema = StructType(
      snap.schema.filterNot(f => partCols.contains(f.name))
        .map { f =>
          val md =
            if (mode == "id")
              new MetadataBuilder().putLong("parquet.field.id",
                f.metadata.getLong(ColumnIdKey)).build()
            else Metadata.empty
          StructField(readName(f.name), f.dataType, f.nullable, md)
        })
    if (mode == "id")
      FieldIds.ensureReadEnabled(spark)
    var outSchema =
      if (!keepFile) snap.schema
      else snap.schema.add("__delta_file", StringType)
    if (keepRowIndex) outSchema = outSchema.add("__row_index", LongType)
    if (liveList.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[Row](), outSchema)
    val files = liveList.map { f =>
      val fp =
        if (f.path.matches("^[A-Za-z][A-Za-z0-9+.-]*://.*"))
          new Path(new java.net.URI(f.path))
        else new Path(root, decodePath(f.path))
      (fs.makeQualified(fp), f)
    }
    val scan0 = spark.read.schema(dataSchema)
      .parquet(files.map(_._1.toString): _*)
    val dvFiles = files.filter(_._2.dv.nonEmpty)
    val needFile = keepFile || partCols.nonEmpty || dvFiles.nonEmpty ||
      keepRowIndex
    val scan1a =
      if (!needFile) scan0
      else scan0.withColumn("__file",
        normalizeCol(col("_metadata.file_path")))
    val scan1 =
      if (!keepRowIndex) scan1a
      else scan1a.withColumn("__row_index", col("_metadata.row_index"))
    val scan =
      if (dvFiles.isEmpty) scan1
      else {
        import spark.implicits._
        // descriptor rows: log-grain metadata (one per DV'd file)
        val descRows = dvFiles.map { case (fp, f) =>
          val d = f.dv.get
          (normalizeStr(fp.toUri.toString), d.storageType,
            d.pathOrInlineDv, d.offset.getOrElse(-1), d.sizeInBytes,
            d.cardinality)
        }
        val confH = new graft.operators.HadoopConfHolder(
          spark.sessionState.newHadoopConf())
        val rootStr = root.toString
        val deleted = spark.createDataset(descRows)
          .repartition(math.min(descRows.size,
            spark.sparkContext.defaultParallelism))
          .mapPartitions { it =>
            val tableRoot = new Path(rootStr)
            lazy val dfs = tableRoot.getFileSystem(confH.value)
            it.flatMap { case (fileKey, st, pd, off, size, card) =>
              val desc = DeletionVectors.DvDescriptor(st, pd,
                if (off < 0) None else Some(off), size, card)
              val rows = DeletionVectors.load(dfs, tableRoot, desc)
              require(rows.length == card,
                s"DV for $fileKey holds ${rows.length} rows, " +
                  s"descriptor says $card")
              rows.iterator.map(ri => (fileKey, ri))
            }
          }.toDF("__dv_file", "__dv_ri")
        scan1
          .withColumn("__ri", col("_metadata.row_index"))
          .join(deleted,
            scan1("__file") === deleted("__dv_file") &&
              col("__ri") === deleted("__dv_ri"),
            "left_anti")
          .drop("__ri")
      }
    val byName = snap.schema.map(f => f.name -> f).toMap
    val extras =
      (if (keepFile) Seq(col("__file").as("__delta_file"))
      else Seq.empty) ++
        (if (keepRowIndex) Seq(col("__row_index")) else Seq.empty)
    if (partCols.isEmpty)
      return scan.select(
        (snap.schema.map(f => col(readName(f.name)).as(f.name)) ++
          extras): _*)
    // partition attach: (normalized file path -> partition values)
    // is log-grain metadata — broadcast it against the scan.
    // partitionValues keys are PHYSICAL names under column mapping.
    val mapSchema = StructType(
      StructField("__file", StringType, nullable = false) +:
        partCols.map(c => StructField(s"__pv_$c", StringType,
          nullable = true)))
    // the scan's `_metadata.file_path` is the URI-ENCODED form
    // (Path.toUri — a literal '%' in a dir name arrives as %25), so
    // the map key must be the same encoding, not Path.toString
    val rows = files.map { case (fp, f) =>
      Row.fromSeq(normalizeStr(fp.toUri.toString) +:
        partCols.map(c => f.partitionValues.get(phys(c)).flatten.orNull))
    }
    val javaRows = new java.util.ArrayList[Row](rows.length)
    rows.foreach(javaRows.add)
    val mapDf = spark.createDataFrame(javaRows, mapSchema)
    scan
      .join(broadcast(mapDf), "__file")
      .select((snap.schema.map { f =>
        if (partCols.contains(f.name))
          col(s"__pv_${f.name}").cast(byName(f.name).dataType).as(f.name)
        else col(readName(f.name)).as(f.name)
      } ++ extras): _*)
  }
}
