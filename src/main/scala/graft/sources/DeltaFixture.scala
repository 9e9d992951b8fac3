package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Log-authoring twin of [[DeltaRead]] — plants protocol-exact
  * `_delta_log` fixtures (the [[graft.multimodal.Wav]].encode /
  * Mp4.encode pattern: every decoder ships the encoder that proves
  * it). This is NOT a transactional Delta writer: no optimistic
  * concurrency, no checkpoints, no stats — just spec-shaped action
  * lines for tests and the q219 gate.
  */
object DeltaFixture {

  private val mapper = new ObjectMapper()

  def protocolLine(minReader: Int = 1, minWriter: Int = 2): String = {
    val root = mapper.createObjectNode()
    val p = root.putObject("protocol")
    p.put("minReaderVersion", minReader)
    p.put("minWriterVersion", minWriter)
    mapper.writeValueAsString(root)
  }

  def metaDataLine(
      id: String,
      schema: StructType,
      partitionColumns: Seq[String] = Seq.empty,
      provider: String = "parquet",
      configuration: Map[String, String] = Map.empty): String = {
    val root = mapper.createObjectNode()
    val m = root.putObject("metaData")
    m.put("id", id)
    val f = m.putObject("format")
    f.put("provider", provider)
    f.putObject("options")
    m.put("schemaString", schema.json)
    val pc = m.putArray("partitionColumns")
    partitionColumns.foreach(pc.add)
    val cfg = m.putObject("configuration")
    configuration.foreach { case (k, v) => cfg.put(k, v): Unit }
    m.put("createdTime", 0L)
    mapper.writeValueAsString(root)
  }

  /** A protocol line with reader/writer FEATURES (version 3/7 era). */
  def protocolFeaturesLine(
      minReader: Int,
      minWriter: Int,
      readerFeatures: Seq[String],
      writerFeatures: Seq[String] = Seq.empty): String = {
    val root = mapper.createObjectNode()
    val p = root.putObject("protocol")
    p.put("minReaderVersion", minReader)
    p.put("minWriterVersion", minWriter)
    val rf = p.putArray("readerFeatures")
    readerFeatures.foreach(rf.add)
    val wf = p.putArray("writerFeatures")
    writerFeatures.foreach(wf.add)
    mapper.writeValueAsString(root)
  }

  def addLine(
      path: String,
      size: Long,
      partitionValues: Map[String, Option[String]] = Map.empty,
      withDeletionVector: Boolean = false,
      stats: Option[String] = None,
      dv: Option[DeletionVectors.DvDescriptor] = None,
      dataChange: Boolean = true): String = {
    val root = mapper.createObjectNode()
    val a = root.putObject("add")
    a.put("path", path)
    val pv = a.putObject("partitionValues")
    partitionValues.foreach {
      case (k, Some(v)) => pv.put(k, v): Unit
      case (k, None)    => pv.putNull(k): Unit
    }
    a.put("size", size)
    a.put("modificationTime", 0L)
    a.put("dataChange", dataChange)
    stats.foreach(s => a.put("stats", s): Unit)
    val dvDesc = dv.orElse(
      if (withDeletionVector) // a descriptor whose payload is garbage
        Some(DeletionVectors.DvDescriptor("u", "x", Some(0), 1, 1L))
      else None)
    dvDesc.foreach { d =>
      val n = a.putObject("deletionVector")
      n.put("storageType", d.storageType)
      n.put("pathOrInlineDv", d.pathOrInlineDv)
      d.offset.foreach(o => n.put("offset", o): Unit)
      n.put("sizeInBytes", d.sizeInBytes)
      n.put("cardinality", d.cardinality)
    }
    mapper.writeValueAsString(root)
  }

  /** The per-file `stats` JSON real Delta writers attach to adds:
    * numRecords + per-column min/max (long-valued columns here — the
    * zone-map input of [[DeltaRead.readPruned]]).
    */
  def statsJson(
      numRecords: Long,
      minMax: Map[String, (Long, Long)]): String = {
    val root = mapper.createObjectNode()
    root.put("numRecords", numRecords)
    val mins = root.putObject("minValues")
    val maxs = root.putObject("maxValues")
    minMax.foreach { case (c, (lo, hi)) =>
      mins.put(c, lo): Unit
      maxs.put(c, hi): Unit
    }
    mapper.writeValueAsString(root)
  }

  /** A `txn` action — the streaming-sink idempotence marker
    * ([[DeltaWrite.idempotentAppend]]).
    */
  def txnLine(appId: String, version: Long): String = {
    val root = mapper.createObjectNode()
    val t = root.putObject("txn")
    t.put("appId", appId)
    t.put("version", version)
    t.put("lastUpdated", 0L)
    mapper.writeValueAsString(root)
  }

  /** A `cdc` action (change-data-feed file reference, PROTOCOL.md
    * "Add CDC File"): dataChange=false — cdc files are change
    * metadata, never table data in replay.
    */
  def cdcLine(path: String, size: Long): String = {
    val root = mapper.createObjectNode()
    val c = root.putObject("cdc")
    c.put("path", path)
    c.putObject("partitionValues")
    c.put("size", size)
    c.put("dataChange", false)
    mapper.writeValueAsString(root)
  }

  def removeLine(path: String, dataChange: Boolean = true): String = {
    val root = mapper.createObjectNode()
    val r = root.putObject("remove")
    r.put("path", path)
    r.put("deletionTimestamp", 0L)
    r.put("dataChange", dataChange)
    mapper.writeValueAsString(root)
  }

  /** Write `_delta_log/<version, 20 digits>.json` with the given
    * action lines (newline-delimited JSON, per the protocol).
    */
  def writeCommit(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      lines: Seq[String]): Unit =
    graft.ScratchSpace.writeBytes(spark, tablePath,
      f"_delta_log/$version%020d.json",
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))

  /** Write a single-part CLASSIC checkpoint at
    * `_delta_log/<version>.checkpoint.parquet` — the net replay state
    * (one protocol row, one metaData row, one add row per live file)
    * in the protocol's top-level-struct-per-action parquet layout —
    * plus the `_last_checkpoint` pointer JSON. The authoring twin of
    * [[DeltaRead]]'s checkpoint path, for tests and the gate.
    */
  def writeCheckpoint(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      schema: StructType,
      partitionColumns: Seq[String] = Seq.empty,
      adds: Seq[(String, Map[String, Option[String]])] = Seq.empty,
      minReader: Int = 1,
      txns: Seq[(String, Long)] = Seq.empty): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val protocolT = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType)))
    val metaT = StructType(Seq(
      StructField("id", StringType),
      StructField("format",
        StructType(Seq(StructField("provider", StringType)))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType))))
    val addT = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues",
        MapType(StringType, StringType, valueContainsNull = true)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType)))
    val txnT = StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType)))
    val cpT = StructType(Seq(
      StructField("protocol", protocolT, nullable = true),
      StructField("metaData", metaT, nullable = true),
      StructField("add", addT, nullable = true),
      StructField("txn", txnT, nullable = true)))
    val rows = new java.util.ArrayList[Row]()
    rows.add(Row(Row(minReader, 2), null, null, null))
    rows.add(Row(null,
      Row("cp-fixture", Row("parquet"), schema.json, partitionColumns),
      null, null))
    adds.foreach { case (p, pvs) =>
      rows.add(Row(null, null,
        Row(p, pvs.map { case (k, v) => k -> v.orNull }, 1L, 0L, true),
        null))
    }
    txns.foreach { case (app, v) =>
      rows.add(Row(null, null, null, Row(app, v)))
    }
    val df = spark.createDataFrame(rows, cpT)
    plantDataFile(spark, df, tablePath,
      f"_delta_log/$version%020d.checkpoint.parquet"): Unit
    val lc = mapper.createObjectNode()
    lc.put("version", version)
    lc.put("size", rows.size().toLong)
    graft.ScratchSpace.writeBytes(spark, tablePath,
      "_delta_log/_last_checkpoint",
      (mapper.writeValueAsString(lc) + "\n").getBytes("UTF-8"))
  }

  /** Write a MULTI-PART classic checkpoint at
    * `_delta_log/<version>.checkpoint.<i>.<n>.parquet` (the layout
    * large production tables write routinely): protocol + metaData
    * rows land in part 1, add rows split round-robin across parts —
    * any part may carry any action type per the protocol; readers
    * must union all n parts. Plus the `_last_checkpoint` pointer with
    * its `parts` field.
    */
  def writeMultiCheckpoint(
      spark: SparkSession,
      tablePath: String,
      version: Long,
      schema: StructType,
      nParts: Int,
      partitionColumns: Seq[String] = Seq.empty,
      adds: Seq[(String, Map[String, Option[String]])] = Seq.empty,
      minReader: Int = 1): Unit = {
    require(nParts >= 2, "multi-part checkpoint needs >= 2 parts")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val protocolT = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType)))
    val metaT = StructType(Seq(
      StructField("id", StringType),
      StructField("format",
        StructType(Seq(StructField("provider", StringType)))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType))))
    val addT = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues",
        MapType(StringType, StringType, valueContainsNull = true)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType)))
    val cpT = StructType(Seq(
      StructField("protocol", protocolT, nullable = true),
      StructField("metaData", metaT, nullable = true),
      StructField("add", addT, nullable = true)))
    val partRows =
      Array.fill(nParts)(new java.util.ArrayList[Row]())
    partRows(0).add(Row(Row(minReader, 2), null, null))
    partRows(0).add(Row(null,
      Row("cp-fixture-multi", Row("parquet"), schema.json,
        partitionColumns), null))
    adds.zipWithIndex.foreach { case ((p, pvs), i) =>
      partRows(i % nParts).add(Row(null, null,
        Row(p, pvs.map { case (k, v) => k -> v.orNull }, 1L, 0L, true)))
    }
    (1 to nParts).foreach { i =>
      val df = spark.createDataFrame(partRows(i - 1), cpT)
      plantDataFile(spark, df, tablePath,
        f"_delta_log/$version%020d.checkpoint.$i%010d.$nParts%010d" +
          ".parquet"): Unit
    }
    val lc = mapper.createObjectNode()
    lc.put("version", version)
    lc.put("size", partRows.map(_.size().toLong).sum)
    lc.put("parts", nParts)
    graft.ScratchSpace.writeBytes(spark, tablePath,
      "_delta_log/_last_checkpoint",
      (mapper.writeValueAsString(lc) + "\n").getBytes("UTF-8"))
  }

  /** Write `df` as ONE parquet file at `tablePath/name` and return its
    * byte size for the add action ([[graft.ScratchSpace.writeOneFile]]).
    */
  def plantDataFile(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      name: String): Long =
    graft.ScratchSpace.writeOneFile(df, tablePath, name)
}
