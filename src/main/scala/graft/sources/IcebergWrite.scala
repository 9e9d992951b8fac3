package graft.sources

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, lit}

/** Transactional APPEND-ONLY Apache Iceberg writer — the produce-side
  * twin of [[IcebergRead]], per the public table spec's
  * filesystem-table commit rule (HadoopTables): a commit IS the
  * atomic CREATE-EXCLUSIVE of the next `v<N>.metadata.json`; losers
  * of the race re-read and retry, `version-hint.text` is an advisory
  * pointer updated after the commit point. Everything the reader
  * walks is written for real: parquet data files WITH footer field
  * ids, an Avro manifest of ADDED entries (sequence numbers
  * inherited from the manifest list), a new manifest list carrying
  * every previous manifest verbatim plus the new one, and a metadata
  * JSON that deep-copies the previous version (table uuid, schemas,
  * specs preserved) appending one snapshot.
  *
  * Scope (refuse-loudly outside it):
  *  - verbs: append (incl. table create), position-delete DML
  *    ([[deleteWhere]]), equality-delete upsert ([[upsert]]),
  *    delete-compaction ([[rewriteDataFiles]]), snapshot expiration
  *    ([[expireSnapshots]]);
  *  - partitioning: IDENTITY transforms over int/long/string columns
  *    (created or appended; every data file holds exactly ONE
  *    partition tuple, manifest entries carry the spec's partition
  *    record for [[IcebergRead.readPruned]]'s metadata prune).
  *    Non-identity transforms (bucket/truncate/days/...) refuse.
  *    [[deleteWhere]] and [[rewriteDataFiles]] work on partitioned
  *    tables (partition-scoped delete files, one partition tuple per
  *    delete file — the shape real writers emit); [[upsert]] refuses
  *    them (the reader refuses partition-scoped equality deletes);
  *  - format-version 2 (created tables are v2; appends to v1 tables
  *    refuse — their sequence-number-less manifests would corrupt
  *    delete semantics);
  *  - exact schema match on append (names + types; evolution is not
  *    a silent write side effect — same stance as [[DeltaWrite]]).
  */
object IcebergWrite {

  private def fail(path: String, why: String): Nothing =
    throw new IllegalArgumentException(s"IcebergWrite: $path — $why")

  /** The spec's RESERVED field ids for position-delete file columns
    * (iceberg.apache.org/spec — 2147483546 `file_path`, 2147483545
    * `pos`): conformant external engines resolve delete columns by
    * these ids, so they ride into the delete parquet footers.
    */
  val PosDeleteFilePathId = 2147483546
  val PosDeletePosId = 2147483545

  /** Append `df` to the Iceberg table at `tablePath`, creating the
    * table (format-version 2, field ids 1..n, identity partition spec
    * over `partitionBy`) when absent. For existing tables
    * `partitionBy` must NAME the table's identity partition columns
    * exactly (explicitness over inference — [[DeltaWrite]]'s stance).
    * Returns the committed snapshot id. The data write is distributed
    * (no single-file coalesce); the metadata walk and commit are
    * driver-side, like every metadata operation here.
    */
  def append(
      df: DataFrame,
      tablePath: String,
      partitionBy: Seq[String] = Seq.empty,
      maxRetries: Int = 10): Long = {
    val spark = df.sparkSession
    partitionBy.foreach { c =>
      if (!df.columns.contains(c))
        fail(tablePath, s"partition column '$c' not in DataFrame")
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.LongType |
          org.apache.spark.sql.types.StringType => ()
        case other =>
          fail(tablePath, s"identity partition column '$c' has type " +
            s"${other.simpleString} — int/long/string only")
      }
    }
    val p = new Path(tablePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(p)
    LakeCommit.gate(spark, root)
    val metaDir = new Path(root, "metadata")
    val exists = fs.exists(metaDir) &&
      fs.listStatus(metaDir).exists(
        _.getPath.getName.matches("v\\d+\\.metadata\\.json"))
    if (!exists)
      // a plain append carries no txn guard, so the Option is always
      // Some — .get is total here
      create(df, tablePath, partitionBy, fs, root, maxRetries).get
    else
      appendExisting(df, tablePath, partitionBy, fs, root, maxRetries,
        Map.empty, None).get
  }

  /** Idempotent append — the exactly-once streaming-sink primitive,
    * [[DeltaWrite.idempotentAppend]]'s twin through Iceberg's own
    * mechanism: the commit's snapshot SUMMARY carries
    * (`graft-app-id`, `graft-txn-version`), and an append whose
    * txnVersion is already <= the RETAINED history's latest for that
    * appId is SKIPPED (None) — foreachBatch replays after a crash
    * no-op instead of duplicating rows. The check re-runs inside the
    * commit-race retry loop, so a concurrent replay of the same batch
    * cannot double-commit either. Same approach as Flink's
    * checkpoint-id summaries, with the same documented bound:
    * [[expireSnapshots]] retention must exceed the sink's replay lag
    * or the idempotence memory expires with the snapshots.
    */
  def idempotentAppend(
      df: DataFrame,
      tablePath: String,
      appId: String,
      txnVersion: Long,
      partitionBy: Seq[String] = Seq.empty,
      maxRetries: Int = 10): Option[Long] = {
    val spark = df.sparkSession
    val p = new Path(tablePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(p)
    LakeCommit.gate(spark, root)
    if (lastTxnVersion(spark, tablePath, appId) >= txnVersion)
      return None
    val props = Map("graft-app-id" -> appId,
      "graft-txn-version" -> txnVersion.toString)
    val metaDir = new Path(root, "metadata")
    val exists = fs.exists(metaDir) &&
      fs.listStatus(metaDir).exists(
        _.getPath.getName.matches("v\\d+\\.metadata\\.json"))
    if (!exists)
      // create carries the props; a lost create race falls through to
      // appendExisting WITH the guard re-armed
      create(df, tablePath, partitionBy, fs, root, maxRetries,
        props, Some((appId, txnVersion)))
    else appendExisting(df, tablePath, partitionBy, fs, root,
      maxRetries, props, Some((appId, txnVersion)))
  }

  /** Schema-evolution append — [[DeltaWrite.appendEvolve]]'s twin
    * through Iceberg's own mechanism: NEW columns get FRESH field ids
    * (`last-column-id`+1...), a new schema joins the metadata's
    * `schemas` array under the next schema-id, `current-schema-id`
    * moves, and the new snapshot stamps that schema-id. Historical
    * files read the new columns as NULL (their footers carry ids, the
    * new ids are simply absent — exactly the spec's evolution
    * semantics under field-id resolution), and past snapshots keep
    * reading under THEIR schema-id. Strictly additive: dropped or
    * retyped columns refuse; a concurrent schema change mid-commit
    * refuses loudly (the fresh ids were assigned against the
    * pre-race `last-column-id`).
    */
  def appendEvolve(
      df: DataFrame,
      tablePath: String,
      partitionBy: Seq[String] = Seq.empty,
      maxRetries: Int = 10): Long = {
    val spark = df.sparkSession
    val p = new Path(tablePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(p)
    LakeCommit.gate(spark, root)
    val metaDir = new Path(root, "metadata")
    val exists = fs.exists(metaDir) &&
      fs.listStatus(metaDir).exists(
        _.getPath.getName.matches("v\\d+\\.metadata\\.json"))
    if (!exists)
      return append(df, tablePath, partitionBy, maxRetries)
    val (snap, specCols) = validateV2(spark, tablePath)
    if (partitionBy != specCols)
      fail(tablePath, s"partitionBy ${partitionBy.mkString(",")} != " +
        s"table's identity partition columns ${specCols.mkString(",")}")
    val incoming = df.schema.map(f => f.name -> f.dataType).toMap
    snap.schema.foreach { f =>
      incoming.get(f.name) match {
        case None =>
          fail(tablePath, s"appendEvolve drops column '${f.name}' — " +
            "evolution is strictly additive")
        case Some(dt) if dt != f.dataType =>
          fail(tablePath, s"appendEvolve retypes '${f.name}' " +
            s"(${f.dataType.simpleString} -> ${dt.simpleString}) — " +
            "evolution is strictly additive")
        case _ => ()
      }
    }
    val existingNames = snap.schema.fieldNames.toSet
    val newCols = df.schema.filterNot(f => existingNames(f.name))
    if (newCols.isEmpty)
      return append(df, tablePath, partitionBy, maxRetries)
    val (meta0, _, _) = IcebergRead.loadMetadata(spark, tablePath)
    val lastColId = Option(meta0.get("last-column-id"))
      .filter(_.isNumber).map(_.asInt())
      .getOrElse(snap.schema.size)
    val oldIds = snap.schema.fields.map(f =>
      IcebergFixture.fieldIdOf(f).map(_.toInt).getOrElse(
        fail(tablePath, s"field '${f.name}' has no field id")))
    val newIds = newCols.indices.map(lastColId + 1 + _)
    val evolved = IcebergFixture.withFieldIds(
      org.apache.spark.sql.types.StructType(
        snap.schema.fields ++ newCols),
      (oldIds ++ newIds).toSeq)
    val files = writeDataFiles(
      df.select(evolved.map(f => col(f.name)): _*), fs, root,
      (oldIds ++ newIds).toSeq, partitionBy)
    val mName = s"m-${java.util.UUID.randomUUID()}.avro"
    val mLen = IcebergFixture.writeManifest(spark, tablePath, mName,
      files.map { case (rel, rc, sz, pvs) =>
        IcebergFixture.Entry(1, rel, rc, sizeBytes = sz,
          partition = pvs) },
      partitionFields = partitionBy.map(c =>
        (c, evolved(c).dataType)))
    commitNewSnapshot(spark, tablePath, fs, root,
      Seq((mName, mLen, 0)), maxRetries,
      evolve = Some((evolved, lastColId))).get
  }

  /** The latest committed `graft-txn-version` for `appId` across the
    * RETAINED snapshots, -1 when none (or no table) exists.
    */
  def lastTxnVersion(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      appId: String): Long = {
    val p = new Path(tablePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val metaDir = new Path(fs.makeQualified(p), "metadata")
    if (!fs.exists(metaDir) || !fs.listStatus(metaDir).exists(
      _.getPath.getName.matches("v\\d+\\.metadata\\.json"))) return -1L
    val (meta, _, _) = IcebergRead.loadMetadata(spark, tablePath)
    lastTxnFromMeta(meta, appId)
  }

  private def lastTxnFromMeta(
      meta: com.fasterxml.jackson.databind.JsonNode,
      appId: String): Long = {
    val snaps = Option(meta.get("snapshots")).filter(_.isArray)
      .map(a => (0 until a.size()).map(a.get(_))).getOrElse(Seq.empty)
    snaps.flatMap { s =>
      Option(s.get("summary")).flatMap { sum =>
        if (Option(sum.get("graft-app-id")).exists(_.asText() == appId))
          Option(sum.get("graft-txn-version"))
            .flatMap(v => v.asText().toLongOption)
        else None
      }
    }.maxOption.getOrElse(-1L)
  }

  private def create(
      df: DataFrame,
      tablePath: String,
      partitionBy: Seq[String],
      fs: org.apache.hadoop.fs.FileSystem,
      root: Path,
      maxRetries: Int,
      summaryProps: Map[String, String] = Map.empty,
      txnGuard: Option[(String, Long)] = None): Option[Long] = {
    val spark = df.sparkSession
    val ids = df.schema.fields.zipWithIndex.map { case (f, i) =>
      IcebergFixture.fieldIdOf(f).map(_.toInt).getOrElse(i + 1)
    }.toSeq
    val schema = IcebergFixture.withFieldIds(df.schema, ids)
    val files = writeDataFiles(df, fs, root, ids, partitionBy)
    val snapshotId = 1L
    val mName = s"m-${java.util.UUID.randomUUID()}.avro"
    val mLen = IcebergFixture.writeManifest(spark, tablePath, mName,
      files.map { case (rel, rc, sz, pvs) =>
        IcebergFixture.Entry(1, rel, rc, sizeBytes = sz,
          partition = pvs) },
      partitionFields = partitionBy.map(c =>
        (c, df.schema(c).dataType)))
    val mlName = s"snap-$snapshotId-${java.util.UUID.randomUUID()}.avro"
    IcebergFixture.writeManifestList(spark, tablePath, mlName,
      Seq((mName, mLen, 0, 1L)))
    val meta = freshMetadata(tablePath, schema, snapshotId, mlName,
      partitionBy, summaryProps)
    if (tryCommit(fs, root, 1L, meta)) {
      writeHint(spark, fs, root, 1L)
      Some(snapshotId)
    } else {
      // a racer created the table first — this becomes an append and
      // must satisfy the append contract against THEIR schema (the
      // txn guard re-arms inside: the racer may BE this txn's replay)
      appendExisting(df, tablePath, partitionBy, fs, root, maxRetries,
        summaryProps, txnGuard)
    }
  }

  private def appendExisting(
      df: DataFrame,
      tablePath: String,
      partitionBy: Seq[String],
      fs: org.apache.hadoop.fs.FileSystem,
      root: Path,
      maxRetries: Int,
      summaryProps: Map[String, String],
      txnGuard: Option[(String, Long)]): Option[Long] = {
    val spark = df.sparkSession
    val (snap, specCols) = validateV2(spark, tablePath)
    if (partitionBy != specCols)
      fail(tablePath, s"partitionBy ${partitionBy.mkString(",")} != " +
        s"table's identity partition columns ${specCols.mkString(",")}")
    val want = snap.schema.map(f => f.name -> f.dataType)
    val got = df.schema.map(f => f.name -> f.dataType)
    if (want != got)
      fail(tablePath, "schema mismatch — table has " +
        s"${want.map { case (n, t) => s"$n:${t.simpleString}" }
          .mkString(",")} vs incoming " +
        s"${got.map { case (n, t) => s"$n:${t.simpleString}" }
          .mkString(",")}; evolution is not a silent write side " +
        "effect")
    val ids = snap.schema.fields.map(f =>
      IcebergFixture.fieldIdOf(f).map(_.toInt).getOrElse(
        fail(tablePath, s"table schema field '${f.name}' has no " +
          "field id — cannot write conformant data files"))).toSeq
    // data + manifest write ONCE; only the commit tail retries
    val files = writeDataFiles(
      df.select(snap.schema.map(f => col(f.name)): _*), fs, root, ids,
      partitionBy)
    val mName = s"m-${java.util.UUID.randomUUID()}.avro"
    val mLen = IcebergFixture.writeManifest(spark, tablePath, mName,
      files.map { case (rel, rc, sz, pvs) =>
        IcebergFixture.Entry(1, rel, rc, sizeBytes = sz,
          partition = pvs) },
      partitionFields = partitionBy.map(c =>
        (c, snap.schema(c).dataType)))
    commitNewSnapshot(spark, tablePath, fs, root,
      Seq((mName, mLen, 0)), maxRetries, summaryProps, txnGuard)
  }

  /** The shared v2 precondition: current metadata is format-version
    * 2; the DEFAULT partition spec must be empty or identity-only
    * (non-identity transforms refuse). Returns the current snapshot
    * plus the spec's identity partition column names in spec order.
    */
  private def validateV2(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String)
      : (IcebergRead.IcebergSnapshot, Seq[String]) = {
    val (meta, _, _) = IcebergRead.loadMetadata(spark, tablePath)
    val fv = meta.get("format-version").asInt()
    if (fv != 2)
      fail(tablePath, s"write to a format-version $fv table is " +
        "unsupported (v2 only — v1 manifests lack sequence numbers)")
    val specId = Option(meta.get("default-spec-id")).filter(_.isNumber)
      .map(_.asInt()).getOrElse(0)
    val specs = Option(meta.get("partition-specs")).filter(_.isArray)
      .map(a => (0 until a.size()).map(a.get(_))).getOrElse(Seq.empty)
    val spec = specs.find(s => Option(s.get("spec-id"))
      .exists(_.asInt() == specId))
    val fields = spec.flatMap(s => Option(s.get("fields")))
      .filter(_.isArray)
      .map(f => (0 until f.size()).map(f.get(_)))
      .getOrElse(Seq.empty)
    val cols = fields.map { f =>
      val transform = Option(f.get("transform")).map(_.asText())
        .getOrElse("identity")
      if (transform != "identity")
        fail(tablePath, s"partition transform '$transform' is " +
          "unsupported (identity only)")
      Option(f.get("name")).map(_.asText()).getOrElse(
        fail(tablePath, "partition field without a name"))
    }
    (IcebergRead.snapshot(spark, tablePath), cols)
  }

  /** The commit tail shared by append, delete and upsert: carry the
    * CURRENT snapshot's manifests verbatim, add the new manifests
    * (`(name, length, content)` — data and/or delete) at the next
    * sequence number, write the manifest list + metadata, and
    * CREATE-EXCLUSIVE the next version file — re-reading the latest
    * state on every race retry (the already-written data/manifest
    * files are reused; losers never rewrite data).
    */
  private def commitNewSnapshot(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      fs: org.apache.hadoop.fs.FileSystem,
      root: Path,
      newManifests: Seq[(String, Long, Int)],
      maxRetries: Int,
      summaryProps: Map[String, String] = Map.empty,
      txnGuard: Option[(String, Long)] = None,
      evolve: Option[(org.apache.spark.sql.types.StructType, Int)] =
        None): Option[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    var attempts = 0
    while (true) {
      val (meta, _, _) = IcebergRead.loadMetadata(spark, tablePath)
      // txn idempotence re-check inside the race loop: the racer that
      // took our version may have BEEN this txn's concurrent replay
      txnGuard.foreach { case (appId, v) =>
        if (lastTxnFromMeta(meta, appId) >= v) return None
      }
      // evolution race check: the fresh field ids were assigned
      // against the pre-race last-column-id; a concurrent schema
      // change would collide them — refuse loudly
      evolve.foreach { case (_, expectedLastColId) =>
        val cur = Option(meta.get("last-column-id"))
          .filter(_.isNumber).map(_.asInt()).getOrElse(-1)
        if (cur != expectedLastColId)
          fail(tablePath, "concurrent schema change during " +
            "appendEvolve — rerun against the new schema (staged " +
            "files are inert orphans)")
      }
      val lastSeq = Option(meta.get("last-sequence-number"))
        .filter(_.isNumber).map(_.asLong()).getOrElse(0L)
      val newSeq = lastSeq + 1
      val snaps = Option(meta.get("snapshots")).filter(_.isArray)
        .map(a => (0 until a.size()).map(a.get(_))).getOrElse(Seq.empty)
      val snapshotId = snaps.map(_.get("snapshot-id").asLong())
        .maxOption.getOrElse(0L) + 1
      val currentId = Option(meta.get("current-snapshot-id"))
        .filter(_.isNumber).map(_.asLong()).getOrElse(
          fail(tablePath, "no current-snapshot-id"))
      val current = snaps.find(
        _.get("snapshot-id").asLong() == currentId).getOrElse(
        fail(tablePath, "current snapshot vanished from metadata"))
      val prevMl = Option(current.get("manifest-list")).filter(!_.isNull)
        .map(_.asText())
        .getOrElse(fail(tablePath,
          "current snapshot has no manifest-list (v1 inline shape) — " +
            "write unsupported"))
      val prevManifests = IcebergRead.readAvro(fs, conf,
        resolve(root, prevMl), tablePath).map { rec =>
        (rec.get("manifest_path").toString,
          rec.get("manifest_length").asInstanceOf[java.lang.Number]
            .longValue(),
          Option(rec.get("content"))
            .collect { case n: java.lang.Number => n.intValue() }
            .getOrElse(0),
          Option(rec.get("sequence_number"))
            .collect { case n: java.lang.Number => n.longValue() }
            .getOrElse(0L))
      }
      val mlName = s"snap-$snapshotId-${java.util.UUID.randomUUID()}.avro"
      IcebergFixture.writeManifestListPaths(spark, tablePath, mlName,
        prevManifests ++ newManifests.map { case (mName, mLen, content) =>
          (s"metadata/$mName", mLen, content, newSeq)
        })
      val prevTs = snaps.map(s =>
        Option(s.get("timestamp-ms")).filter(_.isNumber)
          .map(_.asLong()).getOrElse(0L)).maxOption.getOrElse(0L)
      val ts = math.max(System.currentTimeMillis(), prevTs + 1)
      val newMeta = nextMetadata(meta, snapshotId, newSeq, ts, mlName,
        summaryProps, evolve.map(_._1))
      val version = currentVersion(fs, root) + 1
      if (tryCommit(fs, root, version, newMeta)) {
        writeHint(spark, fs, root, version)
        return Some(snapshotId)
      }
      attempts += 1
      if (attempts > maxRetries)
        fail(tablePath, s"lost $maxRetries commit races — a committer " +
          "is racing this write; rerun (staged files are inert " +
          "orphans)")
    }
    sys.error("unreachable")
  }

  /** DELETE rows matching `predicate` via POSITION-DELETE files (v2
    * merge-on-read — no data rewrite): the live scan (existing
    * deletes applied) yields matched (file_path, pos) pairs with the
    * file path in its MANIFEST-VERBATIM spelling per the spec; they
    * sort by (file_path, pos), write as delete parquet under `data/`
    * (distributed), and commit as a delete manifest (content 1) in a
    * new snapshot. Returns the committed snapshot id, or the current
    * one when nothing matched (no empty commits).
    */
  def deleteWhere(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      predicate: org.apache.spark.sql.Column,
      maxRetries: Int = 10): Long = {
    val p = new Path(tablePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(p)
    LakeCommit.gate(spark, root)
    val (snap, specCols) = validateV2(spark, tablePath)
    // the delete columns carry the spec's RESERVED field ids in the
    // parquet footers — external engines resolve them by id
    val delSchema = IcebergFixture.withFieldIds(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("file_path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.LongType))),
      Seq(PosDeleteFilePathId, PosDeletePosId))
    // partitioned tables: every delete FILE holds one partition's
    // rows (the partition-scoped shape real writers emit) — each
    // matched row's OWN identity-partition values are its target
    // file's partition, so the stage write partitions by duplicated
    // `__gp_<col>` columns and recovers the tuple from dir names
    val withPos = IcebergRead.readWithPos(spark, tablePath)
      .where(predicate)
    val matched = withPos.select(
      Seq(col("__file_path").as("file_path", delSchema(0).metadata),
        col("__pos").as("pos", delSchema(1).metadata)) ++
        specCols.map(c => col(c).as(s"__gp_$c")): _*)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val stage = new Path(root, s"_staging-icedel-$nonce")
    FieldIds.withWriteEnabled(spark) {
      if (specCols.isEmpty)
        matched.sort("file_path", "pos")
          .write.mode("overwrite").parquet(stage.toString)
      else {
        val gp = specCols.map(c => s"__gp_$c")
        matched.repartition(gp.map(col): _*)
          .sortWithinPartitions(
            (gp ++ Seq("file_path", "pos")).map(col): _*)
          .write.mode("overwrite").partitionBy(gp: _*)
          .parquet(stage.toString)
      }
    }
    val files = moveStaged(fs, root, stage, specCols, s"delete-$nonce-")
    val counts =
      if (files.isEmpty) Map.empty[String, Long]
      else spark.read.parquet(files.map(_._2.toString): _*)
        .groupBy(col("_metadata.file_path").as("__f"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("__n"))
        .collect()
        .map(r => DeltaRead.normalizeStr(r.getString(0)) -> r.getLong(1))
        .toMap
    val entries = files.flatMap { case (rel, dest, pvs) =>
      val rc = counts.getOrElse(DeltaRead.normalizeStr(
        fs.makeQualified(dest).toUri.toString), 0L)
      if (rc == 0L) { fs.delete(dest, false); None }
      else Some(IcebergFixture.Entry(1, rel, rc, content = 1,
        sizeBytes = fs.getFileStatus(dest).getLen, partition = pvs))
    }
    if (entries.isEmpty) return snap.snapshotId // nothing matched
    val mName = s"m-${java.util.UUID.randomUUID()}.avro"
    val mLen = IcebergFixture.writeManifest(spark, tablePath, mName,
      entries,
      partitionFields = specCols.map(c => (c, snap.schema(c).dataType)))
    commitNewSnapshot(spark, tablePath, fs, root,
      Seq((mName, mLen, 1)), maxRetries).get
  }

  /** UPSERT via EQUALITY-delete files — the CDC-ingest produce shape
    * (Flink-style): ONE snapshot carrying (a) an equality-delete
    * manifest whose rows name every incoming key on the key columns,
    * and (b) a data manifest with the upserted rows — both at the
    * same NEW sequence number, so the spec's strict
    * `data_seq < delete_seq` rule makes the delete mask only OLDER
    * rows while the batch's own rows survive. Rows whose `deleteCol`
    * (when given) is true contribute their key to the delete file but
    * no data row — a CDC delete event. Re-inserting a previously
    * deleted key in a later batch works by the same rule.
    *
    * Guards: table must exist (append first — an upsert that silently
    * creates hides path typos), be v2 and UNPARTITIONED (the reader
    * refuses partition-scoped equality deletes), schema must match,
    * keys must be non-null data columns, and the batch must be
    * key-unique (SQL MERGE semantics). Returns the committed snapshot
    * id, or the current one when the batch is empty.
    */
  def upsert(
      updates: DataFrame,
      tablePath: String,
      keyCols: Seq[String],
      deleteCol: Option[String] = None,
      maxRetries: Int = 10): Long = {
    val spark = updates.sparkSession
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val p = new Path(tablePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(p)
    LakeCommit.gate(spark, root)
    if (!fs.exists(new Path(root, "metadata")))
      fail(tablePath, "upsert into a non-existent table — create it " +
        "with append first")
    val (snap, specCols) = validateV2(spark, tablePath)
    if (specCols.nonEmpty)
      fail(tablePath, "upsert on a PARTITIONED table is unsupported " +
        "(partition-scoped equality deletes are refused by the reader)")
    val dataDf = deleteCol.fold(updates)(updates.drop(_))
    val want = snap.schema.map(f => f.name -> f.dataType)
    val got = dataDf.schema.map(f => f.name -> f.dataType)
    if (want != got)
      fail(tablePath, "schema mismatch — upsert rows must match the " +
        s"table schema exactly (have ${got.map(_._1).mkString(",")}, " +
        s"want ${want.map(_._1).mkString(",")})")
    keyCols.foreach { k =>
      if (!dataDf.columns.contains(k))
        fail(tablePath, s"upsert key '$k' not in updates")
    }
    deleteCol.foreach { d =>
      if (!updates.columns.contains(d))
        fail(tablePath, s"deleteCol '$d' not in updates")
    }
    val keyIds = keyCols.map { k =>
      val sf = snap.schema(k)
      IcebergFixture.fieldIdOf(sf).map(_.toInt).getOrElse(
        fail(tablePath, s"key column '$k' has no field id"))
    }
    // the batch is referenced twice (delete keys + data rows) and
    // must be key-unique — stage once, then ONE duplicate probe
    val upd = graft.ScratchSpace.materialize(updates, "ice_upsert_")
    if (upd.isEmpty) return snap.snapshotId
    val dup = upd.groupBy(keyCols.map(col): _*).count()
      .where(col("count") > 1).limit(1).count()
    if (dup > 0)
      fail(tablePath, "updates contain duplicate keys — an ambiguous " +
        "multi-update of one key; dedupe upstream (keep-latest) first")
    val nullKeys = upd.where(keyCols.map(col(_).isNull).reduce(_ || _))
      .limit(1).count()
    if (nullKeys > 0)
      fail(tablePath, "null upsert key — equality deletes match " +
        "null-safely and a null key would mask every null-keyed row")
    // (a) equality-delete file: ALL batch keys, key columns tagged
    // with THEIR table field ids (external engines resolve by id)
    val delSchema = IcebergFixture.withFieldIds(
      org.apache.spark.sql.types.StructType(
        keyCols.map(k => snap.schema(k))), keyIds)
    val delDf = upd.select(keyCols.zipWithIndex.map { case (k, i) =>
      col(k).as(k, delSchema(i).metadata)
    }: _*)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val stage = new Path(root, s"_staging-iceeq-$nonce")
    FieldIds.withWriteEnabled(spark) {
      delDf.write.mode("overwrite").parquet(stage.toString)
    }
    val delFiles = moveStaged(fs, root, stage, Nil, s"eqdelete-$nonce-")
    val delCounts =
      if (delFiles.isEmpty) Map.empty[String, Long]
      else spark.read.parquet(delFiles.map(_._2.toString): _*)
        .groupBy(col("_metadata.file_path").as("__f"))
        .agg(count(lit(1)).as("__n"))
        .collect()
        .map(r => DeltaRead.normalizeStr(r.getString(0)) -> r.getLong(1))
        .toMap
    val delEntries = delFiles.flatMap { case (rel, dest, _) =>
      val rc = delCounts.getOrElse(DeltaRead.normalizeStr(
        fs.makeQualified(dest).toUri.toString), 0L)
      if (rc == 0L) { fs.delete(dest, false); None }
      else Some(IcebergFixture.Entry(1, rel, rc, content = 2,
        equalityIds = keyIds,
        sizeBytes = fs.getFileStatus(dest).getLen))
    }
    if (delEntries.isEmpty) return snap.snapshotId // empty batch
    // (b) the surviving data rows of the batch
    val inserts = deleteCol.fold(upd)(d =>
      upd.where(!coalesce(col(d).cast("boolean"), lit(false))).drop(d))
    val ids = snap.schema.fields.map(f =>
      IcebergFixture.fieldIdOf(f).map(_.toInt).getOrElse(
        fail(tablePath, s"field '${f.name}' has no field id"))).toSeq
    val dataFiles = writeDataFiles(
      inserts.select(snap.schema.map(f => col(f.name)): _*),
      fs, root, ids)
    val manifests = Seq.newBuilder[(String, Long, Int)]
    val dmName = s"m-${java.util.UUID.randomUUID()}.avro"
    val dmLen = IcebergFixture.writeManifest(spark, tablePath, dmName,
      delEntries)
    manifests += ((dmName, dmLen, 1))
    if (dataFiles.nonEmpty) {
      val aName = s"m-${java.util.UUID.randomUUID()}.avro"
      val aLen = IcebergFixture.writeManifest(spark, tablePath, aName,
        dataFiles.map { case (rel, rc, sz, _) =>
          IcebergFixture.Entry(1, rel, rc, sizeBytes = sz) })
      manifests += ((aName, aLen, 0))
    }
    commitNewSnapshot(spark, tablePath, fs, root, manifests.result(),
      maxRetries).get
  }

  /** What [[rewriteDataFiles]] did. */
  final case class RewriteReport(
      rewrittenDataFiles: Long,
      droppedDeleteFiles: Long,
      newFiles: Long,
      version: Option[Long])

  /** Delete-compaction — the OPTIMIZE twin of
    * [[DeltaWrite.optimize]]: rewrite the data files that position
    * deletes currently mask WITH those deletes applied, and drop
    * EVERY delete file in the same snapshot, so scans stop paying the
    * merge-on-read anti-join forever (at 100 TB of DML churn the
    * accumulated delete files are a real scale cliff). Untouched data
    * files carry forward as EXISTING entries with their original
    * sequence numbers in ONE consolidated manifest; the new snapshot
    * has zero delete manifests; older snapshots keep their manifest
    * lists — time travel intact. Content is bit-identical by
    * construction (the rewrite scans the same resolved rows a normal
    * read yields).
    *
    * Scope: v2, position deletes only (equality deletes refuse —
    * compacting them needs the upsert-aware rewrite and is a
    * different maintenance verb); identity-partitioned tables rewrite
    * per partition (survivors re-stage through the partitioned write
    * path, untouched entries keep their manifest partition tuples).
    * A concurrent commit mid-rewrite refuses loudly (the consolidated
    * manifest was built from the snapshot this rewrite read).
    */
  def rewriteDataFiles(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      maxRetries: Int = 10): RewriteReport = {
    val p = new Path(tablePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(p)
    LakeCommit.gate(spark, root)
    val (snap, specCols) = validateV2(spark, tablePath)
    if (snap.eqDeleteFiles.nonEmpty)
      fail(tablePath, "snapshot carries EQUALITY delete files — " +
        "rewrite supports position deletes only")
    if (snap.deleteFiles.isEmpty)
      return RewriteReport(0L, 0L, 0L, None)
    // the affected files: those any LIVE delete row actually targets
    // (stale rows referencing vanished files drop in the variant
    // translate — same rule as the scan)
    def canonical(raw: String): String =
      fs.makeQualified(resolve(root, raw)).toUri.toString
    val variantToCanon = snap.liveFiles.flatMap { f =>
      val canon = canonical(f.path)
      val q = fs.makeQualified(resolve(root, f.path))
      Seq(f.path, q.toString, q.toUri.toString).distinct
        .map(v => v -> canon)
    }.toMap
    val delPaths = snap.deleteFiles
      .map(f => resolve(root, f.path).toString)
    val delSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file_path",
        org.apache.spark.sql.types.StringType)))
    val targeted = spark.read.schema(delSchema).parquet(delPaths: _*)
      .distinct().collect().map(_.getString(0))
      .flatMap(variantToCanon.get).toSet // file-grain (≤ MaxFiles)
    val affected = snap.liveFiles.filter(f =>
      targeted.contains(canonical(f.path)))
    val untouched = snap.liveFiles.filterNot(f =>
      targeted.contains(canonical(f.path)))
    // survivors of the affected files, deletes applied — the same
    // resolved scan a normal read produces, restricted by a BROADCAST
    // semi-join on the file identity (never a driver In-list)
    val withPos = IcebergRead.readWithPos(spark, tablePath)
    val affectedDf = {
      import spark.implicits._
      affected.map(f => f.path).toDF("__aff_path")
    }
    val survivors = withPos
      .join(broadcast(affectedDf),
        col("__file_path") === col("__aff_path"), "left_semi")
      .select(snap.schema.map(f => col(f.name)): _*)
    val ids = snap.schema.fields.map(f =>
      IcebergFixture.fieldIdOf(f).map(_.toInt).getOrElse(
        fail(tablePath, s"field '${f.name}' has no field id"))).toSeq
    val newFiles = writeDataFiles(survivors, fs, root, ids, specCols)
    // ONE consolidated data manifest REPLACES all previous manifests:
    // untouched files as EXISTING (status 0, original seqs, their
    // manifest partition tuples carried), new files as ADDED (inherit
    // the new seq); no delete manifests
    val entries =
      untouched.map { f =>
        IcebergFixture.Entry(0, f.path, f.recordCount,
          seq = Some(f.seq.getOrElse(fail(tablePath,
            s"file ${f.path} has no resolvable sequence number"))),
          partition = f.partition.map { case (k, v) => k -> Some(v) })
      } ++ newFiles.map { case (rel, rc, sz, pvs) =>
        IcebergFixture.Entry(1, rel, rc, sizeBytes = sz,
          partition = pvs)
      }
    val mName = s"m-${java.util.UUID.randomUUID()}.avro"
    val mLen = IcebergFixture.writeManifest(spark, tablePath, mName,
      entries,
      partitionFields = specCols.map(c => (c, snap.schema(c).dataType)))
    // commit tail: REPLACE manifests (not carry+append); any
    // concurrent commit invalidates the consolidation — refuse
    var attempts = 0
    while (true) {
      val (meta, _, _) = IcebergRead.loadMetadata(spark, tablePath)
      val currentId = Option(meta.get("current-snapshot-id"))
        .filter(_.isNumber).map(_.asLong()).getOrElse(-1L)
      if (currentId != snap.snapshotId)
        fail(tablePath, "concurrent commit moved the table mid-" +
          "rewrite — rerun (staged files are inert orphans)")
      val lastSeq = Option(meta.get("last-sequence-number"))
        .filter(_.isNumber).map(_.asLong()).getOrElse(0L)
      val newSeq = lastSeq + 1
      val snaps = Option(meta.get("snapshots")).filter(_.isArray)
        .map(a => (0 until a.size()).map(a.get(_))).getOrElse(Seq.empty)
      val snapshotId = snaps.map(_.get("snapshot-id").asLong())
        .maxOption.getOrElse(0L) + 1
      val mlName = s"snap-$snapshotId-${java.util.UUID.randomUUID()}.avro"
      IcebergFixture.writeManifestListPaths(spark, tablePath, mlName,
        Seq((s"metadata/$mName", mLen, 0, newSeq)))
      val prevTs = snaps.map(s =>
        Option(s.get("timestamp-ms")).filter(_.isNumber)
          .map(_.asLong()).getOrElse(0L)).maxOption.getOrElse(0L)
      val ts = math.max(System.currentTimeMillis(), prevTs + 1)
      val newMeta = nextMetadata(meta, snapshotId, newSeq, ts, mlName)
      val version = currentVersion(fs, root) + 1
      if (tryCommit(fs, root, version, newMeta)) {
        writeHint(spark, fs, root, version)
        return RewriteReport(affected.size.toLong,
          snap.deleteFiles.size.toLong, newFiles.size.toLong,
          Some(snapshotId))
      }
      attempts += 1
      if (attempts > maxRetries)
        fail(tablePath, s"rewrite lost $maxRetries commit races")
    }
    sys.error("unreachable")
  }

  /** What [[expireSnapshots]] removed. */
  final case class ExpireReport(
      expiredSnapshots: Seq[Long],
      deletedFiles: Long,
      version: Long)

  /** EXPIRE old snapshots — the Iceberg maintenance verb (the vacuum
    * twin): keep the newest `keepLast` snapshots (by timestamp, then
    * id), commit a metadata version WITHOUT the expired ones
    * (create-exclusive, same rule as [[append]]), then physically
    * delete everything reachable ONLY from expired snapshots —
    * their manifest lists, manifests no kept snapshot references,
    * and data/delete files no kept snapshot's non-DELETED entries
    * reference. Deletion happens strictly AFTER the commit point, so
    * a crash leaves inert orphans, never a kept snapshot missing
    * files. Time travel to expired snapshots stops working — exactly
    * the engines' contract. The current snapshot must survive; v2
    * manifest-list tables only.
    */
  def expireSnapshots(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      keepLast: Int,
      maxRetries: Int = 10): ExpireReport = {
    require(keepLast >= 1, s"keepLast $keepLast < 1")
    val conf = spark.sessionState.newHadoopConf()
    var attempts = 0
    while (true) {
      val (meta, root, fs) = IcebergRead.loadMetadata(spark, tablePath)
      LakeCommit.gate(spark, root)
      if (meta.get("format-version").asInt() != 2)
        fail(tablePath, "expire on a format-version 1 table is " +
          "unsupported")
      val snaps = Option(meta.get("snapshots")).filter(_.isArray)
        .map(a => (0 until a.size()).map(a.get(_))).getOrElse(Seq.empty)
      val ordered = snaps.sortBy(s => (
        Option(s.get("timestamp-ms")).filter(_.isNumber)
          .map(_.asLong()).getOrElse(0L),
        s.get("snapshot-id").asLong()))
      val keep = ordered.takeRight(keepLast)
      val expired = ordered.dropRight(keepLast)
      if (expired.isEmpty)
        return ExpireReport(Seq.empty, 0L,
          currentVersion(fs, root))
      val currentId = Option(meta.get("current-snapshot-id"))
        .filter(_.isNumber).map(_.asLong()).getOrElse(-1L)
      if (!keep.exists(_.get("snapshot-id").asLong() == currentId))
        fail(tablePath, s"expire would drop the CURRENT snapshot " +
          s"$currentId — keepLast $keepLast is too aggressive")
      // reachability walks: qualified-path keyed
      def qual(raw: String): String =
        fs.makeQualified(resolve(root, raw)).toUri.toString
      def walk(snapNodes: Seq[com.fasterxml.jackson.databind.JsonNode],
          liveOnly: Boolean): Set[String] = {
        val out = Set.newBuilder[String]
        snapNodes.foreach { s =>
          val ml = Option(s.get("manifest-list")).filter(!_.isNull)
            .map(_.asText())
            .getOrElse(fail(tablePath,
              "snapshot without manifest-list (v1 inline shape) — " +
                "expire unsupported"))
          out += qual(ml)
          IcebergRead.readAvro(fs, conf, resolve(root, ml), tablePath)
            .foreach { mrec =>
              val mp = mrec.get("manifest_path").toString
              out += qual(mp)
              IcebergRead.readAvro(fs, conf, resolve(root, mp),
                tablePath).foreach { e =>
                val status = Option(e.get("status"))
                  .collect { case n: java.lang.Number => n.intValue() }
                  .getOrElse(0)
                if (!liveOnly || status != 2) {
                  val df = e.get("data_file")
                    .asInstanceOf[org.apache.avro.generic.GenericRecord]
                  out += qual(df.get("file_path").toString)
                }
              }
            }
        }
        out.result()
      }
      val keepSet = walk(keep, liveOnly = true)
      val expiredReachable = walk(expired, liveOnly = false)
      val deleteSet = expiredReachable -- keepSet
      // commit the shrunken snapshot list FIRST (deletes are then
      // garbage collection of unreferenced objects)
      val newRoot = meta.deepCopy[ObjectNode]()
      val arr = newRoot.putArray("snapshots")
      keep.foreach(s => arr.add(s.deepCopy
        [com.fasterxml.jackson.databind.JsonNode]()): Unit)
      // externally-written tables may carry a snapshot-log: trim the
      // entries that now point at expired snapshots
      val keepIds = keep.map(_.get("snapshot-id").asLong()).toSet
      Option(newRoot.get("snapshot-log")).filter(_.isArray).foreach {
        logArr =>
          val trimmed = newRoot.putArray("__snapshot-log-trim")
          (0 until logArr.size()).map(logArr.get(_)).foreach { e =>
            if (Option(e.get("snapshot-id")).filter(_.isNumber)
              .exists(id => keepIds(id.asLong())))
              trimmed.add(e.deepCopy
                [com.fasterxml.jackson.databind.JsonNode]()): Unit
          }
          newRoot.set("snapshot-log", trimmed): Unit
          newRoot.remove("__snapshot-log-trim"): Unit
      }
      newRoot.put("last-updated-ms", System.currentTimeMillis())
      val version = currentVersion(fs, root) + 1
      if (tryCommit(fs, root, version,
        mapper.writerWithDefaultPrettyPrinter()
          .writeValueAsString(newRoot))) {
        writeHint(spark, fs, root, version)
        var deleted = 0L
        deleteSet.foreach { uri =>
          val fp = new Path(new java.net.URI(uri))
          if (fs.exists(fp)) { fs.delete(fp, false); deleted += 1 }
        }
        return ExpireReport(
          expired.map(_.get("snapshot-id").asLong()), deleted, version)
      }
      attempts += 1
      if (attempts > maxRetries)
        fail(tablePath, s"expire lost $maxRetries commit races")
    }
    sys.error("unreachable")
  }

  private def currentVersion(
      fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Long = {
    val re = "v(\\d+)\\.metadata\\.json".r
    fs.listStatus(new Path(root, "metadata")).toSeq
      .map(_.getPath.getName)
      .flatMap { case re(n) => Some(n.toLong); case _ => None }
      .maxOption.getOrElse(fail(root.toString, "no metadata versions"))
  }

  /** Stage-write `df` as parquet with the table's footer field ids,
    * rename parts to `data/[<col>=<val>/...]<uuid>-<i>.parquet`, and
    * return (relPath, recordCount, size, partitionValues) per
    * non-empty file — record counts from ONE distributed per-file
    * count, the manifests' statistics source.
    *
    * Partitioned tables: unlike Hive/Delta, Iceberg data files
    * CONTAIN their identity partition columns, so the stage write
    * partitions by DUPLICATED `__gp_<col>` columns (Spark drops only
    * the duplicates from the files) and recovers each file's
    * partition tuple from its staged directory names — every final
    * file holds exactly one partition tuple, the reader's contract.
    */
  private def writeDataFiles(
      df: DataFrame,
      fs: org.apache.hadoop.fs.FileSystem,
      root: Path,
      ids: Seq[Int],
      partitionBy: Seq[String] = Seq.empty)
      : Seq[(String, Long, Long, Map[String, Option[String]])] = {
    val spark = df.sparkSession
    val tagged = IcebergFixture.withFieldIds(df.schema, ids)
    val withMeta = df.select(tagged.fields.map(f =>
      col(f.name).as(f.name, f.metadata)).toSeq: _*)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val stage = new Path(root, s"_staging-ice-$nonce")
    FieldIds.withWriteEnabled(spark) {
      if (partitionBy.isEmpty)
        withMeta.write.mode("overwrite").parquet(stage.toString)
      else {
        val dup = partitionBy.foldLeft(withMeta)((acc, c) =>
          acc.withColumn(s"__gp_$c", col(c)))
        dup.write.mode("overwrite")
          .partitionBy(partitionBy.map(c => s"__gp_$c"): _*)
          .parquet(stage.toString)
      }
    }
    val files = moveStaged(fs, root, stage, partitionBy, s"$nonce-")
    if (files.isEmpty) return Seq.empty
    val counts = spark.read.schema(tagged)
      .parquet(files.map(_._2.toString): _*)
      .groupBy(col("_metadata.file_path").as("__f"))
      .agg(count(lit(1)).as("__n"))
      .collect()
      .map(r => DeltaRead.normalizeStr(r.getString(0)) -> r.getLong(1))
      .toMap
    files.flatMap { case (rel, dest, pvs) =>
      val key = DeltaRead.normalizeStr(
        fs.makeQualified(dest).toUri.toString)
      val rc = counts.getOrElse(key, 0L)
      // zero-row parts (empty shuffle partitions) carry nothing and
      // are dropped from the manifest rather than committed
      if (rc == 0L) { fs.delete(dest, false); None }
      else Some((rel, rc, fs.getFileStatus(dest).getLen, pvs))
    }
  }

  /** Move a stage tree's part files to
    * `data/[<col>=<val>/...]<prefix><i>.parquet` under `root` and drop
    * the stage; returns (relPath, dest, partitionValues) per file.
    * `__gp_<col>=<val>` dir segments carry each file's partition tuple;
    * the final layout names `cols`. Files are numbered in relative-path
    * order, compared segment by segment (a sorted depth-first walk).
    */
  private def moveStaged(
      fs: org.apache.hadoop.fs.FileSystem,
      root: Path,
      stage: Path,
      cols: Seq[String],
      prefix: String): Seq[(String, Path, Map[String, Option[String]])] = {
    import scala.math.Ordering.Implicits.seqOrdering
    val staged = DatasetCatalog.walk(fs, stage).filter { case (st, _) =>
      val name = st.getPath.getName
      name.startsWith("part-") && name.endsWith(".parquet")
    }.toSeq.sortBy(_._2.split('/').toSeq)
    val moved = staged.zipWithIndex.map { case ((st, stagedRel), i) =>
      val pvs = stagedRel.split('/').init.toSeq
        .filter(seg => seg.startsWith("__gp_") && seg.contains('='))
        .map { seg =>
          val c = seg.drop(5).takeWhile(_ != '=')
          val raw = DeltaWrite.unescapePathName(seg.drop(5 + c.length + 1))
          c -> (if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw))
        }.toMap
      val dirPart = cols.map { c =>
        val v = pvs.getOrElse(c, None)
        s"$c=${v.getOrElse("__HIVE_DEFAULT_PARTITION__")}"
      }
      val rel = (Seq("data") ++ dirPart :+ s"$prefix$i.parquet").mkString("/")
      val dest = new Path(root, rel)
      fs.mkdirs(dest.getParent)
      if (!fs.rename(st.getPath, dest))
        fail(root.toString, s"rename to $dest failed")
      (rel, dest, pvs)
    }
    fs.delete(stage, true): Unit
    moved
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def freshMetadata(
      tablePath: String,
      schema: org.apache.spark.sql.types.StructType,
      snapshotId: Long,
      mlName: String,
      partitionBy: Seq[String] = Seq.empty,
      summaryProps: Map[String, String] = Map.empty): String = {
    val root = mapper.createObjectNode()
    root.put("format-version", 2)
    root.put("table-uuid", java.util.UUID.randomUUID().toString)
    root.put("location", tablePath)
    root.put("last-sequence-number", 1L)
    root.put("last-updated-ms", System.currentTimeMillis())
    root.put("last-column-id", schema.size)
    root.put("current-schema-id", 0)
    val schemasArr = root.putArray("schemas")
    val s = schemasArr.addObject()
    s.put("type", "struct")
    s.put("schema-id", 0)
    val fields = s.putArray("fields")
    schema.zipWithIndex.foreach { case (sf, i) =>
      val f = fields.addObject()
      f.put("id", IcebergFixture.fieldIdOf(sf).getOrElse((i + 1).toLong))
      f.put("name", sf.name)
      f.put("required", !sf.nullable)
      f.put("type", sf.dataType match {
        case org.apache.spark.sql.types.BooleanType => "boolean"
        case org.apache.spark.sql.types.IntegerType => "int"
        case org.apache.spark.sql.types.LongType => "long"
        case org.apache.spark.sql.types.FloatType => "float"
        case org.apache.spark.sql.types.DoubleType => "double"
        case org.apache.spark.sql.types.DateType => "date"
        case org.apache.spark.sql.types.StringType => "string"
        case org.apache.spark.sql.types.BinaryType => "binary"
        case d: org.apache.spark.sql.types.DecimalType =>
          s"decimal(${d.precision}, ${d.scale})"
        case other =>
          fail(tablePath, s"cannot write Spark type $other")
      })
    }
    root.put("default-spec-id", 0)
    val specs = root.putArray("partition-specs")
    val spec0 = specs.addObject()
    spec0.put("spec-id", 0)
    val specFields = spec0.putArray("fields")
    partitionBy.zipWithIndex.foreach { case (c, i) =>
      val sf = schema.fields.zipWithIndex.find(_._1.name == c)
        .getOrElse(fail(tablePath, s"partition column '$c' missing"))
      val pf = specFields.addObject()
      pf.put("field-id", 1000 + i)
      pf.put("name", c)
      pf.put("transform", "identity")
      pf.put("source-id",
        IcebergFixture.fieldIdOf(sf._1).getOrElse((sf._2 + 1).toLong))
    }
    root.put("last-partition-id", 999 + partitionBy.size)
    root.put("default-sort-order-id", 0)
    val orders = root.putArray("sort-orders")
    val order0 = orders.addObject()
    order0.put("order-id", 0)
    order0.putArray("fields")
    root.put("current-snapshot-id", snapshotId)
    val snapsArr = root.putArray("snapshots")
    val n = snapsArr.addObject()
    n.put("snapshot-id", snapshotId)
    n.put("sequence-number", 1L)
    n.put("timestamp-ms", System.currentTimeMillis())
    n.put("schema-id", 0)
    val sum = n.putObject("summary")
    sum.put("operation", "append")
    summaryProps.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sum.put(k, v): Unit
    }
    n.put("manifest-list", s"metadata/$mlName")
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** Deep-copy the previous metadata and append one snapshot — table
    * uuid, schemas, specs, sort orders and snapshot history survive
    * verbatim.
    */
  private def nextMetadata(
      prev: com.fasterxml.jackson.databind.JsonNode,
      snapshotId: Long,
      seq: Long,
      timestampMs: Long,
      mlName: String,
      summaryProps: Map[String, String] = Map.empty,
      evolveSchema: Option[org.apache.spark.sql.types.StructType] =
        None): String = {
    val root = prev.deepCopy[ObjectNode]()
    root.put("last-sequence-number", seq)
    root.put("last-updated-ms", timestampMs)
    root.put("current-snapshot-id", snapshotId)
    // schema evolution: the new schema joins `schemas` under the next
    // schema-id, current-schema-id moves, last-column-id advances
    evolveSchema.foreach { st =>
      val schemasArr = Option(root.get("schemas"))
        .collect {
          case a: com.fasterxml.jackson.databind.node.ArrayNode => a
        }.getOrElse(root.putArray("schemas"))
      val nextSchemaId = (0 until schemasArr.size())
        .map(schemasArr.get(_))
        .flatMap(s => Option(s.get("schema-id")).map(_.asInt()))
        .maxOption.getOrElse(-1) + 1
      val s = schemasArr.addObject()
      s.put("type", "struct")
      s.put("schema-id", nextSchemaId)
      val fields = s.putArray("fields")
      st.zipWithIndex.foreach { case (sf, i) =>
        val f = fields.addObject()
        f.put("id",
          IcebergFixture.fieldIdOf(sf).getOrElse((i + 1).toLong))
        f.put("name", sf.name)
        f.put("required", !sf.nullable)
        f.put("type", sf.dataType match {
          case org.apache.spark.sql.types.BooleanType => "boolean"
          case org.apache.spark.sql.types.IntegerType => "int"
          case org.apache.spark.sql.types.LongType => "long"
          case org.apache.spark.sql.types.FloatType => "float"
          case org.apache.spark.sql.types.DoubleType => "double"
          case org.apache.spark.sql.types.DateType => "date"
          case org.apache.spark.sql.types.StringType => "string"
          case org.apache.spark.sql.types.BinaryType => "binary"
          case d: org.apache.spark.sql.types.DecimalType =>
            s"decimal(${d.precision}, ${d.scale})"
          case other => fail("appendEvolve",
            s"cannot write Spark type $other")
        })
      }
      root.put("current-schema-id", nextSchemaId)
      root.put("last-column-id",
        st.fields.flatMap(IcebergFixture.fieldIdOf).map(_.toInt)
          .maxOption.getOrElse(st.size))
    }
    val snaps = Option(root.get("snapshots"))
      .collect { case a: com.fasterxml.jackson.databind.node.ArrayNode => a }
      .getOrElse(root.putArray("snapshots"))
    val n = snaps.addObject()
    n.put("snapshot-id", snapshotId)
    n.put("sequence-number", seq)
    n.put("timestamp-ms", timestampMs)
    Option(root.get("current-schema-id")).filter(_.isNumber)
      .foreach(id => n.put("schema-id", id.asInt()): Unit)
    val sum = n.putObject("summary")
    sum.put("operation", "append")
    summaryProps.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sum.put(k, v): Unit
    }
    n.put("manifest-list", s"metadata/$mlName")
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** The atomic commit: create-exclusive `metadata/v<N>.metadata.json`.
    * False when the version was claimed by a racer.
    */
  private def tryCommit(
      fs: org.apache.hadoop.fs.FileSystem,
      root: Path,
      version: Long,
      metaJson: String): Boolean = {
    val dest = new Path(new Path(root, "metadata"),
      s"v$version.metadata.json")
    val out =
      try fs.create(dest, false)
      catch { case _: java.io.IOException => return false }
    try {
      out.write(metaJson.getBytes("UTF-8"))
      true
    } finally out.close()
  }

  /** Advisory pointer update — FORWARD-ONLY, so a slow committer can
    * never roll readers back behind a racer's newer version.
    */
  private def writeHint(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      root: Path,
      version: Long): Unit = {
    val hint = new Path(new Path(root, "metadata"), "version-hint.text")
    val current: Long =
      if (!fs.exists(hint)) -1L
      else {
        val in = fs.open(hint)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          .toLongOption.getOrElse(-1L)
        finally in.close()
      }
    if (version > current)
      graft.ScratchSpace.writeBytes(spark, root.toString,
        "metadata/version-hint.text", version.toString.getBytes("UTF-8"))
  }

  private def resolve(root: Path, raw: String): Path =
    if (raw.matches("^[A-Za-z][A-Za-z0-9+.-]*://.*"))
      new Path(new java.net.URI(raw))
    else new Path(root, raw)
}
