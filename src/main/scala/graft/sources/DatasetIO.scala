package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Dataset-level read/write/move/remove — the four reference blueprints
  * re-expressed as DataFrame operations:
  *
  *  - download → [[read]] / [[readMatched]]: path(s) → DataFrame
  *    (reference download_s3_file, download_file.py:231-246; multi-match
  *    loop download_file.py:276-296).
  *  - upload → [[write]]: DataFrame → path
  *    (reference upload_file.py:197-217).
  *  - move → [[move]]: copy+delete between prefixes with destination
  *    renaming/enumeration (reference move_file.py:125-154).
  *  - remove → [[remove]]: delete by exact/regex match
  *    (reference remove_files.py:96-117).
  *
  * All data movement is distributed: reads/writes are Spark jobs over
  * the executors; only the object *listing* (names, not bytes) touches
  * the driver, mirroring how the reference only pages object keys.
  */
final class DatasetIO(spark: SparkSession) {

  val catalog = new DatasetCatalog(spark)

  private def hadoopConf: Configuration = spark.sessionState.newHadoopConf()
  private def fsFor(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  /** Read one dataset path into a DataFrame. Format is inferred from the
    * extension unless given. CSV/JSON accept an explicit schema —
    * schema-on-read beats inference at scale (no extra pass).
    */
  def read(
      path: String,
      format: Option[String] = None,
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty): DataFrame = {
    val fmt = format.getOrElse(inferFormat(path))
    var reader = spark.read.format(fmt).options(defaultOptions(fmt) ++ options)
    schema.foreach(s => reader = reader.schema(s))
    reader.load(path)
  }

  /** Select by exact name, regex or glob under `dir` and read all
    * matches as one DataFrame (a multi-path scan — one Spark job, not a
    * per-file loop). With `recursive = true` patterns match
    * dir-relative paths across the whole tree (`**&#47;*.csv`-style),
    * the upload blueprint's recursive selection. The matched files must
    * share a schema, as the reference's multi-download shares one
    * destination naming scheme.
    */
  def readMatched(
      dir: String,
      pattern: String,
      mode: MatchMode,
      format: Option[String] = None,
      schema: Option[StructType] = None,
      options: Map[String, String] = Map.empty,
      recursive: Boolean = false): DataFrame = {
    val matches = catalog.selectIn(dir, pattern, mode, recursive)
    val fmt = format.getOrElse(inferFormat(matches.head.path))
    var reader = spark.read.format(fmt).options(defaultOptions(fmt) ++ options)
    schema.foreach(s => reader = reader.schema(s))
    reader.load(matches.map(_.path): _*)
  }

  /** Persist a DataFrame to `path` (the upload blueprint).
    * `partitionBy` lays the dataset out as one directory per value
    * combination — the object-store layout that lets later scans prune
    * whole partitions (PartitionFilters) instead of reading bytes.
    */
  def write(
      df: DataFrame,
      path: String,
      format: Option[String] = None,
      saveMode: String = "overwrite",
      options: Map[String, String] = Map.empty,
      partitionBy: Seq[String] = Nil): Unit = {
    val fmt = format.getOrElse(inferFormat(path))
    var w = df.write.format(fmt).options(defaultOptions(fmt) ++ options)
      .mode(saveMode)
    if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
    w.save(path)
  }

  /** Dynamic-partition overwrite — the partitioned-lake upsert verb:
    * replace ONLY the `col=value` partitions present in the incoming
    * frame, leave every other partition's files untouched (byte-
    * stable), and stay idempotent under rerun (writing the same frame
    * twice converges to the same content). This is the reference
    * upload blueprint's overwrite semantics lifted to partition grain
    * (amazons3-blueprints upload_file.py:197-217: a re-upload replaces
    * the named object, not the bucket).
    *
    * Spark-first: scoped `partitionOverwriteMode=dynamic` + a plain
    * `mode("overwrite").partitionBy(...)` save — the committer stages
    * each task's output and replaces exactly the partitions that
    * received rows at commit, so a daily pipeline re-landing one day
    * never rewrites (or even lists) the other 3,650 partitions of a
    * 10-year table. The session's previous overwrite mode is restored
    * afterward, so callers relying on static overwrite elsewhere are
    * unaffected.
    *
    * Same object-store caveat as [[compact]]: the per-partition commit
    * is rename-based; on S3-style stores a crash mid-commit can leave
    * a replaced partition half-written. Table formats with pointer-
    * swap commits are the production answer there.
    */
  def overwritePartitions(
      df: DataFrame,
      path: String,
      partitionBy: Seq[String],
      format: Option[String] = None,
      options: Map[String, String] = Map.empty): Unit = {
    require(partitionBy.nonEmpty,
      "overwritePartitions needs partition columns — for a full-table " +
        "overwrite use write(saveMode = \"overwrite\")")
    val fmt = format.getOrElse(inferFormat(path))
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try
      df.write.format(fmt).options(defaultOptions(fmt) ++ options)
        .mode("overwrite").partitionBy(partitionBy: _*).save(path)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Compaction PLAN — price a small-file rewrite BEFORE paying for it
    * (the S3 pipeline's chronic cost center; [[compact]] executes, this
    * only reads metadata): every data file under `path` is assigned to
    * an output bin by the [[graft.operators.Sampling.packingMap]]
    * first-fit rule at file grain — deterministic hash order, prefix
    * sum of sizes, bin = start offset DIV target; a file whose start
    * lands in a bin joins that bin whole, so bins may overrun the
    * target by less than one file. Only file NAMES and SIZES touch the
    * driver (the same metadata-only listing the reference pages); the
    * plan math itself is the distributed prefix sum. Zero-byte files
    * carry no bytes and are excluded (they compact away implicitly).
    *
    * Output: (bin, n_files, bytes, first_file), ordered by bin.
    */
  def compactionPlan(
      path: String,
      targetBytesPerFile: Long = 128L * 1024 * 1024): DataFrame = {
    require(targetBytesPerFile > 0, "target must be positive")
    val p = new Path(path)
    val files = dataFiles(fsFor(p), p).map { case (st, rel) => (rel, st.getLen) }
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.operators.Sampling
      .packingMap(files.toDF("file_name", "bytes"),
        "file_name", "bytes", targetBytesPerFile)
      .groupBy(col("first_seq").as("bin"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("n_tokens")).as("bytes"),
        min(col("file_name")).as("first_file"))
      .orderBy("bin")
  }

  /** Compact a dataset's small files: rewrite with `repartition` sized
    * by the data's actual bytes / `targetBytesPerFile` — the
    * maintenance op every object-store table needs once streaming or
    * many-task writes fragment it (each S3 GET/LIST costs latency and
    * money; scans want ~128 MB objects). Returns (filesBefore,
    * filesAfter).
    *
    * A partitioned layout (`col=value` directories) is detected and
    * REAPPLIED — the rewrite repartitions by the partition columns (one
    * file per partition value per task) and writes with the same
    * `partitionBy`, so later scans keep partition pruning. The swap is
    * rename-aside (original → `.<name>_compact_old`, tmp → original,
    * delete old): no window where the dataset exists only under a tmp
    * name, and a crash mid-swap leaves the data recoverable.
    *
    * ATOMICITY BOUNDARY: the swap's safety rests on the filesystem's
    * `rename` being an O(1) metadata move (HDFS, file://, ABFS). On
    * S3-style object stores rename is COPY+DELETE — a crash mid-swap
    * can leave a partially-copied dataset, and readers can observe the
    * half-renamed state. Production compaction there belongs to a
    * commit protocol that never renames data — [[compactCommitted]]
    * IS that protocol (versioned-manifest pointer swap, crash-safe on
    * every scheme) — so compact REFUSES object-store schemes unless
    * the caller passes `allowNonAtomicSwap = true` and accepts the
    * crash window.
    */
  def compact(
      path: String,
      targetBytesPerFile: Long = 128L * 1024 * 1024,
      format: Option[String] = None,
      allowNonAtomicSwap: Boolean = false): (Int, Int) = {
    val p0 = new Path(path)
    val scheme = Option(p0.toUri.getScheme).getOrElse("file").toLowerCase
    if (DatasetIO.nonAtomicRenameSchemes(scheme) && !allowNonAtomicSwap)
      throw new IllegalArgumentException(
        s"compact: $scheme:// rename is copy+delete, not atomic — a crash " +
          "mid-swap can corrupt the dataset. Use a table format with " +
          "pointer-swap commits (Iceberg/Delta/Hudi) for object-store " +
          "compaction, or pass allowNonAtomicSwap=true to accept the risk.")
    val fs = fsFor(p0)
    val p = fs.makeQualified(p0)
    val before = dataFiles(fs, p)
    val tmp = new Path(p.getParent, s".${p.getName}_compact_tmp")
    val old = new Path(p.getParent, s".${p.getName}_compact_old")
    rewrite(p, before, tmp, targetBytesPerFile, format)
    // Hadoop rename reports most failures by RETURNING FALSE, not
    // throwing — check every step so a failed swap errors instead of
    // silently nesting tmp inside the dataset.
    graft.sources.GraftException.translatingAuth(s"compact $path") {
      fs.delete(old, true) // stale leftover from an earlier crash
      if (!fs.rename(p, old))
        throw new java.io.IOException(
          s"compact: failed to move $p aside to $old; dataset unchanged")
      if (!fs.rename(tmp, p)) {
        val restored = fs.rename(old, p) // roll back the aside move
        throw new java.io.IOException(
          s"compact: failed to move $tmp into place; original " +
            (if (restored) s"restored at $p"
             else s"NOT restored — data is at $old"))
      }
      fs.delete(old, true)
    }
    (before.size, dataFiles(fs, p).size)
  }

  /** Data files under `dir` with their dir-relative paths, by Spark's
    * reader rule: no segment of the relative path may start with `.`,
    * or with `_` unless it is a `_col=value` partition dir. So `_SUCCESS`,
    * `.crc` sidecars, `_temporary/` and a managed root's `_gen-*` and
    * `_manifests` are not data. Shared by every compaction listing.
    */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[(FileStatus, String)] =
    DatasetCatalog.walk(fs, dir).filter { case (_, rel) =>
      rel.split('/').forall(seg => !seg.startsWith(".") &&
        !(seg.startsWith("_") && !seg.contains('=')))
    }.toList

  /** The rewrite step of [[compact]] and [[compactCommitted]]: read
    * `src` and write it to `dest` as bytes / `targetBytesPerFile` files,
    * reapplying a `col=value` layout (hive layout is uniform, so any
    * data file's dirs name the partition columns).
    */
  private def rewrite(
      src: Path,
      files: Seq[(FileStatus, String)],
      dest: Path,
      targetBytesPerFile: Long,
      format: Option[String]): Unit = {
    val nFiles = math.max(1, math.ceil(
      files.map(_._1.getLen).sum.toDouble / targetBytesPerFile).toInt)
    val partCols = files.headOption.toSeq.flatMap(_._2.split('/').init
      .filter(_.contains('=')).map(_.takeWhile(_ != '=')))
    val df = read(src.toString, format)
    val rewritten =
      if (partCols.isEmpty) df.repartition(nFiles)
      else df.repartition(nFiles,
        partCols.map(org.apache.spark.sql.functions.col): _*)
    write(rewritten, dest.toString, format, partitionBy = partCols)
  }

  // ---- manifest-committed compaction: the object-store-safe path ----
  // [[compact]]'s rename-aside swap is atomic only where `rename` is a
  // metadata move; this is the commit protocol that closes that caveat
  // the way table formats do (Iceberg/Delta: a commit is a NEW
  // versioned metadata object, never a rename of data): data
  // generations live in `_gen-<N>/` under the dataset root, and the
  // CURRENT generation is named by the highest parseable manifest in
  // `_manifests/`. A manifest is one small JSON object ending in a
  // `"committed":true` terminal token — a torn/partial write fails the
  // parse and is IGNORED, so readers resolve the previous generation.
  // No data directory is ever renamed or mutated after its manifest
  // commits; crashes at ANY point leave readers on exactly one
  // complete generation (spec-asserted at every failpoint).

  /** Highest committed (gen, dataDir) under `root`, or None for an
    * unmanaged dataset (no `_manifests/` yet — generation 0 is the
    * root's own loose files).
    */
  private[sources] def currentManifest(root: Path): Option[(Long, String)] =
    manifests(fsFor(root), root).lastOption

  /** Every parseable manifest under `root/_manifests` as (gen, dataDir),
    * oldest first; empty for an unmanaged dataset.
    */
  private def manifests(fs: FileSystem, root: Path): Seq[(Long, String)] = {
    val mdir = new Path(root, "_manifests")
    if (!fs.exists(mdir)) Nil
    else fs.listStatus(mdir).toSeq
      .map(_.getPath)
      .filter(_.getName.matches("manifest-\\d+\\.json"))
      .flatMap(mp => parseManifest(fs, mp))
      .sortBy(_._1)
  }

  /** One manifest file → (gen, dataDir), or None when absent, torn
    * (the terminal `"committed":true` token gates partial writes),
    * or hostile-sized.
    */
  private def parseManifest(
      fs: FileSystem, mp: Path): Option[(Long, String)] =
    try {
      val len = fs.getFileStatus(mp).getLen
      if (len > (1 << 20)) None // a manifest is ~100 bytes; cap hostile
      else {
        val bytes = new Array[Byte](len.toInt)
        val in = fs.open(mp)
        try in.readFully(0, bytes) finally in.close()
        ManifestRe.findFirstMatchIn(new String(bytes, "UTF-8"))
          .map(g => (g.group(1).toLong, g.group(2)))
      }
    } catch {
      case _: java.io.IOException => None
    }

  private val ManifestRe =
    """\{"gen":(\d+),"dataDir":"([^"]+)","committed":true\}""".r

  /** The committed view of a managed dataset: resolves through the
    * newest complete manifest; unmanaged datasets (no manifest yet)
    * read the root directly. This is the reader every consumer of a
    * [[compactCommitted]]-maintained dataset should use.
    */
  def readCommitted(
      path: String,
      format: Option[String] = None): DataFrame = {
    val root = fsFor(new Path(path)).makeQualified(new Path(path))
    currentManifest(root) match {
      case Some((_, dataDir)) =>
        read(new Path(root, dataDir).toString, format)
      case None => read(path, format)
    }
  }

  /** All committed generations of a managed dataset, oldest first:
    * (gen, dataDir, stillOnDisk). A generation whose data was cleaned
    * by a later [[compactCommitted]] still has its manifest (the
    * commit LOG is append-only); `stillOnDisk=false` marks it
    * unreadable.
    */
  def listGenerations(path: String): Seq[(Long, String, Boolean)] = {
    val fs = fsFor(new Path(path))
    val root = fs.makeQualified(new Path(path))
    manifests(fs, root).map { case (g, d) =>
      (g, d, fs.exists(new Path(root, d)))
    }
  }

  /** Time travel: read a SPECIFIC committed generation. Errors loudly
    * when the generation never committed or its data was cleaned by a
    * later compaction (pass `retainPrevious = true` to
    * [[compactCommitted]] to keep history readable).
    */
  def readCommittedAt(
      path: String,
      gen: Long,
      format: Option[String] = None): DataFrame = {
    val fs = fsFor(new Path(path))
    val root = fs.makeQualified(new Path(path))
    parseManifest(fs, new Path(new Path(root, "_manifests"),
      s"manifest-$gen.json")) match {
      case None => throw new IllegalArgumentException(
        s"readCommittedAt: generation $gen of $path never committed " +
          s"(no complete manifest). Committed: " +
          listGenerations(path).map(_._1).mkString(", "))
      case Some((_, dataDir)) =>
        val d = new Path(root, dataDir)
        if (!fs.exists(d)) throw new IllegalArgumentException(
          s"readCommittedAt: generation $gen of $path committed but its " +
            s"data at $dataDir was cleaned by a later compaction — " +
            "retain history with compactCommitted(retainPrevious = true)")
        read(d.toString, format)
    }
  }

  /** Test seam: throw between commit phases to prove crash safety.
    * 0 = no failure; 1 = after the new generation's data is written
    * (no manifest yet); 2 = mid-manifest-write (torn file); 3 = after
    * the manifest commits, before old-generation cleanup.
    */
  private[sources] var compactFailpoint: Int = 0

  /** Test seam: runs after staging, just before the phase-3 manifest
    * create — the window where a concurrent committer can win the
    * generation. Lets specs interleave a competing commit
    * deterministically.
    */
  private[sources] var beforeCommitHook: () => Unit = () => ()

  /** [[compact]] with a manifest-gated two-phase commit instead of the
    * rename-aside swap — safe on EVERY scheme including object stores:
    *
    *  1. resolve the current generation via [[currentManifest]]
    *     (unmanaged roots are generation 0), then garbage-collect
    *     staging dirs of ALREADY-DECIDED generations (gen ≤ current)
    *     that no manifest references — crashed or losing attempts
    *     whose outcome is settled; in-flight dirs (gen > current, a
    *     possible concurrent committer) are never touched;
    *  2. rewrite the data into a FRESH `_gen-<N+1>-<nonce>/` staging
    *     directory (partition layout reapplied, as in [[compact]]).
    *     The nonce makes every ATTEMPT's dir unique, so a slow
    *     concurrent committer can never clobber data files of a
    *     generation a faster committer already committed — losers
    *     only ever write their own staging dir;
    *  3. commit: create `_manifests/manifest-<N+1>.json` recording
    *     the winning attempt's dataDir (create-exclusive — a
    *     concurrent committer of the same generation fails loudly
    *     instead of silently winning). If the target manifest file
    *     EXISTS but fails the committed-token parse it is garbage
    *     from a crashed step-3 (a torn file): it is deleted and the
    *     create-exclusive retried once, so a retry of a crashed
    *     compaction self-heals instead of wedging on
    *     FileAlreadyExists;
    *  4. clean up the previous generation's files (crash here leaves
    *     only harmless orphans — readers already resolve N+1; the
    *     loser/crashed staging orphans of THIS generation are swept
    *     by step 1 of the next compaction).
    *
    * Readers ([[readCommitted]]) never see a mixed state: before step
    * 3 completes they resolve generation N; a torn manifest from a
    * crash in step 3 fails the terminal-token parse and is ignored.
    * Returns (filesBefore, filesAfter).
    */
  def compactCommitted(
      path: String,
      targetBytesPerFile: Long = 128L * 1024 * 1024,
      format: Option[String] = None,
      retainPrevious: Boolean = false): (Int, Int) = {
    require(targetBytesPerFile > 0, "target must be positive")
    val fs = fsFor(new Path(path))
    val root = fs.makeQualified(new Path(path))
    val cur = currentManifest(root)
    val curGen = cur.map(_._1).getOrElse(0L)
    val curDataPath = cur match {
      case Some((_, d)) => new Path(root, d)
      case None         => root
    }
    // step 1b: sweep SETTLED staging orphans — `_gen-<g>[-nonce]` dirs
    // with g <= curGen that no manifest references are crashed or
    // losing attempts whose generation is decided (gens are assigned
    // sequentially, so they can never commit). Dirs with g > curGen
    // may belong to a concurrent in-flight committer: never touched.
    locally {
      val referenced = listGenerations(path).map(_._2).toSet
      val stagingRe = "_gen-(\\d+)(?:-.*)?".r
      graft.sources.GraftException.translatingAuth(s"compactCommitted $path") {
        fs.listStatus(root).foreach { st =>
          st.getPath.getName match {
            case n @ stagingRe(g) if st.isDirectory &&
                g.toLong <= curGen && !referenced.contains(n) =>
              fs.delete(st.getPath, true): Unit
            case _ =>
          }
        }
      }
    }
    // an unmanaged root's `_gen-*`/`_manifests` are `_`-prefixed dirs,
    // so the data-file rule already keeps managed internals out
    val before = dataFiles(fs, curDataPath)
    val newGen = curGen + 1
    // phase 2: every ATTEMPT stages into its own nonce-suffixed dir —
    // on object stores create(overwrite=false) is check-then-act, so
    // two same-generation committers CAN both reach phase 3; unique
    // staging means the loser's data pass never touches the dir the
    // winner's manifest committed. Crashed-attempt dirs are swept by
    // step 1b of the next compaction.
    val newDir =
      s"_gen-$newGen-${java.util.UUID.randomUUID().toString.take(8)}"
    rewrite(curDataPath, before, new Path(root, newDir),
      targetBytesPerFile, format)
    if (compactFailpoint == 1)
      throw new java.io.IOException("failpoint 1: crash before commit")
    // phase 3: the commit — one create-exclusive small object
    val mdir = new Path(root, "_manifests")
    fs.mkdirs(mdir)
    val mpath = new Path(mdir, s"manifest-$newGen.json")
    beforeCommitHook()
    val json = s"""{"gen":$newGen,"dataDir":"$newDir","committed":true}"""
    def createExclusive(): Unit = {
      val out = fs.create(mpath, /*overwrite=*/ false)
      try {
        if (compactFailpoint == 2) {
          out.write(json.substring(0, json.length / 2).getBytes("UTF-8"))
          out.close()
          throw new java.io.IOException("failpoint 2: torn manifest")
        }
        out.write(json.getBytes("UTF-8"))
      } finally out.close()
    }
    graft.sources.GraftException.translatingAuth(s"compactCommitted $path") {
      try createExclusive()
      catch {
        case e: java.io.IOException if fs.exists(mpath) =>
          // target exists: a COMMITTED manifest means a concurrent
          // committer won this generation — fail loudly (our staged
          // data is an orphan for step 1b). A file that fails the
          // committed-token parse is garbage from a crashed step 3:
          // delete it and retry once, so retrying a crashed
          // compaction self-heals instead of wedging forever on
          // FileAlreadyExists.
          if (parseManifest(fs, mpath).isDefined) throw e
          fs.delete(mpath, false)
          createExclusive()
      }
    }
    if (compactFailpoint == 3)
      throw new java.io.IOException("failpoint 3: crash before cleanup")
    // phase 4: cleanup — previous generation's data only. Skipped
    // with retainPrevious (keeps history readable via readCommittedAt)
    if (!retainPrevious) cur match {
      case Some((_, d)) => fs.delete(new Path(root, d), true): Unit
      case None => // migrate-from-unmanaged: remove the loose root files
        before.foreach { case (st, _) => fs.delete(st.getPath, false) }
    }
    (before.size, dataFiles(fs, new Path(root, newDir)).size)
  }

  /** Move datasets matching `pattern` from `srcDir` to `dstDir`,
    * optionally renaming to `destName` (enumerated `name_1.ext`,
    * `name_2.ext`, ... on multi-match, per the reference's destination
    * naming, download_file.py:101-133). Copy+delete semantics like the
    * reference's move blueprint; same-filesystem moves take the O(1)
    * metadata `rename` fast path — no data pass.
    * Returns (source, destination) path pairs.
    */
  def move(
      srcDir: String,
      pattern: String,
      mode: MatchMode,
      dstDir: String,
      destName: Option[String] = None,
      recursive: Boolean = false): Seq[(String, String)] =
    transfer(srcDir, pattern, mode, dstDir, destName, recursive,
      deleteSource = true)

  /** Copy datasets matching `pattern` from `srcDir` to `dstDir` —
    * source-preserving transfer, the shared core of the download
    * (bucket → local, download_file.py:231-246) and upload
    * (local → bucket, upload_file.py:197-217) blueprints. Destination
    * naming/enumeration as [[move]]. Returns (source, destination)
    * path pairs.
    */
  def copy(
      srcDir: String,
      pattern: String,
      mode: MatchMode,
      dstDir: String,
      destName: Option[String] = None,
      recursive: Boolean = false): Seq[(String, String)] =
    transfer(srcDir, pattern, mode, dstDir, destName, recursive,
      deleteSource = false)

  /** With `recursive = true`, selection ranges over the whole tree with
    * dir-relative names — the S3 key-space semantics of the reference's
    * prefix listing (no delimiter, so every key under the prefix is a
    * candidate; download_file.py:167-216) — and multi-match
    * destinations flatten to enumerated base names, as the reference's
    * destination naming does.
    */
  private def transfer(
      srcDir: String,
      pattern: String,
      mode: MatchMode,
      dstDir: String,
      destName: Option[String],
      recursive: Boolean,
      deleteSource: Boolean): Seq[(String, String)] = {
    val matches = catalog.selectIn(srcDir, pattern, mode, recursive)
    val multi = matches.size > 1
    val dstRoot = new Path(dstDir)
    val dstFs = fsFor(dstRoot)
    graft.sources.GraftException.translatingAuth(s"transfer to $dstDir") {
      if (!dstFs.exists(dstRoot)) dstFs.mkdirs(dstRoot)
    }
    matches.zipWithIndex.map { case (ref, i) =>
      val name = PathUtil.destinationName(
        ref.path, destName, if (multi) Some(i + 1) else None)
      val src = new Path(ref.path)
      val dst = new Path(dstRoot, name)
      graft.sources.GraftException.translatingAuth(s"transfer ${ref.path}") {
        val srcFs = fsFor(src)
        val sameFs = srcFs.getUri == dstFs.getUri
        // rename is only a fast path when the source goes away
        val renamed = deleteSource && sameFs && srcFs.rename(src, dst)
        if (!renamed) {
          // Cross-filesystem (e.g. file:// -> s3a://): stream the bytes.
          FileUtil.copy(srcFs, src, dstFs, dst, deleteSource,
            /*overwrite=*/ true, hadoopConf)
        }
      }
      ref.path -> dst.toString
    }
  }

  /** Delete datasets matching `pattern` under `dir` (the remove
    * blueprint). Returns the deleted paths.
    */
  def remove(
      dir: String,
      pattern: String,
      mode: MatchMode,
      recursive: Boolean = false): Seq[String] = {
    catalog.selectIn(dir, pattern, mode, recursive).map { ref =>
      val p = new Path(ref.path)
      graft.sources.GraftException.translatingAuth(s"remove ${ref.path}") {
        fsFor(p).delete(p, /*recursive=*/ true)
      }
      ref.path
    }
  }

  private def inferFormat(path: String): String = {
    val name = PathUtil.baseName(path).toLowerCase
    if (name.endsWith(".csv")) "csv"
    else if (name.endsWith(".json") || name.endsWith(".jsonl")) "json"
    else if (name.endsWith(".orc")) "orc"
    else if (name.endsWith(".txt")) "text"
    else "parquet"
  }

  private def defaultOptions(fmt: String): Map[String, String] = fmt match {
    case "csv" => Map("header" -> "true")
    case _ => Map.empty
  }
}

object DatasetIO {

  /** URI schemes whose Hadoop `rename` is a data copy, not an atomic
    * metadata move: the S3 connectors, Google Cloud Storage, Aliyun
    * OSS, and the flat (non-hierarchical-namespace) Azure blob
    * connector. [[DatasetIO.compact]]'s rename-aside swap is unsafe
    * there — checked by scheme string so the gate fires before any
    * connector class (which may not be on the classpath) is loaded.
    */
  val nonAtomicRenameSchemes: Set[String] =
    Set("s3", "s3a", "s3n", "gs", "oss", "wasb", "wasbs")
}
