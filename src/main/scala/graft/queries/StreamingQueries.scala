package graft.queries


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.streaming.{AttrEvent, CapEvent, StreamEvent, StreamingOps}

/** Driver-visible differential checks for the streaming operators
  * (SURVEY.md §2.4 #58/#59/#65/#66): each streaming path runs through a
  * REAL micro-batch execution (file source → stateful operator →
  * memory sink) and its output is hash-compared against the batch SQL
  * equivalent — streaming correctness is never asserted only by
  * in-suite tests.
  */
object StreamingQueries {

  /** The events file-stream needs an explicit user schema, and the
    * testdata's `ts` has shipped as both INT64 TIMESTAMP(NANOS) (read
    * as raw nanos longs) and TIMESTAMP(MICROS) `timestamp_ntz` across
    * generations — so the schema, the ms-normalizer, and the sentinel
    * literal writer dispatch TOGETHER on the encoding actually present
    * (detected from a batch footer read, mirroring
    * [[graft.Tables.events]]). A wrong branch here is worse than an
    * error — micros loaded through a LongType schema silently compress
    * event time 1000x — so construction also runs a span canary: the
    * normalized ms min/max must land inside [2000, 2100), which any
    * 1000x unit drift misses by three orders of magnitude.
    */
  private final case class EventsEncoding(
      schema: StructType, tsIsLong: Boolean) {

    /** `ts` normalized to a millisecond-precision event-time column
      * (exact integer floor in both branches, matching the oracle's
      * `epoch_ns(ts) // 1000000`).
      */
    def tsMs: org.apache.spark.sql.Column =
      if (tsIsLong) timestamp_millis(expr("ts DIV 1000000"))
      else timestamp_millis(unix_millis(col("ts").cast(TimestampType)))

    /** A `ts` literal (given epoch-nanos) in the physical encoding, so
      * sentinel files parse under the same user schema as the data.
      */
    def tsLit(tsNs: Long): org.apache.spark.sql.Column =
      if (tsIsLong) lit(tsNs)
      else timestamp_micros(lit(tsNs / 1000L)).cast(schema("ts").dataType)
  }

  private val encodingCache =
    new java.util.concurrent.ConcurrentHashMap[String, EventsEncoding]()

  private def eventsEncoding(s: SparkSession, dir: String): EventsEncoding =
    encodingCache.computeIfAbsent(dir, { _ =>
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s.conf.set("spark.sql.session.timeZone", "UTC")
      val batch = s.read.parquet(s"$dir/events.parquet")
      val tsType = batch.schema("ts").dataType
      val enc = EventsEncoding(
        StructType(Seq(
          StructField("event_id", LongType),
          StructField("ts", tsType),
          StructField("user_id", LongType),
          StructField("event_type", StringType),
          StructField("value", DoubleType),
          StructField("props", StringType))),
        tsIsLong = tsType == LongType)
      val span = batch.select(unix_millis(enc.tsMs).as("ms"))
        .agg(min(col("ms")).as("lo"), max(col("ms")).as("hi")).head()
      val (lo, hi) = (span.getLong(0), span.getLong(1))
      require(
        lo >= graft.Tables.MsLow && hi < graft.Tables.MsHigh,
        s"events.ts normalized span [$lo, $hi] ms is outside " +
          s"[${graft.Tables.MsLow}, ${graft.Tables.MsHigh}) — " +
          "encoding drift (unit mismatch) in the streaming schema branch")
      enc
    })

  private val GapMs = 1800000L

  /** Sentinel rows: event time steps 1 s up from here, far past any
    * real event, and ids count down from -1 (the queries drop them by
    * key sign or type).
    */
  private val SentinelNs = 4000000000000000000L

  /** Pre-built one-row sentinel parquet files, keyed by
    * (data dir, tsNs, id). Every drain-protocol parity appends the
    * IDENTICAL far-future literal row (same schema, same physical ts
    * encoding) to its watch dir — re-encoding it through a Spark write
    * job per drain paid two single-task jobs per query per run.
    * Building each distinct sentinel once per JVM and streaming a byte
    * copy into the watch dir delivers the same file content with zero
    * Spark jobs on the timed path. This caches a constant INPUT
    * fixture, never a query result.
    */
  private val sentinelCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Keyed by (resolved scratch root, data dir, tsNs, id) — the cache
    * is JVM-global while scratch roots are per-session, so a later
    * session with a different root must not inherit paths under the
    * old one. Cached files live under the CALLER-owned scratch root
    * (ScratchSpace's lifecycle contract allows a root cleanup between
    * drains), so a hit is re-validated against the filesystem and
    * rebuilt when the file is gone.
    */
  private def sentinelFile(
      s: SparkSession, dir: String, tsNs: Long, id: Long): String = {
    val key = s"${graft.ScratchSpace.root(s)}|$dir|$tsNs|$id"
    def exists(file: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(file)
      p.getFileSystem(s.sessionState.newHadoopConf()).exists(p)
    }
    def build(): String = {
      import s.implicits._
      val enc = eventsEncoding(s, dir)
      val stage = Scratch.dir(s, "sentinel_")
      graft.ScratchSpace.writeOneFile(
        Seq((id, tsNs, id, "sentinel", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .withColumn("ts", enc.tsLit(tsNs)),
        stage, "sentinel.parquet"): Unit
      s"$stage/sentinel.parquet"
    }
    val cached = sentinelCache.get(key)
    if (cached != null && exists(cached)) cached
    else {
      val fresh = build()
      sentinelCache.put(key, fresh)
      fresh
    }
  }

  /** The sentinel batches a memory-sink drain appends after the data:
    * `count` one-row files into `watch`, each parsed with `dir`'s
    * events encoding. 1 serves watermark-evicted operators (the
    * sentinel batch plus its no-data follow-up seal every row); 2
    * serves event-time timers (the first advances the watermark, the
    * second fires the timeouts).
    */
  private[graft] final case class Sentinels(
      count: Int, dir: String, watch: String)

  /** Copy sentinel `k` (0-based) into `watch`: event time
    * [[SentinelNs]] + k s, id -(k+1), file `sentinel_<tsNs>_m<k+1>`
    * (a distinct path per sentinel — the file-stream source tracks
    * seen files by path, so a reused name would never fire).
    */
  private def sentinelAppend(s: SparkSession, sn: Sentinels, k: Int): Unit = {
    val tsNs = SentinelNs + k * 1000000000L
    graft.ScratchSpace.copyIn(
      s, sentinelFile(s, sn.dir, tsNs, -(k + 1L)), sn.watch,
      s"sentinel_${tsNs}_m${k + 1}.parquet")
  }

  /** Attribution window (2 days) — must match q150's batch constant so
    * both parities pin to the same oracle.
    */
  private val AttrWindowMs = 172800000L

  /** Copy the source files into a scratch dir the file stream watches
    * (Hadoop-FS streaming copy — works on an object-store scratch root).
    */
  private def watchDirWith(
      s: SparkSession, dir: String, files: (String, String)*): String = {
    val watch = Scratch.dir(s, "stream")
    files.foreach { case (src, dst) =>
      graft.ScratchSpace.copyIn(s, s"$dir/$src", watch, dst)
    }
    watch
  }

  /** What one drain measured from its query's `recentProgress`, over
    * the micro-batches that executed (those with an `addBatch` phase;
    * idle-trigger reports carry none): the batch count, the stateful
    * operator count, Σ `numRowsTotal` over batches and operators, and
    * the per-phase `durationMs` sums.
    */
  final case class DrainStats(
      batches: Int, statefulOps: Int, stateRows: Long,
      phasesMs: Seq[(String, Long)]) {
    override def toString: String =
      s"$batches batches, $statefulOps stateful ops, $stateRows state rows, " +
        phasesMs.map { case (k, v) => s"$k=$v" }.mkString(" ") + " ms"
  }

  object DrainStats {
    val Phases: Seq[String] = Seq(
      "addBatch", "queryPlanning", "walCommit", "commitOffsets",
      "triggerExecution")

    def apply(progress: Array[StreamingQueryProgress]): DrainStats = {
      val ran = progress.filter(_.durationMs.containsKey("addBatch"))
      DrainStats(
        ran.length,
        ran.map(_.stateOperators.length).maxOption.getOrElse(0),
        ran.iterator.flatMap(_.stateOperators).map(_.numRowsTotal).sum,
        Phases.map { ph =>
          ph -> ran.map(p => Option(p.durationMs.get(ph)).fold(0L)(_.longValue)).sum
        })
    }
  }

  private val log =
    org.slf4j.LoggerFactory.getLogger("graft.queries.StreamingQueries")

  private val drainLog =
    new java.util.concurrent.ConcurrentHashMap[String, DrainStats]()

  /** The latest run's [[DrainStats]] per drained query, keyed by the
    * query's short name ("q51"); Bench reads it for `stream_drains`.
    */
  def drains: Map[String, DrainStats] = {
    import scala.jdk.CollectionConverters._
    drainLog.asScala.toMap
  }

  /** Run a started query through every available file, then through
    * each of `steps` (each step lands new input and gets its own
    * micro-batches); record its [[DrainStats]] under `name` and log
    * them as one INFO line; stop it.
    */
  private def runDrain(
      name: String, q: StreamingQuery, steps: Seq[() => Unit]): Unit =
    try {
      q.processAllAvailable()
      steps.foreach { step => step(); q.processAllAvailable() }
      val stats = DrainStats(q.recentProgress)
      drainLog.put(name, stats)
      log.info(s"$name: $stats")
    } finally q.stop()

  /** Stateful micro-batches pay a per-state-store-partition overhead
    * EVERY batch; at parity-check state sizes the session's width of
    * tiny state partitions dominates runtime, so memory-sink drains run
    * at this fixed shuffle width (captured by the query at start). A
    * stateful query's state-store partition count is pinned by the
    * FIRST run of its checkpoint; drains here always start fresh
    * per-run checkpoints.
    */
  private val DrainShufflePartitions = "2"

  /** Run a streaming DataFrame to a memory sink and return the sink
    * table: the data batch, then `lateBatch` (input landed after the
    * data, q202's replay), then `sentinels`, each draining to
    * completion. The drain scopes `spark.sql.shuffle.partitions` to
    * [[DrainShufflePartitions]] plus `confs`, restoring every previous
    * value afterwards, also when the query throws. Fixed per-query sink
    * names (dropped before reuse) cap the driver-side memory at one
    * result set per query across repeated Bench/Verify invocations;
    * queries run one at a time per session (fixed sink names would
    * collide under concurrent invocation of the SAME query).
    */
  private[graft] def drainToTable(
      s: SparkSession,
      name: String,
      out: DataFrame,
      mode: String,
      sentinels: Option[Sentinels] = None,
      lateBatch: Option[() => Unit] = None,
      confs: Map[String, String] = Map.empty): DataFrame = {
    s.catalog.dropTempView(name): Unit
    val scoped = confs + ("spark.sql.shuffle.partitions" -> DrainShufflePartitions)
    val prev = scoped.keys.map(k => k -> s.conf.getOption(k)).toMap
    scoped.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val sentinelSteps = sentinels.toSeq.flatMap { sn =>
        (0 until sn.count).map(k => () => sentinelAppend(s, sn, k))
      }
      runDrain(name.takeWhile(_ != '_'),
        out.writeStream.format("memory").queryName(name)
          .outputMode(mode).start(),
        lateBatch.toSeq ++ sentinelSteps)
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
    s.table(name)
  }

  /** The `foreachBatch` drain: each of `shards` staged as one parquet
    * file in a fresh watch dir, fed one file per trigger
    * (`maxFilesPerTrigger=1`, so one micro-batch per shard) through
    * `sink` with its checkpoint at `ckpt`, run to completion.
    */
  private def drainForeachBatch(
      s: SparkSession,
      name: String,
      shards: Seq[DataFrame],
      ckpt: String,
      sink: (DataFrame, Long) => Unit): Unit = {
    val watch = Scratch.dir(s, s"${name}_watch_")
    shards.zipWithIndex.foreach { case (shard, k) =>
      graft.ScratchSpace.writeOneFile(shard, watch, f"shard_$k%03d.parquet"): Unit
    }
    runDrain(name,
      s.readStream.schema(shards.head.schema)
        .option("maxFilesPerTrigger", "1").parquet(watch)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(sink).start(),
      Nil)
  }

  /** Streaming stateful sessionization over the events table. Sentinel
    * far-future events appended in later micro-batches advance the
    * watermark so every real session times out and emits (the standard
    * way to drain a bounded stream through an event-time-timeout
    * operator); sentinels are filtered from the result. `session_seq`
    * is derived from emitted session start order, making the output
    * directly comparable to the batch oracle of q19.
    */
  val q51 = Q(
    "q51_stream_sessionize_parity",
    (s, dir) => {
      import s.implicits._
      val enc = eventsEncoding(s, dir)
      val watch = watchDirWith(s, dir, "events.parquet" -> "events_000.parquet")
      val evs = s.readStream.schema(enc.schema).parquet(watch)
        .select(col("user_id"), enc.tsMs.as("ts"),
          col("event_type"), col("value"))
        .as[StreamEvent]
      drainToTable(s, "q51_mem",
        StreamingOps.sessionize(evs, GapMs, watermarkDelay = "0 seconds")
          .toDF(),
        "append",
        sentinels = Some(Sentinels(2, dir, watch)))
        .where(col("user_id") >= 0)
        .withColumn("session_seq",
          row_number().over(
            Window.partitionBy("user_id").orderBy("start_ms")).cast("long"))
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("start_ms"), col("end_ms"),
          (col("end_ms") - col("start_ms")).as("duration_ms"))
        .orderBy("user_id", "session_seq")
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS ms FROM events),
      marked AS (
        SELECT user_id, ms, event_id,
               CASE WHEN lag(ms) OVER w IS NULL
                         OR ms - lag(ms) OVER w > $GapMs
                    THEN 1 ELSE 0 END AS is_new
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
      numbered AS (
        SELECT user_id, ms,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM marked)
      SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
             CAST(count(*) AS BIGINT) AS n_events,
             min(ms) AS start_ms, max(ms) AS end_ms,
             max(ms) - min(ms) AS duration_ms
      FROM numbered
      GROUP BY user_id, session_seq
      ORDER BY user_id, session_seq"""))

  /** Streaming windowed aggregation parity: the same tumbling-window
    * counts/sums declared over the unbounded source, run in Complete
    * mode (every result row re-emitted per batch — no watermark drain
    * needed) and hash-compared against the batch SQL. `value` is
    * pre-scaled to integral cents so sums are order-independent exact.
    */
  val q52 = Q(
    "q52_stream_window_parity",
    (s, dir) => {
      val enc = eventsEncoding(s, dir)
      val watch = watchDirWith(s, dir, "events.parquet" -> "events_000.parquet")
      val evs = s.readStream.schema(enc.schema).parquet(watch)
        .select(
          enc.tsMs.as("ts"),
          col("event_type"),
          floor(col("value") * 100.0 + 0.5).as("value"))
      drainToTable(s, "q52_mem",
        StreamingOps.windowedCounts(
          evs, watermarkDelay = "10 minutes", windowLen = "1 hour"),
        "complete")
        .select(
          unix_millis(col("window_start")).as("window_start_ms"),
          col("event_type"), col("n_events"),
          col("value_sum").cast("long").as("value_cents"))
        .orderBy("window_start_ms", "event_type")
    },
    Some("""
      WITH e AS (
        SELECT event_type, value,
               epoch_ns(ts) // 1000000 AS ms FROM events)
      SELECT (ms // 3600000) * 3600000 AS window_start_ms,
             event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(floor(value*100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents
      FROM e GROUP BY 1, 2
      ORDER BY window_start_ms, event_type"""))

  /** Streaming exact dedup parity: the documents table is fed through
    * the stream TWICE (two files), so every digest arrives duplicated;
    * `dropDuplicatesWithinWatermark` must emit exactly one row per
    * digest. The ordered digest column is hash-compared against batch
    * DISTINCT — any duplicate or dropped digest fails the row/hash
    * match.
    */
  val q58 = Q(
    "q58_stream_dedup_parity",
    (s, dir) => {
      val watch = watchDirWith(s, dir,
        "documents.parquet" -> "docs_a.parquet",
        "documents.parquet" -> "docs_b.parquet")
      val docsSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType)))
      val stream = s.readStream.schema(docsSchema).parquet(watch)
        .select(col("doc_id"), col("text"),
          // synthetic event time, offset well past epoch 0 so the
          // initial watermark never classifies the first ids as late
          timestamp_millis(col("doc_id") + 1000000000L).as("ts"))
      drainToTable(s, "q58_mem",
        StreamingOps.dedupByDigest(stream, "text", "ts",
          watermarkDelay = "1 hour"),
        "append")
        .select(col("digest")).orderBy("digest")
    },
    Some("""
      SELECT DISTINCT md5(lower(trim(text))) AS digest
      FROM documents ORDER BY digest"""))

  /** Stream-stream interval join parity: errors join clicks of the
    * same user within [error_ts, error_ts + 30 min), both sides
    * watermarked (inner joins emit on arrival; the watermark only
    * bounds state). Pair multiplicities are aggregated so the output
    * is deterministic, then hash-compared against the batch SQL.
    */
  val q59 = Q(
    "q59_stream_interval_join_parity",
    (s, dir) => {
      val enc = eventsEncoding(s, dir)
      val watch = watchDirWith(s, dir, "events.parquet" -> "events_000.parquet")
      def side(tpe: String) =
        s.readStream.schema(enc.schema).parquet(watch)
          .where(col("event_type") === tpe)
          .select(col("user_id"), enc.tsMs.as("ts"), col("event_type"))
      drainToTable(s, "q59_mem",
        StreamingOps.intervalJoin(
          side("error"), side("click"),
          keyCol = "user_id", tsCol = "ts",
          windowMs = GapMs, watermarkDelay = "1 hour"),
        "append")
        .groupBy(col("l_key").as("user_id"),
          unix_millis(col("l_ts")).as("error_ms"),
          unix_millis(col("r_ts")).as("click_ms"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id", "error_ms", "click_ms")
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, event_type, epoch_ns(ts) // 1000000 AS ms
        FROM events)
      SELECT l.user_id, l.ms AS error_ms, r.ms AS click_ms,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM (SELECT * FROM e WHERE event_type = 'error') l
      JOIN (SELECT * FROM e WHERE event_type = 'click') r
        ON l.user_id = r.user_id
       AND r.ms >= l.ms AND r.ms < l.ms + $GapMs
      GROUP BY 1, 2, 3
      ORDER BY l.user_id, error_ms, click_ms"""))

  /** Stream-static enrichment parity: the events stream micro-batch
    * joins the STATIC customer dimension (broadcast — the stream side
    * is never shuffled), then aggregates per (segment, event_type) in
    * Complete mode. Hash-compared against the batch join+aggregate.
    */
  val q78 = Q(
    "q78_stream_static_join_parity",
    (s, dir) => {
      val enc = eventsEncoding(s, dir)
      val watch = watchDirWith(s, dir, "events.parquet" -> "events_000.parquet")
      val evs = s.readStream.schema(enc.schema).parquet(watch)
        .select(col("user_id"), col("event_type"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("val_cents"))
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"))
      drainToTable(s, "q78_mem",
        StreamingOps.enrich(evs, dim, "user_id", "c_custkey")
          .groupBy("c_mktsegment", "event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("val_cents")).as("cents")),
        "complete")
        .orderBy("c_mktsegment", "event_type")
    },
    Some("""
      SELECT c_mktsegment, event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(floor(value*100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY 1, 2
      ORDER BY c_mktsegment, event_type"""))

  /** Streaming windowed distinct-user parity: dedup (window, user)
    * with watermark-bounded state, then the windowed count — TWO
    * chained stateful operators in append mode, so each hourly window
    * emits exactly once when the watermark seals it. Far-future
    * sentinel batches advance the watermark to drain the bounded
    * stream; sentinel windows are filtered out of the compared rows.
    */
  val q108 = Q(
    "q108_stream_distinct_users_parity",
    (s, dir) => {
      import s.implicits._
      val enc = eventsEncoding(s, dir)
      val watch = watchDirWith(s, dir, "events.parquet" -> "events_000.parquet")
      val evs = s.readStream.schema(enc.schema).parquet(watch)
        .select(enc.tsMs.as("ts"), col("user_id"))
      // ONE sentinel: both stateful ops (watermarked dedup + windowed
      // count) evict on the WATERMARK alone — no event-time timers —
      // so the sentinel batch plus its no-data follow-up seals every
      // real window (same rationale as q130; timer-based parities keep
      // the two-sentinel protocol).
      drainToTable(s, "q108_mem",
        StreamingOps.windowedDistinctUsers(
          evs, watermarkDelay = "10 minutes", windowLen = "1 hour"),
        "append",
        sentinels = Some(Sentinels(1, dir, watch)))
        .select(unix_millis(col("window_start")).as("window_start_ms"),
          col("n_users"))
        .where(col("window_start_ms") < 3000000000000L) // drop sentinels
        .orderBy("window_start_ms")
    },
    Some("""
      WITH e AS (SELECT DISTINCT
                   (epoch_ns(ts) // 1000000 // 3600000) * 3600000
                     AS window_start_ms,
                   user_id
                 FROM events)
      SELECT window_start_ms, CAST(count(*) AS BIGINT) AS n_users
      FROM e GROUP BY 1
      ORDER BY window_start_ms"""))

  /** Stream-stream LEFT OUTER interval join parity: q59's join shape,
    * but every error with NO click in its window must also emit — with
    * null click time — and it may only do so once the watermark proves
    * no in-watermark click can still land in the window. Sentinels must
    * therefore survive the event-type pre-filter (they advance the
    * watermark through BOTH filtered sides); they are excluded from
    * the compared rows by key sign. The batch oracle is the plain LEFT
    * JOIN, with NULLS FIRST pinned so both engines order null click
    * times identically.
    */
  val q130 = Q(
    "q130_stream_leftouter_join_parity",
    (s, dir) => {
      import s.implicits._
      val enc = eventsEncoding(s, dir)
      val watch = watchDirWith(s, dir, "events.parquet" -> "events_000.parquet")
      def side(tpe: String) =
        s.readStream.schema(enc.schema).parquet(watch)
          .where(col("event_type") === tpe ||
            col("event_type") === "sentinel")
          .select(col("user_id"), enc.tsMs.as("ts"), col("event_type"))
      // ONE sentinel batch drains a stream-stream join: outer-side
      // eviction is purely WATERMARK-driven (no event-time timers), so
      // the far-future row advances the watermark and the no-data
      // micro-batch that follows (noDataMicroBatches, on by default)
      // evicts and emits every remaining null-side row. The second
      // sentinel the timeout-operator protocol needs only re-advanced
      // an already-far-future watermark here — measured 6 micro-batches
      // -> 4 at ~0.8 s per batch (state commit + WAL + planning floor).
      drainToTable(s, "q130_mem",
        StreamingOps.intervalJoin(
          side("error"), side("click"),
          keyCol = "user_id", tsCol = "ts",
          windowMs = GapMs, watermarkDelay = "0 seconds",
          joinType = "left_outer"),
        "append",
        sentinels = Some(Sentinels(1, dir, watch)))
        .where(col("l_key") >= 0 && col("l_type") === "error" &&
          (col("r_type").isNull || col("r_type") === "click"))
        .groupBy(col("l_key").as("user_id"),
          unix_millis(col("l_ts")).as("error_ms"),
          unix_millis(col("r_ts")).as("click_ms"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id", "error_ms", "click_ms")
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, event_type, epoch_ns(ts) // 1000000 AS ms
        FROM events)
      SELECT l.user_id, l.ms AS error_ms, r.ms AS click_ms,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM (SELECT * FROM e WHERE event_type = 'error') l
      LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') r
        ON l.user_id = r.user_id
       AND r.ms >= l.ms AND r.ms < l.ms + $GapMs
      GROUP BY 1, 2, 3
      ORDER BY l.user_id, error_ms, click_ms NULLS FIRST"""))

  /** Stream-stream FULL OUTER interval join parity — q130's matrix
    * completed: unmatched ERRORS emit with null click time AND
    * unmatched CLICKS emit with null error time, each only once the
    * watermark proves no in-watermark partner can still land in the
    * window (null emission gated on BOTH sides' watermarks). Sentinels
    * survive both sides' pre-filters to advance the watermark; their
    * rows (matched or side-null) are excluded by type/key sign. The
    * batch oracle is the plain FULL JOIN with NULLS FIRST pinned on
    * both nullable time columns.
    */
  val q189 = Q(
    "q189_stream_fullouter_join_parity",
    (s, dir) => {
      import s.implicits._
      val enc = eventsEncoding(s, dir)
      val watch = watchDirWith(s, dir, "events.parquet" -> "events_000.parquet")
      def side(tpe: String) =
        s.readStream.schema(enc.schema).parquet(watch)
          .where(col("event_type") === tpe ||
            col("event_type") === "sentinel")
          .select(col("user_id"), enc.tsMs.as("ts"), col("event_type"))
      // ONE sentinel drains the join — watermark-driven eviction, same
      // rationale as q130 above.
      drainToTable(s, "q189_mem",
        StreamingOps.intervalJoin(
          side("error"), side("click"),
          keyCol = "user_id", tsCol = "ts",
          windowMs = GapMs, watermarkDelay = "0 seconds",
          joinType = "full_outer"),
        "append",
        sentinels = Some(Sentinels(1, dir, watch)))
        .where(
          (col("l_type").isNull ||
            (col("l_type") === "error" && col("l_key") >= 0)) &&
          (col("r_type").isNull ||
            (col("r_type") === "click" && col("r_key") >= 0)))
        .groupBy(coalesce(col("l_key"), col("r_key")).as("user_id"),
          unix_millis(col("l_ts")).as("error_ms"),
          unix_millis(col("r_ts")).as("click_ms"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id", "error_ms", "click_ms")
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, event_type, epoch_ns(ts) // 1000000 AS ms
        FROM events)
      SELECT coalesce(l.user_id, r.user_id) AS user_id,
             l.ms AS error_ms, r.ms AS click_ms,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM (SELECT * FROM e WHERE event_type = 'error') l
      FULL JOIN (SELECT * FROM e WHERE event_type = 'click') r
        ON l.user_id = r.user_id
       AND r.ms >= l.ms AND r.ms < l.ms + $GapMs
      GROUP BY 1, 2, 3
      ORDER BY user_id, error_ms NULLS FIRST, click_ms NULLS FIRST"""))

  /** Streaming per-key cap parity: each user's first 3 events by
    * (event time, event_id) — the streaming form of q56's batch
    * row_number cap, emitted only as the watermark seals each event
    * (so the pick is deterministic under every admissible arrival
    * order, exactly the batch semantics). Sentinels advance the
    * watermark to drain; the batch oracle is the plain windowed
    * row_number ≤ 3.
    */
  val q132 = Q(
    "q132_stream_per_key_cap_parity",
    (s, dir) => {
      import s.implicits._
      val enc = eventsEncoding(s, dir)
      val watch = watchDirWith(s, dir, "events.parquet" -> "events_000.parquet")
      val evs = s.readStream.schema(enc.schema).parquet(watch)
        .select(col("user_id").as("key"), enc.tsMs.as("ts"),
          col("event_id").as("tie"))
        .as[CapEvent]
      drainToTable(s, "q132_mem",
        StreamingOps.perKeyCapByEventTime(
          evs, cap = 3, watermarkDelay = "0 seconds").toDF(),
        "append",
        sentinels = Some(Sentinels(2, dir, watch)))
        .where(col("key") >= 0)
        .select(col("key").as("user_id"), col("seq"), col("ms"),
          col("tie").as("event_id"))
        .orderBy("user_id", "seq")
    },
    Some("""
      WITH e AS (SELECT user_id, event_id,
                        epoch_ns(ts) // 1000000 AS ms FROM events),
      r AS (SELECT user_id, ms, event_id,
                   CAST(row_number() OVER (
                     PARTITION BY user_id ORDER BY ms, event_id)
                     AS BIGINT) AS seq
            FROM e)
      SELECT user_id, seq, ms, event_id FROM r WHERE seq <= 3
      ORDER BY user_id, seq"""))

  /** SLIDING-window streaming aggregation parity (q52 is tumbling):
    * 1-hour windows every 15 minutes, so each event lands in exactly 4
    * overlapping windows. Complete mode — no drain protocol. The batch
    * oracle derives the same 4 window starts per event (multiples of
    * the slide covering the event) with a 4-row offset cross join.
    */
  val q139 = Q(
    "q139_stream_sliding_window_parity",
    (s, dir) => {
      val enc = eventsEncoding(s, dir)
      val watch = watchDirWith(s, dir, "events.parquet" -> "events_000.parquet")
      val evs = s.readStream.schema(enc.schema).parquet(watch)
        .select(
          enc.tsMs.as("ts"),
          col("event_type"),
          floor(col("value") * 100.0 + 0.5).as("value"))
      drainToTable(s, "q139_mem",
        StreamingOps.windowedCounts(
          evs, watermarkDelay = "10 minutes", windowLen = "1 hour",
          slide = Some("15 minutes")),
        "complete")
        .select(
          unix_millis(col("window_start")).as("window_start_ms"),
          col("event_type"), col("n_events"),
          col("value_sum").cast("long").as("value_cents"))
        .orderBy("window_start_ms", "event_type")
    },
    Some("""
      WITH e AS (
        SELECT event_type, value,
               epoch_ns(ts) // 1000000 AS ms FROM events),
      x AS (SELECT (ms // 900000 - k) * 900000 AS window_start_ms,
                   event_type, value
            FROM e CROSS JOIN (VALUES (0), (1), (2), (3)) g(k))
      SELECT window_start_ms, event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(floor(value*100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents
      FROM x GROUP BY 1, 2
      ORDER BY window_start_ms, event_type"""))

  /** Native session_window parity: the ENGINE-provided stateful
    * session operator (vs q51's flatMapGroupsWithState re-derivation)
    * against the same batch gaps-and-islands oracle — two independent
    * streaming implementations pinned to one ground truth. Append
    * mode; sentinels advance the watermark to seal every session.
    */
  val q140 = Q(
    "q140_stream_session_window_parity",
    (s, dir) => {
      import s.implicits._
      val enc = eventsEncoding(s, dir)
      val watch = watchDirWith(s, dir, "events.parquet" -> "events_000.parquet")
      val evs = s.readStream.schema(enc.schema).parquet(watch)
        .select(enc.tsMs.as("ts"), col("user_id"))
      // ONE sentinel: session_window is a watermark-evicted
      // aggregation (no timers) — the sentinel + no-data follow-up
      // batch seals every real session (q130 rationale).
      drainToTable(s, "q140_mem",
        StreamingOps.sessionWindowCounts(
          evs, GapMs, watermarkDelay = "0 seconds"),
        "append",
        sentinels = Some(Sentinels(1, dir, watch)))
        .where(col("user_id") >= 0)
        .select(col("user_id"), col("start_ms"), col("end_ms"),
          col("n_events"))
        .orderBy("user_id", "start_ms")
    },
    Some(s"""
      WITH e AS (
        SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS ms FROM events),
      marked AS (
        SELECT user_id, ms, event_id,
               CASE WHEN lag(ms) OVER w IS NULL
                         OR ms - lag(ms) OVER w > $GapMs
                    THEN 1 ELSE 0 END AS is_new
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
      numbered AS (
        SELECT user_id, ms,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM marked)
      SELECT user_id, min(ms) AS start_ms, max(ms) AS end_ms,
             CAST(count(*) AS BIGINT) AS n_events
      FROM numbered
      GROUP BY user_id, grp
      ORDER BY user_id, start_ms"""))

  /** Streaming last-touch attribution parity: purchases credit the
    * most recent in-window click per user, emitted as the watermark
    * seals each purchase — the streaming form of q150, pinned to the
    * SAME batch window-SQL oracle. Sentinels advance the watermark to
    * drain every pending purchase.
    */
  val q153 = Q(
    "q153_stream_attribution_parity",
    (s, dir) => {
      import s.implicits._
      val enc = eventsEncoding(s, dir)
      val watch = watchDirWith(s, dir, "events.parquet" -> "events_000.parquet")
      val evs = s.readStream.schema(enc.schema).parquet(watch)
        .where(col("event_type").isin("click", "purchase", "sentinel"))
        .select(col("user_id"), enc.tsMs.as("ts"), col("event_id"),
          col("event_type"),
          floor(col("value") * 100.0 + 0.5).cast("long").as("cents"))
        .as[AttrEvent]
      drainToTable(s, "q153_mem",
        StreamingOps.lastTouchAttribution(
          evs, touchType = "click", convType = "purchase",
          windowMs = AttrWindowMs, watermarkDelay = "0 seconds").toDF(),
        "append",
        sentinels = Some(Sentinels(2, dir, watch)))
        .where(col("user_id") >= 0)
        .select(col("event_id"), col("user_id"), col("ms"),
          col("value_cents"), col("touch_id"), col("touch_age"),
          col("attributed"))
        .orderBy("event_id")
    },
    Some(s"""
      WITH e AS (SELECT event_id, user_id, event_type, value,
                        epoch_ns(ts) // 1000000 AS ms FROM events),
      t AS (SELECT event_id, user_id, ms, event_type,
                   CAST(floor(value*100.0 + 0.5) AS BIGINT) AS value_cents,
                   last_value(CASE WHEN event_type = 'click' THEN ms END
                     IGNORE NULLS) OVER w AS t_ts,
                   last_value(CASE WHEN event_type = 'click' THEN event_id END
                     IGNORE NULLS) OVER w AS t_id
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT event_id, user_id, ms, value_cents,
             CASE WHEN t_ts IS NOT NULL AND ms - t_ts <= $AttrWindowMs
                  THEN t_id END AS touch_id,
             CASE WHEN t_ts IS NOT NULL AND ms - t_ts <= $AttrWindowMs
                  THEN ms - t_ts END AS touch_age,
             CASE WHEN t_ts IS NOT NULL AND ms - t_ts <= $AttrWindowMs
                  THEN 1 ELSE 0 END AS attributed
      FROM t WHERE event_type = 'purchase'
      ORDER BY event_id"""))

  /** Steady-state near-dedup SINK parity (row 187's query gate): the
    * documents corpus arrives as a 3-file stream (doc_id mod 3) through
    * `StreamingOps.nearDupSink` with an empty seed; the accumulated
    * pair store must equal the batch all-pairs truth — the sink's
    * batch-count-independence as an oracle-gated fact, not just a
    * spec. Pairs inside a batch come from fresh×fresh, across batches
    * from fresh×stored-base; the union is exactly the one-shot LSH run.
    */
  val q196 = Q(
    "q196_stream_neardup_sink_parity",
    (s, dir) => {
      val d = graft.Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val state = Scratch.dir(s, "q196_state_")
      StreamingOps.seedNearDupState(
        d.where(lit(false)), state, "doc_id", "text")
      drainForeachBatch(s, "q196",
        (0 until 3).map(k => d.where(col("doc_id") % 3 === k)),
        s"$state/ckpt",
        StreamingOps.nearDupSink(state, "doc_id", "text", threshold = 0.6))
      StreamingOps.nearDupPairs(s, state).orderBy("id_a", "id_b")
    },
    Some(s"""
      SELECT doc_a AS id_a, doc_b AS id_b, jaccard_sim
      FROM (${PipelineQueries.jaccardPairsSql(3, 0.6)})
      ORDER BY id_a, id_b"""))

  /** Late-replay immunity — the watermark DROP path as a hash-gated
    * fact (every other parity drains everything; none proves what the
    * engine REFUSES): after the whole corpus streams through an
    * append-mode windowed aggregation and the watermark reaches
    * max(ts), the bottom half of the corpus is REPLAYED as a late
    * batch. Every replayed row's window closed long ago (window end ≤
    * mid + 1h ≪ watermark), so the engine must drop them all — the
    * output hash-matches the plain batch aggregation; a single
    * accepted late row double-counts an early window and fails the
    * hash. Sentinels drive the watermark past the last window.
    */
  val q202 = Q(
    "q202_stream_late_drop_parity",
    (s, dir) => {
      import s.implicits._
      val enc = eventsEncoding(s, dir)
      val watch = watchDirWith(s, dir, "events.parquet" -> "events_000.parquet")
      val raw = s.read.schema(enc.schema).parquet(s"$dir/events.parquet")
      val span = raw.select(unix_millis(enc.tsMs).as("ms"))
        .agg(min(col("ms")).as("lo"), max(col("ms")).as("hi")).head()
      // replay-safety margin: replayed windows end ≥ 1h under max(ts)
      val cutMs = span.getLong(0) +
        (span.getLong(1) - span.getLong(0)) / 2 - 7200000L
      val evs = s.readStream.schema(enc.schema).parquet(watch)
        .select(enc.tsMs.as("ts"), col("event_type"),
          floor(col("value") * 100.0 + 0.5).as("value"))
      drainToTable(s, "q202_mem",
        StreamingOps.windowedCounts(
          evs, watermarkDelay = "0 seconds", windowLen = "1 hour"),
        "append",
        sentinels = Some(Sentinels(2, dir, watch)),
        lateBatch = Some(() =>
          raw.where(unix_millis(enc.tsMs) < cutMs)
            .write.mode("append").parquet(watch)))
        .where(col("event_type") =!= "sentinel")
        .select(
          unix_millis(col("window_start")).as("window_start_ms"),
          col("event_type"), col("n_events"),
          col("value_sum").cast("long").as("value_cents"))
        .orderBy("window_start_ms", "event_type")
    },
    Some("""
      WITH e AS (
        SELECT event_type, value,
               epoch_ns(ts) // 1000000 AS ms FROM events)
      SELECT (ms // 3600000) * 3600000 AS window_start_ms,
             event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(floor(value*100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents
      FROM e GROUP BY 1, 2
      ORDER BY window_start_ms, event_type"""))

  /** Exactly-once streaming count/sum sink parity: events drain in
    * three micro-batches through [[StreamingOps.countSumSink]]'s
    * per-batchId partial store; the read-side merge must hash-match
    * the plain batch aggregate. Values go through the exact-cents
    * unit so sums are integers (order-independent).
    */
  val q216 = Q(
    "q216_stream_agg_sink_parity",
    (s, dir) => {
      val enc = eventsEncoding(s, dir)
      val cents = floor(col("value") * 100.0 + 0.5).cast("long")
      val src = s.read.schema(enc.schema).parquet(s"$dir/events.parquet")
        .select(col("user_id"), cents.as("cents"))
      val state = Scratch.dir(s, "q216_state_")
      StreamingOps.seedCountSumState(src, state, "user_id", "cents")
      drainForeachBatch(s, "q216",
        (0 until 3).map(k => src.where(pmod(col("user_id"), lit(3)) === k)),
        s"$state/ckpt",
        StreamingOps.countSumSink(state, "user_id", "cents"))
      StreamingOps.countSumState(s, state, "user_id")
        .orderBy("user_id")
    },
    Some("""
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(floor(value*100.0 + 0.5) AS BIGINT))
               AS BIGINT) AS val_sum
      FROM events GROUP BY user_id
      ORDER BY user_id"""))

  /** State-API-v2 sessionization parity — the THIRD independent
    * streaming sessionizer (after q51's flatMapGroupsWithState and
    * q140's native session_window), on `transformWithState`, the API
    * Spark is migrating stateful processing to. Same sentinel drain
    * protocol and the same gaps-and-islands oracle as q51: all three
    * engines' sessionizers must agree with the batch SQL bit-for-bit.
    * The RocksDB state store provider is required by the v2 operator;
    * the conf is scoped to the drain and restored after.
    */
  val q223 = Q(
    "q223_stream_tws_sessionize_parity",
    (s, dir) => {
      import s.implicits._
      val enc = eventsEncoding(s, dir)
      val watch = watchDirWith(s, dir, "events.parquet" -> "events_000.parquet")
      val evs = s.readStream.schema(enc.schema).parquet(watch)
        .select(col("user_id"), enc.tsMs.as("ts"),
          col("event_type"), col("value"))
        .as[StreamEvent]
      drainToTable(s, "q223_mem",
        StreamingOps.sessionizeTws(evs, GapMs,
          watermarkDelay = "0 seconds").toDF(),
        "append",
        sentinels = Some(Sentinels(2, dir, watch)),
        confs = Map("spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider")))
        .where(col("user_id") >= 0)
        .withColumn("session_seq",
          row_number().over(
            Window.partitionBy("user_id").orderBy("start_ms")).cast("long"))
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("start_ms"), col("end_ms"),
          (col("end_ms") - col("start_ms")).as("duration_ms"))
        .orderBy("user_id", "session_seq")
    },
    q51.oracle)

  /** Exactly-once streaming Delta sink parity: documents drain in two
    * micro-batches (maxFilesPerTrigger=1) through
    * [[StreamingOps.deltaAppendSink]], each batch an
    * `idempotentAppend` carrying (appId, batchId) as the protocol
    * `txn` marker. After the drain, batch 0 is REPLAYED through the
    * same idempotent path and must no-op — then the table read back
    * through DeltaRead must hold every document exactly once, which
    * the batch oracle checks by hash. This is the "stream the corpus
    * into the lake" composition: streaming surface × Delta write
    * interop in one gate.
    */
  val q236 = Q(
    "q236_stream_delta_sink_parity",
    (s, dir) => {
      import graft.sources.{DeltaRead, DeltaWrite}
      val src = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"))
      val table = Scratch.dir(s, "q236_table_")
      val appId = "q236app"
      drainForeachBatch(s, "q236",
        (0 until 2).map(k => src.where(pmod(col("doc_id"), lit(2)) === k)),
        Scratch.dir(s, "q236_ckpt_"),
        StreamingOps.deltaAppendSink(table, appId))
      // crash-replay immunity: re-offer batch 0's exact content under
      // its original txn version — must no-op
      val replay = DeltaWrite.idempotentAppend(
        src.where(pmod(col("doc_id"), lit(2)) === 0), table, appId, 0L)
      require(replay.isEmpty,
        "replayed batch 0 double-committed — txn idempotence broken")
      require(DeltaRead.versions(s, table).size == 2,
        "expected exactly one commit per micro-batch")
      DeltaRead.read(s, table)
        .select(col("doc_id"), col("lang"),
          md5(col("text")).as("txt_md5"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, lang, md5(text) AS txt_md5
      FROM documents ORDER BY doc_id"""))

  /** Streaming WARC intake parity: crawl shards land in a watched
    * directory and parse to record rows through
    * [[graft.sources.Warc.readStreamDir]] — the SAME parser as the
    * batch reader (one code path), executed as a real micro-batch
    * job into a memory sink. The third shard carries a truncated
    * tail, so the streaming path must reproduce the batch
    * prefix-salvage decline row too. Hash-compared against the
    * documents-table replay.
    */
  val q238 = Q(
    "q238_stream_warc_ingest_parity",
    (s, dir) => {
      import graft.sources.{Warc, WarcFixture => WFx}
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val fixture = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") < 30)
        .select(col("doc_id"), col("text"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1)
      def resp(d: (Long, String)): Array[Byte] =
        WFx.response(s"http://example.com/doc/${d._1}", 200,
          d._2.getBytes(utf8))
      val watch = Scratch.dir(s, "q238_watch_")
      (0 until 3).foreach { k =>
        val part = fixture
          .filter(d => d._1 >= k * 10 && d._1 < (k + 1) * 10)
          .map(resp).toSeq
        val tail =
          if (k < 2) Seq.empty
          else Seq(WFx.record(Seq("WARC-Type" -> "resource"),
            Array.fill[Byte](64)(7)).dropRight(40))
        graft.ScratchSpace.writeBytes(s, watch, s"w${k + 1}.warc.gz",
          WFx.gzMembers(part ++ tail))
      }
      drainToTable(s, "q238_mem",
        Warc.readStreamDir(s, watch,
            idFromPath = p => regexp_extract(p, "w(\\d+)\\.warc", 1))
          .select(
            col("file_id"), col("rec_idx"), col("warc_type"),
            col("target_uri"), col("http_status"), col("payload_len"),
            md5(col("payload")).as("payload_md5")),
        "append")
        .orderBy("file_id", "rec_idx")
    },
    Some("""
      WITH r AS (
        SELECT CAST(doc_id // 10 + 1 AS BIGINT) AS file_id,
               CAST(doc_id % 10 AS INTEGER) AS rec_idx,
               'response' AS warc_type,
               'http://example.com/doc/' || doc_id AS target_uri,
               CAST(200 AS INTEGER) AS http_status,
               CAST(strlen(text) AS BIGINT) AS payload_len,
               md5(text) AS payload_md5
        FROM documents WHERE doc_id < 30
        UNION ALL
        SELECT 3, NULL, NULL, NULL, NULL, NULL, NULL)
      SELECT file_id, rec_idx, warc_type, target_uri, http_status,
             payload_len, payload_md5
      FROM r ORDER BY file_id, rec_idx NULLS FIRST"""))

  /** Streaming WebDataset intake parity: tar shards land in a watched
    * directory and parse to member rows via
    * [[graft.sources.Tar.readStreamDir]] — the SAME parser as the
    * batch reader — through a real micro-batch job. The second shard
    * is gzipped and the third truncated mid-member, so gzip sniffing
    * and the prefix-salvage decline row are exercised under streaming
    * execution. Hash-compared against the documents-table replay.
    */
  val q245 = Q(
    "q245_stream_tar_ingest_parity",
    (s, dir) => {
      import graft.sources.{Tar, TarFixture => TFx}
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val fixture = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") < 20)
        .select(col("doc_id"), col("text"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1)
      def member(d: (Long, String)): Array[Byte] =
        TFx.member(f"${d._1}%06d.txt", d._2.getBytes(utf8))
      val watch = Scratch.dir(s, "q245_watch_")
      graft.ScratchSpace.writeBytes(s, watch, "t1.tar",
        TFx.archive(fixture.filter(_._1 < 10).map(member).toSeq))
      graft.ScratchSpace.writeBytes(s, watch, "t2.tar.gz",
        TFx.archiveGz(fixture.filter(_._1 >= 10).map(member).toSeq))
      graft.ScratchSpace.writeBytes(s, watch, "t3.tar",
        Array.concat((fixture.filter(_._1 < 3).map(member) :+
          TFx.member("cut.bin", new Array[Byte](600)).dropRight(700))
          .toSeq: _*))
      drainToTable(s, "q245_mem",
        Tar.readStreamDir(s, watch,
            idFromPath = p => regexp_extract(p, "t(\\d+)\\.tar", 1))
          .select(
            col("file_id"), col("entry_idx"), col("name"), col("size"),
            md5(col("payload")).as("payload_md5")),
        "append")
        .orderBy("file_id", "entry_idx")
    },
    Some("""
      WITH r AS (
        SELECT CAST(doc_id // 10 + 1 AS BIGINT) AS file_id,
               CAST(doc_id % 10 AS INTEGER) AS entry_idx,
               printf('%06d.txt', doc_id) AS name,
               CAST(strlen(text) AS BIGINT) AS size,
               md5(text) AS payload_md5
        FROM documents WHERE doc_id < 20
        UNION ALL
        SELECT 3, CAST(doc_id AS INTEGER), printf('%06d.txt', doc_id),
               strlen(text), md5(text)
        FROM documents WHERE doc_id < 3
        UNION ALL
        SELECT 3, NULL, NULL, NULL, NULL)
      SELECT file_id, entry_idx, name, size, payload_md5
      FROM r ORDER BY file_id, entry_idx NULLS FIRST"""))

  /** Streaming zip intake parity — completes the container matrix
    * (every batch reader has a streaming twin through the same
    * parser): archives land in a watched directory, members parse per
    * micro-batch, the third archive is cut mid-deflate so the
    * salvage decline row is exercised under streaming execution.
    */
  val q248 = Q(
    "q248_stream_zip_ingest_parity",
    (s, dir) => {
      import graft.sources.{Zip, ZipFixture}
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val fixture = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") < 20)
        .select(col("doc_id"), col("text"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1)
      def member(d: (Long, String)): (String, Array[Byte]) =
        f"${d._1}%06d.txt" -> d._2.getBytes(utf8)
      val watch = Scratch.dir(s, "q248_watch_")
      graft.ScratchSpace.writeBytes(s, watch, "z1.zip",
        ZipFixture.archive(fixture.filter(_._1 < 10).map(member).toSeq))
      graft.ScratchSpace.writeBytes(s, watch, "z2.zip",
        ZipFixture.archive(fixture.filter(_._1 >= 10).map(member).toSeq))
      var seed = 424242L
      val noise = Array.fill[Byte](100000) {
        seed = seed * 6364136223846793005L + 1442695040888963407L
        (seed >>> 33).toByte
      }
      graft.ScratchSpace.writeBytes(s, watch, "z3.zip",
        ZipFixture.archive(
          fixture.filter(_._1 < 3).map(member).toSeq :+
            ("noise.bin" -> noise)).dropRight(50000))
      drainToTable(s, "q248_mem",
        Zip.readStreamDir(s, watch,
            idFromPath = p => regexp_extract(p, "z(\\d+)\\.zip", 1))
          .select(
            col("file_id"), col("entry_idx"), col("name"), col("size"),
            md5(col("payload")).as("payload_md5")),
        "append")
        .orderBy("file_id", "entry_idx")
    },
    Some("""
      WITH r AS (
        SELECT CAST(doc_id // 10 + 1 AS BIGINT) AS file_id,
               CAST(doc_id % 10 AS INTEGER) AS entry_idx,
               printf('%06d.txt', doc_id) AS name,
               CAST(strlen(text) AS BIGINT) AS size,
               md5(text) AS payload_md5
        FROM documents WHERE doc_id < 20
        UNION ALL
        SELECT 3, CAST(doc_id AS INTEGER), printf('%06d.txt', doc_id),
               strlen(text), md5(text)
        FROM documents WHERE doc_id < 3
        UNION ALL
        SELECT 3, NULL, NULL, NULL, NULL)
      SELECT file_id, entry_idx, name, size, payload_md5
      FROM r ORDER BY file_id, entry_idx NULLS FIRST"""))

  /** Streaming JSONL intake parity — the LAST container twin
    * (WARC/tar/zip/JSONL now all read batch AND streaming through one
    * parser each): gzipped JSONL written by the engine's own sink
    * plus a hand file with corrupt lines drain through a micro-batch
    * job; the streaming quarantine must preserve raw corrupt lines
    * exactly like the batch reader.
    */
  val q250 = Q(
    "q250_stream_jsonl_ingest_parity",
    (s, dir) => {
      import graft.sources.Jsonl
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType)))
      val watch = Scratch.dir(s, "q250_watch_")
      Jsonl.write(
        s.read.parquet(s"$dir/documents.parquet")
          .where(col("doc_id") < 40)
          .select(col("doc_id").as("id"), col("text"), col("lang")),
        watch, gzip = true)
      graft.ScratchSpace.writeBytes(s, watch, "extra.jsonl", Seq(
        """{"id":900,"text":"niner hundred","lang":"en"}""",
        """not json at all {{{""",
        """{"id":12,""",
        "").mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val parsed = drainToTable(s, "q250_mem",
        Jsonl.readStreamDir(s, watch, schema), "append")
      val (good, bad) = Jsonl.split(parsed)
      good.select(
          col("id"), col("lang"), md5(col("text")).as("txt_md5"),
          lit(false).as("is_corrupt"))
        .unionAll(bad.select(
          lit(null).cast("long").as("id"),
          lit(null).cast("string").as("lang"),
          md5(col(Jsonl.Corrupt)).as("txt_md5"),
          lit(true).as("is_corrupt")))
        .orderBy("is_corrupt", "id", "txt_md5")
    },
    Some("""
      WITH rows_all AS (
        SELECT doc_id AS id, lang, md5(text) AS txt_md5,
               FALSE AS is_corrupt
        FROM documents WHERE doc_id < 40
        UNION ALL
        SELECT CAST(900 AS BIGINT), 'en', md5('niner hundred'), FALSE
        UNION ALL
        SELECT NULL, NULL, md5('not json at all {{{'), TRUE
        UNION ALL
        SELECT NULL, NULL, md5('{"id":12,'), TRUE)
      SELECT id, lang, txt_md5, is_corrupt
      FROM rows_all
      ORDER BY is_corrupt, id NULLS FIRST, txt_md5"""))

  // ---- q258: streaming Avro OCF intake parity ----
  // The Avro twin of q250: new .avro objects landing in a watched dir
  // parse per micro-batch through the SAME per-file reader as batch
  // q257 — including the trailing-sync truncation marker, which must
  // reproduce under streaming execution.
  val q258 = Q(
    "q258_stream_avro_ingest_parity",
    (s, dir) => {
      import graft.sources.{AvroOcf, AvroOcfFixture => AFx}
      val schema = StructType(Seq(
        StructField("id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType)))
      val watch = Scratch.dir(s, "q258_watch_")
      val rows = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") < 30)
        .select(col("doc_id").as("id"), col("text"), col("lang"))
        .orderBy("id")
        .collect().map(r => Seq[Any](r.getLong(0), r.getString(1),
          r.getString(2))).toSeq
      AFx.write(s, watch, "a.avro", schema, rows.take(15))
      AFx.write(s, watch, "b.avro", schema, rows.drop(15), deflate = true)
      AFx.write(s, watch, "d.avro", schema, Seq(
        Seq[Any](900L, "lost one", "en"),
        Seq[Any](901L, "lost two", "de")))
      val p = new org.apache.hadoop.fs.Path(watch, "d.avro")
      val fs = p.getFileSystem(s.sessionState.newHadoopConf())
      val len = fs.getFileStatus(p).getLen
      val bytes = new Array[Byte](len.toInt)
      val in = fs.open(p)
      try in.readFully(0L, bytes) finally in.close()
      val out = fs.create(p, true)
      try out.write(bytes, 0, len.toInt - 8) finally out.close()
      val parsed = drainToTable(s, "q258_mem",
        AvroOcf.readStreamDir(s, watch, schema), "append")
      val (good, bad) = AvroOcf.split(parsed)
      good.select(
          col("id"), col("lang"), md5(col("text")).as("txt_md5"),
          lit(false).as("is_corrupt"))
        .unionAll(bad.select(
          lit(null).cast("long").as("id"),
          lit(null).cast("string").as("lang"),
          lit(null).cast("string").as("txt_md5"),
          lit(true).as("is_corrupt")))
        .orderBy("is_corrupt", "id", "txt_md5")
    },
    Some("""
      SELECT * FROM (
        SELECT doc_id AS id, lang, md5(text) AS txt_md5,
               FALSE AS is_corrupt
        FROM documents WHERE doc_id < 30
        UNION ALL
        SELECT NULL, NULL, NULL, TRUE)
      ORDER BY is_corrupt, id NULLS FIRST, txt_md5"""))

  /** Streaming Delta SOURCE parity (the lake→lake pipeline loop,
    * VERDICT r17 item 7): a source Delta table grows by appends; the
    * driver-polled [[graft.sources.DeltaIncremental.drain]] consumes
    * each new commit version EXACTLY ONCE into a sink Delta table via
    * the idempotent-append sink (appId = the checkpoint's identity,
    * txnVersion = SOURCE commit version). Crash-replay immunity is
    * require()-gated by DELETING the last offset marker (simulating a
    * crash between sink commit and cursor advance) and re-draining:
    * the replayed version no-ops at the sink. An OPTIMIZE on the
    * source mid-stream must stay invisible (dataChange=false). Final
    * sink content hash-compares against the source's full batch read.
    */
  val q277 = Q(
    "q277_stream_delta_source_parity",
    (s, dir) => {
      import graft.sources.{DeltaIncremental, DeltaRead, DeltaWrite}
      val nation = graft.Tables(s, dir, "nation")
      val base = nation.select(
        col("n_nationkey").cast("long").as("k"),
        col("n_name").as("name"))
      val src = Scratch.dir(s, "q277_src_")
      val sink = Scratch.dir(s, "q277_sink_")
      val ckpt = Scratch.dir(s, "q277_ckpt_")
      val appId = s"q277-$ckpt"
      def sinkBatch(df: DataFrame, v: Long): Unit =
        DeltaWrite.idempotentAppend(
          df.drop("__commit_version"), sink, appId, v): Unit
      // two appends, drain both
      DeltaWrite.append(base.where(col("k") < 10), src): Unit
      DeltaWrite.append(base.where(col("k") >= 10 && col("k") < 20),
        src): Unit
      val r1 = DeltaIncremental.drain(s, src, ckpt, sinkBatch)
      require(r1.processedVersions == Seq(0L, 1L), s"q277: $r1")
      // crash simulation: the LAST marker vanishes (crash after sink
      // commit, before cursor advance) — the replay must no-op
      val hc = s.sessionState.newHadoopConf()
      val off = new org.apache.hadoop.fs.Path(ckpt,
        "offsets/v00000000000000000001")
      require(off.getFileSystem(hc).delete(off, false),
        "q277: marker delete")
      val sinkVersionsBefore = DeltaRead.versions(s, sink).size
      val r2 = DeltaIncremental.drain(s, src, ckpt, sinkBatch)
      require(r2.processedVersions == Seq(1L) &&
        DeltaRead.versions(s, sink).size == sinkVersionsBefore,
        "q277: crash replay must no-op at the idempotent sink")
      // source compaction stays invisible to the incremental consumer
      DeltaWrite.append(base.where(col("k") >= 20), src): Unit
      DeltaWrite.optimize(s, src): Unit
      val r3 = DeltaIncremental.drain(s, src, ckpt, sinkBatch)
      require(r3.processedVersions.size == 2,
        s"q277: append + optimize versions, got $r3")
      require(DeltaRead.read(s, sink).count() == nation.count(),
        "q277: sink complete, no duplicates")
      DeltaRead.read(s, sink).orderBy("k")
    },
    Some("""
      SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name
      FROM nation
      ORDER BY k"""))

  /** Streaming Iceberg SOURCE parity — q277's twin for the other
    * format: [[graft.sources.IcebergIncremental.drain]] consumes each
    * new snapshot exactly once into a sink Delta table via the
    * idempotent-append sink keyed by SOURCE snapshot id. Crash-replay
    * immunity require()-gated by deleting the last snapshot marker
    * and re-draining; final sink content hash-compares against the
    * source's full batch read.
    */
  val q281 = Q(
    "q281_stream_iceberg_source_parity",
    (s, dir) => {
      import graft.sources.{DeltaRead, DeltaWrite, IcebergIncremental,
        IcebergWrite}
      val nation = graft.Tables(s, dir, "nation")
      val base = nation.select(
        col("n_nationkey").cast("long").as("k"),
        col("n_name").as("name"))
      val src = Scratch.dir(s, "q281_src_")
      val sink = Scratch.dir(s, "q281_sink_")
      val ckpt = Scratch.dir(s, "q281_ckpt_")
      val appId = s"q281-$ckpt"
      def sinkBatch(df: DataFrame, snapId: Long): Unit =
        DeltaWrite.idempotentAppend(
          df.drop("__snapshot_id"), sink, appId, snapId): Unit
      require(IcebergWrite.append(base.where(col("k") < 12), src) == 1L,
        "q281: snap 1")
      require(IcebergWrite.append(
        base.where(col("k") >= 12 && col("k") < 20), src) == 2L,
        "q281: snap 2")
      val r1 = IcebergIncremental.drain(s, src, ckpt, sinkBatch)
      require(r1.processedSnapshots == Seq(1L, 2L), s"q281: $r1")
      // crash simulation: the last marker vanishes — replay must no-op
      val hc = s.sessionState.newHadoopConf()
      val off = new org.apache.hadoop.fs.Path(ckpt,
        "offsets/s00000000000000000002")
      require(off.getFileSystem(hc).delete(off, false),
        "q281: marker delete")
      val before = DeltaRead.versions(s, sink).size
      val r2 = IcebergIncremental.drain(s, src, ckpt, sinkBatch)
      require(r2.processedSnapshots == Seq(2L) &&
        DeltaRead.versions(s, sink).size == before,
        "q281: crash replay must no-op at the idempotent sink")
      require(IcebergWrite.append(base.where(col("k") >= 20), src) == 3L,
        "q281: snap 3")
      val r3 = IcebergIncremental.drain(s, src, ckpt, sinkBatch)
      require(r3.processedSnapshots == Seq(3L), s"q281: $r3")
      require(DeltaRead.read(s, sink).count() == nation.count(),
        "q281: sink complete, no duplicates")
      DeltaRead.read(s, sink).orderBy("k")
    },
    Some("""
      SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name
      FROM nation
      ORDER BY k"""))

  /** Exactly-once streaming ICEBERG sink parity — q236's twin for the
    * other format: micro-batches land as idempotent Iceberg appends
    * (snapshot-summary txn guard keyed by batchId); a crash-replay of
    * batch 0 must no-op. One snapshot per micro-batch; final table
    * content hash-compares against the batch replay of the source.
    */
  val q282 = Q(
    "q282_stream_iceberg_sink_parity",
    (s, dir) => {
      import graft.sources.{IcebergRead, IcebergWrite}
      val src = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"))
      val table = Scratch.dir(s, "q282_table_")
      val appId = "q282app"
      drainForeachBatch(s, "q282",
        (0 until 2).map(k => src.where(pmod(col("doc_id"), lit(2)) === k)),
        Scratch.dir(s, "q282_ckpt_"),
        (batch, batchId) =>
          IcebergWrite.idempotentAppend(batch, table, appId, batchId): Unit)
      // crash-replay immunity: re-offer batch 0 under its original
      // txn version — must no-op
      require(IcebergWrite.idempotentAppend(
        src.where(pmod(col("doc_id"), lit(2)) === 0), table, appId,
        0L).isEmpty,
        "q282: replayed batch 0 double-committed")
      require(IcebergRead.snapshots(s, table).size == 2,
        "q282: one snapshot per micro-batch")
      IcebergRead.read(s, table)
        .select(col("doc_id"), col("lang"),
          md5(col("text")).as("txt_md5"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, lang, md5(text) AS txt_md5
      FROM documents ORDER BY doc_id"""))

  val all: Seq[Q] =
    Seq(q51, q52, q58, q59, q78, q108, q130, q132, q139, q140, q153, q189,
      q196, q202, q216, q223, q236, q238, q245, q248, q250, q258, q277,
      q281, q282)
}
