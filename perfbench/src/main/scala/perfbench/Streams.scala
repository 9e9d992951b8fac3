package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.Dedup
import graft.streaming.{StreamEvent, StreamingOps}

/** A long-running file-source stream that one operation feeds one file
  * and drains. Each set-up gets its own source, checkpoint and state
  * directories under `dir`.
  */
abstract class StreamPart(work: String) extends Workload {
  import Streams._
  protected var spark: SparkSession = _
  protected var tracer: Tracer = _
  protected var dir: String = _
  protected var query: StreamingQuery = _
  protected var next = 0
  private val seenBatches = mutable.Set.empty[Long]

  /** Name of the stream: its directory, and its progress counter prefix. */
  protected def name: String
  protected def inputs: Int
  /** Starts the stream reading `src` on the staged session. */
  protected def startQuery(src: String, rep: Int): StreamingQuery
  /** The step's input file for step `n`. */
  protected def input(n: Int): String

  def start(spark: SparkSession, tracer: Tracer, rep: Int): Unit = {
    this.spark = spark
    this.tracer = tracer
    dir = s"$work/$name-run/rep-$rep"
    seenBatches.clear()
    new File(s"$dir/src").mkdirs()
    // Sessions close in the next data batch instead of an extra no-data
    // batch, so every drain runs exactly one micro-batch.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    query = startQuery(s"file:$dir/src", rep)
  }

  def hasInput: Boolean = next < inputs

  /** Lands step `n`'s file and drains the stream; returns the bytes landed. */
  protected def step(n: Int): Long = {
    val src = input(n)
    val bytes = tracer.span("bench.land") {
      land(src, s"$dir/src/${new File(src).getName}")
    }
    tracer.span(s"stream.drain_$name") {
      query.processAllAvailable()
      progress()
    }
    bytes
  }

  /** Per-phase durations and state-store figures of the micro-batches
    * the last drain ran, from the query's progress reports.
    */
  private def progress(): Unit = {
    val prefix = s"stream.$name"
    val fresh = query.recentProgress.filter(p =>
      p.durationMs.containsKey("addBatch") && !seenBatches(p.batchId))
    fresh.foreach(p => seenBatches += p.batchId)
    tracer.count(s"$prefix.batches", fresh.length)
    for (p <- fresh; (k, v) <- p.durationMs.asScala)
      tracer.count(s"$prefix.$k", v.doubleValue)
    for (p <- fresh; s <- p.stateOperators) {
      tracer.count("state.commit_ms", s.commitTimeMs.toDouble)
    }
    fresh.lastOption.flatMap(_.stateOperators.headOption).foreach { s =>
      tracer.count("state.rows_total", s.numRowsTotal.toDouble)
      tracer.count("state.memory_bytes", s.memoryUsedBytes.toDouble)
    }
  }

  protected def healthy: Boolean = query.exception.isEmpty

  def stop(): Unit = {
    if (query != null) query.stop()
    query = null
  }
}

/** The dedup code used incrementally: near-dup detection of each fresh
  * drop of documents against everything seen, through
  * `foreachBatch(StreamingOps.nearDupSink)`.
  */
final class NearDupStream(work: String, manifest: JsonNode) extends StreamPart(work) {
  import Streams._
  private val sizes = manifest.get("sizes")
  private val docsPerDrop = sizes.get("docs_per_drop").asInt
  private val baseDocs = manifest.get("base_docs").asLong
  // drop number -> operation id, for the drops landed in the current run
  private val landed = mutable.LinkedHashMap.empty[Int, Int]

  protected def name = "neardup"
  protected def inputs: Int = sizes.get("drops").asInt
  protected def input(n: Int) = f"$work/stream/docs/drop-$n%06d.jsonl"

  protected def startQuery(src: String, rep: Int): StreamingQuery = {
    landed.clear()
    val base = spark.read.schema(DocSchema).json(s"$work/stream/base.jsonl")
    StreamingOps.seedNearDupState(base, s"file:$dir/state", "doc_id", "text")
    val sink = StreamingOps.nearDupSink(s"file:$dir/state", "doc_id", "text")
    val traced: (DataFrame, Long) => Unit =
      (df, id) => this.tracer.span("stream.sink_call")(sink(df, id))
    spark.readStream.schema(DocSchema).json(src)
      .writeStream.queryName(s"neardup_$rep")
      .option("checkpointLocation", s"file:$dir/ckpt")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .foreachBatch(traced)
      .start()
  }

  def op(i: Int): OpOutcome = {
    val n = next
    next += 1
    landed(n) = i
    val bytes = step(n)
    OpOutcome(healthy, docsPerDrop, bytes, error = if (healthy) "" else "stream query failed")
  }

  /** The streamed pairs equal one batch `minhashNearDup` over the same
    * documents, without the base×base pairs the sink never probes.
    * A mismatch fails the operation that landed the pair's newer doc.
    */
  def check(): (Set[Int], Map[String, Boolean]) = {
    val files = s"$work/stream/base.jsonl" +: landed.keys.toSeq.map(input)
    val all = spark.read.schema(DocSchema).json(files: _*)
    def key(a: Long, b: Long, j: Double) = (a, b, math.round(j * 1e4))
    val batch = Dedup.minhashNearDup(all, "doc_id", "text").collect()
      .map(r => key(r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => math.max(a, b) >= baseDocs }.toSet
    val streamed = StreamingOps.nearDupPairs(spark, s"file:$dir/state").collect()
      .map(r => key(r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val wrong = (batch diff streamed) ++ (streamed diff batch)
    val failed = wrong.map { case (a, b, _) =>
      landed.getOrElse(((math.max(a, b) - baseDocs) / docsPerDrop).toInt, -1)
    }.filter(_ >= 0)
    (failed, Map("stream_pairs_match_batch" -> wrong.isEmpty,
      "stream_pairs_nonempty" -> streamed.nonEmpty))
  }
}

/** Stateful sessionization (`StreamingOps.sessionize`) of event-time
  * ordered event slices: the streaming state store.
  */
final class Sessions(work: String, manifest: JsonNode) extends StreamPart(work) {
  import Streams._
  private val sizes = manifest.get("sizes")

  protected def name = "sessionize"
  protected def inputs: Int = sizes.get("slices").asInt
  protected def input(n: Int) = f"$work/stream/events/slice-$n%06d.jsonl"

  protected def startQuery(src: String, rep: Int): StreamingQuery = {
    val session = spark
    import session.implicits._
    val events = spark.readStream.schema(EventSchema)
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSS")
      .json(src).as[StreamEvent]
    StreamingOps.sessionize(events, GapMs, WatermarkDelay)
      .writeStream.queryName(s"sessions_$rep")
      .option("checkpointLocation", s"file:$dir/ckpt")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .format("noop")
      .start()
  }

  def op(i: Int): OpOutcome = {
    val n = next
    next += 1
    val bytes = step(n)
    tracer.measure("state.dir_bytes")(Curate.dirBytes(new File(s"$dir/ckpt/state")).toDouble)
    OpOutcome(healthy, sizes.get("events_per_slice").asLong, bytes,
      error = if (healthy) "" else "stream query failed")
  }

  /** Each slice's drain is checked by the query staying healthy. */
  def check(): (Set[Int], Map[String, Boolean]) =
    (Set.empty, Map("sessions_query_healthy" -> healthy))
}

object Streams {
  val TriggerMs = 100L
  val GapMs = 30000L
  val WatermarkDelay = "10 seconds"
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val EventSchema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("ts", TimestampType),
    StructField("event_type", StringType), StructField("value", DoubleType)))

  /** Atomic landing: file sources must never see a half-written file. */
  def land(src: String, dst: String): Long = {
    val from = new File(src).toPath
    val tmp = new File(new File(dst).getParentFile, "." + new File(dst).getName + ".tmp").toPath
    Files.copy(from, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, new File(dst).toPath, StandardCopyOption.ATOMIC_MOVE)
    Files.size(from)
  }
}
