package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one operation did: whether its outputs checked out, and how
  * much input it completed.
  */
final case class OpOutcome(
    ok: Boolean,
    rows: Long,
    inputBytes: Long,
    objects: Long = 0L,
    error: String = "")

/** A benchmark workload. One client runs it in a closed loop: `op` is
  * called again only after the previous call returned.
  */
trait Workload {
  /** Stage the workload on a fresh session (counted in set-up time). */
  def start(spark: SparkSession, tracer: Tracer, rep: Int): Unit
  def hasInput: Boolean
  def op(i: Int): OpOutcome
  /** Output checks made after the timed phase: failed operation ids
    * and named whole-run checks.
    */
  def check(): (Set[Int], Map[String, Boolean])
  def stop(): Unit
}

/** A workload made of two parts. One operation runs one operation of
  * each, in order; it fails if either part's does.
  */
final class Both(first: Workload, second: Workload) extends Workload {
  def start(spark: SparkSession, tracer: Tracer, rep: Int): Unit = {
    first.start(spark, tracer, rep)
    second.start(spark, tracer, rep)
  }
  def hasInput: Boolean = first.hasInput && second.hasInput
  def op(i: Int): OpOutcome = {
    val (a, b) = (first.op(i), second.op(i))
    OpOutcome(a.ok && b.ok, a.rows + b.rows, a.inputBytes + b.inputBytes,
      a.objects + b.objects, Seq(a.error, b.error).filter(_.nonEmpty).mkString("; "))
  }
  def check(): (Set[Int], Map[String, Boolean]) = {
    val (fa, ca) = first.check()
    val (fb, cb) = second.check()
    (fa ++ fb, ca ++ cb)
  }
  def stop(): Unit = { first.stop(); second.stop() }
}

/** Runs one workload: `--setups` times (session build, staging and one
  * cold operation, each timed), then `--warmup` untimed operations,
  * then closed-loop operations for `--seconds`, then the output checks. Writes every raw measurement
  * to `--out` as JSON; perfbench/run.py turns them into metrics.
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def readJson(path: String): JsonNode = json.readTree(new File(path))

  private val t0 = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs $msg")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = new File(a("work")).getAbsolutePath
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val setups = a("setups").toInt
    val warmup = a("warmup").toInt
    val cores = a("cores").toInt
    val parts = readJson(s"$work/manifest.json").get("parts")
    val wl: Workload = workload match {
      case "landing_ingest" =>
        new Both(new Landing(work, parts.get("landing")), new Sessions(work, parts.get("events")))
      case "neardup_curate" =>
        new Both(new Curate(work, parts.get("curate")),
          new NearDupStream(work, parts.get("stream_docs")))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val listener = new JobListener
    def session(): SparkSession = {
      val spark = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.default.parallelism", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.graft.scratch.dir", s"file:$work/scratch")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark.sparkContext.addSparkListener(listener)
      spark
    }

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    var opId = 0
    def runOp(tracer: Tracer, phase: String): Unit = {
      val i = opId
      opId += 1
      val t0 = tracer.nowNs()
      val o =
        try tracer.operation(i)(wl.op(i))
        catch {
          case NonFatal(e) =>
            System.err.println(s"operation $i failed: $e")
            OpOutcome(ok = false, 0L, 0L, error = e.toString)
        }
      val t1 = tracer.nowNs()
      ops += Map("i" -> i, "phase" -> phase, "traced" -> tracer.enabled,
        "start_ns" -> t0, "end_ns" -> t1, "ok" -> o.ok, "rows" -> o.rows,
        "input_bytes" -> o.inputBytes, "objects" -> o.objects,
        "error" -> o.error)
    }

    var spark: SparkSession = null
    var tracer: Tracer = null
    val setupS = mutable.ArrayBuffer.empty[Double]
    for (rep <- 1 to setups) {
      if (spark != null) { wl.stop(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session()
      tracer = new Tracer(spark.sparkContext)
      wl.start(spark, tracer, rep)
      runOp(tracer, "setup")
      setupS += (System.nanoTime() - t0) / 1e9
      log(f"set-up $rep took ${setupS.last}%.2fs")
    }

    // JIT warm-up: the first few operations after the set-ups still run
    // partly interpreted code and drift down by tens of per cent.
    for (_ <- 1 to warmup if wl.hasInput) runOp(tracer, "warmup")

    // Sessions stopped by earlier set-ups leave garbage behind; collect
    // it now rather than inside the first timed operation.
    System.gc()
    val heap = new Jvm.RetainedHeapPeak
    val fs0 = FsStats.snapshot()
    val gc0 = Jvm.gcMillis()
    heap.reset()
    val w0 = tracer.nowNs()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var k = 0
    // At least two operations, whatever the run length: a median of one
    // sample is as noisy as the host, and a traced run needs both a
    // traced and an untraced operation to measure the tracing overhead.
    while ((System.nanoTime() < deadline || k < 2) && wl.hasInput) {
      tracer.enabled = trace && k % 2 == 0
      runOp(tracer, "timed")
      k += 1
    }
    tracer.enabled = false
    val w1 = tracer.nowNs()
    val heapPeak = heap.peak()
    heap.stop()
    val window = Map(
      "start_ns" -> w0, "end_ns" -> w1, "fs" -> FsStats.delta(fs0, FsStats.snapshot()),
      "gc_ms" -> (Jvm.gcMillis() - gc0), "heap_peak_bytes" -> heapPeak,
      "inputs_exhausted" -> !wl.hasInput)

    log(s"timed phase ran $k operations")
    val (failedOps, checks) =
      try wl.check()
      catch {
        case NonFatal(e) =>
          System.err.println(s"output check failed to run: $e")
          (ops.map(_("i").asInstanceOf[Int]).toSet, Map("checks_ran" -> false))
      }
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    val result = Map(
      "workload" -> workload, "cores" -> cores, "setup_s" -> setupS,
      "ops" -> ops, "window" -> window, "failed_ops" -> failedOps.toSeq.sorted,
      "checks" -> checks, "jobs" -> listener.finished.map(_.toMap),
      "spans" -> tracer.spans.map(_.toMap), "span_group_prefix" -> tracer.GroupPrefix)
    log("checks done")
    wl.stop()
    spark.stop()
    val out = new File(a("out"))
    Files.writeString(out.toPath, json.writeValueAsString(result))
  }
}
