package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** A closed span: a named interval around one call into a layer.
  * Times are epoch nanoseconds; `parent` is 0 for an operation's root.
  */
final case class Span(
    id: Long,
    name: String,
    parent: Long,
    op: Int,
    thread: String,
    startNs: Long,
    endNs: Long,
    counts: Map[String, Double],
    fs: Map[String, Long],
    gcMs: Long) {
  def toMap: Map[String, Any] = Map(
    "id" -> id, "name" -> name, "parent" -> parent, "op" -> op,
    "thread" -> thread, "start_ns" -> startNs, "end_ns" -> endNs,
    "counts" -> counts, "fs" -> fs, "gc_ms" -> gcMs)
}

/** Records spans around the benchmark's calls into each layer, kept in
  * memory and written out when the run ends. While a span is open on a
  * thread, the Spark job group of that thread is the span's id, so the
  * [[JobListener]] can attribute every job to the span that caused it.
  *
  * Tracing is switched per operation (`enabled`); when off, `span`
  * only runs its body and `boundary` returns its input unchanged.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  @volatile private var currentOp = -1
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  private val closed = mutable.ArrayBuffer.empty[Span]
  private val cached = mutable.ArrayBuffer.empty[DataFrame]
  private val baseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private final class Open(val id: Long, val counts: mutable.Map[String, Double])
  private val stack = new ThreadLocal[List[Open]] { override def initialValue() = Nil }
  // Innermost span of the operation's own thread: the parent of spans
  // opened on other threads (streaming micro-batch threads).
  @volatile private var opTop: Option[Open] = None

  def nowNs(): Long = baseNs + System.nanoTime()

  /** Group prefix of every job group a span sets. */
  val GroupPrefix = "perfbench-span-"

  def span[T](name: String)(body: => T): T =
    if (!enabled) body else open(name, currentOp)(body)

  /** The root span of operation `op`; spans opened inside belong to it. */
  def operation[T](op: Int)(body: => T): T = {
    currentOp = op
    try if (!enabled) body else open("op", op)(body)
    finally {
      cached.foreach(_.unpersist())
      cached.clear()
      currentOp = -1
    }
  }

  /** Adds `v` to counter `key` of the innermost open span of this thread. */
  def count(key: String, v: Double): Unit =
    if (enabled) stack.get.headOption.orElse(opTop)
      .foreach(o => o.synchronized(o.counts(key) = o.counts.getOrElse(key, 0.0) + v))

  /** In traced operations, records counter `key` as `v`, computed in a
    * span of the benchmark's own (`bench.measure`), so that neither the
    * time nor the Spark jobs it takes are charged to a layer.
    */
  def measure(key: String)(v: => Double): Unit =
    if (enabled) span("bench.measure")(count(key, v))

  /** In traced operations, materialise a lazy operator output here, so
    * that its cost lands on the span that produced it; the cache is
    * released when the operation ends.
    */
  def boundary(df: DataFrame): DataFrame =
    if (!enabled) df
    else {
      df.persist(StorageLevel.MEMORY_AND_DISK).count()
      cached += df
      df
    }

  private def open[T](name: String, op: Int)(body: => T): T = {
    val parents = stack.get
    val onOpThread = parents.nonEmpty || opTop.isEmpty
    val parent = parents.headOption.orElse(opTop).map(_.id).getOrElse(0L)
    val o = new Open(nextId.incrementAndGet(), mutable.Map.empty)
    val keys = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel")
    val saved = keys.map(sc.getLocalProperty)
    sc.setJobGroup(GroupPrefix + o.id, name, interruptOnCancel = false)
    stack.set(o :: parents)
    if (onOpThread) opTop = Some(o)
    val fs0 = FsStats.snapshot()
    val gc0 = Jvm.gcMillis()
    val t0 = nowNs()
    try body
    finally {
      val t1 = nowNs()
      val s = Span(o.id, name, parent, op, Thread.currentThread.getName,
        t0, t1, o.synchronized(o.counts.toMap),
        FsStats.delta(fs0, FsStats.snapshot()), Jvm.gcMillis() - gc0)
      closed.synchronized(closed += s)
      stack.set(parents)
      if (onOpThread) opTop = parents.headOption
      keys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }

  def spans: Seq[Span] = closed.synchronized(closed.toVector)
}
