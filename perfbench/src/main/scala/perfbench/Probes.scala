package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._

/** One finished Spark job with its tasks' metrics summed. Times are
  * epoch milliseconds (the listener bus clock); `group` is the job
  * group that was set on the submitting thread.
  */
final class JobRec(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var waitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L

  def toMap: Map[String, Any] = Map(
    "id" -> id, "group" -> group, "start_ms" -> startMs, "end_ms" -> endMs,
    "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs,
    "cpu_ns" -> cpuNs, "wait_ms" -> waitMs,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "spill_bytes" -> spillBytes, "result_bytes" -> resultBytes)
}

/** Benchmark-side `SparkListener`: per-job stage, task and task-metric
  * totals, keyed later to spans by the job group. Task wait is the part
  * of a task's duration outside its executor run time plus its shuffle
  * fetch wait.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val rec = new JobRec(e.jobId, group, e.time)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageJob(s) = rec)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (rec <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      rec.tasks += 1
      rec.runMs += m.executorRunTime
      rec.cpuNs += m.executorCpuTime
      rec.waitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime) +
        m.shuffleReadMetrics.fetchWaitTime
      rec.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      rec.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      rec.spillBytes += m.diskBytesSpilled
      rec.resultBytes += m.resultSize
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  def finished: Seq[JobRec] = synchronized(jobs.values.filter(_.endMs >= 0).toVector)
}

/** Process-wide Hadoop `FileSystem` statistics for the `file` scheme
  * (Spark driver and, in local mode, executor threads alike).
  */
object FsStats {
  val keys = Seq("bytesRead", "bytesWritten", "readOps", "writeOps")

  def snapshot(): Map[String, Long] = {
    val st = Option(FileSystem.getGlobalStorageStatistics.get("file"))
    keys.map(k => k -> st.flatMap(s => Option(s.getLong(k)))
      .map(_.longValue).getOrElse(0L)).toMap
  }

  def delta(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    keys.map(k => k -> (after(k) - before(k))).toMap
}

/** JMX readers: cumulative GC time and the retained-heap peak. */
object Jvm {
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Peak heap still in use after a garbage collection: the largest
    * retained (live plus not yet collected old) heap since the last
    * `reset`, from the collectors' completion notifications. Unlike a
    * sample of heap used, it does not track the collector's own
    * allocation headroom.
    */
  final class RetainedHeapPeak {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData

    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    private var max = 0L
    private var seen = 0L
    private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > max) max = used; seen += 1; notifyAll() }
      }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(listener, null, null))

    def reset(): Unit = synchronized { max = 0L }

    /** The peak, after one final full collection so that the data still
      * retained at the end counts even when no collection ran before.
      */
    def peak(): Long = {
      val before = synchronized(seen)
      System.gc()
      synchronized {
        val until = System.currentTimeMillis() + 2000
        while (seen == before && System.currentTimeMillis() < until) wait(100)
        max
      }
    }
    def stop(): Unit = emitters.foreach(_.removeNotificationListener(listener))
  }
}
