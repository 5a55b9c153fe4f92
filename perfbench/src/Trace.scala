package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Process-level readings: CPU time of all threads, heap and GC. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap in use after a full collection (G1 runs a full GC for an
    * explicit System.gc()); Spark's local-mode block storage lives in
    * this heap, so blocks nobody frees show here. Spark's ContextCleaner
    * frees broadcast and shuffle blocks on its own thread once a GC
    * has cleared their last reference, so the reading is taken after
    * it has had time to run. */
  def heapLiveMb: Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def startMillis: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

/** A span: a named interval on the benchmark's side of a call into
  * the program. Times are epoch milliseconds. */
final case class Span(id: Int, name: String, parent: Int,
    startMs: Double, endMs: Double)

/** Trigger progress of every streaming query, in arrival order. The
  * untraced runs need it for trigger end times and source offsets. */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** One progress per batch id of `queryId`, in batch order. */
  def batches(queryId: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.toSeq.filter(_.id == queryId)
      .groupBy(_.batchId).values.map(_.head).toSeq.sortBy(_.batchId)
}

/** Stage-level task metrics of one job, summed over its stages. */
final class JobStats(val tag: String, val startMs: Long, val timed: Boolean) {
  var endMs: Long = -1
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuMs = 0.0
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var inputB = 0L
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall time of the job during which none of its stages ran:
    * scheduling, planning gaps and driver-side work between stages. */
  def schedMs: Long = {
    val wall = endMs - startMs
    val merged = stageSpans.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, e0.max(e)) :: rest
      case (acc, iv) => iv :: acc
    }
    (wall - merged.map { case (s, e) => e - s }.sum).max(0L)
  }
}

/** The traced run's recorder: spans from the benchmark's own code and
  * a SparkListener for task metrics, both kept in memory and written
  * out when the run ends. With tracing off every method is a no-op
  * apart from running the body, so the untraced run pays nothing. */
final class Recorder(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue = Nil }
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var timed = false
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobStats]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, JobStats]()
  val values = mutable.LinkedHashMap.empty[String, Double]

  def now: Double = System.currentTimeMillis().toDouble

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val parent = stack.get.headOption.getOrElse(-1)
      val id = nextId.incrementAndGet()
      val t0 = now
      stack.set(id :: stack.get)
      try body
      finally {
        stack.set(stack.get.tail)
        spans.synchronized { spans += Span(id, name, parent, t0, now) }
      }
    }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  def put(name: String, v: Double): Unit = if (on) values(name) = v

  /** Jobs are tagged with the local property the benchmark sets on the
    * thread that runs a query; streaming triggers run untagged. */
  def install(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tag = Option(e.properties).flatMap(p =>
          Option(p.getProperty(Recorder.TagKey))).getOrElse("stream")
        val j = new JobStats(tag, e.time, timed)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(s => stageToJob.put(s, j))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        Option(stageToJob.get(si.stageId)).foreach { j =>
          j.synchronized {
            val m = si.taskMetrics
            j.stages += 1
            j.tasks += si.numTasks
            if (m != null) {
              j.runMs += m.executorRunTime
              j.cpuMs += m.executorCpuTime / 1e6
              j.gcMs += m.jvmGCTime
              j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
              j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
              j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
              j.inputB += m.inputMetrics.bytesRead
            }
            for (s <- si.submissionTime; c <- si.completionTime)
              j.stageSpans += ((s, c))
          }
        }
      }
    })
  }

  def timedJobs: Seq[JobStats] =
    jobs.values.asScala.toSeq.filter(j => j.timed && j.endMs >= 0)
}

object Recorder {
  val TagKey = "perfbench.tag"
}
