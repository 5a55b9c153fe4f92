package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.Sessions

/** State of one benchmark run: the session, the arguments, the raw
  * figures the Python side turns into metrics, and the timed-phase
  * bracket shared by all workloads. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val rec: Recorder, val progress: ProgressLog, val dataDir: String,
    val runDir: String) {
  val raw = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  /** Timed passes over the query list; per-query layer figures are per pass. */
  var timedPasses = 1
  private var cpu0 = 0.0
  private var gc0 = 0L
  private var timedStartMs = 0L

  /** A set-up step whose time is a per-layer metric. */
  def timedSetupStep[A](metric: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = rec.span(metric.stripSuffix("_s"))(body)
    rec.put(metric, (System.nanoTime() - t0) / 1e9)
    a
  }

  def drainListenerBus(): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def beginTimed(): Unit = {
    timedStartMs = System.currentTimeMillis()
    raw("setup_s") = (timedStartMs - Jvm.startMillis) / 1000.0
    drainListenerBus()
    Jvm.resetHeapPeak()
    gc0 = Jvm.gcMillis
    rec.timed = true
    cpu0 = Jvm.cpuSeconds
  }

  def endTimed(): Unit = {
    raw("cpu_s") = Jvm.cpuSeconds - cpu0
    raw("timed_ms") = Seq(timedStartMs, System.currentTimeMillis())
    rec.timed = false
    rec.put("jvm.gc_ms", (Jvm.gcMillis - gc0).toDouble)
    rec.put("jvm.heap_peak_mb", Jvm.heapPeakMb)
    val cached = spark.sparkContext.getRDDStorageInfo
    rec.put("core.live_blocks", cached.map(_.numCachedPartitions.toLong).sum.toDouble)
    rec.put("core.live_storage_mb",
      cached.map(i => i.memSize + i.diskSize).sum / 1048576.0)
    raw("heap_live_mb") = Jvm.heapLiveMb
  }

  /** Task metrics of the timed phase, in total and per query tag. */
  def sparkLayer(): Unit = if (rec.on) {
    drainListenerBus()
    val jobs = rec.timedJobs
    def put(prefix: String, js: Seq[JobStats], per: Double): Unit = {
      rec.put(s"$prefix.jobs", js.size / per)
      rec.put(s"$prefix.exec_cpu_ms", js.map(_.cpuMs).sum / per)
      rec.put(s"$prefix.shuffle_mb",
        js.map(j => j.shuffleReadB + j.shuffleWriteB).sum / 1048576.0 / per)
    }
    rec.put("spark.jobs", jobs.size.toDouble)
    rec.put("spark.stages", jobs.map(_.stages).sum.toDouble)
    rec.put("spark.tasks", jobs.map(_.tasks).sum.toDouble)
    rec.put("spark.exec_run_ms", jobs.map(_.runMs).sum.toDouble)
    rec.put("spark.exec_cpu_ms", jobs.map(_.cpuMs).sum)
    rec.put("spark.task_gc_ms", jobs.map(_.gcMs).sum.toDouble)
    rec.put("spark.sched_ms", jobs.map(_.schedMs).sum.toDouble)
    rec.put("spark.shuffle_read_mb", jobs.map(_.shuffleReadB).sum / 1048576.0)
    rec.put("spark.shuffle_write_mb", jobs.map(_.shuffleWriteB).sum / 1048576.0)
    rec.put("spark.spill_mb", jobs.map(_.spillB).sum / 1048576.0)
    rec.put("spark.input_mb", jobs.map(_.inputB).sum / 1048576.0)
    QueryMix.Queries.foreach { q =>
      put(s"q.$q", jobs.filter(_.tag == q), timedPasses.toDouble)
    }
  }
}

/** Entry point: `Main <workload> <seed> <seconds> <trace 0|1>
  * <data dir> <run dir>`. Writes `<run dir>/raw.json`; the Python
  * driver turns it into metrics and checks the outputs. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dataDir, runDir) = args
    val rec = new Recorder(trace == "1")
    val spark = rec.span("setup.session")(Sessions.local("perfbench"))
    spark.sparkContext.setLogLevel("WARN")
    rec.install(spark)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val c = new Ctx(spark, seed.toLong, seconds.toInt, rec, progress, dataDir, runDir)
    try {
      workload match {
        case "fraud_stream" => Streams.fraudStream(c)
        case "laundering_join" => Streams.launderingJoin(c)
        case "query_mix" => QueryMix.run(c)
        case "oracle" => QueryMix.oracle(c)
        case "classes" => // loads what every workload loads, for the class archive
          Streams.fraudStream(c); Streams.launderingJoin(c); QueryMix.oracle(c)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      c.sparkLayer()
      // the names the per-layer q.* and index.* metrics are made of
      c.raw("queries") = QueryMix.Queries
      c.raw("indexes") = QueryMix.Indexes.map(_._1)
      c.raw("attempted") = c.attempted
      c.raw("failed") = c.failed
      if (rec.on) {
        c.raw("trace") = rec.values
        c.raw("spans") = rec.allSpans.map(s => Seq(s.id, s.name, s.parent, s.startMs, s.endMs))
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$runDir/raw.json"),
        Json.render(c.raw))
    } finally spark.stop()
  }
}
