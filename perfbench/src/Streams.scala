package perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.feature.{StandardScalerModel, StringIndexerModel}
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ml.{FraudPipeline, Transactions}
import graft.streaming.{ScoringStream, StatefulOps}

/** The two streaming workloads. Both replay PaySim rows as JSON wire
  * rows: open-loop at a fixed rate for the run's seconds, then a
  * closed-loop drain of fixed batches. Each source is a MemoryStream
  * with a fixed 3 partitions, the reference's topic layout, however
  * many sends a trigger collects. */
object Streams {
  val Partitions = 3
  val TickMs = 20

  final case class Send(src: Int, schedMs: Double, actualMs: Double,
      offset: Long, rows: Int)

  /** Wire rows (type, json) of `Transactions.fromEvents` in `step`
    * order; the seed sets the order of rows within each step. */
  def replay(c: Ctx): IndexedSeq[(String, String)] = {
    val rows = Transactions.fromEvents(c.spark, c.dataDir)
      .select(col("step"), col("type"), to_json(struct(col("*"))).as("v"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    val rnd = new scala.util.Random(c.seed)
    rows.groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (_, g) => rnd.shuffle(g.sortBy(_._3).toSeq) }
      .map(r => (r._2, r._3)).toIndexedSeq
  }

  /** Open loop: at every tick the rows due by then go to their sources,
    * whatever the query is doing. One Send per addData, timed from the
    * tick's scheduled instant. */
  def openLoop(streams: IndexedSeq[MemoryStream[String]],
      rows: IndexedSeq[(String, String)], route: String => Int,
      ratePerS: Double, seconds: Double): Seq[Send] = {
    val ticks = (seconds * 1000 / TickMs).toInt
    val baseNs = System.nanoTime()
    val baseMs = System.currentTimeMillis().toDouble
    def epochMs(ns: Long) = baseMs + (ns - baseNs) / 1e6
    val out = ArrayBuffer.empty[Send]
    var next = 0
    for (k <- 0 until ticks) {
      val due = baseNs + 1000000L * TickMs * (k + 1)
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      val upto = math.min(rows.size,
        math.round(ratePerS * (k + 1) * TickMs / 1000.0).toInt)
      val slice = rows.slice(next, upto)
      next = upto
      for (src <- streams.indices) {
        val part = slice.filter(r => route(r._1) == src).map(_._2)
        if (part.nonEmpty) {
          val actual = epochMs(System.nanoTime())
          val off = streams(src).addData(part).json().toLong
          out += Send(src, epochMs(due), actual, off, part.size)
        }
      }
    }
    out.toSeq
  }

  /** Closed loop: each batch is added and fully processed before the
    * next. Returns each batch's wall seconds. */
  def drain(q: StreamingQuery, streams: IndexedSeq[MemoryStream[String]],
      batches: Seq[IndexedSeq[(String, String)]], route: String => Int): Seq[Double] =
    batches.map { b =>
      val t0 = System.nanoTime()
      for (src <- streams.indices) {
        val part = b.filter(r => route(r._1) == src).map(_._2)
        if (part.nonEmpty) streams(src).addData(part)
      }
      q.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }

  /** Trigger progress of `q` after it stopped: end time, the end
    * offset of each source (-1 before its first data), input rows,
    * phase durations and state-store figures. */
  def triggers(c: Ctx, q: StreamingQuery,
      streams: IndexedSeq[MemoryStream[String]]): Seq[Map[String, Any]] = {
    c.drainListenerBus()
    val names = streams.map(_.toString)
    c.progress.batches(q.id).map { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val ends = names.map { n =>
        p.sources.find(_.description == n).flatMap(s => Option(s.endOffset))
          .map(_.trim.toLong).getOrElse(-1L)
      }
      val st = p.stateOperators
      Map(
        "batch" -> p.batchId, "start_ms" -> start,
        "end_ms" -> (start + d.getOrElse("triggerExecution", 0L)),
        "ends" -> ends, "rows" -> p.numInputRows, "d" -> d,
        "state" -> Map(
          "instances" -> st.map(_.numStateStoreInstances).sum,
          "rows_total" -> st.map(_.numRowsTotal).sum,
          "rows_updated" -> st.map(_.numRowsUpdated).sum,
          "rows_removed" -> st.map(_.numRowsRemoved).sum,
          "memory_bytes" -> st.map(_.memoryUsedBytes).sum,
          "update_ms" -> st.map(_.allUpdatesTimeMs).sum,
          "commit_ms" -> st.map(_.commitTimeMs).sum,
          "dropped" -> st.map(_.numRowsDroppedByWatermark).sum))
    }
  }

  private def writeLines(path: String, lines: Iterator[String]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  /** Warm-up, open loop, drain: the part both workloads share. Records
    * everything the accounting and checks need in `c.raw`. */
  private def runPhases(c: Ctx, q: StreamingQuery,
      streams: IndexedSeq[MemoryStream[String]], rows: IndexedSeq[(String, String)],
      route: String => Int, rate: Double, warmS: Double,
      drainBatches: Int, drainRows: Int): Unit = {
    val warmN = (rate * warmS).toInt
    val openN = (rate * c.seconds).toInt
    val need = warmN + openN + drainBatches * drainRows
    require(rows.size >= need, s"replay holds ${rows.size} rows, run needs $need")
    openLoop(streams, rows.take(warmN), route, rate, warmS)
    q.processAllAvailable()
    c.beginTimed()
    val sends = openLoop(streams, rows.slice(warmN, warmN + openN), route,
      rate, c.seconds)
    val openEndMs = System.currentTimeMillis()
    q.processAllAvailable()
    val drainS = drain(q, streams, rows.slice(warmN + openN, need)
      .grouped(drainRows).toSeq, route)
    c.endTimed()
    q.stop()
    c.raw("stream") = Map(
      "rate" -> rate,
      "sends" -> sends.map(s => Seq[Any](s.src, s.schedMs, s.actualMs, s.offset, s.rows)),
      "open_end_ms" -> openEndMs,
      "triggers" -> triggers(c, q, streams),
      "drain_batch_rows" -> drainRows, "drain_batch_s" -> drainS)
    c.attempted += need
    writeLines(s"${c.runDir}/sent.jsonl",
      rows.take(need).iterator.map { case (t, j) => s"[${route(t)},$j]" })
  }

  def fraudStream(c: Ctx): Unit = {
    implicit val sql: SQLContext = c.spark.sqlContext
    import c.spark.implicits._
    val rows = c.rec.span("setup.replay")(replay(c))
    val model = c.timedSetupStep("ml.train_s") {
      FraudPipeline.train(Transactions.fromEvents(c.spark, c.dataDir), weighted = true)
    }
    val in = MemoryStream[String](Partitions)
    val stats = new ScoringStream.StatsAccumulator
    val alertDir = s"${c.runDir}/alerts"
    val sink: DataFrame => Unit = df =>
      c.rec.span("sink.alert")(df.write.mode("append").text(alertDir))
    val q = ScoringStream.start(ScoringStream.parse(in.toDF()), model,
      s"${c.runDir}/ckpt_fraud", sink, stats)
    runPhases(c, q, IndexedSeq(in), rows, _ => 0, rate = 1000.0, warmS = 4.0,
      drainBatches = 4, drainRows = 3000)
    c.raw("scored") = stats.totalRecords
    c.raw("alert_dir") = alertDir
    val st = model.stages
    c.raw("model") = Map(
      "labels" -> st(0).asInstanceOf[StringIndexerModel].labelsArray(0).toSeq,
      "mean" -> st(3).asInstanceOf[StandardScalerModel].mean.toArray.toSeq,
      "std" -> st(3).asInstanceOf[StandardScalerModel].std.toArray.toSeq,
      "coef" -> st(4).asInstanceOf[LogisticRegressionModel].coefficients.toArray.toSeq,
      "intercept" -> st(4).asInstanceOf[LogisticRegressionModel].intercept)
    if (c.rec.on) {
      // model layer alone: transform + noop write of a static frame
      val static = ScoringStream.parse(rows.take(5000).map(_._2).toDF("value"))
        .localCheckpoint()
      val ms = (0 until 7).map { _ =>
        val t0 = System.nanoTime()
        c.rec.span("ml.transform")(
          model.transform(static).write.format("noop").mode("overwrite").save())
        (System.nanoTime() - t0) / 1e6
      }
      c.rec.put("ml.transform_ms", ms.sorted.apply(ms.size / 2))
    }
  }

  def launderingJoin(c: Ctx): Unit = {
    implicit val sql: SQLContext = c.spark.sqlContext
    import c.spark.implicits._
    val rows = c.rec.span("setup.replay")(replay(c))
      .filter(r => r._1 == "CASH_OUT" || r._1 == "PAYMENT")
    val cashOut = MemoryStream[String](Partitions)
    val payment = MemoryStream[String](Partitions)
    def side(in: MemoryStream[String]) =
      StatefulOps.withEventTime(ScoringStream.parse(in.toDF()))
        .select(col("nameDest"), col("eventTime"), col("step"), col("amount"))
    val sinkName = "perfbench_pairs"
    val q = StatefulOps.streamStreamJoin(side(cashOut), side(payment),
        "nameDest", maxDelay = "2 hours")
      .select(col("nameDest"), col("step"), col("amount"), col("r_step"),
        col("r_amount"))
      .writeStream.format("memory").queryName(sinkName).outputMode("append")
      .option("checkpointLocation", s"${c.runDir}/ckpt_join")
      .start()
    val route: String => Int = t => if (t == "CASH_OUT") 0 else 1
    runPhases(c, q, IndexedSeq(cashOut, payment), rows, route, rate = 150.0,
      warmS = 4.0, drainBatches = 2, drainRows = 3000)
    writeLines(s"${c.runDir}/pairs.jsonl",
      c.spark.table(sinkName).as[(String, Int, Double, Int, Double)].collect()
        .iterator.map { case (d, s, a, rs, ra) => Json.render(Seq(d, s, a, rs, ra)) })
  }
}
