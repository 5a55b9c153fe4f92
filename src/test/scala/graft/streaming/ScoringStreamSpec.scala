package graft.streaming

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.SQLTransformer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{classic, DataFrame, Observation, Row, SQLContext, SaveMode}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.ml.{FraudPipeline, Transactions}
import graft.schema.Transaction

class ScoringStreamSpec extends SparkSpec {

  private lazy val txns = Transactions.fromEvents(spark, sfDir).cache()
  // Weighted, so that it alerts on the first sf0.001 rows: the
  // unweighted fit predicts no fraud there, and the alert path would
  // go untested.
  private lazy val model = FraudPipeline.train(txns, weighted = true)

  /** JSON wire rows as the producer would emit them (P10). */
  private def wireJson(limit: Int): Seq[String] =
    txns.limit(limit)
      .select(to_json(struct(col("*"))).as("v"))
      .collect().map(_.getString(0)).toSeq

  test("parse round-trips the JSON wire format to Transaction shape") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val parsed = ScoringStream.parse(
      input.toDF().withColumnRenamed("value", "raw")
        .select(col("raw").cast("binary").as("value")))
    assert(parsed.schema == Transaction.schema)

    val q = parsed.writeStream.format("memory").queryName("parsed_sink")
      .start()
    try {
      input.addData(wireJson(20))
      q.processAllAvailable()
      val got = spark.table("parsed_sink")
      assert(got.count() == 20)
      // Values survive the round trip (compare a stable projection).
      val a = got.select("type", "amount", "isFraud")
        .collect().map(_.toSeq).toSet
      val b = txns.limit(20).select("type", "amount", "isFraud")
        .collect().map(_.toSeq).toSet
      assert(a == b)
    } finally q.stop()
  }

  /** A started scoring query over a fresh MemoryStream and temp
    * checkpoint, handed to `body`; stopped afterwards. */
  private def withScoring(model: PipelineModel,
      sink: DataFrame => Unit, stats: ScoringStream.StatsAccumulator)(
      body: (MemoryStream[String], StreamingQuery, Path) => Unit): Unit = {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val parsed = ScoringStream.parse(
      input.toDF().select(col("value").cast("binary").as("value")))
    withTempDir("graft_ckpt") { checkpoint =>
      val q = ScoringStream.start(parsed, model, checkpoint.toString,
        sink, stats)
      try body(input, q, checkpoint) finally q.stop()
    }
  }

  /** An alert sink that runs one action: collect the JSON rows. */
  private def collecting(into: ArrayBuffer[String]): DataFrame => Unit =
    df => into.synchronized { into ++= df.collect().map(_.getString(0)) }

  /** Returns once the listener bus's shared queue has delivered every
    * event posted so far: an Observation completes from that queue.
    * It runs on a session of its own because a session that has used
    * an Observation no longer serializes, and the model's training
    * summary, which every scoring task ships, holds `spark`. */
  private def drainSharedQueue(): Unit = {
    val o = Observation()
    spark.newSession().range(1).observe(o, count(lit(1)).as("n")).collect()
    o.get
  }

  test("scoring graph emits alerts for fraud rows and tracks stats") {
    val stats = new ScoringStream.StatsAccumulator
    val collected = ArrayBuffer.empty[String]
    withScoring(model, collecting(collected), stats) {
        (input, q, checkpoint) =>
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          if (Option(j.properties).exists(p =>
              p.getProperty(StreamExecution.QUERY_ID_KEY) == q.id.toString))
            jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val rows = wireJson(200)
        input.addData(rows)
        q.processAllAvailable()
        input.addData(rows.take(50))
        q.processAllAvailable()
        drainSharedQueue()

        assert(stats.totalBatches == 2)
        assert(stats.totalRecords == 250)
        // One Spark job per non-empty batch: the sink's action.
        assert(jobs.get == 2, s"${jobs.get} jobs for 2 batches")
        // Alerts are JSON rows containing the model's outputs.
        val expectedFraud = FraudPipeline.predict(model, txns.limit(200))
          .filter(col("fraud_prediction") === 1).count()
        assert(expectedFraud > 0, "the fed rows must hold fraud")
        assert(collected.forall(_.contains("\"prediction\":1.0")))
        assert(stats.totalFraud ==
          collected.size) // one alert per fraud row
        // Stats JSON has the reference's shape.
        val json = stats.json
        assert(json.contains("\"total_batches\":2"))
        assert(json.contains("\"avg_batch_size\":125.0"))
        assert(json.contains("\"fraud_percentage\""))
        // T2: the checkpoint directory was written.
        assert(checkpoint.resolve("offsets").toFile.list().nonEmpty)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("records are counted on the input, before a model that drops rows") {
    val dropping = new Pipeline().setStages(Array(model,
        new SQLTransformer()
          .setStatement("SELECT * FROM __THIS__ WHERE type <> 'PAYMENT'")))
      .fit(txns)
    val stats = new ScoringStream.StatsAccumulator
    val collected = ArrayBuffer.empty[String]
    withScoring(dropping, collecting(collected), stats) { (input, q, _) =>
      val rows = wireJson(200)
      assert(rows.exists(_.contains("\"type\":\"PAYMENT\"")),
        "the fed rows must hold rows the model drops")
      input.addData(rows)
      q.processAllAvailable()
      assert(stats.totalRecords == rows.size)
      assert(stats.totalFraud == collected.size)
      assert(!collected.exists(_.contains("\"type\":\"PAYMENT\"")))
    }
  }

  test("a V1 source write that runs the frame as a plain RDD fills the counts") {
    val stats = new ScoringStream.StatsAccumulator
    val before = PartitionWriteProvider.written.get
    val sink: DataFrame => Unit = _.write
      .format(classOf[PartitionWriteProvider].getName).mode("append").save()
    withScoring(model, sink, stats) { (input, q, _) =>
      val rows = wireJson(200)
      input.addData(rows)
      q.processAllAvailable()
      assert(stats.totalBatches == 1)
      assert(stats.totalRecords == rows.size)
      assert(stats.totalFraud > 0, "the fed rows must hold fraud")
      assert(stats.totalFraud == PartitionWriteProvider.written.get - before)
    }
  }

  test("a sink that reads part of the frame, then all of it, counts each row once") {
    val stats = new ScoringStream.StatsAccumulator
    val collected = ArrayBuffer.empty[String]
    val sink: DataFrame => Unit = df => {
      df.take(1)
      collecting(collected)(df)
    }
    withScoring(model, sink, stats) { (input, q, _) =>
      val rows = wireJson(200)
      input.addData(rows)
      q.processAllAvailable()
      assert(collected.nonEmpty, "the fed rows must hold fraud")
      assert(stats.totalRecords == rows.size)
      assert(stats.totalFraud == collected.size)
    }
  }

  test("a batch with no partitions records nothing and does not fail") {
    // A new empty file is a batch whose scan has no partitions, so the
    // sink's action reads none: no count, and no broken contract.
    val stats = new ScoringStream.StatsAccumulator
    val collected = ArrayBuffer.empty[String]
    withTempDir("graft_empty_src") { src =>
      withTempDir("graft_ckpt") { checkpoint =>
        Files.createFile(src.resolve("empty.txt"))
        val q = ScoringStream.start(
          ScoringStream.parse(spark.readStream.text(src.toString)),
          model, checkpoint.toString, collecting(collected), stats)
        try {
          q.processAllAvailable()
          assert(q.lastProgress.batchId == 0)
          assert(stats.totalBatches == 0)
          assert(collected.isEmpty)
        } finally q.stop()
      }
    }
  }

  test("a sink that never runs its frame fails the batch") {
    val stats = new ScoringStream.StatsAccumulator
    withScoring(model, _ => (), stats) { (input, q, _) =>
      input.addData(wireJson(20))
      val e = intercept[StreamingQueryException](q.processAllAvailable())
      val causes = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("read all of that frame")),
        causes.map(_.toString).mkString("\n"))
      assert(stats.totalBatches == 0)
    }
  }

  test("malformed payloads route to the dead-letter path, not nulls") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val tagged = ScoringStream.parseTagged(
      input.toDF().select(col("value").cast("binary").as("value")))
    val goodQ = ScoringStream.validRows(tagged)
      .writeStream.format("memory").queryName("dlq_good").start()
    val badQ = ScoringStream.corruptRows(tagged)
      .writeStream.format("memory").queryName("dlq_bad").start()
    try {
      input.addData(wireJson(5) ++ Seq("{not json at all", "42"))
      goodQ.processAllAvailable()
      badQ.processAllAvailable()
      assert(spark.table("dlq_good").count() == 5)
      val bad = spark.table("dlq_bad").collect()
        .map(_.getString(0)).toSet
      assert(bad == Set("{not json at all", "42"))
    } finally { goodQ.stop(); badQ.stop() }
  }

  test("empty batches are guarded (T3): no stats recorded") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val parsed = ScoringStream.parse(
      input.toDF().select(col("value").cast("binary").as("value")))
    val stats = new ScoringStream.StatsAccumulator
    val checkpoint = java.nio.file.Files
      .createTempDirectory("graft_ckpt_empty").toString
    val q = ScoringStream.start(parsed, model, checkpoint,
      _ => fail("no alerts expected"), stats)
    try {
      q.processAllAvailable()
      assert(stats.totalBatches == 0)
      assert(stats.totalRecords == 0)
    } finally q.stop()
  }

  test("rate replay (T6) streams fixture rows") {
    val fixture = txns.limit(10)
    val replay = ScoringStream.rateReplay(spark, fixture,
      rowsPerSecond = 100)
    assert(replay.isStreaming)
    val q = replay.writeStream.format("memory").queryName("replay_sink")
      .start()
    try {
      // Let a few rate ticks arrive.
      val deadline = System.currentTimeMillis() + 15000
      var n = 0L
      while (n == 0 && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        q.processAllAvailable()
        n = spark.table("replay_sink").count()
      }
      assert(n > 0, "replay produced no rows in 15s")
      val replayed = spark.table("replay_sink")
        .select("nameOrig").distinct().collect().map(_.getString(0)).toSet
      val source = fixture.select("nameOrig").distinct()
        .collect().map(_.getString(0)).toSet
      assert(replayed.subsetOf(source))
    } finally q.stop()
  }

  test("graceful shutdown (T5) stops an active query, no-op when stopped") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[String]
    val parsed = ScoringStream.parse(
      input.toDF().select(col("value").cast("binary").as("value")))
    val q = parsed.writeStream.format("memory").queryName("t5_sink")
      .start()
    assert(q.isActive)
    ScoringStream.stopGracefully(q)
    assert(!q.isActive)
    // idempotent on an already-terminated query
    ScoringStream.stopGracefully(q)
    assert(!q.isActive)
  }
}

/** A V1 data source whose write runs the frame the way Kafka's sink
  * does: `save()` plans a `SaveIntoDataSourceCommand`, and
  * `createRelation` runs `queryExecution.toRdd.foreachPartition`,
  * which posts no SQL execution event of its own. Counts the rows it
  * writes into [[PartitionWriteProvider.written]]. */
class PartitionWriteProvider extends CreatableRelationProvider {
  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val rows = ctx.sparkContext.longAccumulator
    data.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd
      .foreachPartition(it => rows.add(it.size.toLong))
    PartitionWriteProvider.written.addAndGet(rows.value)
    val written = data.schema
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = written
    }
  }
}

object PartitionWriteProvider {
  val written = new java.util.concurrent.atomic.AtomicLong
}
