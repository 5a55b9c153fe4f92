package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.schema.Transaction

/** The reference's streaming scoring graph (SURVEY §3.1,
  * spark_streaming_app.py:402-438) re-expressed Structured-Streaming
  * native:
  *
  *   source → CAST(value AS STRING) → from_json(Transaction.schema)
  *   → select("data.*") → foreachBatch { guard, score, alert, stats }
  *
  * Deviations from the reference, all deliberate:
  *  - alerts are a DISTRIBUTED write of to_json(struct(*)) rows
  *    (spark_streaming_app.py:352-363 collect()s every fraud row to
  *    the driver and loops a Python Kafka producer — O(alerts) driver
  *    memory; at scale the driver dies first);
  *  - a micro-batch runs one Spark job: the alert write, which also
  *    counts the batch's records and fraud rows through
  *    [[RowCounter]] filters (the reference re-executes lineage 4×
  *    per batch);
  *  - graceful shutdown is a StreamingQuery.stop() hook — the conf
  *    the reference sets (spark.streaming.stopGracefullyOnShutdown,
  *    spark_streaming_app.py:182) only affects legacy DStreams and is
  *    a no-op for Structured Streaming.
  */
object ScoringStream {

  /** P1+P2+P3: the Kafka-wire parse chain
    * (spark_streaming_app.py:419-421). Input needs a `value` column
    * (binary or string). */
  def parse(raw: DataFrame): DataFrame =
    raw.selectExpr("CAST(value AS STRING) AS json")
      .select(from_json(col("json"), Transaction.schema).as("data"))
      .select("data.*")

  /** Parse with dead-letter routing: `from_json` yields a null
    * struct for malformed payloads (the reference silently turns
    * them into all-null rows, spark_streaming_app.py:420 — a data
    * bug at any scale). Returns the tagged frame; split with
    * `validRows` / `corruptRows`. */
  def parseTagged(raw: DataFrame): DataFrame =
    raw.selectExpr("CAST(value AS STRING) AS json")
      .select(col("json"),
        from_json(col("json"), Transaction.schema).as("data"))

  /** Well-formed rows, flattened to Transaction shape. */
  def validRows(tagged: DataFrame): DataFrame =
    tagged.filter(col("data").isNotNull &&
      col("data.type").isNotNull).select("data.*")

  /** Malformed payloads for the dead-letter sink (original bytes
    * preserved for replay). */
  def corruptRows(tagged: DataFrame): DataFrame =
    tagged.filter(col("data").isNull || col("data.type").isNull)
      .select(col("json").as("corrupt_payload"))

  /** S9 payload: fraud rows → JSON alert records, computed on
    * executors. */
  def alerts(scored: DataFrame): DataFrame =
    scored.filter(col("prediction") === 1.0)
      .select(to_json(struct(col("*"))).as("value"))

  /** Driver-side cumulative stats — the reference's
    * streaming_stats.json surface (spark_streaming_app.py:201-232),
    * kept as engine-level instrumentation (A6). Thread-safe: the
    * micro-batch thread mutates, anyone may snapshot. */
  final class StatsAccumulator {
    private val startTime = java.time.Instant.now().toString
    private val batches = new AtomicLong(0)
    private val records = new AtomicLong(0)
    private val fraud = new AtomicLong(0)
    private val processingMs = new AtomicLong(0)
    private val lastBatch = new AtomicReference[String]("")
    private val lastUpdate = new AtomicReference[String](startTime)

    def record(batchId: Long, n: Long, nFraud: Long, ms: Long): Unit = {
      batches.incrementAndGet()
      records.addAndGet(n)
      fraud.addAndGet(nFraud)
      processingMs.addAndGet(ms)
      val ts = java.time.Instant.now().toString
      lastUpdate.set(ts)
      // latest_batch, field-for-field the reference's batch_stats dict
      // (spark_streaming_app.py:375-381)
      lastBatch.set(
        s"""{"batch_id":$batchId,"timestamp":"$ts","records":$n,""" +
          s""""fraud_detected":$nFraud,"processing_time_ms":$ms,""" +
          s""""empty_batch":false}""")
    }

    def totalBatches: Long = batches.get
    def totalRecords: Long = records.get
    def totalFraud: Long = fraud.get
    def totalProcessingMs: Long = processingMs.get

    /** The reference's stats JSON shape, key-for-key
      * (spark_streaming_app.py:169-176 cumulative dict + 219-226
      * derived fields). `current_resources` is the one omission: it
      * is psutil process sampling, not engine state. */
    def json: String = {
      val b = batches.get.max(1)
      val r = records.get
      s"""{"start_time":"$startTime","total_batches":${batches.get},""" +
        s""""total_records":$r,""" +
        s""""total_fraud_detected":${fraud.get},""" +
        s""""total_processing_time_ms":${processingMs.get},""" +
        s""""last_update":"${lastUpdate.get}",""" +
        s""""avg_batch_size":${r.toDouble / b},""" +
        s""""avg_processing_time_ms":${processingMs.get.toDouble / b},""" +
        s""""fraud_percentage":${if (r > 0) fraud.get.toDouble / r * 100 else 0.0},""" +
        s""""latest_batch":${if (lastBatch.get.isEmpty) "null" else lastBatch.get}}"""
    }

    /** S11: JSON file sink for the stats (driver-side). */
    def writeJson(path: String): Unit =
      Files.writeString(Paths.get(path), json)
  }

  /** T1–T4: the micro-batch loop. `parsed` must be a streaming
    * DataFrame in Transaction shape.
    *
    * `alertSink` receives the alert JSON frame of every non-empty
    * batch, and that frame may hold no rows (wire it to a Kafka/file/
    * memory writer). The sink must read all of the frame with one
    * action (a write, `collect`, `count`): that action is the batch's
    * only Spark job, and it also counts the batch's records (before
    * `model.transform`, so a model that drops rows does not shrink the
    * count) and its fraud rows. A sink that reads the frame again
    * pays for a second job but does not change the counts. A sink
    * that returns without reading the frame fails the batch. The sink
    * runs inside the batch's `processing_time_ms`. */
  def start(
      parsed: DataFrame,
      model: PipelineModel,
      checkpointDir: String,
      alertSink: DataFrame => Unit,
      stats: StatsAccumulator): StreamingQuery =
    parsed.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val t0 = System.nanoTime()
        val records = new RowCounter(batch.sparkSession.sparkContext)
        val fraud = new RowCounter(batch.sparkSession.sparkContext)
        alertSink(alerts(model.transform(batch.filter(records.pass)))
          .filter(fraud.pass))
        // No partition read: either the sink ran nothing, or the batch
        // has no partitions at all (a file stream's new empty file).
        if (!records.ran && !batch.isEmpty)
          throw new IllegalStateException(
            "alertSink returned without reading the alert frame it was " +
              "given: the sink must read all of that frame with one " +
              "action (a write, collect or count)")
        val n = records.total
        if (n > 0) // T3 empty-batch guard
          stats.record(batchId, n, fraud.total,
            (System.nanoTime() - t0) / 1000000)
      }
      .option("checkpointLocation", checkpointDir) // T2
      .start()

  /** T5 hook body: stop the query (finishing the in-flight batch);
    * idempotent — a no-op when the query already terminated.
    * Separated from the JVM hook so the behavior is unit-testable. */
  def stopGracefully(query: StreamingQuery): Unit =
    if (query.isActive) query.stop()

  /** T5: graceful shutdown for Structured Streaming — stop the query
    * when the JVM exits. */
  def stopOnShutdown(query: StreamingQuery): Unit =
    sys.addShutdownHook(stopGracefully(query))

  /** T6: rate-limited replay source — the distributed equivalent of
    * transaction_producer.py:104-151 (pandas iterrows + sleep): a
    * `rate` stream keyed into the fixture by modulo, stream-static
    * join. rowsPerSecond=1 matches the reference's default 1 msg/s. */
  def rateReplay(
      spark: SparkSession,
      fixture: DataFrame,
      rowsPerSecond: Int = 1): DataFrame = {
    val n = fixture.count()
    // localCheckpoint: materialize the indexed fixture so its lineage
    // (row_number over monotonically_increasing_id — unsupported in
    // streaming plans) doesn't cross into the stream-static join.
    val indexed = fixture.withColumn("idx",
      row_number().over(Window.orderBy(monotonically_increasing_id()))
        .cast("long") - 1)
      .localCheckpoint()
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .withColumn("idx", col("value") % n)
      .join(indexed, "idx")
      .drop("idx", "timestamp", "value")
  }
}
