package graft.apps

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.{Derived, Sessions}
import graft.ml.{FraudPipeline, Transactions}
import graft.streaming.ScoringStream

/** Streaming instrumentation parity bench (BASELINE.md item 1,
  * VERDICT r4/r5 task #6): runs the EXACT scoring graph StreamApp
  * deploys — parse → score → distributed alerts → stats — on a
  * MemoryStream (the environment has no Kafka broker; the graph is
  * source-agnostic), and emits the reference-shaped
  * `streaming_stats.json` (spark_streaming_app.py:219-226).
  *
  * The artifact is checked in at `artifacts/streaming_stats.json`;
  * StreamStatsShapeSpec pins its key set against the reference's.
  * `graft.Bench` calls [[run]] so the same numbers also land as a
  * `{"metric":"streaming",...}` line in the per-round bench artifact
  * (VERDICT r6 task #7).
  *
  * Usage: runMain graft.apps.StreamBenchApp [outPath] [nBatches] [batchRows]
  */
object StreamBenchApp {

  /** Regression floor for the scoring graph's throughput on this
    * host profile (VERDICT r13 task #7): r13 measured 11,256 rec/s
    * steady-state at local[32]/sf0.1; 8,000 leaves the documented
    * ±10–15% host band plus headroom while still catching any
    * structural regression (a lineage re-execution, a driver-side
    * collect, a per-batch re-plan would each cost far more than 30%).
    * Enforced two ways: StreamThroughputSpec gates a smaller run at a
    * proportionally conservative floor, and graft.Bench stamps the
    * floor + pass/fail into its stream_throughput line so the
    * per-round artifact is self-gating. */
  val ThroughputFloorRecSec = 8000.0

  /** Temp checkpoint for one streaming query, deleted recursively
    * when the body finishes (ADVICE r16: every bench/spec invocation
    * used to leak a state-store checkpoint tree in /tmp). */
  private def withTempCheckpoint[A](prefix: String)(
      body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      val walk = Files.walk(dir)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** Drive the scoring graph over `nBatches` MemoryStream batches of
    * `batchRows` JSON wire rows each; returns the cumulative stats
    * plus the number of alert rows the sink received. Pure function
    * of the session — writes no artifact (main() does that). */
  def run(spark: SparkSession, sfDir: String, nBatches: Int,
      batchRows: Int,
      resources: Option[graft.core.ResourceUtil] = None)
      : (ScoringStream.StatsAccumulator, Long) = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val txns = Transactions.fromEvents(spark, sfDir).cache()
    // weighted=true (the opt-in fix for the reference's unweighted
    // training) so the imbalanced fixture yields fraud predictions —
    // the bench must exercise the alert path, not skip it.
    val model = FraudPipeline.train(txns, weighted = true)
    // JSON wire rows, as the producer would emit them (P10).
    val wire = txns
      .select(to_json(struct(col("*"))).as("v"))
      .limit(nBatches * batchRows)
      .collect().map(_.getString(0)).toSeq
    txns.unpersist()

    val input = MemoryStream[String]
    val parsed = ScoringStream.parse(
      input.toDF().select(col("value").cast("binary").as("value")))
    val stats = new ScoringStream.StatsAccumulator
    resources.foreach(_.capture())
    var alertRows = 0L
    withTempCheckpoint("graft_stream_bench_ckpt") { checkpoint =>
      val query = ScoringStream.start(parsed, model, checkpoint,
        // distributed alert path: the frame is fully computed on
        // executors; the sink here just counts what Kafka would
        // receive
        alertDf => alertRows += alertDf.count(),
        stats)
      try {
        wire.grouped(batchRows).take(nBatches).foreach { rows =>
          input.addData(rows)
          query.processAllAvailable()
          resources.foreach(_.capture())
        }
      } finally query.stop()
    }
    (stats, alertRows)
  }

  /** Regression floor for the session-window path (VERDICT r15 task
    * #5). Unlike the scoring graph (stateless per-record inference,
    * 12k+ rec/s), session windows on this corpus are STATE-bound:
    * ~0.9 sessions per record (the events clock spreads accounts
    * thinly), so every batch rewrites most of its state-store
    * partitions — measured 2.8k rec/s steady at local[32]/sf0.1.
    * The floor sits ~30% under that: inside the host band, but a
    * structural regression (per-batch re-plan, state-store rewrite
    * amplification, a lineage re-execution) costs multiples. */
  val SessionizeFloorRecSec = 2000.0

  /** Session-window gate result: throughput plus the streaming-vs-
    * batch equality verdict. */
  final case class SessionizeResult(
      recordsPerSec: Double, records: Long, sessions: Long,
      mismatches: Long, batches: Int)

  /** Drive [[graft.streaming.StatefulOps.sessionWindowCounts]] over
    * MemoryStream micro-batches and verify the emitted sessions
    * against an INDEPENDENT batch recompute of the same corpus — a
    * lag/cumsum sessionizer (the e2_sessionize formulation) with the
    * engine's session_window semantics (split when the gap to the
    * previous event EXCEEDS gap — boundary events exactly gap apart
    * merge, probed empirically; session end = last event + gap). The
    * equality is the correctness claim for the streaming state
    * machine: sessions merged and evicted incrementally across
    * batches must equal the one-shot batch answer.
    *
    * Append mode emits a session only once the watermark passes its
    * end, so after the corpus a far-future sentinel row (excluded
    * from both sides of the compare) advances the watermark and a
    * second sentinel batch flushes the final emissions. */
  def runSessionize(spark: SparkSession, sfDir: String, nBatches: Int,
      batchRows: Int): SessionizeResult = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // a REPLAYED feed arrives in event-time order (step asc) — fed
    // unordered, events >4h late would be watermark-dropped by the
    // streaming side while the batch twin keeps them, and the
    // equality claim would be vacuous
    val txns = Transactions.fromEvents(spark, sfDir)
    val wire = txns
      .select(to_json(struct(col("*"))).as("v"), col("step"))
      .limit(nBatches * batchRows)
      .collect()
      .sortBy(r => (r.getInt(1), r.getString(0)))
    val maxStep = wire.map(_.getInt(1)).foldLeft(0)(math.max)
    val rows = wire.map(_.getString(0)).toSeq
    // far-future sentinel: advances the watermark past every real
    // session's end; its own (never-emitted) session is excluded
    val sentinel =
      s"""{"step":${maxStep + 10000},"type":"PAYMENT","amount":1.0,
         |"nameOrig":"__WM_SENTINEL__","oldbalanceOrg":0.0,
         |"newbalanceOrig":0.0,"nameDest":"D","oldbalanceDest":0.0,
         |"newbalanceDest":0.0,"isFraud":0,"isFlaggedFraud":0}"""
        .stripMargin.replaceAll("\n", "")

    val input = MemoryStream[String]
    val parsed = ScoringStream.parse(
      input.toDF().select(col("value").cast("binary").as("value")))
    val sessions = graft.streaming.StatefulOps
      .sessionWindowCounts(parsed, gap = "2 hours")
    val sinkName = "graft_sessionize_sink"
    val t0 = System.nanoTime()
    withTempCheckpoint("graft_sessionize_ckpt") { checkpoint =>
      val query = sessions.writeStream
        .format("memory").queryName(sinkName)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .start()
      try {
        rows.grouped(batchRows).foreach { batch =>
          input.addData(batch)
          query.processAllAvailable()
        }
        // two sentinel batches: the first advances the watermark, the
        // second triggers eviction/emission under the new watermark
        input.addData(Seq(sentinel)); query.processAllAvailable()
        input.addData(Seq(sentinel)); query.processAllAvailable()
      } finally query.stop()
    }
    val wallSec = (System.nanoTime() - t0) / 1e9

    val streamed = spark.table(sinkName)
      .filter(col("nameOrig") =!= "__WM_SENTINEL__")
      .localCheckpoint()

    // independent batch twin: lag/cumsum over the same wire rows
    import org.apache.spark.sql.expressions.Window
    val byAcct = Window.partitionBy(col("nameOrig"))
      .orderBy(col("eventTime"))
    val gapSec = 7200L
    val batchSessions = graft.streaming.StatefulOps.withEventTime(
      ScoringStream.parse(
        rows.toDF("json").select(col("json").cast("binary").as("value"))))
      .withColumn("et", unix_timestamp(col("eventTime")))
      .withColumn("prev", lag(col("et"), 1).over(byAcct))
      .withColumn("new_session",
        when(col("prev").isNull || col("et") - col("prev") > gapSec,
          1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byAcct.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("nameOrig"), col("session_id"))
      .agg(
        min(col("eventTime")).as("session_start"),
        (max(col("et")) + gapSec).cast("timestamp").as("session_end"),
        count(lit(1)).as("n_txns"),
        sum(col("amount")).as("volume"))
      .drop("session_id")

    // exact on keys/boundaries/counts; volume to FP tolerance (the
    // two sides sum doubles in different orders)
    val joined = streamed.as("s").join(batchSessions.as("b"),
      Seq("nameOrig", "session_start", "session_end", "n_txns"),
      "full_outer")
    val mismatches = joined.filter(
      col("s.volume").isNull || col("b.volume").isNull ||
        abs(col("s.volume") - col("b.volume")) >
          greatest(lit(1e-6), abs(col("b.volume")) * 1e-9)).count()

    SessionizeResult(
      recordsPerSec = rows.size.toDouble / math.max(wallSec, 1e-9),
      records = rows.size.toLong,
      sessions = streamed.count(),
      mismatches = mismatches,
      batches = (rows.size + batchRows - 1) / batchRows)
  }

  /** Regression floor for the streaming-dedup path (VERDICT r16 task
    * #7). The state machine is lighter than sessionize (one key per
    * record, no merge logic), but every record still writes the
    * dedup state store; floor set ~30% under the measured local[32]
    * steady state, same discipline as the other stream gates. */
  val DedupFloorRecSec = 2500.0

  /** Streaming-dedup gate result: throughput plus the batch-twin
    * equality verdict. `dupsFed` counts the planted re-deliveries —
    * the gate is vacuous unless it is positive. */
  final case class DedupResult(
      recordsPerSec: Double, records: Long, uniques: Long,
      dupsFed: Long, mismatches: Long, batches: Int)

  /** Drive [[graft.streaming.StatefulOps.dedupWithinWatermark]] over
    * MemoryStream micro-batches with PLANTED re-deliveries (each
    * batch i > 0 re-delivers the tail of batch i−1 — the at-least-
    * once replay a Kafka source produces after a failover) and
    * verify the emitted rows against the batch twin: exactly one row
    * per distinct content key of the FED multiset, no key missing,
    * none emitted twice. The key derivation is shared with the
    * operator ([[graft.streaming.StatefulOps.txnKey]]), and `step`
    * is inside the hash, so a re-delivery can never straddle the
    * watermark horizon — the equality is exact, not probabilistic. */
  def runDedup(spark: SparkSession, sfDir: String, nBatches: Int,
      batchRows: Int): DedupResult = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val txns = Transactions.fromEvents(spark, sfDir)
    // replay order (step asc), as a replayed feed would arrive
    val wire = txns
      .select(to_json(struct(col("*"))).as("v"), col("step"))
      .limit(nBatches * batchRows)
      .collect()
      .sortBy(r => (r.getInt(1), r.getString(0)))
      .map(_.getString(0)).toSeq
    val clean = wire.grouped(batchRows).toIndexedSeq
    val redeliver = math.min(200, batchRows)
    val batches = clean.zipWithIndex.map { case (b, i) =>
      if (i == 0) b else clean(i - 1).takeRight(redeliver) ++ b
    }
    val fed = batches.flatten

    val input = MemoryStream[String]
    val parsed = ScoringStream.parse(
      input.toDF().select(col("value").cast("binary").as("value")))
    val deduped = graft.streaming.StatefulOps
      .dedupWithinWatermark(parsed)
    val sinkName = "graft_dedup_sink"
    val t0 = System.nanoTime()
    withTempCheckpoint("graft_dedup_ckpt") { checkpoint =>
      val query = deduped.writeStream
        .format("memory").queryName(sinkName)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .start()
      try batches.foreach { b =>
        input.addData(b)
        query.processAllAvailable()
      } finally query.stop()
    }
    val wallSec = (System.nanoTime() - t0) / 1e9

    val streamed = spark.table(sinkName).localCheckpoint()
    // batch twin: distinct content keys of the same fed multiset,
    // via the operator's own key derivation
    val fedKeys = ScoringStream.parse(
        fed.toDF("json").select(col("json").cast("binary").as("value")))
      .select(graft.streaming.StatefulOps.txnKey.as("txn_key"))
      .groupBy(col("txn_key")).agg(count(lit(1)).as("n_fed"))
    val emitted = streamed.groupBy(col("txn_key"))
      .agg(count(lit(1)).as("n_out"))
    val joined = fedKeys.join(emitted, Seq("txn_key"), "full_outer")
    val mismatches = joined.filter(
      col("n_fed").isNull || col("n_out").isNull ||
        col("n_out") =!= 1L).count()
    val uniques = fedKeys.count()

    DedupResult(
      recordsPerSec = fed.size.toDouble / math.max(wallSec, 1e-9),
      records = fed.size.toLong,
      uniques = uniques,
      dupsFed = fed.size.toLong - uniques,
      mismatches = mismatches,
      batches = batches.size)
  }

  /** Regression floor for the stream-stream join path (r18, closing
    * the last ungated StatefulOps operator). The op is the most
    * state-intensive of the gates — four state stores per partition,
    * all rewritten every batch — so its per-record cost is dominated
    * by per-batch store IO, not row volume: measured 1,151 rec/s
    * steady at local[32]/sf0.1 with traffic-sized state partitions
    * (see runJoin). Floor ~30% under, same discipline as the other
    * stream gates. */
  val JoinFloorRecSec = 800.0

  /** Stream-stream join gate result: throughput plus the batch-twin
    * equality verdict. `joined` counts emitted pairs — the gate is
    * vacuous unless it is positive. */
  final case class JoinResult(
      recordsPerSec: Double, records: Long, joined: Long,
      mismatches: Long, batches: Int)

  /** Drive [[graft.streaming.StatefulOps.streamStreamJoin]] over two
    * MemoryStreams — CASH_OUT events on the left, PAYMENT events on
    * the right, fed in lockstep step order so both watermarks
    * advance together — and verify the emitted pairs against the
    * batch twin: the SAME operator body applied to the fed rows as
    * bounded frames (`withWatermark` is a no-op on batch, so the
    * join condition is shared verbatim, zero re-spelling risk).
    * (TRANSFER cannot be the inflow side on this corpus: its
    * destinations are merchant-prefixed, disjoint from every other
    * type's account space, so that join is empty by construction.)
    *
    * The join itself is the PaySim laundering probe: each cash-out
    * paired with every payment into the same destination account
    * during the preceding 2 hours. Inner join in append mode emits a
    * pair as soon as both sides have arrived; the watermark exists
    * to EVICT join state, and feeding both sides in event-time order
    * keeps every needed right-side row inside the retention bound —
    * so streaming emissions must equal the batch join EXACTLY (the
    * compare is a full-outer multiset diff on the pair payload). */
  def runJoin(spark: SparkSession, sfDir: String, nBatches: Int,
      batchRows: Int): JoinResult = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val txns = Transactions.fromEvents(spark, sfDir)
    val wire = txns
      .select(to_json(struct(col("*"))).as("v"), col("step"),
        col("type"))
      .limit(nBatches * batchRows)
      .collect()
      .sortBy(r => (r.getInt(1), r.getString(0)))
    val groups = wire.grouped(batchRows).toIndexedSeq
    def sideRows(g: Seq[org.apache.spark.sql.Row], t: String) =
      g.filter(_.getString(2) == t).map(_.getString(0))
    val nFed = wire.count(r => r.getString(2) == "CASH_OUT" ||
      r.getString(2) == "PAYMENT").toLong

    val lIn = MemoryStream[String]
    val rIn = MemoryStream[String]
    def parsedSide(df: org.apache.spark.sql.DataFrame) =
      graft.streaming.StatefulOps.withEventTime(ScoringStream.parse(df))
        .select(col("nameDest"), col("eventTime"), col("step"),
          col("amount"))
    def joinOf(l: org.apache.spark.sql.DataFrame,
        r: org.apache.spark.sql.DataFrame) =
      graft.streaming.StatefulOps
        .streamStreamJoin(parsedSide(l), parsedSide(r), "nameDest",
          maxDelay = "2 hours")
        .select(col("nameDest"), col("step"), col("amount"),
          col("r_step"), col("r_amount"))
    def wireDf(in: MemoryStream[String]) =
      in.toDF().select(col("value").cast("binary").as("value"))

    val sinkName = "graft_ssjoin_sink"
    val t0 = System.nanoTime()
    // State partitions sized to the traffic, the standard streaming
    // tuning knob: a stream-stream join runs FOUR state stores per
    // partition, each committing a delta file per trigger, so the
    // per-batch fixed cost scales with the partition count, not the
    // data. On 4 cores at sf0.1 (10×5,000 rows) 8 partitions measured
    // 622–1,069 rec/s over four runs, 4 partitions 647–1,107 and 32
    // partitions 554: 4 and 8 sit within that host's noise, and 8
    // keeps a wide host off a 32-partition session default. (The
    // older 32-core figures, 355 rec/s at 32 vs 1,151 at 8, were set
    // by about 20 process spawns per state store per trigger, which
    // `NioLocalFs` removed.) The conf is scoped to this query (state
    // partition count pins at checkpoint creation; restored in
    // finally, and the batch twin below runs at the session default).
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val wallSec = try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      withTempCheckpoint("graft_ssjoin_ckpt") { checkpoint =>
        val query = joinOf(wireDf(lIn), wireDf(rIn)).writeStream
          .format("memory").queryName(sinkName)
          .outputMode("append")
          .option("checkpointLocation", checkpoint)
          .start()
        try groups.foreach { g =>
          lIn.addData(sideRows(g, "CASH_OUT"))
          rIn.addData(sideRows(g, "PAYMENT"))
          query.processAllAvailable()
        } finally query.stop()
      }
      (System.nanoTime() - t0) / 1e9
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)

    val streamed = spark.table(sinkName).localCheckpoint()
    def binify(rows: Seq[String]) = rows.toDF("json")
      .select(col("json").cast("binary").as("value"))
    val batchJoin = joinOf(
      binify(groups.flatMap(sideRows(_, "CASH_OUT"))),
      binify(groups.flatMap(sideRows(_, "PAYMENT"))))
    val keys = Seq("nameDest", "step", "amount", "r_step", "r_amount")
    def census(df: org.apache.spark.sql.DataFrame, n: String) =
      df.groupBy(keys.map(col).toIndexedSeq: _*)
        .agg(count(lit(1)).as(n))
    val mismatches = census(streamed, "n_s")
      .join(census(batchJoin, "n_b"), keys, "full_outer")
      .filter(col("n_s").isNull || col("n_b").isNull ||
        col("n_s") =!= col("n_b")).count()

    JoinResult(
      recordsPerSec = nFed.toDouble / math.max(wallSec, 1e-9),
      records = nFed,
      joined = streamed.count(),
      mismatches = mismatches,
      batches = groups.size)
  }

  /** Regression floor for the streaming delta-ingest path (r19,
    * VERDICT r18 task #2). Unlike the record-shaped gates, ingest
    * throughput is DOC-shaped and probe-bound: every micro-batch pays
    * a fixed fan of standing-index probe JOINS (catalog digests,
    * MinHash bands + fingerprint verify, 13-gram contamination) whose
    * job-count overhead dominates at 100-doc batches — measured 66.5
    * docs/s at local[32]/sf0.1 with 10×100-doc batches after the
    * probe-context memoization (batch-invariant census/eval-gram/
    * digest structures prepared once at service start, 50.6 → 66.5).
    * Floor ~40% under, same discipline as the other stream gates. */
  val IngestFloorRecSec = 40.0

  /** Streaming-ingest gate result: throughput plus the batch-twin
    * equality verdict. `admitted` counts admit decisions — the gate
    * is vacuous unless both it and some drop reason are positive.
    * `decisions` carries the per-doc verdicts so the spec can pin the
    * single-batch run byte-identical to pipe_delta_ingest. */
  final case class IngestResult(
      recordsPerSec: Double, records: Long, admitted: Long,
      mismatches: Long, batches: Int,
      decisions: Seq[(Long, String, String)])

  /** Drive the [[graft.operators.PipelineQueries.pipeDeltaIngest]]
    * decision body inside `foreachBatch` over a MemoryStream of delta
    * documents — the reference's micro-batch identity applied to the
    * corpus-ingest product — and verify every emitted decision
    * against an independent batch replay of the same batch
    * boundaries.
    *
    * Stream side, per micro-batch: [[graft.operators.PipelineQueries
    * .flagBatch]] probes the standing persisted indexes (catalog
    * pruned to the base split, cluster-layout MinHash bands + exact
    * fingerprint verify, 13-gram contamination) for the batch's docs,
    * survivors enter under the per-source [[graft.operators
    * .PipelineQueries.DeltaAdmitCap]] on the bounded-heap
    * TopKPerGroup path, and the batch's digests join the cross-batch
    * seen-set (the state a production ingest keeps by appending each
    * batch to the catalog's delta partition — kept as a frame here so
    * the gate never mutates the shared persisted catalog).
    *
    * Twin side: ONE batch query — [[graft.operators.PipelineQueries
    * .deltaFlagged]] over the whole split (its global min-doc_id
    * keeper equals the stream's batch-keeper + seen-digest
    * composition because the feed is doc_id-ascending) plus a
    * per-(source, batch) window-rank quota — a formulation sharing
    * neither the per-batch restriction nor the bounded-heap operator
    * with the stream side. The full-outer decision diff must be
    * empty. With a single batch the decisions are additionally
    * byte-identical to pipe_delta_ingest itself (StreamIngestSpec
    * pins that). */
  def runIngest(spark: SparkSession, sfDir: String,
      batchRows: Int): IngestResult = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.PipelineQueries
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val M = graft.sources.IndexStore.TrgmDeltaMod
    // standing state: built once at ingest-service start, not per
    // batch — excluded from the timed window like the trained model
    // in run()
    graft.sources.IndexStore.ensureCatalog(spark, sfDir)
    graft.sources.IndexStore.ensureMinhash(spark, sfDir)
    graft.sources.IndexStore.ensureGram13(spark, sfDir)

    // the delta split as a doc_id-ascending JSON wire (P10), the
    // order a replayed ingest feed arrives in — and the order that
    // makes batch-local keepers compose to the split-global one
    val wire = graft.core.Tables.documents(spark, sfDir)
      .filter(pmod(col("doc_id"), lit(M.toLong)) === M - 1)
      .orderBy(col("doc_id"))
      .select(to_json(struct(col("doc_id"), col("source"),
        col("text"))).as("v"), col("doc_id"))
      .collect()
    val groups = wire.grouped(batchRows).toIndexedSeq
    val bidRows = groups.zipWithIndex.flatMap { case (g, i) =>
      g.map(r => (r.getLong(1), i))
    }

    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("source", org.apache.spark.sql.types.StringType)
      .add("text", org.apache.spark.sql.types.StringType)
    val input = MemoryStream[String]
    val parsed = input.toDF()
      .select(from_json(col("value"), schema).as("d"))
      .select(col("d.doc_id").as("doc_id"),
        col("d.source").as("source"), col("d.text").as("text"))

    val decisions = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String)]
    var seenDigests = Seq.empty[String].toDF("text_md5")
    val t0 = System.nanoTime()
    withTempCheckpoint("graft_ingest_ckpt") { checkpoint =>
      val query = parsed.writeStream
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batchDf: org.apache.spark.sql.DataFrame,
            _: Long) =>
          if (!batchDf.isEmpty) {
            // slot-keyed: batch N's flags are dead once batch N+1's
            // materialize (decisions collected, digests folded) —
            // free the previous generation instead of leaking one
            // checkpoint per batch
            val flagged = Derived.slot("ingest_flagged", spark, sfDir)(
              PipelineQueries.flagBatch(spark, sfDir,
                batchDf, seenDigests))
            val survivors = flagged
              .filter(col("drop_reason").isNull)
              .select(col("doc_id"), col("source"), col("h"))
            val admits = graft.plans.TopKPerGroup(survivors,
                Seq("source"), "h", descending = false, Seq("doc_id"),
                PipelineQueries.DeltaAdmitCap)
              .select(col("doc_id"))
              .withColumn("is_admit", lit(true))
            val dec = flagged
              .join(broadcast(admits), Seq("doc_id"), "left")
              .select(col("doc_id"), col("source"),
                coalesce(col("drop_reason"),
                  when(col("is_admit") === true, "admit")
                    .otherwise("quota")).as("decision"))
            // the verification sink — what the catalog append (and
            // the alert topic for drops) would receive
            decisions ++= dec.collect().map(r =>
              (r.getLong(0), r.getString(1), r.getString(2)))
            seenDigests = Derived.slot("ingest_seen", spark, sfDir)(
              seenDigests
                .unionByName(flagged.select(col("text_md5")))
                .distinct())
          }
        }
        .start()
      try groups.foreach { g =>
        input.addData(g.map(_.getString(0)))
        query.processAllAvailable()
      } finally query.stop()
    }
    val wallSec = (System.nanoTime() - t0) / 1e9

    // independent batch replay of the same boundaries: whole-split
    // flags + window-rank quota per (source, batch)
    import org.apache.spark.sql.expressions.Window
    val bidDf = bidRows.toDF("doc_id", "bid")
    val flaggedAll = Derived.slot("ingest_twin", spark, sfDir)(
      PipelineQueries.deltaFlagged(spark, sfDir)
        .join(bidDf, Seq("doc_id"))) // fed docs only
    val w = Window.partitionBy(col("source"), col("bid"))
      .orderBy(col("h"), col("doc_id"))
    val twinAdmits = flaggedAll.filter(col("drop_reason").isNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PipelineQueries.DeltaAdmitCap)
      .select(col("doc_id")).withColumn("is_admit", lit(true))
    val twin = flaggedAll
      .join(twinAdmits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("drop_reason"),
          when(col("is_admit") === true, "admit").otherwise("quota"))
          .as("t_dec"))
    val streamedDf = decisions.toSeq.toDF("doc_id", "source", "decision")
    val mismatches = streamedDf.join(twin, Seq("doc_id"), "full_outer")
      .filter(col("decision").isNull || col("t_dec").isNull ||
        col("decision") =!= col("t_dec")).count()

    IngestResult(
      recordsPerSec = wire.length.toDouble / math.max(wallSec, 1e-9),
      records = wire.length.toLong,
      admitted = decisions.count(_._3 == "admit").toLong,
      mismatches = mismatches,
      batches = groups.size,
      decisions = decisions.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("artifacts/streaming_stats.json")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(5)
    val batchRows = args.lift(2).map(_.toInt).getOrElse(2000)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")

    val spark = Sessions.local("graft-stream-bench")
    spark.sparkContext.setLogLevel("WARN")

    // reference parity: psutil-style resource sampling at init and
    // around each batch (spark_streaming_app.py:163-165,319,372)
    val resources = new graft.core.ResourceUtil
    val (stats, alertRows) =
      run(spark, sfDir, nBatches, batchRows, Some(resources))

    stats.writeJson(outPath)
    val resourcePath = outPath.replaceAll("[^/]+$", "resource_summary.json")
    resources.writeJson(resourcePath)
    // Self-verifying tail line, same contract as graft.Bench: short,
    // LAST, parseable.
    println(stats.json)
    println(
      s"""{"metric":"stream_bench","batches":${stats.totalBatches},""" +
        s""""records":${stats.totalRecords},"alerts":$alertRows,""" +
        s""""out":"$outPath"}""")
    spark.stop()
  }
}
