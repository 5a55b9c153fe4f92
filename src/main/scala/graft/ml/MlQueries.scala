package graft.ml

import org.apache.spark.ml.feature.{StandardScaler, StringIndexer, OneHotEncoder, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Derived, Tables}

/** Oracle-able SQL analogues + rows-only drivers for the ML operator
  * surface (SURVEY §2.4 M1–M9). The estimators run for real (MLlib
  * fit/transform); where the fitted transform has a closed-form SQL
  * equivalent (frequency-rank for StringIndexer, case-when for
  * OneHotEncoder, windowed z-score for StandardScaler) the query gets
  * a DuckDB oracle; the iterative LR fit is asserted in ScalaTest
  * (golden metrics) and registered rows-only here.
  */
object MlQueries {
  type Q = (SparkSession, String) => DataFrame

  /** M1: StringIndexer (frequencyDesc, ties alphabetical) on
    * lineitem.l_returnflag — oracle = join against a frequency-ranked
    * dimension. */
  def m1StringIndexer(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_returnflag")
    new StringIndexer()
      .setInputCol("l_returnflag").setOutputCol("flag_indexed")
      .setHandleInvalid("keep")
      .fit(df).transform(df)
  }

  /** M2: OneHotEncoder over the indexed column, exploded to (pos,
    * val) pairs so the oracle does not depend on vector width. */
  def m2OneHot(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_returnflag")
    val indexer = new StringIndexer()
      .setInputCol("l_returnflag").setOutputCol("flag_indexed")
      .setHandleInvalid("keep")
    val encoder = new OneHotEncoder()
      .setInputCols(Array("flag_indexed"))
      .setOutputCols(Array("flag_encoded"))
    val indexed = indexer.fit(df).transform(df)
    encoder.fit(indexed).transform(indexed)
      .select(col("l_orderkey"), col("l_linenumber"),
        posexplode(vector_to_array(col("flag_encoded")))
          .as(Seq("pos", "val")))
  }

  /** M3+M4: VectorAssembler + StandardScaler (withMean, withStd) over
    * two numeric columns.
    *
    * Oracle determinism: MLlib's streaming variance and SQL's
    * stddev_samp differ by ~1e-9, so `round(z, 4)` flips at rounding
    * boundaries (r3: rows matched, hash didn't). The hash-compared
    * columns are therefore closed-form z-scores computed from EXACT
    * integer-cent sums (decimal/hugeint — overflow-safe at any SF)
    * with the identical expression shape on both sides → bit-exact
    * doubles → `floor(z*10000)` quantization is deterministic. The
    * real scaler stays in the executed plan and is checked per row:
    * `scaler_ok` = |scaler z − closed-form z| < 1e-6, which the
    * oracle asserts by emitting TRUE.
    */
  def m4Scaler(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice")
    val assembler = new VectorAssembler()
      .setInputCols(Array("l_quantity", "l_extendedprice"))
      .setOutputCol("raw").setHandleInvalid("keep")
    // The scaler fit and the stats agg are independent jobs over
    // different column subsets — submit them concurrently and let the
    // scheduler interleave (local[32] has the slots; on a cluster the
    // two stages share executors the same way).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val scalerModelF = Future {
      new StandardScaler()
        .setInputCol("raw").setOutputCol("scaled")
        .setWithMean(true).setWithStd(true)
        .fit(assembler.transform(df))
    }
    // Exact first-pass sums as DRIVER literals, computed straight off
    // the parquet scan (pushed-down two-column columnar agg). The
    // former shape (localCheckpoint six columns → stats agg →
    // broadcast crossJoin) paid a checkpoint write plus two
    // checkpoint reads — ~1.1 s of the entry's former ~2.8 s at
    // sf0.1. The scalar math below replicates the former SQL
    // cast-for-cast and op-for-op (Long→Double, Decimal→Double via
    // BigDecimal.doubleValue ≡ Spark's CAST(DECIMAL AS DOUBLE),
    // IEEE a - b*c/d ordering), so every emitted bit is unchanged;
    // z-scores are scale-invariant, so cents ≡ $.
    val st = Tables.lineitem(s, dir)
      .select(
        expr("CAST(l_quantity AS BIGINT)").as("qc"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("pc"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("qc")).as("s1q"),
        sum(expr("CAST(qc * qc AS DECIMAL(38,0))")).as("s2q"),
        sum(expr("CAST(pc AS DECIMAL(38,0))")).as("s1p"),
        sum(expr("CAST(pc * pc AS DECIMAL(38,0))")).as("s2p"))
      .head()
    val scalerModel = Await.result(scalerModelF, Duration.Inf)
    val n = st.getLong(0)
    val nD = n.toDouble
    val s1qD = st.getLong(1).toDouble
    val s2qD = st.getDecimal(2).doubleValue
    val s1pD = st.getDecimal(3).doubleValue
    val s2pD = st.getDecimal(4).doubleValue
    val mq = s1qD / nD
    val vq = (s2qD - s1qD * s1qD / nD) / (n - 1).toDouble
    val mp = s1pD / nD
    val vp = (s2pD - s1pD * s1pD / nD) / (n - 1).toDouble
    // One execution pass: scan → assemble → MLlib transform → z.
    val zq = (col("qc").cast("double") - lit(mq)) / sqrt(lit(vq))
    val zp = (col("pc").cast("double") - lit(mp)) / sqrt(lit(vp))
    scalerModel.transform(assembler.transform(df))
      .withColumn("arr", vector_to_array(col("scaled")))
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("CAST(l_quantity AS BIGINT)").as("qc"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("pc"),
        col("arr").getItem(0).as("s_qty"),
        col("arr").getItem(1).as("s_price"))
      .select(col("l_orderkey"), col("l_linenumber"),
        floor(zq * lit(10000.0)).cast("long").as("z_qty"),
        floor(zp * lit(10000.0)).cast("long").as("z_price"),
        (abs(col("s_qty") - zq) < 1e-6 && abs(col("s_price") - zp) < 1e-6)
          .as("scaler_ok"))
  }

  /** One fit per dataset ([[graft.core.Derived.Memo]]): m5 and m9
    * share the trained model — the fit is identical (same data, same
    * seed), so retraining per query would only double the bench/verify
    * wall time. */
  private val models =
    Derived.Memo[org.apache.spark.ml.PipelineModel]("fraud_model")

  private def trainedModel(s: SparkSession,
      dir: String): org.apache.spark.ml.PipelineModel =
    models(s, dir) {
      val (train, _) = FraudPipeline.split(Transactions.fromEvents(s, dir))
      FraudPipeline.train(train)
    }

  /** M5+M6+M7+M9 (+A4): train the full 5-stage pipeline on the
    * PaySim-shaped frame derived from `events`, evaluate, and emit
    * the metrics row. Iterative LBFGS fit → no SQL oracle (golden
    * metrics asserted in ScalaTest); registered rows-only. */
  def m5TrainEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val txns = Transactions.fromEvents(s, dir)
    val (_, test) = FraudPipeline.split(txns)
    val model = trainedModel(s, dir)
    Seq(FraudPipeline.evaluate(model, test)).toDF()
  }

  /** M8: seed-42 randomSplit — split sizes (deterministic per
    * partitioning; rows-only). */
  def m8RandomSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val txns = Transactions.fromEvents(s, dir)
    val (train, test) = FraudPipeline.split(txns)
    Seq((train.count(), test.count())).toDF("train_rows", "test_rows")
  }

  /** M9: score with a trained model and project fraud_prediction /
    * fraud_probability (P7/P8) — class distribution of predictions. */
  def m9Predict(s: SparkSession, dir: String): DataFrame = {
    val txns = Transactions.fromEvents(s, dir)
    val (_, test) = FraudPipeline.split(txns)
    val model = trainedModel(s, dir)
    FraudPipeline.predict(model, test)
      .groupBy(col("fraud_prediction"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("fraud_probability")), 3).as("avg_prob"))
  }

  val queries: Map[String, Q] = Map(
    "m1_string_indexer" -> (m1StringIndexer _),
    "m2_onehot" -> (m2OneHot _),
    "m4_scaler" -> (m4Scaler _),
    "m5_train_eval" -> (m5TrainEval _),
    "m8_random_split" -> (m8RandomSplit _),
    "m9_predict" -> (m9Predict _)
  )

  val oracle: Map[String, String] = Map(
    "m1_string_indexer" ->
      """WITH ranks AS (
        | SELECT l_returnflag,
        |  CAST(row_number() OVER (ORDER BY count(*) DESC, l_returnflag ASC)
        |       - 1 AS DOUBLE) AS flag_indexed
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
        |       r.flag_indexed
        |FROM lineitem l JOIN ranks r USING (l_returnflag)""".stripMargin,
    "m2_onehot" ->
      """WITH ranks AS (
        | SELECT l_returnflag,
        |  CAST(row_number() OVER (ORDER BY count(*) DESC, l_returnflag ASC)
        |       - 1 AS DOUBLE) AS idx
        | FROM lineitem GROUP BY l_returnflag),
        |positions AS (SELECT CAST(idx AS INTEGER) AS pos FROM ranks)
        |SELECT l.l_orderkey, l.l_linenumber, p.pos,
        |  CASE WHEN r.idx = p.pos THEN 1.0 ELSE 0.0 END AS val
        |FROM lineitem l
        |JOIN ranks r USING (l_returnflag)
        |CROSS JOIN positions p""".stripMargin,
    "m4_scaler" ->
      """WITH cents AS (
        | SELECT l_orderkey, l_linenumber,
        |   CAST(l_quantity AS BIGINT) AS qc,
        |   CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
        | FROM lineitem),
        |stats AS (
        | SELECT count(*) AS n,
        |   sum(qc) AS s1q, sum(qc * qc) AS s2q,
        |   sum(pc) AS s1p, sum(pc * pc) AS s2p
        | FROM cents),
        |z AS (
        | SELECT l_orderkey, l_linenumber,
        |  (CAST(qc AS DOUBLE) - CAST(s1q AS DOUBLE) / CAST(n AS DOUBLE))
        |   / sqrt((CAST(s2q AS DOUBLE) - CAST(s1q AS DOUBLE) * CAST(s1q AS DOUBLE)
        |           / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) AS zq,
        |  (CAST(pc AS DOUBLE) - CAST(s1p AS DOUBLE) / CAST(n AS DOUBLE))
        |   / sqrt((CAST(s2p AS DOUBLE) - CAST(s1p AS DOUBLE) * CAST(s1p AS DOUBLE)
        |           / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) AS zp
        | FROM cents CROSS JOIN stats)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(floor(zq * 10000.0) AS BIGINT) AS z_qty,
        |  CAST(floor(zp * 10000.0) AS BIGINT) AS z_price,
        |  TRUE AS scaler_ok
        |FROM z""".stripMargin
  )
}
