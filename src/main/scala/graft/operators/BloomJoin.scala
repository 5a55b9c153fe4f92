package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.core.{Derived, Tables}

/** Bloom-filter semi-join reduction — the shuffle-volume cutter for
  * selective fact⋈dim joins at 100 TB. Spark's own
  * InjectRuntimeFilter applies the same trick automatically when its
  * size/selectivity heuristics fire; this operator drives the SAME
  * machinery (BloomFilterAggregate → BloomFilterMightContain, both
  * public Catalyst expressions) explicitly, so the reduction is
  * deterministic, registered, and testable rather than left to
  * planner thresholds.
  *
  * Mechanics: build a bloom filter over xxhash64(dim keys) — one
  * aggregate job over the (already filtered, hence small) dim side;
  * the serialized filter is index METADATA (MBs at most, the same
  * driver-transport contract as the IVF centroids and the skipping
  * manifest) embedded as a Literal into a `might_contain` predicate
  * on the fact side. The predicate is evaluated IN THE SCAN STAGE,
  * before the join's exchange, so rows that cannot match never
  * shuffle. False positives (bounded by the filter's fpp) are
  * removed by the exact semi-join that follows — results are EXACT,
  * which is what the plain-semi-join oracle certifies.
  */
object BloomJoin {
  type Q = (SparkSession, String) => DataFrame

  /** Serialized bloom over xxhash64(keyCol) of `dim`. */
  def buildBloom(dim: DataFrame, keyCol: String,
      expectedItems: Long): Array[Byte] = {
    val hashed = GraftSqlShims.expression(xxhash64(col(keyCol)))
    val agg = GraftSqlShims.column(
      new BloomFilterAggregate(hashed, expectedItems)
        .toAggregateExpression())
    dim.agg(agg.as("bf")).head().getAs[Array[Byte]]("bf")
  }

  /** Predicate `might_contain(bloom, xxhash64(key))` — evaluated
    * map-side in the scan stage; never shuffles non-candidates. */
  def mightContain(bloom: Array[Byte], key: Column): Column =
    GraftSqlShims.column(new BloomFilterMightContain(
      Literal.create(bloom, BinaryType),
      GraftSqlShims.expression(xxhash64(key))))

  /** One bloom build per dataset ([[graft.core.Derived.Memo]]): the
    * filter is a pure function of the dim data. */
  private val urgentBloom = Derived.Memo[Array[Byte]]("j7_bloom")

  /** Urgent-orders revenue through the bloom-reduced semi-join:
    * lineitem rows are pre-filtered by a bloom over the urgent
    * orders' keys before the exact semi-join and aggregate. Oracle
    * is the PLAIN semi-join SQL — the reduction must be invisible in
    * the result. */
  def j7BloomSemi(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bloom = urgentBloom(s, dir) {
      // expectedItems from the dim count: one cheap job over the
      // filtered dim side (at 100 TB you'd take it from stats)
      buildBloom(dim, "o_orderkey", math.max(dim.count(), 1L))
    }
    val big = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
    big
      .filter(mightContain(bloom, col("l_orderkey")))
      .join(dim.withColumnRenamed("o_orderkey", "l_orderkey"),
        Seq("l_orderkey"), "left_semi")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("long")).cast("long").as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).cast("long")
          .as("revenue_cents"))
  }

  val queries: Map[String, Q] = Map(
    "j7_bloom_semi" -> (j7BloomSemi _)
  )

  val oracle: Map[String, String] = Map(
    "j7_bloom_semi" ->
      """SELECT count(*) AS n_lines,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |   AS revenue_cents
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')""".stripMargin
  )
}
