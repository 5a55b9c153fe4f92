package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{PortableHash, Tables}

/** CDC merge / upsert — MERGE INTO semantics expressed Spark-first:
  * one full-outer equi-join on the key, then per-row resolution with
  * `coalesce` + `when` (matched → update, unmatched-source → insert,
  * unmatched-target → keep). Catalyst plans a single shuffle on the
  * key for both sides; with AQE the delta side (typically ≪ target)
  * broadcasts and the target never moves — exactly the shape a
  * 100 TB incremental-ingest pipeline wants. A real deployment would
  * pair this with a merge-on-read table format; the RESOLUTION
  * operator here is format-agnostic.
  *
  * The delta is derived deterministically from the base table via the
  * engine-portable hash (updates: h%10 < 3 re-priced; inserts: h%10 =
  * 0 under negated keys — disjoint from the positive key space at
  * any scale), so the merged result is exactly reproducible in the
  * SQL oracle.
  */
object MergeOps {
  type Q = (SparkSession, String) => DataFrame

  def m10MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    def cents = round(col("o_totalprice") * 100).cast("long")
    val withH = Tables.orders(s, dir)
      .withColumn("h", PortableHash.md5Hash60(col("o_orderkey")) % 10L)
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), cents.as("price_cents"))
    val updates = withH.filter(col("h") < 3)
      .select(col("o_orderkey"), (cents + 10000L).as("price_cents"))
    // Insert keys are NEGATED (orderkeys are positive), so the
    // synthetic new keys are disjoint from the base at ANY scale — a
    // fixed offset would collide once max(o_orderkey) crossed it.
    val inserts = withH.filter(col("h") === 0)
      .select((-col("o_orderkey") - 1L).as("o_orderkey"),
        cents.as("price_cents"))
    val delta = updates.unionByName(inserts)
    base.as("b").join(delta.as("u"), Seq("o_orderkey"), "full_outer")
      .select(col("o_orderkey"),
        coalesce(col("u.price_cents"), col("b.price_cents"))
          .as("price_cents"),
        when(col("u.price_cents").isNull, "kept")
          .when(col("b.price_cents").isNull, "inserted")
          .otherwise("updated").as("action"))
  }

  /** Delta cutoff for [[m11IncrAgg]]: rows shipped on/after this
    * date are "the new batch". Mid-corpus (range 1995..2001), so
    * both partitions are substantial. Interpolated into the
    * oracle. */
  val IncrAggSplit = "1999-01-01"

  /** Incremental aggregate maintenance: a materialized per-(flag,
    * status) aggregate built from the historical partition, MERGED
    * with a freshly-aggregated delta batch by summing mergeable
    * partials — count, sum, and sum-of-squares states re-aggregate
    * with plain addition, and avg/variance derive from them after
    * the merge, never before. The output must be indistinguishable
    * from a full recompute, which is exactly what the oracle checks
    * (it aggregates the whole table in one pass).
    *
    * 100 TB shape: this is the contract that lets a daily pipeline
    * aggregate ONLY the new partition (delta scan) and fold it into
    * yesterday's state (|keys|-sized, broadcastable) instead of
    * rescanning history — the merge itself shuffles |keys| × 2
    * rows. The anti-pattern it replaces: storing avg and "merging"
    * it by averaging averages. */
  def m11IncrAgg(s: SparkSession, dir: String): DataFrame = {
    // whole dollars, not cents: the sum-of-squares state must stay
    // long-safe at any corpus scale (1e5² × 1e12 rows < 2^63)
    def partial(df: DataFrame): DataFrame = df
      .select(col("l_returnflag"), col("l_linestatus"),
        round(col("l_extendedprice")).cast("long").as("usd"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("usd")).as("sum_usd"),
        sum(col("usd") * col("usd")).as("sumsq_usd"))
    val li = Tables.lineitem(s, dir)
    // NULL ship dates route into the historical partition explicitly
    // (ADVICE r12): `< split` and `>= split` both reject NULL, so a
    // null-dated row would vanish from the merged state while the
    // oracle's single full-table pass keeps it
    val state = partial(li.filter(col("l_shipdate") < lit(IncrAggSplit)
      || col("l_shipdate").isNull))
    val delta = partial(li.filter(col("l_shipdate") >= lit(IncrAggSplit)))
    state.unionByName(delta)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("n")).as("n"), sum(col("sum_usd")).as("sum_usd"),
        sum(col("sumsq_usd")).as("sumsq_usd"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n"),
        col("sum_usd"), col("sumsq_usd"),
        // derived AFTER the merge, from exact integer states
        (col("sum_usd").cast("double") / col("n").cast("double"))
          .as("avg_usd"))
  }

  val queries: Map[String, Q] = Map(
    "m10_merge_upsert" -> (m10MergeUpsert _),
    "m11_incr_agg" -> (m11IncrAgg _)
  )

  val oracle: Map[String, String] = Map(
    // ONE full-table pass: if the engine's state+delta merge drifted
    // from a clean recompute in any way, the hash would catch it
    "m11_incr_agg" ->
      """WITH v AS (SELECT l_returnflag, l_linestatus,
        |   CAST(round(l_extendedprice) AS BIGINT) AS usd
        | FROM lineitem)
        |SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(usd) AS BIGINT) AS sum_usd,
        | CAST(sum(usd * usd) AS BIGINT) AS sumsq_usd,
        | CAST(sum(usd) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |   AS avg_usd
        |FROM v GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "m10_merge_upsert" ->
      """WITH o AS (SELECT o_orderkey,
        |   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |   ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT
        |     % 10 AS h
        |  FROM orders),
        |base AS (SELECT o_orderkey AS k, cents FROM o),
        |delta AS (
        |  SELECT o_orderkey AS k, cents + 10000 AS cents
        |  FROM o WHERE h < 3
        |  UNION ALL
        |  SELECT -o_orderkey - 1, cents FROM o WHERE h = 0)
        |SELECT coalesce(b.k, u.k) AS o_orderkey,
        | CAST(coalesce(u.cents, b.cents) AS BIGINT) AS price_cents,
        | CASE WHEN u.k IS NULL THEN 'kept'
        |      WHEN b.k IS NULL THEN 'inserted'
        |      ELSE 'updated' END AS action
        |FROM base b FULL OUTER JOIN delta u ON b.k = u.k""".stripMargin
  )
}
