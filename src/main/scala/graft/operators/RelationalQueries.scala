package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Derived, Tables}

/** The relational operator surface of the engine: every projection /
  * predicate / aggregate / limit operator of the reference
  * (SURVEY.md §2.2 P1–P10, §2.3 A1–A6, §2.5 L1–L3) plus the standard
  * algebra the reference never uses but the oracle gate requires
  * (joins incl. broadcast/semi/anti/outer, set ops, window functions,
  * rollup/cube, count-distinct exact + approximate).
  *
  * Every query is a declarative DataFrame plan — Catalyst pushes the
  * filters into the parquet scan, prunes columns, and picks
  * broadcast-hash joins for the dimension tables; nothing here runs
  * driver-side loops. Scale notes are on each operator.
  *
  * Determinism-for-oracle rules (DuckDB must hash-match bit-for-bit):
  *  - sums over non-integer doubles are order-dependent; we aggregate
  *    money as `sum(cast(round(x*100) as bigint))` — per-row fp ops
  *    are identical in both engines and the bigint sum is exact.
  *  - `l_quantity` is integer-valued, so its double sum/avg is exact
  *    in any order (all partial sums < 2^53).
  *  - per-row arithmetic written with the same op order is bit-exact
  *    across engines (both IEEE 754 doubles).
  *  - every aggregate is cast to a fixed type in BOTH engines
  *    (DuckDB's sum(int) is HUGEINT, Spark's is LONG — cast!).
  */
object RelationalQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Money aggregate: exact integer cents (see determinism notes). */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  // ===================================================================
  // §2.1 sources (the SQL-expressible ones)
  // ===================================================================

  /** S6: local-collection source — `createDataFrame` from driver rows
    * (reference: postgres_model_inference.py:285 pandas→Spark). */
  def s6LocalSource(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq(
      (1, "PAYMENT", 9839.64),
      (2, "TRANSFER", 181.0),
      (3, "CASH_OUT", 181.0),
      (4, "DEBIT", 5337.77),
      (5, "CASH_IN", 229133.94)
    ).toDF("txn_id", "txn_type", "amount")
  }

  /** S1+S7: CSV sink then CSV scan with explicit schema — the
    * reference's training-data load (fraud_detection_model.py:76) and
    * test-split export (fraud_detection_model.py:91-94), round-tripped
    * so the oracle is the identity projection. Explicit schema rather
    * than inferSchema: saves the inference scan (SURVEY §4). */
  def s1CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_csv_roundtrip").toString
    Tables.orders(s, dir)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").option("header", "true").csv(tmp)
    s.read
      .schema("o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE")
      .option("header", "true")
      .csv(tmp)
  }

  // ===================================================================
  // §2.2 projections / filters (P1–P10)
  // ===================================================================

  /** P1+P2+P3: bytes → CAST(value AS STRING) → from_json(schema) →
    * select("data.*") — the reference's Kafka parse chain
    * (spark_streaming_app.py:419-421) run as a batch round-trip, so
    * the oracle is the identity projection.
    *
    * The repartition decouples the codec stage's parallelism from the
    * FILE SPLIT count (VERDICT r15's p2 watch item): the JSON
    * serialize+parse is pure per-row CPU, but a small parquet input
    * yields ~2 scan splits, so without it the whole roundtrip ran on
    * 2 of 32 cores — the r15 bench's "never warms" signature was a
    * 2-task codec stage at its single-thread floor. The shuffle moves
    * 3 slim columns once; at 100 TB input splits saturate the cluster
    * and AQE coalesces this exchange away, while on small inputs it
    * is exactly the repartition-before-expensive-map discipline. */
  def p2JsonRoundtrip(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .repartition(s.sessionState.conf.numShufflePartitions)
      .select(
        to_json(struct(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))).cast("binary").as("value"))
      .selectExpr("CAST(value AS STRING) AS json")
      .select(from_json(col("json"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE"))
        .as("data"))
      .select("data.*")

  /** P4: equality filter (fraud_detection_model.py:80 `isFraud == 1`).
    * Pushed into the parquet scan as `PushedFilters: [EqualTo(...)]`. */
  def p4FilterEq(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "value")

  /** P5: compound boolean predicate (fraud_detection_model.py:259-262
    * shape: `(a==x & b==y) | (c==z & d==w)`). */
  def p5CompoundPred(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(
        (col("l_returnflag") === "R" && col("l_quantity") > 45) ||
        (col("l_discount") < 0.02 && col("l_quantity") < 3))
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")

  /** P6: arithmetic projection — the per-row expression surface
    * (fraud_detection_model.py:206-209). revenue/charge are the
    * classic pricing expressions; op order matches the oracle SQL
    * exactly so the doubles are bit-identical. */
  def p6ArithProj(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * (lit(1.0) + col("l_tax"))).as("charge"))

  /** P6 (reference shape): the classWeight projection
    * `label*ratio + (1-label)` ≡ when(label==1, r).otherwise(1.0)
    * (fraud_detection_model.py:206-209), on o_orderstatus as the
    * class column. */
  def p6ClassWeight(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      when(col("o_orderstatus") === "F", lit(2.5)).otherwise(lit(1.0))
        .as("class_weight"))

  /** P7: cast + alias (fraud_detection_model.py:397
    * `prediction.cast("int").alias("fraud_prediction")`). Spark's
    * double→long cast truncates toward zero. */
  def p7CastAlias(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      col("o_totalprice").cast("long").as("price_trunc"),
      col("o_orderstatus").as("status"))

  /** P9: star + extras projection (fraud_detection_model.py:395-399
    * `select("*", derived...)`), on nation (int/string only). */
  def p9StarExtras(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir).select(
      col("*"),
      (col("n_nationkey") + col("n_regionkey") * 100).as("key_code"),
      upper(col("n_name")).as("name_upper"))

  /** P10: row→JSON projection — `to_json(struct(*))`, the distributed
    * replacement for the reference's per-row json.dumps
    * (transaction_producer.py:133-135). Long+string fields only so
    * the JSON number formatting matches the oracle. */
  def p10ToJson(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      to_json(struct(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"))).as("payload"))

  // ===================================================================
  // §2.3 aggregations (A1–A6)
  // ===================================================================

  /** A1: global count (fraud_detection_model.py:79). */
  def a1GlobalCount(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).agg(count(lit(1)).as("cnt"))

  /** A2: single-pass conditional aggregation — class counts. The
    * reference runs one filter+count job per class
    * (fraud_detection_model.py:80,197-198); at 100 TB that is N full
    * scans, so we collapse to one scan with sum(when(...)). */
  def a2ClassCounts(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).agg(
      sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))
        .cast("long").as("n_f"),
      sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L))
        .cast("long").as("n_o"),
      sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L))
        .cast("long").as("n_p"),
      count(lit(1)).as("n_total"))

  /** A3: filtered COUNT(*) pushdown (postgres_model_inference.py:201). */
  def a3FilteredCount(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .agg(count(lit(1)).as("cnt"))

  /** A2+A4: confusion matrix + derived-ratio metrics in ONE scan.
    * The reference computes TP/FP/TN/FN as four separate filter+count
    * jobs then driver-side ratios (fraud_detection_model.py:259-276);
    * here the four cells are one conditional aggregate and the
    * accuracy/precision/recall/F1 are exact integer divisions of the
    * cells (each a single fp op — deterministic). Label/prediction
    * are a deterministic proxy on `events` (label: error events;
    * prediction: value > 50). */
  def a4ConfusionMetrics(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select(
      when(col("event_type") === "error", 1).otherwise(0).as("label"),
      when(col("value") > 50.0, 1).otherwise(0).as("pred"))
    val cells = e.agg(
      sum(when(col("pred") === 1 && col("label") === 1, 1L)
        .otherwise(0L)).cast("long").as("tp"),
      sum(when(col("pred") === 1 && col("label") === 0, 1L)
        .otherwise(0L)).cast("long").as("fp"),
      sum(when(col("pred") === 0 && col("label") === 0, 1L)
        .otherwise(0L)).cast("long").as("tn"),
      sum(when(col("pred") === 0 && col("label") === 1, 1L)
        .otherwise(0L)).cast("long").as("fn"))
    cells.select(
      col("tp"), col("fp"), col("tn"), col("fn"),
      ((col("tp") + col("tn")).cast("double") /
        (col("tp") + col("fp") + col("tn") + col("fn")))
        .as("accuracy"),
      (col("tp").cast("double") / (col("tp") + col("fp")))
        .as("precision"),
      (col("tp").cast("double") / (col("tp") + col("fn")))
        .as("recall"))
  }

  /** A5: min/max/avg summaries (spark_streaming_app.py:103-121 done
    * distributed instead of driver-side). avg(l_quantity) is exact
    * (integer-valued); money min/max are exact; money sum via cents. */
  def a5SummaryStats(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).agg(
      count(lit(1)).as("cnt"),
      min(col("l_quantity")).as("min_qty"),
      max(col("l_quantity")).as("max_qty"),
      avg(col("l_quantity")).as("avg_qty"),
      min(col("l_extendedprice")).as("min_price"),
      max(col("l_extendedprice")).as("max_price"),
      sum(cents(col("l_extendedprice"))).cast("long")
        .as("sum_price_cents"))

  /** A6: running/cumulative totals — the reference accumulates
    * cross-batch totals in driver dicts (spark_streaming_app.py:169-232);
    * the distributed equivalent is a cumulative window. ROWS frame +
    * unique ordering key for determinism; integer cents so the running
    * sum is exact. Scale: partitioned by o_custkey — no global sort,
    * shuffle is hash(o_custkey). */
  def a6RunningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"),
      sum(cents(col("o_totalprice"))).over(w).as("running_cents"))
  }

  /** Flagship: TPC-H Q1-shaped pricing summary — scan → filter →
    * groupBy → multi-aggregate. One shuffle on the 6-value group key;
    * partial aggregation map-side; filter pushed to parquet. */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") > 5.0)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("l_quantity")).as("sum_qty"),
        avg(col("l_quantity")).as("avg_qty"),
        sum(cents(col("l_extendedprice"))).cast("long")
          .as("sum_base_cents"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("long").as("sum_disc_cents"))

  // ===================================================================
  // §2.5 sorts / limits (L1–L2)
  // ===================================================================

  /** L1: top-k — sort + limit (transaction_producer.py:74-75 head()).
    * Spark plans TakeOrderedAndProject: per-partition top-k then a
    * k-row merge on the driver — no global sort at any scale. Unique
    * tie-break (o_orderkey) for determinism. */
  def l1TopK(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  /** L2: ORDER BY + LIMIT/OFFSET pagination — the stable replacement
    * for the reference's order-unstable OFFSET/LIMIT scan
    * (postgres_model_inference.py:272-275, no ORDER BY — a semantics
    * bug we do not copy). */
  def l2LimitOffset(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .orderBy(col("o_orderkey"))
      .offset(200)
      .limit(100)
      .select("o_orderkey", "o_orderstatus")

  // ===================================================================
  // extension algebra: joins (SURVEY §2.5 notes, §7.1-3)
  // ===================================================================

  /** Broadcast dimension join: customer ⋈ nation ⋈ region. nation (25
    * rows) and region (5) are broadcast — no shuffle of the fact side;
    * at 100 TB this is the only sane plan and we pin it with
    * broadcast() hints rather than trusting the size estimator. */
  def j1BroadcastDims(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("n_cust"),
        sum(cents(col("c_acctbal"))).cast("long").as("sum_acctbal_cents"))

  /** Fact-to-fact join: orders ⋈ lineitem on orderkey, then aggregate.
    * Both sides shuffle-hash/sort-merge on the join key; AQE handles
    * skew. Aggregation keys are low-cardinality → tiny shuffle after. */
  def j2InnerBig(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("sum_qty"))

  /** Left-semi join: customers having ≥1 order — EXISTS without
    * materializing the right side's columns. */
  def j3SemiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust_with_orders"))

  /** Left-anti join: customers with no in-progress ('P') order (NOT
    * EXISTS; the right side filtered so the complement is nonempty in
    * the synthetic data, where every customer has some order). */
  def j4AntiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))

  /** Left-outer join + aggregate: order count per segment, customers
    * without orders contributing count(o_orderkey)=0 rows. */
  def j5OuterJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_mktsegment"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows"))

  // ===================================================================
  // extension algebra: set operations
  // ===================================================================

  /** UNION (distinct): nation keys present on either side. */
  def u1UnionDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      .union(Tables.supplier(s, dir)
        .select(col("s_nationkey").as("nationkey")))
      .distinct()

  /** INTERSECT: nation keys with both customers and suppliers. */
  def u2Intersect(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.supplier(s, dir)
        .select(col("s_nationkey").as("nationkey")))

  /** EXCEPT: customers with no in-progress ('P') order, as a set op. */
  def u3Except(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_custkey").as("custkey"))
      .except(Tables.orders(s, dir).filter(col("o_orderstatus") === "P")
        .select(col("o_custkey").as("custkey")))

  // ===================================================================
  // extension algebra: window functions
  // ===================================================================

  /** row_number top-N per group: top-3 customers by balance per
    * segment. Partition-local sort only; no global sort. */
  def w1RankTopN(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(s, dir)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
  }

  /** The full ranking-function family over one partition-local sort:
    * dense_rank / ntile / percent_rank / cume_dist / first / last.
    * percent_rank = (rank-1)/(n-1) and cume_dist = peers/n are single
    * divisions of exact integers → deterministic doubles. */
  def w3RankFamily(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val wFrame = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    Tables.customer(s, dir).select(
      col("c_mktsegment"), col("c_custkey"),
      dense_rank().over(w).as("drk"),
      ntile(4).over(w).as("quartile"),
      percent_rank().over(w).as("prk"),
      cume_dist().over(w).as("cd"),
      first(col("c_custkey")).over(wFrame).as("top_cust"),
      last(col("c_custkey")).over(wFrame).as("bottom_cust"))
  }

  /** lag(): previous event value per user in event-time order —
    * value column passes through untouched (bit-exact). */
  def w2Lag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir).select(
      col("event_id"), col("user_id"), col("value"),
      lag(col("value"), 1).over(w).as("prev_value"))
  }

  // ===================================================================
  // extension algebra: grouping sets
  // ===================================================================

  /** ROLLUP over (returnflag, linestatus): detail + subtotal + total
    * rows. sum_qty exact (integer-valued doubles). */
  def g1Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))

  /** CUBE over (orderstatus, orderpriority): all grouping sets. */
  def g2Cube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))

  // ===================================================================
  // extension algebra: distinct counting
  // ===================================================================

  /** Exact COUNT(DISTINCT) ×3. One combined agg plans Expand ×3 —
    * every input row tripled before the partial aggregate (the d2
    * lesson, VERDICT r21 task #3); three independent single-distinct
    * aggs each plan the normal two-phase distinct over ONE pruned
    * column, with the fan-out exchange keyed on the counted column
    * itself so the partial dedup is complete before the merge. The
    * single-row results cross-join back into one row — same schema,
    * same values. Same trade at 100 TB: three column-pruned scans
    * beat one scan that triples its row volume through Expand. */
  def d1CountDistinct(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    def one(c: String, out: String) =
      // fanOut on the counted column: the partial distinct dedups
      // completely before the merge exchange (and would otherwise
      // run inside the single-row-group scan task)
      Tables.fanOut(li.select(col(c)), c)
        .agg(countDistinct(col(c)).as(out))
    one("l_partkey", "n_parts")
      .crossJoin(one("l_suppkey", "n_supps"))
      .crossJoin(one("l_orderkey", "n_orders"))
  }

  /** approx_count_distinct (HLL++): the 100 TB path — one pass, fixed
    * memory, mergeable sketches. Oracled via the INVARIANT form
    * (VERDICT r7 task #7): the HLL++ estimates themselves are
    * algorithm-specific and can never hash-match another engine, but
    * "the estimate lands within 3×rsd of the exact count" is a
    * deterministic boolean on fixed data — so the query emits the
    * exact counts plus the within-bound verdicts, and the DuckDB
    * oracle emits the same exact counts with literal TRUEs. A
    * hash-match therefore certifies both the cross-engine exact
    * counts AND the in-engine estimator accuracy; an estimator
    * regression (wrong rsd wiring, sketch-merge bug) flips a boolean
    * and fails the compare. */
  def d2ApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    // Two separate aggregations, cross-joined (both are single rows).
    // One combined agg is 3.5× slower (measured 3.73 vs ~1.1 s at
    // sf0.1): mixing DISTINCT aggregates with the HLL++
    // ImperativeAggregates forces the whole plan through Expand ×3
    // AND pushes the HLL buffers out of the fast hash path — split,
    // the exact half plans the normal two-phase distinct and the
    // approx half a plain codegen'd HashAggregate. Same trade at
    // 100 TB: two column-pruned scans beat one scan that triples its
    // row volume through Expand.
    // fanOut (same reason as d1): both halves' partial aggregates
    // would otherwise serialize inside the single-row-group scan task.
    // r22: the exact half splits per column too (the d1 change) — two
    // distinct aggregates in one agg still plan Expand ×2; split,
    // each is a plain two-phase distinct over one pruned column, with
    // the fan-out keyed on the counted column so the partial dedup is
    // complete before the merge.
    val liRaw = Tables.lineitem(s, dir)
    def oneExact(c: String, out: String) =
      Tables.fanOut(liRaw.select(col(c)), c)
        .agg(countDistinct(col(c)).as(out))
    val exact = oneExact("l_partkey", "exact_parts")
      .crossJoin(oneExact("l_orderkey", "exact_orders"))
    val li = Tables.fanOut(liRaw, "l_orderkey")
    val approx = li.agg(
      approx_count_distinct(col("l_partkey"), ApproxDistinctRsd).as("ap"),
      approx_count_distinct(col("l_orderkey"), ApproxDistinctRsd).as("ao"))
    exact.crossJoin(approx)
      .select(
        col("exact_parts"), col("exact_orders"),
        (abs(col("ap").cast("double") / col("exact_parts") - 1.0)
          <= ApproxDistinctBound).as("parts_within_3rsd"),
        (abs(col("ao").cast("double") / col("exact_orders") - 1.0)
          <= ApproxDistinctBound).as("orders_within_3rsd"))
  }

  /** Requested relative standard deviation for every
    * approx_count_distinct in the registry (d2, p11b). */
  val ApproxDistinctRsd: Double = 0.02

  /** Accuracy bound asserted by the invariant oracles: 3×rsd
    * (ADVICE r8 — derived, not hard-coded, so changing the rsd
    * re-derives the bound instead of silently invalidating it).
    * HLL++ error is PROBABILISTIC: 3×rsd holds with ~99.7% per-column
    * confidence on a random corpus, so the TRUE-boolean oracle is
    * corpus-verified — deterministic and green on the fixed test
    * data, but a different sf/corpus could legitimately land a
    * correct estimator outside the bound; re-evaluate the margin
    * there before reading a bound flip as an estimator bug. */
  val ApproxDistinctBound: Double = 3.0 * ApproxDistinctRsd

  // ===================================================================
  // SQL entry point + event-time windows
  // ===================================================================

  /** The `spark.sql` entry point over registered views — a TPC-H
    * Q3-shaped shipping-priority query (3-way join, filter on both
    * fact sides, group, top-k). Catalyst broadcast-joins the filtered
    * customer side; revenue aggregated as exact cents. */
  def q3SqlShipping(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT l_orderkey,
        | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |   AS BIGINT)) AS BIGINT) AS revenue_cents,
        | year(o_orderdate) AS order_year
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, year(o_orderdate)
        |ORDER BY revenue_cents DESC, l_orderkey
        |LIMIT 10""".stripMargin)
  }

  /** TPC-H Q5-shaped local-supplier revenue: the canonical 6-way
    * join-reorder stress (two fact tables, four dimensions, selective
    * region + date predicates). Declared flat; Catalyst reorders and
    * broadcasts the filtered dims, AQE re-plans the fact joins at
    * runtime. Revenue as exact cents. */
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    Tables.region(s, dir).createOrReplaceTempView("region")
    s.sql(
      """SELECT n_name,
        | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |   AS BIGINT)) AS BIGINT) AS revenue_cents,
        | count(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |             AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin)
  }

  /** TPC-H Q9-shaped product profit (r20 — widens the join-planning
    * audit beyond q1/q3/q5): a five-way join over both fact tables
    * (lineitem, orders) and three dimensions (part, supplier,
    * nation) with a substring predicate on part, aggregated by
    * (nation, order year). Declared FLAT — the join order the text
    * spells (part first) is deliberately not the best one; Catalyst's
    * cost-based reorder + broadcast selection must recover the
    * dims-broadcast, facts-shuffled plan (PLANS.md audits it). No
    * partsupp table exists in the driver testdata, so profit is the
    * revenue expression (exact cents) rather than TPC-H's
    * revenue − supplycost·quantity — the join/reorder shape, which is
    * what this query exists to exercise, is unchanged. */
  def q9ProductProfit(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir).createOrReplaceTempView("part")
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    s.sql(
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |   AS BIGINT)) AS BIGINT) AS profit_cents,
        | count(*) AS n_items
        |FROM part
        |JOIN lineitem ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY n_name, year(o_orderdate)""".stripMargin)
  }

  /** TPC-H Q4-shaped order-priority check (r20): a correlated EXISTS
    * over lineitem with a NON-equi correlated term (late shipment
    * relative to the outer row's own order date) — the decorrelation
    * rewrite the q-series didn't cover. Catalyst rewrites the EXISTS
    * to a left-semi join on l_orderkey = o_orderkey carrying the
    * l_shipdate > o_orderdate + 60d residual as the join condition:
    * no per-row subquery execution, one shuffle pair on the order
    * key, semi-join short-circuit on the first matching line
    * (PLANS.md audits the shape). lineitem has no
    * commitdate/receiptdate columns in the driver testdata, so the
    * "late line" predicate is shipdate-vs-orderdate — same
    * correlation structure as the TPC-H original. */
  def q4OrderPriority(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL '60' DAY)
        |GROUP BY o_orderpriority""".stripMargin)
  }

  /** TPC-H Q13-shaped customer order-count distribution (r20): the
    * outer-join-with-ON-filter subtlety — the priority predicate
    * lives in the LEFT OUTER JOIN's ON clause, so customers whose
    * only orders fail it still appear with c_count = 0 (a WHERE would
    * silently drop them); then a second aggregation over the first's
    * output. Catalyst plans the outer join shuffled on the customer
    * key and both aggregates map-side-combined; the distribution
    * re-aggregation is a ≤|distinct counts| shuffle. The driver
    * testdata has no o_comment column, so the ON-filter is the
    * priority predicate — same join/filter placement semantics as the
    * TPC-H original's not-like. */
  def q13CustDistribution(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql(
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey
        |       AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey) c_orders
        |GROUP BY c_count""".stripMargin)
  }

  /** Threshold for [[q18LargeOrders]]' HAVING cut, interpolated into
    * the oracle (sum of integral quantities — exact in both
    * engines). */
  val Q18QtyThreshold = 150L

  /** TPC-H Q18-shaped large-volume customers (r20): the
    * aggregate-subquery-join rewrite — the HAVING-filtered per-order
    * quantity sum joins back to orders/customer, so Catalyst must
    * place the aggregation BELOW the join (pre-aggregation on the
    * fact table, then a join against the ~1% surviving keys) rather
    * than join-then-aggregate. Top-20 by (o_totalprice desc,
    * o_orderkey) — TakeOrderedAndProject, no global sort. */
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql(
      s"""SELECT c_custkey, o_orderkey,
         | CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
         | sum_qty
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT)
         |        AS sum_qty
         |      FROM lineitem GROUP BY l_orderkey
         |      HAVING sum(l_quantity) > $Q18QtyThreshold) big
         |  ON o_orderkey = big.l_orderkey
         |ORDER BY totalprice_cents DESC, o_orderkey
         |LIMIT 20""".stripMargin)
  }

  /** TPC-H Q15-shaped top supplier (r20): a scalar subquery OVER an
    * aggregate of the same derived relation the outer query joins —
    * the revenue CTE is referenced twice (join side + max side), and
    * the `= (SELECT max …)` equality is rewritten to a join against
    * the 1-row aggregate (broadcast at any scale). Ties all surface
    * (no LIMIT), ordered by the unique supplier key — deterministic
    * in both engines. */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql(
      """WITH revenue AS (SELECT l_suppkey AS supplier_no,
        |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
        |      * 100) AS BIGINT)) AS BIGINT) AS total_revenue_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue_cents
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue_cents =
        |  (SELECT max(total_revenue_cents) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin)
  }

  /** Quantity threshold for [[q20ExcessSuppliers]], interpolated into
    * the oracle (splits the supplier set at every test SF). */
  val Q20QtyThreshold = 2000L

  /** TPC-H Q20-shaped supplier selection (r20): NESTED IN subqueries
    * — the outer IN over a grouped-HAVING aggregate whose input is
    * itself filtered by an inner IN over part. Catalyst rewrites both
    * INs to semi joins and keeps the aggregate+HAVING below the outer
    * semi join (the q18 placement discipline, one level deeper). The
    * driver testdata has no partsupp, so the "excess stock" relation
    * is the shipped-quantity census per supplier over the widget
    * parts — the same nested-subquery structure as the TPC-H
    * original. */
  def q20ExcessSuppliers(s: SparkSession, dir: String): DataFrame = {
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.part(s, dir).createOrReplaceTempView("part")
    s.sql(
      s"""SELECT s_name, s_suppkey
         |FROM supplier
         |WHERE s_suppkey IN (
         |  SELECT l_suppkey FROM lineitem
         |  WHERE l_partkey IN (SELECT p_partkey FROM part
         |                      WHERE p_name LIKE '%widget%')
         |  GROUP BY l_suppkey
         |  HAVING sum(l_quantity) > $Q20QtyThreshold)
         |ORDER BY s_suppkey""".stripMargin)
  }

  /** TPC-H Q21-shaped waiting-orders census (r20): the hardest
    * decorrelation in the q-series — an EXISTS and a NOT EXISTS over
    * the SAME fact table, both correlated on the outer line's order
    * key, the NOT EXISTS additionally carrying a non-equi predicate
    * on a SECOND outer table's column (o_orderdate). Catalyst
    * rewrites them to a left-semi and a left-anti join stacked on the
    * fact join tree; a per-row subquery execution would be quadratic
    * at any scale. "Late" is shipdate > orderdate + 60d (the q4
    * convention — no commit/receipt dates in the driver testdata);
    * the census counts, per supplier, the multi-supplier 'F' orders
    * where ONLY that supplier shipped late. */
  def q21WaitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql(
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey
        |  AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL '60' DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate >
        |                        o_orderdate + INTERVAL '60' DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 10""".stripMargin)
  }

  /** Scale-path twin of [[q21WaitingSuppliers]] (r20 final): the same
    * census from ONE pass over the fact. The anchor's decorrelated
    * semi + anti stack scans lineitem THREE times (once as l1, once
    * per rewritten subquery) — honest rewrite coverage, but at 100 TB
    * three fact scans is the wrong physical shape. The subquery pair
    * is per-order logic: a late line qualifies iff its order has ≥2
    * distinct suppliers and EXACTLY ONE distinct late supplier (then
    * every late line in the order belongs to that supplier). So: one
    * lineitem ⋈ orders['F'] scan, a (orderkey, suppkey) partial
    * aggregate, a per-order re-aggregate (supplier census + the lone
    * late supplier), filter, per-supplier rollup. Deliberately NO
    * countDistinct — the two-level re-aggregation stays fully
    * partial-aggregatable with no Expand, so shuffle volume is the
    * reduced (order, supplier) census, never 3× fact rows.
    * Plan-asserted single fact scan; oracle = the anchor's
    * EXISTS / NOT EXISTS SQL verbatim — different plan, identical
    * answer. */
  def q21WaitingAgg(s: SparkSession, dir: String): DataFrame = {
    val late = col("l_shipdate") >
      col("o_orderdate") + expr("INTERVAL 60 DAY")
    val perSupp = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir)
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(when(late, 1L).otherwise(0L)).as("supp_late_lines"))
    val lateSupp = when(col("supp_late_lines") > 0, col("l_suppkey"))
    val qualifying = perSupp
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        count(lateSupp).as("n_late_supp"),
        sum(col("supp_late_lines")).as("late_lines"),
        max(lateSupp).as("late_supp"))
      .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
    qualifying
      .groupBy(col("late_supp"))
      .agg(sum(col("late_lines")).as("nw"))
      .join(Tables.supplier(s, dir),
        col("late_supp") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("nw")).cast("long").as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(10)
  }

  /** The two trading nations of [[q7VolumeShipping]] and the market
    * nation of [[q8MarketShare]] — interpolated into engine SQL and
    * oracles (supplier coverage of both verified at every test SF;
    * the driver testdata names nations NATION_k). */
  val Q7NationA = "NATION_18"
  val Q7NationB = "NATION_19"

  /** TPC-H Q7-shaped volume shipping (r20): the DISJUNCTIVE join
    * predicate — two nation-pair directions OR-ed inside a six-way
    * join. The OR prevents pushing either nation equality into its
    * dimension scan as a simple filter; Catalyst keeps the
    * disjunction as a join residual over the doubly-joined nation
    * dims (n1 ⋈ supplier, n2 ⋈ customer) — the rewrite this query
    * exists to watch. Revenue as exact cents per (supp_nation,
    * cust_nation, ship year). */
  def q7VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    s.sql(
      s"""SELECT supp_nation, cust_nation, l_year,
         |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
         |    * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
         |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |        year(l_shipdate) AS l_year, l_extendedprice, l_discount
         |      FROM supplier, lineitem, orders, customer,
         |           nation n1, nation n2
         |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
         |        AND c_custkey = o_custkey
         |        AND s_nationkey = n1.n_nationkey
         |        AND c_nationkey = n2.n_nationkey
         |        AND ((n1.n_name = '$Q7NationA'
         |              AND n2.n_name = '$Q7NationB')
         |          OR (n1.n_name = '$Q7NationB'
         |              AND n2.n_name = '$Q7NationA'))) shipping
         |GROUP BY supp_nation, cust_nation, l_year""".stripMargin)
  }

  /** TPC-H Q8-shaped market share (r20): a CASE-conditional aggregate
    * over an eight-way join (part, supplier, lineitem, orders,
    * customer, nation×2, region) — the supplier-nation volume and the
    * total volume in ONE pass (the a2/a4 single-pass discipline on a
    * big join tree). Emits exact integer cents for both numerator and
    * denominator instead of the double ratio — hash-stable, and the
    * consumer divides. */
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir).createOrReplaceTempView("part")
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    Tables.region(s, dir).createOrReplaceTempView("region")
    s.sql(
      s"""SELECT o_year,
         |  CAST(sum(CASE WHEN nation = '$Q7NationB' THEN volume_cents
         |                ELSE 0 END) AS BIGINT) AS nation_cents,
         |  CAST(sum(volume_cents) AS BIGINT) AS total_cents
         |FROM (SELECT year(o_orderdate) AS o_year,
         |        CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
         |          AS BIGINT) AS volume_cents,
         |        n2.n_name AS nation
         |      FROM part, supplier, lineitem, orders, customer,
         |           nation n1, nation n2, region
         |      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
         |        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
         |        AND c_nationkey = n1.n_nationkey
         |        AND n1.n_regionkey = r_regionkey
         |        AND r_name = 'EUROPE'
         |        AND s_nationkey = n2.n_nationkey
         |        AND p_type = 'ECONOMY') all_nations
         |GROUP BY o_year""".stripMargin)
  }

  /** TPC-H Q10-shaped returned-item report (r20): the classic
    * "top-k customers by lost revenue" — date-windowed orders joined
    * to R-flagged lineitems and the customer/nation dims, grouped on
    * the (wide) customer attributes, top-20 by exact-cents revenue
    * with the unique customer key as tie-break
    * (TakeOrderedAndProject). */
  def q10ReturnedItems(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    s.sql(
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
        |    * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue_cents DESC, c_custkey
        |LIMIT 20""".stripMargin)
  }

  /** TPC-H Q6-shaped forecast revenue change (r20): the pure
    * scan-side query of the series — three conjunctive predicates
    * (date window, discount band, quantity cap) and a one-row
    * aggregate, NO join. Every predicate reaches the parquet scan as
    * a pushed filter (PLANS.md audits PushedFilters); at 100 TB this
    * is a single map-side-combined pass whose only exchange is the
    * partial-aggregate gather. The discount band compares stored
    * doubles against the same double literals in both engines —
    * bit-identical decimals (0.04/0.06 round-trip exactly through
    * the parquet doubles the driver wrote). */
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.04 AND 0.06
        |  AND l_quantity < 24""".stripMargin)
  }

  /** TPC-H Q14-shaped promotion effect (r20): numerator and
    * denominator of the promo share in ONE conditional-aggregate
    * pass over a month-windowed lineitem ⋈ part join (the a2/a4
    * single-pass discipline; q8's CASE trick on a two-table join).
    * The date window pushes to the fact scan; part broadcasts. The
    * driver testdata's p_type is a single word, so the promo test is
    * equality with 'PROMO' rather than LIKE 'PROMO%' — same
    * conditional-aggregation semantics as the TPC-H original. Exact
    * integer cents for both sums; the consumer divides. */
  def q14PromoEffect(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.part(s, dir).createOrReplaceTempView("part")
    s.sql(
      """SELECT
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN volume_cents
        |                ELSE 0 END) AS BIGINT) AS promo_cents,
        |  CAST(sum(volume_cents) AS BIGINT) AS total_cents
        |FROM (SELECT p_type,
        |        CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |          AS BIGINT) AS volume_cents
        |      FROM lineitem JOIN part ON l_partkey = p_partkey
        |      WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        |        AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00') promo""".stripMargin)
  }

  /** TPC-H Q19-shaped discounted revenue (r20): the
    * disjunction-of-conjunctions join predicate — three OR-ed arms,
    * each constraining BOTH sides of the lineitem ⋈ part join
    * (brand + size on part, quantity on lineitem). Catalyst keeps
    * the full disjunction as the join residual but ALSO extracts the
    * per-side implications (brand ∈ {three brands} onto the part
    * scan, quantity ∈ [1,30] onto the fact scan) as pushed filters —
    * the constraint-propagation rewrite this query exists to watch
    * (PLANS.md). The common discount band is a plain pushed conjunct.
    * No p_container/shipmode columns in the driver testdata, so the
    * arms vary (brand, size, quantity) only — same disjunctive
    * structure as the TPC-H original. */
  def q19DiscountedRevenue(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.part(s, dir).createOrReplaceTempView("part")
    s.sql(
      """SELECT CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
        |    * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 1 AND 11)
        |    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
        |        AND l_quantity BETWEEN 10 AND 20)
        |    OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25
        |        AND l_quantity BETWEEN 20 AND 30))
        |  AND l_discount BETWEEN 0.02 AND 0.08""".stripMargin)
  }

  /** TPC-H Q12-shaped shipping-priority census (r20): a fact-fact
    * join (orders ⋈ lineitem, both too big to broadcast at scale)
    * feeding two complementary CASE-conditional counts per group —
    * the late-line census split by whether the order was
    * high-priority. One shuffle pair on the order key, one
    * map-side-combined aggregate. The driver testdata has no
    * l_shipmode/commitdate/receiptdate, so the group key is
    * l_linestatus and "late" is the q4 60-day shipdate convention —
    * same join + dual-conditional-count structure as the TPC-H
    * original. */
  def q12ShipPriority(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL '60' DAY
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin)
  }

  /** Supplier-exclusion account-balance cut for [[q16SupplierCensus]]
    * — excludes a real, SF-stable slice (3 of 10 suppliers at
    * sf0.001, ~10 % at every larger SF). */
  val Q16ExclAcctbal = 2500.0

  /** TPC-H Q16-shaped supplier census (r20): a COUNT(DISTINCT) over
    * a three-way-keyed group fed by a NOT IN subquery — Catalyst
    * rewrites the NOT IN to a (broadcast) left-anti join against the
    * excluded-supplier list, and plans the distinct count as the
    * two-phase partial-distinct aggregate (dedup on
    * (group, suppkey) map-side, then count — no naive
    * collect-and-dedup). The driver testdata has no partsupp, so the
    * supplier-part catalog is the distinct (part, supplier) pairs
    * observed in lineitem, and the exclusion predicate is an account
    * -balance cut (no s_comment) — same NOT-IN + distinct-count
    * structure as the TPC-H original. */
  def q16SupplierCensus(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.part(s, dir).createOrReplaceTempView("part")
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    s.sql(
      s"""SELECT p_brand, p_type, p_size,
         |  count(DISTINCT l_suppkey) AS supplier_cnt
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
         |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
         |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
         |                        WHERE s_acctbal < $Q16ExclAcctbal)
         |GROUP BY p_brand, p_type, p_size
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)
  }

  /** Brand under test in [[q17SmallQtyRevenue]]. */
  val Q17Brand = "Brand#12"

  /** TPC-H Q17-shaped small-quantity revenue (r20): the correlated
    * scalar AGGREGATE subquery over the fact table itself — each
    * line compares its quantity against 20 % of the mean quantity of
    * ALL lines of the same part. Catalyst decorrelates to a global
    * per-part average aggregate joined back to the filtered fact
    * rows (one extra shuffle on l_partkey, never a per-row subquery).
    * The threshold compare is exact despite the doubles: quantities
    * are whole numbers, so the per-part double sum is exact
    * (< 2^53), and avg = sum/count and ×0.2 are the same two IEEE
    * roundings in both engines. */
  def q17SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.part(s, dir).createOrReplaceTempView("part")
    s.sql(
      s"""SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
         |    AS BIGINT) AS small_qty_revenue_cents,
         |  count(*) AS n_lines
         |FROM lineitem l1 JOIN part ON p_partkey = l_partkey
         |WHERE p_brand = '$Q17Brand'
         |  AND l_quantity < 0.2 * (SELECT avg(l_quantity)
         |                          FROM lineitem l2
         |                          WHERE l2.l_partkey = l1.l_partkey)""".stripMargin)
  }

  /** Scale-path twin of [[q17SmallQtyRevenue]] (r20 final): the same
    * answer from ONE fact scan. The anchor's decorrelated plan scans
    * lineitem twice (the outer filtered rows AND the per-part
    * average aggregate — no exchange reuse, see PLANS.md). The
    * correlated average is per-partkey, and every line of a
    * surviving part survives the brand join — so the brand
    * restriction pushes below BOTH the average and the filter, and
    * the per-part mean becomes a window avg over the brand-restricted
    * fact: one scan, one broadcast part cut, one l_partkey exchange.
    * Threshold exactness is the anchor's own argument (whole-number
    * quantities ⇒ exact per-part double sum ⇒ avg and ×0.2 are the
    * same two IEEE roundings). Plan-asserted single fact scan;
    * oracle = the anchor's correlated-subquery SQL verbatim. */
  def q17SmallQtyWin(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(s, dir)
      .filter(col("p_brand") === Q17Brand).select(col("p_partkey"))
    val w = Window.partitionBy(col("l_partkey"))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .withColumn("avg_qty", avg(col("l_quantity")).over(w))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(sum(cents(col("l_extendedprice"))).cast("long")
          .as("small_qty_revenue_cents"),
        count(lit(1)).as("n_lines"))
  }

  /** Part filter for [[q2MinCostSupplier]] — nonempty at every test
    * SF (≥1 qualifying EUROPE-supplied part at sf0.001). */
  val Q2SizeMin = 40

  /** TPC-H Q2-shaped minimum-cost supplier (r20): the correlated
    * scalar subquery with its OWN join tree — the outer five-way
    * join keeps only (part, supplier) pairs whose cost equals the
    * per-part minimum over the region-restricted supply relation,
    * and the subquery re-joins supply ⋈ supplier ⋈ nation ⋈ region
    * under the correlation on p_partkey. Catalyst decorrelates to a
    * per-part min aggregate over the region-filtered supply joined
    * back on (partkey, cost) — no per-row execution. The driver
    * testdata has no partsupp/ps_supplycost, so "cost" is the
    * minimum observed line price per (part, supplier) in lineitem
    * (exact cents; ties all surface) — same
    * correlated-aggregate-over-a-join structure as the TPC-H
    * original. */
  def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.part(s, dir).createOrReplaceTempView("part")
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    Tables.region(s, dir).createOrReplaceTempView("region")
    s.sql(
      s"""WITH supply AS (SELECT l_partkey, l_suppkey,
         |    CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT))
         |      AS BIGINT) AS cost_cents
         |  FROM lineitem GROUP BY l_partkey, l_suppkey)
         |SELECT CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents,
         |  s_name, n_name, p_partkey, p_brand, cost_cents
         |FROM part, supply, supplier, nation, region
         |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
         |  AND p_size >= $Q2SizeMin AND p_type = 'LARGE'
         |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         |  AND r_name = 'EUROPE'
         |  AND cost_cents = (SELECT min(s2.cost_cents)
         |                    FROM supply s2, supplier sp, nation n2,
         |                         region r2
         |                    WHERE s2.l_partkey = p_partkey
         |                      AND sp.s_suppkey = s2.l_suppkey
         |                      AND sp.s_nationkey = n2.n_nationkey
         |                      AND n2.n_regionkey = r2.r_regionkey
         |                      AND r2.r_name = 'EUROPE')
         |ORDER BY acctbal_cents DESC, s_name, p_partkey""".stripMargin)
  }

  /** Scale-path twin of [[q2MinCostSupplier]] (r20 final): the same
    * answer from ONE derivation of the supply census. Spark inlines a
    * CTE referenced twice (no CTE materialization by default), so the
    * anchor's decorrelated plan aggregates lineitem TWICE — at 100 TB
    * that doubles the dominant scan. Here the per-part minimum is a
    * window min over the region-restricted supply with the part
    * filter pushed BELOW the window — legal because the minimum is
    * per-partkey and unaffected by part attributes, so restricting to
    * qualifying parts first shrinks the census without changing any
    * surviving per-part min — and the part broadcast-join sits BELOW
    * the aggregate too, so the census only ever materializes state
    * for qualifying parts' lines. One restricted lineitem aggregate,
    * one shuffle on l_partkey for the window.
    * Supplier⋈nation⋈region joins the (already tiny) census as an
    * unhinted equi-join (supplier grows with SF — not assumed
    * broadcast-able at 100 TB; AQE picks broadcast at test scale).
    * Plan-asserted single lineitem scan; oracle = the anchor's
    * correlated-subquery SQL verbatim — different plan, bit-identical
    * answer. */
  def q2MinCostWin(s: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(s, dir)
      .filter(col("p_size") >= Q2SizeMin && col("p_type") === "LARGE")
      .select(col("p_partkey"), col("p_brand"))
    val supply = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"), col("p_brand"))
      .agg(min(cents(col("l_extendedprice"))).as("cost_cents"))
    val euroSupp = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)
          .filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name"))
    val w = Window.partitionBy(col("l_partkey"))
    supply
      .join(euroSupp, col("l_suppkey") === col("s_suppkey"))
      .withColumn("min_cost", min(col("cost_cents")).over(w))
      .filter(col("cost_cents") === col("min_cost"))
      .select(cents(col("s_acctbal")).as("acctbal_cents"),
        col("s_name"), col("n_name"),
        col("l_partkey").as("p_partkey"),
        col("p_brand"), col("cost_cents"))
      .orderBy(col("acctbal_cents").desc, col("s_name"),
        col("p_partkey"))
  }

  /** Multiplier over the mean part value for [[q11ImportantParts]]'
    * cut. TPC-H's Q11 hard-codes a fraction that must shrink as SF
    * grows (0.0001/SF); anchoring on the MEAN instead keeps one
    * query a proper-subset filter at every SF — same
    * HAVING-vs-scalar-subquery structure. */
  val Q11MeanMult = 1.5

  /** TPC-H Q11-shaped important parts (r20): a grouped value census
    * filtered by a scalar subquery that AGGREGATES THE SAME derived
    * relation — the v CTE is referenced by both the outer scan and
    * the threshold subquery, and the filter compares each group
    * against 1.5× the mean group value (one 1-row broadcast against
    * the census). The driver testdata has no partsupp, so the
    * "stock value" is the region-restricted revenue census per part
    * from lineitem ⋈ supplier — same
    * census + self-referential-threshold structure as the TPC-H
    * original. */
  def q11ImportantParts(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    Tables.region(s, dir).createOrReplaceTempView("region")
    s.sql(
      s"""WITH v AS (SELECT l_partkey,
         |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
         |      AS BIGINT) AS value_cents
         |  FROM lineitem, supplier, nation, region
         |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
         |    AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
         |  GROUP BY l_partkey)
         |SELECT l_partkey, value_cents
         |FROM v
         |WHERE value_cents > (SELECT $Q11MeanMult * avg(value_cents)
         |                     FROM v)
         |ORDER BY value_cents DESC, l_partkey""".stripMargin)
  }

  /** Scale-path twin of [[q11ImportantParts]] (r20 final): the same
    * answer with the census derived ONCE. The anchor's
    * self-referential scalar subquery re-expands the four-way-join
    * census under Spark's CTE inlining (no exchange reuse — see
    * PLANS.md), so the dominant lineitem ⋈ supplier work runs twice.
    * Here the census is computed once and slim-checkpointed (the
    * [[PipelineQueries]] corpus-funnel discipline — a (partkey,
    * cents) frame, tiny relative to the fact), the 1.5×-mean cut is
    * one 1-row aggregate OVER THE CHECKPOINT broadcast back against
    * it (the engine's 1-row scalar-combine pattern), and the
    * threshold expression is spelled identically to the anchor's
    * (`mult * avg(value_cents)` over the same exact-cents longs), so
    * the cut is bit-identical. Plan reads the fact once; oracle =
    * the anchor's MATERIALIZED-CTE SQL verbatim. */
  def q11ImportantCkpt(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.lineitem(s, dir)
      .join(Tables.supplier(s, dir),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)
          .filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(cents(col("l_extendedprice"))).cast("long")
        .as("value_cents"))
      .transform(Derived.slot("q11_census", s, dir))
    val cut = v.agg(
      (lit(Q11MeanMult) * avg(col("value_cents"))).as("cut"))
    v.crossJoin(broadcast(cut))
      .filter(col("value_cents") > col("cut"))
      .select(col("l_partkey"), col("value_cents"))
      .orderBy(col("value_cents").desc, col("l_partkey"))
  }

  /** TPC-H Q22-shaped sales opportunity (r20): the
    * scalar-subquery + NOT EXISTS combination — prospective
    * customers above the cohort's mean balance (1-row broadcast
    * threshold) who have NOT placed a recent urgent order (left-anti
    * join against the date/priority-filtered orders — never a
    * per-customer probe). The balance threshold averages exact
    * integer cents, so the cut is deterministic in both engines.
    * The driver testdata has no c_phone, so the country code is the
    * trailing digit of the customer name, and "inactive" is
    * no-recent-urgent-order rather than no-order (every synthetic
    * customer has orders) — same anti-join + threshold structure as
    * the TPC-H original. */
  def q22SalesOpportunity(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql(
      """WITH potential AS (SELECT right(c_name, 1) AS cntrycode,
        |    c_custkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
        |  FROM customer
        |  WHERE right(c_name, 1) IN ('1', '3', '5', '7')
        |    AND c_acctbal > 0)
        |SELECT cntrycode, count(*) AS numcust,
        |  CAST(sum(acctbal_cents) AS BIGINT) AS totacctbal_cents
        |FROM potential
        |WHERE acctbal_cents > (SELECT avg(acctbal_cents) FROM potential)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT'
        |                    AND o_orderdate >=
        |                        TIMESTAMP '1997-01-01 00:00:00')
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin)
  }

  /** Event-time tumbling window (1 h) over the events stream table —
    * the batch analogue of a windowed streaming aggregation. Bucket
    * key by exact integer division of the nano timestamp (the nanos
    * column is read as long; see Sessions). */
  def e1EventWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(expr("ts div 3600000000000").as("hour_bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(cents(col("value"))).cast("long").as("sum_value_cents"))

  /** KMV mergeable distinct sketch (graft.functions.KmvSketch, a
    * typed Aggregator) — the persistable/mergeable alternative to
    * HLL for incremental pipelines. Keyed on the engine-portable
    * md5-60 hash, so the ESTIMATE (k-th minimum formula included) is
    * bit-reproducible in the DuckDB oracle — an exactly-verified
    * approximate sketch. Error bound additionally asserted in
    * KmvSketchSpec. */
  def d3KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    Tables.lineitem(s, dir).agg(
      graft.functions.KmvSketch
        .approxDistinct(graft.core.PortableHash.md5Hash60(col("l_partkey")),
          graft.core.PortableHash.Bits).as("kmv_parts"),
      graft.functions.KmvSketch
        .approxDistinct(graft.core.PortableHash.md5Hash60(col("l_suppkey")),
          graft.core.PortableHash.Bits).as("kmv_supps"))
  }

  /** The ONE 30-minute session gap, interpolated into both engines'
    * e2/e4 expressions AND both oracle SQL thresholds (ADVICE r11:
    * the gap was previously written as "30 minutes" in the engine
    * and 1800000000 micros in the oracle — two unrelated literals
    * that silently break the hash compare if one is bumped). */
  val SessionGapMinutes = 30L

  /** Gap-based sessionization: a new session starts when a user is
    * idle > 30 min; session id = cumulative count of session starts
    * (lag + conditional sum — the batch formulation of a session
    * window). Output: per-user session census. All-integer math on
    * the long nano timestamps → deterministic. */
  def e2Sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapNs = SessionGapMinutes * 60L * 1000000000L
    val flagged = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts") - col("prev_ts") > gapNs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
    flagged
      .groupBy(col("user_id"))
      .agg(
        max(col("session_id")).as("n_sessions"),
        count(lit(1)).as("n_events"))
  }

  /** NATIVE session windows in batch (`session_window`) — the same
    * gap semantics as [[e2Sessionize]] but with the ENGINE owning
    * session assignment (the operator Structured Streaming uses for
    * its session state store, here cross-validated against the
    * declarative lag/cumsum construction at oracle grade). Output is
    * one row per (user, session) with the exact MICRO start and
    * event count — integers, no window-struct timestamps, so the
    * oracle hash-compares (micros is the shared resolution: DuckDB
    * reads the TIMESTAMP(NANOS) column at micro precision).
    *
    * Precision contract: the events clock is long NANOS
    * (nanosAsLong); session_window needs a timestamp, so events are
    * floored to micros for the session DECISION, and the oracle
    * floors identically (epoch_ns // 1000) — decision-identical in
    * both engines. Spark merges two events into one session iff
    * their micro gap is STRICTLY under the 30-min gap; the oracle's
    * new-session flag is therefore `diff >= gap`, not `>`. */
  def e4SessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"),
        timestamp_micros(expr("ts div 1000")).as("ets"))
      .groupBy(col("user_id"),
        session_window(col("ets"), s"$SessionGapMinutes minutes"))
      .agg(
        // micros, not nanos: DuckDB reads the TIMESTAMP(NANOS)
        // column at micro precision, so micros is the exact shared
        // resolution (min/floor commute — the flooring is monotone)
        min(expr("ts div 1000")).cast("long").as("start_us"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("start_us"), col("n_events"))

  /** Event funnel with STRICT ordering (view → click → purchase):
    * per user, the first view, the first click AFTER that view, the
    * first purchase AFTER that click — then the corpus-level funnel
    * counts. Unordered "did all three" funnels overcount (a purchase
    * before the view is not a conversion); the sequenced version is
    * the product-analytics semantics.
    *
    * Shape: three conditional aggregates, each keyed by user_id and
    * joined back on it — one shuffle key reused end to end (at
    * 100 TB the stages co-partition; no re-shuffle after the first
    * exchange under AQE). Timestamps compared at MICRO resolution on
    * both engines (the e4 contract: DuckDB reads TIMESTAMP(NANOS)
    * at micros). */
  def e5Funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("tsu"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("tsu")).as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("tsu") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("tsu")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("tsu") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("tsu")).as("t_purchase"))
    ev.agg(countDistinct(col("user_id")).as("n_users"))
      .crossJoin(broadcast(v.agg(count(lit(1)).as("n_viewed"))))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("n_clicked_after"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("n_purchased_after"))))
  }

  /** Time-series gap filling (resample): per-type hourly event
    * counts with ZERO-filled buckets across the whole span — the
    * calendar is generated (`sequence`), not scanned, so downstream
    * window/trend math sees a dense series. The calendar × types
    * frame is tiny (hours × distinct types) and broadcast into the
    * left join; integer nano math per the playbook. */
  def e3GapFill(s: SparkSession, dir: String): DataFrame = {
    val hourNs = 3600L * 1000000000L
    val ev = Tables.events(s, dir)
      .select(col("event_type"), expr(s"ts div $hourNs").as("hour"))
    val counts = ev.groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"))
    val hours = ev.agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"))).as("hour"))
    val types = ev.select("event_type").distinct()
    broadcast(types.crossJoin(hours))
      .join(counts, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  // ===================================================================
  // registration
  // ===================================================================

  val queries: Map[String, Q] = Map(
    "s6_local_source" -> (s6LocalSource _),
    "s1_csv_roundtrip" -> (s1CsvRoundtrip _),
    "p2_json_roundtrip" -> (p2JsonRoundtrip _),
    "p4_filter_eq" -> (p4FilterEq _),
    "p5_compound_pred" -> (p5CompoundPred _),
    "p6_arith_proj" -> (p6ArithProj _),
    "p6_class_weight" -> (p6ClassWeight _),
    "p7_cast_alias" -> (p7CastAlias _),
    "p9_star_extras" -> (p9StarExtras _),
    "p10_to_json" -> (p10ToJson _),
    "a1_global_count" -> (a1GlobalCount _),
    "a2_class_counts" -> (a2ClassCounts _),
    "a3_filtered_count" -> (a3FilteredCount _),
    "a4_confusion_metrics" -> (a4ConfusionMetrics _),
    "a5_summary_stats" -> (a5SummaryStats _),
    "a6_running_total" -> (a6RunningTotal _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "l1_topk" -> (l1TopK _),
    "l2_limit_offset" -> (l2LimitOffset _),
    "j1_broadcast_dims" -> (j1BroadcastDims _),
    "j2_inner_big" -> (j2InnerBig _),
    "j3_semi_join" -> (j3SemiJoin _),
    "j4_anti_join" -> (j4AntiJoin _),
    "j5_outer_join" -> (j5OuterJoin _),
    "u1_union_distinct" -> (u1UnionDistinct _),
    "u2_intersect" -> (u2Intersect _),
    "u3_except" -> (u3Except _),
    "w1_rank_topn" -> (w1RankTopN _),
    "w2_lag" -> (w2Lag _),
    "w3_rank_family" -> (w3RankFamily _),
    "g1_rollup" -> (g1Rollup _),
    "g2_cube" -> (g2Cube _),
    "d1_count_distinct" -> (d1CountDistinct _),
    "d2_approx_distinct" -> (d2ApproxDistinct _),
    "q3_sql_shipping" -> (q3SqlShipping _),
    "q5_local_supplier" -> (q5LocalSupplier _),
    "q9_product_profit" -> (q9ProductProfit _),
    "q4_order_priority" -> (q4OrderPriority _),
    "q13_cust_distribution" -> (q13CustDistribution _),
    "q18_large_orders" -> (q18LargeOrders _),
    "q15_top_supplier" -> (q15TopSupplier _),
    "q20_excess_suppliers" -> (q20ExcessSuppliers _),
    "q21_waiting_suppliers" -> (q21WaitingSuppliers _),
    "q21_waiting_agg" -> (q21WaitingAgg _),
    "q7_volume_shipping" -> (q7VolumeShipping _),
    "q8_market_share" -> (q8MarketShare _),
    "q10_returned_items" -> (q10ReturnedItems _),
    "q6_forecast_revenue" -> (q6ForecastRevenue _),
    "q14_promo_effect" -> (q14PromoEffect _),
    "q19_discounted_revenue" -> (q19DiscountedRevenue _),
    "q12_ship_priority" -> (q12ShipPriority _),
    "q16_supplier_census" -> (q16SupplierCensus _),
    "q17_small_qty_revenue" -> (q17SmallQtyRevenue _),
    "q17_small_qty_win" -> (q17SmallQtyWin _),
    "q2_min_cost_supplier" -> (q2MinCostSupplier _),
    "q2_min_cost_win" -> (q2MinCostWin _),
    "q11_important_parts" -> (q11ImportantParts _),
    "q11_important_ckpt" -> (q11ImportantCkpt _),
    "q22_sales_opportunity" -> (q22SalesOpportunity _),
    "e1_event_window" -> (e1EventWindow _),
    "e2_sessionize" -> (e2Sessionize _),
    "e4_session_window" -> (e4SessionWindow _),
    "e5_funnel" -> (e5Funnel _),
    "e3_gap_fill" -> (e3GapFill _),
    "d3_kmv_distinct" -> (d3KmvDistinct _)
  )

  /** The q21 declarative spec — shared verbatim by the rewrite-
    * coverage anchor and its single-scan twin [[q21WaitingAgg]]: one
    * question, two plans, one oracle. */
  private val Q21OracleSql =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey
      |  AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate >
      |                        o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 10""".stripMargin

  /** The q2 declarative spec — shared verbatim by the anchor and its
    * window-min twin [[q2MinCostWin]]. supply is referenced from both
    * the outer join tree and the correlated min subquery —
    * MATERIALIZED, or DuckDB re-expands the census at every reference
    * (see graft-oracle-discipline). */
  private val Q2OracleSql =
    s"""WITH supply AS MATERIALIZED (SELECT l_partkey, l_suppkey,
       |    CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT))
       |      AS BIGINT) AS cost_cents
       |  FROM lineitem GROUP BY l_partkey, l_suppkey)
       |SELECT CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents,
       |  s_name, n_name, p_partkey, p_brand, cost_cents
       |FROM part, supply, supplier, nation, region
       |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
       |  AND p_size >= $Q2SizeMin AND p_type = 'LARGE'
       |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
       |  AND r_name = 'EUROPE'
       |  AND cost_cents = (SELECT min(s2.cost_cents)
       |                    FROM supply s2, supplier sp, nation n2,
       |                         region r2
       |                    WHERE s2.l_partkey = p_partkey
       |                      AND sp.s_suppkey = s2.l_suppkey
       |                      AND sp.s_nationkey = n2.n_nationkey
       |                      AND n2.n_regionkey = r2.r_regionkey
       |                      AND r2.r_name = 'EUROPE')
       |ORDER BY acctbal_cents DESC, s_name, p_partkey""".stripMargin

  /** The q17 declarative spec — shared verbatim by the anchor and
    * its window-avg twin [[q17SmallQtyWin]]. */
  private val Q17OracleSql =
    s"""SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
       |    AS BIGINT) AS small_qty_revenue_cents,
       |  count(*) AS n_lines
       |FROM lineitem l1 JOIN part ON p_partkey = l_partkey
       |WHERE p_brand = '$Q17Brand'
       |  AND l_quantity < 0.2 * (SELECT avg(l_quantity)
       |                          FROM lineitem l2
       |                          WHERE l2.l_partkey = l1.l_partkey)""".stripMargin

  /** The q11 declarative spec — shared verbatim by the anchor and
    * its checkpointed-census twin [[q11ImportantCkpt]]. The v CTE is
    * referenced twice — MATERIALIZED (see graft-oracle-discipline). */
  private val Q11OracleSql =
    s"""WITH v AS MATERIALIZED (SELECT l_partkey,
       |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
       |      AS BIGINT) AS value_cents
       |  FROM lineitem, supplier, nation, region
       |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
       |    AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
       |  GROUP BY l_partkey)
       |SELECT l_partkey, value_cents
       |FROM v
       |WHERE value_cents > (SELECT $Q11MeanMult * avg(value_cents)
       |                     FROM v)
       |ORDER BY value_cents DESC, l_partkey""".stripMargin

  /** DuckDB-equivalent SQL per query (same column names and types —
    * the driver sorts columns by name and hashes values). */
  val oracle: Map[String, String] = Map(
    "q21_waiting_agg" -> Q21OracleSql,
    "q2_min_cost_win" -> Q2OracleSql,
    "q17_small_qty_win" -> Q17OracleSql,
    "q11_important_ckpt" -> Q11OracleSql,
    "e3_gap_fill" ->
      """WITH ev AS (SELECT event_type,
        |        epoch_ns(ts) // 3600000000000 AS hour FROM events),
        |span AS (SELECT min(hour) AS h0, max(hour) AS h1 FROM ev),
        |hours AS (SELECT unnest(generate_series(
        |           (SELECT h0 FROM span), (SELECT h1 FROM span))) AS hour),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |cnt AS (SELECT event_type, hour, count(*) AS n
        |        FROM ev GROUP BY event_type, hour)
        |SELECT t.event_type, h.hour,
        | CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM types t CROSS JOIN hours h
        |LEFT JOIN cnt c ON c.event_type = t.event_type
        |              AND c.hour = h.hour""".stripMargin,
    // KMV estimate replicated exactly: distinct portable hashes,
    // 256th minimum, round(255 / (kth / 2^60)) — same IEEE double
    // rounding in both engines. The supplier column has < 256
    // distinct keys at oracle scale, exercising the exact branch.
    "d3_kmv_distinct" ->
      """WITH hp AS (SELECT DISTINCT
        |   ('0x' || substr(md5(l_partkey::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM lineitem),
        |hs AS (SELECT DISTINCT
        |   ('0x' || substr(md5(l_suppkey::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM lineitem)
        |SELECT
        | CASE WHEN (SELECT count(*) FROM hp) < 256
        |  THEN (SELECT count(*) FROM hp)
        |  ELSE CAST(round(255.0 /
        |    ((SELECT h FROM hp ORDER BY h OFFSET 255 LIMIT 1)::DOUBLE
        |      / 1152921504606846976.0)) AS BIGINT) END AS kmv_parts,
        | CASE WHEN (SELECT count(*) FROM hs) < 256
        |  THEN (SELECT count(*) FROM hs)
        |  ELSE CAST(round(255.0 /
        |    ((SELECT h FROM hs ORDER BY h OFFSET 255 LIMIT 1)::DOUBLE
        |      / 1152921504606846976.0)) AS BIGINT) END AS kmv_supps""".stripMargin,
    "s6_local_source" ->
      """SELECT * FROM (VALUES
        | (1, 'PAYMENT', 9839.64),
        | (2, 'TRANSFER', 181.0),
        | (3, 'CASH_OUT', 181.0),
        | (4, 'DEBIT', 5337.77),
        | (5, 'CASH_IN', 229133.94)) AS t(txn_id, txn_type, amount)""".stripMargin,
    "s1_csv_roundtrip" ->
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
    "p2_json_roundtrip" ->
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
    "p4_filter_eq" ->
      "SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'",
    "p5_compound_pred" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem
        |WHERE (l_returnflag = 'R' AND l_quantity > 45)
        |   OR (l_discount < 0.02 AND l_quantity < 3)""".stripMargin,
    "p6_arith_proj" ->
      """SELECT l_orderkey, l_linenumber,
        | l_extendedprice * (1.0 - l_discount) AS revenue,
        | l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge
        |FROM lineitem""".stripMargin,
    "p6_class_weight" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderstatus = 'F' THEN 2.5 ELSE 1.0 END AS class_weight
        |FROM orders""".stripMargin,
    "p7_cast_alias" ->
      """SELECT o_orderkey,
        | CAST(trunc(o_totalprice) AS BIGINT) AS price_trunc,
        | o_orderstatus AS status
        |FROM orders""".stripMargin,
    "p9_star_extras" ->
      """SELECT *,
        | n_nationkey + n_regionkey * 100 AS key_code,
        | upper(n_name) AS name_upper
        |FROM nation""".stripMargin,
    "p10_to_json" ->
      """SELECT o_orderkey,
        | CAST(to_json(struct_pack(
        |   o_orderkey := o_orderkey,
        |   o_orderstatus := o_orderstatus,
        |   o_orderpriority := o_orderpriority)) AS VARCHAR) AS payload
        |FROM orders""".stripMargin,
    "a1_global_count" ->
      "SELECT count(*) AS cnt FROM lineitem",
    "a2_class_counts" ->
      """SELECT
        | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        | CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        | CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
        | count(*) AS n_total
        |FROM orders""".stripMargin,
    "a3_filtered_count" ->
      "SELECT count(*) AS cnt FROM orders WHERE o_orderstatus = 'F'",
    "a4_confusion_metrics" ->
      """WITH labeled AS (
        |  SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS label,
        |         CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS pred
        |  FROM events),
        |cells AS (
        |  SELECT
        |   CAST(sum(CASE WHEN pred = 1 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |   CAST(sum(CASE WHEN pred = 1 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |   CAST(sum(CASE WHEN pred = 0 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |   CAST(sum(CASE WHEN pred = 0 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM labeled)
        |SELECT tp, fp, tn, fn,
        | CAST(tp + tn AS DOUBLE) / (tp + fp + tn + fn) AS accuracy,
        | CAST(tp AS DOUBLE) / (tp + fp) AS precision,
        | CAST(tp AS DOUBLE) / (tp + fn) AS recall
        |FROM cells""".stripMargin,
    "a5_summary_stats" ->
      """SELECT count(*) AS cnt,
        | min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        | avg(l_quantity) AS avg_qty,
        | min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
        |FROM lineitem""".stripMargin,
    "a6_running_total" ->
      """SELECT o_orderkey, o_custkey,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS running_cents
        |FROM orders""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | count(*) AS cnt,
        | sum(l_quantity) AS sum_qty,
        | avg(l_quantity) AS avg_qty,
        | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents
        |FROM lineitem
        |WHERE l_quantity > 5.0
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "l1_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "l2_limit_offset" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |ORDER BY o_orderkey LIMIT 100 OFFSET 200""".stripMargin,
    "j1_broadcast_dims" ->
      """SELECT r_name, n_name,
        | count(*) AS n_cust,
        | CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_acctbal_cents
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "j2_inner_big" ->
      """SELECT o_orderpriority,
        | count(*) AS n_items, sum(l_quantity) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "j3_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_cust_with_orders
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment""".stripMargin,
    "j4_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderstatus = 'P')""".stripMargin,
    "j5_outer_join" ->
      """SELECT c_mktsegment,
        | count(o_orderkey) AS n_orders, count(*) AS n_rows
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "u1_union_distinct" ->
      """SELECT DISTINCT nationkey FROM (
        | SELECT c_nationkey AS nationkey FROM customer
        | UNION ALL
        | SELECT s_nationkey AS nationkey FROM supplier)""".stripMargin,
    "u2_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier""".stripMargin,
    "u3_except" ->
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders
        |WHERE o_orderstatus = 'P'""".stripMargin,
    "w1_rank_topn" ->
      """SELECT * FROM (
        | SELECT c_mktsegment, c_custkey, c_acctbal,
        |  CAST(row_number() OVER (
        |    PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal DESC, c_custkey ASC) AS INTEGER) AS rn
        | FROM customer)
        |WHERE rn <= 3""".stripMargin,
    "w2_lag" ->
      """SELECT event_id, user_id, value,
        | lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |   AS prev_value
        |FROM events""".stripMargin,
    "w3_rank_family" ->
      """SELECT c_mktsegment, c_custkey,
        | CAST(dense_rank() OVER w AS INTEGER) AS drk,
        | CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        | percent_rank() OVER w AS prk,
        | cume_dist() OVER w AS cd,
        | first_value(c_custkey) OVER wf AS top_cust,
        | last_value(c_custkey) OVER wf AS bottom_cust
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment
        |             ORDER BY c_acctbal DESC, c_custkey ASC),
        |       wf AS (PARTITION BY c_mktsegment
        |              ORDER BY c_acctbal DESC, c_custkey ASC
        |              ROWS BETWEEN UNBOUNDED PRECEDING
        |              AND UNBOUNDED FOLLOWING)""".stripMargin,
    "g1_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | count(*) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "g2_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,
    "d1_count_distinct" ->
      """SELECT
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps,
        | count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin,
    // d2_approx_distinct: invariant oracle — the exact counts travel
    // cross-engine; the within-3rsd booleans are computed by Spark
    // and asserted TRUE by the oracle (see d2ApproxDistinct scaladoc).
    "d2_approx_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        | count(DISTINCT l_orderkey) AS exact_orders,
        | true AS parts_within_3rsd,
        | true AS orders_within_3rsd
        |FROM lineitem""".stripMargin,
    "q3_sql_shipping" ->
      """SELECT l_orderkey,
        | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |   AS BIGINT)) AS BIGINT) AS revenue_cents,
        | CAST(year(o_orderdate) AS INTEGER) AS order_year
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, year(o_orderdate)
        |ORDER BY revenue_cents DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation,
        | CAST(year(o_orderdate) AS INTEGER) AS o_year,
        | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |   AS BIGINT)) AS BIGINT) AS profit_cents,
        | count(*) AS n_items
        |FROM part
        |JOIN lineitem ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY n_name, year(o_orderdate)""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin,
    "q13_cust_distribution" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey
        |       AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey) c_orders
        |GROUP BY c_count""".stripMargin,
    "q18_large_orders" ->
      s"""SELECT c_custkey, o_orderkey,
         | CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
         | sum_qty
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT)
         |        AS sum_qty
         |      FROM lineitem GROUP BY l_orderkey
         |      HAVING sum(l_quantity) > $Q18QtyThreshold) big
         |  ON o_orderkey = big.l_orderkey
         |ORDER BY totalprice_cents DESC, o_orderkey
         |LIMIT 20""".stripMargin,
    "q15_top_supplier" ->
      """WITH revenue AS (SELECT l_suppkey AS supplier_no,
        |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
        |      * 100) AS BIGINT)) AS BIGINT) AS total_revenue_cents
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue_cents
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_revenue_cents =
        |  (SELECT max(total_revenue_cents) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    "q20_excess_suppliers" ->
      s"""SELECT s_name, s_suppkey
         |FROM supplier
         |WHERE s_suppkey IN (
         |  SELECT l_suppkey FROM lineitem
         |  WHERE l_partkey IN (SELECT p_partkey FROM part
         |                      WHERE p_name LIKE '%widget%')
         |  GROUP BY l_suppkey
         |  HAVING sum(l_quantity) > $Q20QtyThreshold)
         |ORDER BY s_suppkey""".stripMargin,
    "q21_waiting_suppliers" -> Q21OracleSql,
    "q7_volume_shipping" ->
      s"""SELECT supp_nation, cust_nation,
         |  CAST(l_year AS INTEGER) AS l_year,
         |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
         |    * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
         |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |        year(l_shipdate) AS l_year, l_extendedprice, l_discount
         |      FROM supplier, lineitem, orders, customer,
         |           nation n1, nation n2
         |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
         |        AND c_custkey = o_custkey
         |        AND s_nationkey = n1.n_nationkey
         |        AND c_nationkey = n2.n_nationkey
         |        AND ((n1.n_name = '$Q7NationA'
         |              AND n2.n_name = '$Q7NationB')
         |          OR (n1.n_name = '$Q7NationB'
         |              AND n2.n_name = '$Q7NationA'))) shipping
         |GROUP BY supp_nation, cust_nation, l_year""".stripMargin,
    "q8_market_share" ->
      s"""SELECT CAST(o_year AS INTEGER) AS o_year,
         |  CAST(sum(CASE WHEN nation = '$Q7NationB' THEN volume_cents
         |                ELSE 0 END) AS BIGINT) AS nation_cents,
         |  CAST(sum(volume_cents) AS BIGINT) AS total_cents
         |FROM (SELECT year(o_orderdate) AS o_year,
         |        CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
         |          AS BIGINT) AS volume_cents,
         |        n2.n_name AS nation
         |      FROM part, supplier, lineitem, orders, customer,
         |           nation n1, nation n2, region
         |      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
         |        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
         |        AND c_nationkey = n1.n_nationkey
         |        AND n1.n_regionkey = r_regionkey
         |        AND r_name = 'EUROPE'
         |        AND s_nationkey = n2.n_nationkey
         |        AND p_type = 'ECONOMY') all_nations
         |GROUP BY o_year""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100)
        |    AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.04 AND 0.06
        |  AND l_quantity < 24""".stripMargin,
    "q14_promo_effect" ->
      """SELECT
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN volume_cents
        |                ELSE 0 END) AS BIGINT) AS promo_cents,
        |  CAST(sum(volume_cents) AS BIGINT) AS total_cents
        |FROM (SELECT p_type,
        |        CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |          AS BIGINT) AS volume_cents
        |      FROM lineitem JOIN part ON l_partkey = p_partkey
        |      WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        |        AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00') promo""".stripMargin,
    "q19_discounted_revenue" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
        |    * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 1 AND 11)
        |    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
        |        AND l_quantity BETWEEN 10 AND 20)
        |    OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25
        |        AND l_quantity BETWEEN 20 AND 30))
        |  AND l_discount BETWEEN 0.02 AND 0.08""".stripMargin,
    "q12_ship_priority" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,
    "q16_supplier_census" ->
      s"""SELECT p_brand, p_type, p_size,
         |  count(DISTINCT l_suppkey) AS supplier_cnt
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
         |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
         |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
         |                        WHERE s_acctbal < $Q16ExclAcctbal)
         |GROUP BY p_brand, p_type, p_size
         |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q17_small_qty_revenue" -> Q17OracleSql,
    "q2_min_cost_supplier" -> Q2OracleSql,
    "q11_important_parts" -> Q11OracleSql,
    "q22_sales_opportunity" ->
      """WITH potential AS MATERIALIZED (SELECT right(c_name, 1)
        |      AS cntrycode,
        |    c_custkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
        |  FROM customer
        |  WHERE right(c_name, 1) IN ('1', '3', '5', '7')
        |    AND c_acctbal > 0)
        |SELECT cntrycode, count(*) AS numcust,
        |  CAST(sum(acctbal_cents) AS BIGINT) AS totacctbal_cents
        |FROM potential
        |WHERE acctbal_cents > (SELECT avg(acctbal_cents) FROM potential)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT'
        |                    AND o_orderdate >=
        |                        TIMESTAMP '1997-01-01 00:00:00')
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
        |    * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue_cents DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "e1_event_window" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket,
        | count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |   AS sum_value_cents
        |FROM events GROUP BY 1""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |   AS BIGINT)) AS BIGINT) AS revenue_cents,
        | count(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |             AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,
    "e2_sessionize" ->
      s"""WITH flagged AS (
        | SELECT user_id, event_id,
        |  CASE WHEN lag(epoch_ns(ts), 1) OVER w IS NULL
        |        OR epoch_ns(ts) - lag(epoch_ns(ts), 1) OVER w
        |           > ${SessionGapMinutes * 60L * 1000000000L}
        |       THEN 1 ELSE 0 END AS new_session
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id,
        | CAST(sum(new_session) AS BIGINT) AS n_sessions,
        | count(*) AS n_events
        |FROM flagged GROUP BY user_id""".stripMargin,
    // micro-resolution strict ordering (the e4 contract)
    "e5_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |             epoch_ns(ts) // 1000 AS tsu FROM events),
        |v AS (SELECT user_id, min(tsu) AS t_view FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(tsu) AS t_click
        |      FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND tsu > t_view
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(tsu) AS t_purchase
        |      FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND tsu > t_click
        |      GROUP BY e.user_id)
        |SELECT (SELECT count(DISTINCT user_id) FROM e) AS n_users,
        |  (SELECT count(*) FROM v) AS n_viewed,
        |  (SELECT count(*) FROM c) AS n_clicked_after,
        |  (SELECT count(*) FROM p) AS n_purchased_after""".stripMargin,
    // micro-floored gap decision + >= flag: decision-identical to
    // Spark's session_window merge rule (strictly-less overlap)
    "e4_session_window" ->
      s"""WITH flagged AS (
        | SELECT user_id, event_id, epoch_ns(ts) AS tsn,
        |  CASE WHEN lag(epoch_ns(ts) // 1000, 1) OVER w IS NULL
        |        OR epoch_ns(ts) // 1000 - lag(epoch_ns(ts) // 1000, 1)
        |           OVER w >= ${SessionGapMinutes * 60L * 1000000L}
        |       THEN 1 ELSE 0 END AS new_session
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        | SELECT user_id, tsn,
        |  sum(new_session) OVER (PARTITION BY user_id
        |    ORDER BY tsn, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        | FROM flagged)
        |SELECT user_id, CAST(min(tsn // 1000) AS BIGINT) AS start_us,
        | count(*) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin
  )
}
