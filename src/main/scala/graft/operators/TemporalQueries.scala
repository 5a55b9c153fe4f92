package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Derived, Tables}

/** Temporal warehouse operators: SCD2 point-in-time dimension join,
  * sliding-window distinct cardinality, and robust (median/MAD/mode)
  * statistics — the three time-flavored shapes the relational surface
  * was still missing.
  *
  * Scale notes per operator inline; the common discipline: version
  * dimensions broadcast (they are dimension-sized), sliding windows
  * expand bounded-fanout map-side instead of range-joining, and every
  * emitted number is integer (cents / ×2 medians) so the DuckDB
  * oracle hash-compares exactly.
  */
object TemporalQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Money at exact integer cents (the repo-wide determinism rule). */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  // =================================================================
  // x24_scd2_join — point-in-time (SCD type 2) dimension lookup
  // =================================================================

  /** Synthetic SCD2 dimension: per nation, [[Scd2Versions]] yearly
    * tax versions starting [[Scd2BaseYear]], rate_pm (per-mille) =
    * (nationkey·7 + version·3) mod 20 + 1 — deterministic from the
    * nation table alone, so both engines construct the identical
    * dimension. The version span covers the orders fixture's full
    * o_orderdate range (1995-01 .. 2001-08; spec-asserted total
    * coverage). */
  val Scd2BaseYear = 1995
  val Scd2Versions = 7

  /** Point-in-time join: each order picks the dimension version
    * whose [valid_from, valid_to) interval contains o_orderdate —
    * THE slowly-changing-dimension lookup every warehouse ETL runs.
    * Output: per (nation, version) order count + exact taxed cents.
    *
    * 100 TB shape: orders→customer is the one real shuffle (both
    * sides key on custkey; at scale these co-partition/bucket). The
    * versioned dimension is nations × versions rows — broadcast; the
    * interval predicate lands as the join's non-equi condition ON TOP
    * of the nationkey equi-key, so it is a broadcast HASH join (hash
    * on nationkey, interval filter on the probe), never a nested-loop
    * over facts. */
  def x24Scd2Join(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"),
        explode(sequence(lit(0), lit(Scd2Versions - 1))).as("v"))
      .select(col("n_nationkey"), col("n_name"), col("v"),
        ((col("n_nationkey") * 7 + col("v") * 3) % 20 + 1)
          .cast("long").as("rate_pm"),
        to_timestamp(make_date(lit(Scd2BaseYear) + col("v"),
          lit(1), lit(1))).as("valid_from"),
        to_timestamp(make_date(lit(Scd2BaseYear) + col("v") + 1,
          lit(1), lit(1))).as("valid_to"))
    val facts = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"),
        cents(col("o_totalprice")).as("price_c"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
    facts.join(broadcast(dim),
        col("c_nationkey") === col("n_nationkey") &&
          col("o_orderdate") >= col("valid_from") &&
          col("o_orderdate") < col("valid_to"))
      .groupBy(col("n_name"), col("v"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price_c") * col("rate_pm")).cast("long")
          .as("taxed_pm_cents"))
  }

  // =================================================================
  // e6_sliding_distinct — sliding-window distinct users
  // =================================================================

  val SlideHours = 24
  val HourNs = 3600L * 1000000000L

  /** Distinct users per hour AND per trailing [[SlideHours]]-hour
    * window ending at that hour — the DAU-style rolling cardinality.
    *
    * 100 TB shape: `count(DISTINCT)` over a sliding window is the
    * classic quadratic trap (a range join of every window against
    * every event). This plan is linear: (1) dedup events to (hour,
    * user) pairs — the only full-data shuffle, and a shrinking one;
    * (2) EXPLODE each pair into the ≤[[SlideHours]] windows it
    * contributes to (map-side, bounded fanout — an equi-shaped
    * scatter, not a range join); (3) semi-join to the observed-hour
    * spine (broadcast — hours are bounded: ~9k/year) so empty
    * trailing windows aren't invented; (4) two-phase distinct count
    * per window. */
  def e6SlidingDistinct(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = Tables.events(s, dir)
      .select(expr(s"ts div $HourNs").as("hb"), col("user_id"))
      .distinct()
    val spine = pairs.select(col("hb")).distinct()
    // Delta scatter (r22, VERDICT r21 task #4): a user's covered
    // windows are the union of [hb, hb+23] over their active hours;
    // with the per-user lag, each hour emits only the windows NOT
    // already covered by the previous hour — [max(hb, prev+24),
    // hb+23], never empty since prev < hb ⇒ prev+24 ≤ hb+23. Every
    // (user, window) row is therefore emitted EXACTLY ONCE, so the
    // rolling count needs no distinct at all: the former plan's
    // (win, user) dedup exchange (24×|pairs| rows) collapses to a
    // map-side-combined count whose exchange carries ≤ |windows|
    // partial rows per task.
    val delta = pairs
      .withColumn("prev", lag(col("hb"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("hb"))))
      .select(explode(sequence(
        when(col("prev").isNull, col("hb"))
          .otherwise(greatest(col("hb"), col("prev") + SlideHours)),
        col("hb") + (SlideHours - 1))).as("win"), col("user_id"))
      .join(broadcast(spine.withColumnRenamed("hb", "win")), "win")
    val rolling = delta.groupBy(col("win"))
      .agg(count(lit(1)).as("n_users_roll"))
    val hourly = pairs.groupBy(col("hb"))
      .agg(count(lit(1)).as("n_users_hour"))
    hourly.join(rolling, col("hb") === col("win"))
      .select(col("hb"), col("n_users_hour"), col("n_users_roll"))
  }

  /** [[e6SlidingDistinct]]'s sketch twin — the shape that survives
    * 100 TB. The exact version scatters every (hour, user) PAIR into
    * its ≤[[SlideHours]] windows, so the rolling exchange carries
    * |pairs|·24 rows — linear in user cardinality. This twin builds
    * ONE KMV sketch per hour (≤[[graft.functions.KmvSketch.K]]
    * longs, map-side combined) and scatters SKETCHES: the rolling
    * exchange carries hours·24 bounded arrays, independent of how
    * many users an hour saw. Merge is the k-min union (associative,
    * partitioning-invariant), the estimate is the (K-1)/p formula on
    * the portable-md5-60 key — bit-reproducible, so this
    * APPROXIMATE operator still hash-compares exactly in DuckDB
    * (the d3/d5 discipline applied to windows). Estimates are
    * computed by ONE codegen'd expression shared by the hourly and
    * rolled paths, mirrored verbatim in the oracle. */
  def e6bSlidingKmv(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.KmvSketch
    val norm = math.pow(2.0, graft.core.PortableHash.Bits)
    // exact below K (the sketch then holds every distinct hash);
    // (K-1)/p above — KmvSketch.estimateOf as a plan expression
    def est(sk: Column): Column =
      when(size(sk) < KmvSketch.K, size(sk).cast("long"))
        .otherwise(round(lit((KmvSketch.K - 1).toDouble) /
          (element_at(sk, size(sk)).cast("double") / lit(norm)))
          .cast("long"))
    val hourly = Tables.events(s, dir)
      .select(expr(s"ts div $HourNs").as("hb"),
        graft.core.PortableHash.md5Hash60(col("user_id")).as("h"))
      .groupBy(col("hb"))
      .agg(KmvSketch.sketchOf(col("h")).as("sk"))
      .transform(Derived.slot("e6b_hourly", s, dir))
      // feeds the scatter AND the hourly estimate
    val spine = hourly.select(col("hb").as("win"))
    val rolled = hourly
      .select(explode(sequence(col("hb"),
        col("hb") + (SlideHours - 1))).as("win"), col("sk"))
      .join(broadcast(spine), "win")
      .groupBy(col("win"))
      .agg(KmvSketch.mergeOf(col("sk")).as("rsk"))
      .select(col("win"), est(col("rsk")).as("n_users_roll_kmv"))
    hourly
      .select(col("hb"), est(col("sk")).as("n_users_hour_kmv"))
      .join(rolled, col("hb") === col("win"))
      .select(col("hb"), col("n_users_hour_kmv"),
        col("n_users_roll_kmv"))
  }


  // =================================================================
  // x25_robust_stats — median / MAD / mode per group
  // =================================================================

  /** Robust per-event-type statistics over integer cents: exact
    * median (×2 so the even-count midpoint stays integer), exact MAD
    * (×4: the deviation is ×2, its median again ×2), and the mode
    * with smallest-value tie-break. The ×2/×4 scaling keeps every
    * emitted value an exact integer both engines agree on — medians
    * interpolate as (a+b)/2 in Spark `percentile` and DuckDB
    * `quantile_cont` alike, so doubling recovers a+b exactly.
    *
    * 100 TB shape: two grouped passes (median, then deviations
    * against the broadcast per-group medians) + one (group, value)
    * census for the mode — every shuffle keys on the group column;
    * exact medians per group assume per-group sort fits the
    * executor (the x8/x8b twin rule: pair with approx_percentile
    * when groups are unbounded). */
  def x25RobustStats(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), cents(col("value")).as("c"))
    val med = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(c, 0.5)") * 2).cast("long")
          .as("med_c_x2"))
    val mad = ev.join(broadcast(med), "event_type")
      .select(col("event_type"),
        abs(col("c") * 2 - col("med_c_x2")).as("dev_x2"))
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(dev_x2, 0.5)") * 2).cast("long")
        .as("mad_c_x4"))
    val mode = ev.groupBy(col("event_type"), col("c"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("event_type"))
      .agg(max_by(col("c"), struct(col("cnt"), (-col("c")).as("nc")))
        .as("mode_c"),
        max(col("cnt")).as("mode_n"))
    med.join(mad, "event_type").join(mode, "event_type")
      .select(col("event_type"), col("n"), col("med_c_x2"),
        col("mad_c_x4"), col("mode_c"), col("mode_n"))
  }

  // =================================================================
  // e8_max_concurrency — sweep-line interval overlap
  // =================================================================

  /** Synthetic interval duration: (cents mod [[ConcDurModS]]) +
    * [[ConcDurMinS]] seconds — deterministic from the event row
    * alone, so both engines construct identical intervals. pmod
    * semantics (value cents can be negative). */
  val ConcDurModS = 3600L
  val ConcDurMinS = 60L

  /** Max concurrent overlapping intervals per event type — the
    * sweep-line (gaps-and-islands) staple behind "peak concurrent
    * sessions". Each interval becomes a +1 point at its start and a
    * −1 at its end; the running sum of deltas in time order IS the
    * concurrency curve; intervals are half-open [start, end), so at
    * equal timestamps ends sort before starts (delta ascending).
    * Output: intervals, the peak, and the first instant the peak is
    * reached — all integers.
    *
    * 100 TB shape: the sweep needs a total time order PER TYPE, so
    * the window partitions by event_type — bounded partitions here
    * (≤ |events per type|); with an unbounded single key you'd
    * day-bucket the sweep and carry each bucket's closing sum into
    * the next via the constant-size bucket census, exactly the
    * x20_scalable_rownum two-level discipline. The argmax of the
    * curve is a second grouped pass against the broadcast per-type
    * peak, not a re-sort. */
  /** Shared synthetic intervals for e8/e10 — microsecond timeline:
    * DuckDB reads the parquet TIMESTAMP(NANOS) column at µs
    * precision, so the sweep runs on identical integer instants in
    * both engines only after `ts div 1000`. */
  private def sweepIntervals(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        expr("ts div 1000").as("t0"),
        (expr("ts div 1000") +
          (pmod(cents(col("value")), lit(ConcDurModS)) +
            ConcDurMinS) * lit(1000000L)).as("t1"))

  def e8MaxConcurrency(s: SparkSession, dir: String): DataFrame = {
    val iv = sweepIntervals(s, dir)
    val points = iv.select(col("event_type"), col("event_id"),
        col("t0").as("t"), lit(1).as("delta"))
      .unionAll(iv.select(col("event_type"), col("event_id"),
        col("t1").as("t"), lit(-1).as("delta")))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("t"), col("delta"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = points
      .withColumn("conc", sum(col("delta")).over(w).cast("long"))
    val peak = curve.groupBy(col("event_type"))
      .agg(max(col("conc")).as("max_conc"))
    curve.join(broadcast(peak), "event_type")
      .filter(col("conc") === col("max_conc"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_at_peak"),
        max(col("max_conc")).as("max_conc"),
        min(col("t")).as("t_first_peak"))
      .join(broadcast(iv.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_intervals"))), "event_type")
      .select(col("event_type"), col("n_intervals"), col("max_conc"),
        col("t_first_peak"), col("n_at_peak"))
  }

  // =================================================================
  // e10_interval_coverage — union-of-intervals covered time
  // =================================================================

  /** Covered time per event type — the measure of the intervals'
    * UNION (overlaps counted once): the sibling of e8's peak, via
    * the same sweep. Between consecutive sweep points, concurrency
    * is constant; the union length is the sum of segment widths
    * where it is positive. Output also carries the type's total
    * span and integer per-mille utilization.
    *
    * 100 TB shape: identical to e8 — per-type sweep windows (the
    * lead() rides the SAME window sort, no extra exchange), then
    * one grouped sum. */
  def e10IntervalCoverage(s: SparkSession, dir: String): DataFrame = {
    val iv = sweepIntervals(s, dir)
    val points = iv.select(col("event_type"), col("event_id"),
        col("t0").as("t"), lit(1).as("delta"))
      .unionAll(iv.select(col("event_type"), col("event_id"),
        col("t1").as("t"), lit(-1).as("delta")))
    val ord = Window.partitionBy(col("event_type"))
      .orderBy(col("t"), col("delta"), col("event_id"))
    val segs = points
      .withColumn("conc", sum(col("delta")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nxt", lead(col("t"), 1).over(ord))
    val covered = segs.groupBy(col("event_type"))
      .agg(sum(when(col("conc") > 0,
        coalesce(col("nxt") - col("t"), lit(0L))).otherwise(0L))
        .as("covered_us"))
    val span = iv.groupBy(col("event_type"))
      .agg(min(col("t0")).as("lo"), max(col("t1")).as("hi"))
      .select(col("event_type"), (col("hi") - col("lo")).as("span_us"))
    covered.join(span, "event_type")
      .select(col("event_type"), col("covered_us"), col("span_us"),
        expr("covered_us * 1000 div span_us").as("util_pm"))
  }

  // =================================================================
  // e9_cohort_retention — weekly cohort retention matrix
  // =================================================================

  val WeekNs: Long = 7L * 24L * HourNs

  /** Weekly cohort retention: users grouped by their first-activity
    * week; for every later week, how many of that cohort were active
    * — the product-analytics retention triangle. Emitted as exact
    * counts (n_active, cohort_n) so the ratio stays consumer-side
    * and the oracle hash-matches.
    *
    * 100 TB shape: ONE shuffle key — user_id — serves both the
    * first-week aggregate and the distinct (user, week) activity
    * table, so the cohort join is co-partitioned (no second
    * exchange of the big side; AQE sees both children hashed on
    * user_id). The retention census then shuffles ≤ |cohorts| ×
    * |offsets| rows. Cohort sizes are week-bounded — broadcast. */
  def e9CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val acts = Tables.events(s, dir)
      .select(col("user_id"), expr(s"ts div $WeekNs").as("wk"))
      .distinct()
    val firsts = acts.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_wk"))
    val sizes = firsts.groupBy(col("cohort_wk"))
      .agg(count(lit(1)).as("cohort_n"))
    acts.join(firsts, "user_id")
      .groupBy(col("cohort_wk"),
        (col("wk") - col("cohort_wk")).as("wk_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(broadcast(sizes), "cohort_wk")
      .select(col("cohort_wk"), col("wk_offset"), col("n_active"),
        col("cohort_n"))
  }

  // =================================================================
  // e11_conversion_lag — first-view → first-purchase latency
  // =================================================================

  /** Per-user conversion latency: the gap between a user's FIRST
    * view and their first purchase at-or-after it — the timing
    * metric the e5 funnel's pure counts leave out. Emitted as exact
    * integer microseconds for every converting user; consumers
    * aggregate (x8/x32 quantiles) downstream.
    *
    * 100 TB shape: both aggregates key on user_id — the
    * first-view table and the purchase stream co-partition, so the
    * candidate join adds no exchange beyond the grouped mins. The
    * at-or-after predicate rides the hash join as its non-equi
    * residual. */
  def e11ConversionLag(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts div 1000").as("t"))
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("t")).as("tv"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("t"))
    firstView.join(purchases, "user_id")
      .filter(col("t") >= col("tv"))
      .groupBy(col("user_id"), col("tv"))
      .agg(min(col("t")).as("tp"))
      .select(col("user_id"), (col("tp") - col("tv")).as("lag_us"))
  }

  // =================================================================
  // e12_anomaly — rolling z-score burst detection
  // =================================================================

  /** Trailing window length (hours) and z threshold for
    * [[e12Anomaly]]. Interpolated into the oracle. */
  val AnomTrailHours = 24

  /** Hourly event-count anomalies per type: each hour scored
    * against the mean/stddev of the previous [[AnomTrailHours]]
    * hours (current hour EXCLUDED — a burst must not mask itself).
    * The spine is dense (missing hours count 0, the e7 discipline),
    * otherwise "24 trailing rows" silently stops meaning "24
    * trailing hours". The moment sums are exact integers; mean,
    * sample stddev and z are the same IEEE expression on identical
    * ints in both engines, so even the doubles hash-compare.
    * Constant windows (stddev 0) yield NULL z.
    *
    * 100 TB shape: identical to e7 — one shrinking pre-aggregation,
    * a sequence-explode spine, hour-bounded per-type windows. */
  def e12Anomaly(s: SparkSession, dir: String): DataFrame = {
    val hourNs = HourNs
    val hourly = Tables.events(s, dir)
      .select(col("event_type"), expr(s"ts div $hourNs").as("hb"))
      .groupBy(col("event_type"), col("hb"))
      .agg(count(lit(1)).as("x"))
    val spine = hourly.groupBy(col("event_type"))
      .agg(min(col("hb")).as("mn"), max(col("hb")).as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"))).as("hb"))
    val dense = spine.join(hourly, Seq("event_type", "hb"), "left")
      .select(col("event_type"), col("hb"),
        coalesce(col("x"), lit(0L)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hb"))
      .rowsBetween(-AnomTrailHours, -1)
    dense
      .withColumn("wn", count(lit(1)).over(w))
      .withColumn("sw", sum(col("x")).over(w))
      .withColumn("ssw", sum(col("x") * col("x")).over(w))
      .filter(col("wn") === AnomTrailHours)
      .withColumn("z", expr(
        s"""CASE WHEN $AnomTrailHours * ssw - sw * sw > 0 THEN
           |  (CAST(x AS DOUBLE) - CAST(sw AS DOUBLE) / $AnomTrailHours.0)
           |  / sqrt(CAST($AnomTrailHours * ssw - sw * sw AS DOUBLE)
           |         / ${AnomTrailHours * (AnomTrailHours - 1)}.0)
           |END""".stripMargin))
      .select(col("event_type"), col("hb"), col("x"), col("sw"),
        col("ssw"), col("z"),
        coalesce(abs(col("z")) > 3.0d, lit(false)).as("is_anomaly"))
  }

  // =================================================================
  // x34_transitions — Markov transition census
  // =================================================================

  /** First-order state-transition census over per-user event
    * streams: for every consecutive (prev → next) event-type pair
    * in a user's (ts, event_id)-ordered history, the exact count,
    * the per-source total, and the integer per-mille transition
    * rate — the empirical Markov matrix behind next-action
    * prediction and journey analysis.
    *
    * 100 TB shape: ONE lag window per user (the x29 partitioning —
    * millions of small per-entity partitions, no global sort), then
    * a census shuffle on the |types|² transition key; per-source
    * totals derive from the census itself (a second tiny agg),
    * broadcast back. */
  def x34Transitions(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    val census = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("t"))
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val totals = census.groupBy(col("prev"))
      .agg(sum(col("n")).as("tot"))
    census.join(broadcast(totals), "prev")
      .select(col("prev"), col("event_type"), col("n"), col("tot"),
        expr("n * 1000 div tot").as("rate_pm"))
  }

  val queries: Map[String, Q] = Map(
    "x34_transitions" -> (x34Transitions _),
    "e12_anomaly" -> (e12Anomaly _),
    "e11_conversion_lag" -> (e11ConversionLag _),
    "x24_scd2_join" -> (x24Scd2Join _),
    "e6_sliding_distinct" -> (e6SlidingDistinct _),
    "e6b_sliding_kmv" -> (e6bSlidingKmv _),
    "x25_robust_stats" -> (x25RobustStats _),
    "e8_max_concurrency" -> (e8MaxConcurrency _),
    "e9_cohort_retention" -> (e9CohortRetention _),
    "e10_interval_coverage" -> (e10IntervalCoverage _)
  )

  val oracle: Map[String, String] = Map(
    "x24_scd2_join" ->
      s"""WITH dim AS (SELECT n_nationkey, n_name, v,
         |   CAST((n_nationkey * 7 + v * 3) % 20 + 1 AS BIGINT) AS rate_pm,
         |   CAST(make_date($Scd2BaseYear + v, 1, 1) AS TIMESTAMP)
         |     AS valid_from,
         |   CAST(make_date($Scd2BaseYear + v + 1, 1, 1) AS TIMESTAMP)
         |     AS valid_to
         | FROM nation, range(0, $Scd2Versions) t(v))
         |SELECT n_name, CAST(v AS INTEGER) AS v,
         | count(*) AS n_orders,
         | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT) * rate_pm)
         |   AS BIGINT) AS taxed_pm_cents
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN dim ON c_nationkey = n_nationkey
         |        AND o_orderdate >= valid_from
         |        AND o_orderdate < valid_to
         |GROUP BY n_name, v""".stripMargin,
    // oracle uses the O(spine·pairs) range join — fine at oracle SF,
    // while the ENGINE uses the linear bounded-fanout scatter
    "e6_sliding_distinct" ->
      s"""WITH pairs AS (SELECT DISTINCT epoch_ns(ts) // $HourNs AS hb,
         |   user_id FROM events),
         |spine AS (SELECT DISTINCT hb FROM pairs),
         |rolling AS (SELECT s.hb,
         |   count(DISTINCT p.user_id) AS n_users_roll
         | FROM spine s JOIN pairs p
         |   ON p.hb BETWEEN s.hb - ${SlideHours - 1} AND s.hb
         | GROUP BY s.hb),
         |hourly AS (SELECT hb, count(*) AS n_users_hour
         | FROM pairs GROUP BY hb)
         |SELECT hb, n_users_hour, n_users_roll
         |FROM hourly JOIN rolling USING (hb)""".stripMargin,
    // the KMV twin: same spine/window algebra, estimate = the exact
    // k-min formula on the portable-md5-60 hashes — (K-1)/p with the
    // K-th smallest per group via ordered list indexing; below-K
    // groups take the exact-count branch (the sketch holds every
    // distinct hash there), matching KmvSketch.estimateOf verbatim
    "e6b_sliding_kmv" ->
      s"""WITH pairs AS (SELECT DISTINCT epoch_ns(ts) // $HourNs AS hb,
         |   ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
         | FROM events),
         |spine AS (SELECT DISTINCT hb FROM pairs),
         |roll AS (SELECT DISTINCT s.hb, p.h
         | FROM spine s JOIN pairs p
         |   ON p.hb BETWEEN s.hb - ${SlideHours - 1} AND s.hb),
         |rollest AS (SELECT hb,
         |   CASE WHEN count(*) < ${graft.functions.KmvSketch.K}
         |    THEN count(*)
         |    ELSE CAST(round(${graft.functions.KmvSketch.K - 1}.0 /
         |      ((list(h ORDER BY h))[${graft.functions.KmvSketch.K}]::DOUBLE
         |        / 1152921504606846976.0)) AS BIGINT) END
         |     AS n_users_roll_kmv
         | FROM roll GROUP BY hb),
         |hourest AS (SELECT hb,
         |   CASE WHEN count(*) < ${graft.functions.KmvSketch.K}
         |    THEN count(*)
         |    ELSE CAST(round(${graft.functions.KmvSketch.K - 1}.0 /
         |      ((list(h ORDER BY h))[${graft.functions.KmvSketch.K}]::DOUBLE
         |        / 1152921504606846976.0)) AS BIGINT) END
         |     AS n_users_hour_kmv
         | FROM pairs GROUP BY hb)
         |SELECT hb, n_users_hour_kmv, n_users_roll_kmv
         |FROM hourest JOIN rollest USING (hb)""".stripMargin,
    // identical sweep: ends-before-starts tie order (delta ASC) and
    // event_id total-order tiebreak make the curve deterministic
    "e8_max_concurrency" ->
      s"""WITH iv AS (SELECT event_type, event_id,
         |   epoch_us(ts) AS t0,
         |   epoch_us(ts) + (((CAST(round(value * 100) AS BIGINT)
         |     % $ConcDurModS + $ConcDurModS) % $ConcDurModS)
         |     + $ConcDurMinS) * 1000000 AS t1
         | FROM events WHERE value IS NOT NULL),
         |pts AS (SELECT event_type, event_id, t0 AS t, 1 AS delta
         |          FROM iv
         |        UNION ALL
         |        SELECT event_type, event_id, t1 AS t, -1 AS delta
         |          FROM iv),
         |curve AS (SELECT event_type, t,
         |   CAST(sum(delta) OVER (PARTITION BY event_type
         |     ORDER BY t, delta, event_id
         |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
         | FROM pts),
         |peak AS (SELECT event_type, max(conc) AS max_conc
         | FROM curve GROUP BY event_type),
         |n AS (SELECT event_type, count(*) AS n_intervals
         | FROM iv GROUP BY event_type)
         |SELECT c.event_type, n_intervals, p.max_conc,
         | min(c.t) AS t_first_peak, count(*) AS n_at_peak
         |FROM curve c
         |JOIN peak p ON c.event_type = p.event_type
         |  AND c.conc = p.max_conc
         |JOIN n ON c.event_type = n.event_type
         |GROUP BY c.event_type, n_intervals, p.max_conc""".stripMargin,
    "x34_transitions" ->
      """WITH seq AS (SELECT user_id, event_type,
        |   lag(event_type) OVER (PARTITION BY user_id
        |     ORDER BY epoch_us(ts), event_id) AS prev
        | FROM events),
        |census AS (SELECT prev, event_type, count(*) AS n
        | FROM seq WHERE prev IS NOT NULL
        | GROUP BY prev, event_type),
        |t AS (SELECT prev, CAST(sum(n) AS BIGINT) AS tot
        | FROM census GROUP BY prev)
        |SELECT prev, event_type, n, tot,
        | n * 1000 // tot AS rate_pm
        |FROM census JOIN t USING (prev)""".stripMargin,
    "e12_anomaly" -> {
      val h = AnomTrailHours
      s"""WITH hourly AS (SELECT event_type,
         |   epoch_ns(ts) // $HourNs AS hb, count(*) AS x
         | FROM events GROUP BY event_type, hb),
         |spine AS (SELECT event_type,
         |   unnest(generate_series(mn, mx)) AS hb
         | FROM (SELECT event_type, min(hb) AS mn, max(hb) AS mx
         |       FROM hourly GROUP BY event_type)),
         |dense AS (SELECT s.event_type, s.hb,
         |   coalesce(h.x, 0) AS x
         | FROM spine s LEFT JOIN hourly h
         |   ON s.event_type = h.event_type AND s.hb = h.hb),
         |win AS (SELECT event_type, hb, x,
         |   count(*) OVER w AS wn,
         |   CAST(sum(x) OVER w AS BIGINT) AS sw,
         |   CAST(sum(x * x) OVER w AS BIGINT) AS ssw
         | FROM dense
         | WINDOW w AS (PARTITION BY event_type ORDER BY hb
         |   ROWS BETWEEN $h PRECEDING AND 1 PRECEDING))
         |SELECT event_type, hb, CAST(x AS BIGINT) AS x, sw, ssw,
         | CASE WHEN $h * ssw - sw * sw > 0 THEN
         |   (CAST(x AS DOUBLE) - CAST(sw AS DOUBLE) / $h.0)
         |   / sqrt(CAST($h * ssw - sw * sw AS DOUBLE)
         |          / ${h * (h - 1)}.0)
         | END AS z,
         | coalesce(abs(CASE WHEN $h * ssw - sw * sw > 0 THEN
         |   (CAST(x AS DOUBLE) - CAST(sw AS DOUBLE) / $h.0)
         |   / sqrt(CAST($h * ssw - sw * sw AS DOUBLE)
         |          / ${h * (h - 1)}.0)
         | END) > 3.0, false) AS is_anomaly
         |FROM win WHERE wn = $h""".stripMargin
    },
    "e11_conversion_lag" ->
      """WITH fv AS (SELECT user_id, min(epoch_us(ts)) AS tv
        | FROM events WHERE event_type = 'view' GROUP BY user_id),
        |fp AS (SELECT f.user_id, tv, min(epoch_us(ts)) AS tp
        | FROM fv f JOIN events e ON f.user_id = e.user_id
        | WHERE e.event_type = 'purchase' AND epoch_us(ts) >= tv
        | GROUP BY f.user_id, tv)
        |SELECT user_id, tp - tv AS lag_us FROM fp""".stripMargin,
    "e10_interval_coverage" ->
      s"""WITH iv AS (SELECT event_type, event_id,
         |   epoch_us(ts) AS t0,
         |   epoch_us(ts) + (((CAST(round(value * 100) AS BIGINT)
         |     % $ConcDurModS + $ConcDurModS) % $ConcDurModS)
         |     + $ConcDurMinS) * 1000000 AS t1
         | FROM events WHERE value IS NOT NULL),
         |pts AS (SELECT event_type, event_id, t0 AS t, 1 AS delta
         |          FROM iv
         |        UNION ALL
         |        SELECT event_type, event_id, t1 AS t, -1 AS delta
         |          FROM iv),
         |segs AS (SELECT event_type,
         |   CAST(sum(delta) OVER w AS BIGINT) AS conc,
         |   lead(t) OVER w2 - t AS width
         | FROM pts
         | WINDOW w AS (PARTITION BY event_type
         |   ORDER BY t, delta, event_id ROWS UNBOUNDED PRECEDING),
         | w2 AS (PARTITION BY event_type
         |   ORDER BY t, delta, event_id)),
         |cov AS (SELECT event_type,
         |   CAST(sum(CASE WHEN conc > 0
         |     THEN coalesce(width, 0) ELSE 0 END) AS BIGINT)
         |     AS covered_us
         | FROM segs GROUP BY event_type),
         |sp AS (SELECT event_type, max(t1) - min(t0) AS span_us
         | FROM iv GROUP BY event_type)
         |SELECT event_type, covered_us, span_us,
         | covered_us * 1000 // span_us AS util_pm
         |FROM cov JOIN sp USING (event_type)""".stripMargin,
    "e9_cohort_retention" ->
      s"""WITH acts AS (SELECT DISTINCT user_id,
         |   epoch_ns(ts) // $WeekNs AS wk FROM events),
         |firsts AS (SELECT user_id, min(wk) AS cohort_wk
         | FROM acts GROUP BY user_id),
         |sizes AS (SELECT cohort_wk, count(*) AS cohort_n
         | FROM firsts GROUP BY cohort_wk)
         |SELECT cohort_wk, wk - cohort_wk AS wk_offset,
         | count(DISTINCT a.user_id) AS n_active, cohort_n
         |FROM acts a
         |JOIN firsts f ON a.user_id = f.user_id
         |JOIN sizes s USING (cohort_wk)
         |GROUP BY cohort_wk, wk_offset, cohort_n""".stripMargin,
    "x25_robust_stats" ->
      """WITH ev AS (SELECT event_type,
        |   CAST(round(value * 100) AS BIGINT) AS c
        | FROM events WHERE value IS NOT NULL),
        |med AS (SELECT event_type, count(*) AS n,
        |   CAST(round(quantile_cont(c, 0.5) * 2) AS BIGINT) AS med_c_x2
        | FROM ev GROUP BY event_type),
        |mad AS (SELECT event_type,
        |   CAST(round(quantile_cont(abs(c * 2 - med_c_x2), 0.5) * 2)
        |     AS BIGINT) AS mad_c_x4
        | FROM ev JOIN med USING (event_type)
        | GROUP BY event_type),
        |census AS (SELECT event_type, c, count(*) AS cnt
        | FROM ev GROUP BY event_type, c),
        |mode AS (SELECT event_type, c AS mode_c, cnt AS mode_n
        | FROM (SELECT event_type, c, cnt, row_number() OVER (
        |         PARTITION BY event_type ORDER BY cnt DESC, c ASC) AS rn
        |       FROM census)
        | WHERE rn = 1)
        |SELECT event_type, n, med_c_x2, mad_c_x4, mode_c, mode_n
        |FROM med JOIN mad USING (event_type)
        |JOIN mode USING (event_type)""".stripMargin
  )
}
