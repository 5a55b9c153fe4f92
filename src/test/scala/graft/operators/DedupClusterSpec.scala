package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DedupClusterSpec extends SparkSpec {

  /** Build a documents.parquet fixture in a temp dir so the operator
    * runs against a corpus with KNOWN near-dup structure. */
  private def corpusDir(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cc").toString
    rows.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // 60 distinct words → 58 trigrams; editing ONE word flips ≤3 of
  // them → pairwise Jaccard ≈ 0.90 (≥ 0.85 edge threshold).
  private val baseWords: IndexedSeq[String] =
    (0 until 60).map(i => s"w$i")

  test("transitive near-dups collapse into one cluster under min label") {
    // B = A with the last word edited (J≈0.90 → edge A–B).
    // C = B with a word near the front edited (J≈0.90 → edge B–C),
    // but A–C differs in TWO words (J≈0.81 < 0.85 → NO direct edge).
    // Connected components must still put all three together — that
    // closure step is exactly what dd_cluster_cc adds over pair
    // detection.
    val a = baseWords.mkString(" ")
    val b = baseWords.updated(59, "edited59").mkString(" ")
    val c = baseWords.updated(59, "edited59").updated(5, "edited5")
      .mkString(" ")
    val d = (0 until 60).map(i => s"zz$i").mkString(" ")
    val dir = corpusDir(Seq(
      (10L, a, "s"), (11L, b, "s"), (12L, c, "s"), (13L, d, "s")))

    val out = DedupCluster.ddClusterCc(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(10L, 11L, 12L),
      "only docs with at least one near-dup edge are labeled")
    assert(out.values.toSet == Set(10L),
      "min-label propagation converges to the component minimum")
  }

  test("unrelated documents never share a cluster") {
    // Two independent pairs → two components with their own minima.
    val a = baseWords.mkString(" ")
    val a2 = baseWords.updated(0, "x0").mkString(" ")
    val b = (0 until 60).map(i => s"q$i").mkString(" ")
    val b2 = (0 until 60).map(i => s"q$i").updated(30, "qx").mkString(" ")
    val dir = corpusDir(Seq(
      (1L, a, "s"), (2L, a2, "s"), (7L, b, "s"), (8L, b2, "s")))

    val out = DedupCluster.ddClusterCc(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("a corpus with no near-dups yields an empty cluster table, not a crash") {
    val dir = corpusDir(Seq(
      (1L, (0 until 60).map(i => s"a$i").mkString(" "), "s"),
      (2L, (0 until 60).map(i => s"b$i").mkString(" "), "s"),
      (3L, (0 until 60).map(i => s"c$i").mkString(" "), "s")))
    assert(DedupCluster.ddClusterCc(spark, dir).count() == 0)
    // dedup keeps everything when nothing clusters
    val kept = DedupCluster.ddClusterDedup(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_kept")).head().getLong(0)
    assert(kept == 3)
  }

  test("a duplicate cluster larger than the hot-bucket cap still dedups") {
    // 60 identical documents: every LSH bucket they share holds 60
    // members (> maxBucket 50). The star fallback must keep them
    // connected; dropping hot buckets would silently keep all 60.
    val text = baseWords.mkString(" ")
    val rows = (0L until 60L).map(i => (i, text, "s")) :+
      (999L, (0 until 60).map(i => s"z$i").mkString(" "), "s")
    val dir = corpusDir(rows)
    val out = DedupCluster.ddClusterCc(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == (0L until 60L).toSet)
    assert(out.values.toSet == Set(0L),
      "all 60 identical docs must fold into the doc-0 cluster")
    val kept = DedupCluster.ddClusterDedup(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_kept")).head().getLong(0)
    assert(kept == 2, "one representative + the unrelated doc")
  }

  test("sf0.001 corpus: representative of each cluster is its own minimum") {
    val out = DedupCluster.ddClusterCc(spark, sfDir)
    val badRep = out.groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("min_id"))
      .filter(col("cluster_id") =!= col("min_id")).count()
    assert(badRep == 0)
    assert(out.filter(col("cluster_id") > col("doc_id")).count() == 0)
  }

  test("incremental clustering equals the full recompute on the " +
      "test corpus") {
    val full = DedupCluster.ddClusterCc(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val incr = DedupCluster.ddClusterIncremental(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr == full,
      s"incremental diverges: ${incr.size} vs ${full.size} nodes")
    assert(full.nonEmpty, "corpus must contain near-dup clusters")
  }

  test("a delta doc merges a base cluster with a base outsider — " +
      "the warm-started labels re-converge") {
    // base: A(10) ~ B(11) form a cluster; C'(12) is NOT a near-dup
    // of either (two edits from A). delta: D(14) is one edit from B
    // AND one edit from C' — the bridge that must pull 12 into
    // cluster 10 at serve time, against the persisted base labels
    // that say {10, 11} and nothing for 12.
    val a = baseWords.mkString(" ")
    val b = baseWords.updated(59, "e59").mkString(" ")
    val c = baseWords.updated(59, "e59").updated(55, "e55")
      .updated(50, "e50").mkString(" ")
    val d = baseWords.updated(59, "e59").updated(55, "e55")
      .mkString(" ")
    val dir = corpusDir(Seq(
      (10L, a, "s"), (11L, b, "s"), (12L, c, "s"), (14L, d, "s")))
    // base state must know {10, 11} and not 12 (12 is two edits from
    // 11 — J ≈ 0.81 < 0.85) — certified indirectly: the incremental
    // answer must still put ALL FOUR in cluster 10 via the delta
    // bridge 14 (one edit to 11, one edit to 12)
    val incr = DedupCluster.ddClusterIncremental(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr == Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      14L -> 10L), s"bridge merge failed: $incr")
    val baseLabels = spark.read.parquet(
        graft.sources.IndexStore.ensureBaseClusters(spark, dir).labels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(baseLabels == Map(10L -> 10L, 11L -> 10L),
      s"base state should hold only the {10,11} cluster: $baseLabels")
  }

  test("hot-bucket rep drift: the merged min-id rep moves to a delta " +
      "doc and incremental still equals the full recompute") {
    // The planted drift ADVICE r18/r19 asked for: a 55-member pile of
    // IDENTICAL docs whose overall minimum doc_id (4) is a DELTA doc
    // (IndexStore.isDelta holds for 4), while every other member
    // is base-split. Every cluster-band bucket the pile shares holds
    // 55 members (> maxBucket 50), so the persisted base edge set
    // anchors its stars at the BASE rep (min base id 100) — and the
    // incremental serve's merged census anchors at 4. The union of
    // the two star sets must still converge to the same components
    // as the from-scratch recompute, with the DRIFTED rep as the min
    // label.
    def splitIds(from: Long, until: Long,
        pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      spark.range(from, until).filter(pred(col("id")))
        .collect().map(_.longValue).toSeq.sorted
    assert(splitIds(4L, 5L, graft.sources.IndexStore.isDelta) == Seq(4L),
      "doc 4 must be a delta doc under the split")
    val text = baseWords.mkString(" ")
    val baseIds = // 55 base ids
      splitIds(100L, 168L, graft.sources.IndexStore.isBase)
    val pile = 4L +: baseIds
    val rows = pile.map(i => (i, text, "s")) :+
      (999L, (0 until 60).map(i => s"lone$i").mkString(" "), "s")
    val dir = corpusDir(rows)
    // the drift precondition, certified directly: base labels anchor
    // at 100 and know nothing of doc 4
    val baseLabels = spark.read.parquet(
        graft.sources.IndexStore.ensureBaseClusters(spark, dir).labels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(baseLabels.keySet == baseIds.toSet &&
      baseLabels.values.toSet == Set(100L),
      s"base state must be the 54-member cluster at rep 100: $baseLabels")
    val full = DedupCluster.ddClusterCc(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val incr = DedupCluster.ddClusterIncremental(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr == full,
      s"rep drift diverged the serves: ${incr.size} vs ${full.size}")
    assert(full.keySet == pile.toSet && full.values.toSet == Set(4L),
      s"all 55 members must fold into the drifted delta rep 4: $full")
  }

  test("cluster stats partition the cluster table exactly") {
    val cc = DedupCluster.ddClusterCc(spark, sfDir)
    val stats = DedupCluster.ddClusterStats(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(stats.forall(_._1 >= 2),
      "components have at least two members by construction")
    assert(stats.map(_._3).sum == cc.count(),
      "size buckets must partition the labeled docs")
    assert(stats.forall(r => r._3 == r._1 * r._2))
  }

  test("keepbest picks the highest-stopword-density member, with " +
      "n_chars then doc_id breaking ties") {
    import spark.implicits._
    // one near-dup cluster of three: doc 21 swaps two filler words
    // for stopwords ("the of") → strictly higher stop-permille than
    // 20/22; the unrelated doc 23 forms no cluster and must not
    // appear in the output at all
    val a = baseWords.mkString(" ")
    val b = baseWords.updated(59, "the").updated(58, "of").mkString(" ")
    val c = baseWords.updated(59, "edited59").mkString(" ")
    val d = (0 until 60).map(i => s"zz$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_kb").toString
    Seq((20L, a, "s"), (21L, b, "s"), (22L, c, "s"), (23L, d, "s"))
      .toDF("doc_id", "text", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = DedupCluster.ddClusterKeepbest(spark, dir).collect()
    assert(rows.length == 1, s"expected one cluster, got ${rows.length}")
    assert(rows(0).getLong(0) == 20L, "cluster label is the min id")
    assert(rows(0).getLong(1) == 21L,
      s"keeper must be the stopword-rich member, got ${rows(0)}")
    assert(rows(0).getLong(3) == 3L, "cluster has three members")
  }

  test("keepbest agrees with the window-argmax formulation on the " +
      "test corpus") {
    val cc = DedupCluster.ddClusterCc(spark, sfDir)
    val docs = graft.core.Tables.documents(spark, sfDir)
    val toks = (length(col("text")) -
      length(translate(col("text"), " ", ""))).cast("long") + lit(1L)
    def occ(pat: String) =
      ((length(col("text")) - length(regexp_replace(col("text"),
        java.util.regex.Pattern.quote(pat), ""))) / pat.length)
        .cast("long")
    // window reference: rank members per cluster by the same key
    val q = docs.join(cc, Seq("doc_id"))
      .withColumn("stops", occ("the") + occ("and") + occ("of"))
      .withColumn("toks", toks)
      .withColumn("q_permille", expr("(1000 * stops) div toks"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("q_permille").desc, col("n_chars").desc,
        col("doc_id"))
    val ref = q.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = DedupCluster.ddClusterKeepbest(spark, sfDir)
      .select(col("cluster_id"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref,
      s"keepbest diverges from the window argmax: $got vs $ref")
    assert(got.nonEmpty, "test corpus must contain near-dup clusters")
  }
}
