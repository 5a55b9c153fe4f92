package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

/** Storage-layout posture tests: partitioned writes (partition
  * pruning) and bucketed tables (co-located, shuffle-free joins) —
  * the two layout levers a 100 TB deployment lives on.
  */
class LayoutSpec extends SparkSpec {

  test("partitionBy layout prunes partitions on read") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_part").toString
    Tables.documents(spark, sfDir)
      .write.partitionBy("lang").mode("overwrite").parquet(tmp)
    val pruned = spark.read.parquet(tmp).filter(col("lang") === "en")
    val expected = Tables.documents(spark, sfDir)
      .filter(col("lang") === "en").count()
    assert(pruned.count() == expected)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      s"expected partition filter in:\n$plan")
  }

  test("bucketed tables join without a shuffle exchange") {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    Tables.orders(spark, sfDir)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("orders_b")
    Tables.lineitem(spark, sfDir)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("lineitem_b")
    val joined = spark.table("orders_b")
      .join(spark.table("lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    // The join itself must consume the bucketing: no Exchange between
    // the scans and the join (the post-agg exchange is fine).
    val joinSection = plan.split("HashAggregate").head
    assert(!joinSection.contains("Exchange"),
      s"bucketed join should be shuffle-free:\n$plan")
    // Sanity: same result as the plain join.
    val expected = RelationalQueries.j2InnerBig(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = joined.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("registered l4_partition_pruned shows PartitionFilters in plan") {
    val q = graft.sources.LayoutQueries.l4PartitionPruned(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      s"expected partition filter in:\n$plan")
    // semantics-preserving vs the unpartitioned source
    val row = q.collect().head
    val src = Tables.documents(spark, sfDir).filter(col("lang") === "en")
    assert(row.getAs[Long]("n_docs") == src.count())
  }

  test("registered l5_manifest_skip prunes files and stays exact") {
    val q = graft.sources.LayoutQueries.l5ManifestSkip(spark, sfDir)
    val row = q.collect().head
    val expected = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey").between(1000, 5000))
      .agg(count(lit(1)),
        sum(round(col("o_totalprice") * 100).cast("long"))).head()
    assert(row.getLong(0) == expected.getLong(0))
    assert(row.getLong(1) == expected.getLong(1))
    // the manifest must actually prune: candidate files ⊂ all files
    val layout = graft.sources.LayoutQueries
      .layoutPath(sfDir, "orders_clustered")
    val m = graft.sources.DataSkipping
      .buildManifest(spark, layout, "o_orderkey")
    val cand = graft.sources.DataSkipping.candidateFiles(m, 1000L, 5000L)
    assert(cand.nonEmpty && cand.size < m.count(),
      s"manifest should prune: ${cand.size}/${m.count()} files touched")
  }

  test("compaction bounds file sizes and splits exactly at the target") {
    import spark.implicits._
    // Corpus forcing real splits: 450 rows of one source, 120 of
    // another -> ceil(450/200)=3 and ceil(120/200)=1 files.
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_compact").toString
    ((1 to 450).map(i => (i.toLong, s"text $i", "en", "srcA")) ++
      (1 to 120).map(i => (500L + i, s"text $i", "en", "srcB")))
      .toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source",
        "CAST(length(text) AS LONG) AS n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.sources.LayoutQueries.l9Compaction(spark, tmp)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(got("srcA") == ((450L, 3L)), s"srcA must split: $got")
    assert(got("srcB") == ((120L, 1L)), s"srcB must not: $got")
    // the fragmented precursor really was the small-files shape
    val frag = new java.io.File(graft.sources.LayoutQueries
      .layoutPath(tmp, "documents_fragmented"))
    val nFrag = frag.listFiles().count(f =>
      f.isFile && f.getName.startsWith("part-"))
    assert(nFrag > 10, s"fragmented copy should be many files, got $nFrag")
  }

  test("z-order makes the SECONDARY column prunable; linear clustering doesn't") {
    // Materialize both layouts, then compare what the same custkey
    // range can prune: the orderkey-clustered copy (l5) gives every
    // file the full custkey span -> no pruning; the z-clustered copy
    // boxes both dimensions -> real pruning.
    val zq = graft.sources.LayoutQueries.l10Zorder(spark, sfDir)
    val row = zq.collect().head
    val expected = Tables.orders(spark, sfDir)
      .filter(col("o_custkey").between(100, 300))
      .agg(count(lit(1)),
        sum(round(col("o_totalprice") * 100).cast("long"))).head()
    assert(row.getLong(0) == expected.getLong(0))
    assert(row.getLong(1) == expected.getLong(1))
    graft.sources.LayoutQueries.l5ManifestSkip(spark, sfDir).collect()
    def layout(name: String) =
      graft.sources.LayoutQueries.layoutPath(sfDir, name)
    val zManifest = graft.sources.DataSkipping
      .buildManifest(spark, layout("orders_zorder"), "o_custkey")
    val zCand = graft.sources.DataSkipping
      .candidateFiles(zManifest, 100L, 300L)
    val zTotal = zManifest.count()
    assert(zCand.nonEmpty && zCand.size * 2 <= zTotal,
      s"z-order should prune at least half the files for a ~13% " +
        s"custkey band: ${zCand.size}/$zTotal")
    val linManifest = graft.sources.DataSkipping
      .buildManifest(spark, layout("orders_clustered"), "o_custkey")
    val linCand = graft.sources.DataSkipping
      .candidateFiles(linManifest, 100L, 300L)
    assert(linCand.size == linManifest.count(),
      s"orderkey-clustered layout must NOT prune on custkey " +
        s"(that's the gap z-order closes): ${linCand.size}/${linManifest.count()}")
  }

  test("IVF ANN probes beat random: high overlap with brute force") {
    val brute = SimilarityQueries.simBruteTopK(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val ivf = SimilarityQueries.simIvfAnn(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(ivf.nonEmpty)
    // nprobe=2/16 on random vectors: expect meaningful recall, not
    // necessarily full.
    assert((brute intersect ivf).nonEmpty,
      s"IVF found none of the brute-force top-k: $ivf vs $brute")
  }
}
