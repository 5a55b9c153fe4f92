package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{DedupCluster, GraphQueries, PipelineQueries}

/** The unified maintenance entry point (VERDICT r19 task #2): one
  * `refreshAll` brings every derived serving view current and
  * invalidates the version-keyed ingest probe context — pinned
  * row-identical to the bespoke derivations it replaced, and pinned
  * against ADVICE r19's staleness bug with a planted out-of-band
  * catalog append. */
class MaintenanceSpec extends SparkSpec {

  private var plantedCreated: Option[java.nio.file.Path] = None

  override def afterAll(): Unit = {
    try plantedCreated.foreach { root =>
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(root)
      val all = try s.iterator().asScala.toSeq finally s.close()
      all.reverse.foreach(p =>
        try java.nio.file.Files.deleteIfExists(p)
        catch { case _: java.io.IOException => () })
    } finally super.afterAll()
  }

  test("refreshAll refreshes every serving view row-identical to the " +
      "bespoke derivations, bumps the version, and renews the probe " +
      "context") {
    val ctxBefore = PipelineQueries.probeCtx(spark, sfDir)
    val v0 = IndexStore.indexVersion(sfDir)
    val rep = Maintenance.refreshAll(spark, sfDir)
    assert(rep.version > v0, "refreshAll must bump the index version")
    assert(PipelineQueries.probeCtx(spark, sfDir) ne ctxBefore,
      "the probe context must be a fresh post-refresh generation")

    // graph serving views ≡ re-derivation from the maintained pairs
    val gp = IndexStore.ensureGraphEdges(spark, sfDir)
    val edges = spark.read.parquet(gp.pairs)
      .select(col("u"), col("v")).distinct()
    val adjGot = spark.read.parquet(rep.graphAdj)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val adjRef = GraphQueries.orientedAdjacency(edges)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(adjGot == adjRef, "graph_adj diverges from the oriented " +
      "adjacency of the maintained pairs table")
    val st = spark.read.parquet(rep.graphStats).head()
    assert(st.getLong(st.fieldIndex("n_nodes")) ==
      GraphQueries.nodeDegrees(edges).count() &&
      st.getLong(st.fieldIndex("n_edges")) == edges.count(),
      "graph_stats page diverges from the edge census")

    // converged base ranks ≡ the bespoke derivation
    val ranksGot = spark.read.parquet(rep.baseRanks)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ranksRef = GraphQueries.baseConvergedRanks(spark, sfDir)
      .select(col("node"), col("pr"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranksGot == ranksRef,
      "graph_base_ranks diverges from baseConvergedRanks")

    // base cluster labels ≡ the bespoke derivation
    val lblGot = spark.read.parquet(rep.baseClusterLabels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lblRef = DedupCluster.baseClusterState(spark, sfDir)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lblGot == lblRef,
      "cc_base_labels diverges from baseClusterState")
  }

  test("a refresh bumps the index version exactly once") {
    val first = Maintenance.refreshAll(spark, sfDir)
    val second = Maintenance.refreshAll(spark, sfDir)
    assert(second.version == first.version + 1,
      s"versions ${first.version} then ${second.version}")
  }

  test("a catalog append after the probe context is cached stays " +
      "invisible until the version bumps — then it gates a batch doc") {
    import spark.implicits._
    // isolated 3-doc base corpus (ids 0..2 are IndexStore.isBase
    // ids) — the shared sf corpus must not see
    // this test's out-of-band append
    def clean(tag: String) = "a the b and c " +
      (1 to 30).map(i => s"$tag$i").mkString(" ")
    val dirPath = java.nio.file.Files.createTempDirectory("graft_maint")
    plantedCreated = Some(dirPath)
    val dir = dirPath.toString
    Seq((0L, clean("b0")), (1L, clean("b1")), (2L, clean("b2")))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source",
        "CAST(length(text) AS LONG) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val newText = clean("newdoc")
    val batch = Seq((104L, newText)).toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'s' AS source")
    val noPrior = Seq.empty[String].toDF("text_md5")
    def decision(): Option[String] = {
      val r = PipelineQueries.flagBatch(spark, dir, batch, noPrior)
        .select(col("doc_id"), col("drop_reason")).collect()
      assert(r.length == 1)
      Option(r(0).getString(1))
    }

    val ctx0 = PipelineQueries.probeCtx(spark, dir)
    val n0 = ctx0.baseDigests.count()
    assert(decision().isEmpty,
      "the unseen doc must pass every gate before the append")

    // the out-of-band append a long-lived ingest service performs:
    // a new base doc's digest lands in the catalog's digest table
    val newMd5 = batch.select(md5(col("text"))).head().getString(0)
    Seq(("base", 9999L, "s", newMd5))
      .toDF("split", "doc_id", "source", "text_md5")
      .write.mode("append").partitionBy("split")
      .parquet(IndexStore.ensureCatalog(spark, dir).digests)

    // ADVICE r19's bug, demonstrated: same version → same cached
    // generation → the appended digest is invisible
    assert(PipelineQueries.probeCtx(spark, dir) eq ctx0,
      "unchanged version must serve the cached generation")
    assert(decision().isEmpty,
      "the stale generation cannot see the appended digest")

    // the fix: the version bump (what refreshAll issues) renews the
    // generation, and the batch doc now gates as an exact duplicate
    IndexStore.bumpVersion(dir)
    val ctx1 = PipelineQueries.probeCtx(spark, dir)
    assert(ctx1 ne ctx0)
    assert(ctx1.baseDigests.count() == n0 + 1,
      "the renewed generation must include the appended digest")
    assert(decision().contains("exact_dup"),
      "the appended digest must gate the batch doc")
  }
}
