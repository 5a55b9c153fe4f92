package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Derived, Tables}

/** Near-duplicate CLUSTERING for the training-data pipeline: the step
  * after pair detection — fold near-dup pairs into connected
  * components so each cluster keeps one representative (the standard
  * MinHash→LSH→CC dedup flow, cf. the public descriptions of
  * C4/RefinedWeb-style corpus dedup).
  *
  * Algorithm: LSH candidate pairs (8 bands × 4 rows — steeper recall
  * curve at J≥0.85 than the 4×8 layout used for top-k search) →
  * exact Jaccard filter ≥ 0.85 → iterative min-label propagation to
  * a fixpoint. Iteration control lives on the driver (one summed
  * label per iteration); label state stays distributed, and each
  * iteration is one equi-join + one map-side-combinable groupBy on
  * fixed-width long keys. Near-dup components have tiny diameters, so
  * convergence is 2-4 iterations; the `localCheckpoint` per round
  * cuts the otherwise-exponential lineage (r3 lesson).
  *
  * At 100 TB: candidate generation shuffles only (band, bhash, id)
  * longs; label propagation shuffles (id, lbl) longs — both minimal.
  * The driver sees ONE scalar per iteration (the label sum), never
  * data.
  *
  * Oracle: DuckDB recursive-CTE transitive closure over the exact
  * all-pairs edge set — full-recall candidate generation on the
  * oracle corpus is part of the contract (deterministic hashes make
  * it stable).
  */
object DedupCluster {
  type Q = (SparkSession, String) => DataFrame

  /** One clustering per dataset ([[graft.core.Derived.Memo]]): the
    * cluster table feeds both dd_cluster_cc and dd_cluster_dedup — the
    * computation is identical and deterministic, so re-running it per
    * query would only double bench/verify wall time (same pattern as
    * the shared trained model in MlQueries). */
  private val clusters = Derived.Memo[DataFrame]("dd_clusters")

  def ddClusterCc(s: SparkSession, dir: String): DataFrame =
    clusters(s, dir)(computeClusterCc(s, dir))

  private val maxIters = 20

  private def computeClusterCc(s: SparkSession, dir: String): DataFrame = {
    val thresh = 0.85
    // Shared shingle/LSH machinery (SimilarityQueries): 8 bands × 4
    // rows — steeper recall at J≥0.85 than the 4×8 search layout —
    // and star-connected hot buckets, so huge duplicate clusters
    // stay CONNECTED (bounded O(n) candidates) instead of silently
    // surviving dedup under a drop-the-bucket cap.
    val docs = SimilarityQueries.hashedShingleDocs(s, dir)
    val cand = SimilarityQueries.lshCandidatePairs(s, dir, docs,
      nHashes = 32, bands = 8, maxBucket = 50, starHotBuckets = true)
    val pairs = SimilarityQueries.jaccardPairs(docs, cand)
      .filter(col("jaccard") >= thresh)
      .select(col("id_a"), col("id_b"))
    // LAZY checkpoints (r22): the fixpoint's first convergence-sum
    // action materializes init — and edges through it — in ONE job;
    // eager checkpoints here cost two extra scheduler round-trips
    // before the loop can start. Blocks persist identically once
    // materialized (the loop's joins read them every iteration).
    val edges = pairs
      .union(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst")
      .localCheckpoint(false)
    // Init fused with the first propagation step: edges carry both
    // directions, so grouping by src enumerates every labeled node
    // AND applies one round of min(self, neighbors) in the same
    // shuffle — typical near-dup components (size 2) converge here,
    // making the loop below a single confirming pass.
    val init = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("lbl"))
      .select(col("src").as("id"), col("lbl"))
      .localCheckpoint(false)
    minLabelFixpoint(edges, init)
  }

  /** Min-label propagation to fixpoint from an explicit initial
    * labeling (shared by the cold start above and the warm-started
    * [[ddClusterIncremental]]): labels only decrease, so the label
    * sum is a monotone convergence witness — one scalar per
    * iteration reaches the driver, never data. The fixpoint (each
    * node = its component's min id) is UNIQUE, so any valid init
    * yields the same answer; a warm init only changes how many
    * rounds the loop needs. */
  private def minLabelFixpoint(edges: DataFrame,
      init: DataFrame): DataFrame = {
    // coalesce makes the empty edge set (a corpus with no near-dups)
    // a first-class case — sum over zero rows is null, and the
    // correct answer is an empty cluster table, not an NPE.
    def lblSum(lbls: DataFrame): Long = lbls
      .agg(coalesce(sum(col("lbl")), lit(0L))).head().getLong(0)
    var labels = init
    var prevSum = lblSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val nbrMin = edges
        .join(labels, edges("src") === labels("id"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("nlbl"))
      val prev = labels
      labels = labels
        .join(nbrMin, labels("id") === nbrMin("dst"), "left")
        .select(col("id"), least(col("lbl"),
          coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        // LAZY checkpoint (r22): the convergence-sum action below is
        // the first consumer, so it materializes the iterate's blocks
        // in the SAME job — one scheduler round-trip per iteration
        // instead of checkpoint-job + sum-job (this loop is
        // job-latency-bound at bench scale; at cluster scale the
        // fused action simply rides the iterate's own shuffle)
        .localCheckpoint(false)
      val sumNow = lblSum(labels)
      // the superseded iterate's checkpoint blocks are dead the
      // moment the new one is MATERIALIZED (the sum above — under a
      // lazy checkpoint the join still reads prev's blocks during
      // that materialization, so the free must come after it; storage
      // otherwise holds every iterate until driver GC, the g5b
      // convergedRanks discipline; this takes ownership of the
      // caller-built init checkpoint too)
      org.apache.spark.sql.GraftSqlShims.unpersistLocalCheckpoint(prev)
      converged = sumNow == prevSum
      prevSum = sumNow
      iter += 1
    }
    if (!converged) {
      // A component with diameter > maxIters (a long drift chain)
      // would return non-minimal labels; make that loud instead of
      // shipping a silently-partial clustering. Free the loop's live
      // state first (ADVICE r21): nothing will ever read the last
      // iterate or the caller-built edges checkpoint after the throw,
      // and leaked blocks would pin executor storage for the rest of
      // the session.
      org.apache.spark.sql.GraftSqlShims.unpersistLocalCheckpoint(labels)
      org.apache.spark.sql.GraftSqlShims.unpersistLocalCheckpoint(edges)
      throw new IllegalStateException(
        s"dd_cluster: label propagation did not converge within " +
          s"$maxIters iterations — component diameter exceeds the cap")
    }
    // every caller builds the bidirectional edge checkpoint solely
    // for this loop; the converged labels read only their own final
    // checkpoint, so the edge blocks are dead — free them eagerly
    org.apache.spark.sql.GraftSqlShims.unpersistLocalCheckpoint(edges)
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
  }

  /** Candidate pairs from a persisted (doc_id, band, bhash) banded
    * table — [[SimilarityQueries.lshCandidatePairs]]'s policy over
    * the index instead of an in-plan banding: all-pairs within small
    * buckets (2..maxBucket), star edges (min-id rep ↔ member) over
    * hot buckets. With `probe` set, small-bucket pairs are
    * restricted to pairs whose LEFT side satisfies it (the
    * delta-touching subset — base-base pairs come from the persisted
    * base edge set) and stars are emitted only for probe-touched hot
    * buckets (an untouched bucket's membership did not change, so
    * the base edges already encode its policy). Pairs are unordered
    * (id_a < id_b). */
  private def bandedCandidates(cb: DataFrame, maxBucket: Int,
      probe: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column],
      statsOpt: Option[DataFrame] = None): DataFrame = {
    // census from the additively-maintained index sidecar when the
    // caller has one (the serve path — count and min-rep are both
    // mergeable, so re-summing the ≤2 partial rows per bucket
    // replaces a full banded-table groupBy); derived in-plan
    // otherwise (the base build, whose census must cover base rows
    // only)
    val stats = statsOpt.getOrElse(
      cb.groupBy(col("band"), col("bhash"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("rep")))
    val small = cb.join(
      stats.filter(col("n") >= 2 && col("n") <= maxBucket)
        .select("band", "bhash"),
      Seq("band", "bhash"))
    val left = probe.fold(small)(p => small.filter(p(col("doc_id"))))
    val allPairs = left
      .select(col("doc_id").as("da"), col("band"), col("bhash"))
      .join(small.select(col("doc_id").as("db"), col("band"),
        col("bhash")), Seq("band", "bhash"))
      .filter(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"))
    val hot = stats.filter(col("n") > maxBucket)
      .select(col("band"), col("bhash"), col("rep"))
    val hotSel = probe.fold(hot)(p => hot.join(
      cb.filter(p(col("doc_id"))).select("band", "bhash").distinct(),
      Seq("band", "bhash")))
    val star = cb.join(hotSel, Seq("band", "bhash"))
      .filter(col("doc_id") =!= col("rep"))
      .select(least(col("rep"), col("doc_id")).as("id_a"),
        greatest(col("rep"), col("doc_id")).as("id_b"))
    allPairs.unionByName(star).distinct()
  }

  /** Exact-Jaccard verification of banded candidates against the
    * persisted shingle fingerprint store. */
  private def verifiedEdges(s: SparkSession, shinglesPath: String,
      cand: DataFrame): DataFrame = {
    graft.functions.JaccardSim.ensureRegistered(s)
    val fp = s.read.parquet(shinglesPath)
    cand
      .join(fp.select(col("doc_id").as("id_a"), col("hs").as("hs_a")),
        "id_a")
      .join(fp.select(col("doc_id").as("id_b"), col("hs").as("hs_b")),
        "id_b")
      .filter(call_function("jaccard_sim", col("hs_a"), col("hs_b"))
        >= 0.85)
      .select(col("id_a"), col("id_b"))
  }

  /** Base-split cluster state for
    * [[graft.sources.IndexStore.ensureBaseClusters]]: the verified
    * near-dup edge set and the converged min labels over the BASE
    * docs alone, both derived from the persisted MinHash index
    * (cluster-layout bands + fingerprints). */
  private[graft] def baseClusterState(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val M = graft.sources.IndexStore.TrgmDeltaMod
    val mh = graft.sources.IndexStore.ensureMinhash(s, dir)
    val cbBase = s.read.parquet(mh.cbands)
      .filter(pmod(col("doc_id"), lit(M.toLong)) < M - 1)
    // LAZY checkpoints (r22, same as computeClusterCc): the
    // fixpoint's first sum action materializes init → edges2 → edges
    // in one job instead of three sequential checkpoint jobs; edges'
    // blocks stay persisted for the caller's index write.
    val edges = verifiedEdges(s, mh.shingles,
      bandedCandidates(cbBase, maxBucket = 50, probe = None))
      .localCheckpoint(false) // feeds the label propagation AND the write
    val edges2 = edges
      .union(edges.select(col("id_b"), col("id_a")))
      .toDF("src", "dst").localCheckpoint(false)
    val init = edges2.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("lbl"))
      .select(col("src").as("id"), col("lbl"))
      .localCheckpoint(false)
    (minLabelFixpoint(edges2, init), edges)
  }

  /** INCREMENTAL clustering — the index-maintenance discipline
    * applied to connected components (the m11/g5c story for the
    * dedup family): when the delta docs arrive, near-dup clusters
    * are not re-derived from a full-corpus band self-join; the serve
    *   1. probes the persisted cluster-layout band index for
    *      candidate pairs TOUCHING the delta (small buckets:
    *      delta×any pairs; delta-touched hot buckets: min-id stars
    *      over all members — an untouched bucket's edges are already
    *      in the base state),
    *   2. verifies them by exact Jaccard over the persisted
    *      fingerprints,
    *   3. unions the persisted base edge set, and
    *   4. WARM-STARTS min-label propagation from the persisted base
    *      labels (delta nodes start as themselves).
    * The min-label fixpoint is UNIQUE per edge set, and at oracle
    * scale the probed-candidate union equals the scan twin's full
    * candidate set, so the output is row-identical to dd_cluster_cc
    * and shares its recursive-CTE transitive-closure oracle — one
    * hash compare certifies the persisted bands, fingerprints, base
    * edges, base labels, AND the warm-start propagation.
    *
    * Rep-drift caveat (ADVICE r18): the base edge set anchored its
    * hot-bucket stars at BASE-split reps; after the delta append a
    * hot bucket's min-id rep can move to a delta doc, so this serve's
    * star edges (anchored at the merged rep) are a strict SUPERSET of
    * what a from-scratch dd_cluster_cc pass would emit for that
    * bucket — both anchors stay inside the bucket, so wherever the
    * star policy reaches full recall (every bucket member genuinely
    * near-dups the rep, the regime the policy is designed for and the
    * regime at oracle scale) the verified edge sets induce the same
    * components and the shared oracle holds; under partial recall the
    * two-anchor union can only CONNECT more true near-dups, never
    * fewer. */
  def ddClusterIncremental(s: SparkSession, dir: String): DataFrame = {
    val M = graft.sources.IndexStore.TrgmDeltaMod
    val st = graft.sources.IndexStore.ensureBaseClusters(s, dir)
    val mh = graft.sources.IndexStore.ensureMinhash(s, dir)
    def isDelta(c: org.apache.spark.sql.Column) =
      pmod(c, lit(M.toLong)) === M - 1
    val cb = s.read.parquet(mh.cbands)
    val mergedStats = s.read.parquet(mh.cstats)
      .groupBy(col("band"), col("bhash"))
      .agg(sum(col("n")).cast("long").as("n"), min(col("rep")).as("rep"))
    val newEdges = verifiedEdges(s, mh.shingles,
      bandedCandidates(cb, maxBucket = 50, probe = Some(isDelta),
        statsOpt = Some(mergedStats)))
    val edges = s.read.parquet(st.edges)
      .unionByName(newEdges).distinct()
    // LAZY checkpoints (r22, same as computeClusterCc): the
    // fixpoint's first sum action materializes init → edges2 in one
    // job instead of two sequential checkpoint jobs before the loop.
    val edges2 = edges
      .union(edges.select(col("id_b"), col("id_a")))
      .toDF("src", "dst").localCheckpoint(false)
    val baseLbl = s.read.parquet(st.labels)
    val init = edges2.select(col("src").as("id")).distinct()
      .join(baseLbl.withColumnRenamed("doc_id", "id")
        .withColumnRenamed("cluster_id", "base_lbl"), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("base_lbl"), col("id")).as("lbl"))
      .localCheckpoint(false)
    minLabelFixpoint(edges2, init)
  }

  /** The end step of fuzzy dedup: drop every non-representative
    * cluster member, keep the rest of the corpus; per-source census
    * of the kept set. The duplicate list is the cluster table minus
    * its representatives — tiny relative to the corpus, so the
    * left-anti join broadcasts at any scale (only near-DUPLICATES
    * are enumerated, never the corpus). */
  def ddClusterDedup(s: SparkSession, dir: String): DataFrame = {
    val dups = ddClusterCc(s, dir)
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id"))
    Tables.documents(s, dir)
      .join(broadcast(dups), Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"))
  }

  /** Quality-aware canonical selection — the keeper step real corpus
    * dedup runs AFTER clustering: [[ddClusterDedup]] keeps the
    * min-id representative (the cheap convention); production
    * pipelines keep each cluster's BEST member (highest quality,
    * e.g. the RefinedWeb/FineWeb keep-one-per-cluster step). Keeper
    * order is (stopword-permille desc, n_chars desc, doc_id asc) —
    * all exact integers, so the argmax is a data property both
    * engines replay: the quality key is the [[TextQueries
    * .tQualityScore]] stopword-density heuristic quantized to
    * permille by integer division.
    *
    * 100 TB shape: the cluster table is only the near-DUPLICATE
    * membership (tiny vs the corpus), so the documents join
    * broadcasts the clusters and only member rows reach the argmax;
    * the argmax itself is one map-side-combinable max(struct) — no
    * window, no sort. */
  def ddClusterKeepbest(s: SparkSession, dir: String): DataFrame = {
    import TextQueries.{occurrences => occ, spaceCount}
    val cc = ddClusterCc(s, dir)
    val toks = spaceCount(col("text")) + 1L
    val stops = occ(col("text"), "the") + occ(col("text"), "and") +
      occ(col("text"), "of")
    Tables.documents(s, dir)
      .join(broadcast(cc), Seq("doc_id"))
      .select(col("cluster_id"), col("doc_id"), col("n_chars"),
        stops.as("stops"), toks.as("toks"))
      .withColumn("q_permille", expr("(1000 * stops) div toks"))
      .groupBy(col("cluster_id"))
      .agg(
        max(struct(col("q_permille"), col("n_chars"),
          (-col("doc_id")).as("neg_id"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), (-col("best.neg_id")).as("doc_id"),
        col("best.q_permille").as("q_permille"), col("n_members"))
  }

  /** Cluster-size distribution — the dedup REPORT a corpus pipeline
    * prints (how many pairs, triples, 600-member piles): per
    * distinct component size, the number of components and the
    * documents they hold. Two tiny map-side-combined aggregates over
    * the memoized cluster table; components have ≥2 members by
    * construction (labels exist only for edge endpoints). */
  def ddClusterStats(s: SparkSession, dir: String): DataFrame =
    ddClusterCc(s, dir)
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  val queries: Map[String, Q] = Map(
    "dd_cluster_cc" -> (ddClusterCc _),
    "dd_cluster_stats" -> (ddClusterStats _),
    "dd_cluster_incremental" -> (ddClusterIncremental _),
    "dd_cluster_dedup" -> (ddClusterDedup _),
    "dd_cluster_keepbest" -> (ddClusterKeepbest _)
  )

  /** Transitive closure over the exact all-pairs edge set — the
    * shared base of the cluster oracles (and, since r18, of the
    * pipe_corpus_build funnel oracle). */
  private[operators] val ccCte =
    """WITH RECURSIVE
      |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id,
      |        list_distinct(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
      |          i -> array_to_string(w[i:i+2], ' '))) AS g
      |      FROM w),
      |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib
      |      FROM g a JOIN g b ON a.doc_id < b.doc_id
      |      WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |              / len(list_distinct(list_concat(a.g, b.g))) >= 0.85),
      |e AS (SELECT ia AS s, ib AS d FROM p
      |      UNION ALL SELECT ib, ia FROM p),
      |reach AS (
      |  SELECT s, d FROM e
      |  UNION
      |  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s),
      |lbl AS (SELECT s AS doc_id, least(s, min(d)) AS cluster_id
      |        FROM reach GROUP BY s)""".stripMargin

  val oracle: Map[String, String] = Map(
    "dd_cluster_cc" ->
      (ccCte + "\nSELECT doc_id, cluster_id FROM lbl"),
    // the incremental serve converges to the SAME unique min-label
    // fixpoint — sharing the exact transitive-closure oracle is the
    // whole certification: persisted bands, fingerprints, base
    // edges/labels, and the warm-start propagation all verify in
    // one hash compare
    "dd_cluster_incremental" ->
      (ccCte + "\nSELECT doc_id, cluster_id FROM lbl"),
    "dd_cluster_stats" -> (ccCte + """,
      |sz AS (SELECT cluster_id, count(*) AS cluster_size
      |       FROM lbl GROUP BY cluster_id)
      |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
      |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
      |FROM sz GROUP BY cluster_size""".stripMargin),
    "dd_cluster_dedup" -> (ccCte +
      """
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept
        |FROM documents
        |WHERE doc_id NOT IN
        |  (SELECT doc_id FROM lbl WHERE cluster_id <> doc_id)
        |GROUP BY source""".stripMargin),
    // the SEMANTIC argmax (window sort per cluster); the engine runs
    // one max(struct) aggregate — hash equality pins the
    // reformulation. Stop counts are literal-replace arithmetic:
    // each /len term is integer-valued, so the BIGINT cast is exact.
    "dd_cluster_keepbest" -> (ccCte +
      """,
        |q AS (SELECT lbl.cluster_id, d.doc_id, d.n_chars,
        |  CAST((length(text) - length(replace(text, 'the', ''))) / 3
        |     + (length(text) - length(replace(text, 'and', ''))) / 3
        |     + (length(text) - length(replace(text, 'of', ''))) / 2
        |    AS BIGINT) AS stops,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1
        |    AS BIGINT) AS toks
        |  FROM documents d JOIN lbl ON d.doc_id = lbl.doc_id),
        |r AS (SELECT cluster_id, doc_id,
        |        (1000 * stops) // toks AS q_permille,
        |        CAST(count(*) OVER (PARTITION BY cluster_id)
        |          AS BIGINT) AS n_members,
        |        row_number() OVER (PARTITION BY cluster_id
        |          ORDER BY (1000 * stops) // toks DESC,
        |            n_chars DESC, doc_id) AS rn
        |      FROM q)
        |SELECT cluster_id, doc_id, q_permille, n_members
        |FROM r WHERE rn = 1""".stripMargin)
  )
}
