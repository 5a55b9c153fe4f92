package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Derived, Tables}

/** The composed corpus-construction pipeline — the end product every
  * individual dd_*, t_*, and l* operator exists to serve, run as ONE
  * registered query: a training corpus is built by chaining language
  * identification, quality gating, exact deduplication, near-dup
  * cluster deduplication, benchmark decontamination, and per-domain
  * quota capping (the C4/Gopher/RefinedWeb-style funnel), and what a
  * pipeline owner actually monitors is the FUNNEL — how many
  * documents and tokens each stage dropped.
  *
  * [[pipeCorpusBuild]] emits one row per stage: (stage_ord, stage,
  * n_docs, sum_tokens, id_digest). `id_digest` is a commutative
  * multiset digest — Σ (md5-60(doc_id) mod [[DigestMod]]) over the
  * stage's survivor set — so the oracle hash-verifies stage
  * MEMBERSHIP, not just its cardinality: two wrong drops that cancel
  * in count and token sum still flip the digest. The mod keeps the
  * sum far from long overflow at any corpus size (raw 60-bit terms
  * would overflow past ~8 rows).
  *
  * Stage semantics (each over the previous stage's survivors):
  *   0 raw      — the corpus.
  *   1 lang     — the [[TextQueries.corpusClean]] English-evidence
  *                gate (padded ' the '/' and ' occurrences > 0).
  *   2 quality  — n_tokens ≥ 20 and stopword-ratio < 0.5 (same
  *                arithmetic as corpusClean, stop terms the/and/of).
  *   3 exact    — keep the min doc_id per text digest among stage-2
  *                survivors (ddExactRows' deterministic convention).
  *   4 neardup  — drop non-representative members of the corpus
  *                near-dup clusters ([[DedupCluster.ddClusterCc]],
  *                memoized; clusters are a property of the corpus,
  *                so membership is computed once, full-corpus).
  *   5 decon    — drop the held-out eval docs (doc_id % 17 == 0, the
  *                t_decontaminate convention) and every training doc
  *                sharing a word 13-gram with them.
  *   6 quota    — at most [[TextQueries.DomainQuota]] docs per
  *                source, by the portable-hash draw (the l13 cap) on
  *                the custom bounded-heap TopKPerGroup path.
  *
  * 100 TB shape: the corpus projection that feeds every stage is one
  * slim scan (doc_id, source, digest, three integer text metrics —
  * text itself is dropped at the scan); the gates are map-side
  * filters; exact dedup is one digest-keyed shuffle; near-dup and
  * decon drops are broadcast anti-joins of the (tiny) drop lists the
  * memoized cluster/contamination derivations produce; the quota is
  * the bounded-heap operator (≤ quota rows per domain per map task);
  * and each funnel row is a map-side-combined 1-row aggregate. A
  * real pipeline materializes survivors between stages —
  * [[localCheckpoint]] on the shared base plays that role here.
  */
object PipelineQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Modulus for the per-stage membership digest (a prime well under
    * 2³¹, so a billion-document stage sum stays under 2⁶⁰). */
  val DigestMod = 1000000007L

  /** The slim seven-column corpus projection every pipeline stage
    * reads — digest, token/stop/English-evidence counts (the
    * TextQueries arithmetic, shared so the funnel and the delta
    * ingest can never diverge from each other or the gates'
    * oracles), and the portable draw hash. */
  private def gateProjection(docs: DataFrame): DataFrame = {
    import TextQueries.{occurrences => occ, spaceCount}
    val text = col("text")
    docs.select(col("doc_id"), col("source"),
      md5(text).as("text_md5"),
      (spaceCount(text) + 1L).as("n_tokens"),
      (occ(text, "the") + occ(text, "and") + occ(text, "of"))
        .as("stops"),
      (occ(text, " the ") + occ(text, " and ")).as("en"),
      graft.core.PortableHash.md5Hash60(col("doc_id")).as("h"))
  }

  /** One contamination drop-list per (application, corpus) — the
    * [[DedupCluster.ddClusterCc]] memoization contract applied to the
    * OTHER corpus-property derivation the funnel chains: the
    * contaminated set is a pure, deterministic function of the corpus
    * (held-out split = doc_id % 17, grams of fixed width), so the
    * pipeline's decon stage shares one derivation per (application,
    * corpus) instead of re-shingling every document's 13-grams on
    * every funnel invocation. The DECLARED t_decontaminate query is
    * untouched (it recomputes fresh per invocation — the scan-twin
    * contract); only this pipeline consumer of its doc_id drop list
    * is memoized, exactly like the cluster drop list it sits next to
    * in [[pipeCorpusBuild]] ([[graft.core.Derived.Memo]]). */
  private val deconDrops = Derived.Memo[DataFrame]("pipe_decon_drops")

  private def contaminatedIds(s: SparkSession, dir: String): DataFrame =
    deconDrops(s, dir)(
      TextQueries.tDecontaminate(s, dir)
        .select(col("doc_id")).localCheckpoint())

  def pipeCorpusBuild(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val base = gateProjection(
        Tables.fanOut(Tables.documents(s, dir), "doc_id"))
      .transform(Derived.slot("pipe_base", s, dir))
      // the staged-materialization point: all six
                         // stage chains and seven funnel aggregates
                         // re-read this slim projection, never the
                         // corpus
    val s1 = base.filter(col("en") > 0)
    val s2 = s1.filter(col("n_tokens") >= 20 &&
      col("stops").cast("double") / col("n_tokens") < 0.5)
    val s3 = s2.join(
      s2.groupBy(col("text_md5")).agg(min(col("doc_id")).as("doc_id")),
      Seq("text_md5", "doc_id"))
    val dups = DedupCluster.ddClusterCc(s, dir)
      .filter(col("cluster_id") =!= col("doc_id")).select(col("doc_id"))
    val s4 = s3.join(broadcast(dups), Seq("doc_id"), "left_anti")
    val contaminated = contaminatedIds(s, dir)
    val s5 = s4.filter(col("doc_id") % 17 =!= 0)
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    val s6 = graft.plans.TopKPerGroup(s5, Seq("source"), "h",
      descending = false, Seq("doc_id"), TextQueries.DomainQuota)
    def funnelRow(ord: Int, name: String, df: DataFrame): DataFrame =
      df.agg(
        count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).cast("long")
          .as("sum_tokens"),
        coalesce(sum(col("h") % DigestMod), lit(0L)).cast("long")
          .as("id_digest"))
        .select(lit(ord).as("stage_ord"), lit(name).as("stage"),
          col("n_docs"), col("sum_tokens"), col("id_digest"))
    funnelRow(0, "raw", base)
      .unionByName(funnelRow(1, "lang", s1))
      .unionByName(funnelRow(2, "quality", s2))
      .unionByName(funnelRow(3, "exact", s3))
      .unionByName(funnelRow(4, "neardup", s4))
      .unionByName(funnelRow(5, "decon", s5))
      .unionByName(funnelRow(6, "quota", s6))
  }

  /** Per-source admit cap for one delta-ingest batch — an ingest
    * RATE cap (distinct from [[TextQueries.DomainQuota]]'s standing
    * corpus cap): no source may push more than this many docs into
    * the corpus per batch. Interpolated into the oracle. */
  val DeltaAdmitCap = 5

  /** INCREMENTAL corpus ingest — the 100 TB shape of
    * [[pipeCorpusBuild]]: a delta batch of documents arrives
    * (doc_id mod [[graft.sources.IndexStore.TrgmDeltaMod]] ==
    * TrgmDeltaMod−1, the split every index family uses) and each doc
    * gets an admit/drop DECISION against the standing corpus using
    * the PERSISTED indexes — the base corpus text is never
    * re-scanned:
    *
    *   - `lang` / `quality` — map-side gates on the delta rows (the
    *     delta IS the new data; reading it is the job);
    *   - `exact_dup` — the text digest probes the corpus CATALOG
    *     ([[graft.sources.IndexStore.ensureCatalog]]), partition-
    *     pruned to the base split; intra-batch dups collapse to the
    *     min doc_id per digest;
    *   - `near_dup` — delta signatures probe the persisted MinHash
    *     BAND index against base-split rows (hot-bucket cap shared
    *     with dd_minhash_indexed), survivors verified by exact
    *     Jaccard over the persisted shingle fingerprints;
    *   - `eval_split` / `contaminated` — the persisted 13-gram index
    *     supplies both the eval gram set and the delta docs' grams;
    *   - `quota` / `admit` — survivors enter by the portable-hash
    *     draw, at most [[DeltaAdmitCap]] per source per batch, on
    *     the bounded-heap TopKPerGroup path.
    *
    * Decisions carry FIRST-failing-stage precedence (lang > quality
    * > exact_dup > near_dup > eval_split > contaminated > quota),
    * so the output is one row per delta doc — deterministic, and the
    * oracle replays every stage from the raw corpus: a hash match
    * certifies the catalog content, the band/fingerprint index
    * content, the gram index content, and the decision logic in one
    * compare. */
  def pipeDeltaIngest(s: SparkSession, dir: String): DataFrame = {
    // read by the survivor cut AND the final assembly
    val flagged = Derived.slot("pipe_flagged", s, dir)(deltaFlagged(s, dir))
    val survivors = flagged.filter(col("drop_reason").isNull)
      .select(col("doc_id"), col("source"), col("h"))
    val admits = graft.plans.TopKPerGroup(survivors, Seq("source"),
      "h", descending = false, Seq("doc_id"), DeltaAdmitCap)
      .select(col("doc_id"))
      .withColumn("is_admit", lit(true))
    flagged.join(broadcast(admits), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("drop_reason"),
          when(col("is_admit") === true, "admit").otherwise("quota"))
          .as("decision"))
  }

  /** The per-delta-doc gate/probe stage of [[pipeDeltaIngest]],
    * BEFORE its checkpoint — the file-reading subtree, exposed so
    * PipelineQueriesSpec can assert the index discipline (catalog
    * scan pruned to split=base; band/fingerprint/gram scans come
    * from the index roots) on a plan the checkpoint would otherwise
    * truncate away. The whole-split instance of [[flaggedCore]]: the
    * target set is selected by the pushed doc_id-residue predicate,
    * and no prior-batch digest state exists (the split IS one batch). */
  private[graft] def deltaFlagged(s: SparkSession,
      dir: String): DataFrame = {
    val M = graft.sources.IndexStore.TrgmDeltaMod
    def isDelta(c: Column) = pmod(c, lit(M.toLong)) === M - 1
    val delta = gateProjection(
        Tables.documents(s, dir).filter(isDelta(col("doc_id"))))
      .transform(Derived.slot("pipe_delta", s, dir))
      // feeds digest probe, keeper census, flags
    flaggedCore(s, dir, delta,
      df => df.filter(isDelta(col("doc_id"))), priorDigests = None,
      ctx = None)
  }

  /** One STREAMING ingest micro-batch's decision flags (the
    * `stream_ingest` gate body): same probes as [[deltaFlagged]],
    * but the target set is the batch's rows (restricted into each
    * index scan by a broadcast id semi-join — a micro-batch is tiny
    * relative to the standing indexes) and the exact-dup gate also
    * consults `priorDigests`, the digests of every doc FED in earlier
    * batches of the run — the cross-batch state a real ingest keeps
    * by appending each batch to the catalog's delta partition (kept
    * as a frame here so the gate run never mutates the shared
    * persisted catalog other queries serve from). Fed doc_id-
    * ascending, batch-local keeper + prior-digest membership compose
    * to exactly the whole-split min-doc_id keeper semantics, which is
    * what lets the stream's decisions be compared byte-for-byte
    * against [[pipeDeltaIngest]]'s.
    *
    * NEW-DOC SAFE (r20, closing the ADVICE r19 finding): the batch
    * docs' MinHash shingles/bands and 13-grams are computed FROM THE
    * ARRIVING TEXT with the exact projections the index builds run
    * ([[graft.sources.IndexStore.minhashShingles]] /
    * `clusterBandsOf` / `gram13Of` — one spelling, so probe and
    * index can never diverge), never read back from the standing
    * indexes. A replayed already-indexed doc therefore probes with
    * byte-identical signatures to its indexed rows (what keeps the
    * decisions comparable to the oracle-certified one-shot query —
    * StreamIngestSpec pins the equality), and a GENUINELY NEW doc_id
    * gets real near-dup/contamination screening against the standing
    * base instead of sailing through (StreamIngestSpec plants
    * exactly that). The standing indexes provide only the BASE side
    * of every probe; the gate's base-split digest restriction stays
    * (a production ingest would widen it to all standing splits +
    * the catalog's appended deltas). */
  private[graft] def flagBatch(s: SparkSession, dir: String,
      batchDocs: DataFrame, priorDigests: DataFrame): DataFrame = {
    // slot-keyed checkpoints: one ingest batch's probe state is dead
    // the moment the next batch's is materialized (batches are
    // strictly sequential), so each generation frees the previous —
    // a 10-batch gate run used to leak 30 checkpoints
    val proj =
      Derived.slot("flagbatch_proj", s, dir)(gateProjection(batchDocs))
    val sh = Derived.slot("flagbatch_sh", s, dir)(
      graft.sources.IndexStore.minhashShingles(s, batchDocs))
      // feeds bands AND the fingerprint verify
    val batch = BatchSignatures(
      bands = graft.sources.IndexStore.clusterBandsOf(sh),
      fps = sh.select(col("doc_id"), col("hs")),
      grams = Derived.slot("flagbatch_grams", s, dir)(
        graft.sources.IndexStore.gram13Of(batchDocs)))
    val ids = proj.select(col("doc_id"))
    flaggedCore(s, dir, proj,
      df => df.join(broadcast(ids), Seq("doc_id")),
      priorDigests = Some(priorDigests),
      ctx = Some(probeCtx(s, dir)),
      batchSide = Some(batch))
  }

  /** A micro-batch's text-computed probe signatures (see
    * [[flagBatch]]): the batch side of the near-dup candidate join
    * (`bands`), the exact-Jaccard verify (`fps`), and the
    * contamination join (`grams`). */
  private[graft] case class BatchSignatures(bands: DataFrame,
      fps: DataFrame, grams: DataFrame)

  /** Batch-invariant standing probe structures, prepared ONCE per
    * (application, corpus) — what an ingest service derives from the
    * persisted indexes at startup rather than re-aggregating inside
    * every micro-batch: the distinct base digest set, the small/hot
    * bucket census of the cluster banding, the hot buckets' min-id
    * base reps, and the eval 13-gram set. All four are index-derived,
    * tiny relative to the corpus, and eagerly materialized so a batch
    * pays only the batch-dependent joins.
    *
    * Staleness contract (ADVICE r19): the memo generation is the
    * dataset's [[graft.sources.IndexStore.indexVersion]], so any
    * index rebuild/append that goes through the ensure/refresh
    * paths — or a [[graft.sources.Maintenance.refreshAll]] after an
    * out-of-band append — makes the next probe recompute from the
    * current files instead of serving the structures of a dead index
    * generation (MaintenanceSpec plants exactly that scenario).
    * [[deltaFlagged]] deliberately does NOT use this cache: the
    * one-shot query re-reads the index files raw, so its oracle hash
    * compare certifies persisted CONTENT, and the stream-vs-twin
    * zero-mismatch gate then ties this cache to that certified
    * content. */
  private[graft] case class ProbeCtx(baseDigests: DataFrame,
      small: DataFrame, hotBaseRep: DataFrame, evalGrams: DataFrame)

  private val probeCtxs = Derived.Memo[ProbeCtx]("pipe_probe_ctx")

  private[graft] def probeCtx(s: SparkSession, dir: String): ProbeCtx = {
    // ensure the probed families BEFORE reading the version: a first
    // build bumps it, and the cached generation must carry the
    // post-build version or the very next call would spuriously miss
    val cat = graft.sources.IndexStore.ensureCatalog(s, dir)
    val mh = graft.sources.IndexStore.ensureMinhash(s, dir)
    val g13 = graft.sources.IndexStore.ensureGram13(s, dir)
    // a newer generation replaces the dead one, whose localCheckpoints
    // would otherwise stay pinned in executor storage
    probeCtxs(s, dir, gen = graft.sources.IndexStore.indexVersion(dir)) {
      val M = graft.sources.IndexStore.TrgmDeltaMod
      def isDelta(c: Column) = pmod(c, lit(M.toLong)) === M - 1
      val census = s.read.parquet(mh.cstats)
        .groupBy(col("band"), col("bhash"))
        .agg(sum(col("n")).cast("long").as("n"))
        .localCheckpoint()
      ProbeCtx(
        baseDigests = s.read.parquet(cat.digests)
          .filter(col("split") === "base")
          .select(col("text_md5")).distinct().localCheckpoint(),
        // no n ≥ 2 lower bound — singleton-BASE buckets are live
        // probe targets for text-probed NEW docs (see flaggedCore)
        small = census.filter(col("n") <= 50)
          .select("band", "bhash").localCheckpoint(),
        hotBaseRep = s.read.parquet(mh.cstats)
          .filter(!isDelta(col("rep")))
          .groupBy(col("band"), col("bhash"))
          .agg(min(col("rep")).as("b_id"))
          .join(census.filter(col("n") > 50)
            .select("band", "bhash"), Seq("band", "bhash"))
          .localCheckpoint(),
        evalGrams = s.read.parquet(g13.grams)
          .filter(col("doc_id") % 17 === 0)
          .select("g").distinct().localCheckpoint())
    }
  }

  /** The shared decision core of [[deltaFlagged]] and [[flagBatch]]:
    * flags each doc of `proj` (a [[gateProjection]]-shaped frame,
    * already checkpointed) with its first-failing-stage drop reason
    * against the standing persisted indexes. `restrict` narrows a
    * doc_id-bearing index scan to the target docs — a pushed residue
    * predicate for the whole split, a broadcast id join for a
    * micro-batch — so the probe discipline is spelled ONCE and the
    * batch and split paths can never diverge. `batchSide` (set by
    * the streaming path) replaces the d-side of the band /
    * fingerprint / gram probes with the batch's TEXT-computed
    * signatures — identical values for already-indexed docs (the
    * projections are shared with the index builds), real signatures
    * for genuinely new ones. */
  private def flaggedCore(s: SparkSession, dir: String,
      proj: DataFrame, restrict: DataFrame => DataFrame,
      priorDigests: Option[DataFrame],
      ctx: Option[ProbeCtx],
      batchSide: Option[BatchSignatures] = None): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    graft.functions.JaccardSim.ensureRegistered(s)
    val M = graft.sources.IndexStore.TrgmDeltaMod
    val cat = graft.sources.IndexStore.ensureCatalog(s, dir)
    val mh = graft.sources.IndexStore.ensureMinhash(s, dir)
    val g13 = graft.sources.IndexStore.ensureGram13(s, dir)
    def isDelta(c: Column) = pmod(c, lit(M.toLong)) === M - 1
    val delta = proj
    val baseDigests0 = ctx.fold(
      s.read.parquet(cat.digests)
        .filter(col("split") === "base")
        .select(col("text_md5")))(_.baseDigests)
    val baseDigests = priorDigests.fold(baseDigests0)(
        pd => baseDigests0.unionByName(pd))
      .distinct()
      .withColumn("in_base", lit(true))
    val keepers = delta.groupBy(col("text_md5"))
      .agg(min(col("doc_id")).as("keeper_id"))
    // near-dup probe: delta bands vs base bands off the persisted
    // CLUSTER-layout banding (8×4 — the steeper recall curve at
    // J≥0.85; an admission decision that misses a dup admits a
    // duplicate, so it gets the clustering family's layout, not the
    // top-k search one), census from the additively-maintained
    // cstats sidecar; bucket cap shared with the cluster serves
    val bands = s.read.parquet(mh.cbands)
    lazy val census = s.read.parquet(mh.cstats)
      .groupBy(col("band"), col("bhash"))
      .agg(sum(col("n")).cast("long").as("n"))
    // The small-bucket cut keeps n ≤ 50 with NO lower bound (r20):
    // for an INDEXED target doc, n ≥ 2 and n ≥ 1 generate identical
    // pairs — the doc's own membership contributes 1, and a pair
    // additionally requires a BASE co-member in the bucket join — so
    // the old n ≥ 2 was only a singleton-skip optimization; for a
    // text-probed NEW doc (absent from the census) a singleton-BASE
    // bucket (n = 1) is exactly where its nearest neighbor may live,
    // and n ≥ 2 silently dropped it.
    val small = ctx.fold(
      census.filter(col("n") <= 50)
        .select("band", "bhash"))(_.small)
    // d-side candidate bands: the restricted index scan for the
    // whole-split path, the batch's text-computed bands for the
    // streaming path (identical values for indexed docs — shared
    // projection — and the only correct source for new ones)
    val dBands = batchSide.fold(restrict(bands))(_.bands)
    val smallCand = dBands
      .select(col("doc_id").as("d_id"), col("band"), col("bhash"))
      .join(small, Seq("band", "bhash"))
      .join(bands.filter(!isDelta(col("doc_id")))
        .select(col("doc_id").as("b_id"), col("band"), col("bhash")),
        Seq("band", "bhash"))
      .select(col("d_id"), col("b_id"))
    // Hot-bucket star fallback (ADVICE r18): a bucket past the cap is
    // not silently dropped — each delta doc touching it is paired with
    // the bucket's min-id BASE member (recoverable from the per-split
    // cstats partials: a partial's rep inherits its split's doc_id
    // residue), one bounded pair per (delta doc, hot bucket), the
    // bandedCandidates star policy applied to admission. Residual
    // recall caveat: only the rep is probed, so a base near-dup that
    // is neither the rep nor a small-bucket co-member of the delta
    // doc in ANY band can still slip through — the same bounded-work
    // trade the cluster family documents; the exact-Jaccard oracle
    // certifies it costs nothing at oracle scale.
    val hotBaseRep = ctx.fold(
      s.read.parquet(mh.cstats)
        .filter(!isDelta(col("rep")))
        .groupBy(col("band"), col("bhash"))
        .agg(min(col("rep")).as("b_id"))
        .join(census.filter(col("n") > 50).select("band", "bhash"),
          Seq("band", "bhash")))(_.hotBaseRep)
    val hotCand = dBands
      .select(col("doc_id").as("d_id"), col("band"), col("bhash"))
      .join(hotBaseRep, Seq("band", "bhash"))
      .select(col("d_id"), col("b_id"))
    val cand = smallCand.unionByName(hotCand)
      .filter(col("d_id") =!= col("b_id")).distinct()
    val fp = s.read.parquet(mh.shingles)
    // d-side fingerprints for the exact-Jaccard verify: index rows
    // for the split path, the batch's text-computed shingle sets for
    // the streaming path
    val dFp = batchSide.fold(fp)(_.fps)
    val nearDup = cand
      .join(dFp.select(col("doc_id").as("d_id"), col("hs").as("hs_d")),
        "d_id")
      .join(fp.select(col("doc_id").as("b_id"), col("hs").as("hs_b")),
        "b_id")
      .filter(call_function("jaccard_sim", col("hs_d"), col("hs_b"))
        >= 0.85)
      .select(col("d_id").as("doc_id")).distinct()
      .withColumn("is_near", lit(true))
    // decontamination probe, both sides from the persisted gram index
    val grams = s.read.parquet(g13.grams)
    val evalGrams = ctx.fold(
      grams.filter(col("doc_id") % 17 === 0)
        .select("g").distinct())(_.evalGrams)
    val contaminated = batchSide.fold(restrict(grams))(_.grams)
      .filter(col("doc_id") % 17 =!= 0)
      .join(broadcast(evalGrams), "g")
      .select(col("doc_id")).distinct()
      .withColumn("is_cont", lit(true))
    delta
      .join(baseDigests, Seq("text_md5"), "left")
      .join(keepers, Seq("text_md5"))
      .join(broadcast(nearDup), Seq("doc_id"), "left")
      .join(broadcast(contaminated), Seq("doc_id"), "left")
      .withColumn("drop_reason",
        when(col("en") <= 0, "lang")
          .when(!(col("n_tokens") >= 20 &&
            col("stops").cast("double") / col("n_tokens") < 0.5),
            "quality")
          .when(col("in_base") === true ||
            col("doc_id") =!= col("keeper_id"), "exact_dup")
          .when(col("is_near") === true, "near_dup")
          .when(col("doc_id") % 17 === 0, "eval_split")
          .when(col("is_cont") === true, "contaminated"))
  }

  /** Catalog observability census: per-(split, source) doc counts
    * re-summed from the persisted catalog stats page — the m11
    * additive-census discipline. The oracle recomputes from the raw
    * corpus, so a hash match certifies the catalog build (base and
    * appended delta alike). */
  def pipeCatalogCensus(s: SparkSession, dir: String): DataFrame = {
    val cat = graft.sources.IndexStore.ensureCatalog(s, dir)
    s.read.parquet(cat.stats)
      .groupBy(col("split"), col("source"))
      .agg(sum(col("n_docs")).cast("long").as("n_docs"))
  }

  val queries: Map[String, Q] = Map(
    "pipe_corpus_build" -> (pipeCorpusBuild _),
    "pipe_delta_ingest" -> (pipeDeltaIngest _),
    "pipe_catalog_census" -> (pipeCatalogCensus _)
  )

  /** DuckDB spellings of the engine's delta-membership predicate,
    * interpolated from the SAME constant the engine splits on
    * ([[graft.sources.IndexStore.TrgmDeltaMod]]) so the oracles can
    * never silently diverge from the split. */
  private val DeltaModSql = {
    val m = graft.sources.IndexStore.TrgmDeltaMod
    s"$m = ${m - 1}"
  }
  private val DeltaNotModSql = {
    val m = graft.sources.IndexStore.TrgmDeltaMod
    s"$m <> ${m - 1}"
  }

  /** The full funnel in one DuckDB statement: the cluster closure
    * (DedupCluster's recursive CTE), the decontamination gram join
    * (raw gram strings where the engine joins 64-bit hashes — the
    * standing collision caveat), and window formulations of the
    * dedup-min and quota cuts the engine runs as one shuffle / the
    * bounded-heap operator. Hash equality certifies every stage's
    * membership via the digests. */
  val oracle: Map[String, String] = Map(
    "pipe_corpus_build" -> (DedupCluster.ccCte + s""",
      |base AS (SELECT doc_id, source, md5(text) AS text_md5,
      |  CAST(length(text) - length(replace(text, ' ', '')) + 1
      |    AS BIGINT) AS n_tokens,
      |  CAST((length(text) - length(replace(text, 'the', ''))) / 3
      |     + (length(text) - length(replace(text, 'and', ''))) / 3
      |     + (length(text) - length(replace(text, 'of', ''))) / 2
      |    AS BIGINT) AS stops,
      |  CAST((length(text) - length(replace(text, ' the ', ''))) / 5
      |     + (length(text) - length(replace(text, ' and ', ''))) / 5
      |    AS BIGINT) AS en,
      |  ${graft.core.PortableHash.duckSql("CAST(doc_id AS VARCHAR)")}
      |    AS h
      |  FROM documents),
      |s1 AS (SELECT * FROM base WHERE en > 0),
      |s2 AS (SELECT * FROM s1
      |       WHERE n_tokens >= 20
      |         AND CAST(stops AS DOUBLE) / n_tokens < 0.5),
      |s3 AS (SELECT s2.* FROM s2
      |       JOIN (SELECT text_md5, min(doc_id) AS doc_id
      |             FROM s2 GROUP BY text_md5) m
      |         ON s2.text_md5 = m.text_md5 AND s2.doc_id = m.doc_id),
      |s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN
      |        (SELECT doc_id FROM lbl WHERE cluster_id <> doc_id)),
      |dw AS (SELECT doc_id, string_split(text, ' ') AS w
      |       FROM documents),
      |dg AS (SELECT doc_id,
      |         unnest(list_distinct(list_transform(
      |           range(1, greatest(len(w) - 12, 1) + 1),
      |           i -> array_to_string(w[i:i+12], ' ')))) AS g
      |       FROM dw),
      |ev AS (SELECT DISTINCT g FROM dg WHERE doc_id % 17 = 0),
      |cont AS (SELECT DISTINCT dg.doc_id FROM dg JOIN ev USING (g)
      |         WHERE dg.doc_id % 17 <> 0),
      |s5 AS (SELECT * FROM s4
      |       WHERE doc_id % 17 <> 0
      |         AND doc_id NOT IN (SELECT doc_id FROM cont)),
      |s6 AS (SELECT * FROM
      |        (SELECT s5.*, row_number() OVER (PARTITION BY source
      |           ORDER BY h, doc_id) AS rn FROM s5)
      |       WHERE rn <= ${TextQueries.DomainQuota}),
      |funnel AS (
      |  SELECT 0 AS o, 'raw' AS stage, count(*) AS n,
      |    sum(n_tokens) AS t, sum(h % $DigestMod) AS dg FROM base
      |  UNION ALL SELECT 1, 'lang', count(*), sum(n_tokens),
      |    sum(h % $DigestMod) FROM s1
      |  UNION ALL SELECT 2, 'quality', count(*), sum(n_tokens),
      |    sum(h % $DigestMod) FROM s2
      |  UNION ALL SELECT 3, 'exact', count(*), sum(n_tokens),
      |    sum(h % $DigestMod) FROM s3
      |  UNION ALL SELECT 4, 'neardup', count(*), sum(n_tokens),
      |    sum(h % $DigestMod) FROM s4
      |  UNION ALL SELECT 5, 'decon', count(*), sum(n_tokens),
      |    sum(h % $DigestMod) FROM s5
      |  UNION ALL SELECT 6, 'quota', count(*), sum(n_tokens),
      |    sum(h % $DigestMod) FROM s6)
      |SELECT CAST(o AS INTEGER) AS stage_ord, stage,
      |  CAST(n AS BIGINT) AS n_docs,
      |  CAST(coalesce(t, 0) AS BIGINT) AS sum_tokens,
      |  CAST(coalesce(dg, 0) AS BIGINT) AS id_digest
      |FROM funnel""".stripMargin),
    // full replay of the delta-ingest decision from the raw corpus —
    // catalog probe, near-dup probe (exact all-pairs Jaccard where
    // the engine runs the banded index probe; grams joined as raw
    // strings where the engine joins 64-bit hashes — the standing
    // caveats), gram contamination, and the quota draw, with the
    // same first-failure precedence
    "pipe_delta_ingest" ->
      s"""WITH dd AS (SELECT doc_id, source, md5(text) AS text_md5,
         |  CAST(length(text) - length(replace(text, ' ', '')) + 1
         |    AS BIGINT) AS n_tokens,
         |  CAST((length(text) - length(replace(text, 'the', ''))) / 3
         |     + (length(text) - length(replace(text, 'and', ''))) / 3
         |     + (length(text) - length(replace(text, 'of', ''))) / 2
         |    AS BIGINT) AS stops,
         |  CAST((length(text) - length(replace(text, ' the ', ''))) / 5
         |     + (length(text) - length(replace(text, ' and ', ''))) / 5
         |    AS BIGINT) AS en,
         |  ${graft.core.PortableHash.duckSql("CAST(doc_id AS VARCHAR)")}
         |    AS h
         |  FROM documents WHERE doc_id % $DeltaModSql),
         |bset AS (SELECT DISTINCT md5(text) AS text_md5
         |         FROM documents WHERE doc_id % $DeltaNotModSql),
         |keep AS (SELECT text_md5, min(doc_id) AS keeper
         |         FROM dd GROUP BY text_md5),
         |gw AS (SELECT doc_id, string_split(text, ' ') AS w
         |       FROM documents),
         |gs AS (SELECT doc_id,
         |         list_distinct(list_transform(
         |           range(1, greatest(len(w) - 2, 1) + 1),
         |           i -> array_to_string(w[i:i+2], ' '))) AS g
         |       FROM gw),
         |nd AS (SELECT DISTINCT a.doc_id FROM gs a JOIN gs b
         |  ON a.doc_id % $DeltaModSql AND b.doc_id % $DeltaNotModSql
         |  WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |      / len(list_distinct(list_concat(a.g, b.g))) >= 0.85),
         |g13 AS (SELECT doc_id,
         |          unnest(list_distinct(list_transform(
         |            range(1, greatest(len(w) - 12, 1) + 1),
         |            i -> array_to_string(w[i:i+12], ' ')))) AS g
         |        FROM gw),
         |ev AS (SELECT DISTINCT g FROM g13 WHERE doc_id % 17 = 0),
         |cont AS (SELECT DISTINCT g13.doc_id FROM g13 JOIN ev USING (g)
         |         WHERE g13.doc_id % 17 <> 0 AND g13.doc_id % $DeltaModSql),
         |dec AS (SELECT d.doc_id, d.source, d.h,
         |    CASE WHEN en <= 0 THEN 'lang'
         |         WHEN NOT (n_tokens >= 20
         |                   AND CAST(stops AS DOUBLE) / n_tokens < 0.5)
         |           THEN 'quality'
         |         WHEN d.text_md5 IN (SELECT text_md5 FROM bset)
         |              OR d.doc_id <> k.keeper THEN 'exact_dup'
         |         WHEN d.doc_id IN (SELECT doc_id FROM nd)
         |           THEN 'near_dup'
         |         WHEN d.doc_id % 17 = 0 THEN 'eval_split'
         |         WHEN d.doc_id IN (SELECT doc_id FROM cont)
         |           THEN 'contaminated'
         |         ELSE NULL END AS drop_reason
         |  FROM dd d JOIN keep k USING (text_md5)),
         |q AS (SELECT doc_id, row_number() OVER (PARTITION BY source
         |        ORDER BY h, doc_id) AS rn
         |      FROM dec WHERE drop_reason IS NULL)
         |SELECT d.doc_id, d.source,
         |  coalesce(d.drop_reason,
         |    CASE WHEN q.rn <= $DeltaAdmitCap THEN 'admit'
         |         ELSE 'quota' END) AS decision
         |FROM dec d LEFT JOIN q ON d.doc_id = q.doc_id""".stripMargin,
    "pipe_catalog_census" ->
      s"""SELECT CASE WHEN doc_id % $DeltaModSql THEN 'delta' ELSE 'base' END
        |    AS split,
        |  source, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents
        |GROUP BY 1, 2""".stripMargin
  )
}
