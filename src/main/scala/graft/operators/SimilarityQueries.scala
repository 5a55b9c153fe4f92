package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Derived, Tables}

/** Near-duplicate detection + similarity search for the training-data
  * pipeline: MinHash+LSH, SimHash, n-gram Jaccard, and
  * approximate-nearest-neighbor over the `embeddings` table
  * (brute-force cosine as the correctness baseline, sign-LSH buckets
  * as the 100 TB path).
  *
  * Design: everything is codegen'd higher-order array expressions
  * (transform/aggregate/zip_with) — no UDFs, no driver loops. The
  * all-pairs stages are bucketed (LSH band join / sign-signature
  * join) so candidate generation is an equi-join, never a cartesian
  * product; the exact similarity is only computed inside buckets.
  * At 100 TB: shuffle keys are fixed-width band hashes; the
  * brute-force variants exist only as small-side baselines (the query
  * side is a broadcast of K vectors, so even "brute force" here is a
  * broadcast nested loop over one row, not an N×N join).
  *
  * Oracle posture (r4): `sim_brute_topk` and `sim_exact_pairs` are
  * bitwise-exact vs DuckDB `list_cosine_similarity` (verified: the
  * sequential dot/norm accumulation matches ulp-for-ulp), and the
  * Jaccard pair searches (`dd_minhash_lsh`, `dd_ngram_jaccard`) are
  * hash-compared against the EXACT all-pairs top-20 — the hashes are
  * deterministic, so "the approximate path achieves full recall on
  * this corpus" is a stable regression property, and a stronger check
  * than rows-only. The simhash family uses the engine-portable md5-60
  * gram hash (graft.core.PortableHash) so the whole bit-vote pipeline
  * is replicated in SQL, and the pair query returns the COMPLETE
  * radius-3 set (banding is lossless there by pigeonhole) — both
  * hash-verified. Since r8 the sign-LSH entries (`sim_lsh_ann`,
  * `dd_embed_neardup`, `dd_embed_census`) are ALSO hash-verified:
  * their planes are fixed hash-derived constants and their ranking
  * tiebreaks total, so the full bucket → probe-ball → cosine-rank
  * pipeline is replicated in DuckDB with the plane matrix embedded as
  * literal ± terms (see [[bucketSqlExpr]]). Only `sim_ivf_ann` stays
  * rows-only (KMeans quantizer — iterative, not SQL-expressible),
  * with its probe-set-exactness spec as the compensating check.
  */
object SimilarityQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Character k-shingles of `textCol` as a distinct array. Built via
    * expr(): substring with a dynamic start position is SQL-only (the
    * Scala `substring()` takes literal pos). */
  private def shingleExpr(textCol: String, k: Int): Column =
    expr(s"array_distinct(transform(" +
      s"sequence(1, greatest(length($textCol) - ${k - 1}, 1)), " +
      s"i -> substring($textCol, i, $k)))")

  /** Word k-gram shingles over a pre-split `wordsCol` array. The
    * split MUST be materialized once per row first — `split()`
    * inlined into the per-element lambda is O(words²) per document. */
  private[graft] def wordGramExpr(wordsCol: String, k: Int): Column =
    expr(s"array_distinct(transform(" +
      s"sequence(1, greatest(size($wordsCol) - ${k - 1}, 1)), " +
      s"i -> concat_ws(' ', slice($wordsCol, i, $k))))")

  /** MinHash signature from PRE-HASHED shingles (array<long>): per
    * permutation j, min over xxhash64(h, j). Hashing the string
    * shingle once and deriving the permutations from the long keeps
    * per-element work constant. Computed by the native codegen'd
    * expression (graft.functions.MinhashSig); [[minhashSigHof]] is
    * the composed-HOF reference it is tested bit-equal against. */
  private def minhashSig(hashesCol: Column, nHashes: Int): Column =
    call_function("minhash_sig", hashesCol, lit(nHashes))

  /** Reference implementation for the equivalence spec — the
    * interpreted higher-order composition minhash_sig replaces. */
  private[graft] def minhashSigHof(hashesCol: Column,
      nHashes: Int): Column =
    transform(sequence(lit(0), lit(nHashes - 1)),
      j => array_min(transform(hashesCol, h => xxhash64(h, j))))

  // ===================================================================
  // MinHash + LSH near-duplicate pairs
  // ===================================================================

  /** (doc_id, hs): distinct word-3gram hashes per document — the
    * shared input of every shingle-based near-dup operator.
    * Memoized per dataset ([[graft.core.Derived.Memo]]): slim,
    * deterministic, consumed by the minhash pair search AND the
    * clustering pipeline. */
  private val shingles = Derived.Memo[DataFrame]("shingle_docs")

  private[operators] def hashedShingleDocs(s: SparkSession,
      dir: String): DataFrame =
    shingles(s, dir)(
      // fanOut: the shingle hashing below is the expensive part and
      // would otherwise run inside the single-row-group scan task
      Tables.fanOut(Tables.documents(s, dir), "doc_id")
        .withColumn("words", split(col("text"), " "))
        .select(col("doc_id"),
          transform(wordGramExpr("words", 3), g => xxhash64(g)).as("hs"))
        .localCheckpoint())

  /** LSH candidate pairs over pre-hashed shingle docs.
    *
    * Small buckets (2..maxBucket) expand all-pairs. Oversize buckets
    * are non-discriminative and quadratic; for top-k pair SEARCH
    * (`starHotBuckets = false`) they are dropped (the standard hot
    * bucket cap), but for CLUSTERING that would silently keep every
    * member of a huge duplicate cluster — exactly the documents
    * dedup exists to remove. With `starHotBuckets = true` each hot
    * bucket instead contributes a STAR through its minimum member:
    * O(n) candidate rows that preserve connectivity (identical docs
    * all verify against the representative and transitive closure
    * folds them into one cluster), keeping the join bounded at any
    * bucket size.
    *
    * CONTRACT (ADVICE r5): the star preserves the exact closure only
    * when every hot-bucket member verifies against the bucket's
    * representative — true for the hot buckets LSH actually
    * produces, which are exact/near-exact duplicate groups (a bucket
    * goes hot because its members share a band signature, and at the
    * 0.85+ verify threshold a group that large is a duplicate pile,
    * not a similarity chain). A corpus whose hot buckets hold long
    * chains of pairwise-near-but-transitively-far docs would need
    * multiple anchors per bucket (min + evenly spaced members) at
    * K× the candidate rows; this engine documents the single-anchor
    * contract instead of paying that multiplier blind. */
  private[operators] def lshCandidatePairs(s: SparkSession, dir: String,
      docs: DataFrame, nHashes: Int, bands: Int, maxBucket: Int,
      starHotBuckets: Boolean, slot: Option[String] = None)
      : DataFrame = {
    graft.functions.MinhashSig.ensureRegistered(s)
    val rows = nHashes / bands
    val ckpt: DataFrame => DataFrame = slot match {
      // per-invocation callers (ddMinhashLsh) name a slot so the
      // previous generation's banded checkpoint is freed; memoized
      // callers (computeClusterCc) keep the plain one-time checkpoint
      case Some(name) => Derived.slot(name, s, dir)
      case None => _.localCheckpoint()
    }
    val banded = docs
      .withColumn("sig", minhashSig(col("hs"), nHashes))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * rows + 1, lit(rows)))
              .as("bhash")))).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bhash"))
      .transform(ckpt)
    val stats = banded.groupBy(col("band"), col("bhash"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("rep"))
    val small = stats.filter(col("n") >= 2 && col("n") <= maxBucket)
      .select("band", "bhash")
    val pruned = banded.join(small, Seq("band", "bhash"))
    val allPairs = pruned.as("a").join(pruned.as("b"), Seq("band", "bhash"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val cand =
      if (!starHotBuckets) allPairs
      else {
        val hot = stats.filter(col("n") > maxBucket)
          .select(col("band"), col("bhash"), col("rep"))
        val star = banded.join(hot, Seq("band", "bhash"))
          .filter(col("doc_id") =!= col("rep"))
          .select(col("rep").as("id_a"), col("doc_id").as("id_b"))
        allPairs.unionByName(star)
      }
    cand.distinct()
  }

  /** Exact Jaccard over candidate pairs — shingle arrays are fetched
    * only AFTER the pair set is deduplicated (slim-candidates rule).
    * Similarity via the native jaccard_sim expression (bit-equal to
    * the composed intersect/union spelling on distinct inputs; see
    * graft.functions.JaccardSim). */
  private[operators] def jaccardPairs(docs: DataFrame,
      cand: DataFrame): DataFrame = {
    graft.functions.JaccardSim.ensureRegistered(docs.sparkSession)
    cand
      .join(docs.select(col("doc_id").as("id_a"), col("hs").as("hs_a")),
        "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("hs").as("hs_b")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        call_function("jaccard_sim", col("hs_a"), col("hs_b"))
          .as("jaccard"))
  }

  /** MinHash LSH near-dup candidates → exact Jaccard verify → top
    * pairs.
    *
    * Shingles are word 3-grams (hashed once to longs): on a
    * small-vocabulary corpus, character shingles give random doc
    * pairs Jaccard ≈ 0.5+ and EVERY bucket goes hot — word n-grams
    * keep baseline similarity near zero while near-dups (an edit or
    * two) still share most shingles. 32 hashes in 4 bands of 8: the
    * collision curve is steep at Jaccard ≈ 0.9 and ≈ 0 at 0.5.
    *
    * Scale hygiene: (1) candidate generation is SLIM — only (band,
    * bhash, doc_id) shuffles, shingle arrays are joined back after
    * the pair set is deduplicated; (2) buckets larger than
    * `maxBucket` are dropped before pairing — an oversize LSH bucket
    * is non-discriminative by definition and quadratic to expand
    * (the standard hot-bucket cap; at 100 TB this is the difference
    * between a bounded join and a runaway one). */
  def ddMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val docs = hashedShingleDocs(s, dir)
    val cand = lshCandidatePairs(s, dir, docs, nHashes = 32, bands = 4,
      maxBucket = 50, starHotBuckets = false, slot = Some("mh_banded"))
    jaccardPairs(docs, cand)
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
      .limit(20)
  }

  /** [[ddMinhashLsh]] served from the PERSISTED MinHash index
    * ([[graft.sources.IndexStore.ensureMinhash]]) — the build→serve
    * twin the trigram LIKE and BM25 paths established, applied to
    * the dedup family. Candidate generation reads the banded
    * signature table (slim (band, bhash, doc_id) rows — signatures
    * were computed ONCE, at build), the exact-Jaccard verify reads
    * the shingle fingerprint store, and the raw documents table is
    * absent from the plan (MinhashIndexSpec asserts it). Shares the
    * scan twin's exact all-pairs oracle, so a hash match certifies
    * the incrementally-built index content end-to-end. At 100 TB
    * this split is the difference between re-shingling the corpus
    * per dedup run and probing fingerprints maintained on ingest. */
  def ddMinhashIndexed(s: SparkSession, dir: String): DataFrame = {
    graft.functions.JaccardSim.ensureRegistered(s)
    val paths = graft.sources.IndexStore.ensureMinhash(s, dir)
    val maxBucket = 50
    val banded = s.read.parquet(paths.bands)
      .select(col("doc_id"), col("band"), col("bhash"))
    val small = banded.groupBy(col("band"), col("bhash"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("n") <= maxBucket)
      .select("band", "bhash")
    val pruned = banded.join(small, Seq("band", "bhash"))
    val cand = pruned.as("a").join(pruned.as("b"), Seq("band", "bhash"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val fp = s.read.parquet(paths.shingles)
    cand
      .join(fp.select(col("doc_id").as("id_a"), col("hs").as("hs_a")),
        "id_a")
      .join(fp.select(col("doc_id").as("id_b"), col("hs").as("hs_b")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        call_function("jaccard_sim", col("hs_a"), col("hs_b"))
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
      .limit(20)
  }

  /** SimHash (32-bit) per document: majority vote of shingle-hash
    * bits, packed to one long — constant-width near-dup key; hamming
    * distance ≤ r on it approximates cosine similarity of the
    * shingle sets. Pure array expressions (single pass per row).
    * Gram hashes use the engine-portable md5-60 hash
    * (graft.core.PortableHash) so the full bit-vote is replicated in
    * the DuckDB oracle. */
  /** One simhash pass per dataset ([[graft.core.Derived.Memo]]): the
    * hash table feeds both dd_simhash and dd_simhash_pairs; it is
    * deterministic, slim (doc_id + one long), and localCheckpointed. */
  private val simhashes = Derived.Memo[DataFrame]("simhash_docs")

  def ddSimhash(s: SparkSession, dir: String): DataFrame =
    simhashes(s, dir)(computeSimhash(s, dir).localCheckpoint())

  private def computeSimhash(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    Tables.documents(s, dir)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        transform(wordGramExpr("words", 3),
          g => graft.core.PortableHash.md5Hash60(g)).as("hs"))
      .select(col("doc_id"),
        call_function("simhash32", col("hs")).as("simhash"))
  }

  /** Reference implementation for Simhash32Spec — the interpreted
    * vote/pack composition the native expression replaces. Takes the
    * NAME of an array<long> column. */
  private[graft] def simhashHof(hsColName: String): Column = {
    val bits = 32
    val votes =
      s"""aggregate(
         |  $hsColName,
         |  array_repeat(0L, $bits),
         |  (acc, h) -> zip_with(acc,
         |    transform(sequence(0, ${bits - 1}),
         |      b -> CASE WHEN (shiftright(h, b) & 1) = 1
         |           THEN 1L ELSE -1L END),
         |    (a, v) -> a + v))""".stripMargin
    val pack =
      s"""aggregate(
         |  zip_with(VOTES, sequence(0, ${bits - 1}),
         |    (v, b) -> CASE WHEN v > 0 THEN shiftleft(1L, b) ELSE 0L END),
         |  0L, (acc, x) -> acc + x)""".stripMargin
    expr(pack.replace("VOTES", votes))
  }

  /** SimHash multi-index scheme (r17 — the 150k-decade rehearsal
    * flag): the signature splits into [[ShNibbles]] 4-bit nibbles,
    * and any pair within hamming distance [[ShRadius]] = 3 differs
    * in at most 3 nibbles, so it matches at least one of the
    * C(8,3) = 56 complementary 5-nibble (20-bit) probe keys exactly
    * — the block-combination multi-index of Manku, Jain & Sarma
    * (WWW'07) adapted to the 32-bit signature. The previous 4×8-bit
    * banding was equally lossless but had only 256 buckets per
    * band: candidate generation was Θ(n²/128) BY CONSTRUCTION —
    * 176M candidate pairs at a 150k-doc corpus (20.8 s serve),
    * infeasible at 100 TB. The 56×2²⁰-bucket scheme cuts the
    * uniform-collision rate ~300× at the price of 14× more
    * (combo, key) probe rows — rows grow linearly, collisions
    * quadratically, so the trade wins everywhere past toy sizes. */
  val ShNibbles = 8

  /** Hamming radius of the near-dup pair contract. */
  val ShRadius = 3

  /** All 5-nibble combinations, ascending; combo id = position. Any
    * ≤ [[ShRadius]]-bit-different pair shares every nibble of at
    * least one combo (pigeonhole over the 3-subset its dirty bits
    * occupy). */
  val ShCombos: IndexedSeq[Seq[Int]] =
    (0 until ShNibbles).combinations(ShNibbles - ShRadius)
      .map(_.toSeq).toIndexedSeq

  /** 20-bit probe key of `sigCol` for one combo: the 5 included
    * nibbles concatenated in ascending nibble order. */
  private def shKeyExpr(nibs: Seq[Int], sigCol: String): String =
    nibs.zipWithIndex.map { case (nib, i) =>
      s"shiftleft(shiftright($sigCol, ${nib * 4}) & 15, ${i * 4})"
    }.mkString("(", " | ", ")")

  /** `posexplode(...)` of the 56 probe keys of `sigCol` — pos IS the
    * combo id (ShCombos order), so the generator carries a plain int
    * array instead of 56 structs. Shared by the scan twin and the
    * index build so the layouts can never diverge. Use as
    * `select(..., shComboPosexplode("simhash").as(Seq("combo", "k")))`. */
  private[graft] def shComboPosexplode(sigCol: String): Column = {
    val keys = ShCombos
      .map(nibs => s"cast(${shKeyExpr(nibs, sigCol)} as int)")
      .mkString(", ")
    posexplode(expr(s"array($keys)"))
  }

  /** CASE yielding the LOWEST combo id whose included nibbles are
    * all clean in the xor column — the canonical witness: a joined
    * pair is kept only at this combo, so near-identical signatures
    * (which match many combos at once) contribute ONE candidate row
    * instead of up to 56. Total on join output by construction
    * (the row's own combo matched, so some WHEN holds). */
  private[graft] def shCanonicalComboSql(xorCol: String): String =
    ShCombos.zipWithIndex.map { case (nibs, ci) =>
      val mask = nibs.map(n => 0xFL << (4 * n)).reduce(_ | _)
      s"WHEN ($xorCol & $mask) = 0 THEN $ci"
    }.mkString("CASE ", " ", " END")

  /** `k`-vs-`simhash` consistency predicate for the persisted index
    * (SimhashIndexSpec): the key must equal its combo's nibble
    * concatenation. */
  private[graft] def shKeyCaseSql(sigCol: String): String =
    ShCombos.zipWithIndex.map { case (nibs, ci) =>
      s"WHEN $ci THEN cast(${shKeyExpr(nibs, sigCol)} as int)"
    }.mkString("CASE combo ", " ", " END")

  /** The shared candidate-join + verify body of the SimHash pair
    * twins: equi-join on (combo, k), canonical-witness dedup, exact
    * hamming verify — output is the complete radius-[[ShRadius]]
    * pair set, identical to the oracle's all-pairs scan. Each
    * surviving pair is unique by the witness filter, so no
    * dedup shuffle follows the join. */
  private def shPairClosure(banded: DataFrame): DataFrame = {
    val a = banded.select(col("combo"), col("k"),
      col("doc_id").as("id_a"), col("simhash").as("h_a"))
    val b = banded.select(col("combo"), col("k"),
      col("doc_id").as("id_b"), col("simhash").as("h_b"))
    a.join(b, Seq("combo", "k"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("xr", expr("h_a ^ h_b"))
      .filter(col("combo") === expr(shCanonicalComboSql("xr")))
      .select(col("id_a"), col("id_b"),
        expr("cast(bit_count(xr) as int)").as("hamming"))
      .filter(col("hamming") <= ShRadius)
      .orderBy(col("hamming").asc, col("id_a"), col("id_b"))
  }

  /** SimHash near-dup PAIRS via the [[ShCombos]] multi-index: probe
    * keys are an equi-join, the exact hamming distance (bit_count of
    * xor) verifies, and the canonical-witness filter keeps each pair
    * once. Output is the complete radius-3 pair set — identical by
    * construction to the oracle's all-pairs scan, which is what
    * makes an LSH-indexed query hash-verifiable. */
  def ddSimhashPairs(s: SparkSession, dir: String): DataFrame = {
    val hashes = ddSimhash(s, dir) // already localCheckpointed by the cache
    shPairClosure(hashes
      .select(col("doc_id"), col("simhash"),
        shComboPosexplode("simhash").as(Seq("combo", "k"))))
  }

  /** [[ddSimhashPairs]] served from the PERSISTED SimHash index
    * ([[graft.sources.IndexStore.ensureSimhash]]) — the build→serve
    * twin discipline applied to the last dedup family member that
    * still recomputed signatures per run. Candidate generation AND
    * the hamming verify both read the one probe-keyed signature
    * table (the signature travels with its (combo, k) rows; the
    * verify is bit_count(xor), no fingerprint store needed), the
    * (combo, k) equi-join is partition-local by layout, and the raw
    * documents table is absent from the plan (SimhashIndexSpec
    * asserts it). Shares the scan twin's exact all-pairs oracle, so
    * a hash match certifies the incrementally-built index content
    * end-to-end. */
  def ddSimhashIndexed(s: SparkSession, dir: String): DataFrame = {
    val paths = graft.sources.IndexStore.ensureSimhash(s, dir)
    shPairClosure(s.read.parquet(paths.sigs)
      .select(col("combo"), col("k"), col("doc_id"), col("simhash")))
  }

  /** n-gram Jaccard similarity via bucketed self-join: word 3-gram
    * sets (hashed to longs), bucketed by the document's rarest-hash
    * n-gram (min xxhash64) so candidate pairs share at least that
    * n-gram — an equi-join, not a cartesian, with the same hot-bucket
    * cap as MinHash LSH. Top-20 most similar pairs. */
  def ddNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    graft.functions.JaccardSim.ensureRegistered(s)
    val maxBucket = 50
    val docs = Tables.documents(s, dir)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        transform(wordGramExpr("words", 3), g => xxhash64(g)).as("g"))
      .withColumn("bucket", array_min(col("g")))
      .transform(Derived.slot("ngram_docs", s, dir))
      // consumed by census + both join sides
    val smallBuckets = docs.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("n") <= maxBucket)
      .select("bucket")
    val pruned = docs.join(smallBuckets, Seq("bucket"))
    val a = pruned.select(col("bucket"), col("doc_id").as("id_a"),
      col("g").as("g_a"))
    val b = pruned.select(col("bucket"), col("doc_id").as("id_b"),
      col("g").as("g_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        call_function("jaccard_sim", col("g_a"), col("g_b"))
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
      .limit(20)
  }

  // ===================================================================
  // embedding similarity search
  // ===================================================================

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d),
      (acc, x) => acc + x)

  private def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine via the native codegen'd expression
    * (graft.functions.CosineSimilarity, registered through
    * SparkSessionExtensions) — the composed HOF version above is kept
    * for the equivalence test. */
  private def cosine(a: String, b: String): Column =
    expr(s"cosine_sim($a, $b)")

  /** Brute-force cosine top-k (k=10) for one query vector (vec_id=0):
    * the correctness baseline. The query side is a broadcast single
    * row, so the "brute force" is a broadcast nested-loop over the
    * collection — scans the table once, no shuffle. */
  def simBruteTopK(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("e").as("qe"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        cosine("e", "qe").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** MMR candidate pool (exact-cosine top-R) and final diversified
    * set size, and the integer quantization scale for all MMR
    * scores. Interpolated into the oracle. */
  val MmrPool = 30
  val MmrK = 10
  val MmrScale = 1000000L

  /** Maximal-Marginal-Relevance diversification (Carbonell &
    * Goldstein, SIGIR'98) — the standard retrieval RE-RANK between
    * ANN shortlist and consumer: from the exact-cosine top-
    * [[MmrPool]] pool, greedily select [[MmrK]] results maximizing
    * `7·sim(query, c) − 3·max_{s∈selected} sim(c, s)` (λ = 0.7 in
    * tenths — INTEGER weights over cosines quantized to
    * [[MmrScale]], so every comparison in the greedy argmax chain is
    * exact 64-bit arithmetic and the full selection sequence is a
    * data property both engines replay; ties break on vec_id).
    *
    * 100 TB shape: the pool cut is the serving stack's existing
    * top-R (here the brute baseline — the oracle anchor; [[simMmrIvf]]
    * serves the same contract off the IVF tier's probe-cell cut),
    * and everything after it is bounded by
    * construction — the pool's pairwise sims are ≤ [[MmrPool]]²
    * rows computed distributed, and the driver's greedy runs over
    * that bounded pool exactly like the IVF centroid-root pick (the
    * sanctioned driver pattern: index-root-sized metadata, never
    * data). The oracle unrolls all [[MmrK]] greedy steps as chained
    * CTEs — the g5b loop-unroll discipline — so pool membership,
    * every penalty, and every argmax hash-verify in one compare. */
  def simMmrRerank(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
    val q = emb.filter(col("vec_id") === 0).select(col("e").as("qe"))
    val pool = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        expr(s"cast(round(cosine_sim(e, qe) * $MmrScale) as bigint)")
          .as("qsim"),
        col("e"))
      .orderBy(col("qsim").desc, col("vec_id"))
      .limit(MmrPool)
    // feeds the pairwise grid + the pool collect — as ONE bounded
    // collect into a local relation (r22, VERDICT r21 task #8): the
    // former checkpoint materialized executor blocks that mmrGreedy's
    // two actions then re-read; ≤ MmrPool rows are index-root-sized
    // metadata, so the local relation costs one job and zero storage
    mmrGreedy(s, localPool(s, pool))
  }

  /** MMR served off the IVF TIER (r20 — discharges the documented
    * "any `sim_ivf_*` tier yields the same contract" claim of
    * [[simMmrRerank]]): the candidate pool is the exact-cosine top-
    * [[MmrPool]] cut of the vectors in the query's
    * [[graft.sources.IndexStore.IvfNprobe]] probed cells, read from
    * the PERSISTED assignments table with the cell prune as partition
    * pruning — the plan touches only index files ([[mmrIvfPool]] is
    * the poolable subtree; SimilarityQueriesSpec asserts the base
    * embeddings table is absent). Greedy selection and quantization
    * are shared with the brute-pooled query ([[mmrGreedy]]), so the
    * two rerankers can only differ through their pools. Hash-oracled
    * end-to-end by a dynamic read_parquet twin that replays the
    * probe-cell cut (cells interpolated as literals — index-root
    * metadata, the sim_ivf_ann transport) and then unrolls the same
    * greedy CTE chain. */
  def simMmrIvf(s: SparkSession, dir: String): DataFrame = {
    val paths = graft.sources.IndexStore.ensureIvf(s, dir)
    val (_, probes, _) = ivfTopology(s, dir)
    dynamicOracle(("sim_mmr_ivf", dir)) = mmrOracleSqlFrom(
      s"""e AS (SELECT vec_id, label, e, CAST(cell AS INTEGER) AS cell
         | FROM read_parquet('${paths.assignments}/*/*.parquet',
         |                   hive_partitioning=1)),
         |q AS (SELECT e AS qe FROM e WHERE vec_id = 0),
         |cand AS MATERIALIZED (SELECT vec_id, label,
         |    CAST(round(list_cosine_similarity(e, qe) * $MmrScale)
         |      AS BIGINT) AS qsim, e
         |  FROM e CROSS JOIN q
         |  WHERE vec_id <> 0 AND cell IN (${probes.mkString(", ")})
         |  ORDER BY qsim DESC, vec_id LIMIT $MmrPool)""".stripMargin)
    // same one-collect local relation as simMmrRerank (r22)
    mmrGreedy(s, localPool(s, mmrIvfPool(s, dir)))
  }

  /** One bounded collect of a ≤ [[MmrPool]]-row candidate pool into a
    * local relation, so [[mmrGreedy]]'s two actions (pairwise grid,
    * pool read) replay driver-held rows instead of re-reading
    * checkpoint blocks. The pairwise cosine grid still evaluates the
    * same `cosine_sim` expression in the executors — only the rows'
    * transport changed, so every emitted bit is unchanged. */
  private def localPool(s: SparkSession, pool: DataFrame): DataFrame = {
    val rows = pool.collect() // ≤ MmrPool rows by construction
    s.createDataFrame(java.util.Arrays.asList(rows: _*), pool.schema)
  }

  /** The IVF-tier MMR candidate pool as a plan (pre-checkpoint), so
    * the spec can assert its scan set: persisted assignments pruned
    * to the probed cells, the query vector a 1-row broadcast fetched
    * from the index — the base embeddings table absent. */
  private[graft] def mmrIvfPool(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val (assigned, probes, query) = ivfTopology(s, dir)
    val spark = s
    import spark.implicits._
    val qe = Seq(Tuple1(query.toSeq)).toDF("qe")
    assigned
      .filter(col("cell")
        .isin(probes.map(Integer.valueOf).toIndexedSeq: _*))
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qe))
      .select(col("vec_id"), col("label"),
        expr(s"cast(round(cosine_sim(e, qe) * $MmrScale) as bigint)")
          .as("qsim"),
        col("e"))
      .orderBy(col("qsim").desc, col("vec_id"))
      .limit(MmrPool)
  }

  /** The shared MMR greedy over a quantized candidate `pool`
    * (vec_id, label, qsim, e — already cut to ≤ [[MmrPool]] rows and
    * checkpointed): the ≤ pool² pairwise sims computed distributed,
    * then the driver replays the bounded argmax chain — index-root-
    * sized metadata, never data (the sanctioned driver pattern). */
  private def mmrGreedy(s: SparkSession, pool: DataFrame): DataFrame = {
    val slim = pool.select(col("vec_id"), col("e"))
    val pairSims = slim.as("a").crossJoin(slim.as("b"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        expr(s"cast(round(cosine_sim(a.e, b.e) * $MmrScale) as bigint)")
          .as("psim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap // ≤ MmrPool² entries — bounded metadata, not data
    val cands = pool.select(col("vec_id"), col("label"), col("qsim"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    var remaining = cands.toVector
    var picked = Vector.empty[(Int, Long, Int, Long, Long)]
    for (rank <- 1 to math.min(MmrK, cands.length)) {
      val selectedIds = picked.map(_._2)
      val scored = remaining.map { case (id, label, qsim) =>
        val penalty =
          if (selectedIds.isEmpty) 0L
          else selectedIds.map(sid => pairSims((id, sid))).max
        (id, label, qsim, 7L * qsim - 3L * penalty)
      }
      val best = scored.minBy { case (id, _, _, score) => (-score, id) }
      picked :+= ((rank, best._1, best._2, best._3, best._4))
      remaining = remaining.filterNot(_._1 == best._1)
    }
    val spark = s
    import spark.implicits._
    picked.toDF("rank", "vec_id", "label", "qsim", "mmr_q")
  }

  /** Planes used by the embedding near-dup path (and its census). */
  val NearDupPlanes: Int = 12

  /** Planes used by the sign-LSH ANN probe path. */
  val AnnPlanes: Int = 8

  /** Hamming radius of the sign-LSH multi-probe: the query probes its
    * own bucket plus every bucket within `MultiProbeRadius` flipped
    * signature bits. Radius 2 over 8 planes = 1+8+28 = 37 of 256
    * buckets (~14% of the collection) — the recall/scan-fraction
    * trade the spec pins (≥8 of brute-force top-10 recovered,
    * SimilaritySpec). */
  val MultiProbeRadius: Int = 2

  /** Sign-LSH bucketed ANN: 8 deterministic pseudo-random hyperplanes
    * (plane p, dim i → hash-derived ±1) → 8-bit signature → bucket
    * equi-join between query and collection → exact cosine inside
    * probed buckets only. The scale path: candidate generation is a
    * shuffle on an 8-bit key instead of an N×K cross join.
    *
    * Multi-probe (VERDICT r6 task #3): a single 8-bit bucket probe
    * misses any neighbor whose signature differs in even one bit
    * (P(all 8 planes agree) ≈ 0.29 at cosine 0.9 — the r6 entry
    * returned 2 rows for a top-10 query). The query side therefore
    * explodes into the [[MultiProbeRadius]]-ball of its signature —
    * a 37-row broadcast literal join, still never a cross join; each
    * collection vector lives in exactly one bucket so probes can't
    * duplicate candidates. */
  def simLshAnn(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    graft.functions.SignLshBucket.ensureRegistered(s)
    val planes = AnnPlanes
    // signature bit p = sign(sum_i e[i] * plane(p, i)); plane(p,i) is
    // ±1 from a hash of (p, i) — deterministic, no stored model. The
    // native codegen'd expression is bit-equal to the composed HOF
    // spelling (SignLshBucketSpec).
    val emb = cleanEmbeddings(s, dir)
      .withColumn("bucket", expr(s"signlsh_bucket(e, $planes)"))
    // XOR masks of Hamming weight 0..MultiProbeRadius — the probe
    // ball, built driver-side as a literal (37 longs for radius 2).
    val masks: Array[Long] = (0 to MultiProbeRadius)
      .flatMap(r => (0 until planes).combinations(r)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))))
      .toArray
    val q = emb.filter(col("vec_id") === 0)
      .select(col("bucket").as("qbucket"), col("e").as("qe"))
      .withColumn("mask", explode(lit(masks)))
      .select(col("qbucket").bitwiseXOR(col("mask")).as("bucket"),
        col("qe"))
    emb.filter(col("vec_id") =!= 0)
      .join(broadcast(q), Seq("bucket"))
      .select(col("vec_id"), col("label"),
        cosine("e", "qe").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** Symmetric int8 embedding quantization — the storage/bandwidth
    * op of a 100 TB vector pipeline (8× smaller than float64, 4×
    * than float32; quantized vectors are what ships to the ANN
    * serving tier, with the float originals kept for rescoring).
    * Per vector: scale = max|e_i|, q_i = round(e_i / scale × 127) ∈
    * [-127, 127]. Entirely map-side — no shuffle, no state; emitted
    * EXPLODED (vec_id, pos, q, scale) so the oracle hash-compares
    * every component as an exact integer (the one FP step, the
    * scaled division, is the same left-associated IEEE chain in both
    * engines; a tie at exactly k+0.5 CAN occur — e.g. e_i/scale =
    * 1/254 — but rounds identically anyway, because BOTH engines
    * round half away from zero: Spark's round() is RoundingMode
    * HALF_UP and DuckDB's round() is C round(), so the agreement
    * rests on matching rounding modes, not on tie-freeness
    * (ADVICE r9 docstring correction)). */
  def simQuantizeInt8(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("scale",
        array_max(transform(col("e"), x => abs(x))))
      .select(col("vec_id"), col("scale"),
        posexplode(col("e")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("pos"),
        when(col("scale") > 0,
          round(col("x") / col("scale") * 127))
          .otherwise(0.0).cast("int").as("q"),
        col("scale"))

  /** Candidate pool size for [[simQuantizeTopK]]'s rescore stage:
    * k' = 3k survivors ranked by int8 score, then float-rescored.
    * The margin absorbs quantization rank noise near the k-boundary
    * (SQ8 cosine error is ~1/254 per component pair; a true top-k
    * member can sit a few places below k in int8 order, but not 2k
    * places). */
  val RescoreCandidates = 30

  /** Quantized ANN serving: int8 dot-product top-k' → float rescore
    * — the consumer of [[simQuantizeInt8]] (VERDICT r9/r10 carried
    * task) and the standard SQ8 serving shape: the 8×-smaller int8
    * vectors do the heavy scan, the float originals are fetched for
    * the [[RescoreCandidates]] survivors only.
    *
    * 100 TB shape: the scan stage reads ONLY the quantized column
    * (4 bytes/dim saved ×8), accumulates in exact int64 (no FP in
    * the hot loop — SIMD-friendly on real hardware), and ships a
    * single top-k' ordered cut; the float fetch is a broadcast
    * semi-join of k' ids. No shuffle of float vectors anywhere.
    *
    * Oracle-exact end to end: quantization (same formula as
    * sim_quantize_int8), integer dots, and the approx-cos division/
    * sqrt chain are all deterministic IEEE ops on identical inputs
    * in both engines, the k'-cut is total-ordered (approx_cos DESC,
    * vec_id), and the final rescore reuses the brute-force cosine
    * both engines already agree on (sim_brute_topk). */
  def simQuantizeTopK(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
    val quant = emb
      .withColumn("scale", array_max(transform(col("e"), x => abs(x))))
      .withColumn("q",
        when(col("scale") > 0,
          transform(col("e"),
            x => round(x / col("scale") * 127).cast("int")))
          .otherwise(transform(col("e"), _ => lit(0))))
      .select("vec_id", "label", "q")
    def intDot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")),
        lit(0L), (acc, x) => acc + x)
    val q0 = quant.filter(col("vec_id") === 0).select(col("q").as("qq"))
    val survivors = quant.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .withColumn("dot_q", intDot(col("q"), col("qq")))
      .withColumn("nq_a", intDot(col("q"), col("q")))
      .withColumn("nq_q", intDot(col("qq"), col("qq")))
      // zero vectors (scale 0) have no direction: rank last, exactly
      // as the oracle's CASE does — never 0/0 NaN.
      .withColumn("approx_cos",
        when(col("nq_a") > 0,
          col("dot_q").cast("double") /
            (sqrt(col("nq_a").cast("double")) *
              sqrt(col("nq_q").cast("double"))))
          .otherwise(lit(-1.0d)))
      .orderBy(col("approx_cos").desc, col("vec_id"))
      .limit(RescoreCandidates)
      .select("vec_id")
    val qf = emb.filter(col("vec_id") === 0).select(col("e").as("qe"))
    emb.join(broadcast(survivors), "vec_id")
      .crossJoin(broadcast(qf))
      .select(col("vec_id"), col("label"), cosine("e", "qe").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** Cross-corpus duplicated-gram fraction (RefinedWeb/Gopher-style
    * "fraction of characters in duplicated n-grams" signal, at
    * word-3-gram granularity): for each document, the share of its
    * DISTINCT 3-grams that occur in ≥ 3 documents corpus-wide.
    * Complements [[TextQueries.tRepetition]] (WITHIN-doc repetition)
    * — this one catches boilerplate shared ACROSS documents
    * (headers, licenses, templated text) that per-doc stats can't
    * see.
    *
    * 100 TB shape: grams travel as 8-byte xxhash64 longs (the same
    * pre-hashed shingle table the minhash stack shares — one
    * computation per corpus); the gram census is a plain two-phase
    * hash aggregate keyed by the hash, and the join-back is an
    * equi-join on it. No strings shuffle, no all-pairs anywhere;
    * both shuffles are bounded by the distinct-gram count. Oracle
    * joins on the raw gram strings — identical counts absent a
    * 64-bit collision (the standing dd_* assumption). */
  def ddGramDupFrac(s: SparkSession, dir: String): DataFrame = {
    val docs = hashedShingleDocs(s, dir)
    val grams = docs.select(col("doc_id"), explode(col("hs")).as("g"))
    val census = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("nd"))
    grams.join(census, "g")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("long").as("n_grams"),
        sum(when(col("nd") >= 3, 1L).otherwise(0L)).cast("long")
          .as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_grams")).as("dup_frac"))
  }

  /** Embeddings with the sign-LSH precondition ENFORCED (VERDICT r10
    * task #6): `bucketSqlExpr`'s cross-engine equivalence — and the
    * native SignLshBucket's geometry — requires null/NaN-free
    * vectors (a null slot NULL-propagates DuckDB's projection where
    * the native expression skips it; DuckDB evaluates `NaN > 0` as
    * TRUE where Java's `>` is false). This loader upgrades that
    * documented precondition to a CHECKED one: any dirty element
    * fails the query loudly (assert_true → SparkRuntimeException
    * naming the vec_id) instead of silently hashing into bucket
    * noise. One extra codegen'd forall pass per row, map-side — no
    * shuffle, no extra scan. */
  private[operators] def cleanEmbeddings(s: SparkSession,
      dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
      .filter(assert_true(
        forall(col("e"), x => x.isNotNull && !isnan(x)),
        concat(lit("null/NaN embedding component at vec_id="),
          col("vec_id").cast("string"))).isNull)

  /** Fraction of the collection each approximate index SCANS for the
    * benchmark query (vec_id 0): LSH = members of the radius-2 probe
    * ball over total, IVF = members of the nprobe probed cells over
    * total. Reported next to recall@10 in the bench artifact's
    * ann_recall line — recall is only interpretable against the scan
    * fraction (on an unstructured corpus, recall ≈ scan fraction is
    * the theoretical floor; the planted-structure specs, not this
    * corpus, pin the indexes' ability to find true neighbors). */
  def annScanFractions(s: SparkSession, dir: String): (Double, Double) = {
    graft.functions.SignLshBucket.ensureRegistered(s)
    val planes = AnnPlanes
    val emb = cleanEmbeddings(s, dir)
      .select(col("vec_id"), col("e"))
      .withColumn("bucket", expr(s"signlsh_bucket(e, $planes)"))
    val masks: Array[Long] = (0 to MultiProbeRadius)
      .flatMap(r => (0 until planes).combinations(r)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))))
      .toArray
    val qBucket = emb.filter(col("vec_id") === 0)
      .select("bucket").head().getLong(0)
    val ball = masks.map(_ ^ qBucket)
    val lshRow = emb.filter(col("vec_id") =!= 0).agg(
      count(lit(1)).as("n"),
      sum(when(col("bucket")
          .isin(ball.map(java.lang.Long.valueOf).toIndexedSeq: _*),
        1L).otherwise(0L)).as("scanned")).head()
    val lshFrac = lshRow.getLong(1).toDouble / math.max(1L, lshRow.getLong(0))
    val (assigned, probes, _) = ivfTopology(s, dir)
    val ivfRow = assigned.filter(col("vec_id") =!= 0).agg(
      count(lit(1)).as("n"),
      sum(when(col("cell")
          .isin(probes.map(Integer.valueOf).toIndexedSeq: _*),
        1L).otherwise(0L)).as("scanned")).head()
    val ivfFrac = ivfRow.getLong(1).toDouble / math.max(1L, ivfRow.getLong(0))
    (lshFrac, ivfFrac)
  }

  /** Sign-LSH bucket census: bucket → member count over the whole
    * collection at the near-dup planes setting. The bucket assignment
    * is a PURE function of the data (fixed hash-derived planes), so
    * the census is SQL-expressible and gives the native
    * `signlsh_bucket` expression hash-level cross-engine verification
    * over EVERY row — the top-k queries only witness winners'
    * buckets (VERDICT r7 task #6). */
  def ddEmbedCensus(s: SparkSession, dir: String): DataFrame = {
    graft.functions.SignLshBucket.ensureRegistered(s)
    cleanEmbeddings(s, dir)
      .select(col("e"))
      .withColumn("bucket", expr(s"signlsh_bucket(e, $NearDupPlanes)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Embedding-cosine near-dup: all-pairs via sign-LSH buckets (same
    * signature → candidate), top-20 most similar pairs. */
  def ddEmbedNearDup(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    graft.functions.SignLshBucket.ensureRegistered(s)
    val planes = NearDupPlanes
    val emb = cleanEmbeddings(s, dir)
      .select(col("vec_id"), col("e"))
      .withColumn("bucket", expr(s"signlsh_bucket(e, $planes)"))
      .transform(Derived.slot("embnd", s, dir))
      // consumed by both self-join sides
    val a = emb.select(col("bucket"), col("vec_id").as("id_a"),
      col("e").as("e_a"))
    val b = emb.select(col("bucket"), col("vec_id").as("id_b"),
      col("e").as("e_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine("e_a", "e_b").as("cosine"))
      .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
      .limit(20)
  }

  /** IVF (inverted-file) ANN, now served from the PERSISTED index
    * (VERDICT r12 task #1): [[graft.sources.IndexStore.ensureIvf]]
    * fits the KMeans coarse quantizer (k=16, seed 42) once per
    * (JVM, dataset) and writes a 16-row centroid ROOT table plus a
    * cell-partitioned assignments table; the serve path below reads
    * ONLY those tables — centroids to pick `nprobe`=2 probe cells on
    * the driver (exactly what a 100 TB vector index keeps in its
    * root node), assignments partition-pruned to the probed cells
    * for the exact-cosine rerank. The base embeddings table is never
    * touched at query time. */

  /** IVF serve topology for `dir`: the persisted cell-assigned
    * collection, the probe cells picked for query vec_id=0, and the
    * query vector. Package-visible so the probe-set invariant can be
    * spec'd — probed-cell results must equal brute force restricted
    * to those cells (VERDICT r6 task #6). */
  private[graft] def ivfTopology(s: SparkSession, dir: String)
      : (DataFrame, Array[Int], Array[Double]) = {
    val (assigned, order, query) = ivfCellOrder(s, dir)
    (assigned, order.take(graft.sources.IndexStore.IvfNprobe), query)
  }

  /** Full probe order for `dir`'s IVF index: the persisted
    * cell-assigned collection, ALL cells sorted by centroid distance
    * to query vec_id=0, and the query vector — the adaptive probe
    * path walks this order instead of cutting it at IvfNprobe. */
  private[graft] def ivfCellOrder(s: SparkSession, dir: String)
      : (DataFrame, Array[Int], Array[Double]) = {
    val paths = graft.sources.IndexStore.ensureIvf(s, dir)
    val assigned = s.read.parquet(paths.assignments)
    val query = assigned.filter(col("vec_id") === 0)
      .select("e").head().getSeq[Double](0).toArray
    // the root read: IvfK (cell, centroid) rows — index metadata
    val order = s.read.parquet(paths.centroids)
      .collect()
      .map { r =>
        val arr = r.getSeq[Double](r.fieldIndex("centroid")).toArray
        var d = 0.0
        var j = 0
        while (j < arr.length) {
          val diff = arr(j) - query(j); d += diff * diff; j += 1
        }
        (r.getInt(r.fieldIndex("cell")), d)
      }
      .sortBy(_._2)
      .map(_._1)
    (assigned, order, query)
  }

  /** Recall bar for the adaptive-probe ANN gate (both corpora). */
  val AnnAdaptiveRecallTarget = 0.9

  /** Adaptive IVF probing (VERDICT r16 task #3 — the standing
    * lsh 0.20 / ivf 0.30 unstructured-recall watch item): instead of
    * serving at a FIXED nprobe and reporting whatever recall falls
    * out, walk the centroid-distance cell order and DOUBLE the probe
    * count each level until the top-k id set is UNCHANGED from the
    * previous level (the standard no-ground-truth stopping proxy:
    * more probes stopped changing the answer) or every cell is
    * probed. On a clustered corpus the result stabilizes after a few
    * cells — recall ≈ 1 at a small scan fraction; on an i.i.d.
    * random corpus (where recall ≈ scan fraction is the theoretical
    * floor and NO index can do better) the expansion degrades
    * gracefully to the exact scan instead of silently reporting 0.3
    * — the recall/scan-fraction trade is bought, measured, and
    * gated, never guessed. Each level is one partition-pruned
    * cosine top-k over the probed cells (the sim_ivf_ann serve plan
    * at a wider probe set); the confirming level's scan is billed to
    * the reported fraction.
    *
    * Returns (top-k vec_ids, scan fraction actually scanned,
    * final nprobe). */
  def simIvfAdaptive(s: SparkSession, dir: String)
      : (Seq[Long], Double, Int) = {
    val (_, ids, frac, n) = ivfAdaptiveWalk(s, dir)
    (ids, frac, n)
  }

  /** The adaptive IVF walk as a REGISTERED query with a dynamic
    * oracle (the sim_ivf_ann discipline): the serving plan at the
    * stabilized probe level is plain SQL over the persisted index,
    * so once the walk has fixed its probe set in this JVM, a
    * read_parquet twin with the final cells interpolated certifies
    * the adaptive serve by hash — the stopping decision's OUTPUT is
    * exactly verified, not just recall-gated in the bench. */
  def simIvfAdaptiveQuery(s: SparkSession, dir: String): DataFrame =
    ivfAdaptiveWalk(s, dir)._1

  private def ivfAdaptiveWalk(s: SparkSession, dir: String)
      : (DataFrame, Seq[Long], Double, Int) = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val paths = graft.sources.IndexStore.ensureIvf(s, dir)
    val (assigned, order, query) = ivfCellOrder(s, dir)
    val qe = {
      val spark = s
      import spark.implicits._
      Seq(Tuple1(query.toSeq)).toDF("qe")
    }
    val coll = assigned.filter(col("vec_id") =!= 0)
    def topDf(n: Int): DataFrame = coll
      .filter(col("cell")
        .isin(order.take(n).map(Integer.valueOf).toIndexedSeq: _*))
      .crossJoin(broadcast(qe))
      .select(col("vec_id"), col("label"),
        expr("cosine_sim(e, qe)").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
    def topIds(n: Int): Seq[Long] =
      topDf(n).select("vec_id").collect().map(_.getLong(0)).toSeq
    var n = graft.sources.IndexStore.IvfNprobe
    var ids = topIds(n)
    var stable = n >= order.length
    while (!stable) {
      val n2 = math.min(order.length, n * 2)
      val ids2 = topIds(n2)
      stable = ids2.toSet == ids.toSet || n2 == order.length
      ids = ids2
      n = n2
    }
    val probes = order.take(n)
    dynamicOracle(("sim_ivf_adaptive", dir)) =
      s"""WITH e AS (SELECT vec_id, label, e, CAST(cell AS INTEGER) AS cell
         | FROM read_parquet('${paths.assignments}/*/*.parquet',
         |                   hive_partitioning=1)),
         |q AS (SELECT e AS qe FROM e WHERE vec_id = 0)
         |SELECT vec_id, label, list_cosine_similarity(e, qe) AS cosine
         |FROM e CROSS JOIN q
         |WHERE vec_id <> 0 AND cell IN (${probes.mkString(", ")})
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin
    val row = coll.agg(
      count(lit(1)),
      sum(when(col("cell")
          .isin(probes.map(Integer.valueOf).toIndexedSeq: _*),
        1L).otherwise(0L))).head()
    (topDf(n), ids,
      row.getLong(1).toDouble / math.max(1L, row.getLong(0)), n)
  }

  /** Adaptive sign-LSH probing — the Hamming-radius counterpart of
    * [[simIvfAdaptive]]: widen the probe ball one radius at a time,
    * starting from the fixed serve setting [[MultiProbeRadius]],
    * until the top-k id set is unchanged from the previous radius or
    * the ball covers every bucket. Returns (top-k vec_ids, scan
    * fraction, final radius). */
  def simLshAdaptive(s: SparkSession, dir: String)
      : (Seq[Long], Double, Int) = {
    val (_, ids, frac, r) = lshAdaptiveWalk(s, dir)
    (ids, frac, r)
  }

  /** The adaptive LSH walk as a REGISTERED query with a dynamic
    * oracle — the [[simIvfAdaptiveQuery]] discipline for the
    * Hamming-ball side: the serving plan at the stabilized radius is
    * the sim_lsh_ann SQL with the FINAL radius interpolated
    * (`bit_count(xor(bucket, qbucket)) <= r`), so the stopping
    * decision's output is hash-verified in DuckDB. */
  def simLshAdaptiveQuery(s: SparkSession, dir: String): DataFrame =
    lshAdaptiveWalk(s, dir)._1

  private def lshAdaptiveWalk(s: SparkSession, dir: String)
      : (DataFrame, Seq[Long], Double, Int) = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    graft.functions.SignLshBucket.ensureRegistered(s)
    val planes = AnnPlanes
    val emb = cleanEmbeddings(s, dir)
      .withColumn("bucket", expr(s"signlsh_bucket(e, $planes)"))
      .transform(Derived.slot("lsh_adapt", s, dir))
      // re-read once per radius level
    val qRow = emb.filter(col("vec_id") === 0)
      .select(col("bucket"), col("e")).head()
    val qBucket = qRow.getLong(0)
    val qe = {
      val spark = s
      import spark.implicits._
      Seq(Tuple1(qRow.getSeq[Double](1))).toDF("qe")
    }
    def ball(r: Int): Array[java.lang.Long] = (0 to r)
      .flatMap(w => (0 until planes).combinations(w)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b)) ^ qBucket))
      .map(java.lang.Long.valueOf).toArray
    def topDfFrom(base: DataFrame, r: Int): DataFrame = base
      .filter(col("vec_id") =!= 0)
      .filter(col("bucket").isin(ball(r).toIndexedSeq: _*))
      .crossJoin(broadcast(qe))
      .select(col("vec_id"), col("label"),
        expr("cosine_sim(e, qe)").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
    def topIds(r: Int): Seq[Long] =
      topDfFrom(emb, r).select("vec_id").collect()
        .map(_.getLong(0)).toSeq
    var r = MultiProbeRadius
    var ids = topIds(r)
    var stable = r >= planes
    while (!stable) {
      val r2 = r + 1
      val ids2 = topIds(r2)
      stable = ids2.toSet == ids.toSet || r2 == planes
      ids = ids2
      r = r2
    }
    dynamicOracle(("sim_lsh_adaptive", dir)) =
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[])
         |             AS e FROM embeddings),
         |b AS (SELECT vec_id, label, e,
         |        ${bucketSqlExpr(AnnPlanes, 64, "e")} AS bucket
         |      FROM e),
         |q AS (SELECT bucket AS qbucket, e AS qe FROM b
         |      WHERE vec_id = 0)
         |SELECT vec_id, label, list_cosine_similarity(e, qe) AS cosine
         |FROM b CROSS JOIN q
         |WHERE vec_id <> 0
         |  AND bit_count(xor(bucket, qbucket)) <= $r
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin
    val row = emb.filter(col("vec_id") =!= 0).agg(
      count(lit(1)),
      sum(when(col("bucket").isin(ball(r).toIndexedSeq: _*), 1L)
        .otherwise(0L))).head()
    val frac = row.getLong(1).toDouble / math.max(1L, row.getLong(0))
    // the returned frame re-derives buckets from the base table (a
    // fresh one-scan lineage), so the walk's checkpoint can be freed
    // NOW instead of leaking until driver GC
    val out = topDfFrom(cleanEmbeddings(s, dir)
      .withColumn("bucket", expr(s"signlsh_bucket(e, $planes)")), r)
    org.apache.spark.sql.GraftSqlShims.unpersistLocalCheckpoint(emb)
    (out, ids, frac, r)
  }

  /** Dynamic oracle registry for the IVF serve path: the serving
    * query is plain SQL over the PERSISTED index (read_parquet +
    * cosine + top-k), so once a serve has computed its probe cells
    * in this JVM, the oracle SQL — index path and probe set
    * interpolated as literals — certifies it by hash, upgrading
    * sim_ivf_ann from the rows-only register. Populated by
    * [[simIvfAnn]]; Verify dumps oracle_sql.json AFTER running the
    * queries, so the entry is present exactly when the serve ran.
    * Only the BUILD (iterative KMeans fit) remains
    * non-SQL-expressible, as an index build should be.
    *
    * Keyed by (query, DATASET DIR) — ADVICE r13: one JVM can serve
    * several dirs (specs + sf corpus + AnnBenchCorpus), and a
    * name-only key would be last-writer-wins, dumping a probe set /
    * index path inconsistent with the persisted engine result Verify
    * wrote for ITS dir. [[oracleFor]] selects the dumping process's
    * own dir; the interpolated index paths are process-unique and
    * immutable after build (IndexStore), so the compare can never
    * read assignments written by a different fit. */
  private val dynamicOracle =
    scala.collection.concurrent.TrieMap.empty[(String, String), String]

  /** Oracles as Verify should dump them for `dir`: static entries
    * plus this process's dynamic entries for exactly that dataset. */
  def oracleFor(dir: String): Map[String, String] =
    staticOracle ++ dynamicOracle.toMap.collect {
      case ((name, d), sql) if d == dir => name -> sql
    }

  def simIvfAnn(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val paths = graft.sources.IndexStore.ensureIvf(s, dir)
    val (assigned, probes, query) = ivfTopology(s, dir)
    dynamicOracle(("sim_ivf_ann", dir)) =
      s"""WITH e AS (SELECT vec_id, label, e, CAST(cell AS INTEGER) AS cell
         | FROM read_parquet('${paths.assignments}/*/*.parquet',
         |                   hive_partitioning=1)),
         |q AS (SELECT e AS qe FROM e WHERE vec_id = 0)
         |SELECT vec_id, label, list_cosine_similarity(e, qe) AS cosine
         |FROM e CROSS JOIN q
         |WHERE vec_id <> 0 AND cell IN (${probes.mkString(", ")})
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin
    // 1-row broadcast of the query vector, already fetched from the
    // index by ivfTopology (not re-read from embeddings, and not a
    // second full scan of the assignments table for one row): the
    // collected doubles re-enter the plan as exact binary values, so
    // both engines rank the SAME stored doubles — the
    // bitwise-agreement discipline sim_brute_topk established
    val qe = {
      val spark = s
      import spark.implicits._
      Seq(Tuple1(query.toSeq)).toDF("qe")
    }
    assigned
      .filter(col("cell")
        .isin(probes.map(Integer.valueOf).toIndexedSeq: _*))
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qe))
      .select(col("vec_id"), col("label"),
        expr("cosine_sim(e, qe)").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** Query-batch size for [[simIvfBatch]] (one serving batch).
    * Interpolated into the dynamic oracle. */
  val BatchQueries = 8L

  /** Neighbors returned per batched query. */
  val BatchK = 5

  /** BATCHED IVF serving (r17) — the realistic 100 TB vector-serving
    * shape: ANN tiers amortize index reads over a BATCH of queries,
    * not one probe at a time. The driver picks each query's
    * [[graft.sources.IndexStore.IvfNprobe]] probe cells from the
    * 16-row centroid root (index metadata — the only driver data),
    * then ONE plan serves the whole batch: the assignments scan is
    * partition-pruned to the UNION of probed cells, each candidate
    * row joins the (query, cell) probe pairs on `cell` (a broadcast
    * literal — a row fans out only to the queries that probed its
    * cell), the query vectors ride a second broadcast, and the
    * per-query top-k runs on the bounded-heap [[graft.plans
    * .TopKPerGroup]] — partial heaps map-side, ≤ k rows per query
    * per task in the exchange, no global sort.
    *
    * Hash-oracled end-to-end by a dynamic read_parquet twin with the
    * probe pairs interpolated as a VALUES literal: the partition
    * prune, the per-query candidate sets, the cosine chain, and the
    * (cosine DESC, vec_id) total-ordered k-cut all verify in one
    * compare. */
  def simIvfBatch(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val paths = graft.sources.IndexStore.ensureIvf(s, dir)
    val assigned = s.read.parquet(paths.assignments)
    // the batch: vectors 0..BatchQueries-1, fetched from the index
    val batch = assigned.filter(col("vec_id") < BatchQueries)
      .select(col("vec_id"), col("e")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    // the root read: per query, the IvfNprobe nearest cells
    val cents = s.read.parquet(paths.centroids).collect()
      .map(r => (r.getInt(r.fieldIndex("cell")),
        r.getSeq[Double](r.fieldIndex("centroid")).toArray))
    val probePairs: Seq[(Long, Int)] = batch.toSeq.flatMap {
      case (qid, qv) =>
        cents.map { case (cell, c) =>
          var d = 0.0; var j = 0
          while (j < c.length) {
            val diff = c(j) - qv(j); d += diff * diff; j += 1
          }
          (cell, d)
        }.sortBy(_._2).take(graft.sources.IndexStore.IvfNprobe)
          .map(p => (qid, p._1)).toSeq
    }
    val valuesSql = probePairs
      .map { case (q, c) => s"(CAST($q AS BIGINT), $c)" }
      .mkString(", ")
    dynamicOracle(("sim_ivf_batch", dir)) =
      s"""WITH e AS (SELECT vec_id, label, e, CAST(cell AS INTEGER) AS cell
         | FROM read_parquet('${paths.assignments}/*/*.parquet',
         |                   hive_partitioning=1)),
         |probes AS (SELECT * FROM (VALUES $valuesSql)
         |           v(query_id, cell)),
         |q AS (SELECT vec_id AS query_id, e AS qe FROM e
         |      WHERE vec_id < $BatchQueries),
         |cand AS (SELECT p.query_id, c.vec_id, c.label,
         |           list_cosine_similarity(c.e, q.qe) AS cosine
         |         FROM e c
         |         JOIN probes p ON c.cell = p.cell
         |         JOIN q ON q.query_id = p.query_id
         |         WHERE c.vec_id <> p.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY cosine DESC, vec_id) AS rk FROM cand)
         |SELECT query_id, vec_id, label, cosine
         |FROM r WHERE rk <= $BatchK""".stripMargin
    val spark = s
    import spark.implicits._
    val probesDf = probePairs.toDF("query_id", "cell")
    val queriesDf = batch.toSeq.map { case (q, v) => (q, v.toSeq) }
      .toDF("query_id", "qe")
    val cand = assigned
      .filter(col("cell").isin(
        probePairs.map(_._2).distinct.map(Integer.valueOf): _*))
      .join(broadcast(probesDf), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(queriesDf), "query_id")
      .select(col("query_id"), col("vec_id"), col("label"),
        expr("cosine_sim(e, qe)").as("cosine"))
    graft.plans.TopKPerGroup(cand, Seq("query_id"), "cosine",
      descending = true, Seq("vec_id"), BatchK)
  }

  /** Quantization scale for the IVF drift census: per-component
    * residuals (x − c) quantized to 1e-4 before squaring, so the
    * census is pure integer arithmetic — exact in any accumulation
    * order, hash-identical in DuckDB. Residuals are ≤ 2 in magnitude
    * (unit-norm data, centroids inside the ball), so q² ≤ 4e8 and a
    * 64-dim vector contributes ≤ 2.6e10 — long-safe per cell to
    * ~3e8 members. */
  val IvfDriftScale = 10000L

  /** IVF maintenance drift census (VERDICT r13 task #6): per cell,
    * the member count and the mean quantized squared distance to the
    * cell's persisted centroid. This is the statistic a 100 TB index
    * watches to decide when incremental appends ([[
    * graft.sources.IndexStore.appendIvf]]) have drifted the data far
    * enough from the frozen quantizer to warrant a re-fit. Served
    * entirely from the persisted index (assignments ⋈ broadcast
    * 16-row centroid root — the base table is never touched), and
    * oracle-certified by a dynamic read_parquet twin over the same
    * files, so a hash match certifies the INCREMENTALLY-BUILT index
    * content — base rows and appended delta rows alike. */
  def simIvfDrift(s: SparkSession, dir: String): DataFrame = {
    val paths = graft.sources.IndexStore.ensureIvf(s, dir)
    dynamicOracle(("sim_ivf_drift", dir)) =
      s"""WITH a AS (SELECT vec_id, e, CAST(cell AS INTEGER) AS cell
         | FROM read_parquet('${paths.assignments}/*/*.parquet',
         |                   hive_partitioning=1)),
         |c AS (SELECT cell, centroid
         |      FROM read_parquet('${paths.centroids}/*.parquet')),
         |q AS (SELECT a.cell,
         |        CAST(round((e[CAST(i AS INTEGER)]
         |          - centroid[CAST(i AS INTEGER)])
         |          * $IvfDriftScale) AS BIGINT) AS qd
         |      FROM a JOIN c USING (cell)
         |      CROSS JOIN (SELECT unnest(range(1, 65)) AS i)),
         |s2 AS (SELECT cell, CAST(sum(qd * qd) AS BIGINT) AS sum_q2
         |       FROM q GROUP BY cell),
         |n AS (SELECT cell, CAST(count(*) AS BIGINT) AS n FROM a
         |      GROUP BY cell)
         |SELECT cell, n.n AS n, sum_q2, sum_q2 // n.n AS mean_q2
         |FROM n JOIN s2 USING (cell)""".stripMargin
    val cents = s.read.parquet(paths.centroids)
    s.read.parquet(paths.assignments)
      .join(broadcast(cents), "cell")
      .withColumn("q2", expr(
        s"aggregate(zip_with(e, centroid, (x, c) -> " +
          s"cast(round((x - c) * $IvfDriftScale) as bigint) * " +
          s"cast(round((x - c) * $IvfDriftScale) as bigint)), " +
          "0L, (a, y) -> a + y)"))
      .groupBy(col("cell").cast("int").as("cell"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("q2")).cast("long").as("sum_q2"))
      .select(col("cell"), col("n"), col("sum_q2"),
        expr("sum_q2 div n").as("mean_q2"))
  }

  /** IVF-SQ8 serving composition (the FAISS `IVF…,SQ8` workhorse
    * shape, composed from two already-certified pieces): the
    * PERSISTED IVF index prunes the candidate set to the `nprobe`
    * probed cells, the SQ8 int8 dot (identical quantize/int-dot/
    * approx-cos chain to [[simQuantizeTopK]]) cuts those candidates
    * to [[RescoreCandidates]], and only the survivors pay the exact
    * float cosine. At 100 TB this is THE vector-serving plan: the
    * coarse index bounds what is read (partition prune to probed
    * cells), the 8×-smaller int8 codes bound what is scanned, the
    * float originals are touched for ~30 rows.
    *
    * Fully hash-oracled end-to-end by a dynamic read_parquet twin
    * over the persisted index: quantization is deterministic
    * (sim_quantize_int8's certified formula), the int64 dots are
    * exact, the cuts are total-ordered — so cell prune + SQ8 cut +
    * rescore all verify in one compare. */
  def simIvfSq8(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val paths = graft.sources.IndexStore.ensureIvf(s, dir)
    val (assigned, probes, query) = ivfTopology(s, dir)
    dynamicOracle(("sim_ivf_sq8", dir)) =
      s"""WITH e AS (SELECT vec_id, label, e, CAST(cell AS INTEGER) AS cell
         | FROM read_parquet('${paths.assignments}/*/*.parquet',
         |                   hive_partitioning=1)),
         |cand0 AS (SELECT vec_id, label, e FROM e
         |          WHERE vec_id <> 0 AND cell IN (${probes.mkString(", ")})),
         |qrow AS (SELECT e AS qe FROM e WHERE vec_id = 0),
         |sc AS (SELECT vec_id, label, e,
         |         list_max(list_transform(e, x -> abs(x))) AS scale
         |       FROM cand0),
         |qv AS (SELECT vec_id, label, e,
         |         list_transform(e, x -> CASE WHEN scale > 0
         |           THEN CAST(round(x / scale * 127) AS INTEGER)
         |           ELSE 0 END) AS q
         |       FROM sc),
         |qsc AS (SELECT qe,
         |          list_max(list_transform(qe, x -> abs(x))) AS qscale
         |        FROM qrow),
         |qq AS (SELECT qe, list_transform(qe, x -> CASE WHEN qscale > 0
         |         THEN CAST(round(x / qscale * 127) AS INTEGER)
         |         ELSE 0 END) AS qq
         |       FROM qsc),
         |d AS (SELECT vec_id, label, e,
         |        CAST(list_sum(list_transform(range(1, 65),
         |          i -> CAST(q[i] AS BIGINT) * qq[i])) AS BIGINT) AS dot_q,
         |        CAST(list_sum(list_transform(range(1, 65),
         |          i -> CAST(q[i] AS BIGINT) * q[i])) AS BIGINT) AS nq_a,
         |        CAST(list_sum(list_transform(range(1, 65),
         |          i -> CAST(qq[i] AS BIGINT) * qq[i])) AS BIGINT) AS nq_q
         |      FROM qv CROSS JOIN qq),
         |a AS (SELECT vec_id, label, e,
         |        CASE WHEN nq_a > 0 THEN CAST(dot_q AS DOUBLE) /
         |          (sqrt(CAST(nq_a AS DOUBLE)) * sqrt(CAST(nq_q AS DOUBLE)))
         |        ELSE -1.0 END AS approx_cos
         |      FROM d),
         |top AS (SELECT vec_id, label, e FROM a
         |        ORDER BY approx_cos DESC, vec_id
         |        LIMIT $RescoreCandidates)
         |SELECT vec_id, label, list_cosine_similarity(t.e, qrow.qe)
         |  AS cosine
         |FROM top t CROSS JOIN qrow
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin
    def quantize(e: Column): Column = {
      val scale = array_max(transform(e, x => abs(x)))
      when(scale > 0,
        transform(e, x => round(x / scale * 127).cast("int")))
        .otherwise(transform(e, _ => lit(0)))
    }
    def intDot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x * y).cast("long")),
        lit(0L), (acc, x) => acc + x)
    // the query vector re-enters the plan as its exact stored
    // doubles (fetched from the index by ivfTopology) and is
    // quantized by the SAME expressions as the candidates — both
    // engines quantize identical doubles identically
    val qdf = {
      val spark = s
      import spark.implicits._
      Seq(Tuple1(query.toSeq)).toDF("qe")
    }
    val q0 = qdf.select(col("qe"), quantize(col("qe")).as("qq"))
    val cand = assigned
      .filter(col("cell")
        .isin(probes.map(Integer.valueOf).toIndexedSeq: _*))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"), col("e"),
        quantize(col("e")).as("q"))
    val survivors = cand.crossJoin(broadcast(q0))
      .withColumn("dot_q", intDot(col("q"), col("qq")))
      .withColumn("nq_a", intDot(col("q"), col("q")))
      .withColumn("nq_q", intDot(col("qq"), col("qq")))
      .withColumn("approx_cos",
        when(col("nq_a") > 0,
          col("dot_q").cast("double") /
            (sqrt(col("nq_a").cast("double")) *
              sqrt(col("nq_q").cast("double"))))
          .otherwise(lit(-1.0d)))
      .orderBy(col("approx_cos").desc, col("vec_id"))
      .limit(RescoreCandidates)
    survivors
      .select(col("vec_id"), col("label"),
        expr("cosine_sim(e, qe)").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** Per-component quantization scale for the PQ ADC lookup table:
    * LUT entries are Σᵢ round(cᵢ·qᵢ·scale) — integer sums of
    * per-component rounds, exact in any accumulation order in both
    * engines (the IvfDriftScale discipline). Components are ≤ 2 in
    * magnitude, so a term is ≤ 4e6, a subspace entry ≤ 3.2e7, and a
    * vector's full ADC sum ≤ 2.6e8 — comfortably long-safe. */
  val PqLutScale = 1000000L

  /** Refine pool for the IVFPQ serve — deliberately larger than the
    * SQ8 [[RescoreCandidates]]: a 32-bit PQ code is a far coarser
    * rank approximation than 512-bit SQ8, but its ADC candidates
    * cost only [[graft.sources.IndexStore.PqM]] integer LUT adds
    * each, so the standard FAISS trade is to widen the refine pool
    * (~10×k) rather than spend bits. 100 floats rescored is still
    * O(k) work against a billion-vector collection. */
  val PqRefineCandidates = 100

  /** IVFPQ serving with asymmetric-distance computation and exact
    * refine (FAISS `IVF16,PQ8` + refine — THE 100 TB billion-vector
    * serving shape, with each stage bounding the next):
    *
    *   1. the IVF root prunes to the `nprobe` probed cells — a
    *      partition-pruned read of the CODES table, whose rows are
    *      [[graft.sources.IndexStore.PqM]] 4-bit codes (~8 bytes a
    *      vector vs 512 for floats — the scan is 64× smaller than a
    *      float scan of the same cells);
    *   2. ADC: the query builds a [[graft.sources.IndexStore.PqM]]×
    *      [[graft.sources.IndexStore.PqK]]-entry lookup table (64
    *      rows, from the persisted codebooks — broadcast), and each
    *      candidate's approximate cosine is just PqM integer LUT
    *      additions — no float math per candidate;
    *   3. only the [[PqRefineCandidates]] ADC survivors fetch their
    *      float vectors — from the probed cells of the persisted
    *      ASSIGNMENTS table (partition-pruned again; the base corpus
    *      is absent from the plan) — and pay an exact cosine.
    *
    * Hash-oracled end-to-end by a dynamic read_parquet twin over the
    * same persisted tables: LUT entries are order-free integer sums
    * (per-component quantize-then-add), the ADC total is an exact
    * integer, approx ranking divides exact integers under IEEE ops
    * both engines share, and ties total-order on vec_id — so cell
    * prune, code content (base AND incrementally-appended delta),
    * ADC arithmetic, and the refine all verify in one compare. */
  def simIvfPq(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val ivf = graft.sources.IndexStore.ensureIvf(s, dir)
    val pq = graft.sources.IndexStore.ensurePq(s, dir)
    val (assigned, probes, query) = ivfTopology(s, dir)
    val M = graft.sources.IndexStore.PqM
    val SubDim = graft.sources.IndexStore.PqSubDim
    dynamicOracle(("sim_ivf_pq", dir)) =
      s"""WITH cb AS (SELECT m, code, centroid
         | FROM read_parquet('${pq.codebooks}/*.parquet')),
         |co AS (SELECT vec_id, label, codes, CAST(cell AS INTEGER) AS cell
         | FROM read_parquet('${pq.codes}/*/*.parquet',
         |                   hive_partitioning=1)),
         |av AS (SELECT vec_id, e, CAST(cell AS INTEGER) AS cell
         | FROM read_parquet('${ivf.assignments}/*/*.parquet',
         |                   hive_partitioning=1)),
         |q AS (SELECT e AS qe FROM av WHERE vec_id = 0),
         |qn AS (SELECT CAST(list_sum(list_transform(qe,
         |         x -> CAST(round(x * x * $PqLutScale) AS BIGINT)))
         |         AS BIGINT) AS qn2 FROM q),
         |lut AS (SELECT m, code,
         |    CAST(list_sum(list_transform(range(1, ${SubDim + 1}),
         |      i -> CAST(round(centroid[CAST(i AS INTEGER)]
         |        * qe[CAST(m * $SubDim + i AS INTEGER)]
         |        * $PqLutScale) AS BIGINT))) AS BIGINT) AS pdot_q,
         |    CAST(list_sum(list_transform(centroid,
         |      c -> CAST(round(c * c * $PqLutScale) AS BIGINT)))
         |      AS BIGINT) AS pn2_q
         |  FROM cb CROSS JOIN q),
         |cand AS (SELECT vec_id, label, m,
         |    codes[CAST(m + 1 AS INTEGER)] AS code
         |  FROM co CROSS JOIN
         |    (SELECT unnest(range(0, $M)) AS m)
         |  WHERE cell IN (${probes.mkString(", ")}) AND vec_id <> 0),
         |d AS (SELECT vec_id, label,
         |    CAST(sum(pdot_q) AS BIGINT) AS dot_q,
         |    CAST(sum(pn2_q) AS BIGINT) AS n2_q
         |  FROM cand JOIN lut USING (m, code)
         |  GROUP BY vec_id, label),
         |a AS (SELECT vec_id, label,
         |    CASE WHEN n2_q > 0 THEN CAST(dot_q AS DOUBLE) /
         |      (sqrt(CAST(n2_q AS DOUBLE)) * sqrt(CAST(qn2 AS DOUBLE)))
         |    ELSE -1.0 END AS approx_cos
         |  FROM d CROSS JOIN qn),
         |top AS (SELECT vec_id, label FROM a
         |        ORDER BY approx_cos DESC, vec_id
         |        LIMIT $PqRefineCandidates)
         |SELECT t.vec_id AS vec_id, t.label AS label,
         |  list_cosine_similarity(av.e, q.qe) AS cosine
         |FROM top t JOIN av ON t.vec_id = av.vec_id CROSS JOIN q
         |WHERE av.cell IN (${probes.mkString(", ")})
         |ORDER BY cosine DESC, t.vec_id LIMIT 10""".stripMargin
    // the query vector re-enters the plan as its exact stored
    // doubles, with its quantized norm computed IN-PLAN by the same
    // expression family as the oracle's list_transform
    val qdf = {
      val spark = s
      import spark.implicits._
      Seq(Tuple1(query.toSeq)).toDF("qe")
    }.select(col("qe"), expr(
      s"aggregate(transform(qe, x -> cast(round(x * x * $PqLutScale) " +
        "as bigint)), 0L, (a, y) -> a + y)").as("qn2"))
    val lut = s.read.parquet(pq.codebooks)
      .crossJoin(broadcast(qdf))
      .select(col("m"), col("code"),
        expr(s"aggregate(zip_with(centroid, " +
          s"slice(qe, m * $SubDim + 1, $SubDim), " +
          s"(c, q) -> cast(round(c * q * $PqLutScale) as bigint)), " +
          "0L, (a, y) -> a + y)").as("pdot_q"),
        expr(s"aggregate(transform(centroid, " +
          s"c -> cast(round(c * c * $PqLutScale) as bigint)), " +
          "0L, (a, y) -> a + y)").as("pn2_q"),
        col("qn2"))
    val survivors = s.read.parquet(pq.codes)
      .filter(col("cell")
        .isin(probes.map(Integer.valueOf).toIndexedSeq: _*))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("label"),
        posexplode(col("codes")).as(Seq("m", "code")))
      .join(broadcast(lut), Seq("m", "code"))
      .groupBy(col("vec_id"))
      .agg(sum(col("pdot_q")).cast("long").as("dot_q"),
        sum(col("pn2_q")).cast("long").as("n2_q"),
        first(col("label")).as("label"),
        first(col("qn2")).as("qn2"))
      .withColumn("approx_cos",
        when(col("n2_q") > 0,
          col("dot_q").cast("double") /
            (sqrt(col("n2_q").cast("double")) *
              sqrt(col("qn2").cast("double"))))
          .otherwise(lit(-1.0d)))
      .orderBy(col("approx_cos").desc, col("vec_id"))
      .limit(PqRefineCandidates)
    // refine: float vectors for the ≤PqRefineCandidates survivors,
    // fetched from the probed-cell partitions of the index (the
    // broadcast side is the survivors — the pruned assignments scan
    // never shuffles)
    assigned
      .filter(col("cell")
        .isin(probes.map(Integer.valueOf).toIndexedSeq: _*))
      .select(col("vec_id"), col("e"))
      .join(broadcast(survivors.select(col("vec_id"), col("label"))),
        "vec_id")
      .crossJoin(broadcast(qdf.select(col("qe"))))
      .select(col("vec_id"), col("label"),
        expr("cosine_sim(e, qe)").as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** PQ maintenance census (the [[simIvfDrift]] statistic at
    * subspace granularity): per (subspace m, code), the usage count
    * and the mean quantized squared residual between members'
    * subvectors and their codebook centroid — the distortion a
    * deployed PQ index watches to decide when incremental appends
    * warrant re-training a codebook. Served entirely from persisted
    * index tables (codes ⋈ assignments on vec_id, codebooks
    * broadcast); the dynamic oracle recomputes it from the same
    * files, so a hash match certifies the code content the
    * incremental build wrote — base and appended delta alike. */
  def simPqStats(s: SparkSession, dir: String): DataFrame = {
    val ivf = graft.sources.IndexStore.ensureIvf(s, dir)
    val pq = graft.sources.IndexStore.ensurePq(s, dir)
    val M = graft.sources.IndexStore.PqM
    val SubDim = graft.sources.IndexStore.PqSubDim
    dynamicOracle(("sim_pq_stats", dir)) =
      s"""WITH cb AS (SELECT m, code, centroid
         | FROM read_parquet('${pq.codebooks}/*.parquet')),
         |co AS (SELECT vec_id, codes
         | FROM read_parquet('${pq.codes}/*/*.parquet',
         |                   hive_partitioning=1)),
         |av AS (SELECT vec_id, e
         | FROM read_parquet('${ivf.assignments}/*/*.parquet',
         |                   hive_partitioning=1)),
         |mel AS (SELECT vec_id, m, codes[CAST(m + 1 AS INTEGER)] AS code
         |        FROM co CROSS JOIN
         |          (SELECT unnest(range(0, $M)) AS m)),
         |r AS (SELECT mel.m, mel.code,
         |    CAST(list_sum(list_transform(range(1, ${SubDim + 1}),
         |      i -> CAST(round((e[CAST(mel.m * $SubDim + i AS INTEGER)]
         |          - centroid[CAST(i AS INTEGER)]) * $IvfDriftScale)
         |        AS BIGINT)
         |        * CAST(round((e[CAST(mel.m * $SubDim + i AS INTEGER)]
         |          - centroid[CAST(i AS INTEGER)]) * $IvfDriftScale)
         |        AS BIGINT))) AS BIGINT) AS q2
         |  FROM mel JOIN av USING (vec_id)
         |  JOIN cb ON cb.m = mel.m AND cb.code = mel.code)
         |SELECT CAST(m AS BIGINT) AS m, CAST(code AS BIGINT) AS code,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(q2) AS BIGINT) AS sum_q2,
         |  CAST(sum(q2) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_q2
         |FROM r GROUP BY m, code""".stripMargin
    val cb = s.read.parquet(pq.codebooks)
    s.read.parquet(pq.codes)
      .select(col("vec_id"),
        posexplode(col("codes")).as(Seq("m", "code")))
      .join(s.read.parquet(ivf.assignments)
        .select(col("vec_id"), col("e")), "vec_id")
      .join(broadcast(cb), Seq("m", "code"))
      .withColumn("q2", expr(
        s"aggregate(zip_with(slice(e, m * $SubDim + 1, $SubDim), " +
          s"centroid, (x, c) -> " +
          s"cast(round((x - c) * $IvfDriftScale) as bigint) * " +
          s"cast(round((x - c) * $IvfDriftScale) as bigint)), " +
          "0L, (a, y) -> a + y)"))
      .groupBy(col("m").cast("long").as("m"),
        col("code").cast("long").as("code"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("q2")).cast("long").as("sum_q2"))
      .select(col("m"), col("code"), col("n"), col("sum_q2"),
        expr("sum_q2 div n").as("mean_q2"))
  }

  /** Hard ceiling on the input size of [[simExactPairs]]. The
    * cartesian baseline is O(n²) BY DESIGN — at 50k rows that's
    * 1.25e9 pair evaluations, the largest this harness should ever
    * absorb. Refusing loudly above the ceiling means the baseline
    * can never silently burn a cluster when someone points it at a
    * production-scale table; the scale paths are the LSH/IVF
    * variants. */
  val ExactPairsMaxRows: Long = 50000L

  /** Exact all-pairs cosine top-20: the small-scale correctness
    * baseline for the bucketed near-dup paths. Deliberately a
    * cartesian pair join — this query exists to pin exact semantics
    * at oracle scale; the 100 TB path is the LSH/IVF variants above
    * (documented trade: exactness here, boundedness there). Guarded
    * by [[ExactPairsMaxRows]]: throws rather than going quietly
    * quadratic (VERDICT r4/r5 weak-list item). */
  def simExactPairs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .transform(Derived.slot("exact_pairs", s, dir))
      // consumed by both self-join sides
    val n = emb.count() // cheap: counts the checkpointed blocks
    require(n <= ExactPairsMaxRows,
      s"sim_exact_pairs is an O(n²) cartesian baseline capped at " +
        s"$ExactPairsMaxRows input rows; got $n. Use sim_lsh_ann / " +
        s"sim_ivf_ann (bounded candidate generation) at scale.")
    val a = emb.select(col("vec_id").as("id_a"), col("e").as("e_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("e").as("e_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine("e_a", "e_b").as("cosine"))
      .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
      .limit(20)
  }

  // =================================================================
  // dd_edjoin — prefix-filtered edit-distance similarity join
  // =================================================================

  /** Comparison key: the first [[EdJoinKeyLen]] characters of each
    * document (all corpus docs are ≥ 44 chars, so keys are
    * fixed-length). Interpolated into the oracle SQL. */
  val EdJoinKeyLen = 24

  /** Maximum edit distance for a pair to be emitted. */
  val EdJoinMaxDist = 2

  /** q-gram width for the prefix filter. The pigeonhole bound is
    * lossless for ANY q; the knob trades prefix length (d·q + 1 rows
    * per doc) against gram entropy (selectivity of each prefix
    * bucket). Measured on the 15k rehearsal corpus over the collapsed
    * key relation: q=3 → 1.90M candidates, q=4 → 0.90M, q=5 → 1.01M —
    * the low-entropy word corpus needs the wider gram, and q=4 is the
    * knee. (Keys must stay ≥ d·q + q chars for the bound to hold;
    * they are fixed at 24.) */
  val EdJoinQ = 4

  // (The Ed-Join prefix length — one edit destroys at most q
  // overlapping q-grams, so strings within distance d share at least
  // |G| − d·q grams, hence their (d·q + 1)-element prefixes under ANY
  // fixed global order intersect; lossless, no tuning knob — is
  // derived inside edJoinCandidates as `prefixLen` from its q
  // parameter, so there is no module-level constant to drift.)

  /** Edit-distance similarity join (Ed-Join, Xiao/Wang/Lin VLDB'08):
    * all document pairs whose [[EdJoinKeyLen]]-char key prefixes are
    * within Levenshtein distance [[EdJoinMaxDist]] — the record-
    * linkage / fuzzy-dedup shape that a naive engine runs as an N²
    * nested loop of O(len²) dynamic programs.
    *
    * Plan: (1) POSITIONAL q-grams per key, hashed to 8 bytes
    * map-side — element = (gram, position), which both preserves
    * multiplicity (the count-filter bound is a multiset statement)
    * and enables Ed-Join's location filter; (2) global
    * gram-frequency census (one agg — the ordering that makes
    * prefixes maximally selective: rarest grams first); (3) per-doc
    * prefix = first d·q + 1 elements under the global
    * (freq, gram, pos) order — a row_number window over ≤ 22 rows
    * per doc; (4) candidate pairs = self-equi-join of prefixes on
    * gram with |Δpos| ≤ d — a superset of the answer (pigeonhole +
    * d-bounded position shift), never a cartesian; (5) verify
    * survivors with ONE codegen'd banded `levenshtein` per distinct
    * pair.
    *
    * 100 TB shape: every shuffle carries 8-byte gram hashes or
    * doc-id pairs, never text; bucket sizes are bounded because
    * frequency-ranked prefixes put each doc in its RAREST grams'
    * buckets (the same hot-bucket discipline as dd_ngram_jaccard's
    * rarest-gram routing). The only per-pair work is the final
    * verify, on candidates the filter already proved share a rare
    * gram. Keys shorter than d·q + q (where the pigeonhole bound
    * degenerates) are routed through a length-bounded all-pairs
    * fallback inside [[edJoinCandidates]] (ADVICE r16), so the
    * lossless claim holds on ANY corpus, not just ones with long
    * keys. The filter is deliberately UNCAPPED (a hot-bucket drop
    * would break the lossless contract the all-pairs oracle
    * certifies), so on an exact-duplicate pile the candidate set is
    * the pile's true n² distance-0 pairs — output-bound, not
    * filter-bound; the pipeline discipline is exact dedup
    * (dd_exact_group) BEFORE fuzzy join, same as every production
    * record-linkage stack. ScaleRehearsal measures candidates vs
    * true pairs to pin the filter's precision.
    *
    * r16: that discipline is now INSIDE the operator — exact-key
    * CLASS COLLAPSE. Identical keys form distance-0 equivalence
    * classes, and ed(a, b) depends only on the key strings, so the
    * prefix filter and the levenshtein verify run once per DISTINCT
    * key (representative = min doc_id per class); doc-level pairs
    * are then recovered exactly: inter-class cross products inherit
    * the representatives' distance, intra-class pairs are distance 0
    * by definition. Lossless in both directions, and it removes the
    * duplicate-pile failure mode from the filter itself: a c-member
    * exact-dup pile contributes ONE prefix row set instead of c
    * copies in every bucket (c² candidate blowup → 0), and c·(c−1)/2
    * verifies become zero. The classic "length filter" companion is
    * a no-op here (keys are fixed-length by construction), so the
    * collapse is the lossless candidate squeeze that actually bites
    * on this key space. */
  def ddEdJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE shuffle derives the class structure: kid = min doc_id per
    // key (window, not groupBy+join-back), materialized once and fed
    // to all four consumers below — the fixed-overhead discipline
    // that keeps the collapse cheap when the corpus has few dups
    val members = edJoinKeys(s, dir)
      .withColumn("kid",
        min(col("doc_id")).over(Window.partitionBy(col("k"))))
      .transform(Derived.slot("edjoin_members", s, dir))
    val reps = members.filter(col("doc_id") === col("kid"))
      .select(col("doc_id"), col("k"))
    // one candidate row + one banded-levenshtein verify per DISTINCT
    // key pair (the -1-on-bail threshold form, not the full matrix).
    // r22 note: fusing the verify INTO candidate emission (keys
    // carried on the prefix rows, levenshtein in the join projection,
    // distinct over survivors only) was built and measured 1.7×
    // SLOWER at sf0.1 (classPairs core 1.2 → 2.9 s, 5-run steady
    // state): carrying the key strings through the prefix exchange
    // cost ~0.45 s and the inline verify ran in the join's narrow
    // output stage, while this shape's verify tail (distinct + two
    // broadcast key joins + levenshtein) measures ~0.2 s — the
    // candidate exchanges it would remove are not the wall at any
    // measured scale. Rejected per the measure-first rule; the win
    // that survived measurement is the checkpointed prefix inside
    // edJoinCandidates (computed once instead of once per self-join
    // side).
    val classPairs = edJoinCandidates(s, dir, reps, slot = "edjoin_prefix")
      .join(reps.select(col("doc_id").as("id_a"), col("k").as("ka")),
        "id_a")
      .join(reps.select(col("doc_id").as("id_b"), col("k").as("kb")),
        "id_b")
      .select(col("id_a").as("kid_a"), col("id_b").as("kid_b"),
        levenshtein(col("ka"), col("kb"), EdJoinMaxDist).as("dist"))
      .filter(col("dist") >= 0)
    val mem = members.select(col("kid"), col("doc_id"))
    // inter-class expansion: classes are disjoint, so da ≠ db and the
    // least/greatest projection restores the id_a < id_b contract
    val inter = classPairs
      .join(mem.select(col("kid").as("kid_a"),
        col("doc_id").as("da")), "kid_a")
      .join(mem.select(col("kid").as("kid_b"),
        col("doc_id").as("db")), "kid_b")
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), col("dist"))
    // intra-class: every pair inside an exact-dup pile is distance 0
    val intra = mem.as("a")
      .join(mem.as("b"),
        col("a.kid") === col("b.kid") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        lit(0).as("dist"))
    inter.unionByName(intra)
  }

  /** The [[ddEdJoin]] comparison keys. */
  private[operators] def edJoinKeys(s: SparkSession,
      dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        substring(col("text"), 1, EdJoinKeyLen).as("k"))

  /** One representative (min doc_id) per DISTINCT key — the collapsed
    * relation the r16 [[ddEdJoin]] actually feeds the prefix filter.
    * Exposed so ScaleRehearsal measures the candidate count of the
    * pipeline as it runs, not the pre-collapse shape. */
  private[operators] def edJoinRepKeys(s: SparkSession,
      dir: String): DataFrame =
    edJoinKeys(s, dir).groupBy(col("k"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("k"))

  /** [[ddEdJoin]] stages 1–4: the prefix-filtered candidate pair
    * set (id_a < id_b, distinct), BEFORE levenshtein verification —
    * exposed so ScaleRehearsal can measure candidate growth and
    * filter precision separately from verify cost.
    *
    * POSITIONAL q-grams (Ed-Join's location filter): an element is
    * (gram, position), and candidates must share a prefix gram at
    * positions within [[EdJoinMaxDist]] — d edits shift any
    * surviving gram by at most d, so the constraint is lossless,
    * and it is what keeps low-entropy key spaces (few distinct
    * grams, many positions) from exploding the candidate set: the
    * same trigram 15 positions apart can never witness a ≤ d-edit
    * pair. Measured on the rehearsal's 500-word-vocab corpus at 50k
    * docs, the position filter cuts candidates 129.6M → 27.9M
    * (4.6×) and end-to-end wall 230 → 23 s (10×, the banded
    * levenshtein compounding); growth exponent 1.17 → 1.03. */
  private[operators] def edJoinCandidates(s: SparkSession, dir: String,
      keys: DataFrame, slot: String, q: Int = EdJoinQ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prefixLen = EdJoinMaxDist * q + 1
    // Pigeonhole floor (ADVICE r16): a key of length L has L−q+1
    // grams and d edits destroy up to d·q of them, so the prefix
    // filter is lossless only for L ≥ d·q + q — a shorter key can
    // lose EVERY gram to d edits and a true near-pair would share no
    // gram at all. Keys under the floor take the all-pairs fallback
    // below instead of a silently lossy filter; on the standard
    // corpora (keys fixed at EdJoinKeyLen = 24) the short pool is
    // empty and the fallback contributes nothing.
    val minLen = EdJoinMaxDist * q + q
    val longKeys = keys.filter(length(col("k")) >= minLen)
    val shortKeys = keys.filter(length(col("k")) < minLen)
    // a short key can only be within d edits of a key no more than d
    // longer, so the fallback partner pool is length-bounded too —
    // the all-pairs block is confined to the short stratum, never
    // the corpus
    val nearShort = keys
      .filter(length(col("k")) < minLen + EdJoinMaxDist)
    val fallback = shortKeys.as("a")
      .join(nearShort.as("b"),
        col("a.doc_id") =!= col("b.doc_id") &&
          abs(length(col("a.k")) - length(col("b.k")))
            <= EdJoinMaxDist)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))
    val grams = longKeys
      .select(col("doc_id"),
        posexplode(expr(s"transform(" +
          s"sequence(1, greatest(length(k) - ${q - 1}, 1)), " +
          s"i -> xxhash64(substring(k, i, $q)))")))
      .select(col("doc_id"), col("pos"), col("col").as("g"))
    val freq = grams.groupBy(col("g")).agg(count(lit(1)).as("nf"))
    val prefixPlan = grams.join(freq, "g")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("nf"), col("g"), col("pos"))))
      .filter(col("rk") <= prefixLen)
      .select(col("doc_id"), col("g"), col("pos"))
    // Both sides of the candidate self-join read the prefix relation;
    // unmaterialized, each side re-runs the gram explode, the
    // frequency census, AND the per-doc ranking window (r22, measured
    // at sf0.1: candidates 0.92 → 0.69 s; the saved recompute grows
    // with the corpus — the census aggregates every gram occurrence).
    // The caller's slot holds one live generation, freed on its next
    // invocation.
    val prefix = Derived.slot(slot, s, dir)(prefixPlan)
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.g") === col("b.g") &&
          abs(col("a.pos") - col("b.pos")) <= EdJoinMaxDist &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .unionByName(fallback)
      .distinct()
  }

  // =================================================================
  // sim_negatives — deterministic contrastive negative sampling
  // =================================================================

  /** Anchor set bound for [[simNegatives]] (one training batch's
    * anchors). Interpolated into the oracle SQL. */
  val NegAnchors = 32L

  /** Negatives drawn per anchor. Interpolated into the oracle SQL. */
  val NegPerAnchor = 5

  /** Contrastive-training negative sampling: for each anchor vector,
    * draw [[NegPerAnchor]] uniform negatives from the vectors of
    * OTHER labels — the in-batch-negatives data prep every
    * embedding/retrieval trainer runs. The draw is the
    * engine-portable md5-60 of the (anchor, candidate) pair string,
    * so the sample is a pure function of the DATA (reproducible
    * across engines, partitionings, and epochs — resume-safe), and
    * per-anchor selection is the smallest-k draws under the
    * (draw, neg_id) total order.
    *
    * 100 TB shape: the anchor batch broadcasts against the corpus
    * scan (never the reverse), the draw is map-side arithmetic, and
    * the per-anchor top-k runs on the bounded-heap [[graft.plans
    * .TopKPerGroup]] — partial heaps map-side, k rows per anchor in
    * the exchange, no global sort, no candidate materialization. */
  def simNegatives(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"))
    val anchors = emb.filter(col("vec_id") < NegAnchors)
      .select(col("vec_id").as("anchor_id"),
        col("label").as("anchor_label"))
    val pairs = emb.join(broadcast(anchors),
        col("label") =!= col("anchor_label"))
      .select(col("anchor_id"), col("vec_id").as("neg_id"),
        graft.core.PortableHash.md5Hash60(
          concat(col("anchor_id").cast("string"), lit(":"),
            col("vec_id").cast("string"))).as("draw"))
    graft.plans.TopKPerGroup(pairs, Seq("anchor_id"), "draw",
      descending = false, Seq("neg_id"), NegPerAnchor)
  }

  // =================================================================
  // sim_centroids — exact per-label embedding centroids
  // =================================================================

  /** Fixed-point scale for centroid sums: 1e6 ≈ float32's ~7 decimal
    * digits. Interpolated into the oracle SQL. */
  val CentroidScale = 1000000L

  /** Per-label embedding centroid as EXACT integer dimension sums:
    * quantize each float element to a scaled long FIRST, then sum —
    * long addition is associative, so the result is independent of
    * partitioning and task order. Summing floats and rounding after
    * would be nondeterministic under shuffle (FP addition isn't
    * associative) — the quantize-before-aggregate order is the whole
    * trick, and the reason this oracle can hash-match at all. The
    * consumer divides sum_q by n for the centroid (kept apart here
    * so the output stays exact integers).
    *
    * 100 TB shape: posexplode fans each vector into 64 rows
    * map-side, but partial aggregation collapses every partition to
    * ≤ |labels| × 64 cells before the exchange — the shuffle carries
    * kilobytes regardless of corpus size. This is the centroid
    * update step of a distributed KMeans iteration, expressed
    * declaratively. */
  def simCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")))
      .select(col("label"), col("pos"),
        round(col("col").cast("double") * CentroidScale)
          .cast("long").as("q"))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))

  // =================================================================
  // dd_containment — asymmetric near-superset detection
  // =================================================================

  /** Per-mille containment threshold: emit (a, b) when
    * |Ga ∩ Gb| / |Ga| ≥ this/1000. Interpolated into the oracle. */
  val ContainmentTauPm = 800L

  /** Hot-postings cap for the candidate join: grams whose global
    * document frequency exceeds this are dropped from the POSTING
    * side (boilerplate grams index nothing useful). The cap never
    * binds on the oracle corpus — the hash-green all-pairs compare
    * certifies that — and at scale it bounds the worst posting
    * list exactly like the LSH hot-bucket discipline. */
  val ContainmentPostingsCap = 64L

  /** Directional containment join: all ORDERED pairs (a, b) with
    * |Ga ∩ Gb| ≥ τ·|Ga| over word-3-gram sets — the asymmetric
    * near-SUPERSET relation symmetric Jaccard cannot see (a doc
    * quoted wholesale inside a larger one scores Jaccard ≈
    * |a|/|b| → 0 but containment 1.0). The dedup policy this feeds:
    * drop the contained doc, keep the superset.
    *
    * Candidate generation is the asymmetric prefix filter: if
    * |Ga ∩ Gb| ≥ τ|Ga|, then among the (|Ga| − ⌈τ|Ga|⌉ + 1) RAREST
    * grams of a (global frequency order), at least one lies in Gb
    * (pigeonhole) — so probing the inverted gram index with only
    * each doc's short rare-prefix is lossless. The probe side is
    * |docs| × prefix rows of 8-byte hashes; the posting side is the
    * capped inverted index; verification is one codegen'd
    * array_intersect per surviving ordered pair.
    *
    * 100 TB shape: the postings table IS the inverted index a
    * production system would persist; probe grams are each doc's
    * rarest, so the equi-join's per-key fanout is small by
    * construction and capped at [[ContainmentPostingsCap]] against
    * boilerplate. Shuffles carry hashes and ids only; full gram
    * arrays travel once, to decorate the verify join. */
  def ddContainment(s: SparkSession, dir: String): DataFrame = {
    graft.functions.IntersectCount.ensureRegistered(s)
    // fanOut: gram hashing + per-doc sort is the dominant cost and
    // would otherwise serialize inside the single-row-group scan task
    val docs = Derived.slot("cont_docs", s, dir)(
      Tables.fanOut(Tables.documents(s, dir), "doc_id")
        .withColumn("words", split(col("text"), " "))
        // sort ONCE per doc so the verify can run the native
        // sorted-merge intersect_count per pair
        .select(col("doc_id"),
          sort_array(transform(wordGramExpr("words", 3),
            g => xxhash64(g))).as("g"))
        .withColumn("na", size(col("g")).cast("long")))
      // grams + postings + both verify sides
    val grams = docs.select(col("doc_id"), col("na"),
      explode(col("g")).as("gr"))
    val freq = grams.groupBy(col("gr")).agg(count(lit(1)).as("nf"))
    containmentServe(s, dir, "cont_classed", docs, freq)
  }

  /** [[ddContainment]] served from the PERSISTED containment index
    * ([[graft.sources.IndexStore.ensureContainment]]): the per-doc
    * sorted gram fingerprints and the additive gram-frequency census
    * are read from the index — the text parse, gram hashing,
    * per-doc sort, and the corpus-wide frequency aggregate (the
    * build-side costs) all vanish from the serve plan, and the
    * documents table is absent from it (ContainmentIndexSpec asserts
    * both). The prefix/postings derivation stays at serve because it
    * depends on GLOBAL frequencies — exactly the part that must be
    * recomputed as the census absorbs deltas; the census itself is
    * partial counts re-summed by key (the graph-index discipline),
    * so the incremental build is lossless by additivity. Shares the
    * scan twin's all-pairs oracle. */
  def ddContainmentIndexed(s: SparkSession, dir: String): DataFrame = {
    graft.functions.IntersectCount.ensureRegistered(s)
    val paths = graft.sources.IndexStore.ensureContainment(s, dir)
    val docs = s.read.parquet(paths.docs)
    val freq = s.read.parquet(paths.freq)
      .groupBy(col("gr")).agg(sum(col("nf")).as("nf"))
    containmentServe(s, dir, "cont_classed_idx", docs, freq)
  }

  /** Stages 2–5 of the containment join, shared by the scan and
    * indexed twins: rare-prefix probes, capped postings, candidate
    * equi-join, intersect_count verify. `docs` must carry
    * (doc_id, g sorted-array, na); `freq` the global (gr, nf).
    *
    * Exact-class collapse (r21, the cont_serve GC wall — VERDICT r20
    * task #2): docs with IDENTICAL gram arrays (exact re-uploads,
    * the rehearsal's planted dup piles) collapse to their min-id
    * representative BEFORE the prefix/postings/verify pipeline, and
    * rep-level verdicts expand back to member pairs at the end.
    * Containment is a pure function of the two gram sets, so every
    * member pair inherits its class pair's (n_shared, na,
    * containment) verbatim, and intra-class ordered pairs are the
    * constant (na, na, 1.0) — `intersect_count(g, g)` walks two
    * identical arrays in lockstep, counting every element. The
    * output is row-identical to the uncollapsed pipeline (the shared
    * all-pairs oracle certifies it); what changes is that the
    * array-carrying verify join runs once per CLASS pair instead of
    * once per DOC pair — at the 150k rehearsal point the doc-pair
    * verify materialized ~200k gram-array pairs and spent 2/3 of an
    * 89 s wall in stop-the-world GC; class pairs stay corpus-shaped.
    * Cost where no duplicates exist: one extra hash exchange of the
    * doc fingerprints (the window below) and two slim id joins. */
  private def containmentServe(s: SparkSession, dir: String,
      classedSlot: String, docs0: DataFrame, freq: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r22 session 2: the class window (min doc_id over partition-by-
    // gram-array) feeds EIGHT branches of the final plan — members
    // rides both expansion joins and both intra sides (4), docs rides
    // the gram explode (prefix + postings) and both verify decorations
    // (4) — and Spark plans each branch its own Window + Exchange over
    // the full array-carrying fingerprint table (the r21 plan dump
    // shows 9 Window nodes, 0 ReusedExchange). Slot-checkpointing the
    // classed table runs that exchange+sort ONCE per invocation; every
    // branch then block-scans the materialized rows. Fresh per
    // invocation (a [[graft.core.Derived.slot]]), shared by both twins
    // through their own slot names.
    val classed = Derived.slot(classedSlot, s, dir)(
      docs0.withColumn("rep",
        min(col("doc_id")).over(Window.partitionBy(col("g")))))
    // (doc_id → rep, na): slim expansion map, one row per doc
    val members = classed.select(col("doc_id"), col("rep"), col("na"))
    val docs = classed.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("g"), col("na"))
    val grams = docs.select(col("doc_id"), col("na"),
      explode(col("g")).as("gr"))
    val prefix = grams.join(freq, "gr")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("nf"), col("gr"))))
      .filter(col("rk") <=
        col("na") - expr(s"($ContainmentTauPm * na + 999) div 1000")
          + 1)
      .select(col("doc_id").as("id_a"), col("na"), col("gr"))
    // Hot-gram cap (ADVICE r12): TRUNCATE each posting list to its
    // first [[ContainmentPostingsCap]] docs (deterministic doc_id
    // order, bounded-heap TopKPerGroup — no full sort of a
    // boilerplate gram's postings) instead of dropping the gram
    // entirely. Dropping left a doc whose whole rare-prefix is
    // high-df boilerplate with ZERO usable probe grams — silently
    // lossy; truncation keeps every gram probeable. The fixture
    // corpus never reaches the cap (the all-pairs oracle certifies
    // this), so results are unchanged where the cap doesn't bind.
    val posts = graft.plans.TopKPerGroup(
        grams.select(col("gr"), col("doc_id"), col("na")),
        Seq("gr"), "doc_id", descending = false, Seq.empty,
        ContainmentPostingsCap.toInt)
      .select(col("gr"), col("doc_id").as("id_b"),
        col("na").as("nb"))
    // Length prune (r17, lossless): containment_A = shared/na ≥ τ
    // forces shared ≥ ⌈τ·na⌉, and shared ≤ nb — so a candidate with
    // nb·1000 < τ·na can never pass the verify. Both lengths ride
    // the slim candidate rows, so the prune fires BEFORE the
    // gram-array joins ship the heavy payloads. Measured NEUTRAL on
    // the length-uniform rehearsal corpus (8.9 vs 9.3 s at 50k —
    // candidates there are gram-frequency-dominated); it exists for
    // length-SKEWED corpora (short quotes probed against long
    // documents), where the asymmetry of the containment measure
    // makes short-b candidates both common and unverifiable.
    val cand = prefix.join(posts, "gr")
      .filter(col("id_a") =!= col("id_b")
        && col("nb") * 1000 >= lit(ContainmentTauPm) * col("na"))
      .select(col("id_a"), col("id_b")).distinct()
    val repPairs = cand
      .join(docs.select(col("doc_id").as("id_a"), col("g").as("ga"),
        col("na")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("g").as("gb")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        call_function("intersect_count", col("ga"), col("gb"))
          .as("n_shared"),
        col("na"))
      .filter(col("n_shared") * 1000 >= lit(ContainmentTauPm) * col("na"))
    // expand each verified class pair to all member pairs (slim id
    // joins — the gram arrays never travel again), and add the
    // intra-class ordered pairs (identical gram sets: n_shared = na,
    // containment exactly 1.0 ≥ τ by construction)
    val inter = repPairs
      .join(members.select(col("rep").as("id_a"), col("doc_id").as("da")),
        "id_a")
      .join(members.select(col("rep").as("id_b"), col("doc_id").as("db")),
        "id_b")
      .select(col("da").as("id_a"), col("db").as("id_b"),
        col("n_shared"), col("na"))
    val intra = members.select(col("rep"), col("doc_id").as("id_a"),
        col("na"))
      .join(members.select(col("rep"), col("doc_id").as("id_b")), "rep")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), col("na").as("n_shared"),
        col("na"))
    inter.unionByName(intra)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("na"),
        (col("n_shared").cast("double") / col("na").cast("double"))
          .as("containment"))
  }

  // =================================================================
  // sim_rand_proj — Johnson-Lindenstrauss sign projection
  // =================================================================

  /** Output dimensionality of [[simRandProj]]. */
  val ProjDims = 8

  /** ±1 entry of the projection matrix for (output dim j, input dim
    * i) — the [[planeSign]] hash chain under a different seed, so
    * the projection matrix and the LSH planes are independent.
    * Evaluated at plan/oracle construction time: the matrix is index
    * metadata, embedded as literal ± terms in BOTH engines. */
  private def projSign(j: Int, i: Int): Boolean =
    (org.apache.spark.sql.catalyst.expressions.XXH64
      .hashInt(j, org.apache.spark.sql.catalyst.expressions.XXH64
        .hashInt(i, 43L)) & 1L) == 1L

  /** Random sign projection (the Achlioptas/JL database-friendly
    * variant): 64-dim float embeddings down to [[ProjDims]] integer
    * coordinates, p_j = Σᵢ ±q_i over the quantized vector — the
    * cheap dimensionality reduction run before clustering or
    * coarse indexing at corpus scale. Quantize-then-sum (the
    * [[simCentroids]] discipline) keeps every coordinate an exact
    * long both engines agree on; the ±1 matrix needs no
    * multiplication at all — each output is one codegen'd 64-term
    * add/subtract chain, entirely map-side, zero shuffles.
    *
    * 100 TB shape: embarrassingly parallel scan→project; the only
    * cost is the read. Downstream consumers bucket or cluster the
    * 8-long rows instead of the 64-float originals — an 8× byte
    * reduction before any exchange. */
  def simRandProj(s: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        expr(s"transform(embedding, x -> " +
          s"cast(round(cast(x as double) * $CentroidScale) as bigint))")
          .as("q"))
    val projCols = (0 until ProjDims).map { j =>
      val terms = (0 until 64).map { i =>
        s"${if (projSign(j, i)) "+" else "-"} q[$i]"
      }.mkString(" ")
      expr(s"0L $terms").as(s"p$j")
    }
    q.select(col("vec_id") +: projCols: _*)
  }

  // =================================================================
  // dd_semantic — SemDeDup-style per-cluster embedding prune
  // =================================================================

  /** Cosine above which a lower-ranked member of the same cluster is
    * a semantic duplicate (SemDeDup's ε, Abbas et al. 2023). */
  val SemTau = 0.7

  /** Quantization scale for the centroid moment sums. The BINDING
    * moment is the quadratic one (ADVICE r13): nc2 = ‖Σq‖² ≤ (n·1e4)²
    * for unit-norm embeddings, which leaves the double-exact range
    * (2^53) at n ≈ 9.5e3 members per cluster and overflows int64 at
    * n ≈ 3e5 — where Spark's long sum would wrap SILENTLY while
    * DuckDB's HUGEINT sum diverges. The linear moments (dot ≤ n·1e8,
    * na2 ≤ 1e8) are safe far beyond that. Hence [[SemMaxCluster]]:
    * both engines FAIL LOUDLY (assert_true / error()) before any
    * moment can leave the exact range. */
  val SemScale = 10000L

  /** Hard per-cluster membership bound under which every centroid
    * moment is double-exact (see [[SemScale]]): 9000² · 1e8 =
    * 8.1e15 < 2^53. Enforced identically in engine (assert_true) and
    * oracle (error()) — a hot bucket at corpus scale aborts both
    * sides instead of silently corrupting the rank order. */
  val SemMaxCluster = 9000L

  /** Rank-window cap on the within-cluster prune join (VERDICT r13
    * task #1): each member is compared only against its [[
    * SemRankWindow]] nearest-ranked predecessors, bounding the
    * pairwise stage at Θ(n·W) corpus-wide — the fixed 256-way bucket
    * layout alone would make it Θ(n²/256), fatal at 100 TB. SemDeDup
    * keep/drop degrades gracefully under the window: a member is
    * checked against the cluster-mates MOST LIKELY to be its semantic
    * duplicates (nearest in centroid-cosine rank); only duplicates of
    * a far-higher-ranked member can slip through, and the skipped
    * comparisons are COUNTED (dd_semantic_capstats) so the loss is
    * observable, the dd_minhash_lsh hot-bucket discipline. 64 ≫ any
    * fixture cluster (sf0.1: 2000 vecs / 256 buckets), so the cap
    * provably does not bind at oracle scale — capstats pins
    * pairs_skipped = 0 there. */
  val SemRankWindow = 64

  /** Semantic dedup: cluster by deterministic sign-LSH bucket (the
    * literal-plane discipline that made dd_embed_neardup oraclable —
    * a seeded KMeans would be rows-only), rank each cluster's members
    * by cosine-to-centroid (centroid-nearest first), and drop every
    * member whose cosine to some HIGHER-ranked cluster-mate exceeds
    * [[SemTau]] — over-represented semantic regions collapse to their
    * most central representative, the SemDeDup recipe.
    *
    * Determinism: the centroid is never materialized in floats — the
    * rank key is built from three EXACT long moments per member
    * (dot(q_e, Σq_e), ‖q_e‖², ‖Σq_e‖², quantize-then-sum like
    * sim_centroids) and only then combined in double (IEEE ops on
    * identical ints are bit-stable across engines). The pairwise
    * prune cosine reuses the raw-double formulation sim_brute_topk
    * proved bit-equal to DuckDB's list_cosine_similarity. Ties in
    * the rank order break on vec_id.
    *
    * 100 TB shape: the census + centroid moments are two shuffles on
    * (bucket, dim) / vec_id; the prune self-join is bucket-bounded
    * AND rank-windowed ([[SemRankWindow]] — Θ(n·W) pairwise work
    * corpus-wide, skipped comparisons counted by
    * [[ddSemanticCapstats]]), with the [[SemMaxCluster]] guard
    * aborting loudly before any moment can leave the exact-double
    * range. Rehearsed in ScaleRehearsal's dedup section. */
  def ddSemantic(s: SparkSession, dir: String): DataFrame =
    ddSemanticWindowed(s, dir, SemRankWindow)

  /** [[ddSemantic]] with an explicit rank window — package-visible so
    * SemanticDedupSpec can force the cap to BIND (window smaller than
    * a planted cluster) and assert the graceful-degradation contract
    * at fixture scale. */
  private[graft] def ddSemanticWindowed(
      s: SparkSession, dir: String, window: Int): DataFrame = {
    graft.functions.SignLshBucket.ensureRegistered(s)
    graft.functions.CosineSimilarity.ensureRegistered(s)
    import org.apache.spark.sql.expressions.Window
    val emb = cleanEmbeddings(s, dir)
      .withColumn("bucket", expr(s"signlsh_bucket(e, $AnnPlanes)"))
      .transform(Derived.slot("sem_emb", s, dir))
      // consumed by moments + both prune sides
    val qv = emb.select(col("vec_id"), col("bucket"),
      posexplode(expr(
        s"transform(e, x -> cast(round(x * $SemScale) as bigint))"))
        .as(Seq("dim", "q")))
    val cent = qv.groupBy(col("bucket"), col("dim"))
      .agg(sum(col("q")).as("cq0"), count(lit(1)).as("nb"))
      // loud overflow guard (ADVICE r13): past SemMaxCluster members
      // the quadratic moment nc2 leaves the exact-double range, so
      // FAIL here — riding the cq dataflow so Catalyst cannot prune
      // the assert out of the plan; the oracle's cent CTE raises
      // error() under the identical predicate
      .select(col("bucket"), col("dim"),
        (col("cq0") + coalesce(
          assert_true(col("nb") <= SemMaxCluster,
            lit(s"dd_semantic: cluster exceeds $SemMaxCluster " +
              "members — centroid moments would leave the " +
              "exact-double range")).cast("long"),
          lit(0L))).as("cq"))
    val mom = qv.join(cent, Seq("bucket", "dim"))
      .groupBy(col("vec_id"))
      .agg(first(col("bucket")).as("bucket"),
        sum(col("q") * col("cq")).as("dot"),
        sum(col("q") * col("q")).as("na2"),
        sum(col("cq") * col("cq")).as("nc2"))
    val rnk = mom.select(col("vec_id"), col("bucket"),
        (col("dot").cast("double") /
          (sqrt(col("na2").cast("double")) *
            sqrt(col("nc2").cast("double")))).as("cosc"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("bucket"))
          .orderBy(col("cosc").desc, col("vec_id"))))
      .transform(Derived.slot("sem_rnk", s, dir))
      // both sides of the prune join + output
    val withE = emb.select(col("vec_id"), col("e"))
    // Rank-window prune join, BANDED on rank blocks (r17 — the 150k
    // rehearsal decade showed the former bucket-only equi-join
    // materializing Θ(n²/256) rows and post-filtering the rank
    // window: 44M joined rows at 150k docs, segment exponent 2.0).
    // A predecessor within `window` ranks sits in the successor's
    // rank block or the one before it ((x − W) div W = x div W − 1),
    // so the successor side probes exactly those two blocks and the
    // join output is Θ(n·2W) BY KEY — the x16 range-join bucketing
    // discipline applied to ranks. A pair can match only one probe
    // (the two probe blocks differ), so no dedup is needed and the
    // output is unchanged.
    val aSide = rnk.select(col("bucket"),
      expr(s"(rk - 1) div $window").as("blk"),
      col("vec_id").as("a_id"), col("rk").as("a_rk"))
    val bSide = rnk.select(col("bucket"),
      col("vec_id").as("b_id"), col("rk").as("b_rk"))
      .withColumn("blk", explode(array(
        expr(s"(b_rk - 1) div $window"),
        expr(s"(b_rk - 1) div $window - 1"))))
    val dropped = aSide.join(bSide, Seq("bucket", "blk"))
      .filter(col("a_rk") < col("b_rk")
        && col("b_rk") - col("a_rk") <= window)
      .join(withE.select(col("vec_id").as("ia"), col("e").as("ea")),
        col("a_id") === col("ia"))
      .join(withE.select(col("vec_id").as("ib"), col("e").as("eb")),
        col("b_id") === col("ib"))
      .filter(expr("cosine_sim(ea, eb)") > SemTau)
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("is_dropped", lit(true))
    rnk.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("bucket"), col("cosc"),
        col("is_dropped").isNull.as("kept"))
  }

  /** Cap observability census for [[ddSemantic]] (the counted-drops
    * discipline): one row — bucket count, corpus size, the largest
    * cluster, and exactly how many within-cluster comparisons the
    * [[SemRankWindow]] cap SKIPPED versus the unbounded all-pairs
    * prune. pairs_skipped = 0 certifies the cap did not bind (the
    * windowed result ≡ the unbounded result at this scale); a
    * non-zero count at corpus scale quantifies the graceful
    * degradation instead of hiding it. Pure integer arithmetic over
    * the bucket census — oracle hash-compares. */
  def ddSemanticCapstats(s: SparkSession, dir: String): DataFrame =
    ddSemanticCapstatsWindowed(s, dir, SemRankWindow)

  /** [[ddSemanticCapstats]] with an explicit window, paired with
    * [[ddSemanticWindowed]] for the cap-binding spec case. */
  private[graft] def ddSemanticCapstatsWindowed(
      s: SparkSession, dir: String, window: Int): DataFrame = {
    graft.functions.SignLshBucket.ensureRegistered(s)
    val w = window.toLong
    val census = cleanEmbeddings(s, dir)
      .withColumn("bucket", expr(s"signlsh_bucket(e, $AnnPlanes)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
    census.agg(
      count(lit(1)).cast("long").as("n_buckets"),
      sum(col("n")).cast("long").as("n_vecs"),
      max(col("n")).cast("long").as("max_cluster"),
      sum(
        when(col("n") - 1 <= w, col("n") * (col("n") - 1) / 2)
          .otherwise(lit(w) * col("n") - lit(w * (w + 1) / 2)))
        .cast("long").as("pairs_compared"),
      sum(
        when(col("n") - 1 <= w, lit(0L))
          .otherwise(col("n") * (col("n") - 1) / 2
            - (lit(w) * col("n") - lit(w * (w + 1) / 2))))
        .cast("long").as("pairs_skipped"))
  }

  val queries: Map[String, Q] = Map(
    "dd_semantic" -> (ddSemantic _),
    "dd_semantic_capstats" -> (ddSemanticCapstats _),
    "dd_edjoin" -> (ddEdJoin _),
    "dd_containment" -> (ddContainment _),
    "dd_containment_indexed" -> (ddContainmentIndexed _),
    "sim_centroids" -> (simCentroids _),
    "sim_negatives" -> (simNegatives _),
    "sim_rand_proj" -> (simRandProj _),
    "dd_minhash_lsh" -> (ddMinhashLsh _),
    "dd_minhash_indexed" -> (ddMinhashIndexed _),
    "dd_simhash" -> (ddSimhash _),
    "dd_simhash_pairs" -> (ddSimhashPairs _),
    "dd_simhash_indexed" -> (ddSimhashIndexed _),
    "dd_ngram_jaccard" -> (ddNgramJaccard _),
    "dd_embed_neardup" -> (ddEmbedNearDup _),
    "sim_brute_topk" -> (simBruteTopK _),
    "sim_exact_pairs" -> (simExactPairs _),
    "sim_lsh_ann" -> (simLshAnn _),
    "sim_ivf_ann" -> (simIvfAnn _),
    "sim_ivf_adaptive" -> (simIvfAdaptiveQuery _),
    "sim_lsh_adaptive" -> (simLshAdaptiveQuery _),
    "sim_ivf_batch" -> (simIvfBatch _),
    "sim_ivf_drift" -> (simIvfDrift _),
    "sim_ivf_sq8" -> (simIvfSq8 _),
    "sim_ivf_pq" -> (simIvfPq _),
    "sim_pq_stats" -> (simPqStats _),
    "dd_embed_census" -> (ddEmbedCensus _),
    "dd_gram_dupfrac" -> (ddGramDupFrac _),
    "sim_quantize_int8" -> (simQuantizeInt8 _),
    "sim_quantize_topk" -> (simQuantizeTopK _),
    "sim_mmr_rerank" -> (simMmrRerank _),
    "sim_mmr_ivf" -> (simMmrIvf _)
  )

  /** The MMR greedy unrolled as [[MmrK]] chained CTEs (the g5b
    * loop-unroll discipline): step i's argmax excludes steps 1..i−1
    * and subtracts 3× the max pairwise quantized cosine to them —
    * all integer arithmetic after the shared quantization, so pool
    * membership, penalties, and every selection hash-verify. */
  private def mmrOracleSql: String = mmrOracleSqlFrom(
    s"""e AS (SELECT vec_id, label,
       |             CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |q AS (SELECT e AS qe FROM e WHERE vec_id = 0),
       |cand AS MATERIALIZED (SELECT vec_id, label,
       |    CAST(round(list_cosine_similarity(e, qe) * $MmrScale)
       |      AS BIGINT) AS qsim, e
       |  FROM e CROSS JOIN q WHERE vec_id <> 0
       |  ORDER BY qsim DESC, vec_id LIMIT $MmrPool)""".stripMargin)

  /** The shared greedy/pairwise CTE tail parameterized over the
    * pool-defining prefix (`candPrefix` must define a `cand(vec_id,
    * label, qsim, e)` CTE) — one spelling of the argmax chain serves
    * both the brute-pooled and the IVF-pooled oracle, exactly as
    * [[mmrGreedy]] serves both engines' pools. */
  private def mmrOracleSqlFrom(candPrefix: String): String = {
    def selThrough(i: Int) =
      (1 to i).map(j => s"SELECT vec_id FROM s$j").mkString(" UNION ALL ")
    val steps = (1 to MmrK).map { i =>
      if (i == 1)
        s"""s1 AS MATERIALIZED (SELECT vec_id, label, qsim,
           |    CAST(7 * qsim AS BIGINT) AS mmr_q
           |  FROM cand ORDER BY mmr_q DESC, vec_id LIMIT 1)""".stripMargin
      else
        s"""s$i AS MATERIALIZED (SELECT c.vec_id, c.label, c.qsim,
           |    CAST(7 * c.qsim - 3 * (SELECT max(p.psim) FROM pair p
           |      WHERE p.a_id = c.vec_id
           |        AND p.b_id IN (${selThrough(i - 1)})) AS BIGINT)
           |      AS mmr_q
           |  FROM cand c
           |  WHERE c.vec_id NOT IN (${selThrough(i - 1)})
           |  ORDER BY mmr_q DESC, c.vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to MmrK).map(i =>
      s"SELECT CAST($i AS INTEGER) AS rank, vec_id, " +
        s"CAST(label AS INTEGER) AS label, qsim, mmr_q FROM s$i")
      .mkString("\nUNION ALL ")
    s"""WITH $candPrefix,
       |pair AS MATERIALIZED (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    CAST(round(list_cosine_similarity(a.e, b.e) * $MmrScale)
       |      AS BIGINT) AS psim
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |$steps
       |$out""".stripMargin
  }

  /** Exact all-pairs word-3gram Jaccard top-20 in DuckDB — the oracle
    * for BOTH approximate pair searches (they must and do achieve
    * full recall on the oracle corpus; hashes are deterministic so
    * this is stable round over round). */
  private val exactJaccardSql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id,
      |        list_distinct(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
      |          i -> array_to_string(w[i:i+2], ' '))) AS g
      |      FROM w)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |    / len(list_distinct(list_concat(a.g, b.g))) AS jaccard
      |FROM g a JOIN g b ON a.doc_id < b.doc_id
      |ORDER BY jaccard DESC, id_a, id_b LIMIT 20""".stripMargin

  /** Shared DuckDB CTE replicating the full simhash construction —
    * word 3-grams, portable md5-60 gram hash, per-bit majority vote,
    * bit packing — bit-for-bit. */
  private val simhashCte =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id,
      |        unnest(list_distinct(list_transform(
      |          range(1, greatest(len(w) - 2, 1) + 1),
      |          i -> array_to_string(w[i:i+2], ' ')))) AS g
      |      FROM w),
      |h AS (SELECT doc_id,
      |        ('0x' || substr(md5(g), 1, 15))::BIGINT AS h FROM g),
      |v AS (SELECT doc_id, bb.b AS b,
      |        sum(CASE WHEN ((h >> bb.b) & 1) = 1 THEN 1 ELSE -1 END) AS v
      |      FROM h CROSS JOIN (SELECT unnest(range(32)) AS b) bb
      |      GROUP BY doc_id, bb.b),
      |sim AS (SELECT doc_id,
      |          CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b)
      |                    ELSE 0 END) AS BIGINT) AS simhash
      |        FROM v GROUP BY doc_id)""".stripMargin

  /** The ±1 hyperplane constant for (plane, dim index) — the SAME
    * hash chain as [[graft.functions.SignLshBucket]]:
    * `xxh64(plane, xxh64(i, 42)) & 1`. Evaluated HERE, at oracle-SQL
    * construction time, so the plane matrix can be embedded in DuckDB
    * SQL as literal +/- terms — the planes are index metadata, not
    * data, so literals are the honest cross-engine transport. */
  private def planeSign(plane: Int, i: Int): Boolean =
    (org.apache.spark.sql.catalyst.expressions.XXH64
      .hashInt(plane, org.apache.spark.sql.catalyst.expressions.XXH64
        .hashInt(i, 42L)) & 1L) == 1L

  /** DuckDB expression computing `signlsh_bucket(arr, planes)` for a
    * `dim`-element DOUBLE list. FP-op-order faithful to the native
    * expression: each plane's projection is the left-associated chain
    * `0.0 ± e[1] ± e[2] …` (Spark: `acc += e[i] * ±1.0`, and
    * `x * -1.0 == -x` exactly, so `+ (-e)` spells as `- e`); bit p
    * set iff the projection is > 0. The embeddings table is dim-64
    * (TESTDATA.md), so the generated SQL is dim-specific by design —
    * it is an oracle for THIS corpus, not a reusable function.
    *
    * PRECONDITION (ADVICE r8): the equivalence to the native
    * expression holds only on null/NaN-free embeddings. A null array
    * slot NULL-propagates the whole SQL projection (CASE → 0 →
    * bucket bit 0) where the native expression skips the element,
    * and DuckDB evaluates `NaN > 0` as TRUE where Java's `>` is
    * false (parallel to the null-element note on
    * [[graft.functions.SignLshBucket]]). The test corpus is
    * generated null/NaN-free and the green hash_match on
    * `dd_embed_census` certifies the precondition held. Since r11
    * the precondition is ENFORCED, not just documented: every
    * engine-side bucket path loads through [[cleanEmbeddings]],
    * whose assert_true gate fails loudly on any null/NaN element
    * before it can reach a bucket expression. */
  private def bucketSqlExpr(planes: Int, dim: Int, arr: String): String =
    (0 until planes).map { p =>
      val terms = (0 until dim).map { i =>
        val sign = if (planeSign(p, i)) "+" else "-"
        s"$sign $arr[${i + 1}]"
      }.mkString(" ")
      s"(CASE WHEN (0.0 $terms) > 0 THEN ${1L << p}::BIGINT ELSE 0::BIGINT END)"
    }.mkString("(", "\n + ", ")")

  /** All-ordered-pairs containment ground truth (DuckDB) — shared by
    * the scan and indexed twins. */
  private lazy val containmentOracleSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
       |           FROM documents),
       |g AS (SELECT doc_id,
       |        list_distinct(list_transform(
       |          range(1, greatest(len(w) - 2, 1) + 1),
       |          i -> array_to_string(w[i:i+2], ' '))) AS g
       |      FROM w)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(len(list_intersect(a.g, b.g)) AS BIGINT) AS n_shared,
       |  CAST(len(a.g) AS BIGINT) AS na,
       |  CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
       |    / CAST(len(a.g) AS DOUBLE) AS containment
       |FROM g a JOIN g b ON a.doc_id <> b.doc_id
       |WHERE len(list_intersect(a.g, b.g)) * 1000
       |  >= $ContainmentTauPm * len(a.g)""".stripMargin

  /** Static oracles plus any dynamic entry that is UNAMBIGUOUS in
    * this JVM (exactly one dataset served). When a query served
    * multiple dirs, the no-dir view drops its dynamic entry rather
    * than guess — callers that know their dataset use [[oracleFor]]
    * (Verify does). */
  def oracle: Map[String, String] =
    staticOracle ++ dynamicOracle.toMap
      .groupBy { case ((name, _), _) => name }
      .collect { case (name, m) if m.size == 1 => name -> m.head._2 }

  private val staticOracle: Map[String, String] = Map(
    // full SemDeDup replica: literal-plane buckets, exact-long
    // centroid moments combined in double (bit-stable given identical
    // ints), rank window, bucket-bounded prune join — every stage
    // mirrored, so vec-level keep/drop verdicts hash-compare
    "dd_semantic" ->
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |            FROM embeddings),
         |b AS (SELECT vec_id, e,
         |        ${bucketSqlExpr(AnnPlanes, 64, "e")} AS bucket
         |      FROM emb),
         |qv0 AS (SELECT vec_id, bucket, e,
         |          unnest(range(1, len(e) + 1)) AS i FROM b),
         |qv AS (SELECT vec_id, bucket, i AS dim,
         |         CAST(round(e[CAST(i AS INTEGER)] * $SemScale)
         |           AS BIGINT) AS q
         |       FROM qv0),
         |cent AS (SELECT bucket, dim,
         |          CASE WHEN count(*) <= $SemMaxCluster
         |            THEN CAST(sum(q) AS BIGINT)
         |            ELSE error('dd_semantic: cluster exceeds ' ||
         |              '$SemMaxCluster members — moment exactness')
         |          END AS cq
         |         FROM qv GROUP BY bucket, dim),
         |mom AS (SELECT vec_id, any_value(bucket) AS bucket,
         |          CAST(sum(q * cq) AS BIGINT) AS dot,
         |          CAST(sum(q * q) AS BIGINT) AS na2,
         |          CAST(sum(cq * cq) AS BIGINT) AS nc2
         |        FROM qv JOIN cent USING (bucket, dim)
         |        GROUP BY vec_id),
         |rnk AS (SELECT vec_id, bucket,
         |          CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE))
         |            * sqrt(CAST(nc2 AS DOUBLE))) AS cosc,
         |          row_number() OVER (PARTITION BY bucket
         |            ORDER BY CAST(dot AS DOUBLE)
         |              / (sqrt(CAST(na2 AS DOUBLE))
         |                 * sqrt(CAST(nc2 AS DOUBLE))) DESC,
         |              vec_id) AS rk
         |        FROM mom),
         |dropped AS (SELECT DISTINCT b2.vec_id
         |            FROM rnk a JOIN rnk b2
         |              ON a.bucket = b2.bucket AND a.rk < b2.rk
         |              AND b2.rk - a.rk <= $SemRankWindow
         |            JOIN b ea ON ea.vec_id = a.vec_id
         |            JOIN b eb ON eb.vec_id = b2.vec_id
         |            WHERE list_cosine_similarity(ea.e, eb.e)
         |              > $SemTau)
         |SELECT r.vec_id, r.bucket, r.cosc,
         | (d.vec_id IS NULL) AS kept
         |FROM rnk r LEFT JOIN dropped d ON r.vec_id = d.vec_id""".stripMargin,
    // cap observability: integer pair-count algebra over the bucket
    // census; pairs_skipped = 0 certifies the window never bound
    "dd_semantic_capstats" -> {
      val w = SemRankWindow.toLong
      s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |            FROM embeddings),
         |b AS (SELECT vec_id,
         |        ${bucketSqlExpr(AnnPlanes, 64, "e")} AS bucket
         |      FROM emb),
         |census AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n
         |           FROM b GROUP BY bucket)
         |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         | CAST(sum(n) AS BIGINT) AS n_vecs,
         | CAST(max(n) AS BIGINT) AS max_cluster,
         | CAST(sum(CASE WHEN n - 1 <= $w THEN n * (n - 1) // 2
         |   ELSE $w * n - ${w * (w + 1) / 2} END) AS BIGINT)
         |   AS pairs_compared,
         | CAST(sum(CASE WHEN n - 1 <= $w THEN 0
         |   ELSE n * (n - 1) // 2 - ($w * n - ${w * (w + 1) / 2})
         |   END) AS BIGINT) AS pairs_skipped
         |FROM census""".stripMargin
    },
    // all-ORDERED-pairs ground truth over the string gram sets —
    // certifies both the asymmetric prefix filter's losslessness
    // and that the postings cap never bound on this corpus
    "dd_containment" -> containmentOracleSql,
    // the indexed twin against the SAME all-pairs oracle certifies
    // the persisted fingerprint + census content end-to-end
    "dd_containment_indexed" -> containmentOracleSql,
    // the draw is the portable md5-60 of the pair string, so the
    // oracle replays the identical selection with a rank window
    "sim_negatives" ->
      s"""WITH e AS (SELECT vec_id, label FROM embeddings),
         |a AS (SELECT vec_id AS anchor_id, label AS anchor_label
         |      FROM e WHERE vec_id < $NegAnchors),
         |p AS (SELECT a.anchor_id, e.vec_id AS neg_id,
         |        ('0x' || substr(md5(a.anchor_id::VARCHAR || ':' ||
         |          e.vec_id::VARCHAR), 1, 15))::BIGINT AS draw
         |      FROM e JOIN a ON e.label <> a.anchor_label),
         |r AS (SELECT *, row_number() OVER (PARTITION BY anchor_id
         |        ORDER BY draw, neg_id) AS rk FROM p)
         |SELECT anchor_id, neg_id, draw FROM r
         |WHERE rk <= $NegPerAnchor""".stripMargin,
    // all-pairs ground truth: verifies the prefix filter is LOSSLESS
    // on the real corpus, not just that the verify step is right
    "dd_edjoin" ->
      s"""WITH k AS (SELECT doc_id, substr(text, 1, $EdJoinKeyLen)
         |             AS k FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(levenshtein(a.k, b.k) AS INTEGER) AS dist
         |FROM k a JOIN k b ON a.doc_id < b.doc_id
         |WHERE levenshtein(a.k, b.k) <= $EdJoinMaxDist""".stripMargin,
    // same literal ±-matrix transport as bucketSqlExpr; dim-64
    // corpus-specific; 1-based e[i] mirrors the engine's 0-based q[i]
    "sim_rand_proj" -> {
      val projections = (0 until ProjDims).map { j =>
        val terms = (0 until 64).map { i =>
          s"${if (projSign(j, i)) "+" else "-"} " +
            s"CAST(round(e[${i + 1}] * $CentroidScale) AS BIGINT)"
        }.mkString(" ")
        s"  (0 $terms) AS p$j"
      }.mkString(",\n")
      s"""WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |           FROM embeddings)
         |SELECT vec_id,
         |$projections
         |FROM q""".stripMargin
    },
    // dim-64 index literal, corpus-specific like the other embedding
    // oracles; i is 1-based, pos 0-based to match posexplode
    "sim_centroids" ->
      s"""SELECT label, CAST(i - 1 AS INTEGER) AS pos,
         |  count(*) AS n,
         |  CAST(sum(CAST(round(CAST(e[i] AS DOUBLE) * $CentroidScale)
         |    AS BIGINT)) AS BIGINT) AS sum_q
         |FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS e
         |      FROM embeddings)
         |CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ii
         |GROUP BY label, i""".stripMargin,
    "dd_gram_dupfrac" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |           FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(list_distinct(list_transform(
        |          range(1, greatest(len(w) - 2, 1) + 1),
        |          i -> array_to_string(w[i:i+2], ' ')))) AS g
        |      FROM w),
        |c AS (SELECT g, count(*) AS nd FROM g GROUP BY g)
        |SELECT doc_id,
        |  count(*) AS n_grams,
        |  CAST(sum(CASE WHEN c.nd >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup,
        |  CAST(sum(CASE WHEN c.nd >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS dup_frac
        |FROM g JOIN c USING (g)
        |GROUP BY doc_id""".stripMargin,
    // dim-64 index literal, same corpus-specific convention as
    // bucketSqlExpr; pos is 0-based to match posexplode
    "sim_quantize_int8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |           FROM embeddings),
        |s AS (SELECT vec_id, e,
        |        list_max(list_transform(e, x -> abs(x))) AS scale
        |      FROM e)
        |SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos,
        |  CAST(CASE WHEN scale > 0 THEN round(e[i] / scale * 127)
        |       ELSE 0 END AS INTEGER) AS q,
        |  scale
        |FROM s CROSS JOIN (SELECT unnest(range(1, 65)) AS i) ii""".stripMargin,
    // Full SQ8 serving pipeline replicated: quantize (identical
    // formula to sim_quantize_int8), exact int64 dots, the same
    // CASE-guarded approx-cos chain, total-ordered k'-cut, float
    // rescore with the brute-force cosine. dim-64 corpus-specific
    // like the other embedding oracles.
    "sim_quantize_topk" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
         |           FROM embeddings),
         |sc AS (SELECT vec_id, label, e,
         |         list_max(list_transform(e, x -> abs(x))) AS scale
         |       FROM e),
         |qv AS (SELECT vec_id, label, e,
         |         list_transform(e, x -> CASE WHEN scale > 0
         |           THEN CAST(round(x / scale * 127) AS INTEGER)
         |           ELSE 0 END) AS q
         |       FROM sc),
         |qq AS (SELECT q AS qq, e AS qe FROM qv WHERE vec_id = 0),
         |d AS (SELECT vec_id, label, e,
         |        CAST(list_sum(list_transform(range(1, 65),
         |          i -> CAST(q[i] AS BIGINT) * qq[i])) AS BIGINT) AS dot_q,
         |        CAST(list_sum(list_transform(range(1, 65),
         |          i -> CAST(q[i] AS BIGINT) * q[i])) AS BIGINT) AS nq_a,
         |        CAST(list_sum(list_transform(range(1, 65),
         |          i -> CAST(qq[i] AS BIGINT) * qq[i])) AS BIGINT) AS nq_q
         |      FROM qv CROSS JOIN qq WHERE vec_id <> 0),
         |a AS (SELECT vec_id, label, e,
         |        CASE WHEN nq_a > 0 THEN CAST(dot_q AS DOUBLE) /
         |          (sqrt(CAST(nq_a AS DOUBLE)) * sqrt(CAST(nq_q AS DOUBLE)))
         |        ELSE -1.0 END AS approx_cos
         |      FROM d),
         |top AS (SELECT vec_id, label, e FROM a
         |        ORDER BY approx_cos DESC, vec_id
         |        LIMIT $RescoreCandidates)
         |SELECT vec_id, label, list_cosine_similarity(t.e, qq.qe) AS cosine
         |FROM top t CROSS JOIN qq
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    "dd_simhash" -> (simhashCte + "\nSELECT doc_id, simhash FROM sim"),
    "dd_simhash_pairs" -> (simhashCte +
      """
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),
    // the indexed twin answers the same question from the persisted
    // banded signature table alone — hash-equality against the SAME
    // all-pairs oracle certifies the index content
    "dd_simhash_indexed" -> (simhashCte +
      """
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin),
    "dd_minhash_lsh" -> exactJaccardSql,
    // the indexed twin answers the same question from the persisted
    // index alone — hash-equality against the SAME exact oracle
    // certifies the index content (r14's BM25 twin discipline)
    "dd_minhash_indexed" -> exactJaccardSql,
    "dd_ngram_jaccard" -> exactJaccardSql,
    "sim_brute_topk" ->
      """WITH e AS (SELECT vec_id, label,
        |             CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |q AS (SELECT e AS qe FROM e WHERE vec_id = 0)
        |SELECT vec_id, label, list_cosine_similarity(e, qe) AS cosine
        |FROM e CROSS JOIN q WHERE vec_id <> 0
        |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    "sim_mmr_rerank" -> mmrOracleSql,
    "sim_exact_pairs" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |           FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_cosine_similarity(a.e, b.e) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |ORDER BY cosine DESC, id_a, id_b LIMIT 20""".stripMargin,
    // The three sign-LSH entries below were rows-only through r7; they
    // are in fact FULLY deterministic (fixed hash-derived planes,
    // exact cosine, total-order tiebreaks), so the whole pipeline —
    // bucket assignment, probe-ball candidate generation, cosine
    // ranking — is replicated in DuckDB via the plane-literal bucket
    // expression and hash-compared (VERDICT r7 tasks #6/#7).
    "dd_embed_census" ->
      s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS e
         |           FROM embeddings)
         |SELECT ${bucketSqlExpr(NearDupPlanes, 64, "e")} AS bucket,
         |  count(*) AS n
         |FROM e GROUP BY 1""".stripMargin,
    "dd_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |           FROM embeddings),
         |b AS (SELECT vec_id, e,
         |        ${bucketSqlExpr(NearDupPlanes, 64, "e")} AS bucket
         |      FROM e)
         |SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         |  list_cosine_similarity(a.e, b2.e) AS cosine
         |FROM b a JOIN b b2
         |  ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |ORDER BY cosine DESC, id_a, id_b LIMIT 20""".stripMargin,
    // Multi-probe ball membership: bucket XOR qbucket has Hamming
    // weight <= radius — identical to the mask-explode the Spark plan
    // uses (bucket = qbucket XOR m for some |m| <= r).
    "sim_lsh_ann" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[])
         |             AS e FROM embeddings),
         |b AS (SELECT vec_id, label, e,
         |        ${bucketSqlExpr(AnnPlanes, 64, "e")} AS bucket
         |      FROM e),
         |q AS (SELECT bucket AS qbucket, e AS qe FROM b
         |      WHERE vec_id = 0)
         |SELECT vec_id, label, list_cosine_similarity(e, qe) AS cosine
         |FROM b CROSS JOIN q
         |WHERE vec_id <> 0
         |  AND bit_count(xor(bucket, qbucket)) <= $MultiProbeRadius
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin
  )
}
