package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Derived, Tables}

/** Text-analysis + exact-dedup operators for the training-data
  * pipeline surface (builder brief: dedup, language-ID, quality
  * scoring, token counting, fingerprinting) over the `documents`
  * table.
  *
  * Everything here is a single-scan declarative plan over codegen'd
  * string functions — no UDFs, so whole-stage codegen keeps the hot
  * path fused. At 100 TB: all per-row ops are embarrassingly
  * parallel; the dedup groupBys shuffle on a hash of the text (or its
  * digest), which is the minimal possible shuffle for exact dedup.
  *
  * Oracle determinism: only integer string ops (length/replace-count)
  * and md5 digests — identical in Spark and DuckDB. Word/token counts
  * are defined via space-counting (length - length(replace(' ')))
  * rather than split(), because regex-split edge semantics differ
  * across engines.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  /** #occurrences of substring `pat` in `c` (integer, engine-agnostic). */
  private[operators] def occurrences(c: Column, pat: String): Column =
    ((length(c) - length(regexp_replace(c, java.util.regex.Pattern.quote(pat), ""))) / pat.length).cast("long")

  private[operators] def spaceCount(c: Column): Column =
    (length(c) - length(translate(c, " ", ""))).cast("long")

  // ===================================================================
  // exact deduplication
  // ===================================================================

  /** Exact-dup census per language: total docs vs distinct texts
    * (via md5 so the shuffle key is 16 bytes, not the document). */
  def ddExactGroup(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_unique"))

  /** Exact dedup keeping the smallest doc_id per distinct text —
    * the deterministic version of dropDuplicates("text") (which keeps
    * an arbitrary row). groupBy(digest).min is one shuffle on a
    * fixed-width key; at 100 TB this beats shuffling full documents. */
  def ddExactRows(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id", "text_md5")

  // ===================================================================
  // text analysis
  // ===================================================================

  /** Token counting: whitespace tokens = spaces + 1 (single-space
    * synthetic corpus), plus character length. */
  def tTokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      (spaceCount(col("text")) + 1L).as("n_tokens"),
      length(col("text")).cast("long").as("n_chars_calc"),
      col("n_chars"))

  /** Quality scoring: stopword density + mean token length — the
    * integer/ratio heuristics of a corpus-quality filter, all exact
    * integer ops then one final division (deterministic). */
  def tQualityScore(s: SparkSession, dir: String): DataFrame = {
    val toks = spaceCount(col("text")) + 1L
    val stops = occurrences(col("text"), "the") +
      occurrences(col("text"), "and") + occurrences(col("text"), "of")
    Tables.documents(s, dir).select(
      col("doc_id"),
      toks.as("n_tokens"),
      stops.as("n_stopwords"),
      (stops.cast("double") / toks).as("stopword_ratio"),
      (length(col("text")).cast("double") / toks).as("mean_token_len"))
  }

  /** Language-ID heuristic: n-gram/stopword evidence → label. The
    * classifier is a deterministic CASE over integer counts so the
    * oracle can replay it; compared against the shipped `lang` truth
    * column per row. */
  def tLangId(s: SparkSession, dir: String): DataFrame = {
    val en = occurrences(col("text"), " the ") +
      occurrences(col("text"), " and ")
    val de = occurrences(col("text"), " der ") +
      occurrences(col("text"), " und ")
    val fr = occurrences(col("text"), " le ") +
      occurrences(col("text"), " et ")
    Tables.documents(s, dir).select(
      col("doc_id"), col("lang"),
      when(en >= de && en >= fr && en > 0, "en")
        .when(de >= fr && de > 0, "de")
        .when(fr > 0, "fr")
        .otherwise("unknown").as("lang_pred"))
  }

  /** Document fingerprinting: digest of the normalized text — the
    * constant-width key used for dedup joins at scale. */
  def tFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      substring(md5(lower(col("text"))), 1, 16).as("fp"),
      col("source"))

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    * the MOSS algorithm): slide a window of [[WinnowWindow]]
    * consecutive 3-gram hashes over each document IN ORDER (no
    * dedup — position matters) and keep each window's MINIMUM hash;
    * the distinct kept set is the document's fingerprint. Guarantee:
    * any shared substring of ≥ w+k-1 words produces at least one
    * shared fingerprint, at an expected density of 2/(w+1) —
    * position-robust partial-overlap detection that whole-doc
    * digests ([[tFingerprint]]) can't do, at a fraction of minhash's
    * signature width.
    *
    * 100 TB shape: entirely map-side array expressions — the
    * windowed min never leaves the row; only the selected (doc_id,
    * fp-long) pairs are emitted, ~2/(w+1) of the gram count.
    * Dedup/clustering joins then run on the slim fp table. Gram
    * hashes use the engine-portable md5-60 so the full selection is
    * replicated in the DuckDB oracle.
    *
    * The nested `transform(array(x), v -> …)[0]` shape is a
    * let-binding: it pins each expensive intermediate (word array,
    * gram-hash array) to a lambda variable that is computed ONCE per
    * row. Spelling the stages as separate projected columns instead
    * lets CollapseProject inline the hash array into the windowing
    * lambda, re-hashing every gram per window position — measured
    * O(grams²) per doc, 11.9 s vs 0.4 s on the sf0.001 corpus. */
  val WinnowWindow = 4

  /** One winnow-fp pass per dataset ([[graft.core.Derived.Memo]]): the
    * fingerprint table feeds t_winnow_fp, dd_winnow_pairs AND
    * dd_dup_spans; it is deterministic, slim (doc_id + one long), and
    * the fp selection is the expensive map-side stage. */
  private val winnowFps = Derived.Memo[DataFrame]("winnow_fps")

  def tWinnowFp(s: SparkSession, dir: String): DataFrame =
    winnowFps(s, dir)(computeWinnowFp(s, dir).localCheckpoint())

  private def computeWinnowFp(s: SparkSession, dir: String): DataFrame = {
    // Native fused selection (graft.functions.WinnowFps) — one
    // codegen'd loop replacing the three-stage interpreted HOF chain
    // kept below in [[winnowFpHof]] for the bit-equality spec.
    Tables.documents(s, dir)
      .select(col("doc_id"),
        expr(s"winnow_fps(split(text, ' '), $WinnowWindow)").as("fps"))
      .select(col("doc_id"), explode(col("fps")).as("fp"))
  }

  /** Reference HOF composition the native winnow_fps expression
    * replaces (same let-binding trick as before — each expensive
    * intermediate pinned to a lambda variable computed once per
    * row). Takes the NAME of an array<string> words column; kept for
    * WinnowFpsSpec's corpus-wide bit-equality pin. */
  private[graft] def winnowFpHof(wsColName: String): Column = {
    val w = WinnowWindow
    expr(
      // ORDERED grams — deliberately not wordGramExpr (which dedups):
      // winnowing is positional.
      s"""transform(array($wsColName), ws ->
         |  transform(array(transform(
         |      sequence(1, greatest(size(ws) - 2, 1)),
         |      i -> md5_hash60(concat_ws(' ', slice(ws, i, 3))))),
         |    hs -> array_distinct(transform(
         |      sequence(1, greatest(size(hs) - ${w - 1}, 1)),
         |      i -> array_min(slice(hs, i, $w))))
         |  )[0]
         |)[0]""".stripMargin)
  }

  /** Hot-bucket cap for [[ddWinnowPairs]]: a fingerprint shared by
    * more than this many documents is boilerplate (a common phrase's
    * locally-minimal gram hash), non-discriminative by definition and
    * quadratic to expand — same cap discipline as the LSH band
    * buckets (SimilarityQueries.lshCandidatePairs). */
  val WinnowMaxBucket = 50

  /** Minimum shared-fingerprint count for a reported pair: one
    * shared fp can be a single common phrase; ≥2 distinct shared
    * minima is the noise floor for genuine partial overlap. */
  val WinnowMinShared = 2

  /** Winnowing fingerprint PAIR SEARCH — the consumer of
    * [[tWinnowFp]] (VERDICT r9/r10 carried task): partial-overlap
    * detection, the entire point of MOSS fingerprints. Any two
    * documents sharing a run of ≥ w+k-1 = [[WinnowWindow]]+2 words
    * share at least one fingerprint (the winnowing guarantee); the
    * pair search materializes every such pair with its shared-fp
    * count and a containment score (shared / smaller fp set).
    *
    * 100 TB shape: identical to the LSH pair discipline — candidate
    * generation is an equi-join on the 8-byte fp long, fingerprints
    * shared by >[[WinnowMaxBucket]] docs are dropped before pairing
    * (boilerplate buckets are non-discriminative and quadratic), and
    * only (doc_id, fp) pairs ever shuffle — ~2/(w+1) of the gram
    * count per document, never the text. */
  def ddWinnowPairs(s: SparkSession, dir: String): DataFrame =
    winnowPairsImpl(tWinnowFp(s, dir), WinnowMinShared)

  /** [[ddWinnowPairs]] served from the PERSISTED winnow fingerprint
    * index ([[graft.sources.IndexStore.ensureWinnow]]): the windowed-
    * min selection over the full text — the expensive map-side stage
    * — ran once at build; the serve is census + self-join + rollup
    * over the slim persisted (doc_id, fp) table, and the documents
    * table is absent from the plan (WinnowIndexSpec asserts it).
    * Shares the scan twin's oracle. */
  def ddWinnowIndexed(s: SparkSession, dir: String): DataFrame = {
    val paths = graft.sources.IndexStore.ensureWinnow(s, dir)
    winnowPairsImpl(s.read.parquet(paths.fps), WinnowMinShared)
  }

  /** Pair search over a (doc_id, fp) fingerprint table; split out so
    * the planted-overlap spec can run it with minShared = 1 (the
    * winnowing guarantee is ≥ ONE shared fp per qualifying run). */
  private[operators] def winnowPairsImpl(fps: DataFrame,
      minShared: Int): DataFrame = {
    val fp = fps // already checkpointed by the tWinnowFp cache
    val census = fp.groupBy(col("fp")).agg(count(lit(1)).as("n"))
    val keepable = census
      .filter(col("n") >= 2 && col("n") <= WinnowMaxBucket)
      .select("fp")
    val kept = fp.join(keepable, Seq("fp"))
    val sizes = fp.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"))
    kept.as("a").join(kept.as("b"), Seq("fp"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(sizes.select(col("doc_id").as("id_a"),
        col("n_fp").as("n_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"),
        col("n_fp").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_shared"),
        (col("n_shared").cast("double") /
          least(col("n_a"), col("n_b"))).as("containment"))
  }

  /** Corpus profile per (lang, source): counts + exact char sums. */
  def tLangDist(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))

  /** Top-5 terms per language by frequency: explode word arrays →
    * two-level aggregation → windowed top-k. The explode fan-out is
    * the classic corpus-statistics shape; the shuffle key is (lang,
    * word) so partial aggregation absorbs the fan-out map-side. */
  def tTopTerms(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("n").desc, col("word"))
    Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("word"), col("n"), col("rk"))
  }

  /** TF-IDF via the MLlib text stages (Tokenizer → HashingTF → IDF).
    * Hash-bucketed term indices are algorithm-specific → rows-only
    * (invariants asserted in ScalaTest); output is the document's
    * top TF-IDF weight + vector sparsity. */
  def tTfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, IDF, Tokenizer}
    import org.apache.spark.ml.functions.vector_to_array
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val tokens = new Tokenizer()
      .setInputCol("text").setOutputCol("tokens").transform(docs)
    val tf = new HashingTF().setInputCol("tokens").setOutputCol("tf")
      .setNumFeatures(1024).transform(tokens)
    val idfModel = new IDF().setInputCol("tf").setOutputCol("tfidf")
      .fit(tf)
    idfModel.transform(tf)
      .select(col("doc_id"),
        vector_to_array(col("tfidf")).as("v"))
      .select(col("doc_id"),
        round(array_max(col("v")), 6).as("top_weight"),
        size(filter(col("v"), x => x > 0.0)).as("n_active_terms"))
  }

  /** Exact TF-IDF over word terms (no hash bucketing, unlike
    * `t_tfidf`'s HashingTF path): tf = per-(doc, word) count, idf =
    * ln((N+1)/(df+1)) — MLlib's IDF formula — weight = tf·idf.
    * Fully SQL-expressible → DuckDB oracle.
    *
    * Quantization happens at the IDF, not the weight (ADVICE r5):
    * q_idf = floor(idf·1e4) per distinct df value, then weight =
    * tf·q_idf is EXACT integer arithmetic — max/compare can never
    * flip cross-engine. The only remaining float boundary is ln()
    * itself (both engines evaluate it on the bit-identical double
    * (N+1)/(df+1) and agree within ~1 ulp ≈ 2e-16), so a flip needs
    * frac(idf·1e4) within ~2e-12 of 0 for one of the ~10³ distinct
    * df values in a corpus — vs the former floor(max_w·1e6) whose
    * boundary surface was every document's max weight at 100× finer
    * quantization. Plan shape: two hash aggregations + a broadcast
    * of the word→df dimension-sized side and the 1-row corpus
    * count — at 100 TB the words→df agg is the only big shuffle and
    * it is map-side combined. */
  def tTfidfExact(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
    tf.join(df, "word").crossJoin(broadcast(n))
      .withColumn("q_idf", expr(
        "CAST(FLOOR(ln((CAST(n AS DOUBLE) + 1.0)" +
          " / (CAST(df AS DOUBLE) + 1.0)) * 10000.0) AS BIGINT)"))
      .groupBy(col("doc_id"))
      .agg(
        max(col("tf") * col("q_idf")).as("top_weight_q"),
        count(lit(1)).as("n_terms"))
  }

  /** Gopher/C4-style quality signals: token count, mean word length,
    * and top-word share (the word-repetition rule), plus the
    * composite gate. All integer string math + exact int/int double
    * division → deterministic across engines. The top-word share is
    * the only shuffle (per-(doc, word) count, map-side combined); at
    * 100 TB it shuffles (doc_id, word-hash) pairs, nothing wider. */
  def tQualityGopher(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val base = docs.select(
      col("doc_id"),
      (spaceCount(col("text")) + 1L).as("n_tokens"),
      (length(col("text")).cast("long") - spaceCount(col("text")))
        .as("n_letters"))
    val topWord = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("top_word_n"))
    base.join(topWord, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("top_word_n"),
        expr("CAST(FLOOR(CAST(n_letters AS DOUBLE) / CAST(n_tokens AS DOUBLE)" +
          " * 1000000.0) AS BIGINT)").as("mean_word_len_q"),
        (col("n_tokens") >= 20 && col("n_tokens") <= 500 &&
          col("top_word_n") * 5 <= col("n_tokens")).as("passes_gate"))
  }

  /** PII redaction: scrub emails and IPv4 addresses, count hits. The
    * corpus is synthetic word soup with no PII, so the query plants
    * deterministic PII inline (same construction in the oracle) and
    * redacts it — the machinery (dialect-portable regexes, global
    * replace, count via match extraction) is what's under test.
    * Single narrow projection, no shuffle; at 100 TB this is a pure
    * map over the corpus. */
  def tPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val emailPat = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val ipPat = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
    Tables.documents(s, dir)
      .withColumn("pii_text", expr(
        "concat(substring(text, 1, 40), ' contact user', doc_id," +
          " '@example.com or 10.0.', doc_id % 256, '.7 end')"))
      .select(
        col("doc_id"),
        // functions API, not expr(): SQL string literals would eat the
        // regex backslashes ('\d' parses to 'd').
        regexp_count(col("pii_text"), lit(emailPat)).cast("long")
          .as("n_emails"),
        regexp_count(col("pii_text"), lit(ipPat)).cast("long")
          .as("n_ips"),
        md5(regexp_replace(regexp_replace(col("pii_text"),
          emailPat, "<EMAIL>"), ipPat, "<IP>"))
          .as("redacted_md5"))
  }

  /** Tokenizer-aware token counting — the BPE-ish-regex half of the
    * token-counting surface ([[tTokenCount]] is the whitespace half):
    * a GPT-2-style segmentation regex (run of letters / run of digits
    * / run of other, each with optional leading space), restricted to
    * a dialect-portable subset (no lookahead — RE2 lacks it). Emits
    * per-document token count, distinct-token count, and chars per
    * token — the stats a training-data budget is planned in.
    * Pure narrow projection: regexp_extract_all + size/array_distinct
    * per row, no explode, no shuffle — a map over the corpus at any
    * scale. */
  def tTokenBpe(s: SparkSession, dir: String): DataFrame = {
    val pat = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"
    val toks = regexp_extract_all(col("text"), lit(pat), lit(0))
    Tables.documents(s, dir).select(
      col("doc_id"),
      (spaceCount(col("text")) + 1L).as("n_ws_tokens"),
      size(toks).cast("long").as("n_bpe_tokens"),
      size(array_distinct(toks)).cast("long").as("n_bpe_distinct"),
      when(size(toks) > 0,
        length(col("text")).cast("double") / size(toks))
        .otherwise(0.0).as("chars_per_token"))
  }

  /** Repetition filters — the Gopher/MassiveText repetition signals
    * that gate templated/boilerplate text out of a training corpus:
    * per document, the fraction of tokens belonging to words that
    * repeat, the most-repeated word's count, and the most-repeated
    * word-2-gram's count and share.
    *
    * 100 TB shape: two explode → two-level aggregate passes (words,
    * bigrams) joined on doc_id — the same shape as [[tTopTerms]];
    * the (doc_id, token) shuffle key lets partial aggregation absorb
    * the explode fan-out map-side, and nothing wider than a doc_id
    * row survives past the first aggregate. All counts are exact
    * integers; each ratio is one final IEEE division, identical in
    * both engines. */
  def tRepetition(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val wstats = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        max(col("c")).cast("long").as("top_word_n"),
        coalesce(sum(when(col("c") > 1, col("c"))), lit(0L))
          .cast("long").as("dup_tokens"))
    // guard: Spark's sequence(0, -1) yields [0, -1] (auto step -1),
    // so a 1-word doc must short-circuit to an empty gram list
    val bstats = docs
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(ws) >= 2 THEN transform(sequence(0, size(ws) - 2)," +
          " i -> concat(ws[i], ' ', ws[i + 1])) ELSE array() END")).as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).cast("long").as("top_bigram_n"))
    wstats.join(bstats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("top_word_n"),
        col("dup_tokens"),
        (col("dup_tokens").cast("double") / col("n_tokens"))
          .as("dup_frac"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        when(col("n_tokens") > 1,
          coalesce(col("top_bigram_n"), lit(0L)).cast("double") /
            (col("n_tokens") - 1)).otherwise(0.0)
          .as("top_bigram_frac"))
  }

  /** Unigram-LM quality scoring — the CCNet-style filter: score each
    * document by its average negative log-likelihood under a unigram
    * language model fit on the corpus itself (boilerplate scores
    * low-surprise, gibberish scores high; both tails get gated).
    *
    * Determinism: log-probs are quantized at the LM level —
    * `floor((ln(cnt) - ln(total)) · 1e4 + 1e-6)` per DISTINCT word
    * count — then each document's score is exact integer summation,
    * the same playbook as t_tfidf_exact (the ulp-risk surface is the
    * distinct count values, not every (doc, word) pair). The +1e-6
    * nudge (≫ any cross-engine ln() ULP gap of ~1e-10 at this
    * magnitude, ≪ the 1.0 quantum) keeps a count value sitting
    * exactly on a floor boundary from flipping q_lp when Java
    * Math.log and DuckDB std::log disagree in the last ulp
    * (ADVICE r7).
    *
    * 100 TB shape: the LM table is vocabulary-sized → broadcast to
    * the exploded corpus side, which shuffles only on (doc_id) for
    * the final per-doc aggregate; the corpus total is one scalar
    * aggregate (driver literal, same as m4's stats). */
  def tLmScore(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val lm = words.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = lm.agg(sum(col("cnt")).cast("long")).head().getLong(0)
    val qlm = lm.select(col("w"),
      floor((log(col("cnt").cast("double")) - log(lit(total.toDouble)))
        * 1e4 + 1e-6).cast("long").as("q_lp"))
    words.join(broadcast(qlm), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        (-sum(col("q_lp"))).cast("long").as("nll_q"))
      .withColumn("avg_nll",
        col("nll_q").cast("double") / col("n_tokens"))
  }

  /** End-to-end corpus-cleaning pipeline — the composed
    * training-data flow: exact-dedup (keep min doc_id per text) →
    * quality gate (length + stopword-density) → language gate
    * (computed lang-id, not the trusted column) → per-source census.
    * One declarative plan: the dedup groupBy is the only wide
    * shuffle; the gates are pushed scans. */
  def corpusClean(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val kept = docs
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .join(docs, "doc_id")
    val toks = spaceCount(col("text")) + 1L
    val stops = occurrences(col("text"), "the") +
      occurrences(col("text"), "and") + occurrences(col("text"), "of")
    val en = occurrences(col("text"), " the ") +
      occurrences(col("text"), " and ")
    kept
      .withColumn("n_tokens", toks)
      .withColumn("stop_ratio", stops.cast("double") / toks)
      .withColumn("is_en", en > 0)
      .filter(col("n_tokens") >= 20 && col("stop_ratio") < 0.5 &&
        col("is_en"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"))
  }

  /** Benchmark decontamination — the GPT-3/PaLM n-gram rule: a
    * training document is contaminated if it shares any word 13-gram
    * with the held-out evaluation split (here: doc_id % 17 == 0, a
    * deterministic data property). Emits each contaminated train doc
    * with its shared-gram count.
    *
    * 100 TB shape: the EVAL side is a benchmark — small by
    * construction — so its distinct gram set broadcasts and the
    * petabyte train side is never shuffled for the probe; grams
    * travel as 8-byte xxhash64 longs, not strings (the oracle joins
    * on the raw gram strings — identical counts absent a 64-bit
    * collision, the same standing assumption as the other dd_*
    * oracles). Only matched rows reach the per-doc aggregate. */
  def tDecontaminate(s: SparkSession, dir: String): DataFrame =
    deconServe(Tables.documents(s, dir)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        explode(transform(SimilarityQueries.wordGramExpr("words", 13),
          g => xxhash64(g))).as("g")))

  /** [[tDecontaminate]] served from the PERSISTED 13-gram index
    * ([[graft.sources.IndexStore.ensureGram13]]) — the textbook
    * build→serve case: eval sets change with every benchmark
    * release while corpus fingerprints do not, so production
    * decontamination probes a maintained gram index per release
    * instead of re-shingling the corpus. The text split, 13-gram
    * construction, and hashing vanish from the serve plan, and the
    * documents table is absent from it (Gram13IndexSpec asserts
    * it). Shares the scan twin's oracle. */
  def tDecontaminateIndexed(s: SparkSession, dir: String): DataFrame = {
    val paths = graft.sources.IndexStore.ensureGram13(s, dir)
    deconServe(s.read.parquet(paths.grams))
  }

  /** The shared decontamination tail: split the gram table into the
    * eval membership (doc_id % 17 == 0, standing in for the eval
    * list) and the training side, broadcast the distinct eval
    * grams, count collisions per training doc. */
  private def deconServe(grams: DataFrame): DataFrame = {
    val evalGrams = grams.filter(col("doc_id") % 17 === 0)
      .select("g").distinct()
    grams.filter(col("doc_id") % 17 =!= 0)
      .join(broadcast(evalGrams), "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Source-mixture sampling — the training-data "domain weights"
    * op: each source tier keeps a target fraction of its documents
    * (tier 0 → 100%, tier 1 → 50%, tier 2 → 20%), selected by the
    * engine-portable md5-60 hash of doc_id so the KEPT SET is a data
    * property: identical across engines, partitionings, and cluster
    * sizes (same contract as l3_stratified). 100 TB shape: the
    * mixing decision is a map-side filter on a hash of the row's own
    * key — zero shuffle until the small per-source census. */
  def l6SourceMix(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("tier", expr("CAST(substring(source, 4) AS INT) % 3"))
      .withColumn("h",
        graft.core.PortableHash.md5Hash60(col("doc_id")) % 1000000L)
      .filter(col("tier") === 0 ||
        (col("tier") === 1 && col("h") < 500000L) ||
        (col("tier") === 2 && col("h") < 200000L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
  }

  /** Per-domain cap for [[l13DomainQuota]]: at most this many docs
    * survive per source. Binds at every shipped SF (sources are
    * ≥25 docs from sf0.001 up). Interpolated into the oracle. */
  val DomainQuota = 10

  /** Per-domain quota capping — the web-corpus balance op (CCNet /
    * Gopher-style per-domain caps: no single domain may dominate the
    * training mix): keep at most [[DomainQuota]] documents per
    * source, selected by the engine-portable md5-60 draw of doc_id
    * (ascending, doc_id tie-break) so the KEPT SET is a property of
    * the data — identical across engines, partitionings, and cluster
    * sizes, and therefore exactly hash-verifiable.
    *
    * 100 TB shape: runs on the custom [[graft.plans.TopKPerGroup]]
    * whole-operator path — bounded per-group heaps, partial→final,
    * ≤ quota rows per domain per map task in the exchange, no Sort
    * and no full window materialization (the window(row_number)
    * formulation sorts the entire corpus per domain; the oracle
    * deliberately uses it — hash equality pins the reformulation). */
  def l13DomainQuota(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        graft.core.PortableHash.md5Hash60(col("doc_id")).as("h"))
    graft.plans.TopKPerGroup(docs, Seq("source"), "h",
      descending = false, Seq("doc_id"), DomainQuota)
      .select(col("doc_id"), col("source"))
  }

  /** Deterministic train/val/test split (98/1/1) as a DATA PROPERTY:
    * membership is `portable_hash(doc_id) % 100`, so the assignment
    * is identical across engines, partitionings, and cluster sizes —
    * the property that makes a 100 TB split reproducible and
    * leak-free across pipeline reruns (same contract as
    * [[l6SourceMix]]). Emits the per-split census. */
  def l7HashSplit(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .withColumn("h",
        graft.core.PortableHash.md5Hash60(col("doc_id")) % 100L)
      .withColumn("split",
        when(col("h") < 98, "train")
          .when(col("h") === 98, "val")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(spaceCount(col("text")) + 1L).cast("long").as("sum_tokens"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
  }

  /** Sequence packing — concat-and-chunk into fixed 2048-token
    * context windows, the step that turns a cleaned corpus into
    * training sequences. Documents are packed contiguously per
    * source in doc_id order; a document belongs to the window its
    * START offset falls in (standard concat-then-chunk semantics —
    * long docs straddle window boundaries). Emits per-(source,
    * window) packing stats.
    *
    * 100 TB shape: the running offset is a window function
    * PARTITIONED BY source — never a global window; each source
    * shard packs independently, which is how a sharded corpus is
    * packed in practice (one global concatenation order would
    * serialize the world). */
  def l8SeqPack(s: SparkSession, dir: String): DataFrame = {
    val seqLen = 2048L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.documents(s, dir)
      .withColumn("toks", spaceCount(col("text")) + 1L)
      .withColumn("cum", sum(col("toks")).over(w))
      .withColumn("seq_id",
        floor((col("cum") - col("toks")).cast("double") / seqLen)
          .cast("long"))
      .groupBy(col("source"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).cast("long").as("sum_tokens"),
        min(col("doc_id")).as("first_doc"))
  }

  /** Unigram (word) entropy per document — the vocabulary-diversity
    * quality signal (low entropy = repetitive/templated text; used
    * alongside the Gopher gates). Shannon entropy in nats is
    * H = ln(N) − (Σ c·ln c)/N over word counts c; the operator emits
    * the EXACT integer pieces (N, distinct count, Σ c·⌊ln(c)·10⁴⌋)
    * and leaves the float division to the consumer, so the oracle
    * hash-compares exactly. Quantization at the ln (same discipline
    * as t_tfidf_exact): ⌊ln(c)·10⁴⌋ per distinct count value c —
    * both engines evaluate ln on the bit-identical small-integer
    * double and agree within ~1 ulp, so a flip needs frac(ln(c)·10⁴)
    * within ~2e-12 of 0 for one of the ~10² distinct c values.
    *
    * 100 TB shape: one explode + two hash aggregations, both keyed
    * by doc (map-side combined); no joins, no windows. */
  def tWordEntropy(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") *
          floor(log(col("c").cast("double")) * 10000).cast("long"))
          .cast("long").as("ent_q"))

  /** Vocabulary size cap for [[tVocabEncode]] — top-V words by
    * corpus frequency get ids 1..V, everything else is OOV id 0.
    * 500 forces real OOV traffic on the test corpus; a production
    * run sets it to the model's vocab (e.g. 50k). The vocab is
    * BOUNDED by this constant, which is what makes the global rank
    * window metadata-scale (≤ V rows after the cap) at any corpus
    * size. */
  val VocabSize = 500

  /** Vocabulary build + token-id encoding — the last hop of a
    * training-data pipeline before tensors: rank words by corpus
    * frequency (count DESC, word ASC — a total order, so ids are
    * deterministic), keep the top [[VocabSize]] as ids 1..V, and
    * re-encode every document as (doc_id, pos, token_id) with OOV →
    * 0. Emitted exploded so the oracle hash-compares every token.
    *
    * 100 TB shape: the word census is one map-side-combined
    * aggregate; the rank window runs over the CENSUS (vocab-bounded,
    * not corpus-bounded — the aggregate output is already ≤ distinct
    * words, and only the top V survive); encoding is a broadcast
    * join of the V-row vocab against the positional explode. No
    * data-scale window, no shuffle of text. */
  def tVocabEncode(s: SparkSession, dir: String): DataFrame =
    vocabEncodeImpl(s, dir, VocabSize)

  private[operators] def vocabEncodeImpl(s: SparkSession, dir: String,
      vocabSize: Int): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
    val census = words.groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
    val rankWin = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("word"))
    val vocab = census
      .withColumn("token_id", row_number().over(rankWin).cast("long"))
      .filter(col("token_id") <= vocabSize)
      .select(col("word"), col("token_id"))
    words.join(broadcast(vocab), Seq("word"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("token_id"), lit(0L)).as("token_id"))
  }

  /** Exact duplicated-SPAN extraction (the verify stage of exact
    * substring dedup, Lee et al. 2022 "Deduplicating Training Data
    * Makes Language Models Better"): for every candidate pair from
    * the winnow search, the length of the LONGEST contiguous run of
    * shared 3-gram hashes — i.e. the longest shared word substring
    * (run + 2 words). Winnowing finds pairs probabilistically-
    * guaranteed; this measures their overlap exactly, which is what
    * decides clip-vs-drop in a dedup policy.
    *
    * Fully declarative via the gaps-and-islands trick: equi-join the
    * two docs' positional gram hashes, diagonal = pos_a - pos_b
    * (matches on one diagonal are consecutive iff pos_a is), island
    * id = pos_a - row_number() per (pair, diagonal), max island size
    * = longest run. No DP, no UDF — two window/agg stages keyed by
    * pair.
    *
    * 100 TB shape: everything downstream of the gram explode is
    * bounded by the CANDIDATE PAIR set (already census-pruned and
    * hot-bucket-capped by [[ddWinnowPairs]]), never by |corpus|²;
    * gram hashes travel as 8-byte longs; the windows partition by
    * (pair, diagonal) — thousands of small partitions, no global
    * sort. */
  def ddDupSpans(s: SparkSession, dir: String): DataFrame = {
    val pairs = ddWinnowPairs(s, dir).select("id_a", "id_b")
    // NOT a semi-join pre-filter: restricting the gram explode to
    // pair-participating docs was tried in r21 and MEASURED SLOWER at
    // sf0.1 (2.3 s vs 1.3 s, same subset context, 5-run medians) —
    // deriving the participant ids forces the winnow pair search to
    // run twice (or a blocking checkpoint), which costs more than the
    // fanned-out gram explode it saves. The match equi-joins below
    // already drop non-participant grams after one cheap hash pass.
    // ordered positional gram hashes — the SAME gram construction
    // (and md5-60 digest loop) the winnow fp selection uses, via the
    // native gram_hashes expression (bit-equal to the HOF spelling,
    // WinnowFpsSpec)
    // fanOut: gram_hashes over every doc would otherwise run inside
    // the single-row-group scan task
    val grams = Tables.fanOut(Tables.documents(s, dir), "doc_id")
      .select(col("doc_id"),
        expr("gram_hashes(split(text, ' '))").as("hs"))
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))
    val matches = pairs
      .join(grams.select(col("doc_id").as("id_a"),
        col("pos").as("pos_a"), col("h")), "id_a")
      .join(grams.select(col("doc_id").as("id_b"),
        col("pos").as("pos_b"), col("h")), Seq("id_b", "h"))
      .select(col("id_a"), col("id_b"),
        col("pos_a"), (col("pos_a") - col("pos_b")).as("diag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pos_a"))
    matches
      .withColumn("grp", col("pos_a") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("run")).as("max_gram_run"))
      .select(col("id_a"), col("id_b"), col("max_gram_run"),
        (col("max_gram_run") + 2).as("shared_words"))
  }

  // ===================================================================
  // registration
  // ===================================================================

  val queries: Map[String, Q] = Map(
    "t_decontaminate" -> (tDecontaminate _),
    "t_decontaminate_indexed" -> (tDecontaminateIndexed _),
    "l6_source_mix" -> (l6SourceMix _),
    "l13_domain_quota" -> (l13DomainQuota _),
    "l7_hash_split" -> (l7HashSplit _),
    "l8_seq_pack" -> (l8SeqPack _),
    "dd_exact_group" -> (ddExactGroup _),
    "dd_exact_rows" -> (ddExactRows _),
    "t_token_count" -> (tTokenCount _),
    "t_quality_score" -> (tQualityScore _),
    "t_lang_id" -> (tLangId _),
    "t_fingerprint" -> (tFingerprint _),
    "t_winnow_fp" -> (tWinnowFp _),
    "dd_winnow_pairs" -> (ddWinnowPairs _),
    "dd_winnow_indexed" -> (ddWinnowIndexed _),
    "dd_dup_spans" -> (ddDupSpans _),
    "t_word_entropy" -> (tWordEntropy _),
    "t_vocab_encode" -> (tVocabEncode _),
    "t_lang_dist" -> (tLangDist _),
    "t_top_terms" -> (tTopTerms _),
    "t_tfidf" -> (tTfidf _),
    "t_tfidf_exact" -> (tTfidfExact _),
    "t_quality_gopher" -> (tQualityGopher _),
    "t_pii_redact" -> (tPiiRedact _),
    "t_token_bpe" -> (tTokenBpe _),
    "t_repetition" -> (tRepetition _),
    "t_lm_score" -> (tLmScore _),
    "t_corpus_clean" -> (corpusClean _)
  )

  /** Shared DuckDB CTE replicating the full winnowing selection —
    * ordered grams, portable md5-60 gram hash, window-of-
    * [[WinnowWindow]] minimum, distinct kept set — the window
    * interpolated from the SAME constant the engine uses. Ends with
    * the `fps(doc_id, fp)` relation both winnow oracles build on. */
  private def winnowFpCte: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
       |           FROM documents),
       |g AS (SELECT doc_id,
       |        list_transform(range(1, greatest(len(w) - 2, 1) + 1),
       |          i -> array_to_string(w[i:i+2], ' ')) AS g
       |      FROM w),
       |h AS (SELECT doc_id,
       |        list_transform(g,
       |          x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS h
       |      FROM g),
       |f AS (SELECT doc_id,
       |        list_distinct(list_transform(
       |          range(1, greatest(len(h) - ${WinnowWindow - 1}, 1) + 1),
       |          i -> list_min(h[i:i+${WinnowWindow - 1}]))) AS f
       |      FROM h),
       |fps AS (SELECT doc_id, unnest(f) AS fp FROM f)""".stripMargin

  /** [[winnowFpCte]] extended with the census-pruned, threshold-
    * filtered candidate-pair relation `pairs(id_a, id_b, n_shared)`
    * — shared by the dd_winnow_pairs and dd_dup_spans oracles. */
  private def winnowPairsCte: String = winnowFpCte + s"""
     |, census AS (SELECT fp, count(*) AS n FROM fps GROUP BY fp),
     |kept AS (SELECT fps.doc_id, fps.fp
     |         FROM fps JOIN census USING (fp)
     |         WHERE census.n BETWEEN 2 AND $WinnowMaxBucket),
     |pairs AS (
     | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
     |        count(*) AS n_shared
     | FROM kept a JOIN kept b
     |   ON a.fp = b.fp AND a.doc_id < b.doc_id
     | GROUP BY a.doc_id, b.doc_id
     | HAVING count(*) >= $WinnowMinShared)""".stripMargin

  /** Decontamination ground truth (DuckDB) — shared by the scan and
    * indexed twins. Joins on raw gram strings where the engine joins
    * on their 64-bit hashes — equal counts absent a collision. */
  private lazy val deconOracleSql: String =
    """WITH w AS (
      | SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id,
      |        unnest(list_distinct(list_transform(
      |          range(1, greatest(len(w) - 12, 1) + 1),
      |          i -> array_to_string(w[i:i+12], ' ')))) AS g
      |      FROM w),
      |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 17 = 0),
      |tr AS (SELECT doc_id, g FROM g WHERE doc_id % 17 <> 0)
      |SELECT doc_id, count(*) AS n_shared
      |FROM tr JOIN ev USING (g)
      |GROUP BY doc_id""".stripMargin

  /** Winnow pair-search ground truth (DuckDB) — shared by the scan
    * and indexed twins. */
  private lazy val winnowPairsOracleSql: String = winnowPairsCte + s"""
     |, sz AS (SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY doc_id)
     |SELECT id_a, id_b, n_shared,
     |  CAST(n_shared AS DOUBLE)
     |    / least(sa.n_fp, sb.n_fp) AS containment
     |FROM pairs
     |JOIN sz sa ON sa.doc_id = id_a
     |JOIN sz sb ON sb.doc_id = id_b""".stripMargin

  val oracle: Map[String, String] = Map(
    // joins on raw gram strings where the engine joins on their
    // 64-bit hashes — equal counts absent a collision (see Scaladoc)
    "t_decontaminate" -> deconOracleSql,
    // the indexed twin against the SAME oracle certifies the
    // persisted gram fingerprint content end-to-end
    "t_decontaminate_indexed" -> deconOracleSql,
    // the SEMANTIC definition (full per-domain window sort); the
    // engine runs the bounded-heap TopKPerGroup plan — hash equality
    // pins the reformulation, the x20/w5 discipline
    "l13_domain_quota" ->
      s"""WITH h AS (SELECT doc_id, source,
         |  ${graft.core.PortableHash.duckSql("CAST(doc_id AS VARCHAR)")} AS h
         |FROM documents),
         |r AS (SELECT doc_id, source,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY h, doc_id) AS rn
         |      FROM h)
         |SELECT doc_id, source FROM r WHERE rn <= $DomainQuota""".stripMargin,
    "l6_source_mix" ->
      """WITH d AS (
        | SELECT source, n_chars,
        |  CAST(substr(source, 4) AS INT) % 3 AS tier,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % 1000000 AS h
        | FROM documents)
        |SELECT source, count(*) AS n_kept,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM d
        |WHERE tier = 0 OR (tier = 1 AND h < 500000)
        |   OR (tier = 2 AND h < 200000)
        |GROUP BY source""".stripMargin,
    "l7_hash_split" ->
      """WITH d AS (
        | SELECT n_chars,
        |  length(text) - length(replace(text, ' ', '')) + 1 AS toks,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    % 100 AS h
        | FROM documents)
        |SELECT CASE WHEN h < 98 THEN 'train'
        |            WHEN h = 98 THEN 'val'
        |            ELSE 'test' END AS split,
        | count(*) AS n_docs,
        | CAST(sum(toks) AS BIGINT) AS sum_tokens,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM d GROUP BY 1""".stripMargin,
    "l8_seq_pack" ->
      """WITH d AS (
        | SELECT source, doc_id,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1
        |    AS BIGINT) AS toks
        | FROM documents),
        |c AS (
        | SELECT source, doc_id, toks,
        |  sum(toks) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM d)
        |SELECT source,
        | CAST(floor(CAST(cum - toks AS DOUBLE) / 2048) AS BIGINT) AS seq_id,
        | count(*) AS n_docs,
        | CAST(sum(toks) AS BIGINT) AS sum_tokens,
        | min(doc_id) AS first_doc
        |FROM c GROUP BY 1, 2""".stripMargin,
    "dd_exact_group" ->
      """SELECT lang, count(*) AS n_docs,
        | count(DISTINCT md5(text)) AS n_unique
        |FROM documents GROUP BY lang""".stripMargin,
    "dd_exact_rows" ->
      """SELECT min(doc_id) AS doc_id, md5(text) AS text_md5
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "t_token_count" ->
      """SELECT doc_id,
        | CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars_calc,
        | n_chars
        |FROM documents""".stripMargin,
    "t_quality_score" ->
      """WITH t AS (
        | SELECT doc_id,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        |  CAST((length(text) - length(replace(text, 'the', ''))) / 3
        |   + (length(text) - length(replace(text, 'and', ''))) / 3
        |   + (length(text) - length(replace(text, 'of', ''))) / 2 AS BIGINT) AS n_stopwords,
        |  CAST(length(text) AS BIGINT) AS len
        | FROM documents)
        |SELECT doc_id, n_tokens, n_stopwords,
        | CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
        | CAST(len AS DOUBLE) / n_tokens AS mean_token_len
        |FROM t""".stripMargin,
    "t_lang_id" ->
      """WITH t AS (
        | SELECT doc_id, lang,
        |  CAST((length(text) - length(replace(text, ' the ', ''))) / 5
        |   + (length(text) - length(replace(text, ' and ', ''))) / 5 AS BIGINT) AS en,
        |  CAST((length(text) - length(replace(text, ' der ', ''))) / 5
        |   + (length(text) - length(replace(text, ' und ', ''))) / 5 AS BIGINT) AS de,
        |  CAST((length(text) - length(replace(text, ' le ', ''))) / 4
        |   + (length(text) - length(replace(text, ' et ', ''))) / 4 AS BIGINT) AS fr
        | FROM documents)
        |SELECT doc_id, lang,
        | CASE WHEN en >= de AND en >= fr AND en > 0 THEN 'en'
        |      WHEN de >= fr AND de > 0 THEN 'de'
        |      WHEN fr > 0 THEN 'fr'
        |      ELSE 'unknown' END AS lang_pred
        |FROM t""".stripMargin,
    "t_fingerprint" ->
      """SELECT doc_id, substr(md5(lower(text)), 1, 16) AS fp, source
        |FROM documents""".stripMargin,
    // ordered grams (NO list_distinct — winnowing is positional),
    // md5-60 portable hash, window-of-WinnowWindow minimum, distinct
    // kept set (window INTERPOLATED from the engine constant —
    // ADVICE r9: a hard-coded window is a silent hash-compare time
    // bomb if the constant is ever bumped)
    "t_winnow_fp" -> (winnowFpCte + "\nSELECT doc_id, fp FROM fps"),
    "dd_winnow_pairs" -> winnowPairsOracleSql,
    // the indexed twin against the SAME oracle certifies the
    // persisted fingerprint content end-to-end
    "dd_winnow_indexed" -> winnowPairsOracleSql,
    // positional gram hashes from the shared CTE's ordered h lists;
    // islands: matches on a diagonal are consecutive iff pos_a is
    "dd_dup_spans" -> (winnowPairsCte + """
        |, hp AS (SELECT doc_id, h, unnest(range(1, len(h) + 1)) AS i
        |         FROM h),
        |ph AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
        |         h[i] AS hh
        |       FROM hp),
        |m AS (SELECT p.id_a, p.id_b, a.pos AS pos_a,
        |        a.pos - b.pos AS diag
        |      FROM pairs p
        |      JOIN ph a ON a.doc_id = p.id_a
        |      JOIN ph b ON b.doc_id = p.id_b AND b.hh = a.hh),
        |isl AS (SELECT id_a, id_b, diag, pos_a,
        |          pos_a - row_number() OVER (
        |            PARTITION BY id_a, id_b, diag
        |            ORDER BY pos_a) AS grp
        |        FROM m),
        |runs AS (SELECT id_a, id_b, diag, grp, count(*) AS run
        |         FROM isl GROUP BY id_a, id_b, diag, grp)
        |SELECT id_a, id_b, max(run) AS max_gram_run,
        |  max(run) + 2 AS shared_words
        |FROM runs GROUP BY id_a, id_b""".stripMargin),
    "t_vocab_encode" -> (s"""WITH w AS (
        | SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |wp AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
        |       FROM w),
        |words AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
        |            ws[i] AS word
        |          FROM wp),
        |census AS (SELECT word, count(*) AS n FROM words GROUP BY word),
        |vocab AS (SELECT word,
        |            CAST(row_number() OVER (ORDER BY n DESC, word ASC)
        |              AS BIGINT) AS token_id
        |          FROM census
        |          QUALIFY token_id <= $VocabSize)
        |SELECT doc_id, pos, coalesce(token_id, 0) AS token_id
        |FROM words LEFT JOIN vocab USING (word)""".stripMargin),
    "t_word_entropy" ->
      """WITH words AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS word
        | FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS c
        |       FROM words GROUP BY doc_id, word)
        |SELECT doc_id,
        | CAST(sum(c) AS BIGINT) AS n_tokens,
        | count(*) AS n_distinct,
        | CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 10000)
        |   AS BIGINT)) AS BIGINT) AS ent_q
        |FROM tf GROUP BY doc_id""".stripMargin,
    "t_lang_dist" ->
      """SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang, source""".stripMargin,
    "t_top_terms" ->
      """WITH words AS (
        | SELECT lang, unnest(string_split(text, ' ')) AS word
        | FROM documents),
        |counts AS (
        | SELECT lang, word, count(*) AS n FROM words
        | GROUP BY lang, word),
        |ranked AS (
        | SELECT lang, word, n,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY n DESC, word ASC) AS INTEGER) AS rk
        | FROM counts)
        |SELECT lang, word, n, rk FROM ranked WHERE rk <= 5""".stripMargin,
    // t_tfidf: hash-bucketed features — rows-only.
    "t_tfidf_exact" ->
      """WITH words AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS word
        | FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf
        |       FROM words GROUP BY doc_id, word),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT tf.doc_id,
        | CAST(max(tf.tf * CAST(floor(
        |   ln((CAST(n.n AS DOUBLE) + 1.0) / (CAST(df.df AS DOUBLE) + 1.0))
        |   * 10000.0) AS BIGINT)) AS BIGINT) AS top_weight_q,
        | count(*) AS n_terms
        |FROM tf JOIN df USING (word) CROSS JOIN n
        |GROUP BY tf.doc_id""".stripMargin,
    "t_quality_gopher" ->
      """WITH base AS (
        | SELECT doc_id,
        |  CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
        |    AS n_tokens,
        |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_letters
        | FROM documents),
        |tw AS (
        | SELECT doc_id, max(n) AS top_word_n FROM (
        |  SELECT doc_id, count(*) AS n
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  GROUP BY doc_id, word)
        | GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens, tw.top_word_n,
        | CAST(floor(CAST(n_letters AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |   * 1000000.0) AS BIGINT) AS mean_word_len_q,
        | (b.n_tokens >= 20 AND b.n_tokens <= 500
        |   AND tw.top_word_n * 5 <= b.n_tokens) AS passes_gate
        |FROM base b JOIN tw USING (doc_id)""".stripMargin,
    "t_pii_redact" ->
      """WITH p AS (
        | SELECT doc_id,
        |  concat(substr(text, 1, 40), ' contact user', doc_id,
        |    '@example.com or 10.0.', doc_id % 256, '.7 end') AS pii_text
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(pii_text,
        |   '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(pii_text,
        |   '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS BIGINT) AS n_ips,
        | md5(regexp_replace(regexp_replace(pii_text,
        |   '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |   '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<IP>', 'g'))
        |   AS redacted_md5
        |FROM p""".stripMargin,
    "t_token_bpe" ->
      """SELECT doc_id,
        | CAST(length(text) - length(replace(text, ' ', '')) + 1
        |   AS BIGINT) AS n_ws_tokens,
        | CAST(len(regexp_extract_all(text,
        |   ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS BIGINT) AS n_bpe_tokens,
        | CAST(len(list_distinct(regexp_extract_all(text,
        |   ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))) AS BIGINT) AS n_bpe_distinct,
        | CASE WHEN len(regexp_extract_all(text,
        |     ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) > 0
        |   THEN CAST(length(text) AS DOUBLE)
        |     / len(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))
        |   ELSE 0.0 END AS chars_per_token
        |FROM documents""".stripMargin,
    "t_lm_score" ->
      """WITH words AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), lm AS (
        | SELECT w, count(*) AS cnt FROM words GROUP BY w
        |), tot AS (
        | SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM lm
        |), qlm AS (
        | SELECT w, CAST(floor((ln(CAST(cnt AS DOUBLE)) - ln(t)) * 1e4 + 1e-6)
        |   AS BIGINT) AS q_lp
        | FROM lm, tot
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        | CAST(-sum(q_lp) AS BIGINT) AS nll_q,
        | CAST(-sum(q_lp) AS DOUBLE) / count(*) AS avg_nll
        |FROM words JOIN qlm USING (w)
        |GROUP BY doc_id""".stripMargin,
    "t_repetition" ->
      """WITH words AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), wc AS (
        | SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w
        |), wstats AS (
        | SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(max(c) AS BIGINT) AS top_word_n,
        |  CAST(coalesce(sum(c) FILTER (WHERE c > 1), 0) AS BIGINT) AS dup_tokens
        | FROM wc GROUP BY doc_id
        |), bg AS (
        | SELECT doc_id,
        |  unnest(list_transform(range(1, len(ws)),
        |    g -> ws[g] || ' ' || ws[g + 1])) AS b
        | FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |), bstats AS (
        | SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_n
        | FROM (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY doc_id, b)
        | GROUP BY doc_id
        |)
        |SELECT w.doc_id, n_tokens, top_word_n, dup_tokens,
        | CAST(dup_tokens AS DOUBLE) / n_tokens AS dup_frac,
        | CAST(coalesce(top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
        | CASE WHEN n_tokens > 1
        |   THEN CAST(coalesce(top_bigram_n, 0) AS DOUBLE) / (n_tokens - 1)
        |   ELSE 0.0 END AS top_bigram_frac
        |FROM wstats w LEFT JOIN bstats b ON w.doc_id = b.doc_id""".stripMargin,
    "t_corpus_clean" ->
      """WITH kept AS (
        | SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |scored AS (
        | SELECT d.source,
        |  CAST(length(d.text) - length(replace(d.text, ' ', '')) + 1
        |    AS BIGINT) AS n_tokens,
        |  CAST((length(d.text) - length(replace(d.text, 'the', ''))) / 3
        |   + (length(d.text) - length(replace(d.text, 'and', ''))) / 3
        |   + (length(d.text) - length(replace(d.text, 'of', ''))) / 2
        |    AS BIGINT) AS n_stops,
        |  CAST((length(d.text) - length(replace(d.text, ' the ', ''))) / 5
        |   + (length(d.text) - length(replace(d.text, ' and ', ''))) / 5
        |    AS BIGINT) AS en
        | FROM documents d JOIN kept k ON d.doc_id = k.doc_id)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM scored
        |WHERE n_tokens >= 20
        |  AND CAST(n_stops AS DOUBLE) / n_tokens < 0.5
        |  AND en > 0
        |GROUP BY source""".stripMargin
  )
}
