package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{PortableHash, Tables}
import graft.functions.Md5Hash60

/** Persisted secondary-index surfaces: a positional trigram postings
  * table over `documents` and an IVF (coarse-quantizer) index over
  * `embeddings`, both written as partitioned parquet next to a
  * deterministic per-dataset root.
  *
  * Why this exists (VERDICT r12 task #1): the top of the r12 profile
  * was per-query index (re)construction — `t_trgm_like` re-derived
  * doc trigrams from the raw corpus scan on every invocation, and the
  * IVF path re-fit its quantizer per JVM without ever persisting it.
  * A 100 TB index is BUILT once (and maintained incrementally as data
  * arrives) and PROBED many times; the build→serve split below is
  * that shape: `ensure*` is the build/maintenance path, and the
  * lookup queries read ONLY the index tables — never the base corpus.
  *
  * Layout:
  *   - trigram postings: one row per trigram occurrence
  *     (doc_id, gr, pos), hive-partitioned by `bucket` =
  *     portable-md5-60(gr) mod [[TrgmBuckets]]. A pattern's gram set
  *     maps to a small bucket subset, so the probe prunes partitions
  *     (visible as PartitionFilters) and pushes the gram equality
  *     into the parquet scan of just those files.
  *   - IVF: a 16-row `centroids` table (the index ROOT — what a
  *     distributed vector index keeps in its root node) plus an
  *     `assignments` table (vec_id, label, e) hive-partitioned by
  *     `cell`, so probing nprobe cells is partition pruning.
  *
  * Incremental maintenance follows the m11_incr_agg discipline
  * (MergeOps.scala): the base build covers the [[isBase]] rows and
  * the [[isDelta]] remainder arrives as an APPENDED delta — postings
  * are fact rows (no aggregation state), so the merge is a
  * partition-aligned append and the merged table is row-identical to
  * a one-shot build (IndexStoreSpec pins this).
  *
  * Builds are memoized per (JVM, family, dataset) in one registry
  * ([[built]]) and written under a PROCESS-UNIQUE root (ADVICE r13):
  * KMeans cell ids depend on the fitting session's partitioning, so an
  * index from another JVM could disagree with this JVM's probe
  * choices, and a shared on-disk path would let a concurrent or later
  * JVM overwrite files this process — or a dumped oracle SQL — still
  * reads. With per-process roots every built index is immutable after
  * its build: the serve path, the specs, and the DuckDB compare (which
  * runs AFTER Verify exits and reads the path Verify interpolated) all
  * see exactly the bytes this process wrote. The same root
  * ([[processRoot]]) holds everything else a process builds outside a
  * dataset: the structured ANN corpus
  * ([[graft.operators.AnnBenchCorpus]]), the layout copies of
  * [[LayoutQueries]] and per-call scratch such as the CSV round trip.
  * Roots live under the system temp dir and survive process exit —
  * they MUST, for the oracle compare — and one reaper
  * ([[reapStaleRoots]]) removes other processes' expired roots.
  */
object IndexStore {

  /** Unique token for this JVM (pid + start time): namespaces every
    * on-disk artifact a graft process builds, so concurrent JVMs on
    * one host (test suite alongside Bench/Verify, parallel CI jobs)
    * can never clobber each other's indexes mid-read. */
  val processToken: String = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    s"p${rt.getPid}_${rt.getStartTime}"
  }

  /** Trigram postings hash-partition count. 64 keeps a 14-gram
    * pattern's probe inside ≤14/64 of the partition dirs — a visible
    * file-subset prune — while staying far above per-file overhead
    * at local scale. */
  val TrgmBuckets = 64

  /** The base/delta split every index family is maintained under: a
    * row whose key (doc_id, vec_id or l_orderkey) is DeltaMod-1 mod
    * [[DeltaMod]] arrives in the appended delta (~20% of any table),
    * every other row is in the base build. Engine code spells the
    * split only as [[isBase]]/[[isDelta]], DuckDB oracles only as
    * [[isBaseSql]]/[[isDeltaSql]]. */
  val DeltaMod = 5

  def isBase(key: Column): Column =
    pmod(key, lit(DeltaMod.toLong)) < DeltaMod - 1

  def isDelta(key: Column): Column =
    pmod(key, lit(DeltaMod.toLong)) === DeltaMod - 1

  /** DuckDB spellings over the column named `key`; keys are
    * non-negative, where `%` agrees with `pmod`. */
  def isBaseSql(key: String): String = s"$key % $DeltaMod < ${DeltaMod - 1}"

  def isDeltaSql(key: String): String = s"$key % $DeltaMod = ${DeltaMod - 1}"

  /** IVF coarse-quantizer cells and probe width — same values the
    * in-memory r11 IVF used, so recall characteristics carry over. */
  val IvfK = 16
  val IvfNprobe = 2

  case class IvfPaths(centroids: String, assignments: String)

  /** Word-level inverted index (VERDICT r13 task #8): term-frequency
    * postings, a document-length sidecar, and a corpus-stats page —
    * the tables a BM25 / DSIR serving stack reads instead of
    * re-exploding the corpus. `source` is DENORMALIZED into the
    * postings (an index serves; it does not join back for per-doc
    * attributes), and `stats` holds one (n_docs, total_tokens) row
    * per build split — the serve side sums the ≤2 rows, so the
    * append path never has to re-aggregate state (the m11 merge
    * discipline applied to index statistics). */
  case class WordIndexPaths(postings: String, doclen: String,
      stats: String)

  /** Word postings hash-partition count: a |query-terms|-sized probe
    * prunes to ≤ that many of 64 partition dirs. */
  val WordBuckets = 64

  /** Monotonic per-dataset index VERSION (r20, ADVICE r19): bumped by
    * every index build / serving-view refresh for `dir` in this JVM.
    * Caches that memoize index-DERIVED structures (e.g. [[graft
    * .operators.PipelineQueries]]' probe context) key on this
    * version, so a rebuild or append within one long-lived
    * application invalidates them instead of silently serving stale
    * digests/census/reps. A process that mutates index files outside
    * the ensure/refresh paths must call [[bumpVersion]] itself
    * (Maintenance.refreshAll does). */
  private val indexVersions = TrieMap.empty[String, Long]

  def indexVersion(dir: String): Long = indexVersions.getOrElse(dir, 0L)

  def bumpVersion(dir: String): Unit =
    indexVersions.updateWith(dir)(v => Some(v.getOrElse(0L) + 1L))

  /** The one registry of JVM-scoped builds: the (family, dir) pairs
    * this process has written. Every family's paths are a pure
    * function of [[indexRoot]], so only the fact of a build is
    * recorded. */
  private val builds = TrieMap.empty[(String, String), Unit]

  /** Memoized build wrapper every ensure* body runs through: `build`
    * runs once per (JVM, family, dir), and the dataset's index version
    * is bumped when it actually ran — the single choke point that
    * keeps version-keyed derived caches honest. With `refresh`,
    * `build` always runs and is recorded without a bump: the
    * serving-view refreshes, whose caller ([[Maintenance.refreshAll]])
    * bumps once after every view is current. Returns `paths`. */
  private[graft] def built[A](family: String, dir: String, paths: A,
      refresh: Boolean = false)(build: => Unit): A = {
    if (refresh) { build; builds.put((family, dir), ()) }
    else builds.getOrElseUpdate((family, dir), { build; bumpVersion(dir) })
    paths
  }

  /** Where every process's root lives: `$TMPDIR/graft_index`. */
  private def rootsDir: java.nio.file.Path = java.nio.file.Paths.get(
    sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_index")

  /** This process's root under the system temp dir, holding every
    * file graft builds outside a dataset. Process-unique so no other
    * JVM can overwrite it (ADVICE r13); durable past process exit,
    * because the dumped oracle SQL interpolates index paths and the
    * DuckDB compare runs in a later process. */
  def processRoot: java.nio.file.Path = {
    reapStaleRoots
    rootsDir.resolve(processToken)
  }

  /** Per-(process, dataset) index root under [[processRoot]]. */
  def indexRoot(dir: String): java.nio.file.Path =
    processRoot.resolve(dir.replaceAll("[^A-Za-z0-9._-]", "_"))

  /** Age past which another process's index root is garbage:
    * an exited JVM's root is only ever read again by the DuckDB
    * oracle compare, which runs within minutes of the Verify dump —
    * 12 h is orders of magnitude beyond that window. */
  val StaleRootMillis: Long = 12L * 3600 * 1000

  /** Best-effort reap of OTHER processes' expired index roots, once
    * per JVM — process-unique roots trade clobber-safety for /tmp
    * accumulation across rounds; this bounds the accumulation. Our
    * own root and any root younger than [[StaleRootMillis]] are
    * never touched; IO failures (e.g. a concurrent reaper) are
    * swallowed — reaping is hygiene, not correctness. */
  private lazy val reapStaleRoots: Unit = {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val cutoff = System.currentTimeMillis() - StaleRootMillis
    def listed(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq finally s.close()
    }
    def deleteTree(p: Path): Unit = {
      val s = Files.walk(p)
      val all = try s.iterator().asScala.toSeq finally s.close()
      all.reverse.foreach(f => try Files.deleteIfExists(f) catch {
        case _: java.io.IOException => ()
      })
    }
    def expired(p: Path): Boolean =
      try Files.getLastModifiedTime(p).toMillis < cutoff
      catch { case _: java.io.IOException => false }
    def reap(p: Path): Unit =
      try deleteTree(p) catch { case _: java.io.IOException => () }
    try {
      if (Files.isDirectory(rootsDir))
        listed(rootsDir)
          .filterNot(_.getFileName.toString == processToken)
          .filter(expired).foreach(reap)
    } catch { case _: java.io.IOException => () }
  }

  /** The JVM twin of [[PortableHash.md5Hash60Composed]] mod
    * [[TrgmBuckets]] — lets the lookup side compute its pattern
    * grams' partition buckets as driver-side literals without a
    * Spark job (Md5Hash60Spec pins the Spark/JVM agreement). */
  def trgmBucketOf(gram: String): Int =
    (Md5Hash60.hash60(UTF8String.fromString(gram)) % TrgmBuckets).toInt

  /** Driver-side partition bucket of a query TERM in the word
    * postings layout — same portable-hash twin contract as
    * [[trgmBucketOf]]. */
  def wordBucketOf(w: String): Int =
    (Md5Hash60.hash60(UTF8String.fromString(w)) % WordBuckets).toInt

  /** The build skeleton of the document-keyed families: read the
    * corpus once, then run the family's `write` as the base overwrite
    * and again as the delta append — same generation, same layout;
    * every family's rows are per-doc facts or additive partial
    * counts, so the merge is a set union with no state to
    * re-aggregate. The corpus is fanned out by doc_id (r21): every
    * family runs heavy per-doc compute (shingling, gram hashing,
    * chunking) that would otherwise serialize inside the
    * single-row-group scan task. */
  private def docIndex[A](family: String, s: SparkSession,
      dir: String, paths: A)(write: (DataFrame, String) => Unit): A =
    built(family, dir, paths) {
      val docs = Tables.fanOut(Tables.documents(s, dir), "doc_id")
      write(docs.filter(isBase(col("doc_id"))), "overwrite")
      write(docs.filter(isDelta(col("doc_id"))), "append")
    }

  /** (doc_id, gr, pos 1-based, bucket) for every length-3 gram of
    * every doc in `docs` — generated map-side, no shuffle until the
    * partitioned write. */
  private[graft] def trgmPostingsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, greatest(length(text) - 2, 1)), " +
          "i -> substring(text, i, 3))")).as(Seq("idx", "gr")))
      // docs shorter than 3 chars yield one short pseudo-gram; a
      // 3-char pattern can never match them, so they carry no
      // postings at all
      .filter(length(col("gr")) === 3)
      .select(col("doc_id"), col("gr"),
        (col("idx") + 1).cast("int").as("pos"),
        pmod(PortableHash.md5Hash60Composed(col("gr")),
          lit(TrgmBuckets.toLong)).cast("int").as("bucket"))

  /** Build (base overwrite + delta append) the positional trigram
    * postings for `dir`'s documents; returns the table path. */
  def ensureTrgmPostings(s: SparkSession, dir: String): String = {
    val path = indexRoot(dir).resolve("trgm_postings").toString
    docIndex("trgm", s, dir, path) { (d, mode) =>
      trgmPostingsOf(d)
        // co-locate each bucket before the partitioned write so a
        // bucket's rows land in one file, sorted for row-group
        // locality on (gr, doc_id)
        .repartition(col("bucket"))
        .sortWithinPartitions("gr", "doc_id", "pos")
        .write.mode(mode).partitionBy("bucket").parquet(path)
    }
  }

  /** (doc_id, w, tf, bucket) — term frequency of every distinct word
    * of every doc, bucket = portable-md5-60(w) mod [[WordBuckets]].
    * tf is a PER-DOC statistic, so the doc_id-keyed base/delta split
    * still appends losslessly: every (doc, w, tf) row is complete
    * within its split (IndexStoreSpec pins incremental ≡ one-shot,
    * like the trigram table). */
  private[graft] def wordPostingsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).cast("long").as("tf"),
        first(col("source")).as("source"))
      .select(col("doc_id"), col("w"), col("tf"), col("source"),
        pmod(PortableHash.md5Hash60Composed(col("w")),
          lit(WordBuckets.toLong)).cast("int").as("bucket"))

  /** Build (base overwrite + delta append, the [[ensureTrgmPostings]]
    * discipline on the same doc_id split) the word-level inverted
    * index for `dir`'s documents: bucket-partitioned tf postings plus
    * a (doc_id, dl, source) length sidecar. BM25/DSIR serving reads
    * ONLY these tables — the corpus text is never re-tokenized at
    * query time. */
  def ensureWordPostings(s: SparkSession, dir: String): WordIndexPaths = {
    val root = indexRoot(dir)
    val paths = WordIndexPaths(
      root.resolve("word_postings").toString,
      root.resolve("word_doclen").toString,
      root.resolve("word_stats").toString)
    docIndex("word", s, dir, paths) { (d, mode) =>
      wordPostingsOf(d)
        .repartition(col("bucket"))
        .sortWithinPartitions("w", "doc_id")
        .write.mode(mode).partitionBy("bucket").parquet(paths.postings)
      d.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("dl"),
          col("source"))
        .transform(Tables.packForWrite)
        .write.mode(mode).parquet(paths.doclen)
      d.select(size(split(col("text"), " ")).cast("long").as("dl"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("dl")).cast("long").as("total_tokens"))
        .coalesce(1)
        .write.mode(mode).parquet(paths.stats)
    }
  }

  /** Fit the IVF coarse quantizer (KMeans k=[[IvfK]], seed 42, the
    * same hyperparameters the in-memory path used) on the BASE split
    * ([[isBase]] on vec_id), persist the centroid root table +
    * cell-partitioned base assignments, then absorb the delta through
    * [[appendIvf]]: delta vectors are NOT part of the quantizer fit —
    * each is assigned to the nearest EXISTING centroid with no re-fit,
    * how a 100 TB vector index absorbs new data between periodic
    * re-trainings. So the standing index every probe serves is itself
    * the product of the incremental-maintenance path, and the
    * sim_ivf_* oracles certify it end-to-end (the trigram-postings
    * discipline). */
  def ensureIvf(s: SparkSession, dir: String): IvfPaths = {
    val root = indexRoot(dir)
    val paths = IvfPaths(
      root.resolve("ivf_centroids").toString,
      root.resolve("ivf_assignments").toString)
    built("ivf", dir, paths) {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("e"))
      val base = emb.filter(isBase(col("vec_id")))
        .withColumn("fv", array_to_vector(col("e")))
      // maxIter 5 / random seeded init: a coarse quantizer only
      // routes probes — see the r11 IVF notes; recall is pinned by
      // the probed-cell invariant spec, not centroid quality
      val model = new KMeans().setK(IvfK).setSeed(42L).setMaxIter(5)
        .setInitMode("random")
        .setFeaturesCol("fv").setPredictionCol("cell")
        .fit(base)
      model.transform(base)
        .select(col("vec_id"), col("label"), col("e"), col("cell"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(paths.assignments)
      val spark = s
      import spark.implicits._
      model.clusterCenters.zipWithIndex.toSeq
        .map { case (c, i) => (i, c.toArray.toSeq) }
        .toDF("cell", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(paths.centroids)
      appendIvf(s, paths, emb.filter(isDelta(col("vec_id"))))
    }
  }

  /** MinHash dedup index parameters — the SAME (nHashes, bands)
    * the scan-side dd_minhash_lsh uses, so the indexed serve is a
    * drop-in twin with an identical collision curve. */
  val MhHashes = 32
  val MhBands = 4

  /** Cluster-layout banding (8 bands × 4 rows — the steeper recall
    * curve DedupCluster uses at J≥0.85, vs the 4×8 search layout in
    * `bands`), persisted since r18 for the incremental-clustering
    * serve. Same 32-hash signature, second slicing. */
  val MhClusterBands = 8

  case class MinhashPaths(shingles: String, bands: String,
      cbands: String, cstats: String)

  /** Per-doc MinHash signature projection — doc_id, hs (the 3-gram
    * shingle hashes, the exact-verify fingerprint), sig (the 32-hash
    * MinHash signature). ONE spelling shared by the index build and
    * the ingest batch probe (PipelineQueries.flagBatch), so a
    * signature computed from ARRIVING text can never diverge from
    * the persisted index content (ADVICE r19: the batch probe used
    * to read the batch docs' own signatures back from the standing
    * index, which silently admitted genuinely new doc_ids). */
  def minhashShingles(s: SparkSession, d: DataFrame): DataFrame = {
    d.withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        transform(
          graft.operators.SimilarityQueries.wordGramExpr("words", 3),
          g => xxhash64(g)).as("hs"))
      .withColumn("sig",
        call_function("minhash_sig", col("hs"), lit(MhHashes)))
  }

  /** `bands`-way banding of a [[minhashShingles]] frame — doc_id,
    * band, bhash, each band hashing MhHashes/bands signature rows:
    * the search layout at [[MhBands]], the cluster layout at
    * [[MhClusterBands]]. Shared build/probe spelling, as above. */
  def bandsOf(sh: DataFrame, bands: Int): DataFrame = {
    val rows = MhHashes / bands
    sh.select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * rows + 1, lit(rows)))
              .as("bhash")))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.bhash").as("bhash"))
  }

  /** Per-doc distinct-free 13-gram hash projection — doc_id, g.
    * Shared build/probe spelling, as above. */
  def gram13Of(d: DataFrame): DataFrame =
    d.withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        explode(transform(
          graft.operators.SimilarityQueries.wordGramExpr("words", 13),
          g => xxhash64(g))).as("g"))

  /** Persisted MinHash dedup index (the trigram/word/IVF build→serve
    * discipline applied to the near-dup family): a shingle-hash
    * fingerprint store (doc_id, hs — the exact-verify input) and a
    * banded signature table (doc_id, band, bhash — the candidate-
    * generation input), band-partitioned. At 100 TB near-dup is not
    * a query you re-derive from raw text per run — signatures are
    * computed once per document on ingest and maintained as rows
    * arrive; both tables are per-doc fact rows, so the base+delta
    * split appends losslessly (incremental ≡ one-shot, pinned by
    * MinhashIndexSpec, and the serve twin's hash-equality to the
    * scan twin certifies the persisted content end-to-end). */
  def ensureMinhash(s: SparkSession, dir: String): MinhashPaths = {
    val root = indexRoot(dir)
    val paths = MinhashPaths(
      root.resolve("mh_shingles").toString,
      root.resolve("mh_bands").toString,
      root.resolve("mh_cbands").toString,
      root.resolve("mh_cstats").toString)
    docIndex("minhash", s, dir, paths) { (d, mode) =>
      val sh = minhashShingles(s, d)
        .localCheckpoint() // feeds BOTH table writes below
      Tables.packForWrite(sh.select(col("doc_id"), col("hs")))
        .write.mode(mode).parquet(paths.shingles)
      bandsOf(sh, MhBands)
        .repartition(col("band"))
        .write.mode(mode).partitionBy("band").parquet(paths.bands)
      val cband = bandsOf(sh, MhClusterBands)
        .localCheckpoint() // feeds the banded write AND the census
      cband
        .repartition(col("band"))
        .write.mode(mode).partitionBy("band").parquet(paths.cbands)
      // additive bucket census of the cluster banding (count +
      // min-id rep are both mergeable, the m11 discipline): the
      // incremental-clustering serve re-sums these partial rows
      // instead of re-scanning + re-grouping the full banded table
      cband.groupBy(col("band"), col("bhash"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("rep"))
        .write.mode(mode).parquet(paths.cstats)
    }
  }

  case class SimhashPaths(sigs: String)

  /** Persisted SimHash near-dup index (VERDICT r15 task #4 — the
    * last dedup family member still recomputing signatures per run):
    * one probe-keyed signature table (doc_id, simhash, k), hive-
    * partitioned by `combo`, holding each document's 32-bit
    * majority-vote signature exploded into its
    * [[graft.operators.SimilarityQueries.ShCombos]] 5-nibble probe
    * keys (the Manku block-combination multi-index — the r17 layout;
    * the previous 4×8-bit banding had 256 buckets per band and was
    * Θ(n²/128) at candidate time). Unlike MinHash there is no
    * separate fingerprint store — the hamming verify is
    * bit_count(xor) of the signatures themselves, which travel with
    * the probe rows, so ONE table serves both candidate generation
    * (partition-local equi-join on (combo, k)) and verification.
    * Rows are per-doc facts, so the doc-keyed base+delta split
    * appends losslessly (incremental ≡ one-shot, pinned by
    * SimhashIndexSpec; the serve twin's hash-equality to the scan
    * twin certifies the content end-to-end). */
  def ensureSimhash(s: SparkSession, dir: String): SimhashPaths = {
    val paths = SimhashPaths(indexRoot(dir).resolve("simhash_sigs").toString)
    docIndex("simhash", s, dir, paths) { (d, mode) =>
      d.withColumn("words", split(col("text"), " "))
        .select(col("doc_id"),
          transform(
            graft.operators.SimilarityQueries.wordGramExpr("words", 3),
            g => graft.core.PortableHash.md5Hash60(g)).as("hs"))
        .select(col("doc_id"),
          call_function("simhash32", col("hs")).as("simhash"))
        .select(col("doc_id"), col("simhash"),
          graft.operators.SimilarityQueries
            .shComboPosexplode("simhash").as(Seq("combo", "k")))
        .repartition(col("combo"))
        .write.mode(mode).partitionBy("combo").parquet(paths.sigs)
    }
  }

  case class Gram13Paths(grams: String)

  /** Persisted 13-gram fingerprint index for decontamination: the
    * per-doc distinct 13-gram hashes (doc_id, g) — append-stable
    * facts. This is the textbook case for the build→serve split:
    * EVAL SETS CHANGE with every benchmark release while the corpus
    * fingerprints do not, so production decontamination probes a
    * maintained gram index with each new eval list rather than
    * re-shingling the corpus per release. */
  def ensureGram13(s: SparkSession, dir: String): Gram13Paths = {
    val paths = Gram13Paths(indexRoot(dir).resolve("decon_grams").toString)
    docIndex("gram13", s, dir, paths) { (d, mode) =>
      Tables.packForWrite(gram13Of(d)).write.mode(mode).parquet(paths.grams)
    }
  }

  case class WinnowPaths(fps: String)

  /** Persisted winnowing fingerprint index: the selected (doc_id,
    * fp) rows — per-doc facts from the position-local windowed-min
    * rule, so chunking of NEW docs never disturbs existing rows and
    * the doc-keyed base+delta append is lossless. The winnow
    * selection (the native winnow_fps expression over the full text)
    * is the expensive map-side stage; persisting it turns every
    * pair-search serve into joins over a slim long-pair table. */
  def ensureWinnow(s: SparkSession, dir: String): WinnowPaths = {
    val paths = WinnowPaths(indexRoot(dir).resolve("winnow_fps").toString)
    docIndex("winnow", s, dir, paths) { (d, mode) =>
      d.select(col("doc_id"),
          expr(s"winnow_fps(split(text, ' '), " +
            s"${graft.operators.TextQueries.WinnowWindow})").as("fps"))
        .select(col("doc_id"), explode(col("fps")).as("fp"))
        .transform(Tables.packForWrite)
        .write.mode(mode).parquet(paths.fps)
    }
  }

  case class CdcPaths(chunks: String, census: String)

  /** Persisted content-defined-chunking index: per-doc chunk digests
    * (`cdc_chunks`: doc_id, cid, h — append-stable facts; the
    * boundary rule is LOCAL to each doc, so a doc's chunking never
    * changes as the corpus grows) and the chunk-occurrence census
    * (`cdc_census`: h, occ — PARTIAL counts per build split, additive
    * over disjoint doc sets, re-summed at serve). What the index
    * removes from every serve: the word explode, the per-doc lag
    * window + cumsum, and the chunk-text md5 — the whole
    * chunk-construction pipeline runs once, on ingest. */
  def ensureCdcChunks(s: SparkSession, dir: String): CdcPaths = {
    val root = indexRoot(dir)
    val paths = CdcPaths(
      root.resolve("cdc_chunks").toString,
      root.resolve("cdc_census").toString)
    docIndex("cdc", s, dir, paths) { (d, mode) =>
      val ch = graft.operators.RetrievalQueries.cdcChunkHashes(d)
        .localCheckpoint() // feeds both table writes below
      Tables.packForWrite(ch).write.mode(mode).parquet(paths.chunks)
      ch.groupBy(col("h")).agg(count(lit(1)).as("occ"))
        .write.mode(mode).parquet(paths.census)
    }
  }

  case class ContainmentPaths(docs: String, freq: String)

  /** Persisted containment-join index: the per-doc SORTED gram-hash
    * fingerprints (`cont_docs`: doc_id, g, na — the probe, posting,
    * and verify source) and the gram document-frequency census
    * (`cont_freq`: gr, nf — PARTIAL counts per build split). The
    * fingerprints are per-doc facts (append-stable); the census is
    * additive over disjoint doc sets, so the delta appends partial
    * rows and the serve side re-sums by gram — the graph-index
    * discipline. The rare-prefix and capped postings derivations
    * stay at serve: they depend on GLOBAL frequencies, which is
    * exactly the part that must reflect newly-absorbed deltas.
    * What the index removes from every serve: the text parse, gram
    * hashing, per-doc sorts, and the corpus-wide frequency
    * aggregate. */
  def ensureContainment(s: SparkSession, dir: String): ContainmentPaths = {
    val root = indexRoot(dir)
    val paths = ContainmentPaths(
      root.resolve("cont_docs").toString,
      root.resolve("cont_freq").toString)
    docIndex("containment", s, dir, paths) { (d, mode) =>
      val fp = d
        .withColumn("words", split(col("text"), " "))
        .select(col("doc_id"),
          sort_array(transform(
            graft.operators.SimilarityQueries.wordGramExpr("words", 3),
            g => xxhash64(g))).as("g"))
        .withColumn("na", size(col("g")).cast("long"))
        .localCheckpoint() // feeds both table writes below
      Tables.packForWrite(fp).write.mode(mode).parquet(paths.docs)
      fp.select(explode(col("g")).as("gr"))
        .groupBy(col("gr")).agg(count(lit(1)).as("nf"))
        .write.mode(mode).parquet(paths.freq)
    }
  }

  /** Co-purchase graph index layout buckets: `pairs` rows are
    * hive-partitioned by `bucket` = u mod [[GraphBuckets]], so a
    * "neighbors of part X" point probe prunes to 1/[[GraphBuckets]]
    * of the files (the trigram-bucket discipline on graph edges). */
  val GraphBuckets = 32

  case class GraphPaths(pairs: String, freq: String, adj: String,
      stats: String)

  /** Persisted co-purchase graph index (VERDICT r15 task #1 — the
    * build→serve twin discipline applied to the graph family): the
    * basket pair census `pairs` (u < v, partial co-occurrence count
    * per build split) and the item-frequency sidecar `freq`. Both
    * g6_triangles and x27_copurchase rebuild this same census from a
    * lineitem basket self-join EVERY run (jointly ~10 s of the r15
    * suite); at 100 TB the census is an index you maintain as order
    * batches arrive, not a per-query derivation. The expensive part
    * (the O(Σ basket²) self-join over the fact table) happens once at
    * build; serving reads the edge-sized tables alone. Counts are
    * additive over the order-keyed base/delta split, so the appended
    * delta is lossless (incremental ≡ one-shot after the serve-side
    * re-sum — GraphIndexSpec pins this) and the serve twins'
    * hash-equality to the scan twins certifies the persisted content
    * end-to-end. The split is keyed on ORDERS ([[isDelta]] on
    * l_orderkey), modeling order-batch arrival: a basket arrives
    * whole; rows never join an already-indexed order later. */
  def ensureGraphEdges(s: SparkSession, dir: String): GraphPaths = {
    val root = indexRoot(dir)
    val paths = GraphPaths(
      root.resolve("graph_pairs").toString,
      root.resolve("graph_freq").toString,
      root.resolve("graph_adj").toString,
      root.resolve("graph_stats").toString)
    built("graph", dir, paths) {
      val li = Tables.lineitem(s, dir)
      def write(d: DataFrame, mode: String): Unit = {
        val items = d
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct()
          .localCheckpoint() // feeds both self-join sides + freq
        items.as("a")
          .join(items.as("b"),
            col("a.o") === col("b.o") && col("a.p") < col("b.p"))
          .groupBy(col("a.p").as("u"), col("b.p").as("v"))
          .agg(count(lit(1)).as("pair_n"))
          .withColumn("bucket",
            pmod(col("u"), lit(GraphBuckets.toLong)).cast("int"))
          .repartition(col("bucket"))
          .sortWithinPartitions("u", "v")
          .write.mode(mode).partitionBy("bucket").parquet(paths.pairs)
        items.groupBy(col("p")).agg(count(lit(1)).as("item_n"))
          .write.mode(mode).parquet(paths.freq)
      }
      write(li.filter(isBase(col("l_orderkey"))), "overwrite")
      write(li.filter(isDelta(col("l_orderkey"))), "append")
      writeGraphViews(s, paths)
    }
  }

  /** Serving views of the graph index, re-derived from the merged
    * pairs table (r18, extracted r20 for [[graft.sources
    * .Maintenance]]): the degree-oriented sorted adjacency
    * `graph_adj` and the one-row `graph_stats` page (n_nodes,
    * n_edges). The pairs table stays the incrementally-maintained
    * TRUTH (additive partial counts); adjacency is not additive under
    * appends — degrees shift, so orientations can flip — which is
    * exactly the materialized-view discipline PQ codebooks already
    * follow: derive the serving artifact from the maintained table
    * each refresh, never from the base corpus. The g6 serve then pays
    * only the closure join; the per-serve degree census + orientation
    * + collect_list rebuild (the r17 profile's residual on
    * g6_triangles_indexed) moves into the build. */
  private def writeGraphViews(s: SparkSession, paths: GraphPaths): Unit = {
    val edges = s.read.parquet(paths.pairs)
      .select(col("u"), col("v")).distinct()
      .localCheckpoint() // feeds adjacency + both stats aggregates
    // census materializes inside the adjacency write (3 consumers:
    // both orientation joins + n_nodes), then both checkpoints are
    // freed — the build runs once per refresh, no need to hold blocks
    val deg = graft.operators.GraphQueries.nodeDegrees(edges)
      .localCheckpoint(false)
    graft.operators.GraphQueries.orientedAdjacency(edges, deg)
      .write.mode("overwrite").parquet(paths.adj)
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      .write.mode("overwrite").parquet(paths.stats)
    org.apache.spark.sql.GraftSqlShims.unpersistLocalCheckpoint(deg)
    org.apache.spark.sql.GraftSqlShims.unpersistLocalCheckpoint(edges)
  }

  /** Refresh path for the graph serving views after a delta append to
    * the pairs table: re-derive adjacency + stats from the maintained
    * truth. The caller ([[Maintenance.refreshAll]]) bumps the index
    * version once after every view is current. NOT safe to run
    * concurrently with serves of the same dir (overwrite deletes
    * files mid-read) — maintenance windows, like any materialized-
    * view refresh. */
  private[graft] def refreshGraphViews(s: SparkSession,
      dir: String): GraphPaths = {
    val paths = ensureGraphEdges(s, dir)
    writeGraphViews(s, paths)
    paths
  }

  case class BaseClusterPaths(labels: String, edges: String)

  /** Persisted near-dup cluster state of the BASE split (r18): the
    * verified edge set and the converged min labels over base docs,
    * both derived from the persisted MinHash cluster bands +
    * fingerprints — what `dd_cluster_incremental` warm-starts from
    * when delta docs arrive. Like ranks/adjacency, labels are not
    * additive under new edges (components merge), so this is a
    * derived serving view refreshed from the maintained index
    * tables. */
  def ensureBaseClusters(s: SparkSession, dir: String): BaseClusterPaths =
    baseClusters(s, dir, refresh = false)

  private def baseClusters(s: SparkSession, dir: String,
      refresh: Boolean): BaseClusterPaths = {
    val root = indexRoot(dir)
    val paths = BaseClusterPaths(
      root.resolve("cc_base_labels").toString,
      root.resolve("cc_base_edges").toString)
    built("base_clusters", dir, paths, refresh) {
      val (labels, edges) =
        graft.operators.DedupCluster.baseClusterState(s, dir)
      labels.write.mode("overwrite").parquet(paths.labels)
      edges.write.mode("overwrite").parquet(paths.edges)
    }
  }

  /** Refresh path for the base cluster state (labels are not additive
    * under new edges — components merge), re-derived from the
    * maintained MinHash index tables. Same version and
    * maintenance-window contract as [[refreshGraphViews]]. */
  private[graft] def refreshBaseClusters(s: SparkSession,
      dir: String): BaseClusterPaths = baseClusters(s, dir, refresh = true)

  /** Persisted converged PageRank of the BASE-split part↔supplier
    * graph (r18) — the serving view the incremental query
    * (`g5c_pagerank_incremental`) warm-starts from when delta orders
    * arrive. Like `graph_adj`, ranks are NOT additive under appends
    * (the whole vector shifts), so this is a derived view refreshed
    * at build time from the maintained base split; the warm-start
    * serve then pays 2–3 power steps instead of the from-scratch 8. */
  def ensureBaseRanks(s: SparkSession, dir: String): String =
    baseRanks(s, dir, refresh = false)

  private def baseRanks(s: SparkSession, dir: String,
      refresh: Boolean): String = {
    val path = indexRoot(dir).resolve("graph_base_ranks").toString
    built("base_ranks", dir, path, refresh) {
      graft.operators.GraphQueries.baseConvergedRanks(s, dir)
        .select(col("node"), col("pr"))
        .write.mode("overwrite").parquet(path)
    }
  }

  /** Refresh path for the converged base ranks (a rank vector shifts
    * wholesale under appends — not additive), re-derived from the
    * maintained base split. Same version and maintenance-window
    * contract as [[refreshGraphViews]]. */
  private[graft] def refreshBaseRanks(s: SparkSession,
      dir: String): String = baseRanks(s, dir, refresh = true)

  /** Corpus catalog (r18): the per-document ownership/digest table a
    * lakehouse maintains as data arrives — (doc_id, source,
    * text_md5), hive-partitioned by the base/delta SPLIT so the
    * delta-ingest probe ([[graft.operators.PipelineQueries
    * .pipeDeltaIngest]]) prunes to the base partition, plus a
    * per-(split, source) census page. Base overwrite + delta append,
    * the standing incremental discipline every index family shares. */
  case class CatalogPaths(digests: String, stats: String)

  def ensureCatalog(s: SparkSession, dir: String): CatalogPaths = {
    val root = indexRoot(dir)
    val paths = CatalogPaths(
      root.resolve("catalog_digests").toString,
      root.resolve("catalog_stats").toString)
    docIndex("catalog", s, dir, paths) { (docs, mode) =>
      val split = if (mode == "overwrite") "base" else "delta"
      val d = docs
        .select(lit(split).as("split"),
          col("doc_id"), col("source"), md5(col("text")).as("text_md5"))
        .localCheckpoint() // feeds the digest AND census writes
      Tables.packForWrite(d)
        .write.mode(mode).partitionBy("split").parquet(paths.digests)
      d.groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .write.mode(mode).parquet(paths.stats)
    }
  }

  /** Product-quantization layout (FAISS `IVF…,PQ8` family): the
    * 64-dim vectors split into [[PqM]] contiguous subspaces of
    * [[PqSubDim]] dims; each subspace gets its own [[PqK]]-centroid
    * codebook, and a vector's code is its per-subspace nearest
    * centroids — [[PqM]] small ints (4 bits each here), ~8 bytes a
    * vector vs 512 for the floats. The codes table is partitioned by
    * the vector's IVF `cell`, so an ADC scan opens only the probed
    * cells' partitions: IVFPQ's inverted-list locality expressed as
    * hive partition pruning. */
  val PqM = 8
  val PqSubDim = 8
  val PqK = 16

  case class PqPaths(codebooks: String, codes: String)

  /** Fit the PQ codebooks on the IVF base split and encode the whole
    * corpus, cell-partitioned next to the IVF index. The INPUT is the
    * persisted IVF assignments table (vectors + cells already
    * certified by the sim_ivf_* oracles) — an IVFPQ index quantizes
    * the vectors its coarse index routed, not a second read of the
    * base corpus. Base split encodes via [[appendPq]] in overwrite
    * mode, the delta via the same path in append mode — so, as with
    * trigram/word/IVF, the standing index IS the product of the
    * incremental-maintenance path and the serve oracle certifies it
    * end-to-end. */
  def ensurePq(s: SparkSession, dir: String): PqPaths = {
    val root = indexRoot(dir)
    val paths = PqPaths(
      root.resolve("pq_codebooks").toString,
      root.resolve("pq_codes").toString)
    built("pq", dir, paths) {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val ivf = ensureIvf(s, dir)
      val av = s.read.parquet(ivf.assignments)
        .select(col("vec_id"), col("label"), col("e"), col("cell"))
      val base = av.filter(isBase(col("vec_id")))
        .localCheckpoint() // PqM fits read it
      // one seeded coarse fit per subspace — codebook quality only
      // shapes recall (pinned by AnnStructuredSpec's PQ gate), never
      // correctness: the oracles read the PERSISTED codebooks
      val spark = s
      import spark.implicits._
      // the PqM fits are independent (disjoint subspace slices, own
      // seeds), so submit them as concurrent Spark jobs: build wall
      // ≈ one fit instead of PqM serial fits; per-fit results are
      // unchanged (each is seeded and reads its own slice)
      val centers = {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        Await.result(
          Future.sequence((0 until PqM).map { m => Future {
            val sub = base.select(array_to_vector(
              slice(col("e"), m * PqSubDim + 1, PqSubDim)).as("fv"))
            new KMeans().setK(PqK).setSeed(42L + m).setMaxIter(5)
              .setInitMode("random")
              .setFeaturesCol("fv").setPredictionCol("code")
              .fit(sub)
              .clusterCenters.zipWithIndex
              .map { case (c, i) => (m, i, c.toArray.toSeq) }.toSeq
          }}), Duration.Inf).flatten
      }
      centers.toDF("m", "code", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(paths.codebooks)
      appendPq(s, paths, base, "overwrite")
      appendPq(s, paths, av.filter(isDelta(col("vec_id"))), "append")
    }
  }

  /** Encode vectors against the PERSISTED codebooks and append to
    * the cell-partitioned codes table — the steady-state write path
    * of a deployed PQ index (no model object, no re-fit; the same
    * discipline as [[appendIvf]]).
    *
    * 100 TB shape: the [[PqM]]·[[PqK]]-row codebook table (64 rows)
    * broadcasts; the per-subspace argmin is a codegen'd fold over a
    * posexploded (vector, subspace) pair — map-side compute, and the
    * only exchanges are the per-vector code reassembly and the
    * cell-aligned repartition before the partitioned append. */
  def appendPq(s: SparkSession, paths: PqPaths,
      vecs: org.apache.spark.sql.DataFrame,
      mode: String = "append"): Unit = {
    val cb = s.read.parquet(paths.codebooks)
    vecs
      .select(col("vec_id"), col("label"), col("cell"),
        posexplode(expr(s"transform(sequence(0, ${PqM - 1}), " +
          s"m -> slice(e, m * $PqSubDim + 1, $PqSubDim))"))
          .as(Seq("m", "sub")))
      .join(broadcast(cb), "m")
      // exact left-fold squared distance, the appendIvf arithmetic
      .withColumn("d2", expr(
        "aggregate(zip_with(sub, centroid, (x, c) -> (x - c) * (x - c)), " +
          "0d, (a, y) -> a + y)"))
      .groupBy(col("vec_id"), col("m"))
      // min(struct) = nearest distance, tie → lowest code id:
      // total-order deterministic, as appendIvf
      .agg(min(struct(col("d2"), col("code"))).as("mc"),
        first(col("label")).as("label"), first(col("cell")).as("cell"))
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(
          struct(col("m"), col("mc.code").as("code")))),
          x => x.getField("code")).as("codes"),
        first(col("label")).as("label"), first(col("cell")).as("cell"))
      .select(col("vec_id"), col("label"), col("codes"), col("cell"))
      .repartition(col("cell"))
      .write.mode(mode).partitionBy("cell")
      .parquet(paths.codes)
  }

  /** Incremental IVF maintenance: assign each new vector to its
    * nearest PERSISTED centroid (read from the index root — no
    * model object, no re-fit) and append partition-aligned to the
    * assignments table. This is the steady-state write path of a
    * deployed vector index; `ensureIvf` uses it for the delta split,
    * and IndexStoreSpec pins that it agrees with an independent
    * nearest-centroid computation while centroids are unchanged.
    *
    * 100 TB shape: the [[IvfK]]-row centroid table broadcasts; the
    * distance argmin is one codegen'd fold per (vector, cell) pair
    * — [[IvfK]]·dim multiply-adds, map-side; the only exchange is
    * the cell-aligned repartition before the append. */
  def appendIvf(s: SparkSession, paths: IvfPaths,
      newVecs: org.apache.spark.sql.DataFrame): Unit = {
    val cents = s.read.parquet(paths.centroids)
    newVecs
      .crossJoin(broadcast(cents))
      // exact left-fold squared distance — same deterministic
      // arithmetic shape as the drift census and the spec's
      // independent recompute
      .withColumn("d2", expr(
        "aggregate(zip_with(e, centroid, (x, c) -> (x - c) * (x - c)), " +
          "0d, (a, y) -> a + y)"))
      .groupBy(col("vec_id"))
      // min(struct) = lexicographic: nearest distance, tie → lowest
      // cell id, so the assignment is total-order deterministic
      .agg(min(struct(col("d2"), col("cell"))).as("m"),
        first(col("label")).as("label"), first(col("e")).as("e"))
      .select(col("vec_id"), col("label"), col("e"),
        col("m.cell").as("cell"))
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell")
      .parquet(paths.assignments)
  }
}
