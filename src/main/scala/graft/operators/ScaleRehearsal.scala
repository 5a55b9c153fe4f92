package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale rehearsal for the dedup/LSH stack (VERDICT r7
  * task #5) and, since r11, the ANN + winnow paths (VERDICT r10
  * task #5): the plan SHAPES say bounded — band-keyed equi-joins,
  * hot-bucket caps, broadcast eval grams, probe-ball equi-joins,
  * census-pruned fingerprint joins — this main PROVES it by
  * measuring candidate-pair counts, hot-bucket drops, and wall time
  * over synthetic corpora at ~1×/3×/10× the sf0.1 documents table
  * (5k/15k/50k docs, matching embedding collections) and checking
  * the growth is sub-quadratic.
  *
  * Corpus: deterministic, distributed generation (spark.range +
  * hash-derived words — no driver-side materialization, no RNG
  * state): ~60–200 words per doc from a 500-word vocabulary (the
  * same small-vocab space-separated shape as the driver's
  * documents.parquet), with planted structure the dedup stack must
  * find — doc_id % 10 == 7 is a one-word-appended NEAR-dup of
  * doc_id - 4, doc_id % 50 == 9 an EXACT copy of doc_id - 8.
  * Membership of the planted sets is a pure function of doc_id, so
  * every run (and every future round) rehearses the identical
  * corpus.
  *
  * Output: one JSON line per (n_docs, op) with wall seconds and the
  * candidate/drop counters, then a summary line per op with the
  * fitted log-log growth exponent between the smallest and largest
  * corpus (an all-pairs stage would show exponent ≈ 2; the gate is
  * < 1.5). Results are recorded in BENCH_NOTES.md.
  *
  * Usage: `sbt "runMain graft.operators.ScaleRehearsal [sizes...]"`
  * (wrapper: tools/scale_rehearsal.sh).
  */
object ScaleRehearsal {

  /** Write a synthetic documents.parquet (driver-testdata schema:
    * doc_id, text, lang, source, n_chars) of `n` docs under
    * `dir/documents.parquet`. Deterministic and fully distributed:
    * word j of doc i is `'w' || xxhash64(seed(i), j) % 500`. */
  def genCorpus(s: SparkSession, n: Long, dir: String): Unit =
    corpusDf(s, n).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

  /** Corpus variant for the pipe_corpus_build timing: the SAME
    * generated docs with three vocabulary words rewritten to English
    * stopwords (w17→the, w29→and, w41→of — seed-deterministic, so
    * near-dup pairs rewrite identically and the planted dedup
    * structure survives). The base vocabulary has no stopwords at
    * all, so on the unmodified corpus the funnel's lang gate drops
    * 100% of docs and every later stage times an empty input; here
    * docs lacking all three words (~e^(−3·len/500) of them) still
    * drop at the gate, so the funnel genuinely funnels. Kept as a
    * separate dir so the base corpus's planted structure — which the
    * LSH/edjoin/winnow measures depend on — is untouched. */
  def genPipeCorpus(s: SparkSession, n: Long, dir: String): Unit =
    corpusDf(s, n)
      .withColumn("text",
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          "\\bw17\\b", "the"), "\\bw29\\b", "and"), "\\bw41\\b", "of"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def corpusDf(s: SparkSession, n: Long): DataFrame = {
    val docs = s.range(n).toDF("doc_id")
      // near-dups regenerate their base doc's words (seed id-4),
      // exact dups their base's (seed id-8)
      .withColumn("seed",
        // the PILE: every 250th doc is an exact copy of doc 11 — at
        // 50k docs that is a 200-member duplicate cluster, which
        // drives its LSH buckets past the hot cap (>50) so the
        // rehearsal exercises the drop (search) / star (clustering)
        // paths, not just the small-bucket expansion
        when(col("doc_id") % 250 === 11, lit(11L))
          .when(col("doc_id") % 10 === 7 && col("doc_id") >= 4,
            col("doc_id") - 4)
          .when(col("doc_id") % 50 === 9 && col("doc_id") >= 8,
            col("doc_id") - 8)
          .otherwise(col("doc_id")))
      .withColumn("len",
        (pmod(xxhash64(col("seed")), lit(140)) + 60).cast("int"))
      .withColumn("words",
        transform(sequence(lit(1), col("len")),
          j => concat(lit("w"),
            pmod(xxhash64(col("seed"), j), lit(500)))))
      // the near-dup edit: one appended word — high Jaccard, not 1.0
      .withColumn("words",
        when(col("doc_id") % 10 === 7 && col("doc_id") % 50 =!= 9
            && col("doc_id") >= 4,
          concat(col("words"), array(lit("wedit"))))
          .otherwise(col("words")))
      .withColumn("text", array_join(col("words"), " "))
      .select(
        col("doc_id"),
        col("text"),
        lit("en").as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(7))).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    docs
  }

  /** Write a synthetic embeddings.parquet (driver schema: vec_id,
    * embedding float[64], label) of `n` vectors — deterministic and
    * distributed: component i of vector v is hash-derived in [-1, 1].
    * Unstructured by design: the rehearsal measures WALL GROWTH of
    * the index paths (bucket fan-out, KMeans fit cost and cell skew,
    * probe joins), not recall — recall is pinned by the planted-
    * structure specs at fixed size (SimilarityQueriesSpec). */
  def genEmbeddings(s: SparkSession, n: Long, dir: String): Unit =
    s.range(n).toDF("vec_id")
      .withColumn("embedding",
        transform(sequence(lit(0), lit(63)),
          i => ((pmod(xxhash64(col("vec_id"), i), lit(2001)) - lit(1000))
            .cast("double") / 1000.0).cast("float")))
      .withColumn("label", pmod(col("vec_id"), lit(5)).cast("int"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  /** Write minimal synthetic lineitem/orders tables (just the
    * columns the quantile family reads) of `n` rows each —
    * hash-derived values, deterministic. 10× the doc count so the
    * quantile section times something measurable (the numeric ops
    * are much cheaper per row than the text ops). */
  def genNumeric(s: SparkSession, n: Long, dir: String): Unit = {
    s.range(n).toDF("id")
      .select(
        (pmod(xxhash64(col("id")), lit(1000000L))
          .cast("double") / 100.0).as("l_extendedprice"),
        // basket structure for the graph-index serve rehearsal
        // (r17): 5-line orders over an n/25-part catalog — pair
        // fan-out bounded by the basket (≤ 10 pairs per order), the
        // co-purchase graph grows with the corpus
        (col("id") / 5L).cast("long").as("l_orderkey"),
        pmod(xxhash64(col("id"), lit(3)),
          greatest(lit(n / 25L), lit(100L))).as("l_partkey"),
        // supplier universe 10× smaller than parts: the bipartite
        // part↔supplier graph the g5 PageRank family rehearses on
        // (r18 — the warm-start probe needs l_suppkey)
        pmod(xxhash64(col("id"), lit(4)),
          greatest(lit(n / 250L), lit(20L))).as("l_suppkey"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    s.range(n).toDF("id")
      .select(
        element_at(array(lit("F"), lit("O"), lit("P")),
          (pmod(xxhash64(col("id"), lit(1)), lit(3)) + 1).cast("int"))
          .as("o_orderstatus"),
        (pmod(xxhash64(col("id"), lit(2)), lit(10000000L))
          .cast("double") / 100.0).as("o_totalprice"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  /** Cumulative stop-the-world GC milliseconds of this JVM — sampled
    * around every probe (r20, VERDICT r19 task #1): the r17/r18 notes
    * attribute the 150k walls' ±2-3× variance to GC pressure; the
    * per-probe gc_ms delta substantiates or refutes that per
    * measurement instead of by assertion. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  }

  private def time[A](f: => A): (A, Double, Long) = {
    val g0 = gcMillis()
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9, gcMillis() - g0)
  }

  def main(args: Array[String]): Unit = {
    val sizes: Seq[Long] =
      if (args.nonEmpty) args.toSeq.map(_.toLong)
      else Seq(5000L, 15000L, 50000L, 150000L)
    val base = sys.env.getOrElse("GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val spark = graft.core.Sessions.local("graft-scale-rehearsal")
    spark.sparkContext.setLogLevel("WARN")

    def runNoop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup: codegen + parquet reader paths on a throwaway corpus
    genCorpus(spark, 500L, s"$base/warm")
    genEmbeddings(spark, 500L, s"$base/warm")
    runNoop(SimilarityQueries.ddMinhashLsh(spark, s"$base/warm"))
    runNoop(SimilarityQueries.simLshAnn(spark, s"$base/warm"))
    runNoop(TextQueries.ddWinnowPairs(spark, s"$base/warm"))

    val results = sizes.map { n =>
      val dir = s"$base/n$n"
      genCorpus(spark, n, dir)

      // --- bucket census: candidates + hot-bucket drops (search
      // layout: 4 bands × 8 rows, cap 50, drop hot)
      val docs = SimilarityQueries.hashedShingleDocs(spark, dir)
      val cand = SimilarityQueries.lshCandidatePairs(spark, dir, docs,
        nHashes = 32, bands = 4, maxBucket = 50,
        starHotBuckets = false)
      val (nCand, _, _) = time(cand.count())
      // recompute the band/bucket census the pair generator prunes
      // on, to report what the cap DROPPED (pairs an uncapped join
      // would have expanded)
      val rows = 32 / 4
      graft.functions.MinhashSig.ensureRegistered(spark)
      val banded = docs
        .withColumn("sig",
          call_function("minhash_sig", col("hs"), lit(32)))
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), lit(4 - 1)),
            b => struct(b.as("band"),
              xxhash64(slice(col("sig"), b * rows + 1, lit(rows)))
                .as("bhash")))).as("bk"))
        .select(col("bk.band"), col("bk.bhash"))
      val census = banded.groupBy("band", "bhash")
        .agg(count(lit(1)).as("n"))
        .agg(
          sum(when(col("n") > 50, col("n") * (col("n") - 1) / 2)
            .otherwise(0L)).cast("long").as("dropped_pairs"),
          sum(when(col("n") > 50, 1L).otherwise(0L)).cast("long")
            .as("hot_buckets"))
        .head()
      val dropped = Option(census.get(0)).fold(0L)(_ => census.getLong(0))
      val hot = Option(census.get(1)).fold(0L)(_ => census.getLong(1))

      // --- the three registered ops, end-to-end wall time
      val (_, tLsh, gLsh) = time(runNoop(SimilarityQueries.ddMinhashLsh(spark, dir)))
      val (nClusters, tCc, gCc) = {
        val (df, t, g) = time {
          val cc = DedupCluster.ddClusterCc(spark, dir)
          runNoop(cc); cc
        }
        (df.count(), t, g)
      }
      val (nDecon, tDecon, gDecon) = {
        val (df, t, g) = time {
          val d = TextQueries.tDecontaminate(spark, dir)
          runNoop(d); d
        }
        (df.count(), t, g)
      }

      // --- ANN + winnow paths (VERDICT r10 task #5): the LSH probe
      // join, the IVF path INCLUDING its KMeans coarse-quantizer fit
      // (the scale risk — fit cost and cell skew grow with n), and
      // the winnow fingerprint pair search (census prune must keep
      // the 200-member duplicate pile from going quadratic).
      genEmbeddings(spark, n, dir)
      val (_, tLshAnn, gLshAnn) =
        time(runNoop(SimilarityQueries.simLshAnn(spark, dir)))
      val (_, tIvf, gIvf) =
        time(runNoop(SimilarityQueries.simIvfAnn(spark, dir)))
      val (nWinnowPairs, tWinnow, gWinnow) = {
        val (df, t, g) = time {
          val d = TextQueries.ddWinnowPairs(spark, dir)
          runNoop(d); d
        }
        (df.count(), t, g)
      }

      // --- edit-distance join (r12): the prefix filter is uncapped
      // by contract (losslessness), so what must stay bounded is its
      // PRECISION — candidates vs verified true pairs. The planted
      // exact-copy pile makes true pairs grow with the pile; the
      // gate is candidates ≈ true pairs (no filter blowup), plus
      // wall growth of the full verify path.
      // r16: candidates are measured over the exact-key class
      // representatives — the relation the operator actually joins
      // after its class collapse (the planted pile is 1 rep, not c
      // identical prefix row sets)
      val (nEdCand, tEdCand, gEdCand) = time(
        SimilarityQueries.edJoinCandidates(spark, dir,
          SimilarityQueries.edJoinRepKeys(spark, dir),
          slot = "rehearsal_edjoin_prefix").count())
      val (nEdPairs, tEdJoin, gEdJoin) = {
        val (df, t, g) = time {
          val d = SimilarityQueries.ddEdJoin(spark, dir)
          runNoop(d); d
        }
        (df.count(), t, g)
      }
      // --- containment join (r12): rare-prefix probes vs the capped
      // inverted index; the dup piles make the true relation large
      // (every exact copy contains its base both ways), so like the
      // edjoin the gate is WALL growth, with the pair count reported
      // for context.
      val (nContPairs, tCont, gCont) = {
        val (df, t, g) = time {
          val d = SimilarityQueries.ddContainment(spark, dir)
          runNoop(d); d
        }
        (df.count(), t, g)
      }

      // --- semantic dedup (r13): bucket census + centroid moments
      // are linear shuffles; the risk is the bucket-bounded prune
      // self-join (cluster sizes bound the pair fan-out, like the
      // LSH band joins) — gate its wall growth.
      val (_, tSem, gSem) =
        time(runNoop(SimilarityQueries.ddSemantic(spark, dir)))

      // --- composed corpus funnel (r18): the six-stage
      // pipe_corpus_build chain, END-TO-END on its own corpus
      // variant (see genPipeCorpus) — including the near-dup
      // clustering and decontamination derivations it consumes, so
      // pipe_sec is the full "build a training corpus at size n"
      // wall, the flagship composition's growth number.
      val pipeDir = s"${dir}_pipe"
      genPipeCorpus(spark, n, pipeDir)
      val (_, tPipe, gPipe) =
        time(runNoop(PipelineQueries.pipeCorpusBuild(spark, pipeDir)))

      // --- streaming-shape delta ingest (r20, VERDICT r19 task #1 —
      // the r18 addendum measured this only to 50k as a post-sweep
      // probe; now a first-class per-size measure through 150k): the
      // pipe_delta_ingest decision query on the pipe corpus, build +
      // first serve (catalog + MinHash + 13-gram index builds billed
      // once) then the steady probe serve, whose admit count must
      // show the per-(source, batch) cap still BINDING (7 sources ×
      // DeltaAdmitCap = 35 admits at every size).
      val (_, tIngBs, gIngBs) =
        time(runNoop(PipelineQueries.pipeDeltaIngest(spark, pipeDir)))
      val (ingAdmits, tIngSv, gIngSv) =
        time(PipelineQueries.pipeDeltaIngest(spark, pipeDir)
          .filter(col("decision") === "admit").count())

      // --- quantile families (VERDICT r12 task #7): both the exact
      // two-pass selection (x31/x32 — bounded memory is the 100 TB
      // claim) and the GK/approx family (x8b/x12b) get growth
      // exponents over the same 10× span the dedup paths use.
      // Numeric tables are 10× the doc count so per-size wall times
      // are measurable.
      genNumeric(spark, n * 10, dir)
      val (_, tX31, gX31) = time(runNoop(OlapQueries.x31ExactMedian2pass(spark, dir)))
      val (_, tX32, gX32) = time(runNoop(OlapQueries.x32QuantileBands(spark, dir)))
      val (_, tX8b, gX8b) = time(runNoop(ExtendedQueries.x8bApproxPercentile(spark, dir)))
      val (_, tX12b, gX12b) = time(runNoop(ExtendedQueries.x12bApproxFence(spark, dir)))

      // --- persisted-index serve paths (VERDICT r16 task #6): each
      // build→serve twin measured TWICE per size — the first call
      // pays the index build (reported *_bs: build + first serve),
      // the second is the steady serve read. The serve exponents are
      // the 100 TB claim: serving must scale with the INDEX tables
      // read, not with corpus re-derivation (every ensure* is
      // per-(JVM, dir)-memoized and the index roots are
      // process-unique, so each rehearsal run builds fresh).
      def twice(f: => DataFrame): (Double, Double, Long, Long) = {
        val (_, t1, g1) = time(runNoop(f))
        val (_, t2, g2) = time(runNoop(f))
        (t1, t2, g1, g2)
      }
      val (mhBs, mhSv, mhGb, mhGs) = twice(SimilarityQueries.ddMinhashIndexed(spark, dir))
      val (shBs, shSv, shGb, shGs) = twice(SimilarityQueries.ddSimhashIndexed(spark, dir))
      val (ctBs, ctSv, ctGb, ctGs) = twice(SimilarityQueries.ddContainmentIndexed(spark, dir))
      val (cdBs, cdSv, cdGb, cdGs) = twice(RetrievalQueries.tCdcChunksIndexed(spark, dir))
      val (wnBs, wnSv, wnGb, wnGs) = twice(TextQueries.ddWinnowIndexed(spark, dir))
      val (dcBs, dcSv, dcGb, dcGs) = twice(TextQueries.tDecontaminateIndexed(spark, dir))
      val (g6Bs, g6Sv, g6Gb, g6Gs) = twice(GraphQueries.g6TrianglesIndexed(spark, dir))
      val (x27Bs, x27Sv, x27Gb, x27Gs) = twice(OlapQueries.x27CopurchaseIndexed(spark, dir))

      println(s"""{"metric":"scale_rehearsal","n_docs":$n,""" +
        s""""mh_bs":${f"$mhBs%.2f"},"mh_serve_sec":${f"$mhSv%.2f"},""" +
        s""""sh_bs":${f"$shBs%.2f"},"sh_serve_sec":${f"$shSv%.2f"},""" +
        s""""cont_bs":${f"$ctBs%.2f"},"cont_serve_sec":${f"$ctSv%.2f"},""" +
        s""""cdc_bs":${f"$cdBs%.2f"},"cdc_serve_sec":${f"$cdSv%.2f"},""" +
        s""""winnow_bs":${f"$wnBs%.2f"},"winnow_serve_sec":${f"$wnSv%.2f"},""" +
        s""""decon_bs":${f"$dcBs%.2f"},"decon_serve_sec":${f"$dcSv%.2f"},""" +
        s""""g6_bs":${f"$g6Bs%.2f"},"g6_serve_sec":${f"$g6Sv%.2f"},""" +
        s""""x27_bs":${f"$x27Bs%.2f"},"x27_serve_sec":${f"$x27Sv%.2f"},""" +
        s""""candidates":$nCand,"hot_buckets":$hot,""" +
        s""""dropped_pairs":$dropped,""" +
        s""""lsh_sec":${f"$tLsh%.2f"},"cc_sec":${f"$tCc%.2f"},""" +
        s""""cc_rows":$nClusters,""" +
        s""""decon_sec":${f"$tDecon%.2f"},"decon_rows":$nDecon,""" +
        s""""lshann_sec":${f"$tLshAnn%.2f"},""" +
        s""""ivf_sec":${f"$tIvf%.2f"},""" +
        s""""winnow_sec":${f"$tWinnow%.2f"},""" +
        s""""winnow_pairs":$nWinnowPairs,""" +
        s""""edjoin_sec":${f"$tEdJoin%.2f"},""" +
        s""""edjoin_cand_sec":${f"$tEdCand%.2f"},""" +
        s""""edjoin_cand":$nEdCand,"edjoin_pairs":$nEdPairs,""" +
        s""""cont_sec":${f"$tCont%.2f"},"cont_pairs":$nContPairs,""" +
        s""""sem_sec":${f"$tSem%.2f"},"pipe_sec":${f"$tPipe%.2f"},""" +
        s""""ing_bs":${f"$tIngBs%.2f"},"ing_serve_sec":${f"$tIngSv%.2f"},""" +
        s""""ing_admits":$ingAdmits,""" +
        s""""x31_sec":${f"$tX31%.2f"},"x32_sec":${f"$tX32%.2f"},""" +
        s""""x8b_sec":${f"$tX8b%.2f"},"x12b_sec":${f"$tX12b%.2f"},""" +
        // per-probe GC deltas (r20): the attribution data for the
        // 150k wall variance — compare gc_ms against the wall to see
        // whether a slow point is collector pressure or plan work
        s""""gc_ms":{"lsh":$gLsh,"cc":$gCc,"decon":$gDecon,""" +
        s""""lshann":$gLshAnn,"ivf":$gIvf,"winnow":$gWinnow,""" +
        s""""edjoin":$gEdJoin,"edjoin_cand":$gEdCand,"cont":$gCont,""" +
        s""""sem":$gSem,"pipe":$gPipe,"ing_bs":$gIngBs,""" +
        s""""ing_serve":$gIngSv,""" +
        s""""x31":$gX31,"x32":$gX32,"x8b":$gX8b,"x12b":$gX12b,""" +
        s""""mh_bs":$mhGb,"mh_serve":$mhGs,"sh_bs":$shGb,""" +
        s""""sh_serve":$shGs,"cont_bs":$ctGb,"cont_serve":$ctGs,""" +
        s""""cdc_bs":$cdGb,"cdc_serve":$cdGs,"winnow_bs":$wnGb,""" +
        s""""winnow_serve":$wnGs,"decon_bs":$dcGb,"decon_serve":$dcGs,""" +
        s""""g6_bs":$g6Gb,"g6_serve":$g6Gs,"x27_bs":$x27Gb,""" +
        s""""x27_serve":$x27Gs}}""")
      // edjoin_cand / edjoin_pairs absolute counts are OUTPUT-bound
      // (the planted pile's true pairs are quadratic in pile size by
      // construction) — the gated quantities are the filter's
      // precision (candidates per true pair; blowup would show the
      // prefix filter degrading) and the wall time
      (n, Map("candidates" -> nCand.toDouble, "lsh_sec" -> tLsh,
        "cc_sec" -> tCc, "decon_sec" -> tDecon,
        "lshann_sec" -> tLshAnn, "ivf_sec" -> tIvf,
        "winnow_sec" -> tWinnow,
        "winnow_pairs" -> nWinnowPairs.toDouble,
        "edjoin_sec" -> tEdJoin,
        "edjoin_cand_per_pair" ->
          (nEdCand.toDouble / math.max(1L, nEdPairs)),
        "cont_sec" -> tCont, "sem_sec" -> tSem,
        "pipe_sec" -> tPipe, "ing_serve_sec" -> tIngSv,
        "x31_sec" -> tX31, "x32_sec" -> tX32,
        "x8b_sec" -> tX8b, "x12b_sec" -> tX12b,
        // serve-path walls (r17): the steady index read per twin
        "mh_serve_sec" -> mhSv, "sh_serve_sec" -> shSv,
        "cont_serve_sec" -> ctSv, "cdc_serve_sec" -> cdSv,
        "winnow_serve_sec" -> wnSv, "decon_serve_sec" -> dcSv,
        "g6_serve_sec" -> g6Sv, "x27_serve_sec" -> x27Sv))
    }

    // growth exponents between smallest and largest corpus:
    // exponent = log(v_max/v_min) / log(n_max/n_min); quadratic
    // blowup ≈ 2, linear ≈ 1. Gate: < 1.5 for every measure.
    // ADVICE r9: a single-size run has no growth to fit — log(1) = 0
    // in the denominator yields NaN exponents and a spurious exit 1;
    // report the absolute measurements and stop cleanly instead.
    if (results.map(_._1).distinct.size < 2) {
      println("""{"metric":"scale_growth_exponents","note":""" +
        """"single corpus size — no growth to fit; rerun with >=2 sizes"}""")
      spark.stop()
      return
    }
    val (n0, m0) = results.head
    val (n1, m1) = results.last
    val ratio = math.log(n1.toDouble / n0)
    val exps = m0.keys.toSeq.sorted.map { k =>
      val e = math.log(math.max(1e-9, m1(k)) /
        math.max(1e-9, m0(k))) / ratio
      k -> e
    }
    val expsJson = exps
      .map { case (k, e) => s""""$k":${f"$e%.2f"}""" }.mkString(",")
    val worst = exps.map(_._2).max
    println(s"""{"metric":"scale_growth_exponents","n_min":$n0,""" +
      s""""n_max":$n1,$expsJson,"worst":${f"$worst%.2f"},""" +
      s""""subquadratic":${worst < 1.5}}""")
    spark.stop()
    if (worst >= 1.5) sys.exit(1)
  }
}
