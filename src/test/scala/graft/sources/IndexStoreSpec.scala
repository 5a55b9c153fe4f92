package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{RetrievalQueries, SimilarityQueries}

/** Persisted index surfaces (VERDICT r12 task #1): the build→serve
  * split must be real — incremental build row-identical to one-shot,
  * and the lookup twins must read ONLY index files (pruned to the
  * probe's partitions), never the base tables. */
class IndexStoreSpec extends SparkSpec {

  test("pure-Scala trigram bucket twin matches the Spark expression") {
    import spark.implicits._
    val grams = Seq("spa", "par", "ark", "k o", " or", "a b", "zzz")
    val fromSpark = grams.toDF("gr")
      .select(col("gr"),
        pmod(graft.core.PortableHash.md5Hash60Composed(col("gr")),
          lit(IndexStore.TrgmBuckets.toLong)).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    grams.foreach { g =>
      assert(IndexStore.trgmBucketOf(g) == fromSpark(g),
        s"bucket mismatch for '$g'")
    }
  }

  test("incremental postings build (base + appended delta) is " +
      "row-identical to a one-shot build") {
    val path = IndexStore.ensureTrgmPostings(spark, sfDir)
    val persisted = spark.read.parquet(path)
      .select("doc_id", "gr", "pos", "bucket")
      .collect().map(_.toSeq).sortBy(_.toString)
    val oneShot = IndexStore
      .trgmPostingsOf(graft.core.Tables.documents(spark, sfDir))
      .select("doc_id", "gr", "pos", "bucket")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(persisted.length == oneShot.length,
      s"row count: persisted ${persisted.length} vs one-shot ${oneShot.length}")
    assert(persisted.sameElements(oneShot),
      "persisted (incrementally built) postings differ from one-shot build")
  }

  /** Files the plan will actually scan AFTER static partition
    * pruning — `inputFiles` reports the un-pruned table listing, so
    * it can't witness a prune. */
  private def scannedFiles(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }.flatMap(_.selectedPartitions.toPartitionArray
      .map(_.filePath.toString))

  test("indexed LIKE reads only pruned postings partitions, " +
      "never the documents table") {
    val df = RetrievalQueries.tTrgmLikeIndexed(spark, sfDir)
    val q = RetrievalQueries.LikePattern
    val expectedBuckets = (0 to q.length - 3)
      .map(i => IndexStore.trgmBucketOf(q.substring(i, i + 3)))
      .toSet
    assert(expectedBuckets.size < IndexStore.TrgmBuckets,
      "degenerate fixture: pattern grams cover every bucket")
    val files = scannedFiles(df)
    assert(files.nonEmpty, "lookup plan reads no files at all")
    files.foreach { f =>
      assert(f.contains("trgm_postings"),
        s"lookup plan reads a non-index file: $f")
      assert(!f.contains("documents.parquet"),
        s"lookup plan touches the base corpus: $f")
      val m = "bucket=([0-9]+)".r.findFirstMatchIn(f)
      assert(m.isDefined, s"index file outside a bucket partition: $f")
      assert(expectedBuckets.contains(m.get.group(1).toInt),
        s"partition prune failed: $f not in buckets $expectedBuckets")
    }
    // and the probe is lossless: same rows as the scan-everything twin
    val viaIndex = df.collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    val viaScan = RetrievalQueries.tTrgmLike(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(viaIndex == viaScan,
      s"index answer $viaIndex != full-scan answer $viaScan")
  }

  test("incremental word-postings build (base + appended delta) is " +
      "row-identical to a one-shot build") {
    val p = IndexStore.ensureWordPostings(spark, sfDir)
    val persisted = spark.read.parquet(p.postings)
      .select("doc_id", "w", "tf", "source", "bucket")
      .collect().map(_.toSeq).sortBy(_.toString)
    val oneShot = IndexStore
      .wordPostingsOf(graft.core.Tables.documents(spark, sfDir))
      .select("doc_id", "w", "tf", "source", "bucket")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(persisted.length == oneShot.length,
      s"row count: persisted ${persisted.length} vs one-shot ${oneShot.length}")
    assert(persisted.sameElements(oneShot),
      "persisted (incrementally built) word postings differ from " +
        "one-shot build")
  }

  test("indexed BM25 reads only pruned postings partitions and the " +
      "doc-length sidecar, never the documents table") {
    val df = RetrievalQueries.tBm25Indexed(spark, sfDir)
    val expectedBuckets = RetrievalQueries.BmTerms
      .map(IndexStore.wordBucketOf).toSet
    val files = scannedFiles(df)
    assert(files.nonEmpty, "serve plan reads no files at all")
    files.foreach { f =>
      assert(!f.contains("documents.parquet"),
        s"serve plan touches the base corpus: $f")
      if (f.contains("word_postings")) {
        val m = "bucket=([0-9]+)".r.findFirstMatchIn(f)
        assert(m.isDefined, s"postings file outside a bucket partition: $f")
        assert(expectedBuckets.contains(m.get.group(1).toInt),
          s"partition prune failed: $f not in buckets $expectedBuckets")
      } else assert(f.contains("word_doclen") ||
        f.contains("word_stats"),
        s"serve plan reads a non-index file: $f")
    }
    // and the serve is lossless: same top-k as the full-scan twin
    val viaIndex = RetrievalQueries.tBm25Indexed(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaScan = RetrievalQueries.tBm25TopK(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaIndex == viaScan,
      s"index answer $viaIndex != full-scan answer $viaScan")
  }

  test("indexed DSIR weights equal the full-scan twin row-for-row") {
    val viaIndex = RetrievalQueries.tDsirIndexed(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val viaScan = RetrievalQueries.tDsirWeight(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(viaIndex == viaScan)
  }

  test("indexed TF-IDF equals the full-scan exact twin row-for-row") {
    val viaIndex = RetrievalQueries.tTfidfIndexed(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val viaScan = graft.operators.TextQueries.tTfidfExact(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(viaIndex == viaScan)
  }

  test("IVF serve reads only probed cells of the persisted index, " +
      "never the embeddings table") {
    val (_, probes, _) = SimilarityQueries.ivfTopology(spark, sfDir)
    val df = SimilarityQueries.simIvfAnn(spark, sfDir)
    val files = scannedFiles(df)
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(f.contains("ivf_assignments"),
        s"serve plan reads a non-index file: $f")
      assert(!f.contains("embeddings.parquet"),
        s"serve plan touches the base embeddings table: $f")
      val m = "cell=([0-9]+)".r.findFirstMatchIn(f)
      assert(m.isDefined, s"index file outside a cell partition: $f")
      assert(probes.contains(m.get.group(1).toInt),
        s"partition prune failed: $f not in probed cells ${probes.toSeq}")
    }
    assert(probes.length == IndexStore.IvfNprobe)
  }

  test("IVF serve registers its dynamic hash oracle, keyed to the " +
      "served dataset") {
    SimilarityQueries.simIvfAnn(spark, sfDir).collect()
    val oracle = SimilarityQueries.oracleFor(sfDir)
    assert(oracle.contains("sim_ivf_ann"),
      "serve ran but no sim_ivf_ann oracle was registered")
    val sql = oracle("sim_ivf_ann")
    assert(sql.contains("ivf_assignments") &&
      sql.contains("list_cosine_similarity"),
      s"unexpected oracle shape:\n$sql")
    // the dumped path must be THIS dataset's index — the ADVICE r13
    // cross-dir last-writer-wins hazard
    assert(sql.contains(
      IndexStore.indexRoot(sfDir).resolve("ivf_assignments").toString),
      s"oracle references a different dataset's index:\n$sql")
    // a dir never served has no dynamic entry
    assert(!SimilarityQueries.oracleFor("/nonexistent/dir")
      .contains("sim_ivf_ann"))
  }

  test("IVF-SQ8 serve reads only probed cells and its rescored " +
      "top-10 tracks the exact-cosine IVF serve") {
    val (_, probes, _) = SimilarityQueries.ivfTopology(spark, sfDir)
    val df = SimilarityQueries.simIvfSq8(spark, sfDir)
    scannedFiles(df).foreach { f =>
      assert(f.contains("ivf_assignments") &&
        !f.contains("embeddings.parquet"),
        s"SQ8 serve reads a non-index file: $f")
      val m = "cell=([0-9]+)".r.findFirstMatchIn(f)
      assert(m.isDefined && probes.contains(m.get.group(1).toInt),
        s"partition prune failed: $f not in ${probes.toSeq}")
    }
    // the SQ8 cut (30 candidates) then exact rescore: against the
    // same probed cells, the int8 approximation should recover
    // nearly all of the exact top-10 (SQ8 cosine error ~1/254/pair)
    val sq8 = df.collect().map(_.getLong(0)).toSet
    val exact = SimilarityQueries.simIvfAnn(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val overlap = sq8.intersect(exact).size
    assert(overlap >= 8,
      s"SQ8 rescore recovered only $overlap/10 of the exact " +
        s"probed-cell top-10 (sq8 $sq8 vs exact $exact)")
  }

  test("IVF append path assigns delta vectors exactly as an " +
      "independent nearest-centroid recompute (no re-fit)") {
    val paths = IndexStore.ensureIvf(spark, sfDir)
    val cents = spark.read.parquet(paths.centroids)
      .collect()
      .map(r => (r.getInt(r.fieldIndex("cell")),
        r.getSeq[Double](r.fieldIndex("centroid")).toArray))
      .sortBy(_._1)
    assert(cents.length == IndexStore.IvfK)
    val delta = spark.read.parquet(paths.assignments)
      .filter(IndexStore.isDelta(col("vec_id")))
      .select(col("vec_id"), col("e"), col("cell").cast("int"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    assert(delta.nonEmpty, "no appended delta rows in the index")
    delta.foreach { case (id, e, cell) =>
      // plain-Scala argmin, ties to the lower cell id — the same
      // total order appendIvf's min(struct(d2, cell)) implements
      val best = cents.map { case (c, cv) =>
        var d = 0.0
        var i = 0
        while (i < e.length) {
          val diff = e(i) - cv(i); d += diff * diff; i += 1
        }
        (d, c)
      }.min
      assert(best._2 == cell,
        s"vec $id: appended to cell $cell, nearest centroid is " +
          s"${best._2} (d2 ${best._1})")
    }
  }

  test("incremental IVF build (base fit + appended delta) covers " +
      "the full collection exactly once") {
    val paths = IndexStore.ensureIvf(spark, sfDir)
    val persistedIds = spark.read.parquet(paths.assignments)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val baseIds = graft.core.Tables.embeddings(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(persistedIds.sameElements(baseIds),
      s"index covers ${persistedIds.length} vectors, collection has " +
        s"${baseIds.length}")
  }

  test("isBase and isDelta split ids 0..99 without overlap or gap, " +
      "and select the same ids as their SQL spellings") {
    val ids = spark.range(100).toDF("k")
    def keys(df: DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    val base = keys(ids.filter(IndexStore.isBase(col("k"))))
    val delta = keys(ids.filter(IndexStore.isDelta(col("k"))))
    assert(delta.size == 100 / IndexStore.DeltaMod)
    assert((base intersect delta).isEmpty, "a key is in both splits")
    assert(base ++ delta == (0L until 100L).toSet, "a key is in no split")
    ids.createOrReplaceTempView("split_keys")
    def viaSql(pred: String) =
      keys(spark.sql(s"SELECT k FROM split_keys WHERE $pred"))
    assert(viaSql(IndexStore.isBaseSql("k")) == base)
    assert(viaSql(IndexStore.isDeltaSql("k")) == delta)
  }

  test("the first ensure of a document family on a fresh corpus bumps " +
      "the index version once; a second call is a memoized no-op") {
    import spark.implicits._
    val dirPath = java.nio.file.Files.createTempDirectory("graft_fresh")
    val dir = dirPath.toString
    try {
      (0L until 10L)
        .map(i => (i, (0 until 20).map(w => s"w${i}_$w").mkString(" ")))
        .toDF("doc_id", "text")
        .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source",
          "CAST(length(text) AS LONG) AS n_chars")
        .write.parquet(s"$dir/documents.parquet")
      // each family's paths and the table that holds one row per doc
      def family[A](ensure: (SparkSession, String) => A)(
          docTable: A => String) =
        () => { val p = ensure(spark, dir); (p, docTable(p)) }
      val families = Seq(
        "trgm" -> family(IndexStore.ensureTrgmPostings)(identity),
        "word" -> family(IndexStore.ensureWordPostings)(_.doclen),
        "minhash" -> family(IndexStore.ensureMinhash)(_.shingles),
        "simhash" -> family(IndexStore.ensureSimhash)(_.sigs),
        "gram13" -> family(IndexStore.ensureGram13)(_.grams),
        "winnow" -> family(IndexStore.ensureWinnow)(_.fps),
        "cdc" -> family(IndexStore.ensureCdcChunks)(_.chunks),
        "containment" -> family(IndexStore.ensureContainment)(_.docs),
        "catalog" -> family(IndexStore.ensureCatalog)(_.digests))
      families.foreach { case (name, ensure) =>
        val v0 = IndexStore.indexVersion(dir)
        val (first, docTable) = ensure()
        assert(IndexStore.indexVersion(dir) == v0 + 1, name)
        // base overwrite + delta append together hold every doc
        assert(spark.read.parquet(docTable).select("doc_id").distinct()
          .collect().map(_.getLong(0)).toSet == (0L until 10L).toSet, name)
        assert(ensure()._1 == first, name)
        assert(IndexStore.indexVersion(dir) == v0 + 1, name)
      }
    } finally {
      deleteTree(dirPath)
      deleteTree(IndexStore.indexRoot(dir))
    }
  }

  test("the ANN corpus and the layout copies are built under this " +
      "process's root") {
    val root = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_index",
      IndexStore.processToken)
    assert(IndexStore.processRoot == root)
    val corpus = graft.operators.AnnBenchCorpus.ensure(spark, perCluster = 10)
    assert(java.nio.file.Paths.get(corpus).startsWith(root), corpus)
    // built once, through the registry
    assert(graft.operators.AnnBenchCorpus.ensure(spark, perCluster = 10)
      == corpus)
    assert(IndexStore.indexVersion(corpus) == 1L)
    val files = scannedFiles(LayoutQueries.l4PartitionPruned(spark, sfDir))
    assert(files.nonEmpty, "layout query reads no files at all")
    files.foreach { f =>
      assert(f.contains(s"$root/"), s"layout file outside $root: $f")
    }
  }
}
