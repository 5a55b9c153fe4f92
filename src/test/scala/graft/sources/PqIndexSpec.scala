package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{AnnBenchCorpus, SimilarityQueries}

/** The product-quantization index (IVFPQ + refine serving): the
  * build→serve contract of [[IndexStore.ensurePq]] and the ADC
  * arithmetic of sim_ivf_pq. Mirrors IndexStoreSpec's IVF pins at
  * subspace granularity: incremental append ≡ independent recompute,
  * full coverage, probed-cell-only reads, and a recall gate on the
  * structured corpus so codebook quality can't silently rot. */
class PqIndexSpec extends SparkSpec {

  private def scannedFiles(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }.flatMap(_.selectedPartitions.toPartitionArray
      .map(_.filePath.toString))

  test("PQ codes cover the collection exactly once, with PqM codes " +
      "per vector each inside [0, PqK)") {
    val paths = IndexStore.ensurePq(spark, sfDir)
    val codes = spark.read.parquet(paths.codes)
    val ids = codes.select("vec_id").collect().map(_.getLong(0)).sorted
    val all = graft.core.Tables.embeddings(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(all),
      s"codes cover ${ids.length} vectors, collection has ${all.length}")
    val bad = codes.filter(
      size(col("codes")) =!= IndexStore.PqM ||
        exists(col("codes"),
          c => c < 0 || c >= IndexStore.PqK)).count()
    assert(bad == 0, s"$bad malformed code rows")
    // codebooks: the full PqM × PqK root
    assert(spark.read.parquet(paths.codebooks).count() ==
      IndexStore.PqM.toLong * IndexStore.PqK)
  }

  test("PQ append path encodes delta vectors exactly as an " +
      "independent per-subspace nearest-centroid recompute") {
    val ivf = IndexStore.ensureIvf(spark, sfDir)
    val paths = IndexStore.ensurePq(spark, sfDir)
    val M = IndexStore.PqM
    val S = IndexStore.PqSubDim
    val cb = spark.read.parquet(paths.codebooks)
      .collect()
      .map(r => (r.getInt(r.fieldIndex("m")),
        r.getInt(r.fieldIndex("code"))) ->
        r.getSeq[Double](r.fieldIndex("centroid")).toArray)
      .toMap
    val delta = spark.read.parquet(paths.codes)
      .filter(IndexStore.isDelta(col("vec_id")))
      .join(spark.read.parquet(ivf.assignments)
        .select(col("vec_id"), col("e")), "vec_id")
      .select(col("vec_id"), col("codes"), col("e"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toArray,
        r.getSeq[Double](2).toArray))
    assert(delta.nonEmpty, "no appended delta rows in the codes table")
    delta.foreach { case (id, codes, e) =>
      (0 until M).foreach { m =>
        // plain-Scala argmin over the persisted codebook, ties to
        // the lower code id — appendPq's min(struct(d2, code)) order
        val best = (0 until IndexStore.PqK).map { c =>
          val cv = cb((m, c))
          var d = 0.0
          var i = 0
          while (i < S) {
            val diff = e(m * S + i) - cv(i); d += diff * diff; i += 1
          }
          (d, c)
        }.min
        assert(best._2 == codes(m),
          s"vec $id subspace $m: encoded ${codes(m)}, nearest " +
            s"codebook entry is ${best._2} (d2 ${best._1})")
      }
    }
  }

  test("IVFPQ serve reads only probed-cell partitions of the codes " +
      "and assignments tables, never the embeddings table") {
    val (_, probes, _) = SimilarityQueries.ivfTopology(spark, sfDir)
    val df = SimilarityQueries.simIvfPq(spark, sfDir)
    val files = scannedFiles(df)
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(f.contains("pq_codes") || f.contains("pq_codebooks") ||
        f.contains("ivf_assignments"),
        s"serve plan reads a non-index file: $f")
      assert(!f.contains("embeddings.parquet"),
        s"serve plan touches the base embeddings table: $f")
      if (!f.contains("pq_codebooks")) {
        val m = "cell=([0-9]+)".r.findFirstMatchIn(f)
        assert(m.isDefined && probes.contains(m.get.group(1).toInt),
          s"partition prune failed: $f not in probed cells " +
            s"${probes.toSeq}")
      }
    }
  }

  test("IVFPQ rescored top-10 tracks the exact-cosine IVF serve on " +
      "the same probed cells") {
    val pq = SimilarityQueries.simIvfPq(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val exact = SimilarityQueries.simIvfAnn(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val overlap = pq.intersect(exact).size
    // 32-bit codes are a far coarser approximation than SQ8's 512 —
    // the refine stage has PqRefineCandidates=100 chances to recover
    // the probed-cell top-10; ≥6 holds with wide margin in practice
    assert(overlap >= 6,
      s"IVFPQ rescore recovered only $overlap/10 of the exact " +
        s"probed-cell top-10 (pq $pq vs exact $exact)")
  }

  test("IVFPQ on the structured corpus: recall >= 0.8 of the true " +
      "top-10") {
    val dir = AnnBenchCorpus.ensure(spark, perCluster = 100)
    val truth = SimilarityQueries.simBruteTopK(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val got = SimilarityQueries.simIvfPq(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.8,
      s"IVFPQ recall $recall < 0.8 on the structured corpus — " +
        "codebook/ADC quality regression")
  }
}
