package perfbench

import graft.SparkEntry
import graft.sources.IndexStore

/** One closed-loop client running a fixed list of registered queries,
  * each as a `noop` write so the whole physical plan executes. Set-up
  * builds the indexes the list reads and runs warm-up passes; the timed
  * phase runs a fixed number of whole passes, in a seed-chosen order per
  * pass; a last untimed pass writes each query's output for the
  * correctness check. */
object QueryMix {
  /** The list, by class: scan/aggregate and join; derived state (a
    * `CkptSlots` checkpoint that stays live until the next execution);
    * window; fraud analytics; index serving (reads the IVF index set-up
    * builds). */
  val Queries: Seq[String] = Seq(
    "q1_pricing_summary", "q3_sql_shipping",
    "q11_important_ckpt",
    "e2_sessionize",
    "a4_confusion_metrics",
    "sim_ivf_ann")

  /** Index families the list reads, built and timed in set-up. */
  val Indexes: Seq[(String, (org.apache.spark.sql.SparkSession, String) => Any)] = Seq(
    "ivf" -> IndexStore.ensureIvf _)

  /** Warm passes in set-up. CPU per pass keeps falling for dozens of
    * passes (from 4.4 to 3.3 s over 20 passes after 6 warm ones on a
    * 4-core host), so warm-up cannot wait for it to level off; a fixed
    * count puts every run at the same point of that curve. */
  val WarmPasses = 2

  /** One timed pass per 2 s of the run's seconds (a warm pass takes
    * about 2 s on a 4-core host), at least 3: the timed work is fixed
    * for a given run length, however fast the build is. */
  def timedPasses(seconds: Int): Int = math.max(3, seconds / 2)

  /** Writes each listed query's output and its DuckDB oracle SQL (which
    * may name index files the build wrote), for make_expected.py. */
  def oracle(c: Ctx): Unit = {
    Queries.foreach { q =>
      SparkEntry.queries(q)(c.spark, c.dataDir).write.mode("overwrite")
        .parquet(s"${c.runDir}/query_out/$q")
    }
    // after the builds: some oracles are registered by building the query
    val sql = SparkEntry.oracleSqlFor(c.dataDir)
    c.raw("oracle_sql") = Queries.map(q => q -> sql(q)).toMap
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val all = SparkEntry.queries
    def exec(name: String): Double = {
      spark.sparkContext.setLocalProperty(Recorder.TagKey, name)
      val t0 = System.nanoTime()
      try c.rec.span(s"query.$name")(
        all(name)(spark, c.dataDir).write.format("noop").mode("overwrite").save())
      finally spark.sparkContext.setLocalProperty(Recorder.TagKey, null)
      (System.nanoTime() - t0) / 1e6
    }
    Indexes.foreach { case (family, ensure) =>
      c.timedSetupStep(s"index.${family}_s")(ensure(spark, c.dataDir))
    }
    val warm = (0 until WarmPasses).map { i =>
      val t0 = System.nanoTime()
      c.rec.span(s"setup.pass$i")(Queries.foreach(exec))
      (System.nanoTime() - t0) / 1e9
    }

    val rnd = new scala.util.Random(c.seed)
    val ms = Queries.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val passes = timedPasses(c.seconds)
    c.beginTimed()
    val (passS, passCpu) = (0 until passes).map { i =>
      val p0 = System.nanoTime()
      val cpu0 = Jvm.cpuSeconds
      c.rec.span(s"pass$i")(rnd.shuffle(Queries).foreach { q =>
        try ms(q) += exec(q)
        catch { case e: Exception => c.failed += 1; System.err.println(s"[perfbench] $q failed: $e") }
      })
      ((System.nanoTime() - p0) / 1e9, Jvm.cpuSeconds - cpu0)
    }.unzip
    c.endTimed()
    c.timedPasses = passes
    c.attempted += passes * Queries.size

    val outDir = s"${c.runDir}/query_out"
    Queries.foreach { q => // a query that fails here leaves no output: the check counts it
      try all(q)(spark, c.dataDir).write.mode("overwrite").parquet(s"$outDir/$q")
      catch { case e: Exception => System.err.println(s"[perfbench] $q failed: $e") }
    }
    c.attempted += Queries.size
    c.raw("query_mix") = Map(
      "queries_ms" -> ms.map { case (k, v) => k -> v.toSeq },
      "warm_pass_s" -> warm, "pass_s" -> passS, "pass_cpu_s" -> passCpu,
      "out_dir" -> outDir)
  }
}
