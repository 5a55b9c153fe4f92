package graft.functions

import org.apache.spark.sql.{AnalysisException, GraftSqlShims}
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.{SparkEntry, SparkSpec}

class GraftFunctionsSpec extends SparkSpec {

  private val names = Seq("cosine_sim", "minhash_sig", "md5_hash60",
    "simhash32", "jaccard_sim", "signlsh_bucket", "winnow_fps",
    "gram_hashes", "intersect_count")

  private def resolves(s: org.apache.spark.sql.SparkSession,
      name: String): Boolean =
    GraftSqlShims.functionRegistry(s)
      .functionExists(FunctionIdentifier(name))

  test("the list names the nine functions; a builder session has each") {
    assert(GraftFunctions.all.map(_._1.funcName) == names)
    names.foreach(n => assert(resolves(spark, n), n))
  }

  test("SparkEntry.queries serves a session built without the functions") {
    // Collect on `spark` first: both sessions share one application
    // and this thread, so e6b's `e6b_hourly` slot is freed by the
    // second call.
    def rows(s: org.apache.spark.sql.SparkSession, q: String) =
      SparkEntry.queries(q)(s, sfDir).collect().map(_.toString).sorted.toSeq
    val kmv = rows(spark, "e6b_sliding_kmv")
    val brute = rows(spark, "sim_brute_topk")
    assert(kmv.nonEmpty && brute.nonEmpty)

    // newSession shares the extensions, so drop what they injected
    val bare = spark.newSession()
    names.foreach(n => GraftSqlShims.functionRegistry(bare)
      .dropFunction(FunctionIdentifier(n)))
    val e = intercept[AnalysisException](bare.sql("SELECT md5_hash60('a')"))
    assert(e.getMessage.contains("md5_hash60"))

    assert(rows(bare, "e6b_sliding_kmv") == kmv)
    assert(rows(bare, "sim_brute_topk") == brute)
    names.foreach(n => assert(resolves(bare, n), n))
  }
}
