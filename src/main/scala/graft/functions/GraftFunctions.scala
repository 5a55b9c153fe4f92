package graft.functions

import org.apache.spark.sql.{GraftSqlShims, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The one owner of graft's Catalyst function registration: [[all]]
  * lists every function's descriptor. `Sessions.builder` injects the
  * list with `.withExtensions(GraftFunctions.register)`, and
  * `SparkEntry.queries` calls [[ensureRegistered]] on each session an
  * outside harness hands in. A new function goes into [[all]] and
  * nowhere else; query bodies never register anything. */
object GraftFunctions {
  type Descriptor = (FunctionIdentifier, ExpressionInfo, FunctionBuilder)

  val all: Seq[Descriptor] = Seq(
    CosineSimilarity.descriptor,
    MinhashSig.descriptor,
    Md5Hash60.descriptor,
    Simhash32.descriptor,
    JaccardSim.descriptor,
    SignLshBucket.descriptor,
    WinnowFps.descriptor,
    GramHashes.descriptor,
    IntersectCount.descriptor)

  def register(ext: SparkSessionExtensions): Unit =
    all.foreach(ext.injectFunction)

  /** Registers each function `spark` does not resolve yet. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = GraftSqlShims.functionRegistry(spark)
    for ((ident, info, builder) <- all
         if registry.lookupFunctionBuilder(ident).isEmpty)
      registry.registerFunction(ident, info, builder)
  }
}
