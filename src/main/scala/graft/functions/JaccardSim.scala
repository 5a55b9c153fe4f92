package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Jaccard similarity over two DISTINCT long arrays (hashed
  * shingle sets).
  *
  * Why: the composed spelling —
  * `size(array_intersect(a,b)) / size(array_union(a,b))` —
  * materializes BOTH the intersection and the union array per pair
  * (array_union additionally builds its own hash table), i.e. two
  * array allocations + three hash structures for two numbers we
  * immediately reduce to a ratio. This expression computes
  * |∩| with one open-addressing probe table over the SMALLER side
  * (thread-local, reused across rows — zero steady-state allocation)
  * and derives |∪| = |a| + |b| − |∩|.
  *
  * Value parity with the composed form (what the DuckDB-oracled
  * dd_* entries hash-compare): for distinct inputs the counts are
  * identical and the division `(double) inter / union` is the same
  * IEEE op, so emitted doubles are bit-equal. CONTRACT: inputs must
  * be element-distinct (ours come from array_distinct shingle
  * builders); duplicate elements would count differently than
  * array_intersect's set semantics.
  *
  * Null if either side is null. Empty ∪ empty → 0/0 → NaN, matching
  * the composed spelling.
  */
case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"jaccard_sim expects (array<bigint>, array<bigint>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "jaccard_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaccardSim.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  // One static call from the generated code: stays inside the
  // WholeStageCodegen span (no boxed lambdas, no closure dispatch);
  // the helper itself is a tight primitive loop.
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.JaccardSim.jaccard($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object JaccardSim {

  /** Reused probe table per thread: open addressing, power-of-two
    * size, parallel occupancy flags (hash values may legitimately be
    * 0L, so no in-band empty marker). */
  private val tables = new ThreadLocal[(Array[Long], Array[Boolean])] {
    override def initialValue(): (Array[Long], Array[Boolean]) =
      (new Array[Long](1024), new Array[Boolean](1024))
  }

  /** Called from generated code — must be public and static-like. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val (small, large, ns, nl) =
      if (na <= nb) (a, b, na, nb) else (b, a, nb, na)
    if (ns == 0) return 0.0 / (na + nb) // 0/0 = NaN for both empty
    // capacity: next power of two ≥ 2·ns (load factor ≤ 0.5)
    var cap = 1024
    while (cap < ns * 2) cap <<= 1
    var (table, used) = tables.get()
    if (table.length < cap) {
      table = new Array[Long](cap)
      used = new Array[Boolean](cap)
      tables.set((table, used))
    } else {
      cap = table.length
      java.util.Arrays.fill(used, false)
    }
    val mask = cap - 1
    var i = 0
    while (i < ns) {
      val v = small.getLong(i)
      // finalizer-style mix so consecutive hashes spread
      var slot = (java.lang.Long.hashCode(v * -7046029254386353131L)) & mask
      while (used(slot) && table(slot) != v) slot = (slot + 1) & mask
      table(slot) = v
      used(slot) = true
      i += 1
    }
    var inter = 0
    i = 0
    while (i < nl) {
      val v = large.getLong(i)
      var slot = (java.lang.Long.hashCode(v * -7046029254386353131L)) & mask
      while (used(slot) && table(slot) != v) slot = (slot + 1) & mask
      if (used(slot)) inter += 1
      i += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  val descriptor: GraftFunctions.Descriptor = (
    FunctionIdentifier("jaccard_sim"),
    new ExpressionInfo(classOf[JaccardSim].getName, "jaccard_sim"),
    { exprs =>
      require(exprs.length == 2,
        s"jaccard_sim expects 2 arguments, got ${exprs.length}")
      JaccardSim(exprs.head, exprs(1))
    })
}
