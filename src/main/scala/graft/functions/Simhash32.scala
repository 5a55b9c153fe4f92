package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native 32-bit SimHash over pre-hashed shingles: per bit b, a ±1
  * majority vote of `(h >> b) & 1` across the array, packed to one
  * long. Bit-identical to the composed
  * `aggregate(zip_with(...votes...))` / pack expression (integer
  * sums, order-independent) — pinned by Simhash32Spec — but one
  * primitive S×32 loop instead of S interpreted lambda frames each
  * allocating a 32-element boxed array.
  *
  * Null in → null out; empty array → null; null ELEMENTS skipped.
  */
case class Simhash32(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash32 expects array<bigint>, got ${t.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def prettyName: String = "simhash32"

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val m = hs.numElements()
    if (m == 0) return null
    val votes = new Array[Long](32)
    var i = 0
    while (i < m) {
      if (!hs.isNullAt(i)) {
        val h = hs.getLong(i)
        var b = 0
        while (b < 32) {
          votes(b) += (if (((h >> b) & 1L) == 1L) 1L else -1L)
          b += 1
        }
      }
      i += 1
    }
    var packed = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) > 0) packed |= 1L << b
      b += 1
    }
    packed
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val m = ctx.freshName("m")
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val packed = ctx.freshName("packed")
      s"""
         |int $m = $a.numElements();
         |if ($m == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $votes = new long[32];
         |  for (int $i = 0; $i < $m; $i++) {
         |    if ($a.isNullAt($i)) continue;
         |    long $h = $a.getLong($i);
         |    for (int $b = 0; $b < 32; $b++) {
         |      $votes[$b] += ((($h >> $b) & 1L) == 1L) ? 1L : -1L;
         |    }
         |  }
         |  long $packed = 0L;
         |  for (int $b = 0; $b < 32; $b++) {
         |    if ($votes[$b] > 0) $packed |= 1L << $b;
         |  }
         |  ${ev.value} = $packed;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object Simhash32 {
  val descriptor: GraftFunctions.Descriptor = (
    FunctionIdentifier("simhash32"),
    new ExpressionInfo(classOf[Simhash32].getName, "simhash32"),
    { exprs =>
      require(exprs.length == 1,
        s"simhash32 expects 1 argument, got ${exprs.length}")
      Simhash32(exprs.head)
    })
}
