package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native codegen'd MinHash signature over pre-hashed shingles.
  *
  * `minhash_sig(hs, n)` ≡ the composed higher-order expression
  * `transform(sequence(0, n-1), j -> array_min(transform(hs, h ->
  * xxhash64(h, j))))` — BIT-IDENTICAL, because it calls the same
  * XXH64 primitives Spark's `xxhash64` lowers to
  * (`hashInt(j, hashLong(h, 42))`; seed 42 is the xxhash64 default).
  * Equality is pinned by a corpus-wide test, so the LSH recall
  * contract of the minhash queries is unchanged.
  *
  * Why: the HOF version runs on the interpreted lambda path — for a
  * document with S shingles and N permutations that is S×N boxed
  * closure calls PLUS an S-element array materialized per
  * permutation, and it breaks the surrounding WholeStageCodegen
  * span. This expression is one S×N primitive loop that hoists
  * `hashLong(h, 42)` out of the inner loop (the HOF version
  * recomputes it for every (h, j) pair), allocating exactly one
  * long[n] per row.
  *
  * Semantics: null in → null out; an EMPTY shingle array → null (the
  * HOF version yields an all-null array there — no caller produces
  * empty shingle sets, the shingle builders floor at one element).
  * Null ELEMENTS are skipped as if absent — a deliberate deviation
  * from the HOF composition, whose xxhash64(null, j) degenerates to
  * hashing just the permutation index (a bug, not a contract); the
  * shingle builders never emit null elements, so the bit-equality
  * spec is unaffected.
  */
case class MinhashSig(child: Expression, nHashes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if nHashes > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"minhash_sig expects (array<bigint>, positive int literal), " +
          s"got ${t.simpleString} with n=$nHashes")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val m = hs.numElements()
    if (m == 0) return null
    val sig = new Array[Long](nHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < m) {
      if (!hs.isNullAt(i)) {
        val base = XXH64.hashLong(hs.getLong(i), 42L)
        var j = 0
        while (j < nHashes) {
          val v = XXH64.hashInt(j, base)
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val xxh = classOf[XXH64].getName
      val uad = classOf[UnsafeArrayData].getName
      val m = ctx.freshName("m")
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val base = ctx.freshName("base")
      val v = ctx.freshName("v")
      s"""
         |int $m = $a.numElements();
         |if ($m == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $sig = new long[$nHashes];
         |  java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $m; $i++) {
         |    if ($a.isNullAt($i)) continue;
         |    long $base = $xxh.hashLong($a.getLong($i), 42L);
         |    for (int $j = 0; $j < $nHashes; $j++) {
         |      long $v = $xxh.hashInt($j, $base);
         |      if ($v < $sig[$j]) $sig[$j] = $v;
         |    }
         |  }
         |  ${ev.value} = $uad.fromPrimitiveArray($sig);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object MinhashSig {
  val descriptor: GraftFunctions.Descriptor = (
    FunctionIdentifier("minhash_sig"),
    new ExpressionInfo(classOf[MinhashSig].getName, "minhash_sig"),
    { exprs =>
      require(exprs.length == 2,
        s"minhash_sig expects 2 arguments, got ${exprs.length}")
      val n = exprs(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"minhash_sig: n must be an int literal, got $other")
      }
      MinhashSig(exprs.head, n)
    })
}
