package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: 64-bit SimHash of a token array,
  * bit-identical to the HOF reference
  * [[graft.text.Dedup.simhashOfTokensHof]] (xxhash64 per token with
  * Spark's default seed 42; each hash bit votes ±1; positive vote sum ⇒
  * fingerprint bit set).
  *
  * Why native: the HOF form folds a 64-wide `zip_with`/`transform`
  * lambda per token — interpreted (nested lambdas), allocating two
  * 64-element arrays per token per row. Here: one xxhash64 per token
  * and a 64-int vote tally on the stack, inside codegen.
  *
  * Null ELEMENTS mirror the HOF/`XxHash64` semantics: `xxhash64(null)`
  * leaves the hash at its seed (42), so a null token votes with the bits
  * of 42L (not an NPE — this expression is public, as
  * `GraftFunctions.simhash64` and SQL `simhash64`, so arbitrary user
  * arrays reach it).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h =
        if (s == null) 42L
        else org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var fp = 0L
    var bit = 0
    while (bit < 64) {
      if (votes(bit) > 0) fp |= (1L << bit)
      bit += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val h = ctx.freshName("h")
      val bit = ctx.freshName("bit")
      val votes = ctx.freshName("votes")
      val fp = ctx.freshName("fp")
      s"""
         |int $n = $a.numElements();
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  org.apache.spark.unsafe.types.UTF8String $s =
         |    $a.isNullAt($i) ? null : $a.getUTF8String($i);
         |  long $h = ($s == null)
         |    ? 42L
         |    : org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
         |        $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);
         |  for (int $bit = 0; $bit < 64; $bit++) {
         |    if ((($h >>> $bit) & 1L) == 1L) { $votes[$bit]++; } else { $votes[$bit]--; }
         |  }
         |}
         |long $fp = 0L;
         |for (int $bit = 0; $bit < 64; $bit++) {
         |  if ($votes[$bit] > 0) { $fp |= (1L << $bit); }
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
