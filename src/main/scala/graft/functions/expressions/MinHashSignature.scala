package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Native Catalyst expression: the k-element MinHash signature of an
  * `array<string>` shingle set, bit-identical to the HOF formulation
  * `transform(sequence(0,k-1), j -> array_min(transform(sh, s -> hash(s, j))))`
  * (kept as [[graft.text.Dedup.minhashSignatureHof]]; equivalence is
  * test-asserted).
  *
  * Why native: the HOF form nests lambdas, which drops the expression
  * out of whole-stage codegen into interpreted mode AND recomputes a
  * full murmur3 of every shingle for every one of the k seeds —
  * k × n byte-hashes plus k intermediate arrays per row. Spark's
  * `hash(s, j)` chains as `hashInt(j, hashBytes(s, seed=42))`, so the
  * bytes need hashing ONCE per shingle; the k seeded variants are
  * single-int murmur mixes. This one-pass loop does exactly that:
  * n byte-hashes + n·k int-mixes, no allocation beyond the k-int
  * output, inside codegen.
  *
  * Empty input (no shingles — cannot occur via `shingleTable`, which
  * emits ≥1 shingle) yields Int.MaxValue sentinels rather than nulls.
  *
  * Null ELEMENTS mirror the HOF/`Murmur3Hash` semantics: a null input
  * leaves the running hash at its seed (42), so a null shingle
  * contributes `hashInt(j, 42)` to seed j's min (not an NPE — this
  * expression is public, as `GraftFunctions.minhashSig` and SQL
  * `minhash_sig`, so arbitrary user arrays reach it).
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(k > 0, s"k must be positive, got $k")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(Int.MaxValue)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h1 =
        if (s == null) 42
        else Murmur3_x86_32.hashUnsafeBytes(
          s.getBaseObject, s.getBaseOffset, s.numBytes, 42)
      var j = 0
      while (j < k) {
        val hj = Murmur3_x86_32.hashInt(j, h1)
        if (hj < mins(j)) mins(j) = hj
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val h1 = ctx.freshName("h1")
      val hj = ctx.freshName("hj")
      val mins = ctx.freshName("mins")
      s"""
         |int $n = $a.numElements();
         |int[] $mins = new int[$k];
         |java.util.Arrays.fill($mins, Integer.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  org.apache.spark.unsafe.types.UTF8String $s =
         |    $a.isNullAt($i) ? null : $a.getUTF8String($i);
         |  int $h1 = ($s == null)
         |    ? 42
         |    : org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
         |        $s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42);
         |  for (int $j = 0; $j < $k; $j++) {
         |    int $hj = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt($j, $h1);
         |    if ($hj < $mins[$j]) { $mins[$j] = $hj; }
         |  }
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}
