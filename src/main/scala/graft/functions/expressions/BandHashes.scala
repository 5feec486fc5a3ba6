package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Native Catalyst expression: the `b` LSH band keys of a MinHash
  * signature, band j being Spark's `hash` (Murmur3, seed 42) of the
  * signature's j-th `r`-slice. Equal on every input to the lambda form
  * (kept as the reference in DedupSpec)
  * {{{
  * transform(sequence(0, b-1), j -> hash(slice(sig, j*r + 1, r)))
  * }}}
  * `hash` of an int array folds `hashInt(e, h)` over its non-null
  * elements from h = 42, so a band past the signature's end (an empty
  * slice) and every band of a null signature hash to 42. The result is
  * never null and always has `b` elements.
  *
  * Why native: see [[WordNgrams]]; the lambda form builds a slice array
  * per band through the interpreter.
  */
case class BandHashes(child: Expression, b: Int, r: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(b > 0 && r > 0, s"b and r must be positive, got b=$b r=$r")

  override def inputTypes = Seq(ArrayType(IntegerType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "band_hashes"

  override def eval(input: InternalRow): Any =
    BandHashes.bands(child.eval(input).asInstanceOf[ArrayData], b, r)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.expressions.BandHashes.bands(${c.isNull} ? null : ${c.value}, $b, $r);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BandHashes =
    copy(child = newChild)
}

object BandHashes {

  /** The kernel, shared by `eval` and the generated code. */
  def bands(sig: ArrayData, b: Int, r: Int): ArrayData = {
    val len = if (sig == null) 0 else sig.numElements()
    val out = new Array[Int](b)
    var j = 0
    while (j < b) {
      var h = 42
      var i = j * r
      val end = math.min(i + r, len)
      while (i < end) {
        if (!sig.isNullAt(i)) h = Murmur3_x86_32.hashInt(sig.getInt(i), h)
        i += 1
      }
      out(j) = h
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
