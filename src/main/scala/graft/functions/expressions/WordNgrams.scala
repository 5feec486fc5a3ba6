package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the word `n`-grams of a token array, in
  * position order, each the `n` tokens joined by one space. Equal on
  * every input to the lambda form (kept as the reference in DedupSpec)
  * {{{
  * transform(sequence(1, greatest(size(toks) - (n-1), 1)),
  *           i -> concat_ws(' ', slice(toks, i, n)))
  * }}}
  * so: fewer than `n` tokens give ONE gram, the whole array joined; an
  * empty or null array gives one `""`; a null token is skipped inside
  * its gram, as `concat_ws` skips it. The result is never null.
  *
  * Why native: higher-order functions are `CodegenFallback`, so the
  * lambda form runs interpreted, one lambda call per gram, and an
  * argument subtree such as `split(text, ' ')` that the optimizer folds
  * back into the lambda body is re-evaluated for every gram (O(tokens²)
  * per row). Here the child is evaluated once per row, inside
  * whole-stage codegen, and each gram is one byte copy.
  */
case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n > 0, s"n must be positive, got $n")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "word_ngrams"

  override def eval(input: InternalRow): Any =
    WordNgrams.ngrams(child.eval(input).asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.expressions.WordNgrams.ngrams(${c.isNull} ? null : ${c.value}, $n);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

object WordNgrams {
  private val Space: Byte = ' '

  /** The kernel, shared by `eval` and the generated code. */
  def ngrams(toks: ArrayData, n: Int): ArrayData = {
    val len = if (toks == null) 0 else toks.numElements()
    val out = new Array[Any](math.max(len - (n - 1), 1))
    var i = 0
    while (i < out.length) {
      out(i) = join(toks, i, math.min(i + n, len))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `concat_ws(' ', toks[from until until])`: non-null tokens joined by
    * one space. */
  private def join(toks: ArrayData, from: Int, until: Int): UTF8String = {
    var bytes = 0
    var parts = 0
    var i = from
    while (i < until) {
      if (!toks.isNullAt(i)) { bytes += toks.getUTF8String(i).numBytes; parts += 1 }
      i += 1
    }
    if (parts == 0) return UTF8String.EMPTY_UTF8
    val buf = new Array[Byte](bytes + parts - 1)
    var off = 0
    var first = true
    i = from
    while (i < until) {
      if (!toks.isNullAt(i)) {
        if (first) first = false else { buf(off) = Space; off += 1 }
        val s = toks.getUTF8String(i)
        s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + off)
        off += s.numBytes
      }
      i += 1
    }
    UTF8String.fromBytes(buf)
  }
}
