package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}

/** Native Catalyst expression: the adjacent-token bigrams of a token
  * array as `struct<a, b>` rows, in position order. Equal on every array
  * of two or more tokens to the lambda form (kept as the reference in
  * DedupSpec)
  * {{{
  * transform(sequence(1, size(toks) - 1),
  *           i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))
  * }}}
  * A null token stays a null field. Where the lambda form is undefined
  * (one token or none: `sequence(1, 0)` counts down and `element_at(toks,
  * 0)` throws) this returns an empty array; a null array gives null.
  *
  * Why native: see [[WordNgrams]]; the lambda form runs interpreted and
  * builds two `element_at` calls and a struct per bigram through it.
  */
case class TokenBigrams(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", StringType), StructField("b", StringType))),
    containsNull = false)
  override def prettyName: String = "token_bigrams"

  override def nullSafeEval(input: Any): Any =
    TokenBigrams.bigrams(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.expressions.TokenBigrams.bigrams($t)")

  override protected def withNewChildInternal(newChild: Expression): TokenBigrams =
    copy(child = newChild)
}

object TokenBigrams {

  /** The kernel, shared by `eval` and the generated code. */
  def bigrams(toks: ArrayData): ArrayData = {
    val out = new Array[Any](math.max(toks.numElements() - 1, 0))
    var i = 0
    while (i < out.length) {
      out(i) = new GenericInternalRow(Array[Any](token(toks, i), token(toks, i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }

  private def token(toks: ArrayData, i: Int): Any =
    if (toks.isNullAt(i)) null else toks.getUTF8String(i)
}
