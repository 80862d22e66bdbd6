package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ArrayRemove, BoundReference, Expression,
  ImplicitCastInputTypes, Literal, Lower, RegExpReplace, StringSplit, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen reference tokenizer (TF_IDF_Compute.java:79-99 semantics)
  * over a text column — [[MapCosine]]'s sibling for the text pipeline.
  *
  * The built-in spelling is four chained expressions, `lower →
  * regexp_replace("[^a-z0-9 ]", " ") → split(" +") → drop ""`, the last an
  * interpreted lambda `filter`. It runs per row under nearly every text query
  * (batch and streaming), so this expression replaces the chain with one
  * compiled evaluation:
  *
  *  - an all-ASCII row takes one byte loop: `A–Z` lowercase, and every
  *    maximal run of `[a-z0-9]` is a token. On ASCII input that is exactly
  *    what the chain computes (ASCII `lower` touches only `A–Z`, and
  *    splitting the space-replaced string on `" +"` minus empties yields the
  *    runs);
  *  - a row holding any non-ASCII byte evaluates the exact built-in
  *    composition (`array_remove(split(regexp_replace(lower(t), …), " +"),
  *    "")`): Unicode `lower` can map into ASCII (U+212A KELVIN SIGN → `k`,
  *    U+0130 → `i` + U+0307), so no byte-level shortcut is safe there.
  *    `RegExpReplace` caches its pattern and result buffer in the instance,
  *    so the fallback tree is one per thread.
  *
  * One static [[Tokens.compute]] serves `eval` and the generated code, so the
  * two paths cannot drift. TokensSpec pins parity with the chain on both
  * paths. Result type is the chain's: `array<string>`, no null elements.
  */
case class Tokens(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  override protected def nullSafeEval(text: Any): Any =
    Tokens.compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, t => s"graft.functions.Tokens.compute($t)")

  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}

object Tokens {
  /** Column-API surface: tokens(text) as a codegen expression. */
  def apply(text: Column): Column =
    ColumnBridge.column(Tokens(ColumnBridge.expression(text)))

  /** The built-in composition over input column 0 — the non-ASCII path. */
  private val fallback = ThreadLocal.withInitial[Expression](() =>
    ArrayRemove(
      StringSplit(
        RegExpReplace(Lower(BoundReference(0, StringType, nullable = false)),
          Literal("[^a-z0-9 ]"), Literal(" ")),
        Literal(" +"), Literal(-1)),
      Literal("")))

  /** Shared by interpreted eval and generated code. */
  def compute(text: UTF8String): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes()
    def lowered(i: Int): Int = {
      val b = Platform.getByte(base, off + i)
      if (b >= 'A' && b <= 'Z') b + ('a' - 'A') else b
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var start = -1 // first byte of the open token, -1 between tokens
    var i = 0
    while (i <= n) {
      val b = if (i < n) lowered(i) else ' '
      if (b < 0) return fallback.get().eval(InternalRow(text)).asInstanceOf[ArrayData]
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        if (start < 0) start = i
      } else if (start >= 0) {
        val tok = new Array[Byte](i - start)
        var j = 0
        while (j < tok.length) { tok(j) = lowered(start + j).toByte; j += 1 }
        out += UTF8String.fromBytes(tok)
        start = -1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
