package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native codegen squared Euclidean distance over two double-array columns —
  * [[DotProduct]]'s sibling for the L2 kernels.
  *
  * Every k-means assignment, PQ codebook fit/encode and ADC/L2 ranking kernel
  * previously spelled this as `aggregate(zip_with(a, b, (x,c) => (x-c)*(x-c)))`,
  * which walks Catalyst's interpreted lambda machinery per element — the same
  * ~10× tax [[DotProduct]] was introduced to remove from the dot-product
  * kernels, multiplied here by n·k (assignment), n·m·kc (PQ) or |q|·n (brute
  * L2) rows per pass.
  *
  * Summation order is the identical sequential left fold — acc + (x−c)·(x−c)
  * element by element — so results are bit-equal to the HOF form (SqDistSpec
  * pins parity against the test-scope `TestOracles.sqdistHof`) and to the
  * oracles' unrolled arithmetic. Length mismatches min-truncate, the
  * [[DotProduct]] contract; all callers feed fixed-dim vector pairs where
  * both forms agree.
  */
case class SqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sqdist"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0d
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $a.getDouble($i) - $b.getDouble($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SqDist =
    copy(left = newLeft, right = newRight)
}

object SqDist {
  /** Column-API surface: sqdist(a, b) as a codegen expression. */
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(
      SqDist(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
