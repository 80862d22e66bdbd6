package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native codegen pairwise fold over two array columns: the dot product, its
  * integer twin and the squared Euclidean distance, one expression with the
  * kernel chosen by `op`.
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`) walks
  * Catalyst's interpreted lambda machinery per element — ~10× too slow for
  * the kNN / ANN / k-means / PQ kernels where it dominates the query. This
  * expression compiles to a tight primitive loop inside WholeStageCodegen.
  * The op is fixed when the code is generated, so each op's Java loop has no
  * per-element branch.
  *
  * Summation order is the same sequential left fold as the HOF form (and
  * DuckDB's list_dot_product), so results are bit-identical to it: ExprsSpec
  * and SqDistSpec pin parity against the test-scope `TestOracles.dotHof` /
  * `sqdistHof`, and SqDistSpec checks interpreted `eval` against codegen for
  * every op. Length mismatches min-truncate; all callers feed fixed-dim
  * pairs, where both forms agree. [[ArrayFold.DotLong]] is exact 64-bit
  * integer arithmetic: a sum overflowing a long would wrap here where the
  * ANSI HOF throws — its sign-LSH caller's quantized components are
  * ≤ ~1e6·dim, eight orders of magnitude inside the line.
  */
case class ArrayFold(left: Expression, right: Expression, op: ArrayFold.Op)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def dataType: DataType = op.dataType
  // elements are read as the result type: an int array is cast up at
  // analysis, a string array is rejected there (not read as raw bytes)
  override def inputTypes = Seq(ArrayType(op.dataType), ArrayType(op.dataType))
  override def prettyName: String = op.prettyName
  // plan text reads `graft_dot(a, b)`, as for a plain binary function
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    op.fold(x, y, math.min(x.numElements(), y.numElements()))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${CodeGenerator.javaType(op.dataType)} $s = ${op.javaZero};
         |for (int $i = 0; $i < $n; $i++) {
         |  ${op.javaTerm(ctx, a, b, i, s)}
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayFold =
    copy(left = newLeft, right = newRight)
}

object ArrayFold {

  /** One fold kernel: its result type (also the element type it reads), its
    * zero, the interpreted fold and the Java statements adding pair `i` into
    * the accumulator `s`. */
  sealed abstract class Op(val prettyName: String, val dataType: DataType,
                           val javaZero: String) {
    def fold(x: ArrayData, y: ArrayData, n: Int): Any
    def javaTerm(ctx: CodegenContext, a: String, b: String, i: String, s: String): String
  }

  /** Σ x·y over double arrays. */
  case object Dot extends Op("graft_dot", DoubleType, "0.0") {
    def fold(x: ArrayData, y: ArrayData, n: Int): Any = {
      var s = 0.0d
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }
    def javaTerm(ctx: CodegenContext, a: String, b: String, i: String, s: String): String =
      s"$s += $a.getDouble($i) * $b.getDouble($i);"
  }

  /** Σ x·y over long arrays (the sign-LSH bucket kernel). */
  case object DotLong extends Op("graft_dot_long", LongType, "0L") {
    def fold(x: ArrayData, y: ArrayData, n: Int): Any = {
      var s = 0L
      var i = 0
      while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
      s
    }
    def javaTerm(ctx: CodegenContext, a: String, b: String, i: String, s: String): String =
      s"$s += $a.getLong($i) * $b.getLong($i);"
  }

  /** Σ (x − y)² over double arrays. */
  case object SqDist extends Op("graft_sqdist", DoubleType, "0.0") {
    def fold(x: ArrayData, y: ArrayData, n: Int): Any = {
      var s = 0.0d
      var i = 0
      while (i < n) {
        val d = x.getDouble(i) - y.getDouble(i)
        s += d * d
        i += 1
      }
      s
    }
    def javaTerm(ctx: CodegenContext, a: String, b: String, i: String, s: String): String = {
      val d = ctx.freshName("d")
      s"double $d = $a.getDouble($i) - $b.getDouble($i);\n  $s += $d * $d;"
    }
  }

  /** Column-API surface: `op`(a, b) as a codegen expression. */
  def apply(a: Column, b: Column, op: Op): Column =
    ColumnBridge.column(
      ArrayFold(ColumnBridge.expression(a), ColumnBridge.expression(b), op))
}
