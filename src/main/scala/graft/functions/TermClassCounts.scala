package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A driver-built model table in the plan: `graft_term_class_count(term, c)`
  * is the training count of `term` under class `c` (0-based), 0 for a term
  * the table does not hold — the naive-Bayes term counts of
  * [[graft.ml.NaiveBayes]] as a hash lookup instead of a broadcast join.
  *
  * The table travels inside the expression (a reference object of the
  * generated code), so scoring schedules no broadcast job and builds no
  * hashed relation. One [[TermClassCounts.Table.count]] serves `eval` and
  * the generated code, the [[Tokens]] pattern. */
case class TermClassCounts(left: Expression, right: Expression, table: TermClassCounts.Table)
  extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType, IntegerType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_term_class_count"
  // the table is data, not an argument: plan strings name only the children
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  override protected def nullSafeEval(term: Any, c: Any): Any =
    table.count(term.asInstanceOf[UTF8String], c.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("termClassCounts", table)
    defineCodeGen(ctx, ev, (term, c) => s"$t.count($term, $c)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): TermClassCounts =
    copy(left = l, right = r)
}

object TermClassCounts {

  /** term → per-class counts, every array `classes` long. */
  final class Table(counts: java.util.HashMap[UTF8String, Array[Long]], val classes: Int)
    extends Serializable {
    def size: Int = counts.size

    /** Shared by interpreted eval and generated code. */
    def count(term: UTF8String, c: Int): Long = {
      val cs = counts.get(term)
      if (cs == null) 0L else cs(c)
    }
  }

  object Table {
    /** From (class index, term, count) triples. */
    def apply(classes: Int, rows: Iterable[(Int, String, Long)]): Table = {
      val m = new java.util.HashMap[UTF8String, Array[Long]]()
      rows.foreach { case (c, term, n) =>
        m.computeIfAbsent(UTF8String.fromString(term), _ => new Array[Long](classes))(c) = n
      }
      new Table(m, classes)
    }
  }

  /** Column-API surface: the count of `term` under class index `c`. */
  def apply(term: Column, c: Column, table: Table): Column =
    ColumnBridge.column(
      TermClassCounts(ColumnBridge.expression(term), ColumnBridge.expression(c), table))
}
