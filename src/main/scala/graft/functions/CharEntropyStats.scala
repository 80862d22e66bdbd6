package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native per-string character-entropy kernel — the tight-loop form of the
  * HOF formulation in [[graft.operators.TextStats.charEntropy]]'s twin
  * (which pays an interpreted lambda per (char × alphabet) pair: ~8 ms per
  * 300-char document, 39 s for the sf0.1 corpus — measured in the round-12
  * ×10 probe). One interpreted call per ROW (CodegenFallback), identical
  * arithmetic contract: per-char counts folded in sorted-char order, each
  * c·ln c term rounded at 12 dp through [[SparkRound]] (Spark's Round
  * path, so the doubles stay bit-equal to the HOF twin and the DuckDB
  * oracle — asserted in TextStatsSpec).
  *
  * Returns struct(n_alphabet BIGINT, entropy DOUBLE);
  * H = round(round(ln L, 12) − Σ round(c·ln c, 12) / L, 6).
  */
case class CharEntropyStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_alphabet", LongType, nullable = false),
    StructField("entropy", DoubleType, nullable = false)))
  override def prettyName: String = "graft_char_entropy"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // sorted keys ⇒ the fold order matches array_sort(array_distinct(...))
    // in the HOF twin and list_sort(list_distinct(...)) in the oracle
    val counts = new java.util.TreeMap[Character, Long]()
    var i = 0
    while (i < s.length) {
      counts.merge(Character.valueOf(s.charAt(i)), 1L, (a, b) => a + b)
      i += 1
    }
    var sum = 0.0d
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().toDouble
      sum += SparkRound(c * math.log(c), 12)
    }
    val l = s.length.toDouble
    val h = SparkRound(SparkRound(math.log(l), 12) - sum / l, 6)
    new GenericInternalRow(Array[Any](counts.size.toLong, h)): InternalRow
  }

  override protected def withNewChildInternal(c: Expression): CharEntropyStats =
    copy(child = c)
}

object CharEntropyStats {
  /** Column-API surface: struct(n_alphabet, entropy) over a string column. */
  def apply(text: Column): Column =
    ColumnBridge.column(CharEntropyStats(ColumnBridge.expression(text)))
}
