package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.{ColumnBridge, DecimalBridge}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Exact-decimal slot buffer behind [[VecDsum]] and [[OuterDsum]]: one slot
  * per output cell, each the Spark expression
  * `sum(cast(round(v, 12) as decimal(30, 12)))` cast back to double over the
  * addends `v` routed to it.
  *
  * Layout: a flat row-major `Array[BigDecimal]` of `rows × width` slots —
  * one row for [[VecDsum]] (slot j), `width` rows for [[OuterDsum]] (slot
  * i·width + j). A wider input grows the buffer and copies each old row to
  * its new offset, so earlier sums keep their cells. A null slot has had no
  * addend yet (sum-over-empty semantics).
  *
  * Arithmetic fidelity, step by step against the Spark expression ladder.
  * `ansi` is `spark.sql.ansi.enabled` as the plan was built (the aggregates
  * capture it the way Spark's `Sum` does):
  *   - round(v, 12): [[SparkRound]]; NaN/Infinity pass through and are then
  *     skipped: Spark's cast of NaN or ±Infinity to decimal is null in both
  *     modes;
  *   - cast(double as decimal(30, 12)): valueOf, setScale(12, HALF_UP);
  *     precision > 30 is Spark's overflow: the addend is skipped (null), or
  *     under ANSI the cast's `NUMERIC_VALUE_OUT_OF_RANGE` is thrown;
  *   - sum: exact BigDecimal addition (order-independent, so partial
  *     aggregates merge in any order);
  *   - final cast to double: BigDecimal.doubleValue — Decimal.toDouble;
  *   - sum-result overflow past decimal(38, 12) (sum's widened result type)
  *     nulls the slot, or under ANSI throws `NUMERIC_VALUE_OUT_OF_RANGE` as
  *     the sum does.
  * Both overflow checks are Spark's own `Decimal.toPrecision`
  * ([[org.apache.spark.sql.graft.DecimalBridge]]), so the error
  * class is the one the expression ladder raises.
  */
private[graft] final class DecimalSlots(square: Boolean, ansi: Boolean = false) {
  import DecimalSlots.Scale

  private var width = 0
  private var sums = new Array[JBigDecimal](0)

  private def rows(w: Int): Int = if (square) w else 1

  /** Widen to `n` columns (and, for a square buffer, `n` rows). */
  def grow(n: Int): Unit = if (n > width) {
    val next = new Array[JBigDecimal](rows(n) * n)
    var i = 0
    while (i < rows(width)) {
      System.arraycopy(sums, i * width, next, i * n, width)
      i += 1
    }
    width = n
    sums = next
  }

  /** Add one addend `v` to slot (row, col); the caller has grown the buffer
    * to cover it. */
  def add(row: Int, col: Int, v: Double): Unit = {
    val t = SparkRound(v, Scale)
    if (!t.isNaN && !t.isInfinite) {
      val d = JBigDecimal.valueOf(t).setScale(Scale, RoundingMode.HALF_UP)
      if (d.precision() <= 30) addAt(row * width + col, d)
      else overflow(d, 30)
    }
  }

  /** Spark's decimal overflow of `d` at `precision`: null, or the ANSI
    * error. */
  private def overflow(d: JBigDecimal, precision: Int): Null = {
    DecimalBridge.toPrecision(Decimal(d), precision, Scale, nullOnOverflow = !ansi)
    null
  }

  private def addAt(k: Int, d: JBigDecimal): Unit =
    sums(k) = if (sums(k) == null) d else sums(k).add(d)

  def mergeWith(other: DecimalSlots): DecimalSlots = {
    grow(other.width)
    var i = 0
    while (i < rows(other.width)) {
      var j = 0
      while (j < other.width) {
        val o = other.sums(i * other.width + j)
        if (o != null) addAt(i * width + j, o)
        j += 1
      }
      i += 1
    }
    this
  }

  /** null when no row ever reached the buffer (a global sum over zero rows
    * is null); per slot: null when no addend, null (ANSI: the error) when
    * the exact sum overflows decimal(38, 12), else the double value. */
  def result(): Any =
    if (width == 0) null
    else new GenericArrayData(sums.map[Any] { s =>
      if (s == null) null
      else if (s.precision() > 38) overflow(s, 38)
      else java.lang.Double.valueOf(s.doubleValue())
    })

  def toBytes: Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(width)
    sums.foreach { s =>
      if (s == null) out.writeInt(-1)
      else {
        val unscaled = s.unscaledValue().toByteArray
        out.writeInt(unscaled.length)
        out.write(unscaled)
        out.writeInt(s.scale())
      }
    }
    out.flush()
    bos.toByteArray
  }
}

private[graft] object DecimalSlots {
  /** The decimal scale of every addend and sum. */
  val Scale = 12

  def fromBytes(bytes: Array[Byte], square: Boolean, ansi: Boolean = false): DecimalSlots = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val b = new DecimalSlots(square, ansi)
    b.width = in.readInt()
    b.sums = Array.fill(b.rows(b.width) * b.width) {
      val len = in.readInt()
      if (len < 0) null
      else {
        val u = new Array[Byte](len)
        in.readFully(u)
        new JBigDecimal(new java.math.BigInteger(u), in.readInt())
      }
    }
    b
  }
}

/** What [[VecDsum]] and [[OuterDsum]] share: the [[DecimalSlots]] buffer's
  * merge, result and serde. Each aggregate adds only its `update` and its
  * buffer shape. */
private[functions] trait DecimalSlotsAggregate extends TypedImperativeAggregate[DecimalSlots] {
  /** One row of slots (false) or a width × width square (true). */
  protected def square: Boolean
  /** `spark.sql.ansi.enabled` when the plan was built. */
  def ansi: Boolean
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def createAggregationBuffer(): DecimalSlots = new DecimalSlots(square, ansi)
  override def merge(buf: DecimalSlots, other: DecimalSlots): DecimalSlots =
    buf.mergeWith(other)
  override def eval(buf: DecimalSlots): Any = buf.result()
  override def serialize(buf: DecimalSlots): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): DecimalSlots =
    DecimalSlots.fromBytes(bytes, square, ansi)
}

/** Element-wise weighted [[Exprs.dsum]] over an array<double> column: slot j
  * of the result is `sum(cast(round(coef · x[j], 12) as decimal(30, 12)))`
  * cast back to double — bit-identical to exploding the array with
  * `posexplode`, forming `round(coef · xj, 12)` per row and running
  * `dsum(·, 12)` per position, without materializing rows × dim exploded
  * rows through a hash aggregate.
  *
  * Built for the full-batch GD gradient ([[graft.ml.Logistic.train]]): the
  * row coefficient (p − y) arrives as a scalar column — evaluated ONCE per
  * row, not per element (a transform-lambda formulation would re-evaluate
  * an inlined sigmoid per element after CollapseProject) — and the fold
  * runs in one pass. The per-addend ladder is [[DecimalSlots]]'s; a null
  * coef or null element is a null term, skipped like sum. VecDsumSpec pins
  * bit-parity against the posexplode + dsum form.
  *
  * Rows are dense fixed-dim in the GD caller; ragged inputs are handled the
  * way posexplode+groupBy would: the result is as long as the longest input,
  * shorter rows simply contribute no addend at the tail positions.
  */
case class VecDsum(
    left: Expression, right: Expression, ansi: Boolean = SQLConf.get.ansiEnabled,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends DecimalSlotsAggregate with BinaryLike[Expression] {

  override protected def square: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, double), got (${l.catalogString}, ${r.catalogString})")
  }

  override def prettyName: String = "graft_vec_dsum"

  override def update(buf: DecimalSlots, input: InternalRow): DecimalSlots = {
    val arr = left.eval(input)
    val coef = right.eval(input)
    // null coef: every term round(null · xj) is null — no addend, like sum
    if (arr != null && coef != null) {
      val xs = arr.asInstanceOf[ArrayData]
      val c = coef.asInstanceOf[java.lang.Double].doubleValue()
      val n = xs.numElements()
      buf.grow(n)
      var j = 0
      while (j < n) {
        if (!xs.isNullAt(j)) buf.add(0, j, c * xs.getDouble(j))
        j += 1
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): VecDsum =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VecDsum =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDsum =
    copy(left = newLeft, right = newRight)
}

object VecDsum {
  /** Column-API surface: slot j = dsum(round(coef · arr[j], 12), 12). */
  def apply(arr: Column, coef: Column): Column =
    ColumnBridge.column(
      VecDsum(ColumnBridge.expression(arr), ColumnBridge.expression(coef))
        .toAggregateExpression())
}

/** Element-wise exact-DECIMAL sum of a row's OUTER PRODUCT: slot (i·d + j) of
  * the result is `sum(cast(round(x[i] · x[j], 12) as decimal(30, 12)))` cast
  * back to double — bit-identical to exploding all d² (i, j, p) structs per
  * row (`Pca.cov`'s pre-round-14 shape) and running `dsum(·, 12)` per (i, j)
  * group, without materializing n·d² rows through a hash aggregate.
  *
  * The per-addend ladder is [[DecimalSlots]]'s, applied to the product
  * x[i]·x[j] (the same IEEE multiply the exploded form rounded); null
  * elements skip the addend. VecDsumSpec pins slot-by-slot parity against
  * the exploded form.
  *
  * Contract: fixed-dim input rows (the covariance caller's embedding
  * column). A longer row than previously seen grows the buffer so earlier
  * (i, j) sums keep their cells; rows contribute addends only for their own
  * i, j < len — exactly the groups the exploded form would emit.
  */
case class OuterDsum(
    child: Expression, ansi: Boolean = SQLConf.get.ansiEnabled,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends DecimalSlotsAggregate with UnaryLike[Expression] {

  override protected def square: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got ${other.catalogString}")
  }

  override def prettyName: String = "graft_outer_dsum"

  override def update(buf: DecimalSlots, input: InternalRow): DecimalSlots = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      buf.grow(n)
      val xs = new Array[Double](n)
      val ok = new Array[Boolean](n)
      var i = 0
      while (i < n) {
        ok(i) = !arr.isNullAt(i)
        if (ok(i)) xs(i) = arr.getDouble(i)
        i += 1
      }
      i = 0
      while (i < n) {
        if (ok(i)) {
          var j = 0
          while (j < n) {
            if (ok(j)) buf.add(i, j, xs(i) * xs(j))
            j += 1
          }
        }
        i += 1
      }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): OuterDsum =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): OuterDsum =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): OuterDsum =
    copy(child = newChild)
}

object OuterDsum {
  /** Column-API surface: row-major d² array, slot i·d+j =
    * dsum(round(x[i]·x[j], 12), 12). */
  def apply(arr: Column): Column =
    ColumnBridge.column(
      OuterDsum(ColumnBridge.expression(arr)).toAggregateExpression())
}
