package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, MapType}

/** Native codegen sparse cosine over two MapType(long → double) feature
  * columns — the dense [[ArrayFold]] kernels' sibling for the sparse kNN kernel
  * (the reference's own vector representation, KNNMapper.java:118-143).
  *
  * [[Exprs.mapCosine]] spelled this as three interpreted HOF folds per pair
  * (`aggregate(map_values(map_zip_with(...)))` for the dot plus one
  * `aggregate` per norm) — the last interpreted-lambda hot kernel after the
  * round-14 dense-fold ([[ArrayFold]]) sweep. This expression computes the whole
  * cosine in one compiled evaluation.
  *
  * Bit-parity with the HOF form (MapCosineSpec pins it): the dot folds a's
  * entries in map order with b looked up per key, THEN b's a-missing entries
  * in map order as `0.0 * v` — the exact `map_zip_with` union order and
  * `coalesce(u, 0) * coalesce(v, 0)` arithmetic, so ±0.0/NaN propagation
  * matches; each norm folds its own map's values in order as `acc + v*v`;
  * the guard is the same `denom == 0 → 0` on the same doubles.
  *
  * Contract (the feature-map builders' invariants, not re-checked here):
  * unique keys per map (map_zip_with would THROW on duplicates; this kernel
  * first-wins) and non-null values (the HOF form would return null).
  */
case class MapCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_map_cosine"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case MapType(LongType, DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two map<bigint,double> columns, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val ma = a.asInstanceOf[MapData]
    val mb = b.asInstanceOf[MapData]
    MapCosine.compute(ma, mb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.MapCosine.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): MapCosine =
    copy(left = newLeft, right = newRight)
}

object MapCosine {
  /** Column-API surface: mapCosine(a, b) as a codegen expression. */
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(
      MapCosine(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Shared by interpreted eval and generated code (one compiled body —
    * the JIT inlines it; keeps the two paths trivially identical). */
  def compute(ma: MapData, mb: MapData): Double = {
    val na = ma.numElements()
    val nb = mb.numElements()
    val av = ma.valueArray()
    val bv = mb.valueArray()
    var sa = 0.0d
    var i = 0
    while (i < na) { val v = av.getDouble(i); sa += v * v; i += 1 }
    var sb = 0.0d
    i = 0
    while (i < nb) { val v = bv.getDouble(i); sb += v * v; i += 1 }
    val denom = math.sqrt(sa) * math.sqrt(sb)
    if (denom == 0.0d) return 0.0d
    val ak = ma.keyArray()
    val bk = mb.keyArray()
    // b's entries hashed once (first-wins — unique-key contract), then the
    // map_zip_with union order: a's keys, then b's keys missing from a
    val bm = new java.util.HashMap[java.lang.Long, java.lang.Double](nb * 2)
    i = 0
    while (i < nb) { bm.putIfAbsent(bk.getLong(i), bv.getDouble(i)); i += 1 }
    val seen = new java.util.HashSet[java.lang.Long](na * 2)
    var s = 0.0d
    i = 0
    while (i < na) {
      val k = ak.getLong(i)
      seen.add(k)
      val v = bm.get(k)
      s += av.getDouble(i) * (if (v == null) 0.0d else v.doubleValue())
      i += 1
    }
    i = 0
    while (i < nb) {
      if (!seen.contains(bk.getLong(i))) s += 0.0d * bv.getDouble(i)
      i += 1
    }
    s / denom
  }
}
