package graft.ml

import graft.Par.ParOps
import graft.functions.Exprs.dsum
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A component extracted by [[Lsa]] or [[Pca]]: the unit iterate `v`
  * (key, v) and — lazily, only once deflation for a LATER component needs
  * it — its eigenvalue λ as a 1-row frame, so the last requested component
  * never pays the extra pass. [[frames]] are the checkpointed frames its
  * [[graft.SessionMemo]] unpersists on eviction. */
private[graft] final class Component(val v: DataFrame, lamPlan: () => DataFrame) {
  private var lamCached: DataFrame = _
  def lam: DataFrame = synchronized {
    if (lamCached == null) lamCached = lamPlan().compacted.localCheckpoint(eager = true)
    lamCached
  }
  def frames: Seq[DataFrame] = synchronized { v +: Option(lamCached).toSeq }
}

private[graft] object Component {

  /** Deflation against the previously extracted components, keyed by the
    * `key` column (`term` for LSA, `pos` for PCA); None for the first
    * component. All of them flow through ONE long frame (comp, key, pv) and
    * one k-row eigenvalue frame (comp, lam), so a round's deflation cost is
    * independent of the component count. The returned function maps the
    * iterate s = (key, v) to (key, d):
    * d = round(Σⱼ round(coefⱼ·pvⱼ, 12), 12), coefⱼ = round(λⱼ·(vⱼ·s), 12). */
  def deflation(prev: Vector[Component], key: String): Option[DataFrame => DataFrame] =
    if (prev.isEmpty) None else {
      val pvs = prev.zipWithIndex
        .map { case (p, j) => p.v.select(lit(j).as("comp"), col(key), col("v").as("pv")) }
        .reduce(_.union(_)).compacted.localCheckpoint(eager = true)
      val lams = prev.zipWithIndex
        .map { case (p, j) => p.lam.select(lit(j).as("comp"), col("lam")) }
        .reduce(_.union(_)).compacted.localCheckpoint(eager = true)
      Some { v =>
        val dots = pvs.join(v.select(col(key), col("v").as("s")), key)
          .groupBy(col("comp"))
          .agg(round(dsum(round(col("pv") * col("s"), 12), 12), 12).as("dot"))
        val coefs = dots.join(lams, "comp")
          .select(col("comp"), round(col("lam") * col("dot"), 12).as("coef"))
        pvs.join(broadcast(coefs), "comp")
          .groupBy(col(key))
          .agg(round(dsum(round(col("coef") * col("pv"), 12), 12), 12).as("d"))
      }
    }
}
