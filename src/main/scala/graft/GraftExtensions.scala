package graft

import graft.functions.{ArrayFold, BpeEncode, GreedySegment, MinHashBandSigs, SimHashBits, SpaceSavingTopK}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SparkSessionExtensions entry point: registers graft's custom Catalyst
  * expressions as SQL functions, so `spark.sql("... graft_dot(a, b) ...")`
  * works next to the Column API.
  *
  * Activate with:
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * or at runtime via [[GraftExtensions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dotFunction)
    ext.injectFunction(GraftExtensions.segmentFunction)
    ext.injectFunction(GraftExtensions.minhashFunction)
    ext.injectFunction(GraftExtensions.simhashFunction)
    ext.injectFunction(GraftExtensions.bpeFunction)
    ext.injectFunction(GraftExtensions.topkFreqFunction)
    ext.injectOptimizerRule(_ => graft.plans.LargeNotInListToAntiJoin)
  }
}

object GraftExtensions {
  private val dotFunction = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[ArrayFold].getName, "graft_dot"),
    (children: Seq[Expression]) => ArrayFold(children(0), children(1), ArrayFold.Dot))

  /** SQL surface for dictionary segmentation:
    * `graft_segment(text, array('w1', 'w2', …))`. The dictionary argument
    * must fold to a string-array constant — it parameterizes the compiled
    * scan, it is not per-row data. */
  private val segmentFunction = (
    FunctionIdentifier("graft_segment"),
    new ExpressionInfo(classOf[GreedySegment].getName, "graft_segment"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_segment(text, dict_array)")
      val dict = children(1) match {
        case e if e.foldable && (e.dataType == ArrayType(StringType, false) ||
                  e.dataType == ArrayType(StringType, true)) =>
          e.eval() match {
            case a: ArrayData =>
              val words = a.toArray[UTF8String](StringType).toSeq
              require(words.forall(_ != null),
                "graft_segment dictionary must not contain NULL entries")
              words.map(_.toString)
            case other => throw new IllegalArgumentException(
              s"graft_segment dictionary must be an array literal, got $other")
          }
        case other => throw new IllegalArgumentException(
          s"graft_segment dictionary must be a foldable string array, got $other")
      }
      GreedySegment(children(0), dict)
    })

  /** SQL surface for minhash signing:
    * `graft_minhash_bands(shingle_array, numHashes, bands, portable)` —
    * scalar parameters must fold to constants (they size the signing loop). */
  private val minhashFunction = (
    FunctionIdentifier("graft_minhash_bands"),
    new ExpressionInfo(classOf[MinHashBandSigs].getName, "graft_minhash_bands"),
    (children: Seq[Expression]) => {
      require(children.length == 4,
        "graft_minhash_bands(shingles, num_hashes, bands, portable)")
      def constInt(e: Expression, what: String): Int = {
        require(e.foldable, s"graft_minhash_bands $what must be a constant")
        e.eval() match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"graft_minhash_bands $what must be integral, got $other")
        }
      }
      MinHashBandSigs(children(0), constInt(children(1), "num_hashes"),
        constInt(children(2), "bands"), constBool(children(3), "graft_minhash_bands"))
    })

  /** `portable` flips the hash family (md5-h60 vs xxhash64); a NULL or
    * non-boolean constant silently coercing to false would silently flip
    * results, so reject it at build time. */
  private def constBool(e: Expression, fn: String): Boolean = {
    require(e.foldable, s"$fn portable must be a constant")
    e.eval() match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(
        s"$fn portable must be a non-null boolean constant, got $other")
    }
  }

  /** SQL surface for per-row SimHash: `graft_simhash(token_array, portable)`. */
  private val simhashFunction = (
    FunctionIdentifier("graft_simhash"),
    new ExpressionInfo(classOf[SimHashBits].getName, "graft_simhash"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_simhash(tokens, portable)")
      SimHashBits(children(0), constBool(children(1), "graft_simhash"))
    })

  /** SQL surface for BPE encoding:
    * `graft_bpe_encode(tokens, array('l r', …))` — the merge table is a
    * foldable string-array literal, one `'left right'` entry per merge in
    * rank order (symbols are whitespace-free by construction: they come
    * from whitespace-split tokens, so the space separator is unambiguous).
    * It parameterizes the compiled scan, like graft_segment's dictionary. */
  private val bpeFunction = (
    FunctionIdentifier("graft_bpe_encode"),
    new ExpressionInfo(classOf[BpeEncode].getName, "graft_bpe_encode"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_bpe_encode(tokens, merges)")
      val merges = children(1) match {
        case e if e.foldable && (e.dataType == ArrayType(StringType, false) ||
                  e.dataType == ArrayType(StringType, true)) =>
          e.eval() match {
            case a: ArrayData =>
              a.toArray[UTF8String](StringType).toSeq.map { u =>
                require(u != null, "graft_bpe_encode merges must not contain NULL")
                val s = u.toString
                val sp = s.indexOf(' ')
                require(sp > 0 && sp < s.length - 1 && s.indexOf(' ', sp + 1) < 0,
                  s"graft_bpe_encode merge entry must be 'left right', got '$s'")
                (s.substring(0, sp), s.substring(sp + 1))
              }
            case other => throw new IllegalArgumentException(
              s"graft_bpe_encode merges must be an array literal, got $other")
          }
        case other => throw new IllegalArgumentException(
          s"graft_bpe_encode merges must be a foldable string array, got $other")
      }
      BpeEncode(children(0), merges)
    })

  /** SQL surface for the space-saving heavy-hitters aggregate:
    * `graft_topk_freq(item, capacity, k)` — capacity/k size the sketch
    * buffer, so they must fold to integral constants. */
  private val topkFreqFunction = (
    FunctionIdentifier("graft_topk_freq"),
    new ExpressionInfo(classOf[SpaceSavingTopK].getName, "graft_topk_freq"),
    (children: Seq[Expression]) => {
      require(children.length == 3, "graft_topk_freq(item, capacity, k)")
      def constInt(e: Expression, what: String): Int = {
        require(e.foldable, s"graft_topk_freq $what must be a constant")
        e.eval() match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"graft_topk_freq $what must be integral, got $other")
        }
      }
      // return the raw AggregateFunction — the analyzer wraps it in an
      // AggregateExpression itself (and owns DISTINCT/FILTER clauses)
      SpaceSavingTopK(children(0), constInt(children(1), "capacity"),
        constInt(children(2), "k"))
    })

  /** Runtime registration on an existing session (tests, spark-shell). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      dotFunction._1, dotFunction._2, dotFunction._3)
    spark.sessionState.functionRegistry.registerFunction(
      segmentFunction._1, segmentFunction._2, segmentFunction._3)
    spark.sessionState.functionRegistry.registerFunction(
      minhashFunction._1, minhashFunction._2, minhashFunction._3)
    spark.sessionState.functionRegistry.registerFunction(
      simhashFunction._1, simhashFunction._2, simhashFunction._3)
    spark.sessionState.functionRegistry.registerFunction(
      bpeFunction._1, bpeFunction._2, bpeFunction._3)
    spark.sessionState.functionRegistry.registerFunction(
      topkFreqFunction._1, topkFreqFunction._2, topkFreqFunction._3)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.LargeNotInListToAntiJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.LargeNotInListToAntiJoin
  }

  /** Register every engine table of a data dir as a temp view, giving the
    * full `spark.sql(...)` surface over the same data the Column-API
    * queries read. */
  def registerViews(spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    graft.sources.Tables.names.foreach { t =>
      graft.sources.Tables(spark, dir, t).createOrReplaceTempView(t)
    }
}
