package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Column-expression helpers shared across the engine.
  *
  * Everything here stays inside Catalyst (built-in functions, higher-order
  * functions and graft's codegen kernels, no Scala UDFs), so plans remain
  * codegen-friendly and the same expression works identically in batch and
  * Structured Streaming.
  */
object Exprs {

  /** Order-independent floating-point sum: route the double through an exact
    * DECIMAL accumulator so the result does not depend on partial-aggregation
    * order. This is what makes double aggregates hash-comparable against an
    * external oracle (and run-to-run deterministic at any partition count).
    */
  def dsum(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(30, scale))).cast(DoubleType)

  /** Deterministic mean built from [[dsum]] / count (both sides exact). */
  def davg(c: Column, scale: Int = 6): Column =
    dsum(c, scale) / count(lit(1)).cast(DoubleType)

  /** Sequential left-fold dot product over two double-array columns — the
    * codegen [[ArrayFold]] `Dot` kernel (same fold order as the HOF
    * formulation and DuckDB's list_dot_product, so results stay bit-equal;
    * ~10× faster in the kNN/ANN kernels). */
  def dot(a: Column, b: Column): Column = ArrayFold(a, b, ArrayFold.Dot)

  /** [[dot]] over two long-array columns — the [[ArrayFold]] `DotLong`
    * kernel, exact 64-bit arithmetic (the sign-LSH bucket kernel). */
  def dotLong(a: Column, b: Column): Column = ArrayFold(a, b, ArrayFold.DotLong)

  /** Sequential left-fold squared L2 distance over two double-array columns —
    * the codegen [[ArrayFold]] `SqDist` kernel (same fold order as the HOF
    * formulation the L2 kernels previously inlined, so results stay
    * bit-equal; removes the interpreted-lambda tax from the k-means / PQ /
    * brute-L2 hot paths). */
  def sqdist(a: Column, b: Column): Column = ArrayFold(a, b, ArrayFold.SqDist)

  /** Cosine similarity between two double-array columns (0.0 for zero vectors —
    * the reference emits a guard value for those, KNNMapper.java:139-143). */
  def cosine(a: Column, b: Column): Column = {
    val denom = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(denom === 0.0d, lit(0.0d)).otherwise(dot(a, b) / denom)
  }

  /** Euclidean norm of a double-array column — [[cosine]]'s denominator
    * factor, exposed so pairwise kernels can precompute it per ROW instead
    * of per PAIR (sqrt(dot(v,v)) is the exact expression [[cosine]] inlines,
    * so the precomputed value is the identical IEEE double). */
  def vnorm(v: Column): Column = sqrt(dot(v, v))

  /** [[cosine]] with the norms supplied by the caller: `na`/`nb` MUST be
    * [[vnorm]] of the respective vectors. In an n×m pair kernel this turns
    * 3 dot products per pair into 1 (norms are computed n+m times instead of
    * 2·n·m) while producing bit-identical similarities — the zero-vector
    * guard, the multiply and the divide are the same operations on the same
    * doubles as [[cosine]]'s. */
  def cosinePre(dotAB: Column, na: Column, nb: Column): Column = {
    val denom = na * nb
    when(denom === 0.0d, lit(0.0d)).otherwise(dotAB / denom)
  }

  /** Reference tokenizer (TF_IDF_Compute.java:79-99 semantics): lowercase,
    * non-alphanumerics to spaces, split on runs of spaces, drop empties —
    * the codegen [[Tokens]] expression (one byte loop per ASCII row, the
    * exact built-in composition for any other row; TokensSpec pins parity
    * with the former `filter(split(regexp_replace(lower(..))))` chain). */
  def tokens(text: Column): Column = Tokens(text)

  /** Token n-gram shingles of an array column (space-joined), for near-dup
    * detection; empty array when the doc has fewer than n tokens. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Sparse cosine over two MapType(idx → weight) columns — the reference's
    * kNN kernel shape (KNNMapper.java:118-143 iterates a HashMap<Int,Double>).
    * Dot is over the key intersection; norms over each map's own values.
    * Compiled as the codegen [[MapCosine]] expression (bit-equal to the HOF
    * form it replaced, kept as a test-scope oracle — MapCosineSpec pins
    * parity). */
  def mapCosine(a: Column, b: Column): Column = MapCosine(a, b)

  /** Portable 60-bit hash: the first 15 hex chars of md5 as a non-negative
    * long. The hash-based operators (MinHash, SimHash, sign-LSH) take this as
    * their *verification-mode* hash because an external engine can compute the
    * identical value — DuckDB: `CAST('0x' || substr(md5(x),1,15) AS BIGINT)` —
    * which turns "engine-specific hash, no oracle" into a full cross-engine
    * hash-match. Their production default stays xxhash64 (≈4× faster). */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Epoch seconds of a timestamp truncated to the given unit — the portable
    * way to ship time buckets across engines (no tz/precision ambiguity). */
  def epochTrunc(unit: String, ts: Column): Column =
    unix_timestamp(date_trunc(unit, ts)).cast(LongType)

  /** Morton/Z-order interleave of two `bits`-bit non-negative ints: bit k
    * of x lands at position 2k, bit k of y at 2k+1. Sorting or bucketing
    * by the z-key clusters rows that are close in BOTH dimensions — the
    * data-layout technique (Delta/Iceberg OPTIMIZE ZORDER) that turns
    * two-dimensional predicates into file skips at 100 TB. A z-prefix
    * cell (zkey >> 2s) fixes the top bits of both coordinates, so every
    * cell is an axis-aligned 2^s × 2^s tile — the quadtree bound the spec
    * asserts. Pure integer bit terms summed — exact, portable. */
  def zorder(x: Column, y: Column, bits: Int): Column =
    (0 until bits).map { k =>
      shiftleft(shiftright(x, k).bitwiseAND(lit(1L)), 2 * k) +
        shiftleft(shiftright(y, k).bitwiseAND(lit(1L)), 2 * k + 1)
    }.reduce(_ + _)
}
