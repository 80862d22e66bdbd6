package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash band-signature computation over a shingle array.
  *
  * Semantics are bit-identical to the HOF formulation
  * (the test-scope `TestOracles.minhashBandSigsHof`) and therefore to the
  * grouped crossJoin+groupBy pipeline ([[graft.operators.Dedup
  * .minhashSignatures]]) — the three-way parity is asserted in
  * StreamingDedupSpec/PropertySpec. The HOF tree pays Catalyst's
  * interpreted-lambda cost per (shingle × seed) across numHashes separate
  * `transform` evaluations, each re-walking the array; this expression makes
  * ONE pass over the shingles, updating all numHashes minima in a primitive
  * long array, with one interpreted call per ROW (CodegenFallback) — the
  * same preference-order step that took q61's segmentation from ~100 s to
  * seconds (`GreedySegment`).
  *
  * Hashes: `portable = true` → md5-derived h60 (first 60 bits of
  * md5("seed:shingle"), exactly `conv(substring(md5(x),1,15),16,10)`, so a
  * SQL oracle replays it); `false` → Spark's xxhash64(shingle, seed) (seed
  * 42 chain, the two-arg SQL form). Band signature: per-band "seed:mh"
  * entries sorted lexicographically and comma-joined (ASCII-only, so JVM
  * string order ≡ UTF8 binary order ≡ `array_sort`); non-portable mode
  * additionally xxhash64-compresses the joined string, mirroring the
  * grouped pipeline. Empty shingle array → empty result (dropped by the
  * caller's explode, as the grouped form drops sub-n-token docs).
  */
case class MinHashBandSigs(child: Expression, numHashes: Int, bands: Int,
                           portable: Boolean)
    extends UnaryExpression with CodegenFallback {

  require(bands >= 1 && numHashes % bands == 0,
    s"numHashes=$numHashes must be a positive multiple of bands=$bands")

  // analysis-time input validation: without this, a non-string array reaches
  // nullSafeEval and dies at executor runtime with ClassCastException
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> input, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("band", LongType, nullable = false),
      StructField("band_sig", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_minhash_bands"

  @transient private lazy val md5 = java.security.MessageDigest.getInstance("MD5")
  // "seed:" prefixes precomputed once per operator instance, not per row
  @transient private lazy val seedPrefixes: Array[Array[Byte]] =
    Array.tabulate(numHashes)(s => s"$s:".getBytes("UTF-8"))

  /** First 15 hex chars of the digest as an unsigned 60-bit long — the exact
    * value of conv(substring(md5hex, 1, 15), 16, 10): 7 full bytes plus the
    * high nibble of byte 7 (hex string is big-endian byte order). */
  private def h60(digest: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    (v << 4) | ((digest(7) & 0xffL) >>> 4)
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val sh = arr.getUTF8String(i)
      if (portable) {
        val shBytes = sh.getBytes
        var seed = 0
        while (seed < numHashes) {
          val prefix = seedPrefixes(seed)
          md5.reset()
          md5.update(prefix)
          md5.update(shBytes)
          val v = h60(md5.digest())
          if (v < mins(seed)) mins(seed) = v
          seed += 1
        }
      } else {
        // xxhash64(shingle, seed): seed-42 chain over both args, the two-arg
        // SQL form the grouped pipeline uses
        val h1 = XxHash64Function.hash(sh, StringType, 42L)
        var seed = 0
        while (seed < numHashes) {
          val v = XxHash64Function.hash(seed.toLong, LongType, h1)
          if (v < mins(seed)) mins(seed) = v
          seed += 1
        }
      }
      i += 1
    }
    val rowsPerBand = numHashes / bands
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      val entries = Array.tabulate(rowsPerBand)(j => {
        val seed = b * rowsPerBand + j
        s"$seed:${mins(seed)}"
      })
      java.util.Arrays.sort(entries, java.util.Comparator.naturalOrder[String]())
      val joined = entries.mkString(",")
      val sig = if (portable) joined
        else XxHash64Function.hash(UTF8String.fromString(joined), StringType, 42L).toString
      out(b) = InternalRow(b.toLong, UTF8String.fromString(sig))
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): MinHashBandSigs =
    copy(child = c)
}

object MinHashBandSigs {
  /** Column-API surface over an already-computed shingle-array column. */
  def apply(shingles: Column, numHashes: Int, bands: Int, portable: Boolean): Column =
    ColumnBridge.column(
      MinHashBandSigs(ColumnBridge.expression(shingles), numHashes, bands, portable))
}
