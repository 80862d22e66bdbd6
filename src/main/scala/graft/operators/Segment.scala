package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/** Dictionary-driven segmentation of *unsegmented* text (SURVEY.md §2.2 P11).
  *
  * The reference workload (PDF2 "金庸的江湖" pp. 6-7) tokenizes Chinese novels
  * — text with no word delimiters — by matching against a character-name
  * dictionary (Ansj-style). A whitespace tokenizer produces nothing on such
  * input, so this operator implements greedy longest-match (MaxMatch)
  * segmentation: scan left to right, at each position take the longest
  * dictionary word that matches, else advance one character.
  *
  * Spark-first shape: the dictionary is a plan-time literal array sorted by
  * (length desc, word asc) — the first filter survivor IS the longest match —
  * and the scan is one `aggregate` higher-order fold with a (pos, out) struct
  * accumulator, fully inside codegen; no UDF, no driver loop. Per-row cost is
  * O(len · |dict|): right for name-dictionary sizes (the reference's use
  * case). Past `bigDictThreshold` entries [[segment]] switches to
  * [[segmentBigDict]]: a prefix-trie automaton built once per partition via
  * `mapPartitions`, O(len · maxWordLen) per row independent of |dict|.
  *
  * Output: one (doc_id, name) row per matched occurrence, in scan order —
  * the same token-stream shape as [[TextPipeline.tokenize]], so the
  * co-occurrence → PageRank/LPA chain (A11-A12, G1-G2) consumes it directly.
  */
object Segment {

  /** Normalized unsegmented stream: lowercase, every non-letter/non-number
    * removed (not replaced by spaces — the point is there are no separators).
    * Unicode classes, not [a-z0-9]: the reference workload's input is Chinese
    * novel text (PDF2 pp. 2, 6-7), and an ASCII-only normalizer would silently
    * delete every CJK character — segment() would return zero rows on exactly
    * the corpus this operator exists for. \p{L}\p{N} keeps all scripts.
    * (Positions are UTF-16 code units in the native scan — identical to code
    * points for BMP text; supplementary-plane chars can't match a BMP
    * dictionary and are skipped harmlessly.) */
  def despace(text: Column): Column =
    regexp_replace(lower(text), "[^\\p{L}\\p{N}]", "")

  /** Greedy longest-match segmentation of `textCol` against `dict`, via the
    * native [[graft.functions.GreedySegment]] expression (tight JVM scan, one
    * interpreted call per row — ~50× the HOF formulation's throughput).
    * The test-scope `TestOracles.segmentHof` is the pure-Catalyst twin kept
    * as a cross-check oracle.
    *
    * Dictionaries beyond `bigDictThreshold` distinct words switch to the
    * [[segmentBigDict]] trie-automaton path: the native expression's scan is
    * O(len · |dict|) (it probes every word at every position), which is the
    * right constant-factor trade for name-dictionary sizes but quadratic
    * pain at 100k entries, where the trie's O(len · maxWordLen) wins. Same
    * MaxMatch semantics either way (SegmentSpec parity-tests the two paths
    * on a 10k-entry dictionary). */
  def segment(docs: DataFrame, dict: Seq[String], textCol: String = "text",
              keep: Seq[String] = Seq("doc_id"),
              bigDictThreshold: Int = 4096): DataFrame =
    if (dict.distinct.size > bigDictThreshold) segmentBigDict(docs, dict, textCol, keep)
    else docs.select(keep.map(col) :+
      explode(graft.functions.GreedySegment(despace(col(textCol)), dict)).as("name"): _*)

  /** Prefix-trie automaton for greedy MaxMatch: at each cursor, descend while
    * children match and remember the deepest terminal — the longest
    * dictionary word at that position, found in O(maxWordLen) regardless of
    * dictionary size. (Full Aho-Corasick failure links are unnecessary here:
    * MaxMatch restarts the automaton after every match/advance rather than
    * continuing mid-stream, so the plain trie IS the whole automaton.) */
  private final class Trie extends Serializable {
    private val root = new java.util.HashMap[Char, AnyRef]()
    // each node is a HashMap[Char, AnyRef] plus a terminal flag stored under
    // the sentinel key '\u0000' (dictionary words never contain it: despace
    // strips every non-letter/number, and builders reject empty words)
    def add(w: String): Unit = {
      var node = root
      var i = 0
      while (i < w.length) {
        var next = node.get(w.charAt(i)).asInstanceOf[java.util.HashMap[Char, AnyRef]]
        if (next == null) {
          next = new java.util.HashMap[Char, AnyRef]()
          node.put(w.charAt(i), next)
        }
        node = next
        i += 1
      }
      node.put('\u0000', java.lang.Boolean.TRUE)
    }
    /** Exclusive end index of the longest dictionary word starting at `i`,
      * or -1 if none matches. */
    def longestMatchEnd(s: String, i: Int): Int = {
      var node = root
      var j = i
      var best = -1
      while (j < s.length) {
        val next = node.get(s.charAt(j)).asInstanceOf[java.util.HashMap[Char, AnyRef]]
        if (next == null) return best
        node = next
        j += 1
        if (node.containsKey('\u0000')) best = j
      }
      best
    }
  }

  /** The large-dictionary path behind the [[segment]] contract: the
    * dictionary ships once per executor as a broadcast word array, each
    * partition builds the [[Trie]] once, and rows stream through a tight JVM
    * MaxMatch scan — `mapPartitions` as the declared escape hatch for the one
    * shape Catalyst can't express (per-partition automaton construction).
    * Per-row cost O(len · maxWordLen): independent of |dict|, so a 100k-entry
    * gazetteer costs the same scan as a 5-name one. */
  def segmentBigDict(docs: DataFrame, dict: Seq[String], textCol: String = "text",
                     keep: Seq[String] = Seq("doc_id")): DataFrame =
    bigDictTokens(docs, dict, textCol, keep)
      .select(keep.map(col) :+ explode(col("names")).as("name"): _*)

  /** [[segmentBigDict]] before the explode: (keep…, names array<string>) —
    * exposed for order-sensitive parity testing against the native path. */
  private[graft] def bigDictTokens(docs: DataFrame, dict: Seq[String],
                                   textCol: String, keep: Seq[String]): DataFrame = {
    require(dict.nonEmpty && dict.forall(_.nonEmpty), "dictionary words must be non-empty")
    // dictionary words pass through the same despace normalization as the
    // text (lowercase, strip non-letter/number): a word containing a space
    // or punctuation can never match despaced text anyway, and its raw form
    // would collide with the trie's ' ' terminal sentinel (shadowing — or
    // crashing on — a longer sibling, depending on insertion order). Words
    // that normalize to empty are unmatchable and dropped.
    val normed = dict.iterator
      .map(_.toLowerCase(java.util.Locale.ROOT).replaceAll("[^\\p{L}\\p{N}]", ""))
      .filter(_.nonEmpty).toArray.distinct
    require(normed.nonEmpty, "dictionary is empty after despace normalization")
    val spark = docs.sparkSession
    val words = spark.sparkContext.broadcast(normed)
    val pre = docs.select(keep.map(col) :+ despace(col(textCol)).as("__norm"): _*)
    val nKeep = keep.size
    val schema = StructType(pre.schema.fields.take(nKeep) :+
      StructField("names", ArrayType(StringType, containsNull = false), nullable = false))
    val rows = pre.rdd.mapPartitions { it =>
      val trie = new Trie
      words.value.foreach(trie.add)
      it.map { row =>
        val s = row.getString(nKeep)
        val out = Seq.newBuilder[String]
        if (s != null) {
          var i = 0
          while (i < s.length) {
            val end = trie.longestMatchEnd(s, i)
            if (end > i) { out += s.substring(i, end); i = end } else i += 1
          }
        }
        Row.fromSeq(row.toSeq.take(nKeep) :+ out.result())
      }
    }
    spark.createDataFrame(rows, schema)
  }
}
