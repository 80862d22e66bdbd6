package graft

import graft.functions.Tokens
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Parity of the codegen [[Tokens]] kernel with the four-expression chain it
  * replaced (`TestOracles.tokensChain`), on the interpreted and the generated
  * path: same tokens, same order, same nulls, same result type. */
class TokensSpec extends SparkSpec {

  // non-ASCII rows: CJK, Latin-1 accents, U+212A KELVIN SIGN and U+0130
  // (both lowercase into ASCII; escaped, as look-alikes), a surrogate pair
  // and U+00A0
  private val handInputs: Seq[String] = Seq(
    "Hello World", "ABC def GHI", "A1b2C3 42 007", "foo,bar;baz!qux", "e-mail: a.b@c.de",
    "tabs\tand\nnewlines\r\nmixed", "  leading", "trailing   ", "repeated    separators",
    "...", " ", "\t\n", "", null,
    "東京 tokyo 2024", "中文分词",
    "Café naïve ÉCOLE Ærø", "façade-Über ß",
    "Kelvin 5\u212a", "\u0130stanbul \u0130I", "mixed \u212a and ASCII",
    "emoji \ud83d\ude00 smile", "nbsp\u00a0sep")

  /** Seeded random strings over ASCII letters, digits, punctuation and
    * whitespace, a third of them with non-ASCII code points mixed in. */
  private def sweep(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val ascii = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++ " \t\n\r.,;:!?-_'\"()[]".toSeq
    val wide = Seq("é", "É", "ß", "\u0130", "\u212a", "東", "\u00a0",
      "\ud83d\ude00", "Ω")
    Seq.fill(n) {
      val mixed = rnd.nextInt(3) == 0
      Seq.fill(rnd.nextInt(40)) {
        if (mixed && rnd.nextInt(6) == 0) wide(rnd.nextInt(wide.size))
        else ascii(rnd.nextInt(ascii.size)).toString
      }.mkString
    }
  }

  /** Both tokenizers over an RDD-backed frame (a local Seq would be folded at
    * plan time, bypassing the generated code), under the given codegen
    * settings. Returns the kernel's tokens by row index and its generated
    * source. */
  private def compare(inputs: Seq[String], wholeStage: Boolean, factoryMode: String) = {
    val conf = Seq("spark.sql.codegen.wholeStage" -> wholeStage.toString,
      "spark.sql.codegen.factoryMode" -> factoryMode)
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val rows = spark.sparkContext.parallelize(
        inputs.zipWithIndex.map { case (t, i) => Row(i, t) }, 4)
      val df = spark.createDataFrame(rows,
        StructType(Seq(StructField("i", IntegerType), StructField("t", StringType))))
      // one frame per tokenizer: the chain's lambda `filter` keeps any
      // projection holding it out of whole-stage codegen
      val fast = df.select(col("i"), Tokens(col("t")))
      val chain = df.select(col("i"), TestOracles.tokensChain(col("t")))
      assert(fast.schema(1).dataType == chain.schema(1).dataType)
      def run(f: org.apache.spark.sql.DataFrame) =
        f.collect().map(r => r.getInt(0) -> Option(r.getSeq[String](1))).toMap
      val (got, want) = (run(fast), run(chain))
      assert(got.size == inputs.size && want.size == inputs.size)
      got.foreach { case (i, toks) =>
        assert(toks == want(i), s"input ${inputs(i)}: kernel $toks, chain ${want(i)}")
      }
      (got, codegenString(fast.queryExecution.executedPlan))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("generated path matches the chain on hand-picked inputs and a random sweep") {
    val (fast, code) = compare(handInputs ++ sweep(3000, seed = 11),
      wholeStage = true, factoryMode = "CODEGEN_ONLY")
    assert(code.contains("graft.functions.Tokens.compute"), code.take(2000))
    def tokensOf(t: String) = fast(handInputs.indexOf(t))
    assert(tokensOf("Hello World") == Some(Seq("hello", "world")))
    assert(tokensOf("tabs\tand\nnewlines\r\nmixed") == Some(Seq("tabs", "and", "newlines", "mixed")))
    assert(tokensOf("...") == Some(Seq.empty))
    assert(tokensOf("") == Some(Seq.empty))
    assert(tokensOf(null).isEmpty)
    // Unicode lower maps KELVIN SIGN into ASCII: the fallback keeps that
    assert(tokensOf("Kelvin 5\u212a") == Some(Seq("kelvin", "5k")))
  }

  test("interpreted path matches the chain on hand-picked inputs and a random sweep") {
    val (_, code) = compare(handInputs ++ sweep(3000, seed = 12),
      wholeStage = false, factoryMode = "NO_CODEGEN")
    assert(!code.contains("graft.functions.Tokens.compute"))
  }

  test("non-ASCII fallback is safe under concurrent tasks") {
    // every row takes the fallback; four partitions on the 4-core session
    // evaluate it on four task threads at once
    compare(sweep(4000, seed = 13).map(_ + " \u212a\u0130"),
      wholeStage = true, factoryMode = "CODEGEN_ONLY")
  }
}
