package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus, cpus)
    new java.io.File(outDir).mkdirs()
    // Run query dumps on a small thread pool: Spark's scheduler interleaves
    // the jobs, hiding per-query stage latency (~2× faster wall time).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // Optional subset for local iteration: SPARK_GRAFT_ONLY=q25_pagerank,q49_bm25
    // (unset → all queries, which is what the driver runs).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Any query that throws (even at plan/analysis time) is recorded here and
    // written to outDir/failed.json — a broken query must surface as a loud
    // red artifact, never as a silently absent parquet dir (round-6 lesson:
    // q87's DATATYPE_MISMATCH vanished from the correctness surface).
    val failed = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val rowCounts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val futures = selected.map { case (name, fn) =>
      scala.concurrent.Future {
        // per-query pin scope: operator pins release when THIS query's dump
        // completes, without touching concurrent queries' pinned frames
        // (Caching.pinnedCount stays 0 across the whole loop)
        try Caching.scoped {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          // metadata-only count of the written file: a 0-row result that
          // hash-matches an equally-empty oracle is consistency, not
          // coverage (the q218-draft lesson — its unigram census had no
          // r ≤ 10 rows and the gate stayed green on 0 rows), so empty
          // results are surfaced as their own loud artifact below.
          rowCounts.put(name,
            java.lang.Long.valueOf(spark.read.parquet(s"$outDir/$name").count()))
        }
        catch { case e: Throwable =>
          failed.put(name, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
          System.err.println(s"[verify] FAILED $name: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures), scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // failed.json is always written (empty object when all green) so its
    // absence vs emptiness is never ambiguous to the driver or a human.
    import scala.jdk.CollectionConverters._
    val failedJson = failed.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed.json"), failedJson)
    if (!failed.isEmpty)
      System.err.println(s"[verify] ${failed.size} quer${if (failed.size == 1) "y" else "ies"} FAILED: " +
        failed.keySet.asScala.toSeq.sorted.mkString(", "))
    // empty.json: queries that ran green but returned ZERO rows — always
    // written (empty array when none) so absence vs emptiness is never
    // ambiguous, mirroring failed.json's contract.
    val empty = rowCounts.asScala.collect { case (k, n) if n == 0L => k }.toSeq.sorted
    Files.writeString(Paths.get(s"$outDir/empty.json"),
      empty.map(q).mkString("[", ",", "]"))
    if (empty.nonEmpty)
      System.err.println(s"[verify] ${empty.size} quer${if (empty.size == 1) "y" else "ies"} returned 0 rows: " +
        empty.mkString(", "))
    spark.stop()
  }
}
