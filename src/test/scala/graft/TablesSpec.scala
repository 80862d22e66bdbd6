package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import graft.sources.Tables
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** `Tables` infers a table's schema once per session and reuses it while the
  * bytes under the path are unchanged. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(): String = Files.createTempDirectory("tables-spec").toString

  /** A one-file table at `$dir/$name.parquet`, the driver-generated layout:
    * the single part file of a coalesced write, moved into place. */
  private def writeFile(df: org.apache.spark.sql.DataFrame, dir: String, name: String): Unit = {
    val tmp = s"$dir/.tmp-$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Path.of(tmp)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, Path.of(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second read of an unchanged table schedules no job, file or directory") {
    val d = newDir()
    writeFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), d, "file")
    Seq((1L, 2.0)).toDF("k", "x").write.parquet(s"$d/dir.parquet")
    for (name <- Seq("file", "dir")) {
      val first = Tables(spark, d, name)
      val jobs = PlanProbes.countJobs(spark) { Tables(spark, d, name) }
      assert(jobs == 0, s"$name: second read scheduled $jobs jobs")
      val again = Tables(spark, d, name)
      assert(again.schema == first.schema)
      assert(again.collect().toSeq == first.collect().toSeq)
    }
  }

  test("a table rewritten at the same path is inferred again") {
    val d = newDir()
    writeFile(Seq((1L, "a")).toDF("k", "v"), d, "file")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$d/dir.parquet")
    assert(Tables(spark, d, "file").columns.toSeq == Seq("k", "v"))
    assert(Tables(spark, d, "dir").columns.toSeq == Seq("k", "v"))
    writeFile(Seq((7L, 1.5, true)).toDF("k", "x", "flag"), d, "file")
    Seq((7L, 1.5)).toDF("k", "x").write.mode("overwrite").parquet(s"$d/dir.parquet")
    assert(Tables(spark, d, "file").as[(Long, Double, Boolean)].collect().toSeq ==
      Seq((7L, 1.5, true)))
    assert(Tables(spark, d, "dir").as[(Long, Double)].collect().toSeq == Seq((7L, 1.5)))
  }

  test("events' NTZ timestamps still read as TIMESTAMP, on the first and later reads") {
    val d = newDir()
    val ts = java.time.LocalDateTime.of(2024, 3, 1, 12, 30, 15)
    Seq((1L, ts)).toDF("event_id", "ts").write.parquet(s"$d/events.parquet")
    assert(spark.read.parquet(s"$d/events.parquet").schema("ts").dataType == TimestampNTZType)
    val reads = Seq.fill(2)(Tables(spark, d, "events"))
    reads.foreach { df =>
      assert(df.schema("ts").dataType == TimestampType)
      assert(df.selectExpr("unix_micros(ts)").head().getLong(0) ==
        ts.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L)
    }
  }

  test("four concurrent readers see the right schema and rows") {
    val d = newDir()
    (0 until 3).foreach { i =>
      Seq.tabulate(10 + i)(j => (j.toLong, s"r$i")).toDF("k", s"c$i").write.parquet(s"$d/t$i.parquet")
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = (0 until 4).map { w =>
        pool.submit(new java.util.concurrent.Callable[Seq[(Int, Seq[String], Long)]] {
          def call(): Seq[(Int, Seq[String], Long)] = (0 until 12).map { r =>
            val i = (w + r) % 3
            val df = Tables(spark, d, s"t$i")
            (i, df.columns.toSeq, df.count())
          }
        })
      }
      tasks.flatMap(_.get()).foreach { case (i, cols, n) =>
        assert(cols == Seq("k", s"c$i"))
        assert(n == 10 + i)
      }
    } finally pool.shutdown()
  }
}
