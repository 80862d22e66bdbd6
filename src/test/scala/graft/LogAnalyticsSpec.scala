package graft

import graft.logs.LogAnalytics
import graft.sources.LogSource
import org.apache.spark.sql.functions._

class LogAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private val f5Line =
    """172.22.49.26 [16/Sep/2015:00:22:23 +0800] "GET /tour/category/query HTTP/1.1" GET 200 156 2"""

  test("log line parses into the typed F5 schema") {
    val r = LogSource.parse(Seq(f5Line).toDF("line")).collect().head
    assert(r.getAs[String]("ip") == "172.22.49.26")
    assert(r.getAs[String]("method") == "GET")
    assert(r.getAs[String]("url") == "/tour/category/query")
    assert(r.getAs[Int]("status") == 200)
    assert(r.getAs[Long]("bytes") == 156L)
    assert(r.getAs[Long]("response_ms") == 2L)
    // +0800 → UTC
    assert(r.getAs[java.sql.Timestamp]("ts").toInstant.toString == "2015-09-15T16:22:23Z")
  }

  test("observe metrics count malformed records during the existing job") {
    val raw = Seq(f5Line, "garbage", f5Line).toDF("line")
    val (df, obs) = graft.operators.Monitoring.observedParse(LogSource.parse(raw))
    assert(df.count() == 3L)
    val m = obs.get
    assert(m("rows") == 3L && m("null_ts") == 1L && m("null_status") == 1L)
  }

  test("malformed lines are dropped by the valid-record filter") {
    val lines = Seq(f5Line, "garbage line", "")
    val tmp = java.nio.file.Files.createTempDirectory("logs").toFile
    java.nio.file.Files.write(new java.io.File(tmp, "a.log").toPath,
      lines.mkString("\n").getBytes)
    assert(LogSource.parsed(spark, tmp.getAbsolutePath).count() == 1L)
  }

  private def mkLogs = {
    // 2 urls × 3 days × 2 hours, deterministic counts
    val rows = for {
      day <- 1 to 3
      hr <- Seq(10, 11)
      url <- Seq("/a", "/b")
      i <- 1 to (if (url == "/a") day else 2) // /a: counts 1,2,3 per day; /b: always 2
    } yield s"""1.2.3.$i [0$day/Jan/2020:$hr:00:0$i +0000] "GET $url HTTP/1.1" GET 200 10 $i"""
    LogSource.parse(rows.toDF("line"))
  }

  test("totals and hourly windowed counts") {
    val hourly = LogAnalytics.hourlyCounts(mkLogs, "url")
    assert(hourly.count() == 12L) // 3 days × 2 hours × 2 urls
    val t = hourly.groupBy($"url").agg(sum($"cnt")).as[(String, Long)].collect().toMap
    assert(t == Map("/a" -> 12L, "/b" -> 12L)) // /a: (1+2+3)*2hrs, /b: 2*2*3
  }

  test("per-URL hourly average response time") {
    val avg = LogAnalytics.hourlyAvg(mkLogs, "url", "response_ms")
      .filter($"url" === "/b").select($"avg_response_ms").as[Double].collect()
    assert(avg.forall(_ == 1.5)) // responses 1,2 per window
  }

  test("mean-model forecast RMSE: hand-computed") {
    // train days 1-2 for /a: counts 1,2 → pred 1.5; day 3 actual 3 → diff 1.5
    val rmse = LogAnalytics.forecastRmse(mkLogs, "url", "2020-01-03")
      .select($"url", $"rmse").as[(String, Double)].collect().toMap
    assert(rmse("/a") == 1.5) // sqrt(mean(1.5², 1.5²))
    assert(rmse("/b") == 0.0) // constant traffic forecast exactly
  }
}
