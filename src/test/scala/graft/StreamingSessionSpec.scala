package graft

import graft.streaming.StreamingWindows
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSessionSpec extends SparkSpec {
  import spark.implicits._

  test("streaming session windows split exactly like the batch sessionizer") {
    implicit val ctx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val gapSec = 60L
    // key a: 30 s gap (merge), then 90 s gap (> 60 -> split)
    // key b: EXACTLY 60 s gap — batch merges (diff <= gap); session_window
    // merges an equal gap too, so the twin takes gap = gapSec unchanged
    // key c: gapSec + 1 = 61 s gap — batch splits; the stream must split too
    // (a gapSec + 1 window would merge it)
    val events = Seq(
      ("a", t("2024-01-01 10:00:00")), ("a", t("2024-01-01 10:00:30")),
      ("a", t("2024-01-01 10:02:00")),
      ("b", t("2024-01-01 10:00:00")), ("b", t("2024-01-01 10:01:00")),
      ("c", t("2024-01-01 10:00:00")), ("c", t("2024-01-01 10:01:01")))

    val batch = graft.operators.Sessions.sessionize(
        events.toDF("key", "ts").select($"key", unix_timestamp($"ts").as("sec")), gapSec)
      .select($"key", $"session_start", $"duration_sec", $"n_events")
      .as[(String, Long, Long, Long)].collect().toSet

    val ms = MemoryStream[(String, Timestamp)]
    val q = StreamingWindows.sessionCounts(
        ms.toDF().toDF("key", "ts"), "key", s"$gapSec seconds")
      .writeStream.format("memory").queryName("ssess").outputMode("append").start()
    try {
      // sessions must merge across micro-batch boundaries: second wave holds
      // the continuation events of both keys
      ms.addData(events.take(2): _*)
      q.processAllAvailable()
      ms.addData(events.drop(2): _*)
      q.processAllAvailable()
      // flush: move the watermark past every session close
      ms.addData(("zz", t("2024-01-01 13:00:00")))
      q.processAllAvailable()
      val streamed = spark.table("ssess").filter($"key" =!= "zz")
        .select($"key", unix_timestamp($"session_start").as("session_start"),
          (unix_timestamp($"session_end") - unix_timestamp($"session_start") -
            gapSec).as("duration_sec"), $"n_events")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(streamed == batch && streamed.size == 5)
    } finally q.stop()
  }
}
