package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.StreamingWindows
import org.apache.spark.api.java.function.VoidFunction2
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

/** The stream workload: the Structured Streaming twins of q12 (hourly
  * counts), q13 (per-second counts) and q47 (sessions) run as three
  * concurrent queries over one directory of time-ordered parquet files.
  *
  * The twins start once over an empty directory and run back to back. The
  * untimed warm-up moves the warm-up files in, one drain's worth at a time,
  * and waits each time until every twin has consumed them. Then each drain
  * moves a fixed backlog of replay files in at once and lasts until every
  * twin has consumed it, including the eviction batch the moved watermark
  * triggers; drains follow one another until `--seconds` have passed. A
  * file's lag is its move to the commit of the batch that consumed it, per
  * twin.
  *
  * The sink collects each emitted batch in this JVM. In append mode a twin
  * has emitted exactly the windows (sessions) that end at or before the
  * watermark of its last batch; the gate compares them with a batch
  * recomputation over the replayed files, cut at that watermark. */
object StreamRun {

  val Twins = Seq("hourly", "per_second", "sessions")

  /** Every batch's progress, tagged with the phase it ran in. */
  final class Progress extends StreamingQueryListener {
    @volatile var phase = "warmup"
    private val events = mutable.ArrayBuffer.empty[(String, StreamingQueryProgress)]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { events += phase -> e.progress }
    def all: Seq[(String, StreamingQueryProgress)] = synchronized(events.toSeq)
    def in(p: String => Boolean): Seq[StreamingQueryProgress] = all.filter(e => p(e._1)).map(_._2)
  }

  /** The three twins over one stream, as in the batch queries they mirror. */
  private def twins(stream: DataFrame): Seq[(String, DataFrame)] = Twins.zip(Seq(
    StreamingWindows.windowedCounts(stream, "event_type", "1 hour"),
    StreamingWindows.windowedCounts(stream.withColumn("all", lit("all")), "all", "1 second"),
    // q47 splits on gaps > 1800 s between second-truncated events; Spark's
    // session window merges an event at most `gap` after the session's last
    // one (inclusive), so the same split needs a gap of exactly 1800 s
    StreamingWindows.sessionCounts(
      stream.select(col("user_id"), date_trunc("second", col("ts")).as("ts")),
      "user_id", "1800 seconds")))

  private def durS(p: StreamingQueryProgress, keys: String*): Double =
    keys.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3

  /** Epoch ms at which the progress' batch committed. */
  private def commitMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + Option(p.durationMs.get("triggerExecution"))
      .map(_.longValue).getOrElse(0L)

  def apply(a: Args): Map[String, Any] = {
    val live = new File(s"${a.work}/stream/live")
    live.mkdirs()
    def files(dir: String) = new File(s"${a.data}/$dir").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    val filesPerDrain = mapper.readTree(new File(s"${a.data}/manifest.json"))
      .get("tables").get("events").get("plan").get("files_per_drain").asInt
    val drainFiles = files("replay").grouped(filesPerDrain).toSeq

    val errors = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    val progress = new Progress
    val outputs = Twins.map(_ -> mutable.ArrayBuffer.empty[Row]).toMap
    val schemas = mutable.Map.empty[String, StructType]

    /** Wait until every query has consumed all available input, including
      * the eviction batch a moved watermark triggers; failures are recorded. */
    def await(qs: Seq[StreamingQuery]): Unit = qs.foreach { q =>
      try q.processAllAvailable()
      catch { case e: Exception => errors.getOrElseUpdate(q.name, e.toString.take(500)) }
    }

    def move(f: File): Unit =
      Files.move(f.toPath, new File(live, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)

    // set-up: JVM and session start, the twins' start (each with its own
    // checkpoint; the sink keeps every emitted row), and the warm-up. The
    // 100 ms trigger keeps idle twins from polling the directory back to
    // back: with 0 ms the JVM kept all 4 cores busy through a run, with
    // 100 ms about 2. Checkpoint and state files go through Hadoop's
    // FileSystem API to the local file system without forked chmods
    // (NioLocalFileSystem says why).
    val spark = Main.newSession(a, Map(
      "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
      "spark.sql.streaming.checkpointFileManagerClass" ->
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"))
    spark.streams.addListener(progress)
    val warmup = files("warmup")
    val ckpt = s"${a.work}/stream/ckpt"
    val stream = spark.readStream.schema(spark.read.parquet(warmup.head.getPath).schema)
      .parquet(live.getPath)
    val qs = twins(stream).map { case (name, df) =>
      attempted += 1
      schemas(name) = df.schema
      val buf = outputs(name)
      df.writeStream.queryName(name).outputMode("append").trigger(Trigger.ProcessingTime(100L))
        .option("checkpointLocation", s"$ckpt/$name")
        .foreachBatch(new VoidFunction2[Dataset[Row], java.lang.Long] {
          def call(b: Dataset[Row], id: java.lang.Long): Unit = {
            val rows = b.collect()
            buf.synchronized(buf ++= rows)
          }
        })
        .start()
    }
    warmup.grouped(filesPerDrain).foreach { g => g.foreach(move); await(qs) }
    val setup = Main.sinceJvmStart()
    BusDrain(spark.sparkContext)

    // drains until --seconds have passed or the generated backlog runs out,
    // at least three (the first is still slower while the JIT compiles, and
    // the median of three is not moved by it), or one whole ABBA round when
    // traced; the traced run alternates untraced and traced ones
    val stats = new SchedStats
    var memPeak = 0.0
    val movedMs = mutable.Map.empty[String, Long]
    val minDrains = if (a.trace) Main.TraceOrder.size else 3
    val drains = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val tEnd = System.nanoTime() + (a.seconds * 1e9).toLong
    while (drains.size < drainFiles.size &&
      (drains.size < minDrains || System.nanoTime() < tEnd)) {
      val d = drains.size
      val traced = a.trace && Main.TraceOrder(d % Main.TraceOrder.size)
      progress.phase = s"drain$d"
      if (traced) spark.sparkContext.addSparkListener(stats)
      val t0 = System.nanoTime()
      val now = System.currentTimeMillis()
      drainFiles(d).foreach { f => move(f); movedMs(f.getName) = now }
      await(qs)
      val wall = Main.secondsSince(t0)
      BusDrain(spark.sparkContext)
      if (traced) spark.sparkContext.removeSparkListener(stats)
      // the live heap after full GCs, between drains: the pause also
      // steadies the drains (without it they spread 0.22 over five seeds
      // instead of 0.09, falling faster through the run as the JIT compiled)
      memPeak = math.max(memPeak, Main.liveHeapMb())
      drains += traced -> wall
    }
    qs.foreach { q =>
      q.stop()
      q.exception.foreach(e => errors.getOrElseUpdate(q.name, e.toString.take(500)))
    }
    BusDrain(spark.sparkContext)

    // lag: the file-source log in each checkpoint gives the source offset
    // that listed each file; the batch whose offset range covers it consumed it
    val measured = progress.in(_.startsWith("drain"))
    val data = measured.filter(_.numInputRows > 0)
    val lags = for {
      ((name, file), offset) <- fileOffsets(ckpt).toSeq
      moved <- movedMs.get(file)
      p <- data.find(p => p.name == name && offset > logOffset(p.sources.head.startOffset) &&
        offset <= logOffset(p.sources.head.endOffset))
    } yield (commitMs(p) - moved) / 1e3

    // the gate's input: emitted rows, and the watermark each twin evicted at
    val lastProgress = Twins.map(n => n -> measured.filter(_.name == n).last).toMap
    val watermarkS = lastProgress.map { case (n, p) =>
      n -> Instant.parse(p.eventTime.get("watermark")).getEpochSecond }
    outputs.foreach { case (name, rows) =>
      val df = spark.createDataFrame(rows.asJava, schemas(name))
      val checked = name match {
        case "hourly" => df.select(unix_seconds(col("window_start")).as("hour_epoch"),
          col("event_type"), col("cnt"))
        case "per_second" => df.select(unix_seconds(col("window_start")).as("sec_epoch"), col("cnt"))
        case "sessions" => df.select(col("user_id"),
          unix_seconds(col("session_start")).as("session_start"), col("n_events"))
      }
      checked.write.mode("overwrite").parquet(s"${a.work}/out/stream_$name")
    }

    val rowsDropped = progress.all
      .map(_._2.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble
    val layers = Map(
      "streaming.batches" -> measured.size.toDouble / drains.size,
      "streaming.batch_s" -> Main.median(data.map(durS(_, "triggerExecution"))),
      "streaming.add_batch_s" -> Main.median(data.map(durS(_, "addBatch"))),
      "streaming.planning_s" -> Main.median(data.map(durS(_, "queryPlanning"))),
      "streaming.offsets_s" -> Main.median(data.map(durS(_, "latestOffset", "getBatch"))),
      "streaming.wal_s" -> Main.median(data.map(durS(_, "walCommit", "commitOffsets"))),
      "streaming.state_commit_s" ->
        Main.median(data.map(_.stateOperators.map(_.commitTimeMs).sum / 1e3)),
      "streaming.state_rows" ->
        lastProgress.values.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble,
      "streaming.state_mb" ->
        lastProgress.values.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum / 1048576.0,
      "streaming.rows_dropped" -> rowsDropped)
    val plain = drains.filterNot(_._1).toSeq
    val traced = drains.filter(_._1).toSeq
    val result = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setup,
      "pass_s" -> plain.map(_._2),
      "lag_s" -> lags,
      "mem_peak_mb" -> memPeak,
      "rows_dropped" -> rowsDropped,
      "watermark_s" -> watermarkS,
      "attempted" -> attempted,
      "errors" -> errors.toMap)
    if (a.trace) {
      result("traced_pass_s") = traced.map(_._2)
      result("layers") = layers ++ stats.metrics(traced.size, traced.map(_._2).sum, a.cores) +
        ("trace.overhead_frac" -> (Main.median(traced.map(_._2)) / Main.median(plain.map(_._2)) - 1))
      result("spans") = progress.all.map { case (phase, p) =>
        Map("name" -> s"${p.name}:${p.batchId}", "parent" -> phase,
          "start_s" -> Instant.parse(p.timestamp).toEpochMilli / 1e3, "end_s" -> commitMs(p) / 1e3,
          "rows" -> p.numInputRows, "add_batch_s" -> durS(p, "addBatch"),
          "state_commit_s" -> p.stateOperators.map(_.commitTimeMs).sum / 1e3)
      }
    }
    result.toMap
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The file source's offset, `{"logOffset":N}`; -1 before its first batch. */
  private def logOffset(json: String): Long =
    if (json == null) -1L else mapper.readTree(json).get("logOffset").asLong

  /** (query, file name) -> the source offset that listed the file, from each
    * query's file-source log: one JSON entry per file, `batchId` being the
    * source offset. */
  private def fileOffsets(ckpt: String): Map[(String, String), Long] =
    Twins.flatMap { name =>
      val dir = new File(s"$ckpt/$name/sources/0")
      Option(dir.listFiles()).getOrElse(Array.empty[File]).filterNot(_.getName.startsWith("."))
        .flatMap(f => Files.readAllLines(f.toPath).asScala.filter(_.startsWith("{")))
        .map { line =>
          val n = mapper.readTree(line)
          (name, new File(new java.net.URI(n.get("path").asText)).getName) -> n.get("batchId").asLong
        }
    }.toMap
}
