package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Command-line arguments, all required:
  * `--workload W --data DIR --work DIR --seconds S --trace 0|1 --cores N`. */
final case class Args(workload: String, data: String, work: String, seconds: Double,
                      trace: Boolean, cores: Int)

/** Benchmark harness main. Runs one workload through the engine's public
  * entry points and writes `<work>/result.json` (raw timings, per-layer
  * counters) plus the outputs the correctness gate compares under
  * `<work>/out`. `run.py` turns the result into the one-line summary. */
object Main {

  /** Which passes (drains) of a traced run are traced: ABBA order, so the
    * JIT still warming up biases neither side of the tracing overhead. */
  val TraceOrder: Seq[Boolean] = Seq(false, true, true, false)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("data"), kv("work"), kv("seconds").toDouble,
      kv("trace") == "1", kv("cores").toInt)
    val result = a.workload match {
      case "classify" => BatchRun(a)
      case "logs_stream" => StreamRun(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Json.write(new File(a.work, "result.json"), result)
    SparkSession.getDefaultSession.foreach(_.stop())
  }

  /** A session with `graft.Bench.newSession`'s settings; only the scratch
    * locations differ, so that every byte written stays under `work`, plus
    * `extra` settings a workload adds. */
  def newSession(a: Args, extra: Map[String, String] = Map.empty): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", s"${a.work}/tmp")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config(extra)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Heap in use after a full collection, in MB: the live set. The second
    * collection runs after Spark's ContextCleaner has had time to drop the
    * broadcast and shuffle state the first one made unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON writer for the result file: maps, sequences, numbers,
  * strings, booleans. Non-finite numbers are written as null. */
object Json {
  def write(f: File, v: Any): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, render(v).getBytes("UTF-8"))
  }

  def render(v: Any): String = v match {
    case null => "null"
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s => quote(s.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
