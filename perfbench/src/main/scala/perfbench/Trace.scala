package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Scheduler-layer counters, from a listener the benchmark registers. All
  * task metrics come from task-end events; `serialMs` is the wall time of
  * stages that ran a single task, where one core works and the rest idle. */
final class SchedStats extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs, gcMs, serialMs = new AtomicLong
  val shuffleRead, shuffleWrite, spill = new AtomicLong
  private val groupJobs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(id => groupJobs.computeIfAbsent(id, _ => new AtomicLong).incrementAndGet())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val i = e.stageInfo
    if (i.numTasks == 1)
      for (s <- i.submissionTime; c <- i.completionTime) serialMs.addAndGet(c - s)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
    }
  }

  /** Jobs started under job group `g` so far. */
  def jobsIn(g: String): Long = Option(groupJobs.get(g)).map(_.get).getOrElse(0L)

  /** Scheduler metrics per unit of work (a pass or a drain), for `units`
    * units spanning `wallS` seconds on `cores` cores. */
  def metrics(units: Int, wallS: Double, cores: Int): Map[String, Double] = {
    val mb = 1048576.0
    val taskS = runMs.get / 1e3
    Map(
      "scheduler.jobs" -> jobs.get.toDouble / units,
      "scheduler.stages" -> stages.get.toDouble / units,
      "scheduler.tasks" -> tasks.get.toDouble / units,
      "scheduler.task_s" -> taskS / units,
      "scheduler.cpu_s" -> cpuNs.get / 1e9 / units,
      "scheduler.serial_s" -> serialMs.get / 1e3 / units,
      "scheduler.core_util" -> taskS / (wallS * cores),
      "scheduler.shuffle_read_mb" -> shuffleRead.get / mb / units,
      "scheduler.shuffle_write_mb" -> shuffleWrite.get / mb / units,
      "scheduler.spill_mb" -> spill.get / mb / units,
      "scheduler.gc_s" -> gcMs.get / 1e3 / units)
  }
}

final case class Span(name: String, parent: String, startS: Double, endS: Double)

/** Timed spans with a parent, written out by the traced run. */
final class Spans {
  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]

  /** Time `body` as span `name` under `parent`. */
  def apply[T](name: String, parent: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally spans += Span(name, parent, (t0 - origin) / 1e9, (System.nanoTime() - origin) / 1e9)
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map("name" -> s.name,
    "parent" -> s.parent, "start_s" -> s.startS, "end_s" -> s.endS, "dur_s" -> (s.endS - s.startS)))
}
