package graft.perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One traced call into a graft layer: wall interval, parent span and
  * the Spark jobs started while it was open. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    var endNs: Long = -1L, var jobs: Int = 0) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder, active only in a traced run; spans are
  * written out with the run result when the run ends. An untraced
  * recorder times nothing and keeps nothing. */
final class Tracer(val enabled: Boolean, runtime: Option[RuntimeListener],
    drain: () => Unit) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        System.nanoTime())
      // scheduler events arrive asynchronously: deliver them before
      // reading the job count at either end of the span
      drain()
      val jobs0 = runtime.map(_.jobs).getOrElse(0)
      spans += s
      open = s :: open
      try body
      finally {
        s.endNs = System.nanoTime()
        drain()
        s.jobs = runtime.map(_.jobs).getOrElse(0) - jobs0
        open = open.tail
      }
    }

  /** Seconds of the last closed span named `name` (0 if never traced). */
  def seconds(name: String): Double =
    spans.reverseIterator.find(_.name == name).map(_.seconds).getOrElse(0.0)

  def all: Seq[Span] = spans.toSeq
}

/** Spark runtime counters for the traced run, read from the scheduler's
  * events on the benchmark's own session. `mark()` starts the window the
  * wall-based figures (core use, driver gap) refer to. */
final class RuntimeListener(cores: Int) extends SparkListener {
  @volatile var jobs = 0
  @volatile var stages = 0
  @volatile var tasks = 0
  @volatile var taskRunMs = 0L
  @volatile var taskCpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleReadBytes = 0L
  @volatile var shuffleWriteBytes = 0L
  @volatile var spillBytes = 0L
  @volatile var inputBytes = 0L
  @volatile var outputBytes = 0L
  // [submitted, completed] wall intervals of stages, in epoch ms
  private val stageIntervals = ArrayBuffer.empty[(Long, Long)]
  private var windowStartMs = System.currentTimeMillis()

  def mark(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; taskRunMs = 0; taskCpuNs = 0; gcMs = 0
    shuffleReadBytes = 0; shuffleWriteBytes = 0; spillBytes = 0
    inputBytes = 0; outputBytes = 0
    stageIntervals.clear()
    windowStartMs = System.currentTimeMillis()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageIntervals += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Wall seconds since `mark()` not covered by any running stage. */
  def driverGapSeconds(nowMs: Long): Double = synchronized {
    val merged = stageIntervals.map { case (s, c) =>
      (math.max(s, windowStartMs), math.min(c, nowMs)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L; var curE = -1L
    for ((s, c) <- merged) {
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = c }
      else curE = math.max(curE, c)
    }
    if (curE > curS) covered += curE - curS
    (nowMs - windowStartMs - covered) / 1e3
  }

  def metrics(nowMs: Long): Seq[(String, Double)] = synchronized {
    val wall = math.max(1L, nowMs - windowStartMs) / 1e3
    val mb = 1024.0 * 1024.0
    Seq(
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.task_run_s" -> taskRunMs / 1e3,
      "spark.task_cpu_s" -> taskCpuNs / 1e9,
      "spark.gc_s" -> gcMs / 1e3,
      "spark.shuffle_read_mb" -> shuffleReadBytes / mb,
      "spark.shuffle_write_mb" -> shuffleWriteBytes / mb,
      "spark.spill_mb" -> spillBytes / mb,
      "spark.input_mb" -> inputBytes / mb,
      "spark.output_mb" -> outputBytes / mb,
      "spark.core_util" -> taskRunMs / 1e3 / (wall * cores),
      "spark.driver_gap_s" -> driverGapSeconds(nowMs))
  }
}
