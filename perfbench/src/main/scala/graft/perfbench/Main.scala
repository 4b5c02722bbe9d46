package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeoutException}

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** One timed operation: a whole pipeline run or one query. */
final case class Op(name: String, ms: Double, ok: Boolean, err: String,
    rows: Long = 0L, extra: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] =
    Map("name" -> name, "ms" -> ms, "ok" -> ok, "err" -> err, "rows" -> rows) ++ extra
}

/** What a workload sees: the session, its arguments, the tracer and the
  * per-operation timeout harness. */
final class Bench(val spark: SparkSession, val args: Map[String, String],
    val tracer: Tracer, val runtime: Option[RuntimeListener], val cores: Int) {
  def arg(k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def traced: Boolean = tracer.enabled
  val seconds: Double = arg("seconds").toDouble
  val opTimeoutS: Long = arg("op-timeout").toLong
  val out: String = arg("out")

  // One thread runs the operations; a second takes over if an operation
  // that timed out leaves its thread stuck.
  private val pool = Executors.newFixedThreadPool(2, (r: Runnable) => {
    val t = new Thread(r, "perfbench-op"); t.setDaemon(true); t
  })
  private val ec = ExecutionContext.fromExecutor(pool)
  private var opCount = 0

  /** Run `body` under the operation timeout, in its own job group. The
    * body returns the number of rows the operation produced and any
    * values the output checks need. */
  def op(name: String)(body: => (Long, Map[String, Any])): Op = {
    opCount += 1
    val group = s"op-$opCount"
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    def ms = (System.nanoTime() - t0) / 1e6
    val work = Future {
      sc.setJobGroup(group, name, interruptOnCancel = true)
      try body finally sc.clearJobGroup()
    }(ec)
    try {
      val (rows, extra) = Await.result(work, opTimeoutS.seconds)
      Op(name, ms, ok = true, null, rows, extra)
    } catch {
      case _: TimeoutException =>
        sc.cancelJobGroup(group)
        Op(name, ms, ok = false, s"timeout after ${opTimeoutS}s")
      case e: Throwable =>
        Op(name, ms, ok = false, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  /** The timed window: whole rounds of operations back to back until
    * `seconds` have passed. The round that crosses the deadline still
    * counts, so every run attempts whole rounds. */
  def timed(round: => Seq[Op]): Seq[Op] = {
    runtime.foreach(_.mark())
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val ops = scala.collection.mutable.ArrayBuffer.empty[Op]
    do ops ++= round while (System.nanoTime() < deadline)
    ops.toSeq
  }

  /** In a traced run, evaluate every column of `df` (a lazy layer's
    * forced prefix); in an untraced run, do nothing. */
  def force(df: => DataFrame): Unit =
    if (traced) df.write.format("noop").mode("overwrite").save()

  /** Deliver pending scheduler events to the listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

object Main {

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // set-up ends when a one-row probe query has returned
    spark.range(1).selectExpr("id + 1").collect()
    println("READY")
    System.out.flush()

    val trace = args.getOrElse("trace", "0") == "1"
    val runtime = if (trace) Some(new RuntimeListener(cores)) else None
    runtime.foreach(spark.sparkContext.addSparkListener)
    val bench = new Bench(spark, args,
      new Tracer(trace, runtime, () => org.apache.spark.PerfbenchBus.drain(spark.sparkContext)),
      runtime, cores)
    val (ops, layer, extra) = args("workload") match {
      case "etl_dirty_csv" => Etl.run(bench)
      case "dedup_corpus" => Corpus.run(bench)
      case "query_mix" => QueryMix.run(bench)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val runtimeMetrics = runtime.map { r =>
      bench.drain(); r.metrics(System.currentTimeMillis()) }.getOrElse(Nil)
    val result = Map(
      "ops" -> ops.map(_.toMap),
      "layer" -> (layer ++ runtimeMetrics).toMap,
      "spans" -> bench.tracer.all.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "jobs" -> s.jobs)),
      "peak_rss_mb" -> peakRssMb(),
      "cores" -> cores) ++ extra
    Files.writeString(Paths.get(args("result")), Json(result))
    spark.stop()
  }
}
