package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Metrics, output checks and run notes of one benchmark run. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val summary = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** A metric's value; its unit is the one BENCHMARK.json gives it. */
  def metric(name: String, value: Double): Unit = metrics(name) = value

  /** One timed operation; a throw counts it as failed and is recorded. */
  def op[A](name: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable =>
        failed += 1
        failures += s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** One output check, counted like an operation. */
  def check(name: String)(ok: => Boolean): Unit =
    op(name)(ok) match {
      case Some(true) =>
      case Some(false) => failed += 1; failures += s"check failed: $name"
      case None =>
    }

  def toJson: String = Json.write(Map(
    "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
    "metrics" -> metrics,
    "summary" -> summary))
}

/** Everything a workload needs: session, clocks, counters and output. */
final class Ctx(val spark: SparkSession, val cores: Int, val seed: Long, val seconds: Int,
    val traced: Boolean, val work: String, val root: String, val tracer: Tracer,
    val counters: Counters, val result: Result) {

  /** Runs one phase of the workload and notes its seconds in the summary. */
  def phase[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally result.summary(s"phase.$name") = (System.nanoTime() - t0) / 1e9
  }

  def drainEvents(): Unit = org.apache.spark.BenchListenerBus.drain(spark.sparkContext)

  /** Median of `reps` timings of `f`, for set-up steps. */
  def medianSeconds(reps: Int)(f: => Unit): Double =
    Stats.median((1 to reps).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 })

  /** Calls `op` at least `minOps` times, then while another call of
    * median length still ends within `seconds`; returns the seconds of
    * each call.
    */
  def loop(seconds: Double, minOps: Int = 1)(op: Int => Unit): Seq[Double] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[Double]
    while (out.length < minOps ||
        (System.nanoTime() - t0) / 1e9 + Stats.median(out.toSeq) <= seconds) {
      val s = System.nanoTime()
      op(out.length)
      out += (System.nanoTime() - s) / 1e9
    }
    out.toSeq
  }

  /** Counter windows of the traced calls made through [[call]]. */
  val windows = mutable.ArrayBuffer.empty[Counters.Window]

  /** One call of a traced run, traced (`on`) or not, between listener-bus
    * drains so both kinds start alike; a traced call's counter window is
    * kept in [[windows]] for the engine metrics.
    */
  def call[A](on: Boolean)(f: => A): A = {
    drainEvents()
    val from = counters.mark()
    try (if (on) f else tracer.disabled(f))
    finally {
      drainEvents()
      if (on) windows += Counters.Window(from, counters.mark())
    }
  }

  /** A traced run's loop: calls run untraced and traced in the order
    * off, on, on, off, so JIT warm-up and host drift fall on both alike;
    * their comparison is the tracing overhead.
    */
  def alternate(seconds: Double, minOps: Int = 4)(op: Boolean => Unit): Unit =
    loop(seconds, minOps) { i => val on = i % 4 == 1 || i % 4 == 2; call(on)(op(on)) }

  /** Engine counters of the traced calls. */
  def recordSparkMetrics(): Unit =
    counters.sparkMetrics(windows.toSeq, cores).foreach { case (k, v) => result.metric(k, v) }
}

/** Benchmark entry point; see perfbench/run.py for the command line.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --root DIR
  *
  * Writes DIR/result.json and, when traced, DIR/spans.json.
  */
object Main {
  val workloads: Map[String, Ctx => Unit] = Map(
    "extract_job" -> ExtractJobWorkload.run,
    "rag_serve" -> RagServeWorkload.run,
    "corpus_ops" -> CorpusOpsWorkload.run)

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.columnarReaderBatchSize", "64")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val run = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val work = opts("work")
    val traced = opts("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    HeapPeak.start()
    val result = new Result
    val tracer = new Tracer(traced, s"$name-${opts("seed")}-${System.currentTimeMillis()}")
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    result.summary("phase.session") = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, cores, opts("seed").toLong, opts("seconds").toInt, traced, work,
      opts("root"), tracer, Counters.install(spark), result)
    // host context, outside every timed region
    val gbps = ctx.phase("host_probe")(MemProbe.gbps(cores))
    result.summary("host.mem_gbps") = gbps
    if (traced) result.metric("host.mem_gbps", gbps)
    try tracer.span(name)(run(ctx))
    catch {
      case e: Throwable =>
        result.failed += 1
        result.attempted += 1
        result.failures += s"workload aborted: $e"
        e.printStackTrace()
    }
    if (traced) result.metric("host.heap_peak_mb", HeapPeak.mb)
    result.summary("host.heap_peak_mb") = HeapPeak.mb
    result.summary("jvm_uptime_s") = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    if (traced)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/spans.json"), Json.write(tracer.toJson))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/result.json"), result.toJson)
    spark.stop()
  }
}
