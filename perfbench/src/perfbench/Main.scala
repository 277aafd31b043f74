package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** What one measured stretch of a workload produced. `e2e` holds the
  * latency and rate figures (`op_mean_ms`, `side_mean_ms`, `ops_per_s`);
  * [[Main]] adds `setup_s` and `live_heap_mb`. `layers` holds the per-layer
  * metrics (only filled when tracing).
  */
final case class Outcome(attempted: Long, failed: Long, e2e: Map[String, Double],
    layers: Map[String, Double], problems: Seq[String])

/** A benchmark workload: its state is built by [[setup]] (called
  * [[setupRepeats]] times, each into a fresh directory; the last one is
  * kept), then primed once, measured, and closed.
  */
trait Workload {
  /** Set-ups per run; `setup_s` is their median. */
  def setupRepeats: Int = 3
  def setup(dir: File): Unit
  def warmup(): Unit = ()
  def measure(seconds: Double): Outcome
  def close(): Unit = ()
}

/** Shared run context: the session, the benchmark's own directory (for the
  * committed inputs), the seed and the tracer.
  */
final class Ctx(val spark: SparkSession, val bench: File, val seed: Long,
    val tracer: Tracer, val nproc: Int) {
  def dataDir: File = new File(bench, "data/sf0.01")
}

/** JVM entry of the benchmark. Prints, as its last stdout line, one JSON
  * object with `correct`, `attempted`, `failed` and `metrics`; the metrics
  * are every end-to-end metric, plus every per-layer metric when tracing.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <benchDir> <traceOut>
  */
object Main {

  /** Reported end-to-end metrics. Medians and tails move too much between
    * runs of a few dozen operations to gate on, so they are per-layer metrics.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_mean_ms" -> "ms", "side_mean_ms" -> "ms", "ops_per_s" -> "1/s",
    "live_heap_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val Array(workloadName, seedS, secondsS, traceS, workS, benchS, traceOut) = args
    val nproc = Runtime.getRuntime.availableProcessors()
    val work = new File(workS)
    work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(traceS == "1", spark)
    val ctx = new Ctx(spark, new File(benchS), seedS.toLong, tracer, nproc)
    val workload: Workload = workloadName match {
      case "ingest_and_serve" => new IngestAndServe(ctx)
      case "query_suite" => new QuerySuite(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    var code = 0
    val phases = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    def phase[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      try f finally phases += name -> (System.nanoTime() - t0) / 1e9
    }
    try {
      val setups = (1 to workload.setupRepeats).map { i =>
        phase(s"setup$i")(workload.setup(new File(work, s"state$i")))
        phases.last._2
      }
      phase("warmup")(workload.warmup())
      val out = phase("measure")(workload.measure(secondsS.toDouble))
      phase("close")(workload.close())
      val heap = phase("heap")(liveHeapMb())
      System.err.println("[perfbench] phases: " +
        phases.map { case (n, s) => f"$n=$s%.2fs" }.mkString(" "))
      val e2e = out.e2e ++ Map("setup_s" -> Stats.median(setups), "live_heap_mb" -> heap)
      val layers = if (tracer.on) Layers.complete(out.layers) else Map.empty[String, Double]
      out.problems.take(20).foreach(p => System.err.println(s"[perfbench] problem: $p"))
      val units = EndToEnd.toMap
      val metrics = EndToEnd.map { case (k, u) => k -> (e2e(k), u) } ++
        layers.toSeq.sortBy(_._1).map { case (k, v) => k -> (v, Layers.unit(k)) }
      require(units.keySet.subsetOf(e2e.keySet), "missing end-to-end metrics")
      tracer.writeSpans(new File(traceOut))
      println(Json.result(out.problems.isEmpty && out.failed == 0, out.attempted, out.failed, metrics))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
    } finally {
      try workload.close() catch { case _: Throwable => () }
      spark.stop()
    }
    System.exit(code)
  }

  /** Heap in use after full collections, in MiB: the least of a few
    * collections, so asynchronous clean-up still in flight is not counted.
    */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Par {
  /** Run `tasks` on `threads` threads; results in task order. */
  def map[T](threads: Int)(tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = t() }))
      futures.map(f =>
        try f.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
    } finally pool.shutdown()
  }
}
