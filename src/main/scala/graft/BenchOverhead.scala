package graft

/** Decomposition of the per-query fixed cost the full-suite bench carries
  * (round-10 judge #8): for a sample of registered queries, split wall time
  * into
  *
  *   build    — `fn(spark, dir)` returning the DataFrame (view registration,
  *              catalyst ANALYSIS of the logical plan)
  *   plan     — forcing `queryExecution.executedPlan` (optimization +
  *              physical planning + first codegen)
  *   exec     — `count()` on the planned frame (job scheduling + actual work;
  *              note AQE replans inside this phase)
  *   re-exec  — a second `count()` on a FRESH build (what the bench's later
  *              passes pay — codegen/JIT warm, plans not cached across
  *              actions by Spark)
  *
  * plus two scheduling floors measured in the same session:
  *
  *   job_floor   — `spark.range(1).count()`: one job, one task, no I/O
  *   stage_floor — a 2-stage 32-partition shuffle job over 10⁶ in-memory rows
  *
  * Methodology mirrors Bench: min of `passes` interleaved rounds after one
  * untimed warmup. Output: one JSON line (stdout) recorded in BASELINE.md.
  */
object BenchOverhead {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // a spread of shapes: trivial agg, window, multi-join SQL, streaming-free
    // kernels — overridable for triage
    val sample = sys.env.get("SPARK_GRAFT_OVERHEAD_ONLY").map(_.split(",").toSeq)
      .getOrElse(Seq("q_benford", "q_timeseries", "q_moving_average",
        "q_dataset_info", "q_tpch_q18", "q_corr_matrix", "q_dedup_exact",
        "q_serve_json"))
    val fns = sample.map(n => n -> SparkEntry.queries(n))
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt

    def t[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f; ((System.nanoTime() - t0) / 1e9, a)
    }
    def ms3(v: Double) = math.rint(v * 1000) / 1000

    fns.foreach { case (_, fn) => try fn(spark, sfDir).count() catch { case _: Throwable => () } } // warmup

    val acc = sample.map(n => n -> Array.fill(4)(Double.MaxValue)).toMap
    val floors = Array.fill(2)(Double.MaxValue)
    (0 until passes).foreach { _ =>
      fns.foreach { case (name, fn) =>
        val (tBuild, df) = t(fn(spark, sfDir))
        val (tPlan, _) = t(df.queryExecution.executedPlan)
        val (tExec, _) = t(df.count())
        val (tRe, _) = t(fn(spark, sfDir).count())
        val a = acc(name)
        a(0) = a(0) min tBuild; a(1) = a(1) min tPlan
        a(2) = a(2) min tExec; a(3) = a(3) min tRe
      }
      val (f0, _) = t(spark.range(1).count())
      val (f1, _) = t(spark.range(1000000).selectExpr("id % 32 as k")
        .groupBy("k").count().count())
      floors(0) = floors(0) min f0; floors(1) = floors(1) min f1
    }
    val qjson = sample.map { n =>
      val a = acc(n)
      s""""$n":{"build":${ms3(a(0))},"plan":${ms3(a(1))},"exec":${ms3(a(2))},"reexec":${ms3(a(3))}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"overhead","sf":"$sfDir","passes":$passes,"job_floor":${ms3(floors(0))},"stage_floor":${ms3(floors(1))},"queries":$qjson}""")
    spark.stop()
  }
}
