package graft

/** Benchmark entry point.
  *
  * Contract with the driver: print exactly ONE compact JSON line to stdout —
  * `{"metric":"total","value":N,"unit":"sec",...}` — small enough (< 1 KB) to
  * survive the driver's stdout-tail capture window at ANY suite size. The
  * BENCH_r03/r04/r05 artifacts were all `"parsed": null` because the per-query
  * map (106 queries ≈ 3 KB) overflowed that window and truncated the line's
  * head. Per-query detail now goes to `BENCH_DETAIL.json` (and stderr), and
  * the stdout line carries only the total, suite size, the 10 slowest
  * queries, and the noise sentinel.
  *
  * Noise sentinel: the same trivial fixed query is timed at the start and at
  * every pass-round boundary (passes+1 readings). On a quiet host the
  * timings agree to within a few ms; a corrupted window (noisy-neighbor VM)
  * shows up as a large spread, making a bad run detectable from the artifact
  * alone (BENCH_r05 recorded a 30.2 s phantom for a 0.65 s query with no way
  * to tell from the JSON).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local[32] per the driver contract; overridable for smaller harnesses.
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // Optional comma-separated allowlist for local triage of a query subset.
    // The stdout line marks subset runs so a triage run's total can never be
    // mistaken for the full-suite bench-gate number.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }

    // Untimed warmup at the smallest SF: exercises every query's plan once so
    // JIT compilation, codegen caches, and Hadoop/parquet client init are not
    // billed to the timed run (the timed run still does all real work on sfDir).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if (warmDir.nonEmpty && new java.io.File(warmDir).isDirectory)
      selected.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }

    // Fixed trivial query for the noise sentinel: no I/O, one tiny job.
    def sentinelOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(100000).selectExpr("sum(id) as s").count()
      (System.nanoTime() - t0) / 1e9
    }
    def ms3(v: Double): Double = math.rint(v * 1000) / 1000

    // Min of N timed passes per query: the host is a shared VM, so single-shot
    // timings carry neighbor noise; the minimum is the standard robust
    // estimator of a query's actual cost on such machines.
    //
    // Passes are INTERLEAVED round-robin (pass 1 of every query, then pass 2
    // of every query, ...), not run back-to-back per query: BENCH_r06 recorded
    // q_repetition at [4.48, 3.15, 2.92] s when the same query measures
    // 0.05-0.13 s in every local window — a neighbor-noise burst of ~10 s can
    // corrupt ALL back-to-back passes of one query while staying invisible to
    // the 3-point sentinel. With rounds separated by the full suite duration,
    // a burst touches at most one pass per query and min-of-passes recovers.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val names = selected.keys.toVector
    val sentinels = scala.collection.mutable.ArrayBuffer[Double]()
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val times = names.map(n => n -> scala.collection.mutable.ArrayBuffer[(Double, Boolean)]()).toMap
    sentinels += sentinelOnce()
    (0 until passes).foreach { _ =>
      names.foreach { name =>
        val fn = selected(name)
        val t0 = System.nanoTime()
        // a throwing pass must be VISIBLE in the artifact, not recorded as a
        // fast success — its near-zero elapsed time would otherwise become
        // the min-of-passes and shrink the gated total on a broken suite
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => failed += name; false }
        times(name) += ((ms3((System.nanoTime() - t0) / 1e9), ok))
      }
      sentinels += sentinelOnce() // one sentinel per round boundary
    }
    val allPasses = names.map(n => n -> times(n).toSeq)
    // min over SUCCESSFUL passes only; a query with zero good passes reports
    // -1 (and its name is in `failed`) rather than a fabricated timing
    val results = allPasses.map { case (name, ps) =>
      val good = ps.collect { case (t, true) => t }
      name -> (if (good.nonEmpty) good.min else -1.0)
    }

    // A suite with ANY failing query reports value=-1: summing only the
    // successful queries would make a breakage look like a speedup to a
    // driver that parses `value` alone (ADVICE r06). The sum of the queries
    // that did run is still recorded as `gross`.
    val gross = ms3(results.collect { case (_, t) if t >= 0 => t }.sum)
    val total = if (failed.nonEmpty) -1.0 else gross
    // detail carries every pass, not just the min: a noisy window shows up as
    // per-pass spread, distinguishing "slow plan" from "loud neighbor";
    // failed passes are negated (-t) so they stay numeric but unmistakable
    val detail = allPasses.map { case (k, ps) =>
      s"\"$k\":" + ps.map { case (t, ok) => if (ok) t else -t }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val sentinelJson = sentinels.map(ms3).mkString("[", ",", "]")
    val slowest = results.sortBy(-_._2).take(10)
      .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val failedJson = failed.map(n => s"\"$n\"").mkString("[", ",", "]")
    val detailLine =
      s"""{"metric":"total","value":$total,"unit":"sec","gross":$gross,"sf":"$sfDir","n_queries":${results.size},"subset":${only.isDefined},"passes":$passes,"errors":${failed.size},"failed":$failedJson,"sentinel":$sentinelJson,"queries":$detail}"""
    // Full detail: file + stderr (both safe — the driver tails stdout only).
    try {
      val w = new java.io.PrintWriter("BENCH_DETAIL.json")
      try w.println(detailLine) finally w.close()
    } catch { case _: Throwable => () }
    System.err.println(detailLine)
    // The ONE stdout line: compact, bounded (< 1 KB at any suite size).
    // `failed` rides on stdout too: it is empty (2 bytes) on a healthy run and
    // names the culprits on a broken one — without it the tracked artifact
    // can't identify WHICH queries errored (round-8 ADVICE; the list only
    // existed in gitignored BENCH_DETAIL.json).
    println(s"""{"metric":"total","value":$total,"unit":"sec","gross":$gross,"sf":"$sfDir","n_queries":${results.size},"subset":${only.isDefined},"errors":${failed.size},"failed":$failedJson,"sentinel":$sentinelJson,"slowest":$slowest}""")
    spark.stop()
  }
}
