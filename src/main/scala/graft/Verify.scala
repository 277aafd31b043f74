package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated allowlist (mirrors Bench's SPARK_GRAFT_BENCH_ONLY):
    // re-dump just the queries a code change touched into an existing outDir,
    // then re-run check_oracle over the full set.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.split(",").toSet)
    SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A query that fails to run must still produce an output entry, or the
        // downstream compare silently shrinks its coverage (round 8: 5 erroring
        // queries were simply absent from CORRECTNESS — a regression recorded
        // as a smaller green suite). A one-row parquet whose only column is
        // `__verify_error` can never match any oracle: the entry shows up RED
        // instead of vanishing.
        try {
          import spark.implicits._
          Seq(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
            .toDF("__verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
