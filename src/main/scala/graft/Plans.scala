package graft

/** Plan-audit diagnostic: prints `explain("formatted")` for the named queries
  * (default: a representative set) so scan pruning (`ReadSchema`,
  * `PushedFilters`), join strategies (broadcast vs sort-merge), and
  * whole-stage-codegen spans can be inspected per round.
  *
  * Usage: `sbt "runMain graft.Plans [sfDir] [query ...]"`
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq(
      "q1_pricing_summary", "q_revenue_by_nation", "q_candles_daily",
      "q_ngram_jaccard_pairs", "q_minhash_pairs", "q_simhash_fingerprints",
      "q_embed_dedup_lsh", "q_ann_topk", "q_asof_join", "q_token_counts")
    val spark = GraftSession.local(4)
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          println(s"\n========== $name ==========")
          try fn(spark, sfDir).explain("formatted")
          catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
        case None => println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
