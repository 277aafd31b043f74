package graft
package suite

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its Spark builder and the DuckDB dual that defines
  * its correctness, side by side, so no query can lack a dual. The dual is
  * built on first use; running a query never needs it.
  */
final class Query(val name: String, val build: (SparkSession, String) => DataFrame,
    oracle: => String) {
  lazy val oracleSql: String = oracle
}

object Query {
  def apply(name: String, build: (SparkSession, String) => DataFrame,
      oracleSql: => String): Query = new Query(name, build, oracleSql)
}

/** The registry: every query family (perfbench's ten), one file each. */
object Suite {
  val families: Seq[(String, Seq[Query])] = Seq(
    "finance" -> FinanceQueries.queries,
    "stats" -> StatsQueries.queries,
    "tpch" -> TpchQueries.queries,
    "dedup" -> DedupQueries.queries,
    "similarity" -> SimilarityQueries.queries,
    "text" -> TextQueries.queries,
    "web" -> WebQueries.queries,
    "multimodal" -> MultimodalQueries.queries,
    "streaming" -> StreamingQueries.queries,
    "tx" -> TxQueries.queries)

  /** The records of `families` in order. A name registered twice fails here,
    * where a `Map` would silently keep only the last of the two.
    */
  def flatten(families: Seq[(String, Seq[Query])]): Seq[Query] = {
    val qs = families.flatMap(_._2)
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query registered twice: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  lazy val all: Seq[Query] = flatten(families)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] = all.map(q => q.name -> q.oracleSql).toMap
}
