package graft

import graft.sources.Lake

/** Co-located joins via bucketing: the pre-shuffled layout must let Catalyst
  * plan bucket-key joins and aggregations with NO exchange.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("join of two tables bucketed on the key plans without a shuffle") {
    val root = java.nio.file.Files.createTempDirectory("lake").toString
    val lake = Lake(spark, root)
    val orders = (1L to 1000L).map(i => (i, i % 100, i * 1.5)).toDF("o_id", "cust", "total")
    val items = (1L to 3000L).map(i => (i % 1000 + 1, i, 2.0)).toDF("o_id", "item", "price")
    lake.writeBucketed(orders, "b_orders", Seq("o_id"), 8, sortCols = Seq("o_id"))
    lake.writeBucketed(items, "b_items", Seq("o_id"), 8, sortCols = Seq("o_id"))

    // disable auto-broadcast so a non-bucketed layout WOULD shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders").join(spark.table("b_items"), "o_id")
      joined.count() shouldBe 3000
      val plan = joined.queryExecution.executedPlan.toString
      plan should not include "ShuffleExchange"
      plan should not include "Exchange hashpartitioning"
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_items")
  }
}
