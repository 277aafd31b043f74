package graft

/** Local stand-in for the driver's t1 smoke: `SparkEntry.entry` on sf0.001
  * must return rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n (${if (n > 0) "PASS" else "FAIL"})")
    spark.stop()
  }
}
