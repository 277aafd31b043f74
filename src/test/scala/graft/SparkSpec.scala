package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one JVM-wide session — scalatest
  * runs suites sequentially in the forked JVM).
  */
trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.session

  def rows(df: DataFrame): Seq[Row] = df.collect().toIndexedSeq

  /** Timestamp literal helper: `ts("2024-01-02 03:04:05")` (UTC). */
  def tsLit(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(if (s.length == 10) s + " 00:00:00" else s)

  /** Runs `body` and returns its result with the number of Spark jobs started
    * meanwhile, counted from listener events after the bus has drained.
    */
  def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBridge.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.TestListenerBridge.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.ui.enabled", false)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
