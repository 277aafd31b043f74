package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of every entry point (Bench, Verify, Plans,
  * Smoke, BenchOverhead, ScaleProbe), so their configs cannot drift apart:
  *  - `local[cpus]` with `cpus` shuffle partitions;
  *  - UTC session zone (the oracle's zone);
  *  - ICU case mappings off — ICU `lower()` static init burns minutes of CPU;
  *  - `nanosAsLong`, so TIMESTAMP(NANOS) parquet reads as a long that
  *    `SparkEntry.events(s, dir)`, the events reader of every query family,
  *    normalizes;
  *  - UI off, log level WARN.
  */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
