package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Fns

/** CSV loaders with the reference's schema auto-detection
  * (reference csv_loader.py:20-177).
  *
  * Column detection is pure driver-side metadata logic over `df.columns` — it
  * never touches data, so the subsequent rename/cast pipeline stays a narrow,
  * pushdown-friendly plan over the file scan.
  */
object CsvAutoLoader {

  /** Synonym lists (reference csv_loader.py:40-54, 67-82, 136-147). Order
    * matters: first match wins.
    */
  val dateSynonyms = Seq("date", "time", "timestamp", "datetime")
  val symbolSynonyms = Seq("symbol", "ticker", "stock", "name")
  val priceSynonyms: Seq[(String, Seq[String])] = Seq(
    "open" -> Seq("open", "opening"),
    "high" -> Seq("high", "highest"),
    "low" -> Seq("low", "lowest"),
    "close" -> Seq("close", "closing", "adj_close", "adj close", "adjusted_close", "adjusted close"),
    "volume" -> Seq("volume", "vol"))
  val valueSynonyms = Seq("value", "indicator", "rate", "price", "amount")

  /** First column whose lowercase name is in (or contains a member of) the
    * synonym list — the reference matches case-insensitively and exact-first.
    */
  private def detect(columns: Seq[String], synonyms: Seq[String]): Option[String] = {
    val lower = columns.map(c => c -> c.toLowerCase)
    synonyms.collectFirst(Function.unlift { s =>
      lower.collectFirst { case (orig, lc) if lc == s => orig }
    }).orElse(synonyms.collectFirst(Function.unlift { s =>
      lower.collectFirst { case (orig, lc) if lc.contains(s) => orig }
    }))
  }

  private def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** S4 stock-CSV loader (reference csv_loader.py:20-111):
    *  - detect date column from synonyms → rename to `timestamp`, parse
    *  - detect symbol column → rename to `symbol`; else derive the symbol from
    *    the filename stem (`AAPL_daily.csv` → `AAPL`, csv_loader.py:85-88)
    *  - map price columns through synonym lists → canonical OHLCV names
    *  - add `source='csv_import'`; fill missing required columns with NULL
    *    (csv_loader.py:94-101)
    */
  def loadStockCsv(
      spark: SparkSession, path: String,
      symbolCol: Option[String] = None, dateCol: Option[String] = None): Option[DataFrame] = {
    val raw = readCsv(spark, path)
    val cols = raw.columns.toSeq
    val date = dateCol.orElse(detect(cols, dateSynonyms))
    if (date.isEmpty) return None

    var df = raw.withColumnRenamed(date.get, "timestamp")
      .withColumn("timestamp", Fns.coerceTimestamp(col("timestamp")))
    symbolCol.orElse(detect(df.columns.toSeq.filterNot(_ == "timestamp"), symbolSynonyms)) match {
      case Some(s) => df = df.withColumnRenamed(s, "symbol")
      case None =>
        val stem = new java.io.File(path).getName.stripSuffix(".csv")
        df = df.withColumn("symbol", lit(stem.split('_').head.toUpperCase))
    }
    priceSynonyms.foreach { case (canonical, syns) =>
      if (!df.columns.contains(canonical))
        detect(df.columns.toSeq, syns).foreach(c => df = df.withColumnRenamed(c, canonical))
    }
    Seq("open", "high", "low", "close").foreach { c =>
      if (df.columns.contains(c)) df = df.withColumn(c, Fns.coerceDouble(col(c)))
    }
    if (df.columns.contains("volume")) df = df.withColumn("volume", Fns.coerceLong(col("volume")))
    df = df.withColumn("source", lit("csv_import"))
    // fill absent required columns with typed NULLs (csv_loader.py:94-101)
    Seq("open", "high", "low", "close").foreach { c =>
      if (!df.columns.contains(c)) df = df.withColumn(c, lit(null).cast(DoubleType))
    }
    if (!df.columns.contains("volume")) df = df.withColumn("volume", lit(null).cast(LongType))
    Some(df)
  }

  /** S5 economic-CSV loader (reference csv_loader.py:113-177). */
  def loadEconomicCsv(
      spark: SparkSession, path: String, indicatorName: String,
      dateCol: Option[String] = None, valueCol: Option[String] = None,
      country: String = "Unknown"): Option[DataFrame] = {
    val raw = readCsv(spark, path)
    val cols = raw.columns.toSeq
    val date = dateCol.orElse(detect(cols, dateSynonyms))
    if (date.isEmpty) return None
    val value = valueCol.orElse(detect(cols.filterNot(_ == date.get), valueSynonyms))
    if (value.isEmpty) return None
    Some(raw
      .withColumnRenamed(date.get, "timestamp")
      .withColumn("timestamp", Fns.coerceTimestamp(col("timestamp")))
      .withColumnRenamed(value.get, "value")
      .withColumn("value", Fns.coerceDouble(col("value")))
      .withColumn("indicator", lit(indicatorName))
      .withColumn("country", lit(country))
      .withColumn("source", lit("csv_import")))
  }

  /** S6 CSV ingest driver (reference csv_loader.py:180-222): dispatch loader,
    * land in bronze under the filename convention, return a status envelope
    * whose `records_count` the landing write counted.
    */
  def loadAndStore(
      spark: SparkSession, lake: Lake, path: String, dataType: String,
      indicatorName: String = "UNKNOWN"): Map[String, Any] = {
    val loaded = dataType match {
      case "stock" => loadStockCsv(spark, path)
      case "economic" => loadEconomicCsv(spark, path, indicatorName)
      case other => return Map("status" -> "error", "message" -> s"unsupported data_type '$other'")
    }
    loaded match {
      case None => Map("status" -> "error", "message" -> s"could not detect schema in $path")
      case Some(df) =>
        val (out, n) = lake.writeCounted(df, "bronze", lake.generateFilename("csv_import", dataType))
        Map("status" -> "success", "records_count" -> n, "file_path" -> out)
    }
  }
}
