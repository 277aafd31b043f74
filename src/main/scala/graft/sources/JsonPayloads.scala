package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Fns

/** Parsers for the upstream API payload shapes (Alpha Vantage / Yahoo Finance
  * chart JSON — reference alphavantage.py:21-244, yahoo_finance.py:89-189),
  * expressed as `from_json` + `explode` pipelines over payload strings.
  *
  * The HTTP shell ([[Http]]) is deliberately separate so these operators are
  * testable offline (zero-egress environment) and reusable as the
  * record-decode step of a streaming source (payloads arriving on a message
  * bus decode with exactly these functions inside the stream).
  *
  * Scale: one payload string → O(thousands) rows via a Generator (explode) —
  * narrow, codegen'd, no shuffle. A fleet of payloads parallelizes by payload
  * row.
  */
object JsonPayloads {

  import scala.jdk.CollectionConverters._

  private def payloadDf(spark: SparkSession, payloads: Seq[String]): DataFrame =
    spark.createDataFrame(
      payloads.map(org.apache.spark.sql.Row(_)).asJava,
      StructType(Seq(StructField("payload", StringType))))

  /** S7 Alpha Vantage `TIME_SERIES_DAILY` (reference alphavantage.py:21-92):
    * `{"Time Series (Daily)": {date: {"1. open": "...", ...}}}` map-of-maps →
    * one row per date with canonical OHLCV names, numeric casts
    * (alphavantage.py:70-72), `symbol` and `source` literals
    * (alphavantage.py:78-79).
    */
  def parseAlphaVantageStock(spark: SparkSession, payloads: Seq[String], symbol: String): DataFrame =
    decodeAlphaVantageStock(payloadDf(spark, payloads), "payload", lit(symbol))

  /** Column-level decode of S7 — composes into a streaming plan: a stream of
    * (payload, symbol) rows from a message bus decodes with exactly this
    * operator (`readStream → decodeAlphaVantageStock → candles → sink`).
    */
  def decodeAlphaVantageStock(df: DataFrame, payloadCol: String, symbol: Column): DataFrame = {
    val quote = StructType(Seq("1. open", "2. high", "3. low", "4. close", "5. volume")
      .map(StructField(_, StringType)))
    val schema = StructType(Seq(StructField("Time Series (Daily)", MapType(StringType, quote))))
    df.select(symbol.as("__sym"),
        explode(from_json(col(payloadCol), schema).getField("Time Series (Daily)")).as(Seq("date", "q")))
      .select(
        Fns.coerceTimestamp(col("date")).as("timestamp"),
        Fns.coerceDouble(col("q").getField("1. open")).as("open"),
        Fns.coerceDouble(col("q").getField("2. high")).as("high"),
        Fns.coerceDouble(col("q").getField("3. low")).as("low"),
        Fns.coerceDouble(col("q").getField("4. close")).as("close"),
        Fns.coerceLong(col("q").getField("5. volume")).as("volume"),
        col("__sym").as("symbol"),
        lit("alphavantage").as("source"))
  }

  /** S8 Alpha Vantage `FX_DAILY` (reference alphavantage.py:94-166): same map
    * shape, no volume, `"4. close"` → `rate`.
    */
  def parseAlphaVantageForex(
      spark: SparkSession, payloads: Seq[String],
      fromCurrency: String, toCurrency: String): DataFrame = {
    val quote = StructType(Seq("1. open", "2. high", "3. low", "4. close").map(StructField(_, StringType)))
    val schema = StructType(Seq(StructField("Time Series FX (Daily)", MapType(StringType, quote))))
    payloadDf(spark, payloads)
      .select(explode(from_json(col("payload"), schema).getField("Time Series FX (Daily)")).as(Seq("date", "q")))
      .select(
        Fns.coerceTimestamp(col("date")).as("timestamp"),
        Fns.coerceDouble(col("q").getField("1. open")).as("open"),
        Fns.coerceDouble(col("q").getField("2. high")).as("high"),
        Fns.coerceDouble(col("q").getField("3. low")).as("low"),
        Fns.coerceDouble(col("q").getField("4. close")).as("rate"),
        lit(fromCurrency).as("from_currency"),
        lit(toCurrency).as("to_currency"),
        lit("alphavantage").as("source"))
  }

  /** S9 Alpha Vantage economic indicator (reference alphavantage.py:168-244):
    * `{"data": [{"date","value"}]}` array → rows, `value` cast, `date` →
    * `timestamp`, indicator/country/source literals (alphavantage.py:222-231).
    */
  def parseAlphaVantageEconomic(spark: SparkSession, payloads: Seq[String], indicator: String): DataFrame = {
    val schema = StructType(Seq(StructField("data",
      ArrayType(StructType(Seq(StructField("date", StringType), StructField("value", StringType)))))))
    payloadDf(spark, payloads)
      .select(explode(from_json(col("payload"), schema).getField("data")).as("d"))
      .select(
        Fns.coerceTimestamp(col("d").getField("date")).as("timestamp"),
        Fns.coerceDouble(col("d").getField("value")).as("value"),
        lit(indicator).as("indicator"),
        lit("USA").as("country"),
        lit("alphavantage").as("source"))
  }

  /** Whitelisted indicator → API function map (reference alphavantage.py:179-185). */
  val economicIndicators: Map[String, String] = Map(
    "GDP" -> "REAL_GDP", "INFLATION" -> "INFLATION", "UNEMPLOYMENT" -> "UNEMPLOYMENT",
    "RETAIL_SALES" -> "RETAIL_SALES", "CPI" -> "CPI")

  /** S10 Yahoo chart payload (reference yahoo_finance.py:89-155): parallel
    * arrays `timestamp[]` + `quote.{open,high,low,close,volume}[]` zipped to
    * rows (yahoo_finance.py:137-146), epoch-seconds → timestamp
    * (yahoo_finance.py:138), rows with any null dropped (yahoo_finance.py:149).
    */
  def parseYahooChart(spark: SparkSession, payloads: Seq[String], symbol: String): DataFrame =
    decodeYahooChart(payloadDf(spark, payloads), "payload", lit(symbol))

  /** Column-level decode of S10 (streaming-composable, see
    * [[decodeAlphaVantageStock]]).
    */
  def decodeYahooChart(df: DataFrame, payloadCol: String, symbol: Column): DataFrame = {
    val quote = StructType(Seq(
      StructField("open", ArrayType(DoubleType)), StructField("high", ArrayType(DoubleType)),
      StructField("low", ArrayType(DoubleType)), StructField("close", ArrayType(DoubleType)),
      StructField("volume", ArrayType(LongType))))
    val schema = StructType(Seq(StructField("chart", StructType(Seq(StructField("result",
      ArrayType(StructType(Seq(
        StructField("timestamp", ArrayType(LongType)),
        StructField("indicators", StructType(Seq(StructField("quote", ArrayType(quote))))))))))))))
    val r = df
      .select(symbol.as("__sym"),
        explode(from_json(col(payloadCol), schema).getField("chart").getField("result")).as("r"))
      .select(col("__sym"), col("r").getField("timestamp").as("ts"),
        element_at(col("r").getField("indicators").getField("quote"), 1).as("q"))
    r.select(col("__sym"), explode(arrays_zip(
        col("ts").as("t"), col("q").getField("open").as("open"), col("q").getField("high").as("high"),
        col("q").getField("low").as("low"), col("q").getField("close").as("close"),
        col("q").getField("volume").as("volume"))).as("z"))
      .select(
        timestamp_seconds(col("z.t")).as("timestamp"),
        col("z.open").as("open"), col("z.high").as("high"), col("z.low").as("low"),
        col("z.close").as("close"), col("z.volume").as("volume"),
        col("__sym").as("symbol"), lit("yahoo_finance").as("source"))
      .na.drop("any")
  }

  /** S11 Yahoo crypto (reference yahoo_finance.py:157-189): `-USD`-suffixed
    * symbol through S10, `close` → `price`, `data_type='crypto'`,
    * `base_symbol = split(symbol,'-')[0]`.
    */
  /** `-USD` pair-suffix rule (yahoo_finance.py:160) — the ONE definition both
    * the fetch URL ([[Ingest.fetchAndStoreCrypto]]) and the landed `symbol`
    * column derive from, so they can never disagree.
    */
  def cryptoPairSymbol(symbol: String): String =
    if (symbol.contains("-")) symbol else s"$symbol-USD"

  def parseYahooCrypto(spark: SparkSession, payloads: Seq[String], symbol: String): DataFrame = {
    val full = cryptoPairSymbol(symbol)
    parseYahooChart(spark, payloads, full)
      .withColumnRenamed("close", "price")
      .withColumn("data_type", lit("crypto"))
      .withColumn("base_symbol", Fns.baseSymbol(col("symbol")))
  }

  /** Polygon.io daily-aggregates payload (`/v2/aggs/ticker/{T}/range/1/day/…`,
    * public API docs): `{"ticker": "...", "results": [{"t": epoch_ms, "o",
    * "h", "l", "c", "v", "vw", "n"}], "status": "OK"}` → canonical OHLCV rows
    * plus the aggregate-only extras (`vwap`, `n_trades`). The reference
    * declares the key (config.py:14 POLYGON_API_KEY) but never ships a
    * fetcher, so this parser is parity-completing: same canonical column
    * contract as the S7 Alpha Vantage decode, `source = "polygon"`.
    * The payload's own `ticker` wins over the caller's symbol (the API echoes
    * the resolved ticker); the fallback covers error envelopes without one.
    */
  def parsePolygonAggs(spark: SparkSession, payloads: Seq[String], symbol: String): DataFrame =
    decodePolygonAggs(payloadDf(spark, payloads), "payload", lit(symbol))

  /** Column-level decode of the Polygon aggregates payload
    * (streaming-composable, see [[decodeAlphaVantageStock]]).
    */
  def decodePolygonAggs(df: DataFrame, payloadCol: String, fallbackSymbol: Column): DataFrame = {
    val bar = StructType(Seq(
      StructField("t", LongType), StructField("o", DoubleType),
      StructField("h", DoubleType), StructField("l", DoubleType),
      StructField("c", DoubleType), StructField("v", DoubleType),
      StructField("vw", DoubleType), StructField("n", LongType)))
    val schema = StructType(Seq(StructField("ticker", StringType),
      StructField("results", ArrayType(bar)), StructField("status", StringType)))
    df.select(fallbackSymbol.as("__sym"), from_json(col(payloadCol), schema).as("p"))
      .select(col("__sym"), col("p").getField("ticker").as("__ticker"),
        explode(col("p").getField("results")).as("b"))
      .select(
        timestamp_millis(col("b").getField("t")).as("timestamp"),
        col("b").getField("o").as("open"),
        col("b").getField("h").as("high"),
        col("b").getField("l").as("low"),
        col("b").getField("c").as("close"),
        // volume arrives as a JSON number (may carry a fractional part for
        // adjusted aggregates) — floor-cast to long like the CSV loaders
        col("b").getField("v").cast(LongType).as("volume"),
        col("b").getField("vw").as("vwap"),
        col("b").getField("n").as("n_trades"),
        coalesce(col("__ticker"), col("__sym")).as("symbol"),
        lit("polygon").as("source"))
  }
}
