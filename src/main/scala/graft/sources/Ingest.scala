package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Ingestion orchestration (reference alphavantage.py:247-277,
  * yahoo_finance.py:192-250 — S13/S14): fetch a payload, parse it with the
  * offline-testable [[JsonPayloads]] operators, land it in bronze under the
  * filename convention, return a status envelope.
  *
  * The fetch function is injected (`(url, params) => Option[String]`) so the
  * pipeline is fully exercisable in the zero-egress environment — production
  * wires [[Http.get]]; tests wire fixture payloads. Mirrors the reference's
  * envelope states: `success` / `error` + `records_count`.
  */
final class Ingest(
    spark: SparkSession,
    lake: Lake,
    fetch: (String, Map[String, String]) => Option[String],
    batchDelayMs: Long = 0L) {

  private val avBase = "https://www.alphavantage.co/query"
  private val yahooBase = "https://query1.finance.yahoo.com/v8/finance/chart/"

  /** S14 Alpha Vantage daily-stock ingest (reference alphavantage.py:247-277). */
  def fetchAndStoreStock(symbol: String, apiKey: String = "demo",
      outputSize: String = "full"): Map[String, Any] =
    fetchAndLand(avBase, Map("function" -> "TIME_SERIES_DAILY", "symbol" -> symbol,
      "outputsize" -> outputSize, "apikey" -> apiKey), symbol, "alphavantage", s"stock_$symbol")(
      p => JsonPayloads.parseAlphaVantageStock(spark, Seq(p), symbol))

  /** S14 Yahoo chart ingest (reference yahoo_finance.py:192-221).
    *
    * `period1`/`period2` default to the reference's 730-day lookback window
    * ending now (yahoo_finance.py:104-107).
    */
  def fetchAndStoreStockYahoo(symbol: String, interval: String = "1d",
      period1: Option[Long] = None, period2: Option[Long] = None): Map[String, Any] = {
    val now = System.currentTimeMillis() / 1000L
    val p1 = period1.getOrElse(now - 730L * 86400L)
    val p2 = period2.getOrElse(now)
    fetchAndLand(yahooBase + symbol, Map(
      "period1" -> p1.toString, "period2" -> p2.toString, "interval" -> interval,
      "includePrePost" -> "false", "events" -> "div,split"), symbol, "yahoo_finance", s"stock_$symbol")(
      p => JsonPayloads.parseYahooChart(spark, Seq(p), symbol))
  }

  /** Forex pair ingest (reference routes.py:46-61): `"USD_EUR"`-style pair →
    * error envelope on malformed pair, else AV FX fetch + bronze landing under
    * `alphavantage_forex_{pair}_{date}`.
    */
  def fetchAndStoreForex(pair: String, apiKey: String = "demo"): Map[String, Any] =
    pair.split('_') match {
      case Array(from, to) =>
        fetchAndLand(avBase, Map("function" -> "FX_DAILY", "from_symbol" -> from,
          "to_symbol" -> to, "apikey" -> apiKey), pair, "alphavantage", s"forex_$pair")(
          p => JsonPayloads.parseAlphaVantageForex(spark, Seq(p), from, to))
      case _ => Map("status" -> "error",
        "message" -> s"Invalid forex pair format: $pair. Use format 'FROM_TO'")
    }

  /** Economic-indicator ingest (reference routes.py:63-73): whitelisted
    * indicator → AV economic fetch + bronze landing.
    */
  def fetchAndStoreEconomic(indicator: String, apiKey: String = "demo"): Map[String, Any] =
    JsonPayloads.economicIndicators.get(indicator.toUpperCase) match {
      case None => Map("status" -> "error", "message" -> s"unsupported indicator '$indicator'")
      case Some(fn) =>
        fetchAndLand(avBase, Map("function" -> fn, "apikey" -> apiKey), indicator,
          "alphavantage", s"economic_$indicator")(
          p => JsonPayloads.parseAlphaVantageEconomic(spark, Seq(p), indicator))
    }

  /** Crypto ingest (reference routes.py:86-94): Yahoo chart fetch of the
    * `-USD`-suffixed symbol through the crypto parser.
    */
  def fetchAndStoreCrypto(symbol: String): Map[String, Any] =
    fetchAndLand(yahooBase + JsonPayloads.cryptoPairSymbol(symbol), Map("interval" -> "1d"),
      symbol, "yahoo_finance", s"crypto_$symbol")(
      p => JsonPayloads.parseYahooCrypto(spark, Seq(p), symbol))

  /** Shared fetch-and-land envelope: fetch one payload, parse it, and land
    * the rows in bronze as `{source}_{dataType}_{date}`. The row count comes
    * from the landing write itself, so the payload is parsed once; an empty
    * parse lands nothing and leaves an earlier dataset of the name as it was.
    * `what` names the request in the error messages.
    */
  private def fetchAndLand(url: String, params: Map[String, String], what: String,
      source: String, dataType: String)(parse: String => DataFrame): Map[String, Any] =
    fetch(url, params) match {
      case None => Map("status" -> "error", "message" -> s"fetch failed for $what")
      case Some(payload) =>
        val (path, n) = lake.writeCounted(parse(payload), "bronze",
          lake.generateFilename(source, dataType), keep = _ > 0)
        if (n == 0) Map("status" -> "error", "message" -> s"no data for $what")
        else Map("status" -> "success", "records_count" -> n, "file_path" -> path)
    }

  /** S13 batch multi-symbol fetch (reference yahoo_finance.py:224-250):
    * sequential per-symbol fetch+store with an inter-symbol delay, per-symbol
    * status map.
    */
  def batchFetchSymbols(symbols: Seq[String]): Map[String, Map[String, Any]] =
    symbols.zipWithIndex.map { case (sym, i) =>
      if (i > 0 && batchDelayMs > 0) Thread.sleep(batchDelayMs)
      sym -> fetchAndStoreStockYahoo(sym)
    }.toMap
}
