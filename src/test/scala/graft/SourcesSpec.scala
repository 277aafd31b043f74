package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{CsvAutoLoader, Ingest, JsonPayloads, Lake}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  // --- CSV auto-detection (reference csv_loader.py) ------------------------

  test("stock CSV: canonical headers detected, Adj Close not preferred over Close") {
    val df = CsvAutoLoader.loadStockCsv(spark, "/root/repo/fixtures/stock_canonical.csv").get
    df.columns should contain allOf ("timestamp", "symbol", "open", "high", "low", "close", "volume", "source")
    df.count() shouldBe 5
    rows(df.filter(col("symbol") === "AAPL" && col("timestamp") === tsLit("2024-01-02"))
      .select("close")).head.getDouble(0) shouldBe 185.64
    rows(df.select("source").distinct()).head.getString(0) shouldBe "csv_import"
  }

  test("stock CSV: symbol from filename, synonym columns (closing/vol), coerce bad cell") {
    val df = CsvAutoLoader.loadStockCsv(spark, "/root/repo/fixtures/AAPL_daily.csv").get
    rows(df.select("symbol").distinct()).head.getString(0) shouldBe "AAPL"
    df.columns should contain allOf ("close", "volume")
    // 'n/a' open on row 3 -> null under coerce semantics
    rows(df.orderBy("timestamp").select("open")).map(_.isNullAt(0)) shouldBe Seq(false, false, true)
  }

  test("economic CSV: value column detected from synonym list ('amount')") {
    val df = CsvAutoLoader.loadEconomicCsv(spark, "/root/repo/fixtures/economic_gdp.csv", "GDP").get
    df.columns should contain allOf ("timestamp", "value", "indicator", "country", "source")
    rows(df.orderBy(col("timestamp").desc).select("value")).head.getDouble(0) shouldBe 27360.9
    rows(df.select("country").distinct()).head.getString(0) shouldBe "Unknown"
  }

  test("stock CSV: undetectable date column -> None, not an exception") {
    val p = java.nio.file.Files.createTempFile("nocols", ".csv")
    java.nio.file.Files.writeString(p, "a,b\n1,2\n")
    CsvAutoLoader.loadStockCsv(spark, p.toString) shouldBe None
  }

  // --- JSON payload parsers (reference alphavantage.py / yahoo_finance.py) --

  test("Alpha Vantage stock payload -> canonical OHLCV rows") {
    val df = JsonPayloads.parseAlphaVantageStock(spark, Seq(Fixtures.avStock), "AAPL")
      .orderBy("timestamp")
    df.count() shouldBe 2
    df.schema("volume").dataType shouldBe LongType
    val r = rows(df).head
    r.getTimestamp(0) shouldBe tsLit("2024-01-02")
    r.getAs[Double]("open") shouldBe 187.15
    r.getAs[Long]("volume") shouldBe 82488700L
    r.getAs[String]("symbol") shouldBe "AAPL"
    r.getAs[String]("source") shouldBe "alphavantage"
  }

  test("Alpha Vantage forex payload -> rate column from '4. close'") {
    val df = JsonPayloads.parseAlphaVantageForex(spark, Seq(Fixtures.avForex), "USD", "EUR")
    df.columns should contain allOf ("rate", "from_currency", "to_currency")
    rows(df.orderBy("timestamp").select("rate")).map(_.getDouble(0)) shouldBe Seq(0.9123, 0.9145)
  }

  test("Alpha Vantage economic payload -> value/indicator/country rows") {
    val df = JsonPayloads.parseAlphaVantageEconomic(spark, Seq(Fixtures.avEconomic), "GDP")
    rows(df.orderBy("timestamp")).map(r => (r.getAs[Double]("value"), r.getAs[String]("indicator"),
      r.getAs[String]("country"))) shouldBe Seq((26996.4, "GDP", "USA"), (27360.9, "GDP", "USA"))
  }

  test("Yahoo chart payload: parallel arrays zipped, null row dropped (dropna)") {
    val df = JsonPayloads.parseYahooChart(spark, Seq(Fixtures.yahooChart), "AAPL")
    df.count() shouldBe 2 // middle slot has null open
    rows(df.orderBy("timestamp").select("timestamp")).head.getTimestamp(0) shouldBe
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1704207600L))
  }

  test("Yahoo crypto: -USD suffix, close->price rename, base_symbol derivation") {
    val df = JsonPayloads.parseYahooCrypto(spark, Seq(Fixtures.yahooChart), "BTC")
    df.columns should contain allOf ("price", "base_symbol", "data_type")
    df.columns should not contain "close"
    val r = rows(df).head
    r.getAs[String]("symbol") shouldBe "BTC-USD"
    r.getAs[String]("base_symbol") shouldBe "BTC"
    r.getAs[String]("data_type") shouldBe "crypto"
  }

  test("error payloads produce empty frames, not exceptions") {
    JsonPayloads.parseAlphaVantageStock(spark, Seq("""{"Error Message": "bad"}"""), "X").count() shouldBe 0
    JsonPayloads.parseYahooChart(spark, Seq("""{"chart": {"result": []}}"""), "X").count() shouldBe 0
  }

  // --- Lake (reference storage.py / helpers.py) -----------------------------

  test("lake write/read/list/find/latest/delete/info round-trip") {
    val root = java.nio.file.Files.createTempDirectory("lake").toString
    val lake = Lake(spark, root)
    val df = Seq(("AAPL", tsLit("2024-01-02"), 185.64), ("MSFT", tsLit("2024-01-03"), 140.93))
      .toDF("symbol", "timestamp", "close")
    lake.write(df, "bronze", "alphavantage_stock_20240102")
    lake.write(df, "bronze", "alphavantage_stock_20240105")
    lake.write(df, "bronze", "yahoo_crypto_20240103")

    lake.list("bronze") shouldBe Seq(
      "alphavantage_stock_20240102", "alphavantage_stock_20240105", "yahoo_crypto_20240103")
    lake.find("bronze", "alphavantage", "stock").size shouldBe 2
    // latest picks max trailing date token (storage.py:158-170)
    lake.latest("bronze", "alphavantage", "stock").get.count() shouldBe 2
    lake.read("bronze", "alphavantage_stock_20240102").count() shouldBe 2
    lake.read("bronze", "missing_dataset").schema.isEmpty shouldBe true

    val info = lake.info("bronze", "alphavantage_stock_20240102")
    info("num_rows") shouldBe 2L
    info("start_date") shouldBe tsLit("2024-01-02")
    info("symbols").asInstanceOf[Seq[String]] shouldBe Seq("AAPL", "MSFT")
    // name tokens (helpers.py:96-98): source and data_type from the filename
    info("source") shouldBe "alphavantage"
    info("data_type") shouldBe "stock"

    lake.delete("bronze", "yahoo_crypto_20240103") shouldBe true
    lake.delete("bronze", "yahoo_crypto_20240103") shouldBe false
    lake.list("bronze").size shouldBe 2

    // a name with no underscore token falls back to "unknown" (helpers.py:98)
    lake.write(df, "bronze", "solo")
    lake.info("bronze", "solo")("source") shouldBe "solo"
    lake.info("bronze", "solo")("data_type") shouldBe "unknown"
  }

  test("Lake.info: no date column gives num_rows and no date keys; an empty dataset gives 0 rows and null dates") {
    val lake = Lake(spark, java.nio.file.Files.createTempDirectory("lake").toString)
    lake.write(Seq(("AAPL", 1.0), ("MSFT", 2.0), ("AAPL", 3.0)).toDF("symbol", "close"),
      "bronze", "nodate_stock_20240101")
    val plain = lake.info("bronze", "nodate_stock_20240101")
    plain("num_rows") shouldBe 3L
    plain.keySet should contain noneOf ("start_date", "end_date")
    plain("symbols") shouldBe Seq("AAPL", "MSFT")
    lake.write(Seq.empty[(String, java.sql.Timestamp)].toDF("symbol", "timestamp"),
      "bronze", "hollow_stock_20240101")
    val empty = lake.info("bronze", "hollow_stock_20240101")
    empty("exists") shouldBe true
    empty("num_rows") shouldBe 0L
    empty.get("start_date") shouldBe Some(null)
    empty.get("end_date") shouldBe Some(null)
    empty("symbols") shouldBe Seq.empty
  }

  test("Lake.info symbols: a NULL symbol lists first, as distinct().orderBy puts it; " +
    "more than 50 distinct symbols cut to the first 50 plus '...'") {
    val lake = Lake(spark, java.nio.file.Files.createTempDirectory("lake").toString)
    lake.write(Seq[(String, Double)](("MSFT", 1.0), (null, 2.0), ("AAPL", 3.0), (null, 4.0))
      .toDF("symbol", "close"), "bronze", "nullsym_stock_20240101")
    lake.info("bronze", "nullsym_stock_20240101")("symbols") shouldBe Seq(null, "AAPL", "MSFT")
    val many = (0 until 120).map(i => (f"S$i%03d", i.toDouble)).reverse
    lake.write(many.toDF("symbol", "close"), "bronze", "many_stock_20240101")
    lake.info("bronze", "many_stock_20240101")("symbols") shouldBe
      ((0 until 50).map(i => f"S$i%03d") :+ "...")
    // with a NULL, the cut keeps it first and 49 named symbols
    lake.write((many :+ ((null: String) -> 0.5)).toDF("symbol", "close"),
      "bronze", "manynull_stock_20240101")
    lake.info("bronze", "manynull_stock_20240101")("symbols") shouldBe
      ((null +: (0 until 49).map(i => f"S$i%03d")) :+ "...")
  }

  test("generateFilename follows {source}_{type}_{YYYYMMDD} (helpers.py:23-28)") {
    val lake = Lake(spark, "/tmp/x")
    lake.generateFilename("alphavantage", "stock", java.time.LocalDate.of(2024, 1, 2)) shouldBe
      "alphavantage_stock_20240102.parquet"
  }

  // --- Ingest wrappers (reference routes.py:37-131, yahoo_finance.py:104-107)

  private def ingestWith(payloads: Map[String, String],
      capture: scala.collection.mutable.Map[String, String] => Unit = _ => ()): (Ingest, Lake) = {
    val root = java.nio.file.Files.createTempDirectory("lake").toString
    val lake = Lake(spark, root)
    val captured = scala.collection.mutable.Map[String, String]()
    val fetch = (url: String, params: Map[String, String]) => {
      params.foreach { case (k, v) => captured(k) = v }
      capture(captured)
      payloads.collectFirst { case (frag, p) if url.contains(frag) || params.values.exists(_.contains(frag)) => p }
        .orElse(payloads.get("*"))
    }
    (new Ingest(spark, lake, fetch), lake)
  }

  test("fetchAndStoreStockYahoo defaults period1/period2 to a 730-day window (yahoo_finance.py:104-107)") {
    var seen = Map.empty[String, String]
    val (ingest, lake) = ingestWith(Map("*" -> Fixtures.yahooChart), m => seen = m.toMap)
    val res = ingest.fetchAndStoreStockYahoo("AAPL")
    res("status") shouldBe "success"
    res("records_count") shouldBe 2L
    val now = System.currentTimeMillis() / 1000L
    val p1 = seen("period1").toLong
    val p2 = seen("period2").toLong
    (p2 - p1) shouldBe (730L * 86400L)
    (now - p2) should be < 120L
    seen("events") shouldBe "div,split"
    lake.find("bronze", "yahoo_finance", "stock_AAPL").size shouldBe 1
  }

  test("fetchAndStoreForex: pair split, malformed pair -> error envelope (routes.py:46-61)") {
    val (ingest, lake) = ingestWith(Map("*" -> Fixtures.avForex))
    ingest.fetchAndStoreForex("USDEUR")("status") shouldBe "error"
    val ok = ingest.fetchAndStoreForex("USD_EUR")
    ok("status") shouldBe "success"
    ok("records_count") shouldBe 2L
    lake.find("bronze", "alphavantage", "forex_USD_EUR").size shouldBe 1
    rows(lake.latest("bronze", "alphavantage", "forex").get.select("from_currency"))
      .map(_.getString(0)).toSet shouldBe Set("USD")
  }

  test("fetchAndStoreEconomic: whitelist dispatch, unknown indicator -> error (routes.py:63-73)") {
    val (ingest, lake) = ingestWith(Map("*" -> Fixtures.avEconomic))
    ingest.fetchAndStoreEconomic("NOT_A_THING")("status") shouldBe "error"
    val ok = ingest.fetchAndStoreEconomic("GDP")
    ok("status") shouldBe "success"
    ok("records_count") shouldBe 2L
    lake.find("bronze", "alphavantage", "economic_GDP").size shouldBe 1
  }

  test("fetchAndStoreCrypto: -USD suffixing and crypto parser landing (routes.py:86-94)") {
    val (ingest, lake) = ingestWith(Map("*" -> Fixtures.yahooChart))
    val ok = ingest.fetchAndStoreCrypto("BTC")
    ok("status") shouldBe "success"
    val df = lake.latest("bronze", "yahoo_finance", "crypto_BTC").get
    rows(df.select("base_symbol")).map(_.getString(0)).toSet shouldBe Set("BTC")
    df.columns should contain("price")
  }

  // --- Transform destination naming (reference transformers.py:196-214) ----

  test("destinationName derives {source}_{type}_{transform}_{date} through one lake root") {
    import graft.operators.Transforms
    val d = java.time.LocalDate.of(2024, 1, 2)
    Transforms.destinationName("alphavantage_stock_20240101.parquet", "clean", d) shouldBe
      "alphavantage_stock_clean_20240102.parquet"
    Transforms.destinationName("some/dir/alphavantage_stock_20240101.parquet", "aggregate", d) shouldBe
      "alphavantage_aggregate_stock_20240102.parquet"
    Transforms.destinationName("weird.parquet", "normalize", d) shouldBe
      "weird_data_normalize_20240102.parquet"
  }

  test("transformAndStore reads source layer, lands named output in dest layer") {
    import graft.operators.Transforms
    val root = java.nio.file.Files.createTempDirectory("lake").toString
    val lake = Lake(spark, root)
    val df = Seq(("2024-01-02 00:00:00", "10.5"), ("2024-01-02 00:00:00", "10.5"), ("2024-01-03 00:00:00", "n/a"))
      .toDF("timestamp", "close")
    lake.write(df, "bronze", "csvimport_stock_20240102")
    val res = Transforms.transformAndStore(lake, "bronze", "csvimport_stock_20240102", "clean", "silver")
    res("status") shouldBe "success"
    res("records_count") shouldBe 2L // dedup removed one of the identical rows
    val landed = lake.find("silver", "csvimport", "stock").head
    landed should startWith("csvimport_stock_clean_")
    Transforms.transformAndStore(lake, "bronze", "nope_20240102", "clean", "silver")("status") shouldBe "error"
  }

  test("writeAudited: green audit publishes atomically; failed audit keeps the old version") {
    import graft.operators.Checks._
    val root = java.nio.file.Files.createTempDirectory("graft_wap_spec").toString
    val lake = Lake(spark, root)
    val v1 = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    val (r1, ok1) = lake.writeAudited(v1, "gold", "guarded",
      Seq(RowCountMin(2L), NotNull("v"), Unique("id")))
    ok1 shouldBe true
    r1.collect().foreach(_.getBoolean(4) shouldBe true)
    rows(lake.read("gold", "guarded").orderBy("id")).map(_.getLong(0)) shouldBe Seq(1L, 2L)
    // bad v2: null v + duplicate id → rejected, v1 survives, staging cleaned
    val v2 = Seq((1L, Option.empty[Double]), (1L, Some(5.0))).toDF("id", "v")
    val (r2, ok2) = lake.writeAudited(v2, "gold", "guarded", Seq(NotNull("v"), Unique("id")))
    ok2 shouldBe false
    r2.filter(!col("passed")).count() shouldBe 2L
    rows(lake.read("gold", "guarded").orderBy("id")).map(_.getLong(0)) shouldBe Seq(1L, 2L)
    new java.io.File(s"$root/gold").listFiles().map(_.getName)
      .count(_.startsWith(".staging")) shouldBe 0
  }
}
