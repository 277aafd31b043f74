package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.sources.{Api, Ingest, Lake}

/** Endpoint-contract gate for the REST shell ([[graft.sources.Api]]) against
  * the reference's FastAPI semantics (reference routes.py:28-267): envelope
  * fields and statuses on /ingest (success / error / async pending),
  * 404/204 behavior on the dataset endpoints, JSON-records and CSV-download
  * bodies served through the oracle-gated Serving/Lake operators.
  */
class ApiSpec extends SparkSpec {

  private lazy val root = java.nio.file.Files.createTempDirectory("graft_api_lake").toString
  private lazy val lake = Lake(spark, root)
  // fixture-payload fetcher: the zero-egress stand-in for Http.get — URL
  // shape decides which canned payload "the API" returns
  private lazy val ingest = new Ingest(spark, lake, (url, params) =>
    if (url.contains("alphavantage")) params.get("function") match {
      case Some("TIME_SERIES_DAILY") => Some(Fixtures.avStock)
      case Some("FX_DAILY") => Some(Fixtures.avForex)
      case Some(_) => Some(Fixtures.avEconomic)
      case None => None
    }
    else if (url.contains("yahoo")) Some(Fixtures.yahooChart)
    else None)
  private lazy val api = new Api(spark, lake, ingest).start()
  private lazy val client = HttpClient.newHttpClient()
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api.port}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api.port}$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
  private def delete(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api.port}$path")).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())
  private def json(r: HttpResponse[String]): Map[String, Any] =
    mapper.readValue(r.body, classOf[Map[String, Any]])

  test("dashboard contract: GET / serves HTML; /api-prefixed routes resolve like bare ones " +
       "(the reference dashboard's fetch URLs, index.html:807-1016)") {
    val page = get("/")
    page.statusCode() shouldBe 200
    page.headers().firstValue("Content-Type").orElse("") should startWith("text/html")
    page.body should include("/api/datasets")
    // r12 parity pass: the three reference flows (ingest form, explore
    // browser incl. download + chart, transform form) and the stored-XSS
    // guard — everything interpolated into markup goes through esc()
    page.body should include("/api/ingest")
    page.body should include("/api/transform")
    page.body should include("download")
    page.body should include("sparkline")
    page.body should include("const esc=")
    page.body should not include "${n}</option>"   // unescaped interpolations are gone
    page.body should not include "${r[c]??''}</td>"
    // the info line reads the keys GET /datasets/{name} returns, and the
    // transform form offers exactly the operations POST /transform accepts
    // (its request carries no parameters, so no freq select)
    Seq("info.num_rows", "info.start_date", "info.end_date").foreach(page.body should include(_))
    Seq("record_count", "first_date", "last_date").foreach(page.body should not include _)
    val ops = "<select id=\"top\">(.*?)</select>".r.findFirstMatchIn(page.body).map(_.group(1))
    ops shouldBe Some("<option>clean</option><option>normalize</option><option>aggregate</option>")
    page.body should not include "tfreq"
    // same handler through the /api prefix the reference mounts (main.py:20)
    val bare = get("/datasets?layer=bronze")
    val prefixed = get("/api/datasets?layer=bronze")
    prefixed.statusCode() shouldBe 200
    prefixed.body shouldBe bare.body
    get("/api/nope").statusCode() shouldBe 404
  }

  test("POST /ingest csv lands the dataset; GET /datasets lists it (success envelope)") {
    val r = post("/ingest",
      """{"source": "csv", "data_type": "stock",
        | "params": {"file_path": "/root/repo/fixtures/stock_canonical.csv"}}""".stripMargin)
    r.statusCode() shouldBe 200
    val env = json(r)
    env("status") shouldBe "success"
    env("records_count").toString.toLong should be > 0L
    env("request_id").toString should not be empty
    val listed = mapper.readValue(get("/datasets").body, classOf[Seq[String]])
    listed.exists(_.startsWith("csv_import_stock_")) shouldBe true
  }

  test("POST /ingest csv error envelopes: missing param, missing file, bad data_type") {
    json(post("/ingest", """{"source": "csv", "data_type": "stock", "params": {}}"""))("message")
      .toString should include("file_path parameter is required")
    json(post("/ingest",
      """{"source": "csv", "data_type": "stock", "params": {"file_path": "/nope.csv"}}"""))(
      "message").toString should include("File not found")
    json(post("/ingest",
      """{"source": "csv", "data_type": "weird", "params": {"file_path": "/root/repo/fixtures/stock_canonical.csv"}}"""))(
      "status") shouldBe "error"
  }

  test("POST /ingest alphavantage stock returns PENDING immediately; background task lands bronze") {
    val env = json(post("/ingest",
      """{"source": "alphavantage", "data_type": "stock", "symbols": ["AAPL"]}"""))
    env("status") shouldBe "pending"
    env("message").toString should include("started")
    api.awaitBackground() // the lifecycle: pending → background fetch → landed
    lake.find("bronze", "alphavantage", "stock_AAPL") should not be empty
  }

  test("POST /ingest forex: malformed pair → error envelope with errors array; good pair → success") {
    val bad = json(post("/ingest",
      """{"source": "alphavantage", "data_type": "forex", "symbols": ["USDEUR"]}"""))
    bad("status") shouldBe "error"
    bad("message").toString should include("Invalid forex pair format")
    bad("errors").asInstanceOf[Seq[_]] should not be empty
    val good = json(post("/ingest",
      """{"source": "alphavantage", "data_type": "forex", "symbols": ["USD_EUR"]}"""))
    good("status") shouldBe "success"
    good("records_count").toString.toLong should be > 0L
  }

  test("POST /ingest unsupported source / data_type → error envelopes (routes.py:74-76,129-131)") {
    json(post("/ingest", """{"source": "kraken", "data_type": "stock"}"""))("status") shouldBe "error"
    json(post("/ingest",
      """{"source": "alphavantage", "data_type": "weird"}"""))("message")
      .toString should include("Unsupported data_type")
  }

  test("GET /datasets/{name} info vs 404; DELETE 204 then 404 (routes.py:155-171,261-267)") {
    lake.write(spark.range(5).toDF("n"), "bronze", "polygon_stock_20240101")
    val info = json(get("/datasets/polygon_stock_20240101"))
    info("exists") shouldBe true
    info("num_rows").toString.toLong shouldBe 5L
    info("source") shouldBe "polygon"
    get("/datasets/no_such_dataset").statusCode() shouldBe 404
    delete("/datasets/polygon_stock_20240101").statusCode() shouldBe 204
    delete("/datasets/polygon_stock_20240101").statusCode() shouldBe 404
    get("/datasets/polygon_stock_20240101").statusCode() shouldBe 404
  }

  test("GET /data/{layer}/{name} serves JSON records (inf/NaN→null, ISO timestamps); 404 when absent") {
    import spark.implicits._
    lake.write(Seq((1L, Double.NaN, tsLit("2024-01-02 03:04:05")))
      .toDF("id", "v", "timestamp"), "bronze", "demo_records_20240101")
    val r = get("/data/bronze/demo_records_20240101")
    r.statusCode() shouldBe 200
    val recs = mapper.readValue(r.body, classOf[Seq[Map[String, Any]]])
    recs should have size 1
    recs.head.get("v") shouldBe Some(null) // NaN → JSON null (routes.py:194)
    recs.head("timestamp").toString should endWith("Z")
    get("/data/bronze/absent_ds").statusCode() shouldBe 404
  }

  test("GET /data/latest/{type}/{source} picks max-date dataset; download returns CSV attachment") {
    import spark.implicits._
    lake.write(Seq(("OLD", 1.0)).toDF("symbol", "price"), "bronze", "demo2_latest_20240101")
    lake.write(Seq(("NEW", 2.0)).toDF("symbol", "price"), "bronze", "demo2_latest_20240301")
    val latest = mapper.readValue(get("/data/latest/latest/demo2").body, classOf[Seq[Map[String, Any]]])
    latest.map(_("symbol")) shouldBe Seq("NEW")
    get("/data/latest/latest/no_such_source").statusCode() shouldBe 404
    val dl = get("/data/bronze/demo2_latest_20240301/download")
    dl.statusCode() shouldBe 200
    dl.headers().firstValue("Content-Disposition").orElse("") should include("demo2_latest_20240301.csv")
    dl.body.linesIterator.toSeq.head shouldBe "symbol,price"
    dl.body should include("NEW,2.0")
  }

  test("an existing dataset with no rows: GET /data/{layer}/{name} and /data/latest/... still answer 404") {
    import spark.implicits._
    lake.write(Seq.empty[(String, Double)].toDF("symbol", "price"), "bronze", "hollow_vacant_20240101")
    val data = get("/data/bronze/hollow_vacant_20240101")
    data.statusCode() shouldBe 404
    json(data)("detail") shouldBe "Dataset 'hollow_vacant_20240101' not found or empty in layer 'bronze'."
    val latest = get("/data/latest/vacant/hollow")
    latest.statusCode() shouldBe 404
    json(latest)("detail") shouldBe "No data found for the specified type and source."
  }

  test("download of an existing empty dataset: 404 with today's message, no temp dir left; " +
       "a download runs one Spark job") {
    import spark.implicits._
    lake.write(Seq.empty[(String, Double)].toDF("symbol", "price"), "bronze", "hollow_dl_20240101")
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def csvTmps = tmpRoot.listFiles().map(_.getName).filter(_.startsWith("graft_api_csv")).toSet
    val before = csvTmps
    val empty = get("/data/bronze/hollow_dl_20240101/download")
    empty.statusCode() shouldBe 404
    json(empty)("detail") shouldBe "Dataset 'hollow_dl_20240101' not found or empty in layer 'bronze'."
    get("/data/bronze/absent_dl/download").statusCode() shouldBe 404
    lake.write(Seq(("AAPL", 1.0), ("MSFT", 2.0)).toDF("symbol", "price"), "bronze", "dl_jobs_20240101")
    val (dl, jobs) = withJobCount(get("/data/bronze/dl_jobs_20240101/download"))
    dl.statusCode() shouldBe 200
    val lines = dl.body.linesIterator.toSeq
    lines.head shouldBe "symbol,price"
    lines.tail.sorted shouldBe Seq("AAPL,1.0", "MSFT,2.0")
    jobs shouldBe 1
    csvTmps shouldBe before
  }

  test("a dataset GET runs one Spark job; GET /datasets/{name} runs at most 4") {
    import spark.implicits._
    lake.write(Seq(("AAPL", tsLit("2024-01-02"), 1.0), ("MSFT", tsLit("2024-01-03"), 2.0))
      .toDF("symbol", "timestamp", "close"), "bronze", "jobs_count_20240101")
    val (data, dataJobs) = withJobCount(get("/data/bronze/jobs_count_20240101"))
    data.statusCode() shouldBe 200
    dataJobs shouldBe 1
    val (latest, latestJobs) = withJobCount(get("/data/latest/count/jobs"))
    latest.statusCode() shouldBe 200
    latestJobs shouldBe 1
    val (info, infoJobs) = withJobCount(get("/datasets/jobs_count_20240101"))
    info.statusCode() shouldBe 200
    json(info)("num_rows").toString.toLong shouldBe 2L
    infoJobs should be <= 4
  }

  test("POST /transform runs the gated pipeline and lands silver (routes.py:135-144)") {
    import spark.implicits._
    lake.write(Seq((1L, tsLit("2024-01-01"), 2L, "click", 1.5, "p"),
        (1L, tsLit("2024-01-01"), 2L, "click", 1.5, "p"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      "bronze", "api_events_raw")
    val env = json(post("/transform",
      """{"source_path": "api_events_raw", "transformation_type": "clean",
        | "source_layer": "bronze", "destination_layer": "silver"}""".stripMargin))
    env("status") shouldBe "success"
    env("records_count").toString.toLong shouldBe 1L // exact dup dropped
    lake.list("silver") should not be empty
  }
}
