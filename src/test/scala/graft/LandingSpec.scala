package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

import graft.operators.Transforms
import graft.sources.{CsvAutoLoader, Ingest, Lake}

/** Every lake landing goes through one staged write: the frame is written
  * into a `.staging_*` directory, its rows are counted by that same write,
  * and the staging directory is then published by a rename or deleted.
  * Gate: each ingest landing runs fewer Spark jobs than persist, write and
  * a separate `count()` needed; an empty result, an empty payload and a
  * failing frame land nothing, leave the older dataset of the same name
  * intact and leave no staging directory; a zero-partition frame lands and
  * reports 0 rows.
  * Every landing here runs under a time limit, so a count that never
  * arrived would fail the test instead of hanging the suite.
  */
class LandingSpec extends SparkSpec with TimeLimits {
  import spark.implicits._

  private implicit val signaler: Signaler = ThreadSignaler

  private def newLake(): Lake = Lake(spark, Files.createTempDirectory("graft_landing_spec").toString)

  private def stem(path: Any): String = new File(path.toString).getName.stripSuffix(".parquet")

  private def landed[T](body: => T): T = failAfter(Span(120, Seconds))(body)

  private def stagingLeft(lake: Lake, layer: String): Seq[String] =
    Option(new File(lake.layerDir(layer)).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith(".staging"))

  private def ids(lake: Lake, layer: String, dataset: String): Seq[Long] =
    rows(lake.read(layer, dataset).select("id").orderBy("id")).map(_.getLong(0))

  test("each ingest landing counts its rows in the write: 3/1/2/2 jobs, 5/4/5/5 with persist-count-write") {
    val lake = newLake()
    val (csv, loadJobs) = withJobCount(landed(
      CsvAutoLoader.loadAndStore(spark, lake, "fixtures/stock_canonical.csv", "stock")))
    val (av, payloadJobs) = withJobCount(landed(
      new Ingest(spark, lake, (_, _) => Some(Fixtures.avStock)).fetchAndStoreStock("AAPL")))
    val (silver, cleanJobs) = withJobCount(landed(
      Transforms.transformAndStore(lake, "bronze", stem(csv("file_path")), "clean", "silver")))
    val (gold, aggregateJobs) = withJobCount(landed(
      Transforms.transformAndStore(lake, "silver", stem(silver("file_path")), "aggregate", "gold")))
    Seq(csv, av, silver, gold).map(_("status")) shouldBe Seq.fill(4)("success")
    Seq(csv, av, silver, gold).map(_("records_count")) shouldBe Seq(5L, 2L, 5L, 3L)
    (loadJobs, payloadJobs, cleanJobs, aggregateJobs) shouldBe ((3, 1, 2, 2))
    Seq("bronze", "silver", "gold").flatMap(stagingLeft(lake, _)) shouldBe empty
  }

  test("an empty transform result and an empty payload land nothing and keep the older dataset") {
    val lake = newLake()
    // every row carries a NULL, so clean drops them all
    lake.write(Seq(("2024-01-02 00:00:00", Option.empty[Double])).toDF("timestamp", "close"),
      "bronze", "csvimport_stock_20240102")
    val dest = stem(Transforms.destinationName("csvimport_stock_20240102", "clean"))
    lake.write(Seq(1L, 2L).toDF("id"), "silver", dest)
    landed(Transforms.transformAndStore(lake, "bronze", "csvimport_stock_20240102", "clean", "silver")) shouldBe
      Map("status" -> "error", "message" -> "Transformation resulted in empty dataframe.", "records_count" -> 0L)
    ids(lake, "silver", dest) shouldBe Seq(1L, 2L)
    lake.list("silver") shouldBe Seq(dest)
    stagingLeft(lake, "silver") shouldBe empty

    val bronzeName = stem(lake.generateFilename("alphavantage", "stock_AAPL"))
    lake.write(Seq(7L).toDF("id"), "bronze", bronzeName)
    val before = lake.list("bronze")
    landed(new Ingest(spark, lake, (_, _) => Some("""{"Note": "rate limited"}""")).fetchAndStoreStock("AAPL")) shouldBe
      Map("status" -> "error", "message" -> "no data for AAPL")
    ids(lake, "bronze", bronzeName) shouldBe Seq(7L)
    lake.list("bronze") shouldBe before
    stagingLeft(lake, "bronze") shouldBe empty
  }

  test("a frame that fails while writing throws, keeps the older dataset and cleans its staging") {
    val lake = newLake()
    lake.write(Seq(1L, 2L, 3L).toDF("id"), "gold", "fragile_20240101")
    val failing = spark.range(10).select(
      when(col("id") === 6L, raise_error(lit("bad row"))).otherwise(col("id")).as("id"))
    val err = intercept[Exception](landed(lake.write(failing, "gold", "fragile_20240101")))
    Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("bad row")) shouldBe true
    ids(lake, "gold", "fragile_20240101") shouldBe Seq(1L, 2L, 3L)
    stagingLeft(lake, "gold") shouldBe empty
  }

  test("a zero-partition empty frame lands as an empty dataset and reports 0 rows") {
    val lake = newLake()
    val schema = StructType(Seq(StructField("symbol", StringType), StructField("close", DoubleType)))
    val hollow = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    hollow.rdd.getNumPartitions shouldBe 0
    val (path, n) = landed(lake.writeCounted(hollow, "bronze", "hollow_20240101"))
    n shouldBe 0L
    path shouldBe s"${lake.bronze}/hollow_20240101.parquet"
    lake.list("bronze") shouldBe Seq("hollow_20240101")
    lake.read("bronze", "hollow_20240101").schema shouldBe schema
    rows(lake.read("bronze", "hollow_20240101")) shouldBe empty
    stagingLeft(lake, "bronze") shouldBe empty
  }
}
