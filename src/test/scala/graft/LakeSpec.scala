package graft

import java.nio.file.{Files, Paths}

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.operators.Transforms
import graft.sources.{CsvAutoLoader, Ingest, Lake}

/** `Lake.read` resolves a dataset's schema from one parquet footer on the
  * driver instead of running Spark's schema-inference job. Gate: for every
  * kind of frame the engine lands, for logical and nested types, for an empty
  * frame and for files Spark did not write, the schema equals Spark's own
  * inference (`spark.read.parquet`) and so do the rows; planning the read
  * launches no Spark job.
  */
class LakeSpec extends SparkSpec {
  import spark.implicits._

  private def newLake(): Lake = Lake(spark, Files.createTempDirectory("graft_lake_spec").toString)

  private def stem(path: Any): String = new java.io.File(path.toString).getName.stripSuffix(".parquet")

  private def assertMatchesInference(lake: Lake, layer: String, dataset: String): Unit = {
    val (viaLake, jobs) = withJobCount(lake.read(layer, dataset))
    withClue(s"$layer/$dataset: ") {
      jobs shouldBe 0
      val inferred = spark.read.parquet(s"${lake.layerDir(layer)}/$dataset.parquet")
      viaLake.schema shouldBe inferred.schema
      rows(viaLake).sortBy(_.toString) shouldBe rows(inferred).sortBy(_.toString)
    }
  }

  test("footer schema equals inference for a CSV landing, an Alpha Vantage payload, silver clean, gold aggregate") {
    val lake = newLake()
    val csv = CsvAutoLoader.loadAndStore(spark, lake, "fixtures/stock_canonical.csv", "stock")
    val av = new Ingest(spark, lake, (_, _) => Some(Fixtures.avStock)).fetchAndStoreStock("AAPL")
    val silver = Transforms.transformAndStore(lake, "bronze", stem(csv("file_path")), "clean", "silver")
    val gold = Transforms.transformAndStore(lake, "silver", stem(silver("file_path")), "aggregate", "gold")
    Seq(csv, av, silver, gold).foreach(_("status") shouldBe "success")
    Seq("bronze" -> csv, "bronze" -> av, "silver" -> silver, "gold" -> gold).foreach {
      case (layer, landed) => assertMatchesInference(lake, layer, stem(landed("file_path")))
    }
  }

  test("footer schema equals inference for an empty frame and for logical, nested and map types") {
    val lake = newLake()
    lake.write(Seq.empty[(Long, String)].toDF("id", "symbol"), "bronze", "hollow_20240101")
    lake.write(spark.range(4).select(
      col("id"),
      timestamp_seconds(col("id") + 1704164645L).as("ts"),
      lit("2024-01-02 03:04:05").cast("timestamp_ntz").as("ts_ntz"),
      date_add(lit("2024-01-02").cast("date"), col("id").cast("int")).as("d"),
      (col("id") * 1.25).cast(DecimalType(12, 3)).as("amt"),
      when(col("id") % 2 === 0, col("id")).as("maybe"),
      array(col("id"), col("id") + 1).as("arr"),
      functions.map(concat(lit("k"), col("id").cast("string")), col("id")).as("m"),
      struct(col("id").as("a"), array(lit("x")).as("b")).as("st")), "bronze", "typed_20240101")
    assertMatchesInference(lake, "bronze", "hollow_20240101")
    rows(lake.read("bronze", "hollow_20240101")) shouldBe empty
    assertMatchesInference(lake, "bronze", "typed_20240101")
    rows(lake.read("bronze", "typed_20240101")) should have size 4
  }

  test("footer schema equals inference for files with no Spark row metadata, under the session conf") {
    val lake = newLake()
    Files.createDirectories(Paths.get(lake.bronze))
    // pyarrow-written: no Spark row schema in the footer, timestamp without UTC adjustment
    Files.copy(Paths.get("perfbench/data/sf0.01/events.parquet"), Paths.get(lake.bronze, "events.parquet"))
    assertMatchesInference(lake, "bronze", "events")
    rows(lake.read("bronze", "events")) should have size 10000

    // TIMESTAMP(NANOS) converts only under spark.sql.legacy.parquet.nanosAsLong
    val schema = MessageTypeParser.parseMessageType(
      "message ticks { required int64 ts (TIMESTAMP(NANOS,true)); required binary sym (STRING); }")
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"${lake.bronze}/nanos.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1L -> "A", 2L -> "B").foreach { case (t, s) =>
      writer.write(groups.newGroup().append("ts", t * 1000000123L).append("sym", s))
    } finally writer.close()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try {
      assertMatchesInference(lake, "bronze", "nanos")
      lake.read("bronze", "nanos").schema("ts").dataType shouldBe LongType
    } finally spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
  }
}
