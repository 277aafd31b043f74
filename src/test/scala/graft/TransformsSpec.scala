package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Transforms

class TransformsSpec extends SparkSpec {
  import spark.implicits._

  // --- clean (reference transformers.py:17-53) -----------------------------

  test("clean drops rows with any null and dedups full rows") {
    val df = Seq(
      ("2024-01-01", Some(1.0), "a"),
      ("2024-01-01", Some(1.0), "a"), // exact dup
      ("2024-01-02", None, "b"), // null value -> dropped
      (null, Some(3.0), "c") // null ts -> dropped
    ).toDF("timestamp", "close", "tag")
    val out = Transforms.clean(df)
    out.count() shouldBe 1
    out.select("tag").as[String].head() shouldBe "a"
  }

  test("clean drops NaN rows like pandas dropna") {
    val df = Seq(("2024-01-01", 1.0), ("2024-01-02", Double.NaN)).toDF("timestamp", "close")
    Transforms.clean(df).count() shouldBe 1
  }

  test("clean coerce-casts numeric strings, unparseable -> null (pandas errors='coerce')") {
    val df = Seq(("2024-01-01", "12.5"), ("2024-01-02", "n/a")).toDF("timestamp", "close")
    val out = Transforms.clean(df).orderBy("timestamp")
    out.schema("close").dataType shouldBe DoubleType
    rows(out.select("close")).map(_.isNullAt(0)) shouldBe Seq(false, true)
  }

  test("clean parses flexible timestamp formats") {
    val df = Seq("2024-01-02", "01/15/2024", "2024-03-04 05:06:07").toDF("timestamp")
      .withColumn("v", lit(1.0))
    val out = Transforms.clean(df)
    out.schema("timestamp").dataType shouldBe TimestampType
    rows(out.select("timestamp")).map(_.getTimestamp(0)) should contain allOf (
      tsLit("2024-01-02"), tsLit("2024-01-15"), tsLit("2024-03-04 05:06:07"))
  }

  // --- normalize (reference transformers.py:56-97) -------------------------

  test("normalize attaches data_type and derives forex mid_rate when open+close present") {
    val df = Seq((1.0, 2.0)).toDF("open", "close")
    val out = Transforms.normalize(df, "forex")
    out.columns should contain allOf ("mid_rate", "data_type")
    rows(out).head.getAs[Double]("mid_rate") shouldBe 1.5
    rows(out).head.getAs[String]("data_type") shouldBe "forex"
  }

  test("normalize omits mid_rate when close missing (column guard)") {
    val out = Transforms.normalize(Seq(Tuple1(1.0)).toDF("open"), "forex")
    out.columns should not contain "mid_rate"
  }

  test("normalize never fails on missing required columns (warn-only)") {
    noException should be thrownBy
      Transforms.normalize(Seq(Tuple1(1)).toDF("x"), "stock").collect()
  }

  // --- aggregate (reference transformers.py:99-142) ------------------------

  private val ticks = Seq(
    // two symbols, one day — time-only grouping must merge them
    ("2024-01-05 09:00:00", "A", 10.0, 100L),
    ("2024-01-05 16:00:00", "B", 20.0, 200L),
    // leap day
    ("2024-02-29 12:00:00", "A", 30.0, 300L),
    // a Sunday (2024-03-03)
    ("2024-03-03 01:00:00", "A", 40.0, 400L),
    // year boundary
    ("2024-12-31 23:00:00", "A", 50.0, 500L)
  ).toDF("timestamp", "symbol", "close", "volume")
    .withColumn("open", col("close")).withColumn("high", col("close")).withColumn("low", col("close"))

  test("aggregate D groups by day midnight and drops non-aggregated columns") {
    val out = Transforms.aggregate(ticks, "D").orderBy("timestamp")
    out.columns.toSet shouldBe Set("timestamp", "open", "high", "low", "close", "volume")
    val r = rows(out)
    r.map(_.getTimestamp(0)) shouldBe Seq(
      tsLit("2024-01-05"), tsLit("2024-02-29"), tsLit("2024-03-03"), tsLit("2024-12-31"))
    // day with two symbols merged: open=first-by-time(10), close=last-by-time(20), vol=300
    r.head.getAs[Double]("open") shouldBe 10.0
    r.head.getAs[Double]("close") shouldBe 20.0
    r.head.getAs[Long]("volume") shouldBe 300L
  }

  test("aggregate W labels pandas W-SUN period end (the bucket's Sunday)") {
    val out = Transforms.aggregate(ticks, "W").orderBy("timestamp")
    // 2024-01-05 is Friday -> Sunday 2024-01-07; 2024-02-29 Thu -> 2024-03-03;
    // 2024-03-03 IS Sunday -> labels itself; 2024-12-31 Tue -> 2025-01-05
    rows(out).map(_.getTimestamp(0)) shouldBe Seq(
      tsLit("2024-01-07"), tsLit("2024-03-03"), tsLit("2025-01-05"))
  }

  test("aggregate M/Q/Y label period end like pandas") {
    rows(Transforms.aggregate(ticks, "M").orderBy("timestamp"))
      .map(_.getTimestamp(0)) shouldBe Seq(
        tsLit("2024-01-31"), tsLit("2024-02-29"), tsLit("2024-03-31"), tsLit("2024-12-31"))
    rows(Transforms.aggregate(ticks, "Q").orderBy("timestamp"))
      .map(_.getTimestamp(0)) shouldBe Seq(
        tsLit("2024-03-31"), tsLit("2024-12-31"))
    rows(Transforms.aggregate(ticks, "Y").orderBy("timestamp"))
      .map(_.getTimestamp(0)) shouldBe Seq(tsLit("2024-12-31"))
  }

  test("aggregate bySymbol adds symbol to grouping key (extended mode)") {
    val out = Transforms.aggregate(ticks, "D", bySymbol = true)
    out.filter(col("timestamp") === tsLit("2024-01-05")).count() shouldBe 2
  }

  test("aggregate filters agg map to present columns") {
    val df = Seq(("2024-01-01", 5.0)).toDF("timestamp", "close")
    val out = Transforms.aggregate(df, "D")
    out.columns.toSet shouldBe Set("timestamp", "close")
  }

  test("aggregate volume sum preserved across granularities (property)") {
    val total = rows(ticks.agg(sum("volume"))).head.getLong(0)
    Seq("D", "W", "M", "Q", "Y").foreach { f =>
      rows(Transforms.aggregate(ticks, f).agg(sum("volume"))).head.getLong(0) shouldBe total
    }
  }

  test("melt inverts pivot: wide matrix back to tall rows, null cells dropped") {
    val wide = Seq((1, Some(10.0), None: Option[Double]), (2, Some(20.0), Some(5.0)))
      .toDF("t", "a", "b")
    val out = rows(Transforms.melt(wide, Seq("t"), Seq("a", "b"), "k", "v")
      .orderBy("t", "k"))
    out.map(r => (r.getInt(0), r.getString(1), r.getDouble(2))) shouldBe Seq(
      (1, "a", 10.0), (2, "a", 20.0), (2, "b", 5.0))
  }

  test("candlePartials + merge over any slicing equals a direct aggregate") {
    val ticks = Seq(
      ("2024-01-01 09:00:00", 10.0), ("2024-01-01 12:00:00", 14.0),
      ("2024-01-01 15:00:00", 8.0), ("2024-01-01 17:00:00", 11.0),
      ("2024-01-02 10:00:00", 20.0), ("2024-01-02 11:00:00", 19.0))
      .toDF("timestamp", "v")
      .select(col("timestamp"), col("v").as("open"), col("v").as("high"),
        col("v").as("low"), col("v").as("close"), col("v").as("volume"))
    val full = rows(Transforms.aggregate(ticks, "D", exactSums = true).orderBy("timestamp"))
    // slice mid-day so day 1 gets contributions from BOTH partials
    val cut = tsLit("2024-01-01 13:00:00")
    val merged = Transforms.mergeCandlePartials(
      Transforms.candlePartials(ticks.filter(col("timestamp").cast("timestamp") < cut), "D")
        .unionByName(
          Transforms.candlePartials(ticks.filter(col("timestamp").cast("timestamp") >= cut), "D")))
    rows(merged.orderBy("timestamp")) shouldBe full
    // degenerate slicing (everything in one slice) also matches
    rows(Transforms.mergeCandlePartials(Transforms.candlePartials(ticks, "D"))
      .orderBy("timestamp")) shouldBe full
    // incremental FOLD (combine is partial -> partial): slice 1 folded with
    // slice 2, then slice 3, equals the one-shot merge — the streaming shape
    val s1 = Transforms.candlePartials(ticks.filter(col("timestamp").cast("timestamp") < tsLit("2024-01-01 13:00:00")), "D")
    val s2 = Transforms.candlePartials(ticks.filter(col("timestamp").cast("timestamp") >= tsLit("2024-01-01 13:00:00")
      && col("timestamp").cast("timestamp") < tsLit("2024-01-02 00:00:00")), "D")
    val s3 = Transforms.candlePartials(ticks.filter(col("timestamp").cast("timestamp") >= tsLit("2024-01-02 00:00:00")), "D")
    val folded = Transforms.combineCandlePartials(
      Transforms.combineCandlePartials(s1.unionByName(s2)).unionByName(s3))
    rows(Transforms.mergeCandlePartials(folded).orderBy("timestamp")) shouldBe full
  }

  test("clean drops nulls before coercion (pandas order quirk); re-clean drops coerced nulls") {
    // The reference cleans in dropna → dedup → cast order (transformers.py:30-49),
    // so an unparseable "x" survives the FIRST clean as a coerced NULL — clean is
    // deliberately NOT idempotent, matching pandas. A second clean then drops it.
    val df = Seq(("2024-01-01", "1.5"), ("2024-01-01", "1.5"), ("2024-01-02", "x"))
      .toDF("timestamp", "close")
    val once = Transforms.clean(df)
    rows(once.orderBy("timestamp")).map(r => Option(r.get(1))) shouldBe
      Seq(Some(1.5), None) // "x" → null survives the first pass
    val twice = Transforms.clean(once)
    rows(twice.orderBy("timestamp")) shouldBe rows(once.na.drop("any").orderBy("timestamp"))
  }
}
