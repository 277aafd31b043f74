package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalacheck.{Gen, rng}

import graft.expressions.GraftFunctions
import graft.operators.Queries

/** The lag-ladder EWMs: one `lag(x, k)` window function per term, each term
  * `x_k·w_k` (or `0.0` when the lag is missing or NULL), summed with
  * `reduceLeft` in ascending k. This is the form [[Queries.ema]],
  * [[Queries.ewma]] and [[Queries.macd]] replaced, and the form their DuckDB
  * duals still spell out; [[EwmFoldSpec]] holds the fold to it bit for bit.
  */
object LagLadderEwm {
  def ewma(df: DataFrame, orderCol: String, valueCol: String, w: Double,
      terms: Int, partitionCols: Seq[String], outCol: String): DataFrame = {
    val base = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    val x = col(valueCol).cast(DoubleType)
    val ws = Queries.ewmWeights(w, terms)
    val lags = (0 until terms).map { k =>
      val xk = if (k == 0) x else lag(x, k).over(base)
      val wk = lit(ws(k))
      (when(xk.isNotNull, xk * wk).otherwise(lit(0.0)),
       when(xk.isNotNull, wk).otherwise(lit(0.0)))
    }
    df.withColumn(outCol, lags.map(_._1).reduceLeft(_ + _) / lags.map(_._2).reduceLeft(_ + _))
  }

  def ema(df: DataFrame, orderCol: String, valueCol: String, terms: Int,
      partitionCols: Seq[String], outCol: String): DataFrame = {
    val base = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    val x = col(valueCol).cast(DoubleType)
    val lags = (0 until terms).map { k =>
      val xk = if (k == 0) x else lag(x, k).over(base)
      val wk = lit(math.pow(0.5, k))
      (when(xk.isNotNull, xk * wk).otherwise(lit(0.0)),
       when(xk.isNotNull, wk).otherwise(lit(0.0)))
    }
    df.withColumn(outCol, lags.map(_._1).reduceLeft(_ + _) / lags.map(_._2).reduceLeft(_ + _))
  }

  def macd(df: DataFrame, orderCol: String, valueCol: String, terms: Int,
      partitionCols: Seq[String], fast: Int = 12, slow: Int = 26, signal: Int = 9): DataFrame = {
    def decay(n: Int): Double = (n - 1.0) / (n + 1.0)
    val withMacd = ewma(df, orderCol, valueCol, decay(fast), terms, partitionCols, "__f")
    val both = ewma(withMacd, orderCol, valueCol, decay(slow), terms, partitionCols, "__s")
      .withColumn("macd", col("__f") - col("__s")).drop("__f", "__s")
    ewma(both, orderCol, "macd", decay(signal), terms, partitionCols, "signal")
      .withColumn("histogram", col("macd") - col("signal"))
  }
}

class EwmFoldSpec extends SparkSpec {
  import spark.implicits._

  private val outCols = Seq("ema", "ewma", "macd", "signal", "histogram")

  /** ema, ewma and macd of (k, t, x) by `k` in `t` order, through either form. */
  private def all(df: DataFrame, terms: Int, w: Double, ladder: Boolean): DataFrame = {
    val keys = Seq("k")
    val withEma =
      if (ladder) LagLadderEwm.ema(df, "t", "x", terms, keys, "ema")
      else Queries.ema(df, "t", "x", terms, keys)
    val withEwma =
      if (ladder) LagLadderEwm.ewma(withEma, "t", "x", w, terms, keys, "ewma")
      else Queries.ewma(withEma, "t", "x", w, terms, keys)
    val withMacd =
      if (ladder) LagLadderEwm.macd(withEwma, "t", "x", terms, keys)
      else Queries.macd(withEwma, "t", "x", terms, keys)
    withMacd.select(("k" +: "t" +: outCols).map(col): _*)
  }

  /** Raw bits of every output, NULL as None, in (k, t) order. */
  private def bits(df: DataFrame): Seq[(String, Int, Seq[Option[Long]])] =
    rows(df).map { r: Row =>
      (r.getString(0), r.getInt(1), outCols.indices.map { i =>
        if (r.isNullAt(i + 2)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i + 2)))
      })
    }.sortBy(r => (r._1, r._2))

  /** The ladder with ANSI off: it divides by a zero weight sum on a window
    * without any value, which ANSI raises and the fold answers NULL — the
    * quotient's non-ANSI answer.
    */
  private def ladderBits(df: DataFrame, terms: Int, w: Double) = {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try bits(all(df, terms, w, ladder = true))
    finally spark.conf.set(key, before)
  }

  private val special = Seq(-0.0, 0.0, Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.MinPositiveValue, Double.MaxValue, -Double.MaxValue)

  private val valueGen: Gen[Option[Double]] = Gen.frequency(
    6 -> Gen.chooseNum(-1e6, 1e6).map(Some(_)),
    2 -> Gen.const(None),
    2 -> Gen.oneOf(special).map(Some(_)))

  /** Up to five generated series of 0..terms+5 values each (so both shorter
    * and longer than `terms`), plus two fixed ones: all `-0.0` over
    * terms+2 rows (a full window must stay `-0.0`, a short one turns 0.0),
    * and leading NULLs (windows without any value). Rows are shuffled and
    * spread over three partitions.
    */
  private def series(terms: Int, seed: Long): DataFrame = {
    val gen = for {
      nKeys <- Gen.chooseNum(1, 5)
      lens <- Gen.listOfN(nKeys, Gen.chooseNum(0, terms + 5))
      vals <- Gen.sequence[List[List[Option[Double]]], List[Option[Double]]](
        lens.map(n => Gen.listOfN(n, valueGen)))
    } yield vals
    val generated = gen(Gen.Parameters.default, rng.Seed(seed)).get
    val fixed = List(List.fill(terms + 2)(Some(-0.0)),
      List(None, None, Some(1.5), None, Some(-2.0), Some(Double.NaN), None))
    val rowsOf = (generated ++ fixed).zipWithIndex.flatMap { case (xs, key) =>
      xs.zipWithIndex.map { case (x, t) => (s"key$key", t, x) }
    }
    new scala.util.Random(seed).shuffle(rowsOf).toDF("k", "t", "x").repartition(3)
  }

  test("ewm_fold is bit-identical to the lag ladder: ema, ewma, macd, signal, histogram " +
       "(NULLs mid-series, short series, -0.0, NaN, ±Inf, several keys, unsorted input)") {
    for {
      terms <- Seq(1, 2, 24, 40)
      seed <- Seq(1L, 2L)
    } {
      val df = series(terms, seed * 100 + terms).cache()
      val w = Seq(11.0 / 13, 0.3, 0.97)(((seed + terms) % 3).toInt)
      val fold = bits(all(df, terms, w, ladder = false))
      val ladder = ladderBits(df, terms, w)
      fold.size shouldBe ladder.size
      fold.zip(ladder).foreach { case (f, l) =>
        withClue(s"terms=$terms seed=$seed key=${f._1} t=${f._2}: ") { f shouldBe l }
      }
      df.unpersist()
    }
  }

  test("ewm_fold: interpreted eval equals codegen bit for bit") {
    val df = series(24, 7).cache()
    val codegen = bits(all(df, 24, 0.8, ladder = false))
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val interpreted =
      try bits(all(df, 24, 0.8, ladder = false))
      finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    interpreted shouldBe codegen
    df.unpersist()
  }

  test("ewm_fold: a window without any value is NULL; an all -0.0 full window stays -0.0") {
    val df = Seq(("a", 0, None), ("a", 1, Some(-0.0)), ("a", 2, Some(-0.0)),
      ("a", 3, Some(-0.0))).toDF("k", "t", "x")
    val out = rows(Queries.ewma(df, "t", "x", 0.5, 2, Seq("k")).orderBy("t").select("ewma"))
    out.head.isNullAt(0) shouldBe true
    // t=1: the missing value adds +0.0, so -0.0 + 0.0 = 0.0; t=2, 3: full windows
    out.tail.map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(0))) shouldBe
      Seq(0.0, -0.0, -0.0).map(java.lang.Double.doubleToRawLongBits)
  }

  test("ewm_fold registered as a SQL function") {
    GraftFunctions.register(spark)
    Seq((1, 2.0), (2, 4.0), (3, 8.0)).toDF("t", "x").createOrReplaceTempView("ewm_in")
    val got = rows(spark.sql(
      """SELECT ewm_fold(collect_list(struct(x)) OVER (ORDER BY t
        |  ROWS BETWEEN 1 PRECEDING AND CURRENT ROW), array(1.0D, 0.5D)) AS e
        |FROM ewm_in ORDER BY t""".stripMargin)).map(_.getDouble(0))
    got shouldBe Seq(2.0, (4.0 + 2.0 * 0.5) / 1.5, (8.0 + 4.0 * 0.5) / 1.5)
  }
}
