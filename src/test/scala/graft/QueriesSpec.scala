package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Queries

class QueriesSpec extends SparkSpec {
  import spark.implicits._

  /** [[Queries.coPurchasePairs]] as a basket-keyed self-join over the
    * distinct (basket, item) frame — the formulation every SQL engine
    * writes (the copurchase A/B in SCALE.md).
    */
  private def coPurchasePairsJoin(df: DataFrame, basketCol: String, itemCol: String,
      k: Int): DataFrame = {
    val items = df.select(col(basketCol).as("__b"), col(itemCol).as("__i")).distinct()
    items.join(items.select(col("__b"), col("__i").as("__j")), Seq("__b"))
      .filter(col("__i") < col("__j"))
      .groupBy(col("__i").as("item_a"), col("__j").as("item_b"))
      .agg(count(lit(1)).as("n_baskets"))
      .orderBy(col("n_baskets").desc, col("item_a").asc, col("item_b").asc)
      .limit(k)
  }

  test("timeseries: range + membership predicates + ordered output") {
    val df = Seq(
      ("2024-01-01 10:00:00", "A", 1.0), ("2024-01-05 10:00:00", "B", 2.0),
      ("2024-01-05 11:00:00", "A", 3.0), ("2024-02-01 10:00:00", "A", 4.0)
    ).toDF("timestamp", "symbol", "v").withColumn("timestamp", col("timestamp").cast("timestamp"))
    val out = Queries.timeseries(df, "timestamp", "2024-01-02 00:00:00", "2024-01-31 00:00:00",
      Some("symbol"), Seq("A"))
    rows(out).map(_.getDouble(2)) shouldBe Seq(3.0)
  }

  test("movingAverage: trailing n-row mean per key") {
    val df = Seq(("k", 1, 10.0), ("k", 2, 20.0), ("k", 3, 30.0), ("k", 4, 40.0), ("j", 1, 100.0))
      .toDF("key", "seq", "v")
    val out = rows(Queries.movingAverage(df, "v", Seq("key"), Seq("seq"), 3)
      .orderBy("key", "seq").select("mov_avg")).map(_.getDouble(0))
    out shouldBe Seq(100.0, 10.0, 15.0, 20.0, 30.0)
  }

  test("pearson: exact ±1 on linear series, symmetric formula") {
    val df = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0), (4.0, 8.0)).toDF("x", "y")
    rows(Queries.pearson(df, "x", "y")).head.getDouble(0) shouldBe 1.0 +- 1e-12
    val anti = Seq((1.0, 8.0), (2.0, 6.0), (3.0, 4.0), (4.0, 2.0)).toDF("x", "y")
    rows(Queries.pearson(anti, "x", "y")).head.getDouble(0) shouldBe -1.0 +- 1e-12
  }

  test("madOutliers flags the gross outlier the z-score family would dilute") {
    // 10 well-behaved points + one gross outlier per key
    val df = ((1 to 10).map(i => ("k", i, i.toDouble)) :+ (("k", 11, 1000.0)))
      .toDF("g", "t", "v")
    val out = rows(Queries.madOutliers(df, Seq("g"), "v").orderBy("t"))
    val flags = out.map(_.getBoolean(6))
    flags.count(identity) shouldBe 1
    flags.last shouldBe true
    // median of 1..10,1000 = 6; MAD = median(|x-6|) = 3 -> score(1000) huge
    out.head.getDouble(3) shouldBe 6.0 +- 1e-9   // med
    out.head.getDouble(4) shouldBe 3.0 +- 1e-9   // mad
  }

  test("coPurchasePairs: basket-level support, canonical a<b pairs, repeats collapse") {
    val df = Seq(
      (1L, 10L), (1L, 20L), (1L, 20L),   // basket 1: {10, 20} (repeat collapses)
      (2L, 10L), (2L, 20L), (2L, 30L),   // basket 2: {10, 20, 30}
      (3L, 30L)                          // singleton basket: no pairs
    ).toDF("b", "i")
    val out = rows(Queries.coPurchasePairs(df, "b", "i", k = 10))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out shouldBe Seq((10L, 20L, 2L), (10L, 30L, 1L), (20L, 30L, 1L))
    // the self-join formulation is output-identical (A/B'd at scale, SCALE.md)
    rows(coPurchasePairsJoin(df, "b", "i", k = 10))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) shouldBe out
  }

  test("baskets adaptive cap: capped output equals sliced-sorted-collect_set on " +
       "every split class, and all-null baskets keep their empty-array row") {
    // exercise all three routes of the r15 adaptive capped path:
    //   b1 under-cap by raw count (collect_set half)
    //   b2 over-cap raw but under-cap DISTINCT (window half, no truncation)
    //   b3 over-cap distinct (window half, truncates to first cap sorted)
    //   b4 all-null items (r15 advisor: must emit (b4, []) like the uncapped
    //      path — the r14 window path dropped it entirely)
    //   b5 nulls mixed into an over-cap basket (nulls never consume a slot)
    val df = (Seq((1L, Some(30L)), (1L, Some(10L))) ++
      (0 until 6).map(_ => (2L, Some(7L))) ++ Seq((2L, Some(3L))) ++
      (0 until 5).map(i => (3L, Some(i * 10L))) ++
      Seq((4L, None), (4L, None)) ++
      (Seq((5L, None: Option[Long])) ++ (0 until 5).map(i => (5L, Some(i + 100L)))))
      .toDF("b", "i")
    val capped = rows(Queries.baskets(df, "b", "i", maxBasket = Some(3)).orderBy("__b"))
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    capped shouldBe Seq(
      (1L, Seq(10L, 30L)),        // under-cap: full sorted set
      (2L, Seq(3L, 7L)),          // 7 raw rows but 2 distinct: window half, no cut
      (3L, Seq(0L, 10L, 20L)),    // 5 distinct: first 3 of sorted set
      (4L, Seq.empty[Long]),      // all-null basket preserved as empty array
      (5L, Seq(100L, 101L, 102L)))// null rows don't consume dense_rank slots
    // cardinality parity with the uncapped path (the r15 advisor divergence)
    val uncapped = rows(Queries.baskets(df, "b", "i", None).orderBy("__b"))
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    uncapped.map(_._1) shouldBe capped.map(_._1)
    // bit-identical to slicing each uncapped basket's sorted distinct set
    uncapped.map { case (b, is) => (b, is.take(3)) } shouldBe capped
    // the NON-integral item fallback (two-pass per-key split) must produce
    // the same rollup — string-encode the items and compare
    val sdf = df.select(col("b"), when(col("i").isNotNull,
      concat(lit("it"), format_string("%03d", col("i")))).as("i"))
    val scapped = rows(Queries.baskets(sdf, "b", "i", maxBasket = Some(3)).orderBy("__b"))
      .map(r => (r.getLong(0), r.getSeq[String](1)))
    scapped shouldBe capped.map { case (b, is) => (b, is.map(v => f"it$v%03d")) }
    // integral non-long items: values cap identically and the array keeps
    // the source type
    val idf = df.select(col("b"), col("i").cast("int").as("i"))
    val icapped = rows(Queries.baskets(idf, "b", "i", maxBasket = Some(3)).orderBy("__b"))
      .map(r => (r.getLong(0), r.getSeq[Int](1)))
    icapped shouldBe capped.map { case (b, is) => (b, is.map(_.toInt)) }
  }

  test("groupedOls: exact line recovered per group; r2 = 1 on it, < 1 off it") {
    val df = Seq(
      ("a", 1.0, 3.0), ("a", 2.0, 5.0), ("a", 3.0, 7.0), ("a", 4.0, 9.0),   // y = 2x + 1
      ("b", 1.0, 10.0), ("b", 2.0, 8.0), ("b", 3.0, 6.5), ("b", 4.0, 4.0)   // roughly y = -2x + 12
    ).toDF("g", "x", "y")
    val out = rows(Queries.groupedOls(df, Seq("g"), "x", "y").orderBy("g"))
    out.map(_.getString(0)) shouldBe Seq("a", "b")
    out.head.getDouble(1) shouldBe 2.0 +- 1e-12   // slope
    out.head.getDouble(2) shouldBe 1.0 +- 1e-12   // intercept
    out.head.getDouble(3) shouldBe 1.0 +- 1e-12   // r2
    out(1).getDouble(1) shouldBe -2.0 +- 0.1
    assert(out(1).getDouble(3) < 1.0 && out(1).getDouble(3) > 0.9)
  }

  test("groupedOls drops null-paired rows, matching the n in its own sums") {
    val df = Seq(
      ("a", Some(1.0), Some(3.0)), ("a", Some(2.0), None), ("a", None, Some(9.9)),
      ("a", Some(3.0), Some(7.0)), ("a", Some(4.0), Some(9.0))
    ).toDF("g", "x", "y")
    val out = rows(Queries.groupedOls(df, Seq("g"), "x", "y"))
    out.head.getDouble(1) shouldBe 2.0 +- 1e-12
    out.head.getDouble(2) shouldBe 1.0 +- 1e-12
  }

  test("pearson ignores null-paired rows") {
    val df = Seq((Some(1.0), Some(2.0)), (Some(2.0), None), (Some(3.0), Some(6.0)),
      (None, Some(9.9)), (Some(4.0), Some(8.0))).toDF("x", "y")
    rows(Queries.pearson(df, "x", "y")).head.getDouble(0) shouldBe 1.0 +- 1e-12
  }

  test("alignPair joins two series on the time key") {
    val tall = Seq(("d1", "a", 1.0), ("d1", "b", 10.0), ("d2", "a", 2.0),
      ("d2", "b", 20.0), ("d3", "a", 3.0)).toDF("d", "series", "v")
    val out = Queries.alignPair(tall, "d", "series", "v", "a", "b")
    out.count() shouldBe 2 // d3 has no b -> inner join drops
    rows(out.orderBy("d")).map(r => (r.getDouble(1), r.getDouble(2))) shouldBe
      Seq((1.0, 10.0), (2.0, 20.0))
  }

  test("latestPerKey returns exactly one deterministic row per key") {
    val df = Seq(("c1", 1L, "2024-01-01"), ("c1", 2L, "2024-01-05"), ("c1", 3L, "2024-01-05"),
      ("c2", 4L, "2024-02-01")).toDF("cust", "id", "d")
    val out = rows(Queries.latestPerKey(df, Seq("cust"), Seq(col("d").desc, col("id").desc))
      .orderBy("cust").select("id")).map(_.getLong(0))
    out shouldBe Seq(3L, 4L) // tie on date broken by id desc
  }

  test("returns: pct change per key, null on each key's first row") {
    val df = Seq(("a", 1, 100.0), ("a", 2, 110.0), ("a", 3, 99.0), ("b", 1, 50.0))
      .toDF("k", "t", "x")
    val out = rows(Queries.returns(df, "x", Seq("k"), Seq("t")).orderBy("k", "t")
      .select("ret")).map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    out(0) shouldBe None
    out(1).get shouldBe 0.1 +- 1e-12
    out(2).get shouldBe (99.0 - 110.0) / 110.0 +- 1e-12
    out(3) shouldBe None // first row of key b
  }

  test("drawdown: underwater curve off the running peak") {
    val df = Seq((1, 100.0), (2, 120.0), (3, 90.0), (4, 130.0), (5, 65.0))
      .toDF("t", "x")
    val out = rows(Queries.drawdown(df, "x", Seq.empty, Seq("t")).orderBy("t")
      .select("peak", "drawdown")).map(r => (r.getDouble(0), r.getDouble(1)))
    out.map(_._1) shouldBe Seq(100.0, 120.0, 120.0, 130.0, 130.0)
    out(2)._2 shouldBe (90.0 - 120.0) / 120.0 +- 1e-12
    out(4)._2 shouldBe (65.0 - 130.0) / 130.0 +- 1e-12
    out(1)._2 shouldBe 0.0
  }

  test("vwap weights prices by volume within the bucket") {
    val df = Seq(("m1", 10.0, 1.0), ("m1", 20.0, 3.0), ("m2", 5.0, 2.0))
      .toDF("b", "p", "v")
    val out = rows(Queries.vwap(df, "p", "v", col("b")).orderBy("bucket"))
      .map(r => (r.getString(0), r.getDouble(1)))
    out shouldBe Seq(("m1", (10.0 * 1 + 20.0 * 3) / 4.0), ("m2", 5.0))
  }

  test("bollinger: mean ± k·sd over the full window, partial windows dropped") {
    val df = (1 to 5).map(i => ("k", i, i.toDouble)).toDF("sym", "t", "x")
    val out = rows(Queries.bollinger(df, "t", "x", n = 3, k = 2.0, partitionCols = Seq("sym"))
      .orderBy("t").select("mid", "sd", "upper", "lower"))
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    // windows [1,2,3],[2,3,4],[3,4,5]: sample sd = 1 in each
    out shouldBe Seq((2.0, 1.0, 4.0, 0.0), (3.0, 1.0, 5.0, 1.0), (4.0, 1.0, 6.0, 2.0))
  }

  test("rsi (Cutler): 100·Σgain/(Σgain+Σloss) over n diffs") {
    val df = Seq(("k", 1, 1.0), ("k", 2, 2.0), ("k", 3, 3.0), ("k", 4, 2.0), ("k", 5, 4.0))
      .toDF("sym", "t", "x")
    val out = rows(Queries.rsi(df, "t", "x", n = 3, partitionCols = Seq("sym"))
      .orderBy("t").select("rsi")).map(_.getDouble(0))
    out.size shouldBe 2 // first n rows lack a full diff window
    out.head shouldBe 100.0 * 2 / 3 +- 1e-12 // gains 1,1,0 / losses 0,0,1
    out(1) shouldBe 75.0 +- 1e-12 // gains 1,0,2 / losses 0,1,0
  }

  test("atr: true range uses prev close, first row falls back to high-low") {
    val df = Seq(("k", 1, 10.0, 8.0, 9.0), ("k", 2, 12.0, 9.0, 11.0), ("k", 3, 11.0, 7.0, 8.0))
      .toDF("sym", "t", "high", "low", "close")
    val out = rows(Queries.atr(df, "t", n = 2, partitionCols = Seq("sym"))
      .orderBy("t").select("tr", "atr")).map(r => (r.getDouble(0), r.getDouble(1)))
    // tr = 2, 3, 4 (row2: max(3, |12-9|, |9-9|); row3: max(4, 0, |7-11|))
    out shouldBe Seq((3.0, 2.5), (4.0, 3.5))
  }

  test("obv accumulates sign(close diff)·volume, 0 on the first row") {
    val df = Seq(("k", 1, 9.0, 1.0), ("k", 2, 11.0, 2.0), ("k", 3, 8.0, 3.0))
      .toDF("sym", "t", "close", "volume")
    val out = rows(Queries.obv(df, "t", partitionCols = Seq("sym"))
      .orderBy("t").select("obv")).map(_.getDouble(0))
    out shouldBe Seq(0.0, 2.0, -1.0)
  }

  test("ema: adjusted α=1/2 weighting, missing lags drop from num and den") {
    val df = Seq(("k", 1, 1.0), ("k", 2, 2.0), ("k", 3, 3.0)).toDF("sym", "t", "x")
    val out = rows(Queries.ema(df, "t", "x", terms = 3, partitionCols = Seq("sym"))
      .orderBy("t").select("ema")).map(_.getDouble(0))
    out.head shouldBe 1.0
    out(1) shouldBe 2.5 / 1.5 +- 1e-15 // (2 + 0.5·1)/(1 + 0.5)
    out(2) shouldBe 4.25 / 1.75 +- 1e-15 // (3 + 0.5·2 + 0.25·1)/1.75
  }

  test("ewma generalizes ema: decay 0.5 reproduces ema exactly") {
    val df = Seq(("k", 1, 1.0), ("k", 2, 2.0), ("k", 3, 3.0), ("j", 1, 5.0)).toDF("sym", "t", "x")
    val viaEma = rows(Queries.ema(df, "t", "x", terms = 3, partitionCols = Seq("sym"))
      .orderBy("sym", "t").select("ema")).map(_.getDouble(0))
    val viaEwma = rows(Queries.ewma(df, "t", "x", w = 0.5, terms = 3, partitionCols = Seq("sym"))
      .orderBy("sym", "t").select("ewma")).map(_.getDouble(0))
    viaEwma shouldBe viaEma
  }

  test("macd: fast/slow adjusted EWMs, signal is EWM of macd, histogram = macd - signal") {
    val df = Seq(("k", 1, 1.0), ("k", 2, 4.0), ("k", 3, 2.0)).toDF("sym", "t", "x")
    val out = rows(Queries.macd(df, "t", "x", terms = 3, partitionCols = Seq("sym"),
      fast = 2, slow = 4, signal = 2).orderBy("t").select("macd", "signal", "histogram"))
    // decay(2)=1/3, decay(4)=3/5
    def ewm(w: Double, xs: Seq[Double]): Double = {
      val ws = xs.indices.map(k => math.pow(w, k))
      xs.zip(ws).map { case (x, wk) => x * wk }.sum / ws.sum
    }
    val macds = Seq(Seq(1.0), Seq(4.0, 1.0), Seq(2.0, 4.0, 1.0))
      .map(lags => ewm(1.0 / 3, lags) - ewm(0.6, lags))
    out.map(_.getDouble(0)).zip(macds).foreach { case (got, want) => got shouldBe want +- 1e-12 }
    val sig2 = ewm(1.0 / 3, Seq(macds(1), macds(0)))
    out(1).getDouble(1) shouldBe sig2 +- 1e-12
    out(1).getDouble(2) shouldBe macds(1) - sig2 +- 1e-12
  }

  test("ewmWeights round-trips through shortest-repr serialization") {
    Queries.ewmWeights(11.0 / 13, 40).foreach { w =>
      java.lang.Double.parseDouble(w.toString) shouldBe w
    }
  }

  test("stochasticK: %K from rolling extrema, null on a flat window") {
    val df = Seq(("k", 1, 10.0, 5.0, 7.0), ("k", 2, 12.0, 6.0, 9.0), ("k", 3, 11.0, 8.0, 10.0),
      ("f", 1, 5.0, 5.0, 5.0), ("f", 2, 5.0, 5.0, 5.0))
      .toDF("sym", "t", "high", "low", "close")
    val out = rows(Queries.stochasticK(df, "t", n = 2, partitionCols = Seq("sym"))
      .orderBy("sym", "t").select("sym", "pct_k"))
    // f: hh == ll -> null; k t2: 100·(9-5)/(12-5); k t3: 100·(10-6)/(12-6)
    out.map(_.getString(0)) shouldBe Seq("f", "k", "k")
    out.head.isNullAt(1) shouldBe true
    out(1).getDouble(1) shouldBe 100.0 * 4 / 7 +- 1e-12
    out(2).getDouble(1) shouldBe 100.0 * 4 / 6 +- 1e-12
  }

  test("correlationMatrix: upper triangle of pairwise r over aligned times") {
    val tall = (1 to 4).flatMap { t =>
      Seq(("x", t, t.toDouble), ("y", t, 2.0 * t), ("z", t, -1.0 * t))
    }.toDF("series", "t", "v")
    val out = rows(Queries.correlationMatrix(tall, "series", "t", "v").orderBy("a", "b"))
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    out.map(p => (p._1, p._2)) shouldBe Seq(("x", "y"), ("x", "z"), ("y", "z"))
    out(0)._3 shouldBe 1.0 +- 1e-12
    out(1)._3 shouldBe -1.0 +- 1e-12
    out(2)._3 shouldBe -1.0 +- 1e-12
  }

  test("correlationMatrixWide matches the self-join formulation, incl. ragged series") {
    // ragged: series z is missing at t=4, so the (x,z)/(y,z) pairs align on
    // fewer times than (x,y) — exercises the both-non-null conditioning
    val tall = ((1 to 4).flatMap { t =>
      Seq(("x", t, t.toDouble), ("y", t, 1.0 + 3.0 * t))
    } ++ (1 to 3).map(t => ("z", t, t * t.toDouble))).toDF("series", "t", "v")
    val byJoin = rows(Queries.correlationMatrix(tall, "series", "t", "v").orderBy("a", "b"))
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val byPivot = rows(Queries.correlationMatrixWide(tall, "series", "t", "v",
      Seq("x", "y", "z")).orderBy("a", "b"))
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    byPivot.map(p => (p._1, p._2)) shouldBe byJoin.map(p => (p._1, p._2))
    byPivot.zip(byJoin).foreach { case (p, j) => p._3 shouldBe j._3 +- 1e-12 }
  }

  test("rollingActiveUsers: repeat users count once per day and once per window") {
    // u1 active day1 (twice) + day3; u2 active day1 only; u3 day10 only —
    // day3's 2-day window excludes day1, day10 is disjoint from both
    val df = Seq(
      ("2024-01-01 09:00:00", 1L), ("2024-01-01 17:00:00", 1L),
      ("2024-01-01 10:00:00", 2L), ("2024-01-03 10:00:00", 1L),
      ("2024-01-10 10:00:00", 3L)
    ).toDF("ts", "u").withColumn("ts", col("ts").cast("timestamp"))
    val got = rows(Queries.rollingActiveUsers(df, "ts", "u", windowDays = 2).orderBy("day"))
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1), r.getLong(2)))
    got shouldBe Seq(
      ("2024-01-01", 2L, 2L),   // u1 counted once despite two events
      ("2024-01-03", 1L, 1L),   // window [Jan2, Jan3]: u1 only
      ("2024-01-10", 1L, 1L))
    // Jan 2/4/11 carry contributions but no activity: not reported
  }

  test("unionAll tolerates missing columns (unionByName allowMissing)") {
    val a = Seq((1L, "x")).toDF("id", "a_only")
    val b = Seq((2L, 5.0)).toDF("id", "b_only")
    val out = Queries.unionAll(Seq(a, b))
    out.columns.toSet shouldBe Set("id", "a_only", "b_only")
    out.count() shouldBe 2
    rows(out.filter(col("id") === 1L)).head.isNullAt(2) shouldBe true
  }

  test("rfm: quintiles on a 5-user frame where every rank is its own bucket") {
    val evs = (1 to 5).flatMap { i =>
      (1 to i).map(j => (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-${10 + i}%02d 0$j:00:00"), i.toDouble))
    }.toDF("u", "ts", "v")
    val got = rows(Queries.rfm(evs, "u", "ts", "v").orderBy("u"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    got.head shouldBe ((1L, 4L, 1L, 1.0, 5L, 5L, 5L)) // oldest, rarest, cheapest
    got.last shouldBe ((5L, 0L, 5L, 25.0, 1L, 1L, 1L)) // freshest, most active
  }

  test("autocorrelation: alternating series has acf(1) = -1, acf(2) = +1") {
    val days = (1 to 12).map(i =>
      ("k", java.sql.Timestamp.valueOf(f"2024-01-$i%02d 00:00:00"), (i % 2).toDouble))
    val got = rows(Queries.autocorrelation(days.toDF("k", "d", "x"), "k", "d", "x", maxLag = 2)
      .orderBy("lag")).map(r => (r.getLong(1), r.getDouble(3)))
    got(0)._2 shouldBe -1.0 +- 1e-12
    got(1)._2 shouldBe 1.0 +- 1e-12
  }

  test("changepoint: max CUSUM deviation lands on the step boundary") {
    // 0,0,0,0,0,10,10,10,10,10: deviation |ps_t − (t/n)·50| peaks at t=5 (25)
    val days = (1 to 10).map(i =>
      ("k", java.sql.Timestamp.valueOf(f"2024-01-$i%02d 00:00:00"),
        if (i <= 5) 0.0 else 10.0))
    val got = rows(Queries.changepoint(days.toDF("k", "d", "x"), "k", "d", "x")).head
    got.getTimestamp(1).toString should startWith("2024-01-05")
    got.getDouble(2) shouldBe 25.0
  }

  test("exactPercentiles: nearest-rank order statistics per key") {
    val df = (1L to 100L).map(i => ("k", i.toDouble, i)).toDF("k", "v", "id")
    val got = rows(Queries.exactPercentiles(df, "k", "v", "id", Seq(0.5, 0.9, 0.99))).head
    got.getDouble(1) shouldBe 50.0 // ceil(0.5*100) = 50
    got.getDouble(2) shouldBe 90.0
    got.getDouble(3) shouldBe 99.0
  }

  test("quantileMap: equal-length distributions map rank-for-rank exactly") {
    val df = (Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)).map { case (i, v) => ("a", v, i) } ++
      Seq((11L, 10.0), (12L, 20.0), (13L, 30.0), (14L, 40.0)).map { case (i, v) => ("b", v, i) })
      .toDF("k", "v", "id")
    val got = rows(Queries.quantileMap(df, "k", "v", "id", "a", "b").orderBy("id"))
      .map(r => (r.getLong(0), r.getDouble(2)))
    got shouldBe Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0))
  }

  test("gini: 0 for uniform totals, (n-1)/n for total concentration") {
    val uniform = (1L to 10L).map(u => ("k", u, 5.0)).toDF("k", "u", "v")
    rows(Queries.gini(uniform, "k", "u", "v")).head.getDouble(2) shouldBe 0.0 +- 1e-12
    val conc = (1L to 9L).map(u => ("k", u, 0.0)) :+ (("k", 10L, 100.0))
    rows(Queries.gini(conc.toDF("k", "u", "v"), "k", "u", "v"))
      .head.getDouble(2) shouldBe 0.9 +- 1e-12
  }

  test("interEventStats: metronome gaps give std 0 and burstiness -1") {
    val evs = (0 until 10).map(i =>
      (1L, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i * 5}%02d:00"), i.toLong))
      .toDF("u", "ts", "eid")
    val got = rows(Queries.interEventStats(evs, "u", "ts", "eid")).head
    got.getLong(1) shouldBe 9L
    got.getDouble(2) shouldBe 300.0
    got.getDouble(3) shouldBe 0.0
    got.getDouble(4) shouldBe -1.0
  }

  test("seasonalDecompose recovers a pure weekly pattern with zero residual") {
    // 21 days of value = 100 + dow (dow = 0 on Monday 2024-01-01): every
    // centered 7-day window holds each weekday once, so trend = 103 exactly,
    // detrended = dow - 3, seasonal = dow - 3, residual = 0 on interior days
    val days = (0 until 21).map { i =>
      ("A", java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00"), 100.0 + i % 7)
    }
    val out = Queries.seasonalDecompose(days.toDF("k", "d", "x"), "k", "d", "x")
      .orderBy("d")
    val got = rows(out)
    got.size shouldBe 21
    // edge days (first/last 3) have no full window: trend and residual null
    got.take(3).foreach { r => r.isNullAt(3) shouldBe true; r.isNullAt(5) shouldBe true }
    got.takeRight(3).foreach(_.isNullAt(3) shouldBe true)
    val interior = got.slice(3, 18)
    interior.foreach { r =>
      r.getDouble(3) shouldBe 103.0
      r.getDouble(5) shouldBe 0.0 +- 1e-12
    }
    // seasonal on Monday rows (2024-01-01 is a Monday): dow 0 → -3
    got.filter(r => r.getTimestamp(1).toString.startsWith("2024-01-08"))
      .head.getDouble(4) shouldBe -3.0 +- 1e-12
  }

  test("perceptron: separable data converges to zero misclassified and the weights freeze") {
    import spark.implicits._
    // y = sign(x); epoch 1 starts at w = 0 so every row's margin is 0 ⇒ all
    // 4 misclassified, Δw = (Σy, Σy·x) = (0, 18); from epoch 2 on the
    // classifier is exact, updates are zero, and weights stay (0, 18)
    val df = Seq((1L, 1L, 5L), (1L, 1L, 3L), (-1L, 1L, -4L), (-1L, 1L, -6L))
      .toDF("y", "bias", "x")
    val out = rows(Queries.perceptron(df, "y", Seq("bias", "x"), iters = 4))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    out.head shouldBe ((1L, 0L, 18L, 4L))
    out.tail.foreach { case (_, wb, wx, m) =>
      wb shouldBe 0L; wx shouldBe 18L; m shouldBe 0L
    }
  }
}
