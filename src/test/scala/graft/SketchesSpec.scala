package graft

import graft.operators.Sketches

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("kmvDistinct is exact when distinct count is below k") {
    val df = (1L to 100L).map(i => ("g", i % 40)).toDF("g", "v")
    val got = rows(Sketches.kmvDistinct(df, Seq("g"), "v", k = 64))
    got.size shouldBe 1
    got.head.getLong(1) shouldBe 40L
    got.head.getDouble(2) shouldBe 40.0
  }

  test("kmvDistinct estimate lands within the KMV error envelope above k") {
    // n = 5000 distinct, k = 256: relative standard error ~ 1/sqrt(k-2) ≈ 6%;
    // assert a generous 4-sigma band — the estimate is deterministic, so this
    // is a fixed property of the md5 hash on this input, not a flaky sample
    val df = (1L to 5000L).map(i => ("g", i)).toDF("g", "v")
    val got = rows(Sketches.kmvDistinct(df, Seq("g"), "v", k = 256)).head
    got.getLong(1) shouldBe 5000L
    val est = got.getDouble(2)
    est should be > 5000.0 * 0.75
    est should be < 5000.0 * 1.25
  }

  test("kmvDistinct is invariant to partitioning and row order (mergeable)") {
    val base = (1L to 3000L).map(i => ("g", i * 7 % 1000)) // dups included
    val a = rows(Sketches.kmvDistinct(base.toDF("g", "v").repartition(1), Seq("g"), "v", k = 128))
    val b = rows(Sketches.kmvDistinct(
      scala.util.Random.shuffle(base).toDF("g", "v").repartition(13), Seq("g"), "v", k = 128))
    a.head.getLong(1) shouldBe b.head.getLong(1)
    a.head.getDouble(2) shouldBe b.head.getDouble(2) // bit-identical
  }

  test("CMS: est >= true for every key, exact when w is collision-free, partition-invariant") {
    import spark.implicits._
    val base = (1 to 500).map(i => ("k" + (i % 17), i))
    val df = base.toDF("key", "x")
    val est = rows(Sketches.cmsEstimates(df, "key", d = 4, w = 8).orderBy("key"))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    est.length shouldBe 17
    est.foreach { case (_, t, e) => e should be >= t } // structural overestimate at w=8
    // wide sketch (w=4096, 17 keys): no collisions, est == true everywhere
    val exact = rows(Sketches.cmsEstimates(df, "key", d = 4, w = 4096))
      .map(r => (r.getLong(1), r.getLong(2)))
    exact.foreach { case (t, e) => e shouldBe t }
    // counters are order-independent sums: any repartitioning gives identical cells
    rows(Sketches.cmsCells(df.repartition(13), "key", 4, 8).orderBy("row", "cell")) shouldBe
      rows(Sketches.cmsCells(df.repartition(1), "key", 4, 8).orderBy("row", "cell"))
  }

  test("bloomPruneStats: no false negatives ever; undersized filter shows false positives") {
    import spark.implicits._
    val build = (1 to 40).map(i => i.toLong).toDF("bk")
    val probe = (1 to 400).flatMap(i => Seq.fill(1 + i % 3)(i.toLong)).toDF("pk")
    val nMember = probe.filter($"pk" <= 40).count()
    // roomy filter: pass must still cover every true member (n_pass >= n_true)
    val roomy = rows(Sketches.bloomPruneStats(probe, "pk", build, "bk", m = 65536, k = 3)).head
    roomy.getLong(1) should be >= roomy.getLong(2)
    roomy.getLong(2) shouldBe nMember // true matches counted in probe ROWS
    // tiny filter (m = 32, 40 keys x 3 bits): saturates, everything passes,
    // false positives = all nonmember rows - the undersized regime
    val tiny = rows(Sketches.bloomPruneStats(probe, "pk", build, "bk", m = 32, k = 3)).head
    tiny.getLong(2) shouldBe nMember
    tiny.getLong(3) should be > 0L
    tiny.getLong(1) shouldBe (tiny.getLong(2) + tiny.getLong(3))
  }

  test("histogramQuantiles: estimates land within one bin width of the exact " +
       "nearest-rank percentile; constant groups estimate the constant") {
    import spark.implicits._
    val vals = (1 to 1000).map(i => ("a", i.toDouble)) ++
      (1 to 50).map(_ => ("const", 7.5))
    val df = vals.toDF("k", "v")
    val out = rows(Sketches.histogramQuantiles(df, Seq("k"), "v",
      bins = 64, qs = Seq(0.5, 0.9, 0.99)).orderBy("k"))
    val a = out.find(_.getString(0) == "a").get
    val binW = (1000.0 - 1.0) / 64
    // exact nearest-rank picks: p50=500, p90=900, p99=990
    (a.getAs[Double]("p50_est") - 500.0).abs should be <= binW
    (a.getAs[Double]("p90_est") - 900.0).abs should be <= binW
    (a.getAs[Double]("p99_est") - 990.0).abs should be <= binW
    // estimates are upper bin edges -> never below the true quantile
    a.getAs[Double]("p50_est") should be >= 500.0
    val c = out.find(_.getString(0) == "const").get
    c.getAs[Double]("p50_est") shouldBe 7.5
    c.getAs[Double]("p99_est") shouldBe 7.5
  }

  test("BottomKAgg keeps the k smallest distinct values through reduce and merge") {
    val agg = new Sketches.BottomKAgg(3)
    val b = Seq(5L, 9L, 2L, 5L, 7L, 1L).foldLeft(agg.zero)(agg.reduce)
    b shouldBe Seq(1L, 2L, 5L)
    agg.merge(Seq(1L, 2L, 5L), Seq(0L, 2L, 8L)) shouldBe Seq(0L, 1L, 2L)
    agg.merge(agg.zero, Seq(4L)) shouldBe Seq(4L)
  }
}
