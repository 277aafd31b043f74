package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Sampling

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def ids = (0L until 2000L).toDF("id")

  /** Approximate deterministic sample: keep rows whose hash bucket falls
    * under `fraction`.
    */
  private def hashSample(df: DataFrame, idCol: String, fraction: Double,
      buckets: Int = 1000): DataFrame =
    df.filter(Sampling.hashBucket(col(idCol), buckets) < math.round(fraction * buckets))

  test("withSplit is deterministic, covers all labels, roughly honors weights") {
    val a = rows(Sampling.withSplit(ids, "id").orderBy("id")).map(_.getString(1))
    val b = rows(Sampling.withSplit(ids, "id").orderBy("id")).map(_.getString(1))
    a shouldBe b
    val byLabel = a.groupBy(identity).view.mapValues(_.size).toMap
    byLabel.keySet shouldBe Set("train", "val", "test")
    byLabel("train").toDouble / a.size shouldBe 0.8 +- 0.05
    byLabel("val").toDouble / a.size shouldBe 0.1 +- 0.03
  }

  test("split assignment is stable under corpus growth (no example crosses splits)") {
    val small = rows(Sampling.withSplit(ids.filter(col("id") < 500), "id").orderBy("id"))
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val big = rows(Sampling.withSplit(ids, "id").orderBy("id"))
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    small.foreach { case (id, label) => big(id) shouldBe label }
  }

  test("hashSample keeps approximately the requested fraction, deterministically") {
    val n1 = hashSample(ids, "id", 0.2).count()
    val n2 = hashSample(ids, "id", 0.2).count()
    n1 shouldBe n2
    n1.toDouble / 2000 shouldBe 0.2 +- 0.04
  }

  test("stratifiedQuota takes exactly ceil(fraction * |stratum|) rows per stratum") {
    val df = Seq.tabulate(100)(i => (i.toLong, if (i % 3 == 0) "a" else "b"))
      .toDF("id", "grp")
    val out = Sampling.stratifiedQuota(df, Seq("grp"), "id", 0.25)
    val counts = rows(out.groupBy("grp").count().orderBy("grp"))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    counts("a") shouldBe math.ceil(34 * 0.25).toLong // 34 rows in 'a'
    counts("b") shouldBe math.ceil(66 * 0.25).toLong
  }

  test("perKeyCap keeps at most cap rows per key, is deterministic, and is growth-stable") {
    val df = Seq.tabulate(100)(i => (i.toLong, if (i % 4 == 0) "big" else "bigger"))
      .toDF("id", "grp")
    val out = Sampling.perKeyCap(df, Seq("grp"), "id", 10)
    val counts = rows(out.groupBy("grp").count().orderBy("grp"))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    counts shouldBe Map("big" -> 10L, "bigger" -> 10L)
    // under-cap keys pass through whole
    Sampling.perKeyCap(df.filter(col("id") < 8), Seq("grp"), "id", 10).count() shouldBe 8
    // growth stability: a kept id is only displaced by a lower-hash newcomer,
    // never reshuffled — the kept set of the small corpus contains the kept
    // set of the smaller one minus displacements
    val keptSmall = rows(Sampling.perKeyCap(df.filter(col("id") < 50), Seq("grp"), "id", 10)
      .select("id")).map(_.getLong(0)).toSet
    val keptBig = rows(out.select("id")).map(_.getLong(0)).toSet
    // determinism across evaluations
    rows(out.orderBy("id")) shouldBe rows(Sampling.perKeyCap(df, Seq("grp"), "id", 10).orderBy("id"))
    (keptSmall.size, keptBig.size) shouldBe ((20, 20))
  }

  test("temperatureWeights: tau=1 is proportional (all 1.0); tau<1 upsamples rare strata") {
    // 900 'big' rows vs 100 'small' rows
    val df = (0L until 1000L).map(i => (i, if (i < 900) "big" else "small")).toDF("id", "lang")
    val w1 = rows(Sampling.temperatureWeights(df, "lang", tau = 1.0))
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    w1("big") shouldBe 1.0 +- 1e-6
    w1("small") shouldBe 1.0 +- 1e-6
    val w5 = rows(Sampling.temperatureWeights(df, "lang", tau = 0.5))
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    w5("small") should be > 1.0
    w5("big") should be < 1.0
    // expected output size is preserved: sum n_s * w_s = N
    (900 * w5("big") + 100 * w5("small")) shouldBe 1000.0 +- 1e-2
  }

  test("temperatureResample output size tracks the expectation, deterministically") {
    val df = (0L until 1000L).map(i => (i, if (i < 900) "big" else "small")).toDF("id", "lang")
    val out = Sampling.temperatureResample(df, "lang", "id", tau = 0.5)
    val n = out.count()
    n.toDouble shouldBe 1000.0 +- 60.0 // stochastic rounding, hash-deterministic
    out.count() shouldBe n // re-run identical
    // rare stratum grew, dominant shrank
    val bySrc = rows(out.groupBy("lang").count()).map(r => r.getString(0) -> r.getLong(1)).toMap
    bySrc("small").toDouble should be > 100.0
    bySrc("big").toDouble should be < 900.0
  }

  test("tokenBudgetSample: strict budget cap, deterministic, exactly filled") {
    val df = (1L to 50L).map(i => (i, "s", 10L)).toDF("id", "src", "toks")
    val kept = rows(Sampling.tokenBudgetSample(df, "id", "src", "toks", budget = 200L))
    kept.size shouldBe 20 // 20 × 10 = 200 ≤ 200; 21st would cross
    kept.map(_.getLong(3)).max shouldBe 200L
    // re-run identical (pure function of ids)
    rows(Sampling.tokenBudgetSample(df, "id", "src", "toks", budget = 200L))
      .map(_.getLong(0)).toSet shouldBe kept.map(_.getLong(0)).toSet
    // boundary doc dropped: budget 195 keeps 19 docs (cum 190), not a partial 20th
    rows(Sampling.tokenBudgetSample(df, "id", "src", "toks", budget = 195L))
      .size shouldBe 19
  }

  test("curriculumInterleave ramps difficulty and round-robins sources") {
    val df = Seq(
      (1L, "a", 30L), (2L, "a", 10L), (3L, "a", 20L),
      (4L, "b", 5L), (5L, "b", 50L), (6L, "b", 40L)
    ).toDF("id", "src", "diff")
    val got = rows(Sampling.curriculumInterleave(df, "id", "src", "diff")
      .select("id", "src", "src_rank", "position").orderBy("position"))
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // positions 0..5: sources alternate a,b,a,b,... and each source's ranks ascend
    got.map(_._4) shouldBe (0L to 5L)
    got.map(_._2) shouldBe Seq("a", "b", "a", "b", "a", "b")
    got.map(_._1) shouldBe Seq(2L, 4L, 3L, 6L, 1L, 5L) // easy → hard within source
  }
}
