package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Mergeable cardinality sketches with engine-portable determinism.
  *
  * The production shape for distinct counts at corpus scale: an exact
  * `COUNT(DISTINCT x)` shuffles every distinct value; a KMV (k-minimum-
  * values) sketch ships a bounded k-element state per group from every map
  * task and merges by set-union-take-k — constant shuffle width per group
  * regardless of input size, and sketches for disjoint shards merge without
  * rescanning (the property HLL is used for in warehouse rollups —
  * Bar-Yossef et al., "Counting distinct elements in a data stream",
  * RANDOM'02). Unlike HLL, KMV over a FIXED hash is exactly deterministic:
  * the k smallest hash values are a set property of the input, independent
  * of partitioning, order, or engine — so the estimate is oracle-checkable
  * bit-for-bit, which is why this sketch (and not HLL++) is the one the
  * suite ships.
  */
object Sketches {

  /** 60-bit uniform hash via md5 — the repo's established cross-engine hash
    * (split assignment, global shuffle, feature hashing all use it): both
    * engines agree on md5 hex, and 15 hex digits (60 bits) fit a BIGINT
    * exactly, non-negative.
    */
  def h60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast(LongType)

  /** Bottom-k distinct-hash aggregator: buffer = the (at most) k smallest
    * DISTINCT hash values seen, ascending. `merge` is associative and
    * commutative, so Spark runs it with map-side partial aggregation — each
    * map task contributes at most k longs per group to the shuffle, the KMV
    * scale contract. k is small (hundreds), so the O(k) insert with an early
    * reject (`a >= last` on a full buffer, the common case on a stream of
    * mostly-large hashes) is cheaper than any tree structure at this size.
    */
  class BottomKAgg(k: Int) extends Aggregator[Long, Seq[Long], Seq[Long]] {
    override def zero: Seq[Long] = Seq.empty
    override def reduce(b: Seq[Long], a: Long): Seq[Long] =
      if (b.length == k && a >= b.last) b
      else if (b.contains(a)) b
      else ((b :+ a).sorted).take(k)
    override def merge(b1: Seq[Long], b2: Seq[Long]): Seq[Long] =
      (b1 ++ b2).distinct.sorted.take(k)
    override def finish(r: Seq[Long]): Seq[Long] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** 2^60 as an exact double — the hash-space size for the KMV estimate. */
  private val TwoPow60: Double = 1152921504606846976.0

  /** Per-group distinct-count estimate via a k-minimum-values sketch over
    * [[h60]] of `valueCol`, with the exact distinct count alongside (the
    * exact column is the demonstrator's self-check; a production rollup
    * ships only the sketch).
    *
    * Estimator: with U(k) = k-th smallest hash mapped to (0,1) by /2^60,
    * `est = (k-1) / U(k)` (the unbiased KMV estimator); when fewer than k
    * distinct hashes exist the sketch IS the distinct set and the estimate
    * is exact. All arithmetic after the integer kth-value is one cast and
    * one division of identical IEEE doubles — bit-reproducible across
    * engines writing the same formula.
    */
  def kmvDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int = 256): DataFrame = {
    val bottomK = udaf(new BottomKAgg(k), org.apache.spark.sql.Encoders.scalaLong)
    df.select(groupCols.map(col) :+ h60(col(valueCol)).as("__h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(countDistinct(col("__h")).as("exact_distinct"),
        bottomK(col("__h")).as("__sk"))
      .withColumn("est_distinct",
        when(col("exact_distinct") < k, col("exact_distinct").cast(DoubleType))
          .otherwise(lit((k - 1).toDouble) * lit(TwoPow60) /
            element_at(col("__sk"), k).cast(DoubleType)))
      .drop("__sk")
  }

  // ---------------------------------------------------------------------------
  // Count-min sketch (frequency estimation)
  // ---------------------------------------------------------------------------

  /** `d` independent cell ids in [0, w) for a key — row i hashes
    * `"i:" + key` through [[h60]], so the rows are as independent as md5
    * prefixes and BOTH engines can restate every cell exactly.
    */
  private def cmsCellIds(key: Column, d: Int, w: Int): Seq[Column] =
    (0 until d).map(i => pmod(h60(concat_ws(":", lit(i.toString), key)), lit(w.toLong)))

  /** Count-min sketch cells over a key column: d×w counters, each the exact
    * occurrence count of the keys hashing into it (Cormode & Muthukrishnan,
    * J. Algorithms 2005). Every counter is an order-independent SUM, so the
    * sketch is deterministic under any partitioning, mergeable across
    * shards by cell-wise addition, and oracle-checkable — the properties
    * that make it the frequency analogue of the KMV sketch above.
    *
    * Scale: the input explodes d× but collapses map-side into at most d×w
    * cells per map task — the shuffle carries a FIXED d×w frame per shard
    * regardless of input size (the CMS state contract). Estimates only ever
    * overestimate (collisions add), with ε ≈ e/w relative mass per row.
    */
  def cmsCells(df: DataFrame, keyCol: String, d: Int = 4, w: Int = 64): DataFrame = {
    val cells = cmsCellIds(col(keyCol), d, w).zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("row"), c.as("cell"))
    }
    df.select(explode(array(cells: _*)).as("rc"))
      .groupBy(col("rc.row").as("row"), col("rc.cell").as("cell"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Bloom-filter join pruning, deterministically: the build side's keys set
    * `k` md5-derived bit positions in an m-bit filter; a probe row passes if
    * ALL its k positions are set. Pass ⊇ true matches (no false negatives);
    * false positives are the space/selectivity tradeoff. This is the
    * runtime-filter shape Spark injects for selective joins (and parquet
    * row-group skipping uses), restated with the repo's cross-engine hash so
    * the FALSE-POSITIVE COUNT itself is oracle-checkable.
    *
    * Returns one summary row: probe volume, bloom-pass volume, true matches,
    * false positives, fp rate. Plan: the set-bit frame is at most
    * min(k·|build|, m) rows — broadcast; the probe side explodes k× and
    * counts matched positions per row (pass = all k), then one global
    * aggregate. No shuffle touches the probe payload.
    */
  def bloomPruneStats(probe: DataFrame, probeKey: String,
      build: DataFrame, buildKey: String,
      m: Int = 2048, k: Int = 3): DataFrame = {
    def positions(key: Column): Seq[Column] =
      (0 until k).map(i => pmod(h60(concat_ws(":", lit(i.toString), key)), lit(m.toLong)))
    val setBits = build.select(explode(array(positions(col(buildKey)): _*)).as("pos")).distinct()
    val truth = build.select(col(buildKey).as("__bk")).distinct()
    // membership is a KEY property: test each distinct probe key once, carry
    // its row count (a hot key never explodes more than k position rows)
    val keyPass = probe.groupBy(col(probeKey).as("__pk")).agg(count(lit(1)).as("__rows"))
      .select(col("__pk"), col("__rows"),
        explode(array(positions(col("__pk")): _*)).as("pos"))
      .join(broadcast(setBits), Seq("pos"), "left_semi")
      .groupBy("__pk", "__rows").agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === k) // every position set = bloom pass
    val passes = keyPass
      .join(broadcast(truth), col("__pk") === col("__bk"), "left")
      .agg(coalesce(sum(col("__rows")), lit(0L)).as("n_bloom_pass"),
        coalesce(sum(when(col("__bk").isNotNull, col("__rows")).otherwise(0L)), lit(0L))
          .as("n_true_match"))
    probe.agg(count(lit(1)).as("n_probe"))
      .crossJoin(broadcast(passes))
      .withColumn("n_false_positive", col("n_bloom_pass") - col("n_true_match"))
      .withColumn("fp_rate", round(
        col("n_false_positive").cast(DoubleType) / col("n_probe").cast(DoubleType), 6))
  }

  /** Equi-width histogram quantile sketch (r11): the mergeable scale path
    * for percentiles — the suite's exact nearest-rank percentiles
    * (`q_value_percentiles`) window-sort every group, which at 100 TB is a
    * full per-key sort; this sketch is two partial-aggregable passes
    * (per-group bounds, then per-(group, bin) counts — `bins` rows per
    * group on the shuffle regardless of input size), and histograms for
    * disjoint shards merge by cell addition, the same rollup property as
    * the KMV/CMS members of this file.
    *
    * Estimate: for quantile q with rank ⌈q·n⌉, the UPPER EDGE of the first
    * bin whose cumulative count reaches the rank — deliberately
    * interpolation-free, so the estimate is a fixed-shape double formula
    * (`lo + width·(idx+1)`) both engines compute bit-identically. Error is
    * bounded by one bin width (max−min)/bins. A constant group (max = min)
    * estimates every quantile at that constant.
    */
  def histogramQuantiles(df: DataFrame, groupCols: Seq[String],
      valueCol: String, bins: Int, qs: Seq[Double]): DataFrame = {
    val g = groupCols.map(col)
    val x = col(valueCol).cast(DoubleType)
    val bounds = df.groupBy(g: _*).agg(
      min(x).as("__lo"), max(x).as("__hi"), count(lit(1)).as("n"))
    val width = (col("__hi") - col("__lo")) / lit(bins.toDouble)
    val idx = when(col("__hi") === col("__lo"), lit(0L))
      .otherwise(least(lit((bins - 1).toLong),
        floor((x - col("__lo")) / width).cast(LongType)))
    val binCounts = df.join(bounds, groupCols)
      .select(g :+ col("__lo") :+ col("__hi") :+ col("n") :+ idx.as("__idx"): _*)
      .groupBy(g :+ col("__lo") :+ col("__hi") :+ col("n") :+ col("__idx"): _*)
      .agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("__idx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = binCounts.withColumn("__cum", sum(col("__c")).over(w))
    val estCols = qs.map { q =>
      val rank = ceil(lit(q) * col("n").cast(DoubleType)).cast(LongType)
      // first bin whose cumulative count reaches the rank → its upper edge
      min(when(col("__cum") >= rank,
        when(col("__hi") === col("__lo"), col("__lo"))
          .otherwise(col("__lo") + width * (col("__idx") + 1L).cast(DoubleType))))
        .as(s"p${(q * 100).round}_est")
    }
    cum.groupBy(g :+ col("__lo").as("lo") :+ col("__hi").as("hi") :+ col("n"): _*)
      .agg(estCols.head, estCols.tail: _*)
  }

  /** Point-query estimates for every key alongside its true count: the CMS
    * estimate is the MIN over the key's d cells. The d×w cell frame is
    * broadcast (it is sketch-sized by construction); the true count is the
    * demonstrator's self-check — a production consumer holds only the cells.
    * Overestimation is structural: est ≥ true for every key, exactly.
    */
  def cmsEstimates(df: DataFrame, keyCol: String, d: Int = 4, w: Int = 64): DataFrame = {
    val cells = cmsCells(df, keyCol, d, w)
    val keys = df.groupBy(col(keyCol)).agg(count(lit(1)).as("true_cnt"))
    keys.select(col(keyCol), col("true_cnt"),
        posexplode(array(cmsCellIds(col(keyCol), d, w): _*)).as(Seq("row", "cell")))
      .join(broadcast(cells), Seq("row", "cell"))
      .groupBy(col(keyCol), col("true_cnt"))
      .agg(min(col("cnt")).as("est_cnt"))
  }
}
