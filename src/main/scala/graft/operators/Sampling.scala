package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic dataset splitting and sampling for training-data pipelines.
  *
  * Everything keys on a content-independent hash of the row's ID, so the
  * assignment is (1) reproducible across runs and clusters — re-running the
  * pipeline never shuffles examples between train and test; (2) stable under
  * corpus growth — adding documents never moves an existing one across
  * splits; (3) pure narrow expressions — zero shuffle for hash splits, one
  * bounded window for exact quotas.
  *
  * The hash is the first 15 hex digits of MD5 (60 bits) rather than xxhash64
  * — deliberately, for the same reason as [[TextAnalysis.fingerprint]]: an
  * external SQL oracle can reproduce it digit for digit.
  */
object Sampling {

  /** 60-bit MD5-derived hash of an id (non-negative, uniform). */
  def idHash(id: Column): Column =
    conv(substring(md5(id.cast(StringType)), 1, 15), 16, 10).cast(LongType)

  /** Uniform bucket in [0, buckets) from the id hash. */
  def hashBucket(id: Column, buckets: Int = 1000): Column = idHash(id) % buckets

  /** Deterministic split assignment: `splits` are (label, weight) pairs
    * (weights sum to ≤ 1; any remainder falls to the last label). A row's
    * label is found by its hash bucket against the cumulative weight
    * boundaries — the standard hash-split every training pipeline needs,
    * stable under corpus growth.
    */
  def splitAssign(id: Column, splits: Seq[(String, Double)], buckets: Int = 1000): Column = {
    require(splits.nonEmpty, "at least one split")
    val b = hashBucket(id, buckets)
    val bounds = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w }.tail
    val cases = splits.zip(bounds).dropRight(1).foldLeft(Option.empty[Column]) {
      case (acc, ((label, _), hi)) =>
        val cond = b < math.round(hi * buckets)
        Some(acc.fold(when(cond, lit(label)))(_.when(cond, lit(label))))
    }
    cases.fold(lit(splits.last._1))(_.otherwise(lit(splits.last._1)))
  }

  /** Attach a split column (e.g. train/val/test) keyed on `idCol`. Narrow —
    * no shuffle at any scale.
    */
  def withSplit(df: DataFrame, idCol: String, outCol: String = "split",
      splits: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)): DataFrame =
    df.withColumn(outCol, splitAssign(col(idCol), splits))

  /** Deterministic source-mixture resampling: each row is repeated
    * `floor(w) + [u < frac(w)]` times, where `w` is its source's mixture
    * weight and `u = idHash / 2^60` is the row's uniform deviate. Sources
    * with w > 1 upsample (epoch repetition of high-quality data), w < 1
    * subsample — the standard way a training mixture re-weights corpora
    * (cf. temperature-weighted mixing in multilingual/LLM training).
    *
    * Deterministic: the copy count is a pure function of (id, source), so
    * re-runs and resumed jobs regenerate the identical mixture. Narrow —
    * one `explode(sequence)` per row, no shuffle at any scale; rows with
    * zero copies vanish because `explode` drops empty arrays.
    *
    * `weights` is an ordered Seq (first match wins) of (source → weight).
    */
  def mixtureResample(df: DataFrame, sourceCol: String, idCol: String,
      weights: Seq[(String, Double)], defaultWeight: Double = 1.0): DataFrame = {
    val w = weights.foldRight(lit(defaultWeight): Column) { case ((src, wt), acc) =>
      when(col(sourceCol) === src, lit(wt)).otherwise(acc)
    }
    stochasticCopies(df, w, idCol)
  }

  /** The shared copy-count rule of [[mixtureResample]]/[[temperatureResample]]:
    * `floor(w) + [u < frac(w)]` copies per row, `u = idHash / 2^60`.
    */
  private def stochasticCopies(df: DataFrame, w: Column, idCol: String): DataFrame = {
    // 2^60 is a power of two: the long→double conversion and division are
    // both exact, so `u` is bit-identical in any IEEE engine.
    val u = idHash(col(idCol)).cast(DoubleType) / lit(1152921504606846976.0)
    val copies = floor(w).cast(LongType) +
      when(u < (w - floor(w)), lit(1L)).otherwise(lit(0L))
    df.withColumn("n_copies", copies)
      .withColumn("copy_id", explode(
        when(col("n_copies") >= 1, sequence(lit(1L), col("n_copies")))
          .otherwise(array().cast(ArrayType(LongType)))))
  }

  /** Temperature-derived mixture weights: stratum share `p = n/N` is flattened
    * to `q ∝ p^τ` and the per-row weight is `q·N/n = p^(τ-1)/Σp^τ` — the
    * standard multilingual/multi-source rebalancing rule (τ=1 is proportional
    * = all weights 1; τ→0 is uniform over strata; τ<1 upsamples rare strata).
    * Expected output size stays N because Σ n·w = N by construction.
    *
    * Weights are `round(·, 6)`: the pow/Σ chain is libm- and sum-order-
    * sensitive in the last ulp across engines, and 6 decimals is the repo's
    * established cross-engine determinism grid (see the percentile queries).
    *
    * Scale: one count-agg over strata (tiny), two scalar reductions over that
    * tiny frame — the expensive corpus never shuffles.
    */
  def temperatureWeights(df: DataFrame, stratumCol: String, tau: Double): DataFrame = {
    val cnt = df.groupBy(col(stratumCol)).agg(count(lit(1)).cast(DoubleType).as("__n"))
    // the scalar reductions (total, z) are windows over the strata frame —
    // one row per stratum, so the single-partition window is a few-row sort.
    // ("__tot", not "__N": Spark's default case-INsensitive resolution would
    // make a "__N" withColumn silently replace "__n".)
    val all = Window.partitionBy(lit(0))
    cnt.withColumn("__tot", sum(col("__n")).over(all))
      .withColumn("__pw", pow(col("__n") / col("__tot"), tau))
      .withColumn("__z", sum(col("__pw")).over(all))
      .select(col(stratumCol),
        round(col("__pw") / col("__z") * col("__tot") / col("__n"), 6).as("weight"))
  }

  /** [[mixtureResample]] with weights DERIVED from the data by temperature
    * flattening ([[temperatureWeights]]) instead of supplied literals. The
    * weight table (one row per stratum) broadcast-joins onto the corpus —
    * narrow on the big side, same deterministic copy rule.
    */
  def temperatureResample(df: DataFrame, stratumCol: String, idCol: String,
      tau: Double): DataFrame = {
    val joined = df.join(broadcast(temperatureWeights(df, stratumCol, tau)), Seq(stratumCol))
    stochasticCopies(joined, col("weight"), idCol)
  }

  /** Deterministic global shuffle for training-data ordering: every row gets
    * `shuffle_pos` — its rank in md5-hash order — so examples stream to the
    * trainer in a reproducible pseudo-random order.
    *
    * A naive `row_number() OVER (ORDER BY hash)` is one unpartitioned window
    * — a single task sorting the corpus. This uses the same two-level scheme
    * as [[graft.operators.Packing.packSequences]], keyed on the hash's own
    * TOP BITS: `grp = h >> (60 - log2 buckets)` is a prefix of `h`, so
    * ordering by (grp, h, id) IS ordering by (h, id) globally — within-group
    * row_numbers run under a partitioned window (uniform by hash
    * construction), and only the per-group counts meet in one tiny window.
    * Ids tie-break hash collisions, so the order is total and reproducible.
    */
  def deterministicShuffle(df: DataFrame, idCol: String,
      groupBits: Int = 12): DataFrame = {
    require(groupBits > 0 && groupBits < 60, "groupBits in (0, 60)")
    val withH = df.withColumn("__h", idHash(col(idCol)))
      .withColumn("__grp", shiftright(col("__h"), 60 - groupBits))
    val wIn = Window.partitionBy(col("__grp")).orderBy(col("__h"), col(idCol))
    val local = withH.withColumn("__rn", row_number().over(wIn).cast(LongType))
    val wCarry = Window.orderBy(col("__grp"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = local.groupBy(col("__grp")).agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(wCarry), lit(0L)))
      .select(col("__grp"), col("__off"))
    local.join(broadcast(carries), Seq("__grp"))
      .withColumn("shuffle_pos", col("__off") + col("__rn") - 1)
      .drop("__h", "__grp", "__rn", "__off")
  }

  /** Absolute per-key cap — the domain/source quota every web-scale corpus
    * applies (at most `cap` documents per domain, so one mega-site cannot
    * dominate the training mix): keep the `cap` rows with the smallest id
    * hashes in each key group. Deterministic and stable under growth — a
    * kept document is only ever displaced by a new lower-hash one, never by
    * reordering. One shuffle on the key; `row_number ≤ cap` optimizes to a
    * per-group top-k (WindowGroupLimit pushes the limit below the sort), so
    * no group is ever fully sort-materialized.
    */
  def perKeyCap(df: DataFrame, keyCols: Seq[String], idCol: String,
      cap: Int): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(idHash(col(idCol)), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap)
      .drop("__rn")
  }

  /** Exact per-stratum quota sample: the `ceil(fraction · |stratum|)` rows
    * with the smallest id hashes in each stratum. One shuffle on the strata
    * keys (same partitioning a downstream per-stratum aggregation would
    * reuse); deterministic — the chosen set is a pure function of the ids.
    */
  def stratifiedQuota(df: DataFrame, strataCols: Seq[String], idCol: String,
      fraction: Double): DataFrame = {
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(idHash(col(idCol)), col(idCol))
    val cw = Window.partitionBy(strataCols.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(cw))
      .filter(col("__rn") <= ceil(col("__n") * fraction))
      .drop("__rn", "__n")
  }

  /** Token-budget-capped subsample: keep each stratum's documents in
    * deterministic id-hash order while the running token sum stays within
    * `budget` — "give me ≤ N tokens per source, unbiased" is the everyday
    * curation ask when a mixture recipe fixes per-source token counts.
    * Hash order makes the kept set a uniform, reproducible sample (a scan-
    * order prefix would bias toward whatever the writer emitted first).
    * Unlike [[withSplit]]'s per-doc assignment, a budget PREFIX is not
    * growth-stable — a new doc can hash earlier and push the boundary —
    * which is inherent to any fixed-total cap; the first doc crossing the
    * budget is dropped (strict ≤).
    *
    * Scale: one per-stratum running-sum window — the same single key-keyed
    * exchange any per-stratum aggregation pays.
    */
  def tokenBudgetSample(df: DataFrame, idCol: String, stratumCol: String,
      tokenCol: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(idHash(col(idCol)), col(idCol))
    df.withColumn("cum_tokens", sum(col(tokenCol)).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Curriculum ordering with round-robin source interleaving: rank each
    * stratum's rows by a difficulty proxy (ascending — easy first), then
    * assign global position `(rank−1)·n_strata + stratum_index`, so the
    * training stream ramps difficulty while every consecutive n_strata-row
    * window touches every source once (the interleaving curriculum-training
    * recipes prescribe so no source is bunched).
    *
    * Scale: one per-stratum rank window (the corpus-wide stage) plus a
    * strata index frame that is bounded by construction — one row per
    * stratum, built with a single tiny window and broadcast back. Position
    * is arithmetic, not a global sort; a consumer ORDER BY position is a
    * range-partitioned sort only the final writer pays.
    */
  def curriculumInterleave(df: DataFrame, idCol: String, stratumCol: String,
      difficultyCol: String): DataFrame = {
    // one row per stratum: alphabetical index + the stratum count —
    // bounded-by-construction (strata are a handful), so the single
    // unpartitioned window is a few rows, then broadcast
    val strata = df.select(col(stratumCol)).distinct()
      .withColumn("__si", row_number().over(Window.orderBy(col(stratumCol))).cast(LongType) - 1L)
      .withColumn("__ns", count(lit(1)).over(Window.partitionBy()))
    val ranked = df.withColumn("src_rank",
      row_number().over(Window.partitionBy(col(stratumCol))
        .orderBy(col(difficultyCol), col(idCol))).cast(LongType))
    ranked.join(broadcast(strata), Seq(stratumCol))
      .withColumn("position", (col("src_rank") - 1L) * col("__ns") + col("__si"))
      .drop("__si", "__ns")
  }
}
