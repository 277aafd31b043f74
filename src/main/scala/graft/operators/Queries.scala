package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.GraftFunctions

/** The reference's declared-but-unimplemented query surface
  * (reference schema.py:73-76: `timeseries`, `correlation`, `moving_average`)
  * implemented as first-class operators, plus the relational extensions the
  * reference's normalize step gestures at but never performs (union, join
  * enrichment) — SURVEY.md §2.6 / §2.10.
  */
object Queries {

  /** `timeseries` query: time-range + membership predicate + ordered projection.
    *
    * Scale: the range predicate and `isin` both push down to the parquet scan
    * (`PushedFilters` in explain); the sort is the only wide stage and is a
    * range-partitioned sort, so it scales linearly with selected rows.
    */
  def timeseries(
      df: DataFrame,
      timeCol: String,
      start: String,
      end: String,
      keyCol: Option[String] = None,
      keys: Seq[String] = Seq.empty,
      tieBreak: Seq[String] = Seq.empty): DataFrame = {
    val ranged = df.filter(col(timeCol).between(lit(start).cast(TimestampType), lit(end).cast(TimestampType)))
    val keyed = keyCol match {
      case Some(k) if keys.nonEmpty => ranged.filter(col(k).isin(keys.map(lit(_)): _*))
      case _ => ranged
    }
    keyed.orderBy((timeCol +: tieBreak).map(col): _*)
  }

  /** Simple (arithmetic) period returns: `(x - prev) / prev` per key in time
    * order — the standard financial pct-change series. One `lag` under the
    * same key-shuffle every other per-symbol window shares; null for the
    * first row of each key (no prior observation). All-IEEE arithmetic
    * (one subtract, one divide) — deterministic and oracle-identical.
    */
  def returns(df: DataFrame, valueCol: String, partitionCols: Seq[String],
      orderCols: Seq[String], outCol: String = "ret"): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols.map(col): _*)
    val prev = lag(col(valueCol), 1).over(w)
    df.withColumn(outCol, (col(valueCol) - prev) / prev)
  }

  /** Running peak and drawdown — `peak = max so far`, `dd = (x - peak)/peak`
    * (≤ 0; the classic underwater curve). The running max is a bounded-state
    * ordered frame on the same key shuffle as [[returns]].
    */
  def drawdown(df: DataFrame, valueCol: String, partitionCols: Seq[String],
      orderCols: Seq[String], outCol: String = "drawdown"): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val peak = max(col(valueCol)).over(w)
    df.withColumn("peak", peak)
      .withColumn(outCol, (col(valueCol) - col("peak")) / col("peak"))
  }

  /** Volume-weighted average price per (bucket, keys):
    * `sum(price·volume) / sum(volume)` with fixed-point-decimal sums so the
    * ratio is summation-order-independent — one partial-aggregable groupBy.
    */
  def vwap(df: DataFrame, priceCol: String, volCol: String,
      bucket: Column, keyCols: Seq[String] = Seq.empty): DataFrame =
    df.groupBy(bucket.as("bucket") +: keyCols.map(col): _*)
      .agg((sum((col(priceCol) * col(volCol)).cast(DecimalType(30, 6))).cast(DoubleType)
        / sum(col(volCol).cast(DecimalType(30, 6))).cast(DoubleType)).as("vwap"))

  /** `moving_average` query: trailing n-row mean per partition key.
    *
    * Exact-arithmetic variant: the windowed sum runs in fixed-point decimal so
    * the result is order-independent and bit-identical across engines (Spark vs
    * the DuckDB oracle); the final divide happens in double.
    *
    * Scale: one shuffle on the partition key; frames are bounded (ROWS BETWEEN
    * n-1 PRECEDING) so state per key is O(n), no skew risk beyond key skew.
    */
  def movingAverage(
      df: DataFrame,
      valueCol: String,
      partitionCols: Seq[String],
      orderCols: Seq[String],
      n: Int,
      outCol: String = "mov_avg"): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-(n - 1), Window.currentRow)
    df.withColumn(outCol,
      sum(col(valueCol).cast(DecimalType(30, 6))).over(w).cast(DoubleType)
        / count(col(valueCol)).over(w).cast(DoubleType))
  }

  /** `correlation` query: align two series on a shared time key, Pearson r.
    *
    * Implemented from exact decimal power sums (Σx, Σy, Σxy, Σx², Σy²) rather
    * than `corr()`: streaming co-moment formulas are summation-order-dependent,
    * so Spark and an external oracle disagree in the last ulps; fixed-point
    * sums make every term exact and the final double arithmetic identical.
    *
    * Input: a frame already pivoted to (key, x, y) rows — see
    * [[alignPair]] for building it from tall (time, series, value) data.
    * Scale: single partial-aggregable aggregation; shuffles 5 numbers per
    * partition — constant-size shuffle regardless of input size.
    */
  def pearson(df: DataFrame, xCol: String, yCol: String, outCol: String = "r"): DataFrame = {
    // Power sums: each per-row product multiplies in DOUBLE (single rounding,
    // deterministic, engine-independent) and the product is quantized to
    // DECIMAL(30,6) so the SUM is exact and order-independent. Decimal×decimal
    // is avoided on purpose: DuckDB computes DECIMAL(18)×DECIMAL(18) in int64
    // and overflows on real magnitudes.
    val dec = DecimalType(30, 6)
    val x = col(xCol).cast(DoubleType)
    val y = col(yCol).cast(DoubleType)
    val pairs = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val agg = pairs.agg(
      count(lit(1)).cast(DoubleType).as("n"),
      sum(x.cast(dec)).cast(DoubleType).as("sx"),
      sum(y.cast(dec)).cast(DoubleType).as("sy"),
      sum((x * y).cast(dec)).cast(DoubleType).as("sxy"),
      sum((x * x).cast(dec)).cast(DoubleType).as("sxx"),
      sum((y * y).cast(dec)).cast(DoubleType).as("syy"))
    agg.select(
      ((col("n") * col("sxy") - col("sx") * col("sy")) /
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
             (col("n") * col("syy") - col("sy") * col("sy")))).as(outCol))
  }

  /** Rolling Pearson correlation over an ordered (key, x, y) frame: the same
    * exact-decimal power sums as [[pearson]], computed over a bounded ROWS
    * window, so every rolling r is bit-identical to the oracle. Rows whose
    * window is not yet full are dropped (degenerate variance ⇒ NaN noise).
    *
    * Scale: bounded frame (O(n) state per partition); with `partitionCols`
    * empty this is a single ordered partition — correct for one global pair
    * of series, use partition keys for per-entity rolling correlation.
    */
  def rollingPearson(
      df: DataFrame, orderCol: String, xCol: String, yCol: String, n: Int,
      partitionCols: Seq[String] = Seq.empty, outCol: String = "r"): DataFrame = {
    val dec = DecimalType(30, 6)
    val base = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    val w = base.rowsBetween(-(n - 1), Window.currentRow)
    val x = col(xCol).cast(DoubleType)
    val y = col(yCol).cast(DoubleType)
    def es(c: Column) = sum(c.cast(dec)).over(w).cast(DoubleType)
    df.withColumn("__rn", row_number().over(base))
      .withColumn("__n", count(lit(1)).over(w).cast(DoubleType))
      .withColumn("__sx", es(x)).withColumn("__sy", es(y))
      .withColumn("__sxy", es(x * y)).withColumn("__sxx", es(x * x)).withColumn("__syy", es(y * y))
      .filter(col("__rn") >= n)
      .withColumn(outCol,
        (col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
          sqrt((col("__n") * col("__sxx") - col("__sx") * col("__sx")) *
               (col("__n") * col("__syy") - col("__sy") * col("__sy"))))
      .drop("__rn", "__n", "__sx", "__sy", "__sxy", "__sxx", "__syy")
  }

  /** Rolling volatility: sample standard deviation over a bounded ROWS
    * window, from exact decimal power sums (same oracle-parity rationale as
    * [[rollingPearson]]): σ = sqrt((n·Σx² − (Σx)²) / (n·(n−1))). Rows with a
    * not-yet-full window are dropped.
    */
  def rollingVolatility(
      df: DataFrame, orderCol: String, valueCol: String, n: Int,
      partitionCols: Seq[String] = Seq.empty, outCol: String = "vol"): DataFrame = {
    val dec = DecimalType(30, 6)
    val base = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    val w = base.rowsBetween(-(n - 1), Window.currentRow)
    val x = col(valueCol).cast(DoubleType)
    df.withColumn("__rn", row_number().over(base))
      .withColumn("__n", count(lit(1)).over(w).cast(DoubleType))
      .withColumn("__sx", sum(x.cast(dec)).over(w).cast(DoubleType))
      .withColumn("__sxx", sum((x * x).cast(dec)).over(w).cast(DoubleType))
      .filter(col("__rn") >= n)
      .withColumn(outCol,
        sqrt((col("__n") * col("__sxx") - col("__sx") * col("__sx")) /
          (col("__n") * (col("__n") - 1))))
      .drop("__rn", "__n", "__sx", "__sxx")
  }

  /** Bollinger bands: n-row moving mean ± k·(sample stddev), both from exact
    * decimal power sums (one shared bounded frame), so every band value is
    * bit-identical to the oracle. Rows with a not-yet-full window are dropped.
    *
    * Scale: same shape as [[rollingVolatility]] — one key shuffle, O(n) frame
    * state; `mid`/`sd`/bands are all derived from two windowed sums.
    */
  def bollinger(
      df: DataFrame, orderCol: String, valueCol: String, n: Int, k: Double = 2.0,
      partitionCols: Seq[String] = Seq.empty): DataFrame = {
    val dec = DecimalType(30, 6)
    val base = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    val w = base.rowsBetween(-(n - 1), Window.currentRow)
    val x = col(valueCol).cast(DoubleType)
    df.withColumn("__rn", row_number().over(base))
      .withColumn("__n", count(lit(1)).over(w).cast(DoubleType))
      .withColumn("__sx", sum(x.cast(dec)).over(w).cast(DoubleType))
      .withColumn("__sxx", sum((x * x).cast(dec)).over(w).cast(DoubleType))
      .filter(col("__rn") >= n)
      .withColumn("mid", col("__sx") / col("__n"))
      .withColumn("sd",
        sqrt((col("__n") * col("__sxx") - col("__sx") * col("__sx")) /
          (col("__n") * (col("__n") - 1))))
      .withColumn("upper", col("mid") + lit(k) * col("sd"))
      .withColumn("lower", col("mid") - lit(k) * col("sd"))
      .drop("__rn", "__n", "__sx", "__sxx")
  }

  /** Relative Strength Index, Cutler's variant (simple n-row averages of gains
    * and losses rather than Wilder's recursive smoothing — window-expressible,
    * so it stays inside one codegen'd Window node and is oracle-exact).
    * `rsi = 100·Σgain / (Σgain + Σloss)`, null until n diffs exist and when the
    * window is flat (Σgain+Σloss = 0 ⇒ division yields null, both engines).
    */
  def rsi(df: DataFrame, orderCol: String, valueCol: String, n: Int,
      partitionCols: Seq[String] = Seq.empty, outCol: String = "rsi"): DataFrame = {
    val dec = DecimalType(30, 6)
    val base = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    val w = base.rowsBetween(-(n - 1), Window.currentRow)
    val x = col(valueCol).cast(DoubleType)
    val diff = x - lag(x, 1).over(base)
    // Materialize the diff before the windowed sums (window-in-window is
    // illegal in both engines); CASE-form (not greatest()) so null first-diffs
    // fold to 0 identically in Spark and the oracle.
    df.withColumn("__diff", diff)
      .withColumn("__g", when(col("__diff") > 0, col("__diff")).otherwise(lit(0.0)))
      .withColumn("__l", when(col("__diff") < 0, -col("__diff")).otherwise(lit(0.0)))
      .withColumn("__rn", row_number().over(base))
      .withColumn("__sg", sum(col("__g").cast(dec)).over(w).cast(DoubleType))
      .withColumn("__sl", sum(col("__l").cast(dec)).over(w).cast(DoubleType))
      .filter(col("__rn") >= n + 1)
      .withColumn(outCol,
        when(col("__sg") + col("__sl") > 0, lit(100.0) * col("__sg") / (col("__sg") + col("__sl"))))
      .drop("__diff", "__g", "__l", "__rn", "__sg", "__sl")
  }

  /** Average True Range over OHLC rows: `tr = max(high−low, |high−prevClose|,
    * |low−prevClose|)` (high−low alone on the first row of a key), then an
    * n-row exact-decimal moving mean. One key shuffle shared by the lag and
    * the bounded frame.
    */
  def atr(df: DataFrame, orderCol: String, n: Int,
      partitionCols: Seq[String] = Seq.empty,
      highCol: String = "high", lowCol: String = "low", closeCol: String = "close"): DataFrame = {
    val dec = DecimalType(30, 6)
    val base = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    val w = base.rowsBetween(-(n - 1), Window.currentRow)
    val h = col(highCol).cast(DoubleType)
    val l = col(lowCol).cast(DoubleType)
    val pc = lag(col(closeCol).cast(DoubleType), 1).over(base)
    val tr = when(pc.isNull, h - l).otherwise(greatest(h - l, abs(h - pc), abs(l - pc)))
    df.withColumn("tr", tr)
      .withColumn("__rn", row_number().over(base))
      .withColumn("__st", sum(col("tr").cast(dec)).over(w).cast(DoubleType))
      .withColumn("__n", count(lit(1)).over(w).cast(DoubleType))
      .filter(col("__rn") >= n)
      .withColumn("atr", col("__st") / col("__n"))
      .drop("__rn", "__st", "__n")
  }

  /** On-Balance Volume: cumulative `sign(close − prevClose)·volume` per key,
    * accumulated in exact decimal so the running sum is order-independent and
    * oracle-identical. Bounded-state running frame on the one key shuffle.
    */
  def obv(df: DataFrame, orderCol: String, partitionCols: Seq[String] = Seq.empty,
      closeCol: String = "close", volCol: String = "volume"): DataFrame = {
    val dec = DecimalType(30, 6)
    val base = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    val run = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = col(closeCol).cast(DoubleType)
    val prev = lag(c, 1).over(base)
    val dir = when(prev.isNull, lit(0.0)).when(c > prev, lit(1.0))
      .when(c < prev, lit(-1.0)).otherwise(lit(0.0))
    df.withColumn("__d", dir)
      .withColumn("obv",
        sum((col("__d") * col(volCol).cast(DoubleType)).cast(dec)).over(run).cast(DoubleType))
      .drop("__d")
  }

  /** Stochastic oscillator %K: `100·(close − lowest low) / (highest high −
    * lowest low)` over an n-row window; null while the window is short or
    * flat (zero range). Rolling extrema are exact (no float accumulation), so
    * the single division is the only rounding — oracle-identical.
    */
  def stochasticK(df: DataFrame, orderCol: String, n: Int,
      partitionCols: Seq[String] = Seq.empty,
      highCol: String = "high", lowCol: String = "low", closeCol: String = "close"): DataFrame = {
    val base = Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    val w = base.rowsBetween(-(n - 1), Window.currentRow)
    val hh = max(col(highCol).cast(DoubleType)).over(w)
    val ll = min(col(lowCol).cast(DoubleType)).over(w)
    df.withColumn("__rn", row_number().over(base))
      .withColumn("hh", hh).withColumn("ll", ll)
      .filter(col("__rn") >= n)
      .withColumn("pct_k",
        when(col("hh") > col("ll"),
          lit(100.0) * (col(closeCol).cast(DoubleType) - col("ll")) / (col("hh") - col("ll"))))
      .drop("__rn")
  }

  /** Pairwise Pearson correlation matrix (upper triangle) of many series
    * aligned on a time key: tall (key, time, x) input self-joined on time,
    * then one partial-aggregable power-sum aggregation per (a, b) pair —
    * the same exact-decimal formula as [[pearson]].
    *
    * Scale: the self-join is an equi-join on the time key (sort-merge or
    * broadcast by AQE); with k series and T times the join emits T·k² rows —
    * k is the number of SERIES, and the aggregation shuffles only 5 numbers
    * per pair. **The T·k² join fan-out is this formulation's scale bound**:
    * fine for k in the tens (event types, a sector's tickers), the classic
    * quadratic blowup at thousands of symbols. For large k use
    * [[correlationMatrixWide]] (pivot + one-pass power sums — no join
    * materialization); beyond ~10³ series, where even k²/2 output pairs is
    * the dominant object, the right shape is a distributed Gramian
    * (tree-aggregated outer products, cf. Spark MLlib
    * `RowMatrix.computeGramianMatrix`).
    */
  def correlationMatrix(df: DataFrame, keyCol: String, timeCol: String,
      valueCol: String): DataFrame = {
    // Precondition (both formulations): ONE row per (key, time) — the input
    // is an aggregate's output. Duplicate (key, time) rows would cross-join
    // here (inflating every power sum) and pick arbitrarily under the wide
    // form's pivot-first; neither is a correlation anyone meant. Null values
    // are dropped on both sides so n counts exactly the aligned non-null
    // pairs — identical to the wide form's both-non-null filter.
    val dec = DecimalType(30, 6)
    val nn = df.filter(col(valueCol).isNotNull)
    val l = nn.select(col(keyCol).as("a"), col(timeCol).as("__t"), col(valueCol).cast(DoubleType).as("__xa"))
    val r = nn.select(col(keyCol).as("b"), col(timeCol).as("__t"), col(valueCol).cast(DoubleType).as("__xb"))
    val x = col("__xa"); val y = col("__xb")
    l.join(r, Seq("__t")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(
        count(lit(1)).cast(DoubleType).as("__n"),
        sum(x.cast(dec)).cast(DoubleType).as("__sx"),
        sum(y.cast(dec)).cast(DoubleType).as("__sy"),
        sum((x * y).cast(dec)).cast(DoubleType).as("__sxy"),
        sum((x * x).cast(dec)).cast(DoubleType).as("__sxx"),
        sum((y * y).cast(dec)).cast(DoubleType).as("__syy"))
      .withColumn("r",
        (col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
          sqrt((col("__n") * col("__sxx") - col("__sx") * col("__sx")) *
               (col("__n") * col("__syy") - col("__sy") * col("__sy"))))
      .select("a", "b", "r")
  }

  /** [[correlationMatrix]] without the time-key self-join: pivot the tall
    * frame to one row per time (k value columns — `keys` must be the series
    * list, as Spark's stable-plan pivot requires anyway), generate the
    * (i, j, xᵢ·xⱼ) pair contributions per time row from two nested
    * `sequence` explodes (plan size constant in k), and let map-side partial
    * aggregation collapse them to 6 power sums per pair before any shuffle. Identical output (same exact-decimal
    * sums, same formula; pairs are conditioned on both sides non-null,
    * matching the self-join form's null-dropped alignment; output ordered
    * a < b because keys are sorted; same one-row-per-(key, time)
    * precondition — see [[correlationMatrix]]).
    *
    * Scale: compute is O(T·k²) multiplications — the information-theoretic
    * floor for exact all-pairs correlation — but the only shuffles are the
    * T-row pivot and k²/2 aggregate groups; no join materialization. The
    * expression count is CONSTANT in k (one generator + 6 aggregates): a
    * previous formulation that unrolled 6·k²/2 flat aggregate columns
    * compiled 29.6 MiB task binaries and ran 190 s at k = 50 on this
    * machine — codegen width, not data, was its bound. Beyond ~10³ series
    * (where the k² output itself dominates) see the Gramian note on
    * [[correlationMatrix]].
    */
  def correlationMatrixWide(df: DataFrame, keyCol: String, timeCol: String,
      valueCol: String, keys: Seq[String]): DataFrame = {
    require(keys.size >= 2, "correlationMatrixWide needs at least two series")
    val ks = keys.sorted
    val dec = DecimalType(30, 6)
    val wide = df.groupBy(col(timeCol))
      .pivot(keyCol, ks).agg(first(col(valueCol).cast(DoubleType)))
    // pair indices from two nested sequence generators, not a literal array:
    // a literal of k²/2 structs would grow the PLAN quadratically in k
    val x = col("__xa"); val y = col("__xb")
    wide
      .select(array(ks.map(col): _*).as("__v"),
        explode(sequence(lit(0), lit(ks.size - 2))).as("__i"))
      .select(col("__v"), col("__i"),
        explode(sequence(col("__i") + 1, lit(ks.size - 1))).as("__j"))
      .select(col("__i"), col("__j"),
        element_at(col("__v"), col("__i") + 1).as("__xa"),
        element_at(col("__v"), col("__j") + 1).as("__xb"))
      .filter(x.isNotNull && y.isNotNull)
      .groupBy(col("__i"), col("__j"))
      .agg(
        count(lit(1)).cast(DoubleType).as("__n"),
        sum(x.cast(dec)).cast(DoubleType).as("__sx"),
        sum(y.cast(dec)).cast(DoubleType).as("__sy"),
        sum((x * y).cast(dec)).cast(DoubleType).as("__sxy"),
        sum((x * x).cast(dec)).cast(DoubleType).as("__sxx"),
        sum((y * y).cast(dec)).cast(DoubleType).as("__syy"))
      .select(
        element_at(typedLit(ks), col("__i") + 1).as("a"),
        element_at(typedLit(ks), col("__j") + 1).as("b"),
        ((col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
          sqrt((col("__n") * col("__sxx") - col("__sx") * col("__sx")) *
               (col("__n") * col("__syy") - col("__sy") * col("__sy")))).as("r"))
  }

  /** Exponentially-weighted moving average, adjusted form with α = 1/2 and the
    * weight tail truncated at `terms` lags:
    * `ema_t = Σ_{k<terms} 2^(−k)·x_(t−k) / Σ_{k<terms} 2^(−k)` (missing lags —
    * the start of a key — drop out of numerator AND denominator, the pandas
    * `ewm(adjust=True)` convention). α = 1/2 makes every weight an exact
    * binary fraction, and `x·2^(−k)` is exact exponent scaling, so with the
    * additions emitted in the same k-order in both engines the result is
    * bit-identical — no tolerance needed for an oracle on an inherently
    * recursive statistic. Truncation error vs the untruncated EWM is ≤2^(−terms).
    * It is [[ewma]] with decay 1/2: iterated halving is exact, so its
    * weights are the same doubles as `0.5^k`.
    *
    * Scale: one `collect_list` frame of `terms` rows per row and one
    * codegen'd [[graft.expressions.EwmFold]] over it — a single Window node
    * and one key shuffle, O(terms) work and state per row. The weight tail
    * vanishes below double precision by k = 53, so no segmented scan is
    * needed.
    */
  def ema(df: DataFrame, orderCol: String, valueCol: String, terms: Int = 24,
      partitionCols: Seq[String] = Seq.empty, outCol: String = "ema"): DataFrame =
    ewma(df, orderCol, valueCol, 0.5, terms, partitionCols, outCol)

  /** Weight ladder for a truncated adjusted EWM with decay `w` (= 1 − α):
    * w^0, w^1, …, w^(terms−1), computed by iterated double multiplication.
    * Exposed so the DuckDB oracle can embed the IDENTICAL doubles as literals
    * (shortest round-trip `Double.toString` re-parses to the same bits) —
    * `pow()` is not guaranteed to round identically across libms, iterated
    * `*` is deterministic on both JVMs and C.
    */
  def ewmWeights(w: Double, terms: Int): IndexedSeq[Double] =
    (1 until terms).scanLeft(1.0)((acc, _) => acc * w).toIndexedSeq

  /** Per-row EWM frame: `x` at this row and its `terms − 1` predecessors in
    * `orderCol` order, as `struct(x)` so NULL values keep their slots.
    */
  private def ewmFrame(x: Column, orderCol: String, terms: Int,
      partitionCols: Seq[String]): Column = {
    require(terms >= 1, s"an EWM needs at least one term, got $terms")
    collect_list(struct(x.cast(DoubleType))).over(
      Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
        .rowsBetween(1 - terms, 0))
  }

  /** Truncated adjusted EWM with arbitrary decay:
    * `ewm_t = Σ_{k<terms} w^k·x_(t−k) / Σ_{k<terms} w^k`, missing lags (the
    * start of a key) and NULL values dropping out of numerator AND
    * denominator — the pandas `ewm(adjust=True)` convention, same machinery
    * as [[ema]] but with a caller-chosen α. With `terms` ≥ the series length
    * the truncation is exact. Additions are made in ascending-k order; an
    * oracle repeating that order with [[ewmWeights]] literals is
    * bit-identical. A row whose frame holds no value is NULL.
    *
    * Scale: one Window node gathers each row's `terms`-row frame, and
    * [[graft.expressions.EwmFold]] folds it in one codegen'd loop — one key
    * shuffle, O(terms) work and state per row, and one generated class
    * whatever `terms` is.
    */
  def ewma(df: DataFrame, orderCol: String, valueCol: String, w: Double,
      terms: Int, partitionCols: Seq[String] = Seq.empty,
      outCol: String = "ewma"): DataFrame =
    df.withColumn(outCol, GraftFunctions.ewmFold(
      ewmFrame(col(valueCol), orderCol, terms, partitionCols), ewmWeights(w, terms)))

  /** MACD(fast, slow, signal): `macd = EWM_fast(x) − EWM_slow(x)`,
    * `signal = EWM_signal(macd)`, `histogram = macd − signal`, each EWM the
    * adjusted truncated form of [[ewma]] with the classic α = 2/(n+1) ⇒
    * decay w = (n−1)/(n+1).
    *
    * Scale: two window passes over one exchange. The fast and slow EWMs
    * fold the same price frame; the signal EWM folds a second frame over
    * the derived `macd` column with the same partitioning and order.
    */
  def macd(df: DataFrame, orderCol: String, valueCol: String, terms: Int,
      partitionCols: Seq[String] = Seq.empty,
      fast: Int = 12, slow: Int = 26, signal: Int = 9): DataFrame = {
    def decay(n: Int): Double = (n - 1.0) / (n + 1.0)
    def fold(n: Int): Column = GraftFunctions.ewmFold(col("__px"), ewmWeights(decay(n), terms))
    val withMacd = df
      .withColumn("__px", ewmFrame(col(valueCol), orderCol, terms, partitionCols))
      .withColumn("macd", fold(fast) - fold(slow)).drop("__px")
    ewma(withMacd, orderCol, "macd", decay(signal), terms, partitionCols, "signal")
      .withColumn("histogram", col("macd") - col("signal"))
  }

  /** Align two series of a tall (timeKey, seriesKey, value) frame into
    * (timeKey, x, y) rows via an inner self-equi-join on the time key.
    * With a pre-aggregated per-key frame this is a 1:1 equi-join; Catalyst
    * broadcast-joins it when one side is small, else sort-merge on timeKey.
    */
  def alignPair(
      df: DataFrame, timeCol: String, seriesCol: String, valueCol: String,
      a: String, b: String): DataFrame = {
    val left = df.filter(col(seriesCol) === a).groupBy(col(timeCol))
      .agg(avg(valueCol).as("x"))
    val right = df.filter(col(seriesCol) === b).groupBy(col(timeCol))
      .agg(avg(valueCol).as("y"))
    left.join(right, Seq(timeCol), "inner")
  }

  /** Top-k-per-group (the reference's "latest dataset" pattern, storage.py:158-170,
    * generalized): deterministic row_number with explicit tie-breaks. With
    * `k = 1` (the default) the helper rank column is dropped; for `k > 1` it is
    * kept as `__rn` so callers can expose the rank.
    */
  def latestPerKey(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column], k: Int = 1): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    val ranked = df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k)
    if (k == 1) ranked.drop("__rn") else ranked
  }

  /** Multi-source consolidation: union by name tolerating missing columns
    * (the dynamic-schema union the reference's common `data_type` tag implies,
    * SURVEY.md §2.6).
    */
  def unionAll(frames: Seq[DataFrame]): DataFrame =
    frames.reduce(_.unionByName(_, allowMissingColumns = true))

  /** Robust outlier detection via Median Absolute Deviation — the
    * heavy-tail-safe alternative to the z-score family (`withZScore`):
    * `score = |x − median| / MAD`, flagged above `threshold` (3.5 is the
    * Iglewicz-Hoberg convention for the 0.6745-unscaled score). Mean/sd
    * break down when the outliers themselves inflate the moments; medians
    * don't.
    *
    * Parity: interpolated percentiles are libm-sensitive across engines, so
    * the median, MAD, and score are rounded to 6 dp (the `q_rolling_median`
    * convention); the threshold compare runs on the rounded score in both
    * engines.
    *
    * Scale: two grouped exact-percentile aggregates (each one key shuffle
    * over the series frame) with the key-count-sized med/MAD frames
    * broadcast back. Exact grouped percentiles sort within key — fine on
    * pre-aggregated series frames; for raw 100 TB streams substitute
    * `approx_percentile` at the cost of the oracle.
    */
  def madOutliers(df: DataFrame, keyCols: Seq[String], valueCol: String,
      threshold: Double = 3.5): DataFrame = {
    val keys = keyCols.map(col)
    val x = col(valueCol).cast(DoubleType)
    val med = df.groupBy(keys: _*)
      .agg(round(percentile(x, lit(0.5)), 6).as("med"))
    val dev = df.join(broadcast(med), keyCols)
      .withColumn("__dev", abs(x - col("med")))
    val mad = dev.groupBy(keys: _*)
      .agg(round(percentile(col("__dev"), lit(0.5)), 6).as("mad"))
    dev.join(broadcast(mad), keyCols)
      .withColumn("score", round(col("__dev") / col("mad"), 6))
      .withColumn("is_outlier", col("score") > lit(threshold))
      .drop("__dev")
  }

  /** Market-basket co-occurrence: the top-k item PAIRS by the number of
    * baskets containing both. The self-join is keyed on the basket id, so
    * its fan-out is bounded by basket size squared — TPC-H order baskets hold
    * ≤ 7 items, retail baskets tens; never corpus² (the `a < b` ordering also
    * halves the pair space and canonicalizes the output). The distinct()
    * first collapses repeated items within a basket so support counts
    * BASKETS, not line items.
    *
    * Scale: ONE basket-keyed shuffle builds each basket's sorted distinct
    * item array (`collect_set` + `sort_array` — set semantics make support
    * count BASKETS, the sort canonicalizes pairs), the i<j pair expansion is
    * a narrow nested-sequence generator (the [[correlationMatrixWide]]
    * technique — no self-join, no second basket-keyed exchange), then one
    * partial-aggregable pair count and a TakeOrdered top-k. A pathological
    * basket with 10⁵ items would fan out 10¹⁰ — cap basket size upstream if
    * the domain allows such baskets; TPC-H's ≤ 7-item baskets do not.
    */
  /** (basket, sorted distinct item array) frame — the shared first stage of
    * [[coPurchasePairs]] and [[itemSimilarity]]. One basket shuffle; callers
    * that run several basket analyses cache THIS (TpchQueries.basketIndex),
    * the single-JVM analogue of persisting the basket rollup next to the
    * fact table.
    */
  def baskets(df: DataFrame, basketCol: String, itemCol: String,
      maxBasket: Option[Int] = None): DataFrame = {
    // r11 skew guard: the co-occurrence family fans out Σ C(|basket|, 2) —
    // one 10⁵-item mega-basket (a bot account, a catalog-scrape order) is a
    // 10¹⁰-pair blowup at ANY corpus size. `maxBasket` keeps the first
    // `maxBasket` items of the SORTED distinct array — deterministic,
    // engine-reproducible truncation (not a sample), bounding every
    // downstream pair generator at C(cap, 2) per basket. Truncation loses
    // only pairs involving a dropped item of an over-cap basket — the same
    // recall-for-boundedness contract as Dedup's docFreq caps; None (the
    // default) preserves exact semantics for domains that bound basket size
    // upstream (TPC-H's ≤ 7). [[basketCapReport]] quantifies what a given
    // cap would drop.
    //
    // r15 (closing the r14 trade, SCALE.md): the CAPPED path is BOUNDED-STATE
    // by construction. History of the shape: r13's collect_set-then-slice
    // held every over-cap basket's ENTIRE item set in ObjectHashAggregate
    // state (memory cliff at the 50× mega-basket probe); r14's all-rows sort
    // window removed the cliff but paid a disk-backed sort for EVERY basket
    // (4.5× at the 25× probe); an r15 two-pass skew-split measured 1.9× at
    // 25× (the detector is a second full aggregation). The right shape is a
    // typed [[BoundedSetAgg]]: keep the `cap` SMALLEST distinct items per
    // basket as the aggregation STATE — bit-identical to slicing the sorted
    // collect_set (ascending sort ⇒ the first `cap` ARE the smallest), ONE
    // exchange exactly like the uncapped path, map-side partials and final
    // state both ≤ cap items for EVERY basket, mega-basket included. No
    // detector pass, no window, no cliff, at any scale.
    //
    // The agg specializes to integral item types (cast through long, cast
    // back — every caller's item keys); other item types take a two-pass
    // per-key split (count-detector → under-cap collect_set ∪ over-cap sort
    // window — the r15 fallback, same output, one extra aggregation).
    // All-null baskets keep their (basket, empty array) row on every path,
    // matching the uncapped collect_set's cardinality (r15 advisor finding:
    // the r14 window path dropped them).
    maxBasket match {
      case None =>
        df.groupBy(col(basketCol).as("__b"))
          .agg(sort_array(collect_set(col(itemCol))).as("__is"))
      case Some(cap) =>
        // r14 self-review: cap must be positive (a 0-cap basket frame is a
        // contradiction, not an empty rollup)
        require(cap > 0, s"maxBasket must be positive, got $cap")
        val itemType = df.schema(itemCol).dataType
        itemType match {
          case ByteType | ShortType | IntegerType | LongType =>
            val agg = udaf(new BoundedSetAgg(cap),
              org.apache.spark.sql.Encoders.LONG)
            val rolled = df.select(col(basketCol).as("__b"),
                col(itemCol).cast(LongType).as("__i"))
              .groupBy(col("__b"))
              .agg(agg(col("__i")).as("__is"))
            if (itemType == LongType) rolled
            else rolled.withColumn("__is", col("__is").cast(ArrayType(itemType)))
          case _ =>
            // NULL items must be dropped BEFORE the window — collect_set
            // (both paths' semantics) ignores nulls, but nulls sort FIRST
            // under the window and would consume dense_rank slot 1 while
            // every null row passes the first-occurrence test, silently
            // evicting one real item per affected basket. The detector
            // counts NON-null rows, so an all-null basket (0 <= cap) routes
            // to the collect_set half and keeps its empty-array row.
            val items = df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
            // the over-cap key set is UNHINTED on purpose (r15 self-review):
            // its size is corpus-dependent, not cap-bounded — a degenerate
            // corpus where most baskets exceed the cap would blow a forced
            // broadcast; AQE broadcasts it when it is the anomaly tail it
            // usually is, and falls back to a shuffled join when it isn't
            val over = items.groupBy(col("__b"))
              .agg(sum(when(col("__i").isNotNull, 1L).otherwise(0L)).as("__nn"))
              .filter(col("__nn") > cap).select(col("__b"))
            val under = items.join(over, Seq("__b"), "left_anti")
              .groupBy(col("__b"))
              .agg(sort_array(collect_set(col("__i"))).as("__is"))
            val w = Window.partitionBy(col("__b")).orderBy(col("__i"))
            val overAgg = items.join(over, Seq("__b"), "left_semi")
              .filter(col("__i").isNotNull)
              .withColumn("__dr", dense_rank().over(w))
              .withColumn("__dup", lag(col("__i"), 1).over(w) === col("__i"))
              .filter(col("__dr") <= cap && !coalesce(col("__dup"), lit(false)))
              .drop("__dr", "__dup")
              .groupBy(col("__b")).agg(sort_array(collect_list(col("__i"))).as("__is"))
            under.unionByName(overAgg)
        }
    }
  }

  /** Bounded sorted-distinct-set aggregator (r15): the state is the `cap`
    * SMALLEST distinct values seen so far — so the final value is exactly
    * the first `cap` entries of the full sorted distinct set (what the
    * capped basket rollup means), while aggregation state NEVER exceeds
    * `cap` values for any group on any corpus. Nulls are ignored
    * (collect_set semantics); per-row reduce is an O(cap) membership scan +
    * occasional re-sort, bounded at cap ≤ a few hundred by the callers.
    * Public — ExpressionEncoder-generated deserializers require it.
    */
  class BoundedSetAgg(cap: Int)
      extends org.apache.spark.sql.expressions.Aggregator[java.lang.Long, Array[Long], Seq[Long]] {
    // buffer = the sorted cap-smallest distinct values, as a PRIMITIVE array
    // (unboxed UnsafeArrayData through the encoder; binary-search +
    // arraycopy insert in reduce — the hot path runs once per fact row)
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(b: Array[Long], a: java.lang.Long): Array[Long] =
      if (a == null) b
      else {
        val v = a.longValue()
        val i = java.util.Arrays.binarySearch(b, v)
        if (i >= 0) b // already present
        else {
          val at = -i - 1
          if (b.length < cap) {
            val out = new Array[Long](b.length + 1)
            System.arraycopy(b, 0, out, 0, at)
            out(at) = v
            System.arraycopy(b, at, out, at + 1, b.length - at)
            out
          } else if (at < cap) { // v displaces the current maximum
            val out = new Array[Long](cap)
            System.arraycopy(b, 0, out, 0, at)
            out(at) = v
            System.arraycopy(b, at, out, at + 1, cap - at - 1)
            out
          } else b
        }
      }
    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
      // sorted-merge of two sorted distinct arrays, stopping at cap
      val out = new Array[Long](math.min(cap, b1.length + b2.length))
      var i = 0; var j = 0; var k = 0
      while (k < out.length && (i < b1.length || j < b2.length)) {
        val v =
          if (j >= b2.length) { val x = b1(i); i += 1; x }
          else if (i >= b1.length) { val x = b2(j); j += 1; x }
          else if (b1(i) < b2(j)) { val x = b1(i); i += 1; x }
          else if (b2(j) < b1(i)) { val x = b2(j); j += 1; x }
          else { val x = b1(i); i += 1; j += 1; x } // equal: consume both
        out(k) = v
        k += 1
      }
      if (k == out.length) out else java.util.Arrays.copyOf(out, k)
    }
    override def finish(r: Array[Long]): Seq[Long] =
      scala.collection.immutable.ArraySeq.unsafeWrapArray(r)
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** What a basket cap would do before you commit to one: basket/pair-volume
    * totals plus the truncation count and the exact pair volume the capped
    * run will generate. One aggregate over the basket frame — run it on the
    * rollup you already cache.
    */
  def basketCapReport(basketFrame: DataFrame, cap: Int): DataFrame = {
    val sz = size(col("__is")).cast(LongType)
    val capped = least(sz, lit(cap.toLong))
    basketFrame.agg(
      count(lit(1)).as("n_baskets"),
      sum(when(sz > cap, 1L).otherwise(0L)).as("n_truncated"),
      max(sz).as("max_basket_size"),
      // the /2 is exact (even product) — cast back to BIGINT so the report
      // stays integer-typed on both engines
      sum((sz * (sz - 1) / 2).cast(LongType)).as("pair_volume_uncapped"),
      sum((capped * (capped - 1) / 2).cast(LongType)).as("pair_volume_capped"))
  }

  def coPurchasePairs(df: DataFrame, basketCol: String, itemCol: String,
      k: Int, maxBasket: Option[Int] = None): DataFrame =
    coPurchasePairsFrom(baskets(df, basketCol, itemCol, maxBasket), k)

  def coPurchasePairsFrom(basketFrame: DataFrame, k: Int): DataFrame = {
    basketFrame
      .filter(size(col("__is")) >= 2)
      .select(col("__is"), explode(sequence(lit(0), size(col("__is")) - 2)).as("__i"))
      .select(col("__is"), col("__i"),
        explode(sequence(col("__i") + 1, size(col("__is")) - 1)).as("__j"))
      .select(element_at(col("__is"), col("__i") + 1).as("item_a"),
        element_at(col("__is"), col("__j") + 1).as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_baskets"))
      .orderBy(col("n_baskets").desc, col("item_a").asc, col("item_b").asc)
      .limit(k)
  }

  /** Grouped simple OLS regression y = slope·x + intercept per group — the
    * market-beta query (per-series slope/alpha/R² against a benchmark
    * series), same exact-decimal power-sum machinery as
    * [[correlationMatrix]]: one partial-aggregable groupBy collecting the
    * six power sums, closed-form slope/intercept/R² from those doubles.
    *
    * Determinism: x and y come from exact decimal sums (decimal-representable
    * doubles), products are cast to DECIMAL(30,6) before summing, and the
    * final arithmetic is a fixed expression tree over the resulting doubles —
    * an oracle mirroring the same tree is bit-identical (the established
    * pattern of every green correlation query).
    *
    * Scale: one shuffle on the group keys with map-side partial aggregation;
    * nothing downstream of the agg touches more than one row per group.
    */
  def groupedOls(df: DataFrame, groupCols: Seq[String], xCol: String,
      yCol: String): DataFrame = {
    val dec = DecimalType(30, 6)
    val x = col(xCol).cast(DoubleType); val y = col(yCol).cast(DoubleType)
    val slope = (col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
      (col("__n") * col("__sxx") - col("__sx") * col("__sx"))
    df.filter(x.isNotNull && y.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).cast(DoubleType).as("__n"),
        sum(x.cast(dec)).cast(DoubleType).as("__sx"),
        sum(y.cast(dec)).cast(DoubleType).as("__sy"),
        sum((x * y).cast(dec)).cast(DoubleType).as("__sxy"),
        sum((x * x).cast(dec)).cast(DoubleType).as("__sxx"),
        sum((y * y).cast(dec)).cast(DoubleType).as("__syy"))
      .withColumn("slope", slope)
      .withColumn("intercept", (col("__sy") - col("slope") * col("__sx")) / col("__n"))
      .withColumn("r2",
        ((col("__n") * col("__sxy") - col("__sx") * col("__sy")) *
         (col("__n") * col("__sxy") - col("__sx") * col("__sy"))) /
        ((col("__n") * col("__sxx") - col("__sx") * col("__sx")) *
         (col("__n") * col("__syy") - col("__sy") * col("__sy"))))
      .drop("__n", "__sx", "__sy", "__sxy", "__sxx", "__syy")
  }

  /** Rolling distinct-user counts: per-day active users (DAU) plus the
    * trailing-`windowDays` distinct count (WAU for 7), reported for every
    * day with activity.
    *
    * Rolling COUNT(DISTINCT) does not partial-aggregate over a sliding
    * window — the one-big-window formulation (`... OVER (ORDER BY day RANGE
    * 6 PRECEDING)`) Spark doesn't even accept with DISTINCT, and a
    * sort-the-world equivalent dies at scale. The exact distributed shape
    * is contribution explosion: dedup to (user, day) rows (one
    * partial-aggregable distinct), explode each into the ≤ windowDays
    * report-days it contributes to, dedup (user, report_day) — a user
    * active 5× in a window counts once — and count per day. Three
    * key-keyed partial-aggregable shuffles, fan-out a constant windowDays;
    * the sketch alternative (HLL merge) trades exactness for one pass and
    * is the fallback only when windowDays·|user-days| is the bottleneck.
    */
  def rollingActiveUsers(df: DataFrame, tsCol: String, userCol: String,
      windowDays: Int = 7): DataFrame = {
    val ud = df.select(date_trunc("day", col(tsCol)).as("day"),
      col(userCol).as("__user")).distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val contrib = ud.select(col("__user"), explode(sequence(col("day"),
        col("day") + expr(s"INTERVAL ${windowDays - 1} DAY"),
        expr("INTERVAL 1 DAY"))).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as(s"rolling_${windowDays}d"))
    // inner join: report days WITH activity (trailing days past the data
    // end that only the explosion produced drop out here)
    dau.join(contrib, Seq("day"))
  }

  /** RFM (recency / frequency / monetary) quintile scoring per unit — the
    * classical behavioral-segmentation table (Hughes, "Strategic Database
    * Marketing"): days since last event, event count, exact-decimal value
    * total, each bucketed 1–5 by `ntile(5)` over a fully tie-broken order
    * (SQL-standard ntile semantics — the first `n mod 5` buckets take the
    * extra row — agree across engines once the order is total).
    *
    * Scale: one per-unit aggregation, a broadcast 1-row reference date
    * (bounded by construction), and three ntile windows over the UNIT table
    * (one row per unit — orders of magnitude smaller than events; for 10⁹
    * units swap in the two-level distributed rank).
    */
  def rfm(df: DataFrame, unitCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val refDate = df.agg(max(col(tsCol)).as("__ref"))
    val perUnit = df.groupBy(col(unitCol))
      .agg(max(col(tsCol)).as("__last"), count(lit(1)).as("frequency"),
        graft.functions.Fns.exactSum(col(valueCol)).as("monetary"))
      .crossJoin(broadcast(refDate))
      .withColumn("recency_days", datediff(col("__ref"), col("__last")).cast(LongType))
    perUnit
      .withColumn("r_q", ntile(5).over(
        Window.orderBy(col("recency_days"), col(unitCol))).cast(LongType))
      .withColumn("f_q", ntile(5).over(
        Window.orderBy(col("frequency").desc, col(unitCol))).cast(LongType))
      .withColumn("m_q", ntile(5).over(
        Window.orderBy(col("monetary").desc, col(unitCol))).cast(LongType))
      .select(col(unitCol), col("recency_days"), col("frequency"), col("monetary"),
        col("r_q"), col("f_q"), col("m_q"))
  }

  /** Lag-k autocorrelation function per key: Pearson r between the daily
    * series and its k-day-shifted self for k = 1..maxLag — the ACF profile a
    * seasonality/momentum report reads (a weekly cycle shows as a lag-7
    * peak). Pairs come from a calendar-day equi-join (`d + k days`), so gaps
    * pair correctly (a row-offset lead would misalign across missing days);
    * the r formula is [[pearson]]'s exact-decimal power-sum tree verbatim.
    *
    * Scale: one lag-exploded frame (rows × maxLag, narrow) equi-joined back
    * on (key, day) and one partial-aggregable power-sum aggregation per
    * (key, lag) — nothing wider than the series × maxLag.
    */
  def autocorrelation(daily: DataFrame, keyCol: String, dayCol: String,
      valueCol: String, maxLag: Int = 7): DataFrame = {
    val dec = DecimalType(30, 6)
    val a = daily.select(col(keyCol), col(dayCol), col(valueCol).cast(DoubleType).as("__x"))
      .withColumn("lag", explode(lit((1 to maxLag).toArray)))
      .withColumn("__d2", col(dayCol) + make_dt_interval(col("lag")))
    val b = daily.select(col(keyCol), col(dayCol).as("__d2"),
      col(valueCol).cast(DoubleType).as("__y"))
    val j = a.join(b, Seq(keyCol, "__d2"))
    j.groupBy(col(keyCol), col("lag"))
      .agg(
        count(lit(1)).cast(DoubleType).as("n"),
        sum(col("__x").cast(dec)).cast(DoubleType).as("sx"),
        sum(col("__y").cast(dec)).cast(DoubleType).as("sy"),
        sum((col("__x") * col("__y")).cast(dec)).cast(DoubleType).as("sxy"),
        sum((col("__x") * col("__x")).cast(dec)).cast(DoubleType).as("sxx"),
        sum((col("__y") * col("__y")).cast(dec)).cast(DoubleType).as("syy"))
      .select(col(keyCol), col("lag").cast(LongType).as("lag"),
        col("n").cast(LongType).as("n_pairs"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy")))).as("acf"))
  }

  /** Single most-likely mean-shift point per key (AMOC — at-most-one-change
    * — via the CUSUM statistic): the day t maximizing
    * `|prefix_sum(t) − (t/n)·total|`, i.e. where the cumulative series
    * deviates most from the constant-mean line (Page, "Continuous inspection
    * schemes", Biometrika 1954; ties → earliest day). The monitoring
    * primitive behind "when did this series change regime".
    *
    * Prefix and total sums run through DECIMAL (order-independent); the
    * deviation is one identically-written double expression; the argmax is
    * a per-key rank window. Scale: two bounded per-key windows, nothing
    * global.
    */
  def changepoint(daily: DataFrame, keyCol: String, dayCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dayCol))
    val cw = Window.partitionBy(col(keyCol))
    val scored = daily
      .withColumn("__t", row_number().over(w).cast(LongType))
      .withColumn("__ps",
        sum(col(valueCol).cast(DecimalType(30, 6))).over(w).cast(DoubleType))
      .withColumn("__n", count(lit(1)).over(cw))
      .withColumn("__tot",
        sum(col(valueCol).cast(DecimalType(30, 6))).over(cw).cast(DoubleType))
      .withColumn("__dev",
        abs(col("__ps") -
          (col("__t").cast(DoubleType) / col("__n").cast(DoubleType)) * col("__tot")))
    scored
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col("__dev").desc, col(dayCol))))
      .filter(col("__rk") === 1)
      .select(col(keyCol), col(dayCol).as("change_day"), col("__dev").as("cusum_dev"))
  }

  /** Exact nearest-rank percentiles per key: for each p, the value at rank
    * `ceil(p·n)` in (value, tie) order — the distributional summary
    * (p50/p90/p99 latency-style reporting) computed EXACTLY, not via a
    * sketch, and deterministically (the tie column makes the order total).
    *
    * Scale: one per-key rank window + conditional aggregation — same cost
    * class as any per-key window; the sketch alternative (approx_percentile)
    * trades exactness for a mergeable state and is NOT cross-engine
    * reproducible, which is why the suite ships the exact form.
    */
  def exactPercentiles(df: DataFrame, keyCol: String, valueCol: String,
      tieCol: String, ps: Seq[Double]): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(valueCol), col(tieCol))
    val cw = Window.partitionBy(col(keyCol))
    val ranked = df.withColumn("__rn", row_number().over(w).cast(LongType))
      .withColumn("__n", count(lit(1)).over(cw))
    val aggs = ps.map { p =>
      max(when(col("__rn") === ceil(lit(p) * col("__n")).cast(LongType),
        col(valueCol))).as(s"p${(p * 100).round}")
    }
    ranked.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Quantile mapping: re-express one key's value distribution on a
    * REFERENCE key's distribution (rank → percentile → linear interpolation
    * between the reference's order statistics) — the classical distribution-
    * normalization technique (quantile mapping in bias correction,
    * quantile normalization in omics), here mapping `fromKey` events onto
    * `refKey`'s value scale.
    *
    * percentile = (rank−1)/(n−1); position p = percentile·(n_ref−1);
    * mapped = v_ref[⌊p⌋] + (v_ref[⌈p⌉] − v_ref[⌊p⌋])·(p − ⌊p⌋). Every step
    * is rank arithmetic or one identically-written double expression.
    * Scale: two per-key rank windows + two equi-joins on the integer rank —
    * no global window, no theta join.
    */
  def quantileMap(df: DataFrame, keyCol: String, valueCol: String,
      tieCol: String, fromKey: String, refKey: String): DataFrame = {
    def ranked(k: String) = {
      val w = Window.partitionBy(col(keyCol)).orderBy(col(valueCol), col(tieCol))
      df.filter(col(keyCol) === k)
        .withColumn("__rn", row_number().over(w).cast(LongType))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(keyCol))))
    }
    val from = ranked(fromKey)
      // single-row from-partition guard: (rn−1)/(n−1) is 0/0 ⇒ NaN, whose
      // floor/ceil positions cast to null and silently DROP the row through
      // the inner rank joins — emit an explicit null percentile instead and
      // keep the row via left joins below (null mapped, dual mirrors both)
      .withColumn("__pr",
        when(col("__n") > 1L,
          (col("__rn") - 1L).cast(DoubleType) / (col("__n") - 1L).cast(DoubleType)))
    val ref = ranked(refKey)
      .select(col("__rn").as("__ref_rn"), col(valueCol).as("__ref_v"),
        col("__n").as("__ref_n"))
    val refN = ref.select(col("__ref_n")).limit(1)
    val positioned = from.crossJoin(broadcast(refN))
      .withColumn("__p", col("__pr") * (col("__ref_n") - 1L).cast(DoubleType))
      .withColumn("__lo", floor(col("__p")).cast(LongType) + 1L)
      .withColumn("__hi", ceil(col("__p")).cast(LongType) + 1L)
    positioned
      .join(ref.select(col("__ref_rn").as("__lo"), col("__ref_v").as("__vlo")), Seq("__lo"), "left")
      .join(ref.select(col("__ref_rn").as("__hi"), col("__ref_v").as("__vhi")), Seq("__hi"), "left")
      .select(col(tieCol), col(valueCol).as("value"),
        (col("__vlo") + (col("__vhi") - col("__vlo")) *
          (col("__p") - floor(col("__p")))).as("mapped"))
  }

  /** Per-key Gini coefficient of `valueCol` concentration across `unitCol`
    * (e.g. how concentrated purchase value is across users, per event type) —
    * the standard inequality measure a data-balance report ships.
    * `G = (2·Σ i·tᵢ) / (n·Σtᵢ) − (n+1)/n` over per-unit totals ranked
    * ascending (ties → unit id).
    *
    * Engine parity: totals stay DECIMAL end to end (never through a double
    * round-trip), the rank-weighted sum multiplies DECIMAL(20,6) by the rank
    * cast DECIMAL(10,0) — exact at ≤10⁶ units per key with both engines'
    * result-type rules — and only the final two divisions are doubles.
    * Scale: one partial-aggregable totals shuffle + one per-key rank window
    * (bounded by units-per-key) + one partial-aggregable rollup. The rank
    * window is the widest stage; for a key with 10⁹ units swap in the
    * two-level distributed rank (Sampling.globalShuffle's construction).
    */
  def gini(df: DataFrame, keyCol: String, unitCol: String, valueCol: String): DataFrame = {
    val totals = df.groupBy(col(keyCol), col(unitCol))
      .agg(sum(col(valueCol).cast(DecimalType(30, 6))).as("t"))
    val ranked = totals.withColumn("rn",
      row_number().over(Window.partitionBy(col(keyCol))
        .orderBy(col("t"), col(unitCol))).cast(LongType))
    ranked.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_units"),
        sum(col("t")).as("st"),
        sum(col("t").cast(DecimalType(20, 6)) *
          col("rn").cast(DecimalType(10, 0))).as("sit"))
      .withColumn("gini",
        (lit(2.0) * col("sit").cast(DoubleType)) /
          (col("n_units").cast(DoubleType) * col("st").cast(DoubleType)) -
          (col("n_units").cast(DoubleType) + lit(1.0)) / col("n_units").cast(DoubleType))
      .select(col(keyCol), col("n_units"), col("gini"))
  }

  /** Per-unit inter-event-time statistics: gap count, mean/std gap in
    * seconds, and burstiness `(σ−μ)/(σ+μ)` (Goh & Barabási, "Burstiness and
    * memory in complex systems", EPL 2008) — −1 = metronome, 0 = Poisson,
    * →1 = bursty. The feature an event-stream health report keys on.
    *
    * Moments stay in EXACT integer microseconds through the aggregation
    * (Σg as long, Σg² as a DECIMAL(38,0) product of the µs diffs — the
    * decimal-cast-of-double shortcut double-rounds on the other engine once
    * g²·10⁶ passes 2⁵³), and only the final mean/variance/sqrt chain runs in
    * doubles, identically written on both sides. Scale: one per-unit lag
    * window + one partial-aggregable moment aggregation.
    */
  def interEventStats(df: DataFrame, unitCol: String, tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(unitCol)).orderBy(col(tsCol), col(tieCol))
    val g = df
      .withColumn("__us", unix_micros(col(tsCol)))
      .withColumn("__g", col("__us") - lag(col("__us"), 1).over(w))
      .filter(col("__g").isNotNull)
    val nD = col("n_gaps").cast(DoubleType)
    g.groupBy(col(unitCol))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("__g")).cast(DoubleType).as("__sx"),
        sum(col("__g").cast(DecimalType(19, 0)) * col("__g").cast(DecimalType(19, 0)))
          .cast(DoubleType).as("__sxx"))
      .filter(col("n_gaps") >= 2)
      .withColumn("mean_gap_s", (col("__sx") / nD) / lit(1000000.0))
      .withColumn("std_gap_s",
        sqrt((nD * col("__sxx") - col("__sx") * col("__sx")) /
          (nD * (nD - lit(1.0)))) / lit(1000000.0))
      .withColumn("burstiness",
        (col("std_gap_s") - col("mean_gap_s")) / (col("std_gap_s") + col("mean_gap_s")))
      .select(col(unitCol), col("n_gaps"), col("mean_gap_s"), col("std_gap_s"),
        col("burstiness"))
  }

  /** Classical additive seasonal decomposition of a daily series:
    * `value = trend + seasonal + residual` with trend = centered 7-day
    * moving average (full windows only, null at the edges), seasonal = the
    * per-weekday mean of the detrended series, residual = the rest. The
    * moving-average-then-seasonal-means construction is the textbook
    * decomposition (Cleveland et al.'s STL replaces the means with loess;
    * the means variant is what statsmodels `seasonal_decompose` computes).
    *
    * Engine parity: trend and seasonal means are exact-decimal sums divided
    * by counts ([[graft.functions.Fns.exactSum]] pattern), and weekday is
    * day-diff-mod-7 from a Monday epoch (no locale-dependent DOW function on
    * either engine). Scale: one bounded window per key plus one tiny
    * (key, weekday) aggregate broadcast back — nothing wider than the
    * series itself.
    */
  def seasonalDecompose(daily: DataFrame, keyCol: String, dayCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dayCol)).rowsBetween(-3, 3)
    val trended = daily.withColumn("trend",
        when(count(col(valueCol)).over(w) === 7,
          sum(col(valueCol).cast(DecimalType(30, 6))).over(w).cast(DoubleType) / lit(7.0)))
      .withColumn("detrended", col(valueCol) - col("trend"))
      // 1970-01-05 is a Monday: dow ∈ [0,6] counted from Monday, engine-neutral
      .withColumn("dow", pmod(datediff(col(dayCol), to_date(lit("1970-01-05"))), lit(7)))
    val seasonal = trended.filter(col("detrended").isNotNull)
      .groupBy(col(keyCol), col("dow"))
      .agg(graft.functions.Fns.exactAvg(col("detrended")).as("seasonal"))
    trended.join(seasonal, Seq(keyCol, "dow"), "left")
      .select(col(keyCol), col(dayCol), col(valueCol),
        col("trend"), col("seasonal"),
        (col("detrended") - col("seasonal")).as("residual"))
  }

  /** Item-item cosine similarity from basket co-occurrence — the classic
    * neighborhood recommender scoring: `cos(a,b) = co(a,b) / √(n_a·n_b)`
    * over distinct (basket, item) incidences. The `minCo` support floor
    * prunes the pair space BEFORE the frequency joins (noise pairs with one
    * shared basket dominate raw co-occurrence counts at any scale).
    *
    * Scale: one distinct + one basket-keyed self-join (the audited
    * copurchase wedge shape — fan-out C(basket size, 2), never |items|²) +
    * two broadcast-eligible frequency joins; round(6) on the cosine for
    * cross-engine sqrt parity.
    */
  def itemSimilarity(df: DataFrame, basketCol: String, itemCol: String,
      minCo: Long = 3L, maxBasket: Option[Int] = None): DataFrame =
    itemSimilarityFrom(baskets(df, basketCol, itemCol, maxBasket), minCo)

  def itemSimilarityFrom(basketFrame: DataFrame, minCo: Long): DataFrame = {
    // basket-array formulation (the measured winner of the copurchase A/B):
    // one basket shuffle, narrow i<j pair generation, pair-count aggregate —
    // no incidence self-join; item frequency reads the same basket arrays
    val freq = basketFrame.select(explode(col("__is")).as("__i"))
      .groupBy(col("__i")).agg(count(lit(1)).as("__n"))
    val co = basketFrame.filter(size(col("__is")) >= 2)
      .select(col("__is"), explode(sequence(lit(0), size(col("__is")) - 2)).as("__p"))
      .select(col("__is"), col("__p"),
        explode(sequence(col("__p") + 1, size(col("__is")) - 1)).as("__q"))
      .select(element_at(col("__is"), col("__p") + 1).as("item_a"),
        element_at(col("__is"), col("__q") + 1).as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= minCo)
    // no broadcast hint on the frequency joins: the item vocabulary is
    // usually broadcastable and AQE will pick that; a forced hint would be
    // wrong for a catalog with more items than executor memory
    co.join(freq.select(col("__i").as("item_a"), col("__n").as("n_a")), Seq("item_a"))
      .join(freq.select(col("__i").as("item_b"), col("__n").as("n_b")), Seq("item_b"))
      .withColumn("cosine", round(col("co").cast(DoubleType) /
        sqrt((col("n_a") * col("n_b")).cast(DoubleType)), 6))
      .select("item_a", "item_b", "co", "n_a", "n_b", "cosine")
  }

  /** Grouped top-k WITHOUT a window sort: the bounded
    * [[graft.operators.Similarity.TopKAgg]] aggregator ranks per key with
    * map-side partial top-k state — the shuffle carries at most
    * (map_tasks × k) candidates per key instead of every row entering a
    * per-partition sort. This is the scale answer to `row_number() OVER
    * (PARTITION BY key ORDER BY ord DESC) <= k` on a key whose partition
    * would otherwise hold millions of rows; ties break by ascending id,
    * matching the window formulation's (ord DESC, id) order exactly.
    *
    * Emits (key, id, ord, rnk) with rnk in [1, k].
    */
  def groupedTopKAgg(df: DataFrame, keyCol: String, ordCol: String,
      idCol: String, k: Int): DataFrame = {
    val topk = org.apache.spark.sql.functions.udaf(
      new Similarity.TopKAgg(k),
      org.apache.spark.sql.Encoders.product[Similarity.ScoredId])
    df.groupBy(col(keyCol))
      .agg(topk(col(ordCol), col(idCol)).as("__top"))
      .select(col(keyCol), posexplode(col("__top")).as(Seq("__r", "__s")))
      .select(col(keyCol), col("__s.id").as(idCol), col("__s.score").as(ordCol),
        (col("__r") + 1).cast(LongType).as("rnk"))
  }

  /** Batch perceptron (Rosenblatt 1958) trained DISTRIBUTED over INTEGER
    * features — the driver-iteration pattern (k-means/PCA/BPE): each epoch is
    * ONE partial-aggregable scan computing the misclassified-set update sums
    * (`w += Σ_{y·(w·x) ≤ 0} y·x`, η = 1), and only |features| BIGINT weights
    * land on the driver. Integer features and weights make every epoch
    * bit-exact in any engine — no float GD drift, no exp() portability
    * hazard (the reason this ships instead of logistic GD).
    *
    * `df` must carry `yCol` ∈ {+1, −1} and BIGINT feature columns. Returns
    * one row per epoch: (iter, w_<feature>..., n_misclassified), where
    * n_misclassified is measured under the PRE-update weights (the update's
    * support set).
    *
    * Scale: per epoch one narrow project + one (|features|+1)-column sum —
    * the same shuffle class as any global aggregate; nothing driver-side
    * but the weight vector.
    */
  def perceptron(df: DataFrame, yCol: String, xCols: Seq[String],
      iters: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    var w = Vector.fill(xCols.size)(0L)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Seq[Long], Long)]()
    for (i <- 1 to iters) {
      val margin = col(yCol) *
        xCols.zip(w).map { case (c, wi) => lit(wi) * col(c) }.reduce(_ + _)
      val updates = xCols.map(c =>
        sum(when(margin <= 0, col(yCol) * col(c)).otherwise(0L)).as(s"__d_$c"))
      val r = df.agg(updates.head,
        (updates.tail :+ sum(when(margin <= 0, 1L).otherwise(0L)).as("__m")): _*)
        .collect()(0)
      // empty input ⇒ sum() aggregates to NULL: treat as a zero-update epoch
      // (weights unchanged, 0 misclassified) instead of an opaque NPE
      def at(j: Int): Long = if (r.isNullAt(j)) 0L else r.getLong(j)
      w = w.indices.map(j => w(j) + at(j)).toVector
      out += ((i.toLong, w, at(xCols.size)))
    }
    out.toSeq
      .map { case (it, ws, m) => (it, ws.toArray, m) }
      .toDF("iter", "__w", "n_misclassified")
      .select(col("iter") +:
        xCols.zipWithIndex.map { case (c, j) =>
          element_at(col("__w"), j + 1).as(s"w_$c") } :+
        col("n_misclassified"): _*)
      .orderBy("iter")
  }
}
