package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Schemas
import graft.functions.Fns

/** The reference's three data transformations — clean / normalize / aggregate
  * (reference transformers.py:17-142) — as shuffle-aware `DataFrame => DataFrame`
  * operators.
  *
  * Scale notes (100 TB design):
  *  - `clean` is narrow except `dropDuplicates` (one hash-partition shuffle on
  *    all columns; map-side partial dedup keeps the shuffle small when dup rate
  *    is high).
  *  - `normalize` is entirely narrow — no shuffle at any scale.
  *  - `aggregate` is one hash aggregation with map-side partial aggregation;
  *    cardinality after grouping = #buckets, so the shuffle ships only partial
  *    candles, not ticks.
  */
object Transforms {

  private def has(df: DataFrame, c: String): Boolean = df.columns.contains(c)

  /** Columns that the clean/aggregate paths treat as numeric when present
    * (reference transformers.py:42-49). */
  private val numericCols = Seq("open", "high", "low", "close", "volume", "value", "price", "rate")

  /** `clean_data` (reference transformers.py:17-53):
    *  1. drop rows with ANY null (pandas `df.dropna()`, transformers.py:30)
    *  2. full-row dedup (pandas `drop_duplicates`, transformers.py:33 — NaN==NaN
    *     counts as duplicate; Spark `dropDuplicates` is also null-safe, parity holds)
    *  3. flexible timestamp parse when a `timestamp` column exists (transformers.py:36-40)
    *  4. coercing numeric cast on the known price/volume columns (transformers.py:43-49)
    *
    * Order matters: the reference casts AFTER dropping nulls, so a string like
    * "n/a" in `close` survives clean as NULL — we preserve that quirk.
    */
  def clean(df: DataFrame): DataFrame = {
    val deduped = df.na.drop("any").dropDuplicates()
    val withTs =
      if (has(deduped, "timestamp"))
        deduped.withColumn("timestamp", Fns.coerceTimestamp(col("timestamp")))
      else deduped
    numericCols.filter(has(withTs, _)).foldLeft(withTs) { (d, c) =>
      if (c == "volume") d.withColumn(c, Fns.coerceLong(col(c)))
      else d.withColumn(c, Fns.coerceDouble(col(c)))
    }
  }

  /** `normalize_data` (reference transformers.py:56-97):
    *  - attach `data_type` literal (transformers.py:94)
    *  - forex: derive `mid_rate = (open+close)/2` only if both columns present
    *    (transformers.py:81-82)
    *  - warn-only required-column validation per data_type (transformers.py:71-90)
    *    — never fails, never fixes; missing columns are reported to the log.
    */
  def normalize(df: DataFrame, dataType: String): DataFrame = {
    val required = Schemas.requiredColumns.getOrElse(dataType, Seq.empty)
    val missing = required.filterNot(has(df, _))
    if (missing.nonEmpty)
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"normalize($dataType): missing required columns ${missing.mkString(",")}")
    val withMid =
      if (dataType == "forex" && has(df, "open") && has(df, "close"))
        df.withColumn("mid_rate", Fns.midRate(col("open"), col("close")))
      else df
    withMid.withColumn("data_type", lit(dataType))
  }

  /** Default aggregation map of `aggregate_data`
    * (reference transformers.py:120-128). Values are the pandas agg names;
    * [[aggExpr]] maps them to Spark expressions.
    */
  val defaultAggMap: Seq[(String, String)] = Seq(
    "open" -> "first", "high" -> "max", "low" -> "min", "close" -> "last", "volume" -> "sum")

  /** One pandas agg-map entry → a Spark aggregate expression.
    *
    * `first`/`last` carry the reference's *intent* (open of the earliest tick,
    * close of the latest — SURVEY.md §2.5 note 2): pandas positional first/last
    * is order-dependent and Spark `first()` is nondeterministic under shuffle,
    * so both map to `min_by`/`max_by` on the order column (tie-broken
    * deterministically by the caller-supplied `ord` expression).
    *
    * With `exact = true`, floating-point sum/mean run through fixed-point
    * decimal ([[Fns.exactSum]]/[[Fns.exactAvg]]) so results are
    * summation-order-independent — required for bit-exact agreement with an
    * external oracle; within 1 ulp of the plain double path otherwise.
    */
  def aggExpr(colName: String, fn: String, ord: Column, exact: Boolean = false): Column = (fn match {
    case "first" => min_by(col(colName), ord)
    case "last"  => max_by(col(colName), ord)
    case "sum" if exact  => Fns.exactSum(col(colName))
    case "sum"   => sum(col(colName))
    case "max"   => max(col(colName))
    case "min"   => min(col(colName))
    case "mean" | "avg" if exact => Fns.exactAvg(col(colName))
    case "mean" | "avg" => avg(col(colName))
    case "count" => count(col(colName))
    case "std"   => stddev(col(colName))
    case other => throw new IllegalArgumentException(s"unsupported agg '$other'")
  }).as(colName)

  /** `aggregate_data` (reference transformers.py:99-142): time-bucket OHLCV
    * aggregation, the reference's flagship operator.
    *
    * Faithful-parity semantics (SURVEY.md §2.5 fine print):
    *  - groups by the time bucket ONLY — a multi-symbol frame merges all symbols
    *    into one candle per bucket (reference transformers.py:138); pass
    *    `bySymbol = true` for the extended per-symbol variant (§7.3).
    *  - bucket labels are pandas period-END anchored ([[Fns.bucketLabel]]).
    *  - the agg map is filtered to columns actually present (transformers.py:131).
    *  - all non-aggregated columns are dropped; the label lands in `timestamp`.
    *  - a defensive `to_timestamp` re-parse precedes bucketing (transformers.py:135).
    *
    * @param ord  deterministic intra-bucket order for first/last; defaults to
    *             the `timeCol` column itself (reference intent).
    */
  def aggregate(
      df: DataFrame,
      freq: String = "D",
      aggMap: Seq[(String, String)] = defaultAggMap,
      timeCol: String = "timestamp",
      bySymbol: Boolean = false,
      exactSums: Boolean = false,
      ord: DataFrame => Column = null): DataFrame = {
    val ts = Fns.coerceTimestamp(col(timeCol))
    val withTs = df.withColumn(timeCol, ts)
    val present = aggMap.filter { case (c, _) => has(df, c) }
    require(present.nonEmpty, s"aggregate: none of ${aggMap.map(_._1)} present in ${df.columns.toSeq}")
    // default intra-bucket order = the (coerced) time column — resolved via
    // timeCol, not a hard-coded "timestamp", so renamed time columns work
    val orderCol = if (ord == null) withTs.col(timeCol) else ord(withTs)
    val aggs = present.map { case (c, f) => aggExpr(c, f, orderCol, exactSums) }
    val keys =
      if (bySymbol && has(df, "symbol")) Seq(Fns.bucketLabel(freq)(col(timeCol)).as(timeCol), col("symbol"))
      else Seq(Fns.bucketLabel(freq)(col(timeCol)).as(timeCol))
    withTs.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Mergeable per-bucket OHLCV partial state over a slice of ticks — the
    * incremental-view-maintenance half of [[aggregate]]. Every field is a
    * partially-aggregable summary (extrema, arg-extrema with their ordering
    * timestamps, exact-decimal sum, count), so partials computed over
    * disjoint slices merge with [[mergeCandlePartials]] into EXACTLY the
    * candles a full recompute would produce — bit-for-bit, because the sum
    * stays fixed-point decimal until the final merge and first/last carry
    * their defining timestamps.
    *
    * This is the 100 TB daily-pipeline contract: day N's ingest computes
    * partials over the new slice only and merges them with the stored state;
    * the world is never re-aggregated. Buckets untouched by a slice are
    * absent from its partials, so merge cost is O(changed buckets).
    */
  def candlePartials(df: DataFrame, freq: String = "D",
      timeCol: String = "timestamp"): DataFrame = {
    val withTs = df.withColumn(timeCol, Fns.coerceTimestamp(col(timeCol)))
    withTs.groupBy(Fns.bucketLabel(freq)(col(timeCol)).as(timeCol))
      .agg(
        min(col(timeCol)).as("first_ts"),
        min_by(col("open"), col(timeCol)).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max(col(timeCol)).as("last_ts"),
        max_by(col("close"), col(timeCol)).as("close"),
        sum(col("volume").cast(DecimalType(30, 6))).as("vol_part"),
        count(lit(1)).as("n_ticks"))
  }

  /** Combine [[candlePartials]] frames into ONE partial row per bucket —
    * partial → partial, same schema, so state can be folded incrementally
    * (slice by slice, micro-batch by micro-batch) and merged to final
    * candles once at read time. Associative and commutative in the slices.
    */
  def combineCandlePartials(parts: DataFrame, timeCol: String = "timestamp"): DataFrame =
    parts.groupBy(col(timeCol))
      .agg(
        min(col("first_ts")).as("first_ts"),
        min_by(col("open"), col("first_ts")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max(col("last_ts")).as("last_ts"),
        max_by(col("close"), col("last_ts")).as("close"),
        sum(col("vol_part")).as("vol_part"),
        sum(col("n_ticks")).as("n_ticks"))
      .select(col(timeCol), col("first_ts"), col("open"), col("high"), col("low"),
        col("last_ts"), col("close"), col("vol_part"), col("n_ticks"))

  /** Merge [[candlePartials]] state frames (union them first) into final
    * candles: arg-min/arg-max re-resolve first/last across slices via the
    * carried timestamps, extrema and decimal sums recombine associatively.
    * Output schema matches `aggregate(_, freq, exactSums = true)` exactly.
    */
  def mergeCandlePartials(parts: DataFrame, timeCol: String = "timestamp"): DataFrame =
    parts.groupBy(col(timeCol))
      .agg(
        min_by(col("open"), col("first_ts")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("last_ts")).as("close"),
        sum(col("vol_part")).cast(DoubleType).as("volume"))

  /** Skew-safe two-stage ("salted") aggregation for algebraic aggregates:
    * rows first combine under (keys, salt) — at most `buckets` partial cells
    * per hot key, spread across reducers — then the partials combine under
    * the keys alone. Because the partials are fixed-point decimals, the
    * two-stage result is bit-identical to a direct groupBy at ANY bucket
    * count (double partials would make the answer depend on the salting).
    *
    * Map-side combine already absorbs mild skew; salting is for the
    * pathological key whose single reducer cell would otherwise hold a
    * corpus-scale fraction of all rows (AQE's skew handling splits join
    * partitions, not aggregation cells — this is the aggregation-side
    * equivalent). Emits the sum and the row count per key.
    */
  def saltedSum(df: DataFrame, keyCols: Seq[String], valueCol: String,
      outCol: String, buckets: Int = 32): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    // salt over ALL columns, not just the value: a hot key with a constant
    // value would otherwise collapse into one salt cell. Rows identical in
    // every column that do share a salt cell are exactly the rows map-side
    // combine pre-aggregates anyway, so the reducer cell stays bounded.
    val salt = pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(buckets.toLong))
    df.withColumn("__salt", salt)
      .groupBy((keyCols :+ "__salt").map(col): _*)
      .agg(sum(col(valueCol).cast(DecimalType(30, 6))).as("__part"),
        count(lit(1)).as("__n"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("__part")).cast(DoubleType).as(outCol),
        sum(col("__n")).as("n_rows"))
  }

  /** Skew-safe salted equi-join: the big (probe) side gets a deterministic
    * salt in [0, buckets) derived from its `saltBy` column; the small (build)
    * side is replicated once per salt value; the join key becomes
    * (keys, salt). A hot key's probe rows now spread over `buckets` reducer
    * partitions instead of one, at the cost of `buckets`× the build side —
    * the manual form of AQE's skew-join splitting, usable when AQE is off
    * (stateful queries) or when the skew is known ahead of time.
    *
    * Row-multiset of the result is IDENTICAL to the plain join (every probe
    * row still meets every matching build row exactly once).
    *
    * @param saltBy a column of the big side to derive the salt from — use a
    *               row id, not a join key (salting the key would be a no-op)
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keyCols: Seq[String],
      saltBy: String, buckets: Int = 8): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val salted = big.withColumn("__salt", pmod(xxhash64(col(saltBy)), lit(buckets.toLong)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0L), lit(buckets.toLong - 1))))
    salted.join(replicated, keyCols :+ "__salt").drop("__salt")
  }

  /** Unpivot/melt — the inverse of the wide pivot: (ids, c1..cn) rows become
    * (ids, variable, value) tall rows, dropping null cells (a pivot cell that
    * no input row produced does not resurrect as a synthetic tall row).
    *
    * Scale: Spark's native `unpivot` is a narrow Expand — n output rows per
    * input row, no shuffle; the null filter stays in the same codegen stage.
    */
  def melt(df: DataFrame, idCols: Seq[String], valueCols: Seq[String],
      varCol: String = "variable", valCol: String = "value"): DataFrame =
    df.unpivot(idCols.map(col).toArray, valueCols.map(col).toArray, varCol, valCol)
      .filter(col(valCol).isNotNull)

  /** Full transform dispatch (reference transformers.py:145-186): the 3-way
    * branch on `transformation_type` that constitutes the reference's planner.
    */
  def apply(df: DataFrame, transformation: String, params: Map[String, String] = Map.empty): DataFrame =
    transformation match {
      case "clean" => clean(df)
      case "normalize" => normalize(df, params.getOrElse("data_type", "stock"))
      case "aggregate" => aggregate(df, params.getOrElse("freq", "D"))
      case other => throw new IllegalArgumentException(s"unknown transformation '$other'")
    }

  /** Destination naming contract (reference transformers.py:196-214): tokenize
    * the source dataset name as `{source}_{data_type}_...`, then
    *  - `aggregate` → `{source}_aggregate_{data_type}_{YYYYMMDD}.parquet`
    *  - others      → `{source}_{data_type}_{transformation}_{YYYYMMDD}.parquet`
    * (the reference's `generate_filename` appends today's date token).
    */
  def destinationName(sourcePath: String, transformation: String,
      date: java.time.LocalDate = java.time.LocalDate.now()): String = {
    val parts = sourcePath.split('/').last.split('.').head.split('_')
    val source = if (parts.nonEmpty) parts(0) else "unknown"
    val dataType = if (parts.length > 1) parts(1) else "data"
    val d = date.format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
    if (transformation == "aggregate") s"${source}_${transformation}_${dataType}_$d.parquet"
    else s"${source}_${dataType}_${transformation}_$d.parquet"
  }

  /** End-to-end transform pipeline (reference transformers.py:145-214 +
    * routes.py:135-144): read the source dataset from its layer, apply the
    * transformation, land the result in the destination layer under
    * [[destinationName]]. Both the read and the write resolve through the one
    * lake root — deliberately fixing the reference's `data/`-prefix read vs
    * CWD-relative write inconsistency (SURVEY.md §3.2). The row count comes
    * from the landing write; an empty result lands nothing and leaves an
    * earlier dataset of the destination name as it was.
    */
  def transformAndStore(
      lake: graft.sources.Lake, sourceLayer: String, dataset: String,
      transformation: String, destLayer: String,
      params: Map[String, String] = Map.empty): Map[String, Any] = {
    val df = lake.read(sourceLayer, dataset)
    if (df.schema.isEmpty) return Map("status" -> "error",
      "message" -> s"dataset $dataset not found in $sourceLayer", "records_count" -> 0L)
    val (path, n) = lake.writeCounted(apply(df, transformation, params), destLayer,
      destinationName(dataset, transformation), keep = _ > 0)
    if (n == 0) Map("status" -> "error",
      "message" -> "Transformation resulted in empty dataframe.", "records_count" -> 0L)
    else Map("status" -> "success", "records_count" -> n, "file_path" -> path)
  }
}
