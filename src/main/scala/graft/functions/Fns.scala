package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar-expression building blocks shared across the engine.
  *
  * Everything here is pure `Column` composition over Spark built-ins — no UDFs,
  * no custom Catalyst expressions — so every operator stays inside whole-stage
  * codegen and survives predicate pushdown / column pruning (SURVEY.md §4.3).
  */
object Fns {

  // ---------------------------------------------------------------------------
  // Casts (reference transformers.py:43-49, pandas `errors='coerce'`)
  // ---------------------------------------------------------------------------

  /** pandas `pd.to_numeric(col, errors='coerce')`: unparseable → NULL, never an
    * error. Spark 4 defaults ANSI mode ON, where a plain cast would raise — so
    * this is pinned to `try_cast` semantics independent of `spark.sql.ansi.enabled`.
    */
  def coerceDouble(c: Column): Column = c.try_cast(DoubleType)

  /** Volume-style integer coerce (reference alphavantage.py:72 downcasts; we map
    * to LongType per SURVEY.md §1.2). Values like "82488700.0" must still parse,
    * so go through double first (pandas to_numeric accepts decimal strings).
    */
  def coerceLong(c: Column): Column = c.try_cast(DoubleType).try_cast(LongType)

  /** pandas `pd.to_datetime(col)` flexible parse (reference transformers.py:36-40):
    * try several common formats, first success wins, unparseable → NULL.
    * Already-typed timestamp/date columns pass through the plain cast arm.
    */
  def coerceTimestamp(c: Column): Column = coalesce(
    c.try_cast(TimestampType), // ISO `yyyy-MM-dd[ HH:mm:ss[.S]]`, dates, numerics-as-ts
    try_to_timestamp(c, lit("MM/dd/yyyy HH:mm:ss")),
    try_to_timestamp(c, lit("MM/dd/yyyy")),
    try_to_timestamp(c, lit("yyyyMMdd"))
  )

  // ---------------------------------------------------------------------------
  // Time-bucket labels (reference transformers.py:134-139, pandas pd.Grouper)
  // ---------------------------------------------------------------------------

  /** Pandas-anchored bucket label for `pd.Grouper(freq=...)` parity
    * (SURVEY.md §2.5 note 3). Pandas labels W/M/Q/Y buckets at period END:
    * `W` = the bucket's Sunday, `M` = last calendar day of the month,
    * `Q` = quarter-end month's last day, `Y` = Dec 31. `D` labels the day's
    * midnight. Returned as TIMESTAMP (midnight of the label day) to match the
    * reference where the label lands back in the `timestamp` column.
    */
  def bucketLabel(freq: String)(ts: Column): Column = freq.toUpperCase match {
    case "D" | "DAY" | "DAILY" => date_trunc("DAY", ts)
    // pandas 'W' (= W-SUN) buckets run Monday..Sunday labeled by the Sunday;
    // Spark/ISO date_trunc('week') is Monday-start, so label = week start + 6d.
    case "W" | "WEEK" | "WEEKLY" => date_add(date_trunc("WEEK", ts), 6).cast(TimestampType)
    case "M" | "ME" | "MONTH" | "MONTHLY" => last_day(ts).cast(TimestampType)
    case "Q" | "QE" | "QUARTER" | "QUARTERLY" =>
      last_day(add_months(date_trunc("QUARTER", ts), 2)).cast(TimestampType)
    case "Y" | "YE" | "A" | "YEAR" | "YEARLY" | "ANNUAL" =>
      make_date(year(ts), lit(12), lit(31)).cast(TimestampType)
    case other => throw new IllegalArgumentException(
      s"unsupported frequency '$other' (expected one of D W M Q Y)")
  }

  // ---------------------------------------------------------------------------
  // Serving-path normalization (reference routes.py:192-208)
  // ---------------------------------------------------------------------------

  /** JSON-compliance normalization: `±inf`/`NaN` → NULL (reference routes.py:194).
    * Note Spark `isnan` is distinct from `isNull` — both states must map to NULL.
    */
  def nullNormalize(c: Column): Column =
    when(isnan(c) || c === Double.PositiveInfinity || c === Double.NegativeInfinity, lit(null))
      .otherwise(c)

  /** Apply [[nullNormalize]] to every floating-point column of a frame. */
  def nullNormalizeAll(df: DataFrame): DataFrame = {
    val floaty = df.schema.fields.collect {
      case StructField(n, DoubleType | FloatType, _, _) => n
    }.toSet
    df.select(df.columns.map { c =>
      if (floaty(c)) nullNormalize(col(c)).as(c) else col(c)
    }.toIndexedSeq: _*)
  }

  /** ISO-8601 µs-precision `Z`-suffixed serialization of timestamps
    * (reference routes.py:205 `strftime('%Y-%m-%dT%H:%M:%S.%fZ')`).
    */
  def isoMicros(c: Column): Column =
    date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")

  // ---------------------------------------------------------------------------
  // Small derived-column helpers
  // ---------------------------------------------------------------------------

  /** Forex mid-rate (reference transformers.py:81-82). */
  def midRate(open: Column, close: Column): Column = (open + close) / 2

  /** Crypto base symbol `"BTC-USD" → "BTC"` (reference yahoo_finance.py:185). */
  def baseSymbol(symbol: Column): Column = split(symbol, "-").getItem(0)

  /** Exact decimal sum of a double column, returned as DOUBLE.
    *
    * Summing doubles is order-dependent, and Spark and an external oracle
    * (DuckDB) will generally disagree in the last ulp. Casting each value to a
    * fixed-point decimal first makes the sum exact and order-independent, so
    * both engines produce the identical double. Used by every oracle-checked
    * aggregate of the query families in `graft.suite`.
    */
  def exactSum(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(30, scale))).cast(DoubleType)

  /** Exact decimal mean of a double column (sum/count in double at the end). */
  def exactAvg(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(30, scale))).cast(DoubleType) / count(c).cast(DoubleType)
}
