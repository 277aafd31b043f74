package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Transforms

/** Driver contract — every operator from SURVEY.md §2 (plus the
  * training-data-pipeline extensions) exposed as a named query in
  * [[queries]] with a DuckDB oracle dual in [[oracleSql]]. The queries live
  * in the family files of [[graft.suite]], each beside its dual; this object
  * keeps the flagship [[entry]] and the table readers and SQL fragments
  * every family shares.
  *
  * Oracle-parity rules used throughout (the driver hash-compares values):
  *  - floating-point aggregates run through fixed-point decimal
  *    ([[graft.functions.Fns.exactSum]]) so sums are summation-order-
  *    independent and therefore bit-identical between Spark and DuckDB;
  *  - counts/ranks/sizes are cast to LONG on the Spark side (DuckDB counts are
  *    BIGINT);
  *  - every result carries a deterministic ORDER BY in both dialects;
  *  - column names are aliased identically in both dialects.
  */
object SparkEntry {

  /** Session settings every query depends on, applied defensively because the
    * driver may run queries in a session it built itself:
    *  - `nanosAsLong`: events.parquet carries TIMESTAMP(NANOS), which Spark's
    *    Parquet reader rejects by default — read as long + convert in [[events]];
    *  - ICU case mappings OFF: `lower()` under ICU triggers a
    *    CollationAwareUTF8String static init that burns minutes of CPU in this
    *    environment; JVM case mapping is identical for this corpus (and matches
    *    the DuckDB oracle's `lower`).
    */
  private[graft] def tune(s: SparkSession): SparkSession = {
    // once per session: conf writes + function registration are fixed
    // per-query cost when repeated (tune runs inside every table accessor)
    if (SessionCache.once(s, "tuned")) {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s.conf.set("spark.sql.icu.caseMappings.enabled", "false")
      // UTC is load-bearing for every day-bucketed oracle comparison: the
      // DuckDB duals are timezone-naive, so a driver-built session inheriting
      // a non-UTC host zone would shift date_trunc day boundaries suite-wide
      s.conf.set("spark.sql.session.timeZone", "UTC")
      graft.expressions.GraftFunctions.register(s) // SQL surface: vector_dot(...)
    }
    s
  }

  /** Session catalog for the static sf tables: `spark.read.parquet` builds a
    * fresh file index + reads footers on EVERY call — pure fixed cost when
    * the inputs are immutable benchmark tables. One analyzed base frame per
    * (session, dir, table) via [[SessionCache]] (weak-keyed on the session),
    * exactly what a persistent catalog's cached table metadata gives a
    * production session. Lake-path reads (which DO change under the session)
    * never come through here.
    */
  private[graft] def table(s0: SparkSession, dir: String, name: String): DataFrame = {
    val s = tune(s0)
    SessionCache.getOrCompute(s, s"table:$dir/$name")(
      s.read.parquet(s"$dir/$name.parquet"))
  }

  /** events.parquet with `ts` normalized to TIMESTAMP (LTZ). The generator has
    * shipped two physical encodings across rounds — TIMESTAMP(NANOS) (read as
    * long under `nanosAsLong`, converted via integral div, lossless: the corpus
    * has no sub-µs components) and TIMESTAMP(MICROS) without tz (read as
    * TIMESTAMP_NTZ) — and watermarks/`unix_micros` require TIMESTAMP proper.
    * The NTZ→LTZ cast interprets wall-clock in the session zone, which [[tune]]
    * pins to UTC, so both encodings land on identical instants.
    */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    val raw = table(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  private[graft] def orders(s: SparkSession, dir: String) = table(s, dir, "orders")

  private[graft] def lineitem(s: SparkSession, dir: String) = table(s, dir, "lineitem")

  private[graft] def customer(s: SparkSession, dir: String) = table(s, dir, "customer")

  private[graft] def nation(s: SparkSession, dir: String) = table(s, dir, "nation")

  private[graft] def region(s: SparkSession, dir: String) = table(s, dir, "region")

  private[graft] def part(s: SparkSession, dir: String) = table(s, dir, "part")

  private[graft] def documents(s: SparkSession, dir: String) = table(s, dir, "documents")

  private[graft] def embeddings(s: SparkSession, dir: String) = table(s, dir, "embeddings")

  /** Process-scoped tmp landing path. Bench ∥ Verify are two JVMs on the same
    * machine and sfDir: a fixed-name tmp directory with overwrite semantics
    * races one process's re-land against the other's read (ADVICE r9 flagged
    * q_partitioned_read; the same race through the shared bucketed-lake root
    * produced a failed bench pass when a second JVM overwrote the table
    * mid-read). Per-pid paths keep the once-per-session write economics
    * within a process while making cross-process interference impossible.
    */
  private[graft] def procTmp(name: String): String =
    new java.io.File(sys.props("java.io.tmpdir"),
      s"${name}_p${ProcessHandle.current().pid()}").toString

  /** events reshaped as a tick frame for the OHLCV candle operator: the
    * reference aggregates open/high/low/close/volume columns (transformers.py:120-128);
    * the synthetic `value` column plays all five roles.
    */
  private[graft] def candleInput(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
      col("ts").as("timestamp"), col("value").as("open"), col("value").as("high"),
      col("value").as("low"), col("value").as("close"), col("value").as("volume"))

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the full
    * reference pipeline — scan → clean → daily OHLCV candles
    * (routes.py:135-144 → transformers.py:99-142 in one plan).
    */
  def entry(spark: SparkSession): DataFrame = {
    tune(spark)
    val ticks = candleInput(spark, "/root/testdata/sf0.001")
    Transforms.aggregate(Transforms.clean(ticks), "D", exactSums = true).orderBy("timestamp")
  }

  private[graft] val dedupWords =
    "list_filter(string_split_regex(regexp_replace(lower(text), '[^\\p{L}\\p{Nd}]+', ' ', 'g'), ' '), w -> len(w) > 0)"

  /** DuckDB distinct word-5-gram shingle CTE (mirrors [[Dedup.shingleHashSet]]
    * semantics: whole-token-list fallback for short docs, distinct set).
    */
  private[graft] def shingleCte(n: Int): String = shingleCte(n, "documents")

  private[graft] def shingleCte(n: Int, src: String): String =
    s"""words AS (SELECT doc_id, $dedupWords AS ws FROM $src),
       | sh AS (SELECT doc_id, UNNEST(list_distinct(
       |   CASE WHEN len(ws) - ${n - 1} <= 0 THEN [array_to_string(ws, ' ')]
       |   ELSE list_transform(range(0, len(ws) - ${n - 1}), i -> array_to_string(list_slice(ws, i + 1, i + $n), ' ')) END)) AS s
       |   FROM words)""".stripMargin.replace("\n", "")

  private[graft] def idHashSql(x: String): String =
    s"list_reduce(list_transform(range(1, 16), i -> CAST(strpos('0123456789abcdef', substring(md5(CAST($x AS VARCHAR)), i, 1)) - 1 AS BIGINT)), (a,b) -> a*16 + b)"

  /** Every registered query by name: the families of [[graft.suite.Suite]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = graft.suite.Suite.queries

  /** Each registered query's DuckDB dual, keyed like [[queries]]. */
  def oracleSql: Map[String, String] = graft.suite.Suite.oracleSql
}

/** Embedded API-payload fixtures (FIXTURES.md §3) — offline stand-ins for the
  * upstream HTTP responses, exercising the exact JSON shapes of
  * reference alphavantage.py:52-67, 213-226 and yahoo_finance.py:126-146.
  */
object Fixtures {
  /** Absolute path of a committed file under the repository's `fixtures/`
    * directory, resolved against the working directory unless
    * `GRAFT_FIXTURES_DIR` names another fixtures root. */
  def path(name: String): String =
    new java.io.File(sys.env.getOrElse("GRAFT_FIXTURES_DIR", "fixtures"), name).getAbsolutePath

  val avStock: String =
    """{"Time Series (Daily)": {"2024-01-03": {"1. open": "184.22", "2. high": "185.88",
      |"3. low": "183.43", "4. close": "184.25", "5. volume": "58414500"},
      |"2024-01-02": {"1. open": "187.15", "2. high": "188.44", "3. low": "183.89",
      |"4. close": "185.64", "5. volume": "82488700"}}}""".stripMargin
  val avForex: String =
    """{"Time Series FX (Daily)": {"2024-01-03": {"1. open": "0.9123", "2. high": "0.9178",
      |"3. low": "0.9087", "4. close": "0.9145"},
      |"2024-01-02": {"1. open": "0.9068", "2. high": "0.9141", "3. low": "0.9042", "4. close": "0.9123"}}}""".stripMargin
  val avEconomic: String =
    """{"data": [{"date": "2023-12-31", "value": "27360.9"}, {"date": "2023-09-30", "value": "26996.4"}]}"""
  val yahooChart: String =
    """{"chart": {"result": [{"timestamp": [1704207600, 1704294000, 1704380400],
      |"indicators": {"quote": [{"open": [187.15, null, 182.15], "high": [188.44, 185.88, 183.09],
      |"low": [183.89, 183.43, 180.88], "close": [185.64, 184.25, 181.91],
      |"volume": [82488700, 58414500, 71983600]}]}}]}}""".stripMargin
  val polygonAggs: String =
    """{"ticker": "AAPL", "queryCount": 2, "resultsCount": 2, "adjusted": true,
      |"results": [{"v": 82488700, "vw": 186.2034, "o": 187.15, "c": 185.64,
      |"h": 188.44, "l": 183.89, "t": 1704171600000, "n": 1046712},
      |{"v": 58414500, "vw": 184.8712, "o": 184.22, "c": 184.25,
      |"h": 185.88, "l": 183.43, "t": 1704258000000, "n": 656853}],
      |"status": "OK", "request_id": "abc123", "count": 2}""".stripMargin
}
