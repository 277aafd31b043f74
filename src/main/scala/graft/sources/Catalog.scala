package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Metadata-table catalog — parity for the reference's declared metadata DB
  * (reference config.py:26-27 `DB_URL = sqlite:///./financial_metadata.db`,
  * never actually used: every catalog operation in storage.py:29-196 falls
  * back to filename listing). Here the catalog is a real, queryable table so
  * dataset metadata survives beyond what a directory listing can answer
  * (row counts, column counts, ingest dates) without touching the data files.
  *
  * Design — a driver-side table over a [[VersionLog]] in `root/_catalog`,
  * the commit log [[TxTable]] uses: each version is one text file holding
  * the whole catalog, one JSON object per row. Every mutation (register /
  * unregister) reads the live version's rows, applies the edit on the
  * driver, claims and lands the next version, then moves the pointer
  * forward by one atomic rename. Readers resolve the pointer once
  * and only ever read an immutable version: no overwrite-while-read window
  * and no moment without a pointer.
  *
  * Scale: the catalog holds ONE ROW PER DATASET — catalog-scale by
  * construction (thousands of rows at 100 TB of data, not billions), so
  * each commit rewrites O(catalog) rows on the driver, never O(data), and
  * launches no Spark job. Versions past a bounded history window are pruned
  * at each commit.
  */
final case class Catalog(spark: SparkSession, root: String) {
  import Catalog.{Entry, mapper}

  private val log = new VersionLog(new Path(root, "_catalog"), spark.sparkContext.hadoopConfiguration)

  /** Catalog row contract (the reference's dataset-metadata dict,
    * storage.py:51-89 / helpers.py:84-177, as a fixed relational schema).
    */
  val schema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("layer", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("data_type", StringType, nullable = false),
    StructField("ingest_date", StringType, nullable = true),
    StructField("num_rows", LongType, nullable = false),
    StructField("num_cols", IntegerType, nullable = false),
    StructField("version", LongType, nullable = false)))

  /** The live version number, 0 if the catalog has never committed. */
  def currentVersion: Long = log.currentVersion

  /** The catalog table at the live version (empty frame with the full schema
    * when no commit exists yet — mirrors Lake.read's missing-path contract).
    */
  def entries: DataFrame = frame(rows(currentVersion))

  /** Time travel: the catalog table as of version `v` (1-based commit
    * numbers; throws if the version has been pruned past [[historyWindow]]
    * or never existed). Versions are immutable — this is a plain read.
    */
  def entriesAt(v: Long): DataFrame = {
    require(log.exists(log.versionPath(v)),
      s"catalog snapshot v$v does not exist (pruned or never committed)")
    frame(rows(v))
  }

  /** Upsert one dataset's metadata row; key is (layer, name). `df` supplies
    * num_rows/num_cols; `ingestDate` defaults to the trailing `_YYYYMMDD`
    * filename token when present (helpers.py:96-98 convention), else null.
    * Counting `df` is the one Spark job, run before the commit lock: its
    * partitions' row counts summed on the driver. `Dataset.count()` plans a
    * global aggregate, which adaptive execution runs as two jobs (the
    * partial-count shuffle stage, then the final one).
    */
  def register(layer: String, name: String, df: DataFrame,
      ingestDate: Option[String] = None): Long = {
    val n = Lake.DatasetName(name)
    val numRows = df.select().rdd.count()
    commit { (cur, next) =>
      cur.filterNot(e => e.layer == layer && e.name == n.stem) :+ Entry(n.stem, layer,
        n.source, n.dataType, ingestDate.orElse(n.date), numRows, df.columns.length, next)
    }
  }

  /** Drop a dataset's metadata row; returns the new version (an unchanged
    * table still commits a new version — the version is the edit count, as
    * in a log).
    */
  def unregister(layer: String, name: String): Long = {
    val stem = Lake.DatasetName(name).stem
    commit((cur, _) => cur.filterNot(e => e.layer == layer && e.name == stem))
  }

  /** Latest dataset name for (source, data_type) in a layer by ingest_date —
    * the metadata-table answer to Lake.latest's filename scan
    * (storage.py:158-170).
    */
  def latestName(layer: String, source: String, dataType: String): Option[String] =
    rows(currentVersion).collect {
      case Entry(name, `layer`, `source`, `dataType`, Some(date), _, _, _) => (date, name)
    }.maxOption.map(_._2)

  /** How many stale versions are kept after each commit (time travel /
    * concurrent-reader grace window).
    */
  val historyWindow = 8

  private def rows(v: Long): Seq[Entry] =
    if (v == 0L) Seq.empty
    else log.lines(log.versionPath(v)).map(mapper.readValue(_, classOf[Entry]))

  private def frame(rows: Seq[Entry]): DataFrame =
    spark.createDataFrame(rows.map(_.row).asJava, schema)

  /** Untouched rows keep the version that registered them (provenance);
    * `edit` stamps only its new rows with the committing version. A lost
    * claim aborts the commit, table untouched; the caller may retry.
    */
  private def commit(edit: (Seq[Entry], Long) => Seq[Entry]): Long = log.lock.synchronized {
    val next = currentVersion + 1
    val body = edit(rows(next - 1), next).map(mapper.writeValueAsString)
    if (!log.claim(next) || !log.land(next, body))
      throw new java.util.ConcurrentModificationException(
        s"catalog commit conflict: version $next already claimed by another writer")
    log.publishPointer(next, "tmp")
    log.versions.filter(_ < next - historyWindow).foreach { v =>
      log.delete(log.versionPath(v)); log.delete(log.claimPath(v))
    }
    next
  }
}

object Catalog {
  /** One catalog row as it is stored: one JSON object per line. */
  private final case class Entry(name: String, layer: String, source: String,
      data_type: String, ingest_date: Option[String], num_rows: Long, num_cols: Int,
      version: Long) {
    def row: Row = Row(name, layer, source, data_type, ingest_date.orNull, num_rows, num_cols, version)
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
}
