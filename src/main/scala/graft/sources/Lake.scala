package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.io.IOException
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.UUID

/** The medallion lake: bronze (raw) / silver (clean+normalized) / gold
  * (aggregated) layers plus the filename-convention catalog
  * (reference config.py:17-24, storage.py:17-196, helpers.py:23-177).
  *
  * Scale notes: the reference's one-file-per-dataset contract
  * (`{source}_{data_type}_{YYYYMMDD}.parquet`, helpers.py:23-28) encodes
  * partition keys into filenames. At 100 TB that becomes
  * `partitionBy("source","data_type","ingest_date")` directory layout so
  * Catalyst partition-prunes scans; [[writePartitioned]] is that path. The
  * single-file writer ([[write]]) is kept for reference-contract parity and
  * small serving datasets only.
  */
final case class Lake(spark: SparkSession, root: String) {

  val bronze = s"$root/bronze"
  val silver = s"$root/silver"
  val gold = s"$root/gold"

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def layerDir(layer: String): String = layer match {
    case "bronze" => bronze
    case "silver" => silver
    case "gold"   => gold
    case other => throw new IllegalArgumentException(s"unknown layer '$other'")
  }

  /** `generate_filename` (reference helpers.py:23-28); [[Lake.DatasetName]]
    * reads the convention back.
    */
  def generateFilename(source: String, dataType: String, date: LocalDate = LocalDate.now()): String =
    s"${source}_${dataType}_${date.format(DateTimeFormatter.BASIC_ISO_DATE)}.parquet"

  /** S1 Parquet scan (reference helpers.py:49-63): missing path → empty frame
    * rather than an error. Planning the read launches no Spark job: the
    * schema comes from one parquet footer read on the driver.
    */
  def read(layer: String, dataset: String): DataFrame = {
    val p = new Path(layerDir(layer), withExt(dataset))
    if (fs.exists(p)) open(p)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], new StructType())
  }

  /** Opens a dataset with its schema resolved on the driver. Spark's own
    * inference for a one-file dataset is a Spark job that reads the footer of
    * the path-sorted first data file and converts it with
    * `ParquetFileFormat.readSchemaFromFooter` under the session conf; this
    * reads that same footer here and runs that same conversion, so the schema
    * (Spark's stored row schema included, when the file carries one) is the
    * one inference would return. Names starting with `_` or `.` are skipped,
    * as Spark's file index skips them. A directory with no data file directly
    * under it (a partitioned layout) is left to Spark's inference.
    */
  private def open(p: Path): DataFrame = {
    val dataFile = fs.listStatus(p).iterator
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .minByOption(_.getPath.toString)
    dataFile match {
      case Some(st) =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(st, spark.sessionState.newHadoopConf()), SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(p.toString)
      case None => spark.read.parquet(p.toString)
    }
  }

  /** S2 Parquet sink (reference helpers.py:31-46): one dataset = one parquet
    * directory under the layer. `coalesce(1)` honors the reference's
    * one-file-per-dataset contract — correct at serving scale, deliberately NOT
    * used by [[writePartitioned]]. Always publishes, so an empty frame lands
    * as an empty dataset.
    */
  def write(df: DataFrame, layer: String, dataset: String): String =
    writeCounted(df, layer, dataset)._1

  /** [[write]] returning (dataset path, row count), the count taken from the
    * write itself. The dataset is published only when `keep` accepts the
    * count; a rejected frame lands nothing and leaves an earlier dataset of
    * the same name as it was.
    */
  def writeCounted(df: DataFrame, layer: String, dataset: String,
      keep: Long => Boolean = _ => true): (String, Long) = {
    val (path, rows, _) = land(df, layer, dataset)((_, n) => keep(n))
    (path, rows)
  }

  /** The 100 TB-scale sink: hive-style partition layout replacing the filename
    * convention, enabling partition pruning on `source`/`data_type`/`ingest_date`.
    */
  def writePartitioned(df: DataFrame, layer: String, dataset: String): String = {
    val p = new Path(layerDir(layer), dataset).toString
    val partCols = Seq("source", "data_type", "ingest_date").filter(df.columns.contains)
    val w = df.write.mode("overwrite")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).parquet(p)
    p
  }

  /** Bucketed catalog table: pre-shuffles the data into `numBuckets` by
    * `bucketCols` at write time (optionally sorted within buckets), so every
    * later equi-join or aggregation on those keys is CO-LOCATED — Catalyst
    * plans it with zero exchanges. This is the 100 TB answer to "the fact
    * table is joined on the same key every day": pay the shuffle once at
    * ingest, never again. Registered in the session catalog under
    * `tableName`; read back with `spark.table(tableName)`.
    */
  def writeBucketed(df: DataFrame, tableName: String, bucketCols: Seq[String],
      numBuckets: Int, sortCols: Seq[String] = Seq.empty): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .option("path", new Path(layerDir("bronze"), s"bucketed_$tableName").toString)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(tableName)
  }

  /** Catalog listing (reference storage.py:29-49): dataset names are parquet
    * stems under a layer dir.
    */
  def list(layer: String): Seq[String] = {
    val dir = new Path(layerDir(layer))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toIndexedSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
      .sorted
  }

  /** F3 substring filter on the catalog (reference storage.py:149-152). */
  def find(layer: String, source: String, dataType: String): Seq[String] =
    list(layer).filter(n => n.contains(source) && n.contains(dataType))

  /** O1 latest-dataset selection (reference storage.py:158-170): max by the
    * trailing `_YYYYMMDD` token of the dataset name, then read it.
    */
  def latest(layer: String, source: String, dataType: String): Option[DataFrame] = {
    val names = find(layer, source, dataType)
    if (names.isEmpty) None
    else Some(read(layer, names.maxBy(Lake.DatasetName(_).lastToken)))
  }

  /** S17 dataset delete (reference storage.py:172-196). */
  def delete(layer: String, dataset: String): Boolean = {
    val p = new Path(layerDir(layer), withExt(dataset))
    fs.exists(p) && fs.delete(p, true)
  }

  /** Dataset info (reference helpers.py:84-177): row count + min/max of the
    * date column + distinct symbols capped at 50 with an `'...'` sentinel,
    * plus `source`/`data_type` parsed from the underscore-delimited dataset
    * name (helpers.py:96-98; `unknown` when a token is absent).
    * The row count, the min/max and the symbol listing come from one global
    * aggregate over a pruned scan — the reference reads the count and the
    * date column separately by hand (helpers.py:102-106, 131). The listing
    * keeps `distinct().orderBy("symbol")`'s order: a NULL symbol first, then
    * the distinct set sorted by Spark; the set is collected whole, so its
    * size is the dataset's symbol universe.
    */
  def info(layer: String, dataset: String): Map[String, Any] = {
    val df = read(layer, dataset)
    if (df.schema.isEmpty) return Map("name" -> dataset, "exists" -> false)
    val name = Lake.DatasetName(dataset)
    val dateCol = df.columns.find(c => Seq("timestamp", "date", "time", "datetime").contains(c.toLowerCase))
    val hasSymbol = df.columns.contains("symbol")
    val rest = dateCol.toSeq.flatMap(dc => Seq(min(col(dc)), max(col(dc)))) ++
      (if (hasSymbol) Seq(slice(array_sort(collect_set(col("symbol"))), 1, 51),
        count(when(col("symbol").isNull, 1)) > 0) else Nil)
    val r = df.agg(count(lit(1)), rest: _*).head()
    val base = Map[String, Any](
      "name" -> dataset, "exists" -> true,
      "source" -> name.source, "data_type" -> name.dataType,
      "num_rows" -> r.getLong(0), "columns" -> df.columns.toSeq)
    val dates = if (dateCol.isEmpty) Map.empty[String, Any]
      else Map("start_date" -> r.get(1), "end_date" -> r.get(2))
    val symbols = if (hasSymbol) {
      val at = 1 + 2 * dateCol.size
      val syms = (if (r.getBoolean(at + 1)) Seq(null) else Nil) ++ r.getSeq[String](at)
      Map("symbols" -> (if (syms.length > 50) syms.take(50) :+ "..." else syms))
    } else Map.empty[String, Any]
    base ++ dates ++ symbols
  }

  /** Write-audit-publish (the Iceberg WAP pattern scaled to this lake): the
    * frame lands in a STAGING directory, the audit checks run against the
    * staged files (validating exactly the bytes readers would see, not the
    * upstream plan), and only an all-green report publishes the staging dir
    * onto the dataset path ([[land]]) — a failed audit leaves the previous
    * published version untouched and removes the staging dir.
    *
    * Returns (report, published): the per-check report frame plus whether
    * the swap happened. At scale the audit costs one aggregate pass over
    * the staged files (see [[graft.operators.Checks.validate]]) — the
    * insurance every promotion pipeline buys before making bad data
    * readable.
    */
  def writeAudited(df: DataFrame, layer: String, dataset: String,
      checks: Seq[graft.operators.Checks.Check]): (DataFrame, Boolean) = {
    var report: DataFrame = null
    val (_, _, published) = land(df, layer, dataset) { (staging, _) =>
      // eager materialization: the report is #checks rows; localCheckpoint
      // avoids both a cache-lifecycle leak and a re-scan when the caller
      // consumes the report after the staging dir is gone
      report = graft.operators.Checks.validate(open(staging), checks).localCheckpoint(true)
      report.filter(!col("passed")).isEmpty
    }
    (report, published)
  }

  /** The one landing protocol behind [[write]], [[writeCounted]] and
    * [[writeAudited]]: `df` is written as one parquet file into a
    * `.staging_*` directory beside the dataset, its rows counted during that
    * same write by an `Observation` (no second Spark job). `publish` then
    * sees the staged directory and the count: yes replaces the dataset with
    * the staging directory by a delete-and-rename, no deletes the staging
    * directory, and so does a failed write. Readers therefore never see a
    * half-written dataset, and a rejected or failed landing leaves the
    * previous version in place. Publishes hold one JVM-wide lock, so two
    * landings of one name cannot nest one staging directory inside the
    * other's dataset. Returns (dataset path, rows, published).
    */
  private def land(df: DataFrame, layer: String, dataset: String)(
      publish: (Path, Long) => Boolean): (String, Long, Boolean) = {
    val dest = new Path(layerDir(layer), withExt(dataset))
    val staging = new Path(layerDir(layer), s".staging_${withExt(dataset)}_${UUID.randomUUID()}")
    try {
      val written = new Observation()
      df.observe(written, count(lit(1)).as("rows"))
        .coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val rows = written.get("rows").asInstanceOf[Long]
      val ok = publish(staging, rows)
      if (ok) Lake.synchronized {
        if (fs.exists(dest)) fs.delete(dest, true)
        if (!fs.rename(staging, dest)) throw new IOException(s"could not publish $staging as $dest")
      }
      (dest.toString, rows, ok)
    } finally if (fs.exists(staging)) fs.delete(staging, true)
  }

  private def withExt(dataset: String): String =
    if (dataset.endsWith(".parquet")) dataset else s"$dataset.parquet"
}

object Lake {

  /** A dataset name read by the [[Lake#generateFilename]] convention
    * `{source}_{data_type}_…_{YYYYMMDD}` (reference helpers.py:23-28,
    * 96-98): `source` and `dataType` are the first two `_` tokens (`unknown`
    * when absent), `date` the trailing token when it is eight digits.
    */
  final case class DatasetName(dataset: String) {
    val stem: String = dataset.stripSuffix(".parquet")
    private val tokens = stem.split('_')
    def source: String = tokens.headOption.getOrElse("unknown")
    def dataType: String = if (tokens.length > 1) tokens(1) else "unknown"
    def lastToken: String = tokens.lastOption.getOrElse("")
    def date: Option[String] = Some(lastToken).filter(t => t.length == 8 && t.forall(_.isDigit))
  }
}
