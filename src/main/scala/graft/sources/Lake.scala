package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.time.LocalDate
import java.time.format.DateTimeFormatter

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

  /** `generate_filename` (reference helpers.py:23-28). */
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
        val footer = ParquetFileReader.readFooter(spark.sessionState.newHadoopConf(), st, SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(p.toString)
      case None => spark.read.parquet(p.toString)
    }
  }

  /** S2 Parquet sink (reference helpers.py:31-46): one dataset = one parquet
    * directory under the layer. `coalesce(1)` honors the reference's
    * one-file-per-dataset contract — correct at serving scale, deliberately NOT
    * used by [[writePartitioned]].
    */
  def write(df: DataFrame, layer: String, dataset: String): String = {
    val p = new Path(layerDir(layer), withExt(dataset)).toString
    df.coalesce(1).write.mode("overwrite").parquet(p)
    p
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
    else Some(read(layer, names.maxBy(_.split('_').last)))
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
    * The row count and the min/max come from one aggregate over a pruned
    * single-column scan — the reference reads the count and the date column
    * separately by hand (helpers.py:102-106, 131).
    */
  def info(layer: String, dataset: String): Map[String, Any] = {
    val df = read(layer, dataset)
    if (df.schema.isEmpty) return Map("name" -> dataset, "exists" -> false)
    val nameParts = dataset.stripSuffix(".parquet").split('_')
    val dateCol = df.columns.find(c => Seq("timestamp", "date", "time", "datetime").contains(c.toLowerCase))
    val r = df.agg(count(lit(1)), dateCol.toSeq.flatMap(dc => Seq(min(col(dc)), max(col(dc)))): _*).head()
    val base = Map[String, Any](
      "name" -> dataset, "exists" -> true,
      "source" -> nameParts.headOption.getOrElse("unknown"),
      "data_type" -> (if (nameParts.length > 1) nameParts(1) else "unknown"),
      "num_rows" -> r.getLong(0), "columns" -> df.columns.toSeq)
    val dates = if (dateCol.isEmpty) Map.empty[String, Any]
      else Map("start_date" -> r.get(1), "end_date" -> r.get(2))
    val symbols = if (df.columns.contains("symbol")) {
      val syms = df.select("symbol").distinct().orderBy("symbol").limit(51)
        .collect().map(_.getString(0)).toSeq
      Map("symbols" -> (if (syms.length > 50) syms.take(50) :+ "..." else syms))
    } else Map.empty[String, Any]
    base ++ dates ++ symbols
  }

  /** Write-audit-publish (the Iceberg WAP pattern scaled to this lake): the
    * frame lands in a STAGING directory, the audit checks run against the
    * staged files (validating exactly the bytes readers would see, not the
    * upstream plan), and only an all-green report publishes the staging dir
    * into the dataset path via an atomic rename — a failed audit leaves the
    * previous published version untouched and removes the staging dir.
    *
    * Returns (report, published): the per-check report frame plus whether
    * the swap happened. At scale the audit costs one aggregate pass over
    * the staged files (see [[graft.operators.Checks.validate]]) — the
    * insurance every promotion pipeline buys before making bad data
    * readable.
    */
  def writeAudited(df: org.apache.spark.sql.DataFrame, layer: String, dataset: String,
      checks: Seq[graft.operators.Checks.Check]): (DataFrame, Boolean) = {
    val dest = new Path(layerDir(layer), withExt(dataset))
    val staging = new Path(layerDir(layer),
      s".staging_${withExt(dataset)}_p${ProcessHandle.current().pid()}")
    df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val staged = open(staging)
    // eager materialization: the report is #checks rows; localCheckpoint
    // avoids both a cache-lifecycle leak and a re-scan when the caller
    // consumes the report after the staging dir is gone
    val report = graft.operators.Checks.validate(staged, checks).localCheckpoint(true)
    val allPass = report.filter(!col("passed")).isEmpty
    if (allPass) {
      if (fs.exists(dest)) fs.delete(dest, true)
      fs.rename(staging, dest)
    } else {
      fs.delete(staging, true)
    }
    (report, allPass)
  }

  private def withExt(dataset: String): String =
    if (dataset.endsWith(".parquet")) dataset else s"$dataset.parquet"
}
