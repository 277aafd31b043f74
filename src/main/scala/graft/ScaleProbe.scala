package graft

import java.nio.file.{Files, LinkOption, Path, Paths}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

/** Scale lane over the registered queries: replicate an sf dir k× (re-keyed
  * ids) and time the named `SparkEntry.queries` entries on the replica.
  * Replication is the ADVERSARIAL case for the dedup/similarity family —
  * every document and vector gains k-1 exact duplicates, so every LSH band
  * bucket is populated and candidate fan-out is maximal. A design whose cost
  * explodes here (all-pairs anywhere, unbounded buckets) fails; linear-ish
  * growth in (rows × duplication) is the pass signal.
  *
  * The lane runs the same query functions the oracle checks, so what it
  * measures is what the gate proves. Each query's full result is written to
  * the `noop` sink: `count()` would let Catalyst prune away the columns (and
  * the work behind them) that the query exists to compute.
  *
  * Usage: `sbt "runMain graft.ScaleProbe <k> <sfDir> <query> [query ...]"`;
  * `SPARK_GRAFT_CPUS` sets the local core count (default 32). Prints one
  * line per query: wall seconds and the shuffle bytes its stages wrote.
  */
object ScaleProbe {

  /** Tables that replicate, with the id column each copy re-keys. */
  private val replicated = Map("documents" -> "doc_id", "embeddings" -> "vec_id")

  /** Id offset between consecutive copies; sf ids stay below it. */
  val IdStride = 1000000L

  /** Write a k× replica of the sf dir `sfDir` into `outDir` (created if
    * absent; must not already hold the tables): `documents` as k copies
    * with `doc_id + i·IdStride` and `embeddings` as k copies with
    * `vec_id + i·IdStride` (i in 0 until k, every other column kept, id type
    * unchanged); every other table is linked — or copied where links are
    * unsupported — unchanged.
    */
  def replicate(spark: SparkSession, sfDir: String, k: Int, outDir: String): Unit = {
    require(k >= 1, s"replication factor must be >= 1, got $k")
    val out = Files.createDirectories(Paths.get(outDir))
    val tables = Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(tables.nonEmpty, s"no parquet tables in $sfDir")
    tables.foreach { src =>
      val dest = out.resolve(src.getName)
      require(Files.notExists(dest, LinkOption.NOFOLLOW_LINKS), s"$dest already exists")
      replicated.get(src.getName.stripSuffix(".parquet")) match {
        case Some(idCol) =>
          val base = spark.read.parquet(src.getPath)
          val idType = base.schema(idCol).dataType
          (0 until k).map(i =>
              base.withColumn(idCol, (col(idCol) + lit(i * IdStride)).cast(idType)))
            .reduce(_ unionByName _)
            .write.parquet(dest.toString)
        case None => linkOrCopy(src.toPath.toAbsolutePath, dest)
      }
    }
  }

  private def linkOrCopy(src: Path, dest: Path): Unit =
    try { Files.createSymbolicLink(dest, src); () }
    catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        if (Files.isDirectory(src)) FileUtils.copyDirectory(src.toFile, dest.toFile)
        else FileUtils.copyFile(src.toFile, dest.toFile)
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ScaleProbe <k> <sfDir> <query> [query ...]")
    val k = args(0).toInt
    val sfDir = args(1)
    val names = args.drop(2).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // the replica lives for this JVM only: the tmp-dir lease deletes it at exit
    val outDir = SessionCache.registerTmpIndexDir(
      Files.createTempDirectory("graft_scale_").toString)
    replicate(spark, sfDir, k, outDir)

    // shuffle-byte accounting: seconds alone can hide a quadratic shuffle
    // behind fast local disks — the BYTES written to shuffle are the direct
    // witness of what a real cluster would move over its network. One
    // listener accumulates stage-level shuffle writes; each query reports
    // the delta it caused.
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          shuffleBytes.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })

    // listener events are async (no public bus-drain API): poll the counter
    // until it stabilizes so a query's stages are not billed to the next one
    def settledBytes(): Long = {
      var prev = -1L; var cur = shuffleBytes.get(); var waited = 0
      while (cur != prev && waited < 2000) {
        prev = cur; Thread.sleep(100); waited += 100; cur = shuffleBytes.get()
      }
      cur
    }

    println(s"[scale] ${k}x replica of $sfDir")
    names.foreach { name =>
      val b0 = settledBytes()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, outDir).write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      val mib = (settledBytes() - b0) / 1048576.0
      println(f"[scale] $name%-32s $secs%8.1f s  shuffle $mib%.1f MiB")
    }
    spark.stop()
  }
}
