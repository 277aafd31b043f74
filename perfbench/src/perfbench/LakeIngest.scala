package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.operators.Transforms
import graft.sources.{Catalog, CsvAutoLoader, Ingest, Lake}
import graft.streaming.Streaming

/** The ingest half of [[IngestAndServe]]: a closed loop with one batch in
  * flight, like `Api`'s single background ingest worker. Each batch is one
  * seeded trading day of minute bars for a fixed set of symbols and goes down
  * two paths:
  *  - batch: CSV → bronze (`CsvAutoLoader.loadAndStore`), an Alpha Vantage
  *    payload → bronze (`Ingest.fetchAndStoreStock` with an in-process
  *    fetch), clean → silver, aggregate → gold, `Catalog.register`, then a
  *    read of gold;
  *  - stream: the same bars as one parquet file, drained by
  *    `tickStream → candles → toLake(availableNow)` on a persistent checkpoint.
  * Freshness is the time from a batch landing to its output being readable.
  * Lake outputs are read back through the paths the engine returns, never
  * through re-derived date-stamped names.
  */
final class LakeIngest(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}

  /** Trading days generated in set-up; a run ends early if it uses them all. */
  private val Horizon = 16
  private val PayloadDays = 30
  private val Window = "1 hour"
  private val Watermark = "10 minutes"

  private val tickSchema = StructType(Seq(
    StructField("timestamp", TimestampType), StructField("symbol", StringType),
    StructField("open", DoubleType), StructField("high", DoubleType), StructField("low", DoubleType),
    StructField("close", DoubleType), StructField("volume", LongType)))

  private final class State(val dir: File) {
    val root: String = new File(dir, "lake").getAbsolutePath
    val lake: Lake = Lake(spark, root)
    val catalog: Catalog = Catalog(spark, root)
    @volatile var payload: String = ""
    val ingest = new Ingest(spark, lake, (_, _) => Some(payload))
    val inputs = new File(dir, "inputs")
    val inbox = new File(dir, "inbox")
    val tickDir = new File(dir, "ticks")
    val streamOut: String = new File(dir, "lake/stream_gold").getAbsolutePath
    val ckpt: String = new File(dir, "checkpoint").getAbsolutePath
    val days: IndexedSeq[Seq[Tick]] = (0 until Horizon).map(d => Gen.day(ctx.seed, d))
  }
  private var st: State = _

  /** Set-up creates the lake and generates the run's inputs: one CSV per day
    * and, in one Spark job, one tick parquet file per day.
    */
  override def setup(dir: File): Unit = {
    val s = new State(dir)
    Seq(s.inputs, s.inbox, s.tickDir).foreach(_.mkdirs())
    s.days.zipWithIndex.foreach { case (ticks, d) =>
      Files.writeString(new File(s.inputs, f"day-$d%03d.csv").toPath, Gen.csv(ticks))
    }
    val rows = s.days.zipWithIndex.flatMap { case (ticks, d) =>
      ticks.map(t => Row(java.sql.Timestamp.from(t.ts.toInstant(ZoneOffset.UTC)), t.symbol,
        Gen.dollars(t.open), Gen.dollars(t.high), Gen.dollars(t.low), Gen.dollars(t.close), t.volume, d))
    }
    val schema = tickSchema.add("day", IntegerType)
    val staged = new File(s.inputs, "ticks").getAbsolutePath
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.partitionBy("day").parquet(staged)
    st = s
  }

  private def tickFile(d: Int): Path =
    new File(st.inputs, s"ticks/day=$d").listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no staged tick file for day $d")).toPath

  private def stem(path: Any): String = new File(path.toString).getName.stripSuffix(".parquet")

  private def symbolCandles(sym: String, d: Int): (LocalDate, Candle) =
    Gen.FirstDay.plusDays(d.toLong) -> Gen.candle(st.days(d).filter(_.symbol == sym))

  private final case class BatchResult(goldMs: Double, streamMs: Double, problems: Seq[String],
      microBatches: Int, stateRows: Long, bytesWritten: Long, filesWritten: Int, inputBytes: Long)

  private var watermark: Option[LocalDateTime] = None

  private def runBatch(d: Int, opId: String): BatchResult = tracer.op(opId) {
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    def check(ok: Boolean, what: => String): Unit = if (!ok) problems += s"day $d: $what"
    def count(res: Map[String, Any]): Long = res.get("records_count").map(_.toString.toLong).getOrElse(-1L)
    val before = if (tracer.on) LakeIngest.snapshot(new File(st.root)) else Map.empty[String, (Long, Long)]
    val ticks = st.days(d)
    val sym = Gen.Symbols(d % Gen.Symbols.size)
    val history = (math.max(0, d - PayloadDays + 1) to d).map(symbolCandles(sym, _))
    st.payload = Gen.alphaVantageDaily(sym, history)
    val csv = new File(st.inbox, f"day-$d%03d.csv").toPath
    Files.move(new File(st.inputs, f"day-$d%03d.csv").toPath, csv, StandardCopyOption.ATOMIC_MOVE)
    val inputBytes = Files.size(csv) + st.payload.length

    // batch path
    val landed = System.nanoTime()
    val bronze = tracer.span("ingest.load_and_store")(
      CsvAutoLoader.loadAndStore(spark, st.lake, csv.toString, "stock"))
    check(bronze("status") == "success" && count(bronze) == ticks.size, s"csv load returned $bronze")
    val av = tracer.span("ingest.payload_store")(st.ingest.fetchAndStoreStock(sym))
    check(av("status") == "success" && count(av) == history.size, s"payload store returned $av")
    val silver = tracer.span("transforms.clean_store")(
      Transforms.transformAndStore(st.lake, "bronze", stem(bronze("file_path")), "clean", "silver"))
    check(silver("status") == "success" && count(silver) == ticks.size, s"clean returned $silver")
    val gold = tracer.span("transforms.aggregate_store")(
      Transforms.transformAndStore(st.lake, "silver", stem(silver("file_path")), "aggregate", "gold"))
    check(gold("status") == "success" && count(gold) == 1, s"aggregate returned $gold")
    val goldName = stem(gold("file_path"))
    tracer.span("catalog.register")(st.catalog.register("gold", goldName, st.lake.read("gold", goldName)))
    val goldRows = tracer.span("lake.read_back")(st.lake.read("gold", goldName).collect())
    val goldMs = (System.nanoTime() - landed) / 1e6
    val want = Gen.candle(ticks)
    check(goldRows.length == 1 && LakeIngest.candleOf(goldRows.head) == want &&
      LakeIngest.time(goldRows.head) == Gen.FirstDay.plusDays(d.toLong).atStartOfDay(),
      s"gold ${goldRows.mkString} != $want")

    // stream path
    val tickPath = tickFile(d)
    val tickBytes = Files.size(tickPath)
    Files.move(tickPath, new File(st.tickDir, f"ticks-$d%03d.parquet").toPath, StandardCopyOption.ATOMIC_MOVE)
    val streamLanded = System.nanoTime()
    val q = tracer.span("streaming.drain") {
      val q = Streaming.toLake(
        Streaming.candles(Streaming.tickStream(spark, st.tickDir.getAbsolutePath, tickSchema), Window, Watermark),
        st.streamOut, st.ckpt, availableNow = true)
      tracer.alias(q.runId.toString, opId)
      q.awaitTermination()
      q
    }
    val streamMs = (System.nanoTime() - streamLanded) / 1e6
    val progress = q.recentProgress
    Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .foreach(w => watermark = Some(LocalDateTime.ofInstant(java.time.Instant.parse(w), ZoneOffset.UTC)))
    val stateRows = Option(q.lastProgress).flatMap(_.stateOperators.headOption).map(_.numRowsTotal).getOrElse(0L)

    val (bytes, files) =
      if (tracer.on) LakeIngest.written(before, LakeIngest.snapshot(new File(st.root))) else (0L, 0)
    BatchResult(goldMs, streamMs, problems.toSeq, progress.length, stateRows, bytes, files,
      inputBytes + tickBytes)
  }

  /** Every streamed candle must equal the generator's, once each, and every
    * window the watermark has closed must be present. Returns the days with
    * a wrong or missing window.
    */
  private def checkStream(lastDay: Int): (Set[Int], Seq[String]) = {
    val expected = (0 to lastDay).flatMap { d =>
      st.days(d).groupBy(t => (t.ts.withMinute(0).withSecond(0), t.symbol)).map { case (k, ts) =>
        k -> (d, Gen.candle(ts))
      }
    }.toMap
    val got = spark.read.schema(tickSchema).parquet(st.streamOut).collect().toSeq
      .map(r => (LakeIngest.time(r), r.getAs[String]("symbol")) -> LakeIngest.candleOf(r))
    val bad = scala.collection.mutable.Set[Int]()
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    got.groupBy(_._1).foreach { case (k, vs) =>
      expected.get(k) match {
        case Some((d, c)) if vs.size == 1 && vs.head._2 == c => ()
        case Some((d, c)) => bad += d; problems += s"stream window $k: got ${vs.map(_._2)}, want $c"
        case None => problems += s"stream window $k is not in the input"
      }
    }
    val closed = watermark.getOrElse(LocalDateTime.MIN)
    val have = got.map(_._1).toSet
    expected.foreach { case (k @ (start, _), (d, _)) =>
      if (!start.plusHours(1).isAfter(closed) && !have.contains(k)) {
        bad += d; problems += s"stream window $k closed by the watermark $closed is missing"
      }
    }
    (bad.toSet, problems.toSeq)
  }

  override def warmup(): Unit = {
    val r = runBatch(0, "warmup:0")
    require(r.problems.isEmpty, r.problems.mkString("; "))
  }

  override def measure(seconds: Double): Outcome = {
    val t0 = System.nanoTime()
    val results = scala.collection.mutable.ArrayBuffer[BatchResult]()
    // one operation per batch, failed at most once whatever went wrong
    val failedDays = scala.collection.mutable.Set[Int]()
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    var d = 1
    while (d < Horizon && (d == 1 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      try {
        val r = runBatch(d, s"batch:$d")
        results += r
        if (r.problems.nonEmpty) { failedDays += d; problems ++= r.problems }
      } catch {
        case e: Throwable =>
          failedDays += d
          problems += s"day $d: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      d += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (d == Horizon) System.err.println(s"[perfbench] the ingest loop used all $Horizon generated days")
    val (badDays, streamProblems) = checkStream(d - 1)
    failedDays ++= badDays.filter(_ >= 1)
    problems ++= streamProblems
    val gold = results.map(_.goldMs).toSeq
    val stream = results.map(_.streamMs).toSeq
    val n = results.size.max(1).toDouble
    val layers = if (!tracer.on) Map.empty[String, Double] else {
      def mean(span: String) = Stats.mean(tracer.spansNamed(span, _.startsWith("batch:")).map(_.seconds))
      val work = tracer.sparkWork(_.startsWith("batch:"))
      Layers.spark(work, results.size.max(1)) ++ Map(
        "ingest.load_and_store_s" -> mean("ingest.load_and_store"),
        "ingest.payload_store_s" -> mean("ingest.payload_store"),
        "transforms.clean_store_s" -> mean("transforms.clean_store"),
        "transforms.aggregate_store_s" -> mean("transforms.aggregate_store"),
        "catalog.register_s" -> mean("catalog.register"),
        "lake.read_back_s" -> mean("lake.read_back"),
        "spark.jobs_per_batch" -> work.jobs / n,
        "spark.tasks_per_batch" -> work.tasks / n,
        "streaming.drain_s" -> mean("streaming.drain"),
        "streaming.micro_batches" -> results.map(_.microBatches).sum / n,
        "streaming.state_rows" -> results.map(_.stateRows).sum / n,
        "lake.bytes_written_per_input_byte" ->
          results.map(_.bytesWritten).sum.toDouble / results.map(_.inputBytes).sum.max(1L),
        "lake.files_written_per_batch" -> results.map(_.filesWritten).sum / n,
        "lake.gold_freshness_p50_ms" -> Stats.median(gold),
        "lake.gold_freshness_p90_ms" -> Stats.quantile(gold, 0.9),
        "streaming.freshness_p50_ms" -> Stats.median(stream),
        "lake.batches_per_s" -> results.size / wall)
    }
    Outcome((d - 1).toLong, failedDays.size.toLong, Map("side_mean_ms" -> Stats.mean(gold)),
      layers, problems.toSeq)
  }
}

object LakeIngest {
  def time(r: Row): LocalDateTime =
    LocalDateTime.ofInstant(r.getAs[java.sql.Timestamp]("timestamp").toInstant, ZoneOffset.UTC)

  def candleOf(r: Row): Candle =
    Candle(r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
      r.getAs[Double]("close"), r.getAs[Long]("volume"))

  /** path → (size, mtime) of every file under `dir`. */
  def snapshot(dir: File): Map[String, (Long, Long)] =
    if (!dir.exists()) Map.empty
    else {
      val walk = Files.walk(dir.toPath)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally walk.close()
    }

  /** Bytes and files that are new or changed between two snapshots. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): (Long, Int) = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    (changed.values.map(_._1).sum, changed.size)
  }
}
