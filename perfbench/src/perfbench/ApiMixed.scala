package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.time.{Duration, ZoneOffset}
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, struct, to_json}
import org.apache.spark.sql.types._

import graft.operators.Transforms
import graft.sources.{Api, Ingest, Lake, Serving}

/** The serving half of [[IngestAndServe]]: `nproc - 1` closed-loop HTTP
  * clients (the ingest loop takes the last core) against an in-process
  * [[Api]] over a lake that set-up fills with many small datasets and a few
  * large ones. Clients pick datasets with a Zipf skew and mix reads with
  * `POST /transform` writes of datasets that readers also read. Every
  * response is checked: 2xx, valid JSON, row counts equal to the dataset's.
  */
final class ApiMixed(ctx: Ctx) extends Workload {
  import ApiMixed._
  import ctx.{spark, tracer}

  private val clients = math.max(1, ctx.nproc - 1)

  private val Sources = Seq("feedA", "feedB", "feedC", "feedD")
  private val DaysPerSource = 2
  private val SmallSymbols = Gen.Symbols.take(3)
  private val LargeSymbols = 256
  private val LargeMinutes = 390
  private val TransformSources = Sources.take(2)

  private val schema = StructType(Seq(
    StructField("timestamp", TimestampType), StructField("symbol", StringType),
    StructField("open", DoubleType), StructField("high", DoubleType), StructField("low", DoubleType),
    StructField("close", DoubleType), StructField("volume", LongType)))

  private final class State(val dir: File) {
    val root: String = new File(dir, "lake").getAbsolutePath
    val lake: Lake = Lake(spark, root)
    /** Readable datasets, hottest first: (layer, name, rows). */
    var readable: IndexedSeq[(String, String, Long)] = IndexedSeq.empty
    var latestRows: Map[String, Long] = Map.empty
    var transformRows: Map[String, Long] = Map.empty
    var api: Api = _
  }
  private var st: State = _

  private def write(lake: Lake, name: String, ticks: Seq[Tick]): Long = {
    val rows = ticks.map(t => Row(java.sql.Timestamp.from(t.ts.toInstant(ZoneOffset.UTC)), t.symbol,
      Gen.dollars(t.open), Gen.dollars(t.high), Gen.dollars(t.low), Gen.dollars(t.close), t.volume))
    lake.write(spark.createDataFrame(rows.asJava, schema), "bronze", name)
    rows.size.toLong
  }

  /** A large dataset: one session of minute bars for many symbols, computed
    * by Spark from row ids (seeded hashes) instead of being built as local rows.
    */
  private def largeFrame(seed: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val id = col("id")
    val sym = id % LargeSymbols
    val open = lit(50.0) + pmod(xxhash64(id, lit(seed)), lit(50000L)) / 100.0
    val close = lit(50.0) + pmod(xxhash64(id, lit(seed + 1)), lit(50000L)) / 100.0
    spark.range(LargeSymbols.toLong * LargeMinutes).select(
      timestamp_seconds(lit(Gen.FirstDay.atTime(9, 30).toEpochSecond(ZoneOffset.UTC)) +
        floor(id / LargeSymbols) * 60 + sym).as("timestamp"),
      format_string("S%03d", sym).as("symbol"), open.as("open"),
      greatest(open, close).as("high"), least(open, close).as("low"), close.as("close"),
      (lit(100L) + pmod(xxhash64(id, lit(seed + 2)), lit(10000L))).as("volume"))
  }

  /** Set-up lands every dataset through `Lake.write` and produces the silver
    * datasets through `Transforms.transformAndStore`.
    */
  override def setup(dir: File): Unit = {
    val s = new State(dir)
    // datasets land concurrently, one writer per core, as a bulk load would
    val smallNames = for {
      (src, si) <- Sources.zipWithIndex
      d <- 0 until DaysPerSource
    } yield (src, si, s"${src}_stock_${Gen.FirstDay.plusDays(d.toLong).toString.replace("-", "")}", d)
    val landed = Par.map(ctx.nproc)(smallNames.map { case (_, si, name, d) =>
      () => ("bronze", name, write(s.lake, name, Gen.day(ctx.seed + 17L * si, d, SmallSymbols)))
    } ++ Seq("bulkA", "bulkB").zipWithIndex.map { case (src, i) =>
      () => {
        val name = s"${src}_stock_20240101"
        s.lake.write(largeFrame(ctx.seed * 31L + i), "bronze", name)
        ("bronze", name, LargeSymbols.toLong * LargeMinutes)
      }
    })
    val (small, large) = landed.splitAt(smallNames.size)
    val latest = small.groupBy(_._2.split('_').head).map { case (src, ds) => src -> ds.maxBy(_._2) }
    val silver = Par.map(ctx.nproc)(TransformSources.map { src =>
      () => {
        val (_, name, rows) = latest(src)
        val res = Transforms.transformAndStore(s.lake, "bronze", name, "clean", "silver")
        require(res("status") == "success", s"set-up transform of $name returned $res")
        ("silver", new File(res("file_path").toString).getName.stripSuffix(".parquet"), rows)
      }
    })
    // popularity order is fixed (the seed only drives the request stream):
    // the large datasets sit at ranks 4 and 9
    val mixed = new scala.util.Random(7).shuffle(silver ++ small).toIndexedSeq
    s.readable = mixed.take(3) ++ large.take(1) ++ mixed.slice(3, 7) ++ large.drop(1) ++ mixed.drop(7)
    s.latestRows = latest.map { case (src, (_, _, rows)) => src -> rows }
    s.transformRows = TransformSources.map(src => latest(src)._2 -> latest(src)._3).toMap
    // the in-process replay of POST /transform writes into a shadow lake that
    // shares bronze, so replays never overwrite what HTTP readers read
    val shadow = new File(dir, "shadow")
    shadow.mkdirs()
    Files.createSymbolicLink(new File(shadow, "bronze").toPath, new File(s.root, "bronze").toPath)
    st = s
  }

  private lazy val shadowLake = Lake(spark, new File(st.dir, "shadow").getAbsolutePath)
  private lazy val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  private def send(req: Req): (Int, Array[Byte]) = {
    val uri = URI.create(s"http://127.0.0.1:${st.api.port}${req.path}")
    val b = HttpRequest.newBuilder(uri).timeout(Duration.ofSeconds(120))
    val r = req.body match {
      case Some(json) => b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(json)).build()
      case None => b.GET().build()
    }
    val resp = http.send(r, HttpResponse.BodyHandlers.ofByteArray())
    (resp.statusCode(), resp.body())
  }

  /** Check one response; returns a problem or None. */
  private def check(req: Req, code: Int, body: Array[Byte]): Option[String] = {
    if (code / 100 != 2) return Some(s"${req.path}: HTTP $code ${new String(body.take(200), "UTF-8")}")
    try req.kind match {
      case "data" | "latest" =>
        val n = countArray(body)
        if (n != req.rows) Some(s"${req.path}: $n rows, want ${req.rows}") else None
      case "info" =>
        val m = mapper.readTree(body)
        if (m.path("num_rows").asLong(-1) != req.rows || m.path("name").asText != req.name)
          Some(s"${req.path}: info ${new String(body.take(200), "UTF-8")}, want ${req.rows} rows") else None
      case "list" =>
        val names = mapper.readTree(body).elements().asScala.map(_.asText).toSet
        val want = st.readable.filter(_._1 == req.layer).map(_._2).toSet
        if (!want.subsetOf(names)) Some(s"${req.path}: missing ${want -- names}") else None
      case "transform" =>
        val m = mapper.readTree(body)
        if (m.path("status").asText != "success" || m.path("records_count").asLong(-1) != req.rows)
          Some(s"${req.path}: ${new String(body.take(300), "UTF-8")}") else None
    } catch { case e: Exception => Some(s"${req.path}: unparseable response: ${e.getMessage}") }
  }

  /** The request stream, shared by all clients of a run. Request kinds come
    * in shuffled blocks of 20 with the exact mix, dataset ranks from
    * stratified draws over the Zipf CDF, so every seed and run length sees
    * close to the same mix and skew.
    */
  private def requests(stream: Int): Iterator[Req] = {
    val r = new java.util.SplittableRandom(ctx.seed * 7919L + stream)
    val weights = st.readable.indices.map(i => 1.0 / (i + 1))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    def stratified(block: Int): Iterator[Double] = Iterator.continually {
      val us = (0 until block).map(j => (j + r.nextDouble()) / block)
      shuffle(us, r)
    }.flatten
    val ranks = stratified(20).map(u => cdf.indexWhere(_ >= u).max(0))
    val sources = stratified(Sources.size).map(u => Sources(math.min((u * Sources.size).toInt, Sources.size - 1)))
    val targets = stratified(TransformSources.size).map(u =>
      st.transformRows.keys.toSeq.sorted.apply(math.min((u * TransformSources.size).toInt, TransformSources.size - 1)))
    var listLayer = 0
    Iterator.continually(shuffle(Mix, r)).flatten.map {
      case "data" =>
        val (layer, name, rows) = st.readable(ranks.next())
        Req("data", s"/data/$layer/$name", None, layer, name, rows)
      case "latest" =>
        val src = sources.next()
        Req("latest", s"/data/latest/stock/$src", None, "bronze", src, st.latestRows(src))
      case "info" =>
        val (layer, name, rows) = st.readable(ranks.next())
        Req("info", s"/datasets/$name?layer=$layer", None, layer, name, rows)
      case "list" =>
        listLayer = 1 - listLayer
        val layer = if (listLayer == 0) "bronze" else "silver"
        Req("list", s"/datasets?layer=$layer", None, layer, "", 0)
      case _ =>
        val name = targets.next()
        Req("transform", "/transform", Some(
          s"""{"source_layer": "bronze", "source_path": "$name", "transformation_type": "clean", "destination_layer": "silver"}"""),
          "bronze", name, st.transformRows(name))
    }
  }

  // in-process replay of a request through the calls the route makes
  private val replayLock = new ReentrantReadWriteLock()
  private val transformReplay = new Object

  private def render(df: org.apache.spark.sql.DataFrame): Int = {
    if (df.schema.isEmpty || df.isEmpty) return 0
    val v = Serving.jsonRecordsView(df)
    v.select(to_json(struct(v.columns.map(col).toIndexedSeq: _*), Map("ignoreNullFields" -> "false")))
      .collect().map(_.getString(0)).mkString("[", ",", "]").getBytes("UTF-8").length
  }

  private def replay(req: Req, n: Long): Unit = tracer.op(s"replay:${req.kind}:$n") {
    val lake = st.lake
    req.kind match {
      case "data" =>
        val df = tracer.span("lake.read")(lake.read(req.layer, req.name))
        tracer.span("serving.render")(render(df))
      case "latest" =>
        val names = tracer.span("lake.list")(lake.list(req.layer))
          .filter(n => n.contains(req.name) && n.contains("stock"))
        val df = tracer.span("lake.read")(lake.read(req.layer, names.maxBy(_.split('_').last)))
        tracer.span("serving.render")(render(df))
      case "info" => tracer.span("lake.info")(lake.info(req.layer, req.name))
      case "list" => tracer.span("lake.list")(lake.list(req.layer))
      case _ => transformReplay.synchronized(
        Transforms.transformAndStore(shadowLake, "bronze", req.name, "clean", "silver"))
    }
  }

  override def warmup(): Unit = {
    st.api = new Api(spark, st.lake, new Ingest(spark, st.lake, (_, _) => None)).start()
    // one block of the mix, every request kind included
    requests(-1).take(Mix.size).foreach { req =>
      val (code, body) = send(req)
      check(req, code, body).foreach(p => sys.error(s"warm-up request failed: $p"))
    }
  }

  override def measure(seconds: Double): Outcome = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val counter = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val stream = requests(0)
    val threads = (0 until clients).map { c =>
      val th = new Thread(() => {
        while (System.nanoTime() < deadline) {
          val req = stream.synchronized(stream.next())
          val lock = if (req.kind == "transform") replayLock.writeLock() else null
          if (tracer.on && lock != null) lock.lock()
          val s0 = System.nanoTime()
          val done = try {
            val (code, body) = send(req)
            val ms = (System.nanoTime() - s0) / 1e6
            Done(req.kind, ms, check(req, code, body), 0.0, body.length)
          } catch { case e: Exception =>
            Done(req.kind, (System.nanoTime() - s0) / 1e6, Some(s"${req.path}: ${e.getMessage}"), 0.0, 0)
          } finally if (tracer.on && lock != null) lock.unlock()
          val replayed = if (!tracer.on) done else {
            val rl = replayLock.readLock()
            rl.lock()
            try {
              val r0 = System.nanoTime()
              replay(req, counter.incrementAndGet())
              done.copy(replayMs = (System.nanoTime() - r0) / 1e6)
            } catch { case e: Exception => done.copy(problem = Some(s"replay ${req.path}: ${e.getMessage}")) }
            finally rl.unlock()
          }
          results.add(replayed)
        }
      }, s"perfbench-client-$c")
      th.start()
      th
    }
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    val all = results.asScala.toSeq
    val reads = all.filter(_.kind != "transform").map(_.ms)
    val writes = all.filter(_.kind == "transform").map(_.ms)
    val layers = if (!tracer.on) Map.empty[String, Double] else {
      def mean(span: String) = Stats.mean(tracer.spansNamed(span, _.startsWith("replay:")).map(_.seconds))
      def jobsPer(kind: String) =
        tracer.sparkWork(_.startsWith(s"replay:$kind:")).jobs.toDouble / all.count(_.kind == kind).max(1)
      Layers.spark(tracer.sparkWork(_.startsWith("replay:")), 1) ++ Map(
        "lake.read_s" -> mean("lake.read"), "lake.info_s" -> mean("lake.info"),
        "lake.list_s" -> mean("lake.list"), "serving.render_s" -> mean("serving.render"),
        "serving.response_bytes" -> Stats.mean(all.filter(d => d.kind == "data" || d.kind == "latest").map(_.bytes.toDouble)),
        "spark.jobs_per_request.data" -> jobsPer("data"), "spark.jobs_per_request.info" -> jobsPer("info"),
        "spark.jobs_per_request.latest" -> jobsPer("latest"),
        "spark.jobs_per_request.transform" -> jobsPer("transform"),
        "api.overhead_ms" -> Stats.mean(all.map(d => d.ms - d.replayMs)),
        "api.read_p50_ms" -> Stats.median(reads), "api.read_p90_ms" -> Stats.quantile(reads, 0.9),
        "api.read_p99_ms" -> Stats.quantile(reads, 0.99), "api.write_p50_ms" -> Stats.median(writes))
    }
    // each request is one operation and carries at most one problem
    val problems = all.flatMap(_.problem)
    Outcome(all.size.toLong, problems.size.toLong,
      Map("op_mean_ms" -> Stats.mean(reads), "ops_per_s" -> all.size / wall), layers, problems)
  }

  override def close(): Unit = if (st != null && st.api != null) { st.api.stop(); st.api = null }
}

object ApiMixed {
  /** One block of the request mix: 55% data, 15% latest, 15% info, 5% list,
    * 10% transform (twice the write share of a read-mostly API, so a 30 s run
    * still sees several writes).
    */
  val Mix: Seq[String] = Seq.fill(11)("data") ++ Seq.fill(3)("latest") ++ Seq.fill(3)("info") ++
    Seq("list") ++ Seq.fill(2)("transform")

  final case class Req(kind: String, path: String, body: Option[String], layer: String, name: String, rows: Long)
  final case class Done(kind: String, ms: Double, problem: Option[String], replayMs: Double, bytes: Int)

  private val mapper = new ObjectMapper()
  private val factory = new JsonFactory()

  def shuffle[T](xs: Seq[T], r: java.util.SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  /** Elements of a top-level JSON array, streamed (validates the JSON). */
  def countArray(body: Array[Byte]): Long = {
    val p = factory.createParser(body)
    try {
      require(p.nextToken() == JsonToken.START_ARRAY, "not a JSON array")
      var n = 0L
      var t = p.nextToken()
      while (t != JsonToken.END_ARRAY) {
        p.skipChildren()
        n += 1
        t = p.nextToken()
      }
      require(p.nextToken() == null, "trailing content")
      n
    } finally p.close()
  }
}
