package graft

import org.apache.spark.sql.functions._
import graft.operators.Transforms
import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tickDf = Seq(
    ("2024-01-01 09:00:00", "AAPL", 10.0, 11.0, 9.0, 10.5, 100L),
    ("2024-01-01 16:00:00", "AAPL", 10.5, 12.0, 10.0, 11.5, 150L),
    ("2024-01-02 09:00:00", "AAPL", 11.5, 13.0, 11.0, 12.5, 120L),
    ("2024-01-01 09:00:00", "MSFT", 20.0, 21.0, 19.0, 20.5, 300L)
  ).toDF("timestamp", "symbol", "open", "high", "low", "close", "volume")
    .withColumn("timestamp", col("timestamp").cast("timestamp"))

  test("streaming candles equal batch per-symbol aggregation (parity, Trigger.AvailableNow)") {
    val dir = java.nio.file.Files.createTempDirectory("ticks").toString
    tickDf.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(tickDf.schema).parquet(dir)
    val streamed = Streaming.runToMemory(spark, Streaming.candles(stream), "parity_candles")
      .orderBy("timestamp", "symbol")

    val batch = Transforms.aggregate(tickDf, "D", bySymbol = true)
      .orderBy("timestamp", "symbol")

    val s = rows(streamed).map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
    val b = rows(batch).map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
    s shouldBe b
  }

  test("dedupStream drops repeated content keys within the watermark (ingest dedup)") {
    val docs = Seq(
      ("2024-01-01 09:00:00", 1L, "alpha beta gamma"),
      ("2024-01-01 09:05:00", 2L, "alpha beta gamma"), // dup content, within delay
      ("2024-01-01 09:10:00", 3L, "totally different"),
      ("2024-01-01 09:12:00", 4L, "alpha beta gamma")  // another dup
    ).toDF("ts", "doc_id", "text").withColumn("ts", col("ts").cast("timestamp"))
    val dir = java.nio.file.Files.createTempDirectory("docs").toString
    docs.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(docs.schema).parquet(dir)
      .withColumn("__h", xxhash64(col("text")))
    val out = Streaming.runToMemory(spark,
      Streaming.dedupStream(stream, Seq("__h"), "ts", "1 hour"),
      "dedup_stream", org.apache.spark.sql.streaming.OutputMode.Append())
    // one row per distinct content
    out.count() shouldBe 2
    rows(out.select("text")).map(_.getString(0)).toSet shouldBe
      Set("alpha beta gamma", "totally different")
  }

  test("dedupStream matches batch DISTINCT across MULTIPLE microbatches when the delay covers the span") {
    // q_stream_dedup's oracle parity claim (SparkEntry): batch-DISTINCT
    // equivalence must NOT depend on the source draining in one microbatch.
    // Force a multi-batch drain (maxFilesPerTrigger=1, one file per key
    // epoch) with duplicate keys arriving HOURS apart in different batches;
    // a span-covering delay must still dedup them, a short one would re-emit.
    val schema = Seq(("2024-01-01 09:00:00", 1L)).toDF("ts", "k")
      .withColumn("ts", col("ts").cast("timestamp")).schema
    val dir = java.nio.file.Files.createTempDirectory("multibatch").toString
    Seq(("2024-01-01 09:00:00", 1L), ("2024-01-01 09:30:00", 2L))
      .toDF("ts", "k").withColumn("ts", col("ts").cast("timestamp"))
      .coalesce(1).write.parquet(s"$dir/f1")
    Seq(("2024-01-01 15:00:00", 1L), ("2024-01-01 16:00:00", 3L)) // dup of k=1, 6h later
      .toDF("ts", "k").withColumn("ts", col("ts").cast("timestamp"))
      .coalesce(1).write.parquet(s"$dir/f2")

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/f*/")
    val out = Streaming.runToMemory(spark,
      Streaming.dedupStream(stream, Seq("k"), "ts", delay = "10 days").select("k"),
      "dedup_multibatch", org.apache.spark.sql.streaming.OutputMode.Append())
    rows(out.select("k")).map(_.getLong(0)).sorted shouldBe Seq(1L, 2L, 3L)
  }

  test("funnelStageStream folds the first-touch chain across MULTIPLE microbatches") {
    // user 1 views in batch 1, clicks + purchases in batch 2 (monotone
    // arrival) -> stage 3; user 2's click PRECEDES their first view in event
    // time -> the strictly-after chain must reject it (stage 1); user 3
    // clicks without ever viewing -> stage 0.
    val schema = Seq(("2024-01-01 09:00:00", 1L, "view")).toDF("ts", "user_id", "event_type")
      .withColumn("ts", col("ts").cast("timestamp")).schema
    val dir = java.nio.file.Files.createTempDirectory("funnelbatch").toString
    Seq(("2024-01-01 09:00:00", 1L, "view"),
        ("2024-01-01 08:00:00", 2L, "click"), ("2024-01-01 09:00:00", 2L, "view"))
      .toDF("ts", "user_id", "event_type")
      .withColumn("ts", col("ts").cast("timestamp")).coalesce(1).write.parquet(s"$dir/f1")
    Seq(("2024-01-01 10:00:00", 1L, "click"), ("2024-01-01 11:00:00", 1L, "purchase"),
        ("2024-01-01 12:00:00", 3L, "click"))
      .toDF("ts", "user_id", "event_type")
      .withColumn("ts", col("ts").cast("timestamp")).coalesce(1).write.parquet(s"$dir/f2")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/f*/")
    val out = Streaming.runToMemory(spark,
      Streaming.funnelStageStream(stream, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase")),
      "funnel_multibatch", org.apache.spark.sql.streaming.OutputMode.Update())
    // update mode re-emits a key per batch: keep the LAST stage per user
    val last = rows(out).map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).max }
    last shouldBe Map(1L -> 3L, 2L -> 1L, 3L -> 0L)
  }

  test("q_stream_funnel gate rollup is drain-shape-independent: forced two-batch drain " +
       "produces the same step counts as the single-batch drain") {
    // r11 verdict ask #5: the gate's max(stage)-per-user reduction claims
    // Update-mode re-emission across batches cannot change the rollup —
    // prove it by draining the SAME events once as one file and once split
    // across two files (maxFilesPerTrigger=1), with users straddling the
    // split so re-emission genuinely occurs.
    import org.apache.spark.sql.functions.{array, explode, lit, struct, sum, when, max => smax}
    val rowsIn = Seq(
      ("2024-01-01 09:00:00", 1L, "view"), ("2024-01-01 10:00:00", 1L, "click"),
      ("2024-01-01 09:10:00", 2L, "view"),
      ("2024-01-01 11:00:00", 1L, "purchase"), // user 1 advances in batch 2
      ("2024-01-01 12:00:00", 2L, "click"), ("2024-01-01 13:00:00", 3L, "view"))
    val df = rowsIn.toDF("ts", "user_id", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    val one = java.nio.file.Files.createTempDirectory("funnel1b").toString
    val two = java.nio.file.Files.createTempDirectory("funnel2b").toString
    df.coalesce(1).write.parquet(s"$one/f1")
    df.limit(3).coalesce(1).write.parquet(s"$two/f1")
    df.exceptAll(df.limit(3)).coalesce(1).write.parquet(s"$two/f2")
    def stepCounts(dir: String, name: String): Seq[(Long, Long)] = {
      val stream = spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/f*/")
      val staged = Streaming.runToMemory(spark,
        Streaming.funnelStageStream(stream, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase")),
        name, org.apache.spark.sql.streaming.OutputMode.Update())
      // the GATE's exact reduction (SparkEntry q_stream_funnel)
      rows(staged.groupBy(col("user_id")).agg(smax(col("stage")).as("stage"))
        .agg(
          sum(when(col("stage") >= 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("c2"),
          sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("c3"))
        .select(explode(array(
          struct(lit(1L).as("step"), col("c1").as("n_users")),
          struct(lit(2L).as("step"), col("c2").as("n_users")),
          struct(lit(3L).as("step"), col("c3").as("n_users")))).as("r"))
        .select(col("r.step"), col("r.n_users")).orderBy("step"))
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val single = stepCounts(one, "funnel_gate_1b")
    val split = stepCounts(two, "funnel_gate_2b")
    split shouldBe single
    single shouldBe Seq((1L, 3L), (2L, 2L), (3L, 1L))
  }

  test("streaming KMV sketch merges across microbatches to the exact batch sketch") {
    // the Aggregator's merge() runs through the state store between batches;
    // the final estimate must be bit-identical to the one-shot batch sketch
    import org.apache.spark.sql.functions.udaf
    val k = 8
    val dir = java.nio.file.Files.createTempDirectory("kmvbatch").toString
    val a = (1L to 40L).map(i => ("g", i)).toDF("g", "v")
    val b = (30L to 80L).map(i => ("g", i)).toDF("g", "v") // overlap: dedup inside sketch
    a.coalesce(1).write.parquet(s"$dir/f1")
    b.coalesce(1).write.parquet(s"$dir/f2")
    val bottomK = udaf(new graft.operators.Sketches.BottomKAgg(k),
      org.apache.spark.sql.Encoders.scalaLong)
    def est(df: org.apache.spark.sql.DataFrame) = df
      .select(col("g"), graft.operators.Sketches.h60(col("v")).as("h"))
      .groupBy("g").agg(bottomK(col("h")).as("sk"))
      .select(col("g"), col("sk"))
    val stream = spark.readStream.schema(a.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/f*/")
    val streamed = rows(Streaming.runToMemory(spark, est(stream), "kmv_multibatch"))
      .map(r => (r.getString(0), r.getSeq[Long](1))).toMap
    val batch = rows(est(a.unionByName(b))).map(r => (r.getString(0), r.getSeq[Long](1))).toMap
    streamed shouldBe batch
  }

  test("payload stream decodes with the batch parser operators (bus-shaped source)") {
    import graft.sources.JsonPayloads
    val payloads = Seq(("AAPL", Fixtures.yahooChart)).toDF("symbol", "payload")
    val dir = java.nio.file.Files.createTempDirectory("payloads").toString
    payloads.write.mode("overwrite").parquet(dir)

    val stream = spark.readStream.schema(payloads.schema).parquet(dir)
    val decoded = Streaming.runToMemory(spark,
      JsonPayloads.decodeYahooChart(stream, "payload", col("symbol")),
      "decoded_payloads", org.apache.spark.sql.streaming.OutputMode.Append())
      .orderBy("timestamp")
    val batch = JsonPayloads.parseYahooChart(spark, Seq(Fixtures.yahooChart), "AAPL")
      .orderBy("timestamp")
    rows(decoded).map(_.toString) shouldBe rows(batch).map(_.toString)
  }

  test("streaming candle values: open=earliest tick, close=latest, volume summed") {
    val dir = java.nio.file.Files.createTempDirectory("ticks2").toString
    tickDf.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(tickDf.schema).parquet(dir)
    val out = Streaming.runToMemory(spark, Streaming.candles(stream), "candle_vals")
    val aapl1 = rows(out.filter(col("symbol") === "AAPL" &&
      col("timestamp") === tsLit("2024-01-01"))).head
    aapl1.getAs[Double]("open") shouldBe 10.0
    aapl1.getAs[Double]("close") shouldBe 11.5
    aapl1.getAs[Double]("high") shouldBe 12.0
    aapl1.getAs[Double]("low") shouldBe 9.0
    aapl1.getAs[Long]("volume") shouldBe 250L
  }

  test("sessionizeStream (flatMapGroupsWithState) matches batch sessionization") {
    import graft.operators.Sessionize
    val events = Seq(
      (1L, "2024-01-01 09:00:00", 2.0),
      (1L, "2024-01-01 09:30:00", 3.0), // same session (gap 1h)
      (1L, "2024-01-01 11:00:00", 5.0), // new session (90 min idle)
      (2L, "2024-01-01 09:15:00", 7.0)
    ).toDF("user_id", "ts", "value").withColumn("ts", col("ts").cast("timestamp"))
    val dir = java.nio.file.Files.createTempDirectory("sess").toString
    events.coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(1200) // distinct mtime: the sentinel file must form a LATER batch
    // sentinel event for an unrelated key, far in the future: advances the
    // watermark past every real session's close horizon so the event-time
    // timeouts fire and the open sessions are emitted
    Seq((99L, "2024-01-03 00:00:00", 0.0)).toDF("user_id", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .coalesce(1).write.mode("append").parquet(dir)

    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val out = Streaming.runToMemory(spark,
      Streaming.sessionizeStream(stream, "user_id", "ts", "value",
        gap = "1 hour", watermark = "1 second").toDF(),
      "stream_sessions", org.apache.spark.sql.streaming.OutputMode.Append())
      .filter(col("user_id") < 99) // sentinel's own session never closes
      .orderBy("user_id", "session_start")

    val batch = Sessionize.sessions(events, Seq("user_id"), "ts", "INTERVAL 1 HOUR",
      valueCol = Some("value"))
      .select("user_id", "session_start", "session_end", "n_events", "session_value")
      .orderBy("user_id", "session_start")

    val s = rows(out.select("user_id", "session_start", "session_end", "n_events", "session_value"))
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getDouble(4)))
    val b = rows(batch).map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getDouble(4)))
    s shouldBe b
    s.size shouldBe 3
  }

  test("sessionizeStream cross-batch lateness: in-gap event lowers session_start, older event forms its own session") {
    val dir = java.nio.file.Files.createTempDirectory("sesslate").toString
    Seq((1L, "2024-01-01 10:00:00", 1.0)).toDF("user_id", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(1200)
    // batch 2: late-but-above-watermark events — 09:45 merges into the open
    // [10:00] session and lowers its start; 09:05+09:10 are older than
    // start - gap, sessionize among themselves into ONE late run, and emit
    // closed — plus the watermark-advancing sentinel
    Seq((1L, "2024-01-01 09:45:00", 2.0), (1L, "2024-01-01 09:05:00", 4.0),
      (1L, "2024-01-01 09:10:00", 6.0),
      (99L, "2024-01-03 00:00:00", 0.0)).toDF("user_id", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
      .coalesce(1).write.mode("append").parquet(dir)

    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val out = Streaming.runToMemory(spark,
      Streaming.sessionizeStream(stream, "user_id", "ts", "value",
        gap = "30 minutes", watermark = "1 hour").toDF(),
      "stream_sessions_late", org.apache.spark.sql.streaming.OutputMode.Append())
      .filter(col("user_id") < 99)
      .orderBy("session_start")
    val got = rows(out.select("session_start", "session_end", "n_events", "session_value"))
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    got shouldBe Seq(
      (tsLit("2024-01-01 09:05:00"), tsLit("2024-01-01 09:10:00"), 2L, 10.0),
      (tsLit("2024-01-01 09:45:00"), tsLit("2024-01-01 10:00:00"), 2L, 3.0))
  }

  test("intervalJoin (stream-stream) matches the batch range join") {
    val purchases = Seq(
      (1L, "2024-01-01 10:00:00", 100L, 9.0),
      (1L, "2024-01-01 13:00:00", 101L, 7.0),
      (2L, "2024-01-01 10:30:00", 102L, 5.0)
    ).toDF("user_id", "p_ts", "p_id", "purchase_value")
      .withColumn("p_ts", col("p_ts").cast("timestamp"))
    val clicks = Seq(
      (1L, "2024-01-01 09:30:00", 200L, 1.0), // within 1h of p 100
      (1L, "2024-01-01 09:59:00", 201L, 2.0), // within 1h of p 100
      (1L, "2024-01-01 12:30:00", 202L, 3.0), // within 1h of p 101
      (2L, "2024-01-01 08:00:00", 203L, 4.0)  // too old for p 102
    ).toDF("c_user", "c_ts", "c_id", "click_value")
      .withColumn("c_ts", col("c_ts").cast("timestamp"))
    val pd = java.nio.file.Files.createTempDirectory("pj").toString
    val cd = java.nio.file.Files.createTempDirectory("cj").toString
    purchases.write.mode("overwrite").parquet(pd)
    clicks.write.mode("overwrite").parquet(cd)

    val cond = "user_id = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"
    val streamed = Streaming.runToMemory(spark,
      Streaming.intervalJoin(
        spark.readStream.schema(purchases.schema).parquet(pd),
        spark.readStream.schema(clicks.schema).parquet(cd),
        "p_ts", "c_ts", cond),
      "interval_join", org.apache.spark.sql.streaming.OutputMode.Append())
      .select("p_id", "c_id").orderBy("p_id", "c_id")
    val batch = purchases.join(clicks, expr(cond))
      .select("p_id", "c_id").orderBy("p_id", "c_id")
    rows(streamed).map(r => (r.getLong(0), r.getLong(1))) shouldBe
      rows(batch).map(r => (r.getLong(0), r.getLong(1)))
    streamed.count() shouldBe 3
  }

  test("incrementalDedupApply across MULTIPLE microbatches: per-batch index update — " +
       "a content seen in batch 1 is dropped in batch 2; landed contents never emit") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_incdedup_spec_p${ProcessHandle.current().pid()}")
    // batch 1: contents A (new), B (already landed); batch 2: A again
    // (cross-batch dup), C (new) — maxFilesPerTrigger=1 forces two batches
    val b1 = Seq((10L, "content A"), (11L, "content B")).toDF("doc_id", "text")
    val b2 = Seq((12L, "content A"), (13L, "content C")).toDF("doc_id", "text")
    Streaming.landOrdered(dir, Seq(b1, b2))
    val landed = graft.operators.Dedup.contentIndex(
      Seq((1L, "content B")).toDF("doc_id", "text"), "text")
    val out = Streaming.incrementalDedupApply(spark, dir.toString, "*.parquet",
      lit(true), landed, "text")
    import org.apache.spark.sql.functions.{hex, lower, md5}
    val got = rows(out.select(lower(hex(col("h"))).as("k")).orderBy("k"))
      .map(_.getString(0))
    val expect = rows(Seq("content A", "content C").toDF("t")
      .select(md5(col("t")).as("k")).orderBy("k")).map(_.getString(0))
    got shouldBe expect
  }

  test("incrementalLshApply across MULTIPLE microbatches: cross-batch near-dup pairs emit " +
       "(index grows per batch); base-vs-stream pairs emit; base×base never") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_inclsh_spec_p${ProcessHandle.current().pid()}")
    val t1 = "the quick brown fox jumps over the lazy dog again and again today"
    val t2 = t1 + " ok" // near-dup of t1
    val other = "completely different content about distributed query engines"
    // batch 1: doc 10 (dup of base 1), doc 11 (unique); batch 2: doc 12 (dup of 10)
    val b1 = Seq((10L, t1), (11L, other)).toDF("doc_id", "text")
    val b2 = Seq((12L, t2)).toDF("doc_id", "text")
    Streaming.landOrdered(dir, Seq(b1, b2))
    val base = Seq((1L, t1), (2L, t1)).toDF("doc_id", "text") // base pair (1,2) must NOT emit
    val out = Streaming.incrementalLshApply(spark, dir.toString, "*.parquet",
      lit(true),
      graft.operators.Dedup.bandBuckets(base, "text", "doc_id", 3, 64, 32),
      graft.operators.Dedup.shingleSets(base, "text", "doc_id", 3),
      "text", "doc_id", shingleN = 3, k = 64, bands = 32, threshold = 0.5)
    val pairs = rows(out.orderBy("id_a", "id_b"))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain(1L -> 10L)  // base vs batch-1
    pairs should contain(2L -> 10L)
    pairs should contain(10L -> 12L) // CROSS-BATCH: batch-2 probes batch-1's appended bands
    pairs should contain(1L -> 12L)  // base vs batch-2
    pairs should not contain (1L -> 2L) // base×base never forms
  }

  test("incrementalLshDedupedApply: replicated arrivals across batches fold into weights " +
       "and the final multiset equals the batch composed run") {
    import spark.implicits._
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_inclshdd_spec_p${ProcessHandle.current().pid()}")
    val t1 = "the quick brown fox jumps over the lazy dog again and again today"
    val t2 = t1 + " ok" // near-dup of t1
    val other = "completely different content about distributed query engines"
    // id-ascending arrival (the keeper = min id contract): batch 1 carries
    // the three contents' first copies; batch 2 is ALL exact replicas (the
    // replicated-arrival shape) plus one novel near-dup of t1
    val b1 = Seq((1L, t1), (2L, other), (3L, t2)).toDF("doc_id", "text")
    val b2 = Seq((10L, t1), (11L, t1), (12L, other), (13L, t2), (14L, other + " v2"))
      .toDF("doc_id", "text")
    if (dir.exists()) { def rm(f: java.io.File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); () }; rm(dir) }
    Streaming.landOrdered(dir, Seq(b1, b2))
    val streamed = rows(Streaming.incrementalLshDedupedApply(spark, dir.toString,
        "text", "doc_id", shingleN = 3, k = 64, bands = 32, threshold = 0.5)
      .orderBy("id_a", "id_b"))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val batch = rows(graft.operators.Dedup.minhashPairsDeduped(
        b1.unionByName(b2), "text", "doc_id",
        shingleN = 3, k = 64, bands = 32, threshold = 0.5)
      .orderBy("id_a", "id_b"))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    streamed shouldBe batch
    // the composed law, spot-checked: cross pair (1,3) carries |C1|·|C3| =
    // 3·2 = 6 logical pairs; intra rows carry C(3,2)=3 for t1 {1,10,11},
    // C(2,2)=1 for other {2,12}, C(2,2)=1 for t2 {3,13}
    streamed.find(p => p._1 == 1L && p._2 == 3L).map(_._4) shouldBe Some(6L)
    streamed.filter(p => p._1 == p._2).map(p => (p._1, p._4)).toSet shouldBe
      Set((1L, 3L), (2L, 1L), (3L, 1L))
  }

  test("toLake lands candle batches as parquet under the lake contract") {
    val dir = java.nio.file.Files.createTempDirectory("ticks3").toString
    val out = java.nio.file.Files.createTempDirectory("gold").toString + "/candles"
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    tickDf.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(tickDf.schema).parquet(dir)
    val candles = Streaming.candles(stream, watermark = "0 seconds")
    val q = Streaming.toLake(candles, out, ckpt)
    q.awaitTermination()
    // append mode only emits windows whose end <= watermark (= max event time
    // here): both 2024-01-01 windows close; the 2024-01-02 window is withheld
    // until later data advances the watermark past its end.
    spark.read.parquet(out).count() shouldBe 2
  }

  test("toLake is exactly-once: a batch replayed after its commit entry is lost " +
    "lands no candle twice") {
    val dir = java.nio.file.Files.createTempDirectory("ticks4").toString
    val out = java.nio.file.Files.createTempDirectory("gold").toString + "/candles"
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    tickDf.write.mode("overwrite").parquet(dir)
    def drain(): Unit = Streaming.toLake(
      Streaming.candles(spark.readStream.schema(tickDf.schema).parquet(dir), watermark = "0 seconds"),
      out, ckpt).awaitTermination()
    drain()
    val landed = spark.read.parquet(out).count()
    landed shouldBe 2
    // the crash window: the batch's output is written, its commit entry is not
    val commits = new java.io.File(ckpt, "commits")
    val last = commits.list().filter(_.forall(_.isDigit)).maxBy(_.toLong)
    new java.io.File(commits, last).delete() shouldBe true
    new java.io.File(commits, s".$last.crc").delete()
    drain()
    spark.read.parquet(out).count() shouldBe landed
  }
}
