package graft.streaming

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The reference's "real-time" surface re-expressed as Structured Streaming
  * (SURVEY.md §2.9). The reference's asynchrony is fire-and-forget background
  * ingestion (reference routes.py:40-42, 82-84) with last-writer-wins daily
  * files — here that becomes `readStream → event-time window agg → foreachBatch
  * lake sink`, with `Trigger.AvailableNow` as the deterministic batch-parity
  * twin of "fetch what's there now in the background".
  *
  * Scale: state = one candle per (window, symbol) bounded by the watermark;
  * a Kafka source swaps in for the file source with no operator change.
  */
object Streaming {

  /** File-based tick stream (Kafka-shaped: swap `format("parquet")` for
    * `format("kafka")` + payload decode via [[graft.sources.JsonPayloads]]).
    *
    * `maxFilesPerTrigger` bounds each micro-batch; 0 (default) leaves it
    * unset, so `Trigger.AvailableNow` drains the backlog in as few batches as
    * possible — each extra micro-batch is a fixed scheduling + state-commit
    * round, so prefer fewer/larger batches unless per-batch latency or memory
    * bounds demand otherwise.
    */
  def tickStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream.schema(schema)
    (if (maxFilesPerTrigger > 0) r.option("maxFilesPerTrigger", maxFilesPerTrigger) else r)
      .parquet(dir)
  }

  /** Streaming OHLCV candles: tumbling event-time window per symbol with
    * watermark-bounded state — the streaming twin of
    * [[graft.operators.Transforms.aggregate]] (reference transformers.py:99-142).
    *
    * `min_by`/`max_by` on the event timestamp give open/close their intended
    * earliest/latest-tick semantics (SURVEY.md §2.5 note 2) in both engines.
    */
  def candles(
      ticks: DataFrame,
      windowDuration: String = "1 day",
      watermark: String = "1 day",
      timeCol: String = "timestamp",
      valueCols: CandleCols = CandleCols()): DataFrame = {
    val t = col(timeCol)
    ticks.withWatermark(timeCol, watermark)
      .groupBy(window(t, windowDuration).as("w"), col(valueCols.symbol))
      .agg(
        min_by(col(valueCols.open), t).as("open"),
        max(col(valueCols.high)).as("high"),
        min(col(valueCols.low)).as("low"),
        max_by(col(valueCols.close), t).as("close"),
        sum(col(valueCols.volume)).as("volume"))
      .select(col("w.start").as(timeCol), col(valueCols.symbol),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
  }

  case class CandleCols(
      symbol: String = "symbol", open: String = "open", high: String = "high",
      low: String = "low", close: String = "close", volume: String = "volume")

  /** Streaming exact dedup-on-ingest: drop records whose key columns repeat
    * within the watermark delay — the streaming twin of
    * [[graft.operators.Dedup.exact]], and the dedup step a training-data
    * ingest pipeline runs before landing documents in the lake.
    *
    * State is bounded by the watermark (`dropDuplicatesWithinWatermark`): a
    * key is remembered only while a duplicate could still arrive, so state
    * size tracks the ingest rate × delay, not corpus size — the property that
    * makes this viable on an unbounded 100 TB/day feed. Key on a content hash
    * (e.g. `xxhash64(text)`), never the payload: state then stores 8-byte
    * keys.
    */
  def dedupStream(ticks: DataFrame, keyCols: Seq[String], timeCol: String,
      delay: String = "1 hour"): DataFrame =
    ticks.withWatermark(timeCol, delay).dropDuplicatesWithinWatermark(keyCols)

  /** One in-flight session per user in [[sessionizeStream]]'s state store:
    * timestamps in epoch micros.
    */
  case class OpenSession(start: Long, last: Long, n: Long, sum: Double)

  /** Closed-session record emitted by [[sessionizeStream]] — same shape as the
    * batch [[graft.operators.Sessionize.sessions]] summary.
    */
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, session_value: Double)

  /** Typed event consumed by [[sessionizeStream]] (public: Catalyst's
    * generated deserializer must be able to construct it).
    */
  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** Typed event consumed by [[funnelStageStream]]. */
  case class FunnelEvt(user_id: Long, ts: java.sql.Timestamp, et: String)

  /** Per-user funnel chain state: epoch-µs first-touch times per stage
    * (Long.MaxValue = stage not yet reached).
    */
  case class FunnelSt(t1: Long, t2: Long, t3: Long)

  /** Streaming first-touch funnel: per user, the furthest stage reached
    * under q_funnel's strictly-after chain (stage k+1 counts only STRICTLY
    * after the stage-k first touch), folded through `mapGroupsWithState`.
    *
    * Within a micro-batch events sort by (ts, type); in ascending order the
    * chain fold is exact (t1 pins at the first stage-1 event — later ones
    * are not earlier — then t2 is the first stage-2 event strictly after it,
    * and so on). Across micro-batches the fold is exact when per-user event
    * time arrives monotonically (replayed logs, ordered buses — the same
    * ordering discipline the CDC tier replay documents); the AvailableNow
    * harness replays in one batch, so the oracle equality is exact.
    *
    * Scale: state is THREE LONGS per user ever seen — smaller than
    * sessionization's record — and the emitted row is (user, stage).
    */
  def funnelStageStream(events: DataFrame, userCol: String, timeCol: String,
      typeCol: String, stages: Seq[String]): DataFrame = {
    require(stages.length == 3, "funnelStageStream: exactly 3 stages")
    import events.sparkSession.implicits._
    val Seq(s1, s2, s3) = stages
    val typed = events.select(
        col(userCol).cast("long").as("user_id"),
        col(timeCol).cast("timestamp").as("ts"),
        col(typeCol).as("et")).as[FunnelEvt]
    def micros(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    typed.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelSt, (Long, Long)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (user, evs, state: org.apache.spark.sql.streaming.GroupState[FunnelSt]) =>
          var st = state.getOption.getOrElse(FunnelSt(Long.MaxValue, Long.MaxValue, Long.MaxValue))
          evs.toSeq.sortBy(e => (micros(e.ts), e.et)).foreach { e =>
            val m = micros(e.ts)
            if (e.et == s1 && m < st.t1) st = st.copy(t1 = m)
            else if (e.et == s2 && st.t1 < m && m < st.t2) st = st.copy(t2 = m)
            else if (e.et == s3 && st.t2 < m && m < st.t3) st = st.copy(t3 = m)
          }
          state.update(st)
          val stage = if (st.t3 != Long.MaxValue) 3L
            else if (st.t2 != Long.MaxValue) 2L
            else if (st.t1 != Long.MaxValue) 1L else 0L
          (user, stage)
      }
      .toDF("user_id", "stage")
  }

  /** Streaming sessionization with CUSTOM state — the one streaming operator
    * whose semantics (emit a session only once it can no longer grow) the
    * built-in aggregations cannot express directly, so it uses
    * `flatMapGroupsWithState` with an event-time timeout:
    *
    *  - events group by user; per group the state holds the single open
    *    session (start/last/n/sum);
    *  - an event within `gap` of the open session extends it; a later event
    *    closes it (emitting the summary) and opens a new one;
    *  - when the WATERMARK passes `last + gap` the state times out and the
    *    final session is emitted — exactly-once session closure on an
    *    unbounded stream.
    *
    * Scale: state is one fixed-size record per active user (not per event),
    * bounded by the watermark — idle users' state is reclaimed by the
    * timeout. This is the `KeyValueGroupedDataset.flatMapGroupsWithState`
    * pattern from the Spark docs, checked for batch parity against
    * [[graft.operators.Sessionize]] in StreamingSpec.
    */
  def sessionizeStream(
      events: DataFrame, userCol: String, timeCol: String, valueCol: String,
      gap: String = "1 hour", watermark: String = "1 hour"): org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.catalyst.util.IntervalUtils
    import org.apache.spark.unsafe.types.UTF8String
    val gapMicros = IntervalUtils.getDuration(
      IntervalUtils.stringToInterval(UTF8String.fromString(gap)),
      java.util.concurrent.TimeUnit.MICROSECONDS)
    val typed = events.select(
        col(userCol).cast("long").as("user_id"),
        col(timeCol).cast("timestamp").as("ts"),
        col(valueCol).cast("double").as("value"))
      .withWatermark("ts", watermark)
      .as[SessionEvent]
    def micros(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    def stamp(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(us / 1000L)
      t.setNanos((us % 1000000L).toInt * 1000)
      t
    }
    def close(user: Long, s: OpenSession): SessionOut =
      SessionOut(user, stamp(s.start), stamp(s.last), s.n, s.sum)
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionOut](
        OutputMode.Append(), org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout) {
        (user, batch, state: org.apache.spark.sql.streaming.GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(close(user, s))
          } else {
            // within a micro-batch arrival order is not time order — sort;
            // (ts, value) key: simultaneous events fold into the running sum
            // in a deterministic order, so session_value is reproducible.
            // The batch first sessionizes among itself (gaps-and-islands over
            // the sorted events → "runs"), then each run folds into the
            // cross-batch open session: a run overlapping the open session's
            // gap window merges in either direction (session_start lowers via
            // min); a run wholly older than start - gap can never merge and
            // is emitted closed; a run past last + gap closes the open
            // session and replaces it. This matches batch semantics for any
            // lateness the watermark admits, except a late run emitted closed
            // could in principle still have had members arrive even later —
            // the residual the watermark bounds.
            val sorted = batch.toSeq.sortBy(e => (micros(e.ts), e.value))
            val runs = Seq.newBuilder[OpenSession]
            var run: Option[OpenSession] = None
            sorted.foreach { e =>
              val t = micros(e.ts)
              run match {
                case Some(r) if t - r.last <= gapMicros =>
                  run = Some(OpenSession(r.start, t, r.n + 1, r.sum + e.value))
                case Some(r) =>
                  runs += r
                  run = Some(OpenSession(t, t, 1L, e.value))
                case None =>
                  run = Some(OpenSession(t, t, 1L, e.value))
              }
            }
            run.foreach(runs += _)
            val out = Seq.newBuilder[SessionOut]
            var cur = state.getOption
            runs.result().foreach { r =>
              cur match {
                case Some(s) if r.start <= s.last + gapMicros && r.last >= s.start - gapMicros =>
                  cur = Some(OpenSession(math.min(s.start, r.start), math.max(s.last, r.last),
                    s.n + r.n, s.sum + r.sum))
                case Some(s) if r.last + gapMicros < s.start =>
                  out += close(user, r) // can never merge with the open session
                case Some(s) => // r.start > s.last + gap: s is complete
                  out += close(user, s)
                  cur = Some(r)
                case None =>
                  cur = Some(r)
              }
            }
            cur.foreach { s =>
              state.update(s)
              // timeout fires once the watermark passes the session's close
              // horizon; clamp above the current watermark (required by the API)
              state.setTimeoutTimestamp(
                math.max((s.last + gapMicros) / 1000L, state.getCurrentWatermarkMs() + 1L))
            }
            out.result().iterator
          }
      }
  }

  /** Stream-stream interval join (click-attribution shape): pair each left
    * event with the right events of the same key that occurred within
    * `lookback` BEFORE it. Both sides carry watermarks, so the join state
    * buffers only rows that could still match — right rows are dropped once
    * the left watermark passes `rightTime + lookback`, left rows once no
    * right row can still arrive. This is Structured Streaming's bounded-state
    * stream-stream join; the time bound is what makes state finite on an
    * unbounded feed.
    *
    * Caller supplies sides with DISTINCT column names (streaming joins cannot
    * disambiguate same-named columns); `condition` example:
    * `user_id = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts`.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftTime: String, rightTime: String,
      condition: String, watermark: String = "1 hour"): DataFrame =
    left.withWatermark(leftTime, watermark)
      .join(right.withWatermark(rightTime, watermark), expr(condition))

  /** Bronze-landing sink (reference helpers.py:31-46 contract): every
    * micro-batch lands as parquet under the lake path through Spark's own
    * file sink. The sink's `_spark_metadata` log records each batch's files
    * once, so a batch replayed after a crash between its write and its
    * commit-log entry is a no-op: candles land exactly once (the idempotent
    * sink of the Structured Streaming paper's exactly-once argument), and
    * `spark.read.parquet(outDir)` reads the logged files only. `AvailableNow`
    * processes the current backlog then stops — deterministic for tests,
    * incremental in production.
    */
  def toLake(
      candles: DataFrame, outDir: String, checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery = {
    val w = candles.writeStream
      .format("parquet")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .option("path", outDir)
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w.trigger(Trigger.ProcessingTime("10 seconds")))
      .start()
  }

  /** Land each frame in `tiers` as ONE parquet file in `dir`, named and
    * mtime-ordered so a file-stream source replays them as ordered
    * micro-batches (oldest-first is the file source's default). Per-key
    * in-order delivery is the contract every CDC applier requires of its
    * transport (Kafka keys it by partition; here tier files stand in).
    * Fixed synthetic mtimes keep the replay order deterministic across
    * filesystems with coarse timestamp granularity.
    */
  def landOrdered(dir: java.io.File, tiers: Seq[DataFrame]): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    // stale landings from a prior session must not replay: a failed delete throws
    FileUtils.deleteDirectory(dir)
    dir.mkdirs()
    tiers.zipWithIndex.foreach { case (df, i) =>
      val staging = Files.createTempDirectory("graft_land")
      df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = staging.toFile.listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file landed in $staging"))
      val dest = new java.io.File(dir, f"tier-$i%03d.parquet").toPath
      Files.move(part.toPath, dest, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000000L + i * 60000L))
      FileUtils.deleteDirectory(staging.toFile)
    }
  }

  /** Streaming incremental view maintenance of the candle aggregate: replay
    * a tick file stream one file per micro-batch, folding each batch's
    * [[graft.operators.Transforms.candlePartials]] into the running partial
    * state ([[graft.operators.Transforms.combineCandlePartials]] — partial →
    * partial, so state stays one row per touched bucket) and resolving to
    * final candles ONCE at the end. This is the continuous form of the batch
    * IVM query: the aggregate is maintained, never recomputed; at scale the
    * state frame is the stored aggregate table a lake sink upserts per batch.
    */
  def ivmApply(spark: SparkSession, tickDir: String, baseState: DataFrame,
      freq: String = "D"): DataFrame = {
    var state = baseState.localCheckpoint()
    drainFiles(spark, tickDir, "graft_ckpt_ivm") { (batch, _) =>
      state = graft.operators.Transforms.combineCandlePartials(
        state.unionByName(graft.operators.Transforms.candlePartials(batch, freq)))
        .localCheckpoint()
    }
    graft.operators.Transforms.mergeCandlePartials(state)
  }

  /** Streaming ingestion dedup against a LANDED content index — the day-N
    * exact-dedup loop ([[graft.operators.Dedup.incremental]]) as a CONTINUOUS
    * query (r11). Per micro-batch: the batch's distinct 128-bit content keys
    * anti-join the index; the fresh keys append to the OUTPUT and to the
    * INDEX, so a content first seen in batch k is dropped in batch k+1 —
    * output is the set of genuinely-new content keys, independent of how the
    * source splits into batches (set semantics; no per-batch rep-id
    * ambiguity). This is the ingestion-side gatekeeper a 100 TB corpus runs
    * in front of its bronze layer: the index is the compact persisted
    * artifact, each arriving file batch pays one key anti-join, and the
    * index grows only by what actually landed.
    */
  def incrementalDedupApply(spark: SparkSession, docDir: String, glob: String,
      rowFilter: org.apache.spark.sql.Column, landedIndex: DataFrame,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, md5, unhex}
    var seen = landedIndex.localCheckpoint()
    var out = emptyDf(spark, "h" -> org.apache.spark.sql.types.BinaryType)
    drainFiles(spark, docDir, "graft_ckpt_incdedup", Some(glob)) { (batch, _) =>
      val fresh = batch.filter(rowFilter)
        .select(unhex(md5(col(textCol).cast("binary"))).as("h")).distinct()
        .join(seen, Seq("h"), "left_anti")
        .localCheckpoint()
      out = out.unionByName(fresh).localCheckpoint()
      seen = seen.unionByName(fresh).localCheckpoint()
    }
    out
  }

  /** Streaming NEAR-dup detection against a landed LSH band index — the
    * lexical sibling of [[incrementalDedupApply]] and the continuous form of
    * [[graft.operators.Dedup.minhashPairsIncremental]] (r11): per
    * micro-batch, the arriving slice is banded once, probes the
    * index-so-far (base ∪ earlier batches ∪ itself), and its bands/sets
    * append to the index — so the emitted pair set (every exactly-verified
    * near-dup pair with ≥ 1 stream-side member) is independent of how the
    * stream splits into batches. The base corpus is never re-banded.
    */
  def incrementalLshApply(spark: SparkSession, docDir: String, glob: String,
      rowFilter: org.apache.spark.sql.Column, baseBands: DataFrame,
      baseSets: DataFrame, textCol: String, idCol: String,
      shingleN: Int, k: Int, bands: Int, threshold: Double): DataFrame = {
    import graft.operators.Dedup
    import org.apache.spark.sql.types.{DoubleType, LongType}
    var bb = baseBands.localCheckpoint()
    var ss = baseSets.localCheckpoint()
    var out = emptyDf(spark, "id_a" -> LongType, "id_b" -> LongType, "jaccard" -> DoubleType)
    // batchId idempotence (ADVICE r11): Structured Streaming re-runs a
    // micro-batch after a transient failure with the SAME batchId; this
    // accumulator is NOT naturally idempotent (the exact-dedup sibling is) —
    // by the time the re-run arrives, the batch's bands are already in `bb`,
    // so re-mining would re-emit the batch's pairs into `out` as duplicates.
    // Skip batchIds already folded in, the standard foreachBatch contract.
    var lastBatchId = -1L
    drainFiles(spark, docDir, "graft_ckpt_inclsh", Some(glob)) { (batch0, batchId) =>
      if (batchId > lastBatchId) {
        // all-or-nothing vs retries: MATERIALIZE every successor frame
        // BEFORE touching any accumulator var — localCheckpoint is the
        // throwing step, and a partial mutation followed by a retried
        // batchId would re-append the already-landed pairs (the exact
        // failure the guard exists to stop). Plain assignments below
        // cannot throw, so a batch either folds in fully or not at all.
        val batch = batch0.filter(rowFilter)
        val pairs = Dedup.minhashPairsIncremental(batch, bb, ss, textCol, idCol,
          shingleN, k, bands, threshold).localCheckpoint()
        val outN = out.unionByName(pairs).localCheckpoint()
        val bbN = bb.unionByName(Dedup.bandBuckets(batch, textCol, idCol, shingleN, k, bands))
          .localCheckpoint()
        val ssN = ss.unionByName(Dedup.shingleSets(batch, textCol, idCol, shingleN))
          .localCheckpoint()
        out = outN; bb = bbN; ss = ssN; lastBatchId = batchId
      }
    }
    out
  }

  private def emptyDf(spark: SparkSession,
      fields: (String, org.apache.spark.sql.types.DataType)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(fields.map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n, t) }))

  /** Empty band index in [[incrementalLshApply]]'s expected schema — the
    * day-0 bootstrap input (the stream IS the corpus). The schema lives
    * HERE so call sites (first-run pipelines) can't drift from the
    * operator's union when the index layout changes.
    */
  def emptyBandIndex(spark: SparkSession): DataFrame =
    emptyDf(spark, "id" -> org.apache.spark.sql.types.LongType,
      "band" -> org.apache.spark.sql.types.IntegerType,
      "bucket" -> org.apache.spark.sql.types.IntegerType)

  /** Empty shingle-set index matching [[incrementalLshApply]] — see
    * [[emptyBandIndex]].
    */
  def emptyShingleSetIndex(spark: SparkSession): DataFrame =
    emptyDf(spark, "id" -> org.apache.spark.sql.types.LongType,
      "sh" -> org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, containsNull = false))

  /** Streaming twin of the DEDUP-FIRST composition (r15, verdict ask #6):
    * [[incrementalLshApply]] probes every arriving doc against the band
    * index directly — under replicated ARRIVALS it inherits the direct-
    * banding blowup r14 fixed in batch (each replica bands, probes, and
    * pairs physically). Here the streaming content-key anti-join
    * ([[incrementalDedupApply]]'s discipline) composes IN FRONT: arriving
    * exact-replicas of already-seen contents fold into cluster WEIGHTS (one
    * count bump on the landed content index — no banding, no probe, no pair
    * rows), and only NOVEL contents band, probe the keeper-only index, and
    * append to it.
    *
    * State per batch (all localCheckpoint'ed, batchId-idempotent like the
    * LSH sibling): the content index (h → keeper id, cluster size), the
    * keeper band/set index, and the accumulated keeper pair list. The final
    * result expands weights exactly like
    * [[graft.operators.Dedup.minhashPairsDeduped]]: cross pairs carry
    * |C_a|·|C_b|, clusters of size > 1 add a (keeper, keeper, 1.0, C(sz,2))
    * intra row — so the emitted multiset EQUALS the batch composed run over
    * the same corpus regardless of how the stream splits into batches,
    * PROVIDED arrival order is id-ascending per content group (the keeper =
    * min id rule; land tiers ordered by id, as ingest naturally does with
    * monotonic ids).
    *
    * Scale: per batch the only corpus-shaped work is one content-hash agg
    * over the batch; replication never reaches the band exchange — the
    * batch composition's law, now holding per micro-batch on an unbounded
    * feed.
    */
  def incrementalLshDedupedApply(spark: SparkSession, docDir: String,
      textCol: String, idCol: String,
      shingleN: Int, k: Int, bands: Int, threshold: Double): DataFrame = {
    import graft.operators.Dedup
    import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType}
    var contentIdx = emptyDf(spark, "h" -> BinaryType, "kid" -> LongType, "csz" -> LongType)
    var bb = emptyBandIndex(spark)
    var ss = emptyShingleSetIndex(spark)
    var pairs = emptyDf(spark, "id_a" -> LongType, "id_b" -> LongType, "jaccard" -> DoubleType)
    var lastBatchId = -1L
    drainFiles(spark, docDir, "graft_ckpt_inclshdd") { (batch, batchId) =>
      if (batchId > lastBatchId) {
        // within-batch exact groups: (content key, min id, count)
        val grouped = batch
          .select(col(idCol).cast(LongType).as("id"),
            unhex(md5(col(textCol).cast("binary"))).as("h"))
          .groupBy(col("h")).agg(min(col("id")).as("bid"), count(lit(1)).as("bcnt"))
          .localCheckpoint()
        // replicas of landed contents: pure weight bumps
        val updated = contentIdx
          .join(grouped.select(col("h"), col("bcnt")), Seq("h"), "left")
          .select(col("h"), col("kid"),
            (col("csz") + coalesce(col("bcnt"), lit(0L))).as("csz"))
        // novel contents: their min-id doc becomes the keeper
        val novel = grouped.join(contentIdx.select("h"), Seq("h"), "left_anti")
        val novelDocs = batch.select(col(idCol).cast(LongType).as(idCol),
            col(textCol))
          .join(novel.select(col("bid").as(idCol)), Seq(idCol), "left_semi")
        // only novel keepers band + probe the keeper-only index
        val newPairs = Dedup.minhashPairsIncremental(novelDocs, bb, ss,
          textCol, idCol, shingleN, k, bands, threshold).localCheckpoint()
        // materialize-before-mutate: every successor frame checkpoints
        // before any accumulator assignment (the LSH sibling's retry
        // discipline — a thrown localCheckpoint must leave state whole)
        val contentIdxN = updated.unionByName(
          novel.select(col("h"), col("bid").as("kid"), col("bcnt").as("csz")))
          .localCheckpoint()
        val bbN = bb.unionByName(
          Dedup.bandBuckets(novelDocs, textCol, idCol, shingleN, k, bands))
          .localCheckpoint()
        val ssN = ss.unionByName(
          Dedup.shingleSets(novelDocs, textCol, idCol, shingleN))
          .localCheckpoint()
        val pairsN = pairs.unionByName(newPairs).localCheckpoint()
        // superseded checkpoints unpersist once their successors are
        // materialized (r15 — the connectedComponents
        // discipline): without this, every micro-batch pins one more
        // generation of state blocks in the block manager, unbounded
        // growth on exactly the unbounded feed this operator targets.
        // grouped/newPairs are consumed by the successors above and
        // drop with them; the batch's own frames (the final state)
        // stay persisted — the returned expansion reads them lazily.
        Seq(contentIdx, bb, ss, pairs, grouped, newPairs)
          .foreach(_.unpersist(blocking = false))
        contentIdx = contentIdxN; bb = bbN; ss = ssN; pairs = pairsN
        lastBatchId = batchId
      }
    }
    // weight expansion — the SHARED step 3 of the composition (one law
    // for batch and stream) over the final streamed state
    Dedup.expandMinhashWeights(pairs, contentIdx.select("kid", "csz"), threshold)
  }

  /** The file-replay drain behind the incremental operators: stream the
    * parquet files under `dir` (only those matching `glob`, when given) one
    * file per micro-batch through `step` under an AvailableNow trigger, and
    * return once the backlog is drained. The stream's schema comes from a
    * batch read of the same files, since file streams cannot infer one.
    */
  private def drainFiles(spark: SparkSession, dir: String, ckptPrefix: String,
      glob: Option[String] = None)(step: (DataFrame, Long) => Unit): Unit = {
    val schema = glob.fold(spark.read)(g => spark.read.option("pathGlobFilter", g))
      .parquet(dir).schema
    val stream = glob.fold(spark.readStream)(g => spark.readStream.option("pathGlobFilter", g))
      .schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
    withRunCkpt(ckptPrefix) { ckpt =>
      stream.writeStream.foreachBatch(step)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
  }

  /** Checkpoint lifecycle of the AvailableNow drains: run `body` with a
    * fresh per-run checkpoint dir (offset reuse would mark the source as
    * already processed), then delete it. The dir sits on tmpfs when the host
    * has one: a checkpoint is many small fsync'd files (offset log, commit
    * log, state deltas), and on a disk-backed /tmp those fsyncs are the
    * dominant fixed cost of a small AvailableNow run. Harness-only choice —
    * a production stream needs its checkpoint durable (see [[toLake]], which
    * takes an explicit checkpointDir).
    *
    * Cleanup is best-effort: the state-store maintenance thread can still be
    * writing into the checkpoint as the query winds down, so deletion must
    * never throw over a successful result (or mask the real failure).
    */
  private def withRunCkpt[T](prefix: String)(body: String => T): T = {
    import java.nio.file.{Files, Paths}
    val shm = Paths.get("/dev/shm")
    val base = if (Files.isDirectory(shm)) shm else Paths.get(sys.props("java.io.tmpdir"))
    val ckpt = Files.createTempDirectory(base, prefix).toFile
    try body(ckpt.toString) finally FileUtils.deleteQuietly(ckpt)
  }

  /** Streaming CDC materialization: replay a changelog file stream one file
    * per micro-batch, folding each batch into the snapshot with
    * [[graft.operators.Changelog.merge]] and materializing the merged result
    * (`localCheckpoint` stands in for the per-batch table rewrite a lake
    * upsert sink performs). Returns the final snapshot.
    *
    * Batches must arrive in per-key seq order (see [[landOrdered]]): the
    * snapshot keeps no seq metadata between batches, exactly like a lake
    * table — ordering is the transport's job, as in every CDC pipeline.
    */
  def cdcApply(spark: SparkSession, changeDir: String, base: DataFrame,
      keyCol: String): DataFrame = {
    var snapshot = base.localCheckpoint()
    drainFiles(spark, changeDir, "graft_ckpt_cdc") { (batch, _) =>
      snapshot = graft.operators.Changelog.merge(snapshot, batch, keyCol)
        .localCheckpoint()
    }
    snapshot
  }

  /** Run a stream to a named in-memory sink and return the materialized result
    * — the deterministic harness used by the batch/stream parity tests and the
    * `q_stream_candles` entry.
    */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String, mode: OutputMode = OutputMode.Complete()): DataFrame = {
    spark.catalog.dropTempView(name) // re-runnable in a shared session (bench warmup)
    withRunCkpt(s"graft_ckpt_$name") { ckpt =>
      val q = df.writeStream.outputMode(mode).format("memory")
        .option("checkpointLocation", ckpt)
        .queryName(name).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name)
    }
  }
}
