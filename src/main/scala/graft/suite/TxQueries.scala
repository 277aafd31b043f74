package graft
package suite

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Fns
import graft.operators.{Layout, Transforms}
import graft.sources.Manifest

import SparkEntry.{customer, events, orders, procTmp, tune}
import FinanceQueries.{bucketD, candleSql, candles}

/** The tx family — table transactions and layout: CDC, commits, catalog,
  * write-audit-publish and file layout. Each record is one registered query,
  * its Spark builder beside the DuckDB dual that defines its correctness.
  */
object TxQueries {

  /** Deterministic CDC changelog over the orders snapshot — the shared input
    * of q_cdc_merge and q_scd2_history: ×2 updates at seq 1 (keys ≡1 mod 10),
    * ×4 updates at seq 2 (≡1 mod 100), deletes at seq 1 (≡0 mod 10), and a
    * shifted-key insert per base row. All four change kinds come from ONE
    * base scan (explode of a conditionally-populated struct array — a 4-way
    * union would re-scan the parquet four times); ×2/×4 price updates are
    * IEEE-exact so both engines agree bit-for-bit.
    */
  private[suite] def cdcChanges(base: DataFrame): DataFrame =
    base.select(explode(array_compact(array(
        when(col("o_orderkey") % 10 === 1, struct(col("o_orderkey"),
          (col("o_totalprice") * 2).as("o_totalprice"),
          lit("U").as("op"), lit(1L).as("seq"))),
        when(col("o_orderkey") % 100 === 1, struct(col("o_orderkey"),
          (col("o_totalprice") * 4).as("o_totalprice"),
          lit("U").as("op"), lit(2L).as("seq"))),
        when(col("o_orderkey") % 10 === 0, struct(col("o_orderkey"),
          lit(null).cast(DoubleType).as("o_totalprice"),
          lit("D").as("op"), lit(1L).as("seq"))),
        struct((col("o_orderkey") + 10000000L).as("o_orderkey"),
          col("o_totalprice"), lit("I").as("op"), lit(1L).as("seq"))
      ))).as("c")).select("c.*")

  /** Metadata-table catalog populated with a fixed registration script, once
    * per (session, sf dir) — the gated queries read the resulting live table.
    * The script exercises every catalog verb: four registers, one
    * re-register (upsert: the row must move to the committing version), one
    * unregister; versions are the deterministic edit sequence 1..6, so the
    * oracle states them literally. The catalog root is pid+dir-qualified
    * (fresh table per process and sf dir — a Bench warm-dir switch starts a
    * new edit history rather than appending to the old one) and wiped before
    * the script so a same-pid leftover cannot shift version numbers.
    */
  private def catalogOf(s: SparkSession, dir: String): graft.sources.Catalog = {
    val cat = graft.sources.Catalog(s,
      procTmp(s"graft_catalog_${Integer.toHexString(dir.hashCode)}"))
    SessionCache.getOrCompute(s, s"catalog-meta:$dir") {
      val root = new org.apache.hadoop.fs.Path(cat.root)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(root)) fs.delete(root, true)
      val clean = Transforms.clean(events(s, dir))
      cat.register("silver", "events_clean_20240105", clean)       // v1
      cat.register("silver", "events_clean_20240106", clean)       // v2
      cat.register("gold", "candles_daily_20240110", candles(s, dir, "D"))  // v3
      cat.register("gold", "candles_weekly_20240110", candles(s, dir, "W")) // v4
      cat.register("silver", "events_clean_20240105", clean)       // v5 (upsert)
      cat.unregister("gold", "candles_weekly_20240110")            // v6
      java.lang.Long.valueOf(cat.currentVersion)
    }
    cat
  }

  private def catalogTable(s: SparkSession, dir: String): DataFrame =
    catalogOf(s, dir).entries

  /** `ec`: the row count of the registered clean-events dataset, restated
    * from its defining query (dedup + dropna over events).
    */
  private val cleanCountCte: String =
    """ec AS (SELECT count(*) AS c FROM (
      |   SELECT DISTINCT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
      |   FROM events
      |   WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
      |     AND event_type IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
      |     AND props IS NOT NULL))""".stripMargin.replace("\n", "")

  val queries: Seq[Query] = Seq(
    // CDC MERGE: a deterministic changelog (updates at two sequence numbers,
    // deletes, inserts) folds into the orders snapshot — latest seq per key
    // wins, D removes, untouched keys pass through. ×2/×4 price updates are
    // IEEE-exact so both engines agree bit-for-bit
    Query("q_cdc_merge", (s, dir) => {
      val base = orders(s, dir).select("o_orderkey", "o_totalprice")
      graft.operators.Changelog.merge(base, cdcChanges(base), "o_orderkey")
    },
      cdcMergeSql),
    // schema evolution on read: two parquet generations of the same dataset
    // — the newer one grew a `status` column — merged into one frame with
    // NULL back-fill (`mergeSchema`), the column-add scenario every
    // long-lived lake table hits. Landing is once per session (lifecycle
    // pattern); the read pays footer-merge only, no data rewrite
    Query("q_schema_evolution", (s, dir) => {
      val landed = SessionCache.getOrCompute(s, s"schema-evo:$dir") {
        val d = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_schema_evo_${Integer.toHexString(dir.hashCode)}")
        val ev = events(s, dir)
        graft.streaming.Streaming.landOrdered(d, Seq(
          ev.filter(col("event_id") % 2 === 0).select(col("event_id"), col("value")),
          ev.filter(col("event_id") % 2 === 1)
            .select(col("event_id"), col("value"), col("event_type").as("status"))))
        d.toString
      }
      s.read.option("mergeSchema", "true").parquet(landed)
    },
      """SELECT event_id, value, CAST(NULL AS VARCHAR) AS status
        | FROM events WHERE event_id % 2 = 0
        | UNION ALL SELECT event_id, value, event_type FROM events
        | WHERE event_id % 2 = 1""".stripMargin.replace("\n", "")),
    // snapshot reconciliation: the diff between the base orders snapshot and
    // the CDC-merged one — keys added/removed/updated with old/new values,
    // one key-keyed full outer join
    Query("q_table_diff", (s, dir) => {
      val base = orders(s, dir).select("o_orderkey", "o_totalprice")
      val after = graft.operators.Changelog.merge(base, cdcChanges(base), "o_orderkey")
      graft.operators.Changelog.diff(base, after, "o_orderkey")
    },
      s"""WITH b AS (SELECT o_orderkey, o_totalprice FROM orders),
         | m AS ($cdcMergeSql)
         | SELECT COALESCE(b.o_orderkey, m.o_orderkey) AS o_orderkey,
         |   CASE WHEN b.o_orderkey IS NULL THEN 'added'
         |        WHEN m.o_orderkey IS NULL THEN 'removed'
         |        ELSE 'updated' END AS change_type,
         |   b.o_totalprice AS old_o_totalprice, m.o_totalprice AS new_o_totalprice
         | FROM b FULL OUTER JOIN m ON b.o_orderkey = m.o_orderkey
         | WHERE b.o_orderkey IS NULL OR m.o_orderkey IS NULL
         |   OR (b.o_totalprice IS DISTINCT FROM m.o_totalprice)""".stripMargin.replace("\n", "")),
    // SCD2: the same changelog folded into a type-2 version history — each
    // effective I/U opens [seq, next-seq), a D closes the prior version,
    // open-ended versions are current. One key-keyed window over changes.
    Query("q_scd2_history", (s, dir) => {
      val base = orders(s, dir).select("o_orderkey", "o_totalprice")
      graft.operators.Changelog.scd2(cdcChanges(base), "o_orderkey")
    },
      """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
        | changes AS (
        |   SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, 'U' AS op, CAST(1 AS BIGINT) AS seq
        |     FROM base WHERE o_orderkey % 10 = 1
        |   UNION ALL SELECT o_orderkey, o_totalprice * 4, 'U', 2 FROM base WHERE o_orderkey % 100 = 1
        |   UNION ALL SELECT o_orderkey, NULL, 'D', 1 FROM base WHERE o_orderkey % 10 = 0
        |   UNION ALL SELECT o_orderkey + 10000000, o_totalprice, 'I', 1 FROM base),
        | v AS (SELECT *, lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS valid_to
        |   FROM changes)
        | SELECT o_orderkey, o_totalprice, seq AS valid_from, valid_to,
        |   valid_to IS NULL AS is_current
        | FROM v WHERE op <> 'D'""".stripMargin.replace("\n", "")),
    // MULTI-WRITER DATA-TABLE COMMITS (r13): the TxTable
    // transaction log (manifest-per-version + pointer CAS + overlap-checked
    // rebase, sources/TxTable.scala) driven through a deterministic commit
    // script — two appends, a compaction (removes both batches, adds the
    // rewrite), a third append — then the full retained history read back
    // with a SNAPSHOT ROW COUNT at every version (the gated time-travel
    // read: v2 and v3 must agree across the compaction, v4 sees the whole
    // events table). Batch row counts are data-dependent (event_id mod 3
    // slices); the race semantics are spec'd in TxTableSpec.
    Query("q_table_commit_history", (s, dir) => {
      import s.implicits._
      val t = graft.sources.TxTable(s,
        SessionCache.registerTmpIndexDir(procTmp("graft_txtable")),
        s"evt_${Integer.toHexString(dir.hashCode)}")
      if (SessionCache.once(s, s"txtable:$dir")) {
        // wipe any same-pid leftover log first (the catalogOf rule): the
        // oracle pins versions 1-4 exactly, so a surviving table from a
        // prior session in this process must not shift the version numbers
        val tp = new org.apache.hadoop.fs.Path(
          s"${procTmp("graft_txtable")}/evt_${Integer.toHexString(dir.hashCode)}")
        tp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(tp, true)
        val ev = events(s, dir).select("event_id", "event_type", "value")
        t.append(ev.filter(col("event_id") % 3 === 0))
        t.append(ev.filter(col("event_id") % 3 === 1))
        t.compact()
        t.append(ev.filter(col("event_id") % 3 === 2))
      }
      t.history.map(m => (m.version, m.action, m.added.size.toLong,
          m.removed.size.toLong, m.files.size.toLong, t.snapshot(m.version).count()))
        .toDF("version", "action", "n_added", "n_removed", "n_live_batches", "n_rows")
        .orderBy("version")
    },
      // TxTable commit script restated: batch dir counts are protocol
      // literals (append adds 1, the compaction folds 2 into 1), row counts
      // are the event_id mod-3 slices; v3 must equal v2 (compaction rewrites,
      // never changes rows)
      """SELECT * FROM (
        | SELECT CAST(1 AS BIGINT) AS version, 'append' AS action,
        |   CAST(1 AS BIGINT) AS n_added, CAST(0 AS BIGINT) AS n_removed, CAST(1 AS BIGINT) AS n_live_batches,
        |   (SELECT CAST(COUNT(*) AS BIGINT) FROM events WHERE event_id % 3 = 0) AS n_rows
        | UNION ALL SELECT 2, 'append', 1, 0, 2,
        |   (SELECT CAST(COUNT(*) AS BIGINT) FROM events WHERE event_id % 3 IN (0, 1))
        | UNION ALL SELECT 3, 'compact', 1, 2, 1,
        |   (SELECT CAST(COUNT(*) AS BIGINT) FROM events WHERE event_id % 3 IN (0, 1))
        | UNION ALL SELECT 4, 'append', 1, 0, 2,
        |   (SELECT CAST(COUNT(*) AS BIGINT) FROM events)
        |) ORDER BY version""".stripMargin.replace("\n", "")),
    // metadata-table catalog (reference config.py:26-27 DB_URL — a metadata
    // DB declared but never used; storage.py falls back to filename listing):
    // a real versioned catalog table, mutated by a fixed register/upsert/
    // unregister script and read back at its live snapshot. The oracle states
    // the surviving rows — names, parsed source/data_type, ingest dates,
    // row/column counts recomputed from the defining queries, and the exact
    // commit version each row was (re)registered at
    Query("q_catalog_meta", (s, dir) =>
      catalogTable(s, dir).orderBy("layer", "name"),
      // surviving catalog rows after the fixed edit script: row counts restated
      // from the defining queries (clean-events dedup+dropna count; distinct
      // daily buckets), versions are the literal edit sequence (upsert moved
      // events_clean_20240105 to v5; the weekly candles row was unregistered)
      s"""WITH $cleanCountCte,
        | cd AS (SELECT count(DISTINCT date_trunc('day', ts)) AS c FROM events)
        | SELECT * FROM (
        |   SELECT 'candles_daily_20240110' AS name, 'gold' AS layer, 'candles' AS source,
        |     'daily' AS data_type, '20240110' AS ingest_date,
        |     (SELECT c FROM cd) AS num_rows, 6 AS num_cols, 3 AS version
        |   UNION ALL
        |   SELECT 'events_clean_20240105', 'silver', 'events', 'clean', '20240105',
        |     (SELECT c FROM ec), 6, 5
        |   UNION ALL
        |   SELECT 'events_clean_20240106', 'silver', 'events', 'clean', '20240106',
        |     (SELECT c FROM ec), 6, 2)
        | ORDER BY layer, name""".stripMargin.replace("\n", "")),
    // catalog snapshot diff: Changelog.diff between the v4 snapshot and the
    // live table — the "what changed since?" audit composed from time travel
    // + the gated diff operator (key = layer/name; unchanged rows excluded)
    Query("q_catalog_diff", (s, dir) => {
      val cat = catalogOf(s, dir)
      def keyed(df: DataFrame) = df.select(
        concat_ws("/", col("layer"), col("name")).as("dataset"),
        col("num_rows"), col("version"))
      graft.operators.Changelog.diff(keyed(cat.entriesAt(4L)), keyed(cat.entries), "dataset")
        .orderBy("dataset")
    },
      // diff v4 → live: the weekly row was unregistered (removed), the
      // upserted events row moved v1 → v5 (updated); unchanged rows absent
      s"""WITH $cleanCountCte,
        | cw AS (SELECT count(DISTINCT date_trunc('week', ts)) AS c FROM events)
        | SELECT * FROM (
        |   SELECT 'gold/candles_weekly_20240110' AS dataset, 'removed' AS change_type,
        |     (SELECT c FROM cw) AS old_num_rows, CAST(NULL AS BIGINT) AS new_num_rows,
        |     CAST(4 AS BIGINT) AS old_version, CAST(NULL AS BIGINT) AS new_version
        |   UNION ALL
        |   SELECT 'silver/events_clean_20240105', 'updated',
        |     (SELECT c FROM ec), (SELECT c FROM ec), 1, 5)
        | ORDER BY dataset""".stripMargin.replace("\n", "")),
    // time travel: the catalog AS OF snapshot v4 — before the upsert moved
    // events_clean_20240105 to v5 and before the weekly candles row was
    // unregistered; immutable snapshots make this a plain read
    Query("q_catalog_history", (s, dir) =>
      catalogOf(s, dir).entriesAt(4L).orderBy("layer", "name"),
      // the v4 snapshot: pre-upsert (v1 provenance intact), weekly row present
      s"""WITH $cleanCountCte,
        | cd AS (SELECT count(DISTINCT date_trunc('day', ts)) AS c FROM events),
        | cw AS (SELECT count(DISTINCT date_trunc('week', ts)) AS c FROM events)
        | SELECT * FROM (
        |   SELECT 'candles_daily_20240110' AS name, 'gold' AS layer, 'candles' AS source,
        |     'daily' AS data_type, '20240110' AS ingest_date,
        |     (SELECT c FROM cd) AS num_rows, 6 AS num_cols, 3 AS version
        |   UNION ALL
        |   SELECT 'candles_weekly_20240110', 'gold', 'candles', 'weekly', '20240110',
        |     (SELECT c FROM cw), 6, 4
        |   UNION ALL
        |   SELECT 'events_clean_20240105', 'silver', 'events', 'clean', '20240105',
        |     (SELECT c FROM ec), 6, 1
        |   UNION ALL
        |   SELECT 'events_clean_20240106', 'silver', 'events', 'clean', '20240106',
        |     (SELECT c FROM ec), 6, 2)
        | ORDER BY layer, name""".stripMargin.replace("\n", "")),
    // the metadata-table answer to Lake.latest (storage.py:158-170): latest
    // ingest_date per (layer, source, data_type) via window rank over the
    // catalog-scale table
    Query("q_catalog_latest", (s, dir) => {
      val w = Window.partitionBy("layer", "source", "data_type")
        .orderBy(col("ingest_date").desc, col("name").desc)
      catalogTable(s, dir)
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
        .select("layer", "source", "data_type", "name", "ingest_date")
        .orderBy("layer", "source", "data_type")
    },
      // latest ingest_date per (layer, source, data_type) over the same table
      """SELECT * FROM (
        |   SELECT 'gold' AS layer, 'candles' AS source, 'daily' AS data_type,
        |     'candles_daily_20240110' AS name, '20240110' AS ingest_date
        |   UNION ALL
        |   SELECT 'silver', 'events', 'clean', 'events_clean_20240106', '20240106')
        | ORDER BY layer, source, data_type""".stripMargin.replace("\n", "")),
    // write-audit-publish happy path: candles stage, the audit validates the
    // STAGED FILES, the atomic rename publishes; the read-back must equal the
    // full recompute (the staging hop is lossless)
    Query("q_wap_publish", (s, dir) => {
      import graft.operators.Checks._
      // path scoped per sf DIR like the once-key below: a second dir in the
      // same session must publish into its OWN lake, not overwrite the
      // first dir's table (which later reads would then return)
      val lake = graft.sources.Lake(s,
        procTmp(s"graft_wap_${Integer.toHexString(dir.hashCode)}"))
      // stage+audit+rename once per session (the publish is idempotent for a
      // fixed sf dir); every later invocation reads the published artifact —
      // the same once-per-session landing pattern as q_lake_delete, and the
      // production shape (you don't republish per read)
      if (SessionCache.once(s, s"wap-publish:$dir")) {
        val (report, ok) = lake.writeAudited(candles(s, dir, "D"), "gold", "wap_candles",
          Seq(RowCountMin(1L), NotNull("timestamp"), Unique("timestamp"), NotNull("volume")))
        require(ok, s"WAP audit unexpectedly failed: ${report.collect().mkString}")
      }
      lake.read("gold", "wap_candles").orderBy("timestamp")
    },
      // the staged-then-published bytes must equal the full recompute
      candleSql(bucketD)),
    // ... and the reject path: a later bad write (nulled volume) FAILS its
    // audit and must leave the previously published version untouched —
    // the gate reads the survivor, which must still equal the v1 recompute
    Query("q_wap_reject", (s, dir) => {
      import graft.operators.Checks._
      val lake = graft.sources.Lake(s,
        procTmp(s"graft_wap_reject_${Integer.toHexString(dir.hashCode)}"))
      if (SessionCache.once(s, s"wap-reject:$dir")) {
        val (_, ok1) = lake.writeAudited(candles(s, dir, "D"), "gold", "wap_guarded",
          Seq(RowCountMin(1L)))
        require(ok1, "v1 publish must pass")
        val bad = candles(s, dir, "D")
          .withColumn("volume", lit(null).cast(DoubleType))
        val (report2, ok2) = lake.writeAudited(bad, "gold", "wap_guarded",
          Seq(NotNull("volume")))
        require(!ok2, s"bad write must fail the audit: ${report2.collect().mkString}")
      }
      lake.read("gold", "wap_guarded").orderBy("timestamp")
    },
      // the rejected write leaves v1 readable — still the full recompute
      candleSql(bucketD)),
    // --- data layout: Z-order clustering + file-stats manifest (100 TB) ---
    // Morton key parity: both engines compute the identical 62-bit
    // interleave of (user_id, event_id) — the clustering key zorderWrite
    // range-writes on; pure shifts/masks, codegen'd end to end
    Query("q_zorder_key", (s, dir) =>
      events(s, dir).select(col("event_id"), col("user_id"),
        Layout.mortonKey(col("user_id"), col("event_id")).as("z"))
        .orderBy("event_id"),
      // identical Morton interleave via the same shift/mask formula in SQL
      s"""SELECT event_id, user_id, ${Layout.mortonSql("user_id", "event_id")} AS z
         | FROM events ORDER BY event_id""".stripMargin.replace("\n", "")),
    // chunked ingest + stats manifest: Spark derives per-chunk (count, min,
    // max) from the files it actually wrote (input_file_name grouping); the
    // oracle recomputes them from the defining formula over the source table
    // — equality proves the layout landed exactly as designed
    Query("q_stats_manifest", (s, dir) => {
      val path = procTmp("graft_chunked_events")
      // chunked ingest lands once per (session, dir); the manifest derivation
      // from the landed files — the behavior under test — runs every pass.
      // The on-disk path is shared across dirs, so a dir switch re-lands it;
      // a session must not interleave dirs (Bench warms every query at
      // warmDir before the first timed pass, so its order is monotonic)
      if (SessionCache.once(s, s"chunked-write:$dir")) {
        val e = events(s, dir).select("event_id", "user_id", "value")
        Manifest.writeChunked(e, "event_id", 8, path)
      }
      Manifest.stats(s, path, "__chunk", Seq("event_id", "user_id"))
        .orderBy("chunk")
    },
      // the manifest recomputed from its defining formula (chunk = event_id
      // div width, width = max // 8 + 1) — no filesystem dependency: equality
      // with the Spark side (derived from the files actually written) proves
      // the chunked layout landed as designed
      """WITH w AS (SELECT max(event_id) // 8 + 1 AS wd FROM events)
        | SELECT '__chunk=' || CAST(event_id // wd AS VARCHAR) AS chunk,
        |   COUNT(*) AS n_rows,
        |   MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id,
        |   MIN(user_id) AS min_user_id, MAX(user_id) AS max_user_id
        | FROM events, w GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", "")),
    // small-file compaction under the gate: a deliberately fragmented ingest
    // (64 chunk dirs) compacts once per session into ceil(n/25k) range-sorted
    // files; the on-disk file count is require-checked against the plan every
    // pass, and the emitted content checksum pins byte-level preservation
    Query("q_compact_files", (s, dir) => {
      val frag = procTmp("graft_frag_events")
      val out = procTmp("graft_compacted_events")
      if (SessionCache.once(s, s"compact:$dir")) {
        val e = events(s, dir).select("event_id", "user_id", "value")
        Manifest.writeChunked(e, "event_id", 64, frag)
        graft.operators.Layout.compact(
          s.read.parquet(frag).drop("__chunk"), "event_id", out, targetFileRows = 25000L)
      }
      val files = new java.io.File(out).listFiles()
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      val got = s.read.parquet(out)
      got.agg(count(lit(1)).as("n_rows"),
          sum(col("event_id")).as("sum_id"),
          min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))
        .withColumn("n_files", lit(files.toLong))
        .select("n_files", "n_rows", "sum_id", "min_id", "max_id")
    },
      // compaction preserves content exactly and lands the planned file count
      """SELECT GREATEST(1, CAST(ceil(COUNT(*) / 25000.0) AS BIGINT)) AS n_files,
        | COUNT(*) AS n_rows, CAST(SUM(event_id) AS BIGINT) AS sum_id,
        | MIN(event_id) AS min_id, MAX(event_id) AS max_id
        | FROM events""".stripMargin.replace("\n", "")),
    // bucketed co-located join under the gate: both sides pre-shuffled into
    // 8 buckets on the customer key at write time, so the merge join plans
    // with ZERO shuffle exchanges — asserted at runtime on the executed plan
    // (the whole point of paying the write-time shuffle once), while the
    // oracle pins the result to a plain join over the source tables
    Query("q_bucketed_join", (s, dir) => {
      tune(s)
      val lake = graft.sources.Lake(s,
        procTmp("graft_lake_bucketed"))
      // pay the write-time bucketing shuffle ONCE per (session, dir) — the
      // exact economics this operator exists to prove at 100 TB: ingest
      // shuffles once, every later join reads the co-located layout for
      // free. The exchange-free plan require below still runs every pass.
      if (SessionCache.once(s, s"bucketed-write:$dir")) {
        lake.writeBucketed(orders(s, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
          "g_b_orders", Seq("o_custkey"), 8, sortCols = Seq("o_custkey"))
        lake.writeBucketed(customer(s, dir).select("c_custkey", "c_nationkey"),
          "g_b_customer", Seq("c_custkey"), 8, sortCols = Seq("c_custkey"))
      }
      // merge hint: customer is broadcast-small at test SF, which would
      // bypass the bucketed layout this query exists to prove
      val joined = s.table("g_b_orders").hint("merge")
        .join(s.table("g_b_customer"), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join planned a shuffle — co-location lost:\n$plan")
      joined.groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"), Fns.exactSum(col("o_totalprice")).as("total"))
        .orderBy("c_nationkey")
    },
      // the bucketed-layout join must equal the plain join over the sources
      """SELECT c_nationkey, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", "")),
    // hive-partitioned lake read under the gate: write events partitioned by
    // event_type once per session (the writePartitioned scale-sink layout),
    // then prove Catalyst partition-prunes — the executed scan may touch
    // ONLY the one partition directory — and that the pruned aggregate
    // equals the plain filtered aggregate the oracle states
    Query("q_partitioned_read", (s, dir) => {
      tune(s)
      val path = SessionCache.getOrCompute(s, s"partitioned-events:$dir") {
        // pid-qualified path: Bench and Verify can run concurrently on the
        // same sfDir, and a shared tmpdir keyed only by the dir hash races
        // overwrite-against-read between the two JVMs (hex, not math.abs —
        // abs(Int.MinValue) is still negative)
        val p = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_part_events_${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current().pid()}").toString
        events(s, dir).write.mode("overwrite").partitionBy("event_type").parquet(p)
        p
      }
      val read = s.read.parquet(path).filter(col("event_type") === "purchase")
      // runtime proof: the physical scan carries the predicate as a
      // PARTITION filter (directory-level pruning — listing never opens the
      // other partitions' files), not merely a data filter. inputFiles can't
      // check this: it lists the relation's files BEFORE pruning.
      val scan = read.queryExecution.sparkPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      require(scan.exists(_.partitionFilters.exists(
          _.references.exists(_.name == "event_type"))),
        "partition pruning failed — event_type not a partition filter")
      read.groupBy(date_trunc("DAY", col("ts")).as("d"))
        .agg(count(lit(1)).as("n"), Fns.exactSum(col("value")).as("total"))
        .orderBy("d")
    },
      // the partition-pruned read must equal the plain filtered aggregate
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total
        | FROM events WHERE event_type = 'purchase'
        | GROUP BY 1 ORDER BY d""".stripMargin.replace("\n", "")),
    // manifest-driven pruned range read: only chunk dirs whose [min, max]
    // intersects the predicate are scanned at all; the aggregate proves the
    // pruned read equals the full filtered read
    Query("q_pruned_read", (s, dir) => {
      val path = procTmp("graft_chunked_events_pr")
      if (SessionCache.once(s, s"chunked-write-pr:$dir")) {
        val e = events(s, dir).select("event_id", "user_id", "value")
        Manifest.writeChunked(e, "event_id", 8, path)
      }
      // the manifest is the ingest-time artifact a lakehouse keeps hot: derive
      // it once per (session, dir) and persist — per-pass work is then the
      // pruning intersection + the 2-chunk scan, which is the operator
      val man = SessionCache.getOrCompute(s, s"chunked-manifest-pr:$dir") {
        val m = Manifest.stats(s, path, "__chunk", Seq("event_id")).persist()
        m.count() // materialize under the cache key, not on first use
        m
      }
      Manifest.prunedRead(s, path, man, "event_id", 101L, 450L)
        .agg(count(lit(1)).as("n"), Fns.exactSum(col("value")).as("sum_value"),
          min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user"))
    },
      // the pruned read must equal the plain filtered aggregate
      """SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
        | MIN(user_id) AS min_user, MAX(user_id) AS max_user
        | FROM events WHERE event_id BETWEEN 101 AND 450""".stripMargin.replace("\n", "")),
    // partition-spec EVOLUTION on read (Iceberg's "old files keep the old
    // layout" property): generation 1 landed unpartitioned, generation 2
    // hive-partitioned by event_type — one logical table, and the
    // type-filtered union proves gen2 still prunes at the DIRECTORY level
    // (runtime partition-filter assert, q_partitioned_read's proof) while
    // gen1 takes the predicate as an ordinary data filter.
    Query("q_partition_evolution", (s, dir) => {
      tune(s)
      val base = SessionCache.getOrCompute(s, s"part-evo:$dir") {
        val p = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_part_evo_${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current().pid()}").toString
        val e = events(s, dir).select(col("event_id"), col("event_type"), col("value"))
        e.filter(col("event_id") % 2 === 0).write.mode("overwrite").parquet(s"$p/gen1")
        e.filter(col("event_id") % 2 === 1).write.mode("overwrite")
          .partitionBy("event_type").parquet(s"$p/gen2")
        p
      }
      val g1 = s.read.parquet(s"$base/gen1").filter(col("event_type") === "click")
        .select("event_id", "value")
      val g2 = s.read.parquet(s"$base/gen2").filter(col("event_type") === "click")
        .select("event_id", "value")
      val scan = g2.queryExecution.sparkPlan.collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      require(scan.exists(_.partitionFilters.exists(
          _.references.exists(_.name == "event_type"))),
        "partition evolution: gen2 lost directory-level pruning")
      g1.unionByName(g2)
        .agg(count(lit(1)).as("n_rows"), Fns.exactSum(col("value")).as("total"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
    },
      // the union must equal the whole filtered table regardless of layout
      """SELECT COUNT(*) AS n_rows,
        | CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total,
        | MIN(event_id) AS min_id, MAX(event_id) AS max_id
        | FROM events WHERE event_type = 'click'""".stripMargin.replace("\n", ""))
  )

  /** DuckDB word-tokenization fragment shared by the dedup oracles (must stay
    * semantically identical to [[Dedup.tokens]]).
    */
  /** DuckDB dual of the CDC changelog fold ([[cdcChanges]] + Changelog.merge):
    * latest seq per key wins, D removes, untouched keys pass through. Shared
    * by the batch (`q_cdc_merge`) and streaming-replay (`q_stream_cdc`)
    * entries — both must land on the identical snapshot.
    */
  private[suite] val cdcMergeSql =
    """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
      | changes AS (
      |   SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, 'U' AS op, 1 AS seq
      |     FROM base WHERE o_orderkey % 10 = 1
      |   UNION ALL SELECT o_orderkey, o_totalprice * 4, 'U', 2 FROM base WHERE o_orderkey % 100 = 1
      |   UNION ALL SELECT o_orderkey, NULL, 'D', 1 FROM base WHERE o_orderkey % 10 = 0
      |   UNION ALL SELECT o_orderkey + 10000000, o_totalprice, 'I', 1 FROM base),
      | latest AS (SELECT * FROM (
      |   SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
      |   FROM changes) WHERE rn = 1),
      | untouched AS (SELECT * FROM base
      |   WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest))
      | SELECT o_orderkey, o_totalprice FROM untouched
      | UNION ALL SELECT o_orderkey, o_totalprice FROM latest WHERE op <> 'D'""".stripMargin.replace("\n", "")
}
