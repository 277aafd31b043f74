package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-writer DATA-table commits (r13 — the Delta/Iceberg commit protocol
  * in miniature: Lake's staged landing for the data, a [[VersionLog]] for
  * the commits, the same log [[Catalog]] commits through).
  *
  * Layout:
  * {{{
  *   root/<table>/data/<uuid>/        immutable parquet batch dirs
  *   root/<table>/_log/               the table's VersionLog: one manifest
  *                                    per version, claims, the live pointer
  * }}}
  *
  * A manifest records the commit's action, the batch dirs it added/removed,
  * and the FULL live file set after the commit — so a snapshot read is one
  * manifest, never a log replay. Data dirs are immutable once committed:
  * snapshot reads at any retained version stay valid while later commits
  * land (snapshot isolation by construction).
  *
  * Commit protocol (optimistic concurrency):
  *   1. stage data OUTSIDE the lock (parquet write of the new batch);
  *   2. read the current version's file set, apply the edit;
  *   3. claim version N+1 in the log — the compare-and-swap. Exactly one
  *      of two racing writers wins it; the loser re-reads the winner's
  *      manifest and checks FILE-SET OVERLAP: if the loser's removed dirs
  *      are untouched by the winner (e.g. two appends, or compactions of
  *      disjoint regions), it REBASES onto the new current and retries; if
  *      they overlap (both rewrote the same batch), it aborts with
  *      `ConcurrentModificationException` — the caller must re-plan against
  *      the new table state, exactly Delta's conflict rule;
  *   4. the manifest lands (a no-overwrite rename), then the pointer moves
  *      forward (a one-step replacing rename).
  *
  * Scale: the log is O(commits) tiny text files and each manifest is
  * O(live batch dirs) — metadata-scale, never O(data). Appends stage their
  * parquet fully parallel and only serialize on the (driver-side, O(files))
  * claim/rename section, so N concurrent appenders cost N staging writes +
  * N tiny rebase loops, not N table rewrites.
  *
  * CROSS-PROCESS CONTRACT (r16, stated explicitly): manifests and data dirs
  * are immutable once landed and the pointer only ever moves forward
  * (publishPointer), so ANY number of processes may read concurrently with
  * ANY writer — snapshot reads, history walks and pointer polls are safe
  * under live commits/compaction/vacuum from another process (spec-pinned:
  * TxTableSpec's CROSS-PROCESS reader arm runs a second JVM against a live
  * writer). Sequential cross-process WRITERS adopt and extend each other's
  * logs (spec-pinned: the CROSS-PROCESS commits arm). Same-INSTANT writer
  * races are store-dependent: the claim-file CAS is atomic on HDFS/object
  * stores (the deployment target), best-effort on a local FS where
  * create-exclusive is exists+create — single-writer-per-process is the
  * supported local-FS contract.
  *
  * r14 — the two pieces that complete the protocol:
  *   - CHECKPOINTS: every `checkpointInterval`-th commit also writes
  *     `_ckpt_v{N}` (full live file set + cumulative idempotency-token set),
  *     so cold readers resolve `checkpoint + manifest tail` instead of
  *     replaying the whole log; [[expireManifests]] then prunes manifests
  *     below the checkpoint (the Delta checkpoint + log-retention move).
  *     [[history]], [[committedTxns]] and [[vacuum]]'s protected set all
  *     become O(tail), invariant in table age.
  *   - STALE-CLAIM RECONCILIATION: a writer that crashes between claiming
  *     version N+1 and landing its manifest no longer wedges the table — a
  *     claim with no manifest after `staleClaimMs` is provably dead and any
  *     contending writer deletes it and retries.
  */
final case class TxTable(spark: SparkSession, root: String, name: String,
    checkpointInterval: Int = 10, staleClaimMs: Long = 30000L) {
  import TxTable.{Checkpoint, Manifest}

  private val dir = s"$root/$name"
  private val dataDir = new Path(dir, "data")
  private val log = new VersionLog(new Path(dir, "_log"), spark.sparkContext.hadoopConfiguration)

  private def fs: FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def currentVersion: Long = log.currentVersion

  private def checkpointPath(v: Long): Path = new Path(log.dir, f"_ckpt_v$v%08d")

  /** Versions whose manifest is still on disk, ascending. After
    * [[expireManifests]] this is a contiguous tail ending at
    * [[currentVersion]] (expiry only ever removes below a checkpoint).
    */
  private def manifestVersions: Seq[Long] = log.versions

  /** The newest checkpoint at or below the current version, if any. One
    * log-dir listing + one small file read — metadata scale.
    */
  def latestCheckpoint: Option[Checkpoint] = {
    val vs = log.names
      .filter(_.matches("_ckpt_v\\d{8}")).map(_.stripPrefix("_ckpt_v").toLong)
    val cur = currentVersion
    vs.filter(_ <= cur).sorted.lastOption.map { v =>
      val lines = log.lines(checkpointPath(v))
      Checkpoint(v,
        lines.filter(_.startsWith("F ")).map(_.drop(2)),
        lines.filter(_.startsWith("T ")).map(_.drop(2)).toSet)
    }
  }

  /** Delete manifests strictly below the latest checkpoint — the Delta log
    * cleanup. Snapshot reads at expired versions become unavailable, and
    * batch dirs referenced ONLY by expired manifests become vacuum-eligible
    * (exactly Delta's log-retention + VACUUM contract). The checkpoint
    * carries everything readers of live state need.
    */
  def expireManifests(): Seq[String] = log.lock.synchronized {
    latestCheckpoint match {
      case None => Seq.empty
      case Some(c) => manifestVersions.filter(_ < c.version).map { v =>
        val p = log.versionPath(v); log.delete(p); p.toString
      }
    }
  }

  def manifest(v: Long): Manifest = {
    val p = log.versionPath(v)
    require(log.exists(p), s"table $name has no manifest v$v")
    val lines = log.lines(p)
    def section(tag: String): Seq[String] =
      lines.filter(_.startsWith(tag + " ")).map(_.drop(tag.length + 1))
    Manifest(v, lines.head.stripPrefix("action="),
      section("A"), section("R"), section("F"), section("T").headOption)
  }

  /** All retained manifests, oldest first — the full log before any
    * [[expireManifests]], the post-checkpoint tail after (O(tail), not
    * O(all commits) — r14).
    */
  def history: Seq[Manifest] = manifestVersions.map(manifest)

  /** The table at version `v` (default: live). Reads only the manifest's
    * immutable batch dirs — a plain parquet scan, pushdown intact.
    */
  def snapshot(v: Long = currentVersion): DataFrame = {
    require(v > 0, s"table $name has no committed version")
    val m = manifest(v)
    if (m.files.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(m.files: _*)
  }

  /** Append a batch: stage parquet, commit (add=the new dir, remove=∅).
    * Appends never truly conflict — a CAS loss always rebases and retries.
    */
  def append(df: DataFrame, partitions: Int = 1): Long = {
    val staged = stage(df, partitions)
    commit("append", add = Seq(staged), remove = Nil).get
  }

  /** Idempotent append keyed by (writerId, batchId) — the Delta
    * txnAppId/txnVersion pattern in miniature, and exactly the
    * `foreachBatch` sink contract: a micro-batch REDELIVERED after a
    * failure/restart (same writer, same batch id) must not double-append.
    * The token rides the commit manifest, so the dedup check and the commit
    * are one atomic step: the token is re-checked against the LIVE history
    * inside the commit lock on every (rebase) attempt — two racing
    * deliveries of one batch can never both land. Returns the committed
    * version, or None when the token was already committed (the staged
    * parquet is discarded).
    */
  def appendIdempotent(df: DataFrame, writerId: String, batchId: Long,
      partitions: Int = 1): Option[Long] = {
    val tag = s"$writerId:$batchId"
    if (committedTxns.contains(tag)) return None // cheap pre-check, no staging
    val staged = stage(df, partitions)
    val v = commit("append", add = Seq(staged), remove = Nil, txn = Some(tag))
    if (v.isEmpty) fs.delete(new Path(staged), true) // lost the txn race
    v
  }

  /** All idempotency tokens in the retained history, incrementally cached:
    * only manifests beyond the last cached version are read, so the
    * inside-the-lock token check is O(new commits), not O(all history) per
    * attempt (r13 review finding).
    */
  def committedTxns: Set[String] = log.lock.synchronized {
    val v = currentVersion
    val (cachedV, cachedSet) = txnCache
    if (v == cachedV) cachedSet
    else {
      // cold start resolves checkpoint + tail (r14): a fresh reader of a
      // long-lived table reads ONE checkpoint file plus the post-checkpoint
      // manifests, never the full log (which may be expired anyway)
      val (baseV, baseSet) =
        if (cachedV == 0L)
          latestCheckpoint.map(c => (c.version, c.txns)).getOrElse((0L, Set.empty[String]))
        else (cachedV, cachedSet)
      val merged = baseSet ++ ((baseV + 1) to v).flatMap(manifest(_).txn)
      txnCache = (v, merged)
      merged
    }
  }

  @volatile private var txnCache: (Long, Set[String]) = (0L, Set.empty)

  /** Compact the given batch dirs (default: all live) into one rewritten
    * batch: the remove side is what makes two compactions of the same dirs
    * CONFLICT rather than silently double-apply.
    */
  def compact(target: Option[Seq[String]] = None, partitions: Int = 1): Long = {
    val v = currentVersion
    val victims = target.getOrElse(manifest(v).files)
    require(victims.nonEmpty, "nothing to compact")
    val staged = stage(spark.read.parquet(victims: _*), partitions)
    commit("compact", add = Seq(staged), remove = victims).get
  }

  /** Physically delete batch dirs no retained manifest references — safe
    * because [[history]] is the full retained log. Run after readers of
    * pruned versions have drained (the VACUUM contract).
    */
  def vacuum(retentionMs: Long = 3600000L): Seq[String] = {
    // manifests record writer-side path strings; listStatus returns
    // FS-qualified URIs — compare on the scheme-free path component.
    // The retention window protects STAGED-BUT-UNCOMMITTED batches of
    // in-flight writers (r13 review finding: an ageless vacuum could delete
    // a dir between a writer's stage() and its commit, and the subsequent
    // commit would then reference a dead dir) — the Delta retention rule.
    // r14: the protected set is checkpoint ∪ retained tail — O(tail + 1)
    // small files, not O(all commits). Before any expiry this equals the
    // full-history union (a checkpoint's files are a subset of the live
    // sets recorded by the manifests at and after it).
    val live = (latestCheckpoint.map(_.files).getOrElse(Seq.empty) ++
      history.flatMap(_.files)).map(f => new Path(f).toUri.getPath).toSet
    val cutoff = System.currentTimeMillis() - retentionMs
    if (!fs.exists(dataDir)) Seq.empty
    else fs.listStatus(dataDir)
      .filter(st => st.getModificationTime < cutoff && !live(st.getPath.toUri.getPath))
      .map { st => fs.delete(st.getPath, true); st.getPath.toString }.toSeq
  }

  private def stage(df: DataFrame, partitions: Int): String = {
    val staged = new Path(dataDir, java.util.UUID.randomUUID().toString.take(12))
    df.repartition(partitions).write.parquet(staged.toString)
    staged.toString
  }

  /** The log's monotonic pointer publication ([[VersionLog.publishPointer]]),
    * which the commit path and orphan adoption both go through.
    */
  private[graft] def publishPointer(next: Long, tag: String): Unit =
    log.publishPointer(next, tag)

  /** Returns Some(version) on commit, or None when `txn` is set and its
    * token already rides a retained manifest (the idempotent-skip). The
    * token check happens INSIDE the lock on every attempt, so it sees every
    * interleaved commit.
    */
  private def commit(action: String, add: Seq[String], remove: Seq[String],
      txn: Option[String] = None): Option[Long] = {
    var attempt = 0
    while (true) {
      // Left(nextTried) = CAS lost (retry/rebase — carries the version we
      // contended on so the reconciliation below can inspect ITS claim);
      // Right(None) = txn already committed (idempotent skip);
      // Right(Some(v)) = committed as v
      val committed: Either[Long, Option[Long]] = log.lock.synchronized {
        val v = currentVersion
        if (txn.exists(t => committedTxns.contains(t))) Right(None)
        else {
          val base = if (v == 0) Seq.empty[String] else manifest(v).files
          val missing = remove.filterNot(base.contains)
          if (missing.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"table $name commit conflict: batch(es) ${missing.mkString(", ")} " +
                "no longer live (rewritten or removed by a concurrent commit)")
          val next = v + 1
          val files = base.filterNot(remove.toSet) ++ add
          val body = s"action=$action" +: (add.map("A " + _) ++
            remove.map("R " + _) ++ files.map("F " + _) ++ txn.map("T " + _).toSeq)
          // claim (the CAS) then land the manifest; either lost = retry
          if (!log.claim(next) || !log.land(next, body)) Left(next)
          else {
            // readers either see the old pointer or the new one, never a
            // missing-pointer window — and never a BACKWARD move (a paused
            // writer resuming after its manifest was adopted skips the swap)
            publishPointer(next, "tmp")
            // checkpoint cadence (r14): every `checkpointInterval`-th commit
            // snapshots the full state (live files + cumulative txn set) —
            // written INSIDE the lock by the winner, via the same
            // tmp-then-rename discipline, so readers never see a partial
            // checkpoint. committedTxns here already includes this commit's
            // token (the pointer moved above). BEST-EFFORT (r14 self-review):
            // the commit is already durable once the pointer moved — a
            // checkpoint I/O failure must not surface as a failed commit
            // (the caller would retry a committed append and double-write);
            // the next interval simply re-attempts.
            if (checkpointInterval > 0 && next % checkpointInterval == 0) {
              try log.put(checkpointPath(next), f"ckpt=v$next%08d" +: (files.map("F " + _) ++
                committedTxns.toSeq.sorted.map("T " + _)))
              catch {
                case scala.util.control.NonFatal(e) =>
                  System.err.println(
                    s"[txtable] $name: best-effort checkpoint v$next skipped: $e")
              }
            }
            Right(Some(next))
          }
        }
      }
      committed match {
        case Right(result) => return result
        case Left(next) =>
          // CAS lost: rebase if our removes are untouched by the interleaved
          // commits, else surface the conflict (the overlap rule). The
          // missing-batch check at the top of the next iteration enforces
          // remove-overlap; appends (remove = ∅) always pass and retry.
          attempt += 1
          if (attempt > 16)
            throw new java.util.ConcurrentModificationException(
              s"table $name commit conflict: claim contention persisted for " +
                s"$attempt attempts (an orphaned ${log.claimPath(next).getName} from a " +
                "crashed writer reconciles after the stale-claim window)")
          // stale-claim reconciliation (r14 advisor, the medium finding): a
          // writer that died BETWEEN claim-create and manifest-rename leaves
          // the claim on `next` with no manifest and the pointer parked —
          // every future commit would contend on next forever, wedging the table
          // with no recovery path. A claim whose manifest never landed
          // within `staleClaimMs` is provably dead (a live winner writes the
          // manifest milliseconds after claiming), so the loser deletes it
          // and retries the CAS. A healthy winner is unaffected: its
          // manifest exists by the time anyone's clock window expires.
          val staleClaim = log.claimPath(next)
          if (!log.exists(log.versionPath(next)) && log.ageMs(staleClaim).exists(_ > staleClaimMs))
            log.delete(staleClaim)
          // ORPHANED-MANIFEST ADOPTION (r14 self-review, the no-overwrite
          // rename's twin): a writer that crashed between manifest rename
          // and pointer swap leaves a COMPLETE manifest (tmp-then-rename —
          // the name never maps to a partial file) that the no-overwrite
          // landing would block on forever. The manifest IS the commit's
          // content; any contender publishes the pointer itself and retries
          // on top. The swap is idempotent-by-value, so the original writer
          // resuming and re-swapping (or two adopters racing) is harmless.
          if (log.exists(log.versionPath(next)) && currentVersion < next) {
            log.lock.synchronized {
              // publishPointer re-checks >= next right before the rename and
              // forward-repairs after it, so a cross-process contender racing
              // this adoption can no longer be regressed (the lock is
              // JVM-local and cannot fence another process)
              publishPointer(next, "adopt")
            }
          }
          // exponential backoff before rebasing: a cross-process loser spins
          // sub-millisecond per attempt, faster than the winner's
          // manifest-write + renames — without a wait, 16 retries can
          // exhaust while the winner is still mid-commit (r13 review)
          Thread.sleep(math.min(200L, 2L << math.min(attempt, 6)))
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

object TxTable {
  /** One committed version: the action tag, the batch dirs this commit
    * added/removed, the full live set after it, and the optional idempotency
    * token (`writerId:batchId`) of an [[TxTable#appendIdempotent]] commit.
    */
  final case class Manifest(version: Long, action: String,
      added: Seq[String], removed: Seq[String], files: Seq[String],
      txn: Option[String] = None)

  /** A checkpoint: the FULL table state at `version` — live file set plus
    * every idempotency token committed up to it — so readers resolve
    * `state = checkpoint + manifest tail` instead of replaying the whole
    * log (the Delta checkpoint move, r14 verdict ask #3).
    */
  final case class Checkpoint(version: Long, files: Seq[String], txns: Set[String])
}
