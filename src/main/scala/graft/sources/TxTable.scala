package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-writer DATA-table commits (r13 — the Delta/Iceberg commit protocol
  * in miniature, composing the two single-sided pieces the lake already had:
  * [[Catalog]]'s pointer-CAS transaction log for *metadata* and Lake's WAP
  * for single-writer *data* promotion).
  *
  * Layout:
  * {{{
  *   root/<table>/data/<uuid>/        immutable parquet batch dirs
  *   root/<table>/_log/v00000001      commit manifest (text, one per version)
  *   root/<table>/_log/_claim_vN      create-exclusive commit claim (the CAS)
  *   root/<table>/_log/_CURRENT       live-version pointer
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
  *   3. create-exclusive `_claim_v{N+1}` — the compare-and-swap. Exactly one
  *      of two racing writers creates it; the loser re-reads the winner's
  *      manifest and checks FILE-SET OVERLAP: if the loser's removed dirs
  *      are untouched by the winner (e.g. two appends, or compactions of
  *      disjoint regions), it REBASES onto the new current and retries; if
  *      they overlap (both rewrote the same batch), it aborts with
  *      `ConcurrentModificationException` — the caller must re-plan against
  *      the new table state, exactly Delta's conflict rule;
  *   4. manifest lands via write-temp + same-dir rename, then the `_CURRENT`
  *      pointer swaps the same way (the atomic primitive every HDFS-like
  *      store guarantees).
  *
  * Scale: the log is O(commits) tiny text files and each manifest is
  * O(live batch dirs) — metadata-scale, never O(data). Appends stage their
  * parquet fully parallel and only serialize on the (driver-side, O(files))
  * claim/rename section, so N concurrent appenders cost N staging writes +
  * N tiny rebase loops, not N table rewrites. Same-JVM racers additionally
  * serialize on a per-root monitor ([[Catalog]]'s r11 lesson: local-FS
  * create-exclusive is exists+create, not atomic; on HDFS/object stores the
  * claim file alone carries cross-process safety).
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
  *   - STALE-CLAIM RECONCILIATION: a writer that crashes between creating
  *     `_claim_v{N+1}` and landing the manifest no longer wedges the table —
  *     a claim with no manifest after `staleClaimMs` is provably dead and
  *     any contending writer deletes it and retries (advisor finding; the
  *     claim-create catch is correspondingly narrowed so only
  *     already-exists reads as contention — disk-full/permission errors
  *     surface immediately).
  */
final case class TxTable(spark: SparkSession, root: String, name: String,
    checkpointInterval: Int = 10, staleClaimMs: Long = 30000L) {
  import TxTable.{Checkpoint, Manifest}

  private val dir = s"$root/$name"
  private val logDir = new Path(dir, "_log")
  private val dataDir = new Path(dir, "data")
  private val currentPtr = new Path(logDir, "_CURRENT")

  private def fs: FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** FileContext for the ATOMIC overwrite rename (`Options.Rename.OVERWRITE`)
    * — the old FileSystem.rename path needed delete-then-rename for the
    * pointer swap, opening a window where readers saw no `_CURRENT` at all
    * (r13 review finding). FileContext's overwrite rename is the real
    * same-directory atomic primitive on HDFS-like stores AND local FS.
    */
  private def fc: org.apache.hadoop.fs.FileContext =
    org.apache.hadoop.fs.FileContext.getFileContext(
      new Path(dir).toUri, spark.sparkContext.hadoopConfiguration)

  def currentVersion: Long =
    if (!fs.exists(currentPtr)) 0L
    else {
      val in = fs.open(currentPtr)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.stripPrefix("v").toLong
      finally in.close()
    }

  private def manifestPath(v: Long): Path = new Path(logDir, f"v$v%08d")
  private def checkpointPath(v: Long): Path = new Path(logDir, f"_ckpt_v$v%08d")

  /** Versions whose manifest is still on disk, ascending. After
    * [[expireManifests]] this is a contiguous tail ending at
    * [[currentVersion]] (expiry only ever removes below a checkpoint).
    */
  private def manifestVersions: Seq[Long] =
    if (!fs.exists(logDir)) Seq.empty
    else fs.listStatus(logDir).map(_.getPath.getName)
      .filter(_.matches("v\\d{8}")).map(_.drop(1).toLong).sorted.toSeq

  /** The newest checkpoint at or below the current version, if any. One
    * log-dir listing + one small file read — metadata scale.
    */
  def latestCheckpoint: Option[Checkpoint] = {
    if (!fs.exists(logDir)) return None
    val vs = fs.listStatus(logDir).map(_.getPath.getName)
      .filter(_.matches("_ckpt_v\\d{8}")).map(_.stripPrefix("_ckpt_v").toLong)
    val cur = currentVersion
    vs.filter(_ <= cur).sorted.lastOption.map { v =>
      val in = fs.open(checkpointPath(v))
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
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
  def expireManifests(): Seq[String] = TxTable.rootLock(dir).synchronized {
    latestCheckpoint match {
      case None => Seq.empty
      case Some(c) => manifestVersions.filter(_ < c.version).map { v =>
        val p = manifestPath(v); fs.delete(p, false); p.toString
      }
    }
  }

  def manifest(v: Long): Manifest = {
    val p = manifestPath(v)
    require(fs.exists(p), s"table $name has no manifest v$v")
    val in = fs.open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
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
  def committedTxns: Set[String] = TxTable.rootLock(dir).synchronized {
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

  /** MONOTONIC pointer publication (r15 advisor, the medium finding): every
    * `_CURRENT` swap — main commit path and orphan adoption alike — goes
    * through here. Without the guard, a writer that paused between its
    * manifest rename and its pointer swap could resume AFTER a contender has
    * adopted its manifest and committed further versions, and its
    * unconditional Rename.OVERWRITE would move the pointer BACKWARD —
    * readers would see stale versions until a later contender happened to
    * walk the pointer forward, each walk burning one of the 16 retry
    * attempts. Two defenses, both metadata-scale:
    *   1. skip-if-current: re-read the pointer immediately before the
    *      rename and skip when it already names a version >= `next` (the
    *      common case after an adoption race — zero extra renames);
    *   2. post-verify + forward repair: the check-then-rename window is
    *      still a window, so after OUR rename re-read the pointer against
    *      the max LANDED manifest (a manifest's rename IS the durable
    *      commit; the pointer is only publication) and re-publish forward
    *      if a higher committed version got regressed. The walk terminates
    *      because versions are finite and each round only ever moves the
    *      pointer up.
    */
  private[graft] def publishPointer(next: Long, tag: String): Unit = {
    var target = next
    var rounds = 0
    while (rounds < 64) {
      rounds += 1
      if (currentVersion >= target) return
      val ptrTmp = new Path(logDir, s"_CURRENT.$tag.${ProcessHandle.current().pid()}")
      val pout = fs.create(ptrTmp, true)
      try pout.write(f"v$target%08d".getBytes("UTF-8")) finally pout.close()
      fc.rename(ptrTmp, currentPtr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      val maxLanded = manifestVersions.lastOption.getOrElse(target)
      if (maxLanded <= target || currentVersion >= maxLanded) return
      target = maxLanded // our overwrite regressed a later commit: repair forward
    }
    // 64 lost races in a row means a sustained cross-process commit stream
    // kept outrunning the repair — the pointer may briefly trail the max
    // landed manifest until the NEXT commit's publish walks it forward
    // (every commit path runs this repair). Observable, never silent
    // (r15 self-review): readers of live state deserve the breadcrumb.
    System.err.println(s"[txtable] $name: pointer repair gave up after 64 " +
      s"rounds at v$target — a later commit's publish will complete the walk")
  }

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
      val committed: Either[Long, Option[Long]] = TxTable.rootLock(dir).synchronized {
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
          val claim = new Path(logDir, f"_claim_v$next%08d")
          if (!fs.exists(logDir)) fs.mkdirs(logDir)
          // r14 advisor: the claim catch is NARROW — only already-exists
          // reads as CAS-lost. Any other IOException (disk full, permission
          // denied) is a real failure and must surface, not spin 16 retries
          // as phantom contention.
          val claimed =
            try { fs.create(claim, false).close(); true }
            catch {
              case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
              case _: java.nio.file.FileAlreadyExistsException => false
              case e: java.io.IOException =>
                if (fs.exists(claim)) false else throw e
            }
          if (claimed) {
            val files = base.filterNot(remove.toSet) ++ add
            val body = (s"action=$action" +: (add.map("A " + _) ++
              remove.map("R " + _) ++ files.map("F " + _) ++
              txn.map("T " + _).toSeq)).mkString("\n")
            val tmp = new Path(logDir, s".v$next.tmp.${ProcessHandle.current().pid()}")
            val out = fs.create(tmp, true)
            try out.write(body.getBytes("UTF-8")) finally out.close()
            // paused-writer guard (r14 self-review): if OUR claim vanished
            // between claim-create and here, a reconciler declared this
            // writer dead (a GC/IO pause outlasted staleClaimMs) and the
            // version may already belong to someone else — renaming over
            // their manifest would be a silent lost update. Treat as
            // CAS-lost and retry at the next version.
            if (!fs.exists(claim)) {
              fs.delete(tmp, false)
              Left(next)
            } else {
            // NO-OVERWRITE rename (r14 self-review): Rename.NONE refuses an
            // existing destination, so even the residual race (claim
            // reconciled AND a new winner committed between the exists
            // check above and this rename) cannot clobber a committed
            // manifest — the resumed writer fails here and retries. POSIX
            // rename(2) overwrites; FileContext's NONE option adds the
            // destination check, shrinking the unsafe window from an
            // unbounded pause to Hadoop's internal check-then-rename.
            val renamed =
              try { fc.rename(tmp, manifestPath(next),
                org.apache.hadoop.fs.Options.Rename.NONE); true }
              catch {
                case _: org.apache.hadoop.fs.FileAlreadyExistsException
                     | _: java.nio.file.FileAlreadyExistsException =>
                  fs.delete(tmp, false); false
              }
            if (!renamed) Left(next)
            else {
            // ATOMIC overwrite rename via the monotonic publisher: readers
            // either see the old pointer or the new one, never a
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
              try {
                val body = (f"ckpt=v$next%08d" +: (files.map("F " + _) ++
                  committedTxns.toSeq.sorted.map("T " + _))).mkString("\n")
                val ctmp = new Path(logDir, s"._ckpt.tmp.${ProcessHandle.current().pid()}")
                val cout = fs.create(ctmp, true)
                try cout.write(body.getBytes("UTF-8")) finally cout.close()
                if (!fs.rename(ctmp, checkpointPath(next)))
                  throw new java.io.IOException("checkpoint rename failed")
              } catch {
                case scala.util.control.NonFatal(e) =>
                  System.err.println(
                    s"[txtable] $name: best-effort checkpoint v$next skipped: $e")
              }
            }
            Right(Some(next))
            }
            }
          } else Left(next)
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
                f"$attempt attempts (an orphaned _claim_v$next%08d from a " +
                "crashed writer reconciles after the stale-claim window)")
          // stale-claim reconciliation (r14 advisor, the medium finding): a
          // writer that died BETWEEN claim-create and manifest-rename leaves
          // `_claim_v{next}` with no manifest and the pointer parked — every
          // future commit would contend on next forever, wedging the table
          // with no recovery path. A claim whose manifest never landed
          // within `staleClaimMs` is provably dead (a live winner writes the
          // manifest milliseconds after claiming), so the loser deletes it
          // and retries the CAS. A healthy winner is unaffected: its
          // manifest exists by the time anyone's clock window expires.
          val staleClaim = new Path(logDir, f"_claim_v$next%08d")
          val stale = try {
            fs.exists(staleClaim) && !fs.exists(manifestPath(next)) &&
              System.currentTimeMillis() -
                fs.getFileStatus(staleClaim).getModificationTime > staleClaimMs
          } catch { case _: java.io.FileNotFoundException => false }
          if (stale) fs.delete(staleClaim, false)
          // ORPHANED-MANIFEST ADOPTION (r14 self-review, the no-overwrite
          // rename's twin): a writer that crashed between manifest rename
          // and pointer swap leaves a COMPLETE manifest (tmp-then-rename —
          // the name never maps to a partial file) that Rename.NONE would
          // now block on forever. The manifest IS the commit's content; any
          // contender publishes the pointer itself and retries on top. The
          // swap is idempotent-by-value, so the original writer resuming
          // and re-swapping (or two adopters racing) is harmless.
          if (fs.exists(manifestPath(next)) && currentVersion < next) {
            TxTable.rootLock(dir).synchronized {
              // publishPointer re-checks >= next right before the rename and
              // forward-repairs after it, so a cross-process contender racing
              // this adoption can no longer be regressed (rootLock is
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

  // one commit monitor per table dir within this JVM (see Catalog.rootLock)
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def rootLock(dir: String): Object =
    locks.computeIfAbsent(dir, _ => new Object)
}
