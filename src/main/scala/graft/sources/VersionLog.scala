package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileAlreadyExistsException, FileContext, FileSystem, Options, Path, RawLocalFileSystem}

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

/** The optimistic-commit log behind the lake's two versioned tables,
  * [[Catalog]] and [[TxTable]] — the Delta-log pointer protocol in
  * miniature. One directory holds:
  * {{{
  *   dir/v00000001      one text file per committed version (its lines are
  *                      the caller's: a catalog snapshot, a table manifest)
  *   dir/_claim_vN      create-exclusive claim on version N (the CAS)
  *   dir/_CURRENT       one-line pointer naming the live version
  * }}}
  * A commit of version N is: [[claim]] N (of two racing writers exactly one
  * creates the claim), [[land]] its lines (tmp write, then a no-overwrite
  * rename — the landed file IS the durable commit), [[publishPointer]]
  * (atomic replacing rename, only ever forward). Readers resolve the pointer
  * once and read an immutable version file: the pointer is never missing
  * and never moves backward.
  *
  * Same-JVM writers serialize on [[lock]], one monitor per log directory:
  * on a local FS create-exclusive is exists-check + create, not atomic.
  * Across processes the claim file alone carries the CAS (atomic on
  * HDFS-like stores, best-effort on a local FS).
  *
  * Log files are written without checksum sidecars. A local FS renames a
  * file and its `.crc` in two steps, so a reader between them would check
  * the new pointer against the old checksum — and on a checksum failure the
  * local FS moves the file away into a `bad_files` directory.
  */
private[sources] final class VersionLog(val dir: Path, conf: Configuration) {

  private val fs: FileSystem = dir.getFileSystem(conf) match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }
  private def fc: FileContext = FileContext.getFileContext(dir.toUri, conf)
  private val pointer = new Path(dir, "_CURRENT")
  private def pid: Long = ProcessHandle.current().pid()

  /** The JVM-wide commit monitor of this log directory. */
  val lock: AnyRef = VersionLog.locks.computeIfAbsent(dir.toString, _ => new Object)

  def versionPath(v: Long): Path = new Path(dir, f"v$v%08d")
  def claimPath(v: Long): Path = new Path(dir, f"_claim_v$v%08d")

  /** The live version, 0 if the log has never committed. */
  def currentVersion: Long =
    if (!fs.exists(pointer)) 0L else lines(pointer).mkString.trim.stripPrefix("v").toLong

  /** Names in the log directory (none when it does not exist yet). */
  def names: Seq[String] =
    if (!fs.exists(dir)) Seq.empty else fs.listStatus(dir).toSeq.map(_.getPath.getName)

  /** Versions whose file is on disk, ascending. */
  def versions: Seq[Long] = names.filter(_.matches("v\\d{8}")).map(_.drop(1).toLong).sorted

  def exists(p: Path): Boolean = fs.exists(p)
  def delete(p: Path): Boolean = fs.delete(p, false)

  /** Milliseconds since `p` was last modified, None when it is absent. */
  def ageMs(p: Path): Option[Long] =
    try Some(System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime)
    catch { case _: FileNotFoundException => None }

  def lines(p: Path): List[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  private def writeTmp(name: String, body: Seq[String]): Path = {
    val tmp = new Path(dir, s"$name.$pid")
    val out = fs.create(tmp, true)
    try out.write(body.mkString("\n").getBytes(UTF_8)) finally out.close()
    tmp
  }

  /** Writes a side file of the log (a checkpoint) by tmp write + rename. */
  def put(p: Path, body: Seq[String]): Unit = {
    val tmp = writeTmp(s".${p.getName}.tmp", body)
    if (!fs.rename(tmp, p)) { fs.delete(tmp, false); throw new IOException(s"could not land $p") }
  }

  /** The CAS: creates `_claim_v{v}`, false when another writer holds it.
    * Only already-exists reads as a lost claim; any other IOException (disk
    * full, permission denied) is a real failure and surfaces.
    */
  def claim(v: Long): Boolean = {
    val c = claimPath(v)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    try { fs.create(c, false).close(); true }
    catch {
      case _: FileAlreadyExistsException | _: java.nio.file.FileAlreadyExistsException => false
      case e: IOException => if (fs.exists(c)) false else throw e
    }
  }

  /** Lands version `v`'s lines under a held claim; false when the version
    * was lost after all:
    *   - paused-writer guard: OUR claim vanished since [[claim]] — a
    *     reconciler declared this writer dead (a pause outlasted its stale
    *     window) and the version may already belong to someone else;
    *   - no-overwrite rename: `Rename.NONE` refuses an existing version
    *     file, so even a claim reconciled AND re-won between the check and
    *     the rename cannot clobber a committed version.
    */
  def land(v: Long, body: Seq[String]): Boolean = {
    val tmp = writeTmp(s".v$v.tmp", body)
    val landed = fs.exists(claimPath(v)) &&
      (try { fc.rename(tmp, versionPath(v), Options.Rename.NONE); true }
       catch { case _: FileAlreadyExistsException | _: java.nio.file.FileAlreadyExistsException => false })
    if (!landed) fs.delete(tmp, false)
    landed
  }

  /** Renames `src` over `dst` in one step. FileContext's `Rename.OVERWRITE`
    * is that step on HDFS, but on a local FS it falls back to Hadoop's
    * generic delete-then-rename, and a reader in between finds no `dst`;
    * there the raw rename is rename(2), which replaces `dst` atomically.
    */
  private def replace(src: Path, dst: Path): Unit = fs match {
    case local: RawLocalFileSystem =>
      if (!local.rename(src, dst)) throw new IOException(s"could not rename $src to $dst")
    case _ => fc.rename(src, dst, Options.Rename.OVERWRITE)
  }

  /** MONOTONIC pointer publication: every `_CURRENT` swap goes through
    * here. A writer that paused between landing its version and this swap
    * may resume after a contender adopted that version and committed more;
    * an unconditional overwrite would move the pointer BACKWARD. Two
    * defenses, both metadata-scale:
    *   1. skip-if-current: re-read the pointer right before the rename and
    *      skip when it already names a version >= `next`;
    *   2. post-verify + forward repair: after OUR rename, re-read the
    *      pointer against the max LANDED version (landing is the durable
    *      commit, the pointer only publication) and re-publish forward if a
    *      higher one got regressed. Each round only moves the pointer up.
    * The swap replaces the pointer in one step ([[replace]]): readers see
    * the old pointer or the new one, never a missing pointer.
    */
  def publishPointer(next: Long, tag: String): Unit = {
    var target = next
    var rounds = 0
    while (rounds < 64) {
      rounds += 1
      if (currentVersion >= target) return
      replace(writeTmp(s"_CURRENT.$tag", Seq(f"v$target%08d")), pointer)
      val maxLanded = versions.lastOption.getOrElse(target)
      if (maxLanded <= target || currentVersion >= maxLanded) return
      target = maxLanded // our overwrite regressed a later commit: repair forward
    }
    // 64 lost races in a row means a sustained cross-process commit stream
    // kept outrunning the repair — the pointer may briefly trail the max
    // landed version until the NEXT commit's publish walks it forward.
    System.err.println(s"[versionlog] $dir: pointer repair gave up after 64 " +
      s"rounds at v$target — a later commit's publish will complete the walk")
  }
}

private object VersionLog {
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
}
