package graft

import org.apache.spark.sql.SparkSession

/** Session-scoped memoization used by the table catalog and the IVF/centroid
  * index caches.
  *
  * Keys are the session OBJECT through a weak-keyed map — not
  * `System.identityHashCode`, which is neither unique nor stable across GC
  * (a recycled hash would hand a later session a DataFrame bound to a dead
  * SparkContext, or silently skip one-time session setup).
  *
  * Lifetime: cached values (DataFrames) strongly reference their session, so
  * weak keys alone cannot collect an entry (the classic WeakHashMap
  * value→key pitfall); eviction is explicit instead — one listener PER
  * CONTEXT (not per session: a per-session listener closure would strongly
  * capture the session on the listener bus, pinning every `newSession()`
  * child for the context's life) clears all that context's sessions when the
  * context ends, unpersisting any cached Datasets so `.cache()`d index blocks
  * (IVF centroids/assignments) are released with the entry. Sessions sharing
  * one long-lived context keep their entries for the context's life: bounded
  * by (sessions × sf dirs), a handful in any harness; [[evict]] is the
  * explicit release valve for a churny caller.
  */
object SessionCache {

  private val maps =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, AnyRef]]()

  // contexts that already carry the eviction listener; weak so the set never
  // extends a stopped context's life
  private val listened = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean]())

  private def release(m: java.util.concurrent.ConcurrentHashMap[String, AnyRef]): Unit =
    m.values().forEach {
      case d: org.apache.spark.sql.Dataset[_] =>
        try d.unpersist(blocking = false) catch { case _: IllegalStateException => () }
      case _ => ()
    }

  /** Drop (and unpersist) everything cached for `s`. */
  def evict(s: SparkSession): Unit = maps.synchronized {
    val m = maps.remove(s)
    if (m != null) release(m)
  }

  private def of(s: SparkSession): java.util.concurrent.ConcurrentHashMap[String, AnyRef] =
    maps.synchronized {
      var m = maps.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
        maps.put(s, m)
        val sc = s.sparkContext
        if (listened.add(sc)) {
          sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
            override def onApplicationEnd(
                end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
              maps.synchronized {
                val it = maps.entrySet().iterator()
                while (it.hasNext) {
                  val e = it.next()
                  if (e.getKey.sparkContext eq sc) { release(e.getValue); it.remove() }
                }
              }
          })
        }
      }
      m
    }

  /** Compute `f` once per (session, key); later calls return the cached
    * value. NOT computeIfAbsent: cached builders NEST (an index builder
    * calls getOrCompute for its sub-index — e.g. minhash pairs → signature
    * dir, erasure apply → both), and ConcurrentHashMap forbids map mutation
    * inside computeIfAbsent's mapping function — it throws "Recursive
    * update" whenever the nested key happens to land in the same bin (a
    * hash-placement landmine, not a deterministic error). Compute OUTSIDE
    * the map, then putIfAbsent; the benign race (two threads computing the
    * same frame, first one wins) is the standard price and irrelevant on a
    * single-threaded driver.
    */
  def getOrCompute[T <: AnyRef](s: SparkSession, key: String)(f: => T): T = {
    val m = of(s)
    val existing = m.get(key)
    if (existing != null) existing.asInstanceOf[T]
    else {
      val v = f
      val prev = m.putIfAbsent(key, v)
      (if (prev != null) prev else v).asInstanceOf[T]
    }
  }

  /** True exactly once per (session, key) — one-time session setup guard. */
  def once(s: SparkSession, key: String): Boolean =
    of(s).putIfAbsent(key, java.lang.Boolean.TRUE) == null

  // Per-process tmp landing dirs for the session-landed parquet indexes
  // (graft_sigidx_* / graft_postidx_* / graft_ivfidx_*): registered here and
  // deleted by ONE JVM shutdown hook, so repeated Bench/Verify JVMs on the
  // same machine don't accumulate orphaned index dirs in java.io.tmpdir
  // (ADVICE r11; ScaleProbe's replica dirs ride the same lease). The pid-keyed
  // names stay — two concurrent JVMs must never share a landing dir — the
  // hook just ends each pid's lease.
  private val tmpDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tmpDirs.forEach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    }, "graft-tmpindex-cleanup"))

  /** Register a tmp index dir for deletion at JVM exit; returns the path. */
  def registerTmpIndexDir(path: String): String = {
    cleanupHook
    tmpDirs.add(path)
    path
  }
}
