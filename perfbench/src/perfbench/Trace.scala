package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call: `op` is the operation (batch, request or query pass) the
  * call belongs to, `parent` the enclosing span on the same thread (0 = none).
  */
final case class Span(id: Int, parent: Int, name: String, op: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one set of operations. */
final case class SparkWork(jobs: Int, stages: Int, tasks: Int, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, taskSkew: Double, singleTaskStages: Int,
    dispatchFloorS: Double)

/** Span recorder plus a job-group-tagged [[SparkListener]]. When `on` is
  * false every method is a pass-through and no listener is registered, so
  * the untraced run pays nothing. Spans stay in memory until [[writeSpans]].
  */
final class Tracer(val on: Boolean, spark: SparkSession) {

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[String](() => "")
  // job groups that are not op ids (a streaming query's run id) → op id
  private val groupAlias = new ConcurrentHashMap[String, String]()

  /** Run `f` as operation `id`: its spans and Spark jobs are tagged with it. */
  def op[T](id: String)(f: => T): T =
    if (!on) f
    else {
      val sc = spark.sparkContext
      val prev = currentOp.get
      currentOp.set(id)
      sc.setJobGroup(id, id, interruptOnCancel = false)
      try f
      finally {
        currentOp.set(prev)
        if (prev.isEmpty) sc.clearJobGroup() else sc.setJobGroup(prev, prev, interruptOnCancel = false)
      }
    }

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.add(Span(id, parents.headOption.getOrElse(0), name, currentOp.get, t0, t1))
      }
    }

  /** Attribute jobs of job group `group` (e.g. a streaming run id) to `op`. */
  def alias(group: String, op: String): Unit = if (on) groupAlias.put(group, op)

  def allSpans: Seq[Span] = spans.asScala.toSeq

  def spansNamed(name: String, opPred: String => Boolean = _ => true): Seq[Span] =
    allSpans.filter(s => s.name == name && opPred(s.op))

  // ---- listener -------------------------------------------------------------

  private final case class Job(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])
  private final case class Task(stage: Int, durMs: Long, runMs: Long, shRead: Long, shWrite: Long,
      spill: Long, records: Long)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, g, e.time, e.time, e.stageInfos.map(_.stageId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Task(e.stageId, e.taskInfo.duration, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead))
    }
  }
  if (on) spark.sparkContext.addSparkListener(listener)

  /** Spark work of every job whose (aliased) group satisfies `opPred`. */
  def sparkWork(opPred: String => Boolean): SparkWork = {
    if (!on) return SparkWork(0, 0, 0, 0, 0, 0, 0, 0, 0)
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val js = jobs.values().asScala.toSeq.filter(j => opPred(groupAlias.getOrDefault(j.group, j.group)))
    // a stage reused by several jobs counts once, for the first job
    val stageIds = js.sortBy(_.id).flatMap(_.stages).distinct
    val owned = stageIds.toSet
    val byStage = tasks.asScala.toSeq.filter(t => owned.contains(t.stage)).groupBy(_.stage)
    val ran = stageIds.filter(byStage.contains)
    val skews = ran.flatMap { s =>
      val ds = byStage(s).map(_.runMs.toDouble)
      if (ds.size < 2) None else Some(ds.max / math.max(Stats.median(ds), 1.0))
    }
    val single = ran.count { s =>
      val ts = byStage(s)
      ts.size == 1 && ts.head.records >= Tracer.NonTrivialRecords
    }
    // per job: wall time not covered by its stages' slowest tasks
    val floors = js.map { j =>
      val critical = j.stages.filter(byStage.contains).map(s => byStage(s).map(_.durMs).max).sum
      math.max(0L, (j.end - j.start) - critical) / 1000.0
    }
    val all = ran.flatMap(byStage)
    SparkWork(js.size, ran.size, all.size, all.map(_.shRead).sum, all.map(_.shWrite).sum,
      all.map(_.spill).sum, Stats.mean(skews), single, Stats.median(floors))
  }

  /** Write all spans as JSON lines (name, start, end, parent, operation id). */
  def writeSpans(f: File): Unit = if (on) {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try allSpans.sortBy(_.id).foreach { s =>
      w.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, "op": ${Json.str(s.op)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    } finally w.close()
  }
}

object Tracer {
  /** A one-task stage over at least this many input rows is reported as a
    * single-task stage (an unpartitioned window or global sort).
    */
  val NonTrivialRecords = 10000L
}
