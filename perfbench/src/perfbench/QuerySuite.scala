package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SessionCache, SparkEntry}
import graft.expressions.GraftFunctions

/** The committed query subset (`perfbench/suite.json`): which registered
  * queries run, their family, the digest of their full result, and the row
  * count of every input table.
  */
final case class SuiteSpec(queries: Seq[(String, String, String)], tables: Map[String, Long],
    planChecks: Seq[String])

object SuiteSpec {
  def load(f: File): SuiteSpec = {
    val root = new ObjectMapper().readTree(f)
    def fields(n: JsonNode) = n.fields().asScala.map(e => e.getKey -> e.getValue).toSeq
    SuiteSpec(
      root.get("queries").elements().asScala.map(q =>
        (q.get("name").asText, q.get("family").asText, q.get("digest").asText)).toSeq,
      fields(root.get("tables")).map { case (k, v) => k -> v.asLong }.toMap,
      root.get("plan_checks").elements().asScala.map(_.asText).toSeq)
  }
}

/** Order-insensitive digest of a whole result: row count plus the sums of
  * two row hashes over every output column. Doubles enter exactly (the
  * oracle compares them exactly) with -0.0 folded into 0.0; map entries are
  * sorted so the digest does not depend on map order.
  */
object Digest {
  def frame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      normalize(col("`" + f.name.replace("`", "``") + "`"), f.dataType).as(s"c$i")
    }
    val row = struct(cols: _*)
    df.select(xxhash64(row).as("h64"), hash(row).as("h32"))
      .agg(count(lit(1)).as("n"), sum(col("h64").cast(DecimalType(38, 0))).as("s64"),
        sum(col("h32").cast(DecimalType(38, 0))).as("s32"))
  }

  def render(r: org.apache.spark.sql.Row): String =
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(0)}:${Option(r.getDecimal(2)).getOrElse(0)}"

  private def needs(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needs(et)
    case StructType(fs) => fs.exists(f => needs(f.dataType))
    case _ => false
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => when(c === lit(0.0), lit(0.0).cast(t)).otherwise(c)
    case ArrayType(et, _) if needs(et) => transform(c, x => normalize(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(normalize(e.getField("key"), kt).as("k"), normalize(e.getField("value"), vt).as("v"))))
    case StructType(fs) if needs(t) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  /** The query's own computed columns that the timed plan no longer
    * computes: the child of every alias in the query's optimized plan must
    * still appear, up to attribute ids, as a subexpression of the timed
    * plan. Catalyst may move or inline an alias, but pruning it (as
    * `count()` prunes nearly all of them) leaves its child out.
    */
  def dropped(timed: LogicalPlan, own: LogicalPlan): Seq[Expression] = {
    def anonymous(e: Expression): Expression =
      e.transform { case a: AttributeReference => a.withExprId(ExprId(0)).withQualifier(Nil) }
    val present = scala.collection.mutable.HashSet[Expression]()
    timed.foreachWithSubqueries(_.expressions.foreach(e => anonymous(e).foreach(present += _)))
    val computed = scala.collection.mutable.ArrayBuffer[Expression]()
    own.foreachWithSubqueries(_.expressions.foreach(_.foreach {
      case a: Alias => computed += a.child
      case _ => ()
    }))
    computed.filterNot(c => present.contains(anonymous(c))).toSeq
  }

  /** Aliased expressions of an optimized plan, subqueries included. */
  def aliases(plan: LogicalPlan): Int = {
    var n = 0
    plan.foreachWithSubqueries(_.expressions.foreach(_.foreach {
      case _: Alias => n += 1
      case _ => ()
    }))
    n
  }
}

/** `query_suite`: each committed query once cold — a fresh
  * `spark.newSession()`, the previous session's [[SessionCache]] evicted and
  * the RDD storage empty — then once warm in the same session. The timed
  * action is the digest of the whole result, so the plan cannot be pruned
  * the way `count()` prunes it. The seed only permutes the run order.
  */
final class QuerySuite(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}

  private val spec = SuiteSpec.load(new File(ctx.bench, "suite.json"))
  private val familyOf = spec.queries.map(q => q._1 -> q._2).toMap
  private val dir = ctx.dataDir.getAbsolutePath

  /** Set-up opens the suite's inputs the way a fresh session's first query
    * does through `SparkEntry`: the engine's SQL functions are registered in
    * a new session, every input table is resolved once through
    * `spark.read.parquet` and memoized in [[SessionCache]], and the row
    * counts in the footers of its files must equal the committed count. The
    * session is evicted afterwards, so each cold pass still resolves its own
    * tables.
    */
  override def setupRepeats: Int = 5

  override def setup(stateDir: File): Unit = {
    spec.queries.foreach { case (q, _, _) =>
      require(SparkEntry.queries.contains(q), s"query $q is not registered")
    }
    val s = spark.newSession()
    try {
      GraftFunctions.register(s)
      spec.tables.foreach { case (t, rows) =>
        val df = SessionCache.getOrCompute(s, s"table:$dir/$t")(s.read.parquet(s"$dir/$t.parquet"))
        require(df.inputFiles.nonEmpty, s"input table $t has no files")
        val conf = s.sparkContext.hadoopConfiguration
        val n = df.inputFiles.map { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
          try r.getRecordCount finally r.close()
        }.sum
        require(n == rows, s"input table $t has $n rows, expected $rows")
      }
    } finally SessionCache.evict(s)
  }

  /** Registered queries outside the suite that prime the JVM (class loading,
    * JIT, Spark's first-use initialisation) before the first timed cold pass,
    * so per-query cold times do not depend on the seed's run order.
    */
  private val Primers = Seq("q_vwap", "q_tpch_q10", "q_text_stats")

  override def warmup(): Unit = {
    require(Primers.forall(p => !familyOf.contains(p)), "a primer query is part of the suite")
    val s = spark.newSession()
    Primers.foreach(p => Digest.frame(SparkEntry.queries(p)(s, dir)).collect())
    prev = s
    require(makeCold(), "RDD storage not empty after the warm-up")
    residual = 0
  }

  private final case class Pass(name: String, phase: String, seconds: Double, digest: String)

  private var prev: SparkSession = null
  private val problems = scala.collection.mutable.ArrayBuffer[String]()
  private var cachedBytes = 0L
  private var residual = 0

  /** Make the next pass cold: drop the previous session's memoized frames
    * and every cached block (`newSession()` shares the CacheManager), then
    * require empty RDD storage. Returns false when storage stays non-empty.
    */
  private def makeCold(): Boolean = {
    if (prev != null) SessionCache.evict(prev)
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    // eager localCheckpoint()s inside evicted frames are not unpersisted by
    // the eviction; they are unreachable now, so release them explicitly
    val left = sc.getPersistentRDDs.values
    residual += left.size
    left.foreach(_.unpersist(blocking = true))
    val deadline = System.nanoTime() + 10000000000L
    while (sc.getRDDStorageInfo.exists(_.numCachedPartitions > 0) && System.nanoTime() < deadline)
      Thread.sleep(20)
    sc.getRDDStorageInfo.forall(_.numCachedPartitions == 0)
  }

  private def runOnce(s: SparkSession, name: String, phase: String, pass: Int): (Pass, DataFrame, DataFrame) =
    tracer.op(s"q:$name:$phase:$pass") {
      val t0 = System.nanoTime()
      val df = tracer.span("registry.build")(SparkEntry.queries(name)(s, dir))
      val d = Digest.frame(df)
      tracer.span("catalyst.plan")(d.queryExecution.executedPlan)
      val r = tracer.span("executor.exec")(d.collect()(0))
      (Pass(name, phase, (System.nanoTime() - t0) / 1e9, Digest.render(r)), df, d)
    }

  override def measure(seconds: Double): Outcome = {
    val rnd = new scala.util.Random(ctx.seed)
    val passes = scala.collection.mutable.ArrayBuffer[Pass]()
    // operations are (query, phase, pass); each counts as failed at most once
    var attempted = 0L
    val failedOps = scala.collection.mutable.Set[(String, String, Int)]()
    def fail(op: (String, String, Int), what: String): Unit = {
      failedOps += op
      problems += s"${op._1} (${op._2}): $what"
    }
    // optimized plans for the plan check, evaluated after the clock stops:
    // (query, timed digest plan, the query's own plan, the count() plan)
    val plans = scala.collection.mutable.ArrayBuffer[(String, LogicalPlan, LogicalPlan, LogicalPlan)]()
    var unclocked = 0L
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0 - unclocked) / 1e9 < seconds) {
      rnd.shuffle(spec.queries).foreach { case (name, _, expected) =>
        val coldOp = (name, "cold", pass)
        val warmOp = (name, "warm", pass)
        attempted += 2
        var coldDone = false
        try {
          if (!makeCold()) fail(coldOp, "RDD storage not empty before the cold pass")
          val s = spark.newSession()
          prev = s
          val (cold, df, d) = runOnce(s, name, "cold", pass)
          coldDone = true
          if (pass == 0 && spec.planChecks.contains(name)) {
            val c0 = System.nanoTime()
            plans += ((name, d.queryExecution.optimizedPlan, df.queryExecution.optimizedPlan,
              df.groupBy().count().queryExecution.optimizedPlan))
            unclocked += System.nanoTime() - c0
          }
          if (tracer.on)
            cachedBytes += spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
          val (warm, _, _) = runOnce(s, name, "warm", pass)
          passes += cold += warm
          if (cold.digest != expected) fail(coldOp, s"digest ${cold.digest} != $expected")
          if (warm.digest != cold.digest) fail(warmOp, s"digest ${warm.digest} != cold ${cold.digest}")
        } catch {
          case e: Throwable =>
            val what = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
            if (!coldDone) fail(coldOp, what)
            fail(warmOp, if (coldDone) what else "not run")
        }
      }
      pass += 1
    }
    val wall = (System.nanoTime() - t0 - unclocked) / 1e9
    makeCold()
    plans.foreach { case (name, timed, own, counted) =>
      val total = Digest.aliases(own)
      val lost = Digest.dropped(timed, own)
      val lostToCount = Digest.dropped(counted, own).size
      System.err.println(s"[perfbench] plan check $name: the timed plan keeps ${total - lost.size} " +
        s"of $total aliased expressions; count() would keep ${total - lostToCount}")
      if (lost.nonEmpty)
        fail((name, "cold", 0), s"the timed plan drops ${lost.size} of $total aliased expressions, " +
          s"e.g. ${lost.head.sql.take(200)}")
      if (lostToCount == 0)
        fail((name, "cold", 0), "the plan check cannot tell the timed plan from count()")
    }
    // one value per query and phase: the median over passes
    def per(phase: String): Seq[Double] =
      passes.filter(_.phase == phase).groupBy(_.name).values.map(ps => Stats.median(ps.map(_.seconds).toSeq) * 1000).toSeq
    Outcome(attempted, failedOps.size.toLong, Map(
      "op_mean_ms" -> Stats.mean(per("cold")), "side_mean_ms" -> Stats.mean(per("warm")),
      "ops_per_s" -> passes.size / wall),
      if (tracer.on) layers(pass) else Map.empty, problems.toSeq)
  }

  private def layers(nPasses: Int): Map[String, Double] = {
    val perFamily = for {
      span <- Seq("registry.build", "catalyst.plan", "executor.exec")
      phase <- Seq("cold", "warm")
      f <- Layers.Families
    } yield {
      val total = tracer.spansNamed(span, op => op.split(':') match {
        case Array("q", q, ph, _) => ph == phase && familyOf.get(q).contains(f)
        case _ => false
      }).map(_.seconds).sum
      s"${span}_${phase}_s.$f" -> total / nPasses
    }
    perFamily.toMap ++ Layers.spark(tracer.sparkWork(_.startsWith("q:")), nPasses) ++ Map(
      "session_cache.cached_bytes" -> cachedBytes.toDouble / nPasses,
      "session_cache.residual_rdds" -> residual.toDouble / nPasses)
  }
}
