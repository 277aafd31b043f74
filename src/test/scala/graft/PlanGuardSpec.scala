package graft

/** Plan-level scale invariant over the WHOLE query surface: no registered
  * query may plan a `CartesianProduct` — the non-broadcast cross join whose
  * cost is |L|·|R| rows shuffled, the classic silent 100 TB killer. Every
  * intentional cross join in the engine broadcasts its small side
  * (`BroadcastNestedLoopJoin` with a bounded build), which this guard
  * deliberately permits.
  *
  * Queries that execute eagerly when constructed (streaming runs, lake
  * round-trips) are cheap at sf0.001 and their returned frames still expose
  * a plan, so the sweep covers all of `SparkEntry.queries`.
  */
class PlanGuardSpec extends SparkSpec {

  test("no registered query plans a non-broadcast CartesianProduct") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir missing")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan =
        try fn(spark, dir).queryExecution.executedPlan.toString
        catch { case e: Throwable => fail(s"$name failed to plan: ${e.getMessage}") }
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    offenders shouldBe empty
  }

  // Shape regressions the round-8 rewrites removed must stay removed: these
  // guards fail if a refactor reintroduces the shuffle the rewrite deleted.

  test("embeddingPairs plans no aggregate and no dropDuplicates (first-band dedup is per-row)") {
    import spark.implicits._
    val vecs = Seq((1L, Array(1.0f, 0.5f)), (2L, Array(0.9f, 0.4f)))
      .toDF("vec_id", "embedding")
    val plan = graft.operators.Dedup.embeddingPairs(vecs, "embedding", "vec_id",
      threshold = 0.5, dim = 2, planes = 4, bands = 2)
      .queryExecution.optimizedPlan.toString
    plan should not include "Aggregate"
    plan should not include "Deduplicate"
  }

  test("Queries.macd plans no lag and at most two Window nodes (one frame per EWM input)") {
    import org.apache.spark.sql.catalyst.expressions.Lag
    import org.apache.spark.sql.catalyst.plans.logical.Window
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 60).select((col("id") % 3).as("k"), col("id").as("t"),
      (col("id") * 1.5).as("x"))
    val plan = graft.operators.Queries.macd(df, "t", "x", terms = 40, partitionCols = Seq("k"))
      .queryExecution.optimizedPlan
    plan.collect { case w: Window => w }.size should be <= 2
    plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[Lag]))) shouldBe false
  }

  test("topBigrams plans no window (kernel pairing, count aggregate only)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = graft.operators.TextAnalysis.topBigrams(docs, "text", "doc_id", 5)
      .queryExecution.optimizedPlan.toString
    plan should not include "Window"
  }

  test("capped baskets plan ONE bounded-state aggregation: no window, no second " +
       "full-data pass (r15 BoundedSetAgg shape)") {
    import spark.implicits._
    val df = Seq((1L, 10L), (1L, 20L), (2L, 30L)).toDF("b", "i")
    val plan = graft.operators.Queries.baskets(df, "b", "i", maxBasket = Some(2))
      .queryExecution.executedPlan.toString
    plan should not include "Window"
    plan should include("ObjectHashAggregate")
    // exactly one aggregation pair (partial + final) — the detector-split
    // shape would plan a second one
    "ObjectHashAggregate".r.findAllIn(plan).size shouldBe 2
  }

  test("registrableDomainJoin broadcasts the rule table (host side stays narrow)") {
    import spark.implicits._
    val hosts = Seq((1L, "a.co.t1"), (2L, "www.ck")).toDF("doc_id", "host")
    val plan = graft.operators.Web.registrableDomainJoin(hosts, "host", "doc_id", "d",
        graft.operators.Web.parsePslRules(graft.operators.Web.pslScaledRules))
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("containmentPairs keeps the docFreq semi-join skew guard") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b c d e f")).toDF("doc_id", "text")
    val plan = graft.operators.Dedup.containmentPairs(docs, "text", "doc_id", n = 2)
      .queryExecution.optimizedPlan.toString
    plan should include("LeftSemi") // the maxDocFreq prune; without it a hot
    // shingle's posting list fan-out is unbounded
  }

  test("ngramNovelty plans no join keyed on the shingle column") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g"), (2L, "c d e f g h i")).toDF("doc_id", "text")
    val plan = graft.operators.TextAnalysis.ngramNovelty(docs, "text", "doc_id")
      .queryExecution.optimizedPlan.toString
    // the only join is the doc-count-sized novelty attach on doc_id; a
    // refactor that joins docFreq back onto the shingle stream reintroduces
    // the Zipf-head skew the min(doc_id) attribution exists to avoid
    val joinLines = plan.split("\n").filter(_.contains("Join"))
    joinLines should not be empty
    joinLines.foreach(l => l should not include "__s#")
  }

  test("Intervals.concurrency broadcasts the carry table; the data window is bucket-partitioned") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(("2024-01-01 00:00:01", "2024-01-01 02:00:05")).toDF("s", "e")
      .select(col("s").cast("timestamp").as("s"), col("e").cast("timestamp").as("e"))
    val exec = graft.operators.Intervals.concurrency(df, "s", "e")
      .queryExecution.executedPlan.toString
    exec should include("BroadcastHashJoin")
    // the window over the boundary data must carry the bucket partition key;
    // an unpartitioned Window followed by the data-side sort is the global
    // prefix-sum shape this operator exists to avoid
    exec should include("windowspecdefinition(__grp#")
  }

  test("temperatureResample broadcasts the weight table (corpus side stays narrow)") {
    import spark.implicits._
    val docs = Seq((1L, "en"), (2L, "fr"), (3L, "en")).toDF("id", "lang")
    val plan = graft.operators.Sampling.temperatureResample(docs, "lang", "id", tau = 0.5)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
  }

  test("Changelog.merge stays a hash aggregate (struct max_by would force SortAggregate)") {
    import spark.implicits._
    val base = Seq((1L, 1.0)).toDF("k", "v")
    val ch = Seq((1L, 2.0, "U", 1L)).toDF("k", "v", "op", "seq")
    val plan = graft.operators.Changelog.merge(base, ch, "k")
      .queryExecution.executedPlan.toString
    plan should include("HashAggregate")
    plan should not include "SortAggregate"
  }

  test("BandJoin candidates join on equi keys, never a nested loop") {
    import spark.implicits._
    val df = Seq((1L, "a", new java.sql.Timestamp(0L))).toDF("id", "key", "t")
    val plan = graft.operators.BandJoin.neighborCounts(df, Seq("key"), "t", "id", 60L)
      .queryExecution.executedPlan.toString
    plan should not include "BroadcastNestedLoop"
    plan should not include "CartesianProduct"
  }

  test("q_ann_topk default provider ranks via partial top-k aggregation, never a window sort of the scored set") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir missing")
    val exec = SparkEntry.queries("q_ann_topk")(spark, dir)
      .queryExecution.executedPlan.toString
    // a Window (row_number rank) over the Q×N scored set is exactly the full
    // sort the TopKAgg default removes; the only Sort allowed is the final
    // presentation orderBy over the Q×k result
    exec should not include "Window"
    exec should include("ObjectHashAggregate") // typed Aggregator w/ partial merge
    val aggLines = exec.split("\n").filter(_.contains("ObjectHashAggregate"))
    aggLines.exists(_.contains("partial_")) shouldBe true
  }

  test("q_band_join executed plan equi-joins on the band bucket (no theta join, bounded fan-out)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir missing")
    val exec = SparkEntry.queries("q_band_join")(spark, dir)
      .queryExecution.executedPlan.toString
    // the ±Δt range predicate must ride an equi-join keyed on (keys…, __b) —
    // a refactor that lets the BETWEEN fall back to a nested-loop/cartesian
    // theta join is exactly the 100 TB regression this guard pins out
    exec should not include "BroadcastNestedLoop"
    exec should not include "CartesianProduct"
    val joinLines = exec.split("\n").filter(_.contains("Join"))
    joinLines should not be empty
    joinLines.exists(_.contains("__b#")) shouldBe true
  }

  test("q_salted_join executed plan shuffles on the salt key (no single-partition hot key)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir missing")
    val exec = SparkEntry.queries("q_salted_join")(spark, dir)
      .queryExecution.executedPlan.toString
    // the hot-key split is the entire point of the operator: every exchange
    // feeding the join must carry __salt in its hash keys, so one skewed
    // l_orderkey spreads over `buckets` partitions instead of one
    exec should include("__salt#")
    val exchanges = exec.split("\n").filter(_.contains("hashpartitioning"))
    exchanges.filter(_.contains("l_orderkey")).foreach(l =>
      l should include("__salt#"))
    exec should not include "CartesianProduct"
  }

  test("cmsEstimates broadcasts the sketch-sized cell frame (no sort-merge join)") {
    import spark.implicits._
    val df = (1 to 100).map(i => ("k" + (i % 7), i)).toDF("key", "x")
    val exec = graft.operators.Sketches.cmsEstimates(df, "key", d = 4, w = 16)
      .queryExecution.executedPlan.toString
    // the d×w cell frame is sketch-sized by construction — a refactor that
    // lets it shuffle into a sort-merge join re-keys the whole input for a
    // 64-row build side
    exec should include("BroadcastHashJoin")
    exec should not include "SortMergeJoin"
  }

  test("boilerplateScrub broadcasts the phrase list; marking costs no exchange") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b", "s"), (2L, "a b c", "s")).toDF("doc_id", "text", "source")
    val bp = graft.operators.TextAnalysis.boilerplate(docs, "text", "doc_id", "source",
      n = 2, minShare = 0.5, minDf = 2)
    val exec = graft.operators.TextAnalysis.boilerplateScrub(docs, bp, "text", "doc_id", "source", 2)
      .queryExecution.executedPlan.toString
    // the threshold-bounded phrase frame must join as a broadcast semi join —
    // shuffling the posting explode on (source, gram) to meet it would re-key
    // corpus-scale data against a frame bounded by #sources × threshold
    exec.split("\n").exists(l => l.contains("BroadcastHashJoin") && l.contains("LeftSemi")) shouldBe true
  }

  test("validate compiles any check list into ONE aggregate (single scan, no join)") {
    import spark.implicits._
    import graft.operators.Checks._
    val df = Seq((1L, 2.0), (2L, 3.0)).toDF("id", "v")
    val plan = graft.operators.Checks.validate(df,
      Seq(RowCountMin(1L), NotNull("id"), Unique("id"), InRange("v", 0, 10)))
      .queryExecution.optimizedPlan.toString
    plan should not include "Join"
    // exactly one logical Aggregate: all metrics fold into one pass
    plan.split("\n").count(_.contains("Aggregate [")) shouldBe 1
  }

  test("groupedTopKAgg plans no window and no sort of the input (bounded aggregator ranks)") {
    import spark.implicits._
    val df = Seq((1L, 10L, 5.0), (1L, 11L, 7.0), (2L, 12L, 1.0))
      .toDF("k", "id", "v")
    val plan = graft.operators.Queries.groupedTopKAgg(df, "k", "v", "id", 2)
      .queryExecution.optimizedPlan.toString
    plan should not include "Window"
    plan should not include "Sort"
  }

  test("funnel plans no window and no cartesian (user-keyed join chain only)") {
    import spark.implicits._
    val ev = Seq((1L, "view", tsLit("2024-01-01 10:00:00")),
      (1L, "click", tsLit("2024-01-01 10:01:00"))).toDF("user_id", "event_type", "ts")
    val plan = graft.operators.Funnel.funnel(ev, "user_id", "event_type", "ts",
      Seq("view", "click")).queryExecution.optimizedPlan.toString
    plan should not include "Window"
    plan should not include "Cartesian"
  }

  // Runtime (not static) skew proof: AQE must SPLIT the hot partition of a
  // skewed sort-merge join — the engine's automatic complement to the manual
  // salted-join operators. The executed adaptive plan marks the join
  // `skew=true` only after OptimizeSkewedJoin actually subdivided a
  // partition, so this asserts the behavior, not just the configuration.
  test("winnowFingerprints: both windows share ONE doc-keyed sort; no join anywhere") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h i j"), (2L, "k l m n o p q r s t"))
      .toDF("doc_id", "text")
    val exec = graft.operators.Dedup.winnowFingerprints(docs, "text", "doc_id",
      k = 4, w = 5).queryExecution.executedPlan.toString
    exec should not include "Join"
    // frame-min and per-doc-max must pipeline over the same doc_id exchange:
    // two Window operators, but only one data Sort feeding them (a second
    // sort would mean the frames stopped sharing their partitioning)
    exec.split("\n").count(l =>
      l.contains("Window ") && !l.contains("GroupLimit")) shouldBe 2
    exec.split("\n").count(l =>
      l.contains("Sort ") && l.contains("doc_id")) shouldBe 1
  }

  test("winnowMatchesFrom: docFreq cap rides the h-keyed window (no semi-join back), pair join equi-keyed on h") {
    import spark.implicits._
    val fp = Seq((1L, 0L, 10L), (2L, 0L, 10L), (1L, 1L, 20L), (2L, 1L, 20L))
      .toDF("doc_id", "pos", "h")
    val exec = graft.operators.Dedup.winnowMatchesFrom(fp, "doc_id", docFreqCap = 50)
      .queryExecution.executedPlan.toString
    exec should not include "LeftSemi"      // the removed agg + semi-join shape
    exec should not include "CartesianProduct"
    val joinLines = exec.split("\n").filter(_.contains("Join"))
    joinLines should not be empty
    joinLines.exists(_.contains("h#")) shouldBe true
  }

  test("chi2Terms: the per-label top-k optimizes to a WindowGroupLimit (no full per-label sort materializes)") {
    import spark.implicits._
    val docs = Seq((1L, "A", "x y z"), (2L, "B", "x q r")).toDF("doc_id", "label", "text")
    val exec = graft.operators.TextAnalysis.chi2Terms(docs, "text", "doc_id",
      "label", minDf = 1, topK = 5).queryExecution.executedPlan.toString
    exec should include("WindowGroupLimit")
  }

  test("semDedup: the pair stage joins on the cell key (cluster-bounded, never all-pairs)") {
    import spark.implicits._
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cell_id", "centroid")
    val exec = graft.operators.Similarity.semDedup(vecs, cents, "embedding",
      "vec_id", threshold = 0.9).queryExecution.executedPlan.toString
    exec should not include "CartesianProduct"
    val joinLines = exec.split("\n").filter(l =>
      l.contains("Join") && !l.contains("BroadcastNestedLoop"))
    joinLines.exists(_.contains("cell#")) shouldBe true
  }

  test("ivfProbe ranks via partial top-k aggregation, never a window sort of the probed candidates") {
    import spark.implicits._
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))).toDF("cell_id", "centroid")
    val index = graft.operators.Similarity.ivfAssign(vecs, cents, "embedding", "vec_id")
    val exec = graft.operators.Similarity.ivfProbe(index, vecs.filter($"vec_id" === 1L),
      cents, "embedding", "vec_id", k = 2, nprobe = 2)
      .queryExecution.executedPlan.toString
    // mirror of the q_ann_topk guard (r11): a row_number window over the
    // probed candidate set is the per-query sort a skewed cell distribution
    // turns into a hot-partition bottleneck — the bounded TopKAgg must rank
    exec should not include "Window"
    exec should include("ObjectHashAggregate")
    exec.split("\n").filter(_.contains("ObjectHashAggregate"))
      .exists(_.contains("partial_")) shouldBe true
  }

  test("subwordVocabRanked's rank limit optimizes to a WindowGroupLimit (literal predicate — r12 review fix stays fixed)") {
    import spark.implicits._
    import graft.expressions.{GraftFunctions => G}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the exact plan subwordVocabRanked builds, un-collected so it's inspectable
    val docs = Seq("the cat sat", "the dog ran").toDF("text")
    val wk = Window.partitionBy(substring(col("e"), 1, 1))
      .orderBy(col("c").desc, col("e").asc)
    val exec = docs
      .select(explode(G.vocabGramEntries(graft.operators.Dedup.tokens(col("text")))).as("e"))
      .groupBy("e").agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= 100)
      .queryExecution.executedPlan.toString
    exec should include("WindowGroupLimit")
  }

  test("subwordEncodeReport: the tokenize regexp runs ONCE per row (doc-level kernel, no lambda re-inlining) and no join") {
    // parquet-backed input: a local Seq constant-folds to a LocalRelation
    // and the projection under test would evaluate at plan time
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exec = graft.operators.TextAnalysis
      .subwordEncodeReport(docs, "text", "source", Seq("the", "ca"))
      .queryExecution.optimizedPlan.toString
    exec should not include "Join"
    exec.sliding("regexp_extract_all".length).count(_ == "regexp_extract_all") shouldBe 1
  }

  test("tokenShardReport: the offset table broadcasts (no sort-merge join) and no global window over the corpus") {
    import spark.implicits._
    val docs = Seq((1L, "one two"), (2L, "three"), (3L, "four five six"))
      .toDF("doc_id", "text")
    val exec = graft.operators.TextAnalysis
      .tokenShardReport(docs, "text", "doc_id", nShards = 4)
      .queryExecution.executedPlan.toString
    exec should include("BroadcastHashJoin")
    exec should not include "SortMergeJoin"
  }

  test("AQE splits the hot partition of a skewed sort-merge join at runtime") {
    import org.apache.spark.sql.functions.{col, lit}
    val keep = Seq(
      "spark.sql.adaptive.enabled", "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.coalescePartitions.enabled"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // hot key 0 carries 40k wide rows; the payload must be INCOMPRESSIBLE
      // (shuffle sizes are post-compression — a constant pad compresses to
      // nothing and the hot partition never crosses the skew threshold)
      import org.apache.spark.sql.functions.{concat, md5, sha2}
      val pad = concat(md5(col("id").cast("string")),
        sha2(col("id").cast("string"), 256))
      val left = spark.range(0, 40000).select(lit(0L).as("k"), pad.as("payload"))
        .unionAll(spark.range(1, 100).select(col("id").as("k"), pad.as("payload")))
      val right = spark.range(0, 100).select(col("id").as("k"), col("id").as("r"))
      val joined = left.join(right, Seq("k"))
      // collect() runs THIS queryExecution (count() would plan a separate
      // aggregate query and leave this adaptive plan unfinalized)
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"expected a skew-split join in the executed plan:\n$finalPlan")
    } finally keep.foreach { case (k, v) =>
      v match { case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) }
    }
  }

  test("q_crawl_curation executes with whole-stage codegen INTACT — no janino " +
    "method-limit fallback at any conf (r17, verdict ask #7)") {
    // janino failures only surface as execution-time WARNs from
    // WholeStageCodegenExec ("Whole-stage codegen disabled ... grows beyond
    // 64 KB"), so the guard captures that logger while the query RUNS. The
    // r16 offender was conf-dependent only in WHICH stage got the oversized
    // projection; the r17 fix (staging hostOf through a checkpointed
    // projection before the PSL CASE chain) removes the oversized tree
    // itself, so this must hold at every conf.
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory, s"$dir missing")
    val msgs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
      "graft-codegen-capture", null, null, true,
      Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        msgs.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val lg = org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.sql.execution.WholeStageCodegenExec")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    lg.addAppender(appender)
    try SparkEntry.queries("q_crawl_curation")(spark, dir).collect()
    finally { lg.removeAppender(appender); appender.stop() }
    import scala.jdk.CollectionConverters._
    msgs.asScala.filter(_.contains("codegen disabled")).toSeq shouldBe empty
  }
}
