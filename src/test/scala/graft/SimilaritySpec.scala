package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, LongType}
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(0.0f, 0.9f, 0.1f)),
    (4L, Array(-1.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  /** Random-hyperplane sign signature packed into a long (Charikar 2002):
    * bit p = sign(v · plane_p) against the literal ±1 planes of
    * [[graft.operators.Dedup.hyperplanes]].
    */
  private def hyperplaneSignature(v: Column, planes: Int, dim: Int): Column =
    graft.operators.Dedup.hyperplanes(planes, dim).zipWithIndex.map { case (p, i) =>
      when(Similarity.dot(v, typedLit(p)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  test("cosine kernel: orthogonal -> 0, identical -> 1, opposite -> -1") {
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
    val m = rows(pairs).map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    m((0L, 0L)) shouldBe 1.0 +- 1e-9
    m((0L, 2L)) shouldBe 0.0 +- 1e-9
    m((0L, 4L)) shouldBe -1.0 +- 1e-9
    m((0L, 1L)) should be > 0.9
  }

  test("bruteForceTopK ranks by similarity, excludes self, respects k") {
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0L),
      "embedding", "vec_id", k = 2)
    val r = rows(out.orderBy("rank")).map(x => (x.getLong(1), x.getLong(3)))
    r.map(_._1) shouldBe Seq(1L, 2L) // nearest first; 2 beats 3 and 4 on cos...
    r.map(_._2) shouldBe Seq(1L, 2L)
  }

  test("knnClassify: modal neighbor label wins; smallest label breaks vote ties") {
    // labels: x-cluster {0,1} -> label 7, y-cluster {2,3} -> label 3, opposite 4 -> 9
    val labeled = vecs.withColumn("label",
      when(col("vec_id") <= 1, 7).when(col("vec_id") <= 3, 3).otherwise(9))
    // query 0 with k=3: neighbors 1 (label 7), then 2/3 (label 3, cos 0) beat
    // 4 (cos -1) -> votes {7:1, 3:2} -> predicted 3
    val out = rows(Similarity.knnClassify(labeled, labeled.filter(col("vec_id") === 0L),
      "embedding", "vec_id", "label", k = 3))
    out.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))) shouldBe Seq((0L, 3, 2L))
    // k=4 brings label 9 in: votes {3:2, 7:1, 9:1} -> still 3; k=2 ties
    // {7:1, 3:1} -> smallest label 3 wins the tie-break
    val tied = rows(Similarity.knnClassify(labeled, labeled.filter(col("vec_id") === 0L),
      "embedding", "vec_id", "label", k = 2))
    tied.map(r => r.getInt(1)) shouldBe Seq(3)
  }

  test("hyperplaneSignature groups identical vectors, deterministic across evaluations") {
    val sigs = vecs.union(vecs)
      .select(col("vec_id"), hyperplaneSignature(col("embedding"), 8, dim = 3).as("sig"))
    // same vector -> same signature in both copies
    rows(sigs.groupBy("vec_id").agg(countDistinct("sig").as("n")).select("n"))
      .map(_.getLong(0)).toSet shouldBe Set(1L)
  }

  test("trainCentroids produces nlist cells with dimension-ordered mean vectors") {
    val cents = Similarity.trainCentroids(vecs, "embedding", "vec_id", 2)
    cents.count() should be <= 2L
    rows(cents).foreach(_.getSeq[Double](1).length shouldBe 3)
  }

  test("ivfTopK recall@k: probing all cells equals brute force; recall monotone in nprobe") {
    // Probing every cell scores every (query, corpus) pair exactly once with
    // the same tie-break as bruteForceTopK, so recall@k must be exactly 1.0;
    // fewer probes can only shrink the scanned set, so recall is monotone.
    val rnd = new scala.util.Random(7)
    val dim = 8
    val corpus = (0 until 200).map(i =>
      (i.toLong, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 10)
    val cents = Similarity.trainCentroids(corpus, "embedding", "vec_id", 8)
    val nlist = cents.count().toInt
    val brute = rows(Similarity.bruteForceTopK(corpus, queries, "embedding", "vec_id", k = 10))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(np: Int): Double = {
      val got = rows(Similarity.ivfTopK(corpus, queries, cents, "embedding", "vec_id",
        k = 10, nprobe = np)).map(r => (r.getLong(0), r.getLong(1))).toSet
      (got intersect brute).size.toDouble / brute.size
    }
    val rAll = recall(nlist)
    rAll shouldBe 1.0
    val r1 = recall(1)
    val r2 = recall(2)
    r1 should be <= r2
    r2 should be <= rAll
    r2 should be > 0.2 // deterministic under the fixed seed
  }

  test("kmeans: Lloyd step moves centroids to member means, flat output") {
    // 1-D points 0, 1, 10, 11; init = first 2 by id → c0=[0], c1=[1].
    // Assignment: 0→c0, {1,10,11}→c1; update: c0=[0], c1=[22/3]
    val pts = Seq((1L, Seq(0f)), (2L, Seq(1f)), (3L, Seq(10f)), (4L, Seq(11f)))
      .toDF("vec_id", "embedding")
    val got = rows(Similarity.kmeans(pts, "embedding", "vec_id", k = 2, iterations = 1)
      .orderBy("cell_id"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    got shouldBe Seq((0L, 1L, 0L, 0.0), (1L, 3L, 0L, 22.0 / 3.0))
  }

  test("kmeans: distance ties break to the lower cell and empty cells drop") {
    // three identical points: both seeds coincide, every point ties at
    // distance 0 → all go to cell 0; cell 1 empties and vanishes
    val pts = Seq((1L, Seq(5f)), (2L, Seq(5f)), (3L, Seq(5f)))
      .toDF("vec_id", "embedding")
    val got = rows(Similarity.kmeans(pts, "embedding", "vec_id", k = 2, iterations = 2))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    got shouldBe Seq((0L, 3L, 5.0))
  }

  test("pcaTopComponent: variance along one axis yields that unit axis") {
    // centered cloud (-2,0),(2,0): all variance on dim 0 → loading (1, 0)
    val pts = Seq((1L, Seq(0f, 0f)), (2L, Seq(4f, 0f))).toDF("vec_id", "embedding")
    val got = rows(Similarity.pcaTopComponent(pts, "embedding", iterations = 3)
      .orderBy("dim"))
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    got.map(_._2) shouldBe Seq(2.0, 0.0)           // means
    got(0)._3 shouldBe 1.0 +- 1e-12                // unit loading on dim 0
    got(1)._3 shouldBe 0.0 +- 1e-12
  }

  test("pcaTopComponent: perfectly correlated dims load equally (1/sqrt(2))") {
    val pts = Seq((1L, Seq(0f, 0f)), (2L, Seq(2f, 2f)), (3L, Seq(4f, 4f)))
      .toDF("vec_id", "embedding")
    val got = rows(Similarity.pcaTopComponent(pts, "embedding", iterations = 2)
      .orderBy("dim")).map(_.getDouble(2))
    got(0) shouldBe got(1)
    got(0) shouldBe 1.0 / math.sqrt(2.0) +- 1e-9
  }

  /** [[Similarity.pcaTopComponent]] fused through one Gram pass — the
    * unregistered alternative, kept beside its spec. Implemented for the
    * r14 A/B that closed the perf-weak carryover, MEASURED, AND REJECTED
    * for registration: for moderate d the d×d Gram matrix `G = Σ xc·xcᵀ`
    * is CATALOG-scale state (d=64 → 4,096 doubles), so ONE corpus pass
    * computes it and every power iteration after that is a driver-side
    * matvec — zero distributed jobs per round, vs one scan per round in the
    * covariance-free form. The iterate is mathematically
    * `w ← normalize(G·w)`, the same fixpoint, but the ACCUMULATION
    * GROUPING differs from the per-round form (Σ_k G_jk·w_k vs
    * Σ_rows xc_j·(xc·w)) — each form rounds DIFFERENT per-row quantities
    * to DECIMAL(30,6), so loadings diverge at the quantization level
    * (~1e-8); an oracle dual for this formulation exists in git history
    * (r14 `pcaGramSql`).
    *
    * The measured verdict (sf0.1 bench, PLANS.md non-optimality #4): the
    * cross-engine exactness discipline prices every accumulated scalar at
    * one double→DECIMAL(30,6) cast (~0.6 µs — `BigDecimal.valueOf` is a
    * `Double.toString` on JDK 17), and this form casts n·d² of them vs the
    * per-round form's n·d·iterations — d/its ≈ 21× more at d=64/its=3.
    * 12.1 s vs 1.4 s end-to-end; the same agg with plain double sums runs
    * 0.9 s, so the job-count saving is real but the decimal volume buys it
    * back 14× over. Fewer-jobs-per-iteration only wins when the per-scan
    * work is cheap — kept as the measured counterexample and for the
    * d-vs-iterations regime where it would flip (its ≫ d).
    */
  private def pcaTopComponentGram(corpus: DataFrame, vecCol: String,
      iterations: Int): DataFrame = {
    val dec = DecimalType(30, 6)
    val vecs = corpus.select(col(vecCol).cast(ArrayType(DoubleType)).as("v"))
    val muFlat = vecs.select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg((sum(col("x").cast(dec)).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).as("m"))
    val muArr = muFlat
      .agg(array_sort(collect_list(struct(col("dim"), col("m"))))
        .getField("m").as("muv"))
    // materialize xc BEFORE the double explode: the zip_with lambda runs
    // interpreted and CollapseProject would re-inline it into both Generate
    // operators — re-evaluated per exploded LANE, an n·d² interpreted-lambda
    // blowup (measured 10.9 s vs 0.9 s at sf0.1 bench scale)
    val xc = vecs.crossJoin(broadcast(muArr))
      .select(zip_with(col("v"), col("muv"), (a, b) => a - b).as("xc"))
      .localCheckpoint(false)
    val d = vecs.limit(1).select(org.apache.spark.sql.functions.size(col("v"))).head().getInt(0)
    // the Gram pass: n·d² narrow rows → (j,k)-keyed exact-decimal partial
    // agg → d² rows collected. One job; j,k are 0-based positions.
    val gRows = xc
      .select(col("xc").as("v2"), posexplode(col("xc")).as(Seq("j", "xj")))
      .select(col("j"), col("xj"), posexplode(col("v2")).as(Seq("k", "xk")))
      .groupBy("j", "k")
      .agg(sum((col("xj") * col("xk")).cast(dec)).cast(DoubleType).as("g"))
      .collect()
    val gm = Array.ofDim[Double](d, d)
    gRows.foreach(r => gm(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    var wv: Array[Double] = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    (1 to iterations).foreach { _ =>
      // sequential-double matvec + norm: bit-equal to list_inner_product
      // over the k-ascending Gram row / the j-ascending t vector
      val t = Array.tabulate(d) { j =>
        var s = 0.0; var k = 0
        while (k < d) { s += gm(j)(k) * wv(k); k += 1 }
        s
      }
      var nsq = 0.0
      t.foreach(x => nsq += x * x)
      val norm = math.sqrt(nsq)
      wv = t.map(_ / norm)
    }
    val spark = corpus.sparkSession
    val wFlat = spark.createDataFrame(
      spark.sparkContext.parallelize(wv.toIndexedSeq.zipWithIndex.map { case (l, i) =>
        org.apache.spark.sql.Row(i, l)
      }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("dim", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("loading", DoubleType))))
    muFlat.join(wFlat, Seq("dim"))
      .select(col("dim").cast(LongType).as("dim"), col("m").as("mean"),
        col("loading"))
  }

  test("pcaTopComponentGram: same unit-axis fixpoints as the per-round form") {
    val pts = Seq((1L, Seq(0f, 0f)), (2L, Seq(4f, 0f))).toDF("vec_id", "embedding")
    val got = rows(pcaTopComponentGram(pts, "embedding", iterations = 3)
      .orderBy("dim"))
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    got.map(_._2) shouldBe Seq(2.0, 0.0)
    got(0)._3 shouldBe 1.0 +- 1e-12
    got(1)._3 shouldBe 0.0 +- 1e-12
  }

  test("pcaTopComponentGram: agrees with pcaTopComponent to float tolerance") {
    // same fixpoint, different accumulation grouping (Σ_k G_jk·w_k vs
    // Σ_rows xc_j·(xc·w)) — means are bit-equal (identical centering
    // aggregate); loadings diverge at the 6-dp decimal quantization level
    // (each form rounds DIFFERENT per-row quantities to DECIMAL(30,6):
    // xc_j·xc_k products vs xc_j·s projections — ~1e-7 absolute on the
    // accumulators, ~1e-8 on the normalized loadings here)
    val pts = Seq(
      (1L, Seq(1.5f, -0.25f, 3f)), (2L, Seq(-2f, 0.5f, 1f)),
      (3L, Seq(0.75f, 4f, -1.5f)), (4L, Seq(2.25f, -3f, 0.5f)))
      .toDF("vec_id", "embedding")
    val a = rows(Similarity.pcaTopComponent(pts, "embedding", iterations = 3)
      .orderBy("dim")).map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val b = rows(pcaTopComponentGram(pts, "embedding", iterations = 3)
      .orderBy("dim")).map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    a.map(_._1) shouldBe b.map(_._1)
    a.map(_._2) shouldBe b.map(_._2)
    a.zip(b).foreach { case (x, y) => x._3 shouldBe y._3 +- 1e-6 }
  }

  test("ivfTopK with enough probes matches brute force on the top hit") {
    val queries = vecs.filter(col("vec_id") === 0L)
    val cents = Similarity.trainCentroids(vecs, "embedding", "vec_id", 2)
    val ivf = rows(Similarity.ivfTopK(vecs, queries, cents, "embedding", "vec_id",
      k = 1, nprobe = 2)).map(_.getLong(1))
    val brute = rows(Similarity.bruteForceTopK(vecs, queries, "embedding", "vec_id", k = 1))
      .map(_.getLong(1))
    ivf shouldBe brute
  }

  test("standardize: output has per-dim mean ~0 and sample std ~1") {
    val df = Seq(
      (1L, Seq(1.0f, 10.0f)), (2L, Seq(2.0f, 20.0f)),
      (3L, Seq(3.0f, 30.0f)), (4L, Seq(4.0f, 40.0f))
    ).toDF("vec_id", "embedding")
    val z = rows(Similarity.standardize(df, "embedding", "vec_id"))
      .map(r => (r.getLong(1), r.getDouble(2)))
    (0L to 1L).foreach { d =>
      val zs = z.filter(_._1 == d).map(_._2)
      zs.sum shouldBe 0.0 +- 1e-9
      val n = zs.size
      math.sqrt(zs.map(v => v * v).sum / (n - 1)) shouldBe 1.0 +- 1e-9
      // [1,2,3,4] standardized: mean 2.5, std ~1.29099; extremes ±1.1619
      zs.min shouldBe -1.161895003862225 +- 1e-9
    }
  }

  test("semDedup: lower-id keeper survives, τ-similar cluster-mate drops, " +
       "lone cell member survives") {
    // centroids = ±x axes → cells split the x-cluster {0,1} from opposite 4;
    // y-cluster {2,3} lands with whichever centroid wins the argmax tie-break
    val cents = Seq(
      (0L, Seq(1.0, 0.0, 0.0)), (1L, Seq(-1.0, 0.0, 0.0))
    ).toDF("cell_id", "centroid")
    val out = rows(Similarity.semDedup(vecs, cents, "embedding", "vec_id",
        threshold = 0.9).orderBy("vec_id"))
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    out(0L) shouldBe false // keeper: lowest id in its τ-similar pair
    out(1L) shouldBe true  // cos(0,1) ≈ 0.994 ≥ 0.9, same cell, higher id
    out(2L) shouldBe false // cos(2,3) ≈ 0.994 but 2 keeps (lower id)
    out(3L) shouldBe true
    out(4L) shouldBe false // alone in the -x cell: nothing to drop against
  }

  test("ivfIndexAppend: delta-only assignment (base never rescanned), " +
       "incrementally-built index equals a full rebuild") {
    import spark.implicits._
    val mk = (ids: Seq[Long]) => ids.map(i =>
      (i, Array(math.cos(i * 0.1).toFloat, math.sin(i * 0.1).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(-1.0, 0.0))).toDF("cell_id", "centroid")
    val baseCorpus = mk(0L until 40L)
    val delta = mk(40L until 60L)
    // the landed artifact: base assignment materialized with truncated
    // lineage — the append below may reference it only as a scan
    val base = Similarity.ivfAssign(baseCorpus, cents, "embedding", "vec_id")
      .localCheckpoint(true)
    val appended = Similarity.ivfIndexAppend(base, delta, cents, "embedding", "vec_id")
    // delta-only assignment: exactly ONE nearest-cell argmax subtree in the
    // plan (the delta's); the base side is a lineage-free scan of the landed
    // frame. A refactor that re-derives base assignment doubles this count.
    val plan = appended.queryExecution.optimizedPlan.toString
    plan.split("array_sort", -1).length - 1 shouldBe 1
    val full = Similarity.ivfAssign(baseCorpus.unionByName(delta), cents,
      "embedding", "vec_id")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("neighbor_id", "cell").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    key(appended) shouldBe key(full)
  }

  test("mmrRerank: the second pick diversifies away from the first pick's near-clone " +
       "even though the clone has higher raw relevance") {
    import spark.implicits._
    // query along +x; candidates: two near-identical high-relevance vectors
    // (10, 11) and one moderately relevant orthogonal-ish vector (12).
    // Pure relevance ranks 10, 11, 12 — MMR at λ=0.5 must pick 10 then 12
    // (11's redundancy penalty ≈ its relevance; 12's penalty ≈ 0).
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f)),
      (11L, Array(0.999f, 0.045f)),
      (12L, Array(0.6f, 0.8f))
    ).toDF("vec_id", "embedding")
    val q = Seq((1L, Array(1.0f, 0.001f))).toDF("vec_id", "embedding")
    val out = rows(Similarity.mmrRerank(corpus, q, "embedding", "vec_id",
        kCand = 3, kOut = 3).orderBy("mmr_rank"))
      .map(r => (r.getLong(1), r.getLong(3)))
    out.map(_._1) shouldBe Seq(10L, 12L, 11L)
    out.map(_._2) shouldBe Seq(1L, 2L, 3L)
  }

  test("semDedup maxCellSize: a pathological single centroid cannot plan an n² pair stage — " +
       "subcell split bounds pair volume; exact dups sharing a subcell still drop") {
    import spark.implicits._
    // degenerate quantizer: ONE centroid, so every vector lands in one cell.
    // 200 vectors, cap 20 → 10 subcells by xxhash64(id) mod 10.
    val n = 200
    // angle-spread base directions: adjacent cos = cos(0.005) ≈ 0.9999875,
    // safely under the τ = 1−1e-7 gate, so NO base pair is τ-similar
    def at(i: Long) = Array(math.cos(i * 0.005).toFloat, math.sin(i * 0.005).toFloat)
    val vecs = (0L until n.toLong).map(i => (i, at(i))).toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1.0, 0.0))).toDF("cell_id", "centroid")
    val index = Similarity.ivfAssign(vecs, cents, "embedding", "vec_id")
    val keyed = Similarity.semDedupPairKey(index, Some(20L))
    // measured candidate-pair volume = Σ over subcells of C(size, 2) — must
    // be far under the unguarded C(200, 2) = 19,900 (worst subcell ≤ ~2·cap
    // by hash balance; the bound asserted is the structural one: the split
    // actually sharded the cell)
    val sizes = keyed.groupBy("cell", "__sub").count().collect().map(_.getLong(2))
    sizes.length should be > 5 // the hash actually spread members
    val pairVolume = sizes.map(s => s * (s - 1) / 2).sum
    pairVolume should be < 4000L
    // semantics under the guard: exact clones (2·v at id+1000 — cosine
    // exactly 1) are the ONLY τ-similar pairs. Unguarded semDedup drops all
    // 50 clones; the guarded run must drop a SUBSET of them (recall-only
    // loss where a clone hashes away from its twin) and never a base vector
    val clones = (0L until 50L).map(i => (i + 1000L, at(i).map(_ * 2f)))
    val all = vecs.unionByName(clones.toDF("vec_id", "embedding"))
    def drops(cap: Option[Long]) =
      Similarity.semDedup(all, cents, "embedding", "vec_id",
        threshold = 0.9999999, maxCellSize = cap)
        .filter(col("dropped")).select("vec_id").collect().map(_.getLong(0)).toSet
    val unguarded = drops(None)
    unguarded shouldBe (1000L until 1050L).toSet
    val guarded = drops(Some(20L))
    guarded.subsetOf(unguarded) shouldBe true
    Similarity.semDedup(all, cents, "embedding", "vec_id", threshold = 0.9999999,
      maxCellSize = Some(20L)).count() shouldBe 250L // one verdict per vector
  }

  test("PQ: encode picks the argmax-IP centroid per subspace; ADC is EXACT for a " +
       "losslessly-encodable corpus (vectors that ARE codebook concatenations)") {
    import spark.implicits._
    val books = Similarity.pqCodebooks(m = 2, subDim = 4, ksub = 4, seed = 11L)
    books.foreach(_.size shouldBe 4)
    // corpus: every (c0, c1) concatenation of subspace centroids — encoding
    // is lossless, so ADC(q, x) = Σⱼ q_subⱼ·centroid_codeⱼ = q·x EXACTLY
    val corpus = (for (a <- 0 until 4; b <- 0 until 4) yield {
      val v = (books(0)(a) ++ books(1)(b)).map(_.toFloat)
      ((a * 4 + b).toLong, v)
    }).toDF("vec_id", "embedding")
    val codes = rows(Similarity.pqEncode(corpus, "embedding", "vec_id", books)
      .orderBy("neighbor_id"))
    codes.foreach { r =>
      val id = r.getAs[Long]("neighbor_id")
      r.getAs[Seq[Int]]("codes") shouldBe Seq((id / 4).toInt, (id % 4).toInt)
    }
    // arbitrary float query: ADC ranking == exact inner-product ranking,
    // scores equal to the exact dot products
    val q = Seq((100L, Array(0.3f, -1.2f, 0.7f, 0.1f, 2.0f, -0.5f, 0.9f, 1.1f)))
      .toDF("vec_id", "embedding")
    val adc = rows(Similarity.pqAdcTopK(
        Similarity.pqEncode(corpus, "embedding", "vec_id", books), q,
        "embedding", "vec_id", books, k = 16).orderBy("rank"))
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("adc")))
    val exact = rows(Similarity.bruteForceTopKDot(corpus, q, "embedding", "vec_id", k = 16)
      .orderBy("rank"))
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("ip")))
    adc shouldBe exact
  }

  test("embedOutliers: the single far vector among ten is the unique outlier " +
       "(9 identical + 1 far -> z_far = 0.9/sqrt(0.1) ~ 2.846)") {
    import spark.implicits._
    val pts = (1L to 9L).map(i => (i, 0, Array(1.0f, 0.0f))) :+
      ((10L, 0, Array(0.0f, 5.0f)))
    val out = rows(Similarity.embedOutliers(pts.toDF("vec_id", "label", "embedding"),
        "embedding", "vec_id", "label").orderBy("vec_id"))
      .map(r => r.getLong(0) -> (r.getDouble(3), r.getBoolean(4))).toMap
    out(10L)._2 shouldBe true
    out(10L)._1 shouldBe 2.846 +- 1e-3
    (1L to 9L).foreach { i => out(i)._2 shouldBe false }
  }

  test("binaryQuantize packs sign bits exactly (incl. bit 63 = min long); " +
       "bqHammingTopK counts xor bits and breaks Hamming ties by neighbor id") {
    import spark.implicits._
    // deterministic 64-dim vectors: v[id][i] > 0 iff (id·67 + i·13) % 5 < 2
    def mk(id: Long): Array[Float] =
      Array.tabulate(64)(i => if ((id * 67 + i * 13) % 5 < 2) 1.0f else -1.0f)
    val corpus = (0L to 9L).map(id => (id, mk(id))).toDF("vec_id", "embedding")
    val codes = rows(Similarity.binaryQuantize(corpus, "embedding", "vec_id")
      .orderBy("vec_id")).map(r => r.getLong(0) -> r.getLong(1)).toMap
    def expect(id: Long): Long =
      (0 until 64).foldLeft(0L)((acc, i) => if (mk(id)(i) > 0) acc | (1L << i) else acc)
    (0L to 9L).foreach { id => codes(id) shouldBe expect(id) }
    // at least one code must use the sign bit or the fixture is too tame
    codes.values.exists(_ < 0) shouldBe true

    val top = rows(Similarity.bqHammingTopK(
        Similarity.binaryQuantize(corpus, "embedding", "vec_id"),
        corpus.filter(col("vec_id") === 0L), "embedding", "vec_id", k = 9)
      .orderBy("rank"))
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("hamming")))
    top.length shouldBe 9 // self excluded
    top.foreach { case (nid, h) =>
      h shouldBe java.lang.Long.bitCount(codes(0L) ^ codes(nid)).toLong
    }
    // ranking is (hamming asc, id asc): verify against the direct sort
    val direct = (1L to 9L)
      .map(nid => (nid, java.lang.Long.bitCount(codes(0L) ^ codes(nid)).toLong))
      .sortBy { case (nid, h) => (h, nid) }
    top shouldBe direct
  }
}
