package graft

import org.scalacheck.{Gen, rng}

import graft.operators.{Dedup, Queries, Similarity, TextAnalysis}

/** Property invariants for the round-10 wave-4 operators: each distributed
  * formulation is checked against an independent in-JVM brute-force
  * reference on scalacheck-generated inputs (deterministic seeds). These are
  * the *independent* checks — the DuckDB duals restate the same relational
  * algebra, while these references restate the ALGORITHM imperatively.
  */
class Wave4PropertySpec extends SparkSpec {
  import spark.implicits._

  private val seeds = 1L to 6L

  private def gen[T](g: Gen[List[T]], s: Long): List[T] =
    g(Gen.Parameters.default, rng.Seed(s)).get

  private val vocab = Vector("ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen")

  /** conv(substring(md5(s),1,8),16,10): first 4 md5 bytes, unsigned BE. */
  private def md5h8(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Integer.toUnsignedLong(java.nio.ByteBuffer.wrap(d, 0, 4).getInt)
  }

  // --- winnowing: the packed-long window selection == imperative MOSS -----

  test("winnowFingerprints equals the imperative winnowing reference (min of " +
       "each w-window, rightmost tie) on random docs") {
    val k = 4; val w = 5
    val docGen = Gen.nonEmptyListOf(Gen.chooseNum(0, vocab.size - 1))
    seeds.foreach { s =>
      val docs = (1L to 12L).map { id =>
        (id, gen(docGen, s * 100 + id).map(vocab(_)).mkString(" "))
      }
      def bruteDoc(text: String): Set[(Long, Long)] = {
        val toks = text.split("\\s+").filter(_.nonEmpty)
        if (toks.length < k) return Set.empty
        val hs = toks.sliding(k).map(g => md5h8(g.mkString(" "))).toVector
        val m = hs.length
        val ends = if (m <= w - 1) Seq(m - 1) else (w - 1) until m
        ends.map { e =>
          val lo = math.max(0, e - w + 1)
          // minimal hash in the frame; ties -> rightmost position
          val p = (lo to e).minBy(i => (hs(i), -i))
          (p.toLong, hs(p))
        }.toSet
      }
      val expected = docs.flatMap { case (id, t) =>
        bruteDoc(t).map { case (p, h) => (id, p, h) } }.toSet
      val got = rows(Dedup.winnowFingerprints(docs.toDF("doc_id", "text"),
          "text", "doc_id", k, w))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      got shouldBe expected
    }
  }

  // --- chi2: distributed contingency == brute-force counting --------------

  test("chi2Terms equals brute-force 2x2 contingency chi2 on random corpora") {
    val docGen = Gen.nonEmptyListOf(Gen.chooseNum(0, vocab.size - 1))
    seeds.foreach { s =>
      val docs = (1L to 20L).map { id =>
        (id, if (id % 3 == 0) "A" else "B",
          gen(docGen, s * 1000 + id).map(vocab(_)).mkString(" "))
      }
      val df = docs.toDF("doc_id", "label", "text")
      val got = rows(TextAnalysis.chi2Terms(df, "text", "doc_id", "label",
          minDf = 1, topK = vocab.size))
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(5)).toMap
      // brute force: presence sets per (token, label)
      val pres = docs.flatMap { case (id, l, t) =>
        t.split("\\s+").filter(_.nonEmpty).distinct.map(tok => (tok, l, id)) }
      val n = docs.size
      val nl = docs.groupBy(_._2).view.mapValues(_.size).toMap
      val dft = pres.groupBy(_._1).view.mapValues(_.map(_._3).distinct.size).toMap
      pres.groupBy(p => (p._1, p._2)).foreach { case ((tok, l), xs) =>
        val a = xs.map(_._3).distinct.size
        if (dft(tok) < n && nl(l) < n) {
          val (aD, bD, cD, dD) = (a.toDouble, (dft(tok) - a).toDouble,
            (nl(l) - a).toDouble, (n - dft(tok) - nl(l) + a).toDouble)
          val adbc = aD * dD - bD * cD
          val chi2 = n.toDouble * (adbc * adbc) /
            (dft(tok).toDouble * (n - dft(tok)).toDouble *
              nl(l).toDouble * (n - nl(l)).toDouble)
          got((l, tok)) shouldBe chi2 +- 1e-12
        }
      }
    }
  }

  // --- semDedup: drop rule == brute-force pairwise check ------------------

  test("semDedup verdicts equal the brute-force lower-id tau-pair rule under " +
       "brute-force argmax cell assignment") {
    val dim = 8; val tau = 0.6
    val vGen = Gen.listOfN(dim, Gen.chooseNum(-5, 5))
    seeds.foreach { s =>
      val vecs = (1L to 15L).map { id =>
        (id, gen(vGen.map(List(_)), s * 50 + id).head.map(_.toFloat).toArray)
      }
      val cents = Dedup.hyperplanes(4, dim, seed = 7L).zipWithIndex
        .map { case (v, i) => (i.toLong, v) }
      def dot(a: Array[Float], b: Seq[Double]): Double = {
        var acc = 0.0; var i = 0
        while (i < a.length) { acc += a(i).toDouble * b(i); i += 1 }; acc
      }
      def dotF(a: Array[Float], b: Array[Float]): Double = {
        var acc = 0.0; var i = 0
        while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }; acc
      }
      def cell(v: Array[Float]): Long = {
        val nv = math.sqrt(dotF(v, v))
        // argmax cosine, ties -> larger cell_id (nearestCells reverse-sort)
        cents.maxBy { case (cid, c) =>
          (dot(v, c) / (nv * math.sqrt(c.map(x => x * x).sum)), cid) }._1
      }
      val byCell = vecs.groupBy { case (_, v) => cell(v) }
      val dropped = vecs.filter { case (id, v) =>
        byCell(cell(v)).exists { case (id2, v2) =>
          id2 < id && dotF(v, v2) /
            (math.sqrt(dotF(v, v)) * math.sqrt(dotF(v2, v2))) >= tau }
      }.map(_._1).toSet
      val centsDf = cents.toDF("cell_id", "centroid")
      val got = rows(Similarity.semDedup(vecs.toDF("vec_id", "embedding"),
          centsDf, "embedding", "vec_id", tau))
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      vecs.foreach { case (id, _) => got(id) shouldBe dropped.contains(id) }
    }
  }

  // --- perceptron: distributed epochs == integer reference ----------------

  test("perceptron epochs equal the integer-exact sequential reference") {
    val rowGen = Gen.nonEmptyListOf(for {
      y <- Gen.oneOf(1L, -1L)
      x1 <- Gen.chooseNum(-9L, 9L)
      x2 <- Gen.chooseNum(-9L, 9L)
    } yield (y, 1L, x1, x2))
    seeds.foreach { s =>
      val data = gen(rowGen, s)
      val got = rows(Queries.perceptron(data.toDF("y", "b", "x1", "x2"), "y",
          Seq("b", "x1", "x2"), iters = 4))
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      var w = Vector(0L, 0L, 0L)
      val exp = (1 to 4).map { _ =>
        val mis = data.filter { case (y, b, x1, x2) =>
          y * (w(0) * b + w(1) * x1 + w(2) * x2) <= 0 }
        w = Vector(w(0) + mis.map(r => r._1 * r._2).sum,
          w(1) + mis.map(r => r._1 * r._3).sum,
          w(2) + mis.map(r => r._1 * r._4).sum)
        (w(0), w(1), w(2), mis.size.toLong)
      }
      got shouldBe exp
    }
  }
}
