package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ScaleProbeSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val stride = ScaleProbe.IdStride

  // one 2× replica for the whole suite, deleted at JVM exit
  private lazy val rep: String = {
    val dir = SessionCache.registerTmpIndexDir(
      java.nio.file.Files.createTempDirectory("graft_scale_spec").toString)
    ScaleProbe.replicate(spark, sf, 2, dir)
    dir
  }

  private def table(dir: String, t: String): DataFrame = spark.read.parquet(s"$dir/$t.parquet")

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    a.count() shouldBe b.count()
    a.exceptAll(b).count() shouldBe 0L
    b.exceptAll(a).count() shouldBe 0L
  }

  test("replicate k=2: documents and embeddings hold 2x rows with distinct re-keyed ids") {
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id").foreach { case (t, id) =>
      val base = table(sf, t)
      val out = table(rep, t)
      out.schema.map(f => (f.name, f.dataType)) shouldBe base.schema.map(f => (f.name, f.dataType))
      out.count() shouldBe 2 * base.count()
      out.select(id).distinct().count() shouldBe out.count()
      // copy i is the base table with every id shifted by i·IdStride
      (0 until 2).foreach { i =>
        val copy = out.filter(col(id) >= i * stride && col(id) < (i + 1) * stride)
          .withColumn(id, col(id) - lit(i * stride))
        sameRows(copy, base)
      }
    }
  }

  test("replicate k=2: the other eight tables read back with identical rows") {
    val others = new java.io.File(sf).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
      .filterNot(Set("documents", "embeddings")).sorted.toSeq
    others should have size 8
    others.foreach(t => sameRows(table(rep, t), table(sf, t)))
  }

  test("a registered query runs on the replica: q_dedup_exact folds every copy onto copy 0") {
    val q = SparkEntry.queries("q_dedup_exact")
    rows(q(spark, rep)) shouldBe rows(q(spark, sf))
  }
}
