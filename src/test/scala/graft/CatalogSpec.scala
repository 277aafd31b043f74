package graft

import graft.sources.{Catalog, Lake}
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def freshCatalog(tag: String): Catalog = {
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_catalog_spec_${tag}_p${ProcessHandle.current().pid()}").toString
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    Catalog(spark, root)
  }

  private val df3 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")

  test("empty catalog: version 0, empty entries with full schema") {
    val cat = freshCatalog("empty")
    cat.currentVersion shouldBe 0L
    cat.entries.count() shouldBe 0L
    cat.entries.columns.toSeq shouldBe Seq(
      "name", "layer", "source", "data_type", "ingest_date", "num_rows", "num_cols", "version")
  }

  test("register parses name tokens and counts; upsert replaces the row at the new version") {
    val cat = freshCatalog("upsert")
    cat.register("silver", "av_stock_20240102", df3) shouldBe 1L
    cat.register("silver", "av_stock_20240103", df3) shouldBe 2L
    cat.register("silver", "av_stock_20240102", df3.limit(2)) shouldBe 3L

    val rows = cat.entries.orderBy("name").collect()
    rows.length shouldBe 2
    val r0 = rows(0)
    r0.getString(0) shouldBe "av_stock_20240102"
    r0.getString(2) shouldBe "av"
    r0.getString(3) shouldBe "stock"
    r0.getString(4) shouldBe "20240102"
    r0.getLong(5) shouldBe 2L // upserted with the 2-row frame
    r0.getInt(6) shouldBe 2
    r0.getLong(7) shouldBe 3L // moved to the committing version
    rows(1).getLong(7) shouldBe 2L // untouched row keeps its version
  }

  test("unregister drops the row; non-date names get null ingest_date") {
    val cat = freshCatalog("unreg")
    cat.register("gold", "summary", df3)
    cat.register("gold", "av_stock_20240104", df3)
    cat.unregister("gold", "av_stock_20240104") shouldBe 3L
    val rows = cat.entries.collect()
    rows.length shouldBe 1
    rows(0).getString(0) shouldBe "summary"
    rows(0).isNullAt(4) shouldBe true // "summary" has no trailing date token
  }

  test("latestName picks max ingest_date within (layer, source, data_type)") {
    val cat = freshCatalog("latest")
    cat.register("silver", "av_stock_20240102", df3)
    cat.register("silver", "av_stock_20240110", df3)
    cat.register("silver", "av_forex_20240120", df3)
    cat.latestName("silver", "av", "stock") shouldBe Some("av_stock_20240110")
    cat.latestName("silver", "av", "forex") shouldBe Some("av_forex_20240120")
    cat.latestName("gold", "av", "stock") shouldBe None
  }

  test("entriesAt time-travels to an immutable snapshot; pruned versions throw") {
    val cat = freshCatalog("travel")
    cat.register("silver", "a_x_20240101", df3)
    cat.register("silver", "b_x_20240102", df3)
    cat.unregister("silver", "a_x_20240101")
    cat.entries.count() shouldBe 1L
    cat.entriesAt(2L).count() shouldBe 2L // before the unregister
    cat.entriesAt(1L).collect().map(_.getString(0)).toSeq shouldBe Seq("a_x_20240101")
    an[IllegalArgumentException] should be thrownBy cat.entriesAt(99L)
  }

  test("commit conflict: a claimed next version aborts the writer, table untouched") {
    val cat = freshCatalog("cas")
    cat.register("silver", "a_x_20240101", df3)
    // simulate a concurrent writer holding the v2 claim
    val fs = new org.apache.hadoop.fs.Path(cat.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(cat.root, "_catalog/_claim_v00000002"), false).close()
    a[java.util.ConcurrentModificationException] should be thrownBy
      cat.register("silver", "b_x_20240102", df3)
    cat.currentVersion shouldBe 1L // pointer unmoved
    cat.entries.count() shouldBe 1L
    // no staging leftovers from the aborted writer
    fs.listStatus(new org.apache.hadoop.fs.Path(cat.root, "_catalog"))
      .map(_.getPath.getName).count(_.startsWith(".staging")) shouldBe 0
  }

  test("two-writer race: concurrent commits from independent Catalog instances " +
       "serialize through the claim CAS — no torn pointer, no lost update") {
    val cat0 = freshCatalog("race")
    cat0.register("bronze", "seed_x_20240101", df3) // v1 exists before the race
    val root = cat0.root
    // two INDEPENDENT instances (separate objects — the JVM `synchronized`
    // cannot serialize them; only the claim-file compare-and-swap can), each
    // committing 6 distinct datasets with retry-on-conflict, concurrently
    val writers = (1 to 2).map { w =>
      new Thread {
        var conflicts = 0
        override def run(): Unit = {
          val cat = Catalog(spark, root)
          (1 to 6).foreach { i =>
            var done = false
            while (!done) {
              try { cat.register("bronze", f"w${w}_x_202402$i%02d", df3); done = true }
              catch { case _: java.util.ConcurrentModificationException => conflicts += 1 }
            }
          }
        }
      }
    }
    writers.foreach(_.start()); writers.foreach(_.join(120000))
    val cat = Catalog(spark, root)
    // no lost update: every one of the 13 registrations present exactly once
    cat.entries.count() shouldBe 13L
    cat.entries.select("name").distinct().count() shouldBe 13L
    // last-committer-wins pointer: names a live, readable snapshot whose
    // version equals the 13 serialized commits
    cat.currentVersion shouldBe 13L
    cat.entries.agg(max(col("version"))).head().getLong(0) shouldBe 13L
    // no torn state on disk: pointer file readable, its snapshot exists, no
    // staging leftovers from aborted attempts
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(root, "_catalog"))
      .map(_.getPath.getName)
    names should contain(f"v${13L}%08d")
    names.count(_.startsWith(".staging")) shouldBe 0
    names.count(_.startsWith("_CURRENT.tmp")) shouldBe 0
  }

  test("history is pruned to the window but the live snapshot always survives") {
    val cat = freshCatalog("prune")
    (1 to cat.historyWindow + 3).foreach(i => cat.register("bronze", f"d_x_202401$i%02d", df3))
    val fs = new org.apache.hadoop.fs.Path(cat.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(cat.root, "_catalog"))
      .map(_.getPath.getName).filter(_.startsWith("v")).sorted
    versions.length should be <= cat.historyWindow + 1
    versions.last shouldBe f"v${cat.currentVersion}%08d"
    cat.entries.count() shouldBe (cat.historyWindow + 3).toLong
  }

  test("commits launch no Spark job: register runs only its frame's count; " +
       "unregister, entries, entriesAt and latestName run none") {
    val cat = freshCatalog("jobs")
    val lake = Lake(spark, cat.root)
    lake.write(df3, "gold", "av_stock_20240102")
    val gold = lake.read("gold", "av_stock_20240102") // parquet-backed, as an ingest batch registers
    withJobCount(cat.register("gold", "av_stock_20240102", gold)) shouldBe ((1L, 1))
    cat.register("gold", "av_stock_20240103", gold)
    withJobCount(cat.unregister("gold", "av_stock_20240103")) shouldBe ((3L, 0))
    withJobCount(cat.entries.collect().length) shouldBe ((1, 0))
    withJobCount(cat.entriesAt(2L).collect().length) shouldBe ((2, 0))
    withJobCount(cat.latestName("gold", "av", "stock")) shouldBe
      ((Some("av_stock_20240102"), 0))
  }

  test("a register whose frame fails at execution commits nothing and leaves no claim, " +
       "tmp or staging file") {
    val cat = freshCatalog("failing")
    cat.register("silver", "a_x_20240101", df3)
    val failing = spark.range(10).toDF().filter(
      when(col("id") === 6L, raise_error(lit("bad row"))).otherwise(lit(true)))
    an[Exception] should be thrownBy cat.register("silver", "b_x_20240102", failing)
    cat.currentVersion shouldBe 1L
    val names = new java.io.File(cat.root, "_catalog").list().toSeq
    names should not contain "_claim_v00000002"
    names.filter(n => n.contains("tmp") || n.startsWith(".staging")) shouldBe empty
    cat.register("silver", "b_x_20240102", df3) shouldBe 2L
  }

  test("pointer window: a reader polling while 40 registers commit never sees the " +
       "version go back, nor version 0 or an empty catalog after the first commit") {
    val cat = freshCatalog("window")
    val committed = new AtomicBoolean(false)
    val done = new AtomicBoolean(false)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread {
      override def run(): Unit = {
        var last = 0L
        while (!done.get) {
          val afterFirst = committed.get
          val v = cat.currentVersion
          val n = cat.entries.count()
          if (v < last) seen.add(s"version $v after $last")
          if (afterFirst && (v == 0L || n == 0L)) seen.add(s"version $v with $n rows")
          last = v
        }
      }
    }
    reader.start()
    try (1 to 40).foreach { i =>
      Catalog(spark, cat.root).register("bronze", f"d_x_2024$i%04d", df3)
      committed.set(true)
    } finally { done.set(true); reader.join(120000) }
    seen.asScala.toSeq shouldBe empty
    cat.currentVersion shouldBe 40L
  }
}
