package graft

import graft.operators.{Dedup, TextAnalysis}

/** Curation operators: repetition stats, PII scrubbing, decontamination. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("repetitionStats: fully repeated text has high dup ratio, varied text low") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "every word here is completely different now")
    ).toDF("doc_id", "text")
    val out = rows(TextAnalysis.repetitionStats(df, "text", "doc_id", n = 2).orderBy("doc_id"))
    val dup = out.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    dup(1L) should be > 0.8 // 7 bigrams, all "spam spam"
    dup(2L) shouldBe 0.0
  }

  test("scrubPii replaces emails and IPs with placeholders and counts them") {
    val df = Seq((1L, "mail a.b@x-corp.io or ops@a.co, host 192.168.0.1 done")).toDF("id", "text")
    val r = rows(TextAnalysis.scrubPii(df, "text")).head
    r.getAs[String]("scrubbed") shouldBe "mail <EMAIL> or <EMAIL>, host <IP> done"
    r.getAs[Long]("n_email") shouldBe 2L
    r.getAs[Long]("n_ipv4") shouldBe 1L
  }

  test("contamination: corpus doc containing a benchmark doc scores containment 1") {
    val bench = Seq((100L, "the secret benchmark question about distributed joins")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "intro text then the secret benchmark question about distributed joins and more"),
      (2L, "nothing in common with anything at all here")
    ).toDF("doc_id", "text")
    val out = rows(Dedup.contamination(corpus, bench, "text", "doc_id", n = 3, minContainment = 0.5))
    out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) shouldBe Seq((1L, 100L, 1.0))
  }
}
