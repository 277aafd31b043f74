package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row
import org.scalacheck.{Gen, rng}

import graft.operators.Web

/** The two record readers as they were before they shared one walk (the
  * reference), and the generated segments.
  */
object WarcSpec {
  val CRLF = "\r\n"

  /** One record row with every column both readers emit; `payload` is the
    * payload's octets (the UTF-8 of the decoded payload for the text reader).
    */
  final case class Rec(pos: Int, recType: String, targetUri: String, warcDate: String,
      contentLength: Option[Long], blockOctets: Long, status: Option[Int],
      mime: Option[String], contentTypeFull: Option[String], location: Option[String],
      te: Option[String], ce: Option[String], refersTo: Option[String],
      digest: Option[String], payload: Seq[Byte])

  def fromRow(r: Row, payloadCol: String): Rec = {
    def opt(c: String) = Option(r.getAs[String](c))
    Rec(r.getAs[Int]("rec_pos"), r.getAs[String]("rec_type"), r.getAs[String]("target_uri"),
      r.getAs[String]("warc_date"),
      Option(r.getAs[java.lang.Long]("content_length")).map(_.longValue),
      r.getAs[Long]("block_octets"),
      Option(r.getAs[java.lang.Integer]("http_status")).map(_.intValue),
      opt("mime"), opt("content_type_full"), opt("http_location"),
      opt("transfer_encoding"), opt("content_encoding"), opt("refers_to"),
      opt("payload_digest"),
      r.get(r.fieldIndex(payloadCol)) match {
        case s: String => s.getBytes(UTF_8).toSeq
        case b: Array[Byte] => b.toSeq
      })
  }

  private val magic = "HTTP/1.".getBytes(UTF_8)
  private val sep = (CRLF + CRLF).getBytes(UTF_8)

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int =
    (from to hay.length - needle.length).find(matchesAt(hay, needle, _)).getOrElse(-1)

  def matchesAt(hay: Array[Byte], needle: Array[Byte], at: Int): Boolean =
    at >= 0 && at + needle.length <= hay.length &&
      needle.indices.forall(j => hay(at + j) == needle(j))

  /** `regexp_extract(s, re, 1)`: the first match's group, "" when none. */
  private def extract(s: String, re: String): String = {
    val m = java.util.regex.Pattern.compile(re).matcher(s)
    if (m.find()) m.group(1) else ""
  }

  private def nonEmpty(s: String): Option[String] = Some(s).filter(_.nonEmpty)

  /** The header columns both readers derived, with the HTTP fields only
    * where `http` holds (the text reader: a `response` record; the binary
    * reader: a non-empty head). The second value is true where the ANSI
    * `cast` of the status line threw, which failed the whole query; the row
    * then carries the NULL status the readers give now. Every field name
    * matches only at the start of a line, as the readers' chain anchors it.
    */
  private def columns(c: Web.WarcCutB, pos: Int, recType: String, head: String,
      http: Boolean, payload: Seq[Byte]): (Rec, Boolean) = {
    val claim = extract(c.hdr, "(?m)^Content-Length: ([0-9]+)")
    val status = extract(head, "^HTTP/1\\.[01] ([0-9]{3})")
    def headField(re: String) = if (http) nonEmpty(extract(head, re)) else None
    (Rec(pos, recType, extract(c.hdr, "(?m)^WARC-Target-URI: ([^\r\n]+)"),
      extract(c.hdr, "(?m)^WARC-Date: ([^\r\n]+)"),
      if (claim.length >= 1 && claim.length <= 18) Some(claim.toLong) else None,
      (c.blockEnd - c.blockStart).toLong,
      if (http && status.nonEmpty) Some(status.toInt) else None,
      if (http) Some(extract(head, "(?m)^Content-Type: ([^;\r\n]+)")) else None,
      headField("(?m)^Content-Type: ([^\r\n]+)"), headField("(?m)^Location: ([^\r\n]+)"),
      headField("(?m)^Transfer-Encoding: ([^\r\n]+)"),
      headField("(?m)^Content-Encoding: ([^\r\n]+)"),
      nonEmpty(extract(c.hdr, "(?m)^WARC-Refers-To: <([^>]+)>")),
      nonEmpty(extract(c.hdr, "(?m)^WARC-Payload-Digest: ([^\r\n]+)")), payload),
      http && status.isEmpty)
  }

  def decoded(b: Array[Byte], from: Int, until: Int): Seq[Byte] =
    new String(b, from, until - from, UTF_8).getBytes(UTF_8).toSeq

  /** The text reader's walk: a `response` block splits at its first CRLF
    * CRLF (the whole block is head, and the payload empty, when it has
    * none); every other block is all payload.
    */
  def oldText(bytes: Array[Byte]): Seq[(Rec, Boolean)] =
    Web.warcCutsB(bytes).zipWithIndex.flatMap { case (c, i) =>
      val recType = Web.hdrField(c.hdr, "WARC-Type: ")
      val (head, from, until) = if (recType == "response") {
        val at0 = indexOf(bytes, sep, c.blockStart)
        val at = if (at0 >= 0 && at0 + sep.length <= c.blockEnd) at0 else -1
        if (at >= 0) (new String(bytes, c.blockStart, at - c.blockStart, UTF_8),
          at + sep.length, c.blockEnd)
        else (new String(bytes, c.blockStart, c.blockEnd - c.blockStart, UTF_8),
          c.blockEnd, c.blockEnd)
      } else ("", c.blockStart, c.blockEnd)
      if (recType.isEmpty) None
      else Some(columns(c, i + 1, recType, head, recType == "response",
        decoded(bytes, from, until)))
    }

  /** The binary reader's walk: a block that starts `HTTP/1.` splits at its
    * first CRLF CRLF inside the block; every other block is all payload.
    * `payload` makes the payload octets (the text view decodes them).
    */
  def oldBin(seg: Array[Byte], payload: (Array[Byte], Int, Int) => Seq[Byte]): Seq[(Rec, Boolean)] =
    Web.warcCutsB(seg).zipWithIndex.flatMap { case (c, i) =>
      val isHttp = matchesAt(seg, magic, c.blockStart) &&
        c.blockStart + magic.length <= c.blockEnd
      val sepAt = if (isHttp) {
        val at = indexOf(seg, sep, c.blockStart)
        if (at >= 0 && at + sep.length <= c.blockEnd) at else -1
      } else -1
      val head = if (sepAt >= 0) new String(seg, c.blockStart, sepAt - c.blockStart, UTF_8)
        else ""
      val recType = extract(c.hdr, "(?m)^WARC-Type: ([^\r\n]+)")
      if (recType.isEmpty) None
      else Some(columns(c, i + 1, recType, head, head.nonEmpty,
        payload(seg, if (sepAt >= 0) sepAt + sep.length else c.blockStart, c.blockEnd)))
    }

  /** Where the two readers' head-split rules disagree, by record position. */
  def ruleShapes(bytes: Array[Byte]): Map[Int, String] =
    Web.warcCutsB(bytes).zipWithIndex.flatMap { case (c, i) =>
      val recType = Web.hdrField(c.hdr, "WARC-Type: ")
      val isHttp = matchesAt(bytes, magic, c.blockStart) &&
        c.blockStart + magic.length <= c.blockEnd
      val at = indexOf(bytes, sep, c.blockStart)
      val hasSep = at >= 0 && at + sep.length <= c.blockEnd
      val shape =
        if (recType.isEmpty) None
        else if (recType != "response" && isHttp && hasSep) Some("non-response HTTP head")
        else if (recType == "response" && isHttp && !hasSep) Some("head-only response")
        else if (recType == "response" && !isHttp) Some("non-HTTP response")
        else None
      shape.map(i + 1 -> _)
    }.toMap

  val QuotedRecord: String = "WARC/1.0" + CRLF + "WARC-Type: response" + CRLF +
    "Content-Length: 9999" + CRLF + CRLF + "phantom"

  private val bodyGen: Gen[String] = for {
    n <- Gen.choose(0, 40)
    seed <- Gen.long
    quote <- Gen.frequency(4 -> false, 1 -> true)
  } yield {
    val r = new scala.util.Random(seed)
    val chars = "ab <>=/.é日\r\n"
    val s = Seq.fill(n)(chars(r.nextInt(chars.length))).mkString
    if (quote) s + QuotedRecord + s else s
  }

  private val blockGen: Gen[String] = for {
    kind <- Gen.choose(0, 3)
    status <- Gen.oneOf("HTTP/1.1 200 OK", "HTTP/1.0 404 Not Found",
      "HTTP/1.1 301 Moved Permanently", "HTTP/1.1 OK", "HTTP/1.2 200 OK", "HTTP/1.",
      "20240102031500")
    headers <- Gen.someOf("Content-Type: text/html; charset=UTF-8",
      "Content-Type: text/plain", "Location: https://e.example/next",
      "Transfer-Encoding: chunked", "Content-Encoding: gzip")
    body <- bodyGen
  } yield {
    val head = status + CRLF + headers.map(_ + CRLF).mkString
    kind match {
      case 0 => head + CRLF + body // head, blank line, body
      case 1 => head // head only
      case 2 => body // no HTTP head
      case _ => ""
    }
  }

  private val recordGen: Gen[String] = for {
    recType <- Gen.oneOf("response", "response", "revisit", "request", "warcinfo",
      "metadata", "conversion", "")
    block <- blockGen
    claim <- Gen.frequency(8 -> 0, 1 -> 1, 1 -> 2, 1 -> 3)
    delta <- Gen.choose(-3, 3)
    revisitFields <- Gen.oneOf(false, true)
  } yield {
    val octets = block.getBytes(UTF_8).length
    val claimLine = claim match {
      case 0 => s"Content-Length: $octets" + CRLF
      case 1 => "" // claim-less: the marker-framed fallback
      case 2 => s"Content-Length: ${math.max(0, octets + delta)}" + CRLF
      case _ => "Content-Length: 99999999999999999999" + CRLF
    }
    "WARC/1.0" + CRLF + (if (recType.isEmpty) "" else s"WARC-Type: $recType" + CRLF) +
      "WARC-Target-URI: https://e.example/p" + CRLF +
      "WARC-Date: 2024-01-02T03:15:00Z" + CRLF +
      (if (revisitFields) "WARC-Refers-To: <urn:graft:1-3>" + CRLF +
        "WARC-Payload-Digest: md5:0cc175b9c0f1b6a8" + CRLF else "") +
      claimLine + CRLF + block + CRLF + CRLF
  }

  /** 0-5 records behind an optional junk prefix, then cut, bit-flipped or
    * junk-tailed.
    */
  val segmentGen: Gen[Array[Byte]] = for {
    n <- Gen.choose(0, 5)
    records <- Gen.listOfN(n, recordGen)
    prefix <- Gen.oneOf("", "junk before the first record ")
    mutation <- GzipSpec.mutationGen
  } yield mutation((prefix + records.mkString).getBytes(UTF_8))

  /** One record segment around `block`, its claim exact. */
  def segment(recType: String, block: String): String =
    "WARC/1.0" + CRLF + s"WARC-Type: $recType" + CRLF +
      s"Content-Length: ${block.getBytes(UTF_8).length}" + CRLF + CRLF + block + CRLF + CRLF
}

/** The one record walk behind [[Web.warcRecords]] and [[Web.warcRecordsBin]]:
  * a differential property against the readers it replaced (kept above as
  * the reference), the framing bounds of [[Web.warcCutsB]], and the status
  * lines that used to fail the query.
  */
class WarcSpec extends SparkSpec {
  import spark.implicits._
  import WarcSpec._

  test("record walk PROPERTY: over truncated, bit-flipped and marker-quoting " +
    "segments no reader throws, framing stays inside the segment, the binary " +
    "reader equals the old one, and the text reader equals the old one except " +
    "on the three shapes where the rules differed, where it follows the binary rule") {
    val segs = (1L to 400L).map(seed =>
      seed -> segmentGen(Gen.Parameters.default, rng.Seed(seed)).get)
    val marker = ("WARC/1.0" + CRLF).getBytes(UTF_8)
    segs.foreach { case (seed, b) =>
      withClue(s"seed=$seed bytes=${b.length}: ") {
        val cuts = Web.warcCutsB(b)
        cuts.foreach { c =>
          assert(c.start >= 0 && c.start < c.blockStart && c.blockStart <= c.blockEnd &&
            c.blockEnd <= b.length)
          matchesAt(b, marker, c.start) shouldBe true
        }
        cuts.zip(cuts.drop(1)).foreach { case (x, y) => assert(x.blockEnd <= y.start) }
        cuts.size should be <= b.indices.count(matchesAt(b, marker, _))
      }
    }
    def byId(df: org.apache.spark.sql.DataFrame, payloadCol: String) =
      rows(df).groupBy(_.getAs[Long]("doc_id"))
        .map { case (id, rs) => id -> rs.map(fromRow(_, payloadCol)).sortBy(_.pos) }
    val bin = byId(Web.warcRecordsBin(segs.toDF("doc_id", "seg"), "doc_id", "seg"),
      "payload_bin")
    val text = byId(Web.warcRecords(
      segs.map { case (id, b) => (id, new String(b, UTF_8)) }.toDF("doc_id", "seg"), "seg"),
      "payload")
    val shapesSeen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var textThrew, binThrew = 0
    segs.foreach { case (seed, b) =>
      withClue(s"seed=$seed: ") {
        val refBin = oldBin(b, (s, f, u) => s.slice(f, u).toSeq)
        bin.getOrElse(seed, Seq.empty) shouldBe refBin.map(_._1)
        binThrew += refBin.count(_._2)
        val tb = new String(b, UTF_8).getBytes(UTF_8)
        val refText = oldText(tb)
        val rule = oldBin(tb, decoded).map(_._1)
        val shapes = ruleShapes(tb)
        val got = text.getOrElse(seed, Seq.empty)
        got.map(_.pos) shouldBe refText.map(_._1.pos)
        got.zip(refText).zip(rule).foreach { case ((g, (ref, threw)), r) =>
          shapes.get(g.pos) match {
            case Some(shape) => shapesSeen(shape) += 1; g shouldBe r
            case None => g shouldBe ref; if (threw) textThrew += 1
          }
        }
      }
    }
    // every arm was reached, not just the agreeing ones
    shapesSeen.keySet shouldBe Set("non-response HTTP head", "head-only response",
      "non-HTTP response")
    assert(textThrew > 0 && binThrew > 0)
  }

  /** Both readers over one `response` record around `block`: (status, mime,
    * payload) per reader, the binary payload decoded.
    */
  private def bothReaders(block: String): Seq[(Option[Int], Option[String], String)] = {
    val seg = segment("response", block)
    def view(r: Row, payload: String) =
      (Option(r.getAs[java.lang.Integer]("http_status")).map(_.intValue),
        Option(r.getAs[String]("mime")), payload)
    rows(Web.warcRecords(Seq((1L, seg)).toDF("doc_id", "warc"), "warc"))
      .map(r => view(r, r.getAs[String]("payload"))) ++
      rows(Web.warcRecordsBin(Seq((1L, seg.getBytes(UTF_8))).toDF("doc_id", "warc"),
        "doc_id", "warc"))
        .map(r => view(r, new String(r.getAs[Array[Byte]]("payload_bin"), UTF_8)))
  }

  test("unparseable status: a non-HTTP response block (a Heritrix dns: record) " +
    "rides whole with NULL status in both readers") {
    val dns = "20240102031500" + CRLF + "example.com.\t300\tIN\tA\t93.184.216.34" + CRLF
    bothReaders(dns) shouldBe Seq.fill(2)((None, None, dns))
  }

  test("unparseable status: `HTTP/1.1 OK` splits but gives NULL status in both readers") {
    bothReaders("HTTP/1.1 OK" + CRLF + "Content-Type: text/html" + CRLF + CRLF + "<p>x</p>") shouldBe
      Seq.fill(2)((None, Some("text/html"), "<p>x</p>"))
  }

  test("unparseable status: `HTTP/1.2 200 OK` splits but gives NULL status in both readers") {
    bothReaders("HTTP/1.2 200 OK" + CRLF + CRLF + "<p>y</p>") shouldBe
      Seq.fill(2)((None, Some(""), "<p>y</p>"))
  }

  test("unparseable status: an empty response block (Content-Length: 0) is one " +
    "row with NULL status in both readers") {
    bothReaders("") shouldBe Seq.fill(2)((None, None, ""))
  }
}
