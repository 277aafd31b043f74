package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import java.util.zip.{CRC32, Deflater, GZIPInputStream}

import org.apache.spark.sql.functions.{col, length => octets}
import org.scalacheck.{Gen, rng}

import graft.operators.Web

/** The generated cases' value types. */
object GzipSpec {
  def le(v: Long, n: Int): Array[Byte] = Array.tabulate(n)(i => (v >> (8 * i)).toByte)

  /** One gzip member around `data`, with the optional header fields. */
  final case class Member(data: Array[Byte], level: Int, extra: Option[Array[Byte]],
      name: Option[String], comment: Option[String], hcrc: Boolean) {
    def bytes: Array[Byte] = {
      val h = new ByteArrayOutputStream()
      val flg = (if (hcrc) 2 else 0) | (if (extra.isDefined) 4 else 0) |
        (if (name.isDefined) 8 else 0) | (if (comment.isDefined) 16 else 0)
      h.write(Array[Byte](0x1f, 0x8b.toByte, 8, flg.toByte, 0, 0, 0, 0, 0, 0xff.toByte))
      extra.foreach { x => h.write(le(x.length.toLong, 2)); h.write(x) }
      name.foreach { s => h.write(s.getBytes("ISO-8859-1")); h.write(0) }
      comment.foreach { s => h.write(s.getBytes("ISO-8859-1")); h.write(0) }
      if (hcrc) {
        val c = new CRC32(); c.update(h.toByteArray)
        h.write(le(c.getValue, 2))
      }
      val d = new Deflater(level, true)
      d.setInput(data); d.finish()
      val buf = new Array[Byte](1 << 16)
      while (!d.finished()) h.write(buf, 0, d.deflate(buf))
      d.end()
      val crc = new CRC32(); crc.update(data)
      h.write(le(crc.getValue, 4)); h.write(le(data.length.toLong, 4))
      h.toByteArray
    }
  }

  /** The mutations applied to an intact payload, in order: a cut at a
    * fraction of its length, bit flips at fractions of it, a junk tail.
    */
  final case class Mutation(cut: Option[Double], flips: List[(Double, Int)],
      junk: Option[(Int, Long)]) {
    def apply(intact: Array[Byte]): Array[Byte] = {
      val b = cut.fold(intact)(f => intact.take((f * intact.length).toInt)).clone()
      if (b.nonEmpty) flips.foreach { case (f, bit) =>
        val i = math.min((f * b.length).toInt, b.length - 1)
        b(i) = (b(i) ^ (1 << bit)).toByte
      }
      junk.fold(b) { case (n, seed) =>
        val r = new scala.util.Random(seed)
        b ++ Array.fill(n)(r.nextInt(256).toByte)
      }
    }
  }

  /** Each mutation in a third of the cases: a cut, 1-3 bit flips, a junk tail. */
  val mutationGen: Gen[Mutation] = for {
    cut <- Gen.frequency(2 -> Gen.const(None), 1 -> Gen.choose(0.0, 1.0).map(Some(_)))
    nFlips <- Gen.frequency(2 -> Gen.const(0), 1 -> Gen.choose(1, 3))
    flips <- Gen.listOfN(nFlips, Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(0, 7)))
    junk <- Gen.frequency(2 -> Gen.const(None),
      1 -> Gen.zip(Gen.choose(1, 40), Gen.long).map(Some(_)))
  } yield Mutation(cut, flips, junk)
}

/** The gzip member walk behind every gzip reader in [[Web]]: a property spec
  * against the JDK's `GZIPInputStream` (the reader the walk replaced, kept
  * here as the reference), and the decompression-bomb bound.
  */
class GzipSpec extends SparkSpec {
  import spark.implicits._
  import GzipSpec._

  /** The JDK reference: the octets read before the stream ended or threw,
    * and whether it ended without throwing (the strict verdict).
    */
  private def jdk(b: Array[Byte]): (Array[Byte], Boolean) = {
    val out = new ByteArrayOutputStream()
    val ok = try {
      val in = new GZIPInputStream(new ByteArrayInputStream(b), 65536)
      try {
        val buf = new Array[Byte](65536)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        true
      } finally in.close()
    } catch { case _: IOException => false }
    (out.toByteArray, ok)
  }

  /** `n` zero octets streamed through `d` 64 KiB at a time, so a bomb's
    * claimed size is never held in memory.
    */
  private def deflateZeros(d: Deflater, n: Long, crc: CRC32): Array[Byte] = {
    val in = new Array[Byte](1 << 16)
    val buf = new Array[Byte](1 << 16)
    val out = new ByteArrayOutputStream()
    var left = n
    while (left > 0) {
      val k = math.min(left, in.length.toLong).toInt
      d.setInput(in, 0, k); crc.update(in, 0, k); left -= k
      while (!d.needsInput()) out.write(buf, 0, d.deflate(buf))
    }
    d.finish()
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private val contentGen: Gen[Array[Byte]] = for {
    size <- Gen.frequency(3 -> Gen.choose(0, 2048), 2 -> Gen.choose(0, 100 * 1024))
    kind <- Gen.choose(0, 2)
    seed <- Gen.long
  } yield {
    val r = new scala.util.Random(seed)
    kind match {
      case 0 => Array.fill(size)(r.nextInt(256).toByte) // incompressible
      case 1 => Array.fill(size)("the quick brown fox, ".charAt(r.nextInt(21)).toByte)
      case _ => ("<p>record ✓ " * (size / 14 + 1)).getBytes("UTF-8").take(size)
    }
  }

  private val fieldGen: Gen[Option[String]] =
    Gen.option(Gen.choose(0, 40).map(n => "f" * n))

  private val memberGen: Gen[Member] = for {
    data <- contentGen
    level <- Gen.oneOf(0, 1, 6, 9)
    extra <- Gen.option(Gen.choose(0, 300).map(n => Array.tabulate(n)(i => (i * 7).toByte)))
    name <- fieldGen
    comment <- fieldGen
    hcrc <- Gen.oneOf(false, true)
  } yield Member(data, level, extra, name, comment, hcrc)

  private val caseGen: Gen[(List[Member], Mutation)] = for {
    n <- Gen.choose(0, 4)
    members <- Gen.listOfN(n, memberGen)
    mutation <- mutationGen
  } yield (members, mutation)

  test("gzip walk property: over 0-4 members with random FEXTRA/FNAME/FCOMMENT/FHCRC, " +
    "cut, bit-flipped and junk-tailed, no reader throws, strict agrees with the JDK " +
    "reader, lenient equals it below 64 KiB, and the members concatenate to lenient") {
    (1L to 500L).foreach { seed =>
      val (members, mutation) = caseGen(Gen.Parameters.default, rng.Seed(seed)).get
      val intact = members.toArray.flatMap(_.bytes)
      val payload = mutation(intact)
      withClue(s"seed=$seed members=${members.size} bytes=${payload.length} $mutation: ") {
        val (refOctets, refWhole) = jdk(payload)
        val (octets, whole) = Web.gunzipAll(payload)
        whole shouldBe refWhole
        Web.gunzipStrict(payload).map(_.toSeq) shouldBe (if (refWhole) Some(refOctets.toSeq) else None)
        Web.gzipMemberOctets(payload).toArray.flatten.toSeq shouldBe octets.toSeq
        Web.gunzipLenient(payload) shouldBe new String(octets, "UTF-8")
        if (payload.length < 65536) octets.toSeq shouldBe refOctets.toSeq
        else {
          // the JDK refills its input 64 KiB at a time, and zlib drops the
          // output of the call that fails, so on a larger corrupt payload the
          // two readers keep different prefixes of the same decode
          val (a, b) = (octets.toSeq, refOctets.toSeq)
          (a.startsWith(b) || b.startsWith(a)) shouldBe true
          // cut or junk-tailed (not both): what decodes is the intact decode's prefix
          if (mutation.flips.isEmpty && (mutation.cut.isEmpty || mutation.junk.isEmpty))
            jdk(intact)._1.toSeq.startsWith(a) shouldBe true
        }
      }
    }
  }

  /** A gzip member of `n` zero octets (a decompression bomb: ~1 KiB per MiB). */
  private def zeros(n: Long): Array[Byte] = {
    val crc = new CRC32()
    val data = deflateZeros(new Deflater(9, true), n, crc)
    Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0xff.toByte) ++ data ++
      le(crc.getValue, 4) ++ le(n, 4)
  }

  test("decompression bomb: every gzip and deflate reader stops at MaxInflatedOctets; " +
    "strict readers quarantine, lenient and member reads keep the capped prefix") {
    val cap = Web.MaxInflatedOctets
    val bomb = zeros(cap + (1L << 20))
    bomb.length should be < 128 * 1024
    Web.gunzipStrict(bomb).map(_.length) shouldBe None
    Web.decodeHttpBodyBytes(bomb, null, "gzip").map(_.length) shouldBe None
    Web.gunzipAll(bomb)._1.length shouldBe cap
    Web.gzipMemberOctets(bomb).map(_.length).toSeq shouldBe Seq(cap)
    // zlib-wrapped and raw deflate bodies share the inflate step
    val zlib = deflateZeros(new Deflater(9, false), cap + 1L, new CRC32())
    Web.inflateStrict(zlib).map(_.length) shouldBe None
    Web.decodeHttpBodyBytes(zlib, null, "deflate").map(_.length) shouldBe None
    // two members under the cap each: the member walk keeps both (its peak
    // is one member), the whole-payload readers stop at the cap in all
    val half = zeros(cap / 2 + 1)
    val pair = half ++ half
    Web.gzipMemberOctets(pair).map(_.length).toSeq shouldBe Seq(cap / 2 + 1, cap / 2 + 1)
    Web.gunzipAll(pair) match { case (o, whole) => (o.length, whole) shouldBe ((cap, false)) }
    Web.gunzipStrict(pair).map(_.length) shouldBe None
    // the Spark readers on top of the walk
    val df = Seq((1L, bomb)).toDF("doc_id", "gz")
    rows(Web.gunzipWarc(df, "doc_id", "gz").select(octets(col("warc"))))
      .map(_.getInt(0)) shouldBe Seq(cap)
    rows(Web.gunzipWarcMembers(df, "doc_id", "gz").select(octets(col("member"))))
      .map(_.getInt(0)) shouldBe Seq(cap)
    rows(Web.gunzipStr(Seq(("h", bomb)).toDF("host", "gz"), "host", "gz", "xml")
      .select(octets(col("xml")))).map(_.getInt(0)) shouldBe Seq(cap)
    rows(Web.decodeHttpBody(Seq((1L, bomb, null.asInstanceOf[String], "gzip"))
      .toDF("doc_id", "body", "te", "ce"), "doc_id", "body", "te", "ce")
      .select("ok")).map(_.getBoolean(0)) shouldBe Seq(false)
  }
}
