package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalacheck.{Gen, rng}

import graft.operators.Web

/** URL canonicalization as it was before it became one kernel (the
  * reference): the regex/split column chain, the longest-first `CASE` chain
  * over the PSL and the broadcast longest-suffix-match join over all three
  * PSL rule forms, and the generated URLs and rule lists.
  */
object UrlCanonSpec {

  private val trackingParamRe = "^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid)="

  def registrableDomainCase(host: Column, suffixes: Seq[String]): Column = {
    val ordered = suffixes.sortBy(s => (-s.count(_ == '.'), s))
    val labels = split(host, "\\.")
    val chain = ordered.foldLeft(when(size(labels) <= 2, host)) { (acc, s) =>
      val keep = s.count(_ == '.') + 2
      acc.when(host.endsWith("." + s), array_join(slice(labels, -keep, keep), "."))
    }
    chain.otherwise(array_join(slice(labels, -2, 2), "."))
  }

  /** One parsed PSL rule. `key` is the literal label suffix the candidate
    * join matches on (a wildcard rule joins on its tail — the labels right
    * of `*.`); `ruleLabels` counts the rule's labels INCLUDING the `*` (the
    * PSL prevailing order); `psLabels` is the public-suffix label count if
    * this rule prevails (exact = its labels; wildcard = tail + 1; exception
    * = its labels − 1).
    */
  final case class PslRule(key: String, keyLabels: Int, ruleLabels: Int,
      psLabels: Int, isException: Boolean, isWildcard: Boolean)

  def parsePslRules(lines: Seq[String]): Seq[PslRule] =
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("//")).map { r =>
      val exc = r.startsWith("!")
      val wild = !exc && r.startsWith("*.")
      val key = if (exc) r.drop(1) else if (wild) r.drop(2) else r
      val kl = key.count(_ == '.') + 1
      PslRule(key, kl, if (wild) kl + 1 else kl,
        if (exc) kl - 1 else if (wild) kl + 1 else kl, exc, wild)
    }

  /** Registrable domain by broadcast longest-suffix-match join: each host
    * explodes into its label-suffix candidates, which equality-join the rule
    * table; one window per host takes the prevailing rule (exception first,
    * then most rule labels) and the host is cut at its public-suffix length.
    * Exact and wildcard rules match only proper suffixes; exceptions also
    * match the full host. Unmatched hosts take the last two labels; hosts of
    * ≤2 labels pass through.
    */
  def registrableDomainJoin(df: DataFrame, hostCol: String, idCol: String,
      outCol: String, rules: Seq[PslRule]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val rulesDf = rules.toDF()
    val withL = df.withColumn("__labels", split(col(hostCol), "\\."))
      .withColumn("__hl", size(col("__labels")))
    val cands = withL.select(col(idCol), col("__labels"), col("__hl"),
        explode(sequence(lit(1), col("__hl"))).as("__keep"))
      .withColumn("__cand",
        array_join(slice(col("__labels"), col("__keep") * -1, col("__keep")), "."))
    val matched = cands.join(broadcast(rulesDf),
      col("__cand") === col("key") &&
        (!col("isWildcard") || col("__hl") >= col("keyLabels") + 1) &&
        (col("isException") || col("isWildcard") || col("__keep") < col("__hl")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
      .orderBy(col("isException").desc, col("ruleLabels").desc, col("key"))
    val winner = matched.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("psLabels").as("__ps"))
    withL.join(winner, Seq(idCol), "left")
      .withColumn(outCol,
        when(col("__hl") <= 2, col(hostCol))
          .when(col("__ps").isNull, array_join(slice(col("__labels"), -2, 2), "."))
          .when(col("__hl") > col("__ps"),
            array_join(slice(col("__labels"),
              (col("__ps") + 1) * -1, col("__ps") + 1), "."))
          .otherwise(col(hostCol)))
      .drop("__labels", "__hl", "__ps")
  }

  private def rawHostPort(noFrag: Column): Column = regexp_replace(
    lower(regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)), "^.*@", "")

  private def normalizedHost(noFrag: Column): Column =
    regexp_replace(regexp_replace(rawHostPort(noFrag), ":[0-9]+$", ""), "^www\\.", "")

  private def collapsedPath(noFrag: Column): Column = {
    val rawPath = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    val p1 = regexp_replace(rawPath, "/+$", "")
    when(p1 === "", lit("/")).otherwise(p1)
  }

  private def sortedQuery(noFrag: Column): Column = {
    val rawQuery = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val params = filter(split(rawQuery, "&"),
      (p: Column) => p =!= "" && !p.rlike(trackingParamRe))
    array_join(array_sort(params), "&")
  }

  /** The old `Web.canonicalize` body plus the old `hostOf`/`pathOf`, as
    * `ref_url_canon`, `ref_domain`, `ref_surt`, `ref_host`, `ref_path`.
    */
  def reference(df: DataFrame, urlCol: String): DataFrame = {
    val noFrag = regexp_replace(col(urlCol), "#.*", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    df.withColumn("__scheme", scheme)
      .withColumn("__host", normalizedHost(noFrag))
      .withColumn("__port", regexp_extract(rawHostPort(noFrag), ":([0-9]+)$", 1))
      .withColumn("__path", collapsedPath(noFrag))
      .withColumn("__qs", sortedQuery(noFrag))
      .withColumn("__portSfx", {
        val default = (col("__scheme") === "http" && col("__port") === "80") ||
          (col("__scheme") === "https" && col("__port") === "443")
        when(col("__port") =!= "" && !default, concat(lit(":"), col("__port"))).otherwise(lit(""))
      })
      .withColumn("__qSfx",
        when(col("__qs") =!= "", concat(lit("?"), col("__qs"))).otherwise(lit("")))
      .withColumn("__bad", col("__scheme") === "" || col("__host") === "")
      .withColumn("ref_url_canon", when(col("__bad"), lit(null).cast(StringType))
        .otherwise(concat(col("__scheme"), lit("://"), col("__host"), col("__portSfx"),
          col("__path"), col("__qSfx"))))
      .withColumn("ref_domain", when(col("__bad"), lit(null).cast(StringType))
        .otherwise(registrableDomainCase(col("__host"), Web.pslSuffixes)))
      .withColumn("ref_surt", when(col("__bad"), lit(null).cast(StringType))
        .otherwise(concat(array_join(reverse(split(col("__host"), "\\.")), ","),
          col("__portSfx"), lit(")"), col("__path"), col("__qSfx"))))
      .withColumn("ref_host", normalizedHost(noFrag))
      .withColumn("ref_path", collapsedPath(noFrag))
      .drop("__scheme", "__host", "__port", "__path", "__qs", "__portSfx", "__qSfx", "__bad")
  }

  /** Line terminators as `java.util.regex` counts them: `.` stops at each
    * and `$` matches before a final one.
    */
  private val lineEnds = Seq("\n", "\r", "\r\n", "\u0085", "\u2028", "\u2029")

  private val schemeGen: Gen[String] = Gen.oneOf("http://", "https://", "HTTP://", "Https://",
    "ftp://", "svn+ssh://", "://", "", "1http://", "ht tp://", "mailto:", "//", "http:/",
    "http:///", "h.t-t+p://", "é://")

  private val userGen: Gen[String] = Gen.frequency(6 -> "", 1 -> "user@", 1 -> "a:b@",
    1 -> "x@y@", 1 -> "@", 1 -> "Ann:Pw@Host@", 1 -> "u\n@")

  private val labelGen: Gen[String] = Gen.frequency(
    8 -> Gen.oneOf("example", "news", "a", "b-c", "Site3", "shop", "school", "deep", "x"),
    2 -> Gen.oneOf("", "WWW", "www", "Xn--p1ai", "BÜCHER", "日本", "İstanbul", "\u212Aelvin",
      "ß", "Σ", "k1", "80"))

  private val hostGen: Gen[String] = for {
    www <- Gen.frequency(3 -> "", 1 -> "www.", 1 -> "WWW.", 1 -> "www.www.")
    n <- Gen.choose(0, 3)
    labels <- Gen.listOfN(n, labelGen)
    tail <- Gen.frequency(4 -> Gen.oneOf(Web.pslSuffixes), 3 -> Gen.oneOf("com", "org", "dev", "uk",
      "au", "edu.au", "in", "ck"), 1 -> Gen.const(""), 1 -> Gen.oneOf("CO.UK", "Com.Br"))
    dot <- Gen.frequency(8 -> "", 1 -> ".")
  } yield www + (labels :+ tail).mkString(".") + dot

  private val portGen: Gen[String] = Gen.frequency(6 -> "", 1 -> ":80", 1 -> ":443",
    1 -> ":8080", 1 -> ":", 1 -> ":0080", 1 -> ":80:81", 1 -> ":x1")

  private val pathGen: Gen[String] = Gen.frequency(3 -> "", 2 -> "/", 1 -> "//",
    2 -> "/articles/7", 1 -> "/a/", 1 -> "/a//", 1 -> "/A/b/../c/", 1 -> "/p q/日本/",
    1 -> "/@x:1/")

  private val paramGen: Gen[String] = Gen.oneOf("a=1", "b=2", "id=7", "x=", "=y", "",
    "utm_source=feed", "utm_=1", "utm_a-b=1", "UTM_x=1", "gclid=g", "fbclid=f",
    "msclkid=m", "gclid", "ref=rss", "é=1", "a=1?b", "\uD83D\uDE00=1", "\uFFFD=z")

  private val queryGen: Gen[String] = Gen.frequency(4 -> Gen.const(""),
    6 -> Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, paramGen)).map(_.mkString("?", "&", "")),
    1 -> Gen.oneOf("?&&", "?&a=1&&b=2&", "??a=1"))

  private val fragGen: Gen[String] = Gen.frequency(5 -> "", 1 -> "#", 1 -> "#frag",
    1 -> "#a?b=1", 1 -> "#x\ny", 1 -> "#one#two")

  /** A URL built from its parts (case, `www.`, userinfo, ports, paths,
    * params, fragments, PSL hosts), then sometimes given a line terminator.
    */
  val structuredGen: Gen[String] = for {
    parts <- Gen.sequence[List[String], String](Seq(schemeGen, userGen, hostGen, portGen,
      pathGen, queryGen, fragGen))
    term <- Gen.frequency(5 -> Gen.const(None),
      1 -> Gen.oneOf(lineEnds).flatMap(t => Gen.choose(0, 6).map(i => Some((t, i)))))
  } yield term match {
    case None => parts.mkString
    case Some((t, i)) => parts.take(i).mkString + t + parts.drop(i).mkString
  }

  /** A hostile string over the characters the parse branches on. */
  val hostileGen: Gen[String] = for {
    prefix <- Gen.oneOf("", "http://", "HTTPS://www.", "a://")
    n <- Gen.choose(0, 24)
    cs <- Gen.listOfN(n, Gen.oneOf(Seq(":", "/", "?", "#", "@", ".", "&", "=", "w", "W", "a",
      "Z", "8", "0", "%", "é", "日", "İ", "co", "uk", "utm_", " ") ++ lineEnds))
  } yield prefix + cs.mkString

  val urlGen: Gen[String] = Gen.frequency(3 -> structuredGen, 1 -> hostileGen)

  /** PSL labels: a few that recur across rules and hosts, and the empty one. */
  private val pslLabelGen: Gen[String] =
    Gen.frequency(6 -> Gen.oneOf("a", "b", "ck", "uk", "co", "www"), 1 -> Gen.const(""))

  private def pslLabelsGen(min: Int, max: Int): Gen[List[String]] =
    Gen.choose(min, max).flatMap(n => Gen.listOfN(n, pslLabelGen))

  /** A rule line: exact, `*.` wildcard or `!` exception over one to three
    * labels, sometimes padded, commented out or empty.
    */
  private val pslRuleGen: Gen[String] = for {
    key <- pslLabelsGen(1, 3)
    form <- Gen.frequency(4 -> "", 3 -> "*.", 3 -> "!", 1 -> "  ", 1 -> "// ")
  } yield form + key.mkString(".")

  /** A host equal to, ending in or around one of `keys`, or built from the
    * same labels, or degenerate.
    */
  private def pslHostGen(keys: Seq[String]): Gen[String] = Gen.frequency(
    5 -> (for { k <- Gen.oneOf(keys); pre <- pslLabelsGen(0, 3) } yield (pre :+ k).mkString(".")),
    2 -> (for { k <- Gen.oneOf(keys); pre <- pslLabelsGen(0, 2); post <- pslLabelGen }
      yield (pre :+ k :+ post).mkString(".")),
    1 -> Gen.oneOf(keys).map(k => k.substring(k.indexOf('.') + 1)),
    2 -> pslLabelsGen(0, 5).map(_.mkString(".")),
    1 -> Gen.oneOf("", ".", "..", "a..b", "a.b.", ".a.b"))

  /** A rule list of one to eight lines and hosts for it, NULL and "" among them. */
  val pslCaseGen: Gen[(List[String], List[Option[String]])] = for {
    n <- Gen.choose(1, 8)
    lines <- Gen.listOfN(n, pslRuleGen)
    keys = lines.map(_.trim.stripPrefix("//").trim.stripPrefix("!").stripPrefix("*."))
    hosts <- Gen.listOfN(150, pslHostGen(keys))
  } yield (lines, None :: Some("") :: hosts.map(Some(_)))

  val cols: Seq[String] = Seq("url_canon", "domain", "surt", "host", "path")
}

/** `Web.canonicalize`, `hostOf`, `pathOf` and `registrableDomain` as views of
  * the one [[graft.expressions.UrlCanon]] kernel, held to the column chain
  * they replaced (kept above as the reference).
  */
class UrlCanonSpec extends SparkSpec {
  import spark.implicits._
  import UrlCanonSpec._

  /** Kernel and reference over `urls` (parquet-backed, so both run as
    * generated code): each row's five kernel fields and five reference fields.
    */
  private def both(urls: Seq[Option[String]]): Seq[(Option[String], Seq[String], Seq[String])] = {
    val dir = java.nio.file.Files.createTempDirectory("url-canon").toString
    urls.zipWithIndex.map { case (u, i) => (i.toLong, u.orNull) }.toDF("id", "url")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val out = reference(Web.canonicalize(df, "url"), "url")
      .withColumn("host", Web.hostOf(col("url")))
      .withColumn("path", Web.pathOf(col("url")))
      .select((Seq("id", "url") ++ cols ++ cols.map("ref_" + _)).map(col): _*)
    rows(out).sortBy(_.getLong(0)).map { r =>
      (Option(r.getString(1)), cols.indices.map(i => r.getString(2 + i)),
        cols.indices.map(i => r.getString(2 + cols.size + i)))
    }
  }

  test("kernel PROPERTY: over generated and hostile URLs (case, www., ports, " +
    "fragments, tracking and ordinary params in any order, repeated &, slashes, " +
    "userinfo, empty hosts and schemes, embedded line terminators, non-ASCII and " +
    "PSL hosts, NULL) url_canon, domain, surt, hostOf and pathOf equal the column " +
    "chain they replaced") {
    val urls = (1L to 3000L).map(seed => urlGen(Gen.Parameters.default, rng.Seed(seed))) ++
      Seq(None, Some(""))
    val got = both(urls)
    got.size shouldBe urls.size
    got.foreach { case (url, kernel, ref) =>
      withClue(s"url=${url.map(_.flatMap(c => if (c < ' ' || c > '~') f"<U+${c.toInt}%04X>" else c.toString))}: ") {
        kernel shouldBe ref
      }
    }
    // the arms were reached, not just the well-formed ones
    val keyed = got.filter(_._2.head != null)
    assert(keyed.size > 1000 && got.count(_._2.head == null) > 300)
    assert(keyed.exists(g => g._1.exists(u => u.contains("\n") || u.contains("\u2028"))))
    assert(keyed.exists(g => Web.pslSuffixes.exists(s => g._2(1).endsWith("." + s))))
    assert(keyed.exists(g => g._2.head.contains(":8080")) && keyed.exists(_._2.head.contains("&")))
  }

  test("kernel: interpreted evaluation (a folded local frame) equals generated code") {
    val urls = (1L to 200L).map(seed => urlGen(Gen.Parameters.default, rng.Seed(seed)).get)
    val local = rows(Web.canonicalize(urls.toDF("url"), "url")
      .select(cols.take(3).map(col): _*)).map(r => (0 to 2).map(r.getString))
    local shouldBe both(urls.map(Option(_))).map(_._2.take(3))
  }

  test("registrableDomain PROPERTY: the per-row scan equals the CASE chain on hosts " +
    "equal to, ending in, and around PSL rules, for the committed list and a custom one") {
    val hosts = (1L to 1500L).map { seed =>
      Gen.frequency(4 -> hostGen.map(_.toLowerCase), 1 -> Gen.oneOf(Web.pslSuffixes),
        1 -> hostileGen)(Gen.Parameters.default, rng.Seed(seed)).get
    } ++ Seq("", ".", "..", "a..co.uk", ".co.uk", "co.uk.", "x.act.edu.au", "act.edu.au")
    val custom = Seq("act.edu.au", "co.uk", "b.c")
    val df = hosts.toDF("host")
    val out = rows(df.select(col("host"),
      Web.registrableDomain(col("host")), registrableDomainCase(col("host"), Web.pslSuffixes),
      Web.registrableDomain(col("host"), custom), registrableDomainCase(col("host"), custom)))
    out.foreach { r =>
      withClue(s"host=${r.getString(0)}: ") {
        r.getString(1) shouldBe r.getString(2)
        r.getString(3) shouldBe r.getString(4)
      }
    }
    rows(Seq[String](null).toDF("host").select(Web.registrableDomain(col("host"))))
      .head.isNullAt(0) shouldBe true
  }

  test("registrableDomain PROPERTY: the label-lookup kernel equals the broadcast " +
    "longest-suffix join over rule lists mixing exact, wildcard and exception rules, " +
    "on hosts equal to, ending in and around the rules, empty labels, \"\" and NULL") {
    var cut = 0
    var total = 0
    (1L to 30L).foreach { seed =>
      val (lines, hosts) = pslCaseGen(Gen.Parameters.default, rng.Seed(seed)).get
      val df = hosts.zipWithIndex.map { case (h, i) => (i.toLong, h.orNull) }.toDF("doc_id", "host")
      val out = rows(registrableDomainJoin(df, "host", "doc_id", "ref", parsePslRules(lines))
        .select(col("host"), col("ref"), Web.registrableDomain(col("host"), lines),
          Web.registrableDomain(col("host"), Nil)))
      out.size shouldBe hosts.size
      out.foreach { r =>
        withClue(s"rules=${lines.mkString("[", " | ", "]")} host=${r.getString(0)}: ") {
          r.getString(2) shouldBe r.getString(1)
        }
      }
      total += out.size
      cut += out.count(r => r.getString(2) != r.getString(3))
    }
    // the rules decided a share of the answers, not just the two-label default
    assert(cut > total / 10, s"$cut of $total hosts resolved by a rule")
  }

  test("url_canon is a SQL function returning the kernel struct") {
    graft.expressions.GraftFunctions.register(spark)
    val r = spark.sql("SELECT url_canon('HTTPS://WWW.News.Example.CO.UK:443/a/?utm_source=x&b=2&a=1#f') AS k")
      .select("k.url_canon", "k.domain", "k.surt", "k.host", "k.path").head()
    (0 to 4).map(r.getString) shouldBe Seq("https://news.example.co.uk/a?a=1&b=2",
      "example.co.uk", "uk,co,example,news)/a?a=1&b=2", "news.example.co.uk", "/a")
  }
}
