package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** URL canonicalization as one pass over the URL string, inside a
  * precompiled method: the plan holds one call, where a column form (a regex
  * chain per key plus a `CASE` chain over the public-suffix list) inlines
  * its trees into every consumer and compiles into generated classes of
  * hundreds of KB.
  *
  * The rules are the column form's, to the character, including where
  * `java.util.regex` puts them: `.` stops at a line terminator and `$`
  * matches before a final one.
  *   - fragment: each `#` drops with the rest of its line;
  *   - scheme: `^[A-Za-z][A-Za-z0-9+.-]*://`, lowercased;
  *   - authority: the run of non-`/?#` characters after `://`, lowercased as
  *     Spark's `lower` does with ICU case mappings off; userinfo strips up to
  *     the last `@` of its first line; a trailing `:digits` is the port,
  *     kept unless it is the scheme's default (`http` 80, `https` 443);
  *     one leading `www.` drops;
  *   - path: the run of non-`?#` characters after the authority, trailing
  *     slashes dropped, empty → `/`;
  *   - query: everything after the first `?`, split on `&`, empty and
  *     tracking params ([[trackingParam]]) dropped, the rest sorted by their
  *     UTF-8 octets and joined with `&`.
  */
object UrlCanon {

  /** `url_canon`, `domain` and `surt` are NULL together when the scheme or
    * host is empty; `host` and `path` are the unguarded parts ("" and `/`
    * for a URL that does not parse).
    */
  val schema: StructType = StructType(Seq(
    StructField("url_canon", StringType), StructField("domain", StringType),
    StructField("surt", StringType), StructField("host", StringType, nullable = false),
    StructField("path", StringType, nullable = false)))

  /** A line terminator as `java.util.regex` counts one without `DOTALL`. */
  private def isLineEnd(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  private def isAlpha(c: Char): Boolean = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** Where a trailing run ends for `$` to match after it: before a final
    * CRLF or line terminator, else at the end.
    */
  private def dollar(s: String): Int = {
    val n = s.length
    if (n >= 2 && s.charAt(n - 2) == '\r' && s.charAt(n - 1) == '\n') n - 2
    else if (n >= 1 && isLineEnd(s.charAt(n - 1))) n - 1
    else n
  }

  /** Start of the run of `c`-matching characters that ends at `end`. */
  private def runStart(s: String, end: Int, c: Char => Boolean): Int = {
    var i = end
    while (i > 0 && c(s.charAt(i - 1))) i -= 1
    i
  }

  /** `s` without each `#` and the rest of its line. */
  private def dropFragments(s: String): String = {
    var h = s.indexOf('#')
    if (h < 0) s
    else {
      val b = new java.lang.StringBuilder(s.length)
      var from = 0
      while (h >= 0) {
        b.append(s, from, h)
        from = h + 1
        while (from < s.length && !isLineEnd(s.charAt(from))) from += 1
        h = s.indexOf('#', from)
      }
      b.append(s, from, s.length).toString
    }
  }

  /** Attribution params that vary per click without changing the page:
    * `^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid)=`.
    */
  private def trackingParam(p: String): Boolean =
    if (p.startsWith("utm_")) {
      var i = 4
      while (i < p.length && (isAlpha(p.charAt(i)) || isDigit(p.charAt(i)) || p.charAt(i) == '_'))
        i += 1
      i < p.length && p.charAt(i) == '='
    } else p.startsWith("gclid=") || p.startsWith("fbclid=") || p.startsWith("msclkid=")

  /** The surviving params of a raw query, sorted and `&`-joined. */
  private def sortedQuery(q: String): String = {
    val kept = q.split("&", -1).iterator
      .filter(p => p.nonEmpty && !trackingParam(p)).map(UTF8String.fromString).toArray
    java.util.Arrays.sort(kept, (a: UTF8String, b: UTF8String) => a.binaryCompare(b))
    kept.mkString("&")
  }

  /** Host labels reversed and comma-joined. */
  private def reversedLabels(host: String): String = {
    val b = new java.lang.StringBuilder(host.length)
    var end = host.length
    var dot = host.lastIndexOf('.')
    while (dot >= 0) {
      b.append(host, dot + 1, end).append(',')
      end = dot
      dot = host.lastIndexOf('.', dot - 1)
    }
    b.append(host, 0, end).toString
  }

  /** The registrable domain under publicsuffix.org rule lines (one rule per
    * line, `//` comments; exact rules, `*.` wildcards and `!` exceptions),
    * which parse once into a map from a label suffix to the rule forms
    * keyed on it. [[domainOf]] walks the host's label suffixes shortest
    * first, one map probe each, and stops at the first suffix that no rule
    * ends in. The prevailing rule is an exception first, then the most rule
    * labels (a wildcard counts its `*`). Exact and wildcard rules match only
    * PROPER suffixes, so a host equal to a rule is not cut at it; an
    * exception also matches the full host. The public suffix is the
    * prevailing rule's labels (an exception's minus one), the registrable
    * domain that plus one label, and with no rule matched the last two
    * labels. A host of two labels or fewer passes through.
    */
  final class Psl(rules: Seq[String]) {
    private val forms: Map[String, Int] = {
      val keyed = rules.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("//")).map { r =>
        if (r.startsWith("!")) (r.substring(1), ExceptionRule)
        else if (r.startsWith("*.")) (r.substring(2), WildcardRule)
        else (r, ExactRule)
      }
      // every label suffix of a key, with no rule form of its own: a host
      // suffix outside the map ends the walk, since no longer one can be a key
      val inner = for ((k, _) <- keyed; i <- k.indices if k.charAt(i) == '.')
        yield (k.substring(i + 1), 0)
      (inner ++ keyed).groupMapReduce(_._1)(_._2)(_ | _)
    }

    def domainOf(host: String): String =
      if (host.indexOf('.') == host.lastIndexOf('.')) host
      else {
        var ruleLabels = 0 // labels of the longest exact or wildcard match
        var exception = 0  // labels of the longest exception match
        var labels = 0
        var dot = host.length
        var f = 0
        while (f >= 0 && dot >= 0) {
          dot = host.lastIndexOf('.', dot - 1)
          labels += 1
          f = forms.getOrElse(host.substring(dot + 1), -1)
          if (f > 0) {
            if ((f & ExceptionRule) != 0) exception = labels
            if (dot >= 0) {
              if ((f & WildcardRule) != 0) ruleLabels = labels + 1
              else if ((f & ExactRule) != 0) ruleLabels = labels
            }
          }
        }
        val publicSuffix = if (exception > 0) exception - 1 else math.max(ruleLabels, 1)
        var cut = host.length
        var keep = publicSuffix + 1
        while (keep > 0 && cut >= 0) { cut = host.lastIndexOf('.', cut - 1); keep -= 1 }
        host.substring(cut + 1)
      }
  }

  /** The rule forms as bits of one [[Psl]] map value. */
  private final val ExactRule = 1
  private final val WildcardRule = 2
  private final val ExceptionRule = 4

  /** The five [[schema]] fields of one URL. */
  def parts(url: String, psl: Psl): (String, String, String, String, String) = {
    val s = dropFragments(url)
    var schemeEnd = -1
    if (s.nonEmpty && isAlpha(s.charAt(0))) {
      var i = 1
      while (i < s.length && (isAlpha(s.charAt(i)) || isDigit(s.charAt(i)) ||
        s.charAt(i) == '+' || s.charAt(i) == '.' || s.charAt(i) == '-')) i += 1
      if (s.startsWith("://", i)) schemeEnd = i
    }
    val hostStart = schemeEnd + 3
    var hostEnd = hostStart
    if (schemeEnd > 0)
      while (hostEnd < s.length && "/?#".indexOf(s.charAt(hostEnd)) < 0) hostEnd += 1
    if (hostEnd == hostStart) return (null, null, null, "", "/")

    val lowered = UTF8String.fromString(s.substring(hostStart, hostEnd)).toLowerCase.toString
    var firstLine = 0
    while (firstLine < lowered.length && !isLineEnd(lowered.charAt(firstLine))) firstLine += 1
    val hostPort = lowered.substring(lowered.lastIndexOf('@', firstLine - 1) + 1)
    val portEnd = dollar(hostPort)
    val portStart = runStart(hostPort, portEnd, isDigit)
    val hasPort = portStart < portEnd && portStart > 0 && hostPort.charAt(portStart - 1) == ':'
    val port = if (hasPort) hostPort.substring(portStart, portEnd) else ""
    val noPort = if (hasPort) hostPort.substring(0, portStart - 1) + hostPort.substring(portEnd)
      else hostPort
    val host = if (noPort.startsWith("www.")) noPort.substring(4) else noPort

    var pathEnd = hostEnd
    while (pathEnd < s.length && s.charAt(pathEnd) != '?' && s.charAt(pathEnd) != '#') pathEnd += 1
    val rawPath = s.substring(hostEnd, pathEnd)
    val slashEnd = dollar(rawPath)
    val trimmed = rawPath.substring(0, runStart(rawPath, slashEnd, _ == '/')) +
      rawPath.substring(slashEnd)
    val path = if (trimmed.isEmpty) "/" else trimmed
    if (host.isEmpty) return (null, null, null, host, path)

    val scheme = s.substring(0, schemeEnd).toLowerCase(java.util.Locale.ROOT)
    val default = (scheme == "http" && port == "80") || (scheme == "https" && port == "443")
    val portSfx = if (port.isEmpty || default) "" else ":" + port
    val query = if (pathEnd < s.length) sortedQuery(s.substring(pathEnd + 1)) else ""
    val tail = path + (if (query.isEmpty) "" else "?" + query)
    (scheme + "://" + host + portSfx + tail, psl.domainOf(host),
      reversedLabels(host) + portSfx + ")" + tail, host, path)
  }

  private[expressions] def checkString(e: Expression, name: String): TypeCheckResult =
    e.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"$name expects STRING, got ${other.sql}")
    }
}

/** `url_canon(url)`: the [[UrlCanon.schema]] struct of a URL over
  * public-suffix rule lines ([[UrlCanon.Psl]]) — one parse per row, no
  * intermediate columns, NULL in → NULL out.
  */
case class UrlCanon(child: Expression, rules: Seq[String]) extends UnaryExpression {

  @transient private lazy val psl = new UrlCanon.Psl(rules)

  override def dataType: DataType = UrlCanon.schema
  override def checkInputDataTypes(): TypeCheckResult = UrlCanon.checkString(child, prettyName)

  def compute(url: UTF8String): InternalRow = {
    val (canon, domain, surt, host, path) = UrlCanon.parts(url.toString, psl)
    new GenericInternalRow(Array[Any](UTF8String.fromString(canon), UTF8String.fromString(domain),
      UTF8String.fromString(surt), UTF8String.fromString(host), UTF8String.fromString(path)))
  }

  override protected def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("urlCanon", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  override def prettyName: String = "url_canon"
}

/** Registrable domain of an already-lowercased host over public-suffix
  * rule lines ([[UrlCanon.Psl]]); the `domain` field of [[UrlCanon]] is this
  * over the URL's host.
  */
case class RegistrableDomain(child: Expression, rules: Seq[String]) extends UnaryExpression {

  @transient private lazy val psl = new UrlCanon.Psl(rules)

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = UrlCanon.checkString(child, prettyName)

  def compute(host: UTF8String): UTF8String = UTF8String.fromString(psl.domainOf(host.toString))

  override protected def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("registrableDomain", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  override def prettyName: String = "registrable_domain"
}
