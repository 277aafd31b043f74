package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** URL / web-provenance operators for corpus curation (r13).
  *
  * Every web-scale training corpus keys on URLs — dedup by canonical URL,
  * per-domain quality budgets, SURT-ordered crawl partitioning — but URLs
  * arrive messy: scheme/host case, `www.` vanity prefixes, default ports,
  * fragments, tracking query params, unstable param order, trailing slashes.
  * This family provides:
  *
  *   - [[canonicalize]]: the normalization pass (lowercase scheme+host,
  *     strip `www.`, drop default ports, drop fragments, drop tracking
  *     params, sort surviving params, collapse trailing slashes) plus the
  *     registrable domain (longest-suffix match over a committed
  *     public-suffix-list data file, else last two labels) and the SURT
  *     form (scheme-less,
  *     comma-reversed host labels — the Internet-Archive sort key that
  *     co-locates a domain's pages under any range partitioning).
  *   - URL-keyed exact dedup on the SURT key (scheme variants of one page
  *     fold together; distinct ports stay distinct).
  *   - a per-registrable-domain corpus report (docs, pages, dup rate,
  *     tokens) — the table a mixture designer reads before setting
  *     per-domain caps.
  *
  * Scale: [[canonicalize]] is one codegen'd kernel call per row
  * ([[graft.expressions.UrlCanon]]: one parse, no regex or CASE trees in the
  * plan) — a narrow projection, zero shuffle, runs at scan speed over
  * 100 TB. The dedup and the report each add exactly one hash-shuffle on
  * their group key. At the 100 TB design point the dedup group key would
  * ride as `xxhash64(surt)` (8 bytes instead of the full string — same
  * clusters, ~n²/2⁶⁴ collision risk); the gated queries group on the string
  * itself so the DuckDB dual is exact, and the swap is a one-line
  * projection.
  *
  * No counterpart in the reference (it ingests ticker APIs, not crawls);
  * this is the LLM-pipeline extension surface, same family as Dedup /
  * TextAnalysis.
  */
object Web {

  /** Multi-label public suffixes recognized by [[registrableDomain]],
    * loaded from the COMMITTED DATA FILE
    * `resources/graft/public_suffix_subset.txt` (publicsuffix.org line
    * format: one suffix per line, `//` comments) — r14: the r13 4-suffix
    * regex stand-in replaced by the real operator shape. Swap the file for
    * the full PSL in production; nothing else changes.
    */
  lazy val pslSuffixes: Seq[String] = {
    val in = getClass.getResourceAsStream("/graft/public_suffix_subset.txt")
    require(in != null, "graft/public_suffix_subset.txt missing from classpath")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("//")).toVector
    finally in.close()
  }

  /** [[pslSuffixes]] ordered for LONGEST-SUFFIX-FIRST matching (label count
    * desc, then lexicographic for determinism) — `act.edu.au` must win over
    * `edu.au` exactly as the PSL algorithm specifies.
    */
  lazy val pslSuffixesLongestFirst: Seq[String] =
    graft.expressions.UrlCanon.longestFirst(pslSuffixes)

  /** Registrable domain of an already-lowercased host: suffix labels + 1
    * for the longest matching listed suffix, else last two labels; hosts of
    * ≤2 labels pass through unchanged. One codegen'd kernel call
    * ([[graft.expressions.RegistrableDomain]]) scans the committed list in
    * [[pslSuffixesLongestFirst]] order — the same step that fills
    * [[canonicalize]]'s `domain`. For the FULL ~9,000-rule PSL and for
    * wildcard/exception rule forms, use [[withRegistrableDomain]] — it
    * dispatches to the broadcast longest-suffix-match join past
    * [[caseChainMaxRules]].
    */
  def registrableDomain(host: Column): Column =
    registrableDomainCase(host, pslSuffixes)

  /** The per-row scan strategy over an arbitrary EXACT-rule suffix list
    * (tried longest-first).
    */
  def registrableDomainCase(host: Column, suffixes: Seq[String]): Column =
    graft.expressions.GraftFunctions.registrableDomain(host, suffixes)

  /** One parsed PSL rule. `key` is the literal label suffix the candidate
    * join matches on (a wildcard rule joins on its tail — the labels right
    * of `*.`); `ruleLabels` counts the rule's labels INCLUDING the `*` (the
    * PSL prevailing order); `psLabels` is the public-suffix label count if
    * this rule prevails (exact = its labels; wildcard = tail + 1; exception
    * = its labels − 1, per the PSL algorithm's leftmost-label removal).
    */
  final case class PslRule(key: String, keyLabels: Int, ruleLabels: Int,
      psLabels: Int, isException: Boolean, isWildcard: Boolean)

  /** Parse publicsuffix.org line format (one rule per line, `//` comments,
    * `*.` wildcards, `!` exceptions) into [[PslRule]]s.
    */
  def parsePslRules(lines: Seq[String]): Seq[PslRule] =
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("//")).map { r =>
      val exc = r.startsWith("!")
      val wild = !exc && r.startsWith("*.")
      val key = if (exc) r.drop(1) else if (wild) r.drop(2) else r
      val kl = key.count(_ == '.') + 1
      PslRule(key, kl, if (wild) kl + 1 else kl,
        if (exc) kl - 1 else if (wild) kl + 1 else kl, exc, wild)
    }

  /** The per-row scan ([[registrableDomainCase]]) takes lists up to this
    * many rules; beyond it (or whenever wildcard/exception forms appear,
    * which the scan does not express) the broadcast join strategy runs.
    * The scan tests every rule against every host, so ~9,000 PSL rules
    * would cost ~9,000 suffix tests per row — the join is one broadcast
    * hash probe per host label instead.
    */
  val caseChainMaxRules: Int = 100

  /** Registrable domain via BROADCAST LONGEST-SUFFIX-MATCH JOIN — the
    * full-PSL strategy (r15, verdict ask #4): explode each host into its
    * label-suffix candidates (bounded by label depth, ≤ ~6 in real hosts),
    * equality-join the broadcast rule table, take the prevailing rule per
    * host (exception first, then most rule labels — the PSL algorithm), and
    * cut the registrable domain at the winner's public-suffix length.
    * Handles all three PSL rule forms (exact, `*.` wildcard — which
    * requires one extra host label — and `!` exception). Unmatched hosts
    * take the implicit `*` default (last two labels); hosts of ≤2 labels
    * pass through unchanged, exactly the scan strategy's contract, so on an
    * exact-only rule list the two strategies are output-identical (gated:
    * q_psl_join_parity).
    *
    * Scale: the rule table is ~9,000 tiny rows — broadcast; the host frame
    * fans out ≤ label-depth× into the hash probe and one per-host window
    * picks the winner. One narrow exchange class (the window keys on the
    * host row id); no corpus-sized shuffle.
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
    // EXACT rules match only PROPER suffixes (r15 self-review): the scan
    // strategy's endsWith(".suffix") can never match the host itself, so a
    // host EQUAL to a listed multi-label rule whose parent suffix is
    // unlisted must fall to the last-2 default under BOTH strategies, or
    // growing a list past caseChainMaxRules would silently change outputs.
    // Exceptions still match the full host (`!www.ck` matches www.ck — the
    // PSL algorithm's own example); wildcards already require an extra
    // label, which implies a proper-suffix candidate.
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

  /** Strategy dispatch (r15): small exact-only lists (the committed subset)
    * take the per-row scan; large lists or lists carrying
    * wildcard/exception rules run the broadcast join. Both strategies are
    * gated output-equal on exact-only lists.
    */
  def withRegistrableDomain(df: DataFrame, hostCol: String, idCol: String,
      outCol: String, lines: Seq[String]): DataFrame = {
    val rules = parsePslRules(lines)
    val exactOnly = rules.forall(r => !r.isException && !r.isWildcard)
    if (exactOnly && rules.size <= caseChainMaxRules)
      df.withColumn(outCol, registrableDomainCase(col(hostCol), rules.map(_.key)))
    else registrableDomainJoin(df, hostCol, idCol, outCol, rules)
  }

  /** Deterministic ≥500-rule PSL fixture (r15): 166 synthetic TLD families
    * each contributing `t$i`, `co.t$i`, `org.t$i` (498 exact rules — the
    * shape of the real PSL's country sections), plus the two rule FORMS the
    * committed subset lacks: wildcard `*.ck` and exception `!www.ck` (the
    * PSL's own canonical pair). 500 rules total — past [[caseChainMaxRules]],
    * so [[withRegistrableDomain]] provably takes the join strategy.
    */
  lazy val pslScaledRules: Seq[String] =
    (0 until 166).flatMap(i => Seq(s"t$i", s"co.t$i", s"org.t$i")) ++
      Seq("*.ck", "!www.ck")

  /** The [[graft.expressions.UrlCanon]] struct of a URL over the committed
    * PSL: `url_canon`, `domain`, `surt`, and the unguarded `host` and `path`.
    */
  private def urlParts(url: Column): Column =
    graft.expressions.GraftFunctions.urlCanon(url, pslSuffixes)

  /** Canonicalization pass: adds `url_canon`, `domain`, `surt` beside the
    * raw `urlCol`, all three from ONE kernel call per row
    * ([[graft.expressions.UrlCanon]] documents the rules): lowercase
    * scheme+host, userinfo (up to the last `@`) and `www.` stripped, default
    * ports and fragments dropped, tracking params dropped and the rest
    * sorted, trailing slashes collapsed. A URL whose scheme or host comes
    * back empty (relative hrefs, `mailto:`, garbage) gets NULL in all three
    * keys, so a groupBy on any of them sends it to the NULL bucket instead
    * of a shared `://…` collision cluster. No UDF, no shuffle, and no regex
    * or CASE tree in the plan.
    */
  def canonicalize(df: DataFrame, urlCol: String): DataFrame =
    df.withColumn("__canon", urlParts(col(urlCol)))
      .withColumn("url_canon", col("__canon.url_canon"))
      .withColumn("domain", col("__canon.domain"))
      // SURT: scheme-less, host labels reversed + comma-joined — range
      // partitioning on this key co-locates a domain (and its subdomains)
      .withColumn("surt", col("__canon.surt"))
      .drop("__canon")

  /** URL-keyed exact dedup on the SURT key: one hash-shuffle on the key,
    * survivor = min id (the Dedup.exact rule). `n_distinct_canon` separates
    * true re-crawls (same canonical URL) from scheme/port variants that the
    * scheme-less SURT folds together.
    */
  def urlDedup(canonicalized: DataFrame, idCol: String): DataFrame =
    canonicalized.groupBy("surt").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("url_canon")).as("n_distinct_canon"),
      min(col(idCol)).as("keeper_id"))

  /** Per-registrable-domain corpus report: docs, distinct pages (SURT),
    * dup rate, whitespace tokens — the per-domain budget table. Two
    * partial-aggregable passes fused by Catalyst into one shuffle on
    * `domain` (countDistinct expands to the standard two-phase plan).
    */
  def domainReport(canonicalized: DataFrame, textCol: String): DataFrame =
    canonicalized.groupBy("domain").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("surt")).as("n_pages"),
      round(lit(1.0) - countDistinct(col("surt")).cast(DoubleType) /
        count(lit(1)).cast(DoubleType), 6).as("dup_rate"),
      sum(TextAnalysis.wsTokens(col(textCol)).cast(LongType)).as("total_tokens"))

  /** HTML → text extraction (r13): the front of every web-corpus pipeline.
    * Order is load-bearing: script/style BLOCKS drop first (dotall,
    * non-greedy — a `<` inside script code must not derail tag stripping),
    * then tags strip to spaces, then entities decode (`&amp;` LAST or it
    * double-decodes), then whitespace collapses. Pure codegen'd string
    * expressions — scan-speed, zero shuffle, the [[canonicalize]] class.
    */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?s)<script.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?s)<style.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    val decoded = replace(
      replace(
        replace(
          replace(
            replace(noTags, lit("&lt;"), lit("<")),
            lit("&gt;"), lit(">")),
          lit("&quot;"), lit("\"")),
        lit("&#39;"), lit("'")),
      lit("&amp;"), lit("&"))
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** All href link targets in an HTML payload, in document order. */
  def extractLinks(html: Column): Column =
    regexp_extract_all(html, lit("href=\"([^\"]*)\""), lit(1))

  // ------------------------------------------------------------------
  // main-content extraction (r18, verdict ask #1)
  // ------------------------------------------------------------------

  /** Block-level tag pattern for [[htmlBlocks]]: any open or close tag of
    * the fixed block-element set becomes a block boundary. The pattern is
    * RE2∩Java-safe (inline `(?i)`, `\b`, no lookaround) and is embedded
    * VERBATIM in the DuckDB dual — one source of truth for both engines.
    */
  val blockTagRe: String =
    "(?i)</?(?:html|head|title|body|p|div|h[1-6]|ul|ol|li|nav|header|footer|" +
      "aside|section|article|table|thead|tbody|tr|td|th|br)\\b[^>]*>"

  /** Anchor-element pattern (tag AND inner text) — removing whole anchors
    * from a block and re-extracting text measures the block's link-text
    * mass without any per-anchor lambda. Shared with the dual verbatim.
    */
  val anchorRe: String = "(?is)<a\\b[^>]*>.*?</a>"

  /** The block separator [[htmlBlocks]] splits on — U+0001, a byte that
    * cannot appear in HTML text (the parse would have rejected it long
    * before) and that both engines treat as an ordinary character.
    */
  private val blockSep: String = 1.toChar.toString

  /** The htmlToText tail over an already-script/style-free fragment: strip
    * tags to spaces, decode entities (&amp; LAST), collapse whitespace,
    * trim — factored so [[htmlToText]] and the per-block extraction can
    * never diverge on the text law.
    */
  private def stripDecodeCollapse(frag: Column): Column = {
    val noTags = regexp_replace(frag, "<[^>]*>", " ")
    val decoded = replace(
      replace(
        replace(
          replace(
            replace(noTags, lit("&lt;"), lit("<")),
            lit("&gt;"), lit(">")),
          lit("&quot;"), lit("\"")),
        lit("&#39;"), lit("'")),
      lit("&amp;"), lit("&"))
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Keep-words floor and the long-block override of the
    * terminal-punctuation rule — public so specs and callers can reason
    * about the contract ([[htmlBlocks]] scaladoc).
    */
  val blockMinWords: Int = 5
  val blockLongWords: Int = 10

  /** HTML → one row per BLOCK with boilerplate features (r18, verdict
    * ask #1): [[htmlToText]] is a global tag-strip, so nav / menu /
    * footer / sidebar / cookie-banner chrome lands in extracted text and
    * pollutes quality features, shingle and dedup keys, and token counts
    * for every downstream operator. Real curation (C4's line rules,
    * jusText's block link-density classifier) drops boilerplate
    * STRUCTURALLY; this is the deterministic, oracle-restatable member of
    * that family:
    *
    *   1. script/style blocks drop (dotall, non-greedy — htmlToText's law);
    *   2. every block-level tag ([[blockTagRe]]) becomes a boundary and
    *      the document splits into block fragments;
    *   3. per block: `btext` (the htmlToText strip/decode/collapse tail),
    *      `words` (space tokens of the collapsed text), `link_chars` (text
    *      chars contributed by anchor elements = len(btext) − len(text
    *      with whole anchors removed));
    *   4. `kept` = words ≥ [[blockMinWords]] AND link_chars·2 < len(btext)
    *      (link density < ½ — the jusText boundary) AND (words ≥
    *      [[blockLongWords]] OR the block ends in terminal punctuation
    *      `.!?"'` — the C4 line rule, with the long-block override so
    *      prose that ends in a citation or tag-like fragment survives).
    *
    * Nav/menu blocks die on link density, cookie banners and headings on
    * the word floor or the punctuation rule, footers with a few links and
    * a copyright tail on the punctuation rule. Empty fragments (adjacent
    * boundaries) are dropped before counting.
    *
    * Spark shape: one narrow regexp chain + posexplode + per-block
    * codegen'd expressions — NO higher-order lambda anywhere (the r17 WAT
    * lesson: interpreted per-element lambdas are the slowest lanes in the
    * engine); scan speed, zero shuffle. Consumers aggregate per doc
    * (partial-aggregable sum for token counts).
    */
  def htmlBlocks(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val noScript = regexp_replace(col(htmlCol), "(?s)<script.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?s)<style.*?</style>", " ")
    val marked = regexp_replace(noStyle, blockTagRe, blockSep)
    df.select(col(idCol), posexplode(split(marked, blockSep)).as(Seq("block_idx", "__b")))
      .withColumn("btext", stripDecodeCollapse(col("__b")))
      .filter(col("btext") =!= "")
      .withColumn("words", size(split(col("btext"), " ")).cast(LongType))
      .withColumn("link_chars",
        (length(col("btext")) - length(stripDecodeCollapse(
          regexp_replace(col("__b"), anchorRe, " ")))).cast(LongType))
      .withColumn("kept",
        col("words") >= blockMinWords &&
          col("link_chars") * 2 < length(col("btext")) &&
          (col("words") >= blockLongWords || col("btext").rlike("[.!?\"']$")))
      .drop("__b")
  }

  /** Per-document MAIN text from [[htmlBlocks]]: kept blocks reassemble in
    * document order (`main_text`), with the block counts and the kept
    * token sum beside. The reassembly sorts a per-doc struct array (tiny —
    * block count per page) and joins; the only wide stage is one
    * partial-aggregable groupBy on the id. Docs whose every block was
    * dropped emit `main_text` = '' with zero counts.
    */
  def mainContent(df: DataFrame, idCol: String, htmlCol: String): DataFrame =
    htmlBlocks(df, idCol, htmlCol)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(col("kept").cast(LongType)).as("n_kept"),
        sum(when(col("kept"), col("words")).otherwise(lit(0L))).as("main_toks"),
        // field extraction over the sorted struct array is GetArrayStructFields
        // (codegen'd) — a `transform(_, b => b.getField(...))` lambda here
        // would run interpreted per block (r18 optimization)
        array_join(
          sort_array(collect_list(when(col("kept"),
            struct(col("block_idx"), col("btext"))))).getField("btext"),
          " ").as("main_text"))

  /** RFC 3986 remove_dot_segments over a path(+query) string, as a BOUNDED
    * unrolled regex chain (codegen'd, RE2-compatible — no lookaround, so the
    * DuckDB dual restates it verbatim): `/./` collapses, then four passes
    * each remove one `segment/../` level (innermost-first, exactly the RFC
    * stack pop), then root-excess `/../` drops. Nesting deeper than 4
    * `..`-levels keeps a residual — real href corpora don't nest deeper,
    * and the bound keeps this a pure narrow expression. Queries containing
    * literal `/../` are outside the contract (the RFC splits query off
    * first; this chain runs over path+query for one fewer parse pass).
    */
  def removeDotSegments(p: Column): Column = {
    val noDot = regexp_replace(regexp_replace(regexp_replace(p,
      "/\\./", "/"), "/\\./", "/"), "/\\.$", "/")
    val popped = (1 to 4).foldLeft(noDot)((x, _) =>
      regexp_replace(regexp_replace(x, "/[^/]+/\\.\\./", "/"), "/[^/]+/\\.\\.$", "/"))
    regexp_replace(regexp_replace(popped, "^(/\\.\\./)+", "/"), "^/\\.\\.$", "/")
  }

  /** Resolve an href against its page URL — RFC 3986 §5.2 reference
    * resolution (r14): scheme-ful hrefs pass through; `//host/…` takes the
    * base scheme (protocol-relative); `/abs` takes scheme + authority;
    * `?q` replaces the base query; `#frag` (and empty) is the page itself;
    * anything else merges onto the base path's directory. Merged paths run
    * through [[removeDotSegments]]. Pure codegen'd string expressions —
    * the link graph resolves at scan speed; compose with [[canonicalize]]
    * (which also strips userinfo and NULLs malformed results, so a
    * `mailto:` or garbage href never pollutes a dedup key).
    */
  def resolveUrl(base: Column, href: Column): Column = {
    val baseNF = regexp_replace(base, "#.*", "")
    val scheme = regexp_extract(baseNF, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    val auth = regexp_extract(baseNF, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    val bpath = regexp_extract(baseNF, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val bpathOrRoot = when(bpath === "", lit("/")).otherwise(bpath)
    val dir = when(bpath === "", lit("/")).otherwise(regexp_replace(bpath, "[^/]*$", ""))
    when(href.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), href)
      .when(href.startsWith("//"), concat(scheme, lit(":"), href))
      .when(href.startsWith("/"), concat(scheme, lit("://"), auth, removeDotSegments(href)))
      .when(href.startsWith("#") || href === "", baseNF)
      .when(href.startsWith("?"), concat(scheme, lit("://"), auth, bpathOrRoot, href))
      .otherwise(concat(scheme, lit("://"), auth, removeDotSegments(concat(dir, href))))
  }

  /** Deterministic CHROME-HEAVY page fixture (r18): the [[htmlBlocks]]
    * rules must demonstrably BIND — every arm is engineered to die on (or
    * survive) exactly one rule:
    *
    *   - title + h1 ("Doc N", 2 words) — word floor;
    *   - nav (5 pure-link words) — link density;
    *   - cookie banner (6 words, no terminal punctuation, short) — the
    *     C4 line rule;
    *   - the MAIN `<p>` (doc text + '.') — kept (≥5 words, no links,
    *     terminal punctuation);
    *   - arm `doc_id % 4 == 1`: a trending `<aside>` of pure links —
    *     link density;
    *   - arm `doc_id % 4 == 2`: a 13-word prose `<div>` with NO terminal
    *     punctuation — kept via the long-block override;
    *   - arm `doc_id % 4 == 3`: "Read on." (2 words WITH punctuation) —
    *     word floor;
    *   - footer (2 link words + a 4-word copyright tail, no terminal
    *     punctuation) — survives the density rule, dies on the line rule.
    *
    * Pure string concatenation the oracle restates verbatim.
    */
  def withChromeHtml(docs: DataFrame): DataFrame = {
    val idStr = col("doc_id").cast(StringType)
    val arm = col("doc_id") % 4
    docs.withColumn("html", concat(
      lit("<html><head><title>Doc "), idStr,
      lit("</title></head><body><nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
        "<a href=\"/contact\">Contact</a> <a href=\"/pricing\">Pricing</a> " +
        "<a href=\"/blog\">Blog</a></nav><h1>Doc "), idStr,
      lit("</h1><div>We use cookies dialog Accept Decline</div><p>"),
      col("text"), lit(".</p>"),
      when(arm === 1, lit("<aside><a href=\"/t1\">Trending topic one</a> " +
        "<a href=\"/t2\">Trending topic two</a></aside>"))
        .when(arm === 2, concat(lit("<div>Extra detail section for doc "), idStr,
          lit(" covering many additional words beyond the floor</div>")))
        .when(arm === 3, lit("<p>Read on.</p>"))
        .otherwise(lit("")),
      lit("<footer><a href=\"/privacy\">Privacy</a> <a href=\"/terms\">Terms</a> " +
        "© 2024 Example Corp</footer></body></html>")))
  }

  /** The chrome-dedup consequence fixture (r18): every doc serves TWO pages
    * (rid = doc_id·2 + v) sharing IDENTICAL heavy chrome (nav + cookie +
    * trending sidebar + footer — the real-web shape: one template, many
    * articles) but carrying fully shingle-disjoint 10-word bodies. Under
    * global tag-strip the pair's texts share every chrome shingle and
    * collide as near-duplicates; under main-content extraction each page's
    * text is its body alone and the pair shares NOTHING (the only common
    * token is the doc numeral, never 3 consecutive words).
    */
  def withChromeVariants(docs: DataFrame): DataFrame = {
    val idStr = col("doc_id").cast(StringType)
    def page(body: Column): Column = concat(
      lit("<html><head><title>Doc "), idStr,
      lit("</title></head><body><nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
        "<a href=\"/contact\">Contact</a> <a href=\"/pricing\">Pricing</a> " +
        "<a href=\"/blog\">Blog</a> <a href=\"/careers\">Careers</a> " +
        "<a href=\"/support\">Support</a> <a href=\"/archive\">Archive</a></nav><h1>Doc "),
      idStr,
      lit("</h1><div>We use cookies dialog Accept Decline</div><p>"), body,
      lit("</p><aside><a href=\"/t1\">Trending topic one</a> " +
        "<a href=\"/t2\">Trending topic two</a> " +
        "<a href=\"/t3\">Trending topic three</a></aside>" +
        "<footer><a href=\"/privacy\">Privacy</a> <a href=\"/terms\">Terms</a> " +
        "© 2024 Example Corp</footer></body></html>"))
    val b0 = concat(lit("Original piece "), idStr,
      lit(" explores alpha rivers and tall mountains today."))
    val b1 = concat(lit("Revised essay "), idStr,
      lit(" examines omega deserts plus deep canyons tonight."))
    docs.select(col("doc_id"), explode(array(
        struct(lit(0L).as("v"), page(b0).as("html")),
        struct(lit(1L).as("v"), page(b1).as("html")))).as("__e"))
      .select(col("doc_id"), col("__e.v").as("v"),
        (col("doc_id") * 2 + col("__e.v")).as("rid"), col("__e.html").as("html"))
  }

  /** Deterministic HTML fixture around (doc_id, text, url): a full page with
    * title/h1, a script block containing a bare `<` (the classic
    * tag-stripper trap), a style block, entity-encoded text, and six links —
    * the doc's messy [[withUrls]] URL, a case-messy absolute link, and (r14)
    * the four messy-href shapes [[resolveUrl]] must handle: a `../` relative
    * path, a protocol-relative `//host`, an absolute path with a `/./` dot
    * segment, and a scheme-ful link carrying userinfo. Pure string
    * concatenation the oracle restates verbatim.
    */
  def withHtml(docsWithUrl: DataFrame): DataFrame = {
    val idStr = col("doc_id").cast(StringType)
    val c = (col("doc_id") % 100).cast(StringType)
    docsWithUrl.withColumn("html", concat(
      lit("<html><head><title>Doc "), idStr,
      lit("</title><script>var x = 1 < 2;</script><style>.c{color:red}</style></head><body><h1>Doc "),
      idStr, lit("</h1><p>"), col("text"),
      lit(" &amp; tail &lt;tag&gt;</p><a href=\""), col("url"),
      lit("\">first</a> <a href=\"HTTP://Example.COM/p?id="), c,
      lit("#x\">second</a> <a href=\"../other/page-"), c,
      lit("?x=1\">third</a> <a href=\"//cdn.example-"), c,
      lit(".com/lib/app.js\">fourth</a> <a href=\"/ROOT/./deep/page-"), c,
      lit(".html\">fifth</a> <a href=\"https://user@media.example.org/m/"), c,
      lit("\">sixth</a></body></html>")))
  }

  /** Deterministic messy-URL fixture: derives a crawl-shaped `url` column
    * from `doc_id` — 100 page clusters (c = doc_id % 100), 7 hosts
    * (c % 7, one under a multi-label suffix), 5 mess variants
    * (v = doc_id ÷ 100 mod 5) that exercise every normalization rule:
    * case + `www.` + default port + fragment + tracking params (v0),
    * `:443` + trailing slash + unsorted params (v1), tracking params mixed
    * into sorted-order violations (v2), `www.` + fbclid (v3), and a
    * genuinely distinct page on a kept non-default port (v4). Variants
    * v0–v3 canonicalize to one SURT; v4 stays separate. The formula is
    * pure integer/string arithmetic the oracle restates verbatim.
    */
  def withUrls(docs: DataFrame): DataFrame =
    docs.withColumn("url", urlOf(col("doc_id")))

  /** The messy-URL formula over an arbitrary id EXPRESSION (r16): factored
    * out of [[withUrls]] so the redirect fixture can synthesize Location
    * targets pointing at OTHER fixture docs' URLs (`urlOf(id + 11)`) from
    * the same single source of truth. Integral div is restated as
    * subtract-mod-divide so the expression composes over id arithmetic
    * (all fixture ids are ≥ 0 and far below 2^53, so the division is
    * exact).
    */
  def urlOf(id: Column): Column = {
    val idL = id.cast(LongType)
    val c = (idL % 100).cast(StringType)
    val v = ((idL - idL % 100) / 100).cast(LongType) % 5
    val h = (idL % 100 % 7).cast(StringType)
    val hostbase = when(idL % 100 % 7 === 6, lit("news.example.co.uk"))
      .otherwise(concat(lit("site"), h, lit(".example-"), h, lit(".com")))
    val art = concat(lit("/articles/"), c)
    when(v === 0, concat(lit("HTTP://WWW."), upper(hostbase), lit(":80"), art,
        lit("?utm_source=feed&x=2&id="), c, lit("#frag")))
      .when(v === 1, concat(lit("https://"), hostbase, lit(":443"), art,
        lit("/?id="), c, lit("&x=2")))
      .when(v === 2, concat(lit("https://"), hostbase, art,
        lit("?x=2&id="), c, lit("&utm_campaign=summer&gclid=g"), c))
      .when(v === 3, concat(lit("https://www."), hostbase, art,
        lit("?id="), c, lit("&x=2&fbclid=f"), c))
      .otherwise(concat(lit("http://"), hostbase, lit(":8080"), art, lit("?id="), c))
  }

  // ------------------------------------------------------------------
  // WARC container front door (r15)
  // ------------------------------------------------------------------

  private val CRLF = "\r\n"

  /** The marker-in-payload fixture block (r16): a fake WARC record QUOTED
    * inside an HTML body — literal marker bytes, a phantom header set, a
    * Content-Length claim larger than anything behind it. Split on the
    * marker and this shatters the record stream; frame by octet count and
    * it is just payload. Public so the oracle dual restates it verbatim.
    */
  val quotedWarcBlock: String =
    "<pre>quoted dump: WARC/1.0" + CRLF + "WARC-Type: response" + CRLF +
      "WARC-Target-URI: https://phantom.example/p" + CRLF +
      "Content-Length: 9999" + CRLF + CRLF + "phantom body</pre>"

  /** Deterministic WARC-Date for a doc id — ISO 8601 Zulu, the WARC 1.0
    * mandatory format.
    */
  def warcDate(id: Column): Column =
    format_string("2024-%02d-%02dT%02d:15:00Z",
      (id % 12 + 1).cast(IntegerType), (id % 28 + 1).cast(IntegerType),
      (id % 24).cast(IntegerType))

  /** Deterministic WARC/1.0 fixture around (doc_id, url, html): a full
    * three-record segment — warcinfo, request, response — with real WARC
    * headers (WARC-Type / WARC-Target-URI / WARC-Record-ID / WARC-Date /
    * Content-Type / Content-Length in octets), CRLF line discipline, the
    * `headers CRLF CRLF block CRLF CRLF` record framing, and an HTTP
    * response block (status line + headers + body) wrapping [[withHtml]]'s
    * page. Status varies: `doc_id % 11 == 0` → 404 with an error body,
    * `== 1` → 301 with a Location header and empty body, else 200 with the
    * HTML page. One doc per 101 (`doc_id % 101 == 100`) serializes as an
    * undecodable member (`corrupt-member:<id>` — the truncated-gzip-member
    * shape of a real crawl dump) that [[warcRecords]] must yield ZERO
    * records for. Pure string concatenation the oracle restates verbatim,
    * making parse(serialize(x)) an identity gate in the codec-fixture
    * style (cf. Multimodal's BMP/GIF oracles).
    *
    * Redirect arms (r16, verdict ask #2): a 301 doc's Location target is
    * keyed on k = (id div 11) mod 6 — k0 an off-corpus dangling host,
    * k1/k3 the NEXT doc's URL (a 200 page: one-hop resolution, and k3 is
    * also the terminal of k2's chain), k2 the next 301's URL (→ that k3 →
    * its 200: a TWO-hop chain), k4 the next 301's URL and k5 the PREVIOUS
    * 301's URL (k4 → k5 → k4: a redirect LOOP). Targets are [[urlOf]]
    * formula values, so edges canonicalize and resolve against real
    * fixture pages.
    *
    * `embedMarker = true` (r16, verdict ask #1) appends a QUOTED fake WARC
    * record — literal `WARC/1.0` marker, fake headers, an over-long
    * Content-Length claim — inside the HTML body of every 200 doc with
    * `doc_id % 13 == 5`: the crawled-mirror-of-a-dump payload that a
    * marker-split parser shatters into phantom records and the
    * length-framed parser must carry through as payload.
    */
  def withWarc(docsWithHtml: DataFrame, embedMarker: Boolean = false): DataFrame = {
    val id = col("doc_id")
    val idStr = id.cast(StringType)
    val c = (id % 100).cast(StringType)
    val m = id % 11
    val infoBody = concat(
      lit("software: graft-crawler/1.0" + CRLF + "isPartOf: crawl-"),
      (id % 10).cast(StringType), lit(CRLF))
    val reqBody = concat(lit("GET "), col("url"),
      lit(" HTTP/1.1" + CRLF + "User-Agent: graftbot/1.0" + CRLF))
    val statusLine = when(m === 0, lit("404 Not Found"))
      .when(m === 1, lit("301 Moved Permanently"))
      .otherwise(lit("200 OK"))
    val page = if (embedMarker)
      when(id % 13 === 5, concat(col("html"), lit(quotedWarcBlock)))
        .otherwise(col("html"))
    else col("html")
    val body = when(m === 0, lit("<html><body>Not Found</body></html>"))
      .when(m === 1, lit(""))
      .otherwise(page)
    val k = ((id - id % 11) / 11).cast(LongType) % 6
    val locTarget = when(k === 0, concat(lit("https://moved.example.net/p-"), c))
      .when(k === 1 || k === 3, urlOf(id + 1))
      .when(k === 2 || k === 4, urlOf(id + 11))
      .otherwise(urlOf(id - 11))
    val locHdr = when(m === 1,
      concat(lit("Location: "), locTarget, lit(CRLF)))
      .otherwise(lit(""))
    val respBlock = concat(lit("HTTP/1.1 "), statusLine,
      lit(CRLF + "Content-Type: text/html; charset=UTF-8" + CRLF),
      locHdr, lit(CRLF), body)
    val uriHdr = concat(lit("WARC-Target-URI: "), col("url"), lit(CRLF))
    def rec(recType: String, n: Int, uri: Column, ctype: String, block: Column) =
      concat(lit("WARC/1.0" + CRLF + "WARC-Type: " + recType + CRLF),
        uri,
        lit("WARC-Record-ID: <urn:graft:"), idStr, lit("-" + n + ">" + CRLF +
          "WARC-Date: "), warcDate(id), lit(CRLF +
          "Content-Type: " + ctype + CRLF +
          "Content-Length: "), octet_length(block).cast(StringType),
        lit(CRLF + CRLF), block, lit(CRLF + CRLF))
    val seg = concat(
      rec("warcinfo", 1, lit(""), "application/warc-fields", infoBody),
      rec("request", 2, uriHdr, "application/http;msgtype=request", reqBody),
      rec("response", 3, uriHdr, "application/http;msgtype=response", respBlock))
    docsWithHtml.withColumn("warc",
      when(id % 101 === 100, concat(lit("corrupt-member:"), idStr)).otherwise(seg))
  }

  // ------------------------------------------------------------------
  // Typed synthesis kernel (r19 optimization)
  // ------------------------------------------------------------------

  /** [[urlOf]] as a plain function — char-identical to the Column formula
    * (the differential arm in WebSpec sweeps every variant/host/redirect
    * residue). Fixture ids are non-negative by construction.
    */
  private[graft] def urlOfId(id: Long): String = {
    val c = id % 100
    val v = (id - c) / 100 % 5
    val h = c % 7
    val hostbase = if (h == 6) "news.example.co.uk" else s"site$h.example-$h.com"
    val art = s"/articles/$c"
    v match {
      case 0 => "HTTP://WWW." + hostbase.toUpperCase(java.util.Locale.ROOT) +
        ":80" + art + s"?utm_source=feed&x=2&id=$c#frag"
      case 1 => s"https://$hostbase:443$art/?id=$c&x=2"
      case 2 => s"https://$hostbase$art?x=2&id=$c&utm_campaign=summer&gclid=g$c"
      case 3 => s"https://www.$hostbase$art?id=$c&x=2&fbclid=f$c"
      case _ => s"http://$hostbase:8080$art?id=$c"
    }
  }

  /** [[withHtml]]'s page formula as a plain function (NULL text → NULL html,
    * the concat propagation rule).
    */
  private[graft] def htmlOfId(id: Long, text: String, url: String): String = {
    if (text == null) return null
    val c = id % 100
    s"<html><head><title>Doc $id</title><script>var x = 1 < 2;</script>" +
      s"<style>.c{color:red}</style></head><body><h1>Doc $id</h1><p>$text" +
      " &amp; tail &lt;tag&gt;</p><a href=\"" + url +
      s"""\">first</a> <a href="HTTP://Example.COM/p?id=$c#x">second</a>""" +
      s""" <a href="../other/page-$c?x=1">third</a>""" +
      s""" <a href="//cdn.example-$c.com/lib/app.js">fourth</a>""" +
      s""" <a href="/ROOT/./deep/page-$c.html">fifth</a>""" +
      s""" <a href="https://user@media.example.org/m/$c">sixth</a></body></html>"""
  }

  /** [[withWarc]]'s three-record segment as a plain function — every arm
    * (status mix, redirect-target keys, corrupt member, embedded marker,
    * NULL-text concat propagation) replicated char-for-char.
    */
  private[graft] def warcOfId(id: Long, url: String, html: String,
      embedMarker: Boolean): String = {
    if (id % 101 == 100) return s"corrupt-member:$id"
    val c = id % 100
    val m = id % 11
    val date = String.format(java.util.Locale.US, "2024-%02d-%02dT%02d:15:00Z",
      Int.box((id % 12 + 1).toInt), Int.box((id % 28 + 1).toInt),
      Int.box((id % 24).toInt))
    def rec(recType: String, n: Int, uri: String, ctype: String,
        block: String): String = {
      if (block == null) return null
      val octets = block.getBytes("UTF-8").length
      "WARC/1.0" + CRLF + "WARC-Type: " + recType + CRLF + uri +
        s"WARC-Record-ID: <urn:graft:$id-$n>" + CRLF +
        "WARC-Date: " + date + CRLF +
        "Content-Type: " + ctype + CRLF +
        s"Content-Length: $octets" + CRLF + CRLF + block + CRLF + CRLF
    }
    val infoBody = "software: graft-crawler/1.0" + CRLF +
      s"isPartOf: crawl-${id % 10}" + CRLF
    val reqBody = s"GET $url HTTP/1.1" + CRLF + "User-Agent: graftbot/1.0" + CRLF
    val statusLine =
      if (m == 0) "404 Not Found"
      else if (m == 1) "301 Moved Permanently" else "200 OK"
    val page =
      if (html == null) null
      else if (embedMarker && id % 13 == 5) html + quotedWarcBlock
      else html
    val body =
      if (m == 0) "<html><body>Not Found</body></html>"
      else if (m == 1) "" else page
    val k = (id - m) / 11 % 6
    val locHdr = if (m == 1) {
      val locTarget =
        if (k == 0) s"https://moved.example.net/p-$c"
        else if (k == 1 || k == 3) urlOfId(id + 1)
        else if (k == 2 || k == 4) urlOfId(id + 11)
        else urlOfId(id - 11)
      "Location: " + locTarget + CRLF
    } else ""
    val respBlock = if (body == null) null
      else "HTTP/1.1 " + statusLine + CRLF +
        "Content-Type: text/html; charset=UTF-8" + CRLF + locHdr + CRLF + body
    val uriHdr = s"WARC-Target-URI: $url" + CRLF
    val r3 = rec("response", 3, uriHdr, "application/http;msgtype=response",
      respBlock)
    if (r3 == null) null // concat-of-NULL propagation (NULL text, 200 arm)
    else rec("warcinfo", 1, "", "application/warc-fields", infoBody) +
      rec("request", 2, uriHdr, "application/http;msgtype=request", reqBody) + r3
  }

  /** The fused (url, html, warc) fixture synthesis as ONE typed
    * mapPartitions pass — column-identical to
    * `withWarc(withHtml(withUrls(docs)), embedMarker)` (differential arm in
    * WebSpec + every consumer's unchanged oracle hash).
    *
    * WHY (r19 optimization; guide §1.2 — fix the algorithm the OPTIMIZER
    * executes): the declarative chain collapses into one giant projection —
    * `urlOf` re-inlines ~8× (html links, request line, both URI headers,
    * redirect targets), and `octet_length(block)` duplicates each record's
    * whole block subtree — several thousand expression nodes that Catalyst
    * re-analyzes on every query build and re-OPTIMIZES under every
    * `localCheckpoint` (OPTIMIZATION_r19.md: checkpointing the parse over the
    * declarative synthesis costs 0.555 s/build vs 0.124 s over a landed
    * frame; the plain toRdd of the synthesis projection alone is 0.28 s).
    * Fourteen crawl-family queries pay that per invocation. The typed walk
    * is a SerializeFromObject leaf — nothing for the optimizer to chew —
    * and is the same lineage barrier the parse already is, so downstream
    * plan shapes are unchanged. The declarative builders stay as the
    * reference semantics (and for callers needing incremental columns).
    */
  def synthCrawl(docs: DataFrame, embedMarker: Boolean = false): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast(LongType), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val url = urlOfId(id)
        val html = htmlOfId(id, text, url)
        (id, text, url, html, warcOfId(id, url, html, embedMarker))
      }).toDF("doc_id", "text", "url", "html", "warc")
  }

  /** [[synthCrawl]] minus the WARC segment — for consumers that need only
    * (url, html): building the unused three-record segment measurably costs
    * (it re-encodes the page bytes several times for Content-Length), so
    * the html-only call sites take this variant.
    */
  def synthPages(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast(LongType), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val url = urlOfId(id)
        (id, text, url, htmlOfId(id, text, url))
      }).toDF("doc_id", "text", "url", "html")
  }

  /** A SECOND crawl of the same pages, with capture-time dedup (r16,
    * verdict ask #8): real Common Crawl dumps carry `revisit` records —
    * content-identical refetches that reference the original capture via
    * `WARC-Refers-To` plus a payload digest instead of re-shipping the
    * body. Over the 200-arm docs of [[withWarc]]'s fixture (404/301/
    * corrupt arms excluded — a revisit of an empty or error body is not
    * the contract under test), every third page (`doc_id % 3 == 0`)
    * refetches as a revisit record — refers-to `<urn:graft:id-3>` (the
    * original crawl's response record), `WARC-Payload-Digest: md5:` of the
    * original body, an HTTP-head-only block — while the rest refetch as
    * full responses with byte-identical bodies. Re-crawl records carry ids
    * and dates keyed on `doc_id + idOffset`. The refers-to edge is the
    * container-level exact-dup signal: cluster membership through it must
    * match content-key dedup of the full-response pages (gated:
    * q_warc_revisit).
    */
  def withWarcRevisits(docsWithHtml: DataFrame, idOffset: Long): DataFrame = {
    val id = col("doc_id")
    val nid = id + lit(idOffset)
    val nidStr = nid.cast(StringType)
    val m = id % 11
    val isRevisit = id % 3 === 0
    val infoBody = concat(
      lit("software: graft-crawler/1.0" + CRLF + "isPartOf: recrawl-"),
      (id % 10).cast(StringType), lit(CRLF))
    val reqBody = concat(lit("GET "), col("url"),
      lit(" HTTP/1.1" + CRLF + "User-Agent: graftbot/1.0" + CRLF))
    val uriHdr = concat(lit("WARC-Target-URI: "), col("url"), lit(CRLF))
    def rec(recType: String, n: Int, uri: Column, extra: Column, ctype: String,
        block: Column) =
      concat(lit("WARC/1.0" + CRLF + "WARC-Type: " + recType + CRLF),
        uri,
        lit("WARC-Record-ID: <urn:graft:"), nidStr, lit("-" + n + ">" + CRLF +
          "WARC-Date: "), warcDate(nid), lit(CRLF), extra,
        lit("Content-Type: " + ctype + CRLF +
          "Content-Length: "), octet_length(block).cast(StringType),
        lit(CRLF + CRLF), block, lit(CRLF + CRLF))
    val respBlock = concat(
      lit("HTTP/1.1 200 OK" + CRLF + "Content-Type: text/html; charset=UTF-8" +
        CRLF + CRLF), col("html"))
    val revisitExtra = concat(
      lit("WARC-Refers-To: <urn:graft:"), id.cast(StringType),
      lit("-3>" + CRLF + "WARC-Payload-Digest: md5:"), md5(col("html")),
      lit(CRLF + "WARC-Profile: identical-payload-digest" + CRLF))
    val headOnly = lit("HTTP/1.1 200 OK" + CRLF +
      "Content-Type: text/html; charset=UTF-8" + CRLF)
    val seg = concat(
      rec("warcinfo", 1, lit(""), lit(""), "application/warc-fields", infoBody),
      rec("request", 2, uriHdr, lit(""), "application/http;msgtype=request", reqBody),
      when(isRevisit,
        rec("revisit", 3, uriHdr, revisitExtra,
          "application/http;msgtype=response", headOnly))
        .otherwise(
          rec("response", 3, uriHdr, lit(""),
            "application/http;msgtype=response", respBlock)))
    docsWithHtml.filter(m =!= 0 && m =!= 1 && id % 101 =!= 100)
      .select(nid.as("doc_id"), seg.as("warc"))
  }

  /** Serialize curated page text as WET `conversion` records (r16) — the
    * WARC sibling format LLM pipelines actually consume from Common Crawl:
    * one WARC/1.0 record per page, `WARC-Type: conversion`, the page's
    * target URI and date, `WARC-Refers-To` the response record the text
    * was extracted from, `Content-Type: text/plain`, octet Content-Length.
    * Unlike the fixture builders this is a PRODUCTION operator: it writes
    * the engine's own curated output back into the container format, and
    * [[warcRecords]] parses it back generically (conversion is just a
    * record type) — q_wet_roundtrip gates serialize∘parse as an identity
    * over REAL derived text, not fixture constants. Pure codegen'd string
    * concatenation, zero shuffle — the WET writer rides the curation scan.
    */
  def toWet(df: DataFrame, idCol: String, urlCol: String, dateCol: String,
      textCol: String): DataFrame = {
    val idStr = col(idCol).cast(StringType)
    df.withColumn("wet", concat(
      lit("WARC/1.0" + CRLF + "WARC-Type: conversion" + CRLF +
        "WARC-Target-URI: "), col(urlCol),
      lit(CRLF + "WARC-Record-ID: <urn:graft:wet:"), idStr,
      lit(">" + CRLF + "WARC-Refers-To: <urn:graft:"), idStr,
      lit("-3>" + CRLF + "WARC-Date: "), col(dateCol),
      lit(CRLF + "Content-Type: text/plain" + CRLF + "Content-Length: "),
      octet_length(col(textCol)).cast(StringType),
      lit(CRLF + CRLF), col(textCol), lit(CRLF + CRLF)))
  }

  /** JSON string escape for the WAT metadata serializer: backslash first,
    * then quote (order matters), then every control character U+0000–U+001F
    * as `\u00XX` (r18 advisor fix — a tab inside a `<title>` passes the
    * `(.*?)` extraction regex, and unescaped it produced invalid JSON that
    * downstream from_json silently NULLed instead of failing loudly).
    *
    * KEPT as the declarative reference semantics only (WebSpec pins the
    * kernel against it): the production serializer [[toWat]] uses the
    * single-pass [[graft.expressions.JsonEscapeStr]] kernel — this chain is
    * 34 full scan-and-copy passes per string, and its per-link form ran
    * inside an interpreted `transform` lambda, the slowest per-byte lane of
    * r17 (SCALE.md wat_write_roundtrip; r18 optimization round).
    */
  private[graft] def jsonEsc(c: Column): Column =
    (0 until 0x20).foldLeft(
      replace(replace(c, lit("\\"), lit("\\\\")), lit("\""), lit("\\\""))) {
      (acc, i) => replace(acc, lit(i.toChar.toString), lit(f"\\u$i%04x"))
    }

  /** Serialize per-response metadata as WAT-style records (r17, verdict
    * ask #5) — the third panel of the WARC/WAT/WET triptych real dumps
    * ship: one `WARC-Type: metadata` record per response, refers-to the
    * response record, `Content-Type: application/json`, and a
    * deterministic JSON body `{url, status, mime, title, links[]}` built
    * from codegen'd string concatenation (NOT to_json — the byte layout is
    * part of the round-trip contract and the oracle restates it verbatim).
    * `linksCol` is the RESOLVED out-link array (resolveUrl over the page's
    * hrefs — the link graph a WAT consumer actually wants). Zero shuffle;
    * the writer rides the metadata scan like [[toWet]].
    */
  def toWat(df: DataFrame, idCol: String, urlCol: String, dateCol: String,
      statusCol: String, mimeCol: String, titleCol: String,
      linksCol: String): DataFrame = {
    val idStr = col(idCol).cast(StringType)
    // r18 optimization: single-pass escape kernels — the declarative form
    // ([[jsonEsc]] 34-replace chain per field; per-link escapes inside an
    // interpreted `transform` lambda) was the slowest per-byte lane of r17.
    // Byte-identical output (WebSpec kernel-vs-chain arms + the unchanged
    // q_wat_roundtrip / q_cc_triptych / q_domain_rank_wat oracle hashes).
    val esc = graft.expressions.GraftFunctions.jsonEscape _
    val linksJson = graft.expressions.GraftFunctions.jsonEscapeQuoteJoin(col(linksCol))
    val json = concat(
      lit("{\"url\":\""), esc(col(urlCol)),
      lit("\",\"status\":"), col(statusCol).cast(StringType),
      lit(",\"mime\":\""), esc(col(mimeCol)),
      lit("\",\"title\":\""), esc(col(titleCol)),
      lit("\",\"links\":["), linksJson, lit("]}"))
    df.withColumn("wat", concat(
      lit("WARC/1.0" + CRLF + "WARC-Type: metadata" + CRLF +
        "WARC-Target-URI: "), col(urlCol),
      lit(CRLF + "WARC-Record-ID: <urn:graft:wat:"), idStr,
      lit(">" + CRLF + "WARC-Refers-To: <urn:graft:"), idStr,
      lit("-3>" + CRLF + "WARC-Date: "), col(dateCol),
      lit(CRLF + "Content-Type: application/json" + CRLF + "Content-Length: "),
      octet_length(json).cast(StringType),
      lit(CRLF + CRLF), json, lit(CRLF + CRLF)))
  }

  /** Deterministic chunked-transfer fixture (r16): each page's HTML body
    * re-serializes with HTTP/1.1 chunked framing — three chunks cut at
    * character thirds, sizes declared in lowercase hex OCTETS, CRLF
    * discipline, the terminal `0` chunk — exactly what a crawler that
    * stores raw HTTP (Common Crawl does) hands the extraction step. One
    * doc per 13 (`doc_id % 13 == 3`) carries a non-hex size line (`zz`) —
    * the malformed arm [[dechunk]] must reject as NULL, never emit garbage
    * from. Pure codegen'd string construction the oracle restates verbatim.
    */
  def withChunkedHttp(docsWithHtml: DataFrame): DataFrame = {
    val h = col("html")
    val third = greatest(lit(1), (length(h) / 3).cast(IntegerType))
    val c1 = h.substr(lit(1), third)
    val c2 = h.substr(third + 1, third)
    val c3 = h.substr(third * 2 + 1, length(h))
    // empty chunks are SKIPPED (r17 advisor fix): a body shorter than 3
    // chars would otherwise emit a 0-size middle chunk whose size line is
    // the TERMINAL-chunk sentinel, silently truncating the decode —
    // unreachable with the HTML fixture (bodies are long) but latent in
    // the public builder
    def chunk(c: Column) = when(octet_length(c) > 0,
      concat(lower(hex(octet_length(c))), lit(CRLF), c, lit(CRLF)))
      .otherwise(lit(""))
    val body = concat(chunk(c1), chunk(c2), chunk(c3), lit("0" + CRLF + CRLF))
    val corrupt = concat(lit("zz" + CRLF), h, lit(CRLF + "0" + CRLF + CRLF))
    docsWithHtml.withColumn("chunked",
      when(col("doc_id") % 13 === 3, corrupt).otherwise(body))
  }

  /** Decode one HTTP/1.1 chunked-encoded body to its octets and chunk count:
    * hex size (chunk extensions after the digits are skipped per RFC 9112),
    * CRLF, exactly `size` OCTETS, CRLF — until the terminal 0-size chunk
    * (trailers ignored). Returns None on any framing violation (non-hex
    * size, truncated chunk, missing CRLF): a malformed body must
    * quarantine, not emit a garbage prefix as if it were content. Octets,
    * not text: when Transfer-Encoding composes with Content-Encoding the
    * chunks carry gzip bytes, and a UTF-8 round-trip here would corrupt
    * them before the entity decode ever ran.
    */
  private[graft] def dechunkBytesRaw(bytes: Array[Byte]): Option[(Array[Byte], Int)] = {
    val crlf = CRLF.getBytes("US-ASCII")
    def hexVal(b: Byte): Int = b match {
      case d if d >= '0' && d <= '9' => d - '0'
      case a if a >= 'a' && a <= 'f' => a - 'a' + 10
      case a if a >= 'A' && a <= 'F' => a - 'A' + 10
      case _ => -1
    }
    // one size line from `from`: (size, offset past its CRLF), size -1 on a
    // framing violation
    def sizeLine(from: Int): (Long, Int) = {
      var i = from
      var n = 0L
      while (i < bytes.length && hexVal(bytes(i)) >= 0 && i - from <= 8) {
        n = n * 16 + hexVal(bytes(i)); i += 1
      }
      // RFC 9112 §7.1.1: anything after the size digits must be a chunk
      // extension, and extensions BEGIN with ';' — a junk byte right after
      // the digits (`5junk\r\n`) is a framing violation, not an extension
      // (r17 advisor fix; previously any byte run to CR was skipped)
      if (i == from || i - from > 8 || i >= bytes.length ||
        (bytes(i) != ';' && bytes(i) != '\r')) (-1L, i)
      else {
        while (i < bytes.length && bytes(i) != '\r') i += 1 // chunk extensions
        if (matchesAt(bytes, crlf, i)) (n, i + 2) else (-1L, i)
      }
    }
    val out = new java.io.ByteArrayOutputStream()
    var nChunks = 0
    var (n, i) = sizeLine(0)
    // a data chunk: exactly n octets, then CRLF (n < 2^32, so the Long
    // bound check keeps n.toInt exact)
    while (n > 0 && i + n + 2 <= bytes.length && matchesAt(bytes, crlf, i + n.toInt)) {
      out.write(bytes, i, n.toInt)
      nChunks += 1
      val next = sizeLine(i + n.toInt + 2)
      n = next._1; i = next._2
    }
    if (n == 0) Some((out.toByteArray, nChunks)) else None
  }

  /** Chunked-transfer decode over a body column (r16): the step between
    * [[warcRecords]]' payload extraction and [[htmlToText]] for responses
    * whose HTTP head declares `Transfer-Encoding: chunked`. Emits
    * (id, decoded, n_chunks, ok) — malformed bodies decode to NULL with
    * ok = false. Byte-level on purpose (chunk sizes count octets); the
    * same narrow typed-mapPartitions codec class as the record walk and
    * the gzip lanes: zero shuffle, scan speed.
    */
  def dechunk(df: DataFrame, idCol: String, bodyCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast(LongType), col(bodyCol).cast(StringType))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, body) =>
        // NULL body quarantines like a malformed one (r17 advisor fix —
        // one null row must not NPE the task)
        val dec = if (body == null) None else dechunkBytesRaw(body.getBytes("UTF-8"))
        dec match {
          case Some((b, k)) => (id, new String(b, "UTF-8"), k, true)
          case None => (id, null.asInstanceOf[String], -1, false)
        }
      }).toDF(idCol, "decoded", "__k", "ok")
      .withColumn("n_chunks",
        when(col("ok"), col("__k").cast(LongType)).otherwise(lit(null).cast(LongType)))
      .drop("__k")
  }

  // ------------------------------------------------------------------
  // HTTP entity decoding (r17, verdict ask #1)
  // ------------------------------------------------------------------

  /** Whole-stream gzip decode for an HTTP entity body: every member's
    * octets ([[GzipWalk]]), but only when at least one member decoded and
    * none was cut short — an entity body is one document, and a partial
    * decode is garbage text, not salvage ([[gunzipWarc]] keeps prefixes).
    * A non-gzip tail after a complete member is TOLERATED (browsers and curl
    * ship that leniency for real servers' sloppy tails).
    */
  private[graft] def gunzipStrict(bytes: Array[Byte]): Option[Array[Byte]] = {
    val (octets, whole) = gunzipAll(bytes)
    if (whole) Some(octets) else None
  }

  /** STRICT deflate decode: zlib-wrapped per RFC 9110 §8.4.1.3, with the
    * raw-DEFLATE fallback every browser ships (a long tail of servers
    * sends `Content-Encoding: deflate` without the zlib wrapper). None on
    * corruption, trailing junk or more than [[MaxInflatedOctets]].
    */
  private[graft] def inflateStrict(bytes: Array[Byte]): Option[Array[Byte]] = {
    def run(nowrap: Boolean): Option[Array[Byte]] = {
      val inf = new java.util.zip.Inflater(nowrap)
      try {
        inf.setInput(bytes)
        val out = new java.io.ByteArrayOutputStream()
        if (inflateInto(inf, new Array[Byte](65536), out, null) && inf.getRemaining == 0)
          Some(out.toByteArray)
        else None
      } finally inf.end()
    }
    run(false).orElse(run(true))
  }

  /** Remove ONE coding from the entity octets; None = unknown or corrupt. */
  private def removeCoding(b: Array[Byte], coding: String): Option[Array[Byte]] =
    coding match {
      case "chunked" => dechunkBytesRaw(b).map(_._1)
      case "gzip" | "x-gzip" => gunzipStrict(b)
      case "deflate" => inflateStrict(b)
      case _ => None
    }

  /** Decode one HTTP entity body to its content octets, per the message's
    * framing headers — Transfer-Encoding is OUTERMOST (RFC 9112: chunked
    * frames the wire; Content-Encoding describes the entity inside), so
    * the order is dechunk first, then content-decode. `identity` and
    * absent pass through; unknown codings quarantine (emitting the encoded
    * octets as if they were content is the one forbidden outcome).
    */
  private[graft] def decodeHttpBodyBytes(body: Array[Byte], te: String,
      ce: String): Option[Array[Byte]] = {
    if (body == null) return None
    // Transfer-Encoding is a LIST applied in declaration order (RFC 9112:
    // `TE: gzip, chunked` means gzip first, chunked around it, with
    // chunked required last) — removal runs the list in REVERSE. `identity`
    // tokens are no-ops; any unknown coding quarantines the body.
    def codings(h: String): Seq[String] =
      Option(h).map(_.split(",").toSeq.map(_.trim.toLowerCase(java.util.Locale.ROOT))
        .filter(c => c.nonEmpty && c != "identity")).getOrElse(Seq.empty)
    val afterTe = codings(te).reverse.foldLeft(Option(body)) {
      (acc, c) => acc.flatMap(removeCoding(_, c))
    }
    // Content-Encoding is also list-valued (rare but legal: `gzip, gzip`
    // from a double-compressing proxy chain) — same reverse removal
    afterTe.flatMap { b =>
      codings(ce).reverse.foldLeft(Option(b))((acc, c) => acc.flatMap(removeCoding(_, c)))
    }
  }

  /** HTTP entity decode over a BINARY body column (r17, verdict ask #1):
    * the step between [[warcRecordsBin]]' payload extraction and
    * [[decodeCharset]] — most real crawl responses are `Content-Encoding:
    * gzip` (often inside `Transfer-Encoding: chunked`), and without this
    * step those octets reach text extraction as binary garbage. Emits
    * (id, decoded_bin, ok): the content octets stay BINARY, so a
    * cp1252/Shift_JIS page is not mojibaked before the charset step runs
    * (a caller that knows its pages are UTF-8 hashes or decodes
    * `decoded_bin` itself). A NULL body, an unknown coding or any framing
    * or codec violation quarantines to NULL/false. This operator undoes
    * the transport codings only. Same narrow typed-mapPartitions codec
    * class as [[dechunk]]/[[gunzipWarc]]: zero shuffle, scan speed, decode
    * parallelism = task parallelism. The `te`/`ce` columns are
    * [[warcRecordsBin]]'s framing headers, NULL on a record whose block
    * takes no HTTP head split, so such a payload passes through as is.
    */
  def decodeHttpBody(df: DataFrame, idCol: String, bodyCol: String,
      teCol: String, ceCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast(LongType), col(bodyCol).cast(BinaryType),
        col(teCol).cast(StringType), col(ceCol).cast(StringType))
      .as[(Long, Array[Byte], String, String)]
      .mapPartitions(_.map { case (id, body, te, ce) =>
        val dec = decodeHttpBodyBytes(body, te, ce)
        (id, dec.orNull, dec.isDefined)
      }).toDF(idCol, "decoded_bin", "ok")
  }

  /** One gzip stream for arbitrary octets (fixture builder). */
  private def gzipBytes(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(b); gz.close(); bos.toByteArray
  }

  /** zlib-wrapped deflate for arbitrary octets (fixture builder). */
  private def deflateBytes(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(b); d.finish()
    val bos = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](65536)
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    d.end(); bos.toByteArray
  }

  /** HTTP/1.1 chunked framing around arbitrary octets — three chunks at
    * byte thirds (empty chunks skipped), lowercase hex sizes, CRLF
    * discipline, terminal 0 chunk (fixture builder; the byte-level twin
    * of [[withChunkedHttp]]'s string construction).
    */
  private def chunkBytes(b: Array[Byte]): Array[Byte] = {
    val third = math.max(1, b.length / 3)
    val parts = Seq(b.slice(0, third), b.slice(third, 2 * third),
      b.slice(2 * third, b.length)).filter(_.nonEmpty)
    val bos = new java.io.ByteArrayOutputStream()
    val crlf = CRLF.getBytes("US-ASCII")
    parts.foreach { p =>
      bos.write(p.length.toHexString.getBytes("US-ASCII"))
      bos.write(crlf); bos.write(p); bos.write(crlf)
    }
    bos.write(("0" + CRLF + CRLF).getBytes("US-ASCII"))
    bos.toByteArray
  }

  // ------------------------------------------------------------------
  // charset-aware payload decode (r17, verdict ask #2)
  // ------------------------------------------------------------------

  /** HTML5-prescan window: charset detection reads at most this many bytes
    * of the payload head (the spec's 1024-byte prescan) — a `<meta
    * charset>` buried megabytes deep does not count, and the scan cost is
    * O(1) per document regardless of payload size.
    */
  val charsetPrescanBytes: Int = 1024

  private val headerCharsetRe =
    java.util.regex.Pattern.compile("(?i)charset=\"?'?([A-Za-z0-9._-]+)")
  private val metaCharsetRe = java.util.regex.Pattern.compile(
    "(?i)<meta\\s+charset=[\"']?([A-Za-z0-9._-]+)")
  private val metaEquivRe = java.util.regex.Pattern.compile(
    "(?i)<meta\\s+http-equiv=[\"']?content-type[\"']?\\s+content=[\"'][^\"']*charset=([A-Za-z0-9._-]+)")

  /** Byte-order-mark sniff — the FIRST step of the WHATWG encoding
    * algorithm: a BOM is authoritative over the transport header and any
    * meta tag (a page saved as UTF-16 keeps its BOM even when a proxy
    * slaps `charset=UTF-8` on it). Returns (charset, bomOctets).
    */
  private[graft] def detectBom(bytes: Array[Byte]): Option[(String, Int)] =
    if (bytes.length >= 3 && bytes(0) == 0xEF.toByte &&
      bytes(1) == 0xBB.toByte && bytes(2) == 0xBF.toByte) Some(("UTF-8", 3))
    else if (bytes.length >= 2 && bytes(0) == 0xFF.toByte &&
      bytes(1) == 0xFE.toByte) Some(("UTF-16LE", 2))
    else if (bytes.length >= 2 && bytes(0) == 0xFE.toByte &&
      bytes(1) == 0xFF.toByte) Some(("UTF-16BE", 2))
    else None

  /** Resolve the charset label and its provenance for one payload: the
    * HTTP Content-Type `charset` parameter wins (the transport's own
    * declaration), else the HTML `<meta charset>` / `http-equiv` prescan
    * over the first [[charsetPrescanBytes]] octets (decoded as Latin-1 —
    * every byte maps, so the scan itself can't fail), else UTF-8. BOM
    * precedence is [[decodeCharset]]'s job (it must also strip the mark).
    */
  private[graft] def resolveCharset(bytes: Array[Byte],
      contentType: String): (String, String) = {
    val fromHeader = Option(contentType).flatMap { ct =>
      val m = headerCharsetRe.matcher(ct)
      if (m.find()) Some(m.group(1)) else None
    }
    fromHeader match {
      case Some(l) => (l, "header")
      case None =>
        val head = new String(bytes, 0,
          math.min(bytes.length, charsetPrescanBytes), "ISO-8859-1")
        val mc = metaCharsetRe.matcher(head)
        val me = metaEquivRe.matcher(head)
        if (mc.find()) (mc.group(1), "meta")
        else if (me.find()) (me.group(1), "meta")
        else ("UTF-8", "default")
    }
  }

  /** STRICT decode of one payload under a charset label: any malformed or
    * unmappable byte sequence — the mojibake case, Latin-1 bytes under a
    * UTF-8 label — quarantines to None instead of emitting replacement
    * garbage that would silently split content keys downstream.
    */
  private[graft] def decodeCharsetBytes(bytes: Array[Byte],
      label: String): Option[String] =
    try {
      val dec = java.nio.charset.Charset.forName(label).newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      Some(dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString)
    } catch { case _: Exception => None } // unknown label or malformed bytes

  /** Charset-aware payload decode (r17, verdict ask #2): the step between
    * [[decodeHttpBody]]'s transport decode and [[htmlToText]]. A
    * Latin-1/Windows-1252/Shift_JIS page read as UTF-8 becomes mojibake
    * that silently splits content keys, shingles, and SURT — the same
    * key-splitting class the NFC kernel closed for Unicode normal forms.
    * Charset resolution: HTTP header param, else HTML meta prescan
    * (first 1 KiB), else UTF-8; decode is STRICT (quarantine over
    * replacement garbage). Emits (id, text, charset, charset_src, ok).
    * Same narrow typed-mapPartitions codec class as the rest of the front
    * door: zero shuffle, scan speed.
    *
    * Legacy fallback (r18, verdict ask #2 — the WHATWG/browser ladder for
    * the UNDECLARED class only): when nothing declares a charset and the
    * strict UTF-8 attempt fails, the payload re-decodes as windows-1252 —
    * the browser default for legacy `text/html`, and a large real-web
    * class (undeclared Latin-1/cp1252 pages) that previously quarantined
    * SILENTLY. Provenance labels `default-1252` so the consumer can see
    * the ladder took the legacy step; declared-label strictness is
    * unchanged (a LYING label still quarantines — that's mojibake, not a
    * missing declaration). Divergence note: WHATWG's windows-1252 maps the
    * five undefined bytes (0x81/0x8D/0x8F/0x90/0x9D) to C1 controls; the
    * JDK decoder REPORTs on them, so such payloads quarantine here — they
    * are binary, not legacy text, and the strict choice keeps the
    * quarantine observable (q_charset_report) instead of minting control
    * characters into content keys.
    */
  def decodeCharset(df: DataFrame, idCol: String, bytesCol: String,
      ctypeCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast(LongType), col(bytesCol).cast(BinaryType),
        col(ctypeCol).cast(StringType))
      .as[(Long, Array[Byte], String)]
      .mapPartitions(_.map { case (id, bytes, ctype) =>
        if (bytes == null) (id, null.asInstanceOf[String],
          null.asInstanceOf[String], null.asInstanceOf[String], false)
        else {
          // WHATWG order: BOM first (authoritative, stripped from content),
          // then header, then meta prescan, then the UTF-8 default
          val (label, src, content) = detectBom(bytes) match {
            case Some((cs, n)) =>
              (cs, "bom", java.util.Arrays.copyOfRange(bytes, n, bytes.length))
            case None =>
              val (l, s) = resolveCharset(bytes, ctype)
              (l, s, bytes)
          }
          val (txt, effLabel, effSrc) = decodeCharsetBytes(content, label) match {
            case None if src == "default" =>
              (decodeCharsetBytes(content, "windows-1252"), "windows-1252",
                "default-1252")
            case t => (t, label, src)
          }
          txt match {
            case Some(t) =>
              val canon = java.nio.charset.Charset.forName(effLabel)
                .name().toLowerCase(java.util.Locale.ROOT)
              (id, t, canon, effSrc, true)
            case None => (id, null.asInstanceOf[String],
              null.asInstanceOf[String], effSrc, false)
          }
        }
      }).toDF(idCol, "text", "charset", "charset_src", "ok")
  }

  /** Deterministic charset fixture (r17): per doc, the page serializes
    * under one of five charset arms keyed on c = doc_id % 5 — UTF-8
    * declared in the header / ISO-8859-1 in the header / windows-1252
    * declared ONLY by `<meta charset>` (bare `text/html` header; the €
    * at 0x80 distinguishes cp1252 from Latin-1) / Shift_JIS declared by
    * `<meta http-equiv>` / UNDECLARED UTF-8 (the default arm, with a
    * multibyte ✓ so the default actually decodes multibyte) — plus the
    * MOJIBAKE arm (`doc_id % 29 == 7`: Latin-1 bytes under a UTF-8 header
    * label, the classic silent corruption) and an unknown-label arm
    * (`doc_id % 31 == 11`: `charset=x-graft-unknown`), both of which must
    * quarantine. Doc text rides only the arms whose charset can encode
    * anything (UTF-8); the others carry fixed repertoire-safe content.
    * Emits BINARY `body` + the `content_type` header value.
    */
  def withCharsetHttp(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast(LongType), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        def page(meta: String, content: String) =
          s"<html><head>$meta</head><body><p>Doc $id $content</p></body></html>"
        val (bytes, ctype) =
          if (id % 29 == 7)
            (page("", "café mojibake").getBytes("ISO-8859-1"),
              "text/html; charset=UTF-8")
          else if (id % 31 == 11)
            (page("", "opaque").getBytes("US-ASCII"),
              "text/html; charset=x-graft-unknown")
          else if (id % 37 == 13)
            // UTF-16LE page whose BOM survives a proxy that slapped a LYING
            // charset=UTF-8 header on it — the BOM must win (WHATWG step 1)
            (Array(0xFF.toByte, 0xFE.toByte) ++
              page("", "utf16 page ✓").getBytes("UTF-16LE"),
              "text/html; charset=UTF-8")
          else if (id % 41 == 17)
            // UTF-8 with BOM, nothing else declared — provenance must read
            // 'bom', not 'default', and the mark must strip from content
            (Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
              page("", "bom page €").getBytes("UTF-8"), "text/html")
          else if (id % 47 == 19)
            // UNDECLARED cp1252 (r18, verdict ask #2): bare text/html, no
            // BOM/meta, bytes invalid as UTF-8 (é/Ü/€) — the WHATWG legacy
            // ladder must DECODE this via the windows-1252 fallback
            // (provenance `default-1252`); before r18 it dropped silently
            (page("", "legacy café Ümlaut €99").getBytes("windows-1252"),
              "text/html")
          else (id % 5) match {
            case 0 => (page("", s"$text café № Ümlaut 日本語").getBytes("UTF-8"),
              "text/html; charset=UTF-8")
            case 1 => (page("", "café Ümlaut ±°").getBytes("ISO-8859-1"),
              "text/html; charset=ISO-8859-1")
            case 2 => (page("<meta charset=\"windows-1252\">",
              "café Ümlaut €99").getBytes("windows-1252"), "text/html")
            case 3 => (page(
              "<meta http-equiv=\"Content-Type\" content=\"text/html; charset=Shift_JIS\">",
              "日本語テキスト 円").getBytes("Shift_JIS"), "text/html")
            case _ => (page("", s"$text ✓").getBytes("UTF-8"), "text/html")
          }
        (id, bytes, ctype)
      }).toDF("doc_id", "body", "content_type")
  }

  /** The dedup-consequence fixture (r17): every doc serves the SAME
    * logical page twice — once UTF-8 with the charset in the header, once
    * windows-1252 declared only by `<meta charset>` (the meta tag is the
    * only html difference, and tag-stripping erases it) — so charset-aware
    * decode must fold each pair onto ONE extracted-text content key. Under
    * a UTF-8-assuming reader the cp1252 é/Ü/€ bytes decode to mojibake (or
    * quarantine) and the pair silently splits — the exact key-splitting
    * class the NFC kernel closed for Unicode normal forms. Variant row id
    * = doc_id·2 + v.
    */
  def withCharsetVariants(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast(LongType)).as[Long]
      .mapPartitions(_.flatMap { id =>
        def page(meta: String) =
          s"<html><head>$meta</head><body><p>Shared doc $id café Ümlaut €</p></body></html>"
        Iterator(
          (id * 2, page("").getBytes("UTF-8"), "text/html; charset=UTF-8"),
          (id * 2 + 1,
            page("<meta charset=\"windows-1252\">").getBytes("windows-1252"),
            "text/html"))
      }).toDF("rid", "body", "content_type")
  }

  /** Deterministic encoded-HTTP fixture (r17): each page's HTML body
    * re-serializes under the transport codings real crawls store, keyed on
    * e = doc_id % 5 — identity / gzip / chunked∘gzip (Transfer-Encoding
    * outermost: the gzip entity is what gets chunked) / deflate (zlib) /
    * chunked-only — with a corrupt-gzip arm (`doc_id % 23 == 9`: flipped
    * magic byte under a `gzip` header) that must quarantine, never emit
    * binary garbage as text. Emits BINARY `body` plus the declared
    * `transfer_encoding` / `content_encoding` header values and the
    * `enc` arm label. Narrow mapPartitions; the binary column is born
    * distributed.
    */
  def withEncodedHttp(docsWithHtml: DataFrame): DataFrame = {
    import docsWithHtml.sparkSession.implicits._
    docsWithHtml.select(col("doc_id").cast(LongType), col("html"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, html) =>
        val raw = html.getBytes("UTF-8")
        if (id % 23 == 9) {
          val g = gzipBytes(raw); g(0) = 0x00
          (id, g, null.asInstanceOf[String], "gzip", "corrupt")
        } else if (id % 43 == 21)
          // Transfer-Encoding LIST (RFC 9112: `TE: gzip, chunked`, chunked
          // required last on the wire) — removal must run the list in
          // reverse: dechunk, then gunzip as a TRANSFER coding
          (id, chunkBytes(gzipBytes(raw)), "gzip, chunked",
            null.asInstanceOf[String], "te-list")
        else (id % 5) match {
          case 0 => (id, raw, null.asInstanceOf[String],
            null.asInstanceOf[String], "identity")
          case 1 => (id, gzipBytes(raw), null.asInstanceOf[String], "gzip", "gzip")
          case 2 => (id, chunkBytes(gzipBytes(raw)), "chunked", "gzip",
            "chunked+gzip")
          case 3 => (id, deflateBytes(raw), null.asInstanceOf[String],
            "deflate", "deflate")
          case _ => (id, chunkBytes(raw), "chunked", null.asInstanceOf[String],
            "chunked")
        }
      }).toDF("doc_id", "body", "transfer_encoding", "content_encoding", "enc")
  }

  /** One length-framed record cut: the record's byte offset in the segment
    * (marker start), its WARC header text (ASCII, so it rides as String),
    * and its content block as [blockStart, blockEnd) offsets — cut at
    * EXACTLY `Content-Length` octets, never by marker scan, so payloads
    * containing the literal `WARC/1.0` marker bytes survive intact, and
    * BINARY payloads (gzip/deflate entity bodies) slice without a UTF-8
    * round-trip corrupting them.
    */
  private[graft] final case class WarcCutB(start: Int, hdr: String,
      blockStart: Int, blockEnd: Int)

  /** First index of `needle` in `hay` at or after `from` that ends by
    * `until`, or -1.
    */
  private def indexOfBytes(hay: Array[Byte], needle: Array[Byte], from: Int,
      until: Int): Int = {
    var i = math.max(from, 0)
    val last = until - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  /** needle present at EXACTLY `at` — O(|needle|), where an indexOf-based
    * equality check would scan the whole remaining buffer on a miss (r16
    * self-review).
    */
  private def matchesAt(hay: Array[Byte], needle: Array[Byte], at: Int): Boolean = {
    if (at < 0 || at + needle.length > hay.length) return false
    var j = 0
    while (j < needle.length && hay(at + j) == needle(j)) j += 1
    j == needle.length
  }

  /** The length-framed WARC walk (r16, verdict ask #1) over a segment's
    * UTF-8 octets — the actual WARC framing contract: find a `WARC/1.0`
    * marker, cut the header at the first blank line, read the header's
    * `Content-Length` claim, and take EXACTLY that many octets as the
    * record's content block. The marker scan is ONLY the resync path:
    * initial sync, recovery after a record whose trailing CRLF CRLF is
    * missing, and the fallback frame for a header that carries no
    * Content-Length (cut at the next marker, one trailing blank line
    * stripped — the old marker discipline, kept for resilience). A record
    * whose claim runs past the end of the segment is TRUNCATED — dropped,
    * and the walk stops (the claimed octets belong to it; nothing behind a
    * truncation is trustworthy). Byte-level on purpose: Content-Length
    * counts octets, not UTF-16 chars.
    */
  private[graft] def warcCutsB(bytes: Array[Byte]): Seq[WarcCutB] = {
    val marker = "WARC/1.0\r\n".getBytes("UTF-8")
    val sep = "\r\n\r\n".getBytes("UTF-8")
    // line-anchored: a header VALUE quoting the words "Content-Length:"
    // must not frame the record (the column extraction below anchors the
    // same way, so claim and cut can never diverge)
    val clRe = "(?m)^Content-Length: ([0-9]+)".r
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcCutB]
    var cur = indexOfBytes(bytes, marker, 0, bytes.length)
    while (cur >= 0) {
      val hdrStart = cur + marker.length
      val hdrEnd = indexOfBytes(bytes, sep, hdrStart, bytes.length)
      if (hdrEnd < 0) cur = -1 // headerless tail: nothing parseable remains
      else {
        val hdr = new String(bytes, hdrStart, hdrEnd - hdrStart, "UTF-8")
        val blockStart = hdrEnd + sep.length
        // claim digits bounded to 18 (r17 advisor fix): a corrupt header
        // claiming ≥19 digits would overflow Long.parseLong and crash the
        // task; any such claim exceeds every real segment, so it takes the
        // same truncated-claim quarantine arm as an over-length claim
        clRe.findFirstMatchIn(hdr).map(_.group(1))
          .map(g => if (g.length <= 18) g.toLong else Long.MaxValue) match {
          case Some(n) if n <= bytes.length.toLong - blockStart =>
            val blockEnd = blockStart + n.toInt
            out += WarcCutB(cur, hdr, blockStart, blockEnd)
            // past the framed block: skip the record's trailing blank line
            // if present, then expect the next marker right there — scan
            // (resync) only when the framing discipline breaks
            val after = if (matchesAt(bytes, sep, blockEnd))
              blockEnd + sep.length else blockEnd
            cur = if (matchesAt(bytes, marker, after)) after
              else indexOfBytes(bytes, marker, after, bytes.length)
          case Some(_) => cur = -1 // truncated claim: quarantine, stop
          case None => // no Content-Length: marker-framed fallback
            val next = indexOfBytes(bytes, marker, blockStart, bytes.length)
            val rawEnd = if (next < 0) bytes.length else next
            val blockEnd = if (rawEnd - sep.length >= blockStart &&
              matchesAt(bytes, sep, rawEnd - sep.length))
              rawEnd - sep.length else rawEnd
            out += WarcCutB(cur, hdr, blockStart, blockEnd)
            cur = next
        }
      }
    }
    out.toSeq
  }

  /** First `(?m)^key([^\r\n]+)`-style header-field extraction over a WARC
    * header — the exact indexOf twin of
    * `regexp_extract(hdr, "(?m)^" + key + "([^\r\n]+)", 1)` (first
    * occurrence of the literal key at the start of a line followed by at
    * least one non-CRLF char; "" when absent), hoisted into the byte walk so
    * the record parse can branch on `WARC-Type` without a second pass over
    * the block (r19 optimization; guide §1.2 per-task work). The line anchor
    * keeps `X-WARC-Type: ` from answering for `WARC-Type: `.
    */
  private[graft] def hdrField(hdr: String, key: String): String = {
    def lineStart(i: Int) = i == 0 || "\n\r\u0085\u2028\u2029".indexOf(hdr.charAt(i - 1)) >= 0
    var m = hdr.indexOf(key)
    var value = ""
    while (m >= 0 && value.isEmpty) {
      val s = m + key.length
      var e = s
      while (e < hdr.length && hdr.charAt(e) != '\r' && hdr.charAt(e) != '\n') e += 1
      if (e > s && lineStart(m)) value = hdr.substring(s, e)
      else m = hdr.indexOf(key, m + 1) // no value or mid-line: keep searching
    }
    value
  }

  /** One record of [[warcWalk]]: its 1-based ordinal among the segment's
    * cuts, WARC header, `WARC-Type`, HTTP head ("" when the block takes no
    * split), the payload's [from, until) octets in the segment, and the
    * whole block's octet length.
    */
  private final case class WarcRec(pos: Int, hdr: String, recType: String,
      head: String, from: Int, until: Int, blockOctets: Long)

  /** The one record walk behind [[warcRecords]] and [[warcRecordsBin]]:
    * [[warcCutsB]]'s cuts, minus records without a `WARC-Type` header
    * (corrupt/undecodable members quarantine), each with its HTTP head split
    * off by ONE rule — a block that starts `HTTP/1.` and holds a CRLF CRLF
    * splits at the first one into head and payload; any other block (a
    * Heritrix `dns:` response, a head-only revisit, a WET conversion) is
    * all payload with an empty head. The split is found on the octets the
    * cut already holds, so each payload byte is walked once (r19
    * optimization). A NULL segment is zero records.
    */
  private def warcWalk(seg: Array[Byte]): Iterator[WarcRec] = {
    val httpMagic = "HTTP/1.".getBytes("US-ASCII")
    val sep = "\r\n\r\n".getBytes("US-ASCII")
    if (seg == null) Iterator.empty
    else warcCutsB(seg).iterator.zipWithIndex.flatMap { case (c, i) =>
      val recType = hdrField(c.hdr, "WARC-Type: ")
      if (recType.isEmpty) None
      else {
        // the magic holds no CR, so a separator found inside the block
        // lies past it: the whole head is inside the block
        val at = if (matchesAt(seg, httpMagic, c.blockStart))
          indexOfBytes(seg, sep, c.blockStart, c.blockEnd) else -1
        val head = if (at < 0) ""
          else new String(seg, c.blockStart, at - c.blockStart, "UTF-8")
        Some(WarcRec(i + 1, c.hdr, recType, head,
          if (at < 0) c.blockStart else at + sep.length, c.blockEnd,
          (c.blockEnd - c.blockStart).toLong))
      }
    }
  }

  /** The header columns both record readers share, from the walk's WARC
    * header (`__hdr`) and HTTP head (`__http`). Every field is NULL or ""
    * when absent, never an error: `content_length` only when the claim is
    * 1–18 digits, `http_status` only when the head's status line parses
    * (`HTTP/1.0` or `HTTP/1.1`, a space, three digits), and the HTTP fields
    * only on a record with a head. Every field name is anchored to the start
    * of a line, so `Content-Location:` never answers for `Location:`.
    */
  private def warcFields(recs: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    def hdr(field: String) = regexp_extract(col("__hdr"), "(?m)^" + field, 1)
    def head(field: String) = regexp_extract(col("__http"), "(?m)^" + field, 1)
    def headField(field: String) = nullif(head(field), lit(""))
    val claim = hdr("Content-Length: ([0-9]+)")
    val status = regexp_extract(col("__http"), "^HTTP/1\\.[01] ([0-9]{3})", 1)
    recs.select(col(idCol), col("rec_pos"), col("rec_type"),
      hdr("WARC-Target-URI: ([^\r\n]+)").as("target_uri"),
      hdr("WARC-Date: ([^\r\n]+)").as("warc_date"),
      when(length(claim).between(1, 18), claim.cast(LongType)).as("content_length"),
      col("block_octets"),
      when(status =!= "", status.cast(IntegerType)).as("http_status"),
      when(col("__http") =!= "", head("Content-Type: ([^;\r\n]+)")).as("mime"),
      // the FULL header value (parameters kept) — [[decodeCharset]] keys
      // on the charset parameter `mime` deliberately drops
      headField("Content-Type: ([^\r\n]+)").as("content_type_full"),
      // the redirect edge the chain resolver follows
      headField("Location: ([^\r\n]+)").as("http_location"),
      headField("Transfer-Encoding: ([^\r\n]+)").as("transfer_encoding"),
      headField("Content-Encoding: ([^\r\n]+)").as("content_encoding"),
      // revisit records: the refers-to edge and payload digest are the
      // container-level exact-dup signal
      nullif(hdr("WARC-Refers-To: <([^>]+)>"), lit("")).as("refers_to"),
      nullif(hdr("WARC-Payload-Digest: ([^\r\n]+)"), lit("")).as("payload_digest"),
      col(payloadCol))
  }

  /** Member byte bounds for `.warc.gz` serialization: the segment's UTF-8
    * octets cut at TRUE (length-framed) record boundaries,
    * concatenation-exact — any junk prefix before the first record rides as
    * its own member, a segment with no records at all is one member.
    * Replaces the r15 marker split, which would cut a member INSIDE a
    * payload that quotes the marker bytes. Bounds, not String slices (r19
    * optimization): the gzip writers compress straight from the octets,
    * skipping a per-member String decode + re-encode round trip.
    */
  private[graft] def warcMemberBounds(bytes: Array[Byte]): Seq[(Int, Int)] = {
    val starts = warcCutsB(bytes).map(_.start)
    if (starts.isEmpty) Seq((0, bytes.length))
    else {
      val bounds = (if (starts.head == 0) starts else 0 +: starts) :+ bytes.length
      bounds.sliding(2).map { case Seq(a, b) => (a, b) }.toSeq
    }
  }

  /** One gzip member over a byte range, byte-identical to
    * `GZIPOutputStream` (header 1f 8b 08 00 00000000 00 00, raw DEFLATE at
    * default level, CRC32 + ISIZE trailer) but with the `Deflater` REUSED
    * across members (r19 optimization): `Deflater` init allocates zlib's
    * ~256 KiB native state per instance, and the member-per-record layout
    * paid that per RECORD in the writer's hot loop. `reset()` restores the
    * exact initial state, so the compressed octets are unchanged.
    */
  private[graft] def gzipMemberRange(bytes: Array[Byte], from: Int, until: Int,
      d: java.util.zip.Deflater, crc: java.util.zip.CRC32,
      buf: Array[Byte]): Array[Byte] = {
    d.reset(); crc.reset()
    crc.update(bytes, from, until - from)
    d.setInput(bytes, from, until - from)
    d.finish()
    val bos = new java.io.ByteArrayOutputStream(64 + (until - from) / 2)
    // header matches GZIPOutputStream byte-for-byte: magic, CM=8, FLG=0,
    // MTIME=0, XFL=0, OS=0xff ("unknown" — the JDK's value since JDK 16,
    // JDK-8244706; older JDKs write 0, so the byte parity with
    // GZIPOutputStream holds on JDK ≥ 16 only — readers ignore the OS byte)
    bos.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0xff.toByte), 0, 10)
    while (!d.finished()) {
      val n = d.deflate(buf)
      if (n > 0) bos.write(buf, 0, n)
    }
    val c = crc.getValue
    val isize = (until - from).toLong & 0xffffffffL
    bos.write(Array[Byte](
      (c & 0xff).toByte, ((c >> 8) & 0xff).toByte,
      ((c >> 16) & 0xff).toByte, ((c >> 24) & 0xff).toByte,
      (isize & 0xff).toByte, ((isize >> 8) & 0xff).toByte,
      ((isize >> 16) & 0xff).toByte, ((isize >> 24) & 0xff).toByte), 0, 8)
    bos.toByteArray
  }

  /** The task's one raw Deflater, `end()`ed when the task completes so its
    * zlib native state is freed then, not whenever the GC's cleaner runs.
    */
  private def taskDeflater(): java.util.zip.Deflater = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => d.end()))
    d
  }

  /** Shared writer core for [[withWarcGz]] / [[gzipWarcRecords]]: segment →
    * concatenated member-per-record gzip, one reused Deflater per task.
    */
  private def gzipMembersOf(warc: String, d: java.util.zip.Deflater,
      crc: java.util.zip.CRC32, buf: Array[Byte]): Array[Array[Byte]] = {
    val bytes = warc.getBytes("UTF-8")
    warcMemberBounds(bytes).map { case (a, b) =>
      gzipMemberRange(bytes, a, b, d, crc, buf)
    }.toArray
  }

  /** Serialize WARC segments as REAL `.warc.gz` payloads — each record
    * gzips as its OWN member and members concatenate, the Common Crawl
    * layout (member-per-record is what makes range reads into a petabyte
    * dump possible). Member boundaries come from the LENGTH-FRAMED walk
    * ([[warcMemberBounds]]), so a payload quoting the marker bytes still
    * serializes as one member. Corruption arms: a segment carrying no
    * record (the `corrupt-member:` fixture docs) emits a single member
    * with a FLIPPED gzip magic (undecodable from byte 0); `doc_id % 89 ==
    * 88` docs flip the THIRD member's magic instead — the
    * garbled-tail-member shape, which must lose ONLY the records behind
    * the corruption. Narrow mapPartitions, binary column born distributed.
    */
  def withWarcGz(df: DataFrame, idCol: String, warcCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast(LongType), col(warcCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        // one Deflater per task, not per member (see gzipMemberRange)
        val d = taskDeflater()
        val crc = new java.util.zip.CRC32
        val buf = new Array[Byte](65536)
        it.map { case (id, warc) =>
          val members = gzipMembersOf(warc, d, crc, buf)
          if (!warc.startsWith("WARC/1.0") && members.nonEmpty) members(0)(0) = 0x00
          else if (id % 89 == 88 && members.length >= 3) members(2)(0) = 0x00
          (id, members.flatten)
        }
      }.toDF(idCol, "warc_gz")
  }

  /** PRODUCTION `.warc.gz` writer (r16): member-per-record gzip at true
    * (length-framed) record boundaries, NO corruption arms — the form the
    * WET sink uses to land curated text in the Common Crawl layout
    * ([[withWarcGz]] is the fixture twin that adds the corruption arms on
    * top of the same slicing). Narrow mapPartitions; the binary column is
    * born distributed.
    */
  def gzipWarcRecords(df: DataFrame, idCol: String, warcCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast(LongType), col(warcCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        // one Deflater per task, not per member (see gzipMemberRange)
        val d = taskDeflater()
        val crc = new java.util.zip.CRC32
        val buf = new Array[Byte](65536)
        it.map { case (id, warc) => (id, gzipMembersOf(warc, d, crc, buf).flatten) }
      }.toDF(idCol, "warc_gz")
  }

  /** Decode a multi-member gzip payload to text — the `.warc.gz` reader,
    * [[gunzipLenient]] per row: a garbled next-member header ends the walk,
    * and a member whose DEFLATE data corrupts MID-STREAM keeps the prefix
    * decoded so far (r16 advisor fix — previously the whole payload was
    * discarded, contradicting the quarantine contract). Either way a
    * corrupted tail member loses exactly the records behind it; a payload
    * garbled from byte 0 decodes to the empty string (zero records).
    * Narrow mapPartitions at scan speed — pair with [[warcRecords]].
    */
  def gunzipWarc(df: DataFrame, idCol: String, gzCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast(LongType), col(gzCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => (id, gunzipLenient(bytes)) })
      .toDF(idCol, "warc")
  }

  /** Most octets one decode inflates: per member in [[gzipMemberOctets]],
    * per payload in the whole-payload readers, per body in [[inflateStrict]].
    * 64 MiB clears the largest single document these lanes are specified to
    * carry (sitemaps.org caps an uncompressed sitemap at 50 MB), while a
    * decompression bomb (DEFLATE reaches ~1032:1: 64 KiB of zeros claims the
    * whole cap) stops here instead of growing a task's heap without bound.
    */
  private[graft] final val MaxInflatedOctets: Int = 64 << 20

  /** The one inflate loop behind every gzip and deflate reader: inflates
    * `inf`'s input into `out` (and `crc`, when given) until the DEFLATE
    * stream ends. False when cut short: corrupt data, input that ran out, or
    * `out` passing [[MaxInflatedOctets]] (the cut keeps exactly the cap).
    */
  private def inflateInto(inf: java.util.zip.Inflater, buf: Array[Byte],
      out: java.io.ByteArrayOutputStream, crc: java.util.zip.CRC32): Boolean =
    try {
      while (!inf.finished()) {
        val room = MaxInflatedOctets - out.size
        // one octet past the room tells "over the cap" from "ends at it"
        val n = inf.inflate(buf, 0, math.min(buf.length, room + 1))
        if (n == 0 && !inf.finished()) return false // input ran out: truncated
        out.write(buf, 0, math.min(n, room))
        if (crc != null) crc.update(buf, 0, math.min(n, room))
        if (n > room) return false
      }
      true
    } catch { case _: java.util.zip.DataFormatException => false }

  /** The one gzip decoder: a walk over the members of a concatenated-gzip
    * payload, one member per `next` (r17, verdict ask #4): the header (magic,
    * CM = 8, optional FEXTRA/FNAME/FCOMMENT, FHCRC checked against the
    * header's CRC32), the raw DEFLATE data through [[inflateInto]], then the
    * CRC32 + ISIZE trailer. The walk ends when:
    *   - a header is garbled or truncated (before the first member, that is
    *     zero members; after one, a junk tail);
    *   - 18 octets or fewer follow a complete member: no member fits in
    *     fewer than 20, so the tail is junk, left unread as the JDK does;
    *   - a member is cut short (corrupt or truncated DEFLATE data, a lying
    *     trailer, or `out` reaching [[MaxInflatedOctets]]): it keeps the
    *     octets it decoded, and the members behind it are lost.
    * One `Inflater`, CRC32 and buffer per walk, reset per member (r19); the
    * `Inflater` is `end()`ed as the walk ends, an exception included.
    */
  private final class GzipWalk(bytes: Array[Byte]) {
    private var off = 0
    private var ended = bytes == null // NULL payload = zero members
    private var members = 0
    private var cutShort = false
    private var inf: java.util.zip.Inflater = null
    private val crc = new java.util.zip.CRC32()
    private val buf = new Array[Byte](65536)

    /** True when at least one member decoded and none was cut short. */
    def whole: Boolean = members > 0 && !cutShort

    /** Inflates the next member into `out`; false once the walk has ended. */
    def next(out: java.io.ByteArrayOutputStream): Boolean = {
      var read = false
      try read = !ended && member(out)
      finally if (ended || !read) { ended = true; if (inf != null) inf.end() }
      read
    }

    private def member(out: java.io.ByteArrayOutputStream): Boolean = {
      val data = if (members > 0 && bytes.length - off <= 18) -1 else header(off)
      if (data < 0) { ended = true; return false }
      if (inf == null) inf = new java.util.zip.Inflater(true) else inf.reset()
      crc.reset()
      inf.setInput(bytes, data, bytes.length - data)
      val start = out.size
      val inflated = inflateInto(inf, buf, out, crc)
      val t = data + inf.getBytesRead.toInt // the 8-octet trailer
      members += 1
      cutShort = !(inflated && t + 8 <= bytes.length &&
        le32(t) == crc.getValue && le32(t + 4) == out.size - start)
      ended = cutShort
      off = t + 8
      true
    }

    /** Offset of the member's DEFLATE data; -1 for a garbled or truncated header. */
    private def header(o: Int): Int = {
      val n = bytes.length
      if (o + 10 > n || bytes(o) != 0x1f.toByte || bytes(o + 1) != 0x8b.toByte ||
        bytes(o + 2) != 8.toByte) return -1
      val flg = bytes(o + 3) & 0xff
      var p = o + 10
      if ((flg & 4) != 0) { // FEXTRA: a 2-octet length, then that many octets
        if (p + 2 > n) return -1
        p += 2 + le16(p)
      }
      for (f <- Seq(8, 16) if (flg & f) != 0) { // FNAME, FCOMMENT: zero-terminated
        while (p < n && bytes(p) != 0) p += 1
        p += 1
      }
      if ((flg & 2) != 0) { // FHCRC
        if (p + 2 > n) return -1
        crc.reset(); crc.update(bytes, o, p - o)
        if ((crc.getValue & 0xffff) != le16(p)) return -1
        p += 2
      }
      if (p > n) -1 else p
    }

    private def le16(p: Int): Int = (bytes(p) & 0xff) | (bytes(p + 1) & 0xff) << 8
    private def le32(p: Int): Long = le16(p) | le16(p + 2).toLong << 16
  }

  /** Every member's octets, concatenated (at most [[MaxInflatedOctets]] in
    * all: the walk fills one `out`), and whether at least one member decoded
    * and none was cut short.
    */
  private[graft] def gunzipAll(bytes: Array[Byte]): (Array[Byte], Boolean) = {
    val out = new java.io.ByteArrayOutputStream()
    val walk = new GzipWalk(bytes)
    while (walk.next(out)) ()
    (out.toByteArray, walk.whole)
  }

  /** The lenient decode both text readers share: every member's octets,
    * decoded as UTF-8 once; a cut-short member keeps its decoded prefix.
    */
  private[graft] def gunzipLenient(bytes: Array[Byte]): String =
    new String(gunzipAll(bytes)._1, "UTF-8")

  /** Each member's decoded octets, lazily ([[GzipWalk]]): peak memory is one
    * member of at most [[MaxInflatedOctets]]; a cut-short member is yielded
    * with the octets it decoded, and ends the walk.
    */
  private[graft] def gzipMemberOctets(bytes: Array[Byte]): Iterator[Array[Byte]] = {
    val walk = new GzipWalk(bytes)
    Iterator.continually(new java.io.ByteArrayOutputStream())
      .takeWhile(walk.next).map(_.toByteArray)
  }

  /** [[gzipMemberOctets]] as text, each member decoded as UTF-8. */
  private[graft] def gzipMemberIterator(bytes: Array[Byte]): Iterator[String] =
    gzipMemberOctets(bytes).map(new String(_, "UTF-8"))

  /** The BOUNDED-MEMORY `.warc.gz` reader (r17, verdict ask #4): one row
    * per decoded MEMBER (1-based `member_idx`, member text) from the lazy
    * per-member walk — peak task memory is one member (one record, under
    * the member-per-record layout [[gzipWarcRecords]] writes) instead of
    * one file: a Common Crawl `.warc.gz` row is ~1 GiB whose whole-payload
    * decode ([[gunzipWarc]]) materializes gigabytes per task.
    * Record-parse parity with the whole-payload path is gated:
    * q_warc_gz_members shares q_warc_gz_parse's oracle. Narrow
    * flatMap-of-iterator over mapPartitions — the laziness survives into
    * the task, no per-row materialization of the full file.
    */
  def gunzipWarcMembers(df: DataFrame, idCol: String, gzCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast(LongType), col(gzCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        gzipMemberIterator(bytes).zipWithIndex.map { case (t, i) => (id, i + 1, t) }
      }).toDF(idCol, "member_idx", "member")
  }

  /** Parse WARC segments into one row per record, LENGTH-FRAMED (r16): the
    * record walk ([[warcWalk]] over [[warcCutsB]]) frames each record by
    * its header's `Content-Length` octet claim — the WARC contract — with
    * the marker scan demoted to the resync path, so a response payload that
    * QUOTES the `WARC/1.0` marker bytes (a crawled mirror of a WARC file, a
    * page citing WARC text — guaranteed at Common Crawl scale) rides
    * through as payload instead of shattering into phantom records.
    *
    * The text view of [[warcRecordsBin]]: the same walk over the segment's
    * UTF-8 octets, the payload decoded as UTF-8 in the same typed pass, and
    * the same header columns. One head-split rule for every record type: a
    * block that starts `HTTP/1.` and holds a CRLF CRLF splits into HTTP
    * head and payload; any other block is all payload and gets NULL status,
    * mime and HTTP fields (so a head-only or non-HTTP block drops out of
    * every `http_status === 200` filter). Hostile input never fails the
    * query: a NULL segment and records without a `WARC-Type` header
    * (corrupt/undecodable members) yield zero rows, and a status line that
    * does not parse gives a NULL `http_status`.
    *
    * Spark shape: a narrow typed mapPartitions walk (byte-exact codec work,
    * the [[gunzipWarc]] class) emits (id, rec_pos, header, head, payload);
    * every field extraction after it is a PER-ROW codegen'd string
    * expression, and fields a consumer does not select are pruned. One
    * segment per task row, no shuffle anywhere — record extraction is
    * embarrassingly parallel and the downstream pipeline
    * (HTML→text→quality→dedup) decides what shuffles.
    *
    * Emits: doc_id, rec_pos (1-based record ordinal within the segment),
    * rec_type, target_uri, warc_date, content_length (the header's claim),
    * block_octets (the PARSED block's actual octet length — equal by
    * construction whenever the claim framed the cut; they diverge only on
    * the claim-less fallback path), http_status, mime (parameters dropped),
    * content_type_full, http_location, transfer_encoding, content_encoding,
    * refers_to, payload_digest, payload.
    */
  def warcRecords(df: DataFrame, segCol: String): DataFrame = {
    import df.sparkSession.implicits._
    warcFields(df.select(col("doc_id").cast(LongType), col(segCol).cast(StringType))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, seg) =>
        val bytes = if (seg == null) null else seg.getBytes("UTF-8")
        warcWalk(bytes).map(r => (id, r.pos, r.hdr, r.recType, r.head,
          new String(bytes, r.from, r.until - r.from, "UTF-8"), r.blockOctets))
      }).toDF("doc_id", "rec_pos", "__hdr", "rec_type", "__http", "payload",
        "block_octets"), "doc_id", "payload")
  }

  /** [[warcRecords]] over a BINARY segment column (r17): the same record
    * walk, head-split rule, header columns and quarantines, but the HTTP
    * entity body stays BYTES end to end (`payload_bin`) — a gzip payload
    * sliced through a String would corrupt before [[decodeHttpBody]] could
    * run on the `transfer_encoding` / `content_encoding` headers it keys
    * on.
    */
  def warcRecordsBin(df: DataFrame, idCol: String, segCol: String): DataFrame = {
    import df.sparkSession.implicits._
    warcFields(df.select(col(idCol).cast(LongType), col(segCol).cast(BinaryType))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, seg) =>
        warcWalk(seg).map(r => (id, r.pos, r.hdr, r.recType, r.head,
          java.util.Arrays.copyOfRange(seg, r.from, r.until), r.blockOctets))
      }).toDF(idCol, "rec_pos", "__hdr", "rec_type", "__http", "payload_bin",
        "block_octets"), idCol, "payload_bin")
  }

  /** The cp1252-only paragraph the charset arm appends — en dash (0x96),
    * é/Ü (latin range), € (0x80, absent from Latin-1): bytes a
    * UTF-8-assuming reader cannot decode, so the arm is vacuous-proof.
    * Public so the oracle restates it verbatim.
    */
  val cp1252Marker: String = "<p>résumé café – Ümlaut €99</p>"

  /** STRICT charset encode (r18 advisor fix): `String.getBytes(cs)`
    * silently substitutes '?' for unencodable characters — a non-cp1252
    * code point in fixture doc text would make the Spark lane emit '?'
    * while the oracle restates the original, a hash divergence surfacing
    * only at untested scale factors. A REPORT-action encoder fails loudly
    * instead.
    */
  private[graft] def encodeStrict(s: String, charset: String): Array[Byte] = {
    val bb = java.nio.charset.Charset.forName(charset).newEncoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      .encode(java.nio.CharBuffer.wrap(s))
    val out = new Array[Byte](bb.remaining())
    bb.get(out)
    out
  }

  /** Serialize (doc_id, url, html) as a BINARY WARC response record whose
    * HTTP entity body carries the transport codings real crawls store
    * (r17, verdict ask #1): e = doc_id % 5 keys identity / gzip /
    * chunked∘gzip / deflate / chunked arms (the [[withEncodedHttp]]
    * family), `doc_id % 23 == 9` plants a corrupt gzip body under a `gzip`
    * header. Content-Length counts the WIRE octets (head + encoded body) —
    * the real container contract a text-typed fixture cannot express,
    * since gzip octets are not valid UTF-8. Narrow mapPartitions; binary
    * column born distributed.
    */
  def withWarcBin(docsWithHtml: DataFrame): DataFrame = {
    import docsWithHtml.sparkSession.implicits._
    docsWithHtml.select(col("doc_id").cast(LongType), col("url"), col("html"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, url, html0) =>
        // charset arm (id % 7 == 5, corrupt arm excluded): the page gains
        // a cp1252-only paragraph and serializes under windows-1252 with
        // the charset declared in the HTTP header — composing with the
        // transport arms below (the codecs wrap whatever octets the
        // charset produced)
        val charsetArm = id % 7 == 5 && id % 23 != 9
        val html = if (charsetArm) html0 + cp1252Marker else html0
        val cs = if (charsetArm) "windows-1252" else "UTF-8"
        val raw = encodeStrict(html, cs)
        val (body, te, ce) =
          if (id % 23 == 9) { val g = gzipBytes(raw); g(0) = 0x00; (g, null, "gzip") }
          else (id % 5) match {
            case 0 => (raw, null, null)
            case 1 => (gzipBytes(raw), null, "gzip")
            case 2 => (chunkBytes(gzipBytes(raw)), "chunked", "gzip")
            case 3 => (deflateBytes(raw), null, "deflate")
            case _ => (chunkBytes(raw), "chunked", null)
          }
        val head = "HTTP/1.1 200 OK" + CRLF +
          s"Content-Type: text/html; charset=$cs" + CRLF +
          Option(te).map(t => s"Transfer-Encoding: $t" + CRLF).getOrElse("") +
          Option(ce).map(c => s"Content-Encoding: $c" + CRLF).getOrElse("") +
          CRLF
        val headB = head.getBytes("US-ASCII")
        val date = "2024-%02d-%02dT%02d:15:00Z".format(
          id % 12 + 1, id % 28 + 1, id % 24)
        val hdr = ("WARC/1.0" + CRLF + "WARC-Type: response" + CRLF +
          s"WARC-Target-URI: $url" + CRLF +
          s"WARC-Record-ID: <urn:graft:$id-3>" + CRLF +
          s"WARC-Date: $date" + CRLF +
          "Content-Type: application/http;msgtype=response" + CRLF +
          s"Content-Length: ${headB.length + body.length}" + CRLF + CRLF)
          .getBytes("US-ASCII")
        val bos = new java.io.ByteArrayOutputStream(
          hdr.length + headB.length + body.length + 4)
        bos.write(hdr); bos.write(headB); bos.write(body)
        bos.write((CRLF + CRLF).getBytes("US-ASCII"))
        (id, bos.toByteArray)
      }).toDF("doc_id", "warc_bin")
  }

  // ------------------------------------------------------------------
  // robots.txt compliance (r15)
  // ------------------------------------------------------------------

  /** Lowercased host of a URL (userinfo and port stripped, `www.` folded)
    * — the robots-scope key: the `host` [[canonicalize]] keys on, without
    * its malformed-URL guard ("" when the URL does not parse).
    */
  def hostOf(url: Column): Column = urlParts(url).getField("host")

  /** Path of a URL with trailing slashes collapsed, empty → `/` — the
    * robots match subject, the same path [[canonicalize]] keys on.
    */
  def pathOf(url: Column): Column = urlParts(url).getField("path")

  /** The canonical-URL key as a single column EXPRESSION (r16) — the
    * `url_canon` [[canonicalize]] lands, NULL on a malformed URL, for call
    * sites that need a canonical key over a second URL column in the same
    * frame (redirect edges canonicalize BOTH endpoints).
    */
  def urlCanonOf(url: Column): Column = urlParts(url).getField("url_canon")

  /** Resolve redirect chains over a canonical-key edge set with a BOUNDED
    * iteration of joins (r16, verdict ask #2 — the pageRank BSP idiom):
    * starting from every edge source, follow (src → dst) up to `maxHops`
    * times, freezing a chain when its head has no outgoing edge (settled)
    * or its next hop is already on the visited path (loop — cycle-safe by
    * construction, the path array is bounded by maxHops). Chains still
    * active after `maxHops` report `exhausted` — at crawl scale a bounded
    * hop budget is the contract (real crawlers cap at ~5), never an
    * unbounded convergence loop.
    *
    * Edges are made functional first (min dst per src — a crawl can
    * legitimately record two fetches of one URL with different Locations;
    * the deterministic pick keeps both engines aligned). Scale: each hop
    * is one equi-join of the live chain frame against the edge set, keyed
    * on the chain head; the edge set is redirect-sized (≪ corpus), the
    * chain frame never exceeds the redirect count, and maxHops bounds the
    * plan depth — no corpus-sized shuffle anywhere.
    */
  def resolveRedirectChains(edges: DataFrame, maxHops: Int): DataFrame = {
    // localCheckpoint (lazy): the edge frame is referenced maxHops+1 times
    // downstream — without the lineage cut, an upstream synthesis/canon
    // expression tree re-inlines into every hop join (the pageRank and r15
    // CollapseProject lessons; uncut, the hashAgg output projection blew
    // past janino's method limit and fell back interpreted)
    val e = edges.filter(col("src").isNotNull && col("dst").isNotNull)
      .groupBy("src").agg(min(col("dst")).as("dst"))
      .localCheckpoint(false)
    var state = e.select(col("src").as("start"), col("src").as("cur"),
      lit(0).cast(LongType).as("hops"), array(col("src")).as("__path"),
      lit("active").as("status"))
    for (_ <- 1 to maxHops) {
      val step = state.join(e.withColumnRenamed("src", "cur"), Seq("cur"), "left")
      val advances = col("status") === "active" && col("dst").isNotNull
      state = step.select(
        col("start"),
        when(advances, col("dst")).otherwise(col("cur")).as("cur"),
        when(advances, col("hops") + 1).otherwise(col("hops")).as("hops"),
        when(advances, array_append(col("__path"), col("dst")))
          .otherwise(col("__path")).as("__path"),
        when(col("status") =!= "active", col("status"))
          .when(col("dst").isNull, lit("settled"))
          .when(array_contains(col("__path"), col("dst")), lit("loop"))
          .otherwise(lit("active")).as("status"))
    }
    state.select(col("start").as("src"), col("cur").as("final_url"), col("hops"),
      when(col("status") === "active", lit("exhausted"))
        .otherwise(col("status")).as("status"))
  }

  /** RFC 9309 §2.2.3 path-pattern match: `*` matches any octet sequence
    * and a TRAILING `$` anchors the end of the path; all other characters
    * are literal (an inner `$` is literal). Patterns without
    * metacharacters take the codegen'd `startsWith` fast path; pattern
    * rows carrying `*`/`$` translate to an anchored regex per row
    * (regex-escaped literals, `*` → `.*` — the translation produces only
    * RE2∩Java-safe constructs, so the DuckDB dual restates it verbatim).
    */
  def robotsPathMatches(path: Column, pattern: Column): Column = {
    val anchored = pattern.endsWith("$")
    val body = when(anchored, pattern.substr(lit(1), length(pattern) - 1))
      .otherwise(pattern)
    val esc = Seq("\\", ".", "+", "?", "(", ")", "[", "]", "{", "}", "|", "^", "$")
      .foldLeft(body)((c, ch) => replace(c, lit(ch), lit("\\" + ch)))
    val re = concat(lit("^"), replace(esc, lit("*"), lit(".*")),
      when(anchored, lit("$")).otherwise(lit("")))
    when(pattern.contains("*") || anchored, regexp_like(path, re))
      .otherwise(path.startsWith(pattern))
  }

  /** Deterministic robots.txt fixture per host: a comment line, a `*`
    * group exercising longest-match (`/articles/1` vs `/articles/12`),
    * the Allow-wins-tie rule (`/articles/3` both ways), an RFC 9309
    * wildcard pattern (star-4 after the articles prefix) and an
    * end-anchored one (`/articles/7` + `$`),
    * an ignored `Crawl-delay`, and per-host variants keyed on the host's
    * digit (news host → 7): even hosts add a `graftbot` group
    * (`Disallow: /` overridden by `Allow: /articles/` — the classic
    * partial-access pattern), host 3 adds a STACKED user-agent group
    * (graftbot+newsbot sharing one rule block), host 5 adds an
    * empty-Disallow group (REP: empty pattern matches nothing = allow
    * all).
    */
  def robotsTxt(host: Column): Column = {
    val g = coalesce(nullif(regexp_extract(host, "([0-9])", 1), lit("")), lit("7"))
      .cast(IntegerType)
    concat(
      lit("Sitemap: https://"), host, lit("/sitemap.xml\n"),
      when(g === 7, concat(lit("Sitemap: https://"), host,
        lit("/news-sitemap.xml\n"))).otherwise(lit("")),
      lit("# graft robots fixture\nUser-agent: *\nDisallow: /private/\n" +
        "Allow: /private/ok/\nDisallow: /articles/1\nAllow: /articles/12\n" +
        "Disallow: /articles/3\nAllow: /articles/3\n" +
        "Disallow: /articles/*4\nDisallow: /articles/7$\nCrawl-delay: 5\n"),
      when(g % 2 === 0,
        lit("User-agent: graftbot\nDisallow: /\nAllow: /articles/\nCrawl-delay: 2\n"))
        .otherwise(lit("")),
      when(g === 3,
        lit("User-agent: graftbot\nUser-agent: newsbot\nDisallow: /articles/2\n"))
        .otherwise(lit("")),
      when(g === 5, lit("User-agent: emptybot\nDisallow:\n")).otherwise(lit("")),
      // r16 (advisor): a DECLARED group whose lines are all unknown
      // directives — RFC 9309: a matched group with no rules means
      // allow-all, NOT fallback to `*`; presence must come from the UA
      // lines, which this arm puts under the gate
      when(g === 1, lit("User-agent: delayonly\nCrawl-delay: 9\n"))
        .otherwise(lit("")))
  }

  /** Parse robots.txt bodies into one rule row per (host, agent, rule):
    * lines split and trimmed, comments/blanks dropped, `key: value` cut at
    * the first colon, only `user-agent`/`allow`/`disallow` kept (REP:
    * unknown directives like Crawl-delay are ignored by the access-control
    * parser). Group assembly is the REP run rule — a run of consecutive
    * User-agent lines opens a group owning every rule line until the next
    * run — computed with one lag + running sum window per host, then rules
    * join their group's agents (a stacked-UA group emits one row per
    * agent). Unknown directives are TRANSPARENT to run detection (two
    * User-agent lines separated only by a Crawl-delay still stack into one
    * group) — the google/robotstxt reference parser's behavior, where only
    * allow/disallow rules terminate a user-agent run; pinned by spec.
    *
    * Scale: robots bodies are KBs per host; the window partitions by host
    * (bounded partitions, no skew possible) and the output is a few rows
    * per host — the canonical broadcast side of [[robotsDecisions]].
    */
  def robotsRules(df: DataFrame, hostCol: String, robotsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = df.select(col(hostCol).as("host"),
        posexplode(split(col(robotsCol), "\n")).as(Seq("ln", "line")))
      .withColumn("line", trim(col("line")))
      .filter(col("line") =!= "" && !col("line").startsWith("#"))
      .withColumn("key", lower(trim(regexp_extract(col("line"), "^([^:]+):", 1))))
      .withColumn("value", trim(regexp_extract(col("line"), "^[^:]+:(.*)$", 1)))
      .filter(col("key").isin("user-agent", "allow", "disallow"))
    val w = Window.partitionBy("host").orderBy("ln")
    val marked = lines
      .withColumn("is_ua", col("key") === "user-agent")
      .withColumn("blk", sum(
        when(col("is_ua") && !coalesce(lag(col("is_ua"), 1).over(w), lit(false)), 1)
          .otherwise(0)).over(w))
    val agents = marked.filter(col("is_ua"))
      .select(col("host"), col("blk"), lower(col("value")).as("agent"))
    marked.filter(!col("is_ua"))
      .select(col("host"), col("blk"), col("key").as("directive"),
        col("value").as("prefix"), col("ln"))
      .join(agents, Seq("host", "blk"))
      .select("host", "agent", "directive", "prefix", "ln")
  }

  /** Crawl-allowance decisions for `agent` over pages (doc_id, host, path):
    * REP group selection first (a host that names the agent uses ONLY that
    * group; otherwise the `*` group), empty rule patterns dropped (match
    * nothing), then prefix match against the path with Google-REP
    * precedence — longest matched pattern wins, Allow wins length ties —
    * and no matching rule means allowed.
    *
    * Spark shape: the rules side is tiny (a few rows per host) and rides
    * BROADCAST joins; the per-page fan-out is bounded by that host's rule
    * count, and the winner window partitions by doc_id (bounded rows per
    * page). At 100 TB: millions of hosts × ~10 rules still broadcasts at
    * ~100 MB, else the same plan shuffle-joins on host — page rows never
    * fan out beyond their own host's rules either way.
    */
  def robotsDecisions(pages: DataFrame, rules: DataFrame, agent: String,
      groups: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r16 (advisor): group PRESENCE comes from the declared UA lines
    // (robotsAgentGroups) when supplied — a declared group whose lines are
    // all unknown directives yields zero rule rows, and RFC 9309 says a
    // matched group with no rules means allow-all, not `*` fallback. The
    // rules-derived fallback remains for callers without a groups frame
    // (identical whenever every declared group carries at least one rule).
    val hasSpec = groups.getOrElse(rules).filter(col("agent") === agent)
      .select("host").distinct().withColumn("has_spec", lit(true))
    val chosen = rules.join(broadcast(hasSpec), Seq("host"), "left")
      .withColumn("has_spec", coalesce(col("has_spec"), lit(false)))
      .filter((col("has_spec") && col("agent") === agent) ||
        (!col("has_spec") && col("agent") === "*"))
      .filter(col("prefix") =!= "")
      .select("host", "directive", "prefix", "ln")
    val win = Window.partitionBy("doc_id")
      .orderBy(length(col("prefix")).desc, col("directive").asc, col("ln").asc)
    val winner = pages.join(broadcast(chosen), Seq("host"))
      .filter(robotsPathMatches(col("path"), col("prefix")))
      .withColumn("rn", row_number().over(win))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("directive").as("matched_directive"),
        col("prefix").as("matched_prefix"))
    pages.join(winner, Seq("doc_id"), "left")
      .withColumn("allowed",
        coalesce(col("matched_directive") === "allow", lit(true)))
  }

  /** Rule-table size above which [[robotsDecisionsForAuto]] flips from the
    * broadcast strategy to host-keyed shuffle joins (r16, verdict ask #6 —
    * the PSL caseChainMaxRules treatment): ~10 rules/host × millions of
    * hosts ≈ hundreds of MB, past any sane broadcast threshold; below it
    * the rule table rides the driver like every other host-granularity
    * artifact.
    */
  val robotsBroadcastMaxRules: Long = 1000000L

  /** [[robotsDecisions]] for SEVERAL agents in ONE pass: pages explode per
    * agent, group selection rides a per-host agent-set frame
    * (`array_contains` instead of a per-agent semi-join), and one winner
    * window partitions by (doc_id, agent). Identical decisions to the
    * per-agent form; k agents cost one plan instead of k — the per-agent
    * form rebuilds its broadcasts per call, which at local job-dispatch
    * prices dominates the (tiny) actual work. Group presence from the UA
    * lines when `groups` is supplied (r16 advisor — see
    * [[robotsDecisions]]).
    */
  def robotsDecisionsFor(pages: DataFrame, rules: DataFrame,
      agents: Seq[String], groups: Option[DataFrame] = None): DataFrame =
    robotsDecisionsImpl(pages, rules, agents, groups, b => broadcast(b))

  /** The SHUFFLE-JOIN strategy (r16, verdict ask #6): identical decisions
    * (gated: q_robots_join_parity shares q_robots_filter's oracle), but the
    * presence frame and the rule table join host-keyed shuffle-hash instead
    * of broadcasting — the plan for a rule table too large for the driver
    * (millions of hosts). Pages never fan out beyond their own host's
    * rules under either strategy; the shuffle carries the page frame once
    * per join instead of shipping the rules everywhere.
    */
  def robotsDecisionsForShuffled(pages: DataFrame, rules: DataFrame,
      agents: Seq[String], groups: Option[DataFrame] = None): DataFrame =
    robotsDecisionsImpl(pages, rules, agents, groups, b => b.hint("shuffle_hash"))

  /** Strategy dispatch by rule-table size (r16): callers that know the rule
    * count (the catalog of a landed rules artifact does) pick broadcast
    * below [[robotsBroadcastMaxRules]], shuffle at or above it.
    */
  def robotsDecisionsForAuto(pages: DataFrame, rules: DataFrame,
      agents: Seq[String], groups: Option[DataFrame], ruleCount: Long): DataFrame =
    if (ruleCount < robotsBroadcastMaxRules)
      robotsDecisionsFor(pages, rules, agents, groups)
    else robotsDecisionsForShuffled(pages, rules, agents, groups)

  /** Deterministic robots-FETCH-status fixture (r17): what the crawler's
    * own fetch of `/robots.txt` returned, per host — g==2 hosts answered
    * 503 (server error), g==4 hosts 404 (no robots.txt), g==5 hosts have
    * NO fetch record at all (never fetched), everyone else 200. One row
    * per host that HAS a record.
    */
  def robotsFetchStatuses(hosts: DataFrame): DataFrame = {
    val g = coalesce(nullif(regexp_extract(col("host"), "([0-9])", 1), lit("")),
      lit("7")).cast(IntegerType)
    hosts.withColumn("__g", g)
      .filter(col("__g") =!= 5)
      .withColumn("robots_status",
        when(col("__g") === 2, lit(503))
          .when(col("__g") === 4, lit(404))
          .otherwise(lit(200)))
      .drop("__g")
  }

  /** Crawl-allowance decisions keyed on the robots FETCH outcome (r17,
    * verdict ask #3 — RFC 9309 §2.3.1): a host whose robots.txt fetch
    * returned 5xx is UNREACHABLE and must be assumed complete-disallow; a
    * 4xx means no robots.txt exists — allow-all; only 2xx bodies are
    * parsed and the REP decision applies. Hosts with no fetch record at
    * all (never fetched) take the allow-all default of a missing
    * robots.txt; 1xx/3xx outcomes (a redirect chain that never landed)
    * also fall to allow-all, the Google-crawler treatment of redirect
    * errors. Non-parsed modes NULL the matched rule columns — no rule was
    * consulted.
    *
    * Spark shape: the status frame is host-granularity (one int per host)
    * and rides a broadcast join over [[robotsDecisionsFor]]'s output —
    * below [[robotsBroadcastMaxRules]] hosts; past it (10^8+ hosts at
    * corpus scale, the same driver-ceiling class as the rule table) the
    * hint drops and the join runs plain, AQE-sized (r18 advisor fix — the
    * hint was unconditional). The REP subplan's own joins are untouched,
    * so the gated parity with the status-less form holds wherever every
    * status is 2xx. Callers that know the landed status artifact's row
    * count pass it; the default 0 keeps the broadcast (the fixture shape).
    */
  def robotsDecisionsWithStatus(pages: DataFrame, rules: DataFrame,
      agents: Seq[String], groups: Option[DataFrame],
      statusByHost: DataFrame, statusHostCount: Long = 0L): DataFrame = {
    val status = statusByHost.select(col("host"), col("robots_status"))
    val side = if (statusHostCount < robotsBroadcastMaxRules) broadcast(status)
      else status
    robotsDecisionsFor(pages, rules, agents, groups)
      .join(side, Seq("host"), "left")
      .withColumn("robots_mode",
        when(col("robots_status").isNull, lit("absent"))
          .when(col("robots_status").between(200, 299), lit("parsed"))
          .when(col("robots_status").between(500, 599), lit("disallow_all"))
          .otherwise(lit("allow_all")))
      .withColumn("matched_prefix",
        when(col("robots_mode") === "parsed", col("matched_prefix")))
      .withColumn("matched_directive",
        when(col("robots_mode") === "parsed", col("matched_directive")))
      .withColumn("allowed",
        when(col("robots_mode") === "parsed", col("allowed"))
          .when(col("robots_mode") === "disallow_all", lit(false))
          .otherwise(lit(true)))
  }

  private def robotsDecisionsImpl(pages: DataFrame, rules: DataFrame,
      agents: Seq[String], groups: Option[DataFrame],
      side: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pagesA = pages.withColumn("agent", explode(typedlit(agents)))
    val present = groups.getOrElse(rules).groupBy("host")
      .agg(collect_set(col("agent")).as("__present"))
    val withEff = pagesA.join(side(present), Seq("host"), "left")
      .withColumn("__eff",
        when(array_contains(coalesce(col("__present"), typedlit(Seq.empty[String])),
          col("agent")), col("agent")).otherwise(lit("*")))
      .drop("__present")
    val rulesB = rules.filter(col("prefix") =!= "")
      .withColumnRenamed("agent", "__ragent")
    val matches = withEff.join(side(rulesB), Seq("host"))
      .filter(col("__ragent") === col("__eff") &&
        robotsPathMatches(col("path"), col("prefix")))
    val win = Window.partitionBy("doc_id", "agent")
      .orderBy(length(col("prefix")).desc, col("directive").asc, col("ln").asc)
    val winner = matches.withColumn("rn", row_number().over(win))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("agent"),
        col("directive").as("matched_directive"),
        col("prefix").as("matched_prefix"))
    pagesA.join(winner, Seq("doc_id", "agent"), "left")
      .withColumn("allowed",
        coalesce(col("matched_directive") === "allow", lit(true)))
  }

  /** Per-(host, agent) Crawl-delay extraction — the politeness knob
    * [[robotsRules]] deliberately ignores for access control. Group
    * assembly here runs over User-agent + Crawl-delay lines only, so a
    * delay attaches to the UA run it follows (the layout real sites emit:
    * delay after the group's rules). Known edge: a delay line BETWEEN two
    * stacked UA header lines attributes to the earlier run, where the
    * access-control parser merges the runs — header-interleaved delays do
    * not occur in practice and the divergence is documented rather than
    * engineered around. Crawl-delay is non-standard (ignored by Google,
    * honored by Yandex/Bing) — the scheduler treats it as advisory input.
    */
  def robotsCrawlDelays(df: DataFrame, hostCol: String, robotsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = df.select(col(hostCol).as("host"),
        posexplode(split(col(robotsCol), "\n")).as(Seq("ln", "line")))
      .withColumn("line", trim(col("line")))
      .filter(col("line") =!= "" && !col("line").startsWith("#"))
      .withColumn("key", lower(trim(regexp_extract(col("line"), "^([^:]+):", 1))))
      .withColumn("value", trim(regexp_extract(col("line"), "^[^:]+:(.*)$", 1)))
      .filter(col("key").isin("user-agent", "crawl-delay"))
    val w = Window.partitionBy("host").orderBy("ln")
    val marked = lines
      .withColumn("is_ua", col("key") === "user-agent")
      .withColumn("blk", sum(
        when(col("is_ua") && !coalesce(lag(col("is_ua"), 1).over(w), lit(false)), 1)
          .otherwise(0)).over(w))
    val agents = marked.filter(col("is_ua"))
      .select(col("host"), col("blk"), lower(col("value")).as("agent"))
    marked.filter(!col("is_ua"))
      // regex-guarded parse (ANSI cast throws on junk; the guard also IS
      // the value contract — plain non-negative decimals only, so the
      // DuckDB dual restates it instead of engine-specific TRY_CAST)
      .withColumn("delay_s", when(col("value").rlike("^[0-9]+(\\.[0-9]+)?$"),
        col("value").cast(DoubleType)))
      .filter(col("delay_s").isNotNull)
      .join(agents, Seq("host", "blk"))
      .select("host", "agent", "delay_s")
  }

  /** `Sitemap:` directives per host — REP's discovery hook. Sitemap lines
    * are GLOBAL (not group-scoped), so extraction is a plain line filter;
    * the URL keeps its case (REP: sitemap URLs are case-sensitive).
    */
  def robotsSitemaps(df: DataFrame, hostCol: String, robotsCol: String): DataFrame =
    df.select(col(hostCol).as("host"),
        posexplode(split(col(robotsCol), "\n")).as(Seq("ln", "line")))
      .withColumn("line", trim(col("line")))
      .filter(lower(col("line")).startsWith("sitemap:"))
      .select(col("host"), col("ln").cast(LongType).as("ln"),
        trim(regexp_extract(col("line"), "^[^:]+:(.*)$", 1)).as("sitemap_url"))

  /** The distinct UA groups declared per host — the group-presence frame
    * [[robotsCrawlDelays]]' consumers need for REP group exclusivity (a
    * group may exist with no delay; presence must come from the UA lines,
    * not from the delay rows).
    */
  def robotsAgentGroups(df: DataFrame, hostCol: String, robotsCol: String): DataFrame =
    df.select(col(hostCol).as("host"),
        posexplode(split(col(robotsCol), "\n")).as(Seq("ln", "line")))
      .withColumn("line", trim(col("line")))
      .filter(lower(col("line")).startsWith("user-agent:"))
      .select(col("host"),
        lower(trim(regexp_extract(col("line"), "^[^:]+:(.*)$", 1))).as("agent"))
      .distinct()

  // ------------------------------------------------------------------
  // sitemap discovery (r15)
  // ------------------------------------------------------------------

  /** Deterministic sitemaps.org XML fixture per host: hosts normally emit
    * a `urlset` of 3 + g%3 `url` entries — loc under `/articles/`,
    * OPTIONAL lastmod/changefreq/priority fields (present by entry-index
    * parity, so absence is under the gate), one loc wrapped in whitespace
    * (the spec requires trimming) and one carrying an entity-encoded
    * `&amp;` in its query — while host digit 4 emits a `sitemapindex` of
    * two child sitemap references instead (the nesting form real sites
    * use past 50k URLs).
    */
  def sitemapXml(host: Column): Column = {
    val g = coalesce(nullif(regexp_extract(host, "([0-9])", 1), lit("")), lit("7"))
      .cast(IntegerType)
    def entry(i: Int): Column = {
      val c = ((g * 13 + i * 7) % 100).cast(StringType)
      val loc = concat(lit("https://"), host, lit("/articles/"), c,
        when(lit(i) === 2, lit("?a=1&amp;b=2")).otherwise(lit("")))
      val locWrapped = when(lit(i) === 1, concat(lit("\n    "), loc, lit("  \n  ")))
        .otherwise(loc)
      val year = if (i == 0) "2025" else "2024" // i=0 post-dates every fetch
      val lastmod = when(lit(i) % 2 === 0,
        concat(lit("<lastmod>" + year + "-0"), ((g + i) % 9 + 1).cast(StringType),
          lit("-1"), lit((i % 9).toString), lit("</lastmod>"))).otherwise(lit(""))
      val cf = when(lit(i) % 3 === 0, lit("<changefreq>daily</changefreq>"))
        .otherwise(lit(""))
      val pr = when(lit(i) % 3 === 1,
        concat(lit("<priority>0."), lit(((i + 3) % 10).toString),
          lit("</priority>"))).otherwise(lit(""))
      when(lit(i) < g % 3 + 3,
        concat(lit("<url><loc>"), locWrapped, lit("</loc>"), lastmod, cf, pr,
          lit("</url>\n"))).otherwise(lit(""))
    }
    val urlset = concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
      entry(0), entry(1), entry(2), entry(3), entry(4), lit("</urlset>\n"))
    val index = concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
        "<sitemap><loc>https://"), host,
      lit("/sitemap-1.xml</loc><lastmod>2024-01-15</lastmod></sitemap>\n" +
        "<sitemap><loc>https://"), host,
      lit("/sitemap-2.xml</loc></sitemap>\n</sitemapindex>\n"))
    when(g === 4, index).otherwise(urlset)
  }

  /** [[gunzipWarc]] for STRING-keyed frames (r17): real sitemaps ship as
    * single-member `.xml.gz` keyed by host — same multi-member-tolerant,
    * prefix-keeping decode, the key column rides through untouched.
    */
  def gunzipStr(df: DataFrame, keyCol: String, gzCol: String,
      outCol: String): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(keyCol).cast(StringType), col(gzCol))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (k, bytes) => (k, gunzipLenient(bytes)) })
      .toDF(keyCol, outCol)
  }

  /** Serialize each host's sitemap XML as a real `.xml.gz` payload — the
    * form sitemaps.org sites actually publish (the 50 MB/50k-URL limits
    * apply to the UNCOMPRESSED file, so virtually every large site gzips).
    * Single gzip member per file; fixture twin of the WET/WARC gz writers.
    */
  def withSitemapGz(hostsWithXml: DataFrame, hostCol: String,
      xmlCol: String): DataFrame = {
    import hostsWithXml.sparkSession.implicits._
    hostsWithXml.select(col(hostCol).cast(StringType), col(xmlCol))
      .as[(String, String)]
      .mapPartitions(_.map { case (h, xml) => (h, gzipBytes(xml.getBytes("UTF-8"))) })
      .toDF(hostCol, "xml_gz")
  }

  /** A conditional-GET re-crawl of the same pages (r17): the crawler sent
    * If-Modified-Since / If-None-Match, and every fourth page (`doc_id %
    * 4 == 1`) answered `304 Not Modified` — a head-only response with an
    * EMPTY body (the server shipped nothing; the crawler's own prior
    * capture is the content). The rest refetched as full 200 responses.
    * Over [[withWarc]]'s 200-arm docs (404/301/corrupt arms excluded);
    * re-crawl ids/dates keyed on `doc_id + idOffset`. The consumer
    * (q_recrawl_304) must ADOPT the prior capture's content for 304 rows —
    * using the empty 304 body as content is the bug under gate.
    */
  def withWarcConditional(docsWithHtml: DataFrame, idOffset: Long): DataFrame = {
    val id = col("doc_id")
    val nid = id + lit(idOffset)
    val m = id % 11
    val is304 = id % 4 === 1
    val statusLine = when(is304, lit("304 Not Modified")).otherwise(lit("200 OK"))
    val body = when(is304, lit("")).otherwise(col("html"))
    val respBlock = concat(lit("HTTP/1.1 "), statusLine,
      lit(CRLF + "Content-Type: text/html; charset=UTF-8" + CRLF + CRLF), body)
    val rec = concat(
      lit("WARC/1.0" + CRLF + "WARC-Type: response" + CRLF +
        "WARC-Target-URI: "), col("url"),
      lit(CRLF + "WARC-Record-ID: <urn:graft:"), nid.cast(StringType),
      lit("-3>" + CRLF + "WARC-Date: "), warcDate(nid),
      lit(CRLF + "Content-Type: application/http;msgtype=response" + CRLF +
        "Content-Length: "), octet_length(respBlock).cast(StringType),
      lit(CRLF + CRLF), respBlock, lit(CRLF + CRLF))
    docsWithHtml.filter(m =!= 0 && m =!= 1 && id % 101 =!= 100)
      .select(nid.as("doc_id"), rec.as("warc"))
  }

  /** Parse sitemap XML into one row per entry: `urlset` documents yield
    * `url` entries, `sitemapindex` documents yield `sitemap` references
    * (the caller recurses on those — the two-level protocol). Per entry:
    * trimmed, `&amp;`-decoded loc; nullable lastmod / changefreq /
    * priority. Regex block extraction (non-greedy dotall) + narrow
    * per-row field pulls — the same explode-then-codegen shape as
    * [[warcRecords]]; zero shuffle, scan speed, and the DuckDB dual
    * restates it verbatim.
    */
  def sitemapEntries(df: DataFrame, hostCol: String, xmlCol: String): DataFrame = {
    val isIdx = col(xmlCol).contains("<sitemapindex")
    val blocks = when(isIdx,
      regexp_extract_all(col(xmlCol), lit("(?s)<sitemap>(.*?)</sitemap>"), lit(1)))
      .otherwise(
        regexp_extract_all(col(xmlCol), lit("(?s)<url>(.*?)</url>"), lit(1)))
    df.select(col(hostCol).as("host"), isIdx.as("__idx"),
        posexplode(blocks).as(Seq("seq", "__e")))
      .select(col("host"),
        when(col("__idx"), lit("sitemap")).otherwise(lit("url")).as("kind"),
        col("seq"),
        // regex trim, not trim(): both engines' trim() strips SPACES only,
        // and the spec requires full whitespace stripping around loc
        replace(regexp_replace(
            regexp_extract(col("__e"), "(?s)<loc>(.*?)</loc>", 1),
            "^\\s+|\\s+$", ""),
          lit("&amp;"), lit("&")).as("loc"),
        nullif(regexp_extract(col("__e"), "<lastmod>(.*?)</lastmod>", 1), lit(""))
          .as("lastmod"),
        nullif(regexp_extract(col("__e"), "<changefreq>(.*?)</changefreq>", 1),
          lit("")).as("changefreq"),
        nullif(regexp_extract(col("__e"), "<priority>(.*?)</priority>", 1), lit(""))
          .cast(DoubleType).as("priority"))
  }

  // ------------------------------------------------------------------
  // Bloom-guarded frontier novelty (r16)
  // ------------------------------------------------------------------

  /** Bloom-guarded novelty flags (r16, verdict ask #5): annotate candidate
    * rows with `bloom_pass` (all k of the key's md5-derived bit positions
    * set by the ledger — maybe-crawled) and `is_new` (truly absent from the
    * ledger), where the EXACT anti-join runs only over the bloom-pass
    * suspects — bloom-fail candidates are PROVABLY novel (no false
    * negatives, pass ⊇ truth) and skip the ledger shuffle entirely.
    *
    * This is the approximate-membership shape for the sitemap-frontier
    * novelty check at crawl scale: with ~10¹¹ crawled URLs in the ledger,
    * the unguarded anti-join shuffles every candidate against the full
    * page-granularity ledger; the bloom (a fixed m-bit broadcast built
    * once per crawl wave from the ledger) lets the typical sitemap wave —
    * mostly-novel URLs — resolve novelty at scan speed, sending only the
    * suspect minority (true re-listings + the fp rate's worth of noise)
    * into the exact join. False positives cost only wasted exact-join
    * work, never a wrong answer: the final `is_new` equals the plain
    * anti-join's on every row (gated: q_frontier_bloom against an exact
    * dual). Deterministic md5-derived positions (the [[graft.operators
    * .Sketches.bloomPruneStats]] hash) keep the PASS FLAG itself
    * oracle-checkable, fp count included.
    */
  private def bloomPosition(key: Column, i: Int, m: Int): Column = {
    import graft.operators.Sketches.h60
    pmod(h60(concat_ws(":", lit(i.toString), key)), lit(m.toLong))
  }

  /** The ledger's set-bit frame — the bloom filter AS AN ARTIFACT: built
    * once per crawl wave (one explode + distinct over the ledger) and
    * amortized across every frontier wave that probes it, exactly as a
    * production ledger maintains its membership sketch incrementally.
    * ≤ min(k·|ledger|, m) rows of one long.
    */
  def bloomBits(ledger: DataFrame, ledgerKey: String, m: Int, k: Int): DataFrame =
    ledger.select(explode(array(
      (0 until k).map(i => bloomPosition(col(ledgerKey), i, m)): _*)).as("pos"))
      .distinct()

  /** Bloom-guarded novelty flags (r16, verdict ask #5): annotate candidate
    * rows with `bloom_pass` (all k of the key's md5-derived bit positions
    * set by the ledger — maybe-crawled) and `is_new` (truly absent from the
    * ledger), where the EXACT anti-join runs only over the bloom-pass
    * suspects — bloom-fail candidates are PROVABLY novel (no false
    * negatives, pass ⊇ truth) and never touch the ledger exchange.
    *
    * Plan shape — the pass flag is NARROW: k broadcast hash probes per
    * candidate row against the (reused) bits broadcast, zero shuffle on
    * the candidate side (the first formulation's explode + groupBy +
    * join-back shuffled the full candidate set three times and measured
    * SLOWER than the unguarded join — SCALE.md r16). At crawl scale
    * (~10¹¹ ledger URLs) the row-set bits frame gives way to a real
    * bitset sketch with the same hash family; this form keeps the flag —
    * and therefore the false-positive count — oracle-checkable, and the
    * composition is identical. False positives cost only wasted exact-join
    * work, never a wrong answer: final `is_new` equals the plain
    * anti-join's on every row (gated: q_frontier_bloom).
    */
  def bloomNovelty(cands: DataFrame, candKey: String, ledger: DataFrame,
      ledgerKey: String, m: Int = 16384, k: Int = 3): DataFrame =
    bloomNoveltyWith(cands, candKey, ledger, ledgerKey,
      bloomBits(ledger, ledgerKey, m, k).localCheckpoint(false), m, k)

  /** [[bloomNovelty]] over a PREBUILT bits artifact (the amortized shape —
    * the probe times the wave without re-billing the filter build).
    */
  def bloomNoveltyWith(cands: DataFrame, candKey: String, ledger: DataFrame,
      ledgerKey: String, bits: DataFrame, m: Int, k: Int): DataFrame = {
    val probed = (0 until k).foldLeft(cands) { (df, i) =>
      df.join(broadcast(bits.select(col("pos").as(s"__p$i"))),
        bloomPosition(col(candKey), i, m) === col(s"__p$i"), "left")
    }
    val flagged = probed.withColumn("bloom_pass",
        (0 until k).map(i => col(s"__p$i").isNotNull).reduce(_ && _))
      .drop((0 until k).map(i => s"__p$i"): _*)
    noveltyBySuspects(flagged, candKey, ledger, ledgerKey)
  }

  /** The exact-check tail shared by the row-set and bitset bloom guards:
    * bloom-fail rows are novel by construction; the SUSPECT minority
    * semi-probes the ledger with the suspect-key set as the (small,
    * unhinted — AQE sizes it) build side, so the ledger SCANS but never
    * shuffles — the matched-key set that comes back is suspect-bounded and
    * joins back as the is_new flag. This is the shape that holds at a
    * 10^11-URL ledger in the mostly-novel regime the guard serves; a
    * mostly-CRAWLED wave makes the suspect set wave-sized, at which point
    * the guard should be skipped — [[noveltyAuto]] (r17) makes that
    * dispatch safe by default, keyed on the wave size.
    */
  private def noveltyBySuspects(flagged: DataFrame, candKey: String,
      ledger: DataFrame, ledgerKey: String): DataFrame = {
    // explicit broadcast on BOTH suspect-bounded frames: without the hint
    // the static planner SMJ-plans the semi join and the ledger's shuffle
    // WRITE lands before AQE can convert (probe r16: 40 MiB of pure ledger
    // exchange on a wave whose suspect set was 4 MB). The hint is safe in
    // the mostly-novel regime this guard serves — suspects = true
    // re-listings + the fp rate — and a mostly-crawled wave should skip
    // the guard entirely (see scaladoc).
    val suspectKeys = flagged.filter(col("bloom_pass"))
      .select(col(candKey).as("__sk")).distinct()
    val matched = ledger.join(broadcast(suspectKeys),
        col(ledgerKey) === col("__sk"), "left_semi")
      .select(col(ledgerKey).as("__mk")).distinct()
    val suspects = flagged.filter(col("bloom_pass"))
      .join(broadcast(matched), col(candKey) === col("__mk"), "left")
      .withColumn("is_new", col("__mk").isNull).drop("__mk")
    flagged.filter(!col("bloom_pass")).withColumn("is_new", lit(true))
      .unionByName(suspects)
  }

  /** The BITSET scale path (r16): the ledger builds a real
    * `spark.util.sketch.BloomFilter` (treeAggregate of partial bitsets —
    * 1 bit per position where the row-set form pays 64, so a 10⁸-key
    * ledger's filter is megabytes) and candidates probe it through a
    * narrow codegen'd expression — zero shuffle, zero join on the pass
    * flag. The sketch's Murmur3 hash is not cross-engine restatable, so
    * the md5 row-set twin ([[bloomNovelty]], gated by q_frontier_bloom)
    * carries the oracle and THIS form carries the scale; composition and
    * guarantees (pass ⊇ truth, is_new exact) are identical, spec-pinned
    * against the exact anti-join in WebSpec.
    */
  def bloomNoveltySketch(cands: DataFrame, candKey: String, ledger: DataFrame,
      ledgerKey: String, expectedItems: Long, fpp: Double): DataFrame =
    bloomNoveltySketchWith(cands, candKey, ledger, ledgerKey,
      bloomSketchOf(ledger, ledgerKey, expectedItems, fpp))

  /** Build the ledger's bitset sketch — the amortized per-wave artifact
    * (`DataFrameStatFunctions.bloomFilter`: treeAggregate of partial
    * bitsets OR-merged; the shuffle cost is the BUILD's, paid once per
    * ledger update, not per frontier wave).
    */
  def bloomSketchOf(ledger: DataFrame, ledgerKey: String, expectedItems: Long,
      fpp: Double): org.apache.spark.util.sketch.BloomFilter =
    ledger.stat.bloomFilter(ledgerKey, expectedItems, fpp)

  /** [[bloomNoveltySketch]] over a prebuilt sketch. */
  def bloomNoveltySketchWith(cands: DataFrame, candKey: String,
      ledger: DataFrame, ledgerKey: String,
      filter: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val flagged = cands.withColumn("bloom_pass",
      graft.expressions.GraftFunctions.bloomMightContain(col(candKey), filter))
    noveltyBySuspects(flagged, candKey, ledger, ledgerKey)
  }

  /** Wave size above which [[noveltyAuto]] skips the bloom guard entirely
    * (r17 advisor fix — the robotsBroadcastMaxRules treatment): the guard's
    * exact tail broadcast-hints the suspect-key and matched-key frames,
    * which is safe only while even the WORST-CASE suspect set (every
    * candidate a true re-listing) fits the driver. Past this bound the
    * plain anti-join is the right plan anyway — a mostly-crawled wave makes
    * the suspect set wave-sized and the guard pure overhead.
    */
  val noveltyGuardMaxCands: Long = 1000000L

  /** The UNGUARDED novelty path: one exact membership join, no bloom, no
    * broadcast hints (AQE sizes the sides). `bloom_pass` is NULL — no
    * filter was probed — so callers keep one schema across both strategies.
    */
  def exactNovelty(cands: DataFrame, candKey: String, ledger: DataFrame,
      ledgerKey: String): DataFrame = {
    val candKeys = cands.select(col(candKey).as("__sk")).distinct()
    val matched = ledger.join(candKeys, col(ledgerKey) === col("__sk"), "left_semi")
      .select(col(ledgerKey).as("__mk")).distinct()
    cands.withColumn("bloom_pass", lit(null).cast(BooleanType))
      .join(matched, col(candKey) === col("__mk"), "left")
      .withColumn("is_new", col("__mk").isNull).drop("__mk")
  }

  /** Strategy dispatch by wave size (r17 advisor fix): waves small enough
    * that the guard's suspect-bounded broadcasts are safe by construction
    * take the bitset-sketch fast path; larger waves run the plain exact
    * join — the guard's scaladoc contract ("a mostly-crawled wave should
    * skip the guard") made safe by default instead of left to the caller.
    * `is_new` is identical under both strategies (spec-pinned in WebSpec).
    */
  def noveltyAuto(cands: DataFrame, candKey: String, ledger: DataFrame,
      ledgerKey: String, candCount: Long, expectedItems: Long,
      fpp: Double): DataFrame =
    if (candCount < noveltyGuardMaxCands)
      bloomNoveltySketch(cands, candKey, ledger, ledgerKey, expectedItems, fpp)
    else exactNovelty(cands, candKey, ledger, ledgerKey)
}
