package graft
package suite

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.TextAnalysis

import SparkEntry.{documents, idHashSql}

/** The web family — web-crawl processing: URL canonicalization, HTML,
  * WARC/WET/WAT, robots, sitemaps and crawl scheduling. Each record is one
  * registered query, its Spark builder beside the DuckDB dual that defines
  * its correctness.
  */
object WebQueries {

  /** Session-cached REP rule table per sf dir — the robots analogue of the
    * pair indexes: a crawler parses each host's robots.txt ONCE and serves
    * every decision from the cached rules, so the landed-artifact contract
    * is the production shape, not a bench trick. The localCheckpoint also
    * cuts the FIXTURE-synthesis lineage: without it CollapseProject folds
    * the withUrls/robotsTxt construction into the distinct's Aggregate and
    * every downstream `host` reference re-inlines the whole expression
    * tree — the frontier plan printed 237 KB and the OPTIMIZER (not the
    * data) cost a flat ~3.8 s at every sf.
    */
  private def robotsRulesCached(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCompute(s, s"robots-rules:$dir") {
      val W = graft.operators.Web
      val hosts = W.withUrls(documents(s, dir))
        .select(W.hostOf(col("url")).as("host")).distinct()
      W.robotsRules(hosts.withColumn("robots", W.robotsTxt(col("host"))),
        "host", "robots").localCheckpoint(true)
    }

  /** Session-cached declared-UA-group frame (r16 advisor fix): decision
    * group PRESENCE must come from the User-agent lines, not from the rule
    * rows — a declared group whose lines are all unknown directives (the
    * fixture's `delayonly` group) has zero rule rows but still owns its
    * agent under RFC 9309 (matched group, no rules → allow-all).
    */
  private def robotsGroupsCached(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCompute(s, s"robots-groups:$dir") {
      val W = graft.operators.Web
      W.robotsAgentGroups(robotsHosts(s, dir)
          .withColumn("robots", W.robotsTxt(col("host"))), "host", "robots")
        .localCheckpoint(true)
    }

  /** The sitemap frontier with crawl-allowance and novelty flags —
    * (host, url, path, allowed, is_new) — the shared first half of
    * q_sitemap_frontier and q_crawl_schedule (r15 review: the chain was
    * duplicated; a fix to one copy could silently miss the other).
    * Decisions run on the SLIM (doc_id, host, path) frame — feeding a
    * canonicalized frame in would re-inline its large expression trees
    * into every decision branch (measured 3.8 s of flat optimizer time).
    * The novelty join against the page-granularity crawl ledger carries NO
    * broadcast hint (r15 review): unlike the host-granularity rules table
    * there is no size argument for it at 100 TB — AQE broadcasts it at
    * bench scale and shuffle-joins it at ledger scale.
    */
  private def sitemapFrontier(s: SparkSession, dir: String): DataFrame = {
    val W = graft.operators.Web
    val locs = W.sitemapEntries(robotsHosts(s, dir)
        .withColumn("xml", W.sitemapXml(col("host"))), "host", "xml")
      .filter(col("kind") === "url")
      .select(col("host"), col("loc").as("url"))
    val dec = W.robotsDecisionsFor(
        locs.select(col("url").as("doc_id"), col("host"),
          W.pathOf(col("url")).as("path")), robotsRulesCached(s, dir),
        Seq("graftbot"), Some(robotsGroupsCached(s, dir)))
      .select(col("doc_id").as("url"), col("host"), col("path"), col("allowed"))
    dec.join(crawledPagesCached(s, dir).withColumn("__crawled", lit(true)),
        Seq("host", "path"), "left")
      .withColumn("is_new", col("__crawled").isNull)
      .select("host", "url", "path", "allowed", "is_new")
  }

  /** Distinct hosts, derived from the cached crawl ledger (tiny,
    * lineage-free) — NOT from the rules table (r15 review: a host whose
    * robots.txt yields zero access rules would vanish from a rules-derived
    * universe, silently skipping its sitemap and delay resolution; the
    * DuckDB duals have always derived hosts from the corpus).
    */
  private def robotsHosts(s: SparkSession, dir: String): DataFrame =
    crawledPagesCached(s, dir).select("host").distinct()

  /** Session-cached crawl ledger — the distinct (host, path) set already in
    * the corpus. The novelty side of frontier seeding; in production this
    * IS a landed table (the crawl log), so the artifact contract is the
    * real shape and the fixture-synthesis lineage is cut like
    * [[robotsRulesCached]].
    */
  private def crawledPagesCached(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCompute(s, s"crawled-pages:$dir") {
      val W = graft.operators.Web
      W.withUrls(documents(s, dir))
        .select(W.hostOf(col("url")).as("host"), W.pathOf(col("url")).as("path"))
        .distinct().localCheckpoint(true)
    }

  /** Session-cached effective per-host Crawl-delay for the crawler agent,
    * with REP GROUP EXCLUSIVITY (r15 review): a host that has an
    * agent-specific UA group uses ONLY that group's delay (default 1 s if
    * the group declares none) — the `*` group's delay must not leak in,
    * exactly as the access parser selects groups. Hosts without the
    * agent's group fall back to `*`'s delay, else the default.
    */
  private def crawlDelayByHost(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCompute(s, s"crawl-delay:$dir") {
      val W = graft.operators.Web
      val hx = robotsHosts(s, dir).withColumn("robots", W.robotsTxt(col("host")))
      val delays = W.robotsCrawlDelays(hx, "host", "robots")
      val groups = W.robotsAgentGroups(hx, "host", "robots")
      val hasSpec = groups.filter(col("agent") === "graftbot")
        .select("host").distinct().withColumn("__has", lit(true))
      val spec = delays.filter(col("agent") === "graftbot")
        .groupBy("host").agg(min(col("delay_s")).as("__dspec"))
      val star = delays.filter(col("agent") === "*")
        .groupBy("host").agg(min(col("delay_s")).as("__dstar"))
      robotsHosts(s, dir)
        .join(hasSpec, Seq("host"), "left")
        .join(spec, Seq("host"), "left").join(star, Seq("host"), "left")
        .select(col("host"),
          when(coalesce(col("__has"), lit(false)),
            coalesce(col("__dspec"), lit(1.0)))
            .otherwise(coalesce(col("__dstar"), lit(1.0))).as("delay_s"))
        .localCheckpoint(true)
    }

  /** The domain-rank derivation (r17 ask #6, factored r18): page out-links
    * resolve (RFC 3986), both endpoints collapse to registrable domains,
    * self-edges drop, distinct domain edges feed 3-iteration decimal-exact
    * PageRank. q_domain_rank gates this derivation honestly uncached;
    * [[domainRankCached]] serves it to the scheduler as the landed
    * artifact it is in production.
    */
  private def domainRankFrame(s: SparkSession, dir: String): DataFrame = {
    val W = graft.operators.Web
    // r19: typed synthesis kernel (warc-free variant) — the html/url
    // synthesis tree no longer re-optimizes under the resolved/canon
    // checkpoints (OPTIMIZATION_r19.md), and the unused WARC segment is not built
    val h = W.synthPages(documents(s, dir))
    val links = h.select(col("doc_id"), col("url").as("page_url"),
      explode(W.extractLinks(col("html"))).as("href"))
    // localCheckpoint (lazy) on the RESOLVED frame too (r18 optimization):
    // the synthesis+resolveUrl tree stays out of the canonicalize projection
    // and of the union and joins after it; whether that still pays for the
    // copy is ROADMAP direction 7's measurement
    val resolved = links.select(col("doc_id"),
      W.resolveUrl(col("page_url"), col("href")).as("url"))
      .localCheckpoint(false)
    // r19 optimization: ONE canonicalize over the UNION of the page-URL
    // rows (side 0) and the resolved-link rows (side 1), then filter the
    // sides back out — one kernel projection and one checkpoint instead of
    // two. The checkpoint makes `domain` a plain column in both side
    // filters and the edge join, so the union's lineage is computed once
    // for both sides (ROADMAP direction 7 decides whether a planner barrier
    // can replace it).
    val canonBoth = W.canonicalize(
        h.select(col("doc_id"), col("url")).withColumn("__side", lit(0))
          .unionByName(resolved.withColumn("__side", lit(1))), "url")
      .select(col("doc_id"), col("__side"), col("domain"))
      .localCheckpoint(false)
    val dstD = canonBoth.filter(col("__side") === 1)
      .select(col("doc_id"), col("domain").as("dst"))
    val srcD = canonBoth.filter(col("__side") === 0)
      .select(col("doc_id"), col("domain").as("src"))
    val edges = srcD.join(dstD, Seq("doc_id"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .select("src", "dst").distinct()
      .localCheckpoint(false)
    graft.operators.Graph.pageRank(edges, "src", "dst", iterations = 3)
      .select(col("node").as("domain"), col("rank"))
  }

  /** Session-cached domain-rank table — the landed harvest-rank artifact
    * the frontier scheduler keys budgets on (r18's scheduler
    * composition; the eager localCheckpoint also cuts the synthesis
    * lineage like [[robotsRulesCached]]).
    */
  private def domainRankCached(s: SparkSession, dir: String): DataFrame =
    SessionCache.getOrCompute(s, s"domain-rank:$dir") {
      domainRankFrame(s, dir).localCheckpoint(true)
    }

  /** The synthetic crawl's WARC response records with HTTP status 200: the
    * pages every WARC/WET/WAT lane extracts from.
    */
  private def crawl200s(s: SparkSession, dir: String): DataFrame = {
    val W = graft.operators.Web
    W.warcRecords(W.synthCrawl(documents(s, dir)).select(col("doc_id"), col("warc")), "warc")
      .filter(col("rec_type") === "response" && col("http_status") === 200)
  }

  /** The PSL fixture hosts over the committed suffix list: `w<doc_id % 100>`
    * under suffix `doc_id % n`, every third one below a `sub.` label.
    */
  private def pslHosts(s: SparkSession, dir: String): DataFrame = {
    val n = graft.operators.Web.pslSuffixes.size
    val sufCol = element_at(typedlit(graft.operators.Web.pslSuffixes),
      (col("doc_id") % n).cast(IntegerType) + 1)
    documents(s, dir).select(col("doc_id"), concat(
      when(col("doc_id") % 3 === 0, lit("sub.")).otherwise(lit("")),
      lit("w"), (col("doc_id") % 100).cast(StringType), lit("."), sufCol).as("host"))
  }

  /** The crawl's 200-response pages converted to text and written as WET
    * conversion records: (doc_id, wet).
    */
  private def crawlWet(s: SparkSession, dir: String): DataFrame = {
    val W = graft.operators.Web
    val curated = crawl200s(s, dir).select(col("doc_id"), col("target_uri").as("url"),
      col("warc_date"), W.htmlToText(col("payload")).as("text"))
    W.toWet(curated, "doc_id", "url", "warc_date", "text").select(col("doc_id"), col("wet"))
  }

  /** The checked fields of parsed WET records, payload as md5. */
  private def wetRecordRows(recs: DataFrame): DataFrame =
    recs.select(col("doc_id"), col("rec_type"), col("target_uri"),
        col("warc_date"), col("refers_to"), col("content_length"),
        col("block_octets"), col("mime"), md5(col("payload")).as("payload_md5"))
      .orderBy("doc_id")

  /** The fixture pages as (doc_id, host, path): the robots decision input. */
  private def robotsPages(s: SparkSession, dir: String): DataFrame = {
    val W = graft.operators.Web
    W.withUrls(documents(s, dir))
      .select(col("doc_id"), W.hostOf(col("url")).as("host"), W.pathOf(col("url")).as("path"))
  }

  val queries: Seq[Query] = Seq(
    // --- URL / web-provenance family (r13) ---------------
    // canonical URL normalization as pure codegen'd string expressions over
    // a deterministic messy-URL fixture column (formula in Web.withUrls, the
    // oracle restates it verbatim): lowercase scheme+host, strip www./default
    // ports/fragments/tracking params, sort surviving params, collapse
    // trailing slashes; plus registrable domain (PSL-lite) and the SURT key.
    // Narrow projection — zero shuffle before the final ORDER BY.
    Query("q_url_canonicalize", (s, dir) =>
      graft.operators.Web.canonicalize(
        graft.operators.Web.withUrls(documents(s, dir)), "url")
        .select("doc_id", "url", "url_canon", "domain", "surt")
        .orderBy("doc_id"),
      s"""WITH $urlCtes
         | SELECT doc_id, url, url_canon, domain, surt FROM cn
         | ORDER BY doc_id""".stripMargin.replace("\n", "")),
    // URL-keyed exact dedup on the scheme-less SURT key: one hash shuffle,
    // survivor = min doc_id; n_distinct_canon separates true re-crawls from
    // the scheme/port variants SURT folds together (v0 http vs v1-3 https
    // collapse to one page; the :8080 variant stays its own page)
    Query("q_url_dedup", (s, dir) =>
      graft.operators.Web.urlDedup(
        graft.operators.Web.canonicalize(
          graft.operators.Web.withUrls(documents(s, dir)), "url"), "doc_id")
        .orderBy("surt"),
      s"""WITH $urlCtes
         | SELECT surt, COUNT(*) AS n_docs,
         |   CAST(COUNT(DISTINCT url_canon) AS BIGINT) AS n_distinct_canon,
         |   MIN(doc_id) AS keeper_id
         | FROM cn GROUP BY surt ORDER BY surt""".stripMargin.replace("\n", "")),
    // ...and the 100 TB shape of the same dedup, GATED (Web.scala documents
    // the swap as one line — this proves it): the group key rides as
    // xxhash64(surt) (8 bytes instead of the full string), the output drops
    // the key and is re-keyed by the deterministic keeper id — identical
    // clusters to the string-keyed run (collision probability ~n²/2⁶⁴),
    // which is exactly what the string-keyed oracle asserts
    Query("q_url_dedup_hashed", (s, dir) =>
      graft.operators.Web.canonicalize(
          graft.operators.Web.withUrls(documents(s, dir)), "url")
        .groupBy(xxhash64(col("surt")))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url_canon")).as("n_distinct_canon"),
          min(col("doc_id")).as("keeper_id"))
        .select("keeper_id", "n_docs", "n_distinct_canon")
        .orderBy("keeper_id"),
      // the hashed-key run must land on the STRING-keyed clusters: the dual
      // groups by surt itself and re-keys by the keeper id
      s"""WITH $urlCtes
         | SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_docs,
         |   CAST(COUNT(DISTINCT url_canon) AS BIGINT) AS n_distinct_canon
         | FROM cn GROUP BY surt ORDER BY keeper_id""".stripMargin.replace("\n", "")),
    // per-registrable-domain corpus report: docs, distinct pages, dup rate,
    // ws tokens — the per-domain budget table a mixture designer reads
    Query("q_domain_report", (s, dir) =>
      graft.operators.Web.domainReport(
        graft.operators.Web.canonicalize(
          graft.operators.Web.withUrls(documents(s, dir)), "url"), "text")
        .orderBy("domain"),
      s"""WITH $urlCtes
         | SELECT domain, COUNT(*) AS n_docs,
         |   CAST(COUNT(DISTINCT surt) AS BIGINT) AS n_pages,
         |   round(1.0 - CAST(COUNT(DISTINCT surt) AS DOUBLE) / COUNT(*), 6) AS dup_rate,
         |   CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'), w -> len(w) > 0))) AS BIGINT) AS total_tokens
         | FROM cn GROUP BY domain ORDER BY domain""".stripMargin.replace("\n", "")),
    // ...and the budget APPLIED (the consumer of q_domain_report): within
    // each registrable domain, docs rank by quality proxy (longer first,
    // doc_id tiebreak) and accumulate whitespace tokens; a doc is kept while
    // its running total fits the 2,000-token domain budget — the greedy
    // per-domain cap every mixture recipe executes. One exchange (the
    // domain window); the rank and the cumulative sum share it.
    Query("q_domain_budget", (s, dir) => {
      val c = graft.operators.Web.canonicalize(
        graft.operators.Web.withUrls(documents(s, dir)), "url")
        .select(col("doc_id"), col("domain"),
          TextAnalysis.wsTokens(col("text")).cast(LongType).as("ws_tokens"),
          col("n_chars"))
      val w = Window.partitionBy("domain")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      c.withColumn("rnk", row_number().over(w))
        .withColumn("cum_tokens",
          sum(col("ws_tokens")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("kept", col("cum_tokens") <= 2000L)
        .select("doc_id", "domain", "ws_tokens", "rnk", "cum_tokens", "kept")
        .orderBy("domain", "rnk")
    },
      // same domain window: rank by (n_chars DESC, doc_id), running token sum,
      // greedy 2,000-token budget cut
      ("WITH " + urlCtes + "," +
      """ d AS (SELECT doc_id, domain,
        |   CAST(len(list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0)) AS BIGINT) AS ws_tokens,
        |   (SELECT n_chars FROM documents dd WHERE dd.doc_id = cn.doc_id) AS n_chars
        |  FROM cn),
        | r AS (SELECT doc_id, domain, ws_tokens,
        |   CAST(row_number() OVER (PARTITION BY domain ORDER BY n_chars DESC, doc_id ASC) AS INTEGER) AS rnk,
        |   CAST(SUM(ws_tokens) OVER (PARTITION BY domain ORDER BY n_chars DESC, doc_id ASC
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM d)
        | SELECT doc_id, domain, ws_tokens, rnk, cum_tokens, cum_tokens <= 2000 AS kept
        | FROM r ORDER BY domain, rnk""".stripMargin.replace("\n", ""))),
    // HTML → text extraction (r13): the pipeline front. Deterministic full
    // pages (title/h1/script-with-bare-`<`/style/entities/two links) built
    // around each doc; the strip chain must drop script/style BLOCKS before
    // tags, decode entities after (&amp; last), and collapse whitespace —
    // every rule is in the hash gate. Scan-speed, zero data shuffle.
    Query("q_html_extract", (s, dir) => {
      val h = graft.operators.Web.withHtml(
        graft.operators.Web.withUrls(documents(s, dir)))
      h.select(col("doc_id"),
        graft.operators.Web.htmlToText(col("html")).as("text_clean"),
        size(graft.operators.Web.extractLinks(col("html"))).cast(LongType).as("n_links"))
        .orderBy("doc_id")
    },
      // strip chain restated with DuckDB's 'g' flag (global replace = Spark's
      // regexp_replace semantics); same block-before-tag order, same entity
      // order (&amp; last), same collapse+trim
      ("WITH " + htmlCtes + "," +
      """ s1 AS (SELECT doc_id, html, regexp_replace(html, '(?s)<script.*?</script>', ' ', 'g') AS t FROM h),
        | s2 AS (SELECT doc_id, html, regexp_replace(t, '(?s)<style.*?</style>', ' ', 'g') AS t FROM s1),
        | s3 AS (SELECT doc_id, html, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s2),
        | s4 AS (SELECT doc_id, html, replace(replace(replace(replace(replace(t,
        |   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t FROM s3)
        | SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS text_clean,
        |   CAST(len(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS BIGINT) AS n_links
        | FROM s4 ORDER BY doc_id""".stripMargin.replace("\n", ""))),
    // ...and the link graph out of the same pages: href extraction →
    // explode → RFC 3986 base resolution against the page URL (r14 — the
    // messy-href shapes: ../relative with dot-segment removal,
    // protocol-relative //host, absolute path with /./, userinfo) → the
    // SAME canonicalization chain as q_url_canonicalize — HTML parse, URL
    // resolution, normalization, and domain attribution composed
    Query("q_html_links", (s, dir) => {
      val h = graft.operators.Web.withHtml(
        graft.operators.Web.withUrls(documents(s, dir)))
      val links = h.select(col("doc_id"), col("text"), col("url").as("page_url"),
        explode(graft.operators.Web.extractLinks(col("html"))).as("href"))
      val resolved = links.select(col("doc_id"), col("text"), col("href"),
        graft.operators.Web.resolveUrl(col("page_url"), col("href")).as("url"))
      graft.operators.Web.canonicalize(resolved, "url")
        .select(col("doc_id"), col("href"), col("url").as("url_resolved"),
          col("url_canon"), col("domain"))
        .orderBy("doc_id", "href")
    },
      "WITH " + htmlCtes + "," + resolvedLinkCtes +
        " SELECT doc_id, href, url AS url_resolved, url_canon, domain FROM cn ORDER BY doc_id, href"),
    // DOMAIN RANK (r17): the harvest-rank stage every real
    // crawler runs between discovery and fetch — page out-links resolve
    // against their page URL (RFC 3986), both endpoints collapse to
    // REGISTRABLE DOMAINS (PSL), self-edges drop, distinct domain edges
    // feed 3-iteration PageRank with decimal-exact contribution sums (the
    // q_pagerank dual pattern; derivation factored into domainRankFrame,
    // with the localCheckpoint lineage cuts documented there). The rank
    // table is what the frontier scheduler keys its per-domain budgets on
    // — q_crawl_schedule_ranked (r18) consumes it via domainRankCached.
    // At corpus scale the edge set is domain-granularity (≪ pages) after
    // the distinct, so the iterated joins never touch page rows.
    Query("q_domain_rank", (s, dir) =>
      domainRankFrame(s, dir).orderBy("domain"),
      // domain rank: the q_html_links restatement collapsed to registrable-
      // domain edges (src domain from the host formula, self-edges dropped,
      // distinct) + the q_pagerank decimal-exact 3-iteration unroll
      domainRankDual),
    // ...and the same rank table derived from the WAT PANEL instead of the
    // raw pages (r17): metadata records serialize (with RESOLVED links),
    // parse back, and the domain graph builds from the WAT json — gated
    // against q_domain_rank's oracle VERBATIM. This is how a real pipeline
    // ranks domains (read the WAT artifact, not re-parse the WARC); the
    // parity proves the metadata panel is a faithful substrate for the
    // link graph, to the last decimal-exact rank.
    Query("q_domain_rank_wat", (s, dir) => {
      val W = graft.operators.Web
      val recs = crawl200s(s, dir)
      val meta = recs.select(col("doc_id"), col("target_uri").as("url"),
          col("warc_date"), col("http_status"), col("mime"), col("payload"))
        .withColumn("title",
          regexp_extract(col("payload"), "<title>(.*?)</title>", 1))
        .withColumn("links", transform(W.extractLinks(col("payload")),
          l => W.resolveUrl(col("url"), l)))
      // localCheckpoint (lazy): TWO consumers (src and dst domain chains)
      // would each re-run the full serialize∘parse WAT round-trip without
      // the cut (measured 3.9 s → ~2 s at bench; in production the WAT
      // panel IS a landed artifact read once)
      val wat = W.warcRecords(
          W.toWat(meta, "doc_id", "url", "warc_date", "http_status", "mime",
            "title", "links").select(col("doc_id"), col("wat")), "wat")
        .withColumn("j", from_json(col("payload"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "url STRING, status INT, mime STRING, title STRING, links ARRAY<STRING>")))
        .select(col("doc_id"), col("j.url").as("__wurl"), col("j.links").as("__wlinks"))
        .localCheckpoint(false)
      // r19 optimization (the domainRankFrame fix applied here too): ONE
      // canonicalize + checkpoint over the UNION of page-URL and link rows
      // instead of one per side. Same rows.
      val canonBoth = W.canonicalize(
          wat.select(col("doc_id"), col("__wurl").as("url"))
            .withColumn("__side", lit(0))
            .unionByName(wat.select(col("doc_id"),
              explode(col("__wlinks")).as("url")).withColumn("__side", lit(1))),
          "url")
        .select(col("doc_id"), col("__side"), col("domain"))
        .localCheckpoint(false)
      val dstD = canonBoth.filter(col("__side") === 1)
        .select(col("doc_id"), col("domain").as("dst"))
      val srcD = canonBoth.filter(col("__side") === 0)
        .select(col("doc_id"), col("domain").as("src"))
      val edges = srcD.join(dstD, Seq("doc_id"))
        .filter(col("src").isNotNull && col("dst").isNotNull &&
          col("src") =!= col("dst"))
        .select("src", "dst").distinct()
        .localCheckpoint(false)
      graft.operators.Graph.pageRank(edges, "src", "dst", iterations = 3)
        .select(col("node").as("domain"), col("rank"))
        .orderBy("domain")
    },
      // the WAT-panel rank shares the oracle verbatim: the metadata panel
      // is a faithful substrate for the link graph
      domainRankDual),
    // MAIN-CONTENT extraction (r18): htmlToText is a global
    // tag-strip, so nav/menu/footer/cookie chrome lands in extracted text
    // and pollutes every downstream operator. The block-level rules
    // (jusText/C4 family: word floor, link density < 1/2, terminal
    // punctuation with a long-block override) run over a chrome-heavy
    // fixture where EVERY rule demonstrably binds — nav and trending
    // sidebars die on density, cookie banners and "Read on." teasers on
    // the line rules, the footer's copyright tail on punctuation, while
    // the main paragraph and a long unpunctuated prose block survive.
    // Explode + codegen'd per-block features, one partial-aggregable
    // groupBy — no interpreted lambda on the per-block path.
    Query("q_main_content", (s, dir) => {
      val W = graft.operators.Web
      W.mainContent(W.withChromeHtml(documents(s, dir)), "doc_id", "html")
        .select(col("doc_id"), col("n_blocks"), col("n_kept"), col("main_toks"),
          md5(col("main_text")).as("text_md5"))
        .orderBy("doc_id")
    },
      // main-content extraction: the chrome fixture + block chain restated —
      // every keep/drop rule is under the hash gate per block arm
      ("WITH chsrc AS (SELECT doc_id, text, " + chromeHtmlSql +
      " AS html FROM documents)," +
      mainBlocksSql("chsrc", "doc_id", "html") +
      """ SELECT mid AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks,
        |   CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |   CAST(SUM(CASE WHEN kept THEN words ELSE 0 END) AS BIGINT) AS main_toks,
        |   md5(coalesce(string_agg(CASE WHEN kept THEN btext END, ' ' ORDER BY block_idx), '')) AS text_md5
        | FROM mblk GROUP BY mid ORDER BY doc_id""".stripMargin.replace("\n", ""))),
    // ...and the dedup CONSEQUENCE (the q_charset_dedup pattern, r18): two
    // pages per doc share IDENTICAL heavy chrome but carry shingle-disjoint
    // bodies — under global tag-strip the pair shares every chrome
    // 3-shingle and COLLIDES as near-duplicates (Jaccard ≥ 0.5); under
    // main-content extraction each page's text is its body alone and the
    // pair shares nothing (Jaccard 0). Both Jaccards are under the hash
    // gate, so the naive collision AND its structural fix are both proven.
    Query("q_main_content_dedup", (s, dir) => {
      val W = graft.operators.Web
      // localCheckpoint (lazy, r18 optimization): THREE consumers (the naive
      // shingle branch, the block extraction, and the id join-back) each
      // re-ran the chrome-variant synthesis and re-inlined its expression
      // tree without the cut
      val v = W.withChromeVariants(documents(s, dir)).localCheckpoint(false)
      val naive = v.select(col("doc_id"), col("v"),
        array_distinct(graft.operators.Dedup.shingles(
          W.htmlToText(col("html")), 3)).as("sh"))
      val mainT = W.mainContent(v, "rid", "html")
        .select(col("rid"), col("main_text"))
      val main = v.select(col("doc_id"), col("v"), col("rid"))
        .join(mainT, Seq("rid"))
        .select(col("doc_id"), col("v"),
          array_distinct(graft.operators.Dedup.shingles(col("main_text"), 3)).as("sh"))
      def jpair(df: DataFrame, out: String): DataFrame =
        df.filter(col("v") === 0).select(col("doc_id"), col("sh").as("__a"))
          .join(df.filter(col("v") === 1).select(col("doc_id"), col("sh").as("__b")),
            Seq("doc_id"))
          .select(col("doc_id"),
            round(size(array_intersect(col("__a"), col("__b"))).cast(DoubleType) /
              size(array_union(col("__a"), col("__b"))).cast(DoubleType), 6).as(out))
      jpair(naive, "naive_jaccard")
        .join(jpair(main, "main_jaccard"), Seq("doc_id"))
        .withColumn("naive_collides", col("naive_jaccard") >= 0.5)
        .withColumn("main_collides", col("main_jaccard") >= 0.5)
        .orderBy("doc_id")
    },
      // the chrome-dedup consequence: both Jaccards recomputed from the
      // variant construction — naive (global strip) collides on chrome
      // shingles, main (block rules) shares nothing
      ("WITH " + chromeVariantsCte + "," +
      mainBlocksSql("cv", "rid", "html") + "," +
      s""" mtx AS (SELECT mid AS rid,
         |   coalesce(string_agg(CASE WHEN kept THEN btext END, ' ' ORDER BY block_idx), '') AS mtext
         |  FROM mblk GROUP BY mid),
         | nsh AS (SELECT doc_id, v, ${shingleListSql(stripSql(
             "regexp_replace(regexp_replace(html, '(?s)<script.*?</script>', ' ', 'g'), '(?s)<style.*?</style>', ' ', 'g')"))} AS sh
         |  FROM cv),
         | msh AS (SELECT cv.doc_id AS doc_id, cv.v AS v, ${shingleListSql("mtext")} AS sh
         |  FROM cv JOIN mtx ON cv.rid = mtx.rid),
         | nj AS (SELECT a.doc_id AS doc_id,
         |   round(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
         |     CAST(len(list_distinct(list_cat(a.sh, b.sh))) AS DOUBLE), 6) AS naive_jaccard
         |  FROM nsh a JOIN nsh b ON a.doc_id = b.doc_id AND a.v = 0 AND b.v = 1),
         | mj AS (SELECT a.doc_id AS doc_id,
         |   round(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE) /
         |     CAST(len(list_distinct(list_cat(a.sh, b.sh))) AS DOUBLE), 6) AS main_jaccard
         |  FROM msh a JOIN msh b ON a.doc_id = b.doc_id AND a.v = 0 AND b.v = 1)
         | SELECT nj.doc_id AS doc_id, naive_jaccard, main_jaccard,
         |   (naive_jaccard >= 0.5) AS naive_collides,
         |   (main_jaccard >= 0.5) AS main_collides
         | FROM nj JOIN mj ON nj.doc_id = mj.doc_id ORDER BY doc_id""".stripMargin
        .replace("\n", ""))),
    // registrable-domain resolution against the COMMITTED PSL data file
    // (r14): a host fixture sweeping every listed
    // multi-label suffix (plus sub.-prefixed and 3-label-suffix variants,
    // so longest-suffix-wins is itself under the hash gate) through the
    // host kernel; the oracle regenerates the same longest-first CASE from
    // the same file
    Query("q_psl_domains", (s, dir) =>
      pslHosts(s, dir)
        .withColumn("registrable", graft.operators.Web.registrableDomain(col("host")))
        .orderBy("doc_id"),
      pslDomainsDual),
    // VIEW PARITY gate: the same hosts as `https://<host>/` URLs through
    // canonicalize, whose `domain` field is the URL kernel's PSL step, must
    // equal the host kernel's answers host-for-host — the dual is
    // q_psl_domains' CASE semantics verbatim. (The name predates the one
    // kernel: it pinned a broadcast-join strategy to the scan.)
    Query("q_psl_join_parity", (s, dir) =>
      graft.operators.Web.canonicalize(
          pslHosts(s, dir).withColumn("url", concat(lit("https://"), col("host"), lit("/"))),
          "url")
        .select(col("doc_id"), col("host"), col("domain").as("registrable"))
        .orderBy("doc_id"),
      pslDomainsDual),
    // PSL AT REAL SCALE (r15): a 500-rule list including the wildcard
    // (*.ck) and exception (!www.ck) rule forms the subset file lacks,
    // through the same kernel as the subset. Hosts exercise all ten shapes:
    // exact suffixes at every depth, wildcard hosts at and above the
    // registrable boundary, the exception host and its subdomain, unlisted
    // fallbacks, and a single-label host.
    Query("q_psl_scaled", (s, dir) => {
      val c = (col("doc_id") % 100).cast(StringType)
      val i = (col("doc_id") % 166).cast(StringType)
      val m = col("doc_id") % 10
      val host = when(m === 0, concat(lit("a"), c, lit(".co.t"), i))
        .when(m === 1, concat(lit("b.a"), c, lit(".org.t"), i))
        .when(m === 2, concat(lit("x"), c, lit(".t"), i))
        .when(m === 3, lit("www.ck"))
        .when(m === 4, lit("sub.www.ck"))
        .when(m === 5, concat(lit("a"), c, lit(".b"), c, lit(".ck")))
        .when(m === 6, concat(lit("d.a"), c, lit(".b"), c, lit(".ck")))
        .when(m === 7, lit("bare.example"))
        .when(m === 8, concat(lit("deep.x.y.unlisted"), c, lit(".zz")))
        .otherwise(lit("ck"))
      documents(s, dir).select(col("doc_id"), host.as("host"))
        .withColumn("registrable", graft.operators.Web.registrableDomain(col("host"),
          graft.operators.Web.pslScaledRules))
        .orderBy("doc_id")
    },
      // the 500-rule PSL fixture: rule table restated relationally (exact /
      // wildcard / exception with their prevailing order and public-suffix
      // lengths), candidate label-suffix explode, argmax by (exception,
      // rule labels), registrable cut at the winner's ps length — the same
      // PSL algorithm the kernel runs by label lookup
      s"""WITH rl AS (
         |   SELECT 't' || i AS key, 1 AS klab, 1 AS rlab, 1 AS pslab,
         |     false AS exc, false AS wild FROM range(0, 166) t(i)
         |   UNION ALL SELECT 'co.t' || i, 2, 2, 2, false, false FROM range(0, 166) t(i)
         |   UNION ALL SELECT 'org.t' || i, 2, 2, 2, false, false FROM range(0, 166) t(i)
         |   UNION ALL SELECT 'ck', 1, 2, 2, false, true
         |   UNION ALL SELECT 'www.ck', 2, 2, 1, true, false),
         | hx AS (SELECT doc_id,
         |   CASE WHEN doc_id % 10 = 0 THEN 'a' || (doc_id % 100) || '.co.t' || (doc_id % 166)
         |        WHEN doc_id % 10 = 1 THEN 'b.a' || (doc_id % 100) || '.org.t' || (doc_id % 166)
         |        WHEN doc_id % 10 = 2 THEN 'x' || (doc_id % 100) || '.t' || (doc_id % 166)
         |        WHEN doc_id % 10 = 3 THEN 'www.ck'
         |        WHEN doc_id % 10 = 4 THEN 'sub.www.ck'
         |        WHEN doc_id % 10 = 5 THEN 'a' || (doc_id % 100) || '.b' || (doc_id % 100) || '.ck'
         |        WHEN doc_id % 10 = 6 THEN 'd.a' || (doc_id % 100) || '.b' || (doc_id % 100) || '.ck'
         |        WHEN doc_id % 10 = 7 THEN 'bare.example'
         |        WHEN doc_id % 10 = 8 THEN 'deep.x.y.unlisted' || (doc_id % 100) || '.zz'
         |        ELSE 'ck' END AS host FROM documents),
         | lx AS (SELECT doc_id, host, string_split(host, '.') AS labels,
         |   len(string_split(host, '.')) AS hl FROM hx),
         | cand AS (SELECT doc_id, hl, kp,
         |   array_to_string(labels[CAST(hl - kp + 1 AS INTEGER):], '.') AS cnd
         |   FROM lx, unnest(range(1, hl + 1)) AS t(kp)),
         | m AS (SELECT c.doc_id, r.pslab, row_number() OVER (PARTITION BY c.doc_id
         |   ORDER BY r.exc DESC, r.rlab DESC, r.key) AS rn
         |   FROM cand c JOIN rl r ON c.cnd = r.key AND (NOT r.wild OR c.hl >= r.klab + 1)
         |     AND (r.exc OR r.wild OR c.kp < c.hl)),
         | w AS (SELECT doc_id, pslab FROM m WHERE rn = 1)
         | SELECT l.doc_id, l.host,
         |   CASE WHEN l.hl <= 2 THEN l.host
         |        WHEN w.pslab IS NULL THEN array_to_string(l.labels[-2:], '.')
         |        WHEN l.hl > w.pslab THEN
         |          array_to_string(l.labels[CAST(l.hl - w.pslab AS INTEGER):], '.')
         |        ELSE l.host END AS registrable
         | FROM lx l LEFT JOIN w USING (doc_id) ORDER BY doc_id""".stripMargin.replace("\n", "")),
    // WARC container front door (r15): serialize each doc's HTML page into
    // a real three-record WARC/1.0 segment (warcinfo + request + response,
    // CRLF framing, octet Content-Lengths, varying HTTP status, a 1-in-101
    // undecodable corrupt member), then PARSE it back — the oracle restates
    // the construction, so every row is a parse(serialize(x)) == x identity
    // (the codec-gate style): header fields, block framing (block_octets
    // must land exactly on the Content-Length claim), HTTP status/mime
    // split, and payload md5, with corrupt members yielding zero rows.
    Query("q_warc_parse", (s, dir) => {
      // embedMarker (r16): 200-arm docs with doc_id % 13 == 5 carry a QUOTED
      // fake WARC record inside the HTML body — the length-framed parser
      // must carry it through as payload (one record, octet-exact), where
      // the r15 marker-split parser shattered it into phantom records
      val w = graft.operators.Web.synthCrawl(documents(s, dir), embedMarker = true)
      graft.operators.Web.warcRecords(w.select(col("doc_id"), col("warc")), "warc")
        .select(col("doc_id"), col("rec_pos").cast(LongType).as("rec_pos"),
          col("rec_type"), col("target_uri"), col("warc_date"),
          col("content_length"), col("http_status"), col("mime"),
          col("block_octets"), md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id", "rec_pos")
    },
      // WARC parse: the construction restated — every row is a
      // parse(serialize(x)) == x identity (field-for-field, octet lengths,
      // payload md5), corrupt members absent from both sides
      warcRecordsDual(embed = true, respWhere = "")),
    // ...and the crawl pipeline composed on top: WARC records → keep
    // HTTP-200 responses only (404s, redirects, corrupt members drop) →
    // HTML→text strip chain + link count on the payload → URL
    // canonicalization + registrable domain on the WARC-Target-URI. The
    // complete web front door — container to curated text — in ONE plan:
    // scan-speed narrow ops end to end, zero shuffles before curation.
    Query("q_warc_pipeline", (s, dir) => {
      val W = graft.operators.Web
      val recs = crawl200s(s, dir)
      val ext = recs.select(col("doc_id"), col("target_uri").as("url"),
          col("payload"))
        .withColumn("text_clean", W.htmlToText(col("payload")))
        .withColumn("n_links", size(W.extractLinks(col("payload"))).cast(LongType))
      W.canonicalize(ext, "url")
        .select(col("doc_id"), col("domain"), col("url_canon"), col("n_links"),
          md5(col("text_clean")).as("text_md5"))
        .orderBy("doc_id")
    },
      // WARC pipeline: 200-responses only (m NOT IN (0,1), corrupt excluded
      // by warcCtes), then the q_html_extract strip chain + the canonical
      // URL chain over the SAME pages the response payloads carry
      ("WITH " + warcCtes() + "," +
      wsStripCtes("url, rbody AS html", "url, html", "rbody", "wblk WHERE m NOT IN (0, 1)") +
      """ wsrc AS (SELECT doc_id, '' AS text, url,
        |   trim(regexp_replace(t, '\s+', ' ', 'g')) AS tc,
        |   CAST(len(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS BIGINT) AS n_links
        |  FROM ws4),""".stripMargin.replace("\n", "") +
      canonChainSql("wsrc", extra = ", tc, n_links") +
      " SELECT doc_id, domain, url_canon, n_links, md5(tc) AS text_md5" +
      " FROM cn ORDER BY doc_id")),
    // robots.txt compliance (r15): parse per-host robots fixtures into the
    // REP rule table — comment/blank/unknown-directive filtering, `key:
    // value` cut, and the User-agent RUN rule (consecutive UA lines share
    // one rule block) via one lag+running-sum window per host.
    Query("q_robots_parse", (s, dir) => {
      robotsRulesCached(s, dir)
        .select(col("host"), col("agent"), col("directive"), col("prefix"),
          col("ln").cast(LongType).as("ln"))
        .orderBy("host", "ln", "agent")
    },
      // robots.txt: the REP rule table from the same relational parse
      ("WITH " + robotsCtes +
      " SELECT host, agent, directive, prefix, CAST(ln AS BIGINT) AS ln" +
      " FROM rules ORDER BY host, ln, agent")),
    // REP Sitemap directives (r15): the discovery hook robots.txt carries —
    // global (not group-scoped) lines, URL case preserved, multi-sitemap
    // hosts under the gate (news declares two)
    Query("q_robots_sitemaps", (s, dir) => {
      val W = graft.operators.Web
      W.robotsSitemaps(robotsHosts(s, dir)
          .withColumn("robots", W.robotsTxt(col("host"))), "host", "robots")
        .orderBy("host", "ln")
    },
      // robots Sitemap directives: line filter over the same fixture
      ("WITH " + robotsCtes +
      """ SELECT host, CAST(ln AS BIGINT) AS ln,
        |   trim(regexp_extract(line, '^[^:]+:(.*)$', 1)) AS sitemap_url
        | FROM rfl WHERE lower(line) LIKE 'sitemap:%'
        | ORDER BY host, ln""".stripMargin.replace("\n", ""))),
    // ...and the crawl-allowance decisions: REP group selection (a host
    // naming the agent uses ONLY that group, else `*`), longest-prefix-
    // match, Allow-wins-ties, no-match → allowed — evaluated for BOTH an
    // agent with dedicated groups (graftbot) and one falling back to `*`
    // (otherbot), so group selection itself is under the hash gate.
    Query("q_robots_filter", (s, dir) => {
      val W = graft.operators.Web
      val pages = robotsPages(s, dir)
      W.robotsDecisionsFor(pages, robotsRulesCached(s, dir),
          Seq("graftbot", "otherbot", "delayonly"),
          Some(robotsGroupsCached(s, dir)))
        .select(col("doc_id"), col("agent"), col("host"), col("path"),
          col("matched_prefix"), col("matched_directive"), col("allowed"))
        .orderBy("doc_id", "agent")
    },
      robotsFilterDual),
    // ...and the SHUFFLE-JOIN strategy parity gate (r16 —
    // the PSL q_psl_join_parity treatment): the same three-agent decision
    // table through host-keyed shuffle-hash joins instead of broadcasts
    // (the plan for a rule table too large for the driver at millions of
    // hosts), gated against the SAME oracle as q_robots_filter — the two
    // strategies must be output-identical. The production entry point is
    // robotsDecisionsForAuto, dispatching on the landed rule count.
    Query("q_robots_join_parity", (s, dir) => {
      val W = graft.operators.Web
      val pages = robotsPages(s, dir)
      W.robotsDecisionsForShuffled(pages, robotsRulesCached(s, dir),
          Seq("graftbot", "otherbot", "delayonly"),
          Some(robotsGroupsCached(s, dir)))
        .select(col("doc_id"), col("agent"), col("host"), col("path"),
          col("matched_prefix"), col("matched_directive"), col("allowed"))
        .orderBy("doc_id", "agent")
    },
      // strategy parity (r16): the shuffle-join decision
      // table must land on the SAME oracle as the broadcast strategy
      robotsFilterDual),
    // robots fetch-failure semantics (r17 — RFC 9309
    // §2.3.1): allowance keyed on what the robots.txt FETCH returned —
    // 5xx hosts (g=2) assume complete-disallow, 4xx hosts (g=4) allow-all,
    // never-fetched hosts (g=5, no record) take the missing-robots
    // allow-all default, 2xx hosts get the parsed REP decision. All four
    // modes bind under the hash gate; non-parsed modes NULL the matched
    // rule columns (no rule was consulted).
    Query("q_robots_unreachable", (s, dir) => {
      val W = graft.operators.Web
      val pages = robotsPages(s, dir)
      W.robotsDecisionsWithStatus(pages, robotsRulesCached(s, dir),
          Seq("graftbot", "otherbot"), Some(robotsGroupsCached(s, dir)),
          W.robotsFetchStatuses(robotsHosts(s, dir)))
        .select(col("doc_id"), col("agent"), col("host"), col("robots_status"),
          col("robots_mode"), col("matched_prefix"), col("matched_directive"),
          col("allowed"))
        .orderBy("doc_id", "agent")
    },
      // ...and the three-agent decision table (group selection under the
      // gate, incl. the r16 declared-group-with-no-rules arm: delayonly owns
      // its group on g=1 hosts → allow-all, `*` fallback elsewhere)
      // robots fetch-failure semantics: the two-agent REP decision table
      // with the per-host fetch status joined over it — 5xx → disallow-all,
      // 4xx → allow-all, no record → allow-all, 2xx → the parsed decision;
      // non-parsed modes NULL the matched rule columns
      ("WITH " + robotsCtes + "," +
      robotsDecisionSql("1", "graftbot") + "," +
      robotsDecisionSql("2", "otherbot") + "," +
      """ st AS (SELECT host, CASE WHEN g = 2 THEN 503 WHEN g = 4 THEN 404
        |     ELSE 200 END AS robots_status
        |   FROM rbg WHERE g <> 5),
        | ud AS (SELECT * FROM d1 UNION ALL SELECT * FROM d2),
        | uo AS (SELECT doc_id, agent, ud.host AS host, st.robots_status AS robots_status,
        |   CASE WHEN st.robots_status IS NULL THEN 'absent'
        |     WHEN st.robots_status BETWEEN 200 AND 299 THEN 'parsed'
        |     WHEN st.robots_status BETWEEN 500 AND 599 THEN 'disallow_all'
        |     ELSE 'allow_all' END AS robots_mode,
        |   matched_prefix, matched_directive, allowed
        |  FROM ud LEFT JOIN st ON ud.host = st.host)
        | SELECT doc_id, agent, host, robots_status, robots_mode,
        |   CASE WHEN robots_mode = 'parsed' THEN matched_prefix END AS matched_prefix,
        |   CASE WHEN robots_mode = 'parsed' THEN matched_directive END AS matched_directive,
        |   CASE WHEN robots_mode = 'parsed' THEN allowed
        |     WHEN robots_mode = 'disallow_all' THEN FALSE
        |     ELSE TRUE END AS allowed
        | FROM uo ORDER BY doc_id, agent""".stripMargin.replace("\n", ""))),
    // THE CRAWL CURATION FUNNEL (r15): the complete front door composed —
    // WARC records → HTTP-200 → robots-allowed (graftbot) → declared-lang
    // filter → min-length gate on the EXTRACTED text → SURT-unique — with
    // per-registrable-domain counts at every stage plus kept tokens. One
    // plan: the narrow parse/strip/canonicalize chain, two tiny broadcast
    // joins (robots rules, doc language), ONE window (SURT survivor) and
    // ONE aggregation — stage flags are conjunctions computed per row, so
    // the funnel costs one pass regardless of how many stages report.
    Query("q_crawl_curation", (s, dir) => {
      val W = graft.operators.Web
      val w = W.synthCrawl(documents(s, dir))
      // localCheckpoint (lazy): FOUR consumers — the funnel's canon chain,
      // the main-content block explode, the redirect edge set, the
      // landed-canon set — would each re-run the synthesis+parse without
      // the lineage cut (and in production the parse IS a landed artifact
      // read once per consumer)
      val recs = W.warcRecords(w.select(col("doc_id"), col("warc")), "warc")
        .filter(col("rec_type") === "response")
        .select(col("doc_id"), col("target_uri").as("url"), col("payload"),
          col("http_status"), col("http_location"))
        .localCheckpoint(false)
      // r18 optimization: (a) PROJECT the funnel's four columns before the
      // join/window stack — the un-projected canon frame carried `payload`,
      // `url` and `http_location` through the SURT window exchange (shuffle
      // bytes for columns the funnel never reads past this point; guide
      // §2.3 "project before the exchange"); (b) lazy localCheckpoint: the
      // join keys, the SURT window key and the final agg key read `domain`
      // and `surt` as plain columns, computed once; whether the cut still
      // pays for the copy is ROADMAP direction 7's measurement. In
      // production the canonical keys land WITH the parse artifact.
      val canon = W.canonicalize(recs, "url")
        .select(col("doc_id"), col("http_status"), col("domain"), col("surt"))
        .localCheckpoint(false)
      // robots decisions run on the FRONTIER (the pre-fetch request URL),
      // as a real crawler does — and keeping the decision subplan off the
      // parsed-container frame means the expensive parse chain is computed
      // exactly ONCE (the broadcast builds below would otherwise re-run it
      // per build)
      // r19: the frontier rides the kernel's url column (same urlOf formula,
      // differential-gated) — the second synthesis subtree is gone from the
      // robots decision subplan's optimizer input
      val frontier = w.select(col("doc_id"), W.hostOf(col("url")).as("host"),
        W.pathOf(col("url")).as("path"))
      // the robots stage consumes the FETCH-OUTCOME-aware entry point
      // (r17): this fixture's robots fetches all returned
      // 200 (the parse-mode arm), so the decision table is unchanged —
      // the 4xx/5xx/absent semantics themselves are gated by
      // q_robots_unreachable
      val dec = W.robotsDecisionsWithStatus(frontier, robotsRulesCached(s, dir),
          Seq("graftbot"), Some(robotsGroupsCached(s, dir)),
          robotsHosts(s, dir).withColumn("robots_status", lit(200)))
        .select(col("doc_id"), col("allowed"))
      val lang = documents(s, dir).select(col("doc_id"), col("lang"))
      // the Gopher word floor consumes the extracted MAIN text (r18):
      // per-response block explode → kept-block word sum —
      // chrome words (nav/footer/link text) no longer count toward
      // eligibility or tokens_kept. Narrow explode + one partial-aggregable
      // doc_id agg; docs whose every block drops coalesce to 0 tokens.
      val mainToks = W.htmlBlocks(recs.select(col("doc_id"), col("payload")),
          "doc_id", "payload")
        .filter(col("kept"))
        .groupBy("doc_id").agg(sum(col("words")).as("toks"))
      // no broadcast hints: decisions and language are PER-DOC frames
      // (r15 review) — AQE broadcasts them at bench scale and shuffle-joins
      // at corpus scale; only host-granularity artifacts carry the hint
      val staged = canon
        .join(dec, Seq("doc_id"))
        .join(lang, Seq("doc_id"))
        .join(mainToks, Seq("doc_id"), "left")
        .withColumn("toks", coalesce(col("toks"), lit(0L)))
        .withColumn("is200", col("http_status") === 200)
        .withColumn("elig", col("is200") && col("allowed") &&
          col("lang") === "en" && col("toks") >= 50)
        .withColumn("surv", col("elig") && col("doc_id") ===
          min(when(col("elig"), col("doc_id"))).over(Window.partitionBy("surt")))
      // redirect attribution (r16): 301 chains resolve to
      // their terminal and, when that terminal is a FETCHED 200 page,
      // count as an arrival at the LANDING page's domain — redirected
      // pages attribute at their resolved target, not at the hop. The
      // landed-canon set derives from the slim URL formula (not the parsed
      // frame) so the expensive parse chain still computes exactly once;
      // at 100 TB both the edge set and the landed ledger are landed
      // artifacts of the same crawl.
      val edges = recs.filter(col("http_status") === 301 &&
          col("http_location").isNotNull)
        .select(W.urlCanonOf(col("url")).as("src"),
          W.urlCanonOf(col("http_location")).as("dst"))
      // landed set from the PARSE output, not the URL formula: the
      // mapPartitions walk is a lineage barrier, so the canon expression
      // stays small (canon-over-synthesized-url re-inlined the fixture
      // tree ~15x and blew the hashAgg past janino's method limit)
      val landed = recs.filter(col("http_status") === 200)
        .select(W.urlCanonOf(col("url")).as("final_url")).distinct()
      // lineage cut before the domain agg (r17): stages the
      // redirect-scale host column so the agg keys on a plain column;
      // whether to drop it is ROADMAP direction 7's call
      val arrivals = W.resolveRedirectChains(edges, maxHops = 5)
        .filter(col("status") === "settled")
        .join(landed, Seq("final_url"), "left_semi")
        .select(W.hostOf(col("final_url")).as("__arrh"))
        .localCheckpoint(false)
        .groupBy(W.registrableDomain(col("__arrh")).as("domain"))
        .agg(count(lit(1)).as("__arr"))
      staged.groupBy("domain").agg(
        count(lit(1)).as("n_responses"),
        sum(col("is200").cast(LongType)).as("n_200"),
        sum((col("is200") && col("allowed")).cast(LongType)).as("n_allowed"),
        sum((col("is200") && col("allowed") && col("lang") === "en")
          .cast(LongType)).as("n_en"),
        sum(col("elig").cast(LongType)).as("n_kept"),
        sum(col("surv").cast(LongType)).as("n_unique"),
        sum(when(col("surv"), col("toks")).otherwise(lit(0L))).as("tokens_kept"))
        .join(arrivals, Seq("domain"), "left")
        .withColumn("n_redirect_arrivals", coalesce(col("__arr"), lit(0L)))
        .drop("__arr")
        .orderBy("domain")
    },
      // the crawl funnel: WARC construction + robots decisions + MAIN-CONTENT
      // block chain (r18: the word floor consumes extracted main text)
      // + canonical chain composed, stage conjunctions aggregated per domain
      ("WITH " + warcCtes() + "," + robotsParseCtes + "," +
      robotsDecisionSql("1", "graftbot") + "," +
      mainBlocksSql("wblk", "doc_id", "rbody") + "," +
      """ mtk AS (SELECT mid AS doc_id,
        |   CAST(SUM(CASE WHEN kept THEN words ELSE 0 END) AS BIGINT) AS toks
        |  FROM mblk GROUP BY mid),
        | csrc AS (SELECT doc_id, '' AS text, url, m FROM wblk),""".stripMargin.replace("\n", "") +
      canonChainSql("csrc", extra = ", m") + "," +
      """ cfd AS (SELECT cn.doc_id AS doc_id, domain, surt, m,
        |   coalesce(mt.toks, 0) AS toks,
        |   (m NOT IN (0, 1)) AS is200, d1.allowed AS allowed, dd.lang AS lang
        |  FROM cn JOIN d1 ON cn.doc_id = d1.doc_id JOIN documents dd ON cn.doc_id = dd.doc_id
        |  LEFT JOIN mtk mt ON cn.doc_id = mt.doc_id),
        | cfe AS (SELECT *, (is200 AND allowed AND lang = 'en' AND toks >= 50) AS elig FROM cfd),
        | cfs AS (SELECT *, (elig AND doc_id = min(CASE WHEN elig THEN doc_id END) OVER (PARTITION BY surt)) AS surv FROM cfe),""".stripMargin.replace("\n", "") +
      redirectChainSql(5) + "," +
      s""" lnd AS (SELECT DISTINCT url_canon AS final_url FROM cn
         |   WHERE m NOT IN (0, 1) AND url_canon IS NOT NULL),
         | arh AS (SELECT regexp_replace(regexp_replace(regexp_replace(lower(regexp_extract(regexp_replace(r.final_url, '#.*', ''), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '^.*@', ''), ':[0-9]+$$', ''), '^www\\.', '') AS host
         |  FROM rchain r JOIN lnd ON r.final_url = lnd.final_url
         |  WHERE r.status = 'settled'),
         | arl AS (SELECT host, string_split(host, '.') AS labels FROM arh),
         | arr AS (SELECT ${pslDomainCaseSql("host", "labels")} AS domain,
         |   CAST(count(*) AS BIGINT) AS n_arr FROM arl GROUP BY 1)
         | SELECT f.domain AS domain, n_responses, n_200, n_allowed, n_en, n_kept,
         |   n_unique, tokens_kept, coalesce(arr.n_arr, 0) AS n_redirect_arrivals
         | FROM (SELECT domain, CAST(count(*) AS BIGINT) AS n_responses,
         |   CAST(sum(CASE WHEN is200 THEN 1 ELSE 0 END) AS BIGINT) AS n_200,
         |   CAST(sum(CASE WHEN is200 AND allowed THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
         |   CAST(sum(CASE WHEN is200 AND allowed AND lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
         |   CAST(sum(CASE WHEN elig THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |   CAST(sum(CASE WHEN surv THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         |   CAST(sum(CASE WHEN surv THEN toks ELSE 0 END) AS BIGINT) AS tokens_kept
         |  FROM cfs GROUP BY domain) f
         | LEFT JOIN arr ON f.domain = arr.domain
         | ORDER BY domain""".stripMargin.replace("\n", ""))),
    // sitemap discovery (r15): the crawl's URL-discovery front — parse
    // sitemaps.org XML (urlset entries with OPTIONAL lastmod/changefreq/
    // priority, whitespace-wrapped and entity-encoded locs, and the
    // sitemapindex nesting form) into one row per entry
    Query("q_sitemap_parse", (s, dir) => {
      val W = graft.operators.Web
      W.sitemapEntries(robotsHosts(s, dir)
          .withColumn("xml", W.sitemapXml(col("host"))), "host", "xml")
        .select(col("host"), col("kind"), col("seq").cast(LongType).as("seq"),
          col("loc"), col("lastmod"), col("changefreq"), col("priority"))
        .orderBy("host", "seq")
    },
      // sitemap parse: construction + the same regex extraction restated
      sitemapParseDual),
    // ...and the `.xml.gz` lane (r17): real sitemaps gzip (the sitemaps.org
    // 50 MB/50k-URL limits apply UNCOMPRESSED, so large sites always ship
    // compressed) — serialize each host's sitemap through the gzip writer,
    // decode, parse back to the SAME oracle as q_sitemap_parse: the codec
    // must be invisible to discovery.
    Query("q_sitemap_gz", (s, dir) => {
      val W = graft.operators.Web
      val xml = robotsHosts(s, dir).withColumn("xml", W.sitemapXml(col("host")))
      val gz = W.withSitemapGz(xml, "host", "xml")
      W.sitemapEntries(W.gunzipStr(gz, "host", "xml_gz", "xml"), "host", "xml")
        .select(col("host"), col("kind"), col("seq").cast(LongType).as("seq"),
          col("loc"), col("lastmod"), col("changefreq"), col("priority"))
        .orderBy("host", "seq")
    },
      // the .xml.gz lane shares the sitemap oracle verbatim: the gzip
      // round-trip must be invisible to discovery
      sitemapParseDual),
    // ...and the FRONTIER SEEDING composition: sitemap URL entries →
    // canonicalize → robots-allowance for the crawler agent → novelty
    // against the already-crawled (host, path) set. The discovery side of
    // the crawl loop: what to fetch next, filtered by compliance, deduped
    // against what's already in the corpus — one narrow chain + the rules
    // broadcast + one broadcast anti-flag join.
    Query("q_sitemap_frontier", (s, dir) => {
      val W = graft.operators.Web
      val f = sitemapFrontier(s, dir)
      W.canonicalize(f.select("host", "url", "allowed", "is_new"), "url")
        .select(col("host"), col("url"), col("url_canon"), col("surt"),
          col("allowed"), col("is_new"))
        .orderBy("host", "url")
    },
      // frontier seeding: sitemap url entries → canonical chain → robots
      // decisions (keyed on the loc) → novelty vs the crawled (host, path) set
      ("WITH " + robotsCtes + "," + sitemapCtes + "," +
      " fsrc AS (SELECT loc AS doc_id, '' AS text, loc AS url, host FROM smu WHERE kind = 'url')," +
      canonChainSql("fsrc", extra = ", host") + "," +
      s" fpg AS (SELECT doc_id, host, ${pathSqlOf("url")} AS path FROM cn)," +
      robotsDecisionSql("3", "graftbot", pgCte = "fpg") + "," +
      """ crawl AS (SELECT DISTINCT host, path FROM pg)
        | SELECT c.host AS host, c.doc_id AS url, c.url_canon AS url_canon,
        |   c.surt AS surt, d.allowed AS allowed, (cr.host IS NULL) AS is_new
        | FROM cn c JOIN d3 d ON c.doc_id = d.doc_id
        | LEFT JOIN crawl cr ON c.host = cr.host AND d.path = cr.path
        | ORDER BY host, url""".stripMargin.replace("\n", ""))),
    // Bloom-guarded frontier novelty (r16): the sitemap
    // frontier's novelty check against the crawled ledger, with a
    // deterministic m-bit bloom (md5-derived positions) in FRONT of the
    // exact anti-join — bloom-fail candidates are provably novel and skip
    // the ledger shuffle; only suspects reach the exact join. The dual
    // computes is_new via the PLAIN anti-join, so row equality IS the
    // no-false-negative gate; bloom_pass itself is hash-checked, making
    // the false-positive count (bloom_pass AND is_new) oracle-visible.
    Query("q_frontier_bloom", (s, dir) => {
      val W = graft.operators.Web
      val f = W.sitemapEntries(robotsHosts(s, dir)
          .withColumn("xml", W.sitemapXml(col("host"))), "host", "xml")
        .filter(col("kind") === "url")
        .select(col("host"), col("loc").as("url"), W.pathOf(col("loc")).as("path"))
        .withColumn("__key", concat_ws("|", col("host"), col("path")))
      val ledger = crawledPagesCached(s, dir)
        .withColumn("__key", concat_ws("|", col("host"), col("path")))
      // m = 2048 (not the 16384 default): small enough that the sf0.01
      // ledger populates ~half the filter, so the FALSE-POSITIVE arm
      // (bloom_pass AND is_new) is exercised under the hash gate
      W.bloomNovelty(f, "__key", ledger, "__key", m = 2048)
        .select(col("host"), col("url"), col("bloom_pass"), col("is_new"))
        .orderBy("host", "url")
    },
      // bloom-guarded frontier novelty: bloom_pass from the md5-position
      // filter, is_new from the PLAIN exact anti-join (equality with the
      // Spark side's guarded composition proves no false negatives)
      ("WITH " + robotsCtes + "," + sitemapCtes + "," +
      s""" cnd AS (SELECT host, loc AS url, ${pathSqlOf("loc")} AS path FROM smu WHERE kind = 'url'),
         | led AS MATERIALIZED (SELECT DISTINCT host, path FROM pg),
         | bits AS MATERIALIZED (SELECT DISTINCT ${idHashSql("CAST(j AS VARCHAR) || ':' || host || '|' || path")} % 2048 AS pos
         |   FROM led, unnest([0, 1, 2]) AS t(j)),
         | cpos AS (SELECT host, url, path, ${idHashSql("CAST(j AS VARCHAR) || ':' || host || '|' || path")} % 2048 AS pos
         |   FROM cnd, unnest([0, 1, 2]) AS t(j)),
         | cps AS (SELECT host, url, path,
         |   (COUNT(CASE WHEN pos IN (SELECT pos FROM bits) THEN 1 END) = 3) AS bloom_pass
         |   FROM cpos GROUP BY host, url, path)
         | SELECT c.host AS host, c.url AS url, bloom_pass, (l.host IS NULL) AS is_new
         | FROM cps c LEFT JOIN led l ON c.host = l.host AND c.path = l.path
         | ORDER BY host, url""".stripMargin.replace("\n", ""))),
    // politeness scheduler (r15): the Crawl-delay directive the REP
    // access parser ignores becomes the fetch plan — frontier URLs that
    // are allowed AND novel get per-host serial slots, spaced by the
    // host's effective delay (agent-specific group, else `*`, else 1 s).
    // One window per host; the delay table is a per-host broadcast.
    Query("q_crawl_schedule", (s, dir) => {
      val fetchable = sitemapFrontier(s, dir)
        .filter(col("allowed") && col("is_new"))
      val hostDelay = crawlDelayByHost(s, dir)
      fetchable
        .withColumn("slot", (row_number().over(
          Window.partitionBy("host").orderBy("url")) - 1).cast(LongType))
        .join(broadcast(hostDelay), Seq("host"))
        .withColumn("offset_s", col("slot") * col("delay_s"))
        .select(col("host"), col("url"), col("slot"), col("delay_s"),
          col("offset_s"))
        .orderBy("host", "url")
    },
      // politeness scheduler: frontier chain + the Crawl-delay group parse
      // (UA + crawl-delay lines only, from the same rkv line frame) + the
      // per-host slot window
      ("WITH " + robotsCtes + "," + sitemapCtes + "," +
      " fsrc AS (SELECT loc AS doc_id, '' AS text, loc AS url, host FROM smu WHERE kind = 'url')," +
      canonChainSql("fsrc", extra = ", host") + "," +
      s" fpg AS (SELECT doc_id, host, ${pathSqlOf("url")} AS path FROM cn)," +
      robotsDecisionSql("3", "graftbot", pgCte = "fpg") + "," +
      """ crawl AS (SELECT DISTINCT host, path FROM pg),
        | fet AS (SELECT d.host AS host, d.doc_id AS url FROM d3 d
        |   LEFT JOIN crawl cr ON d.host = cr.host AND d.path = cr.path
        |   WHERE d.allowed AND cr.host IS NULL),""".stripMargin.replace("\n", "") +
      crawlDelayCtes +
      """ SELECT f.host AS host, url,
        |   CAST(row_number() OVER (PARTITION BY f.host ORDER BY url) - 1 AS BIGINT) AS slot,
        |   delay_s,
        |   CAST(row_number() OVER (PARTITION BY f.host ORDER BY url) - 1 AS BIGINT) * delay_s AS offset_s
        | FROM fet f JOIN hdl ON f.host = hdl.host
        | ORDER BY host, url""".stripMargin.replace("\n", ""))),
    // RANK-PRIORITIZED frontier scheduler (r18 — the
    // composition the q_domain_rank scaladoc promises): the DISCOVERED-LINK
    // frontier (resolved out-links of fetched pages — what a harvest
    // scheduler actually prioritizes) dedupes on the canonical key, drops
    // already-crawled (host, path), passes robots (even-digit hosts'
    // graftbot `Disallow: /` group BINDS on the off-article link paths),
    // then joins the landed domain-rank table BROADCAST (domain
    // granularity) and caps each domain's fetches at a rank-proportional
    // budget (floor(rank/0.05), clamped to [1, 8] — example.com's ~100
    // candidate URLs cut to its budget while 1-URL domains ride free).
    // Politeness is unchanged: per-host serial slots spaced by the host's
    // effective Crawl-delay (default 1 s for off-corpus hosts). One narrow
    // chain + two broadcast joins + two bounded windows.
    Query("q_crawl_schedule_ranked", (s, dir) => {
      val W = graft.operators.Web
      val h = W.withHtml(W.withUrls(documents(s, dir)))
      val links = h.select(col("url").as("page_url"),
        explode(W.extractLinks(col("html"))).as("href"))
      // localCheckpoint (lazy) on the RESOLVED frame (r18 optimization):
      // the synthesis+resolveUrl tree stays out of the canonicalize kernel's
      // input and the distinct's aggregate keys; what the cut still saves
      // is ROADMAP direction 7's measurement. The frame is one narrow
      // string column.
      val resolved = links.select(
        W.resolveUrl(col("page_url"), col("href")).as("url"))
        .localCheckpoint(false)
      // localCheckpoint (lazy): the ledger anti-join, the robots decision
      // subplan and both windows below read url_canon/domain/host/path as
      // plain columns, and the distinct runs once for all of them
      val cand = W.canonicalize(resolved, "url")
        .filter(col("url_canon").isNotNull)
        .select(col("url_canon"), col("domain")).distinct()
        .withColumn("host", W.hostOf(col("url_canon")))
        .withColumn("path", W.pathOf(col("url_canon")))
        .localCheckpoint(false)
      // novelty: the crawl ledger is page-granularity — no broadcast hint
      // (AQE broadcasts at bench scale, shuffles at corpus scale)
      val fresh = cand.join(
          crawledPagesCached(s, dir).withColumn("__c", lit(true)),
          Seq("host", "path"), "left")
        .filter(col("__c").isNull).drop("__c")
      // r18 optimization: robotsDecisionsImpl PRESERVES every column of its
      // pages frame, so riding `domain` through the decision subplan
      // replaces the former decision→frontier join-back (one SortMergeJoin
      // + two exchanges in the plan, output identical — the decision frame
      // was derived FROM `fresh`, so the join was a self-reattachment)
      val dec = W.robotsDecisionsFor(
          fresh.select(col("url_canon").as("doc_id"), col("host"), col("path"),
            col("domain")),
          robotsRulesCached(s, dir), Seq("graftbot"),
          Some(robotsGroupsCached(s, dir)))
        .select(col("doc_id").as("url_canon"), col("host"), col("path"),
          col("domain"), col("allowed"))
      val rank = domainRankCached(s, dir)
      val hostDelay = crawlDelayByHost(s, dir)
      val budgeted = dec.filter(col("allowed"))
        .join(broadcast(rank), Seq("domain"), "left")
        .withColumn("rank", coalesce(col("rank"), lit(0.15)))
        .withColumn("budget",
          least(lit(8L), greatest(lit(1L), floor(col("rank") / 0.05))))
        .withColumn("dom_slot", row_number().over(
          Window.partitionBy("domain").orderBy("url_canon")).cast(LongType))
        .filter(col("dom_slot") <= col("budget"))
      budgeted
        .join(broadcast(hostDelay), Seq("host"), "left")
        .withColumn("delay_s", coalesce(col("delay_s"), lit(1.0)))
        .withColumn("slot", (row_number().over(
          Window.partitionBy("host").orderBy("url_canon")) - 1).cast(LongType))
        .withColumn("offset_s", col("slot") * col("delay_s"))
        .select(col("host"), col("url_canon").as("url"), col("domain"),
          col("rank"), col("budget"), col("dom_slot"), col("slot"),
          col("delay_s"), col("offset_s"))
        .orderBy("host", "url")
    },
      // rank-prioritized scheduler (r18): discovered-link
      // frontier (the rank chain's resolved+canonicalized links) deduped on
      // the canonical key, ledger anti-join, graftbot decisions, the SAME
      // decimal-exact rank chain as q_domain_rank, rank-proportional
      // per-domain budget, then the politeness windows
      ("WITH " + robotsCtes + "," + hBodyCte + "," +
      domainRankChainCtes + "," + crawlDelayCtes + "," +
      s""" rcn AS MATERIALIZED (SELECT DISTINCT url_canon, domain FROM cn
         |   WHERE url_canon IS NOT NULL),
         | rch AS (SELECT url_canon, domain,
         |   regexp_replace(regexp_replace(regexp_replace(lower(regexp_extract(regexp_replace(url_canon, '#.*', ''), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '^.*@', ''), ':[0-9]+$$', ''), '^www\\.', '') AS host,
         |   ${pathSqlOf("url_canon")} AS path FROM rcn),
         | rfr AS MATERIALIZED (SELECT c.* FROM rch c
         |   LEFT JOIN (SELECT DISTINCT host, path FROM pg) cr
         |     ON c.host = cr.host AND c.path = cr.path
         |   WHERE cr.host IS NULL),
         | rfp AS (SELECT url_canon AS doc_id, host, path FROM rfr),""".stripMargin
        .replace("\n", "") +
      robotsDecisionSql("9", "graftbot", pgCte = "rfp") + "," +
      """ rbj AS (SELECT f.host AS host, f.url_canon AS url, f.domain AS domain,
        |   coalesce(drank.rank, 0.15) AS rank
        |  FROM rfr f JOIN d9 ON f.url_canon = d9.doc_id
        |  LEFT JOIN drank ON f.domain = drank.domain
        |  WHERE d9.allowed),
        | rbd AS (SELECT *, least(8, greatest(1, CAST(floor(rank / 0.05) AS BIGINT))) AS budget,
        |   CAST(row_number() OVER (PARTITION BY domain ORDER BY url) AS BIGINT) AS dom_slot
        |  FROM rbj),
        | rkp AS (SELECT * FROM rbd WHERE dom_slot <= budget)
        | SELECT k.host AS host, url, domain, rank, budget, dom_slot,
        |   CAST(row_number() OVER (PARTITION BY k.host ORDER BY url) - 1 AS BIGINT) AS slot,
        |   coalesce(hdl.delay_s, 1.0) AS delay_s,
        |   CAST(row_number() OVER (PARTITION BY k.host ORDER BY url) - 1 AS BIGINT) * coalesce(hdl.delay_s, 1.0) AS offset_s
        | FROM rkp k LEFT JOIN hdl ON k.host = hdl.host
        | ORDER BY host, url""".stripMargin.replace("\n", ""))),
    // freshness-driven recrawl planning (r15): sitemap lastmod vs the crawl
    // record's fetch dates. Per sitemap URL: never fetched → fetch_new;
    // lastmod post-dates the LAST fetch of that (host, path) → refetch;
    // else skip. The fetch record derives from the WARC front door itself
    // (response WARC-Date, max per page across re-crawls) — the loop's
    // bookkeeping closed over its own container format. ISO date strings
    // compare lexicographically; one grouped agg + one broadcast join.
    Query("q_recrawl_plan", (s, dir) => {
      val W = graft.operators.Web
      val w = W.synthCrawl(documents(s, dir))
      val fetched = W.warcRecords(w.select(col("doc_id"), col("warc")), "warc")
        .filter(col("rec_type") === "response")
        .select(W.hostOf(col("target_uri")).as("host"),
          W.pathOf(col("target_uri")).as("path"),
          substring(col("warc_date"), 1, 10).as("fetch_date"))
        .groupBy("host", "path").agg(max(col("fetch_date")).as("last_fetched"))
      val sm = W.sitemapEntries(robotsHosts(s, dir)
          .withColumn("xml", W.sitemapXml(col("host"))), "host", "xml")
        .filter(col("kind") === "url")
        .select(col("host"), col("loc").as("url"),
          W.pathOf(col("loc")).as("path"), col("lastmod"))
      // no broadcast hint: the fetch record is page-granularity (r15
      // review) — AQE broadcasts it at bench scale, shuffles it at 100 TB
      sm.join(fetched, Seq("host", "path"), "left")
        .withColumn("action",
          when(col("last_fetched").isNull, lit("fetch_new"))
            .when(col("lastmod").isNotNull && col("lastmod") > col("last_fetched"),
              lit("refetch"))
            .otherwise(lit("skip")))
        .select(col("host"), col("path"), col("url"), col("lastmod"),
          col("last_fetched"), col("action"))
        .orderBy("host", "path", "url")
    },
      // recrawl plan: fetch record from the WARC construction (response
      // dates grouped per page) vs sitemap lastmod
      ("WITH " + warcCtes() + "," + robotsParseCtes + "," +
      sitemapCtes + "," +
      s""" ft AS (SELECT p.host AS host, p.path AS path,
         |   max(substr(wdate, 1, 10)) AS last_fetched
         |  FROM pg p JOIN wd w ON p.doc_id = w.doc_id GROUP BY 1, 2),
         | smp AS (SELECT host, loc AS url, ${pathSqlOf("loc")} AS path, lastmod
         |  FROM smu WHERE kind = 'url')
         | SELECT s.host AS host, s.path AS path, url, lastmod, f.last_fetched AS last_fetched,
         |   CASE WHEN f.last_fetched IS NULL THEN 'fetch_new'
         |     WHEN s.lastmod IS NOT NULL AND s.lastmod > f.last_fetched THEN 'refetch'
         |     ELSE 'skip' END AS action
         | FROM smp s LEFT JOIN ft f ON s.host = f.host AND s.path = f.path
         | ORDER BY host, path, url""".stripMargin.replace("\n", ""))),
    // conditional-GET re-crawl (r17): every fourth page answered 304 Not
    // Modified — an EMPTY body; the crawler's own prior capture is the
    // content. The composition joins 304 rows to the first crawl's
    // responses by target URI and ADOPTS the prior payload; using the
    // empty 304 body as content (the naive bug) hash-fails every cached
    // row. Refetched rows carry their own payload. This is the freshness
    // loop's cheap path: a 304 costs headers, not bytes.
    Query("q_recrawl_304", (s, dir) => {
      val W = graft.operators.Web
      // r19: typed synthesis — one kernel pass emits url/html/warc; the
      // conditional re-crawl builder consumes the kernel's html column
      // (a lineage barrier) instead of re-inlining the synthesis tree
      val base = W.synthCrawl(documents(s, dir))
      val crawl1 = base.select(col("doc_id"), col("warc"))
      // the prior-capture index is UNIQUE per URL — the LATEST capture wins
      // (max WARC-Date), exactly what a crawler's index holds. Without the
      // dedup, re-crawled URL collisions fan the join out quadratically
      // (caught by the 10×/30× replication probe: 3.3M → 29.5M joined rows)
      val prior = W.warcRecords(crawl1, "warc")
        .filter(col("rec_type") === "response" && col("http_status") === 200)
        .groupBy(col("target_uri").as("url"))
        // struct max, not max_by: two captures sharing url AND date must
        // still pick deterministically (max_by ties are engine's choice)
        .agg(max(struct(col("warc_date"), md5(col("payload"))))
          .getField("col2").as("prior_md5"))
      val recs2 = W.warcRecords(
          W.withWarcConditional(base, 200000L), "warc")
        .filter(col("rec_type") === "response")
        .select(col("doc_id"), col("target_uri").as("url"),
          col("http_status"), md5(col("payload")).as("own_md5"))
      // no broadcast hint: the prior-capture index is page-granularity
      // (AQE broadcasts at bench scale, shuffles at corpus scale)
      recs2.join(prior, Seq("url"), "left")
        .select(col("doc_id"), col("http_status"),
          when(col("http_status") === 304, lit("cached"))
            .otherwise(lit("refetched")).as("via"),
          when(col("http_status") === 304, col("prior_md5"))
            .otherwise(col("own_md5")).as("text_md5"))
        .orderBy("doc_id")
    },
      // conditional-GET recrawl: status/via from the fixture formula; every
      // text_md5 is the PRIOR capture's content hash — a consumer that uses
      // the 304's empty body instead of adopting the prior capture fails
      // every cached row
      ("WITH " + warcCtes() +
      """ SELECT doc_id + 200000 AS doc_id,
        |   CASE WHEN doc_id % 4 = 1 THEN 304 ELSE 200 END AS http_status,
        |   CASE WHEN doc_id % 4 = 1 THEN 'cached' ELSE 'refetched' END AS via,
        |   md5(rbody) AS text_md5
        | FROM wblk WHERE m NOT IN (0, 1) ORDER BY doc_id""".stripMargin
        .replace("\n", ""))),
    // REAL .warc.gz round trip (r15): segments serialize as member-per-
    // record multi-member gzip (the Common Crawl layout), decode through
    // the gzip member walk (`Web.gunzipWarc`), and parse back.
    // TWO corruption arms: a payload garbled from byte 0 yields zero
    // records; a garbled THIRD member (doc_id % 89 == 88) loses ONLY the
    // response record behind it — the truncated-dump behavior a real
    // crawl reader must have. Oracle = the construction, minus exactly
    // the records the corruptions quarantine.
    Query("q_warc_gz_parse", (s, dir) => {
      val W = graft.operators.Web
      val w = W.synthCrawl(documents(s, dir))
      val gz = W.withWarcGz(w.select(col("doc_id"), col("warc")), "doc_id", "warc")
      val txt = W.gunzipWarc(gz, "doc_id", "warc_gz")
      W.warcRecords(txt, "warc")
        .select(col("doc_id"), col("rec_pos").cast(LongType).as("rec_pos"),
          col("rec_type"), col("target_uri"), col("warc_date"),
          col("content_length"), col("http_status"), col("mime"),
          col("block_octets"), md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id", "rec_pos")
    },
      // .warc.gz parse: the q_warc_parse construction minus the third
      // record of the garbled-tail-member docs
      warcGzParseDual),
    // ...and the BOUNDED-MEMORY member walk over the same payloads (r17):
    // one row per decoded MEMBER from the lazy per-member
    // gzip walk (peak task memory = one record, not one file — the real CC
    // granularity is ~1 GiB/row), records parsed per member and re-seated
    // at their segment ordinal. SAME oracle as q_warc_gz_parse: the two
    // decode strategies must be record-for-record identical, corruption
    // arms included.
    Query("q_warc_gz_members", (s, dir) => {
      val W = graft.operators.Web
      val w = W.synthCrawl(documents(s, dir))
      val gz = W.withWarcGz(w.select(col("doc_id"), col("warc")), "doc_id", "warc")
      // member rows ride a composite id through the record parser (member
      // count is bounded by the segment's record count — 3 here; 1000 is
      // headroom), then records re-order by (member, in-member pos)
      val members = W.gunzipWarcMembers(gz, "doc_id", "warc_gz")
        .select((col("doc_id") * 1000 + col("member_idx")).as("doc_id"),
          col("member"))
      W.warcRecords(members, "member")
        .withColumn("__orig", floor(col("doc_id") / 1000).cast(LongType))
        .withColumn("__midx", col("doc_id") % 1000)
        .withColumn("rec_pos", row_number().over(
          Window.partitionBy("__orig").orderBy("__midx", "rec_pos"))
          .cast(LongType))
        .select(col("__orig").as("doc_id"), col("rec_pos"),
          col("rec_type"), col("target_uri"), col("warc_date"),
          col("content_length"), col("http_status"), col("mime"),
          col("block_octets"), md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id", "rec_pos")
    },
      // bounded-memory member walk: the SAME oracle — per-member decode must
      // be record-for-record identical to the whole-payload decode
      warcGzParseDual),
    // HTTP chunked-transfer decode (r16): Common Crawl stores RAW HTTP, so
    // responses arrive chunked — hex octet sizes, CRLF framing, terminal 0
    // chunk. The decoder walks octets (the record-walk codec class) and
    // every row is a decode(chunk(x)) == x identity: three chunks per page,
    // md5(decoded) == md5(html); the non-hex-size arm (1 in 13) must
    // quarantine to NULL, never emit a garbage prefix as content.
    Query("q_http_dechunk", (s, dir) => {
      val W = graft.operators.Web
      val w = W.withChunkedHttp(W.synthPages(documents(s, dir)))
      W.dechunk(w.select(col("doc_id"), col("chunked")), "doc_id", "chunked")
        .select(col("doc_id"), col("ok"), col("n_chunks"),
          md5(col("decoded")).as("decoded_md5"))
        .orderBy("doc_id")
    },
      // WET round trip: the q_warc_pipeline strip chain produces the curated
      // text; every output field restates the WET construction — the parse
      // must recover it identically (incl. conversion records NOT taking the
      // HTTP head/body split: mime stays NULL)
      // chunked decode: the construction restated — ok/n_chunks/md5 all from
      // the fixture arms (c1||c2||c3 == html by construction)
      ("WITH " + htmlCtes + "," +
      """ chx AS (SELECT doc_id, html,
        |   greatest(1, CAST(len(html) // 3 AS INTEGER)) AS L FROM h)
        | SELECT doc_id, (doc_id % 13 <> 3) AS ok,
        |   CASE WHEN doc_id % 13 <> 3 THEN CAST(3 AS BIGINT) END AS n_chunks,
        |   CASE WHEN doc_id % 13 <> 3 THEN md5(substr(html, 1, L) ||
        |     substr(html, L + 1, L) || substr(html, 2 * L + 1)) END AS decoded_md5
        | FROM chx ORDER BY doc_id""".stripMargin.replace("\n", ""))),
    // HTTP entity decode (r17): real crawl responses are
    // mostly Content-Encoding: gzip — often INSIDE Transfer-Encoding:
    // chunked (TE is outermost, so the order is dechunk → gunzip). Every
    // ok row is a decode(encode(x)) == x identity against the page's HTML;
    // the corrupt-gzip arm (1 in 23, flipped magic under a `gzip` header)
    // must quarantine to NULL — emitting encoded octets as if they were
    // content is the one forbidden outcome. The arm label restates the
    // fixture formula so the encoding MIX itself is under the hash gate.
    Query("q_http_body_decode", (s, dir) => {
      val W = graft.operators.Web
      val w = W.withEncodedHttp(W.synthPages(documents(s, dir)))
      W.decodeHttpBody(w, "doc_id", "body",
          "transfer_encoding", "content_encoding")
        .withColumn("enc",
          when(col("doc_id") % 23 === 9, lit("corrupt"))
            .when(col("doc_id") % 43 === 21, lit("te-list"))
            .when(col("doc_id") % 5 === 0, lit("identity"))
            .when(col("doc_id") % 5 === 1, lit("gzip"))
            .when(col("doc_id") % 5 === 2, lit("chunked+gzip"))
            .when(col("doc_id") % 5 === 3, lit("deflate"))
            .otherwise(lit("chunked")))
        .select(col("doc_id"), col("enc"), col("ok"),
          md5(col("decoded_bin")).as("decoded_md5"))
        .orderBy("doc_id")
    },
      // HTTP entity decode: arm labels + ok from the fixture formulas;
      // decoded_md5 = md5(html) on every ok row — the Spark side must run
      // the real dechunk∘gunzip/inflate composition to land on it
      ("WITH " + htmlCtes +
      """ SELECT doc_id,
        |   CASE WHEN doc_id % 23 = 9 THEN 'corrupt'
        |     WHEN doc_id % 43 = 21 THEN 'te-list'
        |     WHEN doc_id % 5 = 0 THEN 'identity'
        |     WHEN doc_id % 5 = 1 THEN 'gzip'
        |     WHEN doc_id % 5 = 2 THEN 'chunked+gzip'
        |     WHEN doc_id % 5 = 3 THEN 'deflate'
        |     ELSE 'chunked' END AS enc,
        |   (doc_id % 23 <> 9) AS ok,
        |   CASE WHEN doc_id % 23 <> 9 THEN md5(html) END AS decoded_md5
        | FROM h ORDER BY doc_id""".stripMargin.replace("\n", ""))),
    // ...and the full front door over the BINARY container (r17): a WARC
    // whose entity bodies carry the wire codings (Content-Length counts
    // ENCODED octets — a text-typed fixture cannot even express this,
    // gzip bytes are not valid UTF-8) → length-framed binary parse
    // (warcRecordsBin, the SAME warcCutsB walk) → header-keyed TRANSPORT
    // decode (bytes stay binary) → CHARSET decode (the cp1252 arm, id%7==5,
    // plants a cp1252-only paragraph a UTF-8 reader cannot decode) → the
    // q_warc_pipeline strip/canonicalize chain. The oracle is the PLAIN
    // pipeline restatement: wire codings AND charsets must be invisible to
    // curation, corrupt-encode docs quarantine out.
    Query("q_warc_pipeline_encoded", (s, dir) => {
      val W = graft.operators.Web
      val base = W.synthPages(documents(s, dir))
      val wb = W.withWarcBin(base)
      // localCheckpoint (lazy): two consumers — the URI frame and the
      // decode — would each re-run the binary synthesis+parse without the
      // lineage cut (and in production the parse IS a landed artifact)
      val recs = W.warcRecordsBin(wb, "doc_id", "warc_bin")
        .filter(col("rec_type") === "response" && col("http_status") === 200)
        .select(col("doc_id"), col("target_uri"), col("payload_bin"),
          col("transfer_encoding"), col("content_encoding"),
          col("content_type_full"))
        .localCheckpoint(false)
      val trans = W.decodeHttpBody(recs, "doc_id", "payload_bin",
          "transfer_encoding", "content_encoding")
        .filter(col("ok")).drop("ok")
      val chars = W.decodeCharset(
          recs.select(col("doc_id"), col("content_type_full"))
            .join(trans, Seq("doc_id")),
          "doc_id", "decoded_bin", "content_type_full")
        .filter(col("ok"))
      val ext = recs.select(col("doc_id"), col("target_uri").as("url"))
        .join(chars, Seq("doc_id"))
        .withColumn("text_clean", W.htmlToText(col("text")))
        .withColumn("n_links", size(W.extractLinks(col("text"))).cast(LongType))
      W.canonicalize(ext, "url")
        .select(col("doc_id"), col("domain"), col("url_canon"), col("n_links"),
          col("charset"), col("charset_src"),
          md5(col("text_clean")).as("text_md5"))
        .orderBy("doc_id")
    },
      // encoded-container pipeline: the PLAIN pipeline restatement (strip
      // chain + canonical chain over the fixture pages, the cp1252 arm's
      // marker paragraph appended) minus the corrupt-encode arm — wire
      // codings AND charsets must be invisible to curation
      ("WITH " + htmlCtes + "," +
      s""" hx AS (SELECT doc_id, url,
         |   CASE WHEN doc_id % 7 = 5 THEN html || '${graft.operators.Web.cp1252Marker}'
         |     ELSE html END AS html
         |  FROM h WHERE doc_id % 23 <> 9),""".stripMargin.replace("\n", "") +
      wsStripCtes("url, html", "url, html", "html", "hx") +
      """ wsrc AS (SELECT doc_id, '' AS text, url,
        |   trim(regexp_replace(t, '\s+', ' ', 'g')) AS tc,
        |   CAST(len(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS BIGINT) AS n_links
        |  FROM ws4),""".stripMargin.replace("\n", "") +
      canonChainSql("wsrc", extra = ", tc, n_links") +
      """ SELECT doc_id, domain, url_canon, n_links,
        |   CASE WHEN doc_id % 7 = 5 THEN 'windows-1252' ELSE 'utf-8' END AS charset,
        |   'header' AS charset_src, md5(tc) AS text_md5
        | FROM cn ORDER BY doc_id""".stripMargin.replace("\n", ""))),
    // charset-aware payload decode (r17): five charset
    // arms (header-declared UTF-8 / ISO-8859-1, meta-declared cp1252 /
    // Shift_JIS, undeclared-UTF-8 default) decode strictly to the SAME
    // expected text the oracle restates as UTF-8 literals — the Spark side
    // must honor the label to land on them (€ at 0x80 distinguishes cp1252
    // from Latin-1; the Japanese arm is unreachable by single-byte
    // decoding). The mojibake arm (Latin-1 bytes under a UTF-8 label) and
    // the unknown-label arm must quarantine, never emit replacement
    // garbage.
    Query("q_charset_decode", (s, dir) => {
      val W = graft.operators.Web
      val w = W.withCharsetHttp(documents(s, dir))
      W.decodeCharset(w, "doc_id", "body", "content_type")
        .select(col("doc_id"), col("charset"), col("charset_src"), col("ok"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    },
      // charset decode: arm labels/provenance/ok from the fixture formulas;
      // text_md5 = md5 of the expected page restated as UTF-8 SQL literals —
      // the Spark side must decode the cp1252/Shift_JIS/Latin-1 bytes under
      // the right label to land on them
      charsetDecodeDual),
    // ...and the dedup CONSEQUENCE (the q_nfc_dedup pattern): the same
    // page served UTF-8 and cp1252 must fold onto ONE extracted-text
    // content key per doc — a UTF-8-assuming reader splits every pair
    Query("q_charset_dedup", (s, dir) => {
      val W = graft.operators.Web
      val w = W.withCharsetVariants(documents(s, dir))
      W.decodeCharset(w, "rid", "body", "content_type")
        .withColumn("ck", md5(W.htmlToText(col("text"))))
        .groupBy("ck").agg(count(lit(1)).as("n_variants"),
          min(col("rid")).as("keeper"))
        .orderBy("keeper")
    },
      // charset dedup consequence: each doc's pair folds onto one
      // extracted-text key (tag-stripping erases the meta difference)
      """SELECT md5('Shared doc ' || CAST(doc_id AS VARCHAR) || ' café Ümlaut €') AS ck,
        | CAST(2 AS BIGINT) AS n_variants, doc_id * 2 AS keeper
        | FROM documents ORDER BY keeper""".stripMargin.replace("\n", "")),
    // ...and the quarantine-OBSERVABILITY report (r18 —
    // the caps-report pattern): decode outcomes per provenance × charset ×
    // ok, so the silent-drop class is a gated number — the mojibake and
    // unknown-label quarantines are visible rows, and the new
    // `default-1252` provenance proves the legacy ladder fired
    Query("q_charset_report", (s, dir) => {
      val W = graft.operators.Web
      W.decodeCharset(W.withCharsetHttp(documents(s, dir)), "doc_id", "body",
          "content_type")
        .groupBy("charset_src", "charset", "ok")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("charset_src"), col("ok"), coalesce(col("charset"), lit("")))
    },
      // quarantine observability: decode outcome counts per provenance ×
      // charset × ok, from the same fixture CTE
      ("WITH" + charsetFixtureCte +
      """ SELECT charset_src, charset, ok, CAST(COUNT(*) AS BIGINT) AS n_docs
        | FROM cf GROUP BY 1, 2, 3
        | ORDER BY charset_src, ok, coalesce(charset, '')""".stripMargin
        .replace("\n", ""))),
    // WET round trip (r16): the engine's curated text serializes back into
    // the container format as `conversion` records — the Common Crawl WET
    // layout, THE artifact downstream LLM pipelines consume — and the
    // length-framed parser reads them back generically. serialize∘parse is
    // gated as an identity over REAL derived text (the funnel's extracted
    // pages), not fixture constants: URI/date/refers-to round-trip,
    // content_length lands exactly on block_octets, payload md5 equals the
    // extracted text's.
    Query("q_wet_roundtrip", (s, dir) =>
      wetRecordRows(graft.operators.Web.warcRecords(crawlWet(s, dir), "wet")),
      wetRoundtripDual),
    // ...and the full .wet.gz lane: the WET records land through the
    // PRODUCTION member-per-record gzip writer (no corruption arms — the
    // Common Crawl layout for curated text), decode, and parse back to the
    // SAME oracle as q_wet_roundtrip: the compressed lane is
    // output-identical to the uncompressed one, end to end over real
    // derived text.
    Query("q_wet_gz_roundtrip", (s, dir) => {
      val W = graft.operators.Web
      val gz = W.gzipWarcRecords(crawlWet(s, dir), "doc_id", "wet")
      wetRecordRows(W.warcRecords(W.gunzipWarc(gz, "doc_id", "warc_gz"), "warc"))
    },
      // the compressed lane shares the WET oracle verbatim: gzip round-trip
      // must be invisible to the parse
      wetRoundtripDual),
    // WAT round trip (r17): the metadata panel of the
    // WARC/WAT/WET triptych — per-response metadata (target URI, status,
    // mime, title, RESOLVED out-links) serializes as WAT-style JSON
    // metadata records and the length-framed parser reads them back;
    // from_json re-extracts the fields. parse∘serialize is an identity
    // over REAL derived metadata: content_length lands exactly on
    // block_octets, refers-to/date/uri round-trip, and the resolved link
    // LIST survives order-exact (links_md5 over the pipe-joined array).
    Query("q_wat_roundtrip", (s, dir) => {
      val W = graft.operators.Web
      val recs = crawl200s(s, dir)
      val meta = recs.select(col("doc_id"), col("target_uri").as("url"),
          col("warc_date"), col("http_status"), col("mime"), col("payload"))
        .withColumn("title",
          regexp_extract(col("payload"), "<title>(.*?)</title>", 1))
        .withColumn("links", transform(W.extractLinks(col("payload")),
          l => W.resolveUrl(col("url"), l)))
      val wat = W.toWat(meta, "doc_id", "url", "warc_date", "http_status",
        "mime", "title", "links")
      W.warcRecords(wat.select(col("doc_id"), col("wat")), "wat")
        .withColumn("j", from_json(col("payload"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "url STRING, status INT, mime STRING, title STRING, links ARRAY<STRING>")))
        .select(col("doc_id"), col("rec_type"), col("target_uri"),
          col("warc_date"), col("refers_to"), col("content_length"),
          col("block_octets"),
          col("j.url").as("j_url"), col("j.status").as("j_status"),
          col("j.mime").as("j_mime"), col("j.title").as("j_title"),
          size(col("j.links")).cast(LongType).as("n_links"),
          md5(array_join(col("j.links"), "|")).as("links_md5"))
        .orderBy("doc_id")
    },
      // WAT round trip: every field restates the WAT construction over the
      // 200-arm pages — the JSON byte layout (escape chain included), the
      // resolved-link list in document order (range-unnest ordinality), the
      // octet-exact Content-Length
      ("WITH " + warcCtes() + "," +
      s""" watm AS (SELECT doc_id, url, wdate, rbody FROM wblk WHERE m NOT IN (0, 1)),
         | hlw AS (SELECT doc_id, regexp_extract_all(rbody, 'href="([^"]*)"', 1) AS hrefs FROM watm),
         | lkw AS (SELECT doc_id, UNNEST(range(1, len(hrefs) + 1)) AS i, hrefs FROM hlw),
         | lk2 AS (SELECT doc_id, i, hrefs[CAST(i AS INTEGER)] AS href FROM lkw),
         | rbw AS (SELECT lk2.doc_id AS doc_id, i, href, regexp_replace(w.url, '#.*', '') AS basenf
         |  FROM lk2 JOIN watm w ON lk2.doc_id = w.doc_id),
         | rpw AS (SELECT doc_id, i, href, basenf,
         |   regexp_extract(basenf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS bscheme,
         |   regexp_extract(basenf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS bauth,
         |   regexp_extract(basenf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS bpath
         |  FROM rbw),
         | rrw AS (SELECT doc_id, i,
         |  CASE
         |   WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN href
         |   WHEN starts_with(href, '//') THEN bscheme || ':' || href
         |   WHEN starts_with(href, '/') THEN bscheme || '://' || bauth || ${dotsSql("href")}
         |   WHEN starts_with(href, '#') OR href = '' THEN basenf
         |   WHEN starts_with(href, '?') THEN bscheme || '://' || bauth || (CASE WHEN bpath = '' THEN '/' ELSE bpath END) || href
         |   ELSE bscheme || '://' || bauth || ${dotsSql(
              "((CASE WHEN bpath = '' THEN '/' ELSE regexp_replace(bpath, '[^/]*$', '') END) || href)")}
         |  END AS rurl
         | FROM rpw),
         | lks AS (SELECT doc_id,
         |   array_to_string(list('"' || replace(replace(rurl, chr(92), chr(92) || chr(92)), '"', chr(92) || '"') || '"' ORDER BY i), ',') AS linksj,
         |   array_to_string(list(rurl ORDER BY i), '|') AS linkskey,
         |   CAST(COUNT(*) AS BIGINT) AS nl
         |  FROM rrw GROUP BY doc_id),
         | wj AS (SELECT w.doc_id AS doc_id, w.url AS url, w.wdate AS wdate, l.nl AS nl,
         |   '{"url":"' || replace(replace(w.url, chr(92), chr(92) || chr(92)), '"', chr(92) || '"') ||
         |     '","status":200,"mime":"text/html","title":"Doc ' || CAST(w.doc_id AS VARCHAR) ||
         |     '","links":[' || l.linksj || ']}' AS json,
         |   l.linkskey AS linkskey
         |  FROM watm w JOIN lks l ON w.doc_id = l.doc_id)
         | SELECT doc_id, 'metadata' AS rec_type, url AS target_uri, wdate AS warc_date,
         |   'urn:graft:' || CAST(doc_id AS VARCHAR) || '-3' AS refers_to,
         |   CAST(octet_length(encode(json)) AS BIGINT) AS content_length,
         |   CAST(octet_length(encode(json)) AS BIGINT) AS block_octets,
         |   url AS j_url, 200 AS j_status, 'text/html' AS j_mime,
         |   'Doc ' || CAST(doc_id AS VARCHAR) AS j_title,
         |   nl AS n_links, md5(linkskey) AS links_md5
         | FROM wj ORDER BY doc_id""".stripMargin.replace("\n", ""))),
    // CROSS-PANEL CONSISTENCY (r17): a real dump's three panels must AGREE
    // — the WET conversion's payload is byte-identical to the pipeline's
    // extracted text, the WAT metadata's link count and title match the
    // direct extraction, and both panels refer to the SAME response
    // record. One plan over one parse (localCheckpoint, three consumers);
    // every value is data-derived through a serialize∘parse path, so a
    // drift in ANY panel's writer or the parser hash-fails here even if
    // the per-panel round-trip gates still pass individually.
    Query("q_cc_triptych", (s, dir) => {
      val W = graft.operators.Web
      val recs = crawl200s(s, dir)
        .select(col("doc_id"), col("target_uri").as("url"), col("warc_date"),
          col("http_status"), col("mime"), col("payload"))
        .localCheckpoint(false)
      val direct = recs.select(col("doc_id"),
        md5(W.htmlToText(col("payload"))).as("d_text_md5"),
        size(W.extractLinks(col("payload"))).cast(LongType).as("d_links"))
      val wet = W.warcRecords(
          W.toWet(recs.select(col("doc_id"), col("url"), col("warc_date"),
            W.htmlToText(col("payload")).as("text")),
            "doc_id", "url", "warc_date", "text")
            .select(col("doc_id"), col("wet")), "wet")
        .select(col("doc_id"), md5(col("payload")).as("wet_text_md5"),
          col("refers_to").as("wet_refers"))
      val meta = recs
        .withColumn("title",
          regexp_extract(col("payload"), "<title>(.*?)</title>", 1))
        .withColumn("links", transform(W.extractLinks(col("payload")),
          l => W.resolveUrl(col("url"), l)))
      val wat = W.warcRecords(
          W.toWat(meta, "doc_id", "url", "warc_date", "http_status", "mime",
            "title", "links").select(col("doc_id"), col("wat")), "wat")
        .withColumn("j", from_json(col("payload"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "url STRING, status INT, mime STRING, title STRING, links ARRAY<STRING>")))
        .select(col("doc_id"),
          size(col("j.links")).cast(LongType).as("wat_links"),
          col("j.title").as("wat_title"), col("refers_to").as("wat_refers"))
      direct.join(wet, Seq("doc_id")).join(wat, Seq("doc_id"))
        .select(col("doc_id"), col("d_text_md5"), col("wet_text_md5"),
          (col("d_text_md5") === col("wet_text_md5")).as("text_consistent"),
          col("d_links"), col("wat_links"),
          (col("d_links") === col("wat_links")).as("links_consistent"),
          (col("wet_refers") === col("wat_refers")).as("refers_consistent"),
          col("wat_title"))
        .orderBy("doc_id")
    },
      // triptych consistency: all three panels restate to the SAME direct
      // extraction — text md5 through WET, link count + title through WAT,
      // both refers-to edges landing on the response record
      ("WITH " + warcCtes() + "," +
      wsStripCtes("url, rbody AS html", "url, html", "rbody", "wblk WHERE m NOT IN (0, 1)") +
      """ wsrc AS (SELECT doc_id,
        |   trim(regexp_replace(t, '\s+', ' ', 'g')) AS tc,
        |   CAST(len(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS BIGINT) AS n_links
        |  FROM ws4)
        | SELECT doc_id, md5(tc) AS d_text_md5, md5(tc) AS wet_text_md5,
        |   TRUE AS text_consistent, n_links AS d_links, n_links AS wat_links,
        |   TRUE AS links_consistent, TRUE AS refers_consistent,
        |   'Doc ' || CAST(doc_id AS VARCHAR) AS wat_title
        | FROM wsrc ORDER BY doc_id""".stripMargin.replace("\n", ""))),
    // redirect-chain resolution (r16): the 301 Location
    // headers the fixture has planted since r15 are finally CONSUMED —
    // edges (target_uri → Location) canonicalize on both endpoints and a
    // bounded-iteration join (5 hops, cycle-safe via the path array — the
    // pageRank BSP idiom) resolves each chain to its terminal, classified
    // against the fetched-200 canon set: content (settled on a fetched
    // page), dangling (settled off-corpus), loop (revisited its own path).
    // Fixture arms by k = (id div 11) mod 6: dangling, 1-hop, 2-hop chain,
    // and a 2-cycle loop — all under the hash gate.
    Query("q_redirect_chains", (s, dir) => {
      val W = graft.operators.Web
      val w = W.synthCrawl(documents(s, dir))
      // r18 optimization: TWO consumers (the edge set and the landed-content
      // set) each re-ran the synthesis+parse without a lineage cut — the
      // q_warc_revisit lesson applied here. Project the three header columns
      // first so the checkpoint never materializes payloads (guide §2.3).
      val recs = W.warcRecords(w.select(col("doc_id"), col("warc")), "warc")
        .filter(col("rec_type") === "response")
        .select(col("http_status"), col("target_uri"), col("http_location"))
        .localCheckpoint(false)
      val edges = recs.filter(col("http_status") === 301 &&
          col("http_location").isNotNull)
        .select(W.urlCanonOf(col("target_uri")).as("src"),
          W.urlCanonOf(col("http_location")).as("dst"))
      val content = recs.filter(col("http_status") === 200)
        .select(W.urlCanonOf(col("target_uri")).as("final_url"))
        .distinct().withColumn("__has", lit(true))
      // no broadcast hint on the content set: page-granularity (AQE
      // broadcasts at bench scale, shuffles at corpus scale)
      W.resolveRedirectChains(edges, maxHops = 5)
        .join(content, Seq("final_url"), "left")
        .select(col("src"), col("final_url"), col("hops"),
          when(col("status") === "loop", lit("loop"))
            .when(col("status") === "settled" && coalesce(col("__has"), lit(false)),
              lit("content"))
            .when(col("status") === "settled", lit("dangling"))
            .otherwise(lit("exhausted")).as("outcome"))
        .orderBy("src")
    },
      // redirect chains: edges from the fixture formula (the SAME locTarget
      // expression the loch header construction uses), endpoints through the
      // canonical-key chain, 5 unrolled hop joins with identical freeze/loop
      // rules, outcome vs the fetched-200 canon set
      ("WITH " + warcCtes() + "," + redirectChainSql(5) + "," +
      """ rsrc AS (SELECT doc_id, '' AS text, url FROM wd WHERE m NOT IN (0, 1)),""".stripMargin.replace("\n", "") +
      canonChainSql("rsrc") + "," +
      """ c200 AS (SELECT DISTINCT url_canon FROM cn WHERE url_canon IS NOT NULL)
        | SELECT src, final_url, hops,
        |   CASE WHEN status = 'loop' THEN 'loop'
        |     WHEN status = 'settled' AND c.url_canon IS NOT NULL THEN 'content'
        |     WHEN status = 'settled' THEN 'dangling'
        |     ELSE 'exhausted' END AS outcome
        | FROM rchain LEFT JOIN c200 c ON rchain.final_url = c.url_canon
        | ORDER BY src""".stripMargin.replace("\n", ""))),
    // WARC revisit records (r16): a second crawl of the
    // same pages dedupes at capture time — every third page refetches as a
    // `revisit` record (WARC-Refers-To the original response + payload
    // digest, head-only block) instead of re-shipping the body. The
    // refers-to edge is a ZERO-COST exact-dup signal: revisit docs adopt
    // the referenced original's content-cluster keeper without shuffling
    // any content, and land in exactly the cluster content-key dedup gives
    // the full-response refetches; the digest cross-checks against the
    // original's content key.
    Query("q_warc_revisit", (s, dir) => {
      val W = graft.operators.Web
      // r19: typed synthesis — crawl1 reads the kernel's warc column and
      // the revisit builder's expressions (incl. md5(html)) ride over the
      // kernel's html column instead of re-inlining the synthesis tree
      val base = W.synthCrawl(documents(s, dir))
      val crawl1 = base.select(col("doc_id"), col("warc"))
      val crawl2 = W.withWarcRevisits(base, 100000L)
      val recs = W.warcRecords(crawl1.unionByName(crawl2), "warc")
      // localCheckpoint (lazy): three consumers below (cluster keepers,
      // the content labeling, the digest cross-check) would each re-run
      // the two-crawl synthesis+parse without the lineage cut
      val responses = recs.filter(col("rec_type") === "response" &&
          col("http_status") === 200)
        .select(col("doc_id"), md5(col("payload")).as("content_key"))
        .localCheckpoint(false)
      val keepers = responses.groupBy("content_key")
        .agg(min(col("doc_id")).as("keeper"))
      val byContent = responses.join(keepers, Seq("content_key"))
        .select(col("doc_id"), col("keeper"), lit("content").as("via"),
          lit(null).cast(BooleanType).as("digest_ok"))
      val revisits = recs.filter(col("rec_type") === "revisit")
        .select(col("doc_id"),
          regexp_extract(col("refers_to"), "urn:graft:([0-9]+)-", 1)
            .cast(LongType).as("ref_id"),
          col("payload_digest"))
      val byRevisit = revisits
        .join(byContent.select(col("doc_id").as("ref_id"), col("keeper")),
          Seq("ref_id"))
        .join(responses.select(col("doc_id").as("ref_id"),
          concat(lit("md5:"), col("content_key")).as("orig_digest")), Seq("ref_id"))
        .select(col("doc_id"), col("keeper"), lit("revisit").as("via"),
          (col("payload_digest") === col("orig_digest")).as("digest_ok"))
      byContent.unionByName(byRevisit).orderBy("doc_id")
    },
      // WARC revisits: content clusters from the construction (crawl1 bodies
      // + crawl2 full-response refetches), revisit docs adopt the referenced
      // original's keeper, digests cross-check the original's content key
      ("WITH " + warcCtes() + "," +
      """ rsp AS MATERIALIZED (SELECT doc_id, md5(rbody) AS ck FROM wblk WHERE m NOT IN (0, 1)
        |   UNION ALL
        |   SELECT doc_id + 100000, md5(html) FROM wblk WHERE m NOT IN (0, 1) AND doc_id % 3 <> 0),
        | kp AS (SELECT ck, min(doc_id) AS keeper FROM rsp GROUP BY ck),
        | bc AS MATERIALIZED (SELECT doc_id, keeper, 'content' AS via,
        |   CAST(NULL AS BOOLEAN) AS digest_ok FROM rsp JOIN kp USING (ck)),
        | rv AS (SELECT doc_id + 100000 AS doc_id, doc_id AS ref_id,
        |   'md5:' || md5(html) AS pd FROM wblk WHERE m NOT IN (0, 1) AND doc_id % 3 = 0),
        | br AS (SELECT rv.doc_id AS doc_id, b.keeper AS keeper, 'revisit' AS via,
        |   (rv.pd = 'md5:' || r2.ck) AS digest_ok
        |  FROM rv JOIN bc b ON rv.ref_id = b.doc_id
        |  JOIN rsp r2 ON rv.ref_id = r2.doc_id)
        | SELECT doc_id, keeper, via, digest_ok
        | FROM (SELECT * FROM bc UNION ALL SELECT * FROM br)
        | ORDER BY doc_id""".stripMargin.replace("\n", "")))
  )

  /** URL-family dual fragments: `u` restates [[graft.operators.Web.withUrls]]'s
    * messy-URL formula; `cn` restates [[graft.operators.Web.canonicalize]] —
    * same regexes (RE2 ∩ Java semantics: anchored, single-replacement-safe),
    * same param filter + lexicographic sort, same PSL-lite domain rule and
    * SURT layout.
    */
  private def urlCtes: String = urlFixtureCte + "," + canonChainSql("u")

  /** Just the messy-URL fixture CTE `u` (doc_id, text, url) — the shared
    * base of the URL duals and the HTML-page duals.
    */
  private def urlFixtureCte: String =
    """u AS (SELECT doc_id, text,
      |   CASE CAST((doc_id // 100) % 5 AS INTEGER)
      |     WHEN 0 THEN 'HTTP://WWW.' || upper(hb) || ':80' || art || '?utm_source=feed&x=2&id=' || cs || '#frag'
      |     WHEN 1 THEN 'https://' || hb || ':443' || art || '/?id=' || cs || '&x=2'
      |     WHEN 2 THEN 'https://' || hb || art || '?x=2&id=' || cs || '&utm_campaign=summer&gclid=g' || cs
      |     WHEN 3 THEN 'https://www.' || hb || art || '?id=' || cs || '&x=2&fbclid=f' || cs
      |     ELSE 'http://' || hb || ':8080' || art || '?id=' || cs END AS url
      |  FROM (SELECT doc_id, text, cs, art,
      |     CASE WHEN hs = '6' THEN 'news.example.co.uk'
      |       ELSE 'site' || hs || '.example-' || hs || '.com' END AS hb
      |   FROM (SELECT doc_id, text,
      |      CAST(doc_id % 100 AS VARCHAR) AS cs,
      |      CAST(doc_id % 100 % 7 AS VARCHAR) AS hs,
      |      '/articles/' || CAST(doc_id % 100 AS VARCHAR) AS art
      |     FROM documents)))""".stripMargin.replace("\n", "")

  /** The HTML-page fixture CTE `h` over `u` — the verbatim restatement of
    * [[graft.operators.Web.withHtml]]'s template.
    */
  private[suite] def htmlCtes: String = urlFixtureCte + "," + hBodyCte

  /** The `h` HTML-page CTE alone (r18) — for duals that already carry the
    * `u` URL fixture through [[robotsCtes]] and must not redefine it.
    */
  private def hBodyCte: String =
    """ h AS (SELECT doc_id, text, url,
      |   '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title><script>var x = 1 < 2;</script><style>.c{color:red}</style></head><body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text || ' &amp; tail &lt;tag&gt;</p><a href="' || url || '">first</a> <a href="HTTP://Example.COM/p?id=' || CAST(doc_id % 100 AS VARCHAR) || '#x">second</a> <a href="../other/page-' || CAST(doc_id % 100 AS VARCHAR) || '?x=1">third</a> <a href="//cdn.example-' || CAST(doc_id % 100 AS VARCHAR) || '.com/lib/app.js">fourth</a> <a href="/ROOT/./deep/page-' || CAST(doc_id % 100 AS VARCHAR) || '.html">fifth</a> <a href="https://user@media.example.org/m/' || CAST(doc_id % 100 AS VARCHAR) || '">sixth</a></body></html>' AS html
      |  FROM u)""".stripMargin.replace("\n", "")

  /** [[graft.operators.Web]]'s strip/decode/collapse tail restated over a
    * SQL fragment expression — tags to spaces, entities (&amp; last),
    * whitespace collapse, trim (r18).
    */
  private def stripSql(x: String): String =
    "trim(regexp_replace(replace(replace(replace(replace(replace(" +
      s"regexp_replace($x, '<[^>]*>', ' ', 'g')" +
      ", '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', ''''), " +
      "'&amp;', '&'), '\\s+', ' ', 'g'))"

  /** [[graft.operators.Web.htmlBlocks]] restated (r18):
    * script/style drop, block-tag boundaries (the SAME [[graft.operators
    * .Web.blockTagRe]] pattern text — one source of truth), per-block
    * strip/decode/collapse, word count, link-text mass via whole-anchor
    * removal, and the keep rule (word floor, link density < 1/2, terminal
    * punctuation with the long-block override). Yields CTE
    * `mblk$sfx(mid, block_idx, btext, words, link_chars, kept)` over a
    * source CTE carrying (idCol, htmlCol).
    */
  private def mainBlocksSql(src: String, idCol: String, htmlCol: String,
      sfx: String = ""): String =
    s""" mba$sfx AS (SELECT $idCol AS mid, regexp_replace(regexp_replace(regexp_replace($htmlCol,
       |   '(?s)<script.*?</script>', ' ', 'g'), '(?s)<style.*?</style>', ' ', 'g'),
       |   '${graft.operators.Web.blockTagRe}', chr(1), 'g') AS m FROM $src),
       | mbb$sfx AS (SELECT mid, string_split(m, chr(1)) AS lst FROM mba$sfx),
       | mbc$sfx AS (SELECT mid, i - 1 AS block_idx, lst[i] AS b
       |   FROM mbb$sfx, unnest(range(1, len(lst) + 1)) AS r(i)),
       | mbd$sfx AS (SELECT mid, block_idx, ${stripSql("b")} AS btext,
       |   ${stripSql(s"regexp_replace(b, '${graft.operators.Web.anchorRe}', ' ', 'g')")} AS ntext
       |  FROM mbc$sfx),
       | mbe$sfx AS (SELECT mid, block_idx, btext,
       |   CAST(len(string_split(btext, ' ')) AS BIGINT) AS words,
       |   CAST(len(btext) - len(ntext) AS BIGINT) AS link_chars
       |  FROM mbd$sfx WHERE btext <> ''),
       | mblk$sfx AS (SELECT mid, block_idx, btext, words, link_chars,
       |   (words >= 5 AND link_chars * 2 < len(btext)
       |     AND (words >= 10 OR regexp_matches(btext, '[.!?"'']$$'))) AS kept
       |  FROM mbe$sfx)""".stripMargin.replace("\n", "")

  /** [[graft.operators.Web.withChromeHtml]]'s construction restated. */
  private def chromeHtmlSql: String =
    """'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title></head><body><nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a> <a href="/pricing">Pricing</a> <a href="/blog">Blog</a></nav><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><div>We use cookies dialog Accept Decline</div><p>' || text || '.</p>' || (CASE CAST(doc_id % 4 AS INTEGER) WHEN 1 THEN '<aside><a href="/t1">Trending topic one</a> <a href="/t2">Trending topic two</a></aside>' WHEN 2 THEN '<div>Extra detail section for doc ' || CAST(doc_id AS VARCHAR) || ' covering many additional words beyond the floor</div>' WHEN 3 THEN '<p>Read on.</p>' ELSE '' END) || '<footer><a href="/privacy">Privacy</a> <a href="/terms">Terms</a> © 2024 Example Corp</footer></body></html>'"""

  /** [[graft.operators.Web.withChromeVariants]] restated: two rows per doc
    * sharing the heavy chrome template, bodies keyed on v. Yields CTE
    * `cv(doc_id, v, rid, html)`.
    */
  private def chromeVariantsCte: String =
    """ cv AS (SELECT doc_id, v, doc_id * 2 + v AS rid,
      |   '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title></head><body><nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a> <a href="/pricing">Pricing</a> <a href="/blog">Blog</a> <a href="/careers">Careers</a> <a href="/support">Support</a> <a href="/archive">Archive</a></nav><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><div>We use cookies dialog Accept Decline</div><p>' ||
      |   (CASE WHEN v = 0 THEN 'Original piece ' || CAST(doc_id AS VARCHAR) || ' explores alpha rivers and tall mountains today.'
      |     ELSE 'Revised essay ' || CAST(doc_id AS VARCHAR) || ' examines omega deserts plus deep canyons tonight.' END) ||
      |   '</p><aside><a href="/t1">Trending topic one</a> <a href="/t2">Trending topic two</a> <a href="/t3">Trending topic three</a></aside><footer><a href="/privacy">Privacy</a> <a href="/terms">Terms</a> © 2024 Example Corp</footer></body></html>' AS html
      |  FROM documents, unnest([CAST(0 AS BIGINT), CAST(1 AS BIGINT)]) AS t(v))""".stripMargin.replace("\n", "")

  /** Distinct word-3-shingle list over a SQL text expression (the
    * [[graft.operators.Dedup.shingles]] law: lowercased alnum-run tokens,
    * whole-token-list fallback for short texts, distinct).
    */
  private def shingleListSql(t: String): String = {
    val ws = s"list_filter(string_split_regex(regexp_replace(lower($t), " +
      "'[^\\p{L}\\p{Nd}]+', ' ', 'g'), ' '), w -> len(w) > 0)"
    s"list_distinct((SELECT CASE WHEN len(ws) - 2 <= 0 THEN [array_to_string(ws, ' ')] " +
      s"ELSE list_transform(range(0, len(ws) - 2), i -> array_to_string(list_slice(ws, i + 1, i + 3), ' ')) END " +
      s"FROM (SELECT $ws AS ws) __w))"
  }

  /** [[graft.operators.Web.urlOf]]'s messy-URL formula over an arbitrary
    * SQL id expression (r16) — the redirect fixture's Location targets are
    * `urlOf(id ± k)` values, so the dual needs the formula composable over
    * id arithmetic, not just the fixed `u` CTE.
    */
  private[suite] def urlSqlOf(i: String): String = {
    val c = s"CAST(($i) % 100 AS VARCHAR)"
    val h = s"CAST(($i) % 100 % 7 AS VARCHAR)"
    val hb = s"(CASE WHEN ($i) % 100 % 7 = 6 THEN 'news.example.co.uk' " +
      s"ELSE 'site' || $h || '.example-' || $h || '.com' END)"
    val art = s"('/articles/' || $c)"
    s"(CASE CAST((($i) // 100) % 5 AS INTEGER)" +
      s" WHEN 0 THEN 'HTTP://WWW.' || upper($hb) || ':80' || $art || '?utm_source=feed&x=2&id=' || $c || '#frag'" +
      s" WHEN 1 THEN 'https://' || $hb || ':443' || $art || '/?id=' || $c || '&x=2'" +
      s" WHEN 2 THEN 'https://' || $hb || $art || '?x=2&id=' || $c || '&utm_campaign=summer&gclid=g' || $c" +
      s" WHEN 3 THEN 'https://www.' || $hb || $art || '?id=' || $c || '&x=2&fbclid=f' || $c" +
      s" ELSE 'http://' || $hb || ':8080' || $art || '?id=' || $c END)"
  }

  /** The redirect fixture's Location-target formula over `wd` columns —
    * shared by the `loch` header construction and the redirect-edge CTE so
    * the two can never diverge (k = (doc_id div 11) mod 6: dangling /
    * 1-hop / 2-hop chain / loop arms — Web.withWarc r16).
    */
  private def locTargetSql: String =
    s"(CASE CAST((doc_id // 11) % 6 AS INTEGER)" +
      s" WHEN 0 THEN 'https://moved.example.net/p-' || cs" +
      s" WHEN 1 THEN ${urlSqlOf("doc_id + 1")}" +
      s" WHEN 3 THEN ${urlSqlOf("doc_id + 1")}" +
      s" WHEN 2 THEN ${urlSqlOf("doc_id + 11")}" +
      s" WHEN 4 THEN ${urlSqlOf("doc_id + 11")}" +
      s" ELSE ${urlSqlOf("doc_id - 11")} END)"

  /** The marker-in-payload quoted block
    * ([[graft.operators.Web.quotedWarcBlock]]) restated over the `crlf`
    * column.
    */
  private def quotedWarcBlockSql: String =
    "'<pre>quoted dump: WARC/1.0' || crlf || 'WARC-Type: response' || crlf || " +
      "'WARC-Target-URI: https://phantom.example/p' || crlf || " +
      "'Content-Length: 9999' || crlf || crlf || 'phantom body</pre>'"

  /** WARC construction dual (r15): restates [[graft.operators.Web.withWarc]]'s
    * segment formula — bodies, HTTP response block, octet Content-Lengths —
    * over the `h` HTML-fixture CTE, with corrupt members (`doc_id % 101 =
    * 100`) excluded up front (the parser must yield zero rows for them).
    * CRLF rides as a 1-row `k` CTE (`chr(13)||chr(10)`) since the
    * newline-stripped SQL string cannot carry literal control bytes.
    * Yields CTE `wblk` with (doc_id, url, wdate, m, infob, reqb, rbody,
    * respb). `embed = true` appends the quoted-marker block to 200-arm
    * bodies of `doc_id % 13 == 5` docs (the q_warc_parse length-framing
    * arm, r16).
    */
  private[suite] def warcCtes(embed: Boolean = false): String = {
    val embedSfx = if (embed)
      s" || (CASE WHEN doc_id % 13 = 5 THEN $quotedWarcBlockSql ELSE '' END)"
    else ""
    htmlCtes + "," +
    s""" k AS (SELECT chr(13) || chr(10) AS crlf),
      | wd AS (SELECT doc_id, url, html, crlf,
      |   printf('2024-%02d-%02dT%02d:15:00Z', CAST(doc_id % 12 + 1 AS INTEGER),
      |     CAST(doc_id % 28 + 1 AS INTEGER), CAST(doc_id % 24 AS INTEGER)) AS wdate,
      |   CAST(doc_id % 11 AS INTEGER) AS m,
      |   CAST(doc_id % 100 AS VARCHAR) AS cs
      |  FROM h, k WHERE doc_id % 101 <> 100),
      | wbod AS (SELECT *,
      |   'software: graft-crawler/1.0' || crlf || 'isPartOf: crawl-' || CAST(doc_id % 10 AS VARCHAR) || crlf AS infob,
      |   'GET ' || url || ' HTTP/1.1' || crlf || 'User-Agent: graftbot/1.0' || crlf AS reqb,
      |   CASE WHEN m = 0 THEN '<html><body>Not Found</body></html>' WHEN m = 1 THEN '' ELSE html$embedSfx END AS rbody,
      |   CASE WHEN m = 0 THEN '404 Not Found' WHEN m = 1 THEN '301 Moved Permanently' ELSE '200 OK' END AS sline,
      |   CASE WHEN m = 1 THEN 'Location: ' || $locTargetSql || crlf ELSE '' END AS loch
      |  FROM wd),
      | wblk AS (SELECT *,
      |   'HTTP/1.1 ' || sline || crlf || 'Content-Type: text/html; charset=UTF-8' || crlf || loch || crlf || rbody AS respb
      |  FROM wbod)""".stripMargin.replace("\n", "")
  }

  /** The URL split shared by [[canonKeySql]] and [[canonChainSql]]: the
    * `scheme`, `hostport`, `rawpath` and `rawq` columns of a `nofrag` column.
    */
  private lazy val urlPartsSql: String =
    s"""   lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |   regexp_replace(lower(regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '^.*@', '') AS hostport,
       |   regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS rawpath,
       |   regexp_extract(nofrag, '\\?([^#]*)', 1) AS rawq""".stripMargin.replace("\n", "")

  /** The normalized URL parts shared by [[canonKeySql]] and
    * [[canonChainSql]]: `host` (no port, no `www.`), `prt`, `pth` (no
    * trailing slashes, `/` when empty) and `qs` (tracking parameters
    * dropped, the rest sorted) from the [[urlPartsSql]] columns.
    */
  private lazy val urlNormSql: String =
    s"""   regexp_replace(regexp_replace(hostport, ':[0-9]+$$', ''), '^www\\.', '') AS host,
       |   regexp_extract(hostport, ':([0-9]+)$$', 1) AS prt,
       |   CASE WHEN regexp_replace(rawpath, '/+$$', '') = '' THEN '/'
       |     ELSE regexp_replace(rawpath, '/+$$', '') END AS pth,
       |   array_to_string(list_sort(list_filter(string_split(rawq, '&'),
       |     q -> len(q) > 0 AND NOT regexp_matches(q, '^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid)='))), '&') AS qs""".stripMargin.replace("\n", "")

  /** Canonical-key CTE chain over an arbitrary source CTE carrying a `url`
    * column plus `cols` passthroughs, with suffixed CTE names so it can
    * coexist with [[canonChainSql]] (and with a second instance of itself)
    * in one WITH — restates [[graft.operators.Web.urlCanonOf]]. Yields
    * `ck$sfx` (cols…, url_canon), MATERIALIZED (consumers join it twice).
    */
  private def canonKeySql(src: String, sfx: String, cols: String): String =
    s""" ka$sfx AS (SELECT $cols, regexp_replace(url, '#.*', '') AS nofrag FROM $src),
       | kb$sfx AS (SELECT $cols,$urlPartsSql FROM ka$sfx),
       | kc$sfx AS (SELECT $cols, scheme,$urlNormSql
       |  FROM kb$sfx),
       | ck$sfx AS MATERIALIZED (SELECT $cols,
       |   CASE WHEN scheme = '' OR host = '' THEN NULL
       |     ELSE scheme || '://' || host ||
       |       (CASE WHEN prt <> '' AND NOT ((scheme = 'http' AND prt = '80') OR (scheme = 'https' AND prt = '443')) THEN ':' || prt ELSE '' END)
       |       || pth || (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END) END AS url_canon
       |  FROM kc$sfx)""".stripMargin.replace("\n", "")

  /** Redirect edges + bounded chain resolution (r16, the
    * [[graft.operators.Web.resolveRedirectChains]] dual): edge set from the
    * `wd` fixture frame (src = the 301 doc's url, dst = the shared
    * [[locTargetSql]] formula), both endpoints through [[canonKeySql]],
    * then `maxHops` UNROLLED left joins with the same freeze/loop rules.
    * Yields CTE `rchain` (src, final_url, hops, status).
    */
  private[suite] def redirectChainSql(maxHops: Int, src: String = "wd"): String = {
    val hops = (1 to maxHops).map { i =>
      val p = s"h${i - 1}"
      s""" h$i AS (SELECT start,
         |   CASE WHEN status = 'active' AND e.dst IS NOT NULL THEN e.dst ELSE cur END AS cur,
         |   CASE WHEN status = 'active' AND e.dst IS NOT NULL THEN hops + 1 ELSE hops END AS hops,
         |   CASE WHEN status = 'active' AND e.dst IS NOT NULL THEN list_append(path, e.dst) ELSE path END AS path,
         |   CASE WHEN status <> 'active' THEN status
         |     WHEN e.dst IS NULL THEN 'settled'
         |     WHEN list_contains(path, e.dst) THEN 'loop'
         |     ELSE 'active' END AS status
         |  FROM $p LEFT JOIN e ON $p.cur = e.src)""".stripMargin.replace("\n", "")
    }.mkString(",")
    s""" red AS (SELECT doc_id, url AS src_url, $locTargetSql AS dst_url
       |  FROM $src WHERE m = 1),
       | reu AS (SELECT doc_id, 'src' AS kind, src_url AS url FROM red
       |   UNION ALL SELECT doc_id, 'dst', dst_url FROM red),""".stripMargin
      .replace("\n", "") +
      canonKeySql("reu", "e", "doc_id, kind") + "," +
      s""" ec AS (SELECT s.url_canon AS src, d.url_canon AS dst
         |  FROM cke s JOIN cke d ON s.doc_id = d.doc_id
         |  WHERE s.kind = 'src' AND d.kind = 'dst'),
         | e AS MATERIALIZED (SELECT src, min(dst) AS dst FROM ec
         |   WHERE src IS NOT NULL AND dst IS NOT NULL GROUP BY src),
         | h0 AS (SELECT src AS start, src AS cur, 0 AS hops, [src] AS path,
         |   'active' AS status FROM e),""".stripMargin.replace("\n", "") +
      hops + "," +
      s""" rchain AS (SELECT start AS src, cur AS final_url,
         |   CAST(hops AS BIGINT) AS hops,
         |   CASE WHEN status = 'active' THEN 'exhausted' ELSE status END AS status
         |  FROM h$maxHops)""".stripMargin.replace("\n", "")
  }

  /** Robots fixture + REP parse dual (r15): pages (host/path from the
    * messy-URL fixture via the [[canonChainSql]] regexes), per-host robots
    * bodies restated from [[graft.operators.Web.robotsTxt]], then the SAME
    * relational parse [[graft.operators.Web.robotsRules]] runs — line
    * split with ordinality (the `unnest(range(...))` zip pattern),
    * comment/blank/unknown-directive filters, first-colon cut, UA-run
    * block assembly with one lag+sum window, rules×agents join. Yields
    * CTEs `pg` (doc_id, host, path) and `rules` (host, agent, directive,
    * prefix, ln).
    */
  private def robotsCtes: String = urlFixtureCte + "," + robotsParseCtes

  /** The robots CTE chain from the page frame onward (`pg` … `rules`) —
    * factored out so the crawl-curation dual can compose it with
    * [[warcCtes]] (which already carries the `u` URL fixture) without
    * redefining `u`.
    */
  private def robotsParseCtes: String = {
    def lines(ls: Seq[String]) = ls.map(l => s"'$l'").mkString(" || chr(10) || ") +
      " || chr(10)"
    val base = lines(Seq("# graft robots fixture", "User-agent: *",
      "Disallow: /private/", "Allow: /private/ok/", "Disallow: /articles/1",
      "Allow: /articles/12", "Disallow: /articles/3", "Allow: /articles/3",
      "Disallow: /articles/*4", "Disallow: /articles/7$", "Crawl-delay: 5"))
    val graftGrp = lines(Seq("User-agent: graftbot", "Disallow: /", "Allow: /articles/",
      "Crawl-delay: 2"))
    val stacked = lines(Seq("User-agent: graftbot", "User-agent: newsbot",
      "Disallow: /articles/2"))
    val emptyGrp = lines(Seq("User-agent: emptybot", "Disallow:"))
    val delayOnlyGrp = lines(Seq("User-agent: delayonly", "Crawl-delay: 9"))
    s""" pg AS (SELECT doc_id,
       |   regexp_replace(regexp_replace(regexp_replace(lower(regexp_extract(regexp_replace(url, '#.*', ''), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '^.*@', ''), ':[0-9]+$$', ''), '^www\\.', '') AS host,
       |   ${pathSqlOf("url")} AS path
       |  FROM u),
       | rhs AS (SELECT DISTINCT host FROM pg),
       | rbg AS (SELECT host, CAST(coalesce(nullif(regexp_extract(host, '([0-9])', 1), ''), '7') AS INTEGER) AS g FROM rhs),
       | rbx AS (SELECT host, 'Sitemap: https://' || host || '/sitemap.xml' || chr(10) ||
       |   CASE WHEN g = 7 THEN 'Sitemap: https://' || host || '/news-sitemap.xml' || chr(10) ELSE '' END ||
       |   $base ||
       |   CASE WHEN g % 2 = 0 THEN $graftGrp ELSE '' END ||
       |   CASE WHEN g = 3 THEN $stacked ELSE '' END ||
       |   CASE WHEN g = 5 THEN $emptyGrp ELSE '' END ||
       |   CASE WHEN g = 1 THEN $delayOnlyGrp ELSE '' END AS robots FROM rbg),
       | rsp AS (SELECT host, string_split(robots, chr(10)) AS lst FROM rbx),
       | rln AS (SELECT host, UNNEST(range(1, len(lst) + 1)) AS i, lst FROM rsp),
       | rfl AS (SELECT host, i - 1 AS ln, trim(lst[i]) AS line FROM rln
       |   WHERE trim(lst[i]) <> '' AND NOT starts_with(trim(lst[i]), '#')),
       | rkv AS (SELECT host, ln,
       |   lower(trim(regexp_extract(line, '^([^:]+):', 1))) AS key,
       |   trim(regexp_extract(line, '^[^:]+:(.*)$$', 1)) AS value FROM rfl),
       | rmk AS (SELECT *, (key = 'user-agent') AS is_ua FROM rkv
       |   WHERE key IN ('user-agent', 'allow', 'disallow')),
       | rlg AS (SELECT *, coalesce(lag(is_ua) OVER (PARTITION BY host ORDER BY ln), FALSE) AS prev_ua FROM rmk),
       | rbl AS (SELECT *, sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END) OVER (PARTITION BY host ORDER BY ln) AS blk FROM rlg),
       | rag AS (SELECT host, blk, lower(value) AS agent FROM rbl WHERE is_ua),
       | rrl AS (SELECT host, blk, key AS directive, value AS prefix, ln FROM rbl WHERE NOT is_ua),
       | rules AS (SELECT rrl.host AS host, agent, directive, prefix, rrl.ln AS ln
       |   FROM rrl JOIN rag ON rrl.host = rag.host AND rrl.blk = rag.blk)""".stripMargin.replace("\n", "")
  }

  /** [[graft.operators.Web.robotsPathMatches]] restated: same metachar
    * detection, same trailing-`$` cut, same escape list in the same order,
    * `*` → `.*` last — the translated regex is RE2∩Java-safe by
    * construction.
    */
  private def robotsMatchSql(path: String, prefix: String): String = {
    val chars = Seq("\\", ".", "+", "?", "(", ")", "[", "]", "{", "}", "|", "^", "$")
    val body = s"(CASE WHEN ends_with($prefix, '$$') THEN left($prefix, len($prefix) - 1) ELSE $prefix END)"
    val esc = chars.foldLeft(body)((acc, ch) => s"replace($acc, '$ch', '\\$ch')")
    s"(CASE WHEN contains($prefix, '*') OR ends_with($prefix, '$$')" +
      s" THEN regexp_matches($path, '^' || replace($esc, '*', '.*') ||" +
      s" (CASE WHEN ends_with($prefix, '$$') THEN '$$' ELSE '' END))" +
      s" ELSE starts_with($path, $prefix) END)"
  }

  /** [[graft.operators.Web.pathOf]] restated over a SQL url expression —
    * shared by the page frame (`pg`), the sitemap frontier, and any other
    * robots-subject CTE.
    */
  private def pathSqlOf(url: String): String =
    s"CASE WHEN regexp_replace(regexp_extract(regexp_replace($url, '#.*', ''), " +
      s"'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$$', '') = '' THEN '/' " +
      s"ELSE regexp_replace(regexp_extract(regexp_replace($url, '#.*', ''), " +
      s"'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$$', '') END"

  /** The effective per-host Crawl-delay chain (factored r18, shared by the
    * two scheduler duals): UA + crawl-delay lines from `rkv`, run-rule
    * group assembly, agent-specific-beats-`*` resolution with the 1 s
    * default. Requires `rkv` and `rhs` ([[robotsParseCtes]]); yields CTE
    * `hdl(host, delay_s)`.
    */
  private def crawlDelayCtes: String =
    """ cdm AS (SELECT *, (key = 'user-agent') AS is_ua FROM rkv
      |   WHERE key IN ('user-agent', 'crawl-delay')),
      | cdg AS (SELECT *, coalesce(lag(is_ua) OVER (PARTITION BY host ORDER BY ln), FALSE) AS prev_ua FROM cdm),
      | cdb AS (SELECT *, sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END) OVER (PARTITION BY host ORDER BY ln) AS blk FROM cdg),
      | cda AS (SELECT host, blk, lower(value) AS agent FROM cdb WHERE is_ua),
      | cdd AS (SELECT host, blk, CASE WHEN regexp_matches(value, '^[0-9]+(\.[0-9]+)?$') THEN CAST(value AS DOUBLE) END AS delay_s FROM cdb WHERE NOT is_ua),
      | cdr AS (SELECT cdd.host AS host, agent, delay_s FROM cdd
      |   JOIN cda ON cdd.host = cda.host AND cdd.blk = cda.blk
      |   WHERE delay_s IS NOT NULL),
      | hga AS (SELECT DISTINCT host, lower(value) AS agent FROM cdm WHERE is_ua),
      | hdl AS (SELECT r.host AS host,
      |   CASE WHEN g1.host IS NOT NULL THEN coalesce(sp.delay_s, 1.0)
      |     ELSE coalesce(st.delay_s, 1.0) END AS delay_s FROM rhs r
      |   LEFT JOIN (SELECT DISTINCT host FROM hga WHERE agent = 'graftbot') g1 ON r.host = g1.host
      |   LEFT JOIN (SELECT host, min(delay_s) AS delay_s FROM cdr WHERE agent = 'graftbot' GROUP BY host) sp ON r.host = sp.host
      |   LEFT JOIN (SELECT host, min(delay_s) AS delay_s FROM cdr WHERE agent = '*' GROUP BY host) st ON r.host = st.host)""".stripMargin.replace("\n", "")

  /** One agent's REP decision chain (suffix `$s` keeps the two agents'
    * CTEs disjoint): group selection, empty-pattern drop, RFC 9309 pattern
    * match (`*`/trailing-`$`; literal fast path),
    * longest-match/Allow-ties winner, no-match → allowed. `pgCte` names
    * the pages frame (doc_id, host, path) — the corpus `pg` by default,
    * the sitemap frontier for the discovery dual.
    */
  /** One oracle text for q_robots_filter AND q_robots_join_parity — the
    * broadcast and shuffle-join strategies must be output-identical (r16).
    */
  private lazy val robotsFilterDual: String =
    "WITH " + robotsCtes + "," +
      robotsDecisionSql("1", "graftbot") + "," +
      robotsDecisionSql("2", "otherbot") + "," +
      robotsDecisionSql("3", "delayonly") +
      """ SELECT doc_id, agent, host, path, matched_prefix, matched_directive,
        |  allowed FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2
        |    UNION ALL SELECT * FROM d3)
        | ORDER BY doc_id, agent""".stripMargin.replace("\n", "")

  private def robotsDecisionSql(s: String, agent: String,
      pgCte: String = "pg"): String =
    // r16 advisor fix: group presence from the DECLARED UA lines (rmk's
    // user-agent rows), not from the rules output — a group whose lines
    // are all unknown directives still owns its agent (allow-all)
    s""" hsp$s AS (SELECT DISTINCT host FROM rmk
       |   WHERE is_ua AND lower(value) = '$agent'),""".stripMargin
      .replace("\n", "") +
    s"""
       | ch$s AS (SELECT r.host AS host, directive, prefix, ln FROM rules r
       |   LEFT JOIN hsp$s h ON r.host = h.host
       |   WHERE ((h.host IS NOT NULL AND r.agent = '$agent') OR (h.host IS NULL AND r.agent = '*'))
       |     AND prefix <> ''),
       | mt$s AS (SELECT doc_id, p.host AS host, path, directive, prefix, ln
       |   FROM $pgCte p JOIN ch$s c ON p.host = c.host AND ${robotsMatchSql("p.path", "c.prefix")}),
       | wn$s AS (SELECT doc_id, directive, prefix FROM (
       |   SELECT doc_id, directive, prefix, row_number() OVER (PARTITION BY doc_id
       |     ORDER BY len(prefix) DESC, directive ASC, ln ASC) AS rn FROM mt$s) WHERE rn = 1),
       | d$s AS (SELECT p.doc_id AS doc_id, '$agent' AS agent, p.host AS host, p.path AS path,
       |   w.prefix AS matched_prefix, w.directive AS matched_directive,
       |   coalesce(w.directive = 'allow', TRUE) AS allowed
       |  FROM $pgCte p LEFT JOIN wn$s w ON p.doc_id = w.doc_id)""".stripMargin.replace("\n", "")

  /** [[graft.operators.Web.sitemapXml]]'s fixture restated as a SQL
    * expression over (host, g) — entry arms generated from the same Scala
    * loop shape as the Spark side.
    */
  private def sitemapXmlSql: String = {
    def entry(i: Int): String = {
      val c = s"CAST((g * 13 + $i * 7) % 100 AS VARCHAR)"
      val loc = s"'https://' || host || '/articles/' || $c" +
        (if (i == 2) " || '?a=1&amp;b=2'" else "")
      val locw =
        if (i == 1) s"chr(10) || '    ' || $loc || '  ' || chr(10) || '  '" else loc
      val year = if (i == 0) "2025" else "2024"
      val lastmod = if (i % 2 == 0)
        s" || '<lastmod>$year-0' || CAST((g + $i) % 9 + 1 AS VARCHAR) || '-1${i % 9}</lastmod>'"
      else ""
      val cf = if (i % 3 == 0) " || '<changefreq>daily</changefreq>'" else ""
      val pr = if (i % 3 == 1) s" || '<priority>0.${(i + 3) % 10}</priority>'" else ""
      s"(CASE WHEN $i < g % 3 + 3 THEN '<url><loc>' || $locw || '</loc>'$lastmod$cf$pr || '</url>' || chr(10) ELSE '' END)"
    }
    val header = """'<?xml version="1.0" encoding="UTF-8"?>' || chr(10)"""
    val urlset = header +
      """ || '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' || chr(10) || """ +
      (0 to 4).map(entry).mkString(" || ") + " || '</urlset>' || chr(10)"
    val index = header +
      """ || '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' || chr(10) ||""" +
      " '<sitemap><loc>https://' || host || '/sitemap-1.xml</loc><lastmod>2024-01-15</lastmod></sitemap>' || chr(10) ||" +
      " '<sitemap><loc>https://' || host || '/sitemap-2.xml</loc></sitemap>' || chr(10) || '</sitemapindex>' || chr(10)"
    s"(CASE WHEN g = 4 THEN $index ELSE $urlset END)"
  }

  /** Sitemap construction + parse dual (requires `rhs` from
    * [[robotsParseCtes]]): yields CTE `smu` (host, kind, seq, loc,
    * lastmod, changefreq, priority) — the same regex block extraction and
    * per-entry field pulls as [[graft.operators.Web.sitemapEntries]].
    */
  private def sitemapCtes: String =
    s""" smg AS (SELECT host, CAST(coalesce(nullif(regexp_extract(host, '([0-9])', 1), ''), '7') AS INTEGER) AS g FROM rhs),
       | smx AS (SELECT host, $sitemapXmlSql AS xml FROM smg),
       | smb AS (SELECT host, xml, CASE WHEN contains(xml, '<sitemapindex') THEN regexp_extract_all(xml, '(?s)<sitemap>(.*?)</sitemap>', 1) ELSE regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1) END AS lst FROM smx),
       | sme AS (SELECT host, xml, UNNEST(range(1, len(lst) + 1)) AS i, lst FROM smb),
       | smu AS (SELECT host,
       |   CASE WHEN contains(xml, '<sitemapindex') THEN 'sitemap' ELSE 'url' END AS kind,
       |   CAST(i - 1 AS BIGINT) AS seq,
       |   replace(regexp_replace(regexp_extract(lst[i], '(?s)<loc>(.*?)</loc>', 1), '^\\s+|\\s+$$', '', 'g'), '&amp;', '&') AS loc,
       |   nullif(regexp_extract(lst[i], '<lastmod>(.*?)</lastmod>', 1), '') AS lastmod,
       |   nullif(regexp_extract(lst[i], '<changefreq>(.*?)</changefreq>', 1), '') AS changefreq,
       |   CAST(nullif(regexp_extract(lst[i], '<priority>(.*?)</priority>', 1), '') AS DOUBLE) AS priority
       |  FROM sme)""".stripMargin.replace("\n", "")

  /** The CASE-semantics registrable domain of every [[pslHosts]] host. */
  private lazy val pslDomainsDual: String = {
    val sufs = graft.operators.Web.pslSuffixes.map(s => s"'$s'").mkString(", ")
    val n = graft.operators.Web.pslSuffixes.size
    s"""WITH sx AS (SELECT doc_id, ([$sufs])[CAST(doc_id % $n AS INTEGER) + 1] AS suf FROM documents),
       | hx AS (SELECT doc_id, (CASE WHEN doc_id % 3 = 0 THEN 'sub.' ELSE '' END) ||
       |   'w' || CAST(doc_id % 100 AS VARCHAR) || '.' || suf AS host FROM sx),
       | lx AS (SELECT doc_id, host, string_split(host, '.') AS labels FROM hx)
       | SELECT doc_id, host, ${pslDomainCaseSql("host", "labels")} AS registrable
       | FROM lx ORDER BY doc_id""".stripMargin.replace("\n", "")
  }

  /** The PSL longest-suffix-match CASE, generated from the SAME committed
    * data file [[graft.operators.Web.pslSuffixes]] the Spark kernel
    * resolves against (the hyperplanes/mixtureWeights single-constant
    * precedent) — label-count-desc order so `act.edu.au` beats `edu.au`.
    */
  private def pslDomainCaseSql(host: String, labels: String): String = {
    val longestFirst = graft.operators.Web.pslSuffixes.sortBy(s => (-s.count(_ == '.'), s))
    val branches = longestFirst.map { sfx =>
      val keep = sfx.count(_ == '.') + 2
      s"WHEN ends_with($host, '.$sfx') THEN array_to_string($labels[-$keep:], '.')"
    }
    s"CASE WHEN len($labels) <= 2 THEN $host ${branches.mkString(" ")} " +
      s"ELSE array_to_string($labels[-2:], '.') END"
  }

  /** [[graft.operators.Web.removeDotSegments]] dual: the identical bounded
    * regex chain (all RE2-safe, all 'g' = Spark's replace-all) over a SQL
    * expression `x`.
    */
  private def dotsSql(x: String): String = {
    val nd = s"regexp_replace(regexp_replace(regexp_replace($x, " +
      "'/\\./', '/', 'g'), '/\\./', '/', 'g'), '/\\.$', '/', 'g')"
    val popped = (1 to 4).foldLeft(nd)((acc, _) =>
      s"regexp_replace(regexp_replace($acc, '/[^/]+/\\.\\./', '/', 'g'), " +
        "'/[^/]+/\\.\\.$', '/', 'g')")
    s"regexp_replace(regexp_replace($popped, " +
      "'^(/\\.\\./)+', '/', 'g'), '^/\\.\\.$', '/', 'g')"
  }

  /** The canonicalization CTE chain (`pr`→`p2`→`p3`→`p4`→`cn`) over any
    * source CTE carrying (doc_id, text, url) — shared by the URL-fixture
    * duals and the HTML-link duals. `extra` names passthrough columns
    * (e.g. ", href") carried to the final `cn`. r14: userinfo strips with
    * the same greedy `^.*@` as the Spark chain, the registrable domain is
    * the generated PSL CASE, and empty scheme/host NULLs all three
    * canonical keys.
    */
  private def canonChainSql(src: String, extra: String = ""): String =
    s""" pr AS (SELECT doc_id, text$extra, url, regexp_replace(url, '#.*', '') AS nofrag FROM $src),
      | p2 AS (SELECT doc_id, text$extra, url,$urlPartsSql FROM pr),
      | p3 AS (SELECT doc_id, text$extra, url, scheme,$urlNormSql
      |  FROM p2),
      | p4 AS (SELECT doc_id, text$extra, url, scheme, host, pth, qs,
      |   CASE WHEN prt <> '' AND NOT ((scheme = 'http' AND prt = '80') OR (scheme = 'https' AND prt = '443'))
      |     THEN ':' || prt ELSE '' END AS portsfx,
      |   CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS qsfx,
      |   string_split(host, '.') AS labels FROM p3),
      | cn AS (SELECT doc_id, text$extra, url,
      |   CASE WHEN scheme = '' OR host = '' THEN NULL
      |     ELSE scheme || '://' || host || portsfx || pth || qsfx END AS url_canon,
      |   CASE WHEN scheme = '' OR host = '' THEN NULL
      |     ELSE ${pslDomainCaseSql("host", "labels")} END AS domain,
      |   CASE WHEN scheme = '' OR host = '' THEN NULL
      |     ELSE array_to_string(list_reverse(labels), ',') || portsfx || ')' || pth || qsfx END AS surt
      |  FROM p4)""".stripMargin.replace("\n", "")

  /** One oracle text for q_wet_roundtrip AND q_wet_gz_roundtrip — the
    * compressed lane must be output-identical to the uncompressed one.
    */
  /** One oracle text for q_warc_gz_parse AND q_warc_gz_members (r17): the
    * whole-payload decode and the bounded-memory per-member walk must be
    * record-for-record identical — the construction restated, minus
    * exactly the records the corruption arms quarantine.
    */
  private lazy val warcGzParseDual: String =
    warcRecordsDual(embed = false, respWhere = " WHERE doc_id % 89 <> 88")

  /** Every record of the synthetic crawl's WARC restated from its
    * construction: warcinfo, request and response blocks with their octet
    * lengths and payload md5s (corrupt members are absent from `wblk`).
    * `respWhere` filters the response rows.
    */
  private def warcRecordsDual(embed: Boolean, respWhere: String): String =
    "WITH " + warcCtes(embed) +
      s""" SELECT doc_id, rec_pos, rec_type, target_uri, warc_date, content_length,
         |   http_status, mime, block_octets, payload_md5 FROM (
         |  SELECT doc_id, CAST(1 AS BIGINT) AS rec_pos, 'warcinfo' AS rec_type,
         |    '' AS target_uri, wdate AS warc_date,
         |    CAST(octet_length(encode(infob)) AS BIGINT) AS content_length,
         |    CAST(NULL AS INTEGER) AS http_status, CAST(NULL AS VARCHAR) AS mime,
         |    CAST(octet_length(encode(infob)) AS BIGINT) AS block_octets,
         |    md5(infob) AS payload_md5 FROM wblk
         |  UNION ALL
         |  SELECT doc_id, CAST(2 AS BIGINT), 'request', url, wdate,
         |    CAST(octet_length(encode(reqb)) AS BIGINT), CAST(NULL AS INTEGER),
         |    CAST(NULL AS VARCHAR), CAST(octet_length(encode(reqb)) AS BIGINT),
         |    md5(reqb) FROM wblk
         |  UNION ALL
         |  SELECT doc_id, CAST(3 AS BIGINT), 'response', url, wdate,
         |    CAST(octet_length(encode(respb)) AS BIGINT),
         |    CASE WHEN m = 0 THEN 404 WHEN m = 1 THEN 301 ELSE 200 END,
         |    'text/html', CAST(octet_length(encode(respb)) AS BIGINT),
         |    md5(rbody) FROM wblk$respWhere
         | ) ORDER BY doc_id, rec_pos""".stripMargin.replace("\n", "")

  /** One oracle text for q_charset_decode AND its streaming twin; the `cf`
    * CTE also feeds q_charset_report (r18 — the quarantine-observability
    * row).
    */
  private lazy val charsetFixtureCte: String =
      """ cf AS (SELECT doc_id, text,
        |  CASE WHEN doc_id % 29 = 7 OR doc_id % 31 = 11 THEN NULL
        |    WHEN doc_id % 37 = 13 THEN 'utf-16le'
        |    WHEN doc_id % 41 = 17 THEN 'utf-8'
        |    WHEN doc_id % 47 = 19 THEN 'windows-1252'
        |    WHEN doc_id % 5 = 1 THEN 'iso-8859-1'
        |    WHEN doc_id % 5 = 2 THEN 'windows-1252'
        |    WHEN doc_id % 5 = 3 THEN 'shift_jis'
        |    ELSE 'utf-8' END AS charset,
        |  CASE WHEN doc_id % 29 = 7 OR doc_id % 31 = 11 THEN 'header'
        |    WHEN doc_id % 37 = 13 OR doc_id % 41 = 17 THEN 'bom'
        |    WHEN doc_id % 47 = 19 THEN 'default-1252'
        |    WHEN doc_id % 5 IN (0, 1) THEN 'header'
        |    WHEN doc_id % 5 IN (2, 3) THEN 'meta'
        |    ELSE 'default' END AS charset_src,
        |  (doc_id % 29 <> 7 AND doc_id % 31 <> 11) AS ok,
        |  CASE WHEN doc_id % 29 = 7 OR doc_id % 31 = 11 THEN NULL
        |    WHEN doc_id % 37 = 13 THEN '<html><head></head><body><p>Doc ' || CAST(doc_id AS VARCHAR) || ' utf16 page ✓</p></body></html>'
        |    WHEN doc_id % 41 = 17 THEN '<html><head></head><body><p>Doc ' || CAST(doc_id AS VARCHAR) || ' bom page €</p></body></html>'
        |    WHEN doc_id % 47 = 19 THEN '<html><head></head><body><p>Doc ' || CAST(doc_id AS VARCHAR) || ' legacy café Ümlaut €99</p></body></html>'
        |    WHEN doc_id % 5 = 0 THEN '<html><head></head><body><p>Doc ' || CAST(doc_id AS VARCHAR) || ' ' || text || ' café № Ümlaut 日本語</p></body></html>'
        |    WHEN doc_id % 5 = 1 THEN '<html><head></head><body><p>Doc ' || CAST(doc_id AS VARCHAR) || ' café Ümlaut ±°</p></body></html>'
        |    WHEN doc_id % 5 = 2 THEN '<html><head><meta charset="windows-1252"></head><body><p>Doc ' || CAST(doc_id AS VARCHAR) || ' café Ümlaut €99</p></body></html>'
        |    WHEN doc_id % 5 = 3 THEN '<html><head><meta http-equiv="Content-Type" content="text/html; charset=Shift_JIS"></head><body><p>Doc ' || CAST(doc_id AS VARCHAR) || ' 日本語テキスト 円</p></body></html>'
        |    ELSE '<html><head></head><body><p>Doc ' || CAST(doc_id AS VARCHAR) || ' ' || text || ' ✓</p></body></html>' END AS expected
        | FROM documents)""".stripMargin.replace("\n", "")

  private[suite] lazy val charsetDecodeDual: String =
    "WITH" + charsetFixtureCte +
      """ SELECT doc_id, charset, charset_src, ok, md5(expected) AS text_md5
        | FROM cf ORDER BY doc_id""".stripMargin.replace("\n", "")

  /** One oracle text for q_domain_rank AND q_domain_rank_wat (r17):
    * the rank table derived from the WAT panel must equal the one from
    * the raw pages to the last decimal-exact rank.
    */
  private lazy val domainRankDual: String =
    "WITH " + htmlCtes + "," + domainRankChainCtes +
      " SELECT domain, rank FROM drank ORDER BY domain"

  /** Every page link resolved against its page URL in DuckDB — absolute,
    * scheme-relative, absolute-path, fragment, query and relative-path
    * references, dot segments removed ([[dotsSql]]) — then canonicalized:
    * the unsuffixed [[canonChainSql]] CTEs over `rr`, ending in `cn`.
    * Requires `h` in scope.
    */
  private lazy val resolvedLinkCtes: String =
    """ links AS (SELECT doc_id, text, url AS page_url, UNNEST(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS href FROM h),
        | rb AS (SELECT doc_id, text, href, regexp_replace(page_url, '#.*', '') AS basenf FROM links),
        | rp AS (SELECT doc_id, text, href, basenf,
        |   regexp_extract(basenf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS bscheme,
        |   regexp_extract(basenf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS bauth,
        |   regexp_extract(basenf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS bpath
        |  FROM rb),""".stripMargin.replace("\n", "") +
      s""" rr AS (SELECT doc_id, text, href,
         |  CASE
         |   WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN href
         |   WHEN starts_with(href, '//') THEN bscheme || ':' || href
         |   WHEN starts_with(href, '/') THEN bscheme || '://' || bauth || ${dotsSql("href")}
         |   WHEN starts_with(href, '#') OR href = '' THEN basenf
         |   WHEN starts_with(href, '?') THEN bscheme || '://' || bauth || (CASE WHEN bpath = '' THEN '/' ELSE bpath END) || href
         |   ELSE bscheme || '://' || bauth || ${dotsSql(
              "((CASE WHEN bpath = '' THEN '/' ELSE regexp_replace(bpath, '[^/]*$', '') END) || href)")}
         |  END AS url
         | FROM rp),""".stripMargin.replace("\n", "") +
      canonChainSql("rr", extra = ", href")

  /** The HTML-to-text strip chain in DuckDB, `ws1`..`ws4`: script and
    * style blocks, then every tag, become spaces and the five entities
    * decode into `t`. `ws1` selects `first` and strips `body` from `from`;
    * the later steps carry `cols`. Ends with a comma.
    */
  private def wsStripCtes(first: String, cols: String, body: String, from: String): String =
    s""" ws1 AS (SELECT doc_id, $first, regexp_replace($body, '(?s)<script.*?</script>', ' ', 'g') AS t FROM $from),
       | ws2 AS (SELECT doc_id, $cols, regexp_replace(t, '(?s)<style.*?</style>', ' ', 'g') AS t FROM ws1),
       | ws3 AS (SELECT doc_id, $cols, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM ws2),
       | ws4 AS (SELECT doc_id, $cols, replace(replace(replace(replace(replace(t,
       |   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t FROM ws3),""".stripMargin
      .replace("\n", "")

  /** The domain-rank chain as composable CTEs (r18): resolved links →
    * canonical chain → domain edges → 3-iteration decimal-exact PageRank,
    * ending in CTE `drank(domain, rank)`. Requires `h` and `documents` in
    * scope; defines the unsuffixed [[canonChainSql]] CTE names.
    */
  private lazy val domainRankChainCtes: String =
    (resolvedLinkCtes +
      """, srcd AS (SELECT doc_id,
        |   CASE WHEN doc_id % 100 % 7 = 6 THEN 'example.co.uk'
        |     ELSE 'example-' || CAST(doc_id % 100 % 7 AS VARCHAR) || '.com' END AS src
        |  FROM documents),
        | cnm AS MATERIALIZED (SELECT doc_id, domain FROM cn),
        | ed AS MATERIALIZED (SELECT DISTINCT sd.src AS src, c.domain AS dst
        |  FROM cnm c JOIN srcd sd ON c.doc_id = sd.doc_id
        |  WHERE c.domain IS NOT NULL AND sd.src <> c.domain),
        | ndr AS MATERIALIZED (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
        | dgr AS MATERIALIZED (SELECT src, COUNT(*) AS dg FROM ed GROUP BY 1),
        | pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM ndr),
        | pc1 AS (SELECT dst, SUM(CAST(rank / dg AS DECIMAL(38,12))) AS s2
        |   FROM ed JOIN pr0 ON ed.src = pr0.node JOIN dgr ON ed.src = dgr.src GROUP BY dst),
        | pr1 AS (SELECT node, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) * COALESCE(CAST(s2 AS DOUBLE), CAST(0.0 AS DOUBLE)) AS rank
        |   FROM ndr LEFT JOIN pc1 ON node = dst),
        | pc2 AS (SELECT dst, SUM(CAST(rank / dg AS DECIMAL(38,12))) AS s2
        |   FROM ed JOIN pr1 ON ed.src = pr1.node JOIN dgr ON ed.src = dgr.src GROUP BY dst),
        | pr2 AS (SELECT node, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) * COALESCE(CAST(s2 AS DOUBLE), CAST(0.0 AS DOUBLE)) AS rank
        |   FROM ndr LEFT JOIN pc2 ON node = dst),
        | pc3 AS (SELECT dst, SUM(CAST(rank / dg AS DECIMAL(38,12))) AS s2
        |   FROM ed JOIN pr2 ON ed.src = pr2.node JOIN dgr ON ed.src = dgr.src GROUP BY dst),
        | drank AS MATERIALIZED (SELECT node AS domain, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) * COALESCE(CAST(s2 AS DOUBLE), CAST(0.0 AS DOUBLE)) AS rank
        | FROM ndr LEFT JOIN pc3 ON node = dst)""".stripMargin.replace("\n", ""))

  /** One oracle text for q_sitemap_parse AND q_sitemap_gz (r17): the
    * `.xml.gz` lane must be entry-for-entry identical to the plain parse.
    */
  private lazy val sitemapParseDual: String =
    "WITH " + robotsCtes + "," + sitemapCtes +
      " SELECT host, kind, seq, loc, lastmod, changefreq, priority" +
      " FROM smu ORDER BY host, seq"

  private lazy val wetRoundtripDual: String =
    "WITH " + warcCtes() + "," +
      wsStripCtes("url, wdate", "url, wdate", "rbody", "wblk WHERE m NOT IN (0, 1)") +
      """ wtc AS (SELECT doc_id, url, wdate, trim(regexp_replace(t, '\s+', ' ', 'g')) AS tc FROM ws4)
        | SELECT doc_id, 'conversion' AS rec_type, url AS target_uri,
        |   wdate AS warc_date,
        |   'urn:graft:' || CAST(doc_id AS VARCHAR) || '-3' AS refers_to,
        |   CAST(octet_length(encode(tc)) AS BIGINT) AS content_length,
        |   CAST(octet_length(encode(tc)) AS BIGINT) AS block_octets,
        |   CAST(NULL AS VARCHAR) AS mime, md5(tc) AS payload_md5
        | FROM wtc ORDER BY doc_id""".stripMargin.replace("\n", "")
}
