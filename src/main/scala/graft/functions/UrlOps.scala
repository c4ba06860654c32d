package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL handling for crawl curation: host/path extraction, the
  * registered-domain heuristic behind per-domain quotas
  * ([[graft.operators.Scale.groupQuota]] / `headCapSample`'s natural
  * grouping key), canonicalization for URL-keyed dedup, and tracking-
  * parameter removal.
  *
  * Everything is a regexp/string chain over RE2-SAFE patterns (no
  * lookahead, no backreferences in patterns) so the DuckDB oracle runs
  * the identical expressions — the same portability contract as
  * `TextAnalysis.stripHtml`. Deliberately NOT `parse_url`: Spark's is
  * Java-`URI`-backed with no DuckDB twin, and the subset a curation
  * pipeline needs (host, path, query) is three anchored extracts.
  * Every function is a scan-local projection inside whole-stage
  * codegen — zero shuffle at any scale.
  *
  * `registeredDomain` here is the cheap last-two-labels heuristic —
  * scan-local, zero shuffle, but wrong for ccTLD registries like
  * `.co.uk`. The correct path is [[PublicSuffix.withRegisteredDomain]]:
  * the publicsuffix.org longest-match algorithm as a broadcast
  * suffix-rule join. Remaining non-goals: no IDN/punycode handling;
  * fragment-less URLs assumed for the final tracking-param form (RE2
  * has no lookahead, so the `#`-preserving branch is a capture of the
  * terminator).
  */
object UrlOps {

  private val SchemeHost = "^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)"

  /** Scheme ("https"), empty string when the input isn't a URL. */
  def scheme(url: Column): Column = regexp_extract(url, SchemeHost, 1)

  /** Host (authority) — "sub.example.com:8080" keeps its port;
    * [[hostNoPort]] drops it. Empty string for non-URLs. */
  def host(url: Column): Column = regexp_extract(url, SchemeHost, 2)

  def hostNoPort(url: Column): Column =
    regexp_replace(host(url), ":[0-9]+$", "")

  /** Path component ("" for bare domains, "/a/b" otherwise). */
  def path(url: Column): Column =
    regexp_extract(url, SchemeHost + "([^?#]*)", 3)

  /** Query string WITHOUT the '?', empty when absent. */
  def queryString(url: Column): Column =
    regexp_extract(url, "\\?([^#]*)", 1)

  /** Number of non-empty path segments: "/a/b/" → 2, "" → 0. */
  def pathDepth(url: Column): Column =
    size(filter(split(path(url), "/"), s => length(s) > 0))

  /** Last-two-labels registered domain ("a.b.example.com" →
    * "example.com"); single-label hosts ("localhost") pass through.
    * Port is stripped first. See the object doc for the PSL caveat. */
  def registeredDomain(url: Column): Column = {
    val h = hostNoPort(url)
    when(h.rlike("[^.]+\\.[^.]+$"),
      regexp_extract(h, "([^.]+\\.[^.]+)$", 1)).otherwise(h)
  }

  /** Canonical dedup key: lowercase scheme://host + path with the
    * trailing slash trimmed, query and fragment dropped. The standard
    * URL-keyed exact-dedup move — "http://Example.com/a/" and
    * "http://example.com/a?utm_source=x" collapse to one key. Non-URLs
    * canonicalize to the empty string (filter them first). */
  def canonical(url: Column): Column =
    when(host(url) === "", lit(""))
      .otherwise(concat(lower(scheme(url)), lit("://"),
        lower(host(url)),
        regexp_replace(path(url), "/+$", "")))

  /** Tracking-parameter prefixes stripped by [[stripTracking]] —
    * mirrored verbatim in the oracle. */
  val trackingPrefixes: Seq[String] = Seq("utm_", "gclid", "fbclid")

  /** Query-PRESERVING canonical key: [[canonical]] (lowercased
    * scheme+host, trailing-slash-trimmed path, fragment dropped) plus
    * the query string with only the TRACKING params removed. The key
    * URL-level crawl dedup wants: `?utm_source=x` variants collapse,
    * but `watch?v=A` and `watch?v=B` — distinct pages — stay distinct
    * ([[canonical]] alone drops every query and would silently keep
    * one of them). */
  def canonicalWithQuery(url: Column): Column = {
    val q = queryString(stripTracking(url))
    when(canonical(url) === "", lit(""))
      .otherwise(concat(canonical(url),
        when(q === "", lit("")).otherwise(concat(lit("?"), q))))
  }

  /** Crawl-policy URL filter — the robots.txt-shaped gate (RFC 9309
    * precedence) a compliant pipeline runs before fetching or keeping a
    * page: `rules` is a (host, path_prefix, allow) table; for each URL
    * the matching rule (same lowercased port-less host, rule prefix is
    * a byte prefix of the path) with the LONGEST prefix decides, an
    * equal-length tie prefers allow, and no matching rule — including
    * unknown hosts — defaults to allow. The empty path is matched as
    * "/" (the RFC's empty-Disallow convention).
    *
    * Precedence length: when the rules frame carries a `match_len`
    * column (as [[robotsRules]] emits — the RAW robots-pattern length,
    * the reference-implementation ranking key), rules rank on IT, not
    * on the folded prefix length. This is what keeps the conservative
    * wildcard fold never-under-blocking: a widened disallow matches a
    * SUPERSET of its RFC match set but ranks at its RFC length, so an
    * allow outranks it here only where the allow would also outrank it
    * under RFC 9309 (allows are only kept where the fold is exact, so
    * their match sets and lengths are already RFC-faithful). Without
    * `match_len` (hand-built rule tables) the prefix length ranks, as
    * before. Ties prefer allow in both modes (the RFC rule).
    *
    * Scale shape: policy tables are registry-sized, so rules collapse
    * to ONE broadcast row per host (`collect_list` of (prefix, len,
    * allow) structs) and the decision is a scan-local array fold — the
    * max-by-(match-length, allow) reduction is order-independent, so
    * `collect_list`'s nondeterministic order is harmless. ZERO
    * shuffles on the URL stream at any corpus size. Output: input
    * columns + (host [lowercased, port-less], path [normalized],
    * rule_len [-1 = default], allowed). */
  def urlPolicy(df: org.apache.spark.sql.DataFrame, urlCol: String,
      rules: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    require(Set("host", "path_prefix", "allow")
      .subsetOf(rules.columns.toSet),
      s"rules needs (host, path_prefix, allow), got ${rules.columns.mkString(", ")}")
    val rankLen =
      if (rules.columns.contains("match_len")) col("match_len").cast("int")
      else length(col("path_prefix")).cast("int")
    val r = rules.select(lower(col("host")).as("__h"),
      struct(col("path_prefix").cast("string").as("p"),
        rankLen.as("l"),
        col("allow").cast("boolean").as("a")).as("__r"))
    val hostRules = r.groupBy("__h")
      .agg(collect_list(col("__r")).as("__rules"))
    df
      .withColumn("host", lower(hostNoPort(col(urlCol))))
      .withColumn("path",
        when(path(col(urlCol)) === "", lit("/"))
          .otherwise(path(col(urlCol))))
      .join(broadcast(hostRules), col("host") === col("__h"), "left")
      .withColumn("__best", aggregate(
        filter(coalesce(col("__rules"),
            array().cast("array<struct<p:string,l:int,a:boolean>>")),
          rl => col("path").substr(lit(1), length(rl.getField("p")))
            === rl.getField("p")),
        struct(lit(-1).cast("int").as("l"), lit(true).as("a")),
        (acc, rl) => {
          val l = rl.getField("l")
          val better = l > acc.getField("l") ||
            (l === acc.getField("l") && rl.getField("a") &&
              !acc.getField("a"))
          when(better, struct(l.as("l"), rl.getField("a").as("a")))
            .otherwise(acc)
        }))
      .withColumn("rule_len", col("__best.l"))
      .withColumn("allowed", col("__best.a"))
      .drop("__h", "__rules", "__best")
  }

  /** Parse raw robots.txt TEXTS into the (host, path_prefix, allow)
    * rule table [[urlPolicy]] consumes — the missing front half of the
    * crawl-policy gate (a production run fetches robots bodies; it
    * does not receive a pre-built rule table). RFC 9309 semantics:
    *
    *  - lines are `field: value`, `#` comments stripped, fields
    *    case-insensitive; unknown fields (Sitemap, Crawl-delay) are
    *    skipped and blank lines never terminate a group (RFC 9309
    *    §2.2 — groups end only at the next user-agent line);
    *  - consecutive `User-agent` lines accumulate into ONE group's
    *    agent set; the first allow/disallow closes accumulation;
    *  - group selection: case-insensitive LONGEST-AGENT match — an
    *    agent matches when it equals `*` (specificity 0) or is a
    *    prefix of the crawler's product token (specificity = agent
    *    length, the reference-implementation rule); every group at
    *    the per-host maximum specificity is selected and their rules
    *    MERGE (RFC 9309 §2.2.1);
    *  - rules with an empty pattern carry no restriction and rules
    *    before any user-agent line belong to no group: both dropped;
    *  - hosts whose text yields no selected rules are absent from the
    *    output — [[urlPolicy]] default-allows them (RFC §2.3.1.4).
    *
    * Wildcard folding — the documented CONSERVATIVE literal-prefix
    * subset of `*`/`$` (RFC 9309 §2.2.3): a trailing `*` is exactly
    * prefix semantics and is stripped (as is the prefix-equivalent
    * `*$` tail); a DISALLOW with an interior `*` or exact-match `$`
    * folds to the prefix before the wildcard — it may over-BLOCK,
    * never under-block — while an ALLOW that folding would WIDEN is
    * dropped outright (a widened allow carve-out would over-crawl).
    * A curation pipeline erring on the side of discarding documents
    * is correct; one erring toward fetching disallowed content is not.
    *
    * `match_len` carries the RAW pattern length (the RFC precedence
    * key — the reference implementation ranks rules by pattern
    * length, wildcards included), and [[urlPolicy]] ranks on it. The
    * folded prefix alone would UNDER-block: a Disallow of
    * `/x/`+star+`/secret` folds to prefix `/x/` (3), and a
    * shorter-than-raw Allow like `/x/pub/` (7) would outrank it —
    * fetching robots-disallowed URLs. Ranked at the raw length (12)
    * the widened disallow keeps its RFC precedence; since its folded
    * match set is a superset of the RFC set and kept allows are
    * fold-exact, every decision flip vs RFC is a block, never a
    * fetch.
    *
    * Scale: one posexplode over robots bodies (RFC caps a body at
    * 500 KiB, so per-host line counts are bounded), per-HOST windows
    * for group numbering (host-keyed shuffle — millions of hosts
    * partition evenly), two bounded aggregations. Output:
    * (host, path_prefix, allow, from_pattern, match_len, widened). */
  def robotsRules(robots: org.apache.spark.sql.DataFrame, hostCol: String,
      textCol: String, userAgent: String): org.apache.spark.sql.DataFrame =
    robotsSelectedRules(robots, hostCol, textCol, userAgent)
      // conservative literal-prefix fold of */$ (see scaladoc)
      .select(col("host"), col("pattern").as("from_pattern"),
        col("allow"))
      .withColumn("__dollar", col("from_pattern").endsWith("$"))
      .withColumn("__d1", regexp_replace(col("from_pattern"), "\\$$", ""))
      .withColumn("__starTail", col("__d1").rlike("\\*$"))
      .withColumn("__d2", regexp_replace(col("__d1"), "\\*+$", ""))
      .withColumn("path_prefix", regexp_extract(col("__d2"), "^([^*]*)", 1))
      .withColumn("widened",
        (col("__dollar") && !col("__starTail")) ||
          col("path_prefix") =!= col("__d2"))
      .filter(col("allow") === false || !col("widened"))
      .withColumn("match_len", length(col("from_pattern")).cast("int"))
      .select("host", "path_prefix", "allow", "from_pattern", "match_len",
        "widened")

  /** The EXACT-pattern form of [[robotsRules]]: same RFC 9309 group
    * selection and merge, but rules keep their raw `*`/`$` patterns —
    * feed [[urlPolicyPatterns]] for full-wildcard matching instead of
    * the conservative prefix fold. Output: (host, pattern, allow). */
  def robotsRulesExact(robots: org.apache.spark.sql.DataFrame,
      hostCol: String, textCol: String,
      userAgent: String): org.apache.spark.sql.DataFrame =
    robotsSelectedRules(robots, hostCol, textCol, userAgent)

  /** Shared front half of [[robotsRules]] / [[robotsRulesExact]]:
    * parse lines, number groups, select by longest agent, merge, drop
    * orphan/empty-pattern rules. (host, pattern, allow). */
  private def robotsSelectedRules(robots: org.apache.spark.sql.DataFrame,
      hostCol: String, textCol: String,
      userAgent: String): org.apache.spark.sql.DataFrame =
    robotsSelectedLines(robots, hostCol, textCol, userAgent)
      .filter(col("field").isin("allow", "disallow"))
      .filter(col("value") =!= "")
      .select(col("host"), col("value").as("pattern"),
        (col("field") === "allow").as("allow"))

  /** Line-level core: every non-user-agent directive line (allow,
    * disallow, crawl-delay) of the SELECTED groups, after RFC 9309
    * group numbering and longest-agent selection with merge. A
    * directive line closes a group's agent accumulation (so
    * `crawl-delay` between two user-agent lines separates groups —
    * the reference-parser behavior). (host, field, value). */
  private def robotsSelectedLines(robots: org.apache.spark.sql.DataFrame,
      hostCol: String, textCol: String,
      userAgent: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val token = userAgent.toLowerCase(java.util.Locale.ROOT)
    require(token.nonEmpty && !token.contains("*"),
      s"need a concrete product token, got '$userAgent'")
    val lines = robots
      .select(col(hostCol).as("host"),
        posexplode(split(col(textCol), "\r?\n")).as(Seq("line_no", "raw")))
      .select(col("host"), col("line_no"),
        trim(regexp_replace(col("raw"), "#.*$", "")).as("line"))
      .filter(col("line") =!= "")
      .select(col("host"), col("line_no"),
        lower(trim(regexp_extract(col("line"), "^([^:]+):", 1))).as("field"),
        trim(regexp_extract(col("line"), "^[^:]+:(.*)$", 1)).as("value"))
      .filter(col("field").isin("user-agent", "allow", "disallow",
        "crawl-delay"))
    val wHost = Window.partitionBy("host").orderBy("line_no")
    val grouped = lines
      .withColumn("__prev", lag(col("field"), 1).over(wHost))
      .withColumn("__newgrp",
        when(col("field") === "user-agent" &&
          (col("__prev").isNull || col("__prev") =!= "user-agent"), 1)
          .otherwise(0))
      .withColumn("grp", sum(col("__newgrp")).over(
        wHost.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("grp") >= 1) // rules before any user-agent line: no group
    val agentSpec = grouped.filter(col("field") === "user-agent")
      .withColumn("__agent", lower(col("value")))
      .withColumn("__spec",
        when(col("__agent") === "*", 0)
          .when(lit(token).startsWith(col("__agent")),
            length(col("__agent")).cast("int"))
          .otherwise(lit(null).cast("int")))
      .groupBy("host", "grp").agg(max(col("__spec")).as("grp_spec"))
      .filter(col("grp_spec").isNotNull)
    val best = agentSpec.groupBy("host")
      .agg(max(col("grp_spec")).as("best_spec"))
    val selected = agentSpec.join(best, Seq("host"))
      .filter(col("grp_spec") === col("best_spec"))
      .select("host", "grp")
    grouped.filter(col("field") =!= "user-agent")
      .join(selected, Seq("host", "grp"))
      .select("host", "field", "value")
  }

  /** Full `*`/`$` wildcard form of [[urlPolicy]] (RFC 9309 §2.2.3):
    * rules carry RAW robots patterns ([[robotsRulesExact]] output) —
    * `*` matches any octet sequence, a trailing `$` anchors the end
    * of the path, and an unanchored pattern matches any PATH PREFIX.
    * Precedence: the matching rule with the longest RAW pattern wins
    * (the reference-implementation rule), equal lengths prefer allow,
    * unknown hosts / no match default-allow.
    *
    * Each pattern is compiled to an anchored regex INSIDE the plan
    * (escape regex metachars in the literal parts, `*`-runs → `.*`,
    * `^` start anchor, `$` kept iff the pattern ends with it) — the
    * generated subset (`^`, `.*`, escaped literals, optional `$`) has
    * identical semantics in Java regex and RE2, so the DuckDB oracle
    * matches the same strings. Rules collapse to one broadcast row
    * per host like urlPolicy; the decision is the same scan-local
    * max-by-(len, allow) fold with `regexp_like` per candidate rule
    * (per-row pattern compile — rule arrays are registry-sized).
    * Output: df + (host, path, rule_len [raw pattern length, −1
    * default], allowed). */
  def urlPolicyPatterns(df: org.apache.spark.sql.DataFrame, urlCol: String,
      rules: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    require(Set("host", "pattern", "allow").subsetOf(rules.columns.toSet),
      s"rules needs (host, pattern, allow), got ${rules.columns.mkString(", ")}")
    val dollar = col("pattern").endsWith("$")
    val core = regexp_replace(col("pattern"), "\\$$", "")
    // escape every regex metachar EXCEPT '*' (the robots wildcard)
    val esc = regexp_replace(core, "([.^$+?(){}\\[\\]|\\\\])", "\\\\$1")
    val rx = concat(lit("^"), regexp_replace(esc, "\\*+", ".*"),
      when(dollar, lit("$")).otherwise(lit("")))
    val r = rules.select(lower(col("host")).as("__h"),
      struct(rx.as("rx"),
        length(col("pattern")).cast("int").as("l"),
        col("allow").cast("boolean").as("a")).as("__r"))
    val hostRules = r.groupBy("__h")
      .agg(collect_list(col("__r")).as("__rules"))
    df
      .withColumn("host", lower(hostNoPort(col(urlCol))))
      .withColumn("path",
        when(path(col(urlCol)) === "", lit("/"))
          .otherwise(path(col(urlCol))))
      .join(broadcast(hostRules), col("host") === col("__h"), "left")
      .withColumn("__best", aggregate(
        filter(coalesce(col("__rules"),
            array().cast("array<struct<rx:string,l:int,a:boolean>>")),
          rl => regexp_like(col("path"), rl.getField("rx"))),
        struct(lit(-1).cast("int").as("l"), lit(true).as("a")),
        (acc, rl) => {
          val l = rl.getField("l")
          val better = l > acc.getField("l") ||
            (l === acc.getField("l") && rl.getField("a") &&
              !acc.getField("a"))
          when(better, struct(l.as("l"), rl.getField("a").as("a")))
            .otherwise(acc)
        }))
      .withColumn("rule_len", col("__best.l"))
      .withColumn("allowed", col("__best.a"))
      .drop("__h", "__rules", "__best")
  }

  /** Sitemap discovery from robots.txt bodies — the crawl-seed side of
    * [[robotsRules]]: `Sitemap:` lines are GROUP-INDEPENDENT (RFC 9309
    * treats them as "other records"; sitemaps.org defines the field),
    * so this is a plain per-line extract with the same comment/trim
    * handling as the rule parser. The value keeps its scheme colon —
    * only the first field colon splits. Scan-local projection after
    * the line explode; output (host, sitemap_url). */
  def robotsSitemaps(robots: org.apache.spark.sql.DataFrame,
      hostCol: String, textCol: String): org.apache.spark.sql.DataFrame =
    robots
      .select(col(hostCol).as("host"),
        explode(split(col(textCol), "\r?\n")).as("raw"))
      .select(col("host"),
        trim(regexp_replace(col("raw"), "#.*$", "")).as("line"))
      .filter(lower(col("line")).rlike("^sitemap\\s*:"))
      .select(col("host"),
        trim(regexp_extract(col("line"), "^[^:]+:(.*)$", 1))
          .as("sitemap_url"))
      .filter(col("sitemap_url") =!= "")

  /** Sitemap XML parsing (sitemaps.org protocol) — the discovery step
    * after [[robotsSitemaps]]: a `<urlset>` body yields its `<url>`
    * entries (kind `url`), a `<sitemapindex>` its nested `<sitemap>`
    * entries (kind `sitemap` — feed back into the fetcher). Per entry:
    * `loc` (required; entries without one are dropped) and `lastmod`
    * (optional, NULL when absent — the recrawl-scheduling signal).
    * Entry blocks extract with (?s) non-greedy regexes — RE2-safe, so
    * the oracle runs the identical patterns; no XML library, which is
    * the right trade for the sitemaps.org subset (flat elements, no
    * attributes needed) on untrusted multi-GB crawl payloads. Pure
    * per-row explode of block matches — zero shuffle. */
  def sitemapUrls(df: org.apache.spark.sql.DataFrame, hostCol: String,
      xmlCol: String): org.apache.spark.sql.DataFrame = {
    def blocks(tag: String, kind: String) =
      transform(
        regexp_extract_all(col(xmlCol),
          lit(s"(?s)<$tag>(.*?)</$tag>"), lit(1)),
        b => struct(lit(kind).as("kind"), b.as("b")))
    df.select(col(hostCol).as("host"),
        explode(concat(blocks("url", "url"), blocks("sitemap", "sitemap")))
          .as("e"))
      .select(col("host"), col("e.kind").as("kind"),
        trim(regexp_extract(col("e.b"),
          "(?s)<loc>\\s*([^<]*?)\\s*</loc>", 1)).as("loc"),
        nullif(trim(regexp_extract(col("e.b"),
          "(?s)<lastmod>\\s*([^<]*?)\\s*</lastmod>", 1)), lit(""))
          .as("lastmod"))
      .filter(col("loc") =!= "")
  }

  /** Crawl-delay extraction from robots bodies — not in RFC 9309 but
    * honored by major non-Google crawlers and ubiquitous in the wild:
    * same group selection as [[robotsRules]] (longest agent, merge at
    * equal specificity), value = the MAX delay among the selected
    * groups' parseable `Crawl-delay` values (the conservative
    * politeness read); non-numeric values are ignored, hosts with no
    * parseable delay are absent (caller applies its default). Output:
    * (host, crawl_delay_s DOUBLE). */
  def robotsCrawlDelays(robots: org.apache.spark.sql.DataFrame,
      hostCol: String, textCol: String,
      userAgent: String): org.apache.spark.sql.DataFrame =
    robotsSelectedLines(robots, hostCol, textCol, userAgent)
      .filter(col("field") === "crawl-delay")
      // try_cast, not cast: a junk value must be ignored, not an ANSI
      // runtime error out of a corpus-wide parse
      .select(col("host"), expr("try_cast(value AS double)").as("__d"))
      .filter(col("__d").isNotNull && col("__d") >= 0)
      .groupBy("host").agg(max(col("__d")).as("crawl_delay_s"))

  /** RFC 3986 §5.2 reference resolution: absolutize `ref` against the
    * absolute URL `base`. Fragments are stripped first (a crawl
    * frontier never distinguishes same-document references); NULL for
    * refs a crawler cannot fetch — empty/fragment-only refs and
    * non-http(s) schemes (mailto:, javascript:, data:). http(s)
    * absolute refs pass through untouched; protocol-relative `//h/p`
    * inherits the base scheme; absolute paths replace the base path;
    * relative paths merge with the base directory (RFC §5.2.3) and
    * run RFC §5.2.4 remove_dot_segments; a query-only ref keeps the
    * base path.
    * Scan-local and whole-stage-codegen'd — composes with
    * [[canonical]] / [[stripTracking]] downstream.
    *
    * Compiled as [[graft.expressions.ResolveRef]] (one static JVM call
    * per link): the Column formulation, kept in ResolveRefSpec as the
    * executable semantics reference, evaluates three `aggregate`
    * higher-order functions per row — CodegenFallback nodes that put
    * interpreted per-segment lambda evaluation inside the crawl tier's
    * hottest projection. ResolveRefSpec pins expression ≡ Column form over an
    * adversarial input matrix; the q_outlinks / q_anchor_* /
    * q_crawl_bfs oracles adjudicate end-to-end. */
  def resolveRef(base: Column, ref: Column): Column = {
    import org.apache.spark.sql.graftglue.Bridge
    Bridge.column(graft.expressions.ResolveRef(
      Bridge.expression(base), Bridge.expression(ref)))
  }

  /** The [[graft.expressions.HtmlLinks]] scan + effective-base column
    * shared by [[extractOutlinks]] / [[extractAnchors]]: ONE pass over
    * the document (replacing the former stack of whole-document regex
    * passes) with tag-context discipline — `href=` text inside
    * comments, `<script>`/`<style>` bodies, or visible prose is NOT a
    * link, and a commented-out `<base>` cannot hijack resolution. The
    * effective base per HTML semantics is the first real `<base href>`
    * (itself resolved against the page URL), else the page URL. */
  private def withHtmlLinks(df: org.apache.spark.sql.DataFrame,
      urlCol: String, htmlCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftglue.Bridge
    val links = Bridge.column(graft.expressions.HtmlLinks(
      Bridge.expression(col(htmlCol))))
    df.withColumn("__hl", links)
      .withColumn("__base",
        when(col("__hl.base").isNull, col(urlCol))
          .otherwise(coalesce(resolveRef(col(urlCol), col("__hl.base")),
            col(urlCol))))
  }

  /** HTML outlink extraction — the link-discovery edge of the crawl
    * loop (fetched page → candidate URLs for the frontier): every
    * quoted `href`/`src` attribute value of a REAL tag (single-pass
    * scanner — see [[withHtmlLinks]]; `data-href` etc. are not links,
    * comment/script-body/plain-text matches are not links), resolved
    * against the effective base via [[resolveRef]], one row per link.
    * Unfetchable refs (fragment-only, mailto:/javascript:) are
    * dropped; the `<base>` href itself never leaks in as an outlink.
    * Scan-local projection + explode — payload bytes never shuffle;
    * compose [[canonical]] / [[stripTracking]] and the seen-set
    * anti-join downstream. Output: input columns + `outlink`. */
  def extractOutlinks(df: org.apache.spark.sql.DataFrame, urlCol: String,
      htmlCol: String): org.apache.spark.sql.DataFrame =
    withHtmlLinks(df, urlCol, htmlCol)
      .withColumn("__p", explode(col("__hl.refs")))
      .withColumn("outlink", resolveRef(col("__base"), col("__p.ref")))
      .filter(col("outlink").isNotNull)
      .drop("__hl", "__base", "__p")

  /** Anchor-TEXT extraction — the per-link supervision signal next to
    * [[extractOutlinks]]: for every `<a href=...>text</a>`, emit the
    * absolutized target AND its anchor text (inner markup → space,
    * whitespace collapsed — normalized inside the single-pass scan) —
    * the classic web-scale label source for target-page quality/
    * relevance models (anchor corpora). Restricted to `<a>` tags (src
    * attributes carry no text); an `<a>` never closed yields no anchor
    * row; `<base>` handled identically. Unfetchable refs drop.
    * Scan-local projection + explode. Output: input columns +
    * (outlink, anchor). */
  def extractAnchors(df: org.apache.spark.sql.DataFrame, urlCol: String,
      htmlCol: String): org.apache.spark.sql.DataFrame =
    withHtmlLinks(df, urlCol, htmlCol)
      .withColumn("__p", explode(col("__hl.refs")))
      .filter(col("__p.anchor").isNotNull)
      .withColumn("outlink", resolveRef(col("__base"), col("__p.ref")))
      .withColumn("anchor", col("__p.anchor"))
      .filter(col("outlink").isNotNull)
      .drop("__hl", "__base", "__p")

  /** Remove utm_* / gclid / fbclid query parameters while preserving the
    * rest of the query string, in three RE2-safe passes:
    *  1. drop `&tracking=...` (non-leading params),
    *  2. promote the param after a leading `?tracking=...&` to `?`,
    *  3. drop a now-lone `?tracking=...` (capturing the `#`-or-end
    *     terminator, since RE2 has no lookahead). */
  def stripTracking(url: Column): Column = {
    val alt = trackingPrefixes.mkString("(?:", "|", ")")
    val s1 = regexp_replace(url, s"&$alt[^&#]*", "")
    val s2 = regexp_replace(s1, s"\\?$alt[^&#]*&", "?")
    regexp_replace(s2, s"\\?$alt[^&#]*(#|$$)", "$1")
  }
}
