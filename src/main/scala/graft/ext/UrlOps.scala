package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL hygiene for crawl curation — the step every CommonCrawl-derived
  * pipeline runs on [[Warc]]'s `target_uri` before URL-level dedup and
  * domain-level governance (C4 and RefinedWeb both gate on URL and
  * registered domain before touching page text).
  *
  * Everything is higher-order column algebra (regexp parse + array
  * sort/filter + reassembly) — codegen'd, no UDF, no kernel: URL
  * normalization is string work Catalyst's built-ins already express,
  * so unlike the HTML/WARC parsers there is nothing a custom
  * expression would fuse.
  *
  * Normalization contract (RFC 3986 §6 normalizations that preserve
  * semantics, plus the curation-standard tracking-param strip):
  *   - scheme and host lowercase;
  *   - default ports stripped (http:80, https:443);
  *   - fragment removed;
  *   - query parameters SORTED (byte order), tracking params dropped
  *     (utm_*, fbclid, gclid, msclkid, ref);
  *   - empty path becomes "/";
  *   - an empty post-strip query drops its "?".
  */
object UrlOps {

  // tracking-param stripping lives in the normalize kernel:
  // graft.functions.UrlExpressions.TrackingParamKeys (+ every utm_*)

  /** (scheme, host, port, path, query, fragment) of an absolute URL —
    * nulls for absent parts; every field null for a URL the parser
    * rejects (no `scheme://host`). One pass of the
    * [[graft.functions.UrlExpressions.UrlPartsExpr]] kernel (the regex
    * form re-ran its six-group pattern once per extracted group — ~18
    * regex executions per row across normalize + domain + blocklist).
    * Userinfo (`user:pass@`) is parsed past and DISCARDED: it is
    * deprecated in http URLs, and treating it as the host would both
    * mis-derive the registered domain and let
    * `https://junk@blocked.example/` evade a domain blocklist. */
  def urlParts(url: Column): Seq[(String, Column)] = {
    val p = graft.functions.UrlExpressions.urlParts(url)
    // identical kernel subtrees collapse via per-row subexpression
    // elimination (top-level projection fields, not lambda bodies)
    Seq("scheme", "host", "port", "path", "query", "fragment")
      .map(f => f -> p.getField(f))
  }

  /** RFC 3986 §5.2 reference resolution of an `href` against its page
    * URL — the step between [[Extract.outLinks]] and [[normalizeUrl]]
    * in a crawl frontier. One
    * [[graft.functions.UrlExpressions.UrlResolveExpr]] kernel call;
    * null when `base` is not an absolute `scheme://host` URL; a ref
    * with its own scheme keeps that scheme (whitespace-cleaned,
    * dot-segments removed when hierarchical), so the scheme filter
    * downstream still owns `mailto:`/`javascript:` rejection. */
  def resolveUrl(base: Column, ref: Column): Column =
    graft.functions.UrlExpressions.urlResolve(base, ref)

  /** The canonical form per the contract above; null for a URL the
    * parser rejects (no scheme://host). ONE kernel pass
    * ([[graft.functions.UrlExpressions.NormalizeUrlExpr]]); the column-
    * algebra form this replaced composed ~10 parse subtrees, and every
    * filter placed over the result re-expanded the whole tree (no
    * cross-operator subexpression elimination) — the frontier/sitemap
    * gate chains paid ~70 parses per row per downstream reference. */
  def normalizeUrl(url: Column): Column =
    graft.functions.UrlExpressions.normalizeUrl(url)

  /** Two-level public suffixes common enough to matter without the full
    * PSL — the no-data fallback behind [[PublicSuffixes.Builtin]]. */
  private val TwoLevelTlds = Seq(
    "co.uk", "ac.uk", "gov.uk", "org.uk", "co.jp", "ne.jp", "or.jp",
    "com.au", "net.au", "org.au", "com.br", "com.cn", "com.mx",
    "co.in", "co.kr", "co.za", "com.tr", "com.ar", "com.sg")

  /** A parsed Public Suffix List (publicsuffix.org semantics): `normal`
    * maps each rule — wildcard rules stored as written, e.g. `*.ck` —
    * to its label count; `exceptions` maps `!`-rules (stored without
    * the `!`) to theirs. The whole list is model-sized metadata
    * (~10k rules), so lookups ride the plan as MAP LITERALS — join-free
    * and shuffle-free, which beats the broadcast-join formulation the
    * same way [[LangId.langIdCol]] beats a weight-table join: the
    * derivation stays a pure per-row expression usable in a streaming
    * `select`, and domain governance (x44-style caps) keys on it with
    * zero extra exchanges. */
  final case class PublicSuffixes(normal: Map[String, Int], exceptions: Map[String, Int]) {
    /** Longest rule length — bounds the per-row suffix probes. */
    val maxK: Int = (normal.values ++ exceptions.values ++ Seq(1)).max
  }

  object PublicSuffixes {
    /** Parse PSL-format lines: comments (`//`) and blanks skipped,
      * `!rule` → exception, `*.x` kept verbatim. Sections (ICANN /
      * PRIVATE) are not distinguished — both govern registrability.
      * IDN rules are published as Unicode U-labels but crawled hosts
      * carry punycode A-labels (RFC 3490), so every non-ASCII label is
      * IDN-encoded at parse time — matching happens in A-label space
      * (a U-label rule would otherwise silently never match). */
    def parse(lines: Seq[String]): PublicSuffixes = {
      def alabel(rule: String): String = rule.split('.').map { l =>
        if (l == "*" || l.forall(_ < 0x80)) l
        else try java.net.IDN.toASCII(l, java.net.IDN.ALLOW_UNASSIGNED).toLowerCase
        catch { case _: IllegalArgumentException => l }
      }.mkString(".")
      val rules = lines.map(_.trim.toLowerCase)
        .filter(l => l.nonEmpty && !l.startsWith("//"))
      val (exc, norm) = rules.partition(_.startsWith("!"))
      PublicSuffixes(
        norm.map(alabel).map(r => r -> (r.count(_ == '.') + 1)).toMap,
        exc.map(_.drop(1)).map(alabel).map(r => r -> (r.count(_ == '.') + 1)).toMap)
    }

    /** The offline fallback: the two-level shortlist (plus the implicit
      * `*` default rule every PSL evaluation carries). */
    val Builtin: PublicSuffixes = parse(TwoLevelTlds)

    /** Load a PSL-format file (the published `public_suffix_list.dat`)
      * from any Hadoop-visible path. The list is rule-count-sized —
      * one driver-side read, parsed once, then every derivation is the
      * plan-literal expression above. */
    def load(spark: org.apache.spark.sql.SparkSession, path: String): PublicSuffixes =
      parse(spark.read.textFile(path).collect().toSeq)
  }

  /** Public-suffix label count of a host under PSL matching rules:
    * exception rule wins (suffix = rule minus its leftmost label), else
    * the longest matching normal rule (`*` in a rule matches exactly one
    * label), else the implicit default rule `*` (suffix = rightmost
    * label). */
  private def suffixLen(labels: Column, n: Column, psl: PublicSuffixes): Column = {
    val norm = typedLit(psl.normal)
    def sfx(k: Int) = array_join(slice(labels, -k, k), ".")
    def hits(m: Column, k: Int) = {
      val literal = element_at(m, sfx(k)).isNotNull
      val wild = if (k >= 2)
        element_at(m, concat(lit("*."), sfx(k - 1))).isNotNull else lit(false)
      n >= k && (literal || wild)
    }
    val normalK = (1 to psl.maxK).map(k => when(hits(norm, k), k).otherwise(0))
    val best = greatest((normalK :+ lit(1)).map(c => c: Column): _*)
    if (psl.exceptions.isEmpty) best
    else {
      val exc = typedLit(psl.exceptions)
      val excK = (2 to psl.maxK + 1).map(k => when(hits(exc, k), k - 1).otherwise(0))
      val bestExc = greatest(excK.map(c => c: Column): _*)
      when(bestExc > 0, bestExc).otherwise(best)
    }
  }

  /** Registered domain of a host under a Public Suffix List: one label
    * + the public suffix ("example.co.uk" for "a.b.example.co.uk",
    * "a.test.ck" for "b.a.test.ck" under `*.ck`, "www.ck" under
    * `!www.ck`). Hosts that ARE a public suffix, bare/single-label
    * hosts, and IP literals pass through unchanged. */
  def registeredDomain(host: Column, psl: PublicSuffixes): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    val ps = suffixLen(labels, n, psl)
    val isIp = host.rlike("^[0-9.]+$")
    when(isIp || n <= ps, host)
      .otherwise(array_join(slice(labels, -(ps + 1), ps + 1), "."))
  }

  /** [[registeredDomain]] under the built-in shortlist. */
  def registeredDomain(host: Column): Column =
    registeredDomain(host, PublicSuffixes.Builtin)

  /** Registered domain straight from a URL (null when unparseable). */
  def urlDomain(url: Column, psl: PublicSuffixes): Column = {
    val host = urlParts(url).toMap.apply("host")
    when(host.isNull, lit(null).cast("string")).otherwise(registeredDomain(host, psl))
  }

  /** [[urlDomain]] under the built-in shortlist. */
  def urlDomain(url: Column): Column = urlDomain(url, PublicSuffixes.Builtin)

  /** Blocklist gate: TRUE when the URL's registered domain is in
    * `blockedDomains` (ships as an array literal — a curation blocklist
    * is list-sized; at PSL scale store it as a broadcast-joined table
    * instead). */
  def domainBlocked(url: Column, blockedDomains: Seq[String]): Column =
    array_contains(
      array(blockedDomains.map(d => lit(d.toLowerCase)): _*), urlDomain(url))

  /** SURT url-key (Sort-friendly URI Reordering Transform — the
    * `urlkey` CommonCrawl's CDX indexes sort by and pywb/OpenWayback
    * query on): host labels reversed and comma-joined with the leading
    * `www.` dropped, `)` separator, then the lowercased path and the
    * query with its `&`-separated params SORTED —
    * `https://WWW.Example.com/A/b?z=1&a=2` →
    * `com,example)/a/b?a=2&z=1`. The point at archive scale: every
    * capture of one site becomes one CONTIGUOUS key range, so a
    * domain-scoped scan over a urlkey-sorted CDX store is a RANGE
    * predicate (`urlkey >= 'com,example)' AND urlkey < 'com,example*'`)
    * that parquet min/max zone maps prune to the site's own row
    * groups — no full-index scan per site query. Null for unparseable
    * URLs. Pure column algebra over the one-pass parts kernel. */
  def surtKey(url: Column): Column = {
    val parts = graft.functions.UrlExpressions.urlParts(url)
    val host = regexp_replace(lower(parts.getField("host")), "^www\\.", "")
    val rev0 = array_join(reverse(split(host, "\\.")), ",")
    // non-default ports keep their SURT spelling `host-labels:port`;
    // default-port URLs carry no port after the parse
    val rev = when(parts.getField("port").isNotNull,
      concat(rev0, lit(":"), parts.getField("port"))).otherwise(rev0)
    val rawPath = coalesce(parts.getField("path"), lit(""))
    val path = lower(when(rawPath === "", lit("/")).otherwise(rawPath))
    val q = lower(coalesce(parts.getField("query"), lit("")))
    val sortedQ = when(q === "", lit(""))
      .otherwise(concat(lit("?"), array_join(array_sort(split(q, "&")), "&")))
    when(host.isNull, lit(null).cast("string"))
      .otherwise(concat(rev, lit(")"), path, sortedQ))
  }
}
