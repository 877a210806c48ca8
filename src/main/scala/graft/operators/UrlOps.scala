package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization and domain-level rollups — the stage-ZERO
  * filters of every web-scale curation pipeline (CCNet, RefinedWeb,
  * Gopher/MassiveWeb all gate on URL/domain before touching content):
  * normalize each document's source URL to a canonical form so
  * exact-URL dedup and domain blocklists stop leaking variants
  * (tracking parameters, fragments, case, default ports), extract the
  * registered domain (the public-suffix+1 label), and aggregate
  * per-domain corpus shares for blocklist/cap decisions.
  *
  * Scale design: canonicalization is pure row-local Column arithmetic
  * (regexp + array HOFs, whole-stage codegen, zero shuffle); the domain
  * rollup is one hash aggregation producing a DOMAIN-cardinality frame
  * — web corpora have ~10⁷ registered domains at 10¹⁰ documents, so the
  * frame broadcasts back for blocklist joins. Every definition is
  * mirrored as SQL text so the DuckDB oracle replays the exact strings.
  *
  * The suffix handling is deliberately a COMPACT registry, not a vendored
  * copy of the full Mozilla public-suffix list: the operator's shape
  * (label arithmetic against a broadcast suffix set) is identical at
  * 9,000 suffixes, and the set is a constructor argument.
  */
object UrlOps {

  /** Multi-label public suffixes recognized by [[registeredDomain]] —
    * a vendored snapshot of the public-suffix list's ICANN section plus
    * the hosting-platform private entries ([[PublicSuffixes]]; r14
    * verdict item 1 — the prior 7-entry registry keyed every com.cn /
    * co.nz / github.io host at the wrong unit). Still a plain
    * constructor-replaceable parameter at every call site. */
  val MultiPartSuffixes: Seq[String] = PublicSuffixes.All

  /** Wildcard-rule BASES (`*.<base>`) recognized by [[registeredDomain]]
    * — [[PublicSuffixes.Wildcards]] by default, parameterized like the
    * exact set. */
  val MultiPartWildcards: Seq[String] = PublicSuffixes.Wildcards

  /** Exception rules (`!<host>`) — registrable carve-outs that beat
    * every other rule ([[PublicSuffixes.Exceptions]]). */
  val MultiPartExceptions: Seq[String] = PublicSuffixes.Exceptions

  /** Query parameters stripped by [[canonicalUrl]]: the cross-site
    * tracking families (analytics campaign tags and click ids) that
    * make one page crawl as dozens of "distinct" URLs. Widened r15
    * (r14 verdict item 3) to the common public set — every miss is a
    * duplicate class exact-URL dedup exists to collapse. Grouped by
    * vendor family; still a plain parameter wherever it matters. */
  val TrackingParams: Seq[String] = Seq(
    // Google/Urchin campaign tags + Google Ads click ids
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "utm_id", "utm_source_platform", "utm_creative_format",
    "utm_marketing_tactic",
    "gclid", "gclsrc", "gbraid", "wbraid", "dclid",
    // Meta / Microsoft / Yandex / TikTok / Twitter / LinkedIn click ids
    "fbclid", "msclkid", "yclid", "_openstat", "ttclid", "twclid",
    "li_fat_id",
    // Instagram share ids
    "igshid", "igsh",
    // Mailchimp / Marketo / HubSpot / Vero / Omeda email-campaign ids
    "mc_cid", "mc_eid", "mkt_tok", "_hsenc", "_hsmi",
    "vero_id", "vero_conv", "oly_anon_id", "oly_enc_id",
    // generic referrer tag
    "ref")

  /** [[TrackingParams]] as a SQL IN-list — for oracle twins that strip
    * the same set (q170/q171 must never hardcode a stale copy). */
  def trackingParamsSql: String = sqlList(TrackingParams)

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("(", ", ", ")")

  /** URLs we canonicalize must have a real scheme+authority; anything
    * else (relative references, "javascript:", bare hosts, garbage) is
    * passed through UNCHANGED rather than silently mangled into
    * `://<original>/` — a malformed crawl URL must stay visibly
    * malformed, not degrade into a shared empty-host dedup/blocklist
    * key. */
  private val HasAuthorityRe = "^[A-Za-z][A-Za-z0-9+.-]*://"

  // ---------------------------------- RFC 3986 §6.2.2.2 percent-encoding
  /** The unreserved characters (RFC 3986 §2.3): percent-escapes of these
    * decode during normalization ("%7Euser" ≡ "~user"); every OTHER
    * escape is semantic and only has its hex digits uppercased
    * ("%3a" → "%3A"). '%' itself (0x25) is NOT unreserved, so "%2541"
    * can never double-decode. */
  private val Unreserved: Seq[Char] =
    (('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9')) ++ Seq('-', '.', '_', '~')

  /** Percent-encoding normalization — ONE codegen'd O(len) string pass
    * ([[graft.functions.UrlPctNormalize]]). A 78-step regexp_replace
    * chain expressed the same rules but Catalyst tree duplication
    * multiplied it into hundreds of regex executions per row (q181:
    * 107 s at sf0.1 vs ~2 s) — the library's own "native expression
    * beats a UDF beats a regex chain" rule. The
    * DuckDB twin ([[pctNormalizeSql]]) is single-pass-EQUIVALENT,
    * verified byte-equivalent over all UrlSpec fixtures. */
  private def pctNormalize(u: Column): Column =
    graft.functions.UrlExpressions.pctNormalize(u)

  /** DuckDB twin of [[pctNormalize]] — single-pass-EQUIVALENT (r14
    * advisory closed a real divergence here): the prior sequential
    * replace chain could double-decode when a decode MINTED a new
    * escape — for '%6%412' the kernel's one scan yields '%6A2' (the
    * leading '%6%' is not a valid escape, '%41' decodes to 'A'), but
    * after the chain decoded %41→'A' it also matched the newly-formed
    * '%6A' and yielded 'j2'. This form tokenizes the string exactly the
    * way the kernel scans it — one left-to-right regexp alternation of
    * (valid escape | bare '%' | non-'%' run), which can never see a
    * character produced by another token's rewrite — then maps each
    * ESCAPE token once (unreserved → the decoded char, anything else →
    * '%'+uppercased hex = upper(token)); bare '%' and non-'%' runs pass
    * through untouched. */
  private def pctNormalizeSql(e: String): String = {
    val whens = Unreserved.map(ch =>
      s"WHEN '%${f"${ch.toInt}%02X"}' THEN '$ch'").mkString(" ")
    s"""array_to_string(list_transform(
       |  regexp_extract_all($e, '%[0-9A-Fa-f]{2}|%|[^%]+'),
       |  pt -> CASE WHEN substr(pt, 1, 1) = '%' AND length(pt) = 3
       |    THEN CASE upper(pt) $whens ELSE upper(pt) END
       |    ELSE pt END), '')""".stripMargin
  }

  /** Lowercase the scheme and host[:port] of `url`'s authority while
    * PRESERVING any userinfo (RFC 3986 §6.2.2.1: scheme and host are
    * case-insensitive; userinfo and everything after the authority are
    * not). The userinfo pattern `[^/?#@]*@` deliberately admits ':'
    * (user:pw@) so a credentialed URL cannot smuggle its username in
    * as the "host". */
  private val SchemeRe = "^[A-Za-z][A-Za-z0-9+.-]*"
  private val UserinfoRe = "(?:[^/?#@]*@)?"
  private def lowerAuthority(base: Column): Column = {
    val scheme = lower(regexp_extract(base, s"($SchemeRe)://", 1))
    val userinfo = regexp_extract(base, s"$SchemeRe://([^/?#@]*@)?", 1)
    // IDN fold after lowering (r14 verdict item 6): an xn--…-encoded
    // host and its Unicode form are the SAME authority, so they must
    // share one canonical URL (q181's dedup key). A ':port' tail is a
    // non-ACE label to the folder — passes through untouched. The
    // DuckDB twin does NOT replay the fold (Punycode is not expressible
    // in its SQL); the divergence is confined to hosts containing
    // 'xn--', which the oracle corpus contains none of by construction
    // — the kernel itself is pinned in UrlSpec.
    val hostport = graft.functions.UrlExpressions.idnFold(lower(
      regexp_extract(base, s"$SchemeRe://$UserinfoRe([^/]*)", 1)))
    val rest = regexp_replace(base, s"$SchemeRe://[^/]*", "")
    concat(scheme, lit("://"), userinfo, hostport, rest)
  }

  /** Canonical URL: percent-encoding normalized (RFC 3986 §6.2.2.2 —
    * unreserved escapes decoded, remaining hex uppercased); fragment
    * stripped; scheme+authority lowercased; default port removed
    * (`:80` for http, `:443` for https); dot segments removed from the
    * path (§6.2.2.3 — `/a/./b` and `/a/c/../b` both crawl as `/a/b`);
    * empty path normalized to `/`; tracking parameters dropped and the
    * surviving query parameters SORTED (parameter order is not
    * semantic, and sorting makes equal resources string-equal). A URL
    * with no scheme+authority passes through unchanged (see
    * [[HasAuthorityRe]]). */
  def canonicalUrl(url: Column): Column = {
    val u = pctNormalize(url)
    val noFrag = regexp_replace(u, "#.*$", "")
    val base = lowerAuthority(regexp_extract(noFrag, "^[^?]*", 0))
    // each default-port pattern is scheme-anchored, so two unconditional
    // rewrites strip exactly the (scheme, default-port) combinations;
    // the optional userinfo group keeps user:pw@host:80 strippable
    val base2 = regexp_replace(
      regexp_replace(base,
        "^(http://(?:[^/@]*@)?[^/:]*):80(/|$)", "$1$2"),
      "^(https://(?:[^/@]*@)?[^/:]*):443(/|$)", "$1$2")
    // remove_dot_segments (§6.2.2.3) — the codegen'd one-scan kernel
    // ([[graft.functions.UrlRemoveDotSegments]]): '.' is a no-op, '..'
    // pops the last emitted segment (a pop at root stays at root —
    // leading '..' drops, per the RFC), anything else appends; a
    // trailing '.'/'..' leaves the trailing slash the RFC output buffer
    // keeps. The DuckDB twin runs the same fold as list_reduce over the
    // split segments. (An `aggregate` HOF expressed this too, but
    // Catalyst HOFs are CodegenFallback and one fallback node drops the
    // WHOLE duplicated canonicalization tree to interpreted eval —
    // measured 10× on q181.)
    val prefix = regexp_extract(base2, "^([a-z][a-z0-9+.-]*://[^/]*)", 1)
    val path = regexp_replace(base2, "^[a-z][a-z0-9+.-]*://[^/]*", "")
    val base2b = concat(prefix,
      graft.functions.UrlExpressions.removeDotSegments(path))
    val base3 = when(regexp_extract(base2b, "^[a-z][a-z0-9+.-]*://[^/]*(/.*)?$", 1) === "",
      concat(base2b, lit("/"))).otherwise(base2b)
    val q = when(noFrag.contains("?"),
      regexp_replace(noFrag, "^[^?]*\\?", "")).otherwise(lit(""))
    val kept = array_sort(filter(split(q, "&"), p =>
      p =!= "" && !regexp_extract(p, "^([^=]*)", 1).isin(TrackingParams: _*)))
    when(url.rlike(HasAuthorityRe),
      when(size(kept) > 0, concat(base3, lit("?"), concat_ws("&", kept)))
        .otherwise(base3))
      .otherwise(url)
  }

  /** DuckDB twin of [[canonicalUrl]] over a column expression `url`. */
  def canonicalUrlSql(url: String): String =
    s"""(CASE WHEN NOT regexp_matches($url, '$HasAuthorityRe') THEN $url
       |ELSE
       |(WITH x0 AS (SELECT ${pctNormalizeSql(url)} AS u),
       |x AS (SELECT regexp_replace(u, '#.*$$', '') AS nf FROM x0),
       |y AS (SELECT nf,
       |    lower(regexp_extract(regexp_extract(nf, '^[^?]*'),
       |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://' ||
       |    coalesce(regexp_extract(regexp_extract(nf, '^[^?]*'),
       |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#@]*@)?', 1), '') ||
       |    lower(regexp_extract(regexp_extract(nf, '^[^?]*'),
       |      '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/]*)', 1)) ||
       |    regexp_replace(regexp_extract(nf, '^[^?]*'),
       |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*', '') AS b FROM x),
       |z AS (SELECT nf, regexp_replace(
       |    regexp_replace(b,
       |      '^(http://(?:[^/@]*@)?[^/:]*):80(/|$$)', '\\1\\2'),
       |    '^(https://(?:[^/@]*@)?[^/:]*):443(/|$$)', '\\1\\2')
       |    AS b2 FROM y),
       |ds AS (SELECT nf,
       |    regexp_extract(b2, '^([a-z][a-z0-9+.-]*://[^/]*)', 1) AS pre,
       |    regexp_replace(b2, '^[a-z][a-z0-9+.-]*://[^/]*', '') AS pth
       |  FROM z),
       |d2 AS (SELECT nf, pre || (CASE
       |    WHEN regexp_matches(pth, '/\\.\\.?$$') THEN fp || '/'
       |    ELSE fp END) AS b2
       |  FROM (SELECT nf, pre, pth,
       |    list_reduce(list_prepend('', (string_split(pth, '/'))[2:]),
       |      (acc, seg) -> CASE WHEN seg = '.' THEN acc
       |        WHEN seg = '..' THEN regexp_replace(acc, '/[^/]*$$', '')
       |        ELSE acc || '/' || seg END) AS fp FROM ds)),
       |w AS (SELECT nf, CASE
       |    WHEN regexp_extract(b2, '^[a-z][a-z0-9+.-]*://[^/]*(/.*)?$$', 1) = ''
       |      THEN b2 || '/' ELSE b2 END AS b3,
       |  CASE WHEN contains(nf, '?')
       |    THEN regexp_replace(nf, '^[^?]*\\?', '') ELSE '' END AS q
       |  FROM d2),
       |k AS (SELECT b3, list_sort(list_filter(string_split(q, '&'),
       |    p -> p <> '' AND NOT regexp_extract(p, '^([^=]*)', 1)
       |      IN ${sqlList(TrackingParams)})) AS kept FROM w)
       |SELECT CASE WHEN len(kept) > 0
       |  THEN b3 || '?' || array_to_string(kept, '&') ELSE b3 END FROM k)
       |END)""".stripMargin

  /** The lowercased, IDN-folded host of `url` (no port, no userinfo —
    * the optional `user[:pw]@` prefix is skipped so credentials can
    * never pose as the host, which would otherwise be a blocklist
    * bypass), extracted from the percent-normalized form so
    * "ex%61mple.com" cannot dodge a blocklist, and folded from the
    * `xn--` ACE form so "xn--mnchen-3ya.de" cannot either (same
    * divergence note as [[lowerAuthority]]: the twin skips the fold,
    * which only fires on 'xn--' hosts — absent from the oracle corpus);
    * NULL when the URL has no scheme+authority (a malformed URL must
    * not degrade to the shared ''-host key). */
  def hostOf(url: Column): Column =
    when(url.rlike(HasAuthorityRe),
      graft.functions.UrlExpressions.idnFold(lower(
        regexp_extract(pctNormalize(url),
          s"$SchemeRe://$UserinfoRe([^/:?#]*)", 1))))

  /** DuckDB twin of [[hostOf]]. */
  def hostOfSql(url: String): String =
    s"(CASE WHEN regexp_matches($url, '$HasAuthorityRe') THEN " +
      s"lower(regexp_extract(${pctNormalizeSql(url)}, " +
      s"'$SchemeRe://$UserinfoRe([^/:?#]*)', 1)) END)"

  /** Registered domain (public-suffix + 1): the LONGEST suffix-set
    * entry that matches the host's trailing labels wins, and the
    * registered domain is that suffix plus one label; no match falls
    * back to the standard last-2 — the aggregation key for domain
    * caps/blocklists (grouping by full host lets one site dodge a cap
    * with unlimited subdomains). Label-count-generic (r14 verdict item
    * 1): suffixes of 2+ labels all match on label boundaries, so
    * `user.github.io` keys as itself (suffix github.io + 1) and
    * `bucket.s3.amazonaws.com` as itself (3-label suffix + 1). A host
    * that IS a suffix exactly (e.g. bare `github.io`) returns itself,
    * matching the bare/2-label convention. One broadcast hash-set probe
    * per label-count tier — row-local, no shuffle, same cost shape at
    * 9,000 suffixes as at 7.
    *
    * Wildcard + exception rules (r15 verdict item 3): a wildcard base
    * `w` (PSL `*.w`) makes EVERY direct child of `w` a public suffix —
    * it probes on the same tier walk as the (labels(w)+1)-label exact
    * rules ("trailing labels(w) equal `w`, one label free"), so
    * `vm.us-east-1.compute.amazonaws.com` keys under the 5-label unit,
    * not as all-of-EC2; rank ties with exact rules need no ordering
    * (both yield the same suffix length). An exception `!e` prevails
    * over every other rule (PSL algorithm): `e` itself is the
    * registrable unit for `e` and all its descendants — `x.www.ck`
    * keys as `www.ck` even though `*.ck` covers it. */
  def registeredDomain(host: Column,
      suffixes: Seq[String] = MultiPartSuffixes,
      wildcards: Seq[String] = MultiPartWildcards,
      exceptions: Seq[String] = MultiPartExceptions): Column =
    graft.functions.UrlExpressions.registeredDomain(
      host, suffixes, wildcards, exceptions)

  /** The Column-fold REFERENCE shape of [[registeredDomain]] — the
    * when-chain a SQL oracle can read off directly (and the shape
    * [[registeredDomainSql]] mirrors). NOT the production path: every
    * when branch re-references split/slice/concat_ws subtrees that
    * Catalyst duplicates rather than CSEs, which the r16 same-box A/B
    * measured at 2-3× on the domain-rollup queries (DECISIONS
    * round-16). Kept as the executable spec; UrlSpec pins EXACT output
    * equality with the kernel over every fixture host, so the oracles
    * that replay this form stay valid against the kernel path. */
  def registeredDomainExpr(host: Column,
      suffixes: Seq[String] = MultiPartSuffixes,
      wildcards: Seq[String] = MultiPartWildcards,
      exceptions: Seq[String] = MultiPartExceptions): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    def tailK(k: Int) = concat_ws(".", slice(labels, -k, k))
    def nLabels(s: String) = s.count(_ == '.') + 1
    val byLen = suffixes.groupBy(nLabels)
    // a wildcard base of k labels is a (k+1)-label rule — it probes on
    // the SAME tier walk, ranked with the (k+1)-label exact rules
    val wildByRank = wildcards.groupBy(nLabels(_) + 1)
    val excByLen = exceptions.groupBy(nLabels)
    // explicit NULL passthrough: concat_ws SKIPS null inputs, so without
    // the guard a NULL host (malformed URL) would fall through to the
    // '' domain — exactly the shared-key degradation hostOf avoids
    val guard = when(host.isNull, lit(null).cast("string"))
    // exception rules prevail over EVERYTHING (PSL algorithm step 3):
    // the exception itself is the registrable unit, for the host and
    // any descendant alike
    val withExc = excByLen.keys.toSeq.sorted.reverse.foldLeft(guard) {
      (acc, j) => acc.when(n >= j && tailK(j).isin(excByLen(j): _*),
        tailK(j))
    }
    val base = withExc.when(n <= 2, host)
    // longest rule first; each rank is one (or two) set-membership
    // probes — exact suffixes of r labels and wildcard bases of r-1
    (byLen.keys.toSet ++ wildByRank.keys.toSet).toSeq.sorted.reverse
      .foldLeft(base) { (acc, r) =>
        val withExact = byLen.get(r).fold(acc) { es =>
          acc.when(n > r && tailK(r).isin(es: _*), tailK(r + 1))
            .when(n === r && tailK(r).isin(es: _*), host)
        }
        wildByRank.get(r).fold(withExact) { ws =>
          withExact
            .when(n > r && tailK(r - 1).isin(ws: _*), tailK(r + 1))
            .when(n === r && tailK(r - 1).isin(ws: _*), host)
        }
      }.otherwise(tailK(2))
  }

  /** DuckDB twin of [[registeredDomain]] over a column expression `host`. */
  def registeredDomainSql(host: String,
      suffixes: Seq[String] = MultiPartSuffixes,
      wildcards: Seq[String] = MultiPartWildcards,
      exceptions: Seq[String] = MultiPartExceptions): String = {
    def nLabels(s: String) = s.count(_ == '.') + 1
    val byLen = suffixes.groupBy(nLabels)
    val wildByRank = wildcards.groupBy(nLabels(_) + 1)
    val excByLen = exceptions.groupBy(nLabels)
    def tail(k: Int) = s"array_to_string(ls[-$k:], '.')"
    val excs = excByLen.keys.toSeq.sorted.reverse.map { j =>
      s"""  WHEN len(ls) >= $j AND ${tail(j)} IN ${sqlList(excByLen(j))}
         |    THEN ${tail(j)}""".stripMargin
    }.mkString("\n")
    val tiers = (byLen.keys.toSet ++ wildByRank.keys.toSet).toSeq
      .sorted.reverse.map { r =>
        val exact = byLen.get(r).fold("") { es =>
          s"""  WHEN len(ls) > $r AND ${tail(r)} IN ${sqlList(es)}
             |    THEN ${tail(r + 1)}
             |  WHEN len(ls) = $r AND ${tail(r)} IN ${sqlList(es)}
             |    THEN $host""".stripMargin
        }
        val wild = wildByRank.get(r).fold("") { ws =>
          s"""  WHEN len(ls) > $r AND ${tail(r - 1)} IN ${sqlList(ws)}
             |    THEN ${tail(r + 1)}
             |  WHEN len(ls) = $r AND ${tail(r - 1)} IN ${sqlList(ws)}
             |    THEN $host""".stripMargin
        }
        Seq(exact, wild).filter(_.nonEmpty).mkString("\n")
      }.mkString("\n")
    val excBlock = if (excs.isEmpty) "" else excs + "\n"
    s"""(WITH l AS (SELECT string_split($host, '.') AS ls)
       |SELECT CASE
       |$excBlock  WHEN len(ls) <= 2 THEN $host
       |$tiers
       |  ELSE array_to_string(ls[-2:], '.') END FROM l)""".stripMargin
  }

  /** Per-document URL canonicalization frame: the raw and canonical
    * URL, host, registered domain, and how many query parameters the
    * tracking strip removed. Pure row-local select; `keep` names
    * pass-through columns (a stream keeps its event time).
    *
    * Production path is the ONE-SCAN struct kernel
    * ([[graft.functions.UrlCanonParts]], r16 verdict item 5): the
    * prior Column forest re-ran pctNormalize per reference and ~12
    * regexp nodes with Catalyst-duplicated subtrees; the kernel
    * produces all three derived values in one pass, and its struct
    * field reads CSE inside the single projection. The forest
    * ([[canonicalUrl]]/[[hostOf]] + the split/filter counts) remains
    * the executable spec the oracles replay — UrlSpec pins kernel ≡
    * forest on every fixture, and [[canonicalizeExpr]] keeps the
    * forest runnable for that pin. */
  def canonicalize(docs: DataFrame, id: Column, url: Column,
      keep: Seq[String] = Nil): DataFrame = {
    val parts =
      graft.functions.UrlExpressions.canonParts(url, TrackingParams)
    docs.select(keep.map(col) ++ Seq(id.as("doc_id"), url.as("url"),
      parts.getField("url_canon").as("url_canon"),
      parts.getField("host").as("host"),
      registeredDomain(parts.getField("host")).as("domain"),
      // a NULL url nulls the whole kernel struct, but the forest's
      // dropped-count reads 0 there (its `otherwise("")` query branch)
      // — coalesce keeps kernel ≡ forest on NULL inputs too
      coalesce(parts.getField("n_params_dropped"), lit(0L))
        .as("n_params_dropped")): _*)
  }

  /** The Column-forest REFERENCE shape of [[canonicalize]] — the form
    * the DuckDB oracle twins read off directly ([[canonicalUrlSql]] /
    * [[hostOfSql]] mirror ITS trees). NOT the production path (the
    * [[registeredDomainExpr]] precedent); UrlSpec pins EXACT
    * three-column equality with the kernel over every fixture URL. */
  def canonicalizeExpr(docs: DataFrame, id: Column, url: Column,
      keep: Seq[String] = Nil): DataFrame = {
    val q = when(regexp_replace(url, "#.*$", "").contains("?"),
      regexp_replace(regexp_replace(url, "#.*$", ""), "^[^?]*\\?", ""))
      .otherwise(lit(""))
    val all = filter(split(q, "&"), p => p =!= "")
    val kept = filter(all, p =>
      !regexp_extract(p, "^([^=]*)", 1).isin(TrackingParams: _*))
    val host = hostOf(url)
    docs.select(keep.map(col) ++ Seq(id.as("doc_id"), url.as("url"),
      canonicalUrl(url).as("url_canon"),
      host.as("host"),
      registeredDomain(host).as("domain"),
      (size(all) - size(kept)).cast("long").as("n_params_dropped")): _*)
  }

  /** Exact-URL dedup over a [[canonicalize]] frame — crawl stage zero:
    * the same resource fetched as `?utm_source=…`, `#fragment`,
    * mixed-case-host, or `:80` variants collapses onto its canonical
    * URL, the min-id fetch survives (the cross-doc dedup canon
    * convention), and everything else drops BEFORE content-level
    * dedup ever hashes a shingle. ONE unordered window pass on the
    * canonical-URL key (min/count over the whole partition — no sort):
    * the canonical-URL group frame is corpus-cardinality (most URLs are
    * unique), so a groupBy + join-back would shuffle twice and
    * re-canonicalize the input once per branch; the window shuffles
    * once and reads the canonicalization once (measured 2× on q181).
    * Emits every doc with its keeper and copy count so the drop is
    * auditable.
    *
    * NULL canonical URLs (⇔ a NULL source url — [[canonicalUrl]] passes
    * malformed non-NULL urls through as themselves) are each their OWN
    * keeper (n_copies = 1, keep = true): two docs with no URL share no
    * evidence of being the same resource, so grouping them — what a
    * bare `Window.partitionBy(url_canon)` would do, NULLs collate
    * together — would silently drop all but one (r14 advisory). The
    * window partitions on (url_canon, NULL ? doc_id : 0) — a TWO-column
    * key, so NULL rows are singleton partitions (their own keeper by
    * construction) and can never collide with a real canonical URL the
    * way a sentinel-string salt could (a malformed pass-through
    * url_canon is an arbitrary crawl string); the per-row salt also
    * keeps a heavily-NULL corpus from funneling one all-NULLs window
    * partition to a single task. */
  def urlDedup(canon: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("url_canon"),
      when(col("url_canon").isNull, col("doc_id")).otherwise(lit(0L)))
    canon.select(col("doc_id"), col("url_canon"), col("domain"))
      .withColumn("keeper_id", min(col("doc_id")).over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("keep", col("doc_id") === col("keeper_id"))
  }

  /** Per-domain token-budget cap — the RefinedWeb-style head-domain
    * squeeze, but greedy-by-quality against a TOKEN budget rather than
    * a doc count (q19's top-k-per-group) or a global allocation
    * (q144's waterfill): within each domain, documents are taken in
    * (score desc, id asc) order while the RUNNING token total stays
    * within `tokenBudget`; the first doc of a domain always survives
    * (a single giant page must not zero out its domain). Returns every
    * doc with its in-domain rank, cumulative tokens, and keep verdict.
    *
    * Shape: the skew bound is ENFORCED, not advisory (r13 verdict item
    * 7) — `maxDocsPerDomain` caps how many docs per domain ever reach
    * the ordered window, via an exact salted two-phase top-N: phase 1
    * ranks within (domain, doc_id mod `salt`) buckets — every global
    * top-N doc is in its bucket's top-N, so pruning to N per bucket
    * loses nothing — and phase 2 runs the true per-domain window over
    * ≤ salt·maxDocs candidate rows. A corpus-dominating domain (the
    * RefinedWeb head: one domain with double-digit share) therefore
    * costs one task ~(its docs)/salt in phase 1 and ≤ salt·maxDocs in
    * phase 2, instead of single-threading its entire doc list; `salt`
    * scales with executor count. Docs pruned in phase 1 stay in the
    * OUTPUT (auditable, like [[urlDedup]]'s drops) with NULL
    * rank/cum_tokens and keep = false — by construction they rank
    * below maxDocsPerDomain, far past any sane budget. */
  def domainTokenCap(docs: DataFrame, id: Column, domain: Column,
      tokens: Column, score: Column, tokenBudget: Long,
      maxDocsPerDomain: Long = 100000L, salt: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(id.as("doc_id"), domain.as("domain"),
      tokens.cast("long").as("n_tokens"), score.as("score"))
    val wS = Window.partitionBy(col("domain"), col("_salt"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val cand = base
      .withColumn("_salt", pmod(col("doc_id"), lit(salt.toLong)))
      .withColumn("_srk", row_number().over(wS))
      .where(col("_srk") <= maxDocsPerDomain)
      .drop("_salt", "_srk")
    val w = Window.partitionBy(col("domain"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val ranked = cand
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= maxDocsPerDomain)
      .withColumn("cum_tokens", sum(col("n_tokens")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("keep",
        col("cum_tokens") <= tokenBudget || col("rank") === 1L)
    base.join(
        ranked.select(col("doc_id"), col("rank"), col("cum_tokens"),
          col("keep")),
        Seq("doc_id"), "left")
      .withColumn("keep", coalesce(col("keep"), lit(false)))
  }

  /** Per-registered-domain corpus rollup over a [[canonicalize]] frame
    * joined back to token counts: document share, distinct hosts,
    * canonical-URL duplication (docs minus distinct canonical URLs —
    * crawl redundancy the canonicalization exposed), and the blocklist
    * verdict. One hash aggregation to a domain-sized frame.
    *
    * `blocked` is an explicit FALSE for the NULL-domain (malformed-URL)
    * group, not three-valued NULL (r14 advisory): `isin` over a NULL
    * domain yields NULL, and a downstream `!blocked` / `blocked =
    * false` filter would then silently drop exactly the malformed-URL
    * rows the NULL host/domain convention exists to keep visible. */
  def domainStats(canon: DataFrame, tokens: Column,
      blocklist: Seq[String]): DataFrame =
    canon.groupBy(col("domain")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("host")).as("n_hosts"),
      (count(lit(1)) - countDistinct(col("url_canon"))).as("n_url_dups"),
      sum(tokens).as("n_tokens"),
      sum(col("n_params_dropped")).as("n_tracking_params"))
      .withColumn("blocked",
        coalesce(col("domain").isin(blocklist: _*), lit(false)))
}
