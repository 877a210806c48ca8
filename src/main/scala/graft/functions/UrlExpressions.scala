package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** RFC 3986 §6.2.2.2 percent-encoding normalization as ONE compiled
  * string pass — decode percent-escapes of unreserved characters
  * ("%7Euser" → "~user"), uppercase the hex digits of every other
  * escape ("%3a" → "%3A"), leave invalid escapes and everything else
  * untouched.
  *
  * Why an expression and not regexp_replace: the rule set is 66
  * decodes + 12 hex-uppercases; as a chained-regexp Column tree that is
  * 78 regex passes PER REFERENCE, and URL canonicalization references
  * the normalized string many times (host extraction, domain labels,
  * path/query splits), so Catalyst's tree duplication multiplied it
  * into hundreds of regex executions per row — measured 107 s for
  * q181 at sf0.1 vs ~2 s before. One O(len) scan with a
  * no-'%'-fast-path restores the row-local-cheap contract; the DuckDB
  * twin keeps the (engine-verified-equivalent) replace chain, where a
  * scalar fold is not expressible. */
object UrlNorm {
  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else -1

  private def upperHex(c: Char): Char =
    if (c >= 'a' && c <= 'f') (c - 32).toChar else c

  /** Unreserved per §2.3: ALPHA / DIGIT / '-' / '.' / '_' / '~'. */
  private def isUnreserved(b: Int): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') ||
      (b >= '0' && b <= '9') ||
      b == '-' || b == '.' || b == '_' || b == '~'

  /** The kernel — same left-to-right non-overlapping semantics as the
    * regexp chain it replaces (UrlSpec pins 37 fixtures; the DuckDB
    * twin runs the chain form and must byte-match). */
  def pctNormalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (str.indexOf('%') < 0) return s // fast path: nothing to do
    UTF8String.fromString(pctNormalizeStr(str))
  }

  /** [[pctNormalize]]'s string core (shared by [[UrlCanonParts]]). */
  private[functions] def pctNormalizeStr(str: String): String = {
    if (str.indexOf('%') < 0) return str
    val n = str.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = str.charAt(i)
      if (c == '%' && i + 2 < n &&
          hexVal(str.charAt(i + 1)) >= 0 && hexVal(str.charAt(i + 2)) >= 0) {
        val b = hexVal(str.charAt(i + 1)) * 16 + hexVal(str.charAt(i + 2))
        if (isUnreserved(b)) sb.append(b.toChar)
        else {
          sb.append('%')
          sb.append(upperHex(str.charAt(i + 1)))
          sb.append(upperHex(str.charAt(i + 2)))
        }
        i += 3
      } else {
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  /** RFC 3986 §6.2.2.3 remove_dot_segments over an absolute PATH
    * ('' or '/…') — one scan, byte-parity with the string fold the
    * DuckDB twin runs via list_reduce (and with the Spark `aggregate`
    * HOF form this replaces: Catalyst HOFs are CodegenFallback, and one
    * fallback node forced the ENTIRE canonicalization tree — duplicated
    * by the downstream host/domain/query references — into interpreted
    * eval; measured q181 22 s at sf0.1 vs ~2 s with this kernel).
    * Semantics: fold segments after the leading '/': '.' is a no-op,
    * '..' pops the last emitted segment (root pops to root), anything
    * else (empty segments included — '//' is two segments) appends;
    * a trailing '.'/'..' keeps the RFC output buffer's trailing
    * slash. */
  def removeDotSegments(p: UTF8String): UTF8String = {
    val s = p.toString
    if (s.isEmpty || s.indexOf('.') < 0) return p // fast path
    UTF8String.fromString(removeDotSegmentsStr(s))
  }

  /** [[removeDotSegments]]'s string core (shared by [[UrlCanonParts]]). */
  private[functions] def removeDotSegmentsStr(s: String): String = {
    val n = s.length
    if (n == 0 || s.indexOf('.') < 0) return s // fast path: no dot segments
    val sb = new java.lang.StringBuilder(n)
    var i = 1
    while (i <= n) {
      var j = i
      while (j < n && s.charAt(j) != '/') j += 1
      val len = j - i
      if (len == 1 && s.charAt(i) == '.') {
        // '.': current-directory no-op
      } else if (len == 2 && s.charAt(i) == '.' && s.charAt(i + 1) == '.') {
        val k = sb.lastIndexOf("/")
        if (k >= 0) sb.setLength(k)
      } else {
        sb.append('/')
        sb.append(s, i, j)
      }
      i = j + 1
    }
    if (s.endsWith("/.") || s.endsWith("/..")) sb.append('/')
    sb.toString
  }

  /** IDNA host folding (r14 verdict item 6): an `xn--`-encoded
    * (Punycode, RFC 3492 / IDNA RFC 5890) host label and its Unicode
    * form name the SAME authority — `xn--mnchen-3ya.de` IS
    * `münchen.de` — so dedup/cap/blocklist keys must not split on the
    * encoding. Folds every ACE label to its Unicode form via the JDK's
    * `java.net.IDN.toUnicode` (which by contract never fails — a
    * malformed ACE label passes through unmodified, matching the
    * library's malformed-input convention). Fold direction is
    * ASCII→Unicode because `toASCII` throws on labels that are not
    * IDNA-encodable, and a crawl host is hostile input. Row-local, one
    * fast-path substring probe per host; only hosts containing "xn--"
    * pay the JDK call. Call sites pass LOWERCASED hosts (the ACE prefix
    * check is case-exact here by design — hostOf lowers first). */
  def idnFold(h: UTF8String): UTF8String = {
    val s = h.toString
    if (s.indexOf("xn--") < 0) return h // fast path: no ACE labels
    try UTF8String.fromString(java.net.IDN.toUnicode(s))
    catch { case _: IllegalArgumentException => h }
  }

  /** [[idnFold]]'s string core (shared by [[UrlCanonParts]]). */
  private[functions] def idnFoldStr(s: String): String = {
    if (s.indexOf("xn--") < 0) return s
    try java.net.IDN.toUnicode(s)
    catch { case _: IllegalArgumentException => s }
  }

  /** Spark's `lower()` on a driver/executor string — UTF8String's
    * lowercase (ASCII fast path, else JDK toLowerCase), NOT
    * String.toLowerCase directly, so the kernel byte-matches the
    * Column forest on every input. */
  private[functions] def sparkLower(s: String): String =
    UTF8String.fromString(s).toLowerCase.toString
}

/** Codegen'd wrapper over [[UrlNorm.pctNormalize]]. */
case class UrlPctNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "url_pct_normalize"

  override def nullSafeEval(v: Any): Any =
    UrlNorm.pctNormalize(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.UrlNorm.pctNormalize($v);")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** Codegen'd wrapper over [[UrlNorm.removeDotSegments]]. */
case class UrlRemoveDotSegments(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "url_remove_dot_segments"

  override def nullSafeEval(v: Any): Any =
    UrlNorm.removeDotSegments(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.UrlNorm.removeDotSegments($v);")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** Codegen'd wrapper over [[UrlNorm.idnFold]]. */
case class UrlIdnFold(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "url_idn_fold"

  override def nullSafeEval(v: Any): Any =
    UrlNorm.idnFold(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.UrlNorm.idnFold($v);")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** Registered-domain (public-suffix + 1) extraction as ONE compiled
  * label walk with the three PSL rule sets as DATA — the kernel form of
  * [[graft.operators.UrlOps.registeredDomainExpr]]'s when-chain.
  *
  * Why an expression and not the Column fold: the fold references
  * `split(host)` + `slice` + `concat_ws` afresh inside EVERY when
  * branch, and Catalyst duplicates subtrees instead of CSE-ing them —
  * at the r15 snapshot's ~4 tiers plus r16's wildcard/exception probes
  * that is ~20 string-array builds per row, and the same-box solo A/B
  * measured q177 1.66 → 5.65 s and q181 1.77 → 5.00 s across
  * r14→r16 with the fold (DECISIONS round-16). This kernel counts
  * labels in one scan and probes each tier as one trailing-substring
  * hash-set lookup — the GramHashLens treatment. Semantics are pinned
  * ≡ the fold in UrlSpec; the DuckDB oracle twin stays the (shared)
  * CASE chain of [[graft.operators.UrlOps.registeredDomainSql]]. */
case class UrlRegisteredDomain(child: Expression, suffixes: Seq[String],
    wildcards: Seq[String], exceptions: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "url_registered_domain"

  private def nLabels(s: String) = s.count(_ == '.') + 1
  private def hs(xs: Seq[String]): java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](xs.size * 2)
    xs.foreach(s.add)
    s
  }

  /** Exception tiers, longest first: (labelCount, set). */
  @transient private lazy val excTiers
      : Array[(Int, java.util.HashSet[String])] =
    exceptions.groupBy(nLabels).toArray.sortBy(-_._1)
      .map { case (j, xs) => (j, hs(xs)) }

  /** Rule ranks, longest first: (rank, exactSet|null, wildBaseSet|null)
    * — a wildcard base of k labels is a (k+1)-label rule, probed on the
    * same walk (the [[graft.operators.UrlOps.registeredDomain]]
    * contract). */
  @transient private lazy val tiers: Array[(Int,
      java.util.HashSet[String], java.util.HashSet[String])] = {
    val ex = suffixes.groupBy(nLabels)
    val wd = wildcards.groupBy(nLabels(_) + 1)
    (ex.keySet ++ wd.keySet).toArray.sorted.reverse.map { r =>
      (r, ex.get(r).map(hs).orNull, wd.get(r).map(hs).orNull)
    }
  }

  /** The trailing-k-label suffix of `host` (the whole host when it has
    * fewer than k labels) — `concat_ws(".", slice(labels, -k, k))`
    * without materializing the label array. */
  private def tailFrom(host: String, k: Int): String = {
    var idx = host.length
    var seen = 0
    while (seen < k && idx > 0) {
      idx -= 1
      if (host.charAt(idx) == '.') seen += 1
    }
    if (seen < k) host else host.substring(idx + 1)
  }

  def domain(u: UTF8String): UTF8String = {
    val host = u.toString
    var n = 1
    var i = 0
    while (i < host.length) {
      if (host.charAt(i) == '.') n += 1
      i += 1
    }
    // exception rules prevail over everything (PSL algorithm)
    var e = 0
    while (e < excTiers.length) {
      val (j, set) = excTiers(e)
      if (n >= j) {
        val t = tailFrom(host, j)
        if (set.contains(t)) return UTF8String.fromString(t)
      }
      e += 1
    }
    if (n <= 2) return u
    var ti = 0
    while (ti < tiers.length) {
      val (r, exact, wild) = tiers(ti)
      if (n >= r) {
        if (exact != null && exact.contains(tailFrom(host, r)))
          return if (n > r) UTF8String.fromString(tailFrom(host, r + 1))
            else u
        if (wild != null && wild.contains(tailFrom(host, r - 1)))
          return if (n > r) UTF8String.fromString(tailFrom(host, r + 1))
            else u
      }
      ti += 1
    }
    UTF8String.fromString(tailFrom(host, 2))
  }

  override def nullSafeEval(v: Any): Any =
    domain(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val ref = ctx.addReferenceObj("urlRegDom", this,
        classOf[UrlRegisteredDomain].getName)
      s"${ev.value} = $ref.domain($v);"
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** URL canonicalization as ONE compiled scan returning a struct
  * `(url_canon, host, n_params_dropped)` — the kernel form of the
  * [[graft.operators.UrlOps.canonicalUrl]] + [[graft.operators.UrlOps
  * .hostOf]] + tracking-drop-count Column forest, with the tracking
  * set as DATA (r16 verdict item 5: the builder's A/B attributed the
  * residual URL-band cost to the param strip + the duplicated
  * canonicalUrl sub-expressions riding ~12 regexp nodes per
  * reference; the GramHashLens / UrlRegisteredDomain treatment
  * applies verbatim).
  *
  * The forest stays as the executable SPEC — the DuckDB oracles
  * replay ITS SQL twins ([[graft.operators.UrlOps.canonicalUrlSql]] /
  * [[graft.operators.UrlOps.hostOfSql]]), and UrlSpec pins this
  * kernel's three fields EXACTLY equal to the forest's three columns
  * over every fixture URL, so the oracles stay valid against the
  * kernel path. Each parsing step below mirrors one forest regexp
  * (cited inline); percent-normalize / remove-dot-segments / IDN fold
  * are the SAME [[UrlNorm]] cores the forest's kernels run.
  *
  * Scale shape: one O(len) scan + a bounded param sort per row,
  * zero regex, zero duplicated subtrees; the struct's three field
  * reads CSE inside one whole-stage-codegen projection. */
case class UrlCanonParts(child: Expression, tracking: Seq[String])
    extends UnaryExpression {
  import org.apache.spark.sql.types.{LongType, StructField, StructType}

  override def dataType: DataType = StructType(Seq(
    StructField("url_canon", StringType, nullable = true),
    StructField("host", StringType, nullable = true),
    StructField("n_params_dropped", LongType, nullable = false)))
  override def prettyName: String = "url_canon_parts"

  @transient private lazy val trackingSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](tracking.size * 2)
    tracking.foreach(s.add)
    s
  }

  /** End index of the scheme iff `s` has scheme "://" at position 0
    * ([[graft.operators.UrlOps]]'s `HasAuthorityRe` probe), else -1. */
  private def schemeEnd(s: String): Int = {
    if (s.isEmpty) return -1
    val c0 = s.charAt(0)
    if (!((c0 >= 'A' && c0 <= 'Z') || (c0 >= 'a' && c0 <= 'z'))) return -1
    var i = 1
    while (i < s.length && {
      val c = s.charAt(i)
      (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'
    }) i += 1
    if (s.startsWith("://", i)) i else -1
  }

  /** Tracking-key hits among the NON-EMPTY `&`-params of `q` (the
    * forest's `size(all) - size(kept)`: key = prefix before '='). */
  private def droppedIn(q: String): Long = {
    var dropped = 0L
    var start = 0
    var i = 0
    val n = q.length
    while (i <= n) {
      if (i == n || q.charAt(i) == '&') {
        if (i > start) {
          val p = q.substring(start, i)
          val eq = p.indexOf('=')
          val key = if (eq >= 0) p.substring(0, eq) else p
          if (trackingSet.contains(key)) dropped += 1
        }
        start = i + 1
      }
      i += 1
    }
    dropped
  }

  def parts(u0: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val url = u0.toString
    // n_params_dropped counts on the RAW url (the canonicalize()
    // contract): fragment-stripped, after the first '?'
    val nDropped = {
      val hi = url.indexOf('#')
      val rawNf = if (hi >= 0) url.substring(0, hi) else url
      val qi = rawNf.indexOf('?')
      if (qi >= 0) droppedIn(rawNf.substring(qi + 1)) else 0L
    }
    val se = schemeEnd(url)
    if (se < 0) // malformed: url passes through, host is NULL
      return new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](u0, null, nDropped))
    val nu = UrlNorm.pctNormalizeStr(url)
    // ---- host (hostOf): after '://' skip userinfo (first '@' before
    // any /?#), then the run up to ':' '/' '?' '#'
    val host: String = {
      val aStart = se + 3
      var aEnd = aStart
      while (aEnd < nu.length && {
        val c = nu.charAt(aEnd); c != '/' && c != '?' && c != '#'
      }) aEnd += 1
      var at = -1
      var i = aStart
      while (i < aEnd && at < 0) {
        if (nu.charAt(i) == '@') at = i
        i += 1
      }
      val hStart = if (at >= 0) at + 1 else aStart
      var hEnd = hStart
      while (hEnd < aEnd && nu.charAt(hEnd) != ':') hEnd += 1
      UrlNorm.idnFoldStr(UrlNorm.sparkLower(nu.substring(hStart, hEnd)))
    }
    // ---- canonical URL over noFrag(nu)
    val fi = nu.indexOf('#')
    val nf = if (fi >= 0) nu.substring(0, fi) else nu
    val qi = nf.indexOf('?')
    val base = if (qi >= 0) nf.substring(0, qi) else nf
    val scheme = UrlNorm.sparkLower(base.substring(0, se))
    val aStart = se + 3
    var aEnd = aStart
    while (aEnd < base.length && base.charAt(aEnd) != '/') aEnd += 1
    var at = -1
    var i = aStart
    while (i < aEnd && at < 0) {
      if (base.charAt(i) == '@') at = i
      i += 1
    }
    val userinfo = if (at >= 0) base.substring(aStart, at + 1) else ""
    var hostport = UrlNorm.idnFoldStr(UrlNorm.sparkLower(
      base.substring(if (at >= 0) at + 1 else aStart, aEnd)))
    // default-port strip (the two scheme-anchored rewrites): host part
    // `[^/:]*` then the literal default port at end-of-authority ⇔
    // hostport's FIRST ':' starts its ':80'/'443' suffix
    if (scheme == "http" && hostport.endsWith(":80") &&
        hostport.indexOf(':') == hostport.length - 3)
      hostport = hostport.substring(0, hostport.length - 3)
    else if (scheme == "https" && hostport.endsWith(":443") &&
        hostport.indexOf(':') == hostport.length - 4)
      hostport = hostport.substring(0, hostport.length - 4)
    // path: remove_dot_segments; an authority-only URL gets '/'
    // (canonPath == "" ⇔ rest == "", since the RFC fold maps any
    // nonempty '/…' input to a nonempty output)
    val rest = if (aEnd < base.length) base.substring(aEnd) else ""
    val path =
      if (rest.isEmpty) "/" else UrlNorm.removeDotSegmentsStr(rest)
    // query: non-empty non-tracking params of nf-after-first-'?',
    // sorted in UTF8-binary order (array_sort)
    val sb = new java.lang.StringBuilder(nu.length + 1)
    sb.append(scheme).append("://").append(userinfo).append(hostport)
      .append(path)
    if (qi >= 0) {
      val q = nf.substring(qi + 1)
      val kept = new java.util.ArrayList[UTF8String]
      var start = 0
      var j = 0
      val n = q.length
      while (j <= n) {
        if (j == n || q.charAt(j) == '&') {
          if (j > start) {
            val p = q.substring(start, j)
            val eq = p.indexOf('=')
            val key = if (eq >= 0) p.substring(0, eq) else p
            if (!trackingSet.contains(key))
              kept.add(UTF8String.fromString(p))
          }
          start = j + 1
        }
        j += 1
      }
      if (!kept.isEmpty) {
        java.util.Collections.sort(kept)
        sb.append('?')
        var k = 0
        while (k < kept.size) {
          if (k > 0) sb.append('&')
          sb.append(kept.get(k).toString)
          k += 1
        }
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(sb.toString),
        UTF8String.fromString(host), nDropped))
  }

  override def nullSafeEval(v: Any): Any =
    parts(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val ref = ctx.addReferenceObj("urlCanonParts", this,
        classOf[UrlCanonParts].getName)
      s"${ev.value} = $ref.parts($v);"
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object UrlExpressions {
  val FnName = "url_pct_normalize"
  val DotFnName = "url_remove_dot_segments"
  val IdnFnName = "url_idn_fold"
  val RegDomFnName = "url_registered_domain"
  val CanonFnName = "url_canon_parts"

  def pctNormalize(url: Column): Column = call_function(FnName, url)

  def removeDotSegments(path: Column): Column =
    call_function(DotFnName, path)

  def idnFold(host: Column): Column = call_function(IdnFnName, host)

  /** Compiled registered-domain column (see [[UrlRegisteredDomain]]). */
  def registeredDomain(host: Column, suffixes: Seq[String],
      wildcards: Seq[String], exceptions: Seq[String]): Column = {
    import org.apache.spark.sql.functions.typedlit
    call_function(RegDomFnName, host, typedlit(suffixes),
      typedlit(wildcards), typedlit(exceptions))
  }

  /** Compiled canonicalization struct
    * `(url_canon, host, n_params_dropped)` (see [[UrlCanonParts]]). */
  def canonParts(url: Column, tracking: Seq[String]): Column = {
    import org.apache.spark.sql.functions.typedlit
    call_function(CanonFnName, url, typedlit(tracking))
  }
}
