package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** URL decomposition for web-corpus curation — the keying primitives
  * behind per-domain caps (L36), domain mixing weights and crawl
  * frontier dedup. Production pipelines key on the HOST (or a domain
  * derived from it), not on a pre-supplied source label; these helpers
  * turn a raw `target_uri` column into those keys.
  *
  * Spark-first shape: every part is a composition of codegen'd
  * `regexp_extract`/`lower`/`nullif` BUILTINS — no UDF, no custom
  * kernel — and every regex keeps to the Java/RE2-shared syntax
  * discipline (explicit classes, `(?:...)`, no `\s`, no `(?i)`), so an
  * engine-independent oracle replays the parse byte-for-byte (q94).
  *
  * Scope (RFC 3986-lite, the curation subset): absolute URLs with an
  * explicit `scheme://`. Relative references parse to NULL scheme/host
  * (they have no domain to key on). IPv6 bracket hosts are passed
  * through verbatim (brackets included) — they contain `:` inside
  * brackets, so the port split keys on the LAST colon after `]`.
  */
object Url {

  // Shared-syntax discipline note on '$': Java's '$' also matches before
  // a FINAL newline, RE2's only at text end — a real divergence on
  // garbage input. The authority class therefore excludes line breaks
  // (an authority cannot contain them anyway), so every later
  // '$'-anchored sub-parse (port, domain) runs on break-free input
  // where the two semantics coincide.
  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  private val AuthorityRe = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#\\r\\n]*)"

  /** Lowercased scheme; NULL when the value is not an absolute URL. */
  def urlScheme(c: Column): Column =
    lower(nullif(regexp_extract(c, SchemeRe, 1), lit("")))

  /** The authority (userinfo@host:port) as written; NULL if absent. */
  def urlAuthority(c: Column): Column =
    nullif(regexp_extract(c, AuthorityRe, 1), lit(""))

  /** Lowercased host: authority minus userinfo and port. IPv6 bracket
    * hosts keep their brackets; the port colon is only split OUTSIDE
    * a closing bracket.
    *
    * Compiled kernel ([[Kernels.urlHost]], r11): the original four-regex
    * chain re-inlined its whole input tree at every reference whenever
    * the optimizer substituted it into pushed-down/inferred predicates
    * (q105's generate stage grew past the 64 KB codegen limit and fell
    * back to interpreted eval), and paid four Matcher allocations per
    * value. One imperative pass, byte-equal to the regex chain
    * ([[urlHostRegex]], kept as the oracle-parity twin —
    * UrlKernelSpec pins equality; the q94 oracle replays the regex
    * form in DuckDB as before).
    */
  def urlHost(c: Column): Column = Kernels.urlHost(c)

  /** The original codegen'd-builtins host parse — the engine-replayable
    * twin [[Kernels.urlHost]] must match value-for-value (UrlKernelSpec).
    */
  private[graft] def urlHostRegex(c: Column): Column = {
    val auth = regexp_extract(c, AuthorityRe, 1)
    val noUser = regexp_extract(auth, "(?:[^@]*@)?([^@]*)$", 1)
    // bracket form: take [..] verbatim; else strip a trailing :port
    val host = when(noUser.startsWith("["),
        regexp_extract(noUser, "^(\\[[^\\]]*\\])", 1))
      .otherwise(regexp_extract(noUser, "^([^:]*)", 1))
    lower(nullif(host, lit("")))
  }

  /** Port as an int; NULL when not written explicitly. */
  def urlPort(c: Column): Column =
    nullif(regexp_extract(urlAuthority(c), ":([0-9]+)$", 1), lit(""))
      .cast("int")

  /** Path as written ('' when absent — distinguishable from NULL = not
    * a URL at all).
    */
  def urlPath(c: Column): Column =
    when(urlAuthority(c).isNotNull,
      regexp_extract(c, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#\\r\\n]*([^?#]*)", 1))

  /** Query string (without '?'); NULL when absent. Gated on a non-null
    * authority (like [[urlPath]] — non-URL cells yield NULL, not a
    * substring after a stray '?') and anchored AFTER the
    * scheme/authority/path prefix, so a '?' inside a fragment
    * (`http://h/p#frag?x`) is not misread as a query.
    */
  def urlQuery(c: Column): Column =
    when(urlAuthority(c).isNotNull,
      nullif(regexp_extract(c,
        "^[A-Za-z][A-Za-z0-9+.-]*://[^?#]*\\?([^#]*)", 1), lit("")))

  /** Keying domain: the last two labels of the host (`news.bbc.co.uk`
    * -> `co.uk`... no: -> `bbc.co.uk` requires the public-suffix list,
    * which is EXTERNAL DATA this engine does not embed). This is the
    * deterministic fallback: last-two-labels (`sub.host7.example.com`
    * -> `example.com`), correct for generic TLDs, one label short for
    * ccTLD suffixes like `co.uk` — callers needing eTLD+1 precision
    * join a broadcast suffix table on the host's label suffixes
    * instead. NULL for bracket/IP-ish hosts without two dot labels.
    */
  def urlDomain(c: Column): Column = {
    val h = urlHost(c)
    when(!h.startsWith("["), nullif(regexp_extract(h, "([^.]+[.][^.]+)$", 1), lit("")))
  }

  /** All parts as one struct column (one pass over the plan, shared
    * subexpressions collapse under codegen).
    */
  def urlParts(c: Column): Column = struct(
    urlScheme(c).as("scheme"), urlHost(c).as("host"), urlPort(c).as("port"),
    urlPath(c).as("path"), urlQuery(c).as("query"), urlDomain(c).as("domain"))

  /** The last `k` dot-labels of a (break-free, lowercased) host column;
    * '' when the host has fewer than `k` labels. Shared Java/RE2 regex.
    */
  private def lastLabels(h: Column, k: Int): Column =
    regexp_extract(h, "([^.]+(?:[.][^.]+){" + (k - 1) + "})$", 1)

  /** eTLD+1 (registrable domain) against a caller-supplied public-suffix
    * list — the precision tier above [[urlDomain]]'s last-two-label
    * heuristic, which mis-keys every `*.co.uk`-style host to the suffix
    * itself and lumps all UK sites into one per-domain-cap bucket.
    *
    * Resolution (longest-match ladder, full PSL rule semantics):
    *  - a k-label suffix match keys the domain as the host's last k+1
    *    labels; NULL when the host IS the suffix (no registrant);
    *  - a WILDCARD rule `*.ck` (k labels counting `*`) matches any host
    *    whose last k-1 labels equal the tail and that has at least k
    *    labels — the wildcarded label is part of the public suffix, so
    *    the domain is the last k+1 labels (under `*.ck`, host
    *    `t.example.ck` has public suffix `example.ck` and registrable
    *    domain `t.example.ck`; host `example.ck` IS a suffix -> NULL);
    *  - an EXCEPTION rule `!www.ck` prevails over every other match
    *    (PSL algorithm): the public suffix is the rule minus its
    *    leftmost label, so the registrable domain is the rule itself
    *    for any host ending in it;
    *  - no listed suffix matching = the PSL's implicit `*` rule: the
    *    TLD alone is the public suffix, domain = last two labels —
    *    which is why `suffixes` only needs MULTI-label rules
    *    ([[PublicSuffix]] scaladoc); single-label entries are ignored.
    *  - bracket (IPv6) hosts and hosts without a dot yield NULL.
    *
    * All codegen'd builtins: the per-k candidate is one anchored
    * regexp_extract and the membership test an `isin` literal set
    * (Catalyst compiles large ones to InSet hash lookups) — replayable
    * in any engine as a CASE/IN ladder (q94/q97). For suffix tables too
    * big to inline in a plan, use [[withRegistrableDomain]].
    */
  def registrableDomain(c: Column, suffixes: Seq[String] = PublicSuffix.Snapshot): Column =
    registrableDomainOfHost(urlHost(c), suffixes)

  /** [[registrableDomain]] over an ALREADY-EXTRACTED host column. Prefer
    * this two-step form (materialize the host in its own projection,
    * then ladder over the column) when the URL itself is an expensive
    * expression: the ladder references the host ~2·maxK times, and
    * inlining a large URL derivation at every reference blows the
    * generated method past the JVM's 64 KB codegen limit (whole-stage
    * codegen then bails for the stage). A host ATTRIBUTE reference is
    * free; Catalyst's CollapseProject keeps the split because the
    * multiply-referenced extraction is non-cheap.
    */
  def registrableDomainOfHost(h: Column, suffixes: Seq[String] = PublicSuffix.Snapshot): Column =
    Kernels.registrableDomainOfHost(h, suffixes)

  /** The original when/isin ladder over anchored regex label extracts —
    * the engine-replayable twin [[Kernels.registrableDomainOfHost]] must
    * match value-for-value (UrlKernelSpec; the q94/q97 oracles replay
    * this form in DuckDB as before). Compiled kernel rationale: the
    * ladder references `h` ~2·maxK times, so any optimizer substitution
    * of a computed host into it (pushed-down filters, inferred
    * IsNotNull constraints) multiplied the host derivation past the
    * 64 KB whole-stage-codegen method limit (q105, r11), and each
    * reference paid a fresh anchored-regex Matcher.
    */
  private[graft] def registrableDomainOfHostLadder(
      h: Column, suffixes: Seq[String] = PublicSuffix.Snapshot): Column = {
    require(suffixes.nonEmpty, "suffix list must be non-empty")
    // the host side is always lowercased (urlHost lowers; the scaladoc
    // contract for raw host columns requires it) — lower the suffix side
    // too, so a mixed-case entry like "CO.UK" matches exactly like the
    // DataFrame tier (withRegistrableDomain), which lowers its suffix column
    val (excRules, wildTails, normals) = splitRules(suffixes)
    val byLen = normals.groupBy(_.count(_ == '.') + 1)
    // wildcard rule length counts the `*` label
    val wildByLen = wildTails.groupBy(_.count(_ == '.') + 2)
    val maxK = (byLen.keys ++ wildByLen.keys).foldLeft(2)(math.max)
    val fallback = nullif(lastLabels(h, 2), lit("")) // implicit `*` rule
    // ascending fold nests so the LONGEST suffix length is checked first
    val ladder = (2 to maxK).foldLeft(fallback) { (els, k) =>
      val conds =
        byLen.get(k).map(set => lastLabels(h, k).isin(set: _*)).toSeq ++
          // `*.tail`: last k-1 labels equal the tail AND a k-th label exists
          wildByLen.get(k).map(tails =>
            lastLabels(h, k - 1).isin(tails: _*) && lastLabels(h, k) =!= "")
      if (conds.isEmpty) els
      else when(conds.reduce(_ || _), nullif(lastLabels(h, k + 1), lit(""))).otherwise(els)
    }
    // exception rules prevail over EVERY other match (PSL algorithm);
    // the domain is the rule itself whenever the host ends in it.
    // Fold in ASCENDING length order so the LONGEST rule nests outermost
    // — groupBy returns an unordered Map, and without the sort two
    // exception rules of different lengths both matching a host would
    // resolve by Map iteration order (diverging from the oracle SQL's
    // descending sort and the DataFrame tier's ascending fold)
    val withExc = excRules.groupBy(_.count(_ == '.') + 1)
      .toSeq.sortBy(_._1)
      .foldLeft(ladder) { case (els, (n, rules)) =>
        when(lastLabels(h, n).isin(rules: _*), lastLabels(h, n)).otherwise(els)
      }
    when(!h.startsWith("["), withExc)
  }

  /** Lower, dedupe and split a PSL rule list into (exception rules
    * without `!`, wildcard tails without `*.`, normal rules), validating
    * each class. Shared by both resolution tiers and the oracle-SQL
    * generator so the three can never disagree on rule parsing.
    */
  private[graft] def splitRules(
      suffixes: Seq[String]): (Seq[String], Seq[String], Seq[String]) = {
    val lowered = suffixes.map(_.toLowerCase).distinct
    val (excRaw, rest) = lowered.partition(_.startsWith("!"))
    val (wildRaw, normals) = rest.partition(_.startsWith("*."))
    def bare(s: String): Boolean =
      s.nonEmpty && !s.startsWith(".") && !s.endsWith(".") &&
        !s.contains("*") && !s.contains("!")
    val excRules = excRaw.map(_.substring(1))
    val wildTails = wildRaw.map(_.substring(2))
    require(normals.forall(bare),
      "suffixes must be bare dotted labels, '*.<suffix>' wildcards or '!<suffix>' exceptions")
    require(wildTails.forall(bare),
      "wildcard rules must be '*.<bare dotted suffix>' (one leading '*.' only)")
    require(excRules.forall(r => bare(r) && r.contains(".")),
      "exception rules must be '!<multi-label suffix>' (the rule minus '!' is the domain)")
    (excRules, wildTails, normals)
  }

  /** Tracking parameters stripped by [[canonicalize]] — the common
    * analytics/click identifiers that make one logical page look like
    * thousands of distinct URLs to a crawl-frontier or URL-dedup key.
    * Case-insensitive via explicit `[Uu]`-style classes (the shared
    * Java/RE2 syntax discipline bans `(?i)`), because real-world query
    * strings carry `UTM_SOURCE=` as often as `utm_source=`.
    */
  val TrackingParamsRe: String =
    "([Uu][Tt][Mm]_[A-Za-z0-9]*|[Ff][Bb][Cc][Ll][Ii][Dd]|[Gg][Cc][Ll][Ii][Dd]|" +
      "[Mm][Ss][Cc][Ll][Kk][Ii][Dd]|[Mm][Cc]_[Ee][Ii][Dd]|" +
      "[Ii][Gg][Ss][Hh][Ii][Dd]|[Rr][Ee][Ff]_[Ss][Rr][Cc])"

  /** The full strip pattern over a query string: one-or-more CONSECUTIVE
    * tracking params (valued `fbclid=x` or valueless bare `fbclid`),
    * each terminated by `&` or end-of-string so a prefix like
    * `fbclid_other=x` never matches. Consuming the run's separators in
    * one match (rather than one param per match) is what lets adjacent
    * tracking params (`fbclid&gclid&a=1`) strip in a single pass —
    * a per-param pattern would skip every second one because the scan
    * resumes AFTER the consumed separator. Replacement keeps group 1
    * (the leading `^`/`&`), so surviving params stay joined.
    */
  val TrackingStripRe: String =
    "(^|&)(?:" + TrackingParamsRe + "(?:=[^&]*)?(?:&|$))+"

  /** Canonical URL for dedup / crawl-frontier keying: lowercased scheme
    * and host, userinfo dropped, default ports dropped (http:80,
    * https:443), empty path becomes "/", tracking parameters stripped
    * ([[TrackingParamsRe]]), remaining query parameters SORTED
    * (bytewise), fragment dropped. NULL for non-absolute-URL cells.
    *
    * All codegen'd builtins — the tracking strip is a regexp_replace
    * chain (match-and-keep-separator, then collapse '&&' runs and trim
    * edge '&'s), the param sort is split + sort_array + array_join; no
    * lambda HOFs. Engine-replayable: the oracle (q102) runs the same
    * chain with list_sort. Two URLs that differ only in param order,
    * fragment, default port, userinfo or tracking noise canonicalize to
    * the same key — the property the spec pins.
    *
    * Like [[registrableDomainOfHost]], this references its input ~12
    * times (scheme/host/port/path/query each re-derive from `c`). When
    * the URL is itself an expensive expression, materialize it in its
    * own projection first and canonicalize the ATTRIBUTE — inlining a
    * large derivation at every reference blows the 64 KB whole-stage
    * codegen limit and the stage falls back to interpreted eval (seen
    * on q102's synthetic-URL decoration, r11).
    */
  def canonicalize(c: Column): Column = {
    val scheme = urlScheme(c)
    val host = urlHost(c)
    val port = urlPort(c)
    val keepPort = port.isNotNull &&
      !(scheme === "http" && port === 80) &&
      !(scheme === "https" && port === 443)
    val rawPath = urlPath(c)
    val path = when(rawPath === "", lit("/")).otherwise(rawPath)
    val q = urlQuery(c)
    val stripped = regexp_replace(
      regexp_replace(
        regexp_replace(q, TrackingStripRe, "$1"),
        "&&+", "&"),
      "^&+|&+$", "")
    val sortedQ = array_join(sort_array(split(stripped, "&")), "&")
    when(scheme.isNotNull && host.isNotNull,
      concat(scheme, lit("://"), host,
        when(keepPort, concat(lit(":"), port.cast("string"))).otherwise(lit("")),
        path,
        when(q.isNotNull && sortedQ =!= "", concat(lit("?"), sortedQ))
          .otherwise(lit(""))))
  }

  /** DataFrame tier of [[registrableDomain]] for full-size suffix tables
    * (the real PSL is ~10k rules — too big to inline as plan literals):
    * one broadcast LEFT join per suffix label-count and rule kind
    * (normal / `*.` wildcard / `!` exception) against the host's
    * last-k-labels candidate, then the same longest-match ladder with
    * exceptions prevailing. `suffixDf` needs a string column
    * `suffixCol`; everything stays map-side (the suffix table
    * broadcasts, nothing shuffles).
    */
  def withRegistrableDomain(
      df: org.apache.spark.sql.DataFrame,
      urlCol: String,
      outCol: String,
      suffixDf: org.apache.spark.sql.DataFrame,
      suffixCol: String = "suffix"): org.apache.spark.sql.DataFrame = {
    val low = suffixDf.select(lower(col(suffixCol)).as("__raw")).distinct()
    val exc = low.where(col("__raw").startsWith("!"))
      .select(expr("substring(__raw, 2)").as("__sfx"))
      .select(col("__sfx"), size(split(col("__sfx"), "[.]")).as("__sfx_k"))
    // wildcard rule length counts the `*` label; the join key is the tail
    val wild = low.where(col("__raw").startsWith("*."))
      .select(expr("substring(__raw, 3)").as("__tail"))
      .select(col("__tail"), (size(split(col("__tail"), "[.]")) + 1).as("__sfx_k"))
    val norm = low
      .where(!col("__raw").startsWith("!") && !col("__raw").startsWith("*."))
      .select(col("__raw").as("__sfx"),
        size(split(col("__raw"), "[.]")).as("__sfx_k"))
      .where(col("__sfx_k") >= 2) // single-label rules == the fallback
    // the suffix table is small by contract; one tiny job for the max k
    val ks = norm.select(col("__sfx_k"))
      .union(wild.select(col("__sfx_k")))
      .union(exc.select(col("__sfx_k")))
      .agg(coalesce(max(col("__sfx_k")), lit(2)).as("m")).first().getInt(0)
    val host = urlHost(col(urlCol))
    var out = df.withColumn("__host", host)
    (2 to ks).foreach { k =>
      out = out
        .withColumn(s"__last$k", lastLabels(col("__host"), k))
        .join(
          broadcast(norm.where(col("__sfx_k") === k).select(col("__sfx").as(s"__m$k"))),
          col(s"__last$k") === col(s"__m$k"), "left")
        .join(
          broadcast(wild.where(col("__sfx_k") === k).select(col("__tail").as(s"__w$k"))),
          lastLabels(col("__host"), k - 1) === col(s"__w$k"), "left")
        .join(
          broadcast(exc.where(col("__sfx_k") === k).select(col("__sfx").as(s"__e$k"))),
          col(s"__last$k") === col(s"__e$k"), "left")
    }
    val fallback = nullif(lastLabels(col("__host"), 2), lit(""))
    val base = (2 to ks).foldLeft(fallback) { (els, k) =>
      when(col(s"__m$k").isNotNull ||
          (col(s"__w$k").isNotNull && col(s"__last$k") =!= ""),
        nullif(lastLabels(col("__host"), k + 1), lit(""))).otherwise(els)
    }
    // exceptions prevail over every other match (PSL algorithm)
    val ladder = (2 to ks).foldLeft(base) { (els, k) =>
      when(col(s"__e$k").isNotNull, col(s"__last$k")).otherwise(els)
    }
    out
      .withColumn(outCol, when(!col("__host").startsWith("["), ladder))
      .drop((Seq("__host") ++
        (2 to ks).flatMap(k => Seq(s"__last$k", s"__m$k", s"__w$k", s"__e$k"))): _*)
  }
}

/** Imperative twins of the [[Url]] regex chains — static kernels for the
  * compiled expressions below. Each reproduces its regex tier
  * byte-for-byte (UrlKernelSpec pins equality on adversarial and
  * randomized inputs); the regex tiers stay as the oracle-replayable
  * documentation of the semantics.
  */
object UrlAlgo {

  private def isSchemeChar(ch: Char): Boolean =
    (ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z') ||
      (ch >= '0' && ch <= '9') || ch == '+' || ch == '.' || ch == '-'

  /** Lowercased host of an absolute URL; null when absent. Replays
    * [[Url.urlHostRegex]]: anchored scheme "://" authority up to
    * `/?#\r\n`, userinfo = everything up to the LAST '@', bracket hosts
    * need a closing ']' (else no host), otherwise strip the first-colon
    * port; empty -> null; lowercase via UTF8String.toLowerCase (the
    * builtin `lower`'s own path).
    */
  def host(u: UTF8String): UTF8String = {
    if (u == null) return null
    val s = u.toString
    val n = s.length
    // authority: ^[A-Za-z][A-Za-z0-9+.-]*:// then chars not in /?#\r\n.
    // ':' is not a scheme char, so the scheme run ends at the first
    // non-scheme char and "://" must sit exactly there (no backtracking
    // ambiguity).
    var auth = ""
    if (n > 0) {
      val c0 = s.charAt(0)
      if ((c0 >= 'a' && c0 <= 'z') || (c0 >= 'A' && c0 <= 'Z')) {
        var i = 1
        while (i < n && isSchemeChar(s.charAt(i))) i += 1
        if (i + 2 < n && s.charAt(i) == ':' && s.charAt(i + 1) == '/' && s.charAt(i + 2) == '/') {
          var j = i + 3
          while (j < n && { val c = s.charAt(j)
            c != '/' && c != '?' && c != '#' && c != '\r' && c != '\n' }) j += 1
          auth = s.substring(i + 3, j)
        }
      }
    }
    // userinfo: "(?:[^@]*@)?([^@]*)$" == everything after the last '@'
    val at = auth.lastIndexOf('@')
    val hostPort = if (at >= 0) auth.substring(at + 1) else auth
    // bracket form needs a closing ']' ("^(\[[^\]]*\])"); else first ':'
    val host =
      if (hostPort.startsWith("[")) {
        val rb = hostPort.indexOf(']')
        if (rb >= 0) hostPort.substring(0, rb + 1) else ""
      } else {
        val colon = hostPort.indexOf(':')
        if (colon >= 0) hostPort.substring(0, colon) else hostPort
      }
    if (host.isEmpty) null else UTF8String.fromString(host).toLowerCase
  }

  /** Preprocessed PSL rule table for [[registrableDomain]]: rule sets
    * keyed by label count, built once per expression from
    * [[Url.splitRules]]'s (exceptions, wildcard tails, normals) split so
    * the two tiers can never disagree on rule parsing.
    */
  final class PslRules(suffixes: Seq[String]) extends Serializable {
    private val (excRules, wildTails, normals) = Url.splitRules(suffixes)
    /** normal-rule label count -> rule set */
    val normalByLen: Map[Int, java.util.HashSet[String]] =
      normals.groupBy(_.count(_ == '.') + 1).map { case (k, rs) =>
        val s = new java.util.HashSet[String](); rs.foreach(s.add); k -> s }
    /** wildcard label count (counting `*`) -> tail set (tail = k-1 labels) */
    val wildByLen: Map[Int, java.util.HashSet[String]] =
      wildTails.groupBy(_.count(_ == '.') + 2).map { case (k, rs) =>
        val s = new java.util.HashSet[String](); rs.foreach(s.add); k -> s }
    /** exception-rule label count -> rule set */
    val excByLen: Map[Int, java.util.HashSet[String]] =
      excRules.groupBy(_.count(_ == '.') + 1).map { case (k, rs) =>
        val s = new java.util.HashSet[String](); rs.foreach(s.add); k -> s }
    /** ladder lengths, longest first (the ladder's evaluation order) */
    val ladderKsDesc: Array[Int] =
      (normalByLen.keySet ++ wildByLen.keySet).toArray.sorted.reverse
    /** exception lengths, longest first (ascending fold = longest outermost) */
    val excKsDesc: Array[Int] = excByLen.keySet.toArray.sorted.reverse
    val maxK: Int = ladderKsDesc.headOption.getOrElse(2).max(2)
    /** labels needed: ladder answer is last maxK+1 labels; exceptions
      * may be longer than any ladder rule
      */
    val maxLabels: Int = math.max(maxK + 1, excKsDesc.headOption.getOrElse(0))
  }

  /** eTLD+1 of an already-extracted lowercased host; null for bracket
    * hosts, dot-less hosts and hosts that ARE a public suffix. Replays
    * [[Url.registrableDomainOfHostLadder]] exactly: `lastLabels(h, k)`
    * ("([^.]+(?:[.][^.]+){k-1})$") is the last k labels when all k are
    * non-empty, else "" — the backwards walk below stops at the first
    * empty label (consecutive dots / trailing dot) to match; exceptions
    * prevail longest-first, then the normal/wildcard ladder
    * longest-first, then the implicit-`*` last-two-labels fallback.
    */
  def registrableDomain(h: UTF8String, rules: PslRules): UTF8String = {
    if (h == null) return null
    val s = h.toString
    if (s.startsWith("[")) return null
    // starts(j) = start index of the (j+1)-th-from-end label; the walk
    // stops at the first EMPTY label, exactly like the anchored regex
    val starts = new Array[Int](rules.maxLabels)
    var count = 0
    var pos = s.length
    var done = false
    while (!done && count < rules.maxLabels) {
      if (pos == 0) done = true
      else {
        val dot = s.lastIndexOf('.', pos - 1)
        val labelStart = dot + 1
        if (labelStart == pos) done = true // empty label: regex has no match
        else {
          starts(count) = labelStart
          count += 1
          if (dot < 0) done = true
          else pos = dot
        }
      }
    }
    def lastLabels(k: Int): String =
      if (k <= count) s.substring(starts(k - 1)) else ""
    def nullifEmpty(v: String): UTF8String =
      if (v.isEmpty) null else UTF8String.fromString(v)
    // exception rules prevail over every other match, longest first
    var ei = 0
    while (ei < rules.excKsDesc.length) {
      val n = rules.excKsDesc(ei)
      val cand = lastLabels(n)
      if (cand.nonEmpty && rules.excByLen(n).contains(cand))
        return UTF8String.fromString(cand)
      ei += 1
    }
    // normal/wildcard ladder, longest first
    var li = 0
    while (li < rules.ladderKsDesc.length) {
      val k = rules.ladderKsDesc(li)
      val lk = lastLabels(k)
      val normalHit = rules.normalByLen.get(k).exists(set => lk.nonEmpty && set.contains(lk))
      val wildHit = !normalHit && rules.wildByLen.get(k).exists { tails =>
        val tail = lastLabels(k - 1)
        tail.nonEmpty && tails.contains(tail) && lk.nonEmpty
      }
      if (normalHit || wildHit) return nullifEmpty(lastLabels(k + 1))
      li += 1
    }
    nullifEmpty(lastLabels(2)) // implicit `*` rule
  }
}
