package graft.functions

/**
 * Pure scalar logic behind the engine's custom expressions. Kept as static
 * JVM methods so Catalyst codegen can call them directly from generated
 * code (see [[GraftExpressions]]) and the fetch simulator / tests can call
 * them without a SparkSession.
 *
 * Reference semantics:
 *  - eTLD+1 / public suffix: replaces golang.org/x/net/publicsuffix as used
 *    at /root/reference/store/store.go:339-344 (embedded subset of the
 *    public ICANN suffix list — offline container, no lib).
 *  - URL resolution: /root/reference/parsing.go:78-86.
 *  - mime sniffing: magic-byte subset of Go's http.DetectContentType as used
 *    at /root/reference/store/file.go:125.
 *  - domain normalization: lower+trim, /root/reference/kraaler.go:38-40.
 */
object UrlFns {

  /**
   * Embedded snapshot of the public suffix list with FULL rule semantics
   * (publicsuffix.org/list spec, the same algorithm
   * golang.org/x/net/publicsuffix implements for the reference at
   * store/store.go:339-344): exact rules of any depth, wildcard rules
   * (`*.ck` — any single label in that position is itself a suffix),
   * exception rules (`!www.ck` — carves a registrable domain out of a
   * wildcard), private-section registries (`github.io` — round 2's
   * two-level-only fallback wrongly made `cust.github.io` collapse to
   * `github.io`), and the implicit `*` default (unlisted TLD → last
   * label). The list content is a SUBSET (offline container — no
   * download), but the MATCHER is rule-complete: swapping in the full
   * effective_tld_names.dat is a data change only.
   */
  private val exactRules: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq(
      "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "ltd.uk", "plc.uk",
      "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
      "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
      // three-level ICANN entries (state education registries)
      "act.edu.au", "nsw.edu.au", "vic.edu.au",
      "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz",
      "com.br", "net.br", "org.br", "gov.br",
      "co.in", "net.in", "org.in", "gen.in", "firm.in",
      "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn",
      "co.kr", "or.kr", "ne.kr", "re.kr", "go.kr",
      "com.mx", "org.mx", "net.mx",
      "com.ar", "com.tr", "com.sg", "com.hk", "com.tw",
      "co.za", "org.za", "gov.za", "web.za",
      "co.il", "org.il", "ac.il",
      "com.pl", "net.pl", "org.pl",
      "com.ru", "net.ru", "org.ru",
      // private-section registries (the PSL's PRIVATE DOMAINS block)
      "github.io", "githubusercontent.com", "gitlab.io",
      "blogspot.com", "appspot.com", "herokuapp.com",
      "netlify.app", "vercel.app", "firebaseapp.com",
      "pages.dev", "workers.dev"
    ).foreach(s.add)
    s
  }

  /** Wildcard rule BASES: `*.ck` is stored as "ck" — the `*` matches
    * exactly ONE label immediately left of the base. */
  private val wildcardBases: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("bd", "ck", "er", "fk", "jm", "kh", "mm", "np", "pg", "ye", "zw",
      "sch.uk" // three-level wildcard: every school is its own registry
    ).foreach(s.add)
    s
  }

  /** Exception rules: `!www.ck` stored as "www.ck" — the named domain is
    * REGISTRABLE despite a covering wildcard; its public suffix is the
    * rule minus its leftmost label. */
  private val exceptionRules: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("www.ck").foreach(s.add)
    s
  }

  def normalizeDomain(d: String): String =
    if (d == null) null else d.trim.toLowerCase

  private def isIpLike(host: String): Boolean = {
    if (host.indexOf(':') >= 0) return true // ipv6
    var allNumericDots = true
    var i = 0
    while (i < host.length && allNumericDots) {
      val c = host.charAt(i)
      if (!(c == '.' || (c >= '0' && c <= '9'))) allNumericDots = false
      i += 1
    }
    allNumericDots && host.nonEmpty
  }

  /**
   * Public suffix of `host` under the embedded PSL snapshot (full rule
   * semantics — see [[exactRules]]), or null when host is empty / an IP /
   * has no dot at all. Algorithm per the publicsuffix.org spec: an
   * exception match wins outright (suffix = rule minus its leftmost
   * label); otherwise the longest matching exact-or-wildcard rule
   * prevails; otherwise the implicit `*` rule (last label).
   */
  def publicSuffix(host0: String): String = {
    if (host0 == null) return null
    val host = normalizeDomain(host0)
    if (host.isEmpty || isIpLike(host)) return null
    val labels = host.split('.')
    if (labels.length < 2 || labels.exists(_.isEmpty)) return null
    // walk suffixes right-to-left ONCE, building each candidate string
    // from the previous (O(len) total, no quadratic join)
    var best = 1 // the implicit "*" default rule
    var suffix = labels(labels.length - 1)
    var i = labels.length - 1
    while (i >= 0) {
      val ruleLen = labels.length - i
      if (exceptionRules.contains(suffix)) {
        // exception: public suffix = the exception rule minus its leftmost
        // label (always non-empty: an exception refines a wildcard base)
        return suffix.substring(suffix.indexOf('.') + 1)
      }
      if (exactRules.contains(suffix) && ruleLen > best) best = ruleLen
      // `*.base` matches one label immediately left of base — i.e. the
      // suffix one LONGER than the base is public
      if (i > 0 && wildcardBases.contains(suffix) && ruleLen + 1 > best)
        best = ruleLen + 1
      i -= 1
      if (i >= 0) suffix = labels(i) + "." + suffix
    }
    var out = labels(labels.length - 1)
    var j = labels.length - 2
    while (j > labels.length - 1 - best) {
      out = labels(j) + "." + out
      j -= 1
    }
    out
  }

  /** eTLD+1 (registrable domain): one label more than the public suffix.
    * null when the host IS a bare suffix or unparseable — mirrors
    * publicsuffix.EffectiveTLDPlusOne error behavior, which makes the
    * reference skip the host dim row (store/store.go:339-344). */
  def etld1(host0: String): String = {
    val suffix = publicSuffix(host0)
    if (suffix == null) return null
    val host = normalizeDomain(host0)
    if (host == suffix) return null
    val prefix = host.substring(0, host.length - suffix.length - 1)
    val lastDot = prefix.lastIndexOf('.')
    val label = if (lastDot < 0) prefix else prefix.substring(lastDot + 1)
    if (label.isEmpty) null else label + "." + suffix
  }

  /** Href keep-filter of the reference link extractor: `^/[a-zA-Z]+` or an
    * absolute http(s) URL (parsing.go:17-42, 46). */
  def isKeepableHref(href: String): Boolean = {
    if (href == null || href.isEmpty) return false
    if (href.startsWith("http://") || href.startsWith("https://")) return true
    href.length >= 2 && href.charAt(0) == '/' && {
      val c = href.charAt(1)
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    }
  }

  /** Resolve `href` against `base` (parsing.go:78-86: absolute hrefs pass
    * through; `/path` resolves onto the base scheme+host). Returns null for
    * hrefs the reference would drop or on parse failure. */
  def resolveUrl(base: String, href: String): String = {
    if (base == null || href == null) return null
    if (!isKeepableHref(href)) return null
    if (href.startsWith("http://") || href.startsWith("https://")) return href
    val origin = originOf(base)
    if (origin == null) null else origin + href
  }

  /** `scheme://host[:port]` of `base`, null if unparseable — the prefix
    * relative hrefs resolve against. Factored out of [[resolveUrl]] so the
    * link extractor parses a page's base URL ONCE, not once per href. */
  def originOf(base: String): String = {
    if (base == null) return null
    try {
      val u = new java.net.URI(base)
      if (u.getScheme == null || u.getHost == null) return null
      val port = if (u.getPort >= 0) ":" + u.getPort else ""
      u.getScheme + "://" + u.getHost + port
    } catch { case _: Exception => null }
  }

  /** Host (authority minus port) of an absolute URL, null if unparseable.
    *
    * Hot path: this backs the codegen'd `url_host` expression the frontier
    * merge re-materializes for EVERY output row (tens of millions of calls
    * per round — `java.net.URI` costs ~1 µs and several allocations per
    * parse). The fast path handles the canonical
    * `scheme://host[:port][/?#…]` shape with RFC-2396 server-based host
    * labels (alnum + '-' interior, alnum at label edges, alpha-led top
    * label — exactly the subset where `URI.getHost` is the lowercased
    * substring) and digit-only ports; ANYTHING else (userinfo '@', IPv6
    * '[', '%', '_', trailing dot, bad port…) falls back to `java.net.URI`
    * so the two paths agree everywhere (property-tested vs URI in
    * UrlFnsSpec). */
  def hostOf(url: String): String = {
    if (url == null) return null
    val fast = fastHost(url)
    if (fast != null) return fast
    try {
      val h = new java.net.URI(url).getHost
      if (h == null) null else h.toLowerCase
    } catch { case _: Exception => null }
  }

  /** Fast-path host extraction; null ⇒ caller must fall back to URI (the
    * url is unusual, not necessarily invalid). */
  private def fastHost(url: String): String = {
    val n = url.length
    val ss = url.indexOf("://")
    if (ss <= 0) return null
    // scheme = alpha *( alphanum | +-. ) — anything else → fallback
    var i = 0
    while (i < ss) {
      val c = url.charAt(i)
      val ok =
        if (i == 0) (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
        else (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.'
      if (!ok) return null
      i += 1
    }
    val start = ss + 3
    var end = start
    var hasUpper = false
    var labelStart = start
    var lastLabelStart = start
    var c0 = ' '
    while (end < n && { c0 = url.charAt(end); c0 != '/' && c0 != '?' && c0 != '#' && c0 != ':' }) {
      val c = c0
      if (c == '.') {
        // label must be non-empty and end alnum
        if (end == labelStart) return null
        val p = url.charAt(end - 1)
        if (!isAlnum(p)) return null
        labelStart = end + 1
        lastLabelStart = labelStart
      } else if (isAlnum(c)) {
        if (c >= 'A' && c <= 'Z') hasUpper = true
      } else if (c == '-') {
        if (end == labelStart) return null // label can't start with '-'
      } else return null // '@', '[', '%', '_', … → URI decides
      end += 1
    }
    if (end == start) return null // empty host
    // final label: non-empty, ends alnum, and (top label) starts alpha
    if (end == labelStart) return null // trailing dot → URI decides
    if (!isAlnum(url.charAt(end - 1))) return null
    val tl = url.charAt(lastLabelStart)
    if (!((tl >= 'a' && tl <= 'z') || (tl >= 'A' && tl <= 'Z'))) {
      // numeric top label: only a full IPv4 literal is a valid host —
      // let URI adjudicate dotted quads and reject the rest
      return null
    }
    // port, if present, must be all digits up to the path/query/fragment
    if (end < n && url.charAt(end) == ':') {
      var j = end + 1
      var c1 = ' '
      while (j < n && { c1 = url.charAt(j); c1 != '/' && c1 != '?' && c1 != '#' }) {
        if (c1 < '0' || c1 > '9') return null
        j += 1
      }
    }
    if (!hasUpper) url.substring(start, end)
    else {
      val out = new Array[Char](end - start)
      var k = start
      while (k < end) {
        val c = url.charAt(k)
        out(k - start) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        k += 1
      }
      new String(out)
    }
  }

  @inline private def isAlnum(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  /** Magic-byte mime sniff — subset of Go http.DetectContentType
    * (store/file.go:125). Operates on the first 512 bytes. */
  def sniffMime(body: Array[Byte]): String = {
    if (body == null) return null
    if (body.length == 0) return "text/plain"
    val n = math.min(body.length, 512)
    // skip leading whitespace for the html checks (Go sniffs likewise)
    var st = 0
    while (st < n && (body(st) == ' ' || body(st) == '\t' || body(st) == '\n' ||
      body(st) == '\r' || body(st) == '\f')) st += 1
    def asciiUpperPrefix(off: Int, len: Int): String = {
      val end = math.min(off + len, n)
      val sb = new java.lang.StringBuilder(end - off)
      var i = off
      while (i < end) {
        val c = body(i).toChar
        sb.append(if (c >= 'a' && c <= 'z') (c - 32).toChar else c)
        i += 1
      }
      sb.toString
    }
    val htmlTags = Array("<!DOCTYPE HTML", "<HTML", "<HEAD", "<SCRIPT",
      "<IFRAME", "<H1", "<DIV", "<FONT", "<TABLE", "<A", "<STYLE", "<TITLE",
      "<B", "<BODY", "<BR", "<P", "<!--")
    val up = asciiUpperPrefix(st, 16)
    var ti = 0
    while (ti < htmlTags.length) {
      val t = htmlTags(ti)
      if (up.startsWith(t)) {
        // Go requires a tag-terminating byte (space or '>') except comments
        val after = st + t.length
        if (t == "<!--" || (after < n && (body(after) == ' '.toByte || body(after) == '>'.toByte)) ||
            up.length > t.length && (up.charAt(t.length) == ' ' || up.charAt(t.length) == '>'))
          return "text/html"
      }
      ti += 1
    }
    def hasPrefix(p: Array[Int]): Boolean = {
      if (n < p.length) return false
      var i = 0
      while (i < p.length) { if ((body(i) & 0xff) != p(i)) return false; i += 1 }
      true
    }
    if (hasPrefix(Array('%', 'P', 'D', 'F', '-'))) return "application/pdf"
    if (hasPrefix(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))) return "image/png"
    if (hasPrefix(Array('G', 'I', 'F', '8', '7', 'a')) ||
        hasPrefix(Array('G', 'I', 'F', '8', '9', 'a'))) return "image/gif"
    if (hasPrefix(Array(0xff, 0xd8, 0xff))) return "image/jpeg"
    if (hasPrefix(Array('P', 'K', 0x03, 0x04))) return "application/zip"
    if (hasPrefix(Array(0x1f, 0x8b, 0x08))) return "application/x-gzip"
    if (hasPrefix(Array('R', 'I', 'F', 'F'))) return "audio/wave"
    if (hasPrefix(Array('O', 'g', 'g', 'S'))) return "application/ogg"
    // printable scan → text/plain else binary
    var i = 0
    var binary = false
    while (i < n && !binary) {
      val b = body(i) & 0xff
      if (b < 0x09 || (b > 0x0d && b < 0x20 && b != 0x1b)) binary = true
      i += 1
    }
    if (binary) "application/octet-stream" else "text/plain"
  }

  /** Deterministic synthetic robots.txt rules per host: a host disallows
    * the path prefix `/p/<d>` for d = hash(host)%10 when its hash selects
    * it (~50% of hosts), plus `/private` everywhere. The reference has no
    * robots handling; these rules feed the engine's own candidate filter
    * (`robots_allowed` in `Frontier.normalizeCandidates`, north rule) and
    * are stable across runs/executors. */
  def robotsDisallow(host: String): Seq[String] = {
    if (host == null) return Seq("/")
    val h = graft.fetch.FetchSim.fnv1a("robots|" + host)
    val base = Seq("/private")
    if ((h & 1L) == 0L) base :+ s"/p/${((h >>> 8) % 10 + 10) % 10}" else base
  }

  /** True iff `url`'s path is NOT under a disallowed prefix of its host
    * (robots prefix semantics: `Disallow: /p/3` blocks every path starting
    * with `/p/3`). */
  def robotsAllowed(url: String): Boolean = {
    val host = hostOf(url)
    if (host == null) return false
    val path = graft.fetch.FetchSim.pathOf(url)
    !robotsDisallow(host).exists(path.startsWith)
  }

  /** gzip(best-compression) byte size — the body store's stored-size
    * accounting (store/file.go:39-44, 130, 174). */
  /** gzip at BEST_COMPRESSION — the reference's body-store codec
    * (store/file.go:39-44). The stored bytes and the `gzip_size` column
    * expression come from THIS one function, so fact_bodies.comp_size
    * always equals the on-disk file size. */
  def gzipBytes(bytes: Array[Byte]): Array[Byte] = {
    if (bytes == null) return null
    val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 32)
    val gz = new java.util.zip.GZIPOutputStream(bos) {
      `def`.setLevel(java.util.zip.Deflater.BEST_COMPRESSION)
    }
    gz.write(bytes); gz.close()
    bos.toByteArray
  }

  def gunzipBytes(bytes: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try in.readAllBytes() finally in.close()
  }

  def gzipSize(bytes: Array[Byte]): Long =
    if (bytes == null) 0L else gzipBytes(bytes).length.toLong

  private val hexChars = "0123456789abcdef".toCharArray
  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-256")
  }

  def sha256Hex(bytes: Array[Byte]): String = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(bytes)
    val out = new Array[Char](64)
    var i = 0
    while (i < 32) {
      out(i * 2) = hexChars((d(i) >> 4) & 0xf)
      out(i * 2 + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def sha256Hex(s: String): String =
    sha256Hex(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
