package graft.fetch

import graft.functions.UrlFns

/**
 * Link extraction — the frontier-expansion parser.
 *
 * Mirrors the TESTED semantics of the reference (`RetrieveLinks`,
 * /root/reference/parsing.go:13-92, fixtures parsing_test.go:10-67):
 *  - only applied when the sniffed content type is html (parsing.go:13-15);
 *  - anchors' href attributes only (goquery `a[href]`, parsing.go:59-68);
 *  - keep-filter `^/[a-zA-Z]+|^http://|^https://` (parsing.go:46);
 *  - dedup preserving first-seen order (set at parsing.go:51,72);
 *  - relative hrefs resolved against the page's scheme+host
 *    (parsing.go:78-86).
 */
object Parsing {

  private val hrefRe =
    java.util.regex.Pattern.compile("(?is)<a\\b[^>]*?href\\s*=\\s*[\"']([^\"']*)[\"']")

  def looksLikeHtml(body: String): Boolean = {
    if (body == null) return false
    // the sniff reads at most 512 BYTES — encode only that prefix instead
    // of re-materializing the whole body (a second full-body allocation on
    // every fetched page). A multi-byte char straddling the boundary only
    // ADDS bytes past 512, which the sniff ignores — identical result.
    val prefix = if (body.length > 512) body.substring(0, 512) else body
    UrlFns.sniffMime(
      prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)) == "text/html"
  }

  /** Extract + filter + resolve + dedup hrefs from an html body. The
    * page's base URL is parsed ONCE ([[UrlFns.originOf]]) — not once per
    * href, which cost a `java.net.URI` parse per anchor (≈ links-per-page
    * × fetched-pages parses per crawl round).
    *
    * The anchor scan is a hand-rolled char walk (JFR r4: the lazy
    * case-insensitive regex was ~4 % of total round CPU at local[32]);
    * [[hrefRe]] stays as the byte-level SPECIFICATION and a property test
    * (ParsingSpec) asserts scan ≡ regex on adversarial bodies. */
  def retrieveLinks(baseUrl: String, body: String): Seq[String] = {
    if (!looksLikeHtml(body)) return Seq.empty
    val out = new java.util.LinkedHashSet[String]()
    var origin: String = null
    var originComputed = false
    var i = 0
    val n = body.length
    while (i < n) {
      val hit = nextHref(body, i, n)
      if (hit < 0) i = n
      else {
        // the value is `([^"']*)["']`: it ends at the first quote of EITHER
        // kind (the spec regex does not require the closer to match the
        // opener)
        var e = hit + 1
        while (e < n && body.charAt(e) != '"' && body.charAt(e) != '\'') e += 1
        // unterminated: no quote char exists after `hit` at all, so no
        // later match can open a value either — the regex finds nothing
        if (e >= n) i = n
        else {
          val href = body.substring(hit + 1, e)
          if (UrlFns.isKeepableHref(href)) {
            if (href.startsWith("http://") || href.startsWith("https://")) { out.add(href): Unit }
            else {
              if (!originComputed) { origin = UrlFns.originOf(baseUrl); originComputed = true }
              if (origin != null) out.add(origin + href): Unit
            }
          }
          i = e + 1 // regex find() resumes after the closing quote
        }
      }
    }
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq
  }

  /** Position of the OPENING QUOTE of the next `<a\b[^>]*?href\s*=\s*["']`
    * match at or after `from`, or -1 — exact [[hrefRe]] semantics:
    * `<a` case-insensitive followed by a non-word char, then a
    * '>'-free run to `href` (ci), `=` with optional whitespace, quote.
    * A failed attempt falls through to the next `<a` (the regex advances
    * its start position; only another `<a\b` can begin a new match). */
  private def nextHref(s: String, from: Int, n: Int): Int = {
    var i = from
    while (i < n - 1) {
      var c = s.charAt(i)
      if (c == '<' && isA(s.charAt(i + 1)) &&
          (i + 2 >= n || !isWordChar(s.charAt(i + 2)))) {
        // inside the anchor: scan the '>'-free run for ci "href"
        var j = i + 2
        var done = false
        while (!done && j < n) {
          c = s.charAt(j)
          if (c == '>') done = true // no href before the tag closes
          else if ((c == 'h' || c == 'H') && j + 4 <= n &&
              isCi(s, j + 1, 'r') && isCi(s, j + 2, 'e') && isCi(s, j + 3, 'f')) {
            // href found: try `\s*=\s*["']` (java-regex \s, NOT
            // Character.isWhitespace — the sets differ at \u001C-\u001F etc.)
            var k = j + 4
            while (k < n && isRegexWs(s.charAt(k))) k += 1
            if (k < n && s.charAt(k) == '=') {
              k += 1
              while (k < n && isRegexWs(s.charAt(k))) k += 1
              if (k < n && (s.charAt(k) == '"' || s.charAt(k) == '\'')) return k
            }
            j += 1 // this 'h' didn't complete a match; keep scanning the run
          } else j += 1
        }
        i += 1 // attempt at this '<a' failed: regex would try i+1 next
      } else i += 1
    }
    -1
  }

  /** Java-regex `\s` = [ \t\n\x0B\f\r] exactly (no UNICODE_CHARACTER_CLASS
    * flag) — narrower than Character.isWhitespace (\u001C-\u001F, unicode spaces). */
  @inline private def isRegexWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  @inline private def isA(c: Char): Boolean = c == 'a' || c == 'A'
  @inline private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'
  @inline private def isCi(s: String, i: Int, lower: Char): Boolean = {
    val c = s.charAt(i)
    c == lower || c == (lower - 32)
  }

  /** Regex reference implementation — the specification [[retrieveLinks]]'
    * scanner is property-tested against (not used on the hot path). */
  private[graft] def retrieveLinksRegex(baseUrl: String, body: String): Seq[String] = {
    if (!looksLikeHtml(body)) return Seq.empty
    val m = hrefRe.matcher(body)
    val out = new java.util.LinkedHashSet[String]()
    var origin: String = null
    var originComputed = false
    while (m.find()) {
      val href = m.group(1)
      if (UrlFns.isKeepableHref(href)) {
        if (href.startsWith("http://") || href.startsWith("https://")) { out.add(href): Unit }
        else {
          if (!originComputed) { origin = UrlFns.originOf(baseUrl); originComputed = true }
          if (origin != null) out.add(origin + href): Unit
        }
      }
    }
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq
  }
}
