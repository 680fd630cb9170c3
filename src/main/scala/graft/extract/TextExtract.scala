package graft.extract

/** FROZEN boilerplate-stripping text extractor (north-rule invariant:
  * byte-identical extracted `text` per url — BASELINE.json input_hint).
  *
  * Deterministic pure function over the html bytes: no locale, no regex
  * backtracking surprises, single forward scan. Versioned: any semantic
  * change must bump [[version]] and regenerate expected hashes in tests.
  *
  * Rules (v1):
  *   - bytes are decoded as UTF-8
  *   - <script>/<style> elements are dropped with their content
  *   - <nav>/<header>/<footer>/<aside> elements are dropped with content
  *     (boilerplate chrome)
  *   - HTML comments are dropped
  *   - remaining tags are stripped; close of a block element
  *     (p, div, h1..h6, li, br, tr, section, article) emits a newline
  *   - entities &amp; &lt; &gt; &quot; &#39; &nbsp; (and numeric &#NNN;)
  *     are decoded
  *   - runs of spaces/tabs collapse to one space; spaces around newlines
  *     are trimmed; leading/trailing whitespace trimmed; at most one
  *     consecutive newline survives
  *
  * Implementation notes (perf only — output is locked by the frozen-hash
  * spec and `TextExtractParitySpec`): whitespace normalization is one
  * pending-separator `Int` (0 none, 1 space, 2 newline, newline wins),
  * written only before a later visible char; each run of plain chars (not
  * `<` `&` space TAB CR LF) is one bulk append; a dropped element is skipped
  * to its next `<`; an entity's `;` is sought only in the 8 chars the rule
  * allows. Tag names are compared in place under ASCII case fold.
  */
object TextExtract {
  val version = "1"

  private val dropNames = Array("script", "style", "nav", "header", "footer", "aside")
  private val blockNames = Array("p", "div", "h1", "h2", "h3", "h4", "h5", "h6",
    "li", "br", "tr", "section", "article", "title")

  def extract(html: Array[Byte]): String = extract(new String(html, java.nio.charset.StandardCharsets.UTF_8))

  /** region [s,e) equals `lit` under ASCII A-Z case fold (tag names) */
  private def eqFold(html: String, s: Int, e: Int, lit: String): Boolean = {
    if (e - s != lit.length) return false
    var k = 0
    while (k < lit.length) {
      val c = html.charAt(s + k)
      val f = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if (f != lit.charAt(k)) return false
      k += 1
    }
    true
  }

  /** region [s,e) equals `lit` exactly (entity names are case-sensitive) */
  private def eqAt(html: String, s: Int, e: Int, lit: String): Boolean = {
    if (e - s != lit.length) return false
    var k = 0
    while (k < lit.length) {
      if (html.charAt(s + k) != lit.charAt(k)) return false
      k += 1
    }
    true
  }

  def extract(html: String): String = {
    val out = new java.lang.StringBuilder(html.length) // output never outgrows the input
    val n = html.length
    var i = 0
    var dropUntil: String = null // inside a drop-with-content element
    var pend = 0 // pending separator: 0 none, 1 space, 2 newline

    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else {
          // parse tag in place: name span [nameStart, nameEnd), close flag
          var j = i + 1
          var close = false
          if (j < n && html.charAt(j) == '/') { close = true; j += 1 }
          val nameStart = j
          while (j < n && Character.isLetterOrDigit(html.charAt(j))) j += 1
          val nameEnd = j
          i = html.indexOf('>', j) + 1
          if (i == 0) i = n

          if (dropUntil != null) {
            if (close && eqFold(html, nameStart, nameEnd, dropUntil)) dropUntil = null
          } else {
            var d = 0
            while (!close && d < dropNames.length && dropUntil == null) {
              if (eqFold(html, nameStart, nameEnd, dropNames(d))) dropUntil = dropNames(d)
              d += 1
            }
            if (dropUntil == null) {
              var isBlock = false
              var b = 0
              while (b < blockNames.length && !isBlock) {
                if (eqFold(html, nameStart, nameEnd, blockNames(b))) isBlock = true
                b += 1
              }
              if (close && isBlock || !close && eqFold(html, nameStart, nameEnd, "br")) pend = 2
            }
          }
        }
      } else if (dropUntil != null) {
        i = html.indexOf('<', i)
        if (i < 0) i = n
      } else if (c == ' ' || c == '\t') { if (pend == 0) pend = 1; i += 1 }
      else if (c == '\n' || c == '\r') { pend = 2; i += 1 }
      else if (c == '&') {
        val d = entityAt(html, i) // -1: not an entity, the '&' is literal
        if (d == '\n' || d == '\r') pend = 2
        else if (d == ' ') { if (pend == 0) pend = 1 }
        else { flush(out, pend); pend = 0; out.append(if (d < 0) '&' else d.toChar) }
        i = if (d < 0) i + 1 else html.indexOf(';', i) + 1
      } else {
        // a run of plain chars: anything but < & space \t \n \r
        var j = i + 1
        while (j < n && {
          val d = html.charAt(j)
          d > '<' || d != '<' && d != '&' && d != ' ' && d != '\t' && d != '\n' && d != '\r'
        }) j += 1
        flush(out, pend); pend = 0
        out.append(html, i, j)
        i = j
      }
    }

    out.toString
  }

  /** the pending separator, written only once output has started */
  private def flush(out: java.lang.StringBuilder, pend: Int): Unit =
    if (pend != 0 && out.length > 0) out.append(if (pend == 2) '\n' else ' ')

  /** char code of the entity at `html(i) == '&'`, or -1; numeric entities take
    * Unicode digits (Character.digit) and truncate to a char like toInt.toChar */
  private def entityAt(html: String, i: Int): Int = {
    val s = i + 1
    val lim = math.min(html.length, i + 9)
    var semi = s
    while (semi < lim && html.charAt(semi) != ';') semi += 1
    if (semi == lim) -1
    else if (eqAt(html, s, semi, "amp")) '&'
    else if (eqAt(html, s, semi, "lt")) '<'
    else if (eqAt(html, s, semi, "gt")) '>'
    else if (eqAt(html, s, semi, "quot")) '"'
    else if (eqAt(html, s, semi, "nbsp")) ' '
    else if (semi - s > 1 && html.charAt(s) == '#') {
      var v = 0
      var k = s + 1
      while (k < semi && Character.isDigit(html.charAt(k))) {
        v = v * 10 + Character.digit(html.charAt(k), 10)
        k += 1
      }
      if (k == semi) v.toChar else -1
    } else -1
  }
}
