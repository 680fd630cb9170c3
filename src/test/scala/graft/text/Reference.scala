package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.extract.Tokenize

/** Plain reference implementations the specs compare the production code
  * against. Each is the obvious, slow form of a production path; none has
  * a caller outside the tests. */
object Reference {

  /** word k-shingles (normalized) */
  def shingles(text: String, k: Int = 3): Set[String] = {
    val toks = Tokenize.tokens(text).map(_.norm)
    if (toks.size < k) toks.toSet
    else toks.sliding(k).map(_.mkString(" ")).toSet
  }

  def jaccard[A](a: Set[A], b: Set[A]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** MinHash signature via 64 fixed affine permutations of the shingle hash. */
  def minhashSignature(sh: Set[String]): Array[Long] =
    minhashSignatureL(sh.map(TextOps.hash64))

  def minhashSignatureL(hashes: Iterable[Long]): Array[Long] = {
    val sig = Array.fill(TextOps.MinhashPerms)(Long.MaxValue)
    hashes.foreach { h =>
      var p = 0
      while (p < TextOps.MinhashPerms) {
        val hp = TextOps.mix64(h ^ (0x9e3779b97f4a7c15L * (p + 1)))
        if (hp < sig(p)) sig(p) = hp
        p += 1
      }
    }
    sig
  }

  /** Brute-force pairwise n-gram Jaccard over a small collected corpus:
    * (lower id, higher id, jaccard) for every pair at/above `threshold`. */
  def bruteJaccardPairs(docs: DataFrame, threshold: Double): Vector[(Long, Long, Double)] = {
    val rows = docs.select(col("doc_id").cast("long"), col("text")).collect()
      .map(r => (r.getLong(0), TextOps.shingleHashes(r.getString(1))))
    val out = Vector.newBuilder[(Long, Long, Double)]
    for (i <- rows.indices; j <- (i + 1) until rows.length) {
      val (ia, sa) = rows(i); val (ib, sb) = rows(j)
      val (x, y) = if (ia < ib) (ia, ib) else (ib, ia)
      val jac = jaccard(sa, sb)
      if (jac >= threshold) out += ((x, y, jac))
    }
    out.result()
  }

  /** BPE encode semantics: every merge replayed in learned order over the
    * whole symbol sequence. O(M·L) per pre-token — correct at any merge
    * count, ruinous at a real 32k-100k vocabulary. `Bpe.encodeSymbols` is
    * the production equivalent. */
  def encodeReplay(w: String, merges: Array[(String, String)]): Array[String] = {
    var syms = Bpe.splitSymbols(w)
    merges.foreach { case (l, r) => syms = Bpe.applyMerge(syms, l, r) }
    syms
  }

  /** whitespace token count */
  def wsTokenCount(text: String): Int = {
    val t = text.trim
    if (t.isEmpty) 0 else t.split("\\s+").length
  }

  // ---- text extractor v1, the pre-rewrite scan (frozen copy) ----
  // `TextExtractParitySpec` holds `graft.extract.TextExtract.extract` to it
  // byte for byte. Its `indexOf(';')` scans to the end of the page on every
  // `&` with no `;` after it, so it is quadratic on such pages.

  private val dropNames = Array("script", "style", "nav", "header", "footer", "aside")
  private val blockNames = Array("p", "div", "h1", "h2", "h3", "h4", "h5", "h6",
    "li", "br", "tr", "section", "article", "title")

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

  def extractV1(html: String): String = {
    val out = new java.lang.StringBuilder(html.length / 2)
    val n = html.length
    var i = 0
    var dropUntil: String = null // inside a drop-with-content element
    // fused whitespace-normalization state
    var pendingSpace = false
    var pendingNewline = false
    var started = false

    def emit(c: Char): Unit = {
      if (c == '\n' || c == '\r') pendingNewline = true
      else if (c == ' ') pendingSpace = true
      else {
        if (started) {
          if (pendingNewline) out.append('\n')
          else if (pendingSpace) out.append(' ')
        }
        pendingSpace = false; pendingNewline = false
        started = true
        out.append(c)
      }
    }

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
          while (j < n && html.charAt(j).isLetterOrDigit) j += 1
          val nameEnd = j
          while (j < n && html.charAt(j) != '>') j += 1
          val after = math.min(j + 1, n)

          if (dropUntil != null) {
            if (close && eqFold(html, nameStart, nameEnd, dropUntil)) dropUntil = null
            i = after
          } else {
            var dropIdx = -1
            if (!close) {
              var d = 0
              while (d < dropNames.length && dropIdx < 0) {
                if (eqFold(html, nameStart, nameEnd, dropNames(d))) dropIdx = d
                d += 1
              }
            }
            if (dropIdx >= 0) {
              dropUntil = dropNames(dropIdx)
            } else {
              var isBlock = false
              var b = 0
              while (b < blockNames.length && !isBlock) {
                if (eqFold(html, nameStart, nameEnd, blockNames(b))) isBlock = true
                b += 1
              }
              if (close && isBlock) emit('\n')
              if (!close && eqFold(html, nameStart, nameEnd, "br")) emit('\n')
            }
            i = after
          }
        }
      } else if (dropUntil != null) {
        i += 1
      } else if (c == '&') {
        val semi = html.indexOf(';', i + 1)
        if (semi > 0 && semi - i <= 8) {
          val s = i + 1
          var decoded = -1 // char code, or -1 = not an entity
          if (eqAt(html, s, semi, "amp")) decoded = '&'
          else if (eqAt(html, s, semi, "lt")) decoded = '<'
          else if (eqAt(html, s, semi, "gt")) decoded = '>'
          else if (eqAt(html, s, semi, "quot")) decoded = '"'
          else if (eqAt(html, s, semi, "nbsp")) decoded = ' '
          else if (semi - s > 1 && html.charAt(s) == '#') {
            // numeric entity; Unicode digits accepted (Character.digit),
            // value truncated to a char — matches toInt.toChar semantics
            var v = 0
            var k = s + 1
            var ok = true
            while (k < semi && ok) {
              val ch = html.charAt(k)
              if (!Character.isDigit(ch)) ok = false
              else v = v * 10 + Character.digit(ch, 10)
              k += 1
            }
            if (ok) decoded = v.toChar
          }
          if (decoded >= 0) { emit(decoded.toChar); i = semi + 1 }
          else { emit(c); i += 1 }
        } else { emit(c); i += 1 }
      } else {
        emit(if (c == '\t') ' ' else c)
        i += 1
      }
    }

    out.toString
  }
}
