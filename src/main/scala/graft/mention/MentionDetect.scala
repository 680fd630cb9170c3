package graft.mention

import graft.model.Mention
import graft.text.TextOps

/** Dictionary mention detection: greedy longest-match over token n-grams
  * against a broadcast alias dictionary. Pure per-row function — runs inside
  * mapPartitions, never shuffles (SURVEY.md §2.3 J1 analog: the dictionary
  * rides as a broadcast, the scan is narrow).
  *
  * r7 shape: the scan is fully STREAMING — tokens are (start, end) spans
  * plus a lowercase hash folded in place (no Token objects, no norm-string
  * allocation per token; the page's only garbage is four small arrays and
  * the emitted Mentions). The dictionary is indexed by the FIRST token's
  * 64-bit norm hash (primitive-key map, zero-allocation lookup), with
  * per-slot candidates sorted longest-first so the first verified match is
  * the greedy longest match. Hash collisions are harmless: every candidate
  * verifies token-by-token against the text region (including token 0).
  * Region equality uses the 1:1 Character.toLowerCase fold, with a
  * materializing String.toLowerCase(ROOT) fallback for the two chars whose
  * full/conditional case mapping diverges (İ U+0130, Σ U+03A3) — the same
  * discipline as [[TextOps.tokenNormHashes]], so outputs are IDENTICAL to
  * the historical Tokenize.tokens-based scan (MentionDetectFastSpec locks
  * equality on randomized unicode corpora).
  */
object MentionDetect {

  /** candidate alias entry: token sequence + its normalized joined form */
  final class Entry(val tokens: Array[String], val norm: String) extends Serializable

  /** first-token-hash-indexed alias dictionary (broadcast side) */
  final class Dictionary(val byFirstHash: scala.collection.mutable.LongMap[Array[Entry]])
    extends Serializable

  def buildDictionary(aliasNorms: Iterable[String]): Dictionary = {
    val tmp = new java.util.HashMap[java.lang.Long, java.util.ArrayList[Entry]]()
    aliasNorms.foreach { norm =>
      val toks = norm.split(' ')
      val e = new Entry(toks, norm)
      tmp.computeIfAbsent(TextOps.hash64(toks(0)), _ => new java.util.ArrayList[Entry]()).add(e)
    }
    val out = new scala.collection.mutable.LongMap[Array[Entry]](tmp.size * 2)
    tmp.forEach { (k, v) =>
      val arr = v.toArray(new Array[Entry](v.size))
      // longest-first => first match is the greedy longest match (stable
      // sort keeps insertion order within a length class)
      java.util.Arrays.sort(arr, (a: Entry, b: Entry) => b.tokens.length - a.tokens.length)
      out.put(k, arr)
    }
    new Dictionary(out)
  }

  def detect(url: String, text: String, dict: Dictionary): Vector[Mention] = {
    val n = text.length
    // ---- streaming tokenization into span/hash arrays (one pass) ----
    var cap = 16
    var starts = new Array[Int](cap)
    var ends = new Array[Int](cap)
    var hashes = new Array[Long](cap)
    var special = new Array[Boolean](cap)
    var m = 0
    var i = 0
    while (i < n) {
      if (Character.isLetterOrDigit(text.charAt(i))) {
        val s = i
        var h = 0xcbf29ce484222325L
        var sp = false
        while (i < n && Character.isLetterOrDigit(text.charAt(i))) {
          val c = text.charAt(i)
          if (c == 'İ' || c == 'Σ') sp = true
          h ^= Character.toLowerCase(c)
          h *= 0x100000001b3L
          i += 1
        }
        if (m == cap) {
          cap *= 2
          starts = java.util.Arrays.copyOf(starts, cap)
          ends = java.util.Arrays.copyOf(ends, cap)
          hashes = java.util.Arrays.copyOf(hashes, cap)
          special = java.util.Arrays.copyOf(special, cap)
        }
        starts(m) = s
        ends(m) = i
        hashes(m) =
          if (sp) TextOps.hash64(text.substring(s, i).toLowerCase(java.util.Locale.ROOT))
          else TextOps.mix64(h)
        special(m) = sp
        m += 1
      } else i += 1
    }

    // region [starts(ti), ends(ti)) equals norm string w under lowercase
    def tokEquals(ti: Int, w: String): Boolean = {
      if (special(ti))
        return text.substring(starts(ti), ends(ti)).toLowerCase(java.util.Locale.ROOT) == w
      val s = starts(ti)
      if (ends(ti) - s != w.length) return false
      var k = 0
      while (k < w.length) {
        if (Character.toLowerCase(text.charAt(s + k)) != w.charAt(k)) return false
        k += 1
      }
      true
    }

    // ---- greedy longest-match scan over the token spans ----
    val out = Vector.newBuilder[Mention]
    var ti = 0
    while (ti < m) {
      var advance = 1
      val cands = dict.byFirstHash.getOrNull(hashes(ti))
      if (cands != null) {
        var c = 0
        var done = false
        while (c < cands.length && !done) {
          val e = cands(c)
          val len = e.tokens.length
          if (ti + len <= m) {
            var j = 0
            while (j < len && tokEquals(ti + j, e.tokens(j))) j += 1
            if (j == len) {
              val start = starts(ti)
              val end = ends(ti + len - 1)
              out += Mention(url, start, end, text.substring(start, end), e.norm)
              advance = len // greedy non-overlapping
              done = true
            }
          }
          c += 1
        }
      }
      ti += advance
    }
    out.result()
  }
}
