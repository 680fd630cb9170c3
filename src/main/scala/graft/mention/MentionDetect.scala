package graft.mention

import graft.model.Mention
import graft.text.TextOps

/** Dictionary mention detection: greedy longest-match over token n-grams
  * against a broadcast alias dictionary. Pure per-row function — runs inside
  * mapPartitions, never shuffles (SURVEY.md §2.3 J1 analog: the dictionary
  * rides as a broadcast, the scan is narrow).
  *
  * Scan shape: [[scan]] is the one greedy longest-match loop and hands each
  * match to a [[Hits]] sink, so a caller emitting triples builds no Mention,
  * surface substring or per-page Vector; [[detect]] is its Mention view.
  * Tokens are (start, end) spans plus a lowercase hash folded in place. The
  * dictionary is indexed by the FIRST token's 64-bit norm hash (primitive-key
  * map, behind a 4096-bit filter that spares most tokens the probe), with
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

  /** candidate alias entry: token sequence, normalized joined form, index in `norms` */
  final class Entry(val tokens: Array[String], val norm: String, val id: Int) extends Serializable

  /** first-token-hash-indexed alias dictionary (broadcast side) */
  final class Dictionary(val byFirstHash: scala.collection.mutable.LongMap[Array[Entry]],
    val norms: Array[String], val firstBits: Array[Long]) extends Serializable

  def buildDictionary(aliasNorms: Iterable[String]): Dictionary = {
    val norms = aliasNorms.toArray
    val tmp = new java.util.HashMap[java.lang.Long, java.util.ArrayList[Entry]]()
    norms.indices.foreach { id =>
      val toks = norms(id).split(' ')
      val e = new Entry(toks, norms(id), id)
      tmp.computeIfAbsent(TextOps.hash64(toks(0)), _ => new java.util.ArrayList[Entry]()).add(e)
    }
    val out = new scala.collection.mutable.LongMap[Array[Entry]](tmp.size * 2)
    val bits = new Array[Long](64) // 12 bits of each first-token hash; a clear bit skips the probe
    tmp.forEach { (k, v) =>
      bits((k >>> 58).toInt) |= 1L << k
      val arr = v.toArray(new Array[Entry](v.size))
      // longest-first => first match is the greedy longest match (stable
      // sort keeps insertion order within a length class)
      java.util.Arrays.sort(arr, (a: Entry, b: Entry) => b.tokens.length - a.tokens.length)
      out.put(k, arr)
    }
    new Dictionary(out, norms, bits)
  }

  /** lowercase of a letter or digit, else -1 (from a table below 128) */
  private def fold(c: Char): Int =
    if (c < 128) asciiFold(c) else if (Character.isLetterOrDigit(c)) Character.toLowerCase(c) else -1
  private val asciiFold = Array.tabulate(128)(c => if (Character.isLetterOrDigit(c)) Character.toLowerCase(c) else -1)

  /** receives each match of [[scan]]: text span [start, end) and its entry */
  trait Hits { def hit(start: Int, end: Int, entry: Entry): Unit }

  def detect(url: String, text: String, dict: Dictionary): Vector[Mention] = {
    val out = Vector.newBuilder[Mention]
    scan(text, dict, (s, e, entry) => out += Mention(url, s, e, text.substring(s, e), entry.norm))
    out.result()
  }

  /** greedy non-overlapping longest-match scan: matches go to `hits` in order */
  def scan(text: String, dict: Dictionary, hits: Hits): Unit = {
    val n = text.length
    // ---- streaming tokenization into span/hash arrays (one pass) ----
    var cap = 16 + n / 6 // about one token per 6 chars of prose
    var starts = new Array[Int](cap)
    var ends = new Array[Int](cap)
    var hashes = new Array[Long](cap)
    var special = new Array[Boolean](cap)
    var m = 0
    var i = 0
    while (i < n) {
      if (fold(text.charAt(i)) >= 0) {
        val s = i
        var h = 0xcbf29ce484222325L
        var sp = false
        var f = 0
        while (i < n && { f = fold(text.charAt(i)); f >= 0 }) {
          val c = text.charAt(i)
          if (c == 'İ' || c == 'Σ') sp = true
          h ^= f
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

    // final arrays, so tokEquals captures no boxed `var`
    val st = starts; val en = ends; val spc = special
    // region [st(ti), en(ti)) equals norm string w under lowercase
    def tokEquals(ti: Int, w: String): Boolean = {
      if (spc(ti))
        return text.substring(st(ti), en(ti)).toLowerCase(java.util.Locale.ROOT) == w
      val s = st(ti)
      if (en(ti) - s != w.length) return false
      var k = 0
      while (k < w.length) {
        if (Character.toLowerCase(text.charAt(s + k)) != w.charAt(k)) return false
        k += 1
      }
      true
    }

    // ---- greedy longest-match scan over the token spans ----
    var ti = 0
    while (ti < m) {
      var advance = 1
      val h = hashes(ti)
      val cands = if ((dict.firstBits((h >>> 58).toInt) & 1L << h) == 0) null else dict.byFirstHash.getOrNull(h)
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
              hits.hit(st(ti), en(ti + len - 1), e)
              advance = len // greedy non-overlapping
              done = true
            }
          }
          c += 1
        }
      }
      ti += advance
    }
  }
}
