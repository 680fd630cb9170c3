package graft.text

import graft.extract.Tokenize
import graft.util.Rng

/** Pure text-analysis primitives for the training-data pipeline: language
  * ID (stopword/n-gram heuristic), quality features, token counts, SimHash,
  * winnowing fingerprints, and MinHash signatures over word shingles.
  * All functions are frozen pure Scala — safe inside mapPartitions, no
  * locale or RNG drift (hash mixers are fixed-constant).
  */
object TextOps {

  // --------------------------------------------------------------- hashing
  /** stable 64-bit string hash (FNV-1a folded through a splitmix finalizer) */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    mix64(h)
  }
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // --------------------------------------------------------------- lang id
  private val stopwords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "it", "that", "was", "for", "on", "with", "a"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "auf", "für", "von"),
    "fr" -> Set("le", "la", "les", "et", "est", "un", "une", "des", "dans", "pour", "que", "avec"),
    "es" -> Set("el", "la", "los", "las", "y", "es", "un", "una", "de", "en", "por", "para", "con"),
    "nl" -> Set("de", "het", "een", "en", "van", "is", "dat", "op", "te", "met", "voor", "niet"))

  /** Heuristic language ID: stopword hit-rate per language, deterministic
    * tie-break by language code; "und" (undetermined) when nothing hits. */
  def langId(text: String): String = {
    val toks = Tokenize.tokens(text).map(_.norm)
    if (toks.isEmpty) return "und"
    val scores = stopwords.map { case (lang, sw) => (lang, toks.count(sw.contains).toDouble / toks.size) }
    val (bestLang, bestScore) = scores.toVector.sortBy { case (l, s) => (-s, l) }.head
    if (bestScore == 0.0) "und" else bestLang
  }

  // --------------------------------------------------------------- quality
  final case class Quality(
      n_chars: Long, n_tokens: Long, n_punct: Long, n_digits: Long,
      n_upper: Long, stopword_hits: Long, mean_token_len: Double, score: Double)

  def quality(text: String): Quality = {
    val nChars = text.length.toLong
    var punct = 0L; var digits = 0L; var upper = 0L
    text.foreach { c =>
      if (c == '.' || c == ',' || c == '!' || c == '?' || c == ';' || c == ':') punct += 1
      if (c.isDigit) digits += 1
      if (c.isUpper) upper += 1
    }
    val toks = Tokenize.tokens(text).map(_.norm)
    val en = stopwords("en")
    val sw = toks.count(en.contains).toLong
    val meanLen = if (toks.isEmpty) 0.0 else toks.map(_.length).sum.toDouble / toks.size
    // heuristic quality: enough text, sane word lengths, some structure
    val lenScore = math.min(1.0, nChars / 500.0)
    val wordScore = if (meanLen >= 3 && meanLen <= 10) 1.0 else 0.5
    val punctScore = if (nChars > 0 && punct.toDouble / nChars < 0.1) 1.0 else 0.5
    Quality(nChars, toks.size, punct, digits, upper, sw, meanLen,
      (lenScore + wordScore + punctScore) / 3.0)
  }

  // --------------------------------------------------------------- simhash
  /** 64-bit SimHash over word unigrams (r7: token hashes stream through
    * [[tokenNormHashes]] — same values, no per-token Token/String
    * allocation in the signature pass). */
  def simhash64(text: String): Long = {
    val v = new Array[Int](64)
    val th = tokenNormHashes(text)
    var t = 0
    while (t < th.length) {
      val h = th(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) v(b) += 1 else v(b) -= 1
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (v(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  // ----------------------------------------------------------- fingerprint
  /** Winnowing document fingerprint (Schleimer et al., SIGMOD 2003):
    * k-gram rolling hashes, minimum per sliding window, deduped in order.
    * Returns the selected hashes; [[fingerprint64]] folds them to one word. */
  def winnow(text: String, k: Int = 8, window: Int = 4): Vector[Long] = {
    val n = text.length
    if (n < k) return if (n == 0) Vector.empty else Vector(hash64(text))
    val grams = new Array[Long](n - k + 1)
    var i = 0
    while (i + k <= n) { grams(i) = hash64(text.substring(i, i + k)); i += 1 }
    // too short for a full window: fingerprint = the minimum gram (otherwise
    // every short document would collapse to an empty fingerprint)
    if (grams.length < window) return Vector(grams.min)
    val out = Vector.newBuilder[Long]
    var lastPicked = -1
    i = 0
    while (i + window <= grams.length) {
      var minJ = i
      var j = i + 1
      while (j < i + window) { if (grams(j) <= grams(minJ)) minJ = j; j += 1 }
      if (minJ != lastPicked) { out += grams(minJ); lastPicked = minJ }
      i += 1
    }
    out.result()
  }

  def fingerprint64(text: String): Long =
    winnow(text).foldLeft(0xcbf29ce484222325L)((acc, h) => mix64(acc ^ h))

  // ------------------------------------------------------------- shingles
  /** hashed word k-shingles for the hot dedup path: each k-gram of token
    * norm hashes folds into one 64-bit key, so no shingle string is built
    * (64-bit collisions are negligible vs the jaccard thresholds in play) */
  def shingleHashes(text: String, k: Int = 3): Set[Long] = {
    val toks = Tokenize.tokens(text)
    val n = toks.size
    if (n == 0) return Set.empty
    val th = new Array[Long](n)
    var i = 0
    while (i < n) { th(i) = hash64(toks(i).norm); i += 1 }
    val out = Set.newBuilder[Long]
    if (n < k) {
      var h = 0xcbf29ce484222325L
      i = 0
      while (i < n) { h = mix64(h ^ th(i)); i += 1 }
      out += h
    } else {
      i = 0
      while (i + k <= n) {
        var h = 0xcbf29ce484222325L
        var j = i
        while (j < i + k) { h = mix64(h ^ th(j)); j += 1 }
        out += h
        i += 1
      }
    }
    out.result()
  }

  /** Per-token norm hashes, streaming (r7) — allocation-lean equivalent of
    * `Tokenize.tokens(text).map(t => hash64(t.norm))` (spec-locked equal):
    * the FNV fold runs over the lowercased chars IN PLACE, so the hot dedup
    * signature pass allocates one long[] per document instead of a Token
    * vector plus two strings per token (the measured GC driver of the LSH
    * queries). Tokens containing the only chars whose String.toLowerCase
    * mapping is not the 1:1 Character.toLowerCase mapping under ROOT —
    * İ U+0130 (full mapping expands to i + U+0307) and Σ U+03A3 (final
    * sigma is position-conditional) — fall back to the materializing path,
    * so the streamed hash equals the frozen definition for EVERY input. */
  def tokenNormHashes(text: String): Array[Long] = {
    val n = text.length
    var out = new Array[Long](16)
    var m = 0
    var i = 0
    while (i < n) {
      if (Character.isLetterOrDigit(text.charAt(i))) {
        val s = i
        var h = 0xcbf29ce484222325L
        var special = false
        while (i < n && Character.isLetterOrDigit(text.charAt(i))) {
          val c = text.charAt(i)
          if (c == 'İ' || c == 'Σ') special = true
          h ^= Character.toLowerCase(c)
          h *= 0x100000001b3L
          i += 1
        }
        val hv =
          if (special) hash64(text.substring(s, i).toLowerCase(java.util.Locale.ROOT))
          else mix64(h)
        if (m == out.length) out = java.util.Arrays.copyOf(out, m * 2)
        out(m) = hv
        m += 1
      } else i += 1
    }
    if (m == out.length) out else java.util.Arrays.copyOf(out, m)
  }

  /** k-shingle hashes as a RAW (unsorted, possibly duplicated) long[] —
    * same VALUES as [[shingleHashes]] (the set is exactly the distinct of
    * this array; spec-locked). The OPH signature consumer is order- and
    * duplicate-invariant (per-bin minimum), so it can take this directly;
    * exact-Jaccard consumers apply [[sortedDistinct]] first. */
  def shingleHashesRaw(text: String, k: Int = 3): Array[Long] = {
    val th = tokenNormHashes(text)
    val n = th.length
    if (n == 0) return Array.emptyLongArray
    if (n < k) {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < n) { h = mix64(h ^ th(i)); i += 1 }
      Array(h)
    } else {
      val out = new Array[Long](n - k + 1)
      var i = 0
      while (i + k <= n) {
        var h = 0xcbf29ce484222325L
        var j = i
        while (j < i + k) { h = mix64(h ^ th(j)); j += 1 }
        out(i) = h
        i += 1
      }
      out
    }
  }

  /** in-place sort + dedupe (mutates `a`; returns the compacted array) */
  def sortedDistinct(a: Array[Long]): Array[Long] = {
    if (a.length == 0) return a
    java.util.Arrays.sort(a)
    var m = 1
    var i = 1
    while (i < a.length) {
      if (a(i) != a(m - 1)) { a(m) = a(i); m += 1 }
      i += 1
    }
    if (m == a.length) a else java.util.Arrays.copyOf(a, m)
  }

  /** exact Jaccard over sorted-distinct hash arrays — merge-intersect,
    * equals set Jaccard on the corresponding sets (spec-locked) */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.length == 0 && b.length == 0) return 1.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  // -------------------------------------------------------------- minhash
  val MinhashPerms = 64
  val MinhashBands = 16 // 16 bands x 4 rows
  val MinhashRows: Int = MinhashPerms / MinhashBands

  /** One-permutation MinHash with rotation densification (Li–Owen–Zhang
    * OPH; Shrivastava's densification): ONE mixed hash per shingle — its
    * top 6 bits pick one of the 64 bins, and it competes for that bin's
    * minimum. Empty bins borrow from the next non-empty bin clockwise,
    * salted by the borrowing bin's index so borrowed slots stay pairwise
    * independent for banding. Estimator quality matches 64 independent
    * permutations while hashing 64× less — the signature pass dominates
    * MinHash dedup cost at corpus scale, so this is the 100 TB path
    * (the classic 64-permutation signature is the specs' reference; they
    * pin both to the same Jaccard-estimation contract). Deterministic:
    * output depends only on the input hash SET. */
  def minhashSignatureOph(hashes: Iterable[Long]): Array[Long] = {
    val sig = Array.fill(MinhashPerms)(Long.MaxValue)
    hashes.foreach { h =>
      val m = mix64(h)
      val bin = (m >>> 58).toInt // top 6 bits -> 64 bins
      if (m < sig(bin)) sig(bin) = m
    }
    densifyOph(sig)
  }

  /** primitive-array overload for the hot signature pass (r7): bin-min is
    * order- and duplicate-invariant, so the RAW shingle array feeds this
    * directly — identical output to the Iterable path, zero boxing. */
  def minhashSignatureOph(hashes: Array[Long]): Array[Long] = {
    val sig = Array.fill(MinhashPerms)(Long.MaxValue)
    var i = 0
    while (i < hashes.length) {
      val m = mix64(hashes(i))
      val bin = (m >>> 58).toInt
      if (m < sig(bin)) sig(bin) = m
      i += 1
    }
    densifyOph(sig)
  }

  /** rotation densification: empty bin j takes the next occupied bin's
    * value re-mixed with j (distinct per borrower, deterministic) */
  private def densifyOph(sig: Array[Long]): Array[Long] = {
    val k = MinhashPerms
    var anyOccupied = false
    var i = 0
    while (i < k && !anyOccupied) { anyOccupied = sig(i) != Long.MaxValue; i += 1 }
    if (anyOccupied) {
      var j = 0
      while (j < k) {
        if (sig(j) == Long.MaxValue) {
          var t = 1
          while (sig((j + t) % k) == Long.MaxValue) t += 1
          sig(j) = mix64(sig((j + t) % k) ^ (0x9e3779b97f4a7c15L * (j + 1)))
        }
        j += 1
      }
    }
    sig
  }

  /** LSH band keys of a signature: (bandIndex, bandHash). */
  def bandKeys(sig: Array[Long]): Vector[(Int, Long)] =
    (0 until MinhashBands).map { b =>
      var h = 0xcbf29ce484222325L
      var r = 0
      while (r < MinhashRows) { h = mix64(h ^ sig(b * MinhashRows + r)); r += 1 }
      (b, h)
    }.toVector

  // ---------------------------------------------------- embedding helpers
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  def norm(a: Array[Float]): Double = math.sqrt(dot(a, a))
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    val d = norm(a) * norm(b)
    if (d == 0) 0.0 else dot(a, b) / d
  }

  private val hyperplaneCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  /** fixed pseudo-random hyperplanes, memoized per (bits, dim) */
  def hyperplanes(bits: Int, dim: Int): Array[Array[Double]] =
    hyperplaneCache.computeIfAbsent((bits, dim), { _ =>
      Array.tabulate(bits) { b =>
        val rng = Rng.at(0x5eedL, b)
        Array.fill(dim)(rng.nextDouble() * 2 - 1)
      }
    })

  /** Random-hyperplane LSH bucket of an embedding: sign bits against
    * `bits` fixed pseudo-random hyperplanes (the ANN scale path). */
  def hyperplaneBucket(v: Array[Float], bits: Int = 12): Int = {
    val planes = hyperplanes(bits, v.length)
    var bucket = 0
    var b = 0
    while (b < bits) {
      val p = planes(b)
      var s = 0.0
      var i = 0
      while (i < v.length) { s += v(i) * p(i); i += 1 }
      if (s >= 0) bucket |= (1 << b)
      b += 1
    }
    bucket
  }
}
