package graft.text

import org.scalatest.funsuite.AnyFunSuite
import graft.extract.Tokenize

/** Locks the r7 allocation-lean streaming hash paths to the frozen
  * definitions they replace in the hot dedup/signature passes:
  *  - tokenNormHashes == tokens().map(t => hash64(t.norm))
  *  - distinct(shingleHashesRaw) == shingleHashes (the Set)
  *  - OPH(raw array) == OPH(set) (bin-min duplicate invariance)
  *  - jaccardSorted(sortedDistinct(raw)) == Reference.jaccard(sets)
  *  - simhash64 regression values (its internals changed)
  * Inputs deliberately include the two chars whose String.toLowerCase is
  * NOT the per-char mapping (İ U+0130, Σ U+03A3 final sigma), mixed-case
  * unicode, digits, punctuation and empty/short strings.
  */
class TextOpsFastSpec extends AnyFunSuite {

  private val adversarial = Vector(
    "", " ", "a", "ab cd", "Hello World FOO bar",
    "İstanbul SİGMA ΣΟΦΙΑ ΟΔΥΣΣΕΥΣ tail Σ",          // full/conditional case mapping
    "ΑΣ ΒΣ1 xΣy İİİ İx",                              // final-sigma position variants
    "Fußball STRASSE ẞ groß",                          // sharp s (1:1 under toLowerCase)
    "naïve café résumé Üben ÄÖÜ ß",
    "a1b2 33 x_y-z 7up\tnine\nten",
    "the the the quick quick brown fox fox fox jumps", // duplicate shingles
    "日本語 テスト 中文 測試 한국어",
    "mixed 日本 English текст Русский")

  private val rng = new scala.util.Random(0xC0FFEE)
  private def randText(): String = {
    val alphabet = "abcXYZ İΣßç09 .,\n日ク"
    val n = rng.nextInt(400)
    val sb = new StringBuilder(n)
    (0 until n).foreach(_ => sb.append(alphabet.charAt(rng.nextInt(alphabet.length))))
    sb.toString
  }
  private val corpus = adversarial ++ Vector.fill(300)(randText())

  test("tokenNormHashes equals hash64 over tokens().norm for every input") {
    corpus.foreach { t =>
      val expected = Tokenize.tokens(t).map(tok => TextOps.hash64(tok.norm))
      val got = TextOps.tokenNormHashes(t).toVector
      assert(got == expected, s"diverged on ${t.take(60)}")
    }
  }

  test("distinct of shingleHashesRaw equals the shingleHashes set") {
    corpus.foreach { t =>
      val set = TextOps.shingleHashes(t)
      val raw = TextOps.shingleHashesRaw(t)
      assert(raw.toSet == set, s"diverged on ${t.take(60)}")
      val sd = TextOps.sortedDistinct(raw.clone())
      assert(sd.toVector == set.toVector.sorted)
    }
  }

  test("OPH over the raw array equals OPH over the set") {
    corpus.foreach { t =>
      val viaSet = TextOps.minhashSignatureOph(TextOps.shingleHashes(t))
      val viaRaw = TextOps.minhashSignatureOph(TextOps.shingleHashesRaw(t))
      assert(viaRaw.sameElements(viaSet), s"diverged on ${t.take(60)}")
    }
  }

  test("jaccardSorted equals jaccardL on every corpus pair sample") {
    val sample = corpus.take(40)
    for (a <- sample; b <- sample) {
      val jSet = Reference.jaccard(TextOps.shingleHashes(a), TextOps.shingleHashes(b))
      val jArr = TextOps.jaccardSorted(
        TextOps.sortedDistinct(TextOps.shingleHashesRaw(a)),
        TextOps.sortedDistinct(TextOps.shingleHashesRaw(b)))
      assert(jArr == jSet)
    }
  }

  test("simhash64 equals the historical unigram definition") {
    // independent re-derivation of the pre-r7 body (tokens + hash64(norm))
    def reference(text: String): Long = {
      val v = new Array[Int](64)
      Tokenize.tokens(text).foreach { tok =>
        val h = TextOps.hash64(tok.norm)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) v(b) += 1 else v(b) -= 1
          b += 1
        }
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (v(b) > 0) out |= (1L << b); b += 1 }
      out
    }
    corpus.foreach(t => assert(TextOps.simhash64(t) == reference(t), s"diverged on ${t.take(60)}"))
  }
}
