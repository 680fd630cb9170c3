package graft.text

import org.scalatest.funsuite.AnyFunSuite
import graft.extract.Tokenize

class TextOpsSpec extends AnyFunSuite {

  test("langId classifies stopword-rich samples and falls back to 'und'") {
    assert(TextOps.langId("the cat sat on the mat and it was happy") == "en")
    assert(TextOps.langId("der hund ist nicht auf der wiese und das ist gut") == "de")
    assert(TextOps.langId("le chat est dans la maison et il est content") == "fr")
    assert(TextOps.langId("el perro es muy grande y la casa es bonita") == "es")
    assert(TextOps.langId("xyzzy plugh qwerty") == "und")
    assert(TextOps.langId("") == "und")
  }

  test("quality features count punctuation, digits and stopwords") {
    val q = TextOps.quality("The cat, the dog; 42 birds!")
    assert(q.n_punct == 3)
    assert(q.n_digits == 2)
    assert(q.n_tokens == 6)
    assert(q.stopword_hits == 2)
    assert(q.score > 0 && q.score <= 1)
  }

  test("simhash: identical texts collide, different texts differ") {
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    assert(TextOps.simhash64(a) == TextOps.simhash64(a))
    val b = a.replace("gamma", "CHANGED")
    assert(TextOps.hamming(TextOps.simhash64(a), TextOps.simhash64(b)) > 0)
    assert(TextOps.hamming(TextOps.simhash64(a), TextOps.simhash64(b)) < 32)
  }

  test("tokenizer emits offsets that slice back to the surface") {
    val t = "Hello, World 42!"
    val toks = Tokenize.tokens(t)
    assert(toks.map(_.norm) == Vector("hello", "world", "42"))
    toks.foreach(tok => assert(t.substring(tok.start, tok.end).toLowerCase == tok.norm))
    assert(Reference.wsTokenCount("  a  b\tc \n") == 3)
    assert(Reference.wsTokenCount("") == 0)
  }

  test("minhash signatures approximate jaccard") {
    val a = Reference.shingles("alpha beta gamma delta epsilon zeta eta theta iota kappa")
    val b = Reference.shingles("alpha beta gamma delta epsilon zeta eta theta iota CHANGED")
    val sa = Reference.minhashSignature(a)
    val sb = Reference.minhashSignature(b)
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / sa.length
    val real = Reference.jaccard(a, b)
    assert(math.abs(est - real) < 0.25, s"est $est real $real")
  }

  test("OPH signature estimates Jaccard as well as 64 classic permutations") {
    // planted-overlap sets with exact Jaccard: |A|=|B|=n sharing s elements
    // -> j = s / (2n - s). Mean |estimate - truth| over trials must sit
    // inside the k=64 sampling band for BOTH signatures (σ ≈ √(j(1-j)/64)).
    val rng = new scala.util.Random(5)
    for (target <- Seq(0.3, 0.5, 0.8)) {
      val n = 100
      val s = math.round(2 * n * target / (1 + target)).toInt
      val jTrue = s.toDouble / (2 * n - s)
      var errC = 0.0; var errO = 0.0
      val trials = 30
      (1 to trials).foreach { _ =>
        val shared = Set.fill(s)(rng.nextLong())
        val a = shared ++ Set.fill(n - s)(rng.nextLong())
        val b = shared ++ Set.fill(n - s)(rng.nextLong())
        def est(f: Iterable[Long] => Array[Long]) = {
          val (sa, sb) = (f(a), f(b))
          sa.zip(sb).count { case (x, y) => x == y }.toDouble / sa.length
        }
        errC += math.abs(est(Reference.minhashSignatureL) - jTrue)
        errO += math.abs(est(TextOps.minhashSignatureOph) - jTrue)
      }
      assert(errO / trials < 0.08, s"OPH mean error ${errO / trials} at j=$jTrue")
      assert(errO / trials < errC / trials + 0.03,
        s"OPH (${errO / trials}) must track classic (${errC / trials}) at j=$jTrue")
    }
    // determinism + set-order independence
    val hs = Seq(3L, 9L, 1L, 7L, 5L)
    assert(TextOps.minhashSignatureOph(hs).sameElements(TextOps.minhashSignatureOph(hs.reverse)))
    // empty input keeps the empty-sentinel signature (empty-empty pairs band together)
    assert(TextOps.minhashSignatureOph(Nil).forall(_ == Long.MaxValue))
  }

  test("hyperplane buckets are deterministic and separate far vectors") {
    val v1 = Array.fill(16)(1.0f)
    val v2 = v1.map(-_)
    assert(TextOps.hyperplaneBucket(v1) == TextOps.hyperplaneBucket(v1))
    assert(TextOps.hyperplaneBucket(v1) == (~TextOps.hyperplaneBucket(v2) & 0xfff))
  }
}
