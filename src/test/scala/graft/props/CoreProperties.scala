package graft.props

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import graft.extract.{TextExtract, Tokenize}
import graft.mention.MentionDetect
import graft.text.{Reference, TextOps}
import graft.util.Rng

/** ScalaCheck invariants for the frozen primitives (run natively by sbt's
  * scalacheck framework — SURVEY.md §5 property-based row). */
object CoreProperties extends Properties("graft.core") {

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(10).mkString)
  private val text = Gen.listOf(word).map(_.take(60).mkString(" "))

  property("tokenizer offsets slice back to their surface") = forAll(text) { t =>
    Tokenize.tokens(t).forall(tok =>
      t.substring(tok.start, tok.end).toLowerCase(java.util.Locale.ROOT) == tok.norm)
  }

  property("tokenizer is total and deterministic on arbitrary strings") =
    forAll(Gen.asciiPrintableStr) { s => Tokenize.tokens(s) == Tokenize.tokens(s) }

  property("extract is deterministic on arbitrary html-ish input") =
    forAll(Gen.asciiPrintableStr) { s => TextExtract.extract(s) == TextExtract.extract(s) }

  property("extract emits no tags and no raw entities it claims to decode") =
    forAll(text) { t =>
      val html = s"<html><body><p>$t</p><script>x()</script></body></html>"
      val out = TextExtract.extract(html)
      !out.contains("<") && !out.contains("x()")
    }

  property("bpe scanner equals the bpe regex on arbitrary strings") =
    forAll { (s: String) =>
      val m = java.util.regex.Pattern.compile(Tokenize.BpePattern).matcher(s)
      var c = 0
      while (m.find()) c += 1
      Tokenize.bpeTokenCount(s) == c
    }

  property("jaccardL is symmetric and bounded") =
    forAll(Gen.listOf(Gen.choose(0L, 50L)), Gen.listOf(Gen.choose(0L, 50L))) { (a, b) =>
      val (sa, sb) = (a.toSet, b.toSet)
      val j1 = Reference.jaccard(sa, sb)
      val j2 = Reference.jaccard(sb, sa)
      j1 == j2 && j1 >= 0.0 && j1 <= 1.0
    }

  property("identical shingle sets have identical minhash signatures") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, 1000L))) { hs =>
      Reference.minhashSignatureL(hs.toSet).sameElements(Reference.minhashSignatureL(hs.toSet))
    }

  property("simhash of a permutation-insensitive bag is stable") = forAll(text) { t =>
    TextOps.simhash64(t) == TextOps.simhash64(t)
  }

  property("hamming distance is a metric on the simhash space") =
    forAll(Gen.long, Gen.long, Gen.long) { (a, b, c) =>
      val ab = TextOps.hamming(a, b)
      TextOps.hamming(a, a) == 0 && ab == TextOps.hamming(b, a) &&
        ab <= TextOps.hamming(a, c) + TextOps.hamming(c, b)
    }

  property("Rng.at streams are reproducible and index-sensitive") =
    forAll(Gen.choose(0L, 1000000L)) { i =>
      Rng.at(42, i).nextLong() == Rng.at(42, i).nextLong() &&
        Rng.at(42, i).nextLong() != Rng.at(42, i + 1).nextLong()
    }

  property("mention detection finds every planted alias and only real spans") = {
    val aliases = Vector("acme corp", "blue falcon", "zeta")
    val dict = MentionDetect.buildDictionary(aliases)
    forAll(Gen.listOf(Gen.oneOf("lorem", "ipsum", "dolor")), Gen.oneOf(aliases)) { (fillers, alias) =>
      val words = fillers.take(10) :+ alias
      val t = words.mkString(" ")
      val ms = MentionDetect.detect("u", t, dict)
      ms.exists(_.alias_norm == alias) &&
        ms.forall(m => t.substring(m.span_start, m.span_end) == m.surface)
    }
  }

  property("winnowing fingerprints are deterministic and non-empty on text") = forAll(text) { t =>
    val w = TextOps.winnow(t)
    w == TextOps.winnow(t) && (t.isEmpty || w.nonEmpty)
  }
}
