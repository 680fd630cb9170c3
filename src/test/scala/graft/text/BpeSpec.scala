package graft.text

import graft.SparkTestBase
import org.apache.spark.sql.functions.col

/** BPE merge learning: hand-derived merges, parity with an INDEPENDENT
  * single-threaded reference implementation (written here from the
  * Sennrich/GPT-2 recipe, sharing no code with [[Bpe]] beyond the
  * pre-tokenizer pattern string), partition invariance, and the encode
  * side's consistency with the learned table. */
class BpeSpec extends SparkTestBase {

  // ---- independent reference: plain Scala maps, no Spark, no Bpe calls
  private def refMerges(texts: Seq[String], rounds: Int): Vector[(Int, String, String, Long)] = {
    val pat = java.util.regex.Pattern.compile(graft.extract.Tokenize.BpePattern)
    val wf = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach { t =>
      val m = pat.matcher(t)
      while (m.find()) wf(m.group()) = wf.getOrElse(m.group(), 0L) + 1L
    }
    var vocab: Map[Vector[String], Long] =
      wf.toSeq.groupBy(_._1.toVector.map(_.toString)).view
        .mapValues(_.map(_._2).sum).toMap
    val out = Vector.newBuilder[(Int, String, String, Long)]
    var r = 1
    var go = true
    while (r <= rounds && go) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.indices.dropRight(1).foreach { i =>
          pairs((syms(i), syms(i + 1))) = pairs.getOrElse((syms(i), syms(i + 1)), 0L) + f
        }
      }
      val best = pairs.toSeq.sortBy { case ((l, rr), f) => (-f, l, rr) }.headOption
      best.filter(_._2 >= 2L) match {
        case Some(((l, rr), f)) =>
          out += ((r, l, rr, f))
          vocab = vocab.toSeq.map { case (syms, wf2) =>
            val merged = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == rr) {
                merged += (l + rr); i += 2
              } else { merged += syms(i); i += 1 }
            }
            (merged.result(), wf2)
          }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
          r += 1
        case None => go = false
      }
    }
    out.result()
  }

  private def docsOf(texts: Seq[String]) = {
    val sps = spark; import sps.implicits._
    spark.createDataset(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text")
  }

  test("hand-derived merges on a tiny corpus") {
    // pre-token freqs: "aaab":2 (doc starts), " aaab":4, " cd":2
    val docs = docsOf(Seq("aaab aaab aaab aaab", "aaab aaab cd cd"))
    // round 1: (a,a) = 2·2 + 4·2 = 12 dominates -> merge "aa"
    // round 2 (greedy L-to-R gave [aa,a,b] / [' ',aa,a,b]):
    //   (aa,a) = 2+4 = 6, (a,b) = 2+4 = 6, (' ',aa) = 4, (' ',c)=(c,d) = 2
    //   tie at 6 breaks on left ASC: "a" < "aa" -> merge "ab", freq 6
    val got = Bpe.learnMerges(docs, 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got(0) == ((1, "a", "a", 12L)), s"got ${got.toSeq}")
    assert(got(1) == ((2, "a", "b", 6L)), s"got ${got.toSeq}")
  }

  test("matches the independent reference for 12 rounds on a messy corpus") {
    val rng = new scala.util.Random(7)
    val words = Vector("the", "there", "then", "other", "than", "thx",
      "low", "lower", "lowest", "new", "news", "banana", "bandana")
    val texts = (0 until 60).map { _ =>
      (0 until 30).map(_ => words(rng.nextInt(words.size))).mkString(" ") +
        (if (rng.nextBoolean()) ", punct! 123" else " 456?")
    }
    val want = refMerges(texts, 12).map { case (r, l, rr, f) => (r, l, rr, f) }
    val got = Bpe.learnMerges(docsOf(texts), 12).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toVector
    assert(got == want)
    assert(got.size == 12, "corpus must support 12 real merges")
  }

  test("local (many-merges) trainer is bit-identical to the distributed path") {
    val rng = new scala.util.Random(11)
    val words = Vector("graph", "graft", "grain", "grasp", "spark", "sparse",
      "parse", "part", "457", "12", ",", "!!")
    val texts = (0 until 50).map { _ =>
      (0 until 25).map(_ => words(rng.nextInt(words.size))).mkString(" ")
    }
    val docs = docsOf(texts)
    val dist = Bpe.learnMerges(docs, 10).collect().map(_.toString).sorted
    val local = Bpe.learnMergesLocal(docs, 10).collect().map(_.toString).sorted
    assert(dist.sameElements(local))
    // the local path trains deep cheaply — 200 rounds in one action chain;
    // the reference implementation stays the independent anchor
    val deep = Bpe.learnMergesLocal(docs, 200).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toVector
    assert(deep == refMerges(texts, 200))
    assert(deep.size > 20, "corpus must support a deep merge table")
  }

  test("merge table is partition-invariant") {
    val texts = (0 until 40).map(i => s"alpha beta gamma$i alpha beta")
    val a = Bpe.learnMerges(docsOf(texts).repartition(1), 6).collect().map(_.toString).sorted
    val b = Bpe.learnMerges(docsOf(texts).repartition(7), 6).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("early stop: a corpus with no repeating pair learns fewer merges than asked") {
    val docs = docsOf(Seq("ab cd ef")) // every pre-token unique, all pairs freq 1
    assert(Bpe.learnMerges(docs, 5).count() == 0)
  }

  test("rank-map encode is bit-identical to merge replay on learned tables") {
    val rng = new scala.util.Random(23)
    val words = Vector("the", "there", "then", "other", "than", "thx",
      "low", "lower", "lowest", "new", "news", "banana", "bandana")
    val texts = (0 until 60).map { _ =>
      (0 until 30).map(_ => words(rng.nextInt(words.size))).mkString(" ")
    }
    val docs = docsOf(texts)
    for (rounds <- Seq(12, 200)) {
      val merges = Bpe.learnMergesLocal(docs, rounds).collect()
        .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2)))
      val ranks = merges.iterator.zipWithIndex.map { case (p, i) => p -> i }.toMap
      val pat = java.util.regex.Pattern.compile(graft.extract.Tokenize.BpePattern)
      texts.foreach { t =>
        val m = pat.matcher(t)
        while (m.find()) {
          val w = m.group()
          assert(Bpe.encodeSymbols(Bpe.splitSymbols(w), ranks).toSeq ==
            Reference.encodeReplay(w, merges).toSeq, s"diverged on '$w' at $rounds merges")
        }
      }
    }
  }

  test("rank-map encode matches replay even on an ambiguous (double-derivation) table") {
    // rank 0 wants ("bc","a") but "bc" only EXISTS after rank 1 runs —
    // replay's pass 0 never sees it, so the encode must not merge it either
    // (the pure-min-rank GPT-2 runtime would output ["bca"] here)
    val merges = Array(("bc", "a"), ("b", "c"))
    val ranks = merges.iterator.zipWithIndex.map { case (p, i) => p -> i }.toMap
    assert(Bpe.encodeSymbols(Bpe.splitSymbols("bca"), ranks).toSeq == Seq("bc", "a"))
    assert(Reference.encodeReplay("bca", merges).toSeq == Seq("bc", "a"))
  }

  test("rank-map encode parity on a 1.5k-merge synthetic table, randomized words") {
    // pool-structured table (every pair's components derive from earlier
    // rounds, like a real trainer's output), far past the contract's 12
    val rng = new scala.util.Random(31)
    val base = "abcdef".map(_.toString).toVector
    val pool = scala.collection.mutable.ArrayBuffer(base: _*)
    val seen = scala.collection.mutable.Set.empty[(String, String)]
    val merges = Array.newBuilder[(String, String)]
    while (seen.size < 1500) {
      val p = (pool(rng.nextInt(pool.size)), pool(rng.nextInt(pool.size)))
      if (!seen(p) && (p._1 + p._2).length <= 24) {
        seen += p; merges += p; pool += (p._1 + p._2)
      }
    }
    val table = merges.result()
    val ranks = table.iterator.zipWithIndex.map { case (p, i) => p -> i }.toMap
    (0 until 200).foreach { _ =>
      val w = (0 until (5 + rng.nextInt(40))).map(_ => base(rng.nextInt(base.size))).mkString
      assert(Bpe.encodeSymbols(Bpe.splitSymbols(w), ranks).toSeq ==
        Reference.encodeReplay(w, table).toSeq, s"diverged on '$w'")
    }
  }

  test("encode cost is independent of merge-table size (50k merges, instant)") {
    // chain table a^i + a: replay would walk all 50k merges per pre-token
    // (~10^9 symbol comparisons on this word); the rank-map encode touches
    // only the pairs actually present and finishes in milliseconds
    val chain = Array.iterate("a", 50000)(_ + "a").map(s => (s, "a"))
    val ranks = chain.iterator.zipWithIndex.map { case (p, i) => p -> i }.toMap
    val word = "a" * 20000
    val out = Bpe.encodeSymbols(Bpe.splitSymbols(word), ranks)
    // rank 0 ("a","a") tiles the word; no later chain pair finds a lone "a"
    assert(out.length == 10000 && out.forall(_ == "aa"))
  }

  test("encode applies learned merges and never increases token count") {
    val texts = (0 until 20).map(_ => "the quick the quicker the quickest")
    val docs = docsOf(texts)
    val merges = Bpe.learnMerges(docs, 8).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2)))
    val enc = Bpe.encode(docs, merges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val charCounts = texts.zipWithIndex.map { case (t, i) => (i.toLong, t.length.toLong) }.toMap
    // with 8 merges on this repetitive corpus, tokens shrink well below chars
    assert(enc.forall { case (id, n) => n < charCounts(id) })
    // zero merges = character count (per pre-token chars sum == text length
    // here because the pattern tiles the text exactly)
    val enc0 = Bpe.encode(docs, Array.empty).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(enc0 == charCounts)
  }
}
