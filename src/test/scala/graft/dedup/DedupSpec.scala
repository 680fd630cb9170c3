package graft.dedup

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.GraftSqlShim
import graft.SparkTestBase
import graft.text.{Reference, TextOps}
import graft.util.Rng
import org.apache.spark.sql.functions.{col, lit, max}

class DedupSpec extends SparkTestBase {

  /** corpus with planted duplicate structure: 40 base docs; each base has a
    * near-dup (one word changed), an exact dup, and there are 40 unrelated */
  private def corpus() = {
    val sps = spark; import sps.implicits._
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def doc(seed: Long, n: Int) = {
      val rng = Rng.at(seed, n)
      (0 until 60).map(_ => words(rng.nextInt(words.size))).mkString(" ")
    }
    val base = (0 until 40).map(i => (i.toLong, doc(1, i)))
    val exact = base.map { case (i, t) => (100 + i, t) }
    val near = base.map { case (i, t) =>
      val ws = t.split(" "); ws(30) = "CHANGED"; (200 + i, ws.mkString(" "))
    }
    val unrelated = (0 until 40).map(i => (300L + i, doc(99, i)))
    spark.createDataset(base ++ exact ++ near ++ unrelated).toDF("doc_id", "text")
  }

  test("exact dedup finds every planted exact duplicate and nothing else") {
    val groups = Dedup.exactGroups(corpus()).collect()
    val dupGroups = groups.filter(_.getAs[Long]("n_docs") > 1)
    assert(dupGroups.length == 40)
    assert(dupGroups.forall(_.getAs[Long]("n_docs") == 2))
    assert(dupGroups.forall(_.getAs[Long]("canonical_doc_id") < 40))
  }

  test("minhash LSH recovers near-dup pairs that brute-force jaccard finds") {
    val df = corpus()
    val brute = Reference.bruteJaccardPairs(df, 0.6).map(p => (p._1, p._2)).toSet
    val lsh = Dedup.minhashPairs(df, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "test corpus must contain near-dups")
    // verification step makes precision exact; banding recall >= 0.9 here
    assert(lsh.subsetOf(brute))
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall $recall (${lsh.size}/${brute.size})")
  }

  test("building signatures over a shuffled input runs no job") {
    // an aggregation puts an exchange under the signature pass: asking that
    // plan for its partition count would run the shuffle stage, and the
    // pairs query would then run it again
    val agg = corpus().groupBy("doc_id").agg(max(col("text")).as("text"))
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftSqlShim.waitUntilEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      Dedup.minhashSigs(agg)
      GraftSqlShim.waitUntilEmpty(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0)
    val pairs = Dedup.minhashPairs(agg, 0.6).collect().toSet
    assert(pairs.nonEmpty)
    assert(pairs == Dedup.minhashPairs(agg.localCheckpoint(), 0.6).collect().toSet)
  }

  test("minhash pairs are partition-invariant") {
    val df = corpus()
    val a = Dedup.minhashPairs(df.repartition(1), 0.6).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Dedup.minhashPairs(df.repartition(7), 0.6).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("minhash calibration matches a local recomputation over candidate pairs") {
    val df = corpus()
    // local ground truth: candidate pairs -> (matching slots, exact inter/union)
    val texts = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sigs = texts.map { case (id, t) =>
      id -> TextOps.minhashSignatureOph(TextOps.shingleHashes(t))
    }
    val cands = Dedup.candidatePairs(Dedup.minhashBands(df)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = cands.map { case (a, b) =>
      val m = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
      val ha = TextOps.shingleHashes(texts(a))
      val hb = TextOps.shingleHashes(texts(b))
      val inter = ha.count(hb.contains).toLong
      (m, inter, ha.size + hb.size - inter)
    }.groupBy(_._1).map { case (m, rows) =>
      (m, rows.length.toLong, rows.map(_._2).sum, rows.map(_._3).sum)
    }.toSet
    val got = Dedup.minhashCalibration(df).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
    // planted exact dups: the 64-match bucket exists and is perfectly exact
    val full = got.find(_._1 == 64)
    assert(full.nonEmpty, "exact duplicates must land in the 64-slot bucket")
    assert(full.get._3 == full.get._4, "64 matching slots => inter == union on planted dups")
    // every candidate pair is accounted for exactly once
    assert(got.toSeq.map(_._2).sum == cands.length.toLong)
  }

  test("incremental pairs equal the cross slice of full-corpus minhash pairs") {
    val df = corpus()
    // the exact-dup block (ids 100..139) plays the new ingest batch, so
    // every planted (i, 100+i) pair crosses the split
    def isNew(id: Long) = id >= 100 && id < 200
    val newSide = df.filter(col("doc_id") >= 100 && col("doc_id") < 200)
    val oldSide = df.filter(col("doc_id") < 100 || col("doc_id") >= 200)
    val inc = Dedup.incrementalPairs(newSide, oldSide, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // sides never leak: every left id is a new doc, every right id an old doc
    assert(inc.forall { case (n, o) => isNew(n) && !isNew(o) })
    // the same banding over the full corpus, filtered to cross pairs, must
    // agree exactly (caps are non-binding here, so the band rows are equal)
    val full = Dedup.minhashPairs(df, 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => isNew(a) != isNew(b) }
      .map { case (a, b) => if (isNew(a)) (a, b) else (b, a) }.toSet
    assert(inc.toSet == full)
    assert(inc.nonEmpty, "planted near-dups must cross the batch split")
  }

  test("simhash pairs catch single-word edits at small hamming distance") {
    val pairs = Dedup.simhashPairs(corpus(), maxHamming = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact dups have hamming 0 -> all 40 present
    val exactPairs = (0 until 40).map(i => (i.toLong, 100L + i)).toSet
    assert(exactPairs.subsetOf(pairs), s"missing ${(exactPairs -- pairs).take(5)}")
    // near dups (one word of 60 changed) are mostly within 6 bits
    val nearPairs = (0 until 40).map(i => (i.toLong, 200L + i)).toSet
    val caught = nearPairs.intersect(pairs).size
    assert(caught >= 30, s"caught $caught/40 near pairs")
  }

  test("embedding cosine dedup finds planted duplicate vectors") {
    val sps = spark; import sps.implicits._
    val rng = new Rng(5)
    val base = (0 until 30).map { i =>
      (i.toLong, Array.fill(16)((rng.nextDouble() * 2 - 1).toFloat))
    }
    // plant: vectors 100+i = tiny perturbation of i (cosine ~ 1)
    val dups = base.map { case (i, v) =>
      (100 + i, v.map(x => x + 0.001f))
    }
    val emb = spark.createDataset(base ++ dups).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(emb, threshold = 0.999, bits = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 30).map(i => (i.toLong, 100L + i)).toSet
    // hyperplane LSH: perturbed twins share every sign bit except measure-zero edges
    val caught = expected.intersect(pairs).size
    assert(caught >= 27, s"caught $caught/30")
    // verification keeps precision exact: no non-planted pair survives
    assert((pairs -- expected).forall { case (a, b) => b - a != 100 } || (pairs -- expected).isEmpty)
  }

  test("winnowing fingerprint is stable and shift-sensitive") {
    val t1 = "the quick brown fox jumps over the lazy dog and runs away fast"
    assert(TextOps.fingerprint64(t1) == TextOps.fingerprint64(t1))
    assert(TextOps.fingerprint64(t1) != TextOps.fingerprint64(t1.replace("fox", "cat")))
    // winnowing selects a subset of k-gram hashes shared by overlapping docs
    val w1 = TextOps.winnow(t1).toSet
    val w2 = TextOps.winnow("PREFIX " + t1).toSet
    val overlap = w1.intersect(w2).size.toDouble / w1.size
    assert(overlap > 0.7, s"overlap $overlap")
  }

  test("connected components agree with a local union-find on random graphs") {
    val sps = spark; import sps.implicits._
    (0 until 3).foreach { trial =>
      val rng = Rng.at(909, trial)
      val n = 60
      val edges = (0 until 80).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (x, y) => x != y }
      val df = spark.createDataset(edges).toDF("doc_a", "doc_b")

      // local union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (x, y) =>
        val (rx, ry) = (find(x.toInt), find(y.toInt))
        if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
      }
      val want = edges.flatMap { case (x, y) => Seq(x, y) }.distinct
        .map(v => v -> find(v.toInt).toLong).toMap

      val got = Dedup.components(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // same vertex set, and component labels = min reachable id
      assert(got.keySet == want.keySet, s"trial $trial vertex set")
      // union-find min-parent == min reachable id after path compression walk
      val wantMin = want.groupBy(_._2).flatMap { case (_, m) =>
        val mn = m.keys.min; m.keys.map(_ -> mn)
      }
      assert(got == wantMin, s"trial $trial components")
    }
  }

  test("components with reliable checkpointing is identical and writes durable state") {
    val sps = spark; import sps.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("cc_ckpt")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 4L), (20L, 21L), (21L, 22L))
    val df = spark.createDataset(edges).toDF("doc_a", "doc_b")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = canon(Dedup.components(df))
    assert(canon(Dedup.components(df, reliableEvery = Some(2))) == base)
    assert(canon(Dedup.componentsLogStar(df, reliableEvery = Some(2))) == base)
    val files = java.nio.file.Files.walk(ckpt).iterator()
    var rddDirs = 0
    while (files.hasNext) { if (files.next().getFileName.toString.startsWith("rdd-")) rddDirs += 1 }
    assert(rddDirs >= 4, s"expected durable checkpoints from both variants, found $rddDirs")
  }

  test("componentsLogStar equals min-label components on random graphs") {
    val sps = spark; import sps.implicits._
    val rng = new scala.util.Random(11)
    (1 to 3).foreach { _ =>
      val n = 40
      val edges = Seq.fill(50)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val df = edges.toDF("doc_a", "doc_b")
      val viaLabel = Dedup.components(df).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaStar = Dedup.componentsLogStar(df).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaStar == viaLabel)
    }
  }

  test("componentsLogStar collapses a 300-node chain inside its log-bounded rounds") {
    val sps = spark; import sps.implicits._
    // diameter-299 chain: min-label propagation needs ~299 rounds (throws at
    // a 10-round budget); star contraction halves heights per round
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.componentsLogStar(chain, maxIter = 30).collect()
    assert(out.length == 300)
    assert(out.forall(_.getLong(1) == 0L), "every chain node labels to the min id")
    intercept[IllegalStateException] { Dedup.components(chain, maxIter = 10) }
  }

  test("a planted 1e5-member degenerate bucket is capped BEFORE materialization") {
    val sps = spark; import sps.implicits._
    // 100k identical documents: every LSH band bucket holds all 100k members.
    // The cap must apply in the window (streaming sort), never materializing
    // a 100k-element collect_list row — this completes in seconds within the
    // suite's small task memory; the uncapped aggregation row would not at
    // corpus scale.
    val n = 100000
    val docs = spark.range(n).select(col("id").as("doc_id"),
      lit("identical boilerplate text repeated across the corpus").as("text"))
    val bands = Dedup.minhashBands(docs)
    val pairs = Dedup.candidatePairs(bands)
    // MaxBucket lowest ids pair with each other; nothing else survives
    assert(pairs.count() == Dedup.MaxBucket.toLong * (Dedup.MaxBucket - 1) / 2)
    assert(pairs.agg(max("doc_b")).collect()(0).getLong(0) == Dedup.MaxBucket - 1)

    // telemetry: no silent caps — the dropped-pair count is exact
    val t = Dedup.capTelemetry(bands).collect()(0)
    assert(t.getAs[Long]("n_buckets") == graft.text.TextOps.MinhashBands)
    assert(t.getAs[Long]("n_capped_buckets") == graft.text.TextOps.MinhashBands)
    val perBucketDropped = n.toLong * (n - 1) / 2 - Dedup.MaxBucket.toLong * (Dedup.MaxBucket - 1) / 2
    assert(t.getAs[Long]("dropped_candidate_pairs") ==
      graft.text.TextOps.MinhashBands * perBucketDropped)
  }

  test("cap telemetry reports zero drops on an uncapped corpus") {
    val t = Dedup.capTelemetry(Dedup.minhashBands(corpus())).collect()(0)
    assert(t.getAs[Long]("n_capped_buckets") == 0L)
    assert(t.getAs[Long]("dropped_candidate_pairs") == 0L)
    assert(t.getAs[Long]("n_multi_buckets") > 0L)
  }

  test("components throws instead of silently returning non-converged labels") {
    val sps = spark; import sps.implicits._
    // a 12-vertex chain has diameter 11 -> needs 11 propagation rounds
    val chain = (0L until 11L).map(i => (i, i + 1))
    val df = spark.createDataset(chain).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      Dedup.components(df, maxIter = 3).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // with enough rounds the same chain converges to component 0
    val ok = Dedup.components(df, maxIter = 15).collect()
    assert(ok.forall(_.getLong(1) == 0L))
  }

  test("nearDupKeep keeps exactly one document per dup cluster") {
    val docs = corpus()
    val pairs = Dedup.minhashPairs(docs, threshold = 0.5).select("doc_a", "doc_b")
    val keep = Dedup.nearDupKeep(docs, pairs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("component"), r.getAs[Boolean]("keep")))
    // one keeper per component, every doc assigned, keeper = min id
    keep.groupBy(_._2).foreach { case (comp, members) =>
      assert(members.count(_._3) == 1, s"component $comp keepers")
      assert(members.filter(_._3).head._1 == members.map(_._1).min)
    }
    assert(keep.length == docs.count())
  }

  test("dupSpans finds exactly the hand-derived maximal duplicated token runs") {
    val sps = spark; import sps.implicits._
    val docs = Seq(
      // docs 0 and 1 share the 6-token run "c d e f g h" (positions 3-8 /
      // 3-8): 5-grams at pos 3 and 4 of each are duplicated, nothing else
      (0L, "a b c d e f g h i j"),
      (1L, "x x c d e f g h y z"),
      // doc 2 repeats "p q r s t u" WITHIN itself (pos 1 and 7): two
      // separate islands, each of 2 marked positions, 6 tokens long
      (2L, "p q r s t u p q r s t u v"),
      // all-unique tokens: no duplicated gram, no row
      (3L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10"),
      // shorter than the gram width: filtered before gramming, no row
      (4L, "short doc")
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docs, k = 5).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("span_start"),
        r.getAs[Int]("span_tokens"), r.getAs[Long]("n_grams"))).toSet
    assert(spans == Set(
      (0L, 3, 6, 2L),
      (1L, 3, 6, 2L),
      (2L, 1, 6, 2L),
      (2L, 7, 6, 2L)))
    // maximality: a span is never adjacent to another marked position
    // (islands merged) — implied by the exact set above, but make the
    // within-doc case explicit: doc 2's two islands did NOT merge across
    // the unique middle grams
    assert(spans.count(_._1 == 2L) == 2)
  }

  test("dupSpans hash-key mode (the 100 TB shuffle shape) is row-identical to string keys") {
    val docs = corpus() // planted exact + near dups -> plenty of shared runs
    val str = Dedup.dupSpans(docs, k = 5).collect().map(_.toString).toSet
    val hsh = Dedup.dupSpans(docs, k = 5, hashKeys = true).collect().map(_.toString).toSet
    assert(str.nonEmpty)
    assert(hsh == str)
  }

  test("cutSpans keeps the canonical occurrence verbatim and cuts every later copy") {
    val sps = spark; import sps.implicits._
    val docs = Seq(
      (0L, "a b c d e f g h i j"),          // canonical holder of "c d e f g h"
      (1L, "x x c d e f g h y z"),          // later copy -> the run is cut
      (2L, "p q r s t u p q r s t u v"),    // within-doc: first occurrence kept
      (3L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10"), // unique -> untouched
      (4L, "short doc")                     // below gram width -> untouched
    ).toDF("doc_id", "text")
    val cut = Dedup.cutSpans(docs, k = 5).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_cut"), r.getAs[String]("text_cut"))))
      .toMap
    assert(cut(0L) == ((10L, 0L, "a b c d e f g h i j")))
    assert(cut(1L) == ((10L, 6L, "x x y z")))
    assert(cut(2L) == ((13L, 6L, "p q r s t u v")))
    assert(cut(3L) == ((10L, 0L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10")))
    assert(cut(4L) == ((2L, 0L, "short doc")))
    // corpus-level invariant: cutting is idempotent on this corpus — the
    // surviving text contains no duplicated 5-gram with multiplicity that
    // the canonical rule would cut again... except new adjacencies formed
    // by the cut itself, which this corpus does not produce
    val again = Dedup.cutSpans(
      Dedup.cutSpans(docs, k = 5).select(col("doc_id"), col("text_cut").as("text")), k = 5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_cut")).toMap
    assert(again.values.forall(_ == 0L))
  }

  test("dupSpans is partition-invariant and k is validated") {
    val sps = spark; import sps.implicits._
    val docs = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "x x c d e f g h y z")).toDF("doc_id", "text")
    val a = Dedup.dupSpans(docs.repartition(7), k = 5).collect().toSet
    val b = Dedup.dupSpans(docs.coalesce(1), k = 5).collect().toSet
    assert(a.map(_.toString) == b.map(_.toString))
    val ex = intercept[IllegalArgumentException](Dedup.dupSpans(docs, k = 1))
    assert(ex.getMessage.contains("gram width"))
  }
}
