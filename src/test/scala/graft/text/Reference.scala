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
}
