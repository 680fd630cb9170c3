package perfbench

import java.nio.charset.StandardCharsets
import scala.util.control.NonFatal
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform
import graft.model.Triple
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation}
import org.apache.spark.sql.functions._

/** Order-independent multiset digest of a triple table: row count plus the
  * sums of the low and high 32-bit halves of a per-row xxhash64 over the
  * five triple columns (nulls hashed as a sentinel, so a value moving
  * between `obj_iri` and `obj_lit` changes the digest). Sums of 32-bit
  * halves cannot overflow a long below 2^31 rows, and duplicates count. */
final case class Digest(triples: Long, lo: Long, hi: Long) {
  def +(o: Digest): Digest = Digest(triples + o.triples, lo + o.lo, hi + o.hi)
}

object Digest {
  val columns: Seq[String] = Seq("subj", "pred", "obj_iri", "obj_lit", "obj_type")
  private def rowHash: Column = xxhash64(columns.map(c => coalesce(col(c), lit("\u0000"))): _*)
  private def aggs: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(rowHash.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
    coalesce(sum(shiftrightunsigned(rowHash, 32)), lit(0L)).as("hi"))

  def of(df: DataFrame): Digest = {
    val r = df.select(columns.map(col): _*).agg(aggs.head, aggs.tail: _*).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The same digest computed without Spark, for expected outputs: Spark's
    * `xxhash64` folds each column's UTF-8 bytes into XXH64 with seed 42. */
  def ofTriples(it: Iterator[Triple]): Digest = {
    var n = 0L; var lo = 0L; var hi = 0L
    def fold(s: String, h: Long): Long = {
      val b = (if (s == null) "\u0000" else s).getBytes(StandardCharsets.UTF_8)
      XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, h)
    }
    it.foreach { t =>
      val h = fold(t.obj_type, fold(t.obj_lit, fold(t.obj_iri, fold(t.pred, fold(t.subj, 42L)))))
      n += 1; lo += h & 0xffffffffL; hi += h >>> 32
    }
    Digest(n, lo, hi)
  }

  /** The same digest, collected in the pass that consumes `ds`. */
  def observed[T](ds: Dataset[T]): (Dataset[T], () => Digest) = {
    val obs = Observation()
    val out = ds.observe(obs, aggs.head, aggs.tail: _*)
    (out, () => {
      val m = obs.get
      Digest(m("n").asInstanceOf[Long], m("lo").asInstanceOf[Long], m("hi").asInstanceOf[Long])
    })
  }

  /** Rows and rows where `flag` holds, counted in the pass that consumes `ds`. */
  def counted[T](ds: Dataset[T], flag: Column): (Dataset[T], () => (Long, Long)) = {
    val obs = Observation()
    val out = ds.observe(obs, count(lit(1)).as("n"), coalesce(sum(when(flag, 1L).otherwise(0L)), lit(0L)).as("k"))
    (out, () => {
      val m = obs.get
      (m("n").asInstanceOf[Long], m("k").asInstanceOf[Long])
    })
  }
}

/** Closed-loop measurement: one op at a time, back to back. */
object Harness {

  /** What an op produced: named digests that must each equal the expected
    * digest, and the bytes it committed to storage (0 if none). */
  final case class Outcome(digests: Seq[(String, Digest)], storedBytes: Long = 0L)

  final case class OpRecord(id: Int, wallS: Double, passed: Boolean, threw: Boolean,
      triples: Long, storedBytes: Long, note: String)

  /** Run one op. An op that throws is recorded as failed and carries no
    * time; an op whose output mismatches is failed and its time is kept
    * out of every timing metric as well. */
  def runOp(id: Int, expected: Digest, op: Int => Outcome): OpRecord = {
    val t0 = System.nanoTime()
    try {
      val out = op(id)
      val wall = (System.nanoTime() - t0) / 1e9
      val bad = out.digests.filter(_._2 != expected)
      val note = bad.map { case (k, d) => s"$k=$d" }.mkString(", ")
      if (bad.nonEmpty) System.err.println(s"[perfbench] op $id output mismatch: $note, expected $expected")
      OpRecord(id, wall, bad.isEmpty, threw = false, expected.triples, out.storedBytes, note)
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] op $id threw: $e")
        OpRecord(id, Double.NaN, passed = false, threw = true, 0L, 0L, e.toString)
    }
  }

  /** Ops until `seconds` have passed since the loop started (at least one). */
  def loop(seconds: Double, expected: Digest, op: Int => Outcome): Vector[OpRecord] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val out = Vector.newBuilder[OpRecord]
    var id = 0
    do { out += runOp(id, expected, op); id += 1 } while (System.nanoTime() < end)
    out.result()
  }

  /** Run a set-up step and report its time on stderr. */
  def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = body
    System.err.println(f"[perfbench] $name: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    a
  }

  def median(xs: Iterable[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.toVector.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  final case class Summary(attempted: Int, passed: Int, opP50S: Double, triplesPerS: Double) {
    def okShare: Double = passed.toDouble / attempted
  }

  def summarize(ops: Seq[OpRecord]): Summary = {
    val good = ops.filter(_.passed)
    val wall = good.map(_.wallS).sum
    val triples = good.map(_.triples).sum
    Summary(ops.size, good.size,
      if (good.isEmpty) Double.NaN else median(good.map(_.wallS)),
      if (good.isEmpty) 0.0 else triples / wall)
  }
}
