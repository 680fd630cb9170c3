package graft.cj

import java.nio.charset.StandardCharsets
import graft.model.Triple

/** Where the converter's triples go. Every triple of a document passes
  * through one of these two calls, in emission order; what the sink keeps of
  * it (objects, counts, bytes, nothing) is its own business. A document that
  * fails (the NULL-model outcome, [[CjConvert.Outcome.docFailed]]) may
  * already have emitted triples, so a sink that hands rows on holds them
  * until the caller has seen the outcome. */
private[cj] abstract class CjSink {
  def triple(s: String, p: String, oIri: String, oLit: String, oType: String): Unit

  /** A literal triple whose lexical form is the ASCII text in `lit` (the
    * mesh and number-array literals, which are most of the output bytes).
    * `lit` is reused once this returns. */
  def asciiLiteral(s: String, p: String, lit: AsciiBuf, oType: String): Unit
}

private[cj] object CjSink {

  /** Keeps every triple as a [[Triple]], for [[CjConvert.convert]]. */
  final class Collect extends CjSink {
    val triples = Vector.newBuilder[Triple]
    def triple(s: String, p: String, oIri: String, oLit: String, oType: String): Unit =
      triples += Triple(s, p, oIri, oLit, oType)
    def asciiLiteral(s: String, p: String, lit: AsciiBuf, oType: String): Unit =
      triples += Triple(s, p, null, lit.toString, oType)
  }

  /** Counts the triples and keeps nothing else. */
  final class Count extends CjSink {
    var n = 0L
    def triple(s: String, p: String, oIri: String, oLit: String, oType: String): Unit = n += 1
    def asciiLiteral(s: String, p: String, lit: AsciiBuf, oType: String): Unit = n += 1
  }

  /** Keeps nothing: for callers that want only the logs. */
  object Discard extends CjSink {
    def triple(s: String, p: String, oIri: String, oLit: String, oType: String): Unit = ()
    def asciiLiteral(s: String, p: String, lit: AsciiBuf, oType: String): Unit = ()
  }
}

/** A growable ASCII byte buffer. Numbers are appended in exactly the text
  * of `Integer.toString` / `java.lang.Double.toString`, which is also what
  * `StringBuilder.append` writes for them. */
private[cj] final class AsciiBuf(initial: Int = 256) {
  var bytes: Array[Byte] = new Array[Byte](initial)
  var length: Int = 0

  def clear(): Unit = length = 0

  private def ensure(more: Int): Unit =
    if (length + more > bytes.length)
      bytes = java.util.Arrays.copyOf(bytes, math.max(bytes.length * 2, length + more))

  def append(c: Char): Unit = { ensure(1); bytes(length) = c.toByte; length += 1 }

  def append(src: Array[Byte], off: Int, len: Int): Unit = {
    ensure(len)
    System.arraycopy(src, off, bytes, length, len)
    length += len
  }

  /** `s` must be ASCII. */
  def appendAscii(s: String): Unit = {
    val n = s.length
    ensure(n)
    var i = 0
    while (i < n) { bytes(length + i) = s.charAt(i).toByte; i += 1 }
    length += n
  }

  def appendDouble(d: Double): Unit = appendAscii(java.lang.Double.toString(d))

  def appendInt(v: Int): Unit = appendAscii(Integer.toString(v))

  /** `[v0,v1,…]` */
  def appendDoubles(values: Iterable[Double]): Unit = {
    append('[')
    var first = true
    values.foreach { v => if (!first) append(','); appendDouble(v); first = false }
    append(']')
  }

  override def toString: String = new String(bytes, 0, length, StandardCharsets.ISO_8859_1)
}
