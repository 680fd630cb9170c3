package graft.cj

import java.nio.charset.StandardCharsets
import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}

/** One JSON document as a flat tape, filled in one pass of Jackson's
  * streaming parser: the converter addresses values by their tape position
  * (an `Int`, [[CjJson.Absent]] for no value) instead of holding a tree of
  * node objects.
  *
  * Each value takes one slot: a kind byte and a `Long` payload. An object
  * member is a [[CjJson.Key]] slot followed by its value's slots. Payloads:
  *  - `IntNum`, `LongNum`: the number; `BigNum` (an integer beyond `long`)
  *    and `DoubleNum`: the double's bits;
  *  - `Str` and `Key`: an index into the string pool (a key also carries the
  *    position of its value in the high half, see duplicates below);
  *  - `Arr` and `Obj`: the position after the container's last slot in the
  *    low half and its element (member) count in the high half.
  *
  * The tape reads as `ObjectMapper.readTree` would: Jackson's tokenizer and
  * number typing decide everything (an integer that fits an `int` is
  * `IntNum`, one that fits a `long` is `LongNum`, a longer one `BigNum`;
  * every fraction or exponent is a `DoubleNum`), text after the root value
  * is ignored, and an input with no value at all is one [[CjJson.Missing]]
  * slot. A key that occurs twice in one object keeps the position of its
  * first occurrence and the value of its last; the later occurrences are
  * [[CjJson.Hidden]].
  *
  * Bytes are decoded as UTF-8, with U+FFFD for malformed input, and parsed
  * from the decoded text, so a document reads the same from its bytes as
  * from its text.
  */
private[cj] final class CjJson private (kinds: Array[Byte], vals: Array[Long], strs: Array[String]) {
  import CjJson._

  def kind(p: Int): Int = if (p < 0) Absent else kinds(p)

  def isNull(p: Int): Boolean = kind(p) == Null
  def isString(p: Int): Boolean = kind(p) == Str
  def isBool(p: Int): Boolean = { val k = kind(p); k == True || k == False }
  /** An integer that fits an `int` (`isIntegralNumber && canConvertToInt`). */
  def isInt(p: Int): Boolean = kind(p) == IntNum
  def isNumber(p: Int): Boolean = { val k = kind(p); k >= IntNum && k <= DoubleNum }
  def isArray(p: Int): Boolean = kind(p) == Arr
  def isObject(p: Int): Boolean = kind(p) == Obj

  def str(p: Int): String = strs(vals(p).toInt)
  def int(p: Int): Int = vals(p).toInt
  def bool(p: Int): Boolean = kinds(p) == True
  def double(p: Int): Double = {
    val k = kinds(p)
    if (k == IntNum || k == LongNum) vals(p).toDouble else java.lang.Double.longBitsToDouble(vals(p))
  }

  /** The element count of array `p`. */
  def size(p: Int): Int = (vals(p) >>> 32).toInt

  /** The position after value `p`: its next sibling, if it has one. */
  def after(p: Int): Int = { val k = kinds(p); if (k == Arr || k == Obj) vals(p).toInt else p + 1 }

  /** Element `i` of array `p`, `0 <= i < size(p)`. An array of scalars is
    * read in place; any other through its element positions, listed on its
    * first such read. */
  def elem(p: Int, i: Int): Int =
    if (vals(p).toInt - p - 1 == size(p)) p + 1 + i else offsets(p)(i)

  // element positions of the arrays read by index, by array position
  private var offsetsOf: Array[Array[Int]] = null

  private def offsets(p: Int): Array[Int] = {
    if (offsetsOf == null) offsetsOf = new Array[Array[Int]](kinds.length)
    var o = offsetsOf(p)
    if (o == null) {
      o = new Array[Int](size(p))
      var e = p + 1
      var i = 0
      while (i < o.length) { o(i) = e; e = after(e); i += 1 }
      offsetsOf(p) = o
    }
    o
  }

  /** The value of member `name` of object `p`, or [[CjJson.Absent]]. */
  def member(p: Int, name: String): Int = {
    val end = vals(p).toInt
    var k = p + 1
    while (k < end) {
      if (kinds(k) == Key && strs(vals(k).toInt) == name) return (vals(k) >>> 32).toInt
      k = after(k + 1)
    }
    Absent
  }

  /** The members of object `p` in document order; see [[Members]]. */
  def members(p: Int): Members = new Members(p + 1, vals(p).toInt)

  /** The elements of array `p` in order; see [[Elems]]. */
  def elems(p: Int): Elems = new Elems(p + 1, vals(p).toInt)

  /** A cursor over an object's members: `while (ms.next()) use(ms.name, ms.value)`. */
  final class Members private[CjJson] (private var k: Int, end: Int) {
    var name: String = _
    var value: Int = Absent
    def next(): Boolean = {
      while (k < end && kinds(k) == Hidden) k = after(k + 1)
      if (k >= end) false
      else {
        name = strs(vals(k).toInt)
        value = (vals(k) >>> 32).toInt
        k = after(k + 1)
        true
      }
    }
  }

  /** A cursor over an array's elements: `while (es.hasNext) use(es.next())`. */
  final class Elems private[CjJson] (private var e: Int, end: Int) {
    def hasNext: Boolean = e < end
    def next(): Int = { val p = e; e = after(e); p }
  }
}

private[cj] object CjJson {
  // slot kinds; IntNum through DoubleNum are the numbers, in this order
  final val Absent = -1
  final val Missing = 0
  final val Null = 1
  final val True = 2
  final val False = 3
  final val IntNum = 4
  final val LongNum = 5
  final val BigNum = 6
  final val DoubleNum = 7
  final val Str = 8
  final val Arr = 9
  final val Obj = 10
  final val Key = 11
  final val Hidden = 12

  private val factory = new JsonFactory()

  /** The document in `bytes`, decoded as UTF-8, or null when it is not JSON. */
  def parse(bytes: Array[Byte]): CjJson = parse(new String(bytes, StandardCharsets.UTF_8))

  /** The document in `text`, or null when it is not JSON. */
  def parse(text: String): CjJson =
    try fill(factory.createParser(text))
    catch { case _: Exception => null }

  /** Reads the first value of `p` into a new tape; throws on invalid JSON. */
  private def fill(p: JsonParser): CjJson =
    try new Builder(p).run()
    finally p.close()

  private final class Builder(p: JsonParser) {
    private var kinds = new Array[Byte](1024)
    private var vals = new Array[Long](1024)
    private var n = 0
    private var strs = new Array[String](256)
    private var nStr = 0
    // open containers: position and element count
    private var open = new Array[Int](32)
    private var counts = new Array[Int](32)
    private var depth = 0

    private def add(kind: Int, payload: Long): Unit = {
      if (n == kinds.length) {
        kinds = java.util.Arrays.copyOf(kinds, n * 2)
        vals = java.util.Arrays.copyOf(vals, n * 2)
      }
      kinds(n) = kind.toByte
      vals(n) = payload
      n += 1
    }

    private def pool(s: String): Long = {
      if (nStr == strs.length) strs = java.util.Arrays.copyOf(strs, nStr * 2)
      strs(nStr) = s
      nStr += 1
      nStr - 1
    }

    /** Adds a value slot; an array element counts toward its array. */
    private def value(kind: Int, payload: Long): Unit = {
      if (depth > 0 && kinds(open(depth - 1)) == Arr) counts(depth - 1) += 1
      add(kind, payload)
    }

    private def push(kind: Int): Unit = {
      value(kind, 0L)
      if (depth == open.length) {
        open = java.util.Arrays.copyOf(open, depth * 2)
        counts = java.util.Arrays.copyOf(counts, depth * 2)
      }
      open(depth) = n - 1
      counts(depth) = 0
      depth += 1
    }

    private def pop(): Unit = {
      depth -= 1
      val at = open(depth)
      vals(at) = n.toLong | (counts(depth).toLong << 32)
      if (kinds(at) == Obj && counts(depth) > 1) hideDuplicates(at)
    }

    def run(): CjJson = {
      var t = p.nextToken()
      if (t == null) add(Missing, 0L)
      while (t != null) {
        if (t == JsonToken.VALUE_NUMBER_INT) p.getNumberType match {
          case JsonParser.NumberType.INT => value(IntNum, p.getIntValue.toLong)
          case JsonParser.NumberType.LONG => value(LongNum, p.getLongValue)
          case _ => value(BigNum, java.lang.Double.doubleToRawLongBits(p.getBigIntegerValue.doubleValue))
        }
        else if (t == JsonToken.START_ARRAY) push(Arr)
        else if (t == JsonToken.END_ARRAY || t == JsonToken.END_OBJECT) pop()
        else if (t == JsonToken.FIELD_NAME) {
          counts(depth - 1) += 1
          add(Key, pool(p.currentName) | ((n + 1).toLong << 32))
        }
        else if (t == JsonToken.VALUE_STRING) value(Str, pool(p.getText))
        else if (t == JsonToken.START_OBJECT) push(Obj)
        else if (t == JsonToken.VALUE_NUMBER_FLOAT) value(DoubleNum, java.lang.Double.doubleToRawLongBits(p.getDoubleValue))
        else if (t == JsonToken.VALUE_NULL) value(Null, 0L)
        else if (t == JsonToken.VALUE_TRUE) value(True, 0L)
        else if (t == JsonToken.VALUE_FALSE) value(False, 0L)
        else throw new IllegalStateException(s"unexpected JSON token $t")
        // stop after the root value, as readTree does
        t = if (depth == 0) null else p.nextToken()
      }
      new CjJson(kinds, vals, strs)
    }

    // open-addressing set of one object's keys; an object uses (and clears)
    // only the first power of two at least twice its member count
    private var table = new Array[Int](16)

    private def slotAfter(k: Int): Int = {
      val kk = kinds(k + 1)
      if (kk == Arr || kk == Obj) vals(k + 1).toInt else k + 2
    }

    /** Marks each later occurrence of a key [[Hidden]] and points its first
      * occurrence at the later value. */
    private def hideDuplicates(obj: Int): Unit = {
      val members = counts(depth)
      var cap = 4
      while (cap < members * 2) cap *= 2
      if (cap > table.length) table = new Array[Int](cap) else java.util.Arrays.fill(table, 0, cap, 0)
      val mask = cap - 1
      val end = vals(obj).toInt
      var k = obj + 1
      while (k < end) {
        val name = strs(vals(k).toInt)
        var h = name.hashCode & mask
        var found = -1
        while (found < 0 && table(h) != 0) {
          val first = table(h) - 1
          if (strs(vals(first).toInt) == name) found = first else h = (h + 1) & mask
        }
        if (found < 0) table(h) = k + 1
        else {
          kinds(k) = Hidden
          vals(found) = (vals(found) & 0xFFFFFFFFL) | ((k + 1).toLong << 32)
        }
        k = slotAfter(k)
      }
    }
  }
}
