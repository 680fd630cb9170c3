package graft.cj

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._
import scala.util.Random
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The tape reads every document as `ObjectMapper.readTree` does: the same
  * kinds, numbers, strings, member order (duplicate keys included) and
  * nesting, and the same inputs rejected, over fixed-seed random documents
  * and random byte damage. */
class CjJsonSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  /** The tree of `text`, or null where `readTree` throws. */
  private def tree(text: String): JsonNode =
    try mapper.readTree(text) catch { case _: Exception => null }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Value `p` of `t` reads as `n` does, recursively. */
  private def same(n: JsonNode, t: CjJson, p: Int, where: String): Unit = {
    assert(t.isNull(p) == n.isNull, where)
    assert(t.isString(p) == n.isTextual, where)
    assert(t.isBool(p) == n.isBoolean, where)
    assert(t.isNumber(p) == n.isNumber, where)
    assert(t.isInt(p) == (n.isIntegralNumber && n.canConvertToInt), where)
    assert(t.isArray(p) == n.isArray, where)
    assert(t.isObject(p) == n.isObject, where)
    if (n.isTextual) assert(t.str(p) == n.asText, where)
    if (n.isBoolean) assert(t.bool(p) == n.booleanValue, where)
    if (n.isNumber) {
      assert(bits(t.double(p)) == bits(n.doubleValue), s"$where: ${t.double(p)} vs ${n.doubleValue}")
      if (t.isInt(p)) assert(t.int(p) == n.intValue, where)
      val integral = Set(CjJson.IntNum, CjJson.LongNum, CjJson.BigNum).contains(t.kind(p))
      assert(integral == n.isIntegralNumber, where)
    }
    if (n.isArray) {
      assert(t.size(p) == n.size, where)
      val es = t.elems(p)
      (0 until n.size).foreach { i =>
        assert(es.hasNext, where)
        val e = es.next()
        assert(t.elem(p, i) == e, s"$where[$i]")
        same(n.get(i), t, e, s"$where[$i]")
      }
      assert(!es.hasNext, where)
    }
    if (n.isObject) {
      val want = n.properties().asScala.toVector
      val ms = t.members(p)
      want.foreach { e =>
        assert(ms.next(), where)
        assert(ms.name == e.getKey, where)
        assert(t.member(p, e.getKey) == ms.value, s"$where/${e.getKey}")
        same(e.getValue, t, ms.value, s"$where/${e.getKey}")
      }
      assert(!ms.next(), where)
      assert(t.member(p, "\u0000absent") == CjJson.Absent, where)
    }
  }

  /** Both routes give `readTree`'s reading of `bytes` decoded as UTF-8. */
  private def agrees(bytes: Array[Byte], where: String): Unit = {
    val text = new String(bytes, StandardCharsets.UTF_8)
    val n = tree(text)
    Seq("bytes" -> CjJson.parse(bytes), "text" -> CjJson.parse(text)).foreach { case (route, t) =>
      if (n == null) assert(t == null, s"$where ($route): readTree fails, the tape does not")
      else {
        assert(t != null, s"$where ($route): the tape fails, readTree does not")
        if (n.isMissingNode) assert(t.kind(0) == CjJson.Missing, s"$where ($route)")
        else same(n, t, 0, s"$where ($route)")
      }
    }
  }

  private val names = Vector("a", "b", "type", "värde", "id", "\"q\"", "")

  private def str(rnd: Random): String = {
    val pieces = Vector("x", "Building", "é", "日本", "😀", "\\n", "\\\"", "\\\\", "\\u00e9", "\\uD83D\\uDE00",
      "\\t", "\\/", " ", "ÿ")
    (0 until rnd.nextInt(6)).map(_ => pieces(rnd.nextInt(pieces.size))).mkString("\"", "", "\"")
  }

  private def num(rnd: Random): String = rnd.nextInt(12) match {
    case 0 => rnd.nextInt(1000).toString
    case 1 => (Int.MaxValue.toLong + rnd.nextInt(3) - 1).toString
    case 2 => (Int.MinValue.toLong + rnd.nextInt(3) - 1).toString
    case 3 => rnd.nextLong().toString
    case 4 => (BigInt(Long.MaxValue) + 1 + rnd.nextInt(1000)).toString
    case 5 => "-" + (BigInt(Long.MaxValue) + 2 + BigInt(rnd.nextLong()).abs).toString
    case 6 => java.lang.Double.toString(rnd.nextDouble() * 1e6 - 5e5)
    case 7 => s"${rnd.nextInt(10)}e${rnd.nextInt(700) - 350}"
    case 8 => "-0.0"
    case 9 => "1e400"
    case 10 => "12345678901234567890"
    case _ => s"${rnd.nextInt(100)}.${rnd.nextInt(100000)}E+${rnd.nextInt(5)}"
  }

  private def value(rnd: Random, depth: Int): String =
    if (depth <= 0) scalar(rnd)
    else rnd.nextInt(6) match {
      case 0 | 1 => scalar(rnd)
      case 2 | 3 => (0 until rnd.nextInt(6)).map(_ => value(rnd, depth - 1)).mkString("[", ",", "]")
      case _ =>
        (0 until rnd.nextInt(6)).map { _ =>
          s"\"${names(rnd.nextInt(names.size)).replace("\"", "\\\"")}\":${value(rnd, depth - 1)}"
        }.mkString("{", " , ", "}")
    }

  private def scalar(rnd: Random): String = rnd.nextInt(5) match {
    case 0 => Seq("null", "true", "false")(rnd.nextInt(3))
    case 1 | 2 => num(rnd)
    case _ => str(rnd)
  }

  test("tape accessors agree with readTree on 2,000 random documents") {
    val rnd = new Random(20261020)
    (1 to 2000).foreach { i =>
      val doc = value(rnd, 1 + rnd.nextInt(5))
      agrees(doc.getBytes(StandardCharsets.UTF_8), s"doc $i: $doc")
    }
  }

  test("duplicate keys keep the first position and the last value, in every object") {
    agrees("""{"n":"X","m":1,"n":"Y","k":[{"a":1,"a":2,"b":3,"a":{"c":4}}],"n":null}""".getBytes("UTF-8"), "dups")
    val wide = (0 until 40).map(i => s""""k${i % 13}":$i""").mkString("{", ",", "}")
    agrees(wide.getBytes("UTF-8"), "wide object with duplicates")
    // small objects after a large one reuse the start of its key table
    val large = (0 until 3000).map(i => s""""o$i":$i""").mkString("{", ",", "}")
    val small = (0 until 400).map(i => s"""{"k$i":1,"x":2,"k$i":3,"o${i % 50}":4}""").mkString("[", ",", "]")
    agrees(s"""{"objs":$large,"after":$small}""".getBytes("UTF-8"), "large object, then small ones")
  }

  test("long arrays of containers index every element; deep nesting reads through") {
    val verts = (0 until 500).map(i => if (i % 7 == 0) s"[$i]" else s"[$i,${i * 2},${-i}]").mkString("[", ",", "]")
    agrees(verts.getBytes("UTF-8"), "ragged vertex list")
    val deep = "[" * 400 + "{\"a\":[1,2,{\"b\":null}]}" + "]" * 400
    agrees(deep.getBytes("UTF-8"), "deep")
    val deepObj = "{\"x\":" * 300 + "7" + "}" * 300
    agrees(deepObj.getBytes("UTF-8"), "deep objects")
  }

  test("empty, blank, scalar roots, trailing text and cut-off documents read as readTree reads them") {
    Seq("", "   ", "null", "1", "[]", "{}", "{", "[1,2", "{\"a\":1} x", "[] ]", "1 2", "1x", "\"s\"",
      "{\"a\":}", "{'a':1}", "[1,]", "tru", "NaN", "01", "-", "{\"a\":1}}").foreach { s =>
      agrees(s.getBytes("UTF-8"), s"'$s'")
    }
  }

  test("damaged bytes read as their UTF-8 decoding does") {
    val rnd = new Random(5)
    val odd = Vector(Array(0xC0, 0x80), Array(0xED, 0xA0, 0x80), Array(0x80), Array(0xF0, 0x9F, 0x98),
      Array(0xF4, 0x90, 0x80, 0x80), Array(0xF5), Array(0xC3), Array(0xE0, 0x9F, 0xBF), Array(0xEF, 0xBB, 0xBF),
      Array(0xF0, 0x9F, 0x98, 0x80), Array(0xC3, 0xA9), Array(0xE6, 0x97, 0xA5), Array(0x00), Array(0xFE, 0xFF))
      .map(_.map(_.toByte))
    (1 to 3000).foreach { i =>
      val base = value(rnd, 3).getBytes(StandardCharsets.UTF_8)
      val at = rnd.nextInt(base.length + 1)
      val damage = odd(rnd.nextInt(odd.size))
      agrees(base.take(at) ++ damage ++ base.drop(at), s"damaged doc $i")
    }
  }

  test("a leading BOM, UTF-16 and UTF-32 input read as their UTF-8 decoding does") {
    val doc = """{"type":"CityJSON","a":[1,2.5,"é"]}"""
    agrees(Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ doc.getBytes("UTF-8"), "utf-8 bom")
    Seq("UTF-16LE", "UTF-16BE", "UTF-16", "UTF-32LE", "UTF-32BE").foreach { cs =>
      agrees(doc.getBytes(cs), cs)
    }
  }
}
