package graft.cj

import java.nio.charset.StandardCharsets.{UTF_16LE, UTF_8}
import java.nio.file.Files
import graft.SparkTestBase
import graft.model.Triple

/** How the converter reads odd document bytes: empty and blank input, JSON
  * that is not an object, trailing text, byte-order marks, invalid UTF-8,
  * other encodings, raw NUL bytes, duplicate keys and numbers outside the
  * `long` and `double` ranges. Each case is pinned twice: through
  * `CjConvert.convert` over the bytes decoded as UTF-8, and through the
  * `cityjson` source over the raw bytes written to a file; both routes must
  * give the same triples and logs, and those must be the ones recorded
  * here. */
class CjParseParitySpec extends SparkTestBase {

  private def doc(attrs: String): String =
    s"""{"type":"CityJSON","version":"1.1","vertices":[],"CityObjects":{"a":{"type":"Building","attributes":{$attrs}}}}"""

  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  private val bom = Array(0xEF, 0xBB, 0xBF).map(_.toByte)

  /** case name -> raw document bytes */
  private val cases: Seq[(String, Array[Byte])] = Seq(
    "empty" -> utf8(""),
    "blank" -> utf8("   "),
    "null" -> utf8("null"),
    "open_brace" -> utf8("{"),
    "array" -> utf8("[]"),
    "number" -> utf8("1"),
    "trailing" -> utf8(doc(""""s":"t"""") + " x"),
    "bom" -> (bom ++ utf8(doc(""""s":"t""""))),
    "dup_key" -> utf8(doc(""""n":"X","m":1,"n":"Y"""")),
    "lone_c3" -> (utf8(doc(""""s":"a""").dropRight(4)) ++ Array(0xC3.toByte) ++ utf8("b\"}}}}")),
    "utf16le" -> doc(""""s":"t"""").getBytes(UTF_16LE),
    "nul_in_string" -> (utf8(doc(""""s":"a""").dropRight(4)) ++ Array(0.toByte) ++ utf8("b\"}}}}")),
    "big_int" -> utf8(doc(""""b":12345678901234567890""")),
    "huge_double" -> utf8(doc(""""h":1e400""")))

  private lazy val dir = {
    val d = Files.createTempDirectory("cj_parity")
    cases.foreach { case (name, bytes) => Files.write(d.resolve(s"$name.json"), bytes) }
    d
  }

  private def docIri(name: String): String = s"cj:$name"

  private def viaConvert(name: String): CjConvert.Result =
    CjConvert.convert(docIri(name), new String(cases.toMap.apply(name), UTF_8))

  private lazy val sourceTriples: Map[String, Seq[String]] =
    spark.read.format("cityjson").load(dir.toString).collect().toSeq
      .groupBy(_.getString(0)).map { case (d, rows) =>
        d -> rows.map(r => (1 until r.length).map(i => Option(r.getString(i))).mkString("|")).sorted
      }

  private lazy val sourceLogs: Map[String, Seq[(String, String, String, String)]] =
    spark.read.format("cityjson").option("output", "logs").load(dir.toString).collect().toSeq
      .groupBy(_.getString(0)).map { case (d, rows) =>
        d -> rows.map(r => (r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
      }

  private def key(t: Triple): String =
    Seq(t.subj, t.pred, t.obj_iri, t.obj_lit, t.obj_type).map(Option(_)).mkString("|")

  /** Both routes agree on `name`; returns the convert route's result. */
  private def both(name: String): CjConvert.Result = {
    val r = viaConvert(name)
    assert(sourceTriples.getOrElse(docIri(name), Seq.empty) == r.triples.map(key).sorted, name)
    // logs are per document in emission order on both routes
    assert(sourceLogs.getOrElse(docIri(name), Seq.empty).sorted ==
      r.logs.map(l => (l.level, l.category, l.msg, l.path)).sorted, name)
    r
  }

  private def categories(r: CjConvert.Result): Seq[String] = r.logs.map(l => s"${l.level}:${l.msg}")

  private def notObject(r: CjConvert.Result): Unit = {
    assert(r.docFailed && r.triples.isEmpty)
    assert(categories(r) == Seq("Error:error in JSON data: 'IsObject()'", "Error:Failed to read model"))
  }

  private def invalid(name: String, r: CjConvert.Result): Unit = {
    assert(r.docFailed && r.triples.isEmpty, name)
    assert(categories(r) == Seq(s"Error:Invalid or empty JSON file '${docIri(name)}'"), name)
  }

  /** The literal of the one `city.prop.attr.<attr>` triple of `r`. */
  private def attr(r: CjConvert.Result, attr: String): String = {
    val ts = r.triples.filter(_.pred == s"city.prop.attr.$attr")
    assert(ts.size == 1, ts)
    ts.head.obj_lit
  }

  test("empty and blank input fail the IsObject() check, then the model") {
    notObject(both("empty"))
    notObject(both("blank"))
  }

  test("null and a cut-off object are invalid JSON files") {
    invalid("null", both("null"))
    invalid("open_brace", both("open_brace"))
  }

  test("a root that is not an object fails the IsObject() check, then the model") {
    notObject(both("array"))
    notObject(both("number"))
  }

  test("text after the root object is ignored") {
    val r = both("trailing")
    assert(!r.docFailed && attr(r, "s") == "t")
  }

  test("a leading UTF-8 byte-order mark makes the file invalid") {
    invalid("bom", both("bom"))
  }

  test("a duplicate key keeps its first position and its last value") {
    val r = both("dup_key")
    assert(!r.docFailed && attr(r, "n") == "Y" && attr(r, "m") == "1.0")
    val preds = r.triples.map(_.pred)
    assert(preds.indexOf("city.prop.attr.n") < preds.indexOf("city.prop.attr.m"))
  }

  test("an invalid UTF-8 byte converts as U+FFFD") {
    val r = both("lone_c3")
    assert(!r.docFailed && attr(r, "s") == "a\uFFFDb")
  }

  test("UTF-16 input and a raw NUL byte in a string are invalid JSON files") {
    invalid("utf16le", both("utf16le"))
    invalid("nul_in_string", both("nul_in_string"))
  }

  test("integers beyond long and doubles beyond the double range keep their double values") {
    val big = both("big_int")
    assert(!big.docFailed && attr(big, "b") == "1.2345678901234567E19")
    val huge = both("huge_double")
    assert(!huge.docFailed && attr(huge, "h") == "Infinity")
  }
}
