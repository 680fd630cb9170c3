package graft.pipeline

import graft.SparkTestBase
import graft.link.Linker
import graft.mention.MentionDetect
import graft.model.{Link, Mention, Triple, Vocab => V}
import graft.pipeline.KgPipeline.ExtractedPage
import graft.synth.PagesSynth

/** `pageTriples` and `links` write their rows straight from
  * `MentionDetect.scan` hits. This pins them to the composition they
  * replace: per page, the four page triples, then one edge per
  * `detect(...).flatMap(Linker.resolve)` link, in order; and `links` equal
  * to that composition's links. */
class ScanRouteSpec extends SparkTestBase {

  private def pageRows(p: ExtractedPage): Seq[Triple] = Seq(
    Triple(p.url, V.RdfType, V.WebPage, null, null),
    Triple(p.url, V.WebLang, null, p.lang, V.XsdString),
    Triple(p.url, V.WebWarcTs, null, p.warc_ms.toString, V.XsdLong),
    Triple(p.url, V.WebNChars, null, p.text.length.toString, V.XsdLong))

  private def composed(p: ExtractedPage, dict: MentionDetect.Dictionary,
      am: Map[String, Vector[(String, Double)]]): Vector[Link] =
    MentionDetect.detect(p.url, p.text, dict).flatMap(Linker.resolve(_, am))

  private def edge(l: Link) = Triple(l.url, V.WebMentions, l.entity_iri, s"${l.span_start}:${l.span_end}", null)

  /** `pageTriples` rows, cut page by page (in input order) at each page's
    * expected row count, then `links` as one sequence */
  private def checkRoutes(ext: Seq[ExtractedPage], am: Map[String, Vector[(String, Double)]]): Unit = {
    val sps = spark; import sps.implicits._
    val ds = spark.createDataset(ext)
    val dict = MentionDetect.buildDictionary(am.keys)
    val rows = KgPipeline.pageTriples(ds, am).collect().toVector
    var at = 0
    ext.zipWithIndex.foreach { case (p, i) =>
      val want = pageRows(p) ++ composed(p, dict, am).map(edge)
      assert(rows.slice(at, at + want.size) == want, s"page $i (${p.url}) diverged")
      at += want.size
    }
    assert(at == rows.size, s"${rows.size - at} rows past the last page")
    assert(KgPipeline.links(ds, am).collect().toVector == ext.flatMap(composed(_, dict, am)))
  }

  test("pageTriples and links equal the detect/resolve composition over 2,000 synthesized pages") {
    val ext = KgPipeline.extracted(PagesSynth.pages(spark, 2000L)).collect().toVector
    assert(ext.size == 2000)
    checkRoutes(ext, PagesSynth.aliasMap)
  }

  private val am: Map[String, Vector[(String, Double)]] = Map(
    "quantum falcon" -> Vector(("ent:qf", 0.8)),
    "quantum" -> Vector(("ent:q", 0.9), ("ent:q2", 0.5)),
    "falcon" -> Vector(("ent:f", 0.7)),
    "falcon silver" -> Vector(("ent:fs", 0.6)),
    "silver harbor" -> Vector(("ent:sh", 0.5)),
    "harbor" -> Vector(("ent:h", 0.4)),
    "istanbul" -> Vector(("ent:ist", 0.3)),
    "i\u0307stanbul" -> Vector(("ent:ist_dot", 0.2)),
    "\u03c3\u03bf\u03c6\u03b9\u03b1\u03c2" -> Vector(("ent:sofia", 0.1)))

  /** (text, expected hits as (start, end, alias)) */
  private val handWritten: Seq[(String, Seq[(Int, Int, String)])] = Seq(
    "" -> Nil,
    "no aliases here" -> Nil,
    // offset 0 and the end of the text
    "quantum falcon" -> Seq((0, 14, "quantum falcon")),
    "QUANTUM" -> Seq((0, 7, "quantum")),
    // adjacent aliases
    "falcon falcon" -> Seq((0, 6, "falcon"), (7, 13, "falcon")),
    "quantumfalcon falcon quantum" -> Seq((14, 20, "falcon"), (21, 28, "quantum")),
    // overlapping aliases: the leftmost longest match wins, the overlap is skipped
    "quantum falcon silver harbor" -> Seq((0, 14, "quantum falcon"), (15, 28, "silver harbor")),
    "the silver harbor" -> Seq((4, 17, "silver harbor")),
    "falcon silver harbor" -> Seq((0, 13, "falcon silver"), (14, 20, "harbor")),
    // İ and Σ fold through String.toLowerCase(ROOT): İ keeps its dot, a final Σ reads ς
    "İstanbul, ISTANBUL; ΣΟΦΙΑΣ." ->
      Seq((0, 8, "i\u0307stanbul"), (10, 18, "istanbul"), (20, 26, "\u03c3\u03bf\u03c6\u03b9\u03b1\u03c2")))

  test("scan, detect, pageTriples and links agree with hand-written spans") {
    val dict = MentionDetect.buildDictionary(am.keys)
    val ext = handWritten.zipWithIndex.map { case ((text, _), i) =>
      ExtractedPage(s"u$i", text, "en", 1000L + i, extract_ok = true)
    }
    handWritten.foreach { case (text, want) =>
      val got = Vector.newBuilder[(Int, Int, String)]
      MentionDetect.scan(text, dict, (s, e, entry) => got += ((s, e, entry.norm)))
      assert(got.result() == want, s"scan of <$text>")
      assert(MentionDetect.detect("u", text, dict) ==
        want.map { case (s, e, a) => Mention("u", s, e, text.substring(s, e), a) }, s"detect of <$text>")
    }
    // top-1 candidate is the map's head: `quantum` links to ent:q at 0.9
    val sps = spark; import sps.implicits._
    val q = KgPipeline.links(spark.createDataset(ext), am).collect().filter(_.url == "u3")
    assert(q.map(l => (l.entity_iri, l.score)).toSeq == Seq(("ent:q", 0.9)))
    checkRoutes(ext, am)
  }
}
