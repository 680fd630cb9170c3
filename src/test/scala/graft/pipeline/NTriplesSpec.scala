package graft.pipeline

import graft.SparkTestBase
import graft.model.{Triple, Vocab => V}

/** N-Triples interchange: bijective serialization beyond what the sink
  * round-trip matrix (KG corpus) already locks — CityJSON's dotted/bare
  * names, annotated object triples, and adversarial literals. */
class NTriplesSpec extends SparkTestBase {

  private def rt(t: Triple): Triple = NTriples.parse(NTriples.line(t))

  test("adversarial literals and names round-trip exactly") {
    val cases = Seq(
      Triple("cj:doc", "city.prop.LoD", null, "1.5", V.XsdString),
      Triple("cj:doc", "children", "cj:child one", null, null), // space in name
      Triple("cj:doc", "geom:vertices", null, "[0.0,1.0]", V.XsdDoubleArray),
      Triple("a", "b", null, "quote\" backslash\\ newline\n tab\t cr\r end", null),
      Triple("weird name", "pred:x", null, "", V.XsdString), // empty literal
      Triple("ünïcode", "p", null, "émoji ☃ snowman", null),
      Triple("has?query", "p", "also?query", null, null), // '?' inside names
      Triple("x", "web:mentions", "ent:e7", "12:40", null), // annotated object
      Triple("x", "p", "ent:e7", "ann with \"quotes\" and ?marks", null),
      Triple("https://host-3.example/p/9", V.RdfType, V.WebPage, null, null))
    cases.foreach { t =>
      assert(rt(t) == t, s"round-trip diverged for $t\n  line: ${NTriples.line(t)}")
    }
    // serialized lines are valid N-Triples shape: one statement, dot-terminated
    cases.foreach { t =>
      val l = NTriples.line(t)
      assert(l.endsWith(" .") && l.startsWith("<http"), l)
    }
  }

  test("prefix expansion is bijective over every vocab name") {
    val names = Seq(V.RdfType, V.RdfName, V.RdfsSubClassOf, V.OwlClass,
      V.OwlDatatypeProperty, V.OwlObjectProperty, V.GraftRange, V.GraftRestriction,
      V.XsdString, V.XsdDouble, V.XsdBoolean, V.XsdLong, V.XsdDoubleArray,
      V.WebPage, V.WebUrl, V.WebLang, V.WebWarcTs, V.WebMentions, V.WebNChars,
      "city.prop.LoD", "children", "geom:indices", "cj:tetra", "ent:e399")
    names.foreach { n =>
      val iri = NTriples.expandIri(n)
      assert(iri.contains("://"), s"$n -> $iri not absolute")
      assert(NTriples.compactIri(iri) == n, s"$n -> $iri -> ${NTriples.compactIri(iri)}")
    }
  }

  test("foreign files with malformed lines: per-line error isolation, never a task failure") {
    val sps = spark; import sps.implicits._
    val dir = java.nio.file.Files.createTempDirectory("nt_foreign").toString + "/in"
    val good = Seq(
      Triple("x", "web:mentions", "ent:e7", "12:40", null),
      Triple("https://h.example/p/1", V.RdfType, V.WebPage, null, null),
      Triple("a", "p", null, "lit \"q\"", V.XsdString))
    val garbage = Seq(
      "<http://a> <http://b> <http://never-closed .",      // unterminated IRI
      "<http://a> \"no predicate\" .",                     // missing predicate '<'
      "<http://a> <http://b> \"unterminated literal .",    // runaway quote scan
      "not even close",                                    // no structure at all
      "<http://a> <http://b> \"x\"^^garbage .",            // malformed datatype
      "<http://a> <http://b> .")                           // missing object term
    val lines = good.map(NTriples.line) ++ garbage
    spark.createDataset(lines).repartition(2)
      .write.text(dir) // garbage interleaved across partitions
    val sink = new NTriples.Files(parts = 2)
    // the strict-per-line contract: good triples all surface...
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(canon(sink.read(spark, dir)) ==
      canon(spark.createDataset(good).toDF()))
    // ...and each bad line yields exactly one error row with its message
    val errs = sink.errors(spark, dir).as[String].collect()
    assert(errs.length == garbage.length, errs.mkString("\n"))
    assert(errs.forall(_ != null))
  }

  test("absolute IRIs that cannot serialize losslessly are rejected loudly") {
    // space / '>' / annotation-marker collisions in an ABSOLUTE IRI have no
    // lossless N-Triples form (absolute IRIs pass through unencoded), so
    // line() must refuse rather than emit a corrupt or ambiguous line
    val bad = Seq(
      Triple("https://h.example/a b", "p", null, "x", null),
      Triple("x", "p", "https://h.example/a>b", null, null),
      Triple("x", "p", "https://h.example/q?graft_ann=boom", null, null))
    bad.foreach(t => intercept[IllegalArgumentException] { NTriples.line(t) })
    // and a row claiming both an IRI object and a literal datatype is
    // contradictory — rejected, not silently dropped
    intercept[IllegalArgumentException] {
      NTriples.line(Triple("x", "p", "ent:e1", null, V.XsdString))
    }
    // legitimate absolute IRIs with a query string still round-trip
    val ok = Triple("https://h.example/q?page=2&x=y", "p", null, "v", null)
    assert(NTriples.parse(NTriples.line(ok)) == ok)
  }

  test("the full CityJSON reference corpus round-trips through N-Triples files") {
    val dir = java.nio.file.Files.createTempDirectory("nt_cj").toString + "/g"
    val sps = spark
    import sps.implicits._
    val cj = spark.read.format("cityjson").load(graft.cj.CityJsonSource.corpusDir(spark))
      .select("subj", "pred", "obj_iri", "obj_lit", "obj_type").as[Triple]
    val sink = new NTriples.Files(parts = 4)
    sink.write(cj, dir)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(canon(sink.read(spark, dir)) == canon(cj.toDF()),
      "CityJSON triple multiset diverged through N-Triples")
  }
}
