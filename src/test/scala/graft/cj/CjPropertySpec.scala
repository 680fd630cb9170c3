package graft.cj

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Property-style invariants over random ragged boundaries/semantics
  * (SURVEY.md §5): mesh index bounds, terminator placement, group counts,
  * and full determinism of the emitter. Uses a fixed-seed generator (no
  * external property-testing artifacts are resolvable offline).
  */
class CjPropertySpec extends AnyFunSuite {

  private val vertexCount = 12

  private def docJson(faces: List[List[List[Int]]], values: List[Int]): String = {
    val verts = (0 until vertexCount).map(i => s"[$i,${i * 2},${i * 3}]").mkString("[", ",", "]")
    val bounds = faces.map(_.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")).mkString("[", ",", "]")
    val sem =
      if (values.isEmpty) ""
      else s""","semantics":{"surfaces":[{"type":"WallSurface"},{"type":"RoofSurface"},{"type":"Door"}],"values":${values.mkString("[", ",", "]")}}"""
    s"""{"type":"CityJSON","version":"1.1","vertices":$verts,
        "CityObjects":{"a":{"type":"Building","geometry":[
          {"type":"MultiSurface","boundaries":$bounds$sem}]}}}"""
  }

  private def randomCase(rnd: Random): (List[List[List[Int]]], List[Int]) = {
    val faces = List.fill(1 + rnd.nextInt(6)) {
      List.fill(1 + rnd.nextInt(3)) {
        List.fill(1 + rnd.nextInt(8))(rnd.nextInt(vertexCount))
      }
    }
    val values = List.fill(rnd.nextInt(7))(rnd.nextInt(3))
    (faces, values)
  }

  test("double-array literal text is Double.toString text, element by element") {
    val rnd = new Random(11)
    val buf = new AsciiBuf(4)
    val doubles = Seq(0.0, -0.0, 1.0, 1e7, 1e-3, 85012.345, Double.MinPositiveValue, Double.MaxValue) ++
      Seq.fill(500)(rnd.nextDouble() * 1e6 - 5e5) ++ Seq.fill(500)(java.lang.Double.longBitsToDouble(rnd.nextLong()))
    buf.appendDoubles(doubles)
    val sb = new java.lang.StringBuilder("[")
    doubles.zipWithIndex.foreach { case (d, i) => if (i > 0) sb.append(','); sb.append(d) }
    assert(buf.toString == sb.append(']').toString)
  }

  test("mesh invariants hold for 200 random ragged boundary documents") {
    val rnd = new Random(42)
    (1 to 200).foreach { _ =>
      val (faces, values) = randomCase(rnd)
      val r = CjConvert.convert("t:prop", docJson(faces, values))
      assert(!r.docFailed)
      val meshes = r.triples.filter(_.pred == "geom:indices").map(_.obj_lit)
      val coords = r.triples.filter(_.pred == "geom:vertices").map(_.obj_lit)
      assert(meshes.size == coords.size)
      meshes.zip(coords).foreach { case (idxLit, coordLit) =>
        val idx = idxLit.stripPrefix("[").stripSuffix("]").split(',').filter(_.nonEmpty).map(_.toLong)
        val nCoords = coordLit.stripPrefix("[").stripSuffix("]").split(',').count(_.nonEmpty) / 3
        // every vertex reference is a valid slot; terminators only -1/-2
        idx.foreach(i => assert((i >= 0 && i < nCoords) || i == -1 || i == -2))
        // the first terminator of each mesh is the outer-loop -1
        assert(idx.find(_ < 0).contains(-1L))
      }
      // group count bounded by face count
      assert(meshes.size <= faces.size)
      // total non-terminator index count == total points across all faces
      val totalPts = faces.map(_.map(_.size).sum).sum
      assert(meshes.map(_.stripPrefix("[").stripSuffix("]").split(',').map(_.toLong).count(_ >= 0)).sum == totalPts)
    }
  }

  test("emitter is a pure function: identical bytes in, identical triples out") {
    val rnd = new Random(7)
    (1 to 50).foreach { _ =>
      val (faces, values) = randomCase(rnd)
      val json = docJson(faces, values)
      assert(CjConvert.convert("t:p", json) == CjConvert.convert("t:p", json))
    }
  }

  test("attribute arrays of random doubles round-trip to exact lexical forms") {
    val rnd = new Random(11)
    (1 to 50).foreach { _ =>
      val ds = List.fill(2 + rnd.nextInt(5))(rnd.nextDouble() * 2e6 - 1e6)
      val json = s"""{"type":"CityJSON","version":"1.1","vertices":[],
        "CityObjects":{"a":{"type":"Building","attributes":{"v":${ds.mkString("[", ",", "]")}}}}}"""
      val r = CjConvert.convert("t:arr", json)
      val got = r.triples.find(_.pred == "city.prop.attr.v").map(_.obj_lit)
      assert(got.contains(ds.map(d => java.lang.Double.toString(d)).mkString("[", ",", "]")))
    }
  }
}
