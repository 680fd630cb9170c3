package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import graft.util.Rng

/** Seeded synthetic CityJSON 1.1 corpus for the `cityjson_city` workload.
  *
  * Needs no external data: every byte is a pure function of (seed, doc
  * index). Object counts per document are log-uniform over [50, 800], drawn
  * stratified (document j takes the j-th quantile slice, jittered, in a
  * seeded order) so corpus size barely moves between seeds while the
  * per-document size skew stays.
  *
  * The object mix follows the two real city fixtures whose converter output
  * is in `golden/` (see `golden/SUMMARY.tsv`); each style is calibrated to
  * one of them on triples and logs per object (checked by [[SelfTest]]):
  *
  *  - [[Style.Block]], after DenHaag_01 (3D BAG-like, 148 triples and 6.5
  *    logs per object): a Building with typed attributes and one to three
  *    BuildingPart children, each a Solid with a flat or gabled roof whose
  *    every face has its own semantic surface (roofs carry slope and
  *    direction). Each part takes its own ground, wall and roof materials
  *    (and a gable one) from the document's palette, and all of the part's
  *    faces of one role share theirs, so the converter's memoized colour
  *    creation is hit: about 2.3 colours per object, against DenHaag_01's
  *    2.4. No face is textured, so every face group logs "Number of texture
  *    indecies mismatches number of indecies".
  *  - [[Style.Textured]], after Rotterdam_3-20-DELFSHAVEN (116 triples and 1
  *    log per object): a Building with a MultiSurface whose walls and roof
  *    faces carry textures from a shared texture list (one face group per
  *    semantic and texture); only the ground face is untextured and logs.
  *
  * Both fixtures are all buildings. Two rare styles cover the converter
  * paths they lack: a Road CompositeSurface whose numeric `lod` logs a
  * property type-mismatch warning, and a SolitaryVegetationObject that
  * instances the document's one geometry template. They make up about 3%
  * of the objects.
  */
object CityGen {
  val Docs = 64
  val MinObjects = 50
  val MaxObjects = 800
  private val Textures = 32
  private val TextureVertices = 64

  sealed trait Style
  object Style {
    case object Block extends Style
    case object Textured extends Style
    case object Road extends Style
    case object Vegetation extends Style
  }

  final case class Doc(name: String, json: String, objects: Int, expectedLogs: Int)

  /** Object count of every document: stratified log-uniform draws. */
  def objectCounts(seed: Long, docs: Int = Docs): Vector[Int] = {
    val rng = Rng.at(seed, -1L)
    val slots = (0 until docs).toArray
    var i = docs - 1
    while (i > 0) { // seeded Fisher-Yates: which document gets which slice
      val j = rng.nextInt(i + 1)
      val t = slots(i); slots(i) = slots(j); slots(j) = t
      i -= 1
    }
    val ratio = MaxObjects.toDouble / MinObjects
    slots.toVector.map { s =>
      val u = (s + rng.nextDouble()) / docs
      math.min(MaxObjects, (MinObjects * math.pow(ratio, u)).toInt)
    }
  }

  /** One document; `only` forces every object into one style. */
  def doc(seed: Long, index: Int, objects: Int, only: Option[Style] = None): Doc =
    new DocWriter(Rng.at(seed, index), index, objects, only).write()

  /** Write the corpus as `<dir>/doc-<i>.city.json`; returns the documents. */
  def writeCorpus(seed: Long, dir: Path, docs: Int = Docs): Vector[Doc] = {
    Files.createDirectories(dir)
    objectCounts(seed, docs).zipWithIndex.map { case (n, i) =>
      val d = doc(seed, i, n)
      Files.write(dir.resolve(d.name), d.json.getBytes(StandardCharsets.UTF_8))
      d
    }
  }

  private final class DocWriter(rng: Rng, index: Int, objects: Int, only: Option[Style]) {
    private val sb = new StringBuilder(1 << 16)
    private val vertices = new StringBuilder(1 << 14)
    private var nVertices = 0
    private var mismatchLogs = 0
    private var lodWarnings = 0
    private var templateUsed = false
    // palette size; materials are handed out part by part
    private var materials = 0
    private def material(): Int = { materials += 1; materials - 1 }

    private def num(d: Double): String = java.lang.Double.toString(d)
    private def coord(scale: Int): Int = rng.nextInt(scale)

    private def vertex(x: Int, y: Int, z: Int): Int = {
      if (nVertices > 0) vertices.append(',')
      vertices.append('[').append(x).append(',').append(y).append(',').append(z).append(']')
      nVertices += 1
      nVertices - 1
    }

    private def ring(ids: Seq[Int]): String = ids.mkString("[[", ",", "]]")

    /** A building body: footprint corners b0-b3, eave corners e0-e3, then
      * faces with their role ("GroundSurface", "WallSurface",
      * "RoofSurface"). Gabled bodies get two roof planes and two gable
      * triangles; any wall may be split into two faces. */
    private final class Body(gabled: Boolean, splitWalls: Boolean) {
      private val x = coord(1000000); private val y = coord(1000000)
      private val w = 5000 + coord(15000); private val d = 6000 + coord(12000); private val h = 3000 + coord(9000)
      private val b = Array(vertex(x, y, 0), vertex(x + w, y, 0), vertex(x + w, y + d, 0), vertex(x, y + d, 0))
      private val e = Array(vertex(x, y, h), vertex(x + w, y, h), vertex(x + w, y + d, h), vertex(x, y + d, h))
      private val corner = Array((x, y), (x + w, y), (x + w, y + d), (x, y + d))
      val faces: Seq[(Seq[Int], String)] = {
        val out = mutable.ArrayBuffer[(Seq[Int], String)](Seq(b(0), b(3), b(2), b(1)) -> "GroundSurface")
        for (i <- 0 until 4) {
          val c = (i + 1) % 4
          if (splitWalls && rng.nextInt(2) == 0) {
            val mx = (corner(i)._1 + corner(c)._1) / 2; val my = (corner(i)._2 + corner(c)._2) / 2
            val mb = vertex(mx, my, 0); val mt = vertex(mx, my, h)
            out += Seq(b(i), mb, mt, e(i)) -> "WallSurface"
            out += Seq(mb, b(c), e(c), mt) -> "WallSurface"
          } else out += Seq(b(i), b(c), e(c), e(i)) -> "WallSurface"
        }
        if (gabled) {
          val r = h + 2000 + coord(4000)
          val r0 = vertex(x, y + d / 2, r); val r1 = vertex(x + w, y + d / 2, r)
          out += Seq(e(0), e(1), r1, r0) -> "RoofSurface"
          out += Seq(e(2), e(3), r0, r1) -> "RoofSurface"
          out += Seq(e(1), e(2), r1) -> "WallSurface"
          out += Seq(e(3), e(0), r0) -> "WallSurface"
        } else out += Seq(e(0), e(1), e(2), e(3)) -> "RoofSurface"
        out.toSeq
      }
    }

    /** Block-style part body: a Solid whose every face has its own semantic
      * surface and a material by role; untextured, so one log per face. */
    private def solid(): String = {
      val body = new Body(gabled = rng.nextInt(2) == 0, splitWalls = true)
      val mat = Map("GroundSurface" -> material(), "RoofSurface" -> material(), "WallSurface" -> material())
      val gable = if (body.faces.exists(_._1.size == 3)) material() else -1
      val surfaces = body.faces.map {
        case (_, "RoofSurface") =>
          s"""{"type":"RoofSurface","Slope":${num(rng.nextInt(600) / 10.0)},"Direction":${num(rng.nextInt(3600) / 10.0)}}"""
        case (_, role) => s"""{"type":"$role"}"""
      }
      mismatchLogs += body.faces.size
      val n = body.faces.size
      s"""{"type":"Solid","lod":"2","boundaries":[${body.faces.map(f => ring(f._1)).mkString("[", ",", "]")}],""" +
        s""""semantics":{"surfaces":${surfaces.mkString("[", ",", "]")},"values":[${(0 until n).mkString("[", ",", "]")}]},""" +
        s""""material":{"irradiation":{"values":[${body.faces.map(f => if (f._1.size == 3) gable else mat(f._2)).mkString("[", ",", "]")}]}},""" +
        s""""texture":{"rgbTexture":{"values":[${Seq.fill(n)("[[null]]").mkString("[", ",", "]")}]}}}"""
    }

    /** Textured-style body: a MultiSurface with three shared semantic
      * surfaces; walls and roof planes are textured, the ground is not. */
    private def texturedSurface(): String = {
      val body = new Body(gabled = rng.nextInt(3) != 0, splitWalls = false)
      val sem = Map("GroundSurface" -> 0, "WallSurface" -> 1, "RoofSurface" -> 2)
      val tex = body.faces.map {
        case (_, "GroundSurface") => "[[null]]"
        case (vs, _) => (rng.nextInt(Textures) +: vs.map(_ => rng.nextInt(TextureVertices))).mkString("[[", ",", "]]")
      }
      mismatchLogs += 1
      s"""{"type":"MultiSurface","lod":"2","boundaries":${body.faces.map(f => ring(f._1)).mkString("[", ",", "]")},""" +
        """"semantics":{"surfaces":[{"type":"GroundSurface"},{"type":"WallSurface"},{"type":"RoofSurface"}],""" +
        s""""values":${body.faces.map(f => sem(f._2)).mkString("[", ",", "]")}},""" +
        s""""texture":{"rgbTexture":{"values":${tex.mkString("[", ",", "]")}}}}"""
    }

    /** Road strip as a CompositeSurface: traffic / auxiliary semantics take
      * the semantic colour table; one face group per semantic used. Its
      * numeric lod collides with the CHAR LoD property and logs a warning. */
    private def compositeSurface(): String = {
      val n = 2 + rng.nextInt(3)
      val x = coord(1000000); val y = coord(1000000)
      val pts = (0 to n).map(k => (vertex(x + 4000 * k, y, 0), vertex(x + 4000 * k, y + 6000, 0)))
      val faces = (0 until n).map(k => ring(Seq(pts(k)._1, pts(k + 1)._1, pts(k + 1)._2, pts(k)._2)))
      val sem = (0 until n).map(_ => rng.nextInt(2))
      mismatchLogs += sem.distinct.size
      lodWarnings += 1
      s"""{"type":"CompositeSurface","lod":1,"boundaries":${faces.mkString("[", ",", "]")},""" +
        """"semantics":{"surfaces":[{"type":"TrafficArea"},{"type":"AuxiliaryTrafficArea"}],""" +
        s""""values":${sem.mkString("[", ",", "]")}}}"""
    }

    private def instance(): String = {
      templateUsed = true
      val anchor = vertex(coord(1000000), coord(1000000), 0)
      val s = num(1 + rng.nextInt(20) / 10.0)
      s"""{"type":"GeometryInstance","template":0,"boundaries":[$anchor],""" +
        s""""transformationMatrix":[$s,0.0,0.0,0.0,0.0,$s,0.0,0.0,0.0,0.0,$s,0.0,0.0,0.0,0.0,1.0]}"""
    }

    /** Typed attributes: number, integer, string, bool, object, number array, null. */
    private def typedAttributes(): String = {
      val roof = Seq("flat", "gabled", "hipped", "shed")(rng.nextInt(4))
      s"""{"measuredHeight":${num(3 + rng.nextInt(4000) / 100.0)},"storeysAboveGround":${1 + rng.nextInt(12)},""" +
        s""""roofType":"$roof","isHistoric":${rng.nextInt(5) == 0},""" +
        s""""address":{"street":"Street ${rng.nextInt(300)}","number":${1 + rng.nextInt(200)}},""" +
        s""""heights":[${num(rng.nextInt(900) / 100.0)},${num(rng.nextInt(900) / 100.0)}],"function":null}"""
    }

    /** Part attributes as in the 3D BAG: a roof type code and four heights. */
    private def partAttributes(): String = {
      def m = num(rng.nextInt(20000) / 1000.0)
      s"""{"roofType":"${Seq("1000", "1010", "1030", "1130")(rng.nextInt(4))}","RelativeEavesHeight":$m,""" +
        s""""RelativeRidgeHeight":$m,"AbsoluteEavesHeight":$m,"AbsoluteRidgeHeight":$m}"""
    }

    /** Textured building attributes, Rotterdam-like: a height and four codes. */
    private def texturedAttributes(): String =
      s"""{"TerrainHeight":${num(rng.nextInt(500) / 100.0)},"bron_tex":"UltraCAM-X ${2008 + rng.nextInt(10)}",""" +
        s""""voll_tex":"${if (rng.nextInt(4) == 0) "onvolledig" else "volledig"}","bron_geo":"Lidar ${2008 + rng.nextInt(10)}",""" +
        s""""status":"${Seq("bestaand", "gesloopt", "in aanbouw")(rng.nextInt(3))}"}"""

    private def cityObject(id: String, typ: String, geometry: String, extra: String): String =
      s""""$id":{"type":"$typ",$extra"geometry":[$geometry]}"""

    /** Per 50 draws: 12 blocks (one building and two parts on average, so
      * about 36 objects), 36 textured buildings, one road, one tree. */
    private def pick(): Style = only.getOrElse {
      val p = rng.nextInt(50)
      if (p < 12) Style.Block else if (p < 48) Style.Textured else if (p == 48) Style.Road else Style.Vegetation
    }

    def write(): Doc = {
      val objs = Vector.newBuilder[String]
      var made = 0
      var k = 0
      while (made < objects) {
        val id = f"o$index%03d-$k%04d"
        pick() match {
          case Style.Block if made + 2 <= objects =>
            val parts = (0 until math.min(1 + rng.nextInt(3), objects - made - 1)).map(j => s"$id-p$j")
            objs += cityObject(id, "Building", "",
              s""""attributes":${typedAttributes()},"children":${parts.mkString("[\"", "\",\"", "\"]")},""")
            parts.foreach { p =>
              objs += cityObject(p, "BuildingPart", solid(), s""""parents":["$id"],"attributes":${partAttributes()},""")
            }
            made += 1 + parts.size
          case Style.Block | Style.Textured =>
            objs += cityObject(id, "Building", texturedSurface(), s""""attributes":${texturedAttributes()},""")
            made += 1
          case Style.Road =>
            objs += cityObject(id, "Road", compositeSurface(), "")
            made += 1
          case Style.Vegetation =>
            objs += cityObject(id, "SolitaryVegetationObject", instance(),
              s""""attributes":{"species":"tilia","trunkDiameter":${num(rng.nextInt(100) / 100.0)}},""")
            made += 1
        }
        k += 1
      }
      if (templateUsed) mismatchLogs += 1 // the template's one untextured group, converted once

      val palette = (0 until materials).map { m =>
        def rgb = Seq.fill(3)(num(rng.nextInt(100) / 100.0)).mkString("[", ",", "]")
        s"""{"name":"mat$m","ambientIntensity":${num(rng.nextInt(100) / 100.0)},"diffuseColor":$rgb,""" +
          s""""emissiveColor":$rgb,"specularColor":$rgb,"shininess":${num(rng.nextInt(100) / 100.0)},""" +
          s""""transparency":${num(rng.nextInt(50) / 100.0)},"isSmooth":${m % 2 == 0}}"""
      }
      val textures = (0 until Textures).map(t => s"""{"type":"JPG","image":"appearances/tex$t.jpg"}""")
      val uvs = (0 until TextureVertices).map(_ => s"[${num(rng.nextInt(1000) / 1000.0)},${num(rng.nextInt(1000) / 1000.0)}]")
      sb.append("""{"type":"CityJSON","version":"1.1",""")
      sb.append(s""""transform":{"scale":[0.001,0.001,0.001],"translate":[${85000 + index},${446000 + index},0.0]},""")
      sb.append(s""""metadata":{"referenceSystem":"https://www.opengis.net/def/crs/EPSG/0/7415","title":"perfbench city $index"},""")
      sb.append(""""appearance":{"materials":""").append(palette.mkString("[", ",", "]"))
      sb.append(""","textures":""").append(textures.mkString("[", ",", "]"))
      sb.append(""","vertices-texture":""").append(uvs.mkString("[", ",", "]"))
      sb.append(""","default-theme-texture":"rgbTexture","default-theme-material":"irradiation"},""")
      sb.append(""""geometry-templates":{"templates":[{"type":"MultiSurface","lod":"2",""")
      sb.append(""""boundaries":[[[0,1,2]],[[0,2,3]],[[0,3,1]],[[1,3,2]]]}],""")
      sb.append(""""vertices-templates":[[0.0,0.0,0.0],[1.0,0.0,0.0],[0.0,1.0,0.0],[0.0,0.0,3.0]]},""")
      sb.append(""""CityObjects":{""").append(objs.result().mkString(",")).append("},")
      sb.append(""""vertices":[""").append(vertices).append("]}")
      Doc(f"doc-$index%05d.city.json", sb.toString, objects, mismatchLogs + lodWarnings)
    }
  }
}
