package graft.cj

import com.fasterxml.jackson.databind.JsonNode
import scala.collection.immutable.TreeMap
import scala.collection.mutable
import graft.model.{Vocab => V}

/** Geometry conversion: boundaries → appearance/semantic-keyed face groups →
  * BoundaryRepresentation meshes; collections; templates/instancing.
  * Reproduces /root/reference/CityJsonRDF/Geometry.cpp observable semantics:
  * first-seen face-group order (Geometry.cpp:303-319), per-group first-seen
  * vertex slots (Geometry.cpp:393-404), reversed loops (Geometry.cpp:378-381),
  * -1/-2 loop terminators (Geometry.cpp:352-371), dequantization
  * `v*scale+translate` (Geometry.cpp:551), template memoization with
  * untransformed template vertices (Geometry.cpp:542-552,616-621).
  */
private[cj] final class CjGeometry(m: CjModel) {

  var cityVertices: JsonNode = null
  private val cityScale = Array(1.0, 1.0, 1.0)
  private val cityTranslate = Array(0.0, 0.0, 0.0)
  private var templateVertices: JsonNode = null
  private var useTemplateVertices = false

  private final class Template(val json: JsonNode) {
    var converted = false
    var item: String = null
  }
  private val templates = mutable.ArrayBuffer[Template]()

  /** Per-geometry-item parse state (Geometry.h:28-36). */
  private final class PerFaceData {
    var material: JsonNode = null
    var texture: JsonNode = null
    val semantics = new CjSemantics(m)
    val indexPath = mutable.ArrayBuffer[Int]()
  }

  private final case class FaceGroupKey(
      semantic: String, // semantic-surface instance IRI or null
      materials: TreeMap[String, Int],
      textures: TreeMap[String, Int])

  /** A face group's mesh. Coordinate slot `k` holds vertex `vertices(k)`
    * of `texts`' pool and UV slot `k` texture vertex `uvs(k)`; their texts
    * are formatted once per document. */
  private final class FaceGroup(val key: FaceGroupKey, val texts: PointTexts) {
    val vertices = new IntBuf
    val indices = new IntBuf
    val cityVert2Coord = mutable.HashMap[Int, Int]()
    val uvs = new IntBuf
    val texIndices = new IntBuf
    val texVert2Coord = mutable.HashMap[Int, Int]()
  }

  /** The coordinate text (`x,y,z` or `u,v`) of each point of one pool,
    * formatted with `Double.toString` from `read`'s coordinates the first
    * time a face group takes the point, and appended from here for every
    * face group after that. A point `read` rejects (by throwing) is never
    * stored, so every later use fails through `read` again. */
  private final class PointTexts(pool: JsonNode, read: Int => Array[Double]) {
    private val size = if (pool != null && pool.isArray) pool.size else 0
    private val text = new AsciiBuf(math.max(64, size * 24))
    private val start = new Array[Int](size)
    private val end = new Array[Int](size) // 0 until formatted

    /** Checks (and formats) point `i`, as `read` would. */
    def take(i: Int): Unit =
      if (i < 0 || i >= size || end(i) == 0) {
        val c = read(i)
        start(i) = text.length
        var d = 0
        while (d < c.length) { if (d > 0) text.append(','); text.appendDouble(c(d)); d += 1 }
        end(i) = text.length
      }

    def appendTo(i: Int, out: AsciiBuf): Unit = out.append(text.bytes, start(i), end(i) - start(i))

    /** `[p0,p1,…]` for the points `ids`, which have all been taken. */
    def appendList(ids: IntBuf, out: AsciiBuf): Unit = {
      out.append('[')
      var k = 0
      while (k < ids.length) { if (k > 0) out.append(','); appendTo(ids(k), out); k += 1 }
      out.append(']')
    }
  }
  private var cityTexts: PointTexts = null
  private var templateTexts: PointTexts = null
  private var uvTexts: PointTexts = null

  /** The vertex texts of the pool [[getVertex]] reads now. */
  private def currentTexts(): PointTexts =
    if (useTemplateVertices) {
      if (templateTexts == null) templateTexts = new PointTexts(templateVertices, getVertex)
      templateTexts
    } else {
      if (cityTexts == null) cityTexts = new PointTexts(cityVertices, getVertex)
      cityTexts
    }

  // ------------------------------------------------------------- top entries

  /** Geometry::SetCityTransform (Geometry.cpp:560-579). */
  def setCityTransform(jtransform: JsonNode): Unit =
    m.members(jtransform).foreach { case (name, value) =>
      name match {
        case "scale" => (0 until 3).foreach(i => cityScale(i) = m.jDouble(m.jIdx(value, i)))
        case "translate" => (0 until 3).foreach(i => cityTranslate(i) = m.jDouble(m.jIdx(value, i)))
        case other => m.logInfo("Unsupported transform member '%s'", other)
      }
    }

  /** Geometry::SetGeometryTemplates (Geometry.cpp:591-605). */
  def setGeometryTemplates(jtemplates: JsonNode): Unit =
    m.members(jtemplates).foreach { case (name, value) =>
      name match {
        case "templates" => m.elems(value).foreach(t => templates += new Template(t))
        case "vertices-templates" => templateVertices = value
        case _ => ()
      }
    }

  /** Geometry::Convert (Geometry.cpp:24-58): per-item error isolation. */
  def convert(jgeometry: JsonNode, items: mutable.ArrayBuffer[String]): Unit = {
    var nitem = 0
    m.elems(jgeometry).foreach { jitem =>
      m.pushIndex(nitem)
      nitem += 1
      try {
        val item = convertItem(jitem, nitem, isTemplate = false)
        if (item != null) items += item
      } catch {
        case _: CjException => m.logError("Failed to convert geometry item")
      }
      m.popState()
    }
  }

  /** Geometry::ConvertItem (Geometry.cpp:62-168). Item names are 1-based
    * "Item <n>" / 0-based "Template <n>", with " LoD <s>" only for string
    * lods (Geometry.cpp:152-160); the LoD attribute is set for any non-null
    * lod value (numeric lod collides with the bootstrap CHAR property and
    * becomes the suffixed `city.prop.LoD_1`, CityModel.cpp:432-443).
    */
  private def convertItem(jitem: JsonNode, nItem: Int, isTemplate: Boolean): String = {
    var typ: String = null
    var lod: JsonNode = null
    var boundaries: JsonNode = null
    var jtemplate: JsonNode = null
    var jtransformation: JsonNode = null
    val fd = new PerFaceData

    m.members(jitem).foreach { case (name, value) =>
      name match {
        case "type" => typ = m.jStr(value)
        case "lod" => lod = value
        case "boundaries" => boundaries = value
        case "material" => fd.material = value
        case "texture" => fd.texture = value
        case "template" => jtemplate = value
        case "transformationMatrix" => jtransformation = value
        case "semantics" => fd.semantics.init(value)
        case other => m.logInfo("Unsupported geometry item member '%s'", other)
      }
    }

    if (typ == null) m.throwError("Geometry item type is missed")
    if (boundaries == null || boundaries.isNull) m.throwError("Geometry item boundaries are missed")

    val item: String = typ match {
      case "MultiPoint" | "MultiLineString" =>
        m.logInfo("Unsupported geometry type '%s'", typ); null
      case "MultiSurface" => convertSurfaceSet("MultiSurface", boundaries, fd)
      case "CompositeSurface" => convertSurfaceSet("CompositeSurface", boundaries, fd)
      case "Solid" => convertSolid(boundaries, fd)
      case "MultiSolid" => convertSolidSet("MultiSolid", boundaries, fd)
      case "CompositeSolid" => convertSolidSet("CompositeSolid", boundaries, fd)
      case "GeometryInstance" => convertGeometryInstance(boundaries, jtemplate, jtransformation)
      case other =>
        m.logInfo("Unsupported geometry type '%s'", other); null
    }

    if (item != null) {
      var name = (if (isTemplate) "Template" else "Item") + " " + nItem
      if (lod != null && lod.isTextual) name += " LoD " + lod.asText
      m.setInstanceName(item, name)
      if (lod != null && !lod.isNull) m.createAttribute(item, "city.prop.LoD", null, lod)
    }
    item
  }

  /** Geometry::ConvertSolidSet (Geometry.cpp:186-204): the collection is
    * created even when all member solids are empty. */
  private def convertSolidSet(className: String, boundaries: JsonNode, fd: PerFaceData): String = {
    val solids = mutable.ArrayBuffer[String]()
    fd.indexPath += 0
    m.elems(boundaries).foreach { jsolid =>
      val solid = convertSolid(jsolid, fd)
      if (solid != null) solids += solid
      fd.indexPath(fd.indexPath.length - 1) += 1
    }
    fd.indexPath.remove(fd.indexPath.length - 1)

    val cls = m.getOrCreateClass(className, addPrefix = true, "City.GeometryBody")
    val inst = m.createInstance(cls)
    m.setObjectArray(inst, "geom:objects", solids.toSeq)
    inst
  }

  /** Geometry::ConvertSolid (Geometry.cpp:208-227). */
  private def convertSolid(boundaries: JsonNode, fd: PerFaceData): String = {
    val shells = mutable.ArrayBuffer[String]()
    fd.indexPath += 0
    m.elems(boundaries).foreach { jshell =>
      val shell = convertSurfaceSet("MultiSurface", jshell, fd)
      if (shell != null) shells += shell
      fd.indexPath(fd.indexPath.length - 1) += 1
    }
    fd.indexPath.remove(fd.indexPath.length - 1)

    val cls = m.getOrCreateClass("Solid", addPrefix = true, "City.GeometryBody")
    val inst = m.createInstance(cls)
    m.setObjectArray(inst, "geom:objects", shells.toSeq)
    inst
  }

  /** Geometry::ConvertSurfaceSet (Geometry.cpp:245-274): returns null when
    * no face group produced (unlike solid sets). */
  private def convertSurfaceSet(className: String, boundaries: JsonNode, fd: PerFaceData): String = {
    val fgroups = mutable.LinkedHashMap[FaceGroupKey, FaceGroup]()
    fd.indexPath += 0
    m.elems(boundaries).foreach { jface =>
      addFaceToGroups(fgroups, jface, fd)
      fd.indexPath(fd.indexPath.length - 1) += 1
    }
    fd.indexPath.remove(fd.indexPath.length - 1)

    val items = fgroups.valuesIterator.map(createFaceGroup).toVector
    if (items.isEmpty) return null

    val cls = m.getOrCreateClass(className, addPrefix = true, "City.GeometryBody")
    val inst = m.createInstance(cls)
    m.setObjectArray(inst, "geom:objects", items.toSeq)
    inst
  }

  /** Geometry::AddFaceToGroups (Geometry.cpp:278-299). */
  private def addFaceToGroups(fgroups: mutable.LinkedHashMap[FaceGroupKey, FaceGroup], jface: JsonNode,
      fd: PerFaceData): Unit = {
    val app = m.appearance.getSurfaceAppearance(fd.material, fd.texture, fd.indexPath.toSeq)
    val key = FaceGroupKey(fd.semantics.getSurfaceSemantic(fd.indexPath.toSeq), app.materials, app.textures)

    // first-seen group order, like the reference's list walk
    val group = fgroups.getOrElseUpdate(key, new FaceGroup(key, currentTexts()))

    val texVertIndices = m.appearance.getTextureIndices(group.key.textures, app.textureIndices)
    addFaceToGroup(group, jface, texVertIndices)
  }

  /** Geometry::AddFaceToGroup (Geometry.cpp:339-372): terminator -1 after the
    * first (outer) loop, -2 after each hole loop; texIndices get terminators
    * even when the face has no texture. */
  private def addFaceToGroup(group: FaceGroup, jboundaries: JsonNode, texIndices: Option[List[List[Int]]]): Unit = {
    m.jArr(jboundaries)
    texIndices.foreach { ti =>
      if (ti.size != jboundaries.size)
        m.logError("Texture indecies loops size mismatch number of loops in boundary")
    }
    val texIt = texIndices.map(_.iterator)
    var end = -1
    m.elems(jboundaries).foreach { jloop =>
      addPoints(jloop, group)
      group.indices += end
      texIt.foreach { it =>
        if (it.hasNext) {
          val texLoop = it.next()
          if (texLoop.size != jloop.size)
            m.logError("Texture indecies size mismatch number of points in loop")
          addTexturePoints(texLoop, group)
        }
      }
      group.texIndices += end
      end = -2
    }
  }

  /** Geometry::AddPoints (Geometry.cpp:376-389): loops are REVERSED
    * (winding flip) — iterate indices back-to-front. */
  private def addPoints(jloop: JsonNode, group: FaceGroup): Unit = {
    m.jArr(jloop)
    var k = jloop.size
    while (k > 0) {
      group.indices += getAddVertex(jloop.get(k - 1), group)
      k -= 1
    }
  }

  /** Geometry::GetAddVertex + AddVertex (Geometry.cpp:393-420): per-group
    * first-seen dedup of city-vertex → coordinate slot. */
  private def getAddVertex(jpoint: JsonNode, group: FaceGroup): Int = {
    val cityIdx = m.jInt(jpoint)
    group.cityVert2Coord.get(cityIdx) match {
      case Some(slot) => slot
      case None =>
        group.texts.take(cityIdx)
        group.vertices += cityIdx
        val slot = group.vertices.length - 1
        group.cityVert2Coord(cityIdx) = slot
        slot
    }
  }

  /** Geometry::GetVertex (Geometry.cpp:538-555): dequantize city vertices
    * with `v*scale + translate`; template vertices are used raw. */
  private def getVertex(vertexInd: Int): Array[Double] = {
    val pool = if (useTemplateVertices) templateVertices else cityVertices
    val jpt = m.jIdx(pool, vertexInd)
    val out = new Array[Double](3)
    var i = 0
    while (i < 3) {
      var c = m.jDouble(m.jIdx(jpt, i))
      if (!useTemplateVertices) c = c * cityScale(i) + cityTranslate(i)
      out(i) = c
      i += 1
    }
    out
  }

  /** Geometry::AddTexturePoints (Geometry.cpp:424-437): reversed like
    * geometry loops. */
  private def addTexturePoints(texLoop: List[Int], group: FaceGroup): Unit =
    texLoop.reverseIterator.foreach { ind =>
      group.texIndices += getAddTextureVertex(ind, group)
    }

  /** Geometry::GetAddTextureVertex + AddTextureVertex (Geometry.cpp:441-474):
    * first-seen UV dedup; invalid UV index memoizes sentinel -3. */
  private def getAddTextureVertex(jind: Int, group: FaceGroup): Int =
    group.texVert2Coord.getOrElseUpdate(jind, {
      try {
        if (uvTexts == null) uvTexts = new PointTexts(m.appearance.textureVertices, getTextureVertex)
        uvTexts.take(jind)
        group.uvs += jind
        group.uvs.length - 1
      } catch {
        case _: CjException =>
          m.logError("Invalid texture verex index or coordinates")
          -3
      }
    })

  /** The `(u, v)` of texture vertex `jind`. */
  private def getTextureVertex(jind: Int): Array[Double] = {
    val jpoint = m.jIdx(m.appearance.textureVertices, jind)
    Array(m.jDouble(m.jIdx(jpoint, 0)), m.jDouble(m.jIdx(jpoint, 1)))
  }

  /** Geometry::CreateFaceGroup (Geometry.cpp:478-517). */
  private def createFaceGroup(group: FaceGroup): String = {
    val cls = m.getOrCreateClass("City.Surface", addPrefix = false, "BoundaryRepresentation")
    val face = m.createInstance(cls, m.nameOfInstance(group.key.semantic))

    val lit = m.lit
    lit.clear()
    group.texts.appendList(group.vertices, lit)
    m.emitLit(face, "geom:vertices", V.XsdDoubleArray)
    lit.clear()
    group.indices.appendTo(lit)
    m.emitLit(face, "geom:indices", V.XsdLongArray)

    val rdfMat = m.appearance.getRdfMaterial(group.key.materials, group.key.textures, group.key.semantic)
    if (rdfMat != null) m.setObjectProp(face, "geom:material", rdfMat)

    if (group.key.semantic != null) {
      val prop = m.getOrCreateProperty(cls, "city.prop.semantic", null, P.OBJ, "City.SurfaceSemantic")
      m.setObjectArray(face, prop, Seq(group.key.semantic))
    }

    val texIdx = group.texIndices
    if (texIdx.length > 0 && texIdx.length != group.indices.length) {
      m.logError("Number of texture indecies mismatches number of indecies")
      texIdx.clear()
    }
    if (texIdx.exists(_ >= 0)) {
      lit.clear()
      uvTexts.appendList(group.uvs, lit)
      m.emitLit(face, "geom:textureCoordinates", V.XsdDoubleArray)
      lit.clear()
      texIdx.appendTo(lit)
      m.emitLit(face, "geom:textureIndices", V.XsdLongArray)
    }
    face
  }

  /** Geometry::ConvertGeometryInstance (Geometry.cpp:608-667): one-time
    * memoized template conversion (shared template subject, many
    * transformation subjects), 4x3 matrix from the first 12 row-major
    * elements with the dequantized insert-point vertex ADDED to the
    * translation column, engine column-major `_RC` element naming.
    */
  private def convertGeometryInstance(boundaries: JsonNode, jtemplate: JsonNode, jtransformation: JsonNode): String = {
    val nTemplate = m.jInt(jtemplate)
    if (nTemplate < 0 || nTemplate >= templates.size)
      m.throwError("Geometry template index %d is out of range", nTemplate)

    val tpl = templates(nTemplate)
    if (!tpl.converted) {
      useTemplateVertices = true
      try tpl.item = convertItem(tpl.json, nTemplate, isTemplate = true)
      finally useTemplateVertices = false
      tpl.converted = true
    }
    if (tpl.item == null) return null

    val t = new Array[Double](12)
    for (i <- 0 until 3; j <- 0 until 4)
      t(4 * i + j) = m.jDouble(m.jIdx(jtransformation, 4 * i + j))

    val nInsertPt = m.jInt(m.jIdx(boundaries, 0))
    val rInsertPt = getVertex(nInsertPt)
    for (i <- 0 until 3) t(4 * i + 3) += rInsertPt(i)

    val matrix = m.createInstance("Matrix")
    val elementPreds = Seq(
      "geom:_11", "geom:_21", "geom:_31", "geom:_41",
      "geom:_12", "geom:_22", "geom:_32", "geom:_42",
      "geom:_13", "geom:_23", "geom:_33", "geom:_43")
    elementPreds.zip(t).foreach { case (p, v) => m.setDatatype(matrix, p, m.fmtD(v), V.XsdDouble) }

    val cls = m.getOrCreateClass("GeometryInstance", addPrefix = true, "City.GeometryObject", "Transformation")
    val trans = m.createInstance(cls)
    m.setObjectProp(trans, "geom:object", tpl.item)
    m.setObjectProp(trans, "geom:matrix", matrix)
    trans
  }
}

/** A growable `Int` array: a face group's slot and index lists. */
private[cj] final class IntBuf {
  private var a = new Array[Int](16)
  var length: Int = 0
  def apply(i: Int): Int = a(i)
  def +=(v: Int): Unit = {
    if (length == a.length) a = java.util.Arrays.copyOf(a, length * 2)
    a(length) = v
    length += 1
  }
  def clear(): Unit = length = 0
  def exists(p: Int => Boolean): Boolean = {
    var i = 0
    while (i < length) { if (p(a(i))) return true; i += 1 }
    false
  }
  /** Appends `[v0,v1,…]` to `out`. */
  def appendTo(out: AsciiBuf): Unit = {
    out.append('[')
    var i = 0
    while (i < length) { if (i > 0) out.append(','); out.appendInt(a(i)); i += 1 }
    out.append(']')
  }
}
