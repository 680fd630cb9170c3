package graft.cj

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

  private val json = m.json
  var cityVertices: Int = CjJson.Absent
  private val cityScale = Array(1.0, 1.0, 1.0)
  private val cityTranslate = Array(0.0, 0.0, 0.0)
  private var templateVertices: Int = CjJson.Absent
  private var useTemplateVertices = false

  private final class Template(val jitem: Int) {
    var converted = false
    var item: Int = -1
  }
  private val templates = mutable.ArrayBuffer[Template]()

  /** Per-geometry-item parse state (Geometry.h:28-36). */
  private final class PerFaceData {
    var material: Int = CjJson.Absent
    var texture: Int = CjJson.Absent
    val semantics = new CjSemantics(m)
    val indexPath = new IntBuf
  }

  private final case class FaceGroupKey(
      semantic: Int, // semantic-surface instance, -1 for none
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
  private final class PointTexts(pool: Int, read: Int => Array[Double]) {
    private val size = if (json.isArray(pool)) json.size(pool) else 0
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
  def setCityTransform(jtransform: Int): Unit = {
    val ms = m.members(jtransform)
    while (ms.next()) {
      val value = ms.value
      ms.name match {
        case "scale" => (0 until 3).foreach(i => cityScale(i) = m.jDouble(m.jIdx(value, i)))
        case "translate" => (0 until 3).foreach(i => cityTranslate(i) = m.jDouble(m.jIdx(value, i)))
        case other => m.logInfo("Unsupported transform member '%s'", other)
      }
    }
  }

  /** Geometry::SetGeometryTemplates (Geometry.cpp:591-605). */
  def setGeometryTemplates(jtemplates: Int): Unit = {
    val ms = m.members(jtemplates)
    while (ms.next()) {
      ms.name match {
        case "templates" =>
          val es = m.elems(ms.value)
          while (es.hasNext) templates += new Template(es.next())
        case "vertices-templates" => templateVertices = ms.value
        case _ => ()
      }
    }
  }

  /** Geometry::Convert (Geometry.cpp:24-58): per-item error isolation. */
  def convert(jgeometry: Int, items: IntBuf): Unit = {
    var nitem = 0
    val es = m.elems(jgeometry)
    while (es.hasNext) {
      val jitem = es.next()
      m.pushIndex(nitem)
      nitem += 1
      try {
        val item = convertItem(jitem, nitem, isTemplate = false)
        if (item >= 0) items += item
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
  private def convertItem(jitem: Int, nItem: Int, isTemplate: Boolean): Int = {
    var typ: String = null
    var lod = CjJson.Absent
    var boundaries = CjJson.Absent
    var jtemplate = CjJson.Absent
    var jtransformation = CjJson.Absent
    val fd = new PerFaceData

    val ms = m.members(jitem)
    while (ms.next()) {
      val value = ms.value
      ms.name match {
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
    if (boundaries < 0 || json.isNull(boundaries)) m.throwError("Geometry item boundaries are missed")

    val item: Int = typ match {
      case "MultiPoint" | "MultiLineString" =>
        m.logInfo("Unsupported geometry type '%s'", typ); -1
      case "MultiSurface" => convertSurfaceSet("MultiSurface", boundaries, fd)
      case "CompositeSurface" => convertSurfaceSet("CompositeSurface", boundaries, fd)
      case "Solid" => convertSolid(boundaries, fd)
      case "MultiSolid" => convertSolidSet("MultiSolid", boundaries, fd)
      case "CompositeSolid" => convertSolidSet("CompositeSolid", boundaries, fd)
      case "GeometryInstance" => convertGeometryInstance(boundaries, jtemplate, jtransformation)
      case other =>
        m.logInfo("Unsupported geometry type '%s'", other); -1
    }

    if (item >= 0) {
      var name = (if (isTemplate) "Template" else "Item") + " " + nItem
      if (json.isString(lod)) name += " LoD " + json.str(lod)
      m.setInstanceName(item, name)
      if (lod >= 0 && !json.isNull(lod)) m.createAttribute(item, "city.prop.LoD", null, lod)
    }
    item
  }

  /** Geometry::ConvertSolidSet (Geometry.cpp:186-204): the collection is
    * created even when all member solids are empty. */
  private def convertSolidSet(className: String, boundaries: Int, fd: PerFaceData): Int = {
    val solids = new IntBuf
    fd.indexPath += 0
    val es = m.elems(boundaries)
    while (es.hasNext) {
      val solid = convertSolid(es.next(), fd)
      if (solid >= 0) solids += solid
      fd.indexPath.incrementLast()
    }
    fd.indexPath.removeLast()

    val cls = m.getOrCreateClass(className, addPrefix = true, "City.GeometryBody")
    val inst = m.createInstance(cls)
    m.setObjectArray(inst, "geom:objects", solids)
    inst
  }

  /** Geometry::ConvertSolid (Geometry.cpp:208-227). */
  private def convertSolid(boundaries: Int, fd: PerFaceData): Int = {
    val shells = new IntBuf
    fd.indexPath += 0
    val es = m.elems(boundaries)
    while (es.hasNext) {
      val shell = convertSurfaceSet("MultiSurface", es.next(), fd)
      if (shell >= 0) shells += shell
      fd.indexPath.incrementLast()
    }
    fd.indexPath.removeLast()

    val cls = m.getOrCreateClass("Solid", addPrefix = true, "City.GeometryBody")
    val inst = m.createInstance(cls)
    m.setObjectArray(inst, "geom:objects", shells)
    inst
  }

  /** Geometry::ConvertSurfaceSet (Geometry.cpp:245-274): returns -1 when
    * no face group produced (unlike solid sets). */
  private def convertSurfaceSet(className: String, boundaries: Int, fd: PerFaceData): Int = {
    val fgroups = mutable.LinkedHashMap[FaceGroupKey, FaceGroup]()
    fd.indexPath += 0
    val es = m.elems(boundaries)
    while (es.hasNext) {
      addFaceToGroups(fgroups, es.next(), fd)
      fd.indexPath.incrementLast()
    }
    fd.indexPath.removeLast()

    val items = new IntBuf
    fgroups.valuesIterator.foreach(g => items += createFaceGroup(g))
    if (items.length == 0) return -1

    val cls = m.getOrCreateClass(className, addPrefix = true, "City.GeometryBody")
    val inst = m.createInstance(cls)
    m.setObjectArray(inst, "geom:objects", items)
    inst
  }

  /** Geometry::AddFaceToGroups (Geometry.cpp:278-299). */
  private def addFaceToGroups(fgroups: mutable.LinkedHashMap[FaceGroupKey, FaceGroup], jface: Int,
      fd: PerFaceData): Unit = {
    val app = m.appearance.getSurfaceAppearance(fd.material, fd.texture, fd.indexPath)
    val key = FaceGroupKey(fd.semantics.getSurfaceSemantic(fd.indexPath), app.materials, app.textures)

    // first-seen group order, like the reference's list walk
    val group = fgroups.getOrElseUpdate(key, new FaceGroup(key, currentTexts()))

    val texVertIndices = m.appearance.getTextureIndices(group.key.textures, app.textureIndices)
    addFaceToGroup(group, jface, texVertIndices)
  }

  /** Geometry::AddFaceToGroup (Geometry.cpp:339-372): terminator -1 after the
    * first (outer) loop, -2 after each hole loop; texIndices get terminators
    * even when the face has no texture. */
  private def addFaceToGroup(group: FaceGroup, jboundaries: Int, texIndices: Option[List[List[Int]]]): Unit = {
    m.jArr(jboundaries)
    texIndices.foreach { ti =>
      if (ti.size != json.size(jboundaries))
        m.logError("Texture indecies loops size mismatch number of loops in boundary")
    }
    val texIt = texIndices.map(_.iterator)
    var end = -1
    val es = m.elems(jboundaries)
    while (es.hasNext) {
      val jloop = es.next()
      addPoints(jloop, group)
      group.indices += end
      texIt.foreach { it =>
        if (it.hasNext) {
          val texLoop = it.next()
          if (texLoop.size != json.size(jloop))
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
  private def addPoints(jloop: Int, group: FaceGroup): Unit = {
    m.jArr(jloop)
    var k = json.size(jloop)
    while (k > 0) {
      group.indices += getAddVertex(json.elem(jloop, k - 1), group)
      k -= 1
    }
  }

  /** Geometry::GetAddVertex + AddVertex (Geometry.cpp:393-420): per-group
    * first-seen dedup of city-vertex → coordinate slot. */
  private def getAddVertex(jpoint: Int, group: FaceGroup): Int = {
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
  private def createFaceGroup(group: FaceGroup): Int = {
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
    m.setObjectProp(face, "geom:material", rdfMat)

    if (group.key.semantic >= 0) {
      val prop = m.getOrCreateProperty(cls, "city.prop.semantic", null, P.OBJ, "City.SurfaceSemantic")
      m.setObjectItem(face, prop, group.key.semantic, 0)
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
  private def convertGeometryInstance(boundaries: Int, jtemplate: Int, jtransformation: Int): Int = {
    val nTemplate = m.jInt(jtemplate)
    if (nTemplate < 0 || nTemplate >= templates.size)
      m.throwError("Geometry template index %d is out of range", nTemplate)

    val tpl = templates(nTemplate)
    if (!tpl.converted) {
      useTemplateVertices = true
      try tpl.item = convertItem(tpl.jitem, nTemplate, isTemplate = true)
      finally useTemplateVertices = false
      tpl.converted = true
    }
    if (tpl.item < 0) return -1

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
  def incrementLast(): Unit = a(length - 1) += 1
  def removeLast(): Unit = length -= 1
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
