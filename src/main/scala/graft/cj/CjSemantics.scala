package graft.cj

import scala.collection.mutable
import graft.model.{Vocab => V}

/** Semantic-surface tree for one geometry item. Reproduces
  * /root/reference/CityJsonRDF/Semantics.cpp: parent wiring from `children`
  * lists with conflict detection (Semantics.cpp:64-79), tolerant value-path
  * walk (Semantics.cpp:84-105, short arrays keep the current node), lazy
  * memoized surface-instance creation walking the parent chain
  * (Semantics.cpp:109-145).
  *
  * Divergence (documented): on a cyclic parent chain the reference recurses
  * forever; we break the cycle and return the partially-built instance.
  */
private[cj] final class CjSemantics(m: CjModel) {

  private val json = m.json

  private final class Surf {
    var typNode: Int = CjJson.Absent
    var parent: Int = -1
    val children = mutable.ArrayBuffer[Int]()
    val attributes = mutable.ArrayBuffer[(String, Int)]()
    var owlInstance: Int = -1
    var visiting = false
  }

  private val surfaces = mutable.ArrayBuffer[Surf]()
  private var values: Int = CjJson.Absent

  /** Semantics::Init (Semantics.cpp:45-79). */
  def init(semantics: Int): Unit = {
    val ms = m.members(semantics)
    while (ms.next()) {
      ms.name match {
        case "surfaces" =>
          val es = m.elems(ms.value)
          while (es.hasNext) surfaces += initSurface(es.next())
        case "values" => values = ms.value
        case other => m.logInfo("Unsupported semantics member '%s'", other)
      }
    }
    // push parent indices down from declared children lists
    for (iParent <- surfaces.indices) {
      val parent = surfaces(iParent)
      parent.children.foreach { iChild =>
        if (iChild < 0 || iChild >= surfaces.size)
          m.jsonAssert(cond = false, "child index < surfaces.size")
        val child = surfaces(iChild)
        if (child.parent >= 0 && child.parent != iParent)
          m.logError("Invalid semantic surface '%s' parent", m.jStr(child.typNode))
        child.parent = iParent
      }
      parent.children.clear()
    }
  }

  /** Semantics::Surface::Init (Semantics.cpp:18-39): unknown members are
    * captured as attributes. */
  private def initSurface(jsurf: Int): Surf = {
    val s = new Surf
    val ms = m.members(jsurf)
    while (ms.next()) {
      val value = ms.value
      ms.name match {
        case "type" => s.typNode = value
        case "parent" => s.parent = m.jInt(value)
        case "children" =>
          val es = m.elems(value)
          while (es.hasNext) s.children += m.jInt(es.next())
        case other => s.attributes += ((other, value))
      }
    }
    s
  }

  /** Semantics::GetSurfaceSemantic (Semantics.cpp:84-105): tolerant walk —
    * descend only while the node is an array long enough; a non-int leaf or
    * out-of-range surface index yields no semantic. Returns the surface
    * instance, or -1. */
  def getSurfaceSemantic(faceIndexPath: IntBuf): Int = {
    var node = values
    var k = 0
    while (k < faceIndexPath.length) {
      val i = faceIndexPath(k)
      if (json.isArray(node) && json.size(node) > i) node = json.elem(node, i)
      k += 1
    }
    if (!json.isInt(node)) return -1
    val i = json.int(node)
    if (i < 0 || i >= surfaces.size) {
      m.logError("Semantic surface index %d is out of range", i)
      return -1
    }
    getOwlInstance(surfaces(i))
  }

  /** Semantics::GetOwlInstance (Semantics.cpp:109-145). */
  private def getOwlInstance(surf: Surf): Int = {
    if (surf.typNode >= 0 && !json.isNull(surf.typNode) && !surf.visiting) {
      surf.visiting = true
      val typ = m.jStr(surf.typNode)
      val cls = m.getOrCreateClass("City.SurfaceSemantic", addPrefix = false)
      surf.owlInstance = m.createInstance(cls, typ)

      val typeProp = m.getOrCreateProperty(cls, "city.prop.type", null, P.CHAR)
      m.setDatatype(surf.owlInstance, typeProp, typ, V.XsdString)

      if (surf.parent >= 0 && surf.parent < surfaces.size) {
        val owlParent = getOwlInstance(surfaces(surf.parent))
        if (owlParent >= 0) {
          val parentProp = m.getOrCreateProperty(cls, "parent", "city.prop.", P.OBJ, "City.SurfaceSemantic")
          m.setObjectProp(surf.owlInstance, parentProp, owlParent)
        }
      }

      surf.attributes.foreach { case (name, value) =>
        m.createAttribute(surf.owlInstance, name, "city.prop.attr.", value)
      }
      surf.attributes.clear()
      surf.typNode = CjJson.Absent
      surf.visiting = false
    }
    surf.owlInstance
  }
}
