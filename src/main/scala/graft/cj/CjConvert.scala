package graft.cj

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.collection.immutable.TreeMap
import scala.collection.mutable
import graft.model.{LogRow, Triple, Vocab => V}

/** Converter job settings.
  *
  * Mirrors the reference's exe-adjacent `CityJsonRDF.json` config
  * (/root/reference/CityJsonRDF/Settings.cpp:23-126). Defaults reproduce the
  * shipped config file (/root/reference/CityJsonRDF/CityJsonRDF.json):
  * UseMaterials/UseTextures both true, plus the semantic color table —
  * entries with a JSON null color are never inserted (Settings.cpp:100-109),
  * so they are absent here too.
  */
final case class CjSettings(
    useMaterials: Boolean,
    useTextures: Boolean,
    semanticColors: Map[String, (Double, Double, Double)])

object CjSettings {
  val default: CjSettings = CjSettings(
    useMaterials = true,
    useTextures = true,
    semanticColors = Map(
      "RoofSurface" -> ((1.0, 0.0, 0.0)),
      "GroundSurface" -> ((0.3, 0.3, 0.3)),
      "WallSurface" -> ((1.0, 1.0, 1.0)),
      "Window" -> ((0.0, 0.0, 0.0)),
      "Door" -> ((0.0, 0.0, 0.0)),
      "InteriorWallSurface" -> ((0.3, 0.3, 0.9)),
      "CeilingSurface" -> ((1.0, 1.0, 1.0)),
      "FloorSurface" -> ((0.6, 1.0, 0.6)),
      "WaterBody" -> ((0.0, 0.0, 1.0)),
      "WaterSurface" -> ((0.2, 0.2, 1.0)),
      "WaterGroundSurface" -> ((0.0, 0.0, 0.5)),
      "WaterClosureSurface" -> ((0.3, 0.3, 0.8)),
      "Road" -> ((0.33, 0.33, 0.33)),
      "Railway" -> ((0.45, 0.6, 0.58)),
      "TransportSquare" -> ((0.33, 0.33, 0.33)),
      "TrafficArea" -> ((0.33, 0.33, 0.33)),
      "AuxiliaryTrafficArea" -> ((0.33, 0.33, 0.33)),
      "TransportationMarking" -> ((0.0, 1.0, 0.0)),
      "TransportationHole" -> ((0.0, 0.0, 0.0))
    )
  )
}

/** Pure CityJSON-1.1 → triples emitter reproducing the observable semantics
  * of the reference converter (I-Sokolov/RDF.cityJSON). This is a from-
  * scratch Scala implementation of WHAT the reference emits (classes,
  * properties, instances and their values — SURVEY.md §2), not a port of its
  * C++ mechanics; the engine-kernel calls are materialized as [[Triple]]s.
  *
  * Determinism: the walk is strictly document-ordered, all unnamed engine
  * instances get IRIs minted from (docIri, creation ordinal), so the output
  * is a pure function of (docIri, document bytes, settings) — partitioning
  * and parallelism cannot perturb it (north-rule stable-IRI requirement).
  */
object CjConvert {

  /** `docFailed` = the reference's NULL-model outcome (CityJsonRDF.cpp:29-41):
    * a document-level exception discards the whole model, so `triples` is
    * empty; the logs and the per-object progress count are still reported. */
  final case class Result(triples: Vector[Triple], logs: Vector[LogRow], cityObjectCount: Int, docFailed: Boolean)

  private val mapper = new ObjectMapper()

  /** What converting one document reports besides its triples, which went
    * to a [[CjSink]]. */
  private[cj] final case class Outcome(logs: Vector[LogRow], cityObjectCount: Int, docFailed: Boolean)

  /** Convert one CityJSON document. Never throws on malformed content within
    * the document: per-object and per-geometry-item failures are isolated
    * exactly like the reference (CityModel.cpp:182-188, Geometry.cpp:33-41).
    * A top-level failure (unparseable JSON, missing CityObjects) yields no
    * triples plus an Error log — the analog of CityJsonRDF.cpp:34-37
    * "Failed to read model".
    */
  def convert(docIri: String, jsonText: String, settings: CjSettings = CjSettings.default): Result = {
    val out = new CjSink.Collect
    val o = convertTo(out, docIri, jsonText, settings)
    Result(if (o.docFailed) Vector.empty else out.triples.result(), o.logs, o.cityObjectCount, o.docFailed)
  }

  /** [[convert]] with every triple handed to `sink` as it is emitted. On a
    * document-level failure the sink has already seen the triples emitted
    * before it; the caller drops them. */
  private[cj] def convertTo(sink: CjSink, docIri: String, jsonText: String,
      settings: CjSettings = CjSettings.default): Outcome = {
    val m = new CjModel(docIri, settings, sink)
    val root: JsonNode =
      try mapper.readTree(jsonText)
      catch { case _: Exception => null }
    var failed = false
    if (root == null || root.isNull) {
      m.logError("Invalid or empty JSON file '%s'", docIri)
      failed = true
    } else {
      try m.convertCityJSONObject(root)
      catch { case _: CjException => m.logError("Failed to read model"); failed = true }
    }
    Outcome(m.logsOut, m.cityObjectCount, failed)
  }
}

/** Converter-internal error; equivalent of CityModel::Exception. */
private[cj] final class CjException extends RuntimeException(null, null, false, false)

private[cj] object P {
  // engine RdfPropertyType codes (engine/include/engine.h:50-56)
  val OBJ = 1
  val BOOL = 2
  val CHAR = 3
  val DOUBLE = 5
}

private[cj] final class CjModel(docIri: String, val settings: CjSettings, sink: CjSink) {

  // ------------------------------------------------------------------ output
  private val logs = Vector.newBuilder[LogRow]
  var cityObjectCount: Int = 0

  def logsOut: Vector[LogRow] = logs.result()

  /** The single emission point: every triple goes to the sink from here. */
  def emit(s: String, p: String, oIri: String, oLit: String, oType: String): Unit =
    sink.triple(s, p, oIri, oLit, oType)

  /** The literal triple `(s, p, lit)` whose ASCII text is in [[lit]]. */
  def emitLit(s: String, p: String, oType: String): Unit =
    sink.asciiLiteral(s, p, lit, oType)

  /** Scratch buffer for array literals, reused by every [[emitLit]]. */
  val lit = new AsciiBuf(1 << 12)

  // ----------------------------------------------------- converter state/path
  // ConverterState analog (CommonDefs.h:106-162): JSON-path lineage stack.
  private val pathStack = mutable.ArrayBuffer[String]()
  def pushMember(n: String): Unit = pathStack += ("/" + n)
  def pushIndex(i: Int): Unit = pathStack += s"[$i]"
  def popState(): Unit = pathStack.remove(pathStack.length - 1)
  def pathString: String = pathStack.mkString

  // ------------------------------------------------------------------ logging
  private def fmt(f: String, args: Seq[Any]): String = {
    // printf-style %s/%d only (all the reference uses); best-effort.
    var out = f
    args.foreach { a =>
      val i = math.min(
        Option(out.indexOf("%s")).filter(_ >= 0).getOrElse(Int.MaxValue),
        Option(out.indexOf("%d")).filter(_ >= 0).getOrElse(Int.MaxValue))
      if (i != Int.MaxValue) out = out.substring(0, i) + String.valueOf(a) + out.substring(i + 2)
    }
    out
  }
  def logMsg(level: String, category: String, args: Any*): Unit =
    logs += LogRow(level, category, fmt(category, args), pathString)
  def logInfo(category: String, args: Any*): Unit = logMsg("Info", category, args: _*)
  def logWarning(category: String, args: Any*): Unit = logMsg("Warning", category, args: _*)
  def logError(category: String, args: Any*): Unit = logMsg("Error", category, args: _*)
  def throwError(category: String, args: Any*): Nothing = {
    logError(category, args: _*)
    throw new CjException
  }
  /** rapidjson assertion hook analog (pch.h:27-28, CityJsonRDF.cpp:46-52):
    * malformed-shape access logs an Error and aborts the enclosing unit. */
  def jsonAssert(cond: Boolean, what: String): Unit =
    if (!cond) throwError("error in JSON data: '%s'", what)

  // --------------------------------------------------------------- JSON shape
  def jStr(n: JsonNode): String = { jsonAssert(n != null && n.isTextual, "IsString()"); n.asText }
  def jInt(n: JsonNode): Int = { jsonAssert(n != null && n.isIntegralNumber && n.canConvertToInt, "IsInt()"); n.intValue }
  def jDouble(n: JsonNode): Double = { jsonAssert(n != null && n.isNumber, "IsNumber()"); n.doubleValue }
  def jBool(n: JsonNode): Boolean = { jsonAssert(n != null && n.isBoolean, "IsBool()"); n.booleanValue }
  def jArr(n: JsonNode): JsonNode = { jsonAssert(n != null && n.isArray, "IsArray()"); n }
  def jObj(n: JsonNode): JsonNode = { jsonAssert(n != null && n.isObject, "IsObject()"); n }
  /** strict operator[] on arrays (rapidjson asserts on non-array / OOB). */
  def jIdx(n: JsonNode, i: Int): JsonNode = {
    jsonAssert(n != null && n.isArray && i >= 0 && i < n.size, "index < Size()")
    n.get(i)
  }
  def members(n: JsonNode): Iterator[(String, JsonNode)] = {
    jObj(n)
    val it = n.fields()
    new Iterator[(String, JsonNode)] {
      def hasNext: Boolean = it.hasNext
      def next(): (String, JsonNode) = { val e = it.next(); (e.getKey, e.getValue) }
    }
  }
  def elems(n: JsonNode): Iterator[JsonNode] = {
    jArr(n)
    val it = n.elements()
    new Iterator[JsonNode] { def hasNext = it.hasNext; def next() = it.next() }
  }
  private def isMissing(n: JsonNode): Boolean = n == null || n.isNull

  // --------------------------------------------------------------- ontology
  // Engine built-in classes referenced by the converter (geom.h wrappers);
  // they pre-exist in the model, so GetClassByName finds them without a
  // CreateClass — we reference their IRIs without emitting definitions.
  private val builtinClasses = Set(
    "Collection", "BoundaryRepresentation", "Transformation", "Matrix",
    "Material", "Color", "ColorComponent", "Texture", "GeometricItem")

  private val classes = mutable.HashSet[String]()
  private val classParents = mutable.HashMap[String, List[String]]()
  private val props = mutable.HashMap[String, Int]()
  private val cardinality = mutable.HashMap[(String, String), (Long, Long)]()

  private def classExists(name: String): Boolean =
    classes.contains(name) || builtinClasses.contains(name)

  /** CityModel::GetOrCreateClass (CityModel.cpp:382-400). */
  def getOrCreateClass(name: String, addPrefix: Boolean, parent1: String = null, parent2: String = null): String = {
    val full = if (addPrefix) "City." + name else name
    if (!classExists(full)) {
      classes += full
      emit(full, V.RdfType, V.OwlClass, null, null)
      addClassParent(full, parent1)
      addClassParent(full, parent2)
    }
    full
  }

  /** CityModel::AddClassParent (CityModel.cpp:405-416). */
  def addClassParent(cls: String, parentName: String): Unit = {
    if (parentName != null) {
      if (classExists(parentName)) {
        emit(cls, V.RdfsSubClassOf, parentName, null, null)
        classParents(cls) = parentName :: classParents.getOrElse(cls, Nil)
      } else {
        // reference logs with a malformed format string — category kept verbatim
        logError("Class '%' does not exist")
      }
    }
  }

  /** Aggregated cardinality: the engine's per-class restriction lookup walks
    * the inheritance chain (GetClassPropertyAggregatedCardinalityRestriction,
    * engine/include/engine.h); we search self-then-ancestors, first hit wins. */
  private def aggregatedCard(cls: String, prop: String): Option[(Long, Long)] = {
    val seen = mutable.HashSet[String]()
    def walk(c: String): Option[(Long, Long)] =
      if (!seen.add(c)) None
      else cardinality.get((c, prop)) match {
        case s @ Some(_) => s
        case None => classParents.getOrElse(c, Nil).reverseIterator.map(walk).collectFirst { case Some(x) => x }
      }
    walk(cls)
  }

  /** CityModel::GetOrCreateProperty (CityModel.cpp:420-474), including the
    * reference quirks: name-collision on type or cardinality mismatch creates
    * a `_<n>`-suffixed property WITHOUT the original prefix (the recursive
    * call passes NULL prefix, CityModel.cpp:443,454), and defaults are
    * minCard=0, maxCard=1 (CityModel.h:29).
    */
  def getOrCreateProperty(cls: String, propName: String, prefix: String, ptype: Int,
      refCls: String = null, minCard: Long = 0, maxCard: Long = 1, attempt: Int = 0): String = {
    var full = (if (prefix != null) prefix else "") + propName
    if (attempt > 0) full += "_" + attempt
    props.get(full) match {
      case Some(existingType) =>
        if (existingType != ptype) {
          logWarning("Porperty '%s' exists but type mismatches", full)
          getOrCreateProperty(cls, propName, null, ptype, refCls, minCard, maxCard, attempt + 1)
        } else aggregatedCard(cls, full) match {
          case None =>
            cardinality((cls, full)) = (minCard, maxCard)
            emit(cls, V.GraftRestriction, full, s"$minCard..$maxCard", null)
            full
          case Some((mn, mx)) if mn != minCard || mx != maxCard =>
            logWarning("Porperty '%s' exists but cardinality mismatches", full)
            getOrCreateProperty(cls, propName, null, ptype, refCls, minCard, maxCard, attempt + 1)
          case Some(_) => full
        }
      case None =>
        props(full) = ptype
        if (ptype == P.OBJ) {
          emit(full, V.RdfType, V.OwlObjectProperty, null, null)
          if (refCls != null && classExists(refCls)) emit(full, V.GraftRange, refCls, null, null)
        } else {
          emit(full, V.RdfType, V.OwlDatatypeProperty, null, null)
          val xsd = ptype match {
            case P.BOOL => V.XsdBoolean
            case P.DOUBLE => V.XsdDouble
            case _ => V.XsdString
          }
          emit(full, V.GraftRange, xsd, null, null)
        }
        cardinality((cls, full)) = (minCard, maxCard)
        emit(cls, V.GraftRestriction, full, s"$minCard..$maxCard", null)
        full
    }
  }

  // --------------------------------------------------------------- instances
  // the creation index of each minted instance; its class and name by index
  private val instPrefix = docIri + "/i"
  private val instIndex = mutable.HashMap[String, Int]()
  private val instClass = mutable.ArrayBuffer[String]()
  private val instName = mutable.ArrayBuffer[String]()

  /** engine CreateInstance: mints a deterministic per-document IRI (no blank
    * nodes — SURVEY.md §7.4). */
  def createInstance(cls: String, name: String = null): String = {
    val iri = instPrefix + (instClass.length + 1)
    instIndex(iri) = instClass.length
    instClass += cls
    instName += null
    emit(iri, V.RdfType, cls, null, null)
    if (name != null) setInstanceName(iri, name)
    iri
  }

  private def indexOf(inst: String): Int = instIndex.getOrElse(inst,
    throw new NoSuchElementException(s"not an instance of this document: $inst"))

  def setInstanceName(inst: String, name: String): Unit = {
    instName(indexOf(inst)) = name
    emit(inst, V.RdfName, null, name, V.XsdString)
  }
  def nameOfInstance(inst: String): String =
    if (inst == null) null else { val i = instIndex.getOrElse(inst, -1); if (i < 0) null else instName(i) }
  def classOfInstance(inst: String): String = instClass(indexOf(inst))

  def fmtD(d: Double): String = java.lang.Double.toString(d)

  def setDatatype(inst: String, prop: String, lit: String, xsd: String): Unit =
    emit(inst, prop, null, lit, xsd)
  def setDatatypeDoubles(inst: String, prop: String, values: Seq[Double]): Unit = {
    lit.clear()
    lit.appendDoubles(values)
    emitLit(inst, prop, V.XsdDoubleArray)
  }
  def setObjectProp(inst: String, prop: String, target: String): Unit =
    emit(inst, prop, target, null, null)
  /** engine SetObjectTypeProperty / GEOM set_objects: array-valued object
    * property; ordinal kept in obj_lit so member order survives. */
  def setObjectArray(inst: String, prop: String, targets: Seq[String]): Unit =
    targets.zipWithIndex.foreach { case (t, i) => emit(inst, prop, t, i.toString, null) }

  // ------------------------------------------------------------ sub-modules
  val geometry = new CjGeometry(this)
  val appearance = new CjAppearance(this)

  // =================================================================== driver

  /** CityModel::ConvertCityJSONObject (CityModel.cpp:115-218). */
  def convertCityJSONObject(root: JsonNode): Unit = {
    var typ: String = null
    var version: String = null
    var cityObjects: JsonNode = null
    var metadata: JsonNode = null

    members(root).foreach { case (name, value) =>
      name match {
        case "type" => typ = jStr(value)
        case "version" => version = jStr(value)
        case "vertices" => geometry.cityVertices = value
        case "appearance" =>
          pushMember(name); appearance.setCityAppearance(value); popState()
        case "transform" => geometry.setCityTransform(value)
        case "geometry-templates" => geometry.setGeometryTemplates(value)
        case "CityObjects" => cityObjects = value
        case "metadata" => metadata = value
        case "extensions" => () // captured but never converted (CityModel.cpp:151-153)
        case other => logInfo("Unsupported CityJSON Object member: %s", other)
      }
    }

    if (typ == null || typ != "CityJSON")
      logError("Unexpected CityJSON Object type: '%s'", if (typ == null) "(NULL)" else typ)
    if (version == null || math.abs(atof(version) - 1.1) > java.lang.Double.MIN_VALUE)
      logError("Unsupported version: '%s'", if (version == null) "(NULL)" else version)

    initOntology()

    // std::map keyed by id: insertion during the doc-ordered walk, but
    // iteration (SetupChildren) in sorted order (CityModel.h:48).
    val objects = mutable.TreeMap[String, CObj]()

    pushMember("CityObjects")
    members(cityObjects).foreach { case (id, jobject) =>
      pushMember(id)
      val obj = objects.getOrElseUpdate(id, new CObj)
      try convertCityObject(obj, id, jobject)
      catch { case _: CjException => logError("Failed to convert city object") }
      popState()
      cityObjectCount += 1
    }
    popState()

    val topLevel = mutable.ArrayBuffer[String]()
    setupChildren(objects, topLevel)

    val safeTyp = if (typ == null) "" else typ // reference UB on missing type; we degrade gracefully
    val cls = getOrCreateClass(safeTyp, addPrefix = true, "City.Object")
    val city = createInstance(cls, safeTyp)
    setObjectArray(city, "children", topLevel.toSeq)
    createAttribute(city, "metadata", "city.prop.", metadata)
  }

  /** atof semantics: parse the longest numeric prefix, 0.0 if none. */
  private def atof(s: String): Double = {
    val m = "^[ \\t]*[+-]?(\\d+(\\.\\d*)?|\\.\\d+)([eE][+-]?\\d+)?".r.findFirstIn(s)
    m.map(_.trim.toDouble).getOrElse(0.0)
  }

  /** CityModel::InitOntology (CityModel.cpp:98-111). */
  private def initOntology(): Unit = {
    val clsGenericObject = getOrCreateClass("City.Object", addPrefix = false)
    val clsGeometryObject = getOrCreateClass("City.GeometryObject", addPrefix = false)
    getOrCreateClass("City.GeometryBody", addPrefix = false, "City.GeometryObject", "Collection")
    getOrCreateClass("City.SurfaceSemantic", addPrefix = false)
    getOrCreateClass("City.Attributes", addPrefix = false)
    getOrCreateProperty(clsGenericObject, "representation", null, P.OBJ, "City.GeometryObject", 0, -1)
    getOrCreateProperty(clsGenericObject, "children", null, P.OBJ, "City.Object", 0, -1)
    getOrCreateProperty(clsGeometryObject, "city.prop.LoD", null, P.CHAR)
  }

  final class CObj {
    var owl: String = null
    val parents = mutable.TreeSet[String]()
    val children = mutable.TreeSet[String]()
  }

  /** CityModel::ConvertCityObject (CityModel.cpp:313-378). */
  private def convertCityObject(obj: CObj, id: String, jobject: JsonNode): Unit = {
    var jtype: JsonNode = null
    var jgeometry: JsonNode = null
    var attributes: JsonNode = null

    members(jobject).foreach { case (name, value) =>
      name match {
        case "type" => jtype = value
        case "geometry" => jgeometry = value
        case "attributes" => attributes = value
        case "parents" =>
          pushMember(name)
          elems(value).foreach(p => obj.parents += jStr(p))
          popState()
        case "children" =>
          pushMember(name)
          elems(value).foreach(c => obj.children += jStr(c))
          popState()
        case other => logInfo("Unsupported city object member '%s'", other)
      }
    }

    val typ = jStr(jtype)

    val geomItems = mutable.ArrayBuffer[String]()
    if (jgeometry != null && jgeometry.isArray) {
      pushMember("geometry")
      geometry.convert(jgeometry, geomItems)
      popState()
    }

    val cls = getOrCreateClass(typ, addPrefix = true, "City.Object")
    val instance = createInstance(cls, id)
    obj.owl = instance

    setObjectArray(instance, "representation", geomItems.toSeq)

    if (!isMissing(attributes)) {
      pushMember("attributes")
      members(attributes).foreach { case (name, value) =>
        pushMember(name)
        createAttribute(instance, name, "city.prop.attr.", value)
        popState()
      }
      popState()
    }

    // CreateAttribute(instance, CJProp_ObjectId, NULL, id) with a string value
    // (CityModel.cpp:377) — inlined string branch of the attribute lattice.
    val idProp = getOrCreateProperty(classOfInstance(instance), "city.prop.id", null, P.CHAR)
    setDatatype(instance, idProp, id, V.XsdString)
  }

  /** CityModel::SetupChildren (CityModel.cpp:262-308). The reference's first
    * pass mutates map-value COPIES (`auto parent = objects[parentId]`), so
    * one-sided parent/child declarations do NOT propagate; its only effect is
    * default-materializing referenced-but-undefined ids (empty, owl-less
    * slots). We reproduce that observable behavior, not the mechanics.
    */
  private def setupChildren(objects: mutable.TreeMap[String, CObj], topLevel: mutable.ArrayBuffer[String]): Unit = {
    val referenced = objects.valuesIterator.flatMap(o => o.parents.iterator ++ o.children.iterator).toVector
    referenced.foreach(id => objects.getOrElseUpdate(id, new CObj))

    // snapshot: the reference iterates the live std::map while operator[]
    // inserts empty slots; those slots are owl-less and emit nothing, so a
    // snapshot yields identical output without iterator-invalidation hazards
    objects.toVector.foreach { case (_, obj) =>
      if (obj.owl != null) {
        val owlChildren = obj.children.toSeq.flatMap { childId =>
          Option(objects.getOrElseUpdate(childId, new CObj).owl)
        }
        if (owlChildren.nonEmpty) setObjectArray(obj.owl, "children", owlChildren)
        if (obj.parents.isEmpty) topLevel += obj.owl
      }
    }
  }

  /** CityModel::ConvertAttributeObject (CityModel.cpp:477-488). */
  private def convertAttributeObject(name: String, value: JsonNode): String = {
    val cls = getOrCreateClass(name, addPrefix = true, "City.Attributes")
    val inst = createInstance(cls)
    members(value).foreach { case (n, v) => createAttribute(inst, n, "city.prop.attr.", v) }
    inst
  }

  /** CityModel::CreateAttribute (CityModel.cpp:493-561) — the attribute type
    * lattice {bool, double, string, double[], object}; nulls dropped, arrays
    * of size<=1 dropped silently, non-number arrays logged + dropped.
    */
  def createAttribute(instance: String, name: String, prefix: String, value: JsonNode): Unit = {
    val cls = classOfInstance(instance)
    if (value == null || value.isNull) return
    if (value.isTextual) {
      val prop = getOrCreateProperty(cls, name, prefix, P.CHAR)
      setDatatype(instance, prop, value.asText, V.XsdString)
    } else if (value.isNumber) {
      val prop = getOrCreateProperty(cls, name, prefix, P.DOUBLE)
      setDatatype(instance, prop, fmtD(value.doubleValue), V.XsdDouble)
    } else if (value.isBoolean) {
      val prop = getOrCreateProperty(cls, name, prefix, P.BOOL)
      setDatatype(instance, prop, value.booleanValue.toString, V.XsdBoolean)
    } else if (value.isObject) {
      val target = convertAttributeObject(name, value)
      val prop = getOrCreateProperty(cls, name, prefix, P.OBJ, classOfInstance(target))
      setObjectProp(instance, prop, target)
    } else if (value.isArray) {
      if (value.size > 1) {
        if (value.get(0).isNumber) {
          val vals = elems(value).map(jDouble).toVector
          val prop = getOrCreateProperty(cls, name, prefix, P.DOUBLE, null, 0, -1)
          setDatatypeDoubles(instance, prop, vals)
        } else {
          logInfo("Attribte '%s' array type is not implemented", name)
        }
      }
    } else {
      logInfo("Attribte '%s' type is not implemented", name)
    }
  }
}
