package graft.cj

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

  /** What converting one document reports besides its triples, which went
    * to a [[CjSink]]. */
  private[cj] final case class Outcome(logs: Vector[LogRow], cityObjectCount: Int, docFailed: Boolean)

  /** Convert one CityJSON document from its bytes. Never throws on malformed
    * content within the document: per-object and per-geometry-item failures
    * are isolated exactly like the reference (CityModel.cpp:182-188,
    * Geometry.cpp:33-41). A top-level failure (unparseable JSON, missing
    * CityObjects) yields no triples plus an Error log — the analog of
    * CityJsonRDF.cpp:34-37 "Failed to read model".
    */
  def convert(docIri: String, bytes: Array[Byte], settings: CjSettings): Result =
    collect(docIri, CjJson.parse(bytes), settings)

  /** [[convert]] of the document whose text is `jsonText`. */
  def convert(docIri: String, jsonText: String, settings: CjSettings = CjSettings.default): Result =
    collect(docIri, CjJson.parse(jsonText), settings)

  private def collect(docIri: String, json: CjJson, settings: CjSettings): Result = {
    val out = new CjSink.Collect
    val o = convertTo(out, docIri, json, settings)
    Result(if (o.docFailed) Vector.empty else out.triples.result(), o.logs, o.cityObjectCount, o.docFailed)
  }

  /** [[convert]] of the parsed document `json` (null when its text is not
    * JSON, see [[CjJson.parse]]), with every triple handed to `sink` as it
    * is emitted. On a document-level failure the sink has already seen the
    * triples emitted before it; the caller drops them. */
  private[cj] def convertTo(sink: CjSink, docIri: String, json: CjJson,
      settings: CjSettings = CjSettings.default): Outcome = {
    val m = new CjModel(docIri, settings, sink, json)
    var failed = false
    if (json == null || json.isNull(0)) {
      m.logError("Invalid or empty JSON file '%s'", docIri)
      failed = true
    } else {
      try m.convertCityJSONObject(0)
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

/** The converter's state for one document. JSON values are positions in
  * `json` ([[CjJson.Absent]] for none) and instances are their creation
  * indices (-1 for none); only [[emit]] sees IRIs. */
private[cj] final class CjModel(docIri: String, val settings: CjSettings, sink: CjSink, val json: CjJson) {

  // ------------------------------------------------------------------ output
  private val logs = Vector.newBuilder[LogRow]
  var cityObjectCount: Int = 0

  def logsOut: Vector[LogRow] = logs.result()

  /** The single emission point: every triple goes to the sink from here. */
  def emit(s: String, p: String, oIri: String, oLit: String, oType: String): Unit =
    sink.triple(s, p, oIri, oLit, oType)

  /** The literal triple `(inst, p, lit)` whose ASCII text is in [[lit]]. */
  def emitLit(inst: Int, p: String, oType: String): Unit =
    sink.asciiLiteral(iri(inst), p, lit, oType)

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
  def jStr(n: Int): String = { jsonAssert(json.isString(n), "IsString()"); json.str(n) }
  def jInt(n: Int): Int = { jsonAssert(json.isInt(n), "IsInt()"); json.int(n) }
  def jDouble(n: Int): Double = { jsonAssert(json.isNumber(n), "IsNumber()"); json.double(n) }
  def jBool(n: Int): Boolean = { jsonAssert(json.isBool(n), "IsBool()"); json.bool(n) }
  def jArr(n: Int): Int = { jsonAssert(json.isArray(n), "IsArray()"); n }
  def jObj(n: Int): Int = { jsonAssert(json.isObject(n), "IsObject()"); n }
  /** strict operator[] on arrays (rapidjson asserts on non-array / OOB). */
  def jIdx(n: Int, i: Int): Int = {
    jsonAssert(json.isArray(n) && i >= 0 && i < json.size(n), "index < Size()")
    json.elem(n, i)
  }
  def members(n: Int): json.Members = json.members(jObj(n))
  def elems(n: Int): json.Elems = json.elems(jArr(n))

  // --------------------------------------------------------------- ontology
  // Engine built-in classes referenced by the converter (geom.h wrappers);
  // they pre-exist in the model, so GetClassByName finds them without a
  // CreateClass — we reference their IRIs without emitting definitions.
  private val builtinClasses = Set(
    "Collection", "BoundaryRepresentation", "Transformation", "Matrix",
    "Material", "Color", "ColorComponent", "Texture", "GeometricItem")

  /** A class's parents (in the order they were added) and the cardinality
    * restrictions declared on it, by property. */
  private final class Cls {
    var parents: List[Cls] = Nil // newest first
    val card = new java.util.HashMap[String, (Long, Long)]()
  }
  // the classes this document created, and entries for built-ins as used
  private val classes = new java.util.HashMap[String, Cls]()
  private val props = mutable.HashMap[String, Int]()

  private def classExists(name: String): Boolean =
    classes.containsKey(name) || builtinClasses.contains(name)

  private def cls(name: String): Cls = {
    var c = classes.get(name)
    if (c == null) { c = new Cls; classes.put(name, c) }
    c
  }

  /** CityModel::GetOrCreateClass (CityModel.cpp:382-400). */
  def getOrCreateClass(name: String, addPrefix: Boolean, parent1: String = null, parent2: String = null): String = {
    val full = if (addPrefix) "City." + name else name
    if (!classExists(full)) {
      cls(full)
      emit(full, V.RdfType, V.OwlClass, null, null)
      addClassParent(full, parent1)
      addClassParent(full, parent2)
    }
    full
  }

  /** CityModel::AddClassParent (CityModel.cpp:405-416). A class links only
    * to classes that already exist, so the class graph has no cycles. */
  def addClassParent(name: String, parentName: String): Unit = {
    if (parentName != null) {
      if (classExists(parentName)) {
        emit(name, V.RdfsSubClassOf, parentName, null, null)
        val c = cls(name)
        c.parents = cls(parentName) :: c.parents
      } else {
        // reference logs with a malformed format string — category kept verbatim
        logError("Class '%' does not exist")
      }
    }
  }

  /** Aggregated cardinality: the engine's per-class restriction lookup walks
    * the inheritance chain (GetClassPropertyAggregatedCardinalityRestriction,
    * engine/include/engine.h); we search self, then each parent in the order
    * it was added, depth first; the first hit wins, null if none. */
  private def aggregatedCard(c: Cls, prop: String, depth: Int = 0): (Long, Long) = {
    val own = c.card.get(prop)
    if (own != null || depth >= CjModel.MaxClassDepth) own
    else firstCard(c.parents, prop, depth + 1)
  }

  /** The first hit among `parents`, oldest first (the list is newest first). */
  private def firstCard(parents: List[Cls], prop: String, depth: Int): (Long, Long) =
    if (parents.isEmpty) null
    else {
      val older = firstCard(parents.tail, prop, depth)
      if (older != null) older else aggregatedCard(parents.head, prop, depth)
    }

  /** CityModel::GetOrCreateProperty (CityModel.cpp:420-474), including the
    * reference quirks: name-collision on type or cardinality mismatch creates
    * a `_<n>`-suffixed property WITHOUT the original prefix (the recursive
    * call passes NULL prefix, CityModel.cpp:443,454), and defaults are
    * minCard=0, maxCard=1 (CityModel.h:29).
    */
  def getOrCreateProperty(clsName: String, propName: String, prefix: String, ptype: Int,
      refCls: String = null, minCard: Long = 0, maxCard: Long = 1, attempt: Int = 0): String = {
    var full = (if (prefix != null) prefix else "") + propName
    if (attempt > 0) full += "_" + attempt
    val c = cls(clsName)
    props.get(full) match {
      case Some(existingType) =>
        if (existingType != ptype) {
          logWarning("Porperty '%s' exists but type mismatches", full)
          getOrCreateProperty(clsName, propName, null, ptype, refCls, minCard, maxCard, attempt + 1)
        } else {
          val card = aggregatedCard(c, full)
          if (card == null) {
            c.card.put(full, (minCard, maxCard))
            emit(clsName, V.GraftRestriction, full, s"$minCard..$maxCard", null)
            full
          } else if (card._1 != minCard || card._2 != maxCard) {
            logWarning("Porperty '%s' exists but cardinality mismatches", full)
            getOrCreateProperty(clsName, propName, null, ptype, refCls, minCard, maxCard, attempt + 1)
          } else full
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
        c.card.put(full, (minCard, maxCard))
        emit(clsName, V.GraftRestriction, full, s"$minCard..$maxCard", null)
        full
    }
  }

  // --------------------------------------------------------------- instances
  // the IRI, class and name of each minted instance, by creation index
  private val instPrefix = docIri + "/i"
  private var instIri = new Array[String](64)
  private var instClass = new Array[String](64)
  private var instName = new Array[String](64)
  private var nInst = 0

  /** engine CreateInstance: mints a deterministic per-document IRI (no blank
    * nodes — SURVEY.md §7.4) and returns the instance's creation index. */
  def createInstance(cls: String, name: String = null): Int = {
    if (nInst == instIri.length) {
      instIri = java.util.Arrays.copyOf(instIri, nInst * 2)
      instClass = java.util.Arrays.copyOf(instClass, nInst * 2)
      instName = java.util.Arrays.copyOf(instName, nInst * 2)
    }
    val i = nInst
    nInst += 1
    instIri(i) = instPrefix + nInst
    instClass(i) = cls
    emit(instIri(i), V.RdfType, cls, null, null)
    if (name != null) setInstanceName(i, name)
    i
  }

  private def check(inst: Int): Int =
    if (inst >= 0 && inst < nInst) inst
    else throw new NoSuchElementException(s"not an instance of this document: $inst")

  def iri(inst: Int): String = instIri(check(inst))
  def setInstanceName(inst: Int, name: String): Unit = {
    instName(check(inst)) = name
    emit(instIri(inst), V.RdfName, null, name, V.XsdString)
  }
  def nameOfInstance(inst: Int): String = if (inst < 0) null else instName(check(inst))
  def classOfInstance(inst: Int): String = instClass(check(inst))

  def fmtD(d: Double): String = java.lang.Double.toString(d)

  def setDatatype(inst: Int, prop: String, lit: String, xsd: String): Unit =
    emit(iri(inst), prop, null, lit, xsd)
  def setDatatypeDoubles(inst: Int, prop: String, values: Seq[Double]): Unit = {
    lit.clear()
    lit.appendDoubles(values)
    emitLit(inst, prop, V.XsdDoubleArray)
  }
  def setObjectProp(inst: Int, prop: String, target: Int): Unit =
    emit(iri(inst), prop, iri(target), null, null)
  /** engine SetObjectTypeProperty / GEOM set_objects: array-valued object
    * property; ordinal kept in obj_lit so member order survives. */
  def setObjectArray(inst: Int, prop: String, targets: IntBuf): Unit = {
    var k = 0
    while (k < targets.length) { setObjectItem(inst, prop, targets(k), k); k += 1 }
  }
  /** Member `k` of an array-valued object property. */
  def setObjectItem(inst: Int, prop: String, target: Int, k: Int): Unit =
    emit(iri(inst), prop, iri(target), Integer.toString(k), null)

  // ------------------------------------------------------------ sub-modules
  val geometry = new CjGeometry(this)
  val appearance = new CjAppearance(this)

  // =================================================================== driver

  /** CityModel::ConvertCityJSONObject (CityModel.cpp:115-218). */
  def convertCityJSONObject(root: Int): Unit = {
    var typ: String = null
    var version: String = null
    var cityObjects = CjJson.Absent
    var metadata = CjJson.Absent

    val ms = members(root)
    while (ms.next()) {
      val value = ms.value
      ms.name match {
        case "type" => typ = jStr(value)
        case "version" => version = jStr(value)
        case "vertices" => geometry.cityVertices = value
        case "appearance" =>
          pushMember(ms.name); appearance.setCityAppearance(value); popState()
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
    val cos = members(cityObjects)
    while (cos.next()) {
      val id = cos.name
      pushMember(id)
      val obj = objects.getOrElseUpdate(id, new CObj)
      try convertCityObject(obj, id, cos.value)
      catch { case _: CjException => logError("Failed to convert city object") }
      popState()
      cityObjectCount += 1
    }
    popState()

    val topLevel = new IntBuf
    setupChildren(objects, topLevel)

    val safeTyp = if (typ == null) "" else typ // reference UB on missing type; we degrade gracefully
    val cls = getOrCreateClass(safeTyp, addPrefix = true, "City.Object")
    val city = createInstance(cls, safeTyp)
    setObjectArray(city, "children", topLevel)
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
    var owl: Int = -1
    val parents = mutable.TreeSet[String]()
    val children = mutable.TreeSet[String]()
  }

  /** CityModel::ConvertCityObject (CityModel.cpp:313-378). */
  private def convertCityObject(obj: CObj, id: String, jobject: Int): Unit = {
    var jtype = CjJson.Absent
    var jgeometry = CjJson.Absent
    var attributes = CjJson.Absent

    val ms = members(jobject)
    while (ms.next()) {
      val value = ms.value
      ms.name match {
        case "type" => jtype = value
        case "geometry" => jgeometry = value
        case "attributes" => attributes = value
        case "parents" =>
          pushMember(ms.name)
          val es = elems(value)
          while (es.hasNext) obj.parents += jStr(es.next())
          popState()
        case "children" =>
          pushMember(ms.name)
          val es = elems(value)
          while (es.hasNext) obj.children += jStr(es.next())
          popState()
        case other => logInfo("Unsupported city object member '%s'", other)
      }
    }

    val typ = jStr(jtype)

    val geomItems = new IntBuf
    if (json.isArray(jgeometry)) {
      pushMember("geometry")
      geometry.convert(jgeometry, geomItems)
      popState()
    }

    val cls = getOrCreateClass(typ, addPrefix = true, "City.Object")
    val instance = createInstance(cls, id)
    obj.owl = instance

    setObjectArray(instance, "representation", geomItems)

    if (attributes >= 0 && !json.isNull(attributes)) {
      pushMember("attributes")
      val as = members(attributes)
      while (as.next()) {
        pushMember(as.name)
        createAttribute(instance, as.name, "city.prop.attr.", as.value)
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
  private def setupChildren(objects: mutable.TreeMap[String, CObj], topLevel: IntBuf): Unit = {
    val referenced = objects.valuesIterator.flatMap(o => o.parents.iterator ++ o.children.iterator).toVector
    referenced.foreach(id => objects.getOrElseUpdate(id, new CObj))

    // snapshot: the reference iterates the live std::map while operator[]
    // inserts empty slots; those slots are owl-less and emit nothing, so a
    // snapshot yields identical output without iterator-invalidation hazards
    val owlChildren = new IntBuf
    objects.toVector.foreach { case (_, obj) =>
      if (obj.owl >= 0) {
        owlChildren.clear()
        obj.children.foreach { childId =>
          val owl = objects.getOrElseUpdate(childId, new CObj).owl
          if (owl >= 0) owlChildren += owl
        }
        if (owlChildren.length > 0) setObjectArray(obj.owl, "children", owlChildren)
        if (obj.parents.isEmpty) topLevel += obj.owl
      }
    }
  }

  /** CityModel::ConvertAttributeObject (CityModel.cpp:477-488). */
  private def convertAttributeObject(name: String, value: Int): Int = {
    val cls = getOrCreateClass(name, addPrefix = true, "City.Attributes")
    val inst = createInstance(cls)
    val ms = members(value)
    while (ms.next()) createAttribute(inst, ms.name, "city.prop.attr.", ms.value)
    inst
  }

  /** CityModel::CreateAttribute (CityModel.cpp:493-561) — the attribute type
    * lattice {bool, double, string, double[], object}; nulls dropped, arrays
    * of size<=1 dropped silently, non-number arrays logged + dropped.
    */
  def createAttribute(instance: Int, name: String, prefix: String, value: Int): Unit = {
    val cls = classOfInstance(instance)
    if (value < 0 || json.isNull(value)) return
    if (json.isString(value)) {
      val prop = getOrCreateProperty(cls, name, prefix, P.CHAR)
      setDatatype(instance, prop, json.str(value), V.XsdString)
    } else if (json.isNumber(value)) {
      val prop = getOrCreateProperty(cls, name, prefix, P.DOUBLE)
      setDatatype(instance, prop, fmtD(json.double(value)), V.XsdDouble)
    } else if (json.isBool(value)) {
      val prop = getOrCreateProperty(cls, name, prefix, P.BOOL)
      setDatatype(instance, prop, json.bool(value).toString, V.XsdBoolean)
    } else if (json.isObject(value)) {
      val target = convertAttributeObject(name, value)
      val prop = getOrCreateProperty(cls, name, prefix, P.OBJ, classOfInstance(target))
      setObjectProp(instance, prop, target)
    } else if (json.isArray(value)) {
      if (json.size(value) > 1) {
        if (json.isNumber(json.elem(value, 0))) {
          val vals = Vector.newBuilder[Double]
          val es = elems(value)
          while (es.hasNext) vals += jDouble(es.next())
          val prop = getOrCreateProperty(cls, name, prefix, P.DOUBLE, null, 0, -1)
          setDatatypeDoubles(instance, prop, vals.result())
        } else {
          logInfo("Attribte '%s' array type is not implemented", name)
        }
      }
    } else {
      logInfo("Attribte '%s' type is not implemented", name)
    }
  }
}

private[cj] object CjModel {
  /** A class chain deeper than this is not searched for restrictions. */
  val MaxClassDepth = 64
}
