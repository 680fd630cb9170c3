package graft.cj

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Triple

/** Unit semantics per SURVEY.md §2 operator rows, exercised through the
  * public convert() API on handcrafted documents and reference fixtures. */
class CjConvertSpec extends AnyFunSuite {

  private def conv(json: String): CjConvert.Result = CjConvert.convert("t:doc", json)
  private def lits(r: CjConvert.Result, pred: String): Vector[String] =
    r.triples.filter(_.pred == pred).map(_.obj_lit)

  // -- G11: coordinate/index accumulation, reversal, terminators ------------

  test("loops are reversed and terminated with -1 (outer) / -2 (holes)") {
    val r = conv("""{"type":"CityJSON","version":"1.1",
      "vertices":[[0,0,0],[10,0,0],[10,10,0],[0,10,0],[2,2,0],[4,2,0],[4,4,0]],
      "CityObjects":{"a":{"type":"Building","geometry":[
        {"type":"MultiSurface","lod":"1","boundaries":[[[0,1,2,3],[4,5,6]]]}]}}}""")
    val idx = lits(r, "geom:indices")
    assert(idx == Vector("[0,1,2,3,-1,4,5,6,-2]"))
    // reversal: vertex 3 first (loop [0,1,2,3] reversed), so coordinate slot 0 = vertex 3
    val verts = lits(r, "geom:vertices").head
    assert(verts.startsWith("[0.0,10.0,0.0")) // vertex 3 = (0,10,0)
  }

  test("per-group vertex dedup assigns first-seen slots across faces") {
    val r = conv("""{"type":"CityJSON","version":"1.1",
      "vertices":[[0,0,0],[1,0,0],[1,1,0],[0,1,0]],
      "CityObjects":{"a":{"type":"Building","geometry":[
        {"type":"MultiSurface","boundaries":[[[0,1,2]],[[2,1,3]]]}]}}}""")
    // face1 reversed: 2,1,0 -> slots 0,1,2 ; face2 reversed: 3,1,2 -> 3, 1(dedup), 0(dedup)
    assert(lits(r, "geom:indices") == Vector("[0,1,2,-1,3,1,0,-1]"))
    assert(lits(r, "geom:vertices").head.split(',').length == 12) // 4 unique vertices
  }

  // -- J1/F4: dequantization -------------------------------------------------

  test("vertices dequantize with v*scale+translate") {
    val r = conv("""{"type":"CityJSON","version":"1.1",
      "transform":{"scale":[0.01,0.01,0.01],"translate":[100.0,200.0,300.0]},
      "vertices":[[50,100,150],[0,0,0],[1,1,1]],
      "CityObjects":{"a":{"type":"Building","geometry":[
        {"type":"MultiSurface","boundaries":[[[0,1,2]]]}]}}}""")
    assert(lits(r, "geom:vertices").head ==
      "[100.01,200.01,300.01,100.0,200.0,300.0,100.5,201.0,301.5]") // reversed: v2,v1,v0
  }

  // -- G8: face grouping by (semantic, materials, textures) ------------------

  test("faces group by semantic surface in first-seen order") {
    val r = conv("""{"type":"CityJSON","version":"1.1",
      "vertices":[[0,0,0],[1,0,0],[1,1,0],[0,1,0]],
      "CityObjects":{"a":{"type":"Building","geometry":[
        {"type":"MultiSurface","boundaries":[[[0,1,2]],[[1,2,3]],[[0,2,3]]],
         "semantics":{"surfaces":[{"type":"WallSurface"},{"type":"RoofSurface"}],
                      "values":[0,1,0]}}]}}}""")
    // two groups: Wall(faces 0,2) then Roof(face 1); group order = first-seen
    val surfaces = r.triples.filter(t => t.pred == "rdf:type" && t.obj_iri == "City.Surface").map(_.subj)
    assert(surfaces.size == 2)
    val names = surfaces.map(s => r.triples.find(t => t.subj == s && t.pred == "rdf:name").get.obj_lit)
    assert(names == Vector("WallSurface", "RoofSurface"))
    val wallIdx = r.triples.find(t => t.subj == surfaces(0) && t.pred == "geom:indices").get.obj_lit
    // faces 0 and 2 merged into one mesh: face0 [0,1,2] reversed -> slots 0,1,2
    // (verts 2,1,0); face2 [0,2,3] reversed -> 3(new),2(slot 0),0(slot 2)
    assert(wallIdx == "[0,1,2,-1,3,0,2,-1]")
  }

  test("semantic surfaces get type property, parent chain and attributes") {
    val r = conv("""{"type":"CityJSON","version":"1.1",
      "vertices":[[0,0,0],[1,0,0],[1,1,0]],
      "CityObjects":{"a":{"type":"Building","geometry":[
        {"type":"MultiSurface","boundaries":[[[0,1,2]]],
         "semantics":{"surfaces":[
            {"type":"Door","parent":1,"custom":"yes"},
            {"type":"WallSurface"}],
          "values":[0]}}]}}}""")
    val door = r.triples.find(t => t.pred == "rdf:name" && t.obj_lit == "Door").get.subj
    val wall = r.triples.find(t => t.pred == "rdf:name" && t.obj_lit == "WallSurface").get.subj
    assert(r.triples.contains(Triple(door, "city.prop.type", null, "Door", "xsd:string")))
    assert(r.triples.contains(Triple(door, "city.prop.parent", wall, null, null)))
    assert(r.triples.contains(Triple(door, "city.prop.attr.custom", null, "yes", "xsd:string")))
  }

  test("semantics values walk is tolerant to short arrays") {
    // values [0] shorter than the 2 faces: face 1 walk keeps the array node,
    // which is not an int -> no semantic (Semantics.cpp:84-105)
    val r = conv("""{"type":"CityJSON","version":"1.1",
      "vertices":[[0,0,0],[1,0,0],[1,1,0]],
      "CityObjects":{"a":{"type":"Building","geometry":[
        {"type":"MultiSurface","boundaries":[[[0,1,2]],[[0,1,2]]],
         "semantics":{"surfaces":[{"type":"RoofSurface"}],"values":[0]}}]}}}""")
    val groups = r.triples.filter(t => t.pred == "rdf:type" && t.obj_iri == "City.Surface")
    assert(groups.size == 2) // semantic group + no-semantic group
  }

  // -- attribute lattice ------------------------------------------------------

  test("attribute type lattice: bool, double, string, double[], object; drops") {
    val r = conv("""{"type":"CityJSON","version":"1.1","vertices":[],
      "CityObjects":{"a":{"type":"Building","attributes":{
        "s":"hello","n":4.5,"b":true,"nul":null,
        "arr":[1,2.5],"arr1":[9],"arrS":["x","y"],
        "obj":{"inner":3}}}}}""")
    def has(p: String, lit: String, typ: String) =
      r.triples.exists(t => t.pred == p && t.obj_lit == lit && t.obj_type == typ)
    assert(has("city.prop.attr.s", "hello", "xsd:string"))
    assert(has("city.prop.attr.n", "4.5", "xsd:double"))
    assert(has("city.prop.attr.b", "true", "xsd:boolean"))
    assert(has("city.prop.attr.arr", "[1.0,2.5]", "xsd:double[]"))
    assert(!r.triples.exists(_.pred == "city.prop.attr.arr1"), "size-1 arrays dropped")
    assert(!r.triples.exists(_.pred == "city.prop.attr.arrS"), "string arrays dropped")
    assert(!r.triples.exists(_.pred == "city.prop.attr.nul"))
    assert(r.logs.exists(_.category == "Attribte '%s' array type is not implemented"))
    // nested object becomes City.obj instance under City.Attributes
    assert(r.triples.exists(t => t.subj == "City.obj" && t.pred == "rdfs:subClassOf" && t.obj_iri == "City.Attributes"))
    val objInst = r.triples.find(t => t.pred == "city.prop.attr.obj").get.obj_iri
    assert(r.triples.contains(Triple(objInst, "city.prop.attr.inner", null, "3.0", "xsd:double")))
  }

  test("property collision mints suffixed name WITHOUT original prefix") {
    val r = conv("""{"type":"CityJSON","version":"1.1","vertices":[],
      "CityObjects":{
        "a":{"type":"Building","attributes":{"x":"str"}},
        "b":{"type":"Building","attributes":{"x":42}}}}""")
    assert(r.triples.exists(t => t.pred == "city.prop.attr.x" && t.obj_type == "xsd:string"))
    // collision: number under the same name -> "x_1" (prefix dropped, CityModel.cpp:443)
    assert(r.triples.exists(t => t.pred == "x_1" && t.obj_lit == "42.0" && t.obj_type == "xsd:double"))
    assert(r.logs.exists(_.category == "Porperty '%s' exists but type mismatches"))
  }

  test("numeric lod collides with bootstrap CHAR LoD property -> city.prop.LoD_1") {
    val r = conv("""{"type":"CityJSON","version":"1.1",
      "vertices":[[0,0,0],[1,0,0],[1,1,0]],
      "CityObjects":{"a":{"type":"Building","geometry":[
        {"type":"MultiSurface","lod":2,"boundaries":[[[0,1,2]]]}]}}}""")
    assert(r.triples.exists(t => t.pred == "city.prop.LoD_1" && t.obj_lit == "2.0"))
    // numeric lod does NOT contribute to the instance name
    assert(r.triples.exists(t => t.pred == "rdf:name" && t.obj_lit == "Item 1"))
  }

  // -- G13: parent/child closure ----------------------------------------------

  test("children edges come from declared children only; roots are parentless") {
    val json = Files.readString(Paths.get("/root/reference/examples/noise_data.city.json"))
    val r = CjConvert.convert("cj:noise_data", json)
    def instOf(name: String) =
      r.triples.find(t => t.pred == "city.prop.id" && t.obj_lit == name).get.subj
    val bench = instOf("a_noisy_bench")
    val seg1 = instOf("thesegment_1")
    val seg2 = instOf("thesegment_2")
    val childEdges = r.triples.filter(t => t.pred == "children" && t.subj == bench).map(_.obj_iri)
    assert(childEdges.toSet == Set(seg1, seg2))
    // the reference's copy-bug: one-sided parents declarations do NOT create
    // reverse edges, but they DO exclude the declarer from the top level
    val city = r.triples.find(t => t.pred == "rdf:name" && t.obj_lit == "CityJSON").get.subj
    val top = r.triples.filter(t => t.pred == "children" && t.subj == city).map(_.obj_iri).toSet
    assert(!top.contains(seg1) && !top.contains(seg2))
    assert(top.contains(bench))
  }

  test("ids referenced but never defined do not appear in output") {
    val r = conv("""{"type":"CityJSON","version":"1.1","vertices":[],
      "CityObjects":{"a":{"type":"Building","children":["ghost"]}}}""")
    val aInst = r.triples.find(t => t.pred == "city.prop.id" && t.obj_lit == "a").get.subj
    assert(!r.triples.exists(t => t.pred == "children" && t.subj == aInst))
  }

  // -- templates / GeometryInstance -------------------------------------------

  test("geometry template converts once, shared by instances; matrix gets insert point") {
    val json = Files.readString(Paths.get("/root/reference/examples/geomtemplate.city.json"))
    val r = CjConvert.convert("cj:gt", json)
    val templates = r.triples.filter(t => t.pred == "rdf:name" && t.obj_lit.startsWith("Template "))
    assert(templates.size == 1, "template converted exactly once")
    val transs = r.triples.filter(t => t.pred == "geom:object").map(_.obj_iri).distinct
    assert(transs == Vector(templates.head.subj), "all transformations share the template subject")
    assert(r.triples.exists(t => t.pred == "geom:_11"))
  }

  test("template vertices are NOT dequantized; insert point IS") {
    val r = conv("""{"type":"CityJSON","version":"1.1",
      "transform":{"scale":[0.001,0.001,0.001],"translate":[10.0,20.0,30.0]},
      "vertices":[[1000,2000,3000]],
      "geometry-templates":{"templates":[
          {"type":"MultiSurface","boundaries":[[[0,1,2]]]}],
        "vertices-templates":[[0.5,0.5,0.0],[1.5,0.5,0.0],[1.5,1.5,0.0]]},
      "CityObjects":{"a":{"type":"Building","geometry":[
        {"type":"GeometryInstance","template":0,"boundaries":[0],
         "transformationMatrix":[1,0,0,7, 0,1,0,8, 0,0,1,9, 0,0,0,1]}]}}}""")
    // template mesh uses raw template vertices (reversed: v2,v1,v0)
    assert(lits(r, "geom:vertices").head == "[1.5,1.5,0.0,1.5,0.5,0.0,0.5,0.5,0.0]")
    // translation column element _41/_42/_43 = matrix element + dequantized vertex
    def mval(p: String) = r.triples.find(_.pred == p).get.obj_lit
    assert(mval("geom:_41") == "18.0") // 7 + (1000*0.001+10)
    assert(mval("geom:_42") == "30.0") // 8 + 22
    assert(mval("geom:_43") == "42.0") // 9 + 33
  }

  // -- P6: error isolation ----------------------------------------------------

  test("a failing city object does not poison siblings") {
    val r = conv("""{"type":"CityJSON","version":"1.1",
      "vertices":[[0,0,0],[1,0,0],[1,1,0]],
      "CityObjects":{
        "bad":{"type":"Building","geometry":"notanarray","attributes":[1,2]},
        "good":{"type":"Building","geometry":[{"type":"MultiSurface","boundaries":[[[0,1,2]]]}]}}}""")
    assert(r.logs.exists(_.category == "Failed to convert city object"))
    assert(r.triples.exists(t => t.pred == "city.prop.id" && t.obj_lit == "good"))
    assert(!r.docFailed)
  }

  test("doc-level failure yields zero triples (NULL-model semantics)") {
    assert(CjConvert.convert("t:x", "{").triples.isEmpty)
    assert(CjConvert.convert("t:x", "{}").triples.isEmpty)
    assert(CjConvert.convert("t:x", "{}").docFailed)
  }

  // -- appearance --------------------------------------------------------------

  test("material color: ambient scaled by ambientIntensity, transparency inverted") {
    val r = conv("""{"type":"CityJSON","version":"1.1",
      "vertices":[[0,0,0],[1,0,0],[1,1,0]],
      "appearance":{"materials":[{"name":"m0","ambientIntensity":0.5,
        "diffuseColor":[0.8,0.4,0.2],"transparency":0.25}]},
      "CityObjects":{"a":{"type":"Building","geometry":[
        {"type":"MultiSurface","boundaries":[[[0,1,2]]],
         "material":{"theme0":{"value":0}}}]}}}""")
    val color = r.triples.find(t => t.pred == "rdf:name" && t.obj_lit == "m0").get.subj
    val ambient = r.triples.find(t => t.subj == color && t.pred == "geom:ambient").get.obj_iri
    assert(r.triples.contains(Triple(ambient, "geom:R", null, "0.4", "xsd:double")))
    assert(r.triples.contains(Triple(color, "geom:transparency", null, "0.75", "xsd:double")))
  }

  test("semantic color fallback applies when no material resolves") {
    val r = conv("""{"type":"CityJSON","version":"1.1",
      "vertices":[[0,0,0],[1,0,0],[1,1,0]],
      "CityObjects":{"a":{"type":"Building","geometry":[
        {"type":"MultiSurface","boundaries":[[[0,1,2]]],
         "semantics":{"surfaces":[{"type":"RoofSurface"}],"values":[0]}}]}}}""")
    // RoofSurface -> [1,0,0] from the default config table, W=1 component
    val w = r.triples.filter(t => t.pred == "geom:W")
    assert(w.size == 1 && w.head.obj_lit == "1.0")
    val cc = w.head.subj
    assert(r.triples.contains(Triple(cc, "geom:R", null, "1.0", "xsd:double")))
    assert(r.triples.contains(Triple(cc, "geom:G", null, "0.0", "xsd:double")))
  }

  test("texture type JPG->1 else 2; UVs dedup and reverse per loop") {
    val r = conv("""{"type":"CityJSON","version":"1.1",
      "vertices":[[0,0,0],[1,0,0],[1,1,0]],
      "appearance":{"textures":[{"type":"PNG","image":"t.png"}],
        "vertices-texture":[[0.0,0.0],[1.0,0.0],[1.0,1.0]]},
      "CityObjects":{"a":{"type":"Building","geometry":[
        {"type":"MultiSurface","boundaries":[[[0,1,2]]],
         "texture":{"th":{"values":[[[0,0,1,2]]]}}}]}}}""")
    assert(r.triples.exists(t => t.pred == "geom:type" && t.obj_lit == "2"))
    assert(r.triples.exists(t => t.pred == "geom:name" && t.obj_lit == "t.png"))
    // uv loop [0,1,2] reversed -> slots 0,1,2 for uv 2,1,0; terminator -1
    assert(lits(r, "geom:textureIndices") == Vector("[0,1,2,-1]"))
    assert(lits(r, "geom:textureCoordinates") == Vector("[1.0,1.0,1.0,0.0,0.0,0.0]"))
  }

  // -- S3: settings flags ------------------------------------------------------

  test("UseTextures=false suppresses UV emission but keeps texture group keys") {
    val json = """{"type":"CityJSON","version":"1.1",
      "vertices":[[0,0,0],[1,0,0],[1,1,0]],
      "appearance":{"textures":[{"type":"JPG","image":"t.jpg"}],
        "vertices-texture":[[0.0,0.0],[1.0,0.0],[1.0,1.0]]},
      "CityObjects":{"a":{"type":"Building","geometry":[
        {"type":"MultiSurface","boundaries":[[[0,1,2]]],
         "texture":{"th":{"values":[[[0,0,1,2]]]}}}]}}}"""
    val off = CjConvert.convert("t:d", json, CjSettings.default.copy(useTextures = false))
    assert(!off.triples.exists(_.pred == "geom:textureIndices"))
    assert(!off.triples.exists(t => t.pred == "rdf:type" && t.obj_iri == "Texture"))
    val on = CjConvert.convert("t:d", json)
    assert(on.triples.exists(_.pred == "geom:textureIndices"))
    assert(on.triples.exists(t => t.pred == "geom:type" && t.obj_lit == "1")) // JPG -> 1
  }

  test("UseMaterials=false falls back to semantic colors") {
    val json = """{"type":"CityJSON","version":"1.1",
      "vertices":[[0,0,0],[1,0,0],[1,1,0]],
      "appearance":{"materials":[{"name":"m0","diffuseColor":[0.5,0.5,0.5]}]},
      "CityObjects":{"a":{"type":"Building","geometry":[
        {"type":"MultiSurface","boundaries":[[[0,1,2]]],
         "material":{"th":{"value":0}},
         "semantics":{"surfaces":[{"type":"RoofSurface"}],"values":[0]}}]}}}"""
    val off = CjConvert.convert("t:d", json, CjSettings.default.copy(useMaterials = false))
    // no named material color; the config RoofSurface color (1,0,0) with W=1 instead
    assert(!off.triples.exists(t => t.pred == "rdf:name" && t.obj_lit == "m0"))
    assert(off.triples.exists(t => t.pred == "geom:W" && t.obj_lit == "1.0"))
    val on = CjConvert.convert("t:d", json)
    assert(on.triples.exists(t => t.pred == "rdf:name" && t.obj_lit == "m0"))
  }

  test("restriction lookup walks the parents oldest first; the first hit decides") {
    val out = new CjSink.Collect
    val m = new CjModel("t:d", CjSettings.default, out, CjJson.parse("{}"))
    m.getOrCreateClass("A", addPrefix = false)
    m.getOrCreateClass("B", addPrefix = false)
    m.getOrCreateClass("C", addPrefix = false, "A", "B")
    m.getOrCreateClass("D", addPrefix = false, "C")
    assert(m.getOrCreateProperty("A", "p", null, P.CHAR, null, 0, 1) == "p")
    assert(m.getOrCreateProperty("B", "p", null, P.CHAR, null, 0, 5) == "p")
    // D -> C -> A (0..1) is found before C -> B (0..5)
    assert(m.getOrCreateProperty("D", "p", null, P.CHAR, null, 0, 1) == "p")
    assert(m.getOrCreateProperty("D", "p", null, P.CHAR, null, 0, 5) == "p_1")
    val restrictions = out.triples.result().filter(_.pred == "graft:restriction").map(t => (t.subj, t.obj_iri, t.obj_lit))
    assert(restrictions == Vector(("A", "p", "0..1"), ("B", "p", "0..5"), ("D", "p_1", "0..5")))
    assert(m.logsOut.map(_.msg) == Vector("Porperty 'p' exists but cardinality mismatches"))
  }

  test("instance lookups accept only creation indices this document minted") {
    val m = new CjModel("t:d", CjSettings.default, CjSink.Discard, CjJson.parse("{}"))
    val a = m.createInstance("city:Building", "A")
    assert(m.iri(a) == "t:d/i1")
    assert(m.classOfInstance(a) == "city:Building" && m.nameOfInstance(a) == "A")
    assert(m.nameOfInstance(-1) == null)
    val e = intercept[NoSuchElementException](m.setInstanceName(a + 1, "B"))
    assert(e.getMessage.contains(s"${a + 1}"))
    intercept[NoSuchElementException](m.classOfInstance(a + 1))
    intercept[NoSuchElementException](m.iri(-1))
  }
}
