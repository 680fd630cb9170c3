package graft.cj

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import graft.model.{Vocab => V}

/** Materials / textures / themes. Reproduces
  * /root/reference/CityJsonRDF/Appearance.cpp: theme resolution (declared
  * default theme if present else lexicographically-first, Appearance.cpp:
  * 196-210), value-path lookup with scalar `value` short-circuit
  * (Appearance.cpp:282-302), hasNull texture-loop dropping
  * (Appearance.cpp:151-189), memoized RDF material creation keyed by
  * (iMat, iTex, semantic) (Appearance.cpp:237-258), color building with
  * ambient = diffuse*ambientIntensity (clamped) and transparency inversion
  * (Appearance.cpp:306-348), semantic color table fallback
  * (Settings.cpp:130-159), texture type "JPG"→1 else 2 (Appearance.cpp:360).
  */
private[cj] final class CjAppearance(m: CjModel) {

  private val json = m.json

  final case class SurfaceAppearance(
      materials: TreeMap[String, Int],
      textures: TreeMap[String, Int],
      textureIndices: Map[String, List[List[Int]]])

  private final class Mat {
    var name: String = null
    var ambientIntensity = 0.0
    val diffuseColor = Array(0.0, 0.0, 0.0)
    val emissiveColor = Array(0.0, 0.0, 0.0)
    val specularColor = Array(0.0, 0.0, 0.0)
    var shininess = 0.0
    var transparency = 0.0
    var isSmooth = false
    var rdfColor: Int = -1
  }
  private final class Tex {
    var typ: String = null
    var image: String = null
    var rdfTexture: Int = -1
  }

  private val materials = mutable.ArrayBuffer[Mat]()
  private val textures = mutable.ArrayBuffer[Tex]()
  var textureVertices: Int = CjJson.Absent
  private var defaultThemeTexture: String = null
  private var defaultThemeMaterial: String = null
  // memo (iMat, iTex, semantic) -> Material instance (Appearance.h:62-64)
  private val matTex2Rdf = mutable.HashMap[(Int, Int, Int), Int]()
  // per-config-entry memoized semantic color (Settings.cpp:142-156)
  private val semanticColorInst = mutable.HashMap[String, Int]()

  /** Appearance::SetCityAppearance (Appearance.cpp:18-51). */
  def setCityAppearance(appearance: Int): Unit = {
    val ms = m.members(appearance)
    while (ms.next()) {
      val name = ms.name
      val value = ms.value
      m.pushMember(name)
      name match {
        case "materials" => setCityMaterials(value)
        case "textures" => setCityTextures(value)
        case "vertices-texture" => textureVertices = value
        case "default-theme-texture" => defaultThemeTexture = m.jStr(value)
        case "default-theme-material" => defaultThemeMaterial = m.jStr(value)
        case other => m.logInfo("Unknown appearance member: '%s'", other)
      }
      m.popState()
    }
  }

  /** Appearance::SetCityMaterials (Appearance.cpp:62-104). */
  private def setCityMaterials(jmaterials: Int): Unit = {
    val es = m.elems(jmaterials)
    while (es.hasNext) {
      val jmaterial = es.next()
      m.pushIndex(materials.size)
      val mat = new Mat
      materials += mat
      val ms = m.members(jmaterial)
      while (ms.next()) {
        val value = ms.value
        ms.name match {
          case "name" => mat.name = m.jStr(value)
          case "ambientIntensity" => mat.ambientIntensity = m.jDouble(value)
          case "diffuseColor" => (0 until 3).foreach(i => mat.diffuseColor(i) = m.jDouble(m.jIdx(value, i)))
          case "emissiveColor" => (0 until 3).foreach(i => mat.emissiveColor(i) = m.jDouble(m.jIdx(value, i)))
          case "specularColor" => (0 until 3).foreach(i => mat.specularColor(i) = m.jDouble(m.jIdx(value, i)))
          case "shininess" => mat.shininess = m.jDouble(value)
          case "transparency" => mat.transparency = m.jDouble(value)
          case "isSmooth" => mat.isSmooth = m.jBool(value)
          case _ => () // TRACE-only in the reference (Appearance.cpp:98)
        }
      }
      m.popState()
    }
  }

  /** Appearance::SetCityTextures (Appearance.cpp:108-117). */
  private def setCityTextures(jtextures: Int): Unit = {
    val es = m.elems(jtextures)
    while (es.hasNext) {
      val jtexture = es.next()
      val t = new Tex
      t.typ = m.jStr(jObjMember(jtexture, "type"))
      t.image = m.jStr(jObjMember(jtexture, "image"))
      textures += t
    }
  }

  private def jObjMember(n: Int, name: String): Int = {
    val v = json.member(m.jObj(n), name)
    m.jsonAssert(v >= 0, "HasMember()")
    v
  }

  /** Appearance::GetSurfaceAppearance (Appearance.cpp:131-192). */
  def getSurfaceAppearance(jmaterial: Int, jtexture: Int, faceIndexPath: IntBuf): SurfaceAppearance = {
    var mats = TreeMap.empty[String, Int]
    var texs = TreeMap.empty[String, Int]
    val texIdx = mutable.HashMap[String, List[List[Int]]]()

    if (json.isObject(jmaterial)) {
      val ms = m.members(jmaterial)
      while (ms.next()) {
        val pmat = findValueByIndexPath(ms.value, faceIndexPath)
        if (json.isInt(pmat)) mats += ms.name -> json.int(pmat)
      }
    }

    if (json.isObject(jtexture)) {
      val ms = m.members(jtexture)
      while (ms.next()) {
        val theme = ms.name
        val ptex = findValueByIndexPath(ms.value, faceIndexPath)
        if (json.isArray(ptex)) {
          var hasNull = false
          var texInd = -1
          val uv2 = mutable.ListBuffer[List[Int]]()
          val riIt = json.elems(ptex)
          while (riIt.hasNext && !hasNull) {
            val ri = riIt.next()
            val uv = mutable.ListBuffer[Int]()
            if (json.isArray(ri)) {
              val n = json.size(ri)
              var i = 0
              while (i < n && !hasNull) {
                val e = json.elem(ri, i)
                if (json.isNull(e)) hasNull = true
                else if (i == 0) {
                  if (texInd < 0) texInd = m.jInt(e)
                  else if (texInd != m.jInt(e))
                    m.logWarning("texture for hole loop is different from texture for outer loop")
                } else uv += m.jInt(e)
                i += 1
              }
            }
            uv2 += uv.toList
          }
          if (!hasNull) {
            texs += theme -> texInd
            texIdx(theme) = uv2.toList
          }
        }
      }
    }
    SurfaceAppearance(mats, texs, texIdx.toMap)
  }

  /** Appearance::FindValueByIndexPath (Appearance.cpp:282-302): a scalar
    * `value` member wins; otherwise a STRICT walk of `values` by the face
    * index path (out-of-shape access is a rapidjson assert → item failure). */
  private def findValueByIndexPath(jnode: Int, faceIndexPath: IntBuf): Int = {
    m.jObj(jnode)
    val v = json.member(jnode, "value")
    if (v >= 0) return v
    val vs = json.member(jnode, "values")
    if (vs >= 0) {
      var cur = vs
      var k = 0
      while (k < faceIndexPath.length) { cur = m.jIdx(cur, faceIndexPath(k)); k += 1 }
      return cur
    }
    m.logError("Missed appearance value or values")
    CjJson.Absent
  }

  /** Appearance::GetActiveTheme (Appearance.cpp:196-210): declared default
    * theme if present in the map, else the lexicographically first entry. */
  private def getActiveTheme(th2ind: TreeMap[String, Int], defaultTheme: String): String = {
    var theme = defaultTheme
    if (theme != null && !th2ind.contains(theme)) theme = null
    if (theme == null && th2ind.nonEmpty) theme = th2ind.firstKey
    theme
  }

  /** Appearance::GetThemeIndex (Appearance.cpp:214-233). */
  private def getThemeIndex(th2ind: TreeMap[String, Int], defaultTheme: String, maxInd: Int): Int = {
    var ind = -1
    val theme = getActiveTheme(th2ind, defaultTheme)
    if (theme != null) {
      ind = th2ind.getOrElse(theme, -1)
      if (ind >= 0 && ind >= maxInd) {
        m.logError("Material or texture index is out of range")
        ind = -1
      }
    }
    ind
  }

  /** Appearance::GetRdfMaterial (Appearance.cpp:237-258): every face group
    * gets a (memoized) Material instance, possibly empty. */
  def getRdfMaterial(mats: TreeMap[String, Int], texs: TreeMap[String, Int], semantic: Int): Int = {
    val iMat = getThemeIndex(mats, defaultThemeMaterial, materials.size)
    val iTex = getThemeIndex(texs, defaultThemeTexture, textures.size)
    matTex2Rdf.getOrElseUpdate((iMat, iTex, semantic), {
      val color = getRdfColor(iMat, semantic)
      val tex = getRdfTexture(iTex)
      val rdfMat = m.createInstance("Material")
      if (color >= 0) m.setObjectProp(rdfMat, "geom:color", color)
      if (tex >= 0) m.setObjectItem(rdfMat, "geom:textures", tex, 0)
      rdfMat
    })
  }

  /** Appearance::GetTextuteIndecies (Appearance.cpp:262-278). */
  def getTextureIndices(groupTextures: TreeMap[String, Int],
      textureIndices: Map[String, List[List[Int]]]): Option[List[List[Int]]] = {
    if (m.settings.useTextures) {
      val theme = getActiveTheme(groupTextures, defaultThemeTexture)
      if (theme != null) {
        textureIndices.get(theme) match {
          case s @ Some(_) => return s
          case None => m.logError("Theme '%s' is misses in texture indecies", theme)
        }
      }
    }
    None
  }

  /** Appearance::CreateColorComponent (Appearance.cpp:306-317): scale
    * outside [0,1] (including the -1 "no scale" default) clamps to 1. */
  private def createColorComponent(rgb: Array[Double], scale: Double = -1): Int = {
    val s = if (scale < 0 || scale > 1) 1.0 else scale
    val clr = m.createInstance("ColorComponent")
    m.setDatatype(clr, "geom:R", m.fmtD(rgb(0) * s), V.XsdDouble)
    m.setDatatype(clr, "geom:G", m.fmtD(rgb(1) * s), V.XsdDouble)
    m.setDatatype(clr, "geom:B", m.fmtD(rgb(2) * s), V.XsdDouble)
    clr
  }

  /** Appearance::GetRdfColor (Appearance.cpp:321-348): material color when
    * materials are on and the index is valid, else the config semantic
    * color. Ambient component = diffuse color scaled by ambientIntensity;
    * engine transparency = 1 - CityJSON transparency. */
  private def getRdfColor(iMat: Int, semantic: Int): Int = {
    if (m.settings.useMaterials && iMat >= 0 && iMat < materials.size) {
      val mat = materials(iMat)
      if (mat.rdfColor < 0) {
        val color = m.createInstance("Color", mat.name)
        m.setObjectProp(color, "geom:ambient", createColorComponent(mat.diffuseColor, mat.ambientIntensity))
        m.setObjectProp(color, "geom:diffuse", createColorComponent(mat.diffuseColor))
        m.setObjectProp(color, "geom:emissive", createColorComponent(mat.emissiveColor))
        m.setObjectProp(color, "geom:specular", createColorComponent(mat.specularColor))
        m.setDatatype(color, "geom:transparency", m.fmtD(1 - mat.transparency), V.XsdDouble)
        mat.rdfColor = color
      }
      mat.rdfColor
    } else getSemanticColor(semantic)
  }

  /** Settings::GetSemanticColor (Settings.cpp:130-159): config-table color
    * keyed by the semantic instance's name, one shared ColorComponent with
    * W=1 across all four slots plus ambientReflectance=1. */
  private def getSemanticColor(semantic: Int): Int = {
    val semanticName = m.nameOfInstance(semantic)
    if (semanticName == null) return -1
    m.settings.semanticColors.get(semanticName) match {
      case None => -1
      case Some((r, g, b)) =>
        semanticColorInst.getOrElseUpdate(semanticName, {
          val c = m.createInstance("ColorComponent")
          m.setDatatype(c, "geom:R", m.fmtD(r), V.XsdDouble)
          m.setDatatype(c, "geom:G", m.fmtD(g), V.XsdDouble)
          m.setDatatype(c, "geom:B", m.fmtD(b), V.XsdDouble)
          m.setDatatype(c, "geom:W", m.fmtD(1.0), V.XsdDouble)
          val color = m.createInstance("Color")
          m.setObjectProp(color, "geom:ambient", c)
          m.setObjectProp(color, "geom:diffuse", c)
          m.setObjectProp(color, "geom:emissive", c)
          m.setObjectProp(color, "geom:specular", c)
          m.setDatatype(color, "geom:ambientReflectance", m.fmtD(1.0), V.XsdDouble)
          color
        })
    }
  }

  /** Appearance::GetRdfTexture (Appearance.cpp:352-369). */
  private def getRdfTexture(iTex: Int): Int = {
    if (m.settings.useTextures && iTex >= 0 && iTex < textures.size) {
      val t = textures(iTex)
      if (t.rdfTexture < 0) {
        val tex = m.createInstance("Texture")
        m.setDatatype(tex, "geom:type", if (t.typ == "JPG") "1" else "2", V.XsdLong)
        m.setDatatype(tex, "geom:name", t.image, V.XsdString)
        t.rdfTexture = tex
      }
      t.rdfTexture
    } else -1
  }
}
