package graft.pipeline

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.TextExtract
import graft.link.Linker
import graft.mention.MentionDetect
import graft.model.{Link, Page, Triple, Vocab => V}
import graft.synth.PagesSynth

/** The web-text KG-construction pipeline (north rule): pages → deterministic
  * text extraction → mention detection → broadcast entity linking → triple
  * emission → salted, partitioned graph write.
  *
  * Shuffle topology at scale: the extract/mention/link stages are NARROW
  * (mapPartitions over a broadcast dictionary — the generalization of the
  * reference's in-row index lookups, SURVEY.md §2.3); the only shuffle is
  * the final salted repartition that spreads hot-host/hot-entity subjects
  * before the write. Ontology triples are emitted once per job, not per row
  * (the analog of the reference's lazily-created-once classes/properties,
  * CityModel.cpp:382-474).
  */
object KgPipeline {

  final case class ExtractedPage(url: String, text: String, lang: String, warc_ms: Long, extract_ok: Boolean)

  /** Stage 1 — frozen text extraction + byte-identity check per url. */
  def extracted(pages: Dataset[Page]): Dataset[ExtractedPage] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.mapPartitions(_.map { p =>
      val ext = TextExtract.extract(p.html)
      ExtractedPage(p.url, ext, p.lang, p.warc_ts.getTime, ext == p.text)
    })
  }

  /** Stage 2+3 — mention detection + top-1 link scoring, one narrow pass.
    * The alias dictionary and candidate map ride a broadcast. */
  def links(extracted: Dataset[ExtractedPage], aliasMap: Map[String, Vector[(String, Double)]]): Dataset[Link] = {
    val spark = extracted.sparkSession
    import spark.implicits._
    val bcast = spark.sparkContext.broadcast(aliasMap)
    val bdict = spark.sparkContext.broadcast(MentionDetect.buildDictionary(aliasMap.keys))
    extracted.mapPartitions { it =>
      val dict = bdict.value
      val best = dict.norms.map(Linker.best(_, bcast.value)) // by entry id
      it.flatMap { p =>
        val out = new ArrayBuffer[Link]()
        MentionDetect.scan(p.text, dict, (s, e, entry) => {
          val top = best(entry.id)
          if (top != null) out += Link(p.url, s, e, p.text.substring(s, e), top._1, top._2)
        })
        out
      }
    }
  }

  /** Stage 4 — triple emission: page node triples + mention edges, each
    * edge written straight from its scan hit (no Mention or Link rows). */
  def pageTriples(extracted: Dataset[ExtractedPage], aliasMap: Map[String, Vector[(String, Double)]]): Dataset[Triple] = {
    val spark = extracted.sparkSession
    import spark.implicits._
    val bcast = spark.sparkContext.broadcast(aliasMap)
    val bdict = spark.sparkContext.broadcast(MentionDetect.buildDictionary(aliasMap.keys))
    extracted.mapPartitions { it =>
      val dict = bdict.value
      val best = dict.norms.map(Linker.best(_, bcast.value)) // by entry id
      it.flatMap { p =>
        val out = new ArrayBuffer[Triple](8)
        out += Triple(p.url, V.RdfType, V.WebPage, null, null)
        out += Triple(p.url, V.WebLang, null, p.lang, V.XsdString)
        out += Triple(p.url, V.WebWarcTs, null, p.warc_ms.toString, V.XsdLong)
        out += Triple(p.url, V.WebNChars, null, p.text.length.toString, V.XsdLong)
        MentionDetect.scan(p.text, dict, (s, e, entry) => {
          val top = best(entry.id)
          // "start:end"; s"$s:$e" would start its builder at capacity 1 and regrow it
          if (top != null) out += Triple(p.url, V.WebMentions, top._1,
            new java.lang.StringBuilder(24).append(s).append(':').append(e).toString, null)
        })
        out
      }
    }
  }

  /** Once-per-job ontology + entity registry triples (deterministic, tiny). */
  def ontologyTriples(spark: SparkSession): Dataset[Triple] = {
    import spark.implicits._
    val vocab = Vector(
      Triple(V.WebPage, V.RdfType, V.OwlClass, null, null),
      Triple("web:Entity", V.RdfType, V.OwlClass, null, null),
      Triple(V.WebMentions, V.RdfType, V.OwlObjectProperty, null, null),
      Triple(V.WebMentions, V.GraftRange, "web:Entity", null, null),
      Triple(V.WebLang, V.RdfType, V.OwlDatatypeProperty, null, null),
      Triple(V.WebWarcTs, V.RdfType, V.OwlDatatypeProperty, null, null),
      Triple(V.WebNChars, V.RdfType, V.OwlDatatypeProperty, null, null))
    val entities = (0 until PagesSynth.NumEntities).flatMap { i =>
      val iri = PagesSynth.entityIri(i)
      Vector(
        Triple(iri, V.RdfType, "web:Entity", null, null),
        Triple(iri, V.RdfName, null, PagesSynth.canonicalAlias(i), V.XsdString))
    }
    spark.createDataset(vocab ++ entities)
  }

  /** Full lazy plan: synthesized corpus of n pages → triples. */
  def triples(spark: SparkSession, n: Long): Dataset[Triple] = {
    val ext = extracted(PagesSynth.pages(spark, n))
    pageTriples(ext, PagesSynth.aliasMap).unionAll(ontologyTriples(spark))
  }

  // ------------------------------------------------- dictionary-encoded path

  /** Dictionary-encoded triple: 4 fixed-width fields (~40 B Tungsten row)
    * in place of five strings (~3× that). `pred_id` indexes [[PredVocab]];
    * `ent_id` indexes the entity dictionary (−1 for non-mention rows);
    * `lit` carries the row's literal — lang-dictionary index, warc millis,
    * char count, or the mention span packed (start << 32 | end). */
  final case class EncTriple(page_id: Long, pred_id: Int, ent_id: Int, lit: Long)

  val PredType = 0; val PredLang = 1; val PredWarcTs = 2; val PredNChars = 3
  val PredMentions = 4
  /** pred_id -> predicate IRI (static vocabulary dictionary) */
  val PredVocab: Vector[String] =
    Vector(V.RdfType, V.WebLang, V.WebWarcTs, V.WebNChars, V.WebMentions)
  /** lang literal dictionary (the corpus's closed language set) */
  val Langs: Vector[String] = Vector("en", "de", "fr", "es", "nl")

  /** The hot pipeline in DICTIONARY-ENCODED form: extract → mention → link
    * emit `EncTriple` rows whose only non-numeric payload left the stage
    * boundary — entities and predicates as dictionary indexes, pages as
    * their corpus id, spans packed into one long. String IRIs materialize
    * ONLY at [[decodeTriples]] (triple emission), from broadcast/static
    * dictionaries.
    *
    * Why: the string pipeline is memory-bandwidth-bound at high core counts
    * (flat per-core throughput 4→16, sublinear 8→32 on one socket) — every
    * triple allocates and copies a subject url + predicate + object string
    * through the encoder. Encoding drops the bytes/triple ~3× (116.9 → 40.0
    * Tungsten row bytes, BENCH.md round 4), which is exactly the bandwidth
    * headroom a shuffle, a write, or more cores would otherwise fight over. At
    * 100 TB this is also the right GRAPH TABLE shape: fixed-width columns +
    * tiny dictionary sidecars, strings only at the consumer edge. */
  def encodedTriples(spark: SparkSession, n: Long): Dataset[EncTriple] = {
    import spark.implicits._
    val bEnc = encoder(spark)
    spark.range(0, n, 1, PagesSynth.rangeParts(spark, n)).mapPartitions { it =>
      val enc = bEnc.value
      it.flatMap { i =>
        val p = PagesSynth.pageAt(i, n).page
        enc.page(TextExtract.extract(p.html), p.lang, p.warc_ts.getTime)(EncTriple(i, _, _, _))
      }
    }
  }

  /** The per-page encoder of both encoded paths: the alias dictionary and,
    * by dictionary entry, its top-1 entity's dictionary id (−1 if the alias
    * has no candidate), pre-resolved like [[Linker.best]]. */
  private final class PageEncoder(dict: MentionDetect.Dictionary, entOf: Array[Int]) extends Serializable {
    /** a page's rows as `row(pred_id, ent_id, lit)`: the four page rows,
      * then one mention row per resolved scan hit, span packed
      * (start << 32 | end) */
    def page[R](text: String, lang: String, warcMs: Long)(row: (Int, Int, Long) => R): ArrayBuffer[R] = {
      val out = new ArrayBuffer[R](8)
      out += row(PredType, -1, 0L)
      out += row(PredLang, -1, Langs.indexOf(lang).toLong)
      out += row(PredWarcTs, -1, warcMs)
      out += row(PredNChars, -1, text.length.toLong)
      MentionDetect.scan(text, dict, (s, e, entry) => {
        val ent = entOf(entry.id)
        if (ent >= 0) out += row(PredMentions, ent, (s.toLong << 32) | (e.toLong & 0xffffffffL))
      })
      out
    }
  }

  private def encoder(spark: SparkSession) = {
    val dict = MentionDetect.buildDictionary(PagesSynth.aliasMap.keys)
    val entId = (0 until PagesSynth.NumEntities).map(i => PagesSynth.entityIri(i) -> i).toMap
    val entOf = dict.norms.map(Linker.best(_, PagesSynth.aliasMap) match {
      case null => -1
      case (iri, _) => entId(iri)
    })
    spark.sparkContext.broadcast(new PageEncoder(dict, entOf))
  }

  /** Column-level triple decode shared by the in-memory stream and the
    * stored table: input must carry (url, pred_id, ent_id, ent_iri, lit),
    * where `url` and `ent_iri` were resolved UPSTREAM from their (open,
    * unbounded) dictionaries — by join for stored tables, by the corpus's
    * id→url function for the in-memory synthetic stream. Only the CLOSED
    * pred/lang vocabularies decode here, as in-plan literal `when` chains
    * (codegen-friendly, no broadcast, no driver state). Unknown pred_ids
    * and unresolved entity ids fail loudly via `raise_error`. */
  def decodeColumns(df: DataFrame, preds: Map[Int, String], langs: Map[Int, String]): Dataset[Triple] = {
    val spark = df.sparkSession
    import spark.implicits._
    decodeColumnsWith(df, preds, langs, Nil).as[Triple]
  }

  /** [[decodeColumns]] with extra pass-through columns appended after the
    * five triple columns (e.g. a named-graph label for N-Quads emission) —
    * identical decode rules, DataFrame-shaped result. */
  def decodeColumnsWith(df: DataFrame, preds: Map[Int, String], langs: Map[Int, String],
      keep: Seq[String]): DataFrame = {
    def chain(m: Map[Int, String], c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      m.foldLeft(lit(null).cast("string")) { case (acc, (k, v)) => when(c === k, lit(v)).otherwise(acc) }
    val pid = col("pred_id")
    val pred = coalesce(chain(preds, pid),
      raise_error(concat(lit("pred_id has no decode rule: "), pid.cast("string"))))
    val objIri = when(pid === PredType, lit(V.WebPage))
      .when(pid === PredMentions, coalesce(col("ent_iri"),
        raise_error(concat(lit("unknown ent_id "), col("ent_id").cast("string")))))
    val objLit = when(pid === PredLang, coalesce(chain(langs, col("lit").cast("int")),
        raise_error(concat(lit("unknown lang_id "), col("lit").cast("string")))))
      .when(pid === PredWarcTs || pid === PredNChars, col("lit").cast("string"))
      .when(pid === PredMentions, concat(
        shiftrightunsigned(col("lit"), 32).cast("string"), lit(":"),
        col("lit").bitwiseAND(lit(0xffffffffL)).cast("string")))
    val objType = when(pid === PredLang, lit(V.XsdString))
      .when(pid === PredWarcTs || pid === PredNChars, lit(V.XsdLong))
    df.select(Seq(col("url").as("subj"), pred.as("pred"), objIri.as("obj_iri"),
      objLit.as("obj_lit"), objType.as("obj_type")) ++ keep.map(col): _*)
  }

  /** Shared decode front half for the in-memory encoded stream: resolve
    * page urls from the corpus's id→url function, entity IRIs by dict
    * join, optionally mint the crawl-segment graph label. ONE definition —
    * the triple and quad decoders must never fork on resolution policy. */
  private def urlResolved(enc: Dataset[EncTriple], n: Long,
      segSize: Option[Long]): DataFrame = {
    val spark = enc.sparkSession
    import spark.implicits._
    val withUrl = segSize match {
      case Some(sz) => enc.mapPartitions(_.map(t =>
          (PagesSynth.urlAt(t.page_id, n), s"graft:seg_${t.page_id / sz}",
            t.pred_id, t.ent_id, t.lit)))
        .toDF("url", "graph", "pred_id", "ent_id", "lit")
      case None => enc.mapPartitions(_.map(t =>
          (PagesSynth.urlAt(t.page_id, n), t.pred_id, t.ent_id, t.lit)))
        .toDF("url", "pred_id", "ent_id", "lit")
    }
    val dict = PagesSynth.entityDict(spark).withColumnRenamed("iri", "ent_iri")
    withUrl.join(dict, Seq("ent_id"), "left")
  }

  /** [[decodeTriples]] as N-Quads rows: every triple labeled with its crawl
    * segment's named graph (`graft:seg_<page_id DIV segSize>`) — the
    * provenance partitioning a crawl-scale graph table ships with, so a
    * consumer can trace any triple back to (and reprocess) exactly one
    * ingest segment. Same 1:1 row decode as [[decodeTriples]]. */
  def decodeQuads(enc: Dataset[EncTriple], n: Long, segSize: Long = 1000L): DataFrame =
    decodeColumnsWith(urlResolved(enc, n, Some(segSize)),
      PredVocab.zipWithIndex.map(_.swap).toMap,
      Langs.zipWithIndex.map(_.swap).toMap, Seq("graph"))

  /** Triple emission for the in-memory encoded stream: entity IRIs resolve
    * by JOIN against the entity dictionary Dataset (AQE broadcasts it while
    * the vocabulary is small and shuffles when it is not — the decode never
    * assumes the dictionary fits the driver); page urls from the synthetic
    * corpus's id→url function (the stored-table path joins a page
    * dictionary instead, EncodedGraphTable.read). Spec-locked
    * multiset-identical to [[triples]] (modulo the once-per-job ontology
    * triples, emitted separately). */
  def decodeTriples(enc: Dataset[EncTriple], n: Long): Dataset[Triple] =
    decodeColumns(urlResolved(enc, n, None),
      PredVocab.zipWithIndex.map(_.swap).toMap, Langs.zipWithIndex.map(_.swap).toMap)

  /** Encoded emission from an EXTRACTED page stream (batch or streaming —
    * the encoded table's catch-up path): mention/base rows emit narrow with
    * the page URL, then the page_id resolves by JOIN against the page
    * dictionary (stream-static for streaming) — ids come from the
    * dictionary, never from parsing the url. Multiset-identical to
    * [[encodedTriples]] over the same pages (spec-locked). */
  def encodeExtracted(ext: Dataset[ExtractedPage], pageDict: DataFrame): Dataset[EncTriple] = {
    val spark = ext.sparkSession
    import spark.implicits._
    val bEnc = encoder(spark)
    val rows = ext.mapPartitions { it =>
      val enc = bEnc.value
      it.flatMap(p => enc.page(p.text, p.lang, p.warc_ms)((p.url, _, _, _)))
    }.toDF("url", "pred_id", "ent_id", "lit")
    // LEFT join + raise_error: an inner join would silently DROP every
    // triple of a page absent from the dictionary (a genuinely new page in
    // a catch-up batch). Callers must pre-mint page ids for each batch
    // before encoding (IncrementalIngest does); a miss is a pipeline bug
    // and fails loudly, exactly like decodeColumns' unknown ent_id.
    rows.join(pageDict.select(col("page_id").cast("long"), col("url")), Seq("url"), "left")
      .select(
        coalesce(col("page_id"),
          raise_error(concat(lit("url missing from page dictionary: "), col("url"))))
          .as("page_id"),
        col("pred_id"), col("ent_id"), col("lit")).as[EncTriple]
  }

  /** Checkpoint-resumable stage materialization (SURVEY.md §2.7): each stage
    * writes parquet + a manifest carrying the stage fingerprint and
    * per-partition row counts (the lineage record). A later run with the
    * same fingerprint skips the compute and reads the parquet back.
    */
  def runStage[T](spark: SparkSession, name: String, outDir: String, fingerprint: String)(
      compute: => Dataset[T])(implicit enc: org.apache.spark.sql.Encoder[T]): Dataset[T] = {
    val stagePath = s"$outDir/$name"
    val manifestPath = new org.apache.hadoop.fs.Path(s"$stagePath/_graft_manifest.json")
    val fs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

    if (fs.exists(manifestPath)) {
      val manifest = new String(readFully(fs, manifestPath), "UTF-8")
      if (manifest.contains(s""""fingerprint":"$fingerprint"""")) {
        return spark.read.parquet(stagePath).as[T]
      }
    }

    val ds = compute
    ds.write.mode(SaveMode.Overwrite).parquet(stagePath)
    val back = spark.read.parquet(stagePath)
    // per-partition lineage: rows per parquet file of this stage, written
    // as a parquet sidecar by the CLUSTER — the driver only collects the
    // one-row aggregate (file count + row total). An inline JSON list would
    // be O(files) driver memory: at 100 TB a stage has 10⁵-10⁶ files, and
    // with Iceberg this record is subsumed by snapshot metadata anyway.
    val lineagePath = s"$outDir/${name}_lineage"
    back.select(input_file_name().as("file"))
      .groupBy("file").agg(count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(lineagePath)
    val agg = spark.read.parquet(lineagePath)
      .agg(count(lit(1)).as("n_files"), coalesce(sum("rows"), lit(0L)).as("rows"))
      .head()
    val manifest =
      s"""{"stage":"$name","fingerprint":"$fingerprint","rows":${agg.getLong(1)},""" +
        s""""n_files":${agg.getLong(0)},"lineage":"$lineagePath"}"""
    writeString(fs, manifestPath, manifest)
    spark.read.parquet(stagePath).as[T]
  }

  private def readFully(fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  private def writeString(fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** End-to-end materialized run with checkpoint-resume at every stage
    * boundary; returns the triples (read back from the graph table). */
  def run(spark: SparkSession, n: Long, outDir: String, writeParts: Int = 32): Dataset[Triple] = {
    import spark.implicits._
    val fp = s"v${TextExtract.version}-n$n"
    val ext = runStage(spark, "extracted", outDir, fp) { extracted(PagesSynth.pages(spark, n)) }
    runStage(spark, "triples", outDir, fp) {
      GraphSink.Salted.repartition(
        pageTriples(ext, PagesSynth.aliasMap).unionAll(ontologyTriples(spark)), writeParts)
    }
  }
}
