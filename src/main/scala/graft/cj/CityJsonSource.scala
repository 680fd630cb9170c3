package graft.cj

import java.util.{Map => JMap}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 batch source for CityJSON corpora — the Spark-native form
  * of the reference's JSON file source (SURVEY §2.1 S1), and the only way
  * the engine reads a corpus:
  *
  * {{{ spark.read.format("cityjson").load("/data/cities") }}}
  *
  * converts each document on EXECUTORS, from its bytes. The `output`
  * option picks the rows:
  *  - `triples` (the default): one row per emitted triple, `(doc_iri, subj,
  *    pred, obj_iri, obj_lit, obj_type)`;
  *  - `logs`: one row per converter log message, `(doc_iri, level,
  *    category, msg, path)` — the reference's ILog stream (Main.cpp:63-65
  *    dedups it by category);
  *  - `docs`: one row per document, `(doc_iri, n_triples, n_errors,
  *    failed)`, failed documents included with `n_triples = 0` — the
  *    progress/metrics analog (S5).
  * Any other value fails when the table is resolved, naming the three.
  * Column pruning is pushed into the reader
  * (`SupportsPushDownRequiredColumns`): a `select(pred)` materializes only
  * the pruned columns per row.
  *
  * Deployability contract (the parts a laptop test never exercises):
  *  - the session's Hadoop configuration is captured ONCE at scan build
  *    (`SparkSession.sessionState.newHadoopConf()`, which folds in
  *    `spark.hadoop.*` SQL conf) and shipped to executors via
  *    [[SerializableConfiguration]] — object-store credentials and custom
  *    filesystem schemes resolve on the reader exactly as on the driver;
  *  - each query lists the corpus ONCE, walking the tree RECURSIVELY with
  *    `fs.listStatus` (a city corpus is laid out in dated/partitioned
  *    subdirectories; `.json` files only). The walk never reads a file's
  *    permission or owner, so a local filesystem without the native Hadoop
  *    library forks no `stat` process per file. The scan keeps its
  *    partitions for the copies Spark makes of its plan node; nothing is
  *    cached across queries, so a file added between two queries shows up
  *    in the second;
  *  - files are packed into size-costed input partitions: each file costs
  *    `len + openCostInBytes`, the bin count is `max(defaultParallelism,
  *    ⌈totalCost / maxPartitionBytes⌉)`, and files go biggest first into
  *    the least-loaded bin. Tiny documents share a task instead of each
  *    taking one, and no bin ends up with more than the mean cost plus one
  *    file, so a corpus fills every core instead of queueing its largest
  *    documents behind one task;
  *  - column ordinals are resolved once per reader (an unknown pruned
  *    column fails at reader creation). For `triples`, each document
  *    converts into its own [[ArenaRows]]: the converter's triples stream
  *    into a byte arena that holds only the required columns as UTF-8,
  *    each distinct IRI, predicate, type tag and short literal once per
  *    document, and the rows are [[UTF8String]] slices of it. No `Triple`
  *    and no whole-document triple vector is built; a document's rows are
  *    held until it has converted, so a document-level failure still yields
  *    none. `logs` drops the triples as they are emitted, `docs` counts them.
  *
  * Conversion semantics are [[CjConvert]] — identical to every other entry
  * point (spec-locked against `CjConvert.convert`); doc-level failures
  * follow the reference's NULL-model contract and emit zero triples.
  */
class CityJsonSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cityjson"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CityJsonSource.output(options).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new CityJsonTable(Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("cityjson source needs a path: .load(<dir>)")),
      CityJsonSource.output(properties))
}

object CityJsonSource {

  /** What a read serves: the values of the `output` option. */
  sealed abstract class Output(val name: String, val schema: StructType)

  case object Triples extends Output("triples", StructType(Seq(
    StructField("doc_iri", StringType, nullable = false),
    StructField("subj", StringType, nullable = false),
    StructField("pred", StringType, nullable = false),
    StructField("obj_iri", StringType, nullable = true),
    StructField("obj_lit", StringType, nullable = true),
    StructField("obj_type", StringType, nullable = true))))

  case object Logs extends Output("logs", StructType(Seq(
    StructField("doc_iri", StringType, nullable = false),
    StructField("level", StringType, nullable = true),
    StructField("category", StringType, nullable = true),
    StructField("msg", StringType, nullable = true),
    StructField("path", StringType, nullable = true))))

  case object Docs extends Output("docs", StructType(Seq(
    StructField("doc_iri", StringType, nullable = false),
    StructField("n_triples", LongType, nullable = false),
    StructField("n_errors", LongType, nullable = false),
    StructField("failed", BooleanType, nullable = false))))

  private val outputs: Seq[Output] = Seq(Triples, Logs, Docs)

  /** The default output's schema. */
  val schema: StructType = Triples.schema

  /** The `output` option of a read; an unknown value fails, naming the valid ones. */
  def output(options: JMap[String, String]): Output = {
    val name = new CaseInsensitiveStringMap(options).getOrDefault("output", Triples.name)
    outputs.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"cityjson option output = '$name': must be one of ${outputs.map(_.name).mkString(", ")}"))
  }

  /** Session conf key naming the CityJSON corpus directory that the `cj_*`
    * contract queries read. Like any `spark.*` key it can also be passed as
    * a `-D` JVM system property, which is how session-less tools read it. */
  val CorpusKey = "spark.graft.cj.corpus"
  /** Where the corpus is read from when [[CorpusKey]] is unset: the
    * reference converter's example corpus (FIXTURES.md §1). */
  val DefaultCorpus = "/root/reference/examples"

  def corpusDir(spark: SparkSession): String = spark.conf.get(CorpusKey, DefaultCorpus)

  /** A document's IRI, from its file name: `cj:<name>` less `.city.json`
    * or `.json`. */
  private[graft] def docIriFor(path: String): String = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    s"cj:${name.stripSuffix(".city.json").stripSuffix(".json")}"
  }

  /** Least-loaded (LPT) size binning. Every file is costed at
    * `len + openCost`, so a sea of tiny files still amortizes task startup.
    * The bin count is fixed up front at `max(minPartitionNum,
    * ⌈totalCost / maxPartitionBytes⌉)` (at most one bin per file); files
    * are then taken biggest first (ties by path) and each goes into the
    * currently least-loaded bin (ties by bin index). The largest bin then
    * costs at most the mean bin cost plus the largest file's cost, and a
    * file costlier than `maxPartitionBytes` always ends up alone.
    * Deterministic for a given file set. */
  private[cj] def packPartitions(files: Seq[(String, Long)], maxPartitionBytes: Long,
      openCostInBytes: Long, minPartitionNum: Int): Array[Array[String]] = {
    if (files.isEmpty) return Array.empty
    val totalCost = files.map(_._2 + openCostInBytes).sum
    val nBins = math.min(files.size.toLong, math.max(minPartitionNum.toLong,
      (totalCost + maxPartitionBytes - 1) / maxPartitionBytes)).toInt
    val bins = Array.fill(nBins)(Array.newBuilder[String])
    // min-heap on (load, bin index)
    val leastLoaded = scala.collection.mutable.PriorityQueue.tabulate(nBins)(b => (0L, b))(
      Ordering[(Long, Int)].reverse)
    files.sortBy { case (p, len) => (-len, p) }.foreach { case (p, len) =>
      val (load, b) = leastLoaded.dequeue()
      bins(b) += p
      leastLoaded.enqueue((load + len + openCostInBytes, b))
    }
    // zero-cost files (len 0, openCost 0) can leave bins empty
    bins.map(_.result()).filter(_.nonEmpty)
  }

  /** Every `.json` file under `root` (recursively), or `root` itself if it
    * is a file, as (path, length) in listing order. Walks with `listStatus`
    * only: `listFiles` builds a `LocatedFileStatus` per file, which reads
    * the file's permission — on a local filesystem without the native
    * Hadoop library that forks a `stat` process per file. Nothing here
    * touches a status's permission, owner or group. */
  private[cj] def listDocuments(fs: FileSystem, root: Path): Array[(String, Long)] = {
    val files = Array.newBuilder[(String, Long)]
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { s =>
      if (s.isDirectory) walk(s.getPath)
      else if (s.isFile && s.getPath.getName.endsWith(".json"))
        files += ((s.getPath.toString, s.getLen))
    }
    val rootStatus = fs.getFileStatus(root)
    if (rootStatus.isDirectory) walk(root)
    else files += ((rootStatus.getPath.toString, rootStatus.getLen))
    files.result()
  }
}

final class CityJsonTable(path: String, output: CityJsonSource.Output) extends Table with SupportsRead {
  override def name(): String = s"cityjson:$path"
  override def schema(): StructType = output.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CityJsonScanBuilder(path, output)
}

final class CityJsonScanBuilder(path: String, output: CityJsonSource.Output)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = output.schema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = {
    // capture session state at plan time: Hadoop conf (incl. spark.hadoop.*)
    // for the executors, file-packing knobs from the SQL conf
    val spark = SparkSession.active
    val confSer = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val sqlConf = spark.sessionState.conf
    new CityJsonScan(path, output, required, confSer,
      sqlConf.filesMaxPartitionBytes, sqlConf.filesOpenCostInBytes,
      spark.sparkContext.defaultParallelism)
  }
}

final class CityJsonScan(path: String, output: CityJsonSource.Output, required: StructType,
    confSer: SerializableConfiguration, maxPartitionBytes: Long,
    openCostInBytes: Long, minPartitionNum: Int) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // Spark asks every copy of the physical scan node for its partitions, and
  // the copies share this Scan: list once per scan, i.e. once per query (a
  // new query builds a new scan and lists afresh). Driver-side listing
  // only — file CONTENT is read on executors.
  private lazy val partitions: Array[InputPartition] = {
    val root = new Path(path)
    val files = CityJsonSource.listDocuments(root.getFileSystem(confSer.value), root)
    CityJsonSource.packPartitions(files.toSeq, maxPartitionBytes, openCostInBytes, minPartitionNum)
      .map(group => CityJsonFilePartition(group): InputPartition)
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    new CityJsonReaderFactory(output, required.fieldNames, confSer)
}

final case class CityJsonFilePartition(filePaths: Array[String]) extends InputPartition

final class CityJsonReaderFactory(output: CityJsonSource.Output, fields: Array[String],
    confSer: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val filePaths = partition.asInstanceOf[CityJsonFilePartition].filePaths
    // column ordinals in the output's full schema, resolved once per reader
    val ordinals = fields.map { f =>
      val i = output.schema.fieldNames.indexOf(f)
      if (i < 0) throw new IllegalArgumentException(s"unknown column $f")
      i
    }
    new PartitionReader[InternalRow] {
      private val files = filePaths.iterator
      private var rows: Iterator[InternalRow] = Iterator.empty
      private var current: InternalRow = _

      /** The required columns of a row whose full-schema values are `values`. */
      private def row(values: Any*): InternalRow = new GenericInternalRow(ordinals.map(values(_)))

      /** One document's rows, converted once the previous document's rows
        * are spent; no triples for a failed document (NULL model). */
      private def convert(filePath: String): Iterator[InternalRow] = {
        val p = new Path(filePath)
        // the SESSION's Hadoop conf, not a blank new Configuration(): an
        // object store the driver could list must be one the reader can open
        val fs = p.getFileSystem(confSer.value)
        val in = fs.open(p)
        val json = try CjJson.parse(in.readAllBytes()) finally in.close()
        val docIri = CityJsonSource.docIriFor(filePath)
        val doc = UTF8String.fromString(docIri)
        output match {
          case CityJsonSource.Triples =>
            val arena = new ArenaRows(ordinals, doc)
            if (CjConvert.convertTo(arena, docIri, json).docFailed) Iterator.empty else arena.rows
          case CityJsonSource.Logs =>
            CjConvert.convertTo(CjSink.Discard, docIri, json).logs.iterator.map { l =>
              row(doc, UTF8String.fromString(l.level), UTF8String.fromString(l.category),
                UTF8String.fromString(l.msg), UTF8String.fromString(l.path))
            }
          case CityJsonSource.Docs =>
            val count = new CjSink.Count
            val o = CjConvert.convertTo(count, docIri, json)
            Iterator.single(row(doc, if (o.docFailed) 0L else count.n,
              o.logs.count(_.level == "Error").toLong, o.docFailed))
        }
      }

      override def next(): Boolean = {
        while (!rows.hasNext && files.hasNext) rows = convert(files.next())
        if (rows.hasNext) { current = rows.next(); true } else false
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

/** The reader's sink for one document: the required columns of each triple
  * (`ordinals` into [[CityJsonSource.schema]]) are written as UTF-8 into a
  * byte arena that belongs to this document, and each row, served once the
  * document has converted, holds [[UTF8String]] slices of it. No `Triple` is
  * made, and no string is copied per row: subjects, predicates, object IRIs,
  * type tags and short literals repeat across many triples, so each distinct
  * one is written once per document and its slice shared by the rows that
  * repeat it; array literals are copied once, from the converter's buffer.
  * Sharing is what keeps a held document small: encoding every field anew
  * raised the benchmark's peak RSS by 12–13% (plans/cj_stream/README.md,
  * which also gives the caches' hit shares). The arena is a list of chunks
  * that never move and are never written twice, so a row stays valid
  * however long Spark holds it. */
private[cj] final class ArenaRows(ordinals: Array[Int], docIri: UTF8String) extends CjSink {
  import ArenaRows._

  private val k = ordinals.length
  // the values of triple t are vals(t * k until (t + 1) * k)
  private var vals = new Array[AnyRef](math.max(k, 1) * 256)
  private var n = 0

  private var chunk: Array[Byte] = null
  private var used = ChunkBytes // bytes used of `chunk`; full until the first one

  // direct-mapped caches of strings already in the arena: IRIs (subjects
  // and objects), the vocabulary (predicates and type tags), short literals
  private val iris = new Cache(4096)
  private val vocab = new Cache(256)
  private val lits = new Cache(1024)

  private final class Cache(slots: Int) {
    private val keys = new Array[String](slots)
    private val slices = new Array[UTF8String](slots)
    def apply(s: String): UTF8String =
      if (s == null) null
      else {
        val h = s.hashCode
        val c = (h ^ (h >>> 16)) & (slots - 1)
        val key = keys(c)
        if ((key eq s) || (key != null && key == s)) slices(c)
        else {
          val u = encode(s)
          keys(c) = s
          slices(c) = u
          u
        }
      }
  }

  private def nextTriple(): Int = {
    val at = n * k
    if (at + k > vals.length) vals = java.util.Arrays.copyOf(vals, vals.length * 2)
    n += 1
    at
  }

  /** `len` bytes at the arena's end, copied from `src`. */
  private def slice(src: Array[Byte], off: Int, len: Int): UTF8String =
    if (len > ChunkBytes / 4) UTF8String.fromBytes(java.util.Arrays.copyOfRange(src, off, off + len))
    else {
      if (len > ChunkBytes - used) { chunk = new Array[Byte](ChunkBytes); used = 0 }
      System.arraycopy(src, off, chunk, used, len)
      used += len
      UTF8String.fromBytes(chunk, used - len, len)
    }

  /** `s` as UTF-8 at the arena's end. */
  private def encode(s: String): UTF8String = {
    val len = s.length
    if (len > ChunkBytes / 4) return UTF8String.fromString(s)
    if (len > ChunkBytes - used) { chunk = new Array[Byte](ChunkBytes); used = 0 }
    var i = 0
    while (i < len && s.charAt(i) < 0x80) { chunk(used + i) = s.charAt(i).toByte; i += 1 }
    if (i < len) {
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      slice(b, 0, b.length)
    } else {
      used += len
      UTF8String.fromBytes(chunk, used - len, len)
    }
  }

  private def literal(s: String): UTF8String =
    if (s == null) null else if (s.length <= ShortLiteral) lits(s) else encode(s)

  // the row position of each field, -1 where the field is not required
  private val atDoc = ordinals.indexOf(0)
  private val atSubj = ordinals.indexOf(1)
  private val atPred = ordinals.indexOf(2)
  private val atIri = ordinals.indexOf(3)
  private val atLit = ordinals.indexOf(4)
  private val atType = ordinals.indexOf(5)

  def triple(s: String, p: String, oIri: String, oLit: String, oType: String): Unit = {
    val at = nextTriple()
    if (atDoc >= 0) vals(at + atDoc) = docIri
    if (atSubj >= 0) vals(at + atSubj) = iris(s)
    if (atPred >= 0) vals(at + atPred) = vocab(p)
    if (atIri >= 0) vals(at + atIri) = iris(oIri)
    if (atLit >= 0) vals(at + atLit) = literal(oLit)
    if (atType >= 0) vals(at + atType) = vocab(oType)
  }

  def asciiLiteral(s: String, p: String, lit: AsciiBuf, oType: String): Unit = {
    val at = nextTriple()
    if (atDoc >= 0) vals(at + atDoc) = docIri
    if (atSubj >= 0) vals(at + atSubj) = iris(s)
    if (atPred >= 0) vals(at + atPred) = vocab(p)
    if (atIri >= 0) vals(at + atIri) = null
    if (atLit >= 0) vals(at + atLit) = slice(lit.bytes, 0, lit.length)
    if (atType >= 0) vals(at + atType) = vocab(oType)
  }

  /** The document's rows, in emission order. */
  def rows: Iterator[InternalRow] =
    if (k == 0) Iterator.fill(n)(NoColumns)
    else new Iterator[InternalRow] {
      private var at = 0
      private val end = n * k
      def hasNext: Boolean = at < end
      def next(): InternalRow = {
        val values = java.util.Arrays.copyOfRange(vals, at, at + k)
        at += k
        new GenericInternalRow(values.asInstanceOf[Array[Any]])
      }
    }
}

private[cj] object ArenaRows {
  val ChunkBytes: Int = 1 << 16
  /** Literals up to this many chars are looked up before they are written. */
  val ShortLiteral = 16
  private val NoColumns = new GenericInternalRow(0)
}
