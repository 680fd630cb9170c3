package graft.cj

import java.util.{Map => JMap}
import scala.annotation.switch
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 batch source for CityJSON corpora — the Spark-native form
  * of the reference's JSON file source (SURVEY §2.1 S1):
  *
  * {{{ spark.read.format("cityjson").load("/data/cities") }}}
  *
  * yields one row per emitted triple, `(doc_iri, subj, pred, obj_iri,
  * obj_lit, obj_type)`, converted on EXECUTORS. Column pruning is pushed
  * into the reader (`SupportsPushDownRequiredColumns`): a `select(pred)`
  * materializes only the pruned columns per row.
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
  *  - rows are built from column ordinals resolved once per reader (an
  *    unknown pruned column fails at reader creation), one array per row.
  *
  * Conversion semantics are [[CjConvert]] — identical to every other entry
  * point (spec-locked against `CjSpark.convert`); doc-level failures follow
  * the reference's NULL-model contract and emit zero rows.
  */
class CityJsonSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cityjson"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = CityJsonSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new CityJsonTable(Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("cityjson source needs a path: .load(<dir>)")))
}

object CityJsonSource {
  val schema: StructType = StructType(Seq(
    StructField("doc_iri", StringType, nullable = false),
    StructField("subj", StringType, nullable = false),
    StructField("pred", StringType, nullable = false),
    StructField("obj_iri", StringType, nullable = true),
    StructField("obj_lit", StringType, nullable = true),
    StructField("obj_type", StringType, nullable = true)))

  private[cj] def docIriFor(path: String): String = {
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

final class CityJsonTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"cityjson:$path"
  override def schema(): StructType = CityJsonSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CityJsonScanBuilder(path)
}

final class CityJsonScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = CityJsonSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = {
    // capture session state at plan time: Hadoop conf (incl. spark.hadoop.*)
    // for the executors, file-packing knobs from the SQL conf
    val spark = org.apache.spark.sql.SparkSession.active
    val confSer = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val sqlConf = spark.sessionState.conf
    new CityJsonScan(path, required, confSer,
      sqlConf.filesMaxPartitionBytes, sqlConf.filesOpenCostInBytes,
      spark.sparkContext.defaultParallelism)
  }
}

final class CityJsonScan(path: String, required: StructType,
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
    new CityJsonReaderFactory(required.fieldNames, confSer)
}

final case class CityJsonFilePartition(filePaths: Array[String]) extends InputPartition

final class CityJsonReaderFactory(fields: Array[String], confSer: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val filePaths = partition.asInstanceOf[CityJsonFilePartition].filePaths
    // column ordinals in the full schema, resolved once per reader
    val ordinals = fields.map { f =>
      val i = CityJsonSource.schema.fieldNames.indexOf(f)
      if (i < 0) throw new IllegalArgumentException(s"unknown column $f")
      i
    }
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      private lazy val rows: Iterator[InternalRow] = filePaths.iterator.flatMap { filePath =>
        val p = new Path(filePath)
        // the SESSION's Hadoop conf, not a blank new Configuration(): an
        // object store the driver could list must be one the reader can open
        val fs = p.getFileSystem(confSer.value)
        val in = fs.open(p)
        val json = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        val docIri = CityJsonSource.docIriFor(filePath)
        val docUtf8 = UTF8String.fromString(docIri)
        CjConvert.convert(docIri, json).triples.iterator.map { t =>
          val values = new Array[Any](ordinals.length)
          var i = 0
          while (i < ordinals.length) {
            values(i) = (ordinals(i): @switch) match {
              case 0 => docUtf8
              case 1 => UTF8String.fromString(t.subj)
              case 2 => UTF8String.fromString(t.pred)
              case 3 => UTF8String.fromString(t.obj_iri)
              case 4 => UTF8String.fromString(t.obj_lit)
              case _ => UTF8String.fromString(t.obj_type)
            }
            i += 1
          }
          new GenericInternalRow(values)
        }
      }
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
