package graft.cj

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.SparkTestBase
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType}
import org.apache.spark.util.SerializableConfiguration

/** Stand-in for a filesystem needing session configuration (S3 credentials,
  * custom defaultFS): resolves only through `fs.graftfs.impl` and refuses to
  * initialize without its "credential" key — if the DSv2 reader built a blank
  * `new Configuration()` on the executor (the round-3 bug), opening a
  * `graftfs:` path there would fail. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def initialize(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration): Unit = {
    require(conf.get("graft.test.token") == "sesame",
      "graftfs needs its credential token from the session Hadoop conf")
    super.initialize(uri, conf)
  }
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

/** Local filesystem under the `countfs:` scheme that counts its
  * `listStatus` calls per directory, and hands out statuses that count every
  * read of their permission, owner or group (the reads that make a local
  * filesystem fork a `stat` process per file). Instances are made per
  * resolve, so the counters live in the companion. */
class CountingTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingTestFs.listings.merge(f.toUri.getPath, 1, (a: Integer, b: Integer) => a + b)
    super.listStatus(f).map { s =>
      new FileStatus(s.getLen, s.isDirectory, 1, s.getBlockSize, s.getModificationTime, s.getPath) {
        override def getPermission = { CountingTestFs.attributeReads.incrementAndGet(); super.getPermission }
        override def getOwner = { CountingTestFs.attributeReads.incrementAndGet(); super.getOwner }
        override def getGroup = { CountingTestFs.attributeReads.incrementAndGet(); super.getGroup }
      }
    }
  }
}

object CountingTestFs {
  val listings = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  val attributeReads = new AtomicInteger()
  def reset(): Unit = { listings.clear(); attributeReads.set(0) }
  def listingsOf(dir: java.nio.file.Path): Int =
    Option(listings.get(dir.toString)).map(_.intValue).getOrElse(0)
}

class CityJsonSourceSpec extends SparkTestBase {

  /** A minimal valid document: one Building with one string attribute. */
  private def writeDoc(file: java.nio.file.Path): Unit = {
    Files.createDirectories(file.getParent)
    Files.write(file, """{"type":"CityJSON","version":"1.1","vertices":[],
      "CityObjects":{"a":{"type":"Building","attributes":{"s":"hello"}}}}""".getBytes("UTF-8"))
  }

  private def docIris(dir: java.nio.file.Path): Set[String] =
    spark.read.format("cityjson").load(dir.toString).select("doc_iri").distinct()
      .collect().map(_.getString(0)).toSet

  private val examples = "/root/reference/examples"

  private def read(output: String, dir: String) =
    spark.read.format("cityjson").option("output", output).load(dir)

  /** Every `.json` file under `dir`, as the source lists it. */
  private def documents(dir: String): Seq[java.nio.file.Path] =
    Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".json")).toVector

  test("docs n_triples count the triples rows; logs equal CjConvert's logs") {
    CjFixtures.corpora.foreach { dir =>
      // triples is the default output
      assert(spark.read.format("cityjson").load(dir).columns.toSeq ==
        Seq("doc_iri", "subj", "pred", "obj_iri", "obj_lit", "obj_type"))
      val docs = read("docs", dir)
      assert(docs.schema.map(f => f.name -> f.dataType) == Seq("doc_iri" -> StringType,
        "n_triples" -> LongType, "n_errors" -> LongType, "failed" -> BooleanType))
      val nTriples = docs.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val counted = read("triples", dir).groupBy("doc_iri").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(nTriples.keySet == documents(dir).map(f => CityJsonSource.docIriFor(f.toString)).toSet)
      assert(nTriples.filter(_._2 > 0) == counted, dir)

      val logs = read("logs", dir)
      assert(logs.columns.toSeq == Seq("doc_iri", "level", "category", "msg", "path"))
      val want = documents(dir).flatMap { f =>
        val docIri = CityJsonSource.docIriFor(f.toString)
        CjConvert.convert(docIri, Files.readString(f)).logs
          .map(l => Seq(docIri, l.level, l.category, l.msg, l.path).mkString("|"))
      }.sorted
      assert(want.nonEmpty)
      assert(logs.collect().map(_.toSeq.mkString("|")).sorted.toSeq == want, dir)
    }
  }

  test("an unknown output value fails and names the valid values") {
    val e = intercept[IllegalArgumentException](read("quads", CjFixtures.dir).collect())
    Seq("quads", "triples", "logs", "docs").foreach(v => assert(e.getMessage.contains(v), e.getMessage))
  }

  /** The in-repo fixtures, one `.json` file each. */
  private def fixtureFiles: Vector[java.nio.file.Path] =
    Files.list(java.nio.file.Paths.get(CjFixtures.dir)).iterator().asScala
      .filter(_.toString.endsWith(".json")).toVector.sortBy(_.toString)

  /** `cols` of `CjConvert.convert`'s triples of `file`, as strings. */
  private def collected(file: java.nio.file.Path, cols: Seq[String]): Seq[String] = {
    val docIri = CityJsonSource.docIriFor(file.toString)
    CjConvert.convert(docIri, Files.readString(file)).triples.map { t =>
      cols.map {
        case "doc_iri" => docIri
        case "subj" => t.subj
        case "pred" => t.pred
        case "obj_iri" => t.obj_iri
        case "obj_lit" => t.obj_lit
        case "obj_type" => t.obj_type
      }.map(Option(_)).mkString("|")
    }.sorted
  }

  private def rowStrings(rows: Seq[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(r => (0 until r.length).map(i => Option(r.getString(i))).mkString("|")).sorted

  test("DSv2 rows equal CjConvert.convert's triples for every in-repo fixture, whole and pruned") {
    val files = fixtureFiles
    assert(files.size == 8, files)
    val selections = Seq(CityJsonSource.schema.fieldNames.toSeq, Seq("obj_lit"), Seq("doc_iri", "pred"),
      Seq("subj", "obj_iri", "obj_type"))
    for (file <- files; cols <- selections) {
      val df = spark.read.format("cityjson").load(file.toString).select(cols.map(col): _*)
      val scan = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head
      assert(scan.scan.readSchema().fieldNames.toSeq.sorted == cols.sorted, s"$file $cols")
      assert(rowStrings(df.collect().toSeq) == collected(file, cols), s"$file: $cols")
    }
    // {} fails after the ontology is emitted: the NULL model gives no rows
    assert(spark.read.format("cityjson").load(s"${CjFixtures.dir}/empty.city.json").count() == 0)
  }

  test("reader rows stay valid after the reader has moved on to later documents") {
    val dir = Files.createTempDirectory("cjarena")
    // non-ASCII text, a literal longer than an arena chunk's direct-copy
    // limit, and enough distinct IRIs to fill several chunks
    val objects = (0 until 3000).map { i =>
      s""""obj-$i-Straße-日本":{"type":"Building","attributes":{"name":"Gebäude $i ü",""" +
        s""""note":"${"x" * (if (i == 7) 40000 else 20)}","h":${i * 0.1}}}"""
    }.mkString(",")
    Files.write(dir.resolve("big.json"),
      s"""{"type":"CityJSON","version":"1.1","vertices":[],"CityObjects":{$objects}}""".getBytes("UTF-8"))
    fixtureFiles.foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
    val files = Files.list(dir).iterator().asScala.map(_.toString).toArray.sorted
    val reader = new CityJsonReaderFactory(CityJsonSource.Triples, CityJsonSource.schema.fieldNames,
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
      .createReader(CityJsonFilePartition(files))
    // keep every row object the reader hands out, uncopied
    val held = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.catalyst.InternalRow]()
    while (reader.next()) held += reader.get()
    reader.close()
    val got = held.map(r => (0 until 6).map(i => Option(r.getUTF8String(i)).map(_.toString)).mkString("|")).sorted
    val want = files.toSeq.flatMap(f => collected(java.nio.file.Paths.get(f), CityJsonSource.schema.fieldNames.toSeq)).sorted
    assert(got.size == want.size && got.size > 3000 * 4)
    assert(got == want)
  }

  test("column pruning is pushed into the DSv2 reader") {
    val df = spark.read.format("cityjson").load(CjFixtures.dir).select("pred")
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    val readSchema = scans.head.scan.readSchema()
    assert(readSchema.fieldNames.toSeq == Seq("pred"),
      s"reader must materialize only the pruned columns, got $readSchema")
    assert(df.distinct().count() > 10) // predicates across the corpus
    // the logs and docs rows are pruned the same way
    val levels = read("logs", CjFixtures.dir).select("level")
    assert(levels.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan.readSchema().fieldNames.toSeq
    } == Seq(Seq("level")))
    assert(levels.distinct().collect().map(_.getString(0)).toSet.contains("Error"))
    val failed = read("docs", CjFixtures.dir).select("failed", "doc_iri").where("failed")
    assert(failed.collect().map(r => (r.getBoolean(0), r.getString(1))).toSeq == Seq((true, "cj:empty")))
  }

  test("size-binned packing: every file exactly once, oversized files seed their own bins") {
    val tiny = (0 until 100).map(i => (f"f$i%03d.json", 10L))
    val big = Seq(("big.json", 200L << 20))
    val bins = CityJsonSource.packPartitions(tiny ++ big,
      maxPartitionBytes = 128L << 20, openCostInBytes = 4L << 20, minPartitionNum = 4)
    assert(bins.flatten.sorted.toSeq == (tiny ++ big).map(_._1).sorted)
    // 200MB exceeds maxSplitBytes alone: its bin holds only it
    assert(bins.find(_.contains("big.json")).get.length == 1)
    // 100 tiny files amortize into ~4MB-costed slots of 128MB bins, not 100 tasks
    assert(bins.length <= 6, s"${bins.length} bins: ${bins.map(_.length).mkString(",")}")
  }

  test("a 1,000-tiny-file corpus in nested dirs plans O(cores) partitions (recursive listing + packing)") {
    val dir = Files.createTempDirectory("cjpack")
    (0 until 1000).foreach { i =>
      val sub = dir.resolve(s"batch=${i % 7}") // corpus laid out in subdirectories
      Files.createDirectories(sub)
      Files.write(sub.resolve(s"doc$i.json"), "{}".getBytes("UTF-8"))
    }
    val cores = spark.sparkContext.defaultParallelism
    // tiny docs: a sub-default open cost is the honest model, and exercises
    // that the packing knobs flow from the session SQL conf into the scan
    spark.conf.set("spark.sql.files.openCostInBytes", (512L * 1024).toString)
    try {
      val df = spark.read.format("cityjson").load(dir.toString)
      val parts = df.rdd.getNumPartitions
      assert(parts <= cores * 4, s"$parts partitions for 1000 tiny files at $cores cores")
      assert(parts >= 1)
      // {} is an invalid CityJSON doc -> NULL-model contract: zero rows, no errors
      assert(df.count() == 0)
    } finally spark.conf.unset("spark.sql.files.openCostInBytes")
    // direct scan probe: all 1000 files listed recursively, each exactly once
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val scan = new CityJsonScan(dir.toString, CityJsonSource.Triples, CityJsonSource.schema, conf,
      maxPartitionBytes = 128L << 20, openCostInBytes = 512L * 1024, minPartitionNum = cores)
    val files = scan.planInputPartitions()
      .flatMap(_.asInstanceOf[CityJsonFilePartition].filePaths)
    assert(files.distinct.length == 1000, s"${files.distinct.length}")
  }

  test("the session Hadoop conf reaches executor-side readers (credentialed scheme end-to-end)") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    hc.set("fs.graftfs.impl.disable.cache", "true") // force initialize() per resolve
    hc.set("graft.test.token", "sesame")
    try {
      val expected = spark.read.format("cityjson").load(s"$examples/tetra.city.json").count()
      // the planned partition must KEEP the graftfs scheme (qualified against
      // the fs uri) — otherwise the reader-side resolution is not exercised
      val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
      val scan = new CityJsonScan(s"graftfs:$examples/tetra.city.json",
        CityJsonSource.Triples, CityJsonSource.schema, conf, 128L << 20, 4L << 20, 2)
      val partPaths = scan.planInputPartitions()
        .flatMap(_.asInstanceOf[CityJsonFilePartition].filePaths)
      assert(partPaths.nonEmpty && partPaths.forall(_.startsWith("graftfs:")), partPaths.toSeq)
      val df = spark.read.format("cityjson").load(s"graftfs:$examples/tetra.city.json")
      // the reader must open the graftfs: path on the executor with the
      // SESSION conf — a blank Configuration has neither the scheme mapping
      // nor the credential token and would throw
      assert(df.count() == expected && expected == 47)
    } finally {
      hc.unset("fs.graftfs.impl"); hc.unset("fs.graftfs.impl.disable.cache")
      hc.unset("graft.test.token")
    }
  }

  test("short name registration and single-file loads work") {
    val one = spark.read.format("cityjson").load(s"$examples/tetra.city.json")
    // tetra's golden triple count is 47 (CjIndependentGoldenSpec)
    assert(one.count() == 47)
    assert(one.select("doc_iri").distinct().head.getString(0) == "cj:tetra")
  }

  test("skewed sizes below minPartitionNum x maxPartitionBytes pack into exactly minPartitionNum bins") {
    // 64 documents whose sizes span 40x (log-uniform), like a city corpus
    val files = (0 until 64).map(i => (f"d$i%02d.json", (50000 * math.pow(40, ((i * 37) % 64) / 63.0)).toLong))
    for (openCost <- Seq(4L << 20, 64L << 10, 0L); minParts <- Seq(3, 4, 7)) {
      assert(files.map(_._2 + openCost).sum < minParts * (128L << 20))
      val bins = CityJsonSource.packPartitions(files,
        maxPartitionBytes = 128L << 20, openCostInBytes = openCost, minPartitionNum = minParts)
      assert(bins.length == minParts, s"openCost=$openCost: ${bins.length} bins")
      assert(bins.flatten.sorted.toSeq == files.map(_._1).sorted)
    }
  }

  test("least-loaded packing: the largest bin costs at most the mean bin cost plus the largest file") {
    val rnd = new scala.util.Random(7)
    for (round <- 0 until 50) {
      val n = 1 + rnd.nextInt(200)
      // heavy-tailed sizes: most files small, a few up to ~64 MB
      val files = (0 until n).map(i => (s"r$round-f$i.json", (math.pow(rnd.nextDouble(), 4) * (64L << 20)).toLong))
      val openCost = Seq(0L, 1L << 20, 4L << 20)(round % 3)
      val size = files.toMap
      val bins = CityJsonSource.packPartitions(files,
        maxPartitionBytes = 32L << 20, openCostInBytes = openCost, minPartitionNum = 1 + round % 8)
      assert(bins.flatten.sorted.toSeq == files.map(_._1).sorted)
      val costs = bins.map(_.map(size(_) + openCost).sum)
      val mean = costs.sum.toDouble / costs.length
      val largestFile = files.map(_._2 + openCost).max
      assert(costs.max <= mean + largestFile, s"round $round: ${costs.mkString(",")}")
    }
  }

  test("one query lists the corpus root once and reads no file permission or owner") {
    val dir = Files.createTempDirectory("cjcount")
    (0 until 12).foreach(i => writeDoc(dir.resolve(s"part=${i % 3}").resolve(s"doc$i.json")))
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.countfs.impl", classOf[CountingTestFs].getName)
    hc.set("fs.countfs.impl.disable.cache", "true")
    try {
      val df = spark.read.format("cityjson").load(s"countfs:$dir")
      val queries: Seq[(String, () => Any)] = Seq(
        "count" -> (() => df.count()),
        "collect" -> (() => df.collect()),
        "distinct over a shuffle" -> (() => df.select("pred").distinct().count()))
      queries.foreach { case (name, run) =>
        CountingTestFs.reset()
        run()
        assert(CountingTestFs.listingsOf(dir) == 1, s"$name: root listed ${CountingTestFs.listingsOf(dir)} times")
        assert(CountingTestFs.listingsOf(dir.resolve("part=1")) == 1, name)
        assert(CountingTestFs.attributeReads.get == 0, s"$name: permission/owner/group read")
      }
      assert(df.select("doc_iri").distinct().count() == 12)
    } finally {
      hc.unset("fs.countfs.impl"); hc.unset("fs.countfs.impl.disable.cache")
    }
  }

  test("a .json file added between two queries on the same path shows up in the second") {
    val dir = Files.createTempDirectory("cjfresh")
    writeDoc(dir.resolve("a.json"))
    assert(docIris(dir) == Set("cj:a"))
    writeDoc(dir.resolve("b.city.json"))
    assert(docIris(dir) == Set("cj:a", "cj:b"))
  }

  test("nested directories are walked, non-.json files skipped, every file listed exactly once") {
    val dir = Files.createTempDirectory("cjwalk")
    val docs = Seq("top.json", "x/one.json", "x/y/two.city.json", "x/y/z/three.json", "w/four.json")
    docs.foreach(d => writeDoc(dir.resolve(d)))
    Seq("notes.txt", "x/y/readme.md", "x/data.json.bak", "w/four.jsonl").foreach { f =>
      Files.write(dir.resolve(f), "{}".getBytes("UTF-8"))
    }
    Files.createDirectories(dir.resolve("empty/deeper"))
    val scan = new CityJsonScan(dir.toString, CityJsonSource.Triples, CityJsonSource.schema,
      new SerializableConfiguration(spark.sessionState.newHadoopConf()),
      maxPartitionBytes = 128L << 20, openCostInBytes = 4L << 20, minPartitionNum = 4)
    val files = scan.planInputPartitions().flatMap(_.asInstanceOf[CityJsonFilePartition].filePaths)
    val rel = files.map(f => new Path(f).toUri.getPath.stripPrefix(s"$dir/"))
    assert(rel.sorted.toSeq == docs.sorted, files.toSeq)
    assert(docIris(dir) == Set("cj:top", "cj:one", "cj:two", "cj:three", "cj:four"))
  }

  test("an unknown pruned column fails at reader creation") {
    val factory = new CityJsonReaderFactory(CityJsonSource.Triples, Array("subj", "no_such_column"),
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val e = intercept[IllegalArgumentException](factory.createReader(CityJsonFilePartition(Array.empty)))
    assert(e.getMessage.contains("no_such_column"))
  }
}
