package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Triple

/** One interface over the graph-table write layouts, so the storage
  * substitution (this sandbox has no Iceberg jars → parquet + session
  * catalog) swaps to Iceberg WITHOUT touching callers: an Iceberg-backed
  * implementation changes only the `write`/`read` bodies
  * (`writeTo(target).append()` / `spark.read.table`), while every caller —
  * pipeline, tests, Verify — stays on the trait.
  *
  * Iceberg mapping of what each layout encodes (documented contract):
  *  - [[GraphSink.Salted]] → a plain Iceberg table; the salted repartition
  *    becomes the write distribution (`write.distribution-mode=hash` +
  *    salt column, or a sort order on (subj, salt)). Balanced scans.
  *  - [[GraphSink.BucketedTable]] → Iceberg `bucket(N, subj)` partition
  *    transform + sorted write; storage-partitioned joins give the same
  *    shuffle-free subject self-join this layout's test locks.
  *  - [[GraphSink.PredicatePartitioned]] → Iceberg identity partition on
  *    `pred_ns`; planning-time partition pruning replaces the directory
  *    pruning asserted today.
  *  - [[KgPipeline.runStage]] manifests → Iceberg snapshots: the manifest's
  *    `fingerprint` maps to a snapshot summary property, its per-file row
  *    counts to the snapshot's manifest-entry metrics; resume-if-complete
  *    becomes "current snapshot carries the fingerprint property".
  */
trait GraphSink {
  def name: String
  /** Materialize the triples at `target` (path or table name, per layout). */
  def write(triples: Dataset[Triple], target: String): Unit
  /** Read the materialized graph back; must round-trip `write` losslessly
    * on the Triple columns (layouts may add derived columns, e.g. pred_ns —
    * `read` projects them away). */
  def read(spark: SparkSession, target: String): DataFrame
}

object GraphSink {

  private val tripleCols = Seq("subj", "pred", "obj_iri", "obj_lit", "obj_type").map(col)

  /** Salted balanced layout (north rule): partition key (subj, salt) spreads
    * hot hosts/entities, subject locality mostly kept. */
  final class Salted(parts: Int = 32, saltFanout: Int = 16) extends GraphSink {
    val name = "salted"
    def write(triples: Dataset[Triple], target: String): Unit =
      Salted.repartition(triples, parts, saltFanout)
        .write.mode(SaveMode.Overwrite).parquet(target)
    def read(spark: SparkSession, target: String): DataFrame =
      spark.read.parquet(target).select(tripleCols: _*)
  }

  object Salted {
    /** The salted layout's repartition: partition key is (subj, salt) where
      * the salt fans a HOT subject out over up to `saltFanout` buckets using
      * the rest of the row — subject locality is mostly kept for downstream
      * reads, but no single hot host/entity can pin a partition. The subject
      * distribution is Zipf by construction. */
    def repartition(triples: Dataset[Triple], parts: Int, saltFanout: Int = 16): Dataset[Triple] =
      triples.repartition(parts, col("subj"),
        pmod(xxhash64(col("pred"), coalesce(col("obj_iri"), lit("")), coalesce(col("obj_lit"), lit(""))),
          lit(saltFanout)))
  }

  /** Subject-bucketed catalog table: co-locates triples by subject so
    * subject-keyed self-joins run shuffle-free. */
  final class BucketedTable(buckets: Int = 32) extends GraphSink {
    val name = "bucketed"
    def write(triples: Dataset[Triple], target: String): Unit =
      // repartition on the bucket key FIRST (r7, guide §6): a bucketed
      // write emits one file per (task, bucket) — without this, N input
      // tasks × `buckets` = thousands of tiny files (measured 4424 for a
      // 148k-row table; every read then pays per-file open + listing).
      // Hash-repartitioning on the bucket column with numPartitions ==
      // numBuckets aligns tasks with buckets (same murmur3-pmod
      // assignment), so the write lands exactly `buckets` files.
      triples.repartition(buckets, col("subj"))
        .write
        .mode(SaveMode.Overwrite)
        .format("parquet")
        .bucketBy(buckets, "subj")
        .sortBy("subj")
        .saveAsTable(target)
    def read(spark: SparkSession, target: String): DataFrame =
      spark.table(target).select(tripleCols: _*)
  }

  /** Predicate-namespace partitioned layout: directory pruning for
    * family-filtered reads (ontology-only, mention-edges-only). */
  final class PredicatePartitioned(parts: Int = 32) extends GraphSink {
    val name = "pred_partitioned"
    def write(triples: Dataset[Triple], target: String): Unit =
      triples
        .withColumn("pred_ns", substring_index(col("pred"), ":", 1))
        .repartition(parts, col("pred_ns"), pmod(xxhash64(col("subj")), lit(parts)))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("pred_ns")
        .parquet(target)
    def read(spark: SparkSession, target: String): DataFrame =
      spark.read.parquet(target).select(tripleCols: _*)
  }

  /** Snapshot-versioned layout — the Iceberg snapshot/time-travel analog on
    * plain parquet: every `write` commits an IMMUTABLE snapshot directory
    * `snap=<id>/` and then swaps the `_current` pointer file, so readers
    * never observe a half-written table (the pointer swap is the analog of
    * Iceberg's atomic metadata-pointer commit; concurrent writers would
    * additionally need a CAS on the pointer, which Iceberg's catalog
    * provides). `read` resolves the current snapshot; [[readAsOf]] is
    * `VERSION AS OF`; [[snapshots]] is the snapshot log. Old snapshots stay
    * readable until an explicit expire — exactly Iceberg's retention model.
    * A commit plans no exchange: each input task writes its own file, as
    * Iceberg's `none` write distribution does for an unpartitioned table.
    * Nothing downstream reads a layout — [[readAsOf]] is a plain scan,
    * [[forget]]'s anti-join and [[compact]] plan their own exchanges.
    */
  final class Snapshotted extends GraphSink {
    val name = "snapshotted"

    private def fs(spark: SparkSession, target: String) =
      new org.apache.hadoop.fs.Path(target)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)

    def snapshots(spark: SparkSession, target: String): Seq[Long] = {
      val f = fs(spark, target)
      val dir = new org.apache.hadoop.fs.Path(target)
      if (!f.exists(dir)) Nil
      else f.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("snap=")).map(_.stripPrefix("snap=").toLong).sorted
    }

    def currentId(spark: SparkSession, target: String): Long = {
      val f = fs(spark, target)
      val ptr = new org.apache.hadoop.fs.Path(s"$target/_current")
      // pointer read is best-effort: commit() renames the pointer into place
      // atomically, but a reader racing the delete+rename fallback (needed on
      // filesystems whose rename refuses to overwrite) or hitting a torn
      // pointer falls back to the newest snapshot bearing a _COMMITTED
      // marker. The marker is written strictly AFTER the pointer swap, so a
      // writer that crashed between finishing its parquet (_SUCCESS) and
      // swapping the pointer leaves an UNMARKED snapshot the fallback will
      // never surface — the fallback is conservative (at worst one commit
      // behind, during the rename→marker window where the pointer itself is
      // valid), never ahead onto aborted data.
      val fromPtr =
        try {
          if (!f.exists(ptr)) None
          else {
            val in = f.open(ptr)
            val s = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
            if (s.isEmpty) None else Some(s.toLong)
          }
        } catch { case _: java.io.IOException | _: NumberFormatException => None }
      fromPtr.getOrElse {
        val done = committed(spark, target)
        require(done.nonEmpty, s"no committed snapshot at $target")
        done.last
      }
    }

    /** The snapshots whose commit completed (they bear `_COMMITTED`). An
      * unmarked directory belongs to an aborted or still-running commit. */
    private def committed(spark: SparkSession, target: String): Seq[Long] = {
      val f = fs(spark, target)
      snapshots(spark, target).filter(id =>
        f.exists(new org.apache.hadoop.fs.Path(s"$target/snap=$id/_COMMITTED")))
    }

    def write(triples: Dataset[Triple], target: String): Unit = {
      commit(triples, target)
      ()
    }

    /** Allocate the next snapshot id, write the data, swap the pointer.
      * Returns the id THIS commit allocated (never re-derived from the
      * pointer afterwards — under a concurrent commit or the torn-pointer
      * fallback a re-read could name someone else's snapshot). */
    private def commit(ds: Dataset[Triple], target: String): Long = {
      val spark = ds.sparkSession
      val id = snapshots(spark, target).lastOption.getOrElse(0L) + 1
      ds.write.mode(SaveMode.ErrorIfExists).parquet(s"$target/snap=$id")
      finishCommit(spark, target, id)
    }

    /** Pointer swap + committed marker for an already-written snapshot dir.
      * Data is fully durable before the pointer moves. The pointer itself is
      * committed by RENAME (the atomic step on HDFS/local FS) — an in-place
      * create() truncates first, so a concurrent reader could observe an
      * empty pointer. Filesystems whose rename refuses to overwrite take
      * the delete+rename fallback; currentId covers that window by falling
      * back to the newest complete snapshot. The committed-marker lands
      * AFTER the pointer swap: currentId's torn-pointer fallback trusts
      * only marked snapshots, so a crash before the marker (pointer already
      * valid) or before the rename (snapshot never committed) both resolve
      * correctly. Returns `id`. */
    private def finishCommit(spark: SparkSession, target: String, id: Long): Long = {
      val f = fs(spark, target)
      val tmp = new org.apache.hadoop.fs.Path(s"$target/_current.tmp")
      val cur = new org.apache.hadoop.fs.Path(s"$target/_current")
      val out = f.create(tmp, true)
      try out.write(id.toString.getBytes("UTF-8")) finally out.close()
      if (!f.rename(tmp, cur)) {
        f.delete(cur, false)
        require(f.rename(tmp, cur), s"could not commit snapshot pointer at $cur")
      }
      val mk = f.create(new org.apache.hadoop.fs.Path(s"$target/snap=$id/_COMMITTED"), true)
      mk.close()
      id
    }

    /** Merge-on-read base pointer of a snapshot: Some(baseId) when the
      * snapshot is a delete commit ([[forget]]) reading THROUGH an earlier
      * snapshot, None for a physical snapshot. */
    private[pipeline] def baseOf(spark: SparkSession, target: String, id: Long): Option[Long] = {
      val f = fs(spark, target)
      val p = new org.apache.hadoop.fs.Path(s"$target/snap=$id/_BASE")
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val s = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
        Some(s.toLong)
      }
    }

    def readAsOf(spark: SparkSession, target: String, id: Long): DataFrame =
      baseOf(spark, target, id) match {
        case Some(base) =>
          // merge-on-read: apply this snapshot's delete sidecar to the base
          // chain at read time — the underscore-prefixed sidecar dir is
          // invisible to the parquet reader, so a physical snapshot's scan
          // never sees it
          readAsOf(spark, target, base)
            .join(spark.read.parquet(s"$target/snap=$id/_deletes"), Seq("subj"), "left_anti")
            .select(tripleCols: _*)
        case None =>
          spark.read.parquet(s"$target/snap=$id").select(tripleCols: _*)
      }

    /** Incremental (CDC) read — Iceberg's changelog-table analog: the
      * multiset delta between two committed snapshots, each row tagged
      * `_change_type` ('insert' rows new in `toId`, 'delete' rows gone
      * since `fromId`) with `_n` copies affected. One null-safe full-outer
      * join of the two pre-aggregated snapshots — counts shuffle, never
      * duplicate row payloads; downstream consumers re-apply the delta
      * instead of re-scanning the table (THE incremental pattern at
      * 100 TB). Compaction produces an empty delta by construction. */
    def readChanges(spark: SparkSession, target: String, fromId: Long, toId: Long): DataFrame = {
      val names = Seq("subj", "pred", "obj_iri", "obj_lit", "obj_type")
      val a = readAsOf(spark, target, fromId).groupBy(tripleCols: _*)
        .agg(count(lit(1)).as("_n_from"))
      val b = readAsOf(spark, target, toId).groupBy(tripleCols: _*)
        .agg(count(lit(1)).as("_n_to"))
      // <=> joins: obj columns are legitimately null (literal vs iri rows)
      val cond = names.map(c => a(c) <=> b(c)).reduce(_ && _)
      a.join(b, cond, "full_outer")
        .select(names.map(c => coalesce(a(c), b(c)).as(c)) :+
          (coalesce(col("_n_to"), lit(0L)) - coalesce(col("_n_from"), lit(0L))).as("_delta"): _*)
        .filter(col("_delta") =!= 0)
        .select(names.map(col) :+
          when(col("_delta") > 0, "insert").otherwise("delete").as("_change_type") :+
          abs(col("_delta")).as("_n"): _*)
    }

    def read(spark: SparkSession, target: String): DataFrame =
      readAsOf(spark, target, currentId(spark, target))

    /** Retention: drop all but the newest `keep` committed snapshots (never
      * the current pointer's target, and never a snapshot a KEPT
      * merge-on-read snapshot still reads through — Iceberg never expires
      * files reachable from a live snapshot). An unmarked directory takes
      * no retention slot. One below the current id is an aborted commit (or
      * one that crashed before its marker and has since been superseded) —
      * with a single writer no running commit can own it — so it is
      * deleted unless a kept snapshot reads through it; one above the
      * current id is left alone. Physical erasure of forgotten rows is
      * therefore [[compact]] (materializing rewrite) + expire, the
      * rewrite_data_files → expire_snapshots two-step. Time travel to an
      * expired id fails loudly at read. */
    def expire(spark: SparkSession, target: String, keep: Int): Seq[Long] = {
      require(keep >= 1, "must keep at least the current snapshot")
      val f = fs(spark, target)
      val cur = currentId(spark, target)
      val done = committed(spark, target)
      var kept = done.takeRight(keep).toSet + cur
      // transitive closure over merge-on-read base pointers
      var frontier: Set[Long] = kept
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(id => baseOf(spark, target, id)).diff(kept)
        kept ++= frontier
      }
      val victims = snapshots(spark, target)
        .filter(id => (id < cur || done.contains(id)) && !kept(id))
      victims.foreach { id =>
        f.delete(new org.apache.hadoop.fs.Path(s"$target/snap=$id"), true)
      }
      victims
    }

    /** Right-to-be-forgotten deletion (the GDPR-erasure / takedown shape at
      * crawl scale), as a MERGE-ON-READ delete commit (r7): the new
      * snapshot carries ONLY the forget list as a `_deletes` parquet
      * sidecar plus a `_BASE` pointer to the snapshot it reads through —
      * O(|takedown batch|) bytes written, where the previous implementation
      * re-wrote EVERY kept row (a 100 TB store paid a full-corpus
      * copy-on-write per takedown call). [[readAsOf]] applies the sidecar
      * as one left-anti join on the subject key, which plans its own
      * exchange (AQE broadcasts small lists); the base snapshot's files are
      * byte-untouched (spec-locked). The delete is versioned — auditable
      * via [[readChanges]] (pure 'delete' rows), time-travelable until
      * expiry. Physical erasure is [[compact]] (materializes the anti-join
      * into a plain snapshot) + [[expire]] (drops the now-unreferenced
      * older snapshots) — Iceberg's rewrite_data_files → expire_snapshots
      * two-step. The forget list arrives as a Dataset, never a driver
      * collection. Returns the id allocated by THIS commit. */
    def forget(spark: SparkSession, target: String, subjects: Dataset[String]): Long = {
      import spark.implicits._
      val baseId = currentId(spark, target)
      val id = snapshots(spark, target).lastOption.getOrElse(0L) + 1
      subjects.toDF("subj").write
        .mode(SaveMode.ErrorIfExists).parquet(s"$target/snap=$id/_deletes")
      val f = fs(spark, target)
      val bp = f.create(new org.apache.hadoop.fs.Path(s"$target/snap=$id/_BASE"), false)
      try bp.write(baseId.toString.getBytes("UTF-8")) finally bp.close()
      finishCommit(spark, target, id)
    }

    /** Compaction (the OPTIMIZE / rewrite_data_files analog): rewrite the
      * current snapshot's data into `compactParts` right-sized files and commit
      * the result as a NEW snapshot — the small-files problem is the
      * classic failure mode of high-frequency appends at 100 TB (every
      * tiny file costs a task + a metadata entry on every read). The
      * rewritten snapshot is a normal commit: same rows, old snapshots
      * untouched, time travel unaffected. Returns the new snapshot id. */
    def compact(spark: SparkSession, target: String, compactParts: Int = 8): Long = {
      import spark.implicits._
      commit(read(spark, target).as[Triple].repartition(compactParts, col("subj")), target)
    }
  }

  /** Every layout, for parameterized round-trip tests. */
  def all(parts: Int): Seq[GraphSink] =
    Seq(new Salted(parts), new BucketedTable(parts), new PredicatePartitioned(parts),
      new Snapshotted, new NTriples.Files(parts))
}
