package graft.cdc

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-epoch, per-partition lineage + metrics side table.
  *
  * Reference analogue: the reference logs per-write progress and match
  * distances as it goes (coverage/io/netcdf/DefaultWriter.py:231-233,
  * point/io/netcdf/symphonie/AbstractSYMPHONIEReader.py:67-74) and
  * times stages with a decorator (utils/timing.py:23-30); here those
  * become queryable rows: one per (epoch, key-bucket) with the LSN
  * range and row count that bucket applied, plus the global source LSN
  * range of the raw batch (from the apply pass's observe() metrics) and
  * the committed snapshot version — enough to trace any state row back
  * to its log range.
  *
  * Cost model: the per-bucket breakdown comes from the parquet footers
  * of the delta group the epoch just wrote — each file's row count and
  * its `lsn` min/max statistics, O(files) metadata and no Spark job —
  * and the epoch's rows are appended as one local-relation write. A
  * group whose footers lack `lsn` statistics falls back to a
  * column-pruned scan (lsn + bucket partition column) of that group:
  * O(applied keys), never a second pass over the raw batch.
  */
final class Audit(val dir: String) {

  // Lineage writes are side-channel writes over already-committed,
  // immutable delta files — they run on a single background thread so
  // the apply loop's next epoch overlaps them (Spark schedules
  // concurrent jobs fine). `flush()` joins before the caller declares
  // the replay complete.
  private val worker = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, "graft-audit"); t.setDaemon(true); t
  })
  private val pending = new java.util.concurrent.atomic.AtomicReference[Throwable](null)

  /** Queue [[record]] on the audit thread. */
  def recordAsync(
      spark: SparkSession,
      table: LakeTable,
      group: Option[FileGroup],
      rawStats: Map[String, Any],
      stats: ApplyStats): Unit = {
    worker.submit(new Runnable {
      def run(): Unit =
        try record(spark, table, group, rawStats, stats)
        catch { case t: Throwable => pending.compareAndSet(null, t) }
    })
    ()
  }

  /** Wait for queued lineage writes; rethrows the first failure. */
  def flush(): Unit = {
    val latch = new java.util.concurrent.CountDownLatch(1)
    worker.submit(new Runnable { def run(): Unit = latch.countDown() })
    latch.await()
    Option(pending.get()).foreach(t => throw t)
  }

  /** Append the lineage rows of one epoch: one per bucket `group`
    * wrote, stamped with the epoch's source range (`rawStats`, the
    * apply pass's observe() metrics) and the snapshot it committed
    * (`stats.snapshot`). */
  def record(
      spark: SparkSession,
      table: LakeTable,
      group: Option[FileGroup],
      rawStats: Map[String, Any],
      stats: ApplyStats): Unit = {
    val snapshotVersion = stats.snapshot.map(_.version).getOrElse(-1L)
    def stat(k: String): Long =
      rawStats.get(k).collect { case l: Long => l }.getOrElse(-1L)
    // only the group THIS epoch appended: an empty epoch (commit with no
    // files) must not re-record the previous group's rows under its id
    group.foreach { g =>
      val groupDir = s"${table.root}/${g.dir}"
      val perBucket: Seq[Row] = ParquetStats.bucketRanges(spark, groupDir, "lsn") match {
        case Some(ranges) => ranges.map { case (b, lo, hi, n) => Row(b, lo, hi, n) }
        case None =>
          spark.read.parquet(groupDir)
            .groupBy(col("bucket"))
            .agg(min(col("lsn")), max(col("lsn")), count(lit(1)))
            .collect().toSeq
      }
      val epochCols = Seq[Any](stats.epochId, stat("min_lsn"), stat("max_lsn"),
        stat("rows_in_batch"), stat("late_events"), snapshotVersion,
        stats.batchSchemaVersion, stats.wallMs)
      // one file per epoch IS the minimal append (O(buckets) rows);
      // the file-count growth over a long replay is bounded by
      // compactAsync below, not by fanning the append out
      spark.createDataFrame(perBucket.map(r => Row.fromSeq(r.toSeq ++ epochCols)).asJava,
          Audit.schema)
        .coalesce(1)
        .write.mode("append").parquet(LakeFs.path(spark, dir))
    }
  }

  /** Opportunistic audit-side compaction: when the audit dir has
    * accumulated more than `maxFiles` per-epoch parquet files — a
    * 10^5-epoch replay would otherwise leave 10^5 tiny files — merge
    * them into ONE new `compacted-*` segment and delete them. Runs on
    * the same single worker thread as the appends, so it never races a
    * recordAsync. Trigger it alongside table compaction (Pipeline does).
    *
    * SIZE-TIERED: previously compacted segments are never re-read or
    * rewritten — each lineage row is rewritten exactly once, keeping
    * total compaction I/O linear in epochs (rewriting the whole dir
    * each trigger would be O(epochs^2/maxFiles) over a long replay).
    *
    * CRASH-SAFE via an absorb sidecar: the input list is persisted
    * (fsync'd dot-file, invisible to Spark's parquet reader) BEFORE the
    * compacted segment is published, and the inputs are deleted after.
    * A crash in between leaves segment + sidecar; the next
    * compaction/read completes the deletes instead of double-counting
    * the absorbed rows forever. A crash before publish leaves only the
    * sidecar (inputs intact) — swept by the next compactNow. */
  def compactAsync(spark: SparkSession, maxFiles: Int = 64): Unit = {
    worker.submit(new Runnable {
      def run(): Unit =
        try compactNow(spark, maxFiles)
        catch { case t: Throwable => pending.compareAndSet(null, t) }
    })
    ()
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Complete interrupted compactions. `completeOnly`: finish published
    * segments' deletes but keep not-yet-published sidecars (a read may
    * run while the worker is mid-protocol; only the worker itself may
    * discard an unpublished sidecar). */
  private def recoverCompactions(root: java.nio.file.Path, completeOnly: Boolean): Unit = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.isDirectory(root)) return
    val sidecars = scala.util.Using.resource(java.nio.file.Files.list(root)) { st =>
      st.iterator().asScala.filter(_.getFileName.toString.startsWith(".absorb-")).toSeq
    }
    sidecars.foreach { sc =>
      val id = sc.getFileName.toString.stripPrefix(".absorb-").stripSuffix(".json")
      val segment = root.resolve(s"compacted-$id.parquet")
      if (java.nio.file.Files.exists(segment)) {
        val node = mapper.readTree(java.nio.file.Files.readAllBytes(sc))
        node.elements().asScala.foreach(f =>
          java.nio.file.Files.deleteIfExists(root.resolve(f.asText())))
        java.nio.file.Files.deleteIfExists(sc)
      } else if (!completeOnly) java.nio.file.Files.deleteIfExists(sc)
    }
  }

  private def compactNow(spark: SparkSession, maxFiles: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) return
    recoverCompactions(root, completeOnly = false)
    // size-tiered input set: per-epoch appends only, never prior segments
    val inputs = scala.util.Using.resource(java.nio.file.Files.list(root)) { st =>
      st.iterator().asScala.map(_.getFileName.toString)
        .filter(f => f.endsWith(".parquet") && !f.startsWith("compacted-")).toSeq
    }
    if (inputs.size <= maxFiles) return
    val tmp = s"$dir-compact-tmp"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    // read exactly the snapshot of files taken above (not the dir — a
    // concurrent append queued behind this job must not be absorbed
    // then deleted), under its footers' merged schema, as in read()
    val paths = inputs.map(f => root.resolve(f).toString)
    spark.read.schema(ParquetStats.mergedSchema(spark, paths).getOrElse(Audit.schema))
      .parquet(paths: _*)
      .coalesce(1).write.parquet(LakeFs.path(spark, tmp))
    val part = scala.util.Using.resource(
      java.nio.file.Files.list(java.nio.file.Paths.get(tmp))) { st =>
      st.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    }.head
    val id = java.util.UUID.randomUUID().toString.take(12)
    val sidecar = root.resolve(s".absorb-$id.json")
    java.nio.file.Files.write(sidecar,
      mapper.writeValueAsBytes(inputs.toArray))
    try scala.util.Using.resource(java.nio.channels.FileChannel.open(
      sidecar, java.nio.file.StandardOpenOption.READ))(_.force(true))
    catch { case _: Exception => () }
    java.nio.file.Files.move(part, root.resolve(s"compacted-$id.parquet"))
    inputs.foreach(f => java.nio.file.Files.deleteIfExists(root.resolve(f)))
    java.nio.file.Files.deleteIfExists(sidecar)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  /** Coherent snapshot read of the audit table.
    *
    * The file listing (and completion of any interrupted compaction)
    * runs ON the single audit worker thread, serialized with appends
    * and compactions — a reader can never list a compacted segment AND
    * its absorbed inputs together (double-count), nor list an input
    * file that an in-flight compaction deletes before the scan opens
    * it, which an unserialized directory read during an active stream
    * could (Pipeline triggers compactAsync at the compaction cadence).
    * The returned frame is pinned to the listed files; consume it
    * within one compaction cadence of creation, or call `flush()`
    * first for a fully quiescent read — a compaction that publishes
    * AFTER this snapshot deletes its absorbed inputs, like any lake
    * vacuuming under a long-held reader.
    *
    * Under the files' merged schema, read from their footers on the
    * driver: an audit dir may span engine versions that added metric
    * columns (e.g. late_events), and a single-footer schema would read
    * such a dir nondeterministically. */
  def read(spark: SparkSession): DataFrame = {
    val root = java.nio.file.Paths.get(dir)
    val files = new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val latch = new java.util.concurrent.CountDownLatch(1)
    worker.submit(new Runnable {
      def run(): Unit =
        try {
          // best-effort: a read must not fail because cleanup could not
          // run (read-only mount, permissions); duplicates then persist
          // only until the next writable recovery
          try recoverCompactions(root, completeOnly = true)
          catch { case _: Exception => () }
          if (java.nio.file.Files.isDirectory(root)) {
            import scala.jdk.CollectionConverters._
            files.set(scala.util.Using.resource(java.nio.file.Files.list(root)) { st =>
              st.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq
            })
          }
        } catch { case t: Throwable => err.set(t) }
        finally latch.countDown()
    })
    // BOUNDED await: behind a deep recordAsync/compactAsync backlog the
    // serialized listing may not get its turn for a long time, and a
    // monitoring read must not hang indefinitely. On timeout it FAILS —
    // the pinned snapshot is the coherence guarantee callers rely on,
    // and an unpinned directory read could double-count a compaction's
    // inputs+output or scan files it is deleting. Interrupts propagate
    // so a stuck reader can be cancelled.
    if (!latch.await(Audit.PinTimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      throw new java.util.concurrent.TimeoutException(
        s"audit read: pinned-snapshot listing did not complete within " +
          s"${Audit.PinTimeoutMs}ms (deep recordAsync/compactAsync backlog?) — " +
          "retry, or call flush() first for a quiescent read")
    Option(err.get()).foreach(t => throw t)
    val snapshot = files.get()
    val schema = ParquetStats.mergedSchema(spark, snapshot).getOrElse(Audit.schema)
    if (snapshot.isEmpty) spark.read.schema(schema).parquet(dir)
    else spark.read.schema(schema).parquet(snapshot: _*)
  }
}

object Audit {
  /** How long a read waits for its pinned listing on the audit worker. */
  private val PinTimeoutMs = 30000L

  /** The lineage table's columns, in order: per-bucket applied range,
    * then the epoch's source range and commit. */
  private val schema: StructType = StructType(Seq(
    StructField("bucket", IntegerType), StructField("min_lsn", LongType),
    StructField("max_lsn", LongType), StructField("rows_applied", LongType),
    StructField("epoch_id", LongType), StructField("source_min_lsn", LongType),
    StructField("source_max_lsn", LongType), StructField("source_rows", LongType),
    StructField("late_events", LongType), StructField("snapshot_version", LongType),
    StructField("schema_version", IntegerType), StructField("wall_ms", LongType)))
}
