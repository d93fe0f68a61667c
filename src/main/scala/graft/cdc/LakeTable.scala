package graft.cdc

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.Using
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Graft._

/** A file group within a snapshot: parquet files written under one
  * physical payload-schema era. Per-group schema ids emulate Iceberg's
  * per-file schema tracking so WIDEN (int->long) across eras never
  * relies on parquet `mergeSchema` (which cannot widen).
  * `excludedBuckets`: bucket partitions of this group superseded by a
  * later per-bucket compaction — readers skip them (partition pruning),
  * the files themselves are never rewritten. */
final case class FileGroup(dir: String, schemaVersion: Int, kind: String, // kind: base | delta
    excludedBuckets: Set[Int] = Set.empty)

/** One committed table snapshot (manifest). Versions are monotonically
  * increasing; the manifest with the highest version is current.
  * `epochId` implements the idempotent exactly-once commit: an upsert
  * whose epoch id is <= the committed high-water mark is a no-op replay.
  */
final case class Snapshot(
    version: Long,
    epochId: Long,
    schemaVersion: Int,
    groups: Seq[FileGroup],
    // high-water mark of applied event LSNs — lets the next epoch count
    // late arrivals (events at or below it) without scanning the table
    maxLsn: Long = -1L,
    // the table's bucket-partition count, persisted like Iceberg's
    // bucket transform: readers/writers constructed with a different
    // default must still hash keys into the buckets the data was
    // actually written with, or point lookups prune to the wrong dir
    numBuckets: Int = 32,
    // per-writer commit watermarks for NON-default writers (the
    // Flink/Iceberg multi-writer idempotence shape): epoch ids are
    // monotone PER WRITER, not globally — a DLQ replay job committing
    // "its epoch 0" between two streaming micro-batches must neither
    // be skipped (its id compared against the stream's high-water
    // mark) nor advance the stream's mark (silently dropping the next
    // micro-batch, whose batchId would now be <= the mark). The
    // default writer (the stream / segment replay) keeps using
    // `epochId` above, so legacy manifests read unchanged.
    writerEpochs: Map[String, Long] = Map.empty) {
  /** The idempotence watermark `writer` commits against. */
  def watermark(writer: String): Long =
    if (writer == LakeTable.DefaultWriter) epochId
    else writerEpochs.getOrElse(writer, -1L)
  /** Delta groups still referenced — the compaction cadence's trigger. */
  def totalDeltaGroups: Int = groups.count(_.kind == "delta")
}

/** Result of a chunked incremental read ([[LakeTable.readChangesChunked]]):
  * `changes` = union of every readable sub-range's per-epoch delta rows;
  * `ranges` = the (since, to] version sub-ranges actually served;
  * `resyncVersions` = versions whose commit was a compaction (rewrite)
  * that split the feed. CONTRACT: this table's compactions are
  * state-preserving rewrites that append no logical changes, so the
  * union is the complete change set of the whole range; a consumer that
  * cannot assume rewrites are state-preserving should reconcile at each
  * resync version (e.g. against `readVersion`) before trusting the next
  * chunk — the "resync at the boundary" contract. */
final case class ChunkedChanges(
    changes: DataFrame, ranges: Seq[(Long, Long)], resyncVersions: Seq[Long])

/** Thrown when another writer committed a snapshot version first (the
  * manifest CAS lost). upsert and rewrites retry internally, each under
  * its own rule. */
final class CommitConflictException(version: Long)
  extends RuntimeException(s"snapshot v$version was committed concurrently")

/** One epoch's lineage record, committed inside the manifest of the
  * snapshot the epoch publishes (Iceberg's snapshot summary), so the
  * record is exactly as durable as the epoch's data. `epochId` is the
  * writer's own id — for a non-default writer it is not the manifest's
  * top-level `epochId`. The source range, row count and late events
  * come from the apply pass's observe() metrics; `buckets` holds
  * (bucket, min lsn, max lsn, rows) per bucket the epoch's group wrote;
  * `schemaVersion` is the payload schema that group was written at (the
  * current schema for every epoch the apply stage writes; an older era
  * only in records an earlier engine committed); `wallMs` is measured up
  * to the commit. */
final case class Lineage(epochId: Long, sourceMinLsn: Long, sourceMaxLsn: Long,
    sourceRows: Long, lateEvents: Long, schemaVersion: Int, wallMs: Long,
    buckets: Seq[(Int, Long, Long, Long)])

/** Result of an upsert: whether the epoch committed (false = idempotent
  * replay skip), the file group it appended (None for an empty epoch
  * that only advanced the high-water mark) and the snapshot it
  * committed (None on a skip) — callers read the new head from here
  * instead of parsing the manifest again. Use `group`, not "the last
  * group of the snapshot", for what the epoch wrote — an empty epoch's
  * snapshot still ends with the previous epoch's group. */
final case class CommitResult(committed: Boolean, group: Option[FileGroup],
    snapshot: Option[Snapshot])

/** Self-managed snapshot/manifest lake table with MERGE-upsert semantics
  * (merge-on-read + background compaction), built because no Iceberg
  * runtime jar ships in /opt/spark/jars (SURVEY.md §7.2 fallback: same
  * commit/merge semantics, swappable for Iceberg `writeTo`/MERGE INTO on
  * a real cluster).
  *
  * Layout:
  *   root/manifests/v<00000000N>.json     (hard-link CAS committed)
  *   root/data/<uuid>/bucket=NNN/ (parquet files, written and read
  *     through the lake filesystem, [[LakeFs]])
  *
  * Scale design:
  *  - Data files are hash-bucketed on the key `(repo, path)` into
  *    `numBuckets` directories — the analogue of Iceberg bucket
  *    partitioning; per-bucket merge is the unit of parallel work and a
  *    storage-partitioned join on a real cluster.
  *  - Upserts append reduced per-key delta groups (merge-on-read, like
  *    Iceberg v2 delete files: tombstones ride along as op='D' rows);
  *    no per-batch rewrite of the base — the batch-size-independent hot
  *    path the 10^10-event design point requires.
  *  - Reads/compaction reconstruct last-writer-wins per key with one
  *    aggregate (Graft's `lastWriterWins` on lsn) with map-side partial
  *    aggregation — hot-repo skew collapses before the shuffle. It
  *    plans as Sort -> SortAggregate, not a hash aggregate: `max_by`'s
  *    struct buffer holds strings, which HashAggregateExec cannot hold.
  *  - Reference analogue: the reference writes each rank's slab at
  *    disjoint global offsets into a shared file, idempotent by position
  *    (coverage/io/netcdf/DefaultWriter.py:41,230-240); here position =
  *    key bucket, idempotence = epoch-keyed snapshot commit.
  */
object LakeTable {
  /** Test seam: the atomic link(target, source) primitive the commit
    * CAS uses — overridden in specs to simulate a link-less mount. */
  private[graft] var linkImpl: (Path, Path) => Unit =
    (target, src) => { Files.createLink(target, src); () }
  /** Test seam: named crash points on the write/commit/maintenance
    * path. A spec arms ONE name to throw, simulating a process kill at
    * exactly that stage boundary (CrashSweepSpec drives every point and
    * asserts resume reaches the oracle state). Production default is a
    * no-op — one megamorphic-free function call per commit. Points:
    * `upsert.after-write` (data group and the epoch's quarantine set
    * durable, nothing referenced),
    * `commit.after-tmp` (manifest tmp durable, not published),
    * `commit.after-publish` (published; HEAD hint + tmp cleanup lost),
    * `compact.after-write` (compact and compactBuckets) /
    * `rebucket.after-write` (rewritten group durable, old manifest
    * still current),
    * `vacuum.after-manifest-expire` (old manifests gone, orphan data
    * sweep not yet run). */
  private[graft] var failpoint: String => Unit = _ => ()
  /** The writer id whose watermark is the manifest's top-level epochId
    * (the stream / segment replay — every pre-existing caller). */
  val DefaultWriter = "default"

  /** Proxy keys for deterministic bucket-to-partition placement:
    * entry p is an integer whose Spark hash-partition id over `parts`
    * partitions is exactly p (same Murmur3+pmod the planner's
    * HashPartitioning.partitionIdExpression uses). `repartition(parts,
    * element_at(proxy, bucket%parts + 1))` then lands bucket b in
    * partition b%parts — the range partitioner's placement without its
    * boundary-sampling pass. Expected search cost is parts·H(parts)
    * hash evaluations, done once per distinct `parts` per JVM. */
  private val proxyCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  private[cdc] def partitionProxy(parts: Int): Array[Long] =
    proxyCache.computeIfAbsent(parts, _ => {
      import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
      val out = new Array[Long](parts)
      val found = new Array[Boolean](parts)
      var remaining = parts
      var v = 0L
      while (remaining > 0) {
        val p = Pmod(new Murmur3Hash(Seq(Literal(v))), Literal(parts))
          .eval().asInstanceOf[Int]
        if (!found(p)) { found(p) = true; out(p) = v; remaining -= 1 }
        v += 1L
      }
      out
    })
}

final class LakeTable(val root: String, val numBuckets: Int = 32) {
  private val mapper = new ObjectMapper()
  private def manifestDir = Paths.get(root, "manifests")
  private def dataDir = Paths.get(root, "data")
  private def headPath = manifestDir.resolve("HEAD")

  def init(): Unit = {
    Files.createDirectories(manifestDir)
    Files.createDirectories(dataDir)
  }

  // ---- manifest I/O -------------------------------------------------

  private def manifestPath(version: Long): Path =
    manifestDir.resolve(f"v$version%09d.json")

  // Every Files.list/walk stream is closed via Using.resource: each
  // holds a directory fd, and a long replay (the 10^10-event design
  // point is many thousands of epochs, each calling latest()) would
  // otherwise exhaust file descriptors (EMFILE).
  private def versions(): Seq[Long] = {
    if (!Files.isDirectory(manifestDir)) return Nil
    Using.resource(Files.list(manifestDir)) { st =>
      st.iterator().asScala
        .map(_.getFileName.toString)
        // digits-only guard: a stray near-miss file (editor backup,
        // sync-conflict copy like "v000000001 (copy).json") must be
        // skipped, not brick every manifest-listing API with a
        // NumberFormatException
        .collect { case s if s.startsWith("v") && s.endsWith(".json") &&
            s.stripPrefix("v").stripSuffix(".json").forall(_.isDigit) &&
            s.length > "v.json".length =>
          s.stripPrefix("v").stripSuffix(".json").toLong }
        .toSeq.sorted
    }
  }

  /** Best-effort head-pointer write (a HINT: `latest()` probes forward
    * from it, so a stale, torn or lost HEAD costs extra probes, never
    * correctness — which is why a plain replacing rename is enough here
    * where the manifest publish itself needs a CAS). */
  private def writeHead(version: Long): Unit =
    try {
      val tmp = manifestDir.resolve(s".head-tmp-${UUID.randomUUID()}")
      Files.write(tmp, version.toString.getBytes("UTF-8"))
      Files.move(tmp, headPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case _: Exception => () }

  /** Current snapshot in O(1) directory operations: read the HEAD hint
    * and probe forward past any commits that raced the hint update —
    * O(1 + hint lag), independent of retained-manifest count. Without
    * the hint, `applyEpoch` calls here at least twice per epoch and an
    * unvacuumed 10^5-epoch replay paid an O(retained manifests)
    * directory listing each call (O(epochs^2) entries scanned overall).
    * Falls back to the full listing when HEAD is absent (legacy table,
    * first commit) or points at an expired manifest. */
  def latest(): Option[Snapshot] = {
    val hinted: Option[Long] =
      try {
        if (!Files.exists(headPath)) None
        else {
          val v = new String(Files.readAllBytes(headPath), "UTF-8").trim.toLong
          if (!Files.exists(manifestPath(v))) None // expired hint
          else {
            var cur = v
            while (Files.exists(manifestPath(cur + 1))) cur += 1
            Some(cur)
          }
        }
      } catch { case _: Exception => None }
    hinted.orElse(versions().lastOption).map(readManifest)
  }

  /** Time travel: the snapshot committed as version `v` (like Iceberg's
    * VERSION AS OF). O(1) existence probe, not a directory listing —
    * readChangesChunked calls this once per version in its range. */
  def snapshotAt(v: Long): Option[Snapshot] =
    if (v > 0 && Files.exists(manifestPath(v))) Some(readManifest(v)) else None

  private def manifestNode(version: Long) =
    mapper.readTree(Files.readAllBytes(manifestPath(version)))

  private def readManifest(version: Long): Snapshot = {
    val node = manifestNode(version)
    val groups = node.get("groups").elements().asScala.map { g =>
      val excluded =
        if (g.has("excludedBuckets"))
          g.get("excludedBuckets").elements().asScala.map(_.asInt()).toSet
        else Set.empty[Int]
      FileGroup(g.get("dir").asText(), g.get("schemaVersion").asInt(),
        g.get("kind").asText(), excluded)
    }.toSeq
    Snapshot(
      node.get("version").asLong(),
      node.get("epochId").asLong(),
      node.get("schemaVersion").asInt(),
      groups,
      if (node.has("maxLsn")) node.get("maxLsn").asLong() else -1L,
      // legacy manifests (pre-persistence) trust the constructor default
      if (node.has("numBuckets")) node.get("numBuckets").asInt() else numBuckets,
      if (!node.has("writerEpochs")) Map.empty
      else {
        val we = node.get("writerEpochs")
        we.fieldNames().asScala.map(n => n -> we.get(n).asLong()).toMap
      })
  }

  /** The lineage records of the retained snapshots, with the version
    * that committed each: one per epoch commit that carried one. A
    * manifest that a vacuum expires between the listing and its read
    * is skipped. */
  private[cdc] def lineage(): Seq[(Long, Lineage)] =
    versions().flatMap { v =>
      try Option(manifestNode(v).get("lineage")).map { l =>
        Lineage(l.get("epochId").asLong(), l.get("sourceMinLsn").asLong(),
          l.get("sourceMaxLsn").asLong(), l.get("sourceRows").asLong(),
          l.get("lateEvents").asLong(), l.get("schemaVersion").asInt(), l.get("wallMs").asLong(),
          l.get("buckets").elements().asScala.map(b =>
            (b.get(0).asInt(), b.get(1).asLong(), b.get(2).asLong(), b.get(3).asLong())).toSeq)
      }.map(v -> _)
      catch { case _: java.nio.file.NoSuchFileException => None }
    }

  /** Atomically commit a snapshot manifest: write tmp (fsync'd), then
    * PUBLISH via hard link — `link(2)` fails with EEXIST if the version
    * already exists, so exactly one of two racing committers wins (a
    * rename would silently REPLACE on POSIX and lose a snapshot; this
    * is the compare-and-swap Iceberg's metadata commit does against the
    * catalog). A crash before the link leaves only unreferenced tmp/data
    * files, never a partially visible snapshot. The manifest directory
    * is fsync'd after publishing so the commit survives power loss.
    * `lineage` is the committing epoch's record; it is a parameter, not
    * part of [[Snapshot]], so no rewrite can carry an earlier epoch's
    * record forward. Returns `s`, now the head. */
  private def commitManifest(s: Snapshot, lineage: Option[Lineage] = None): Snapshot = {
    val obj: ObjectNode = mapper.createObjectNode()
    obj.put("version", s.version)
    obj.put("epochId", s.epochId)
    obj.put("schemaVersion", s.schemaVersion)
    obj.put("maxLsn", s.maxLsn)
    obj.put("numBuckets", s.numBuckets)
    if (s.writerEpochs.nonEmpty) {
      val we = obj.putObject("writerEpochs")
      s.writerEpochs.toSeq.sortBy(_._1).foreach { case (w, e) => we.put(w, e) }
    }
    val arr: ArrayNode = obj.putArray("groups")
    s.groups.foreach { g =>
      val gn = arr.addObject()
      gn.put("dir", g.dir); gn.put("schemaVersion", g.schemaVersion); gn.put("kind", g.kind)
      if (g.excludedBuckets.nonEmpty) {
        val ex = gn.putArray("excludedBuckets")
        g.excludedBuckets.toSeq.sorted.foreach(ex.add)
      }
    }
    lineage.foreach { l =>
      val ln = obj.putObject("lineage")
      ln.put("epochId", l.epochId); ln.put("sourceMinLsn", l.sourceMinLsn)
      ln.put("sourceMaxLsn", l.sourceMaxLsn); ln.put("sourceRows", l.sourceRows)
      ln.put("lateEvents", l.lateEvents); ln.put("schemaVersion", l.schemaVersion)
      ln.put("wallMs", l.wallMs)
      val bs = ln.putArray("buckets")
      l.buckets.foreach { case (b, lo, hi, n) => bs.addArray().add(b).add(lo).add(hi).add(n) }
    }
    val tmp = manifestDir.resolve(s".tmp-${UUID.randomUUID()}.json")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(obj))
    fsync(tmp)
    LakeTable.failpoint("commit.after-tmp")
    try LakeTable.linkImpl(manifestPath(s.version), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new CommitConflictException(s.version)
      // a vacuum outside its grace window (or manual cleanup) swept our
      // tmp between write and publish: surface as a retryable conflict
      // — the retry writes a fresh tmp and links again
      case _: java.nio.file.NoSuchFileException =>
        throw new CommitConflictException(s.version)
      // filesystems without hard links (some FUSE/object-store mounts,
      // exFAT) offer no compare-and-swap: a probe + atomic rename would
      // let two concurrent writers (the stream + compactor + vacuum
      // triad Submit promotes) both pass the probe, and the second
      // rename silently replaces the first's committed snapshot
      case e: UnsupportedOperationException =>
        Files.deleteIfExists(tmp)
        throw new IllegalStateException(
          "manifest commit: this filesystem does not support hard links, " +
            "so the commit has no compare-and-swap primitive — refusing " +
            "to commit (concurrent writers would silently lose updates)", e)
    }
    LakeTable.failpoint("commit.after-publish")
    Files.deleteIfExists(tmp)
    fsync(manifestDir)
    writeHead(s.version)
    s
  }

  /** Best-effort fsync of a file or directory (a directory fsync makes
    * the link durable on POSIX; not all filesystems allow it — ignore). */
  private def fsync(p: Path): Unit =
    try {
      Using.resource(java.nio.channels.FileChannel.open(
        p, java.nio.file.StandardOpenOption.READ))(_.force(true))
    } catch { case _: Exception => () }

  /** fsync every file and directory under `dir` — a manifest must not
    * be published before the data files it references are durable, or
    * a power loss leaves a durable snapshot pointing at torn/absent
    * parquet (worse than losing both together). O(bucket files) per
    * epoch; on a real cluster the object store's PUT gives the same
    * barrier. Returns whether the tree holds any parquet file, from the
    * same walk. */
  private def fsyncTree(dir: Path): Boolean =
    Files.isDirectory(dir) && {
      val paths = Using.resource(Files.walk(dir))(_.iterator().asScala.toSeq)
      paths.foreach(fsync)
      paths.exists(_.getFileName.toString.endsWith(".parquet"))
    }

  // ---- columns ------------------------------------------------------

  /** The table's effective bucket count: the value persisted in the
    * manifest once the first commit exists (the Iceberg bucket-transform
    * analogue — a reader constructed with any default must hash into the
    * buckets the data was written with), else the constructor's.
    * NOT a pure accessor: resolves the head manifest (one HEAD read +
    * JSON parse) per call — hot loops should resolve a snapshot once
    * and read `numBuckets` from it, as upsert does. */
  def bucketCount: Int = latest().map(_.numBuckets).getOrElse(numBuckets)

  /** Write `src` (already carrying a group's state columns) as one
    * bucketed parquet group; shared by the epoch upsert and the rewrite
    * behind compact, compactBuckets and rebucket. The dir name
    * is a FULL UUID: these dirs are written with mode(Overwrite), so a
    * truncated-prefix collision with a live referenced group would
    * silently destroy committed data.
    *
    * Each bucket goes to exactly one write task via a DETERMINISTIC
    * proxy key (round-7, guide §2.4): bucket values are the known
    * integers 0..nb-1, so the range partitioner's boundary-sampling job
    * (and the MEMORY_AND_DISK persist of the whole normalized batch it
    * forced — the sampler re-runs its child otherwise, ~+20%/epoch
    * measured when unpersisted) buys nothing; [[LakeTable.partitionProxy]]
    * precomputes, per target partition, an integer whose murmur3 hash
    * lands there, so a plain hash repartition places bucket b exactly
    * in partition b%tasks — no sampling pass, no cache, ONE pass over
    * the batch (plain hash repartition of the raw bucket value
    * balls-in-bins idles ~1/e of the write cores).
    *
    * The task count is `parts` capped at the cluster's
    * defaultParallelism: one task per bucket would run nb/cores waves
    * of tiny tasks, each paying task launch, its sort and its file
    * commit. A task owning several buckets still writes one file per
    * bucket (the partitioned writer sorts by bucket and rolls a file at
    * each new value), so the on-disk layout — one file per
    * `bucket=N` directory — does not depend on the cap. Returns None
    * for a file-less (empty) group, which must never be referenced
    * (unreadable schema). */
  private def writeBucketedGroup(src: DataFrame, cols: Seq[String], nb: Int,
      parts: Int, groupSchemaVersion: Int, kind: String): Option[FileGroup] = {
    val suffix = if (kind == "base") "-base" else ""
    val groupDir = s"data/${UUID.randomUUID().toString}$suffix"
    val tasks = math.max(1, math.min(parts, src.sparkSession.sparkContext.defaultParallelism))
    val proxy = element_at(
      lit(LakeTable.partitionProxy(tasks)), (pmod(col("bucket"), lit(tasks)) + 1).cast("int"))
    src.select((cols.map(col) :+ bucketColFor(nb)): _*)
      .repartition(tasks, proxy)
      .write.partitionBy("bucket").mode("overwrite")
      .parquet(LakeFs.path(src.sparkSession, s"$root/$groupDir"))
    // data durable BEFORE the manifest
    if (fsyncTree(Paths.get(root, groupDir))) Some(FileGroup(groupDir, groupSchemaVersion, kind))
    else None
  }

  private def bucketColFor(nb: Int) =
    pmod(xxhash64(col("repo"), col("path")), lit(nb.toLong)).as("bucket")

  /** A group's columns: key, op, lsn, ts, then the payload as written
    * at `schemaVersion` — by default the current schema, which every
    * rewrite and the change feed use. */
  private def stateFields(schemaVersion: Int = SchemaRegistry.maxVersion): Seq[StructField] =
    Seq(StructField("repo", StringType), StructField("path", StringType),
      StructField("op", StringType), StructField("lsn", LongType),
      StructField("ts", TimestampType)) ++ SchemaRegistry.physicalSchema(schemaVersion).fields

  private def stateCols(schemaVersion: Int = SchemaRegistry.maxVersion): Seq[String] =
    stateFields(schemaVersion).map(_.name)

  /** Empty frame with the state / change-feed schema — a read must not
    * change schema with table emptiness. */
  private def emptyChangeFrame(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(stateFields()))

  /** One group's rows, aligned to the current registry schema. The
    * schema is the group's own (`stateFields` at its version, plus the
    * int `bucket` partition column) rather than inferred: inference
    * runs one Spark job per group read. */
  private def readGroup(spark: SparkSession, g: FileGroup): DataFrame =
    SchemaRegistry.alignToCurrent(
      spark.read.schema(StructType(stateFields(g.schemaVersion) :+ StructField("bucket", IntegerType)))
        .parquet(LakeFs.path(spark, s"$root/${g.dir}")))

  // ---- upsert (merge-on-read) --------------------------------------

  /** Append one reduced, normalized batch as a delta file group and
    * commit snapshot `epochId`. The batch must be one row per key
    * (last-writer-wins already reduced, tombstones as op='D').
    * Returns committed=false iff the epoch was already committed
    * (idempotent replay after restart — the written files of the
    * aborted attempt stay unreferenced).
    *
    * `batchMaxLsn` is by-name: it is only evaluated AFTER the data
    * write (callers read it from the write job's observe() metrics).
    * `beforeCommit` runs once, after the data write and before the
    * manifest commit, and never on an already-committed epoch — the
    * slot for side outputs that must be durable before the epoch
    * counts as applied (the apply stage's quarantine write).
    * `lineage` describes a written group; it runs after `beforeCommit`
    * and again whenever a rebucket race rewrites the group, and its
    * record is committed in the epoch's own manifest. An empty epoch
    * (no group) records nothing. */
  def upsert(batch: DataFrame, epochId: Long, batchSchemaVersion: Int,
      batchMaxLsn: => Long = -1L,
      writer: String = LakeTable.DefaultWriter,
      beforeCommit: () => Unit = () => (),
      lineage: Option[FileGroup => Lineage] = None): CommitResult = {
    init()
    val prev = latest()
    if (prev.exists(_.watermark(writer) >= epochId)) return CommitResult(committed = false, None, None)

    val cols = stateCols(batchSchemaVersion)
    // The delta-group write is re-runnable so a mid-flight bucket-count
    // change (an online rebucket committing while this epoch's files
    // were in flight) can REWRITE the batch under the new count and
    // keep going — the aborted attempt's files stay unreferenced
    // (vacuum candidates). An empty epoch still advances the commit
    // high-water mark (writeBucketedGroup returns None).
    def writeGroup(nbNow: Int): Option[FileGroup] =
      writeBucketedGroup(batch, cols, nbNow, nbNow, batchSchemaVersion, "delta")
    // bucket with the table's committed bucket count, not the instance
    // default — a writer opened with a different numBuckets must not
    // scatter keys across a second bucketing scheme
    var nb = prev.map(_.numBuckets).getOrElse(numBuckets)
    var written = writeGroup(nb)
    val maxLsn = batchMaxLsn // evaluate the by-name once, after the write
    beforeCommit()
    def describe(g: Option[FileGroup]) = for (w <- g; f <- lineage) yield f(w)
    var record = describe(written)
    LakeTable.failpoint("upsert.after-write")

    // optimistic commit: if another writer won the version CAS, re-read
    // the new head and re-commit THIS epoch's already-written group on
    // top of it (Iceberg's metadata-refresh retry) — data files are
    // immutable, only the manifest is rebuilt. If the winner already
    // committed this epoch id (a racing attempt of the same epoch),
    // the replay guard turns the retry into the idempotent no-op and
    // our files stay unreferenced (vacuum candidates).
    var base = prev
    while (true) {
      if (base.exists(_.watermark(writer) >= epochId)) return CommitResult(committed = false, None, None)
      val newSchemaVersion = math.max(base.map(_.schemaVersion).getOrElse(1), batchSchemaVersion)
      val groups = base.map(_.groups).getOrElse(Nil) ++ written.toSeq
      // a non-default writer advances ONLY its own watermark — the
      // top-level epochId stays the default writer's mark, so an
      // interleaved side-channel commit (DLQ replay) can never make the
      // stream's next batch id look already-applied
      val (newEpochId, newWriterEpochs) =
        if (writer == LakeTable.DefaultWriter)
          (epochId, base.map(_.writerEpochs).getOrElse(Map.empty[String, Long]))
        else
          (base.map(_.epochId).getOrElse(-1L),
            base.map(_.writerEpochs).getOrElse(Map.empty[String, Long]) + (writer -> epochId))
      try {
        val next = commitManifest(Snapshot(
          base.map(_.version).getOrElse(0L) + 1L, newEpochId, newSchemaVersion, groups,
          math.max(base.map(_.maxLsn).getOrElse(-1L), maxLsn), nb, newWriterEpochs), record)
        return CommitResult(committed = true, written, Some(next))
      } catch {
        case _: CommitConflictException =>
          base = latest()
          // the table's bucketing changed under us (an online rebucket
          // committed mid-write, or a first-commit race between
          // different constructor defaults): our files cannot be
          // reconciled metadata-only — rewrite the batch under the
          // committed count and keep retrying. This keeps a streaming
          // writer ALIVE across a rebucket (the "online, no-downtime"
          // contract) at the cost of one extra pass over the keys-sized
          // reduced batch, on this rare race only.
          if (base.exists(_.numBuckets != nb)) {
            nb = base.get.numBuckets
            written = writeGroup(nb)
            record = describe(written)
          }
      }
    }
    CommitResult(committed = false, None, None) // unreachable
  }

  // ---- read (merge-on-read reconstruction) -------------------------

  /** All live rows incl. tombstones, aligned to the current registry
    * schema. One scan per group, then unionByName. Bucket
    * restrictions (per-group compaction exclusions + the optional
    * caller filter) apply on the `bucket` PARTITION column, so they
    * prune directories at planning time — no data from a skipped
    * bucket is ever read. */
  private def rawRows(spark: SparkSession, snapshot: Option[Snapshot],
      onlyBuckets: Option[Set[Int]] = None): Option[DataFrame] = {
    snapshot.flatMap { s =>
      val dfs = s.groups.map { g =>
        val base = readGroup(spark, g)
        val afterExcl =
          if (g.excludedBuckets.isEmpty) base
          else base.filter(!col("bucket").isin(g.excludedBuckets.toSeq: _*))
        onlyBuckets match {
          case Some(bs) => afterExcl.filter(col("bucket").isin(bs.toSeq: _*))
          case None     => afterExcl
        }
      }
      dfs.reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
    }
  }

  /** Last-writer-wins reconstruction per key; deletes drop out. */
  def read(spark: SparkSession): DataFrame = readAt(spark, latest())

  /** Time-travel read: state as of committed snapshot `version`.
    * Fails loudly for an expired or never-committed version — an empty
    * frame would be indistinguishable from "the table was genuinely
    * empty at v" (same contract as readChanges). */
  def readVersion(spark: SparkSession, version: Long): DataFrame =
    readAt(spark, Some(snapshotAt(version).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot at version $version (expired or never committed)"))))

  /** O(one-bucket) point lookup of a single key: the key's bucket is
    * derived DRIVER-SIDE with the same xxhash64(seed=42) the writers
    * use, so the scan partition-prunes to `bucket=<b>` directories —
    * 1/numBuckets of the table's files regardless of table size (the
    * Iceberg bucket-transform point-read analogue; at 10^8 keys this is
    * the difference between a key-serving read and a table scan). */
  def readKey(spark: SparkSession, repo: String, path: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val snap = latest()
    // derive the bucket with the MANIFEST's bucket count: a reader
    // constructed with a different default would prune to the wrong
    // directory and silently miss existing rows
    val nb = snap.map(_.numBuckets).getOrElse(numBuckets)
    val h = XxHash64(Seq(Literal(repo), Literal(path)), 42L)
      .eval(null).asInstanceOf[Long]
    val b = (((h % nb) + nb) % nb).toInt
    readAt(spark, snap, onlyBuckets = Some(Set(b)))
      .filter(col("repo") === repo && col("path") === path)
  }

  private def readAt(spark: SparkSession, snapshot: Option[Snapshot],
      onlyBuckets: Option[Set[Int]] = None): DataFrame =
    reconstructAt(spark, snapshot, onlyBuckets)
      .filter(col("op") =!= "D")
      .drop("op")

  /** Per-key LWW winner rows WITH the winning `op` retained (op='D'
    * rows are the live tombstones). This is what COMPACTION must fold:
    * dropping a tombstone erases the delete's LSN, and a late
    * lower-LSN row landing in a later epoch (bounded disorder, a DLQ
    * replay, an out-of-order multi-writer epoch) would then win the
    * reconstruction and RESURRECT the deleted key — the round-6
    * EndToEndSpec caught exactly that. Visible reads filter the
    * tombstones at the end (readAt). */
  private def reconstructAt(spark: SparkSession, snapshot: Option[Snapshot],
      onlyBuckets: Option[Set[Int]] = None): DataFrame = {
    // the state columns only: the `bucket` partition column stays out
    // of the winner struct
    rawRows(spark, snapshot, onlyBuckets) match {
      case None => emptyChangeFrame(spark)
      case Some(df) =>
        df.select(stateCols().map(col): _*).lastWriterWins(SchemaRegistry.keyFields, col("lsn"))
    }
  }

  /** Incremental change read (the Iceberg incremental-scan analogue):
    * the reduced change rows (one row per key per epoch, op='D'
    * tombstones included) appended by snapshots in (sinceVersion,
    * toVersion], aligned to the current registry schema — a downstream
    * consumer can tail the TABLE as its own change source and chain
    * CDC stages. O(changed rows): reads only the delta groups those
    * snapshots appended, never the base.
    *
    * Fails unless `toVersion` evolved from `sinceVersion` by appends
    * only ([[appendOnlySince]]; version 0 is the empty table): a
    * compaction or rebucket replaces or re-excludes groups, so per-epoch
    * deltas are no longer reconstructible — same contract as Iceberg's
    * incremental read. Callers then fall back to [[readChangesChunked]]
    * or a full `read`. */
  def readChanges(spark: SparkSession, sinceVersion: Long, toVersion: Long): DataFrame = {
    val to = snapshotAt(toVersion).getOrElse(
      throw new IllegalArgumentException(s"no snapshot at version $toVersion"))
    // any missing sinceVersion but 0 (expired or never existed) must
    // fail loudly — treating it as 'beginning' would silently
    // re-deliver the whole history
    val from =
      if (sinceVersion == 0L) emptySnapshot(to.numBuckets)
      else snapshotAt(sinceVersion).getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot at sinceVersion $sinceVersion (expired?); use 0 for from-start"))
    if (!appendOnlySince(from, to))
      throw new IllegalStateException(
        s"snapshot range ($sinceVersion, $toVersion] crosses a compaction or rebucket; " +
          "use readChangesChunked() or read()")
    to.groups.filterNot(g => from.groups.exists(_.dir == g.dir))
      .map(readGroup(spark, _))
      .reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
      .map(_.select(stateCols().map(col): _*))
      .getOrElse(emptyChangeFrame(spark))
  }

  /** The table before its first commit, as the start of a change range:
    * no group, and `nb` buckets — no bucket count can change before
    * the first commit. */
  private def emptySnapshot(nb: Int): Snapshot = Snapshot(0L, -1L, 1, Nil, numBuckets = nb)

  /** Chunked fallback for a [[readChanges]] range that crosses
    * compactions: split (sinceVersion, toVersion] at every commit that
    * is not [[appendOnlySince]] its predecessor (full or per-bucket
    * compaction, rebucket) and union the readable sub-ranges, so a
    * consumer resumes an incremental tail without falling back to a
    * full table read. See [[ChunkedChanges]] for the
    * resync-at-the-boundary contract. O(manifests in range) metadata +
    * O(changed rows) data. */
  def readChangesChunked(spark: SparkSession, sinceVersion: Long,
      toVersion: Long): ChunkedChanges = {
    def snap(v: Long): Snapshot = snapshotAt(v).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot at version $v (expired?); use 0 for from-start"))
    val vs = versions().filter(v => v > sinceVersion && v <= toVersion).sorted
    var prev: Option[Snapshot] = if (sinceVersion == 0L) None else Some(snap(sinceVersion))
    val ranges = scala.collection.mutable.Buffer[(Long, Long)]()
    val resync = scala.collection.mutable.Buffer[Long]()
    var runStart = sinceVersion
    // sub-range endpoints must be RETAINED versions: after a vacuum the
    // version sequence has gaps, and closing a range at the arithmetic
    // v-1 (possibly expired) would make readChanges throw on a table
    // that is in the compaction+vacuum steady state this API exists
    // for. Track the last retained version seen instead; an expired
    // prefix (sinceVersion=0 on a vacuumed table whose oldest retained
    // snapshot holds a base) degrades to a leading resync boundary.
    var lastRetained = sinceVersion
    vs.foreach { v =>
      val cur = snap(v)
      if (!appendOnlySince(prev.getOrElse(emptySnapshot(cur.numBuckets)), cur)) {
        if (lastRetained > runStart) ranges += ((runStart, lastRetained))
        resync += v
        runStart = v
      }
      lastRetained = v
      prev = Some(cur)
    }
    if (toVersion > runStart) ranges += ((runStart, toVersion))
    val changes = ranges.toSeq.map { case (a, b) => readChanges(spark, a, b) }
      .reduceOption(_.unionByName(_))
      // no readable sub-range: the empty frame with the change schema —
      // built directly (readChanges(to, to) would throw for toVersion=0,
      // i.e. a consumer polling a table with no committed snapshot yet)
      .getOrElse(emptyChangeFrame(spark))
    ChunkedChanges(changes, ranges.toSeq, resync.toSeq)
  }

  /** Rewrite all groups into a single compacted base group at the
    * current schema version, committed through [[rewrite]] with the
    * same epoch high-water mark. The per-batch hot path never pays
    * this; it runs when delta groups exceed a threshold (Pipeline) or
    * explicitly.
    *
    * TOMBSTONES ARE RETAINED (with their op='D' and LSN): dropping one
    * erases the delete's LSN, and a late lower-LSN event for the key
    * arriving in a later epoch (bounded disorder, DLQ replay, an
    * out-of-order multi-writer epoch) would resurrect the deleted key.
    * `purgeTombstonesBelowLsn` is the explicit retention knob (the
    * Kafka-compaction delete.retention / Iceberg delete-file-expiry
    * analogue): tombstones at or below it are physically dropped —
    * pass `snapshot.maxLsn - <your late-arrival bound>` once the
    * delivery contract guarantees nothing older can arrive. Default
    * Long.MinValue = purge nothing (always sound). */
  def compact(spark: SparkSession,
      purgeTombstonesBelowLsn: Long = Long.MinValue): Unit =
    latest().foreach(s =>
      rewrite(spark, s, None, s.numBuckets, purgeTombstonesBelowLsn, "compact.after-write"))

  /** Online bucket-count migration — the Iceberg partition-spec
    * evolution analogue for the bucket transform. A bucket count is
    * chosen at table creation; at the 10^10-event design point the
    * right count GROWS with the table (point lookups and per-bucket
    * compaction both scan 1/numBuckets of the data), so a long-lived
    * table needs a way to change it without downtime. Rewrites the
    * current state into `newBuckets` buckets (tombstones included, as
    * in compact) and commits a snapshot carrying the new count; every
    * subsequent writer, reader, point-lookup and compaction derives its
    * hashing from the manifest (bucketCount), so the switch is atomic
    * at the commit.
    *
    *  - Races: the commit follows [[rewrite]]'s rule — it lands on top
    *    of epochs that appended nothing (empty epochs) and returns false
    *    if any delta group was appended since its read (those deltas
    *    are hashed with the old count); the written files become
    *    vacuum candidates and a retry re-reads. In the other ordering —
    *    the rebucket commits while an epoch's files are in flight — the
    *    UPSERT's conflict retry detects the new bucket count and
    *    rewrites its batch under it, so a streaming writer stays alive
    *    across the migration (no downtime either way).
    *  - Time travel: pre-rebucket snapshots read exactly as before
    *    (readers never assume a global bucket count; only readKey
    *    derives one, from the manifest it reads).
    *  - Incremental reads: the commit is not append-only, so a range
    *    crossing it is refused by readChanges and surfaced as a resync
    *    boundary by readChangesChunked — same as compaction. */
  def rebucket(spark: SparkSession, newBuckets: Int): Boolean = {
    require(newBuckets > 0, s"rebucket: newBuckets must be positive, got $newBuckets")
    val s = latest().getOrElse(
      throw new IllegalStateException("rebucket: table has no committed snapshot"))
    s.numBuckets == newBuckets ||
      rewrite(spark, s, None, newBuckets, Long.MinValue, "rebucket.after-write").isDefined
  }

  /** Bucket partitions a group actually wrote (directory listing —
    * O(buckets) metadata, no file opens). */
  private def groupBuckets(dir: String): Set[Int] = {
    val p = Paths.get(root, dir)
    if (!Files.isDirectory(p)) return Set.empty
    Using.resource(Files.list(p)) { st =>
      st.iterator().asScala.map(_.getFileName.toString)
        .collect { case s if s.startsWith("bucket=") => s.stripPrefix("bucket=").toInt }
        .toSet
    }
  }

  /** Incremental (per-bucket) compaction — the Iceberg binpack analogue
    * the 10^10-event design point needs: rewrite ONLY buckets whose
    * live delta-group count reaches `minDeltas` into a new per-bucket
    * base group; every other bucket's files are untouched (their groups
    * stay referenced, with the compacted buckets excluded via partition
    * pruning). A full-table `compact` at that scale rewrites ~the whole
    * table to absorb a handful of hot buckets' deltas; this rewrites
    * O(hot-bucket data). Groups whose live buckets are all superseded
    * drop out of the manifest (their files become vacuum candidates for
    * expireSnapshots). Tombstones follow compact's rule, but the purge
    * horizon reaches only the hot buckets this sweep rewrites; a
    * retention pass over tombstones already folded into base groups
    * (which never reach `minDeltas`) is compact()'s job — the CLI's
    * --purge-tombstones-below routes there. Returns the compacted
    * bucket ids (empty = no-op or an aborted [[rewrite]], no new
    * snapshot committed). */
  def compactBuckets(spark: SparkSession, minDeltas: Int,
      purgeTombstonesBelowLsn: Long = Long.MinValue): Set[Int] =
    latest() match {
      case None => Set.empty
      case Some(s) =>
        val hot = s.groups.filter(_.kind == "delta")
          .flatMap(g => groupBuckets(g.dir) -- g.excludedBuckets)
          .groupBy(identity).collect { case (b, n) if n.size >= minDeltas => b }.toSet
        if (hot.nonEmpty && rewrite(spark, s, Some(hot), s.numBuckets, purgeTombstonesBelowLsn,
            "compact.after-write").isDefined) hot
        else Set.empty
    }

  /** The one rewrite behind compact, compactBuckets and rebucket, with
    * Iceberg's RewriteFiles commit validation. It reconstructs the
    * state PINNED to `s` (only `buckets` when given), drops tombstones
    * at or below `purgeBelow`, writes it as one base group of `nb`
    * buckets at the current schema, fires `failpoint`, and commits.
    * Pinning matters: a delta committed after `s` must appear ONCE —
    * as an appended group stacked on the new base — not also inside
    * the base (duplicate rows at equal LSN).
    *
    * The commit holds `kept` (the groups of `s` with the rewritten
    * buckets excluded, a group whose live buckets are all rewritten
    * dropped; empty on a full rewrite), then the deltas appended since
    * `s`, then the new base, under the head's epoch watermarks, schema
    * version and maxLsn — a rewrite changes layout, never the stream
    * position.
    *
    * On a lost CAS it re-commits METADATA-ONLY (data files are
    * immutable) on the new head iff the head moved forward and only
    * appended delta groups since `s` ([[appendOnlySince]]): the base is
    * exactly state(s) for the rewritten buckets and deltas appended
    * after `s` carry higher LSNs, so stacking them on top reconstructs
    * the same last-writer-wins state. At the 10^10 design point a
    * sweep takes minutes while epochs commit every few seconds, so a
    * rewrite whose window had to span no commit would never land. A
    * rebucket (`nb` != s.numBuckets) retries only if nothing was
    * appended: appended deltas are hashed with the old count. Any
    * other interleaving — another rewrite, or a manifest at a version
    * the head does not acknowledge (doctored or torn metadata) —
    * aborts; the written files become vacuum candidates. Returns the
    * committed snapshot, or None on abort. */
  private def rewrite(spark: SparkSession, s: Snapshot, buckets: Option[Set[Int]], nb: Int,
      purgeBelow: Long, failpoint: String): Option[Snapshot] = {
    val state = reconstructAt(spark, Some(s), buckets)
      .filter(!(col("op") === "D" && col("lsn") <= purgeBelow))
    val newBase = writeBucketedGroup(state, stateCols(), nb, buckets.fold(nb)(_.size),
      SchemaRegistry.maxVersion, "base").toSeq
    LakeTable.failpoint(failpoint)
    val kept = buckets.fold(Seq.empty[FileGroup]) { hot =>
      s.groups.flatMap { g =>
        val live = groupBuckets(g.dir) -- g.excludedBuckets
        if ((live -- hot).isEmpty) None
        else Some(g.copy(excludedBuckets = g.excludedBuckets ++ (hot & live)))
      }
    }
    def appendedSince(h: Snapshot) = h.groups.filterNot(g => s.groups.exists(_.dir == g.dir))
    @annotation.tailrec
    def commitOn(head: Snapshot): Option[Snapshot] = {
      val committed =
        try Some(commitManifest(Snapshot(head.version + 1L, head.epochId, head.schemaVersion,
          kept ++ appendedSince(head) ++ newBase, head.maxLsn, nb, head.writerEpochs)))
        catch { case _: CommitConflictException => None }
      if (committed.isDefined) committed
      else latest() match {
        case Some(h) if h.version > head.version && appendOnlySince(s, h) &&
            (nb == s.numBuckets || appendedSince(h).isEmpty) => commitOn(h)
        case _ => None
      }
    }
    commitOn(s)
  }

  /** The one append-only rule: true iff `head` evolved from `s` by
    * APPENDING delta groups only — every group of `s` survives in
    * `head` with identical kind and exclusions, every added group is a
    * delta with no exclusions, and the bucket count is unchanged.
    * Between two snapshots of a change range it means the range holds
    * per-epoch deltas only (readChanges, readChangesChunked); after a
    * lost CAS it means a rewrite of `s` may be re-committed on top of
    * `head` ([[rewrite]]). A missing or re-excluded group means another
    * rewrite absorbed rows (for a rewrite: duplicate rows at equal
    * LSN; for a change read: a group's delete may be gone while its
    * older upsert still reads), and a bucket-count change means later
    * deltas use a different hashing. */
  private def appendOnlySince(s: Snapshot, head: Snapshot): Boolean =
    head.numBuckets == s.numBuckets &&
      s.groups.forall(g => head.groups.exists(h =>
        h.dir == g.dir && h.kind == g.kind && h.excludedBuckets == g.excludedBuckets)) &&
      head.groups.filterNot(h => s.groups.exists(_.dir == h.dir))
        .forall(h => h.kind == "delta" && h.excludedBuckets.isEmpty)

  def deltaGroupCount: Int = latest().map(_.totalDeltaGroups).getOrElse(0)

  /** Expire old snapshots (vacuum): keep the newest `keep` manifests,
    * drop older ones, and delete data file groups no kept snapshot
    * references — the Iceberg expire_snapshots / remove_orphan_files
    * analogue. Time travel and lineage ([[Audit]]) remain available
    * for kept versions only.
    *
    * `graceMs` shields in-flight commits from the sweep (Iceberg's
    * older-than cutoff): an unreferenced group or tmp manifest whose
    * files were modified within the window is SPARED — a concurrent
    * writer may have written it and not yet published. Pass 0 only
    * when no writer can be active (tests, cold maintenance). */
  def expireSnapshots(keep: Int = 1, graceMs: Long = 600000L): Unit = {
    val cutoff = System.currentTimeMillis() - graceMs
    def olderThanGrace(p: Path): Boolean =
      try {
        Using.resource(Files.walk(p))(_.iterator().asScala.toSeq)
          .forall(f => Files.getLastModifiedTime(f).toMillis < cutoff)
      } catch { case _: Exception => false }
    // stale CAS leftovers (a crash between tmp-write and publish) —
    // only beyond the grace window, so a racing commit's freshly
    // written tmp is never swept from under its createLink
    if (Files.isDirectory(manifestDir)) {
      Using.resource(Files.list(manifestDir)) { st =>
        st.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          n.startsWith(".tmp-") || n.startsWith(".head-tmp-")
        }.toSeq
      }.filter(olderThanGrace).foreach(Files.deleteIfExists(_))
    }
    val vs = versions()
    if (vs.size <= keep) return
    val referenced = vs.takeRight(keep).flatMap(v => readManifest(v).groups.map(_.dir)).toSet
    vs.dropRight(keep).foreach(v => Files.deleteIfExists(manifestPath(v)))
    LakeTable.failpoint("vacuum.after-manifest-expire")
    if (Files.isDirectory(dataDir)) {
      val dirs = Using.resource(Files.list(dataDir))(_.iterator().asScala.toSeq)
      dirs.foreach { d =>
        if (!referenced.contains(s"data/${d.getFileName}") && olderThanGrace(d))
          graft.Scratch.rmTree(d)
      }
    }
  }
}
