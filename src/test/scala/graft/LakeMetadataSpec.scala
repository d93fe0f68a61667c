package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._

/** Table-metadata contracts added in round 4:
  *  - the bucket count is TABLE metadata (persisted in the manifest,
  *    like Iceberg's bucket transform), so readers/writers constructed
  *    with a different default still hash into the committed buckets —
  *    previously `new LakeTable(dir)` with the default 32 against an
  *    8-bucket table point-pruned to the wrong directory and returned
  *    empty for existing keys;
  *  - expireSnapshots under time travel: orphan data dirs really leave
  *    the disk while every KEPT version still reads exactly;
  *  - audit lineage: one audit dir reads every table registered in it,
  *    and a record expires with the snapshot that carries it.
  */
class LakeMetadataSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

  private def mkBatch(keys: Seq[(String, String)], lsn0: Long): DataFrame =
    keys.zipWithIndex.map { case ((r, p), i) =>
      (r, p, "U", lsn0 + i, ts, s"c$lsn0", "scala", s"content-$r-$p-$lsn0")
    }.toDF("repo", "path", "op", "lsn", "ts", "commit", "lang", "content")

  private def stateMap(df: DataFrame): Map[(String, String), (Long, String)] =
    df.select("repo", "path", "lsn", "content").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getString(3))).toMap

  private def dataDirs(root: String): Set[String] =
    scala.util.Using.resource(Files.list(Paths.get(root, "data"))) { st =>
      st.iterator().asScala.map(_.getFileName.toString).toSet
    }

  test("numBuckets is table metadata: a default-constructed reader/writer honors it") {
    val dir = TestSpark.tmpDir("cdc-nb") + "/t"
    val keys = (0 until 60).map(i => (s"repo$i", s"src/f$i.scala"))
    val writer = new LakeTable(dir, numBuckets = 8)
    writer.upsert(mkBatch(keys, 0L), 0L, 1)

    // reopen with the DEFAULT bucket count (32) — the ADVICE bug shape
    val reopened = new LakeTable(dir)
    assert(reopened.bucketCount == 8, "manifest numBuckets must win over the constructor")

    // point lookups through the default instance find every key
    keys.take(10).foreach { case (r, p) =>
      val got = reopened.readKey(spark, r, p).select("content").collect()
      assert(got.length == 1 && got(0).getString(0) == s"content-$r-$p-0",
        s"readKey missed ($r,$p) through a default-constructed reader")
    }

    // an upsert through the default instance writes into the COMMITTED
    // 8-bucket scheme (no bucket >= 8 ever appears on disk) and the
    // manifest keeps numBuckets = 8
    reopened.upsert(mkBatch(keys.take(20), 1000L), 1L, 1)
    assert(reopened.latest().get.numBuckets == 8)
    val bucketDirs = dataDirs(dir).flatMap { g =>
      scala.util.Using.resource(Files.list(Paths.get(dir, "data", g))) { st =>
        st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("bucket=")).map(_.stripPrefix("bucket=").toInt).toSeq
      }
    }
    assert(bucketDirs.nonEmpty && bucketDirs.forall(_ < 8),
      s"writer scattered keys outside the committed 8 buckets: $bucketDirs")

    // compaction through the default instance preserves state exactly
    reopened.compactBuckets(spark, minDeltas = 2)
    assert(reopened.latest().get.numBuckets == 8)
    val expected = keys.zipWithIndex.map { case ((r, p), i) =>
      if (i < 20) (r, p) -> (1000L + i, s"content-$r-$p-1000")
      else (r, p) -> (i.toLong, s"content-$r-$p-0")
    }.toMap
    assert(stateMap(reopened.read(spark)) == expected)
    // and point lookups still prune to the right (8-bucket) dirs
    keys.take(5).foreach { case (r, p) =>
      assert(reopened.readKey(spark, r, p).count() == 1)
    }
  }

  test("expireSnapshots under time travel: orphans deleted, kept versions exact") {
    val dir = TestSpark.tmpDir("cdc-vac") + "/t"
    val table = new LakeTable(dir, numBuckets = 4)
    val keys = (0 until 40).map(i => (s"r$i", "a"))
    (0 until 3).foreach { e =>
      table.upsert(mkBatch(keys.drop(e * 10), 1000L * (e + 1)), e.toLong, 1)
    }
    // v1..v3 committed; capture the kept versions' state BEFORE vacuum
    val v2State = stateMap(table.readVersion(spark, 2))
    val v3State = stateMap(table.readVersion(spark, 3))
    val dirsBefore = dataDirs(dir)
    assert(dirsBefore.size == 3)

    table.expireSnapshots(keep = 2, graceMs = 0L)
    // v1's manifest is gone; no group became orphan yet (v2's groups are
    // a subset of v3's in this append-only history), so expire alone
    // deletes nothing — now cross a compaction to CREATE orphans
    assert(table.snapshotAt(1).isEmpty)
    table.compactBuckets(spark, minDeltas = 1) // rewrites everything -> v4
    table.expireSnapshots(keep = 1, graceMs = 0L)
    val dirsAfter = dataDirs(dir)
    // only the compacted base group survives on disk
    assert(dirsAfter.size == 1 && dirsAfter.forall(_.endsWith("-base")),
      s"orphan delta dirs not vacuumed: $dirsAfter")
    // the kept (current) version still reads the exact pre-vacuum state
    assert(stateMap(table.read(spark)) == v3State)
    assert(v2State != v3State, "fixture must distinguish versions")
    // expired versions fail loudly (an empty frame would be
    // indistinguishable from a genuinely empty table at v2)
    intercept[IllegalArgumentException](table.readVersion(spark, 2))
  }

  test("manifest commit is a CAS: racing writers serialize, no snapshot lost") {
    val dir = TestSpark.tmpDir("cdc-cas") + "/t"
    val keys = (0 until 20).map(i => (s"r$i", "a"))
    // two INSTANCES of the same table (two drivers racing)
    val w1 = new LakeTable(dir, numBuckets = 4)
    val w2 = new LakeTable(dir, numBuckets = 4)
    w1.upsert(mkBatch(keys, 0L), 0L, 1)
    // the exactly-once crash-recovery race: a zombie driver's attempt
    // of epoch 1 and its replacement's attempt run CONCURRENTLY. Both
    // read head v1, both spend the data-write phase (a multi-second
    // Spark job) before committing, so both target v2 — with a
    // rename-based commit BOTH "succeed" (the second silently REPLACES
    // the first's manifest: a lost snapshot) and both report
    // committed=true, breaking exactly-once accounting. The link-CAS
    // serializes them: the loser's retry re-reads the head, sees its
    // epoch already committed, and degrades to the idempotent no-op.
    // (Spark is thread-safe for concurrent actions on one session.)
    val b1 = mkBatch(keys, 1000L)
    val b2 = mkBatch(keys, 1000L)
    val results = new java.util.concurrent.ConcurrentHashMap[Int, CommitResult]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(
      new Thread(() =>
        try results.put(1, w1.upsert(b1, 1L, 1))
        catch { case t: Throwable => errs.add(t) }),
      new Thread(() =>
        try results.put(2, w2.upsert(b2, 1L, 1))
        catch { case t: Throwable => errs.add(t) }))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"concurrent upsert threw: ${errs.peek()}")
    assert(results.get(1).committed ^ results.get(2).committed,
      "exactly ONE attempt of the epoch may report committed")
    val head = w1.latest().get
    assert(head.version == 2L && head.epochId == 1L,
      s"expected one serialized commit, got v${head.version} epoch ${head.epochId}")
    assert(head.groups.count(_.kind == "delta") == 2,
      "the winning attempt's group must be the only new one")
    val got = stateMap(w1.read(spark))
    assert(got(("r0", "a"))._2 == "content-r0-a-1000")
    assert(got.size == keys.size)

    // a distinct LATER epoch then lands on top normally
    assert(w2.upsert(mkBatch(keys.take(3), 9000L), 9L, 1).committed)
    assert(w1.latest().get.version == 3L)
  }

  test("a compaction that loses the commit race aborts without corrupting state") {
    val dir = TestSpark.tmpDir("cdc-casc") + "/t"
    val keys = (0 until 20).map(i => (s"r$i", "a"))
    val table = new LakeTable(dir, numBuckets = 4)
    (0 until 4).foreach(e => table.upsert(mkBatch(keys, 100L * e), e.toLong, 1))
    val before = stateMap(table.read(spark))
    // steal the version the compaction will target: pre-commit an
    // upsert from a second handle between its read and its commit is
    // hard to interleave deterministically, so instead occupy the next
    // version file directly — the CAS must see EEXIST and abort
    val v = table.latest().get.version
    val occupied = java.nio.file.Paths.get(dir, "manifests", f"v${v + 1}%09d.json")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dir, "manifests", f"v$v%09d.json"), occupied)
    assert(table.compactBuckets(spark, minDeltas = 2).isEmpty,
      "compaction must abort when it loses the version race")
    java.nio.file.Files.delete(occupied)
    assert(stateMap(table.read(spark)) == before)
    // and with the contender gone, the same compaction succeeds
    assert(table.compactBuckets(spark, minDeltas = 2).nonEmpty)
    assert(stateMap(table.read(spark)) == before)
  }

  /** Publish at the next version exactly what an EMPTY epoch's upsert
    * would: the head's groups under a bumped version and `epochId`. */
  private def publishEmptyEpoch(dir: String, epochId: Long): Unit = {
    val v = new LakeTable(dir).latest().get.version
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(Files.readAllBytes(Paths.get(dir, "manifests", f"v$v%09d.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.put("version", v + 1L)
    node.put("epochId", epochId)
    Files.write(Paths.get(dir, "manifests", f"v${v + 1}%09d.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
  }

  /** Run `body` with `contender` committed from the `point` failpoint:
    * after the rewrite's data write, before its manifest commit. */
  private def racing[T](point: String)(contender: => Unit)(body: => T): T = {
    LakeTable.failpoint = name => if (name == point) contender
    try body finally LakeTable.failpoint = _ => ()
  }

  test("a compaction racing an append-only commit retries metadata-only and lands") {
    // every rewrite entry point; the rebucket may land because the
    // contender appended nothing, so no delta carries the old hashing
    val rewrites = Seq[(String, String, Int, LakeTable => Unit)](
      ("compactBuckets", "compact.after-write", 4, t =>
        assert(t.compactBuckets(spark, minDeltas = 2).nonEmpty,
          "sweep must retry past an append-only contender, not abort")),
      ("compact", "compact.after-write", 4, _.compact(spark)),
      ("rebucket", "rebucket.after-write", 8, t =>
        assert(t.rebucket(spark, 8), "rebucket must retry past an empty-epoch contender")))
    for ((name, point, buckets, rewrite) <- rewrites) {
      val dir = TestSpark.tmpDir(s"cdc-casr-$name") + "/t"
      val keys = (0 until 20).map(i => (s"r$i", "a"))
      val table = new LakeTable(dir, numBuckets = 4)
      (0 until 3).foreach(e => table.upsert(mkBatch(keys, 100L * e), e.toLong, 1))
      val before = stateMap(table.read(spark))
      val v = table.latest().get.version
      // an empty-epoch commit lands at v+1 between the rewrite's write
      // and its commit: the rewrite targets v+1, hits EEXIST, validates
      // the head is append-only since its read snapshot, and must
      // re-commit METADATA-ONLY at v+2 (no data rewrite re-run)
      racing(point)(publishEmptyEpoch(dir, epochId = 3L))(rewrite(table))
      val head = table.latest().get
      assert(head.version == v + 2 && head.epochId == 3L,
        s"$name: retry must land on top of the contender inheriting its epoch high-water mark, got $head")
      assert(head.numBuckets == buckets)
      assert(stateMap(table.read(spark)) == before)
      assert(head.totalDeltaGroups == 0, s"$name: the rewrite absorbed every delta group")
    }
  }

  test("a rebucket racing an appending commit aborts and leaves the head") {
    val dir = TestSpark.tmpDir("cdc-casra") + "/t"
    val keys = (0 until 20).map(i => (s"r$i", "a"))
    val table = new LakeTable(dir, numBuckets = 4)
    (0 until 3).foreach(e => table.upsert(mkBatch(keys, 100L * e), e.toLong, 1))
    // the contender appends a delta group hashed with 4 buckets: the
    // 8-bucket rewrite cannot be reconciled with it metadata-only
    var contender: Option[Snapshot] = None
    val landed = racing("rebucket.after-write") {
      contender = new LakeTable(dir).upsert(mkBatch(keys.take(5), 5000L), 3L, 1).snapshot
    }(table.rebucket(spark, 8))
    assert(!landed, "rebucket must abort over an appended delta group")
    assert(contender.isDefined && table.latest() == contender,
      s"the aborted rebucket moved the head: ${table.latest()}")
    assert(table.bucketCount == 4)
    assert(stateMap(table.read(spark))(("r0", "a"))._2 == "content-r0-a-5000")
  }

  test("a stray near-miss manifest file cannot brick the table") {
    val dir = TestSpark.tmpDir("cdc-poison") + "/t"
    val table = new LakeTable(dir, numBuckets = 4)
    table.upsert(mkBatch((0 until 5).map(i => (s"r$i", "a")), 100L), 0L, 1)
    val before = stateMap(table.read(spark))
    // an editor backup / sync-conflict copy lands next to the manifests
    Files.write(Paths.get(dir, "manifests", "v000000001 (copy).json"),
      "junk".getBytes("UTF-8"))
    Files.write(Paths.get(dir, "manifests", "vX.json"), "junk".getBytes("UTF-8"))
    assert(table.latest().map(_.version).contains(1L))
    assert(stateMap(table.read(spark)) == before)
    assert(table.upsert(mkBatch(Seq(("r9", "a")), 200L), 1L, 1).committed)
  }

  test("audit compaction crash between publish and delete does not double-count") {
    import org.apache.spark.sql.SaveMode
    val dir = TestSpark.tmpDir("cdc-audit-crash")
    val auditDir = s"$dir/audit"
    // three per-epoch append files
    (0 until 3).foreach { e =>
      Seq((e.toLong, 0L, 10L)).toDF("epoch_id", "bucket", "rows_applied")
        .coalesce(1).write.mode(SaveMode.Append).parquet(auditDir)
    }
    val root = Paths.get(auditDir)
    val inputs = scala.util.Using.resource(Files.list(root)) { st =>
      st.iterator().asScala.map(_.getFileName.toString)
        .filter(f => f.endsWith(".parquet") && !f.startsWith("compacted-")).toSeq
    }
    assert(inputs.size == 3)
    // simulate the crash window: the compacted segment AND its absorb
    // sidecar exist, the absorbed originals were NOT yet deleted
    val seg = spark.read.parquet(auditDir)
    val tmp = s"$auditDir-tmp"
    seg.coalesce(1).write.parquet(tmp)
    val part = scala.util.Using.resource(Files.list(Paths.get(tmp))) { st =>
      st.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    }.head
    Files.move(part, root.resolve("compacted-crashtest.parquet"))
    Files.write(root.resolve(".absorb-crashtest.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsBytes(inputs.toArray))
    // naive read of the dir would now double-count; Audit.read must
    // complete the interrupted compaction first
    val rows = new Audit(auditDir).read(spark)
    assert(rows.count() == 3L, "absorbed originals double-counted after crash")
    assert(rows.groupBy("epoch_id").count().filter(col("count") =!= 1L).count() == 0)
    // the originals are gone, the sidecar consumed
    assert(!Files.exists(root.resolve(".absorb-crashtest.json")))
    inputs.foreach(f => assert(!Files.exists(root.resolve(f)), s"$f not cleaned"))
  }

  private def envBatch(keys: Seq[(String, String)], lsn0: Long): DataFrame =
    keys.zipWithIndex.map { case ((r, p), i) =>
      ("U", lsn0 + i, ts, 1, r, p, null: String,
        s"""{"commit":"c$lsn0","lang":"scala","content":"x$lsn0-$i"}""")
    }.toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")

  test("two tables sharing one audit dir: read returns the lineage of both") {
    val dir = TestSpark.tmpDir("cdc-audit-two")
    val audit = new Audit(s"$dir/audit")
    val tables = Seq((new LakeTable(s"$dir/a", numBuckets = 4), 16, 2),
      (new LakeTable(s"$dir/b", numBuckets = 4), 8, 3))
    tables.foreach { case (t, nKeys, epochs) =>
      (0 until epochs).foreach(e => assert(Apply.applyEpoch(spark, t,
        envBatch((0 until nKeys).map(i => (s"r$i", "a")), 100L * e), e.toLong, Some(audit)).committed))
    }
    assert(scala.util.Using.resource(Files.list(Paths.get(dir, "audit")))(
      _.iterator().asScala.count(_.getFileName.toString.startsWith("_table-"))) == 2)
    // a fresh instance reads the registry the writers left
    val perEpoch = new Audit(s"$dir/audit").read(spark).groupBy("epoch_id")
      .agg(sum("rows_applied")).as[(Long, Long)].collect().toMap
    assert(perEpoch == Map(0L -> 24L, 1L -> 24L, 2L -> 8L))
  }

  test("lineage expires with its snapshot; legacy audit rows stay") {
    val dir = TestSpark.tmpDir("cdc-audit-expire")
    val auditDir = s"$dir/audit"
    // a per-epoch file an earlier engine appended
    Seq((100L, 0, 10L)).toDF("epoch_id", "bucket", "rows_applied").coalesce(1)
      .write.parquet(auditDir)
    val table = new LakeTable(s"$dir/t", numBuckets = 4)
    val audit = new Audit(auditDir)
    val keys = (0 until 8).map(i => (s"r$i", "a"))
    (0 until 5).foreach(e =>
      Apply.applyEpoch(spark, table, envBatch(keys, 100L * e), e.toLong, Some(audit)))
    def lineage = audit.read(spark).select("epoch_id", "snapshot_version").distinct()
      .as[(Long, Option[Long])].collect().toSet
    assert(lineage == (0L to 4L).map(e => (e, Some(e + 1))).toSet + ((100L, None)))
    table.expireSnapshots(keep = 2, graceMs = 0L)
    assert(lineage == Set((3L, Some(4L)), (4L, Some(5L)), (100L, None)))
  }

  test("manifest HEAD hint: latest() survives stale, garbage, lost HEAD and vacuum") {
    val dir = TestSpark.tmpDir("cdc-head") + "/t"
    val table = new LakeTable(dir, numBuckets = 4)
    val keys = (0 until 8).map(i => (s"r$i", "a"))
    (0 until 5).foreach(e => table.upsert(mkBatch(keys, 100L * e), e.toLong, 1))
    val head = Paths.get(dir, "manifests", "HEAD")
    assert(Files.exists(head), "commit must maintain the HEAD hint")
    assert(table.latest().get.version == 5L)

    // stale hint (a racing writer's overwrite landed late): probe-forward
    Files.write(head, "2".getBytes("UTF-8"))
    assert(table.latest().get.version == 5L)
    // garbage hint: listing fallback
    Files.write(head, "not-a-version".getBytes("UTF-8"))
    assert(table.latest().get.version == 5L)
    // lost hint (legacy table): listing fallback, next commit restores it
    Files.delete(head)
    assert(table.latest().get.version == 5L)
    table.upsert(mkBatch(keys, 900L), 5L, 1)
    assert(Files.exists(head) && table.latest().get.version == 6L)

    // vacuum keeps the newest manifest; HEAD stays valid
    table.compact(spark)
    table.expireSnapshots(keep = 1, graceMs = 0L)
    assert(table.latest().get.version == 7L)
    assert(stateMap(table.read(spark)).size == keys.size)
  }

  test("link-less mount: commit FAILS (no silent no-CAS degradation)") {
    val dir = TestSpark.tmpDir("cdc-nocas") + "/t"
    val table = new LakeTable(dir, numBuckets = 4)
    val keys = (0 until 8).map(i => (s"r$i", s"p$i"))
    table.upsert(mkBatch(keys, 0L), 0L, 1) // real-link commit works
    val realLink = LakeTable.linkImpl
    try {
      // simulate a FUSE/object-store mount without hard links
      LakeTable.linkImpl = (_, _) => throw new UnsupportedOperationException("no links")
      val ex = intercept[IllegalStateException] {
        table.upsert(mkBatch(keys, 100L), 1L, 1)
      }
      assert(ex.getMessage.contains("does not support hard links"),
        s"refusal must name the missing hard links: ${ex.getMessage}")
      // the refused commit left no partial snapshot and no tmp
      // manifest: state is epoch 0's
      assert(scala.util.Using.resource(Files.list(Paths.get(dir, "manifests"))) { st =>
        st.iterator().asScala.forall(!_.getFileName.toString.startsWith(".tmp-"))
      })
      assert(table.latest().get.epochId == 0L)
      assert(stateMap(table.read(spark)).forall(_._2._2.endsWith("-0")))
    } finally LakeTable.linkImpl = realLink
  }
}
