package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.cdc._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Systematic crash-point sweep over the write/commit/maintenance path.
  *
  * Each `LakeTable.failpoint` is armed in turn to throw — the
  * process-kill simulation at exactly that stage boundary — then the
  * replay RESUMES the way a restarted driver would (re-deliver the
  * interrupted epoch, continue to the end) and the final table state
  * must equal the uninterrupted oracle fold bit-for-bit. Afterwards
  * vacuum must reclaim every orphan the crash left behind
  * (unreferenced data groups, stale manifest tmps) without changing
  * visible state, and the surviving data directories must be exactly
  * the head snapshot's referenced groups.
  *
  * The epoch replays also carry an [[Audit]], and before the vacuum
  * its lineage must hold every epoch exactly once per bucket the
  * epoch's committed group wrote: the record commits with the epoch,
  * so no crash point can commit one without the other.
  *
  * This exercises the exactly-once commit claim at EVERY stage
  * boundary, not just the two hand-picked crash sites the streaming
  * resume spec drives:
  *   - upsert.after-write        data group durable, nothing referenced
  *   - commit.after-tmp          manifest tmp durable, not published
  *   - commit.after-publish      published; HEAD hint + cleanup lost
  *   - compact.after-write       rewritten group durable, old head current
  *   - rebucket.after-write      ditto for the bucket migration
  *   - vacuum.after-manifest-expire  manifests expired, orphan sweep lost
  */
class CrashSweepSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val cfg = GenConfig(numEvents = 4000L, numRepos = 40L, pathsPerRepo = 10L,
    disorderWindow = 16L)
  val epochs = 6
  val crashEpoch = 3
  val stateCols = Seq("repo", "path", "lsn", "commit", "lang", "content", "stargazers")

  private case class Injected(point: String)
    extends RuntimeException(s"injected crash at $point")

  private def arm(point: String): Unit =
    LakeTable.failpoint = name => if (name == point) throw Injected(point)
  private def disarm(): Unit = LakeTable.failpoint = _ => ()

  private def batches(): IndexedSeq[DataFrame] = {
    val all = Pipeline.withEpoch(ChangeLogGen.events(spark, cfg), cfg, epochs)
    (0 until epochs).map(e =>
      all.filter(col("epoch") === e.toLong).drop("delivery", "epoch"))
  }

  private lazy val oracleDigest: (Long, Long) = {
    val dir = TestSpark.tmpDir("crash-oracle")
    Pipeline.runBatchEpochs(spark, cfg, s"$dir/t", epochs)
    Oracle.digest(new LakeTable(s"$dir/t").read(spark), stateCols)
  }

  private def onDiskDataDirs(tableDir: String): Set[String] = {
    val p = Paths.get(tableDir, "data")
    if (!Files.isDirectory(p)) Set.empty
    else Using.resource(Files.list(p)) { st =>
      st.iterator().asScala.map(d => s"data/${d.getFileName}").toSet
    }
  }

  private def staleTmpManifests(tableDir: String): Seq[String] = {
    val p = Paths.get(tableDir, "manifests")
    if (!Files.isDirectory(p)) Nil
    else Using.resource(Files.list(p)) { st =>
      st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(".tmp-")).toSeq
    }
  }

  /** Lineage before any vacuum: `audit` holds epochs 0..epochs-1, each
    * exactly once per bucket dir of the group its commit appended. */
  private def assertFullLineage(audit: Audit, t: LakeTable): Unit = {
    val written = (1L to t.latest().get.version).flatMap { v =>
      val s = t.snapshotAt(v).get
      val prev = t.snapshotAt(v - 1).map(_.groups.map(_.dir)).getOrElse(Nil)
      s.groups.map(_.dir).filterNot(prev.contains).flatMap(d =>
        Using.resource(Files.list(Paths.get(t.root, d)))(_.iterator().asScala
          .map(_.getFileName.toString).filter(_.startsWith("bucket="))
          .map(b => (s.epochId, b.stripPrefix("bucket=").toInt)).toSeq))
    }
    val got = audit.read(spark).select("epoch_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got.map(_._1).toSet == (0 until epochs).map(_.toLong).toSet,
      s"epochs without lineage: ${(0 until epochs).map(_.toLong).toSet -- got.map(_._1)}")
    assert(got.sorted == written.sorted, "lineage is not once per epoch and written bucket")
  }

  /** Vacuum with grace 0 (cold maintenance), then assert: state digest
    * unchanged, no stale tmp manifests, and the data directories on
    * disk are exactly the head snapshot's referenced groups. */
  private def assertVacuumReclaims(tableDir: String, t: LakeTable): Unit = {
    t.expireSnapshots(keep = 1, graceMs = 0L)
    assert(Oracle.digest(t.read(spark), stateCols) == oracleDigest,
      "vacuum changed visible state")
    assert(staleTmpManifests(tableDir).isEmpty, "stale manifest tmp survived vacuum")
    val referenced = t.latest().get.groups.map(_.dir).toSet
    assert(onDiskDataDirs(tableDir) == referenced,
      s"crash debris survived vacuum: disk=${onDiskDataDirs(tableDir)} vs referenced=$referenced")
  }

  for (point <- Seq("upsert.after-write", "commit.after-tmp", "commit.after-publish"))
    test(s"crash at $point mid-replay: resume reaches the oracle state") {
      val dir = TestSpark.tmpDir(s"crash-${point.replace('.', '-')}")
      val t = new LakeTable(s"$dir/t")
      val audit = new Audit(s"$dir/audit")
      val bs = batches()
      def apply(e: Int) = Apply.applyEpoch(spark, t, bs(e), e.toLong, Some(audit))
      (0 until crashEpoch).foreach(apply)
      arm(point)
      try intercept[Injected](apply(crashEpoch)) finally disarm()
      // resume: a restarted driver re-delivers the interrupted epoch and
      // continues — after-publish resumes into the idempotent-skip path,
      // the two earlier points re-apply the epoch for real
      (crashEpoch until epochs).foreach(apply)
      assert(t.latest().get.epochId == epochs - 1L, "resume did not reach the last epoch")
      assert(Oracle.digest(t.read(spark), stateCols) == oracleDigest,
        s"state after crash at $point + resume diverged from the oracle")
      assertFullLineage(audit, t)
      assertVacuumReclaims(s"$dir/t", t)
    }

  test("crash between quarantine write and commit: resume does not duplicate DLQ rows") {
    import spark.implicits._
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i)
    def json(i: Int) = s"""{"commit":"c$i","lang":"en","content":"body$i"}"""
    val base = TestSpark.tmpDir("crash-dlq")
    val t = new LakeTable(s"$base/table")
    val dlq = new DeadLetterQueue(s"$base/dlq")
    val env = Seq(
      ("U", 1L, ts(1), 1, "r1", "pA", null: String, json(1)),
      ("U", 2L, ts(2), 1, "r1", "pB", null: String, "{not json"),
      ("X", 3L, ts(3), 1, "r1", "pC", null: String, json(3)))
      .toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
    // the quarantine set lands after the delta write and before the
    // commit; a crash at upsert.after-write leaves both durable in an
    // uncommitted epoch whose resume re-runs the quarantine as an
    // overwrite of the same epoch directory
    arm("upsert.after-write")
    try intercept[Injected] {
      Apply.applyEpoch(spark, t, env, 0L, dlq = Some(dlq))
    } finally disarm()
    val st = Apply.applyEpoch(spark, t, env, 0L, dlq = Some(dlq))
    assert(st.committed)
    val q = dlq.read(spark).select("path", "lsn", "reason").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(q.toSeq.sorted == Seq(("pB", 2L, "malformed_payload"), ("pC", 3L, "unknown_op")),
      s"resume duplicated or lost quarantine rows: ${q.toSeq}")
    val state = t.read(spark).select("path").as[String].collect().toSeq
    assert(state == Seq("pA"), s"lake state wrong after DLQ crash resume: $state")
  }

  test("crash at upsert.after-write in a poison epoch: resume matches the uncrashed run") {
    import spark.implicits._
    val bs = batches()
    val ts = new java.sql.Timestamp(1700000000000L)
    // poison on keys the log never touches, at LSNs above the log's
    val poison = Seq(
      ("X", 1000001L, ts, 1, "poison", "p1", null: String, """{"content":"x"}"""),
      ("U", 1000002L, ts, 1, "poison", "p2", null: String, "{not json"))
      .toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
    def replay(crash: Boolean): (LakeTable, DeadLetterQueue) = {
      val dir = TestSpark.tmpDir(s"crash-poison-$crash")
      val (t, q) = (new LakeTable(s"$dir/t"), new DeadLetterQueue(s"$dir/dlq"))
      def apply(e: Int) = Apply.applyEpoch(spark, t,
        if (e == crashEpoch) bs(e).unionByName(poison) else bs(e), e.toLong, dlq = Some(q))
      (0 until crashEpoch).foreach(apply)
      if (crash) {
        arm("upsert.after-write")
        try intercept[Injected](apply(crashEpoch)) finally disarm()
      }
      (crashEpoch until epochs).foreach(apply)
      (t, q)
    }
    def quarantine(q: DeadLetterQueue) =
      q.read(spark).select("repo", "path", "op", "lsn", "after", "reason", "epoch")
        .collect().map(_.toSeq).toSet
    val (crashed, crashedQ) = replay(crash = true)
    val (clean, cleanQ) = replay(crash = false)
    assert(quarantine(crashedQ) == quarantine(cleanQ))
    assert(quarantine(cleanQ).map(r => (r(1), r(5), r(6))) ==
      Set(("p1", "unknown_op", crashEpoch.toLong), ("p2", "malformed_payload", crashEpoch.toLong)))
    assert(Oracle.digest(crashed.read(spark), stateCols) == oracleDigest)
    assert(Oracle.digest(clean.read(spark), stateCols) == oracleDigest)
    assert(crashed.latest().get.maxLsn == clean.latest().get.maxLsn)
  }

  test("crash at compact.after-write: head state untouched, retry compacts, vacuum reclaims") {
    // the per-bucket sweep and the full compact share the crash point
    val compactions = Seq[(String, LakeTable => Unit)](
      "compactBuckets" -> (t =>
        assert(t.compactBuckets(spark, minDeltas = 2).nonEmpty, "retry compaction was a no-op")),
      "compact" -> (_.compact(spark)))
    for ((name, compaction) <- compactions) {
      val dir = TestSpark.tmpDir(s"crash-$name")
      val t = new LakeTable(s"$dir/t")
      val bs = batches()
      (0 until epochs).foreach(e => Apply.applyEpoch(spark, t, bs(e), e.toLong))
      val headBefore = t.latest().get.version
      arm("compact.after-write")
      try intercept[Injected] { compaction(t) }
      finally disarm()
      assert(t.latest().get.version == headBefore, s"crashed $name moved the head")
      assert(Oracle.digest(t.read(spark), stateCols) == oracleDigest,
        s"crashed $name changed visible state")
      compaction(t)
      assert(t.latest().get.version == headBefore + 1, s"retried $name did not commit")
      assert(Oracle.digest(t.read(spark), stateCols) == oracleDigest,
        s"retried $name changed visible state")
      assertVacuumReclaims(s"$dir/t", t)
    }
  }

  test("crash at rebucket.after-write: bucketing untouched, retry migrates, vacuum reclaims") {
    val dir = TestSpark.tmpDir("crash-rebucket")
    val t = new LakeTable(s"$dir/t")
    val bs = batches()
    (0 until epochs).foreach(e => Apply.applyEpoch(spark, t, bs(e), e.toLong))
    arm("rebucket.after-write")
    try intercept[Injected] { t.rebucket(spark, newBuckets = 8) }
    finally disarm()
    assert(t.bucketCount == 32, "crashed rebucket changed the committed bucket count")
    assert(Oracle.digest(t.read(spark), stateCols) == oracleDigest,
      "crashed rebucket changed visible state")
    assert(t.rebucket(spark, newBuckets = 8), "retry rebucket failed")
    assert(t.bucketCount == 8)
    assert(Oracle.digest(t.read(spark), stateCols) == oracleDigest,
      "retried rebucket changed visible state")
    assertVacuumReclaims(s"$dir/t", t)
  }

  // The streaming variant drives the two tightest commit boundaries
  // through checkpoint recovery: after-tmp (epoch 2's manifest written
  // but never published — restart must RE-APPLY the redelivered batch)
  // and after-publish (epoch 2 committed but the HEAD hint, tmp cleanup
  // and checkpoint all lost — restart must SKIP it idempotently, with
  // latest() recovering by probing forward from the stale HEAD).
  for ((point, committedAtCrash) <- Seq("commit.after-tmp" -> 1L, "commit.after-publish" -> 2L))
    test(s"streaming: crash at $point in micro-batch 2 resumes exactly-once from checkpoint") {
      val dir = TestSpark.tmpDir(s"crash-stream-${point.replace('.', '-')}")
      val (logDir, tableDir, ckDir) = (s"$dir/log", s"$dir/table", s"$dir/ck")
      // after publish, the resumed micro-batch 2 takes the
      // idempotent-skip path: its lineage survives only if it committed
      // with the epoch
      val audit = new Audit(s"$dir/audit")
      Pipeline.writeLogSegments(spark, cfg, logDir, segments = epochs)
      val hits = new java.util.concurrent.atomic.AtomicInteger()
      LakeTable.failpoint =
        name => if (name == point && hits.incrementAndGet() == 3) throw Injected(point)
      val crashed =
        try { Pipeline.runStream(spark, logDir, tableDir, ckDir, Some(audit)); false }
        catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
        finally disarm()
      assert(crashed, "injected failure must surface through the streaming query")
      val t = new LakeTable(tableDir)
      assert(t.latest().get.epochId == committedAtCrash,
        s"commit visibility at the $point boundary is wrong: ${t.latest().get.epochId}")
      Pipeline.runStream(spark, logDir, tableDir, ckDir, Some(audit))
      assert(t.latest().get.epochId == epochs - 1L, "restart did not drain the log")
      assert(t.latest().get.version == epochs.toLong,
        s"an epoch committed twice across the restart: version ${t.latest().get.version}")
      assert(Oracle.digest(t.read(spark), stateCols) == oracleDigest,
        s"stream state after crash at $point + restart diverged from the oracle")
      assertFullLineage(audit, t)
    }

  test("crash at vacuum.after-manifest-expire: head intact, re-vacuum completes the sweep") {
    val dir = TestSpark.tmpDir("crash-vacuum")
    val t = new LakeTable(s"$dir/t")
    val bs = batches()
    (0 until epochs).foreach(e => Apply.applyEpoch(spark, t, bs(e), e.toLong))
    arm("vacuum.after-manifest-expire")
    try intercept[Injected] { t.expireSnapshots(keep = 1, graceMs = 0L) }
    finally disarm()
    // old manifests are gone but the head and its data survive; orphaned
    // groups from expired snapshots are still on disk awaiting the sweep
    assert(t.latest().get.epochId == epochs - 1L, "vacuum crash lost the head")
    assert(Oracle.digest(t.read(spark), stateCols) == oracleDigest,
      "interrupted vacuum changed visible state")
    assertVacuumReclaims(s"$dir/t", t)
  }
}
