package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._

/** Kill-and-resume-from-checkpoint golden test: tail the on-disk binlog
  * segments as a Structured-Streaming file source, crash AFTER the lake
  * commit of an epoch but BEFORE its streaming checkpoint, restart, and
  * require (a) the replayed epoch is skipped by the idempotent guard and
  * (b) the final state matches the oracle fold exactly. Crashes go
  * through the lake's one crash seam, [[LakeTable.failpoint]], armed on
  * micro-batch 2's manifest commit (the third commit of the stream).
  */
class StreamingResumeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val cfg = GenConfig(numEvents = 8000L, numRepos = 25L, pathsPerRepo = 8L)
  val stateCols = Seq("repo", "path", "lsn", "commit", "lang", "content", "stargazers")

  /** Run the stream with `point` armed to throw at its third hit, and
    * report whether the injected failure surfaced. */
  private def crashInBatch2(point: String, logDir: String, tableDir: String,
      ckDir: String): Boolean = {
    val hits = new java.util.concurrent.atomic.AtomicInteger()
    LakeTable.failpoint = name =>
      if (name == point && hits.incrementAndGet() == 3)
        throw new RuntimeException(s"injected crash at $point")
    try { Pipeline.runStream(spark, logDir, tableDir, ckDir); false }
    catch { case _: StreamingQueryException => true }
    finally LakeTable.failpoint = _ => ()
  }

  test("stream apply with injected crash resumes exactly-once") {
    val dir = TestSpark.tmpDir("cdc-stream")
    val (logDir, tableDir, ckDir) = (s"$dir/log", s"$dir/table", s"$dir/ck")
    Pipeline.writeLogSegments(spark, cfg, logDir, segments = 6)

    // first run: crash after epoch 2's manifest is published
    assert(crashInBatch2("commit.after-publish", logDir, tableDir, ckDir),
      "injected failure must surface")
    val table = new LakeTable(tableDir)
    val committedAtCrash = table.latest().get.epochId
    assert(committedAtCrash == 2L, s"epoch 2 must be committed before the crash, got $committedAtCrash")

    // resume: batch 2 is redelivered (checkpoint never advanced past it)
    // and must be skipped by the epoch guard; batches 3..5 then apply
    Pipeline.runStream(spark, logDir, tableDir, ckDir)
    assert(table.latest().get.epochId == 5L)

    val got = table.read(spark)
    val want = Oracle.fold(spark, ChangeLogGen.events(spark, cfg).drop("delivery"))
    assert(got.select(stateCols.map(col): _*).exceptAll(want.select(stateCols.map(col): _*)).count() == 0)
    assert(want.select(stateCols.map(col): _*).exceptAll(got.select(stateCols.map(col): _*)).count() == 0)

    // no epoch applied twice: snapshot versions strictly increase one per applied epoch
    // (6 segments - 0 duplicates = 6 snapshots)
    assert(table.latest().get.version == 6L)
  }

  test("crash BEFORE commit: restart applies the batch (no loss)") {
    val dir = TestSpark.tmpDir("cdc-stream3")
    val (logDir, tableDir, ckDir) = (s"$dir/log", s"$dir/table", s"$dir/ck")
    Pipeline.writeLogSegments(spark, cfg, logDir, segments = 5)
    // crash with epoch 2's manifest written but not yet published
    assert(crashInBatch2("commit.after-tmp", logDir, tableDir, ckDir))
    val table = new LakeTable(tableDir)
    // epoch 2 was NOT committed before the crash
    assert(table.latest().get.epochId == 1L)
    // resume: epoch 2 redelivers and must be applied this time
    Pipeline.runStream(spark, logDir, tableDir, ckDir)
    assert(table.latest().get.epochId == 4L)
    val got = table.read(spark)
    val want = Oracle.fold(spark, ChangeLogGen.events(spark, cfg).drop("delivery"))
    assert(got.select(stateCols.map(col): _*).exceptAll(want.select(stateCols.map(col): _*)).count() == 0)
    assert(want.select(stateCols.map(col): _*).exceptAll(got.select(stateCols.map(col): _*)).count() == 0)
  }

  test("mid-stream compaction is per-bucket: cold buckets' files never rewritten") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("cdc-stream4")
    val (logDir, tableDir, ckDir) = (s"$dir/log", s"$dir/table", s"$dir/ck")
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val keys = (0 until 64).map(i => (s"repo$i", "src/a"))
    val bucketOf = keys.toDF("repo", "path")
      .select(col("repo"), pmod(xxhash64(col("repo"), col("path")), lit(8L)).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    val hot = bucketOf(keys.head._1)
    val hotKeys = keys.filter(k => bucketOf(k._1) == hot)
    assert(hotKeys.size < keys.size)
    def seg(s: Int, ks: Seq[(String, String)], lsn0: Long): Unit =
      ks.zipWithIndex.map { case ((r, p), i) =>
        ("U", lsn0 + i, ts, 1, r, p, null: String,
          s"""{"commit":"c$lsn0","lang":"scala","content":"v$lsn0-$r"}""")
      }.toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
        .coalesce(1).write.mode("overwrite").parquet(f"$logDir/seg-$s%05d")
    // epoch 0 touches every bucket; epochs 1..4 only the hot bucket
    seg(0, keys, 0L)
    (1 to 4).foreach(e => seg(e, hotKeys, 1000L * e))
    // table pre-created with 8 buckets (epoch -1 bootstrap commit) so
    // the stream's default-constructed LakeTable inherits it from the
    // manifest — exercising the persisted-numBuckets path end to end
    val table = new LakeTable(tableDir, numBuckets = 8)
    Apply.applyEpoch(spark, table,
      keys.map { case (r, p) => ("U", -1000L, ts, 1, r, p, null: String,
        s"""{"commit":"boot","lang":"scala","content":"boot-$r"}""") }
        .toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after"),
      -1L)
    def inventory(g: String): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get(tableDir, g))) { st =>
        st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
          .toMap
      }
    }
    val bootGroup = table.latest().get.groups.head.dir
    val bootInventoryBefore = inventory(bootGroup)
    Pipeline.runStream(spark, logDir, tableDir, ckDir, compactEvery = 3)
    val snap = table.latest().get
    assert(snap.epochId == 4L && snap.numBuckets == 8)
    // the pre-stream group's files are untouched on disk: per-bucket
    // compaction supersedes buckets via manifest metadata (exclusions),
    // it never blocks the stream on rewriting existing files
    assert(inventory(bootGroup) == bootInventoryBefore,
      "mid-stream compaction rewrote a pre-existing group's files")
    // a compaction happened (hot bucket crossed the threshold) ...
    assert(snap.groups.exists(_.kind == "base"), s"no compaction ran: ${snap.groups}")
    // ... but every surviving delta group only ever EXCLUDES buckets —
    // its files are the ones written at apply time, never rewritten
    // (the epoch-0 group with all the cold buckets must survive)
    val coldGroups = snap.groups.filter(_.kind == "delta")
    assert(coldGroups.nonEmpty, "cold-bucket delta groups must survive a per-bucket compaction")
    coldGroups.foreach { g =>
      assert((g.excludedBuckets - hot).isEmpty,
        s"cold bucket rewritten: ${g.excludedBuckets}")
    }
    // final state = LWW over boot + 5 epochs
    val got = table.read(spark).select("repo", "path", "lsn", "content").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getString(3))).toMap
    val want = keys.zipWithIndex.map { case ((r, p), i) =>
      if (bucketOf(r) == hot) {
        val j = hotKeys.indexOf((r, p))
        (r, p) -> (4000L + j, s"v4000-$r")
      } else (r, p) -> (i.toLong, s"v0-$r")
    }.toMap
    assert(got == want)
  }

  test("mid-stream compaction during streaming keeps state correct") {
    val dir = TestSpark.tmpDir("cdc-stream2")
    Pipeline.writeLogSegments(spark, cfg, s"$dir/log", segments = 5)
    Pipeline.runStream(spark, s"$dir/log", s"$dir/table", s"$dir/ck", compactEvery = 2)
    val table = new LakeTable(s"$dir/table")
    val got = table.read(spark)
    val want = Oracle.fold(spark, ChangeLogGen.events(spark, cfg).drop("delivery"))
    assert(got.select(stateCols.map(col): _*).exceptAll(want.select(stateCols.map(col): _*)).count() == 0)
    assert(want.select(stateCols.map(col): _*).exceptAll(got.select(stateCols.map(col): _*)).count() == 0)
  }
}
