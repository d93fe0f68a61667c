package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.{Apply, LakeTable}

/** Online bucket-count migration (LakeTable.rebucket): state identical
  * across the boundary, subsequent writers/readers/point-lookups hash
  * with the new count, time travel still reads the old layout, and
  * incremental reads surface the rewrite as a resync boundary.
  */
class RebucketSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def env(lo: Int, hi: Int) = {
    val rows = (lo until hi).map { i =>
      ("U", i.toLong, new java.sql.Timestamp(1700000000000L + i), 1,
        s"r${i % 17}", s"p$i",
        null: String, s"""{"commit":"c$i","lang":"en","content":"body$i"}""")
    }
    rows.toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
  }

  private def stateMap(t: LakeTable) =
    t.read(spark).select("repo", "path", "lsn", "content").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getString(3))).toMap

  test("rebucket preserves state exactly and switches the manifest count") {
    val dir = TestSpark.tmpDir("graft-rbk")
    val table = new LakeTable(dir)
    Apply.applyEpoch(spark, table, env(0, 150), 0L)
    val before = stateMap(table)
    assert(table.bucketCount == 32)

    assert(table.rebucket(spark, 128))
    assert(table.bucketCount == 128)
    assert(stateMap(table) == before, "state diverged across the rebucket")
    // idempotent at the same count: no rewrite, still true
    val v = table.latest().get.version
    assert(table.rebucket(spark, 128))
    assert(table.latest().get.version == v, "same-count rebucket must be a no-op")
  }

  test("writers after a rebucket land in the new bucketing; point lookup prunes to it") {
    val dir = TestSpark.tmpDir("graft-rbk2")
    val table = new LakeTable(dir)
    Apply.applyEpoch(spark, table, env(0, 100), 0L)
    assert(table.rebucket(spark, 8))
    // an upsert AFTER the migration must hash with the manifest's count
    Apply.applyEpoch(spark, table, env(100, 160), 1L)
    val all = stateMap(table)
    assert(all.size == 160)

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = table.readKey(spark, "r3", "p122") // written post-rebucket
      val got = df.collect()
      assert(got.length == 1 && got(0).getAs[String]("content") == "body122")
      val scanned = df.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s.metrics("numFiles").value
      }.sum
      val allFiles = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
          .count(p => p.toString.endsWith(".parquet") && p.toString.contains("bucket="))
      }
      assert(scanned < allFiles,
        s"point lookup scanned $scanned of $allFiles files — no pruning under the new count")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("time travel across the boundary; incremental reads resync at it") {
    val dir = TestSpark.tmpDir("graft-rbk3")
    val table = new LakeTable(dir)
    Apply.applyEpoch(spark, table, env(0, 80), 0L)
    val v1 = table.latest().get.version
    val before = stateMap(table)
    assert(table.rebucket(spark, 64))
    val v2 = table.latest().get.version
    Apply.applyEpoch(spark, table, env(80, 120), 1L)
    val v3 = table.latest().get.version

    // pre-rebucket snapshot reads exactly the old state
    val tt = table.readVersion(spark, v1).select("repo", "path", "lsn", "content")
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getString(3))).toMap
    assert(tt == before)

    // a range crossing the rewrite is refused...
    intercept[IllegalStateException] { table.readChanges(spark, v1, v3).collect() }
    // ...and the chunked fallback reports the rebucket as a resync
    // boundary while returning the post-boundary changes
    val chunked = table.readChangesChunked(spark, v1, v3)
    assert(chunked.resyncVersions.contains(v2))
    assert(chunked.changes.filter(col("lsn") >= 80).count() == 40)
  }

  test("a live writer survives an online rebucket: no crash, no lost epoch") {
    // the other ordering of the rebucket/upsert race: the migration
    // commits while a writer's epoch files are in flight — the writer's
    // conflict retry must rewrite its batch under the new count and
    // proceed, never throw (streaming foreachBatch would die) and never
    // skip the epoch
    val dir = TestSpark.tmpDir("graft-rbk4")
    val table = new LakeTable(dir, numBuckets = 4)
    val epochs = 8
    val perEpoch = 4000 // heavy enough that a migration window fits between commits
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writerThread = new Thread(() => {
      try (0 until epochs).foreach { e =>
        Apply.applyEpoch(spark, table, env(e * perEpoch, (e + 1) * perEpoch), e.toLong)
      } catch { case t: Throwable => failures.add(t) }
    }, "live-writer")
    writerThread.start()
    // fire the migration mid-replay (after the first commit exists);
    // retry lost CAS races until it lands. A migration re-commits
    // metadata-only only past epochs that appended nothing (an
    // appended delta carries the OLD hashing; compaction has no such
    // limit), so it can starve against a saturated stream; if every
    // mid-flight attempt lost, land it after the join: the
    // no-crash/no-lost-epoch asserts still bind for every attempt made.
    val migrator = new LakeTable(dir)
    while (migrator.latest().isEmpty && writerThread.isAlive) Thread.sleep(50L)
    var migrated = false
    var attempts = 0
    while (!migrated && writerThread.isAlive) { attempts += 1; migrated = migrator.rebucket(spark, 8) }
    writerThread.join(180000L)
    if (!migrated) migrated = migrator.rebucket(spark, 8)

    assert(failures.isEmpty, s"writer died during rebucket: ${Option(failures.peek()).getOrElse("")}")
    assert(migrated, s"rebucket never landed (attempts=$attempts)")
    val s = table.latest().get
    assert(s.epochId == (epochs - 1).toLong, s"lost epoch: high-water ${s.epochId}")
    assert(s.numBuckets == 8)
    // exact final state: every key's last write present
    val want = (0 until epochs * perEpoch).map(i =>
      (s"r${i % 17}", s"p$i") -> (i.toLong, s"body$i")).toMap
    assert(stateMap(table) == want, "state diverged across the online migration")
    // and new writers + point lookups operate under the new count
    Apply.applyEpoch(spark, table, env(epochs * perEpoch, epochs * perEpoch + 10), epochs.toLong)
    val probe = table.readKey(spark, "r0", "p0")
    assert(probe.count() == 1)
  }
}
