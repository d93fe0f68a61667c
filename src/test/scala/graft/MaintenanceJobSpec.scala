package graft

import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._

/** The compaction sweep does not have to run inline with the stream
  * (Pipeline's `compactEvery` cadence): the round-5 cadence measurement
  * (bench/history/BENCH_rounds_1-7.md) argues the sweep "can equally run from a SEPARATE
  * maintenance job — the manifest CAS already serializes it". This
  * suite turns that claim into evidence: a second `LakeTable` handle
  * (standing in for a separate spark-submit maintenance job — the CAS
  * is filesystem-level, nothing is shared but the table root) loops
  * `compactBuckets` concurrently with a full multi-epoch replay.
  *
  * Contract under the race, all inherited from the commit discipline:
  *  - a compaction that loses the version CAS validates the new head
  *    and, if it only APPENDED delta groups since the sweep's read
  *    snapshot, re-commits METADATA-ONLY on top (Iceberg RewriteFiles
  *    retry — without this, a sweep whose window spans any epoch
  *    commit could never land against a busy stream); any other
  *    interleaving aborts the sweep;
  *  - an epoch upsert that loses re-reads the head and re-commits its
  *    already-written delta group on top (metadata-only retry);
  *  - so interleaving never drops an epoch, never resurrects a
  *    tombstone, and the final state is byte-identical to the
  *    single-threaded oracle fold.
  */
class MaintenanceJobSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val stateCols =
    Seq("repo", "path", "lsn", "commit", "lang", "content", "stargazers")

  private def assertSameState(got: DataFrame, want: DataFrame): Unit = {
    val g = got.select(stateCols.map(col): _*)
    val w = want.select(stateCols.map(col): _*)
    val extra = g.exceptAll(w).count()
    val missing = w.exceptAll(g).count()
    assert(extra == 0 && missing == 0,
      s"state mismatch under concurrent maintenance: $extra unexpected, $missing missing")
  }

  test("concurrent maintenance-job compaction: exact state, bounded deltas, no lost epoch") {
    val cfg = GenConfig(numEvents = 60000L, numRepos = 40L, pathsPerRepo = 15L)
    val dir = TestSpark.tmpDir("maint-job")
    val tableDir = s"$dir/t"
    val epochs = 10

    @volatile var stop = false
    val committedSweeps = new AtomicInteger(0)
    val attempts = new AtomicInteger(0)
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val maintenance = new Thread(() => {
      val t = new LakeTable(tableDir) // own handle: a separate job
      while (!stop) {
        try {
          attempts.incrementAndGet()
          if (t.compactBuckets(spark, minDeltas = 2).nonEmpty)
            committedSweeps.incrementAndGet()
        } catch { case e: Throwable => failures.add(e) }
        Thread.sleep(20L)
      }
    }, "maintenance-job")
    maintenance.setDaemon(true)
    maintenance.start()
    try Pipeline.runBatchEpochs(spark, cfg, tableDir, epochs)
    finally { stop = true; maintenance.join(60000L) }

    assert(failures.isEmpty,
      s"maintenance job threw: ${Option(failures.peek()).map(_.toString).getOrElse("")}")

    val table = new LakeTable(tableDir)
    // no epoch lost to a losing CAS: the upsert retry re-committed it
    assert(table.latest().map(_.epochId).contains((epochs - 1).toLong),
      s"epoch high-water mark wrong: ${table.latest().map(_.epochId)}")
    // the race was real — at least one sweep landed mid-replay (every
    // epoch touches all buckets at this fixture, so any committed sweep
    // absorbs the delta groups live at its snapshot)
    assert(committedSweeps.get >= 1,
      s"no maintenance sweep ever committed (attempts=${attempts.get}) — fixture too fast to race")
    assert(table.deltaGroupCount < epochs,
      s"delta groups unbounded: ${table.deltaGroupCount} after $epochs epochs with ${committedSweeps.get} sweeps")

    // the invariant the whole engine is graded on: final state equals
    // the independent single-threaded fold row-for-row
    val want = Oracle.fold(spark, ChangeLogGen.events(spark, cfg).drop("delivery"))
    assertSameState(table.read(spark), want)
  }

  test("replay + maintenance sweeps + vacuum all racing: exact state, nothing fails") {
    val cfg = GenConfig(numEvents = 60000L, numRepos = 40L, pathsPerRepo = 15L)
    val dir = TestSpark.tmpDir("maint-triad")
    val tableDir = s"$dir/t"
    val epochs = 8

    @volatile var stop = false
    val sweepCommits = new AtomicInteger(0)
    val vacuumRuns = new AtomicInteger(0)
    val failures = new ConcurrentLinkedQueue[Throwable]()
    def loop(name: String, pauseMs: Long)(body: => Unit): Thread = {
      val t = new Thread(() => {
        while (!stop) {
          try body catch { case e: Throwable => failures.add(e) }
          Thread.sleep(pauseMs)
        }
      }, name)
      t.setDaemon(true); t.start(); t
    }
    // the full operational triad of a long-lived 10^10-event table, as
    // three independent jobs sharing nothing but the table root: the
    // stream (epoch upserts), the compactor (validated-retry sweeps),
    // and the vacuum (default 10-min grace shields every in-flight
    // write; keep=3 prunes manifests eagerly enough to race the others)
    val sweeper = loop("sweeper", 20L) {
      if (new LakeTable(tableDir).compactBuckets(spark, minDeltas = 2).nonEmpty)
        sweepCommits.incrementAndGet()
    }
    val vacuumer = loop("vacuum", 50L) {
      new LakeTable(tableDir).expireSnapshots(keep = 3)
      vacuumRuns.incrementAndGet()
    }
    try Pipeline.runBatchEpochs(spark, cfg, tableDir, epochs)
    finally { stop = true; sweeper.join(60000L); vacuumer.join(60000L) }

    assert(failures.isEmpty, s"a racing job threw: ${Option(failures.peek()).getOrElse("")}")
    val table = new LakeTable(tableDir)
    assert(table.latest().map(_.epochId).contains((epochs - 1).toLong))
    assert(sweepCommits.get >= 1, "no sweep committed — the race never happened")
    assert(vacuumRuns.get >= 1)
    // vacuum visibly pruned: retained manifests < total commits made
    val manifests = scala.util.Using.resource(
      java.nio.file.Files.list(java.nio.file.Paths.get(tableDir, "manifests"))) { st =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(st.iterator()).asScala
        .count(_.getFileName.toString.endsWith(".json"))
    }
    assert(manifests < epochs + sweepCommits.get,
      s"vacuum never pruned: $manifests manifests retained of ${epochs + sweepCommits.get}+ commits")

    val want = Oracle.fold(spark, ChangeLogGen.events(spark, cfg).drop("delivery"))
    assertSameState(table.read(spark), want)
  }

  test("TWO concurrent ingest writers (disjoint sources) + racing compactor: exact merge, both watermarks") {
    // the multi-writer ingest shape writerEpochs exists for: two
    // checkpointed Submit-style tails, each with its OWN writer
    // namespace, feed disjoint key spaces of ONE table while a
    // compactor races both. Same-namespace tails would collide batch
    // ids (the second's epoch 0 looks already-applied and is silently
    // dropped) — the --writer flag is the documented fix.
    val cfg = GenConfig(numEvents = 8000L, numRepos = 20L, pathsPerRepo = 6L)
    val dir = TestSpark.tmpDir("maint-2w")
    val tableDir = s"$dir/t"
    val segs = 5
    Pipeline.writeLogSegments(spark, cfg, s"$dir/logA", segs)
    // source B: same generator, keys made disjoint by a repo prefix
    // (standing in for a second upstream database/binlog)
    Pipeline.writeLogSegments(spark, cfg, s"$dir/logB0", segs)
    (0 until segs).foreach { i =>
      spark.read.schema(Pipeline.envelopeSchema).parquet(f"$dir/logB0/seg-$i%05d")
        .withColumn("repo", concat(lit("b~"), col("repo")))
        .write.mode("overwrite").parquet(f"$dir/logB/seg-$i%05d")
    }

    @volatile var stop = false
    val sweepCommits = new AtomicInteger(0)
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val sweeper = new Thread(() => {
      while (!stop) {
        try {
          if (new LakeTable(tableDir).compactBuckets(spark, minDeltas = 2).nonEmpty)
            sweepCommits.incrementAndGet()
        } catch { case e: Throwable => failures.add(e) }
        Thread.sleep(20L)
      }
    }, "sweeper-2w")
    sweeper.setDaemon(true); sweeper.start()
    def tail(log: String, ck: String, writer: String): Thread = {
      val t = new Thread(() => {
        try Pipeline.runStream(spark, log, tableDir, ck, writer = writer)
        catch { case e: Throwable => failures.add(e) }
      }, s"tail-$writer")
      t.start(); t
    }
    val ta = tail(s"$dir/logA", s"$dir/ckA", LakeTable.DefaultWriter)
    val tb = tail(s"$dir/logB", s"$dir/ckB", "ingest-b")
    try { ta.join(300000L); tb.join(300000L) }
    finally { stop = true; sweeper.join(60000L) }
    assert(!ta.isAlive && !tb.isAlive, "a tail did not drain")
    assert(failures.isEmpty, s"a writer/sweeper threw: ${Option(failures.peek()).getOrElse("")}")

    // both idempotence watermarks advanced independently to their last
    // batch id; neither writer stole or skipped the other's sequence
    val snap = new LakeTable(tableDir).latest().get
    assert(snap.epochId == (segs - 1).toLong, s"writer A mark: ${snap.epochId}")
    assert(snap.watermark("ingest-b") == (segs - 1).toLong,
      s"writer B mark: ${snap.watermark("ingest-b")}")

    // merged state == union of the two independent single-source folds
    val wantA = Oracle.fold(spark, ChangeLogGen.events(spark, cfg).drop("delivery"))
    val wantB = Oracle.fold(spark, ChangeLogGen.events(spark, cfg).drop("delivery")
      .withColumn("repo", concat(lit("b~"), col("repo"))))
    assertSameState(new LakeTable(tableDir).read(spark), wantA.unionByName(wantB))
  }
}
