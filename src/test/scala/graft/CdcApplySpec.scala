package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.Graft._
import graft.cdc._

/** Golden-state suites for the CDC apply path (SURVEY.md §5): the
  * distributed apply must equal the independent driver-side oracle fold
  * row-for-row under duplicates, disorder, deletes and epoch chunking.
  */
class CdcApplySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val cfg = GenConfig(numEvents = 20000L, numRepos = 40L, pathsPerRepo = 15L)

  def finalState(epochs: Int, adaptive: Option[AdaptiveSalt] = None): (DataFrame, String) = {
    val dir = TestSpark.tmpDir("cdc-apply")
    Pipeline.runBatchEpochs(spark, cfg, s"$dir/t", epochs, adaptive = adaptive)
    (new LakeTable(s"$dir/t").read(spark), dir)
  }

  /** A controller at threshold 0 engages after the first committed
    * epoch, so every later epoch takes the salted reduce. */
  def alwaysSalt(): AdaptiveSalt = new AdaptiveSalt(0.0)

  val stateCols = Seq("repo", "path", "lsn", "commit", "lang", "content", "stargazers")

  def assertSameState(got: DataFrame, want: DataFrame): Unit = {
    val g = got.select(stateCols.map(col): _*)
    val w = want.select(stateCols.map(col): _*)
    val extra = g.exceptAll(w).count()
    val missing = w.exceptAll(g).count()
    assert(extra == 0 && missing == 0,
      s"state mismatch: $extra unexpected rows, $missing missing rows")
  }

  test("generator is deterministic and injects duplicates") {
    val a = ChangeLogGen.events(spark, cfg)
    val d1 = Oracle.digest(a.drop("delivery"), Seq("op", "lsn", "repo", "path", "after"))
    val d2 = Oracle.digest(ChangeLogGen.events(spark, cfg).drop("delivery"),
      Seq("op", "lsn", "repo", "path", "after"))
    assert(d1 == d2)
    val phys = a.count()
    val logical = a.select("lsn").distinct().count()
    assert(phys > logical, "duplicate redeliveries must exist")
  }

  test("generator skews repos (Zipf hot keys)") {
    val byRepo = ChangeLogGen.events(spark, cfg)
      .groupBy("repo").count().orderBy(col("count").desc).limit(1).collect()
    val hot = byRepo(0).getLong(1).toDouble
    val mean = ChangeLogGen.physicalRows(cfg).toDouble / cfg.numRepos
    assert(hot > 5 * mean, s"hottest repo $hot should be >> mean $mean")
  }

  test("single-epoch apply matches oracle fold") {
    val (got, _) = finalState(epochs = 1)
    val want = Oracle.fold(spark, ChangeLogGen.events(spark, cfg).drop("delivery"))
    assertSameState(got, want)
  }

  test("multi-epoch out-of-order apply matches oracle (late-arrival guard)") {
    val (got, _) = finalState(epochs = 7)
    val want = Oracle.fold(spark, ChangeLogGen.events(spark, cfg).drop("delivery"))
    assertSameState(got, want)
  }

  test("salted reduce is semantics-preserving") {
    val ctl = alwaysSalt()
    val (got, _) = finalState(epochs = 3, adaptive = Some(ctl))
    assert(ctl.engaged, s"epochs 1 and 2 must run salted (ratio=${ctl.lastRatio})")
    val want = Oracle.fold(spark, ChangeLogGen.events(spark, cfg).drop("delivery"))
    assertSameState(got, want)
  }

  test("adversarial single-hot-key flood: salted ≡ unsalted ≡ oracle") {
    // every event hits ONE key — the worst case the salted two-stage
    // reduce exists for (north-rule skew handling)
    val hot = GenConfig(numEvents = 30000L, numRepos = 1L, pathsPerRepo = 1L)
    def state(salted: Boolean) = {
      val dir = TestSpark.tmpDir("cdc-hot")
      val ctl = if (salted) Some(alwaysSalt()) else None
      Pipeline.runBatchEpochs(spark, hot, s"$dir/t", 3, adaptive = ctl)
      assert(ctl.forall(_.engaged), "salted run: the controller must engage")
      new LakeTable(s"$dir/t").read(spark).select(stateCols.map(col): _*)
    }
    val want = Oracle.fold(spark, ChangeLogGen.events(spark, hot).drop("delivery"))
      .select(stateCols.map(col): _*)
    Seq(true, false).foreach { s =>
      val got = state(s)
      assert(got.count() <= 10L) // path has a 10-way dir component
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        s"salted=$s hot-key state mismatch")
    }
  }

  test("epoch re-commit is idempotent (exactly-once)") {
    val dir = TestSpark.tmpDir("cdc-idem")
    val table = new LakeTable(s"$dir/t")
    val log = Pipeline.withEpoch(ChangeLogGen.events(spark, cfg), cfg, 3)
    (0 until 3).foreach { e =>
      val batch = log.filter(col("epoch") === e.toLong).drop("delivery", "epoch")
      Apply.applyEpoch(spark, table, batch, e.toLong)
    }
    val before = Oracle.digest(table.read(spark), stateCols)
    // replay epoch 1 (duplicate redelivery of a whole epoch)
    val replay = log.filter(col("epoch") === 1L).drop("delivery", "epoch")
    val stats = Apply.applyEpoch(spark, table, replay, 1L)
    assert(!stats.committed, "replayed epoch must be skipped")
    assert(Oracle.digest(table.read(spark), stateCols) == before)
  }

  test("one epoch starts only its write pipeline's jobs: no schema-era probe") {
    import spark.implicits._
    val table = new LakeTable(TestSpark.tmpDir("cdc-epoch-jobs"), numBuckets = 4)
    val ts = new java.sql.Timestamp(1700000000000L)
    // labels from every era: the write schema does not depend on them
    val batch = (0 until 24).map(i => ("U", i.toLong, ts, 1 + i % 4, s"r${i % 3}", s"p${i % 12}",
      null: String, s"""{"commit":"c$i","lang":"en","content":"b$i"}"""))
      .toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
    val (st, jobs) = TestSpark.jobsDuring(Apply.applyEpoch(spark, table, batch, 0L))
    assert(st.committed && st.inputRows == 24L && st.appliedKeys == 12L)
    assert(table.latest().get.groups.map(_.schemaVersion) == Seq(SchemaRegistry.maxVersion))
    assert(jobs == 3, s"$jobs jobs for one epoch: scan -> reduce -> bucketed write")
  }

  test("deletes remove keys from final state") {
    val (got, _) = finalState(epochs = 2)
    // any key whose max-lsn event is D must be absent
    val log = ChangeLogGen.events(spark, cfg)
    val lastOps = log.groupBy("repo", "path").agg(max_by(col("op"), col("lsn")).as("last_op"))
    val deleted = lastOps.filter(col("last_op") === "D")
    assert(deleted.count() > 0, "test needs some tombstoned keys")
    val present = got.join(deleted, Seq("repo", "path"), "left_semi").count()
    assert(present == 0, s"$present deleted keys still present")
  }

  test("result is shuffle-partition-count invariant (rank-invariance analogue)") {
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    val (got8, _) = finalState(epochs = 3)
    val d8 = Oracle.digest(got8, stateCols)
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try {
      val (got3, _) = finalState(epochs = 3)
      assert(Oracle.digest(got3, stateCols) == d8)
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  test("compaction preserves state and collapses delta groups") {
    val dir = TestSpark.tmpDir("cdc-compact")
    Pipeline.runBatchEpochs(spark, cfg, s"$dir/t", epochs = 5)
    val table = new LakeTable(s"$dir/t")
    val before = Oracle.digest(table.read(spark), stateCols)
    assert(table.deltaGroupCount == 5)
    table.compact(spark)
    assert(table.deltaGroupCount == 0)
    assert(Oracle.digest(table.read(spark), stateCols) == before)
  }

  test("time travel + snapshot expiry (vacuum)") {
    val dir = TestSpark.tmpDir("cdc-tt")
    Pipeline.runBatchEpochs(spark, cfg, s"$dir/t", epochs = 4)
    val table = new LakeTable(s"$dir/t")
    val head = table.latest().get.version
    // state at an earlier snapshot is a strict prefix of the log
    val early = table.readVersion(spark, head - 2).count()
    val full = table.read(spark).count()
    assert(early > 0 && early < full, s"early=$early full=$full")
    // vacuum: compact, keep only the newest snapshot, state unchanged
    val digest = Oracle.digest(table.read(spark), stateCols)
    table.compact(spark)
    table.expireSnapshots(keep = 1, graceMs = 0L)
    assert(Oracle.digest(table.read(spark), stateCols) == digest)
    assert(table.snapshotAt(head - 2).isEmpty, "expired snapshot must be gone")
    // only the compacted base group's data remains on disk
    val dataDirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$dir/t/data")).count()
    assert(dataDirs == 1, s"expected 1 surviving group dir, got $dataDirs")
  }

  test("incremental change read returns exactly the range's deltas") {
    val dir = TestSpark.tmpDir("cdc-incr")
    Pipeline.runBatchEpochs(spark, cfg, s"$dir/t", epochs = 4)
    val table = new LakeTable(s"$dir/t")
    val head = table.latest().get.version
    // changes in (head-2, head] = the rows the last two epochs applied:
    // replaying them over the state AT head-2 must reproduce head state
    val changes = table.readChanges(spark, head - 2, head)
    assert(changes.count() > 0)
    assert(changes.columns.contains("op"), "tombstones must ride along")
    val replayed = table.readVersion(spark, head - 2)
      .withColumn("op", lit("U"))
      .unionByName(changes)
      .lastWriterWins(Seq("repo", "path"), col("lsn"))
      .filter(col("op") =!= "D").drop("op")
    assert(Oracle.digest(replayed, stateCols) ==
      Oracle.digest(table.read(spark), stateCols))
    // empty range is empty, same schema as a read
    assert(table.readChanges(spark, head, head).count() == 0)
    // a compaction in the range breaks per-epoch deltas -> must refuse
    table.compact(spark)
    intercept[IllegalStateException] {
      table.readChanges(spark, head - 1, table.latest().get.version).collect()
    }
  }

  test("audit lineage rows cover the full LSN range") {
    val dir = TestSpark.tmpDir("cdc-audit")
    val audit = new Audit(s"$dir/audit")
    Pipeline.runBatchEpochs(spark, cfg, s"$dir/t", epochs = 4, audit = Some(audit))
    val rows = audit.read(spark)
    assert(rows.select("epoch_id").distinct().count() == 4)
    val r = rows.agg(min("source_min_lsn"), max("source_max_lsn"), sum("rows_applied")).collect()(0)
    assert(r.getLong(0) == 0L, s"source range must start at lsn 0, got ${r.getLong(0)}")
    assert(r.getLong(1) >= cfg.numEvents - 2, s"max source lsn ${r.getLong(1)}")
    assert(rows.filter(col("snapshot_version") < 0).count() == 0)
    // per-bucket applied rows are the LWW survivors: bounded by input
    assert(r.getLong(2) > 0 && r.getLong(2) <= ChangeLogGen.physicalRows(cfg))
  }

  test("footer-derived audit lineage equals a scan of each epoch's group, empty epoch included") {
    val dir = TestSpark.tmpDir("cdc-audit-footer")
    val table = new LakeTable(s"$dir/t")
    val audit = new Audit(s"$dir/audit")
    val all = Pipeline.withEpoch(ChangeLogGen.events(spark, cfg), cfg, 3)
    val bs = (0 until 3).map(e => all.filter(col("epoch") === e.toLong).drop("delivery", "epoch"))
    // epoch 1 is empty: it commits, writes no group and records nothing
    Seq(bs(0), bs(0).limit(0), bs(1), bs(2)).zipWithIndex.foreach { case (b, e) =>
      assert(Apply.applyEpoch(spark, table, b, e.toLong, Some(audit)).committed)
    }
    val rows = audit.read(spark)
    assert(rows.schema.map(f => f.name -> f.dataType.simpleString) == Seq(
      "bucket" -> "int", "min_lsn" -> "bigint", "max_lsn" -> "bigint",
      "rows_applied" -> "bigint", "epoch_id" -> "bigint", "source_min_lsn" -> "bigint",
      "source_max_lsn" -> "bigint", "source_rows" -> "bigint", "late_events" -> "bigint",
      "snapshot_version" -> "bigint", "schema_version" -> "int", "wall_ms" -> "bigint"))
    def audited(e: Long) = rows.filter(col("epoch_id") === e)
      .select("bucket", "min_lsn", "max_lsn", "rows_applied").collect().map(_.toSeq).toSet
    (1L to 4L).foreach { v =>
      val snap = table.snapshotAt(v).get
      val prevDirs = table.snapshotAt(v - 1).map(_.groups.map(_.dir)).getOrElse(Nil)
      snap.groups.map(_.dir).filterNot(prevDirs.contains) match {
        case Seq(g) =>
          val groupDir = s"${table.root}/$g"
          assert(ParquetStats.bucketRanges(spark, groupDir, "lsn").isDefined,
            "delta footers carry lsn statistics")
          val scanned = spark.read.parquet(groupDir).groupBy(col("bucket"))
            .agg(min(col("lsn")), max(col("lsn")), count(lit(1)))
            .collect().map(_.toSeq).toSet
          assert(audited(snap.epochId) == scanned, s"epoch ${snap.epochId}")
        case Seq() =>
          assert(snap.epochId == 1L)
          assert(audited(snap.epochId).isEmpty, "an empty epoch must record no lineage")
        case more => fail(s"one epoch appended ${more.size} groups")
      }
    }
    // an unreadable footer answers None, so the lineage scans instead
    val garbage = java.nio.file.Paths.get(dir, "garbage", "bucket=0", "part-0.parquet")
    java.nio.file.Files.createDirectories(garbage.getParent)
    java.nio.file.Files.write(garbage, "not parquet".getBytes("UTF-8"))
    assert(ParquetStats.bucketRanges(spark, s"$dir/garbage", "lsn").isEmpty)
  }

  test("late arrivals are counted per epoch (and absent when in order)") {
    // disordered source chunked into epochs -> some events land in a
    // later epoch than their LSN: late_events > 0 somewhere
    val dir = TestSpark.tmpDir("cdc-late")
    val audit = new Audit(s"$dir/audit")
    Pipeline.runBatchEpochs(spark, cfg, s"$dir/t", epochs = 6, audit = Some(audit))
    val late = audit.read(spark)
      .select("epoch_id", "late_events").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(late(0L) == 0L, "first epoch has no prior high-water mark")
    assert(late.values.sum > 0, s"disordered log must produce late arrivals: $late")

    // in-order source -> zero late everywhere
    val dir2 = TestSpark.tmpDir("cdc-late0")
    val audit2 = new Audit(s"$dir2/audit")
    Pipeline.runBatchEpochs(spark,
      cfg.copy(disorderWindow = 0L, dupEvery = 0L), s"$dir2/t", epochs = 4,
      audit = Some(audit2))
    assert(audit2.read(spark).filter(col("late_events") =!= 0L).count() == 0)
  }

  test("adaptive salting: a single-key flood trips the controller next epoch; digest unchanged") {
    val hot = GenConfig(numEvents = 30000L, numRepos = 1L, pathsPerRepo = 1L)
    val ctl = new AdaptiveSalt() // default threshold 256 rows/key
    val dir = TestSpark.tmpDir("cdc-adapt")
    assert(!ctl.engaged, "controller must start disengaged")
    Pipeline.runBatchEpochs(spark, hot, s"$dir/t", epochs = 3, adaptive = Some(ctl))
    // one key flooded every epoch -> ratio ~ rows_in_batch >> threshold
    assert(ctl.engaged, s"flood must engage salting (ratio=${ctl.lastRatio})")
    assert(ctl.lastRatio > 1000.0, s"ratio=${ctl.lastRatio}")
    val want = Oracle.fold(spark, ChangeLogGen.events(spark, hot).drop("delivery"))
    assertSameState(new LakeTable(s"$dir/t").read(spark), want)

    // a well-distributed log (~12 rows/key) must NOT engage it
    val ctl2 = new AdaptiveSalt()
    val dir2 = TestSpark.tmpDir("cdc-adapt2")
    Pipeline.runBatchEpochs(spark, cfg, s"$dir2/t", epochs = 2, adaptive = Some(ctl2))
    assert(!ctl2.engaged, s"uniform load must stay unsalted (ratio=${ctl2.lastRatio})")
    assert(ctl2.lastRatio > 0.0, "signal must have been observed")
    assertSameState(new LakeTable(s"$dir2/t").read(spark),
      Oracle.fold(spark, ChangeLogGen.events(spark, cfg).drop("delivery")))
  }

  test("typed-payload segments replay equals JSON replay, with NO json parse") {
    val dir = TestSpark.tmpDir("cdc-typed")
    Pipeline.writeLogSegments(spark, cfg, s"$dir/logJ", 4)
    Pipeline.writeLogSegments(spark, cfg, s"$dir/logT", 4, typedPayload = true)
    // segments really carry the struct layout on disk
    val seg = spark.read.parquet(s"$dir/logT/seg-00000")
    assert(seg.schema("after").dataType ==
      graft.cdc.SchemaRegistry.readSchema)
    // the typed normalize plan contains no JsonToStructs anywhere
    val typedPlan = Apply.normalize(seg.select("repo", "path", "op", "lsn", "ts", "after"))
      .queryExecution.optimizedPlan.toString
    assert(!typedPlan.contains("from_json"), s"typed path must not parse JSON:\n$typedPlan")
    // end-to-end: identical final state either way (digest equality)
    Pipeline.replaySegments(spark, s"$dir/logJ", s"$dir/tJ", 4)
    Pipeline.replaySegments(spark, s"$dir/logT", s"$dir/tT", 4)
    assertSameState(
      new LakeTable(s"$dir/tT").read(spark),
      new LakeTable(s"$dir/tJ").read(spark))
  }
}
