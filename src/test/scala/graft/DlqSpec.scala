package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.{Apply, DeadLetterQueue, LakeTable}

/** Dead-letter queue: poison pills are quarantined with their raw
  * envelope + reason, the stream keeps moving, the lake never sees
  * them, and the quarantine set is epoch-idempotent.
  */
class DlqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i)
  private def json(i: Int) =
    s"""{"commit":"c$i","lang":"en","content":"body$i"}"""

  test("poison pills quarantined with reasons; clean rows applied; replay idempotent") {
    val base = TestSpark.tmpDir("graft-dlq")
    val table = new LakeTable(s"$base/table")
    val dlq = new DeadLetterQueue(s"$base/dlq")
    val rows = Seq(
      // clean key
      ("U", 1L, ts(1), 1, "r1", "pA", null: String, json(1)),
      // malformed payload at the key's HIGHEST lsn -> whole key quarantined
      ("U", 2L, ts(2), 1, "r1", "pB", null: String, json(2)),
      ("U", 3L, ts(3), 1, "r1", "pB", null: String, "{not json"),
      // poisoned event DISPLACED by a higher clean lsn -> invisible
      ("U", 4L, ts(4), 1, "r1", "pC", null: String, "also-garbage"),
      ("U", 5L, ts(5), 1, "r1", "pC", null: String, json(5)),
      // unknown op
      ("X", 6L, ts(6), 1, "r1", "pD", null: String, json(6)),
      // null key
      ("U", 7L, ts(7), 1, "r1", null: String, null: String, json(7)))
    val env = rows.toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")

    val st = Apply.applyEpoch(spark, table, env, 0L, dlq = Some(dlq))
    assert(st.committed)

    val state = table.read(spark).select("path", "lsn", "content").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(state == Map("pA" -> (1L, "body1"), "pC" -> (5L, "body5")),
      s"lake state wrong: $state")

    val q = dlq.read(spark).select("path", "lsn", "after", "reason", "epoch").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(q.toSet == Set(
      ("pB", 3L, "{not json", "malformed_payload", 0L),
      ("pD", 6L, json(6), "unknown_op", 0L),
      (null, 7L, json(7), "null_key", 0L)), s"dlq contents wrong: ${q.toSeq}")

    // the committed high-water mark is the max APPLIED lsn (5, pC):
    // the quarantined events at lsn 6/7 were never applied, so they
    // must not advance it — otherwise late_events miscounts and a
    // tombstone purge at `maxLsn - bound` can run while the poison
    // rows still wait in the DLQ for replay
    assert(table.latest().get.maxLsn == 5L,
      s"maxLsn must not include quarantined lsns: ${table.latest().get.maxLsn}")

    // idempotent replay of the committed epoch: no table change, no dup
    // quarantine rows, and the skip happens before any quarantine write
    val st2 = Apply.applyEpoch(spark, table, env, 0L, dlq = Some(dlq))
    assert(!st2.committed)
    assert(dlq.read(spark).count() == 3)
    assert(table.read(spark).count() == 2)
  }

  test("typed (struct) payload: op/key integrity still enforced, after stored as JSON") {
    val base = TestSpark.tmpDir("graft-dlq-t")
    val table = new LakeTable(s"$base/table")
    val dlq = new DeadLetterQueue(s"$base/dlq")
    val rows = Seq(
      ("U", 1L, ts(1), 1, "r1", "pA", ("c1", "en", "body1")),
      ("Z", 2L, ts(2), 1, "r1", "pB", ("c2", "en", "body2")))
    val env = rows.toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "payload")
      .withColumn("before", lit(null).cast("string"))
      .withColumn("after", struct(
        col("payload._1").as("commit"), col("payload._2").as("lang"),
        col("payload._3").as("content")))
      .drop("payload")

    val st = Apply.applyEpoch(spark, table, env, 0L, dlq = Some(dlq))
    assert(st.committed)
    assert(table.read(spark).count() == 1)
    val q = dlq.read(spark).select("path", "after", "reason").collect()
    assert(q.length == 1 && q(0).getString(2) == "unknown_op")
    // canonical JSON string whatever the envelope layout
    assert(q(0).getString(1).contains(""""content":"body2""""))
  }

  test("clean epochs with a DLQ: nothing cached, no epoch= directory") {
    val base = TestSpark.tmpDir("graft-dlq-clean")
    val table = new LakeTable(s"$base/table")
    val dlq = new DeadLetterQueue(s"$base/dlq")
    val env = (1 to 20).map(i => ("U", i.toLong, ts(i), 1, s"r${i % 3}", s"p$i", null: String, json(i)))
      .toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
    def persisted() = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted()
    // sampled between the data write and the commit, where a cached
    // classification frame would still be alive
    var duringWrite = Set.empty[Int]
    LakeTable.failpoint = name => if (name == "upsert.after-write") duringWrite = persisted().toSet
    val (st, empty) =
      try (Apply.applyEpoch(spark, table, env, 0L, dlq = Some(dlq)),
        Apply.applyEpoch(spark, table, env.limit(0), 1L, dlq = Some(dlq)))
      finally LakeTable.failpoint = _ => ()
    assert(st.committed && st.appliedKeys == 20L)
    assert(empty.committed && empty.appliedKeys == 0L)
    assert(duringWrite == before.toSet && persisted() == before,
      s"apply cached a frame: before=$before during=$duringWrite after=${persisted()}")
    val dlqRoot = java.nio.file.Paths.get(s"$base/dlq")
    val epochDirs =
      if (!java.nio.file.Files.isDirectory(dlqRoot)) Nil
      else scala.util.Using.resource(java.nio.file.Files.list(dlqRoot)) { st =>
        st.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("epoch=")).toList
      }
    assert(epochDirs.isEmpty, s"clean epochs created quarantine dirs: $epochDirs")
    assert(table.read(spark).count() == 20L)
  }

  test("no DLQ configured: behavior unchanged, nothing written anywhere") {
    val base = TestSpark.tmpDir("graft-dlq-off")
    val table = new LakeTable(s"$base/table")
    val env = Seq(("U", 1L, ts(1), 1, "r1", "pA", null: String, json(1)))
      .toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
    Apply.applyEpoch(spark, table, env, 0L)
    assert(table.read(spark).count() == 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$base/dlq")))
  }

  test("empty quarantine set: read() returns the empty frame with the schema") {
    val dlq = new DeadLetterQueue(TestSpark.tmpDir("graft-dlq-e") + "/dlq")
    val df = dlq.read(spark)
    assert(df.isEmpty)
    assert(df.columns.toSeq ==
      Seq("repo", "path", "op", "lsn", "ts", "schemaVersion", "after", "reason", "epoch"))
  }

  test("replay requeues fixed rows as a fresh epoch; LWW never clobbers; unfixables stay") {
    val base = TestSpark.tmpDir("graft-dlq-r")
    val table = new LakeTable(s"$base/table")
    val dlq = new DeadLetterQueue(s"$base/dlq")
    // epoch 0: clean pA; malformed pB; null-key (permanently unreplayable)
    val e0 = Seq(
      ("U", 1L, ts(1), 1, "r1", "pA", null: String, json(1)),
      ("U", 2L, ts(2), 1, "r1", "pB", null: String, "{broken"),
      ("U", 3L, ts(3), 1, "r1", null: String, null: String, json(3)))
      .toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
    // epoch 1: unknown-op pC at lsn 4; then a CLEAN higher-LSN pC update
    // lands in epoch 2 — the replayed (fixed) lsn-4 row must NOT clobber
    val e1 = Seq(("X", 4L, ts(4), 1, "r1", "pC", null: String, json(4)))
      .toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
    val e2 = Seq(("U", 9L, ts(9), 1, "r1", "pC", null: String, json(9)))
      .toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
    Seq(e0, e1, e2).zipWithIndex.foreach { case (env, e) =>
      Apply.applyEpoch(spark, table, env, e.toLong, dlq = Some(dlq))
    }
    assert(dlq.read(spark).count() == 3)
    assert(table.latest().get.epochId == 2L)

    // the Debezium flow: the operator edits the quarantined records in
    // place — pB's JSON repaired, pC's op corrected — and resubmits
    def fixPartition(epoch: Long)(fix: org.apache.spark.sql.Row => (String, String)): Unit = {
      val dir = s"$base/dlq/epoch=$epoch"
      val rows = spark.read.parquet(dir).collect().toSeq
      val fixed = rows.map { r =>
        val (op, after) = fix(r)
        (r.getString(0), r.getString(1), op, r.getLong(3), r.getTimestamp(4),
          r.getInt(5), after, r.getString(7))
      }
      fixed.toDF("repo", "path", "op", "lsn", "ts", "schemaVersion", "after", "reason")
        .coalesce(1).write.mode("overwrite").parquet(dir)
    }
    fixPartition(0L) { r =>
      (r.getString(2), if (r.getString(1) == "pB") json(2) else r.getString(6))
    }
    fixPartition(1L)(r => ("U", r.getString(6)))

    val res = dlq.replay(spark, table)
    assert(res.applied == 2L, s"expected 2 requeued keys, got $res")
    assert(res.remaining == 1L, s"null-key row must stay quarantined: $res")
    // the replay's epoch lives in ITS OWN writer namespace — it must
    // NOT advance the stream's high-water mark (that would make the
    // stream's next batch id look already-applied and silently drop it)
    assert(res.epoch.contains(0L), s"first replay epoch in its own namespace: $res")
    assert(table.latest().get.epochId == 2L,
      "replay must not advance the default writer's epoch high-water mark")
    assert(table.latest().get.watermark(dlq.ReplayWriter) == 0L)

    val state = table.read(spark).select("path", "lsn", "content").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(state == Map(
      "pA" -> (1L, "body1"),
      "pB" -> (2L, "body2"),       // requeued fix applied
      "pC" -> (9L, "body9")),      // old-LSN requeue LOSES the LWW — no clobber
      s"lake state wrong after replay: $state")

    // pruning: epoch 1 emptied (directory gone), epoch 0 keeps only the
    // null-key row
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$base/dlq/epoch=1")))
    val left = dlq.read(spark).collect()
    assert(left.length == 1 && left(0).getString(7) == "null_key")

    // the STREAM's next batch id still applies after the replay commit
    // (the collision this namespace exists to prevent)
    val e3 = Seq(("U", 12L, ts(12), 1, "r1", "pD", null: String, json(12)))
      .toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
    val st3 = Apply.applyEpoch(spark, table, e3, 3L, dlq = Some(dlq))
    assert(st3.committed, "stream batch 3 must not be skipped after a replay commit")
    assert(table.read(spark).count() == 4)

    // replay is idempotent once drained of fixables
    val res2 = dlq.replay(spark, table)
    assert(res2.applied == 0L && res2.remaining == 1L && res2.epoch.isEmpty)
    assert(table.latest().get.epochId == 3L)
  }

  test("poison FLOOD: replay refuses to driver-materialize above maxDriverRows") {
    val base = TestSpark.tmpDir("graft-dlq-flood")
    val table = new LakeTable(s"$base/table")
    val dlq = new DeadLetterQueue(s"$base/dlq")
    // a classifier-bug-shaped flood: EVERY row of the epoch is poisoned
    // (unknown op), 500 rows — far beyond the rare-row contract
    val flood = (0 until 500).map(i =>
      ("Z", i.toLong, ts(i), 1, "r1", s"p$i", null: String, json(i)))
      .toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
    Apply.applyEpoch(spark, table, flood, 0L, dlq = Some(dlq))
    assert(dlq.read(spark).count() == 500)
    // still-poisoned count exceeds the bound -> refuse BEFORE collecting
    val ex = intercept[IllegalStateException] {
      dlq.replay(spark, table, maxDriverRows = 100L)
    }
    assert(ex.getMessage.contains("maxDriverRows"),
      s"error must name the knob: ${ex.getMessage}")
    // nothing was applied or pruned by the refused replay
    assert(dlq.read(spark).count() == 500)
    assert(table.latest().forall(_.writerEpochs.isEmpty))
    // a deliberately raised bound proceeds (rows stay quarantined — they
    // are still poisoned — but the path is exercised end-to-end)
    val res = dlq.replay(spark, table, maxDriverRows = 1000L)
    assert(res.applied == 0L && res.remaining == 500L)
  }

  test("writer namespaces are independent: a side-channel commit shifts only its own watermark") {
    val base = TestSpark.tmpDir("graft-dlq-ns")
    val table = new LakeTable(s"$base/table")
    val env = Seq(("U", 1L, ts(1), 1, "r1", "pA", null: String, json(1)))
      .toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
    // default-writer epochs 0..1
    Apply.applyEpoch(spark, table, env, 0L)
    Apply.applyEpoch(spark, table, env, 1L)
    // a side-channel writer commits ITS epoch 0 and 1; replays of both
    // skip idempotently; the default writer's mark is untouched
    assert(Apply.applyEpoch(spark, table, env, 0L, writer = "side").committed)
    assert(!Apply.applyEpoch(spark, table, env, 0L, writer = "side").committed)
    assert(Apply.applyEpoch(spark, table, env, 1L, writer = "side").committed)
    val s = table.latest().get
    assert(s.epochId == 1L && s.watermark("side") == 1L)
    // the default writer's next batch still applies, and the side
    // writer's watermark survives it AND a compaction
    assert(Apply.applyEpoch(spark, table, env, 2L).committed)
    table.compactBuckets(spark, minDeltas = 1)
    val s2 = table.latest().get
    assert(s2.epochId == 2L && s2.watermark("side") == 1L,
      s"watermarks must survive default-writer commits and compaction: $s2")
  }
}
