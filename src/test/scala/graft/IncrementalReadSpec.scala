package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.{Apply, LakeTable}

/** The chain-CDC-stages guarantee: a downstream consumer that tails the
  * table via readChanges and folds the per-epoch change rows with the
  * same LWW rule must reconstruct exactly the table's full read —
  * including delete tombstones, which appear in the change feed (op='D')
  * but drop out of the reconstructed state.
  */
class IncrementalReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("union of incremental reads folds to the full read, deletes included") {
    val dir = java.nio.file.Files.createTempDirectory("graft-inc").toString
    val rows = (0 until 300).map { i =>
      val op = if (i >= 200 && i % 5 == 0) "D" else "U"
      (op, i.toLong, new java.sql.Timestamp(1700000000000L + i), 1,
        s"r${(i % 60) % 7}", s"p${i % 60}", null: String,
        if (op == "D") null
        else s"""{"commit":"c$i","lang":"en","content":"body$i"}""")
    }
    val env = rows.toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
    val table = new LakeTable(dir)
    (0 until 3).foreach(e =>
      Apply.applyEpoch(spark, table, env.filter(col("lsn") % 3 === e), e.toLong))

    // tombstones must be visible in the change feed
    val feed3 = table.readChanges(spark, 2, 3)
    assert(feed3.filter(col("op") === "D").count() > 0, "no tombstones in change feed")

    // chain: fold the three change feeds with the same LWW + tombstone
    // rule and compare against the direct full read
    val chained = (1 to 3).map(v => table.readChanges(spark, v - 1, v))
      .reduce(_.unionByName(_))
      .groupBy(col("repo"), col("path"))
      .agg(max_by(struct(col("op"), col("lsn"), col("content")), col("lsn")).as("s"))
      .filter(col("s.op") =!= "D")
      .select(col("repo"), col("path"), col("s.lsn").as("lsn"), col("s.content").as("content"))
    val full = table.read(spark).select("repo", "path", "lsn", "content")
    assert(chained.exceptAll(full).isEmpty && full.exceptAll(chained).isEmpty,
      "chained incremental reads diverge from the full read")
    // and deletes really removed keys
    assert(full.count() < 60, "expected some keys fully deleted")
  }

  test("chunked read splits at a mid-range compaction and loses no change") {
    val dir = java.nio.file.Files.createTempDirectory("graft-inc-chunk").toString
    def env(lsn0: Long) = (0 until 40).map { i =>
      ("U", lsn0 + i, new java.sql.Timestamp(1700000000000L + lsn0 + i), 1,
        s"r${i % 5}", s"p${i % 20}", null: String,
        s"""{"commit":"c${lsn0 + i}","lang":"en","content":"v${lsn0 + i}"}""")
    }.toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
    val table = new LakeTable(dir)
    Apply.applyEpoch(spark, table, env(0L), 0L) // v1
    Apply.applyEpoch(spark, table, env(100L), 1L) // v2
    table.compact(spark) // v3 — the rewrite boundary
    Apply.applyEpoch(spark, table, env(200L), 2L) // v4
    Apply.applyEpoch(spark, table, env(300L), 3L) // v5

    // the flat read refuses the compaction-crossing range...
    intercept[IllegalStateException] { table.readChanges(spark, 0, 5).collect() }
    // ...the chunked read serves both sides and names the boundary
    val chunked = table.readChangesChunked(spark, 0, 5)
    assert(chunked.ranges == Seq((0L, 2L), (3L, 5L)), s"ranges=${chunked.ranges}")
    assert(chunked.resyncVersions == Seq(3L), s"resync=${chunked.resyncVersions}")
    // compactions append no logical change: the union folds to the full
    // state (nothing lost at the boundary)
    val folded = chunked.changes
      .groupBy(col("repo"), col("path"))
      .agg(max_by(struct(col("op"), col("lsn"), col("content")), col("lsn")).as("s"))
      .filter(col("s.op") =!= "D")
      .select(col("repo"), col("path"), col("s.lsn").as("lsn"), col("s.content").as("content"))
    val full = table.read(spark).select("repo", "path", "lsn", "content")
    assert(folded.exceptAll(full).isEmpty && full.exceptAll(folded).isEmpty,
      "chunked changes diverge from the full read")

    // degenerate calls: all-inside-one-run equals the flat read; a range
    // that ends ON the boundary yields one chunk and no resync after it
    assert(table.readChangesChunked(spark, 3, 5).ranges == Seq((3L, 5L)))
    val upTo3 = table.readChangesChunked(spark, 0, 3)
    assert(upTo3.ranges == Seq((0L, 2L)) && upTo3.resyncVersions == Seq(3L))
    // empty range: empty frame, change-feed schema intact
    val empty = table.readChangesChunked(spark, 5, 5)
    assert(empty.ranges.isEmpty && empty.changes.count() == 0)
    assert(empty.changes.columns.contains("op"))
  }

  test("chunked read over a VACUUMED table: retained endpoints, expired prefix = resync") {
    val dir = java.nio.file.Files.createTempDirectory("graft-inc-vac").toString
    def env(lsn0: Long) = (0 until 40).map { i =>
      ("U", lsn0 + i, new java.sql.Timestamp(1700000000000L + lsn0 + i), 1,
        s"r${i % 5}", s"p${i % 20}", null: String,
        s"""{"commit":"c${lsn0 + i}","lang":"en","content":"v${lsn0 + i}"}""")
    }.toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
    val table = new LakeTable(dir)
    Apply.applyEpoch(spark, table, env(0L), 0L) // v1
    Apply.applyEpoch(spark, table, env(100L), 1L) // v2
    table.compact(spark) // v3 — rewrite boundary
    Apply.applyEpoch(spark, table, env(200L), 2L) // v4
    Apply.applyEpoch(spark, table, env(300L), 3L) // v5
    // vacuum the pre-compaction history: versions 1-2 expire, 3-5 retained
    table.expireSnapshots(keep = 3, graceMs = 0L)

    // the compaction+vacuum steady state is exactly what this API is
    // for: no sub-range may end at an expired version
    val chunked = table.readChangesChunked(spark, 0, 5)
    assert(chunked.ranges == Seq((3L, 5L)), s"ranges=${chunked.ranges}")
    assert(chunked.resyncVersions == Seq(3L),
      s"expired prefix must surface as a leading resync: ${chunked.resyncVersions}")
    // the readable tail really reads (the old endpoint arithmetic threw
    // here): 2 retained epochs x 20 reduced keys
    assert(chunked.changes.count() == 40)

    // a retained-to-retained range across the gap still works flat
    assert(table.readChangesChunked(spark, 3, 5).ranges == Seq((3L, 5L)))
  }

  test("a per-bucket compaction that writes no base is a rewrite boundary") {
    // every row of the hot bucket is a tombstone at or below the purge
    // horizon, so the sweep writes no base group and commits only new
    // exclusions on surviving groups — nothing is appended, yet the
    // range is not append-only
    val dir = java.nio.file.Files.createTempDirectory("graft-inc-nobase").toString
    val table = new LakeTable(dir, numBuckets = 4)
    val ts = new java.sql.Timestamp(1700000000000L)
    // one path per bucket, the table's own bucket hash
    val Seq(a, b, c) = (0 until 64).map(i => ("r", s"k$i")).toDF("repo", "path")
      .select(col("path"), pmod(xxhash64(col("repo"), col("path")), lit(4L)))
      .collect().groupBy(_.getLong(1)).values.map(_.head.getString(0)).toSeq.sorted.take(3)
    def batch(rows: (String, String, Long)*) = rows.map { case (p, op, lsn) =>
      ("r", p, op, lsn, ts, if (op == "D") null else s"c$lsn", "scala",
        if (op == "D") null else s"body$lsn")
    }.toDF("repo", "path", "op", "lsn", "ts", "commit", "lang", "content")
    table.upsert(batch((a, "U", 1L), (b, "U", 2L)), 0L, 1) // v1
    table.upsert(batch((a, "D", 10L), (c, "U", 11L)), 1L, 1) // v2
    assert(table.compactBuckets(spark, minDeltas = 2, purgeTombstonesBelowLsn = 10L).size == 1)
    val v3 = table.latest().get
    assert(v3.version == 3L && !v3.groups.exists(_.kind == "base"),
      s"fixture must compact without writing a base: $v3")

    intercept[IllegalStateException] { table.readChanges(spark, 2, 3) }
    // from the start, both groups read as appended but carry the new
    // exclusion: still a rewrite
    intercept[IllegalStateException] { table.readChanges(spark, 0, 3) }
    assert(table.readChangesChunked(spark, 2, 3).resyncVersions == Seq(3L))
    assert(table.read(spark).select("path").as[String].collect().toSet == Set(b, c))
  }

  test("polling a table with no committed snapshot yet: empty frame, not a throw") {
    val table = new LakeTable(
      java.nio.file.Files.createTempDirectory("graft-inc-empty").toString)
    val c = table.readChangesChunked(spark, 0, 0)
    assert(c.ranges.isEmpty && c.resyncVersions.isEmpty)
    assert(c.changes.isEmpty && c.changes.columns.contains("op"))
  }
}
