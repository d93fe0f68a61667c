package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._

/** The kitchen-sink integration run: ONE checkpointed streaming tail
  * with EVERY operational feature enabled simultaneously — async
  * audit, dead-letter quarantine, mid-stream per-bucket compaction,
  * adaptive salting — over a log that spans all four schema eras and
  * contains an injected POISON segment and an adversarial KEY-FLOOD
  * segment. The features are individually spec'd elsewhere; this suite
  * asserts they compose: no feature corrupts another's invariant when
  * all run in the same tail.
  */
class EndToEndSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("everything-on tail: audit + DLQ + compaction + adaptive + evolution, exact state") {
    val cfg = GenConfig(numEvents = 20000L, numRepos = 30L, pathsPerRepo = 10L)
    val dir = TestSpark.tmpDir("graft-e2e")
    val segs = 6
    Pipeline.writeLogSegments(spark, cfg, s"$dir/log", segs)

    // poison: three unknown-op rows on FRESH keys at top LSNs appended
    // to segment 2 — they survive the per-key reduce and must land in
    // quarantine without stalling the stream
    val ts = new java.sql.Timestamp(1700100000000L)
    val poison = Seq(
      ("Z", 900001L, ts, 1, "org/poison", "p0", null: String, """{"x":1}"""),
      ("Z", 900002L, ts, 1, "org/poison", "p1", null: String, """{"x":2}"""),
      ("Z", 900003L, ts, 1, "org/poison", "p2", null: String, """{"x":3}"""))
      .toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
    // NB epoch ids here are ADMISSION-ordered, not segment-numbered:
    // the file source admits by modification time, and the two
    // rewritten segments carry the newest mtimes — the actual order is
    // 0,1,3,4,2,5 (an out-of-order redelivery, which the engine must
    // absorb; this very reordering is what exposed the round-6
    // tombstone-resurrection bug). One file per segment keeps one
    // segment per epoch.
    val seg2 = f"$dir/log/seg-${2}%05d"
    spark.read.schema(Pipeline.envelopeSchema).parquet(seg2)
      .unionByName(poison)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$seg2.tmp")
    swap(seg2)

    // flood: collapses onto 4 hot repos — the adaptive controller must
    // be ARMED when the stream drains, so this segment must be admitted
    // LAST: pin its mtime far ahead instead of relying on rewrite order
    val seg5 = f"$dir/log/seg-${5}%05d"
    spark.read.schema(Pipeline.envelopeSchema).parquet(seg5)
      .withColumn("repo", concat(lit("org/hot-"), pmod(xxhash64(col("path")), lit(4L))))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$seg5.tmp")
    swap(seg5)
    scala.util.Using.resource(java.nio.file.Files.walk(java.nio.file.Paths.get(seg5))) { st =>
      st.iterator().forEachRemaining(p => java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 3600000L)))
    }

    val audit = new Audit(s"$dir/audit")
    val dlq = new DeadLetterQueue(s"$dir/dlq")
    // threshold sized to the fixture: the flood epoch's rows/keys ratio
    // is ~34 here (3.4k events on 4x~25 hot keys) vs ~3 on normal
    // epochs — 10 separates them cleanly
    val adaptive = new AdaptiveSalt(threshold = 10.0)
    Pipeline.runStream(spark, s"$dir/log", s"$dir/table", s"$dir/ck",
      audit = Some(audit), compactEvery = 2, dlq = Some(dlq),
      adaptive = Some(adaptive))

    // exact state: fold of everything actually delivered (the rewritten
    // segments ARE the source of truth), poison excluded
    val delivered = spark.read.schema(Pipeline.envelopeSchema)
      .parquet(s"$dir/log/seg-*")
      .filter(col("op").isin("I", "U", "D"))
    val want = Oracle.fold(spark, delivered)
    val table = new LakeTable(s"$dir/table")
    val stateCols = Seq("repo", "path", "lsn", "commit", "lang", "content", "stargazers")
    val got = table.read(spark).select(stateCols.map(col): _*)
    val w = want.select(stateCols.map(col): _*)
    val extra = got.exceptAll(w)
    val missing = w.exceptAll(got)
    val (nExtra, nMissing) = (extra.count(), missing.count())
    if (nExtra != 0 || nMissing != 0) {
      println("=== EXTRA in table (first 5):")
      extra.show(5, false)
      println("=== MISSING from table (first 5):")
      missing.show(5, false)
    }
    assert(nExtra == 0 && nMissing == 0,
      "final state diverged from the oracle fold under the everything-on tail")

    // quarantine holds exactly the poison
    val q = dlq.read(spark).select("path", "reason").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(q.toSet == Set(("p0", "unknown_op"), ("p1", "unknown_op"), ("p2", "unknown_op")),
      s"quarantine wrong: ${q.toSeq}")

    // the flood tail left the skew controller armed for the next epoch
    assert(adaptive.engaged, s"controller not armed after the flood (ratio=${adaptive.lastRatio})")
    assert(adaptive.lastRatio > adaptive.threshold)

    // stream drained every segment; compaction kept delta groups bounded
    assert(table.latest().get.epochId == (segs - 1).toLong)
    assert(table.deltaGroupCount <= 2,
      s"compaction cadence failed to bound delta groups: ${table.deltaGroupCount}")

    // lineage for every epoch, applied rows accounted
    val a = audit.read(spark)
    assert(a.select("epoch_id").distinct().count() == segs.toLong)
    assert(a.agg(sum("rows_applied")).collect()(0).getLong(0) > 0L)
  }

  private def swap(seg: String): Unit = {
    val p = java.nio.file.Paths.get(seg)
    org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$seg.tmp"), p)
  }
}
