package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._

/** The spark-submit CLI (`graft.Submit`): each operational job drives
  * the same engine surface the specs already verify — this suite pins
  * the dispatch, the flag grammar, and an end-to-end tail→compact→
  * vacuum sequence through the CLI layer only.
  */
class SubmitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("tail drains staged segments exactly-once; compact and vacuum run after") {
    val base = TestSpark.tmpDir("submit")
    val cfg = GenConfig(numEvents = 20000L, numRepos = 40L, pathsPerRepo = 15L)
    Pipeline.writeLogSegments(spark, cfg, s"$base/log", segments = 3)

    Submit.run(spark, Array("tail", s"$base/log", s"$base/t", s"$base/ckpt",
      "--audit", s"$base/audit", "--compact-every", "2"))
    val table = new LakeTable(s"$base/t")
    val want = Oracle.fold(spark, ChangeLogGen.events(spark, cfg).drop("delivery"))
    assert(table.read(spark).count() == want.count())
    assert(Oracle.digest(table.read(spark),
        Seq("repo", "path", "lsn", "content")) ==
      Oracle.digest(want, Seq("repo", "path", "lsn", "content")))

    // a rerun resumes from the checkpoint: nothing new to drain, no
    // duplicate application (same digest, same epoch high-water mark)
    val epochBefore = table.latest().get.epochId
    Submit.run(spark, Array("tail", s"$base/log", s"$base/t", s"$base/ckpt"))
    assert(table.latest().get.epochId == epochBefore)

    Submit.run(spark, Array("compact", s"$base/t", "1"))
    assert(table.deltaGroupCount == 0)
    Submit.run(spark, Array("vacuum", s"$base/t", "1", "0"))
    assert(Oracle.digest(table.read(spark),
        Seq("repo", "path", "lsn", "content")) ==
      Oracle.digest(want, Seq("repo", "path", "lsn", "content")))
  }

  test("flag grammar: bare switch, valued flag, junk rejected") {
    intercept[IllegalArgumentException](Submit.run(spark, Array.empty[String]))
    intercept[IllegalArgumentException](Submit.run(spark, Array("nonsense")))
    intercept[IllegalArgumentException](
      Submit.run(spark, Array("tail", "a", "b", "c", "stray-positional")))
    intercept[IllegalArgumentException](
      Submit.run(spark, Array("compact", "t", "2", "extra")))
  }

  test("flag hygiene + retention pass reaches base-folded tombstones") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("submit-purge")
    // misspelled flag -> rejected, not silently ignored (a typo'd
    // retention flag quietly running a no-purge sweep is an operator trap)
    val ex = intercept[IllegalArgumentException](
      Submit.run(spark, Array("compact", s"$dir/t", "--purge-tombstone-below", "5")))
    assert(ex.getMessage.contains("unknown flag"), ex.getMessage)
    // bare value-requiring flag -> usage error, not NumberFormatException
    val ex2 = intercept[IllegalArgumentException](
      Submit.run(spark, Array("compact", s"$dir/t", "--purge-tombstones-below")))
    assert(ex2.getMessage.contains("requires an integer"), ex2.getMessage)

    // a delta-threshold sweep folds a tombstone into a BASE group; the
    // retention flag must still reach it (routes to the full compact)
    val t = new graft.cdc.LakeTable(s"$dir/t", numBuckets = 2)
    val ts0 = new java.sql.Timestamp(1700000000000L)
    def row(op: String, lsn: Long) = Seq(
      ("r", "k", op, lsn, ts0,
        if (op == "D") null else s"c$lsn", "scala",
        if (op == "D") null else s"body-$lsn"))
      .toDF("repo", "path", "op", "lsn", "ts", "commit", "lang", "content")
    t.upsert(row("U", 1L), 0L, 1)
    t.upsert(row("D", 10L), 1L, 1)
    Submit.run(spark, Array("compact", s"$dir/t")) // tombstone -> base (retained)
    Submit.run(spark, Array("compact", s"$dir/t", "--purge-tombstones-below", "10"))
    // purge really removed it: a (contract-violating) late lower-LSN row
    // now wins — before the purge the tombstone would have beaten it
    t.upsert(row("U", 5L), 2L, 1)
    val k = t.read(spark).filter(org.apache.spark.sql.functions.col("path") === "k").select("lsn").collect()
    assert(k.map(_.getLong(0)).toSeq == Seq(5L),
      s"retention pass did not reach the base-folded tombstone: ${k.toSeq}")
  }

  test("tail on an empty log dir: sniff fails fast naming --layout; explicit layout proceeds") {
    val dir = TestSpark.tmpDir("submit-empty")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/log"))
    // nothing to sniff -> guessing JSON would permanently break a typed
    // producer's scans; the tail must fail fast and name the remedy
    val ex = intercept[IllegalStateException] {
      Submit.run(spark, Array("tail", s"$dir/log", s"$dir/t", s"$dir/ck"))
    }
    assert(ex.getMessage.contains("--layout"), s"remedy not named: ${ex.getMessage}")
    // an explicit layout starts, drains the (empty) dir, exits cleanly
    Submit.run(spark, Array("tail", s"$dir/log", s"$dir/t", s"$dir/ck",
      "--layout", "json"))
    assert(new graft.cdc.LakeTable(s"$dir/t").latest().isEmpty,
      "no segments -> no commits")
  }

  test("layout sniff reads the first segment's footer: inference's layout, no Spark job") {
    import org.apache.spark.sql.types.StructType
    val base = TestSpark.tmpDir("submit-sniff")
    val cfg = GenConfig(numEvents = 2000L, numRepos = 10L, pathsPerRepo = 5L)
    Seq(false, true).foreach { typedPayload =>
      val log = s"$base/log-$typedPayload"
      Pipeline.writeLogSegments(spark, cfg, log, segments = 2, typedPayload = typedPayload)
      // runStream's pattern and replaySegments' first segment
      Seq(s"$log/seg-*", s"$log/seg-00000").foreach { p =>
        val inferred = spark.read.parquet(p).schema("after").dataType.isInstanceOf[StructType]
        val (sniffed, jobs) = TestSpark.jobsDuring(Pipeline.typedLayout(spark, p))
        assert(inferred == typedPayload && sniffed.contains(inferred), p)
        assert(jobs == 0, s"$p: $jobs jobs")
      }
    }
    assert(Pipeline.typedLayout(spark, s"$base/none/seg-*").isEmpty)
  }
}
