package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc._

/** Per-bucket incremental compaction (round-2 verdict #10 — the Iceberg
  * binpack analogue): only buckets whose live delta-group count reaches
  * the threshold are rewritten; untouched buckets' files stay
  * byte-identical on disk, the table state digest is invariant, and the
  * incremental-read contract refuses ranges that cross the compaction.
  */
class CompactionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")

  private def mkBatch(keys: Seq[(String, String)], lsn0: Long): DataFrame =
    keys.zipWithIndex.map { case ((r, p), i) =>
      (r, p, "U", lsn0 + i, ts, s"c$lsn0", "scala", s"content-$r-$lsn0")
    }.toDF("repo", "path", "op", "lsn", "ts", "commit", "lang", "content")

  private def fileInventory(root: String, dir: String): Map[String, Long] =
    scala.util.Using.resource(Files.walk(Paths.get(root, dir))) { st =>
      st.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap
    }

  private val stateCols =
    Seq("repo", "path", "lsn", "commit", "lang", "content", "stargazers")

  private def assertSameState(a: DataFrame, b: DataFrame): Unit = {
    val (ga, gb) = (a.select(stateCols.map(col): _*), b.select(stateCols.map(col): _*))
    assert(ga.exceptAll(gb).count() == 0 && gb.exceptAll(ga).count() == 0)
  }

  test("compactBuckets rewrites ONLY hot buckets; state and cold files invariant") {
    val dir = TestSpark.tmpDir("cdc-binpack")
    val table = new LakeTable(s"$dir/t", numBuckets = 8)
    val control = new LakeTable(s"$dir/control", numBuckets = 8)

    val allKeys = (0 until 64).map(i => (s"repo$i", "src/a"))
    val buckets = allKeys.toDF("repo", "path")
      .select(col("repo"), col("path"),
        pmod(xxhash64(col("repo"), col("path")), lit(8L)).as("b"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2).toInt).toMap
    val hotBucket = buckets(allKeys.head)
    val hotKeys = allKeys.filter(k => buckets(k) == hotBucket)
    assert(hotKeys.size < allKeys.size, "need cold buckets too")

    // epoch 0 touches every bucket; epochs 1..3 only the hot bucket
    for (t <- Seq(table, control)) {
      t.upsert(mkBatch(allKeys, 0L), 0L, 1)
      (1 to 3).foreach(e => t.upsert(mkBatch(hotKeys, 1000L * e), e.toLong, 1))
    }
    val sBefore = table.latest().get
    assert(sBefore.totalDeltaGroups == 4)
    val coldGroupDir = sBefore.groups.head.dir // epoch 0: the only group with cold buckets
    val coldInventoryBefore = fileInventory(table.root, coldGroupDir)

    // hot bucket has 4 live delta groups, cold buckets 1 -> threshold 3
    // must compact exactly the hot bucket
    val compacted = table.compactBuckets(spark, minDeltas = 3)
    assert(compacted == Set(hotBucket), s"expected {$hotBucket}, got $compacted")

    val sAfter = table.latest().get
    // epoch-0 group survives with the hot bucket excluded; the
    // hot-only epoch groups are fully superseded and drop out
    assert(sAfter.groups.count(_.kind == "delta") == 1)
    val keptDelta = sAfter.groups.find(_.kind == "delta").get
    assert(keptDelta.dir == coldGroupDir)
    assert(keptDelta.excludedBuckets == Set(hotBucket))
    // the new base group holds ONLY the hot bucket's partitions
    val base = sAfter.groups.find(_.kind == "base").get
    val baseBuckets = scala.util.Using.resource(Files.list(Paths.get(table.root, base.dir))) {
      _.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("bucket=")).toSet
    }
    assert(baseBuckets == Set(s"bucket=$hotBucket"))
    // untouched (cold) files byte-identical: same paths, same mtimes
    assert(fileInventory(table.root, coldGroupDir) == coldInventoryBefore,
      "per-bucket compaction must not rewrite cold buckets' files")

    // state digest invariant vs the uncompacted control table
    assertSameState(table.read(spark), control.read(spark))

    // idempotence: nothing left above threshold -> no-op, no snapshot
    assert(table.compactBuckets(spark, minDeltas = 3).isEmpty)
    assert(table.latest().get.version == sAfter.version)

    // incremental reads must refuse ranges crossing the compaction
    intercept[IllegalStateException] {
      table.readChanges(spark, sBefore.version - 1, sAfter.version)
    }

    // new epochs keep flowing after the partial compaction
    table.upsert(mkBatch(hotKeys, 9000L), 4L, 1)
    control.upsert(mkBatch(hotKeys, 9000L), 4L, 1)
    assertSameState(table.read(spark), control.read(spark))
  }

  test("tombstones survive compaction and rebucket: a late lower-LSN row cannot resurrect a deleted key") {
    // the round-6 EndToEndSpec bug shape, minimized: delete at lsn 10,
    // compaction folds, then a LATE update at lsn 5 arrives (bounded
    // disorder / DLQ replay / out-of-order multi-writer epoch). If the
    // sweep dropped the tombstone, the late row wins the reconstruction
    // and the deleted key comes back from the dead.
    def lateRow(lsn: Long) = Seq(("r", "k", "U", lsn, ts, s"c$lsn", "scala", s"late-$lsn"))
      .toDF("repo", "path", "op", "lsn", "ts", "commit", "lang", "content")
    def delRow(lsn: Long) = Seq(("r", "k", "D", lsn, ts, null: String, null: String, null: String))
      .toDF("repo", "path", "op", "lsn", "ts", "commit", "lang", "content")

    // full compact()
    val d1 = TestSpark.tmpDir("cdc-tomb1") + "/t"
    val t1 = new LakeTable(d1, numBuckets = 4)
    t1.upsert(lateRow(1L), 0L, 1)
    t1.upsert(delRow(10L), 1L, 1)
    t1.compact(spark)
    t1.upsert(lateRow(5L), 2L, 1)
    assert(t1.read(spark).filter(col("path") === "k").isEmpty,
      "full compact dropped the tombstone: late lsn-5 row resurrected the key")

    // per-bucket compactBuckets()
    val d2 = TestSpark.tmpDir("cdc-tomb2") + "/t"
    val t2 = new LakeTable(d2, numBuckets = 4)
    t2.upsert(lateRow(1L), 0L, 1)
    t2.upsert(delRow(10L), 1L, 1)
    assert(t2.compactBuckets(spark, minDeltas = 1).nonEmpty)
    t2.upsert(lateRow(5L), 2L, 1)
    assert(t2.read(spark).filter(col("path") === "k").isEmpty,
      "bucket sweep dropped the tombstone: late lsn-5 row resurrected the key")

    // online rebucket migration
    val d3 = TestSpark.tmpDir("cdc-tomb3") + "/t"
    val t3 = new LakeTable(d3, numBuckets = 4)
    t3.upsert(lateRow(1L), 0L, 1)
    t3.upsert(delRow(10L), 1L, 1)
    assert(t3.rebucket(spark, 8))
    t3.upsert(lateRow(5L), 2L, 1)
    assert(t3.read(spark).filter(col("path") === "k").isEmpty,
      "rebucket dropped the tombstone: late lsn-5 row resurrected the key")

    // the EXPLICIT purge horizon is the operator's contract: at or
    // below it, nothing older can arrive, so the tombstone may go —
    // and a (contract-violating) later row at lsn 5 then wins, which
    // is exactly what opting into the purge means
    val d4 = TestSpark.tmpDir("cdc-tomb4") + "/t"
    val t4 = new LakeTable(d4, numBuckets = 4)
    t4.upsert(lateRow(1L), 0L, 1)
    t4.upsert(delRow(10L), 1L, 1)
    t4.compactBuckets(spark, minDeltas = 1, purgeTombstonesBelowLsn = 10L)
    // tombstone physically gone from the compacted base
    assert(new LakeTable(d4).read(spark).filter(col("path") === "k").isEmpty)
    t4.upsert(lateRow(5L), 2L, 1)
    assert(t4.read(spark).filter(col("path") === "k").count() == 1,
      "purged horizon means the late row wins — the documented trade")
  }

  test("bucket writes run at cluster width: one file per bucket dir, readKey scans one bucket") {
    val nb = 16
    assert(nb > spark.sparkContext.defaultParallelism, "need more buckets than write tasks")
    val dir = TestSpark.tmpDir("cdc-width")
    val table = new LakeTable(s"$dir/t", numBuckets = nb)
    val keys = (0 until 200).map(i => (s"repo$i", "src/a"))
    // parquet files in each bucket=N directory of one group
    def filesPerBucket(groupDir: String): Map[String, Int] =
      scala.util.Using.resource(Files.list(Paths.get(table.root, groupDir))) { st =>
        st.iterator().asScala.filter(_.getFileName.toString.startsWith("bucket=")).map { b =>
          b.getFileName.toString -> scala.util.Using.resource(Files.list(b))(
            _.iterator().asScala.count(_.toString.endsWith(".parquet")))
        }.toMap
      }
    def assertOneFilePerBucket(groupDir: String): Unit = {
      val files = filesPerBucket(groupDir)
      assert(files.size == nb, s"expected all $nb buckets written, got ${files.keySet}")
      assert(files.values.forall(_ == 1), s"a bucket holds more than one file: $files")
    }

    (0 until 3).foreach { e =>
      val c = table.upsert(mkBatch(keys, 1000L * e), e.toLong, 1)
      assert(c.snapshot.map(_.epochId).contains(e.toLong))
      assertOneFilePerBucket(c.group.get.dir)
    }
    assert(table.compactBuckets(spark, minDeltas = 3).size == nb)
    assertOneFilePerBucket(table.latest().get.groups.find(_.kind == "base").get.dir)

    // one delta group on top of the base: a point read touches the
    // key's bucket in each of the two groups, one file apiece
    table.upsert(mkBatch(keys.take(50), 9000L), 3L, 1)
    val (r, p) = keys.head
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (rows, scanned) =
      try {
        val df = table.readKey(spark, r, p)
        val rows = df.collect().map(_.getAs[Long]("lsn")).toSeq
        (rows, df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
        }.sum)
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(rows == Seq(9000L))
    assert(scanned == 2L, s"readKey scanned $scanned files, expected 2")
  }
}
