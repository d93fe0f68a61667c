package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.{Apply, LakeTable, Pipeline}

/** readKey point lookups: correct single-key answers AND the O(one-
  * bucket) scan guarantee — the executed plan's file scans must touch
  * only the key's bucket directories, not the table.
  */
class PointLookupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 200 keys, one event each, applied as `groups` epochs (by default
    * two, so multiple file groups exist). */
  private def mkTable(groups: Int = 2): (LakeTable, Seq[(String, String)]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-pls").toString
    val keys = (0 until 200).map(i => (s"r${i % 20}", s"p$i"))
    val rows = keys.zipWithIndex.map { case ((r, p), i) =>
      ("U", i.toLong, new java.sql.Timestamp(1700000000000L + i), 1, r, p,
        null: String, s"""{"commit":"c$i","lang":"en","content":"body$i"}""")
    }
    val env = rows.toDF("op", "lsn", "ts", "schemaVersion", "repo", "path", "before", "after")
    val table = new LakeTable(dir)
    (0 until groups).foreach { e =>
      Apply.applyEpoch(spark, table, env.filter(floor(col("lsn") * groups / 200) === e), e.toLong)
    }
    (table, keys)
  }

  test("readKey equals the filtered full read for every probed key") {
    val (table, keys) = mkTable()
    val full = table.read(spark).select("repo", "path", "lsn", "content").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getString(3))).toMap
    Seq(0, 7, 99, 100, 199).foreach { i =>
      val (r, p) = keys(i)
      val got = table.readKey(spark, r, p).select("lsn", "content").collect()
      assert(got.length == 1, s"key ($r,$p) rows=${got.length}")
      assert((got(0).getLong(0), got(0).getString(1)) == full((r, p)))
    }
    // a key that never existed: empty, not an error
    assert(table.readKey(spark, "rX", "pX").isEmpty)
  }

  test("readKey scans only the key's bucket directories") {
    val (table, keys) = mkTable()
    val (r, p) = keys(42)
    // AQE wraps the plan; keep it off through execution so
    // FileSourceScanExec nodes are collectible with their metrics
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scannedFiles =
      try {
        val df = table.readKey(spark, r, p)
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: FileSourceScanExec => s.metrics("numFiles").value
        }.sum
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val allFiles = {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get(table.root, "data"))) { st =>
        st.iterator().asScala.count(_.toString.endsWith(".parquet"))
      }
    }
    // 200 keys over 32 buckets x 2 groups: the single bucket's files
    // must be a small fraction of the table's
    assert(scannedFiles > 0, "no file scan found in plan")
    assert(scannedFiles <= allFiles / 8,
      s"scan not pruned: $scannedFiles of $allFiles files")
  }

  test("readKey runs as many Spark jobs on a 4-group table as on a 1-group table") {
    // a group read with an inferred schema would add one schema job per group
    def jobs(table: LakeTable, key: (String, String)): Int = {
      val (rows, n) = TestSpark.jobsDuring(table.readKey(spark, key._1, key._2).collect())
      assert(rows.length == 1)
      n
    }
    val (one, keys) = mkTable(groups = 1)
    val (four, _) = mkTable(groups = 4)
    assert(four.latest().get.groups.size == 4)
    val (j1, j4) = (jobs(one, keys(42)), jobs(four, keys(42)))
    assert(j1 > 0 && j4 == j1, s"jobs: 1 group $j1, 4 groups $j4")
  }
}
