package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, count, lit, max, min}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.{Audit, GenConfig, LakeTable, ParquetStats, Pipeline}

/** The table reader [[Graft.table]]: a table opened from its footer has
  * exactly the schema and rows Spark's inference read gives it, and
  * building a query over such tables starts no Spark job.
  */
class TableReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfs = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf")

  private def tableFiles(sf: String): Seq[String] =
    scala.util.Using.resource(Files.list(Paths.get(sf))) { st =>
      st.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("footer schema equals the inferred schema for every test table") {
    val files = sfs.flatMap(tableFiles)
    assert(files.size == 30, files)
    files.foreach { f =>
      // names, types, nullability and field metadata, all at once
      assert(Graft.table(spark, f).schema == spark.read.parquet(f).schema, f)
    }
    tableFiles(sfs.head).foreach(f =>
      assert(rows(Graft.table(spark, f)) == rows(spark.read.parquet(f)), f))
  }

  test("a directory of Spark part files and a glob open as inference opens them") {
    val dir = TestSpark.tmpDir("table-read")
    // Spark-written part files carry Spark's row-metadata key, and the
    // hidden _SUCCESS and .crc files must not be taken for data
    spark.read.parquet(s"${sfs.head}/documents.parquet").repartition(3)
      .write.parquet(s"$dir/documents.parquet")
    Seq(s"$dir/documents.parquet", s"$dir/*.parquet").foreach { p =>
      assert(Graft.table(spark, p).schema == spark.read.parquet(p).schema, p)
      assert(rows(Graft.table(spark, p)) == rows(spark.read.parquet(p)), p)
    }
    assert(ParquetStats.schema(spark, s"$dir/missing.parquet").isEmpty)
    intercept[java.io.FileNotFoundException](Graft.table(spark, s"$dir/missing.parquet"))
  }

  test("opening a table starts no Spark job; inference starts one") {
    val f = s"${sfs.head}/events.parquet"
    assert(TestSpark.jobsDuring(Graft.table(spark, f))._2 == 0)
    assert(TestSpark.jobsDuring(spark.read.parquet(f))._2 == 1)
  }

  test("building a query starts no Spark job, outside the eager ones") {
    // eager by design: their DataFrame is the result of work done while
    // it is built
    val eager = Set(
      "q40_stream_window", // runs its bounded stream into a memory sink
      "q43_file_provenance", // writes its partitioned staging dir
      "q44_tsv_roundtrip", // writes its TSV staging dir
      "q52_ann_ivf", // checkpoints its K centroids (an eager lineage cut)
      "q57_dup_clusters", // runs its label-propagation rounds
      "q67_griddata", // collects its scatter points to the driver
      // Graft.fanOut asks a windowed frame for its partition count, and
      // under AQE that runs the window's shuffle stage
      "q53_corpus_pipeline")
    val sf = sfs.head
    val jobs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // a first build fills per-JVM caches (CdcOps' folded lake table);
      // the second is what every later build costs
      fn(spark, sf)
      name -> TestSpark.jobsDuring(fn(spark, sf))._2
    }
    val started = jobs.filter(_._2 > 0)
    assert(started.map(_._1).toSet == eager, s"query builds that started Spark jobs: $started")
  }

  test("an audit dir reads the parent's rows and the manifests' records, without a job") {
    val base = TestSpark.tmpDir("table-read-audit")
    // lineage files a parent engine wrote, then this engine's records,
    // committed in the manifests of a table registered in the same dir
    val fixture = Paths.get(sys.props("user.dir"), "src", "test", "fixtures", "parent-tail", "audit")
    val dir = Files.createDirectories(Paths.get(base, "audit"))
    scala.util.Using.resource(Files.list(fixture)) { st =>
      st.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    }.foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
    Pipeline.writeLogSegments(spark, GenConfig(numEvents = 3000L, numRepos = 10L,
      pathsPerRepo = 10L), s"$base/log", segments = 3)
    val audit = new Audit(dir.toString)
    Pipeline.replaySegments(spark, s"$base/log", s"$base/t", 3, Some(audit))
    // per committed version: the epoch it applied and a scan of its group
    val table = new LakeTable(s"$base/t")
    val committed = (1L to 3L).flatMap { v =>
      val g = table.snapshotAt(v).get.groups.last.dir
      spark.read.parquet(s"$base/t/$g").groupBy("bucket")
        .agg(min("lsn"), max("lsn"), count(lit(1))).collect()
        .map(r => Row(r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), v - 1, v).toString)
    }
    val (read, jobs) = TestSpark.jobsDuring(audit.read(spark))
    assert(jobs == 0)
    assert(read.schema == StructType(Seq("bucket" -> IntegerType, "min_lsn" -> LongType,
      "max_lsn" -> LongType, "rows_applied" -> LongType, "epoch_id" -> LongType,
      "source_min_lsn" -> LongType, "source_max_lsn" -> LongType, "source_rows" -> LongType,
      "late_events" -> LongType, "snapshot_version" -> LongType, "schema_version" -> IntegerType,
      "wall_ms" -> LongType).map { case (n, t) => StructField(n, t) }))
    val parent = spark.read.parquet(fixture.toString)
    assert(rows(parent).diff(rows(read)).isEmpty, "a parent row was lost or changed")
    val key = Seq("bucket", "min_lsn", "max_lsn", "rows_applied", "epoch_id", "snapshot_version")
      .map(col)
    assert(rows(read.select(key: _*)) == (rows(parent.select(key: _*)) ++ committed).sorted)
  }
}
