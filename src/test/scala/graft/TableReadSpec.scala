package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.cdc.{Audit, GenConfig, ParquetStats, Pipeline}

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

  test("an audit dir reads the same rows and schema as a merged read, without its job") {
    val base = TestSpark.tmpDir("table-read-audit")
    // lineage files a parent engine wrote, then this engine's own
    val fixture = Paths.get(sys.props("user.dir"), "src", "test", "fixtures", "parent-tail", "audit")
    val dir = Files.createDirectories(Paths.get(base, "audit"))
    scala.util.Using.resource(Files.list(fixture)) { st =>
      st.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    }.foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
    Pipeline.writeLogSegments(spark, GenConfig(numEvents = 3000L, numRepos = 10L,
      pathsPerRepo = 10L), s"$base/log", segments = 3)
    val audit = new Audit(dir.toString)
    Pipeline.replaySegments(spark, s"$base/log", s"$base/t", 3, Some(audit))
    def merged = spark.read.option("mergeSchema", "true").parquet(dir.toString)
    val before = rows(merged)
    assert(before.size > rows(spark.read.parquet(fixture.toString)).size)
    val (read, jobs) = TestSpark.jobsDuring(audit.read(spark))
    assert(jobs == 0)
    assert(read.schema == merged.schema)
    assert(rows(read) == before)
    // compaction rewrites every per-epoch file, the parent's included,
    // under the same footer-merged schema
    audit.compactAsync(spark, maxFiles = 1)
    audit.flush()
    assert(scala.util.Using.resource(Files.list(dir))(
      _.iterator().asScala.count(_.toString.endsWith(".parquet"))) == 1)
    assert(audit.read(spark).schema == merged.schema)
    assert(rows(audit.read(spark)) == before && rows(merged) == before)
  }
}
