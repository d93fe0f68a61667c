package graft.cdc

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.{NO_FILTER, SKIP_ROW_GROUPS}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

/** Footer probes over parquet files: schemas and statistics, no Spark job.
  *
  * Parquet footers carry each file's schema and per-row-group row
  * counts and min/max statistics, so table opens (the schema) and the
  * apply stage's lineage (per-bucket lsn ranges) are answered from
  * O(files) metadata reads, zero data scanned. (The same trick Spark's
  * `spark.sql.parquet.aggregatePushDown` applies for DSv2 scans.)
  */
object ParquetStats {

  /** The schema `spark.read.parquet(path)` infers, without its one-task
    * job: that of the first data file in path order (not `_`/`.`
    * prefixed). `path` is a file, a flat directory of part files or a
    * glob of either (not a partitioned directory); None when it names
    * no file. */
  def schema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    Option(fs.globStatus(p)).toSeq.flatten
      .flatMap(s => if (!s.isDirectory) Seq(s) else fs.listStatus(s.getPath).toSeq
        .filter(c => c.isFile && !c.getPath.getName.startsWith("_") &&
          !c.getPath.getName.startsWith(".")))
      .minByOption(_.getPath.toString)
      .flatMap(f => mergedSchema(spark, Seq(f.getPath.toString)))
  }

  /** The schema `spark.read.option("mergeSchema", "true")` infers over
    * `files`, without its job: each footer read on the driver as
    * inference reads it, converted as inference converts it (the Spark
    * row-metadata key first, else the parquet types under the session's
    * conf), and merged as inference merges them. None for no files. */
  def mergedSchema(spark: SparkSession, files: Seq[String]): Option[StructType] = {
    val (hadoopConf, conf) = (spark.sessionState.newHadoopConf(), spark.sessionState.conf)
    val converter = new ParquetToSparkSchemaConverter(conf)
    files.map { f =>
      val in = HadoopInputFile.fromPath(new Path(f), hadoopConf)
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(in.getPath, ParquetFooterReader.readFooter(in, SKIP_ROW_GROUPS)), converter)
    }.reduceOption(Bridge.merge(_, _, conf.caseSensitiveAnalysis))
  }

  /** Per `bucket=N` partition of the group directory `dir`: (bucket,
    * min, max, rows) of the INT64 `column`, from footer row counts and
    * statistics only — O(files) metadata, no Spark job. Buckets with no
    * rows are left out, as a group-by over the data would leave them.
    * None when any footer is unreadable or lacks non-null stats for the
    * column in a row group that has rows (caller falls back to a scan). */
  def bucketRanges(spark: SparkSession, dir: String,
      column: String): Option[Seq[(Int, Long, Long, Long)]] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val perBucket = fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .map { b =>
        val files = fs.listStatus(b.getPath).toSeq.map(_.getPath.toString)
          .filter(_.endsWith(".parquet"))
        (b.getPath.getName.stripPrefix("bucket=").toIntOption,
          files.map(f => footerRange(conf, f, column)))
      }
    if (perBucket.exists { case (id, footers) => id.isEmpty || footers.exists(_.isEmpty) }) None
    else Some(perBucket.flatMap { case (id, footers) =>
      union(footers.flatMap(_.get._2)).map { case (lo, hi) =>
        (id.get, lo, hi, footers.map(_.get._1).sum)
      }
    })
  }

  private def union(ranges: Seq[(Long, Long)]): Option[(Long, Long)] =
    ranges.reduceOption((a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)))

  /** One file's row count and the (min, max) of `column` over its row
    * groups (None for a file without rows). None when the file is
    * unreadable or a row group with rows lacks non-null stats for the
    * column — an unreadable/truncated file must not turn a footer probe
    * into a hard failure, the caller scans instead. */
  private def footerRange(conf: org.apache.hadoop.conf.Configuration, file: String,
      column: String): Option[(Long, Option[(Long, Long)])] =
    scala.util.Try(
      ParquetFooterReader.readFooter(HadoopInputFile.fromPath(new Path(file), conf), NO_FILTER)
        .getBlocks.asScala.toSeq.filter(_.getRowCount > 0)
    ).toOption.flatMap { blocks =>
      val stats = blocks.map(_.getColumns.asScala.find(_.getPath.toDotString == column)
        .map(_.getStatistics).filter(st => st != null && st.hasNonNullValue))
      if (stats.exists(_.isEmpty)) None
      else Some((blocks.map(_.getRowCount).sum, union(stats.flatten.map(st =>
        (st.genericGetMin.asInstanceOf[Number].longValue,
          st.genericGetMax.asInstanceOf[Number].longValue)))))
    }
}
