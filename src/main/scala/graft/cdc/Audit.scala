package graft.cdc

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-epoch, per-bucket lineage + metrics, read as one table.
  *
  * Reference analogue: the reference logs per-write progress and match
  * distances as part of the write (coverage/io/netcdf/DefaultWriter.py:231-233,
  * point/io/netcdf/symphonie/AbstractSYMPHONIEReader.py:67-74) and
  * times stages with a decorator (utils/timing.py:23-30); here those
  * become queryable rows: one per (epoch, key-bucket) with the LSN
  * range and row count that bucket applied, plus the global source LSN
  * range of the raw batch (from the apply pass's observe() metrics) and
  * the committed snapshot version — enough to trace any state row back
  * to its log range. `schema_version` is the payload schema the epoch's
  * group was written at ([[Lineage]]).
  *
  * Storage: each epoch's record ([[Lineage]]) is committed inside the
  * manifest of the snapshot the epoch publishes, in the same CAS that
  * makes its data visible, so a crash can never commit an epoch without
  * its lineage. The audit dir holds only a registry — one `_table-<hash>`
  * pointer file per table applied with this audit, holding the table's
  * absolute root — plus any per-epoch parquet files an earlier engine
  * wrote there, which [[read]] unions as they are.
  *
  * Retention: lineage expires with its snapshot, as in Iceberg.
  * `LakeTable.expireSnapshots(keep)` (`Submit vacuum`) is also the
  * lineage horizon: only the epochs of the `keep` retained manifests
  * stay readable. Legacy parquet rows are never expired.
  */
final class Audit(val dir: String) {

  /** Register `table` in this audit dir (before its first upsert): an
    * idempotent tmp + atomic-move write of its pointer file. The `_`
    * prefix keeps Spark's parquet reader away from it. */
  private[cdc] def register(table: LakeTable): Unit = {
    val root = Paths.get(table.root).toAbsolutePath.normalize.toString
    val pointer = Paths.get(dir, s"_table-${java.util.UUID.nameUUIDFromBytes(root.getBytes("UTF-8"))}")
    if (!Files.exists(pointer)) {
      Files.createDirectories(pointer.getParent)
      val tmp = pointer.resolveSibling(s".table-${java.util.UUID.randomUUID()}.tmp")
      Files.write(tmp, root.getBytes("UTF-8"))
      Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private def list(root: Path)(keep: String => Boolean): Seq[Path] =
    if (!Files.isDirectory(root)) Nil
    else Using.resource(Files.list(root)) { st =>
      st.iterator().asScala.filter(p => keep(p.getFileName.toString)).toSeq.sortBy(_.toString)
    }

  /** Complete a compaction an earlier engine left between publishing its
    * `compacted-<id>` segment and deleting the inputs its `.absorb-<id>`
    * sidecar lists, so a read never counts both. A sidecar without its
    * segment (inputs intact) is left alone. */
  private def recoverCompactions(root: Path): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    list(root)(_.startsWith(".absorb-")).foreach { sc =>
      val id = sc.getFileName.toString.stripPrefix(".absorb-").stripSuffix(".json")
      if (Files.exists(root.resolve(s"compacted-$id.parquet"))) {
        mapper.readTree(Files.readAllBytes(sc)).elements().asScala.foreach(f =>
          Files.deleteIfExists(root.resolve(f.asText())))
        Files.deleteIfExists(sc)
      }
    }
  }

  /** The lineage table under [[Audit.schema]]: the records of every
    * registered table's retained manifests, built on the driver as a
    * local relation, unioned with the legacy per-epoch parquet files in
    * the dir. Starts no Spark job. The legacy files are read under the
    * merge of their footer schemas (an old dir may span engine versions
    * that added columns, e.g. late_events), then aligned to the pinned
    * schema by name — a column an old file lacks reads as null. */
  def read(spark: SparkSession): DataFrame = {
    val root = Paths.get(dir)
    val rows = list(root)(_.startsWith("_table-"))
      .flatMap(p => new LakeTable(new String(Files.readAllBytes(p), "UTF-8")).lineage())
      .flatMap { case (version, l) =>
        l.buckets.map { case (b, lo, hi, n) =>
          Row(b, lo, hi, n, l.epochId, l.sourceMinLsn, l.sourceMaxLsn, l.sourceRows,
            l.lateEvents, version, l.schemaVersion, l.wallMs)
        }
      }
    val committed = spark.createDataFrame(rows.asJava, Audit.schema)
    // best-effort: a read must not fail because the repair could not run
    // (read-only mount, permissions)
    try recoverCompactions(root) catch { case _: Exception => () }
    val legacy = list(root)(_.endsWith(".parquet")).map(_.toString)
    ParquetStats.mergedSchema(spark, legacy).fold(committed) { stored =>
      val old = spark.read.schema(stored).parquet(legacy: _*)
      old.select(Audit.schema.map(f =>
        (if (stored.fieldNames.contains(f.name)) col(f.name) else lit(null))
          .cast(f.dataType).as(f.name)): _*).union(committed)
    }
  }
}

object Audit {
  /** The lineage table's columns, in order: per-bucket applied range,
    * then the epoch's source range and commit. */
  private val schema: StructType = StructType(Seq(
    StructField("bucket", IntegerType), StructField("min_lsn", LongType),
    StructField("max_lsn", LongType), StructField("rows_applied", LongType),
    StructField("epoch_id", LongType), StructField("source_min_lsn", LongType),
    StructField("source_max_lsn", LongType), StructField("source_rows", LongType),
    StructField("late_events", LongType), StructField("snapshot_version", LongType),
    StructField("schema_version", IntegerType), StructField("wall_ms", LongType)))
}
