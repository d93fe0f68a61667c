package graft.cdc

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dead-letter queue for change events the apply stage cannot honor —
  * the poison-pill escape hatch a production CDC pipeline needs
  * (Debezium/Connect DLQ analogue): quarantine the record WITH its raw
  * envelope and a machine-readable reason, keep the stream moving,
  * re-feed the fixed records later.
  *
  * Classification runs POST-REDUCE — O(surviving keys), never
  * O(events) — preserving the round-4 measurement that JSON work
  * before the shuffle loses outright. Documented consequence: if a
  * key's HIGHEST-LSN event in an epoch is poisoned, that key's entire
  * epoch update is quarantined (earlier same-epoch events were already
  * collapsed by the reduce) and the table keeps its prior state for
  * the key — the "skip and alert" semantics a poison pill wants. A
  * poisoned event displaced by a higher clean LSN in the same epoch is
  * invisible (the clean event wins the reduce) — by design: the lake
  * never needed it.
  *
  * Exactly-once: rows land in `<root>/epoch=<id>/` with
  * mode=overwrite in the same epoch attempt that writes the delta
  * files, BEFORE the manifest commit. A crash-and-replay overwrites
  * the same directory with the same deterministic set; a replay of an
  * ALREADY-committed epoch skips the write entirely (same guard as the
  * lake's idempotent upsert). `after` is stored canonically as a JSON
  * string whatever the envelope layout, so one stable DLQ schema spans
  * typed and JSON segments.
  */
final class DeadLetterQueue(val root: String) {

  /** The writer id replay epochs commit under (per-writer idempotence
    * namespace — see [[Snapshot.writerEpochs]]). */
  val ReplayWriter = "dlq-replay"

  import DeadLetterQueue.DefaultMaxDriverRows

  /** Reasons, coarsest-first (a row gets its FIRST matching reason). */
  val ReasonNullKey = "null_key"
  val ReasonUnknownOp = "unknown_op"
  val ReasonMalformedPayload = "malformed_payload"

  /** Quarantine reason for a post-reduce envelope row, null = clean.
    * `typedAfter`: struct payloads cannot be malformed (the parquet
    * reader enforced the schema), so only key/op integrity applies. */
  def reasonCol(typedAfter: Boolean): Column = {
    // malformedness via the corrupt-record column (PERMISSIVE from_json
    // yields a null-FIELDS row, not a null struct, for bad JSON — the
    // corrupt column is the reliable signal, same as a DataFrameReader)
    val corrupt = from_json(col("after"),
      SchemaRegistry.readSchema.add("_cr", StringType),
      java.util.Map.of("columnNameOfCorruptRecord", "_cr")).getField("_cr")
    val badPayload =
      if (typedAfter) lit(false)
      else col("op").isin("I", "U") && col("after").isNotNull && corrupt.isNotNull
    when(col("repo").isNull || col("path").isNull || col("lsn").isNull, ReasonNullKey)
      .when(!col("op").isin("I", "U", "D"), ReasonUnknownOp)
      .when(badPayload, ReasonMalformedPayload)
      .otherwise(lit(null).cast("string"))
  }

  /** Overwrite epoch `epochId`'s quarantine set. `bad` must carry the
    * envelope columns plus `_dlq_reason`. Rare rows by contract —
    * coalesce(1) keeps the side table one small file per epoch.
    * The apply hot path prunes `schemaVersion` before the reduce, so
    * rows missing it are stamped with [[SchemaRegistry.maxVersion]],
    * the schema the epoch would have written. */
  private[cdc] def write(epochId: Long, bad: DataFrame): Unit = {
    val afterJson =
      if (bad.schema("after").dataType.isInstanceOf[StructType]) to_json(col("after"))
      else col("after")
    val sv =
      if (bad.columns.contains("schemaVersion")) col("schemaVersion")
      else lit(SchemaRegistry.maxVersion)
    bad.select(col("repo"), col("path"), col("op"), col("lsn"), col("ts"),
        sv.as("schemaVersion"), afterJson.as("after"), col("_dlq_reason").as("reason"))
      .coalesce(1)
      .write.mode("overwrite").parquet(LakeFs.path(bad.sparkSession, s"$root/epoch=$epochId"))
  }

  val schema: StructType = StructType(Seq(
    StructField("repo", StringType), StructField("path", StringType),
    StructField("op", StringType), StructField("lsn", LongType),
    StructField("ts", TimestampType), StructField("schemaVersion", IntegerType),
    StructField("after", StringType),
    StructField("reason", StringType)))

  /** All quarantined rows, with the `epoch` partition column. Empty
    * frame (same schema) when nothing was ever quarantined. */
  def read(spark: SparkSession): DataFrame = {
    val p = Paths.get(root)
    val any = Files.isDirectory(p) && {
      val s = Files.list(p)
      try s.iterator().hasNext finally s.close()
    }
    val withEpoch = schema.add("epoch", LongType)
    if (!any)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], withEpoch)
    else spark.read.schema(withEpoch).parquet(root) // epoch= dirs -> partition col
  }

  /** Requeue after a fix — the Debezium "correct the record, resubmit"
    * flow: re-classify every quarantined row under the CURRENT
    * classifier (the fix may be an edited quarantine row or an evolved
    * registry), apply the now-clean rows as ONE fresh epoch in the
    * replay's OWN writer namespace (never colliding with the stream's
    * batch-id sequence), and rewrite the quarantine to retain only
    * still-poisoned rows.
    *
    * Ordering is commit-then-prune: a crash between the two replays
    * the same rows once more — at-least-once requeue whose
    * re-application is STATE-idempotent (identical (key, lsn) rows;
    * the lake's global max_by(lsn) reconstruction is insensitive to
    * duplicates). The same LWW rule means a requeued row with an old
    * LSN can never clobber newer table state — it simply loses the
    * reconstruction, which is exactly what "the lake never needed it"
    * should mean. Null-key rows are permanently unreplayable and stay
    * quarantined. Driver-side epoch iteration is fine by the DLQ's
    * own contract: quarantined rows are rare — and that contract is
    * ENFORCED, not assumed: the still-poisoned set is counted before
    * it is collected, and a count above `maxDriverRows` (default 100k)
    * refuses the replay with an actionable error instead of silently
    * materializing a classifier-bug-sized corpus into driver heap.
    *
    * @param maxDriverRows upper bound on still-poisoned rows this
    *        replay may materialize to the driver for the quarantine
    *        rewrite. A full-epoch poison flood (classifier bug,
    *        mid-migration schema mismatch) trips this bound; fix the
    *        classifier/registry first so the rows classify clean (the
    *        CLEAN side is applied fully distributed and is never
    *        driver-materialized), or raise the bound deliberately.
    */
  def replay(spark: SparkSession, table: LakeTable,
      maxDriverRows: Long = DefaultMaxDriverRows): DlqReplayStats = {
    val all = read(spark)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val classified = all.withColumn("_dlq_reason", reasonCol(typedAfter = false))
      val clean = classified.filter(col("_dlq_reason").isNull)
      // the still-poisoned set is MATERIALIZED to the driver before any
      // prune: the prune below overwrites the very directories the lazy
      // frame reads, so a cache eviction mid-loop would rescan mutated
      // dirs. Count-before-collect enforces the "rare rows" contract.
      val still = classified.filter(col("_dlq_reason").isNotNull).drop("_dlq_reason")
      val stillCount = still.count()
      if (stillCount > maxDriverRows)
        throw new IllegalStateException(
          s"DLQ replay: $stillCount rows remain poisoned under the current " +
            s"classifier (> maxDriverRows=$maxDriverRows) — this is a poison " +
            "FLOOD, not the rare-row case the quarantine rewrite is sized for. " +
            "Fix the classifier/schema registry so the rows classify clean " +
            "(the clean side applies fully distributed), or pass a larger " +
            "maxDriverRows to replay() deliberately.")
      val stillRows = still.collect()
      val cleanEpochs = clean.select("epoch").distinct().collect().map(_.getLong(0))
      if (cleanEpochs.isEmpty)
        return DlqReplayStats(applied = 0L, remaining = stillRows.length.toLong, epoch = None)

      // replay epochs live in their OWN writer namespace
      // (Snapshot.writerEpochs): allocating table.epochId+1 would steal
      // the stream's next batch id and make that micro-batch look
      // already-applied — a silently dropped batch
      val epochId =
        table.latest().map(_.watermark(ReplayWriter) + 1L).getOrElse(0L)
      val batch = clean.drop("epoch", "reason", "_dlq_reason")
      val stats = Apply.applyEpoch(spark, table, batch, epochId, writer = ReplayWriter)
      if (!stats.committed)
        // lost the idempotence race (a concurrent replay already took
        // this epoch id): prune NOTHING — the rows were not applied by
        // this invocation, and dropping them here would lose them
        return DlqReplayStats(applied = 0L,
          remaining = stillRows.length.toLong + clean.count(), epoch = None)
      val requeued = stats.appliedKeys

      // prune only partitions that lost rows; drop a partition that
      // emptied (Files walk delete), rewrite one that still has poison —
      // from the collected rows, never from a frame over the dirs
      val epochIdx = all.columns.indexOf("epoch")
      cleanEpochs.foreach { e =>
        val keep = stillRows.filter(r => !r.isNullAt(epochIdx) && r.getLong(epochIdx) == e)
        val dir = Paths.get(root, s"epoch=$e")
        if (keep.isEmpty) {
          graft.Scratch.rmTree(dir)
        } else {
          val rows = java.util.Arrays.asList(keep.map(r =>
            org.apache.spark.sql.Row.fromSeq(
              schema.fieldNames.toSeq.map(n => r.get(all.columns.indexOf(n))))): _*)
          spark.createDataFrame(rows, schema)
            .coalesce(1).write.mode("overwrite").parquet(LakeFs.path(spark, dir.toString))
        }
      }
      DlqReplayStats(applied = requeued, remaining = stillRows.length.toLong, epoch = Some(epochId))
    } finally all.unpersist(blocking = false)
  }
}

object DeadLetterQueue {
  /** The ONE definition of the replay driver-materialization bound —
    * the default of [[DeadLetterQueue.replay]] and of the CLI
    * (Submit --max-driver-rows), so the two layers cannot drift. */
  val DefaultMaxDriverRows = 100000L
}

/** `applied` = keys upserted by the replay epoch (0 when nothing was
  * replayable), `remaining` = rows still quarantined afterwards,
  * `epoch` = the fresh epoch id the replay committed under. */
final case class DlqReplayStats(applied: Long, remaining: Long, epoch: Option[Long])
