package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** End-to-end ingest pipelines: batch epoch replay (bench/tests) and the
  * Structured-Streaming binlog tail (checkpointed, exactly-once via the
  * epoch-keyed lake commit).
  *
  * Reference analogue of the streaming shape: the reference tails a
  * directory of timestamped files, sorted, lazily opening each timestep
  * (SYMPHONIEReader.py:51-66, 110-117) — precisely file-source
  * `readStream` semantics with `maxFilesPerTrigger`.
  */
object Pipeline {

  val envelopeSchema: StructType = StructType(Seq(
    StructField("op", StringType), StructField("lsn", LongType),
    StructField("ts", TimestampType), StructField("schemaVersion", IntegerType),
    StructField("repo", StringType), StructField("path", StringType),
    StructField("before", StringType), StructField("after", StringType)))

  /** Typed-binlog envelope: `before`/`after` as structs at the union
    * read schema (the Avro-with-registry segment layout). Segments in
    * this layout replay without any JSON parse — see Apply.normalize. */
  val typedEnvelopeSchema: StructType = StructType(
    envelopeSchema.fields.map {
      case StructField(n @ ("before" | "after"), _, _, _) =>
        StructField(n, SchemaRegistry.readSchema, nullable = true)
      case f => f
    })

  /** Delivery span and per-epoch chunk — THE one definition all three
    * consumers (withEpoch, runBatchEpochs, writeLogSegments) share, so
    * the epoch-assignment clamp and the generation windows can never
    * drift apart again. */
  private def spanChunk(cfg: GenConfig, epochs: Int): (Long, Long) = {
    val span = 2L * ChangeLogGen.physicalRows(cfg) + 2L * cfg.disorderWindow + 2L
    (span, math.max(span / epochs, 1L))
  }

  /** Generation id-window for epoch/segment `e`: delivery chunk
    * [e*chunk, (e+1)*chunk) - disorderWindow offset maps to physical
    * ids in [(lo - W)/2, (hi + W)/2]. The LAST epoch's window extends
    * to the full delivery span: withEpoch's least()-clamp assigns ALL
    * overflow deliveries (span % epochs of them, since chunk =
    * floor(span/epochs)) to the last epoch, and a window that stopped
    * at (e+1)*chunk would silently NEVER GENERATE the highest-id
    * events whenever span % epochs exceeds the 2W+6 margin — the tail
    * of the log would vanish from both the batch replay and the
    * materialized segment binlog (latent until epochs is large or W
    * small; PipelineWindowSpec pins the triggering shape). */
  private def epochIdWindow(cfg: GenConfig, epochs: Int, e: Int): (Long, Long) = {
    val (span, chunk) = spanChunk(cfg, epochs)
    val dLo = e.toLong * chunk - cfg.disorderWindow
    val dHi =
      if (e == epochs - 1) span + cfg.disorderWindow
      else (e + 1).toLong * chunk - cfg.disorderWindow
    ((dLo - cfg.disorderWindow) / 2 - 1, (dHi + cfg.disorderWindow) / 2 + 2)
  }

  /** Epoch id of each delivered row: contiguous ranges of the delivery
    * position. With disorder, some events land one epoch later than
    * their LSN implies — the late-arrival case. */
  def withEpoch(events: DataFrame, cfg: GenConfig, epochs: Int): DataFrame = {
    val (_, chunk) = spanChunk(cfg, epochs)
    events.withColumn("epoch",
      least(floor((col("delivery") + lit(cfg.disorderWindow)) / lit(chunk)), lit(epochs.toLong - 1L)))
  }

  /** Replay the synthetic log in `epochs` micro-batches (batch mode —
    * the bench hot loop). Returns per-epoch stats.
    *
    * Each epoch's batch is generated over the bounded id window its
    * delivery-chunk can reach (generator-side partition pruning) —
    * total generation work is O(log size), not O(epochs x log size). */
  def runBatchEpochs(
      spark: SparkSession,
      cfg: GenConfig,
      tableDir: String,
      epochs: Int,
      audit: Option[Audit] = None,
      compactEvery: Int = 0,
      adaptive: Option[AdaptiveSalt] = None,
      dlq: Option[DeadLetterQueue] = None): Seq[ApplyStats] = {
    val table = new LakeTable(tableDir)
    (0 until epochs).map { e =>
      val (idLo, idHi) = epochIdWindow(cfg, epochs, e)
      val window = withEpoch(
        ChangeLogGen.events(spark, cfg, Some((idLo, idHi))), cfg, epochs)
      val batch = window.filter(col("epoch") === e.toLong).drop("delivery", "epoch")
      val stats = Apply.applyEpoch(spark, table, batch, e.toLong, audit,
        adaptive = adaptive, dlq = dlq)
      compactOnCadence(spark, table, stats, compactEvery)
      stats
    }
  }

  /** Compaction cadence after each epoch (`compactEvery` = 0: off).
    * Only buckets with >= compactEvery live delta groups rewrite; the
    * committed snapshot's delta-group count is a cheap necessary
    * condition (per-bucket counts never exceed it), taken from `st`
    * rather than a second manifest read. */
  private def compactOnCadence(spark: SparkSession, table: LakeTable, st: ApplyStats,
      compactEvery: Int): Unit =
    if (compactEvery > 0 &&
        st.snapshot.orElse(table.latest()).exists(_.totalDeltaGroups >= compactEvery))
      table.compactBuckets(spark, compactEvery)

  /** Materialize the synthetic log as `segments` parquet directories in
    * delivery order — the on-disk binlog the streaming source tails.
    * `filesPerSegment` = 1 gives the one-file-per-micro-batch layout the
    * streaming tests pair with maxFilesPerTrigger=1; 0 keeps the
    * generator's natural write parallelism (bench replay layout). */
  def writeLogSegments(spark: SparkSession, cfg: GenConfig, logDir: String,
      segments: Int, filesPerSegment: Int = 1, typedPayload: Boolean = false): Unit = {
    (0 until segments).foreach { s =>
      val (idLo, idHi) = epochIdWindow(cfg, segments, s)
      val window = withEpoch(ChangeLogGen.events(spark, cfg,
        Some((idLo, idHi)), typedPayload = typedPayload), cfg, segments)
      val seg = window.filter(col("epoch") === s.toLong)
        .select(envelopeSchema.fieldNames.map(col).toSeq: _*)
      (if (filesPerSegment > 0) seg.coalesce(filesPerSegment) else seg)
        .write.mode("overwrite").parquet(f"$logDir/seg-$s%05d")
    }
  }

  /** Replay pre-materialized log segments in batch mode — the bench hot
    * loop: a real binlog arrives as stored bytes, so the measured path
    * is scan -> dedup/LWW reduce -> normalize -> lake upsert (+ lineage),
    * with small per-epoch plans (no giant generator trees to re-plan
    * per job). */
  def replaySegments(
      spark: SparkSession,
      logDir: String,
      tableDir: String,
      segments: Int,
      audit: Option[Audit] = None): Seq[ApplyStats] = {
    if (segments <= 0) return Seq.empty
    val table = new LakeTable(tableDir)
    // sniff the layout ONCE from the first segment's footer (the layout
    // is constant across a log — same contract runStream documents; a
    // mixed-layout dir violates that contract and fails at the first
    // differing segment's scan rather than being silently coerced),
    // then scan every segment under the matching EXPLICIT envelope
    // schema: an inference-schema read would surface parquet timestamps
    // as NTZ (Spark 4) and push the whole apply pipeline off its typed
    // plan, and re-sniffing per segment would put O(segments) redundant
    // driver round-trips inside the measured hot loop
    val first = f"$logDir/seg-${0}%05d"
    val typed = typedLayout(spark, first).getOrElse(
      throw new java.io.FileNotFoundException(s"replaySegments: no segment file in $first"))
    val readSchema = if (typed) typedEnvelopeSchema else envelopeSchema
    (0 until segments).map { s =>
      val batch = spark.read.schema(readSchema).parquet(f"$logDir/seg-$s%05d")
      Apply.applyEpoch(spark, table, batch, s.toLong, audit)
    }
  }

  /** Whether the segments under `pattern` carry the typed payload (a
    * struct `after`), from the first segment file's footer; None if none. */
  private[graft] def typedLayout(spark: SparkSession, pattern: String): Option[Boolean] =
    ParquetStats.schema(spark, pattern).map(_("after").dataType.isInstanceOf[StructType])

  /** Tail `logDir` as a Structured-Streaming file source and apply each
    * micro-batch exactly-once: the streaming checkpoint advances only
    * after the batch's lake commit, so a crash between the two
    * redelivers the same batch id on restart and the idempotent epoch
    * guard skips it (StreamingResumeSpec and CrashSweepSpec crash it
    * through [[LakeTable.failpoint]]). */
  def runStream(
      spark: SparkSession,
      logDir: String,
      tableDir: String,
      checkpointDir: String,
      audit: Option[Audit] = None,
      maxFilesPerTrigger: Int = 1,
      compactEvery: Int = 0,
      dlq: Option[DeadLetterQueue] = None,
      adaptive: Option[AdaptiveSalt] = None,
      layout: String = "sniff",
      // idempotence namespace for THIS tail (Snapshot.writerEpochs):
      // two ingest jobs tailing disjoint sources into one table must
      // not share the default batch-id watermark, or whichever starts
      // second sees its batch 0 as "already applied" and silently
      // drops it
      writer: String = LakeTable.DefaultWriter): Unit = {
    val table = new LakeTable(tableDir)
    // segment layout: typed segments store after/before as structs, and
    // reading them under the JSON envelope schema fails the scan on the
    // first batch. "sniff" reads one footer (same contract as
    // replaySegments); a tail started BEFORE the producer has nothing
    // to sniff — guessing JSON there would PERMANENTLY break a
    // typed-payload producer's scans (the schema is fixed at stream
    // build), so an empty dir fails fast and tells the caller to pass
    // the layout explicitly ("json" | "typed").
    val typed = layout match {
      case "typed" => true
      case "json"  => false
      case "sniff" =>
        typedLayout(spark, logDir + "/seg-*").getOrElse(
          throw new IllegalStateException(
            s"runStream: no segments under $logDir to sniff the payload " +
              "layout from (tail started before the producer?) — pass " +
              "layout=\"json\" or layout=\"typed\" explicitly (Submit: " +
              "--layout json|typed)"))
      case other => throw new IllegalArgumentException(
        s"layout must be sniff|json|typed, got '$other'")
    }
    val stream = spark.readStream
      .schema(if (typed) typedEnvelopeSchema else envelopeSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(logDir + "/seg-*")

    val query = stream.writeStream
      .option("checkpointLocation", LakeFs.path(spark, checkpointDir))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val st = Apply.applyEpoch(batch.sparkSession, table, batch, epochId, audit,
          adaptive = adaptive, dlq = dlq, writer = writer)
        compactOnCadence(batch.sparkSession, table, st, compactEvery)
      }
      .start()
    try query.awaitTermination()
    finally if (query.isActive) query.stop()
  }
}
