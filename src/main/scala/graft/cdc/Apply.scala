package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Graft._

/** `snapshot` is the snapshot the epoch committed (None for an
  * idempotent replay skip). */
final case class ApplyStats(
    epochId: Long,
    inputRows: Long,
    appliedKeys: Long,
    committed: Boolean,
    wallMs: Long,
    snapshot: Option[Snapshot] = None)

/** Key-skew controller for the apply reduce: observes each committed
  * epoch's rows-per-key ratio — rows_in_batch from the envelope
  * observation over the EXACT key count from a bare `count` observed
  * on the post-reduce frame (keys-sized, measured free; an earlier
  * design put approx_count_distinct in the pre-reduce CollectMetrics
  * and paid an interpreted xxhash+HLL per input row, a measured 35%
  * throughput tax) — and engages the two-stage salted reduce for the
  * NEXT epoch when the ratio crosses `threshold`; it is the only way
  * an epoch takes `Apply.saltedReduce`. The steady-state CDC regime is O(10)
  * deliveries per key; an adversarial single-key flood drives the ratio
  * toward rows_in_batch, so the default threshold only ever trips on
  * genuine floods. Decision is one epoch behind by design — the
  * semantics are identical either way (max_by is associative/
  * commutative; CdcApplySpec proves salted ≡ unsalted), only the
  * shuffle shape changes, so a one-epoch lag costs one skewed shuffle,
  * never correctness. */
final class AdaptiveSalt(val threshold: Double = 256.0) {
  private val engagedFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile private var ratio: Double = -1.0
  /** Salt the next epoch? */
  def engaged: Boolean = engagedFlag.get()
  /** rows/distinct-keys of the last committed epoch (-1 before any). */
  def lastRatio: Double = ratio
  private[cdc] def update(rowsPerKey: Double): Unit = {
    ratio = rowsPerKey
    engagedFlag.set(rowsPerKey >= threshold)
  }
}

/** The per-epoch apply stage: raw delivered envelope rows -> dedup ->
  * per-key last-writer-wins reduction -> normalized payload -> lake
  * upsert, with the epoch's lineage record in its commit.
  *
  * Reference analogue: the reference's write loop sorts per-key series
  * by time, drops duplicate timestamps keep-first
  * (point/TimeMultiPoint.py:309-321) and then applies each value at its
  * key's fixed position (coverage/io/netcdf/DefaultWriter.py:230-240).
  * Here: dedup by LSN, reduce per (repo, path) with `max_by(..., lsn)`,
  * MERGE into the bucketed lake table.
  *
  * Scale notes (10^10-event design point):
  *  - the reduction is one aggregate with map-side partial
  *    aggregation — hot-repo keys (Zipf skew) collapse to one row per
  *    key per input partition BEFORE the shuffle, so the shuffle volume
  *    per epoch is O(distinct keys in batch), not O(events). It plans
  *    as Sort -> SortAggregate, not a hash aggregate: `max_by`'s struct
  *    buffer holds strings, which HashAggregateExec cannot hold;
  *  - for adversarial single-key floods, an [[AdaptiveSalt]] controller
  *    switches the next epoch to `saltedReduce`, which pre-reduces on
  *    (key, salt) first — two smaller shuffles instead of one skewed
  *    one (north-rule salting; semantics-preserving because max_by is
  *    associative/commutative);
  *  - duplicates are exact redeliveries, so `max_by` tie-breaking on
  *    equal LSN is harmless (identical payloads); explicit
  *    dropDuplicates is therefore NOT needed on the hot path.
  */
object Apply {

  /** Scans an epoch spent probing its batch's schema era: always 0,
    * since every epoch writes at [[SchemaRegistry.maxVersion]] and no
    * epoch probes. Kept for callers that still report the counter. */
  def scanProbes(tableRoot: String): Long = 0L

  /** Normalize raw envelope rows (op, lsn, ts, repo, path, after) to the
    * current payload columns ([[SchemaRegistry.normalized]]).
    *
    * A STRING `after` is JSON, parsed exactly once into a struct column
    * in its own projection (see SchemaRegistry.parsePayload). A STRUCT
    * `after` (typed binlog segments — Pipeline.writeLogSegments with
    * typedPayload) is used directly: NO row ever JSON-parses, the
    * per-field projection is plain codegen'd GetStructField. */
  def normalize(events: DataFrame): DataFrame = {
    val (parsed, payload) = events.schema("after").dataType match {
      case st: StructType => (col("after"), st)
      case _ => (SchemaRegistry.parsePayload(col("after")), SchemaRegistry.readSchema)
    }
    events.withColumn("_parsed", parsed).select(
      Seq(col("repo"), col("path"), col("op"), col("lsn"), col("ts")) ++
        SchemaRegistry.normalized(col("_parsed"), payload): _*)
  }

  /** One row per key: the event with the highest LSN wins; payload and
    * op ride along ([[graft.Graft.GraftOps.lastWriterWins]]). */
  def reduce(events: DataFrame): DataFrame =
    events.lastWriterWins(Seq("repo", "path"), col("lsn"))

  /** Two-stage salted variant for adversarial key floods: pre-reduce on
    * (key, salt) — salt derived from lsn so it needs no extra column in
    * the data — then final-reduce per key. */
  def saltedReduce(events: DataFrame, saltBuckets: Int = 64): DataFrame =
    reduce(events.withColumn("_salt", pmod(col("lsn"), lit(saltBuckets.toLong)))
      .lastWriterWins(Seq("repo", "path", "_salt"), col("lsn"))
      .drop("_salt"))

  /** Apply one epoch of raw envelope events to `table`, exactly-once by
    * epoch id. Late events whose keys were already overwritten by a
    * higher LSN in an earlier epoch are neutralized by the merge-on-read
    * `max_by(lsn)` reconstruction, so no per-key lsn guard join is
    * needed at write time.
    *
    * Every epoch writes its delta group at the current schema,
    * [[SchemaRegistry.maxVersion]]: `normalize` reads each row's payload
    * under every historical field name, so the batch's own era never
    * has to be known. Groups written at older eras by earlier engines
    * stay readable through their per-group schema version.
    *
    * Job structure per epoch (hot path = ONE data pipeline over the
    * batch, no cache):
    *  1. scan -> reduce -> DLQ classify -> normalize (JSON parse only on
    *     the one-row-per-key survivors) -> bucketed delta write, one
    *     pipeline whose `observe()` side-channels collect the global
    *     source LSN range + row count, the poison-row count and the
    *     applied key count / max LSN at zero extra passes;
    *  2. only when the poison count is above zero: the quarantine write,
    *     recomputed from the same reduced frame, after the data write
    *     and before the manifest commit (the upsert's `beforeCommit`);
    *  3. with an `audit`: the epoch's [[Lineage]] record — per-bucket
    *     ranges from the new group's parquet footers, plus the source
    *     range of step 1's observe() — built before the manifest commit
    *     and committed in the same manifest (see [[Audit]]). */
  def applyEpoch(
      spark: SparkSession,
      table: LakeTable,
      rawEvents: DataFrame,
      epochId: Long,
      audit: Option[Audit] = None,
      adaptive: Option[AdaptiveSalt] = None,
      dlq: Option[DeadLetterQueue] = None,
      // idempotence namespace: epoch ids are monotone PER WRITER (see
      // Snapshot.writerEpochs) — side-channel committers (DLQ replay)
      // pass their own id so they never collide with the stream's
      // batch-id sequence
      writer: String = LakeTable.DefaultWriter): ApplyStats = {
    val t0 = System.nanoTime()

    // high-water mark BEFORE this batch: events at or below it arrived
    // after something newer was already applied — the late-arrival
    // count the reference logs as out-of-range/fallback diagnostics
    // (TimeMultiPoint.py:312-315); LWW neutralizes them, the metric
    // makes them visible
    val prevMaxLsn = table.latest().map(_.maxLsn).getOrElse(-1L)
    val obs = org.apache.spark.sql.Observation(s"graft-epoch-$epochId-${System.nanoTime()}")
    // per-row schemaVersion is dead weight (normalize reads every
    // historical name) — drop it BEFORE the reduce so it never rides
    // the shuffle or the max_by struct buffer
    val baseMetrics = Seq(
      min(col("lsn")).as("min_lsn"),
      max(col("lsn")).as("max_lsn"),
      count(lit(1)).as("rows_in_batch"),
      sum(when(col("lsn") <= prevMaxLsn, 1L).otherwise(0L)).as("late_events"))
    val envelope = rawEvents
      .select("repo", "path", "op", "lsn", "ts", "after")
      .observe(obs, baseMetrics.head, baseMetrics.tail: _*)
    val reducedAll =
      if (adaptive.exists(_.engaged)) saltedReduce(envelope) else reduce(envelope)
    // poison-pill quarantine (opt-in): classify POST-reduce — O(keys) —
    // inside the write pipeline. The poison rows are counted by an
    // observe() on the write job itself; only when that count is above
    // zero is the quarantine set written, recomputed from the same
    // reduced frame, before the manifest commit. A clean epoch (the
    // common case) pays no extra job and grows no `epoch=` dir, and an
    // already-committed replay returns from upsert before either write.
    val (reduced, quarantine) = dlq match {
      case Some(q) =>
        val typed = rawEvents.schema("after").dataType.isInstanceOf[StructType]
        val classified = reducedAll.withColumn("_dlq_reason", q.reasonCol(typed))
        val poisonObs = org.apache.spark.sql.Observation(s"graft-dlq-$epochId-${System.nanoTime()}")
        val clean = classified
          .observe(poisonObs, count(col("_dlq_reason")).as("poison_rows"))
          .filter(col("_dlq_reason").isNull).drop("_dlq_reason")
        val writePoison = () => {
          val bad = classified.filter(col("_dlq_reason").isNotNull)
          // the count is absent when no row survived the filter (an
          // all-poison or empty epoch): adaptive execution then prunes
          // the observed subtree from the final plan — probe instead
          val poisoned = poisonObs.get.get("poison_rows") match {
            case Some(n: Long) => n > 0L
            case _ => !bad.isEmpty
          }
          if (poisoned) q.write(epochId, bad)
        }
        (clean, writePoison)
      case None => (reducedAll, () => ())
    }
    // exact applied-key count as a second observation on the POST-reduce
    // frame — keys-sized, a bare count, so it is genuinely free. (The
    // previous skew signal, approx_count_distinct inside the pre-reduce
    // CollectMetrics, evaluated an interpreted xxhash+HLL per INPUT row
    // and measured a 35% throughput tax on the 16M-event fixture —
    // rows/exact-keys is both cheaper and exact.)
    val keysObs = org.apache.spark.sql.Observation(s"graft-keys-$epochId-${System.nanoTime()}")
    // the committed high-water mark must be the max APPLIED lsn: observe
    // it POST-quarantine (without a DLQ it equals the envelope max —
    // the per-key max_by keeps the global max; with one, a quarantined
    // poison event must NOT advance the mark, or late_events miscounts
    // and a tombstone purge at `maxLsn - bound` can run while the
    // never-applied row still waits in the DLQ). The envelope-level
    // max_lsn stays in the lineage record as the SOURCE range scanned.
    val normalized = normalize(reduced)
      .observe(keysObs, count(lit(1)).as("keys_in_batch"),
        max(col("lsn")).as("max_applied_lsn"))
    // the lineage builder runs only on a written group, so the observed
    // write job has run and `obs` is complete
    audit.foreach(_.register(table))
    val lineage = audit.map(_ => (g: FileGroup) => {
      def stat(k: String): Long = obs.get.get(k).collect { case l: Long => l }.getOrElse(-1L)
      val buckets = bucketLineage(spark, s"${table.root}/${g.dir}")
      Lineage(epochId, stat("min_lsn"), stat("max_lsn"), stat("rows_in_batch"),
        stat("late_events"), SchemaRegistry.maxVersion, (System.nanoTime() - t0) / 1000000L, buckets)
    })
    val commit = table.upsert(normalized, epochId, SchemaRegistry.maxVersion,
      batchMaxLsn =
        keysObs.get.get("max_applied_lsn").collect { case l: Long => l }.getOrElse(-1L),
      writer = writer, beforeCommit = quarantine, lineage = lineage)

    val inputRows =
      if (commit.committed) obs.get.get("rows_in_batch").map(_.asInstanceOf[Long]).getOrElse(0L)
      else 0L
    // obs.get BLOCKS until the observed action ran — an idempotent
    // replay skip returns from upsert before any action, so the
    // observations must only be consulted on a committed epoch
    val appliedKeys =
      if (commit.committed)
        keysObs.get.get("keys_in_batch").collect { case l: Long => l }.getOrElse(-1L)
      else -1L
    // feed the controller AFTER the epoch (decides the NEXT epoch's
    // reduce shape); uncommitted replays carry no new signal
    adaptive.foreach { a =>
      if (commit.committed && appliedKeys > 0) a.update(inputRows.toDouble / appliedKeys)
    }

    val wallMs = (System.nanoTime() - t0) / 1000000L
    ApplyStats(epochId, inputRows, appliedKeys, commit.committed, wallMs, commit.snapshot)
  }

  /** (bucket, min lsn, max lsn, rows) per bucket of the group at
    * `groupDir`, from its parquet footers — O(files) metadata, no Spark
    * job. A group whose footers lack `lsn` statistics falls back to a
    * column-pruned scan (lsn + the bucket partition column) of that
    * group: O(applied keys), never a second pass over the raw batch. */
  private def bucketLineage(spark: SparkSession, groupDir: String): Seq[(Int, Long, Long, Long)] =
    ParquetStats.bucketRanges(spark, groupDir, "lsn").getOrElse(
      spark.read.parquet(groupDir)
        .groupBy(col("bucket"))
        .agg(min(col("lsn")), max(col("lsn")), count(lit(1)))
        .collect().toSeq.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))))

  /** Before-image lost-update audit — the consumer of the envelope's
    * `before` slot (Schema.scala). For each key's FIRST event in the
    * batch that carries a pre-image, compare the pre-image's content
    * sha256 against the CURRENT table state: a mismatch means the event
    * was captured against a state this table never served (a lost
    * update / out-of-band mutation between capture and apply). Returns
    * the flagged keys (repo, path, lsn, expected_sha, actual_sha).
    *
    * Only the batch's first event per key is checked (and only when it
    * carries a pre-image): later events' pre-images refer to intra-batch
    * predecessors, which the epoch apply collapses, and a key born
    * inside the batch has no state to compare against. Cost is O(batch
    * keys) — one agg + one key-equi join against state; a diagnostic
    * pass, not on the hot path.
    *
    * REQUIRES an in-order feed per key: with bounded disorder, a key's
    * first-in-batch event can carry the pre-image of an lsn-predecessor
    * that was displaced into a LATER epoch and is not applied yet, and
    * would be flagged spuriously. Run it on ordered feeds (or after a
    * disorder-absorbing dedup/sort stage), or treat flags as candidates
    * to re-check once the watermark passes. */
  def lostUpdateAudit(spark: SparkSession, table: LakeTable, rawEvents: DataFrame): DataFrame = {
    val first = rawEvents
      .groupBy(col("repo"), col("path"))
      .agg(min_by(struct(col("lsn"), col("before")), col("lsn")).as("_s"))
      .select(col("repo"), col("path"), col("_s.lsn").as("lsn"), col("_s.before").as("before"))
      .filter(col("before").isNotNull)
      .withColumn("_b",
        if (rawEvents.schema("before").dataType.isInstanceOf[StructType]) col("before")
        else SchemaRegistry.parsePayload(col("before")))
      // NUL sentinel so null content and "" content stay distinct
      // (the Oracle.digest convention)
      .select(col("repo"), col("path"), col("lsn"),
        sha2(coalesce(col("_b.content"), lit("\u0000")), 256).as("expected_sha"))
    val state = table.read(spark)
      .select(col("repo"), col("path"),
        sha2(coalesce(col("content"), lit("\u0000")), 256).as("actual_sha"))
    // left join: a pre-image for a key the table does not even have is
    // also a lost update (the captured row was deleted out-of-band)
    first.join(state, Seq("repo", "path"), "left")
      .filter(col("actual_sha").isNull || col("expected_sha") =!= col("actual_sha"))
  }
}
