package graft

import org.apache.spark.sql.SparkSession
import graft.cdc._

/** The spark-submit entrypoint (north rule: "run via spark-submit on
  * multi-executor clusters") — one thin CLI over the four operational
  * jobs of a long-lived table, each of which may run as its OWN
  * spark-submit invocation against the same table root (the manifest
  * CAS serializes them; MaintenanceJobSpec races all of them live):
  *
  * {{{
  * spark-submit --class graft.Submit graft.jar \
  *   tail <logDir> <tableDir> <checkpointDir> \
  *        [--audit DIR] [--dlq DIR] [--compact-every N] \
  *        [--adaptive-salt [THRESHOLD]] [--max-files-per-trigger N] \
  *        [--layout sniff|json|typed] [--writer ID]
  *   compact    <tableDir> [minDeltas] [--purge-tombstones-below LSN]
  *   vacuum     <tableDir> [keep] [graceMs]
  *   replay-dlq <dlqDir> <tableDir> [--max-driver-rows N]
  * }}}
  *
  * `vacuum` keeps the newest `keep` snapshots; the audit lineage of the
  * expired ones goes with them (it lives in their manifests).
  *
  * `tail` runs the checkpointed Structured-Streaming binlog tail with
  * Trigger.AvailableNow: it drains every segment not yet applied and
  * exits — rerunning resumes from the checkpoint, so a cron cadence
  * gives incremental ingestion and a long-running wrapper gives a
  * continuous stream; either way crash-resume and exactly-once come
  * from the epoch-keyed commit, not the scheduler. Executor count,
  * master and memory are spark-submit's own flags — nothing here
  * depends on cluster size (that is the point).
  */
object Submit {

  val usage: String =
    """usage:
      |  tail <logDir> <tableDir> <checkpointDir> [--audit DIR] [--dlq DIR]
      |       [--compact-every N] [--adaptive-salt [THRESHOLD]]
      |       [--max-files-per-trigger N] [--layout sniff|json|typed]
      |       [--writer ID]
      |  compact <tableDir> [minDeltas] [--purge-tombstones-below LSN]
      |  vacuum <tableDir> [keep] [graceMs]   (expired snapshots take their
      |       audit lineage with them)
      |  replay-dlq <dlqDir> <tableDir> [--max-driver-rows N]""".stripMargin

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) throw new IllegalArgumentException(usage)
    val spark = SparkSession.builder()
      .appName(s"graft-${args(0)}")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    run(spark, args)
  }

  /** Dispatch on a provided session (tests call this directly). */
  def run(spark: SparkSession, args: Array[String]): Unit = args.toList match {
    case "tail" :: logDir :: tableDir :: checkpointDir :: flags =>
      val opts = parseFlags(flags, allowed = Set("audit", "dlq", "compact-every",
        "adaptive-salt", "max-files-per-trigger", "layout", "writer"))
      Pipeline.runStream(
        spark, logDir, tableDir, checkpointDir,
        audit = opts.get("audit").map(new Audit(_)),
        maxFilesPerTrigger = opts.get("max-files-per-trigger").map(_.toInt).getOrElse(1),
        compactEvery = opts.get("compact-every").map(_.toInt).getOrElse(0),
        dlq = opts.get("dlq").map(new DeadLetterQueue(_)),
        adaptive = opts.get("adaptive-salt").map {
          case "" => new AdaptiveSalt()
          case t  => new AdaptiveSalt(t.toDouble)
        },
        // --layout json|typed pins the segment payload layout for a tail
        // started before its producer (nothing to sniff yet)
        layout = opts.getOrElse("layout", "sniff"),
        // --writer gives this tail its own idempotence namespace — set
        // it on every tail when MORE THAN ONE ingest job feeds a table
        writer = opts.getOrElse("writer", graft.cdc.LakeTable.DefaultWriter))

    case "compact" :: tableDir :: rest =>
      val (pos, flagList) = rest.span(!_.startsWith("--"))
      if (pos.sizeIs > 1) throw new IllegalArgumentException(usage)
      val opts = parseFlags(flagList, allowed = Set("purge-tombstones-below"))
      val minDeltas = pos.headOption.map(_.toInt).getOrElse(2)
      // tombstone retention: sweeps RETAIN op='D' rows (late lower-LSN
      // arrivals must still lose to the delete); the explicit horizon
      // purges them once the delivery contract bounds lateness. A
      // retention pass must reach tombstones ALREADY folded into base
      // groups (which a delta-threshold sweep never rewrites), so the
      // flag switches to the FULL compact().
      opts.get("purge-tombstones-below").map(longFlag("purge-tombstones-below")) match {
        case Some(purge) =>
          new LakeTable(tableDir).compact(spark, purge)
          println(s"""{"job":"compact","purged_below":$purge}""")
        case None =>
          val done = new LakeTable(tableDir).compactBuckets(spark, minDeltas)
          println(s"""{"job":"compact","buckets":${done.size}}""")
      }

    case "vacuum" :: tableDir :: rest if rest.sizeIs <= 2 =>
      val keep = rest.headOption.map(_.toInt).getOrElse(1)
      val grace = rest.drop(1).headOption.map(_.toLong).getOrElse(600000L)
      new LakeTable(tableDir).expireSnapshots(keep, grace)
      println(s"""{"job":"vacuum","keep":$keep}""")

    case "replay-dlq" :: dlqDir :: tableDir :: flags =>
      val opts = parseFlags(flags, allowed = Set("max-driver-rows"))
      val stats = new DeadLetterQueue(dlqDir).replay(spark, new LakeTable(tableDir),
        maxDriverRows = opts.get("max-driver-rows")
          .map(longFlag("max-driver-rows"))
          .getOrElse(DeadLetterQueue.DefaultMaxDriverRows))
      println(s"""{"job":"replay-dlq","applied":${stats.applied},""" +
        s""""remaining":${stats.remaining},"epoch":${stats.epoch.getOrElse(-1L)}}""")

    case _ => throw new IllegalArgumentException(usage)
  }

  /** `--k v` pairs; a flag followed by another flag (or nothing) is a
    * bare switch and maps to "". Unknown flags are REJECTED when the
    * command supplies its allowed set — a misspelled retention flag
    * silently running a sweep with no purge is an operator trap. */
  private def parseFlags(flags: List[String],
      allowed: Set[String] = Set.empty): Map[String, String] = {
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
      case Nil => acc
      case k :: v :: t if k.startsWith("--") && !v.startsWith("--") =>
        go(t, acc + (k.stripPrefix("--") -> v))
      case k :: t if k.startsWith("--") =>
        go(t, acc + (k.stripPrefix("--") -> ""))
      case other :: _ =>
        throw new IllegalArgumentException(s"unexpected argument '$other'\n$usage")
    }
    val opts = go(flags, Map.empty)
    if (allowed.nonEmpty) {
      val unknown = opts.keySet -- allowed
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"unknown flag(s): ${unknown.toSeq.sorted.map("--" + _).mkString(", ")}\n$usage")
    }
    opts
  }

  /** A flag documented to REQUIRE a value: a bare switch ("" value) or
    * junk gets the usage error, not a bare NumberFormatException. */
  private def longFlag(name: String)(v: String): Long =
    try v.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"--$name requires an integer value, got '$v'\n$usage")
    }
}
