package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{SparkEntry, Submit}
import graft.cdc._

/** The JVM half of the benchmark: runs one workload against graft's
  * public entry points with one closed-loop client, and writes what it
  * measured plus the outputs the Python half checks.
  *
  * usage: graftbench.Main <workload> <inputDir> <workDir> <trace 0|1> <cores>
  *
  * Writes <workDir>/out/result.json. Inputs (and the amount of work)
  * come from perfbench/run.py.
  */
object Main {

  final class Counts { var attempted = 0L; var failed = 0L }

  def main(args: Array[String]): Unit = {
    val Array(workload, in, work, traceArg, coresArg) = args
    val traced = traceArg == "1"
    val cores = coresArg.toInt
    val out = Paths.get(work, "out")
    Files.createDirectories(out)
    HeapPeak.install()

    if (workload == "setup") { // class-data-sharing dump: an engine start only
      val s = session(cores, work)
      s.range(1).count()
      s.stop()
      return
    }
    val spark = session(cores, work)
    val clock = new StartClock
    spark.sparkContext.addSparkListener(clock)
    spark.streams.addListener(clock.streams)
    val tracer = new Tracer
    val counts = new Counts
    val m = workload match {
      case "cdc_replay"    => cdcReplay(spark, in, work, traced, tracer, counts, cores, clock)
      case "tail_mixed"    => tailMixed(spark, in, work, traced, tracer, counts, clock)
      case "query_surface" => querySurface(spark, in, work, traced, tracer, counts)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (traced) tracer.write(out.resolve("spans.jsonl").toString)
    val metrics = m ++ Map("mem.peak_heap_mb" -> HeapPeak.peakMb)
    Files.writeString(out.resolve("result.json"), Json.obj(Seq(
      "attempted" -> counts.attempted, "failed" -> counts.failed, "metrics" -> metrics)))
    spark.stop()
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `statistics` "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** CPU seconds of all the JVM's threads so far. Unlike wall time, it
    * does not grow when the host steals CPU from this machine. */
  def cpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def segmentDirs(dir: String): Seq[Path] =
    Files.list(Paths.get(dir)).iterator().asScala.filter(_.getFileName.toString.startsWith("seg-"))
      .toSeq.sortBy(_.getFileName.toString)

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def dirFiles(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.count(f => f.getFileName.toString.endsWith(suffix)).toLong

  /** The final state as parquet for the reference check; returns the
    * bytes of that compact live-state copy (space amplification base). */
  private def exportState(spark: SparkSession, table: LakeTable, dir: Path): Long = {
    table.read(spark).write.mode("overwrite").parquet(dir.toString)
    dirBytes(dir)
  }

  /** Per-layer LakeTable and Audit numbers shared by the CDC workloads. */
  private def lakeLayers(spark: SparkSession, tracer: Tracer, table: LakeTable,
      stateBytes: Long, auditDir: String, dlqDir: Option[String],
      deltaGroupsMax: Int): Map[String, Any] = {
    val root = Paths.get(table.root)
    val written = (tracer.layerStages("apply") ++ tracer.layerStages("compact")).map(_.bytesOut).sum
    val compact = tracer.layerStages("compact")
    val versions = table.latest().map(_.version).getOrElse(0L)
    // buckets rewritten by compactions: bucket dirs of every base group
    val baseBuckets = (1L to versions).flatMap(v => table.snapshotAt(v).toSeq.flatMap(_.groups))
      .filter(_.kind == "base").map(_.dir).distinct
      .map(d => Files.list(root.resolve(d)).iterator().asScala
        .count(_.getFileName.toString.startsWith("bucket=")).toLong)
      .sum
    Map(
      "LakeTable.bytes_written" -> written,
      "LakeTable.files_written" -> dirFiles(root.resolve("data"), ".parquet"),
      "LakeTable.space_amp" -> dirBytes(root.resolve("data")).toDouble / math.max(1L, stateBytes),
      "LakeTable.manifest_versions" -> versions,
      "LakeTable.compact_s" -> tracer.sampledSeconds("LakeTable.compact"),
      "LakeTable.compact_buckets" -> baseBuckets,
      "LakeTable.compact_bytes_rewritten" -> compact.map(_.bytesOut).sum,
      "LakeTable.delta_groups.max" -> deltaGroupsMax,
      "Audit.flush_wait_s" -> tracer.sampledSeconds("Audit.flush"),
      "Audit.rows" -> new Audit(auditDir).read(spark).count(),
      "DeadLetterQueue.rows" -> dlqDir.map(d => new DeadLetterQueue(d).read(spark).count()).getOrElse(0L),
      "Apply.scan_probes" -> Apply.scanProbes(table.root))
  }

  /** Apply-layer numbers over `epochs` epochs, from the apply jobs. */
  private def applyLayers(tracer: Tracer, epochs: Int, rowsIn: Long, cores: Int): Map[String, Any] = {
    val st = tracer.layerStages("apply")
    val reduces = st.filter(w => w.shuffleRead > 0 && w.tasks > 1)
    val epochS = tracer.sampledSeconds("Apply.epoch")
    val keysOut = st.map(_.recordsOut).sum
    val e = math.max(epochs, 1)
    Map(
      "Apply.epoch_s" -> epochS / e,
      "Apply.driver_s" -> tracer.sampledSeconds("Apply.driver") / e,
      "Apply.jobs_per_epoch" -> tracer.jobsByLayer.getOrElse("apply", 0).toDouble / e,
      "Apply.rows_in" -> rowsIn,
      "Apply.keys_out" -> keysOut,
      "Apply.rows_per_key" -> rowsIn.toDouble / math.max(1L, keysOut),
      "Apply.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum,
      "Apply.spill_bytes" -> st.map(_.spill).sum,
      "Apply.task_skew" -> median(reduces.map(_.skew)),
      "Apply.cpu_util" -> st.map(_.cpuNs).sum / 1e9 / math.max(1e-9, epochS * cores),
      "Apply.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "ParquetStats.probe_s" -> tracer.sampledSeconds("ParquetStats.probe") / e)
  }

  private def pipelineLayers(tracer: Tracer, startLag: Seq[Double]): Map[String, Any] = {
    val p = tracer.progress.synchronized(tracer.progress.toList)
    def mean(keys: String*): Double =
      if (p.isEmpty) 0.0 else p.map { case (d, _) => keys.map(d.getOrElse(_, 0L)).sum }.sum / 1e3 / p.size
    Map(
      "Pipeline.stream_start_s" -> (if (startLag.isEmpty) 0.0 else startLag.sum / startLag.size),
      "Pipeline.trigger_s" -> mean("triggerExecution"),
      "Pipeline.trigger.addBatch_s" -> mean("addBatch"),
      "Pipeline.trigger.planning_s" -> mean("queryPlanning"),
      "Pipeline.trigger.offsets_s" -> mean("latestOffset", "getBatch"),
      "Pipeline.trigger.walCommit_s" -> mean("walCommit"),
      "Pipeline.batches" -> p.size)
  }

  // ---- cdc_replay ----------------------------------------------------

  /** Bulk catch-up: one `Pipeline.replaySegments` call over large JSON
    * segments with an Audit, after a one-segment warm-up replay into a
    * separate table. */
  def cdcReplay(spark: SparkSession, in: String, work: String, traced: Boolean,
      tracer: Tracer, counts: Counts, cores: Int, clock: StartClock): Map[String, Any] = {
    val cpu0 = cpuSeconds
    val warmCall = System.currentTimeMillis()
    val (_, coldS) = timed {
      Pipeline.replaySegments(spark, s"$in/warm", s"$work/warm-table", 1,
        audit = Some(new Audit(s"$work/warm-audit")))
    }
    counts.attempted += 1
    val coldCpu = cpuSeconds - cpu0
    val segs = segmentDirs(s"$in/log").size
    if (traced) tracer.attach(spark)
    val tableDir = s"$work/table"
    counts.attempted += segs
    val cpu1 = cpuSeconds
    val call = System.currentTimeMillis()
    val (stats, wall) =
      try timed {
        tracer.span("Pipeline.replaySegments", "replay") {
          Pipeline.replaySegments(spark, s"$in/log", tableDir, segs,
            audit = Some(new Audit(s"$work/audit")))
        }
      } catch {
        case e: Exception =>
          counts.failed += segs
          System.err.println(s"[perfbench] replay failed: $e")
          (Seq.empty[ApplyStats], 0.0)
      }
    val cpu2 = cpuSeconds
    if (traced) tracer.detach(spark)
    val table = new LakeTable(tableDir)
    val stateBytes = exportState(spark, table, Paths.get(work, "out", "state"))
    val rows = stats.map(_.inputRows).sum
    // set-up: from the replay call to its first Spark job (segment
    // listing, schema probe, first epoch's planning), warm-up included
    val starts = Seq(clock.jobStartAfter(warmCall), clock.jobStartAfter(call)).flatten
    val e2e = Map(
      "setup_s" -> median(starts),
      "setup_samples_s" -> starts,
      "cpu_s_per_unit" -> (cpu2 - cpu1) / math.max(rows / 1000.0, 1e-9),
      "cold_cpu_s" -> coldCpu,
      "throughput_per_s" -> rows / math.max(wall, 1e-9),
      "warmup_s" -> coldS,
      "samples" -> stats.size)
    if (!traced || stats.isEmpty) e2e
    else {
      // scaling pair: the first measured segment again, into a fresh
      // table, at a quarter of the cores (epoch apply time only, as
      // ApplyStats reports it for the full-core epoch above)
      val q = math.max(1, cores / 4)
      spark.stop()
      val small = session(q, work)
      val st0 = Pipeline.replaySegments(small, s"$in/log", s"$work/scaling-table", 1).head
      val rateQ = st0.inputRows / (st0.wallMs / 1e3)
      val rateFull = stats.head.inputRows / (stats.head.wallMs / 1e3)
      small.stop()
      val spark2 = session(cores, work)
      val lake = lakeLayers(spark2, tracer, table, stateBytes, s"$work/audit", None,
        table.latest().map(_.totalDeltaGroups).getOrElse(0))
      spark2.stop()
      e2e ++ applyLayers(tracer, segs, rows, cores) ++ lake ++ pipelineLayers(tracer, Nil) ++
        Map("cdc.scaling_eff" -> (rateFull / rateQ) / (cores.toDouble / q))
    }
  }

  // ---- tail_mixed ----------------------------------------------------

  /** Small typed segments land a few at a time (renamed into the tail
    * directory); each round is drained by `Submit tail` with the
    * production flags, then a reader does point lookups and one change
    * read since its last version. */
  def tailMixed(spark: SparkSession, in: String, work: String, traced: Boolean,
      tracer: Tracer, counts: Counts, clock: StartClock): Map[String, Any] = {
    def land(segs: Seq[String], from: String, tail: String): Unit = {
      Files.createDirectories(Paths.get(tail))
      segs.foreach(s => Files.move(Paths.get(from, s), Paths.get(tail, s)))
    }
    // seconds from each Submit.run call to its streaming query's start
    val startLag = scala.collection.mutable.ArrayBuffer[Double]()
    def drain(tail: String, table: String): Unit = {
      val call = System.nanoTime()
      Submit.run(spark, Array("tail", tail, s"$work/$table", s"$work/$table-ckpt",
        "--audit", s"$work/$table-audit", "--dlq", s"$work/$table-dlq",
        "--compact-every", "8", "--adaptive-salt", "--layout", "typed"))
      startLag ++= clock.streamStartAfter(call)
    }

    // warm-up round on its own table
    val warmSegs = segmentDirs(s"$in/warm").map(_.getFileName.toString)
    val cpu0 = cpuSeconds
    val (_, coldS) = timed {
      land(warmSegs, s"$in/warm", s"$work/warm-tail")
      drain(s"$work/warm-tail", "warm")
    }
    counts.attempted += 1
    val coldCpu = cpuSeconds - cpu0

    // rounds.tsv: round, comma-separated segments, events
    val rounds = Files.readAllLines(Paths.get(in, "rounds.tsv")).asScala.map(_.split("\t"))
      .map(a => (a(0).toInt, a(1).split(",").toSeq, a(2).toLong)).toSeq
    // lookups.tsv: round, repo, path
    val lookups = Files.readAllLines(Paths.get(in, "lookups.tsv")).asScala.map(_.split("\t"))
      .map(a => (a(0).toInt, a(1), a(2))).toSeq
    val tail = s"$work/tail"
    val table = new LakeTable(s"$work/table")
    if (traced) tracer.attach(spark)
    val fresh = scala.collection.mutable.ArrayBuffer[Double]()
    val lookupS = scala.collection.mutable.ArrayBuffer[Double]()
    val changesS = scala.collection.mutable.ArrayBuffer[Double]()
    val lookupOut = new StringBuilder
    val changesOut = new StringBuilder
    var drainS = 0.0
    var drainCpu = 0.0
    var events = 0L
    var changesRows = 0L
    var lastVersion = 0L
    var deltaMax = 0
    rounds.foreach { case (r, segs, ev) =>
      val landed = System.nanoTime()
      land(segs, s"$in/stage", tail)
      counts.attempted += 1
      try {
        val c0 = cpuSeconds
        val start = System.nanoTime()
        tracer.span("Submit.run", s"round-$r")(drain(tail, "table"))
        val done = System.nanoTime()
        drainCpu += cpuSeconds - c0
        fresh += (done - landed) / 1e9
        drainS += (done - start) / 1e9
        events += ev
      } catch { case e: Exception => counts.failed += 1; System.err.println(s"[perfbench] drain $r: $e") }
      deltaMax = math.max(deltaMax, table.latest().map(_.totalDeltaGroups).getOrElse(0))
      lookups.filter(_._1 == r).foreach { case (_, repo, path) =>
        counts.attempted += 1
        try {
          val (rows, dt) = timed {
            tracer.span("LakeTable.readKey", s"round-$r") {
              table.readKey(spark, repo, path).select("lsn", "content").collect()
            }
          }
          lookupS += dt
          val cell = rows.headOption.map(x => s"${x.getLong(0)}\t${sha256(x.getString(1))}").getOrElse("\t")
          lookupOut ++= s"$r\t$repo\t$path\t${rows.length}\t$cell\n"
        } catch { case e: Exception => counts.failed += 1; System.err.println(s"[perfbench] lookup: $e") }
      }
      counts.attempted += 1
      try {
        val head = table.latest().map(_.version).getOrElse(0L)
        val (n, dt) = timed {
          tracer.span("LakeTable.readChangesChunked", s"round-$r") {
            table.readChangesChunked(spark, lastVersion, head).changes.count()
          }
        }
        changesS += dt
        changesRows += n
        changesOut ++= s"$r\t$n\n"
        lastVersion = head
      } catch { case e: Exception => counts.failed += 1; System.err.println(s"[perfbench] changes: $e") }
    }
    if (traced) tracer.detach(spark)
    val out = Paths.get(work, "out")
    Files.writeString(out.resolve("lookups.tsv"), lookupOut.toString)
    Files.writeString(out.resolve("changes.tsv"), changesOut.toString)
    val stateBytes = exportState(spark, table, out.resolve("state"))
    val e2e = Map(
      // set-up: graft's start of a tail, the warm-up drain's included
      "setup_s" -> median(startLag.toSeq),
      "setup_samples_s" -> startLag.toSeq,
      "cpu_s_per_unit" -> drainCpu / math.max(events / 1000.0, 1e-9),
      "cold_cpu_s" -> coldCpu,
      "throughput_per_s" -> events / math.max(drainS, 1e-9),
      "tail.freshness_s.p50" -> median(fresh.toSeq),
      "tail.freshness_s.tail" -> (if (fresh.isEmpty) 0.0 else fresh.max),
      "read.lookup_s.p50" -> median(lookupS.toSeq),
      "read.lookup_s.tail" -> quantile(lookupS.toSeq, 0.9),
      "read.changes_s.p50" -> median(changesS.toSeq),
      "warmup_s" -> coldS,
      "samples" -> fresh.size,
      "lookup_samples" -> lookupS.size)
    if (!traced) e2e
    else {
      val batches = tracer.progress.synchronized(tracer.progress.size)
      val rowsIn = tracer.progress.synchronized(tracer.progress.map(_._2).sum)
      val reads = math.max(1, tracer.named("LakeTable.readKey").size)
      val (readFiles, readBytes) = tracer.readIn("LakeTable.readKey")
      e2e ++ applyLayers(tracer, batches, rowsIn, spark.sparkContext.defaultParallelism) ++
        lakeLayers(spark, tracer, table, stateBytes, s"$work/table-audit", Some(s"$work/table-dlq"),
          deltaMax) ++
        pipelineLayers(tracer, startLag.drop(1).toSeq) ++ Map(
          "LakeTable.readKey_files_scanned" -> readFiles.toDouble / reads,
          "LakeTable.readKey_bytes_read" -> readBytes.toDouble / reads,
          "LakeTable.readChanges_rows" -> changesRows)
    }
  }

  def sha256(s: String): String =
    if (s == null) ""
    else java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // ---- query_surface -------------------------------------------------

  private val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = {
    import graft.operators._
    Seq("Relational" -> Relational.all, "TextOps" -> TextOps.all, "DedupOps" -> DedupOps.all,
      "SimilarityOps" -> SimilarityOps.all, "CdcOps" -> CdcOps.all,
      "MultimodalOps" -> MultimodalOps.all, "ExtraOps" -> ExtraOps.all,
      "ToleranceOps" -> ToleranceOps.all, "StencilOps" -> StencilOps.all,
      "GeomOps" -> GeomOps.all, "ScatterOps" -> ScatterOps.all)
  }

  /** The listed `SparkEntry.queries` in name order: one cold pass (first
    * run in the JVM), then warm passes. */
  def querySurface(spark: SparkSession, in: String, work: String,
      traced: Boolean, tracer: Tracer, counts: Counts): Map[String, Any] = {
    val dir = s"$in/q"
    val names = Files.readAllLines(Paths.get(in, "queries.txt")).asScala.map(_.trim)
      .filter(_.nonEmpty).toSeq.sorted
    val moduleOf = names.map(n => n -> modules.collectFirst { case (m, qs) if qs.contains(n) => m }
      .getOrElse("unknown")).toMap
    spark.read.parquet(s"$dir/nation.parquet").count() // first I/O, as Bench does
    if (traced) tracer.attach(spark)

    // every timed pass writes to the noop sink, as graft.Bench times
    // queries. Per query: (seconds to build its DataFrame, seconds in all)
    def pass(label: String): Map[String, (Double, Double)] = names.flatMap { n =>
      counts.attempted += 1
      try {
        var buildS = 0.0
        val (_, dt) = timed {
          tracer.span(s"query.$label", n) {
            val (df, b) = timed(SparkEntry.queries(n)(spark, dir))
            buildS = b
            df.write.mode("overwrite").format("noop").save()
          }
        }
        Some(n -> (buildS, dt))
      } catch {
        case e: Exception =>
          counts.failed += 1
          System.err.println(s"[perfbench] $n ($label) failed: $e")
          None
      } finally spark.catalog.clearCache()
    }.toMap

    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val (classes0, compile0) = (codegen.getCount, gen.compileTime)
    val coldFrom = System.currentTimeMillis()
    val cpu0 = cpuSeconds
    val cold = pass("cold").view.mapValues(_._2).toMap
    val cpu1 = cpuSeconds
    val coldTo = System.currentTimeMillis()
    val (classes1, compile1) = (codegen.getCount, gen.compileTime)
    val mark = if (traced) tracer.mark(spark) else (0, Set.empty[Int])
    val warmPasses = Files.readString(Paths.get(in, "warm_passes")).trim.toInt
    val warmFrom = System.currentTimeMillis()
    val cpu2 = cpuSeconds
    val warmRuns = (1 to warmPasses).map(_ => pass("warm"))
    val warmTo = System.currentTimeMillis()
    val warmCpu = cpuSeconds - cpu2
    // per query: median over the warm passes
    val warm = names.flatMap(n => {
      val xs = warmRuns.flatMap(_.get(n)).map(_._2)
      if (xs.isEmpty) None else Some(n -> median(xs))
    }).toMap
    // set-up: graft building the queries' DataFrames (its own plan
    // construction, Spark's analysis, schema reads), median over the
    // warm passes
    val buildS = warmRuns.map(_.values.map(_._1).sum)
    val traceStats = if (!traced) None else {
      val js = tracer.since(spark, mark)
      tracer.detach(spark)
      Some(js)
    }

    // the results for the oracle check: one more pass, untimed, as parquet
    val qOut = Files.createDirectories(Paths.get(work, "out", "q"))
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(qOut.resolve(n).toString)
      catch { case e: Exception => System.err.println(s"[perfbench] $n (export) failed: $e") }
      finally spark.catalog.clearCache()
    }
    Files.writeString(qOut.resolve("oracle_sql.json"),
      Json.obj(SparkEntry.oracleSql.toSeq.filter(kv => names.contains(kv._1))))

    val coldTotal = cold.values.sum
    val warmTotal = warm.values.sum
    val e2e = Map(
      "setup_s" -> median(buildS),
      "setup_samples_s" -> buildS,
      "cpu_s_per_unit" -> warmCpu / math.max(1, names.size * warmPasses),
      "cold_cpu_s" -> (cpu1 - cpu0),
      "throughput_per_s" -> warm.size / math.max(warmTotal, 1e-9),
      "q.total_cold_s" -> coldTotal,
      "q.total_warm_s" -> warmTotal,
      "warmup_s" -> 0.0,
      "samples" -> warm.size,
      "q.cold_by_query" -> cold,
      "q.warm_by_query" -> warm,
      "q.build_by_query" -> names.map(n => n -> median(warmRuns.flatMap(_.get(n)).map(_._1))).toMap)
    traceStats.fold(e2e) { case (jobs, stages) =>
      val warmPlan = tracer.planSeconds(warmFrom, warmTo) / warmPasses
      val perModule = modules.map(_._1).flatMap { m =>
        val qs = names.filter(moduleOf(_) == m)
        Seq(s"operators.$m.cold_s" -> qs.flatMap(cold.get).sum,
          s"operators.$m.warm_s" -> qs.flatMap(warm.get).sum)
      }
      val multi = stages.filter(_.tasks > 1)
      e2e ++ perModule ++ Map(
        "operators.plan_s" -> tracer.planSeconds(coldFrom, coldTo),
        "operators.codegen_s" -> (compile1 - compile0) / 1e9,
        "operators.codegen_classes" -> (classes1 - classes0),
        "operators.cold_gap_s" -> (coldTotal - warmTotal),
        "operators.exec_s" -> (warmTotal - warmPlan),
        "operators.jobs" -> jobs.toDouble / warmPasses,
        "operators.stages" -> stages.size.toDouble / warmPasses,
        "operators.shuffle_bytes" -> stages.map(_.shuffleWrite).sum.toDouble / warmPasses,
        "operators.spill_bytes" -> stages.map(_.spill).sum.toDouble / warmPasses,
        "operators.task_skew.max" -> (if (multi.isEmpty) 1.0 else multi.map(_.skew).max),
        "operators.gc_s" -> stages.map(_.gcMs).sum / 1e3 / warmPasses)
    }
  }
}

/** When graft's calls reach Spark, for the set-up times: the start of
  * each streaming query (taken on the query's own thread, which hands
  * the start event to the session's listeners before its first trigger)
  * and of each job (as the scheduler stamps it). Installed in every run,
  * traced or not; it keeps one timestamp per event. */
final class StartClock extends SparkListener {
  private val jobsMs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val queriesNs = new ConcurrentLinkedQueue[java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobsMs.add(e.time)

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queriesNs.add(System.nanoTime())
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Seconds from `fromNs` (System.nanoTime) to the next streaming query start. */
  def streamStartAfter(fromNs: Long): Option[Double] =
    queriesNs.asScala.map(_.longValue).filter(_ >= fromNs).minOption.map(t => (t - fromNs) / 1e9)

  /** Seconds from `fromMs` (epoch ms) to the next job start. The job
    * events arrive on Spark's listener bus, so ask after the call returned. */
  def jobStartAfter(fromMs: Long): Option[Double] =
    jobsMs.asScala.map(_.longValue).filter(_ >= fromMs).minOption.map(t => (t - fromMs) / 1e3)
}

/** Peak live heap: the largest heap occupancy seen right after a
  * garbage collection (what the program retained, not the garbage it
  * had not collected yet), in MiB. */
object HeapPeak {
  @volatile private var peak = 0L

  def install(): Unit = {
    import javax.management.{NotificationEmitter, NotificationListener, Notification}
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.openmbean.CompositeData
    val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools.contains(pool) => u.getUsed
        }.sum
        synchronized { peak = math.max(peak, used) }
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }

  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  /** The peak, or the current occupancy if no collection ran yet. */
  def peakMb: Double =
    (if (peak > 0L) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) /
      (1024.0 * 1024.0)
}
