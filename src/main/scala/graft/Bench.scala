package graft

import org.apache.spark.sql.SparkSession
import graft.cdc._

/** Per-round benchmark main. Emits ONE JSON line:
  *   - `queries`: wall seconds per SparkEntry query at SPARK_GRAFT_SF_DIR
  *   - `cdc`: the north-rule measurement — sustained apply throughput
  *     (delivered change-events/sec, generate -> dedup/LWW reduce ->
  *     normalize -> bucketed lake upsert + lineage audit, per epoch)
  *     at TWO parallelism levels (local[8] vs local[32], the sandbox
  *     stand-in for N vs 4N executors) on the SAME input, plus
  *     scaling efficiency eff = (thr@32 / thr@8) / 4.
  *
  * The 10^10-event design point is NOT run in-sandbox; the generator is
  * scale-free (pure expressions of (seed, i)) and the measured figure is
  * the MEDIAN of 3 sustained events/sec replays (min/max reported
  * alongside) at SPARK_GRAFT_CDC_EVENTS (default 8M).
  */
object Bench {

  /** Fast scratch space: tmpfs when available (the sandbox stand-in for
    * cluster-local NVMe shuffle disks), else java.io.tmpdir. */
  private val scratchRoot: String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isWritable(shm)) "/dev/shm/graft-bench"
    else sys.props("java.io.tmpdir") + "/graft-bench"
  }

  private def rmTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { st =>
        st.iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      }
    }
  }

  private def session(cores: Int, shufflePartitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.local.dir", s"$scratchRoot/spark-local")
      .config("spark.sql.adaptive.enabled", "true")
      // the synthetic binlog is ~0.5-1 GB/epoch in ~32 snappy files; the
      // 128 MB default packs that into ~6 scan splits, so the whole
      // codegen'd map side (scan -> project -> partial LWW agg) runs 6
      // tasks on 32 cores. A real 100-TB input is never split-starved —
      // 16 MB here restores the real regime (40+ map tasks/epoch).
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The bench change-log shape: keyspace sized for ~12 events/key —
    * the steady-state CDC regime (repeated updates per key), matching
    * the 10^10-events-over-10^8-keys design point's update ratio. */
  private def benchCfg(numEvents: Long): GenConfig =
    GenConfig(numEvents = numEvents, numRepos = 5000L, pathsPerRepo = 100L)

  /** One full CDC replay at a given parallelism over pre-materialized
    * binlog segments at `logDir` (a real binlog arrives as stored
    * bytes, so the timed path starts at scan); returns events/sec of
    * each of THREE timed replays (fresh table each time, same warm JVM)
    * so the caller can report median + min/max — the sandbox VM takes
    * multi-second hypervisor steal bursts, and a single measurement
    * (or a silent best-of) hides that variance. */
  private def cdcRun(cores: Int, numEvents: Long, epochs: Int, logDir: String): Seq[Double] = {
    val spark = session(cores, math.max(cores, 32))
    val dir = s"$scratchRoot/c$cores"
    try {
      val cfg = benchCfg(numEvents)
      // warm-up: one full UNTIMED replay of the same segments — the
      // timed path is parquet scan -> agg codegen -> parquet write, and
      // a generator-based mini warm-up leaves all of that cold (the
      // first timed replays ran 2-4x slower than steady state)
      Pipeline.replaySegments(spark, logDir, s"$dir/warm", epochs)
      // SPARK_GRAFT_CDC_COMPACT=N enables the per-bucket incremental
      // compaction cadence INSIDE the timed replay (delta-group
      // threshold N) — the bench row showing the hot path stays within
      // noise while file counts stay bounded; 0 (default) = off
      val compactEvery = sys.env.getOrElse("SPARK_GRAFT_CDC_COMPACT", "0").toInt
      // SPARK_GRAFT_CDC_ADAPTIVE=<threshold> attaches the skew
      // controller (signal = rows_in_batch over the EXACT key count
      // observed on the post-reduce frame — measured free; the earlier
      // pre-reduce HLL design cost 35%, see BENCH.md) — the A/B row
      // for "the controller is free when it does not trip". A FRESH
      // controller per replay: engaged-state must not leak run-to-run
      // or the three replays stop being identical.
      val adaptiveThreshold = sys.env.get("SPARK_GRAFT_CDC_ADAPTIVE").map(_.toDouble)
      (1 to 3).map { run =>
        val adaptive = adaptiveThreshold.map(new AdaptiveSalt(_))
        val audit = new Audit(s"$dir/audit$run")
        val t0 = System.nanoTime()
        val stats = Pipeline.replaySegments(spark, logDir, s"$dir/t$run", epochs,
          Some(audit), compactEvery = compactEvery, adaptive = adaptive)
        val wallSec = (System.nanoTime() - t0) / 1e9
        // apply-vs-maintenance split + the bounded-file-count evidence:
        // wallMs covers applyEpoch only, so residual = compaction sweeps
        // (+ footer probes); deltaGroups is the quantity the cadence caps
        val applySec = stats.map(_.wallMs).sum / 1e3
        val table = new LakeTable(s"$dir/t$run")
        System.err.println(f"[bench] cores=$cores run=$run apply=$applySec%.1fs " +
          f"residual=${wallSec - applySec}%.1fs deltaGroups=${table.deltaGroupCount} " +
          s"epoch wallMs: ${stats.map(_.wallMs).mkString(", ")} " + f"total=$wallSec%.1fs" +
          adaptive.map(a => s" adaptiveEngaged=${a.engaged}").getOrElse(""))
        ChangeLogGen.physicalRows(cfg).toDouble / wallSec
      }
    } finally {
      spark.stop()
      rmTree(dir)
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Memory-subsystem scaling ceiling at `threads` workers, measured
    * with a SHUFFLE-WRITER pattern rather than a pure memcpy (the
    * round-2 arraycopy probe was disputable as unrepresentative): each
    * worker streams a 64 MB source, hashes every element (the
    * partitioner), and appends it to one of 32 per-"reducer" bucket
    * cursors spread across a 64 MB destination — sequential reads +
    * dependent integer hash + 32 interleaved sequential write streams,
    * exactly the byte/compute mix of a hash-shuffle map task (shuffle
    * writers append to per-partition buffers; they do NOT write to
    * random addresses, which probes latency, not bandwidth, and proved
    * too noisy to be a ceiling). Deadline is checked every 1M elements
    * so run length quantizes finely. Reported as bytes touched/sec. A
    * single-socket box's DRAM controllers saturate long before 32
    * threads; a real N -> 4N EXECUTOR scale-up multiplies sockets/DRAM/
    * disks by 4 and does not hit this wall — engine efficiency is also
    * reported against this ceiling. */
  private def hwMemBandwidth(threads: Int): Double = {
    val deadlineNs = System.nanoTime() + 2000000000L
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val ts = (1 to threads).map { t =>
      val th = new Thread(() => {
        val n = 8 * 1024 * 1024 // 64 MB of longs per array
        val buckets = 32
        val bucketLen = n / buckets
        val src = new Array[Long](n)
        val dst = new Array[Long](n)
        val cursor = new Array[Int](buckets)
        var i = 0
        while (i < n) { src(i) = i * 0x9E3779B97F4A7C15L + t; i += 1 }
        java.util.Arrays.fill(dst, 1L) // fault pages in before timing
        val chunk = 1024 * 1024
        var total = 0L
        var done = false
        while (!done) {
          var c = 0
          while (c < n && !done) {
            var j = c
            val end = c + chunk
            while (j < end) {
              var h = src(j)
              h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 29
              val b = (h & 0x7FFFFFFFL).toInt % buckets
              val cur = cursor(b)
              dst(b * bucketLen + cur) = h
              cursor(b) = (cur + 1) & (bucketLen - 1)
              j += 1
            }
            total += 16L * chunk // 8 bytes read + 8 appended per element
            if (System.nanoTime() >= deadlineNs) done = true
            c = end
          }
        }
        if (dst(0) == 42L) println("") // defeat dead-code elimination
        bytes.addAndGet(total)
      })
      th.start(); th
    }
    val t0 = System.nanoTime()
    ts.foreach(_.join())
    bytes.get() / ((System.nanoTime() - t0) / 1e9)
  }

  /** Pure-CPU scaling ceiling of THIS box at `threads` workers — a tight
    * xxhash-style integer loop, no memory traffic. The reported engine
    * scaling efficiency should be read against this ceiling: a shared
    * VM with hypervisor steal cannot reach 1.0 even for perfectly
    * parallel work. */
  private def hwThroughput(threads: Int): Double = {
    val itersPerThread = 600000000L
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { i =>
      val th = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + i
        var n = 0L
        while (n < itersPerThread) {
          x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; x ^= x >>> 29
          n += 1
        }
        if (x == 42L) println("") // defeat dead-code elimination
      })
      th.start(); th
    }
    ts.foreach(_.join())
    threads * itersPerThread / ((System.nanoTime() - t0) / 1e9)
  }

  /** Run one CDC measurement in a dedicated JVM pinned to `cores` CPUs
    * (taskset) with the JVM's own sizing told the truth
    * (-XX:ActiveProcessorCount) and per-core-proportional heap — the
    * faithful single-box emulation of an N-core executor fleet. In the
    * parent JVM, local[8] would still enjoy 32 cores of GC/JIT/IO
    * threads, overstating the small-cluster throughput and understating
    * scaling efficiency. Returns (cdc events/sec, hw cpu ops/sec,
    * hw memory bandwidth bytes/sec). */
  private def cdcSubprocess(cores: Int, events: Long, epochs: Int,
      logDir: String): (Seq[Double], Double, Double) = {
    val javaBin = sys.props("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    // fixed, pre-touched heap sized per core: G1 heap GROWTH under
    // 32-thread allocation pressure page-faults tens of GB and produced
    // multi-second stalls (measured 35-65s epoch outliers); Xms=Xmx +
    // AlwaysPreTouch eliminates them entirely
    val heapGb = math.max(4, cores / 2) // pretouch cost scales with heap; 16g@32 suffices
    val pin =
      if (new java.io.File("/usr/bin/taskset").exists())
        Seq("/usr/bin/taskset", "-c", s"0-${cores - 1}")
      else Nil
    val cmd = pin ++ Seq(javaBin, s"-XX:ActiveProcessorCount=$cores",
      s"-Xmx${heapGb}g", s"-Xms${heapGb}g", "-XX:+AlwaysPreTouch",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC") ++ addOpens ++
      Seq("-cp", sys.props("java.class.path"), "graft.Bench",
        "cdc-only", cores.toString, events.toString, epochs.toString, logDir)
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toSeq
    proc.waitFor()
    // surface the subprocess's own diagnostics (the per-run [bench]
    // split with per-epoch wall times) — the endurance/flood evidence
    out.filter(_.startsWith("[bench]"))
      .foreach(System.err.println)
    def grabLine(prefix: String): Option[String] =
      out.collectFirst { case s if s.startsWith(prefix) => s.stripPrefix(prefix) }
    def missing(prefix: String): Unit =
      System.err.println(s"[bench] subprocess (cores=$cores) missing $prefix; tail:\n" +
        out.takeRight(15).mkString("\n"))
    def grab(prefix: String): Double =
      grabLine(prefix).map(_.toDouble).getOrElse { missing(prefix); -1.0 }
    val runs = grabLine("CDC_RUNS_EVENTS_PER_SEC=")
      .map(_.split(",").toSeq.map(_.toDouble))
      .getOrElse { missing("CDC_RUNS_EVENTS_PER_SEC="); Seq(-1.0) }
    (runs, grab("HW_OPS_PER_SEC="), grab("HW_MEM_BYTES_PER_SEC="))
  }

  /** `Bench queries [--repeats N] [--plans TAG] [query...]`: times each
    * selected SparkEntry query (default: all, by name) N times (default
    * 3) on the noop sink, in the same session, sf dir and core count as
    * the full bench. `--plans TAG` first writes each query's
    * `explain("formatted")` to plans/r07/<query>_<TAG>.txt. Prints one
    * `BENCHX` line per query and a closing `BENCHX_TOTAL`; no JSON. */
  private def timeQueries(args: Seq[String], sfDir: String, cpus: Int): Unit = {
    var repeats = 3
    var plansTag: Option[String] = None
    val names = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--repeats" => repeats = args(i + 1).toInt; i += 2
        case "--plans"   => plansTag = Some(args(i + 1)); i += 2
        case q           => names += q; i += 1
      }
    }
    val spark = session(cpus, cpus)
    spark.read.parquet(s"$sfDir/nation.parquet").count() // warm I/O + JVM

    val selected =
      if (names.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else names.toSeq.map(n => n -> SparkEntry.queries(n))

    val results = selected.map { case (name, fn) =>
      plansTag.foreach { tag =>
        val dir = java.nio.file.Paths.get("plans/r07")
        java.nio.file.Files.createDirectories(dir)
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(dir.resolve(s"${name}_$tag.txt"), plan)
        spark.catalog.clearCache()
      }
      spark.sparkContext.setJobDescription(name)
      val times = (1 to repeats).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      spark.sparkContext.setJobDescription(null)
      val (lo, med) = (times.min, median(times))
      println(f"BENCHX $name%-28s min=$lo%.3f med=$med%.3f " +
        s"all=[${times.map(t => f"$t%.3f").mkString(",")}]")
      (lo, med)
    }
    println(f"BENCHX_TOTAL min_sum=${results.map(_._1).sum}%.3f " +
      f"med_sum=${results.map(_._2).sum}%.3f queries=${results.size}")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.length == 5 && args(0) == "cdc-only") {
      val cores = args(1).toInt
      val hw = hwThroughput(cores)
      val mem = hwMemBandwidth(cores)
      val runs = cdcRun(cores, args(2).toLong, args(3).toInt, args(4))
      println(f"HW_OPS_PER_SEC=$hw%.0f")
      println(f"HW_MEM_BYTES_PER_SEC=$mem%.0f")
      println("CDC_RUNS_EVENTS_PER_SEC=" + runs.map(r => f"$r%.1f").mkString(","))
      return
    }

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    if (args.headOption.contains("queries")) {
      timeQueries(args.toSeq.tail, sfDir, cpus)
      return
    }
    // 16M events in 2 epochs (round-2 ran 8M/4): per-epoch fixed costs
    // (job planning, manifest commit, footer probe) are SERIAL and tax
    // the fast parallelism level disproportionately — Amdahl on the
    // epoch envelope, not the engine. Larger epochs amortize them; the
    // 10^10 design point's epochs are larger still.
    val cdcEvents = sys.env.getOrElse("SPARK_GRAFT_CDC_EVENTS", "16000000").toLong
    val cdcEpochs = sys.env.getOrElse("SPARK_GRAFT_CDC_EPOCHS", "2").toInt

    // Skip the ~5-min query-timing phase when only the CDC scaling
    // figure is being (re)sampled — this box takes multi-minute noise
    // windows, and hunting for a quiet-host CDC sample must be cheaper
    // than a full bench. The published artifact comes from a full run.
    val skipQueries = sys.env.get("SPARK_GRAFT_SKIP_QUERIES").contains("1")

    // ---- query timings at sfDir -----------------------------------
    // SPARK_GRAFT_CDC_TYPED=1 writes the binlog segments in the TYPED
    // struct-payload layout (no JSON parse anywhere in the replay —
    // Pipeline.typedEnvelopeSchema); default stays the JSON layout for
    // round-over-round comparability. The layout is recorded in the
    // emitted JSON ("payload").
    val typedLog = sys.env.get("SPARK_GRAFT_CDC_TYPED").contains("1")

    val spark = session(cpus, cpus)
    spark.read.parquet(s"$sfDir/nation.parquet").count() // warm I/O + JVM
    // materialize the shared binlog fixture once, reusing this session
    val logDir = s"$scratchRoot/log"
    rmTree(logDir)
    Pipeline.writeLogSegments(spark, benchCfg(cdcEvents), logDir, cdcEpochs,
      filesPerSegment = 0, typedPayload = typedLog)
    // SPARK_GRAFT_CDC_FLOOD_SEG=N rewrites segment N into an adversarial
    // key flood (all events collapse onto 4 hot repos, ~400 distinct
    // keys) — the endurance scenario for the adaptive-salt controller:
    // run with SPARK_GRAFT_CDC_ADAPTIVE and read the [bench] line's
    // per-epoch wall times to see the trigger flip after the flood epoch
    // and release one epoch later
    sys.env.get("SPARK_GRAFT_CDC_FLOOD_SEG").map(_.toInt).foreach { sIdx =>
      import org.apache.spark.sql.functions._
      val seg = f"$logDir/seg-$sIdx%05d"
      val schema = if (typedLog) Pipeline.typedEnvelopeSchema else Pipeline.envelopeSchema
      spark.read.schema(schema).parquet(seg)
        .withColumn("repo",
          concat(lit("org/hot-"), pmod(xxhash64(col("path")), lit(4L))))
        .write.mode("overwrite").parquet(s"$seg.flood")
      rmTree(seg)
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$seg.flood"),
        java.nio.file.Paths.get(seg))
      System.err.println(s"[bench] segment $sIdx rewritten as a 4-hot-repo key flood")
    }
    // Per-query failures are NOT swallowed: a crashed query must read
    // as a failure, not as a suspiciously fast timing.
    val results = (if (skipQueries) Seq.empty else SparkEntry.queries.toSeq.sortBy(_._1))
      .map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable => Some(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      err.foreach(e => System.err.println(s"[bench] QUERY FAILED $name: $e"))
      // drop Materialize'd DISK_ONLY intermediates between queries
      // (outside the timed window — cleanup, not query work)
      spark.catalog.clearCache()
      (name, dt, err.isEmpty)
    }
    spark.stop()

    // ---- CDC dual-parallelism throughput (isolated JVMs) -----------
    // SPARK_GRAFT_LADDER=1 adds the 16- and 24-thread rungs: the
    // 4-point ladder regressed against the per-level DRAM probe is the
    // evidence that the single-box scaling ceiling is the memory
    // subsystem, not the engine (round-3 verdict #1).
    val ladderOn = sys.env.get("SPARK_GRAFT_LADDER").contains("1")
    // the 4-thread rung gives a second N->4N pair (4->16) at which
    // NEITHER end saturates the single socket's DRAM — the pair where
    // engine scaling is observable separately from the memory ceiling.
    // SPARK_GRAFT_LADDER_LEVELS (e.g. "4,16") narrows a sampling run to
    // specific rungs so a sample fits inside one quiet-host window.
    val levels = sys.env.get("SPARK_GRAFT_LADDER_LEVELS")
      .map(_.split(",").toSeq.map(_.trim.toInt))
      .getOrElse(if (ladderOn) Seq(4, 8, 16, 24, 32) else Seq(8, 32))
    val perLevel: Map[Int, (Seq[Double], Double, Double)] =
      levels.map(c => c -> cdcSubprocess(c, cdcEvents, cdcEpochs, logDir)).toMap
    // headline pair = the min and max rungs that actually ran; the
    // efficiency divisor is their true thread ratio (a "4,16" or "2,8"
    // sampling run previously reported under mislabeled 8/32 keys with
    // a hardcoded /4 divisor — only correct when max = 4x min)
    val (loT, hiT) = (levels.min, levels.max)
    val (runs8, hw8, mem8) = perLevel(loT)
    val (runs32, hw32, mem32) = perLevel(hiT)
    rmTree(logDir)
    val ratio = hiT.toDouble / loT.toDouble
    val (thr8, thr32) = (median(runs8), median(runs32))
    val eff = (thr32 / thr8) / ratio
    val hwCeiling = (hw32 / hw8) / ratio
    val memCeiling = (mem32 / mem8) / ratio

    // per-rung DRAM-fit: predicted throughput at L threads if the engine
    // scaled exactly with the measured memory-bandwidth probe
    // (thr8 * memL/mem8); fit = measured / predicted. fit ~ 1 across the
    // ladder means the engine tracks the DRAM ceiling, not its own
    // serial sections.
    val ladderJson = if (ladderOn) {
      val entries = levels.map { c =>
        val (runs, hw, mem) = perLevel(c)
        val thr = median(runs)
        val pred = median(runs8) * (mem / mem8)
        f"""{"threads":$c,"events_per_sec":$thr%.0f,"runs":${runs.map(r => f"$r%.0f").mkString("[", ",", "]")},"hw_ops_per_sec":$hw%.0f,"mem_bw_gbps":${mem / 1e9}%.1f,"dram_fit_pred_events_per_sec":$pred%.0f,"thr_over_dram_fit":${thr / pred}%.3f}"""
      }
      // every N->4N pair the ladder contains (4->16, 2->8, 8->32, ...)
      val pairEffs = levels.filter(c => perLevel.contains(c) && perLevel.contains(4 * c))
        .map { c =>
          f""","scaling_efficiency_${c}_to_${4 * c}":${(median(perLevel(4 * c)._1) / median(perLevel(c)._1)) / 4.0}%.3f"""
        }.mkString
      entries.mkString(""","ladder":[""", ",", "]") + pairEffs
    } else ""

    val qs = results.map { case (k, v, _) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }.mkString("[", ",", "]")
    val total = results.map(_._2).sum
    def arr(xs: Seq[Double]) = xs.map(x => f"$x%.0f").mkString("[", ",", "]")
    // legacy local8/local32 keys are emitted ONLY when those rungs ran
    // (the driver's historical field names); the rung-parameterized
    // fields are authoritative for any sampling run
    val legacy =
      if (loT == 8 && hiT == 32)
        f""","events_per_sec_local8":$thr8%.0f,"events_per_sec_local32":$thr32%.0f,"runs_local8":${arr(runs8)},"runs_local32":${arr(runs32)},"scaling_efficiency_8_to_32":$eff%.3f"""
      else ""
    // a single-rung probe (loT == hiT) would duplicate every
    // rung-parameterized key and fabricate eff/ceiling fields of 1.0 —
    // emit only the one rung's fields in that case
    val pairJson =
      if (loT == hiT) ""
      else f""","events_per_sec_t$hiT":$thr32%.0f,"runs_t$hiT":${arr(runs32)},"min_t$hiT":${runs32.min}%.0f,"max_t$hiT":${runs32.max}%.0f,"scaling_efficiency":$eff%.3f,"hw_cpu_scaling_ceiling":$hwCeiling%.3f,"hw_mem_bw_scaling_ceiling":$memCeiling%.3f,"scaling_efficiency_vs_mem_ceiling":${if (memCeiling > 0) eff / memCeiling else -1.0}%.3f,"mem_bw_gbps_t$hiT":${mem32 / 1e9}%.1f"""
    val cdcJson =
      f"""{"events":$cdcEvents,"epochs":$cdcEpochs,"payload":"${if (typedLog) "typed" else "json"}","compact_every":${sys.env.getOrElse("SPARK_GRAFT_CDC_COMPACT", "0")},"headline_rungs":[$loT,$hiT],"events_per_sec_t$loT":$thr8%.0f,"runs_t$loT":${arr(runs8)},"min_t$loT":${runs8.min}%.0f,"max_t$loT":${runs8.max}%.0f,"mem_bw_gbps_t$loT":${mem8 / 1e9}%.1f$pairJson$legacy$ladderJson}"""
    val json =
      f"""{"metric":"total_query_sec","value":$total%.3f,"unit":"sec","queries":$qs,"queries_failed":$failed,"sf":"$sfDir","cdc":$cdcJson}"""
    // stdout (driver parse) AND a bare file (survives any log wrapping);
    // CDC-only sampling runs go to a side file so they never clobber the
    // round's full-bench artifact
    println(json)
    val outFile =
      if (ladderOn && skipQueries) "bench_ladder.json"
      else if (skipQueries) "bench_cdc_sample.json"
      else "bench_out.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
  }
}
