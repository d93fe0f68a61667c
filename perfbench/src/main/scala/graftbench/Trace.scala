package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `trace` groups the spans of one epoch, round or
  * query; `parent` is the id of the innermost benchmark span around it. */
final case class Span(id: Int, name: String, trace: String, parent: Int,
    startNs: Long, endNs: Long, attrs: Map[String, Double] = Map.empty)

/** Work done by one Spark stage, summed over its tasks. */
final class StageWork {
  var layer = "other"
  var tasks = 0
  var cpuNs, gcMs, shuffleWrite, shuffleRead, spill, bytesOut, recordsOut = 0L
  val taskMs = mutable.ArrayBuffer[Long]()
  /** max over median task time; 1 for a single-task stage */
  def skew: Double =
    if (taskMs.size < 2) 1.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

/** In-memory tracer for the traced run.
  *
  *  - Benchmark spans wrap each timed call on the client thread.
  *  - Spark's listeners add child spans and counts: jobs and stages with
  *    their task metrics, SQL executions with their Catalyst phases, and
  *    streaming triggers with `StreamingQueryProgress.durationMs`.
  *  - A sampler reads the stacks of the client, stream-execution and
  *    audit threads every 10 ms. It attributes driver time to the graft
  *    methods of [[Tracer.classify]], and gives each Spark job the layer
  *    of the graft method that waited on it (a streaming job's call site
  *    is the query's start(), so the call site cannot tell).
  *
  * Everything stays in memory until [[Tracer.write]]. */
final class Tracer {
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  private def fromMs(ms: Long): Long = nano0 + (ms - wall0) * 1000000L
  private def toMs(ns: Long): Long = wall0 + (ns - nano0) / 1000000L

  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 1
  /** Spans are recorded only between [[attach]] and [[detach]]. */
  @volatile private var on = false

  /** Time `f` as span `name` of trace `trace`, nested in the open span. */
  def span[A](name: String, trace: String)(f: => A): A = if (!on) f else {
    val (id, parent) = synchronized {
      val id = nextId; nextId += 1
      val p = open.headOption.getOrElse(0)
      open = id :: open; (id, p)
    }
    val s = System.nanoTime()
    try f
    finally synchronized {
      open = open.tail
      spans += Span(id, name, trace, parent, s, System.nanoTime())
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Adds a listener-derived span under the innermost benchmark span that
    * contains its start. */
  private def child(name: String, trace: String, s: Long, e: Long,
      attrs: Map[String, Double] = Map.empty): Unit = synchronized {
    val parent = spans.filter(p => !p.name.startsWith("spark.") && p.name != "Pipeline.trigger" &&
      p.startNs <= s && s <= p.endNs).sortBy(p => p.endNs - p.startNs).headOption.map(_.id).getOrElse(0)
    spans += Span(nextId, name, trace, parent, s, e, attrs)
    nextId += 1
  }

  /** Self time of a span: its length minus the union of its children. */
  def selfSeconds(s: Span, kidsOf: Map[Int, Seq[Span]]): Double = {
    val kids = kidsOf.getOrElse(s.id, Nil).map(k => (k.startNs max s.startNs, k.endNs min s.endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  // ---- Spark listeners ------------------------------------------------

  private final class Job(val startMs: Long, val stageIds: Seq[Int]) { @volatile var endMs = -1L }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, StageWork]()
  /** Jobs per layer, set by [[detach]]. */
  var jobsByLayer: Map[String, Int] = Map.empty

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageIds.foreach(id => stages.computeIfAbsent(id, _ => new StageWork))
      jobs.put(e.jobId, new Job(e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val w = stages.computeIfAbsent(e.stageId, _ => new StageWork)
        w.synchronized {
          w.tasks += 1
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.bytesOut += m.outputMetrics.bytesWritten
          w.recordsOut += m.outputMetrics.recordsWritten
          w.taskMs += e.taskInfo.duration
        }
      }
    }
  }

  /** Finished SQL executions: (start ms, files and bytes their scans
    * read), and their Catalyst phases (analysis, optimization, planning)
    * as (start ms, duration ms). */
  private val executions = mutable.ArrayBuffer[(Long, Long, Long)]()
  private val phases = mutable.ArrayBuffer[(Long, Long)]()
  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      var files, bytes = 0L
      def walk(p: SparkPlan): Unit = {
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case _ =>
            p.metrics.get("numFiles").foreach(m => files += m.value)
            p.metrics.get("filesSize").foreach(m => bytes += m.value)
        }
        p.children.foreach(walk)
      }
      walk(qe.executedPlan)
      val startMs = System.currentTimeMillis() - durationNs / 1000000L
      Tracer.this.synchronized {
        executions += ((startMs, files, bytes))
        qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.durationMs)))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Planning seconds of the phases that started in [fromMs, toMs). */
  def planSeconds(fromMs: Long, toMs: Long): Double = synchronized {
    phases.collect { case (s, d) if s >= fromMs && s < toMs => d }.sum / 1e3
  }

  /** Files and bytes read by the SQL executions that started inside
    * spans `name`. */
  def readIn(name: String): (Long, Long) = {
    val windows = named(name).map(s => (toMs(s.startNs), toMs(s.endNs)))
    val hits = synchronized(executions.toList).filter { case (s, _, _) =>
      windows.exists { case (a, b) => s >= a && s <= b } }
    (hits.map(_._2).sum, hits.map(_._3).sum)
  }

  /** Per-trigger streaming progress: (durationMs, numInputRows). */
  val progress = mutable.ArrayBuffer[(Map[String, Long], Long)]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress.synchronized { progress += ((d, e.progress.numInputRows)) }
      val s = fromMs(java.time.Instant.parse(e.progress.timestamp).toEpochMilli)
      child("Pipeline.trigger", e.progress.batchId.toString,
        s, s + d.getOrElse("triggerExecution", 0L) * 1000000L, d.map { case (k, v) => k -> v / 1e3 })
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  // ---- driver stack sampler ------------------------------------------

  private val sampled = new ConcurrentHashMap[String, java.lang.Double]()
  /** (epoch ms, layer) of each sample of a thread blocked on a Spark job. */
  private val waits = mutable.ArrayBuffer[(Long, String)]()
  @volatile private var sampling = false
  private var samplerThread: Thread = _

  /** Driver-time categories of one stack, and the layer of the job it
    * waits on, if it waits on one. */
  private def classify(st: Array[StackTraceElement]): (Seq[String], Option[String]) = {
    def has(cls: String, m: String) =
      st.exists(f => f.getClassName.startsWith(cls) && f.getMethodName.startsWith(m))
    // blocked on a job: in runJob, or parked while adaptive execution
    // waits for its query stages' jobs
    val waiting = has("org.apache.spark.scheduler.DAGScheduler", "runJob") ||
      (st.nonEmpty && st(0).getMethodName == "park" &&
        has("org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec", ""))
    val cats = mutable.ArrayBuffer[String]()
    if (has("graft.cdc.Apply$", "applyEpoch")) {
      cats += "Apply.epoch"
      if (!waiting) cats += "Apply.driver"
    }
    if (has("graft.cdc.ParquetStats$", "maxInt")) cats += "ParquetStats.probe"
    if (has("graft.cdc.Audit", "flush")) cats += "Audit.flush"
    if (has("graft.cdc.LakeTable", "compactBuckets")) cats += "LakeTable.compact"
    val layer =
      if (!waiting) None
      else if (has("graft.cdc.LakeTable", "compactBuckets")) Some("compact")
      else if (has("graft.cdc.Audit", "")) Some("audit")
      else if (has("graft.cdc.DeadLetterQueue", "")) Some("dlq")
      else if (has("graft.cdc.Apply$", "applyEpoch")) Some("apply")
      else if (has("graft.cdc.LakeTable", "readKey")) Some("readKey")
      else if (has("graft.cdc.LakeTable", "readChanges")) Some("readChanges")
      else Some("client")
    (cats.toSeq, layer)
  }

  private def startSampler(client: Thread): Unit = {
    val mx = ManagementFactory.getThreadMXBean
    sampling = true
    samplerThread = new Thread(() => {
      var last = System.nanoTime()
      var others = Array.empty[Long]
      var tick = 0
      while (sampling) {
        val s0 = System.nanoTime()
        if (tick % 10 == 0) // rediscover the stream-execution and audit threads
          others = mx.getThreadInfo(mx.getAllThreadIds, 0).filter(i => i != null &&
            (i.getThreadName.startsWith("stream execution thread") || i.getThreadName == "graft-audit"))
            .map(_.getThreadId)
        tick += 1
        val dt = (s0 - last) / 1e9
        last = s0
        val ms = toMs(s0)
        val seen = mutable.Set[String]()
        mx.getThreadInfo(client.getId +: others, 256).filter(_ != null).foreach { i =>
          val (cats, layer) = classify(i.getStackTrace)
          seen ++= cats
          layer.foreach(l => synchronized(waits += ((ms, l))))
        }
        seen.foreach(c => sampled.merge(c, dt, (a, b) => a + b))
        Thread.sleep(10)
      }
    }, "perfbench-sampler")
    samplerThread.setDaemon(true)
    samplerThread.start()
  }

  def sampledSeconds(cat: String): Double = Option(sampled.get(cat)).map(_.doubleValue).getOrElse(0.0)

  // ---- lifecycle ------------------------------------------------------

  /** Start listening to `spark` and sampling the calling (client) thread. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
    startSampler(Thread.currentThread())
    on = true
  }

  /** Stop sampling and listening, then give each job its layer. */
  def detach(spark: SparkSession): Unit = {
    on = false
    sampling = false
    if (samplerThread != null) samplerThread.join()
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
    val w = synchronized(waits.toList)
    val layered = jobs.asScala.toSeq.filter(_._2.endMs >= 0).map { case (_, j) =>
      val ls = w.collect { case (ms, l) if ms >= j.startMs && ms <= j.endMs => l }
      val layer = if (ls.isEmpty) "other" else ls.groupBy(identity).maxBy(_._2.size)._1
      j.stageIds.foreach(id => Option(stages.get(id)).foreach(_.layer = layer))
      child(s"spark.job.$layer", "", fromMs(j.startMs), fromMs(j.endMs))
      layer
    }
    jobsByLayer = layered.groupBy(identity).view.mapValues(_.size).toMap
  }

  /** Work of all stages whose jobs served `layer`. */
  def layerStages(layer: String): Seq[StageWork] =
    stages.values.asScala.filter(_.layer == layer).toSeq

  /** Jobs and stage ids seen so far, after draining the bus: a mark to
    * diff the work of one pass against. */
  def mark(spark: SparkSession): (Int, Set[Int]) = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    (jobs.size, stages.keySet.asScala.map(_.intValue).toSet)
  }

  /** Jobs and stage work since `m`. */
  def since(spark: SparkSession, m: (Int, Set[Int])): (Int, Seq[StageWork]) = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    (jobs.size - m._1,
      stages.asScala.collect { case (id, w) if !m._2.contains(id.intValue) => w }.toSeq)
  }

  /** Write the spans as JSON lines, times in seconds since the tracer
    * started, each with its self time. */
  def write(path: String): Unit = {
    val ss = all.sortBy(_.startNs)
    val kidsOf = ss.groupBy(_.parent)
    val lines = ss.map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "trace" -> s.trace, "parent" -> s.parent,
        "start_s" -> (s.startNs - nano0) / 1e9, "end_s" -> (s.endNs - nano0) / 1e9,
        "self_s" -> selfSeconds(s, kidsOf), "attrs" -> s.attrs))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => value(o.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
