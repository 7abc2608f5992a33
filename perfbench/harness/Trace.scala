package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's span store and layer metrics.
  *
  * Spans (run > pass > query > {build, action} > job > stage) are kept
  * in memory and written out at the end. The harness records run, pass,
  * query, build and action spans around its calls into the engine; job
  * and stage spans come from the listener bus and are given a parent
  * after the run, by the innermost harness span that contains their
  * start. All times are epoch microseconds.
  */
object Trace {
  final case class Span(id: Long, parent: Long, kind: String, name: String,
                        start: Long, end: Long)
  final case class Plan(start: Long, end: Long, phases: Map[String, Double])
  final case class TaskAgg(var tasks: Long = 0, var failed: Long = 0,
                           var runMs: Long = 0, var cpuNs: Long = 0, var gcMs: Long = 0,
                           var inBytes: Long = 0, var inRows: Long = 0,
                           var outBytes: Long = 0, var shWrite: Long = 0,
                           var shRead: Long = 0, var spill: Long = 0)
  final case class Trigger(at: Long, durations: Map[String, Double],
                           stateCommitMs: Double, stateBytes: Double)

  private val ids = new AtomicLong(0)
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  val spans = new ConcurrentLinkedQueue[Span]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Seq[Int])]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  val tasks = new java.util.concurrent.ConcurrentHashMap[Int, TaskAgg]()
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  /** Per pass: codegen (classes, compile ms) and cached (bytes, rdds). */
  val passStats = scala.collection.mutable.Map[Int, Map[String, Double]]()
  private var passCodegen = (0L, 0.0)
  /** Whether the plan listener records; the harness flips it between
    * passes while the listener bus is empty.
    */
  @volatile var recording = false
  private val runId = newId()

  def newId(): Long = ids.incrementAndGet()
  def us(nanos: Long): Long = baseUs + (nanos - baseNs) / 1000L

  def spanWithId(id: Long, parent: Long, kind: String, name: String,
                 startNs: Long, endNs: Long): Long = {
    spans.add(Span(id, if (parent == 0L) runId else parent, kind, name, us(startNs), us(endNs)))
    id
  }
  def span(parent: Long, kind: String, name: String, startNs: Long, endNs: Long): Long =
    spanWithId(newId(), parent, kind, name, startNs, endNs)

  /** Codegen totals: classes compiled and their summed compile ms. */
  private def codegen(): (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CompileTime.sumMs.sum.toDouble)

  def beginPass(): Unit = passCodegen = codegen()

  def endPass(p: Int, spark: SparkSession): Unit = {
    val (n1, ms1) = codegen()
    val storage = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    passStats(p) = Map(
      "codegen.classes" -> (n1 - passCodegen._1).toDouble,
      "codegen.compile_s" -> (ms1 - passCodegen._2) / 1e3,
      "SharedBuilds.cached_mb" -> storage.map(r => r.memSize + r.diskSize).sum / 1048576.0,
      "SharedBuilds.cached_rdds" -> storage.length.toDouble)
  }

  /** Adds the run span and gives each job and stage its parent span;
    * called once every traced pass's events are delivered.
    */
  def finish(startNs: Long, endNs: Long): Unit = {
    spans.add(Span(runId, 0L, "run", "run", us(startNs), us(endNs)))
    val harness = spans.asScala.filter(s => s.kind == "build" || s.kind == "action"
      || s.kind == "query" || s.kind == "pass").toSeq
      .sortBy(s => s.end - s.start)
    def parentOf(t: Long): Long =
      harness.find(s => s.start <= t && t <= s.end).fold(runId)(_.id)
    val jobSpan = scala.collection.mutable.Map[Int, Long]()
    jobs.asScala.foreach { case (jobId, (s, e, _)) =>
      jobSpan(jobId) = newId()
      spans.add(Span(jobSpan(jobId), parentOf(s), "job", s"job$jobId", s, e))
    }
    val stageJob = jobs.asScala.flatMap { case (j, (_, _, st)) => st.map(_ -> j) }
    stages.asScala.foreach { case (stageId, (s, e)) =>
      spans.add(Span(newId(), stageJob.get(stageId).flatMap(jobSpan.get).getOrElse(parentOf(s)),
        "stage", s"stage$stageId", s, e))
    }
  }

  def writeSpans(path: String): Unit = {
    val lines = spans.asScala.toSeq.sortBy(s => (s.start, s.id)).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_us" -> s.start.toString, "end_us" -> s.end.toString))
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  private def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val v = xs.sorted
      v(math.min(v.length - 1, math.ceil(q * v.length).toInt - 1).max(0))
    }

  /** Layer metrics for one set of passes, per pass (counts and times are
    * summed over the set and divided by its size).
    */
  private def layersOf(passIds: Set[Long], passWall: Double, cores: Int,
                       perPass: Map[String, Double]): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val byId = all.map(s => s.id -> s).toMap
    def passOf(s: Span): Option[Long] = {
      var cur: Option[Span] = Some(s)
      while (cur.exists(c => c.kind != "pass" && c.parent != 0L)) cur = byId.get(cur.get.parent)
      cur.filter(_.kind == "pass").map(_.id)
    }
    val inSet = all.filter(s => passOf(s).exists(passIds))
    val n = passIds.size.toDouble
    def sec(kind: String) = inSet.filter(_.kind == kind).map(s => (s.end - s.start) / 1e6).sum
    val queriesIn = inSet.filter(_.kind == "query")
    val windows = queriesIn.map(q => (q.start, q.end))
    def inWindows(t: Long) = windows.exists { case (s, e) => s <= t && t <= e }
    val jobIds = inSet.filter(_.kind == "job").map(_.name.stripPrefix("job").toInt).toSet
    val stageIds = jobIds.flatMap(j => Option(jobs.get(j)).toSeq.flatMap(_._3))
      .filter(stages.containsKey)
    val agg = stageIds.toSeq.flatMap(s => Option(tasks.get(s)))
    def tsum(f: TaskAgg => Long) = agg.map(f).sum.toDouble
    val plansIn = plans.asScala.toSeq.filter(p => inWindows(p.start))
    val jobIv = inSet.filter(_.kind == "job").map(s => (s.start, s.end))
    val planIv = plansIn.map(p => (p.start, p.end))
    val gap = queriesIn.map(q => (q.end - q.start) - covered(jobIv ++ planIv, q.start, q.end)).sum / 1e6
    val trig = triggers.asScala.toSeq.filter(t => inWindows(t.at))
    def tdur(k: String) = trig.map(_.durations.getOrElse(k, 0.0)).sum
    val trigMs = trig.map(_.durations.getOrElse("triggerExecution", 0.0))
    val mb = 1048576.0
    Map(
      "Tables.scan_mb" -> tsum(_.inBytes) / mb / n,
      "Tables.scan_rows" -> tsum(_.inRows) / n,
      "operators.build_s" -> sec("build") / n,
      "operators.action_s" -> sec("action") / n,
      "catalyst.plans" -> plansIn.size / n,
      "catalyst.analysis_s" -> plansIn.map(_.phases.getOrElse("analysis", 0.0)).sum / 1e3 / n,
      "catalyst.optimization_s" -> plansIn.map(_.phases.getOrElse("optimization", 0.0)).sum / 1e3 / n,
      "catalyst.planning_s" -> plansIn.map(_.phases.getOrElse("planning", 0.0)).sum / 1e3 / n,
      "scheduler.jobs" -> jobIds.size / n,
      "scheduler.stages" -> stageIds.size / n,
      "scheduler.tasks" -> tsum(_.tasks) / n,
      "scheduler.failed_tasks" -> tsum(_.failed) / n,
      "scheduler.job_s" -> sec("job") / n,
      "scheduler.gap_s" -> gap / n,
      "scheduler.task_run_s" -> tsum(_.runMs) / 1e3 / n,
      "scheduler.task_cpu_s" -> tsum(_.cpuNs) / 1e9 / n,
      "scheduler.gc_s" -> tsum(_.gcMs) / 1e3 / n,
      "scheduler.busy_frac" -> (if (passWall > 0) tsum(_.runMs) / 1e3 / (passWall * cores) else 0.0),
      "scheduler.shuffle_write_mb" -> tsum(_.shWrite) / mb / n,
      "scheduler.shuffle_read_mb" -> tsum(_.shRead) / mb / n,
      "scheduler.spill_mb" -> tsum(_.spill) / mb / n,
      "streaming.triggers" -> trig.size / n,
      "streaming.trigger_p50_ms" -> pct(trigMs, 0.5),
      "streaming.trigger_p90_ms" -> pct(trigMs, 0.9),
      "streaming.plan_ms" -> tdur("queryPlanning") / n,
      "streaming.addbatch_ms" -> tdur("addBatch") / n,
      "streaming.walcommit_ms" -> tdur("walCommit") / n,
      "streaming.state_commit_ms" -> trig.map(_.stateCommitMs).sum / n,
      "streaming.state_mb" -> (if (trig.isEmpty) 0.0 else trig.map(_.stateBytes).max / mb),
      "streaming.output_mb" -> tsum(_.outBytes) / mb / n) ++
      Seq("pass", "build", "action", "job", "stage").map { k =>
        s"self.${k}_s" -> selfTime(inSet, all, k) / n
      } ++ perPass
  }

  /** Summed self time of the spans of one kind: each span's duration
    * minus the part of it that its children cover. (A query's self time
    * is zero by construction: its build and action spans tile it.)
    */
  private def selfTime(inSet: Seq[Span], all: Seq[Span], kind: String): Double = {
    val children = all.groupBy(_.parent)
    inSet.filter(_.kind == kind).map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      (s.end - s.start) - covered(kids, s.start, s.end)
    }.sum / 1e6
  }

  /** Cold metrics (pass 0) under `cold.` and warm metrics (mean per
    * traced warm pass) under their plain names. `passes` holds the
    * traced passes as (index, wall seconds).
    */
  def layers(passes: Seq[(Int, Double)], cores: Int): Map[String, Double] = {
    val passSpans = spans.asScala.filter(_.kind == "pass").toSeq
      .map(s => s.name.stripPrefix("pass").toInt -> s.id).toMap
    def statsOf(ps: Seq[Int]): Map[String, Double] =
      passStats(ps.head).keys.map { k =>
        k -> (if (k.startsWith("SharedBuilds")) passStats(ps.max)(k)
              else ps.map(passStats(_)(k)).sum / ps.size)
      }.toMap
    def of(ps: Seq[(Int, Double)]): Map[String, Double] =
      layersOf(ps.map(x => passSpans(x._1)).toSet, ps.map(_._2).sum, cores, statsOf(ps.map(_._1)))
    val (cold, warm) = passes.partition(_._1 == 0)
    of(warm) ++ of(cold).map { case (k, v) => s"cold.$k" -> v }
  }
}

/** Keeps the exact sum of Janino compile times. Spark records each
  * compile in a Codahale histogram, whose reservoir holds a decaying
  * sample of 1028 values and no sum; `install()` puts this reservoir in
  * front of it (traced runs only), forwarding every update.
  */
object CompileTime extends com.codahale.metrics.Reservoir {
  val sumMs = new java.util.concurrent.atomic.LongAdder
  @volatile private var inner: com.codahale.metrics.Reservoir = _
  def install(): Unit = {
    val f = classOf[com.codahale.metrics.Histogram].getDeclaredField("reservoir")
    f.setAccessible(true)
    inner = f.get(CodegenMetrics.METRIC_COMPILATION_TIME).asInstanceOf[com.codahale.metrics.Reservoir]
    f.set(CodegenMetrics.METRIC_COMPILATION_TIME, this)
  }
  override def size(): Int = inner.size()
  override def update(value: Long): Unit = { sumMs.add(value); inner.update(value) }
  override def getSnapshot: com.codahale.metrics.Snapshot = inner.getSnapshot
}

/** Registered through the static `spark.sql.queryExecutionListeners`
  * conf, so every session of the JVM (including the drains' sessions
  * from newSession()) gets one. Records catalyst phase times.
  */
class QeListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = if (Trace.recording) {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) Trace.plans.add(Trace.Plan(
      ph.values.map(_.startTimeMs).min * 1000L, ph.values.map(_.endTimeMs).max * 1000L,
      ph.map { case (k, v) => k -> v.durationMs.toDouble }))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Jobs, stages, task metrics and streaming progress from the shared
  * listener bus. Progress events are read here rather than through a
  * per-session StreamingQueryListener, which would miss the drains'
  * sessions.
  */
class EventListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    Trace.jobs.put(e.jobId, (e.time * 1000L, e.time * 1000L, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Trace.jobs.computeIfPresent(e.jobId, (_, j) => (j._1, e.time * 1000L, j._3))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      Trace.stages.put(i.stageId, (s * 1000L, c * 1000L))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = Trace.tasks.computeIfAbsent(e.stageId, _ => Trace.TaskAgg())
    a.synchronized {
      a.tasks += 1
      if (e.reason != Success) a.failed += 1
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead; a.inRows += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
      }
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent =>
      val pr = p.progress
      Trace.triggers.add(Trace.Trigger(
        java.time.Instant.parse(pr.timestamp).toEpochMilli * 1000L,
        pr.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap,
        pr.stateOperators.map(_.commitTimeMs.toDouble).sum,
        pr.stateOperators.map(_.memoryUsedBytes.toDouble).sum))
    case _ =>
  }
}
