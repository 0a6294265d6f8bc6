package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer telemetry for a traced run, registered from outside the
  * engine: a SparkListener for jobs, stages, tasks and SQL executions, and
  * a QueryExecutionListener for Catalyst's phase times.
  *
  * Each job is attributed to the operation phase whose window it started
  * in (a local property PerfRun sets around every timed phase; AQE and
  * broadcast jobs inherit it) and to a repo module: the first `graft.*`
  * frame of its SQL execution's call site. Stage call sites are not used
  * first because AQE and broadcast jobs are submitted from pool threads
  * whose stacks hold no engine frame. Jobs whose call site holds no engine
  * frame ran a plan the operation's API call returned, so they belong to
  * the module that built it ([[producer]]).
  *
  * Nothing is read until the SparkContext has stopped, which drains the
  * listener bus.
  */
final class Trace private (spark: SparkSession, cores: Int)
    extends SparkListener with QueryExecutionListener {

  import Trace._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val execs = new ConcurrentHashMap[Long, ExecRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val catalyst = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
  private val windows = mutable.ArrayBuffer.empty[Window]
  private var open: Option[Window] = None
  private var heapMax = 0.0

  // ------------------------------------------------------- PerfRun side

  def begin(op: Int, phase: String): Unit = {
    open = Some(Window(op, phase, System.currentTimeMillis(), 0L, jitMs, classesLoaded))
    spark.sparkContext.setLocalProperty(SpanKey, s"$op/$phase")
  }

  def end(): Unit = {
    spark.sparkContext.setLocalProperty(SpanKey, null)
    open.foreach(w => windows += w.copy(endMs = System.currentTimeMillis(),
      jitMs = jitMs - w.jitMs, classes = classesLoaded - w.classes))
    open = None
  }

  def sampleHeap(): Unit = {
    val used = Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()
    heapMax = math.max(heapMax, used / 1048576.0)
  }

  def heapAfterGcMb: Double = heapMax

  // ---------------------------------------------------------- listener side

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanKey)))
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, JobRec(e.jobId, e.time, span, exec,
      e.stageInfos.headOption.map(_.details).getOrElse("")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    job(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = job(e.stageId).foreach { j =>
    j.synchronized {
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0) j.emptyTasks += 1
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, ExecRec(s.executionId, s.time, s.details))
    case s: SparkListenerSQLExecutionEnd =>
      Option(execs.get(s.executionId)).foreach(_.endMs = s.time)
    case _ =>
  }

  private def job(stageId: Int): Option[JobRec] =
    Option(stageJob.get(stageId)).flatMap(id => Option(jobs.get(id)))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (phase, p) => catalyst.add((p.startTimeMs, phase, p.durationMs)) }

  // ------------------------------------------------------------- summaries

  private def windowAt(ms: Long): Option[Window] =
    windows.find(w => ms >= w.startMs && ms <= w.endMs)

  /** (op, phase) of each timed job; jobs of the untimed passes are dropped. */
  private lazy val timedJobs: Seq[(JobRec, Int, String)] = {
    val all = jobs.values.asScala.toSeq.sortBy(_.id)
    val execSpan = all.flatMap(j => j.exec.zip(j.span)).toMap
    all.flatMap { j =>
      j.span.orElse(j.exec.flatMap(execSpan.get))
        .orElse(windowAt(j.startMs).map(w => s"${w.op}/${w.phase}"))
        .map { s =>
          val Array(op, phase) = s.split("/", 2)
          (j, op.toInt, phase)
        }
    }
  }

  private def module(j: JobRec, kinds: Map[Int, String], op: Int): String = {
    val site = j.exec.flatMap(id => Option(execs.get(id))).map(_.details)
      .filter(_.contains("graft.")).getOrElse(j.stageSite)
    firstEngineFrame(site).getOrElse(producer(kinds(op)))
  }

  /** Layer metrics of the timed pass; shared-artifact builds are counted
    * over the whole run, since only the first consumer pays them, and
    * first_pass_ms sums the first pass's latencies.
    */
  def summary(allOps: Seq[PerfRun.OpRecord], heapAfterGcMb: Double): mutable.LinkedHashMap[String, Double] = {
    val kinds = allOps.map(o => o.index -> o.kind).toMap
    val ops = allOps.filter(_.pass == "timed")
    val timedIdx = ops.map(_.index).toSet
    val every = timedJobs.map { case (j, op, phase) => (j, module(j, kinds, op), phase, op) }
    val tj = every.filter(t => timedIdx(t._4))
    val timedWindows = windows.filter(w => timedIdx(w.op))
    def jobsOf(layer: String, in: Seq[(JobRec, String, String, Int)] = tj) =
      in.filter(t => layerOf(t._2) == layer).map(_._1)
    val out = mutable.LinkedHashMap.empty[String, Double]
    def put(k: String, v: Double): Unit = out(k) = v
    def putL(k: String, v: Long): Unit = out(k) = v.toDouble
    put("Tables.infer_jobs", jobsOf("Tables").size)
    put("Tables.infer_ms", jobsOf("Tables").map(_.durMs).sum)
    put("first_pass_ms", allOps.filter(_.pass == "first").map(_.latencyMs).sum)
    put("operators.construct_ms", ops.filter(_.kind == "query").map(_.constructMs).sum)
    put("operators.construct_jobs", tj.count(_._3 == "construct"))
    put("plans.checkpoint_jobs", jobsOf("plans").size)
    put("plans.checkpoint_ms", jobsOf("plans").map(_.durMs).sum)
    val builds = jobsOf("artifacts", every).flatMap(_.exec).distinct.flatMap(id => Option(execs.get(id)))
    put("artifacts.builds", builds.size)
    put("artifacts.build_ms", builds.map(_.durMs).sum)
    val phases = catalyst.asScala.toSeq.filter(c => windowAt(c._1).exists(w => timedIdx(w.op)))
    Seq("analysis", "optimization", "planning").foreach { p =>
      putL(s"catalyst.${p}_ms", phases.filter(_._2 == p).map(_._3).sum)
    }
    val all = tj.map(_._1)
    val wallMs = unionMs(all.map(j => (j.startMs, j.endMs)))
    val runMs = all.map(_.runMs).sum.toDouble
    val tasks = all.map(_.tasks).sum
    putL("exec.run_ms", timedWindows.filter(_.phase == "execute").map(w => w.endMs - w.startMs).sum)
    put("exec.jobs", all.size)
    put("exec.stages", all.map(_.stages).sum)
    put("exec.tasks", tasks)
    put("exec.job_wall_ms", wallMs)
    put("exec.executor_cpu_ms", all.map(_.cpuNs).sum / 1e6)
    put("exec.executor_run_ms", runMs)
    putL("exec.gc_ms", all.map(_.gcMs).sum)
    putL("exec.shuffle_read_bytes", all.map(_.shuffleRead).sum)
    putL("exec.shuffle_write_bytes", all.map(_.shuffleWrite).sum)
    putL("exec.spill_bytes", all.map(_.spill).sum)
    put("exec.busy_frac", if (wallMs > 0) runMs / (wallMs * cores) else 0.0)
    put("exec.empty_task_frac", if (tasks > 0) all.map(_.emptyTasks).sum.toDouble / tasks else 0.0)
    IngestModules.foreach { m =>
      put(s"$m.jobs", jobsOf(m).size)
      put(s"$m.job_ms", jobsOf(m).map(_.durMs).sum)
    }
    put("sources.files_listed", ops.flatMap(o => FilesRe.findFirstMatchIn(o.outcome))
      .map(_.group(1).toDouble).sum)
    def medianOf(kind: String): Double = {
      val v = ops.filter(o => o.kind == kind && o.error.isEmpty).map(_.latencyMs).sorted
      if (v.isEmpty) 0.0 else if (v.size % 2 == 1) v(v.size / 2) else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
    }
    put("api.request_ingest_ms", medianOf("request_ingest"))
    put("api.reorganize_ms", medianOf("reorganize"))
    put("api.update_status_ms", medianOf("update_status"))
    val requests = ops.filter(_.kind == "request_ingest")
    put("api.dedup_hit_frac",
      if (requests.isEmpty) 0.0 else requests.count(_.outcome == "deduplicated").toDouble / requests.size)
    putL("jvm.jit_ms", timedWindows.map(_.jitMs).sum)
    putL("jvm.classes_loaded", timedWindows.map(_.classes).sum)
    put("jvm.heap_after_gc_mb", heapAfterGcMb)
    put("jvm.peak_rss_mb", peakRssMb)
    out
  }

  /** op → construct/execute → SQL execution → job, each with its
    * duration and self time (duration minus the union of its children).
    */
  def spans(ops: Seq[PerfRun.OpRecord]): Seq[Span] = {
    val kinds = ops.map(o => o.index -> o.kind).toMap
    val t0 = windows.headOption.map(_.startMs).getOrElse(0L)
    val byPhase = timedJobs.groupBy { case (_, op, phase) => (op, phase) }
    ops.map { o =>
      val phaseSpans = windows.filter(_.op == o.index).map { w =>
        val js = byPhase.getOrElse((o.index, w.phase), Nil).map(_._1)
        def jobSpan(j: JobRec) = Span(s"job ${j.id}", module(j, kinds, o.index),
          j.startMs - t0, j.durMs, Nil)
        val (inExec, bare) = js.partition(_.exec.exists(id => execs.containsKey(id)))
        val execSpans = inExec.groupBy(_.exec.get).toSeq.sortBy(_._1).map { case (id, ejs) =>
          val e = execs.get(id)
          Span(s"sql ${e.id}", module(ejs.head, kinds, o.index), e.startMs - t0, e.durMs,
            ejs.sortBy(_.id).map(jobSpan))
        }
        Span(w.phase, "", w.startMs - t0, (w.endMs - w.startMs).toDouble,
          execSpans ++ bare.sortBy(_.id).map(jobSpan))
      }.toSeq
      val start = phaseSpans.headOption.map(_.startMs).getOrElse(0L)
      Span(s"${o.pass} ${o.name}", o.kind, start, o.latencyMs, phaseSpans)
    }
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  val IngestModules: Seq[String] = Seq("sources.FileCatalog", "sources.Readers", "extract",
    "jobs.IngestSlice", "jobs.Reorganize", "status.StatusMachine")

  private val FilesRe = "files=(\\d+)".r

  /** An operation phase; `jitMs` and `classes` are the JIT compile time
    * (all compiler threads) and the classes loaded while it ran.
    */
  final case class Window(op: Int, phase: String, startMs: Long, endMs: Long,
                          jitMs: Long, classes: Long)

  private val compilation = ManagementFactory.getCompilationMXBean
  private val classLoading = ManagementFactory.getClassLoadingMXBean

  private def jitMs: Long = compilation.getTotalCompilationTime
  private def classesLoaded: Long = classLoading.getTotalLoadedClassCount

  final case class JobRec(id: Int, startMs: Long, span: Option[String], exec: Option[Long],
                          stageSite: String) {
    @volatile var endMs: Long = startMs
    var stages, tasks, emptyTasks = 0
    var cpuNs, runMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    def durMs: Double = (endMs - startMs).toDouble
  }

  final case class ExecRec(id: Long, startMs: Long, details: String) {
    @volatile var endMs: Long = startMs
    def durMs: Double = (endMs - startMs).toDouble
  }

  /** A trace span; its self time is the duration not covered by any child. */
  final case class Span(name: String, module: String, startMs: Long, durMs: Double,
                        children: Seq[Span]) {
    def selfMs: Double = math.max(0.0, durMs - unionMs(children.map(c =>
      (c.startMs, c.startMs + c.durMs.toLong))))

    def toMap: Map[String, Any] = Map("name" -> name, "module" -> module,
      "start_ms" -> startMs, "dur_ms" -> durMs, "self_ms" -> selfMs,
      "children" -> children.map(_.toMap))
  }

  def install(spark: SparkSession, cores: Int): Trace = {
    val t = new Trace(spark, cores)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** `graft.operators.GraphOps$.$anonfun$queries$1(GraphOps.scala:890)`
    * → `operators.GraphOps`; frames of this benchmark are skipped.
    */
  def firstEngineFrame(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim.stripPrefix("at ")).find(_.startsWith("graft.")).map { f =>
      val method = f.takeWhile(_ != '(')
      method.take(method.lastIndexOf('.')).takeWhile(_ != '$').stripPrefix("graft.")
    }

  /** Module of a job whose call site holds no engine frame. */
  def producer(kind: String): String = kind match {
    case "update_status" => "status.StatusMachine"
    case "reorganize" => "jobs.Reorganize"
    case "request_ingest" => "api.IngestApi"
    case _ => "Bench"
  }

  def layerOf(module: String): String = module match {
    case "Tables" => "Tables"
    case "sources.Bucketing" => "artifacts"
    case "plans.Checkpoints" => "plans"
    case m if m.startsWith("extract.") => "extract"
    case m if IngestModules.contains(m) => m
    case m if m.startsWith("operators.") => "operators"
    case m => m
  }

  def unionMs(intervals: Seq[(Long, Long)]): Double = {
    var total, curStart, curEnd = 0L
    var first = true
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (first || s > curEnd) {
        if (!first) total += curEnd - curStart
        curStart = s; curEnd = e; first = false
      } else curEnd = math.max(curEnd, e)
    }
    if (!first) total += curEnd - curStart
    total.toDouble
  }

  def peakRssMb: Double =
    try {
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: Throwable => 0.0 }
}
