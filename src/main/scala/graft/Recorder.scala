package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.plans.Checkpoints

/** The engine's one run recorder: Bench, Profile, Verify and the specs
  * time a body, count its jobs and generated classes, and name each job's
  * call site through it. A run tags its jobs with a local property, which
  * AQE stage and broadcast jobs inherit. Its listener lives only as long
  * as the run. After the timed window one marker job drains the listener
  * bus: events arrive in order, so once the marker's start has arrived,
  * every earlier job's end has too.
  *
  * A job's site is the first `graft.` frame of its SQL execution's call
  * site. AQE and broadcast jobs run on pool threads, so their last stage
  * is named after a JDK frame (`CompletableFuture.java`); that name is
  * only the fallback, for a job outside any SQL execution.
  */
object Recorder {

  /** A job's site and its ms from start to end (0 if still running). */
  final case class Job(site: String, ms: Long)

  /** Wall seconds, classes compiled (Spark's JVM-global `CodegenMetrics`),
    * the jobs in id order, and what the body threw. */
  final case class Run(wallS: Double, compiles: Long, jobs: Seq[Job], failure: Option[Throwable])

  private val TagKey = "graft.record"
  private val runIds = new AtomicLong

  /** Runs and records `body`. With a `timeout` it runs on a pool thread;
    * past it every job is cancelled and the run fails with a timeout. */
  def record(spark: SparkSession, timeout: Option[FiniteDuration] = None)(body: => Unit): Run = {
    val sc = spark.sparkContext
    val tag = s"run-${runIds.incrementAndGet()}"
    val scope = new Scope(tag)
    sc.addSparkListener(scope)
    try {
      // local properties reach only threads created after they are set,
      // so the tag is set on the thread that runs body
      def tagged(): Unit = withTag(sc, tag)(body)
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val failure =
        try { timeout.fold(tagged())(within(sc, _)(tagged())); None }
        catch { case e: Throwable => Some(e) }
      val wallS = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      withTag(sc, s"$tag-drain")(sc.parallelize(Seq(1), 1).count())
      require(scope.drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      Run(wallS, compiles, scope.jobs, failure)
    } finally sc.removeSparkListener(scope)
  }

  /** One query of an entry point: record `body`, then release its cuts
    * and GC outside the timed window, so the next query times its own work. */
  def step(spark: SparkSession, timeout: Option[FiniteDuration] = None)(body: => Unit): Run = {
    val run = record(spark, timeout)(body)
    Checkpoints.release(spark)
    System.gc()
    run
  }

  private def withTag[T](sc: SparkContext, tag: String)(body: => T): T = {
    val outer = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try body finally sc.setLocalProperty(TagKey, outer)
  }

  private def within(sc: SparkContext, cap: FiniteDuration)(body: => Unit): Unit = {
    val f = Future(body)
    try Await.ready(f, cap)
    catch { case _: TimeoutException =>
      sc.cancelAllJobs()
      try Await.ready(f, 60.seconds) catch { case _: TimeoutException => () }
      throw new TimeoutException(s"no result within $cap")
    }
    f.value.get.get
  }

  private final class Scope(tag: String) extends SparkListener {
    // job id → (start ms, SQL execution id, last stage's site)
    private val started = new ConcurrentHashMap[Int, (Long, Option[Long], String)]()
    private val ended = new ConcurrentHashMap[Int, Long]()
    private val sites = new ConcurrentHashMap[Long, String]()
    val drained = new CountDownLatch(1)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.map(_.getProperty(TagKey)).orNull match {
        case `tag` => started.put(e.jobId, (e.time,
          props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong),
          e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')).getOrElse("?")))
        case t if t == s"$tag-drain" => drained.countDown()
        case _ =>
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (started.containsKey(e.jobId)) ended.put(e.jobId, e.time)

    // an execution's call site lists its frames innermost first
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.details.linesIterator.map(_.trim.stripPrefix("at ")).find(_.startsWith("graft."))
          .foreach(sites.put(s.executionId, _))
      case _ =>
    }

    def jobs: Seq[Job] = started.asScala.toSeq.sortBy(_._1).map { case (id, (t0, exec, stageSite)) =>
      Job(exec.flatMap(x => Option(sites.get(x))).getOrElse(stageSite),
        ended.asScala.get(id).fold(0L)(_ - t0))
    }
  }
}
