package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy, reused across suites in the
  * same JVM via getOrCreate). `local[4]` is explicit because the suites
  * assume 4 cores while the test command may export `SPARK_GRAFT_CPUS`.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")

  def sf(name: String) = s"/root/testdata/sf0.001"

  /** Every `src/main/scala` source as (file name, code with comments
    * stripped), for the specs that pin where a call may appear.
    */
  def mainSources: Seq[(String, String)] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"walk found only ${files.size} sources")
    files.map(p => p.getFileName.toString ->
      SparkSpec.stripComments(new String(Files.readAllBytes(p), "UTF-8")))
  }

  /** Jobs fired by `body` on this thread (and the threads it spawns),
    * counted by a listener keyed on a local property; a marker job
    * afterwards drains the listener bus, which delivers events in order.
    */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobs"
    val tag = s"count-${System.nanoTime()}"
    val counted = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(`tag`) => counted.incrementAndGet()
          case Some(t) if t == s"$tag-end" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      body
      sc.setLocalProperty(key, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      counted.get()
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  /** `code` with its block and line comments removed. */
  def stripComments(code: String): String =
    code.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
}
