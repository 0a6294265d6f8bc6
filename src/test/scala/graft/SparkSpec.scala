package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

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

  /** `body` run through [[Recorder.record]]; what it throws is rethrown. */
  def recorded(body: => Unit): Recorder.Run = {
    val run = Recorder.record(spark)(body)
    run.failure.foreach(throw _)
    run
  }

  /** Jobs fired by `body` on this thread (and the threads it spawns). */
  def jobsOf(body: => Unit): Int = recorded(body).jobs.size
}

object SparkSpec {
  /** `code` with its block and line comments removed. */
  def stripComments(code: String): String =
    code.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
}
