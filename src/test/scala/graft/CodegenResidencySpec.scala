package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.IngestApi
import graft.jobs.Reorganize
import graft.plans.Checkpoints
import graft.sources.{FileCatalog, Readers}
import graft.status.StatusMachine

/** Generated code stays resident: once a session has run a workload,
  * running it again compiles no class. This holds only while Spark's
  * JVM-global codegen cache ([[GraftSession.CodegenCacheEntries]]) is
  * larger than the workload's working set, and while no operation bakes
  * a per-call value into generated code. Compiles are counted by
  * [[Recorder.record]].
  *
  * AQE picks a join's build side from whichever input stage finishes
  * first, so a query can run one of a few plans (q296 has several at
  * sf0.001); each is compiled the first time it runs. A workload is
  * resident when, within a few passes, a whole pass compiles nothing.
  * Under an undersized cache or a per-call literal no pass does.
  */
class CodegenResidencySpec extends SparkSpec {
  import spark.implicits._

  private def compilesOf(body: => Unit): Long = recorded(body).compiles

  /** Classes compiled by each pass of `pass(i)`, i = 1, 2, …, stopping
    * after the first pass that compiles none, or after `MaxPasses`.
    */
  private def compilesPerPass(pass: Int => Unit): Seq[Long] = {
    val counts = scala.collection.mutable.ArrayBuffer(compilesOf(pass(1)))
    while (counts.last > 0 && counts.size < MaxPasses) counts += compilesOf(pass(counts.size + 1))
    counts.toSeq
  }

  private val MaxPasses = 5

  /** perfbench's `reports` pool: the cheapest short report query of ten
    * modules, plus q296's construction jobs and q216's shared artifact.
    */
  private val reportQueries = Seq(
    "q18_scrubbed_balances", "q72_repetition", "q83_chunk_overlap",
    "q268_forecast_revenue", "q26_latest_status", "q337_mcnemar",
    "q53_winnow_stats", "q338_cochran_q", "q27_route_rules", "q51_survey_report",
    "q296_dbscan", "q216_ppjoin_exact")

  test("repeated passes over the report queries reach a pass that compiles no class") {
    val perPass = compilesPerPass { _ =>
      reportQueries.foreach { q =>
        Bench.runFullPlan(SparkEntry.queries(q)(spark, sf(q)))
        Checkpoints.release(spark)
      }
    }
    assert(perPass.last == 0, s"classes compiled per pass: $perPass")
  }

  private val statusCols = Seq("uuid", "entity_type", "status")

  test("repeated request_ingest, reorganize and update_status reach a pass that compiles no class") {
    val generic = "src/test/resources/fixture_generic"
    val multiassay = "src/test/resources/fixture_multiassay"
    val base = Files.createTempDirectory("codegen-residency").toString
    val store = s"$base/status_store"
    def append(events: DataFrame): Unit =
      events.select("uuid", "entity_type", "status", "ts", "seq").write.mode("append").parquet(store)
    append(StatusMachine.stampEvents(Seq(("ds-0", "dataset", "new")).toDF(statusCols: _*), 0L))
    // one round as perfbench's ingest_api runs it, each event stamped at `ts`
    def round(ts: Long): Unit = {
      val ack = IngestApi.requestIngest(spark, s"run-$ts", generic, s"ds-$ts",
        Seq("run-0").toDF("run_id"))
      val (uuid, etype, status) = ack.result.get.statusEvent
      append(StatusMachine.stampEvents(Seq((uuid, etype, status)).toDF(statusCols: _*), ts))
      val freeze = s"$base/frozen/$ts"
      IngestApi.reorganize(Readers.tsv(spark, s"$multiassay/*-metadata.tsv"), "up-1", freeze)
      val frozen = Reorganize.readFrozen(spark, freeze)
      Reorganize.movePlan(frozen, FileCatalog.scan(spark, multiassay)).count()
      append(StatusMachine.stampEvents(Reorganize.statusEvents(frozen, "up-1"), ts))
      val requested = Seq(("ds-0", "dataset", if (ts % 2 == 1) "QA" else "processing"),
        ("up-1", "upload", "published")).toDF(statusCols: _*)
      val (accepted, rejected) = IngestApi.updateStatuses(spark, requested, spark.read.parquet(store))
      val acc = accepted.select(statusCols.map(col): _*).cache()
      assert(acc.count() == 1 && rejected.count() == 1)
      append(StatusMachine.stampEvents(acc, ts))
      acc.unpersist()
    }
    val perPass = compilesPerPass(i => round(i.toLong))
    assert(perPass.last == 0, s"classes compiled per pass: $perPass")
  }

  test("stampEvents over a cached batch compiles no class for a new timestamp") {
    val batch = Seq(("u2", "dataset", "qa"), ("u1", "upload", "reorganized"))
      .toDF(statusCols: _*).cache()
    batch.count()
    StatusMachine.stampEvents(batch, 1L).collect()
    assert(compilesOf(StatusMachine.stampEvents(batch, 2L).collect()) == 0)
    batch.unpersist()
  }

  test("stampEvents numbers rows in Spark's order: UTF-8 bytes, nulls first") {
    // U+FF5E sorts before U+1F600 in UTF-8 bytes but after it in UTF-16
    val batch = Seq(
      ("😀", "dataset", "qa"), ("～", "dataset", "qa"), ("a", null, "new"),
      ("a", "upload", "valid"), (null, "dataset", "new"), ("a", "upload", "error"),
      ("B", "dataset", "qa"), ("b", "dataset", "qa"),
    ).toDF(statusCols: _*)
    val windowed = batch.withColumn("seq", row_number().over(Window.orderBy(statusCols.map(col): _*)) + 9L)
    val driver = StatusMachine.stampEvents(batch, 5L, seqStart = 10L)
    def rows(df: DataFrame) = df.select("uuid", "entity_type", "status", "seq").collect().toSeq
    assert(rows(driver).sortBy(_.getLong(3)) == rows(windowed).sortBy(_.getLong(3)))
    assert(driver.select("ts").distinct().as[Long].collect().toSeq == Seq(5L))
  }
}
