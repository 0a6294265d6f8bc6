package graft

import java.util.concurrent.TimeoutException

import scala.concurrent.duration._

import graft.plans.Checkpoints

/** [[Recorder]]: how Bench, Profile, Verify and the specs time, count
  * and attribute a query.
  */
class RecorderSpec extends SparkSpec {

  test("a body that throws is recorded with its class and message, and its cuts are released") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val run = Recorder.step(spark) {
      Checkpoints.cut(Tables(spark, sf("")).documents.select("doc_id"))
      throw new IllegalStateException("planted after a cut")
    }
    assert(run.failure.map(e => (e.getClass, e.getMessage)) ==
      Some((classOf[IllegalStateException], "planted after a cut")))
    assert(run.jobs.exists(_.site.startsWith("graft.plans.Checkpoints$.cut(")), run.jobs)
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(before), "cut not released")
  }

  test("q296's jobs are attributed to the first graft frame of their SQL execution's call site") {
    def sitesOfRun() = try recorded(Bench.runFullPlan(
      SparkEntry.queries("q296_dbscan")(spark, sf("")))).jobs.map(_.site)
      finally Checkpoints.release(spark)
    // a first run may infer a table's schema: a job outside any SQL
    // execution, named after its last stage (`parquet at Tables.scala`)
    assert(!sitesOfRun().exists(_.contains("CompletableFuture")))
    val sites = sitesOfRun()
    assert(sites.size > 5 && sites.forall(_.matches("""graft\.[\w.$]+\(\w+\.scala:\d+\)""")), sites)
    assert(Seq("graft.plans.Checkpoints$.cut(", "graft.Bench$.runFullPlan(")
      .forall(f => sites.exists(_.startsWith(f))), sites.distinct)
  }

  test("a capped body runs on a pool thread under the run's tag and times out past its cap") {
    val sc = spark.sparkContext
    val inTime = Recorder.record(spark, Some(1.minute))(sc.parallelize(1 to 4, 2).count())
    assert(inTime.failure.isEmpty && inTime.jobs.size == 1)
    val late = Recorder.record(spark, Some(200.millis)) { sc.parallelize(1 to 4, 2).count(); Thread.sleep(1000) }
    assert(late.failure.exists(_.isInstanceOf[TimeoutException]) && late.jobs.size == 1, late)
  }
}
