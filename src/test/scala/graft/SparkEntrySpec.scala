package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Driver-contract smoke (gate t1): entry() returns rows at sf0.001,
  * every declared query runs there within its job budget
  * (`plans/job_budget.tsv`), and every oracle key has a query.
  */
class SparkEntrySpec extends SparkSpec {

  test("entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys ⊆ queries keys; at least the round-7 floor of 202 queries declared") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${o -- q}")
    assert(q.size >= 202)
  }

  test("every query executes at sf0.001 (schema resolves, no runtime error)") {
    // Each query's full plan runs through the noop sink, as Bench runs
    // it, and may fire at most its budget's jobs. The counts seen land in
    // target/job_census.tsv; a change that cuts jobs lowers the budget
    // from it, and one that raises an entry says why.
    val budget = SparkEntrySpec.jobBudget
    val census = Seq.newBuilder[String]
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val jobs = recorded(Bench.runFullPlan(fn(spark, "/root/testdata/sf0.001"))).jobs.size
        census += s"$name\t$jobs"
        budget.get(name) match {
          case Some(b) if jobs <= b => None
          case Some(b) => Some(s"$name: $jobs jobs, budget $b")
          case None => Some(s"$name: $jobs jobs, no budget in ${SparkEntrySpec.BudgetFile}")
        }
      } catch { case e: Throwable => Some(s"$name: ${String.valueOf(e.getMessage).take(120)}") }
    }
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target/job_census.tsv"),
      census.result().mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("side-effectful queries are re-runnable (catalog/warehouse state doesn't poison round 2)") {
    // Every query that touches session or on-disk state beyond a pure
    // plan: saveAsTable (q205), temp views (q182/q186/q190/q219),
    // stateful-operator batch mode (q217). The q205 stale-warehouse bug
    // (LOCATION_ALREADY_EXISTS on the second Verify in one checkout)
    // motivates this gate — a failure here breaks the driver's re-run.
    val effectful = Seq("q205_indexed_dedup", "q182_small_qty_revenue",
      "q186_top_supplier", "q190_grouping_sets", "q219_hierarchy_rollup",
      "q217_source_cap_stream")
    val failures = effectful.flatMap { name =>
      val fn = SparkEntry.queries(name)
      try {
        val a = fn(spark, "/root/testdata/sf0.001").count()
        val b = fn(spark, "/root/testdata/sf0.001").count()
        if (a == b) None else Some(s"$name: run1=$a run2=$b")
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}

object SparkEntrySpec {
  val BudgetFile = "plans/job_budget.tsv"

  /** Query name → the most jobs it may fire at sf0.001 in the shared test
    * session (`#` lines are comments). */
  def jobBudget: Map[String, Int] =
    Files.readAllLines(Paths.get(BudgetFile)).asScala.toSeq
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l => val Array(q, n) = l.split('\t'); q -> n.toInt }.toMap
}
