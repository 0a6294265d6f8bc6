package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.functions.{col, desc, max, monotonically_increasing_id}

import graft.{Bench, SparkEntry, SparkSpec}

/** [[BoundedSort]]'s edges at sf0.001. Each check compares the shared
  * session with a reference session in which the rule cannot fire
  * (`autoBroadcastJoinThreshold=-1`). `tools/check.py` ignores row order,
  * so this spec is what pins the order of the results the rule rewrites.
  */
class BoundedSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val reference: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  private def query(s: SparkSession, name: String): DataFrame =
    SparkEntry.queries(name)(s, sf(name))

  /** The executed plan once AQE has finalized it. */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def hasRange(plan: SparkPlan): Boolean =
    plan.toString.toLowerCase.contains("rangepartitioning")

  /** The root global sort of a finalized plan, found the way the rule
    * walks, if its input arrives through a one-partition shuffle. */
  private def singlePartitionRootSort(plan: SparkPlan): Option[SortExec] = {
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => unwrap(w.child)
      case i: InputAdapter => unwrap(i.child)
      case r: AQEShuffleReadExec => unwrap(r.child)
      case other => other
    }
    def walk(p: SparkPlan): Option[SortExec] = unwrap(p) match {
      case q @ (_: ProjectExec | _: FilterExec) => walk(q.children.head)
      case s @ SortExec(_, true, child, _) => unwrap(child) match {
        case stage: ShuffleQueryStageExec
            if stage.shuffle.outputPartitioning == SinglePartition => Some(s)
        case _ => None
      }
      case _ => None
    }
    walk(stripAQEPlan(plan))
  }

  /** Plan text without expression and plan ids, which differ per run. */
  private def shape(plan: SparkPlan): String =
    plan.toString.replaceAll("#\\d+L?", "").replaceAll("plan_id=\\d+", "")

  test("a bounded report sorts on one partition and fires one job fewer") {
    Seq("q18_scrubbed_balances", "q27_route_rules").foreach { name =>
      Bench.runFullPlan(query(reference, name)) // first touch: Tables' inference
      val refJobs = jobsOf(Bench.runFullPlan(query(reference, name)))
      val jobs = jobsOf(Bench.runFullPlan(query(spark, name)))
      assert(hasRange(finalPlan(query(reference, name))), s"$name: reference lost its range")
      val plan = finalPlan(query(spark, name))
      assert(!hasRange(plan), s"$name kept its range exchange:\n$plan")
      assert(jobs == refJobs - 1, s"$name: $jobs jobs, reference $refJobs")
    }
  }

  test("a sort whose input estimate is over the bound keeps its range exchange") {
    // 20M longs: a 160 MB estimate against the 10 MB default bound
    val df = spark.range(0, 20000000).orderBy(desc("id"))
    val plan = df.queryExecution.executedPlan
    assert(hasRange(plan), s"the range exchange is gone:\n$plan")
  }

  test("a sort under an aggregate is left as it is") {
    // rows numbered in sorted order, then counted per bucket: the
    // nondeterministic numbering keeps the optimizer from dropping the
    // inner sort, and the aggregate above it is planned on its output
    val df = spark.range(0, 1000).toDF("id")
      .orderBy(desc("id"))
      .withColumn("n", monotonically_increasing_id())
      .groupBy((col("id") % 7).as("k")).agg(max("n").as("last"))
      .orderBy("k")
    val plan = finalPlan(df)
    assert(hasRange(plan), s"the inner sort lost its range exchange:\n$plan")
    assert(singlePartitionRootSort(plan).isDefined, s"the root sort was not rewritten:\n$plan")
  }

  test("q51's sort over an unpartitioned window keeps its plan") {
    val name = "q51_survey_report"
    val plan = finalPlan(query(spark, name))
    assert(shape(plan) == shape(finalPlan(query(reference, name))), plan.toString)
  }

  test("every rewritten result keeps its order and equals the reference's rows") {
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val checked = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val df = query(spark, name)
      val result = rows(df)
      singlePartitionRootSort(df.queryExecution.executedPlan).map { sort =>
        val ordering = new InterpretedOrdering(sort.sortOrder, sort.output)
        val unordered = sort.executeCollect().toSeq.sliding(2).collectFirst {
          case Seq(a, b) if ordering.compare(a, b) > 0 => s"$name: $a before $b"
        }
        unordered.orElse(Option.when(result != rows(query(reference, name)))(
          s"$name: rows differ from the reference"))
      }
    }
    assert(checked.size >= 100, s"only ${checked.size} queries were rewritten")
    val failures = checked.flatten
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
