package graft

/** Diagnosis harness: time named queries in one JVM and attribute their
  * jobs to call sites. Usage:
  *   runMain graft.Profile <sfDir> <q1,q2,...> [iters] [explain]
  *
  * After Bench's warm-up, each query runs `iters` times (default 3), each
  * a [[Recorder.step]] as Bench times it. Every iteration prints its wall
  * time; the last also prints its jobs summed by the recorder's call site,
  * which says which job burns the time in a query of many. `explain`
  * first prints each query's formatted plan: the segment above the last
  * eager cut, since building the plan runs the cuts.
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    // [iters] and [explain] are independent optional args in any order
    val iters = args.drop(2).flatMap(_.toIntOption).headOption.getOrElse(3)
    val doExplain = args.drop(2).contains("explain")
    val spark = GraftSession.local()

    Bench.warmUp(spark, sfDir)
    names.foreach { name =>
      def ok(r: Recorder.Run): Boolean = {
        r.failure.foreach(e => System.err.println(s"[profile] $name FAILED: ${e.getMessage}"))
        r.failure.isEmpty
      }
      def query = SparkEntry.queries(name)(spark, sfDir)
      if (!doExplain || ok(Recorder.step(spark)(query.explain("formatted"))))
        (1 to iters).iterator.map(i => (i, Recorder.step(spark)(Bench.runFullPlan(query))))
          .takeWhile(ir => ok(ir._2))
          .foreach { case (i, r) =>
            println(f"[profile] $name iter $i: ${r.wallS}%.3f s, ${r.jobs.size} jobs")
            if (i == iters) r.jobs.groupBy(_.site).toSeq
              .map { case (site, js) => (site, js.map(_.ms).sum / 1000.0, js.size) }
              .sortBy(-_._2)
              .foreach { case (site, s, n) => println(f"[profile]   $s%7.3f s  ($n%3d jobs)  $site") }
          }
    }
    spark.stop()
  }
}
