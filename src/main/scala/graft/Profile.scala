package graft

/** Builder-side profiling harness: run one named query N times against a
  * scale-factor dir, print per-iteration wall time and (optionally) the
  * formatted physical plan. Usage:
  *   runMain graft.Profile <sfDir> <queryName> [iters] [explain]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    // [iters] and [explain] are independent optional args in any order
    val iters = args.drop(2).flatMap(_.toIntOption).headOption.getOrElse(3)
    val doExplain = args.contains("explain")
    val spark = GraftSession.local()
    val fn = SparkEntry.queries(name)
    Bench.warmUp(spark, sfDir)
    if (doExplain) fn(spark, sfDir).explain("formatted")
    (1 to iters).foreach { i =>
      val t0 = System.nanoTime()
      Bench.runFullPlan(fn(spark, sfDir))
      println(f"[profile] $name iter $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
