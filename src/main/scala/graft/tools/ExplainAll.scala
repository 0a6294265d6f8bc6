package graft.tools

/** Batch plan capture for the optimization rounds: one JVM, many
  * queries, one `.explain("formatted")` text file each — the per-query
  * `graft.Explain` pays a full session spin-up per plan, which makes a
  * 30-query sweep slower than the bench it is meant to diagnose.
  *
  * Usage: runMain graft.tools.ExplainAll <outDir> <suffix> <q1> [q2 ...]
  * Writes <outDir>/<query>_<suffix>.txt.
  *
  * The session is Bench's by construction (both call
  * [[graft.GraftSession.local]]), so the captured initial plans are the
  * bench's plans. Note: operators built around eager lineage cuts
  * (Checkpoints.cut) execute their iterative prefix during CONSTRUCTION;
  * the captured text is the final plan segment above the last cut, which
  * is exactly what the bench executes for the terminal action.
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("SPARK_GRAFT_AUTOSIZE")
      .foreach(v => spark.conf.set(graft.plans.Autosize.Key, v))
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        graft.plans.Checkpoints.release(spark)
        System.err.println(s"[explainall] $name ok")
      } catch { case e: Throwable =>
        System.err.println(s"[explainall] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
