package graft

/** Plan inspector: `runMain graft.Explain <queryName> [sfDir]` prints the
  * formatted physical plan — the tuning loop's feedback (check
  * PushedFilters, ReadSchema pruning, broadcast vs shuffle joins,
  * WholeStageCodegen spans).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
