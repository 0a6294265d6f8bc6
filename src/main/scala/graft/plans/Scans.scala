package graft.plans

import org.apache.spark.sql.DataFrame

/** Scan-side parallelism repair for expensive per-row map work.
  *
  * The driver's parquet layout packs each table into ONE file with ONE
  * row group, and a row group is Spark's atomic scan unit — so no
  * split-size config can raise a bare scan above one task, and every
  * expression evaluated before the first Exchange (shingling, n-gram
  * explodes, per-character bigrams, vector quantization) runs
  * single-threaded regardless of core count. Operators whose map work
  * dominates call [[fanOut]] on the scan: a round-robin repartition to
  * the session's default parallelism, applied ONLY when the frame's
  * actual split count is below it.
  *
  * Scale posture: this is NOT a local-mode constant. The trigger
  * compares the input's real partition count against the session's
  * parallelism, so on any production layout (many files / many row
  * groups per table at 100 TB) the condition is false and the frame
  * passes through untouched; in the degenerate one-row-group case the
  * shuffle it inserts moves exactly the bytes one map task would
  * otherwise serialize through a single core. Round-robin keeps Spark's
  * sort-before-repartition retry determinism (SPARK-23207), and every
  * graft operator is partition-order-independent by the integer-exactness
  * doctrine, so results are unchanged (oracle re-checked per consumer).
  */
object Scans {

  /** CONTRACT: call this on SCAN-LEVEL frames only (a bare table read,
    * optionally projected/filtered). `df.rdd.getNumPartitions` forces
    * physical planning, and under AQE on a POST-SHUFFLE frame it would
    * eagerly execute the upstream exchange stages just to count
    * partitions — a double-execution footgun. Every current call site
    * passes `Tables(...)` reads (registration-level) or the raw scan
    * inside an operator; keep it that way.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val cur =
      try df.rdd.getNumPartitions
      catch { case scala.util.control.NonFatal(_) => target }
    if (cur < target) df.repartition(target) else df
  }
}
