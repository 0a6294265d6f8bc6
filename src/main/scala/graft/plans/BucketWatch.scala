package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** DEFAULT-CONFIG observability for the one recorded scale hazard the
  * oracle pins in place: an uncapped LSH bucket. Production runs cap
  * oversized SRP buckets via star compression
  * (`spark.graft.autosize=true` → bucketCap 256 — the r12 skew sweep:
  * a 10⁴-member clique is 101× slower uncapped), but the pinned
  * defaults must stay oracle-matched, so a default-config session
  * expands every bucket all-pairs with no cap. This watch makes that
  * run SELF-DIAGNOSING instead of silently quadratic: the bucket frame
  * carries a `CollectMetrics` node (`Dataset.observe` — rows pass
  * through untouched, so every correctness hash is unchanged by
  * construction) whose max-bucket-size metric is read by a
  * session-registered listener after each action; past the production
  * cap it prints the remediation on stderr.
  *
  * The observed aggregate rides the bucket groupBy's own pass — no
  * extra job, no extra shuffle; metric names are counter-suffixed so
  * two SRP kernels composed into one query tree never collide on
  * Spark's unique-observed-name rule.
  */
object BucketWatch {

  /** Warn past the width production would cap at (Autosize.srpBucketCap
    * law): a default-config bucket this size is exactly the case the
    * flag exists for.
    */
  val WarnThreshold = 256

  private val MetricPrefix = "graft_srp_buckets_"
  private val nameCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Spec hook: the largest over-threshold bucket any listener has seen
    * in this JVM (the listener bus is async — specs poll this).
    */
  @volatile private[graft] var lastOversize: Option[Long] = None

  /** Stderr sink, swappable by specs to capture the warning text. */
  @volatile private[graft] var warn: String => Unit =
    s => System.err.println(s)

  // one listener per session; weak keys so throwaway test sessions
  // don't pin their JVMs through this registry
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Attach the max-bucket-size observation to an `(ids array)` bucket
    * frame. Call ONLY on the uncapped (default-config) path — the
    * capped path already bounds every bucket.
    */
  def tagSrpBuckets(buckets: DataFrame): DataFrame = {
    ensureListener(buckets.sparkSession)
    buckets.observe(s"$MetricPrefix${nameCounter.incrementAndGet()}",
      max(size(col("ids"))).as("max_bucket"))
  }

  private def ensureListener(spark: SparkSession): Unit =
    registered.synchronized {
      if (registered.add(spark))
        spark.listenerManager.register(new QueryExecutionListener {
          override def onSuccess(funcName: String, qe: QueryExecution,
                                 durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith(MetricPrefix) && !row.isNullAt(0)) {
                val m = row.getAs[Number](0).longValue()
                if (m > WarnThreshold) {
                  lastOversize = Some(m)
                  warn(s"[graft] WARNING: an SRP bucket of $m members " +
                    s"expanded all-pairs (~${m * (m - 1) / 2} candidate " +
                    "rows in one band) under the default config; set " +
                    "spark.graft.autosize=true to star-compress " +
                    "oversized buckets")
                }
              }
            }
          override def onFailure(funcName: String, qe: QueryExecution,
                                 exception: Exception): Unit = ()
        })
    }
}
