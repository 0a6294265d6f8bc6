package graft.plans

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Lineage-breaking for iterative plans (CC rounds, PageRank, triangle
  * phases), with a reliability switch and a scoped storage-release API.
  *
  * Default (`spark.graft.checkpointDir` unset) is
  * `localCheckpoint(eager = true)`: blocks are materialized in executor
  * storage — fastest, but an executor loss mid-iteration kills the
  * lineage and the job. That is the right trade in a single-JVM sandbox
  * and for short interactive runs. A 1000-executor run over 100 TB wants
  * the RELIABLE `checkpoint()` path: the round is written to the
  * fault-tolerant store (HDFS/object store), so iteration k survives any
  * executor and restarts from materialized state instead of replaying
  * the whole lineage chain.
  *
  * The reliable path is reachable one way: the session conf
  * `spark.conf.set("spark.graft.checkpointDir", path)`. Every [[cut]] in
  * the session then upgrades to `checkpoint()` into that directory, with
  * no call-site change; operators take no directory of their own, so a
  * deployment flips every iterative query at once. (Checkpoint files are
  * cleaned by Spark only with
  * `spark.cleaner.referenceTracking.cleanCheckpoints` — lifecycle of the
  * directory belongs to the deployment.)
  *
  * The checkpoint directory is process-global in Spark
  * (`SparkContext.setCheckpointDir`); it is set lazily on first use and
  * only re-set when the requested base dir actually changes, so
  * repeated calls inside an iteration loop do not spray one UUID
  * subdirectory per round.
  *
  * Storage lifecycle. `localCheckpoint` pins its blocks for the session
  * lifetime — in a long-lived 100×-scale session those pinned blocks
  * accumulate until the unified-memory storage floor squeezes execution
  * memory. Every local cut therefore REGISTERS the RDD it pinned; an
  * iterative operator frees a superseded round's cut in scope via
  * [[drop]] (Dedup's CC loop), and one that `cache()`s an intermediate
  * consumed lazily by its RESULT plan registers it via [[pin]]. A
  * harness calls
  * [[release]] once the query's terminal consumer has run — Bench does
  * so between queries — and all graft-pinned storage drains. Releasing
  * makes the already-returned DataFrames non-recomputable (their lineage
  * was truncated at the cut), which is exactly the contract: release
  * only after the results are consumed.
  */
object Checkpoints {

  /** Session conf key for the reliable-checkpoint upgrade (a deployment
    * path; unset or blank means local cuts). */
  val DirConf = "spark.graft.checkpointDir"

  /** Session conf key that turns every [[cut]] into a no-op. A cut
    * truncates lineage, so `explain`/plan-contract tooling sees only the
    * final segment of an iterative operator; flipping this knob exposes
    * the WHOLE composed plan for inspection (at the cost of the
    * re-execution the cuts exist to prevent — inspection only, never
    * production).
    */
  val DisableConf = "spark.graft.checkpoint.disable"

  @volatile private var lastDir: Option[String] = None

  // RDD ids pinned by localCheckpoint cuts, and cached Datasets pinned
  // via pin() — both drained by release(). Identified per-call (not
  // per-session): the sandbox runs one session, and on a cluster each
  // driver JVM owns one SparkContext anyway.
  private val pinnedRddIds = ConcurrentHashMap.newKeySet[Integer]()
  private val pinnedDatasets = new ConcurrentLinkedQueue[Dataset[_]]()

  private val MetricPrefix = "graft_cut_"
  private val nameCounter = new java.util.concurrent.atomic.AtomicLong()

  private def disabled(spark: SparkSession): Boolean =
    spark.conf.getOption(DisableConf).contains("true")

  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (disabled(spark)) return df
    spark.conf.getOption(DirConf).map(_.trim).filter(_.nonEmpty) match {
      case Some(d) =>
        val sc = spark.sparkContext
        synchronized {
          if (!lastDir.contains(d) || sc.getCheckpointDir.isEmpty) {
            sc.setCheckpointDir(d)
            lastDir = Some(d)
          }
        }
        df.checkpoint()
      case None =>
        val sc = spark.sparkContext
        // localCheckpoint(eager) persists exactly the RDDs it pins before
        // returning — a before/after diff of the persistent-RDD registry
        // captures their ids for later release. Cuts are driver-side and
        // effectively sequential per query; a concurrent foreign persist
        // landing in the window would merely be released late (harmless:
        // release touches only ids still live at drain time).
        val before = sc.getPersistentRDDs.keySet
        val out = df.localCheckpoint(true)
        sc.getPersistentRDDs.keySet.diff(before).foreach { id =>
          pinnedRddIds.add(id)
        }
        out
    }
  }

  /** [[cut]] `df` and evaluate `metrics` (aggregate columns) over its
    * rows: returns the cut and one row of the metric values. The
    * aggregates ride the cut's own job as a `Dataset.observe` node
    * (local and reliable paths alike), so "cut, then count()" costs one
    * job, not two. Metric names are counter-suffixed so two measured
    * cuts in one query tree never collide on Spark's unique-observed-
    * name rule. A disabled cut runs no job, so it pays one explicit
    * aggregate instead.
    */
  def cutMeasured(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    if (disabled(df.sparkSession))
      return (df, df.agg(metrics.head, metrics.tail: _*).head())
    val name = s"$MetricPrefix${nameCounter.incrementAndGet()}"
    val observed = df.observe(name, metrics.head, metrics.tail: _*)
    val out = cut(observed)
    (out, observed.queryExecution.observedMetrics(name))
  }

  /** Unpersist the blocks of one local [[cut]] now, instead of at
    * [[release]]: for an iterative operator's superseded rounds. `df`
    * must be the frame [[cut]] returned (or a projection of it) and no
    * live frame may still read it. `Dataset.unpersist` cannot do this —
    * it only touches `CacheManager` entries, never a checkpoint's RDD.
    * A reliable or disabled cut pinned nothing, so this is a no-op.
    */
  def drop(df: DataFrame): Unit =
    df.queryExecution.logical.collectLeaves().foreach {
      case r: LogicalRDD if pinnedRddIds.remove(r.rdd.id) => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** `cache()` an intermediate that the operator's RESULT plan consumes
    * lazily (so the operator itself has no safe point to unpersist), and
    * register it for [[release]]. Returns the same Dataset. A plan that
    * is already cached belongs to whoever cached it: it is neither
    * re-cached nor registered, so [[release]] never drops another
    * owner's cache.
    */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    if (ds.storageLevel == StorageLevel.NONE) {
      ds.cache()
      pinnedDatasets.add(ds)
    }
    ds
  }

  /** Drain every block graft pinned via [[cut]] (local path) or [[pin]].
    * Call AFTER the terminal consumer of the returned DataFrames — the
    * cuts' lineage is truncated, so post-release re-execution of those
    * plans would fail by design. Non-blocking unpersist: block removal
    * proceeds asynchronously while the next query starts.
    */
  def release(spark: SparkSession): Unit = {
    var d = pinnedDatasets.poll()
    while (d != null) {
      d.unpersist(blocking = false)
      d = pinnedDatasets.poll()
    }
    val live = spark.sparkContext.getPersistentRDDs
    val it = pinnedRddIds.iterator()
    while (it.hasNext) {
      live.get(it.next().intValue()).foreach(_.unpersist(blocking = false))
      it.remove()
    }
  }
}
