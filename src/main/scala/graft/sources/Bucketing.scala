package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Co-located joins via bucketed tables (the 100 TB join posture,
  * SURVEY.md §4 / builder mandate "bucketing for co-located joins"):
  * writing both sides bucketed by the join key into the same bucket
  * count lets a sort-merge join run with NO Exchange on either side —
  * the shuffle is paid once at write time, then every downstream join
  * on that key is shuffle-free.
  */
object Bucketing {

  /** Persist `df` as a bucketed managed table (sorted within buckets so
    * the merge join also skips the per-task sort).
    *
    * Idempotent ACROSS SESSIONS: a fresh session's in-memory catalog
    * doesn't know tables a previous process wrote, but the managed
    * location persists in the warehouse dir — `saveAsTable(Overwrite)`
    * then refuses with LOCATION_ALREADY_EXISTS instead of overwriting.
    * Dropping the (possibly catalog-unknown) table and clearing any
    * stale orphan location first makes re-runs land the same table the
    * way a real pipeline's index refresh must.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    write(df, table, key, buckets, Map.empty)

  private def write(df: DataFrame, table: String, key: String, buckets: Int,
                    options: Map[String, String]): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write
      .options(options)
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Storage property that marks a table written by [[shared]], so
    * [[dropSharedArtifacts]] finds every shared table without a list of
    * names that could fall out of step with the callers. */
  private val SharedMark = "graft.shared"

  /** A shared bucketed artifact: the table `table`, written from `build`
    * by the bucketed writer on first use, then read back with
    * `spark.table`. Several queries consume one derived table (the graph
    * family's edge sets, the PPJoin truth pairs), so it is built once per
    * corpus version instead of once per query; callers put the corpus
    * fingerprint ([[graft.Tables.fingerprint]]) in `table`, so a rewritten
    * corpus gets a new table.
    *
    * The session catalog is the memo: `build` runs when
    * `spark.catalog.tableExists(table)` is false, so a table dropped from
    * outside, or a new SparkContext in the same JVM (whose in-memory
    * catalog starts empty), rebuilds instead of serving a name the
    * catalog no longer knows. One lock serializes builds in this process;
    * it is re-entrant, so a build may read another shared table (the LPA
    * labels read the edge table). Nothing coordinates two processes that
    * share a warehouse dir: each rebuilds its own copy in place.
    */
  def shared(spark: SparkSession, table: String, key: String, buckets: Int)
            (build: => DataFrame): DataFrame = synchronized {
    if (!spark.catalog.tableExists(table))
      write(build, table, key, buckets, Map(SharedMark -> "true"))
    spark.table(table)
  }

  /** Drop every table [[shared]] wrote into the session's catalog, for
    * every corpus fingerprint; other bucketed tables (q205's dedup index)
    * stay. Safe to call anytime: consumers rebuild on next use.
    */
  def dropSharedArtifacts(spark: SparkSession): Unit = synchronized {
    val catalog = spark.sessionState.catalog.externalCatalog
    catalog.listTables("default")
      .filter(t => catalog.getTable("default", t).storage.properties.contains(SharedMark))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  /** Join two same-bucketed tables on their bucket key. With matching
    * bucket counts Catalyst plans SortMergeJoin without Exchange.
    */
  def coLocatedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                    key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)

  /** True when the physical plan contains no shuffle exchange — the
    * co-location proof used by tests and plan audits.
    */
  def isShuffleFree(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    !plan.contains("Exchange hashpartitioning")
  }
}
