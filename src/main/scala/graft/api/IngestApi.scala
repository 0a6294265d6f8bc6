package graft.api

import graft.jobs.{IngestSlice, Reorganize}
import graft.status.StatusMachine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §7 module 8 — the thin facade mirroring `endpoint.py`'s surface
  * (request_ingest, bulk, validate, reorganize, status) over the
  * engine's job layer. Transport (REST/CLI) stays outside; this object
  * is the complete programmatic API a reference user would call, with
  * the same idempotency semantics:
  *
  *  - run-id dedup (endpoint.py:370-372 "The request happened twice?"):
  *    a request whose run_id is already in the processed store is
  *    acknowledged but not re-executed — the batch twin of the
  *    streaming `dropDuplicatesWithinWatermark` path;
  *  - every call returns DataFrames/values, never mutates state it
  *    doesn't own (status events are appended through [[StatusMachine]]).
  */
object IngestApi {

  final case class IngestAck(runId: String, accepted: Boolean,
                             result: Option[IngestSlice.IngestResult])

  /** request_ingest: dedup on run_id, then the §3.1 end-to-end slice.
    * `processedRunIds` is the caller-owned store of completed run ids
    * (one column `run_id`); the probe is an `isEmpty`, which fires no
    * job when the store is a local relation.
    */
  def requestIngest(spark: SparkSession, runId: String, dir: String, datasetId: String,
                    processedRunIds: DataFrame): IngestAck = {
    val seen = !processedRunIds.filter(col("run_id") === runId).isEmpty
    if (seen) IngestAck(runId, accepted = false, result = None)
    else IngestAck(runId, accepted = true,
      result = Some(IngestSlice.run(spark, dir, datasetId)))
  }

  /** bulk: the same slice over many (run_id, dir, dataset_id) requests,
    * dropping duplicate run_ids within the batch AND against the store —
    * the POSITIONALLY first occurrence of each run_id wins. The store
    * probe filters on the batch's run ids (bounded by batch size), never
    * collecting the store itself.
    */
  def bulkIngest(spark: SparkSession, requests: Seq[(String, String, String)],
                 processedRunIds: DataFrame): Seq[IngestAck] = {
    val batchIds = requests.map(_._1).distinct
    val seen = processedRunIds
      .filter(col("run_id").isin(batchIds: _*))
      .select("run_id").collect().map(_.getString(0)).toSet
    val firstIdx: Map[String, Int] =
      requests.zipWithIndex.groupBy(_._1._1).map { case (id, rs) => id -> rs.map(_._2).min }
    requests.zipWithIndex.map { case ((runId, dir, datasetId), i) =>
      if (seen.contains(runId) || firstIdx(runId) != i) IngestAck(runId, accepted = false, None)
      else IngestAck(runId, accepted = true, Some(IngestSlice.run(spark, dir, datasetId)))
    }
  }

  /** validate: the V-layer only — violations DataFrame, no side effects. */
  def validateUpload(spark: SparkSession, dir: String): Seq[String] = {
    val r = IngestSlice.run(spark, dir, datasetId = "validate-only")
    r.violations
  }

  /** reorganize: phase 1 of the two-phase frozen-checkpoint job (§3.2) —
    * freeze the upload's metadata to the checkpoint path and return the
    * frozen frame; phase 2 resumes from the freeze.
    */
  def reorganize(metadata: DataFrame, uploadId: String, freezePath: String): DataFrame =
    Reorganize.phase1(metadata, uploadId, freezePath)

  /** status update: requested transitions through the V5 guard rails —
    * returns (accepted, rejected-with-reason); callers append accepted
    * events to their store. The latest-wins read path is [[statusView]].
    */
  def updateStatuses(spark: SparkSession, requested: DataFrame,
                     statusEvents: DataFrame): (DataFrame, DataFrame) =
    StatusMachine.validateBatch(spark, requested,
      StatusMachine.currentStatuses(statusEvents))

  /** K4 read path: current status per entity (latest event wins). */
  def statusView(statusEvents: DataFrame): DataFrame =
    StatusMachine.currentStatuses(statusEvents)
}
