package graft.jobs

import graft.sources.Readers
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Upload reorganization — the split_and_create two-phase job
  * (SURVEY.md §3.2; split_and_create.py:460-552): split a multi-assay
  * upload's metadata.tsv into per-child datasets with a crash-resumable
  * materialization barrier between the phases.
  *
  * Phase 1 derives canonical assay types + deterministic child ids and
  * FREEZES the augmented DataFrame to disk (the reference's deliberate
  * checkpoint, :527-529). Phase 2 re-reads the frozen table and emits
  * pure *plans*: per-child metadata rows, a file-move plan, and status
  * events — side effects (filesystem moves, entity updates) execute from
  * the plans in the driver, idempotently.
  */
object Reorganize {

  /** Canonical assay type (split_and_create.py:502-506 shape): lowercase,
    * collapse separators.
    */
  def canonicalAssayType(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(lower(trim(c)), "[^a-z0-9]+", "_")

  /** Special-case column rewrites (split_and_create.py:52-87): pure
    * `when` exprs.
    */
  def applySpecialCases(df: DataFrame): DataFrame = {
    val withAssay =
      if (df.columns.contains("assay_type")) df
      else df.withColumn("assay_type", col("dataset_type"))
    withAssay
      .withColumn("canonical_assay_type", canonicalAssayType(col("assay_type")))
      .withColumn("lab_id",
        when(col("lab_id").isNull || col("lab_id") === "nan", lit(""))
          .otherwise(col("lab_id")))
  }

  /** Phase 1: augment + assign deterministic child ids, freeze to TSV.
    * Child id = stable hash of (upload_id, row fingerprint) so re-runs
    * reassign identical ids (idempotent resume).
    */
  def phase1(metadata: DataFrame, uploadId: String, freezePath: String): DataFrame = {
    val augmented = applySpecialCases(metadata)
      .withColumn("child_id",
        concat(lit("child-"), sha2(concat_ws("|", lit(uploadId), col("data_path"), col("canonical_assay_type")), 256).substr(1, 12)))
    augmented.coalesce(1).write.mode("overwrite")
      .option("sep", "\t").option("header", "true").csv(freezePath)
    augmented
  }

  /** Phase 2 inputs re-read from the frozen barrier — resume-safe. The
    * freeze directory is read as the TSV that [[phase1]] wrote, through
    * `Readers.tsv`: its one part file names the columns from its header
    * (`_SUCCESS` and `.crc` files are hidden from the listing), and no
    * schema-inference job runs.
    */
  def readFrozen(spark: SparkSession, freezePath: String): DataFrame =
    Readers.tsv(spark, freezePath)

  /** Phase 2a: per-child metadata rows with rewritten paths
    * (split_and_create.py:184-249): data_path/contributors_path become
    * child-relative.
    */
  def childMetadata(frozen: DataFrame): DataFrame =
    frozen.withColumn("data_path", lit("."))
      .withColumn("contributors_path",
        regexp_replace(col("contributors_path"), lit("^\\.\\/"), concat(lit("./"), col("child_id"), lit("/"))))

  /** Phase 2b: file-move plan — (child_id, src, dst) rows; the
    * global/non_global shared-upload split keeps `global/` files in
    * every child (split_and_create.py:204-236).
    */
  def movePlan(frozen: DataFrame, listing: DataFrame): DataFrame = {
    val children = frozen.select(col("child_id"), col("data_path").as("orig_data_path"))
    // match on "<dir>/" (trailing slash) so sibling dirs that are string
    // prefixes of each other ("raw1" vs "raw10") can't cross-match
    val prefix = concat(regexp_replace(col("orig_data_path"), "^\\.\\/", ""), lit("/"))
    val dataFiles = listing.join(children, col("rel_path").startsWith(prefix))
    val globalFiles = listing.filter(col("rel_path").startsWith("global/"))
      .crossJoin(frozen.select("child_id").distinct())
    dataFiles.select(col("child_id"), col("rel_path").as("src"),
        concat(col("child_id"), lit("/"), col("rel_path")).as("dst"))
      .unionByName(globalFiles.select(col("child_id"), col("rel_path").as("src"),
        concat(col("child_id"), lit("/"), regexp_replace(col("rel_path"), "^global/", "")).as("dst")))
  }

  /** Phase 2c: status events — Upload→Reorganized, children→Submitted
    * (split_and_create.py:390-441), as an append batch for the status
    * store.
    */
  def statusEvents(frozen: DataFrame, uploadId: String): DataFrame = {
    val spark = frozen.sparkSession
    import spark.implicits._
    val children = frozen.select(col("child_id").as("uuid"))
      .withColumn("entity_type", lit("dataset"))
      .withColumn("status", lit("submitted"))
    Seq((uploadId, "upload", "reorganized")).toDF("uuid", "entity_type", "status")
      .unionByName(children)
  }
}
