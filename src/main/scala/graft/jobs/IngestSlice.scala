package graft.jobs

import graft.extract.{CollectionDispatch, Envelope}
import graft.operators.Routing
import graft.sources.{FileCatalog, Readers}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** The minimum end-to-end slice (SURVEY.md §7 / §3.1): request_ingest of
  * a generic metadata.tsv dataset — scan (S1) → dispatch (S14) → parse +
  * validate (S2/S4/V2) → envelope (+schema check) → route (J5) → status
  * event. The upload is listed once and its envelope built once: on
  * `fixture_generic` one request runs 6 Spark jobs (the scan's collect,
  * the metadata.tsv header and rows, the contributors header and the
  * envelope's shuffle and result; it was 29 when each stage re-ran the
  * scan). Later stages work from what the driver already holds:
  * dispatch and the V2 rules run over the collected listing and
  * metadata rows, and the envelope plans over the listing as a local
  * relation, not by re-listing the tree (vs the reference's per-stage
  * YAML/XCom handoffs).
  */
object IngestSlice {

  final case class IngestResult(
      datasetId: String,
      collectionType: String,
      workflow: String,
      violations: Seq[String],
      envelopeJson: String,
      statusEvent: (String, String, String))

  /** Workflow routing rules keyed on assay_type (workflow_map.yml shape). */
  val workflowRules: Seq[Routing.RoutingRule] = Seq(
    Routing.RoutingRule("(?i)codex", "codex_cytokit", 1),
    Routing.RoutingRule("(?i)rnaseq|scrna", "salmon_rnaseq", 2),
    Routing.RoutingRule("(?i)atac", "sc_atac_seq", 3),
  )

  /** Annotation rules for the envelope's file records. */
  val manifestRules: Seq[FileCatalog.ManifestRule] = Seq(
    FileCatalog.ManifestRule("(?i)\\.fastq$", "raw reads", "EDAM:format_1930", isDataProduct = true),
    FileCatalog.ManifestRule("(?i)metadata\\.tsv$", "assay metadata", "EDAM:format_3475"))

  private val metadataFile = java.util.regex.Pattern.compile("(?i)^[^/]*metadata\\.tsv$")

  private def strings(names: String*): StructType =
    StructType(names.map(StructField(_, StringType)))

  def run(spark: SparkSession, dir: String, datasetId: String): IngestResult = {
    // S1: distributed scan, collected once (the driver's file index holds
    // every FileStatus of the upload already) and replanned as a local
    // relation, so no later stage re-lists the tree
    val scanned = FileCatalog.scan(spark, dir)
    val files = scanned.collect()
    val listing = spark.createDataFrame(files.toSeq.asJava, scanned.schema)
      .withColumn("dataset_id", lit(datasetId))
    val relPaths = files.map(_.getAs[String]("rel_path")).toSeq
    // S14: priority dispatch
    val collectionType = CollectionDispatch.dispatch(relPaths)
    // S2/S4 + V2: metadata parse + structural validation; with several
    // *metadata.tsv files the lexicographically first one is read
    val metadataPath = relPaths.filter(metadataFile.matcher(_).find()).sorted.headOption
      .map(p => s"$dir/$p")
    val (mdColumns, mdRows, violationList) = metadataPath match {
      case Some(p) =>
        val md = Readers.tsv(spark, p)
        val rows = md.collect().toSeq
        val rowCount =
          if (rows.length > 1) Seq(s"row_count: metadata.tsv has ${rows.length} data rows, expected 1")
          else Nil
        (md.columns.toSeq, rows,
          Readers.metadataViolations(md, rows).map { case (rule, detail) => s"$rule: $detail" } ++ rowCount)
      case None => (Nil, Nil, Seq("required_file: metadata.tsv missing"))
    }
    // routing, contributors_path and the envelope's metadata all come
    // from the first data row; a header-only metadata.tsv has the columns
    // but no row — report violations, don't throw
    val firstRow = mdRows.headOption
    def field(name: String): Option[String] =
      firstRow.filter(_ => mdColumns.contains(name)).map(_.getAs[String](name))
    // contributors sub-TSV (F1 contract)
    val contributors = field("contributors_path").flatMap(Option(_)).map(p =>
      Readers.tsv(spark, s"$dir/${p.stripPrefix("./")}").withColumn("dataset_id", lit(datasetId)))
      .getOrElse(spark.createDataFrame(java.util.List.of[Row](),
        strings("dataset_id", "name", "affiliation", "orcid_id", "is_contact", "email")))
    // envelope assembly + validation: one shuffle, one action
    val metadata = spark.createDataFrame(
      firstRow.toSeq.flatMap(r => mdColumns.indices.map(i => Row(datasetId, mdColumns(i), r.getString(i)))).asJava,
      strings("dataset_id", "key", "value"))
    val envelope = Envelope.assemble(metadata, FileCatalog.annotate(listing, manifestRules), contributors,
      Seq(("graft-ingest", BuildInfo.commit, "graft", BuildInfo.version)))
    val checked = envelope.select(Envelope.jsonDoc(envelope).as("doc"), Envelope.violations.as("violations"))
      .collect()
    val envViolations = checked.toSeq.flatMap(_.getSeq[String](1))
    // J5 routing on assay_type
    val assay = field("assay_type").getOrElse("")
    val workflow = workflowRules.sortBy(_.priority)
      .find(r => java.util.regex.Pattern.compile(r.pattern).matcher(assay).find())
      .map(_.workflow).getOrElse("no_workflow")
    // status event from validation outcome
    val status = if (violationList.isEmpty && envViolations.isEmpty) "valid" else "invalid"
    IngestResult(
      datasetId, collectionType, workflow,
      violationList ++ envViolations,
      checked.head.getString(0),
      (datasetId, "dataset", status))
  }

  /** Minimal build provenance (the reference shells out to git —
    * utils.py:626-663; we inline constants wired at release time).
    */
  object BuildInfo {
    val commit: String = "dev"
    val version: String = "0.1.0"
  }
}
