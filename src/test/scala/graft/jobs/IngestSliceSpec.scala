package graft.jobs

import java.nio.file.{Files, Path, Paths}

import graft.SparkSpec
import graft.extract.{CollectionDispatch, Envelope}
import graft.sources.{FileCatalog, Readers}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class IngestSliceSpec extends SparkSpec {

  private val generic = "src/test/resources/fixture_generic"
  private val devtest = "src/test/resources/fixture_devtest"
  private val multiassay = "src/test/resources/fixture_multiassay"

  test("end-to-end generic ingest: scan → dispatch → validate → envelope → route → status") {
    val r = IngestSlice.run(spark, generic, "ds-0001")
    assert(r.collectionType == "generic_metadatatsv")
    assert(r.workflow == "codex_cytokit")
    assert(r.violations.isEmpty)
    assert(r.statusEvent == (("ds-0001", "dataset", "valid")))
    assert(r.envelopeJson.contains(""""assay_type":"codex""""))
    assert(r.envelopeJson.contains(""""ada@example.org""""))     // promoted contact
    assert(r.envelopeJson.contains(""""raw reads""""))           // manifest annotation
    assert(r.envelopeJson.contains(""""dag_provenance_list""""))
  }

  test("devtest dir routes to no_workflow but still dispatches") {
    val r = IngestSlice.run(spark, devtest, "ds-0002")
    assert(r.collectionType == "devtest")
    assert(r.workflow == "no_workflow")
    assert(r.statusEvent._3 == "invalid") // no metadata.tsv → violations
  }

  // ------------------------------------------------- equivalence and job count

  /** A temporary copy of `fixture` with `edit` applied. */
  private def copyOf(fixture: String)(edit: Path => Unit): String = {
    val src = Paths.get(fixture)
    val dst = Files.createTempDirectory("ingest-slice")
    Files.walk(src).forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
    edit(dst)
    dst.toString
  }

  private def write(root: Path, rel: String, text: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes("UTF-8"))
  }

  private val header = "assay_type\tdata_path\tcontributors_path\tantibodies_path\ttissue_id\tdonor_id\n"

  private lazy val noContributors = copyOf(generic) { d =>
    Files.delete(d.resolve("contributors.tsv"))
    write(d, "my-metadata.tsv", header + "codex\t./raw\t\t./antibodies.tsv\tTEST0001-LK-1\tTEST0001\n")
  }
  private lazy val epic = copyOf(generic)(d => write(d, "derived/seg/mask.tiff", "mask"))

  test("run is byte-identical to the inline reference form on every input shape") {
    assert(IngestSlice.run(spark, noContributors, "ds-eq").envelopeJson.contains(""""contributors":[]"""))
    assert(IngestSlice.run(spark, epic, "ds-eq").collectionType == "epic_metadata")
    Seq(
      "fixture_generic" -> generic,
      "fixture_devtest (no metadata.tsv)" -> devtest,
      "fixture_multiassay" -> multiassay,
      "header-only metadata.tsv" -> copyOf(generic)(d => write(d, "my-metadata.tsv", header)),
      "no contributors file" -> noContributors,
      "epic derived/ directory" -> epic,
    ).foreach { case (name, dir) =>
      withClue(s"$name: ") {
        assert(IngestSlice.run(spark, dir, "ds-eq") == ReferenceSlice.run(spark, dir, "ds-eq"))
      }
    }
  }

  test("a contributors_path naming an absent file fails the request as before") {
    val dir = copyOf(generic)(d => Files.delete(d.resolve("contributors.tsv")))
    val now = intercept[Exception](IngestSlice.run(spark, dir, "ds-gone"))
    val before = intercept[Exception](ReferenceSlice.run(spark, dir, "ds-gone"))
    assert(now.getClass == before.getClass && now.getMessage == before.getMessage)
  }

  test("one request lists its upload once and builds its envelope once") {
    IngestSlice.run(spark, generic, "ds-warm")
    val jobs = jobsOf(IngestSlice.run(spark, generic, "ds-jobs"))
    // measured on local[4]: 6 jobs (scan collect, metadata header + rows,
    // contributors header, envelope shuffle + result); the reference form
    // fires 29
    assert(jobs <= 6, s"$jobs jobs")
  }

  // --------------------------------------------------------------- bug pins

  test("a metadata.tsv with several data rows is a violation, not an exception") {
    val dir = copyOf(generic)(d => write(d, "my-metadata.tsv", header +
      "codex\t./raw\t./contributors.tsv\t./antibodies.tsv\tTEST0001-LK-1\tTEST0001\n" +
      "snRNAseq\t./raw2\t./contributors.tsv\t./antibodies.tsv\tTEST0001-LK-2\tTEST0001\n"))
    val r = IngestSlice.run(spark, dir, "ds-rows")
    assert(r.violations == Seq("row_count: metadata.tsv has 2 data rows, expected 1"))
    assert(r.statusEvent._3 == "invalid")
    assert(r.workflow == "codex_cytokit") // routed on the first row
    assert(r.envelopeJson.contains(""""metadata":{"assay_type":"codex","data_path":"./raw","""))
    assert(!r.envelopeJson.contains("snRNAseq"))
  }

  test("with several *metadata.tsv files the lexicographically first is read, whatever their sizes") {
    assert(IngestSlice.run(spark, multiassay, "ds-multi").workflow == "no_workflow")
    // make the later-named component the larger file: Spark lists splits
    // by size, and the reference form's scan-order pick routes this tree
    // to salmon_rnaseq
    val dir = copyOf(multiassay)(d => write(d, "rna-metadata.tsv",
      "assay_type\tdata_path\tcontributors_path\tlab_id\n" +
        s"RNAseq\t./dataset2\t./contributors.tsv\t${"L" * 200}\n"))
    val r = IngestSlice.run(spark, dir, "ds-multi")
    assert(r.collectionType == "multiassay_metadatatsv")
    assert(r.workflow == "no_workflow") // 10x_multiome-metadata.tsv: "10x Multiome"
    assert(r.envelopeJson.contains(""""assay_type":"10x Multiome""""))
  }

  /** The slice as it was before the single-scan rebuild, kept verbatim
    * (with the annotate/assemble/validate/toJsonDoc forms it called) as
    * the reference the rebuilt [[IngestSlice.run]] must equal.
    */
  private object ReferenceSlice {
    import IngestSlice.{BuildInfo, IngestResult, workflowRules}

    def meltRow(df: DataFrame, datasetId: String): DataFrame = {
      val kvs = df.columns.map(c => struct(lit(c).as("key"), col(c).as("value")))
      df.select(explode(array(kvs.toIndexedSeq: _*)).as("kv"))
        .select(lit(datasetId).as("dataset_id"), col("kv.key"), col("kv.value"))
    }

    def annotate(listing: DataFrame, rules: Seq[FileCatalog.ManifestRule]): DataFrame = {
      val spark = listing.sparkSession
      import spark.implicits._
      val rulesDf = rules.zipWithIndex.map { case (r, i) =>
        (r.pattern, r.descriptionTemplate, r.edamTerm, r.isQaQc, r.isDataProduct, i)
      }.toDF("pattern", "description_template", "edam_term", "is_qa_qc", "is_data_product", "priority")
      val w = Window.partitionBy("rel_path").orderBy("priority")
      val matched = listing
        .join(broadcast(rulesDf), expr("rel_path rlike pattern"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .withColumn("description",
          when(col("description_template").contains("{g1}"),
            regexp_replace(col("description_template"), lit("\\{g1\\}"),
              expr("regexp_extract(rel_path, pattern, 1)")))
            .otherwise(col("description_template")))
        .select("rel_path", "description", "edam_term", "is_qa_qc", "is_data_product")
      listing.join(matched, Seq("rel_path"), "left")
        .na.fill(Map("description" -> "", "edam_term" -> ""))
        .na.fill(Map("is_qa_qc" -> false, "is_data_product" -> false))
    }

    def assemble(metadata: DataFrame, listing: DataFrame, contributors: DataFrame,
                 provenance: Seq[(String, String, String, String)]): DataFrame = {
      val provLit = array(provenance.map { case (n, h, o, v) =>
        struct(lit(n).as("name"), lit(h).as("hash"), lit(o).as("origin"), lit(v).as("version"))
      }: _*)
      val md = metadata.groupBy("dataset_id")
        .agg(map_from_entries(collect_list(struct(col("key"), col("value")))).as("metadata"))
      val files = listing.groupBy("dataset_id")
        .agg(sort_array(collect_list(struct(
          col("rel_path"), col("type"), col("size"),
          col("description"), col("edam_term"),
          col("is_qa_qc"), col("is_data_product")))).as("files"))
      val contribs = contributors.groupBy("dataset_id")
        .agg(sort_array(collect_list(struct(
          col("name"), col("affiliation"), col("orcid_id"),
          col("is_contact"), col("email")))).as("contributors"))
      val cts = contributors.filter(Envelope.isTruthy(col("is_contact")))
        .select("dataset_id", "name", "email", "affiliation").groupBy("dataset_id")
        .agg(sort_array(collect_list(struct(col("name"), col("email"), col("affiliation")))).as("contacts"))
      md.join(files, Seq("dataset_id"), "full")
        .join(contribs, Seq("dataset_id"), "left")
        .join(cts, Seq("dataset_id"), "left")
        .withColumn("files", expr("coalesce(files, array())"))
        .withColumn("metadata", expr("coalesce(metadata, map())"))
        .withColumn("contacts", expr("coalesce(contacts, array())"))
        .withColumn("contributors", expr("coalesce(contributors, array())"))
        .withColumn("dag_provenance_list", provLit)
    }

    def validate(envelope: DataFrame): DataFrame =
      envelope.select(col("dataset_id"),
          when(col("dag_provenance_list").isNull || size(col("dag_provenance_list")) === 0,
            lit("missing dag_provenance_list")).as("v1"),
          when(col("files").isNull, lit("missing files")).as("v2"),
          when(col("metadata").isNull, lit("missing metadata")).as("v3"))
        .select(col("dataset_id"), explode(array_compact(array(col("v1"), col("v2"), col("v3")))).as("violation"))

    def toJsonDoc(envelope: DataFrame): DataFrame =
      envelope.select(col("dataset_id"),
        to_json(struct(envelope.columns.filter(_ != "dataset_id").toIndexedSeq.map(col): _*)).as("doc"))

    def run(spark: SparkSession, dir: String, datasetId: String): IngestResult = {
      val listing = FileCatalog.scan(spark, dir).withColumn("dataset_id", lit(datasetId))
      val collectionType = CollectionDispatch.dispatchAll(listing).head().getString(1)
      val metadataPath = listing.filter(col("rel_path").rlike("(?i)^[^/]*metadata\\.tsv$"))
        .select("rel_path").collect().headOption.map(r => s"$dir/${r.getString(0)}")
      val (md, violations) = metadataPath match {
        case Some(p) => Readers.metadataTsv(spark, p)
        case None => (spark.emptyDataFrame, spark.createDataFrame(
          java.util.List.of[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(Seq())))
      }
      val violationList =
        if (metadataPath.isEmpty) Seq("required_file: metadata.tsv missing")
        else violations.collect().map(r => s"${r.getString(0)}: ${r.getString(1)}").toSeq
      val contributors = metadataPath.flatMap { _ =>
        val firstRow = if (md.columns.contains("contributors_path")) md.take(1).headOption else None
        val cPath = firstRow.flatMap(r => Option(r.getAs[String]("contributors_path")))
        cPath.map(p => Readers.tsv(spark, s"$dir/${p.stripPrefix("./")}")
          .withColumn("dataset_id", lit(datasetId)))
      }.getOrElse(spark.range(0).select(
        lit(datasetId).as("dataset_id"), lit("").as("name"), lit("").as("affiliation"),
        lit("").as("orcid_id"), lit("").as("is_contact"), lit("").as("email")))
      val annotated = annotate(listing, Seq(
        FileCatalog.ManifestRule("(?i)\\.fastq$", "raw reads", "EDAM:format_1930", isDataProduct = true),
        FileCatalog.ManifestRule("(?i)metadata\\.tsv$", "assay metadata", "EDAM:format_3475")))
      val metadata = if (md.columns.nonEmpty) meltRow(md, datasetId)
        else spark.range(0).select(lit(datasetId).as("dataset_id"), lit("").as("key"), lit("").as("value"))
      val envelope = assemble(metadata, annotated, contributors,
        Seq(("graft-ingest", BuildInfo.commit, "graft", BuildInfo.version)))
      val envViolations = validate(envelope).collect().map(_.getString(1)).toSeq
      val assay = if (md.columns.contains("assay_type") && md.count() > 0)
        md.head().getAs[String]("assay_type") else ""
      val workflow = workflowRules.sortBy(_.priority)
        .find(r => java.util.regex.Pattern.compile(r.pattern).matcher(assay).find())
        .map(_.workflow).getOrElse("no_workflow")
      val status = if (violationList.isEmpty && envViolations.isEmpty) "valid" else "invalid"
      IngestResult(
        datasetId, collectionType, workflow,
        violationList ++ envViolations,
        toJsonDoc(envelope).head().getAs[String]("doc"),
        (datasetId, "dataset", status))
    }
  }
}
