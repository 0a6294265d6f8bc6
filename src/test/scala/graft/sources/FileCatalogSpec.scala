package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FileCatalogSpec extends SparkSpec {
  import spark.implicits._

  private val root = "src/test/resources/fixture_generic"

  test("scan lists all files with relative paths, sizes and type tags") {
    val got = FileCatalog.scan(spark, root)
    val byPath = got.collect().map(r => r.getAs[String]("rel_path") -> r.getAs[String]("type")).toMap
    assert(byPath == Map(
      "my-metadata.tsv" -> "tsv",
      "contributors.tsv" -> "tsv",
      "antibodies.tsv" -> "tsv",
      "extras/thumbnail.jpg" -> "unknown",
      "raw/sample_001.fastq" -> "fastq",
      "raw/sample_001.csv" -> "csv"))
    assert(got.filter(col("size") <= 0).count() == 0)
  }

  test("annotate applies first-match rule with template expansion") {
    val listing = FileCatalog.scan(spark, root)
    val rules = Seq(
      FileCatalog.ManifestRule("raw/sample_(\\d+)\\.csv$", "sample {g1} table", "EDAM:0001", isDataProduct = true),
      FileCatalog.ManifestRule("\\.tsv$", "tabular metadata", "EDAM:0002"),
    )
    val got = FileCatalog.annotate(listing, rules)
    val m = got.collect().map(r => r.getAs[String]("rel_path") -> r.getAs[String]("description")).toMap
    assert(m("raw/sample_001.csv") == "sample 001 table")
    assert(m("my-metadata.tsv") == "tabular metadata")
    assert(m("extras/thumbnail.jpg") == "")
    val dp = got.filter(col("is_data_product")).select("rel_path").as[String].collect().toSeq
    assert(dp == Seq("raw/sample_001.csv"))
  }

  test("annotate keeps its output schema: listing columns, then the four annotations") {
    val got = FileCatalog.annotate(FileCatalog.scan(spark, root).withColumn("dataset_id", lit("d")),
      Seq(FileCatalog.ManifestRule("\\.tsv$", "tabular metadata", "EDAM:0002")))
    assert(got.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq == Seq(
      "rel_path" -> "string", "size" -> "bigint", "modified" -> "timestamp", "type" -> "string",
      "dataset_id" -> "string", "description" -> "string", "edam_term" -> "string",
      "is_qa_qc" -> "boolean", "is_data_product" -> "boolean"))
    // rel_path leads even when the listing does not start with it
    val reordered = FileCatalog.annotate(Seq(("x", "a.tsv")).toDF("dataset_id", "rel_path"), Nil)
    assert(reordered.columns.toSeq == Seq("rel_path", "dataset_id",
      "description", "edam_term", "is_qa_qc", "is_data_product"))
    assert(reordered.as[(String, String, String, String, Boolean, Boolean)].collect().toSeq ==
      Seq(("a.tsv", "x", "", "", false, false)))
  }

  test("annotate resolves overlapping rules by rule order, without a shuffle") {
    val listing = Seq("raw/a.fastq", "raw/b.csv", "c.txt").toDF("rel_path")
    def described(rules: FileCatalog.ManifestRule*): Map[String, (String, Boolean)] =
      FileCatalog.annotate(listing, rules).select("rel_path", "description", "is_qa_qc")
        .as[(String, String, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val byExt = FileCatalog.ManifestRule("\\.fastq$", "reads", "EDAM:1")
    val byDir = FileCatalog.ManifestRule("^raw/(\\w+)\\.", "raw {g1}", "EDAM:2", isQaQc = true)
    assert(described(byExt, byDir) == Map(
      "raw/a.fastq" -> ("reads", false), "raw/b.csv" -> ("raw b", true), "c.txt" -> ("", false)))
    assert(described(byDir, byExt) == Map(
      "raw/a.fastq" -> ("raw a", true), "raw/b.csv" -> ("raw b", true), "c.txt" -> ("", false)))
    val plan = FileCatalog.annotate(listing, Seq(byExt, byDir)).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan)
  }

  test("stats aggregates per type") {
    val got = FileCatalog.stats(FileCatalog.scan(spark, root))
      .select("type", "n_files").as[(String, Long)].collect().toMap
    assert(got("tsv") == 3L)
  }

  test("extensionRenamePlan proposes only changed names") {
    val listing = Seq("a.tif", "b.tiff", "c.yml").toDF("rel_path")
    val got = FileCatalog.extensionRenamePlan(listing)
      .as[(String, String)].collect().toMap
    assert(got == Map("a.tif" -> "a.tiff", "c.yml" -> "c.yaml"))
  }
}
