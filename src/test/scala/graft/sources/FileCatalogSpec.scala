package graft.sources

import java.nio.file.{Files, Path}
import java.util.regex.Pattern

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class FileCatalogSpec extends SparkSpec {
  import spark.implicits._

  private val root = "src/test/resources/fixture_generic"

  /** The listing as it was built before the driver catalog, kept as the
    * reference: Spark's `binaryFile` source (whose scan job re-stats every
    * listed file) with the type tag as a Spark CASE chain.
    */
  private def binaryFileScan(root: String): DataFrame = {
    def typeTag(p: Column): Column =
      when(p.rlike("(?i)\\.csv$"), "csv")
        .when(p.rlike("(?i)\\.tsv$"), "tsv")
        .when(p.rlike("(?i)\\.(hdf5|h5)$"), "hdf5")
        .when(p.rlike("(?i)\\.h5ad$"), "h5ad")
        .when(p.rlike("(?i)\\.pdf$"), "pdf")
        .when(p.rlike("(?i)\\.json$"), "json")
        .when(p.rlike("(?i)\\.arrow$"), "arrow")
        .when(p.rlike("(?i)\\.(fastq|fq)(\\.gz)?$"), "fastq")
        .when(p.rlike("(?i)\\.(yaml|yml)$"), "yaml")
        .when(p.rlike("(?i)\\.zip$"), "zip")
        .when(p.rlike("(?i)\\.(tif|tiff)$"), "tiff")
        .when(p.rlike("(?i)\\.txt$"), "txt")
        .otherwise("unknown")
    val rootNorm = new java.io.File(root.stripSuffix("/")).getAbsolutePath
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(rootNorm)
      .select(
        regexp_replace(col("path"), "^file:" + Pattern.quote(rootNorm) + "/?", "").as("rel_path"),
        col("length").as("size"),
        col("modificationTime").as("modified"))
      .withColumn("type", typeTag(col("rel_path")))
  }

  /** A tree with nested and hidden entries, awkward names, an empty file,
    * every type tag, and files of equal and different sizes.
    */
  private lazy val tree: String = {
    val dir = Files.createTempDirectory("file-catalog")
    def write(rel: String, bytes: Int): Unit = {
      val p: Path = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, Array.fill[Byte](bytes)('x'.toByte))
    }
    Seq("a.csv" -> 40, "b.TSV" -> 40, "c.h5" -> 12, "d.hdf5" -> 3, "e.h5ad" -> 7,
      "f.pdf" -> 9, "g.json" -> 9, "h.arrow" -> 1, "i.fq.gz" -> 2, "j.FASTQ" -> 2,
      "k.yml" -> 5, "l.zip" -> 30, "m.TIF" -> 6, "n.tiff" -> 6, "o.txt" -> 8, "p.jpg" -> 4,
      "nested/one/two/deep.csv" -> 20, "nested/one/side.tsv" -> 40, "nested/x.txt" -> 1,
      "with space.tsv" -> 11, "100%.csv" -> 13, "naïve ü.txt" -> 15, "日本/データ.json" -> 17,
      "empty.txt" -> 0, "nested/empty.csv" -> 0,
      ".hidden.txt" -> 5, "_meta.json" -> 5, "part.csv._COPYING_" -> 5,
      ".hiddendir/in.txt" -> 5, "_hiddendir/in.csv" -> 5, "nested/.crc/x.txt" -> 5,
    ).foreach { case (rel, n) => write(rel, n) }
    dir.toString
  }

  test("scan equals the binaryFile listing, row for row, on an awkward tree") {
    val got = FileCatalog.scan(spark, tree)
    val want = binaryFileScan(tree)
    assert(got.schema == want.schema)
    val rows = got.collect().toSeq
    assert(rows == want.collect().toSeq)
    // hidden entries and empty files are not listed; awkward names are
    assert(rows.size == 23)
    val paths = rows.map(_.getAs[String]("rel_path")).toSet
    assert(Set("with space.tsv", "100%.csv", "naïve ü.txt", "日本/データ.json",
      "nested/one/two/deep.csv").subsetOf(paths))
    assert(rows.map(_.getAs[String]("type")).toSet == Set("csv", "tsv", "hdf5", "h5ad", "pdf",
      "json", "arrow", "fastq", "yaml", "zip", "tiff", "txt", "unknown"))
    // on a trailing slash too
    assert(FileCatalog.scan(spark, tree + "/").collect().toSeq == rows)
  }

  test("scan lists on the driver: building and collecting it fires no job") {
    assert(jobsOf(FileCatalog.scan(spark, tree).collect()) == 0)
    assert(jobsOf(FileCatalog.files(spark, root)) == 0)
  }

  test("a missing root fails as the binaryFile listing does") {
    val missing = tree + "/no-such-dir"
    val now = intercept[Exception](FileCatalog.scan(spark, missing))
    val before = intercept[Exception](binaryFileScan(missing))
    assert(now.getClass == before.getClass && now.getMessage == before.getMessage)
  }

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
