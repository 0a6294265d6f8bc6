package graft.sources

import java.nio.file.{Files, Path}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ReadersSpec extends SparkSpec {
  import spark.implicits._

  private val gen = "src/test/resources/fixture_generic"
  private val dev = "src/test/resources/fixture_devtest"

  // ------------------------------------------------ tsv header parity

  /** The TSV read as it was before the driver header, kept as the
    * reference: Spark's CSV source infers the header with a job.
    */
  private def inferring(path: String): DataFrame =
    spark.read
      .option("sep", "\t")
      .option("header", "true")
      .option("inferSchema", "false")
      .csv(path)

  private def write(dir: Path, rel: String, text: String): Path = {
    val p = dir.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes("UTF-8"))
  }

  /** A fresh directory holding `files` (relative path → text). */
  private def tree(files: (String, String)*): Path = {
    val dir = Files.createTempDirectory("readers-tsv")
    files.foreach { case (rel, text) => write(dir, rel, text) }
    dir
  }

  /** A fresh directory's one file holding `text`. */
  private def file(text: String): String = tree("t.tsv" -> text).resolve("t.tsv").toString

  /** `Readers.tsv(path)` has the inferring read's columns and rows and
    * is built without a job.
    */
  private def assertSameRead(path: String): Unit = {
    var got: DataFrame = null
    assert(jobsOf { got = Readers.tsv(spark, path) } == 0)
    val want = inferring(path)
    assert(got.schema == want.schema)
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("tsv names columns as Spark's inference does: quotes, duplicates, empty names") {
    Seq(
      "quoted" -> "\"a b\"\t\"c\"\"d\"\tplain\n1\t2\t3\n",
      "case-insensitive duplicates" -> "Name\tname\tNAME\tother\tx\tx\n1\t2\t3\t4\t5\t6\n",
      "empty names" -> "a\t\tb\t\n1\t2\t3\t4\n",
    ).foreach { case (name, text) =>
      withClue(s"$name: ") { assertSameRead(file(text)) }
    }
    val cols = Readers.tsv(spark, file("a\t\tb\t\tA\n")).columns
    assert(cols.toSeq == Seq("a0", "_c1", "b", "_c3", "A4"))
  }

  test("tsv reads the header line as the text source does: BOM, CRLF, blank and tab-only lines") {
    Seq(
      "UTF-8 BOM" -> "\uFEFFid\tval\n1\t2\n",
      "CRLF" -> "id\tval\r\n1\t2\r\n3\t4\r\n",
      "leading blank lines" -> "\n\n   \n\r\nid\tval\n1\t2\n",
      "a tab-only first line" -> "\t\nid\tval\n1\t2\n",
      "header only" -> "id\tval\n",
      "empty file" -> "",
      "blank lines only" -> "\n  \n",
    ).foreach { case (name, text) =>
      withClue(s"$name: ") { assertSameRead(file(text)) }
    }
    assert(Readers.tsv(spark, file("\uFEFFid\tval\n")).columns.toSeq == Seq("id", "val"))
  }

  test("tsv over a glob of files takes the header of the first split, largest first") {
    val dir = tree(
      "a-metadata.tsv" -> "small\tcols\n1\t2\n",
      "b-metadata.tsv" -> ("x\ty\tz\n" + "1\t2\t3\n" * 20),
      "c-metadata.tsv" -> ("p\tq\n" + "1\t2\n" * 5),
      "notes.txt" -> "not\tmatched\n")
    assertSameRead(s"$dir/*-metadata.tsv")
    assert(Readers.tsv(spark, s"$dir/*-metadata.tsv").columns.toSeq == Seq("x", "y", "z"))
    assertSameRead(dir.toString)
    // files split mid-line: tiny splits put the first split of one file first
    val small = Seq("spark.sql.files.maxPartitionBytes" -> "16", "spark.sql.files.openCostInBytes" -> "1")
    val saved = small.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      small.foreach { case (k, v) => spark.conf.set(k, v) }
      assertSameRead(s"$dir/*-metadata.tsv")
      assertSameRead(tree("big.tsv" -> ("\n" * 40 + "late\theader\n" + "1\t2\n" * 10),
        "other.tsv" -> ("o\tp\n" + "3\t4\n" * 10)).toString)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("tsv reads a coalesce(1) freeze directory and a partitioned directory") {
    val freeze = Files.createTempDirectory("readers-freeze").resolve("frozen").toString
    Seq(("a", "1", null), ("b", "2", "x")).toDF("k", "v", "w")
      .coalesce(1).write.option("sep", "\t").option("header", "true").csv(freeze)
    val names = new java.io.File(freeze).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assertSameRead(freeze)
    assert(Readers.tsv(spark, freeze).columns.toSeq == Seq("k", "v", "w"))
    assertSameRead(tree("day=1/a.tsv" -> "id\tval\n1\t2\n", "day=2/b.tsv" -> "id\tval\n3\t4\n").toString)
  }

  test("tsv fails as the inferring read does: missing path, empty glob, no visible file, clashing names") {
    val dir = tree("_SUCCESS" -> "", ".hidden.tsv" -> "a\tb\n")
    // duplicate suffixes make `a0 a1 a1`
    val clash = file("a\ta\ta1\n1\t2\t3\n")
    Seq(s"$dir/missing.tsv", s"$dir/*-metadata.tsv", dir.toString, clash).foreach { path =>
      withClue(s"$path: ") {
        val now = intercept[Exception](Readers.tsv(spark, path))
        val before = intercept[Exception](inferring(path))
        assert(now.getClass == before.getClass && now.getMessage == before.getMessage)
      }
    }
  }

  test("tsv reads all-string schema-on-read") {
    val df = Readers.tsv(spark, s"$gen/my-metadata.tsv")
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.count() == 1)
    assert(df.head().getAs[String]("assay_type") == "codex")
    assert(Readers.tsvDelimiterViolations(df).isEmpty)
  }

  test("metadataTsv validates required columns and tissue/donor prefix") {
    val (df, violations) = Readers.metadataTsv(spark, s"$gen/my-metadata.tsv")
    assert(df.count() == 1)
    assert(violations.count() == 0)
  }

  test("metadataTsv flags missing required columns") {
    val (_, violations) = Readers.metadataTsv(spark, s"$gen/contributors.tsv")
    val rules = violations.select("rule").as[String].collect().toSeq
    assert(rules.count(_ == "required_column") == 3)
  }

  test("sniffSeparator detects commas and tabs") {
    assert(Readers.sniffSeparator(spark, s"$gen/raw/sample_001.csv") == ",")
    assert(Readers.sniffSeparator(spark, s"$gen/my-metadata.tsv") == "\t")
  }

  test("yaml reader parses devtest control file to JSON") {
    val df = Readers.yaml(spark, s"$dev/test.yml")
    val json = df.head().getAs[String]("json")
    val parsed = spark.range(1).select(
      from_json(lit(json), org.apache.spark.sql.types.DataType.fromDDL(
        "collectiontype STRING, delay_sec INT, files_to_copy ARRAY<STRING>, " +
        "metadata_to_return STRUCT<collectiontype: STRING, flag: BOOLEAN>")).as("j"))
      .select("j.*").head()
    assert(parsed.getAs[String]("collectiontype") == "devtest")
    assert(parsed.getAs[Int]("delay_sec") == 30)
    assert(parsed.getSeq[String](parsed.fieldIndex("files_to_copy")).toList == List("file_068.bov"))
    val meta = parsed.getStruct(parsed.fieldIndex("metadata_to_return"))
    assert(meta.getAs[Boolean]("flag"))
    assert(json.contains(""""b":[1,2,3]"""))
  }

  test("tformText parses typed value arrays and drops noise lines") {
    val df = Readers.tformText(spark, s"$dev/tform.txt")
    val m = df.as[(String, Seq[Double])].collect().toMap
    assert(m == Map("rotation" -> Seq(0.5, 1.5, 2.0), "translation" -> Seq(10.0, 20.0, 30.0)))
  }

  test("contributors is_contact filter matches reference truthy set") {
    val df = Readers.tsv(spark, s"$gen/contributors.tsv")
    val contacts = df.filter(upper(col("is_contact")).isin("TRUE", "T", "1", "Y", "YES"))
      .select("email").as[String].collect().toSeq
    assert(contacts == Seq("ada@example.org"))
  }
  test("frontmatter markdown splits metadata from content and validates vignette keys") {
    val doc = "---\nname: My Vignette\nfigures:\n  - file: f1.png\n    name: Fig 1\n---\nBody text here.\n"
    val (meta, content) = Readers.splitFrontmatter(doc)
    assert(meta.contains("name: My Vignette"))
    assert(content == "Body text here.")
    val (m2, c2) = Readers.splitFrontmatter("no frontmatter at all")
    assert(m2 == "" && c2 == "no frontmatter at all")

    val dir = java.nio.file.Files.createTempDirectory("vig").toFile
    java.nio.file.Files.writeString(new java.io.File(dir, "good.md").toPath, doc)
    java.nio.file.Files.writeString(new java.io.File(dir, "bad.md").toPath,
      "---\nfigures:\n  - file: f2.png\n---\nNo name.\n")
    val fm = Readers.frontmatterMd(spark, dir.getAbsolutePath)
    assert(fm.count() == 2)
    val violations = Readers.vignetteViolations(fm)
      .collect().map(r => (r.getString(0).split('/').last, r.getString(1))).toSet
    assert(violations == Set(
      ("bad.md", "vignette markdown has no name"),
      ("bad.md", "figure dict does not provide a name")))
  }
  test("frontmatter accepts 4+-dash and trailing-whitespace close delimiters") {
    val (m1, c1) = Readers.splitFrontmatter("---\nname: A\n----\nbody")
    assert(m1 == "name: A\n" && c1 == "body")
    val (m2, c2) = Readers.splitFrontmatter("---\nname: B\n---  \nbody two")
    assert(m2 == "name: B\n" && c2 == "body two")
  }
  test("mtxTform parses 4x4 matrices and reports format violations") {
    val dir = java.nio.file.Files.createTempDirectory("mtx").toFile
    java.nio.file.Files.writeString(new java.io.File(dir, "good.txt").toPath,
      "1 0 0 5\n0 1 0 6\n0 0 1 7\n0 0 0 1\n")
    java.nio.file.Files.writeString(new java.io.File(dir, "badword.txt").toPath,
      "1 0 0 0\n0 x 0 0\n0 0 1 0\n0 0 0 1\n")
    java.nio.file.Files.writeString(new java.io.File(dir, "badrows.txt").toPath,
      "1 0 0 0\n0 1 0 0\n")
    val got = Readers.mtxTform(spark, dir.getAbsolutePath).collect()
      .map(r => (r.getString(0).split('/').last,
                 r.getSeq[scala.collection.Seq[Double]](1), Option(r.getString(2)))).toSeq
      .sortBy(_._1)
    val byName = got.map(g => g._1 -> g).toMap
    assert(byName("good.txt")._3.isEmpty)
    assert(byName("good.txt")._2.map(_.toList).toList ==
      List(List(1.0, 0, 0, 5), List(0.0, 1, 0, 6), List(0.0, 0, 1, 7), List(0.0, 0, 0, 1)))
    assert(byName("badword.txt")._3.get.startsWith("Unexpected format line"))
    assert(byName("badrows.txt")._3.get == "expected 4 rows, found 2")
  }
}