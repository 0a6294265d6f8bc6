package graft.sources

import com.univocity.parsers.csv.CsvParser
import graft.sources.SimpleYaml
import org.apache.spark.sql.{DataFrame, GraftGlue, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFileLinesReader, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Format readers S2–S5, S10–S12 (SURVEY.md §2.1): schema-on-read
  * tabular/text sources with the reference's validation semantics —
  * all-string columns (typing is an explicit later cast stage, §1.2),
  * delimiter-error detection, required-column checks.
  */
object Readers {

  /** S2 (tsv_metadata_file.py:14-31): strict TSV — header row defines the
    * schema, every column `StringType` (schema-on-read). The reference's
    * delimiter-sanity check (an empty key ⇒ the file probably isn't
    * really tab-separated) becomes [[tsvDelimiterViolations]].
    *
    * The header is read on the driver, so building the frame runs no
    * job. Spark's CSV schema inference runs one (`take(1)` over the text
    * of every file); this reads the line that job returns: the first
    * line, in split order, that is neither a comment nor blank (empty or
    * spaces only: the job filters with SQL `trim`, which strips only
    * spaces, so a tab-only line is a header). Split order is how
    * `FilePartition` packs the input, largest split first, so with
    * several files of different headers the largest file's header names
    * the columns. The line is parsed with the CSV options' univocity
    * settings and named with `CSVUtils.makeSafeHeader`, then the files
    * are read with that all-string schema over the index Spark already
    * listed. Results equal the inferring read: the same glob and
    * missing-path errors, `_c<i>` names and duplicate suffixes (and the
    * error when a suffix clashes), an empty schema for empty input, and
    * the same error when `path` holds no visible file.
    */
  def tsv(spark: SparkSession, path: String): DataFrame = {
    val listed = FileCatalog.relationOf(spark.read.schema(new StructType())
      .option("sep", "\t")
      .option("header", "true")
      .option("inferSchema", "false")
      .csv(path))
    val index = listed.location.asInstanceOf[PartitioningAwareFileIndex]
    if (index.allFiles().isEmpty) throw GraftGlue.unableToInferSchema(listed.fileFormat.toString)
    val conf = spark.sessionState.conf
    val options = new CSVOptions(listed.options, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    val header = firstLine(spark, index, listed.options, options)
      .flatMap(line => Option(new CsvParser(options.asParserSettings).parseLine(line)))
      .map(CSVUtils.makeSafeHeader(_, conf.caseSensitiveAnalysis, options).toSeq)
      .getOrElse(Nil)
    val dataSchema = StructType(header.map(StructField(_, StringType)))
    GraftGlue.checkColumnNameDuplication(dataSchema, conf.caseSensitiveAnalysis)
    spark.baseRelationToDataFrame(listed.copy(dataSchema = dataSchema)(listed.sparkSession))
  }

  /** The first non-blank, non-comment line of `index`'s files in split
    * order, read as the text source reads it (a UTF-8 BOM skipped, any
    * line end), stopping at that line.
    */
  private def firstLine(spark: SparkSession, index: PartitioningAwareFileIndex,
                        params: Map[String, String], options: CSVOptions): Option[String] = {
    val selected = index.listFiles(Nil, Nil)
    val maxSplit = FilePartition.maxSplitBytes(spark, selected)
    val text = new TextFileFormat
    val splits = selected.flatMap(_.files).flatMap { f =>
      PartitionedFileUtil.splitFiles(f, f.getPath, text.isSplitable(spark, params, f.getPath),
        maxSplit, InternalRow.empty)
    }.sortBy(-_.length)
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(params)
    val comment = if (options.isCommentSet) Some(options.comment.toString) else None
    splits.iterator.flatMap { split =>
      val reader = new HadoopFileLinesReader(split, options.lineSeparatorInRead, hadoopConf)
      try reader.map(t => new String(t.getBytes, 0, t.getLength, options.charset))
        .find(l => l.exists(_ != ' ') && !comment.exists(l.startsWith))
      finally reader.close()
    }.nextOption()
  }

  /** Delimiter-error detection (tsv_metadata_file.py:25-30): empty header
    * names or a single mega-column signal a wrong delimiter. Returns
    * violation messages (empty = OK).
    */
  def tsvDelimiterViolations(df: DataFrame): Seq[String] = {
    val cols = df.columns
    val empties = cols.count(c => c.trim.isEmpty || c.startsWith("_c"))
    val msgs = scala.collection.mutable.ArrayBuffer.empty[String]
    if (empties > 0) msgs += s"$empties unnamed column(s) — wrong delimiter?"
    if (cols.length == 1 && cols.head.contains(",")) msgs += "single comma-bearing column — file looks comma-separated"
    msgs.toSeq
  }

  /** S3 (csv_metadata_file.py:13-22 dialect sniffing): probe the head
    * bytes for the densest candidate separator, then read with it.
    */
  def sniffSeparator(spark: SparkSession, path: String, candidates: Seq[String] = Seq(",", "\t", ";", "|")): String = {
    val head = spark.read.text(path).limit(1).collect().headOption.map(_.getString(0)).getOrElse("")
    candidates.maxBy(s => head.count(_ == s.charAt(0)))
  }

  def csvSniffed(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("sep", sniffSeparator(spark, path))
      .option("header", "true")
      .option("inferSchema", "false")
      .csv(path)

  /** S4/V2 (generic_metadatatsv_data_collection.py:81-88): metadata.tsv
    * reader + required-column structural validation. Returns the data
    * plus a violations DataFrame (rule, detail) instead of throwing
    * (SURVEY.md §1.3). The file's rows are collected for
    * [[metadataViolations]]: a metadata.tsv holds one row per dataset.
    */
  def metadataTsv(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val df = tsv(spark, path)
    (df, metadataViolations(df, df.collect().toSeq).toDF("rule", "detail"))
  }

  /** The V2 rules over a metadata.tsv frame's header and its collected
    * `rows`, as (rule, detail): required columns, delimiter sanity, and
    * per row a `tissue_id` that must start with `<donor_id>-` (a row
    * missing either is not checked).
    */
  def metadataViolations(md: DataFrame, rows: Seq[Row]): Seq[(String, String)] = {
    val cols = md.columns.toSet
    val violations = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    if (!cols.contains("assay_type") && !cols.contains("dataset_type"))
      violations += (("required_column", "one of assay_type|dataset_type missing"))
    if (!cols.contains("data_path")) violations += (("required_column", "data_path missing"))
    if (!cols.contains("contributors_path")) violations += (("required_column", "contributors_path missing"))
    tsvDelimiterViolations(md).foreach(m => violations += (("delimiter", m)))
    if (cols.contains("tissue_id") && cols.contains("donor_id")) rows.foreach { r =>
      val (tissue, donor) = (r.getAs[String]("tissue_id"), r.getAs[String]("donor_id"))
      if (tissue != null && donor != null && !tissue.startsWith(donor + "-"))
        violations += (("tissue_id_prefix", s"tissue_id $tissue !startswith $donor"))
    }
    violations.toSeq
  }

  /** S5: whole-doc JSON (multiLine) — one row per document. */
  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** S5: YAML → one-row DataFrame of (path, json); feed `from_json` with
    * a schema downstream. Parsing is distributed over files via
    * wholetext reads; the SimpleYaml subset covers the reference's own
    * config/metadata YAML shapes.
    */
  def yaml(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val yamlToJson = udf((s: String) => SimpleYaml.toJson(s))
    spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("path"), yamlToJson(col("value")).as("json"))
  }

  /** S10 (txt_tform_metadata_file.py:9-40): geometric-transform text —
    * `(key v1 v2 ...)` lines → key + typed value array.
    */
  def tformText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(regexp_extract(col("value"), "^\\((\\S+)\\s+(.*)\\)\\s*$", 1).as("key"),
              regexp_extract(col("value"), "^\\((\\S+)\\s+(.*)\\)\\s*$", 2).as("vals"))
      .filter(col("key") =!= "")
      .select(col("key"),
              transform(split(col("vals"), "\\s+"), v => v.cast("double")).as("values"))

  /** S11 (mtx_tform_metadata_file.py:10-25): geometric-transform matrix
    * files — whitespace-separated floats, EXACTLY 4 rows per file (the
    * reference asserts the row count but, faithfully, NOT the width;
    * interior blank lines count as empty rows exactly like its per-line
    * loop). Format problems (non-float word, wrong row count — the
    * reference's MetadataError asserts) surface in a `violation` column
    * instead of throwing, per the V-pattern.
    */
  def mtxTform(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("path"), col("value"))
      .as[(String, String)]
      .map { case (p, text) =>
        // a trailing newline does not make an extra line in the
        // reference's file iteration; interior blanks DO count as rows
        val rows = {
          val ls = text.split("\n", -1).map(_.trim)
          if (ls.nonEmpty && ls.last.isEmpty) ls.dropRight(1) else ls
        }
        val parsed = rows.map(r =>
          if (r.isEmpty) Array.empty[Option[Double]]
          else r.split("\\s+").map(_.toDoubleOption))
        val badLine = parsed.indexWhere(_.exists(_.isEmpty))
        val violation =
          if (badLine >= 0) s"Unexpected format line <${rows(badLine)}>"
          else if (rows.length != 4) s"expected 4 rows, found ${rows.length}"
          else null
        val matrix =
          if (violation == null) parsed.map(_.map(_.get))
          else Array.empty[Array[Double]]
        (p, matrix, violation)
      }
      .toDF("path", "transform", "violation")
  }

  /** Split one markdown document into (frontmatter yaml, content) the way
    * python-frontmatter does: a leading `---` line opens the block, the
    * next delimiter line (3+ dashes, optional trailing whitespace —
    * python-frontmatter's `^-{3,}\s*$` boundary) closes it, content is
    * everything after (trimmed). No frontmatter → empty metadata, whole
    * doc as content.
    */
  def splitFrontmatter(doc: String): (String, String) = {
    val lines = doc.replace("\r\n", "\n").split("\n", -1)
    val isDelim = (l: String) => l.matches("-{3,}\\s*")
    if (lines.nonEmpty && lines.head.matches("---\\s*")) {
      val close = lines.indexWhere(isDelim, 1)
      if (close > 0) {
        val meta = lines.slice(1, close).mkString("", "\n", "\n")
        val content = lines.drop(close + 1).mkString("\n").trim
        return (meta, content)
      }
    }
    ("", doc.replace("\r\n", "\n").trim)
  }

  /** S5+ (gen_pub_ancillary.py:159-180 `frontmatter.loads`): vignette
    * markdown with a YAML frontmatter block → one row per file with the
    * metadata as JSON (SimpleYaml) and the markdown content. Distributed
    * wholetext reads — parsing happens next to the bytes.
    */
  def frontmatterMd(spark: SparkSession, path: String): DataFrame = {
    // one split per document: a single UDF returns both halves
    val fm = udf((s: String) => {
      val (meta, content) = splitFrontmatter(s)
      (SimpleYaml.toJson(meta), content)
    })
    spark.read.option("wholetext", "true").text(path)
      .select(input_file_name().as("path"), fm(col("value")).as("fm"))
      .select(col("path"), col("fm._1").as("meta_json"), col("fm._2").as("content"))
  }

  /** The reference's vignette assertions as a violations DataFrame (the
    * V-pattern): name present, figures present, every figure carries
    * file + name (gen_pub_ancillary.py:169-176).
    */
  def vignetteViolations(fm: DataFrame): DataFrame = {
    val parsed = fm.withColumn("m", from_json(col("meta_json"),
      org.apache.spark.sql.types.StructType.fromDDL(
        "name STRING, figures ARRAY<STRUCT<file: STRING, name: STRING>>")))
    parsed.select(col("path"), explode(array(
        when(col("m.name").isNull, lit("vignette markdown has no name")),
        when(col("m.figures").isNull, lit("vignette markdown has no figures")),
        when(exists(col("m.figures"), f => f.getField("file").isNull),
          lit("figure dict does not reference a file")),
        when(exists(col("m.figures"), f => f.getField("name").isNull),
          lit("figure dict does not provide a name")))).as("violation"))
      .filter(col("violation").isNotNull)
  }
}
