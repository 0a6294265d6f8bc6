package graft.sources

import java.util.regex.Pattern

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S1/P6/P7/A5/V7 (SURVEY.md §2.1, §2.3): dataset directory-tree scan →
  * typed file catalog.
  *
  * The reference walks directories on one node (`os.walk`,
  * utils.py:717-767) and tags/annotates each file with first-match regex
  * loops (utils.py:91-203). Here a root is listed once, on the driver,
  * through the `InMemoryFileIndex` that Spark's `binaryFile` source
  * builds for it: the same glob and existence checks, the same
  * hidden-file filter (`_x`, `.x`, `x._COPYING_`), the same path form, and
  * a distributed listing job only above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths.
  * The index already holds every file's `FileStatus`, so no executor
  * re-stats the files: the catalog is a local relation over those rows,
  * and a traced `ingest_api` run shows no `sources.FileCatalog` job.
  * Annotation is a per-row projection over the listing.
  */
object FileCatalog {

  private val typeTags: Seq[(Pattern, String)] = Seq(
    "(?i)\\.csv$" -> "csv",
    "(?i)\\.tsv$" -> "tsv",
    "(?i)\\.(hdf5|h5)$" -> "hdf5",
    "(?i)\\.h5ad$" -> "h5ad",
    "(?i)\\.pdf$" -> "pdf",
    "(?i)\\.json$" -> "json",
    "(?i)\\.arrow$" -> "arrow",
    "(?i)\\.(fastq|fq)(\\.gz)?$" -> "fastq",
    "(?i)\\.(yaml|yml)$" -> "yaml",
    "(?i)\\.zip$" -> "zip",
    "(?i)\\.(tif|tiff)$" -> "tiff",
    "(?i)\\.txt$" -> "txt",
  ).map { case (re, tag) => Pattern.compile(re) -> tag }

  /** P6 (utils.py:91-101 FILE_TYPE_MATCHERS): extension → type tag,
    * first match wins over the enum in file_info_schema.yml; a pattern
    * matches as under Spark's `rlike` (`Pattern.matcher(path).find(0)`).
    */
  def typeTag(relPath: String): String =
    typeTags.collectFirst { case (re, tag) if re.matcher(relPath).find(0) => tag }.getOrElse("unknown")

  /** The FileRecord schema, with the nullability the `binaryFile` form had. */
  val schema: StructType = StructType(Seq(
    StructField("rel_path", StringType), StructField("size", LongType),
    StructField("modified", TimestampType), StructField("type", StringType, nullable = false)))

  /** The file relation behind a `DataFrameReader` result. Spark resolved
    * its glob, its existence check and its `InMemoryFileIndex` listing on
    * the driver when the reader built it; no job has run.
    */
  private[sources] def relationOf(read: DataFrame): HadoopFsRelation =
    read.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
    }.get

  /** S1: recursive listing of `root` → FileRecord rows (rel_path, size,
    * modified, type) from the driver's file index, in the order a
    * `binaryFile` scan returns them: the files that scan reads (no empty
    * file), largest first, as `FilePartition` packs its splits.
    */
  def files(spark: SparkSession, root: String): Seq[Row] = {
    val rootNorm = new java.io.File(root.stripSuffix("/")).getAbsolutePath
    val prefix = Pattern.compile("^file:" + Pattern.quote(rootNorm) + "/?")
    val index = relationOf(spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true").load(rootNorm)).location
    index.listFiles(Nil, Nil).flatMap(_.files).sortBy(-_.getLen).map { f =>
      val relPath = prefix.matcher(f.getPath.toString).replaceAll("")
      new GenericRowWithSchema(Array(relPath, f.getLen,
        new java.sql.Timestamp(f.getModificationTime), typeTag(relPath)), schema)
    }
  }

  /** S1 as a DataFrame: a local relation over [[files]], so planning and
    * running it lists nothing again.
    */
  def scan(spark: SparkSession, root: String): DataFrame =
    spark.createDataFrame(files(spark, root).asJava, schema)

  /** A manifest-annotation rule (P7, utils.py:155-203): ordered regex →
    * templated description + EDAM term + flags; `{g1}` in the template is
    * replaced by the pattern's first capture group.
    */
  final case class ManifestRule(pattern: String, descriptionTemplate: String,
                                edamTerm: String, isQaQc: Boolean = false,
                                isDataProduct: Boolean = false)

  /** P7: ordered first-match annotation — one CASE chain per output
    * column over the rules in order, with template
    * expansion via regexp_extract. A per-row projection: no join, no
    * window, no shuffle. Output is the listing with `rel_path` first,
    * then description, edam_term, is_qa_qc, is_data_product.
    */
  def annotate(listing: DataFrame, rules: Seq[ManifestRule]): DataFrame = {
    val path = col("rel_path")
    def firstMatch(value: ManifestRule => Column, default: Column): Column =
      rules.foldRight(default)((r, rest) => when(path.rlike(r.pattern), value(r)).otherwise(rest))
    // only templated rules reference a capture group; guarding keeps
    // regexp_extract away from group-less patterns
    def description(r: ManifestRule): Column =
      if (r.descriptionTemplate.contains("{g1}"))
        regexp_replace(lit(r.descriptionTemplate), lit("\\{g1\\}"),
          regexp_extract(path, r.pattern, 1))
      else lit(r.descriptionTemplate)
    listing.select((path +: listing.columns.toIndexedSeq.filter(_ != "rel_path").map(col)) ++ Seq(
      firstMatch(description, lit("")).as("description"),
      firstMatch(r => lit(r.edamTerm), lit("")).as("edam_term"),
      firstMatch(r => lit(r.isQaQc), lit(false)).as("is_qa_qc"),
      firstMatch(r => lit(r.isDataProduct), lit(false)).as("is_data_product")): _*)
  }

  /** A5 (utils.py:770-796): per-type file stats; the MAX_IN_LINE_FILES
    * overflow decision is a sink policy on `n_files`.
    */
  def stats(listing: DataFrame): DataFrame =
    listing.groupBy("type")
      .agg(count(lit(1)).as("n_files"), sum(col("size")).as("total_bytes"))
      .orderBy("type")

  /** V7 (standardize_extensions.py:33-80): extension standardization as a
    * pure rename *plan* (src → dst) — side effects stay in the driver.
    */
  def extensionRenamePlan(listing: DataFrame,
                          mappings: Seq[(String, String)] = Seq(
                            "\\.tif$" -> ".tiff", "\\.jpeg$" -> ".jpg",
                            "\\.yml$" -> ".yaml", "\\.fq(\\.gz)?$" -> ".fastq$1")): DataFrame = {
    val renamed = mappings.foldLeft(col("rel_path")) { case (c, (from, to)) =>
      regexp_replace(c, from, to)
    }
    listing.select(col("rel_path").as("src"), renamed.as("dst"))
      .filter(col("src") =!= col("dst"))
  }
}
