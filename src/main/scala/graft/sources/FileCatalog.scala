package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S1/P6/P7/A5/V7 (SURVEY.md §2.1, §2.3): dataset directory-tree scan →
  * typed file catalog.
  *
  * The reference walks directories on one node (`os.walk`,
  * utils.py:717-767) and tags/annotates each file with first-match regex
  * loops (utils.py:91-203). Here the listing is Spark's `binaryFile`
  * source, which prunes the `content` column away when only metadata is
  * selected, so the scan reads directory metadata, never file bytes.
  * For one upload root `InMemoryFileIndex` lists on the driver: it lists
  * as a distributed job only above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) paths,
  * and a traced `ingest_api` run shows no listing job
  * (`sources.FileCatalog.jobs` = 0). Tagging and annotation are
  * per-row projections over the listing.
  */
object FileCatalog {

  /** P6 (utils.py:91-101 FILE_TYPE_MATCHERS): extension → type tag,
    * first-match CASE chain over the enum in file_info_schema.yml.
    */
  def typeTag(pathCol: Column): Column =
    when(pathCol.rlike("(?i)\\.csv$"), "csv")
      .when(pathCol.rlike("(?i)\\.tsv$"), "tsv")
      .when(pathCol.rlike("(?i)\\.(hdf5|h5)$"), "hdf5")
      .when(pathCol.rlike("(?i)\\.h5ad$"), "h5ad")
      .when(pathCol.rlike("(?i)\\.pdf$"), "pdf")
      .when(pathCol.rlike("(?i)\\.json$"), "json")
      .when(pathCol.rlike("(?i)\\.arrow$"), "arrow")
      .when(pathCol.rlike("(?i)\\.(fastq|fq)(\\.gz)?$"), "fastq")
      .when(pathCol.rlike("(?i)\\.(yaml|yml)$"), "yaml")
      .when(pathCol.rlike("(?i)\\.zip$"), "zip")
      .when(pathCol.rlike("(?i)\\.(tif|tiff)$"), "tiff")
      .when(pathCol.rlike("(?i)\\.txt$"), "txt")
      .otherwise("unknown")

  /** S1: recursive scan of `root` → FileRecord rows
    * (rel_path, type, size, modified). Only file metadata is read; the
    * listing itself runs on the driver (see the object doc).
    */
  def scan(spark: SparkSession, root: String): DataFrame = {
    val rootNorm = new java.io.File(root.stripSuffix("/")).getAbsolutePath
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(rootNorm)
      .select(
        regexp_replace(col("path"), "^file:" + java.util.regex.Pattern.quote(rootNorm) + "/?", "")
          .as("rel_path"),
        col("length").as("size"),
        col("modificationTime").as("modified"))
      .withColumn("type", typeTag(col("rel_path")))
  }

  /** A manifest-annotation rule (P7, utils.py:155-203): ordered regex →
    * templated description + EDAM term + flags; `{g1}` in the template is
    * replaced by the pattern's first capture group.
    */
  final case class ManifestRule(pattern: String, descriptionTemplate: String,
                                edamTerm: String, isQaQc: Boolean = false,
                                isDataProduct: Boolean = false)

  /** P7: ordered first-match annotation — one CASE chain per output
    * column over the rules in order, like [[typeTag]], with template
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
