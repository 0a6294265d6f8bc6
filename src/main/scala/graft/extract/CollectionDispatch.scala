package graft.extract

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S14 (SURVEY.md §2.1; metadata_extract.py:24-47): collection-type
  * dispatch — ordered by `match_priority` descending, first matcher
  * whose structural test passes wins. The reference probes the
  * filesystem with globs per candidate class; here a matcher is a set of
  * regex counts over the file listing, so dispatch is one pass over the
  * catalog, not N directory walks: over one dataset's collected listing
  * on the driver ([[dispatch]]), or as aggregations per dataset over a
  * distributed listing ([[dispatchAll]]).
  */
object CollectionDispatch {

  /** A collection-type matcher: requires ≥1 file matching each regex in
    * `requiredPatterns`, (optionally) ≥n files matching `countPattern`,
    * and (optionally) ≤n files matching `maxPattern` (the reference's
    * generic type REJECTS a directory with two metadata.tsv files —
    * "Too many matches!").
    */
  final case class CollectionMatcher(
      name: String,
      priority: Double,
      requiredPatterns: Seq[String],
      countPattern: Option[(String, Long)] = None,
      maxPattern: Option[(String, Long)] = None)

  /** The reference's FULL priority ladder over its ten collection types
    * (match_priority per each data_collection_types module: multiassay
    * 2.1 = epic 2.1 > generic 2.0 > akoya/stanford/ims/rnaseq_10x/
    * metadatatsv/devtest 1.0). Each matcher is that type's `expected_files` glob set
    * as listing regexes; content-level refinements the reference layers
    * on top (rnaseq README first-line probe, devtest yml collectiontype
    * field) belong to the per-type reader stage, not the listing
    * dispatcher.
    */
  val defaultMatchers: Seq[CollectionMatcher] = Seq(
    CollectionMatcher("multiassay_metadatatsv", 2.1,
      requiredPatterns = Seq.empty,
      countPattern = Some(("(?i)^[^/]*-metadata\\.tsv$", 2L))),
    CollectionMatcher("epic_metadata", 2.1,
      requiredPatterns = Seq("(?i)^[^/]*metadata\\.tsv$", "(?i)^derived/[^/]+/.+")),
    CollectionMatcher("generic_metadatatsv", 2.0,
      requiredPatterns = Seq("(?i)^[^/]*metadata\\.tsv$"),
      maxPattern = Some(("(?i)^[^/]*metadata\\.tsv$", 1L))),
    // filenames below are case-SENSITIVE like the reference's globs:
    // akoya wants lowercase experiment.json, stanford capital-E
    // Experiment.json — the distinguishing bit between the two CODEX types
    CollectionMatcher("akoya_codex", 1.0,
      requiredPatterns = Seq("(?i)-metadata\\.tsv$", "(^|/)(src_[^/]+/)?experiment\\.json$")),
    CollectionMatcher("stanford_codex", 1.0,
      requiredPatterns = Seq("(?i)-metadata\\.tsv$",
        "(^|/)processingOptions\\.json$", "(^|/)Experiment\\.json$",
        "(^|/)channelNames\\.txt$")),
    CollectionMatcher("rnaseq_10x", 1.0,
      requiredPatterns = Seq("(?i)-metadata\\.tsv$", "(?i)(^|/)README\\.csv$",
        "(?i)_I1_.*\\.fastq\\.gz$", "(?i)_R1_.*\\.fastq\\.gz$")),
    CollectionMatcher("ims", 1.0,
      requiredPatterns = Seq("(?i)-spatial_meta\\.txt$",
        "(?i)^raw_microscopy/.*-AF_raw\\.czi$",
        "(?i)^raw_microscopy/.*-PAS_raw\\.scn$",
        "(?i)^IMS/.*-instrument_metadata\\.yml$")),
    CollectionMatcher("metadatatsv", 1.0,
      // the reference requires the dir to contain NOTHING BUT the one
      // dashed metadata.tsv (len(candidates) == 1). Note: every listing
      // this rung accepts is also accepted by generic (2.0), so it is
      // shadowed — IN THE REFERENCE TOO (generic is the later-added
      // "developer convenience" type); kept for ladder fidelity.
      requiredPatterns = Seq("(?i)^[^/]*-metadata\\.tsv$"),
      maxPattern = Some((".*", 1L))),
    CollectionMatcher("devtest", 1.0,
      requiredPatterns = Seq("^test\\.yml$")),
  )

  /** Every regex the matchers test, each once. */
  private def patternsOf(matchers: Seq[CollectionMatcher]): Seq[String] =
    matchers.flatMap(m =>
      m.requiredPatterns ++ m.countPattern.map(_._1).toSeq ++
        m.maxPattern.map(_._1).toSeq).distinct

  /** Dispatch one dataset's file listing (its `rel_path`s, already on
    * the driver) to the highest-priority matching collection type;
    * "unrecognized" if none match. A path matches a pattern as under
    * Spark's `rlike` (`Pattern.matcher(path).find(0)`), which
    * [[dispatchAll]] evaluates per dataset.
    */
  def dispatch(relPaths: Seq[String],
               matchers: Seq[CollectionMatcher] = defaultMatchers): String = {
    val counts = patternsOf(matchers).map { p =>
      val re = java.util.regex.Pattern.compile(p)
      p -> relPaths.count(re.matcher(_).find(0)).toLong
    }.toMap
    matchers.sortBy(-_.priority).find { m =>
      m.requiredPatterns.forall(p => counts(p) > 0) &&
        m.countPattern.forall { case (p, n) => counts(p) >= n } &&
        m.maxPattern.forall { case (p, n) => counts(p) <= n }
    }.map(_.name).getOrElse("unrecognized")
  }

  /** Batch variant: dispatch many datasets at once — listing has
    * (dataset_id, rel_path); returns (dataset_id, collection_type).
    * This is the 100 TB path: one shuffle by dataset_id instead of a
    * driver loop over datasets.
    */
  def dispatchAll(listing: DataFrame,
                  matchers: Seq[CollectionMatcher] = defaultMatchers): DataFrame = {
    val patterns = patternsOf(matchers)
    val aggs = patterns.zipWithIndex.map { case (p, i) =>
      sum(when(col("rel_path").rlike(p), 1L).otherwise(0L)).as(s"p$i")
    }
    val counted = listing.groupBy("dataset_id").agg(aggs.head, aggs.tail: _*)
    val idx = patterns.zipWithIndex.toMap
    // first-match over priority-sorted matchers as a when-chain
    val chain = matchers.sortBy(-_.priority).foldLeft(lit(null).cast("string")) { (acc, m) =>
      val cond = (m.requiredPatterns.map(p => col(s"p${idx(p)}") > 0) ++
        m.countPattern.map { case (p, n) => col(s"p${idx(p)}") >= n }.toSeq ++
        m.maxPattern.map { case (p, n) => col(s"p${idx(p)}") <= n }.toSeq)
        .reduceOption(_ && _).getOrElse(lit(true))
      when(acc.isNotNull, acc).otherwise(when(cond, m.name))
    }
    counted.select(col("dataset_id"),
      coalesce(chain, lit("unrecognized")).as("collection_type"))
  }
}
