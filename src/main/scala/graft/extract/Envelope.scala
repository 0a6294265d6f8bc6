package graft.extract

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset metadata envelope assembly (SURVEY.md §1.1;
  * dataset_metadata_schema.yml:11-21, assembled at utils.py:1586-1721):
  * one nested document per dataset — string-map metadata, file records,
  * provenance list, contacts promoted from contributors
  * (utils.py:1541-1549,1658-1662 truthy is_contact set).
  *
  * Everything is built with collect_list(struct(...)) aggregations in
  * one groupBy keyed by dataset, so envelope assembly for N datasets is
  * one shuffle, not N driver round trips.
  */
object Envelope {

  /** The reference's truthy set for is_contact. */
  val TruthySet: Seq[String] = Seq("TRUE", "T", "1", "Y", "YES")

  def isTruthy(c: Column): Column = upper(trim(c)).isin(TruthySet: _*)

  /** Assemble one envelope row per dataset:
    * {dataset_id, metadata: map<string,string>, files: array<struct>,
    *  contributors: array<struct>, contacts: array<struct>,
    *  dag_provenance_list: array<struct>}.
    *
    * `metadata` rows are (dataset_id, key, value) — schema-on-read
    * strings per §1.2; a dataset's map keeps its rows' input order.
    * `listing` is the annotated file catalog with a dataset_id column.
    *
    * One shuffle: each side is tagged into one struct column of a union
    * (contacts ride on the contributors rows), and a single
    * groupBy(dataset_id) collects every side at once; collect_list skips
    * the other sides' nulls. Only datasets with metadata or files get a
    * row, and a dataset with no rows on a side gets an EMPTY array/map,
    * not null — the envelope schema is total.
    */
  def assemble(metadata: DataFrame, listing: DataFrame,
               contributors: DataFrame,
               provenance: Seq[(String, String, String, String)]): DataFrame = {
    val provLit = array(provenance.map { case (n, h, o, v) =>
      struct(lit(n).as("name"), lit(h).as("hash"), lit(o).as("origin"), lit(v).as("version"))
    }: _*)
    val tagged = metadata.select(col("dataset_id"),
        struct(monotonically_increasing_id().as("seq"), col("key"), col("value")).as("md"))
      .unionByName(listing.select(col("dataset_id"), struct(
        col("rel_path"), col("type"), col("size"),
        col("description"), col("edam_term"),
        col("is_qa_qc"), col("is_data_product")).as("file")), allowMissingColumns = true)
      .unionByName(contributors.select(col("dataset_id"),
        struct(col("name"), col("affiliation"), col("orcid_id"),
          col("is_contact"), col("email")).as("contributor"),
        when(isTruthy(col("is_contact")),
          struct(col("name"), col("email"), col("affiliation"))).as("contact")),
        allowMissingColumns = true)
    tagged.groupBy("dataset_id")
      .agg(sort_array(collect_list(col("md"))).as("md"),
        sort_array(collect_list(col("file"))).as("files"),
        sort_array(collect_list(col("contributor"))).as("contributors"),
        sort_array(collect_list(col("contact"))).as("contacts"))
      .filter(size(col("md")) > 0 || size(col("files")) > 0)
      .select(col("dataset_id"),
        map_from_entries(transform(col("md"), e => struct(e("key"), e("value")))).as("metadata"),
        col("files"), col("contributors"), col("contacts"),
        provLit.as("dag_provenance_list"))
  }

  /** The envelope as its canonical JSON document (K3). */
  def jsonDoc(envelope: DataFrame): Column =
    to_json(struct(envelope.columns.filter(_ != "dataset_id").toIndexedSeq.map(col): _*))

  /** Envelope → canonical JSON document column (K3). */
  def toJsonDoc(envelope: DataFrame): DataFrame =
    envelope.select(col("dataset_id"), jsonDoc(envelope).as("doc"))

  /** V1-style envelope checks as one array<string> column over an
    * envelope row: required members present and well-formed (empty =
    * valid).
    */
  val violations: Column =
    array_compact(array(
      when(col("dag_provenance_list").isNull || size(col("dag_provenance_list")) === 0,
        lit("missing dag_provenance_list")),
      when(col("files").isNull, lit("missing files")),
      when(col("metadata").isNull, lit("missing metadata"))))

  /** V1-style envelope checks; returns violations (empty = valid). */
  def validate(envelope: DataFrame): DataFrame =
    envelope.select(col("dataset_id"), explode(violations).as("violation"))
}
