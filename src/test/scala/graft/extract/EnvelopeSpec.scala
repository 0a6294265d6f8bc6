package graft.extract

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EnvelopeSpec extends SparkSpec {
  import spark.implicits._

  private def fixtures = {
    val metadata = Seq(
      ("d1", "assay_type", "codex"), ("d1", "data_path", "./raw"),
      ("d2", "assay_type", "rnaseq")).toDF("dataset_id", "key", "value")
    val listing = Seq(
      ("d1", "raw/a.csv", "csv", 10L, "sample table", "EDAM:1", false, true),
      ("d1", "my-metadata.tsv", "tsv", 5L, "", "", false, false))
      .toDF("dataset_id", "rel_path", "type", "size", "description", "edam_term", "is_qa_qc", "is_data_product")
    val contributors = Seq(
      ("d1", "Ada", "Uni", "0000-1", "TRUE", "ada@x.org"),
      ("d1", "Bob", "Lab", "0000-2", "no", "bob@x.org"))
      .toDF("dataset_id", "name", "affiliation", "orcid_id", "is_contact", "email")
    (metadata, listing, contributors)
  }

  test("assemble builds one nested envelope per dataset with promoted contacts") {
    val (md, listing, contribs) = fixtures
    val env = Envelope.assemble(md, listing, contribs, Seq(("graft", "abc123", "origin", "0.1")))
    val rows = env.orderBy("dataset_id").collect()
    assert(rows.length == 2)
    val d1 = rows(0)
    assert(d1.getAs[Map[String, String]]("metadata") == Map("assay_type" -> "codex", "data_path" -> "./raw"))
    assert(d1.getSeq[org.apache.spark.sql.Row](d1.fieldIndex("files")).length == 2)
    val contacts = d1.getSeq[org.apache.spark.sql.Row](d1.fieldIndex("contacts"))
    assert(contacts.map(_.getAs[String]("email")) == Seq("ada@x.org"))
    assert(Envelope.validate(env).count() == 0)
  }

  test("a dataset that appears only in contributors yields no envelope row") {
    val (md, listing, contribs) = fixtures
    val extra = Seq(("d3", "Cy", "Inst", "0000-3", "yes", "cy@x.org"))
      .toDF("dataset_id", "name", "affiliation", "orcid_id", "is_contact", "email")
    val env = Envelope.assemble(md, listing, contribs.unionByName(extra), Seq(("graft", "a", "o", "1")))
    assert(env.select("dataset_id").as[String].collect().sorted.toSeq == Seq("d1", "d2"))
  }

  test("assemble is one shuffle") {
    val (md, listing, contribs) = fixtures
    val env = Envelope.assemble(md, listing, contribs, Seq(("graft", "a", "o", "1")))
    val plan = env.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllMatchIn(plan).length == 1 && !plan.contains("Join"), plan)
  }

  test("validate reports missing provenance") {
    val (md, listing, contribs) = fixtures
    val env = Envelope.assemble(md, listing, contribs, Seq.empty)
    val v = Envelope.validate(env).select("violation").as[String].collect().toSet
    assert(v == Set("missing dag_provenance_list"))
  }

  test("toJsonDoc emits parseable canonical JSON") {
    val (md, listing, contribs) = fixtures
    val env = Envelope.assemble(md, listing, contribs, Seq(("graft", "abc", "o", "1")))
    val doc = Envelope.toJsonDoc(env).filter(col("dataset_id") === "d1").head().getAs[String]("doc")
    assert(doc.contains(""""contacts":[{"name":"Ada""""))
    assert(doc.contains(""""dag_provenance_list":[{"name":"graft""""))
  }
  test("golden envelope documents match byte-for-byte (F5 exact-doc compare)") {
    // Frozen canonical output: any change to field order, null handling,
    // promotion rules, or struct layout shows up as a diff here.
    val goldenD1 =
      """{"metadata":{"assay_type":"codex","data_path":"./raw"},"files":[{"rel_path":"my-metadata.tsv","type":"tsv","size":5,"description":"","edam_term":"","is_qa_qc":false,"is_data_product":false},{"rel_path":"raw/a.csv","type":"csv","size":10,"description":"sample table","edam_term":"EDAM:1","is_qa_qc":false,"is_data_product":true}],"contributors":[{"name":"Ada","affiliation":"Uni","orcid_id":"0000-1","is_contact":"TRUE","email":"ada@x.org"},{"name":"Bob","affiliation":"Lab","orcid_id":"0000-2","is_contact":"no","email":"bob@x.org"}],"contacts":[{"name":"Ada","email":"ada@x.org","affiliation":"Uni"}],"dag_provenance_list":[{"name":"graft","hash":"abc123","origin":"origin","version":"0.1"}]}"""
    val goldenD2 =
      """{"metadata":{"assay_type":"rnaseq"},"files":[],"contributors":[],"contacts":[],"dag_provenance_list":[{"name":"graft","hash":"abc123","origin":"origin","version":"0.1"}]}"""
    val (md, listing, contribs) = fixtures
    val env = Envelope.assemble(md, listing, contribs, Seq(("graft", "abc123", "origin", "0.1")))
    val docs = Envelope.toJsonDoc(env).orderBy("dataset_id")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(docs("d1") == goldenD1)
    assert(docs("d2") == goldenD2)
  }
}