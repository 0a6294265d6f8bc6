package graft.jobs

import graft.SparkSpec
import graft.extract.CollectionDispatch
import graft.sources.{FileCatalog, Readers}
import org.apache.spark.sql.functions._

/** F2 end-to-end: a real multiassay upload directory through dispatch →
  * phase1 freeze → phase2 plans (SURVEY.md §3.2 on actual files).
  */
class ReorganizeE2ESpec extends SparkSpec {
  import spark.implicits._

  private val root = "src/test/resources/fixture_multiassay"

  test("multiassay upload splits into per-assay children with real file plans") {
    val listing = FileCatalog.scan(spark, root)
    assert(CollectionDispatch.dispatch(listing.select("rel_path").as[String].collect().toSeq) ==
      "multiassay_metadatatsv")

    // combine the component metadata.tsv files like the reorganizer does
    val metadata = Seq("10x_multiome-metadata.tsv", "rna-metadata.tsv")
      .map(f => Readers.tsv(spark, s"$root/$f"))
      .reduce(_ unionByName _)
    val freeze = java.nio.file.Files.createTempDirectory("frozen").toString + "/f"
    Reorganize.phase1(metadata, "up-7", freeze)

    val frozen = Reorganize.readFrozen(spark, freeze)
    assert(frozen.select("canonical_assay_type").as[String].collect().toSet ==
      Set("10x_multiome", "rnaseq"))
    val childIds = frozen.select("child_id").as[String].collect()
    assert(childIds.distinct.length == 2)

    val plan = Reorganize.movePlan(frozen, listing)
    val moves = plan.as[(String, String, String)].collect()
    // each child gets its own data dir plus the shared global files
    val byChild = moves.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val c1 = frozen.filter($"data_path" === "./dataset1").select("child_id").as[String].head()
    val c2 = frozen.filter($"data_path" === "./dataset2").select("child_id").as[String].head()
    assert(byChild(c1) == Set("dataset1/reads.fastq", "global/panel.json"))
    assert(byChild(c2) == Set("dataset2/counts.csv", "global/panel.json"))

    val events = Reorganize.statusEvents(frozen, "up-7").as[(String, String, String)].collect().toSet
    assert(events == Set(
      ("up-7", "upload", "reorganized"),
      (c1, "dataset", "submitted"),
      (c2, "dataset", "submitted")))
  }
}
