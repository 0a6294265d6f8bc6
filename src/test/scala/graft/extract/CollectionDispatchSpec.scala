package graft.extract

import graft.SparkSpec
import graft.sources.FileCatalog

class CollectionDispatchSpec extends SparkSpec {
  import spark.implicits._

  private def relPaths(dir: String): Seq[String] =
    FileCatalog.scan(spark, dir).select("rel_path").as[String].collect().toSeq

  test("generic metadata.tsv dir dispatches to generic_metadatatsv") {
    assert(CollectionDispatch.dispatch(relPaths("src/test/resources/fixture_generic")) ==
      "generic_metadatatsv")
  }

  test("devtest dir dispatches to devtest") {
    assert(CollectionDispatch.dispatch(relPaths("src/test/resources/fixture_devtest")) == "devtest")
  }

  test("two -metadata.tsv files dispatch to multiassay (priority beats generic)") {
    assert(CollectionDispatch.dispatch(Seq("rna-metadata.tsv", "atac-metadata.tsv", "data/x.bin")) ==
      "multiassay_metadatatsv")
  }

  test("empty listing dispatches to unrecognized (no NPE)") {
    assert(CollectionDispatch.dispatch(Seq.empty) == "unrecognized")
  }

  test("dispatchAll routes many datasets in one pass") {
    val listing = Seq(
      ("d1", "my-metadata.tsv"),
      ("d2", "rna-metadata.tsv"), ("d2", "atac-metadata.tsv"),
      ("d3", "nothing.bin"),
      ("d4", "x-metadata.tsv"), ("d4", "src_raw/experiment.json"),
    ).toDF("dataset_id", "rel_path")
    val got = CollectionDispatch.dispatchAll(listing)
      .as[(String, String)].collect().toMap
    assert(got == Map(
      "d1" -> "generic_metadatatsv",
      "d2" -> "multiassay_metadatatsv",
      "d3" -> "unrecognized",
      "d4" -> "generic_metadatatsv")) // single metadata.tsv beats akoya priority
  }
  test("the full reference ladder: epic, generic shadowing, stanford, ims") {
    def d(paths: String*) = CollectionDispatch.dispatch(paths)
    // epic: metadata.tsv + derived/<dir>/ files beats generic (2.1 > 2.0)
    assert(d("sample-metadata.tsv", "derived/imgset1/a.ome.tiff") == "epic_metadata")
    // faithful shadowing: ONE metadata.tsv -> generic (2.0) wins even
    // over a dir that also looks stanford/rnaseq-shaped (1.0) — same
    // first-match outcome as the reference's ladder
    assert(d("x-metadata.tsv", "raw/processingOptions.json", "raw/Experiment.json",
             "raw/channelNames.txt") == "generic_metadatatsv")
    // generic REJECTS two metadata.tsv ("Too many matches!"); with only
    // one of them dashed, multiassay (needs 2 dashed) also passes, so
    // the stanford instrument files finally win
    assert(d("x-metadata.tsv", "extrametadata.tsv", "raw/processingOptions.json",
             "raw/Experiment.json", "raw/channelNames.txt") == "stanford_codex")
    // ims has NO metadata.tsv at all -> nothing shadows it
    assert(d("s-spatial_meta.txt", "raw_microscopy/s-AF_raw.czi",
             "raw_microscopy/s-PAS_raw.scn", "IMS/s-instrument_metadata.yml") == "ims")
    // a directory containing ONLY a dashed metadata.tsv: generic and
    // metadatatsv both match; generic wins on priority
    assert(d("only-metadata.tsv") == "generic_metadatatsv")
  }

  test("driver dispatch agrees with dispatchAll's Spark rlike on every ladder rung") {
    val listings = Seq(
      Seq("my-metadata.tsv"),
      Seq("rna-metadata.tsv", "atac-metadata.tsv", "data/x.bin"),
      Seq("sample-metadata.tsv", "derived/imgset1/a.ome.tiff"),
      Seq("x-metadata.tsv", "extrametadata.tsv", "raw/processingOptions.json",
        "raw/Experiment.json", "raw/channelNames.txt"),
      Seq("x-metadata.tsv", "src_raw/experiment.json", "extra-metadata.tsv"),
      Seq("s-metadata.tsv", "README.CSV", "s_I1_001.fastq.gz", "s_R1_001.fastq.gz",
        "other-metadata.tsv"),
      Seq("s-spatial_meta.txt", "raw_microscopy/s-AF_raw.czi",
        "raw_microscopy/s-PAS_raw.scn", "IMS/s-instrument_metadata.yml"),
      Seq("test.yml"),
      Seq("nothing.bin", "sub/test.yml"),
      relPaths("src/test/resources/fixture_multiassay"),
    )
    val batch = listings.zipWithIndex
      .flatMap { case (ps, i) => ps.map(p => (s"d$i", p)) }.toDF("dataset_id", "rel_path")
    val batched = CollectionDispatch.dispatchAll(batch).as[(String, String)].collect().toMap
    listings.zipWithIndex.foreach { case (ps, i) =>
      withClue(ps.mkString(", ")) { assert(CollectionDispatch.dispatch(ps) == batched(s"d$i")) }
    }
    assert(batched.values.toSet.size >= 7, batched)
  }
}
