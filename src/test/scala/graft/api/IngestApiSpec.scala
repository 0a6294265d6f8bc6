package graft.api

import graft.SparkSpec

class IngestApiSpec extends SparkSpec {
  import spark.implicits._

  private val fixture = "src/test/resources/fixture_generic"

  test("requestIngest executes once and dedups on run_id") {
    val processed = Seq("run-already-done").toDF("run_id")
    val first = IngestApi.requestIngest(spark, "run-1", fixture, "ds-a", processed)
    assert(first.accepted && first.result.exists(_.collectionType == "generic_metadatatsv"))
    val replay = IngestApi.requestIngest(spark, "run-already-done", fixture, "ds-a", processed)
    assert(!replay.accepted && replay.result.isEmpty)
  }

  test("bulkIngest: positionally-first occurrence of a run_id wins, store dedup respected") {
    val processed = Seq("run-x").toDF("run_id")
    val acks = IngestApi.bulkIngest(spark, Seq(
      ("run-x", fixture, "ds-1"),   // already processed
      ("run-y", fixture, "ds-9"),   // first occurrence wins despite larger id
      ("run-y", fixture, "ds-2"),
      ("run-z", fixture, "ds-4"),
      ("run-z", fixture, "ds-4"),   // exact duplicate request
    ), processed)
    assert(acks.map(a => (a.runId, a.accepted)) ==
      Seq(("run-x", false), ("run-y", true), ("run-y", false),
          ("run-z", true), ("run-z", false)))
    assert(acks(1).result.isDefined && acks(2).result.isEmpty)
  }

  test("validateUpload returns the violation list without side effects") {
    assert(IngestApi.validateUpload(spark, fixture).isEmpty)
    assert(IngestApi.validateUpload(spark, "src/test/resources/fixture_devtest").nonEmpty)
  }

  test("statusView reflects updates accepted through the guard rails") {
    val events = Seq(
      ("ds-1", "dataset", "new", 1L, 0L),
      ("ds-1", "dataset", "processing", 2L, 1L),
    ).toDF("uuid", "entity_type", "status", "ts", "seq")
    val view = IngestApi.statusView(events).collect()
    assert(view.length == 1 && view.head.getAs[String]("status") == "processing")
  }
}
