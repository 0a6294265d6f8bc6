package graft.streaming

import graft.SparkSpec
import graft.operators.Routing.RoutingRule
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class IngestStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("dedupRequests drops duplicate run_ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, String, java.sql.Timestamp)]
    val requests = input.toDF()
      .toDF("run_id", "dataset_id", "process", "request_time")
    val routed = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val q = IngestStream.start(requests, Seq(
      RoutingRule("^mock\\.", "wf_mock", 1),
      RoutingRule("rnaseq", "wf_salmon", 2))) { batch =>
      routed ++= batch.select("run_id", "workflow").as[(String, String)].collect()
    }
    input.addData(
      ("r1", "d1", "mock.rnaseq.10x", ts("2024-01-01 00:00:00")),
      ("r2", "d2", "salmon_rnaseq", ts("2024-01-01 00:01:00")),
      ("r1", "d1", "mock.rnaseq.10x", ts("2024-01-01 00:02:00")), // duplicate
      ("r3", "d3", "unknown_process", ts("2024-01-01 00:03:00")))
    q.processAllAvailable()
    q.stop()
    assert(routed.sortBy(_._1).toList == List(
      ("r1", "wf_mock"), ("r2", "wf_salmon"), ("r3", "wf_default")))
  }

  test("enrichRequests joins the stream against a static snapshot without shuffling it") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    val requests = input.toDF().toDF("run_id", "dataset_id", "request_time")
    val dim = Seq(("d1", "Group A"), ("d2", "Group B")).toDF("dataset_id", "group_name")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val q = IngestStream.enrichRequests(requests, dim)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen ++= batch.select("run_id", "group_name").as[(String, String)].collect()
        ()
      }.start()
    input.addData(
      ("r1", "d1", ts("2024-01-01 00:00:00")),
      ("r2", "d2", ts("2024-01-01 00:01:00")),
      ("r3", "d9", ts("2024-01-01 00:02:00"))) // no dim row → left-join null
    q.processAllAvailable()
    q.stop()
    assert(seen.sortBy(_._1).toList == List(
      ("r1", "Group A"), ("r2", "Group B"), ("r3", null)))
  }

  test("novelDocs passes only first-seen fingerprints absent from the persisted index") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((10L, "alpha beta"), (11L, "gamma delta")).toDF("doc_id", "text")
    graft.operators.Dedup.writeDedupIndex(corpus, "novel_docs_index_spec", buckets = 4)
    try {
      val input = MemoryStream[(java.sql.Timestamp, Long, String)]
      val docs = input.toDF().toDF("ts", "doc_id", "text")
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = IngestStream.novelDocs(docs, spark.table("novel_docs_index_spec"))
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          seen ++= batch.select("doc_id").as[Long].collect()
          ()
        }.start()
      input.addData(
        (ts("2024-01-01 00:00:00"), 20L, "alpha beta"),    // corpus dup -> dropped
        (ts("2024-01-01 00:01:00"), 21L, "fresh one"),     // novel
        (ts("2024-01-01 00:02:00"), 22L, "fresh two"))     // novel
      q.processAllAvailable()
      input.addData(
        (ts("2024-01-01 00:03:00"), 23L, "fresh two"),     // stream dup -> dropped
        (ts("2024-01-01 00:04:00"), 24L, "GAMMA   DELTA"), // inner spaces differ -> novel
        (ts("2024-01-01 00:05:00"), 25L, "fresh three"))   // novel
      q.processAllAvailable()
      q.stop()
      assert(seen.sorted.toList == List(21L, 22L, 24L, 25L))
    } finally spark.sql("DROP TABLE IF EXISTS novel_docs_index_spec")
  }

  test("windowedUsage aggregates tumbling event-time windows in batch mode") {
    val events = Seq(
      (ts("2024-01-01 00:01:00"), "purchase", 10.0),
      (ts("2024-01-01 00:05:00"), "purchase", 5.0),
      (ts("2024-01-10 00:00:00"), "purchase", 7.0),
    ).toDF("ts", "event_type", "value")
    val got = IngestStream.windowedUsage(events)
      .select("event_type", "n_events", "total_value")
      .as[(String, Long, Double)].collect().toSet
    assert(got == Set(("purchase", 2L, 15.0), ("purchase", 1L, 7.0)))
  }
  test("windowedUsage in streaming append mode finalizes windows as the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = IngestStream.windowedUsage(
        input.toDF().toDF("ts", "event_type", "value"),
        window_ = "1 hour", watermark = "30 minutes")
      .writeStream.format("memory").queryName("wu_stream").outputMode("append").start()
    // two events in the 00:00 window
    input.addData((ts("2024-01-01 00:10:00"), "purchase", 10.0),
                  (ts("2024-01-01 00:40:00"), "purchase", 5.0))
    q.processAllAvailable()
    // append mode holds the open window until the watermark passes its end
    assert(spark.table("wu_stream").count() == 0)
    // an event far enough ahead advances the watermark past 01:00 + 30min
    input.addData((ts("2024-01-01 02:00:00"), "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("wu_stream")
      .select("window_start", "event_type", "n_events", "total_value")
      .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(rows == Set((ts("2024-01-01 00:00:00"), "purchase", 2L, 15.0)))
  }

  test("windowedQuality: streaming append output equals the batch run (unified plan)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (ts("2024-01-01 00:05:00"), "en", 500L),
      (ts("2024-01-01 00:15:00"), "en", 100L),  // short doc
      (ts("2024-01-01 00:25:00"), "fr", 300L),
      (ts("2024-01-01 01:10:00"), "en", 250L))
    val batch = IngestStream.windowedQuality(
        rows.toDF("ingest_ts", "lang", "n_chars"))
      .collect().map(_.toString).toSet
    val input = MemoryStream[(java.sql.Timestamp, String, Long)]
    val q = IngestStream.windowedQuality(
        input.toDF().toDF("ingest_ts", "lang", "n_chars"))
      .writeStream.format("memory").queryName("wq_stream").outputMode("append").start()
    input.addData(rows: _*)
    // advance the watermark far past every window end to flush them all
    input.addData((ts("2024-01-01 09:00:00"), "xx", 1L))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("wq_stream").collect().map(_.toString).toSet
    // all of the batch's windows are closed by the flush row, and the
    // flush row's own window stays open — so streaming append output
    // IS the batch result, row for row
    assert(streamed == batch)
  }

  test("sessionWindowUsage: gap merge semantics — exactly last+gap still merges") {
    // user 1: 00:00 and 00:20 merge; 00:50 lands EXACTLY at the window
    // end (00:20 + 30m) and session_window merges it (end-inclusive
    // extension, pinned here because the oracle replays it with a
    // strict > gap break); 01:21 is past 00:50+30m → new session
    val rows = Seq(
      (ts("2024-01-01 00:00:00"), 1L, 1.0),
      (ts("2024-01-01 00:20:00"), 1L, 2.0),
      (ts("2024-01-01 00:50:00"), 1L, 4.0),
      (ts("2024-01-01 01:21:00"), 1L, 8.0))
    val r = IngestStream.sessionWindowUsage(rows.toDF("ts", "user_id", "value"))
      .orderBy("session_start").collect()
    assert(r.length == 2)
    assert(r(0).getAs[java.sql.Timestamp]("session_start") == ts("2024-01-01 00:00:00"))
    assert(r(0).getAs[java.sql.Timestamp]("session_end") == ts("2024-01-01 01:20:00"))
    assert(r(0).getAs[Long]("n_events") == 3L)
    assert(r(1).getAs[Long]("n_events") == 1L)
    assert(r(1).getAs[java.sql.Timestamp]("session_end") == ts("2024-01-01 01:51:00"))
  }

  test("sessionWindowUsage: streaming append output equals the batch run") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (ts("2024-01-01 00:00:00"), 1L, 1.0),
      (ts("2024-01-01 00:10:00"), 1L, 2.0),
      (ts("2024-01-01 01:00:00"), 1L, 3.0),
      (ts("2024-01-01 00:05:00"), 2L, 5.0))
    val batch = IngestStream.sessionWindowUsage(
        rows.toDF("ts", "user_id", "value"))
      .collect().map(_.toString).toSet
    val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val q = IngestStream.sessionWindowUsage(
        input.toDF().toDF("ts", "user_id", "value"))
      .writeStream.format("memory").queryName("sw_stream").outputMode("append").start()
    input.addData(rows: _*)
    input.addData((ts("2024-01-01 12:00:00"), 99L, 0.0)) // flush watermark
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sw_stream").collect().map(_.toString).toSet
    assert(streamed == batch)
  }

  test("priorActionJoin: streaming interval join equals the batch run; boundaries closed-open") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      // user 1: two actions inside the 5-min lookback of the error at 00:05
      (1L, "click", 1L, ts("2024-01-01 00:00:00")),  // exactly err_ts − 5 min -> INCLUDED
      (2L, "view", 1L, ts("2024-01-01 00:02:00")),
      (3L, "error", 1L, ts("2024-01-01 00:05:00")),
      (4L, "click", 1L, ts("2024-01-01 00:05:00")),  // at err_ts -> EXCLUDED (act < err)
      // user 1: second error with nothing in its window
      (5L, "error", 1L, ts("2024-01-01 00:20:00")),
      // user 2: action 6 min before its error -> outside the lookback
      (6L, "click", 2L, ts("2024-01-01 00:00:00")),
      (7L, "error", 2L, ts("2024-01-01 00:06:00")))
    val df = rows.toDF("event_id", "event_type", "user_id", "ts")
    val batch = IngestStream.priorActionJoin(df)
      .select("err_id", "action_type").as[(Long, String)].collect().toSet
    assert(batch == Set((3L, "click"), (3L, "view")))
    val input = MemoryStream[(Long, String, Long, java.sql.Timestamp)]
    val q = IngestStream.priorActionJoin(
        input.toDF().toDF("event_id", "event_type", "user_id", "ts"))
      .select("err_id", "action_type")
      .writeStream.format("memory").queryName("paj_stream").outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("paj_stream").as[(Long, String)].collect().toSet
    assert(streamed == batch)
  }

  test("cappedBySource: admission counter persists ACROSS micro-batches (transformWithState)") {
    implicit val sqlCtx = spark.sqlContext
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    // transformWithState requires the RocksDB-backed store
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(String, Long)]
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      val q = IngestStream.cappedBySource(input.toDS(), cap = 2)
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          out ++= b.as[(String, Long, Long)].collect(); ()
        }.start()
      // batch 1: source a admits ids 1,2 (doc_id order, NOT arrival
      // order), rejects 3; source b admits 10
      input.addData(("a", 3L), ("a", 1L), ("a", 2L), ("b", 10L))
      q.processAllAvailable()
      // batch 2: a is already full FROM BATCH 1 → 4 rejected;
      // b's counter resumes at 1 → admits 11, rejects 12 and 13
      input.addData(("a", 4L), ("b", 11L), ("b", 12L), ("b", 13L))
      q.processAllAvailable()
      q.stop()
      assert(out.toSet == Set(
        ("a", 1L, 1L), ("a", 2L, 2L), ("b", 10L, 1L), ("b", 11L, 2L)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None    => spark.conf.unset(confKey)
      }
    }
  }

  test("cappedBySource batch mode equals the per-source rank-<=-cap semantics") {
    val docs = Seq(("a", 5L), ("a", 3L), ("a", 9L), ("b", 1L), ("b", 2L))
      .toDS().map(identity) // Dataset[(String, Long)]
    val got = IngestStream.cappedBySource(docs, cap = 2)
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 3L, 1L), ("a", 5L, 2L), ("b", 1L, 1L), ("b", 2L, 2L)))
  }

  test("startSprtMonitor: streaming decision table equals the batch monitor (q341 twin)") {
    implicit val sqlCtx = spark.sqlContext
    // 3 closed days of treatment-arm (odd user) purchases + misc events;
    // even-user rows must be ignored by both sides
    val rows = Seq(
      (ts("2024-01-01 01:00:00"), 1L, "purchase", 1.0),
      (ts("2024-01-01 02:00:00"), 3L, "click", 1.0),
      (ts("2024-01-01 03:00:00"), 2L, "purchase", 1.0), // control arm
      (ts("2024-01-02 01:00:00"), 1L, "purchase", 1.0),
      (ts("2024-01-02 02:00:00"), 5L, "purchase", 1.0),
      (ts("2024-01-03 01:00:00"), 7L, "view", 1.0),
      (ts("2024-01-03 02:00:00"), 1L, "purchase", 1.0))
    // the flusher advances the watermark past every fixture day's end;
    // its OWN day stays open in the stream, so the batch comparison
    // excludes it (stream semantics: the open day is not yet decided)
    val flush = (ts("2024-01-10 00:00:00"), 9L, "view", 1.0)
    val batch = graft.operators.StatisticalAudits
      .sprtMonitor((rows :+ flush).toDF("ts", "user_id", "event_type", "value"))
      .filter(col("day") < "2024-01-10")
      .collect().map(_.toString).toSeq
    var last: Seq[String] = Seq.empty
    val input = MemoryStream[(java.sql.Timestamp, Long, String, Double)]
    val q = IngestStream.startSprtMonitor(
        input.toDF().toDF("ts", "user_id", "event_type", "value")) { decision =>
      last = decision.collect().map(_.toString).toSeq
    }
    input.addData(rows.take(4): _*)
    q.processAllAvailable()
    input.addData(rows.drop(4): _*)
    input.addData(flush)
    q.processAllAvailable()
    q.stop()
    assert(last == batch,
      "streaming SPRT decisions must equal the batch monitor row-for-row")
  }

  test("startPsiMonitor: cumulative streaming PSI equals the batch monitor (q350 twin)") {
    implicit val sqlCtx = spark.sqlContext
    // deterministic 8-dim vectors, both parities (ref = even vec_id,
    // cur = odd), values spread so buckets differ between arms
    val vecs: Seq[(Long, Seq[Float])] = (0L until 24L).map { i =>
      (i, (0 until 8).map(d => ((i * 7 + d * 13) % 11 - 5).toFloat / 4f))
    }
    val batch = graft.operators.StatisticalAudits
      .embeddingPsiDrift(vecs.toDF("vec_id", "embedding"), projs = 4)
      .collect().map(_.toString).toSeq
    var last: Seq[String] = Seq.empty
    val input = MemoryStream[(Long, Seq[Float])]
    val q = IngestStream.startPsiMonitor(
        input.toDF().toDF("vec_id", "embedding"), projs = 4) { psi =>
      last = psi.collect().map(_.toString).toSeq
    }
    // two micro-batches: the cumulative cell merge must make the final
    // refold identical to one batch over everything
    input.addData(vecs.take(10): _*)
    q.processAllAvailable()
    input.addData(vecs.drop(10): _*)
    q.processAllAvailable()
    q.stop()
    assert(last == batch,
      "cumulative streaming PSI must equal the batch monitor row-for-row")
  }
}