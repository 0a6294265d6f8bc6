package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming layer (SURVEY.md §2.11): the reference is
  * event-triggered batch (REST triggers + cron + sleep-polling); here
  * the ingest queue is a real stream with the upgrade semantics the
  * survey maps out:
  *  - run-id dedup (`endpoint.py:370-372` "The request happened twice?")
  *    → `dropDuplicates` within the watermark;
  *  - cron report jobs (`@weekly` usage report) → event-time tumbling
  *    windows with a watermark for late data;
  *  - status stream → append-only events, latest-wins view at read.
  *
  * All transforms are expressed on an unbounded DataFrame, so the same
  * code runs in batch (tests, backfills) and streaming (production).
  */
object IngestStream {

  /** q200: gap-based session aggregation with Spark's NATIVE
    * `session_window` (the builtin merging-window state operator): per
    * (user, session) event count and value sum, where a session closes
    * after `gap` of inactivity and the window end is last-event + gap.
    * Identical code runs as a batch backfill (the oracle surface) and as
    * a watermarked append stream (spec-proven parity).
    */
  def sessionWindowUsage(events: DataFrame, gap: String = "30 minutes",
                         watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("user_id"), col("n_events"), col("total_value"))

  /** Ingest-request stream: dedup by run_id within the watermark window.
    * Input schema: (run_id, dataset_id, process, request_time).
    */
  def dedupRequests(requests: DataFrame, watermark: String = "1 hour"): DataFrame =
    requests
      .withWatermark("request_time", watermark)
      // WithinWatermark variant: plain dropDuplicates(subset) ignores the
      // watermark when the event-time column isn't in the subset → state
      // grows unboundedly; this evicts run_ids older than the watermark
      .dropDuplicatesWithinWatermark("run_id")

  /** Weekly usage report as an event-time tumbling window (replaces the
    * @weekly cron + pandas scan): count + value sum per (window, type).
    */
  def windowedUsage(events: DataFrame, window_ : String = "7 days",
                    watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
              col("window.end").as("window_end"),
              col("event_type"), col("n_events"), col("total_value"))

  /** Streaming corpus-quality monitor (the training-data-pipeline
    * twin of [[windowedUsage]]): per (event-time window, lang) — doc
    * arrival counts, short-doc fraction, and mean length. This is the
    * dashboard a crawl-ingest pipeline watches to catch a source going
    * bad IN FLIGHT (encoding breakage shows up as a short-doc spike
    * minutes after it starts, not at the next batch profile).
    * Same unified-plan contract as windowedUsage: identical code runs
    * as a batch backfill, which is what the q101 oracle hash-matches.
    */
  def windowedQuality(docs: DataFrame, window_ : String = "1 hour",
                      watermark: String = "10 minutes",
                      minChars: Int = 200): DataFrame =
    docs
      .withWatermark("ingest_ts", watermark)
      .groupBy(window(col("ingest_ts"), window_), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(when(col("n_chars") < minChars, 1L)), lit(0L)).as("n_low"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("lang"), col("n_docs"), col("n_low"),
        round(col("n_low") / col("n_docs").cast("double"), 4).as("low_frac"),
        col("avg_chars"))

  /** Stream-stream interval join: each error event joined to the SAME
    * user's non-error actions in the preceding `lookbackMinutes` — the
    * "what was this user doing right before it broke" attribution
    * stream. Both sides carry a watermark and the join condition bounds
    * act_ts to a closed-open interval ending at err_ts, so Spark can
    * size the join state and evict rows once the watermark passes —
    * the canonical bounded-state stream-stream join shape. The same
    * plan runs as a batch backfill (unified model), which is what the
    * q132 oracle hash-matches.
    */
  def priorActionJoin(events: DataFrame, lookbackMinutes: Int = 5,
                      watermark: String = "10 minutes"): DataFrame = {
    // BANDED interval join: the time axis buckets at the lookback width
    // and the band rides the EQUI-key next to user. An action inside
    // (err_ts − L, err_ts) lies in the error's band or the one before
    // (exact by floor arithmetic), so exploding the error side into its
    // two candidate bands loses nothing and the range predicates below
    // still decide membership — each pair matches in exactly ONE band,
    // so no duplicates either. Without the band, the equi-key is user
    // alone: one hot user degenerates the join into a single-key
    // err × act nested loop (r11 skew sweep: 80 s of 6.4·10⁹ predicate
    // evaluations for 6·10⁵ output rows; banded, per-(user, band) work
    // is bounded by the window's own density). Streaming gains too:
    // join state keys on (user, band), so eviction is per-band.
    val lookUs = lookbackMinutes * 60000000L
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", watermark)
      .withColumn("err_band", explode(array(
        expr(s"unix_micros(err_ts) div ${lookUs}L"),
        expr(s"unix_micros(err_ts) div ${lookUs}L - 1"))))
    val actions = events.filter(col("event_type") =!= "error")
      .select(col("user_id").as("act_user"), col("event_type").as("action_type"),
        col("ts").as("act_ts"))
      .withWatermark("act_ts", watermark)
      .withColumn("act_band", expr(s"unix_micros(act_ts) div ${lookUs}L"))
    errors.join(actions,
      col("err_user") === col("act_user") &&
      col("err_band") === col("act_band") &&
      col("act_ts") >= col("err_ts") - expr(s"INTERVAL $lookbackMinutes MINUTES") &&
      col("act_ts") < col("err_ts"))
      .drop("err_band", "act_band")
  }

  /** q132 report head over [[priorActionJoin]]: per error, how many
    * prior actions and how many distinct kinds. Integer counts only.
    */
  def errorAttribution(events: DataFrame, lookbackMinutes: Int = 5): DataFrame =
    priorActionJoin(events, lookbackMinutes)
      .groupBy(col("err_id"), col("err_user").as("user_id"))
      .agg(count(lit(1)).as("n_prior"),
        countDistinct(col("action_type")).as("n_types"))
      .orderBy("err_id")

  /** Stream-static enrichment: join the request stream against a static
    * dimension snapshot (the entity-api lookup table of SURVEY S19) —
    * broadcast on the static side, so each micro-batch pays a map-side
    * hash join and the stream never shuffles. The static plan re-reads
    * per micro-batch, so a parquet-backed dimension picks up snapshot
    * refreshes without restarting the query.
    */
  def enrichRequests(requests: DataFrame, dim: DataFrame,
                     key: String = "dataset_id"): DataFrame =
    requests.join(broadcast(dim), Seq(key), "left")

  /** Streaming novel-document filter against the PERSISTED dedup index
    * (Dedup.writeDedupIndex's bucketed table — the q205 posture made
    * continuous): an arriving doc passes only if (a) its fingerprint is
    * the first occurrence within the watermark window
    * (`dropDuplicatesWithinWatermark` — bounded state, evicted past the
    * watermark) and (b) it is absent from the corpus index (stream-
    * static LEFT ANTI join, re-read per micro-batch so an index refresh
    * is picked up without restarting the query). This is the ingest
    * gate a 100 TB training pipeline runs continuously: only novel text
    * reaches the corpus, and the corpus ships only 16 B fingerprints.
    * Input schema: (ts, doc_id, text).
    */
  def novelDocs(docs: DataFrame, index: DataFrame,
                watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fingerprint", graft.operators.Dedup.fingerprint(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fingerprint")
      .join(index, Seq("fingerprint"), "left_anti")

  /** Cross-batch per-source admission cap on Spark 4's
    * `transformWithState` (the arbitrary-state v2 API, RocksDB-backed):
    * state is ONE int64 per source — documents admitted so far — and a
    * source's docs are admitted in doc_id order until the cap fills,
    * ACROSS micro-batches. No stateless operator expresses this: q89's
    * batch domain cap resets per run, and dropDuplicates variants track
    * membership, not a counter. This is the crawl-frontier posture —
    * "at most N docs per domain for the whole run" as a durable
    * property of the stream.
    *
    * Determinism: within a key group the rows are sorted by doc_id
    * before admission, so a replayed micro-batch admits the same set.
    * Scale shape: state is #sources × 8 B — bounded by the keyspace,
    * never the stream; the only shuffle is the groupByKey hash
    * partition on source.
    *
    * Works unchanged in BATCH mode (Spark runs the processor over a
    * single all-data batch), which is what the q217 oracle certifies:
    * batch-mode admission ≡ the per-source doc_id row_number ≤ cap.
    */
  def cappedBySource(docs: org.apache.spark.sql.Dataset[(String, Long)],
                     cap: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // batch mode runs the stateful operator outside any StreamExecution,
    // so the coordinator endpoint must be ensured explicitly
    org.apache.spark.sql.GraftGlue.ensureStateStoreCoordinator(spark)
    docs.groupByKey(_._1)
      .transformWithState(new SourceCapProcessor(cap),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF("source", "doc_id", "n_admitted")
  }

  /** Route a deduped request micro-batch through the workflow rule table
    * and append status events — the foreachBatch body (batch-mode
    * DataFrame in, side-effect-free DataFrames out; sinks are adapters).
    */
  def routeBatch(batch: DataFrame, rules: Seq[graft.operators.Routing.RoutingRule]): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val rulesDf = rules.toDF("pattern", "workflow", "priority")
    graft.operators.Routing
      .firstMatch(batch, rulesDf, keyCol = "run_id", matchCol = "process", default = "wf_default")
      .select("run_id", "dataset_id", "process", "workflow", "request_time")
  }

  /** Wire the full stream: requests → dedup → route → injected sink
    * adapter (K5 pattern: selection/formatting is DataFrame work, the
    * send is a driver side-effect).
    */
  def start(requests: DataFrame, rules: Seq[graft.operators.Routing.RoutingRule])
           (onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    dedupRequests(requests)
      .writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) => onBatch(routeBatch(batch, rules)) }
      .start()

  /** q341's streaming twin, distributed half: the treatment arm's
    * per-day (n, x) counts as a watermarked tumbling 1-day event-time
    * window — append mode finalizes each calendar day exactly once when
    * the watermark passes its end (the "read the monitor once per day"
    * cadence the SPRT is designed for). Day boundaries are UTC-session
    * `window(ts, "1 day")` buckets, identical to the batch monitor's
    * `date_format(ts, 'yyyy-MM-dd')` groups.
    */
  def sprtDayStream(events: DataFrame, watermark: String = "1 day"): DataFrame =
    events
      .filter(col("user_id") % 2 === 1)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("x"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("n"), col("x"))

  /** Durable driver-side monitor state: the tiny cumulative
    * (key → (a, b)) map the SPRT/PSI monitors fold lives OUTSIDE the
    * streaming checkpoint, so a restarted query would resume its source
    * offsets while the monitor silently forgot its history — the
    * crash-resume hole the round-11 spec exercises. Persisted as one
    * TSV rewritten atomically (tmp + overwrite-rename) per micro-batch,
    * reloaded on monitor start. The batchId guard makes replayed
    * micro-batches (foreachBatch is at-least-once) idempotent even for
    * ADDITIVE merges like PSI's. `stateDir = None` keeps the
    * pre-round-11 in-memory behavior.
    *
    * All I/O goes through the Hadoop FileSystem/FileContext API, NOT
    * java.nio: the dir resolves from the same `spark.graft.checkpointDir`
    * knob Checkpoints.scala advertises for `hdfs://`/object stores, so
    * the monitor must speak every scheme the checkpoint does (the r11
    * one-knob-two-path-stacks finding). `FileContext.rename(OVERWRITE)`
    * carries the same atomicity contract on HDFS that ATOMIC_MOVE gave
    * on the local FS (it is what Spark's own HDFSMetadataLog uses).
    *
    * The header also records the streaming CHECKPOINT IDENTITY — the
    * query id Spark mints into `<stateDir>/ckpt/metadata` on first start
    * and keeps across restarts. Deleting/relocating the checkpoint mints
    * a new id and replays the source from offset 0 with batch ids
    * restarting at 0, so state keyed to the old id must reset: a stale
    * `lastBatch` would otherwise silently drop every early replayed
    * micro-batch, and a stale map would double-count the replay through
    * PSI's additive merge.
    */
  private[streaming] final class MonitorState(stateDir: Option[String],
      hadoopConf: org.apache.hadoop.conf.Configuration) {
    import org.apache.hadoop.fs.{CreateFlag, FileContext, Options, Path}
    val map = scala.collection.mutable.Map.empty[String, (Long, Long)]
    private var lastBatch = -1L
    private def statePath = stateDir.map(d => new Path(d, "monitor_state.tsv"))

    private def readFully(p: Path): String = {
      val fs = p.getFileSystem(hadoopConf)
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }

    /** Current checkpoint identity, or None while the query has never
      * started (Spark writes `ckpt/metadata` = {"id": "<uuid>"} on first
      * start and preserves it across restarts). Cached once found — the
      * id is immutable for the life of a checkpoint dir.
      */
    private var ckptIdCache: Option[String] = None
    private def checkpointId: Option[String] = {
      if (ckptIdCache.isEmpty) ckptIdCache = stateDir.flatMap { d =>
        val meta = new Path(new Path(d, "ckpt"), "metadata")
        val fs = meta.getFileSystem(hadoopConf)
        if (!fs.exists(meta)) None
        else "\"id\"\\s*:\\s*\"([^\"]+)\"".r
          .findFirstMatchIn(readFully(meta)).map(_.group(1))
      }
      ckptIdCache
    }

    statePath.foreach { p =>
      val fs = p.getFileSystem(hadoopConf)
      if (fs.exists(p)) {
        val lines = readFully(p).split("\n").toSeq.filter(_.nonEmpty)
        val savedId = lines.find(_.startsWith("#ckpt\t"))
          .map(_.stripPrefix("#ckpt\t"))
        // a recorded identity must match the LIVE checkpoint's; a
        // missing metadata file means the checkpoint was deleted and the
        // restarted query will replay from scratch under a fresh id —
        // either way the saved state belongs to a dead lineage. Legacy
        // files without a #ckpt line load as before.
        val lineageAlive = savedId.forall(id => checkpointId.contains(id))
        if (lineageAlive) {
          lines.find(_.startsWith("#batch\t"))
            .foreach(h => lastBatch = h.stripPrefix("#batch\t").toLong)
          lines.filterNot(_.startsWith("#")).foreach { l =>
            val Array(k, a, b) = l.split("\t", 3)
            map(k) = (a.toLong, b.toLong)
          }
        }
      }
    }
    def alreadyApplied(batchId: Long): Boolean = batchId <= lastBatch
    def commit(batchId: Long): Unit = {
      lastBatch = batchId
      statePath.foreach { p =>
        val fc = FileContext.getFileContext(p.toUri, hadoopConf)
        val tmp = new Path(p.getParent, "monitor_state.tsv.tmp")
        val header = checkpointId.map(id => s"#ckpt\t$id").toSeq :+
          s"#batch\t$lastBatch"
        val body = (header ++
          map.toSeq.sortBy(_._1).map { case (k, (a, b)) => s"$k\t$a\t$b" })
          .mkString("", "\n", "\n")
        val out = fc.create(tmp,
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        try out.write(body.getBytes("UTF-8")) finally out.close()
        // publish tmp → live. FileContext.rename(OVERWRITE) is the
        // HDFSMetadataLog contract and is atomic on HDFS, but the LOCAL
        // AbstractFileSystem implements OVERWRITE as delete-dest-then-
        // rename — a crash in that window would lose monitor_state.tsv
        // entirely while the streaming checkpoint survives, silently
        // resetting monitor history (the exact hole this file closes).
        // For file:// (and scheme-less local) paths use the OS-level
        // java.nio ATOMIC_MOVE instead; every other scheme keeps the
        // Hadoop contract.
        val scheme = Option(p.toUri.getScheme)
        if (scheme.forall(_ == "file")) {
          import java.nio.file.{Files, Paths, StandardCopyOption}
          Files.move(Paths.get(tmp.toUri.getPath), Paths.get(p.toUri.getPath),
            StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        } else fc.rename(tmp, p, Options.Rename.OVERWRITE)
      }
    }
  }

  /** Monitor durability wiring: an explicit `stateDir` wins; otherwise
    * the session's `spark.graft.checkpointDir` (the same knob that
    * upgrades batch lineage cuts to reliable checkpoints) gives each
    * monitor a `<base>/streaming/<name>` home. When a dir resolves, the
    * streaming query ALSO gets its checkpointLocation under it, so
    * source offsets, window state, and the driver-side monitor map all
    * restart together. No dir (the pre-round-11 default) = in-memory
    * monitor + sink-managed checkpoint, the throwaway-session shape.
    */
  private def resolveMonitorDir(spark: SparkSession, stateDir: Option[String],
                                name: String): Option[String] =
    stateDir.orElse(spark.conf.getOption(graft.plans.Checkpoints.DirConf)
      .map(b => s"$b/streaming/$name"))

  private def withCheckpoint(w: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
                             dir: Option[String]): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    dir.map(d => w.option("checkpointLocation", s"$d/ckpt")).getOrElse(w)

  /** q341's streaming twin, wired: finalized day rows accumulate in the
    * (durable, batch-idempotent) [[MonitorState]] map — one
    * (day → n, x) entry per calendar day — and every update refolds the
    * SPRT decision table through the SAME finisher the batch monitor
    * uses ([[graft.operators.StatisticalAudits.sprtFromDays]]) — the q57/q101
    * batch==stream parity contract as code sharing, proven row-for-row
    * in IngestStreamSpec; crash-resume proven by the restart spec.
    */
  def startSprtMonitor(events: DataFrame, watermark: String = "1 day",
                       stateDir: Option[String] = None)
                      (onDecision: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val dir = resolveMonitorDir(events.sparkSession, stateDir, "sprt_monitor")
    val st = new MonitorState(dir, events.sparkSession.sessionState.newHadoopConf())
    withCheckpoint(sprtDayStream(events, watermark)
      .writeStream.outputMode("append"), dir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        // ≤ a-few-rows collect: append mode emits only newly-finalized
        // calendar days, never the event stream
        if (!st.alreadyApplied(batchId)) {
          batch.collect().foreach(r =>
            st.map(r.getString(0)) = (r.getLong(1), r.getLong(2)))
          st.commit(batchId)
        }
        if (st.map.nonEmpty)
          onDecision(graft.operators.StatisticalAudits.sprtFromDays(
            st.map.toSeq.map { case (d, (n, x)) => (d, n, x) }
              .toDF("day", "n", "x")))
        ()
      }.start()
  }

  /** q350's streaming twin: the embedding stream's PSI drift monitor.
    * Each micro-batch runs the DISTRIBUTED bucket-cell aggregation
    * ([[graft.operators.StatisticalAudits.psiBucketCells]] — posexplode +
    * broadcast sign grid + two keyed aggs, nothing wider than
    * (vec_id, long) shuffles); only the ≤2^projs cell histogram reaches
    * the driver, merges into the cumulative cell map, and refolds
    * through the SAME PSI finisher the batch monitor uses
    * ([[graft.operators.StatisticalAudits.psiFromCells]]). State is 64 rows
    * forever — what a daily vector-drift monitor can afford at any
    * corpus rate.
    */
  def startPsiMonitor(embeddings: DataFrame, projs: Int = 6,
                      stateDir: Option[String] = None)
                     (onUpdate: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val dir = resolveMonitorDir(embeddings.sparkSession, stateDir, "psi_monitor")
    val st = new MonitorState(dir, embeddings.sparkSession.sessionState.newHadoopConf())
    withCheckpoint(embeddings
      .writeStream.outputMode("append"), dir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        // PSI's merge is ADDITIVE, so the MonitorState batchId guard is
        // load-bearing here: a replayed micro-batch after a crash would
        // otherwise double-count its cells
        if (!st.alreadyApplied(batchId)) {
          graft.operators.StatisticalAudits.psiBucketCells(batch, projs)
            .collect().foreach { r =>
              val k = r.getLong(0).toString
              val (pr, pc) = st.map.getOrElse(k, (0L, 0L))
              st.map(k) = (pr + r.getLong(1), pc + r.getLong(2))
            }
          st.commit(batchId)
        }
        if (st.map.nonEmpty)
          onUpdate(graft.operators.StatisticalAudits.psiFromCells(
            st.map.toSeq.map { case (b, (nr, nc)) => (b.toLong, nr, nc) }
              .toDF("bucket", "n_ref", "n_cur")))
        ()
      }.start()
  }
}

/** The [[IngestStream.cappedBySource]] processor: one ValueState[Long]
  * per source key. Kept top-level (not anonymous) so the class is
  * serialization-stable across query restarts.
  */
class SourceCapProcessor(cap: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, (String, Long), (String, Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
  @transient private var admitted: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    admitted = getHandle.getValueState[Long]("admitted",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[(String, Long)],
                               timerValues: TimerValues): Iterator[(String, Long, Long)] = {
    var c = if (admitted.exists()) admitted.get() else 0L
    // pin within-batch admission order, and materialize the output
    // BEFORE the state update so the counter write is batch-atomic
    val out = rows.toVector.sortBy(_._2).flatMap { case (src, id) =>
      if (c < cap) { c += 1; Some((src, id, c)) } else None
    }
    admitted.update(c)
    out.iterator
  }
}

/** Batch-parity oracle surface for the streaming layer: the SAME
  * `IngestStream.windowedUsage` plan (tumbling event-time window over a
  * watermarked column) run as a batch DataFrame — Structured Streaming's
  * unified model means the plan is identical in both modes, so a DuckDB
  * hash-match here certifies the streaming report's window arithmetic.
  * Spark's `window(ts, "1 day")` aligns buckets to the epoch in the
  * session timezone (UTC) — i.e. calendar UTC days, which is exactly
  * DuckDB `date_trunc('day', ts)`.
  */
object StreamParity extends graft.QueryModule {
  import org.apache.spark.sql.functions._

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q57_windowed_usage" -> ((s, d) =>
      IngestStream.windowedUsage(graft.Tables(s, d).events, "1 day", "1 day")
        .select(col("window_start"), col("window_end"), col("event_type"),
                col("n_events"), round(col("total_value"), 2).as("total_value"))
        .orderBy("window_start", "event_type")),
    // documents carry no event time; the wiring plants a deterministic
    // arrival clock (one doc per minute from a fixed origin) so the
    // hour windows hold 60 docs each and the oracle can rebuild them
    "q101_windowed_quality" -> ((s, d) =>
      IngestStream.windowedQuality(
        graft.Tables(s, d).documents.withColumn("ingest_ts",
          expr("timestampadd(MINUTE, doc_id, TIMESTAMP'2026-01-01 00:00:00')")))
        .orderBy("window_start", "lang")),
    "q132_error_attribution" -> ((s, d) =>
      IngestStream.errorAttribution(graft.Tables(s, d).events)),
    "q200_session_window" -> ((s, d) =>
      IngestStream.sessionWindowUsage(graft.Tables(s, d).events)
        .select(col("session_start"), col("session_end"), col("user_id"),
                col("n_events"), round(col("total_value"), 2).as("total_value"))
        .orderBy("session_start", "user_id")),
    // transformWithState in BATCH mode: the processor runs over one
    // all-data batch, so admission ≡ per-source doc_id rank ≤ cap —
    // which is exactly what the oracle checks. The streaming spec
    // (IngestStreamSpec) proves the cross-batch counter the oracle
    // can't see.
    "q217_source_cap_stream" -> ((s, d) => {
      import s.implicits._
      IngestStream.cappedBySource(
        graft.Tables(s, d).documents.select(col("source"), col("doc_id"))
          .as[(String, Long)], cap = 15L)
        .orderBy("source", "doc_id")
    }),
  )

  override def oracles: Map[String, String] = Map(
    "q217_source_cap_stream" ->
      """WITH r AS (SELECT source, doc_id,
        |             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |           FROM documents)
        |SELECT source, doc_id, rn::BIGINT AS n_admitted
        |FROM r WHERE rn <= 15 ORDER BY source, doc_id""".stripMargin,
    // gap sessionization replay: a session breaks only when the
    // inter-event gap EXCEEDS the 30-minute window — Spark's
    // session_window merges an event landing exactly at last+gap
    // (spec-pinned); window end = last event + gap
    "q200_session_window" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
        |f AS (SELECT user_id, us, value,
        |             CASE WHEN lag(us) OVER w IS NULL
        |                    OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |g AS (SELECT user_id, us, value,
        |             sum(brk) OVER (PARTITION BY user_id ORDER BY us
        |                            ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM f),
        |s AS (SELECT user_id, min(us) AS start_us, max(us) AS end_us,
        |             count(*)::BIGINT AS n_events, round(sum(value), 2) AS total_value
        |      FROM g GROUP BY user_id, sid)
        |SELECT make_timestamp(start_us) AS session_start,
        |       make_timestamp(end_us + 1800000000) AS session_end,
        |       user_id, n_events, total_value
        |FROM s ORDER BY session_start, user_id""".stripMargin,
    // interval bounds compared in µs (epoch_ns // 1000 mirrors
    // Tables.events's ns→µs truncation); integer counts only
    "q132_error_attribution" ->
      """WITH e AS (
        |  SELECT event_id AS err_id, user_id, epoch_ns(ts) // 1000 AS err_us
        |  FROM events WHERE event_type = 'error'),
        |a AS (
        |  SELECT user_id, event_type AS action_type, epoch_ns(ts) // 1000 AS act_us
        |  FROM events WHERE event_type <> 'error')
        |SELECT err_id, e.user_id, count(*)::BIGINT AS n_prior,
        |       count(DISTINCT action_type)::BIGINT AS n_types
        |FROM e JOIN a ON e.user_id = a.user_id
        |  AND a.act_us >= e.err_us - 300000000 AND a.act_us < e.err_us
        |GROUP BY 1, 2 ORDER BY err_id""".stripMargin,
    "q57_windowed_usage" ->
      """SELECT date_trunc('day', ts)::TIMESTAMP AS window_start,
        |       date_trunc('day', ts)::TIMESTAMP + INTERVAL 1 DAY AS window_end,
        |       event_type, count(*) AS n_events,
        |       round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin,
    "q101_windowed_quality" ->
      """WITH d AS (
        |  SELECT lang, n_chars,
        |         TIMESTAMP '2026-01-01 00:00:00' + doc_id * INTERVAL 1 MINUTE AS ts
        |  FROM documents)
        |SELECT date_trunc('hour', ts)::TIMESTAMP AS window_start,
        |       date_trunc('hour', ts)::TIMESTAMP + INTERVAL 1 HOUR AS window_end,
        |       lang, count(*)::BIGINT AS n_docs,
        |       coalesce(sum(CASE WHEN n_chars < 200 THEN 1 END), 0)::BIGINT AS n_low,
        |       round(coalesce(sum(CASE WHEN n_chars < 200 THEN 1 END), 0) / count(*)::DOUBLE, 4) AS low_frac,
        |       round(sum(n_chars) / count(*)::DOUBLE, 4) AS avg_chars
        |FROM d GROUP BY 1, 2, 3 ORDER BY window_start, lang""".stripMargin,
  )
}
