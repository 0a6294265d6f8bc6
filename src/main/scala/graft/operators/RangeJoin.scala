package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Range (interval) join — match point rows into [start, end] intervals
  * of the same key. Spark's built-in answer to `ts BETWEEN start AND
  * end` join conditions is a broadcast-nested-loop or a sort-merge on
  * the key with a post-filter, both of which degrade when keys carry
  * many intervals; the scale path is TIME BUCKETING: slice time into
  * fixed buckets, replicate each interval into every bucket it spans,
  * put each point into its single bucket, and equi-join on
  * (key, bucket) before the exact range filter. Each (point, interval)
  * pair is examined exactly once — points live in exactly one bucket —
  * so no dedup pass is needed, and the join is a plain shuffled
  * equi-join Catalyst can plan and AQE can skew-split.
  */
object RangeJoin extends QueryModule {

  /** points ⋈ intervals on `keyCol` with tsCol ∈ [startCol, endCol]
    * (inclusive both ends). `bucketUs` should approximate the typical
    * interval length: shorter wastes replication, longer wastes
    * post-filtering.
    */
  def bucketedRangeJoin(points: DataFrame, intervals: DataFrame, keyCol: String,
                        tsCol: String, startCol: String, endCol: String,
                        bucketUs: Long = 3600L * 1000000L): DataFrame = {
    val p = points.withColumn("__bucket", expr(s"unix_micros($tsCol) div $bucketUs"))
    val iv = intervals.withColumn("__bucket",
      explode(sequence(expr(s"unix_micros($startCol) div $bucketUs"),
                       expr(s"unix_micros($endCol) div $bucketUs"))))
    p.join(iv, Seq(keyCol, "__bucket"))
      .filter(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("__bucket")
  }

  /** Error events range-joined into the user's ACTIVITY sessions (gap
    * sessionization over non-error events): per-session error counts,
    * sessions with none kept at 0 via a left join of the interval side
    * against the matched rollup.
    */
  def errorsPerSession(events: DataFrame, gapSeconds: Long = 1800L): DataFrame = {
    val nonErr = events.filter(col("event_type") =!= "error")
    val byTs = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val cum = byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = gapSeconds * 1000000L
    val sessions = nonErr
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byTs))
      .withColumn("new_session",
        when(col("prev_us").isNull || unix_micros(col("ts")) - col("prev_us") > gapUs, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(cum))
      .groupBy("user_id", "session_id")
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("err_ts"))
    val matched = bucketedRangeJoin(errors, sessions, "user_id",
        "err_ts", "session_start", "session_end")
      .groupBy("user_id", "session_id").agg(count(lit(1)).as("n_err"))
    sessions.join(matched, Seq("user_id", "session_id"), "left")
      .select(col("user_id"), col("session_id"),
              col("session_start"), col("session_end"),
              coalesce(col("n_err"), lit(0L)).as("n_errors"))
      .orderBy("user_id", "session_id")
  }

  /** q194: marketing-style touch attribution — for every purchase, the
    * FIRST and LAST qualifying touch (non-purchase, non-error event of
    * the same user) in the hour before it, reported as a
    * (first_touch, last_touch) matrix.
    *
    * The lookback is the [[bucketedRangeJoin]] scale path (each touch
    * lands in ONE bucket, purchases replicate into the ≤2 buckets their
    * window spans), and first/last are one struct-min/max aggregation —
    * (us, event_id) keys make both ends unique and deterministic.
    */
  def touchAttribution(events: DataFrame, lookbackSec: Long = 3600L): DataFrame = {
    val touches = events
      .filter(!col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        expr(s"timestampadd(SECOND, -$lookbackSec, ts)").as("w_start"),
        // strict "before the purchase": inclusive end at p_ts − 1 µs
        expr("timestampadd(MICROSECOND, -1, ts)").as("w_end"))
    val joined = bucketedRangeJoin(touches, purchases, "user_id",
        "ts", "w_start", "w_end", bucketUs = lookbackSec * 1000000L)
      .select(col("p_id"),
        struct(expr("unix_micros(ts)").as("us"), col("event_id"),
          col("event_type")).as("touch"))
    joined.groupBy("p_id")
      .agg(min("touch").as("ft"), max("touch").as("lt"))
      .groupBy(col("ft.event_type").as("first_touch"),
        col("lt.event_type").as("last_touch"))
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy("first_touch", "last_touch")
  }

  /** q281: POSITION-BASED (U-shaped) multi-touch attribution — the
    * credit model between q194's first/last extremes: each purchase's
    * hour-lookback journey gives 40% to the first touch, 40% to the
    * last, and splits 20% across the middles (1 touch → 100%,
    * 2 → 50/50 — the standard degenerate cases). Credits are integer
    * ppm (the middle share is 200000 div (k−2), floor — documented,
    * engine-identical), summed per touched event type, so the output is
    * the channel-credit ledger marketers actually read.
    *
    * Scale: same bucketed lookback join as q194 (touches land in one
    * bucket, purchases replicate into ≤2); position and journey size
    * come from ONE window pass partitioned by purchase; the ledger is a
    * types-sized aggregate.
    */
  def positionalAttribution(events: DataFrame, lookbackSec: Long = 3600L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val touches = events
      .filter(!col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        expr(s"timestampadd(SECOND, -$lookbackSec, ts)").as("w_start"),
        expr("timestampadd(MICROSECOND, -1, ts)").as("w_end"))
    val joined = bucketedRangeJoin(touches, purchases, "user_id",
        "ts", "w_start", "w_end", bucketUs = lookbackSec * 1000000L)
      .select(col("p_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"), col("event_id"))
    val w = Window.partitionBy("p_id").orderBy(col("us"), col("event_id"))
    joined
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("k", count(lit(1)).over(Window.partitionBy("p_id")))
      .withColumn("credit_ppm", expr(
        """CASE WHEN k = 1 THEN 1000000
          |     WHEN k = 2 THEN 500000
          |     WHEN rn = 1 OR rn = k THEN 400000
          |     ELSE 200000 div (k - 2) END""".stripMargin))
      .groupBy("event_type")
      .agg(sum("credit_ppm").as("total_credit_ppm"),
        sum(when(col("rn") === 1L, 1L).otherwise(0L)).as("n_first"),
        sum(when(col("rn") === col("k"), 1L).otherwise(0L)).as("n_last"),
        sum(when(col("rn") =!= 1L && col("rn") =!= col("k"), 1L).otherwise(0L))
          .as("n_middle"))
      .orderBy("event_type")
  }

  /** q307: Markov-chain removal-effect attribution (Anderl et al. 2016)
    * — the data-driven credit model above q194's first/last-touch and
    * q281's positional heuristics. Per-user-day touch sequences become
    * a first-order chain START → channels → CONV/NULL; each channel's
    * credit is its REMOVAL EFFECT: how much absorption probability the
    * chain loses when that channel's inbound transitions are redirected
    * to NULL — removing a channel can never help, so effects are
    * non-negative by construction.
    *
    * Absorption runs as `steps` unrolled value-iteration rounds
    * (k-step absorption probability) on the BOUNDED
    * (variant × state × state) transition matrix in integer ppb: each
    * round sums exact cnt·v products and closes with one floor
    * division by the row's out-degree — order-independent, identical
    * in any engine. Mirrors the q143/q212 fixed-round doctrine.
    *
    * Scale shape: one events pass builds the per-day sequences
    * (user-day window); everything after — variants, matrix, the six
    * iteration rounds, shares — runs on a frame whose size is set by
    * |channels|², not the corpus.
    */
  def markovAttribution(events: DataFrame, steps: Int = 6): DataFrame = {
    val spark = events.sparkSession
    val base = events.filter(col("event_type") =!= "error")
      .select(col("user_id"), to_date(col("ts")).as("day"), col("ts"),
        col("event_id"), col("event_type"))
    val conv = base.filter(col("event_type") === "purchase")
      .select("user_id", "day").distinct()
    val touches = base.filter(col("event_type") =!= "purchase")
    val w = Window.partitionBy("user_id", "day").orderBy(col("ts"), col("event_id"))
    val seq = touches.withColumn("rn", row_number().over(w))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
    val withConv = seq.join(conv.withColumn("is_conv", lit(true)),
        Seq("user_id", "day"), "left")
      .na.fill(false, Seq("is_conv"))
    val mid = withConv.select(col("event_type").as("src"),
      coalesce(col("nxt"),
        when(col("is_conv"), lit("CONV")).otherwise(lit("NULL"))).as("dst"))
    val starts = withConv.filter(col("rn") === 1)
      .select(lit("START").as("src"), col("event_type").as("dst"))
    val direct = conv
      .join(touches.select("user_id", "day").distinct(), Seq("user_id", "day"), "left_anti")
      .select(lit("START").as("src"), lit("CONV").as("dst"))
    val edges0 = mid.unionByName(starts).unionByName(direct)
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
    val variants = touches.select(col("event_type").as("variant")).distinct()
      .unionByName(spark.range(1).select(lit("FULL").as("variant")))
    // the variant-expanded edge frame is MODEL-sized ((|types|+2)² per
    // variant) but its lineage is the full corpus pipeline — without a
    // cut, every value-iteration round (and the outs/START consumers)
    // re-derives the per-user-day windows from scratch: measured ~10 s
    // at sf0.1, ~3 s with the cut. One corpus pass, then 6 rounds of
    // bounded-frame algebra.
    val eds = graft.plans.Checkpoints.cut(
      edges0.crossJoin(broadcast(variants))
        .filter(col("src") =!= col("variant"))
        .select(col("variant"), col("src"),
          when(col("dst") === col("variant"), lit("NULL")).otherwise(col("dst")).as("dst"),
          col("cnt"))
        .groupBy("variant", "src", "dst").agg(sum("cnt").as("cnt")))
    // NOTE (r13 optimization round): collapsing the per-round
    // join+aggregate into higher-order-function algebra over a
    // one-row-per-variant adjacency array was tried and REVERTED —
    // CollapseProject inlines round k−1's map expression into every
    // vm[e.dst] access of round k's lambdas (Catalyst does no CSE inside
    // lambda bodies), so evaluation cost grows exponentially in `steps`
    // (measured 4.1 s -> 13.9 s at sf0.1). The broadcast iteration below
    // keeps each round's frame materialized by the exchange.
    val outs = graft.plans.Checkpoints.cut(
      eds.groupBy("variant", "src").agg(sum("cnt").as("o")))
    var v = outs.select(col("variant"), col("src").as("state"), lit(0L).as("v"))
    for (_ <- 1 to steps) {
      v = eds
        .join(broadcast(v.select(col("variant"), col("state").as("dst"),
          col("v").as("vt"))), Seq("variant", "dst"), "left")
        .select(col("variant"), col("src"), (col("cnt") *
          when(col("dst") === "CONV", lit(1000000000L))
            .when(col("dst") === "NULL", lit(0L))
            .otherwise(coalesce(col("vt"), lit(0L)))).as("num"))
        .groupBy("variant", "src").agg(sum("num").as("num"))
        .join(broadcast(outs), Seq("variant", "src"))
        .select(col("variant"), col("src").as("state"), expr("num div o").as("v"))
    }
    val p = v.filter(col("state") === "START").select(col("variant"), col("v").as("p_ppb"))
    val pFull = p.filter(col("variant") === "FULL")
      .select(col("p_ppb").as("p_full_ppb"))
    val res = p.filter(col("variant") =!= "FULL").crossJoin(broadcast(pFull))
      .withColumn("removal_effect_ppb", col("p_full_ppb") - col("p_ppb"))
    val tot = res.agg(sum("removal_effect_ppb").as("re_tot"))
    res.crossJoin(broadcast(tot))
      .select(col("variant").as("channel"), col("p_full_ppb"),
        col("p_ppb").as("p_removed_ppb"), col("removal_effect_ppb"),
        when(col("re_tot") <= 0, lit(null).cast("long"))
          .otherwise(expr("removal_effect_ppb * 1000000L div re_tot")).as("share_ppm"))
      .orderBy("channel")
  }

  /** Unrolled k-step oracle for q307 — same integer ppb arithmetic. */
  private[operators] def markovSql(steps: Int): String = {
    val rounds = (1 to steps).map { i =>
      val prev = if (i == 1) "v0" else s"v${i - 1}"
      s"""v$i AS MATERIALIZED (
         |  SELECT e.variant, e.src AS state,
         |         (sum(e.cnt * CASE WHEN e.dst = 'CONV' THEN 1000000000
         |                           WHEN e.dst = 'NULL' THEN 0
         |                           ELSE coalesce(p.v, 0) END) // o.o)::BIGINT AS v
         |  FROM eds e JOIN outs o ON o.variant = e.variant AND o.src = e.src
         |  LEFT JOIN $prev p ON p.variant = e.variant AND p.state = e.dst
         |  GROUP BY e.variant, e.src, o.o)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (SELECT user_id, ts::DATE AS day, ts, event_id, event_type
       |              FROM events WHERE event_type <> 'error'),
       |conv AS MATERIALIZED (SELECT DISTINCT user_id, day FROM base WHERE event_type = 'purchase'),
       |touches AS MATERIALIZED (SELECT * FROM base WHERE event_type <> 'purchase'),
       |seq AS (SELECT user_id, day, event_type,
       |               row_number() OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS rn,
       |               lead(event_type) OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS nxt
       |        FROM touches),
       |wc AS MATERIALIZED (SELECT s.*, (c.user_id IS NOT NULL) AS is_conv
       |      FROM seq s LEFT JOIN conv c ON s.user_id = c.user_id AND s.day = c.day),
       |mid AS (SELECT event_type AS src,
       |               coalesce(nxt, CASE WHEN is_conv THEN 'CONV' ELSE 'NULL' END) AS dst
       |        FROM wc),
       |starts AS (SELECT 'START' AS src, event_type AS dst FROM wc WHERE rn = 1),
       |direct AS (SELECT 'START' AS src, 'CONV' AS dst FROM conv c
       |           WHERE NOT EXISTS (SELECT 1 FROM touches t
       |                             WHERE t.user_id = c.user_id AND t.day = c.day)),
       |edges0 AS (SELECT src, dst, count(*)::BIGINT AS cnt
       |           FROM (SELECT * FROM mid UNION ALL SELECT * FROM starts
       |                 UNION ALL SELECT * FROM direct)
       |           GROUP BY 1, 2),
       |variants AS (SELECT DISTINCT event_type AS variant FROM touches
       |             UNION ALL SELECT 'FULL'),
       |eds AS MATERIALIZED (
       |  SELECT variant, src, CASE WHEN dst = variant THEN 'NULL' ELSE dst END AS dst,
       |         sum(cnt)::BIGINT AS cnt
       |  FROM edges0, variants WHERE src <> variant GROUP BY 1, 2, 3),
       |outs AS MATERIALIZED (SELECT variant, src, sum(cnt)::BIGINT AS o FROM eds GROUP BY 1, 2),
       |v0 AS (SELECT variant, src AS state, 0::BIGINT AS v FROM outs),
       |$rounds,
       |p AS (SELECT variant, v AS p_ppb FROM v$steps WHERE state = 'START'),
       |pf AS (SELECT p_ppb AS p_full_ppb FROM p WHERE variant = 'FULL'),
       |res AS (SELECT variant AS channel, p_full_ppb, p_ppb AS p_removed_ppb,
       |               p_full_ppb - p_ppb AS removal_effect_ppb
       |        FROM p, pf WHERE variant <> 'FULL'),
       |tot AS (SELECT sum(removal_effect_ppb)::BIGINT AS re_tot FROM res)
       |SELECT channel, p_full_ppb, p_removed_ppb, removal_effect_ppb,
       |       CASE WHEN re_tot <= 0 THEN NULL
       |            ELSE (removal_effect_ppb * 1000000 // re_tot) END::BIGINT AS share_ppm
       |FROM res, tot ORDER BY channel""".stripMargin
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q307_markov_attribution" -> ((s, d) => markovAttribution(Tables(s, d).events)),
    "q281_positional_attribution" -> ((s, d) => positionalAttribution(Tables(s, d).events)),
    "q61_session_errors" -> ((s, d) => errorsPerSession(Tables(s, d).events)),
    "q194_attribution"   -> ((s, d) => touchAttribution(Tables(s, d).events)),
  )

  override def oracles: Map[String, String] = Map(
    "q307_markov_attribution" -> markovSql(6),
    "q281_positional_attribution" ->
      """WITH t AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events WHERE event_type NOT IN ('purchase', 'error')),
        |p AS (
        |  SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT p.p_id, t.us, t.event_id, t.event_type
        |  FROM p JOIN t ON p.user_id = t.user_id
        |   AND t.us >= p.p_us - 3600000000 AND t.us < p.p_us),
        |r AS (
        |  SELECT p_id, event_type,
        |         row_number() OVER (PARTITION BY p_id ORDER BY us, event_id) AS rn,
        |         count(*) OVER (PARTITION BY p_id) AS k
        |  FROM j),
        |c AS (
        |  SELECT event_type, rn, k,
        |         CASE WHEN k = 1 THEN 1000000
        |              WHEN k = 2 THEN 500000
        |              WHEN rn = 1 OR rn = k THEN 400000
        |              ELSE 200000 // (k - 2) END AS credit_ppm
        |  FROM r)
        |SELECT event_type, sum(credit_ppm)::BIGINT AS total_credit_ppm,
        |       sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_first,
        |       sum(CASE WHEN rn = k THEN 1 ELSE 0 END)::BIGINT AS n_last,
        |       sum(CASE WHEN rn <> 1 AND rn <> k THEN 1 ELSE 0 END)::BIGINT AS n_middle
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q194_attribution" ->
      """WITH t AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events WHERE event_type NOT IN ('purchase', 'error')),
        |p AS (
        |  SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT p.p_id, t.us, t.event_id, t.event_type
        |  FROM p JOIN t ON p.user_id = t.user_id
        |   AND t.us >= p.p_us - 3600000000 AND t.us < p.p_us),
        |f AS (SELECT p_id, event_type AS ft FROM (
        |        SELECT p_id, event_type,
        |               row_number() OVER (PARTITION BY p_id ORDER BY us, event_id) AS rn
        |        FROM j) WHERE rn = 1),
        |l AS (SELECT p_id, event_type AS lt FROM (
        |        SELECT p_id, event_type,
        |               row_number() OVER (PARTITION BY p_id ORDER BY us DESC, event_id DESC) AS rn
        |        FROM j) WHERE rn = 1)
        |SELECT f.ft AS first_touch, l.lt AS last_touch, count(*)::BIGINT AS n_purchases
        |FROM f JOIN l USING (p_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q61_session_errors" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_ns(ts) // 1000 - epoch_ns(lag(ts) OVER w) // 1000 > 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events WHERE event_type <> 'error'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (
        |  SELECT user_id, ts,
        |         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged),
        |sessions AS (
        |  SELECT user_id, session_id, min(ts) AS s_start, max(ts) AS s_end
        |  FROM numbered GROUP BY 1, 2),
        |err AS (SELECT user_id, ts FROM events WHERE event_type = 'error')
        |SELECT s.user_id, s.session_id,
        |       s.s_start::TIMESTAMP AS session_start, s.s_end::TIMESTAMP AS session_end,
        |       CAST(count(e.ts) AS BIGINT) AS n_errors
        |FROM sessions s LEFT JOIN err e
        |  ON e.user_id = s.user_id
        |  AND epoch_ns(e.ts) // 1000 BETWEEN epoch_ns(s.s_start) // 1000 AND epoch_ns(s.s_end) // 1000
        |GROUP BY s.user_id, s.session_id, s.s_start, s.s_end
        |ORDER BY s.user_id, s.session_id""".stripMargin,
  )
}
