package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical audits over the corpus and its raters: bootstrap
  * intervals, rater reliability, hypothesis tests, drift and
  * distribution audits — each the missing rung of a ladder other
  * modules built:
  *   - q333 Poisson bootstrap (the REAL bootstrap next to q152's
  *     half-sample approximation; per-source CIs),
  *   - q334 Dawid–Skene rater reliability (the model q297/q318 measure
  *     agreement FOR: who to trust, per rater),
  *   - q335 confident-learning label noise (Northcutt et al.: how much
  *     of the lang column is wrong),
  *   - q336 embedding isotropy (is the vector space collapsed along a
  *     common direction — the health check under every ANN/semantic op),
  *   - q337 McNemar's per-item paired test (the low-variance complement
  *     of q329's fold-level t),
  *   - q338 Cochran's Q (k-rater marginal homogeneity),
  *   - q339 Heaps'-law vocabulary growth (nested md5 samples, one pass),
  *   - q340 Rényi token efficiency (the tokenizer-health metric),
  *   - q341 Wald SPRT sequential A/B monitor,
  *   - q342 cross-source quantile normalization (score batch effects),
  *   - q343 Simpson's-paradox slice audit,
  *   - q344 Benjamini–Hochberg FDR over the per-source drift panel,
  *   - q345 diagonal-Mahalanobis OOD audit (exact integer z²),
  *   - q346 padding-waste batching report (exact E[max of B]),
  *   - q347 empirical-Bayes rate shrinkage (winner's-curse guard),
  *   - q348 post-stratified treatment effect,
  *   - q349 minimum-detectable-effect power gate,
  *   - q350 embedding-space PSI drift (sign-projection buckets).
  */
object StatisticalAudits extends QueryModule {

  /** q333: POISSON-BOOTSTRAP confidence intervals for per-source mean
    * document length — THE scalable bootstrap (Chamandy et al., Google
    * 2012). Classical resampling draws n rows with replacement per
    * replicate (a global pass per replicate); the Poisson approximation
    * gives every (row, replicate) an independent Poisson(1) weight, so
    * all `reps` replicates ride ONE corpus scan with map-side partial
    * aggregation and the replicate frame is |sources|×reps forever.
    * Upgrades q152's half-sample CI two ways: Poisson(1) weights match
    * the bootstrap's variance exactly (a half-sample mean has ~2× the
    * bootstrap replicate variance, so q152's band is directionally
    * right but not calibrated), and the CI here is per SOURCE, the
    * grain curation decisions are made at.
    *
    * Determinism: the weight is an INTEGER comparison — the row's
    * md5-uniform 60-bit value against ⌊CDF_Poisson(1)(k)·2⁶⁰⌋ literals
    * (k = 0..7; the 8-cap truncates ~1e-6 of mass identically on both
    * engines) — so no float enters until the final reporting division.
    * Replicate means are micro-unit floor divisions; the CI bounds are
    * the 2nd-smallest / 2nd-largest replicate means (≈ the 3rd/97th
    * percentile at reps = 32), picked by rank, not interpolation, on
    * the bounded |sources|×reps frame.
    */
  def poissonBootstrap(documents: DataFrame, reps: Int = 32): DataFrame = {
    // ⌊CDF_Poisson(1)(k) · 2^60⌋ for k = 0..7
    val thresholds = Seq(424136118829305344L, 848272237658610688L,
      1060340297073263360L, 1131029650211480960L, 1148701988496035328L,
      1152236456152946176L, 1152825534095764608L, 1152909688087595776L)
    val h = conv(substring(md5(concat(lit("boot|"), col("r"), lit("|"),
      col("doc_id"))), 1, 15), 16, 10).cast("long")
    val w = thresholds.map(t => when(h >= t, 1L).otherwise(0L)).reduce(_ + _)
    val repMeans = documents.select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("r", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("w", w)
      .groupBy("source", "r")
      .agg(sum("w").as("neff"), sum(expr("w * n_chars")).as("ws"))
      .filter(col("neff") > 0)
      .withColumn("m", expr("cast(ws as decimal(38,0)) * 1000000 div neff").cast("long"))
    // bounded frame: |sources| × reps rows — the rank windows are cheap
    val ra = Window.partitionBy("source").orderBy(col("m"), col("r"))
    val rd = Window.partitionBy("source").orderBy(col("m").desc, col("r").desc)
    val ci = repMeans
      .withColumn("ra", row_number().over(ra))
      .withColumn("rd", row_number().over(rd))
      .groupBy("source")
      .agg(count(lit(1)).as("n_reps"),
        max(when(col("ra") === 2, col("m"))).as("lo_micro"),
        max(when(col("rd") === 2, col("m"))).as("hi_micro"))
    val pt = documents.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr("cast(sum(n_chars) as decimal(38,0)) * 1000000 div count(*)")
          .cast("long").as("mean_micro"))
    pt.join(ci, "source")
      .select(col("source"), col("n_docs"), col("mean_micro"),
        col("n_reps"), col("lo_micro"), col("hi_micro"))
      .orderBy("source")
  }

  /** The q297 rater panel as separate binary votes: the stored lang
    * label, the stopword-argmax heuristic, the e-letter-rate gate.
    */
  private def votes(documents: DataFrame): DataFrame =
    documents.select(
      (col("lang") === "en").cast("long").as("v1"),
      Modeling.stopwordArgmaxEn.cast("long").as("v2"),
      Modeling.eRateEn.cast("long").as("v3"))

  /** One Dawid–Skene M-step over the vote-pattern frame: prevalence π
    * and per-rater sensitivity/specificity from the soft labels `q`
    * (all integer micro-units; divisions floor, guarded null on the
    * degenerate all-one-class corpus).
    */
  private def dsModel(pat: DataFrame): DataFrame =
    pat.agg(
      sum("cnt").as("n"),
      sum(expr("cast(cnt as decimal(38,0)) * q")).as("sq"),
      sum(expr("cast(cnt as decimal(38,0)) * (1000000 - q)")).as("snq"),
      sum(expr("cast(cnt as decimal(38,0)) * q * v1")).as("a1"),
      sum(expr("cast(cnt as decimal(38,0)) * q * v2")).as("a2"),
      sum(expr("cast(cnt as decimal(38,0)) * q * v3")).as("a3"),
      sum(expr("cast(cnt as decimal(38,0)) * (1000000 - q) * (1 - v1)")).as("b1"),
      sum(expr("cast(cnt as decimal(38,0)) * (1000000 - q) * (1 - v2)")).as("b2"),
      sum(expr("cast(cnt as decimal(38,0)) * (1000000 - q) * (1 - v3)")).as("b3"))
    .select(col("n"),
      expr("sq div n").as("pi"),
      expr("case when sq > 0 then a1 * 1000000 div sq end").as("se1"),
      expr("case when sq > 0 then a2 * 1000000 div sq end").as("se2"),
      expr("case when sq > 0 then a3 * 1000000 div sq end").as("se3"),
      expr("case when snq > 0 then b1 * 1000000 div snq end").as("sp1"),
      expr("case when snq > 0 then b2 * 1000000 div snq end").as("sp2"),
      expr("case when snq > 0 then b3 * 1000000 div snq end").as("sp3"))

  /** One Dawid–Skene E-step: per vote pattern, the posterior of "truly
    * English" under the current model, by Bayes in exact decimal —
    * a = π·∏ᵣ P(voteᵣ | en), b = (1−π)·∏ᵣ P(voteᵣ | ¬en), q' =
    * a/(a+b) floor-quantized to micro. Products are ≤ 10²⁴ and ride
    * decimal(38,0) ↔ HUGEINT.
    */
  private def dsEStep(pat: DataFrame, model: DataFrame): DataFrame =
    pat.crossJoin(broadcast(model))
      .withColumn("a", expr(
        """cast(pi as decimal(38,0))
          | * (case when v1 = 1 then se1 else 1000000 - se1 end)
          | * (case when v2 = 1 then se2 else 1000000 - se2 end)
          | * (case when v3 = 1 then se3 else 1000000 - se3 end)""".stripMargin))
      .withColumn("b", expr(
        """cast(1000000 - pi as decimal(38,0))
          | * (case when v1 = 1 then 1000000 - sp1 else sp1 end)
          | * (case when v2 = 1 then 1000000 - sp2 else sp2 end)
          | * (case when v3 = 1 then 1000000 - sp3 else sp3 end)""".stripMargin))
      .select(col("v1"), col("v2"), col("v3"), col("cnt"),
        expr("case when a + b > 0 then cast(a * 1000000 div (a + b) as bigint) " +
          "else 500000 end").as("q"))

  /** q334: DAWID–SKENE rater reliability (Dawid & Skene 1979, by EM) —
    * the model BEHIND every crowd/heuristic labeling pipeline: q297
    * and q318 measure whether the raters agree; this estimates, per
    * rater, HOW GOOD each one is (sensitivity/specificity against the
    * latent truth) and what the true prevalence is, so downstream
    * weighting can trust the e-rate gate less than the stored label
    * without any gold set.
    *
    * The 100 TB shape is the whole point: with R binary raters the
    * corpus is a SUFFICIENT-STATISTIC histogram over 2^R vote patterns
    * (8 rows here) — one corpus pass builds it, and every EM round is
    * bounded algebra on that frame (the q323 additive-statistics
    * doctrine). Two unrolled rounds; majority-vote soft init; every
    * probability an integer micro-unit with floor divisions mirrored
    * by the oracle's HUGEINT `//`.
    */
  def dawidSkene(documents: DataFrame, rounds: Int = 2): DataFrame = {
    val pat0 = votes(documents)
      .groupBy("v1", "v2", "v3").agg(count(lit(1)).as("cnt"))
      .withColumn("q", expr("(v1 + v2 + v3) * 1000000 div 3"))
    // the ONLY corpus-sized work; cut so each EM round reads an 8-row
    // leaf instead of re-scanning the corpus (the q301 lesson)
    var pat = graft.plans.Checkpoints.cut(pat0)
    for (_ <- 1 until rounds) pat = dsEStep(pat, dsModel(pat))
    val m = dsModel(pat)
    def rater(name: String, se: String, sp: String) =
      m.select(lit(name).as("rater"), col(se).as("se_micro"),
        col(sp).as("sp_micro"), col("pi").as("pi_micro"), col("n").as("n_docs"))
    rater("a_label", "se1", "sp1")
      .unionAll(rater("b_stopword", "se2", "sp2"))
      .unionAll(rater("c_erate", "se3", "sp3"))
      .orderBy("rater")
  }

  /** q335: CONFIDENT-LEARNING label-noise estimate (Northcutt, Jiang &
    * Chuang 2021) — "how much of the lang column is simply wrong":
    * per-class confidence thresholds t_c = mean predicted probability
    * of class c among rows LABELED c, then the confident joint counts
    * rows whose predicted probability clears the OTHER class's
    * threshold — off-diagonal mass estimates the label-noise rate
    * without any gold labels. The missing rung between q187 (train a
    * classifier on the labels) and q325 (audit outcomes per group):
    * audit the labels themselves.
    *
    * Predicted P(en) is the q329 e-rate score in ppm (integer).
    * Thresholds are floor-divided means; qualification and argmax are
    * integer comparisons; rows clearing neither threshold drop (the
    * CL convention). One corpus pass + a broadcast 1-row threshold
    * frame; output is a single confusion row.
    */
  def confidentLearning(documents: DataFrame): DataFrame = {
    val p = expr("""(length(lower(text)) - length(replace(lower(text), 'e', '')))
                   | * 1000000 div greatest(length(text), 1)""".stripMargin)
    val base = documents.select((col("lang") === "en").cast("long").as("y"), p.as("p"))
    val th = base.agg(
      sum(when(col("y") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("y") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("y") === 1, col("p"))).as("s1"),
      sum(when(col("y") === 0, lit(1000000L) - col("p"))).as("s0"))
      .select(col("n1"), col("n0"),
        expr("case when n1 > 0 then s1 div n1 end").as("t1"),
        expr("case when n0 > 0 then s0 div n0 end").as("t0"))
    base.crossJoin(broadcast(th))
      .withColumn("q1", col("p") >= col("t1"))
      .withColumn("q0", lit(1000000L) - col("p") >= col("t0"))
      .withColumn("pred",
        when(col("q1") && col("q0"),
          when(col("p") * 2 >= 1000000L, 1L).otherwise(0L))
          .when(col("q1"), 1L)
          .when(col("q0"), 0L))
      .agg(count(lit(1)).as("n"),
        max(col("t1")).as("t1_micro"), max(col("t0")).as("t0_micro"),
        sum(when(col("y") === 1 && col("pred") === 1, 1L).otherwise(0L)).as("c11"),
        sum(when(col("y") === 1 && col("pred") === 0, 1L).otherwise(0L)).as("c10"),
        sum(when(col("y") === 0 && col("pred") === 1, 1L).otherwise(0L)).as("c01"),
        sum(when(col("y") === 0 && col("pred") === 0, 1L).otherwise(0L)).as("c00"))
      .select(col("n"), col("t1_micro"), col("t0_micro"),
        col("c11"), col("c10"), col("c01"), col("c00"),
        (col("c11") + col("c10") + col("c01") + col("c00")).as("n_counted"),
        expr("""case when c11 + c10 + c01 + c00 > 0
                then (c10 + c01) * 1000000 div (c11 + c10 + c01 + c00) end""")
          .as("noise_ppm"))
  }

  /** q336: EMBEDDING ISOTROPY audit — anisotropic ("cone-shaped")
    * embedding spaces make cosine similarity saturate (Ethayarajh
    * 2019), which silently degrades every ANN / near-dup / retrieval
    * op downstream (q28/q76/q102...). q157/q161 report PER-DIMENSION
    * health (variance, covariance); this is the one-number CROSS-dim
    * collapse score those matrices don't surface. Per label: the mean
    * self dot,
    * the mean PAIRWISE dot, and their ratio — ≈0 for isotropic
    * vectors, →1 when a common direction dominates.
    *
    * The mean pairwise dot over n² pairs needs NO pairwise pass:
    * Σᵢ≠ⱼ xᵢ·xⱼ = ‖Σx‖² − Σ‖x‖² — one scan for the per-label sum
    * vector and self-dot total (micro-quantized integers, the q111
    * convention), then bounded label×dim algebra in decimal(38,0).
    */
  def embeddingIsotropy(embeddings: DataFrame): DataFrame = {
    val qv = expr(
      "transform(embedding, x -> cast(floor(cast(x as double) * 1000000) as bigint))")
    // empty/NULL embeddings carry no geometry — drop them on BOTH engines
    // (the oracle's unnest would silently drop them from its vector count
    // while a bare Spark count(*) would not: a latent n divergence)
    val base = embeddings.filter(size(col("embedding")) > 0)
      .select(col("label"), qv.as("qv"))
    val self = base
      .select(col("label"),
        expr("aggregate(qv, cast(0 as bigint), (acc, x) -> acc + x * x)").as("sd"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum(expr("cast(sd as decimal(38,0))")).as("ssum"))
    val sums = base.select(col("label"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(sum("x").as("s"))
      .groupBy("label")
      .agg(sum(expr("cast(s as decimal(38,0)) * s")).as("s2"))
    self.join(sums, "label")
      .select(col("label"), col("n").as("n_vecs"),
        round(col("ssum").cast("double") / col("n") / lit(1e12), 6)
          .as("avg_self_dot"),
        when(col("n") > 1,
          round((col("s2") - col("ssum")).cast("double") /
            (col("n") * (col("n") - 1)).cast("double") / lit(1e12), 6))
          .as("avg_pair_dot"),
        when(col("n") > 1 && col("ssum") > 0,
          round((col("s2") - col("ssum")).cast("double") /
            (col("ssum") * (col("n") - 1)).cast("double"), 6))
          .as("isotropy_ratio"))
      .orderBy("label")
  }

  /** q338: COCHRAN'S Q over the q297 three-rater panel — the k-rater
    * generalization of q337's McNemar (k = 2): do the three "is
    * English" raters have the SAME marginal hit rate, or is one
    * systematically trigger-happy? Significant Q + q318's α tells you
    * disagreement is structured, not noise — run this BEFORE trusting
    * a majority vote. Q = (k−1)·(k·ΣCⱼ² − T²) / (k·T − ΣRᵢ²) needs
    * five integer sums (Rᵢ = per-item vote count, Cⱼ = per-rater
    * total, T = ΣRᵢ): one corpus pass, squares in decimal(38,0), ONE
    * double division (null when every item is unanimous-all or -none,
    * where Q is undefined).
    */
  def cochranQ(documents: DataFrame): DataFrame = {
    val k = 3
    votes(documents)
      .agg(count(lit(1)).as("n_items"),
        sum("v1").as("c1"), sum("v2").as("c2"), sum("v3").as("c3"),
        sum(expr("v1 + v2 + v3")).as("t"),
        sum(expr("cast(v1 + v2 + v3 as decimal(38,0)) * (v1 + v2 + v3)")).as("sr2"))
      .select(col("n_items"), col("c1"), col("c2"), col("c3"),
        when(lit(k) * col("t") - col("sr2") > 0,
          round(lit(k - 1).cast("double") *
            (lit(k) * (expr("cast(c1 as decimal(38,0)) * c1") +
              expr("cast(c2 as decimal(38,0)) * c2") +
              expr("cast(c3 as decimal(38,0)) * c3")) -
              expr("cast(t as decimal(38,0)) * t")).cast("double") /
            (lit(k) * col("t") - col("sr2")).cast("double"), 4))
          .as("cochran_q"))
  }

  /** q339: HEAPS'-LAW vocabulary growth fit — V(n) ≈ K·n^β, the curve
    * that answers "how much NEW vocabulary does the next shard buy"
    * (dedup value, tokenizer sizing, scaling projections; complements
    * q105's Zipf slope — the two exponents are theoretically linked).
    *
    * The classic fit needs vocabulary at several corpus sizes —
    * naively one distinct-count per prefix. Here: NESTED md5 samples.
    * Each doc gets level ℓ = #{j ≤ L : h < 2⁶⁰/2ʲ} (level ℓ docs are
    * a uniform 1/2^ℓ subset, and subsets nest by construction), so ONE
    * token pass + a per-token max(level) gives every subset's exact
    * vocabulary via a suffix sum over the (L+1)-row level frame. β is
    * the closed-form least-squares slope of (ln nₜ, ln V) in micro-nat
    * integers (the q187 floor convention) — bounded 5-point algebra,
    * one double division.
    */
  def heapsLaw(documents: DataFrame, levels: Int = 4): DataFrame = {
    val th = Seq(576460752303423488L, 288230376151711744L,
      144115188075855872L, 72057594037927936L) // 2^60 / 2^j, j = 1..4
    val h = conv(substring(md5(concat(lit("heaps|"), col("doc_id"))), 1, 15),
      16, 10).cast("long")
    val lvl = th.take(levels).map(t => when(h < t, 1L).otherwise(0L)).reduce(_ + _)
    val d = documents.select(col("doc_id"), col("text")).withColumn("lvl", lvl)
    val docAgg = d.select(col("lvl"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      .groupBy("lvl").agg(count(lit(1)).as("nd"), sum("ntok").as("nt"))
    val tokAgg = d.select(col("lvl"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(max("lvl").as("ml"))
      .groupBy("ml").agg(count(lit(1)).as("nv"))
    // suffix sums over the bounded (levels+1)-row frames: subset ℓ
    // contains every doc/token whose level is ≥ ℓ (samples nest)
    val lv = documents.sparkSession.range(0, levels + 1)
      .select(col("id").cast("long").as("l"))
    val pts = lv
      .join(docAgg, col("lvl") >= col("l"))
      .groupBy("l").agg(sum("nd").as("n_docs"), sum("nt").as("n_tokens"))
      .join(lv.join(tokAgg, col("ml") >= col("l"))
        .groupBy(col("l").as("l2")).agg(sum("nv").as("vocab")),
        col("l") === col("l2"))
      .select(col("l").as("level"), col("n_docs"), col("n_tokens"), col("vocab"),
        floor(log(col("n_tokens").cast("double")) * 1e6).cast("long").as("x"),
        floor(log(col("vocab").cast("double")) * 1e6).cast("long").as("y"))
    val fit = pts.agg(count(lit(1)).as("m"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"))
      .select(when(expr("m * sxx - cast(sx as decimal(38,0)) * sx") > 0,
        round(expr("cast(m * sxy - cast(sx as decimal(38,0)) * sy as double)") /
          expr("cast(m * sxx - cast(sx as decimal(38,0)) * sx as double)"), 4))
        .as("heaps_beta"))
    pts.crossJoin(broadcast(fit))
      .select(col("level"), col("n_docs"), col("n_tokens"), col("vocab"),
        col("heaps_beta"))
      .orderBy("level")
  }

  /** q340: RÉNYI TOKEN-DISTRIBUTION EFFICIENCY (α = 2.5) — the
    * tokenizer-health metric of Zouhar et al. 2023, which tracks
    * downstream model quality better than Shannon entropy or fertility
    * (q123): H_α = ln(Σ p^2.5)/(1−2.5), normalized by ln V. A
    * low-efficiency distribution means a few mega-frequent tokens
    * dominate — the tokenizer wastes its vocabulary.
    *
    * One token-count pass; each p^α term is floor-quantized to atto
    * units (10⁻¹⁸) BEFORE the sum (the q187 device: per-term libm,
    * order-independent integer total ≤ 10¹⁸ since Σp^α ≤ 1), then two
    * closing double expressions.
    */
  def renyiEfficiency(documents: DataFrame): DataFrame = {
    val counts = documents.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum("c").as("nn"), count(lit(1)).as("v"))
    counts.crossJoin(broadcast(tot))
      .select(col("nn"), col("v"),
        expr("""cast(floor(exp(2.5 * (ln(cast(c as double)) - ln(cast(nn as double))))
                * 1e18) as bigint)""").as("term"))
      .groupBy("nn", "v").agg(sum("term").as("s_atto"))
      .select(col("nn").as("n_tokens"), col("v").as("vocab"), col("s_atto"),
        round(log(col("s_atto").cast("double") / lit(1e18)) / lit(1.0 - 2.5), 6)
          .as("renyi_h"),
        when(col("v") > 1,
          round(log(col("s_atto").cast("double") / lit(1e18)) / lit(1.0 - 2.5) /
            log(col("v").cast("double")), 6)).as("renyi_efficiency"))
  }

  /** q341: SPRT SEQUENTIAL MONITOR (Wald 1945) on the treatment arm's
    * purchase rate — the always-valid complement of q148's fixed-
    * horizon A/B test and q258's SRM gate: a fixed-horizon test peeked
    * at daily inflates false positives; the SPRT's log-likelihood
    * ratio is DESIGNED to be read every day, stopping the moment the
    * evidence clears ln((1−β)/α). H₀: p = 0.20 vs H₁: p = 0.25,
    * α = β = 0.05.
    *
    * Exact: per-day purchase counts are integers; the LLR is
    * cum_x·⌊ln(p₁/p₀)·10⁶⌋ + (cum_n−cum_x)·⌊ln(q₁/q₀)·10⁶⌋ — integer
    * micro-nats, embedded constants, no runtime libm. The running sum
    * is an unpartitioned window over the BOUNDED per-day frame (one
    * row per calendar day).
    */
  def sprtMonitor(events: DataFrame): DataFrame =
    sprtFromDays(
      events.filter(col("user_id") % 2 === 1)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("x")))

  /** The SPRT finisher over an already-aggregated per-day (day, n, x)
    * frame — shared by the batch monitor above and the streaming twin
    * ([[graft.streaming.IngestStream.sprtDayStream]]'s foreachBatch
    * refold), so batch==stream parity is parity of CODE, not of two
    * reimplementations. The running sum is an unpartitioned window
    * over the BOUNDED per-day frame (one row per calendar day).
    */
  def sprtFromDays(days: DataFrame): DataFrame = {
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days
      .withColumn("cum_n", sum("n").over(w))
      .withColumn("cum_x", sum("x").over(w))
      .withColumn("llr_micro",
        col("cum_x") * 223143L + (col("cum_n") - col("cum_x")) * -64539L)
      .withColumn("decision",
        when(col("llr_micro") >= 2944438L, "accept_h1")
          .when(col("llr_micro") <= -2944439L, "accept_h0")
          .otherwise("continue"))
      .select(col("day"), col("n"), col("x"), col("cum_n"), col("cum_x"),
        col("llr_micro"), col("decision"))
      .orderBy("day")
  }

  /** q342: CROSS-SOURCE QUANTILE NORMALIZATION map — the batch-effect
    * correction every multi-crawl quality score needs before a single
    * threshold is applied corpus-wide (q93's buckets assume scores are
    * comparable across sources; they rarely are). For each source and
    * decile: the source's cut, the corpus cut it maps to, and the
    * shift — apply as a piecewise-monotone recalibration, audit as a
    * drift table.
    *
    * Determinism: exact `percentile` per group and globally (one
    * grouped aggregation each), cuts rounded to 4 — the q85/q93
    * Spark↔DuckDB interpolation contract. Scale: two aggregations with
    * map-side partial value maps; everything after is the bounded
    * |sources|×9 mapping frame.
    */
  def quantileNormalize(documents: DataFrame, bins: Int = 10): DataFrame = {
    val ps = (1 until bins).map(k => s"${k.toDouble / bins}D").mkString(", ")
    val per = documents.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr(s"percentile(n_chars, array($ps))").as("c"))
      .select(col("source"), col("n_docs"),
        posexplode(col("c")).as(Seq("p", "src_cut")))
      .select(col("source"), col("n_docs"), (col("p") + 1).cast("long").as("decile"),
        round(col("src_cut"), 4).as("src_cut"))
    val glob = documents
      .agg(expr(s"percentile(n_chars, array($ps))").as("c"))
      .select(posexplode(col("c")).as(Seq("p", "global_cut")))
      .select((col("p") + 1).cast("long").as("decile"),
        round(col("global_cut"), 4).as("global_cut"))
    per.join(broadcast(glob), "decile")
      .select(col("source"), col("n_docs"), col("decile"), col("src_cut"),
        col("global_cut"), round(col("global_cut") - col("src_cut"), 4).as("shift"))
      .orderBy("source", "decile")
  }

  /** q343: SIMPSON'S-PARADOX SLICE AUDIT — per-source correlation of
    * document length with the English label vs the POOLED correlation:
    * a source whose within-slice sign contradicts the pooled sign is
    * the aggregation trap (Simpson 1951) that makes corpus-wide
    * quality~feature conclusions wrong for every slice they're applied
    * to. The governance sibling of q122's global corr and q325's
    * per-group gaps.
    *
    * One corpus pass → per-source integer moment sums (decimal(38,0)
    * products); the pooled moments are the SUM of the per-source frame
    * (bounded), so the corpus is scanned once. Pearson r per slice and
    * pooled, each ONE double expression, null when a slice is constant
    * in either variable.
    */
  def simpsonAudit(documents: DataFrame): DataFrame = {
    val m = documents
      .select(col("source"), col("n_chars").as("x"),
        (col("lang") === "en").cast("long").as("y"))
      .groupBy("source").agg(count(lit(1)).as("n"),
        sum(expr("cast(x as decimal(38,0))")).as("sx"),
        sum(expr("cast(y as decimal(38,0))")).as("sy"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("syy"))
    val corr = (pre: String) => {
      val num = expr(s"cast(${pre}n * ${pre}sxy - ${pre}sx * ${pre}sy as double)")
      val vx = expr(s"cast(${pre}n * ${pre}sxx - ${pre}sx * ${pre}sx as double)")
      val vy = expr(s"cast(${pre}n * ${pre}syy - ${pre}sy * ${pre}sy as double)")
      when(vx > 0 && vy > 0, round(num / sqrt(vx * vy), 4))
    }
    val pooled = m.agg(sum("n").as("pn"), sum("sx").as("psx"), sum("sy").as("psy"),
        sum("sxy").as("psxy"), sum("sxx").as("psxx"), sum("syy").as("psyy"))
      .select(corr("p").as("corr_pooled"))
    m.crossJoin(broadcast(pooled))
      .select(col("source"), col("n"), corr("").as("corr_src"), col("corr_pooled"),
        when(corr("").isNotNull && col("corr_pooled").isNotNull,
          corr("") * col("corr_pooled") < 0).as("sign_flip"))
      .orderBy("source")
  }

  /** q344: BENJAMINI–HOCHBERG FDR over the per-source drift panel —
    * the multiplicity control q133's per-source KS alarms need: with
    * hundreds of sources, thresholding each test at α fires ~α·m false
    * alarms per run; BH (1995) bounds the FALSE DISCOVERY RATE across
    * the whole panel. Each source's lengths are tested against the
    * REST of the corpus (the q133 grid with the complement's ECDF),
    * the asymptotic two-sample KS p-value 2·exp(−2·nₑ·D²) quantizes to
    * micro units per source, and the BH step-up runs on the bounded
    * source frame (rank window + suffix max — commented bounded).
    *
    * Scale: identical to q133 — one map-side (source, value) count,
    * ECDF windows per source over the value-bounded grid; the p/BH
    * stage is |sources|-sized.
    */
  def bhFdrDrift(documents: DataFrame, alphaMicro: Long = 50000L): DataFrame = {
    val counts = documents.groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val values = counts.select("v").distinct()
    val sources = documents.groupBy("source").agg(count(lit(1)).as("n_s"))
    val corpusByV = documents.groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("cc"))
    val nTotal = documents.agg(count(lit(1)).as("n_c"))
    // broadcast hint on the value grid: a bounded-frame crossJoin without
    // it is one stats-estimate away from a row-level n·m CartesianProduct
    // task grid (the q323 lesson) — the hint makes the plan contract
    // guard it structurally instead of accidentally
    val grid = sources.crossJoin(broadcast(values))
      .join(counts, Seq("source", "v"), "left").na.fill(0L, Seq("c"))
      .join(broadcast(corpusByV), "v")
    val w = Window.partitionBy("source").orderBy("v")
    val ks = grid
      .withColumn("cum_s", sum(col("c")).over(w))
      .withColumn("cum_c", sum(col("cc")).over(w))
      .crossJoin(broadcast(nTotal))
      // source vs COMPLEMENT: F_rest = (cum_c − cum_s)/(n_c − n_s)
      .groupBy("source")
      .agg(max(col("n_s")).as("n_s"), max(col("n_c")).as("n_c"),
        max(abs(expr("cast(cum_s as decimal(38,0)) * (n_c - n_s) - cast(cum_c - cum_s as decimal(38,0)) * n_s")))
          .as("d_num"))
      .filter(col("n_c") > col("n_s"))
      .withColumn("d", col("d_num").cast("double") /
        (col("n_s").cast("double") * (col("n_c") - col("n_s")).cast("double")))
      .withColumn("p_micro", least(lit(1000000L),
        floor(lit(2.0) * exp(lit(-2.0) *
          (col("n_s") * (col("n_c") - col("n_s"))).cast("double") /
          col("n_c").cast("double") * col("d") * col("d")) * 1e6).cast("long")))
    // bounded frame from here: one row per source — cut so the three
    // consumers (rank, m, k*) read materialized rows, not the ECDF grid
    val ksCut = graft.plans.Checkpoints.cut(ks)
    val ranked = ksCut
      .withColumn("rank", row_number().over(
        Window.orderBy(col("p_micro"), col("source"))).cast("long"))
      .crossJoin(broadcast(ksCut.agg(count(lit(1)).as("m"))))
      .withColumn("ok", col("p_micro") * col("m") <= col("rank") * alphaMicro)
    val kStar = ranked.agg(coalesce(max(when(col("ok"), col("rank"))), lit(0L)).as("k_star"))
    ranked.crossJoin(broadcast(kStar))
      .select(col("source"), col("n_s"),
        round(col("d"), 4).as("ks_d"), col("p_micro"), col("rank"),
        (col("rank") <= col("k_star")).as("rejected"))
      .orderBy("rank")
  }

  /** q345: DIAGONAL-MAHALANOBIS OOD AUDIT per embedding label — the
    * parametric outlier gate next to q126's kNN density outliers: each
    * vector's squared Mahalanobis distance to ITS label's centroid
    * under a diagonal covariance, md² = Σ_d (x_d − μ_d)²/σ_d². Vectors
    * beyond the 3-sigma-per-dim budget (md² > 9·D) are mislabeled,
    * corrupted, or genuinely out of distribution — the triage list
    * before any per-label centroid op (q111/q176/q323) is trusted.
    *
    * EXACT, no libm anywhere: on micro-quantized integer coordinates,
    * (x − S/n)² / ((nQ − S²)/n²) = (x·n − S)² / (nQ − S²) — an integer
    * ratio per dimension, floor-quantized to micro before the per-
    * vector sum (zero-variance dims contribute 0 on both engines).
    *
    * Scale: one (label, dim) moment pass (map-side partials on the
    * posexploded stream), moments frame is |labels|×D and BROADCAST
    * back onto the same stream; the only shuffle is the per-vector
    * re-aggregation on vec_id.
    */
  def mahalanobisAudit(embeddings: DataFrame): DataFrame = {
    val qv = expr(
      "transform(embedding, x -> cast(floor(cast(x as double) * 1000000) as bigint))")
    val ex = embeddings.select(col("vec_id"), col("label"), posexplode(qv).as(Seq("d", "x")))
    val mom = ex.groupBy("label", "d")
      .agg(count(lit(1)).as("n"),
        sum(expr("cast(x as decimal(38,0))")).as("s"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("qq"))
    val terms = ex.join(broadcast(mom), Seq("label", "d"))
      .select(col("vec_id"), col("label"),
        expr("""case when n * qq - s * s > 0
                then cast((cast(x as decimal(38,0)) * n - s)
                          * (cast(x as decimal(38,0)) * n - s)
                          * 1000000 div (n * qq - s * s) as bigint)
                else 0 end""").as("t"), col("d"))
    val dims = embeddings.select(size(col("embedding")).cast("long").as("dd"))
      .groupBy().agg(max("dd").as("dims"))
    terms.groupBy("vec_id", "label").agg(sum("t").as("md2_micro"))
      .crossJoin(broadcast(dims))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), max("dims").as("dims"),
        expr("sum(md2_micro) div count(*)").as("avg_md2_micro"),
        max("md2_micro").as("max_md2_micro"),
        sum(when(col("md2_micro") > lit(9000000L) * col("dims"), 1L)
          .otherwise(0L)).as("n_beyond_3sigma"))
      .orderBy("label")
  }

  /** q346: PADDING-WASTE audit — random vs length-bucketed batching:
    * training batches pad every sequence to the batch max, so the
    * padded-token share is decided by HOW batches are formed. For
    * batch size B: random batching wastes (E[max of B draws] − E[L])
    * per doc — and E[max] is EXACT from the length histogram via
    * P(max ≤ v) = F(v)^B — while bucketed batching (sort into width-W
    * length buckets first, the q67/q189 layout) pads only to the
    * bucket ceiling. The one-row report quantifies what the sort buys
    * — typically the difference between ~2× token throughput and none.
    *
    * Scale: ONE token-length histogram (value-bounded, the q133 grid
    * argument); E[max] folds over it with per-value floor-quantized
    * F^B terms (per-term libm pow, the q187 convention); the bucketed
    * waste is a pure integer aggregate on the same pass.
    */
  def paddingWaste(documents: DataFrame, batch: Int = 16, bucketW: Int = 32): DataFrame = {
    val len = size(split(col("text"), " ")).cast("long")
    val hist = documents.select(len.as("v"))
      .groupBy("v").agg(count(lit(1)).as("c"))
    val tot = hist.agg(sum("c").as("n"), sum(expr("v * c")).as("t"),
      sum(expr(s"(((v + $bucketW - 1) div $bucketW) * $bucketW - v) * c")).as("wb"))
    // bounded frame: one row per distinct length — the cumulative F and
    // the per-value E[max] mass term F(v)^B − F(v⁻)^B
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val emax = hist
      .withColumn("cum", sum("c").over(w))
      .crossJoin(broadcast(tot.select("n")))
      .select(expr(s"""cast(floor(v * (pow(cast(cum as double) / n, $batch)
                      - pow(cast(cum - c as double) / n, $batch)) * 1e6) as bigint)""")
        .as("term"))
      .agg(sum("term").as("emax_micro"))
    tot.crossJoin(broadcast(emax))
      .select(col("n").as("n_docs"), col("t").as("total_tokens"),
        col("emax_micro").as("expected_max_micro"),
        // decimal(38,0) before the ×10⁶: wb is corpus-total padding tokens
        // and would wrap plain BIGINT beyond ~9.2e12 (non-ANSI Spark)
        expr("cast(wb as decimal(38,0)) * 1000000 div (t + wb)")
          .cast("long").as("bucketed_waste_ppm"),
        expr("""case when cast(emax_micro as decimal(38,0)) * n > 0
                then (cast(emax_micro as decimal(38,0)) * n
                      - cast(t as decimal(38,0)) * 1000000)
                     * 1000000 div (cast(emax_micro as decimal(38,0)) * n)
                end""").cast("long").as("random_waste_ppm"))
  }

  /** q347: EMPIRICAL-BAYES (beta-binomial) SHRINKAGE of per-source
    * rates — the winner's-curse guard for every per-slice leaderboard
    * (q325's gaps, q151's shares, q333's CIs): a 3-doc source with
    * rate 1.0 is NOISE, not signal, and ranking raw rates promotes
    * exactly those. Method-of-moments beta prior from the source-rate
    * spread (prior strength K = μ(1−μ)/v − 1), posterior rate
    * (x + μK)/(n + K) — small sources shrink hard toward the pooled
    * mean, big sources barely move (Efron & Morris 1975's argument in
    * rate form).
    *
    * Exact: per-source rates quantize to ppm BEFORE the bounded-frame
    * moment sums (order-independent integers); μ, v, K, and every
    * posterior are integer floor divisions — no float anywhere. Scale:
    * one corpus pass → |sources| frame; everything after is bounded.
    */
  def ebShrinkage(documents: DataFrame): DataFrame = {
    val per = documents.groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum((col("lang") === "en").cast("long")).as("x"))
      .withColumn("p_ppm", expr("x * 1000000 div n"))
    val prior = per.agg(count(lit(1)).as("m"),
        sum("p_ppm").as("sp"),
        sum(expr("cast(p_ppm as decimal(38,0)) * p_ppm")).as("spp"))
      .select(col("m"),
        expr("sp div m").as("mu_ppm"),
        expr("cast((m * spp - cast(sp as decimal(38,0)) * sp) div (cast(m as decimal(38,0)) * m) as bigint)")
          .as("v_pp2"))
      .select(col("m"), col("mu_ppm"), col("v_pp2"),
        expr("""case when v_pp2 > 0
                then cast(mu_ppm as decimal(38,0)) * (1000000 - mu_ppm)
                     * 1000000 div v_pp2 - 1000000
                end""").cast("long").as("k_micro"))
    per.crossJoin(broadcast(prior))
      .select(col("source"), col("n"), col("x"), col("p_ppm").as("raw_ppm"),
        col("mu_ppm"), col("k_micro"),
        expr("""case when k_micro > 0
                then (cast(x as decimal(38,0)) * 1000000 * 1000000
                      + cast(mu_ppm as decimal(38,0)) * k_micro)
                     div (cast(n as decimal(38,0)) * 1000000 + k_micro)
                else p_ppm end""").cast("long").as("shrunk_ppm"))
      .orderBy("source")
  }

  /** q348: POST-STRATIFIED TREATMENT EFFECT — the causal rung between
    * q148's raw A/B difference and q289's propensity matching: when
    * randomization is fine but an observed covariate (user activity)
    * still correlates with both arm size and outcome by chance,
    * stratifying on it removes the variance (and any accidental
    * imbalance) the naive difference carries: ATE = Σ_b (N_b/N)·
    * (ȳ_tb − ȳ_cb) over activity bands. Bands where either arm is
    * empty are excluded and counted (the standard positivity report).
    *
    * Exact: per-band arm means are micro floor divisions; the weighted
    * sum rides decimal(38,0); one corpus→user pass, then a bounded
    * band frame.
    */
  def postStratifiedAte(events: DataFrame, bandW: Int = 32): DataFrame = {
    val users = events.groupBy("user_id")
      .agg(count(lit(1)).as("activity"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      .select((col("user_id") % 2 === 1).as("treated"),
        expr(s"activity div $bandW").as("band"), col("y"))
    val bands = users.groupBy("band")
      .agg(sum(when(col("treated"), 1L).otherwise(0L)).as("nt"),
        sum(when(col("treated"), col("y"))).as("st"),
        sum(when(!col("treated"), 1L).otherwise(0L)).as("nc"),
        sum(when(!col("treated"), col("y"))).as("sc"))
    val tot = users.agg(count(lit(1)).as("n_users"),
      sum(when(col("treated"), col("y"))).as("ty"),
      sum(when(col("treated"), 1L).otherwise(0L)).as("tn"),
      sum(when(!col("treated"), col("y"))).as("cy"),
      sum(when(!col("treated"), 1L).otherwise(0L)).as("cn"))
    bands
      .withColumn("usable", col("nt") > 0 && col("nc") > 0)
      .agg(count(lit(1)).as("n_bands"),
        sum(when(col("usable"), 1L).otherwise(0L)).as("n_bands_used"),
        sum(when(col("usable"), col("nt") + col("nc")).otherwise(0L)).as("n_covered"),
        sum(when(col("usable"),
          expr("""cast(nt + nc as decimal(38,0))
                  * (st * 1000000 div nt - sc * 1000000 div nc)"""))
          .otherwise(expr("cast(0 as decimal(38,0))"))).as("wsum"))
      .crossJoin(broadcast(tot))
      .select(col("n_users"), col("n_bands"), col("n_bands_used"), col("n_covered"),
        expr("ty * 1000000 div tn - cy * 1000000 div cn").as("naive_diff_micro"),
        when(col("n_covered") > 0,
          expr("cast(wsum div n_covered as bigint)")).as("ate_ps_micro"))
  }

  /** q349: MINIMUM DETECTABLE EFFECT for the purchase-rate A/B panel —
    * the experiment-PLANNING number q148 (read), q341 (monitor), and
    * q348 (adjust) all presume someone computed: at the current arm
    * sizes, the smallest true lift a two-proportion z-test resolves at
    * α = 0.05 / power 80% is MDE = (z_{α/2}+z_β)·√(2p̄(1−p̄)/n̄) (arms
    * harmonic-balanced). Reported beside the observed difference with
    * a `powered` verdict — the "your A/B test can't see what you're
    * asking it to" gate.
    *
    * One user-level aggregate (bounded output); z-constants embedded
    * (2.801585218112969 = z₀.₀₂₅ + z₀.₂); micro-floored closing
    * expressions mirrored verbatim by the oracle.
    */
  def minDetectableEffect(events: DataFrame): DataFrame = {
    val u = events.groupBy("user_id")
      .agg((max(when(col("event_type") === "purchase", 1L).otherwise(0L)) > 0)
        .as("converted"))
      .select((col("user_id") % 2 === 1).as("treated"), col("converted"))
    u.agg(
        sum(when(col("treated"), 1L).otherwise(0L)).as("n_t"),
        sum(when(col("treated") && col("converted"), 1L).otherwise(0L)).as("x_t"),
        sum(when(!col("treated"), 1L).otherwise(0L)).as("n_c"),
        sum(when(!col("treated") && col("converted"), 1L).otherwise(0L)).as("x_c"))
      .withColumn("p_ppm", expr("(x_t + x_c) * 1000000 div (n_t + n_c)"))
      // harmonic mean of the arm sizes — the balanced-n the z-test sees
      .withColumn("nh_micro", expr(
        "case when n_t > 0 and n_c > 0 then " +
          "cast(2 as decimal(38,0)) * n_t * n_c * 1000000 div (n_t + n_c) end"))
      .withColumn("mde_micro", expr(
        """case when nh_micro > 0 then cast(floor(
          |  2.801585218112969 * sqrt(
          |    2.0 * (cast(p_ppm as double) / 1e6) * (1.0 - cast(p_ppm as double) / 1e6)
          |    / (cast(nh_micro as double) / 1e6)) * 1e6) as bigint) end""".stripMargin))
      .withColumn("diff_micro", expr(
        "case when n_t > 0 and n_c > 0 then " +
          "x_t * 1000000 div n_t - x_c * 1000000 div n_c end"))
      .select(col("n_t"), col("n_c"), col("p_ppm"), col("mde_micro"),
        col("diff_micro"),
        when(col("mde_micro").isNotNull,
          abs(col("diff_micro")) >= col("mde_micro")).as("powered"))
  }

  /** q350: EMBEDDING-SPACE PSI drift — the production drift monitor for
    * vector populations: hash every embedding into one of 2^projs
    * sign-pattern buckets (md5-seeded ±1 projections — the q310
    * device), then run q173's population-stability index over the
    * bucket histograms of the reference vs current halves. Complements
    * the heavy alarms (q300 MMD needs moment matrices, q310 sliced-W1
    * needs transport): PSI on hash buckets is what a daily monitor can
    * afford at any scale, and its per-bucket parts LOCALIZE the drift.
    *
    * Exact: projections are integer dot products of micro-quantized
    * coordinates with ±1 signs from md5 parity (engine-identical);
    * buckets are integer bit packs; the PSI parts are q173's smoothed
    * per-row double expressions over exact integer counts on the
    * bounded ≤2^projs frame.
    *
    * Scale: one posexplode pass joined to the BROADCAST (dim × projs)
    * sign grid, two keyed aggregations — nothing wider than
    * (vec_id, long) shuffles; the histogram frame is 64 rows forever.
    */
  def embeddingPsiDrift(embeddings: DataFrame, projs: Int = 6): DataFrame =
    psiFromCells(psiBucketCells(embeddings, projs))

  /** The distributed half of q350: embeddings → per-(bucket) ref/cur
    * counts. This is the only corpus-sized stage, and it is the stage a
    * STREAMING monitor re-runs per micro-batch
    * ([[graft.streaming.IngestStream.psiCellStream]]); the finisher
    * below then reads only the bounded cell histogram.
    */
  def psiBucketCells(embeddings: DataFrame, projs: Int = 6): DataFrame = {
    val qv = expr(
      "transform(embedding, x -> cast(floor(cast(x as double) * 1000000) as bigint))")
    val ex = embeddings.filter(size(col("embedding")) > 0)
      .select(col("vec_id"), posexplode(qv).as(Seq("d", "x")))
    val signs = ex.select("d").distinct()
      .withColumn("r", explode(sequence(lit(0), lit(projs - 1))))
      .withColumn("s", when(
        conv(substring(md5(concat(lit("psi|"), col("r"), lit("|"), col("d"))),
          1, 15), 16, 10).cast("long") % 2 === 0, 1L).otherwise(-1L))
    val buckets = ex.join(broadcast(signs), "d")
      .groupBy("vec_id", "r").agg(sum(expr("s * x")).as("p"))
      .groupBy("vec_id")
      .agg(sum(expr("case when p >= 0 then shiftleft(1L, r) else 0L end")).as("bucket"))
    buckets
      .withColumn("cur", (col("vec_id") % 2 === 1).cast("long"))
      .groupBy("bucket")
      .agg(sum(lit(1L) - col("cur")).as("n_ref"), sum("cur").as("n_cur"))
  }

  /** The PSI finisher over (bucket, n_ref, n_cur) cells — shared by the
    * batch monitor and the streaming twin's per-batch refold, so
    * batch==stream parity is parity of code.
    */
  def psiFromCells(cells: DataFrame): DataFrame = {
    // bounded frame: ≤ 2^projs bucket rows (the q173 window shape)
    val w = Window.partitionBy(lit(1))
    cells
      .withColumn("tot_ref", sum("n_ref").over(w))
      .withColumn("tot_cur", sum("n_cur").over(w))
      .withColumn("n_bands", count(lit(1)).over(w))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        round(expr(
          """((CAST(n_ref + 1 AS DOUBLE) / (tot_ref + n_bands))
            |  - (CAST(n_cur + 1 AS DOUBLE) / (tot_cur + n_bands)))
            | * ln((CAST(n_ref + 1 AS DOUBLE) / (tot_ref + n_bands))
            |     / (CAST(n_cur + 1 AS DOUBLE) / (tot_cur + n_bands)))""".stripMargin), 6)
          .as("psi_part"))
      .orderBy("bucket")
  }

  /** q351: DEDUP-WEIGHTED EFFECTIVE TOKEN MASS — the soft alternative
    * to dropping near-duplicates (q92's canonical pick): weight every
    * document by 1/|its near-dup cluster| so each piece of CONTENT
    * contributes one unit of training mass regardless of how many
    * copies crawled in. Reported per source: raw vs effective tokens
    * and the effective-data ratio — the number that decides whether a
    * source's size is content or copies, feeding the mixture planners
    * (q82/q128/q188) the denominator they actually want.
    *
    * Reuses the q58 cluster machinery verbatim (LSH candidates →
    * Jaccard verify → connected components); unlabeled docs are
    * singleton clusters of size 1. Per-doc weights floor-quantize to
    * micro BEFORE the source sum (order-independent), one closing
    * integer division per source.
    *
    * Scale: the label frame covers only docs in some verified edge
    * (≪ corpus); two id-keyed left joins attach cluster size, then one
    * map-side-combined rollup.
    */
  def dedupWeightedMass(documents: DataFrame, threshold: Double = 0.2): DataFrame = {
    val labels = Dedup.nearDupLabels(documents, threshold)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("csz"))
    documents
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .join(sizes, Seq("label"), "left")
      .withColumn("csz", coalesce(col("csz"), lit(1L)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("ntok").as("n_tokens"),
        sum(when(col("csz") > 1, 1L).otherwise(0L)).as("n_clustered"),
        // decimal(38,0) BEFORE the micro-scale product: a per-source token
        // mass above ~9.2e12 would silently wrap the plain-BIGINT product
        // under Spark's non-ANSI arithmetic at the 100 TB design point
        // (the q333/q343/q345 convention; oracle mirrors with HUGEINT)
        sum(expr("cast(ntok as decimal(38,0)) * 1000000 div csz"))
          .cast("long").as("eff_micro"))
      .withColumn("eff_ratio_ppm",
        expr("case when n_tokens > 0 then eff_micro div n_tokens end"))
      .orderBy("source")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q351_dedup_weighted_mass" -> ((s, d) => dedupWeightedMass(Tables(s, d).documents)),
    "q350_embedding_psi" -> ((s, d) => embeddingPsiDrift(Tables(s, d).embeddings)),
    "q349_mde_power" -> ((s, d) => minDetectableEffect(Tables(s, d).events)),
    "q347_eb_shrinkage" -> ((s, d) => ebShrinkage(Tables(s, d).documents)),
    "q348_post_strat_ate" -> ((s, d) => postStratifiedAte(Tables(s, d).events)),
    "q345_mahalanobis_ood" -> ((s, d) => mahalanobisAudit(Tables(s, d).embeddings)),
    "q346_padding_waste" -> ((s, d) => paddingWaste(Tables(s, d).documents)),
    "q342_quantile_normalize" -> ((s, d) => quantileNormalize(Tables(s, d).documents)),
    "q343_simpson_audit" -> ((s, d) => simpsonAudit(Tables(s, d).documents)),
    "q344_bh_fdr" -> ((s, d) => bhFdrDrift(Tables(s, d).documents)),
    "q338_cochran_q" -> ((s, d) => cochranQ(Tables(s, d).documents)),
    "q339_heaps_law" -> ((s, d) => heapsLaw(Tables(s, d).documents)),
    "q340_renyi_efficiency" -> ((s, d) => renyiEfficiency(Tables(s, d).documents)),
    "q341_sprt_monitor" -> ((s, d) => sprtMonitor(Tables(s, d).events)),
    "q333_poisson_bootstrap" -> ((s, d) => poissonBootstrap(Tables(s, d).documents)),
    "q334_dawid_skene" -> ((s, d) => dawidSkene(Tables(s, d).documents, rounds = 2)),
    "q335_confident_learning" -> ((s, d) => confidentLearning(Tables(s, d).documents)),
    "q336_embedding_isotropy" -> ((s, d) => embeddingIsotropy(Tables(s, d).embeddings)),
  )

  private def mdUnits(salt: String): String =
    s"list_reduce(list_transform(range(1, 16), i -> strpos('0123456789abcdef', " +
      s"substr(md5($salt), i, 1)) - 1), (a, b) -> a * 16 + b)::BIGINT"

  /** The q334 oracle's per-round CTE pair (M-step + E-step), unrolled. */
  private def dsRoundSql(i: Int): String =
    s"""m$i AS (SELECT sum(cnt)::BIGINT AS n,
       |         sum(cnt::HUGEINT * q) AS sq, sum(cnt::HUGEINT * (1000000 - q)) AS snq,
       |         sum(cnt::HUGEINT * q * v1) AS a1, sum(cnt::HUGEINT * q * v2) AS a2,
       |         sum(cnt::HUGEINT * q * v3) AS a3,
       |         sum(cnt::HUGEINT * (1000000 - q) * (1 - v1)) AS b1,
       |         sum(cnt::HUGEINT * (1000000 - q) * (1 - v2)) AS b2,
       |         sum(cnt::HUGEINT * (1000000 - q) * (1 - v3)) AS b3
       |       FROM p${i - 1}),
       |mm$i AS (SELECT n, (sq // n)::BIGINT AS pi,
       |         CASE WHEN sq > 0 THEN (a1 * 1000000 // sq)::BIGINT END AS se1,
       |         CASE WHEN sq > 0 THEN (a2 * 1000000 // sq)::BIGINT END AS se2,
       |         CASE WHEN sq > 0 THEN (a3 * 1000000 // sq)::BIGINT END AS se3,
       |         CASE WHEN snq > 0 THEN (b1 * 1000000 // snq)::BIGINT END AS sp1,
       |         CASE WHEN snq > 0 THEN (b2 * 1000000 // snq)::BIGINT END AS sp2,
       |         CASE WHEN snq > 0 THEN (b3 * 1000000 // snq)::BIGINT END AS sp3
       |       FROM m$i),
       |p$i AS MATERIALIZED (SELECT v1, v2, v3, cnt,
       |         CASE WHEN a + b > 0 THEN (a * 1000000 // (a + b))::BIGINT
       |              ELSE 500000 END AS q
       |       FROM (SELECT p.v1, p.v2, p.v3, p.cnt,
       |               m.pi::HUGEINT
       |                 * (CASE WHEN p.v1 = 1 THEN m.se1 ELSE 1000000 - m.se1 END)
       |                 * (CASE WHEN p.v2 = 1 THEN m.se2 ELSE 1000000 - m.se2 END)
       |                 * (CASE WHEN p.v3 = 1 THEN m.se3 ELSE 1000000 - m.se3 END) AS a,
       |               (1000000 - m.pi)::HUGEINT
       |                 * (CASE WHEN p.v1 = 1 THEN 1000000 - m.sp1 ELSE m.sp1 END)
       |                 * (CASE WHEN p.v2 = 1 THEN 1000000 - m.sp2 ELSE m.sp2 END)
       |                 * (CASE WHEN p.v3 = 1 THEN 1000000 - m.sp3 ELSE m.sp3 END) AS b
       |             FROM p${i - 1} p, mm$i m))""".stripMargin

  /** The q297/q334 rater-vote CTE shared by the q338 oracle. */
  private val votesSql: String =
    """SELECT (lang = 'en')::BIGINT AS v1,
      |       (len(list_filter(string_split(lower(text), ' '), w -> w IN ('the','a','and')))
      |          >= len(list_filter(string_split(lower(text), ' '), w -> w IN ('el','la','los')))
      |        AND len(list_filter(string_split(lower(text), ' '), w -> w IN ('the','a','and')))
      |          >= len(list_filter(string_split(lower(text), ' '), w -> w IN ('der','die','und')))
      |        AND len(list_filter(string_split(lower(text), ' '), w -> w IN ('the','a','and')))
      |          >= len(list_filter(string_split(lower(text), ' '), w -> w IN ('le','les','des')))
      |        AND len(list_filter(string_split(lower(text), ' '), w -> w IN ('the','a','and'))) > 0
      |       )::BIGINT AS v2,
      |       ((length(lower(text)) - length(replace(lower(text), 'e', ''))) * 1000
      |          >= length(text) * 75)::BIGINT AS v3
      |     FROM documents""".stripMargin

  override def oracles: Map[String, String] = Map(
    // the q58 cluster pipeline verbatim (LSH -> verify -> recursive CC),
    // then 1/cluster-size weights floor-quantized per doc
    "q351_dedup_weighted_mass" ->
      """WITH RECURSIVE
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |                 i -> array_to_string((string_split(text, ' '))[i:i+2], ' '))) AS s
        |  FROM documents),
        |sigs AS (
        |  SELECT doc_id, list_aggregate(list_transform(
        |      list_transform(generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |                     i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')),
        |      s -> md5('salt0|' || s)), 'min') AS mh0
        |  FROM documents),
        |cand AS (SELECT a.doc_id AS l, b.doc_id AS r
        |         FROM sigs a JOIN sigs b ON a.mh0 = b.mh0 AND a.doc_id < b.doc_id),
        |ver AS (
        |  SELECT l, r FROM cand
        |  JOIN sh a ON a.doc_id = l JOIN sh b ON b.doc_id = r
        |  WHERE len(list_intersect(a.s, b.s)) /
        |        CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) >= 0.2),
        |edges AS (SELECT l AS src, r AS dst FROM ver UNION SELECT r, l FROM ver),
        |reach(src, node) AS (
        |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        |  UNION
        |  SELECT rc.src, e.dst FROM reach rc JOIN edges e ON rc.node = e.src
        |),
        |comp AS (SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src),
        |sz AS (SELECT cluster_id, count(*)::BIGINT AS csz FROM comp GROUP BY cluster_id),
        |d AS (SELECT doc_id, source, len(string_split(text, ' '))::BIGINT AS ntok
        |      FROM documents),
        |j AS (SELECT d.source, d.ntok, coalesce(sz.csz, 1)::BIGINT AS csz
        |      FROM d LEFT JOIN comp USING (doc_id) LEFT JOIN sz USING (cluster_id))
        |SELECT source, count(*)::BIGINT AS n_docs, sum(ntok)::BIGINT AS n_tokens,
        |       sum(CASE WHEN csz > 1 THEN 1 ELSE 0 END)::BIGINT AS n_clustered,
        |       sum(ntok::HUGEINT * 1000000 // csz)::BIGINT AS eff_micro,
        |       CASE WHEN sum(ntok) > 0
        |            THEN (sum(ntok::HUGEINT * 1000000 // csz) // sum(ntok))::BIGINT
        |       END AS eff_ratio_ppm
        |FROM j GROUP BY source ORDER BY source""".stripMargin,
    // same md5-parity signs, same integer projections and bit packs,
    // same q173 smoothed PSI parts
    "q350_embedding_psi" -> {
      val hexpr = mdUnits("'psi|' || r || '|' || d")
      s"""WITH ex AS (
         |  SELECT vec_id, i - 1 AS d,
         |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS x
         |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
         |  WHERE len(embedding) > 0),
         |dims AS (SELECT DISTINCT d FROM ex),
         |signs AS (SELECT d, r,
         |            CASE WHEN $hexpr % 2 = 0 THEN 1 ELSE -1 END AS s
         |          FROM dims, range(0, 6) t(r)),
         |proj AS (SELECT vec_id, r, sum(s * x)::BIGINT AS p
         |         FROM ex JOIN signs USING (d) GROUP BY 1, 2),
         |bkt AS (SELECT vec_id,
         |          sum(CASE WHEN p >= 0 THEN 1::BIGINT << r ELSE 0 END)::BIGINT AS bucket
         |        FROM proj GROUP BY vec_id),
         |cells AS (SELECT bucket,
         |            sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ref,
         |            sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_cur
         |          FROM bkt GROUP BY bucket),
         |tot AS (SELECT sum(n_ref)::BIGINT AS tot_ref, sum(n_cur)::BIGINT AS tot_cur,
         |               count(*)::BIGINT AS n_bands
         |        FROM cells)
         |SELECT bucket, n_ref, n_cur,
         |  round(((CAST(n_ref + 1 AS DOUBLE) / (tot_ref + n_bands))
         |         - (CAST(n_cur + 1 AS DOUBLE) / (tot_cur + n_bands)))
         |        * ln((CAST(n_ref + 1 AS DOUBLE) / (tot_ref + n_bands))
         |             / (CAST(n_cur + 1 AS DOUBLE) / (tot_cur + n_bands))), 6)
         |    AS psi_part
         |FROM cells, tot ORDER BY bucket""".stripMargin
    },
    // same embedded z-sum, same harmonic-n, same micro floors
    "q349_mde_power" ->
      """WITH u AS (SELECT user_id % 2 = 1 AS treated,
        |                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
        |                    AS converted
        |           FROM events GROUP BY user_id),
        |s AS (SELECT sum(CASE WHEN treated THEN 1 ELSE 0 END)::BIGINT AS n_t,
        |             sum(CASE WHEN treated AND converted THEN 1 ELSE 0 END)::BIGINT AS x_t,
        |             sum(CASE WHEN NOT treated THEN 1 ELSE 0 END)::BIGINT AS n_c,
        |             sum(CASE WHEN NOT treated AND converted THEN 1 ELSE 0 END)::BIGINT AS x_c
        |      FROM u),
        |m AS (SELECT *, ((x_t + x_c) * 1000000 // (n_t + n_c))::BIGINT AS p_ppm,
        |        CASE WHEN n_t > 0 AND n_c > 0
        |             THEN (2::HUGEINT * n_t * n_c * 1000000 // (n_t + n_c))::BIGINT
        |        END AS nh_micro
        |      FROM s),
        |k AS (SELECT *,
        |        CASE WHEN nh_micro > 0 THEN CAST(floor(
        |          2.801585218112969 * sqrt(
        |            2.0 * (p_ppm::DOUBLE / 1e6) * (1.0 - p_ppm::DOUBLE / 1e6)
        |            / (nh_micro::DOUBLE / 1e6)) * 1e6) AS BIGINT) END AS mde_micro,
        |        CASE WHEN n_t > 0 AND n_c > 0
        |             THEN (x_t * 1000000 // n_t - x_c * 1000000 // n_c)::BIGINT
        |        END AS diff_micro
        |      FROM m)
        |SELECT n_t, n_c, p_ppm, mde_micro, diff_micro,
        |       CASE WHEN mde_micro IS NOT NULL
        |            THEN abs(diff_micro) >= mde_micro END AS powered
        |FROM k""".stripMargin,
    // same ppm-quantized rates, same integer MoM prior and posteriors
    "q347_eb_shrinkage" ->
      """WITH per AS (SELECT source, count(*)::BIGINT AS n,
        |                    sum((lang = 'en')::BIGINT)::BIGINT AS x
        |             FROM documents GROUP BY source),
        |pp AS (SELECT *, (x * 1000000 // n)::BIGINT AS p_ppm FROM per),
        |pr AS (SELECT count(*)::BIGINT AS m, sum(p_ppm)::BIGINT AS sp,
        |              sum(p_ppm::HUGEINT * p_ppm) AS spp
        |       FROM pp),
        |mo AS (SELECT m, (sp // m)::BIGINT AS mu_ppm,
        |              ((m * spp - sp::HUGEINT * sp) // (m::HUGEINT * m))::BIGINT AS v_pp2
        |       FROM pr),
        |kk AS (SELECT m, mu_ppm, v_pp2,
        |         CASE WHEN v_pp2 > 0
        |              THEN (mu_ppm::HUGEINT * (1000000 - mu_ppm) * 1000000 // v_pp2
        |                    - 1000000)::BIGINT
        |         END AS k_micro
        |       FROM mo)
        |SELECT source, n, x, p_ppm AS raw_ppm, mu_ppm, k_micro,
        |       CASE WHEN k_micro > 0
        |            THEN ((x::HUGEINT * 1000000 * 1000000
        |                   + mu_ppm::HUGEINT * k_micro)
        |                  // (n::HUGEINT * 1000000 + k_micro))::BIGINT
        |            ELSE p_ppm END AS shrunk_ppm
        |FROM pp, kk ORDER BY source""".stripMargin,
    // same user frame, same band floors, same micro arm means
    "q348_post_strat_ate" ->
      """WITH u AS (SELECT user_id % 2 = 1 AS treated,
        |                  count(*) // 32 AS band,
        |                  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS y
        |           FROM events GROUP BY user_id),
        |b AS (SELECT band,
        |        sum(CASE WHEN treated THEN 1 ELSE 0 END)::BIGINT AS nt,
        |        sum(CASE WHEN treated THEN y END)::BIGINT AS st,
        |        sum(CASE WHEN NOT treated THEN 1 ELSE 0 END)::BIGINT AS nc,
        |        sum(CASE WHEN NOT treated THEN y END)::BIGINT AS sc
        |      FROM u GROUP BY band),
        |t AS (SELECT count(*)::BIGINT AS n_users,
        |        sum(CASE WHEN treated THEN y END)::BIGINT AS ty,
        |        sum(CASE WHEN treated THEN 1 ELSE 0 END)::BIGINT AS tn,
        |        sum(CASE WHEN NOT treated THEN y END)::BIGINT AS cy,
        |        sum(CASE WHEN NOT treated THEN 1 ELSE 0 END)::BIGINT AS cn
        |      FROM u),
        |agg AS (SELECT count(*)::BIGINT AS n_bands,
        |          sum(CASE WHEN nt > 0 AND nc > 0 THEN 1 ELSE 0 END)::BIGINT
        |            AS n_bands_used,
        |          sum(CASE WHEN nt > 0 AND nc > 0 THEN nt + nc ELSE 0 END)::BIGINT
        |            AS n_covered,
        |          sum(CASE WHEN nt > 0 AND nc > 0
        |              THEN (nt + nc)::HUGEINT
        |                   * (st * 1000000 // nt - sc * 1000000 // nc)
        |              ELSE 0 END) AS wsum
        |        FROM b)
        |SELECT n_users, n_bands, n_bands_used, n_covered,
        |       (ty * 1000000 // tn - cy * 1000000 // cn)::BIGINT AS naive_diff_micro,
        |       CASE WHEN n_covered > 0 THEN (wsum // n_covered)::BIGINT
        |       END AS ate_ps_micro
        |FROM agg, t""".stripMargin,
    // same integer (xn−S)²/(nQ−S²) per-dim terms, micro-floored
    "q345_mahalanobis_ood" ->
      """WITH ex AS (
        |  SELECT vec_id, label, i AS d,
        |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS x
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
        |mom AS (SELECT label, d, count(*)::BIGINT AS n,
        |               sum(x::HUGEINT) AS s, sum(x::HUGEINT * x) AS qq
        |        FROM ex GROUP BY 1, 2),
        |t AS (SELECT ex.vec_id, ex.label,
        |        CASE WHEN m.n * m.qq - m.s * m.s > 0
        |             THEN ((ex.x::HUGEINT * m.n - m.s) * (ex.x::HUGEINT * m.n - m.s)
        |                   * 1000000 // (m.n * m.qq - m.s * m.s))::BIGINT
        |             ELSE 0 END AS t
        |      FROM ex JOIN mom m ON m.label = ex.label AND m.d = ex.d),
        |dd AS (SELECT max(len(embedding))::BIGINT AS dims FROM embeddings),
        |per AS (SELECT vec_id, label, sum(t)::BIGINT AS md2 FROM t GROUP BY 1, 2)
        |SELECT label, count(*)::BIGINT AS n_vecs, max(dims)::BIGINT AS dims,
        |       (sum(md2) // count(*))::BIGINT AS avg_md2_micro,
        |       max(md2)::BIGINT AS max_md2_micro,
        |       sum(CASE WHEN md2 > 9000000 * dims THEN 1 ELSE 0 END)::BIGINT
        |         AS n_beyond_3sigma
        |FROM per, dd GROUP BY label ORDER BY label""".stripMargin,
    // same length histogram, same floor-quantized F^B mass terms
    "q346_padding_waste" ->
      """WITH hist AS (SELECT len(string_split(text, ' '))::BIGINT AS v,
        |                     count(*)::BIGINT AS c
        |              FROM documents GROUP BY 1),
        |tot AS (SELECT sum(c)::BIGINT AS n, sum(v * c)::BIGINT AS t,
        |               sum((((v + 31) // 32) * 32 - v) * c)::BIGINT AS wb
        |        FROM hist),
        |cum AS (SELECT v, c, sum(c) OVER (ORDER BY v)::BIGINT AS cum FROM hist),
        |emax AS (SELECT sum(CAST(floor(v * (pow(cum::DOUBLE / n, 16)
        |                  - pow((cum - c)::DOUBLE / n, 16)) * 1e6) AS BIGINT))::BIGINT
        |           AS emax_micro
        |         FROM cum, tot)
        |SELECT n AS n_docs, t AS total_tokens, emax_micro AS expected_max_micro,
        |       (wb::HUGEINT * 1000000 // (t + wb))::BIGINT AS bucketed_waste_ppm,
        |       CASE WHEN emax_micro * n > 0
        |            THEN ((emax_micro::HUGEINT * n - t::HUGEINT * 1000000)
        |                  * 1000000 // (emax_micro::HUGEINT * n))::BIGINT
        |       END AS random_waste_ppm
        |FROM tot, emax""".stripMargin,
    // same exact per-group percentiles, same round-4 cut contract
    "q342_quantile_normalize" -> {
      val ps = (1 until 10).map(k => s"${k / 10.0}::DOUBLE").mkString(", ")
      s"""WITH per AS (
         |  SELECT source, count(*)::BIGINT AS n_docs,
         |         quantile_cont(n_chars, [$ps]) AS c
         |  FROM documents GROUP BY source),
         |perx AS (
         |  SELECT source, n_docs, i::BIGINT AS decile, round(c[i], 4) AS src_cut
         |  FROM per, unnest(generate_series(1, 9)) AS u(i)),
         |gq AS (SELECT quantile_cont(n_chars, [$ps]) AS c FROM documents),
         |globx AS (SELECT i::BIGINT AS decile, round(c[i], 4) AS global_cut
         |          FROM gq, unnest(generate_series(1, 9)) AS u(i))
         |SELECT source, n_docs, perx.decile, src_cut, global_cut,
         |       round(global_cut - src_cut, 4) AS shift
         |FROM perx JOIN globx ON globx.decile = perx.decile
         |ORDER BY source, perx.decile""".stripMargin
    },
    // same integer moment sums; pooled = sum of the per-source frame
    "q343_simpson_audit" ->
      """WITH m AS (
        |  SELECT source, count(*)::BIGINT AS n,
        |         sum(n_chars::HUGEINT) AS sx,
        |         sum((lang = 'en')::HUGEINT) AS sy,
        |         sum(n_chars::HUGEINT * (lang = 'en')::BIGINT) AS sxy,
        |         sum(n_chars::HUGEINT * n_chars) AS sxx,
        |         sum(((lang = 'en')::HUGEINT) * ((lang = 'en')::BIGINT)) AS syy
        |  FROM documents GROUP BY source),
        |p AS (SELECT sum(n)::BIGINT AS pn, sum(sx) AS psx, sum(sy) AS psy,
        |             sum(sxy) AS psxy, sum(sxx) AS psxx, sum(syy) AS psyy
        |      FROM m),
        |pc AS (SELECT CASE WHEN (pn * psxx - psx * psx)::DOUBLE > 0
        |                    AND (pn * psyy - psy * psy)::DOUBLE > 0
        |              THEN round((pn * psxy - psx * psy)::DOUBLE /
        |                sqrt((pn * psxx - psx * psx)::DOUBLE
        |                     * (pn * psyy - psy * psy)::DOUBLE), 4)
        |              END AS corr_pooled
        |      FROM p)
        |SELECT source, n,
        |  CASE WHEN (n * sxx - sx * sx)::DOUBLE > 0
        |        AND (n * syy - sy * sy)::DOUBLE > 0
        |       THEN round((n * sxy - sx * sy)::DOUBLE /
        |         sqrt((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE), 4)
        |  END AS corr_src,
        |  corr_pooled,
        |  CASE WHEN (CASE WHEN (n * sxx - sx * sx)::DOUBLE > 0
        |                   AND (n * syy - sy * sy)::DOUBLE > 0
        |             THEN round((n * sxy - sx * sy)::DOUBLE /
        |               sqrt((n * sxx - sx * sx)::DOUBLE
        |                    * (n * syy - sy * sy)::DOUBLE), 4) END) IS NOT NULL
        |         AND corr_pooled IS NOT NULL
        |       THEN (CASE WHEN (n * sxx - sx * sx)::DOUBLE > 0
        |                   AND (n * syy - sy * sy)::DOUBLE > 0
        |             THEN round((n * sxy - sx * sy)::DOUBLE /
        |               sqrt((n * sxx - sx * sx)::DOUBLE
        |                    * (n * syy - sy * sy)::DOUBLE), 4) END) * corr_pooled < 0
        |  END AS sign_flip
        |FROM m, pc ORDER BY source""".stripMargin,
    // same complement ECDF numerator, same asymptotic p quantization,
    // same integer BH step-up
    "q344_bh_fdr" ->
      """WITH counts AS (SELECT source, n_chars AS v, count(*)::BIGINT AS c
        |                FROM documents GROUP BY 1, 2),
        |vals AS (SELECT DISTINCT v FROM counts),
        |srcs AS (SELECT source, count(*)::BIGINT AS n_s FROM documents GROUP BY source),
        |byv AS (SELECT n_chars AS v, count(*)::BIGINT AS cc FROM documents GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS n_c FROM documents),
        |grid AS (SELECT s.source, s.n_s, x.v, coalesce(c.c, 0)::BIGINT AS c, byv.cc
        |         FROM srcs s CROSS JOIN vals x
        |         LEFT JOIN counts c ON c.source = s.source AND c.v = x.v
        |         JOIN byv ON byv.v = x.v),
        |cum AS (SELECT source, n_s, v, cc,
        |          sum(c) OVER (PARTITION BY source ORDER BY v)::BIGINT AS cum_s,
        |          sum(cc) OVER (PARTITION BY source ORDER BY v)::BIGINT AS cum_c
        |        FROM grid),
        |ks AS (SELECT source, max(n_s)::BIGINT AS n_s, max(n_c)::BIGINT AS n_c,
        |          max(abs(cum_s::HUGEINT * (n_c - n_s)
        |                  - (cum_c - cum_s)::HUGEINT * n_s)) AS d_num
        |       FROM cum, tot GROUP BY source),
        |kd AS (SELECT source, n_s,
        |         d_num::DOUBLE / (n_s::DOUBLE * (n_c - n_s)::DOUBLE) AS d,
        |         n_s * (n_c - n_s) AS ne_num, n_c
        |       FROM ks WHERE n_c > n_s),
        |kp AS (SELECT source, n_s, d,
        |         least(1000000, CAST(floor(2.0 * exp(-2.0 * ne_num::DOUBLE
        |           / n_c::DOUBLE * d * d) * 1e6) AS BIGINT)) AS p_micro
        |       FROM kd),
        |rk AS (SELECT *, row_number() OVER (ORDER BY p_micro, source)::BIGINT AS rank,
        |              (SELECT count(*) FROM kp)::BIGINT AS m
        |       FROM kp),
        |ok AS (SELECT *, p_micro * m <= rank * 50000 AS ok FROM rk),
        |kstar AS (SELECT coalesce(max(CASE WHEN ok THEN rank END), 0)::BIGINT AS k_star
        |          FROM ok)
        |SELECT source, n_s, round(d, 4) AS ks_d, p_micro, rank,
        |       rank <= k_star AS rejected
        |FROM ok, kstar ORDER BY rank""".stripMargin,
    // same five integer sums, squares in HUGEINT, one double division
    "q338_cochran_q" ->
      (s"""WITH h AS ($votesSql),
         |s AS (SELECT count(*)::BIGINT AS n_items,
         |        sum(v1)::BIGINT AS c1, sum(v2)::BIGINT AS c2, sum(v3)::BIGINT AS c3,
         |        sum(v1 + v2 + v3)::BIGINT AS t,
         |        sum((v1 + v2 + v3)::HUGEINT * (v1 + v2 + v3)) AS sr2
         |      FROM h)
         |SELECT n_items, c1, c2, c3,
         |       CASE WHEN 3 * t - sr2 > 0
         |            THEN round(2.0 * (3 * (c1::HUGEINT * c1 + c2::HUGEINT * c2
         |                                   + c3::HUGEINT * c3)
         |                              - t::HUGEINT * t)::DOUBLE
         |                       / (3 * t - sr2)::DOUBLE, 4)
         |       END AS cochran_q
         |FROM s""").stripMargin,
    // same nested md5 levels, same suffix sums, same micro-nat slope fit
    "q339_heaps_law" -> {
      val hexpr = mdUnits("'heaps|' || doc_id::VARCHAR")
      val lvlExpr = Seq(576460752303423488L, 288230376151711744L,
        144115188075855872L, 72057594037927936L)
        .map(t => s"(h < $t)::BIGINT").mkString(" + ")
      s"""WITH d AS (SELECT doc_id, text, $hexpr AS h FROM documents),
         |dl AS (SELECT doc_id, text, ($lvlExpr)::BIGINT AS lvl FROM d),
         |da AS (SELECT lvl, count(*)::BIGINT AS nd,
         |              sum(len(string_split(text, ' ')))::BIGINT AS nt
         |       FROM dl GROUP BY lvl),
         |ta AS (SELECT ml, count(*)::BIGINT AS nv FROM (
         |         SELECT tok, max(lvl) AS ml FROM (
         |           SELECT lvl, unnest(string_split(text, ' ')) AS tok FROM dl)
         |         GROUP BY tok)
         |       GROUP BY ml),
         |lv AS (SELECT range AS l FROM range(0, 5)),
         |pts AS (
         |  SELECT dd.l AS level, dd.n_docs, dd.n_tokens, vv.vocab,
         |         CAST(floor(ln(dd.n_tokens::DOUBLE) * 1000000) AS BIGINT) AS x,
         |         CAST(floor(ln(vv.vocab::DOUBLE) * 1000000) AS BIGINT) AS y
         |  FROM (SELECT l, sum(nd)::BIGINT AS n_docs, sum(nt)::BIGINT AS n_tokens
         |        FROM lv JOIN da ON da.lvl >= lv.l GROUP BY l) dd
         |  JOIN (SELECT l, sum(nv)::BIGINT AS vocab
         |        FROM lv JOIN ta ON ta.ml >= lv.l GROUP BY l) vv ON vv.l = dd.l),
         |fit AS (SELECT count(*)::BIGINT AS m, sum(x)::BIGINT AS sx,
         |               sum(y)::BIGINT AS sy, sum(x::HUGEINT * y) AS sxy,
         |               sum(x::HUGEINT * x) AS sxx
         |        FROM pts)
         |SELECT level, n_docs, n_tokens, vocab,
         |       CASE WHEN m * sxx - sx::HUGEINT * sx > 0
         |            THEN round((m * sxy - sx::HUGEINT * sy)::DOUBLE
         |                       / (m * sxx - sx::HUGEINT * sx)::DOUBLE, 4)
         |       END AS heaps_beta
         |FROM pts, fit ORDER BY level""".stripMargin
    },
    // same per-term atto quantization before the sum
    "q340_renyi_efficiency" ->
      """WITH c AS (SELECT tok, count(*)::BIGINT AS c FROM (
        |             SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |           GROUP BY tok),
        |tot AS (SELECT sum(c)::BIGINT AS nn, count(*)::BIGINT AS v FROM c),
        |terms AS (SELECT nn, v,
        |            CAST(floor(exp(2.5 * (ln(c::DOUBLE) - ln(nn::DOUBLE))) * 1e18)
        |                 AS BIGINT) AS term
        |          FROM c, tot),
        |s AS (SELECT nn, v, sum(term)::BIGINT AS s_atto FROM terms GROUP BY nn, v)
        |SELECT nn AS n_tokens, v AS vocab, s_atto,
        |       round(ln(s_atto::DOUBLE / 1e18) / (1.0 - 2.5), 6) AS renyi_h,
        |       CASE WHEN v > 1
        |            THEN round(ln(s_atto::DOUBLE / 1e18) / (1.0 - 2.5)
        |                       / ln(v::DOUBLE), 6)
        |       END AS renyi_efficiency
        |FROM s""".stripMargin,
    // same embedded micro-nat LLR constants, same running day frame
    "q341_sprt_monitor" ->
      """WITH days AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*)::BIGINT AS n,
        |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS x
        |  FROM events WHERE user_id % 2 = 1 GROUP BY 1),
        |cum AS (SELECT day, n, x,
        |          sum(n) OVER (ORDER BY day)::BIGINT AS cum_n,
        |          sum(x) OVER (ORDER BY day)::BIGINT AS cum_x
        |        FROM days)
        |SELECT day, n, x, cum_n, cum_x,
        |       (cum_x * 223143 + (cum_n - cum_x) * -64539)::BIGINT AS llr_micro,
        |       CASE WHEN cum_x * 223143 + (cum_n - cum_x) * -64539 >= 2944438
        |              THEN 'accept_h1'
        |            WHEN cum_x * 223143 + (cum_n - cum_x) * -64539 <= -2944439
        |              THEN 'accept_h0'
        |            ELSE 'continue' END AS decision
        |FROM cum ORDER BY day""".stripMargin,
    // identical integer Poisson thresholds, identical md5 units, same
    // rank-picked CI bounds
    "q333_poisson_bootstrap" -> {
      val hexpr = mdUnits("'boot|' || r::VARCHAR || '|' || doc_id::VARCHAR")
      val wexpr = Seq(424136118829305344L, 848272237658610688L,
        1060340297073263360L, 1131029650211480960L, 1148701988496035328L,
        1152236456152946176L, 1152825534095764608L, 1152909688087595776L)
        .map(t => s"(h >= $t)::BIGINT").mkString(" + ")
      s"""WITH base AS (SELECT source, n_chars, r, $hexpr AS h
         |              FROM documents, range(0, 32) t(r)),
         |w AS (SELECT source, r, n_chars, ($wexpr)::BIGINT AS w FROM base),
         |rm AS (SELECT source, r, sum(w)::BIGINT AS neff,
         |              sum(w * n_chars)::BIGINT AS ws
         |       FROM w GROUP BY 1, 2),
         |mm AS (SELECT source, r, ((ws::HUGEINT * 1000000) // neff)::BIGINT AS m
         |       FROM rm WHERE neff > 0),
         |rk AS (SELECT source, m,
         |         row_number() OVER (PARTITION BY source ORDER BY m, r) AS ra,
         |         row_number() OVER (PARTITION BY source ORDER BY m DESC, r DESC) AS rd
         |       FROM mm),
         |ci AS (SELECT source, count(*)::BIGINT AS n_reps,
         |              max(CASE WHEN ra = 2 THEN m END)::BIGINT AS lo_micro,
         |              max(CASE WHEN rd = 2 THEN m END)::BIGINT AS hi_micro
         |       FROM rk GROUP BY source),
         |pt AS (SELECT source, count(*)::BIGINT AS n_docs,
         |              ((sum(n_chars)::HUGEINT * 1000000) // count(*))::BIGINT AS mean_micro
         |       FROM documents GROUP BY source)
         |SELECT pt.source, n_docs, mean_micro, n_reps, lo_micro, hi_micro
         |FROM pt JOIN ci ON pt.source = ci.source ORDER BY pt.source""".stripMargin
    },
    // same 8-row vote-pattern frame, same unrolled EM in HUGEINT //
    "q334_dawid_skene" ->
      ("""WITH h AS (SELECT (lang = 'en')::BIGINT AS v1,
        |       (len(list_filter(string_split(lower(text), ' '), w -> w IN ('the','a','and')))
        |          >= len(list_filter(string_split(lower(text), ' '), w -> w IN ('el','la','los')))
        |        AND len(list_filter(string_split(lower(text), ' '), w -> w IN ('the','a','and')))
        |          >= len(list_filter(string_split(lower(text), ' '), w -> w IN ('der','die','und')))
        |        AND len(list_filter(string_split(lower(text), ' '), w -> w IN ('the','a','and')))
        |          >= len(list_filter(string_split(lower(text), ' '), w -> w IN ('le','les','des')))
        |        AND len(list_filter(string_split(lower(text), ' '), w -> w IN ('the','a','and'))) > 0
        |       )::BIGINT AS v2,
        |       ((length(lower(text)) - length(replace(lower(text), 'e', ''))) * 1000
        |          >= length(text) * 75)::BIGINT AS v3
        |     FROM documents),
        |p0 AS MATERIALIZED (SELECT v1, v2, v3, count(*)::BIGINT AS cnt,
        |       ((v1 + v2 + v3) * 1000000 // 3)::BIGINT AS q
        |     FROM h GROUP BY 1, 2, 3),
        |""" + dsRoundSql(1) + ",\n" + dsRoundSql(2) + """
        |
        |SELECT r.rater, r.se_micro, r.sp_micro, mm2.pi AS pi_micro, mm2.n AS n_docs
        |FROM mm2, (
        |  SELECT 'a_label' AS rater, se1 AS se_micro, sp1 AS sp_micro FROM mm2
        |  UNION ALL SELECT 'b_stopword', se2, sp2 FROM mm2
        |  UNION ALL SELECT 'c_erate', se3, sp3 FROM mm2) r
        |ORDER BY r.rater""").stripMargin,
    // same ppm score, same floor-mean thresholds, same argmax tie rule
    "q335_confident_learning" ->
      """WITH base AS (SELECT (lang = 'en')::BIGINT AS y,
        |       ((length(lower(text)) - length(replace(lower(text), 'e', ''))) * 1000000
        |         // greatest(length(text), 1))::BIGINT AS p
        |     FROM documents),
        |th AS (SELECT
        |         sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
        |         sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
        |         sum(CASE WHEN y = 1 THEN p END)::BIGINT AS s1,
        |         sum(CASE WHEN y = 0 THEN 1000000 - p END)::BIGINT AS s0
        |       FROM base),
        |tt AS (SELECT n1, n0,
        |         CASE WHEN n1 > 0 THEN s1 // n1 END AS t1,
        |         CASE WHEN n0 > 0 THEN s0 // n0 END AS t0
        |       FROM th),
        |j AS (SELECT y, p, p >= t1 AS q1, 1000000 - p >= t0 AS q0, t1, t0
        |      FROM base, tt),
        |pr AS (SELECT y, t1, t0,
        |         CASE WHEN q1 AND q0 THEN CASE WHEN p * 2 >= 1000000 THEN 1 ELSE 0 END
        |              WHEN q1 THEN 1
        |              WHEN q0 THEN 0 END AS pred
        |       FROM j),
        |s AS (SELECT count(*)::BIGINT AS n,
        |        max(t1)::BIGINT AS t1_micro, max(t0)::BIGINT AS t0_micro,
        |        sum(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END)::BIGINT AS c11,
        |        sum(CASE WHEN y = 1 AND pred = 0 THEN 1 ELSE 0 END)::BIGINT AS c10,
        |        sum(CASE WHEN y = 0 AND pred = 1 THEN 1 ELSE 0 END)::BIGINT AS c01,
        |        sum(CASE WHEN y = 0 AND pred = 0 THEN 1 ELSE 0 END)::BIGINT AS c00
        |      FROM pr)
        |SELECT n, t1_micro, t0_micro, c11, c10, c01, c00,
        |       (c11 + c10 + c01 + c00)::BIGINT AS n_counted,
        |       CASE WHEN c11 + c10 + c01 + c00 > 0
        |            THEN ((c10 + c01) * 1000000 // (c11 + c10 + c01 + c00))::BIGINT
        |       END AS noise_ppm
        |FROM s""".stripMargin,
    // same micro quantization; ||Σx||² − Σ||x||² identity on both sides
    "q336_embedding_isotropy" ->
      """WITH ex AS (
        |  SELECT vec_id, label, i,
        |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS x
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
        |  WHERE len(embedding) > 0),
        |selfd AS (SELECT vec_id, label, sum(x * x)::BIGINT AS sd
        |          FROM ex GROUP BY 1, 2),
        |selfa AS (SELECT label, count(*)::BIGINT AS n, sum(sd::HUGEINT) AS ssum
        |          FROM selfd GROUP BY label),
        |dims AS (SELECT label, i, sum(x)::BIGINT AS s FROM ex GROUP BY 1, 2),
        |s2 AS (SELECT label, sum(s::HUGEINT * s) AS s2 FROM dims GROUP BY label)
        |SELECT selfa.label, n AS n_vecs,
        |  round(ssum::DOUBLE / n / 1e12, 6) AS avg_self_dot,
        |  CASE WHEN n > 1
        |       THEN round((s2 - ssum)::DOUBLE / (n * (n - 1))::DOUBLE / 1e12, 6)
        |  END AS avg_pair_dot,
        |  CASE WHEN n > 1 AND ssum > 0
        |       THEN round((s2 - ssum)::DOUBLE / (ssum * (n - 1))::DOUBLE, 6)
        |  END AS isotropy_ratio
        |FROM selfa JOIN s2 ON selfa.label = s2.label
        |ORDER BY selfa.label""".stripMargin,
  )
}
