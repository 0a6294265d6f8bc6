package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed model-fitting operators: statistics LEARNED from the
  * corpus in a single aggregate pass and applied/reported without any
  * iterative driver loop. The pattern both operators share is the one
  * that scales: reduce the corpus to a tiny sufficient-statistic frame
  * (a moment matrix, a conditional count table), then do the "model"
  * arithmetic on that bounded frame.
  *
  * Reference provenance: the reference pipeline scores and filters
  * datasets with externally-trained heuristics (`ingest-pipeline`'s QA
  * metrics, e.g. src/ingest-validation-tools usage of fixed
  * thresholds); these operators close the loop by fitting the
  * thresholds from the data itself, the way a training-data curation
  * pipeline calibrates its quality gates.
  */
object Modeling extends QueryModule {

  /** q159: closed-form OLS fit y = b0 + b1·x1 + b2·x2 learned in ONE
    * distributed aggregate — the "train a model without a driver loop"
    * pattern. Features are exact integers (token count, distinct-token
    * count; target = n_chars), so the 3×3 normal-equation moment
    * matrix is an order-independent integer sum and both engines see
    * bit-identical sufficient statistics; the Cramer solve is a single
    * pinned left-to-right double expression evaluated on that 1-row
    * frame, identical on both engines.
    *
    * Scale shape: the corpus collapses to TEN int64 sums with map-side
    * partials — the shuffle carries one row per partition. Nothing
    * downstream of the aggregate depends on corpus size. (Past ~10^9
    * docs the raw moments need decimal widening — same note as q122.)
    */
  def qualityOls(documents: DataFrame): DataFrame = {
    val ts = split(lower(col("text")), " ")
    val f = documents.select(
      size(ts).cast("long").as("x1"),
      size(array_distinct(ts)).cast("long").as("x2"),
      col("n_chars").cast("long").as("y"))
    val s = f.agg(
      count(lit(1)).as("n"),
      sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
      sum(expr("x1*x1")).as("s11"), sum(expr("x1*x2")).as("s12"),
      sum(expr("x2*x2")).as("s22"), sum(expr("x1*y")).as("s1y"),
      sum(expr("x2*y")).as("s2y"), sum(expr("y*y")).as("syy"))
    // Cramer's rule on A = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]],
    // rhs = [sy,s1y,s2y]; all terms double-cast ONCE then combined in
    // a fixed order mirrored verbatim in the DuckDB oracle.
    val d = s.select(
      col("n"),
      col("n").cast("double").as("a"), col("s1").cast("double").as("b"),
      col("s2").cast("double").as("c"), col("s1").cast("double").as("d"),
      col("s11").cast("double").as("e"), col("s12").cast("double").as("f"),
      col("s2").cast("double").as("g"), col("s12").cast("double").as("h"),
      col("s22").cast("double").as("i"), col("sy").cast("double").as("r0"),
      col("s1y").cast("double").as("r1"), col("s2y").cast("double").as("r2"),
      col("syy").cast("double").as("syy"))
    val solved = d
      .withColumn("det",  expr("a*(e*i - f*h) - b*(d*i - f*g) + c*(d*h - e*g)"))
      .withColumn("det0", expr("r0*(e*i - f*h) - b*(r1*i - f*r2) + c*(r1*h - e*r2)"))
      .withColumn("det1", expr("a*(r1*i - f*r2) - r0*(d*i - f*g) + c*(d*r2 - r1*g)"))
      .withColumn("det2", expr("a*(e*r2 - r1*h) - b*(d*r2 - r1*g) + r0*(d*h - e*g)"))
      .withColumn("b0", expr("det0/det"))
      .withColumn("b1", expr("det1/det"))
      .withColumn("b2", expr("det2/det"))
      .withColumn("sse", expr("syy - b0*r0 - b1*r1 - b2*r2"))
      .withColumn("sst", expr("syy - r0*r0/a"))
    solved.select(
      col("n"),
      round(col("b0"), 6).as("b0"),
      round(col("b1"), 6).as("b1"),
      round(col("b2"), 6).as("b2"),
      round(expr("1.0 - sse/sst"), 6).as("r2_fit"))
  }

  /** q160: per-source mean bigram surprisal under an add-one-smoothed
    * bigram LM trained on the corpus itself — the CCNet/perplexity
    * quality-filter shape without an external LM: sources whose text is
    * "surprising" to the corpus's own statistics are the outlier slices
    * a curation pass inspects first.
    *
    * p(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V), where c(w1·) counts bigram
    * instances with first token w1 and V = |distinct second tokens|.
    * Surprisal is floor-scaled to integer micro-nats per distinct
    * (source,w1,w2) cell, then count-weighted — the q122 convention,
    * so per-source sums are order-independent integers.
    *
    * Scale shape: the bigram explode collapses immediately into a
    * groupBy on (source,w1,w2) — the only corpus-sized shuffle — and
    * the global counts are WINDOW sums over that grouped
    * (vocab²-bounded) frame, not a corpus re-scan; one exchange on w1
    * serves both windows (subset-hash satisfies both clusterings).
    * The 1-row vocab scalar (distinct w2) is a second aggregate over
    * the same grouped stream; Catalyst prunes its count column, which
    * blocks exchange reuse, so it costs one more tokenize+combine
    * pass — a cluster run materializes the grouped frame once and
    * pays a single scan. Never more than these two passes
    * (plan-asserted).
    */
  def bigramSurprisal(documents: DataFrame): DataFrame = {
    val ts = split(lower(col("text")), " ")
    val pairs = documents.select(col("source"), explode(zip_with(
        slice(ts, lit(1), size(ts) - 1), slice(ts, lit(2), size(ts) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("source"), col("bg.w1"), col("bg.w2"))
    val grouped = pairs.groupBy("source", "w1", "w2").agg(count(lit(1)).as("nb"))
    val vocab = grouped.agg(countDistinct(col("w2")).as("v"))
    val scored = grouped
      .withColumn("c_xy", sum("nb").over(Window.partitionBy("w1", "w2")))
      .withColumn("c_x", sum("nb").over(Window.partitionBy("w1")))
      .crossJoin(broadcast(vocab))
      .withColumn("u", expr(
        "CAST(floor(-ln((CAST(c_xy AS DOUBLE) + 1.0) / (CAST(c_x AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000) AS BIGINT)"))
    scored.groupBy("source").agg(
        sum(col("nb")).as("n_bigrams"),
        sum(col("nb") * col("u")).as("su"))
      .select(col("source"), col("n_bigrams"),
        round(col("su") / col("n_bigrams") / lit(1000000.0), 4).as("mean_surprisal"))
      .withColumn("ppl", round(exp(col("mean_surprisal")), 2))
      .orderBy("source")
  }

  /** q168: BPE merge learning — the first `rounds` byte-pair-encoding
    * merge operations learned from the corpus, the distributed version
    * of the classic Sennrich et al. tokenizer-training loop (and the
    * training-side complement of q49's BPE-ish tokenizer).
    *
    * Words are symbol arrays; applying a merge is a LEFT FOLD that
    * rebuilds the sequence, collapsing `(l,r)` whenever the previous
    * output token is `l` — which reproduces classic greedy
    * left-to-right non-overlapping BPE exactly, including runs of
    * identical symbols (`a a a a` + merge `(a,a)` → `aa aa`, and the
    * freshly merged token never re-pairs within the same round). The
    * fold is a builtin `aggregate` higher-order function here and a
    * `list_reduce` over a delimited-string accumulator in the DuckDB
    * oracle, which unrolls the same rounds as CTEs. Pair counts are
    * freq-weighted integer sums (overlapping pairs counted, as in
    * classic `get_stats`); the argmax tie-break is (count desc, pair
    * asc), pinned on both engines.
    *
    * Scale shape: the corpus collapses ONCE into the (word, freq)
    * vocabulary — the only corpus-sized shuffle. Every merge round
    * then scans the VOCAB-sized frame (pair explode → map-side
    * combined sum → `limit(1)` argmax, a 1-row model-sized collect,
    * q129 convention). At 100 TB the vocabulary is still ~10⁷ rows;
    * rounds cost is independent of corpus size. Each round's fold is
    * materialized through [[graft.plans.Checkpoints.cut]] so round k
    * scans round k-1's blocks instead of replaying all k-1 folds from
    * the corpus (lineage would otherwise grow linearly in rounds, and
    * the per-round argmax collect would recompute the whole chain);
    * the session conf `spark.graft.checkpointDir` switches every cut to
    * reliable checkpoints for long multi-hundred-round training runs on
    * a real cluster.
    */
  /** Shared BPE training loop: returns the final vocab-collapsed word
    * state (word, t: token array, freq) AND the ordered merge list.
    * The word column rides along untouched so the encode report can map
    * corpus words to their tokenization without replaying the fold.
    */
  private[operators] def bpeTrain(documents: DataFrame, rounds: Int)
      : (DataFrame, Seq[(Int, String, String, String, Long)]) = {
    var words = graft.plans.Checkpoints.cut(documents
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), split(col("word"), "").as("t"), col("freq")))
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    for (round <- 1 to rounds) {
      val best = words
        .select(col("freq"), explode(expr(
          "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), (a, b) -> struct(a AS l, b AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r")).agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r")).limit(1)
        .collect()
      if (best.nonEmpty) {
        val (l, r, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        val m = l + r
        out += ((round, l, r, m, cnt))
        words = graft.plans.Checkpoints.cut(words
          .withColumn("lt", lit(l)).withColumn("rt", lit(r)).withColumn("mt", lit(m))
          .withColumn("t", expr(
            """aggregate(t, CAST(array() AS ARRAY<STRING>), (acc, x) ->
              |  IF(size(acc) > 0 AND element_at(acc, -1) = lt AND x = rt,
              |     concat(slice(acc, 1, size(acc) - 1), array(mt)),
              |     concat(acc, array(x))))""".stripMargin))
          .drop("lt", "rt", "mt"))
      }
    }
    (words, out.toSeq)
  }

  def bpeMerges(documents: DataFrame, rounds: Int = 8): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    bpeTrain(documents, rounds)._2
      .toDF("merge_rank", "lhs", "rhs", "merged", "cnt").orderBy("merge_rank")
  }

  /** q191: apply the learned BPE merges back to the corpus (the encode
    * half of the tokenizer: q168 trains, this tokenizes) and report
    * per-language fertility — total words, total tokens, and
    * tokens-per-word.
    *
    * Scale shape: encoding joins the corpus's exploded words against
    * the trained vocab ON THE WORD KEY — the fold over merge rules ran
    * once per vocab WORD during training, never per corpus token. The
    * vocab is corpus-vocabulary sized (heavy-tailed, usually broadcast-
    * able after AQE measures it; left unhinted so huge vocabs degrade
    * to a shuffle join instead of an OOM).
    */
  def bpeEncodeReport(documents: DataFrame, rounds: Int = 8): DataFrame = {
    val (words, _) = bpeTrain(documents, rounds)
    val vocab = words.select(col("word"), size(col("t")).cast("long").as("n_tok"))
    documents
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), " ")).as("word"))
      .join(vocab, "word")
      .groupBy("lang")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("total_words"),
        sum("n_tok").as("total_tokens"),
        round(sum("n_tok") / count(lit(1)).cast("double"), 4).as("tokens_per_word"))
      .orderBy("lang")
  }

  /** q169: ROC-AUC of a quality-classifier score, per source — the
    * standard eval for "does this scorer separate the target class",
    * computed exactly via the Mann-Whitney rank-sum identity (AUC =
    * P(score⁺ > score⁻) + ½P(tie)). Here the scorer is `n_chars` and
    * the target class is `lang = 'en'`, the same proxy pair the
    * calibration (q153) and OLS (q159) queries use.
    *
    * Everything is integer until the final division: the corpus
    * collapses to the per-(source, score) contingency first (ONE
    * corpus-sized shuffle, map-side combined), so the rank window runs
    * over the score-DISTINCT frame — bounded by |sources|×|distinct
    * lengths|, not by corpus rows, which is what makes the classic
    * "rank every row" formulation scale (no per-source corpus sort).
    * Tie-corrected doubled rank-sum: a tie group at inclusive running
    * count `cum` with `cnt` members has doubled average rank
    * 2·cum − cnt + 1; summing that over positives gives 2R⁺, and
    * AUC = (2R⁺ − n⁺(n⁺+1)) / (2 n⁺ n⁻). Sums ride in DECIMAL(38,0)
    * (HUGEINT on the oracle side) so the identity stays exact at
    * 100 TB per-source counts where n⁺·n⁻ overflows a long.
    */
  /** q322: BRIER SCORE with the Murphy (1973) decomposition — the
    * probabilistic-forecast rung of the eval ladder: ROC/AP (q169/q201)
    * rank, F1/MCC (q210/q270) threshold, isotonic (q197) recalibrates;
    * the Brier decomposition says WHERE a probability forecast loses —
    * reliability (calibration gap), resolution (how much the bins
    * separate the base rate), uncertainty (the irreducible ȳ(1−ȳ)) —
    * plus ECE, the modern summary of the same reliability diagram.
    * Forecaster under test: e-letter-frequency binned to 10 levels,
    * forecasting `lang = 'en'` at the bin midpoint (2k+1)/20.
    *
    * Exactness: with midpoint forecasts in twentieths and y ∈ {0, 1},
    * Brier·400·N = Σₖ[mₖ(Pₖ−20)² + (nₖ−mₖ)Pₖ²] is an exact integer,
    * as is ECE·20·N = Σₖ|Pₖnₖ − 20mₖ| and UNC = M(N−M)/N² up to one
    * division. REL/RES per-bin terms are rational with DIFFERENT
    * denominators, so each is floor-quantized to nano-units BEFORE the
    * sum (the q187 micro-nat device) — order-independent integer
    * aggregation, products in decimal(38,0) ↔ HUGEINT. The spec checks
    * Murphy's identity Brier = REL − RES + UNC to quantization
    * tolerance. Scale: one narrow pass → 10 bin cells; everything
    * downstream is bounded.
    */
  def brierDecomposition(documents: DataFrame, bins: Int = 10): DataFrame = {
    val base = documents.select(
        (col("lang") === "en").cast("long").as("y"),
        (length(lower(col("text"))) -
          length(regexp_replace(lower(col("text")), "e", ""))).cast("long").as("ec"),
        length(col("text")).cast("long").as("len"))
      .select(col("y"),
        least(lit((bins - 1).toLong), expr("ec * 40 div (len + 1)")).as("k"))
    val cells = base.groupBy("k")
      .agg(count(lit(1)).as("nk"), sum("y").as("mk"))
      .withColumn("pk", lit(2L) * col("k") + 1L)
    val tot = cells.agg(sum("nk").as("n"), sum("mk").as("m"))
    val terms = cells.crossJoin(broadcast(tot)).select(
      col("n"), col("m"),
      (col("mk") * (col("pk") - 20L) * (col("pk") - 20L) +
        (col("nk") - col("mk")) * col("pk") * col("pk")).as("bq"),
      abs(col("pk") * col("nk") - lit(20L) * col("mk")).as("eq"),
      expr("""cast(pk * nk - 20 * mk as decimal(38,0))
              * cast(pk * nk - 20 * mk as decimal(38,0))
              * 1000000000L div (400 * nk)""").as("rel_nano"),
      expr("""(cast(mk as decimal(38,0)) * n - cast(nk as decimal(38,0)) * m)
              * (cast(mk as decimal(38,0)) * n - cast(nk as decimal(38,0)) * m)
              * 1000000000L div (cast(nk as decimal(38,0)) * n * n)""").as("res_nano"))
    terms.groupBy("n", "m")
      .agg(sum("bq").as("bq"), sum("eq").as("eq"),
        sum("rel_nano").as("reln"), sum("res_nano").as("resn"))
      .select(col("n"), col("m"),
        round(col("bq").cast("double") / (lit(400d) * col("n")), 6).as("brier"),
        round(col("reln").cast("double") / (col("n").cast("double") * 1e9), 6)
          .as("reliability"),
        round(col("resn").cast("double") / (col("n").cast("double") * 1e9), 6)
          .as("resolution"),
        round((col("m") * (col("n") - col("m"))).cast("double") /
          (col("n") * col("n")).cast("double"), 6).as("uncertainty"),
        round(col("eq").cast("double") / (lit(20d) * col("n")), 6).as("ece"))
  }

  /** q327: WEIGHT-OF-EVIDENCE binning + INFORMATION VALUE — the
    * credit-scoring feature screen (Siddiqi 2006) that complements
    * q172's target encoding (q172 builds the feature, this DECIDES
    * whether a feature is worth building): equal-frequency bins of the
    * candidate feature (n_chars), per-bin WOE = ln(p_k/q_k) of the
    * smoothed positive/negative shares, and IV = Σ(p_k − q_k)·WOE_k —
    * the classic <0.02 useless / >0.3 strong screen.
    *
    * Determinism: bin cuts are the q93 broadcast-percentile-cut shape
    * — k/bins exact percentiles of n_chars from ONE aggregation,
    * rounded to 4 (the q85 contract: Spark `percentile` and DuckDB
    * `quantile_cont` interpolate identically up to ulps, rounding
    * absorbs the ulps), broadcast back, and bins assigned by
    * comparison. No global-window sort exists anywhere in the plan —
    * the r8 ntile form dragged the whole corpus through ONE sort task
    * (Exchange SinglePartition), the exact shape q93 was built to
    * avoid. Equal-frequency is now up to ties (value binning puts
    * duplicate n_chars in one bin — the standard WOE practice; the
    * ntile form split ties by doc_id, an arbitrary order no scorer
    * can reproduce anyway). WOE quantizes to integer micro-nats (the
    * q187 device; libm-ulp residual documented there); the IV term
    * (p−q)·WOE is sign-aligned BY CONSTRUCTION (both factors share
    * the sign of p−q), so its pico-unit floor division is
    * non-negative and truncation == floor on both engines — the IV
    * total is an exact integer sum. Laplace smoothing (+1 per cell,
    * +bins per total) keeps empty cells finite on both sides; a cut
    * region emptied by ties simply yields no row.
    * Scale: one percentile aggregate (map-side partials of a
    * value→count map) + one comparison pass + a bins-sized frame —
    * two narrow corpus scans, zero global sorts; the bins-sized cells
    * frame is lineage-cut so its two consumers (totals + the report)
    * read materialized blocks instead of re-deriving it.
    */
  def woeInformationValue(documents: DataFrame, bins: Int = 10): DataFrame = {
    val base = documents.select((col("lang") === "en").cast("long").as("y"),
      col("n_chars"))
    val ps = (1 until bins).map(k => s"${k.toDouble / bins}D").mkString(", ")
    val cuts = base.agg(expr(s"percentile(n_chars, array($ps))").as("c"))
      .select((1 until bins).map(k =>
        round(element_at(col("c"), k), 4).as(s"c$k")): _*)
    val binned = base.crossJoin(broadcast(cuts))
      .withColumn("bin", lit(1L) + (1 until bins).map(k =>
        when(col("n_chars") > col(s"c$k"), 1L).otherwise(0L)).reduce(_ + _))
    val cells = graft.plans.Checkpoints.cut(
      binned.groupBy("bin")
        .agg(count(lit(1)).as("n"), sum("y").as("pos"))
        .withColumn("neg", col("n") - col("pos")))
    val tot = cells.agg(sum("pos").as("tp"), sum("neg").as("tn"))
    cells.crossJoin(broadcast(tot))
      .withColumn("woe_micro",
        floor(log(((col("pos") + 1) * (col("tn") + bins)).cast("double") /
          ((col("neg") + 1) * (col("tp") + bins)).cast("double")) * 1e6).cast("long"))
      .withColumn("iv_micro",
        expr(s"""(cast(pos + 1 as decimal(38,0)) * (tn + $bins)
                 - cast(neg + 1 as decimal(38,0)) * (tp + $bins)) * woe_micro
                div (cast(tp + $bins as decimal(38,0)) * (tn + $bins))"""))
      .select(col("bin"), col("n"), col("pos"), col("neg"),
        col("woe_micro"), col("iv_micro").cast("long").as("iv_micro"))
      .orderBy("bin")
  }

  /** q329: PAIRED k-FOLD MODEL COMPARISON — the model-SELECTION rung
    * above the per-model evals (q169/q201/q210): two classifiers for
    * "is English" (the q23 stopword argmax vs the q322 e-letter-rate
    * gate) are scored on the SAME deterministic md5 folds, and the
    * per-fold accuracy DIFFERENCES feed a paired t statistic
    * (Dietterich 1998's resampled-t caveat noted: folds share no test
    * rows here, the k-fold CV variant). Pairing matters because fold
    * difficulty is shared noise — an unpaired comparison would need
    * far larger gaps to resolve the same winner.
    *
    * Determinism: folds are the q66/q172 md5-bucket convention;
    * per-fold accuracies are integer ppm; mean and variance of the k
    * differences are exact integer sums (k·Σd² − (Σd)² in
    * decimal(38,0)); the closing t = d̄·√(k(k−1)) / √(kΣd²−(Σd)²) is
    * one double expression. Scale: one narrow corpus pass → k-row
    * frame; everything after is k-sized.
    */
  /** The two "is English" classifiers q329 compares (and q337's McNemar
    * re-tests at the per-document level): A = stopword-hit argmax across
    * four languages; B = e-letter-rate gate at 7.5%.
    */
  private[operators] def stopwordArgmaxEn: Column = {
    val Seq(en, es, de, fr) = stopwordHits
    en >= es && en >= de && en >= fr && en > 0
  }

  /** Stopword hits of `text`'s lower-cased space tokens per language, in
    * the argmax tie order: en, es, de, fr.
    */
  private[operators] def stopwordHits: Seq[Column] = {
    val toks = split(lower(col("text")), " ")
    Seq(Seq("the", "a", "and"), Seq("el", "la", "los"), Seq("der", "die", "und"), Seq("le", "les", "des"))
      .map(ws => size(filter(toks, w => ws.map(s => w === s).reduce(_ || _))).cast("long"))
  }

  private[operators] def eRateEn: Column = {
    val eCnt = (length(lower(col("text"))) -
      length(regexp_replace(lower(col("text")), "e", ""))).cast("long")
    eCnt * 1000L >= length(col("text")).cast("long") * 75L
  }

  /** q337: McNEMAR'S TEST on the q329 classifier pair — the PER-ITEM
    * complement of the fold-level paired t: only the discordant
    * documents (A right & B wrong = b, A wrong & B right = c) carry
    * information about which classifier is better, and the
    * continuity-corrected statistic (|b−c|−1)²/(b+c) ~ χ²₁ needs one
    * corpus aggregate. Dietterich 1998 ranks exactly this test as the
    * low-variance alternative when retraining per fold is too
    * expensive — at 100 TB it always is.
    *
    * Exact: b and c are integer sums with map-side partials; the
    * statistic is ONE double division (null when b + c = 0, i.e. the
    * classifiers never disagree).
    */
  def mcnemarTest(documents: DataFrame): DataFrame = {
    val predA = stopwordArgmaxEn
    val predB = eRateEn
    documents
      .select((col("lang") === "en").as("y"), predA.as("pa"), predB.as("pb"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pa") === col("y") && col("pb") =!= col("y"), 1L)
          .otherwise(0L)).as("b"),
        sum(when(col("pa") =!= col("y") && col("pb") === col("y"), 1L)
          .otherwise(0L)).as("c"))
      .select(col("n"), col("b"), col("c"),
        when(col("b") + col("c") > 0,
          round((abs(col("b") - col("c")) - 1) * (abs(col("b") - col("c")) - 1)
            / (col("b") + col("c")).cast("double"), 4)).as("mcnemar_chi2"))
  }

  def pairedFoldComparison(documents: DataFrame, k: Int = 5): DataFrame = {
    val predA = stopwordArgmaxEn
    val predB = eRateEn
    val folds = documents.select(
        (col("lang") === "en").as("y"), predA.as("pa"), predB.as("pb"),
        (conv(substring(md5(concat(lit("fold|"), col("doc_id").cast("string"))), 1, 15),
          16, 10).cast("long") % k).as("fold"))
      .groupBy("fold").agg(count(lit(1)).as("n"),
        sum(when(col("pa") === col("y"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("pb") === col("y"), 1L).otherwise(0L)).as("cb"))
      .select(col("fold"), col("n"),
        expr("ca * 1000000 div n").as("acc_a_ppm"),
        expr("cb * 1000000 div n").as("acc_b_ppm"))
      .withColumn("d", col("acc_a_ppm") - col("acc_b_ppm"))
    folds.agg(count(lit(1)).as("k"),
        sum("d").as("sd"),
        sum(expr("cast(d as decimal(38,0)) * d")).as("sdd"),
        sum("n").as("n_total"))
      .select(col("k"), col("n_total"),
        // double, not integer division: S can be negative, where Spark's
        // div truncates but DuckDB's // floors
        round(col("sd").cast("double") / col("k"), 2).as("mean_diff_ppm"),
        // t = d̄·√k/s_d, algebraically S·√(k−1)/√(k·Σd² − S²) with S = Σd
        round(
          when(col("k") * col("sdd") - col("sd") * col("sd") === 0,
            lit(null).cast("double"))
            .otherwise(col("sd").cast("double") *
              sqrt((col("k") - 1).cast("double")) /
              sqrt((col("k") * col("sdd") - col("sd") * col("sd")).cast("double"))),
          4).as("t_stat"))
  }

  def rocAuc(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = Window.partitionBy("source").orderBy("n_chars")
    documents
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("cnt"),
           sum(when(col("lang") === "en", 1L).otherwise(0L)).as("pos"))
      .withColumn("cum", sum("cnt").over(byScore))
      .groupBy("source")
      .agg(sum("pos").as("n_pos"),
           (sum("cnt") - sum("pos")).as("n_neg"),
           sum(col("pos").cast("decimal(38,0)")
             * (lit(2L) * col("cum") - col("cnt") + lit(1L))).as("r2"))
      .select(col("source"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(
            (col("r2") - (col("n_pos").cast("decimal(38,0)") * (col("n_pos") + 1)))
              .cast("double") /
            (lit(2L).cast("decimal(38,0)") * col("n_pos") * col("n_neg")).cast("double"),
            4)).as("auc"))
      .orderBy("source")
  }

  /** q172: leakage-free (out-of-fold) target encoding of `source`
    * against the numeric target `n_chars` — the feature-engineering
    * step that replaces a high-cardinality category with the target
    * mean, computed so no row's own target leaks into its own feature.
    * Folds are deterministic md5 buckets (the q66/q152 convention — the
    * SAME fold assignment on any cluster, any retry, any engine), and
    * each (category, fold) cell's encoding is the mean over the OTHER
    * folds only, smoothed toward the matching out-of-fold GLOBAL mean
    * with pseudo-count m=20 (the standard empirical-Bayes shrinkage for
    * rare categories).
    *
    * Scale shape: ONE corpus scan collapses to the (source, fold) cell
    * frame (integer sums, map-side combined); category totals, fold
    * totals, and the grand total are windows over that bounded frame —
    * all leave-one-fold-out arithmetic is subtraction of exact
    * integers, with the two divisions (and round 4) at the very end.
    */
  def targetEncoding(documents: DataFrame, k: Int = 5, m: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fold = (conv(substring(md5(concat(lit("fold|"), col("doc_id"))), 1, 15), 16, 10)
      .cast("long") % k).cast("int")
    val cells = documents
      .select(col("source"), fold.as("fold"), col("n_chars"))
      .groupBy("source", "fold")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("s"))
    val bySrc = Window.partitionBy("source")
    val byFold = Window.partitionBy("fold")
    cells
      .withColumn("src_n", sum("n").over(bySrc)).withColumn("src_s", sum("s").over(bySrc))
      .withColumn("f_n", sum("n").over(byFold)).withColumn("f_s", sum("s").over(byFold))
      .withColumn("g_n", sum("n").over(Window.partitionBy()))
      .withColumn("g_s", sum("s").over(Window.partitionBy()))
      .select(col("source"), col("fold"), col("n"),
        (col("src_n") - col("n")).as("oof_n"),
        round((col("src_s") - col("s")).cast("double") / (col("src_n") - col("n")), 4)
          .as("oof_mean"),
        round(((col("src_s") - col("s")).cast("double")
               + lit(m) * ((col("g_s") - col("f_s")).cast("double") / (col("g_n") - col("f_n"))))
              / ((col("src_n") - col("n")) + lit(m)), 4).as("enc_smooth"))
      .orderBy("source", "fold")
  }

  /** The q168 oracle replays the same greedy rounds as unrolled CTEs:
    * per round, pair counts from the delimited symbol strings, the
    * (cnt desc, pair asc) argmax, and the classic left-fold merge as a
    * `list_reduce` over a '|'-joined accumulator (tokens are letters,
    * so the delimiter is safe).
    */
  /** Shared CTE chain for the BPE oracles: wf (word frequencies), w0
    * (pipe-delimited character tokens, word carried through), then per
    * round r: p$r pair counts → b$r best merge → w$r folded state.
    */
  private def bpeCtes(rounds: Int): String = {
    val ctes = (1 to rounds).map { r =>
      s"""p$r AS (SELECT t[i] AS l, t[i + 1] AS r, sum(freq)::BIGINT AS cnt
         |  FROM (SELECT freq, string_split(trim(s, '|'), '|') AS t,
         |               unnest(range(1, len(string_split(trim(s, '|'), '|')))) AS i
         |        FROM w${r - 1})
         |  GROUP BY 1, 2),
         |b$r AS (SELECT l, r, l || r AS m, cnt FROM p$r ORDER BY cnt DESC, l, r LIMIT 1),
         |w$r AS (SELECT word, list_reduce(string_split(trim(s, '|'), '|'), (acc, x) -> CASE
         |          WHEN (acc = l OR acc LIKE '%|' || l) AND x = r
         |          THEN substr(acc, 1, len(acc) - len(l)) || m
         |          ELSE acc || '|' || x END) AS s, freq
         |        FROM w${r - 1}, b$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH wf AS (
       |  SELECT word, count(*)::BIGINT AS freq
       |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
       |  GROUP BY word),
       |w0 AS (SELECT word, regexp_replace(word, '(.)', '|\\1', 'g') || '|' AS s, freq FROM wf),
       |$ctes""".stripMargin
  }

  private def bpeOracle(rounds: Int): String = {
    val union = (1 to rounds)
      .map(r => s"SELECT $r AS merge_rank, l AS lhs, r AS rhs, m AS merged, cnt FROM b$r")
      .mkString("\nUNION ALL ")
    s"""${bpeCtes(rounds)}
       |$union
       |ORDER BY merge_rank""".stripMargin
  }

  private def bpeEncodeOracle(rounds: Int): String =
    s"""${bpeCtes(rounds)},
       |vocab AS (SELECT word, len(string_split(trim(s, '|'), '|'))::BIGINT AS n_tok
       |          FROM w$rounds),
       |docw AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS word
       |         FROM documents),
       |enc AS (SELECT d.doc_id, d.lang, v.n_tok FROM docw d JOIN vocab v USING (word))
       |SELECT lang, count(DISTINCT doc_id)::BIGINT AS n_docs,
       |       count(*)::BIGINT AS total_words, sum(n_tok)::BIGINT AS total_tokens,
       |       round(sum(n_tok) / CAST(count(*) AS DOUBLE), 4) AS tokens_per_word
       |FROM enc GROUP BY lang ORDER BY lang""".stripMargin

  /** q201: average precision (area under the precision-recall curve) of
    * the q169 proxy scorer (n_chars ranking `lang = 'en'`), per source —
    * the PR-side eval that matters when positives are rare and ROC-AUC
    * flatters. Ranking is (score desc, doc_id) so every rank is unique;
    * each positive's precision@k term is quantized to integer
    * nano-units ((cum_pos·10⁹) div k — exact integer division) BEFORE
    * the sum, so AP is an order-independent integer sum with one final
    * division. One shuffle: rank window and per-source rollup share the
    * source clustering.
    */
  def averagePrecision(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
    documents
      .select(col("source"), col("doc_id"), col("n_chars"),
        when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("cum_pos", sum("pos").over(w))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("pos").as("n_pos"),
        sum(when(col("pos") === 1L,
          expr("(cum_pos * 1000000000) div k")).otherwise(0L)).as("ap9"))
      .select(col("source"), col("n_docs"), col("n_pos"),
        when(col("n_pos") === 0, lit(null).cast("double"))
          .otherwise(round(col("ap9").cast("double") / 1e9 / col("n_pos"), 4))
          .as("avg_precision"))
      .orderBy("source")
  }

  /** q270: MATTHEWS CORRELATION COEFFICIENT + balanced accuracy of the
    * token-density rule-classifier against the lang=='en' target — the
    * chance-corrected single-number eval that stays honest under class
    * imbalance, completing the confusion-matrix eval suite (ROC q169,
    * AP q201, F1 sweep q210, lift q253, κ q154: MCC is the Pearson φ of
    * the 2×2 table). The corpus collapses map-side to FOUR integers
    * (tp/fp/tn/fn); MCC's numerator tp·tn − fp·fn rides decimal(38,0) ↔
    * HUGEINT (n²-scale, past int64 at corpus counts) and the four
    * marginal factors take √ SEPARATELY in double, so the n⁴-scale
    * denominator product never materializes. Balanced accuracy is ppm
    * integer division end-to-end.
    */
  def mccReport(documents: DataFrame, thresholdPpm: Long = 180000L): DataFrame =
    documents
      .select(when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        when(expr("size(split(text, ' ')) * cast(1000000 as bigint) div greatest(n_chars, 1)")
          >= thresholdPpm, 1L).otherwise(0L).as("yh"))
      .agg(
        sum(when(col("y") === 1L && col("yh") === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === 0L && col("yh") === 1L, 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === 0L && col("yh") === 0L, 1L).otherwise(0L)).as("tn"),
        sum(when(col("y") === 1L && col("yh") === 0L, 1L).otherwise(0L)).as("fn"))
      .withColumn("num", expr("cast(tp as decimal(38,0)) * tn - cast(fp as decimal(38,0)) * fn"))
      .select(col("tp"), col("fp"), col("tn"), col("fn"),
        when(col("tp") + col("fp") === 0 || col("tp") + col("fn") === 0 ||
             col("tn") + col("fp") === 0 || col("tn") + col("fn") === 0,
          lit(null).cast("double"))
          .otherwise(round(col("num").cast("double") /
            (sqrt((col("tp") + col("fp")).cast("double")) *
             sqrt((col("tp") + col("fn")).cast("double")) *
             sqrt((col("tn") + col("fp")).cast("double")) *
             sqrt((col("tn") + col("fn")).cast("double"))), 4)).as("mcc"),
        expr("((tp * 1000000 div greatest(tp + fn, 1)) + " +
             "(tn * 1000000 div greatest(tn + fp, 1))) div 2").as("bal_acc_ppm"))

  /** Per-document logistic features: binary lexical-shape predictors and
    * the lang=='en' target. Binary integer features keep every z = b·x
    * bounded (no exp overflow, no standardization pass) and make the
    * Hessian sums exact int64 arithmetic.
    */
  private def logisticFeatures(documents: DataFrame): DataFrame = {
    val ts = split(lower(col("text")), " ")
    documents.select(
      when(col("lang") === "en", 1L).otherwise(0L).as("y"),
      when(size(array_distinct(ts)) * 2 > size(ts), 1L).otherwise(0L).as("x1"),
      when(array_max(transform(ts, w => length(w))) >= 8, 1L).otherwise(0L).as("x2"))
  }

  /** One IRLS (Newton) round entirely as a DataFrame: broadcast the
    * 1-row micro-unit coefficient frame onto the feature scan, quantize
    * each row's sigmoid to integer micro-units (pq = floor(10⁶·p) — the
    * NB/q122 fixed-point-before-sum convention, so the gradient and
    * Hessian sums are order-independent int64), then solve the 3×3
    * Newton system by Cramer with the q159 pinned-order double
    * arithmetic. Units: H is 10¹²-scaled and g 10⁶-scaled, so the
    * micro-unit coefficient step is floor(10¹²·detⱼ/det).
    */
  /** Micro-unit sigmoid under the current coefficient columns — the
    * quantization that makes every downstream sum order-independent.
    */
  private val SigmoidQ =
    "cast(floor(1e6 / (1.0 + exp(-((b0q + b1q*x1 + b2q*x2) / 1e6)))) as bigint)"

  /** One IRLS round for a FAMILY of models keyed by `keys` (empty keys =
    * the single global model): join rows to their model's coefficient
    * row (broadcast — the coefficient frame is model-count-sized), sum
    * the gradient+Hessian per key, Newton-solve per key row.
    */
  private def irlsStep(rows: DataFrame, coef: DataFrame, keys: Seq[String]): DataFrame = {
    val joined =
      if (keys.isEmpty) rows.crossJoin(broadcast(coef))
      else rows.join(broadcast(coef), keys)
    val sums = joined
      .withColumn("pq", expr(SigmoidQ))
      .withColumn("wq", expr("pq * (1000000 - pq)"))
      .withColumn("r", expr("y * 1000000 - pq"))
    val grouped =
      (if (keys.isEmpty) sums.groupBy() else sums.groupBy(keys.map(col): _*))
      .agg(
        first("b0q").as("b0q"), first("b1q").as("b1q"), first("b2q").as("b2q"),
        sum("r").as("g0"), sum(expr("x1*r")).as("g1"), sum(expr("x2*r")).as("g2"),
        sum("wq").as("h00"), sum(expr("x1*wq")).as("h01"), sum(expr("x2*wq")).as("h02"),
        sum(expr("x1*x1*wq")).as("h11"), sum(expr("x1*x2*wq")).as("h12"),
        sum(expr("x2*x2*wq")).as("h22"))
    val step = grouped
      .select(col("*"),
        expr("cast(g0 as double) as dg0"), expr("cast(g1 as double) as dg1"),
        expr("cast(g2 as double) as dg2"),
        expr("cast(h00 + 1000000000 as double) as a"), expr("cast(h01 as double) as b"),
        expr("cast(h02 as double) as c"), expr("cast(h11 + 1000000000 as double) as e"),
        expr("cast(h12 as double) as f"), expr("cast(h22 + 1000000000 as double) as i"))
      .withColumn("det",  expr("a*(e*i - f*f) - b*(b*i - f*c) + c*(b*f - e*c)"))
      .withColumn("det0", expr("dg0*(e*i - f*f) - b*(dg1*i - f*dg2) + c*(dg1*f - e*dg2)"))
      .withColumn("det1", expr("a*(dg1*i - f*dg2) - dg0*(b*i - f*c) + c*(b*dg2 - dg1*c)"))
      .withColumn("det2", expr("a*(e*dg2 - dg1*f) - b*(b*dg2 - dg1*c) + dg0*(b*f - e*c)"))
      .select(keys.map(col) ++ Seq(
        expr("b0q + cast(floor(det0 / det * 1e12) as bigint)").as("b0q"),
        expr("b1q + cast(floor(det1 / det * 1e12) as bigint)").as("b1q"),
        expr("b2q + cast(floor(det2 / det * 1e12) as bigint)").as("b2q")): _*)
    // cut the model-count-sized coefficient frame: without it, iteration
    // k's plan embeds iterations 1..k-1 as subplans of its broadcast AND
    // the final scoring pass, re-running the corpus aggregate
    // exponentially (the q177 lineage-cut argument); with it, exactly
    // one feature scan per round
    graft.plans.Checkpoints.cut(step)
  }

  /** q206: trained logistic-regression quality classifier — y = (lang
    * = 'en') on binary lexical-shape features, fit by `iters` rounds of
    * EXACT-arithmetic IRLS (no driver loop, no ml library): each round
    * is one feature-scan aggregate producing the 10-term
    * gradient+Hessian frame, and the Newton solve runs on that 1-row
    * frame. Completes the model-training ladder q159 (closed-form OLS)
    * → q187 (NB counting) → q206 (iterative fit). A ridge term
    * (λ = 0.001 — 10⁹ in the 10¹²-scaled Hessian units) keeps the
    * Newton system nonsingular on degenerate feature slices and bounds
    * the step on separable data.
    *
    * Determinism: sigmoids are quantized to integer micro-units BEFORE
    * any sum (order-independent int64 partials; same accepted residual
    * as q187 — exp's last-ulp at a floor boundary), the Newton solve is
    * pinned-order IEEE double arithmetic mirrored verbatim in the
    * oracle, and coefficients re-enter the next round as integers.
    * b=0 start makes round 1's sigmoid exactly ½ on every engine.
    *
    * Scale shape: per round, the corpus collapses to ten int64 sums
    * with map-side partials (the q159 argument); rounds are data-
    * independent scans, so wall-clock is iters × one narrow pass. Past
    * ~10⁷ docs the 10¹²-scaled Hessian sums need decimal widening —
    * the q159/q122 note, wired the same way.
    */
  def qualityLogistic(documents: DataFrame, iters: Int = 2): DataFrame = {
    val feats = logisticFeatures(documents)
    var coef = documents.sparkSession.range(1).select(
      lit(0L).as("b0q"), lit(0L).as("b1q"), lit(0L).as("b2q"))
    for (_ <- 1 to iters) coef = irlsStep(feats, coef, Nil)
    feats.crossJoin(broadcast(coef))
      .withColumn("pq",
        expr("cast(floor(1e6 / (1.0 + exp(-((b0q + b1q*x1 + b2q*x2) / 1e6)))) as bigint)"))
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"),
        first("b0q").as("b0q"), first("b1q").as("b1q"), first("b2q").as("b2q"),
        sum(expr("case when (pq >= 500000) = (y = 1) then 1 else 0 end")).as("n_correct"))
      .select(col("n"), col("n_pos"),
        round(expr("b0q / 1e6"), 6).as("b0"),
        round(expr("b1q / 1e6"), 6).as("b1"),
        round(expr("b2q / 1e6"), 6).as("b2"),
        round(expr("n_correct / cast(n as double)"), 4).as("accuracy"))
  }

  /** q207: k-fold cross-validated q206 — ALL k fold-models trained
    * simultaneously in the same grouped aggregate, no per-fold loop:
    * each row fans out to the k−1 models it trains (explode of the
    * model-fold list), every IRLS round is ONE groupBy("mf") pass over
    * that stream producing the k-row gradient+Hessian frame, and the
    * Newton solve runs per key row. Held-out scoring joins each row to
    * exactly its own fold's model. This is the shape CV takes at 100 TB:
    * k× the map work of one fit (inherent to CV), but still one shuffle
    * per round and a model-count-sized coefficient frame — never k
    * separate jobs.
    *
    * Folds come from the q172 md5-uniform convention, so membership is
    * engine-reproducible; all determinism arguments of [[qualityLogistic]]
    * carry over per fold.
    */
  def cvLogistic(documents: DataFrame, folds: Int = 3, iters: Int = 2): DataFrame = {
    val foldCol = (conv(substring(md5(concat(lit("cv|"), col("doc_id"))), 1, 15), 16, 10)
      .cast("long") % folds).as("fold")
    val ts = split(lower(col("text")), " ")
    val feats = documents.select(
      foldCol,
      when(col("lang") === "en", 1L).otherwise(0L).as("y"),
      when(size(array_distinct(ts)) * 2 > size(ts), 1L).otherwise(0L).as("x1"),
      when(array_max(transform(ts, w => length(w))) >= 8, 1L).otherwise(0L).as("x2"))
    val train = feats.select(
      explode(expr(s"filter(sequence(0L, ${folds - 1}L), m -> m != fold)")).as("mf"),
      col("y"), col("x1"), col("x2"))
    var coef = documents.sparkSession.range(folds).select(
      col("id").as("mf"), lit(0L).as("b0q"), lit(0L).as("b1q"), lit(0L).as("b2q"))
    for (_ <- 1 to iters) coef = irlsStep(train, coef, Seq("mf"))
    feats.join(broadcast(coef), col("fold") === col("mf"))
      .withColumn("pq", expr(SigmoidQ))
      .groupBy("fold")
      .agg(count(lit(1)).as("n_test"),
        first("b0q").as("b0q"), first("b1q").as("b1q"), first("b2q").as("b2q"),
        sum(expr("case when (pq >= 500000) = (y = 1) then 1 else 0 end")).as("n_correct"))
      .select(col("fold"),
        (sum("n_test").over(org.apache.spark.sql.expressions.Window.partitionBy())
          - col("n_test")).as("n_train"),
        col("n_test"),
        round(expr("b0q / 1e6"), 6).as("b0"),
        round(expr("b1q / 1e6"), 6).as("b1"),
        round(expr("b2q / 1e6"), 6).as("b2"),
        round(expr("n_correct / cast(n_test as double)"), 4).as("test_accuracy"))
      .orderBy("fold")
  }

  /** q208: mutual-information feature ranking — the feature-selection
    * gate in front of the classifier rungs (q206/q207): plug-in
    * MI(F;Y) = (1/n)·Σ n_fy·ln(n·n_fy / (n_f·n_y)) between each binary
    * lexical-shape feature and the lang='en' target, ranked.
    *
    * One corpus scan: the per-doc feature vector unpivots via `stack`
    * into (feature, f, y) rows that collapse immediately into the
    * 5×2×2-bounded cell-count frame; every marginal is a WINDOW sum
    * over those cells (never a corpus re-scan), and empty cells
    * contribute exactly their x·ln x → 0 limit by being absent. Each
    * cell's log term is floor-quantized to integer nano-nats BEFORE the
    * count-weighted sum (the q122/q160 convention), so per-feature
    * totals are order-independent integers and the rank is an integer
    * sort (ties broken by feature name).
    */
  def miFeatureRanking(documents: DataFrame): DataFrame = {
    val ts = split(lower(col("text")), " ")
    val base = documents.select(
      when(col("lang") === "en", 1L).otherwise(0L).as("y"),
      when(size(array_distinct(ts)) * 2 > size(ts), 1L).otherwise(0L).as("diverse"),
      when(array_max(transform(ts, w => length(w))) >= 8, 1L).otherwise(0L).as("long_word"),
      when(col("n_chars") >= 200, 1L).otherwise(0L).as("long_doc"),
      when(col("text").rlike("[0-9]"), 1L).otherwise(0L).as("has_digit"),
      when(size(ts) >= 40, 1L).otherwise(0L).as("many_words"))
    val cells = base.selectExpr("y",
        """stack(5, 'diverse', diverse, 'long_word', long_word, 'long_doc', long_doc,
          |'has_digit', has_digit, 'many_words', many_words) as (feature, f)""".stripMargin)
      .groupBy("feature", "f", "y").agg(count(lit(1)).as("c"))
    val byFeat = Window.partitionBy("feature")
    val scored = cells
      .withColumn("n",  sum("c").over(byFeat))
      .withColumn("nf", sum("c").over(Window.partitionBy("feature", "f")))
      .withColumn("ny", sum("c").over(Window.partitionBy("feature", "y")))
      .withColumn("u", expr(
        "cast(floor(ln((cast(n as double) * cast(c as double)) / (cast(nf as double) * cast(ny as double))) * 1e9) as bigint)"))
    scored.groupBy("feature")
      .agg(first("n").as("n"),
        sum(when(col("f") === 1L, col("c")).otherwise(0L)).as("n_f1"),
        sum(expr("c * u")).as("mi_nano"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("mi_nano").desc, col("feature"))).cast("long"))
      .select(col("rank"), col("feature"), col("n_f1"),
        round(expr("mi_nano / cast(n as double) / 1e9"), 6).as("mi_nats"))
      .orderBy("rank")
  }

  /** q210: operating-point selection — the threshold sweep that turns a
    * scored classifier into a deployed filter: for every candidate
    * threshold t (each distinct score value), predict positive at
    * score ≥ t and report the top-`topN` thresholds by F1.
    *
    * The q169/q201 anatomy: ONE corpus scan collapses to the distinct-
    * score cell frame (integer counts, map-side combined); TP/predicted-
    * positive are cumulative window sums over that bounded frame —
    * the unpartitioned window runs over |distinct scores| rows, never
    * documents. Ranking compares F1 as floor((2·TP·10⁹)/(2TP+FP+FN)) —
    * an integer division of integers, so the (f1 desc, t asc) order is
    * engine-exact; the displayed precision/recall/f1 are one closing
    * division each.
    */
  def bestF1Thresholds(documents: DataFrame, topN: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = documents.groupBy(col("n_chars").as("t"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("pos"))
    val tot = cells.agg(sum("pos").as("np"))
    val byScoreDesc = Window.orderBy(col("t").desc)
    cells
      .withColumn("tp", sum("pos").over(byScoreDesc))
      .withColumn("pp", sum("cnt").over(byScoreDesc))
      .crossJoin(broadcast(tot))
      .withColumn("fp", col("pp") - col("tp"))
      .withColumn("fn", col("np") - col("tp"))
      .withColumn("f1_nano", expr("(2 * tp * 1000000000) div (2*tp + fp + fn)"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("f1_nano").desc, col("t"))).cast("long"))
      .filter(col("rank") <= topN)
      .select(col("rank"), col("t").as("threshold"), col("tp"), col("fp"), col("fn"),
        round(expr("tp / cast(pp as double)"), 4).as("precision"),
        round(expr("tp / cast(np as double)"), 4).as("recall"),
        round(expr("f1_nano / 1e9"), 4).as("f1"))
      .orderBy("rank")
  }

  /** q209: information-gain decision stump on the n_chars score — the
    * one-split tree that turns q208's "which feature" into "which
    * CUTPOINT": every distinct score is a candidate threshold
    * (left = score < t), the winner minimizes the weighted leaf entropy,
    * and the leaves predict their majority class.
    *
    * Same bounded anatomy as q210: one corpus scan → distinct-score
    * cells; left-leaf class counts are EXCLUSIVE cumulative window sums
    * (rows ... 1 preceding) over that frame; every candidate's weighted
    * entropy Σ_leaf Σ_class c·ln(m/c) is computed per cell row from six
    * integers with each log term floor-quantized to nano-nats BEFORE
    * the c-weighted products — the argmin is an integer sort
    * (wq asc, t asc), engine-exact. (Past ~10⁸ docs the c·u products
    * need decimal widening — the q159 note.)
    */
  def decisionStump(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def term(c: String, m: String) =
      s"case when ($c) > 0 then ($c) * cast(floor(ln(cast(($m) as double) / cast(($c) as double)) * 1e9) as bigint) else 0 end"
    val cells = documents.groupBy(col("n_chars").as("t"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("pos"))
    val tot = cells.agg(sum("cnt").as("n"), sum("pos").as("np"))
    val wAsc = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cand = cells
      .withColumn("nL", coalesce(sum("cnt").over(wAsc), lit(0L)))
      .withColumn("posL", coalesce(sum("pos").over(wAsc), lit(0L)))
      .filter(col("nL") > 0) // t_min has an empty left leaf — not a split
      .crossJoin(broadcast(tot))
      .withColumn("negL", expr("nL - posL"))
      .withColumn("nR", expr("n - nL"))
      .withColumn("posR", expr("np - posL"))
      .withColumn("negR", expr("nR - posR"))
      .withColumn("wq", expr(
        s"${term("posL", "nL")} + ${term("negL", "nL")} + ${term("posR", "nR")} + ${term("negR", "nR")}"))
      .withColumn("rootq", expr(s"${term("np", "n")} + ${term("n - np", "n")}"))
    cand
      .withColumn("rk", row_number().over(Window.orderBy(col("wq"), col("t"))))
      .filter(col("rk") === 1)
      .select(col("t").as("threshold"), col("nL").as("n_left"), col("nR").as("n_right"),
        when(col("posL") * 2 > col("nL"), lit("en")).otherwise(lit("other")).as("pred_left"),
        when(col("posR") * 2 > col("nR"), lit("en")).otherwise(lit("other")).as("pred_right"),
        round(expr("(rootq - wq) / cast(n as double) / 1e9"), 6).as("info_gain_nats"),
        round(expr(
          """(case when posL * 2 > nL then posL else nL - posL end
            | + case when posR * 2 > nR then posR else nR - posR end) / cast(n as double)""".stripMargin),
          4).as("train_accuracy"))
  }

  /** Shared split-search for [[boostedStumps]]: given per-threshold
    * cells (t, cnt, sy: long, syy: decimal(38,0)) pick the threshold
    * minimizing the two-leaf SSE with MICRO-QUANTIZED leaf means.
    *
    * The quantization is what makes the argmin engine-exact: each
    * leaf's prediction is floored to an integer first
    * (pl = (syl·scale) div nl — positive operands, so Spark's
    * truncating `div` and DuckDB's flooring `//` agree), and the SSE
    * against THAT integer prediction expands to pure integer moments
    * Σy²·s² − 2·s·pl·Σy + n·pl², carried in decimal(38,0)/HUGEINT
    * (round-2 targets are micro-shifted, so the squared sums reach
    * ~10³⁰ — far past int64, comfortably inside 38 digits). The
    * candidate ranking is then an integer sort (sse asc, t asc) with
    * no float anywhere.
    */
  private def stumpSearch(cells: DataFrame, scale: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    val tot = cells.agg(sum("cnt").as("n"), sum("sy").as("syt"),
      sum("syy").cast("decimal(38,0)").as("syyt"))
    cells
      .withColumn("nl", coalesce(sum("cnt").over(w), lit(0L)))
      .withColumn("syl", coalesce(sum("sy").over(w), lit(0L)))
      .withColumn("syyl",
        coalesce(sum("syy").over(w), lit(0).cast("decimal(38,0)")).cast("decimal(38,0)"))
      .filter(col("nl") > 0) // t_min: empty left leaf — not a split
      .crossJoin(broadcast(tot))
      .withColumn("nr", expr("n - nl"))
      .withColumn("syr", expr("syt - syl"))
      .withColumn("syyr", expr("cast(syyt - syyl as decimal(38,0))"))
      .withColumn("pl", expr(s"(syl * $scale) div nl"))
      .withColumn("pr", expr(s"(syr * $scale) div nr"))
      .withColumn("sse", expr(
        s"""cast(syyl * $scale * $scale
           | - cast(pl as decimal(38,0)) * syl * ${2 * scale}
           | + cast(pl as decimal(38,0)) * pl * nl
           | + syyr * $scale * $scale
           | - cast(pr as decimal(38,0)) * syr * ${2 * scale}
           | + cast(pr as decimal(38,0)) * pr * nr as decimal(38,0))""".stripMargin))
      .withColumn("rk", row_number().over(Window.orderBy(col("sse"), col("t"))))
      .filter(col("rk") === 1)
      .select("t", "nl", "nr", "pl", "pr", "sse", "n")
  }

  /** q211: two-round gradient-boosted regression stumps on n_chars —
    * the boosting capstone of the q159 (OLS) → q209 (single stump)
    * ladder: round 1 fits a stump on the token count, round 2 fits a
    * second stump ON THE ROUND-1 RESIDUALS using the distinct-token
    * count, exactly the additive-stage recursion GBDT runs at depth 1.
    *
    * Exactness: residuals live in integer MICRO-units
    * (y·10⁶ − leaf_pred_micro), shifted by +10¹² so every round-2
    * target is positive and the truncating/flooring integer divisions
    * agree between engines; the final RMSE per round falls out of the
    * winning candidate's own SSE (the quantized leaf means make
    * SSE(winner) ≡ Σ residual² exactly), so NO third corpus pass is
    * needed — the whole fit is two scans, each collapsing to a
    * distinct-feature-value cell frame.
    *
    * Scale shape: per round, one map-side-combined groupBy on the
    * feature value, a single-partition window over the bounded cell
    * frame (cells = distinct feature values, thousands not billions),
    * and a 1-row broadcast of the winner into the next round's scan.
    * Corpus-sized data never sorts and never sees a window.
    */
  def boostedStumps(documents: DataFrame): DataFrame = {
    val OFF = 1000000000000L
    val toks = split(lower(col("text")), " ")
    val base = documents.select(
      size(toks).cast("long").as("x1"),
      size(array_distinct(toks)).cast("long").as("x2"),
      col("n_chars").cast("long").as("y"))
    val cells1 = base.groupBy(col("x1").as("t")).agg(
      count(lit(1)).as("cnt"), sum("y").as("sy"),
      sum(expr("cast(y as decimal(38,0)) * y")).cast("decimal(38,0)").as("syy"))
    val win1 = stumpSearch(cells1, 1000000L)
    val resid = base.crossJoin(broadcast(
        win1.select(col("t").as("t1"), col("pl").as("pl1"), col("pr").as("pr1"))))
      .select(col("x2"),
        (col("y") * lit(1000000L)
          - when(col("x1") < col("t1"), col("pl1")).otherwise(col("pr1"))
          + lit(OFF)).as("y2"))
    val cells2 = resid.groupBy(col("x2").as("t")).agg(
      count(lit(1)).as("cnt"), sum("y2").as("sy"),
      sum(expr("cast(y2 as decimal(38,0)) * y2")).cast("decimal(38,0)").as("syy"))
    val win2 = stumpSearch(cells2, 1L)
    val row1 = win1.select(lit(1L).as("iter"), lit("n_tokens").as("feature"),
      col("t").as("threshold"), col("nl").as("n_left"), col("nr").as("n_right"),
      round(expr("cast(pl as double) / 1000000.0"), 6).as("pred_left"),
      round(expr("cast(pr as double) / 1000000.0"), 6).as("pred_right"),
      round(expr("sqrt(cast(sse as double) / cast(n as double)) / 1000000.0"), 6).as("rmse"))
    val row2 = win2.select(lit(2L).as("iter"), lit("n_distinct_tokens").as("feature"),
      col("t").as("threshold"), col("nl").as("n_left"), col("nr").as("n_right"),
      round(expr(s"cast(pl - $OFF as double) / 1000000.0"), 6).as("pred_left"),
      round(expr(s"cast(pr - $OFF as double) / 1000000.0"), 6).as("pred_right"),
      round(expr("sqrt(cast(sse as double) / cast(n as double)) / 1000000.0"), 6).as("rmse"))
    row1.unionByName(row2).orderBy("iter")
  }

  /** q252: SPLIT-CONFORMAL coverage — distribution-free prediction
    * intervals for a one-parameter regressor (tokens ≈ slope·chars,
    * slope fit on the calibration split), validated the conformal way:
    * q̂ = the ⌈(n+1)·0.9⌉-th smallest calibration nonconformity, and
    * the test-side coverage of {r ≤ q̂} must land near 90% regardless
    * of the score distribution (Vovk; Angelopoulos & Bates 2022).
    * The eval-family rung above q153's calibration bins: bins assess a
    * probability model, conformal GUARANTEES marginal coverage.
    *
    * Exactness: the nonconformity is the cross-multiplied integer
    * |tok·Σchars − chars·Σtok| (no slope division ever happens), and q̂
    * is an exact order statistic from the (r → count) histogram — the
    * q230 idiom, window over distinct scores only. Split by md5 parity
    * of doc_id, engine-independent.
    */
  def conformalCoverage(documents: DataFrame, alphaPct: Int = 10): DataFrame = {
    val base = documents.select(col("doc_id"), col("n_chars"),
      size(split(col("text"), " ")).cast("long").as("toks"),
      (md5(concat(lit("conf|"), col("doc_id"))) < "8").as("is_calib"))
    val calib = base.filter(col("is_calib"))
    val test = base.filter(!col("is_calib"))
    val slope = calib.agg(sum("toks").as("st"), sum("n_chars").as("sc"),
      count(lit(1)).as("n_calib"))
    def scored(df: DataFrame) = df.crossJoin(broadcast(slope))
      .select(col("doc_id"),
        abs(col("toks") * col("sc") - col("n_chars") * col("st")).as("r"),
        col("n_calib"))
    val calibHist = scored(calib).groupBy("r", "n_calib")
      .agg(count(lit(1)).as("nc"))
      .withColumn("cum", sum("nc").over(
        org.apache.spark.sql.expressions.Window.orderBy("r")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
    // k = ceil((n+1)·(1-α)) — integer form: (n+1)·(100-α) divided up
    val qhat = calibHist
      .filter(col("cum") * 100 >= (col("n_calib") + 1) * (100 - alphaPct))
      .agg(min("r").as("qhat"))
    scored(test).crossJoin(broadcast(qhat))
      .agg(max("n_calib").as("n_calib"), count(lit(1)).as("n_test"),
        max("qhat").as("qhat"),
        sum(when(col("r") <= col("qhat"), 1L).otherwise(0L)).as("n_covered"))
      .withColumn("coverage_ppm", expr("n_covered * 1000000 div n_test"))
  }

  /** q253: DECILE LIFT TABLE — the marketing-standard model diagnostic
    * that completes the classifier eval suite (ROC q169, AP q201, F1
    * sweep q210, calibration q197/q153, conformal q252): rank docs by a
    * score, split into ten equal-count bands, and report each band's
    * response rate and lift over the base rate. Score here is integer
    * token density (tokens·10⁶ div chars), label is the q206 target.
    *
    * The scale point is the DECILE MACHINERY: boundaries are exact
    * order statistics from the (score → count) histogram (the q230
    * idiom — a window over distinct scores, never a corpus sort), then
    * every doc assigns itself by comparing to the 9 broadcast
    * cutpoints with a HOF filter. Ties share a band, so bands can be
    * uneven — the honest behavior for a discrete score.
    */
  def decileLift(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = documents.select(
      when(col("lang") === "en", 1L).otherwise(0L).as("y"),
      expr("size(split(text, ' ')) * cast(1000000 as bigint) div greatest(n_chars, 1)")
        .as("s"))
    val tot = scored.agg(count(lit(1)).as("n_total"), sum("y").as("npos_total"))
    val cuts = scored.groupBy("s").agg(count(lit(1)).as("nc"))
      .withColumn("cum", sum("nc").over(Window.orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(documents.sparkSession.range(1, 10).select(col("id").as("k"))))
      .filter(col("cum") * 10 >= col("k") * col("n_total"))
      .groupBy("k").agg(min("s").as("cut"))
      .agg(array_sort(collect_list(col("cut"))).as("cuts"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("decile", lit(1) + expr("size(filter(cuts, c -> s > c))"))
      .groupBy("decile").agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n"), col("n_pos"),
        expr("n_pos * 1000000 div n").as("response_ppm"),
        expr("n_pos * n_total * 1000000 div (n * npos_total)").as("lift_ppm"))
      .orderBy("decile")
  }

  /** q290: UNIGRAM-LM (SentencePiece-style) subword segmentation — the
    * probabilistic counterpart to greedy BPE (q168 trains merges, q191
    * applies them): score every candidate piece by its corpus unigram
    * surprisal, then Viterbi-decode each word into the MINIMUM-COST
    * piece sequence. Vocabulary = top-`vocabTop` substrings (length ≤ 4)
    * by weighted frequency, plus every single character as the
    * guaranteed fallback (so decoding never fails).
    *
    * Exactness: piece costs are micro-nat integers
    * ⌊ln(total/freq)·10⁶⌋ (the q187 device — floor-boundary ln ulp risk
    * documented there); the Viterbi objective packs (cost, n_pieces)
    * into ONE integer key k = cost·100 + n_pieces, so the lexicographic
    * (cost, fewer-pieces) argmin is a plain integer `min` and the DP is
    * engine-exact — the oracle unrolls the same recurrence
    * k_i = min_l (k_{i−l} + c(piece)·100 + 1) into one CTE per position.
    *
    * Scale: everything is VOCAB-COLLAPSED (the q191 posture): stats and
    * decoding run over distinct words weighted by frequency, never over
    * the corpus; the trained model (≤ vocabTop + alphabet entries)
    * broadcasts to a mapPartitions decoder — the genuinely imperative
    * DP inner loop, on a bounded word, with no shuffle.
    */
  def unigramSegmentReport(documents: DataFrame, vocabTop: Int = 50,
                           maxPieceLen: Int = 4, maxWordLen: Int = 16,
                           topN: Int = 20): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val words = documents
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(length(col("word")).between(1, maxWordLen))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val pieces = words.select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, $maxPieceLen),
           |  l -> if(length(word) >= l,
           |         transform(sequence(1, length(word) - l + 1),
           |                   i -> substring(word, i, l)),
           |         cast(array() as array<string>))))""".stripMargin)).as("p"))
      .groupBy("p").agg(sum("freq").as("pf"))
    val totDf = pieces.agg(sum("pf").as("tot"))
    val cost = pieces.crossJoin(broadcast(totDf))
      .withColumn("c", floor(log(col("tot").cast("double") /
        col("pf").cast("double")) * lit(1000000.0)).cast("long"))
    val vocab = cost.orderBy(col("pf").desc, col("p")).limit(vocabTop)
      .select("p", "c")
      .unionByName(cost.filter(length(col("p")) === 1).select("p", "c"))
      .distinct()
    val vmap = vocab.as[(String, Long)].collect().toMap // ≤ vocabTop + alphabet
    val bc = spark.sparkContext.broadcast(vmap)
    val mpl = maxPieceLen
    val seg = words.as[(String, Long)].mapPartitions { it =>
      val v = bc.value
      it.map { case (w, f) =>
        val n = w.length
        val k = Array.fill(n + 1)(Long.MaxValue)
        k(0) = 0L
        var i = 1
        while (i <= n) {
          var l = 1
          while (l <= mpl && l <= i) {
            if (k(i - l) != Long.MaxValue) {
              val c = v.getOrElse(w.substring(i - l, i), -1L)
              if (c >= 0L && k(i - l) + c * 100L + 1L < k(i))
                k(i) = k(i - l) + c * 100L + 1L
            }
            l += 1
          }
          i += 1
        }
        (w, f, k(n) / 100L, k(n) % 100L)
      }
    }.toDF("word", "freq", "cost_micro", "n_pieces")
    seg.orderBy(col("freq").desc, col("word")).limit(topN)
  }

  /** The position-discount table ⌊10⁹/log₂(i+1)⌋ shared verbatim by the
    * q291 Spark plan and its oracle (the q286 embedded-constant device —
    * no runtime log₂, so no cross-engine libm drift in the weights). */
  private[operators] def ndcgWeights(k: Int): Seq[(Int, Long)] =
    (1 to k).map(i =>
      i -> math.floor(1e9 / (math.log(i + 1.0) / math.log(2.0))).toLong)

  /** q291: nDCG@10 of a revenue-forecast ranking, per brand — the
    * graded, position-discounted retrieval metric the binary-relevance
    * evals (q169 AUC, q201 MAP, q250 hit-rate) can't express: a
    * top-quartile part misplaced at rank 9 should cost more than a
    * mediocre one at rank 10.
    *
    * Predicted ranking = past-period revenue (cents, exact); graded
    * relevance = future-period revenue quartile among the brand's
    * candidates (ntile(4) on the exact-cents order, grades 3..0).
    * DCG/IDCG are exact integer dot products against the embedded
    * nano-weight table; the ideal order re-ranks the same candidates by
    * (grade, part) — one extra window on 10 rows per brand.
    *
    * Scale: two partial-aggregated passes over lineitem⋈orders (one per
    * period) keyed (brand, part); everything after the top-10 cut is
    * brand-count-bounded. The date split mirrors q250's backtest.
    */
  def ndcgReport(li: DataFrame, orders: DataFrame, part: DataFrame,
                 k: Int = 10, splitDate: String = "1999-01-01"): DataFrame = {
    val spark = li.sparkSession
    import spark.implicits._
    val base = li
      .join(orders.select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")),
        "l_orderkey")
      .join(broadcast(part.select(col("p_partkey").as("l_partkey"), col("p_brand"))),
        "l_partkey")
      .select(col("p_brand"), col("l_partkey").as("part"),
        (col("o_orderdate") < lit(splitDate).cast("date")).as("past"),
        expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)").as("cents"))
    val rev = base.groupBy("p_brand", "part").agg(
      sum(when(col("past"), col("cents")).otherwise(0L)).as("past_c"),
      sum(when(!col("past"), col("cents")).otherwise(0L)).as("fut_c"))
    val wPred = Window.partitionBy("p_brand")
      .orderBy(col("past_c").desc, col("part"))
    val cand = rev.withColumn("pred_rank", row_number().over(wPred))
      .filter(col("pred_rank") <= k)
    val wFut = Window.partitionBy("p_brand")
      .orderBy(col("fut_c").desc, col("part"))
    val wIdeal = Window.partitionBy("p_brand")
      .orderBy(col("grade").desc, col("part"))
    val weights = ndcgWeights(k).toDF("rank", "wt")
    val graded = cand
      .withColumn("grade", lit(4L) - ntile(4).over(wFut))
      .withColumn("ideal_rank", row_number().over(wIdeal))
    val dcg = graded
      .join(broadcast(weights.select(col("rank").as("pred_rank"),
        col("wt").as("wp"))), "pred_rank")
      .join(broadcast(weights.select(col("rank").as("ideal_rank"),
        col("wt").as("wi"))), "ideal_rank")
      .groupBy("p_brand").agg(
        count(lit(1)).as("n_cand"),
        sum(col("grade") * col("wp")).as("dcg_nano"),
        sum(col("grade") * col("wi")).as("idcg_nano"))
    dcg.select(col("p_brand"), col("n_cand"), col("dcg_nano"), col("idcg_nano"),
        when(col("idcg_nano") === 0, lit(null).cast("double"))
          .otherwise(round(col("dcg_nano").cast("double") /
            col("idcg_nano").cast("double"), 6)).as("ndcg"))
      .orderBy("p_brand")
  }

  /** q301: Bradley–Terry preference strengths (Bradley & Terry 1952)
    * fitted by Hunter's MM algorithm (Hunter 2004, Annals of
    * Statistics) — the batch preference model under every
    * RLHF/reward-model data pipeline: pairwise "A beat B" judgments in,
    * per-player latent strength out. Duels here are deterministic:
    * id-consecutive document pairs from different sources (a LINEAR
    * join, never quadratic), longer text wins (tie → the earlier doc).
    *
    * The MM update πᵢ ← Wᵢ / Σⱼ nᵢⱼ/(πᵢ+πⱼ) runs THREE unrolled
    * rounds entirely in integer micro-units: each denominator term is
    * floor(nᵢⱼ·10¹²/(πᵢ+πⱼ)) (exact per-term, so the sum is
    * order-independent), the quotient rides decimal(38,0) ↔ HUGEINT,
    * and the round closes by renormalizing Σπ = k·10⁶ in the same
    * integer arithmetic — no engine-dependent float ever decides a
    * value.
    *
    * Scale shape: one corpus pass builds the duel stream and collapses
    * it to the ≤2·|sources|² (sa, sb, winner) count frame, which is
    * LINEAGE-CUT before the loop (the irlsStep doctrine at
    * [[irlsStep]]: without the cut, round k's plan embeds rounds
    * 1..k−1 as subplans of BOTH broadcast arms — measured 27k plan
    * lines / 1540 parquet scans by round 3). Everything after the cut
    * runs on schema-bounded frames; `pi` is cut each round so the
    * iteration state stays a k-row leaf.
    */
  def bradleyTerry(documents: DataFrame, iters: Int = 3): DataFrame = {
    val a = documents.select(col("doc_id"), col("source"), col("n_chars"))
    val duels = a.alias("a").join(a.alias("b"), expr("b.doc_id = a.doc_id + 1"))
      .filter(col("a.source") =!= col("b.source"))
      .select(col("a.source").as("sa"), col("b.source").as("sb"),
        when(col("a.n_chars") >= col("b.n_chars"), col("a.source"))
          .otherwise(col("b.source")).as("w"))
    // the ONLY corpus-sized work: one pass collapses duels to per-
    // (i, j, winner) counts; the cut makes every downstream reference
    // (pairs, wins, 3×2 broadcast arms, games) a scan of bounded blocks
    val duelStats = graft.plans.Checkpoints.cut(
      duels.groupBy("sa", "sb", "w").agg(count(lit(1)).as("dn")))
    val pairs = duelStats.select(col("sa").as("i"), col("sb").as("j"), col("dn"))
      .unionAll(duelStats.select(col("sb").as("i"), col("sa").as("j"), col("dn")))
      .groupBy("i", "j").agg(sum("dn").as("n"))
    val teams = pairs.select("i").distinct()
    val wins = teams
      .join(duelStats.groupBy(col("w").as("i")).agg(sum("dn").as("wn")), Seq("i"), "left")
      .na.fill(0L, Seq("wn"))
    val kk = teams.agg(count(lit(1)).as("k"))
    var pi = teams.select(col("i"), lit(1000000L).as("p"))
    for (_ <- 1 to iters) {
      val den = pairs.alias("g")
        .join(broadcast(pi.alias("pi")), col("g.i") === col("pi.i"))
        .join(broadcast(pi.alias("pj")), col("g.j") === col("pj.i"))
        .groupBy(col("g.i").as("i"))
        .agg(sum(expr("n * 1000000000000L div (pi.p + pj.p)")).as("den"))
      val raw = wins.join(den, "i")
        .select(col("i"),
          expr("cast(wn as decimal(38,0)) * 1000000000000000000L div den").as("raw"))
      val tot = raw.agg(sum("raw").as("tot"))
      pi = graft.plans.Checkpoints.cut(
        raw.crossJoin(broadcast(tot)).crossJoin(broadcast(kk))
          .select(col("i"), expr("cast(raw as decimal(38,0)) * k * 1000000L div tot").as("p")))
    }
    val games = pairs.groupBy("i").agg(sum("n").as("n_games"))
    wins.join(games, "i").join(pi, "i")
      .select(col("i").as("source"), col("n_games"), col("wn").as("n_wins"),
        round(col("p").cast("double") / 1e6, 6).as("bt_strength"))
      .orderBy("source")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q301_bradley_terry" -> ((s, d) => bradleyTerry(Tables(s, d).documents, iters = 3)),
    "q291_ndcg" -> ((s, d) => { val t = Tables(s, d)
      ndcgReport(t.lineitem, t.orders, t.part) }),
    "q290_unigram_segment" -> ((s, d) => unigramSegmentReport(Tables(s, d).documents)),
    "q270_mcc" -> ((s, d) => mccReport(Tables(s, d).documents)),
    "q253_decile_lift" -> ((s, d) => decileLift(Tables(s, d).documents)),
    "q252_conformal" -> ((s, d) => conformalCoverage(Tables(s, d).documents)),
    "q211_boosted_stumps" -> ((s, d) => boostedStumps(Tables(s, d).documents)),
    "q159_quality_ols" -> ((s, d) => qualityOls(Tables(s, d).documents)),
    "q160_bigram_surprisal" -> ((s, d) => bigramSurprisal(Tables(s, d).documents)),
    "q168_bpe_merges" -> ((s, d) => bpeMerges(Tables(s, d).documents)),
    "q191_bpe_encode" -> ((s, d) => bpeEncodeReport(Tables(s, d).documents)),
    "q169_roc_auc" -> ((s, d) => rocAuc(Tables(s, d).documents)),
    "q322_brier_decomposition" -> ((s, d) => brierDecomposition(Tables(s, d).documents)),
    "q327_woe_iv" -> ((s, d) => woeInformationValue(Tables(s, d).documents)),
    "q329_paired_folds" -> ((s, d) => pairedFoldComparison(Tables(s, d).documents)),
    "q337_mcnemar" -> ((s, d) => mcnemarTest(Tables(s, d).documents)),
    "q201_avg_precision" -> ((s, d) => averagePrecision(Tables(s, d).documents)),
    "q172_target_encoding" -> ((s, d) => targetEncoding(Tables(s, d).documents)),
    "q206_quality_logistic" -> ((s, d) => qualityLogistic(Tables(s, d).documents, iters = 2)),
    "q207_cv_logistic" -> ((s, d) => cvLogistic(Tables(s, d).documents)),
    "q208_mi_ranking" -> ((s, d) => miFeatureRanking(Tables(s, d).documents)),
    "q210_best_f1" -> ((s, d) => bestF1Thresholds(Tables(s, d).documents)),
    "q209_decision_stump" -> ((s, d) => decisionStump(Tables(s, d).documents)),
  )

  /** DuckDB mirror of [[stumpSearch]]: CTE chain over `cells$i`
    * (t, cnt, sy BIGINT, syy HUGEINT) → `win$i` = the 1-row winner.
    * `//` on positive HUGEINTs floors exactly like Spark's `div`.
    */
  private def stumpSql(i: Int, scale: Long): String = {
    val s = scale.toString
    s"""cum$i AS (SELECT t, cnt, sy, syy,
       |    coalesce(sum(cnt) OVER w, 0)::BIGINT AS nl,
       |    coalesce(sum(sy) OVER w, 0)::BIGINT AS syl,
       |    coalesce(sum(syy) OVER w, 0::HUGEINT)::HUGEINT AS syyl
       |  FROM cells$i WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |tot$i AS (SELECT sum(cnt)::BIGINT AS n, sum(sy)::BIGINT AS syt, sum(syy)::HUGEINT AS syyt FROM cells$i),
       |cand$i AS (SELECT t, nl, syl, syyl, n, n - nl AS nr, syt - syl AS syr,
       |                  (syyt - syyl)::HUGEINT AS syyr
       |           FROM cum$i, tot$i WHERE nl > 0),
       |sse$i AS (SELECT t, nl, nr, n,
       |    (syl::HUGEINT * $s) // nl AS pl,
       |    (syr::HUGEINT * $s) // nr AS pr,
       |    (syyl * $s * $s - ((syl::HUGEINT * $s) // nl) * syl * ${2 * scale}
       |       + ((syl::HUGEINT * $s) // nl) * ((syl::HUGEINT * $s) // nl) * nl
       |     + syyr * $s * $s - ((syr::HUGEINT * $s) // nr) * syr * ${2 * scale}
       |       + ((syr::HUGEINT * $s) // nr) * ((syr::HUGEINT * $s) // nr) * nr)::HUGEINT AS sse
       |  FROM cand$i),
       |win$i AS (SELECT * FROM sse$i ORDER BY sse, t LIMIT 1)""".stripMargin
  }

  /** q290 oracle: the Viterbi recurrence unrolled into one CTE per
    * character position (the q168/q143 doctrine); `least` skips NULL
    * options (missing piece / not-yet-reachable prefix) in both engines.
    */
  private def unigramSegmentSql(vocabTop: Int, maxPieceLen: Int,
                                maxWordLen: Int, topN: Int): String = {
    val steps = (1 to maxWordLen).map { i =>
      val optList = (1 to math.min(maxPieceLen, i)).map { l =>
        val prev = if (i - l == 0) "0" else s"b${i - l}.k"
        s"$prev + v${i}_$l.c * 100 + 1"
      }
      val opts = if (optList.size == 1) optList.head
        else s"least(${optList.mkString(",\n         ")})"
      val joins = (1 to math.min(maxPieceLen, i)).map { l =>
        val pj = if (i - l == 0) ""
          else s"  LEFT JOIN b${i - l} ON b${i - l}.word = w.word\n"
        s"$pj  LEFT JOIN vocab v${i}_$l ON v${i}_$l.p = substr(w.word, ${i - l + 1}, $l)"
      }.mkString("\n")
      // the same b CTE may be referenced by several l options — emit each
      // join once (dedup by text)
      val joinLines = joins.split("\n").distinct.mkString("\n")
      s"""b$i AS MATERIALIZED (
         |  SELECT w.word,
         |    $opts AS k
         |  FROM words w
         |$joinLines
         |  WHERE length(w.word) >= $i)""".stripMargin
    }.mkString(",\n")
    val fin = (1 to maxWordLen).map(i =>
      s"SELECT w.word, w.freq, b$i.k FROM words w JOIN b$i ON b$i.word = w.word AND length(w.word) = $i")
      .mkString("\n  UNION ALL ")
    s"""WITH words AS (
       |  SELECT word, count(*)::BIGINT AS freq FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
       |  WHERE length(word) BETWEEN 1 AND $maxWordLen GROUP BY word),
       |cand AS (
       |  SELECT p, sum(freq)::BIGINT AS pf FROM (
       |    SELECT w.freq, substr(w.word, t.i, l.l) AS p
       |    FROM words w,
       |         unnest(range(1, ${maxPieceLen + 1})) AS l(l),
       |         unnest(range(1, ${maxWordLen + 1})) AS t(i)
       |    WHERE t.i + l.l - 1 <= length(w.word))
       |  GROUP BY p),
       |tot AS (SELECT sum(pf)::BIGINT AS tot FROM cand),
       |cost AS (SELECT p, pf,
       |         CAST(floor(ln(tot::DOUBLE / pf::DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS c
       |         FROM cand, tot),
       |vocab AS (
       |  SELECT DISTINCT p, c FROM (
       |    SELECT p, c FROM (SELECT p, c, pf FROM cost ORDER BY pf DESC, p LIMIT $vocabTop)
       |    UNION ALL SELECT p, c FROM cost WHERE length(p) = 1)),
       |$steps,
       |fin AS (
       |  $fin)
       |SELECT word, freq, k // 100 AS cost_micro, k % 100 AS n_pieces
       |FROM fin ORDER BY freq DESC, word LIMIT $topN""".stripMargin
  }

  /** q291 oracle: same candidate cut, same windows, same embedded
    * nano-weight table (generated from [[ndcgWeights]]). */
  private def ndcgSql(k: Int, splitDate: String): String = {
    val wvals = ndcgWeights(k).map { case (i, w) => s"($i, ${w}::BIGINT)" }
      .mkString(", ")
    s"""WITH base AS (
       |  SELECT p.p_brand, l.l_partkey AS part,
       |         (o.o_orderdate < DATE '$splitDate') AS past,
       |         CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |       JOIN part p ON l.l_partkey = p.p_partkey),
       |rev AS (SELECT p_brand, part,
       |          sum(CASE WHEN past THEN cents ELSE 0 END)::BIGINT AS past_c,
       |          sum(CASE WHEN NOT past THEN cents ELSE 0 END)::BIGINT AS fut_c
       |        FROM base GROUP BY 1, 2),
       |cand AS (SELECT * FROM (
       |  SELECT p_brand, part, past_c, fut_c,
       |         row_number() OVER (PARTITION BY p_brand
       |           ORDER BY past_c DESC, part) AS pred_rank
       |  FROM rev) WHERE pred_rank <= $k),
       |graded AS (
       |  SELECT p_brand, part, pred_rank,
       |         (4 - ntile(4) OVER (PARTITION BY p_brand
       |            ORDER BY fut_c DESC, part))::BIGINT AS grade
       |  FROM cand),
       |ideal AS (
       |  SELECT *, row_number() OVER (PARTITION BY p_brand
       |            ORDER BY grade DESC, part) AS ideal_rank
       |  FROM graded),
       |w(rank, wt) AS (VALUES $wvals),
       |agg AS (
       |  SELECT p_brand, count(*)::BIGINT AS n_cand,
       |         sum(grade * wp.wt)::BIGINT AS dcg_nano,
       |         sum(grade * wi.wt)::BIGINT AS idcg_nano
       |  FROM ideal JOIN w wp ON wp.rank = ideal.pred_rank
       |             JOIN w wi ON wi.rank = ideal.ideal_rank
       |  GROUP BY p_brand)
       |SELECT p_brand, n_cand, dcg_nano, idcg_nano,
       |       CASE WHEN idcg_nano = 0 THEN NULL
       |            ELSE round(dcg_nano::DOUBLE / idcg_nano::DOUBLE, 6) END AS ndcg
       |FROM agg ORDER BY p_brand""".stripMargin
  }

  override def oracles: Map[String, String] = Map(
    // same classifier pair as q329; b/c integer sums; one double division
    "q337_mcnemar" ->
      """WITH h AS (SELECT lang = 'en' AS y,
        |       len(list_filter(string_split(lower(text), ' '), w -> w IN ('the','a','and'))) AS en,
        |       len(list_filter(string_split(lower(text), ' '), w -> w IN ('el','la','los'))) AS es,
        |       len(list_filter(string_split(lower(text), ' '), w -> w IN ('der','die','und'))) AS de,
        |       len(list_filter(string_split(lower(text), ' '), w -> w IN ('le','les','des'))) AS fr,
        |       (length(lower(text)) - length(replace(lower(text), 'e', ''))) AS ec,
        |       length(text) AS lt
        |     FROM documents),
        |p AS (SELECT y,
        |             (en >= es AND en >= de AND en >= fr AND en > 0) AS pa,
        |             (ec * 1000 >= lt * 75) AS pb
        |      FROM h),
        |s AS (SELECT count(*)::BIGINT AS n,
        |             sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)::BIGINT AS b,
        |             sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)::BIGINT AS c
        |      FROM p)
        |SELECT n, b, c,
        |       CASE WHEN b + c > 0
        |            THEN round((abs(b - c) - 1) * (abs(b - c) - 1) / (b + c)::DOUBLE, 4)
        |       END AS mcnemar_chi2
        |FROM s""".stripMargin,
    // same md5 folds, integer ppm fold accuracies, one closing double t
    "q329_paired_folds" ->
      """WITH h AS (SELECT lang = 'en' AS y, text, doc_id,
        |       len(list_filter(string_split(lower(text), ' '), w -> w IN ('the','a','and'))) AS en,
        |       len(list_filter(string_split(lower(text), ' '), w -> w IN ('el','la','los'))) AS es,
        |       len(list_filter(string_split(lower(text), ' '), w -> w IN ('der','die','und'))) AS de,
        |       len(list_filter(string_split(lower(text), ' '), w -> w IN ('le','les','des'))) AS fr,
        |       (length(lower(text)) - length(replace(lower(text), 'e', ''))) AS ec,
        |       list_reduce(list_transform(range(1, 16),
        |         i -> strpos('0123456789abcdef',
        |                     substr(md5('fold|' || doc_id::VARCHAR), i, 1)) - 1),
        |         (a, b) -> a * 16 + b)::UBIGINT % 5 AS fold
        |     FROM documents),
        |b AS (SELECT y, fold,
        |             (en >= es AND en >= de AND en >= fr AND en > 0) AS pa,
        |             (ec * 1000 >= length(text) * 75) AS pb
        |      FROM h),
        |folds AS (SELECT fold, count(*)::BIGINT AS n,
        |                 sum((pa = y)::BIGINT)::BIGINT AS ca,
        |                 sum((pb = y)::BIGINT)::BIGINT AS cb
        |          FROM b GROUP BY fold),
        |d AS (SELECT n, (ca * 1000000 // n - cb * 1000000 // n)::BIGINT AS d FROM folds),
        |s AS (SELECT count(*)::BIGINT AS k, sum(d)::BIGINT AS sd,
        |             sum(d::HUGEINT * d) AS sdd, sum(n)::BIGINT AS n_total
        |      FROM d)
        |SELECT k, n_total,
        |  round(sd::DOUBLE / k, 2) AS mean_diff_ppm,
        |  CASE WHEN k * sdd - sd::HUGEINT * sd = 0 THEN NULL
        |       ELSE round(sd::DOUBLE * sqrt((k - 1)::DOUBLE) /
        |                  sqrt((k * sdd - sd::HUGEINT * sd)::DOUBLE), 4)
        |  END AS t_stat
        |FROM s""".stripMargin,
    // same percentile cuts (quantile_cont == Spark percentile up to the
    // round-4 absorbed ulps), same comparison binning, micro-nat WOE,
    // sign-aligned IV floor terms
    "q327_woe_iv" ->
      ("""WITH base AS (SELECT (lang = 'en')::BIGINT AS y, n_chars FROM documents),
        |cuts AS (SELECT quantile_cont(n_chars, [""" +
        (1 until 10).map(k => s"${k / 10.0}::DOUBLE").mkString(", ") + """]) AS c
        |         FROM base),
        |binned AS (SELECT y, (1 + """ +
        (1 until 10).map(k => s"(n_chars > round(c[$k], 4))::BIGINT").mkString(" + ") +
        """)::BIGINT AS bin
        |          FROM base, cuts),
        |cells AS (SELECT bin, count(*)::BIGINT AS n,
        |                 sum(y)::BIGINT AS pos,
        |                 (count(*) - sum(y))::BIGINT AS neg
        |          FROM binned GROUP BY bin),
        |tot AS (SELECT sum(pos)::BIGINT AS tp, sum(neg)::BIGINT AS tn FROM cells),
        |w AS (SELECT bin, n, pos, neg, tp, tn,
        |        CAST(floor(ln(((pos + 1) * (tn + 10))::DOUBLE /
        |                      ((neg + 1) * (tp + 10))::DOUBLE) * 1000000) AS BIGINT)
        |          AS woe_micro
        |      FROM cells, tot)
        |SELECT bin, n, pos, neg, woe_micro,
        |  (((pos + 1)::HUGEINT * (tn + 10) - (neg + 1)::HUGEINT * (tp + 10))
        |    * woe_micro // ((tp + 10)::HUGEINT * (tn + 10)))::BIGINT AS iv_micro
        |FROM w ORDER BY bin""").stripMargin,
    // same bins, same integer Brier/ECE numerators, same nano-quantized
    // REL/RES per-bin terms on HUGEINT
    "q322_brier_decomposition" ->
      """WITH base AS (SELECT (lang = 'en')::BIGINT AS y,
        |       least(9, ((length(lower(text)) - length(replace(lower(text), 'e', ''))) * 40)
        |         // (length(text) + 1)) AS k
        |     FROM documents),
        |cells AS (SELECT k, count(*)::BIGINT AS nk, sum(y)::BIGINT AS mk,
        |                 (2 * k + 1)::BIGINT AS pk
        |          FROM base GROUP BY k),
        |tot AS (SELECT sum(nk)::BIGINT AS n, sum(mk)::BIGINT AS m FROM cells),
        |terms AS (SELECT n, m,
        |    (mk * (pk - 20) * (pk - 20) + (nk - mk) * pk * pk)::BIGINT AS bq,
        |    abs(pk * nk - 20 * mk)::BIGINT AS eq,
        |    ((pk * nk - 20 * mk)::HUGEINT * (pk * nk - 20 * mk) * 1000000000)
        |      // (400 * nk) AS rel_nano,
        |    ((mk::HUGEINT * n - nk::HUGEINT * m) * (mk::HUGEINT * n - nk::HUGEINT * m)
        |      * 1000000000) // (nk::HUGEINT * n * n) AS res_nano
        |  FROM cells, tot),
        |s AS (SELECT n, m, sum(bq)::BIGINT AS bq, sum(eq)::BIGINT AS eq,
        |             sum(rel_nano) AS reln, sum(res_nano) AS resn
        |      FROM terms GROUP BY n, m)
        |SELECT n, m,
        |  round(bq::DOUBLE / (400 * n)::DOUBLE, 6) AS brier,
        |  round(reln::DOUBLE / (n::DOUBLE * 1e9), 6) AS reliability,
        |  round(resn::DOUBLE / (n::DOUBLE * 1e9), 6) AS resolution,
        |  round((m * (n - m))::DOUBLE / (n * n)::DOUBLE, 6) AS uncertainty,
        |  round(eq::DOUBLE / (20 * n)::DOUBLE, 6) AS ece
        |FROM s""".stripMargin,
    "q291_ndcg" -> ndcgSql(10, "1999-01-01"),
    "q290_unigram_segment" -> unigramSegmentSql(50, 4, 16, 20),
    // 3 unrolled MM rounds; every division is integer floor (// on
    // HUGEINT ↔ Spark decimal div); MATERIALIZED pins the duel stream
    // so DuckDB evaluates the corpus self-join once, not 2^rounds times
    "q301_bradley_terry" ->
      """WITH duels AS MATERIALIZED (
        |  SELECT a.source AS sa, b.source AS sb,
        |         CASE WHEN a.n_chars >= b.n_chars THEN a.source ELSE b.source END AS w
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.source <> b.source),
        |pairs AS MATERIALIZED (
        |  SELECT i, j, count(*)::BIGINT AS n FROM (
        |    SELECT sa AS i, sb AS j FROM duels
        |    UNION ALL SELECT sb AS i, sa AS j FROM duels)
        |  GROUP BY 1, 2),
        |teams AS MATERIALIZED (SELECT DISTINCT i FROM pairs),
        |wins AS MATERIALIZED (
        |  SELECT t.i, coalesce(w.wn, 0)::BIGINT AS wn
        |  FROM teams t LEFT JOIN (SELECT w AS i, count(*)::BIGINT AS wn
        |                          FROM duels GROUP BY 1) w ON w.i = t.i),
        |kk AS (SELECT count(*)::BIGINT AS k FROM teams),
        |p0 AS MATERIALIZED (SELECT i, 1000000::BIGINT AS p FROM teams),
        |d1 AS (SELECT g.i, sum(g.n * 1000000000000 // (pi.p + pj.p))::BIGINT AS den
        |       FROM pairs g JOIN p0 pi ON pi.i = g.i JOIN p0 pj ON pj.i = g.j GROUP BY 1),
        |r1 AS (SELECT w.i, (w.wn::HUGEINT * 1000000000000000000) // d.den AS raw
        |       FROM wins w JOIN d1 d ON d.i = w.i),
        |p1 AS MATERIALIZED (
        |  SELECT i, ((raw * k * 1000000) // (SELECT sum(raw) FROM r1))::BIGINT AS p
        |  FROM r1, kk),
        |d2 AS (SELECT g.i, sum(g.n * 1000000000000 // (pi.p + pj.p))::BIGINT AS den
        |       FROM pairs g JOIN p1 pi ON pi.i = g.i JOIN p1 pj ON pj.i = g.j GROUP BY 1),
        |r2 AS (SELECT w.i, (w.wn::HUGEINT * 1000000000000000000) // d.den AS raw
        |       FROM wins w JOIN d2 d ON d.i = w.i),
        |p2 AS MATERIALIZED (
        |  SELECT i, ((raw * k * 1000000) // (SELECT sum(raw) FROM r2))::BIGINT AS p
        |  FROM r2, kk),
        |d3 AS (SELECT g.i, sum(g.n * 1000000000000 // (pi.p + pj.p))::BIGINT AS den
        |       FROM pairs g JOIN p2 pi ON pi.i = g.i JOIN p2 pj ON pj.i = g.j GROUP BY 1),
        |r3 AS (SELECT w.i, (w.wn::HUGEINT * 1000000000000000000) // d.den AS raw
        |       FROM wins w JOIN d3 d ON d.i = w.i),
        |p3 AS (SELECT i, ((raw * k * 1000000) // (SELECT sum(raw) FROM r3))::BIGINT AS p
        |       FROM r3, kk),
        |games AS (SELECT i, sum(n)::BIGINT AS n_games FROM pairs GROUP BY 1)
        |SELECT w.i AS source, g.n_games, w.wn AS n_wins,
        |       round(p3.p::DOUBLE / 1e6, 6) AS bt_strength
        |FROM wins w JOIN games g ON g.i = w.i JOIN p3 ON p3.i = w.i
        |ORDER BY source""".stripMargin,
    // tp·tn − fp·fn in HUGEINT mirrors Spark's decimal(38,0); the four
    // marginals √ separately so the n⁴-scale product never forms
    "q270_mcc" ->
      """WITH t AS (
        |  SELECT (CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS y,
        |         (CASE WHEN len(string_split(text, ' ')) * 1000000
        |                    // greatest(n_chars, 1) >= 180000
        |               THEN 1 ELSE 0 END)::BIGINT AS yh
        |  FROM documents),
        |c AS (
        |  SELECT sum(CASE WHEN y = 1 AND yh = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
        |         sum(CASE WHEN y = 0 AND yh = 1 THEN 1 ELSE 0 END)::BIGINT AS fp,
        |         sum(CASE WHEN y = 0 AND yh = 0 THEN 1 ELSE 0 END)::BIGINT AS tn,
        |         sum(CASE WHEN y = 1 AND yh = 0 THEN 1 ELSE 0 END)::BIGINT AS fn
        |  FROM t)
        |SELECT tp, fp, tn, fn,
        |       CASE WHEN tp + fp = 0 OR tp + fn = 0 OR tn + fp = 0 OR tn + fn = 0
        |            THEN NULL
        |            ELSE round((tp::HUGEINT * tn - fp::HUGEINT * fn)::DOUBLE /
        |                 (sqrt((tp + fp)::DOUBLE) * sqrt((tp + fn)::DOUBLE)
        |                  * sqrt((tn + fp)::DOUBLE) * sqrt((tn + fn)::DOUBLE)), 4)
        |       END AS mcc,
        |       ((tp * 1000000 // greatest(tp + fn, 1))
        |        + (tn * 1000000 // greatest(tn + fp, 1))) // 2 AS bal_acc_ppm
        |FROM c""".stripMargin,
    "q253_decile_lift" ->
      """WITH scored AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END::BIGINT AS y,
        |         (len(string_split(text, ' '))::BIGINT * 1000000
        |            // greatest(n_chars, 1))::BIGINT AS s
        |  FROM documents),
        |tot AS (SELECT count(*)::BIGINT AS n_total, sum(y)::BIGINT AS npos_total FROM scored),
        |hist AS (SELECT s, count(*)::BIGINT AS nc FROM scored GROUP BY s),
        |cum AS (SELECT s, sum(nc) OVER (ORDER BY s) AS cum FROM hist),
        |cuts AS (SELECT k, min(s) AS cut
        |         FROM cum CROSS JOIN tot CROSS JOIN (SELECT unnest(range(1, 10)) AS k) ks
        |         WHERE cum * 10 >= k * n_total GROUP BY k),
        |cl AS (SELECT list(cut ORDER BY cut) AS cuts FROM cuts),
        |dec AS (SELECT 1 + len(list_filter(cuts, c -> s > c)) AS decile, y
        |        FROM scored CROSS JOIN cl)
        |SELECT decile::INT AS decile, count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos,
        |       (sum(y) * 1000000 // count(*))::BIGINT AS response_ppm,
        |       (sum(y) * n_total * 1000000 // (count(*) * npos_total))::BIGINT AS lift_ppm
        |FROM dec CROSS JOIN tot
        |GROUP BY decile, n_total, npos_total ORDER BY decile""".stripMargin,
    "q252_conformal" ->
      """WITH base AS (SELECT doc_id, n_chars,
        |                     len(string_split(text, ' '))::BIGINT AS toks,
        |                     md5('conf|' || doc_id) < '8' AS is_calib
        |              FROM documents),
        |sl AS (SELECT sum(toks)::BIGINT AS st, sum(n_chars)::BIGINT AS sc,
        |              count(*)::BIGINT AS n_calib FROM base WHERE is_calib),
        |cal AS (SELECT abs(toks * sc - n_chars * st) AS r FROM base, sl WHERE is_calib),
        |hist AS (SELECT r, count(*)::BIGINT AS nc FROM cal GROUP BY r),
        |cumh AS (SELECT r, sum(nc) OVER (ORDER BY r) AS cum FROM hist),
        |q AS (SELECT min(r)::BIGINT AS qhat FROM cumh, sl
        |      WHERE cum * 100 >= (n_calib + 1) * 90),
        |te AS (SELECT abs(toks * sc - n_chars * st) AS r FROM base, sl WHERE NOT is_calib)
        |SELECT sl.n_calib, count(*)::BIGINT AS n_test, max(q.qhat)::BIGINT AS qhat,
        |       sum(CASE WHEN te.r <= q.qhat THEN 1 ELSE 0 END)::BIGINT AS n_covered,
        |       (sum(CASE WHEN te.r <= q.qhat THEN 1 ELSE 0 END) * 1000000
        |          // count(*))::BIGINT AS coverage_ppm
        |FROM te, q, sl GROUP BY sl.n_calib""".stripMargin,
    "q211_boosted_stumps" ->
      s"""WITH base AS (SELECT len(string_split(lower(text), ' '))::BIGINT AS x1,
        |                     len(list_distinct(string_split(lower(text), ' ')))::BIGINT AS x2,
        |                     n_chars::BIGINT AS y
        |              FROM documents),
        |cells1 AS (SELECT x1 AS t, count(*)::BIGINT AS cnt, sum(y)::BIGINT AS sy,
        |                  sum(y::HUGEINT * y)::HUGEINT AS syy FROM base GROUP BY 1),
        |${stumpSql(1, 1000000L)},
        |resid AS (SELECT x2,
        |                 (y * 1000000 - (CASE WHEN x1 < w.t THEN w.pl ELSE w.pr END)
        |                  + 1000000000000)::HUGEINT AS y2
        |          FROM base, win1 w),
        |cells2 AS (SELECT x2 AS t, count(*)::BIGINT AS cnt, sum(y2)::BIGINT AS sy,
        |                  sum(y2 * y2)::HUGEINT AS syy FROM resid GROUP BY 1),
        |${stumpSql(2, 1L)}
        |SELECT 1::BIGINT AS iter, 'n_tokens' AS feature, t AS threshold,
        |       nl AS n_left, nr AS n_right,
        |       round(pl::DOUBLE / 1000000.0, 6) AS pred_left,
        |       round(pr::DOUBLE / 1000000.0, 6) AS pred_right,
        |       round(sqrt(sse::DOUBLE / n::DOUBLE) / 1000000.0, 6) AS rmse
        |FROM win1
        |UNION ALL
        |SELECT 2::BIGINT, 'n_distinct_tokens', t, nl, nr,
        |       round((pl - 1000000000000)::DOUBLE / 1000000.0, 6),
        |       round((pr - 1000000000000)::DOUBLE / 1000000.0, 6),
        |       round(sqrt(sse::DOUBLE / n::DOUBLE) / 1000000.0, 6)
        |FROM win2
        |ORDER BY iter""".stripMargin,
    "q159_quality_ols" ->
      """WITH f AS (SELECT len(string_split(lower(text), ' '))::BIGINT AS x1,
        |                  len(list_distinct(string_split(lower(text), ' ')))::BIGINT AS x2,
        |                  n_chars::BIGINT AS y
        |           FROM documents),
        |s AS (SELECT count(*)::BIGINT AS n,
        |             sum(x1)::BIGINT AS s1, sum(x2)::BIGINT AS s2, sum(y)::BIGINT AS sy,
        |             sum(x1*x1)::BIGINT AS s11, sum(x1*x2)::BIGINT AS s12,
        |             sum(x2*x2)::BIGINT AS s22, sum(x1*y)::BIGINT AS s1y,
        |             sum(x2*y)::BIGINT AS s2y, sum(y*y)::BIGINT AS syy
        |      FROM f),
        |d AS (SELECT n,
        |             CAST(n AS DOUBLE) AS a, CAST(s1 AS DOUBLE) AS b,
        |             CAST(s2 AS DOUBLE) AS c, CAST(s1 AS DOUBLE) AS d,
        |             CAST(s11 AS DOUBLE) AS e, CAST(s12 AS DOUBLE) AS f,
        |             CAST(s2 AS DOUBLE) AS g, CAST(s12 AS DOUBLE) AS h,
        |             CAST(s22 AS DOUBLE) AS i, CAST(sy AS DOUBLE) AS r0,
        |             CAST(s1y AS DOUBLE) AS r1, CAST(s2y AS DOUBLE) AS r2,
        |             CAST(syy AS DOUBLE) AS syy FROM s),
        |m AS (SELECT n, r0, r1, r2, syy, a,
        |             a*(e*i - f*h) - b*(d*i - f*g) + c*(d*h - e*g) AS det,
        |             r0*(e*i - f*h) - b*(r1*i - f*r2) + c*(r1*h - e*r2) AS det0,
        |             a*(r1*i - f*r2) - r0*(d*i - f*g) + c*(d*r2 - r1*g) AS det1,
        |             a*(e*r2 - r1*h) - b*(d*r2 - r1*g) + r0*(d*h - e*g) AS det2
        |      FROM d),
        |bb AS (SELECT n, r0, r1, r2, syy, a,
        |              det0/det AS b0, det1/det AS b1, det2/det AS b2 FROM m)
        |SELECT n, round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2,
        |       round(1.0 - (syy - b0*r0 - b1*r1 - b2*r2) / (syy - r0*r0/a), 6) AS r2_fit
        |FROM bb""".stripMargin,
    "q160_bigram_surprisal" ->
      """WITH doc AS (SELECT source, string_split(lower(text), ' ') AS ts FROM documents),
        |pairs AS (SELECT source, ts[i] AS w1, ts[i + 1] AS w2
        |          FROM (SELECT source, ts, unnest(range(1, len(ts))) AS i FROM doc)),
        |g AS (SELECT source, w1, w2, count(*)::BIGINT AS nb FROM pairs GROUP BY 1, 2, 3),
        |vv AS (SELECT count(DISTINCT w2)::BIGINT AS v FROM g),
        |s AS (SELECT source, nb,
        |             sum(nb) OVER (PARTITION BY w1, w2)::BIGINT AS c_xy,
        |             sum(nb) OVER (PARTITION BY w1)::BIGINT AS c_x
        |      FROM g),
        |u AS (SELECT source, nb,
        |             CAST(floor(-ln((CAST(c_xy AS DOUBLE) + 1.0) / (CAST(c_x AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000) AS BIGINT) AS u
        |      FROM s, vv),
        |agg AS (SELECT source, sum(nb)::BIGINT AS n_bigrams,
        |               round(sum(nb * u) / sum(nb) / 1000000.0, 4) AS mean_surprisal
        |        FROM u GROUP BY source)
        |SELECT source, n_bigrams, mean_surprisal,
        |       round(exp(mean_surprisal), 2) AS ppl
        |FROM agg ORDER BY source""".stripMargin,
    "q168_bpe_merges" -> bpeOracle(8),
    "q191_bpe_encode" -> bpeEncodeOracle(8),
    "q201_avg_precision" ->
      """WITH r AS (
        |  SELECT source, doc_id, n_chars,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
        |         row_number() OVER w AS k,
        |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) OVER
        |           (PARTITION BY source ORDER BY n_chars DESC, doc_id
        |            ROWS UNBOUNDED PRECEDING) AS cum_pos
        |  FROM documents
        |  WINDOW w AS (PARTITION BY source ORDER BY n_chars DESC, doc_id))
        |SELECT source, count(*)::BIGINT AS n_docs, sum(pos)::BIGINT AS n_pos,
        |       CASE WHEN sum(pos) = 0 THEN NULL
        |            ELSE round(sum(CASE WHEN pos = 1
        |                                THEN (cum_pos * 1000000000) // k
        |                                ELSE 0 END)::DOUBLE / 1e9 / sum(pos), 4)
        |       END AS avg_precision
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    // tie-corrected Mann-Whitney over the score-distinct frame; HUGEINT
    // mirrors the Spark side's DECIMAL(38,0) exactness contract
    "q169_roc_auc" ->
      """WITH g AS (
        |  SELECT source, n_chars, count(*)::BIGINT AS cnt,
        |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS pos
        |  FROM documents GROUP BY 1, 2),
        |w AS (
        |  SELECT source, cnt, pos,
        |         sum(cnt) OVER (PARTITION BY source ORDER BY n_chars)::BIGINT AS cum
        |  FROM g),
        |a AS (
        |  SELECT source, sum(pos)::BIGINT AS n_pos, (sum(cnt) - sum(pos))::BIGINT AS n_neg,
        |         sum(pos::HUGEINT * (2 * cum - cnt + 1)) AS r2
        |  FROM w GROUP BY source)
        |SELECT source, n_pos, n_neg,
        |       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |         round((r2 - n_pos::HUGEINT * (n_pos + 1))::DOUBLE /
        |               (2::HUGEINT * n_pos * n_neg)::DOUBLE, 4) END AS auc
        |FROM a ORDER BY source""".stripMargin,
    // md5-bucket folds (q66/q152 convention); leave-one-fold-out means
    // from exact integer sums, double division + round only at the end
    "q172_target_encoding" ->
      """WITH f AS (
        |  SELECT source,
        |         (list_reduce(list_transform(range(1, 16),
        |            i -> strpos('0123456789abcdef', substr(md5('fold|' || doc_id), i, 1)) - 1),
        |            (a, b) -> a * 16 + b)::UBIGINT % 5)::INT AS fold,
        |         n_chars
        |  FROM documents),
        |cells AS (SELECT source, fold, count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS s
        |          FROM f GROUP BY 1, 2),
        |w AS (
        |  SELECT source, fold, n, s,
        |         sum(n) OVER (PARTITION BY source)::BIGINT AS src_n,
        |         sum(s) OVER (PARTITION BY source)::BIGINT AS src_s,
        |         sum(n) OVER (PARTITION BY fold)::BIGINT AS f_n,
        |         sum(s) OVER (PARTITION BY fold)::BIGINT AS f_s,
        |         sum(n) OVER ()::BIGINT AS g_n, sum(s) OVER ()::BIGINT AS g_s
        |  FROM cells)
        |SELECT source, fold, n, (src_n - n)::BIGINT AS oof_n,
        |       round((src_s - s)::DOUBLE / (src_n - n), 4) AS oof_mean,
        |       round(((src_s - s)::DOUBLE + 20 * ((g_s - f_s)::DOUBLE / (g_n - f_n)))
        |             / ((src_n - n) + 20), 4) AS enc_smooth
        |FROM w ORDER BY source, fold""".stripMargin,
    // two IRLS rounds unrolled (the q143/q176 oracle convention); the
    // Newton-solve double arithmetic mirrors the Spark expressions
    // operation-for-operation so both engines run the same IEEE tree
    "q206_quality_logistic" ->
      """WITH f AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END::BIGINT AS y,
        |         CASE WHEN 2 * len(list_distinct(string_split(lower(text), ' ')))
        |                   > len(string_split(lower(text), ' ')) THEN 1 ELSE 0 END::BIGINT AS x1,
        |         CASE WHEN list_max(list_transform(string_split(lower(text), ' '),
        |                                           w -> length(w))) >= 8
        |              THEN 1 ELSE 0 END::BIGINT AS x2
        |  FROM documents),
        |c0 AS (SELECT 0::BIGINT AS b0q, 0::BIGINT AS b1q, 0::BIGINT AS b2q),
        |q1 AS (SELECT *, pq * (1000000 - pq) AS wq, y * 1000000 - pq AS r FROM (
        |         SELECT f.y, f.x1, f.x2, c.b0q, c.b1q, c.b2q,
        |                CAST(floor(1e6 / (1.0 + exp(-((c.b0q + c.b1q*f.x1 + c.b2q*f.x2) / 1e6)))) AS BIGINT) AS pq
        |         FROM f CROSS JOIN c0 c)),
        |s1 AS (SELECT any_value(b0q) AS b0q, any_value(b1q) AS b1q, any_value(b2q) AS b2q,
        |              sum(r)::BIGINT AS g0, sum(x1*r)::BIGINT AS g1, sum(x2*r)::BIGINT AS g2,
        |              sum(wq)::BIGINT AS h00, sum(x1*wq)::BIGINT AS h01, sum(x2*wq)::BIGINT AS h02,
        |              sum(x1*x1*wq)::BIGINT AS h11, sum(x1*x2*wq)::BIGINT AS h12,
        |              sum(x2*x2*wq)::BIGINT AS h22
        |       FROM q1),
        |c1 AS (SELECT b0q + CAST(floor(det0 / det * 1e12) AS BIGINT) AS b0q,
        |              b1q + CAST(floor(det1 / det * 1e12) AS BIGINT) AS b1q,
        |              b2q + CAST(floor(det2 / det * 1e12) AS BIGINT) AS b2q
        |       FROM (SELECT *,
        |               ha*(he*hi - hf*hf) - hb*(hb*hi - hf*hc) + hc*(hb*hf - he*hc) AS det,
        |               dg0*(he*hi - hf*hf) - hb*(dg1*hi - hf*dg2) + hc*(dg1*hf - he*dg2) AS det0,
        |               ha*(dg1*hi - hf*dg2) - dg0*(hb*hi - hf*hc) + hc*(hb*dg2 - dg1*hc) AS det1,
        |               ha*(he*dg2 - dg1*hf) - hb*(hb*dg2 - dg1*hc) + dg0*(hb*hf - he*hc) AS det2
        |             FROM (SELECT *, g0::DOUBLE AS dg0, g1::DOUBLE AS dg1, g2::DOUBLE AS dg2,
        |                          (h00 + 1000000000)::DOUBLE AS ha, h01::DOUBLE AS hb, h02::DOUBLE AS hc,
        |                          (h11 + 1000000000)::DOUBLE AS he, h12::DOUBLE AS hf,
        |                          (h22 + 1000000000)::DOUBLE AS hi
        |                   FROM s1))),
        |q2 AS (SELECT *, pq * (1000000 - pq) AS wq, y * 1000000 - pq AS r FROM (
        |         SELECT f.y, f.x1, f.x2, c.b0q, c.b1q, c.b2q,
        |                CAST(floor(1e6 / (1.0 + exp(-((c.b0q + c.b1q*f.x1 + c.b2q*f.x2) / 1e6)))) AS BIGINT) AS pq
        |         FROM f CROSS JOIN c1 c)),
        |s2 AS (SELECT any_value(b0q) AS b0q, any_value(b1q) AS b1q, any_value(b2q) AS b2q,
        |              sum(r)::BIGINT AS g0, sum(x1*r)::BIGINT AS g1, sum(x2*r)::BIGINT AS g2,
        |              sum(wq)::BIGINT AS h00, sum(x1*wq)::BIGINT AS h01, sum(x2*wq)::BIGINT AS h02,
        |              sum(x1*x1*wq)::BIGINT AS h11, sum(x1*x2*wq)::BIGINT AS h12,
        |              sum(x2*x2*wq)::BIGINT AS h22
        |       FROM q2),
        |c2 AS (SELECT b0q + CAST(floor(det0 / det * 1e12) AS BIGINT) AS b0q,
        |              b1q + CAST(floor(det1 / det * 1e12) AS BIGINT) AS b1q,
        |              b2q + CAST(floor(det2 / det * 1e12) AS BIGINT) AS b2q
        |       FROM (SELECT *,
        |               ha*(he*hi - hf*hf) - hb*(hb*hi - hf*hc) + hc*(hb*hf - he*hc) AS det,
        |               dg0*(he*hi - hf*hf) - hb*(dg1*hi - hf*dg2) + hc*(dg1*hf - he*dg2) AS det0,
        |               ha*(dg1*hi - hf*dg2) - dg0*(hb*hi - hf*hc) + hc*(hb*dg2 - dg1*hc) AS det1,
        |               ha*(he*dg2 - dg1*hf) - hb*(hb*dg2 - dg1*hc) + dg0*(hb*hf - he*hc) AS det2
        |             FROM (SELECT *, g0::DOUBLE AS dg0, g1::DOUBLE AS dg1, g2::DOUBLE AS dg2,
        |                          (h00 + 1000000000)::DOUBLE AS ha, h01::DOUBLE AS hb, h02::DOUBLE AS hc,
        |                          (h11 + 1000000000)::DOUBLE AS he, h12::DOUBLE AS hf,
        |                          (h22 + 1000000000)::DOUBLE AS hi
        |                   FROM s2)))
        |SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos,
        |       round(any_value(c.b0q) / 1e6, 6) AS b0,
        |       round(any_value(c.b1q) / 1e6, 6) AS b1,
        |       round(any_value(c.b2q) / 1e6, 6) AS b2,
        |       round(sum(CASE WHEN (pq >= 500000) = (y = 1) THEN 1 ELSE 0 END)
        |             / CAST(count(*) AS DOUBLE), 4) AS accuracy
        |FROM (SELECT f.y, f.x1, f.x2, c.b0q, c.b1q, c.b2q,
        |             CAST(floor(1e6 / (1.0 + exp(-((c.b0q + c.b1q*f.x1 + c.b2q*f.x2) / 1e6)))) AS BIGINT) AS pq
        |      FROM f CROSS JOIN c2 c) c""".stripMargin,
    // q206's oracle with the per-model grouping: the two IRLS rounds are
    // unrolled, but folds are a GROUP BY — not unrolled — exactly like
    // the Spark plan
    "q207_cv_logistic" ->
      """WITH f AS (
        |  SELECT (list_reduce(list_transform(range(1, 16),
        |            i -> strpos('0123456789abcdef', substr(md5('cv|' || doc_id), i, 1)) - 1),
        |            (a, b) -> a * 16 + b)::UBIGINT % 3)::BIGINT AS fold,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END::BIGINT AS y,
        |         CASE WHEN 2 * len(list_distinct(string_split(lower(text), ' ')))
        |                   > len(string_split(lower(text), ' ')) THEN 1 ELSE 0 END::BIGINT AS x1,
        |         CASE WHEN list_max(list_transform(string_split(lower(text), ' '),
        |                                           w -> length(w))) >= 8
        |              THEN 1 ELSE 0 END::BIGINT AS x2
        |  FROM documents),
        |tr AS (SELECT unnest(list_filter(range(0, 3), m -> m != fold))::BIGINT AS mf,
        |              y, x1, x2 FROM f),
        |c0 AS (SELECT unnest(range(0, 3))::BIGINT AS mf,
        |              0::BIGINT AS b0q, 0::BIGINT AS b1q, 0::BIGINT AS b2q),
        |q1 AS (SELECT *, pq * (1000000 - pq) AS wq, y * 1000000 - pq AS r FROM (
        |         SELECT t.mf, t.y, t.x1, t.x2, c.b0q, c.b1q, c.b2q,
        |                CAST(floor(1e6 / (1.0 + exp(-((c.b0q + c.b1q*t.x1 + c.b2q*t.x2) / 1e6)))) AS BIGINT) AS pq
        |         FROM tr t JOIN c0 c ON c.mf = t.mf)),
        |s1 AS (SELECT mf, any_value(b0q) AS b0q, any_value(b1q) AS b1q, any_value(b2q) AS b2q,
        |              sum(r)::BIGINT AS g0, sum(x1*r)::BIGINT AS g1, sum(x2*r)::BIGINT AS g2,
        |              sum(wq)::BIGINT AS h00, sum(x1*wq)::BIGINT AS h01, sum(x2*wq)::BIGINT AS h02,
        |              sum(x1*x1*wq)::BIGINT AS h11, sum(x1*x2*wq)::BIGINT AS h12,
        |              sum(x2*x2*wq)::BIGINT AS h22
        |       FROM q1 GROUP BY mf),
        |c1 AS (SELECT mf, b0q + CAST(floor(det0 / det * 1e12) AS BIGINT) AS b0q,
        |              b1q + CAST(floor(det1 / det * 1e12) AS BIGINT) AS b1q,
        |              b2q + CAST(floor(det2 / det * 1e12) AS BIGINT) AS b2q
        |       FROM (SELECT *,
        |               ha*(he*hi - hf*hf) - hb*(hb*hi - hf*hc) + hc*(hb*hf - he*hc) AS det,
        |               dg0*(he*hi - hf*hf) - hb*(dg1*hi - hf*dg2) + hc*(dg1*hf - he*dg2) AS det0,
        |               ha*(dg1*hi - hf*dg2) - dg0*(hb*hi - hf*hc) + hc*(hb*dg2 - dg1*hc) AS det1,
        |               ha*(he*dg2 - dg1*hf) - hb*(hb*dg2 - dg1*hc) + dg0*(hb*hf - he*hc) AS det2
        |             FROM (SELECT *, g0::DOUBLE AS dg0, g1::DOUBLE AS dg1, g2::DOUBLE AS dg2,
        |                          (h00 + 1000000000)::DOUBLE AS ha, h01::DOUBLE AS hb, h02::DOUBLE AS hc,
        |                          (h11 + 1000000000)::DOUBLE AS he, h12::DOUBLE AS hf,
        |                          (h22 + 1000000000)::DOUBLE AS hi
        |                   FROM s1))),
        |q2 AS (SELECT *, pq * (1000000 - pq) AS wq, y * 1000000 - pq AS r FROM (
        |         SELECT t.mf, t.y, t.x1, t.x2, c.b0q, c.b1q, c.b2q,
        |                CAST(floor(1e6 / (1.0 + exp(-((c.b0q + c.b1q*t.x1 + c.b2q*t.x2) / 1e6)))) AS BIGINT) AS pq
        |         FROM tr t JOIN c1 c ON c.mf = t.mf)),
        |s2 AS (SELECT mf, any_value(b0q) AS b0q, any_value(b1q) AS b1q, any_value(b2q) AS b2q,
        |              sum(r)::BIGINT AS g0, sum(x1*r)::BIGINT AS g1, sum(x2*r)::BIGINT AS g2,
        |              sum(wq)::BIGINT AS h00, sum(x1*wq)::BIGINT AS h01, sum(x2*wq)::BIGINT AS h02,
        |              sum(x1*x1*wq)::BIGINT AS h11, sum(x1*x2*wq)::BIGINT AS h12,
        |              sum(x2*x2*wq)::BIGINT AS h22
        |       FROM q2 GROUP BY mf),
        |c2 AS (SELECT mf, b0q + CAST(floor(det0 / det * 1e12) AS BIGINT) AS b0q,
        |              b1q + CAST(floor(det1 / det * 1e12) AS BIGINT) AS b1q,
        |              b2q + CAST(floor(det2 / det * 1e12) AS BIGINT) AS b2q
        |       FROM (SELECT *,
        |               ha*(he*hi - hf*hf) - hb*(hb*hi - hf*hc) + hc*(hb*hf - he*hc) AS det,
        |               dg0*(he*hi - hf*hf) - hb*(dg1*hi - hf*dg2) + hc*(dg1*hf - he*dg2) AS det0,
        |               ha*(dg1*hi - hf*dg2) - dg0*(hb*hi - hf*hc) + hc*(hb*dg2 - dg1*hc) AS det1,
        |               ha*(he*dg2 - dg1*hf) - hb*(hb*dg2 - dg1*hc) + dg0*(hb*hf - he*hc) AS det2
        |             FROM (SELECT *, g0::DOUBLE AS dg0, g1::DOUBLE AS dg1, g2::DOUBLE AS dg2,
        |                          (h00 + 1000000000)::DOUBLE AS ha, h01::DOUBLE AS hb, h02::DOUBLE AS hc,
        |                          (h11 + 1000000000)::DOUBLE AS he, h12::DOUBLE AS hf,
        |                          (h22 + 1000000000)::DOUBLE AS hi
        |                   FROM s2))),
        |per AS (SELECT fold, count(*)::BIGINT AS n_test,
        |               any_value(b0q) AS b0q, any_value(b1q) AS b1q, any_value(b2q) AS b2q,
        |               sum(CASE WHEN (pq >= 500000) = (y = 1) THEN 1 ELSE 0 END)::BIGINT AS n_correct
        |        FROM (SELECT f.fold, f.y, c.b0q, c.b1q, c.b2q,
        |                     CAST(floor(1e6 / (1.0 + exp(-((c.b0q + c.b1q*f.x1 + c.b2q*f.x2) / 1e6)))) AS BIGINT) AS pq
        |              FROM f JOIN c2 c ON c.mf = f.fold)
        |        GROUP BY fold)
        |SELECT fold, (sum(n_test) OVER () - n_test)::BIGINT AS n_train, n_test,
        |       round(b0q / 1e6, 6) AS b0, round(b1q / 1e6, 6) AS b1,
        |       round(b2q / 1e6, 6) AS b2,
        |       round(n_correct / CAST(n_test AS DOUBLE), 4) AS test_accuracy
        |FROM per ORDER BY fold""".stripMargin,
    "q208_mi_ranking" ->
      """WITH base AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END::BIGINT AS y,
        |         CASE WHEN 2 * len(list_distinct(string_split(lower(text), ' ')))
        |                   > len(string_split(lower(text), ' ')) THEN 1 ELSE 0 END::BIGINT AS diverse,
        |         CASE WHEN list_max(list_transform(string_split(lower(text), ' '),
        |                                           w -> length(w))) >= 8
        |              THEN 1 ELSE 0 END::BIGINT AS long_word,
        |         CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END::BIGINT AS long_doc,
        |         CASE WHEN regexp_matches(text, '[0-9]') THEN 1 ELSE 0 END::BIGINT AS has_digit,
        |         CASE WHEN len(string_split(lower(text), ' ')) >= 40 THEN 1 ELSE 0 END::BIGINT AS many_words
        |  FROM documents),
        |long_f AS (
        |  SELECT y, 'diverse' AS feature, diverse AS f FROM base
        |  UNION ALL SELECT y, 'long_word', long_word FROM base
        |  UNION ALL SELECT y, 'long_doc', long_doc FROM base
        |  UNION ALL SELECT y, 'has_digit', has_digit FROM base
        |  UNION ALL SELECT y, 'many_words', many_words FROM base),
        |cells AS (SELECT feature, f, y, count(*)::BIGINT AS c FROM long_f GROUP BY 1, 2, 3),
        |m AS (SELECT *, sum(c) OVER (PARTITION BY feature)::BIGINT AS n,
        |             sum(c) OVER (PARTITION BY feature, f)::BIGINT AS nf,
        |             sum(c) OVER (PARTITION BY feature, y)::BIGINT AS ny
        |      FROM cells),
        |u AS (SELECT *, CAST(floor(ln((n::DOUBLE * c::DOUBLE) / (nf::DOUBLE * ny::DOUBLE)) * 1e9) AS BIGINT) AS u
        |      FROM m),
        |per AS (SELECT feature, any_value(n) AS n,
        |               sum(CASE WHEN f = 1 THEN c ELSE 0 END)::BIGINT AS n_f1,
        |               sum(c * u)::BIGINT AS mi_nano
        |        FROM u GROUP BY feature)
        |SELECT row_number() OVER (ORDER BY mi_nano DESC, feature)::BIGINT AS rank,
        |       feature, n_f1,
        |       round(mi_nano / CAST(n AS DOUBLE) / 1e9, 6) AS mi_nats
        |FROM per ORDER BY rank""".stripMargin,
    "q210_best_f1" ->
      """WITH cells AS (SELECT n_chars AS t, count(*)::BIGINT AS cnt,
        |                      sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS pos
        |               FROM documents GROUP BY 1),
        |tot AS (SELECT sum(pos)::BIGINT AS np FROM cells),
        |cum AS (SELECT *, sum(pos) OVER (ORDER BY t DESC)::BIGINT AS tp,
        |               sum(cnt) OVER (ORDER BY t DESC)::BIGINT AS pp
        |        FROM cells),
        |sc AS (SELECT t, tp, pp, np, pp - tp AS fp, np - tp AS fn
        |       FROM cum CROSS JOIN tot),
        |r AS (SELECT *, (2 * tp * 1000000000) // (2*tp + fp + fn) AS f1_nano FROM sc),
        |rk AS (SELECT *, row_number() OVER (ORDER BY f1_nano DESC, t)::BIGINT AS rank FROM r)
        |SELECT rank, t AS threshold, tp, fp, fn,
        |       round(tp / CAST(pp AS DOUBLE), 4) AS precision,
        |       round(tp / CAST(np AS DOUBLE), 4) AS recall,
        |       round(f1_nano / 1e9, 4) AS f1
        |FROM rk WHERE rank <= 10 ORDER BY rank""".stripMargin,
    "q209_decision_stump" -> {
      def term(c: String, m: String) =
        s"CASE WHEN ($c) > 0 THEN ($c) * CAST(floor(ln(CAST(($m) AS DOUBLE) / CAST(($c) AS DOUBLE)) * 1e9) AS BIGINT) ELSE 0 END"
      s"""WITH cells AS (SELECT n_chars AS t, count(*)::BIGINT AS cnt,
         |                      sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS pos
         |               FROM documents GROUP BY 1),
         |tot AS (SELECT sum(cnt)::BIGINT AS n, sum(pos)::BIGINT AS np FROM cells),
         |cum AS (SELECT *,
         |          coalesce(sum(cnt) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS nL,
         |          coalesce(sum(pos) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS posL
         |        FROM cells),
         |cand AS (SELECT c.t, c.nL, c.posL, c.nL - c.posL AS negL,
         |                t2.n - c.nL AS nR, t2.np - c.posL AS posR,
         |                (t2.n - c.nL) - (t2.np - c.posL) AS negR, t2.n, t2.np
         |         FROM cum c CROSS JOIN tot t2 WHERE c.nL > 0),
         |w AS (SELECT *,
         |        ${term("posL", "nL")} + ${term("negL", "nL")}
         |        + ${term("posR", "nR")} + ${term("negR", "nR")} AS wq,
         |        ${term("np", "n")} + ${term("n - np", "n")} AS rootq
         |      FROM cand),
         |pick AS (SELECT *, row_number() OVER (ORDER BY wq, t) AS rk FROM w)
         |SELECT t AS threshold, nL AS n_left, nR AS n_right,
         |       CASE WHEN posL * 2 > nL THEN 'en' ELSE 'other' END AS pred_left,
         |       CASE WHEN posR * 2 > nR THEN 'en' ELSE 'other' END AS pred_right,
         |       round((rootq - wq) / CAST(n AS DOUBLE) / 1e9, 6) AS info_gain_nats,
         |       round((CASE WHEN posL * 2 > nL THEN posL ELSE nL - posL END
         |            + CASE WHEN posR * 2 > nR THEN posR ELSE nR - posR END) / CAST(n AS DOUBLE), 4) AS train_accuracy
         |FROM pick WHERE rk = 1""".stripMargin
    },
  )
}
