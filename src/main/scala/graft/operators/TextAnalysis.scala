package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the large-scale training-data pipeline
  * mandate (BASELINE.json north star): language ID (stopword-hit
  * heuristic), quality scoring (length/stopword ratios), token counting
  * and normalization. Also covers the reference's P6 regex tagging
  * (utils.py:91-101 FILE_TYPE_MATCHERS) and P10 text-list normalization
  * (survey.py:82-97).
  *
  * All functions are pure narrow projections built from codegen'd
  * builtins (split / transform / filter / regexp_*) — no UDFs, no
  * shuffles except the final reporting groupBys, so they stream over
  * 100 TB of documents at scan speed.
  */
object TextAnalysis extends QueryModule {

  private def tokens(c: Column): Column = split(c, " ")

  /** P6 (utils.py:91-101,700-714): ordered first-match regex tagging as a
    * constant-folded CASE/WHEN chain — Catalyst evaluates the whens in
    * order, same semantics as the reference's first-match loop.
    */
  def regexTagSummary(documents: DataFrame): DataFrame =
    documents
      .withColumn("tag",
        when(col("text").rlike("spark"), "spark")
          .when(col("text").rlike("stream"), "streaming")
          .when(col("text").rlike("join|merge"), "relational")
          .otherwise("other"))
      .groupBy("tag")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("tag")

  /** P10 (survey.py:82-97 parse_text_list): normalize free text — strip
    * non-alphanumerics, collapse whitespace — and take a bounded token
    * prefix.
    */
  def normalized(documents: DataFrame): DataFrame = {
    val cleaned = regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")
    val collapsed = trim(regexp_replace(cleaned, " +", " "))
    // materialize the token array once — both outputs derive from it,
    // and the regex chain is the expensive part of this query
    documents.withColumn("toks", tokens(collapsed))
      .select(
        col("doc_id"),
        array_join(slice(col("toks"), 1, 5), " ").as("head5"),
        size(col("toks")).cast("long").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** Token-count statistics per language bucket. */
  def tokenStats(documents: DataFrame): DataFrame =
    documents
      .withColumn("n_tokens", size(tokens(col("text"))).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("total_tokens"),
           round(avg(col("n_tokens")), 4).as("avg_tokens"))
      .orderBy("lang")

  /** Quality scoring: chars-per-token and stopword ratio, combined into a
    * deterministic quality score. `filter` (a codegen'd higher-order
    * function) counts stopword tokens without a shuffle.
    */
  def qualityScores(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val stops = size(filter(toks, w => w === "the" || w === "a")).cast("long")
    documents.select(
        col("doc_id"),
        nTok.as("n_tokens"),
        round(col("n_chars") / nTok, 4).as("chars_per_token"),
        round(stops / nTok.cast("double"), 4).as("stop_ratio"),
        round((lit(1.0) - stops / nTok.cast("double")) * log(lit(1.0) + col("n_chars")), 4).as("quality"))
      .orderBy("doc_id")
  }

  /** Language ID via stopword-hit scoring — the n-gram-heuristic shape:
    * count hits from per-language marker sets, argmax with a fixed tie
    * order. (The synthetic corpus is English-ish, so the interesting
    * output is the deterministic scoring pipeline, not accuracy.)
    */
  def languageId(documents: DataFrame): DataFrame = {
    val Seq(en, es, de, fr) = Modeling.stopwordHits
    documents.select(
        col("doc_id"),
        col("lang"),
        when(en >= es && en >= de && en >= fr && en > 0, "en")
          .when(es >= de && es >= fr && es > 0, "es")
          .when(de >= fr && de > 0, "de")
          .when(fr > 0, "fr")
          .otherwise("und").as("pred_lang"))
      .withColumn("is_match", col("pred_lang") === col("lang"))
      .orderBy("doc_id")
  }

  /** Exact corpus heavy hitters by the 2-pass sketch plan: pass 1 folds
    * every partition's tokens into a bounded Misra-Gries sketch
    * ([[graft.functions.TopKSketch]] — partial sketches merge, raw
    * tokens never shuffle) plus the total token count; pass 2 counts
    * ONLY the surviving candidates exactly and keeps those above the
    * frequency threshold N/(capacity+1). The sketch's survival guarantee
    * makes the result exact and merge-order independent — at 100 TB this
    * replaces a full-vocabulary shuffle with a capacity-sized one.
    */
  def heavyHitterTokens(documents: DataFrame, capacity: Int = 64): DataFrame = {
    val toks = documents.select(explode(split(lower(col("text")), " ")).as("token"))
    val firstPass = toks.agg(
      graft.functions.TopKSketch.topkCandidates(col("token"), capacity).as("cands"),
      count(lit(1)).as("n")).head()
    val cands = firstPass.getSeq[String](0)
    val total = firstPass.getLong(1)
    toks.filter(col("token").isin(cands: _*))
      .groupBy("token").agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") * (capacity + 1) > total)
      .orderBy("token")
  }

  /** Gopher-style repetition gates (Rae et al. 2021 §A1.1): one-pass
    * per-row kernel (no token explode/shuffle — raw tokens stay next to
    * the row, the q62 design argument), with the drop rule as a
    * relational flag: a document dominated by one token (>10%) or by
    * repeated bigrams (>18%) is filtered before training.
    */
  def repetitionGates(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        graft.functions.RepetitionStats.repetitionStats(col("text")).as("r"))
      .select(col("doc_id"),
        col("r.n_words").as("n_words"),
        round(col("r.top_word_frac"), 4).as("top_word_frac"),
        round(col("r.dup_bigram_frac"), 4).as("dup_bigram_frac"),
        (col("r.top_word_frac") <= 0.1 && col("r.dup_bigram_frac") <= 0.18).as("kept"))
      .orderBy("doc_id")

  /** Gopher-style document-quality gates (Rae et al. 2021 §A1.1, the
    * rules that aren't repetition — q72 covers those): word-count
    * bounds, mean word length, minimum distinct stop-word hits, and
    * alphabetic-word fraction, each surfaced as a flag plus the final
    * keep decision. All-narrow projection (integer sums via a
    * higher-order fold; ratios rounded before comparison so both
    * engines gate on identical values).
    */
  def gopherQualityFlags(documents: DataFrame,
                         stopWords: Seq[String] = Seq("the", "a", "and", "of", "to")): DataFrame = {
    val toks = tokens(col("text"))
    val nWords = size(toks).cast("long")
    val sumLen = aggregate(transform(toks, w => length(w).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val meanLen = round(sumLen / nWords.cast("double"), 4)
    // one scan for the distinct-presence count (array_intersect dedups),
    // not one array_contains pass per stop word
    val nStop = size(array_intersect(toks,
      array(stopWords.map(lit): _*))).cast("long")
    val alphaFrac = round(
      size(filter(toks, w => w.rlike("[a-z]"))) / nWords.cast("double"), 4)
    documents.select(col("doc_id"), nWords.as("n_words"), meanLen.as("mean_word_len"),
        nStop.as("n_stop_words"), alphaFrac.as("alpha_frac"))
      .withColumn("words_ok", col("n_words").between(50L, 100000L))
      .withColumn("mean_len_ok", col("mean_word_len").between(3.0, 10.0))
      .withColumn("stop_ok", col("n_stop_words") >= 2L)
      .withColumn("alpha_ok", col("alpha_frac") >= 0.8)
      .withColumn("kept",
        col("words_ok") && col("mean_len_ok") && col("stop_ok") && col("alpha_ok"))
      .orderBy("doc_id")
  }

  /** Character-level Shannon entropy per document — the classic
    * gibberish/boilerplate signal (low entropy = repeated padding, high
    * = random noise; natural text sits in a band). Order-pinned for the
    * oracle: the per-character sum folds over the SORTED distinct
    * alphabet (both engines fold the same sequence, so the only
    * cross-engine jitter is the final ulp, absorbed by round-4).
    * All-narrow per-row work: the alphabet is bounded, so the inner
    * filter scan is O(n·|alphabet|) with no shuffle.
    */
  def charEntropy(documents: DataFrame): DataFrame =
    // one-pass codegen'd kernel (the HOF formulation — filter inside
    // aggregate over split chars — was ~40× slower; CharEntropySpec pins
    // their bit-equality). `+ 0.0` collapses the single-distinct-char
    // case's -0.0 to +0.0 on any engine (entropy is otherwise strictly
    // positive); empty text (n = 0) pins to 0.0 instead of a 0/0 NaN.
    documents.select(col("doc_id"),
        graft.functions.CharEntropyStats.charEntropyStats(col("text")).as("r"))
      .select(col("doc_id"),
        col("r.n_chars").as("n_chars_split"),
        col("r.n_distinct").as("n_distinct_chars"),
        when(col("r.n_chars") === 0, lit(0.0))
          .otherwise(round(-col("r.sum_plogp") / log(lit(2.0)), 4) + lit(0.0))
          .as("entropy_bits"))
      .orderBy("doc_id")

  /** Per-language document-length quantiles — the corpus-profiling
    * report behind length-filter thresholds. Spark's exact `percentile`
    * sorts within the aggregation buffer per group (no global sort);
    * linear interpolation at rank p·(n−1) matches DuckDB's
    * quantile_cont, with round-4 absorbing interpolation-arithmetic
    * ulps. At 100 TB swap in approx_percentile for the same shape with
    * bounded memory — the exact form is the oracle-able gate.
    */
  def lengthQuantiles(documents: DataFrame): DataFrame =
    documents.select(col("lang"), size(tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        expr("percentile(n_toks, array(0.25D, 0.5D, 0.75D))").as("q"))
      .select(col("lang"), col("n_docs"),
        round(element_at(col("q"), 1), 4).as("p25"),
        round(element_at(col("q"), 2), 4).as("p50"),
        round(element_at(col("q"), 3), 4).as("p75"))
      .orderBy("lang")

  /** Generic PII scrubbing (training-data mandate: corpora are scrubbed
    * of emails/phones before training): codegen'd `regexp_replace` /
    * `regexp_extract_all` — narrow per-row work, patterns injectable.
    * Counts reconcile exactly with the replacements in the output
    * (emails counted on the original, phones on the email-redacted
    * text — see the in-code note).
    */
  val EmailPattern = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePattern = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"

  def redactPii(df: DataFrame, textCol: String,
                emailRe: String = EmailPattern, phoneRe: String = PhonePattern): DataFrame = {
    // phones are counted on the email-redacted text, not the original:
    // a phone-shaped span INSIDE an email match is consumed by <EMAIL>,
    // and the counts must reconcile with what the output actually
    // replaced
    val emailsRedacted = regexp_replace(col(textCol), emailRe, "<EMAIL>")
    df.withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(emailRe), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(emailsRedacted, lit(phoneRe), lit(0))).cast("long"))
      .withColumn(textCol, regexp_replace(emailsRedacted, phoneRe, "<PHONE>"))
  }

  /** q88: Unicode canonicalization over the corpus via the
    * [[graft.functions.UnicodeNormalize]] kernel. Equivalent text in
    * composed vs decomposed form hashes differently, so every
    * hash-keyed stage upstream (exact dedup q20, MinHash q33,
    * decontamination q75) silently misses near-identical documents
    * unless text is normalized first — this is the canonical first
    * projection of a text pipeline. The corpus is ASCII, so the query
    * synthesizes decomposed accent sequences deterministically from
    * each doc_id (base letter + combining mark chosen by doc_id % 3)
    * and normalizes them; the oracle rebuilds the same codepoints with
    * chr() and DuckDB's nfc_normalize. A kernel that mangles, drops, or
    * double-applies marks fails the exact-string hash.
    */
  def nfcNormalized(documents: DataFrame): DataFrame = {
    // U+0301 combining acute / U+0308 diaeresis / U+0303 tilde — all
    // compose with 'e' under NFC (é ë ẽ), so len_norm = len_raw - 2
    val mark = element_at(
      array(lit("\u0301"), lit("\u0308"), lit("\u0303")),
      (col("doc_id") % 3 + 1).cast("int"))
    val raw = concat(substring(col("text"), 1, 8), lit("e"), mark, lit("o\u0308"))
    documents
      .select(col("doc_id"), raw.as("raw"),
        graft.functions.UnicodeNormalize.unicodeNormalize(raw).as("norm"))
      .withColumn("len_raw", length(col("raw")).cast("long"))
      .withColumn("len_norm", length(col("norm")).cast("long"))
      .orderBy("doc_id")
  }

  /** q91: boilerplate detection by frequent n-gram coverage — the
    * C4/RefinedWeb-style signal for template text (navigation chrome,
    * license blocks, SEO spam repeat the same word spans across many
    * documents). A document's boilerplate ratio = fraction of its
    * n-gram positions whose gram occurs in ≥ `minDocs` DISTINCT
    * documents.
    *
    * Scale shape: ONE aggregation over the raw gram stream —
    * `groupBy(doc_id, g).count` with map-side partial agg — and every
    * downstream step works off that pair-count table: document
    * frequency is a second (much smaller) count over it, the frequent
    * set (df ≥ threshold, orders of magnitude smaller still) BROADCASTs
    * back onto it, and the per-doc rollup re-shuffles only pair counts,
    * never raw gram positions. Both consumers of the pair table hang
    * off the same Exchange, so ReuseExchange evaluates the explode
    * exactly once. The ratio is integer-counts-divided-once, so no
    * float-order hazard.
    */
  def boilerplateGramRatio(documents: DataFrame, n: Int = 4, minDocs: Int = 3): DataFrame = {
    // gram expansion via the fused ShingleSet kernel (one pass, no
    // intermediate Catalyst arrays) — the interpreted
    // transform+slice+array_join chain was the query's hot spot.
    // Two deliberate plan-shape choices (asserted in
    // PlanAssertionsSpec) make BOTH consumers share ONE exchange, so
    // the explode is evaluated once:
    //  - short docs are dropped by a FILTER, not an empty-array CASE
    //    arm: the cast's containsNull=true made `g` nullable, and the
    //    join's inferred isnotnull filter then broke subtree equality;
    //  - the trivially-true `cnt > 0` predicate pins `cnt` into the df
    //    consumer, which would otherwise prune it to a distinct-shaped
    //    partial agg that no longer canonicalizes with the other branch.
    val pairCounts = documents
      .filter(size(tokens(col("text"))) >= n)
      .select(col("doc_id"),
        explode(graft.functions.ShingleSet.shingleWindows(col("text"), n)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 0)
    val frequent = pairCounts
      .groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("g"), lit(true).as("is_boiler"))
    pairCounts.join(broadcast(frequent), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_grams"),
        coalesce(sum(when(col("is_boiler"), col("cnt"))), lit(0L)).as("n_boiler"))
      .withColumn("boiler_ratio",
        round(col("n_boiler") / col("n_grams").cast("double"), 4))
      .orderBy("doc_id")
  }

  /** q104: character-class mix per document — the script/noise profile
    * (OCR damage shows up as punctuation/digit spikes, encoding damage
    * as "other" codepoints; mixed-script ratios are the homoglyph-spam
    * signal). Four class counts via codegen'd `regexp_count` — no
    * per-char explode, no interpreted HOF — and a flag for docs whose
    * non-letter mass exceeds a threshold.
    *
    * Scale shape: narrow per-row regex counting inside whole-stage
    * codegen; zero shuffles before the output sort.
    */
  def charClassMix(documents: DataFrame, maxNonAlpha: Double = 0.5): DataFrame = {
    val total = length(col("text"))
    def cls(name: String, re: String) =
      expr(s"regexp_count(text, '$re')").cast("long").as(name)
    documents
      .select(col("doc_id"), total.cast("long").as("n_chars_total"),
        cls("n_alpha", "[a-zA-Z]"), cls("n_digit", "[0-9]"),
        cls("n_space", " "))
      // the four classes partition the text, so the fourth count is
      // arithmetic — one fewer regex pass per row in the hot stage
      .withColumn("n_punct",
        col("n_chars_total") - col("n_alpha") - col("n_digit") - col("n_space"))
      .withColumn("alpha_frac",
        round(col("n_alpha") / greatest(col("n_chars_total"), lit(1L)).cast("double"), 4))
      .withColumn("noisy",
        col("n_chars_total") > 0 &&
          (col("n_chars_total") - col("n_alpha")).cast("double") / col("n_chars_total") > maxNonAlpha)
      .orderBy("doc_id")
  }

  /** q109: Flesch reading-ease per document — the classic readability
    * quality signal (a corpus whose reading-ease distribution collapses
    * toward 0 is legalese/boilerplate; one that spikes past 100 is
    * fragment spam). Sentences are terminal-punctuation runs, syllables
    * the standard vowel-group heuristic — both floored at 1 so the
    * ratios are total.
    *
    * Scale shape: narrow per-row regex counts inside whole-stage
    * codegen (the q104 anatomy); zero shuffles before the output sort.
    * Band thresholds compare the ROUNDED score, so the cut is
    * deterministic cross-engine (the q70 rounded-rank convention).
    */
  def readability(documents: DataFrame): DataFrame = {
    val words = size(split(col("text"), " ")).cast("long")
    val sentences = greatest(expr("regexp_count(text, '[.!?]+')").cast("long"), lit(1L))
    val syllables = greatest(expr("regexp_count(lower(text), '[aeiouy]+')").cast("long"), lit(1L))
    val score = lit(206.835) -
      lit(1.015) * (col("n_words").cast("double") / col("n_sentences")) -
      lit(84.6) * (col("n_syllables").cast("double") / col("n_words"))
    documents
      .select(col("doc_id"), words.as("n_words"), sentences.as("n_sentences"),
        syllables.as("n_syllables"))
      .withColumn("flesch", round(score, 4))
      .withColumn("band",
        when(col("flesch") >= 60.0, "easy")
          .when(col("flesch") >= 30.0, "standard")
          .otherwise("difficult"))
      .orderBy("doc_id")
  }

  /** q122: per-source Pearson correlation between document length and
    * stopword ratio — the "does quality drift with length in this
    * source" diagnostic behind length-bucketed curricula (q85/q93).
    * The stop ratio is INTEGER-SCALED before any moment is taken
    * (y = ⌊stops·10⁴ / n_tokens⌋, pure integer division), so all five
    * Pearson moments are exact integer sums and r is a closed-form
    * expression over them — zero float-summation hazards, the q120
    * convention. σ = 0 on either axis reports r = 0.
    *
    * Scale shape: one narrow per-row pass then a sources-sized rollup
    * with map-side partial sums. (At 10⁹ docs/source the int64 moment
    * sums need widening to decimal — noted, not needed at test SFs.)
    */
  def lengthQualityCorrelation(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val x = size(toks).cast("long")
    val stops = size(filter(toks, w => w === "the" || w === "a")).cast("long")
    val rows = documents.select(col("source"), x.as("x"), stops.as("stops"))
      .select(col("source"), col("x"), expr("(stops * 10000L) div x").as("y"))
    val m = rows.groupBy("source").agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val varx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val vary = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    m.select(col("source"), col("n").as("n_docs"),
        when(varx === 0d || vary === 0d, lit(0.0))
          .otherwise(round(num / (sqrt(varx) * sqrt(vary)), 4)).as("r_len_stop"))
      .orderBy("source")
  }

  /** q153: calibration audit of a heuristic quality signal against a
    * ground-truth-ish label (reliability-diagram bins, the input to ECE
    * — Guo et al. 2017): confidence = the stopword-density score
    * y = ⌊stops·10⁴/n_tokens⌋ (integer-scaled, q122 convention), label
    * = "document is long" (n_chars ≥ 250). Per decile bin: count, mean
    * confidence, empirical positive rate, and the |conf − acc| gap.
    * A well-calibrated signal has gap ≈ 0 everywhere; the per-bin rows
    * ARE the reliability diagram, and ECE is their n-weighted gap sum.
    *
    * One narrow pass + a 10-row rollup; every moment an exact integer.
    */
  def calibrationBins(documents: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val stops = size(filter(toks, w => w === "the" || w === "a")).cast("long")
    val rows = documents.select(stops.as("stops"), nTok.as("nt"),
        when(col("n_chars") >= 250, 1L).otherwise(0L).as("pos"))
      .select(least(expr("(stops * 10000L) div nt"), lit(9999L)).as("y"), col("pos"))
    rows.select(expr("y div 1000").as("bin"), col("y"), col("pos"))
      .groupBy("bin").agg(
        count(lit(1)).as("n_docs"),
        sum("y").as("sy"), sum("pos").as("n_pos"))
      .select(col("bin"), col("n_docs"),
        round(col("sy") / col("n_docs") / lit(10000.0), 4).as("conf"),
        round(col("n_pos") / col("n_docs").cast("double"), 4).as("acc"),
        round(abs(col("sy") / col("n_docs") / lit(10000.0)
          - col("n_pos") / col("n_docs").cast("double")), 4).as("gap"))
      .orderBy("bin")
  }

  /** q197: isotonic (monotone) calibration of q153's reliability curve
    * — pool-adjacent-violators WITHOUT iteration, via the minimax
    * identity iso(i) = max_{j≤i} min_{k≥i} wmean(pos, j..k): exactly
    * the PAV solution, expressed as joins over the BOUNDED bin frame
    * (10 bins → ≤10³ range triples — model-sized at any corpus scale,
    * since the corpus collapses to per-bin integer counts first).
    * Range means divide exact integer cumulative sums, so both engines
    * compare identical doubles; output is monotone by construction.
    */
  def isotonicCalibration(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val stops = size(filter(toks, w => w === "the" || w === "a")).cast("long")
    val bins = documents.select(stops.as("stops"), nTok.as("nt"),
        when(col("n_chars") >= 250, 1L).otherwise(0L).as("pos"))
      .select(expr("least((stops * 10000L) div nt, 9999L) div 1000").as("bin"), col("pos"))
      .groupBy("bin").agg(count(lit(1)).as("n"), sum("pos").as("p"))
    val w = Window.orderBy("bin")
    val cum = bins
      .withColumn("cp", sum("p").over(w)).withColumn("cn", sum("n").over(w))
    // range (j..k) weighted means from cumulative diffs; bounded frame
    val ranges = cum.select(col("bin").as("j"), col("cp").as("jcp"),
        col("cn").as("jcn"), col("p").as("jp"), col("n").as("jn"))
      .join(cum.select(col("bin").as("k"), col("cp").as("kcp"), col("cn").as("kcn")),
        col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("kcp") - col("jcp") + col("jp")).cast("double") /
         (col("kcn") - col("jcn") + col("jn")).cast("double")).as("avg"))
    val spine = bins.select(col("bin").as("i"))
    val iso = spine
      .join(ranges, col("j") <= col("i") && col("k") >= col("i"))
      .groupBy("i", "j").agg(min("avg").as("mn"))
      .groupBy("i").agg(max("mn").as("iso"))
    bins.join(iso, col("bin") === col("i"))
      .select(col("bin"), col("n").as("n_docs"),
        round(col("p") / col("n").cast("double"), 4).as("raw_acc"),
        round(col("iso"), 4).as("iso_acc"))
      .orderBy("bin")
  }

  /** q154: label-agreement audit (Cohen's κ) between the STORED `lang`
    * column and the re-derived q23 heuristic, both collapsed to the
    * binary "is English" call — the annotator-agreement check a
    * labeling pipeline runs before trusting either rater. κ corrects
    * raw agreement for chance: κ = (p_o − p_e)/(1 − p_e) from the 2×2
    * confusion counts, all exact integers from ONE narrow pass.
    */
  def labelAgreementKappa(documents: DataFrame): DataFrame = {
    val predEn = Modeling.stopwordArgmaxEn
    val m = documents.select(
        (col("lang") === "en").as("ra"), predEn.as("rb"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L)).as("n00"))
    val po = (col("n11") + col("n00")).cast("double") / col("n")
    val pe = (((col("n11") + col("n10")) * (col("n11") + col("n01"))
      + (col("n01") + col("n00")) * (col("n10") + col("n00"))).cast("double")
      / (col("n") * col("n")))
    m.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
      round(po, 4).as("p_observed"),
      round(pe, 4).as("p_expected"),
      round((po - pe) / when(pe === 1d, lit(null)).otherwise(lit(1d) - pe), 4).as("kappa"))
  }

  /** q297: multi-rater agreement — Fleiss' κ (Fleiss 1971) over THREE
    * independent "is English" raters: the stored `lang` column, the
    * q23/q154 stopword-argmax heuristic, and an e-letter-frequency
    * rater (English sits near the top of the letter-e band). Cohen's κ
    * (q154) only handles rater PAIRS; Fleiss generalizes to R raters
    * via per-item category counts — the label-quality gate a labeling
    * pipeline runs before trusting a crowd of heuristic annotators.
    *
    * Exact-integer doctrine: per item n_j = votes for category j
    * (Σ n_j = R), so P̄ = (Σᵢ Σⱼ n_ij² − N·R)/(N·R·(R−1)) and
    * P̄_e = Σⱼ Tⱼ²/(N·R)² are ratios of exact integer sums — one
    * narrow corpus pass, a single global aggregate, division only in
    * the final projection. Order-independent under any partitioning.
    */
  /** The q297 three-rater "is English" vote count per document (0..3):
    * stored label, stopword argmax, e-letter frequency — shared by
    * Fleiss' κ (q297) and Krippendorff's α (q318) so both agreement
    * statistics score the SAME annotator panel.
    */
  private def enVoteCount: Column = {
    val ra = (col("lang") === "en").cast("long")
    ra + Modeling.stopwordArgmaxEn.cast("long") + Modeling.eRateEn.cast("long")
  }

  def fleissKappa(documents: DataFrame): DataFrame = {
    val m = documents
      .select(enVoteCount.as("n1"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("n1") * col("n1") + (lit(3L) - col("n1")) * (lit(3L) - col("n1")))
          .as("s_sq"),
        sum(col("n1")).as("t_en"))
      .withColumn("t_other", lit(3L) * col("n_items") - col("t_en"))
    val pBar = (col("s_sq") - lit(3L) * col("n_items")).cast("double") /
      (lit(6L) * col("n_items")).cast("double")
    val pE = (col("t_en") * col("t_en") + col("t_other") * col("t_other")).cast("double") /
      (lit(9L) * col("n_items") * col("n_items")).cast("double")
    m.select(col("n_items"), col("t_en"), col("t_other"),
      round(pBar, 4).as("p_bar"), round(pE, 4).as("p_expected"),
      round((pBar - pE) / when(pE === 1d, lit(null)).otherwise(lit(1d) - pE), 4)
        .as("fleiss_kappa"))
  }

  /** q318: KRIPPENDORFF's α over the q297 annotator panel — the
    * agreement statistic the κ family can't replace: κ's chance model
    * uses marginals WITH replacement (N²), α's uses pairings WITHOUT
    * (N(N−1)), which keeps it unbiased at small N, comparable across
    * studies, and extensible to missing ratings — the content-analysis
    * standard (Krippendorff 1970). Reported beside q297's Fleiss κ on
    * the SAME votes so the two chance models are directly comparable.
    *
    * Exact closed form for R = 3 raters / 2 categories, no missing
    * data: α = 1 − Σᵤ n₁ᵤ(3−n₁ᵤ) · (3n−1) / (2·t_en·t_other) — pure
    * integer sums (products in decimal(38,0) ↔ HUGEINT; t_en·t_other
    * is n²-scale, past int64 at corpus scale) and ONE double division.
    * Scale: one narrow corpus pass into a single global aggregate,
    * map-side combined; nothing shuffles but six longs.
    */
  def krippendorffAlpha(documents: DataFrame): DataFrame = {
    val m = documents.select(enVoteCount.as("n1"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("n1") * (lit(3L) - col("n1"))).as("sdis"),
        sum(col("n1")).as("t_en"))
      .withColumn("t_other", lit(3L) * col("n_items") - col("t_en"))
    m.select(col("n_items"), col("t_en"), col("t_other"),
      round(col("sdis").cast("double") /
        (lit(3L) * col("n_items")).cast("double"), 6).as("d_obs"),
      round((lit(2).cast("decimal(38,0)") * col("t_en") * col("t_other")).cast("double") /
        ((lit(3L) * col("n_items")).cast("decimal(38,0)") *
         (lit(3L) * col("n_items") - 1)).cast("double"), 6).as("d_exp"),
      when(col("t_en") === 0 || col("t_other") === 0, lit(null).cast("double"))
        .otherwise(round(lit(1d) -
          (col("sdis").cast("decimal(38,0)") * (lit(3L) * col("n_items") - 1)).cast("double") /
          (lit(2).cast("decimal(38,0)") * col("t_en") * col("t_other")).cast("double"), 4))
        .as("k_alpha"))
  }

  /** q325: GROUP FAIRNESS AUDIT of the q23 language classifier across
    * sources — the governance rung the eval ladder was missing: per
    * protected group (source), DEMOGRAPHIC PARITY (selection-rate gap
    * vs global) and EQUALIZED ODDS (TPR/FPR gaps vs global, Hardt et
    * al. 2016) for the prediction "document is English". An aggregate
    * accuracy number (q111/q270) can hide a classifier that
    * systematically under-selects one source's documents; this surfaces
    * exactly that before a filter built on the classifier reshapes the
    * corpus mix.
    *
    * Determinism: every metric is an integer ppm division of exact
    * counts; groups where a rate is undefined (no positives / no
    * negatives) report null rather than a fake 0. Scale: one narrow
    * corpus pass into a sources-sized rollup (map-side combined), one
    * broadcast of the 1-row global frame — no second pass, no window.
    */
  def fairnessAudit(documents: DataFrame): DataFrame = {
    val predEn = Modeling.stopwordArgmaxEn
    val per = documents
      .select(col("source"), (col("lang") === "en").as("y"), predEn.as("p"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("p"), 1L).otherwise(0L)).as("pos"),
        sum(when(col("y"), 1L).otherwise(0L)).as("npos"),
        sum(when(col("p") && col("y"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("p") && !col("y"), 1L).otherwise(0L)).as("fp"))
    val g = per.agg(sum("n_docs").as("gn"), sum("pos").as("gpos"),
      sum("npos").as("gnpos"), sum("tp").as("gtp"), sum("fp").as("gfp"))
    per.crossJoin(broadcast(g)).select(
        col("source"), col("n_docs"),
        expr("pos * 1000000 div n_docs").as("sel_ppm"),
        when(col("npos") > 0, expr("tp * 1000000 div npos")).as("tpr_ppm"),
        when(col("n_docs") > col("npos"),
          expr("fp * 1000000 div (n_docs - npos)")).as("fpr_ppm"),
        (expr("pos * 1000000 div n_docs") -
          expr("gpos * 1000000 div gn")).as("dp_gap_ppm"),
        when(col("npos") > 0, expr("tp * 1000000 div npos") -
          expr("gtp * 1000000 div gnpos")).as("tpr_gap_ppm"),
        when(col("n_docs") > col("npos"),
          expr("fp * 1000000 div (n_docs - npos)") -
            expr("gfp * 1000000 div (gn - gnpos)")).as("fpr_gap_ppm"))
      .orderBy("source")
  }

  /** q150: Hill tail-index estimator over document lengths (Hill 1975;
    * the standard check that a corpus' length distribution is power-law
    * and HOW heavy — α ≈ 1–2 means a few giant documents dominate token
    * mass, which drives shard packing (q67) and length caps (q89)):
    * αˆ = k / Σ_{i≤k} ln(x_(i)/x_(k)) over the top-k order statistics.
    *
    * Scale shape: the top-k is `orderBy(...).limit(k)` which Spark
    * plans as TakeOrderedAndProject — per-partition heaps + driver
    * merge of k rows, NO global sort shuffle. Ties at the boundary are
    * broken by doc_id so the selected set (and thus the estimate) is
    * deterministic on both engines. The log-sum is 100 doubles — drift
    * is ~1e-14 against a 1e-4 rounding, the q105 precedent.
    */
  def hillTailIndex(documents: DataFrame, k: Int = 100): DataFrame = {
    val top = documents.select(col("n_chars"), col("doc_id"))
      .orderBy(col("n_chars").desc, col("doc_id").desc).limit(k)
    top.agg(count(lit(1)).as("k"), min("n_chars").as("x_k"),
        sum(log(col("n_chars").cast("double"))).as("slog"))
      .select(col("k"), col("x_k"),
        round(col("k").cast("double") /
          when(col("slog") - col("k") * log(col("x_k").cast("double")) === 0d, lit(null))
            .otherwise(col("slog") - col("k") * log(col("x_k").cast("double"))), 4)
          .as("alpha_hill"))
  }

  /** q123: tokenizer fertility per source — subword-ish tokens (the q49
    * letter-run/digit-run BPE approximation) per whitespace word, plus
    * chars per subword. THE corpus-budgeting conversion factor: a
    * source whose fertility drifts up is costing more compute per word
    * (typical for code, tables, or non-Latin scripts), and token-budget
    * planning (q67/q82) is wrong without it.
    *
    * Determinism: both token counts are integers summed per source;
    * the two ratios are single divisions over the exact sums.
    * Scale shape: one narrow regex pass, one sources-sized rollup with
    * map-side partial sums.
    */
  def tokenizerFertility(documents: DataFrame): DataFrame =
    documents
      .select(col("source"),
        size(tokens(col("text"))).cast("long").as("words"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+', 0)"))
          .cast("long").as("subwords"),
        col("n_chars"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("words")).as("total_words"),
        sum(col("subwords")).as("total_subwords"),
        sum(col("n_chars")).as("total_chars"))
      .withColumn("fertility",
        round(col("total_subwords") / col("total_words").cast("double"), 4))
      .withColumn("chars_per_subword",
        round(col("total_chars") / col("total_subwords").cast("double"), 4))
      .orderBy("source")

  /** q74: deterministic contact notes synthesized from customer fields,
    * scrubbed with the generic patterns — every redaction is
    * re-derivable, so the oracle checks both the counts AND the exact
    * redacted text.
    */
  def piiScrubReport(customer: DataFrame): DataFrame = {
    val note = concat(
      lit("contact "), col("c_name"),
      lit(" at user"), col("c_custkey").cast("string"), lit("@example.com or +1-555-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
      lit(" re "), lower(col("c_mktsegment")))
    redactPii(customer.select(col("c_custkey"), note.as("note")), "note")
      .orderBy("c_custkey")
  }

  /** q165: mutual-information audit of the corpus metadata — is
    * `source` informative about `lang`? Per (lang, source) cell:
    * observed count, expected-under-independence count, pointwise MI
    * (lift in nats) and the cell's contribution to total MI. Cells
    * with |pmi| ≫ 0 are the slices where a "balanced" mixture is
    * secretly language-skewed — q82's mixture weights assume the two
    * dimensions factor, and this is the check.
    *
    * Scale shape: ONE map-side-combined groupBy on the (lang, source)
    * pair; margins are WINDOW sums over the |langs|×|sources| result
    * frame — bounded by cardinality product, never the corpus. All
    * counts exact integers; the log arithmetic is one pinned
    * expression on both engines.
    */
  def langSourceMi(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = documents.groupBy("lang", "source").agg(count(lit(1)).as("n"))
      .withColumn("n_l", sum("n").over(Window.partitionBy("lang")))
      .withColumn("n_s", sum("n").over(Window.partitionBy("source")))
      .withColumn("total", sum("n").over(Window.partitionBy()))
    cells.select(col("lang"), col("source"), col("n"),
        round(expr("CAST(n_l AS DOUBLE) * CAST(n_s AS DOUBLE) / CAST(total AS DOUBLE)"), 2)
          .as("expected"),
        round(expr(
          "ln(CAST(n AS DOUBLE) * CAST(total AS DOUBLE) / (CAST(n_l AS DOUBLE) * CAST(n_s AS DOUBLE)))"),
          4).as("pmi"),
        round(expr(
          """CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
            | * ln(CAST(n AS DOUBLE) * CAST(total AS DOUBLE) / (CAST(n_l AS DOUBLE) * CAST(n_s AS DOUBLE)))""".stripMargin),
          6).as("mi_part"))
      .orderBy("lang", "source")
  }

  /** q174: Good-Turing frequency-of-frequencies table — the smoothing
    * statistic behind vocabulary-coverage estimates: Nᵣ = how many
    * distinct trigram types occur exactly r times, the adjusted count
    * r* = (r+1)·Nᵣ₊₁/Nᵣ, and the unseen-mass estimate p₀ = N₁/N on
    * every row. r* is NULL where Nᵣ₊₁ = 0 (the standard undefined
    * tail). The unit is word TRIGRAMS (the q117/q91 shingle shape) —
    * the open-vocabulary regime GT is made for; the fused
    * [[graft.functions.ShingleSet]] kernel emits every full window in
    * one codegen'd pass. All counts are exact integers; the two
    * ratios round at the end.
    *
    * Scale shape: corpus → trigram counts (ONE corpus shuffle,
    * map-side combined) → freq-of-freqs (a second, VOCAB-sized
    * shuffle) → the r+1 lookup is a broadcast self-join on the tiny
    * materialized Nᵣ frame (cardinality ≤ max r). Reported for
    * r ≤ 20, where GT smoothing is actually used.
    */
  def goodTuring(documents: DataFrame, maxR: Int = 20): DataFrame = {
    // materialize the tiny N_r frame so the r+1 self-join reads it from
    // storage instead of scanning the corpus once per join side
    val nr = graft.plans.Checkpoints.cut(documents
      .select(explode(
        graft.functions.ShingleSet.shingleWindowsExact(lower(col("text")), 3))
        .as("token"))
      .groupBy("token").agg(count(lit(1)).as("r"))
      .groupBy("r").agg(count(lit(1)).as("n_r")))
    val w = Window.partitionBy(lit(1))
    nr.join(broadcast(nr.select((col("r") - 1).as("r"), col("n_r").as("n_r1"))),
        Seq("r"), "left")
      .withColumn("n_tokens", sum(col("r") * col("n_r")).over(w))
      .withColumn("n1", sum(when(col("r") === 1, col("n_r"))).over(w))
      .filter(col("r") <= maxR)
      .select(col("r"), col("n_r"),
        round((col("r") + 1).cast("double") * col("n_r1") / col("n_r"), 4).as("r_star"),
        round(col("n1").cast("double") / col("n_tokens"), 6).as("p0"))
      .orderBy("r")
  }

  /** q175: Monroe et al.'s "Fightin' Words" log-odds-ratio with a
    * Dirichlet prior — the statistically-grounded way to ask "which
    * tokens distinguish English documents from the rest of the
    * corpus". For token w with counts y_aw/y_bw in the two halves,
    * δ_w = ln[(y_aw+α_w)/(n_a+α₀−y_aw−α_w)] − ln[(y_bw+α_w)/(n_b+α₀−y_bw−α_w)],
    * Var ≈ 1/(y_aw+α_w) + 1/(y_bw+α_w), z = δ/√Var, with the
    * informative prior α_w = α₀·(y_aw+y_bw)/N (corpus-proportional,
    * α₀ = 1000 pseudo-tokens). Reported for tokens with total count
    * ≥ 50, ordered by token — row-deterministic math from exact
    * integer counts (no float ordering, no float sums).
    *
    * Scale shape: ONE corpus scan → per-(token) conditional integer
    * sums (map-side combined); totals ride a window over the bounded
    * filtered vocab frame.
    */
  def logOddsTokens(documents: DataFrame, minTotal: Long = 50L,
                    alpha0: Double = 1000.0): DataFrame = {
    val counts = documents
      .select((col("lang") === "en").cast("long").as("is_a"),
        explode(split(lower(col("text")), " ")).as("token"))
      .groupBy("token")
      .agg(sum("is_a").as("y_a"), sum(lit(1L) - col("is_a")).as("y_b"))
    val w = Window.partitionBy(lit(1))
    counts
      .withColumn("n_a", sum("y_a").over(w))
      .withColumn("n_b", sum("y_b").over(w))
      .filter(col("y_a") + col("y_b") >= minTotal)
      .select(col("token"), col("y_a"), col("y_b"),
        round(expr(
          s"""ln((y_a + $alpha0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE))
             |   / (n_a + $alpha0 - y_a - $alpha0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE)))
             | - ln((y_b + $alpha0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE))
             |      / (n_b + $alpha0 - y_b - $alpha0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE)))""".stripMargin), 4)
          .as("delta"),
        round(expr(
          s"""(ln((y_a + $alpha0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE))
             |    / (n_a + $alpha0 - y_a - $alpha0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE)))
             |  - ln((y_b + $alpha0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE))
             |       / (n_b + $alpha0 - y_b - $alpha0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE))))
             | / sqrt(1.0 / (y_a + $alpha0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE))
             |        + 1.0 / (y_b + $alpha0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE)))""".stripMargin), 4)
          .as("z"))
      .orderBy("token")
  }

  /** q226: RAKE keyphrase extraction (Rose et al. 2010) — corpus-level
    * keyphrases without a model: candidate phrases are the maximal
    * stopword-free word runs, each word scores deg/freq (deg = Σ length
    * of phrases containing it — long-phrase words score up), and a
    * phrase scores the sum of its word scores.
    *
    * Exactness: the word score is MICRO-QUANTIZED ((deg·10⁶) div freq,
    * positive integer division) BEFORE the phrase sum, so phrase scores
    * are order-independent integer sums and the top-N cut sorts on the
    * exact integer (phrase asc tie-break) — the q209 nano-nat doctrine
    * applied to a ranking.
    *
    * Scale shape: segmentation is the CDC trick (running stopword
    * count per doc — windows partition by doc_id, bounded by document
    * length); word scores are one map-side-combined aggregate over
    * phrase words; the phrase table joins the word-score map on the
    * word key. No global sort until the final top-N, which is
    * TakeOrderedAndProject.
    */
  def rakeKeyphrases(documents: DataFrame, topN: Int = 15,
                     stopWords: Seq[String] = Seq("the", "a", "and", "of", "to")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stopList = stopWords.map(s => s"'$s'").mkString("(", ", ", ")")
    val words = documents
      .select(col("doc_id"), posexplode(split(lower(col("text")), " ")).as(Seq("pos", "w")))
      .withColumn("is_stop", expr(s"w in $stopList") || col("w") === "")
    val wnd = Window.partitionBy("doc_id").orderBy("pos")
    val seg = words
      .withColumn("seg", sum(when(col("is_stop"), 1L).otherwise(0L)).over(wnd))
      .filter(!col("is_stop"))
    val wl = seg.withColumn("plen",
      count(lit(1)).over(Window.partitionBy("doc_id", "seg")))
    val wordScores = wl.groupBy("w")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .select(col("w"), expr("(deg * 1000000) div freq").as("ws_q"))
    val phrases = wl.groupBy("doc_id", "seg")
      .agg(expr("array_join(transform(sort_array(collect_list(struct(pos, w))), x -> x.w), ' ')")
        .as("phrase"))
    val scored = wl.join(wordScores, "w")
      .groupBy("doc_id", "seg")
      .agg(sum("ws_q").as("pq"), count(lit(1)).as("n_words"))
      .join(phrases, Seq("doc_id", "seg"))
      // identical phrase text ⇒ identical word multiset ⇒ identical pq
      .groupBy("phrase")
      .agg(max("n_words").as("n_words"), count(lit(1)).as("n_occurrences"),
        max("pq").as("pq"))
    scored
      .orderBy(col("pq").desc, col("phrase")).limit(topN)
      .select(col("phrase"), col("n_words"), col("n_occurrences"),
        round(expr("cast(pq as double) / 1000000.0"), 4).as("score"))
  }

  /** q233: BLOCKLIST multi-pattern scan — the banned-phrase gate a
    * curation pipeline runs before training: one pass over the corpus
    * finds every non-overlapping occurrence of any blocklist pattern
    * (leftmost scan, resuming after each match — both engines' regex
    * alternation semantics agree because no two patterns can match at
    * the same position) and reports per pattern how many documents and
    * total occurrences it hits, INCLUDING zero-hit patterns (the report
    * is the blocklist dim left-joined to the hit aggregate).
    *
    * Scale: the corpus side is ONE codegen'd `regexp_extract_all`
    * projection + a hits-sized explode (hits ≪ corpus); the pattern dim
    * is broadcast. A blocklist large enough to make the compiled
    * alternation slow graduates to an Aho-Corasick automaton as a
    * custom Expression — same plan shape, the scan kernel changes; for
    * single-token patterns the no-regex alternative is the exploded
    * token equi-join against the broadcast dim.
    */
  def blocklistScan(documents: DataFrame,
                    patterns: Seq[String] =
                      Seq("batch batch", "window window", "slow", "dup")): DataFrame = {
    val ss = documents.sparkSession
    import ss.implicits._
    val rx = patterns.mkString("(", "|", ")")
    val hits = documents.select(col("doc_id"),
      explode(expr(s"regexp_extract_all(lower(text), '$rx', 1)")).as("pat"))
    val agg = hits.groupBy("pat")
      .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_hits"))
    patterns.toDF("pat").join(agg, Seq("pat"), "left")
      .select(col("pat"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .orderBy("pat")
  }

  /** q243: VOCABULARY COVERAGE CURVE — for candidate vocab sizes, what
    * fraction of all token occurrences the top-k types cover (the
    * tokenizer-budget question: how big must the vocab be before OOV
    * rate is acceptable). Types rank by (count desc, token asc) — a
    * total order, so the cumulative sum is engine-exact — and coverage
    * is integer ppm.
    *
    * Scale: the corpus collapses to the (type → count) frame in one
    * pass with map-side combine; the ranking window sorts only the
    * VOCAB-sized frame (≪ corpus; hash-prune the long tail first if
    * type counts ever rival corpus size). Cut points replicate that
    * frame ×|cuts| via a broadcast cross join, still vocab-bounded.
    */
  def vocabCoverage(documents: DataFrame,
                    cuts: Seq[Int] = Seq(16, 64, 256, 1024)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ss = documents.sparkSession
    import ss.implicits._
    val counts = documents
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
    val ord = Window.orderBy(col("c").desc, col("w"))
    val ranked = counts
      .withColumn("rk", row_number().over(ord))
      .withColumn("cum", sum("c").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val total = counts.agg(sum("c").as("tot"))
    ranked.crossJoin(broadcast(cuts.toDF("vocab_size")))
      .filter(col("rk") <= col("vocab_size"))
      .groupBy("vocab_size")
      .agg(max(col("rk").cast("long")).as("n_types"), max("cum").as("covered"))
      .crossJoin(broadcast(total))
      .select(col("vocab_size"), col("n_types"),
        expr("covered * 1000000 div tot").as("coverage_ppm"))
      .orderBy("vocab_size")
  }

  /** q244: blocklist counting via the NATIVE Aho-Corasick automaton
    * ([[graft.functions.MultiPatternCounts]]) — the compiled-DFA scale
    * path q233's doc promises for large pattern lists: every input byte
    * is visited once no matter how many patterns are loaded, vs the
    * regex alternation's per-position re-scan. Counts are TOTAL
    * occurrences (overlapping included — the patterns here overlap on
    * purpose: 'atch' fires inside 'batch batch', 'w w' at every
    * "window window" boundary), which is what a per-pattern exposure
    * report wants; q233 keeps the non-overlapping resume semantics for
    * redaction-style gating.
    *
    * Scale: ONE codegen'd automaton pass per doc emits the full count
    * vector; the per-(source, pattern) rollup shuffles |sources|×
    * |patterns| partial sums, nothing text-sized.
    */
  def blocklistAcCounts(documents: DataFrame,
                        patterns: Seq[String] =
                          Seq("batch batch", "atch", "row", "window", "w w")): DataFrame = {
    val ss = documents.sparkSession
    import ss.implicits._
    val counted = documents.select(col("source"),
      posexplode(graft.functions.MultiPatternCounts.counts(lower(col("text")), patterns))
        .as(Seq("idx", "cnt")))
    val dim = patterns.zipWithIndex.map { case (p, i) => (i, p) }.toDF("idx", "pat")
    counted.groupBy("source", "idx").agg(sum("cnt").as("n_hits"))
      .join(broadcast(dim), "idx")
      .select("source", "pat", "n_hits")
      .orderBy("source", "pat")
  }

  /** q246: QUALITY-GATE FUNNEL — the yield report a curation pipeline
    * publishes per source: how many docs survive each gate applied IN
    * SEQUENCE (non-empty → length band → mean-word-length band →
    * stopword evidence → not an exact duplicate), so the step that
    * kills a source's yield is visible directly instead of inferred
    * from independent per-gate rates.
    *
    * Scale: gates 1-4 are pure column predicates in ONE scan; the dup
    * gate joins the doc's fingerprint against the (fp → count) frame —
    * one extra shuffle keyed on the 16-byte fingerprint, the q20
    * economics. Cumulative-AND sums collapse per source map-side.
    */
  def qualityFunnel(documents: DataFrame): DataFrame = {
    val fpCounts = documents
      .select(graft.operators.Dedup.fingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("n_copies"))
    val gated = documents
      .select(col("source"), col("text"), col("n_chars"),
        graft.operators.Dedup.fingerprint(col("text")).as("fp"))
      .join(fpCounts, "fp")
      .select(col("source"),
        (col("n_chars") > 0).as("g1"),
        (col("n_chars") >= 50 && col("n_chars") <= 5000).as("g2"),
        (col("text") =!= "" &&
          (col("n_chars") + 1) >= (size(split(col("text"), " ")) * 4) &&
          (col("n_chars") + 1) <= (size(split(col("text"), " ")) * 13)).as("g3"),
        (col("text").contains("the ") || col("text").contains(" the")).as("g4"),
        (col("n_copies") === 1).as("g5"))
    gated.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("g1"), 1L).otherwise(0L)).as("pass_nonempty"),
        sum(when(col("g1") && col("g2"), 1L).otherwise(0L)).as("pass_length"),
        sum(when(col("g1") && col("g2") && col("g3"), 1L).otherwise(0L)).as("pass_wordlen"),
        sum(when(col("g1") && col("g2") && col("g3") && col("g4"), 1L).otherwise(0L))
          .as("pass_stopword"),
        sum(when(col("g1") && col("g2") && col("g3") && col("g4") && col("g5"), 1L)
          .otherwise(0L)).as("pass_unique"))
      .withColumn("yield_ppm", expr("pass_unique * 1000000 div n_docs"))
      .orderBy("source")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q246_quality_funnel" -> ((s, d) => qualityFunnel(Tables(s, d).documents)),
    "q244_blocklist_ac" -> ((s, d) => blocklistAcCounts(Tables(s, d).documents)),
    "q243_vocab_coverage" -> ((s, d) => vocabCoverage(Tables(s, d).documents)),
    "q233_blocklist_scan" -> ((s, d) => blocklistScan(Tables(s, d).documents)),
    "q226_rake_keyphrases" -> ((s, d) => rakeKeyphrases(Tables(s, d).documents)),
    "q174_good_turing"  -> ((s, d) => goodTuring(Tables(s, d).documents)),
    "q175_log_odds"     -> ((s, d) => logOddsTokens(Tables(s, d).documents)),
    "q165_lang_source_mi" -> ((s, d) => langSourceMi(Tables(s, d).documents)),
    "q74_pii_scrub"    -> ((s, d) => piiScrubReport(Tables(s, d).customer)),
    "q72_repetition"   -> ((s, d) => repetitionGates(Tables(s, d).documents)),
    "q62_heavy_tokens" -> ((s, d) => heavyHitterTokens(Tables(s, d).documents)),
    "q16_regex_tag"    -> ((s, d) => regexTagSummary(Tables(s, d).documents)),
    "q19_text_normalize" -> ((s, d) => normalized(Tables(s, d).documents)),
    "q21_token_stats"  -> ((s, d) => tokenStats(Tables(s, d).documents)),
    "q22_quality_scores" -> ((s, d) => qualityScores(Tables(s, d).documents)),
    "q23_langid"       -> ((s, d) => languageId(Tables(s, d).documents)),
    "q79_gopher_flags" -> ((s, d) => gopherQualityFlags(Tables(s, d).documents)),
    "q81_char_entropy" -> ((s, d) => charEntropy(Tables(s, d).documents)),
    "q85_length_quantiles" -> ((s, d) => lengthQuantiles(Tables(s, d).documents)),
    "q88_nfc_normalize" -> ((s, d) => nfcNormalized(Tables(s, d).documents)),
    "q91_boilerplate_grams" -> ((s, d) => boilerplateGramRatio(Tables(s, d).documents)),
    "q104_char_classes" -> ((s, d) => charClassMix(Tables(s, d).documents)),
    "q109_readability"  -> ((s, d) => readability(Tables(s, d).documents)),
    "q122_len_quality_corr" -> ((s, d) => lengthQualityCorrelation(Tables(s, d).documents)),
    "q123_fertility"    -> ((s, d) => tokenizerFertility(Tables(s, d).documents)),
    "q150_hill_tail"    -> ((s, d) => hillTailIndex(Tables(s, d).documents)),
    "q153_calibration"  -> ((s, d) => calibrationBins(Tables(s, d).documents)),
    "q197_isotonic"     -> ((s, d) => isotonicCalibration(Tables(s, d).documents)),
    "q154_rater_kappa"  -> ((s, d) => labelAgreementKappa(Tables(s, d).documents)),
    "q297_fleiss_kappa" -> ((s, d) => fleissKappa(Tables(s, d).documents)),
    "q318_krippendorff" -> ((s, d) => krippendorffAlpha(Tables(s, d).documents)),
    "q325_fairness_audit" -> ((s, d) => fairnessAudit(Tables(s, d).documents)),
  )

  override def oracles: Map[String, String] = Map(
    "q246_quality_funnel" ->
      """WITH fp AS (SELECT md5(lower(trim(text))) AS f, count(*)::BIGINT AS n_copies
        |            FROM documents GROUP BY 1),
        |g AS (SELECT source,
        |        n_chars > 0 AS g1,
        |        n_chars BETWEEN 50 AND 5000 AS g2,
        |        text <> '' AND (n_chars + 1) >= len(string_split(text, ' ')) * 4
        |                   AND (n_chars + 1) <= len(string_split(text, ' ')) * 13 AS g3,
        |        (text LIKE '%the %' OR text LIKE '% the%') AS g4,
        |        n_copies = 1 AS g5
        |      FROM documents d JOIN fp ON fp.f = md5(lower(trim(d.text))))
        |SELECT source, count(*)::BIGINT AS n_docs,
        |       sum(CASE WHEN g1 THEN 1 ELSE 0 END)::BIGINT AS pass_nonempty,
        |       sum(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END)::BIGINT AS pass_length,
        |       sum(CASE WHEN g1 AND g2 AND g3 THEN 1 ELSE 0 END)::BIGINT AS pass_wordlen,
        |       sum(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END)::BIGINT AS pass_stopword,
        |       sum(CASE WHEN g1 AND g2 AND g3 AND g4 AND g5 THEN 1 ELSE 0 END)::BIGINT AS pass_unique,
        |       (sum(CASE WHEN g1 AND g2 AND g3 AND g4 AND g5 THEN 1 ELSE 0 END) * 1000000
        |          // count(*))::BIGINT AS yield_ppm
        |FROM g GROUP BY source ORDER BY source""".stripMargin,
    // overlapping-count oracle: a pattern occurrence at EVERY position
    // (list_filter over the position range), not non-overlapping resume
    "q244_blocklist_ac" ->
      """WITH pats AS (SELECT * FROM (VALUES ('batch batch'), ('atch'), ('row'),
        |                                    ('window'), ('w w')) p(pat)),
        |d AS (SELECT source, lower(text) AS t FROM documents),
        |hits AS (
        |  SELECT d.source, p.pat,
        |         len(list_filter(range(1, len(t) - len(pat) + 2),
        |               i -> substr(t, CAST(i AS INT), len(pat)) = pat))::BIGINT AS cnt
        |  FROM d CROSS JOIN pats p)
        |SELECT source, pat, sum(cnt)::BIGINT AS n_hits
        |FROM hits GROUP BY source, pat ORDER BY source, pat""".stripMargin,
    "q243_vocab_coverage" ->
      """WITH counts AS (
        |  SELECT w, count(*)::BIGINT AS c FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w),
        |ranked AS (
        |  SELECT w, c,
        |         row_number() OVER (ORDER BY c DESC, w) AS rk,
        |         sum(c) OVER (ORDER BY c DESC, w ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM counts),
        |total AS (SELECT sum(c)::BIGINT AS tot FROM counts)
        |SELECT v.vocab_size, max(r.rk)::BIGINT AS n_types,
        |       (max(r.cum) * 1000000 // max(t.tot))::BIGINT AS coverage_ppm
        |FROM ranked r CROSS JOIN (VALUES (16), (64), (256), (1024)) v(vocab_size)
        |CROSS JOIN total t
        |WHERE r.rk <= v.vocab_size
        |GROUP BY v.vocab_size ORDER BY v.vocab_size""".stripMargin,
    "q233_blocklist_scan" ->
      """WITH hits AS (
        |  SELECT doc_id,
        |         unnest(regexp_extract_all(lower(text),
        |           '(batch batch|window window|slow|dup)', 1)) AS pat
        |  FROM documents),
        |agg AS (SELECT pat, count(DISTINCT doc_id)::BIGINT AS n_docs,
        |               count(*)::BIGINT AS n_hits
        |        FROM hits GROUP BY pat)
        |SELECT p.pat, coalesce(a.n_docs, 0)::BIGINT AS n_docs,
        |       coalesce(a.n_hits, 0)::BIGINT AS n_hits
        |FROM (VALUES ('batch batch'), ('window window'), ('slow'), ('dup')) p(pat)
        |LEFT JOIN agg a ON a.pat = p.pat
        |ORDER BY p.pat""".stripMargin,
    "q226_rake_keyphrases" ->
      """WITH wd AS (
        |  SELECT doc_id, i - 1 AS pos, ws[i] AS w,
        |         CASE WHEN ws[i] IN ('the', 'a', 'and', 'of', 'to') OR ws[i] = '' THEN 1
        |              ELSE 0 END AS is_stop
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws,
        |               unnest(range(1, len(string_split(lower(text), ' ')) + 1)) AS i
        |        FROM documents)),
        |sg AS (SELECT doc_id, pos, w, is_stop,
        |         sum(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
        |                            ROWS UNBOUNDED PRECEDING) AS seg
        |       FROM wd),
        |seg AS (SELECT doc_id, pos, w, seg FROM sg WHERE is_stop = 0),
        |wl AS (SELECT doc_id, seg, pos, w,
        |         count(*) OVER (PARTITION BY doc_id, seg) AS plen FROM seg),
        |wsq AS (SELECT w, (sum(plen)::BIGINT * 1000000) // count(*)::BIGINT AS ws_q
        |        FROM wl GROUP BY 1),
        |ph AS (SELECT doc_id, seg, string_agg(w, ' ' ORDER BY pos) AS phrase,
        |              count(*)::BIGINT AS n_words
        |       FROM wl GROUP BY 1, 2),
        |pq AS (SELECT wl.doc_id, wl.seg, sum(ws_q)::BIGINT AS pq
        |       FROM wl JOIN wsq USING (w) GROUP BY 1, 2),
        |agg AS (SELECT phrase, max(n_words)::BIGINT AS n_words,
        |               count(*)::BIGINT AS n_occurrences, max(pq)::BIGINT AS pq
        |        FROM ph JOIN pq USING (doc_id, seg) GROUP BY 1)
        |SELECT phrase, n_words, n_occurrences,
        |       round(pq::DOUBLE / 1000000.0, 4) AS score
        |FROM agg ORDER BY pq DESC, phrase LIMIT 15""".stripMargin,
    // freq-of-freqs with an r+1 self-join; integer counts, ratios
    // rounded at the end (r_star NULL where N_{r+1}=0)
    "q174_good_turing" ->
      """WITH d AS (SELECT string_split(lower(text), ' ') AS ts FROM documents),
        |tc AS (SELECT array_to_string(ts[i:i+2], ' ') AS token
        |       FROM (SELECT ts, unnest(range(1, len(ts) - 1)) AS i FROM d)),
        |freq AS (SELECT token, count(*)::BIGINT AS r FROM tc GROUP BY token),
        |nr AS (SELECT r, count(*)::BIGINT AS n_r FROM freq GROUP BY r),
        |tot AS (SELECT sum(r * n_r)::BIGINT AS n_tokens,
        |               sum(CASE WHEN r = 1 THEN n_r END)::BIGINT AS n1
        |        FROM nr)
        |SELECT a.r, a.n_r,
        |       round((a.r + 1) * b.n_r::DOUBLE / a.n_r, 4) AS r_star,
        |       round(n1::DOUBLE / n_tokens, 6) AS p0
        |FROM nr a LEFT JOIN nr b ON b.r = a.r + 1, tot
        |WHERE a.r <= 20 ORDER BY a.r""".stripMargin,
    // identical per-token double expression from exact conditional
    // counts; alpha_w = alpha0*(y_a+y_b)/N corpus-proportional prior
    "q175_log_odds" ->
      """WITH t AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_a,
        |         unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |c AS (SELECT token, sum(is_a)::BIGINT AS y_a,
        |             sum(1 - is_a)::BIGINT AS y_b
        |      FROM t GROUP BY token),
        |m AS (SELECT token, y_a, y_b,
        |             sum(y_a) OVER ()::BIGINT AS n_a,
        |             sum(y_b) OVER ()::BIGINT AS n_b
        |      FROM c)
        |SELECT token, y_a, y_b,
        |       round(ln((y_a + 1000.0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE))
        |                / (n_a + 1000.0 - y_a - 1000.0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE)))
        |             - ln((y_b + 1000.0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE))
        |                  / (n_b + 1000.0 - y_b - 1000.0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE))), 4) AS delta,
        |       round((ln((y_a + 1000.0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE))
        |                 / (n_a + 1000.0 - y_a - 1000.0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE)))
        |              - ln((y_b + 1000.0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE))
        |                   / (n_b + 1000.0 - y_b - 1000.0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE))))
        |             / sqrt(1.0 / (y_a + 1000.0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE))
        |                    + 1.0 / (y_b + 1000.0 * (y_a + y_b) / CAST(n_a + n_b AS DOUBLE))), 4) AS z
        |FROM m WHERE y_a + y_b >= 50 ORDER BY token""".stripMargin,
    "q165_lang_source_mi" ->
      """WITH c AS (SELECT lang, source, count(*)::BIGINT AS n
        |           FROM documents GROUP BY 1, 2),
        |m AS (SELECT lang, source, n,
        |             sum(n) OVER (PARTITION BY lang)::BIGINT AS n_l,
        |             sum(n) OVER (PARTITION BY source)::BIGINT AS n_s,
        |             sum(n) OVER ()::BIGINT AS total
        |      FROM c)
        |SELECT lang, source, n,
        |       round(CAST(n_l AS DOUBLE) * CAST(n_s AS DOUBLE) / CAST(total AS DOUBLE), 2) AS expected,
        |       round(ln(CAST(n AS DOUBLE) * CAST(total AS DOUBLE) / (CAST(n_l AS DOUBLE) * CAST(n_s AS DOUBLE))), 4) AS pmi,
        |       round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
        |             * ln(CAST(n AS DOUBLE) * CAST(total AS DOUBLE) / (CAST(n_l AS DOUBLE) * CAST(n_s AS DOUBLE))), 6) AS mi_part
        |FROM m ORDER BY lang, source""".stripMargin,
    // raw is rebuilt codepoint-for-codepoint with chr(); nfc_normalize
    // is DuckDB's ICU-backed NFC — byte equality with the JDK kernel is
    // the whole check (lengths pin the two compositions per row)
    "q88_nfc_normalize" ->
      """WITH r AS (
        |  SELECT doc_id,
        |         substr(text, 1, 8) || 'e' ||
        |         CASE doc_id % 3 WHEN 0 THEN chr(769)
        |                         WHEN 1 THEN chr(776)
        |                         ELSE chr(771) END ||
        |         'o' || chr(776) AS raw
        |  FROM documents)
        |SELECT doc_id, raw, nfc_normalize(raw) AS norm,
        |       length(raw)::BIGINT AS len_raw,
        |       length(nfc_normalize(raw))::BIGINT AS len_norm
        |FROM r ORDER BY doc_id""".stripMargin,
    "q91_boilerplate_grams" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(ts[i:i+3], ' ') AS g
        |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts) - 2)) AS i
        |        FROM d WHERE len(ts) >= 4)),
        |freq AS (
        |  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM grams GROUP BY g)
        |  WHERE df >= 3)
        |SELECT doc_id, count(*)::BIGINT AS n_grams,
        |       count(freq.g)::BIGINT AS n_boiler,
        |       round(count(freq.g) / count(*)::DOUBLE, 4) AS boiler_ratio
        |FROM grams LEFT JOIN freq ON grams.g = freq.g
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q74_pii_scrub" ->
      """WITH notes AS (
        |  SELECT c_custkey,
        |         'contact ' || c_name || ' at user' || c_custkey || '@example.com or +1-555-' ||
        |         lpad((c_custkey % 10000)::VARCHAR, 4, '0') || ' re ' || lower(c_mktsegment) AS note
        |  FROM customer)
        |SELECT c_custkey,
        |       regexp_replace(regexp_replace(note,
        |         '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |         '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS note,
        |       len(regexp_extract_all(note, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))::BIGINT AS n_emails,
        |       len(regexp_extract_all(regexp_replace(note,
        |         '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |         '\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}'))::BIGINT AS n_phones
        |FROM notes ORDER BY c_custkey""".stripMargin,
    "q72_repetition" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |wc AS (
        |  SELECT doc_id, sum(c)::BIGINT AS n_words, max(c) AS top_c
        |  FROM (SELECT doc_id, w, count(*) AS c FROM words GROUP BY doc_id, w)
        |  GROUP BY doc_id),
        |bg AS (
        |  SELECT doc_id,
        |         len(string_split(text, ' ')) - 1 AS total,
        |         len(list_distinct(list_transform(
        |           range(1, len(string_split(text, ' '))),
        |           i -> string_split(text, ' ')[i] || chr(31) || string_split(text, ' ')[i+1]))) AS dist
        |  FROM documents)
        |SELECT wc.doc_id, wc.n_words,
        |       round(top_c / wc.n_words::DOUBLE, 4) AS top_word_frac,
        |       round(CASE WHEN bg.total > 0
        |                  THEN (bg.total - bg.dist) / bg.total::DOUBLE ELSE 0.0 END, 4) AS dup_bigram_frac,
        |       (top_c / wc.n_words::DOUBLE <= 0.1 AND
        |        CASE WHEN bg.total > 0
        |             THEN (bg.total - bg.dist) / bg.total::DOUBLE ELSE 0.0 END <= 0.18) AS kept
        |FROM wc JOIN bg ON wc.doc_id = bg.doc_id
        |ORDER BY wc.doc_id""".stripMargin,
    "q79_gopher_flags" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         len(ts)::BIGINT AS n_words,
        |         round(list_sum(list_transform(ts, w -> len(w))) / len(ts)::DOUBLE, 4) AS mean_word_len,
        |         ((CASE WHEN list_contains(ts, 'the') THEN 1 ELSE 0 END)
        |        + (CASE WHEN list_contains(ts, 'a') THEN 1 ELSE 0 END)
        |        + (CASE WHEN list_contains(ts, 'and') THEN 1 ELSE 0 END)
        |        + (CASE WHEN list_contains(ts, 'of') THEN 1 ELSE 0 END)
        |        + (CASE WHEN list_contains(ts, 'to') THEN 1 ELSE 0 END))::BIGINT AS n_stop_words,
        |         round(len(list_filter(ts, w -> regexp_matches(w, '[a-z]'))) / len(ts)::DOUBLE, 4) AS alpha_frac
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents))
        |SELECT doc_id, n_words, mean_word_len, n_stop_words, alpha_frac,
        |       n_words BETWEEN 50 AND 100000 AS words_ok,
        |       mean_word_len BETWEEN 3.0 AND 10.0 AS mean_len_ok,
        |       n_stop_words >= 2 AS stop_ok,
        |       alpha_frac >= 0.8 AS alpha_ok,
        |       (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |       AND n_stop_words >= 2 AND alpha_frac >= 0.8 AS kept
        |FROM f ORDER BY doc_id""".stripMargin,
    "q85_length_quantiles" ->
      """SELECT lang, count(*)::BIGINT AS n_docs,
        |       round(quantile_cont(n_toks, 0.25), 4) AS p25,
        |       round(quantile_cont(n_toks, 0.50), 4) AS p50,
        |       round(quantile_cont(n_toks, 0.75), 4) AS p75
        |FROM (SELECT lang, len(string_split(text, ' '))::BIGINT AS n_toks FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // the per-char sum folds over the SORTED distinct alphabet on both
    // engines (list_sum/list_transform is the proven sequential-fold
    // mirror of Spark's `aggregate`), pinning the summation order
    // identical integer counts -> identical double ratios; the band
    // thresholds compare the rounded score on both engines
    // integer token sums; the two ratios are single divisions
    "q123_fertility" ->
      """SELECT source, count(*)::BIGINT AS n_docs,
        |       sum(len(string_split(text, ' ')))::BIGINT AS total_words,
        |       sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')))::BIGINT AS total_subwords,
        |       sum(n_chars)::BIGINT AS total_chars,
        |       round(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')))
        |             / sum(len(string_split(text, ' ')))::DOUBLE, 4) AS fertility,
        |       round(sum(n_chars)
        |             / sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+')))::DOUBLE, 4) AS chars_per_subword
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // y is integer-scaled BEFORE any moment (floor-div), so all five
    // Pearson moments are exact integer sums on both engines
    "q122_len_quality_corr" ->
      """WITH rows_ AS (
        |  SELECT source,
        |         len(string_split(text, ' '))::BIGINT AS x,
        |         (len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a'))::BIGINT
        |          * 10000) // len(string_split(text, ' '))::BIGINT AS y
        |  FROM documents),
        |m AS (
        |  SELECT source, count(*)::BIGINT AS n,
        |         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
        |         sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
        |         sum(y * y)::BIGINT AS syy
        |  FROM rows_ GROUP BY 1)
        |SELECT source, n AS n_docs,
        |       CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0 THEN 0.0
        |            ELSE round((n * sxy - sx * sy)::DOUBLE /
        |                       (sqrt((n * sxx - sx * sx)::DOUBLE) *
        |                        sqrt((n * syy - sy * sy)::DOUBLE)), 4) END AS r_len_stop
        |FROM m ORDER BY source""".stripMargin,
    "q109_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |         len(string_split(text, ' '))::BIGINT AS n_words,
        |         greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT AS n_sentences,
        |         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)::BIGINT AS n_syllables
        |  FROM documents),
        |s AS (
        |  SELECT *, round(206.835 - 1.015 * (n_words::DOUBLE / n_sentences)
        |                          - 84.6 * (n_syllables::DOUBLE / n_words), 4) AS flesch
        |  FROM c)
        |SELECT doc_id, n_words, n_sentences, n_syllables, flesch,
        |       CASE WHEN flesch >= 60.0 THEN 'easy'
        |            WHEN flesch >= 30.0 THEN 'standard'
        |            ELSE 'difficult' END AS band
        |FROM s ORDER BY doc_id""".stripMargin,
    "q104_char_classes" ->
      """SELECT doc_id, length(text)::BIGINT AS n_chars_total,
        |       (length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::BIGINT AS n_alpha,
        |       (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::BIGINT AS n_digit,
        |       (length(text) - length(regexp_replace(text, ' ', '', 'g')))::BIGINT AS n_space,
        |       (length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')))::BIGINT AS n_punct,
        |       round((length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))
        |             / greatest(length(text), 1)::DOUBLE, 4) AS alpha_frac,
        |       length(text) > 0 AND
        |         (length(regexp_replace(text, '[a-zA-Z]', '', 'g')))
        |           / length(text)::DOUBLE > 0.5 AS noisy
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the CASE pins DuckDB's string_split('', '') = [''] (one empty
    // element) to the kernel's n=0 contract for empty text
    "q81_char_entropy" ->
      """WITH d AS (SELECT doc_id,
        |                  CASE WHEN text = '' THEN []::VARCHAR[]
        |                       ELSE string_split(text, '') END AS cs
        |           FROM documents),
        |e AS (
        |  SELECT doc_id,
        |         len(cs)::BIGINT AS n_chars_split,
        |         len(list_distinct(cs))::BIGINT AS n_distinct_chars,
        |         coalesce(list_sum(list_transform(list_sort(list_distinct(cs)), c ->
        |           (len(list_filter(cs, x -> x = c)) / len(cs)::DOUBLE) *
        |           ln(len(list_filter(cs, x -> x = c)) / len(cs)::DOUBLE))), 0.0) AS s
        |  FROM d)
        |SELECT doc_id, n_chars_split, n_distinct_chars,
        |       round(-s / ln(2.0), 4) + 0.0 AS entropy_bits
        |FROM e ORDER BY doc_id""".stripMargin,
    "q62_heavy_tokens" ->
      """WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents),
        |tot AS (SELECT count(*) AS n FROM toks),
        |cnt AS (SELECT token, count(*) AS n_occurrences FROM toks GROUP BY token)
        |SELECT token, n_occurrences FROM cnt, tot
        |WHERE n_occurrences * 65 > n ORDER BY token""".stripMargin,
    "q16_regex_tag" ->
      """SELECT tag, count(*) AS n_docs FROM (
           SELECT CASE WHEN regexp_matches(text, 'spark') THEN 'spark'
                       WHEN regexp_matches(text, 'stream') THEN 'streaming'
                       WHEN regexp_matches(text, 'join|merge') THEN 'relational'
                       ELSE 'other' END AS tag
           FROM documents) GROUP BY tag ORDER BY tag""",
    "q19_text_normalize" ->
      """SELECT doc_id,
             array_to_string((string_split(collapsed, ' '))[1:5], ' ') AS head5,
             CAST(len(string_split(collapsed, ' ')) AS BIGINT) AS n_tokens
         FROM (SELECT doc_id,
                 trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS collapsed
               FROM documents) ORDER BY doc_id""",
    "q21_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
             round(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)), 4) AS avg_tokens
         FROM documents GROUP BY lang ORDER BY lang""",
    "q22_quality_scores" ->
      """SELECT doc_id, n_tokens,
             round(n_chars / n_tokens, 4) AS chars_per_token,
             round(stops / CAST(n_tokens AS DOUBLE), 4) AS stop_ratio,
             round((1.0 - stops / CAST(n_tokens AS DOUBLE)) * ln(1.0 + n_chars), 4) AS quality
         FROM (SELECT doc_id, n_chars,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 CAST(len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS BIGINT) AS stops
               FROM documents) ORDER BY doc_id""",
    "q153_calibration" ->
      """WITH t AS (SELECT least((len(list_filter(string_split(text, ' '),
        |                          w -> w = 'the' OR w = 'a')) * 10000)
        |                        // len(string_split(text, ' ')), 9999) AS y,
        |                  CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS pos
        |           FROM documents),
        |b AS (SELECT y // 1000 AS bin, count(*)::BIGINT AS n_docs,
        |             sum(y)::BIGINT AS sy, sum(pos)::BIGINT AS n_pos
        |      FROM t GROUP BY 1)
        |SELECT bin, n_docs,
        |       round(sy / n_docs / 10000.0, 4) AS conf,
        |       round(n_pos / CAST(n_docs AS DOUBLE), 4) AS acc,
        |       round(abs(sy / n_docs / 10000.0 - n_pos / CAST(n_docs AS DOUBLE)), 4) AS gap
        |FROM b ORDER BY bin""".stripMargin,
    "q197_isotonic" ->
      """WITH t AS (SELECT least((len(list_filter(string_split(text, ' '),
        |                          w -> w = 'the' OR w = 'a')) * 10000)
        |                        // len(string_split(text, ' ')), 9999) // 1000 AS bin,
        |                  CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END AS pos
        |           FROM documents),
        |b AS (SELECT bin, count(*)::BIGINT AS n, sum(pos)::BIGINT AS p
        |      FROM t GROUP BY 1),
        |c AS (SELECT bin, n, p,
        |             sum(p) OVER (ORDER BY bin)::BIGINT AS cp,
        |             sum(n) OVER (ORDER BY bin)::BIGINT AS cn
        |      FROM b),
        |ranges AS (SELECT a.bin AS j, z.bin AS k,
        |                  (z.cp - a.cp + a.p)::DOUBLE /
        |                  (z.cn - a.cn + a.n)::DOUBLE AS avg
        |           FROM c a JOIN c z ON a.bin <= z.bin),
        |mn AS (SELECT i.bin AS i, r.j, min(r.avg) AS mn
        |       FROM b i JOIN ranges r ON r.j <= i.bin AND r.k >= i.bin
        |       GROUP BY 1, 2),
        |iso AS (SELECT i, max(mn) AS iso FROM mn GROUP BY i)
        |SELECT b.bin, b.n AS n_docs,
        |       round(b.p / CAST(b.n AS DOUBLE), 4) AS raw_acc,
        |       round(iso.iso, 4) AS iso_acc
        |FROM b JOIN iso ON b.bin = iso.i ORDER BY b.bin""".stripMargin,
    "q154_rater_kappa" ->
      """WITH h AS (SELECT lang = 'en' AS ra,
        |                  len(list_filter(string_split(lower(text), ' '), w -> w IN ('the','a','and'))) AS en,
        |                  len(list_filter(string_split(lower(text), ' '), w -> w IN ('el','la','los'))) AS es,
        |                  len(list_filter(string_split(lower(text), ' '), w -> w IN ('der','die','und'))) AS de,
        |                  len(list_filter(string_split(lower(text), ' '), w -> w IN ('le','les','des'))) AS fr
        |           FROM documents),
        |r AS (SELECT ra, (en >= es AND en >= de AND en >= fr AND en > 0) AS rb FROM h),
        |m AS (SELECT count(*)::BIGINT AS n,
        |             sum(CASE WHEN ra AND rb THEN 1 ELSE 0 END)::BIGINT AS n11,
        |             sum(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END)::BIGINT AS n10,
        |             sum(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END)::BIGINT AS n01,
        |             sum(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END)::BIGINT AS n00
        |      FROM r)
        |SELECT n, n11, n10, n01, n00,
        |       round((n11 + n00) / CAST(n AS DOUBLE), 4) AS p_observed,
        |       round(((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
        |             / CAST(n * n AS DOUBLE), 4) AS p_expected,
        |       round(((n11 + n00) / CAST(n AS DOUBLE)
        |               - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) / CAST(n * n AS DOUBLE))
        |             / nullif(1 - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) / CAST(n * n AS DOUBLE), 0), 4) AS kappa
        |FROM m""".stripMargin,
    // same q23 stopword-argmax predictor; all rates integer ppm divisions
    "q325_fairness_audit" ->
      """WITH h AS (SELECT source, lang = 'en' AS y,
        |       len(list_filter(string_split(lower(text), ' '), w -> w IN ('the','a','and'))) AS en,
        |       len(list_filter(string_split(lower(text), ' '), w -> w IN ('el','la','los'))) AS es,
        |       len(list_filter(string_split(lower(text), ' '), w -> w IN ('der','die','und'))) AS de,
        |       len(list_filter(string_split(lower(text), ' '), w -> w IN ('le','les','des'))) AS fr
        |     FROM documents),
        |b AS (SELECT source, y,
        |             (en >= es AND en >= de AND en >= fr AND en > 0) AS p FROM h),
        |per AS (SELECT source, count(*)::BIGINT AS n_docs,
        |               sum(p::BIGINT)::BIGINT AS pos,
        |               sum(y::BIGINT)::BIGINT AS npos,
        |               sum((p AND y)::BIGINT)::BIGINT AS tp,
        |               sum((p AND NOT y)::BIGINT)::BIGINT AS fp
        |        FROM b GROUP BY source),
        |g AS (SELECT sum(n_docs)::BIGINT AS gn, sum(pos)::BIGINT AS gpos,
        |             sum(npos)::BIGINT AS gnpos, sum(tp)::BIGINT AS gtp,
        |             sum(fp)::BIGINT AS gfp FROM per)
        |SELECT source, n_docs,
        |  (pos * 1000000 // n_docs)::BIGINT AS sel_ppm,
        |  CASE WHEN npos > 0 THEN (tp * 1000000 // npos)::BIGINT END AS tpr_ppm,
        |  CASE WHEN n_docs > npos
        |       THEN (fp * 1000000 // (n_docs - npos))::BIGINT END AS fpr_ppm,
        |  (pos * 1000000 // n_docs - gpos * 1000000 // gn)::BIGINT AS dp_gap_ppm,
        |  CASE WHEN npos > 0
        |       THEN (tp * 1000000 // npos - gtp * 1000000 // gnpos)::BIGINT
        |  END AS tpr_gap_ppm,
        |  CASE WHEN n_docs > npos
        |       THEN (fp * 1000000 // (n_docs - npos)
        |             - gfp * 1000000 // (gn - gnpos))::BIGINT
        |  END AS fpr_gap_ppm
        |FROM per, g ORDER BY source""".stripMargin,
    // same rater CTEs as q297; α's closed form for 3 raters / 2 cats
    "q318_krippendorff" ->
      """WITH h AS (SELECT lang = 'en' AS ra,
        |                  len(list_filter(string_split(lower(text), ' '), w -> w IN ('the','a','and'))) AS en,
        |                  len(list_filter(string_split(lower(text), ' '), w -> w IN ('el','la','los'))) AS es,
        |                  len(list_filter(string_split(lower(text), ' '), w -> w IN ('der','die','und'))) AS de,
        |                  len(list_filter(string_split(lower(text), ' '), w -> w IN ('le','les','des'))) AS fr,
        |                  (length(lower(text)) - length(replace(lower(text), 'e', ''))) * 1000
        |                    >= length(text) * 75 AS rc
        |           FROM documents),
        |v AS (SELECT ra::BIGINT
        |             + (en >= es AND en >= de AND en >= fr AND en > 0)::BIGINT
        |             + rc::BIGINT AS n1 FROM h),
        |m AS (SELECT count(*)::BIGINT AS n, sum(n1 * (3 - n1))::BIGINT AS sdis,
        |             sum(n1)::BIGINT AS t_en FROM v)
        |SELECT n AS n_items, t_en, (3 * n - t_en)::BIGINT AS t_other,
        |       round(sdis::DOUBLE / (3 * n)::DOUBLE, 6) AS d_obs,
        |       round((2::HUGEINT * t_en * (3 * n - t_en))::DOUBLE /
        |             ((3 * n)::HUGEINT * (3 * n - 1))::DOUBLE, 6) AS d_exp,
        |       CASE WHEN t_en = 0 OR 3 * n - t_en = 0 THEN NULL
        |            ELSE round(1 - (sdis::HUGEINT * (3 * n - 1))::DOUBLE /
        |                 (2::HUGEINT * t_en * (3 * n - t_en))::DOUBLE, 4)
        |       END AS k_alpha
        |FROM m""".stripMargin,
    "q297_fleiss_kappa" ->
      """WITH h AS (SELECT lang = 'en' AS ra,
        |                  len(list_filter(string_split(lower(text), ' '), w -> w IN ('the','a','and'))) AS en,
        |                  len(list_filter(string_split(lower(text), ' '), w -> w IN ('el','la','los'))) AS es,
        |                  len(list_filter(string_split(lower(text), ' '), w -> w IN ('der','die','und'))) AS de,
        |                  len(list_filter(string_split(lower(text), ' '), w -> w IN ('le','les','des'))) AS fr,
        |                  (length(lower(text)) - length(replace(lower(text), 'e', ''))) * 1000
        |                    >= length(text) * 75 AS rc
        |           FROM documents),
        |v AS (SELECT ra::BIGINT
        |             + (en >= es AND en >= de AND en >= fr AND en > 0)::BIGINT
        |             + rc::BIGINT AS n1 FROM h),
        |m AS (SELECT count(*)::BIGINT AS n_items,
        |             sum(n1 * n1 + (3 - n1) * (3 - n1))::BIGINT AS s_sq,
        |             sum(n1)::BIGINT AS t_en
        |      FROM v)
        |SELECT n_items, t_en, 3 * n_items - t_en AS t_other,
        |       round((s_sq - 3 * n_items) / CAST(6 * n_items AS DOUBLE), 4) AS p_bar,
        |       round((t_en * t_en + (3 * n_items - t_en) * (3 * n_items - t_en))
        |             / CAST(9 * n_items * n_items AS DOUBLE), 4) AS p_expected,
        |       round(((s_sq - 3 * n_items) / CAST(6 * n_items AS DOUBLE)
        |               - (t_en * t_en + (3 * n_items - t_en) * (3 * n_items - t_en))
        |                 / CAST(9 * n_items * n_items AS DOUBLE))
        |             / nullif(1 - (t_en * t_en + (3 * n_items - t_en) * (3 * n_items - t_en))
        |                 / CAST(9 * n_items * n_items AS DOUBLE), 0), 4) AS fleiss_kappa
        |FROM m""".stripMargin,
    "q150_hill_tail" ->
      """WITH top AS (SELECT n_chars FROM documents
        |             ORDER BY n_chars DESC, doc_id DESC LIMIT 100)
        |SELECT count(*)::BIGINT AS k, min(n_chars) AS x_k,
        |       round(count(*) / nullif(sum(ln(n_chars)) - count(*) * ln(min(n_chars)), 0), 4)
        |         AS alpha_hill
        |FROM top""".stripMargin,
    "q23_langid" ->
      """SELECT doc_id, lang, pred_lang, pred_lang = lang AS is_match FROM (
           SELECT doc_id, lang,
             CASE WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
                  WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
                  WHEN de >= fr AND de > 0 THEN 'de'
                  WHEN fr > 0 THEN 'fr'
                  ELSE 'und' END AS pred_lang
           FROM (SELECT doc_id, lang,
                   len(list_filter(string_split(lower(text), ' '), w -> w IN ('the','a','and'))) AS en,
                   len(list_filter(string_split(lower(text), ' '), w -> w IN ('el','la','los'))) AS es,
                   len(list_filter(string_split(lower(text), ' '), w -> w IN ('der','die','und'))) AS de,
                   len(list_filter(string_split(lower(text), ' '), w -> w IN ('le','les','des'))) AS fr
                 FROM documents)) ORDER BY doc_id""",
  )
}
