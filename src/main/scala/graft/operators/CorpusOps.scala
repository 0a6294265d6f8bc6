package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-construction operators (training-data-pipeline mandate): the
  * two steps between "cleaned corpus" and "training shards" —
  * reproducible mixture sampling and token-budget shard packing.
  */
object CorpusOps extends QueryModule {

  /** The q66 fixture mixture: short source names (src0..src9) at ~50%
    * ("80"), long ones at ~25% ("40") of the uniform md5 hex space.
    */
  val DefaultMixture: Column =
    when(length(col("source")) === 4, lit("80")).otherwise(lit("40"))

  /** Deterministic hash sampling: keep a row iff
    * md5(salt|source|doc_id) < `threshold` (a per-row hex-prefix column,
    * usually a CASE over source). No RNG, no partitioning dependence —
    * the SAME sample falls out on any cluster, any retry, any engine
    * (md5 is engine-portable), which is what makes corpus mixtures
    * reproducible at 100 TB.
    */
  def hashSampled(documents: DataFrame, salt: String = "smp",
                  threshold: Column = DefaultMixture): DataFrame =
    documents.filter(
      md5(concat(lit(salt + "|"), col("source"), lit("|"), col("doc_id"))) < threshold)

  /** Per-source sampling report: exact kept counts under the mixture. */
  def sampleReport(documents: DataFrame, threshold: Column = DefaultMixture): DataFrame = {
    val kept = hashSampled(documents, threshold = threshold)
      .groupBy("source").agg(count(lit(1)).as("n_sampled"))
    documents.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy("source")
  }

  /** Pack docs (in doc_id order) into shards of ~`budgetTokens` tokens:
    * shard = the doc's START token offset div budget — a global running
    * sum. Computed with the scalable TWO-PHASE pattern instead of one
    * unpartitioned window (which drags every row to a single task):
    * range-partition by doc_id into `blocks` contiguous ranges (the
    * partition id IS the block, so sparse or hashed 64-bit ids work —
    * block count never depends on id magnitude), per-block partial sums
    * roll up to block offsets (the only global window runs over
    * `blocks` rows), then within-block running sums shift by the block
    * offset. Block boundaries never affect the result (the spec pins
    * two-phase == naive window), so the range sampler's placement
    * doesn't matter. The tokenization is materialized eagerly (one
    * [[graft.plans.Checkpoints.cut]], drained by `release`) BEFORE the
    * range partitioning — RangePartitioner's boundary-sampling pass
    * would otherwise re-evaluate the split over the whole corpus a
    * second time; after the checkpoint, the sampler and both phases read
    * 16-byte (doc_id, toks) rows. Every value is an exact integer.
    */
  def shardPacking(documents: DataFrame, budgetTokens: Long = 5000L,
                   blocks: Int = 32): DataFrame = {
    val base = graft.plans.Checkpoints.cut(documents.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("toks")))
    val toks = base.repartitionByRange(blocks, col("doc_id"))
      .withColumn("block", spark_partition_id())
    val blockOffsets = toks.groupBy("block").agg(sum(col("toks")).as("block_sum"))
      .withColumn("block_offset",
        coalesce(sum(col("block_sum")).over(
          Window.orderBy("block").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("block", "block_offset")
    val inBlock = Window.partitionBy("block").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(broadcast(blockOffsets), Seq("block"))
      .withColumn("cum", col("block_offset") + sum(col("toks")).over(inBlock))
      .withColumn("shard", expr(s"(cum - toks) div $budgetTokens"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("total_tokens"))
      .orderBy("shard")
  }

  /** Stratified sampling with EXACT per-group quotas: within each
    * stratum keep the `frac`-quantile of rows by hash order
    * (md5(salt|doc_id), doc_id tie-break) — deterministic, engine- and
    * partitioning-independent like [[hashSampled]], but the quota is
    * exact (ceil(n·frac) per group) instead of expected.
    *
    * Scale shape: the rank window sorts only narrow (group, hash, id)
    * triples — payloads are projected away before the shuffle and can
    * re-join on id afterwards. A handful of strata means a handful of
    * sort tasks; when strata are few AND huge, prefer [[hashSampled]]
    * (no sort, approximate quota) or salt the stratum into sub-ranges
    * and take per-sub-quota. Exactness costs the sort; the mixture
    * sampler is the no-sort default.
    */
  def stratifiedSample(documents: DataFrame, groupCol: String = "lang",
                       frac: Double = 0.25, salt: String = "strat"): DataFrame = {
    val narrow = documents.select(col(groupCol), col("doc_id"),
      md5(concat(lit(salt + "|"), col("doc_id"))).as("h"))
    val rankW = Window.partitionBy(groupCol).orderBy(col("h"), col("doc_id"))
    val quotaW = Window.partitionBy(groupCol)
    narrow
      .withColumn("rn", row_number().over(rankW).cast("long"))
      .withColumn("quota", ceil(count(lit(1)).over(quotaW) * lit(frac)).cast("long"))
      .filter(col("rn") <= col("quota"))
      .select(col(groupCol), col("doc_id"), col("rn"))
      .orderBy(groupCol, "doc_id")
  }

  /** q273: FILL-IN-THE-MIDDLE transform plan (the FIM pretraining prep:
    * Bavarian et al. 2022 split each doc into prefix/middle/suffix and
    * train on [pre; suf; mid]). The split points are a pure function of
    * doc_id through the md5-uniform convention (two independent salts):
    * i = h₁ mod (n+1), j = i + h₂ mod (n−i+1) over n whitespace tokens,
    * so the plan is reproducible on any engine and any partitioning —
    * the property that lets a 100 TB transform resume mid-job and lets
    * train/eval teams agree on the exact split without shipping data.
    * Per-source report: token mass in each of the three spans, empty-
    * middle count, and the middle fraction in ppm — integers end-to-end.
    */
  def fimSplitPlan(documents: DataFrame): DataFrame = {
    def h(salt: String) =
      conv(substring(md5(concat(lit(salt + "|"), col("doc_id"))), 1, 15), 16, 10)
        .cast("long")
    documents.select(col("source"),
        expr("cast(size(split(text, ' ')) as bigint)").as("n"),
        h("fimA").as("h1"), h("fimB").as("h2"))
      .withColumn("i", expr("h1 % (n + 1)"))
      .withColumn("j", expr("i + (h2 % (n - i + 1))"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n").as("total_tokens"),
        sum("i").as("prefix_tokens"),
        sum(expr("j - i")).as("middle_tokens"),
        sum(expr("n - j")).as("suffix_tokens"),
        sum(when(expr("j = i"), 1L).otherwise(0L)).as("n_empty_middle"))
      .withColumn("middle_ppm",
        expr("middle_tokens * 1000000 div greatest(total_tokens, 1)"))
      .orderBy("source")
  }

  /** q188: weighted sampling without replacement (Efraimidis–Spirakis
    * A-ES): per row draw u from the md5-uniform convention (q66/q172)
    * and keep the per-source top-k by key u^(1/w), w = n_chars — long
    * documents are proportionally likelier, but every doc can win.
    * The key is compared in log space quantized to integer nano-units
    * (floor(ln(u)/w·10⁹)) with doc_id tie-break, so selection is
    * deterministic on any partitioning. Caveat vs the module's usual
    * integer-before-compare convention: the quantization happens AFTER
    * a transcendental, so cross-ENGINE determinism additionally relies
    * on both libms rounding ln() the same way at every floor boundary —
    * ln is not correctly-rounded by IEEE, so a row whose key lands
    * within 1 ulp of an integer nano-unit boundary could in principle
    * rank differently on another engine. JVM StrictMath (fdlibm) and
    * DuckDB's libm agree on every fixture row across 3 SFs; a strictly
    * engine-proof variant would compare w-scaled logs by rational
    * cross-multiplication on the integer h directly.
    *
    * Scale shape: like [[stratifiedSample]], the rank window sorts only
    * narrow (source, key, id) triples — per-source top-k, never a
    * global sort; payloads rejoin by id downstream.
    */
  def weightedSample(documents: DataFrame, k: Int = 5,
                     salt: String = "aes"): DataFrame = {
    // h: 15 hex digits → 60-bit integer; u = (h + 0.5) / 2^60 ∈ (0,1)
    val h = conv(substring(md5(concat(lit(salt + "|"), col("doc_id"))), 1, 15), 16, 10)
      .cast("long")
    val narrow = documents.select(col("source"), col("doc_id"),
      col("n_chars").as("w"), h.as("h"))
      .withColumn("key_q",
        floor(log((col("h").cast("double") + 0.5) / lit(math.pow(2, 60))) /
          col("w") * 1e9).cast("long"))
    val rankW = Window.partitionBy("source")
      .orderBy(col("key_q").desc, col("doc_id"))
    narrow.withColumn("rn", row_number().over(rankW).cast("long"))
      .filter(col("rn") <= k)
      .select(col("source"), col("doc_id"), col("w"), col("rn"))
      .orderBy("source", "rn")
  }

  /** Temperature-scaled mixture weights per source (the GPT-3/PaLM
    * corpus-mix recipe: weight ∝ n_tokens^α with α < 1, upweighting
    * small high-quality sources): one map-side-combined aggregation to
    * source granularity, then the normalizer over the handful of source
    * rows — the single unpartitioned window runs over `n_sources` rows,
    * never over documents (the q67 two-phase argument applied where the
    * key space is already tiny).
    */
  def mixtureWeights(documents: DataFrame, alpha: Double = 0.5): DataFrame = {
    val bySource = documents.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    // α = ½ goes through IEEE-exact sqrt (correctly rounded on every
    // engine, unlike pow's 1-ulp license) — the determinism-friendly
    // default; other temperatures take the pow path
    val raw =
      if (alpha == 0.5) sqrt(col("n_tokens").cast("double"))
      else pow(col("n_tokens").cast("double"), lit(alpha))
    // the normalizer folds over the SORTED raw weights (one bounded
    // collect over source rows), not an unordered window sum — a
    // cross-row double sum is the one place engine-specific row order
    // could leak into the rounded output
    val norm = bySource.agg(aggregate(array_sort(collect_list(raw)),
      lit(0.0), (acc, x) => acc + x).as("norm"))
    bySource
      .crossJoin(broadcast(norm))
      .withColumn("weight", round(raw / col("norm"), 6))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"))
      .orderBy("source")
  }

  /** q133: per-source length-distribution drift — the two-sample
    * Kolmogorov–Smirnov statistic between each source's `n_chars`
    * distribution and the whole corpus: D = max over values of
    * |ECDF_source − ECDF_corpus|. THE distribution-level drift alarm: a
    * source whose KS-D jumps release-over-release changed its content
    * shape even if its mean (q85) held still.
    *
    * Determinism: the ECDF difference is compared CROSS-MULTIPLIED —
    * D's numerator max|cum_s·n_c − cum_c·n_s| is a max over exact
    * integer products (fits int64 through ~10⁹ docs/source; beyond
    * that, scale ECDFs to ppm integers first) and the statistic is one
    * closing division.
    *
    * Scale shape: one (source, value) map-side-combined count; the
    * ECDF grid is |sources| × |distinct values| (value domain bounded
    * by max document length, NOT corpus size), windowed per source.
    */
  def lengthDriftKs(documents: DataFrame): DataFrame = {
    val counts = documents.groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val values = counts.select("v").distinct()
    val sources = documents.groupBy("source").agg(count(lit(1)).as("n_s"))
    val corpusByV = documents.groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("cc"))
    val nTotal = documents.agg(count(lit(1)).as("n_c"))
    val grid = sources.crossJoin(values)
      .join(counts, Seq("source", "v"), "left").na.fill(0L, Seq("c"))
      .join(broadcast(corpusByV), "v")
    val w = Window.partitionBy("source").orderBy("v")
    grid
      .withColumn("cum_s", sum(col("c")).over(w))
      .withColumn("cum_c", sum(col("cc")).over(w))
      .crossJoin(broadcast(nTotal))
      .groupBy("source")
      .agg(max(col("n_s")).as("n_s"), max(col("n_c")).as("n_c"),
        max(abs(col("cum_s") * col("n_c") - col("cum_c") * col("n_s"))).as("d_num"))
      .select(col("source"), col("n_s"), col("d_num"),
        round(col("d_num") / (col("n_s") * col("n_c")).cast("double"), 4).as("ks_d"))
      .orderBy("source")
  }

  /** q299: per-source Wasserstein-1 (earth-mover) length drift — the
    * L1 companion to q133's KS sup-norm: W1 = ∫|F_s − F_corpus| dx,
    * i.e. the cumulative-gap integral WEIGHTED by the value gap, so a
    * source whose lengths shifted uniformly by Δ scores ≈ Δ where KS
    * saturates at the overlap mass. The pair (KS, W1) separates
    * "shape changed" from "location moved" — the standard two-alarm
    * drift panel before retraining a mixture.
    *
    * Exactness: on a 1-D merged grid the EMD is EXACT — no binning, no
    * Sinkhorn. The integrand is the cross-multiplied integer
    * |cum_s·N − cum_c·n_s| (the q133 numerator) times the integer gap
    * to the next grid value; products ride decimal(38,0) ↔ HUGEINT
    * (the q199 convention — corpus-scale counts times char-scale gaps
    * overflow int64 at ~10⁹ docs), one closing division.
    *
    * Scale shape: identical to q133 — one map-side-combined
    * (source, value) count, then every op runs on the
    * |sources| × |distinct lengths| grid (bounded by the length domain,
    * not the corpus); the corpus-side CDF and totals broadcast.
    */
  def lengthDriftW1(documents: DataFrame): DataFrame = {
    val counts = documents.groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val values = counts.select("v").distinct()
    val sources = documents.groupBy("source").agg(count(lit(1)).as("n_s"))
    val corpusByV = documents.groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("cc"))
    val nTotal = documents.agg(count(lit(1)).as("n_c"))
    val grid = sources.crossJoin(values)
      .join(counts, Seq("source", "v"), "left").na.fill(0L, Seq("c"))
      .join(broadcast(corpusByV), "v")
    val w = Window.partitionBy("source").orderBy("v")
    grid
      .withColumn("cum_s", sum(col("c")).over(w))
      .withColumn("cum_c", sum(col("cc")).over(w))
      .withColumn("dx", coalesce(lead(col("v"), 1).over(w) - col("v"), lit(0L)))
      .crossJoin(broadcast(nTotal))
      .groupBy("source")
      .agg(max(col("n_s")).as("n_s"),
        max(abs(col("cum_s") * col("n_c") - col("cum_c") * col("n_s"))).as("ks_num"),
        sum(abs(col("cum_s") * col("n_c") - col("cum_c") * col("n_s"))
          .cast("decimal(38,0)") * col("dx")).as("w1_num"),
        max(col("n_c")).as("n_c"))
      .select(col("source"), col("n_s"),
        round(col("w1_num").cast("double") / (col("n_s") * col("n_c")).cast("double"), 4)
          .as("w1_chars"),
        round(col("ks_num") / (col("n_s") * col("n_c")).cast("double"), 4).as("ks_d"))
      .orderBy("source")
  }

  /** q128: training-mix epoch plan — turn the q82 temperature weights
    * plus a total token budget into per-source token assignments,
    * epoch counts (assigned / available), and an over-cap flag where
    * the mix would repeat a source past `maxEpochs` (the data-repetition
    * ceiling every mixture designer enforces; capped sources need their
    * surplus re-spread or accepted as a smaller effective budget).
    *
    * Determinism: downstream arithmetic starts from the ROUNDED q82
    * weight (6 dp on both engines); assignment is floor(B·w + ½), the
    * epoch ratio is one division rounded 4, and the cap flag compares
    * the rounded ratio. Scale shape: everything after the q82 rollup
    * runs on the sources-sized table.
    */
  def epochPlan(documents: DataFrame, budget: Long = 10000000L,
                maxEpochs: Double = 4.0): DataFrame =
    mixtureWeights(documents)
      .withColumn("tokens_assigned",
        floor(lit(budget) * col("weight") + 0.5).cast("long"))
      .withColumn("epochs",
        round(col("tokens_assigned") / col("n_tokens").cast("double"), 4))
      .withColumn("over_cap", col("epochs") > maxEpochs)
      .withColumn("effective_tokens",
        least(col("tokens_assigned"), floor(col("n_tokens") * lit(maxEpochs)).cast("long")))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        col("tokens_assigned"), col("epochs"), col("over_cap"), col("effective_tokens"))
      .orderBy("source")

  /** Fixed-window chunking with overlap (the context-window packer /
    * RAG chunker): token windows of `window` words starting every
    * `stride` words, last window clamped to the tail. Chunk count is
    * exact integer arithmetic (1 + ceil((n-window)/stride) for
    * n > window, else 1), the explode is a generator (no shuffle), and
    * every chunk is a bounded slice — per-row narrow work at any scale.
    */
  def chunkWithOverlap(documents: DataFrame, window: Int = 32,
                       stride: Int = 24): DataFrame = {
    require(stride > 0 && window >= stride, "need stride > 0 and window >= stride")
    val nChunks = when(col("n") <= window, lit(1L))
      .otherwise(lit(1L) + expr(s"(n - $window + $stride - 1) div $stride"))
    documents
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .withColumn("n", size(col("ts")).cast("long"))
      .select(col("doc_id"), col("ts"), col("n"),
        posexplode(sequence(lit(0L), nChunks - 1)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        array_join(slice(col("ts"), (col("pos") * stride + 1).cast("int"), lit(window)), " ")
          .as("chunk_text"),
        size(slice(col("ts"), (col("pos") * stride + 1).cast("int"), lit(window)))
          .cast("long").as("n_chunk_tokens"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** q89: per-source document caps — the crawl-curation "domain cap"
    * (no single domain may dominate the corpus; CommonCrawl pipelines
    * cap per registered domain). Keeps the top-`cap` docs per source by
    * (n_chars DESC, doc_id) — a quality-greedy cap, vs
    * [[stratifiedSample]]'s fraction quota.
    *
    * Scale shape: rank window over narrow (source, doc_id, n_chars)
    * triples; the `row_number <= cap` filter compiles to
    * WindowGroupLimit, so each map task keeps only `cap` rows per
    * source before the shuffle — a hot domain never materializes its
    * full posting in one task's sort buffer.
    */
  def perSourceCap(documents: DataFrame, cap: Int = 10): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id"))
    documents.select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= cap)
      .orderBy("source", "rk")
  }

  /** q93: quality-quartile corpus profile — the curriculum /
    * quality-bucketing step (train on high buckets first, or mix
    * buckets with different weights). Scale-safe shape: instead of a
    * global ntile window (which drags every row through ONE sort
    * task), compute the three quartile cut points in one aggregation,
    * BROADCAST them, and assign buckets by comparison — two passes,
    * no global sort, unchanged at 1000 executors. Cuts are rounded to
    * 4 before comparison (the q85 contract: Spark's exact `percentile`
    * and DuckDB's quantile_cont interpolate identically up to ulps,
    * and rounding absorbs the ulps); per-bucket stats are min/max and
    * an integer-sum average, all order-free.
    */
  def qualityQuartiles(documents: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("long")
    val stops = size(filter(toks, w => w === "the" || w === "a"))
    val quality = round(
      (lit(1.0) - stops / nTok.cast("double")) * log(lit(1.0) + col("n_chars")), 4)
    val scored = documents.select(col("doc_id"), col("n_chars"), quality.as("quality"))
    val cuts = scored.agg(expr("percentile(quality, array(0.25D, 0.5D, 0.75D))").as("c"))
      .select(round(element_at(col("c"), 1), 4).as("p25"),
        round(element_at(col("c"), 2), 4).as("p50"),
        round(element_at(col("c"), 3), 4).as("p75"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("quality") <= col("p25"), 1L)
          .when(col("quality") <= col("p50"), 2L)
          .when(col("quality") <= col("p75"), 3L)
          .otherwise(4L))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("quality")).as("min_quality"),
        max(col("quality")).as("max_quality"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
      .orderBy("bucket")
  }

  /** q117: cross-source shingle-overlap matrix — per source pair, the
    * Jaccard similarity of their distinct 3-gram shingle sets. The
    * provenance/contamination audit: a pair whose overlap spikes is
    * mirrored crawling, syndication, or template reuse, and it tells
    * the near-dup pipeline (q58/q92) where to look first.
    *
    * Scale shape: one distinct over (source, shingle), then an
    * equi-join on the shingle key — pair fan-out per shingle is
    * bounded by the number of SOURCES sharing it (≤ |sources|², never
    * corpus-sized), and the set sizes broadcast back. Pairs sharing
    * zero shingles are absent from the output by construction.
    */
  def sourceOverlapMatrix(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, size => asize, split => ssplit}
    val sh = documents.filter(asize(ssplit(col("text"), " ")) >= 3)
      .select(col("source"),
        explode(graft.functions.ShingleSet.shingleSet(col("text"), 3)).as("sh"))
      .distinct()
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
    sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n_sh").as("n_a"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n_sh").as("n_b"))), "source_b")
      .withColumn("jaccard", round(col("n_shared") /
        (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 4))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"), col("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** q119: quasi-identifier uniqueness (k-anonymity audit) — bucket
    * every document by its quasi-identifier tuple (lang, source,
    * length decile band) and report, per lang, how many documents sit
    * in buckets of size < k. A corpus slice full of k<2 buckets is
    * re-identifiable metadata — the privacy-side curation gate next to
    * the PII scrub (q74): scrubbing the text is moot if the metadata
    * fingerprint is unique.
    *
    * Scale shape: two map-side-combined groupBys (tuple counts →
    * per-lang rollup); the length band is integer division, so bucket
    * keys are stable across engines.
    */
  def quasiIdentifierAudit(documents: DataFrame, k: Int = 2): DataFrame = {
    val buckets = documents
      .select(col("lang"), col("source"), expr("n_chars div 100").as("len_band"))
      .groupBy("lang", "source", "len_band")
      .agg(count(lit(1)).as("bucket_n"))
    buckets.groupBy("lang")
      .agg(sum(col("bucket_n")).as("n_docs"),
        count(lit(1)).as("n_buckets"),
        coalesce(sum(when(col("bucket_n") < k, col("bucket_n"))), lit(0L)).as("n_risky_docs"),
        coalesce(sum(when(col("bucket_n") < k, 1L)), lit(0L)).as("n_risky_buckets"))
      .withColumn("risky_frac", round(col("n_risky_docs") / col("n_docs").cast("double"), 4))
      .orderBy("lang")
  }

  /** q151: source concentration — HHI (Σ share², the antitrust metric
    * repurposed for corpus mixing: 1/HHI is the "effective number of
    * sources") and the Gini coefficient over per-source doc counts,
    * plus the top-1 share. A mixture whose HHI drifts up is quietly
    * becoming one source's corpus — the alarm wired to q82's weights.
    *
    * Determinism: counts are exact integers; Gini uses the discrete
    * formula 2·Σ(i·cᵢ)/(n·N) − (n+1)/n over the ASCENDING (count,
    * source)-sorted counts, ties broken by name. The window runs on the
    * post-aggregation sources-sized frame (20 rows), not the corpus —
    * the single-partition window is bounded by source cardinality.
    */
  def sourceConcentration(documents: DataFrame): DataFrame = {
    val counts = documents.groupBy("source").agg(count(lit(1)).as("c"))
    val ranked = counts.select(col("source"), col("c"),
      row_number().over(Window.orderBy(col("c"), col("source"))).as("i"))
    ranked.agg(
        count(lit(1)).as("n_sources"), sum("c").as("n_docs"),
        sum(expr("c * c")).as("s2"), sum(expr("i * c")).as("sic"),
        max("c").as("cmax"))
      .select(col("n_sources"), col("n_docs"),
        round(col("s2").cast("double") / (col("n_docs") * col("n_docs")), 4).as("hhi"),
        round(lit(2.0) * col("sic") / (col("n_sources") * col("n_docs"))
          - (col("n_sources") + 1).cast("double") / col("n_sources"), 4).as("gini"),
        round(col("cmax").cast("double") / col("n_docs"), 4).as("top1_share"))
  }

  /** q152: m-out-of-n bootstrap CI for the corpus mean length — `reps`
    * deterministic half-samples (replicate r keeps a doc iff
    * md5(r|doc_id) < '8', the q66 sampler shape salted by replicate),
    * each yielding an exact-integer-sum mean; the CI is the 5th/95th
    * percentile of the replicate means, selected by rank (no engine
    * percentile function, no interpolation ambiguity).
    *
    * Scale shape: the explode is a R× map-side row multiplier that
    * immediately collapses into R partial sums per partition (map-side
    * combine) — the shuffle carries R rows per partition, not R× the
    * corpus. R is the cost/precision knob. The rank selection runs on
    * an R-row frame.
    */
  def bootstrapMeanCI(documents: DataFrame, reps: Int = 48): DataFrame = {
    val means = documents
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(0), lit(reps - 1))).as("rep"))
      .filter(md5(concat(col("rep").cast("string"), lit("|"), col("doc_id"))) < "8")
      .groupBy("rep").agg(sum("n_chars").as("s"), count(lit(1)).as("m"))
      .select(col("rep"), (col("s") / col("m")).as("mean"))
    val ranked = means.select(col("mean"),
      row_number().over(Window.orderBy(col("mean"), col("rep"))).as("i"))
    val lo = math.max(1, math.ceil(0.05 * reps).toInt)
    val hi = math.ceil(0.95 * reps).toInt
    documents.agg(count(lit(1)).as("n_docs"),
        (sum("n_chars") / count(lit(1))).as("point"))
      .crossJoin(broadcast(ranked.filter(col("i") === lo).select(col("mean").as("ci_lo"))))
      .crossJoin(broadcast(ranked.filter(col("i") === hi).select(col("mean").as("ci_hi"))))
      .select(col("n_docs"), round(col("point"), 4).as("mean_nchars"),
        round(col("ci_lo"), 4).as("ci_lo"), round(col("ci_hi"), 4).as("ci_hi"))
  }

  /** q164: l-diversity audit — the second privacy gate after q119's
    * k-anonymity. k-anonymity only says a quasi-identifier bucket is
    * big; if every event in the bucket belongs to the SAME user, the
    * bucket still identifies them. Here events are bucketed by the QI
    * tuple (event_type, value band, day-of-week) and each bucket
    * reports its distinct-sensitive-value count (user_id); buckets
    * with fewer than `l` distinct users fail. Bands are integer floor
    * division and epoch-day mod — engine-stable keys, q119/q147
    * conventions.
    *
    * Scale shape: one groupBy on the QI tuple with a distinct-count —
    * at 100 TB that is a two-phase partial aggregate on (QI, user)
    * then (QI); output is bounded by the QI cross-product, never the
    * event count.
    */
  def lDiversityAudit(events: DataFrame, l: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions.{datediff => dd}
    events
      .select(col("event_type"),
        expr("CAST(floor(value / 50.0) AS INT)").as("band"),
        (dd(col("ts").cast("date"), lit("1970-01-01").cast("date")) % 7).as("dow"),
        col("user_id"))
      .groupBy("event_type", "band", "dow")
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .withColumn("l_ok", col("n_users") >= l)
      .orderBy("event_type", "band", "dow")
  }

  /** q218: WATER-FILLING token-budget allocation — the fair-share
    * answer to "we can afford B training tokens; how many from each
    * source?": find the unique cap C with Σ_s min(tokens_s, C) ≤ B
    * (maximal), so small sources keep everything and the budget not
    * consumed by them is split evenly among the big ones. This is the
    * allocation DoReMi-style mixing starts from before reweighting.
    *
    * Exact integer derivation: sources sorted ascending by (scaled)
    * token mass; for each boundary k, the candidate cap is
    * (B − prefix_{k−1}) div (S−k+1), valid iff it lands in
    * [t_{k−1}, t_k) — a window + filter on the SOURCE-sized frame, all
    * floor divisions on non-negative operands (negative candidates are
    * filtered by the validity test before engine div semantics could
    * diverge). The corpus collapses to one (source, Σtokens) row per
    * source in a single map-side-combined pass; everything downstream
    * is bounded by #sources.
    *
    * The synthetic sources are near-uniform, so the water level is made
    * real by scaling each source's mass by (1 + its numeric suffix) —
    * in-plan corpus synthesis, the q76 precedent.
    */
  def tokenBudgetAllocation(documents: DataFrame, num: Long = 3, den: Long = 5): DataFrame = {
    val cells = documents
      .select(col("source"), size(split(lower(col("text")), " ")).cast("long").as("tok"))
      .groupBy("source").agg(sum("tok").as("raw"))
      .withColumn("t",
        expr("raw * (1 + cast(regexp_extract(source, '([0-9]+)$', 1) as bigint))"))
      .select("source", "t")
    val w = Window.orderBy(col("t"), col("source"))
    val ordered = cells
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("pexc",
        coalesce(sum("t").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("tprev", lag(col("t"), 1).over(w))
    val tot = cells.agg(count(lit(1)).as("s_cnt"), sum("t").as("t_total"))
      .withColumn("budget", expr(s"(t_total * $num) div $den"))
    val cap = ordered.crossJoin(broadcast(tot))
      .withColumn("c", expr("(budget - pexc) div (s_cnt - k + 1)"))
      .filter(col("c") < col("t") && (col("tprev").isNull || col("tprev") <= col("c")))
      .orderBy("k").limit(1)
      .select(col("c").as("cap"))
    cells.crossJoin(broadcast(cap))
      .select(col("source"), col("t").as("tokens_available"),
        least(col("t"), col("cap")).as("tokens_allocated"),
        (col("t") <= col("cap")).as("fully_funded"),
        col("cap"))
      .orderBy("source")
  }

  /** q241: THREE-WAY SPLIT MANIFEST — the deterministic train/val/test
    * assignment a release pipeline publishes alongside the data: each
    * doc hashes to test (first md5 hex digit 0, 1/16), val (digit 1,
    * 1/16) or train (rest), independent of partitioning, row order, and
    * engine; the manifest reports per-source counts and the realized
    * test share in ppm so ratio drift in any source is visible at a
    * glance. Complements q141/q242 (what LEAKS across the boundary) —
    * this is the boundary itself.
    *
    * Scale: one projection + one groupBy(source); the split column is a
    * pure hash of the id, so any later stage (or engine) re-derives
    * membership without a manifest join.
    */
  def splitManifest(documents: DataFrame): DataFrame =
    documents.select(col("source"),
        md5(concat(lit("3way|"), col("doc_id"))).as("h"))
      .select(col("source"),
        when(col("h") < "1", "test").when(col("h") < "2", "val")
          .otherwise("train").as("split"))
      .groupBy("source").agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"),
        count(lit(1)).as("n_docs"))
      .withColumn("test_share_ppm", expr("n_test * 1000000 div n_docs"))
      .orderBy("source")

  /** q251: DATASET CARD — the one-page datasheet a published corpus
    * ships with (Gebru et al.'s datasheets, reduced to the numeric
    * rows): corpus size, source/language breadth, token totals and
    * type count, exact-duplicate volume, and the length distribution's
    * median (exact order statistic via the value histogram — no corpus
    * sort) and max. One (stat, value) row each, every value an exact
    * integer.
    *
    * Scale: three corpus passes (scalar aggregate; token explode for
    * type count; fingerprint groupBy for dup volume) + the n_chars
    * histogram window, which runs over distinct lengths, not docs.
    */
  def datasetCard(documents: DataFrame): DataFrame = {
    val base = documents.agg(
      count(lit(1)).as("n_docs"),
      countDistinct("source").as("n_sources"),
      countDistinct("lang").as("n_langs"),
      sum("n_chars").as("total_chars"),
      sum(size(split(col("text"), " ")).cast("long")).as("total_tokens"),
      max("n_chars").as("max_chars"))
    val types = documents.select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "").agg(countDistinct("w").as("v"))
    val dups = documents.select(Dedup.fingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .agg(coalesce(sum("n"), lit(0L)).as("n_dup_docs"))
    val med = documents.groupBy("n_chars").agg(count(lit(1)).as("nc"))
      .withColumn("cum", sum("nc").over(Window.orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(documents.agg(count(lit(1)).as("tot"))))
      .filter(col("cum") >= expr("(tot + 1) div 2"))
      .agg(min("n_chars").as("median_chars"))
    val arms = Seq(
      base.select(lit("n_docs").as("stat"), col("n_docs").as("value")),
      base.select(lit("n_sources").as("stat"), col("n_sources").as("value")),
      base.select(lit("n_langs").as("stat"), col("n_langs").as("value")),
      base.select(lit("total_chars").as("stat"), col("total_chars").as("value")),
      base.select(lit("total_tokens").as("stat"), col("total_tokens").as("value")),
      base.select(lit("max_chars").as("stat"), col("max_chars").as("value")),
      types.select(lit("distinct_tokens").as("stat"), col("v").as("value")),
      dups.select(lit("n_exact_dup_docs").as("stat"), col("n_dup_docs").as("value")),
      med.select(lit("median_chars").as("stat"), col("median_chars").as("value")))
    arms.reduce(_.unionByName(_)).orderBy("stat")
  }

  /** q298: local-DP frequency estimation by generalized randomized
    * response (k-RR: Warner 1965; Kairouz et al. 2016) over the
    * `source` attribute: each row reports its TRUE source with
    * probability p = 3/4, otherwise one of the other k−1 sources
    * uniformly — the per-row privatization a pipeline applies before
    * sensitive attributes ever leave the collection site. The
    * aggregate then INVERTS the noise: with q = (1−p)/(k−1) the
    * unbiased estimate of a true count is (f − n·q)/(p − q), which at
    * p = 3/4 reduces to the EXACT rational (4(k−1)·f − n)/(3k − 4) —
    * integers until the single final division. The privacy budget is
    * ε = ln(p/q) = ln(3(k−1)), reported alongside.
    *
    * Both coin flips ride the md5-uniform convention (q66/q172): keep
    * = h mod 10⁶ < 750000, replacement = (h div 10⁶) mod (k−1) with
    * the ≥-shift that skips the true index — reproducible on any
    * engine/partitioning, so the SAME privatized table can be
    * re-derived for audit (the n_true column here plays that role).
    *
    * Scale shape: the category dim (k rows) broadcasts; the corpus
    * pass is one narrow projection + one count aggregate keyed by the
    * k-valued reported index — no shuffle wider than k.
    */
  def rrFrequency(documents: DataFrame, salt: String = "rr"): DataFrame = {
    val cats = documents.select("source").distinct()
      .withColumn("idx",
        (row_number().over(Window.orderBy("source")) - 1).cast("long"))
    val kdf = cats.agg(count(lit(1)).cast("long").as("k"))
    val h = conv(substring(md5(concat(lit(salt + "|"), col("doc_id"))), 1, 15), 16, 10)
      .cast("long")
    val reported = documents.select(col("source"), h.as("h"))
      .join(broadcast(cats), "source")
      .crossJoin(broadcast(kdf))
      .withColumn("rep_raw", expr("(h div 1000000) % (k - 1)"))
      .withColumn("reported_idx",
        when(expr("h % 1000000 < 750000"), col("idx"))
          .otherwise(when(col("rep_raw") >= col("idx"), col("rep_raw") + 1L)
            .otherwise(col("rep_raw"))))
      .groupBy("reported_idx").agg(count(lit(1)).as("n_reported"))
    val truth = documents.groupBy("source").agg(count(lit(1)).as("n_true"))
    val n = documents.agg(count(lit(1)).as("n"))
    cats.join(truth, Seq("source"), "left")
      .join(reported, cats("idx") === reported("reported_idx"), "left")
      .crossJoin(broadcast(kdf))
      .crossJoin(broadcast(n))
      .select(col("source"), coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_reported"), lit(0L)).as("n_reported"),
        col("k"), col("n"))
      .select(col("source"), col("n_true"), col("n_reported"),
        round(expr("cast(4 * (k - 1) * n_reported - n as double) / (3 * k - 4)"), 2)
          .as("est_true"),
        round(log(expr("cast(3 * (k - 1) as double)")), 4).as("epsilon"))
      .orderBy("source")
  }

  /** q313: largest-remainder (Hamilton) apportionment of a training
    * budget across sources — the EXACT-TOTAL complement to q128's
    * rounded epoch plan: floor(B·w+½) per source can miss the budget
    * by up to |sources|/2 slots, while Hamilton's method (floor shares,
    * then +1 to the largest fractional remainders until the deficit is
    * spent) is guaranteed to sum to exactly B — the property a
    * shard-packing stage downstream actually requires.
    *
    * Everything is integer: share = B·tokᵢ, base = share div T,
    * remainder = share mod T, and the bonus ranking orders exact
    * remainders (tie → source name). Products ride decimal(38,0) ↔
    * HUGEINT (B·corpus-token-counts overflow int64 at ~10⁹-token
    * sources). One corpus pass; the apportionment runs on the
    * |sources| frame.
    */
  def hamiltonApportionment(documents: DataFrame, budget: Long = 100000L): DataFrame = {
    val tok = documents
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy("source").agg(sum("t").as("n_tokens"))
    val tot = tok.agg(sum("n_tokens").as("tt"))
    val shares = tok.crossJoin(broadcast(tot))
      .withColumn("share", expr(s"cast($budget as decimal(38,0)) * n_tokens"))
      .withColumn("base", expr("cast(share div tt as bigint)"))
      .withColumn("rem", expr("cast(share % tt as bigint)"))
    val deficit = shares.agg((lit(budget) - sum("base")).as("deficit"))
    val w = Window.orderBy(col("rem").desc, col("source"))
    shares.crossJoin(broadcast(deficit))
      .withColumn("bonus_rank", row_number().over(w))
      .withColumn("got_extra", col("bonus_rank") <= col("deficit"))
      .select(col("source"), col("n_tokens"), col("base"), col("rem"),
        col("got_extra"),
        (col("base") + when(col("got_extra"), 1L).otherwise(0L)).as("alloc"))
      .orderBy("source")
  }

  /** q324: GREEDY MAX-COVERAGE source selection — "which K sources
    * should we license/ingest to cover the most vocabulary?" This is
    * submodular maximization, where greedy is provably within (1−1/e)
    * of optimal (Nemhauser et al. 1978) and exact optimization is
    * NP-hard — the data-ACQUISITION planner that complements q323's
    * data-RETENTION valuation: q323 prices what we have, this picks
    * what to add next. Each round picks the source with the most
    * not-yet-covered distinct shingles (count desc, source asc — both
    * integer-deterministic) and removes its tokens from every
    * remaining source's count.
    *
    * Scale: the corpus collapses once to the distinct (source, token)
    * frame; each of the K rounds is one map-side-combined count + two
    * hash anti-joins on that shrinking frame (lineage-cut per round so
    * round r doesn't replan rounds 1..r−1). Nothing corpus-sized ever
    * recomputes, and K is small by construction.
    */
  def maxCoverageSources(documents: DataFrame, k: Int = 3): DataFrame = {
    // coverage unit = character 3-gram shingles (the q91/q113 slice
    // form): the fixtures' whitespace vocabulary is degenerately tiny
    // and shared, while shingles vary by source — and at corpus scale
    // shingles are the unit decontamination/dedup actually key on
    val st = graft.plans.Checkpoints.cut(
      graft.plans.Scans.fanOut(documents).filter(length(col("text")) >= 3)
        .select(col("source"), lower(col("text")).as("t"))
        .select(col("source"), explode(expr(
          "transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))")).as("w"))
        .distinct())
    var remaining = st
    var picks = Seq.empty[DataFrame]
    for (r <- 1 to k) {
      val counts = remaining.groupBy("source").agg(count(lit(1)).as("new_tokens"))
      val pick = graft.plans.Checkpoints.cut(
        counts.orderBy(col("new_tokens").desc, col("source")).limit(1))
      picks = picks :+ pick.select(lit(r).as("round"), col("source"), col("new_tokens"))
      val coveredTokens = remaining
        .join(pick.select("source"), Seq("source"), "left_semi").select("w")
      remaining = graft.plans.Checkpoints.cut(
        remaining.join(pick.select("source"), Seq("source"), "left_anti")
          .join(coveredTokens, Seq("w"), "left_anti"))
    }
    picks.reduce(_ unionAll _)
      .withColumn("cum_tokens", sum("new_tokens").over(
        org.apache.spark.sql.expressions.Window.orderBy("round")))
      .orderBy("round")
  }

  /** q331: NEYMAN ALLOCATION — the statistically optimal way to split a
    * fixed sampling budget across strata (Neyman 1934): n_h ∝ N_h·σ_h,
    * so big AND internally-varied sources get the samples, while large
    *-but-uniform feeds (template spam) are cheap to summarize. This is
    * the principled upgrade of q71's proportional stratified sample —
    * same stratification, better variance per sample — and the exact-
    * total integer allocation reuses q313's Hamilton largest-remainder
    * device so Σ n_h ≡ budget exactly.
    *
    * Determinism: per-stratum variance comes from integer moment sums
    * (Σx, Σx² in decimal(38,0) ↔ HUGEINT); the weight N_h·σ_h floor-
    * quantizes to micro-units (ONE √ per stratum — the documented libm
    * residual), after which base shares, remainders, and the top-up
    * ranking are pure integer arithmetic with a (remainder desc,
    * source) total order. Scale: one map-combined moment pass →
    * strata-sized frame; everything after is bounded.
    */
  def neymanAllocation(documents: DataFrame, budget: Long = 1000L): DataFrame = {
    val m = documents.groupBy("source").agg(
        count(lit(1)).as("nh"),
        sum(expr("cast(n_chars as decimal(38,0))")).as("s1"),
        sum(expr("cast(n_chars as decimal(38,0)) * n_chars")).as("s2"))
      .filter(col("nh") > 1)
      .withColumn("sd", sqrt(
        (col("nh") * col("s2") - col("s1") * col("s1")).cast("double") /
          (col("nh") * (col("nh") - 1)).cast("double")))
      .withColumn("w_micro", floor(col("nh").cast("double") * col("sd") * 1e6).cast("long"))
    val tot = m.agg(sum("w_micro").as("wt"))
    val based = m.crossJoin(broadcast(tot))
      // wt = 0 (every surviving stratum flat) would divide by zero in
      // the oracle's // while Spark's div returns null — guard BOTH
      // engines so the degenerate fixture yields the same null allocs
      .withColumn("base", expr(s"case when wt > 0 then ($budget * w_micro) div wt end"))
      .withColumn("rem", expr(s"case when wt > 0 then ($budget * w_micro) % wt end"))
    val spill = based.agg((lit(budget) - sum("base")).as("k"))
    based.crossJoin(broadcast(spill))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rem").desc, col("source"))).cast("long"))
      .select(col("source"), col("nh").as("n_docs"), round(col("sd"), 4).as("sd"),
        (col("base") + when(col("rk") <= col("k"), 1L).otherwise(0L)).as("alloc"))
      .orderBy("source")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q331_neyman_alloc" -> ((s, d) => neymanAllocation(Tables(s, d).documents)),
    "q324_max_coverage" -> ((s, d) => maxCoverageSources(Tables(s, d).documents)),
    "q313_apportionment" -> ((s, d) => hamiltonApportionment(Tables(s, d).documents)),
    "q298_rr_frequency" -> ((s, d) => rrFrequency(Tables(s, d).documents)),
    "q299_length_w1" -> ((s, d) => lengthDriftW1(Tables(s, d).documents)),
    "q251_dataset_card" -> ((s, d) => datasetCard(Tables(s, d).documents)),
    "q241_split_manifest" -> ((s, d) => splitManifest(Tables(s, d).documents)),
    "q218_token_budget" -> ((s, d) => tokenBudgetAllocation(Tables(s, d).documents)),
    "q164_l_diversity" -> ((s, d) => lDiversityAudit(Tables(s, d).events)),
    "q151_concentration" -> ((s, d) => sourceConcentration(Tables(s, d).documents)),
    "q152_bootstrap_ci"  -> ((s, d) => bootstrapMeanCI(Tables(s, d).documents)),
    "q117_source_overlap" -> ((s, d) => sourceOverlapMatrix(Tables(s, d).documents)),
    "q119_quasi_id_audit" -> ((s, d) => quasiIdentifierAudit(Tables(s, d).documents)),
    "q89_source_cap"    -> ((s, d) => perSourceCap(Tables(s, d).documents)),
    "q93_quality_quartiles" -> ((s, d) => qualityQuartiles(Tables(s, d).documents)),
    "q66_hash_sample"   -> ((s, d) => sampleReport(Tables(s, d).documents)),
    "q188_weighted_sample" -> ((s, d) => weightedSample(Tables(s, d).documents)),
    "q273_fim_plan" -> ((s, d) => fimSplitPlan(Tables(s, d).documents)),
    "q67_shard_packing" -> ((s, d) => shardPacking(Tables(s, d).documents)),
    "q71_stratified_sample" -> ((s, d) => stratifiedSample(Tables(s, d).documents)),
    "q82_mixture_weights" -> ((s, d) => mixtureWeights(Tables(s, d).documents)),
    "q128_epoch_plan" -> ((s, d) => epochPlan(Tables(s, d).documents)),
    "q133_length_drift" -> ((s, d) => lengthDriftKs(Tables(s, d).documents)),
    "q83_chunk_overlap" -> ((s, d) => chunkWithOverlap(Tables(s, d).documents)),
  )

  override def oracles: Map[String, String] = Map(
    // same micro-quantized Neyman weights + Hamilton top-up; all
    // divisions integer-floor on non-negative operands
    "q331_neyman_alloc" ->
      """WITH m AS (SELECT source, count(*)::BIGINT AS nh,
        |                  sum(n_chars::HUGEINT)::HUGEINT AS s1,
        |                  sum(n_chars::HUGEINT * n_chars)::HUGEINT AS s2
        |           FROM documents GROUP BY source HAVING count(*) > 1),
        |w AS (SELECT source, nh,
        |             sqrt((nh * s2 - s1 * s1)::DOUBLE / (nh * (nh - 1))::DOUBLE) AS sd
        |      FROM m),
        |q AS (SELECT source, nh, sd,
        |             CAST(floor(nh::DOUBLE * sd * 1000000) AS BIGINT) AS w_micro
        |      FROM w),
        |tot AS (SELECT sum(w_micro)::BIGINT AS wt FROM q),
        |based AS (SELECT source, nh, sd, w_micro,
        |                 CASE WHEN wt > 0 THEN (1000 * w_micro) // wt END AS base,
        |                 CASE WHEN wt > 0 THEN (1000 * w_micro) % wt END AS rem
        |          FROM q, tot),
        |spill AS (SELECT (1000 - sum(base))::BIGINT AS k FROM based),
        |rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
        |       FROM based)
        |SELECT rk.source, rk.nh AS n_docs, round(rk.sd, 4) AS sd,
        |       (rk.base + CASE WHEN rk.rk <= spill.k THEN 1 ELSE 0 END)::BIGINT AS alloc
        |FROM rk, spill ORDER BY rk.source""".stripMargin,
    // 3 greedy rounds unrolled, every level MATERIALIZED (the q223
    // doctrine); NOT IN is safe — w is never null after the filter
    "q324_max_coverage" ->
      """WITH st AS MATERIALIZED (SELECT DISTINCT source, w FROM (
        |       SELECT source, substr(lower(text), CAST(i AS INT), 3) AS w
        |       FROM (SELECT source, text, unnest(range(1, length(text) - 1)) AS i
        |             FROM documents WHERE length(text) >= 3))),
        |c1 AS (SELECT source, count(*)::BIGINT AS nw FROM st GROUP BY source),
        |p1 AS MATERIALIZED (SELECT source, nw FROM c1 ORDER BY nw DESC, source LIMIT 1),
        |r1 AS MATERIALIZED (SELECT st.source, st.w FROM st
        |      WHERE st.source <> (SELECT source FROM p1)
        |        AND st.w NOT IN (SELECT w FROM st WHERE source = (SELECT source FROM p1))),
        |c2 AS (SELECT source, count(*)::BIGINT AS nw FROM r1 GROUP BY source),
        |p2 AS MATERIALIZED (SELECT source, nw FROM c2 ORDER BY nw DESC, source LIMIT 1),
        |r2 AS MATERIALIZED (SELECT r1.source, r1.w FROM r1
        |      WHERE r1.source <> (SELECT source FROM p2)
        |        AND r1.w NOT IN (SELECT w FROM r1 WHERE source = (SELECT source FROM p2))),
        |c3 AS (SELECT source, count(*)::BIGINT AS nw FROM r2 GROUP BY source),
        |p3 AS MATERIALIZED (SELECT source, nw FROM c3 ORDER BY nw DESC, source LIMIT 1),
        |u AS (SELECT 1 AS round, source, nw AS new_tokens FROM p1
        |      UNION ALL SELECT 2, source, nw FROM p2
        |      UNION ALL SELECT 3, source, nw FROM p3)
        |SELECT round, source, new_tokens,
        |       sum(new_tokens) OVER (ORDER BY round)::BIGINT AS cum_tokens
        |FROM u ORDER BY round""".stripMargin,
    "q313_apportionment" ->
      """WITH tok AS (SELECT source,
        |                    sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
        |             FROM documents GROUP BY 1),
        |tt AS (SELECT sum(n_tokens)::BIGINT AS tt FROM tok),
        |sh AS (SELECT source, n_tokens,
        |              (100000::HUGEINT * n_tokens) AS share
        |       FROM tok),
        |base AS (SELECT source, n_tokens,
        |                (share // tt)::BIGINT AS base,
        |                (share % tt)::BIGINT AS rem
        |         FROM sh, tt),
        |def AS (SELECT (100000 - sum(base))::BIGINT AS deficit FROM base),
        |ranked AS (SELECT b.*, d.deficit,
        |                  row_number() OVER (ORDER BY rem DESC, source) AS bonus_rank
        |           FROM base b, def d)
        |SELECT source, n_tokens, base, rem,
        |       bonus_rank <= deficit AS got_extra,
        |       (base + CASE WHEN bonus_rank <= deficit THEN 1 ELSE 0 END)::BIGINT AS alloc
        |FROM ranked ORDER BY source""".stripMargin,
    "q298_rr_frequency" ->
      """WITH cats AS (SELECT source,
        |                     row_number() OVER (ORDER BY source) - 1 AS idx
        |              FROM (SELECT DISTINCT source FROM documents)),
        |kk AS (SELECT count(*)::BIGINT AS k FROM cats),
        |nn AS (SELECT count(*)::BIGINT AS n FROM documents),
        |r AS (SELECT c.idx,
        |             list_reduce(list_transform(range(1, 16),
        |               i -> strpos('0123456789abcdef', substr(md5('rr|' || d.doc_id), i, 1)) - 1),
        |               (a, b) -> a * 16 + b)::BIGINT AS h
        |      FROM documents d JOIN cats c ON d.source = c.source),
        |rep AS (SELECT CASE WHEN h % 1000000 < 750000 THEN idx
        |                    WHEN (h // 1000000) % (k - 1) >= idx
        |                      THEN (h // 1000000) % (k - 1) + 1
        |                    ELSE (h // 1000000) % (k - 1) END AS reported_idx
        |        FROM r CROSS JOIN kk),
        |f AS (SELECT reported_idx, count(*)::BIGINT AS n_reported
        |      FROM rep GROUP BY 1),
        |t AS (SELECT source, count(*)::BIGINT AS n_true FROM documents GROUP BY 1)
        |SELECT c.source, coalesce(t.n_true, 0)::BIGINT AS n_true,
        |       coalesce(f.n_reported, 0)::BIGINT AS n_reported,
        |       round(CAST(4 * (k - 1) * coalesce(f.n_reported, 0) - n AS DOUBLE)
        |             / (3 * k - 4), 2) AS est_true,
        |       round(ln(CAST(3 * (k - 1) AS DOUBLE)), 4) AS epsilon
        |FROM cats c LEFT JOIN t ON c.source = t.source
        |LEFT JOIN f ON c.idx = f.reported_idx
        |CROSS JOIN kk CROSS JOIN nn
        |ORDER BY c.source""".stripMargin,
    "q251_dataset_card" ->
      """WITH base AS (
        |  SELECT count(*)::BIGINT AS n_docs,
        |         count(DISTINCT source)::BIGINT AS n_sources,
        |         count(DISTINCT lang)::BIGINT AS n_langs,
        |         sum(n_chars)::BIGINT AS total_chars,
        |         sum(len(string_split(text, ' ')))::BIGINT AS total_tokens,
        |         max(n_chars)::BIGINT AS max_chars
        |  FROM documents),
        |types AS (SELECT count(DISTINCT w)::BIGINT AS v FROM (
        |            SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
        |          WHERE w <> ''),
        |dups AS (SELECT coalesce(sum(n), 0)::BIGINT AS n_dup_docs FROM (
        |           SELECT md5(lower(trim(text))) AS fp, count(*)::BIGINT AS n
        |           FROM documents GROUP BY 1) WHERE n > 1),
        |med AS (SELECT min(n_chars)::BIGINT AS median_chars FROM (
        |          SELECT n_chars,
        |                 sum(count(*)) OVER (ORDER BY n_chars) AS cum,
        |                 (SELECT count(*) FROM documents) AS tot
        |          FROM documents GROUP BY n_chars)
        |        WHERE cum >= (tot + 1) // 2)
        |SELECT stat, value FROM (
        |  SELECT 'n_docs' AS stat, n_docs AS value FROM base
        |  UNION ALL SELECT 'n_sources', n_sources FROM base
        |  UNION ALL SELECT 'n_langs', n_langs FROM base
        |  UNION ALL SELECT 'total_chars', total_chars FROM base
        |  UNION ALL SELECT 'total_tokens', total_tokens FROM base
        |  UNION ALL SELECT 'max_chars', max_chars FROM base
        |  UNION ALL SELECT 'distinct_tokens', v FROM types
        |  UNION ALL SELECT 'n_exact_dup_docs', n_dup_docs FROM dups
        |  UNION ALL SELECT 'median_chars', median_chars FROM med)
        |ORDER BY stat""".stripMargin,
    "q241_split_manifest" ->
      """WITH tagged AS (
        |  SELECT source,
        |         CASE WHEN md5('3way|' || doc_id) < '1' THEN 'test'
        |              WHEN md5('3way|' || doc_id) < '2' THEN 'val'
        |              ELSE 'train' END AS split
        |  FROM documents)
        |SELECT source,
        |       sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)::BIGINT AS n_train,
        |       sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)::BIGINT AS n_val,
        |       sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END)::BIGINT AS n_test,
        |       count(*)::BIGINT AS n_docs,
        |       (sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) * 1000000
        |          // count(*))::BIGINT AS test_share_ppm
        |FROM tagged GROUP BY source ORDER BY source""".stripMargin,
    "q218_token_budget" ->
      """WITH cells AS (
        |  SELECT source,
        |         sum(len(string_split(lower(text), ' ')))::BIGINT
        |           * (1 + regexp_extract(source, '([0-9]+)$', 1)::BIGINT) AS t
        |  FROM documents GROUP BY source),
        |ordered AS (
        |  SELECT source, t, row_number() OVER w AS k,
        |         coalesce(sum(t) OVER (ORDER BY t, source
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pexc,
        |         lag(t) OVER w AS tprev
        |  FROM cells WINDOW w AS (ORDER BY t, source)),
        |tot AS (SELECT count(*)::BIGINT AS s_cnt, (sum(t) * 3) // 5 AS budget FROM cells),
        |capk AS (
        |  SELECT (budget - pexc) // (s_cnt - k + 1) AS cap
        |  FROM ordered, tot
        |  WHERE (budget - pexc) // (s_cnt - k + 1) < t
        |    AND (tprev IS NULL OR tprev <= (budget - pexc) // (s_cnt - k + 1))
        |  ORDER BY k LIMIT 1)
        |SELECT source, t AS tokens_available,
        |       least(t, cap)::BIGINT AS tokens_allocated,
        |       t <= cap AS fully_funded, cap::BIGINT AS cap
        |FROM cells, capk ORDER BY source""".stripMargin,
    "q151_concentration" ->
      """WITH c AS (SELECT source, count(*)::BIGINT AS c FROM documents GROUP BY source),
        |r AS (SELECT c, row_number() OVER (ORDER BY c, source) AS i FROM c),
        |m AS (SELECT count(*)::BIGINT AS n_sources, sum(c)::BIGINT AS n_docs,
        |             sum(c * c)::BIGINT AS s2, sum(i * c)::BIGINT AS sic,
        |             max(c)::BIGINT AS cmax
        |      FROM r)
        |SELECT n_sources, n_docs,
        |       round(s2 / CAST(n_docs * n_docs AS DOUBLE), 4) AS hhi,
        |       round((2.0 * sic) / (n_sources * n_docs)
        |             - (n_sources + 1) / CAST(n_sources AS DOUBLE), 4) AS gini,
        |       round(cmax / CAST(n_docs AS DOUBLE), 4) AS top1_share
        |FROM m""".stripMargin,
    "q152_bootstrap_ci" ->
      """WITH reps AS (SELECT unnest(range(0, 48)) AS rep),
        |sampled AS (SELECT rep, n_chars FROM documents, reps
        |            WHERE md5(rep || '|' || doc_id) < '8'),
        |means AS (SELECT rep, sum(n_chars) / count(*) AS mean
        |          FROM sampled GROUP BY rep),
        |ranked AS (SELECT mean, row_number() OVER (ORDER BY mean, rep) AS i FROM means),
        |full_ AS (SELECT count(*)::BIGINT AS n_docs, sum(n_chars) / count(*) AS point
        |          FROM documents)
        |SELECT n_docs, round(point, 4) AS mean_nchars,
        |       round((SELECT mean FROM ranked WHERE i = 3), 4) AS ci_lo,
        |       round((SELECT mean FROM ranked WHERE i = 46), 4) AS ci_hi
        |FROM full_""".stripMargin,
    // integer bucket keys (floor-div band), integer rollups
    "q119_quasi_id_audit" ->
      """WITH b AS (
        |  SELECT lang, source, n_chars // 100 AS len_band, count(*)::BIGINT AS bucket_n
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT lang, sum(bucket_n)::BIGINT AS n_docs, count(*)::BIGINT AS n_buckets,
        |       coalesce(sum(CASE WHEN bucket_n < 2 THEN bucket_n END), 0)::BIGINT AS n_risky_docs,
        |       coalesce(sum(CASE WHEN bucket_n < 2 THEN 1 END), 0)::BIGINT AS n_risky_buckets,
        |       round(coalesce(sum(CASE WHEN bucket_n < 2 THEN bucket_n END), 0)
        |             / sum(bucket_n)::DOUBLE, 4) AS risky_frac
        |FROM b GROUP BY lang ORDER BY lang""".stripMargin,
    // the q91/q113 shingle-window form; integer set arithmetic
    "q117_source_overlap" ->
      """WITH d AS (SELECT source, string_split(text, ' ') AS ts
        |           FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (
        |  SELECT DISTINCT source, array_to_string(ts[i:i+2], ' ') AS sh
        |  FROM (SELECT source, ts, unnest(range(1, len(ts) - 1)) AS i FROM d)),
        |sizes AS (SELECT source, count(*)::BIGINT AS n_sh FROM sh GROUP BY 1),
        |shared AS (
        |  SELECT a.source AS source_a, b.source AS source_b, count(*)::BIGINT AS n_shared
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_shared, sa.n_sh AS n_a, sb.n_sh AS n_b,
        |       round(n_shared / (sa.n_sh + sb.n_sh - n_shared)::DOUBLE, 4) AS jaccard
        |FROM shared JOIN sizes sa ON shared.source_a = sa.source
        |            JOIN sizes sb ON shared.source_b = sb.source
        |ORDER BY source_a, source_b""".stripMargin,
    "q89_source_cap" ->
      """WITH ranked AS (
        |  SELECT source, doc_id, n_chars,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |SELECT source, doc_id, n_chars, rk::BIGINT AS rk
        |FROM ranked WHERE rk <= 10 ORDER BY source, rk""".stripMargin,
    // quartile cuts rounded to 4 before the bucket comparison on both
    // engines (the q85 percentile-interpolation contract); bucket stats
    // are min/max and integer-sum averages — no float-order hazard
    "q93_quality_quartiles" ->
      """WITH s AS (
        |  SELECT doc_id, n_chars,
        |         round((1.0 - len(list_filter(string_split(text, ' '),
        |                 w -> w = 'the' OR w = 'a'))
        |                 / len(string_split(text, ' '))::DOUBLE)
        |               * ln(1.0 + n_chars), 4) AS quality
        |  FROM documents),
        |c AS (
        |  SELECT round(quantile_cont(quality, 0.25), 4) AS p25,
        |         round(quantile_cont(quality, 0.50), 4) AS p50,
        |         round(quantile_cont(quality, 0.75), 4) AS p75
        |  FROM s)
        |SELECT CASE WHEN quality <= p25 THEN 1
        |            WHEN quality <= p50 THEN 2
        |            WHEN quality <= p75 THEN 3
        |            ELSE 4 END::BIGINT AS bucket,
        |       count(*)::BIGINT AS n_docs,
        |       min(quality) AS min_quality,
        |       max(quality) AS max_quality,
        |       round(avg(n_chars), 4) AS avg_chars
        |FROM s, c GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q66_hash_sample" ->
      """WITH kept AS (
        |  SELECT source, count(*) AS n_sampled FROM documents
        |  WHERE md5('smp|' || source || '|' || doc_id) <
        |        CASE WHEN length(source) = 4 THEN '80' ELSE '40' END
        |  GROUP BY source)
        |SELECT d.source, count(*) AS n_docs,
        |       coalesce(any_value(k.n_sampled), 0)::BIGINT AS n_sampled
        |FROM documents d LEFT JOIN kept k ON d.source = k.source
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q67_shard_packing" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |         sum(toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT ((cum - toks) // 5000)::BIGINT AS shard, count(*) AS n_docs,
        |       sum(toks)::BIGINT AS total_tokens
        |FROM c GROUP BY 1 ORDER BY shard""".stripMargin,
    // sqrt is correctly rounded (IEEE) on both engines and the
    // normalizer folds over the sorted weights — no float-order or
    // pow-ulp divergence anywhere in the query
    // cross-multiplied integer ECDF comparison; one closing division
    "q299_length_w1" ->
      """WITH counts AS (
        |  SELECT source, n_chars AS v, count(*)::BIGINT AS c FROM documents GROUP BY 1, 2),
        |vals AS (SELECT DISTINCT n_chars AS v FROM documents),
        |s AS (SELECT source, count(*)::BIGINT AS n_s FROM documents GROUP BY 1),
        |cv AS (SELECT n_chars AS v, count(*)::BIGINT AS cc FROM documents GROUP BY 1),
        |t AS (SELECT count(*)::BIGINT AS n_c FROM documents),
        |grid AS (
        |  SELECT s.source, s.n_s, vals.v, coalesce(c.c, 0)::BIGINT AS c, cv.cc
        |  FROM s CROSS JOIN vals
        |  LEFT JOIN counts c ON c.source = s.source AND c.v = vals.v
        |  JOIN cv ON cv.v = vals.v),
        |cums AS (
        |  SELECT source, n_s, v,
        |         sum(c) OVER (PARTITION BY source ORDER BY v)::BIGINT AS cum_s,
        |         sum(cc) OVER (PARTITION BY source ORDER BY v)::BIGINT AS cum_c,
        |         coalesce(lead(v) OVER (PARTITION BY source ORDER BY v) - v, 0)::BIGINT AS dx
        |  FROM grid)
        |SELECT source, max(n_s)::BIGINT AS n_s,
        |       round(sum(abs(cum_s * n_c - cum_c * n_s)::HUGEINT * dx)::DOUBLE
        |             / (max(n_s) * max(n_c))::DOUBLE, 4) AS w1_chars,
        |       round(max(abs(cum_s * n_c - cum_c * n_s))
        |             / (max(n_s) * max(n_c))::DOUBLE, 4) AS ks_d
        |FROM cums, t GROUP BY source ORDER BY source""".stripMargin,
    "q133_length_drift" ->
      """WITH counts AS (
        |  SELECT source, n_chars AS v, count(*)::BIGINT AS c FROM documents GROUP BY 1, 2),
        |vals AS (SELECT DISTINCT n_chars AS v FROM documents),
        |s AS (SELECT source, count(*)::BIGINT AS n_s FROM documents GROUP BY 1),
        |cv AS (SELECT n_chars AS v, count(*)::BIGINT AS cc FROM documents GROUP BY 1),
        |t AS (SELECT count(*)::BIGINT AS n_c FROM documents),
        |grid AS (
        |  SELECT s.source, s.n_s, vals.v, coalesce(c.c, 0)::BIGINT AS c, cv.cc
        |  FROM s CROSS JOIN vals
        |  LEFT JOIN counts c ON c.source = s.source AND c.v = vals.v
        |  JOIN cv ON cv.v = vals.v),
        |cums AS (
        |  SELECT source, n_s, v,
        |         sum(c) OVER (PARTITION BY source ORDER BY v)::BIGINT AS cum_s,
        |         sum(cc) OVER (PARTITION BY source ORDER BY v)::BIGINT AS cum_c
        |  FROM grid)
        |SELECT source, max(n_s)::BIGINT AS n_s,
        |       max(abs(cum_s * n_c - cum_c * n_s))::BIGINT AS d_num,
        |       round(max(abs(cum_s * n_c - cum_c * n_s))
        |             / (max(n_s) * max(n_c))::DOUBLE, 4) AS ks_d
        |FROM cums, t GROUP BY source ORDER BY source""".stripMargin,
    // all downstream arithmetic starts from the ROUNDED q82 weight
    "q128_epoch_plan" ->
      """WITH s AS (
        |  SELECT source, count(*)::BIGINT AS n_docs,
        |         sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY source),
        |n AS (SELECT list_sum(list_sort(list(sqrt(n_tokens)))) AS norm FROM s),
        |w AS (SELECT source, n_docs, n_tokens,
        |             round(sqrt(n_tokens) / norm, 6) AS weight FROM s, n),
        |p AS (SELECT source, n_docs, n_tokens, weight,
        |             CAST(floor(10000000 * weight + 0.5) AS BIGINT) AS tokens_assigned
        |      FROM w)
        |SELECT source, n_docs, n_tokens, weight, tokens_assigned,
        |       round(tokens_assigned / n_tokens::DOUBLE, 4) AS epochs,
        |       round(tokens_assigned / n_tokens::DOUBLE, 4) > 4.0 AS over_cap,
        |       least(tokens_assigned, CAST(floor(n_tokens * 4.0) AS BIGINT)) AS effective_tokens
        |FROM p ORDER BY source""".stripMargin,
    "q82_mixture_weights" ->
      """WITH s AS (
        |  SELECT source, count(*)::BIGINT AS n_docs,
        |         sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
        |  FROM documents GROUP BY source),
        |n AS (SELECT list_sum(list_sort(list(sqrt(n_tokens)))) AS norm FROM s)
        |SELECT source, n_docs, n_tokens,
        |       round(sqrt(n_tokens) / norm, 6) AS weight
        |FROM s, n ORDER BY source""".stripMargin,
    "q83_chunk_overlap" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts,
        |         len(string_split(text, ' '))::BIGINT AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, ts, n,
        |         unnest(range(CASE WHEN n <= 32 THEN 1
        |                           ELSE 1 + (n - 32 + 24 - 1) // 24 END)) AS chunk_idx
        |  FROM d)
        |SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
        |       array_to_string(ts[(chunk_idx * 24 + 1)::INTEGER : (chunk_idx * 24 + 32)::INTEGER], ' ') AS chunk_text,
        |       len(ts[(chunk_idx * 24 + 1)::INTEGER : (chunk_idx * 24 + 32)::INTEGER])::BIGINT AS n_chunk_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q71_stratified_sample" ->
      """WITH ranked AS (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY md5('strat|' || doc_id), doc_id) AS rn,
        |         ceil(count(*) OVER (PARTITION BY lang) * 0.25)::BIGINT AS quota
        |  FROM documents)
        |SELECT lang, doc_id, rn::BIGINT AS rn
        |FROM ranked WHERE rn <= quota ORDER BY lang, doc_id""".stripMargin,
    // the two 60-bit md5 integers mirror the q188 list_reduce conversion
    "q273_fim_plan" ->
      """WITH f AS (
        |  SELECT source,
        |         len(string_split(text, ' '))::BIGINT AS n,
        |         list_reduce(list_transform(range(1, 16),
        |           i -> strpos('0123456789abcdef', substr(md5('fimA|' || doc_id), i, 1)) - 1),
        |           (a, b) -> a * 16 + b)::BIGINT AS h1,
        |         list_reduce(list_transform(range(1, 16),
        |           i -> strpos('0123456789abcdef', substr(md5('fimB|' || doc_id), i, 1)) - 1),
        |           (a, b) -> a * 16 + b)::BIGINT AS h2
        |  FROM documents),
        |s AS (SELECT source, n, (h1 % (n + 1)) AS i,
        |             (h1 % (n + 1)) + (h2 % (n - (h1 % (n + 1)) + 1)) AS j
        |      FROM f)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |       sum(n)::BIGINT AS total_tokens,
        |       sum(i)::BIGINT AS prefix_tokens,
        |       sum(j - i)::BIGINT AS middle_tokens,
        |       sum(n - j)::BIGINT AS suffix_tokens,
        |       sum(CASE WHEN j = i THEN 1 ELSE 0 END)::BIGINT AS n_empty_middle,
        |       sum(j - i)::BIGINT * 1000000 // greatest(sum(n)::BIGINT, 1) AS middle_ppm
        |FROM s GROUP BY source ORDER BY source""".stripMargin,
    "q188_weighted_sample" ->
      """WITH f AS (
        |  SELECT source, doc_id, n_chars AS w,
        |         list_reduce(list_transform(range(1, 16),
        |           i -> strpos('0123456789abcdef', substr(md5('aes|' || doc_id), i, 1)) - 1),
        |           (a, b) -> a * 16 + b)::BIGINT AS h
        |  FROM documents),
        |keyed AS (
        |  SELECT source, doc_id, w,
        |         CAST(floor(ln((h + 0.5) / 1152921504606846976.0) / w * 1e9) AS BIGINT) AS key_q
        |  FROM f),
        |ranked AS (
        |  SELECT source, doc_id, w,
        |         row_number() OVER (PARTITION BY source ORDER BY key_q DESC, doc_id) AS rn
        |  FROM keyed)
        |SELECT source, doc_id, w, rn::BIGINT AS rn
        |FROM ranked WHERE rn <= 5 ORDER BY source, rn""".stripMargin,
    "q164_l_diversity" ->
      """SELECT event_type,
        |       CAST(floor(value / 50.0) AS INT) AS band,
        |       CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS INT) AS dow,
        |       count(*)::BIGINT AS n,
        |       count(DISTINCT user_id)::BIGINT AS n_users,
        |       (count(DISTINCT user_id) >= 3) AS l_ok
        |FROM events
        |GROUP BY 1, 2, 3
        |ORDER BY event_type, band, dow""".stripMargin,
  )
}
