package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col

/** Physical-plan contracts for the headline queries — the properties
  * that make them hold at 100 TB, asserted so a refactor that silently
  * loses a broadcast, a pushed filter, or a pruned schema fails CI, not
  * the cluster. Checked on the optimized/executed plan text (covers the
  * AQE-finalized form).
  */
class PlanAssertionsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def planText(df: DataFrame): String = {
    df.collect() // finalize AQE so the executed plan is the real one
    df.queryExecution.executedPlan.toString
  }

  private def t = Tables(spark, sf(""))

  test("q13 joins the dimension by broadcast and pushes the top-k into the sort") {
    val p = planText(graft.operators.LogPipeline.top3PartsPerBrand(t.lineitem, t.part))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(p.contains("WindowGroupLimit"), s"expected rank pushdown:\n$p")
  }

  test("q36 blocked pairs shuffle on label only — the quadratic term is the contract") {
    // ADJUDICATION PIN (r11 verdict item 5, SCALE.md "Measurement
    // adjudications"): q36's 30× slope (~12×) is the operator's defined
    // work — ALL within-label pairs above cos 0.3 (72°), a threshold no
    // LSH family can band usefully (banding recalls HIGH-cosine
    // regions; at 0.3 nearly every within-label pair is a candidate
    // AND most are output). The plan contract asserted here is that the
    // ONLY quadratic term is that within-label enumeration: the join is
    // a label-keyed equi-join (shuffle ∝ corpus, never all-pairs
    // cartesian), and per-vector norms are computed once pre-join, not
    // per pair. The scale rung for high-threshold near-dup IS q76's
    // banded kernel; a cheaper eval at 100 TB samples labels, it does
    // not re-plan this operator.
    val p = planText(graft.operators.Similarity.blockedSimilarPairs(t.embeddings))
    assert(!p.contains("CartesianProduct"), s"label join degenerated:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected an equi-join on label:\n$p")
    // the equi-key is label (vec_id ordering rides as a post-join filter
    // or non-equi condition, never a cartesian)
    assert(p.contains("label"), s"join not keyed on label:\n$p")
  }

  test("q01 pushes the shipdate filter into the parquet scan and prunes columns") {
    val df = graft.operators.RelationalReports.pricingSummary(t.lineitem)
    val p = planText(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"expected shipdate pushdown:\n$p")
    // 7 needed columns, not the 16-column table
    assert(!p.contains("l_comment") && !p.contains("l_partkey"),
      s"expected column pruning:\n$p")
  }

  test("q06 aggregates map-side before the shuffle (partial_sum present)") {
    val p = planText(graft.operators.RelationalReports.revenueByBrand(t.lineitem, t.part))
    assert(p.contains("partial_sum"), s"expected map-side partial aggregation:\n$p")
  }

  test("q28 brute-force top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = planText(graft.operators.Similarity.cosineTopK(t.embeddings))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q70 knn join cuts per-query top-k before the window shuffle") {
    val p = planText(graft.operators.Similarity.knnJoinReport(t.embeddings))
    // WindowGroupLimit is the rank-pushdown operator: each map task keeps
    // only its local top-k per query before shuffling — the difference
    // between moving k rows and moving the whole scored corpus
    assert(p.contains("WindowGroupLimit"), s"expected rank pushdown:\n$p")
    assert(p.contains("BroadcastExchange"), s"expected broadcast query batch:\n$p")
  }

  test("headline aggregation runs inside whole-stage codegen") {
    val df = graft.operators.RelationalReports.pricingSummary(t.lineitem)
    val p = planText(df)
    // codegen'd stages carry the "*(n)" prefix in the plan string
    assert(p.contains("*("), s"expected codegen spans:\n$p")
  }

  test("q89 per-source cap pushes the rank cut below the window shuffle") {
    val p = planText(graft.operators.CorpusOps.perSourceCap(t.documents))
    // WindowGroupLimit = each map task keeps <= cap rows per source
    // BEFORE the shuffle: a hot domain never materializes its full
    // posting in one task's sort buffer
    assert(p.contains("WindowGroupLimit"), s"expected rank pushdown:\n$p")
  }

  test("q91 evaluates the gram explode once (pair-count exchange reused)") {
    val p = planText(graft.operators.TextAnalysis.boilerplateGramRatio(t.documents))
    // both consumers of the (doc_id, gram) pair counts must hang off
    // ONE exchange — a second Generate means the explode is computed
    // twice over the raw gram stream
    val generates = "\\bGenerate explode".r.findAllIn(p).size
    assert(p.contains("ReusedExchange") || generates == 1,
      s"expected a reused pair-count exchange or a single explode (got $generates):\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast frequent set:\n$p")
  }

  test("q95 KL drift broadcasts the top-K vocab and never sorts globally") {
    val p = planText(graft.operators.Ranking.sourceKlDrift(t.documents))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-K via TakeOrdered:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"expected broadcast vocab grid:\n$p")
  }

  test("q98 simhash pairs bucket by block key — no cartesian, no corpus re-join") {
    val p = planText(graft.operators.NonSqlOps.simhashHammingPairs(t.documents))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"expected no all-pairs join:\n$p")
    // the hamming verify rides the in-bucket structs: exactly zero
    // join operators in the whole plan
    assert(!p.contains("Join"), s"expected a join-free bucketed plan:\n$p")
  }

  test("q106 HLL registers reduce map-side; no distinct shuffle on the token stream") {
    val p = planText(graft.operators.Sketches.hllDistinct(t.documents))
    // the register path must show partial max BEFORE its exchange —
    // each map task reduces its tokens to <= 64 registers per source
    assert(p.contains("partial_max"), s"expected map-side register reduction:\n$p")
  }

  test("q108 hard negatives broadcast the probe batch and cut top-k pre-shuffle") {
    val p = planText(graft.operators.Similarity.hardNegativeReport(t.embeddings))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast probe batch:\n$p")
    assert(p.contains("WindowGroupLimit"), s"expected rank pushdown:\n$p")
  }

  test("q113 bloom probe joins the bit set by broadcast (no shuffle on positions)") {
    val p = planText(graft.operators.Sketches.bloomCalibration(t.documents))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast bit set:\n$p")
    assert(!p.contains("CartesianProduct"), s"expected no all-pairs:\n$p")
  }

  test("q111 centroid confusion aggregates dims map-side; pair stage is broadcast-only") {
    val p = planText(graft.operators.Similarity.labelCentroidConfusion(t.embeddings))
    assert(p.contains("partial_sum"), s"expected map-side moment sums:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast centroid pair join:\n$p")
  }

  test("q120 burstiness cuts the top-K terms via TakeOrdered and broadcasts it") {
    val p = planText(graft.operators.Ranking.tokenBurstiness(t.documents))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-K via TakeOrdered:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast term cut:\n$p")
  }

  test("q124 skew audit never globally sorts the key table (histogram + TakeOrdered only)") {
    val p = planText(graft.operators.SkewJoin.keySkewAudit(t.events, "user_id"))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-K via TakeOrdered:\n$p")
    // the only Sort feeding a Window must be the single-partition
    // histogram window, not a key-table-wide exchange+sort: counts
    // reduce map-side first
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"expected map-side key counting:\n$p")
  }

  test("q125 rate spikes window over the daily rollup, never the event stream") {
    val df = graft.operators.SetOpsAndSessions.rateSpikes(t.events)
    val p = planText(df)
    // the window's input must be the aggregated (type, day) table:
    // HashAggregate appears BELOW the Window in the plan tree
    val winIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx >= 0, s"expected window over aggregate:\n$p")
    assert(p.contains("partial_count"), s"expected map-side daily counting:\n$p")
  }

  test("q126 density outliers keep the kNN rank cut and broadcast the probe densities") {
    val p = planText(graft.operators.Similarity.densityOutliers(t.embeddings))
    assert(p.contains("WindowGroupLimit"), s"expected kNN rank pushdown:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected bottom-N via TakeOrdered:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast density table:\n$p")
  }

  test("q127 quantile sketch windows run over the histogram, not the corpus") {
    val p = planText(graft.operators.Sketches.quantileSketchCalibration(t.documents))
    assert(p.contains("partial_count"), s"expected map-side bin counting:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast totals/quantile grid:\n$p")
  }

  test("q129 textrank: iteration runs on collected graph — corpus scanned exactly twice") {
    val df = graft.operators.Ranking.textRank(t.documents)
    val p = planText(df)
    // the FINAL plan must touch documents once more (the tf re-join);
    // the 10-iteration loop happens before planning, on the bounded
    // collected graph — no 10-deep corpus lineage. (The AQE string
    // repeats the tree under "== Initial Plan ==" — count final only.)
    val scans = "Scan parquet".r.findAllIn(p.split("== Initial Plan ==").head).size
    assert(scans == 1, s"expected exactly one corpus scan in the final plan (got $scans):\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast rank table:\n$p")
  }

  test("q134 dup rate joins fingerprint counts without broadcasting the fact side") {
    val p = planText(graft.operators.Dedup.dupRateBySource(t.documents))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"expected map-side fingerprint counting:\n$p")
    assert(!p.contains("CartesianProduct"), s"expected no all-pairs:\n$p")
  }

  test("q135 cohort retention broadcasts cohort sizes; no cartesian anywhere") {
    val p = planText(graft.operators.SetOpsAndSessions.cohortRetention(t.events))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast cohort sizes:\n$p")
    assert(!p.contains("CartesianProduct"), s"expected no all-pairs:\n$p")
  }

  test("q137 MAD outliers broadcast both median tables back onto the stream") {
    val p = planText(graft.operators.SetOpsAndSessions.madOutliers(t.events))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast med/mad tables:\n$p")
  }

  test("q138 table profiler computes every column's counters in one scan") {
    val p = planText(graft.operators.Validation.tableProfile(t.orders))
    val scans = "Scan parquet".r.findAllIn(p.split("== Initial Plan ==").head).size
    assert(scans == 1, s"expected a single input scan (got $scans):\n$p")
    assert(p.contains("Expand"), s"expected Expand-based multi-distinct:\n$p")
  }

  test("q75 multi-width decontamination scans the corpus exactly once") {
    val corpus = t.documents.filter(col("doc_id") % 11 =!= 0)
    val bench = t.documents.filter(col("doc_id") % 11 === 0)
    val df = graft.operators.Dedup.decontaminate(corpus, bench, chunkWords = 4)
    val p = planText(df)
    // one corpus explode + one bench explode: a third Generate means a
    // width re-introduced a per-width corpus pass (the round-5 regression)
    val generates = "\\bGenerate (posexplode|explode)".r.findAllIn(
      p.split("== Initial Plan ==").head).size
    assert(generates <= 2, s"expected <=2 explodes, got $generates:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast bench set:\n$p")
  }

  test("q155 novelty plans an anti join on the gram hash (no except/cartesian)") {
    val p = planText(graft.operators.Dedup.ngramNovelty(t.documents))
    // LeftAnti is the membership-test shape; AQE picks broadcast at
    // fixture scale and shuffle at corpus scale from real sizes — the
    // contract is the join TYPE, not the fixture-sized strategy
    assert(p.contains("LeftAnti"), s"expected anti join:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("q156 span coverage explodes the corpus grams exactly once") {
    val p = planText(graft.operators.Dedup.dedupSpanCoverage(t.documents))
    val generates = "\\bGenerate (posexplode|explode)".r.findAllIn(
      p.split("== Initial Plan ==").head).size
    // shared-chunk detection rides a min/max window over the chunk key,
    // not a groupBy + join-back: a second Generate means the gram
    // stream is being recomputed
    assert(generates == 1, s"expected a single gram explode (got $generates):\n$p")
  }

  test("q150 hill tail-index plans as TakeOrderedAndProject, not a global sort") {
    val p = planText(graft.operators.TextAnalysis.hillTailIndex(t.documents))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q152 bootstrap combines replicate sums map-side before the shuffle") {
    val p = planText(graft.operators.CorpusOps.bootstrapMeanCI(t.documents))
    assert(p.contains("partial_sum"), s"expected map-side partial aggregation:\n$p")
    // the exploded 48x stream must NOT cross an exchange row-by-row:
    // the only exchanges after the explode carry (rep, partial) rows
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast CI scalars:\n$p")
  }

  test("q157 dim health collapses the posexplode into a dims-sized aggregate") {
    val p = planText(graft.operators.Quantize.embeddingDimHealth(t.embeddings))
    assert(p.contains("partial_sum"), s"expected map-side partial aggregation:\n$p")
  }

  test("q149 CUPED broadcasts the 1-row midpoint onto the fact stream") {
    val p = planText(graft.operators.SetOpsAndSessions.cupedAbTest(t.events))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast midpoint:\n$p")
    assert(p.contains("partial_sum"), s"expected map-side partial counts:\n$p")
  }

  test("q159 OLS reduces the corpus to one partial-aggregated moment row") {
    val p = planText(graft.operators.Modeling.qualityOls(t.documents))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"expected map-side moment partials:\n$p")
    assert(!p.contains("Join"), s"closed-form solve must not join:\n$p")
    assert(!p.contains("Generate"), s"feature extraction must not explode:\n$p")
  }

  test("q160 surprisal: conditional counts ride windows on the grouped frame") {
    val p = planText(graft.operators.Modeling.bigramSurprisal(t.documents))
    val generates = "\\bGenerate explode".r.findAllIn(
      p.split("== Initial Plan ==").head).size
    // pass 1 builds the (source,w1,w2) count table, pass 2 the vocab
    // scalar (its pruned aggregate defeats exchange reuse — see the
    // scaladoc); anything beyond 2 means the LM itself re-scans
    assert(generates <= 2, s"expected at most two tokenize passes, got $generates:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast vocab scalar:\n$p")
    // the c_xy / c_x windows must NOT shuffle twice: one exchange on
    // the w1 subset serves both window clusterings
    val winExchanges = "Exchange hashpartitioning\\(w1".r.findAllIn(p).size
    assert(winExchanges <= 2, s"window exchanges exploded:\n$p")
  }

  test("q161 covariance expands pairs row-locally: no self-join on the data path") {
    val p = planText(graft.operators.Quantize.embeddingCovariance(t.embeddings))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"pair expansion must be row-local + broadcast-only joins:\n$p")
    assert(p.contains("partial_sum"), s"expected map-side moment partials:\n$p")
  }

  test("q164 l-diversity plans the two-phase partial distinct aggregate") {
    val p = planText(graft.operators.CorpusOps.lDiversityAudit(t.events))
    assert(p.contains("partial_count(distinct"),
      s"expected partial distinct aggregation:\n$p")
    assert(!p.contains("Join"), s"QI audit is one aggregate, no join:\n$p")
  }

  test("q166 ARI/NMI: one corpus aggregate; contingency math is broadcast-only") {
    val p = planText(graft.operators.Similarity.clusterLabelAgreement(t.embeddings))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"margins/entropies must join the bounded frame by broadcast:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"expected map-side contingency partials:\n$p")
  }

  test("q169 AUC: map-side contingency partials, windows on the score-distinct frame, no join") {
    val p = planText(graft.operators.Modeling.rocAuc(t.documents))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"expected map-side contingency collapse:\n$p")
    assert(!p.contains("Join"), s"rank-sum AUC is aggregation-only:\n$p")
  }

  test("q170 SCD2: ONE corpus shuffle on the natural key (no composite-key re-shuffle)") {
    // scope to the AQE final plan — the toString repeats the pre-AQE
    // "Initial Plan" section, which would double-count exchanges
    val p = planText(graft.operators.RelationalReports.scd2History(t.events))
      .split("== Initial Plan ==")(0)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges == 1, s"expected exactly one hash exchange, got $hashExchanges:\n$p")
    assert(!p.contains("Join"), s"SCD2 build is window-only:\n$p")
  }

  test("q172 target encoding: cells collapse map-side; no shuffled join on the data path") {
    val p = planText(graft.operators.Modeling.targetEncoding(t.documents))
    assert(p.contains("partial_sum"), s"expected map-side cell partials:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"fold windows run over the bounded cell frame:\n$p")
  }

  test("q178 t-closeness broadcasts both densification dims; fact agg is map-side partial") {
    val p = planText(graft.operators.RobustStats.tClosenessAudit(t.documents))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast densification:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"expected map-side partials:\n$p")
  }

  test("q193 TWAP: every hash exchange is on user_id (window + agg share the clustering)") {
    // AQE's plan text can repeat a stage, so count KEYS, not occurrences:
    // the contract is that nothing shuffles on any other key
    val p = planText(graft.operators.RobustStats.timeWeightedAverage(t.events))
    val keys = "Exchange hashpartitioning\\((\\w+)#".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(keys.subsetOf(Set("user_id")), s"unexpected shuffle keys $keys:\n$p")
  }

  test("q188 weighted sample sorts only narrow triples (no text column in the window)") {
    val p = planText(graft.operators.CorpusOps.weightedSample(t.documents))
    assert(!p.contains("text#"), s"payload column leaked into the rank window:\n$p")
  }

  test("vec_sqdist participates in generated code (no HOF fallback in assignment)") {
    import org.apache.spark.sql.functions.col
    val q = graft.operators.Clustering.quantized(t.embeddings)
    val d = q.select(graft.functions.LongVecSqDist
      .sqDist(col("u"), col("u")).as("d"))
    val code = org.apache.spark.sql.execution.debug.codegenString(
      d.queryExecution.executedPlan)
    assert(code.contains("getLong"), "LongVecSqDist fell out of generated code")
  }

  test("custom hash kernels participate in generated code (no CodegenFallback)") {
    // parquet-backed, exchange-free projections: LocalRelation fixtures
    // constant-fold custom expressions away, and AQE wraps any plan with
    // an exchange so its codegen subtrees aren't visible pre-execution
    import org.apache.spark.sql.functions.col
    val mh = t.documents.select(
      graft.functions.MinHashMd5.textMinhashMd5(col("text"), "s|").as("mh"))
    val mhCode = org.apache.spark.sql.execution.debug.codegenString(
      mh.queryExecution.executedPlan)
    assert(mhCode.contains("evalText"), "TextMinHashMd5 fell out of generated code")
    val fp = t.documents.select(
      graft.functions.WinnowFingerprints.winnowFingerprints(col("text")).as("fp"))
    val fpCode = org.apache.spark.sql.execution.debug.codegenString(
      fp.queryExecution.executedPlan)
    assert(fpCode.contains("evalBytes"), "WinnowFingerprints fell out of generated code")
    val sh = t.documents.select(
      graft.functions.SimHash64.simhash64(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("sig"))
    val shCode = org.apache.spark.sql.execution.debug.codegenString(
      sh.queryExecution.executedPlan)
    assert(shCode.contains("fnv1a64"), "SimHash64 fell out of generated code")
    val ss = t.documents.select(
      graft.functions.ShingleSet.shingleSet(col("text")).as("sh"))
    val ssCode = org.apache.spark.sql.execution.debug.codegenString(
      ss.queryExecution.executedPlan)
    assert(ssCode.contains("ShingleSet.evalText"), "ShingleSet fell out of generated code")
    val nc = t.embeddings.select(
      graft.functions.VecOps.nearestCell(col("embedding"),
        Array(Array(0f, 1f), Array(1f, 0f))).as("cell"))
    val ncCode = org.apache.spark.sql.execution.debug.codegenString(
      nc.queryExecution.executedPlan)
    assert(ncCode.contains("NearestCell.evalVec"), "NearestCell fell out of generated code")
    val rs = t.documents.select(
      graft.functions.RepetitionStats.repetitionStats(col("text")).as("r"))
    val rsCode = org.apache.spark.sql.execution.debug.codegenString(
      rs.queryExecution.executedPlan)
    assert(rsCode.contains("RepetitionStats.evalText"), "RepetitionStats fell out of generated code")
    val sb = t.embeddings.select(
      graft.functions.SrpBandKeys.srpBandKeys(col("embedding"),
        graft.functions.SrpBandKeys.planes(8, 64), 4).as("keys"))
    val sbCode = org.apache.spark.sql.execution.debug.codegenString(
      sb.queryExecution.executedPlan)
    assert(sbCode.contains("SrpBandKeys.evalVec"), "SrpBandKeys fell out of generated code")
    val ce = t.documents.select(
      graft.functions.CharEntropyStats.charEntropyStats(col("text")).as("r"))
    val ceCode = org.apache.spark.sql.execution.debug.codegenString(
      ce.queryExecution.executedPlan)
    assert(ceCode.contains("CharEntropyStats.evalText"), "CharEntropyStats fell out of generated code")
    val un = t.documents.select(
      graft.functions.UnicodeNormalize.unicodeNormalize(col("text"), "NFKC").as("n"))
    val unCode = org.apache.spark.sql.execution.debug.codegenString(
      un.queryExecution.executedPlan)
    assert(unCode.contains("UnicodeNormalize.normalize"), "UnicodeNormalize fell out of generated code")

    // source presence is necessary but not sufficient: a generated call
    // that doesn't COMPILE (e.g. a companion kernel whose static
    // forwarder scalac suppressed because the class has a same-named
    // instance method — the NearestCell.eval regression) only logs a
    // warning and silently degrades to interpreted projections. Force
    // codegen-only mode and execute, so a compile error fails the suite.
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try Seq(mh, fp, sh, ss, nc, rs, sb, ce, un).foreach(_.collect())
    finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("q239 pushes the quantity bounds into the scan and broadcasts the part dim") {
    val p = planText(graft.operators.DecisionSupport.bracketRevenue(t.lineitem, t.part))
    assert(p.contains("GreaterThanOrEqual(l_quantity,1"),
      s"expected quantity pushdown:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast part dim:\n$p")
  }

  test("q238 large-volume top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = planText(graft.operators.DecisionSupport.largeVolumeCustomers(
      t.customer, t.orders, t.lineitem))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q234 joins every dimension by broadcast (nation, region, supplier)") {
    val p = planText(graft.operators.DecisionSupport.localSupplierVolume(
      t.customer, t.orders, t.lineitem, t.supplier, t.nation, t.region))
    // the only shuffled joins are the two fact-path ones
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("q240 PQ scores via a broadcast lookup table; no cartesian anywhere") {
    val p = planText(graft.operators.Clustering.pqTopK(t.embeddings))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast ADC table:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k cut:\n$p")
  }

  test("q260 min-cost supplier: dims broadcast, offers shuffle once, no cartesian") {
    val p = planText(graft.operators.DecisionSupport.minCostSupplier(
      t.lineitem, t.part, t.supplier, t.nation, t.region))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("q261 important stock: global total is a one-row broadcast nested-loop, not a sort") {
    val p = planText(graft.operators.DecisionSupport.importantStock(
      t.lineitem, t.supplier, t.nation, t.region))
    // the scalar total joins the per-part frame via BroadcastNestedLoopJoin
    // (one row broadcast) — never a shuffled join or a global sort
    assert(p.contains("BroadcastNestedLoopJoin"), s"expected broadcast scalar:\n$p")
    assert(p.contains("partial_sum"), s"expected map-side partial aggregation:\n$p")
  }

  test("q264 dominant suppliers: correlated half-of-total is one pair-keyed shuffle, dims broadcast") {
    val p = planText(graft.operators.DecisionSupport.dominantSuppliers(
      t.lineitem, t.part, t.supplier, t.nation, t.region))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("q300 mmd drift: label-pair stage runs on moment tables — no corpus-sized join, dims broadcast") {
    val p = planText(graft.operators.Quantize.mmdDrift(t.embeddings))
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    // the only scans are the embeddings pass; the pairwise arithmetic
    // joins (label,di,dj)-keyed moment frames
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast label-pair frame:\n$p")
  }

  test("q302 shared passages: top-N compiles to TakeOrderedAndProject, no global sort") {
    val p = planText(graft.operators.Dedup.sharedPassages(t.documents))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("q305 margin mining: candidate side broadcasts and top-N is TakeOrderedAndProject") {
    val p = planText(graft.operators.Similarity.marginMining(t.embeddings))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected broadcast candidate join:\n$p")
  }

  test("q299 w1 drift: grid windows run per source over the value grid, corpus aggregates once") {
    val p = planText(graft.operators.CorpusOps.lengthDriftW1(t.documents))
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"expected windowed CDF:\n$p")
  }

  test("q316 hyperball: register merge broadcasts the node frame — the edge list never shuffles into the join") {
    // lineage cuts hide the merge rounds from the final plan; the
    // inspection knob composes the whole operator into ONE plan
    spark.conf.set(graft.plans.Checkpoints.DisableConf, "true")
    try {
      val p = planText(graft.operators.GraphOps.hyperBall(graft.operators.GraphOps.copurchaseEdges(t.lineitem)))
      assert(p.contains("BroadcastHashJoin"), s"expected broadcast register join:\n$p")
      assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
      // the per-bucket max merge must partial-combine map-side so the
      // post-broadcast aggregate exchanges node-sized, not edge-sized, rows
      assert(p.contains("partial_max"), s"expected map-side partial max merge:\n$p")
    } finally spark.conf.unset(graft.plans.Checkpoints.DisableConf)
  }

  test("q323 loo valuation: centroid models broadcast into the scoring pass") {
    val p = planText(graft.operators.Clustering.looSourceValuation(t.embeddings, t.documents))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected broadcast model frame:\n$p")
    assert(p.contains("vec_sqdist") || p.contains("LongVecSqDist"),
      s"expected the codegen'd distance kernel:\n$p")
  }

  test("q314 modularity: per-community frames aggregate map-side, no cartesian") {
    val p = planText({ val e = graft.operators.GraphOps.copurchaseEdges(t.lineitem)
      graft.operators.GraphOps.lpModularity(e, graft.operators.GraphOps.lpLabels(e, 2)) })
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"expected map-side partials:\n$p")
  }

  test("q327 WOE binning plans no window and no single-partition exchange") {
    val p = planText(graft.operators.Modeling.woeInformationValue(t.documents))
    // the r8 form dragged the corpus through ntile over ONE sort task —
    // the percentile-cut form must contain no window operator at all
    // (the remaining SinglePartition exchanges carry pre-aggregated
    // partials, the accepted scalar-aggregate shape)
    assert(!p.contains("Window"), s"expected no window:\n$p")
  }

  test("q289 propensity match: every window is band-partitioned") {
    val df = graft.operators.SetOpsAndSessions.propensityMatch(t.events)
    df.collect()
    val windows = collectWithSubqueries(df.queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the four running-match windows")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned (single-task) window:\n$w"))
  }

  test("q301 bradley-terry's final plan reads cut leaves, not the corpus") {
    // the MM rounds run during the eager cuts; the plan the driver
    // executes must touch only bounded materialized frames (the r8 form
    // embedded 1540 parquet scans by round 3)
    val p = graft.operators.Modeling.bradleyTerry(t.documents)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Scan parquet"), s"expected zero corpus scans:\n$p")
  }

  test("shared co-purchase edge table aggregates on u with no exchange") {
    val e = graft.operators.GraphOps.sharedEdges(spark, sf(""))
    val agg = e.groupBy("u").count()
    agg.collect()
    val p = agg.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"bucketed edge side must not shuffle on its own key:\n$p")
  }

  test("q344 ECDF grid plans the value crossJoin as broadcast regardless of stats") {
    val p = planText(graft.operators.StatisticalAudits.bhFdrDrift(t.documents))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the hinted value-grid crossJoin to broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the grid must never degrade to a row-level task grid:\n$p")
  }

  test("q132 interval join carries the time band in its equi-keys (hot-key shield)") {
    val p = planText(graft.streaming.IngestStream.errorAttribution(t.events))
    // the band must ride the JOIN KEYS, not the post-join filter: on
    // user alone, one hot user degenerates the merge join into a
    // single-key nested loop (r11 skew sweep: 80 s -> 5.2 s banded)
    assert(p.contains("err_band") && p.contains("act_band"),
      s"expected the lookback band in the join keys:\n$p")
    assert(!p.contains("CartesianProduct"), s"no row-level task grid:\n$p")
  }

  test("k-means/IVF seed stage is a bounded top-k, not a global sort") {
    // trainCentroids seeds from the k lowest vec_ids. The contract at
    // 100 TB: Sort+Limit must compile to TakeOrderedAndProject (bounded
    // per-partition heap, driver merge — no exchange); a global SortExec
    // or any shuffle here would exchange the whole corpus to take √n
    // rows. Guards the topKSortFallbackThreshold assumption too: a seed
    // k above that conf would silently fall back to the full sort.
    val p = planText(graft.operators.Ann.seedPlan(t.embeddings, 23))
    assert(p.contains("TakeOrderedAndProject"),
      s"seed stage must plan as bounded top-k:\n$p")
    assert(!p.contains("Exchange") && !p.contains("Sort ["),
      s"seed stage must not shuffle or globally sort the corpus:\n$p")
  }

  test("multi_pattern_counts stays inside generated code (no codegen fallback)") {
    val df = t.documents.select(graft.functions.MultiPatternCounts.counts(
      col("text"), Seq("the", "batch batch")).as("c"))
    val code = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(code.contains("MultiPatternCounts.evalWith"),
      "MultiPatternCounts fell out of generated code")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try df.collect()
    finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }
}
