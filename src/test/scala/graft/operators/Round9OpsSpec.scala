package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Fixture and property tests for the round-9 additions q333–q337:
  * Poisson bootstrap, Dawid–Skene, confident learning, embedding
  * isotropy, McNemar.
  *
  * Text gadgets used to steer the q329 classifier pair (A = stopword
  * argmax, B = e-rate ≥ 7.5%):
  *   "the a and"            → A=1, B=1  (e/len = 1/9)
  *   "the a and xxxxxxxxxx" → A=1, B=0  (e/len = 1/20)
  *   "zz yy xx"             → A=0, B=0
  *   "zz ee ee"             → A=0, B=1  (e/len = 4/8)
  */
class Round9OpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: Seq[(Long, String, String)]) =
    rows.map { case (id, text, lang) => (id, text, lang, "s", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  // ---- q333 Poisson bootstrap ----------------------------------------------

  test("poissonBootstrap: constant-length source collapses the CI to the mean") {
    val d = docs((1L to 50L).map(i => (i, "t", "en")))
      .withColumn("n_chars", lit(100L))
    val r = StatisticalAudits.poissonBootstrap(d).collect()(0)
    assert(r.getAs[Long]("mean_micro") == 100000000L)
    assert(r.getAs[Long]("lo_micro") == 100000000L)
    assert(r.getAs[Long]("hi_micro") == 100000000L)
    assert(r.getAs[Long]("n_reps") == 32L)
  }

  test("poissonBootstrap: corpus CI brackets are ordered and weights behave") {
    val d = spark.read.parquet(s"${sf("")}/documents.parquet")
    val rows = StatisticalAudits.poissonBootstrap(d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (lo, hi, m) = (r.getAs[Long]("lo_micro"), r.getAs[Long]("hi_micro"),
        r.getAs[Long]("mean_micro"))
      assert(lo <= hi)
      // Poisson(1) replicate means concentrate near the point estimate:
      // a 2nd-of-32 rank bound more than 50% off means broken weights
      assert(math.abs(m - lo) < m / 2 && math.abs(hi - m) < m / 2)
    }
  }

  // ---- q334 Dawid-Skene ----------------------------------------------------

  test("dawidSkene: perfect raters earn se = sp = 1 and the true prevalence") {
    val d = docs((1L to 10L).map(i => (i, "the a and", "en")) ++
      (11L to 20L).map(i => (i, "zz yy xx", "de")))
    val out = StatisticalAudits.dawidSkene(d).collect()
      .map(r => r.getAs[String]("rater") -> r).toMap
    Seq("a_label", "b_stopword", "c_erate").foreach { r =>
      assert(out(r).getAs[Long]("se_micro") == 1000000L, s"$r sensitivity")
      assert(out(r).getAs[Long]("sp_micro") == 1000000L, s"$r specificity")
    }
    assert(out("a_label").getAs[Long]("pi_micro") == 500000L)
    assert(out("a_label").getAs[Long]("n_docs") == 20L)
  }

  test("dawidSkene: a rater that misses half the positives scores lower se") {
    // e-rate rater fires on only half the en docs; label+stopword perfect
    val d = docs((1L to 10L).map(i => (i, "the a and", "en")) ++
      (11L to 20L).map(i => (i, "the a and xxxxxxxxxx", "en")) ++
      (21L to 40L).map(i => (i, "zz yy xx", "de")))
    val out = StatisticalAudits.dawidSkene(d).collect()
      .map(r => r.getAs[String]("rater") -> r).toMap
    assert(out("a_label").getAs[Long]("se_micro") == 1000000L)
    assert(out("b_stopword").getAs[Long]("se_micro") == 1000000L)
    val seC = out("c_erate").getAs[Long]("se_micro")
    assert(seC < 600000L && seC > 300000L, s"half-blind rater se: $seC")
    assert(out("c_erate").getAs[Long]("sp_micro") == 1000000L)
  }

  // ---- q335 confident learning ---------------------------------------------

  test("confidentLearning: clean labels read ~zero noise, one flip reads > 0") {
    val clean = docs((1L to 10L).map(i => (i, "zz ee ee", "en")) ++
      (11L to 20L).map(i => (i, "zz yy xx", "de")))
    val r0 = StatisticalAudits.confidentLearning(clean).collect()(0)
    assert(r0.getAs[Long]("c10") == 0L && r0.getAs[Long]("c01") == 0L)
    assert(r0.getAs[Long]("noise_ppm") == 0L)
    // flip one high-e doc's label to de: it clears the en threshold
    val flipped = docs((1L to 10L).map(i => (i, "zz ee ee", "en")) ++
      Seq((99L, "zz ee ee", "de")) ++
      (11L to 20L).map(i => (i, "zz yy xx", "de")))
    val r1 = StatisticalAudits.confidentLearning(flipped).collect()(0)
    assert(r1.getAs[Long]("c01") >= 1L, "the flipped doc lands off-diagonal")
    assert(r1.getAs[Long]("noise_ppm") > 0L)
  }

  // ---- q336 embedding isotropy ---------------------------------------------

  private def vecs(rows: Seq[(Long, Seq[Float], Int)]) =
    rows.toDF("vec_id", "embedding", "label")

  test("embeddingIsotropy: identical vectors ratio 1, orthogonal vectors ratio 0") {
    val d = vecs(Seq(
      (1L, Seq(1f, 0f), 0), (2L, Seq(1f, 0f), 0),          // collapsed
      (3L, Seq(1f, 0f), 1), (4L, Seq(0f, 1f), 1)))          // orthogonal
    val out = StatisticalAudits.embeddingIsotropy(d).collect()
      .map(r => r.getAs[Int]("label") -> r).toMap
    assert(out(0).getAs[Double]("isotropy_ratio") == 1.0)
    assert(out(0).getAs[Double]("avg_pair_dot") == out(0).getAs[Double]("avg_self_dot"))
    assert(out(1).getAs[Double]("isotropy_ratio") == 0.0)
    assert(out(1).getAs[Double]("avg_pair_dot") == 0.0)
    assert(out(1).getAs[Double]("avg_self_dot") == 1.0)
  }

  // ---- q338 Cochran's Q ----------------------------------------------------

  test("cochranQ: hand-computed three-rater fixture; unanimous panel undefined") {
    // rows (v1,v2,v3): (1,1,0), (1,0,1), (0,0,1) → C=(2,1,2), T=5, ΣR²=9
    // Q = 2·(3·(4+1+4) − 25) / (15 − 9) = 4/6
    val d = docs(Seq(
      (1L, "the a and xxxxxxxxxx", "en"),
      (2L, "zz ee ee", "en"),
      (3L, "zz ee ee", "de")))
    val r = StatisticalAudits.cochranQ(d).collect()(0)
    assert(r.getAs[Long]("n_items") == 3L)
    assert(r.getAs[Double]("cochran_q") == 0.6667)
    // every item unanimous → kT − ΣR² = 0 → undefined
    val u = docs(Seq((1L, "the a and", "en"), (2L, "the a and", "en")))
    val ru = StatisticalAudits.cochranQ(u).collect()(0)
    assert(ru.isNullAt(ru.fieldIndex("cochran_q")))
  }

  // ---- q339 Heaps's law ----------------------------------------------------

  test("heapsLaw: one new token per doc fits beta = 1, constant vocab fits 0") {
    val unique = docs((1L to 64L).map(i => (i, s"tok$i", "en")))
    val b1 = StatisticalAudits.heapsLaw(unique).collect()
    assert(b1.forall(_.getAs[Double]("heaps_beta") == 1.0),
      "V(n) = n must fit slope exactly 1")
    assert(b1.map(r => (r.getAs[Long]("level"), r.getAs[Long]("n_docs")))
      .toMap.apply(0L) == 64L)
    val same = docs((1L to 64L).map(i => (i, "tok", "en")))
    val b0 = StatisticalAudits.heapsLaw(same).collect()
    assert(b0.forall(_.getAs[Long]("vocab") == 1L))
    assert(b0.forall(_.getAs[Double]("heaps_beta") == 0.0),
      "constant vocabulary must fit slope exactly 0")
  }

  test("heapsLaw: corpus levels nest and the exponent is a real fraction") {
    val d = spark.read.parquet(s"${sf("")}/documents.parquet")
    val rows = StatisticalAudits.heapsLaw(d).collect().sortBy(_.getAs[Long]("level"))
    rows.sliding(2).foreach { w =>
      assert(w(1).getAs[Long]("n_docs") <= w(0).getAs[Long]("n_docs"))
      assert(w(1).getAs[Long]("vocab") <= w(0).getAs[Long]("vocab"))
    }
    // the synthetic corpus draws from a ~31-word vocabulary, so V(n)
    // saturates and the honest exponent is ~0; a natural corpus sits in
    // (0, 1) — the fixture test above pins both exact endpoints
    val beta = rows.head.getAs[Double]("heaps_beta")
    assert(beta >= 0.0 && beta < 1.0, s"Heaps exponent out of range: $beta")
  }

  // ---- q340 Renyi efficiency -----------------------------------------------

  test("renyiEfficiency: uniform tokens score 1, a dominated stream scores low") {
    val uni = docs(Seq((1L, "a b c d", "en")))
    val r = StatisticalAudits.renyiEfficiency(uni).collect()(0)
    assert(r.getAs[Long]("vocab") == 4L)
    assert(r.getAs[Double]("renyi_efficiency") == 1.0)
    assert(r.getAs[Double]("renyi_h") ==
      BigDecimal(math.log(4.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val skew = docs(Seq((1L, "a a a a a a a b", "en")))
    val rs = StatisticalAudits.renyiEfficiency(skew).collect()(0)
    assert(rs.getAs[Double]("renyi_efficiency") < 0.6)
  }

  // ---- q341 SPRT monitor ---------------------------------------------------

  test("sprtMonitor: LLR accumulates by day and crosses the Wald boundary") {
    // user 1 (treatment arm): 30/100 purchases per day at p0=.2/p1=.25
    // day 1: LLR = 30·223143 − 70·64539 = 2176560 (continue)
    // day 2 cumulative: 4353120 ≥ 2944438 (accept_h1)
    def day(d: Int, n: Int, np: Int) = (0 until n).map { i =>
      (d * 1000L + i, 1L, 1700000000000000L + d * 86400000000L + i,
        if (i < np) "purchase" else "view", 1.0, "{}")
    }
    val ev = (day(1, 100, 30) ++ day(2, 100, 30))
      .toDF("event_id", "user_id", "us", "event_type", "value", "props")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("us")).as("ts"), col("event_type"),
        col("value"), col("props"))
    val rows = StatisticalAudits.sprtMonitor(ev).collect().sortBy(_.getAs[String]("day"))
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("llr_micro") == 2176560L)
    assert(rows(0).getAs[String]("decision") == "continue")
    assert(rows(1).getAs[Long]("llr_micro") == 4353120L)
    assert(rows(1).getAs[String]("decision") == "accept_h1")
  }

  // ---- q342 quantile normalization -----------------------------------------

  test("quantileNormalize: shifted sources map onto the pooled deciles") {
    // source A: 10,20..100; source B: 110,120..200 — exact interpolated cuts
    val d = docs((1L to 10L).map(i => (i, "t", "en")) ++
      (11L to 20L).map(i => (i, "t", "en")))
      .withColumn("source", when(col("doc_id") <= 10, "A").otherwise("B"))
      .withColumn("n_chars",
        when(col("doc_id") <= 10, col("doc_id") * 10).otherwise(col("doc_id") * 10))
    val out = StatisticalAudits.quantileNormalize(d).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("decile")) -> r).toMap
    // A's median: values 10..100, p=0.5 → idx 4.5 → 55.0
    assert(out(("A", 5L)).getAs[Double]("src_cut") == 55.0)
    assert(out(("B", 5L)).getAs[Double]("src_cut") == 155.0)
    // pooled median: values 10..200 step 10, idx 9.5 → 105.0
    assert(out(("A", 5L)).getAs[Double]("global_cut") == 105.0)
    assert(out(("A", 5L)).getAs[Double]("shift") == 50.0)
    assert(out(("B", 5L)).getAs[Double]("shift") == -50.0)
    (1L to 9L).foreach { k =>
      assert(out(("A", k)).getAs[Double]("shift") > 0)
      assert(out(("B", k)).getAs[Double]("shift") < 0)
    }
  }

  // ---- q343 Simpson's-paradox audit -----------------------------------------

  test("simpsonAudit: within-slice positive, pooled negative -> flip flagged") {
    // s1 (short docs, mostly en), s2 (long docs, mostly not): each slice
    // correlates length~en POSITIVELY, the pool correlates NEGATIVELY
    val d = Seq(
      (1L, "t", "de", "s1", 1L), (2L, "t", "en", "s1", 2L), (3L, "t", "en", "s1", 3L),
      (4L, "t", "de", "s2", 101L), (5L, "t", "de", "s2", 102L), (6L, "t", "en", "s2", 103L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = StatisticalAudits.simpsonAudit(d).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out("s1").getAs[Double]("corr_src") > 0)
    assert(out("s2").getAs[Double]("corr_src") > 0)
    assert(out("s1").getAs[Double]("corr_pooled") < 0)
    assert(out("s1").getAs[Boolean]("sign_flip"))
    assert(out("s2").getAs[Boolean]("sign_flip"))
  }

  // ---- q344 BH-FDR drift panel ----------------------------------------------

  test("bhFdrDrift: the shifted source is rejected, interleaved twins are not") {
    // sA (evens 2..100) and sB (odds 1..99) interleave — tiny KS vs rest;
    // sC sits at 1000+ with only 5 docs — KS 1.0, p ~1.5e-4, the only reject
    val d = docs(
      (1L to 50L).map(i => (i, "t", "en")) ++
      (51L to 100L).map(i => (i, "t", "en")) ++
      (101L to 105L).map(i => (i, "t", "en")))
      .withColumn("source", when(col("doc_id") <= 50, "sA")
        .when(col("doc_id") <= 100, "sB").otherwise("sC"))
      .withColumn("n_chars",
        when(col("doc_id") <= 50, col("doc_id") * 2)
          .when(col("doc_id") <= 100, (col("doc_id") - 50) * 2 - 1)
          .otherwise(col("doc_id") * 10))
    val out = StatisticalAudits.bhFdrDrift(d).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out("sC").getAs[Boolean]("rejected"))
    assert(out("sC").getAs[Double]("ks_d") == 1.0)
    assert(!out("sA").getAs[Boolean]("rejected"))
    assert(!out("sB").getAs[Boolean]("rejected"))
    assert(out("sC").getAs[Long]("rank") == 1L)
  }

  // ---- q345 Mahalanobis OOD audit --------------------------------------------

  test("mahalanobisAudit: exact integer z² terms; the planted outlier is flagged") {
    // 20 vectors at (0,0) + one at (10,0): dim0 population z² = 20 for
    // the outlier (beyond the 9·D = 18 budget), 0.05 for the rest;
    // dim1 is zero-variance and contributes exactly 0
    val d = vecs((1L to 20L).map(i => (i, Seq(0f, 0f), 0)) :+ (21L, Seq(10f, 0f), 0))
    val r = StatisticalAudits.mahalanobisAudit(d).collect()(0)
    assert(r.getAs[Long]("n_vecs") == 21L)
    assert(r.getAs[Long]("dims") == 2L)
    assert(r.getAs[Long]("max_md2_micro") == 20000000L)
    assert(r.getAs[Long]("avg_md2_micro") == 1000000L)
    assert(r.getAs[Long]("n_beyond_3sigma") == 1L)
  }

  // ---- q346 padding waste ----------------------------------------------------

  test("paddingWaste: constant lengths waste nothing randomly; bimodal does") {
    val const = docs((1L to 32L).map(i => (i, "a b c d e", "en")))
    val r0 = StatisticalAudits.paddingWaste(const).collect()(0)
    assert(r0.getAs[Long]("expected_max_micro") == 5000000L)
    assert(r0.getAs[Long]("random_waste_ppm") == 0L)
    // bucket ceiling 32: waste 27 of every 32 padded tokens
    assert(r0.getAs[Long]("bucketed_waste_ppm") == 27L * 1000000L / 32L)
    // half the docs have 1 token, half 101: E[max of 16] =
    // 1·(1/2^16) + 101·(1 − 1/2^16), per-value floors → 15 + 100998458
    val bimodal = docs((1L to 10L).map(i => (i, "a", "en")) ++
      (11L to 20L).map(i => (i, Seq.fill(101)("a").mkString(" "), "en")))
    val r1 = StatisticalAudits.paddingWaste(bimodal).collect()(0)
    assert(r1.getAs[Long]("expected_max_micro") == 15L + 100998458L)
    assert(r1.getAs[Long]("random_waste_ppm") > 400000L,
      "random batching wastes ~half the padded tokens on a bimodal mix")
  }

  // ---- q347 empirical-Bayes shrinkage ----------------------------------------

  test("ebShrinkage: the tiny source shrinks hardest; flat rates don't move") {
    val d = docs(
      (1L to 100L).map(i => (i, "t", if (i <= 20) "en" else "de")) ++
        (101L to 200L).map(i => (i, "t", if (i <= 180) "en" else "de")) ++
        Seq((201L, "t", "en"), (202L, "t", "en")))
      .withColumn("source", when(col("doc_id") <= 100, "A")
        .when(col("doc_id") <= 200, "B").otherwise("C"))
    val out = StatisticalAudits.ebShrinkage(d).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val mu = out("A").getAs[Long]("mu_ppm").toDouble
    def frac(s: String) = {
      val raw = out(s).getAs[Long]("raw_ppm").toDouble
      val shr = out(s).getAs[Long]("shrunk_ppm").toDouble
      math.abs(raw - shr) / math.abs(raw - mu)
    }
    assert(out("C").getAs[Long]("shrunk_ppm") < out("C").getAs[Long]("raw_ppm"))
    assert(frac("C") > 5 * frac("A"), "n=2 source shrinks far harder than n=100")
    // zero between-source variance → no prior strength → rates unchanged
    val flat = docs((1L to 20L).map(i =>
      (i, "t", if (i % 2 == 0) "en" else "de")))
      .withColumn("source", when(col("doc_id") <= 10, "A").otherwise("B"))
    StatisticalAudits.ebShrinkage(flat).collect().foreach { r =>
      assert(r.getAs[Long]("shrunk_ppm") == r.getAs[Long]("raw_ppm"))
    }
  }

  // ---- q348 post-stratified ATE ----------------------------------------------

  test("postStratifiedAte: stratification removes the activity confound") {
    // band 2 (64 events): 3 treated + 1 control, everyone buys 32 times;
    // band 1 (32 events): 1 treated + 3 control, nobody buys.
    // Within every band the arms are identical → ATE_ps = 0, but the
    // treated arm is activity-heavy → naive diff = 24 − 8 = 16.
    def user(id: Long, nEvents: Int, nPurchase: Int) =
      (0 until nEvents).map { i =>
        (id * 1000 + i, id, 1700000000000000L + i,
          if (i < nPurchase) "purchase" else "view", 0.0, "{}")
      }
    val ev = (user(1, 64, 32) ++ user(3, 64, 32) ++ user(5, 64, 32) ++
      user(2, 64, 32) ++ user(7, 32, 0) ++
      user(4, 32, 0) ++ user(6, 32, 0) ++ user(8, 32, 0))
      .toDF("event_id", "user_id", "us", "event_type", "value", "props")
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("us")).as("ts"), col("event_type"),
        col("value"), col("props"))
    val r = StatisticalAudits.postStratifiedAte(ev).collect()(0)
    assert(r.getAs[Long]("n_users") == 8L)
    assert(r.getAs[Long]("n_bands_used") == 2L)
    assert(r.getAs[Long]("naive_diff_micro") == 16000000L)
    assert(r.getAs[Long]("ate_ps_micro") == 0L)
  }

  // ---- q349 MDE power gate ----------------------------------------------------

  test("minDetectableEffect: exact floors; small lift unpowered, big lift powered") {
    def user(id: Long, converted: Boolean) = Seq(
      (id * 10, id, 1700000000000000L + id,
        if (converted) "purchase" else "view", 0.0, "{}"))
    def ev(tConv: Int, cConv: Int) =
      ((1L to 100L).flatMap(i => user(2 * i - 1, i <= tConv)) ++
        (1L to 100L).flatMap(i => user(2 * i, i <= cConv)))
        .toDF("event_id", "user_id", "us", "event_type", "value", "props")
        .select(col("event_id"), col("user_id"),
          timestamp_micros(col("us")).as("ts"), col("event_type"),
          col("value"), col("props"))
    def mde(pPpm: Long, nh: Double) = math.floor(
      2.801585218112969 * math.sqrt(
        2.0 * (pPpm / 1e6) * (1.0 - pPpm / 1e6) / nh) * 1e6).toLong
    // 20% vs 10%: p̄ = .15, harmonic n = 100 → MDE ≈ 0.1415 > 0.10 diff
    val r0 = StatisticalAudits.minDetectableEffect(ev(20, 10)).collect()(0)
    assert(r0.getAs[Long]("p_ppm") == 150000L)
    assert(r0.getAs[Long]("mde_micro") == mde(150000L, 100.0))
    assert(r0.getAs[Long]("diff_micro") == 100000L)
    assert(!r0.getAs[Boolean]("powered"))
    // 80% vs 10%: diff 0.70 ≫ MDE → powered
    val r1 = StatisticalAudits.minDetectableEffect(ev(80, 10)).collect()(0)
    assert(r1.getAs[Long]("diff_micro") == 700000L)
    assert(r1.getAs[Boolean]("powered"))
  }

  // ---- q350 embedding PSI drift ------------------------------------------------

  test("embeddingPsiDrift: identical halves score 0; a flipped half alarms") {
    val same = vecs((1L to 40L).map(i => (i, Seq(1f, 2f, -1f), 0)))
    StatisticalAudits.embeddingPsiDrift(same).collect().foreach { r =>
      assert(r.getAs[Long]("n_ref") == r.getAs[Long]("n_cur"))
      assert(r.getAs[Double]("psi_part") == 0.0)
    }
    // even ids at +e1, odd ids at −e1: the two halves occupy different
    // sign buckets → large positive PSI mass
    val flipped = vecs((1L to 40L).map(i =>
      (i, if (i % 2 == 0) Seq(1f, 0f) else Seq(-1f, 0f), 0)))
    val parts = StatisticalAudits.embeddingPsiDrift(flipped).collect()
    assert(parts.map(_.getAs[Double]("psi_part")).sum > 1.0,
      "a fully separated population must alarm")
    assert(parts.length <= 64)
  }

  // ---- q351 dedup-weighted mass --------------------------------------------

  test("dedupWeightedMass: duplicates split one unit of mass; singletons keep theirs") {
    // docs 1,2 are identical (one 2-cluster), doc 3 unique:
    // eff = 3/2 + 3/2 + 3 = 6 of 9 raw tokens → 666666 ppm
    val d = docs(Seq((1L, "a b c", "en"), (2L, "a b c", "en"), (3L, "x y z", "en")))
    val r = StatisticalAudits.dedupWeightedMass(d).collect()(0)
    assert(r.getAs[Long]("n_docs") == 3L)
    assert(r.getAs[Long]("n_tokens") == 9L)
    assert(r.getAs[Long]("n_clustered") == 2L)
    assert(r.getAs[Long]("eff_micro") == 6000000L)
    assert(r.getAs[Long]("eff_ratio_ppm") == 666666L)
  }

  // ---- partition-order independence ------------------------------------------

  test("round-9 reductions are partition-order independent") {
    // the per-term quantize-before-sum doctrine, checked end-to-end: a
    // different partitioning must reproduce every row bit-for-bit
    val d = spark.read.parquet(s"${sf("")}/documents.parquet")
    val d7 = d.repartition(7)
    Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      StatisticalAudits.poissonBootstrap(_),
      StatisticalAudits.heapsLaw(_),
      StatisticalAudits.renyiEfficiency(_),
      StatisticalAudits.ebShrinkage(_),
      StatisticalAudits.confidentLearning(_),
      StatisticalAudits.dawidSkene(_)
    ).foreach { op =>
      assert(op(d).collect().toSeq == op(d7).collect().toSeq)
    }
    val e = spark.read.parquet(s"${sf("")}/embeddings.parquet")
    assert(StatisticalAudits.embeddingPsiDrift(e).collect().toSeq ==
      StatisticalAudits.embeddingPsiDrift(e.repartition(7)).collect().toSeq)
  }

  // ---- q337 McNemar --------------------------------------------------------

  test("mcnemarTest: hand-counted discordant pairs and the corrected statistic") {
    // en docs: 3 where A right / B wrong, 1 where A wrong / B right
    val d = docs(Seq(
      (1L, "the a and xxxxxxxxxx", "en"), (2L, "the a and xxxxxxxxxx", "en"),
      (3L, "the a and xxxxxxxxxx", "en"), (4L, "zz ee ee", "en")))
    val row = Modeling.mcnemarTest(d).collect()(0)
    assert(row.getAs[Long]("b") == 3L)
    assert(row.getAs[Long]("c") == 1L)
    assert(row.getAs[Double]("mcnemar_chi2") == 0.25)
  }
}
