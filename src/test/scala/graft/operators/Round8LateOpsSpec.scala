package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Fixture and property tests for the late round-8 additions q314–q321:
  * modularity, assortativity, HyperBall, Kendall tau-b, Krippendorff α,
  * rendezvous placement, Walsh–Hadamard image hash, diff-in-differences.
  */
class Round8LateOpsSpec extends SparkSpec {
  import spark.implicits._

  private def li(pairs: Seq[(Long, Long)]) =
    pairs.toDF("l_orderkey", "l_partkey")

  // ---- q314 modularity ----------------------------------------------------

  test("lpModularity: two disjoint triangles -> Q = 0.5 over 2 communities") {
    // orders 1 and 2 each buy a 3-item set: two triangles, no bridge
    val d = li(Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 4L), (2L, 5L), (2L, 6L)))
    val r = { val e = GraphOps.copurchaseEdges(d)
      GraphOps.lpModularity(e, GraphOps.lpLabels(e, 2)).collect()(0) }
    assert(r.getAs[Long]("n_edges") == 6L)
    assert(r.getAs[Long]("n_communities") == 2L)
    assert(r.getAs[Long]("n_intra") == 6L)
    assert(r.getAs[Double]("modularity") == 0.5)
  }

  test("lpModularity: corpus graph scores a bounded, defined Q") {
    val d = spark.read.parquet(s"${sf("")}/lineitem.parquet")
    val r = { val e = GraphOps.copurchaseEdges(d)
      GraphOps.lpModularity(e, GraphOps.lpLabels(e, 2)).collect()(0) }
    val q = r.getAs[Double]("modularity")
    assert(q >= -1.0 && q <= 1.0)
    assert(r.getAs[Long]("n_intra") <= r.getAs[Long]("n_edges"))
  }

  // ---- q315 assortativity -------------------------------------------------

  test("degreeAssortativity: a star is perfectly disassortative (r = -1)") {
    // three 2-item orders sharing part 1: star K1,3
    val d = li(Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 4L)))
    val r = GraphOps.degreeAssortativity(GraphOps.copurchaseEdges(d)).collect()(0)
    assert(r.getAs[Long]("n_edges") == 3L)
    assert(r.getAs[Double]("assortativity") == -1.0)
  }

  test("degreeAssortativity: a regular graph (triangle) has zero variance -> null") {
    val d = li(Seq((1L, 1L), (1L, 2L), (1L, 3L)))
    val r = GraphOps.degreeAssortativity(GraphOps.copurchaseEdges(d)).collect()(0)
    assert(r.isNullAt(r.fieldIndex("assortativity")))
  }

  // ---- q316 HyperBall -----------------------------------------------------

  test("hyperBall: path graph exact balls are exact and estimates grow with radius") {
    // path 1-2-3-4-5 from four 2-item orders
    val d = li(Seq((100L, 1L), (100L, 2L), (101L, 2L), (101L, 3L),
      (102L, 3L), (102L, 4L), (103L, 4L), (103L, 5L)))
    val rows = GraphOps.hyperBall(GraphOps.copurchaseEdges(d), rounds = 2, reportN = 6).collect()
    val exact = rows.map(r => (r.getAs[Int]("round"), r.getAs[Long]("part")) ->
      r.getAs[Long]("exact_ball")).toMap
    assert(exact((1, 1L)) == 2 && exact((1, 2L)) == 3 && exact((1, 3L)) == 3
      && exact((1, 5L)) == 2)
    assert(exact((2, 1L)) == 3 && exact((2, 2L)) == 4 && exact((2, 3L)) == 5
      && exact((2, 4L)) == 4 && exact((2, 5L)) == 3)
    // radius-0 ball is a single element: linear counting gives 16*ln(16/15)
    // exactly unless two ids collide in one register (impossible for 1 node)
    rows.filter(_.getAs[Int]("round") == 0).foreach { r =>
      assert(math.abs(r.getAs[Double]("hll_est") - 16.0 * math.log(16.0 / 15.0)) < 1e-3)
    }
    // register sets only grow, so the estimate is monotone in the radius
    val byPart = rows.groupBy(_.getAs[Long]("part"))
    byPart.values.foreach { rs =>
      val est = rs.sortBy(_.getAs[Int]("round")).map(_.getAs[Double]("hll_est"))
      est.sliding(2).foreach(w => assert(w(1) >= w(0) - 1e-9))
    }
  }

  // ---- q317 Kendall tau-b -------------------------------------------------

  private def tauFixture(post: Seq[Double]) = {
    val nation = Seq(0L, 1L, 2L).toDF("n_nationkey")
    val customer = Seq((10L, 0L), (11L, 1L), (12L, 2L)).toDF("c_custkey", "c_nationkey")
    val pre = Seq(100.0, 200.0, 300.0)
    val orders = (pre.zipWithIndex.map { case (p, i) => (10L + i, "1997-01-01", p) } ++
      post.zipWithIndex.map { case (p, i) => (10L + i, "1999-01-01", p) })
      .toDF("o_custkey", "o_orderdate", "o_totalprice")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
    (orders, customer, nation)
  }

  test("kendallTau: preserved leaderboard -> tau 1, reversed -> tau -1") {
    val (o1, c, n) = tauFixture(Seq(10.0, 20.0, 30.0))
    val r1 = RobustStats.kendallTau(o1, c, n).collect()(0)
    assert(r1.getAs[Long]("n_pairs") == 3 && r1.getAs[Long]("n_concordant") == 3)
    assert(r1.getAs[Double]("tau_b") == 1.0)
    val (o2, _, _) = tauFixture(Seq(30.0, 20.0, 10.0))
    val r2 = RobustStats.kendallTau(o2, c, n).collect()(0)
    assert(r2.getAs[Long]("n_discordant") == 3)
    assert(r2.getAs[Double]("tau_b") == -1.0)
  }

  // ---- q318 Krippendorff alpha --------------------------------------------

  test("krippendorffAlpha: unanimous raters with both categories present -> alpha 1") {
    val d = (Seq.tabulate(5)(i =>
      (i.toLong, "the thee and a sentence here everyone agrees", "en", "s", 45L)) :+
      (9L, "zzz yyy xxx www", "de", "s", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextAnalysis.krippendorffAlpha(d).collect()(0)
    assert(r.getAs[Double]("d_obs") == 0.0)
    assert(r.getAs[Double]("k_alpha") == 1.0)
  }

  test("krippendorffAlpha: corpus alpha is bounded and its chance model differs from Fleiss") {
    val d = spark.read.parquet(s"${sf("")}/documents.parquet")
    val a = TextAnalysis.krippendorffAlpha(d).collect()(0)
    val k = TextAnalysis.fleissKappa(d).collect()(0)
    assert(a.getAs[Double]("k_alpha") <= 1.0)
    assert(a.getAs[Double]("d_exp") > 0.0)
    // same panel, same votes: the two statistics must sit close (the
    // N vs N-1 chance model is the only difference) but not collide
    assert(math.abs(a.getAs[Double]("k_alpha") - k.getAs[Double]("fleiss_kappa")) < 0.05)
  }

  // ---- q320 rendezvous placement ------------------------------------------

  test("rendezvousPlacement: JVM argmax parity and movers all land on the added shard") {
    val docs = spark.read.parquet(s"${sf("")}/documents.parquet")
      .select("doc_id", "n_chars").as[(Long, Long)].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: Int, d: Long): Long = {
      val hex = md.digest(s"hrw$s|$d".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    def winner(d: Long, n: Int): Int =
      (0 until n).maxBy(s => (h(s, d), s))
    val expected = docs.map { case (d, nc) =>
      (winner(d, 8), nc, winner(d, 9) != winner(d, 8), winner(d, 9))
    }
    // HRW minimal-migration theorem: every mover's destination IS shard 8
    expected.filter(_._3).foreach { case (_, _, _, dest) => assert(dest == 8) }
    val exp = expected.groupBy(_._1).map { case (s, rs) =>
      s.toLong -> (rs.length.toLong, rs.map(_._2).sum, rs.count(_._3).toLong)
    }
    val got = Layout.rendezvousPlacement(
      spark.read.parquet(s"${sf("")}/documents.parquet")).collect()
    assert(got.map(_.getAs[Long]("n_docs")).sum == docs.length.toLong)
    got.foreach { r =>
      val (nd, nc, mv) = exp(r.getAs[Long]("shard"))
      assert(r.getAs[Long]("n_docs") == nd)
      assert(r.getAs[Long]("n_chars") == nc)
      assert(r.getAs[Long]("n_moved_out") == mv)
    }
  }

  // ---- q321 Walsh-Hadamard image hash -------------------------------------

  test("wHash64: constant raster keeps only the DC bit") {
    val png = MediaCodec.encodePng(8, 8, (_, _) => 100)
    assert(MediaCodec.wHash64(png) == 1L)
  }

  test("wHash64: real decode matches the closed-form WHT of the fixture raster") {
    for (seed <- Seq(0L, 5L, 17L, 28L)) {
      val w = (8 + seed % 13).toInt
      val h = (8 + seed % 11).toInt
      val png = MediaCodec.encodePng(w, h,
        (x, y) => ((x * 31 + y * 17 + seed * 7) % 256).toInt)
      // closed form: nearest resize then signed Hadamard sum
      def px(x: Int, y: Int): Long = ((x * w / 8) * 31 + (y * h / 8) * 17 + seed * 7) % 256
      var expect = 0L
      for (u <- 0 until 8; v <- 0 until 8) {
        var c = 0L
        for (x <- 0 until 8; y <- 0 until 8) {
          val neg = (Integer.bitCount(x & u) + Integer.bitCount(y & v)) & 1
          c += (if (neg == 1) -px(x, y) else px(x, y))
        }
        if (c > 0) expect |= 1L << (u * 8 + v)
      }
      assert(MediaCodec.wHash64(png) == expect, s"seed $seed")
    }
  }

  test("imageWHashGroups: covers every document exactly once across 29 classes") {
    val d = spark.read.parquet(s"${sf("")}/documents.parquet")
    val rows = NonSqlOps.imageWHashGroups(d).collect()
    assert(rows.map(_.getAs[Long]("n_classes")).sum == 29L)
    assert(rows.map(_.getAs[Long]("n_images")).sum == d.count())
  }

  // ---- q319 diff-in-differences -------------------------------------------

  test("diffInDiff: hand-computed 2x2 panel") {
    // treat users 1,3 (odd); control 2,4; purchases t: 1 pre / 5 post,
    // c: 2 pre / 3 post -> DiD = ((5-1)*2 - (3-2)*2) / (2*2) = 1.5
    val rows =
      Seq.tabulate(1)(i => (1L, "2024-01-05 00:00:00", "purchase")) ++
      Seq.tabulate(5)(i => (1L, "2024-01-20 00:00:00", "purchase")) ++
      Seq.tabulate(2)(i => (2L, "2024-01-05 00:00:00", "purchase")) ++
      Seq.tabulate(3)(i => (2L, "2024-01-20 00:00:00", "purchase")) ++
      Seq((3L, "2024-01-05 00:00:00", "view"), (4L, "2024-01-05 00:00:00", "view"))
    val e = rows.toDF("user_id", "ts", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = RobustStats.diffInDiff(e).collect()(0)
    assert(r.getAs[Long]("n_treat") == 2 && r.getAs[Long]("n_ctrl") == 2)
    assert(r.getAs[Double]("mean_treat_pre") == 0.5)
    assert(r.getAs[Double]("mean_treat_post") == 2.5)
    assert(r.getAs[Double]("did_estimate") == 1.5)
  }

  // ---- q322 Brier decomposition -------------------------------------------

  test("brierDecomposition: Murphy identity holds to quantization tolerance on the corpus") {
    val d = spark.read.parquet(s"${sf("")}/documents.parquet")
    val r = Modeling.brierDecomposition(d).collect()(0)
    val (b, rel, res, unc, ece) = (r.getAs[Double]("brier"), r.getAs[Double]("reliability"),
      r.getAs[Double]("resolution"), r.getAs[Double]("uncertainty"), r.getAs[Double]("ece"))
    // Brier = REL - RES + UNC (each term nano-quantized + rounded to 6dp)
    assert(math.abs(b - (rel - res + unc)) < 2e-5, s"$b vs ${rel - res + unc}")
    Seq(b, rel, res, unc, ece).foreach(v => assert(v >= 0.0 && v <= 1.0))
    assert(res <= unc + 1e-9) // resolution can never exceed uncertainty
  }

  // ---- q323 leave-one-source-out valuation --------------------------------

  test("looSourceValuation: removing a poisoned source raises eval accuracy") {
    // label 0 lives near (0,0), label 1 near (0.5,0.5); source 'bad'
    // contributes label-0 rows placed AT label 1's location, dragging the
    // full model's label-0 centroid toward label 1
    def emb(a: Float, b: Float) = Array(a, b)
    val rows = Seq(
      // good train rows (ids not divisible by 7)
      (1L, emb(0f, 0f), 0), (2L, emb(0.02f, 0f), 0), (3L, emb(0f, 0.02f), 0),
      (4L, emb(0.5f, 0.5f), 1), (5L, emb(0.52f, 0.5f), 1), (6L, emb(0.5f, 0.52f), 1),
      // poisoned train rows: label 0 far PAST label 1, dragging the full
      // model's label-0 centroid to ~(0.67, 0.67)
      (8L, emb(1f, 1f), 0), (9L, emb(1.02f, 1f), 0), (10L, emb(1f, 1.02f), 0),
      (11L, emb(0.98f, 1f), 0), (12L, emb(1f, 0.98f), 0), (13L, emb(1.02f, 1.02f), 0),
      // eval rows (ids divisible by 7): label 1 displaced toward the
      // poisoned centroid, label 0 at the clean origin
      (7L, emb(0f, 0f), 0), (14L, emb(0.6f, 0.6f), 1), (21L, emb(0.02f, 0.02f), 0),
      (28L, emb(0.62f, 0.62f), 1))
    val e = rows.toDF("vec_id", "embedding", "label")
    val docs = rows.map { case (id, _, _) =>
      (id, if (id >= 8L && id <= 13L) "bad" else "good")
    }.toDF("doc_id", "source")
    val out = Clustering.looSourceValuation(e, docs).collect()
      .map(r => r.getAs[String]("excluded_source") -> r).toMap
    assert(out("bad").getAs[Long]("delta_ppm") > 0L,
      "excluding the poisoned source must raise accuracy")
    assert(out("bad").getAs[Long]("acc_ppm") == 1000000L)
    assert(out("bad").getAs[Long]("delta_ppm") > out("good").getAs[Long]("delta_ppm"))
  }

  // ---- q324 greedy max-coverage -------------------------------------------

  test("maxCoverageSources: greedy picks by marginal shingle gain and stops when exhausted") {
    val d = Seq(
      (1L, "abcdefgh", "en", "A", 8L),   // shingles abc..fgh (6)
      (2L, "vwxyz", "en", "B", 5L),      // vwx, wxy, xyz (3)
      (3L, "abcd", "en", "C", 4L))       // subset of A
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = CorpusOps.maxCoverageSources(d).collect()
    assert(rows.length == 2) // C adds nothing; round 3 contributes no row
    assert(rows(0).getAs[String]("source") == "A")
    assert(rows(0).getAs[Long]("new_tokens") == 6L)
    assert(rows(1).getAs[String]("source") == "B")
    assert(rows(1).getAs[Long]("new_tokens") == 3L)
    assert(rows(1).getAs[Long]("cum_tokens") == 9L)
  }

  // ---- q326 blocking quality ----------------------------------------------

  test("blockingQuality: recall and candidates grow with bands, precision does not") {
    val d = spark.read.parquet(s"${sf("")}/documents.parquet")
    val rows = Dedup.blockingQuality(d).collect().sortBy(_.getAs[Int]("bands"))
    assert(rows.map(_.getAs[Int]("bands")).toSeq == Seq(1, 2, 4))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_caught") <=
        math.min(r.getAs[Long]("n_true"), r.getAs[Long]("n_candidates")))
      assert(r.getAs[Long]("reduction_ppb") <= 1000000000L)
    }
    // more bands -> superset candidates -> monotone candidates and recall
    rows.sliding(2).foreach { w =>
      assert(w(1).getAs[Long]("n_candidates") >= w(0).getAs[Long]("n_candidates"))
      assert(w(1).getAs[Long]("n_caught") >= w(0).getAs[Long]("n_caught"))
    }
  }

  // ---- q332 SCD2 status history -------------------------------------------

  test("statusHistory: duplicate readings collapse, intervals chain, last spell is current") {
    val e = Seq(
      (1L, "2024-01-01 10:00:00", 7L, "A"), (2L, "2024-01-01 11:00:00", 7L, "A"),
      (3L, "2024-01-01 12:00:00", 7L, "B"), (4L, "2024-01-01 13:00:00", 7L, "A"))
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    val rows = graft.operators.LogPipeline.statusHistory(e).collect()
    assert(rows.length == 3, "A,A collapses into one spell")
    assert(rows.map(_.getAs[String]("status")).toSeq == Seq("A", "B", "A"))
    assert(rows(0).getAs[Long]("n_events") == 2L)
    // each spell's valid_to is the next spell's valid_from; only the last is open
    assert(rows(0).getAs[String]("valid_to") == rows(1).getAs[String]("valid_from"))
    assert(rows(1).getAs[String]("valid_to") == rows(2).getAs[String]("valid_from"))
    assert(!rows(0).getAs[Boolean]("is_current") && rows(2).getAs[Boolean]("is_current"))
    assert(rows(2).getAs[String]("valid_to") == null)
  }

  // ---- q331 Neyman allocation ---------------------------------------------

  test("neymanAllocation: allocations sum exactly to the budget and follow N_h*sd") {
    val corpus = spark.read.parquet(s"${sf("")}/documents.parquet")
    val rows = CorpusOps.neymanAllocation(corpus).collect()
    assert(rows.map(_.getAs[Long]("alloc")).sum == 1000L, "Hamilton hits the budget exactly")
    // a high-variance stratum must out-allocate an equal-size uniform one
    val d = (
      (0 until 50).map(i => (i.toLong, "t", "en", "flat", 100L)) ++
      (50 until 100).map(i => (i.toLong, "t", "en", "wild", if (i % 2 == 0) 10L else 5000L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusOps.neymanAllocation(d).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("alloc")).toMap
    assert(out("wild") > out("flat"))
    assert(out("wild") + out("flat") == 1000L)
  }

  // ---- q330 source JSD matrix ---------------------------------------------

  test("sourceJsdMatrix: zero for identical sources, bounded by ln 2, full matrix on corpus") {
    val d = Seq(
      (1L, "alpha beta gamma", "en", "s1", 16L), (2L, "alpha beta delta", "en", "s1", 16L),
      (3L, "alpha beta gamma", "en", "s2", 16L), (4L, "alpha beta delta", "en", "s2", 16L),
      (5L, "omega omega omega", "en", "s3", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Ranking.sourceJsdMatrix(d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Double]("jsd")).toMap
    assert(out(("s1", "s2")) == 0.0, "identical distributions -> JSD 0")
    assert(out(("s1", "s3")) > out(("s1", "s2")))
    out.values.foreach(v => assert(v >= 0.0 && v <= math.log(2) + 1e-9))
    val corpus = spark.read.parquet(s"${sf("")}/documents.parquet")
    val rows = Ranking.sourceJsdMatrix(corpus).collect()
    val nSrc = corpus.select("source").distinct().count()
    assert(rows.length == nSrc * (nSrc - 1) / 2)
  }

  // ---- q329 paired fold comparison ----------------------------------------

  test("pairedFoldComparison: equal classifiers give zero mean and undefined t; corpus is finite") {
    // texts where BOTH raters agree on every doc: all-stopword English
    // (both predict en, y = en) and e-free German (both predict not-en)
    val tie = (0 until 40).map(i =>
      if (i % 2 == 0) (i.toLong, "the the the the", "en", "s", 15L)
      else (i.toLong, "zz yy xx ww", "de", "s", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Modeling.pairedFoldComparison(tie).collect()(0)
    assert(r.getAs[Double]("mean_diff_ppm") == 0.0)
    assert(r.isNullAt(r.fieldIndex("t_stat")), "zero variance -> undefined t")
    val d = spark.read.parquet(s"${sf("")}/documents.parquet")
    val c = Modeling.pairedFoldComparison(d).collect()(0)
    assert(c.getAs[Long]("k") == 5L)
    assert(c.getAs[Long]("n_total") == d.count())
    // sign of t must follow the sign of the mean difference (or both null)
    if (!c.isNullAt(c.fieldIndex("t_stat")))
      assert(c.getAs[Double]("t_stat").sign == c.getAs[Double]("mean_diff_ppm").sign ||
        c.getAs[Double]("mean_diff_ppm") == 0.0)
  }

  // ---- q328 Markov entropy rate -------------------------------------------

  test("markovEntropyRate: deterministic chain scores 0, uniform 2-state scores ln 2") {
    def ev(rows: Seq[(Long, Int, String)]) = rows.map { case (u, i, t) =>
      (u * 1000 + i, f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d", u, t)
    }.toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    // strict alternation: A->B and B->A are the only transitions
    val det = ev((0 until 20).map(i => (1L, i, if (i % 2 == 0) "A" else "B")))
    val rDet = SetOpsAndSessions.markovEntropyRate(det).collect()
    assert(rDet.forall(_.getAs[Long]("h_micro") == 0L))
    assert(rDet.head.getAs[Long]("rate_micro") == 0L)
    // uniform: from each state, next is A or B with equal counts
    // (sequence AABB repeated: transitions A->A, A->B, B->B, B->A equal)
    val uni = ev((0 until 41).map(i => (1L, i, if (i % 4 < 2) "A" else "B")))
    val rUni = SetOpsAndSessions.markovEntropyRate(uni).collect()
    val rate = rUni.head.getAs[Long]("rate_micro")
    assert(math.abs(rate - 693147L) < 200L, s"expected ~ln2 micro-nats, got $rate")
  }

  // ---- q327 WOE / information value ---------------------------------------

  test("woeInformationValue: sign-aligned IV terms, balanced bins, separation ranks higher") {
    val d = spark.read.parquet(s"${sf("")}/documents.parquet")
    val rows = Modeling.woeInformationValue(d).collect()
    assert(rows.length == 10)
    rows.foreach(r => assert(r.getAs[Long]("iv_micro") >= 0L,
      "IV terms are non-negative by sign alignment"))
    // percentile-cut bins are equal-frequency up to ties: each decile
    // holds ~n/10 docs, and every doc lands in exactly one bin
    val sizes = rows.map(_.getAs[Long]("n"))
    val n = sizes.sum
    assert(sizes.forall(s => s >= n / 20 && s <= n / 5),
      s"deciles should stay near n/10 up to ties: ${sizes.mkString(",")}")
    // a perfectly separating feature must dominate an uninformative one
    val sep = (0 until 100).map(i =>
      (i.toLong, "t", if (i < 50) "en" else "de", "s", if (i < 50) 10L else 1000L + i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val flat = (0 until 100).map(i =>
      (i.toLong, "t", if (i % 2 == 0) "en" else "de", "s", 100L + i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val ivSep = Modeling.woeInformationValue(sep).collect().map(_.getAs[Long]("iv_micro")).sum
    val ivFlat = Modeling.woeInformationValue(flat).collect().map(_.getAs[Long]("iv_micro")).sum
    assert(ivSep > 10 * ivFlat,
      s"separating feature IV $ivSep should dwarf uninformative $ivFlat")
  }

  // ---- q325 fairness audit ------------------------------------------------

  test("fairnessAudit: hand-computed rates and gaps on a two-source fixture") {
    // source s1: 2 en docs predicted en (tp) + 2 de docs predicted en (fp)
    // source s2: 2 en docs predicted not-en (fn) + 2 de docs not-en (tn)
    val d = Seq(
      (1L, "the a and", "en", "s1", 9L), (2L, "the a and", "en", "s1", 9L),
      (3L, "the a and", "de", "s1", 9L), (4L, "the a and", "de", "s1", 9L),
      (5L, "zz yy xx", "en", "s2", 8L), (6L, "zz yy xx", "en", "s2", 8L),
      (7L, "zz yy xx", "de", "s2", 8L), (8L, "zz yy xx", "de", "s2", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.fairnessAudit(d).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out("s1").getAs[Long]("sel_ppm") == 1000000L)
    assert(out("s2").getAs[Long]("sel_ppm") == 0L)
    assert(out("s1").getAs[Long]("tpr_ppm") == 1000000L)
    assert(out("s2").getAs[Long]("tpr_ppm") == 0L)
    assert(out("s1").getAs[Long]("fpr_ppm") == 1000000L)
    // global selection rate = 1/2 -> dp gaps symmetric ±500000
    assert(out("s1").getAs[Long]("dp_gap_ppm") == 500000L)
    assert(out("s2").getAs[Long]("dp_gap_ppm") == -500000L)
  }
}
