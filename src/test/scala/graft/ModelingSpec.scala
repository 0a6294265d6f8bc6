package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class ModelingSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toSeq.toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))

  test("qualityOls recovers an exact linear relationship (r2 = 1)") {
    // Construct docs whose n_chars is EXACTLY 1 + 2*x1 + 3*x2 by
    // overriding n_chars; x1 = token count, x2 = distinct tokens.
    val base = Seq(
      (1L, "s", "a b"),        // x1=2 x2=2
      (2L, "s", "a a b"),      // x1=3 x2=2
      (3L, "s", "a b c d"),    // x1=4 x2=4
      (4L, "s", "a a a b c"),  // x1=5 x2=3
      (5L, "s", "x y z"))      // x1=3 x2=3
    val d = base.toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("x1", size(split(col("text"), " ")).cast("long"))
      .withColumn("x2", size(array_distinct(split(col("text"), " "))).cast("long"))
      .withColumn("n_chars", lit(1L) + lit(2L) * col("x1") + lit(3L) * col("x2"))
      .drop("x1", "x2")
    val r = operators.Modeling.qualityOls(d).collect()
    assert(r.length == 1)
    val Row(n: Long, b0: Double, b1: Double, b2: Double, r2: Double) = r(0)
    assert(n == 5L)
    assert(b0 == 1.0 && b1 == 2.0 && b2 == 3.0, s"got ($b0, $b1, $b2)")
    assert(r2 == 1.0)
  }

  test("bigramSurprisal matches hand-computed add-one smoothed LM") {
    // corpus: s1 has "a b" twice, s2 has "a c" once.
    // c(a,b)=2 c(a,c)=1 c(a.)=3 V=|{b,c}|=2
    // s1: -ln((2+1)/(3+2)) = -ln(0.6) = 0.510825...  -> floor micro 510825
    // s2: -ln((1+1)/(3+2)) = -ln(0.4) = 0.916290...  -> floor micro 916290 -> 0.9163
    val d = docs((1L, "s1", "a b"), (2L, "s1", "a b"), (3L, "s2", "a c"))
    val rows = operators.Modeling.bigramSurprisal(d).collect()
    val bySrc = rows.map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(bySrc("s1") == ((2L, 0.5108)), s"got ${bySrc("s1")}")
    assert(bySrc("s2") == ((1L, 0.9163)), s"got ${bySrc("s2")}")
  }

  test("bpeMerges replays the classic hand-worked BPE example") {
    // Sennrich-style fixture: low x5, lower x2, newest x6, widest x3.
    // Pair counts round 1: (e,s)=9, (s,t)=9, (w,e)=8 ... argmax tie
    // (e,s) vs (s,t) breaks lexicographically -> (e,s) merged first,
    // then (es,t)=9, then (est's precursors)...
    val freqs = Seq(("low", 5), ("lower", 2), ("newest", 6), ("widest", 3))
    val d = docs(freqs.zipWithIndex.flatMap { case ((w, f), wi) =>
      (1 to f).map(k => ((wi * 10 + k).toLong, "s", w))
    }: _*)
    val merges = operators.Modeling.bpeMerges(d, rounds = 3)
      .collect().map(x => (x.getInt(0), x.getString(1), x.getString(2), x.getLong(4)))
    assert(merges(0) == ((1, "e", "s", 9L)), s"got ${merges(0)}")
    assert(merges(1) == ((2, "es", "t", 9L)), s"got ${merges(1)}")
    // round 3: (l,o) appears in low+lower = 7; (w,est)=6? no: newest has
    // (w,est) 6 + widest (d,est) 3; (l,o)=7 wins
    assert(merges(2) == ((3, "l", "o", 7L)), s"got ${merges(2)}")
  }

  test("rocAuc matches the hand-computed tie-corrected Mann-Whitney value") {
    // source s: positives (en) score 3 and 2, negatives score 1 and 2.
    // Pairwise: (3>1)+(3>2)+(2>1)+half-credit tie (2,2) = 3.5 of 4 -> 0.875.
    // source t: perfect separation -> 1.0; source u: all positive -> null.
    val d = Seq(
      (1L, "en", "s", 3L), (2L, "en", "s", 2L), (3L, "de", "s", 1L), (4L, "de", "s", 2L),
      (5L, "en", "t", 9L), (6L, "de", "t", 1L),
      (7L, "en", "u", 5L))
      .toDF("doc_id", "lang", "source", "n_chars")
    val got = operators.Modeling.rocAuc(d).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(got == Map("s" -> 0.875, "t" -> 1.0, "u" -> null), s"got $got")
  }

  test("targetEncoding: a fold's own targets never leak into its own encoding") {
    val base = (1L to 40L).map(i => (i, "en", if (i <= 20) "a" else "b", 100L + i))
    val enc = operators.Modeling.targetEncoding(base.toDF("doc_id", "lang", "source", "n_chars"))
    // bump ONLY the rows whose fold = 0 by a huge constant; fold-0
    // encodings are out-of-fold means, so they must not move
    val fold0 = operators.Modeling
      .targetEncoding(base.toDF("doc_id", "lang", "source", "n_chars")
        .withColumn("n_chars", when(
          conv(substring(md5(concat(lit("fold|"), col("doc_id"))), 1, 15), 16, 10)
            .cast("long") % 5 === 0, col("n_chars") + 1000000L)
          .otherwise(col("n_chars"))))
    val before = enc.filter(col("fold") === 0)
      .select("source", "oof_mean").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val after = fold0.filter(col("fold") === 0)
      .select("source", "oof_mean").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(before == after, s"fold-0 oof means moved: $before vs $after")
    // and the OTHER folds' encodings DO move (the bump is visible out-of-fold)
    val movedBefore = enc.filter(col("fold") =!= 0).select("oof_mean").collect().map(_.getDouble(0)).toSeq
    val movedAfter = fold0.filter(col("fold") =!= 0).select("oof_mean").collect().map(_.getDouble(0)).toSeq
    assert(movedBefore != movedAfter)
  }

  test("targetEncoding oof means match a plain-Scala recomputation") {
    val base = (1L to 60L).map(i => (i, "en", s"s${i % 3}", 10L * i))
    val df = base.toDF("doc_id", "lang", "source", "n_chars")
    val folds = df.select(col("doc_id"),
      (conv(substring(md5(concat(lit("fold|"), col("doc_id"))), 1, 15), 16, 10)
        .cast("long") % 5).cast("int").as("fold"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = base.map { case (id, _, src, t) => (src, folds(id), t) }
    val expect = rows.groupBy(r => (r._1, r._2)).map { case ((src, f), cell) =>
      val oof = rows.filter(r => r._1 == src && r._2 != f)
      ((src, f),
        BigDecimal(oof.map(_._3).sum.toDouble / oof.size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = operators.Modeling.targetEncoding(df)
      .select("source", "fold", "oof_mean").collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(got == expect, s"got $got expect $expect")
  }

  test("bpeMerges: reliable-checkpoint path agrees with localCheckpoint default") {
    val d = docs((1L, "s", "low lower lowest"), (2L, "t", "low slow glow"))
    val dir = java.nio.file.Files.createTempDirectory("bpeck").toString
    val a = operators.Modeling.bpeMerges(d, rounds = 4).collect().toSeq
    spark.conf.set(graft.plans.Checkpoints.DirConf, dir)
    val b = try operators.Modeling.bpeMerges(d, rounds = 4).collect().toSeq
      finally spark.conf.unset(graft.plans.Checkpoints.DirConf)
    assert(a == b, s"default=$a reliable=$b")
  }

  test("bpeMerges: merged tokens keep merging greedily (aaaa learns aa then aaaa)") {
    val d = docs((1L, "s", Seq.fill(10)("aaaa").mkString(" ")))
    val merges = operators.Modeling.bpeMerges(d, rounds = 2)
      .collect().map(x => (x.getString(1), x.getString(2), x.getString(3)))
    assert(merges(0) == (("a", "a", "aa")))
    assert(merges(1) == (("aa", "aa", "aaaa")),
      s"greedy left-to-right pairing after merge: ${merges.toSeq}")
  }

  test("bigramSurprisal: repeated corpus is less surprising than novel text") {
    val boiler = (1L to 20L).map(i => (i, "common", "the quick brown fox jumps"))
    val novel = Seq((21L, "rare", "zebra quantum flux harmonics glows"))
    val d = docs((boiler ++ novel): _*)
    val bySrc = operators.Modeling.bigramSurprisal(d)
      .collect().map(x => x.getString(0) -> x.getDouble(2)).toMap
    assert(bySrc("common") < bySrc("rare"),
      s"boilerplate should score lower surprisal: $bySrc")
  }

  test("averagePrecision: hand-computed AP; perfect ranking yields 1.0") {
    import org.apache.spark.sql.functions.{col, length}
    // source s: lengths 40,30,20,10; en at lengths 40 and 20 (ranks 1, 3)
    // AP = (1/1 + 2/3) / 2 = 0.8333
    val d = Seq(
      (1L, "en", "s", 40L), (2L, "de", "s", 30L),
      (3L, "en", "s", 20L), (4L, "de", "s", 10L),
      // source p: both en docs outrank the others → AP = 1.0
      (5L, "en", "p", 90L), (6L, "en", "p", 80L), (7L, "de", "p", 10L),
      // source z: no positives → NULL
      (8L, "de", "z", 50L),
    ).toDF("doc_id", "lang", "source", "n_chars").withColumn("text", col("lang"))
    val r = operators.Modeling.averagePrecision(d).collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r("s").getAs[Double]("avg_precision") == 0.8333)
    assert(r("p").getAs[Double]("avg_precision") == 1.0)
    assert(r("z").isNullAt(r("z").fieldIndex("avg_precision")))
  }

  test("bpeEncodeReport: Sennrich fixture fertility after 3 merges") {
    // After merges (e,s), (es,t), (l,o): low → [lo,w] 2 tokens,
    // lower → [lo,w,e,r] 4, newest → [n,e,w,est] 4, widest → [w,i,d,est] 4.
    // Corpus: low x5, lower x2, newest x6, widest x3 (one word per doc)
    // → words 16, tokens 5·2 + 2·4 + 6·4 + 3·4 = 54.
    val freqs = Seq(("low", 5), ("lower", 2), ("newest", 6), ("widest", 3))
    val d = docs(freqs.zipWithIndex.flatMap { case ((w, f), wi) =>
      (1 to f).map(k => ((wi * 10 + k).toLong, "s", w))
    }: _*)
    val r = operators.Modeling.bpeEncodeReport(d, rounds = 3).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_docs") == 16L)
    assert(r(0).getAs[Long]("total_words") == 16L)
    assert(r(0).getAs[Long]("total_tokens") == 54L)
    assert(r(0).getAs[Double]("tokens_per_word") == 3.375)
  }

  // Separable fixture for the logistic classifier: x1 (diversity flag)
  // perfectly predicts lang='en'. "a b c" → x1=1; "a a a" → x1=0.
  private def lrDocs(n: Int) = (1 to n).map { i =>
    if (i % 2 == 0) (i.toLong, "s", "alpha beta gamma", "en")
    else (i.toLong, "s", "word word word word", "fr")
  }.toDF("doc_id", "source", "text", "lang")
    .withColumn("n_chars", length(col("text")))

  test("qualityLogistic: separable feature reaches perfect training accuracy in 2 IRLS rounds") {
    val r = operators.Modeling.qualityLogistic(lrDocs(40)).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n") == 40L)
    assert(r(0).getAs[Long]("n_pos") == 20L)
    assert(r(0).getAs[Double]("accuracy") == 1.0)
    // the separating feature carries a strongly positive weight
    assert(r(0).getAs[Double]("b1") > 1.0)
  }

  test("qualityLogistic is partition-invariant (fixed-point sums before any float fold)") {
    val d = lrDocs(60)
    val a = operators.Modeling.qualityLogistic(d.repartition(1)).collect().toSeq
    val b = operators.Modeling.qualityLogistic(d.repartition(17)).collect().toSeq
    assert(a == b)
  }

  test("cvLogistic: every fold-model learns the separable rule; fold sizes partition the corpus") {
    val n = 90
    val r = operators.Modeling.cvLogistic(lrDocs(n), folds = 3).collect()
    assert(r.map(_.getAs[Long]("fold")).toSeq == Seq(0L, 1L, 2L))
    r.foreach { row =>
      assert(row.getAs[Long]("n_train") + row.getAs[Long]("n_test") == n.toLong)
      assert(row.getAs[Double]("test_accuracy") == 1.0)
      assert(row.getAs[Double]("b1") > 1.0)
    }
    assert(r.map(_.getAs[Long]("n_test")).sum == n.toLong)
  }

  test("miFeatureRanking: perfectly-predictive feature scores ln 2; constant feature scores 0") {
    // has_digit tracks lang exactly (balanced 2+2) -> MI = ln 2;
    // long_doc is constantly 0 (all short) -> MI = 0
    val d = Seq(
      (1L, "s", "alpha beta 1", "en"),
      (2L, "s", "gamma delta 2", "en"),
      (3L, "s", "plain word here", "fr"),
      (4L, "s", "more plain text", "fr"))
      .toDF("doc_id", "source", "text", "lang")
      .withColumn("n_chars", length(col("text")))
    val r = operators.Modeling.miFeatureRanking(d).collect()
      .map(x => x.getAs[String]("feature") -> x).toMap
    assert(r("has_digit").getAs[Double]("mi_nats") == 0.693147) // floor(1e9·ln2)/1e9
    assert(r("has_digit").getAs[Long]("n_f1") == 2L)
    assert(r("has_digit").getAs[Long]("rank") == 1L)
    assert(r("long_doc").getAs[Double]("mi_nats") == 0.0)
  }

  test("bestF1Thresholds: hand-computed sweep picks the hand-computed best operating point") {
    // pos scores {50,40,20}, neg {30,10}:
    // t=20 -> tp=3 fp=1 fn=0, F1=6/7≈0.8571 (best); t=40 -> F1=0.8 (second)
    val d = Seq(
      (1L, 50L, "en"), (2L, 40L, "en"), (3L, 30L, "fr"),
      (4L, 20L, "en"), (5L, 10L, "fr"))
      .toDF("doc_id", "n_chars", "lang")
      .withColumn("source", lit("s")).withColumn("text", lit("x"))
    val r = operators.Modeling.bestF1Thresholds(d).collect()
    assert(r(0).getAs[Long]("threshold") == 20L)
    assert(r(0).getAs[Long]("tp") == 3L && r(0).getAs[Long]("fp") == 1L &&
      r(0).getAs[Long]("fn") == 0L)
    assert(r(0).getAs[Double]("f1") == 0.8571)
    assert(r(1).getAs[Long]("threshold") == 40L)
    assert(r(1).getAs[Double]("f1") == 0.8)
    assert(r.length == 5)
  }

  test("decisionStump: clean split recovered; info gain equals the root entropy") {
    // en at {80,90,100}, fr at {10,20}: t=80 separates perfectly ->
    // wq=0, IG = H(Y) = 3/5·ln(5/3) + 2/5·ln(5/2) ≈ 0.673012
    val d = Seq((1L, 100L, "en"), (2L, 90L, "en"), (3L, 80L, "en"),
        (4L, 20L, "fr"), (5L, 10L, "fr"))
      .toDF("doc_id", "n_chars", "lang")
      .withColumn("source", lit("s")).withColumn("text", lit("x"))
    val r = operators.Modeling.decisionStump(d).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("threshold") == 80L)
    assert(r(0).getAs[Long]("n_left") == 2L && r(0).getAs[Long]("n_right") == 3L)
    assert(r(0).getAs[String]("pred_left") == "other")
    assert(r(0).getAs[String]("pred_right") == "en")
    assert(r(0).getAs[Double]("info_gain_nats") == 0.673012)
    assert(r(0).getAs[Double]("train_accuracy") == 1.0)
  }

  test("boostedStumps matches an exact BigInt driver reference on a mixed corpus") {
    // 12 docs with correlated-but-distinct x1 (tokens) and x2 (distinct
    // tokens) so round 2 has real residual structure to fit.
    val texts = Seq(
      "a", "a b", "a a", "a b c", "a a b", "a b c d", "a a b b",
      "a b c d e", "a a a b b", "a b c d e f", "a b a b a b", "q w e r t y u")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, "s", t) }
      .toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")) * (lit(1) + col("doc_id") % 3))
    val rows = d.select(
        size(split(lower(col("text")), " ")).cast("long"),
        size(array_distinct(split(lower(col("text")), " "))).cast("long"),
        col("n_chars").cast("long"))
      .as[(Long, Long, Long)].collect().toSeq

    // independent reference: same quantized-mean SSE search, BigInt-exact
    def search(cells: Seq[(Long, Long, Long, BigInt)], scale: Long) = {
      val n = cells.map(_._2).sum; val syt = cells.map(_._3).sum
      val syyt = cells.map(_._4).sum
      var best: (BigInt, Long, Long, Long, Long, Long) = null
      var (nl, syl, syyl) = (0L, 0L, BigInt(0))
      for ((t, cnt, sy, syy) <- cells.sortBy(_._1)) {
        if (nl > 0) {
          val (nr, syr, syyr) = (n - nl, syt - syl, syyt - syyl)
          val pl = syl * scale / nl; val pr = syr * scale / nr
          val sse = syyl * scale * scale - BigInt(pl) * syl * (2 * scale) +
            BigInt(pl) * pl * nl + syyr * scale * scale -
            BigInt(pr) * syr * (2 * scale) + BigInt(pr) * pr * nr
          if (best == null || sse < best._1) best = (sse, t, nl, nr, pl, pr)
        }
        nl += cnt; syl += sy; syyl += syy
      }
      best
    }
    def cellsOf(kv: Seq[(Long, Long)]) = kv.groupBy(_._1).toSeq.map { case (t, rs) =>
      (t, rs.size.toLong, rs.map(_._2).sum, rs.map(r => BigInt(r._2) * r._2).sum) }
    val w1 = search(cellsOf(rows.map(r => (r._1, r._3))), 1000000L)
    val OFF = 1000000000000L
    val resid = rows.map { r =>
      val p = if (r._1 < w1._2) w1._5 else w1._6
      (r._2, r._3 * 1000000L - p + OFF)
    }
    val w2 = search(cellsOf(resid), 1L)

    val got = operators.Modeling.boostedStumps(d).collect()
    assert(got.length == 2)
    assert(got(0).getAs[Long]("threshold") == w1._2 &&
      got(0).getAs[Long]("n_left") == w1._3 && got(0).getAs[Long]("n_right") == w1._4)
    assert(math.abs(got(0).getAs[Double]("pred_left") - w1._5 / 1e6) < 1e-6)
    assert(got(1).getAs[Long]("threshold") == w2._2 &&
      got(1).getAs[Long]("n_left") == w2._3 && got(1).getAs[Long]("n_right") == w2._4)
    assert(math.abs(got(1).getAs[Double]("pred_left") - (w2._5 - OFF) / 1e6) < 1e-6)
    assert(math.abs(got(1).getAs[Double]("pred_right") - (w2._6 - OFF) / 1e6) < 1e-6)
    // boosting must not increase training error: rmse is non-increasing
    assert(got(1).getAs[Double]("rmse") <= got(0).getAs[Double]("rmse"))
    // round-1 rmse equals the winner's own SSE (no third pass needed)
    val rmse1 = math.sqrt(BigDecimal(w1._1).toDouble / rows.size) / 1e6
    assert(math.abs(got(0).getAs[Double]("rmse") - rmse1) < 1e-5)
  }

  test("qualityLogistic: reliable-checkpoint path agrees with localCheckpoint default") {
    val d = lrDocs(30)
    val dir = java.nio.file.Files.createTempDirectory("lr_ck").toString
    val a = operators.Modeling.qualityLogistic(d).collect().toSeq
    spark.conf.set(graft.plans.Checkpoints.DirConf, dir)
    val b = try operators.Modeling.qualityLogistic(d).collect().toSeq
      finally spark.conf.unset(graft.plans.Checkpoints.DirConf)
    assert(a == b)
  }

  test("mccReport: hand-computed confusion matrix, MCC and balanced accuracy") {
    import spark.implicits._
    // text "a b" = 2 tokens; score = 2e6 div n_chars:
    //   n_chars 10 → 200000 ≥ 180000 → predicted positive
    //   n_chars 20 → 100000 < 180000 → predicted negative
    val docs =
      (1 to 4).map(i => (i.toLong, "a b", "en", "s", 10L)) ++       // tp ×4
      (5 to 5).map(i => (i.toLong, "a b", "de", "s", 10L)) ++       // fp ×1
      (6 to 8).map(i => (i.toLong, "a b", "de", "s", 20L)) ++       // tn ×3
      (9 to 10).map(i => (i.toLong, "a b", "en", "s", 20L))         // fn ×2
    val r = operators.Modeling.mccReport(
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")).collect()(0)
    assert((r.getAs[Long]("tp"), r.getAs[Long]("fp"),
            r.getAs[Long]("tn"), r.getAs[Long]("fn")) == ((4L, 1L, 3L, 2L)))
    // num = 4·3 − 1·2 = 10; den = √5·√6·√4·√5 = √600
    assert(r.getAs[Double]("mcc") == math.rint(10.0 / math.sqrt(600.0) * 1e4) / 1e4)
    // tpr = 4e6 div 6 = 666666; tnr = 3e6 div 4 = 750000 → (sum) div 2
    assert(r.getAs[Long]("bal_acc_ppm") == (666666L + 750000L) / 2)
  }

  test("mccReport: a degenerate all-positive-prediction corpus yields null MCC") {
    import spark.implicits._
    val docs = Seq((1L, "a b", "en", "s", 10L), (2L, "a b", "de", "s", 10L))
    val r = operators.Modeling.mccReport(
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")).collect()(0)
    assert(r.isNullAt(r.fieldIndex("mcc")))
  }

  test("ndcgReport: aligned forecast scores 1.0, reversed forecast is discounted") {
    val orders = Seq((1L, "1998-01-01"), (2L, "2000-01-01"))
      .toDF("o_orderkey", "dt")
      .select(col("o_orderkey"), col("dt").cast("date").as("o_orderdate"))
    val part = (Seq(1L, 2L, 3L, 4L).map(p => (p, "B1")) ++
      Seq(11L, 12L, 13L, 14L).map(p => (p, "B2"))).toDF("p_partkey", "p_brand")
    def rows(ps: Seq[Long], pastRev: Seq[Double], futRev: Seq[Double]) =
      ps.zip(pastRev).map { case (p, r) => (1L, p, r) } ++
        ps.zip(futRev).map { case (p, r) => (2L, p, r) }
    val li = (rows(Seq(1, 2, 3, 4), Seq(400, 300, 200, 100), Seq(400, 300, 200, 100)) ++
      rows(Seq(11, 12, 13, 14), Seq(400, 300, 200, 100), Seq(100, 200, 300, 400)))
      .toDF("l_orderkey", "l_partkey", "l_extendedprice")
    val got = operators.Modeling.ndcgReport(li, orders, part).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    // aligned: pred order == ideal order → ndcg 1.0
    assert(got("B1")._3.contains(1.0))
    // reversed grades 0,1,2,3 at ranks 1..4 vs ideal 3,2,1,0:
    // dcg = 2922959427, idcg = 4761859506 → 0.613827
    assert(got("B2") == (2922959427L, 4761859506L, Some(0.613827)))
  }

  test("kneserNeyReport: hand-computed discounted/continuation probabilities") {
    // bigrams (a,b), (a,c), (b,c) each once; T=3 types, 3 tokens
    // P(b|a)=9/24, P(c|a)=15/24, P(c|b)=9/12 → micro-nat surprisals
    // 980829, 470003, 287682 → xent = 1738514/3/10⁶ → 0.5795
    val docs = Seq((1L, "a b", "en", "s", 3L), (2L, "a c", "en", "s", 3L),
      (3L, "b c", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = operators.LanguageModel.kneserNeyReport(docs).collect()(0)
    assert(r.getAs[Long]("n_bigrams") == 3L)
    assert(r.getAs[Long]("n_types") == 3L)
    assert(r.getAs[Double]("xent_nats") == 0.5795)
    assert(r.getAs[String]("top_surprise_w1") == "a")
    assert(r.getAs[String]("top_surprise_w2") == "b")
    assert(r.getAs[Long]("top_surprise_micro") == 980829L)
  }

  test("unigramSegment: a frequent bigram piece beats its two-char split") {
    // words: "ab"×3, "b"×1 → pieces a:3, b:4, ab:3, tot=10
    // c(a)=⌊ln(10/3)·10⁶⌋=1203972, c(b)=⌊ln(2.5)·10⁶⌋=916290, c(ab)=1203972
    // "ab" as one piece (1203972) < a+b split (2120262) → n_pieces=1
    val docs = Seq((1L, "ab ab ab b", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = operators.Modeling.unigramSegmentReport(docs)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("ab", 3L, 1203972L, 1L), ("b", 1L, 916290L, 1L)))
  }

  test("unigramSegment: an out-of-vocab long piece falls back to characters") {
    // vocabTop=0 keeps ONLY single chars → every word decodes char-by-char
    val docs = Seq((1L, "abcd abcd", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = operators.Modeling.unigramSegmentReport(docs, vocabTop = 0)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got.head._1 == "abcd" && got.head._4 == 4L)
  }
}
