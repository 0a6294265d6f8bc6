package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Int64-headroom regressions caught by the round-10 sf1 scale sweep:
  * every case here constructs a SMALL fixture whose magnitudes would
  * wrap (or, under ANSI, throw on) a plain BIGINT sum, and asserts the
  * exact decimal(38,0)-widened value against BigInt arithmetic computed
  * independently in the test. Before the widening, each of these threw
  * ARITHMETIC_OVERFLOW on the 10× synthetic dataset.
  */
class ScaleHeadroomSpec extends SparkSpec {

  /** Coordinates ~±3000 → u ≈ ±3·10⁹, u² ≈ 9·10¹⁸ ≈ the int64 ceiling:
    * TWO addends already wrap a BIGINT suu.
    */
  test("q157 dim-health moment sums survive magnitudes whose BIGINT sum wraps") {
    import spark.implicits._
    val vals = Seq(3000.0f, -2999.5f, 2998.25f)
    val df = vals.zipWithIndex
      .map { case (v, i) => (i.toLong, Array(v)) }
      .toDF("vec_id", "embedding")
    val row = Quantize.embeddingDimHealth(df).collect()(0)
    val us = vals.map(v => BigInt(math.floor(v.toDouble * 1000000).toLong))
    val su = us.sum
    val suu = us.map(u => u * u).sum
    assert(su.abs > 0 && suu > BigInt(Long.MaxValue),
      "fixture must exceed int64 in the raw sum of squares")
    val n = us.size
    val mean = BigDecimal(su) / n / 1000000
    assert(row.getAs[Long]("n") == n)
    assert(math.abs(row.getAs[Double]("mean") -
      mean.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    val varExact = (BigDecimal(suu) / n - (BigDecimal(su) / n).pow(2)) /
      BigDecimal(1000000L) / BigDecimal(1000000L)
    assert(math.abs(row.getAs[Double]("variance") - varExact.toDouble) < 1e-3)
  }

  /** Per-point distances at ~2.25·10¹⁸ (inside the sqDist kernel's
    * pairwise-diff envelope |Δu| ≤ 3.0·10⁹/√dims) whose 6-point cluster
    * SUM exceeds int64: exactly the overflow class the sf1 sweep hit.
    * The report divides the decimal total by 10¹² (whole squared units).
    */
  test("q176 inertia survives cluster sums past int64") {
    import spark.implicits._
    // seeds are vec_id < k: ids 0 and 1 anchor the two clusters; ids 2-6
    // sit at ≈ −1500 (distinct floats), all nearer seed 0 than seed 1
    val far = (2L to 6L).map(i => (i, 0L, Array(-1500.0f - (i - 2) * 0.25f)))
    val pts = Seq((0L, 0L, Array(0.0f)), (1L, 0L, Array(1500.0f))) ++ far
    val df = pts.toDF("vec_id", "label", "embedding")
    val rows = Clustering.kmeansReport(df, k = 2, iters = 1)
      .collect().map(r => r.getAs[Long]("cluster") -> r).toMap
    // assignment at iters=1: nearest seed (0 or 1500); quantized +1e6
    def u(v: Float) = BigInt(math.floor(v.toDouble * 1000000).toLong + 1000000L)
    def d2(a: Float, b: Float) = (u(a) - u(b)).pow(2)
    val in0 = d2(0f, 0f) + far.map(p => d2(p._3(0), 0f)).sum
    assert(in0 > BigInt(Long.MaxValue), "cluster-0 inertia must exceed int64")
    assert(rows(0L).getAs[Long]("inertia") == (in0 / BigInt(1000000000000L)).toLong)
    assert(rows(1L).getAs[Long]("inertia") == 0L)
  }

  /** One label with three huge-coordinate members: the scatter SUM
    * exceeds int64 while the reported MEAN fits — exactly the widening
    * contract.
    */
  test("q245 within-class scatter survives sums past int64") {
    import spark.implicits._
    val df = Seq(
      (0L, 0L, Array(0.0f)), (1L, 0L, Array(3000.0f)), (2L, 0L, Array(-3000.0f)),
      (3L, 1L, Array(1.0f)), (4L, 1L, Array(-1.0f)))
    .toDF("vec_id", "label", "embedding")
    val row = Clustering.classSeparability(df)
      .filter(col("label_a") === 0 && col("label_b") === 1).collect()(0)
    def u(v: Float) = BigInt(math.floor(v.toDouble * 1000000).toLong + 1000000L)
    val c0 = (u(0f) + u(3000f) + u(-3000f)) / 3
    val scatter0 = Seq(0f, 3000f, -3000f).map(v => (u(v) - c0).pow(2)).sum
    assert(scatter0 > BigInt(Long.MaxValue), "scatter sum must exceed int64")
    assert(row.getAs[Long]("within_a") == (scatter0 / 3).toLong)
  }

  /** q285's query vector is the floor-MEAN of the label-0 population —
    * corpus-size-independent micro-unit magnitudes (a SUM query's dot
    * products overflowed at 10×). Pinned: duplicating every label-0
    * vector leaves the query unchanged — the top pick's relevance (the
    * corpus max, invariant to the duplicate ids entering the pool) must
    * not move. A sum-query would double and shift every floor boundary.
    */
  test("q285 mean-query is invariant to population size") {
    import spark.implicits._
    val base = (0 until 8).map(i =>
      (i.toLong, i.toLong % 2, Array.tabulate(4)(d => (0.1f * ((i + d) % 5 + 1)))))
    val doubled = base ++ base.filter(_._2 == 0L)
      .map { case (id, l, e) => (id + 100L, l, e) }
    val r1 = Similarity.mmrRerank(base.toDF("vec_id", "label", "embedding"),
      poolK = 6, picks = 3).select("pick", "rel_micro").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r2 = Similarity.mmrRerank(doubled.toDF("vec_id", "label", "embedding"),
      poolK = 6, picks = 3).select("pick", "rel_micro").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1.keySet == Set(1L, 2L, 3L))
    assert(r1(1L) == r2(1L),
      "duplicating every label-0 vector must not move the mean query / max relevance")
  }

  /** Size parameters from the sweep: k (k-means/SemDeDup) and SRP bit
    * width are behavior-bearing; the SRP recall contract (planted pairs
    * recovered) holds at the wider setting.
    */
  test("k-means k and SRP bit width are behavior-bearing parameters") {
    import spark.implicits._
    val emb = (0 until 40).map(i =>
      (i.toLong, i.toLong % 3, Array.tabulate(8)(d =>
        math.cos(0.7 * i + 1.3 * d).toFloat))).toDF("vec_id", "label", "embedding")
    assert(Clustering.kmeansReport(emb, k = 3).count() == 3)
    // wider bands shrink buckets but must keep the planted near-dups
    val narrow = Similarity.srpNearDupReport(emb, bands = 8, bitsPerBand = 4)
      .select("left_id", "right_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wide = Similarity.srpNearDupReport(emb, bands = 8, bitsPerBand = 16)
      .select("left_id", "right_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 40 by 10).map(i => (i.toLong, i + 10000000L)).toSet
    assert(planted.subsetOf(narrow), s"narrow misses ${planted -- narrow}")
    assert(planted.subsetOf(wide), s"wide misses ${planted -- wide}")
  }

  /** q326's reduction ratio: n(n−1)/2 × 10⁹ wraps int64 past n ≈ 136k
    * docs — the r11 30× sweep (150k docs) threw ARITHMETIC_OVERFLOW
    * while sf1 (51k) still fit. 140k unique-trigram docs (no candidate
    * pairs, no truth pairs) keep the fixture fast while the ratio math
    * crosses the ceiling: reduction must come back exactly 10⁹.
    */
  test("q326 reduction ratio survives doc counts whose pair-count product wraps int64") {
    val docs = spark.range(140000L).selectExpr(
      "id AS doc_id", "concat('u', id, ' v', id, ' w', id) AS text")
    val n = 140000L
    assert(BigInt(n) * (n - 1) / 2 * 1000000000L > BigInt(Long.MaxValue),
      "fixture must exceed int64 in the scaled pair count")
    val rows = Dedup.blockingQuality(docs).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_candidates") == 0L)
      assert(r.getAs[Long]("reduction_ppb") == 1000000000L)
    }
  }

  /** Connected components on a long CHAIN: min-label propagation alone
    * advances one hop per round, so a diameter-200 path under the
    * default 20-round cap returned an UNDER-MERGED labeling — exactly
    * how q296's DBSCAN eps-chain at sf0.1 split one cluster into two
    * (caught by the r11 sf0.1 oracle pass). Pointer jumping makes
    * convergence O(log diameter): the same cap must now label the whole
    * chain 0.
    */
  test("connectedComponents converges on a diameter-200 chain within the default cap") {
    import spark.implicits._
    val edges = (0L until 200L).map(i => (i, i + 1)).toDF("left_id", "right_id")
    val labels = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 201)
    assert(labels.values.forall(_ == 0L),
      s"chain must collapse to min label 0; got ${labels.values.toSet}")
  }

  /** q282's closing mean at an exact half boundary: value 1/32 is a
    * clean binary float (vq = 31250, mean = 0.03125 → the 4-decimal
    * HALF_UP answer is 0.0313). A double round(x, 4) here is
    * engine-dependent (shortest-repr vs raw-binary rounding — the r11
    * sf0.1 oracle divergence); the integer-exact formula must give the
    * decimal HALF_UP answer.
    */
  test("q282 locf mean rounds half-up exactly at the .00005 boundary") {
    import spark.implicits._
    val ev = Seq((7L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0.03125, 1L))
      .toDF("user_id", "ts", "value", "event_id")
    val row = RobustStats.resampleLocf(ev).collect()(0)
    assert(row.getAs[Long]("n_buckets") == 1L)
    assert(row.getAs[Double]("locf_mean") == 0.0313,
      s"expected half-up 0.0313, got ${row.getAs[Double]("locf_mean")}")
  }

  /** q305's bipartite SRP-blocked candidate mode: identical vectors on
    * the two sides share every band key, so the blocked path must
    * surface the planted twin as its top pair — and the exact path's
    * pair set must contain the blocked path's pairs (blocking only ever
    * prunes candidates, never invents them).
    */
  test("q305 SRP-blocked margin mining recovers the planted cross-side twin") {
    import spark.implicits._
    // near-orthogonal random vectors (fixed seeds): cross-dots are small,
    // so the identical twin's margin ≈ k dominates every noise pair's ≈ 1
    val mk = (i: Int) => {
      val r = new scala.util.Random(i * 7919 + 13)
      Array.fill(32)((r.nextDouble() - 0.5).toFloat)
    }
    val sideA = (0 until 12).map(i => (i.toLong, 0L, mk(i)))
    val sideB = (0 until 12).map(i => (100L + i, 1L, mk(i + 20))) :+
      ((200L, 1L, mk(3)))                                 // twin of A's id 3
    val emb = (sideA ++ sideB).toDF("vec_id", "label", "embedding")
    val blocked = Similarity.marginMining(emb, srpBands = 6, srpBits = 6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(blocked.head == (3L, 200L),
      s"twin must rank first in the blocked path, got ${blocked.take(3).toSeq}")
    assert(blocked.forall { case (ia, ib) => ia < 100L && ib >= 100L },
      "blocked pairs must stay bipartite (side A id, side B id)")
  }
}
