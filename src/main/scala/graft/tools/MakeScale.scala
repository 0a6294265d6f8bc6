package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builder-side SCALE-EVIDENCE generator: writes a synthetic N× blow-up
  * of a driver testdata dir (default 10× sf0.1 ≈ "sf1") so the bench can
  * measure each query's scaling SLOPE t(sf1)/t(sf0.1) instead of
  * extrapolating 100 TB claims from a single scale point.
  *
  * Design: N disjoint re-keyed copies (key stride 10⁹ — far above every
  * key domain AND above the planted-id offsets q76/q84 add in-plan),
  * NOT row duplication under the same keys:
  *  - every TPC-H key column shifts consistently across fact/dim tables,
  *    so joins fan out exactly as the original (10 independent
  *    star-schema copies); nation/region stay 1× (true dimensions);
  *  - `documents`: copy i>0 suffixes every WORD with "xi", so copies
  *    share no shingles — the near-dup/LSH workload becomes 10
  *    independent corpora with the ORIGINAL dup structure each, the
  *    clean 10× semantics (identical text would instead put every doc
  *    in a 10-clique and measure a data artifact, not the plan);
  *    n_chars is recomputed for the suffixed text;
  *  - `embeddings`: copy i>0 applies a SIGNED DIMENSION ROTATION
  *    (x → s_i ⊙ x∘π_i, a ±1-permutation matrix — exactly orthogonal
  *    and float-exact): every within-copy distance AND cosine is
  *    bit-preserved, so density methods (DBSCAN, IVF) and angular
  *    methods (SRP, cosine near-dup) both see 10× the data with the
  *    ORIGINAL local structure, while cross-copy pairs land at
  *    unrelated angles/neighborhoods. (The first design translated
  *    copies by +32·i along dim 0 — which made every within-copy pair
  *    cosine ≈ 1, a 60k-clique of TRUE near-dups per copy: the
  *    quadratic SRP output it caused was the correct answer to
  *    degenerate data, not a plan defect.)
  *  - `events`: ids/users shift, timestamps stay — window aggregations
  *    see 10× density per window, the realistic stream-growth shape.
  *
  * Determinism of the data does not matter for its purpose (plan
  * behavior); the transforms are nonetheless deterministic.
  */
object MakeScale {
  val Stride = 1000000000L

  /** Skew-mode constants (args(3) == "skew"): the three hot shapes the
    * round-10 uniform sweep never exercised, at the verdict's sizes.
    *  - HOT JOIN KEY: customer 0 owns every 5th order (~20% of the fact
    *    side) and part 0 rides every 5th order's line items — one
    *    zipf-hot equi-join key for AQE's skew splitter AND a co-purchase
    *    hub whose degree approaches the whole part dictionary (the
    *    degree-ordered triangle orientation must absorb it).
    *  - HOT STREAM KEY: user 0 owns every 5th event — one window/session
    *    partition carrying 20% of all events.
    *  - HOT LSH BUCKET: a 10⁴-member TRUE near-dup clique appended to
    *    embeddings (base = vec 0, dim-0 nudges j·10⁻⁵ keep every pair at
    *    cos ≥ 0.995) — every SRP band funnels the clique into one
    *    bucket, and the Θ(clique²) candidate set is the CORRECT output,
    *    so this measures the engine's worst bucket, not a data artifact.
    *    documents get the text twin at 10³ members (identical text ⇒ one
    *    MinHash/SimHash bucket; 10³ keeps the quadratic-output family's
    *    wall-clock inside a sweep budget while still 100× the organic
    *    bucket size).
    * Ids sit above every uniform copy's stride range and above the
    * in-plan planted-id offsets.
    */
  val CliqueVecs = 10000
  val CliqueDocs = 1000
  val CliqueVecBase = 20000000000L
  val CliqueDocBase = 30000000000L

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val skew = args.length > 3 && args(3) == "skew"
    // the clique id bases clear the uniform stride range only while
    // copies·Stride stays below them — past that a skew run would
    // silently collide clique ids with shifted-copy ids (r11 advice)
    require(!skew || copies.toLong * Stride < CliqueVecBase,
      s"skew mode: copies=$copies would push shifted ids (copies*Stride=" +
        s"${copies.toLong * Stride}) into the clique id range ($CliqueVecBase+)")
    val spark = graft.GraftSession.local()

    def src(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")

    /** Union `copies` transformed replicas; copy 0 is the original.
      * `post` reshapes the unioned frame (skew-mode hot keys/cliques).
      */
    def blowUp(t: String, post: DataFrame => DataFrame = identity)
              (tf: (DataFrame, Int) => DataFrame): Unit = {
      val base = src(t)
      val all = post((0 until copies).map(i => tf(base, i)).reduce(_ unionByName _))
      all.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[make-scale] $t -> ${copies}x" + (if (skew) " (skewed)" else ""))
    }
    def ifSkew(f: DataFrame => DataFrame): DataFrame => DataFrame =
      if (skew) f else identity

    def shift(df: DataFrame, i: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * Stride)))

    // true dimensions stay 1x
    Seq("region", "nation").foreach { t =>
      src(t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[make-scale] $t -> 1x (dimension)")
    }
    blowUp("customer")((d, i) => shift(d, i, "c_custkey"))
    blowUp("supplier")((d, i) => shift(d, i, "s_suppkey"))
    blowUp("part")((d, i) => shift(d, i, "p_partkey"))
    blowUp("orders", ifSkew(_.withColumn("o_custkey",
      when(col("o_orderkey") % 5 === 0, lit(0L)).otherwise(col("o_custkey")))))(
      (d, i) => shift(d, i, "o_orderkey", "o_custkey"))
    // ONE line item per hot order flips to part 0 (not the whole order —
    // that would collapse the order's co-occurrence set to a singleton
    // and produce NO hub edges): part 0 then rides ~20% of orders, so it
    // is simultaneously a hot equi-join key (~5% of all lineitem rows)
    // and a co-purchase hub whose neighborhood saturates toward the
    // whole part dictionary (≥ the verdict's ~n/10 degree shape)
    blowUp("lineitem", ifSkew(_.withColumn("l_partkey",
      when(col("l_orderkey") % 5 === 0 && col("l_linenumber") === 1, lit(0L))
        .otherwise(col("l_partkey")))))(
      (d, i) => shift(d, i, "l_orderkey", "l_partkey", "l_suppkey"))
    blowUp("events", ifSkew(_.withColumn("user_id",
      when(col("event_id") % 5 === 0, lit(0L)).otherwise(col("user_id")))))(
      (d, i) => shift(d, i, "event_id", "user_id"))
    blowUp("documents", ifSkew { df =>
      // clique = CliqueDocs verbatim replicas of doc 0 (identical text ⇒
      // identical shingles/signature ⇒ ONE MinHash/SimHash bucket) under
      // fresh ids; lang/source/n_chars ride along so no column goes null
      val base = broadcast(src("documents").filter(col("doc_id") === 0).drop("doc_id"))
      val clique = spark.range(CliqueDocs.toLong).crossJoin(base)
        .withColumn("doc_id", col("id") + lit(CliqueDocBase)).drop("id")
      df.unionByName(clique.select(df.columns.map(col).toIndexedSeq: _*))
    }) { (d, i) =>
      val shifted = shift(d, i, "doc_id")
      if (i == 0) shifted
      else shifted
        .withColumn("text",
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit(s"x$i"))), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    val dim = src("embeddings").selectExpr("size(embedding) AS d").head().getInt(0)
    blowUp("embeddings", ifSkew { df =>
      // clique = CliqueVecs TRUE near-duplicates of vec 0 (dim-0 nudged
      // by (j+1)·10⁻⁵ — distinct vectors, every pair at cos ≥ ~0.995 for
      // unit-ish bases): all SRP bands funnel them into one bucket — the
      // hot-LSH-bucket shape. label rides along from the base row.
      val base = broadcast(src("embeddings").filter(col("vec_id") === 0).drop("vec_id"))
      val clique = spark.range(CliqueVecs.toLong).crossJoin(base)
        .withColumn("vec_id", col("id") + lit(CliqueVecBase))
        .withColumn("embedding", expr(
          "transform(embedding, (x, i) -> IF(i = 0, CAST(x + (id + 1) * CAST(1e-5 AS DOUBLE) AS FLOAT), x))"))
        .drop("id")
      df.unionByName(clique.select(df.columns.map(col).toIndexedSeq: _*))
    }) { (d, i) =>
      val shifted = shift(d, i, "vec_id")
      if (i == 0) shifted
      else {
        // signed dimension rotation: deterministic per copy, exactly
        // orthogonal, float-exact (±1 products introduce no rounding)
        val rnd = new scala.util.Random(i * 9973 + 7)
        val signs = Seq.fill(dim)(if (rnd.nextBoolean()) "1.0" else "-1.0")
          .map(s => s"CAST($s AS FLOAT)").mkString("array(", ",", ")")
        val perm = (0 until dim).map(dd => (dd + i) % dim)
          .mkString("array(", ",", ")")
        shifted.withColumn("embedding", expr(
          s"""zip_with($signs,
             |         transform($perm, p -> element_at(embedding, p + 1)),
             |         (s, x) -> CAST(s * x AS FLOAT))""".stripMargin))
      }
    }
    spark.stop()
  }
}
