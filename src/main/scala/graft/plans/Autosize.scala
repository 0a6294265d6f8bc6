package graft.plans

import org.apache.spark.sql.SparkSession

/** Production-mode AUTO-SIZING for the model-size knobs that must grow
  * with the corpus — the round-10 scale sweep's finding formalized:
  * every fixed-width LSH/model config obeys a collision law (random
  * SRP-band collisions ~ n²/2^bits; SemDeDup pairwise work ~ Σnᵢ² ≈
  * n²/k; pigeonhole-band bucket load ~ n²/2^keybits), so a width that
  * is oracle-correct at sf0.01 is super-linear at 10× and quadratic at
  * 100 TB unless it is derived from the corpus size.
  *
  * `spark.conf.set("spark.graft.autosize", "true")` turns derivation
  * on; the precedence is always
  *
  *   explicit `spark.graft.<knob>` conf  >  autosize law  >  default,
  *
  * so the oracle harness (which sets nothing) keeps every pinned
  * default and every CORRECTNESS hash untouched, an explicitly-set
  * knob remains a deliberate semantic choice, and a production session
  * opts into scale-safe widths with one flag instead of knowing each
  * collision law by heart.
  *
  * Laws (each measured by the sf1/30× slope sweeps, SCALE.md):
  *  - SRP band width: `bits = clamp(⌈log₂ n⌉ + 2, default, 30)` —
  *    expected random collisions per band ≈ n²/2^(bits+1), so
  *    2^bits ≈ 4n keeps the candidate set O(bands·n). Measured:
  *    bits=8 (pinned) → 15.9× on 10× data; bits=16 → 2.0×;
  *    bits=18 at 30× → 3.3×. The law lands on 17/18 at those sizes.
  *  - k-means/SemDeDup k: `k = max(default, ⌈n / 250⌉)` — per-cluster
  *    membership pinned at the sf0.1 default's (2000/8 = 250), so
  *    Σnᵢ² ≈ 250·n stays linear (fixed k=8 measured 18× on 10× data;
  *    k ∝ n measured 3.3×).
  *  - SimHash pigeonhole blocks: (4,3) keys on 16 bits — fine to ~10⁶
  *    docs; past it the (8,3) config keys on 40 bits (~10¹² buckets)
  *    at the cost of C(8,5)=56 bands/doc. Recall is EXACT for both
  *    (pigeonhole theorem), so the flip is pure plan shaping.
  *  - Margin mining: brute A×B is the exact baseline; past
  *    |A|·|B| = 10⁶ candidate dots the bipartite SRP-blocked mode
  *    (q76's kernel, collision law |A|·|B|/2^bits) takes over with
  *    bands=8 and the SRP width law. Calibration: sf1 sides ≈ 2000²
  *    = 4·10⁶ dots measured 9.2 s brute vs 3.7 s blocked; sf0.1
  *    (199×182 ≈ 3.6·10⁴) is trivial either way and stays exact.
  *
  * Row counts come from [[graft.Tables.rowCount]]: a metadata-only
  * `count()` over the parquet path, kept in the table catalog's entry
  * for the path, so it is counted once per file version and a rewrite
  * under the same path is counted again.
  */
object Autosize {

  val Key = "spark.graft.autosize"

  def on(spark: SparkSession): Boolean =
    spark.conf.getOption(Key).exists(_.trim.equalsIgnoreCase("true"))

  /** Row count of `dir/table.parquet` (parquet-metadata cheap), counted
    * once per file version. */
  def tableCount(spark: SparkSession, dir: String, table: String): Long =
    graft.Tables.rowCount(spark, s"$dir/$table.parquet")

  /** Resolve a sizing knob: explicit conf > autosize `law` > `default`.
    * `law` is by-name so the (cached) corpus count only runs when used.
    */
  def knob(spark: SparkSession, key: String, default: Int)(law: => Int): Int =
    if (spark.conf.getOption(key).exists(_.trim.nonEmpty))
      Rounds.posInt(spark, key, default)
    else if (on(spark)) law
    else default

  /** ⌈log₂ n⌉ for n ≥ 1 (0 for n ≤ 1). */
  def ceilLog2(n: Long): Int =
    if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1L)

  /** SRP bits-per-band law: 2^bits ≈ 4n ⇒ O(bands·n) random collisions. */
  def srpBitsLaw(n: Long, floor: Int = 8, cap: Int = 30): Int =
    math.min(cap, math.max(floor, ceilLog2(n) + 2))

  /** k-means k law: per-cluster membership pinned at `perCluster`. */
  def kmeansKLaw(n: Long, perCluster: Int = 250, floor: Int = 8): Int =
    math.max(floor, ((n + perCluster - 1) / perCluster).toInt)

  /** SimHash pigeonhole nBlocks law: 16-bit keys to ~10⁶ docs, 40-bit past. */
  def simhashBlocksLaw(n: Long): Int = if (n > 1000000L) 8 else 4

  /** IVF coarse-centroid law: `kc = max(floor, ⌈√n⌉)`. The probe path
    * pays two costs per query — the centroid scan (kc distances) and
    * the probed-cell scan (≈ nprobe·n/kc) — and √n balances them at
    * O(√n) each, the published FAISS sizing guideline (4√n…16√n
    * training points per centroid). NOT the k-means `⌈n/250⌉` law:
    * that pins per-CELL membership, which is right when the product is
    * the Σnᵢ² within-cluster pair work (SemDeDup), but for IVF it
    * makes the centroid scan itself linear in the corpus — trading one
    * linear probe term for another. A FIXED kc (the oracle default 8)
    * leaves the probed-cell scan at nprobe/8 of the corpus at any
    * size, which is the fixed-width-law class this closes.
    */
  def ivfCellsLaw(n: Long, floor: Int = 8): Int =
    math.max(floor, math.ceil(math.sqrt(math.max(n, 0L).toDouble)).toInt)

  /** Margin-mining mode law: brute A×B below `BruteDotCap` candidate
    * dots, bipartite SRP-blocked above it.
    */
  val BruteDotCap: Long = 1000000L
  def marginShouldBlock(nA: Long, nB: Long): Boolean =
    nA > 0 && nB > 0 && (BigInt(nA) * BigInt(nB)) > BigInt(BruteDotCap)

  // ---- per-operator resolved configs (used by the query registrations) ----

  /** (bands, bitsPerBand) for the q76/q84 SRP near-dup family. */
  def srpConf(spark: SparkSession, dir: String): (Int, Int) = {
    val bands = Rounds.posInt(spark, "spark.graft.srp.bands", 8)
    val bits = knob(spark, "spark.graft.srp.bits", 8)(
      srpBitsLaw(tableCount(spark, dir, "embeddings")))
    (bands, bits)
  }

  /** Per-bucket expansion cap for CONNECTIVITY consumers of the SRP
    * banding (q84's clustering — never the q76 pair report): oversized
    * buckets star-compress to their min-id member, exact for true
    * near-dup cliques (see Similarity.srpCandidatePairs). Unset +
    * autosize-off = no cap (oracle-pinned); autosize = 256 — far above
    * any random-collision bucket at the derived band width, so only
    * genuine mega-cliques (the skew sweep's 10⁴ clique: 391 s → linear)
    * take the star path.
    */
  def srpBucketCap(spark: SparkSession): Int =
    knob(spark, "spark.graft.srp.bucketCap", Int.MaxValue)(256)

  /** (srpBands, srpBits) for q305 margin mining; srpBands = 0 ⇒ brute. */
  def marginConf(spark: SparkSession, dir: String): (Int, Int) = {
    val explicitBands = spark.conf.getOption("spark.graft.margin.bands")
      .exists(_.trim.nonEmpty)
    val bands =
      if (explicitBands) Rounds.posInt(spark, "spark.graft.margin.bands", 8)
      else if (on(spark)) {
        // per-side counts: one bounded (≤ n_labels rows) aggregate probe
        val bySide = graft.Tables(spark, dir).embeddings
          .groupBy(org.apache.spark.sql.functions.col("label").cast("long").as("label"))
          .count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        if (marginShouldBlock(bySide.getOrElse(0L, 0L), bySide.getOrElse(1L, 0L))) 8
        else 0
      } else 0
    val bits =
      if (bands <= 0) 8
      else knob(spark, "spark.graft.srp.bits", 8)(
        srpBitsLaw(tableCount(spark, dir, "embeddings")))
    (bands, bits)
  }

  /** k for the q176/q177 k-means family. */
  def kmeansConf(spark: SparkSession, dir: String): Int =
    knob(spark, "spark.graft.kmeans.k", 8)(
      kmeansKLaw(tableCount(spark, dir, "embeddings")))

  /** nBlocks for q98's pigeonhole banding. */
  def simhashConf(spark: SparkSession, dir: String): Int =
    knob(spark, "spark.graft.simhash.blocks", 4)(
      simhashBlocksLaw(tableCount(spark, dir, "documents")))

  /** Coarse-centroid count for the q59/q267/q295 IVF family
    * (`spark.graft.ivf.cells`). nprobe stays a fixed recall choice —
    * the probe's read fraction nprobe/kc then SHRINKS as the corpus
    * grows instead of staying pinned at nprobe/8. q59 (full probe,
    * nprobe = kc) is hash-identical at any kc — the exactness gate
    * certifies the path, not a particular index width.
    */
  def ivfConf(spark: SparkSession, dir: String): Int =
    knob(spark, "spark.graft.ivf.cells", 8)(
      ivfCellsLaw(tableCount(spark, dir, "embeddings")))
}
