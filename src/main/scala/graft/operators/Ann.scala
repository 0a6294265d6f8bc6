package graft.operators

import graft.functions.VecOps.vecDot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF-style approximate nearest neighbor (the scale path beyond
  * [[Similarity.cosineTopK]] brute force): a coarse quantizer (k-means,
  * Lloyd's iterations as Spark aggregations) partitions vectors into
  * cells; a query probes only the `nprobe` nearest cells. At 100 TB the
  * vector table is written partitioned by `cell`, so a probe reads
  * nprobe/k of the data — partition pruning does the rest.
  *
  * Determinism: centroid init is by lowest vec_id (no RNG), ties in
  * assignment break by lowest cell id, so index builds are reproducible
  * run-to-run (important for resumable corpus builds).
  */
object Ann {

  /** Train coarse centroids with Lloyd's algorithm. Centroids live on
    * the driver (k × dim floats — tiny); assignments are distributed.
    */
  /** Deterministic seed stage: the k lowest-vec_id embeddings. The
    * Sort+Limit pair compiles to `TakeOrderedAndProject` — a BOUNDED
    * per-partition top-k heap merged on the driver, NOT a global sort:
    * no exchange, no range partitioner, each task keeps at most k rows.
    * At kc = ⌈√n⌉ and 10⁹ vectors that is ~31k rows per task heap —
    * fine — where a true global sort would shuffle the whole corpus to
    * take √n rows. Plan shape is asserted in PlanAssertionsSpec (no
    * SortExec / no ShuffleExchange in the seed stage), so a Spark
    * upgrade or a refactor that silently defeats the top-k rewrite
    * (e.g. exceeding spark.sql.execution.topKSortFallbackThreshold)
    * fails a spec instead of regressing the 100 TB plan.
    */
  private[graft] def seedPlan(embeddings: DataFrame, k: Int): DataFrame =
    embeddings.orderBy("vec_id").limit(k).select("embedding")

  def trainCentroids(embeddings: DataFrame, k: Int, iters: Int = 5): Array[Array[Float]] = {
    var centroids: Array[Array[Float]] = seedPlan(embeddings, k).collect()
      .map(_.getSeq[Float](0).toArray)
    // fewer vectors than requested cells → train with what exists
    val kEff = centroids.length
    require(kEff > 0, "trainCentroids: embeddings table is empty")
    // dim from the seed rows already on the driver — no separate probe job
    val dim = centroids(0).length
    var it = 0
    while (it < iters) {
      val assigned = assignCells(embeddings, centroids)
      // mean per cell: exploded positional sum (one shuffle)
      val sums = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(sum(col("v").cast("double")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byCell = sums.groupBy(_.getInt(0))
      centroids = (0 until kEff).map { c =>
        byCell.get(c) match {
          case Some(rows) =>
            val arr = new Array[Float](dim)
            rows.foreach(r => arr(r.getInt(1)) = (r.getDouble(2) / r.getLong(3)).toFloat)
            arr
          case None => centroids(c) // empty cell keeps its centroid
        }
      }.toArray
      it += 1
    }
    centroids
  }

  /** Distributed cell assignment: argmin squared-L2 to each centroid
    * (|x-c|² = |x|² - 2x·c + |c|²; |x|² is constant per row, so argmin
    * uses c·c - 2x·c) via the native [[graft.functions.NearestCell]]
    * kernel. The centroid matrix is a referenced object, so the plan is
    * ONE expression node regardless of k — the literal-array formulation
    * this replaced built a k×dim nest of `lit()`s, a multi-MB expression
    * tree at realistic IVF sizes.
    */
  def assignCells(embeddings: DataFrame, centroids: Array[Array[Float]]): DataFrame =
    embeddings.withColumn("cell",
      graft.functions.VecOps.nearestCell(col("embedding"), centroids))

  /** Persist the index: vectors written PARTITIONED BY cell. This is
    * the 100 TB layout claim made concrete — a probe then reads
    * nprobe/k of the files via partition pruning (the cell filter shows
    * up as PartitionFilters on the scan, spec-asserted), instead of
    * filtering after a full scan.
    */
  def writeIndex(embeddings: DataFrame, centroids: Array[Array[Float]],
                 path: String): Unit =
    assignCells(embeddings, centroids)
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Probe a persisted index: same ranking/probing as [[ivfTopK]] but
    * against the cell-partitioned files, so the `cell IN (...)` filter
    * prunes partitions at planning time.
    */
  def probeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                 centroids: Array[Array[Float]], query: Array[Float],
                 k: Int = 10, nprobe: Int = 2): DataFrame =
    probeScored(graft.Tables.read(spark, path), centroids, query, k, nprobe)

  /** Shared probe tail: filter to the nprobe nearest cells, exact cosine
    * against the query, deterministic top-k — ONE implementation so the
    * persisted-index and in-memory probes cannot drift.
    */
  private def probeScored(assigned: DataFrame, centroids: Array[Array[Float]],
                          query: Array[Float], k: Int, nprobe: Int): DataFrame = {
    val probeCells = rankCells(centroids, query).take(nprobe)
    val qCol = array(query.toIndexedSeq.map(v => lit(v)): _*).cast("array<float>")
    val qNorm = math.sqrt(query.map(v => v.toDouble * v.toDouble).sum)
    assigned
      .filter(col("cell").isin(probeCells.toIndexedSeq.map(Integer.valueOf): _*))
      .select(col("vec_id"), col("cell"),
        (vecDot(col("embedding"), qCol) /
          (sqrt(vecDot(col("embedding"), col("embedding"))) * lit(qNorm))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Cells ranked by the query's distance (nearest first). */
  def rankCells(centroids: Array[Array[Float]], query: Array[Float]): Array[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      val dot = c.zip(query).map { case (a, b) => a.toDouble * b.toDouble }.sum
      val cNormSq = c.map(v => v.toDouble * v.toDouble).sum
      (cNormSq - 2 * dot, i)
    }.sortBy(_._1).map(_._2)

  /** Probe: rank cells by the query's distance, keep `nprobe`, exact
    * cosine inside the probed cells only, global top-k of the survivors.
    */
  def ivfTopK(embeddings: DataFrame, centroids: Array[Array[Float]],
              query: Array[Float], k: Int = 10, nprobe: Int = 2): DataFrame =
    probeScored(assignCells(embeddings, centroids), centroids, query, k, nprobe)
}
