package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-space clustering for corpus curation: Lloyd's k-means over
  * fixed-point quantized vectors, and the SemDeDup-style semantic
  * deduplication pass that prunes near-identical vectors inside each
  * cluster (Abbas et al. 2023 — cluster first so the pairwise stage is
  * bounded by cluster size, never corpus size).
  *
  * Determinism design (the whole module is hash-compared to a DuckDB
  * oracle): embeddings are quantized to BIGINT fixed-point
  * (floor(x·10⁶)+10⁶ — the +10⁶ shift keeps every value non-negative so
  * Spark's `div` and DuckDB's `//`, both truncating, agree with floor
  * semantics on centroid means). Distances are exact integer squared-L2
  * sums (the shift cancels in differences), so argmin assignment,
  * inertia, and the near-dup threshold are bit-identical under any
  * partitioning or summation order — no float drift anywhere.
  *
  * Scale design:
  *  - k centroids are a k-row DataFrame, explicitly `broadcast` into the
  *    assignment cross-join: the corpus never shuffles to assign.
  *  - The centroid update is one posexplode + hash-aggregate on
  *    (cluster, dim) — shuffle rows = k·D after partial aggregation,
  *    not n·D (map-side combine collapses each partition first).
  *  - The dedup self-join is equi-keyed on the cluster id, so Spark
  *    plans a shuffled hash join where each task sees one cluster's
  *    vectors — the all-pairs cost is Σ nᵢ², the SemDeDup bound, and
  *    skewed clusters are AQE-splittable.
  *
  * Reference provenance: the reference has no vector ops; the closest
  * analogue is its per-dataset grouping validation
  * (src/ingest-pipeline/airflow/dags/validation_utils.py) — clustering
  * here generalizes "group, then check within group" to embedding space.
  */
object Clustering extends QueryModule {

  val Scale = 1000000L
  /** Squared-L2 threshold (in quantized units²) under which two vectors
    * in the same cluster are semantic duplicates: ~p0.4 of the pairwise
    * distance distribution of the synthetic embeddings table.
    */
  val DupThreshold = 1350000000000L

  /** (vec_id, label, u: Array[Long]) — fixed-point non-negative vectors. */
  def quantized(embeddings: DataFrame): DataFrame =
    // NOT fanned out (r13 optimization round): the embeddings frame is
    // model-small (2k rows at sf0.1) and its consumers' hot loops sit
    // AFTER broadcasts/windows, so Scans.fanOut here A/B-measured pure
    // overhead (q295 3.6 -> 5.5 s, q267 2.1 -> 3.2, q296 6.9 -> 8.1)
    embeddings.select(
      col("vec_id"), col("label"),
      transform(col("embedding"),
        x => floor(x.cast("double") * Scale).cast("long") + Scale).as("u"))

  /** Integer squared-L2 via the codegen'd [[graft.functions.LongVecSqDist]]
    * kernel — bit-identical to the HOF
    * `aggregate(zip_with(a, b, (x,y) -> (x-y)²), 0L, +)` (spec-pinned)
    * but stays inside WholeStageCodegen instead of interpreted lambda
    * dispatch k·D times per vector in the assignment cross-join.
    */
  private def sqDist(a: Column, b: Column): Column =
    graft.functions.LongVecSqDist.sqDist(a, b)

  /** One assignment pass: nearest centroid by integer squared-L2,
    * ties broken by smaller centroid id (struct-min ordering — (dist,
    * cid) is unique per vector, so the min is total and deterministic).
    */
  def assign(vecs: DataFrame, centroids: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(centroids))
      .select(col("vec_id"), struct(
        sqDist(col("u"), col("cu")).as("dist"),
        col("cid"), col("label"), col("u")).as("cand"))
      .groupBy("vec_id").agg(min(col("cand")).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist").as("dist"),
        col("m.label").as("label"), col("m.u").as("u"))

  /** Recompute centroids as per-dimension floor-mean of members. */
  def updateCentroids(assigned: DataFrame): DataFrame =
    assigned.select(col("cid"), posexplode(col("u")).as(Seq("dim", "v")))
      .groupBy("cid", "dim")
      .agg(expr("sum(v) div count(*)").as("cm"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cm")))),
        s => s.getField("cm")).as("cu"))

  /** `iters` assignment passes over `k` clusters seeded from the first k
    * vec_ids, with a centroid update between passes (Lloyd's). Returns
    * the final assignment with per-vector distance and quantized vector.
    */
  def kmeansAssign(embeddings: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    val vecs = quantized(embeddings)
    var centroids = vecs.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("u").as("cu"))
    var assigned = assign(vecs, centroids)
    for (_ <- 2 to iters) {
      centroids = updateCentroids(assigned)
      assigned = assign(vecs, centroids)
    }
    assigned
  }

  /** q176: k-means cluster report — size, exact-integer inertia
    * (decimal(38,0) sum of micro-unit² distances, reported in WHOLE
    * squared units = div 10¹² so the column stays int64-representable at
    * corpus scale), and label purity (majority label over member class
    * labels, count-desc / label-asc tie-break) per cluster. The purity
    * column is the SemDeDup-era sanity check that geometric clusters
    * track semantic classes before trusting within-cluster dedup.
    */
  def kmeansReport(embeddings: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    // sizes and majority-label both read the assignment — cut once
    val a = graft.plans.Checkpoints.cut(
      kmeansAssign(embeddings, k, iters))
    // inertia through decimal(38,0), REPORTED IN WHOLE squared units
    // (micro-units² div 10¹²): per-point dist reaches ~6e18 at 64 dims of
    // micro-unit diffs, so a plain BIGINT sum wraps within ONE cluster
    // (the sf1 scale sweep hit exactly this), and even the exact decimal
    // total exceeds int64 at corpus scale — the whole-unit quotient is
    // the value that stays representable at any realistic n·D
    val sizes = a.groupBy("cid").agg(
      count(lit(1)).as("n_points"),
      expr("sum(cast(dist as decimal(38,0))) div 1000000000000")
        .cast("long").as("inertia"))
    val maj = a.groupBy("cid", "label").agg(count(lit(1)).as("cnt"))
      .groupBy("cid").agg(max(struct(col("cnt"), (-col("label")).as("nl"),
        col("label"))).as("m"))
      .select(col("cid"), col("m.label").as("majority_label"), col("m.cnt").as("maj_cnt"))
    sizes.join(maj, "cid")
      .select(col("cid").as("cluster"), col("n_points"), col("inertia"),
        col("majority_label"),
        round(col("maj_cnt") / col("n_points").cast("double"), 4).as("purity"))
      .orderBy("cluster")
  }

  /** q177: SemDeDup pass — inside each final cluster, a vector is
    * dropped when ANY lower-id cluster-mate sits within [[DupThreshold]]
    * squared-L2 (keep-first-by-id, the deterministic variant of "keep
    * one per duplicate ball"). Reports kept/dropped per cluster.
    */
  def semDedupReport(embeddings: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    // cut the lineage once: the self-join below reads the assignment
    // TWICE, and without the cut each side replays the full Lloyd
    // iteration (two assignment passes + centroid update) from the scan
    val a = graft.plans.Checkpoints.cut(
      kmeansAssign(embeddings, k, iters).select("vec_id", "cid", "u"))
    val dropped = a.as("a").join(a.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id") &&
        sqDist(col("a.u"), col("b.u")) <= DupThreshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
    a.join(dropped.withColumn("is_dup", lit(1)), Seq("vec_id"), "left")
      .groupBy(col("cid").as("cluster"))
      .agg(count(lit(1)).as("n_points"),
        sum(coalesce(col("is_dup"), lit(0))).as("n_dropped"),
        (count(lit(1)) - sum(coalesce(col("is_dup"), lit(0)))).as("n_kept"))
      .orderBy("cluster")
  }

  /** q266: k-CENTER GREEDY CORESET (farthest-point traversal, Gonzalez
    * 1985) — k maximally-diverse exemplars: seed at the smallest
    * vec_id, then repeatedly pick the point FARTHEST from every chosen
    * center (max of the running min-distance, ties to the smaller
    * vec_id). Greedy is a 2-approximation of the optimal k-center
    * cover, and the selection-distance sequence IS the coverage-radius
    * curve — the diverse-exemplar data-selection rung (labeling/eval
    * set seeding) beside SemDeDup's near-dup pruning (q177).
    *
    * Scale: the quantized frame is cut once; each of the k rounds is
    * (a) ONE TakeOrdered(1) argmax — never a global sort — and (b) a
    * NARROW min-distance update against the new center shipped as a
    * broadcast literal, so the corpus never shuffles at all. Driver
    * traffic is one row per round (the chosen center), k·D longs total.
    * All distances are the exact-integer [[sqDist]] kernel — no float
    * drift between rounds or engines.
    */
  def kCenterCoreset(embeddings: DataFrame, k: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    val vecs = graft.plans.Checkpoints.cut(
      quantized(embeddings).select("vec_id", "u"))
    val seed = vecs.orderBy("vec_id").limit(1).collect()(0)
    var centers = Vector((1L, seed.getLong(0), 0L))
    var cur = vecs.select(col("vec_id"), col("u"),
      sqDist(col("u"), typedLit(seed.getSeq[Long](1))).as("mind"))
    for (r <- 2 to k) {
      val far = cur.orderBy(col("mind").desc, col("vec_id")).limit(1).collect()(0)
      centers :+= ((r.toLong, far.getLong(0), far.getLong(2)))
      cur = cur.select(col("vec_id"), col("u"),
        least(col("mind"), sqDist(col("u"), typedLit(far.getSeq[Long](1)))).as("mind"))
    }
    val radius = cur.agg(max("mind")).collect()(0).getLong(0)
    import spark.implicits._
    centers.toDF("rank", "vec_id", "sel_dist")
      .withColumn("coverage_radius", lit(radius))
      .orderBy("rank")
  }

  /** q267: IVF RECALL@k EVALUATION — the eval rung of the ANN ladder
    * (brute q28 → IVF q59 → PQ q240): for each of the first `nQueries`
    * vectors, compare the IVF answer (probe the `nprobe` nearest
    * centroid cells of the integer-k-means index, exact distance inside
    * them) against the exact brute-force top-k, and report recall@k per
    * query. This is the measurement a 100 TB deployment tunes nprobe
    * with: recall lost to cell boundaries is visible per query, not
    * averaged away.
    *
    * Scale: the index (assignment + k centroids) comes from the same
    * bounded-shuffle Lloyd's as q176; candidates join cell-keyed (IVF
    * cost = probed-cell sizes, never corpus²); the brute side is
    * corpus × nQueries with the query batch broadcast, and both top-k
    * cuts are rank-pushed windows. All distances are the exact-integer
    * codegen kernel, so recall is bit-deterministic.
    */
  def ivfRecall(embeddings: DataFrame, k: Int = 8, topK: Int = 10,
                nprobe: Int = 2, nQueries: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = graft.plans.Checkpoints.cut(quantized(embeddings))
    val c0 = vecs.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("u").as("cu"))
    val centroids = updateCentroids(assign(vecs, c0))
    val cells = graft.plans.Checkpoints.cut(
      assign(vecs, centroids).select("vec_id", "cid", "u"))
    val qs = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("u").as("qu"))
    val probed = qs.crossJoin(broadcast(centroids))
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(sqDist(col("qu"), col("cu")), col("cid"))))
      .filter(col("rn") <= nprobe)
      .select("qid", "qu", "cid")
    val ivfTop = cells.join(broadcast(probed), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(sqDist(col("qu"), col("u")), col("vec_id"))))
      .filter(col("rn") <= topK)
      .select("qid", "vec_id")
    val bruteTop = vecs.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(sqDist(col("qu"), col("u")), col("vec_id"))))
      .filter(col("rn") <= topK)
      .select("qid", "vec_id")
    bruteTop.join(ivfTop.withColumn("hit", lit(1)), Seq("qid", "vec_id"), "left")
      .groupBy(col("qid").as("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / topK, 4).as("recall"))
      .orderBy("query_id")
  }

  /** q240: PRODUCT QUANTIZATION + asymmetric-distance top-k (Jégou et
    * al. 2011) — the memory-scale rung of the ANN family (brute q28 →
    * IVF q59 → PQ): split each vector into `m` subspaces, train a tiny
    * per-subspace codebook (Lloyd's, same fixed-point doctrine as
    * q176), encode every vector as m small codes, and answer a query by
    * summing m LOOKUP-TABLE entries instead of touching the vector —
    * then re-rank the surviving top-k exactly.
    *
    * All m codebooks train in ONE chain by tagging rows with the
    * subspace id `j`: seeding, assignment, and the centroid update all
    * key on (j, cid), so the per-subspace k-means runs are a single
    * shuffle each, not m separate jobs.
    *
    * Scale: the corpus is scored via a broadcast (j, cid) → distance
    * table (m·k rows) joined on the CODES — the full vectors are read
    * exactly twice (training assignment passes) and never again; exact
    * distances are computed only for the `topN` candidates (the ADC
    * re-rank posture). At 100 TB the codes table is ~m bytes/vector —
    * the point of PQ — and everything else is model-sized.
    */
  def pqTopK(embeddings: DataFrame, m: Int = 4, k: Int = 4, topN: Int = 10): DataFrame = {
    val vecs = quantized(embeddings).select("vec_id", "u")
    // (vec_id, j, su): subspace slices; reused by seeding + 2 assignment
    // passes + the query row — cut once
    val sub = graft.plans.Checkpoints.cut(
      vecs.select(col("vec_id"), explode(expr(s"sequence(0, ${m - 1})")).as("j"), col("u"))
        .select(col("vec_id"), col("j"),
          expr(s"slice(u, j * (size(u) div $m) + 1, size(u) div $m)").as("su")))

    def assignSub(cb: DataFrame): DataFrame =
      sub.join(broadcast(cb), "j")
        .select(col("vec_id"), col("j"), struct(
          sqDist(col("su"), col("cu")).as("dist"), col("cid"), col("su")).as("cand"))
        .groupBy("vec_id", "j").agg(min(col("cand")).as("mn"))
        .select(col("vec_id"), col("j"), col("mn.cid").as("cid"),
          col("mn.su").as("su"))

    var codebook = sub.filter(col("vec_id") < k)
      .select(col("j"), col("vec_id").as("cid"), col("su").as("cu"))
    val a1 = assignSub(codebook)
    codebook = a1.select(col("j"), col("cid"), posexplode(col("su")).as(Seq("dim", "v")))
      .groupBy("j", "cid", "dim").agg(expr("sum(v) div count(*)").as("cm"))
      .groupBy("j", "cid")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cm")))),
        s => s.getField("cm")).as("cu"))
    val codes = assignSub(codebook).select("vec_id", "j", "cid")

    val qid = vecs.agg(min("vec_id").as("qid"))
    val qsub = sub.join(broadcast(qid), col("vec_id") === col("qid"))
      .select(col("j"), col("su").as("qsu"), col("qid"))
    // ADC lookup table: m·k rows, broadcast into the codes join
    val table = codebook.join(broadcast(qsub), "j")
      .select(col("j"), col("cid"), sqDist(col("cu"), col("qsu")).as("td"), col("qid"))
    val approx = codes.join(broadcast(table), Seq("j", "cid"))
      .groupBy("vec_id").agg(sum("td").as("approx_dist"), max("qid").as("qid"))
      .filter(col("vec_id") =!= col("qid"))
    val top = approx.orderBy(col("approx_dist"), col("vec_id")).limit(topN)
    val qvec = vecs.join(broadcast(qid), col("vec_id") === col("qid"))
      .select(col("u").as("qu"))
    top.join(vecs, "vec_id").crossJoin(broadcast(qvec))
      .select(col("vec_id"), col("approx_dist"),
        sqDist(col("u"), col("qu")).as("exact_dist"))
      .orderBy("approx_dist", "vec_id")
  }

  /** q245: CLASS-SEPARABILITY report (Fisher-criterion shape) — for
    * every label pair, the squared distance between class centroids
    * against each class's mean within-class scatter, plus the per-mille
    * ratio. The embedding-quality gate a labeling pipeline runs before
    * trusting classifier training: pairs whose centroids sit closer
    * than their scatter (sep_permille small) are the confusable ones.
    *
    * Same fixed-point doctrine as the rest of the module — centroids
    * are floor-means, scatter is an integer mean of integer distances,
    * and the ratio is per-mille (×1000 keeps the product inside int64:
    * distances reach ~2.5e14 at 64 dims, ×10⁶ would overflow).
    *
    * Scale: two corpus passes (centroid update, scatter), both
    * collapsing map-side to label-keyed frames; the pair matrix is
    * |labels|² over broadcast centroids — model-sized, never data-sized.
    * Int64 headroom: the per-label scatter SUM and the ×1000 separation
    * product both ride decimal(38,0) (HUGEINT in the oracle) — the sf1
    * scale sweep caught the BIGINT sum wrapping at ~3.6e4 members/label.
    */
  def classSeparability(embeddings: DataFrame): DataFrame = {
    val vecs = quantized(embeddings)
    val cents = vecs.select(col("label"), posexplode(col("u")).as(Seq("dim", "v")))
      .groupBy("label", "dim").agg(expr("sum(v) div count(*)").as("cm"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cm")))),
        s => s.getField("cm")).as("cu"))
    // scatter SUM through decimal(38,0): per-member d reaches ~6e18, so
    // the BIGINT sum wraps past ~a handful of members — the sf1 sweep hit
    // this; the MEAN (within) fits int64 because it is bounded by max d
    val within = vecs.join(broadcast(cents), "label")
      .select(col("label"), sqDist(col("u"), col("cu")).as("d"))
      .groupBy("label").agg(
        expr("sum(cast(d as decimal(38,0))) div count(*)")
          .cast("long").as("within"))
    val pairs = cents.alias("a").join(broadcast(cents.alias("b")),
        col("a.label") < col("b.label"))
      .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
        sqDist(col("a.cu"), col("b.cu")).as("between_dist"))
    pairs
      .join(broadcast(within.select(col("label").as("label_a"),
        col("within").as("within_a"))), "label_a")
      .join(broadcast(within.select(col("label").as("label_b"),
        col("within").as("within_b"))), "label_b")
      .select(col("label_a"), col("label_b"), col("between_dist"),
        col("within_a"), col("within_b"),
        // decimal before the ×1000: between_dist alone can sit near the
        // int64 ceiling, so the plain product is one wide pair away from
        // wrapping (the q346 convention)
        expr("cast(between_dist as decimal(38,0)) * 1000 div (within_a + within_b + 1)")
          .cast("long").as("sep_permille"))
      .orderBy("label_a", "label_b")
  }

  /** q295: IVF-PQ search — the composed production ANN stack (Jégou et
    * al. 2011, the FAISS IndexIVFPQ shape): coarse k-means cells (q176)
    * route the query to `nprobe` cells, and WITHIN the probed cells
    * candidates are scored by product-quantized RESIDUALS (vector −
    * cell centroid — PQ codes the residual, which is what makes the
    * codebook sharp near the cell), via an ADC lookup table per
    * (query, cell). Recall@k against the exact brute-force answer is
    * the output — the honest measure of what the compression costs.
    *
    * Same fixed-point doctrine as q176/q240: micro-unit integer
    * vectors, floor-mean centroids, integer squared distances, every
    * argmin tie-broken by id — engine-exact end to end.
    *
    * Scale: the full vectors are touched by the coarse pass and the
    * residual slice pass; after that candidates live as m small codes
    * and the query-side tables are (nQueries·nprobe·m·k) rows,
    * broadcast. The cells-not-probed never join — IVF pruning and PQ
    * compression compose multiplicatively, which is the 100 TB plan.
    */
  def ivfPqRecall(embeddings: DataFrame, kc: Int = 8, m: Int = 8, kpq: Int = 16,
                  topK: Int = 10, nprobe: Int = 2, nQueries: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = graft.plans.Checkpoints.cut(quantized(embeddings))
    val c0 = vecs.filter(col("vec_id") < kc)
      .select(col("vec_id").as("cid"), col("u").as("cu"))
    val centroids = updateCentroids(assign(vecs, c0))
    val cells = graft.plans.Checkpoints.cut(
      assign(vecs, centroids).select("vec_id", "cid", "u"))
    val resid = cells
      .join(broadcast(centroids.select(col("cid"), col("cu").as("ccu"))), "cid")
      .select(col("vec_id"), col("cid"),
        expr("zip_with(u, ccu, (a, b) -> a - b)").as("r"))
    val sub = graft.plans.Checkpoints.cut(
      resid.select(col("vec_id"), col("cid"),
          explode(expr(s"sequence(0, ${m - 1})")).as("j"), col("r"))
        .select(col("vec_id"), col("cid"), col("j"),
          expr(s"slice(r, j * (size(r) div $m) + 1, size(r) div $m)").as("su")))
    def assignSub(cb: DataFrame): DataFrame =
      sub.join(broadcast(cb), "j")
        .select(col("vec_id"), col("cid"), col("j"), struct(
          sqDist(col("su"), col("pcu")).as("dist"), col("code"), col("su")).as("cand"))
        .groupBy("vec_id", "cid", "j").agg(min(col("cand")).as("mn"))
        .select(col("vec_id"), col("cid"), col("j"), col("mn.code").as("code"),
          col("mn.su").as("su"))
    val p0 = sub.filter(col("vec_id") < kpq)
      .select(col("j"), col("vec_id").as("code"), col("su").as("pcu"))
    val p1 = assignSub(p0)
      .select(col("j"), col("code"), posexplode(col("su")).as(Seq("dim", "v")))
      .groupBy("j", "code", "dim").agg(expr("sum(v) div count(*)").as("cm"))
      .groupBy("j", "code")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("cm")))),
        s => s.getField("cm")).as("pcu"))
    val codes = assignSub(p1).select("vec_id", "cid", "j", "code")
    val qs = vecs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("u").as("qu"))
    val probed = qs.crossJoin(broadcast(centroids))
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(sqDist(col("qu"), col("cu")), col("cid"))))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("cid"),
        expr("zip_with(qu, cu, (a, b) -> a - b)").as("qr"))
    val qsub = probed.select(col("qid"), col("cid"),
        explode(expr(s"sequence(0, ${m - 1})")).as("j"), col("qr"))
      .select(col("qid"), col("cid"), col("j"),
        expr(s"slice(qr, j * (size(qr) div $m) + 1, size(qr) div $m)").as("qsu"))
    val table = qsub.join(broadcast(p1), "j")
      .select(col("qid"), col("cid"), col("j"), col("code"),
        sqDist(col("pcu"), col("qsu")).as("td"))
    val approx = codes.join(broadcast(table), Seq("cid", "j", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id").agg(sum("td").as("ad"))
    val nCand = approx.groupBy("qid").agg(count(lit(1)).as("n_cand"))
    // ADC shortlist (3·topK) → EXACT re-rank of the survivors — the
    // standard refine stage: full vectors are read only for the
    // shortlist, and most of the PQ ordering error washes out
    val shortlist = approx
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("ad"), col("vec_id"))))
      .filter(col("rn") <= 3 * topK)
      .select("qid", "vec_id")
    val pqTop = shortlist
      .join(vecs, "vec_id")
      .join(broadcast(qs), "qid")
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(sqDist(col("qu"), col("u")), col("vec_id"))))
      .filter(col("rn") <= topK)
      .select("qid", "vec_id")
    val brute = vecs.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(sqDist(col("qu"), col("u")), col("vec_id"))))
      .filter(col("rn") <= topK)
      .select("qid", "vec_id")
    brute.join(pqTop.withColumn("hit", lit(1)), Seq("qid", "vec_id"), "left")
      .groupBy(col("qid").as("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hits"))
      .join(nCand.select(col("qid").as("query_id"), col("n_cand")),
        Seq("query_id"), "left")
      .withColumn("n_cand", coalesce(col("n_cand"), lit(0L)))
      .select(col("query_id"), col("n_cand"), col("n_hits"),
        round(col("n_hits").cast("double") / topK, 4).as("recall"))
      .orderBy("query_id")
  }

  /** q296: density clustering — DBSCAN (Ester et al. 1996) over the
    * first two embedding dimensions, made distributed by GRID-CELL
    * bucketing: with cell width = eps, every eps-neighbor pair lives in
    * the same or an adjacent cell, so the only join needed is an
    * equi-join on cell id with the probe side expanded to its 3×3
    * neighborhood — candidate generation is exact (no pair within eps
    * can be missed, the grid theorem) and the naive all-pairs oracle
    * green-checks exactly that.
    *
    * Classic DBSCAN semantics, deterministically tie-broken:
    *  - core = |eps-neighborhood| ≥ minPts (self included);
    *  - clusters = connected components of the core-core eps graph
    *    (min-label, via [[Dedup.connectedComponents]]);
    *  - border = non-core with ≥1 core neighbor, assigned to the
    *    SMALLEST cluster label among its core neighbors (the textbook
    *    "first core that reaches it" made order-independent);
    *  - noise reported as the cluster_id = -1 row.
    *
    * Scale shape: the candidate join is keyed on cell id — ONE shuffle,
    * each task sees one cell's 3×3 neighborhood, cost Σ |cell|·|nbhd|
    * (density-bounded, never corpus²); dense cells are AQE-splittable.
    * The CC loop runs on the CORE-pair graph only, which density
    * clustering keeps far smaller than the corpus. All arithmetic is
    * exact integer (quantized coords, integer d²) — no float drift in
    * any membership decision.
    */
  def dbscanReport(embeddings: DataFrame, eps: Long = 9000L, minPts: Int = 4): DataFrame = {
    val pts = graft.plans.Checkpoints.cut(
      quantized(embeddings).select(col("vec_id"),
        col("u").getItem(0).as("x"), col("u").getItem(1).as("y")))
    val home = pts.select(col("vec_id").as("b_id"), col("x").as("bx"),
      col("y").as("by"), expr(s"x div $eps").as("cx"), expr(s"y div $eps").as("cy"))
    val probe = pts
      .select(col("vec_id").as("a_id"), col("x").as("ax"), col("y").as("ay"),
        explode(expr(s"flatten(transform(sequence(-1, 1), dx -> " +
          s"transform(sequence(-1, 1), dy -> " +
          s"struct((x div $eps) + dx AS cx, (y div $eps) + dy AS cy))))")).as("c"))
      .select(col("a_id"), col("ax"), col("ay"), col("c.cx"), col("c.cy"))
    // each ordered eps-pair appears exactly once: b's home cell is unique
    // and a probes it exactly once among its 9 neighbor keys
    val pairs = graft.plans.Checkpoints.cut(
      probe.join(home, Seq("cx", "cy"))
        .filter(col("a_id") =!= col("b_id") &&
          (col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by")) <= lit(eps * eps))
        .select(col("a_id"), col("b_id")))
    val core = pairs.groupBy(col("a_id").as("vec_id"))
      .agg((count(lit(1)) + 1).as("n_nb"))
      .filter(col("n_nb") >= minPts).select("vec_id")
    val coreEdges = pairs
      .join(core.select(col("vec_id").as("a_id")), "a_id")
      .join(core.select(col("vec_id").as("b_id")), "b_id")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    // isolated core points (no core neighbor) are their own singleton
    // cluster — connectedComponents only labels edge-touching nodes
    val coreLabels = core
      .join(Dedup.connectedComponents(coreEdges)
        .select(col("id").as("vec_id"), col("label")), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("label"), col("vec_id")).as("cluster_id"))
    val borderLabels = pairs
      .join(coreLabels.select(col("vec_id").as("b_id"), col("cluster_id")), "b_id")
      .join(core.select(col("vec_id").as("a_id")), Seq("a_id"), "left_anti")
      .groupBy(col("a_id").as("vec_id")).agg(min(col("cluster_id")).as("cluster_id"))
    val labeled = coreLabels.withColumn("is_core", lit(1))
      .unionByName(borderLabels.withColumn("is_core", lit(0)))
    val noise = pts.join(labeled.select("vec_id"), Seq("vec_id"), "left_anti")
      .agg(count(lit(1)).as("n_points"))
      .select(lit(-1L).as("cluster_id"), lit(0L).as("n_core"),
        lit(0L).as("n_border"), col("n_points"))
    labeled.groupBy("cluster_id")
      .agg(sum(col("is_core")).cast("long").as("n_core"),
        sum(lit(1) - col("is_core")).cast("long").as("n_border"),
        count(lit(1)).as("n_points"))
      .unionByName(noise)
      .orderBy("cluster_id")
  }

  /** q306: Hopkins clusterability statistic (Hopkins & Skellam 1954;
    * Banerjee & Davé 2004 for the modern form) — the go/no-go gate
    * BEFORE paying for k-means/DBSCAN: H ≈ 0.5 means the embedding
    * cloud is indistinguishable from uniform noise (clustering it
    * manufactures structure); H → 1 means real cluster tendency.
    * Computed with SQUARED distances (the d² variant — keeps every
    * comparison on exact integers; documented, both engines identical).
    *
    * m synthetic probes are md5-uniform per dimension inside the data's
    * bounding box (the q66/q298 convention — any engine regenerates the
    * same probes); the real sample is the m smallest md5(vec_id) rows.
    * H = Σu/(Σu+Σw) where u = probe→data nearest d², w = sample→data
    * (self-excluded) nearest d².
    *
    * Scale shape: both nearest-neighbor passes broadcast the BOUNDED
    * probe/sample frames (m×D) against ONE corpus scan each; the
    * per-partition min combines map-side so the shuffle carries m rows
    * per partition, never the corpus. The bounding box is a D-row
    * aggregate.
    */
  def hopkinsStatistic(embeddings: DataFrame, m: Int = 50,
                       salt: String = "hop"): DataFrame = {
    val q = embeddings.select(col("vec_id"),
      expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000000) as bigint))")
        .as("xq"))
    val dims = q.select(posexplode(col("xq")).as(Seq("d", "v")))
      .groupBy("d").agg(min("v").as("lo"), max("v").as("hi"))
    val js = dims.sparkSession.range(0, m).select(col("id").as("j"))
    val h = conv(substring(md5(concat(lit(salt + "|"), col("j"),
      lit("|"), col("d"))), 1, 15), 16, 10).cast("long")
    val probes = dims.crossJoin(broadcast(js))
      .select(col("j"), col("d"), (col("lo") + h % (col("hi") - col("lo") + 1)).as("u"))
      .groupBy("j")
      .agg(expr("transform(array_sort(collect_list(struct(d, u))), s -> s.u)").as("uq"))
    val probeMin = q.crossJoin(broadcast(probes))
      .select(col("j"), expr(
        "aggregate(zip_with(xq, uq, (x, y) -> (x - y) * (x - y)), 0L, (s, v) -> s + v)")
        .as("d2"))
      .groupBy("j").agg(min("d2").as("u"))
    val sample = q
      .orderBy(md5(concat(lit(salt + "s|"), col("vec_id"))), col("vec_id")).limit(m)
      .select(col("vec_id").as("sid"), col("xq").as("sq"))
    val sampleMin = q.crossJoin(broadcast(sample)).filter(col("vec_id") =!= col("sid"))
      .select(col("sid"), expr(
        "aggregate(zip_with(xq, sq, (x, y) -> (x - y) * (x - y)), 0L, (s, v) -> s + v)")
        .as("d2"))
      .groupBy("sid").agg(min("d2").as("w"))
    probeMin.agg(count(lit(1)).as("m_probes"), sum("u").as("sum_u"))
      .crossJoin(broadcast(
        sampleMin.agg(count(lit(1)).as("n_sample"), sum("w").as("sum_w"))))
      .select(col("m_probes"), col("n_sample"), col("sum_u"), col("sum_w"),
        round(col("sum_u").cast("double") /
          (col("sum_u") + col("sum_w")).cast("double"), 6).as("hopkins"))
  }

  /** q308: simplified-silhouette quality report for the q176 k-means
    * model (Hruschka et al. 2004's centroid form of Rousseeuw 1987) —
    * the per-cluster cohesion/separation gate run AFTER clustering:
    * s(i) = (b−a)/max(a,b) with a = d²(i, own centroid),
    * b = min d²(i, other centroids). The centroid form needs k
    * distances per point, not n — the only silhouette computable at
    * corpus scale — and with squared L2 it stays on exact integers
    * (a ≤ b by assignment-optimality, so s ∈ [0,1] and every floor
    * division is non-negative; per-point s floor-quantizes to ppm
    * BEFORE the per-cluster mean, which is then one integer division).
    *
    * Scale shape: same broadcast-centroid assignment pass as q176 (the
    * codegen'd sqdist kernel, k·D per point); ranking the k candidate
    * distances per vector is a bounded window. Nothing pairwise.
    */
  def silhouetteReport(embeddings: DataFrame, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = quantized(embeddings)
    val c0 = vecs.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("u").as("cu"))
    val c1 = updateCentroids(assign(vecs, c0))
    val d = vecs.crossJoin(broadcast(c1))
      .select(col("vec_id"), col("cid"), sqDist(col("u"), col("cu")).as("dist"))
    val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))
    val ranked = d.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    val r1 = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("cid").as("cluster"), col("dist").as("adist"))
    val r2 = ranked.filter(col("rn") === 2)
      .select(col("vec_id"), col("dist").as("bdist"))
    r1.join(r2, "vec_id")
      .select(col("cluster"),
        when(col("bdist") <= 0, lit(0L))
          .otherwise(expr("cast(bdist - adist as decimal(38,0)) * 1000000L div bdist"))
          .as("s_ppm"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_points"),
        expr("sum(s_ppm) div count(1)").as("mean_s_ppm"),
        min("s_ppm").as("min_s_ppm"))
      .orderBy("cluster")
  }

  /** q323: LEAVE-ONE-SOURCE-OUT data valuation — the "which supplier's
    * data is WORTH anything" question answered without 20 retrains:
    * a nearest-centroid classifier's sufficient statistics are ADDITIVE
    * (per-label vector sums and counts), so the model with source s
    * excluded is literally `global − s` on the stats frame. Every
    * source's marginal value (LOO eval accuracy minus full-model
    * accuracy) then costs ONE extra bounded join, not one retrain —
    * the property that makes data valuation feasible at 100 TB, where
    * retrain-per-source is off the table. (Same doctrine as q99's
    * incremental dedup: design the model so ingest/retract is algebra
    * on sketches, not recomputation.)
    *
    * Determinism: the q176 fixed-point anatomy — micro-unit offset
    * vectors, truncating integer division for centroids (numerators
    * are sums of non-negative units, so `div` == floor on both
    * engines), exact integer squared-L2 via the codegen'd vec_sqdist
    * kernel, (dist, label) struct-min argmin. A label whose train rows
    * all came from the excluded source simply drops from that model.
    *
    * Scale: one posexplode pass → two bounded stats frames
    * (labels×dims and labels×sources×dims); models/centroids are
    * model-sized and broadcast; scoring is eval×(sources+1)×labels
    * rows of codegen'd kernel work, never corpus×corpus.
    */
  def looSourceValuation(embeddings: DataFrame, documents: DataFrame): DataFrame = {
    val e = quantized(embeddings)
      .join(documents.select(col("doc_id").as("vec_id"), col("source")), "vec_id")
    // mod-7 split: the source key correlates with doc_id mod 20, so a
    // mod-5 split would silently drop 4 whole sources from train;
    // 7 ⊥ 20 keeps every source on both sides
    val train = e.filter(col("vec_id") % 7 =!= 0)
    val evalSet = e.filter(col("vec_id") % 7 === 0)
    val long = train.select(col("label"), col("source"),
      posexplode(col("u")).as(Seq("dim", "v")))
    val gl = long.groupBy("label", "dim")
      .agg(sum("v").as("sv"), count(lit(1)).as("nv"))
    val sl = long.groupBy("source", "label", "dim")
      .agg(sum("v").as("ssv"), count(lit(1)).as("nsv"))
    val sources = train.select("source").distinct()
    val full = gl.select(lit("full").as("model"), col("label"), col("dim"),
      expr("sv div nv").as("c"))
    // broadcast the (label × dim) stats grid: both sides are bounded,
    // but without the hint Catalyst plans a CartesianProduct (row-level
    // n·m task grid) where a BroadcastNestedLoop is one pass
    val loo = sources.crossJoin(broadcast(gl))
      .join(sl, Seq("source", "label", "dim"), "left")
      .na.fill(0L, Seq("ssv", "nsv"))
      .filter(col("nv") > col("nsv"))
      .select(col("source").as("model"), col("label"), col("dim"),
        expr("(sv - ssv) div (nv - nsv)").as("c"))
    val cent = full.unionByName(loo).groupBy("model", "label")
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)")
        .as("cu"))
    val pred = evalSet.select(col("vec_id"), col("label").as("true_label"), col("u"))
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("true_label"), col("model"),
        struct(sqDist(col("u"), col("cu")).as("dist"), col("label")).as("s"))
      .groupBy("model", "vec_id", "true_label").agg(min("s").as("m"))
      .select(col("model"),
        (col("m.label") === col("true_label")).cast("long").as("ok"))
    val acc = pred.groupBy("model")
      .agg(count(lit(1)).as("n_eval"), sum("ok").as("n_correct"))
      .withColumn("acc_ppm", expr("n_correct * 1000000 div n_eval"))
    val fullAcc = acc.filter(col("model") === "full")
      .select(col("acc_ppm").as("full_ppm"))
    val nExcl = train.groupBy("source").agg(count(lit(1)).as("n_train_excluded"))
    acc.filter(col("model") =!= "full")
      .join(nExcl, col("model") === col("source"))
      .crossJoin(broadcast(fullAcc))
      .select(col("model").as("excluded_source"), col("n_train_excluded"),
        col("n_eval"), col("n_correct"), col("acc_ppm"),
        (col("acc_ppm") - col("full_ppm")).as("delta_ppm"))
      .orderBy("excluded_source")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q323_loo_valuation" -> ((s, d) => { val t = Tables(s, d)
      looSourceValuation(t.embeddings, t.documents) }),
    "q308_silhouette" -> ((s, d) => silhouetteReport(Tables(s, d).embeddings)),
    "q306_hopkins" -> ((s, d) => hopkinsStatistic(Tables(s, d).embeddings)),
    // kc (coarse cells) is the IVF size knob — probe cost ≈ nprobe/kc
    // of the corpus, so a pinned kc is linear-per-probe at any size.
    // Autosize derives kc = ⌈√n⌉ (Autosize.ivfCellsLaw — balances
    // centroid scan vs cell scan); default stays the oracle-pinned 8.
    // Same for q267 below.
    "q295_ivfpq_recall" -> ((s, d) => ivfPqRecall(Tables(s, d).embeddings,
      kc = graft.plans.Autosize.ivfConf(s, d))),
    "q296_dbscan" -> ((s, d) => dbscanReport(Tables(s, d).embeddings)),
    // k is the SIZE knob that must scale with the corpus: SemDeDup's
    // Σnᵢ² pairwise bound is linear only when k ∝ n (fixed k=8 on 10×
    // data measured 18× in the sf1 scale sweep — by design, not defect).
    // spark.graft.autosize derives k = max(8, ⌈n/250⌉) (the sf0.1
    // default's per-cluster membership)
    "q176_kmeans"   -> ((s, d) => kmeansReport(Tables(s, d).embeddings,
      k = graft.plans.Autosize.kmeansConf(s, d))),
    "q177_semdedup" -> ((s, d) => semDedupReport(Tables(s, d).embeddings,
      k = graft.plans.Autosize.kmeansConf(s, d))),
    "q240_pq_topk"  -> ((s, d) => pqTopK(Tables(s, d).embeddings)),
    "q245_class_separability" -> ((s, d) => classSeparability(Tables(s, d).embeddings)),
    "q266_kcenter_coreset" -> ((s, d) => kCenterCoreset(Tables(s, d).embeddings)),
    "q267_ivf_recall" -> ((s, d) => ivfRecall(Tables(s, d).embeddings,
      k = graft.plans.Autosize.ivfConf(s, d))),
  )

  /** Unrolled SQL of the greedy k-center traversal (k=8): each round's
    * min-distance frame is MATERIALIZED (the q223 lesson — a CTE level
    * referenced twice otherwise re-evaluates multiplicatively per
    * round), the argmax is an ORDER BY ... LIMIT 1, and round r's frame
    * is least(previous, dist-to-new-center) — exactly the Spark loop.
    */
  private val kcenterOracle: String = {
    def dist(a: String, b: String) =
      s"list_sum(list_transform(range(len($a.u)), k -> ($a.u[k+1] - $b.u[k+1]) * ($a.u[k+1] - $b.u[k+1])))"
    val rounds = (2 to 8).map { r =>
      s"""c$r AS MATERIALIZED (SELECT vec_id, u, mind FROM d${r - 1}
         |        ORDER BY mind DESC, vec_id LIMIT 1),
         |d$r AS MATERIALIZED (SELECT d.vec_id, d.u,
         |        least(d.mind, ${dist("d", "c")}) AS mind
         |     FROM d${r - 1} d CROSS JOIN c$r c)""".stripMargin
    }.mkString(",\n")
    val sel = (2 to 8).map { r =>
      s"UNION ALL SELECT ${r}::BIGINT, vec_id, mind::BIGINT FROM c$r"
    }.mkString("\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id,
       |          list_transform(embedding,
       |            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) + 1000000) AS u
       |        FROM embeddings),
       |c1 AS MATERIALIZED (SELECT vec_id, u FROM e ORDER BY vec_id LIMIT 1),
       |d1 AS MATERIALIZED (SELECT e.vec_id, e.u, ${dist("e", "c")} AS mind
       |     FROM e CROSS JOIN c1 c),
       |$rounds,
       |sel AS (SELECT 1::BIGINT AS rank, vec_id, 0::BIGINT AS sel_dist FROM c1
       |$sel)
       |SELECT rank, vec_id, sel_dist,
       |       (SELECT max(mind) FROM d8)::BIGINT AS coverage_radius
       |FROM sel ORDER BY rank""".stripMargin
  }

  /** Shared oracle prelude: quantize, seed centroids, one Lloyd update,
    * final assignment — the SQL unrolling of kmeansAssign(k=8, iters=2).
    */
  private val assignSql =
    """WITH e AS (SELECT vec_id, label,
      |                 list_transform(embedding,
      |                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) + 1000000) AS u
      |          FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, u AS cu FROM e WHERE vec_id < 8),
      |d1 AS (SELECT e.vec_id, e.label, e.u, c.cid,
      |              list_sum(list_transform(range(len(e.u)),
      |                k -> (e.u[k+1] - c.cu[k+1]) * (e.u[k+1] - c.cu[k+1]))) AS dist
      |       FROM e CROSS JOIN c0 c),
      |a1 AS (SELECT * FROM (SELECT vec_id, label, u, cid, dist,
      |                             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |                      FROM d1) WHERE rn = 1),
      |c1 AS (SELECT cid, list(cm ORDER BY dim) AS cu FROM (
      |         SELECT cid, dim, sum(v) // count(*) AS cm FROM (
      |           SELECT cid, unnest(range(len(u))) AS dim, unnest(u) AS v FROM a1)
      |         GROUP BY cid, dim) GROUP BY cid),
      |d2 AS (SELECT e.vec_id, e.label, e.u, c.cid,
      |              list_sum(list_transform(range(len(e.u)),
      |                k -> (e.u[k+1] - c.cu[k+1]) * (e.u[k+1] - c.cu[k+1]))) AS dist
      |       FROM e CROSS JOIN c1 c),
      |a2 AS (SELECT * FROM (SELECT vec_id, label, u, cid, dist,
      |                             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |                      FROM d2) WHERE rn = 1)""".stripMargin

  /** q295 oracle: q176's coarse unrolling (e/c1/a2) + q240's PQ
    * unrolling re-run on RESIDUALS, then the per-(query, cell) ADC
    * tables and the recall join. */
  private def ivfPqSql(m: Int, kpq: Int, topK: Int, nprobe: Int,
                       nQueries: Int): String = assignSql +
    s""",
      |rc AS (SELECT a.vec_id, a.cid,
      |              list_transform(range(len(a.u)), k -> a.u[k+1] - c.cu[k+1]) AS r
      |       FROM a2 a JOIN c1 c ON a.cid = c.cid),
      |wl AS (SELECT min(len(r)) // $m AS w FROM rc),
      |js AS (SELECT unnest(range($m)) AS j),
      |sub AS MATERIALIZED (
      |  SELECT vec_id, cid, j, list_slice(r, j * w + 1, j * w + w) AS su
      |  FROM rc CROSS JOIN wl CROSS JOIN js),
      |p0 AS (SELECT j, vec_id AS code, su AS pcu FROM sub WHERE vec_id < $kpq),
      |pd1 AS (SELECT s.vec_id, s.cid, s.j, c.code, s.su,
      |               list_sum(list_transform(range(len(s.su)),
      |                 k -> (s.su[k+1] - c.pcu[k+1]) * (s.su[k+1] - c.pcu[k+1]))) AS dist
      |        FROM sub s JOIN p0 c ON s.j = c.j),
      |pa1 AS MATERIALIZED (SELECT vec_id, cid, j, code, su FROM (
      |        SELECT vec_id, cid, j, code, su, row_number() OVER (
      |          PARTITION BY vec_id, j ORDER BY dist, code) AS rn FROM pd1) WHERE rn = 1),
      |p1 AS MATERIALIZED (SELECT j, code, list(cm ORDER BY dim) AS pcu FROM (
      |        SELECT j, code, dim, sum(v) // count(*) AS cm FROM (
      |          SELECT j, code, unnest(range(len(su))) AS dim, unnest(su) AS v FROM pa1)
      |        GROUP BY j, code, dim) GROUP BY j, code),
      |pd2 AS (SELECT s.vec_id, s.cid, s.j, c.code,
      |               list_sum(list_transform(range(len(s.su)),
      |                 k -> (s.su[k+1] - c.pcu[k+1]) * (s.su[k+1] - c.pcu[k+1]))) AS dist
      |        FROM sub s JOIN p1 c ON s.j = c.j),
      |codes AS MATERIALIZED (SELECT vec_id, cid, j, code FROM (
      |        SELECT vec_id, cid, j, code, row_number() OVER (
      |          PARTITION BY vec_id, j ORDER BY dist, code) AS rn FROM pd2) WHERE rn = 1),
      |q AS (SELECT vec_id AS qid, u AS qu FROM e WHERE vec_id < $nQueries),
      |pc AS (SELECT qid, qu, cid, cu FROM (
      |         SELECT q.qid, q.qu, c.cid, c.cu,
      |                row_number() OVER (PARTITION BY q.qid ORDER BY
      |                  list_sum(list_transform(range(len(q.qu)),
      |                    k -> (q.qu[k+1] - c.cu[k+1]) * (q.qu[k+1] - c.cu[k+1]))),
      |                  c.cid) AS rn
      |         FROM q CROSS JOIN c1 c) WHERE rn <= $nprobe),
      |qr AS (SELECT qid, cid,
      |              list_transform(range(len(qu)), k -> qu[k+1] - cu[k+1]) AS qr
      |       FROM pc),
      |qsub AS (SELECT qid, cid, j, list_slice(qr, j * w + 1, j * w + w) AS qsu
      |         FROM qr CROSS JOIN wl CROSS JOIN js),
      |tbl AS (SELECT s.qid, s.cid, c.j, c.code,
      |               list_sum(list_transform(range(len(c.pcu)),
      |                 k -> (c.pcu[k+1] - s.qsu[k+1]) * (c.pcu[k+1] - s.qsu[k+1]))) AS td
      |        FROM p1 c JOIN qsub s ON c.j = s.j),
      |approx AS (SELECT t.qid, a.vec_id, sum(t.td) AS ad
      |           FROM codes a JOIN tbl t ON a.cid = t.cid AND a.j = t.j AND a.code = t.code
      |           WHERE a.vec_id <> t.qid GROUP BY t.qid, a.vec_id),
      |ncand AS (SELECT qid, count(*)::BIGINT AS n_cand FROM approx GROUP BY qid),
      |short AS (SELECT qid, vec_id FROM (
      |            SELECT qid, vec_id, row_number() OVER (
      |              PARTITION BY qid ORDER BY ad, vec_id) AS rn FROM approx)
      |          WHERE rn <= ${3 * topK}),
      |pqtop AS (SELECT qid, vec_id FROM (
      |            SELECT s.qid, s.vec_id, row_number() OVER (
      |              PARTITION BY s.qid ORDER BY
      |                list_sum(list_transform(range(len(q.qu)),
      |                  k -> (q.qu[k+1] - e.u[k+1]) * (q.qu[k+1] - e.u[k+1]))),
      |                s.vec_id) AS rn
      |            FROM short s JOIN e ON e.vec_id = s.vec_id
      |                         JOIN q ON q.qid = s.qid)
      |          WHERE rn <= $topK),
      |brute AS (SELECT qid, vec_id FROM (
      |            SELECT q.qid, e.vec_id,
      |                   row_number() OVER (PARTITION BY q.qid ORDER BY
      |                     list_sum(list_transform(range(len(q.qu)),
      |                       k -> (q.qu[k+1] - e.u[k+1]) * (q.qu[k+1] - e.u[k+1]))),
      |                     e.vec_id) AS rn
      |            FROM q CROSS JOIN e WHERE e.vec_id <> q.qid)
      |          WHERE rn <= $topK)
      |SELECT b.qid AS query_id, coalesce(n.n_cand, 0)::BIGINT AS n_cand,
      |       count(i.vec_id)::BIGINT AS n_hits,
      |       round(count(i.vec_id)::DOUBLE / $topK.0, 4) AS recall
      |FROM brute b
      |LEFT JOIN pqtop i ON b.qid = i.qid AND b.vec_id = i.vec_id
      |LEFT JOIN ncand n ON n.qid = b.qid
      |GROUP BY b.qid, n.n_cand ORDER BY query_id""".stripMargin

  /** q296 oracle: NAIVE all-pairs eps test (no grid — green-checks the
    * grid theorem that 3×3 bucketing misses no pair), recursive-CTE
    * reachability over core-core edges for the components (the q58
    * pattern), min-label border attachment, noise as the -1 row. */
  private def dbscanSql(eps: Long, minPts: Int): String =
    s"""WITH RECURSIVE
      |p AS MATERIALIZED (SELECT vec_id,
      |       CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) + 1000000 AS x,
      |       CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000) AS BIGINT) + 1000000 AS y
      |     FROM embeddings),
      |pr AS MATERIALIZED (
      |  SELECT a.vec_id AS l, b.vec_id AS r FROM p a JOIN p b
      |  ON a.vec_id <> b.vec_id
      |     AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= $eps * $eps),
      |core AS MATERIALIZED (
      |  SELECT l AS vec_id FROM pr GROUP BY l HAVING count(*) + 1 >= $minPts),
      |ce AS MATERIALIZED (
      |  SELECT l AS src, r AS dst FROM pr
      |  WHERE l IN (SELECT vec_id FROM core) AND r IN (SELECT vec_id FROM core)),
      |reach(src, node) AS (
      |  SELECT vec_id, vec_id FROM core
      |  UNION
      |  SELECT rc.src, e.dst FROM reach rc JOIN ce e ON rc.node = e.src),
      |cl AS MATERIALIZED (SELECT src AS vec_id, min(node) AS cluster_id
      |                    FROM reach GROUP BY src),
      |bl AS (SELECT pr.l AS vec_id, min(c.cluster_id) AS cluster_id
      |       FROM pr JOIN cl c ON pr.r = c.vec_id
      |       WHERE pr.l NOT IN (SELECT vec_id FROM core) GROUP BY pr.l),
      |lab AS (SELECT vec_id, cluster_id, 1 AS is_core FROM cl
      |        UNION ALL SELECT vec_id, cluster_id, 0 FROM bl)
      |SELECT cluster_id, sum(is_core)::BIGINT AS n_core,
      |       sum(1 - is_core)::BIGINT AS n_border, count(*)::BIGINT AS n_points
      |FROM lab GROUP BY cluster_id
      |UNION ALL
      |SELECT -1, 0, 0, (SELECT count(*) FROM p) - (SELECT count(*) FROM lab)
      |ORDER BY cluster_id""".stripMargin

  override def oracles: Map[String, String] = Map(
    // LOO models re-derived from the additive stats frame (global − source);
    // same micro-unit offset, same truncating centroid division, same
    // (dist, label) argmin as the Spark side
    "q323_loo_valuation" ->
      """WITH e AS (SELECT vec_id, label,
        |       list_transform(embedding,
        |         x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) + 1000000) AS u
        |     FROM embeddings),
        |ed AS (SELECT e.vec_id, e.label, d.source, e.u
        |       FROM e JOIN documents d ON e.vec_id = d.doc_id),
        |train AS (SELECT * FROM ed WHERE vec_id % 7 <> 0),
        |ev AS (SELECT * FROM ed WHERE vec_id % 7 = 0),
        |lng AS (SELECT label, source, unnest(range(len(u))) AS dim, unnest(u) AS v
        |        FROM train),
        |gl AS (SELECT label, dim, sum(v)::BIGINT AS sv, count(*)::BIGINT AS nv
        |       FROM lng GROUP BY 1, 2),
        |sl AS (SELECT source, label, dim, sum(v)::BIGINT AS ssv, count(*)::BIGINT AS nsv
        |       FROM lng GROUP BY 1, 2, 3),
        |srcs AS (SELECT DISTINCT source FROM train),
        |fullm AS (SELECT 'full' AS model, label, dim, sv // nv AS c FROM gl),
        |loo AS (SELECT s.source AS model, g.label, g.dim,
        |               (g.sv - coalesce(x.ssv, 0)) // (g.nv - coalesce(x.nsv, 0)) AS c
        |        FROM srcs s CROSS JOIN gl g
        |        LEFT JOIN sl x ON x.source = s.source AND x.label = g.label
        |                      AND x.dim = g.dim
        |        WHERE g.nv > coalesce(x.nsv, 0)),
        |cent AS MATERIALIZED (SELECT model, label, list(c ORDER BY dim) AS cu
        |        FROM (SELECT * FROM fullm UNION ALL SELECT * FROM loo)
        |        GROUP BY model, label),
        |sc AS (SELECT ev.vec_id, ev.label AS true_label, c.model, c.label,
        |              list_sum(list_transform(range(len(ev.u)),
        |                k -> (ev.u[k+1] - c.cu[k+1]) * (ev.u[k+1] - c.cu[k+1]))) AS dist
        |       FROM ev CROSS JOIN cent c),
        |pr AS (SELECT model, vec_id, true_label, label FROM (
        |         SELECT model, vec_id, true_label, label,
        |                row_number() OVER (PARTITION BY model, vec_id
        |                                   ORDER BY dist, label) AS rn
        |         FROM sc) WHERE rn = 1),
        |acc AS (SELECT model, count(*)::BIGINT AS n_eval,
        |               sum((label = true_label)::BIGINT)::BIGINT AS n_correct
        |        FROM pr GROUP BY model),
        |a2 AS MATERIALIZED (SELECT model, n_eval, n_correct,
        |       n_correct * 1000000 // n_eval AS acc_ppm FROM acc),
        |nx AS (SELECT source, count(*)::BIGINT AS n_train_excluded
        |       FROM train GROUP BY source)
        |SELECT a2.model AS excluded_source, nx.n_train_excluded, a2.n_eval,
        |       a2.n_correct, a2.acc_ppm,
        |       (a2.acc_ppm - (SELECT acc_ppm FROM a2 WHERE model = 'full'))::BIGINT
        |         AS delta_ppm
        |FROM a2 JOIN nx ON a2.model = nx.source
        |WHERE a2.model <> 'full'
        |ORDER BY excluded_source""".stripMargin,
    // q176's unrolled Lloyd's (e/c0/a1/c1), then k ranked distances per
    // vector; ppm silhouettes in HUGEINT before the per-cluster mean
    "q308_silhouette" -> (assignSql +
      """,
        |d3 AS (SELECT e.vec_id, c.cid,
        |              list_sum(list_transform(range(len(e.u)),
        |                k -> (e.u[k+1] - c.cu[k+1]) * (e.u[k+1] - c.cu[k+1]))) AS dist
        |       FROM e CROSS JOIN c1 c),
        |r3 AS (SELECT vec_id, cid, dist,
        |              row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        |       FROM d3),
        |pr AS (SELECT a.vec_id, a.cid AS cluster, a.dist AS adist, b.dist AS bdist
        |       FROM r3 a JOIN r3 b ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2),
        |sv AS (SELECT cluster,
        |              CASE WHEN bdist <= 0 THEN 0
        |                   ELSE ((bdist - adist)::HUGEINT * 1000000 // bdist)::BIGINT
        |              END AS s_ppm
        |       FROM pr)
        |SELECT cluster, count(*)::BIGINT AS n_points,
        |       (sum(s_ppm) // count(*))::BIGINT AS mean_s_ppm,
        |       min(s_ppm)::BIGINT AS min_s_ppm
        |FROM sv GROUP BY cluster ORDER BY cluster""".stripMargin),
    "q306_hopkins" ->
      """WITH q AS (SELECT vec_id, list_transform(embedding,
        |             x -> CAST(floor(x::DOUBLE * 1000000) AS BIGINT)) AS xq
        |           FROM embeddings),
        |dims AS (SELECT i AS d, min(xq[i + 1]) AS lo, max(xq[i + 1]) AS hi
        |         FROM q, unnest(range(len(xq))) t(i) GROUP BY 1),
        |pr AS (SELECT r.j, d,
        |              lo + (list_reduce(list_transform(range(1, 16),
        |                i -> strpos('0123456789abcdef',
        |                       substr(md5('hop|' || r.j || '|' || d), i, 1)) - 1),
        |                (a, b) -> a * 16 + b)::BIGINT % (hi - lo + 1)) AS u
        |       FROM dims, range(50) r(j)),
        |pv AS (SELECT j, list_transform(list_sort(list({'d': d, 'u': u})), s -> s.u) AS uq
        |       FROM pr GROUP BY j),
        |um AS (SELECT j, min(list_sum(list_transform(range(len(xq)),
        |         i -> (xq[i+1] - uq[i+1]) * (xq[i+1] - uq[i+1]))))::BIGINT AS u
        |       FROM q, pv GROUP BY j),
        |samp AS (SELECT vec_id AS sid, xq AS sq FROM q
        |         ORDER BY md5('hops|' || vec_id), vec_id LIMIT 50),
        |wm AS (SELECT sid, min(list_sum(list_transform(range(len(xq)),
        |         i -> (xq[i+1] - sq[i+1]) * (xq[i+1] - sq[i+1]))))::BIGINT AS w
        |       FROM q, samp WHERE q.vec_id <> samp.sid GROUP BY sid)
        |SELECT (SELECT count(*) FROM um)::BIGINT AS m_probes,
        |       (SELECT count(*) FROM wm)::BIGINT AS n_sample,
        |       (SELECT sum(u) FROM um)::BIGINT AS sum_u,
        |       (SELECT sum(w) FROM wm)::BIGINT AS sum_w,
        |       round((SELECT sum(u) FROM um)::DOUBLE
        |             / ((SELECT sum(u) FROM um)
        |                + (SELECT sum(w) FROM wm))::DOUBLE, 6) AS hopkins""".stripMargin,
    "q295_ivfpq_recall" -> ivfPqSql(8, 16, 10, 2, 20),
    "q296_dbscan" -> dbscanSql(9000L, 4),
    "q266_kcenter_coreset" -> kcenterOracle,
    // reuses the q176 index unrolling: a2 = final cell assignment,
    // c1 = final centroids — the IVF answer probes 2 cells, the brute
    // side is the exact top-10, recall joins the two rank lists
    "q267_ivf_recall" -> (assignSql +
      """,
        |q AS (SELECT vec_id AS qid, u AS qu FROM e WHERE vec_id < 20),
        |pc AS (SELECT qid, qu, cid FROM (
        |         SELECT q.qid, q.qu, c.cid,
        |                row_number() OVER (PARTITION BY q.qid ORDER BY
        |                  list_sum(list_transform(range(len(q.qu)),
        |                    k -> (q.qu[k+1] - c.cu[k+1]) * (q.qu[k+1] - c.cu[k+1]))),
        |                  c.cid) AS rn
        |         FROM q CROSS JOIN c1 c) WHERE rn <= 2),
        |ivf AS (SELECT qid, vec_id FROM (
        |          SELECT p.qid, a.vec_id,
        |                 row_number() OVER (PARTITION BY p.qid ORDER BY
        |                   list_sum(list_transform(range(len(p.qu)),
        |                     k -> (p.qu[k+1] - a.u[k+1]) * (p.qu[k+1] - a.u[k+1]))),
        |                   a.vec_id) AS rn
        |          FROM pc p JOIN a2 a ON a.cid = p.cid AND a.vec_id <> p.qid)
        |        WHERE rn <= 10),
        |brute AS (SELECT qid, vec_id FROM (
        |            SELECT q.qid, e.vec_id,
        |                   row_number() OVER (PARTITION BY q.qid ORDER BY
        |                     list_sum(list_transform(range(len(q.qu)),
        |                       k -> (q.qu[k+1] - e.u[k+1]) * (q.qu[k+1] - e.u[k+1]))),
        |                     e.vec_id) AS rn
        |            FROM q CROSS JOIN e WHERE e.vec_id <> q.qid)
        |          WHERE rn <= 10)
        |SELECT b.qid AS query_id, count(i.vec_id)::BIGINT AS n_hits,
        |       round(count(i.vec_id)::DOUBLE / 10.0, 4) AS recall
        |FROM brute b LEFT JOIN ivf i ON b.qid = i.qid AND b.vec_id = i.vec_id
        |GROUP BY b.qid ORDER BY query_id""".stripMargin),
    "q176_kmeans" -> (assignSql +
      """,
        |lab AS (SELECT cid, label, count(*) AS cnt FROM a2 GROUP BY cid, label),
        |maj AS (SELECT cid, label, cnt FROM (
        |          SELECT cid, label, cnt,
        |                 row_number() OVER (PARTITION BY cid ORDER BY cnt DESC, label) AS rn
        |          FROM lab) WHERE rn = 1)
        |SELECT a2.cid AS cluster, count(*)::BIGINT AS n_points,
        |       (sum(a2.dist::HUGEINT) // 1000000000000)::BIGINT AS inertia,
        |       m.label AS majority_label,
        |       round(m.cnt / CAST(count(*) AS DOUBLE), 4) AS purity
        |FROM a2 JOIN maj m ON a2.cid = m.cid
        |GROUP BY a2.cid, m.label, m.cnt ORDER BY cluster""".stripMargin),
    "q177_semdedup" -> (assignSql +
      """,
        |dropped AS (SELECT DISTINCT b.vec_id FROM a2 a JOIN a2 b
        |            ON a.cid = b.cid AND a.vec_id < b.vec_id
        |            AND list_sum(list_transform(range(len(a.u)),
        |                  k -> (a.u[k+1] - b.u[k+1]) * (a.u[k+1] - b.u[k+1]))) <= 1350000000000
        |)
        |SELECT a2.cid AS cluster, count(*)::BIGINT AS n_points,
        |       sum(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END)::BIGINT AS n_dropped,
        |       sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_kept
        |FROM a2 LEFT JOIN dropped d ON a2.vec_id = d.vec_id
        |GROUP BY a2.cid ORDER BY cluster""".stripMargin),
    // pqTopK(m=4, k=4, topN=10) unrolled: per-subspace Lloyd chain keyed
    // by j, ADC lookup-table scoring, exact re-rank on the top-10 only
    "q240_pq_topk" ->
      """WITH e AS (SELECT vec_id,
        |                 list_transform(embedding,
        |                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) + 1000000) AS u
        |          FROM embeddings),
        |wl AS (SELECT min(len(u)) // 4 AS w FROM e),
        |sub AS MATERIALIZED (
        |  SELECT vec_id, j, list_slice(u, j * w + 1, j * w + w) AS su
        |  FROM e CROSS JOIN wl CROSS JOIN (SELECT unnest(range(4)) AS j) js),
        |c0 AS (SELECT j, vec_id AS cid, su AS cu FROM sub WHERE vec_id < 4),
        |d1 AS (SELECT s.vec_id, s.j, c.cid, s.su,
        |              list_sum(list_transform(range(len(s.su)),
        |                k -> (s.su[k+1] - c.cu[k+1]) * (s.su[k+1] - c.cu[k+1]))) AS dist
        |       FROM sub s JOIN c0 c ON s.j = c.j),
        |a1 AS MATERIALIZED (SELECT vec_id, j, cid, su FROM (
        |       SELECT vec_id, j, cid, su, row_number() OVER (
        |         PARTITION BY vec_id, j ORDER BY dist, cid) AS rn FROM d1) WHERE rn = 1),
        |c1 AS MATERIALIZED (SELECT j, cid, list(cm ORDER BY dim) AS cu FROM (
        |       SELECT j, cid, dim, sum(v) // count(*) AS cm FROM (
        |         SELECT j, cid, unnest(range(len(su))) AS dim, unnest(su) AS v FROM a1)
        |       GROUP BY j, cid, dim) GROUP BY j, cid),
        |d2 AS (SELECT s.vec_id, s.j, c.cid,
        |              list_sum(list_transform(range(len(s.su)),
        |                k -> (s.su[k+1] - c.cu[k+1]) * (s.su[k+1] - c.cu[k+1]))) AS dist
        |       FROM sub s JOIN c1 c ON s.j = c.j),
        |a2 AS MATERIALIZED (SELECT vec_id, j, cid FROM (
        |       SELECT vec_id, j, cid, row_number() OVER (
        |         PARTITION BY vec_id, j ORDER BY dist, cid) AS rn FROM d2) WHERE rn = 1),
        |qm AS (SELECT min(vec_id) AS qid FROM e),
        |q AS (SELECT s.j, s.su AS qsu FROM sub s, qm WHERE s.vec_id = qm.qid),
        |tbl AS (SELECT c.j, c.cid,
        |               list_sum(list_transform(range(len(c.cu)),
        |                 k -> (c.cu[k+1] - q.qsu[k+1]) * (c.cu[k+1] - q.qsu[k+1]))) AS td
        |        FROM c1 c JOIN q ON c.j = q.j),
        |approx AS (SELECT a.vec_id, sum(t.td) AS approx_dist
        |           FROM a2 a JOIN tbl t ON a.j = t.j AND a.cid = t.cid, qm
        |           WHERE a.vec_id <> qm.qid GROUP BY a.vec_id),
        |top AS (SELECT vec_id, approx_dist FROM approx
        |        ORDER BY approx_dist, vec_id LIMIT 10),
        |qv AS (SELECT u AS qu FROM e, qm WHERE vec_id = qm.qid)
        |SELECT t.vec_id, t.approx_dist::BIGINT AS approx_dist,
        |       list_sum(list_transform(range(len(e.u)),
        |         k -> (e.u[k+1] - qv.qu[k+1]) * (e.u[k+1] - qv.qu[k+1])))::BIGINT AS exact_dist
        |FROM top t JOIN e ON e.vec_id = t.vec_id CROSS JOIN qv
        |ORDER BY approx_dist, t.vec_id""".stripMargin,
    "q245_class_separability" ->
      """WITH e AS (SELECT vec_id, label,
        |                 list_transform(embedding,
        |                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) + 1000000) AS u
        |          FROM embeddings),
        |cents AS (SELECT label, list(cm ORDER BY dim) AS cu FROM (
        |            SELECT label, dim, sum(v) // count(*) AS cm FROM (
        |              SELECT label, unnest(range(len(u))) AS dim, unnest(u) AS v FROM e)
        |            GROUP BY label, dim) GROUP BY label),
        |within AS (SELECT e.label,
        |                  CAST(sum(list_sum(list_transform(range(len(e.u)),
        |                         k -> (e.u[k+1] - c.cu[k+1]) * (e.u[k+1] - c.cu[k+1]))))
        |                       // count(*) AS BIGINT) AS within
        |           FROM e JOIN cents c ON e.label = c.label GROUP BY e.label),
        |pairs AS (SELECT a.label AS label_a, b.label AS label_b,
        |                 CAST(list_sum(list_transform(range(len(a.cu)),
        |                        k -> (a.cu[k+1] - b.cu[k+1]) * (a.cu[k+1] - b.cu[k+1]))) AS BIGINT)
        |                   AS between_dist
        |          FROM cents a JOIN cents b ON a.label < b.label)
        |SELECT p.label_a, p.label_b, p.between_dist,
        |       wa.within AS within_a, wb.within AS within_b,
        |       (p.between_dist::HUGEINT * 1000 // (wa.within + wb.within + 1))::BIGINT AS sep_permille
        |FROM pairs p JOIN within wa ON wa.label = p.label_a
        |             JOIN within wb ON wb.label = p.label_b
        |ORDER BY p.label_a, p.label_b""".stripMargin,
  )
}
