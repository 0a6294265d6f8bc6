package graft.operators

import graft.{QueryModule, Tables}
import graft.sources.Bucketing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Whole-graph analytics over the part co-purchase graph (parts are
  * linked when they appear in the same order) — the graph the reference
  * walks entity-by-entity (survey.py provenance chains), generalized to
  * corpus-scale structure metrics: triangle census / clustering
  * coefficient (how clumpy is co-occurrence) and PageRank centrality
  * (which items anchor the graph).
  *
  * Scale design:
  *  - Edges derive from ONE self-join co-partitioned on the order key —
  *    the fan-out per order is bounded by items-per-order², never by
  *    graph size.
  *  - Triangles use DEGREE-ORDERED orientation: every edge points from
  *    its (degree, id)-smaller endpoint, so per-node out-degree is
  *    O(√m) and the wedge join touches Σ outdeg² ≪ Σ deg² pairs — the
  *    standard bound that keeps the join finite on power-law graphs
  *    where a naive id-ordered wedge join explodes on hub nodes.
  *    (The count is orientation-invariant, so the oracle's naive
  *    id-ordered triple join must agree exactly.)
  *  - PageRank is FIXED-POINT INTEGER arithmetic (total mass 10^12,
  *    contribution = rank div degree): sums of integers are
  *    order-independent, so the result is bit-identical on any
  *    partitioning, any engine — no float-summation drift — and the
  *    iteration is pure join + hash-aggregate with NO driver-side
  *    collect (unlike q129's TextRank, whose graph is model-sized by
  *    construction; this one never leaves the cluster).
  */
object GraphOps extends QueryModule {

  /** Distinct undirected co-purchase edges (u < v by part id).
    *
    * Built with the Dedup bucket trick (sorted per-order item set →
    * in-order pair expansion) instead of an order-keyed self-join: one
    * shuffle to group items per order (map-side partial collect_set) +
    * one distinct on the pairs, versus the join's two exchange legs plus
    * the same distinct. Per-row expansion is quadratic in ORDER size —
    * bounded by items-per-order (single digits here; a marketplace
    * graph with mega-orders would cap or sample the per-order set, the
    * standard co-occurrence guard).
    */
  def copurchaseEdges(li: DataFrame): DataFrame =
    li.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy("o").agg(sort_array(collect_set(col("p"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(Dedup.pairExpansionExpr("ids"))).as("pair"))
      .select(col("pair.l").as("u"), col("pair.r").as("v")).distinct()

  /** The co-purchase edge table, materialized ONCE per corpus content as
    * a bucketed managed table (key = u, [[graft.sources.Bucketing.shared]])
    * and shared by every graph query: 10+ `SparkEntry.queries` entries
    * consume the same edge set, and each used to re-run the
    * order-grouping build (~4 s at sf0.1) from scratch. Bucketing (vs a
    * plain cache) mirrors the q205 dedup index — the table survives as a
    * real artifact, a join/groupBy on `u` needs no Exchange on the edge
    * side, and on a cluster the write happens once per corpus version,
    * not once per query. Consumers take the edge frame as a parameter,
    * so specs still pass small computed fixtures (recomputing a fixture
    * is free; the table path is the bench/production shape).
    *
    * The table name carries a CONTENT fingerprint of the source parquet
    * (file paths + sizes + mtimes), not the dir string: a corpus
    * regenerated in place under the same path gets a NEW table instead
    * of silently serving stale edges to all 12 graph consumers, and a
    * second dir in the same process builds its OWN table instead of
    * dropping the first one under lazily-resolved DataFrames already
    * pointing at it.
    */
  def sharedEdges(spark: SparkSession, dir: String): DataFrame =
    Bucketing.shared(spark, EdgeTable + "_" + lineitemVersion(spark, dir), "u", 32) {
      copurchaseEdges(Tables(spark, dir).lineitem)
    }

  val EdgeTable = "graft_copurchase_edges"

  private def lineitemVersion(spark: SparkSession, dir: String): String =
    Tables.fingerprint(spark, s"$dir/lineitem.parquet")

  /** WEIGHTED co-purchase edges (u < v, cnt = number of orders that
    * contain both parts) via the same bucket trick as
    * [[copurchaseEdges]]: `collect_set` makes each order contribute
    * each unordered pair exactly once, so `groupBy(u, v).count` equals
    * the order-keyed self-join's `groupBy(a.p, b.p).count` — the count
    * the q224 edge weights are defined over — for one shuffle instead
    * of the join's two exchange legs.
    */
  def weightedCopurchaseEdges(li: DataFrame): DataFrame =
    li.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy("o").agg(sort_array(collect_set(col("p"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(Dedup.pairExpansionExpr("ids"))).as("pair"))
      .select(col("pair.l").as("u"), col("pair.r").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("cnt"))

  /** The weighted edge table as a shared bucketed artifact, keyed like
    * [[sharedEdges]] — q224's co-occurrence build (distinct + order-key
    * self-join + pair aggregate, ~4 s at sf0.1) was the one graph input
    * still recomputed from lineitem on every run because [[sharedEdges]]
    * lost the multiplicity the edge weights need. A second table
    * carrying `cnt` closes that gap; on a cluster it is written once per
    * corpus version next to the unweighted one.
    */
  def sharedWeightedEdges(spark: SparkSession, dir: String): DataFrame =
    Bucketing.shared(spark, WEdgeTable + "_" + lineitemVersion(spark, dir), "u", 32) {
      weightedCopurchaseEdges(Tables(spark, dir).lineitem)
    }

  val WEdgeTable = "graft_copurchase_wedges"

  val LpLabelTable = "graft_lpa_labels"

  /** The q232 label-propagation COMMUNITY ASSIGNMENT as a shared bucketed
    * artifact keyed on the node id, built from [[sharedEdges]]: q232
    * reports its histogram and q314 scores its modularity — both used to
    * re-run the LPA rounds from scratch. Built once per corpus content,
    * at the oracle-pinned 2 rounds.
    */
  def sharedLpLabels(spark: SparkSession, dir: String): DataFrame =
    Bucketing.shared(spark, LpLabelTable + "_" + lineitemVersion(spark, dir), "node", 32) {
      lpLabels(sharedEdges(spark, dir), 2)
    }

  /** q142: triangle census + global clustering coefficient.
    *
    * Orientation total order is (degree, id); a triangle a≺b≺c is found
    * exactly once, as the wedge (a→b, a→c) closed by b→c. Closure is
    * counted by the forward edge-iterator: each oriented edge intersects
    * the two endpoints' sorted out-neighbor lists map-side — the wedge
    * stream never materializes (see the strategy note in the body).
    */
  def triangleCensus(und: DataFrame, broadcastEdgeLimit: Long = 20000000L): DataFrame = {
    // edges arrive materialized (the [[sharedEdges]] bucketed table in
    // production; a small computed frame in specs) — re-reading them is
    // a bounded scan, and skipping the cut keeps the table's bucketed
    // partitioning visible to the u-keyed joins below.
    val edges = und
    val deg = edges.select(col("u").as("n")).unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = edges
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    val uFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
        when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"),
        when(uFirst, col("dv")).otherwise(col("du")).as("dd"))
    // edge count for the strategy switch, observed by the cut's own job
    // (same cardinality as the input: one oriented row per undirected
    // edge), so a caller passing a COMPUTED frame (spec fixtures) never
    // re-runs its build just to pick a counting strategy
    val (orientedCut, edgeStats) = graft.plans.Checkpoints.cutMeasured(oriented, count(lit(1)))
    val nEdges = edgeStats.getLong(0)
    // FORWARD (edge-iterator) counting at every size: triangles =
    // Σ over oriented edges (a→b) of |N⁺(a) ∩ N⁺(b)|. The oriented
    // adjacency table is NODE-count-sized (total elements = m longs);
    // each edge intersects two sorted O(√m)-bounded lists map-side —
    // nothing wedge-sized ever materializes or shuffles (the Σ outdeg²
    // wedge stream of the join formulation measured 40M rows at sf0.1,
    // ~5× the query's whole runtime, and TIMED OUT outright at 30× in
    // the round-10 scale sweep). The only thing the edge count decides
    // is HOW the adjacency reaches the edges: broadcast below
    // `broadcastEdgeLimit`, a plain shuffled hash join past it —
    // shuffle volume O(m) either way, never Σ outdeg².
    val adj = orientedCut.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("nb"))
    def ship(df: DataFrame): DataFrame =
      if (nEdges <= broadcastEdgeLimit) broadcast(df) else df
    val emptyNb = expr("cast(array() as array<bigint>)")
    // dataset aliases (not column renames) keep the two adjacency arms
    // canonically identical — eligible for AQE runtime stage reuse (the
    // initial plan text still shows two BroadcastExchange nodes)
    val nTriangles = orientedCut.as("edges")
      .join(ship(adj.as("na_arm")),
        col("edges.src") === col("na_arm.src"), "left")
      .join(ship(adj.as("nb_arm")),
        col("edges.dst") === col("nb_arm.src"), "left")
      .select(size(array_intersect(coalesce(col("na_arm.nb"), emptyNb),
        coalesce(col("nb_arm.nb"), emptyNb))).cast("long").as("t"))
      .agg(coalesce(sum("t"), lit(0L)).as("n_triangles"))
    deg.agg(count(lit(1)).as("n_nodes"),
            sum(expr("d * (d - 1) div 2")).as("n_wedges"))
      .crossJoin(orientedCut.agg(count(lit(1)).as("n_edges")))
      .crossJoin(nTriangles)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 4).as("clustering"))
  }

  /** q276: per-node (LOCAL) clustering coefficient — q142's global
    * census resolved to each node: c(v) = 2·tri(v) / (d(v)·(d(v)−1)),
    * the "are my neighbors each other's neighbors" score that separates
    * community cores from broker/hub nodes. Reuses the q142 forward
    * edge-iterator anatomy (degree-ordered orientation, broadcast
    * sorted adjacency, per-edge sorted-list intersection); the one
    * addition is CREDIT ROUTING — each oriented edge (a→b) with
    * intersection C credits a and b with |C| and every c ∈ C with 1
    * (explode), so all three corners of every triangle are counted
    * exactly once without a second join. The coefficient is integer
    * ppm (2·tri·10⁶ div d(d−1)); top-N exits via TakeOrderedAndProject.
    * Graphs past the broadcast limit would swap in q142's wedge-join
    * form — the credit union is identical from the (a, b, c) stream.
    */
  def clusteringCoefficients(und: DataFrame, topN: Int = 20): DataFrame = {
    val edges = und
    val deg = edges.select(col("u").as("n")).unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = edges
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    val uFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = graft.plans.Checkpoints.cut(withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("src"),
      when(uFirst, col("v")).otherwise(col("u")).as("dst")))
    val adj = oriented.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("nb"))
    val emptyNb = expr("cast(array() as array<bigint>)")
    // both adjacency arms broadcast the SAME frame under dataset aliases
    // (not column renames) so the two BroadcastExchanges canonicalize
    // identically — eligible for AQE runtime stage reuse, one broadcast
    // build instead of two (r13 optimization round; the initial plan
    // text cannot show the reuse, only the canonical match)
    val tri = oriented.as("edges")
      .join(broadcast(adj.as("na_arm")),
        col("edges.src") === col("na_arm.src"), "left")
      .join(broadcast(adj.as("nb_arm")),
        col("edges.dst") === col("nb_arm.src"), "left")
      .select(col("edges.src").as("src"), col("edges.dst").as("dst"),
        array_intersect(coalesce(col("na_arm.nb"), emptyNb),
          coalesce(col("nb_arm.nb"), emptyNb)).as("cs"))
    // credit all three triangle corners from ONE pass over the wedge
    // stream: the old three-way unionAll re-ran the join + intersect per
    // arm (no exchange above it to reuse) — measured 3x the map work.
    // concat(corner structs, member structs) -> explode is the same
    // credit multiset, one evaluation.
    val credits = tri.select(explode(concat(
        array(struct(col("src").as("node"), size(col("cs")).cast("long").as("t")),
              struct(col("dst").as("node"), size(col("cs")).cast("long").as("t"))),
        transform(col("cs"), c => struct(c.as("node"), lit(1L).as("t"))))).as("e"))
      .select(col("e.node").as("node"), col("e.t").as("t"))
    val perNode = credits.groupBy("node").agg(sum("t").as("tri"))
    deg.select(col("n").as("node"), col("d"))
      .join(perNode, Seq("node"), "left")
      .filter(col("d") >= 2)
      .withColumn("tri", coalesce(col("tri"), lit(0L)))
      .withColumn("coef_ppm", expr("tri * 2 * 1000000 div (d * (d - 1))"))
      .orderBy(col("coef_ppm").desc, col("node"))
      .limit(topN)
      .select(col("node").as("part"), col("d").as("degree"),
        col("tri").as("n_triangles"), col("coef_ppm"))
  }

  /** q143: PageRank centrality, `iters` fixed-point integer iterations
    * (damping 85/100, total mass 10^12, per-node base mass folded in as
    * (0.15·T) div n). Top `topN` parts by final rank, id tie-break.
    *
    * Per iteration: one join of the edge list to the current ranks on
    * the source key, one hash aggregate to the destination key — the
    * shuffle carries (int, long) pairs. Rank mass rounds DOWN at each
    * div, which is exactly reproducible (and what the oracle unrolls).
    */
  def copurchaseRank(und: DataFrame, iters: Int = 3, topN: Int = 10): DataFrame = {
    // edges pre-partitioned on the source key and checkpointed ONCE:
    // every iteration's rank join is then co-partitioned (ranks come out
    // of the previous groupBy("node") already hash-partitioned), so the
    // only shuffle per iteration is the contribution aggregate itself.
    // (A persist() variant that preserves outputPartitioning across
    // iterations was measured: it wins only when the SAME call is
    // re-executed (cache hit on the edge build) and loses ~25% on the
    // one-shot run from columnar encode/decode of the 2m-row edge list
    // — eager checkpoint blocks stay the default.)
    val edges = graft.plans.Checkpoints.cut(
      und.select(col("u").as("s"), col("v").as("dd"))
        .unionAll(und.select(col("v").as("s"), col("u").as("dd")))
        .repartition(col("s")))
    val deg = edges.groupBy("s").agg(count(lit(1)).as("deg"))
    val n = deg.agg(count(lit(1)).as("nn"))
    val meta = deg.crossJoin(broadcast(n))
      .select(col("s").as("node"), col("deg"),
        expr("150000000000 div nn").as("base"),
        expr("1000000000000 div nn").as("rank"))
    val metaCut = graft.plans.Checkpoints.cut(meta)
    var ranks = metaCut.select("node", "rank")
    for (_ <- 1 to iters) {
      val inc = edges
        .join(metaCut.select("node", "deg").join(ranks, "node"), col("s") === col("node"))
        .select(col("dd").as("node"), expr("rank div deg").as("c"))
        .groupBy("node").agg(sum(col("c")).as("inc"))
      ranks = metaCut.select("node", "base")
        .join(inc, Seq("node"), "left")
        .select(col("node"), (col("base") + expr("(85 * coalesce(inc, 0)) div 100")).as("rank"))
    }
    ranks.select(col("node").as("part"), col("rank"))
      .orderBy(col("rank").desc, col("part")).limit(topN)
  }

  /** Distinct directed fulfilment edges supplier → customer (an edge
    * when the supplier ships at least one lineitem of one of the
    * customer's orders). One co-partitioned fact-fact join on the order
    * key, then a distinct on the (s, c) pair — both single shuffles.
    */
  def fulfilmentEdges(li: DataFrame, orders: DataFrame): DataFrame =
    li.select(col("l_orderkey").as("ok"), col("l_suppkey").as("s"))
      .join(orders.select(col("o_orderkey").as("ok"), col("o_custkey").as("c")), "ok")
      .select("s", "c").distinct()

  /** q212: HITS hubs & authorities on the directed supplier→customer
    * fulfilment graph, two mutual-reinforcement rounds in EXACT integer
    * arithmetic: h₀ = 1 per supplier, a₁(c) = Σ_in h₀ (indegree),
    * h₁(s) = Σ_out a₁, a₂(c) = Σ_in h₁. No per-round normalization —
    * at a fixed iteration count the rank order is identical and skipping
    * the float division keeps every score an order-independent integer
    * sum (the q143 fixed-point doctrine). Top customers by final
    * authority, key tie-break.
    *
    * Scale shape: score frames are node-sized; each half-round is one
    * edge-list join against the previous node frame plus one hash
    * aggregate on the opposite endpoint — the shuffle carries (int,
    * long) pairs, never payloads, and no driver collect exists.
    */
  def hitsAuthorities(li: DataFrame, orders: DataFrame, topN: Int = 15): DataFrame = {
    val edges = fulfilmentEdges(li, orders)
    val a1 = edges.groupBy("c").agg(count(lit(1)).as("a1"))
    val h1 = edges.join(a1, "c").groupBy("s").agg(sum("a1").as("h1"))
    val a2 = edges.join(h1, "s").groupBy("c").agg(sum("h1").as("authority"))
    a1.join(a2, "c")
      .select(col("c").as("custkey"), col("a1").as("n_suppliers"), col("authority"))
      .orderBy(col("authority").desc, col("custkey")).limit(topN)
  }

  /** q223: k-CORE of the co-purchase graph by iterative peeling —
    * `rounds` fixed rounds of "drop every node with degree < k and the
    * edges that referenced it". The k-core is the standard dense-
    * substructure extraction (community seeds, spam rings, hub
    * backbone) the triangle/PageRank pair doesn't give.
    *
    * FIXED iteration count keeps the oracle expressible (the q143
    * unrolling doctrine) without weakening the result: the output
    * carries a `converged` flag — min surviving degree ≥ k — and when
    * it is true the result IS the exact k-core regardless of rounds
    * (peeling is monotone; a fixpoint reached early never changes).
    * The spec asserts convergence on the real graph.
    *
    * Scale shape per round: one map-side-combined degree count + two
    * semi-joins of the edge list against the surviving-node set — hash
    * joins on int keys, nothing wider than (int, int) ever shuffles,
    * no driver collect. Edge frames are lineage-cut per round
    * ([[graft.plans.Checkpoints]]) so round r doesn't replan rounds
    * 1..r−1.
    */
  def kCorePeel(und: DataFrame, k: Int = 3, rounds: Int = 4): DataFrame = {
    // Early exit at the fixpoint: a round that removes no edge makes
    // every later round a no-op (peeling is monotone), so re-running
    // them would just re-materialize identical frames. Result-identical
    // to the oracle's full unroll; each edge count rides its cut's job.
    val (input, inputStats) = graft.plans.Checkpoints.cutMeasured(und, count(lit(1)))
    var edges = input
    var prevEdges = inputStats.getLong(0)
    var r = 0
    var stable = false
    while (r < rounds && !stable) {
      val deg = edges.select(col("u").as("n")).unionAll(edges.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select("n")
      val (peeled, peeledStats) = graft.plans.Checkpoints.cutMeasured(
        edges.join(keep.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
             .join(keep.withColumnRenamed("n", "v"), Seq("v"), "left_semi"),
        count(lit(1)))
      edges = peeled
      val c = peeledStats.getLong(0)
      stable = c == prevEdges
      prevEdges = c
      r += 1
    }
    val deg = edges.select(col("u").as("n")).unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    deg.agg(count(lit(1)).as("n_nodes"),
        coalesce(min("d"), lit(0L)).as("min_degree"),
        coalesce(max("d"), lit(0L)).as("max_degree"))
      .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
      .select(col("n_nodes"), col("n_edges"), col("min_degree"), col("max_degree"),
        (col("n_nodes") === 0 || col("min_degree") >= k).as("converged"))
  }

  /** q224: hop-bounded CHEAPEST paths (Bellman-Ford, `hops` relaxation
    * rounds) from the smallest part key over the weighted co-purchase
    * graph — edge cost 10⁶ div co_count, so frequently co-bought pairs
    * are cheap and the result ranks parts by "affinity distance" from
    * the source: the path-finding rung (PageRank ranks globally,
    * k-core extracts structure; this answers point-to-everything
    * reachability under a cost).
    *
    * A relaxation round is one edge⋈dist join + one min-aggregate —
    * integer costs, so min() is engine-exact and order-free. Hop-
    * bounded by design (the oracle unrolls the rounds; at 100 TB you
    * bound hops anyway — the frontier saturates the graph's effective
    * diameter in a few rounds).
    */
  def cheapestPaths(li: DataFrame, hops: Int = 3, topN: Int = 20,
                    weightedEdges: Option[DataFrame] = None): DataFrame = {
    // weightedEdges (u, v, cnt), when supplied, is the shared bucketed
    // [[sharedWeightedEdges]] artifact — identical by construction to
    // the inline build (see [[weightedCopurchaseEdges]]); the inline
    // path remains for spec fixtures. The SEED stays lineitem-derived
    // either way: min(l_partkey) ranges over every part that appears in
    // ANY order (a part seen only in single-item orders has no edge but
    // is still the valid distance-0 source), and as a bare column-min it
    // is a pushdown-friendly scan aggregate, not a join input.
    val co = weightedEdges.getOrElse {
      val items = li.select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      items.as("a").join(items.as("b"), col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("u"), col("b.p").as("v")).agg(count(lit(1)).as("cnt"))
    }.withColumn("w", expr("1000000 div cnt"))
    val sym = graft.plans.Checkpoints.cut(
      co.select(col("u").as("s"), col("v").as("t"), col("w"))
        .unionAll(co.select(col("v").as("s"), col("u").as("t"), col("w"))))
    var dist = li.agg(min("l_partkey").as("node")).withColumn("dist", lit(0L))
      .select("node", "dist")
    for (_ <- 1 to hops) {
      val relaxed = sym.join(dist, col("s") === col("node"))
        .select(col("t").as("node"), (col("dist") + col("w")).as("dist"))
      dist = graft.plans.Checkpoints.cut(
        dist.select("node", "dist").unionAll(relaxed)
          .groupBy("node").agg(min("dist").as("dist")))
    }
    dist.orderBy(col("dist"), col("node")).limit(topN)
  }

  /** q229: PERSONALIZED PageRank (random walk with restart) from the
    * smallest part key — "customers who bought X also buy…" scoring,
    * the recommendation rung of the graph family (global rank q143,
    * HITS q212, k-core q223, cheapest paths q224). Fixed-point integer
    * mass like q143: rank(v) ← (85·Σ_u rank(u) div deg(u)) div 100,
    * plus the 15% restart mass credited ONLY to the seed. `iters`
    * fixed rounds; top parts by affinity excluding the seed itself.
    *
    * Scale note: unlike the global rank, the rank frame here starts as
    * ONE row and grows with the walk frontier — iteration r touches
    * only nodes within r hops of the seed, so a 3-round PPR on a
    * 100 TB graph is frontier-sized work, not graph-sized.
    */
  def personalizedRank(und: DataFrame, iters: Int = 3, topN: Int = 10): DataFrame = {
    val edges = graft.plans.Checkpoints.cut(
      und.select(col("u").as("s"), col("v").as("dd"))
        .unionAll(und.select(col("v").as("s"), col("u").as("dd")))
        .repartition(col("s")))
    val deg = edges.groupBy("s").agg(count(lit(1)).as("deg"))
    val seed = edges.agg(min("s").as("node")).withColumn("rank", lit(1000000000000L))
    var ranks = seed.select("node", "rank")
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(deg.withColumnRenamed("s", "node").join(ranks, "node"),
          col("s") === col("node"))
        .select(col("dd").as("node"), expr("rank div deg").as("c"))
        .groupBy("node").agg(expr("(85 * sum(c)) div 100").as("rank"))
      // restart mass re-injected at the seed every round, present or not
      ranks = contrib
        .unionByName(seed.select(col("node"), lit(150000000000L).as("rank")))
        .groupBy("node").agg(sum("rank").as("rank"))
    }
    ranks.join(seed.select(col("node")), Seq("node"), "left_anti")
      .select(col("node").as("part"), col("rank"))
      .orderBy(col("rank").desc, col("part")).limit(topN)
  }

  /** q232: LABEL-PROPAGATION community detection on the co-purchase
    * graph — the community rung of the graph family (rank q143/q229,
    * link analysis q212, density q223, paths q224, closure q142). Each
    * node starts labeled with its own id; each synchronous round every
    * node adopts the label MOST FREQUENT among its neighbors, ties
    * breaking on the smallest label — both choices integer-exact, so
    * `rounds` fixed rounds are engine- and partitioning-independent
    * (the q143 fixed-iteration doctrine; true LPA iterates to
    * convergence, and a fixed round count is what keeps the oracle
    * expressible). Output is the community-size histogram, a bounded
    * frame, read off the (node, lbl) assignment of [[lpLabels]] (the
    * entry the shared labels artifact feeds).
    *
    * Scale: each round is one edges⋈labels join (edges pre-partitioned
    * on the source key, labels shuffling on the same key) + one
    * (node, lbl) count and one per-node argmax — all key-local after
    * the first exchange; the label frame is node-sized, never
    * edge-sized, and the argmax is `min(struct(-c, lbl))`, a map-side
    * partial agg, not a window sort.
    */
  def labelHistogram(labels: DataFrame): DataFrame =
    labels
      .groupBy("lbl").agg(count(lit(1)).as("community_size"))
      .groupBy("community_size").agg(count(lit(1)).as("n_communities"))
      .orderBy("community_size")

  /** The q232 synchronous LPA rounds, factored out so q314 can score the
    * SAME community assignment — returns the (node, lbl) frame.
    */
  def lpLabels(und: DataFrame, rounds: Int): DataFrame = {
    val edges = graft.plans.Checkpoints.cut(
      und.select(col("u").as("s"), col("v").as("dd"))
        .unionAll(und.select(col("v").as("s"), col("u").as("dd")))
        .repartition(col("s")))
    var labels = edges.select(col("s").as("node")).distinct()
      .withColumn("lbl", col("node"))
    for (_ <- 1 to rounds) {
      val freq = edges.join(labels, edges("s") === labels("node"))
        .select(col("dd").as("node"), col("lbl"))
        .groupBy("node", "lbl").agg(count(lit(1)).as("c"))
      labels = graft.plans.Checkpoints.cut(
        freq.groupBy("node")
          .agg(min(struct(col("c") * -1, col("lbl"))).as("m"))
          .select(col("node"), col("m.lbl").as("lbl")))
    }
    labels
  }

  /** q314: MODULARITY of the q232 label-propagation communities — the
    * quality score the community rung was missing: Q = Σ_c [e_c/m −
    * (d_c/2m)²] (Newman & Girvan 2004), i.e. how much denser inside
    * communities the co-purchase graph is than its degree-preserving
    * random rewiring. q232 reports WHAT the partition is; this reports
    * whether it is real structure (Q ≈ 0 means the "communities" are a
    * degree artifact).
    *
    * Exactness: Q·4m² = Σ_c (4m·e_c − d_c²) is pure integer arithmetic
    * — the products run in decimal(38,0) ↔ HUGEINT (the q199
    * convention: 4m·e_c ≤ 4m² overflows int64 past ~2³¹ edges) and the
    * ONE double division at the end is engine-exact. Scale shape: the
    * per-community frames (e_c, d_c) come from one edges⋈labels⋈labels
    * join + node-sized degree join, both key-local after the LPA
    * rounds' own exchanges; the community frame is bounded by the
    * community count, never edge-sized.
    */
  def lpModularity(und: DataFrame, labels: DataFrame): DataFrame = {
    val m = und.agg(count(lit(1)).as("m"))
    val intra = und
      .join(labels.select(col("node").as("u"), col("lbl").as("lu")), "u")
      .join(labels.select(col("node").as("v"), col("lbl").as("lv")), "v")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("lbl")).agg(count(lit(1)).as("ec"))
    val deg = und.select(col("u").as("n")).unionAll(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val dc = deg.join(labels.withColumnRenamed("node", "n"), "n")
      .groupBy("lbl").agg(sum("d").as("dc"))
    val per = dc.join(intra, Seq("lbl"), "left")
      .withColumn("ec", coalesce(col("ec"), lit(0L)))
      .crossJoin(broadcast(m))
      .select(col("ec"),
        (col("ec").cast("decimal(38,0)") * lit(4) * col("m") -
         col("dc").cast("decimal(38,0)") * col("dc")).as("term"))
    per.agg(count(lit(1)).as("n_communities"),
        sum("ec").as("n_intra"), sum("term").as("num"))
      .crossJoin(broadcast(m))
      .select(col("m").as("n_edges"), col("n_communities"), col("n_intra"),
        round(col("num").cast("double") /
          (lit(4.0) * col("m").cast("double") * col("m").cast("double")), 4)
          .as("modularity"))
  }

  /** q315: DEGREE ASSORTATIVITY of the co-purchase graph — the Pearson
    * correlation of endpoint degrees over every directed edge (Newman
    * 2002): positive = hubs link to hubs (social-network shape),
    * negative = hubs fan out to leaves (catalog/star shape). THE
    * one-number topology fingerprint that decides which graph
    * algorithms are safe: disassortative hub fan-out is exactly where
    * naive wedge enumeration (q142's guarded path) and per-key skew
    * (q63's salting) blow up.
    *
    * Exactness: by edge symmetry Σx = Σy and Σx² = Σy², so
    * r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) over the M = 2m directed
    * pairs needs just three integer sums — run in decimal(38,0) ↔
    * HUGEINT (M·Σx² ≈ 2m·2m·d̄² passes int64 already at sf0.1) with ONE
    * double division. Scale: two node-sized degree joins onto the edge
    * list, one map-side-combined aggregate; nothing but (int, int)
    * pairs ever shuffles.
    */
  def degreeAssortativity(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("n")).unionAll(und.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val sym = und.select(col("u").as("a"), col("v").as("b"))
      .unionAll(und.select(col("v").as("a"), col("u").as("b")))
    val xy = sym
      .join(deg.select(col("n").as("a"), col("d").as("x")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("y")), "b")
    xy.agg(count(lit(1)).as("mm"),
        sum(expr("cast(x as decimal(38,0))")).as("sx"),
        sum(expr("cast(x as decimal(38,0)) * x")).as("sxx"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"))
      .select(expr("mm div 2").as("n_edges"),
        round((col("mm") * col("sxy") - col("sx") * col("sx")).cast("double") /
          when(col("mm") * col("sxx") - col("sx") * col("sx") === 0, lit(null))
            .otherwise((col("mm") * col("sxx") - col("sx") * col("sx")).cast("double")),
          4).as("assortativity"))
  }

  /** q316: HYPERBALL neighborhood function (Palmer et al. ANF 2002;
    * Boldi & Vigna HyperANF 2011) — per-node HLL registers of the
    * radius-r ball, grown by `rounds` max-merge rounds along edges;
    * the estimated ball sizes for the `reportN` highest-degree parts
    * are reported against their EXACT ball sizes (oracle-affordable
    * calibration, the q106 pattern). This is THE scalable way to get
    * distance distributions / effective diameter: exact r-hop
    * reachability needs a frontier per node (quadratic state), while
    * the register frame is ≤ 16 rows per node FOREVER and a round is
    * one edges⋈registers join + one (node, bucket) max — the max-merge
    * is associative, so partial aggregation happens map-side and
    * registers from different partitions/days merge losslessly.
    *
    * Registers: m = 16 buckets (p = 4) over the 60-bit salted md5 of
    * the node id (the q106 arithmetic at 57-bit rank range); estimator
    * α₁₆·16²/Σ2^(−r) with linear counting below 2.5·m — each node's
    * estimate is integer register sums + ONE double division, no
    * order-dependent float accumulation.
    */
  def hyperBall(und: DataFrame, rounds: Int = 2, reportN: Int = 6): DataFrame = {
    // every merge round re-reads the symmetric edge stream — pin it once
    // (measured ~10% at sf0.1 vs re-scanning the bucketed table per round)
    val sym = graft.plans.Checkpoints.cut(
      und.select(col("u").as("s"), col("v").as("t"))
        .unionAll(und.select(col("v").as("s"), col("u").as("t"))))
    val deg = sym.groupBy("s").agg(count(lit(1)).as("degree"))
    // reportN rows consumed by the ball seed and every round's output
    // join — cut so the degree aggregate + top-k run once, not 4×
    val report = graft.plans.Checkpoints.cut(
      deg.orderBy(col("degree").desc, col("s")).limit(reportN)
        .select(col("s").as("part"), col("degree")))
    // WIDE register layout: one row per node, 16 rank columns, 0 = empty
    // bucket (real ranks are 1..57, so 0 is free as the empty marker and
    // its 2^57 estimator term coincides with the empty-bucket term).
    // A merge round then shuffles NODE-sized 17-column rows instead of a
    // 16x-exploded (node, bucket, rank) stream — same math, same oracle,
    // measured ~2.5x faster at sf0.1 — and the 16 per-bucket max()es are
    // one codegen'd hash aggregate.
    val regIdx = 0 until 16
    val b0 = deg
      .select(col("s").as("n"),
        conv(substring(md5(concat(lit("hb|"), col("s").cast("string"))), 1, 15), 16, 10)
          .cast("long").as("v"))
      .select(col("n") +: regIdx.map(i =>
        when(col("v") % 16 === i,
          when(expr("v div 16") === 0, lit(57))
            .otherwise(lit(57) - length(bin(expr("v div 16")))).cast("int"))
          .otherwise(lit(0)).as(s"r$i")): _*)

    def estimate(regs: DataFrame): DataFrame = {
      val sumPow = regIdx.map(i => expr(s"shiftleft(1L, 57 - r$i)")).reduce(_ + _)
      val m0 = regIdx.map(i => when(col(s"r$i") === 0, 1L).otherwise(lit(0L))).reduce(_ + _)
      regs.select(col("n"), m0.as("m0"),
          (sumPow.cast("double") / lit(math.pow(2, 57))).as("sum_pow"))
        .withColumn("raw", lit(0.673 * 16 * 16) / col("sum_pow"))
        .select(col("n"),
          when(col("raw") <= 40.0 && col("m0") > 0,
            lit(16.0) * log(lit(16.0) / col("m0"))).otherwise(col("raw")).as("est"))
    }

    // NEGATIVE RESULT (r14 optimization, VERDICT_r13 item 3): rewriting
    // this exact-ball arm as a single BFS — hop(r) = distinct neighbors
    // of hop(r-1), dist = min round of first appearance (walk parity
    // can skip later rounds but never the first), exact_ball(rd) from
    // ONE (part, member) min aggregate instead of a ball-sized count
    // per round — was result-identical (oracle green at sf0.01, the
    // bipartite path-graph spec pins the parity case) but A/B-measured
    // SLOWER isolated at sf0.1: old min-of-2 4.18/5.05 s, BFS form
    // 5.64/5.60 s, and 5.19/5.71 s with the min-dist aggregate left
    // lazy (plans/r14/bench/ab316_*). At reportN=6 / rounds=2 every
    // frame here is tiny, so the added frontier-join + min-dist
    // aggregate stages cost more than the per-round cumulative-ball
    // distinct+count they replace; the trade would only flip where the
    // cumulative ball dwarfs the frontier (high rounds / dense balls),
    // which the oracle-pinned default never reaches. Reverted.
    var regs = graft.plans.Checkpoints.cut(b0)
    var ball = report.select(col("part"), col("part").as("member"))
    var out = report.join(estimate(regs), col("part") === col("n"))
      .select(lit(0).as("round"), col("part"), col("degree"),
        lit(1L).as("exact_ball"), round(col("est"), 4).as("hll_est"))
    for (rd <- 1 to rounds) {
      // the register frame is NODE-sized (17 longs per node) — broadcast
      // it into the edge scan so the 2m-row edge list never shuffles;
      // the per-bucket max() aggregate partial-combines map-side, so the
      // exchange carries ~nodes×partitions rows, not the edge stream.
      // (Past broadcast size — billions of nodes — this join falls back
      // to the shuffled form automatically by dropping the hint.)
      regs = graft.plans.Checkpoints.cut(
        regs.unionAll(
          sym.join(broadcast(regs), sym("t") === regs("n"))
            .select(col("s").as("n") +: regIdx.map(i => col(s"r$i")): _*))
          .groupBy("n")
          .agg(max(col("r0")).as("r0"),
            regIdx.drop(1).map(i => max(col(s"r$i")).as(s"r$i")): _*))
      ball = graft.plans.Checkpoints.cut(
        ball.unionAll(
          sym.join(broadcast(ball), ball("member") === sym("s"))
            .select(col("part"), col("t").as("member"))).distinct())
      out = out.unionAll(
        report.join(estimate(regs), col("part") === col("n"))
          .join(ball.groupBy("part").agg(count(lit(1)).as("exact_ball")), "part")
          .select(lit(rd).as("round"), col("part"), col("degree"),
            col("exact_ball"), round(col("est"), 4).as("hll_est")))
    }
    out.orderBy("round", "part")
  }

  /** q250: CO-OCCURRENCE RECOMMENDER BACKTEST — the evaluation rung the
    * graph family's recsys scoring (q229) needs: train an item-to-item
    * "also bought" model on orders BEFORE the split date (top-1
    * co-occurrence neighbor per item, count-desc / id-asc argmax),
    * recommend each customer the neighbors of their past items minus
    * what they already bought, and measure the hit rate against what
    * they actually bought AFTER the split, rolled up by market segment.
    * Time-split backtesting — never evaluate on the training window.
    *
    * Scale: co-occurrence reuses the per-order pair expansion (one
    * shuffle); the model is item-keyed top-1 via struct argmax (no
    * window sort); recommendation and hit checks are id-keyed
    * joins/semi-joins on (customer, item) frames — nothing wider than
    * the purchase history ever shuffles.
    */
  def recommenderBacktest(li: DataFrame, orders: DataFrame, customer: DataFrame,
                          splitDate: String = "1999-01-01"): DataFrame = {
    val past = orders.filter(col("o_orderdate") < splitDate)
      .select("o_orderkey", "o_custkey")
    val future = orders.filter(col("o_orderdate") >= splitDate)
      .select("o_orderkey", "o_custkey")
    val items = li.select(col("l_orderkey"), col("l_partkey"))
    def custItems(o: DataFrame) = o.join(items, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("item")).distinct()
    val pastItems = custItems(past)
    val futureItems = custItems(future)

    // item-to-item model from PAST orders only: co-ORDER counts, so the
    // per-order pair expansion runs WITHOUT the edge-level distinct
    // (multiplicity is the model weight)
    val pastPairs = items.join(past, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(Dedup.pairExpansionExpr("ids"))).as("pair"))
      .select(col("pair.l").as("a"), col("pair.r").as("b"))
    val cooc = pastPairs
      .unionAll(pastPairs.select(col("b").as("a"), col("a").as("b")))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    val top1 = cooc.groupBy("a")
      .agg(min(struct((col("c") * -1).as("nc"), col("b"))).as("m"))
      .select(col("a").as("item"), col("m.b").as("rec"))

    // no distinct on the recommendation frame: its only consumers are an
    // anti-join and the hit semi-join + per-customer distinct below, all
    // multiplicity-insensitive — the dedup exchange bought nothing
    val recs = pastItems.join(top1, "item")
      .select(col("cust"), col("rec").as("item"))
      .join(pastItems, Seq("cust", "item"), "left_anti")
    val eval = pastItems.select("cust").distinct()
      .join(futureItems.select("cust").distinct(), Seq("cust"), "left_semi")
    val hits = recs.join(futureItems, Seq("cust", "item"), "left_semi")
      .select("cust").distinct()
    eval.join(hits.withColumn("hit", lit(1L)), Seq("cust"), "left")
      .join(customer.select(col("c_custkey").as("cust"), col("c_mktsegment")), "cust")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_eval"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("hit_ppm", expr("n_hit * 1000000 div n_eval"))
      .orderBy("c_mktsegment")
  }

  /** q288: SEED-SCOPED ADAMIC–ADAR link prediction on the co-purchase
    * graph — for each of the `seedN` highest-degree parts, score its
    * non-adjacent distance-2 partners by Σ_w 1/ln(deg w) over common
    * neighbors (rare shared neighbors count more than hubs) and keep
    * the top `perSeed` — the classic "which parts will co-sell with
    * THESE next" recsys primitive between q276 (how clustered is what
    * exists) and q250 (backtest of what happened).
    *
    * Per-neighbor credit quantizes to ⌊10⁹/ln d⌋ BEFORE the pair sum
    * (the q187/q209 micro-nat device — exact integer aggregation; the
    * residual ln ulp risk sits at a floor boundary, documented there).
    * d ≥ 2 always holds for a common neighbor, so ln never hits 0.
    *
    * Scale: all-pairs AA fans out Σ d(w)² wedges (measured ~300M at
    * sf0.1 — a 59 s query); seed-scoping is the practical form AND the
    * scale cut: wedges shrink to Σ d(w)·|N(w)∩seeds| (~0.5% here, the
    * seed-fraction ratio) via a broadcast semi-join of the tiny seed
    * set on one arm before the center join. Per-seed top-k compiles to
    * WindowGroupLimit, not a global sort.
    */
  def adamicAdarLinks(und: DataFrame, seedN: Int = 100, perSeed: Int = 3): DataFrame = {
    val edges = und
    val sym = edges.select(col("u").as("w"), col("v").as("n"))
      .unionAll(edges.select(col("v").as("w"), col("u").as("n")))
    val deg = sym.groupBy("w").agg(count(lit(1)).as("d"))
    val seeds = deg.orderBy(col("d").desc, col("w")).limit(seedN)
      .select(col("w").as("seed"))
    val cr = deg.filter(col("d") >= 2)
      .select(col("w"), floor(lit(1000000000.0) /
        log(col("d").cast("double"))).cast("long").as("cr"))
    val seedArm = sym.join(broadcast(seeds), sym("n") === seeds("seed"))
      .select(col("w"), col("n").as("a"))
    val wedges = seedArm
      .join(sym.select(col("w"), col("n").as("b")), "w")
      .filter(col("a") =!= col("b"))
      .join(cr, "w")
    val scored = wedges.groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"), sum("cr").as("aa_nano"))
    // adjacency check as ONE equi anti-join on the (min, max)-normalized
    // key (an OR-of-orientations condition would refuse hash join and
    // nested-loop against the full edge list)
    val nonAdj = scored
      .withColumn("lo", least(col("a"), col("b")))
      .withColumn("hi", greatest(col("a"), col("b")))
      .join(edges.select(col("u").as("lo"), col("v").as("hi")),
        Seq("lo", "hi"), "left_anti")
    nonAdj
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("a")
          .orderBy(col("aa_nano").desc, col("b"))).cast("long"))
      .filter(col("rk") <= perSeed)
      .select(col("a").as("seed_part"), col("b").as("partner"),
        col("n_common"), col("aa_nano"), col("rk"))
      .orderBy("seed_part", "rk")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q314_modularity" -> ((s, d) => lpModularity(sharedEdges(s, d), sharedLpLabels(s, d))),
    "q315_assortativity" -> ((s, d) => degreeAssortativity(sharedEdges(s, d))),
    "q316_hyperball" -> ((s, d) => hyperBall(sharedEdges(s, d), rounds = 2)),
    "q288_adamic_adar" -> ((s, d) => adamicAdarLinks(sharedEdges(s, d))),
    "q229_personalized_rank" -> ((s, d) => personalizedRank(sharedEdges(s, d), iters = 3)),
    "q250_rec_backtest" -> ((s, d) => { val t = Tables(s, d)
      recommenderBacktest(t.lineitem, t.orders, t.customer) }),
    "q232_label_propagation" -> ((s, d) => labelHistogram(sharedLpLabels(s, d))),
    "q142_triangles" -> ((s, d) => triangleCensus(sharedEdges(s, d))),
    "q276_clustering_coef" -> ((s, d) => clusteringCoefficients(sharedEdges(s, d))),
    "q143_pagerank"  -> ((s, d) => copurchaseRank(sharedEdges(s, d), iters = 3, topN = 10)),
    "q212_hits"      -> ((s, d) => { val t = Tables(s, d); hitsAuthorities(t.lineitem, t.orders) }),
    "q223_kcore"     -> ((s, d) => kCorePeel(sharedEdges(s, d), k = 3, rounds = 4)),
    "q224_cheapest_paths" -> ((s, d) => cheapestPaths(Tables(s, d).lineitem, hops = 3,
      weightedEdges = Some(sharedWeightedEdges(s, d)))),
  )

  /** q223 oracle: the 4 peel rounds unrolled (the q143 doctrine). Every
    * e$r is referenced 3× downstream (two degree arms + the next
    * restriction), so each CTE is pinned MATERIALIZED — without it
    * DuckDB may inline the chain and re-evaluate the co-purchase
    * self-join ~3^rounds times.
    */
  private def kCoreSql(k: Int, rounds: Int): String = {
    val peels = (1 to rounds).map(r =>
      s"""d$r AS MATERIALIZED (SELECT n, count(*) AS d FROM (SELECT u AS n FROM e${r - 1}
         |        UNION ALL SELECT v AS n FROM e${r - 1}) GROUP BY n),
         |k$r AS MATERIALIZED (SELECT n FROM d$r WHERE d >= $k),
         |e$r AS MATERIALIZED (SELECT u, v FROM e${r - 1}
         |        WHERE u IN (SELECT n FROM k$r) AND v IN (SELECT n FROM k$r))""".stripMargin)
      .mkString(",\n")
    s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
       |$peels,
       |fd AS (SELECT n, count(*) AS d FROM (SELECT u AS n FROM e$rounds
       |       UNION ALL SELECT v AS n FROM e$rounds) GROUP BY n)
       |SELECT (SELECT count(*) FROM fd)::BIGINT AS n_nodes,
       |       (SELECT count(*) FROM e$rounds)::BIGINT AS n_edges,
       |       coalesce((SELECT min(d) FROM fd), 0)::BIGINT AS min_degree,
       |       coalesce((SELECT max(d) FROM fd), 0)::BIGINT AS max_degree,
       |       ((SELECT count(*) FROM fd) = 0 OR coalesce((SELECT min(d) FROM fd), 0) >= $k) AS converged""".stripMargin
  }

  /** q224 oracle: `hops` relaxation rounds unrolled, MATERIALIZED for
    * the same reason as [[kCoreSql]].
    */
  private def cheapestSql(hops: Int, topN: Int): String = {
    val rounds = (1 to hops).map(r =>
      s"""r$r AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
         |  SELECT node, dist FROM r${r - 1}
         |  UNION ALL
         |  SELECT e.t AS node, p.dist + e.w AS dist FROM e JOIN r${r - 1} p ON e.s = p.node
         |) GROUP BY node)""".stripMargin).mkString(",\n")
    s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |co AS MATERIALIZED (SELECT a.p AS u, b.p AS v, count(*)::BIGINT AS cnt
       |      FROM items a JOIN items b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
       |e AS MATERIALIZED (SELECT u AS s, v AS t, 1000000 // cnt AS w FROM co
       |     UNION ALL SELECT v AS s, u AS t, 1000000 // cnt AS w FROM co),
       |r0 AS (SELECT (SELECT min(p) FROM items) AS node, 0::BIGINT AS dist),
       |$rounds
       |SELECT node, dist FROM r$hops ORDER BY dist, node LIMIT $topN""".stripMargin
  }

  /** q229 oracle: 3 unrolled walk rounds, MATERIALIZED like q223/q224. */
  private def pprSql(iters: Int, topN: Int): String = {
    val rounds = (1 to iters).map(r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT node, sum(rank)::BIGINT AS rank FROM (
         |    SELECT e.dd AS node, (85 * sum(p.rank // d.deg)) // 100 AS rank
         |    FROM e JOIN p${r - 1} p ON e.s = p.node JOIN deg d ON e.s = d.s
         |    GROUP BY e.dd
         |    UNION ALL
         |    SELECT node, 150000000000 FROM seed) GROUP BY node)""".stripMargin).mkString(",\n")
    s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |und AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
       |e AS MATERIALIZED (SELECT u AS s, v AS dd FROM und UNION ALL SELECT v AS s, u AS dd FROM und),
       |deg AS MATERIALIZED (SELECT s, count(*)::BIGINT AS deg FROM e GROUP BY s),
       |seed AS (SELECT min(s) AS node FROM e),
       |p0 AS (SELECT node, 1000000000000::BIGINT AS rank FROM seed),
       |$rounds
       |SELECT node AS part, rank::BIGINT AS rank FROM p$iters
       |WHERE node <> (SELECT node FROM seed)
       |ORDER BY rank DESC, part LIMIT $topN""".stripMargin
  }

  /** q232 oracle: `rounds` synchronous LPA rounds unrolled; every l$r is
    * referenced by the next round's join, MATERIALIZED per the q223
    * doctrine. row_number (c DESC, lbl) mirrors Spark's
    * min(struct(-c, lbl)) argmax exactly.
    */
  private def lpaSteps(rounds: Int): String = {
    val steps = (1 to rounds).map(r =>
      s"""f$r AS MATERIALIZED (SELECT e.dd AS node, l.lbl, count(*) AS c
         |       FROM e JOIN l${r - 1} l ON e.s = l.node GROUP BY e.dd, l.lbl),
         |l$r AS MATERIALIZED (SELECT node, lbl FROM (
         |       SELECT node, lbl, row_number() OVER (
         |         PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM f$r) WHERE rn = 1)""".stripMargin)
      .mkString(",\n")
    s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |p2 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
       |e AS MATERIALIZED (SELECT u AS s, v AS dd FROM p2 UNION ALL SELECT v AS s, u AS dd FROM p2),
       |l0 AS MATERIALIZED (SELECT DISTINCT s AS node, s AS lbl FROM e),
       |$steps""".stripMargin
  }

  private def lpaSql(rounds: Int): String =
    s"""${lpaSteps(rounds)},
       |sz AS (SELECT lbl, count(*)::BIGINT AS community_size FROM l$rounds GROUP BY lbl)
       |SELECT community_size, count(*)::BIGINT AS n_communities
       |FROM sz GROUP BY community_size ORDER BY community_size""".stripMargin

  /** q314 oracle: the q232 LPA rounds (shared steps) scored by Newman
    * modularity — all products HUGEINT (the q199 convention), one
    * double division at the end.
    */
  private def modularitySql(rounds: Int): String =
    s"""${lpaSteps(rounds)},
       |deg AS (SELECT n, count(*)::BIGINT AS d FROM (
       |          SELECT u AS n FROM p2 UNION ALL SELECT v AS n FROM p2) GROUP BY n),
       |mm AS (SELECT count(*)::HUGEINT AS m FROM p2),
       |intra AS (SELECT lu.lbl, count(*)::HUGEINT AS ec
       |          FROM p2 JOIN l$rounds lu ON p2.u = lu.node
       |                  JOIN l$rounds lv ON p2.v = lv.node
       |          WHERE lu.lbl = lv.lbl GROUP BY lu.lbl),
       |dc AS (SELECT l.lbl, sum(deg.d)::HUGEINT AS dc
       |       FROM deg JOIN l$rounds l ON deg.n = l.node GROUP BY l.lbl),
       |per AS (SELECT dc.lbl, coalesce(intra.ec, 0)::HUGEINT AS ec, dc.dc
       |        FROM dc LEFT JOIN intra ON dc.lbl = intra.lbl)
       |SELECT (SELECT m FROM mm)::BIGINT AS n_edges,
       |       count(*)::BIGINT AS n_communities,
       |       sum(ec)::BIGINT AS n_intra,
       |       round(sum(4 * (SELECT m FROM mm) * ec - dc * dc)::DOUBLE /
       |             (4.0 * (SELECT m FROM mm)::DOUBLE * (SELECT m FROM mm)::DOUBLE), 4)
       |         AS modularity
       |FROM per""".stripMargin

  /** The 60-bit salted md5 hash as DuckDB SQL (the Sketches.hx fold). */
  private def hx60(saltedArg: String): String =
    s"list_reduce(list_transform(range(1, 16), i -> strpos('0123456789abcdef', substr(md5($saltedArg), i, 1)) - 1), (a, b) -> a * 16 + b)::UBIGINT"

  /** q316 oracle: `rounds` unrolled register max-merge rounds + the
    * exact balls for the report nodes; estimator arithmetic mirrors the
    * Spark side digit for digit (integer register sums, one division).
    */
  private def hyperBallSql(rounds: Int, reportN: Int): String = {
    val merges = (1 to rounds).map(r =>
      s"""r$r AS MATERIALIZED (SELECT n, bucket, max(r) AS r FROM (
         |  SELECT n, bucket, r FROM r${r - 1}
         |  UNION ALL
         |  SELECT sym.s AS n, b.bucket, b.r FROM sym JOIN r${r - 1} b ON sym.t = b.n)
         |  GROUP BY n, bucket)""".stripMargin).mkString(",\n")
    val balls = (1 to rounds).map(r =>
      s"""b$r AS MATERIALIZED (SELECT DISTINCT part, member FROM (
         |  SELECT part, member FROM b${r - 1}
         |  UNION ALL
         |  SELECT b.part, sym.t AS member FROM b${r - 1} b JOIN sym ON sym.s = b.member))""".stripMargin)
      .mkString(",\n")
    val ests = (0 to rounds).map(r =>
      s"""e$r AS (SELECT n,
         |  CASE WHEN (0.673 * 16 * 16) / sp <= 40.0 AND m0 > 0
         |       THEN 16.0 * ln(16.0 / m0)
         |       ELSE (0.673 * 16 * 16) / sp END AS est
         |  FROM (SELECT n, (16 - count(*))::BIGINT AS m0,
         |               (sum((1::UBIGINT << (57 - r))::HUGEINT)
         |                + (16 - count(*))::HUGEINT * (1::UBIGINT << 57)::HUGEINT)::DOUBLE
         |                 / 144115188075855872.0 AS sp
         |        FROM r$r GROUP BY n))""".stripMargin).mkString(",\n")
    val rows = (0 to rounds).map { r =>
      val exact = if (r == 0) "1::BIGINT AS exact_ball"
                  else s"(SELECT count(*) FROM b$r b WHERE b.part = rep.part)::BIGINT AS exact_ball"
      s"""SELECT $r AS round, rep.part, rep.degree, $exact, round(e$r.est, 4) AS hll_est
         |FROM rep JOIN e$r ON rep.part = e$r.n""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |und AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
       |sym AS MATERIALIZED (SELECT u AS s, v AS t FROM und UNION ALL SELECT v AS s, u AS t FROM und),
       |deg AS (SELECT s, count(*)::BIGINT AS degree FROM sym GROUP BY s),
       |rep AS MATERIALIZED (SELECT s AS part, degree FROM deg ORDER BY degree DESC, s LIMIT $reportN),
       |h AS (SELECT s AS n, ${hx60("'hb|' || s::VARCHAR")} AS v FROM deg),
       |r0 AS MATERIALIZED (SELECT n, (v % 16)::BIGINT AS bucket,
       |       (CASE WHEN v // 16 = 0 THEN 57
       |             ELSE 57 - length(bin(v // 16)) END)::INTEGER AS r FROM h),
       |b0 AS (SELECT part, part AS member FROM rep),
       |$merges,
       |$balls,
       |$ests
       |$rows
       |ORDER BY round, part""".stripMargin
  }

  override def oracles: Map[String, String] = Map(
    "q314_modularity" -> modularitySql(2),
    "q316_hyperball" -> hyperBallSql(2, 6),
    "q315_assortativity" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |     FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT n, count(*)::BIGINT AS d FROM (
        |          SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY n),
        |sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e),
        |xy AS (SELECT da.d AS x, db.d AS y FROM sym
        |       JOIN deg da ON sym.a = da.n JOIN deg db ON sym.b = db.n),
        |s AS (SELECT count(*)::HUGEINT AS mm, sum(x::HUGEINT) AS sx,
        |             sum(x::HUGEINT * x) AS sxx, sum(x::HUGEINT * y) AS sxy
        |      FROM xy)
        |SELECT (mm // 2)::BIGINT AS n_edges,
        |       round((mm * sxy - sx * sx)::DOUBLE /
        |             nullif((mm * sxx - sx * sx)::DOUBLE, 0), 4) AS assortativity
        |FROM s""".stripMargin,
    // seed-scoped wedges; the adjacency anti-join runs on the
    // (min, max)-normalized key, mirroring the Spark plan
    "q288_adamic_adar" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |     FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |sym AS (SELECT u AS w, n FROM (SELECT u, v AS n FROM e
        |        UNION ALL SELECT v, u FROM e) t(u, n)),
        |deg AS (SELECT w, count(*)::BIGINT AS d FROM sym GROUP BY w),
        |seeds AS (SELECT w AS seed FROM deg ORDER BY d DESC, w LIMIT 100),
        |cr AS (SELECT w, CAST(floor(CAST(1000000000 AS DOUBLE) / ln(d::DOUBLE)) AS BIGINT) AS cr
        |       FROM deg WHERE d >= 2),
        |wedge AS (
        |  SELECT a.n AS a, b.n AS b, cr.cr
        |  FROM sym a JOIN seeds s ON a.n = s.seed
        |  JOIN sym b ON b.w = a.w AND a.n <> b.n
        |  JOIN cr ON cr.w = a.w),
        |scored AS (SELECT a, b, count(*)::BIGINT AS n_common, sum(cr)::BIGINT AS aa_nano
        |           FROM wedge GROUP BY a, b),
        |nonadj AS (
        |  SELECT s.* FROM scored s
        |  LEFT JOIN e ON least(s.a, s.b) = e.u AND greatest(s.a, s.b) = e.v
        |  WHERE e.u IS NULL),
        |ranked AS (
        |  SELECT a AS seed_part, b AS partner, n_common, aa_nano,
        |         row_number() OVER (PARTITION BY a ORDER BY aa_nano DESC, b) AS rk
        |  FROM nonadj)
        |SELECT seed_part, partner, n_common, aa_nano, rk
        |FROM ranked WHERE rk <= 3 ORDER BY seed_part, rk""".stripMargin,
    "q250_rec_backtest" ->
      """WITH past AS (SELECT o_orderkey, o_custkey FROM orders
        |              WHERE o_orderdate < DATE '1999-01-01'),
        |future AS (SELECT o_orderkey, o_custkey FROM orders
        |           WHERE o_orderdate >= DATE '1999-01-01'),
        |past_items AS (SELECT DISTINCT p.o_custkey AS cust, l.l_partkey AS item
        |               FROM past p JOIN lineitem l ON p.o_orderkey = l.l_orderkey),
        |future_items AS (SELECT DISTINCT f.o_custkey AS cust, l.l_partkey AS item
        |                 FROM future f JOIN lineitem l ON f.o_orderkey = l.l_orderkey),
        |order_items AS (SELECT DISTINCT p.o_orderkey AS o, l.l_partkey AS it
        |                FROM past p JOIN lineitem l ON p.o_orderkey = l.l_orderkey),
        |pairs AS (SELECT a.it AS a, b.it AS b FROM order_items a
        |          JOIN order_items b ON a.o = b.o AND a.it <> b.it),
        |cooc AS (SELECT a, b, count(*)::BIGINT AS c FROM pairs GROUP BY a, b),
        |top1 AS (SELECT a AS item, b AS rec FROM (
        |           SELECT a, b, row_number() OVER (
        |             PARTITION BY a ORDER BY c DESC, b) AS rn FROM cooc) WHERE rn = 1),
        |recs AS (SELECT DISTINCT pi.cust, t.rec AS item
        |         FROM past_items pi JOIN top1 t ON pi.item = t.item
        |         WHERE NOT EXISTS (SELECT 1 FROM past_items x
        |                           WHERE x.cust = pi.cust AND x.item = t.rec)),
        |eval AS (SELECT DISTINCT cust FROM past_items
        |         WHERE cust IN (SELECT cust FROM future_items)),
        |hits AS (SELECT DISTINCT r.cust FROM recs r
        |         WHERE EXISTS (SELECT 1 FROM future_items f
        |                       WHERE f.cust = r.cust AND f.item = r.item))
        |SELECT c.c_mktsegment, count(*)::BIGINT AS n_eval,
        |       sum(CASE WHEN h.cust IS NULL THEN 0 ELSE 1 END)::BIGINT AS n_hit,
        |       (sum(CASE WHEN h.cust IS NULL THEN 0 ELSE 1 END) * 1000000
        |          // count(*))::BIGINT AS hit_ppm
        |FROM eval e LEFT JOIN hits h ON h.cust = e.cust
        |JOIN customer c ON c.c_custkey = e.cust
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,
    "q232_label_propagation" -> lpaSql(2),
    "q229_personalized_rank" -> pprSql(3, 10),
    "q224_cheapest_paths" -> cheapestSql(3, 20),
    "q223_kcore" -> kCoreSql(3, 4),
    // naive id-ordered triple enumeration (orientation-invariant), each
    // triangle crediting all three corners — certifies the credit-routing
    // form the Spark side uses
    "q276_clustering_coef" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |     FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT n, count(*)::BIGINT AS d FROM (
        |          SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY n),
        |tris AS MATERIALIZED (SELECT e1.u AS x, e1.v AS y, e2.v AS z FROM e e1
        |        JOIN e e2 ON e2.u = e1.v
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |credits AS (SELECT x AS node FROM tris
        |            UNION ALL SELECT y FROM tris
        |            UNION ALL SELECT z FROM tris),
        |pn AS (SELECT node, count(*)::BIGINT AS tri FROM credits GROUP BY node)
        |SELECT deg.n AS part, deg.d AS degree,
        |       coalesce(pn.tri, 0)::BIGINT AS n_triangles,
        |       coalesce(pn.tri, 0) * 2 * 1000000 // (deg.d * (deg.d - 1)) AS coef_ppm
        |FROM deg LEFT JOIN pn ON deg.n = pn.node
        |WHERE deg.d >= 2
        |ORDER BY coef_ppm DESC, part LIMIT 20""".stripMargin,
    "q142_triangles" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
              e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
              deg AS (SELECT n, count(*) AS d FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e) GROUP BY n),
              tri AS (SELECT count(*) AS t FROM e e1
                      JOIN e e2 ON e2.u = e1.v
                      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
         SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
                (SELECT count(*) FROM e)::BIGINT AS n_edges,
                (SELECT sum(d * (d - 1) // 2) FROM deg)::BIGINT AS n_wedges,
                (SELECT t FROM tri)::BIGINT AS n_triangles,
                round(3.0 * (SELECT t FROM tri) / (SELECT sum(d * (d - 1) // 2) FROM deg), 4) AS clustering""",
    "q143_pagerank" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
              p2 AS (SELECT DISTINCT a.p AS u, b.p AS v FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
              e AS (SELECT u AS s, v AS dd FROM p2 UNION ALL SELECT v AS s, u AS dd FROM p2),
              deg AS (SELECT s, count(*) AS deg FROM e GROUP BY s),
              n AS (SELECT count(*) AS nn FROM deg),
              meta AS (SELECT s AS node, deg, 150000000000 // nn AS base,
                              1000000000000 // nn AS r FROM deg, n),
              i1 AS (SELECT m.node, CAST(m.base + (85 * coalesce(x.inc, 0)) // 100 AS BIGINT) AS r
                     FROM meta m LEFT JOIN (
                       SELECT e.dd AS node, sum(m2.r // m2.deg) AS inc
                       FROM e JOIN meta m2 ON e.s = m2.node GROUP BY e.dd) x USING (node)),
              i2 AS (SELECT m.node, CAST(m.base + (85 * coalesce(x.inc, 0)) // 100 AS BIGINT) AS r
                     FROM meta m LEFT JOIN (
                       SELECT e.dd AS node, sum(r1.r // m2.deg) AS inc
                       FROM e JOIN i1 r1 ON e.s = r1.node JOIN meta m2 ON e.s = m2.node GROUP BY e.dd) x USING (node)),
              i3 AS (SELECT m.node, CAST(m.base + (85 * coalesce(x.inc, 0)) // 100 AS BIGINT) AS r
                     FROM meta m LEFT JOIN (
                       SELECT e.dd AS node, sum(r2.r // m2.deg) AS inc
                       FROM e JOIN i2 r2 ON e.s = r2.node JOIN meta m2 ON e.s = m2.node GROUP BY e.dd) x USING (node))
         SELECT node AS part, r AS rank FROM i3
         ORDER BY rank DESC, part LIMIT 10""",
    "q212_hits" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS s, o_custkey AS c
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              a1 AS (SELECT c, count(*)::BIGINT AS a1 FROM e GROUP BY c),
              h1 AS (SELECT s, sum(a1)::BIGINT AS h1 FROM e JOIN a1 USING (c) GROUP BY s),
              a2 AS (SELECT c, sum(h1)::BIGINT AS authority FROM e JOIN h1 USING (s) GROUP BY c)
         SELECT c AS custkey, a1 AS n_suppliers, authority
         FROM a1 JOIN a2 USING (c)
         ORDER BY authority DESC, custkey LIMIT 15""",
  )
}
