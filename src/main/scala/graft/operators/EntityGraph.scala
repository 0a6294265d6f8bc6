package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity-graph ancestry (SURVEY.md §1.1 entity graph, §2.4 J8): the
  * reference walks Donor→Sample→Dataset parent links with per-node HTTP
  * lookups (survey.py:226-303); here the graph is an `edges` DataFrame
  * and ancestry is an iterative self-join to fixpoint (BFS); each
  * iteration is one distributed hash join + except, and the loop
  * terminates on the first empty frontier (cycle-safe because visited
  * pairs are excluded). Spark 4 also has NATIVE recursion
  * (`WITH RECURSIVE` → UnionLoop) — [[hierarchyRollup]] (q219) is the
  * declarative counterpart; the driver-side BFS remains for shapes that
  * need per-level control (frontier dedup against visited, level caps).
  */
object EntityGraph extends QueryModule {

  /** Transitive closure of a (child, parent) edge set. Frontier-based:
    * per iteration only the newly discovered pairs join against edges,
    * so total work is O(paths), not O(iterations × closure).
    */
  def transitiveClosure(edges: DataFrame, maxIters: Int = 20): DataFrame = {
    import graft.plans.Checkpoints
    val e = Checkpoints.pin(edges.select(col("child"), col("parent")).distinct())
    // Cache each BFS level once and keep the cumulative closure as a
    // plain union VIEW over the cached levels: union scans its cached
    // children, so re-caching the whole closure every iteration (an extra
    // full materialization pass + a second in-memory copy per level) is
    // pure overhead. One action per iteration (count materializes the new
    // level AND answers the emptiness check). The levels are consumed
    // lazily by the RETURNED union plan, so there is no in-scope point to
    // unpersist them — they are pin()-registered and drained by
    // Checkpoints.release once the caller's terminal consumer has run.
    val first = Checkpoints.pin(e.select(col("child"), col("parent").as("ancestor")))
    var closure = first
    var frontier = first
    var i = 0
    var done = false
    while (!done && i < maxIters) {
      // no explicit distinct: EXCEPT has set semantics and dedups anyway
      val next = Checkpoints.pin(frontier.as("f")
        .join(e.as("g"), col("f.ancestor") === col("g.child"))
        .select(col("f.child"), col("g.parent").as("ancestor"))
        .except(closure))
      if (next.count() == 0L) done = true
      else {
        closure = closure.union(next)
        frontier = next
        i += 1
      }
    }
    if (!done) {
      System.err.println(
        s"[graft] transitiveClosure stopped at maxIters=$maxIters with a non-empty frontier — " +
          "closure may be incomplete; raise maxIters for deeper graphs")
    }
    closure
  }

  /** The star schema as an entity graph: customer→nation→region, typed
    * string ids like the reference's uuid space.
    */
  def starEdges(customer: DataFrame, nation: DataFrame): DataFrame =
    customer.select(
        concat(lit("C"), col("c_custkey")).as("child"),
        concat(lit("N"), col("c_nationkey")).as("parent"))
      .unionByName(nation.select(
        concat(lit("N"), col("n_nationkey")).as("child"),
        concat(lit("R"), col("n_regionkey")).as("parent")))

  def ancestry(customer: DataFrame, nation: DataFrame): DataFrame =
    transitiveClosure(starEdges(customer, nation))
      .orderBy("child", "ancestor")

  /** q219: hierarchy rollup via Spark 4's NATIVE recursive CTE
    * (`WITH RECURSIVE` → UnionLoop) — the declarative counterpart of
    * [[transitiveClosure]]'s driver-side BFS loop, now that Catalyst
    * DOES have recursion. The hierarchy is the deterministic quaternary
    * tree parent = key div 4 over part keys (≈log₄ n levels); each
    * part's ancestor chain is enumerated by the recursion and the
    * rollup reports, per ancestor, its subtree size and total retail
    * cents — the BOM-explosion shape.
    *
    * Scale shape: UnionLoop materializes one FRONTIER level per step
    * (exactly what the hand-rolled BFS does), each level a narrow
    * (node, anc) pair frame, then one hash aggregate on the ancestor
    * key. Depth is log₄(keyspace), so the loop count is 8 at 10⁵ parts
    * and 19 at 10¹¹ — recursion depth scales with the TREE, not the
    * data volume.
    */
  def hierarchyRollup(part: DataFrame): DataFrame = {
    val spark = part.sparkSession
    // the default cteRecursionRowLimit (10⁶) is a row-VOLUME guardrail
    // that any linear-in-data recursion outgrows (total rows = n_parts ×
    // tree depth — the sf1 scale sweep tripped it); this recursion's
    // termination is STRUCTURAL (anc div 4 strictly decreases to 0, ≤32
    // levels for int64 keys), so the depth guard
    // (spark.sql.cteRecursionLevelLimit, default 100) is the right one
    // and the row cap is lifted FOR THIS QUERY ONLY: the recursion is
    // forced eagerly (Checkpoints.cut — ≤15 rows after the LIMIT) inside
    // a save/restore of the prior limit, so later recursive CTEs on the
    // shared session keep their own guardrail.
    val limitKey = "spark.sql.cteRecursionRowLimit"
    val prior = spark.conf.getOption(limitKey)
    spark.conf.set(limitKey, "-1")
    val view = "eg_part_hier"
    part.select(col("p_partkey"), col("p_retailprice")).createOrReplaceTempView(view)
    try graft.plans.Checkpoints.cut(spark.sql(
      s"""WITH RECURSIVE anc AS (
         |  SELECT p_partkey AS node, p_partkey AS anc FROM $view
         |  UNION ALL
         |  SELECT node, anc div 4 AS anc FROM anc WHERE anc > 0
         |)
         |SELECT a.anc AS ancestor, count(*) AS n_members,
         |       sum(cast(round(p.p_retailprice * 100) as bigint)) AS subtree_cents
         |FROM anc a JOIN $view p ON p.p_partkey = a.node
         |GROUP BY a.anc
         |ORDER BY n_members DESC, ancestor LIMIT 15""".stripMargin)
      ) // eager: recursion runs NOW, under the lifted cap
      .orderBy(col("n_members").desc, col("ancestor")) // checkpoint keeps rows, not order
    finally {
      spark.catalog.dropTempView(view)
      prior match {
        case Some(v) => spark.conf.set(limitKey, v)
        case None    => spark.conf.unset(limitKey)
      }
    }
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q219_hierarchy_rollup" -> ((s, d) => hierarchyRollup(Tables(s, d).part)),
    "q31_ancestry" -> ((s, d) => { val t = Tables(s, d); ancestry(t.customer, t.nation) }),
  )

  override def oracles: Map[String, String] = Map(
    "q219_hierarchy_rollup" ->
      """WITH RECURSIVE anc AS (
        |  SELECT p_partkey AS node, p_partkey AS anc FROM part
        |  UNION ALL
        |  SELECT node, anc // 4 AS anc FROM anc WHERE anc > 0
        |)
        |SELECT a.anc AS ancestor, count(*)::BIGINT AS n_members,
        |       sum(round(p.p_retailprice * 100)::BIGINT)::BIGINT AS subtree_cents
        |FROM anc a JOIN part p ON p.p_partkey = a.node
        |GROUP BY a.anc
        |ORDER BY n_members DESC, ancestor LIMIT 15""".stripMargin,
    "q31_ancestry" ->
      """WITH RECURSIVE edges AS (
           SELECT 'C' || c_custkey AS child, 'N' || c_nationkey AS parent FROM customer
           UNION ALL
           SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation),
         anc AS (
           SELECT child, parent AS ancestor FROM edges
           UNION
           SELECT a.child, e.parent FROM anc a JOIN edges e ON a.ancestor = e.child)
         SELECT child, ancestor FROM anc ORDER BY child, ancestor""",
  )
}
