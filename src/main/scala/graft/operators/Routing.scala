package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rule-table routing — the reference's core dispatch machinery
  * (SURVEY.md §2.1 S14, §2.4 J5/J6, §2.3 P7/P11): ordered first-match
  * regex tables (`workflow_map.yml` via utils.py:1801-1817,
  * `PipelineFileMatcher` utils.py:155-203), and the ID-slice expansion
  * generator (utils.py:63,1221-1230).
  *
  * Routing joins broadcast the (tiny) rules side and keep the scanned
  * side un-shuffled; first-match = `row_number()` over rule priority.
  */
object Routing extends QueryModule {

  /** A workflow routing rule: first match by ascending priority wins. */
  final case class RoutingRule(pattern: String, workflow: String, priority: Int)

  val defaultRules: Seq[RoutingRule] = Seq(
    RoutingRule("^src1$", "wf_exact_one", 1),
    RoutingRule("^src1[0-9]$", "wf_teens", 2),
    RoutingRule("[02468]$", "wf_even", 3),
  )

  /** J5/J6 (utils.py:1924-1938 downstream_workflow_iter, :1845-1866
    * first-match resource lookup): regex rule-table routing — broadcast
    * cross join of the rules, `rlike` with per-rule pattern, first match
    * by priority, with a default fallback for unmatched rows.
    */
  def routeByRules(documents: DataFrame, rules: Seq[RoutingRule],
                   default: String = "wf_default"): DataFrame = {
    // Static rule tables compile to a first-match CASE chain with
    // LITERAL patterns (SURVEY.md §4): each regex compiles once inside
    // codegen, versus an rlike-join whose non-literal pattern recompiles
    // per row×rule. No join, no shuffle — a narrow projection. One CASE
    // with a branch per rule, so the expression grows linearly in the
    // rules; a null `source` matches no branch and gets `default`.
    def matches(r: RoutingRule) = col("source").rlike(r.pattern)
    val sorted = rules.sortBy(_.priority)
    val workflow = sorted.headOption.fold(lit(default)) { first =>
      sorted.tail.foldLeft(when(matches(first), first.workflow)) { (chain, r) =>
        chain.when(matches(r), r.workflow)
      }.otherwise(default)
    }
    documents.select(col("doc_id"), col("source"), workflow.as("workflow"))
      .orderBy("doc_id")
  }

  /** Shared first-match core for dynamic rule tables: broadcast rlike
    * join + priority row_number, left-joined back so unmatched rows get
    * `default`. `keyCol` must be unique per input row.
    */
  def firstMatch(df: DataFrame, rulesDf: DataFrame, keyCol: String,
                 matchCol: String, default: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy("priority")
    val matched = df.select(col(keyCol), col(matchCol))
      .join(broadcast(rulesDf), expr(s"$matchCol rlike pattern"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(keyCol), col("workflow"))
    df.join(matched, Seq(keyCol), "left")
      .withColumn("workflow", coalesce(col("workflow"), lit(default)))
  }

  /** P7 (PipelineFileMatcher.get_file_metadata utils.py:155-203): ordered
    * first-match regex annotation with templated descriptions built from
    * capture groups, plus QA flagging — as a constant-folded CASE chain.
    */
  def annotateManifest(documents: DataFrame): DataFrame =
    documents.select(
        col("doc_id"),
        when(col("text").rlike("spark (\\w+)"),
             concat(lit("spark-"), regexp_extract(col("text"), "spark (\\w+)", 1)))
          .when(col("text").rlike("the (\\w+)"),
             concat(lit("the-"), regexp_extract(col("text"), "the (\\w+)", 1)))
          .otherwise("unmatched").as("description"),
        col("text").rlike("error|fail").as("is_qa_qc"))
      .orderBy("doc_id")

  /** P11 (utils.py:63,1221-1230 `base-n1_n2` slice expansion): generator
    * expansion of id ranges — builtin `explode(sequence(...))`, no
    * custom UDTF needed.
    */
  def expandIdSlices(nation: DataFrame): DataFrame =
    nation
      .select(col("n_nationkey"),
              explode(sequence(lit(0), pmod(col("n_nationkey"), lit(3)))).as("i0"))
      .select(col("n_nationkey"), col("i0").cast("long").as("i"),
              format_string("N-%d-%d", col("n_nationkey"), col("i")).as("slice_id"))
      .orderBy("n_nationkey", "i")

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q27_route_rules"   -> ((s, d) => routeByRules(Tables(s, d).documents, defaultRules)),
    "q30_manifest_annotate" -> ((s, d) => annotateManifest(Tables(s, d).documents)),
    "q17_id_slice_expand" -> ((s, d) => expandIdSlices(Tables(s, d).nation)),
  )

  override def oracles: Map[String, String] = Map(
    "q27_route_rules" ->
      """WITH rules(pattern, workflow, priority) AS (
           VALUES ('^src1$', 'wf_exact_one', 1),
                  ('^src1[0-9]$', 'wf_teens', 2),
                  ('[02468]$', 'wf_even', 3)),
         matched AS (
           SELECT doc_id, workflow,
                  row_number() OVER (PARTITION BY doc_id ORDER BY priority) AS rn
           FROM documents JOIN rules ON regexp_matches(source, pattern))
         SELECT d.doc_id, d.source, COALESCE(m.workflow, 'wf_default') AS workflow
         FROM documents d LEFT JOIN (SELECT doc_id, workflow FROM matched WHERE rn = 1) m
           ON d.doc_id = m.doc_id
         ORDER BY d.doc_id""",
    "q30_manifest_annotate" ->
      """SELECT doc_id,
           CASE WHEN regexp_matches(text, 'spark (\w+)')
                  THEN 'spark-' || regexp_extract(text, 'spark (\w+)', 1)
                WHEN regexp_matches(text, 'the (\w+)')
                  THEN 'the-' || regexp_extract(text, 'the (\w+)', 1)
                ELSE 'unmatched' END AS description,
           regexp_matches(text, 'error|fail') AS is_qa_qc
         FROM documents ORDER BY doc_id""",
    "q17_id_slice_expand" ->
      """SELECT n_nationkey, i, 'N-' || n_nationkey || '-' || i AS slice_id
         FROM (SELECT n_nationkey,
                      unnest(generate_series(0, n_nationkey % 3)) AS i
               FROM nation)
         ORDER BY n_nationkey, i""",
  )
}
