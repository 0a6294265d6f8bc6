package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by operator modules (each a [[QueryModule]]
  * bundling the Spark plan and its DuckDB oracle SQL); this object just
  * unions them so the correctness surface grows module by module.
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    RelationalReports,
    LogPipeline,
    TextAnalysis,
    Dedup,
    Similarity,
    Routing,
    EntityGraph,
    Validation,
    SetOpsAndSessions,
    NonSqlOps,
    Ranking,
    Quantize,
    AsOfJoin,
    RangeJoin,
    SkewJoin,
    CorpusOps,
    Sketches,
    GraphOps,
    Modeling,
    Clustering,
    RobustStats,
    Layout,
    DecisionSupport,
    NaiveBayes,
    LanguageModel,
    SeqPack,
    StatisticalAudits,
    graft.streaming.StreamParity,
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalReports.pricingSummary(Tables(spark, "/root/testdata/sf0.001").lineitem)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracles).toMap
}
