package graft

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet star schema (see TESTDATA.md).
  *
  * Each table is a plain parquet directory read through [[Tables.read]],
  * so its schema comes from the catalog instead of a footer-inference
  * job per query; Catalyst handles column pruning and predicate
  * pushdown into the scan, so operators downstream should express
  * filters/projections declaratively rather than caching wide reads.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = Tables.read(spark, s"$dir/$name.parquet")
  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")

  /** events.parquet's `ts` physical type has varied across data
    * generations: TIMESTAMP(NANOS) (read as Long under
    * `spark.sql.legacy.parquet.nanosAsLong=true`), and micro-precision
    * timestamps without the isAdjustedToUTC flag (read as TIMESTAMP_NTZ
    * since Spark infers NTZ for unadjusted parquet timestamps). Every
    * operator expects a plain session-zone TimestampType — sessions run
    * UTC, and DuckDB treats the same naive values as UTC instants, so
    * both normalizations are value-preserving. `div` (integer division)
    * keeps full int64 precision on the nanos path — `/` would round-trip
    * through double and lose the low bits of an epoch-nanos value.
    */
  def events: DataFrame = {
    val raw = t("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

/** The in-process schema catalog: the one parquet table loader.
  *
  * A bare `spark.read.parquet(path)` runs a footer schema-inference
  * Spark job every time it is called, which made inference part of
  * every query's construction. The catalog keeps ONE entry per path,
  * holding:
  *  - the file-version [[fingerprint]] (recursive listing of path,
  *    length and mtime, hashed),
  *  - the values of the session confs that change what inference
  *    returns ([[SchemaConfs]]),
  *  - the inferred `StructType`, and the row count once
  *    [[rowCount]] has asked for it.
  *
  * [[read]] lists the path, and when fingerprint and confs match the
  * entry it reads with `.schema(s)` (no job); otherwise it infers once
  * and replaces the entry, so a rewrite or a conf flip is picked up on
  * the next read and the map never grows past one entry per path.
  * Only metadata is kept — never data, plans or results — and only in
  * this JVM: nothing is persisted, so a new process infers again.
  */
object Tables {

  /** Session confs that change the schema parquet inference returns. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  private final case class Entry(fingerprint: String, confs: Seq[String],
                                 schema: StructType, rows: Option[Long] = None)

  private val catalog = new ConcurrentHashMap[String, Entry]()

  /** `path` read with its catalog schema. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(entry(spark, path).schema).parquet(path)

  /** Row count of `path` (a footer-metadata scan), counted once per
    * file version. */
  def rowCount(spark: SparkSession, path: String): Long = {
    val e = entry(spark, path)
    e.rows.getOrElse {
      val n = spark.read.schema(e.schema).parquet(path).count()
      catalog.replace(path, e, e.copy(rows = Some(n)))
      n
    }
  }

  /** The paths the catalog holds an entry for. */
  private[graft] def cachedPaths: Set[String] = catalog.keySet.asScala.toSet

  /** The entry for `path` under the current file version and confs,
    * inferring the schema on a miss. The fingerprint is taken before
    * inference: a rewrite racing the inference leaves a stale
    * fingerprint, which the next read sees as a miss.
    */
  private def entry(spark: SparkSession, path: String): Entry = {
    val fp = fingerprint(spark, path)
    val confs = SchemaConfs.map(k => spark.conf.getOption(k).getOrElse(""))
    val cached = catalog.get(path)
    if (cached != null && cached.fingerprint == fp && cached.confs == confs) cached
    else {
      val fresh = Entry(fp, confs, spark.read.parquet(path).schema)
      catalog.put(path, fresh)
      fresh
    }
  }

  /** md5 over the recursive file listing (path, length, modification
    * time) of `path`: the catalog's file-version key and the
    * shared-artifact staleness key. Same content ⇒ same fingerprint
    * (reuse); any rewrite, even size-preserving, bumps mtime ⇒ new
    * fingerprint ⇒ re-infer / rebuild.
    */
  def fingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      lines += s"${st.getPath.toUri.getPath}|${st.getLen}|${st.getModificationTime}"
    }
    org.apache.commons.codec.digest.DigestUtils
      .md5Hex(lines.sorted.mkString("\n")).substring(0, 12)
  }
}

/** A bundle of named queries plus their DuckDB oracle SQL.
  *
  * Every operator module exposes its correctness surface this way and
  * [[SparkEntry]] unions them. Column names MUST match between the Spark
  * result and the oracle SQL (the driver sorts columns by name before
  * hashing); all computed doubles are rounded on both sides to make the
  * hash comparison robust to summation-order float jitter.
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
