package graft.status

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Status state machine (SURVEY.md §1.1, §2.8 V5; status_utils.py:50-127
  * `Statuses`/`ENTITY_STATUS_MAP`, status_manager.py:194-381
  * `StatusChanger`): entity statuses as a Scala ADT with per-entity-type
  * legality, an append-only `status_events` store, a latest-wins current
  * view, and transition guard rails (same-status suppression, unknown
  * status rejection) — the reference's imperative PUT-with-checks
  * becomes a deterministic event fold.
  */
object StatusMachine {

  sealed abstract class EntityType(val name: String)
  object EntityType {
    case object Dataset extends EntityType("dataset")
    case object Upload extends EntityType("upload")
    case object Publication extends EntityType("publication")
    val all: Seq[EntityType] = Seq(Dataset, Upload, Publication)
  }

  sealed abstract class Status(val name: String)
  object Status {
    case object New extends Status("new")
    case object Valid extends Status("valid")
    case object Invalid extends Status("invalid")
    case object Processing extends Status("processing")
    case object Submitted extends Status("submitted")
    case object Qa extends Status("qa")
    case object Published extends Status("published")
    case object Error extends Status("error")
    case object Hold extends Status("hold")
    case object Deprecated extends Status("deprecated")
    case object Reorganized extends Status("reorganized")
    val all: Seq[Status] = Seq(New, Valid, Invalid, Processing, Submitted,
      Qa, Published, Error, Hold, Deprecated, Reorganized)
    def parse(s: String): Option[Status] = all.find(_.name == s.toLowerCase.trim)
  }

  /** Which statuses are legal per entity type (ENTITY_STATUS_MAP shape —
    * status_utils.py:50-127: uploads can be Reorganized but not
    * Published/QA; datasets/publications the reverse).
    */
  val legalStatuses: Map[EntityType, Set[Status]] = {
    import EntityType._
    import Status._
    Map(
      Dataset -> Set(New, Valid, Invalid, Processing, Submitted, Qa, Published, Error, Hold, Deprecated),
      Upload -> Set(New, Valid, Invalid, Processing, Submitted, Error, Reorganized),
      Publication -> Set(New, Valid, Invalid, Processing, Submitted, Qa, Published, Error, Hold),
    )
  }

  def isLegal(e: EntityType, s: Status): Boolean = legalStatuses(e).contains(s)

  /** Guarded transition (status_manager.py:253-289): None = suppressed
    * no-op (same status), Left(reason) = rejected, Right(next) = apply.
    */
  def transition(e: EntityType, current: Option[Status], requested: String): Either[String, Option[Status]] =
    Status.parse(requested) match {
      case None => Left(s"unknown status '$requested'")
      case Some(s) if !isLegal(e, s) => Left(s"status '${s.name}' illegal for ${e.name}")
      case Some(s) if current.contains(s) => Right(None) // same-status suppression
      case Some(s) => Right(Some(s))
    }

  /** Stamp a raw event batch (uuid, entity_type, status) with event-store
    * metadata: the write path appends (ts, seq) so the read path can
    * resolve latest-wins deterministically. `ts` is caller-provided
    * (job event time, not wall clock) for reproducible folds; `seq`
    * numbers the rows from `seqStart` in (uuid, entity_type, status)
    * order.
    *
    * The batch is one request's events, bounded by the request: the rows
    * of one `update_status` call, or one upload plus the children of its
    * metadata.tsv. So it is collected, ordered on the driver as Spark
    * orders strings (UTF-8 byte order, nulls first) and returned as a
    * local relation carrying `ts` and `seq` as data. A `lit(ts)` over a
    * non-local batch (a cached set, a frozen CSV) would inline the long
    * into generated code: one new class per timestamp. No global window
    * runs either.
    */
  def stampEvents(batch: DataFrame, tsMicros: Long, seqStart: Long = 0L): DataFrame = {
    val Seq(u, e, st) = Seq("uuid", "entity_type", "status").map(batch.schema.fieldIndex)
    val rows = batch.collect().toSeq
      .sortBy(r => (r.getString(u), r.getString(e), r.getString(st)))(
        Ordering.Tuple3(sparkStringOrder, sparkStringOrder, sparkStringOrder))
    val stamped = rows.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.toSeq ++ Seq(tsMicros, seqStart + i))
    }
    val schema = batch.schema
      .add(StructField("ts", LongType, nullable = false))
      .add(StructField("seq", LongType, nullable = false))
    batch.sparkSession.createDataFrame(stamped.asJava, schema)
  }

  /** Spark's ascending `StringType` order: UTF-8 byte order, nulls first. */
  private val sparkStringOrder: Ordering[String] =
    Ordering.Option(Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0))
      .on(s => Option(s).map(UTF8String.fromString))

  /** Append-only event-store schema: (uuid, entity_type, status, ts
    * [, seq]). Current status = latest-wins window (W3); `seq` breaks
    * same-ts ties when present (see [[stampEvents]]).
    */
  def currentStatuses(statusEvents: DataFrame): DataFrame = {
    val order =
      if (statusEvents.columns.contains("seq")) Seq(col("ts").desc, col("seq").desc)
      else Seq(col("ts").desc)
    val w = Window.partitionBy("uuid").orderBy(order: _*)
    statusEvents.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("uuid"), col("entity_type"), col("status"), col("ts").as("since"))
  }

  /** Whether a request row's (entity_type, status) is legal, as one
    * expression over [[legalStatuses]]; false, not null, when either is
    * null.
    */
  private val isLegal: Column =
    coalesce(legalStatuses.toSeq.map { case (e, ss) =>
      col("entity_type") === e.name && col("status").isin(ss.toSeq.map(_.name): _*)
    }.reduce(_ || _), lit(false))

  /** Validate a batch of requested status events against the current
    * view: returns (accepted, rejected-with-reason). Mirrors the
    * reference's guard rails as set logic instead of per-row HTTP.
    * Legality depends on the request alone, so `rejected` never reads
    * `current`.
    */
  def validateBatch(spark: SparkSession, requested: DataFrame, current: DataFrame): (DataFrame, DataFrame) = {
    val req = requested.withColumn("status", lower(trim(col("status"))))
    val rejected = req.filter(!isLegal)
      .select(col("uuid"), col("status"),
              concat(lit("illegal status for "), col("entity_type")).as("reason"))
    val cur = current.select(col("uuid"), col("status").as("current_status"))
    val accepted = req.filter(isLegal).join(cur, Seq("uuid"), "left")
      .filter(col("current_status").isNull || col("current_status") =!= col("status"))
      .drop("current_status")
    (accepted, rejected)
  }
}
