package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Bench, GraftSession, SparkEntry}
import graft.api.IngestApi
import graft.jobs.Reorganize
import graft.plans.Checkpoints
import graft.sources.{FileCatalog, Readers}
import graft.status.StatusMachine

/** One benchmark run in a fresh JVM: set up the session `setups` times,
  * run the request's operations, check their outputs, and write the result
  * file.
  *
  * Usage: PerfRun <request.json> <result.json>
  *
  * The request (written by run.py) names the workload, the table
  * directory, the operations in run order and whether to trace. The
  * result carries the setup times, one record per operation (latency,
  * outcome, error class and message) and, when traced, the per-layer
  * summary and the span tree from [[Trace]].
  */
object PerfRun {

  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  type Obj = Map[String, Any]

  /** One operation of one pass ("first", "timed" or "check"). */
  final case class OpRecord(index: Int, pass: String, kind: String, name: String,
                            latencyMs: Double, cpuMs: Double, constructMs: Double,
                            outcome: String, error: Option[String])

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU time (all threads) in ms. */
  private def cpuMs(): Double = os.getProcessCpuTime / 1e6

  def main(args: Array[String]): Unit = {
    val req = mapper.readValue(new File(args(0)), classOf[Map[String, Any]])
    val workload = req("workload").toString
    val traced = req("trace") == true
    val cpus = req("cpus").toString.toInt
    val setups = req("setups").toString.toInt
    val ops = req("ops").asInstanceOf[Seq[Obj]]

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    val setupSeconds = (1 to setups).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = GraftSession.local(cpus, "perfbench")
      warmUp(spark, workload, req)
      val s = (System.nanoTime() - t0) / 1e9
      // the first set-up also pays JVM start and class loading
      if (i == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3 else s
    }

    val trace = if (traced) Some(Trace.install(spark, cpus)) else None
    val records = workload match {
      case "reports" =>
        runQueries(spark, req("tables").toString, ops, req, trace)
      case "ingest_api" => runIngest(spark, req, trace)
      case "fingerprint" => fingerprints(spark, req("tables").toString, ops)
      case other => sys.error(s"unknown workload $other")
    }
    val heapAfterGcMb = trace.map(_.heapAfterGcMb).getOrElse(0.0)
    // stopping the context drains the listener bus, so the trace is complete
    spark.stop()
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "locale" -> java.util.Locale.getDefault.toString,
      "setup_s" -> setupSeconds,
      "ops" -> records.map(r => mutable.LinkedHashMap[String, Any](
        "index" -> r.index, "pass" -> r.pass, "kind" -> r.kind, "name" -> r.name,
        "latency_ms" -> r.latencyMs, "cpu_ms" -> r.cpuMs, "construct_ms" -> r.constructMs,
        "outcome" -> r.outcome, "error" -> r.error.orNull)))
    trace.foreach { t =>
      result("layers") = t.summary(records, heapAfterGcMb)
      result("spans") = t.spans(records).map(_.toMap)
    }
    Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(result))
  }

  private def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | ")
    if (root eq e) s"${e.getClass.getName}: $msg"
    else s"${e.getClass.getName}: $msg (cause ${root.getClass.getName}: " +
      String.valueOf(root.getMessage).linesIterator.take(1).mkString + ")"
  }

  /** Times `body` as one phase of operation `index`; the trace (if any)
    * sees the phase window through [[Trace.begin]] and [[Trace.end]].
    */
  private def timed[T](trace: Option[Trace], index: Int, phase: String)(body: => T): (T, Double) = {
    trace.foreach(_.begin(index, phase))
    val t0 = System.nanoTime()
    try {
      val out = body
      (out, (System.nanoTime() - t0) / 1e6)
    } finally trace.foreach(_.end())
  }

  private def warmUp(spark: SparkSession, workload: String, req: Map[String, Any]): Unit =
    workload match {
      case "ingest_api" =>
        val store = req("status_store").toString
        writeStatus(spark, req("initial_status").asInstanceOf[Seq[Seq[String]]], store, 0L,
          overwrite = true)
        IngestApi.requestIngest(spark, "warm-up", s"${req("base")}/uploads/warmup", "ds-warmup",
          spark.range(0).select(lit("").as("run_id")))
        IngestApi.statusView(spark.read.parquet(store)).count()
      case _ =>
        val dir = req("tables").toString
        req("warmup_queries").asInstanceOf[Seq[String]].foreach { q =>
          Bench.runFullPlan(SparkEntry.queries(q)(spark, dir))
          Checkpoints.release(spark)
        }
    }

  // ---------------------------------------------------------------- queries

  /** The request's timed rounds, in run order. */
  private def timedOps(req: Map[String, Any]): Seq[Obj] =
    req("rounds").asInstanceOf[Seq[Seq[Obj]]].flatten

  /** Runs the first pass, each query op of the request once through its
    * fingerprint (the output check), then the timed rounds, each a seeded
    * order of the query pool, through the noop sink of
    * [[Bench.runFullPlan]]. Construction is inside every timing.
    */
  private def runQueries(spark: SparkSession, dir: String, ops: Seq[Obj], req: Map[String, Any],
                         trace: Option[Trace]): Seq[OpRecord] = {
    val queries = SparkEntry.queries
    val passes = ops.map(op => (op("name").toString, "first")) ++
      timedOps(req).map(op => (op("name").toString, "timed"))
    passes.zipWithIndex.map { case ((name, pass), i) =>
      val (t0, c0) = (System.nanoTime(), cpuMs())
      var constructMs = 0.0
      val (outcome, error) = try {
        val (df, cMs) = timed(trace, i, "construct")(queries(name)(spark, dir))
        constructMs = cMs
        (timed(trace, i, "execute") {
          if (pass == "first") fingerprint(df) else { Bench.runFullPlan(df); "ok" }
        }._1, None)
      } catch { case e: Throwable => ("error", Some(describe(e))) }
      val (latencyMs, cpu) = ((System.nanoTime() - t0) / 1e6, cpuMs() - c0)
      settle(spark, trace)
      OpRecord(i, pass, "query", name, latencyMs, cpu, constructMs, outcome, error)
    }
  }

  /** Between operations: drain graft-pinned storage and give the
    * ContextCleaner its GC outside the timed window (as graft.Bench does).
    */
  private def settle(spark: SparkSession, trace: Option[Trace]): Unit = {
    Checkpoints.release(spark)
    System.gc()
    trace.foreach(_.sampleHeap())
  }

  /** Order-independent fingerprint of a result: column names sorted, each
    * row hashed over its canonical values (doubles rounded to 9 places as
    * tools/check.py does, maps as sorted entries, explicit null flags), and
    * the multiset of row hashes reduced to (count, exact sum).
    */
  def fingerprint(df: DataFrame): String = {
    val fields = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val parts = fields.toSeq.flatMap { case (f, i) =>
      val c = renamed.col(s"c$i")
      val v = f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 9)
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
      Seq(c.isNull, v)
    }
    val row = renamed.select(xxhash64(parts: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .collect()(0)
    val names = fields.map(_._1.name).mkString(",")
    s"${row.getLong(0)}:${row.getDecimal(1).toPlainString}:${names.hashCode.toHexString}"
  }

  // ----------------------------------------------------------------- ingest

  private val statusSchema = StructType(Seq(
    StructField("uuid", StringType), StructField("entity_type", StringType),
    StructField("status", StringType)))

  /** (uuid, entity_type, status) rows as a DataFrame. */
  private def statusRows(spark: SparkSession, rows: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => org.apache.spark.sql.Row(r: _*)): _*), statusSchema)

  private def writeStatus(spark: SparkSession, rows: Seq[Seq[String]], store: String,
                          ts: Long, overwrite: Boolean): Unit =
    appendStatus(StatusMachine.stampEvents(statusRows(spark, rows), ts), store, overwrite)

  private def appendStatus(events: DataFrame, store: String, overwrite: Boolean = false): Unit =
    events.select("uuid", "entity_type", "status", "ts", "seq")
      .write.mode(if (overwrite) "overwrite" else "append").parquet(store)

  /** Runs the request's rounds of ingest operations, each timed once. */
  private def runIngest(spark: SparkSession, req: Map[String, Any],
                        trace: Option[Trace]): Seq[OpRecord] = {
    import spark.implicits._
    val processed = mutable.ArrayBuffer.empty[String]
    timedOps(req).zipWithIndex.map { case (op, i) =>
      val kind = op("op").toString
      val (t0, c0) = (System.nanoTime(), cpuMs())
      val attempt = try Right(timed(trace, i, "execute") {
        ingestOp(spark, op, i + 1L, req("base").toString, req("status_store").toString,
          req("run_dir").toString, processed.toSeq.toDF("run_id"))
      }._1) catch { case e: Throwable => Left(describe(e)) }
      val (latencyMs, cpu) = ((System.nanoTime() - t0) / 1e6, cpuMs() - c0)
      settle(spark, trace)
      attempt match {
        case Right(outcome) =>
          if (kind == "request_ingest" && outcome != "deduplicated") processed += op("run_id").toString
          OpRecord(i, "timed", kind, kind, latencyMs, cpu, 0.0, outcome, None)
        case Left(err) => OpRecord(i, "timed", kind, kind, latencyMs, cpu, 0.0, "error", Some(err))
      }
    }
  }

  /** One ingest operation; returns its outcome in the generator's terms.
    * Status events it causes are appended to `store` at time `ts`.
    */
  private def ingestOp(spark: SparkSession, op: Obj, ts: Long, base: String, store: String,
                       runDir: String, processed: DataFrame): String = {
    import spark.implicits._
    op("op") match {
      case "request_ingest" =>
        val ack = IngestApi.requestIngest(spark, op("run_id").toString, s"$base/${op("dir")}",
          op("dataset_id").toString, processed)
        ack.result match {
          case None => "deduplicated"
          case Some(r) =>
            val (uuid, etype, status) = r.statusEvent
            writeStatus(spark, Seq(Seq(uuid, etype, status)), store, ts, overwrite = false)
            val files = "\"rel_path\":".r.findAllMatchIn(r.envelopeJson).size
            s"${r.collectionType}|${r.workflow}|$status|files=$files"
        }
      case "reorganize" =>
        val dir = s"$base/${op("dir")}"
        val uploadId = op("upload_id").toString
        val freeze = s"$runDir/frozen/$ts-$uploadId"
        IngestApi.reorganize(Readers.tsv(spark, s"$dir/*-metadata.tsv"), uploadId, freeze)
        val frozen = Reorganize.readFrozen(spark, freeze)
        val moves = Reorganize.movePlan(frozen, FileCatalog.scan(spark, dir)).count()
        appendStatus(StatusMachine.stampEvents(Reorganize.statusEvents(frozen, uploadId), ts), store)
        val children = frozen.select("child_id").as[String].collect().sorted
        s"children=${children.mkString(",")}|moves=$moves"
      case "update_status" =>
        val requested = statusRows(spark, op("rows").asInstanceOf[Seq[Seq[String]]])
        val (accepted, rejected) =
          IngestApi.updateStatuses(spark, requested, spark.read.parquet(store))
        val acc = accepted.select("uuid", "entity_type", "status").cache()
        val nAcc = acc.count()
        val nRej = rejected.count()
        appendStatus(StatusMachine.stampEvents(acc, ts), store)
        acc.unpersist()
        s"accepted=$nAcc|rejected=$nRej"
    }
  }

  // ------------------------------------------------------------ fingerprint

  /** Fingerprints each named query as-is (recorded as the expected file) and
    * with one row duplicated (the self-test checks that it no longer matches).
    */
  private def fingerprints(spark: SparkSession, dir: String, ops: Seq[Obj]): Seq[OpRecord] =
    ops.zipWithIndex.flatMap { case (op, i) =>
      val name = op("name").toString
      val df = SparkEntry.queries(name)(spark, dir)
      val plain = fingerprint(df)
      val perturbed = fingerprint(df.union(df.limit(1)))
      Checkpoints.release(spark)
      Seq(OpRecord(2 * i, "check", "query", name, 0.0, 0.0, 0.0, plain, None),
        OpRecord(2 * i + 1, "check", "perturbed", name, 0.0, 0.0, 0.0, perturbed, None))
    }
}
