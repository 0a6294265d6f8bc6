package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeoutException

import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.SparkSession
object Bench {
  /** Shared measurement methodology for Bench and Profile: execute the
    * FULL plan via the noop sink — count() would let the optimizer prune
    * expensive projections that nothing aggregates over (e.g. a checksum
    * column followed only by orderBy), silently benchmarking a row count
    * instead of the query.
    */
  def runFullPlan(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // builder-side scale sweeps measure the PRODUCTION config
    // (spark.graft.autosize=true) without editing code; the driver's
    // rounds set nothing, so its numbers stay on the oracle defaults
    sys.env.get("SPARK_GRAFT_AUTOSIZE")
      .foreach(v => spark.conf.set(graft.plans.Autosize.Key, v))
    warmUp(spark, sfDir)
    // artifact path is per-SF-overridable (SPARK_GRAFT_BENCH_OUT): a
    // scale-slope run at a different SF must keep its own history file —
    // writing sf1 numbers over the sf0.1 history would both corrupt the
    // noise guard's thresholds and erase the slope baseline
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_full.json")
    // absolute slow-query re-time threshold (seconds): 2 s fits sf0.1;
    // a 10x-data run sets it higher so min-of-2 doesn't double the
    // whole run's wall-clock just because everything is honestly slower
    val retimeSec = sys.env.get("SPARK_GRAFT_RETIME_SEC").map(_.toDouble).getOrElse(2.0)
    // last run's per-query history (the file about to be overwritten) —
    // used below to spot ambient-load outliers worth re-timing
    val history: Map[String, Double] = Try {
      "\"([A-Za-z0-9_]+)\":(-?[0-9][0-9.eE+-]*)".r
        .findAllMatchIn(new String(Files.readAllBytes(Paths.get(benchOut)), "UTF-8"))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }.getOrElse(Map.empty)
    // every attempt per query: two full runs 446 s vs 371 s apart on
    // ambient load are indistinguishable unless the artifact carries them
    val attemptLog = scala.collection.mutable.Map.empty[String, List[Attempt]]
    def loadavg(): String = Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split(" ").take(3).mkString(" ")).getOrElse("")
    val loadStart = loadavg()
    // optional per-query wall-clock cap (seconds): a scale-hunt run sets it
    // so ONE wedged query (e.g. a quadratic bucket at 10x data) records a
    // named sentinel and the sweep continues, instead of anonymously
    // wedging the whole run. Unset (the driver's mode) = no cap.
    val timeoutSec = sys.env.get("SPARK_GRAFT_TIMEOUT_SEC").map(_.toLong)
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val a = attempt(spark, name, timeoutSec)(fn(spark, sfDir))
      attemptLog(name) = attemptLog.getOrElse(name, Nil) :+ a
      a.t
    }
    // optional args: query-name filter for fast local iteration. A scoped
    // run writes bench_full.json only when SPARK_GRAFT_BENCH_OUT points at
    // its own path, so it can't clobber the full run's noise-guard history
    val only = args.toSet
    val persistArtifacts = only.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_OUT")
    val firstPass = SparkEntry.queries.toSeq.filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy(_._1).map { case (name, fn) => (name, fn, timeOne(name, fn)) }
    // Noise guard: a one-process bench on a shared host sees ambient-load
    // spikes that read as phantom regressions (r6: q94; r8: q142 inflated
    // even through min-of-2). Staged re-timing, each stage a FULL pass over
    // the remaining suspects so the load has time to move:
    //   pass 2: every query slow in absolute terms (> retimeSec) or reading
    //           as a 3x regression vs its own history — min-of-2;
    //   pass 3: queries whose min-of-2 STILL reads as a 3x regression —
    //           min-of-3, logged to stderr.
    // min-of-k cannot overstate a true regression: slow code is slow every
    // time. A failed attempt's sentinel never replaces a valid time in
    // EITHER direction: min-of-k runs only over successful timings.
    def minOk(a: Double, b: Double): Double =
      if (a > 0 && b > 0) math.min(a, b) else if (b > 0) b else a
    // codec-family queries (ImageIO / javax.sound decode in the hot
    // path) post up to 2× run-to-run JIT/codec noise BELOW the absolute
    // re-time threshold (r10: q54 1.53 s vs min-of-4 0.672 s) — always
    // give them a second attempt so the reported number is a min-of-2
    val mediaFamily = Set("q54_media_meta", "q68_media_resize",
      "q97_image_ahash", "q103_audio_frames", "q287_image_dhash",
      "q304_audio_zcr", "q321_image_whash")
    val afterPass2 = firstPass.map { case (name, fn, t) =>
      // a capped-run TIMEOUT (-1) gets one retry too: ambient load can
      // wedge one attempt. A thrown exception (-2) does NOT: it fails again
      val suspect = (t > 0 &&
        (t > retimeSec || mediaFamily(name) ||
          history.get(name).exists(h => h > 0 && t > 3.0 * h))) ||
        (t == -1.0 && timeoutSec.isDefined)
      (name, fn, if (suspect) minOk(t, timeOne(name, fn)) else t)
    }
    val results = afterPass2.map { case (name, fn, t) =>
      val stillSuspect = t > 0 && history.get(name).exists(h => h > 0 && t > 3.0 * h)
      name -> (if (!stillSuspect) t else {
        val t3 = minOk(t, timeOne(name, fn))
        System.err.println(f"[bench] $name min-of-3 $t3%.2fs (history ${history(name)}%.2fs)")
        t3
      })
    }
    val qs = results.map { case (k, v) => s"\"$k\":${fmt(v)}" }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","methodology":"noop-sink full-plan execution; r1 used count(), which let Catalyst prune unaggregated projections"}"""
    println(json)
    def write(path: String, text: String): Unit = try {
      Files.createDirectories(Paths.get(path).getParent)
      Files.write(Paths.get(path), text.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] WARNING could not write $path: ${e.getMessage}")
    }
    // the one-line stdout contract stands, but a 146-query map exceeds
    // some log-tail captures — persist the same line to a file so
    // per-query history survives stdout truncation
    if (persistArtifacts) write(benchOut, json)
    // richer sibling artifact (a separate file, so the history regex and
    // a one-line parse of stdout never see nested objects): every attempt
    // per query and the host's loadavg at start and end
    val detail = results.map { case (name, reported) =>
      s"\"$name\":" + detailOf(attemptLog.getOrElse(name, Nil), reported)
    }.mkString("{", ",", "}")
    write(if (persistArtifacts) benchOut.stripSuffix(".json") + "_detail.json"
      else "target/bench_detail_scoped.json",
      s"""{"sf":"$sfDir","loadavg_start":"$loadStart","loadavg_end":"${loadavg()}","total_reported":${fmt(total)},"queries":$detail}""")
    spark.stop()
  }

  /** One timed attempt: its seconds, or a sentinel, and its recording. */
  final case class Attempt(t: Double, run: Recorder.Run)

  /** Times one attempt of `query` through [[Recorder.step]] with the noop
    * sink. A failed query must NOT masquerade as a fast one: it records a
    * sentinel, kept out of the total and named on stderr: -1 = TIMEOUT
    * under a capped sweep, -2 = a thrown exception.
    */
  private[graft] def attempt(spark: SparkSession, name: String, timeoutSec: Option[Long])(
      query: => org.apache.spark.sql.DataFrame): Attempt = {
    val run = Recorder.step(spark, timeoutSec.map(_.seconds))(runFullPlan(query))
    val t = run.failure match {
      case None => run.wallS
      case Some(_: TimeoutException) if timeoutSec.isDefined =>
        System.err.println(s"[bench] $name TIMEOUT after ${timeoutSec.get}s — jobs cancelled")
        -1.0
      case Some(e) =>
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.take(2).mkString(" | "))
        -2.0
    }
    System.err.println(f"[bench] $name ${t}%.2f s")
    Attempt(t, run)
  }

  /** A query's detail-JSON object: per attempt its time, `codegen_compiles`
    * (nonzero on a re-timed attempt: the codegen cache evicted the query's
    * classes in between), `jobs` and, when one failed, `errors` (class and
    * first message line, null for a clean attempt); then {attempts, min,
    * median, reported}.
    */
  private[graft] def detailOf(all: Seq[Attempt], reported: Double): String = {
    val ok = all.map(_.t).filter(_ >= 0).sorted
    val med = if (ok.isEmpty) -1.0
      else if (ok.size % 2 == 1) ok(ok.size / 2)
      else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2
    val errors = all.map(_.run.failure.map(e => graft.sources.SimpleYaml.jsonString(
      s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}")))
    s"""{"attempts":${all.size},"times":[${all.map(a => fmt(a.t)).mkString(",")}],""" +
      s""""codegen_compiles":[${all.map(_.run.compiles).mkString(",")}],""" +
      s""""jobs":[${all.map(_.run.jobs.size).mkString(",")}],""" +
      (if (errors.exists(_.isDefined)) s""""errors":[${errors.map(_.getOrElse("null")).mkString(",")}],""" else "") +
      s""""min":${fmt(ok.headOption.getOrElse(-1.0))},"median":${fmt(med)},""" +
      s""""reported":${fmt(reported)}}"""
  }

  /** Warm up the session (codegen, shuffle machinery, the noop write
    * path) and every table's scan path (parquet footers, file listing,
    * page cache, and the table's [[Tables]] catalog entry, so its one
    * schema inference lands here) so the first query touching a table
    * doesn't absorb its one-time setup cost — per-query numbers then
    * measure the query, not filesystem metadata. Bench and Profile both
    * run it, so their numbers are comparable.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
      // per-table try: one unreadable table must not abort the rest of
      // the warm-up (that would silently re-attribute its setup cost to
      // the first query touching the later tables)
      try {
        val p = s"$sfDir/$t.parquet"
        if (new java.io.File(p).exists()) Tables.read(spark, p).count()
      } catch { case _: Throwable => () }
    }
    try SparkEntry.queries.headOption.foreach(q => runFullPlan(q._2(spark, sfDir)))
    catch { case _: Throwable => () }
  }

  /** Seconds (and other JSON numbers) at 4 decimals: 0.1 ms is far below
    * run-to-run noise, and the ~1.7 KB it shaves off the one-line JSON
    * keeps a log-tail capture from truncating it mid-object. Locale.ROOT:
    * a de_DE default locale would print 1,2345 and break the JSON.
    */
  def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.4f", v)
}
