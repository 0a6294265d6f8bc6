package graft
import org.apache.spark.metrics.source.CodegenMetrics
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
    val history: Map[String, Double] = try {
      val f = java.nio.file.Paths.get(benchOut)
      if (java.nio.file.Files.exists(f)) {
        val txt = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        "\"([A-Za-z0-9_]+)\":(-?[0-9][0-9.eE+-]*)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } else Map.empty
    } catch { case _: Throwable => Map.empty }
    // every attempt is recorded (per-query), so the persisted artifact can
    // report {attempts, min, median} instead of one ambiguous number — the
    // round-9 lesson: two full runs 446 s vs 371 s apart on ambient load
    // are indistinguishable unless the artifact carries the attempt set
    val attemptLog = scala.collection.mutable.Map.empty[String, List[Double]]
    // classes each attempt compiled (Spark's JVM-global CodegenMetrics
    // delta): nonzero on a re-timed attempt means the codegen cache
    // evicted the query's classes in between
    val compileLog = scala.collection.mutable.Map.empty[String, List[Long]]
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def loadavg(): String =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim
          .split(" ").take(3).mkString(" ")
      catch { case _: Throwable => "" }
    val loadSamples = scala.collection.mutable.ArrayBuffer(loadavg())
    // optional per-query wall-clock cap (seconds): a scale-hunt run sets it
    // so ONE wedged query (e.g. a quadratic bucket at 10x data) records a
    // named sentinel and the sweep continues, instead of anonymously
    // wedging the whole run. Unset (the driver's mode) = no cap.
    val timeoutSec = sys.env.get("SPARK_GRAFT_TIMEOUT_SEC").map(_.toLong)
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val c0 = compiles()
      // a failed query must NOT masquerade as a fast one: record a
      // negative sentinel and keep it out of the total (named on stderr
      // so a scale sweep's failures are diagnosable from the log). The
      // sentinel distinguishes WHY: -1 = wall-clock TIMEOUT under a
      // capped sweep (worth one retry — ambient load can wedge a single
      // attempt), -2 = a thrown exception (deterministic failure; a
      // retry would just burn a second full timeout budget per query)
      val Timeout = -1.0; val Failed = -2.0
      val sentinel =
        try {
          timeoutSec match {
            case None => Bench.runFullPlan(fn(spark, sfDir)); 0.0
            case Some(cap) =>
              import scala.concurrent.{Await, Future}
              import scala.concurrent.duration._
              import scala.concurrent.ExecutionContext.Implicits.global
              val f = Future { Bench.runFullPlan(fn(spark, sfDir)) }
              try { Await.result(f, cap.seconds); 0.0 }
              catch { case _: java.util.concurrent.TimeoutException =>
                System.err.println(s"[bench] $name TIMEOUT after ${cap}s — cancelling jobs")
                spark.sparkContext.cancelAllJobs()
                try Await.result(f, 60.seconds) catch { case _: Throwable => () }
                Timeout
              }
          }
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).linesIterator.take(2).mkString(" | "))
          Failed
        }
      // drain graft-pinned storage between queries so pinned blocks from
      // one query can't squeeze the next one's execution memory
      graft.plans.Checkpoints.release(spark)
      val t = if (sentinel == 0.0) (System.nanoTime() - t0) / 1e9 else sentinel
      // ...and give the ContextCleaner its GC edge OUTSIDE the timed
      // window: dead broadcasts/shuffles from query k must not be the
      // memory/disk pressure query k+1 is timed under (each query then
      // measures ITS OWN work — the methodology fix behind the r13
      // in-run inflation; see the periodicGC comment in GraftSession.local)
      System.gc()
      attemptLog(name) = attemptLog.getOrElse(name, Nil) :+ t
      compileLog(name) = compileLog.getOrElse(name, Nil) :+ (compiles() - c0)
      System.err.println(f"[bench] $name ${t}%.2f s")
      t
    }
    // optional args: query-name filter for fast local iteration (the
    // driver passes none → full set; bench_full.json is only written on
    // full runs so a scoped run can't clobber the noise-guard history —
    // UNLESS the caller pointed SPARK_GRAFT_BENCH_OUT at its own path,
    // which is how the standing 30× structural-subset sweep persists
    // its artifact without touching any full-run history)
    val only = args.toSet
    val persistArtifacts = only.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_OUT")
    val firstPass = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy(_._1).map { case (name, fn) =>
      (name, fn, timeOne(name, fn))
    }
    // Noise guard: a one-process bench on a shared driver host sees
    // ambient-load spikes that read as phantom regressions (r6: q94;
    // r7: q78-q84; r8: q142 inflated even through min-of-2 because the
    // whole machine was loaded for both consecutive timings). Staged
    // re-timing, each stage a FULL pass over the remaining suspects so
    // wall-clock separates the attempts and the load has time to move:
    //   pass 2: every query that is slow in absolute terms (> 2 s) or
    //           reads as a 3x regression vs its own history — min-of-2;
    //   pass 3: only queries whose min-of-2 STILL reads as a 3x
    //           regression vs history — min-of-3, logged to stderr so a
    //           surviving outlier is visibly a re-measured one.
    // min-of-k cannot overstate a true regression: genuinely slow code
    // is slow every time.
    // a FAILED attempt returns the -1 sentinel and must never replace a
    // valid time in EITHER direction — min-of-k only over successful
    // timings (the old guard kept a first-attempt -1 through min(),
    // masking a successful retry as a sentinel)
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
      // a capped-run TIMEOUT (the -1 sentinel) gets one retry too: an
      // ambient-wedged first attempt otherwise records a permanent
      // sentinel that a clean second attempt would clear. A -2 (thrown
      // exception) does NOT retry: deterministic failures fail again and
      // would burn a second full timeout budget per erroring query
      val suspect = (t > 0 &&
        (t > retimeSec || mediaFamily(name) ||
          history.get(name).exists(h => h > 0 && t > 3.0 * h))) ||
        (t == -1.0 && timeoutSec.isDefined)
      (name, fn, if (suspect) minOk(t, timeOne(name, fn)) else t)
    }
    val results = afterPass2.map { case (name, fn, t) =>
      val stillSuspect = t > 0 &&
        history.get(name).exists(h => h > 0 && t > 3.0 * h)
      name -> (if (stillSuspect) {
        val t3 = minOk(t, timeOne(name, fn))
        System.err.println(
          f"[bench] $name min-of-3 $t3%.2fs (history ${history(name)}%.2fs)")
        t3
      } else t)
    }
    loadSamples += loadavg()
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","methodology":"noop-sink full-plan execution; r1 used count(), which let Catalyst prune unaggregated projections"}"""
    println(json)
    // the one-line stdout contract stands, but a 146-query map exceeds
    // some log-tail captures — persist the same line to a file so
    // per-query history survives stdout truncation
    if (persistArtifacts) try {
      val out = java.nio.file.Paths.get(benchOut)
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, json.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] WARNING could not write $benchOut: ${e.getMessage}")
    }
    // richer sibling artifact (separate file so the history regex above
    // and the driver's one-line parse never see nested objects): every
    // attempt per query (its time and `codegen_compiles`) plus
    // {attempts, min, median} and the host's
    // loadavg at start/end — the provenance that makes two diverging
    // full runs adjudicable from the artifacts alone
    try {
      def d(v: Double) = if (v.isNaN) "-1" else fmt(v)
      val detail = results.map { case (name, reported) =>
        val all = attemptLog.getOrElse(name, Nil)
        val ok = all.filter(_ >= 0).sorted
        val med = if (ok.isEmpty) -1.0
          else if (ok.size % 2 == 1) ok(ok.size / 2)
          else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2
        s"""\"$name\":{"attempts":${all.size},"times":[${all.map(d).mkString(",")}],""" +
          s""""codegen_compiles":[${compileLog.getOrElse(name, Nil).mkString(",")}],""" +
          s""""min":${d(if (ok.isEmpty) -1.0 else ok.head)},"median":${d(med)},""" +
          s""""reported":${d(reported)}}"""
      }.mkString("{", ",", "}")
      val dj = s"""{"sf":"$sfDir","loadavg_start":"${loadSamples.head}","loadavg_end":"${loadSamples.last}","total_reported":${fmt(total)},"queries":$detail}"""
      val outName =
        if (persistArtifacts) benchOut.stripSuffix(".json") + "_detail.json"
        else "target/bench_detail_scoped.json"
      val out = java.nio.file.Paths.get(outName)
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, dj.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] WARNING could not write bench detail: ${e.getMessage}")
    }
    spark.stop()
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
