package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Job-level time attribution for one query — the diagnosis step the
  * optimization guide's §1 loop needs when a query is MANY jobs (eager
  * lineage cuts, counts, broadcast builds) and a single wall number
  * can't say which one burns the time. Prints every Spark job of the
  * final iteration with its duration and call site.
  *
  * Usage: runMain graft.tools.ProfileJobs <sfDir> <queryName> [iters]
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val iters = args.drop(2).flatMap(_.toIntOption).headOption.getOrElse(2)
    val spark = graft.GraftSession.local()
    sys.env.get("SPARK_GRAFT_AUTOSIZE")
      .foreach(v => spark.conf.set(graft.plans.Autosize.Key, v))

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val site = js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n'))
          .getOrElse("?")
        starts.put(js.jobId, (js.time, site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
          rows.add((je.jobId, (je.time - t0) / 1000.0, site))
        }
      }
    })

    val fn = graft.SparkEntry.queries(name)
    graft.Bench.warmUp(spark, sfDir)
    // optional contamination rig: run a list of OTHER queries first (the
    // bench-order prefix) so the profiled query sees the same in-process
    // state it sees mid-bench — the tool that separates "this query is
    // slow" from "this query is slow AFTER 200 queries ran"
    sys.env.get("PROFILE_WARMUP").foreach { lst =>
      lst.split("\\s+").filter(_.nonEmpty).foreach { w =>
        try {
          graft.Bench.runFullPlan(graft.SparkEntry.queries(w)(spark, sfDir))
          graft.plans.Checkpoints.release(spark)
        } catch { case e: Throwable =>
          System.err.println(s"[profilejobs] warmup $w failed: ${e.getMessage}")
        }
      }
      System.err.println(s"[profilejobs] warmup done")
    }
    (1 to iters).foreach { i =>
      graft.plans.Checkpoints.release(spark)
      rows.clear()
      val t0 = System.nanoTime()
      graft.Bench.runFullPlan(fn(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      // drain the listener bus deterministically: poll until the row
      // count is stable for 500 ms (a fixed sleep under-attributes
      // late JobEnd events on a loaded box), capped at 5 s
      var stableSince = System.nanoTime(); var lastN = rows.size
      while ((System.nanoTime() - stableSince) < 500e6.toLong &&
             (System.nanoTime() - t0) / 1e9 < wall + 5.0) {
        Thread.sleep(50)
        if (rows.size != lastN) { lastN = rows.size; stableSince = System.nanoTime() }
      }
      println(f"[profilejobs] $name iter $i wall $wall%.3f s, ${rows.size} jobs")
      if (i == iters) {
        import scala.jdk.CollectionConverters._
        val all = rows.asScala.toSeq.sortBy(_._1)
        all.foreach { case (id, d, site) =>
          println(f"[profilejobs]   job $id%4d  $d%7.3f s  $site")
        }
        val bySite = all.groupBy(_._3).map { case (s, xs) =>
          (s, xs.map(_._2).sum, xs.size) }.toSeq.sortBy(-_._2)
        println("[profilejobs] --- by call site ---")
        bySite.foreach { case (s, d, n) =>
          println(f"[profilejobs]   $d%7.3f s  ($n%3d jobs)  $s")
        }
      }
    }
    spark.stop()
  }
}
