package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.plans.Checkpoints

/** Diagnosis harness: time named queries in one JVM and attribute their
  * jobs to call sites. Usage:
  *   runMain graft.Profile <sfDir> <q1,q2,...> [iters] [explain]
  *
  * After Bench's warm-up, each query runs `iters` times (default 3)
  * through [[Bench.runFullPlan]]. Every iteration prints its wall time;
  * the last one also prints its jobs summed by call site (the first
  * line of the job's last stage name), which says which job burns the
  * time in a query of many (eager lineage cuts, counts, broadcast
  * builds). Between iterations it releases pinned cuts and runs a GC,
  * as Bench does between queries, so each iteration measures its own
  * work. `explain` first prints each query's formatted physical plan;
  * an operator with eager cuts runs its prefix while the plan is built,
  * so the plan shown is the segment above the last cut.
  */
object Profile {

  private val DrainKey = "graft.profile.drain"

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    // [iters] and [explain] are independent optional args in any order
    val iters = args.drop(2).flatMap(_.toIntOption).headOption.getOrElse(3)
    val doExplain = args.drop(2).contains("explain")
    val spark = GraftSession.local()
    val sc = spark.sparkContext

    // started jobs by id: (start ms, call site), null site for a drain marker
    val started = new ConcurrentHashMap[Int, (Long, String)]()
    val ended = new ConcurrentLinkedQueue[(String, Double)]()
    val markers = new LinkedBlockingQueue[Int]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val marker = Option(js.properties).exists(_.getProperty(DrainKey) != null)
        val site = js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')).getOrElse("?")
        started.put(js.jobId, (js.time, if (marker) null else site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(started.remove(je.jobId)).foreach {
          case (_, null) => markers.put(je.jobId)
          case (t0, site) => ended.add(site -> (je.time - t0) / 1000.0)
        }
    })
    // jobs ended since the last call: the listener bus delivers events in
    // order, so once a marker job's end arrives every earlier job's has
    def drain(): Seq[(String, Double)] = {
      sc.setLocalProperty(DrainKey, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(DrainKey, null)
      markers.poll(60, TimeUnit.SECONDS)
      Iterator.continually(ended.poll()).takeWhile(_ != null).toSeq
    }

    Bench.warmUp(spark, sfDir)
    names.foreach { name =>
      try {
        val fn = SparkEntry.queries(name)
        if (doExplain) {
          fn(spark, sfDir).explain("formatted")
          Checkpoints.release(spark)
        }
        drain()
        (1 to iters).foreach { i =>
          val t0 = System.nanoTime()
          Bench.runFullPlan(fn(spark, sfDir))
          val wall = (System.nanoTime() - t0) / 1e9
          val jobs = drain()
          Checkpoints.release(spark)
          System.gc()
          println(f"[profile] $name iter $i: $wall%.3f s, ${jobs.size} jobs")
          if (i == iters) jobs.groupBy(_._1).toSeq
            .map { case (site, js) => (site, js.map(_._2).sum, js.size) }
            .sortBy(-_._2)
            .foreach { case (site, s, n) => println(f"[profile]   $s%7.3f s  ($n%3d jobs)  $site") }
        }
      } catch { case e: Throwable =>
        System.err.println(s"[profile] $name FAILED: ${e.getMessage}")
        Checkpoints.release(spark)
      }
    }
    spark.stop()
  }
}
