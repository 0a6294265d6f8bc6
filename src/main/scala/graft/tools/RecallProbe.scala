package graft.tools

import graft.Bench.fmt

/** Builder-side RECALL-EVIDENCE probe (r12 verdict item 2): the IVF
  * autosize law (kc = ⌈√n⌉, `Autosize.ivfCellsLaw`) is recall-proven on
  * a PLANTED corpus where 1.0 is derivable (AutosizeSpec); on organic
  * data, nprobe < kc is a recall trade the operators merely report per
  * query. This probe makes that trade a per-round recorded number on
  * the actual scale corpora: it runs q267 (IVF) and q295 (IVF-PQ)
  * recall-vs-brute under the PRODUCTION config (autosize on ⇒ the
  * derived kc), plus an nprobe sweep at the derived kc, and persists
  * one JSON artifact per corpus. Wired as a standing stage in
  * tools/bench_runs.sh; the numbers land in the round's SLOPE
  * artifacts and SCALE.md.
  *
  * NOT part of the shipped library — measurement tooling only.
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_RECALL_OUT", "target/recall.json")
    val spark = graft.GraftSession.local()
    // the probe measures the PRODUCTION config unless told otherwise
    spark.conf.set(graft.plans.Autosize.Key,
      sys.env.getOrElse("SPARK_GRAFT_AUTOSIZE", "true"))
    val emb = graft.Tables(spark, sfDir).embeddings
    val n = emb.count()
    val kc = graft.plans.Autosize.ivfConf(spark, sfDir)

    def stats(vals: Seq[Double]): (Double, Double) =
      if (vals.isEmpty) (-1.0, -1.0)
      else (vals.sum / vals.size, vals.min)

    // q267/q295 exactly as registered (derived kc, pinned nprobe=2)
    val perQuery = Seq("q267_ivf_recall", "q295_ivfpq_recall").map { name =>
      var recalls = Seq.empty[Double]
      val run = graft.Recorder.record(spark) {
        recalls = graft.SparkEntry.queries(name)(spark, sfDir)
          .select("recall").collect().map(_.getDouble(0)).toSeq
      }
      run.failure.foreach(throw _)
      val (mean, min) = stats(recalls)
      System.err.println(f"[recall] $name kc=$kc mean=$mean%.4f min=$min%.4f " +
        f"(${run.wallS}%.1f s, ${run.jobs.size} jobs, ${run.compiles} codegen compiles)")
      s""""$name":{"kc":$kc,"n_queries":${recalls.size},"mean":${fmt(mean)},"min":${fmt(min)},""" +
        s""""jobs":${run.jobs.size},"codegen_compiles":${run.compiles}}"""
    }
    // nprobe curve at the derived kc (IVF path — the law's recall cost
    // as a function of probe width, the SCALE.md row's source)
    val curve = Seq(1, 2, 4, 8, 16).filter(_ <= kc).map { np =>
      val recalls = graft.operators.Clustering
        .ivfRecall(emb, k = kc, topK = 10, nprobe = np, nQueries = 20)
        .select("recall").collect().map(_.getDouble(0)).toSeq
      val (mean, min) = stats(recalls)
      System.err.println(f"[recall] ivf nprobe=$np kc=$kc mean=$mean%.4f min=$min%.4f")
      s"""{"nprobe":$np,"mean":${fmt(mean)},"min":${fmt(min)}}"""
    }
    val json = s"""{"sf":"$sfDir","n_vectors":$n,"kc":$kc,""" +
      s""""queries":{${perQuery.mkString(",")}},""" +
      s""""nprobe_curve":[${curve.mkString(",")}]}"""
    println(json)
    val p = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
    spark.stop()
  }
}
