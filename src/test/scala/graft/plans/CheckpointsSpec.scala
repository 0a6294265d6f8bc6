package graft.plans

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Contract of the reliability knob and the storage-release API
  * (round-7 verdict items 1-2):
  *   - `spark.graft.checkpointDir` set → `cut(df)` upgrades to the
  *     RELIABLE checkpoint() path (files land under the dir) without any
  *     call-site change;
  *   - conf unset → localCheckpoint, whose pinned blocks (plus every
  *     `pin()`ed cache) drain via `release`, leaving no graft storage
  *     behind after a GraphOps + Clustering + Modeling + EntityGraph
  *     query sequence.
  */
class CheckpointsSpec extends SparkSpec {

  test("conf set: cut(df) takes the reliable checkpoint() path") {
    val dir = Files.createTempDirectory("graft-ckpt").toFile
    spark.conf.set(Checkpoints.DirConf, dir.getAbsolutePath)
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val df = Checkpoints.cut(
        spark.range(100).toDF("x").withColumn("y", col("x") * 2))
      assert(df.agg(sum("y")).head().getLong(0) == 9900L)
      // reliable checkpoint writes rdd-* files under the dir ...
      def walk(f: java.io.File): Seq[java.io.File] =
        Seq(f) ++ Option(f.listFiles()).getOrElse(Array.empty).flatMap(walk)
      assert(walk(dir).exists(_.getName.startsWith("rdd-")),
        s"no rdd-* checkpoint data under $dir")
      // ... and pins nothing in executor storage (nothing for release)
      assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(before))
    } finally {
      spark.conf.unset(Checkpoints.DirConf)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  test("conf unset: cut pins local blocks; release drains them") {
    Checkpoints.release(spark) // start from a drained registry
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = Checkpoints.cut(spark.range(1000).toDF("x"))
    assert(df.count() == 1000L)
    val pinned = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(pinned.nonEmpty, "localCheckpoint should pin blocks")
    Checkpoints.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(pinned).isEmpty,
      "release must unpersist cut-pinned RDDs")
  }

  test("pin registers a cached Dataset; release unpersists it") {
    val ds = Checkpoints.pin(spark.range(10).toDF("x"))
    assert(ds.count() == 10L)
    assert(ds.storageLevel.useMemory, "pin must cache")
    Checkpoints.release(spark)
    assert(!ds.storageLevel.useMemory, "release must unpersist pinned caches")
  }

  test("pin leaves a cache it did not create: release keeps the caller's frame cached") {
    import spark.implicits._
    Checkpoints.release(spark)
    val edges = Seq(("a", "b"), ("b", "c")).toDF("child", "parent")
    // the plan transitiveClosure pins as its edge set
    val mine = edges.select(col("child"), col("parent")).distinct().cache()
    try {
      assert(graft.operators.EntityGraph.transitiveClosure(edges).count() == 3L)
      Checkpoints.release(spark)
      assert(mine.storageLevel.useMemory, "release dropped the caller's cache")
    } finally mine.unpersist()
  }

  test("no graft storage survives a GraphOps+Clustering+Modeling+EntityGraph sequence + release") {
    Checkpoints.release(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val t = Tables(spark, sf("x"))
    // iterative operators across the four modules the verdict names
    graft.operators.GraphOps.queries("q143_pagerank")(spark, sf("x")).collect()
    graft.operators.Clustering.queries("q176_kmeans")(spark, sf("x")).collect()
    graft.operators.Modeling.queries("q168_bpe_merges")(spark, sf("x")).collect()
    graft.operators.EntityGraph.queries("q31_ancestry")(spark, sf("x")).collect()
    graft.operators.Ranking.queries("q95_source_kl")(spark, sf("x")).collect()
    Checkpoints.release(spark)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after.subsetOf(before),
      s"leaked persistent RDDs: ${after.diff(before)}")
    assert(t != null)
  }

  test("q67 and q219 lineage cuts drain on release") {
    Checkpoints.release(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (q <- Seq("q67_shard_packing", "q219_hierarchy_rollup"))
      assert(graft.SparkEntry.queries(q)(spark, sf("")).collect().nonEmpty, q)
    Checkpoints.release(spark)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after.subsetOf(before), s"leaked persistent RDDs: ${after.diff(before)}")
  }

  test("cutMeasured observes df.count() on the local, reliable and disabled paths") {
    val narrow = spark.range(1000).toDF("x").filter(col("x") % 3 === 0)
    val shuffled = spark.range(1000).groupBy((col("id") % 7).as("k")).count()
    def check(path: String): Unit = for (df <- Seq(narrow, shuffled)) {
      val (out, stats) = Checkpoints.cutMeasured(df, count(lit(1)), sum(lit(1L)))
      assert(stats.getLong(0) == df.count() && stats.getLong(1) == df.count(), path)
      assert(out.count() == df.count(), path)
    }
    check("local")
    // the observed count rides the cut's job: no job beyond the cut's own
    assert(jobsOf(Checkpoints.cutMeasured(narrow, count(lit(1)))) ==
      jobsOf(Checkpoints.cut(narrow)))
    val dir = Files.createTempDirectory("graft-ckpt").toFile
    spark.conf.set(Checkpoints.DirConf, dir.getAbsolutePath)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
    }
    try check("reliable") finally { spark.conf.unset(Checkpoints.DirConf); rm(dir) }
    spark.conf.set(Checkpoints.DisableConf, "true")
    try check("disabled") finally spark.conf.unset(Checkpoints.DisableConf)
    Checkpoints.release(spark)
  }

  test("drop unpersists one local cut now; release has nothing left of it") {
    Checkpoints.release(spark)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val keep = Checkpoints.cut(spark.range(10).toDF("x"))
    val gone = Checkpoints.cut(spark.range(20).toDF("x"))
    val pinned = sc.getPersistentRDDs.keySet.diff(before)
    assert(pinned.size == 2)
    // a frame's own unpersist is a no-op on a checkpoint's RDD
    gone.select("x").unpersist(blocking = true)
    assert(sc.getPersistentRDDs.keySet.diff(before) == pinned)
    Checkpoints.drop(gone.select("x"))
    assert(sc.getPersistentRDDs.keySet.diff(before).size == 1)
    assert(keep.count() == 10L)
    Checkpoints.release(spark)
    assert(sc.getPersistentRDDs.keySet.diff(before).isEmpty)
  }
}
