package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

import graft.{SparkSpec, Tables}
import graft.operators.{Dedup, GraphOps}

/** [[Bucketing.shared]]: the session catalog is the memo of the shared
  * bucketed artifacts, one lock serializes their builds, and
  * [[Bucketing.dropSharedArtifacts]] removes only what the helper wrote.
  * Tiny scratch tables only.
  */
class SharedTablesSpec extends SparkSpec {
  import spark.implicits._

  /** A scratch lineitem whose co-purchase edges are (10,11), (11,12). */
  private def lineitemDir(): String = {
    val dir = Files.createTempDirectory("graft_shared_tables").toString
    Seq((1L, 10L), (1L, 11L), (2L, 11L), (2L, 12L)).toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  private def edgeTable(dir: String): String =
    GraphOps.EdgeTable + "_" + Tables.fingerprint(spark, s"$dir/lineitem.parquet")

  private def edges(dir: String): Set[(Long, Long)] =
    GraphOps.sharedEdges(spark, dir).as[(Long, Long)].collect().toSet

  test("sharedEdges rebuilds after an outside DROP TABLE and serves the same rows") {
    val dir = lineitemDir()
    val first = edges(dir)
    assert(first == Set((10L, 11L), (11L, 12L)))
    spark.sql(s"DROP TABLE `${edgeTable(dir)}`")
    assert(edges(dir) == first)
    assert(spark.catalog.tableExists(edgeTable(dir)))
  }

  test("two threads on a fresh fingerprint build one table and read equal rows") {
    val dir = lineitemDir()
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val got = try {
      val futures = (1 to 2).map(_ => pool.submit(new Callable[Set[(Long, Long)]] {
        def call(): Set[(Long, Long)] = { start.await(); edges(dir) }
      }))
      start.countDown()
      futures.map(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(got(0) == got(1) && got(0) == Set((10L, 11L), (11L, 12L)))
    val built = spark.sessionState.catalog.listTables("default").map(_.table)
      .filter(_.startsWith(edgeTable(dir)))
    assert(built == Seq(edgeTable(dir)))
  }

  test("dropSharedArtifacts drops every shared table and keeps the dedup index") {
    val dir = lineitemDir()
    edges(dir)
    Dedup.writeDedupIndex(Seq((1L, "a b c")).toDF("doc_id", "text"), "graft_dedup_index")
    try {
      Bucketing.dropSharedArtifacts(spark)
      val left = spark.sessionState.catalog.listTables("default").map(_.table)
      assert(!left.exists(_.startsWith(GraphOps.EdgeTable)), s"shared tables left: $left")
      assert(left.contains("graft_dedup_index"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_dedup_index")
  }

  test("operators take no checkpointDir; writeBucketed is called only by writeDedupIndex") {
    val operatorFiles = Files.list(Paths.get("src/main/scala/graft/operators"))
      .iterator().asScala.map(_.getFileName.toString).toSet
    val operators = mainSources.filter { case (f, _) => operatorFiles(f) }
    assert(operators.size == operatorFiles.size)
    val withDir = operators.collect { case (f, code) if code.contains("checkpointDir") => f }
    assert(withDir.isEmpty, s"checkpointDir in $withDir")
    val writers = for {
      (f, code) <- mainSources if f != "Bucketing.scala"
      m <- "Bucketing\\.writeBucketed\\(".r.findAllMatchIn(code)
    } yield f -> "def (\\w+)".r.findAllMatchIn(code.take(m.start)).toSeq.last.group(1)
    assert(writers == Seq("Dedup.scala" -> "writeDedupIndex"))
  }
}
