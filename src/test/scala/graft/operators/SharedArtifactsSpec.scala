package graft.operators

import graft.SparkSpec
import java.nio.file.Files

/** Lifecycle of the shared bucketed graph artifacts: the table name is
  * keyed on corpus CONTENT (file listing paths+sizes+mtimes), so a
  * corpus regenerated in place under the same path rebuilds instead of
  * silently serving stale edges, while an unchanged corpus reuses the
  * already-built table; dropSharedArtifacts clears the warehouse.
  */
class SharedArtifactsSpec extends SparkSpec {

  private def writeLineitem(dir: String, rows: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    rows.toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  test("corpusFingerprint: unchanged dir => same key; rewrite => new key") {
    val dir = Files.createTempDirectory("graft_fp").toString
    writeLineitem(dir, Seq((1L, 10L), (1L, 11L)))
    val f1 = graft.Tables.fingerprint(spark, s"$dir/lineitem.parquet")
    val f2 = graft.Tables.fingerprint(spark, s"$dir/lineitem.parquet")
    assert(f1 == f2, "unchanged content must fingerprint identically")
    writeLineitem(dir, Seq((1L, 10L), (1L, 11L))) // same DATA, new write
    val f3 = graft.Tables.fingerprint(spark, s"$dir/lineitem.parquet")
    assert(f3 != f1, "an in-place rewrite must produce a new fingerprint")
  }

  test("sharedEdges rebuilds on content change, reuses otherwise, drops cleanly") {
    val dir = Files.createTempDirectory("graft_shared").toString
    // corpus v1: order 1 buys parts {10, 11} -> one edge (10, 11)
    writeLineitem(dir, Seq((1L, 10L), (1L, 11L)))
    val v1 = GraphOps.sharedEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(v1 == Set((10L, 11L)))
    // unchanged corpus: second call reuses the same table (no new table)
    val tablesAfterV1 = spark.sessionState.catalog.listTables("default")
      .map(_.table).filter(_.startsWith(GraphOps.EdgeTable)).toSet
    GraphOps.sharedEdges(spark, dir).collect()
    val tablesAfterReuse = spark.sessionState.catalog.listTables("default")
      .map(_.table).filter(_.startsWith(GraphOps.EdgeTable)).toSet
    assert(tablesAfterReuse == tablesAfterV1, "unchanged corpus must reuse")
    // corpus v2 regenerated IN PLACE under the same path: different edges
    writeLineitem(dir, Seq((1L, 20L), (1L, 21L), (1L, 22L)))
    val v2 = GraphOps.sharedEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(v2 == Set((20L, 21L), (20L, 22L), (21L, 22L)),
      "regenerated corpus must serve fresh edges, not the stale table")
    // cleanup drops every shared artifact from the warehouse
    GraphOps.dropSharedArtifacts(spark)
    val left = spark.sessionState.catalog.listTables("default").map(_.table)
      .filter(t => t.startsWith(GraphOps.EdgeTable) ||
                   t.startsWith(GraphOps.LpLabelTable))
    assert(left.isEmpty, s"dropSharedArtifacts must clear the warehouse: $left")
    // and consumers rebuild on next use
    val again = GraphOps.sharedEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == v2)
  }
}
