package graft.operators

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** r14 optimization internals: the weighted co-purchase edge artifact
  * (q224) must carry exactly the order-keyed self-join's co-counts, and
  * the shared PPJoin truth artifact (q216/q326) must serve the same
  * pairs as the inline evaluation, rebuild on content change, and drop
  * cleanly.
  */
class SharedTruthWeightedEdgesSpec extends SparkSpec {
  import spark.implicits._

  test("weightedCopurchaseEdges equals the order-keyed self-join co-counts") {
    // orders: {1,2}, {1,2,3}, {2,3}, {4} → (1,2)x2, (1,3)x1, (2,3)x2
    val li = Seq(
      (1L, 1L), (1L, 2L),
      (2L, 1L), (2L, 2L), (2L, 3L),
      (3L, 2L), (3L, 3L),
      (4L, 4L),
      (2L, 3L), // duplicate line item: collect_set must not double-count
    ).toDF("l_orderkey", "l_partkey")
    val got = GraphOps.weightedCopurchaseEdges(li)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 2L)))
    // and the self-join definition agrees (the q224 oracle's `co` CTE)
    val items = li.select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
    val naive = items.as("a")
      .join(items.as("b"), $"a.o" === $"b.o" && $"a.p" < $"b.p")
      .groupBy($"a.p".as("u"), $"b.p".as("v")).agg(count(lit(1)).as("cnt"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == naive)
  }

  test("cheapestPaths: supplied weighted edges reproduce the inline build") {
    val liP = Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
      (3L, 2L), (3L, 3L), (4L, 1L), (4L, 4L))
      .toDF("l_orderkey", "l_partkey")
    val inline = GraphOps.cheapestPaths(liP).as[(Long, Long)].collect().toSeq
    val viaEdges = GraphOps.cheapestPaths(liP,
      weightedEdges = Some(GraphOps.weightedCopurchaseEdges(liP)))
      .as[(Long, Long)].collect().toSeq
    assert(viaEdges == inline)
    assert(inline == Seq((1L, 0L), (2L, 500000L), (4L, 1000000L), (3L, 1500000L)))
  }

  test("cheapestPaths seed: a part seen only in single-item orders still seeds at dist 0") {
    // part 1 (the global min) never co-occurs — the weighted edge table
    // does not contain it, but the lineitem-derived seed must
    val li = Seq((1L, 1L), (2L, 5L), (2L, 6L)).toDF("l_orderkey", "l_partkey")
    val got = GraphOps.cheapestPaths(li,
      weightedEdges = Some(GraphOps.weightedCopurchaseEdges(li)))
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L)))
  }

  test("sharedPpjoinTruth: serves ppjoinExact's rows, reuses, rebuilds on change, drops") {
    val dir = Files.createTempDirectory("graft_truth").toString
    def writeDocs(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeDocs(Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "a b c d e zz"), (4L, "completely different words here")))
    val direct = Dedup.ppjoinExact(graft.Tables(spark, dir).documents)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val shared = Dedup.sharedPpjoinTruth(spark, dir)
      .orderBy("left_id", "right_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(shared == direct && shared == Seq((1L, 2L, 4L, 1.0)))
    // unchanged corpus: second call reuses (no new table)
    val t1 = spark.sessionState.catalog.listTables("default").map(_.table)
      .filter(_.startsWith(Dedup.PpjoinTruthTable)).toSet
    Dedup.sharedPpjoinTruth(spark, dir).collect()
    val t2 = spark.sessionState.catalog.listTables("default").map(_.table)
      .filter(_.startsWith(Dedup.PpjoinTruthTable)).toSet
    assert(t2 == t1, "unchanged corpus must reuse the truth table")
    // blockingQuality fed the shared truth equals the inline path
    val docs = graft.Tables(spark, dir).documents
    val inlineBq = Dedup.blockingQuality(docs).collect().map(_.toSeq).toSeq
    val sharedBq = Dedup.blockingQuality(docs,
      truthPairs = Some(Dedup.sharedPpjoinTruth(spark, dir)))
      .collect().map(_.toSeq).toSeq
    assert(sharedBq == inlineBq)
    // regenerated corpus in place → fresh truth, not the stale table
    writeDocs(Seq((7L, "x y z w v u"), (8L, "x y z w v u")))
    val fresh = Dedup.sharedPpjoinTruth(spark, dir)
      .select("left_id", "right_id").as[(Long, Long)].collect().toSet
    assert(fresh == Set((7L, 8L)))
    // cleanup clears the warehouse; consumers rebuild on next use
    graft.sources.Bucketing.dropSharedArtifacts(spark)
    val left = spark.sessionState.catalog.listTables("default").map(_.table)
      .filter(_.startsWith(Dedup.PpjoinTruthTable))
    assert(left.isEmpty, s"dropSharedArtifacts must clear the warehouse: $left")
    assert(Dedup.sharedPpjoinTruth(spark, dir).count() == 1)
  }
}
