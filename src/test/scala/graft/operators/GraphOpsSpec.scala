package graft.operators

import graft.SparkSpec

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  /** A known lineitem-shaped graph: order 10 makes K3 on parts {1,2,3}
    * (1 triangle), order 11 repeats edge (1,2) (must dedup), order 12
    * adds the pendant edge (3,4), order 13 makes K4 on {5,6,7,8}
    * (4 triangles). Degrees: 1:2 2:2 3:3 4:1 5..8:3 → 17 wedges.
    */
  private def li = Seq(
    (10L, 1L), (10L, 2L), (10L, 3L),
    (11L, 1L), (11L, 2L),
    (12L, 3L), (12L, 4L),
    (13L, 5L), (13L, 6L), (13L, 7L), (13L, 8L),
  ).toDF("l_orderkey", "l_partkey")

  test("triangleCensus: hand-built graph with dup edges and a pendant") {
    val got = GraphOps.triangleCensus(GraphOps.copurchaseEdges(li))
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((8L, 10L, 17L, 5L, 0.8824)))
  }

  test("triangleCensus matches a naive driver-side count (orientation invariance)") {
    val edges = GraphOps.copurchaseEdges(li).as[(Long, Long)].collect().toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val naive = (for {
      a <- nodes; b <- nodes if a < b && edges((a, b))
      c <- nodes if b < c && edges((b, c)) && edges((a, c))
    } yield 1).size
    val spark_ = GraphOps.triangleCensus(GraphOps.copurchaseEdges(li)).select("n_triangles").as[Long].head()
    assert(spark_ == naive && naive == 5)
  }

  test("copurchaseRank equals an exact driver-side fixed-point reference") {
    val und = GraphOps.copurchaseEdges(li)
    val got = GraphOps.copurchaseRank(und, iters = 3, topN = 100)
      .as[(Long, Long)].collect().toMap

    // independent integer PageRank on the collected edge set
    val pairs = und.as[(Long, Long)].collect().toSeq
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = adj.size
    val base = 150000000000L / n
    var r = adj.keys.map(_ -> 1000000000000L / n).toMap
    for (_ <- 1 to 3) {
      val inc = adj.toSeq.flatMap { case (u, vs) => vs.map(_ -> r(u) / vs.size) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = adj.keys.map(k => k -> (base + 85L * inc.getOrElse(k, 0L) / 100L)).toMap
    }
    assert(got == r)
    // the K4 members out-rank the pendant node
    assert(Seq(5L, 6L, 7L, 8L).map(got).min > got(4L))
  }

  test("reliable checkpointDir path agrees with the localCheckpoint default") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val undirected = GraphOps.copurchaseEdges(li)
    spark.conf.set(graft.plans.Checkpoints.DirConf, dir)
    val (viaReliable, rankReliable) = try {
      (GraphOps.triangleCensus(GraphOps.copurchaseEdges(li))
        .as[(Long, Long, Long, Long, Double)].head(),
       GraphOps.copurchaseRank(undirected).as[(Long, Long)].collect().toMap)
    } finally spark.conf.unset(graft.plans.Checkpoints.DirConf)
    val viaLocal = GraphOps.triangleCensus(GraphOps.copurchaseEdges(li))
      .as[(Long, Long, Long, Long, Double)].head()
    assert(viaReliable == viaLocal)
    val rankLocal = GraphOps.copurchaseRank(undirected).as[(Long, Long)].collect().toMap
    assert(rankReliable == rankLocal)
    // reliable mode actually wrote RDD checkpoints to the requested store
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir)).count() > 0)
  }

  test("closure probe degrades to a shuffled semi-join past broadcastEdgeLimit") {
    val got = GraphOps.triangleCensus(GraphOps.copurchaseEdges(li), broadcastEdgeLimit = 0L)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(got == ((8L, 10L, 17L, 5L, 0.8824)))
  }

  test("forward (edge-iterator) and wedge-join counting paths agree on real data") {
    val real = graft.Tables(spark, sf("")).lineitem
    val fwd = GraphOps.triangleCensus(GraphOps.copurchaseEdges(real)).as[(Long, Long, Long, Long, Double)].head()
    val wedge = GraphOps.triangleCensus(GraphOps.copurchaseEdges(real), broadcastEdgeLimit = 0L)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(fwd == wedge)
    assert(fwd._4 > 0L, "expected triangles in the co-purchase graph")
  }

  test("kCorePeel: chain strips round by round, the clique survives; flag reports fixpoint") {
    // K4 on {5,6,7,8} + path 1-2-3-4 hanging free. 2-core: the path has
    // no cycle, so it peels end-in one node per round; K4 (degree 3) stays.
    val liK = Seq(
      (13L, 5L), (13L, 6L), (13L, 7L), (13L, 8L),       // K4
      (21L, 1L), (21L, 2L), (22L, 2L), (22L, 3L), (23L, 3L), (23L, 4L))
      .toDF("l_orderkey", "l_partkey")
    val done = GraphOps.kCorePeel(GraphOps.copurchaseEdges(liK), k = 2, rounds = 4)
      .as[(Long, Long, Long, Long, Boolean)].head()
    assert(done == ((4L, 6L, 3L, 3L, true)))
    // one round is NOT enough: ends 1 and 4 peel, 2-3 survives at degree 1
    val partial = GraphOps.kCorePeel(GraphOps.copurchaseEdges(liK), k = 2, rounds = 1)
      .as[(Long, Long, Long, Long, Boolean)].head()
    assert(!partial._5 && partial._1 == 6L)
    // k above the max degree empties the graph and still reports converged
    val empty = GraphOps.kCorePeel(GraphOps.copurchaseEdges(liK), k = 10, rounds = 2)
      .as[(Long, Long, Long, Long, Boolean)].head()
    assert(empty == ((0L, 0L, 0L, 0L, true)))
  }

  test("personalizedRank: exact driver-side walk reference; neighbors outrank distant nodes") {
    val got = GraphOps.personalizedRank(GraphOps.copurchaseEdges(li), iters = 3, topN = 100)
      .as[(Long, Long)].collect().toMap
    // driver reference on the collected graph
    val pairs = GraphOps.copurchaseEdges(li).as[(Long, Long)].collect().toSeq
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seedN = adj.keys.min
    var r = Map(seedN -> 1000000000000L)
    for (_ <- 1 to 3) {
      val inc = r.toSeq.flatMap { case (u, m) => adj(u).map(_ -> m / adj(u).size) }
        .groupBy(_._1).view.mapValues(v => 85L * v.map(_._2).sum / 100L).toMap
      r = (inc.keySet + seedN).map(n =>
        n -> (inc.getOrElse(n, 0L) + (if (n == seedN) 150000000000L else 0L))).toMap
    }
    assert(got == (r - seedN))
    // direct neighbors of the seed carry more mass than the K4 (unreachable: 0 rows)
    assert(!got.contains(seedN))
  }

  test("cheapestPaths: hand graph — frequent co-purchase is the cheap road") {
    // co-counts: (1,2)x2 → w=500000; (2,3)x1 → w=1000000; (1,4)x1 → w=1000000
    val liP = Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
      (3L, 2L), (3L, 3L), (4L, 1L), (4L, 4L))
      .toDF("l_orderkey", "l_partkey")
    val got = GraphOps.cheapestPaths(liP).as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L), (2L, 500000L), (4L, 1000000L), (3L, 1500000L)))
  }

  test("hitsAuthorities: two exact integer rounds on a hand-built bipartite graph") {
    // edges after dedup (s2→c1 appears via orders 1 AND 2):
    //   s1→c1, s2→c1, s1→c2, s3→c3
    // a1: c1=2 c2=1 c3=1;  h1: s1=a1(c1)+a1(c2)=3, s2=2, s3=1
    // a2: c1=h1(s1)+h1(s2)=5, c2=3, c3=1
    val liH = Seq((1L, 101L), (1L, 102L), (2L, 102L), (3L, 101L), (4L, 103L))
      .toDF("l_orderkey", "l_suppkey")
    val ords = Seq((1L, 11L), (2L, 11L), (3L, 12L), (4L, 13L))
      .toDF("o_orderkey", "o_custkey")
    val got = GraphOps.hitsAuthorities(liH, ords).as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((11L, 2L, 5L), (12L, 1L, 3L), (13L, 1L, 1L)))
  }

  test("clusteringCoefficients: triangle corners score 1, broker scores 1/3, pendants drop") {
    // order 1 buys parts {1,2,3} → triangle; order 2 buys {1,4} → pendant 4
    val li = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 4L))
      .toDF("l_orderkey", "l_partkey")
    val got = GraphOps.clusteringCoefficients(GraphOps.copurchaseEdges(li))
      .as[(Long, Long, Long, Long)].collect().toSeq
    // node 1: d=3, tri=1 → 2·10⁶/6 = 333333; nodes 2,3: d=2, tri=1 → 10⁶;
    // node 4: d=1 filtered out
    assert(got == Seq(
      (2L, 2L, 1L, 1000000L),
      (3L, 2L, 1L, 1000000L),
      (1L, 3L, 1L, 333333L)))
  }

  test("adamicAdarLinks on a 4-cycle: each seed predicts its diagonal") {
    // baskets 1-2, 2-3, 3-4, 4-1 → cycle; every node is a seed (all deg 2);
    // each seed's only distance-2 partner is its diagonal, via two
    // degree-2 common neighbors → aa = 2·⌊10⁹/ln 2⌋ = 2885390080
    val li = Seq((10L, 1L), (10L, 2L), (11L, 2L), (11L, 3L),
      (12L, 3L), (12L, 4L), (13L, 4L), (13L, 1L))
      .toDF("l_orderkey", "l_partkey")
    val got = GraphOps.adamicAdarLinks(GraphOps.copurchaseEdges(li))
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 3L, 2L, 2885390080L, 1L), (2L, 4L, 2L, 2885390080L, 1L),
      (3L, 1L, 2L, 2885390080L, 1L), (4L, 2L, 2L, 2885390080L, 1L)))
  }

  test("adamicAdarLinks: a triangle has no distance-2 pairs to predict") {
    val li = Seq((10L, 1L), (10L, 2L), (10L, 3L)).toDF("l_orderkey", "l_partkey")
    assert(GraphOps.adamicAdarLinks(GraphOps.copurchaseEdges(li)).count() == 0)
  }
}
