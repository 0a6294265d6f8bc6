package graft.operators

import graft.SparkSpec

class RoutingSpec extends SparkSpec {
  import spark.implicits._

  test("routeByRules: first match by priority wins, default fills misses") {
    val docs = Seq((1L, "src1"), (2L, "src12"), (3L, "src7"), (4L, "src8"))
      .toDF("doc_id", "source")
    val got = Routing.routeByRules(docs, Routing.defaultRules)
      .select("doc_id", "workflow").as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "wf_exact_one",  // matches rules 1 and 3; priority 1 wins
      2L -> "wf_teens",      // matches rules 2 and 3; priority 2 wins
      3L -> "wf_default",    // no match
      4L -> "wf_even"))      // matches rule 3 only
  }

  test("routeByRules' first-match expression grows linearly with the number of rules") {
    val docs = Seq((1L, "src3"), (2L, null)).toDF("doc_id", "source")
    def routed(n: Int) = Routing.routeByRules(docs,
      (0 until n).map(i => Routing.RoutingRule(s"^src$i$$", s"wf$i", i)))
    val sizes = (1 to 12).map(n => routed(n).queryExecution.analyzed
      .collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }.sum)
    assert(sizes.zip(sizes.tail).map { case (a, b) => b - a }.distinct.size == 1, sizes)
    // a null source matches no rule and gets the default
    assert(routed(12).select("doc_id", "workflow").as[(Long, String)].collect().toSeq ==
      Seq((1L, "wf3"), (2L, "wf_default")))
  }

  test("expandIdSlices generates pmod-sized ranges") {
    val nat = Seq(Tuple1(0), Tuple1(4)).toDF("n_nationkey")
    val got = Routing.expandIdSlices(nat)
      .select("slice_id").as[String].collect().toSeq
    assert(got == Seq("N-0-0", "N-4-0", "N-4-1"))
  }

  test("annotateManifest templates the first matching rule's groups") {
    val docs = Seq((1L, "a spark engine"), (2L, "the quick fox"), (3L, "zzz"))
      .toDF("doc_id", "text")
    val got = Routing.annotateManifest(docs)
      .select("doc_id", "description").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "spark-engine", 2L -> "the-quick", 3L -> "unmatched"))
  }
}
