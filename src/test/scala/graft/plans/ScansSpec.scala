package graft.plans

import graft.SparkSpec

/** [[Scans.fanOut]] contract: repairs a below-parallelism scan and
  * no-ops on an already-parallel frame.
  */
class ScansSpec extends SparkSpec {

  test("fanOut repairs a one-split scan to default parallelism; no-op when parallel") {
    val docs = spark.read.parquet(s"${sf("")}/documents.parquet")
    assert(docs.rdd.getNumPartitions <
      spark.sparkContext.defaultParallelism, "fixture must be one-split")
    val fanned = Scans.fanOut(docs)
    assert(fanned.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // already-parallel frames pass through untouched (the 100 TB layout)
    assert(Scans.fanOut(fanned) eq fanned)
  }
}
