package graft.plans

import graft.SparkSpec

/** The engine's settable session keys. Every operator size comes from
  * the autosize law or its oracle-pinned default, so `src/main` reads
  * exactly three `spark.graft.*` keys: the autosize switch, the reliable
  * checkpoint directory and the cut-disable inspection switch. A new
  * key fails this spec until it is added here on purpose.
  */
class SessionConfKeysSpec extends SparkSpec {

  test("src/main names exactly the three spark.graft.* session keys") {
    // the key at the head of each literal (a message may run on past it)
    val literal = "\"(spark\\.graft\\.[\\w.]*)".r
    val keys = mainSources.flatMap { case (_, code) =>
      literal.findAllMatchIn(code).map(_.group(1))
    }.toSet
    assert(keys == Set("spark.graft.autosize", "spark.graft.checkpointDir",
      "spark.graft.checkpoint.disable"))
  }
}
