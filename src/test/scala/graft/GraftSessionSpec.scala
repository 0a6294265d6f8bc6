package graft

/** [[GraftSession.local]] contract: it is the only session builder in
  * `src/main`, so every entry point runs the engine's one configuration,
  * and the shared test session (built through it) carries that
  * configuration, extensions included.
  */
class GraftSessionSpec extends SparkSpec {

  test("SparkSession.builder( appears in src/main only inside GraftSession.scala") {
    val builder = """SparkSession\.builder\(""".r
    val builders = mainSources.map { case (f, code) => f -> builder.findAllMatchIn(code).size }
      .filter(_._2 > 0)
    assert(builders == Seq("GraftSession.scala" -> 1),
      s"builders outside GraftSession: $builders")
  }

  test("shared test session: UTC, nanosAsLong, UI off, periodic GC at 2 min") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.cleaner.periodicGC.interval") == "2min")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("shared test session resolves graft functions without GraftFunctions.register") {
    // a new session on the shared context starts from the extensions'
    // function registry alone
    val fresh = spark.newSession()
    val v = fresh.sql("SELECT simhash64(array('a','b'))").head().get(0)
    assert(v != null)
  }
}
