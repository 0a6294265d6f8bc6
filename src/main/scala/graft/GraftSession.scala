package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: every entry point (Bench, Verify,
  * Profile, Explain and the `tools/` mains) and the test suites build
  * their session here, so they all run the same configuration:
  *  - session time zone UTC and `nanosAsLong` (`events.parquet` may
  *    carry TIMESTAMP(NANOS); `Tables` normalizes it);
  *  - AQE on: runtime coalescing of shuffle partitions, skew-join
  *    splitting, and dynamic join-strategy switching replace hand-tuned
  *    partition counts; `spark.sql.shuffle.partitions` is the ceiling
  *    AQE coalesces down from;
  *  - the graft function registry installed as session extensions
  *    ([[GraftExtensions]]), so `spark.sql` resolves `simhash64` & co.
  *    without a [[GraftFunctions.register]] call;
  *  - the Spark UI off: no entry point reads it, and every session
  *    would otherwise start its own Jetty server;
  *  - periodic ContextCleaner GC every 2 min (below).
  *
  * On a cluster the same SQL-level knobs apply with master and deploy
  * settings coming from spark-submit. There `spark.sql.shuffle.partitions`
  * should be ~2-3× total cores; `spark.sql.files.maxPartitionBytes` at
  * 256m keeps scan tasks coarse enough that a 1000-executor cluster isn't
  * scheduling millions of tiny tasks; the broadcast threshold stays at
  * its 10m default, since dimension tables are explicitly `broadcast()`ed
  * at the operator level and AQE upgrades shuffle joins when runtime
  * stats allow.
  */
object GraftSession {

  /** A `local[cores]` session with `cores` shuffle partitions. `cores`
    * defaults to `SPARK_GRAFT_CPUS` when set, else the JVM's processor
    * count.
    */
  def local(cores: Int = defaultCores, appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // ContextCleaner only reclaims dead broadcast/shuffle/RDD state when
      // the JVM actually GCs (it works off weak references); a 349-query
      // run generates thousands of them but little allocation pressure
      // between queries, so with the 30-min default the whole run can
      // finish before a single cleaner sweep. The accumulated dead
      // broadcast blocks squeeze the unified-memory execution pool and
      // dead shuffle files pin disk (the sf10 sweep hit disk-full on 54 GB
      // of DEAD shuffle files; at sf0.1 the same backlog measured q276
      // 7 s scoped-fresh vs 21-27 s in-run). 2 min bounds the backlog.
      // NOTE: any cross-HARNESS comparison (e.g. against a reference
      // runner without forced GC) must run both sides under the same
      // GC policy — within graft every entry point shares it, so
      // round-over-round comparisons are unaffected.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
}
