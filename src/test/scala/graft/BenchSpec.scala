package graft

import java.util.Locale

/** [[Bench.fmt]] writes every number of Bench's and RecallProbe's JSON
  * artifacts, so it must not follow the JVM's default locale; a failed
  * attempt's detail JSON names what it threw.
  */
class BenchSpec extends SparkSpec {

  test("fmt prints a dot decimal under a German default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(String.format("%.4f", Double.box(0.95)) == "0,9500",
        "the default locale must format with a comma for this test to bite")
      assert(Bench.fmt(0.95) == "0.9500")
    } finally Locale.setDefault(saved)
  }

  test("a query that throws leaves its class, message and job count in the detail JSON") {
    val failed = Bench.attempt(spark, "planted", None) {
      spark.sparkContext.parallelize(1 to 4, 2).count()
      throw new IllegalStateException("planted\tfailure\nsecond line")
    }
    assert(failed.t == -2.0 && failed.run.jobs.size == 1)
    val clean = Bench.attempt(spark, "clean", None)(spark.range(3).toDF())
    assert(clean.t >= 0 && !Bench.detailOf(Seq(clean), clean.t).contains("errors"))
    val detail = Bench.detailOf(Seq(failed, clean), clean.t)
    Seq(""""times":[-2.0000,""", s""""jobs":[1,${clean.run.jobs.size}]""",
      """"errors":["java.lang.IllegalStateException: planted\tfailure",null]""")
      .foreach(field => assert(detail.contains(field), detail))
  }
}
