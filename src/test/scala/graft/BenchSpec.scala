package graft

import java.util.Locale
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.fmt]] writes every number of Bench's and RecallProbe's JSON
  * artifacts, so it must not follow the JVM's default locale.
  */
class BenchSpec extends AnyFunSuite {

  test("fmt prints a dot decimal under a German default locale") {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      assert(String.format("%.4f", Double.box(0.95)) == "0,9500",
        "the default locale must format with a comma for this test to bite")
      assert(Bench.fmt(0.95) == "0.9500")
    } finally Locale.setDefault(saved)
  }
}
