package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy, reused across suites in the
  * same JVM via getOrCreate). `local[4]` is explicit because the suites
  * assume 4 cores while the test command may export `SPARK_GRAFT_CPUS`.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")

  def sf(name: String) = s"/root/testdata/sf0.001"
}
