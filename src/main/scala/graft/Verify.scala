package graft
import java.nio.file.{Files, Paths}

import scala.util.Try

import graft.sources.SimpleYaml.jsonString
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (`tools/check.py`).
  * Each query is a [[Recorder.step]], which releases its pinned cuts. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet // optional query-name filter for fast local checks
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      Recorder.step(spark)(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")).failure.foreach { e =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale output from a previous run: a failed query
        // must read as MISSING downstream, not silently pass against
        // yesterday's parquet. Best-effort — a cleanup failure must
        // never abort the remaining queries or the oracle_sql.json dump.
        val stale = new java.io.File(s"$outDir/$name")
        if (Try(org.apache.commons.io.FileUtils.deleteDirectory(stale)).isFailure || stale.exists())
          System.err.println(s"[verify] $name: WARNING stale output not fully removed")
      }
    }
    // escaped: a tab or CR in a query's oracle SQL would otherwise make
    // the compare's json.load fail and lose every query's oracle
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
