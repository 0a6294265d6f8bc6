package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet // optional query-name filter for fast local checks
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale output from a previous run: a failed query
        // must read as MISSING downstream, not silently pass against
        // yesterday's parquet. Best-effort and self-contained — a
        // cleanup failure must never abort the remaining queries or
        // the oracle_sql.json dump.
        try {
          def rm(f: java.io.File): Boolean = {
            val children =
              if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
              else Array.empty[java.io.File]
            children.forall(rm) && f.delete()
          }
          val dir = new java.io.File(s"$outDir/$name")
          if (dir.exists() && !rm(dir))
            System.err.println(s"[verify] $name: WARNING stale output not fully removed")
        } catch { case c: Throwable =>
          System.err.println(s"[verify] $name: WARNING stale-output cleanup failed: ${c.getMessage}")
        }
      }
      // drain graft-pinned storage (localCheckpoint cuts, pinned caches)
      // so 202 queries in one process don't accumulate pinned blocks
      graft.plans.Checkpoints.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
