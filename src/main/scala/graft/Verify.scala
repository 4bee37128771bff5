package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd+ args: only run the named queries (local iteration)
    val only = args.drop(2).toSet
    val spark = GraftSession.local()
    // WARN, so an engine warning lands in the log next to the
    // progress marker of the entry that emitted it
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
        // progress marker BEFORE each entry so any engine warning in
        // the log (e.g. WindowExec "No Partition Defined") can be
        // attributed to the query that emitted it — the r12 burst
        // was unattributable precisely because this line was missing
        System.err.println(s"[verify] running $name")
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // single-scan operators pin MEMORY_AND_DISK intermediates
        // for the duration of the query; drop them between entries so
        // 100+ queries don't accumulate evicting blocks
        Caches.release()
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${QH.jsonString(k)}: ${QH.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
