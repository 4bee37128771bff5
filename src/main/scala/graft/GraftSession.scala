package graft

import org.apache.spark.sql.SparkSession

/** The one session factory. Bench, Verify, PlanDump, JitProbe, the
  * tools mains and the test suite all build their session here, so
  * what Bench times is exactly what Verify checks and the specs
  * exercise. Log level stays a per-caller `setLogLevel`.
  *
  * The factory does NOT install [[GraftExtensions]]: external callers
  * of [[SparkEntry]] bring their own session, so an entry that needs
  * the SQL functions must call `GraftExtensions.register` itself —
  * installing them here would hide a missing call locally.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else 32. */
  def defaultCpus: Int =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def local(cpus: Int = defaultCpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); read as long + convert
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // JVM-wide codegen class cache (static conf): the 100-entry
      // default LRU-thrashes — ONE superstep entry's working set is
      // ~90 generated classes, so identical sources recompiled every
      // rep (JitProbe r14: q169 22-24 Janino compiles/rep at 100,
      // ZERO at 5000; solo medians -19%/-23% on q169/q322). 5000
      // holds the whole catalog's classes for the bench run.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // a throwaway warehouse, so saveAsTable in the specs never
      // writes into the working directory
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()

  /** JIT + codegen + parquet reader/footer init for every table, so
    * the first timed query per table doesn't absorb session startup.
    * Tables missing from `sfDir` are skipped.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => }
    }
  }
}
