package graft

/** The suite runs on the same session configuration as Bench and
  * Verify, and that configuration leaves the SQL surface alone.
  */
class GraftSessionSpec extends SparkSuite {
  test("TestSpark.spark comes from GraftSession: UTC, nanosAsLong, " +
      "codegen cache 5000, one shuffle partition per core") {
    assert(spark.sparkContext.appName == "graft")
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    val cores = "local\\[(\\d+)\\]".r
      .findFirstMatchIn(spark.sparkContext.master).get.group(1)
    assert(conf.get("spark.sql.shuffle.partitions") == cores)
    assert(spark.sparkContext.defaultParallelism == cores.toInt)
  }

  test("GraftSession does not install GraftExtensions") {
    // a fresh session state carries only what the builder installed;
    // the specs that register the functions do so on TestSpark.spark
    val fresh = spark.newSession()
    Seq("cosine_similarity", "jaccard_similarity", "portable_token_hash")
      .foreach(f => assert(!fresh.catalog.functionExists(f), f))
    assert(spark.sparkContext.getConf.getOption("spark.sql.extensions")
      .isEmpty)
  }
}
