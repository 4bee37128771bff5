package graft.tools

/** Usage demo: a session with GraftExtensions registered, driving the
  * SQL surface and the join operators the way a library user would.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(4)
    graft.GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("emb")
    println("[demo] SQL cosine: " + spark.sql(
      """SELECT a.vec_id, cosine_similarity(a.embedding, b.embedding) c
         FROM emb a JOIN emb b ON b.vec_id = a.vec_id + 1
         WHERE a.vec_id < 3 ORDER BY a.vec_id""").collect().mkString(", "))
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .withColumnRenamed("o_custkey", "custkey")
    val c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .withColumnRenamed("c_custkey", "custkey")
    val plain = graft.ops.Joins.join(o, c, "custkey", "inner").count()
    val salted = graft.ops.Joins.saltedJoin(o, c, "custkey", "inner", 8)
      .count()
    println(s"[demo] join plain=$plain salted=$salted")
    try { spark.sql("SELECT cosine_similarity(1)").collect(); () }
    catch { case e: Exception =>
      println("[demo] arity error: " + e.getMessage.take(100)) }

    // ---- training-data pipeline surface --------------------------------
    import org.apache.spark.sql.functions._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    println("[demo] SQL jaccard: " + spark.sql(
      """SELECT jaccard_similarity(array('a b','b c'), array('b c','c d'))
         AS j""").head().getDouble(0))
    // dedup pairs -> canonical clusters
    val pairs = graft.llmdata.Dedup.minhashDedup(docs, "doc_id", "text",
      threshold = 0.7)
    val clusters = graft.llmdata.Dedup.duplicateClusters(pairs)
    println(s"[demo] near-dup pairs=${pairs.count()} " +
      s"clustered docs=${clusters.count()}")
    // reproducible split + packing
    val split = graft.llmdata.Sampling.assignSplit(docs, "doc_id",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
    println("[demo] splits: " + split.groupBy("split").count()
      .orderBy(col("split")).collect().mkString(", "))
    val packed = graft.llmdata.Packing.packBySequence(docs, "doc_id",
      graft.llmdata.TextAnalysis.tokenCountWs(col("text")), 2000)
    println(s"[demo] packs: " + graft.llmdata.Packing
      .packStats(packed, 2000).count())
    spark.stop()
  }
}
