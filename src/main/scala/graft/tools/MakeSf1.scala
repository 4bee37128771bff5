package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Build an sf1-scale dataset (10x sf0.1) for the scale capture
  * (BENCH_SF1.json): /root/testdata stops at sf0.1, so superlinear
  * blowups the sf0.1 bench can't see (token-explosion dedup families,
  * the full-frame distributed fit) need a locally-derived 10x set.
  *
  * NOT a correctness input — the oracle gate stays on the driver's
  * sf0.01 — so derivation only has to preserve SHAPE:
  *
  *   - every entity key is offset per copy (disjoint key spaces, FK
  *     integrity preserved within a copy: orders->customer,
  *     lineitem->orders/part/supplier all consistent);
  *   - fixed dimensions (region, nation) stay fixed, like TPC-H;
  *   - document text is token-PERMUTED per copy (deterministic
  *     Fisher-Yates seeded by (copy, doc_id)): token/char statistics
  *     (langid, quality, tf) are preserved while cross-copy shingle
  *     similarity collapses, so near-dup candidate counts scale ~10x
  *     like a real corpus instead of ~100x like naive cloning;
  *   - embeddings get a deterministic relative-0.35 gaussian
  *     perturbation per copy (cosine vs the source vector ~0.94, below
  *     dedup thresholds) so ANN/SemDeDup candidate sets scale
  *     linearly, not as 10-deep identical-point stacks;
  *   - events keep their timestamps but get disjoint user spaces, so
  *     per-user sessions are 10x the population at the same density.
  *
  * Copy 0 is verbatim sf0.1 (sf1 is a superset).
  */
object MakeSf1 {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "/root/repo/testdata_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val OFF = 100000000L // > any key at sf1; disjoint per-copy spaces
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit = {
      df.repartition(parts).write.mode(SaveMode.Overwrite)
        .parquet(s"$dst/$t.parquet")
      println(s"[makesf1] $t written")
    }

    // fixed dims: verbatim
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    def scaled(t: String, keys: Seq[String], parts: Int,
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = read(t)
      val all = (0 until copies).map { c =>
        val off = keys.foldLeft(base) { (d, k) =>
          d.withColumn(k, col(k) + lit(c * OFF)) }
        extra(off, c)
      }.reduce(_ unionByName _)
      write(all, t, parts)
    }

    scaled("customer", Seq("c_custkey"), 4)
    scaled("supplier", Seq("s_suppkey"), 1)
    scaled("part", Seq("p_partkey"), 4)
    scaled("orders", Seq("o_orderkey", "o_custkey"), 8)
    scaled("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), 16)
    scaled("events", Seq("event_id", "user_id"), 8)

    val permute = udf { (text: String, seed: Long) =>
      if (text == null) null
      else {
        val t = text.split(" ").filter(_.nonEmpty)
        val r = new java.util.Random(seed)
        var i = t.length - 1
        while (i > 0) {
          val j = r.nextInt(i + 1)
          val tmp = t(i); t(i) = t(j); t(j) = tmp
          i -= 1
        }
        t.mkString(" ")
      }
    }
    scaled("documents", Seq("doc_id"), 4, (d, c) =>
      if (c == 0) d
      else d.withColumn("text",
          permute(col("text"), col("doc_id") + lit(c.toLong * 1000003L)))
        .withColumn("n_chars", length(col("text")).cast("long")))

    val perturb = udf { (v: Seq[Float], seed: Long) =>
      if (v == null) null
      else {
        val r = new java.util.Random(seed)
        val n = v.length
        val g = Array.fill(n)(r.nextGaussian())
        val nv = math.sqrt(v.map(x => x.toDouble * x).sum)
        val ng = math.sqrt(g.map(x => x * x).sum).max(1e-12)
        val s = 0.35 * nv / ng
        Array.tabulate(n)(i => (v(i) + s * g(i)).toFloat).toSeq
      }
    }
    scaled("embeddings", Seq("vec_id"), 2, (d, c) =>
      if (c == 0) d
      else d.withColumn("embedding",
        perturb(col("embedding"), col("vec_id") + lit(c.toLong * 7368787L))))

    spark.stop()
  }
}
