package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Item-item collaborative filtering (Sarwar et al. 2001, "Item-Based
  * Collaborative Filtering Recommendation Algorithms") on implicit
  * basket data — the classic recommender: items are similar when they
  * co-occur in baskets, and a user is recommended the nearest
  * neighbors of what they already have. Similarity is binary cosine
  * co-occurrence — support / sqrt(count_a * count_b) — QUANTIZED to a
  * long at 1e6 immediately (sqrt and one divide are IEEE
  * correctly-rounded in every engine; the quantized value replays),
  * so every downstream score is an order-free SUM OF LONGS, exact
  * under any shuffle order.
  */
object Recommend {

  /** Top-`k` nearest neighbors per item by quantized co-occurrence
    * cosine. Same pair count and guards as
    * [[Association.basketRules]] ([[Association.basketPairCounts]]:
    * in-row pair fan-out quadratic only in basket size, censused via
    * `maxPerBasket` before it runs, `minSupport` cut straight after
    * the pair count, item margins broadcast). Pairs then emit BOTH
    * directions and a per-item
    * WindowGroupLimit takes the k best by (cos_q desc, neighbor) —
    * the result is a dictionary-sized (items x k) table that
    * broadcasts into [[recommend]] at any corpus scale.
    * Returns (item, nbr, support, cos_q).
    */
  def itemNeighbors(df: DataFrame, basketCol: String, itemCol: String,
      k: Int, minSupport: Long = 2L, maxPerBasket: Int = 10000)
      : DataFrame = {
    require(k >= 1, s"itemNeighbors: k $k")
    val pairs = Association.basketPairCounts(df, basketCol, itemCol,
        minSupport, maxPerBasket, "itemNeighbors")._2
      .withColumn("cos_q",
        round(lit(1000000.0) * col("support").cast("double") /
          sqrt(col("count_a").cast("double") *
            col("count_b").cast("double")), 0).cast("long"))
    val both = pairs.select(col("item_a").as("item"),
        col("item_b").as("nbr"), col("support"), col("cos_q"))
      .unionByName(pairs.select(col("item_b").as("item"),
        col("item_a").as("nbr"), col("support"), col("cos_q")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item"))
      .orderBy(col("cos_q").desc, col("nbr"))
    both.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__rn")
  }

  /** Top-`k` recommendations per user: join the user's seen items to
    * the (broadcast-sized) neighbor table, drop already-seen
    * candidates (anti-join), score each candidate by the SUM of
    * quantized similarities to the user's items (exact long
    * arithmetic — order-free), and keep the k best by (score desc,
    * item). One shuffle on the user for the aggregate; the
    * WindowGroupLimit per user bounds the sort. Returns
    * (user, item, score_q, n_sources).
    */
  def recommend(df: DataFrame, userCol: String, itemCol: String,
      neighbors: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"recommend: k $k")
    // r14 reshape (the itemNeighbors discipline): ONE user-keyed
    // collect_set exchange replaces the distinct + the second
    // seen-side exchange of the anti-join — the seen set rides along
    // the exploded row and "already seen" is an in-row
    // array_contains over the (basket-width-bounded) set instead of
    // a join. Candidate scoring is the same exact long sum.
    val seenSets = df
      .where(col(userCol).isNotNull && col(itemCol).isNotNull)
      .select(col(userCol).as("user"), col(itemCol).as("__i"))
      .groupBy(col("user"))
      .agg(collect_set(col("__i")).as("__seen"))
    val cands = seenSets
      .select(col("user"), col("__seen"),
        explode(col("__seen")).as("__i"))
      .join(broadcast(neighbors.select(col("item").as("__i"),
        col("nbr").as("item"), col("cos_q"))), Seq("__i"))
      .where(!array_contains(col("__seen"), col("item")))
      .groupBy(col("user"), col("item"))
      .agg(sum(col("cos_q")).as("score_q"),
        count(lit(1)).as("n_sources"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user"))
      .orderBy(col("score_q").desc, col("item"))
    cands.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .drop("__rn")
  }
}
