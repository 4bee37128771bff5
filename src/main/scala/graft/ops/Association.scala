package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association mining (Agrawal & Srikant 1994's
  * support/confidence frame plus lift) expressed relationally.
  */
object Association {

  /** Pairwise association rules over (basket, item) rows:
    * support(a,b) = baskets containing both, confidence(a→b) =
    * support(a,b)/support(a), lift = N*support(a,b)/
    * (support(a)*support(b)) — counts exact integers, the two ratios
    * in fixed-order double arithmetic rounded 6dp. Pairs are emitted
    * once in canonical (a < b) order; read the reverse rule's
    * confidence from (support, count_b).
    *
    * Shape: [[basketPairCounts]] — per-basket DISTINCT item sets
    * (duplicate line items never inflate support), pairs quadratic
    * ONLY in per-basket distinct items, which `maxPerBasket > 0`
    * guards with a bounded census action before the fan-out can run
    * (the fuzzyMatch rule); the basket census broadcasts.
    */
  def basketRules(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, maxPerBasket: Int = 10000): DataFrame = {
    val (grouped, pairs) = basketPairCounts(df, basketCol, itemCol,
      minSupport, maxPerBasket, "basketRules")
    val census = grouped.agg(count(lit(1)).as("__nb"))
    pairs
      .crossJoin(broadcast(census))
      .withColumn("confidence", round(
        col("support").cast("double") / col("count_a").cast("double"),
        6))
      .withColumn("lift", round(
        col("support").cast("double") * col("__nb").cast("double") /
          (col("count_a").cast("double") *
            col("count_b").cast("double")), 6))
      .select(col("item_a"), col("item_b"), col("support"),
        col("count_a"), col("count_b"), col("confidence"), col("lift"))
  }

  /** The basket pair count behind [[basketRules]] and
    * [[Recommend.itemNeighbors]]. Returns the pinned basket table
    * (`__b`, sorted distinct `__is`) and the pairs
    * (item_a < item_b, support, count_a, count_b) with
    * support >= `minSupport`.
    *
    * r14 reshape: the DISTINCT presence table + per-basket self-join
    * collapse into ONE basket-keyed collect_set exchange (partial
    * aggregation dedups map-side exactly like distinct's), with the
    * quadratic pair fan-out generated IN-ROW from the sorted set —
    * array_sort orders by the item type's ordering, the same `<` the
    * join used. The fan-out stays bounded by basket width: the census
    * guard (`maxPerBasket > 0`) runs first, a max over set sizes.
    * Pinned (r15): the guard is its own action, so an unpinned basket
    * table paid the lineitem-sized exchange TWICE (once for the
    * guard's max, once for the main query — branches inside one query
    * already share the exchange via ReuseExchange, a separate action
    * cannot). The guard's .first() materializes the pin; everything
    * downstream reads cache. Basket arrays are ≪ input by
    * construction, so the pin scales with the basket table. The
    * `minSupport` cut applies straight after the pair count, so the
    * broadcast item-margin joins run on the surviving head.
    */
  private[ops] def basketPairCounts(df: DataFrame, basketCol: String,
      itemCol: String, minSupport: Long, maxPerBasket: Int,
      site: String): (DataFrame, DataFrame) = {
    require(minSupport >= 1, s"$site: minSupport $minSupport")
    val grouped = graft.Caches.pin(df
      .where(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .groupBy(col("__b"))
      .agg(array_sort(collect_set(col("__i"))).as("__is")))
    Guard(grouped, size(col("__is")), maxPerBasket, site,
      w => s"largest basket has $w distinct items", "coarsen the item key")
    val counts = grouped.select(explode(col("__is")).as("__i"))
      .groupBy(col("__i")).agg(count(lit(1)).as("__c"))
    val pairs = grouped.select(explode(flatten(transform(col("__is"),
        (x, i) => transform(
          slice(col("__is"), i + lit(2),
            size(col("__is")) - i - lit(1)),
          y => struct(x.as("a"), y.as("b")))))).as("__p"))
      .select(col("__p.a").as("item_a"), col("__p.b").as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= minSupport)
      .join(broadcast(counts.select(col("__i").as("item_a"),
        col("__c").as("count_a"))), Seq("item_a"))
      .join(broadcast(counts.select(col("__i").as("item_b"),
        col("__c").as("count_b"))), Seq("item_b"))
    (grouped, pairs)
  }
}
