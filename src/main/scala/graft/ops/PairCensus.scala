package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PAIR CENSUS: the one kernel behind every "members that share keys"
  * operator ([[Graph.commonNeighbors]], [[Graph.linkScores]],
  * [[graft.llmdata.TextAnalysis.winnowSimilarity]]). From DISTINCT,
  * non-null `(key, member)` rows it returns every member pair a < b
  * sharing >= `minShared` keys as `(a, b, n, <weight sums>)`: n is the
  * number of shared keys, and each weight column sums a per-key
  * function of the key's degree d (its member count) over them. The
  * wedge self-join on the key is quadratic only in per-key degree
  * (Σ d² wedges), so a hub key is what can make it explode.
  *
  * ONE degree census `(key, d)`, pinned when two of them read it,
  * serves every use of d:
  *   - `keep`, a key filter (a predicate on d) applied before the
  *     guard and the join;
  *   - the hub guard;
  *   - `weights`, evaluated once per key of degree >= 2 (a degree-1
  *     key forms no pair, and ln(1) = 0 would divide by zero).
  *
  * Hub policy past `cap` (`cap <= 0`: no policy, exact answer):
  *   - "refuse": a key of degree > cap refuses the query HERE, at
  *     construction, before any pair stage runs; the message names
  *     `site` and `remedy`;
  *   - "drop": keys of degree > cap are dropped (`keep` gains
  *     d <= cap), the Adamic-Adar hub discount taken to its limit;
  *   - "sample": every key keeps its `cap` members of lowest portable
  *     member hash (row_number <= cap: WindowGroupLimit, no full
  *     per-hub sort). The sampling is COORDINATED: all keys keep the
  *     same low-hash members, so pairs of surviving members retain
  *     ALL their shared keys (the MinHash idea), where independent
  *     per-key draws would shred pair structure. Wedge cost becomes
  *     scale-invariant, Σ min(d, cap)² <= #keys · cap², the run-at-
  *     100TB shape. Members must be longs.
  * Under "drop", "sample" and `keep` rows are only ever REMOVED, so
  * every retained pair's n <= exact and no pair is added.
  */
private[graft] object PairCensus {
  def apply(site: String, km: DataFrame, minShared: Long,
      cap: Int = 0, policy: String = "refuse",
      remedy: String = "prune hubs", keep: Option[Column => Column] = None,
      weights: Seq[(String, Column => Column)] = Nil): DataFrame = {
    require(minShared >= 1, s"$site: minimum shared keys $minShared")
    require(Set("refuse", "drop", "sample")(policy),
      s"$site: hub policy $policy")
    val keeps = keep.toSeq ++
      (if (cap > 0 && policy == "drop") Seq((d: Column) => d <= cap)
       else Nil)
    val guard = cap > 0 && policy == "refuse"
    val sample = cap > 0 && policy == "sample"
    // pinned only when two uses read it: materializing a cache costs
    // a job of its own, which a single reader does not win back
    val census = {
      val c = km.groupBy(col("key")).agg(count(lit(1)).as("d"))
      val uses = Seq(guard, keeps.nonEmpty, weights.nonEmpty)
      if (uses.count(identity) >= 2) graft.Caches.pin(c) else c
    }
    val kept = keeps.foldLeft(census)((c, p) => c.where(p(col("d"))))
    if (guard) {
      val worst = kept.agg(coalesce(max(col("d")), lit(0L))).first()
        .getLong(0)
      require(worst <= cap, s"$site: a key is shared by $worst " +
        s"members (> $cap) — $remedy or raise the cap")
    }
    val keptRows = if (keeps.isEmpty) km
      else km.join(kept.select(col("key")), Seq("key"), "left_semi")
    val rows =
      if (sample) {
        val h = pmod(pmod(col("member"), lit(1000000007L)) *
          lit(2654435761L) + lit(42L), lit(1000000007L))
        val w = Window.partitionBy(col("key")).orderBy(h, col("member"))
        keptRows.withColumn("__hr", row_number().over(w))
          .where(col("__hr") <= cap).select(col("key"), col("member"))
      } else keptRows
    val wedge0 = rows.select(col("key"), col("member").as("a"))
      .join(rows.select(col("key"), col("member").as("b")), Seq("key"))
      .where(col("a") < col("b"))
    val wedge = if (weights.isEmpty) wedge0 else wedge0.join(
      kept.where(col("d") >= 2).select(col("key") +:
        weights.map { case (name, f) => f(col("d")).as(name) }: _*),
      Seq("key"))
    // explicit single-column repartition between the wedge join and
    // the pair count: the join leaves the wedges partitioned by key (a
    // few skewed keys), so a partial aggregate riding it builds
    // near-unique-key hash maps inside a handful of straggler tasks and
    // spills (r12 q228 profile 13.4s -> 6.7s at sf0.1; r15 q251 probe
    // 4.2–6.9s -> 3.1–4.5s with the erratic tail gone). Subset
    // clustering satisfies the groupBy, so it stays ONE exchange. An
    // explode-based in-row fan-out was probed and rejected: generate
    // parallelism is bounded by the key rows (one task serially emits
    // a hub's millions of pairs).
    // The partition count is EXPLICIT, the session's shuffle width:
    // AQE coalesces a by-column exchange by its BYTES, but this
    // stage's cost is its hash-map ENTRIES, one per distinct (a, b),
    // and a wedge is a few bytes: the pair-census benchmark's few MB
    // of wedges were coalesced onto 2 of 4 tasks, which spilled. AQE
    // never coalesces a by-number exchange, so the count keeps one
    // task per shuffle partition.
    val width = km.sparkSession.conf.get("spark.sql.shuffle.partitions")
    wedge.repartition(width.toInt, col("a"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n"),
        weights.map { case (name, _) => sum(col(name)).as(name) }: _*)
      .where(col("n") >= minShared)
  }
}
