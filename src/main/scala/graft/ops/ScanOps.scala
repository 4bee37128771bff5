package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Partition-safe building blocks for globally-ordered semantics
  * (running sums, ranks, exact ntile) — the two-pass
  * "range-bucket + per-bucket window + broadcast prefix offsets"
  * pattern. A plain `Window.orderBy(...)` with no partition funnels
  * the whole table through ONE reducer; every helper here keeps the
  * big-table pass parallel and pushes only O(#buckets) rows through
  * any global step.
  *
  * Exactness: integer accumulators are exactly the sequential result;
  * floating-point sums regroup additions ((within-bucket) + (bucket
  * totals)), which can differ from a sequential scan in the last ulp.
  */
object ScanOps {

  val BucketCol = "__sbkt"

  /** A zero that Catalyst cannot constant-fold away: `partitionBy(lit(0))`
    * gets folded to an EMPTY partition spec by the optimizer, which both
    * logs the scary "No Partition Defined" warning and hides the fact
    * that the single partition is deliberate and O(buckets)-bounded.
    * Deriving the zero from a (never-null, non-negative) column keeps
    * the explicit single-partition spec in the plan.
    */
  def pinnedZero(c: Column): Column = pmod(c, lit(1))

  /** [[pinnedZero]]'s string sibling: a constant label Catalyst
    * cannot fold away. A window partitioned by a plain
    * `lit("corpus")` series gets its partition spec constant-folded
    * EMPTY — WindowExec then logs "No Partition Defined" even though
    * the single partition is deliberate and census-bounded (the
    * r12 full-catalog q271 warning burst). Deriving the label from a
    * never-null anchor column (`substring(anchor, 1, 0)` is "" for
    * any non-null value) keeps the explicit partition attribute in
    * the plan with the value unchanged.
    */
  def pinnedConst(label: String, anchor: Column): Column =
    concat(lit(label), substring(anchor.cast("string"), 1, 0))

  /** Assign a range-bucket column over `ord` from approx-quantile cut
    * points: equal values always share a bucket, bucket index is
    * monotone in `ord`. One extra pass (the quantile sketch); the
    * bucketing itself is a codegen'd when-chain.
    */
  def withRangeBucket(df: DataFrame, ord: String, buckets: Int,
      out: String = BucketCol): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    // loose sketch precision: cut points only balance bucket sizes,
    // they never affect correctness
    val cuts =
      if (probs.isEmpty) Array.empty[Double]
      else df.stat.approxQuantile(ord, probs, 0.01).distinct.sorted
    val bucket = cuts.zipWithIndex.foldLeft(when(lit(false), 0)) {
      case (acc, (cut, i)) => acc.when(col(ord) <= cut, i)
    }.otherwise(cuts.length)
    df.withColumn(out, bucket)
  }

  /** Exact global running sums ordered by `ord` (RANGE frame: rows
    * with equal `ord` all see the whole tie group, like
    * `sum(..) OVER (ORDER BY ord)`), with no single-partition pass
    * over the data: within-bucket windows partitioned by a range
    * bucket, plus per-bucket totals (O(buckets) rows) prefix-summed
    * and broadcast back.
    *
    * `sums` maps output column name -> summand expression. Returns the
    * input columns plus one running-sum column per entry.
    */
  def prefixSums(df: DataFrame, ord: String,
      sums: Seq[(String, Column)], buckets: Int = 32): DataFrame = {
    val bucketed = withRangeBucket(df, ord, buckets)
    val pw = Window.partitionBy(col(BucketCol)).orderBy(col(ord))
    // Within-bucket running sums: the ONLY full-table shuffle. The
    // per-bucket totals are then read back off this SAME exchange
    // (ReuseExchange dedupes the identical subplan) as the running
    // value on each bucket's last row (RANGE frame -> ties all carry
    // the full tie group, so max_by over ord is the bucket total) —
    // instead of a second scan+aggregate of the source. For expensive
    // inputs (tokenized text, computed columns) that halves the scan
    // work; the source is read once.
    val within = sums.foldLeft(bucketed) { case (d, (n, c)) =>
      d.withColumn(s"__w_$n", sum(c).over(pw))
    }
    val totalsDf = within.groupBy(col(BucketCol))
      .agg(max_by(col(s"__w_${sums.head._1}"), col(ord))
          .as(s"__t_${sums.head._1}"),
        sums.tail.map { case (n, _) =>
          max_by(col(s"__w_$n"), col(ord)).as(s"__t_$n") }: _*)
    // O(buckets) rows: the single partition is deliberate and bounded;
    // the pinned (non-foldable) zero keeps the explicit partition spec
    // in the plan instead of a warning-triggering empty one
    val wb = Window.partitionBy(pinnedZero(col(BucketCol)))
      .orderBy(col(BucketCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totalsDf.select(
      col(BucketCol) +:
        sums.map { case (n, _) =>
          sum(col(s"__t_$n")).over(wb).as(s"__o_$n")
        }: _*)
    val joined = within.join(broadcast(offsets), Seq(BucketCol), "left")
    val withRuns = sums.foldLeft(joined) { case (d, (n, _)) =>
      d.withColumn(n, col(s"__w_$n") + coalesce(col(s"__o_$n"), lit(0)))
    }
    withRuns.drop(BucketCol +: sums.flatMap { case (n, _) =>
      Seq(s"__o_$n", s"__w_$n") }: _*)
  }

  /** Globally-ordered MOVING aggregate over the last `k` rows (SQL
    * `ROWS BETWEEN k-1 PRECEDING AND CURRENT ROW`) with no
    * single-partition window — the bounded-frame sibling of
    * [[prefixSums]] (whose bucket-offset trick only fits UNBOUNDED
    * frames). Each range bucket is padded with the previous bucket's
    * last k-1 rows, the window runs within the padded bucket, and
    * padding rows are dropped after: every row sees exactly its k-row
    * frame, summed left-to-right like the sequential plan (same
    * floating-point result), and no stage moves more than a bucket +
    * k rows through one task.
    *
    * `ord` must be a total order (add a tiebreak upstream) — the same
    * caveat SQL ROWS frames carry. `aggs` maps output name ->
    * (summand, aggregator) where aggregator is e.g. `sum _`, `avg _`,
    * `min _`, `max _`.
    */
  def movingAgg(df: DataFrame, ord: String,
      aggs: Seq[(String, Column, Column => Column)], k: Int,
      buckets: Int = 32): DataFrame = {
    require(k >= 1, s"moving window needs k >= 1, got $k")
    val bucketed = withRangeBucket(df, ord, buckets)
    // previous bucket's last k-1 rows, re-tagged into the next bucket
    // as padding (rank from the bucket's end — one within-bucket
    // window on the same partitioning the main window needs)
    val endRank = Window.partitionBy(col(BucketCol))
      .orderBy(col(ord).desc)
    val ranked = bucketed.withColumn("__er", row_number().over(endRank))
    val padding = ranked.where(col("__er") <= k - 1)
      .withColumn(BucketCol, col(BucketCol) + 1)
      .withColumn("__pad", lit(true))
    val padded = ranked.withColumn("__pad", lit(false))
      .unionByName(padding)
    // correctness guard: a bucket with < k-1 rows cannot pad its
    // successor's first frames — that would be a SILENTLY truncated
    // window. Bucket sizes are an O(buckets) aggregate off the same
    // exchange; the check rides the plan (raise_error), costs one
    // broadcast, and fires only on the bad geometry (shrink k or
    // buckets when it does).
    val sizes = ranked.groupBy(col(BucketCol)).agg(max(col("__er"))
      .as("__bs"))
    val wv = Window.partitionBy(pinnedZero(col(BucketCol)))
      .orderBy(col(BucketCol))
    // a NUMBERING GAP (an interior bucket with zero rows — impossible
    // with quantile cuts drawn from the data, but possible with
    // externally supplied cuts) also breaks the chain: treat a
    // non-adjacent predecessor exactly like an under-filled one
    val prevSizes = sizes
      .withColumn("__prev_bs",
        when(lag(col(BucketCol), 1).over(wv) === col(BucketCol) - 1,
          lag(col("__bs"), 1).over(wv))
          .otherwise(when(lag(col(BucketCol), 1).over(wv).isNotNull,
            lit(-1L))))
      .select(col(BucketCol), col("__prev_bs"))
    val guarded = padded.join(broadcast(prevSizes), Seq(BucketCol), "left")
    val mw = Window.partitionBy(col(BucketCol)).orderBy(col(ord))
      .rowsBetween(-(k - 1), 0)
    val withAggs = aggs.foldLeft(guarded) { case (d, (n, c, f)) =>
      d.withColumn(n, f(c).over(mw))
    }
    // the guard must survive ANY projection of the result: embedding
    // it in a single column would let Catalyst prune it when a caller
    // selects only the others — so it wraps EVERY aggregate column
    val bad = lit(k > 1) && col("__prev_bs").isNotNull &&
      col("__prev_bs") < k - 1
    val unpadded = withAggs.where(!col("__pad"))
    aggs.foldLeft(unpadded) { case (d, (n, _, _)) =>
        d.withColumn(n,
          when(bad,
            raise_error(concat(lit("movingAgg: a range bucket has fewer " +
              s"than k-1 = ${k - 1} rows and cannot pad its successor; " +
              "reduce buckets or k")))
              .cast(withAggs.schema(n).dataType))
            .otherwise(col(n)))
      }
      .drop(BucketCol, "__er", "__pad", "__prev_bs")
  }

  /** SQL NTILE(k) bucket (1-based) from a 1-based rank and total row
    * count: the first n%k buckets take ceil(n/k) rows, the rest
    * floor(n/k) — exactly DuckDB/Spark `ntile` semantics.
    */
  def ntileFromRank(rank: Column, n: Long, k: Int): Column = {
    val base = n / k
    val rem = n % k
    val bigSpan = rem * (base + 1)
    if (base == 0) rank.cast("long") // fewer rows than buckets
    else when(rank <= bigSpan,
        floor((rank - 1) / lit(base + 1)) + 1)
      .otherwise(lit(rem) + floor((rank - lit(bigSpan) - 1) / lit(base)) + 1)
      .cast("long")
  }

  /** Exact global NTILE(k) over `orderBy` with no single-partition
    * window: rank = range-partitioned sort + per-partition offsets
    * (GraftBridge.sortedZipWithSequence), bucket = closed-form ntile
    * from (rank, n). `orderBy` should be a total order (add a tiebreak
    * column) for deterministic bucketing of ties — the same caveat SQL
    * ntile has.
    */
  def ntile(df: DataFrame, orderBy: Seq[Column], k: Int,
      out: String = "ntile"): DataFrame = {
    val seqName = "__ntile_seq"
    // total row count falls out of the zip's map stage — no extra job
    val (zipped, n) = org.apache.spark.sql.GraftBridge
      .sortedZipWithSequence(df, orderBy, seqName)
    zipped.withColumn(out, ntileFromRank(col(seqName) + 1, n, k))
      .drop(seqName)
  }
}
