package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-diagnostic and descriptive statistics as distributed
  * aggregates (reference diags.go / data.go) — each one pass, no
  * driver-side loops over groups.
  */
object Stats {

  /** Desc: empirical quantiles at u=[0,.1,.25,.5,.75,.9,1] plus
    * n/mean/std (reference data.go:141-204). Exact percentiles
    * (Spark `percentile`) to match a SQL oracle; at very large scale
    * callers can pass approx=true for approx_percentile.
    */
  def describe(df: DataFrame, c: String, approx: Boolean = false)
      : DataFrame = {
    val probs = "array(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0)"
    val fn = if (approx) "approx_percentile" else "percentile"
    df.agg(
      count(col(c)).as("n"),
      avg(col(c)).as("mean"),
      stddev_samp(col(c)).as("std"),
      expr(s"$fn($c, $probs)").as("q"))
      .select(col("n"), col("mean"), col("std"),
        col("q")(0).as("q0"), col("q")(1).as("q10"), col("q")(2).as("q25"),
        col("q")(3).as("q50"), col("q")(4).as("q75"), col("q")(5).as("q90"),
        col("q")(6).as("q100"))
  }

  /** Per-group Desc (the reference's slicer-loop-over-Desc pattern,
    * slicer.go:34-186 + data.go:141-204, collapsed into ONE grouped
    * aggregate — no per-group scans): n/mean/std plus the u-grid
    * quantiles for every group value.
    */
  def describeBy(df: DataFrame, group: Column, c: String,
      approx: Boolean = false): DataFrame = {
    val probs = "array(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0)"
    val fn = if (approx) "approx_percentile" else "percentile"
    df.groupBy(group.as("group"))
      .agg(
        count(col(c)).as("n"),
        avg(col(c)).as("mean"),
        stddev_samp(col(c)).as("std"),
        expr(s"$fn($c, $probs)").as("q"))
      .select(col("group"), col("n"), col("mean"), col("std"),
        col("q")(0).as("q0"), col("q")(1).as("q10"), col("q")(2).as("q25"),
        col("q")(3).as("q50"), col("q")(4).as("q75"), col("q")(5).as("q90"),
        col("q")(6).as("q100"))
      .orderBy(col("group"))
  }

  /** Winsorize: clip a numeric column at its [lo, hi] empirical
    * quantiles — outlier capping before z-scoring / model input. Cut
    * points come from one approxQuantile pass (relErr 0 = exact data
    * points, matching SQL quantile_disc); the clip itself is a
    * codegen'd least/greatest projection, no shuffle.
    */
  def winsorize(df: DataFrame, c: String, lo: Double = 0.01,
      hi: Double = 0.99, relErr: Double = 0.0,
      out: String = ""): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, s"bad bounds [$lo, $hi]")
    val Array(cutLo, cutHi) =
      df.stat.approxQuantile(c, Array(lo, hi), relErr)
    val name = if (out.isEmpty) c else out
    df.withColumn(name,
      least(greatest(col(c), lit(cutLo)), lit(cutHi)))
  }

  /** KS statistic: max gap between the score CDFs of target vs
    * non-target (reference diags.go:110-221, which interpolates on a
    * 101-point grid; we compute the exact sup-gap — tighter).
    * Returns (ks in [0,100], cutoff score at the max gap).
    *
    * Scale shape: collapse to one row per DISTINCT score (a parallel
    * groupBy), then exact running counts via ScanOps.prefixSums —
    * range-bucketed windows plus O(buckets) prefix offsets — so no
    * single-partition pass exists even for a continuous score where
    * distinct ~ n. Counts are integers: results are bit-identical to
    * the sequential CDF.
    */
  def ks(df: DataFrame, score: Column, target: Column): (Double, Double) = {
    val gaps = ksGaps(df, score, target)
      .orderBy(col("gap").desc, col("s").asc)
      .head()
    (gaps.getDouble(1) * 100.0, gaps.getDouble(0))
  }

  /** Per-distinct-score CDF gap rows `(s, gap)` — the distributed
    * heart of [[ks]], also reusable in query form.
    */
  def ksGaps(df: DataFrame, score: Column, target: Column): DataFrame = {
    val d = df.select(score.cast("double").as("s"),
      when(target.cast("double") > 0.999, 1L).otherwise(0L).as("y"))
    val agg = d.agg(sum(col("y")).as("n1"),
      sum(lit(1L) - col("y")).as("n0")).head()
    val (n1, n0) = (agg.getLong(0), agg.getLong(1))
    val per = d.groupBy(col("s"))
      .agg(sum(col("y")).as("y1"), sum(lit(1L) - col("y")).as("y0"))
    graft.ops.ScanOps.prefixSums(per, "s",
      Seq("c1" -> col("y1"), "c0" -> col("y0")))
      .select(col("s"),
        abs(col("c1").cast("double") / n1 -
            col("c0").cast("double") / n0).as("gap"))
  }

  /** KS as a one-row DataFrame for query/oracle use. */
  def ksDf(df: DataFrame, score: Column, target: Column): DataFrame = {
    val (k, cut) = ks(df, score, target)
    df.sparkSession.sql(s"SELECT CAST($k AS DOUBLE) AS ks, " +
      s"CAST($cut AS DOUBLE) AS cutoff")
  }

  /** Assess: n, precision, recall, accuracy of (score > cutoff) against
    * a binary target (reference diags.go:476-529; target threshold
    * y > .999 mirrors its obs>.999 test).
    */
  def assess(df: DataFrame, score: Column, target: Column,
      cutoff: Double): DataFrame = {
    val pred = (score.cast("double") > cutoff).cast("long")
    val obs = (target.cast("double") > 0.999).cast("long")
    df.agg(
      count(lit(1)).as("n"),
      (sum(pred * obs).cast("double") / sum(pred)).as("precision"),
      (sum(pred * obs).cast("double") / sum(obs)).as("recall"),
      (sum(when(pred === obs, 1L).otherwise(0L)).cast("double") /
        count(lit(1))).as("accuracy"))
  }

  /** Coalesce one-hot/softmax column groups (reference diags.go:32-95):
    * given k probability (or logodds) columns, return binary
    * any-of-targets or the softmax-combined target probability.
    */
  def coalesceCols(cols: Seq[Column], targets: Seq[Int], binary: Boolean,
      logodds: Boolean): Column = {
    val probs: Seq[Column] =
      if (!logodds) cols
      else {
        val exps = cols.map(exp(_))
        val denom = exps.reduce(_ + _)
        exps.map(_ / denom)
      }
    val targetSum = targets.map(probs(_)).reduce(_ + _)
    if (binary) (targetSum > 0.5).cast("double") else targetSum
  }

  /** SegPlot data: per-segment mean fitted vs mean observed (the
    * reference's segment plot, diags.go:261-307 — its
    * slice-and-iterate loop collapsed into one grouped aggregate).
    */
  def segment(df: DataFrame, seg: Column, score: Column,
      target: Column): DataFrame =
    df.groupBy(seg.as("segment"))
      .agg(avg(score.cast("double")).as("mean_fitted"),
        avg(target.cast("double")).as("mean_observed"),
        count(lit(1)).as("n"))
      .orderBy(col("segment"))

  /** Histogram: fixed-width bucket counts over [lo, hi) — the data
    * behind the reference's histogram plot side effect
    * (parser.go:1844-1997; rendering stays driver-side, the
    * distributed part is this one grouped count).
    */
  def histogram(df: DataFrame, c: String, lo: Double, hi: Double,
      buckets: Int): DataFrame =
    df.select(width_bucket(col(c).cast("double"), lit(lo), lit(hi),
        lit(buckets)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))

  /** Decile (or n-tile) calibration table: bucket by predicted score,
    * per-bucket mean predicted vs mean observed (reference decile plot
    * diags.go:231-373 collapsed to one grouped agg).
    */
  def decile(df: DataFrame, score: Column, target: Column,
      buckets: Int = 10, tieBreak: Seq[Column] = Nil): DataFrame = {
    // exact SQL-ntile semantics WITHOUT a global ntile window (which
    // funnels the table through one partition): rank from a
    // range-partitioned sort, bucket in closed form. Pass tieBreak
    // columns for a total order — same determinism caveat SQL has.
    val ties = tieBreak.zipWithIndex.map { case (c, i) => c.as(s"__tb$i") }
    val d = df.select(score.cast("double").as("__score") +:
      target.cast("double").as("__target") +: ties: _*)
    val ord = col("__score") +:
      tieBreak.indices.map(i => col(s"__tb$i"))
    graft.ops.ScanOps.ntile(d, ord, buckets, "__b")
      .groupBy(col("__b").as("bucket"))
      .agg(avg(col("__score")).as("mean_score"),
        avg(col("__target")).as("mean_target"),
        count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  /** One-pass column profiler (the reference's TableSpec/describe-all
    * habit as one distributed aggregate): per column — row count,
    * nulls, distinct count, and typed min/max (numeric columns into
    * `min_num`/`max_num`, string/date/timestamp into `min_str`/
    * `max_str`, others null). ONE aggregate job over the frame;
    * Catalyst plans the multi-column exact distinct via Expand (rows
    * multiply by #profiled columns — the exact shape). At corpus
    * scale pass `approxDistinct = true` for HyperLogLog counts
    * (constant memory, one pass, ~2% error) — the exact form is the
    * oracle-checkable one.
    */
  def profile(df: DataFrame, cols: Seq[String] = Seq.empty,
      approxDistinct: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types._
    val names = if (cols.nonEmpty) cols else df.columns.toSeq
    val aggs = names.flatMap { c =>
      val dt = df.schema(c).dataType
      val dist = if (approxDistinct) approx_count_distinct(col(c))
        else countDistinct(col(c))
      val (minNum, maxNum, minStr, maxStr) = dt match {
        case _: NumericType =>
          (min(col(c)).cast("double"), max(col(c)).cast("double"),
            lit(null).cast("string"), lit(null).cast("string"))
        case StringType | DateType | TimestampType | TimestampNTZType =>
          (lit(null).cast("double"), lit(null).cast("double"),
            min(col(c)).cast("string"), max(col(c)).cast("string"))
        case _ =>
          (lit(null).cast("double"), lit(null).cast("double"),
            lit(null).cast("string"), lit(null).cast("string"))
      }
      Seq(count(col(c)).as(s"__nn_$c"), dist.as(s"__nd_$c"),
        minNum.as(s"__mn_$c"), maxNum.as(s"__mx_$c"),
        minStr.as(s"__ms_$c"), maxStr.as(s"__xs_$c"))
    }
    val row = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val perCol = names.map { c =>
      struct(lit(c).as("col_name"), col("__n").as("n_rows"),
        (col("__n") - col(s"__nn_$c")).as("n_nulls"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_num"), col(s"__mx_$c").as("max_num"),
        col(s"__ms_$c").as("min_str"), col(s"__xs_$c").as("max_str"))
    }
    row.select(explode(array(perCol: _*)).as("__p")).select(col("__p.*"))
  }

  /** Batch sessionization over an event stream: per key, a new
    * session starts when the gap to the previous event exceeds
    * `gapSeconds`; emits one row per session with event count, start,
    * and exact microsecond duration. The window partitions by the
    * session KEY (users/devices — cardinality grows with the data, so
    * partitions stay balanced; a whale key funnels its own events
    * through one task, the inherent skew of per-key ordering — cap or
    * salt upstream if a key can exceed a task). The streaming
    * equivalent is [[graft.streaming.Streams]]' session windows;
    * numbers agree on closed sessions.
    */
  def sessionize(df: DataFrame, key: String, ts: String,
      gapSeconds: Long, tiebreak: String): DataFrame = {
    require(gapSeconds > 0, s"gapSeconds $gapSeconds")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(ts), col(tiebreak))
    val gapUs = gapSeconds * 1000000L
    val prev = lag(col(ts), 1).over(w)
    // boundary matches Structured Streaming's session_window: an event
    // at EXACTLY prev + gap starts a new session (windows are
    // [start, end)) — so closed-session numbers agree batch vs stream
    val newSession = when(prev.isNull ||
      unix_micros(col(ts)) - unix_micros(prev) >= gapUs, 1L).otherwise(0L)
    df.withColumn("__sess",
        sum(newSession).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(key), col("__sess").as("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col(ts)).as("t_start"),
        (unix_micros(max(col(ts))) - unix_micros(min(col(ts))))
          .as("duration_us"))
  }

  /** Ordered-funnel analysis: how many keys (users) complete each
    * prefix of `steps` IN ORDER — step i+1 counts only if it happens
    * STRICTLY after the step-i completion time, and each step's
    * completion time is the earliest qualifying event (the chained-min
    * semantics: t1 = min ts of step1; t_i = min ts of step_i with
    * ts > t_{i-1}).
    *
    * One shuffle total: events filtered to the step types, grouped by
    * key, and the chained minima computed by a single fold over the
    * time-sorted per-key event list (the greedy first-match in sorted
    * order IS the chained min) — not k chained groupBy+join rounds.
    * Per-key lists are bounded by events-per-user, the same inherent
    * per-key bound sessionize rides; the result is k rows.
    *
    * The fold is null-safe under ANSI: `get()` (0-based) returns NULL
    * out of range, and the empty-accumulator comparison coalesces to
    * true (no prior step to be after).
    */
  /** The shared per-key funnel walk: (key, __walk) where __walk is
    * the array of chained-min step completion times (prefix-length =
    * steps reached). [[funnel]] counts it; q193's latency histogram
    * differences its ends.
    */
  def funnelWalk(df: DataFrame, key: String, ts: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"funnel: steps must be non-empty and distinct, got $steps")
    val k = steps.length
    val stepsArr = array(steps.map(lit): _*)
    df.where(col(typeCol).isin(steps: _*)
        && col(ts).isNotNull)
      .select(col(key), col(ts).as("__ts"), col(typeCol).as("__et"))
      .groupBy(col(key))
      .agg(aggregate(
        sort_array(collect_list(struct(col("__ts").as("ts"),
          col("__et").as("et")))),
        array().cast("array<timestamp>"),
        (acc, e) => when(
          size(acc) < k &&
            e.getField("et") === get(stepsArr, size(acc)) &&
            coalesce(e.getField("ts") > get(acc, size(acc) - 1),
              lit(true)),
          concat(acc, array(e.getField("ts")))).otherwise(acc))
        .as("__walk"))
  }

  def funnel(df: DataFrame, key: String, ts: String, typeCol: String,
      steps: Seq[String]): DataFrame = {
    val k = steps.length
    val walked = funnelWalk(df, key, ts, typeCol, steps)
    val nExprs = (1 to k).map(i =>
      sum(when(size(col("__walk")) >= i, 1L).otherwise(0L)).as(s"__n$i"))
    walked.agg(nExprs.head, nExprs.tail: _*)
      .select(explode(array((1 to k).map(i => struct(
        lit(i.toLong).as("step"),
        lit(steps(i - 1)).as("step_name"),
        coalesce(col(s"__n$i"), lit(0L)).as("n_users"))): _*)).as("__s"))
      .select(col("__s.step"), col("__s.step_name"), col("__s.n_users"))
  }

  /** SESSIONIZED funnel — [[sessionize]] composed with the
    * [[funnelWalk]] chained-min, per (key, session): step progress
    * resets at every inactivity gap, so a user who views today and
    * clicks next week scores two one-step sessions, not one two-step
    * funnel. Sessions are over the STEP-TYPED events (the state a
    * streaming twin retains — [[graft.streaming.Streams
    * .sessionFunnelReach]] is this same semantics incremental, and
    * parity is spec-pinned). One shuffle on the key: the session
    * window and the per-session walk ride the same partitioning.
    * Returns (key, session_start, n_reached, n_events).
    */
  def sessionFunnel(df: DataFrame, key: String, ts: String,
      tiebreak: String, typeCol: String, gapSeconds: Long,
      steps: Seq[String]): DataFrame = {
    require(gapSeconds > 0, s"sessionFunnel: gapSeconds $gapSeconds")
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"sessionFunnel: steps must be non-empty and distinct, got $steps")
    val k = steps.length
    val stepsArr = array(steps.map(lit): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(ts), col(tiebreak))
    val gapUs = gapSeconds * 1000000L
    val prev = lag(col(ts), 1).over(w)
    val newSession = when(prev.isNull ||
      unix_micros(col(ts)) - unix_micros(prev) >= gapUs, 1L)
      .otherwise(0L)
    df.where(col(typeCol).isin(steps: _*) && col(ts).isNotNull)
      .withColumn("__sess", sum(newSession).over(w.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col(key), col("__sess"))
      .agg(min(col(ts)).as("session_start"),
        count(lit(1)).as("n_events"),
        aggregate(
          sort_array(collect_list(struct(col(ts).as("ts"),
            col(typeCol).as("et")))),
          array().cast("array<timestamp>"),
          (acc, e) => when(
            size(acc) < k &&
              e.getField("et") === get(stepsArr, size(acc)) &&
              coalesce(e.getField("ts") > get(acc, size(acc) - 1),
                lit(true)),
            concat(acc, array(e.getField("ts")))).otherwise(acc))
          .as("__walk"))
      .select(col(key), col("session_start"),
        size(col("__walk")).as("n_reached"), col("n_events"))
  }

  /** Path analysis: the most common length-`n` event-type sequences
    * across keys (users), from consecutive events in (ts, tiebreak)
    * order. Lead windows per key build the n-grams in place — one
    * shuffle on the key (the sessionize bound), then a small
    * (distinct-paths)-sized count aggregate; windows never cross
    * keys, so no global funnel. Ties in the top-k break on the path
    * for a deterministic cut.
    */
  def topPaths(df: DataFrame, key: String, ts: String, tiebreak: String,
      typeCol: String, n: Int, k: Int): DataFrame = {
    require(n >= 2 && n <= 8, s"topPaths: n $n")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(ts), col(tiebreak))
    val steps = (0 until n).map(i =>
      if (i == 0) col(typeCol) else lead(col(typeCol), i).over(w))
    val path = concat_ws(" -> ", steps: _*)
    df.withColumn("__path", path)
      // lead past the key's last event is NULL -> concat_ws drops it;
      // keep only complete n-grams (n-1 separators present)
      .where(size(split(col("__path"), " -> ")) === n)
      .groupBy(col("__path").as("path"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("path")).limit(k)
  }

  /** Per-GROUP discrete quantiles: the exact data point at rank
    * floor(p*(n-1)) within each group's sorted values — bit-for-bit
    * `quantile_disc` semantics (probed and pinned), which
    * df.stat.approxQuantile can't do per group. One window per group
    * (rank + size) and a conditional-max collapse; groups bound the
    * partitions. `ps` should be exact binary fractions (.25/.5/.75)
    * so rank arithmetic can't drift.
    */
  def groupQuantilesDisc(df: DataFrame, grp: String, value: String,
      ps: Seq[(String, Double)]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(grp)).orderBy(col(value))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col(grp))
    val ranked = df.where(col(value).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
    // quantile_disc rank = smallest r with r >= p*n, i.e.
    // max(1, ceil(p*n)) 1-based (probed against DuckDB across n/p
    // including float-edge products; the older floor(p*(n-1))+1 note
    // coincides only at quarter quantiles on some n)
    val exprs = ps.map { case (name, p) =>
      max(when(col("__rn") ===
        greatest(ceil(lit(p) * col("__n")), lit(1L)), col(value)))
        .as(name)
    }
    ranked.groupBy(col(grp)).agg(exprs.head, exprs.tail: _*)
  }

  /** SEASONAL DECOMPOSITION by one sweep of Tukey's median polish
    * (Tukey 1977; the robust additive model behind STL's inner loop):
    * value = seasonal(position) + trend(period) + residual, where
    * seasonal is the per-(series, position) MEDIAN across periods and
    * trend is the per-(series, period) median of the deseasonalized
    * values. Medians are exact discrete quantiles (the pinned
    * quantile_disc rank), so with integer inputs (counts) every
    * component is an INTEGER — the whole decomposition replays
    * bit-for-bit in any engine, where a mean-based decomposition
    * would drift in float fold order. Window partitions are
    * (series x positions) and (series x periods) — bounded by time
    * resolution and series cardinality, never by row count per se;
    * each window holds one value per period/position (the q245 rule).
    */
  def seasonalDecompose(df: DataFrame, series: String, period: String,
      position: String, value: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    def medOver(part: Seq[String], v: Column, rn: String, n: String,
        out: String)(d: DataFrame): DataFrame = {
      val wOrd = W.partitionBy(part.map(col): _*).orderBy(v)
      val wAll = W.partitionBy(part.map(col): _*)
      d.withColumn(rn, row_number().over(wOrd))
        .withColumn(n, count(lit(1)).over(wAll))
        .withColumn(out, max(when(col(rn) ===
          greatest(ceil(lit(0.5) * col(n)), lit(1L)), v)).over(wAll))
        .drop(rn, n)
    }
    val seas = medOver(Seq(series, position), col(value), "__r1",
      "__n1", "seasonal")(df.where(col(value).isNotNull))
    val detr = seas.withColumn("__detr", col(value) - col("seasonal"))
    medOver(Seq(series, period), col("__detr"), "__r2", "__n2",
      "trend")(detr)
      .withColumn("residual",
        col(value) - col("seasonal") - col("trend"))
      .select(col(series), col(period), col(position), col(value),
        col("seasonal"), col("trend"), col("residual"))
  }

  /** QUANTILE NORMALIZATION (Bolstad et al. 2003 — the microarray
    * technique, equally at home harmonizing per-source score
    * distributions in a data pipeline): rank every value within its
    * series, build the REFERENCE distribution as the cross-series
    * mean at each rank (exact decimal sums, one double divide, 6dp),
    * and map each value to the reference at its rank — after which
    * every series has an identical distribution. Ranks are
    * deterministic via the caller's tiebreak. Unequal series lengths
    * average over the series that reach the rank. The per-series
    * rank is a full per-series sort — the operator's contract (the
    * reference distribution IS order statistics); the rank table
    * itself is (max length) rows.
    */
  def quantileNormalize(df: DataFrame, series: String, value: String,
      tiebreak: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(series)).orderBy(col(value), col(tiebreak))
    val ranked = df.where(col(value).isNotNull)
      .withColumn("rank", row_number().over(w).cast("long"))
    val ref = ranked.groupBy(col("rank"))
      .agg(round(graft.QH.davg(col(value)), 6).as("normalized"))
    ranked.join(ref, Seq("rank"))
      .select(col(series), col(tiebreak), col(value), col("rank"),
        col("normalized"))
  }

  /** TRUNCATED EXPONENTIAL SMOOTHING with exact integer weights:
    * s_t = Σ_{k=0..W-1} w_k * x_{t-k}, where w_k = floor(scale *
    * num^k / den^k) is computed ONCE on the driver with exact BigInt
    * arithmetic — so the smoothed value is a fixed linear combination
    * of lags in pure long arithmetic, replayable anywhere, where a
    * recursive float EWMA drifts with history length and fold order.
    * Truncation at W terms drops tail weight (num/den)^W — pick W so
    * that's below the scale grain (e.g. den=2, W=20 -> 1e-6) and the
    * truncated form is indistinguishable from the infinite one at
    * the output precision. W lag reads over ONE window per series;
    * emits the smoothed value, the number of terms actually present
    * (series head has fewer), and the exact weight sum of those
    * terms so callers can normalize without re-deriving weights.
    */
  def ewmaTruncated(df: DataFrame, series: String, ord: String,
      value: String, num: Long, den: Long, window: Int,
      scale: Long = 1000000L): DataFrame = {
    require(num >= 1 && den > num, s"ewmaTruncated: decay $num/$den")
    require(window >= 1 && window <= 64, s"ewmaTruncated: W $window")
    val weights: Seq[Long] = {
      var n = BigInt(1); var d = BigInt(1)
      (0 until window).map { _ =>
        val w = (BigInt(scale) * n / d).toLong
        n *= num; d *= den
        w
      }
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(series)).orderBy(col(ord))
    val lags = weights.zipWithIndex.map { case (wk, k) =>
      (lag(col(value).cast("long"), k).over(w), wk)
    }
    val sTerm = lags.map { case (c, wk) =>
      coalesce(c * wk, lit(0L)) }.reduce(_ + _)
    val nTerm = lags.map { case (c, _) =>
      when(c.isNotNull, 1L).otherwise(0L) }.reduce(_ + _)
    val wSum = lags.map { case (c, wk) =>
      when(c.isNotNull, wk).otherwise(0L) }.reduce(_ + _)
    df.withColumn("smoothed_q", sTerm)
      .withColumn("n_terms", nTerm)
      .withColumn("weight_sum", wSum)
  }

  /** AUTOCORRELATION function (Box & Jenkins): per series, r_k =
    * Σ (x_t - mean)(x_{t-k} - mean) / Σ (x_t - mean)^2 for k =
    * 1..maxLag — the seasonality/memory diagnostic read before any
    * forecasting model choice. The mean comes from exact decimal
    * sums (one double divide), the centered cross-products go back
    * through exact decimal sums, and each ratio is one fixed double
    * divide rounded 6dp — deterministic on any engine. K lag columns
    * over ONE window per series + one grouped aggregate; emits long
    * format (series, lag, n_pairs, acf).
    */
  def autocorrelation(df: DataFrame, series: String, ord: String,
      value: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 64, s"autocorrelation: $maxLag")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(series)).orderBy(col(ord))
    val means = df.groupBy(col(series))
      .agg((graft.QH.dsum(col(value)) /
        count(col(value)).cast("double")).as("__m"))
    val lagged = (1 to maxLag).foldLeft(
      df.join(means, Seq(series))) { (d, k) =>
      d.withColumn(s"__l$k",
        lag(col(value).cast("double"), k).over(w))
    }
    def dsumD(c: Column): Column =
      sum(c.cast("decimal(38,10)")).cast("double")
    val aggs =
      dsumD((col(value).cast("double") - col("__m")) *
        (col(value).cast("double") - col("__m"))).as("__den") +:
      (1 to maxLag).flatMap(k => Seq(
        dsumD(when(col(s"__l$k").isNotNull,
          (col(value).cast("double") - col("__m")) *
            (col(s"__l$k") - col("__m")))).as(s"__num$k"),
        sum(when(col(s"__l$k").isNotNull, 1L).otherwise(0L))
          .as(s"__np$k")))
    val row = lagged.groupBy(col(series))
      .agg(aggs.head, aggs.tail: _*)
    val outs = (1 to maxLag).map(k => struct(
      lit(k.toLong).as("lag"), col(s"__np$k").as("n_pairs"),
      round(coalesce(col(s"__num$k"), lit(0.0)) / col("__den"), 6)
        .as("acf")))
    row.select(col(series), explode(array(outs: _*)).as("__o"))
      .select(col(series), col("__o.lag"), col("__o.n_pairs"),
        col("__o.acf"))
  }

  /** MARKOV TRANSITION MATRIX: per-key next-state pairs (lead over
    * the (ord, tiebreak) axis — tiebreak makes the sequence total-
    * ordered so ties can't reorder states across engines), counted
    * into (from_state, to_state, n) with the row-conditional
    * probability as integer ppm (floor division — exact, fold-order
    * free). The first-order behavioral model read: what users do
    * NEXT. One key shuffle for the window, then one partial-agg
    * shuffle on the pair — the window partitioning does not feed the
    * pair agg, but both are map-side combinable.
    */
  def transitionMatrix(df: DataFrame, key: String, ord: String,
      tiebreak: String, state: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(ord), col(tiebreak))
    val pairs = df
      .withColumn("__to", lead(col(state), 1).over(w))
      .where(col("__to").isNotNull)
      .groupBy(col(state).as("from_state"), col("__to").as("to_state"))
      .agg(count(lit(1)).as("n"))
    val tot = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_state"))
    pairs
      .withColumn("row_total", sum(col("n")).over(tot))
      .withColumn("prob_ppm",
        expr("(n * 1000000L) div row_total"))
      .select(col("from_state"), col("to_state"), col("n"),
        col("row_total"), col("prob_ppm"))
  }

  /** PARTIAL AUTOCORRELATION, lags 1..3, via the Durbin-Levinson
    * recursion UNROLLED to closed form over the 6dp-ROUNDED ACF
    * values ([[autocorrelation]]):
    *   pacf1 = r1
    *   pacf2 = (r2 - r1^2) / (1 - r1^2)
    *   phi21 = r1 * (1 - pacf2)
    *   pacf3 = (r3 - phi21*r2 - pacf2*r1) /
    *           (1 - phi21*r1 - pacf2*r2)
    * Starting from ROUNDED r's makes the inputs exact decimals
    * shared across engines, so each pacf is a short fixed-order
    * double expression rounded 6dp — deterministic. Degenerate
    * denominators (|r1| = 1 etc.) yield NULL explicitly rather than
    * engine-dependent infinities. The AR-order diagnostic read next
    * to [[autocorrelation]]'s MA read.
    */
  def pacf(df: DataFrame, series: String, ord: String,
      value: String): DataFrame = {
    val acf = autocorrelation(df, series, ord, value, maxLag = 3)
    val wide = acf.groupBy(col(series)).agg(
      max(when(col("lag") === 1, col("acf"))).as("r1"),
      max(when(col("lag") === 2, col("acf"))).as("r2"),
      max(when(col("lag") === 3, col("acf"))).as("r3"))
    val p2den = lit(1.0) - col("r1") * col("r1")
    val pacf2 = (col("r2") - col("r1") * col("r1")) /
      nullif(p2den, lit(0.0))
    val out = wide
      .withColumn("pacf1", round(col("r1"), 6))
      .withColumn("__p2", pacf2)
      .withColumn("__phi21", col("r1") * (lit(1.0) - col("__p2")))
      .withColumn("pacf2", round(col("__p2"), 6))
      .withColumn("__p3den", lit(1.0) - col("__phi21") * col("r1") -
        col("__p2") * col("r2"))
      .withColumn("pacf3", round(
        (col("r3") - col("__phi21") * col("r2") -
          col("__p2") * col("r1")) / nullif(col("__p3den"), lit(0.0)),
        6))
    out.select(col(series), col("pacf1"), col("pacf2"), col("pacf3"))
  }

  /** SPLIT-CONFORMAL calibration (Vovk et al. 2005; Lei et al.
    * 2018): per series, the finite-sample quantile of calibration
    * |residuals| at EXACT rank ceil((n+1)(1-alpha)) — the rank that
    * makes "prediction ± qhat" cover fresh exchangeable points with
    * probability >= 1-alpha, distribution-free. alpha arrives as a
    * rational so the rank is pure integer arithmetic; with integer
    * residuals qhat is an integer and the coverage COUNT (|r| <=
    * qhat on the calibration set itself, reported for audit) can
    * never flip across engines. One window per series (calibration
    * sets are per-series bounded). Emits (series, n_cal, qhat,
    * n_covered).
    */
  def splitConformal(df: DataFrame, series: String, residual: Column,
      alphaNum: Long, alphaDen: Long): DataFrame = {
    require(alphaNum >= 1 && alphaNum < alphaDen,
      s"splitConformal: alpha $alphaNum/$alphaDen")
    val W = org.apache.spark.sql.expressions.Window
    val wOrd = W.partitionBy(col(series)).orderBy(col("__ar"))
    val wAll = W.partitionBy(col(series))
    val ranked = df.where(residual.isNotNull)
      .withColumn("__ar", abs(residual))
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__n", count(lit(1)).over(wAll))
      // rank = ceil((n+1)*(den-num)/den), clamped to n (a tiny
      // calibration set can demand rank n+1 = "infinite qhat"; the
      // clamp reports the max residual instead — callers with
      // n < den/num - 1 should not trust the guarantee anyway)
      .withColumn("__r", least(col("__n"), expr(
        s"((__n + 1L) * ${alphaDen - alphaNum}L + ${alphaDen}L - 1L)" +
          s" div ${alphaDen}L")))
      .withColumn("__qhat",
        max(when(col("__rn") === col("__r"), col("__ar"))).over(wAll))
    ranked.groupBy(col(series))
      .agg(max(col("__n")).as("n_cal"),
        max(col("__qhat")).as("qhat"),
        sum(when(col("__ar") <= col("__qhat"), 1L).otherwise(0L))
          .as("n_covered"))
  }

  /** THEIL-SEN robust trend (Theil 1950; Sen 1968): per series, the
    * slope is the MEDIAN of all pairwise slopes (y_j-y_i)/(x_j-x_i)
    * and the intercept the median of y_i - m*x_i — a 29%-breakdown
    * estimator where least squares is wrecked by one bad day. Slopes
    * QUANTIZE immediately — floor(scale * dy / dx), one IEEE divide
    * + floor, identical in every engine — so both medians are
    * discrete quantiles over INTEGER multisets (the pinned
    * quantile_disc rank) and the fit replays exactly. The pairwise
    * stage is per-series quadratic in POINT count — time-resolution
    * bounded (daily/hourly aggregates), census-guarded by
    * `maxPoints` before the join runs. Emits (series, n_points,
    * slope_q, intercept_q) at `scale` fixed-point.
    */
  /** THEIL-SEN slope CONFIDENCE BAND (Hirsch-Slack/Gilbert): the
    * rank-based interval over the pairwise-slope distribution —
    * lower/upper = the ⌊(N − c_α)/2⌋+1-th and min(N, ⌈(N + c_α)/2⌉+1)
    * -th smallest of the N = Σ pairs slopes, with c_α = z·√Var S
    * (the tie-corrected Mann-Kendall variance). Distribution-free:
    * no residual normality assumed, which is the point of using
    * Theil-Sen at all. Slopes quantize to integer `scale` units (the
    * [[theilSen]] convention) so rank selection is exact; the only
    * doubles are c_α (fixed-order, identical both engines) and the
    * final unscaling. Plan: the same guarded per-series pairwise
    * join as [[theilSen]], one slope census, one census-bounded
    * cumulative window, three rank picks per series.
    */
  def theilSenCi(df: DataFrame, series: String, x: String, y: String,
      z: Double = 1.959964, scale: Long = 1000000L,
      maxPoints: Int = 10000): DataFrame = {
    require(z > 0 && scale >= 1, s"theilSenCi: z=$z scale=$scale")
    val pts = graft.Caches.pin(df.select(col(series),
      col(x).cast("long").as("__x"), col(y).cast("long").as("__y")))
    graft.ops.Guard(pts.groupBy(col(series)).count(), col("count"),
      maxPoints, "theilSenCi", w => s"a series holds $w points",
      "aggregate to a coarser time grain first")
    val a = pts.select(col(series), col("__x").as("xa"),
      col("__y").as("ya"))
    val b = pts.select(col(series), col("__x").as("xb"),
      col("__y").as("yb"))
    val census = a.join(b, Seq(series))
      .where(col("xa") < col("xb"))
      .select(col(series),
        floor(lit(scale.toDouble) *
          (col("yb") - col("ya")).cast("double") /
          (col("xb") - col("xa")).cast("double")).cast("long")
          .as("__sq"))
      .groupBy(col(series), col("__sq"))
      .agg(count(lit(1)).as("__c"))
    // Mann-Kendall Var S with the value-tie correction (q327's form)
    val nPts = pts.groupBy(col(series)).agg(count(lit(1)).as("__np"))
    val ties = pts.groupBy(col(series), col("__y"))
      .agg(count(lit(1)).as("__tg"))
      .groupBy(col(series))
      .agg(sum(col("__tg") * (col("__tg") - 1) *
        (lit(2L) * col("__tg") + 5)).as("__tie"))
    val nPairs = census.groupBy(col(series))
      .agg(sum(col("__c")).as("__npair"))
    val varS = (col("__np") * (col("__np") - 1) *
      (lit(2L) * col("__np") + 5) - col("__tie")).cast("double") /
      lit(18.0)
    val cA = lit(z) * sqrt(varS)
    val nD = col("__npair").cast("double")
    val ranks = nPts.join(ties, Seq(series)).join(nPairs, Seq(series))
      .select(col(series), col("__np"), col("__npair"),
        greatest(lit(1L),
          (floor((nD - cA) / lit(2.0)) + lit(1.0)).cast("long"))
          .as("__rlo"),
        least(col("__npair"),
          (ceil((nD + cA) / lit(2.0)) + lit(1.0)).cast("long"))
          .as("__rhi"),
        expr("(__npair + 1) div 2").as("__rmed")) // integer div: a
        // double (n+1)/2 would CAST-round differently across engines
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col(series)).orderBy(col("__sq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = census.withColumn("__cum", sum(col("__c")).over(wCum))
    cum.join(ranks, Seq(series))
      .groupBy(col(series))
      .agg(first(col("__np")).as("n_points"),
        first(col("__npair")).as("n_pairs"),
        min(when(col("__cum") >= col("__rmed"), col("__sq")))
          .as("__smed"),
        min(when(col("__cum") >= col("__rlo"), col("__sq")))
          .as("__slo"),
        min(when(col("__cum") >= col("__rhi"), col("__sq")))
          .as("__shi"))
      .select(col(series), col("n_points"), col("n_pairs"),
        round(col("__smed").cast("double") / lit(scale.toDouble), 6)
          .as("slope"),
        round(col("__slo").cast("double") / lit(scale.toDouble), 6)
          .as("slope_lo"),
        round(col("__shi").cast("double") / lit(scale.toDouble), 6)
          .as("slope_hi"))
      .orderBy(col(series))
  }

  def theilSen(df: DataFrame, series: String, x: String, y: String,
      scale: Long = 1000000L, maxPoints: Int = 10000): DataFrame = {
    require(scale >= 1, s"theilSen: scale $scale")
    val pts = df.select(col(series), col(x).cast("long").as("__x"),
      col(y).cast("long").as("__y"))
    graft.ops.Guard(pts.groupBy(col(series)).count(), col("count"),
      maxPoints, "theilSen", w => s"a series holds $w points",
      "aggregate to a coarser time grain first")
    val a = pts.select(col(series), col("__x").as("xa"),
      col("__y").as("ya"))
    val b = pts.select(col(series), col("__x").as("xb"),
      col("__y").as("yb"))
    val slopes = a.join(b, Seq(series))
      .where(col("xa") < col("xb"))
      .select(col(series),
        floor(lit(scale.toDouble) *
          (col("yb") - col("ya")).cast("double") /
          (col("xb") - col("xa")).cast("double")).cast("long")
          .as("__s"))
    val m = groupQuantilesDisc(slopes, series, "__s",
      Seq(("slope_q", 0.5)))
    val resid = pts.join(m, Seq(series))
      .select(col(series), col("slope_q"),
        (col("__y") * scale - col("slope_q") * col("__x"))
          .as("__r"))
    val icpt = groupQuantilesDisc(resid, series, "__r",
      Seq(("intercept_q", 0.5)))
    pts.groupBy(col(series)).agg(count(lit(1)).as("n_points"))
      .join(m, Seq(series)).join(icpt, Seq(series))
      .select(col(series), col("n_points"), col("slope_q"),
        col("intercept_q"))
  }

  /** INTEGER CUSUM change detection (Page 1954): per series, the
    * one-sided cumulative sums
    *
    *   s_pos_t = max(0, s_pos_{t-1} + (x_t - target - slack))
    *   s_neg_t = max(0, s_neg_{t-1} - (x_t - target + slack))
    *
    * flag sustained upward / downward shifts the moment they
    * accumulate past `threshold`. The recursion LOOKS sequential but
    * has the classic closed form s_t = P_t - min_{j<=t} P_j over the
    * prefix sums P of the deviations — a running sum and a running
    * min, two frames over ONE window per series (no sequential
    * state, no UDF). With integer inputs and integer target/slack
    * every quantity is an integer: the alarm bit can never flip
    * across engines or replays. Window partitions are per-series
    * time points — bounded by time resolution (the q245 rule).
    * `target` is a Column so callers can join per-series baselines
    * (e.g. the series median). Emits (series, ord, x, s_pos, s_neg,
    * alarm).
    */
  def cusum(df: DataFrame, series: String, ord: String, value: String,
      target: Column, slack: Long, threshold: Long): DataFrame = {
    require(slack >= 0 && threshold > 0,
      s"cusum: slack $slack threshold $threshold")
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col(series)).orderBy(col(ord))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val devPos = col(value) - target - lit(slack)
    val devNeg = -(col(value) - target + lit(slack))
    val d = df
      .withColumn("__pp", sum(devPos).over(w))
      .withColumn("__pn", sum(devNeg).over(w))
    d.withColumn("s_pos",
        col("__pp") - least(min(col("__pp")).over(w), lit(0L)))
      .withColumn("s_neg",
        col("__pn") - least(min(col("__pn")).over(w), lit(0L)))
      .withColumn("alarm",
        (col("s_pos") > threshold || col("s_neg") > threshold)
          .cast("int"))
      .select(col(series), col(ord), col(value), col("s_pos"),
        col("s_neg"), col("alarm"))
  }

  /** PAGE–HINKLEY drift detector (Page 1954 §5; the streaming-ML
    * drift standard — Gama et al. 2014 survey §4.2): where [[cusum]]
    * needs a KNOWN target, PH tracks deviation from the RUNNING
    * mean, detecting drift with no baseline given:
    *
    *   m_t = Σ_{i≤t} (x_i − x̄_i − δ),  PH⁺_t = m_t − min_{j≤t} m_j
    *
    * (and the symmetric decrease side PH⁻), alarm past λ. The
    * running mean x̄_i = P_i/i is the only non-integer ingredient;
    * it is pinned to the 1e-6 lattice by integer floor division
    * (P_i·1e6 div i), so every deviation term, both prefix extrema,
    * and the alarm bit are exact integers — engine-invariant like
    * cusum, same closed-form two-frames-over-one-window plan (no
    * sequential state). Prefix sums ride decimal(38,0) so count-
    * scale values can't overflow; the emitted PH columns cast back
    * to long (they live at alarm scale by construction).
    *
    * `value` must be integer (the cusum contract); `deltaQ` and
    * `lambdaQ` are in 1e-6 units of value. `ord` must be a total
    * order within each series.
    */
  def pageHinkley(df: DataFrame, series: String, ord: String,
      value: String, deltaQ: Long, lambdaQ: Long): DataFrame = {
    require(deltaQ >= 0 && lambdaQ > 0,
      s"pageHinkley: deltaQ $deltaQ lambdaQ $lambdaQ")
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col(series)).orderBy(col(ord))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val d = df
      .withColumn("__i", count(lit(1)).over(w))
      .withColumn("__p", sum(dec(col(value))).over(w))
      // div, not decimal "/": Spark's decimal divide rounds to the
      // result scale (HALF_UP) where DuckDB's // floors — div is the
      // exact integral quotient on both engines. `value` must be
      // NONNEGATIVE (counts): for negative prefixes div truncates
      // toward zero, which is not floor.
      .withColumn("__dev",
        dec(col(value)) * lit(1000000L) -
          expr("(__p * 1000000L) div __i").cast("decimal(38,0)") -
          lit(deltaQ))
    val m = d.withColumn("__m", sum(col("__dev")).over(w))
    m.withColumn("ph_pos",
        (col("__m") - least(min(col("__m")).over(w), lit(0L)))
          .cast("long"))
      .withColumn("ph_neg",
        (greatest(max(col("__m")).over(w), lit(0L)) - col("__m"))
          .cast("long"))
      .withColumn("alarm",
        (col("ph_pos") > lambdaQ || col("ph_neg") > lambdaQ)
          .cast("int"))
      .select(col(series), col(ord), col(value), col("ph_pos"),
        col("ph_neg"), col("alarm"))
  }

  /** CAPTURE-RECAPTURE POPULATION ESTIMATE (Lincoln-Petersen;
    * Chapman 1951 small-sample correction) — "how many distinct
    * users exist, counting the ones we never saw": two observation
    * channels A and B mark their distinct keys, the overlap plays
    * the recapture, and N̂ = (n_A+1)(n_B+1)/(m+1) − 1 estimates the
    * total population under independent capture. Pure integer
    * arithmetic (floor division), one grouped pass over the keys —
    * the demographic estimator behind "true reach" questions no
    * distinct count can answer.
    *
    * Emits one row: (n_a, n_b, overlap, seen = |A∪B|, chapman_est,
    * lincoln_petersen_est — NULL when the overlap is empty).
    */
  def captureRecapture(df: DataFrame, key: Column, inA: Column,
      inB: Column): DataFrame = {
    val perKey = df.select(key.as("__k"),
        inA.cast("boolean").as("__a"), inB.cast("boolean").as("__b"))
      .groupBy(col("__k"))
      .agg(max(col("__a")).as("__ia"), max(col("__b")).as("__ib"))
      .where(col("__ia") || col("__ib"))
    perKey.agg(
        sum(col("__ia").cast("long")).as("n_a"),
        sum(col("__ib").cast("long")).as("n_b"),
        sum((col("__ia") && col("__ib")).cast("long")).as("overlap"),
        count(lit(1)).as("seen"))
      .select(col("n_a"), col("n_b"), col("overlap"), col("seen"),
        // integral division over a DECIMAL(38,0) product: the long
        // multiply (n_a+1)(n_b+1) would ANSI-overflow past ~3e9 per
        // channel (the q314 class) and a double floor loses integer
        // exactness past 2^53 (~9.5e7 per channel) — `div` of exact
        // decimals floors exactly at any channel size (operands
        // positive, so floor == truncate on both engines)
        (expr("((CAST(n_a AS DECIMAL(38,0)) + 1) * " +
          "(CAST(n_b AS DECIMAL(38,0)) + 1)) div (overlap + 1)")
          .cast("long") - 1L).as("chapman_est"),
        when(col("overlap") > 0,
          expr("(CAST(n_a AS DECIMAL(38,0)) * " +
            "CAST(n_b AS DECIMAL(38,0))) div overlap").cast("long"))
          .as("lincoln_petersen_est"))
  }

  /** SINGLE-CHANGEPOINT DETECTION per series (binary segmentation's
    * first split; Scott & Knott 1974 / the AMOC case of PELT): the
    * split l that minimizes two-segment SSE over the ordered series,
    * equivalently MAXIMIZES g(l) = S_l²/l + (S−S_l)²/(n−l) (the
    * between-segment explained sum — SSE algebra with the constant
    * ΣX² dropped). `value` must be INTEGER-valued (callers quantize,
    * the [[gini]] contract): prefix sums are then exact longs, and
    * g computes per split in a fixed 5-flop double expression of
    * identical exact operands — bit-identical on any IEEE engine, so
    * the argmax (earliest-l tiebreak) is deterministic and the
    * emitted integers replay exactly. No rounded float is ever
    * hashed.
    *
    * Plan shape: ONE per-series ordered window (running sum + total
    * via unbounded frames) + one per-series rank pick — partitions
    * are per-series time points, bounded by time resolution (the
    * q245 rule). Emits (series, split_ord = last ord of the left
    * segment, n_left, sum_left, n_right, sum_right).
    */
  def changepoint(df: DataFrame, series: String, ord: String,
      value: Column): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val wRun = W.partitionBy(col(series)).orderBy(col(ord))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val wAll = W.partitionBy(col(series))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val p = df.select(col(series), col(ord), value.cast("long")
        .as("__x"))
      .withColumn("__sl", sum(col("__x")).over(wRun))
      .withColumn("__l", count(lit(1)).over(wRun))
      .withColumn("__s", sum(col("__x")).over(wAll))
      .withColumn("__n", count(lit(1)).over(wAll))
      .where(col("__l") < col("__n")) // a split needs both sides
    val sl = col("__sl").cast("double")
    val sr = (col("__s") - col("__sl")).cast("double")
    val g = sl * sl / col("__l").cast("double") +
      sr * sr / (col("__n") - col("__l")).cast("double")
    val pick = W.partitionBy(col(series))
      .orderBy(g.desc, col(ord))
    p.withColumn("__rn", row_number().over(pick))
      .where(col("__rn") === 1)
      .select(col(series), col(ord).as("split_ord"),
        col("__l").as("n_left"), col("__sl").as("sum_left"),
        (col("__n") - col("__l")).as("n_right"),
        (col("__s") - col("__sl")).as("sum_right"))
  }

  /** MAXIMUM DRAWDOWN per series — the peak-to-trough risk read over
    * a cumulative curve (equity curves, cumulative revenue, any
    * running total): cum_t = running exact-decimal sum of `value`,
    * peak_t = running max of cum, drawdown_t = peak_t - cum_t, and
    * the output row per series is the deepest drawdown with the
    * FIRST time it occurs (exact-decimal comparisons, earliest-time
    * tiebreak — deterministic on any engine). Three frames over ONE
    * per-series window exchange; partitions are per-series time
    * points, bounded by time resolution (the q245 rule). Input is
    * one row per (series, ord).
    */
  def maxDrawdown(df: DataFrame, series: String, ord: String,
      value: Column): DataFrame = {
    val w = Window.partitionBy(col(series)).orderBy(col(ord))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = df
      .withColumn("__cum", sum(value.cast("decimal(25,6)")).over(w))
      .withColumn("__peak", max(col("__cum")).over(w))
      .withColumn("__dd", col("__peak") - col("__cum"))
    val pick = Window.partitionBy(col(series))
      .orderBy(col("__dd").desc, col(ord))
    dd.withColumn("__rn", row_number().over(pick))
      .where(col("__rn") === 1)
      .select(col(series), col(ord).as("at"),
        col("__peak").cast("double").as("peak"),
        col("__dd").cast("double").as("max_drawdown"))
  }

  /** GINI COEFFICIENT per group — the concentration read behind
    * every "top x% of customers drive y% of revenue" claim,
    * complementing the q249 Pareto cut with a single scalar:
    * G = (2·Σ i·xᵢ - (n+1)·Σx) / (n·Σx) over x sorted ascending
    * (rank formula; ties broken by `tiebreak` for a total order).
    * Values are quantized to integer millionths BEFORE the rank
    * products, so both sums are exact integers (decimal(38,0)
    * accumulators — i·x reaches ~2e17 at sf1) and G is one fixed-
    * order double expression, 6dp. One per-group rank window + one
    * grouped aggregate.
    */
  def gini(df: DataFrame, grp: String, value: Column,
      tiebreak: Column): DataFrame = {
    val xu = floor(value * lit(1000000.0) + lit(0.5)).cast("long")
    // The rank formula assumes non-negative values (a negative x
    // drives G outside [0,1], and the half-up floor rounds negatives
    // asymmetrically) — enforce the contract in-plan: any negative
    // quantized value fails the job rather than emitting a wrong
    // coefficient.
    val xuGuarded = when(xu >= 0, xu).otherwise(
      raise_error(concat(lit("gini: negative value "),
        value.cast("string"), lit(" — non-negative contract"))))
    df.select(col(grp), xuGuarded.as("__xu"), tiebreak.as("__tb"))
      .withColumn("__i", row_number().over(
        Window.partitionBy(col(grp)).orderBy(col("__xu"), col("__tb"))))
      .groupBy(col(grp))
      .agg(count(lit(1)).as("n"),
        sum(col("__xu").cast("decimal(38,0)")).as("sx"),
        sum((col("__i") * col("__xu")).cast("decimal(38,0)"))
          .as("six"))
      .select(col(grp), col("n"),
        round((lit(2.0) * col("six").cast("double") -
            (col("n") + lit(1)).cast("double") *
              col("sx").cast("double")) /
          (col("n").cast("double") * col("sx").cast("double")), 6)
          .as("gini"))
  }

  /** Robust anomaly flags: per-group median/IQR (exact discrete
    * quantiles) and the classic |x - median| > k*IQR outlier rule.
    * With integer-valued inputs (counts) every quantity in the
    * comparison is an integer — the flag can never flip across
    * engines or replays. Groups are the analysis dimension (bounded);
    * data volume only enters through the grouped quantile windows.
    */
  def robustAnomalies(df: DataFrame, grp: String, value: String,
      k: Double = 3.0): DataFrame = {
    val qs = groupQuantilesDisc(df, grp, value,
      Seq(("q25", 0.25), ("med", 0.5), ("q75", 0.75)))
    df.join(qs, Seq(grp))
      .withColumn("iqr", col("q75") - col("q25"))
      .withColumn("is_anomaly",
        (abs(col(value) - col("med")) > lit(k) * col("iqr"))
          .cast("int"))
  }

  /** Cohort retention: assign each key (user) to the week of its first
    * event, then count distinct keys from each cohort active in each
    * subsequent week. Output (cohort_week, week_no, n_users) where
    * week_no is whole weeks since the cohort week.
    *
    * Two shuffles on the key (first-event census, then the
    * events-to-cohort join — both sides hash-partitioned on the key,
    * so AQE plans one co-partitioned join) plus the final small
    * aggregate on (cohort, week). Weeks are date_trunc'd to Monday
    * (the convention Spark and DuckDB share), so the day difference
    * between two week-starts is an exact multiple of 7 under the
    * pinned UTC session and the integer division is exact.
    */
  def cohort(df: DataFrame, key: String, ts: String): DataFrame = {
    val firsts = df.where(col(ts).isNotNull).groupBy(col(key))
      .agg(date_trunc("week", min(col(ts))).as("__cw"))
    df.where(col(ts).isNotNull)
      .select(col(key), date_trunc("week", col(ts)).as("__aw"))
      .join(firsts, Seq(key))
      .select(col(key), col("__cw"), col("__aw")).distinct()
      .groupBy(to_date(col("__cw")).as("cohort_week"),
        expr("datediff(__aw, __cw) div 7").as("week_no"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Pearson chi-square test of independence over a two-way
    * contingency table: per cell the observed count (exact integer),
    * expected count row_total*col_total/N and the (obs-exp)²/exp
    * contribution (both computed in one fixed double operation order
    * and rounded 6dp — the corr convention). The statistic is the
    * contribution sum; significance lookup is the caller's (tables
    * are public). One grouped count + two broadcast marginals —
    * cells are category-bounded, data volume only enters the count.
    */
  def chiSquare(df: DataFrame, rowCol: String,
      colCol: String): DataFrame = {
    val cells = df.where(col(rowCol).isNotNull && col(colCol).isNotNull)
      .groupBy(col(rowCol), col(colCol))
      .agg(count(lit(1)).as("obs"))
    val rowT = cells.groupBy(col(rowCol)).agg(sum(col("obs")).as("__rt"))
    val colT = cells.groupBy(col(colCol)).agg(sum(col("obs")).as("__ct"))
    val n = cells.agg(sum(col("obs")).as("__n"))
    cells.join(broadcast(rowT), Seq(rowCol))
      .join(broadcast(colT), Seq(colCol))
      .crossJoin(broadcast(n))
      .withColumn("expected", round(
        col("__rt").cast("double") * col("__ct").cast("double") /
          col("__n").cast("double"), 6))
      .withColumn("contrib", round(
        (col("obs").cast("double") -
          col("__rt").cast("double") * col("__ct").cast("double") /
            col("__n").cast("double")) *
        (col("obs").cast("double") -
          col("__rt").cast("double") * col("__ct").cast("double") /
            col("__n").cast("double")) /
        (col("__rt").cast("double") * col("__ct").cast("double") /
          col("__n").cast("double")), 6))
      .select(col(rowCol), col(colCol), col("obs"), col("expected"),
        col("contrib"))
  }

  /** Pairwise Pearson correlation matrix over numeric columns from
    * ORDER-FREE exact sums (the dstd/q205 pattern): every Sx/Sxx/Sxy
    * accumulates in wide decimals, the closed form
    * (n*Sxy - Sx*Sy)/sqrt((n*Sxx - Sx²)(n*Syy - Sy²)) evaluates in
    * identical double ops on both engines, rounded 6dp. ONE aggregate
    * pass computes all k(k+1)/2 sums — adding a column pair adds
    * state, never a scan.
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"corrMatrix: need 2+ columns, got $cols")
    val spark = df.sparkSession
    import spark.implicits._
    def s1(c: String) = graft.QH.dsum(col(c)).as(s"__s_$c")
    def s2(a: String, b: String) =
      sum((col(a).cast("double") * col(b).cast("double"))
        .cast("decimal(38,10)")).cast("double").as(s"__p_${a}__$b")
    val aggs = cols.map(s1) ++
      (for { i <- cols.indices; j <- i until cols.size }
        yield s2(cols(i), cols(j))) :+
      count(lit(1)).cast("double").as("__n")
    val row = df.agg(aggs.head, aggs.tail: _*)
    val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
      yield (cols(i), cols(j))
    pairs.toDF("col_a", "col_b").crossJoin(broadcast(row))
      .withColumn("corr", round(coalesce(
        pairs.map { case (a, b) =>
          val num = col("__n") * col(s"__p_${a}__$b") -
            col(s"__s_$a") * col(s"__s_$b")
          val den = sqrt((col("__n") * col(s"__p_${a}__$a") -
            col(s"__s_$a") * col(s"__s_$a")) *
            (col("__n") * col(s"__p_${b}__$b") -
              col(s"__s_$b") * col(s"__s_$b")))
          when(col("col_a") === a && col("col_b") === b, num / den)
        }: _*), 6))
      .select(col("col_a"), col("col_b"), col("corr"))
  }

  /** WINSORIZATION summary per group: clip bounds at the exact
    * discrete p-lo/p-hi quantiles ([[groupQuantilesDisc]] —
    * bit-for-bit quantile_disc), counts clipped each side, and the
    * exact-decimal sum after clipping. Bounds and counts are exact;
    * the one aggregate sum goes through the decimal path — fully
    * engine-replayable, unlike mean/stddev-based trimming.
    */
  def winsorizeSummary(df: DataFrame, grp: String, value: String,
      pLo: Double = 0.01, pHi: Double = 0.99): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"winsorizeSummary: ($pLo, $pHi)")
    val qs = groupQuantilesDisc(df, grp, value,
      Seq("lo" -> pLo, "hi" -> pHi))
    df.where(col(value).isNotNull)
      .join(broadcast(qs), Seq(grp))
      .groupBy(col(grp))
      .agg(first(col("lo")).as("lo"), first(col("hi")).as("hi"),
        count(when(col(value) < col("lo"), 1)).as("n_low"),
        count(when(col(value) > col("hi"), 1)).as("n_high"),
        count(lit(1)).as("n"),
        graft.QH.dsum(greatest(least(col(value), col("hi")),
          col("lo"))).as("sum_clipped"))
  }

  /** Seasonal-naive forecast error (the baseline every forecasting
    * paper reports): per (group, season position) the series of
    * per-period counts, forecast = previous period's count at the
    * same position (lag over the position partition), MAE over the
    * scored periods. Counts are integers, so every absolute error is
    * an integer and the MAE is an exact ratio rounded 6dp.
    * `seasonCol`/`periodCol` are caller-derived (e.g. hour-of-day /
    * date); windows partition (group, position) — bounded groups,
    * one shuffle.
    */
  def seasonalNaiveMae(df: DataFrame, grp: String, seasonCol: Column,
      periodCol: Column): DataFrame = {
    val counts = df
      .groupBy(col(grp), seasonCol.as("__pos"), periodCol.as("__per"))
      .agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(grp), col("__pos")).orderBy(col("__per"))
    counts.withColumn("__prev", lag(col("__c"), 1).over(w))
      .where(col("__prev").isNotNull)
      .groupBy(col(grp))
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("__c") - col("__prev"))).as("abs_err_sum"))
      .withColumn("mae", round(col("abs_err_sum").cast("double") /
        col("n_scored").cast("double"), 6))
  }

  /** RFM customer segmentation (Hughes 1994, the standard
    * direct-marketing model): per customer, Recency (days from last
    * order to the corpus max date), Frequency (order count),
    * Monetary (exact-decimal spend), each scored 1..`buckets` by
    * EXACT ntile — low recency scores high, high frequency/monetary
    * score high — plus the concatenated segment code ("555" = best).
    * Ntiles run via [[graft.ops.ScanOps.ntile]] (ranged rank, no
    * single-partition window) with the customer key as tiebreak, so
    * every score — hence every segment — is engine-replayable. One
    * grouped aggregate over orders + three bounded sorts of the
    * customer-sized RFM table.
    */
  def rfm(orders: DataFrame, custKey: String, orderDate: String,
      amount: String, buckets: Int = 5): DataFrame = {
    require(buckets >= 2 && buckets <= 9, s"rfm: buckets $buckets")
    val base = orders.where(col(orderDate).isNotNull)
      .groupBy(col(custKey))
      .agg(max(col(orderDate)).as("__last"),
        count(lit(1)).as("frequency"),
        sum(col(amount).cast("decimal(25,6)")).cast("double")
          .as("monetary"))
    val withR = base
      .crossJoin(broadcast(base.agg(max(col("__last")).as("__maxd"))))
      .withColumn("recency_days",
        expr("datediff(__maxd, __last)").cast("long"))
    val r = graft.ops.ScanOps.ntile(withR,
      Seq(col("recency_days").asc, col(custKey).asc), buckets, "__rb")
    val f = graft.ops.ScanOps.ntile(r,
      Seq(col("frequency").asc, col(custKey).asc), buckets, "__fb")
    val m = graft.ops.ScanOps.ntile(f,
      Seq(col("monetary").asc, col(custKey).asc), buckets, "__mb")
    m.withColumn("r_score",
        (lit(buckets + 1) - col("__rb")).cast("long")) // recent = high
      .withColumn("f_score", col("__fb").cast("long"))
      .withColumn("m_score", col("__mb").cast("long"))
      .withColumn("segment", concat(col("r_score"), col("f_score"),
        col("m_score")))
      .select(col(custKey), col("recency_days"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"),
        col("m_score"), col("segment"))
  }
}
