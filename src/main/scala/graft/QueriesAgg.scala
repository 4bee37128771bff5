package graft

import graft.QH._
import graft.encode.Encode
import graft.frame.SeaFrame
import graft.functions.Stats
import graft.ops.Slicers
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.3/2.7/2.9/2.10 — whole-table aggregates, descriptive
  * stats, financial functions, encoding operators, window/cumulative
  * ops, slicer grouping.
  */
object QueriesAgg {

  /** Whole-table summary functions (sum/mean/std/max/min/count plus
    * the reference's declared-but-unimplemented median and corr,
    * implemented correctly — parser.go:779-782). std/mean through
    * exact decimal sums; median/corr rounded (genuinely floating).
    */
  private val q13_summary_agg: Q = (
    (s, dir) => read(s, dir, "lineitem").agg(
      dsum(col("l_quantity")).as("sum_qty"),
      davg(col("l_quantity")).as("mean_qty"),
      dstd(col("l_quantity")).as("std_qty"),
      max(col("l_quantity")).as("max_qty"),
      min(col("l_quantity")).as("min_qty"),
      count(col("l_quantity")).as("n"),
      round(median(col("l_quantity")), 6).as("median_qty"),
      round(corr(col("l_quantity"), col("l_extendedprice")), 6)
        .as("corr_qty_price")),
    Some(s"""SELECT ${sqlDsum("l_quantity")} AS sum_qty,
                    ${sqlDavg("l_quantity")} AS mean_qty,
                    ${sqlDstd("l_quantity")} AS std_qty,
                    max(l_quantity) AS max_qty,
                    min(l_quantity) AS min_qty,
                    count(l_quantity) AS n,
                    round(median(l_quantity), 6) AS median_qty,
                    round(corr(l_quantity, l_extendedprice), 6)
                      AS corr_qty_price
             FROM lineitem"""))

  /** Desc: empirical quantiles at the reference's u-grid
    * (data.go:141-204) — exact interpolated percentiles.
    */
  private val q15_desc_quantiles: Q = (
    (s, dir) => Stats.describe(read(s, dir, "orders"), "o_totalprice")
      .select(col("n"),
        round(col("mean"), 4).as("mean"), round(col("std"), 4).as("std"),
        round(col("q0"), 4).as("q0"), round(col("q10"), 4).as("q10"),
        round(col("q25"), 4).as("q25"), round(col("q50"), 4).as("q50"),
        round(col("q75"), 4).as("q75"), round(col("q90"), 4).as("q90"),
        round(col("q100"), 4).as("q100")),
    Some("""SELECT count(o_totalprice) AS n,
                   round(avg(o_totalprice), 4) AS mean,
                   round(stddev_samp(o_totalprice), 4) AS std,
                   round(quantile_cont(o_totalprice, 0.0), 4) AS q0,
                   round(quantile_cont(o_totalprice, 0.1), 4) AS q10,
                   round(quantile_cont(o_totalprice, 0.25), 4) AS q25,
                   round(quantile_cont(o_totalprice, 0.5), 4) AS q50,
                   round(quantile_cont(o_totalprice, 0.75), 4) AS q75,
                   round(quantile_cont(o_totalprice, 0.9), 4) AS q90,
                   round(quantile_cont(o_totalprice, 1.0), 4) AS q100
            FROM orders"""))

  /** Per-group Desc: the reference's slice-then-Desc loop as ONE
    * grouped aggregate (slicer.go:34-186 + data.go:141-204).
    */
  private val q74_desc_by_group: Q = (
    (s, dir) => Stats.describeBy(read(s, dir, "orders"),
        col("o_orderpriority"), "o_totalprice")
      .select(col("group"), col("n"),
        round(col("mean"), 4).as("mean"), round(col("std"), 4).as("std"),
        round(col("q0"), 4).as("q0"), round(col("q25"), 4).as("q25"),
        round(col("q50"), 4).as("q50"), round(col("q75"), 4).as("q75"),
        round(col("q100"), 4).as("q100"),
        round(col("q10"), 4).as("q10"), round(col("q90"), 4).as("q90")),
    Some("""SELECT o_orderpriority AS "group",
                   count(o_totalprice) AS n,
                   round(avg(o_totalprice), 4) AS mean,
                   round(stddev_samp(o_totalprice), 4) AS std,
                   round(quantile_cont(o_totalprice, 0.0), 4) AS q0,
                   round(quantile_cont(o_totalprice, 0.25), 4) AS q25,
                   round(quantile_cont(o_totalprice, 0.5), 4) AS q50,
                   round(quantile_cont(o_totalprice, 0.75), 4) AS q75,
                   round(quantile_cont(o_totalprice, 1.0), 4) AS q100,
                   round(quantile_cont(o_totalprice, 0.1), 4) AS q10,
                   round(quantile_cont(o_totalprice, 0.9), 4) AS q90
            FROM orders GROUP BY o_orderpriority
            ORDER BY "group" """))

  /** Winsorized feature prep: clip at the [5%, 95%] empirical
    * quantiles (exact data points -> oracle = quantile_disc), then the
    * usual exact-decimal summary.
    */
  private val q75_winsorize: Q = (
    (s, dir) => {
      val w = Stats.winsorize(read(s, dir, "orders"), "o_totalprice",
        lo = 0.05, hi = 0.95, out = "clipped")
      w.agg(count(lit(1)).as("n"),
        dsum(col("clipped")).as("sum_clipped"),
        min(col("clipped")).as("min_clipped"),
        max(col("clipped")).as("max_clipped"))
    },
    Some(s"""WITH cuts AS (SELECT
                   quantile_disc(o_totalprice, 0.05) AS lo,
                   quantile_disc(o_totalprice, 0.95) AS hi
                 FROM orders)
             SELECT count(*) AS n,
                    ${sqlDsum("least(greatest(o_totalprice, cuts.lo), cuts.hi)")}
                      AS sum_clipped,
                    min(least(greatest(o_totalprice, cuts.lo), cuts.hi))
                      AS min_clipped,
                    max(least(greatest(o_totalprice, cuts.lo), cuts.hi))
                      AS max_clipped
             FROM orders, cuts"""))

  /** ByCounts value counts (data.go:684-699). */
  private val q16_value_counts: Q = (
    (s, dir) => read(s, dir, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("event_type")),
    Some("""SELECT event_type, count(*) AS n FROM events
            GROUP BY event_type ORDER BY event_type"""))

  /** sse / mad / r2 of a deterministic fitted value
    * (parser.go:661-679; reference's mad-computes-sse bug fixed).
    */
  private val q17_sse_r2: Q = (
    (s, dir) => {
      val li = read(s, dir, "lineitem")
      val y = col("l_extendedprice"); val yhat = col("l_quantity") * 1000.0
      // sse/mad sum full-precision squares: a decimal cast would round
      // at a fixed decimal place with engine-dependent rounding mode,
      // so sum plain doubles and round coarsely relative to magnitude
      li.agg(
        round(sum((y - yhat) * (y - yhat)), -4).as("sse"),
        round(sum(abs(y - yhat)), 2).as("mad"),
        dsum(y).as("s1"), dsumsq(y).as("s2"),
        count(lit(1)).as("n"))
        .select(col("sse"), col("mad"), col("n"),
          round(lit(1.0) - col("sse") /
            (col("s2") - col("s1") * col("s1") / col("n")), 6).as("r2"))
    },
    Some(s"""SELECT sse, mad, n, round(1.0 - sse / (s2 - s1 * s1 / n), 6)
                      AS r2
             FROM (SELECT
               round(sum((l_extendedprice - l_quantity*1000.0) * (l_extendedprice - l_quantity*1000.0)), -4) AS sse,
               round(sum(abs(l_extendedprice - l_quantity*1000.0)), 2) AS mad,
               ${sqlDsum("l_extendedprice")} AS s1,
               ${sqlDsumsq("l_extendedprice")} AS s2,
               count(*) AS n
             FROM lineitem)"""))

  /** npv per order: cashflow = extendedprice in linenumber order,
    * first flow undiscounted (parser.go:553-569) — a windowed rank +
    * grouped sum, fully distributed.
    */
  private val q18_npv_per_order: Q = (
    (s, dir) => {
      val li = read(s, dir, "lineitem")
      // (orderkey, linenumber) is NOT unique in this data; the full
      // tiebreak chain makes the cashflow order total
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"))
      li.withColumn("t", row_number().over(w).cast("double") - 1.0)
        .groupBy(col("l_orderkey"))
        // 2dp: npv magnitudes reach ~5e5, where a 1e-4 grid leaves
        // only ~1e2x headroom over cross-engine pow/sum ulp drift
        // (r11 margin sweep) — cents are the semantic precision anyway
        .agg(round(sum(col("l_extendedprice") / pow(lit(1.01), col("t"))), 2)
          .as("npv"))
        .orderBy(col("l_orderkey"))
    },
    Some("""SELECT l_orderkey, round(sum(l_extendedprice / power(1.01, t)), 2)
                     AS npv
            FROM (SELECT l_orderkey, l_extendedprice,
                    CAST(row_number() OVER (PARTITION BY l_orderkey
                      ORDER BY l_linenumber, l_partkey, l_suppkey,
                               l_extendedprice) AS DOUBLE) - 1.0 AS t
                  FROM lineitem)
            GROUP BY l_orderkey ORDER BY l_orderkey"""))

  /** ByPtr: sorted distinct values -> dense codes 0..n-1
    * (data.go:703-715).
    */
  private val q19_byptr_dict: Q = (
    (s, dir) => {
      val vals = read(s, dir, "customer").select(col("c_mktsegment"))
        .distinct()
      vals.withColumn("code",
        (dense_rank().over(
          Window.partitionBy(coalesce(length(col("c_mktsegment")) * 0,
              lit(0)))
            .orderBy(col("c_mktsegment"))) - 1)
          .cast("long"))
        .orderBy(col("code"))
    },
    Some("""SELECT c_mktsegment,
                   dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS code
            FROM (SELECT DISTINCT c_mktsegment FROM customer)
            ORDER BY code"""))

  /** AppendD label encoding with the engine's fitted sorted-value
    * dictionary applied per row (gdata.go:156-228).
    */
  private val q20_label_encode: Q = (
    (s, dir) => {
      val o = read(s, dir, "orders")
      val (enc, _) = Encode.appendD(o, "o_orderpriority", "priority_code")
      enc.select(col("o_orderkey"), col("o_orderpriority"),
        col("priority_code").cast("long").as("priority_code"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_orderpriority,
                   dense_rank() OVER (ORDER BY o_orderpriority) - 1
                     AS priority_code
            FROM orders ORDER BY o_orderkey"""))

  /** AppendC z-score normalization with exact-decimal fitted
    * location/scale — bit-deterministic, no rounding needed
    * (gdata.go:80-153).
    */
  private val q21_zscore: Q = (
    (s, dir) => {
      val li = read(s, dir, "lineitem")
      val f = li.agg(davg(col("l_quantity")).as("m"),
        dstd(col("l_quantity")).as("s")).head()
      val (m, sd) = (f.getDouble(0), f.getDouble(1))
      li.select(col("l_orderkey"), col("l_linenumber"),
        ((col("l_quantity") - m) / sd).as("z_qty"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("z_qty"))
    },
    Some(s"""WITH f AS (SELECT ${sqlDavg("l_quantity")} AS m,
                               ${sqlDstd("l_quantity")} AS s FROM lineitem)
             SELECT l_orderkey, l_linenumber,
                    (l_quantity - f.m) / f.s AS z_qty
             FROM lineitem, f
             ORDER BY l_orderkey, l_linenumber, z_qty"""))

  /** MakeOneHot: dense per-level 0/1 columns from the fitted
    * dictionary (gdata.go:231-272).
    */
  private val q22_onehot: Q = (
    (s, dir) => {
      val o = read(s, dir, "orders")
      val (enc, meta) = Encode.appendD(o, "o_orderstatus", "status_code")
      val (oh, _) = Encode.makeOneHot(enc, meta, "status_code", "status")
      val levelCols = meta.levels.toSeq.sortBy(_._2)
        .map { case (_, c) => col(s"status_$c") }
      oh.select(col("o_orderkey") +: levelCols: _*)
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey,
                   CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END
                     AS status_0,
                   CASE WHEN o_orderstatus = 'O' THEN 1.0 ELSE 0.0 END
                     AS status_1,
                   CASE WHEN o_orderstatus = 'P' THEN 1.0 ELSE 0.0 END
                     AS status_2
            FROM orders ORDER BY o_orderkey"""))

  /** GetRaw round-trip: un-normalize the encoded value
    * (gdata.go:518-552) — identical double ops on both engines.
    */
  private val q23_getraw_roundtrip: Q = (
    (s, dir) => {
      val li = read(s, dir, "lineitem")
      val f = li.agg(davg(col("l_quantity")).as("m"),
        dstd(col("l_quantity")).as("s")).head()
      val (m, sd) = (f.getDouble(0), f.getDouble(1))
      val z = (col("l_quantity") - m) / sd
      li.select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), (z * sd + m).as("roundtrip"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    },
    Some(s"""WITH f AS (SELECT ${sqlDavg("l_quantity")} AS m,
                               ${sqlDstd("l_quantity")} AS s FROM lineitem)
             SELECT l_orderkey, l_linenumber, l_quantity,
                    ((l_quantity - f.m) / f.s) * f.s + f.m AS roundtrip
             FROM lineitem, f
             ORDER BY l_orderkey, l_linenumber, l_quantity"""))

  /** Coalesce softmax: combine logodds columns into target
    * probability (diags.go:32-95).
    */
  private val q24_coalesce_softmax: Q = (
    (s, dir) => {
      val o = read(s, dir, "orders")
      val logodds = Seq(col("o_totalprice") / 100000.0,
        lit(1.0) - col("o_totalprice") / 200000.0,
        lit(0.5))
      val p = Stats.coalesceCols(logodds, targets = Seq(0, 2),
        binary = false, logodds = true)
      o.select(col("o_orderkey"), round(p, 6).as("p_target"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey,
                   round((exp(o_totalprice/100000.0) + exp(0.5)) /
                         (exp(o_totalprice/100000.0)
                          + exp(1.0 - o_totalprice/200000.0)
                          + exp(0.5)), 6) AS p_target
            FROM orders ORDER BY o_orderkey"""))

  /** lag with default (data.go:531-550) per order in linenumber
    * order.
    */
  private val q26_lag: Q = (
    (s, dir) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"))
      read(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"),
          lag(col("l_quantity"), 1, -1.0).over(w).as("lag_qty"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("lag_qty"))
    },
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                   COALESCE(lag(l_quantity) OVER (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_partkey, l_suppkey,
                              l_extendedprice), -1.0) AS lag_qty
            FROM lineitem
            ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
                     lag_qty"""))

  /** cumeBefore / countBefore / countAfter / row over the explicit
    * order (data.go:458-528): running frames are sequential in both
    * engines, so the running double sum is bit-identical.
    */
  private val q27_cumulative: Q = (
    (s, dir) => {
      val ord = Seq(col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_extendedprice"))
      val w = Window.partitionBy(col("l_orderkey")).orderBy(ord: _*)
      val before = w.rowsBetween(Window.unboundedPreceding, 0)
      val after = w.rowsBetween(0, Window.unboundedFollowing)
      read(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"),
          sum(col("l_quantity")).over(before).as("cume_qty"),
          count(lit(1)).over(before).as("count_before"),
          count(lit(1)).over(after).as("count_after"),
          (row_number().over(w) - 1).cast("long").as("row_idx"))
        .orderBy(col("l_orderkey") +: ord.take(3) :+ col("row_idx"): _*)
    },
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                   sum(l_quantity) OVER w AS cume_qty,
                   count(*) OVER w AS count_before,
                   count(*) OVER (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_partkey, l_suppkey,
                              l_extendedprice
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                     AS count_after,
                   row_number() OVER (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_partkey, l_suppkey,
                              l_extendedprice) - 1 AS row_idx
            FROM lineitem
            WINDOW w AS (PARTITION BY l_orderkey
                         ORDER BY l_linenumber, l_partkey, l_suppkey,
                                  l_extendedprice
                         ROWS UNBOUNDED PRECEDING)
            ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
                     row_idx"""))

  /** prodBefore: running product. The OPERATOR under test is still
    * the zero/sign-safe log-sum [[exprlang.Compiler.windowProduct]]
    * (SURVEY §4.2), gated in-plan against an exact twin; the HASHED
    * columns are exact INTEGERS, never a rounded float. The r11
    * margin sweep (tools/margin_manual.py) found rows whose
    * exp(sum(ln))·1e6 sits EXACTLY on a .5 boundary at sf0.01 (e.g.
    * 1201546.5) — and those are TRUE decimal ties of the underlying
    * rational Π(1+dᵢ), where even identical doubles round
    * differently across engines (BigDecimal HALF_UP on the binary
    * value vs std::round(x·1e6)) — the q294 fragility class, not
    * fixable by any quantum choice. So: l_discount takes the eleven
    * values 0.00..0.10, and the running product is DETERMINED by the
    * per-value counts in the frame; we hash the FACTOR SIGNATURE
    * Σ 2^(5·100·dᵢ) over the frame (11 counts packed 5 bits each —
    * pure integer arithmetic, order-free, identical on any engine;
    * in-plan guards enforce idx ∈ [0,10] and frame ≤ 31 rows so the
    * packing cannot collide) plus the frame length. The float
    * product is recoverable as Π(1+v/100)^c_v and is exactly what
    * the in-plan gate reconstructs to check windowProduct against.
    */
  private val q28_cumprod: Q = (
    (s, dir) => {
      val ord = Seq(col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_extendedprice"))
      val w = Window.partitionBy(col("l_orderkey")).orderBy(ord: _*)
      val before = w.rowsBetween(Window.unboundedPreceding, 0)
      val x = lit(1.0) + col("l_discount")
      val idx0 = round(col("l_discount") * 100, 0).cast("int")
      val idx = when(idx0.between(0, 10), idx0).otherwise(raise_error(
        concat(lit("q28: discount outside the 0.00..0.10 contract: "),
          col("l_discount").cast("string"))))
      val sigTerm = (1 to 10).foldLeft(when(idx === 0, lit(1L))) {
        (acc, v) => acc.when(idx === v, lit(1L << (5 * v)))
      }
      val sig = sum(sigTerm).over(before)
      val k = count(lit(1)).over(before)
      // reconstruct the exact-rational product from the signature's
      // 11 packed counts; gate the log-sum operator against it
      val exact = (0 to 10).map { v =>
        pow(lit(1.0 + v / 100.0),
          shiftright(sig, v * 5).bitwiseAND(lit(31L)).cast("double"))
      }.reduce(_ * _)
      val logSum = exprlang.Compiler.windowProduct(x, before)
      val gated = when(k > 31, raise_error(lit(
          "q28: frame exceeds 31 rows — signature packing saturates")))
        .when(
          abs(logSum - exact) <= abs(exact) * 1e-9 + lit(1e-12), sig)
        .otherwise(raise_error(concat(
          lit("q28: windowProduct diverged from exact product: "),
          logSum.cast("string"), lit(" vs "), exact.cast("string"))))
      read(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"),
          gated.as("prod_sig"),
          k.as("n_factors"))
        .orderBy(col("l_orderkey") +: ord.take(3) :+ col("prod_sig"): _*)
    },
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                   CAST(sum(CAST(1 AS BIGINT) <<
                     (5 * CAST(round(l_discount * 100, 0) AS INTEGER)))
                     OVER w AS BIGINT) AS prod_sig,
                   count(*) OVER w AS n_factors
            FROM lineitem
            WINDOW w AS (PARTITION BY l_orderkey
                         ORDER BY l_linenumber, l_partkey, l_suppkey,
                                  l_extendedprice
                         ROWS UNBOUNDED PRECEDING)
            ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
                     prod_sig"""))

  /** Formula-DSL lag over the whole-frame explicit sequence via the
    * partition-safe addToPipe path, with the reference's `missing`
    * default filling the first row (data.go:531-550).
    */
  private val q65_lag_default: Q = (
    (s, dir) => {
      val f = SeaFrame.withSequence(
        read(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        Seq(col("o_orderkey").asc))
      exprlang.Formula
        .addToPipe(f.df, "prev_price", "lag(o_totalprice, -1)",
          f.seqCol)
        .select(col("o_orderkey"), col("prev_price"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey,
                   COALESCE(lag(o_totalprice)
                     OVER (ORDER BY o_orderkey), -1.0) AS prev_price
            FROM orders ORDER BY o_orderkey"""))

  /** Continuous-feature quartile slicing -> per-bucket stats
    * (slicer.go:88-110 collapsed to one pass).
    */
  private val q30_quartile_buckets: Q = (
    (s, dir) => {
      // exact ntile without the global single-partition window:
      // range-partitioned rank + closed-form bucket (ScanOps.ntile)
      graft.ops.ScanOps.ntile(read(s, dir, "customer"),
          Seq(col("c_acctbal").asc, col("c_custkey").asc), 4, "bucket")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), davg(col("c_acctbal")).as("mean_bal"))
        .orderBy(col("bucket"))
    },
    Some(s"""SELECT bucket, count(*) AS n,
                    ${sqlDavg("c_acctbal")} AS mean_bal
             FROM (SELECT c_acctbal,
                     ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS bucket
                   FROM customer)
             GROUP BY bucket ORDER BY bucket"""))

  /** Discrete slicer grouping with min-count gate
    * (slicer.go:34-55).
    */
  private val q31_group_mincount: Q = (
    (s, dir) => Slicers.byLevel(read(s, dir, "events"), "event_type",
      Seq(davg(col("value")).as("mean_value"),
        count(lit(1)).as("n")), minCnt = 50)
      .orderBy(col("event_type")),
    Some(s"""SELECT event_type, ${sqlDavg("value")} AS mean_value,
                    count(*) AS n
             FROM events GROUP BY event_type HAVING count(*) >= 50
             ORDER BY event_type"""))

  /** Histogram bucket counts (the reference's histogram data,
    * rendering excluded — parser.go:1844-1997).
    */
  private val q64_histogram: Q = (
    (s, dir) => Stats.histogram(read(s, dir, "lineitem"),
      "l_extendedprice", 0.0, 200000.0, 20),
    Some("""SELECT CASE WHEN l_extendedprice < 0.0 THEN 0
                        WHEN l_extendedprice >= 200000.0 THEN 21
                        ELSE CAST(floor(l_extendedprice / 200000.0 * 20)
                               AS BIGINT) + 1 END AS bucket,
                   count(*) AS n
            FROM lineitem GROUP BY bucket ORDER BY bucket"""))

  /** irr per order (reference parser.go:617-658, the driver-side
    * Nelder-Mead analog): cashflow = first line's price as the
    * outflow, later lines' prices as inflows, in the same total order
    * as q18. The bisection solve (Financial.irr — identical math to
    * the formula-level irr()) runs PER GROUP ON EXECUTORS over the
    * collected per-order vector: group sizes are line counts
    * (bounded, ~7), so no driver collect and no skew. Solver-based →
    * rows-only.
    */
  private val q83_irr: Q = (
    (s, dir) => {
      val li = read(s, dir, "lineitem")
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"))
      val solver = udf((cf: Seq[Double]) =>
        graft.exprlang.Financial.irr(cf.toArray))
      li.withColumn("t", row_number().over(w))
        .withColumn("cf", when(col("t") === 1, -col("l_extendedprice"))
          .otherwise(col("l_extendedprice") * 0.3))
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(col("t"), col("cf"))))
          .as("flows"))
        .where(size(col("flows")) >= 3)
        .select(col("l_orderkey"),
          round(solver(transform(col("flows"), f => f.getField("cf"))), 6)
            .as("irr"))
        .orderBy(col("l_orderkey"))
    },
    None)

  /** Moving standard deviation / min / max over the same bounded
    * overlap-padded bucket plan as q99 (ROADMAP r4 item 6: any
    * aggregator the window allows). Stddev is computed EXACTLY from
    * decimal sum/sum-of-squares — both engines derive the same double
    * from the same exact decimals, so no fp-algorithm drift between
    * Spark's and DuckDB's native stddev implementations can leak in.
    */
  private val q109_moving_std: Q = (
    (s, dir) => {
      import graft.ops.ScanOps
      val x = col("o_totalprice")
      // square EXACTLY: scale to an integer (x1e4 covers the data's
      // decimals), square in decimal — squaring in double and casting
      // rounds at the cast, and the engines can land on opposite
      // sides of a half-ulp (observed at sf0.1); integer squares are
      // engine-independent
      val xi = round(x * 10000).cast("decimal(18,0)")
      val m = ScanOps.movingAgg(
        read(s, dir, "orders").select("o_orderkey", "o_totalprice")
          .withColumn("__xi", xi),
        "o_orderkey",
        Seq(("s1", x.cast("decimal(25,6)"),
            (c: org.apache.spark.sql.Column) => sum(c)),
          ("s2", col("__xi") * col("__xi"),
            (c: org.apache.spark.sql.Column) => sum(c)),
          ("n", lit(1L),
            (c: org.apache.spark.sql.Column) => count(c)),
          ("mov_min", x, (c: org.apache.spark.sql.Column) => min(c)),
          ("mov_max", x, (c: org.apache.spark.sql.Column) => max(c))),
        k = 7)
      val s1 = col("s1").cast("double")
      val s2 = col("s2").cast("double") / 1e8
      val n = col("n").cast("double")
      m.select(col("o_orderkey"),
          // round(,2) not (,6): the sqrt output carries ~6 integer
          // digits, and 6 decimals would pin 12 significant digits —
          // inside the zone where the engines' double-rounding
          // implementations legitimately disagree (observed at sf0.1)
          when(col("n") > 1, round(
            sqrt(greatest(lit(0.0), (s2 - s1 * s1 / n) / (n - 1.0))), 2))
            .as("mov_std"),
          col("mov_min"), col("mov_max"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey,
                   CASE WHEN count(*) OVER w > 1 THEN round(sqrt(greatest(
                     0.0,
                     (CAST(sum(CAST(round(o_totalprice * 10000)
                                 AS HUGEINT)
                               * CAST(round(o_totalprice * 10000)
                                 AS HUGEINT))
                           OVER w AS DOUBLE) / 1e8
                      - CAST(sum(CAST(o_totalprice AS DECIMAL(25,6)))
                          OVER w AS DOUBLE)
                        * CAST(sum(CAST(o_totalprice AS DECIMAL(25,6)))
                            OVER w AS DOUBLE)
                        / CAST(count(*) OVER w AS DOUBLE))
                     / (CAST(count(*) OVER w AS DOUBLE) - 1.0))), 2)
                   END AS mov_std,
                   min(o_totalprice) OVER w AS mov_min,
                   max(o_totalprice) OVER w AS mov_max
            FROM orders
            WINDOW w AS (ORDER BY o_orderkey
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
            ORDER BY o_orderkey"""))

  lazy val all: Map[String, Q] = Map(
    "q64_histogram" -> q64_histogram,
    "q109_moving_std" -> q109_moving_std,
    "q83_irr" -> q83_irr,
    "q13_summary_agg" -> q13_summary_agg,
    "q15_desc_quantiles" -> q15_desc_quantiles,
    "q74_desc_by_group" -> q74_desc_by_group,
    "q75_winsorize" -> q75_winsorize,
    "q16_value_counts" -> q16_value_counts,
    "q17_sse_r2" -> q17_sse_r2,
    "q18_npv_per_order" -> q18_npv_per_order,
    "q19_byptr_dict" -> q19_byptr_dict,
    "q20_label_encode" -> q20_label_encode,
    "q21_zscore" -> q21_zscore,
    "q22_onehot" -> q22_onehot,
    "q23_getraw_roundtrip" -> q23_getraw_roundtrip,
    "q24_coalesce_softmax" -> q24_coalesce_softmax,
    "q26_lag" -> q26_lag,
    "q27_cumulative" -> q27_cumulative,
    "q28_cumprod" -> q28_cumprod,
    "q30_quartile_buckets" -> q30_quartile_buckets,
    "q31_group_mincount" -> q31_group_mincount,
    "q65_lag_default" -> q65_lag_default,
    "q97_profile" -> q97_profile,
    "q98_sessionize" -> q98_sessionize,
    "q99_moving_avg" -> q99_moving_avg,
    "q164_funnel" -> q164_funnel,
    "q165_cohort" -> q165_cohort,
    "q171_incremental_agg" -> q171_incremental_agg,
    "q177_rollup" -> q177_rollup,
    "q178_pivot" -> q178_pivot,
    "q179_json_extract" -> q179_json_extract,
    "q180_robust_scale" -> q180_robust_scale,
    "q181_top_paths" -> q181_top_paths,
    "q182_cube" -> q182_cube,
    "q214_rfm" -> q214_rfm,
    "q216_key_skew" -> q216_key_skew,
    "q218_grouping_sets" -> q218_grouping_sets,
    "q219_basket_rules" -> q219_basket_rules,
    "q253_item_cf" -> q253_item_cf,
    "q257_cov_matrix" -> q257_cov_matrix,
    "q261_quantile_norm" -> q261_quantile_norm,
    "q262_fd_profile" -> q262_fd_profile,
    "q220_chi_square" -> q220_chi_square,
    "q221_vwap" -> q221_vwap,
    "q222_benford" -> q222_benford,
    "q223_corr_matrix" -> q223_corr_matrix,
    "q224_winsorize" -> q224_winsorize,
    "q235_ab_test" -> q235_ab_test,
    "q278_jackknife" -> q278_jackknife,
    "q279_drawdown" -> q279_drawdown,
    "q281_gini" -> q281_gini,
    "q282_mahalanobis" -> q282_mahalanobis,
    "q286_bootstrap" -> q286_bootstrap,
    "q288_jackknife_diff" -> q288_jackknife_diff,
    "q289_logrank" -> q289_logrank,
    "q292_km_grouped" -> q292_km_grouped,
    "q299_msprt" -> q299_msprt,
    "q300_bh_fdr" -> q300_bh_fdr,
    "q301_eb_shrink" -> q301_eb_shrink,
    "q303_ps_ate" -> q303_ps_ate,
    "q304_ps_static" -> q304_ps_static,
    "q354_ps_match" -> q354_ps_match,
    "q355_pairwise_arms" -> q355_pairwise_arms,
    "q332_ipw_ate" -> q332_ipw_ate,
    "q337_policy_replay" -> q337_policy_replay,
    "q339_aipw" -> q339_aipw,
    "q345_policy_ips" -> q345_policy_ips,
    "q363_policy_dr" -> q363_policy_dr,
    "q341_wilson" -> q341_wilson,
    "q338_rmst" -> q338_rmst,
    "q236_cuped" -> q236_cuped,
    "q237_did" -> q237_did,
    "q245_kaplan_meier" -> q245_kaplan_meier,
    "q264_nelson_aalen" -> q264_nelson_aalen,
    "q246_uplift" -> q246_uplift,
    "q249_pareto_abc" -> q249_pareto_abc,
    "q183_ohlc" -> q183_ohlc,
    "q184_resample_ffill" -> q184_resample_ffill,
    "q185_cooccurrence" -> q185_cooccurrence,
    "q186_anomaly_flags" -> q186_anomaly_flags,
    "q193_conversion_latency" -> q193_conversion_latency,
    "q205_group_ols" -> q205_group_ols)

  /** Per-group OLS fit (closed form): slope and intercept of
    * extendedprice ~ quantity per returnflag, from ORDER-FREE exact
    * decimal sums (n, Σx, Σy, Σxy, Σx²) collapsed by the identical
    * double formula on both engines — the dstd pattern extended to
    * regression. One grouped aggregate; the per-group trend line
    * every BI layer draws, bit-reproducible at any scale.
    */
  private val q205_group_ols: Q = (
    (s, dir) => {
      val x = col("l_quantity"); val y = col("l_extendedprice")
      read(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          dsum(x).as("sx"), dsum(y).as("sy"),
          sum((x.cast("double") * y.cast("double"))
            .cast("decimal(38,10)")).cast("double").as("sxy"),
          dsumsq(x).as("sxx"))
        .withColumn("slope", round(
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6))
        .withColumn("intercept", round(
          (col("sy") - (col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx"))
            * col("sx")) / col("n"), 6))
        .select(col("l_returnflag"), col("n"), col("slope"),
          col("intercept"))
        .orderBy(col("l_returnflag"))
    },
    Some(s"""WITH m AS (SELECT l_returnflag, count(*) AS n,
                 ${sqlDsum("l_quantity")} AS sx,
                 ${sqlDsum("l_extendedprice")} AS sy,
                 CAST(sum(CAST(CAST(l_quantity AS DOUBLE) *
                   CAST(l_extendedprice AS DOUBLE)
                   AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
                 ${sqlDsumsq("l_quantity")} AS sxx
               FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                 AS slope,
               round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx)
                 * sx) / n, 6) AS intercept
        FROM m ORDER BY l_returnflag"""))

  /** Conversion-latency histogram: for funnel completers
    * (view -> click -> purchase, chained-min semantics via the q164
    * walk), the first-view to purchase time in 10-minute buckets —
    * exact microsecond integers end to end, so the distribution is
    * engine-replayable without any quantile machinery. Same single
    * shuffle as the funnel; the histogram is a tiny second
    * aggregate.
    */
  private val q193_conversion_latency: Q = (
    (s, dir) => Stats.funnelWalk(read(s, dir, "events"), "user_id",
        "ts", "event_type", Seq("view", "click", "purchase"))
      .where(size(col("__walk")) === 3)
      .select((unix_micros(element_at(col("__walk"), 3)) -
        unix_micros(element_at(col("__walk"), 1))).as("lat_us"))
      .groupBy(expr("lat_us div 600000000").as("bucket_10min"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("bucket_10min")),
    Some("""WITH e AS (SELECT user_id, event_type,
                 CAST(ts AS TIMESTAMP) AS t
               FROM events WHERE ts IS NOT NULL),
             s1 AS (SELECT user_id, min(t) AS t1 FROM e
               WHERE event_type = 'view' GROUP BY 1),
             s2 AS (SELECT e.user_id, min(t) AS t2 FROM e
               JOIN s1 USING (user_id)
               WHERE event_type = 'click' AND t > t1 GROUP BY 1),
             s3 AS (SELECT e.user_id, min(t) AS t3 FROM e
               JOIN s2 USING (user_id)
               WHERE event_type = 'purchase' AND t > t2 GROUP BY 1)
        SELECT CAST((epoch_us(s3.t3) - epoch_us(s1.t1)) // 600000000
                 AS BIGINT) AS bucket_10min,
               count(*) AS n_users
        FROM s3 JOIN s1 USING (user_id)
        GROUP BY 1 ORDER BY 1"""))

  /** Robust anomaly detection ([[Stats.robustAnomalies]]): hourly
    * event counts per type flagged by the |x - median| > 3*IQR rule,
    * with the per-group median/IQR as EXACT discrete quantiles
    * (bit-for-bit quantile_disc semantics — [[Stats
    * .groupQuantilesDisc]]). Counts are integers, so every quantity
    * in the flag comparison is integer-exact: a verdict can never
    * flip across engines, replays, or partitionings — the monitoring
    * contract the drift-monitor family (q139) established.
    */
  private val q186_anomaly_flags: Q = (
    (s, dir) => {
      val hourly = read(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"))
      Stats.robustAnomalies(hourly, "event_type", "n", k = 3.0)
        .select(col("event_type"), col("h"), col("n"), col("med"),
          col("iqr"), col("is_anomaly"))
        .orderBy(col("event_type"), col("h"))
    },
    Some("""WITH h AS (SELECT event_type,
                 date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                 count(*) AS n
               FROM events GROUP BY 1, 2),
             q AS (SELECT event_type,
                 quantile_disc(n, 0.25) AS q25,
                 quantile_disc(n, 0.5) AS med,
                 quantile_disc(n, 0.75) AS q75
               FROM h GROUP BY 1)
        SELECT h.event_type, h.h, h.n, q.med,
               q.q75 - q.q25 AS iqr,
               CAST(abs(h.n - q.med) > 3 * (q.q75 - q.q25)
                 AS INTEGER) AS is_anomaly
        FROM h JOIN q USING (event_type)
        ORDER BY h.event_type, h.h"""))

  /** CUBE: all 2^k grouping combinations in one Expand pass —
    * completes the hierarchy family next to ROLLUP (q177). Sentinel
    * coalesce keeps the compare NULL-free.
    */
  private val q182_cube: Q = (
    (s, dir) => read(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("(all)"))
          .as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n"), col("total"))
      .orderBy(col("status"), col("priority")),
    Some(s"""SELECT COALESCE(o_orderstatus, '(all)') AS status,
                    COALESCE(o_orderpriority, '(all)') AS priority,
                    count(*) AS n,
                    ${sqlDsum("o_totalprice")} AS total
             FROM orders
             GROUP BY CUBE (o_orderstatus, o_orderpriority)
             ORDER BY status, priority"""))

  /** GROUPING SETS — arbitrary subtotal combinations in ONE Expand
    * pass (Catalyst's native groupingSets; the generalization ROLLUP
    * q177 and CUBE q182 are special cases of): per-(status,
    * priority) detail, per-status subtotal, and the grand total,
    * WITHOUT the per-priority set a CUBE would also compute —
    * exactly the sets a report needs, no wasted Expand rows.
    */
  private val q218_grouping_sets: Q = (
    (s, dir) => read(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("(all)"))
          .as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n"), col("total"))
      .orderBy(col("status"), col("priority")),
    Some(s"""SELECT COALESCE(o_orderstatus, '(all)') AS status,
                    COALESCE(o_orderpriority, '(all)') AS priority,
                    count(*) AS n,
                    ${sqlDsum("o_totalprice")} AS total
             FROM orders
             GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
               (o_orderstatus), ())
             ORDER BY status, priority"""))

  /** RFM customer segmentation ([[graft.functions.Stats.rfm]]):
    * recency/frequency/monetary from one grouped pass over orders,
    * each scored 1..5 by EXACT ntile with the customer key as
    * tiebreak (ScanOps.ntile — ranged rank, no single-partition
    * window), segment = concatenated scores. Monetary is the exact-
    * decimal sum, recency an integer day diff, so the oracle replays
    * every score and segment code bit-for-bit.
    */
  private val q214_rfm: Q = (
    (s, dir) => graft.functions.Stats.rfm(read(s, dir, "orders"),
        "o_custkey", "o_orderdate", "o_totalprice", buckets = 5)
      .orderBy(col("o_custkey")),
    Some(s"""WITH base AS (SELECT o_custkey,
                 max(o_orderdate) AS last_d, count(*) AS frequency,
                 ${sqlDsum("o_totalprice")} AS monetary
               FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
             mx AS (SELECT max(last_d) AS maxd FROM base),
             r AS (SELECT o_custkey,
                 date_diff('day', CAST(last_d AS DATE),
                   CAST(maxd AS DATE)) AS recency_days,
                 frequency, monetary
               FROM base CROSS JOIN mx),
             sc AS (SELECT *,
                 ntile(5) OVER (ORDER BY recency_days, o_custkey) AS rb,
                 ntile(5) OVER (ORDER BY frequency, o_custkey) AS fb,
                 ntile(5) OVER (ORDER BY monetary, o_custkey) AS mb
               FROM r)
        SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days,
               frequency, monetary,
               CAST(6 - rb AS BIGINT) AS r_score,
               CAST(fb AS BIGINT) AS f_score,
               CAST(mb AS BIGINT) AS m_score,
               CAST(6 - rb AS VARCHAR) || CAST(fb AS VARCHAR)
                 || CAST(mb AS VARCHAR) AS segment
        FROM sc ORDER BY o_custkey"""))

  /** Key-skew diagnostic ([[graft.ops.DataQuality.keySkew]]) on a
    * deliberately skewed key (custkeys divisible by 7 collapse to a
    * sentinel 0 — the classic default-key hot spot): the report
    * flags exactly the keys whose count exceeds 10x the per-key
    * mean, with exact counts and integer-ppm shares. This is the
    * pre-shuffle audit that routes a 100 TB join to
    * [[graft.ops.Joins.saltedJoin]] before the hot key serializes
    * one reducer.
    */
  private val q216_key_skew: Q = (
    (s, dir) => graft.ops.DataQuality.keySkew(
        read(s, dir, "orders").withColumn("k",
          when(col("o_custkey") % 7 === 0, 0L)
            .otherwise(col("o_custkey"))),
        "k", factor = 10.0)
      .orderBy(col("k")),
    Some("""WITH keyed AS (SELECT CASE WHEN o_custkey % 7 = 0 THEN 0
                 ELSE o_custkey END AS k FROM orders),
             counts AS (SELECT k, count(*) AS n FROM keyed GROUP BY k),
             census AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                 count(*) AS nkeys FROM counts)
        SELECT k, n, n * 1000000 // total AS share_ppm,
               nkeys AS n_keys, CAST(total AS BIGINT) AS n_rows
        FROM counts CROSS JOIN census
        WHERE CAST(n AS DOUBLE) * CAST(nkeys AS DOUBLE)
          > 10.0 * CAST(total AS DOUBLE)
        ORDER BY k"""))

  /** Market-basket association rules
    * ([[graft.ops.Association.basketRules]]): orders as baskets,
    * part brands as items (25-value key — the per-basket self-join
    * is quadratic only in distinct brands per order, census-guarded).
    * Exact integer supports; confidence and lift in fixed-order
    * 6dp-rounded doubles. minSupport cuts before the margin joins.
    */
  private val q219_basket_rules: Q = (
    (s, dir) => graft.ops.Association.basketRules(
        read(s, dir, "lineitem").join(read(s, dir, "part"),
          col("l_partkey") === col("p_partkey")),
        "l_orderkey", "p_brand", minSupport = 100L)
      .orderBy(col("item_a"), col("item_b")),
    Some("""WITH items AS (SELECT DISTINCT l_orderkey AS b,
                 p_brand AS i
               FROM lineitem JOIN part ON l_partkey = p_partkey),
             cnt AS (SELECT i, count(*) AS c FROM items GROUP BY i),
             nb AS (SELECT count(DISTINCT b) AS n FROM items),
             pr AS (SELECT x.i AS item_a, y.i AS item_b,
                 count(*) AS support
               FROM items x JOIN items y
                 ON x.b = y.b AND x.i < y.i
               GROUP BY 1, 2 HAVING count(*) >= 100)
        SELECT item_a, item_b, support, ca.c AS count_a,
               cb.c AS count_b,
               round(CAST(support AS DOUBLE) / CAST(ca.c AS DOUBLE),
                 6) AS confidence,
               round(CAST(support AS DOUBLE) * CAST(nb.n AS DOUBLE)
                 / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)),
                 6) AS lift
        FROM pr JOIN cnt ca ON pr.item_a = ca.i
                JOIN cnt cb ON pr.item_b = cb.i
                CROSS JOIN nb
        ORDER BY item_a, item_b"""))

  /** Item-item collaborative filtering
    * ([[graft.ops.Recommend.itemNeighbors]] + [[graft.ops.Recommend
    * .recommend]]): brands that co-occur in order baskets are
    * neighbors (binary cosine, QUANTIZED to a long at 1e6 the moment
    * it's computed — sqrt and one divide are IEEE-exact in every
    * engine), each customer is scored on unseen brands by the exact
    * long SUM of similarities to brands they bought, top-3 per
    * customer. The co-occurrence join is per-basket (census-guarded,
    * the q219 shape); the (items x k) neighbor table broadcasts, so
    * the recommend pass is one user-shuffle over any corpus scale.
    */
  private val q253_item_cf: Q = (
    (s, dir) => {
      val li = read(s, dir, "lineitem").join(read(s, dir, "part"),
        col("l_partkey") === col("p_partkey"))
      val nbrs = graft.ops.Recommend.itemNeighbors(
        li, "l_orderkey", "p_brand", k = 5, minSupport = 100L)
      val userItems = li
        .join(read(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("p_brand"))
      graft.ops.Recommend.recommend(userItems, "o_custkey", "p_brand",
          nbrs, k = 3)
        .orderBy(col("user"), col("item"))
    },
    Some("""WITH items AS (SELECT DISTINCT l_orderkey AS b,
                 p_brand AS i
               FROM lineitem JOIN part ON l_partkey = p_partkey),
             cnt AS (SELECT i, count(*) AS c FROM items GROUP BY 1),
             pr AS (SELECT x.i AS ia, y.i AS ib, count(*) AS support
               FROM items x JOIN items y ON x.b = y.b AND x.i < y.i
               GROUP BY 1, 2 HAVING count(*) >= 100),
             pq AS (SELECT ia, ib, support,
                 CAST(round(1000000.0 * CAST(support AS DOUBLE)
                   / sqrt(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)),
                   0) AS BIGINT) AS cos_q
               FROM pr JOIN cnt ca ON pr.ia = ca.i
                       JOIN cnt cb ON pr.ib = cb.i),
             bidir AS (SELECT ia AS item, ib AS nbr, cos_q FROM pq
               UNION ALL SELECT ib, ia, cos_q FROM pq),
             nbrs AS (SELECT item, nbr, cos_q FROM (
                 SELECT item, nbr, cos_q, row_number() OVER (
                   PARTITION BY item ORDER BY cos_q DESC, nbr) AS rn
                 FROM bidir) WHERE rn <= 5),
             seen AS (SELECT DISTINCT o_custkey AS u, p_brand AS i
               FROM lineitem JOIN part ON l_partkey = p_partkey
                    JOIN orders ON l_orderkey = o_orderkey),
             cand AS (SELECT s.u, n.nbr AS item,
                 CAST(sum(n.cos_q) AS BIGINT) AS score_q,
                 count(*) AS n_sources
               FROM seen s JOIN nbrs n ON s.i = n.item
               LEFT JOIN seen s2 ON s2.u = s.u AND s2.i = n.nbr
               WHERE s2.u IS NULL
               GROUP BY 1, 2)
        SELECT u AS "user", item, score_q, n_sources FROM (
            SELECT u, item, score_q, n_sources, row_number() OVER (
              PARTITION BY u ORDER BY score_q DESC, item) AS rn
            FROM cand) WHERE rn <= 3
        ORDER BY "user", item"""))

  /** Pairwise covariance/correlation MATRIX
    * ([[graft.functions.Tabular.covarianceMatrix]]): all moments for
    * the 4 lineitem measures in ONE partial-aggregated scan (k sums,
    * k sums-of-squares, k(k-1)/2 exact-decimal cross sums), combined
    * in one fixed double operation order — where running corr() per
    * pair would re-read the table 6 times. Listwise null deletion
    * keeps every pair on the same n. The oracle is GENERATED from
    * the same column list, formula for formula.
    */
  private val q257_cov_matrix: Q = {
    val cs = Seq("l_quantity", "l_extendedprice", "l_discount",
      "l_tax")
    val pairIdx = for (i <- cs.indices; j <- i + 1 until cs.size)
      yield (cs(i), cs(j))
    def xSum(a: String, b: String) =
      s"CAST(sum(CAST(CAST($a AS DOUBLE) * CAST($b AS DOUBLE) " +
        "AS DECIMAL(38,10))) AS DOUBLE)"
    val sums = cs.map(c =>
      s"${sqlDsum(c)} AS s_$c, ${sqlDsumsq(c)} AS q_$c").mkString(", ")
    val crosses = pairIdx.map { case (a, b) =>
      s"${xSum(a, b)} AS x_${a}_$b" }.mkString(", ")
    val branches = pairIdx.map { case (a, b) =>
      s"""SELECT '$a' AS f_a, '$b' AS f_b, n,
            round((x_${a}_$b - s_$a * s_$b / n) / (n - 1.0), 6)
              AS cov,
            round((x_${a}_$b - s_$a * s_$b / n)
              / sqrt((q_$a - s_$a * s_$a / n)
                   * (q_$b - s_$b * s_$b / n)), 6) AS corr
          FROM m""" }.mkString(" UNION ALL ")
    // quantized-long accumulation (r11 verdict ask 3): same exact
    // moments as the decimal path (TabularSpec pins equality), the
    // oracle below IS the decimal form — kept as the entry's twin
    ((s: org.apache.spark.sql.SparkSession, dir: String) =>
      graft.functions.Tabular.covarianceMatrixQuantized(
          read(s, dir, "lineitem"), cs)
        .orderBy(col("f_a"), col("f_b")),
      Some(s"""WITH m AS (SELECT count(*) AS n, $sums, $crosses
            FROM lineitem
            WHERE ${cs.map(c => s"$c IS NOT NULL").mkString(" AND ")})
        $branches ORDER BY f_a, f_b"""))
  }

  /** QUANTILE NORMALIZATION ([[graft.functions.Stats
    * .quantileNormalize]]): order-price distributions harmonized
    * across market segments — every segment mapped onto the
    * cross-segment mean order-statistic curve, the rank-based
    * cross-source calibration (Bolstad 2003) that z-scoring can't do
    * when shapes differ. Ranks deterministic via the order key;
    * reference curve from exact decimal sums.
    */
  private val q261_quantile_norm: Q = (
    (s, dir) => {
      val j = read(s, dir, "orders")
        .join(read(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment"), col("o_orderkey"),
          col("o_totalprice"))
      graft.functions.Stats.quantileNormalize(j, "c_mktsegment",
          "o_totalprice", "o_orderkey")
        .orderBy(col("c_mktsegment"), col("rank"))
    },
    Some(s"""WITH j AS (SELECT c_mktsegment, o_orderkey, o_totalprice
               FROM orders JOIN customer ON o_custkey = c_custkey
               WHERE o_totalprice IS NOT NULL),
             rk AS (SELECT c_mktsegment, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY c_mktsegment
                   ORDER BY o_totalprice, o_orderkey) AS rank
               FROM j),
             ref AS (SELECT rank,
                 round(${sqlDavg("o_totalprice")}, 6) AS normalized
               FROM rk GROUP BY 1)
        SELECT c_mktsegment, o_orderkey, o_totalprice, rank,
               normalized
        FROM rk JOIN ref USING (rank)
        ORDER BY c_mktsegment, rank"""))

  /** FUNCTIONAL-DEPENDENCY profile ([[graft.ops.DataQuality
    * .fdProfile]]): which order columns determine which — all 12
    * ordered-pair distinct-count tests in one scan; exact integers,
    * the key-candidate report a DQ pass runs before trusting joins.
    */
  private val q262_fd_profile: Q = (
    (s, dir) => graft.ops.DataQuality.fdProfile(
        read(s, dir, "orders"),
        Seq("o_orderstatus", "o_orderpriority", "o_orderdate",
          "o_custkey"))
      .orderBy(col("determinant"), col("dependent")),
    Some {
      val cs = Seq("o_orderstatus", "o_orderpriority", "o_orderdate",
        "o_custkey")
      val branches = (for (a <- cs; b <- cs if a != b) yield
        s"""SELECT '$a' AS determinant, '$b' AS dependent,
              count(DISTINCT $a) AS n_det,
              count(DISTINCT ($a, $b)) AS n_pairs,
              count(DISTINCT ($a, $b)) - count(DISTINCT $a)
                AS violations,
              CAST(CASE WHEN count(DISTINCT ($a, $b))
                   = count(DISTINCT $a) THEN 1 ELSE 0 END
                AS INTEGER) AS holds
            FROM o""").mkString(" UNION ALL ")
      s"""WITH o AS (SELECT * FROM orders
            WHERE ${cs.map(c => s"$c IS NOT NULL").mkString(" AND ")})
        $branches ORDER BY determinant, dependent"""
    })

  /** Chi-square independence test
    * ([[graft.functions.Stats.chiSquare]]) over order status x
    * priority: exact observed counts, expected and contribution in
    * one fixed double operation order rounded 6dp. Cells are
    * category-bounded; marginals broadcast.
    */
  private val q220_chi_square: Q = (
    (s, dir) => graft.functions.Stats.chiSquare(
        read(s, dir, "orders"), "o_orderstatus", "o_orderpriority")
      .orderBy(col("o_orderstatus"), col("o_orderpriority")),
    Some("""WITH cells AS (SELECT o_orderstatus, o_orderpriority,
                 count(*) AS obs FROM orders
               WHERE o_orderstatus IS NOT NULL
                 AND o_orderpriority IS NOT NULL GROUP BY 1, 2),
             rt AS (SELECT o_orderstatus,
                 CAST(sum(obs) AS BIGINT) AS r FROM cells GROUP BY 1),
             ct AS (SELECT o_orderpriority,
                 CAST(sum(obs) AS BIGINT) AS c FROM cells GROUP BY 1),
             nn AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells)
        SELECT o_orderstatus, o_orderpriority, obs,
               round(CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                 / CAST(n AS DOUBLE), 6) AS expected,
               round((CAST(obs AS DOUBLE) - CAST(r AS DOUBLE)
                   * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(obs AS DOUBLE) - CAST(r AS DOUBLE)
                   * CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                   / CAST(n AS DOUBLE)), 6) AS contrib
        FROM cells JOIN rt USING (o_orderstatus)
                   JOIN ct USING (o_orderpriority)
                   CROSS JOIN nn
        ORDER BY o_orderstatus, o_orderpriority"""))

  /** VWAP (volume-weighted average price) per (returnflag, ship
    * week): exact-decimal sums of price*qty and qty, ONE double
    * division at the end (the davg rule), rounded 6dp. The
    * pre-aggregation that turns a tick-sized fact table into a
    * servable price series.
    */
  private val q221_vwap: Q = (
    (s, dir) => read(s, dir, "lineitem")
      .groupBy(col("l_returnflag"),
        date_trunc("week", col("l_shipdate")).as("wk"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(25,6)")).cast("double")
          .as("vol"),
        round(
          sum((col("l_extendedprice") * col("l_quantity"))
            .cast("decimal(38,10)")).cast("double") /
          sum(col("l_quantity").cast("decimal(25,6)")).cast("double"),
          6).as("vwap"))
      .orderBy(col("l_returnflag"), col("wk")),
    Some("""SELECT l_returnflag,
                   date_trunc('week', l_shipdate) AS wk,
                   count(*) AS n,
                   CAST(sum(CAST(l_quantity AS DECIMAL(25,6)))
                     AS DOUBLE) AS vol,
                   round(CAST(sum(CAST(l_extendedprice * l_quantity
                       AS DECIMAL(38,10))) AS DOUBLE)
                     / CAST(sum(CAST(l_quantity AS DECIMAL(25,6)))
                       AS DOUBLE), 6) AS vwap
            FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Benford first-digit audit ([[graft.ops.DataQuality.benford]])
    * on order totals: digit from the integer-cents string (double
    * formatting and boundary log10 differ across engines; int64
    * formatting does not), observed/expected/deviation as integer
    * ppm — every row replayable.
    */
  private val q222_benford: Q = (
    (s, dir) => graft.ops.DataQuality.benford(
        read(s, dir, "orders"), "o_totalprice")
      .orderBy(col("digit")),
    Some("""WITH d AS (SELECT CAST(substr(CAST(CAST(floor(
                 o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
                 AS BIGINT) AS digit
               FROM orders
               WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
                 AND CAST(floor(o_totalprice * 100) AS BIGINT) > 0),
             c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
             t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c),
             e AS (SELECT CAST(r.d AS BIGINT) AS digit,
                 CAST(round(log10(1.0 + 1.0 / r.d) * 1000000)
                   AS BIGINT) AS exp_ppm
               FROM (SELECT unnest(range(1, 10)) AS d) r)
        SELECT c.digit, c.n, c.n * 1000000 // t.t AS obs_ppm,
               e.exp_ppm, c.n * 1000000 // t.t - e.exp_ppm AS dev_ppm
        FROM c CROSS JOIN t JOIN e ON c.digit = e.digit
        ORDER BY c.digit"""))

  /** Pairwise correlation matrix
    * ([[graft.functions.Stats.corrMatrix]]) over four lineitem
    * measures from ONE aggregate pass of exact decimal sums; the
    * closed form evaluates in identical double ops on both engines,
    * rounded 6dp.
    */
  private val q223_corr_matrix: Q = {
    val cols4 = Seq("l_quantity", "l_extendedprice", "l_discount",
      "l_tax")
    def sqlP(a: String, b: String) =
      s"CAST(sum(CAST(CAST($a AS DOUBLE) * CAST($b AS DOUBLE) " +
        s"AS DECIMAL(38,10))) AS DOUBLE)"
    val pairSelects = (for {
      i <- cols4.indices; j <- (i + 1) until cols4.size
    } yield {
      val (a, b) = (cols4(i), cols4(j))
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
          round((n * p_${i}_$j - s_$i * s_$j)
            / sqrt((n * p_${i}_$i - s_$i * s_$i)
              * (n * p_${j}_$j - s_$j * s_$j)), 6) AS corr FROM s"""
    }).mkString("\n UNION ALL ")
    val sums = cols4.indices.map(i =>
      s"${sqlDsum(cols4(i))} AS s_$i").mkString(", ") + ", " +
      (for { i <- cols4.indices; j <- i until cols4.size }
        yield s"${sqlP(cols4(i), cols4(j))} AS p_${i}_$j")
        .mkString(", ") + ", CAST(count(*) AS DOUBLE) AS n"
    ((s, dir) => graft.functions.Stats.corrMatrix(
        read(s, dir, "lineitem"), cols4)
      .orderBy(col("col_a"), col("col_b")),
      Some(s"""WITH s AS (SELECT $sums FROM lineitem)
          SELECT * FROM ($pairSelects) ORDER BY col_a, col_b"""))
  }

  /** Winsorization summary
    * ([[graft.functions.Stats.winsorizeSummary]]): exact discrete
    * p1/p99 clip bounds per returnflag (bit-for-bit quantile_disc),
    * clipped-side counts, and the exact-decimal sum after clipping.
    */
  private val q224_winsorize: Q = (
    (s, dir) => graft.functions.Stats.winsorizeSummary(
        read(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
        pLo = 0.01, pHi = 0.99)
      .orderBy(col("l_returnflag")),
    Some(s"""WITH q AS (SELECT l_returnflag,
                 quantile_disc(l_extendedprice, 0.01) AS lo,
                 quantile_disc(l_extendedprice, 0.99) AS hi
               FROM lineitem WHERE l_extendedprice IS NOT NULL
               GROUP BY 1)
        SELECT l.l_returnflag, any_value(q.lo) AS lo,
               any_value(q.hi) AS hi,
               count(CASE WHEN l_extendedprice < q.lo THEN 1 END)
                 AS n_low,
               count(CASE WHEN l_extendedprice > q.hi THEN 1 END)
                 AS n_high,
               count(*) AS n,
               ${sqlDsum("greatest(least(l_extendedprice, q.hi), q.lo)")}
                 AS sum_clipped
        FROM lineitem l JOIN q USING (l_returnflag)
        WHERE l_extendedprice IS NOT NULL
        GROUP BY l.l_returnflag ORDER BY l.l_returnflag"""))

  /** Two-proportion A/B z-test ([[graft.ops.Experiment.abTest]]):
    * variant = customer parity, conversion = urgent/high priority.
    * Trials and successes are exact integers; p's, pooled rate, z
    * evaluate in one fixed double operation order (6dp); the 5%
    * verdict is an integer the oracle re-derives.
    */
  private val q235_ab_test: Q = (
    (s, dir) => graft.ops.Experiment.abTest(
      read(s, dir, "orders")
        .withColumn("v", (col("o_custkey") % 2).cast("string")),
      "v",
      col("o_orderpriority").isin("1-URGENT", "2-HIGH")),
    Some("""WITH a AS (SELECT CAST(o_custkey % 2 AS VARCHAR)
                 AS variant, count(*) AS n,
                 CAST(sum(CASE WHEN o_orderpriority IN
                   ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                   AS BIGINT) AS x
               FROM orders GROUP BY 1)
        SELECT a0.variant AS variant_a, a0.n AS n_a, a0.x AS x_a,
               a1.variant AS variant_b, a1.n AS n_b, a1.x AS x_b,
               round(CAST(a0.x AS DOUBLE) / CAST(a0.n AS DOUBLE), 6)
                 AS p_a,
               round(CAST(a1.x AS DOUBLE) / CAST(a1.n AS DOUBLE), 6)
                 AS p_b,
               round((CAST(a0.x AS DOUBLE) / CAST(a0.n AS DOUBLE)
                   - CAST(a1.x AS DOUBLE) / CAST(a1.n AS DOUBLE))
                 / sqrt(
                   (CAST(a0.x + a1.x AS DOUBLE)
                     / CAST(a0.n + a1.n AS DOUBLE))
                   * (1.0 - CAST(a0.x + a1.x AS DOUBLE)
                     / CAST(a0.n + a1.n AS DOUBLE))
                   * (1.0 / CAST(a0.n AS DOUBLE)
                     + 1.0 / CAST(a1.n AS DOUBLE))), 6) AS z,
               CAST(abs((CAST(a0.x AS DOUBLE) / CAST(a0.n AS DOUBLE)
                   - CAST(a1.x AS DOUBLE) / CAST(a1.n AS DOUBLE))
                 / sqrt(
                   (CAST(a0.x + a1.x AS DOUBLE)
                     / CAST(a0.n + a1.n AS DOUBLE))
                   * (1.0 - CAST(a0.x + a1.x AS DOUBLE)
                     / CAST(a0.n + a1.n AS DOUBLE))
                   * (1.0 / CAST(a0.n AS DOUBLE)
                     + 1.0 / CAST(a1.n AS DOUBLE))))
                 >= 1.959964 AS INTEGER) AS significant
        FROM a a0, a a1
        WHERE a0.variant = '0' AND a1.variant = '1'"""))

  /** CUPED variance reduction ([[graft.ops.Experiment.cuped]]) on
    * the REAL experiment shape: unit = customer, y = post-period
    * spend (1999+), covariate x = pre-period spend, variant =
    * customer parity. θ, per-variant adjusted means and the ρ²
    * reduction all derive from exact decimal sums in closed form.
    */
  private val q236_cuped: Q = (
    (s, dir) => {
      val per = read(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          coalesce(sum(when(year(col("o_orderdate")) < 1999,
            col("o_totalprice")).cast("decimal(25,6)")), lit(0))
            .cast("double").as("x"),
          coalesce(sum(when(year(col("o_orderdate")) >= 1999,
            col("o_totalprice")).cast("decimal(25,6)")), lit(0))
            .cast("double").as("y"))
        .withColumn("v", (col("o_custkey") % 2).cast("string"))
      graft.ops.Experiment.cuped(per, "v", col("y"), col("x"))
        .orderBy(col("variant"))
    },
    Some("""WITH per AS (SELECT o_custkey,
                 COALESCE(CAST(sum(CASE WHEN year(o_orderdate) < 1999
                   THEN CAST(o_totalprice AS DECIMAL(25,6)) END)
                   AS DOUBLE), 0) AS x,
                 COALESCE(CAST(sum(CASE WHEN year(o_orderdate) >= 1999
                   THEN CAST(o_totalprice AS DECIMAL(25,6)) END)
                   AS DOUBLE), 0) AS y,
                 CAST(o_custkey % 2 AS VARCHAR) AS v
               FROM orders GROUP BY o_custkey),
             g AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                 CAST(sum(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
                 CAST(sum(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
                 CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                   AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
                 CAST(sum(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                   AS DECIMAL(38,10))) AS DOUBLE) AS sxy,
                 CAST(sum(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
                   AS DECIMAL(38,10))) AS DOUBLE) AS syy
               FROM per),
             pv AS (SELECT v AS variant,
                 CAST(count(*) AS DOUBLE) AS nv,
                 CAST(sum(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS svx,
                 CAST(sum(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS svy
               FROM per GROUP BY v)
        SELECT variant, CAST(nv AS BIGINT) AS n,
               round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6)
                 AS theta,
               round(svy / nv, 6) AS mean_y,
               round(svy / nv - (sxy - sx * sy / n)
                 / (sxx - sx * sx / n) * (svx / nv - sx / n), 6)
                 AS mean_adj,
               round((sxy - sx * sy / n) * (sxy - sx * sy / n)
                 / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
                 AS var_reduction
        FROM pv CROSS JOIN g ORDER BY variant"""))

  /** Difference-in-differences ([[graft.ops.Experiment.diffInDiff]]):
    * 2x2 (customer parity x pre/post 1999) cell means of order value
    * from exact sums; the DiD effect rides every row, 6dp.
    */
  private val q237_did: Q = (
    (s, dir) => graft.ops.Experiment.diffInDiff(
      read(s, dir, "orders"),
      (col("o_custkey") % 2 === 0),
      year(col("o_orderdate")) >= 1999,
      col("o_totalprice")),
    Some("""WITH cells AS (SELECT
                 CAST(o_custkey % 2 = 0 AS INTEGER) AS treated,
                 CAST(year(o_orderdate) >= 1999 AS INTEGER) AS post,
                 count(*) AS n,
                 CAST(sum(CAST(o_totalprice AS DECIMAL(25,6)))
                   AS DOUBLE) AS s
               FROM orders GROUP BY 1, 2),
             m AS (SELECT treated, post, n, s / CAST(n AS DOUBLE)
                 AS mean FROM cells),
             d AS (SELECT
                 (SELECT mean FROM m WHERE treated = 1 AND post = 1)
               - (SELECT mean FROM m WHERE treated = 1 AND post = 0)
               - ((SELECT mean FROM m WHERE treated = 0 AND post = 1)
               -  (SELECT mean FROM m WHERE treated = 0 AND post = 0))
                 AS did)
        SELECT treated, post, n, round(mean, 6) AS mean,
               round(did, 6) AS did
        FROM m CROSS JOIN d ORDER BY treated, post"""))

  /** Kaplan-Meier churn survival
    * ([[graft.ops.Experiment.kaplanMeier]]): duration = days from a
    * customer's first to last order, event = churned (last order >
    * 360 days before the corpus max — later customers are CENSORED,
    * which is exactly what KM handles and a naive average can't).
    * Counts exact; S(t) = exp of a running ln sum over the
    * time-ordered window (left-to-right fold — deterministic on both
    * engines), 6dp.
    */
  /** NELSON-AALEN cumulative hazard
    * ([[graft.ops.Experiment.nelsonAalen]]) over the same
    * churn-duration construction as q245: H(t) = running Σ d/n_risk
    * (per-interval hazard KM's product hides) plus the
    * Fleming-Harrington survival exp(-H). Exact integer risk sets;
    * the running float sum folds in frame order on both engines.
    */
  private val q264_nelson_aalen: Q = (
    (s, dir) => {
      val per = read(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("first_d"),
          max(col("o_orderdate")).as("last_d"))
      val mx = per.agg(max(col("last_d")).as("maxd"))
      val subj = per.crossJoin(broadcast(mx))
        .select(
          expr("datediff(last_d, first_d)").cast("long")
            .as("duration"),
          (expr("datediff(maxd, last_d)") > 360).cast("long")
            .as("event"))
      graft.ops.Experiment.nelsonAalen(subj, col("duration"),
          col("event"))
        .orderBy(col("t"))
    },
    Some("""WITH per AS (SELECT o_custkey,
                 min(o_orderdate) AS fd, max(o_orderdate) AS ld
               FROM orders GROUP BY 1),
             mx AS (SELECT max(ld) AS maxd FROM per),
             subj AS (SELECT
                 date_diff('day', CAST(fd AS DATE), CAST(ld AS DATE))
                   AS duration,
                 CAST(date_diff('day', CAST(ld AS DATE),
                   CAST(maxd AS DATE)) > 360 AS BIGINT) AS event
               FROM per CROSS JOIN mx),
             times AS (SELECT duration AS t,
                 CAST(sum(event) AS BIGINT) AS d,
                 count(*) AS c
               FROM subj GROUP BY 1),
             tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM times),
             r AS (SELECT t, d, c,
                 n - COALESCE(sum(c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS n_risk
               FROM times CROSS JOIN tot)
        SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d,
               round(sum(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
                 OVER (ORDER BY t ROWS UNBOUNDED PRECEDING), 6)
                 AS cum_hazard,
               round(exp(-sum(CAST(d AS DOUBLE)
                 / CAST(n_risk AS DOUBLE)) OVER (ORDER BY t
                   ROWS UNBOUNDED PRECEDING)), 6) AS survival_fh
        FROM r ORDER BY t"""))

  private val q245_kaplan_meier: Q = (
    (s, dir) => {
      val per = read(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("first_d"),
          max(col("o_orderdate")).as("last_d"))
      val mx = per.agg(max(col("last_d")).as("maxd"))
      val subj = per.crossJoin(broadcast(mx))
        .select(
          expr("datediff(last_d, first_d)").cast("long")
            .as("duration"),
          (expr("datediff(maxd, last_d)") > 360).cast("long")
            .as("event"))
      graft.ops.Experiment.kaplanMeier(subj, col("duration"),
          col("event"))
        .orderBy(col("t"))
    },
    Some("""WITH per AS (SELECT o_custkey,
                 min(o_orderdate) AS fd, max(o_orderdate) AS ld
               FROM orders GROUP BY 1),
             mx AS (SELECT max(ld) AS maxd FROM per),
             subj AS (SELECT
                 date_diff('day', CAST(fd AS DATE), CAST(ld AS DATE))
                   AS duration,
                 CAST(date_diff('day', CAST(ld AS DATE),
                   CAST(maxd AS DATE)) > 360 AS BIGINT) AS event
               FROM per CROSS JOIN mx),
             times AS (SELECT duration AS t,
                 CAST(sum(event) AS BIGINT) AS d,
                 count(*) AS c
               FROM subj GROUP BY 1),
             tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM times),
             r AS (SELECT t, d, c,
                 n - COALESCE(sum(c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS n_risk
               FROM times CROSS JOIN tot)
        SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d,
               round(exp(sum(ln(1.0 - CAST(d AS DOUBLE)
                 / CAST(n_risk AS DOUBLE))) OVER (ORDER BY t
                   ROWS UNBOUNDED PRECEDING)), 6) AS survival
        FROM r ORDER BY t"""))

  /** Per-segment uplift ([[graft.ops.Experiment.upliftBySegment]]):
    * treated = customer parity, conversion = urgent/high priority,
    * segmented by market segment — the heterogeneous-effect read
    * behind every targeting decision. Exact cells; one double
    * subtraction per segment.
    */
  private val q246_uplift: Q = (
    (s, dir) => graft.ops.Experiment.upliftBySegment(
        read(s, dir, "orders").join(read(s, dir, "customer"),
          col("o_custkey") === col("c_custkey")),
        "c_mktsegment", col("o_custkey") % 2 === 0,
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .orderBy(col("c_mktsegment")),
    Some("""SELECT c_mktsegment,
                   CAST(sum(CASE WHEN o_custkey % 2 = 0 THEN 1
                     ELSE 0 END) AS BIGINT) AS n_t,
                   CAST(sum(CASE WHEN o_custkey % 2 = 0
                     AND o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS x_t,
                   CAST(sum(CASE WHEN o_custkey % 2 <> 0 THEN 1
                     ELSE 0 END) AS BIGINT) AS n_c,
                   CAST(sum(CASE WHEN o_custkey % 2 <> 0
                     AND o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS x_c,
                   round(CAST(sum(CASE WHEN o_custkey % 2 = 0
                       AND o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(sum(CASE WHEN o_custkey % 2 = 0 THEN 1
                       ELSE 0 END) AS DOUBLE)
                     - CAST(sum(CASE WHEN o_custkey % 2 <> 0
                       AND o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(sum(CASE WHEN o_custkey % 2 <> 0 THEN 1
                       ELSE 0 END) AS DOUBLE), 6) AS uplift
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1 ORDER BY 1"""))

  /** Pareto / ABC classification (the 80-20 inventory read): parts
    * ranked by exact-decimal revenue, cumulative share as a RUNNING
    * sum over the rank order (left-to-right fold — deterministic on
    * both engines, the Kaplan-Meier convention), class A/B/C at the
    * 80%/95% cuts on the 6dp-rounded share. The window runs over the
    * AGGREGATED part table (bounded analysis dimension, the q197
    * rule) under an explicit non-foldable partition pin. Top 1000 by
    * rank keeps the compare surface bounded at every sf.
    */
  private val q249_pareto_abc: Q = (
    (s, dir) => {
      val rev = read(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(dsum(col("l_extendedprice")).as("revenue"))
      val pin = pmod(col("l_partkey"), lit(1))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(pin)
        .orderBy(col("revenue").desc, col("l_partkey"))
      val tot = rev.agg(sum(col("revenue").cast("decimal(25,6)"))
        .cast("double").as("__t"))
      rev.crossJoin(broadcast(tot))
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("cum_share", round(
          sum(col("revenue").cast("decimal(25,6)")).over(w)
            .cast("double") / col("__t"), 6))
        .withColumn("abc_class",
          when(col("cum_share") <= 0.80, "A")
            .when(col("cum_share") <= 0.95, "B")
            .otherwise("C"))
        .where(col("rank") <= 1000)
        .select(col("l_partkey"), col("revenue"), col("rank"),
          col("cum_share"), col("abc_class"))
        .orderBy(col("rank"))
    },
    Some(s"""WITH rev AS (SELECT l_partkey,
                 ${sqlDsum("l_extendedprice")} AS revenue
               FROM lineitem GROUP BY 1),
             tot AS (SELECT CAST(sum(CAST(revenue AS DECIMAL(25,6)))
                 AS DOUBLE) AS t FROM rev),
             r AS (SELECT l_partkey, revenue,
                 row_number() OVER (ORDER BY revenue DESC, l_partkey)
                   AS rank,
                 round(CAST(sum(CAST(revenue AS DECIMAL(25,6)))
                     OVER (ORDER BY revenue DESC, l_partkey
                       ROWS UNBOUNDED PRECEDING) AS DOUBLE) / tot.t,
                   6) AS cum_share
               FROM rev CROSS JOIN tot)
        SELECT l_partkey, revenue, rank, cum_share,
               CASE WHEN cum_share <= 0.80 THEN 'A'
                    WHEN cum_share <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM r WHERE rank <= 1000 ORDER BY rank"""))

  /** OHLC time-series bars: per (event_type, 15-min bucket) the
    * first/max/min/last `value` — open/close picked by min_by/max_by
    * over the (ts, event_id) total order, so bars are deterministic
    * under ties and partitioning. One grouped aggregate; at scale
    * this is the classic pre-aggregation that turns tick streams
    * into chart-servable data.
    */
  private val q183_ohlc: Q = (
    (s, dir) => read(s, dir, "events")
      .withColumn("bar", date_trunc("hour", col("ts")) +
        expr("make_interval(0, 0, 0, 0, 0, " +
          "15 * (minute(ts) div 15), 0)"))
      .groupBy(col("event_type"), col("bar"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id")))
          .as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id")))
          .as("close"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("bar")),
    Some("""WITH e AS (SELECT event_type, event_id, value,
                 CAST(ts AS TIMESTAMP) AS t,
                 date_trunc('hour', CAST(ts AS TIMESTAMP)) +
                   to_minutes(15 * (minute(CAST(ts AS TIMESTAMP)) // 15))
                   AS bar
               FROM events),
             r AS (SELECT event_type, bar, value,
                 row_number() OVER (PARTITION BY event_type, bar
                   ORDER BY t, event_id) AS rn_a,
                 row_number() OVER (PARTITION BY event_type, bar
                   ORDER BY t DESC, event_id DESC) AS rn_d
               FROM e)
        SELECT event_type, bar,
               max(CASE WHEN rn_a = 1 THEN value END) AS open,
               max(value) AS high, min(value) AS low,
               max(CASE WHEN rn_d = 1 THEN value END) AS close,
               count(*) AS n
        FROM r GROUP BY event_type, bar
        ORDER BY event_type, bar"""))

  /** Gap-filling resample + forward fill: per event_type, a DENSE
    * hourly grid spanning [min, max] event time (sequence() exploded
    * — no driver loop), left-joined to hourly aggregates, holes
    * filled with the last known value (last_value IGNORE NULLS over
    * the per-type time order). The time-series normalization every
    * downstream model expects; windows partition by type, never
    * global.
    */
  private val q184_resample_ffill: Q = (
    (s, dir) => {
      val e = read(s, dir, "events")
      val hourly = e.groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("h"))
        .agg(dsum(col("value")).as("v"))
      val span = e.groupBy(col("event_type"))
        .agg(date_trunc("hour", min(col("ts"))).as("h0"),
          date_trunc("hour", max(col("ts"))).as("h1"))
      val grid = span.select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, 0)
      grid.join(hourly, Seq("event_type", "h"), "left")
        .withColumn("v_filled",
          last(col("v"), ignoreNulls = true).over(w))
        .withColumn("is_gap", col("v").isNull.cast("int"))
        .select(col("event_type"), col("h"), col("v_filled"),
          col("is_gap"))
        .orderBy(col("event_type"), col("h"))
    },
    Some(s"""WITH e AS (SELECT event_type, value,
                 CAST(ts AS TIMESTAMP) AS t FROM events),
             hourly AS (SELECT event_type, date_trunc('hour', t) AS h,
                 ${sqlDsum("value")} AS v
               FROM e GROUP BY 1, 2),
             span AS (SELECT event_type,
                 date_trunc('hour', min(t)) AS h0,
                 date_trunc('hour', max(t)) AS h1
               FROM e GROUP BY 1),
             grid AS (SELECT event_type,
                 unnest(generate_series(h0, h1,
                   INTERVAL 1 HOUR)) AS h
               FROM span)
        SELECT g.event_type, g.h,
               last_value(hourly.v IGNORE NULLS) OVER (
                 PARTITION BY g.event_type ORDER BY g.h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS v_filled,
               CAST(hourly.v IS NULL AS INTEGER) AS is_gap
        FROM grid g LEFT JOIN hourly
          ON g.event_type = hourly.event_type AND g.h = hourly.h
        ORDER BY g.event_type, g.h"""))

  /** Market-basket co-occurrence: part PAIRS appearing in the same
    * order, with support counts — the frequent-itemset primitive.
    * The pair join is WITHIN order (bounded by basket size, the
    * within-bucket candidate shape every dedup family uses), distinct
    * parts per basket first so multiplicity can't inflate support.
    * Top pairs by (support desc, pair asc) — deterministic cut.
    */
  private val q185_cooccurrence: Q = (
    (s, dir) => {
      val li = read(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val a = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("pb"))
      a.join(b, Seq("l_orderkey")).where(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb"))
        .agg(count(lit(1)).as("support"))
        .orderBy(col("support").desc, col("pa"), col("pb"))
        .limit(50)
    },
    Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey
                        FROM lineitem)
        SELECT a.l_partkey AS pa, b.l_partkey AS pb,
               count(*) AS support
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
          AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 ORDER BY support DESC, pa, pb LIMIT 50"""))

  /** Semi-structured extraction: the events `props` JSON column
    * parsed with an explicit schema (`from_json` — codegen'd Jackson
    * parse, no UDF) and aggregated. At scale the explicit schema is
    * what keeps this a single pass — schema inference would cost a
    * whole extra corpus read. The oracle parses the same JSON with
    * DuckDB's json_extract.
    */
  private val q179_json_extract: Q = (
    (s, dir) => read(s, dir, "events")
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type")),
    Some("""SELECT event_type, count(k) AS n,
                   CAST(sum(k) AS BIGINT) AS sum_k,
                   min(k) AS min_k, max(k) AS max_k
            FROM (SELECT event_type,
                    CAST(json_extract(props, '$.k') AS BIGINT) AS k
                  FROM events)
            GROUP BY event_type ORDER BY event_type"""))

  /** Robust scaling ([[Encode.appendRobust]]): (x - median) / IQR
    * from EXACT quantile data points — the outlier-immune sibling of
    * the q21 z-score. Same fit-once/apply-everywhere encoder shape;
    * the scaled value is one double expression from three exact
    * constants, rounded 6dp on both engines.
    */
  private val q180_robust_scale: Q = (
    (s, dir) => {
      val (scaled, _) = Encode.appendRobust(
        read(s, dir, "customer"), "c_acctbal", "acctbal_r")
      scaled.select(col("c_custkey"),
          round(col("acctbal_r"), 6).as("acctbal_r"))
        .orderBy(col("c_custkey"))
    },
    Some("""WITH cuts AS (SELECT
                 quantile_disc(c_acctbal, 0.25) AS lo,
                 quantile_disc(c_acctbal, 0.5) AS med,
                 quantile_disc(c_acctbal, 0.75) AS hi
               FROM customer)
        SELECT c_custkey,
               round((c_acctbal - med) / (hi - lo), 6) AS acctbal_r
        FROM customer, cuts ORDER BY c_custkey"""))

  /** Path analysis ([[Stats.topPaths]]): top consecutive 3-step
    * event-type sequences across users — lead windows per user (one
    * shuffle, the sessionize bound), then a distinct-paths-sized
    * count. The oracle rebuilds the n-grams with the same lead
    * windows.
    */
  private val q181_top_paths: Q = (
    (s, dir) => Stats.topPaths(read(s, dir, "events"), "user_id",
      "ts", "event_id", "event_type", n = 3, k = 20),
    Some("""WITH p AS (SELECT user_id, event_type AS e1,
                 lead(event_type, 1) OVER w AS e2,
                 lead(event_type, 2) OVER w AS e3
               FROM events
               WINDOW w AS (PARTITION BY user_id
                            ORDER BY CAST(ts AS TIMESTAMP), event_id))
        SELECT e1 || ' -> ' || e2 || ' -> ' || e3 AS path,
               count(*) AS n_occurrences
        FROM p
        WHERE e1 IS NOT NULL AND e2 IS NOT NULL AND e3 IS NOT NULL
        GROUP BY 1 ORDER BY n_occurrences DESC, path LIMIT 20"""))

  /** ROLLUP hierarchy aggregate (Catalyst's native rollup — subtotal
    * rows per returnflag and a grand total in ONE pass via Expand,
    * not three separate scans unioned). NULL subtotal markers are
    * coalesced to a sentinel on both sides so the hash compare is
    * NULL-free.
    */
  private val q177_rollup: Q = (
    (s, dir) => read(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("(all)"))
          .as("returnflag"),
        coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
        col("n"), col("sum_qty"))
      .orderBy(col("returnflag"), col("linestatus")),
    Some(s"""SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
                    COALESCE(l_linestatus, '(all)') AS linestatus,
                    count(*) AS n,
                    ${sqlDsum("l_quantity")} AS sum_qty
             FROM lineitem
             GROUP BY ROLLUP (l_returnflag, l_linestatus)
             ORDER BY returnflag, linestatus"""))

  /** PIVOT: per-user event-type counts spread into one column per
    * type (explicit value list -> deterministic schema; absent cells
    * filled 0). Spark plans the pivot as ONE grouped aggregate with
    * conditional counts — exactly what the oracle writes out
    * longhand.
    */
  private val q178_pivot: Q = (
    (s, dir) => read(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type",
        Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id")),
    Some("""SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1
                     ELSE 0 END) AS BIGINT) AS click,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1
                     ELSE 0 END) AS BIGINT) AS error,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                     ELSE 0 END) AS BIGINT) AS purchase,
                   CAST(sum(CASE WHEN event_type = 'signup' THEN 1
                     ELSE 0 END) AS BIGINT) AS signup,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1
                     ELSE 0 END) AS BIGINT) AS view
            FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Incremental aggregate maintenance ([[ops.Incremental]]): the
    * standing per-priority rollup of orders is maintained as
    * mergeable state (count / exact-decimal sum / min / max), and the
    * query answers from base-state MERGED with a delta batch — no
    * history re-scan. The oracle recomputes from scratch over all of
    * orders: state-merge must be bit-identical to recompute, which is
    * exactly what the monoid state + exact-decimal sum guarantee.
    */
  private val q171_incremental_agg: Q = (
    (s, dir) => {
      val o = read(s, dir, "orders")
      val base = o.where(col("o_orderkey") % 10 =!= 0)
      val delta = o.where(col("o_orderkey") % 10 === 0)
      val keys = Seq("o_orderpriority")
      val merged = ops.Incremental.merge(Seq(
        ops.Incremental.aggState(base, keys, "o_totalprice"),
        ops.Incremental.aggState(delta, keys, "o_totalprice")), keys)
      ops.Incremental.finish(merged, keys)
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""SELECT o_orderpriority, count(o_totalprice) AS cnt,
                    ${sqlDsum("o_totalprice")} AS total,
                    ${sqlDavg("o_totalprice")} AS avg,
                    min(o_totalprice) AS vmin, max(o_totalprice) AS vmax
             FROM orders GROUP BY o_orderpriority
             ORDER BY o_orderpriority"""))

  /** Ordered funnel over the event stream (view -> click -> purchase):
    * users completing each prefix in order, chained-min semantics
    * (step i+1 strictly after step i's earliest qualifying time).
    * Spark computes it in ONE shuffle — a fold over each user's
    * time-sorted events (the greedy first-match in sorted order is
    * exactly the chained min); the oracle replays the textbook
    * k-round chained-CTE form, pinning the equivalence.
    */
  private val q164_funnel: Q = (
    (s, dir) => Stats.funnel(read(s, dir, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
      .orderBy(col("step")),
    Some("""WITH e AS (SELECT user_id, event_type,
                 CAST(ts AS TIMESTAMP) AS t
               FROM events WHERE ts IS NOT NULL),
             s1 AS (SELECT user_id, min(t) AS t1 FROM e
               WHERE event_type = 'view' GROUP BY 1),
             s2 AS (SELECT e.user_id, min(t) AS t2 FROM e
               JOIN s1 USING (user_id)
               WHERE event_type = 'click' AND t > t1 GROUP BY 1),
             s3 AS (SELECT e.user_id, min(t) AS t3 FROM e
               JOIN s2 USING (user_id)
               WHERE event_type = 'purchase' AND t > t2 GROUP BY 1)
        SELECT CAST(step AS BIGINT) AS step, step_name,
               CAST(n_users AS BIGINT) AS n_users
        FROM (VALUES (1, 'view', (SELECT count(*) FROM s1)),
                     (2, 'click', (SELECT count(*) FROM s2)),
                     (3, 'purchase', (SELECT count(*) FROM s3)))
             AS t(step, step_name, n_users)
        ORDER BY step"""))

  /** Cohort retention matrix: users cohorted by first-event week,
    * counted once per (cohort, active week); week_no is whole weeks
    * since cohort start. Monday-truncated weeks are the convention
    * both engines share, and the day difference between two week
    * starts is an exact multiple of 7 under the pinned UTC session.
    */
  private val q165_cohort: Q = (
    (s, dir) => Stats.cohort(read(s, dir, "events"), "user_id", "ts")
      .orderBy(col("cohort_week"), col("week_no")),
    Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t
                 FROM events WHERE ts IS NOT NULL),
             c AS (SELECT user_id, date_trunc('week', min(t)) AS cw
               FROM e GROUP BY 1),
             a AS (SELECT DISTINCT e.user_id, c.cw,
                 date_trunc('week', e.t) AS aw
               FROM e JOIN c ON e.user_id = c.user_id)
        SELECT CAST(cw AS DATE) AS cohort_week,
               CAST(date_diff('day', cw, aw) // 7 AS BIGINT) AS week_no,
               count(*) AS n_users
        FROM a GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** One-pass column profiler over orders: counts, nulls, exact
    * distincts, typed min/max — ONE aggregate job (Expand for the
    * multi-column distinct); the oracle recomputes each column's row
    * via UNION ALL. approxDistinct = true is the 100 TB form
    * (HyperLogLog), exact is the oracle-checkable one.
    */
  private val q97_profile: Q = (
    (s, dir) => Stats.profile(read(s, dir, "orders"),
        Seq("o_orderkey", "o_totalprice", "o_orderstatus",
          "o_orderpriority", "o_orderdate"))
      .orderBy(col("col_name")),
    Some("""WITH p AS (
          SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
                 count(*) - count(o_orderkey) AS n_nulls,
                 count(DISTINCT o_orderkey) AS n_distinct,
                 CAST(min(o_orderkey) AS DOUBLE) AS min_num,
                 CAST(max(o_orderkey) AS DOUBLE) AS max_num,
                 CAST(NULL AS VARCHAR) AS min_str,
                 CAST(NULL AS VARCHAR) AS max_str
          FROM orders
          UNION ALL
          SELECT 'o_totalprice', count(*),
                 count(*) - count(o_totalprice),
                 count(DISTINCT o_totalprice),
                 CAST(min(o_totalprice) AS DOUBLE),
                 CAST(max(o_totalprice) AS DOUBLE), NULL, NULL
          FROM orders
          UNION ALL
          SELECT 'o_orderstatus', count(*),
                 count(*) - count(o_orderstatus),
                 count(DISTINCT o_orderstatus), NULL, NULL,
                 min(o_orderstatus), max(o_orderstatus)
          FROM orders
          UNION ALL
          SELECT 'o_orderpriority', count(*),
                 count(*) - count(o_orderpriority),
                 count(DISTINCT o_orderpriority), NULL, NULL,
                 min(o_orderpriority), max(o_orderpriority)
          FROM orders
          UNION ALL
          SELECT 'o_orderdate', count(*),
                 count(*) - count(o_orderdate),
                 count(DISTINCT o_orderdate), NULL, NULL,
                 CAST(min(o_orderdate) AS VARCHAR),
                 CAST(max(o_orderdate) AS VARCHAR)
          FROM orders)
        SELECT * FROM p ORDER BY col_name"""))

  /** Bounded-frame moving aggregate (7-row moving sum/avg over order
    * totals) through the overlap-padded bucket plan — no
    * single-partition window; exact-decimal sums so the hash-match is
    * immune to windowed-sum regrouping (DuckDB's segment tree vs
    * Spark's sequential frame).
    */
  private val q99_moving_avg: Q = (
    (s, dir) => {
      import graft.ops.ScanOps
      val m = ScanOps.movingAgg(
        read(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        "o_orderkey",
        Seq(("mov_sum_d", col("o_totalprice").cast("decimal(25,6)"),
            (c: org.apache.spark.sql.Column) => sum(c)),
          ("mov_n", lit(1L),
            (c: org.apache.spark.sql.Column) => count(c))),
        k = 7)
      m.select(col("o_orderkey"),
          col("mov_sum_d").cast("double").as("mov_sum"),
          col("mov_n"),
          (col("mov_sum_d").cast("double") / col("mov_n"))
            .as("mov_avg"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) OVER w
                     AS DOUBLE) AS mov_sum,
                   count(*) OVER w AS mov_n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) OVER w
                     AS DOUBLE) / count(*) OVER w AS mov_avg
            FROM orders
            WINDOW w AS (ORDER BY o_orderkey
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
            ORDER BY o_orderkey"""))

  /** Batch sessionization of the event stream: 30-minute-gap
    * sessions per user, exact microsecond durations. Windows
    * partition by user — the key cardinality grows with the data, so
    * the plan holds at scale.
    */
  private val q98_sessionize: Q = (
    (s, dir) => Stats.sessionize(read(s, dir, "events"), "user_id",
        "ts", gapSeconds = 1800L, tiebreak = "event_id")
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("t_start"), col("duration_us"))
      .orderBy(col("user_id"), col("session_idx")),
    Some("""WITH e AS (SELECT user_id, event_id,
                 CAST(ts AS TIMESTAMP) AS t FROM events),
             s AS (SELECT user_id, event_id, t,
                 CASE WHEN lag(t) OVER w IS NULL
                        OR epoch_us(t) - epoch_us(lag(t) OVER w)
                           >= 1800000000
                      THEN 1 ELSE 0 END AS nf
               FROM e
               WINDOW w AS (PARTITION BY user_id
                            ORDER BY t, event_id)),
             x AS (SELECT user_id, t,
                 CAST(sum(nf) OVER (PARTITION BY user_id
                   ORDER BY t, event_id) AS BIGINT) AS session_idx
               FROM s)
        SELECT user_id, session_idx, count(*) AS n_events,
               min(t) AS t_start,
               epoch_us(max(t)) - epoch_us(min(t)) AS duration_us
        FROM x GROUP BY user_id, session_idx
        ORDER BY user_id, session_idx"""))

  /** Delete-one-group JACKKNIFE standard error
    * ([[graft.ops.Experiment.jackknifeRatio]]) for the ratio metric
    * revenue-per-unit = Σ extendedprice / Σ quantity, grouped by
    * supplier bucket — the SE a per-row variance understates because
    * both numerator and denominator are random. Group sums exact,
    * leave-one-out replicates quantized to millionths before the
    * variance sums: the whole estimate is two aggregates + O(groups)
    * closed-form arithmetic, bit-reproducible on both engines.
    */
  private val q278_jackknife: Q = (
    (s, dir) => graft.ops.Experiment.jackknifeRatio(
      read(s, dir, "lineitem"),
      group = col("l_suppkey") % 50,
      num = col("l_extendedprice"), den = col("l_quantity")),
    Some("""WITH g AS (SELECT l_suppkey % 50 AS g,
                 sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS sn,
                 sum(CAST(l_quantity AS DECIMAL(25,6))) AS sd
               FROM lineitem GROUP BY 1),
             tot AS (SELECT sum(sn) AS tn, sum(sd) AS td,
                 CAST(count(*) AS BIGINT) AS gcnt FROM g),
             reps AS (SELECT CAST(floor(
                 CAST(tn - sn AS DOUBLE) / CAST(td - sd AS DOUBLE)
                   * 1000000.0 + 0.5) AS BIGINT) AS qi
               FROM g CROSS JOIN tot),
             agg AS (SELECT CAST(sum(qi) AS BIGINT) AS sq,
                 sum(CAST(qi * qi AS DECIMAL(38,0))) AS sqq
               FROM reps)
        SELECT gcnt AS g_groups,
               round(CAST(tn AS DOUBLE) / CAST(td AS DOUBLE), 6)
                 AS theta,
               round(CAST(gcnt AS DOUBLE) *
                   (CAST(tn AS DOUBLE) / CAST(td AS DOUBLE)) -
                   (CAST(gcnt AS DOUBLE) - 1.0) *
                   (CAST(sq AS DOUBLE) / CAST(gcnt AS DOUBLE)
                     / 1000000.0), 6) AS theta_jk,
               round(sqrt((CAST(gcnt AS DOUBLE) - 1.0)
                     / CAST(gcnt AS DOUBLE) *
                     (CAST(sqq AS DOUBLE) -
                       CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)
                         / CAST(gcnt AS DOUBLE))) / 1000000.0, 6)
                 AS se_jk
        FROM agg CROSS JOIN tot"""))

  /** MAXIMUM DRAWDOWN per priority class
    * ([[graft.functions.Stats.maxDrawdown]]) over the signed daily
    * order-flow curve (F-status orders book negative — a
    * deterministic net-flow construction that actually draws down,
    * unlike a nonnegative revenue running total). Exact-decimal
    * cumulative/peak windows, earliest-time tiebreak; one per-series
    * window exchange, partitions bounded by time resolution.
    */
  private val q279_drawdown: Q = (
    (s, dir) => {
      val signed = when(col("o_orderstatus") === "F",
        -col("o_totalprice")).otherwise(col("o_totalprice"))
      val daily = read(s, dir, "orders")
        .where(col("o_orderdate").isNotNull)
        .groupBy(col("o_orderpriority").as("series"),
          to_date(col("o_orderdate")).as("day"))
        .agg(dsum(signed).as("v"))
      Stats.maxDrawdown(daily, "series", "day", col("v"))
        .orderBy(col("series"))
    },
    Some("""WITH d AS (SELECT o_orderpriority AS series,
                 CAST(o_orderdate AS DATE) AS day,
                 CAST(sum(CAST(CASE WHEN o_orderstatus = 'F'
                     THEN -o_totalprice ELSE o_totalprice END
                   AS DECIMAL(25,6))) AS DOUBLE) AS v
               FROM orders WHERE o_orderdate IS NOT NULL
               GROUP BY 1, 2),
             c AS (SELECT series, day,
                 sum(CAST(v AS DECIMAL(25,6))) OVER w AS cum
               FROM d
               WINDOW w AS (PARTITION BY series ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             p AS (SELECT series, day, cum,
                 max(cum) OVER w AS peak
               FROM c
               WINDOW w AS (PARTITION BY series ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             r AS (SELECT series, day AS at, peak,
                 peak - cum AS ddv,
                 row_number() OVER (PARTITION BY series
                   ORDER BY peak - cum DESC, day) AS rn
               FROM p)
        SELECT series, at, CAST(peak AS DOUBLE) AS peak,
               CAST(ddv AS DOUBLE) AS max_drawdown
        FROM r WHERE rn = 1 ORDER BY series"""))

  /** PS stratification, REAL FIT path ([[graft.ops.Experiment
    * .propensityStratifiedAte]]): treatment deterministically
    * CONFOUNDED with order value (price-band parity), the
    * propensity model fit by the bounded driver Newton
    * ([[graft.llmdata.Similarity.fitReranker]] — the q210 venue
    * rule) on a hash-ordered sample, quantized and served as an
    * integer score. Rows-only by nature (learned weights); the
    * serve path is pinned by the q304 static-weight oracle twin,
    * and the off-support refusal + exact-ntile strata are in-plan
    * gates.
    */
  private val q303_ps_ate: Q = (
    (s, dir) => {
      val feat = read(s, dir, "orders").select(col("o_orderkey"),
        expr("CAST((floor(o_totalprice) div 1000 + o_custkey) % 2" +
          " AS INT)").as("t"),
        col("o_totalprice").as("x1d"),
        (col("o_custkey") % 100).cast("double").as("x2d"),
        col("o_orderpriority").isin("1-URGENT", "2-HIGH")
          .cast("double").as("y"))
      val sample = feat
        .orderBy(graft.llmdata.Sampling.bucket(col("o_orderkey"),
          42L), col("o_orderkey"))
        .limit(4000)
      val (ws, b0) = graft.llmdata.Similarity.fitReranker(sample,
        Seq("x1d", "x2d"), "t", maxRows = 100000)
      val Seq(w1, w2) = ws.map(_._2)
      val scoreQ = floor(col("x1d") * lit(w1.toDouble) +
        col("x2d") * lit(w2.toDouble) + lit(b0.toDouble))
        .cast("long")
      graft.ops.Experiment.propensityStratifiedAte(feat,
          col("t"), col("y"), scoreQ, col("o_orderkey"))
        .orderBy(col("stratum"))
    },
    None)

  /** MULTI-ARM PAIRWISE CONTRASTS ([[graft.ops.Experiment
    * .pairwiseArms]]): all C(5,2) order-priority pairs' pooled z +
    * BH step-up — the post-hoc completing q235 (2 arms) and q300
    * (per-segment 2-arm FDR): here the MULTIPLICITY is the arm
    * lattice itself. One census, C(k,2) algebra rows, integer BH
    * rule.
    */
  private val q355_pairwise_arms: Q = (
    (s, dir) => graft.ops.Experiment.pairwiseArms(
      read(s, dir, "orders"),
      arm = col("o_orderpriority"),
      success = (col("o_totalprice") > 150000.0).cast("long")),
    Some("""WITH cells AS (SELECT o_orderpriority AS a,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(o_totalprice > 150000.0 AS BIGINT))
                   AS BIGINT) AS x
               FROM orders GROUP BY 1),
             pr AS (SELECT ca.a AS arm_a, ca.n AS n_a, ca.x AS x_a,
                 cb.a AS arm_b, cb.n AS n_b, cb.x AS x_b
               FROM cells ca JOIN cells cb ON ca.a < cb.a
               WHERE ca.x + cb.x > 0 AND ca.x + cb.x < ca.n + cb.n),
             zc AS (SELECT *,
                 (CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                  - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                 / sqrt((CAST(x_a + x_b AS DOUBLE)
                     / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 - CAST(x_a + x_b AS DOUBLE)
                       / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 / CAST(n_a AS DOUBLE)
                      + 1.0 / CAST(n_b AS DOUBLE))) AS z
               FROM pr),
             ph AS (SELECT *,
                 1.0 / (1.0 + 0.2316419 * abs(z)) AS t FROM zc),
             pv AS (SELECT arm_a, arm_b, n_a, x_a, n_b, x_b, z,
                 2.0 * (1.0 - (1.0 - exp(-(abs(z) * abs(z)) / 2.0)
                   / 2.5066282746310002 *
                   (t * (0.319381530 + t * (-0.356563782 +
                     t * (1.781477937 + t * (-1.821255978 +
                       t * 1.330274429))))))) AS p
               FROM ph),
             q AS (SELECT *,
                 CAST(floor(p * 1000000.0 + 0.5) AS BIGINT) AS pq
               FROM pv),
             r AS (SELECT *,
                 CAST(row_number() OVER (ORDER BY pq, arm_a, arm_b)
                   AS BIGINT) AS rank,
                 CAST(count(*) OVER () AS BIGINT) AS m
               FROM q),
             mx AS (SELECT COALESCE(max(CASE WHEN pq * 10 * m <=
                   rank * 1 * 1000000 THEN rank END), 0) AS maxi
               FROM r)
        SELECT arm_a, arm_b, n_a, x_a, n_b, x_b,
               round(z, 6) AS z, round(p, 6) AS p, rank,
               CAST(rank <= maxi AS BIGINT) AS rejected
        FROM r CROSS JOIN mx ORDER BY rank"""))

  /** PS CALIPER MATCHING, ATT ([[graft.ops.Experiment.psMatchAtt]]):
    * 1-nearest control WITH replacement within a 25-unit caliper on
    * the q304 static integer score — the classic matching estimator
    * completing the causal family (stratification q303/q304, IPW
    * q332, AIPW q339). Distinct-score census + full-outer score-axis
    * merge + two ordered window passes (the r11 sf1 capture caught
    * the naive banded pair join going candidate-quadratic at 1.5M
    * rows; this form is O(distinct scores)); per-score argmin with
    * the (|Δ|, tiebreak) semantics preserved; exact-decimal close.
    * The oracle replays the census, both window passes, the pick
    * CASE and the sums.
    */
  private val q354_ps_match: Q = (
    (s, dir) => graft.ops.Experiment.psMatchAtt(
      read(s, dir, "orders"),
      treated = col("o_custkey") % 2,
      outcome = col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH").cast("double"),
      scoreQ = expr("(3 * CAST(floor(o_totalprice) AS BIGINT))" +
        " div 100 + 7 * (o_custkey % 100)"),
      tiebreak = col("o_orderkey"), caliper = 25L),
    Some("""WITH s AS (SELECT o_orderkey AS tb,
                 CAST(o_custkey % 2 AS INTEGER) AS t,
                 CAST(o_orderpriority IN ('1-URGENT', '2-HIGH')
                   AS INTEGER) AS y,
                 (3 * CAST(floor(o_totalprice) AS BIGINT)) // 100
                   + 7 * (o_custkey % 100) AS sq
               FROM orders),
             tc AS (SELECT sq, CAST(count(*) AS BIGINT) AS nt,
                 sum(CAST(y AS DECIMAL(25,6))) AS syt
               FROM s WHERE t = 1 GROUP BY 1),
             cr AS (SELECT sq, y AS cy, tb AS ctb FROM (
                 SELECT sq, y, tb, row_number() OVER (
                   PARTITION BY sq ORDER BY tb, y) AS rn
                 FROM s WHERE t = 0) WHERE rn = 1),
             ax AS (SELECT COALESCE(tc.sq, cr.sq) AS sq, nt, syt,
                 cr.sq AS csq, ctb, cy
               FROM tc FULL OUTER JOIN cr ON tc.sq = cr.sq),
             mk AS (SELECT *,
                 last_value(csq IGNORE NULLS) OVER wp AS psq,
                 last_value(ctb IGNORE NULLS) OVER wp AS ptb,
                 last_value(cy IGNORE NULLS) OVER wp AS py,
                 first_value(csq IGNORE NULLS) OVER wn AS nsq,
                 first_value(ctb IGNORE NULLS) OVER wn AS ntb,
                 first_value(cy IGNORE NULLS) OVER wn AS ny
               FROM ax
               WINDOW wp AS (ORDER BY sq ROWS UNBOUNDED PRECEDING),
                      wn AS (ORDER BY sq ROWS BETWEEN CURRENT ROW
                             AND UNBOUNDED FOLLOWING)),
             pk AS (SELECT sq, nt, syt, CASE
                 WHEN psq IS NOT NULL AND sq - psq <= 25
                  AND nsq IS NOT NULL AND nsq - sq <= 25 THEN
                   CASE WHEN sq - psq < nsq - sq THEN py
                        WHEN nsq - sq < sq - psq THEN ny
                        WHEN ptb <= ntb THEN py ELSE ny END
                 WHEN psq IS NOT NULL AND sq - psq <= 25 THEN py
                 WHEN nsq IS NOT NULL AND nsq - sq <= 25 THEN ny
                 END AS ycm
               FROM mk WHERE nt IS NOT NULL)
        SELECT CAST(sum(nt) AS BIGINT) AS n_treated,
               CAST(sum(CASE WHEN ycm IS NOT NULL THEN nt ELSE 0 END)
                 AS BIGINT) AS n_matched,
               CAST(floor(CAST(sum(CASE WHEN ycm IS NOT NULL THEN nt
                   ELSE 0 END) AS DOUBLE) * 1000000.0
                 / CAST(sum(nt) AS DOUBLE)) AS BIGINT) AS match_ppm,
               round(CAST(sum(CASE WHEN ycm IS NOT NULL THEN
                   CAST(CAST(syt AS DOUBLE)
                     - CAST(nt AS DOUBLE) * ycm AS DECIMAL(38,12))
                   END) AS DOUBLE)
                 / CAST(sum(CASE WHEN ycm IS NOT NULL THEN nt
                     ELSE 0 END) AS DOUBLE), 6) AS att
        FROM pk"""))

  /** PS stratification, STATIC-WEIGHT oracle twin: the identical
    * ntile/cells/weighted-ATE pipeline under a fixed integer score
    * (3·⌊price⌋ div 100 + 7·(custkey mod 100)) — every stratum
    * cut, cell sum, per-stratum diff and the pooled ATE replay
    * bit-for-bit in DuckDB, pinning q303's serve path.
    */
  private val q304_ps_static: Q = (
    (s, dir) => {
      val o = read(s, dir, "orders")
      graft.ops.Experiment.propensityStratifiedAte(o,
          treated = col("o_custkey") % 2,
          outcome = col("o_orderpriority")
            .isin("1-URGENT", "2-HIGH").cast("double"),
          scoreQ = expr("(3 * CAST(floor(o_totalprice) AS BIGINT))" +
            " div 100 + 7 * (o_custkey % 100)"),
          tiebreak = col("o_orderkey"))
        .orderBy(col("stratum"))
    },
    Some("""WITH s AS (SELECT o_orderkey AS tb,
                 CAST(o_custkey % 2 AS INTEGER) AS t,
                 CAST(o_orderpriority IN ('1-URGENT', '2-HIGH')
                   AS INTEGER) AS y,
                 (3 * CAST(floor(o_totalprice) AS BIGINT)) // 100
                   + 7 * (o_custkey % 100) AS sq
               FROM orders),
             st AS (SELECT t, y, CAST(ntile(5) OVER
                 (ORDER BY sq, tb) AS BIGINT) AS stratum FROM s),
             cells AS (SELECT stratum,
                 CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_t,
                 sum(CAST(CASE WHEN t = 1 THEN CAST(y AS DOUBLE)
                   ELSE 0.0 END AS DECIMAL(25,6))) AS syt,
                 CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_c,
                 sum(CAST(CASE WHEN t = 0 THEN CAST(y AS DOUBLE)
                   ELSE 0.0 END AS DECIMAL(25,6))) AS syc
               FROM st GROUP BY 1),
             eff AS (SELECT stratum, n_t, n_c,
                 CAST(n_t + n_c AS BIGINT) AS n,
                 CAST(syt AS DOUBLE) / CAST(n_t AS DOUBLE)
                   - CAST(syc AS DOUBLE) / CAST(n_c AS DOUBLE)
                   AS diff
               FROM cells),
             q AS (SELECT *, CAST(floor(diff * 1000000.0 + 0.5)
                 AS BIGINT) AS dq FROM eff),
             tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                 sum(CAST(dq * n AS DECIMAL(38,0))) AS wd FROM q)
        SELECT stratum, n_t, n_c, round(diff, 6) AS diff,
               round(CAST(wd AS DOUBLE) / CAST(nn AS DOUBLE)
                 / 1000000.0, 6) AS ate
        FROM q CROSS JOIN tot ORDER BY stratum"""))

  /** IPW ATE ([[graft.ops.Experiment.ipwAte]]): the Hájek-normalized
    * inverse-propensity estimator over a static integer-ppm score —
    * q304's stratified read done the weighting way, with the
    * positivity trim reported. Per-row double weights quantize
    * before the four order-free sums.
    */
  private val q332_ipw_ate: Q = (
    (s, dir) => graft.ops.Experiment.ipwAte(
      read(s, dir, "orders"),
      treated = col("o_custkey") % 2,
      outcome = col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH").cast("double"),
      scorePpm = expr("(CAST(floor(o_totalprice) AS BIGINT) * 7919" +
        " + o_custkey) % 800000 + 100000")),
    Some("""WITH s AS (SELECT CAST(o_custkey % 2 AS BIGINT) AS t,
                 CAST(o_orderpriority IN ('1-URGENT', '2-HIGH')
                   AS DOUBLE) AS y,
                 (CAST(floor(o_totalprice) AS BIGINT) * 7919
                   + o_custkey) % 800000 + 100000 AS e
               FROM orders),
             tot AS (SELECT count(*) AS ntot FROM s),
             k AS (SELECT t, y, CAST(e AS DOUBLE) / 1000000.0 AS ed
               FROM s WHERE e >= 20000 AND e <= 980000),
             ag AS (SELECT count(*) AS n_used,
                 CAST(sum(CAST(CAST(t AS DOUBLE) / ed
                   AS DECIMAL(38,12))) AS DOUBLE) AS swt,
                 CAST(sum(CAST(CAST(t AS DOUBLE) / ed * y
                   AS DECIMAL(38,12))) AS DOUBLE) AS swty,
                 CAST(sum(CAST((1.0 - CAST(t AS DOUBLE)) / (1.0 - ed)
                   AS DECIMAL(38,12))) AS DOUBLE) AS swc,
                 CAST(sum(CAST((1.0 - CAST(t AS DOUBLE)) / (1.0 - ed)
                   * y AS DECIMAL(38,12))) AS DOUBLE) AS swcy
               FROM k)
        SELECT n_used, ntot - n_used AS n_trimmed,
               round(swty / swt, 6) AS mean_treated,
               round(swcy / swc, 6) AS mean_control,
               round(swty / swt - swcy / swc, 6) AS ate_ipw
        FROM ag CROSS JOIN tot"""))

  /** OFFLINE POLICY REPLAY ([[graft.ops.Experiment
    * .replayPolicyValue]]): three deterministic arm policies scored
    * against the logged event stream — matched-round reward average
    * with the match-rate audit column. One melted pass however many
    * policies compare.
    */
  private val q337_policy_replay: Q = (
    (s, dir) => graft.ops.Experiment.replayPolicyValue(
      read(s, dir, "events"),
      arm = col("event_type"), reward = col("value"),
      policies = Seq(
        "p1_always_click" -> lit("click"),
        "p2_parity" -> when(col("user_id") % 2 === 0, "view")
          .otherwise("click"),
        "p3_mod3" -> when(col("user_id") % 3 === 0, "signup")
          .when(col("user_id") % 3 === 1, "view")
          .otherwise("error"))),
    Some("""WITH m AS (
               SELECT 'p1_always_click' AS policy,
                 CAST(event_type = 'click' AS BIGINT) AS mt, value
               FROM events
               UNION ALL
               SELECT 'p2_parity',
                 CAST(event_type = (CASE WHEN user_id % 2 = 0
                   THEN 'view' ELSE 'click' END) AS BIGINT), value
               FROM events
               UNION ALL
               SELECT 'p3_mod3',
                 CAST(event_type = (CASE WHEN user_id % 3 = 0
                   THEN 'signup' WHEN user_id % 3 = 1 THEN 'view'
                   ELSE 'error' END) AS BIGINT), value
               FROM events),
             ag AS (SELECT policy, count(*) AS n_logged,
                 CAST(sum(mt) AS BIGINT) AS n_matched,
                 CAST(sum(CAST(CASE WHEN mt = 1 THEN value ELSE 0.0
                   END AS DECIMAL(25,6))) AS DOUBLE) AS sr
               FROM m GROUP BY 1)
        SELECT policy, n_logged, n_matched,
               n_matched * 1000000 // n_logged AS match_ppm,
               round(CASE WHEN n_matched > 0 THEN
                 sr / CAST(n_matched AS DOUBLE) END, 6)
                 AS value_per_round
        FROM ag ORDER BY policy"""))

  /** IPS/SNIPS OFF-POLICY VALUE ([[graft.ops.Experiment
    * .replayPolicyValueIps]]): q337's replay corrected for a
    * non-uniform logger (per-arm propensities as ppm constants) —
    * the Horvitz-Thompson estimate plus the self-normalized read.
    */
  private val q345_policy_ips: Q = {
    val props = Seq("view" -> 300000L, "click" -> 250000L,
      "signup" -> 200000L, "error" -> 150000L, "purchase" -> 100000L)
    val lpCol = props.tail.foldLeft(
      when(col("event_type") === props.head._1, props.head._2)) {
      case (acc, (a, p)) => acc.when(col("event_type") === a, p)
    }.otherwise(0L)
    val lpSql = "CASE " + props.map { case (a, p) =>
      s"WHEN event_type = '$a' THEN $p" }.mkString(" ") +
      " ELSE 0 END"
    ((s: org.apache.spark.sql.SparkSession, dir: String) =>
      graft.ops.Experiment.replayPolicyValueIps(
        read(s, dir, "events"),
        arm = col("event_type"), reward = col("value"),
        logPpm = lpCol,
        policies = Seq(
          "p1_always_click" -> lit("click"),
          "p2_parity" -> when(col("user_id") % 2 === 0, "view")
            .otherwise("click"))),
      Some(s"""WITH m AS (
               SELECT 'p1_always_click' AS policy,
                 CAST(event_type = 'click' AS BIGINT) AS mt, value,
                 $lpSql AS lp
               FROM events
               UNION ALL
               SELECT 'p2_parity',
                 CAST(event_type = (CASE WHEN user_id % 2 = 0
                   THEN 'view' ELSE 'click' END) AS BIGINT), value,
                 $lpSql
               FROM events),
             ag AS (SELECT policy, count(*) AS n_logged,
                 CAST(sum(mt) AS BIGINT) AS n_matched,
                 CAST(sum(CAST(CAST(mt AS DOUBLE)
                   / (CAST(lp AS DOUBLE) / 1000000.0) * value
                   AS DECIMAL(38,12))) AS DOUBLE) AS swr,
                 CAST(sum(CAST(CAST(mt AS DOUBLE)
                   / (CAST(lp AS DOUBLE) / 1000000.0)
                   AS DECIMAL(38,12))) AS DOUBLE) AS sw
               FROM m GROUP BY 1)
        SELECT policy, n_logged, n_matched,
               round(swr / CAST(n_logged AS DOUBLE), 6) AS value_ips,
               round(CASE WHEN sw > 0 THEN swr / sw END, 6)
                 AS value_snips
        FROM ag ORDER BY policy"""))
  }

  /** DOUBLY-ROBUST OFF-POLICY VALUE ([[graft.ops.Experiment
    * .replayPolicyValueDr]], Dudík et al. 2011): q345's logged
    * bandit with a user-parity context — the per-(context, arm)
    * exact-mean reward model carries the direct-method term, the
    * propensity-corrected matched term repairs it; value_dm vs
    * value_dr divergence is the model-coverage alarm. Completes the
    * off-policy family (q337 replay, q345 IPS/SNIPS, DR here — the
    * ROADMAP r11 open item).
    */
  private val q363_policy_dr: Q = {
    val props = Seq("view" -> 300000L, "click" -> 250000L,
      "signup" -> 200000L, "error" -> 150000L, "purchase" -> 100000L)
    val lpCol = props.tail.foldLeft(
      when(col("event_type") === props.head._1, props.head._2)) {
      case (acc, (a, p)) => acc.when(col("event_type") === a, p)
    }.otherwise(0L)
    val lpSql = "CASE " + props.map { case (a, p) =>
      s"WHEN event_type = '$a' THEN $p" }.mkString(" ") +
      " ELSE 0 END"
    ((s: org.apache.spark.sql.SparkSession, dir: String) =>
      graft.ops.Experiment.replayPolicyValueDr(
        read(s, dir, "events"),
        context = col("user_id") % 4,
        arm = col("event_type"), reward = col("value"),
        logPpm = lpCol,
        policies = Seq(
          "p1_always_click" -> lit("click"),
          "p2_parity" -> when(col("user_id") % 2 === 0, "view")
            .otherwise("click"))),
      Some(s"""WITH cells AS (SELECT
                 CAST(user_id % 4 AS VARCHAR) AS c,
                 event_type AS a, count(*) AS nc,
                 CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
                   AS src
               FROM events GROUP BY 1, 2),
             q AS (SELECT c, a, src / CAST(nc AS DOUBLE) AS qv
               FROM cells),
             m AS (SELECT 'p1_always_click' AS policy,
                 'click' AS ch, CAST(user_id % 4 AS VARCHAR) AS c,
                 event_type AS a, value, $lpSql AS lp
               FROM events
               UNION ALL
               SELECT 'p2_parity',
                 CASE WHEN user_id % 2 = 0 THEN 'view'
                   ELSE 'click' END,
                 CAST(user_id % 4 AS VARCHAR), event_type, value,
                 $lpSql
               FROM events),
             j AS (SELECT m.policy, m.value, m.lp,
                 CAST(m.ch = m.a AS BIGINT) AS mt,
                 COALESCE(qp.qv, 0.0) AS dm, ql.qv AS qlog
               FROM m LEFT JOIN q qp
                   ON qp.c = m.c AND qp.a = m.ch
                 LEFT JOIN q ql ON ql.c = m.c AND ql.a = m.a),
             ag AS (SELECT policy, count(*) AS n_logged,
                 CAST(sum(mt) AS BIGINT) AS n_matched,
                 CAST(sum(CAST(dm AS DECIMAL(38,12))) AS DOUBLE)
                   AS sdm,
                 CAST(sum(CAST(dm + CAST(mt AS DOUBLE)
                     / (CAST(lp AS DOUBLE) / 1000000.0)
                     * (value - qlog) AS DECIMAL(38,12)))
                   AS DOUBLE) AS sdr
               FROM j GROUP BY 1)
        SELECT policy, n_logged, n_matched,
               round(sdm / CAST(n_logged AS DOUBLE), 6) AS value_dm,
               round(sdr / CAST(n_logged AS DOUBLE), 6) AS value_dr
        FROM ag ORDER BY policy"""))
  }

  /** RESTRICTED MEAN SURVIVAL TIME ([[graft.ops.Experiment.rmst]]):
    * the q245 customer-churn KM curve integrated to a 720-day
    * horizon — expected active days over the next two years, defined
    * even though the median is never reached. Exact step-function
    * integral over the distinct-durations grid.
    */
  private val q338_rmst: Q = (
    (s, dir) => {
      val per = read(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("first_d"),
          max(col("o_orderdate")).as("last_d"))
      val mx = per.agg(max(col("last_d")).as("maxd"))
      val subj = per.crossJoin(broadcast(mx))
        .select(
          expr("datediff(last_d, first_d)").cast("long")
            .as("duration"),
          (expr("datediff(maxd, last_d)") > 360).cast("long")
            .as("event"))
      graft.ops.Experiment.rmst(subj, col("duration"), col("event"),
        tau = 720L)
    },
    Some("""WITH per AS (SELECT o_custkey,
                 min(o_orderdate) AS fd, max(o_orderdate) AS ld
               FROM orders GROUP BY 1),
             mx AS (SELECT max(ld) AS maxd FROM per),
             subj AS (SELECT
                 date_diff('day', CAST(fd AS DATE), CAST(ld AS DATE))
                   AS duration,
                 CAST(date_diff('day', CAST(ld AS DATE),
                   CAST(maxd AS DATE)) > 360 AS BIGINT) AS event
               FROM per CROSS JOIN mx),
             times AS (SELECT duration AS t,
                 CAST(sum(event) AS BIGINT) AS d, count(*) AS c
               FROM subj GROUP BY 1),
             tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM times),
             r AS (SELECT t, d, c,
                 n - COALESCE(sum(c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS n_risk
               FROM times CROSS JOIN tot),
             km AS (SELECT t,
                 round(exp(sum(ln(1.0 - CAST(d AS DOUBLE)
                   / CAST(n_risk AS DOUBLE))) OVER (ORDER BY t
                     ROWS UNBOUNDED PRECEDING)), 6) AS survival
               FROM r),
             seg AS (SELECT t, survival,
                 COALESCE(lag(t) OVER (ORDER BY t), 0) AS pt,
                 COALESCE(lag(survival) OVER (ORDER BY t), 1.0)
                   AS ps,
                 CASE WHEN lead(t) OVER (ORDER BY t) IS NULL
                   THEN 1 ELSE 0 END AS lastf
               FROM km),
             ag AS (SELECT count(*) AS n_times,
                 CAST(sum(CAST(ps * CAST(least(t, 720) -
                   least(pt, 720) AS DOUBLE) AS DECIMAL(38,12)))
                   AS DOUBLE) AS b,
                 CAST(sum(CAST(CASE WHEN lastf = 1 THEN survival *
                   CAST(720 - least(t, 720) AS DOUBLE) ELSE 0.0 END
                   AS DECIMAL(38,12))) AS DOUBLE) AS tl
               FROM seg)
        SELECT CAST(720 AS BIGINT) AS tau, n_times,
               round(b + tl, 6) AS rmst
        FROM ag"""))

  /** DOUBLY-ROBUST ATE ([[graft.ops.Experiment.aipwAte]]): q332's
    * IPW weights augmented with closed-form per-arm outcome
    * regressions on order value — wrong-one-model insurance. The
    * outcome-model-only ATE is emitted beside the DR estimate so the
    * correction is visible.
    */
  private val q339_aipw: Q = (
    (s, dir) => graft.ops.Experiment.aipwAte(
      read(s, dir, "orders"),
      treated = col("o_custkey") % 2,
      outcome = col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH").cast("double"),
      covariate = col("o_totalprice"),
      scorePpm = expr("(CAST(floor(o_totalprice) AS BIGINT) * 7919" +
        " + o_custkey) % 800000 + 100000")),
    Some("""WITH s AS (SELECT CAST(o_custkey % 2 AS BIGINT) AS t,
                 CAST(o_orderpriority IN ('1-URGENT', '2-HIGH')
                   AS DOUBLE) AS y,
                 CAST(o_totalprice AS DOUBLE) AS x,
                 (CAST(floor(o_totalprice) AS BIGINT) * 7919
                   + o_custkey) % 800000 + 100000 AS e
               FROM orders),
             tot AS (SELECT count(*) AS ntot FROM s),
             k AS (SELECT * FROM s
               WHERE e >= 20000 AND e <= 980000),
             mom AS (SELECT t, count(*) AS n,
                 CAST(sum(CAST(x AS DECIMAL(25,6))) AS DOUBLE) AS sx,
                 CAST(sum(CAST(y AS DECIMAL(25,6))) AS DOUBLE) AS sy,
                 CAST(sum(CAST(x * y AS DECIMAL(38,10))) AS DOUBLE)
                   AS sxy,
                 CAST(sum(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE)
                   AS sxx
               FROM k GROUP BY 1),
             co AS (SELECT t,
                 (CAST(n AS DOUBLE) * sxy - sx * sy) /
                   (CAST(n AS DOUBLE) * sxx - sx * sx) AS b,
                 (sy - (CAST(n AS DOUBLE) * sxy - sx * sy) /
                   (CAST(n AS DOUBLE) * sxx - sx * sx) * sx) /
                   CAST(n AS DOUBLE) AS a
               FROM mom),
             wide AS (SELECT
                 max(CASE WHEN t = 1 THEN a END) AS a1,
                 max(CASE WHEN t = 1 THEN b END) AS b1,
                 max(CASE WHEN t = 0 THEN a END) AS a0,
                 max(CASE WHEN t = 0 THEN b END) AS b0
               FROM co),
             ag AS (SELECT count(*) AS n_used,
                 CAST(sum(CAST((a1 + b1 * x) - (a0 + b0 * x)
                   AS DECIMAL(38,12))) AS DOUBLE) AS sm,
                 CAST(sum(CAST(
                   ((a1 + b1 * x) - (a0 + b0 * x))
                   + CAST(t AS DOUBLE) * (y - (a1 + b1 * x))
                     / (CAST(e AS DOUBLE) / 1000000.0)
                   - (1.0 - CAST(t AS DOUBLE)) * (y - (a0 + b0 * x))
                     / (1.0 - CAST(e AS DOUBLE) / 1000000.0)
                   AS DECIMAL(38,12))) AS DOUBLE) AS st
               FROM k CROSS JOIN wide)
        SELECT n_used, ntot - n_used AS n_trimmed,
               round(sm / CAST(n_used AS DOUBLE), 6)
                 AS ate_outcome_model,
               round(st / CAST(n_used AS DOUBLE), 6) AS ate_dr
        FROM ag CROSS JOIN tot"""))

  /** WILSON score intervals ([[graft.ops.Experiment.wilsonCi]]):
    * per-segment high-balance-rate CIs that stay inside [0,1] at any
    * n — the proportion companion to q316's planning and q235's
    * testing. Exact counts; one fixed-order double close.
    */
  private val q341_wilson: Q = (
    (s, dir) => graft.ops.Experiment.wilsonCi(
      read(s, dir, "customer"),
      segment = col("c_mktsegment"),
      success = (col("c_acctbal") > 5000.0).cast("long")),
    Some("""WITH cells AS (SELECT c_mktsegment AS segment,
                 count(*) AS n,
                 CAST(sum(CAST(c_acctbal > 5000.0 AS BIGINT))
                   AS BIGINT) AS x
               FROM customer GROUP BY 1),
             c2 AS (SELECT segment, n, x,
                 CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                 CAST(n AS DOUBLE) AS nd
               FROM cells)
        SELECT segment, n, x, round(p, 6) AS rate,
               round((p + (1.959964 * 1.959964) / (2.0 * nd)
                 - 1.959964 * sqrt(p * (1.0 - p) / nd
                   + (1.959964 * 1.959964) / (4.0 * nd * nd)))
                 / (1.0 + (1.959964 * 1.959964) / nd), 6) AS ci_lo,
               round((p + (1.959964 * 1.959964) / (2.0 * nd)
                 + 1.959964 * sqrt(p * (1.0 - p) / nd
                   + (1.959964 * 1.959964) / (4.0 * nd * nd)))
                 / (1.0 + (1.959964 * 1.959964) / nd), 6) AS ci_hi
        FROM c2 ORDER BY segment"""))

  /** EMPIRICAL-BAYES shrunk nation rates ([[graft.ops.Experiment
    * .ebShrinkRates]]): urgent-order rates per nation with the
    * prior strength CHOSEN by the moment equation — the defensible
    * way to rank small segments (q241's smoothing with m estimated,
    * not hand-picked). Per-segment quantities quantize to integer
    * 1e-12 units before the cross-segment sums.
    */
  private val q301_eb_shrink: Q = (
    (s, dir) => {
      val j = read(s, dir, "orders")
        .join(read(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
      graft.ops.Experiment.ebShrinkRates(j,
          segment = col("c_nationkey").cast("long"),
          success = col("o_orderpriority")
            .isin("1-URGENT", "2-HIGH"))
        .orderBy(col("seg"))
    },
    Some("""WITH jj AS (SELECT CAST(c_nationkey AS BIGINT) AS seg,
                 CAST(o_orderpriority IN ('1-URGENT', '2-HIGH')
                   AS BIGINT) AS sc
               FROM orders JOIN customer ON o_custkey = c_custkey),
             cells AS (SELECT seg, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(sc) AS BIGINT) AS x
               FROM jj GROUP BY 1 HAVING count(*) > 0),
             wr AS (SELECT seg, n, x,
                 CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS r
               FROM cells),
             gl AS (SELECT CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(n) AS BIGINT) AS sn,
                 CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(CAST(floor(r * 1000000000000.0 + 0.5)
                   AS BIGINT)) AS BIGINT) AS srq,
                 CAST(sum(CAST(floor(r * r * 1000000000000.0 + 0.5)
                   AS BIGINT)) AS BIGINT) AS srrq,
                 CAST(sum(CAST(floor(1000000000000.0
                     / CAST(n AS DOUBLE) + 0.5)
                   AS BIGINT)) AS BIGINT) AS sinvq
               FROM wr),
             dd AS (SELECT
                 CAST(sx AS DOUBLE) / CAST(sn AS DOUBLE) AS pbar,
                 CAST(srq AS DOUBLE) / 1000000000000.0
                   / CAST(k AS DOUBLE) AS rbar,
                 CAST(srrq AS DOUBLE), CAST(k AS DOUBLE) AS kd,
                 srrq, sinvq
               FROM gl),
             ee AS (SELECT pbar,
                 (CAST(srrq AS DOUBLE) / 1000000000000.0
                   - kd * rbar * rbar) / (kd - 1.0) AS s2,
                 CAST(sinvq AS DOUBLE) / 1000000000000.0 / kd
                   AS meaninv
               FROM dd),
             ff AS (SELECT pbar,
                 s2 - pbar * (1.0 - pbar) * meaninv AS v
               FROM ee),
             mm AS (SELECT pbar,
                 CASE WHEN v <= 0.0 THEN 1000000.0
                      ELSE least(1000000.0, greatest(0.0,
                        pbar * (1.0 - pbar) / v - 1.0)) END AS m
               FROM ff)
        SELECT seg, n, x, round(r, 6) AS rate,
               round((CAST(x AS DOUBLE) + m * pbar)
                 / (CAST(n AS DOUBLE) + m), 6) AS shrunk,
               round(m, 6) AS m_prior
        FROM wr CROSS JOIN mm ORDER BY seg"""))

  /** BH FDR over per-nation A/B tests ([[graft.ops.Experiment
    * .bhFdr]]): 25 parallel two-proportion tests (urgent-order rate
    * by customer parity), two-sided p's through the portable A&S
    * normal CDF, and the step-up rule at q=0.1 deciding which
    * nations actually moved — the multiple-comparisons gate q235
    * alone cannot provide. Integer step-up comparison on quantized
    * p's: no boundary can flip across engines.
    */
  private val q300_bh_fdr: Q = (
    (s, dir) => {
      val j = read(s, dir, "orders")
        .join(read(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
      graft.ops.Experiment.bhFdr(j,
          segment = col("c_nationkey").cast("long"),
          variantCol = col("o_custkey") % 2,
          success = col("o_orderpriority")
            .isin("1-URGENT", "2-HIGH"))
        .orderBy(col("rank"))
    },
    Some("""WITH jj AS (SELECT CAST(c_nationkey AS BIGINT) AS seg,
                 CAST(o_custkey % 2 AS VARCHAR) AS v,
                 CAST(o_orderpriority IN ('1-URGENT', '2-HIGH')
                   AS BIGINT) AS sc
               FROM orders JOIN customer ON o_custkey = c_custkey),
             cells AS (SELECT seg,
                 CAST(sum(CASE WHEN v = '1' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_t,
                 CAST(sum(CASE WHEN v = '1' THEN sc ELSE 0 END)
                   AS BIGINT) AS x_t,
                 CAST(sum(CASE WHEN v = '0' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_c,
                 CAST(sum(CASE WHEN v = '0' THEN sc ELSE 0 END)
                   AS BIGINT) AS x_c
               FROM jj GROUP BY 1
               HAVING n_t > 0 AND n_c > 0 AND x_t + x_c > 0
                 AND x_t + x_c < n_t + n_c),
             zc AS (SELECT seg, n_t, x_t, n_c, x_c,
                 (CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                  - CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE))
                 / sqrt((CAST(x_t + x_c AS DOUBLE)
                     / CAST(n_t + n_c AS DOUBLE))
                   * (1.0 - CAST(x_t + x_c AS DOUBLE)
                       / CAST(n_t + n_c AS DOUBLE))
                   * (1.0 / CAST(n_t AS DOUBLE)
                      + 1.0 / CAST(n_c AS DOUBLE))) AS z
               FROM cells),
             ph AS (SELECT *,
                 1.0 / (1.0 + 0.2316419 * abs(z)) AS t FROM zc),
             pv AS (SELECT seg, n_t, x_t, n_c, x_c, z,
                 2.0 * (1.0 - (1.0 - exp(-(abs(z) * abs(z)) / 2.0)
                   / 2.5066282746310002 *
                   (t * (0.319381530 + t * (-0.356563782 +
                     t * (1.781477937 + t * (-1.821255978 +
                       t * 1.330274429))))))) AS p
               FROM ph),
             q AS (SELECT *,
                 CAST(floor(p * 1000000.0 + 0.5) AS BIGINT) AS pq
               FROM pv),
             r AS (SELECT *,
                 CAST(row_number() OVER (ORDER BY pq, seg)
                   AS BIGINT) AS rank,
                 CAST(count(*) OVER () AS BIGINT) AS m
               FROM q),
             mx AS (SELECT COALESCE(max(CASE WHEN pq * 10 * m <=
                   rank * 1 * 1000000 THEN rank END), 0) AS maxi
               FROM r)
        SELECT seg, n_t, x_t, n_c, x_c, round(z, 6) AS z,
               round(p, 6) AS p, rank,
               CAST(rank <= maxi AS BIGINT) AS rejected
        FROM r CROSS JOIN mx ORDER BY rank"""))

  /** mSPRT ALWAYS-VALID p trajectory ([[graft.ops.Experiment
    * .msprt]]): the cumulative daily purchase-rate difference
    * between user-parity variants, scored by the normal-mixture
    * likelihood ratio — the p-value that stays valid under
    * continuous peeking (q235's fixed-horizon z-test is only valid
    * at its one planned look). Exact integer running sums; Λ and p
    * in one fixed double op order.
    */
  private val q299_msprt: Q = (
    (s, dir) => graft.ops.Experiment.msprt(
        read(s, dir, "events").where(col("ts").isNotNull),
        period = to_date(col("ts")),
        variantCol = col("user_id") % 2,
        success = col("event_type") === "purchase")
      .orderBy(col("per")),
    Some("""WITH e AS (SELECT
                 CAST(CAST(ts AS TIMESTAMP) AS DATE) AS per,
                 CAST(user_id % 2 AS VARCHAR) AS v,
                 CAST(event_type = 'purchase' AS BIGINT) AS sc
               FROM events WHERE ts IS NOT NULL),
             d AS (SELECT per,
                 sum(CASE WHEN v = '1' THEN 1 ELSE 0 END) AS dnt,
                 sum(CASE WHEN v = '1' THEN sc ELSE 0 END) AS dxt,
                 sum(CASE WHEN v = '0' THEN 1 ELSE 0 END) AS dnc,
                 sum(CASE WHEN v = '0' THEN sc ELSE 0 END) AS dxc
               FROM e GROUP BY 1),
             c AS (SELECT per,
                 CAST(sum(dnt) OVER w AS BIGINT) AS n_t,
                 CAST(sum(dxt) OVER w AS BIGINT) AS x_t,
                 CAST(sum(dnc) OVER w AS BIGINT) AS n_c,
                 CAST(sum(dxc) OVER w AS BIGINT) AS x_c
               FROM d
               WINDOW w AS (ORDER BY per ROWS UNBOUNDED PRECEDING)),
             f AS (SELECT * FROM c
               WHERE n_t > 0 AND n_c > 0 AND x_t + x_c > 0
                 AND x_t + x_c < n_t + n_c),
             g AS (SELECT per, n_t, x_t, n_c, x_c,
                 CAST(x_t + x_c AS DOUBLE)
                   / CAST(n_t + n_c AS DOUBLE) AS pooled
               FROM f),
             h AS (SELECT per, n_t, x_t, n_c, x_c,
                 pooled * (1.0 - pooled) *
                   (1.0 / CAST(n_t AS DOUBLE)
                    + 1.0 / CAST(n_c AS DOUBLE)) AS vv,
                 CAST(x_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                   - CAST(x_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS th
               FROM g),
             i AS (SELECT per, n_t, x_t, n_c, x_c,
                 sqrt(vv / (vv + 0.0001)) *
                   exp(th * th * 0.0001 /
                     (2.0 * vv * (vv + 0.0001))) AS lam
               FROM h)
        SELECT per, n_t, x_t, n_c, x_c, round(lam, 6) AS lam,
               round(least(1.0, min(1.0 / lam) OVER
                 (ORDER BY per ROWS UNBOUNDED PRECEDING)), 6)
                 AS p_always
        FROM i ORDER BY per"""))

  /** GROUPED KAPLAN-MEIER ([[graft.ops.Experiment.kaplanMeierBy]]):
    * the q245 churn curve PER MARKET SEGMENT in one pass — the
    * per-cohort retention read (no per-group loop; windows
    * partition by segment over distinct durations). DuckDB's
    * ln(0) = -inf naturally zeroes extinct segments, matching the
    * explicit extinction guard.
    */
  private val q292_km_grouped: Q = (
    (s, dir) => {
      val per = read(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("first_d"),
          max(col("o_orderdate")).as("last_d"))
      val mx = per.agg(max(col("last_d")).as("maxd"))
      val cust = read(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))
      val subj = per
        .join(cust, col("o_custkey") === col("c_custkey"))
        .crossJoin(broadcast(mx))
        .select(col("seg"),
          expr("datediff(last_d, first_d)").cast("long")
            .as("duration"),
          (expr("datediff(maxd, last_d)") > 360).cast("long")
            .as("event"))
      graft.ops.Experiment.kaplanMeierBy(subj, "seg",
          col("duration"), col("event"))
        .orderBy(col("seg"), col("t"))
    },
    Some("""WITH per AS (SELECT o_custkey,
                 min(o_orderdate) AS fd, max(o_orderdate) AS ld
               FROM orders GROUP BY 1),
             mx AS (SELECT max(ld) AS maxd FROM per),
             subj AS (SELECT c_mktsegment AS seg,
                 date_diff('day', CAST(fd AS DATE), CAST(ld AS DATE))
                   AS duration,
                 CAST(date_diff('day', CAST(ld AS DATE),
                   CAST(maxd AS DATE)) > 360 AS BIGINT) AS event
               FROM per JOIN customer ON o_custkey = c_custkey
               CROSS JOIN mx),
             times AS (SELECT seg, duration AS t,
                 CAST(sum(event) AS BIGINT) AS d,
                 count(*) AS c
               FROM subj GROUP BY 1, 2),
             tot AS (SELECT seg, CAST(sum(c) AS BIGINT) AS n
               FROM times GROUP BY 1),
             r AS (SELECT times.seg, t, d, c, n,
                 n - COALESCE(sum(c) OVER (PARTITION BY times.seg
                   ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS n_risk
               FROM times JOIN tot ON times.seg = tot.seg)
        SELECT seg, t, CAST(n_risk AS BIGINT) AS n_risk, d,
               round(exp(sum(ln(1.0 - CAST(d AS DOUBLE)
                 / CAST(n_risk AS DOUBLE))) OVER (PARTITION BY seg
                   ORDER BY t ROWS UNBOUNDED PRECEDING)), 6)
                 AS survival
        FROM r ORDER BY seg, t"""))

  /** Clustered A/B for a RATIO metric ([[graft.ops.Experiment
    * .jackknifeRatioDiff]]): Δ = revenue-per-unit(odd parts) -
    * revenue-per-unit(even parts), SE by delete-one-supplier-bucket
    * jackknife — both variants' sums drop together per replicate,
    * capturing the within-cluster covariance a naive per-variant SE
    * misses.
    */
  private val q288_jackknife_diff: Q = (
    (s, dir) => graft.ops.Experiment.jackknifeRatioDiff(
      read(s, dir, "lineitem"),
      variant = col("l_partkey") % 2,
      group = col("l_suppkey") % 40,
      num = col("l_extendedprice"), den = col("l_quantity")),
    Some("""WITH g AS (SELECT l_suppkey % 40 AS g,
                 sum(CAST(CASE WHEN l_partkey % 2 = 0
                     THEN l_extendedprice ELSE 0.0 END
                   AS DECIMAL(25,6))) AS sn0,
                 sum(CAST(CASE WHEN l_partkey % 2 = 0
                     THEN l_quantity ELSE 0.0 END
                   AS DECIMAL(25,6))) AS sd0,
                 sum(CAST(CASE WHEN l_partkey % 2 = 1
                     THEN l_extendedprice ELSE 0.0 END
                   AS DECIMAL(25,6))) AS sn1,
                 sum(CAST(CASE WHEN l_partkey % 2 = 1
                     THEN l_quantity ELSE 0.0 END
                   AS DECIMAL(25,6))) AS sd1
               FROM lineitem GROUP BY 1),
             tot AS (SELECT sum(sn0) AS tn0, sum(sd0) AS td0,
                 sum(sn1) AS tn1, sum(sd1) AS td1,
                 CAST(count(*) AS BIGINT) AS gcnt FROM g),
             reps AS (SELECT CAST(floor(
                 (CAST(tn1 - sn1 AS DOUBLE) / CAST(td1 - sd1 AS DOUBLE)
                  - CAST(tn0 - sn0 AS DOUBLE)
                    / CAST(td0 - sd0 AS DOUBLE))
                   * 1000000.0 + 0.5) AS BIGINT) AS qi
               FROM g CROSS JOIN tot),
             agg AS (SELECT CAST(sum(qi) AS BIGINT) AS sq,
                 sum(CAST(qi * qi AS DECIMAL(38,0))) AS sqq
               FROM reps)
        SELECT gcnt AS g_groups,
               round(CAST(tn1 AS DOUBLE) / CAST(td1 AS DOUBLE) -
                 CAST(tn0 AS DOUBLE) / CAST(td0 AS DOUBLE), 6)
                 AS delta,
               round(CAST(gcnt AS DOUBLE) *
                   (CAST(tn1 AS DOUBLE) / CAST(td1 AS DOUBLE) -
                    CAST(tn0 AS DOUBLE) / CAST(td0 AS DOUBLE)) -
                   (CAST(gcnt AS DOUBLE) - 1.0) *
                   (CAST(sq AS DOUBLE) / CAST(gcnt AS DOUBLE)
                     / 1000000.0), 6) AS delta_jk,
               round(sqrt((CAST(gcnt AS DOUBLE) - 1.0)
                     / CAST(gcnt AS DOUBLE) *
                     (CAST(sqq AS DOUBLE) -
                       CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)
                         / CAST(gcnt AS DOUBLE))) / 1000000.0, 6)
                 AS se_jk
        FROM agg CROSS JOIN tot"""))

  /** LOG-RANK TEST ([[graft.ops.Experiment.logRank]]) on the q245
    * churn durations split by customer parity: observed vs expected
    * churn events per pooled risk set, the chi-square verdict on
    * whether the two survival curves differ. Every term quantizes
    * through fixed-order integer floor divisions, so the statistic
    * replays exactly.
    */
  private val q289_logrank: Q = (
    (s, dir) => {
      val per = read(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(min(col("o_orderdate")).as("first_d"),
          max(col("o_orderdate")).as("last_d"))
      val mx = per.agg(max(col("last_d")).as("maxd"))
      val subj = per.crossJoin(broadcast(mx))
        .select(
          expr("datediff(last_d, first_d)").cast("long")
            .as("duration"),
          (expr("datediff(maxd, last_d)") > 360).cast("long")
            .as("event"),
          (col("o_custkey") % 2).cast("string").as("grp"))
      graft.ops.Experiment.logRank(subj, col("duration"),
        col("event"), col("grp"))
    },
    Some("""WITH per AS (SELECT o_custkey,
                 min(o_orderdate) AS fd, max(o_orderdate) AS ld
               FROM orders GROUP BY 1),
             mx AS (SELECT max(ld) AS maxd FROM per),
             subj AS (SELECT
                 date_diff('day', CAST(fd AS DATE), CAST(ld AS DATE))
                   AS t,
                 CAST(date_diff('day', CAST(ld AS DATE),
                   CAST(maxd AS DATE)) > 360 AS BIGINT) AS e,
                 CAST(o_custkey % 2 AS VARCHAR) AS g
               FROM per CROSS JOIN mx),
             times AS (SELECT t,
                 CAST(sum(CASE WHEN g = '0' THEN e ELSE 0 END)
                   AS BIGINT) AS d1,
                 CAST(sum(CASE WHEN g = '0' THEN 1 ELSE 0 END)
                   AS BIGINT) AS c1,
                 CAST(sum(CASE WHEN g = '1' THEN e ELSE 0 END)
                   AS BIGINT) AS d2,
                 CAST(sum(CASE WHEN g = '1' THEN 1 ELSE 0 END)
                   AS BIGINT) AS c2
               FROM subj GROUP BY 1),
             tot AS (SELECT CAST(sum(c1) AS BIGINT) AS t1,
                 CAST(sum(c2) AS BIGINT) AS t2 FROM times),
             r AS (SELECT t, d1, d2,
                 t1 - COALESCE(sum(c1) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS n1,
                 t2 - COALESCE(sum(c2) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS n2
               FROM times CROSS JOIN tot),
             q AS (SELECT d1, d2, n1, n2, d1 + d2 AS d,
                 n1 + n2 AS n FROM r WHERE d1 + d2 > 0),
             terms AS (SELECT d1, d2,
                 d1 * 1000000 - (d * n1 * 1000000 // n) AS e_q,
                 CASE WHEN n > 1 THEN
                   (((d * n1 * 1000000 // n) * n2) // n) * (n - d)
                     // (n - 1)
                 ELSE 0 END AS v_q
               FROM q),
             s AS (SELECT CAST(sum(e_q) AS BIGINT) AS se,
                 CAST(sum(v_q) AS BIGINT) AS sv,
                 CAST(sum(d1) AS BIGINT) AS o1,
                 CAST(sum(d2) AS BIGINT) AS o2 FROM terms),
             f AS (SELECT t1, t2, o1, o2,
                 round((CAST(se AS DOUBLE) / 1000000.0) *
                   (CAST(se AS DOUBLE) / 1000000.0) /
                   (CAST(sv AS DOUBLE) / 1000000.0), 6) AS chi2
               FROM s CROSS JOIN tot)
        SELECT t1 AS n1, t2 AS n2, o1 AS events1, o2 AS events2,
               chi2, CAST(chi2 >= 3.841459 AS BIGINT) AS significant
        FROM f"""))

  /** DETERMINISTIC POISSON BOOTSTRAP ([[graft.ops.Experiment
    * .poissonBootstrapCi]]): 40 one-pass resamples of the mean order
    * value — multiplicities from the portable id-hash through the
    * ppm-quantized Poisson(1) CDF, resample means as pure integer
    * floor divisions, CI as exact order statistics. The
    * sampling-with-replacement CI without ever materializing a
    * resample.
    */
  private val q286_bootstrap: Q = (
    (s, dir) => graft.ops.Experiment.poissonBootstrapCi(
      read(s, dir, "orders"), col("o_orderkey"),
      col("o_totalprice"), b = 40),
    Some(s"""WITH r AS (SELECT b FROM range(40) t(b)),
             e AS (SELECT o_orderkey AS id,
                 CAST(floor(o_totalprice * 1000000.0 + 0.5)
                   AS BIGINT) AS xu
               FROM orders),
             u AS (SELECT b, xu,
                 (((id % 1000000007) * (2654435761 + 2 * b)
                     + (97 + 1000003 * b))
                   % 1000000007) % 1000000 AS uu
               FROM e CROSS JOIN r),
             mm AS (SELECT b, xu, CASE WHEN uu < 367879 THEN 0
                 WHEN uu < 735758 THEN 1 WHEN uu < 919698 THEN 2
                 WHEN uu < 981011 THEN 3 WHEN uu < 996340 THEN 4
                 WHEN uu < 999405 THEN 5 ELSE 6 END AS m FROM u),
             res AS (SELECT b,
                 CAST(sum(m * xu) // sum(m) AS BIGINT) AS qb
               FROM mm GROUP BY 1),
             ord AS (SELECT qb, b,
                 row_number() OVER (ORDER BY qb, b) AS rn FROM res),
             sel AS (SELECT
                 max(CASE WHEN rn = 1 THEN qb END) AS qlo,
                 max(CASE WHEN rn = 20 THEN qb END) AS qmed,
                 max(CASE WHEN rn = 39 THEN qb END) AS qhi FROM ord),
             st AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 ${sqlDavg("o_totalprice")} AS t FROM orders)
        SELECT CAST(40 AS BIGINT) AS b_resamples, n,
               round(t, 6) AS theta,
               round(CAST(qlo AS DOUBLE) / 1000000.0, 6) AS ci_lo,
               round(CAST(qmed AS DOUBLE) / 1000000.0, 6) AS ci_med,
               round(CAST(qhi AS DOUBLE) / 1000000.0, 6) AS ci_hi
        FROM sel CROSS JOIN st"""))

  /** GINI concentration ([[graft.functions.Stats.gini]]) of
    * per-customer revenue within each market segment — the scalar
    * behind q249's Pareto curve. Revenue is an exact decimal sum,
    * quantized to millionths before the rank products; one rank
    * window + one aggregate per segment.
    */
  private val q281_gini: Q = (
    (s, dir) => {
      val rev = read(s, dir, "orders")
        .groupBy(col("o_custkey").as("ck"))
        .agg(dsum(col("o_totalprice")).as("x"))
      val j = rev.join(read(s, dir, "customer"),
          col("ck") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("x"), col("ck"))
      Stats.gini(j, "seg", col("x"), col("ck"))
        .orderBy(col("seg"))
    },
    Some(s"""WITH rev AS (SELECT o_custkey AS ck,
                 ${sqlDsum("o_totalprice")} AS x
               FROM orders GROUP BY 1),
             j AS (SELECT c_mktsegment AS seg,
                 CAST(floor(x * 1000000.0 + 0.5) AS BIGINT) AS xu, ck
               FROM rev JOIN customer ON ck = c_custkey),
             r AS (SELECT seg, xu, row_number() OVER (
                 PARTITION BY seg ORDER BY xu, ck) AS i FROM j),
             a AS (SELECT seg, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(xu AS DECIMAL(38,0))) AS sx,
                 sum(CAST(i * xu AS DECIMAL(38,0))) AS six
               FROM r GROUP BY 1)
        SELECT seg, n,
               round((2.0 * CAST(six AS DOUBLE) -
                   CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE)) /
                 (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS gini
        FROM a ORDER BY seg"""))

  /** 2-D MAHALANOBIS outliers ([[graft.functions.Tabular
    * .mahalanobis2d]]) over (order value, line count) — price and
    * basket size are correlated, so the covariance-aware distance
    * flags cheap-but-huge and expensive-but-tiny orders the per-axis
    * q186 rule can't see. Closed-form 2x2 inverse from five exact
    * moment sums; one aggregate + broadcast + TakeOrdered top-100.
    */
  private val q282_mahalanobis: Q = (
    (s, dir) => {
      val items = read(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(count(lit(1)).as("n_items"))
      val j = read(s, dir, "orders")
        .join(items, col("o_orderkey") === col("ok"))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("n_items"))
      graft.functions.Tabular.mahalanobis2d(j,
          col("o_totalprice"), col("n_items"))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("n_items"), col("d2"))
        .orderBy(col("d2").desc, col("o_orderkey"))
        .limit(100)
    },
    Some(s"""WITH it AS (SELECT l_orderkey AS ok,
                 CAST(count(*) AS BIGINT) AS n_items
               FROM lineitem GROUP BY 1),
             j AS (SELECT o_orderkey, o_totalprice, n_items
               FROM orders JOIN it ON o_orderkey = ok),
             m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 ${sqlDsum("o_totalprice")} AS sx,
                 ${sqlDsum("n_items")} AS sy,
                 ${sqlDsumsq("o_totalprice")} AS sxx,
                 ${sqlDsumsq("n_items")} AS syy,
                 CAST(sum(CAST(CAST(o_totalprice AS DOUBLE) *
                     CAST(n_items AS DOUBLE) AS DECIMAL(38,10)))
                   AS DOUBLE) AS sxy
               FROM j),
             v AS (SELECT n,
                 sx / CAST(n AS DOUBLE) AS mx,
                 sy / CAST(n AS DOUBLE) AS my,
                 (sxx - sx * sx / CAST(n AS DOUBLE)) /
                   (CAST(n AS DOUBLE) - 1.0) AS vxx,
                 (syy - sy * sy / CAST(n AS DOUBLE)) /
                   (CAST(n AS DOUBLE) - 1.0) AS vyy,
                 (sxy - sx * sy / CAST(n AS DOUBLE)) /
                   (CAST(n AS DOUBLE) - 1.0) AS vxy
               FROM m),
             d AS (SELECT o_orderkey, o_totalprice, n_items,
                 round(((CAST(o_totalprice AS DOUBLE) - mx) *
                     (CAST(o_totalprice AS DOUBLE) - mx) * vyy -
                     2.0 * (CAST(o_totalprice AS DOUBLE) - mx) *
                     (CAST(n_items AS DOUBLE) - my) * vxy +
                     (CAST(n_items AS DOUBLE) - my) *
                     (CAST(n_items AS DOUBLE) - my) * vxx) /
                   (vxx * vyy - vxy * vxy), 6) AS d2
               FROM j CROSS JOIN v)
        SELECT o_orderkey, o_totalprice, n_items, d2
        FROM d ORDER BY d2 DESC, o_orderkey LIMIT 100"""))
}
