package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Experimentation analytics — the A/B measurement stack (two-
  * proportion test, CUPED variance reduction, difference-in-
  * differences), each a closed form over exact grouped sums so the
  * verdicts replay bit-for-bit on any engine: experiment results are
  * exactly the numbers one should never have to take on faith.
  */
object Experiment {

  /** Two-proportion z-test (the standard conversion A/B read):
    * per-variant trials and successes are exact integers; p1, p2,
    * the pooled rate and z evaluate in ONE fixed double operation
    * order, rounded 6dp; `significant` is the two-sided 5% verdict
    * (|z| >= 1.959964). One grouped aggregate + a broadcast pivot of
    * the two variant rows — data volume enters only the count pass.
    *
    * `metric` must be 0/1 (cast to long). Exactly two variants
    * required — refuse otherwise rather than silently testing the
    * first two.
    */
  def abTest(df: DataFrame, variantCol: String,
      metric: Column): DataFrame = {
    val agg = df.groupBy(col(variantCol).cast("string").as("variant"))
      .agg(count(lit(1)).as("n"),
        sum(metric.cast("long")).as("x"))
    val two = agg.orderBy(col("variant")).limit(3).collect()
    require(two.length == 2,
      s"abTest: expected exactly 2 variants, got ${two.length}")
    val (va, na, xa) = (two(0).getString(0), two(0).getLong(1),
      two(0).getLong(2))
    val (vb, nb, xb) = (two(1).getString(0), two(1).getLong(1),
      two(1).getLong(2))
    // Degenerate pooled rate (all successes or all failures) zeroes
    // the z denominator — Spark's NULL-on-div-zero would silently
    // emit NULL z / NULL significant; refuse with a clear error
    // instead (the bhFdr guard, applied here).
    require(xa + xb > 0 && xa + xb < na + nb,
      s"abTest: degenerate pooled rate (successes ${xa + xb} of " +
        s"${na + nb}) — z-test undefined")
    val spark = df.sparkSession
    import spark.implicits._
    Seq((va, na, xa, vb, nb, xb))
      .toDF("variant_a", "n_a", "x_a", "variant_b", "n_b", "x_b")
      .withColumn("p_a", round(col("x_a").cast("double") /
        col("n_a").cast("double"), 6))
      .withColumn("p_b", round(col("x_b").cast("double") /
        col("n_b").cast("double"), 6))
      .withColumn("z", round(
        (col("x_a").cast("double") / col("n_a").cast("double") -
          col("x_b").cast("double") / col("n_b").cast("double")) /
        sqrt(
          ((col("x_a") + col("x_b")).cast("double") /
            (col("n_a") + col("n_b")).cast("double")) *
          (lit(1.0) - (col("x_a") + col("x_b")).cast("double") /
            (col("n_a") + col("n_b")).cast("double")) *
          (lit(1.0) / col("n_a").cast("double") +
            lit(1.0) / col("n_b").cast("double"))), 6))
      .withColumn("significant",
        (abs(col("z")) >= 1.959964).cast("int"))
  }

  /** CUPED (Deng et al. 2013, the industry-standard variance
    * reduction): θ = cov(x,y)/var(x) over a PRE-experiment covariate
    * x, adjusted metric y - θ(x - mean x). Everything derives from
    * the five exact decimal sums (Sx, Sy, Sxx, Sxy, Syy) in one
    * aggregate pass; per-variant adjusted means then read off the
    * per-variant sums with the GLOBAL θ — so the output (θ, the
    * variance reduction factor 1 - ρ², per-variant adjusted means
    * and the adjusted delta) is a pure closed form, 6dp-rounded at
    * the output only. Two aggregate passes total (global + per
    * variant), no shuffle beyond them.
    */
  def cuped(df: DataFrame, variantCol: String, y: Column,
      x: Column): DataFrame = {
    def dsumOf(c: Column) = graft.QH.dsum(c)
    def dprod(a: Column, b: Column) =
      sum((a.cast("double") * b.cast("double"))
        .cast("decimal(38,10)")).cast("double")
    val g = df.agg(count(lit(1)).cast("double").as("n"),
      dsumOf(x).as("sx"), dsumOf(y).as("sy"),
      dprod(x, x).as("sxx"), dprod(x, y).as("sxy"),
      dprod(y, y).as("syy"))
    val per = df.groupBy(col(variantCol).cast("string").as("variant"))
      .agg(count(lit(1)).cast("double").as("nv"),
        dsumOf(x).as("svx"), dsumOf(y).as("svy"))
    per.crossJoin(broadcast(g))
      .withColumn("__cov", col("sxy") - col("sx") * col("sy") / col("n"))
      .withColumn("__varx", col("sxx") - col("sx") * col("sx") / col("n"))
      .withColumn("__vary", col("syy") - col("sy") * col("sy") / col("n"))
      .withColumn("theta", col("__cov") / col("__varx"))
      .withColumn("mean_y", col("svy") / col("nv"))
      .withColumn("mean_adj",
        col("svy") / col("nv") - col("theta") *
          (col("svx") / col("nv") - col("sx") / col("n")))
      .withColumn("var_reduction",
        col("__cov") * col("__cov") / (col("__varx") * col("__vary")))
      .select(col("variant"), col("nv").cast("long").as("n"),
        round(col("theta"), 6).as("theta"),
        round(col("mean_y"), 6).as("mean_y"),
        round(col("mean_adj"), 6).as("mean_adj"),
        round(col("var_reduction"), 6).as("var_reduction"))
  }

  /** KAPLAN-MEIER survival estimator (the nonparametric standard for
    * churn/retention duration analysis): at each distinct event time
    * t, risk set n_t = subjects with duration >= t, events d_t, and
    * S(t) = Π (1 - d_i/n_i) over i <= t. Counts are exact integers;
    * the product evaluates as exp of a RUNNING sum of ln terms over
    * the time-ordered window — running sums fold left-to-right in
    * frame order on every engine, so the float trajectory is
    * deterministic (6dp at the output). The window runs over
    * DISTINCT durations — bounded by the time resolution, not
    * subjects — under an explicit non-foldable single-partition key
    * (the house O(bounded) window rule). `event` = 1 observed,
    * 0 censored (censored rows leave the risk set without an event —
    * the whole point of KM over a naive average).
    */
  def kaplanMeier(df: DataFrame, duration: Column,
      event: Column): DataFrame = {
    val times = df
      .where(duration.isNotNull)
      .groupBy(duration.cast("long").as("t"))
      .agg(sum(event.cast("long")).as("d"), count(lit(1)).as("c"))
    val pin = pmod(col("t"), lit(1))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(pin).orderBy(col("t"))
    val wPrev = wOrd.rowsBetween(Long.MinValue, -1)
    val total = times.agg(sum(col("c")).as("__n"))
    // d == n_risk (every remaining subject fails at t) sends the
    // factor to exactly 0 — but Spark log(0) is NULL and a windowed
    // sum silently DROPS null terms, which would freeze survival at
    // its prior value forever. Carry the extinction explicitly: once
    // any time point has d == n_risk, survival is 0 from there on,
    // and that row's log term is excluded from the running sum.
    times.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("__n") - coalesce(sum(col("c")).over(wPrev), lit(0L)))
      .withColumn("__extinct", max(
        when(col("d") === col("n_risk"), 1).otherwise(0)).over(wOrd))
      .withColumn("survival", when(col("__extinct") === 1, lit(0.0))
        .otherwise(round(exp(sum(
          log(lit(1.0) - col("d").cast("double") /
            col("n_risk").cast("double"))).over(wOrd)), 6)))
      .select(col("t"), col("n_risk"), col("d"), col("survival"))
  }

  /** GROUPED KAPLAN-MEIER — [[kaplanMeier]] per group (the
    * per-cohort retention-curve read: one survival trajectory per
    * signup month / plan / segment, computed in ONE pass instead of
    * a per-group loop). Identical exact risk-set arithmetic,
    * extinction guard, and deterministic running-ln trajectory;
    * windows partition by (group) over DISTINCT durations — bounded
    * by group cardinality x time resolution (the q245 rule). Emits
    * (grp, t, n_risk, d, survival).
    */
  def kaplanMeierBy(df: DataFrame, grp: String, duration: Column,
      event: Column): DataFrame = {
    val times = df
      .where(duration.isNotNull)
      .groupBy(col(grp), duration.cast("long").as("t"))
      .agg(sum(event.cast("long")).as("d"), count(lit(1)).as("c"))
    val W = org.apache.spark.sql.expressions.Window
    val wOrd = W.partitionBy(col(grp)).orderBy(col("t"))
    val wPrev = wOrd.rowsBetween(Long.MinValue, -1)
    val total = times.groupBy(col(grp)).agg(sum(col("c")).as("__n"))
    times.join(broadcast(total), Seq(grp))
      .withColumn("n_risk",
        col("__n") - coalesce(sum(col("c")).over(wPrev), lit(0L)))
      .withColumn("__extinct", max(
        when(col("d") === col("n_risk"), 1).otherwise(0)).over(wOrd))
      .withColumn("survival", when(col("__extinct") === 1, lit(0.0))
        .otherwise(round(exp(sum(
          log(lit(1.0) - col("d").cast("double") /
            col("n_risk").cast("double"))).over(wOrd)), 6)))
      .select(col(grp), col("t"), col("n_risk"), col("d"),
        col("survival"))
  }

  /** NELSON-AALEN cumulative hazard (Nelson 1972; Aalen 1978) —
    * [[kaplanMeier]]'s sibling: H(t) = Σ_{i<=t} d_i/n_i over the
    * time-ordered distinct durations, the estimator of cumulative
    * risk whose increments ARE the discrete hazard (KM's product
    * form can't be read per-interval). Same exact integer risk-set
    * arithmetic and bounded single-window shape as KM; the running
    * sum folds in frame order (deterministic trajectory, 6dp).
    * Unlike KM's extinction edge, d == n_risk is benign here — the
    * term is d/n = 1, finite. Also emits the Fleming-Harrington
    * survival exp(-H), the small-sample-preferred S estimate.
    */
  def nelsonAalen(df: DataFrame, duration: Column,
      event: Column): DataFrame = {
    val times = df
      .where(duration.isNotNull)
      .groupBy(duration.cast("long").as("t"))
      .agg(sum(event.cast("long")).as("d"), count(lit(1)).as("c"))
    val pin = pmod(col("t"), lit(1))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(pin).orderBy(col("t"))
    val wPrev = wOrd.rowsBetween(Long.MinValue, -1)
    val total = times.agg(sum(col("c")).as("__n"))
    times.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("__n") - coalesce(sum(col("c")).over(wPrev), lit(0L)))
      .withColumn("cum_hazard", round(sum(
        col("d").cast("double") / col("n_risk").cast("double"))
        .over(wOrd), 6))
      .withColumn("survival_fh", round(exp(-sum(
        col("d").cast("double") / col("n_risk").cast("double"))
        .over(wOrd)), 6))
      .select(col("t"), col("n_risk"), col("d"), col("cum_hazard"),
        col("survival_fh"))
  }

  /** COMPETING-RISKS CUMULATIVE INCIDENCE (Aalen-Johansen 1978) —
    * what [[kaplanMeier]] CANNOT give when subjects can fail from
    * more than one cause: "1 − KM per cause" overstates every
    * cause-specific risk because censoring-by-the-other-cause is not
    * independent censoring. CIF_k(t) = Σ_{tᵢ≤t} S(tᵢ⁻)·d_k(tᵢ)/nᵢ,
    * where S is the ALL-cause KM survival and d_k the cause-k
    * deaths. `eventType` is 0 for censored, a positive cause code
    * otherwise.
    *
    * Determinism discipline (the r11 margin standard): S carries
    * q245's running-ln KM with the extinction guard, rounded 6dp
    * (audited); each CIF term then computes from EXACT integers —
    * S6 = S·1e6 (an exact long after the round), term =
    * (S6_prev·d_k) / (n·1e6) is one IEEE divide of identical
    * operands on any engine — and the per-cause running sum
    * decimal-quantizes terms (the q313 pattern) before the ordered
    * fold, 6dp at the close.
    *
    * Plan shape: one (t)-census aggregate with per-cause pivoted
    * counts folded as sum(when), one bounded single-partition
    * window over distinct durations (the q245 rule), an explode per
    * cause. Emits (cause, t, n_risk, d, cif) for every cause and
    * event time.
    */
  def cumulativeIncidence(df: DataFrame, duration: Column,
      eventType: Column, maxCauses: Int = 16): DataFrame = {
    val typed = df.where(duration.isNotNull)
      .select(duration.cast("long").as("__t"),
        eventType.cast("long").as("__k"))
    val causes = typed.where(col("__k") > 0).select(col("__k"))
      .distinct().orderBy(col("__k")).limit(maxCauses + 1)
      .collect().map(_.getLong(0)).toSeq
    require(causes.nonEmpty, "cumulativeIncidence: no events")
    require(causes.size <= maxCauses,
      s"cumulativeIncidence: ${causes.size} causes exceed " +
        s"$maxCauses — causes are the bounded analysis dimension")
    val aggCols = count(lit(1)).as("c") +:
      sum((col("__k") > 0).cast("long")).as("d_all") +:
      causes.map(k => sum((col("__k") === k).cast("long"))
        .as(s"__d_$k"))
    val perT = typed.groupBy(col("__t").as("t"))
      .agg(aggCols.head, aggCols.tail: _*)
    val pin = pmod(col("t"), lit(1))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(pin).orderBy(col("t"))
    val wPrev = wOrd.rowsBetween(Long.MinValue, -1)
    val total = perT.agg(sum(col("c")).as("__n"))
    val withS = perT.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("__n") - coalesce(sum(col("c")).over(wPrev), lit(0L)))
      .withColumn("__extinct", max(
        when(col("d_all") === col("n_risk"), 1).otherwise(0))
        .over(wOrd))
      .withColumn("__surv", when(col("__extinct") === 1, lit(0.0))
        .otherwise(round(exp(sum(
          log(lit(1.0) - col("d_all").cast("double") /
            col("n_risk").cast("double"))).over(wOrd)), 6)))
      // S(t⁻) as an exact integer: the 6dp-rounded survival of the
      // PREVIOUS event time, ×1e6 quantized HALF-UP (floor(x+0.5) —
      // round(x,6)*1e6 is not always integer-valued as a double, and
      // a bare long cast truncates in Spark but rounds in DuckDB),
      // 1e6 (=S(0)) before the first event
      .withColumn("__s6_prev",
        coalesce(lag(floor(col("__surv") * 1e6 + 0.5).cast("long"), 1)
          .over(wOrd), lit(1000000L)))
    val terms = causes.map { k =>
      struct(lit(k).as("cause"), col(s"__d_$k").as("d"),
        ((col("__s6_prev") * col(s"__d_$k")).cast("double") /
          (col("n_risk").cast("double") * 1e6))
          .cast("decimal(38,12)").as("__term"))
    }
    val wCause = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cause")).orderBy(col("t"))
    withS.select(col("t"), col("n_risk"),
        explode(array(terms: _*)).as("__e"))
      .select(col("__e.cause").as("cause"), col("t"), col("n_risk"),
        col("__e.d").as("d"), col("__e.__term").as("__term"))
      .withColumn("cif",
        round(sum(col("__term")).over(
          wCause.rowsBetween(Long.MinValue, 0)).cast("double"), 6))
      .drop("__term")
      .orderBy(col("cause"), col("t"))
  }

  /** Per-segment UPLIFT (heterogeneous treatment effect read): for
    * each segment, treated/control exact trials and successes and
    * the rate difference — where an experiment's average effect
    * hides its distribution. One grouped pass; single double
    * subtractions (6dp).
    */
  def upliftBySegment(df: DataFrame, segmentCol: String,
      treatedCol: Column, metric: Column): DataFrame =
    df.groupBy(col(segmentCol))
      .agg(
        sum(when(treatedCol, 1L).otherwise(0L)).as("n_t"),
        sum(when(treatedCol, metric.cast("long")).otherwise(0L))
          .as("x_t"),
        sum(when(!treatedCol, 1L).otherwise(0L)).as("n_c"),
        sum(when(!treatedCol, metric.cast("long")).otherwise(0L))
          .as("x_c"))
      .withColumn("uplift", round(
        col("x_t").cast("double") / col("n_t").cast("double") -
          col("x_c").cast("double") / col("n_c").cast("double"), 6))

  /** Difference-in-differences over a 2x2 (group, period) design:
    * four cell means from exact sums, did = (T,post - T,pre) -
    * (C,post - C,pre) — the causal read when treatment lands at a
    * known time. One grouped aggregate; output is the four cells
    * plus the effect, all from the same fixed-order arithmetic.
    */
  def diffInDiff(df: DataFrame, treatedCol: Column, postCol: Column,
      y: Column): DataFrame = {
    val cells = df.groupBy(treatedCol.cast("int").as("treated"),
        postCol.cast("int").as("post"))
      .agg(count(lit(1)).as("n"), graft.QH.dsum(y).as("s"))
      .withColumn("mean", col("s") / col("n").cast("double"))
    val m = cells.select(col("treated"), col("post"), col("mean"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    require(m.size == 4, s"diffInDiff: need all 4 cells, got ${m.size}")
    val spark = df.sparkSession
    import spark.implicits._
    cells.select(col("treated"), col("post"), col("n"),
        round(col("mean"), 6).as("mean"))
      .withColumn("did", round(
        lit(m((1, 1)) - m((1, 0)) - (m((0, 1)) - m((0, 0)))), 6))
      .orderBy(col("treated"), col("post"))
  }

  /** DELETE-ONE-GROUP JACKKNIFE for the DIFFERENCE of two ratio
    * metrics Δ = Σn₁/Σd₁ - Σn₀/Σd₀ — the correct A/B read for ratio
    * metrics under clustering (users, sessions, suppliers): both
    * variants' sums drop together when a group is deleted, so the
    * replicate captures the within-group covariance a per-variant
    * jackknife would miss. Same exact-decimal / quantize-before-
    * variance machinery as [[jackknifeRatio]]; variants are the two
    * distinct values of `variant` in ascending order (Δ = high -
    * low). Emits one row: g_groups, delta, delta_jk, se_jk.
    */
  def jackknifeRatioDiff(df: DataFrame, variant: Column,
      group: Column, num: Column, den: Column): DataFrame = {
    val vs = df.select(variant.cast("string").as("v")).distinct()
      .orderBy(col("v")).limit(3).collect().map(_.getString(0))
    require(vs.length == 2,
      s"jackknifeRatioDiff: need exactly 2 variants, got ${vs.toSeq}")
    val (v0, v1) = (vs(0), vs(1))
    def vsum(v: String, c: Column) =
      sum(when(variant.cast("string") === v, c).otherwise(lit(0.0))
        .cast("decimal(25,6)"))
    val g1 = df.groupBy(group.as("g")).agg(
      vsum(v0, num).as("sn0"), vsum(v0, den).as("sd0"),
      vsum(v1, num).as("sn1"), vsum(v1, den).as("sd1"))
    val tot = g1.agg(sum(col("sn0")).as("tn0"),
      sum(col("sd0")).as("td0"), sum(col("sn1")).as("tn1"),
      sum(col("sd1")).as("td1"), count(lit(1)).as("gcnt"))
    val reps = g1.crossJoin(broadcast(tot))
      .withColumn("__di",
        (col("tn1") - col("sn1")).cast("double") /
          (col("td1") - col("sd1")).cast("double") -
        (col("tn0") - col("sn0")).cast("double") /
          (col("td0") - col("sd0")).cast("double"))
      .withColumn("__qi",
        floor(col("__di") * lit(1000000.0) + lit(0.5)).cast("long"))
      .agg(sum(col("__qi")).as("sq"),
        sum((col("__qi") * col("__qi")).cast("decimal(38,0)"))
          .as("sqq"))
    reps.crossJoin(broadcast(tot))
      .withColumn("__g", col("gcnt").cast("double"))
      .withColumn("__delta",
        col("tn1").cast("double") / col("td1").cast("double") -
          col("tn0").cast("double") / col("td0").cast("double"))
      .withColumn("__dbar",
        col("sq").cast("double") / col("__g") / lit(1000000.0))
      .withColumn("__ss",
        col("sqq").cast("double") -
          col("sq").cast("double") * col("sq").cast("double") /
            col("__g"))
      .select(col("gcnt").as("g_groups"),
        round(col("__delta"), 6).as("delta"),
        round(col("__g") * col("__delta") -
          (col("__g") - lit(1.0)) * col("__dbar"), 6)
          .as("delta_jk"),
        round(
          sqrt((col("__g") - lit(1.0)) / col("__g") * col("__ss")) /
            lit(1000000.0), 6).as("se_jk"))
  }

  /** PROPENSITY-SCORE STRATIFICATION (Rosenbaum & Rubin 1983 —
    * subclassification, the five-strata workhorse of observational
    * causal inference): rank units by an INTEGER propensity score
    * (quantized linear model — fit separately, served exactly),
    * cut into `strata` exact ntiles (the q30 closed-form rank
    * bucketing, total-order deterministic via `tiebreak`), take the
    * treated-minus-control outcome difference within each stratum
    * (exact decimal sums), and weight the per-stratum effects by
    * stratum size into the ATE — per-stratum diffs quantize to ppm
    * BEFORE the integer-weighted sum (the order-free convention).
    * REFUSES when any stratum lacks an arm (off-support: no
    * comparison exists there — the assumption violation this design
    * makes visible). One ntile pass + one grouped aggregate. Emits
    * per-stratum rows (stratum, n_t, n_c, diff) + the shared ate.
    */
  def propensityStratifiedAte(df: DataFrame, treated: Column,
      outcome: Column, scoreQ: Column, tiebreak: Column,
      strata: Int = 5): DataFrame = {
    require(strata >= 2 && strata <= 100,
      s"propensityStratifiedAte: strata $strata")
    val base = df.select(treated.cast("int").as("__t"),
      outcome.cast("double").as("__y"),
      scoreQ.cast("long").as("__sq"), tiebreak.cast("long").as("__tb"))
    val withS = graft.ops.ScanOps.ntile(base,
      Seq(col("__sq"), col("__tb")), strata, out = "stratum")
    def ysum(t: Int) = sum(when(col("__t") === t, col("__y"))
      .otherwise(lit(0.0)).cast("decimal(25,6)"))
    val cells = withS.groupBy(col("stratum")).agg(
      sum(when(col("__t") === 1, 1L).otherwise(0L)).as("n_t"),
      ysum(1).as("__syt"),
      sum(when(col("__t") === 0, 1L).otherwise(0L)).as("n_c"),
      ysum(0).as("__syc"))
    val bad = cells.where(col("n_t") === 0 || col("n_c") === 0)
      .count()
    require(bad == 0, s"propensityStratifiedAte: $bad strata have " +
      "no treated or no control units (off-support) — fewer strata " +
      "or trimmed scores needed")
    val eff = cells
      .withColumn("__n", col("n_t") + col("n_c"))
      .withColumn("__diff",
        col("__syt").cast("double") / col("n_t").cast("double") -
          col("__syc").cast("double") / col("n_c").cast("double"))
      .withColumn("__dq",
        floor(col("__diff") * lit(1000000.0) + lit(0.5)).cast("long"))
    val tot = eff.agg(sum(col("__n")).as("__totn"),
      sum((col("__dq") * col("__n")).cast("decimal(38,0)"))
        .as("__wd"))
    eff.crossJoin(broadcast(tot))
      .select(col("stratum"), col("n_t"), col("n_c"),
        round(col("__diff"), 6).as("diff"),
        round(col("__wd").cast("double") /
          col("__totn").cast("double") / lit(1000000.0), 6)
          .as("ate"))
  }

  /** EMPIRICAL-BAYES rate shrinkage (beta-binomial method of
    * moments; the James-Stein idea applied to segment conversion
    * rates): small segments' raw rates are mostly noise, so each
    * rate shrinks toward the global mean by a factor the DATA
    * chooses — prior strength M solves the moment equation from the
    * between-segment variance of raw rates vs the binomial
    * within-segment component: M = p̄(1-p̄)/v - 1 with
    * v = s² - p̄(1-p̄)·mean(1/nᵢ), clamped to [0, mCap] (v <= 0
    * means between-variance is all sampling noise — full pooling).
    * shrunkᵢ = (xᵢ + M·p̄)/(nᵢ + M). This is q241's target-encoding
    * smoothing with the m chosen BY the moment equation instead of
    * by hand. Exact integer cells; the moment solve is O(segments)
    * fixed-order doubles broadcast back. Emits (seg, n, x, rate,
    * shrunk, m_prior).
    */
  def ebShrinkRates(df: DataFrame, segment: Column,
      success: Column, mCap: Double = 1000000.0): DataFrame = {
    val cells = df.groupBy(segment.as("seg"))
      .agg(count(lit(1)).as("n"),
        sum(success.cast("long")).as("x"))
      .where(col("n") > 0)
    val rate = col("x").cast("double") / col("n").cast("double")
    val withRate = cells.withColumn("__r", rate)
    // per-segment quantities quantize to integer 1e-12 units BEFORE
    // the cross-segment sums (double->decimal casts round
    // differently across engines; floor(x*s + 0.5) does not)
    val gl = withRate.agg(
      sum(col("x")).as("__sx"), sum(col("n")).as("__sn"),
      count(lit(1)).as("__k"),
      sum(floor(col("__r") * lit(1e12) + lit(0.5)).cast("long"))
        .as("__srq"),
      sum(floor(col("__r") * col("__r") * lit(1e12) + lit(0.5))
        .cast("long")).as("__srrq"),
      sum(floor(lit(1e12) / col("n").cast("double") + lit(0.5))
        .cast("long")).as("__sinvq"))
    val kD = col("__k").cast("double")
    val pbar = col("__sx").cast("double") / col("__sn").cast("double")
    val rbar = col("__srq").cast("double") / lit(1e12) / kD
    val s2 = (col("__srrq").cast("double") / lit(1e12) -
      kD * col("__rbar") * col("__rbar")) / (kD - lit(1.0))
    val meanInv = col("__sinvq").cast("double") / lit(1e12) / kD
    val v = col("__s2") - col("__pbar") * (lit(1.0) - col("__pbar")) *
      col("__meanInv")
    val m = when(col("__v") <= lit(0.0), lit(mCap))
      .otherwise(least(lit(mCap), greatest(lit(0.0),
        col("__pbar") * (lit(1.0) - col("__pbar")) / col("__v") -
          lit(1.0))))
    val glr = gl.withColumn("__pbar", pbar)
      .withColumn("__rbar", rbar)
      .withColumn("__s2", s2)
      .withColumn("__meanInv", meanInv)
      .withColumn("__v", v)
      .withColumn("__m", m)
      .select(col("__pbar"), col("__m"))
    withRate.crossJoin(broadcast(glr))
      .select(col("seg"), col("n"), col("x"),
        round(col("__r"), 6).as("rate"),
        round((col("x").cast("double") + col("__m") * col("__pbar"))
          / (col("n").cast("double") + col("__m")), 6).as("shrunk"),
        round(col("__m"), 6).as("m_prior"))
  }

  /** Standard normal CDF by the Abramowitz & Stegun 7.1.26
    * polynomial (|error| < 7.5e-8 — far inside the 6dp reporting
    * grain): pure fixed-order double arithmetic, so unlike erf it
    * exists identically on every engine. Defined for z >= 0 (callers
    * pass |z|).
    */
  def phiAbs(z: Column): Column = {
    val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * z)
    val poly = t * (lit(0.319381530) +
      t * (lit(-0.356563782) +
        t * (lit(1.781477937) +
          t * (lit(-1.821255978) + t * lit(1.330274429)))))
    lit(1.0) - exp(-(z * z) / lit(2.0)) /
      lit(2.5066282746310002) * poly
  }

  /** MANTEL-HAENSZEL pooled odds ratio + test (Mantel & Haenszel
    * 1959) — the stratified-confounding companion to the A/B
    * family: a crude 2×2 over the whole corpus can reverse sign
    * under a confounder (Simpson's), so the per-stratum tables are
    * pooled with the MH weights instead:
    *
    *   OR_MH = Σ_s a_s d_s / n_s  ÷  Σ_s b_s c_s / n_s
    *   χ²_MH = (Σ a_s − Σ E_s)² / Σ V_s,
    *   E_s = r1_s c1_s / n_s,
    *   V_s = r1_s r2_s c1_s c2_s / (n_s²(n_s − 1))
    *
    * The 2×2 cells per stratum are exact integer counts from ONE
    * hash-aggregation pass. Each per-stratum RATIO term (ad/n,
    * bc/n, E, V) is quantized to decimal(38,6) BEFORE the sum —
    * a double Σ of ratios would drift with fold order; the decimal
    * sums are exact and order-free, and the close is one
    * fixed-shape double (ratio, squared gap over variance, p via
    * the portable [[phiAbs]]). Strata are census-bounded
    * (`maxStrata`) and every stratum needs n_s ≥ 2 (V undefined at
    * n=1 — refused with a message, the bartlett discipline). A zero
    * Σbc/n or ΣV emits explicit nulls. Emits one row:
    * (n_strata, n, a_total, or_mh, chi2_mh, p_value).
    */
  def mantelHaenszel(df: DataFrame, stratum: Column,
      exposed: Column, outcome: Column,
      maxStrata: Long = 10000L): DataFrame = {
    val rows = df.select(stratum.cast("string").as("__s"),
      exposed.cast("boolean").as("__e"),
      outcome.cast("boolean").as("__o"))
      .where(col("__s").isNotNull && col("__e").isNotNull &&
        col("__o").isNotNull)
    val cells = graft.Caches.pin(rows.groupBy(col("__s")).agg(
      sum(when(col("__e") && col("__o"), 1L).otherwise(0L)).as("a"),
      sum(when(col("__e") && !col("__o"), 1L).otherwise(0L)).as("b"),
      sum(when(!col("__e") && col("__o"), 1L).otherwise(0L)).as("c"),
      sum(when(!col("__e") && !col("__o"), 1L).otherwise(0L))
        .as("d")))
    val chk = cells.agg(count(lit(1)).as("k"),
      min(col("a") + col("b") + col("c") + col("d")).as("mn")).head()
    require(chk.getAs[Long]("k") >= 1L &&
      chk.getAs[Long]("k") <= maxStrata,
      s"mantelHaenszel: ${chk.getAs[Long]("k")} strata outside " +
        s"[1, $maxStrata] — coarsen the stratum key")
    require(chk.getAs[Long]("mn") >= 2L,
      "mantelHaenszel: a stratum has fewer than 2 subjects — V is " +
        "undefined at n=1; merge or drop singleton strata upstream")
    val agg = cells.agg(mhAggExprs.head, mhAggExprs.tail: _*)
    agg.select(mhCloseCols: _*)
  }

  /** The MH sufficient-statistic aggregate over a cells frame with
    * integer columns (a, b, c, d) — shared by [[mantelHaenszel]]
    * (one global group) and [[mantelHaenszelProgressive]] (grouped
    * by ingest bucket); [[graft.streaming.MhStream]] mirrors the
    * identical operand order in scalar doubles for its bit-for-bit
    * stream twin, so DO NOT reorder operands here without updating
    * all three.
    */
  private[graft] def mhAggExprs: Seq[Column] = {
    def q6(c: Column) = c.cast("decimal(38,6)")
    val n = col("a") + col("b") + col("c") + col("d")
    val nD = n.cast("double")
    val r1 = (col("a") + col("b")).cast("double")
    val r2 = (col("c") + col("d")).cast("double")
    val c1 = (col("a") + col("c")).cast("double")
    val c2 = (col("b") + col("d")).cast("double")
    Seq(
      count(lit(1)).cast("long").as("n_strata"),
      sum(n).cast("long").as("n"),
      sum(col("a")).cast("long").as("a_total"),
      sum(q6(col("a").cast("double") * col("d").cast("double") / nD))
        .as("__ad"),
      sum(q6(col("b").cast("double") * col("c").cast("double") / nD))
        .as("__bc"),
      sum(q6(r1 * c1 / nD)).as("__e"),
      sum(q6(r1 * r2 * c1 * c2 /
        (nD * nD * (nD - lit(1.0))))).as("__v"))
  }

  /** The fixed-shape double close over [[mhAggExprs]]'s output
    * columns (same sharing contract).
    */
  private[graft] def mhCloseCols: Seq[Column] = {
    val gap = col("a_total").cast("double") -
      col("__e").cast("double")
    val chi2 = gap * gap / col("__v").cast("double")
    val orMh = col("__ad").cast("double") / col("__bc").cast("double")
    Seq(col("n_strata"), col("n"), col("a_total"),
      when(col("__bc") > 0.0, round(orMh, 6)).as("or_mh"),
      when(col("__v") > 0.0, round(chi2, 6)).as("chi2_mh"),
      when(col("__v") > 0.0, round(lit(2.0) *
          (lit(1.0) - phiAbs(sqrt(chi2))), 6))
        .as("p_value"))
  }

  /** PROGRESSIVE Mantel-Haenszel — the per-ingest-bucket readout of
    * [[mantelHaenszel]]: subjects carry an ingest bucket (epoch,
    * day, micro-batch id), and for every bucket the pooled OR /
    * χ² / p is recomputed over the CUMULATIVE per-stratum 2×2 cells
    * of everything ingested so far — the "how is the experiment
    * converging?" monitor a long-running stratified A/B ships with.
    *
    * Pooling contract (shared bit-for-bit with
    * [[graft.streaming.MhStream.mhStream]], the ingest-time twin):
    * a stratum enters the pool once its cumulative n_s ≥ 2 (V is
    * undefined below that — the strict batch operator refuses such
    * strata outright; the progressive form holds them PENDING, so a
    * readout exists at every bucket) and buckets where no stratum
    * qualifies yet emit nothing. On any input the strict operator
    * accepts, the LAST bucket's row equals [[mantelHaenszel]]'s
    * single row (spec-pinned).
    *
    * Shape: one (stratum, bucket) hash-aggregation over the data,
    * then all cumulative work runs on the bounded strata × buckets
    * grid (censused ≤ `maxStrata` × `maxBuckets`, product-guarded) —
    * the stratum-partitioned running-sum window is grid-sized, never
    * data-sized, so the plan carries exactly one data exchange.
    */
  def mantelHaenszelProgressive(df: DataFrame, bucket: Column,
      stratum: Column, exposed: Column, outcome: Column,
      maxStrata: Long = 10000L, maxBuckets: Long = 1000L)
      : DataFrame = {
    val rows = df.select(bucket.cast("long").as("__bid"),
      stratum.cast("string").as("__s"),
      exposed.cast("boolean").as("__e"),
      outcome.cast("boolean").as("__o"))
      .where(col("__bid").isNotNull && col("__s").isNotNull &&
        col("__e").isNotNull && col("__o").isNotNull)
    val inc = graft.Caches.pin(rows.groupBy(col("__s"), col("__bid"))
      .agg(
        sum(when(col("__e") && col("__o"), 1L).otherwise(0L)).as("a"),
        sum(when(col("__e") && !col("__o"), 1L).otherwise(0L))
          .as("b"),
        sum(when(!col("__e") && col("__o"), 1L).otherwise(0L))
          .as("c"),
        sum(when(!col("__e") && !col("__o"), 1L).otherwise(0L))
          .as("d")))
    val chk = inc.agg(
      countDistinct(col("__s")).as("k"),
      countDistinct(col("__bid")).as("nb")).head()
    val (k, nb) = (chk.getAs[Long]("k"), chk.getAs[Long]("nb"))
    require(k <= maxStrata,
      s"mantelHaenszelProgressive: $k strata > maxStrata " +
        s"$maxStrata — coarsen the stratum key")
    require(nb <= maxBuckets,
      s"mantelHaenszelProgressive: $nb buckets > maxBuckets " +
        s"$maxBuckets — coarsen the ingest bucket")
    require(k * nb <= 10000000L,
      s"mantelHaenszelProgressive: strata × buckets grid $k × $nb " +
        "exceeds 1e7 — coarsen one of the keys")
    val grid = inc.select(col("__s")).distinct()
      .crossJoin(inc.select(col("__bid")).distinct())
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("__s")).orderBy(col("__bid"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val cum = grid.join(inc, Seq("__s", "__bid"), "left")
      .select(col("__s"), col("__bid"),
        sum(coalesce(col("a"), lit(0L))).over(w).as("a"),
        sum(coalesce(col("b"), lit(0L))).over(w).as("b"),
        sum(coalesce(col("c"), lit(0L))).over(w).as("c"),
        sum(coalesce(col("d"), lit(0L))).over(w).as("d"))
    val pooled = cum.where(
      col("a") + col("b") + col("c") + col("d") >= 2L)
    pooled.groupBy(col("__bid"))
      .agg(mhAggExprs.head, mhAggExprs.tail: _*)
      .select(col("__bid").as("batch_id") +: mhCloseCols: _*)
      .orderBy(col("batch_id"))
  }

  /** BENJAMINI-HOCHBERG FDR control (1995) over per-segment A/B
    * tests — the multiple-comparisons gate every "which segments
    * moved?" readout needs (at 25 segments and α=0.05, ~1.2 false
    * winners per experiment are expected without it): per segment,
    * the exact-count two-proportion z (q235's arithmetic), two-sided
    * p through the engine-portable [[phiAbs]], then the step-up rule
    * — reject the i smallest p's where i is the largest rank with
    * p_(i) <= i·q/m, evaluated as the pure-integer comparison
    * p_ppm·qDen·m <= rank·qNum·10⁶ on ppm-quantized p's (a boundary
    * flip is impossible cross-engine because both compare identical
    * integers). One grouped count + bounded-segment windows. Emits
    * (segment, n_t, x_t, n_c, x_c, z, p, rank, rejected).
    */
  def bhFdr(df: DataFrame, segment: Column, variantCol: Column,
      success: Column, qNum: Long = 1L, qDen: Long = 10L)
      : DataFrame = {
    require(qNum >= 1 && qDen > qNum, s"bhFdr: $qNum/$qDen")
    val vs = df.select(variantCol.cast("string").as("v")).distinct()
      .orderBy(col("v")).limit(3).collect().map(_.getString(0))
    require(vs.length == 2,
      s"bhFdr: need exactly 2 variants, got ${vs.toSeq}")
    val (vc, vt) = (vs(0), vs(1))
    val sl = success.cast("long")
    val cells = df.groupBy(segment.as("seg")).agg(
      sum(when(variantCol.cast("string") === vt, 1L).otherwise(0L))
        .as("n_t"),
      sum(when(variantCol.cast("string") === vt, sl).otherwise(0L))
        .as("x_t"),
      sum(when(variantCol.cast("string") === vc, 1L).otherwise(0L))
        .as("n_c"),
      sum(when(variantCol.cast("string") === vc, sl).otherwise(0L))
        .as("x_c"))
      .where(col("n_t") > 0 && col("n_c") > 0 &&
        col("x_t") + col("x_c") > 0 &&
        col("x_t") + col("x_c") < col("n_t") + col("n_c"))
    val p1 = col("x_t").cast("double") / col("n_t").cast("double")
    val p2 = col("x_c").cast("double") / col("n_c").cast("double")
    val pp = (col("x_t") + col("x_c")).cast("double") /
      (col("n_t") + col("n_c")).cast("double")
    val z = (p1 - p2) / sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_t").cast("double") +
        lit(1.0) / col("n_c").cast("double")))
    val withP = cells.withColumn("__z", z)
      .withColumn("__p",
        lit(2.0) * (lit(1.0) - phiAbs(abs(col("__z")))))
      .withColumn("__pq",
        floor(col("__p") * lit(1000000.0) + lit(0.5)).cast("long"))
    val W = org.apache.spark.sql.expressions.Window
    val pin = pmod(col("__pq"), lit(1))
    val wAll = W.partitionBy(pin)
    val ranked = withP
      .withColumn("rank", row_number().over(
        wAll.orderBy(col("__pq"), col("seg"))).cast("long"))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("__flag", when(
        col("__pq") * lit(qDen) * col("__m") <=
          col("rank") * lit(qNum) * lit(1000000L), col("rank")))
      .withColumn("__maxi",
        coalesce(max(col("__flag")).over(wAll), lit(0L)))
    ranked.select(col("seg"), col("n_t"), col("x_t"), col("n_c"),
      col("x_c"), round(col("__z"), 6).as("z"),
      round(col("__p"), 6).as("p"), col("rank"),
      (col("rank") <= col("__maxi")).cast("long").as("rejected"))
  }

  /** mSPRT ALWAYS-VALID p-value (Johari, Pekelis & Walsh 2017 — the
    * "peeking problem" solution production experimentation platforms
    * standardized on): per period, the cumulative two-sample
    * proportion difference feeds the normal-mixture likelihood
    * ratio Λ_t = sqrt(V/(V+τ)) · exp(θ̂²τ / (2V(V+τ))), and the
    * always-valid p is the RUNNING MIN of 1/Λ capped at 1 — valid
    * at every look, so the experimenter may stop whenever it
    * crosses α. Cumulative counts are exact integer running sums
    * over the bounded period axis (the q245 window rule); Λ and p
    * evaluate in ONE fixed double operation order (6dp). Periods
    * before both variants have data, or with a degenerate pooled
    * rate, are excluded (V undefined there). Emits one row per
    * period: per, n_t, x_t, n_c, x_c, lam, p_always.
    */
  def msprt(df: DataFrame, period: Column, variantCol: Column,
      success: Column, tau: Double = 1e-4): DataFrame = {
    require(tau > 0, s"msprt: tau $tau")
    val vs = df.select(variantCol.cast("string").as("v")).distinct()
      .orderBy(col("v")).limit(3).collect().map(_.getString(0))
    require(vs.length == 2,
      s"msprt: need exactly 2 variants, got ${vs.toSeq}")
    val (vc, vt) = (vs(0), vs(1)) // low = control, high = treatment
    val sl = success.cast("long")
    val daily = df.groupBy(period.as("per")).agg(
      sum(when(variantCol.cast("string") === vt, 1L).otherwise(0L))
        .as("dnt"),
      sum(when(variantCol.cast("string") === vt, sl).otherwise(0L))
        .as("dxt"),
      sum(when(variantCol.cast("string") === vc, 1L).otherwise(0L))
        .as("dnc"),
      sum(when(variantCol.cast("string") === vc, sl).otherwise(0L))
        .as("dxc"))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(pmod(col("dnt"), lit(1)))
      .orderBy(col("per"))
      .rowsBetween(Long.MinValue, 0)
    val cum = daily
      .withColumn("n_t", sum(col("dnt")).over(w))
      .withColumn("x_t", sum(col("dxt")).over(w))
      .withColumn("n_c", sum(col("dnc")).over(w))
      .withColumn("x_c", sum(col("dxc")).over(w))
    val ntD = col("n_t").cast("double"); val ncD = col("n_c").cast("double")
    val pooled = (col("x_t") + col("x_c")).cast("double") /
      (col("n_t") + col("n_c")).cast("double")
    val v = pooled * (lit(1.0) - pooled) *
      (lit(1.0) / ntD + lit(1.0) / ncD)
    val theta = col("x_t").cast("double") / ntD -
      col("x_c").cast("double") / ncD
    val lam = sqrt(col("__v") / (col("__v") + lit(tau))) *
      exp(col("__th") * col("__th") * lit(tau) /
        (lit(2.0) * col("__v") * (col("__v") + lit(tau))))
    cum
      .where(col("n_t") > 0 && col("n_c") > 0 &&
        col("x_t") + col("x_c") > 0 &&
        col("x_t") + col("x_c") < col("n_t") + col("n_c"))
      .withColumn("__v", v)
      .withColumn("__th", theta)
      .withColumn("__lam", lam)
      .withColumn("p_always", round(
        least(lit(1.0), min(lit(1.0) / col("__lam")).over(w)), 6))
      .select(col("per"), col("n_t"), col("x_t"), col("n_c"),
        col("x_c"), round(col("__lam"), 6).as("lam"),
        col("p_always"))
  }

  /** LOG-RANK TEST (Mantel 1966) — the standard two-group survival
    * comparison: at each pooled event time, observed vs expected
    * events in group 1 under the pooled-risk-set null, summed into
    * the chi-square statistic (df 1). Risk sets are exact integers
    * (the KM machinery per group); each time's expectation and
    * variance term quantizes through FIXED-ORDER integer floor
    * divisions (d·n₁·10⁶ div n, then the hypergeometric variance as
    * a division chain — every intermediate fits int64 through ~10⁶
    * subjects per group), so both sums are exact longs and the
    * statistic is one fixed-order double expression. One grouped
    * count + one bounded window over DISTINCT durations (the q245
    * rule). Emits one row: n1, n2, events1, events2, chi2,
    * significant (5%).
    */
  def logRank(df: DataFrame, duration: Column, event: Column,
      group: Column): DataFrame = {
    val base = df.where(duration.isNotNull)
      .select(duration.cast("long").as("t"),
        event.cast("long").as("e"), group.cast("string").as("g"))
    val gs = base.select(col("g")).distinct().orderBy(col("g"))
      .limit(3).collect().map(_.getString(0))
    require(gs.length == 2,
      s"logRank: need exactly 2 groups, got ${gs.toSeq}")
    val (ga, gb) = (gs(0), gs(1))
    val times = base.groupBy(col("t")).agg(
      sum(when(col("g") === ga, col("e")).otherwise(0L)).as("d1"),
      sum(when(col("g") === ga, 1L).otherwise(0L)).as("c1"),
      sum(when(col("g") === gb, col("e")).otherwise(0L)).as("d2"),
      sum(when(col("g") === gb, 1L).otherwise(0L)).as("c2"))
    val tot = times.agg(sum(col("c1")).as("t1"),
      sum(col("c2")).as("t2"))
    val W = org.apache.spark.sql.expressions.Window
    val wPrev = W.partitionBy(pmod(col("t"), lit(1)))
      .orderBy(col("t")).rowsBetween(Long.MinValue, -1)
    val r = times.crossJoin(broadcast(tot))
      .withColumn("n1",
        col("t1") - coalesce(sum(col("c1")).over(wPrev), lit(0L)))
      .withColumn("n2",
        col("t2") - coalesce(sum(col("c2")).over(wPrev), lit(0L)))
      .withColumn("d", col("d1") + col("d2"))
      .withColumn("n", col("n1") + col("n2"))
      .where(col("d") > 0)
      .withColumn("e_q", col("d1") * lit(1000000L) -
        expr("d * n1 * 1000000 div n"))
      .withColumn("v_q", when(col("n") > 1,
        expr("(((d * n1 * 1000000 div n) * n2) div n) * (n - d) " +
          "div (n - 1)")).otherwise(lit(0L)))
    val s = r.agg(sum(col("e_q")).as("se"), sum(col("v_q")).as("sv"),
      sum(col("d1")).as("o1"), sum(col("d2")).as("o2"))
    val seD = col("se").cast("double") / lit(1000000.0)
    val svD = col("sv").cast("double") / lit(1000000.0)
    s.crossJoin(broadcast(tot))
      .withColumn("chi2", round(seD * seD / svD, 6))
      .select(col("t1").as("n1"), col("t2").as("n2"),
        col("o1").as("events1"), col("o2").as("events2"),
        col("chi2"),
        (col("chi2") >= lit(3.841459)).cast("long")
          .as("significant"))
  }

  /** DETERMINISTIC POISSON BOOTSTRAP CI (Chamandy et al. 2012 — the
    * industry-standard resampling at scale: each row appears
    * Poisson(1) times per resample, so resamples stream in ONE pass
    * instead of materializing B copies of the data by sampling with
    * replacement). Multiplicities come from the portable id-hash
    * mapped through the ppm-quantized Poisson(1) CDF table — pure
    * integer comparisons, so every resample membership replays on
    * any engine. Values quantize to integer micro-units; each
    * resample mean is the INTEGER floor division Σm·xu div Σm (no
    * float trajectory at all), and the CI is exact order statistics
    * over the B quantized means (discrete-quantile ranks
    * max(1, ceil(p·B))). Work: one B-fold flatMap over the scan with
    * map-side partial aggregation into B groups — no data shuffle;
    * B·Σxu must stay under 2⁶³ (fine through ~10⁷ rows of money-
    * scale values per the long-headroom note). Emits one row:
    * b_resamples, n, theta, ci_lo, ci_med, ci_hi.
    */
  /** PAIRED SIGN-FLIP RANDOMIZATION TEST (Fisher 1935's exact
    * randomization logic, hash-seeded): under H0 each paired
    * difference d_i is symmetric around 0, so its sign is
    * exchangeable — the null distribution of S = Σ d is sampled by
    * flipping each sign with a deterministic portable hash and the
    * p-value is the exact RANK of |S_obs| among the K+1 statistics
    * (the +1 is the identity flip — Phipson & Smyth 2010's "never
    * report p = 0" correction). No distributional assumption at
    * all: the assumption-free companion to the paired t and
    * [[graft.ops.RankStats.wilcoxonSignedRank]].
    *
    * EVERYTHING is integer: d must be integer-quantized (gini
    * contract), each permutation sum is an exact decimal of ±d
    * terms, and p_ppm = (1 + #{|S_k| >= |S_obs|})·1e6 div (K+1).
    * Signs come from the per-rep MULTIPLIER hash (the
    * [[poissonBootstrapCi]] convention — an additive-only seed
    * would correlate the K flip patterns): parity of the portable id
    * hash h_k(id) ([[graft.functions.PortableHash]], k = the rep).
    *
    * Shape: one explode of K rep-ids per pair feeds STRAIGHT into a
    * partial aggregation keyed by rep — map-side CPU is K·rows but
    * the shuffle is K rows total; K is the knob (199 default = the
    * classical p >= 0.005 resolution). Emits one row:
    * (n_pairs, n_perms, obs_sum, n_ge, p_ppm).
    */
  def signFlipTest(df: DataFrame, id: Column, diff: Column,
      nPerms: Int = 199, seed: Long = 42L): DataFrame = {
    require(nPerms >= 19 && nPerms <= 9999,
      s"signFlipTest: nPerms $nPerms outside [19, 9999]")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val rows = graft.Caches.pin(df.select(id.cast("long").as("__id"),
      diff.cast("long").as("__d"))
      .where(col("__id").isNotNull && col("__d").isNotNull))
    val obs = rows.agg(count(lit(1)).cast("long").as("n_pairs"),
      coalesce(sum(dec(col("__d"))), lit(0).cast("decimal(38,0)"))
        .as("__obs"))
    val h = graft.functions.PortableHash(col("__id"), seed, col("__k"))
    val perms = rows
      .withColumn("__k", explode(sequence(lit(1), lit(nPerms))))
      .select(col("__k"),
        (when(pmod(h, lit(2L)) === 0L, col("__d"))
          .otherwise(-col("__d"))).as("__sd"))
      .groupBy(col("__k"))
      .agg(sum(dec(col("__sd"))).as("__s"))
    val tail = perms.crossJoin(broadcast(obs))
      .agg(coalesce(sum(when(abs(col("__s")) >= abs(col("__obs")),
        1L).otherwise(0L)), lit(0L)).as("n_ge"))
    obs.crossJoin(broadcast(tail))
      .select(col("n_pairs"), lit(nPerms.toLong).as("n_perms"),
        col("__obs").cast("long").as("obs_sum"), col("n_ge"),
        expr(s"(1L + n_ge) * 1000000L div ${nPerms + 1}L")
          .as("p_ppm"))
  }

  def poissonBootstrapCi(df: DataFrame, id: Column, x: Column,
      b: Int = 40, seedBase: Long = 97L): DataFrame = {
    require(b >= 8 && b <= 256, s"poissonBootstrapCi: b $b")
    // ppm-quantized Poisson(1) CDF: P(<=k) for k = 0..5, then 6
    val cuts = Seq(367879L, 735758L, 919698L, 981011L, 996340L,
      999405L)
    val withB = df.select(id.cast("long").as("__id"),
        floor(x * lit(1000000.0) + lit(0.5)).cast("long").as("__xu"))
      .withColumn("__b", explode(sequence(lit(0), lit(b - 1))))
    // per-resample MULTIPLIER (the minhash-family convention): an
    // additive-only seed shifts u by a near-constant per b, leaving
    // the B resamples almost perfectly correlated — the multiplier
    // must vary with b for the memberships to decorrelate
    val u = graft.functions.PortableHash(col("__id"), seedBase,
      col("__b")) % lit(1000000L)
    val m = cuts.zipWithIndex.foldRight(lit(6L)) {
      case ((c, i), acc) => when(u < c, lit(i.toLong)).otherwise(acc)
    }
    val res = withB.withColumn("__m", m)
      .groupBy(col("__b"))
      .agg(sum(col("__m") * col("__xu")).as("__su"),
        sum(col("__m")).as("__cm"))
      .withColumn("__qb", expr("__su div __cm"))
    val rlo = math.max(1, math.ceil(0.025 * b).toInt)
    val rmed = math.max(1, math.ceil(0.5 * b).toInt)
    val rhi = math.max(1, math.ceil(0.975 * b).toInt)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(col("__b"), lit(1)))
      .orderBy(col("__qb"), col("__b"))
    val sel = res.withColumn("__rn", row_number().over(w))
      .agg(
        max(when(col("__rn") === rlo, col("__qb"))).as("__qlo"),
        max(when(col("__rn") === rmed, col("__qb"))).as("__qmed"),
        max(when(col("__rn") === rhi, col("__qb"))).as("__qhi"))
    val st = df.agg(count(lit(1)).as("n"),
      graft.QH.davg(x).as("__t"))
    sel.crossJoin(broadcast(st)).select(
      lit(b.toLong).as("b_resamples"), col("n"),
      round(col("__t"), 6).as("theta"),
      round(col("__qlo").cast("double") / lit(1000000.0), 6)
        .as("ci_lo"),
      round(col("__qmed").cast("double") / lit(1000000.0), 6)
        .as("ci_med"),
      round(col("__qhi").cast("double") / lit(1000000.0), 6)
        .as("ci_hi"))
  }

  /** DELETE-ONE-GROUP JACKKNIFE for a ratio metric θ = Σnum / Σden
    * (Quenouille 1956; the standard error the naive per-row variance
    * gets wrong whenever the denominator is random — revenue per
    * unit, clicks per session, any per-entity ratio). Group sums are
    * exact decimals, so every leave-one-out replicate
    * θ_i = (N - n_i) / (D - d_i) divides the SAME exact operands on
    * any engine; replicates are quantized to integer millionths
    * BEFORE the variance sums (the house order-free convention), so
    * se_jk = sqrt((G-1)/G · Σ(θ_i - θ̄)²) folds from two exact
    * integer sums in one fixed-order closed form. Two grouped
    * aggregates + a broadcast totals row — data volume enters only
    * the first pass, replicate work is O(groups). Output is one row:
    * g_groups, theta, theta_jk (bias-corrected G·θ - (G-1)·θ̄),
    * se_jk.
    */
  def jackknifeRatio(df: DataFrame, group: Column, num: Column,
      den: Column): DataFrame = {
    val g1 = df.groupBy(group.as("g"))
      .agg(sum(num.cast("decimal(25,6)")).as("sn"),
        sum(den.cast("decimal(25,6)")).as("sd"))
    val tot = g1.agg(sum(col("sn")).as("tn"), sum(col("sd")).as("td"),
      count(lit(1)).as("gcnt"))
    val reps = g1.crossJoin(broadcast(tot))
      .withColumn("__theta_i",
        (col("tn") - col("sn")).cast("double") /
          (col("td") - col("sd")).cast("double"))
      .withColumn("__qi",
        floor(col("__theta_i") * lit(1000000.0) + lit(0.5))
          .cast("long"))
      .agg(sum(col("__qi")).as("sq"),
        sum((col("__qi") * col("__qi")).cast("decimal(38,0)"))
          .as("sqq"))
    reps.crossJoin(broadcast(tot))
      .withColumn("__g", col("gcnt").cast("double"))
      .withColumn("__theta",
        col("tn").cast("double") / col("td").cast("double"))
      .withColumn("__tbar",
        col("sq").cast("double") / col("__g") / lit(1000000.0))
      .withColumn("__ss",
        col("sqq").cast("double") -
          col("sq").cast("double") * col("sq").cast("double") /
            col("__g"))
      .select(col("gcnt").as("g_groups"),
        round(col("__theta"), 6).as("theta"),
        round(col("__g") * col("__theta") -
          (col("__g") - lit(1.0)) * col("__tbar"), 6).as("theta_jk"),
        round(
          sqrt((col("__g") - lit(1.0)) / col("__g") * col("__ss")) /
            lit(1000000.0), 6).as("se_jk"))
  }

  /** Inverse standard normal (upper-tail quantile z with
    * P(Z > z) = p, 0 < p < 0.5) by the Abramowitz & Stegun 26.2.23
    * rational approximation (|error| < 4.5e-4 — inside the planning
    * grain a sample-size calc needs): t = sqrt(-2·ln p), then
    * z = t − (c0 + c1·t + c2·t²)/(1 + d1·t + d2·t² + d3·t³). Pure
    * fixed-order double arithmetic — the [[phiAbs]] companion, and
    * like it engine-portable.
    */
  def invPhiUpper(p: Column): Column = {
    val t = sqrt(lit(-2.0) * log(p))
    val num = lit(2.515517) + t * (lit(0.802853) + t * lit(0.010328))
    val den = lit(1.0) + t * (lit(1.432788) +
      t * (lit(0.189269) + t * lit(0.001308)))
    t - num / den
  }

  /** POWER ANALYSIS / sample-size planning per segment: the n per arm
    * a two-proportion z-test needs to detect an absolute lift `mde`
    * over the segment's own observed baseline rate at significance
    * `alpha` (two-sided) and power `power` — the capacity question
    * every experiment review starts with, answered from the live
    * corpus in one grouped count. Fleiss-style closed form:
    *   n = (z_{α/2}·√(2·p̄q̄) + z_β·√(p1·q1 + p2·q2))² / (p1−p2)²
    * with p̄ the pooled rate. Also emits `weeks_needed`, the ceiling
    * of 2n over the segment's observed row count — turning the n into
    * a calendar answer at the corpus' own traffic. Exact integer
    * counts; quantiles via [[invPhiUpper]]; fixed double order + 2dp
    * round.
    */
  def powerSampleSize(df: DataFrame, segment: Column, success: Column,
      mde: Double, alpha: Double = 0.05, power: Double = 0.8)
      : DataFrame = {
    require(mde > 0 && alpha > 0 && alpha < 0.5 && power > 0.5 &&
      power < 1, s"powerSampleSize: mde=$mde alpha=$alpha power=$power")
    val cells = df.groupBy(segment.as("segment")).agg(
      count(lit(1)).as("n_obs"),
      sum(success.cast("long")).as("x_obs"))
    val p1 = col("x_obs").cast("double") / col("n_obs").cast("double")
    val p2 = least(p1 + lit(mde), lit(0.999999))
    val pbar = (p1 + p2) / lit(2.0)
    val za = invPhiUpper(lit(alpha / 2.0))
    val zb = invPhiUpper(lit(1.0 - power))
    // squared by explicit multiply, not pow() — pow implementations
    // are not bit-identical across engines, x*x is
    val s = za * sqrt(lit(2.0) * pbar * (lit(1.0) - pbar)) +
      zb * sqrt(p1 * (lit(1.0) - p1) + p2 * (lit(1.0) - p2))
    val nArm = s * s / ((p2 - p1) * (p2 - p1))
    cells.select(col("segment"), col("n_obs"),
        round(p1, 6).as("baseline_rate"),
        round(za, 6).as("z_alpha"), round(zb, 6).as("z_beta"),
        ceil(nArm).cast("long").as("n_per_arm"),
        ceil(lit(2.0) * nArm / col("n_obs").cast("double"))
          .cast("long").as("weeks_needed"))
      .orderBy(col("segment"))
  }

  /** MULTI-ARM PAIRWISE CONTRASTS under BH — the post-hoc readout
    * for an experiment with MORE than two arms, where [[abTest]]
    * stops and ad-hoc pairwise z-tests inflate the false-discovery
    * rate (k arms → C(k,2) comparisons): every arm pair's pooled
    * two-proportion z and two-sided p ([[phiAbs]]), then the
    * Benjamini-Hochberg step-up over ALL pairs via the [[bhFdr]]
    * pure-integer rank rule. Degenerate pairs (pooled rate 0 or 1)
    * are excluded with the bhFdr semantics.
    *
    * Plan shape: ONE grouped census over the data (bounded by
    * `maxArms`), then a census self-join and bounded windows —
    * C(k,2) rows of algebra, data volume enters one aggregate.
    * Emits (arm_a, arm_b, n_a, x_a, n_b, x_b, z, p, rank, rejected).
    */
  def pairwiseArms(df: DataFrame, arm: Column, success: Column,
      qNum: Long = 1L, qDen: Long = 10L, maxArms: Int = 16)
      : DataFrame = {
    require(qNum >= 1 && qDen > qNum, s"pairwiseArms: $qNum/$qDen")
    val cells = graft.Caches.pin(
      df.groupBy(arm.cast("string").as("__a")).agg(
        count(lit(1)).as("__n"),
        sum(success.cast("long")).as("__x")))
    val k = cells.count()
    require(k >= 3 && k <= maxArms,
      s"pairwiseArms: $k arms (need 3..$maxArms; use abTest for 2)")
    val a = cells.select(col("__a").as("arm_a"), col("__n").as("n_a"),
      col("__x").as("x_a"))
    val b = cells.select(col("__a").as("arm_b"), col("__n").as("n_b"),
      col("__x").as("x_b"))
    val pairs = a.join(b, col("arm_a") < col("arm_b"))
      .where(col("x_a") + col("x_b") > 0 &&
        col("x_a") + col("x_b") < col("n_a") + col("n_b"))
    val pa = col("x_a").cast("double") / col("n_a").cast("double")
    val pb = col("x_b").cast("double") / col("n_b").cast("double")
    val pp = (col("x_a") + col("x_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val z = (pa - pb) / sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a").cast("double") +
        lit(1.0) / col("n_b").cast("double")))
    val withP = pairs.withColumn("__z", z)
      .withColumn("__p",
        lit(2.0) * (lit(1.0) - phiAbs(abs(col("__z")))))
      .withColumn("__pq",
        floor(col("__p") * lit(1000000.0) + lit(0.5)).cast("long"))
    val W = org.apache.spark.sql.expressions.Window
    val wAll = W.partitionBy(pmod(col("__pq"), lit(1)))
    val ranked = withP
      .withColumn("rank", row_number().over(wAll.orderBy(
        col("__pq"), col("arm_a"), col("arm_b"))).cast("long"))
      .withColumn("__m", count(lit(1)).over(wAll))
      .withColumn("__flag", when(
        col("__pq") * lit(qDen) * col("__m") <=
          col("rank") * lit(qNum) * lit(1000000L), col("rank")))
      .withColumn("__maxi",
        coalesce(max(col("__flag")).over(wAll), lit(0L)))
    ranked.select(col("arm_a"), col("arm_b"), col("n_a"), col("x_a"),
        col("n_b"), col("x_b"),
        round(col("__z"), 6).as("z"), round(col("__p"), 6).as("p"),
        col("rank"),
        (col("rank") <= col("__maxi")).cast("long").as("rejected"))
      .orderBy(col("rank"))
  }

  /** PROPENSITY-SCORE CALIPER MATCHING (ATT, 1-nearest control WITH
    * replacement — Rosenbaum & Rubin 1985) — the classic causal
    * estimator missing between stratification
    * ([[propensityStratifiedAte]]), IPW and AIPW: each treated unit
    * takes the control whose integer score is closest (within
    * `caliper`), and the effect on the treated is the mean matched
    * outcome difference. With-replacement nearest matching is
    * order-free, hence fully distributable AND deterministic (the
    * greedy without-replacement variant is inherently sequential —
    * the wrong venue at any scale).
    *
    * Plan shape (the r11 sf1 lesson — see the in-body comment): the
    * match depends only on the treated unit's SCORE, so the work
    * unit is the distinct score, never the unit pair. One grouped
    * census per side, a full-outer merge on the score axis, and two
    * ordered window passes (nearest control score above/below)
    * resolve every match in O(distinct scores) — guarded — with the
    * per-treated argmin semantics (|Δscore|, then control tiebreak,
    * equidistant resolved across both candidate scores) preserved
    * exactly. One exact-decimal close. Emits one row:
    * (n_treated, n_matched, match_ppm, att).
    */
  def psMatchAtt(df: DataFrame, treated: Column, outcome: Column,
      scoreQ: Column, tiebreak: Column, caliper: Long,
      maxDistinctScores: Long = 1000000L): DataFrame = {
    require(caliper >= 1, s"psMatchAtt: caliper $caliper")
    val base = df.select(treated.cast("int").as("__t"),
      outcome.cast("double").as("__y"),
      scoreQ.cast("long").as("__sq"), tiebreak.cast("long").as("__tb"))
    // CENSUS, not pairs: every treated unit at score s takes the SAME
    // match (nearest control score, min-tiebreak control within it),
    // so the unit of work is the DISTINCT score — the r11 sf1 capture
    // caught the naive banded pair join going candidate-quadratic
    // (750k treated x ~3k in-caliper controls = 2e9 rows) and this
    // shape replaced it: one grouped census per side, one full-outer
    // merge on the score axis, two ordered window passes. Work is
    // O(distinct scores), guarded below, at ANY row count.
    val tCells = base.where(col("__t") === 1)
      .groupBy(col("__sq")).agg(count(lit(1)).as("__nt"),
        sum(col("__y").cast("decimal(25,6)")).as("__syt"))
    val cCells = base.where(col("__t") === 0)
      .groupBy(col("__sq"))
      // lexicographic struct min = the min-tiebreak control's outcome
      .agg(min(struct(col("__tb"), col("__y"))).as("__rep"))
    val axis = graft.Caches.pin(
      tCells.join(cCells, Seq("__sq"), "full_outer"))
    val nScores = axis.count()
    require(nScores <= maxDistinctScores,
      s"psMatchAtt: $nScores distinct scores exceed " +
        s"$maxDistinctScores — coarsen the score grid")
    val W = org.apache.spark.sql.expressions.Window
    val wOrd = W.partitionBy(ScanOps.pinnedZero(col("__sq")))
      .orderBy(col("__sq"))
    val cHere = when(col("__rep").isNotNull,
      struct(col("__sq").as("__csq"), col("__rep.__tb").as("__ctb"),
        col("__rep.__y").as("__cy")))
    val marked = axis
      .withColumn("__prev", last(cHere, ignoreNulls = true)
        .over(wOrd.rowsBetween(Long.MinValue, 0)))
      .withColumn("__next", first(cHere, ignoreNulls = true)
        .over(wOrd.rowsBetween(0, Long.MaxValue)))
      .where(col("__nt").isNotNull)
    val dPrev = col("__sq") - col("__prev.__csq")
    val dNext = col("__next.__csq") - col("__sq")
    val pOk = col("__prev").isNotNull && dPrev <= caliper
    val nOk = col("__next").isNotNull && dNext <= caliper
    val pick = when(pOk && nOk,
        when(dPrev < dNext, col("__prev"))
          .when(dNext < dPrev, col("__next"))
          // equidistant: the original (|Δ|, tiebreak) rule — min
          // tiebreak across BOTH candidate scores' representatives
          .otherwise(when(col("__prev.__ctb") <= col("__next.__ctb"),
            col("__prev")).otherwise(col("__next"))))
      .when(pOk, col("__prev"))
      .when(nOk, col("__next"))
    val withPick = marked.withColumn("__m", pick)
    withPick.agg(
        sum(col("__nt")).as("n_treated"),
        sum(when(col("__m").isNotNull, col("__nt")).otherwise(0L))
          .as("n_matched"),
        sum(when(col("__m").isNotNull,
          (col("__syt").cast("double") -
            col("__nt").cast("double") * col("__m.__cy"))
            .cast("decimal(38,12)"))).cast("double").as("__num"))
      .select(col("n_treated"), col("n_matched"),
        floor(col("n_matched").cast("double") * lit(1000000.0) /
          col("n_treated").cast("double")).cast("long")
          .as("match_ppm"),
        round(col("__num") / col("n_matched").cast("double"), 6)
          .as("att"))
  }

  /** GROUP-SEQUENTIAL MONITORING with O'Brien-Fleming-style
    * boundaries (Pocock 1977 framing; OBF 1979 shape z_k =
    * z_{α/2}·√(K/k)) — the interim-analysis discipline the fixed-n
    * [[abTest]] and the always-valid [[Experiment]] mSPRT bracket:
    * K planned looks, a conservative early boundary that relaxes to
    * ~z_{α/2} at the final look, stop the first time |z| crosses.
    *
    * Per look k: CUMULATIVE two-proportion counts (exact integer
    * prefix sums over the look-ordered census), the pooled z (the
    * abTest formula; NULL with crossed=0 while the pooled rate is
    * degenerate), the boundary via [[invPhiUpper]], and an
    * is_first_crossing flag. All doubles are fixed-order expressions
    * of exact integers (engine-portable); z and boundary round 6dp
    * (margin-audited).
    *
    * Plan shape: one (look, arm) census aggregate, one bounded
    * single-partition window over the K looks (the q245 rule — K is
    * the analysis dimension, not data). `armB` is the boolean arm
    * indicator; rows are units.
    */
  def groupSequentialObf(df: DataFrame, look: Column, armB: Column,
      success: Column, totalLooks: Int, alpha: Double = 0.05)
      : DataFrame = {
    require(totalLooks >= 2 && totalLooks <= 100,
      s"groupSequentialObf: $totalLooks looks")
    require(alpha > 0 && alpha < 0.5, s"groupSequentialObf: $alpha")
    val census = df.groupBy(look.as("look")).agg(
      sum(when(!armB, 1L).otherwise(0L)).as("__na"),
      sum(when(!armB, success.cast("long")).otherwise(0L)).as("__xa"),
      sum(when(armB, 1L).otherwise(0L)).as("__nb"),
      sum(when(armB, success.cast("long")).otherwise(0L)).as("__xb"))
    val nLooks = census.count()
    require(nLooks == totalLooks,
      s"groupSequentialObf: $nLooks looks seen, $totalLooks planned")
    val W = org.apache.spark.sql.expressions.Window
    val wOrd = W.partitionBy(ScanOps.pinnedZero(col("look")))
      .orderBy(col("look"))
    val wCum = wOrd.rowsBetween(Long.MinValue, 0)
    val cum = census
      .withColumn("k", row_number().over(wOrd).cast("long"))
      .withColumn("n_a", sum(col("__na")).over(wCum))
      .withColumn("x_a", sum(col("__xa")).over(wCum))
      .withColumn("n_b", sum(col("__nb")).over(wCum))
      .withColumn("x_b", sum(col("__xb")).over(wCum))
    val pa = col("x_a").cast("double") / col("n_a").cast("double")
    val pb = col("x_b").cast("double") / col("n_b").cast("double")
    val pp = (col("x_a") + col("x_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val degenerate = col("x_a") + col("x_b") === 0 ||
      col("x_a") + col("x_b") === col("n_a") + col("n_b") ||
      col("n_a") === 0 || col("n_b") === 0
    val z = (pa - pb) / sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a").cast("double") +
        lit(1.0) / col("n_b").cast("double")))
    val bound = invPhiUpper(lit(alpha / 2.0)) *
      sqrt(lit(totalLooks.toDouble) / col("k").cast("double"))
    val flagged = cum
      .withColumn("z", when(degenerate, lit(null).cast("double"))
        .otherwise(round(z, 6)))
      .withColumn("boundary", round(bound, 6))
      .withColumn("crossed",
        (coalesce(abs(col("z")), lit(0.0)) >= col("boundary"))
          .cast("int"))
    val firstK = flagged
      .withColumn("__firstK", min(when(col("crossed") === 1,
        col("k"))).over(W.partitionBy(ScanOps.pinnedZero(col("look")))
        .rowsBetween(Long.MinValue, Long.MaxValue)))
    firstK.select(col("look"), col("k"), col("n_a"), col("x_a"),
        col("n_b"), col("x_b"), col("z"), col("boundary"),
        col("crossed"),
        (col("__firstK").isNotNull &&
          col("k") === col("__firstK")).cast("int")
          .as("is_first_crossing"))
      .orderBy(col("k"))
  }

  /** INVERSE-PROPENSITY-WEIGHTED ATE (Hájek-normalized Horvitz-
    * Thompson) — the second standard propensity estimator next to
    * [[propensityStratifiedAte]]: each treated outcome weights by
    * 1/e, each control by 1/(1−e), and both arms NORMALIZE by their
    * own weight sums (the Hájek form — the raw HT estimator is
    * unbiased but explodes in variance whenever Σ1/e drifts from n).
    * `scorePpm` is the integer-ppm propensity (the q303/q304 serving
    * convention: a fitted score quantizes once, then every engine
    * agrees); rows outside [trimLoPpm, trimHiPpm] are TRIMMED — the
    * standard positivity guard, reported as n_trimmed rather than
    * silently absorbed. One data pass: per-row double weights
    * decimal-quantized into four order-free sums.
    */
  def ipwAte(df: DataFrame, treated: Column, outcome: Column,
      scorePpm: Column, trimLoPpm: Long = 20000L,
      trimHiPpm: Long = 980000L): DataFrame = {
    require(trimLoPpm > 0 && trimLoPpm < trimHiPpm &&
      trimHiPpm < 1000000L, s"ipwAte: trim $trimLoPpm/$trimHiPpm")
    val dq = (c: Column) => c.cast("decimal(38,12)")
    val rows = graft.Caches.pin(df.select(
      treated.cast("long").as("__t"), outcome.cast("double").as("__y"),
      scorePpm.cast("long").as("__e")))
    val kept = rows.where(col("__e") >= trimLoPpm &&
      col("__e") <= trimHiPpm)
    val e = col("__e").cast("double") / lit(1000000.0)
    val wT = col("__t").cast("double") / e
    val wC = (lit(1.0) - col("__t").cast("double")) / (lit(1.0) - e)
    val agg = kept.agg(count(lit(1)).as("n_used"),
      sum(dq(wT)).cast("double").as("__swt"),
      sum(dq(wT * col("__y"))).cast("double").as("__swty"),
      sum(dq(wC)).cast("double").as("__swc"),
      sum(dq(wC * col("__y"))).cast("double").as("__swcy"))
    val total = rows.agg(count(lit(1)).as("__ntot"))
    agg.crossJoin(broadcast(total))
      .select(col("n_used"),
        (col("__ntot") - col("n_used")).as("n_trimmed"),
        round(col("__swty") / col("__swt"), 6).as("mean_treated"),
        round(col("__swcy") / col("__swc"), 6).as("mean_control"),
        round(col("__swty") / col("__swt") -
          col("__swcy") / col("__swc"), 6).as("ate_ipw"))
  }

  /** OFFLINE POLICY EVALUATION by REPLAY (Li et al. 2011): estimate
    * what a DETERMINISTIC arm-selection policy would have earned from
    * logged (context, arm, reward) rounds — keep exactly the rounds
    * where the policy's choice matches the logged arm, average the
    * reward there. Unbiased when logging randomizes arms uniformly;
    * match_ppm is the audit column (a tiny matched set means a noisy
    * estimate — that caveat must be VISIBLE, not buried). Policies
    * melt into one pass (the mutualInformation array-Generate shape):
    * however many are compared, the log is read once. Exact counts;
    * exact-decimal reward sums; value NULL when nothing matched.
    */
  def replayPolicyValue(df: DataFrame, arm: Column, reward: Column,
      policies: Seq[(String, Column)]): DataFrame = {
    require(policies.nonEmpty &&
      policies.map(_._1).distinct.size == policies.size,
      s"replayPolicyValue: $policies")
    val melted = df.select(
        array(policies.map { case (n, c) =>
          struct(lit(n).as("p"), c.cast("string").as("choice")) }: _*)
          .as("__ps"),
        arm.cast("string").as("__a"), reward.cast("double").as("__r"))
      .select(explode(col("__ps")).as("__p"), col("__a"), col("__r"))
      .select(col("__p.p").as("policy"),
        (col("__p.choice") === col("__a")).cast("long").as("__m"),
        col("__r"))
    melted.groupBy(col("policy")).agg(
        count(lit(1)).as("n_logged"),
        sum(col("__m")).as("n_matched"),
        sum(when(col("__m") === 1, col("__r")).otherwise(lit(0.0))
          .cast("decimal(25,6)")).cast("double").as("__sr"))
      .select(col("policy"), col("n_logged"), col("n_matched"),
        expr("n_matched * 1000000L div n_logged").as("match_ppm"),
        round(when(col("n_matched") > 0,
          col("__sr") / col("n_matched").cast("double")), 6)
          .as("value_per_round"))
      .orderBy(col("policy"))
  }

  /** RESTRICTED MEAN SURVIVAL TIME (RMST): the area under the
    * [[kaplanMeier]] curve up to horizon `tau` — "average survival
    * time over the next tau units", the effect-size summary that
    * stays defined when the median is never reached. Integrates the
    * step function exactly: Σ S(t_{i−1}) · (min(t_i, τ) − t_{i−1})
    * over the KM grid plus the tail segment at the last observed
    * time. Windows run over the distinct-durations grid only (the
    * q245 rule); per-segment products decimal-quantized.
    */
  def rmst(df: DataFrame, duration: Column, event: Column,
      tau: Long): DataFrame = {
    require(tau > 0, s"rmst: tau=$tau")
    val km = kaplanMeier(df, duration, event)
      .select(col("t"), col("survival"))
    val pin = pmod(col("t"), lit(1))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pin).orderBy(col("t"))
    val dq = (c: Column) => c.cast("decimal(38,12)")
    val seg = km
      .withColumn("__pt", coalesce(lag(col("t"), 1).over(w), lit(0L)))
      .withColumn("__ps",
        coalesce(lag(col("survival"), 1).over(w), lit(1.0)))
      .withColumn("__last",
        (lead(col("t"), 1).over(w)).isNull.cast("int"))
    // interval [prev_t, t) at prev survival, clipped to tau; the last
    // row also contributes its own tail [t, tau) at its survival
    val body = dq(col("__ps") *
      (least(col("t"), lit(tau)) - least(col("__pt"), lit(tau)))
        .cast("double"))
    val tail = dq(when(col("__last") === 1, col("survival") *
      (lit(tau) - least(col("t"), lit(tau))).cast("double"))
      .otherwise(lit(0.0)))
    seg.agg(count(lit(1)).as("n_times"),
        sum(body).cast("double").as("__b"),
        sum(tail).cast("double").as("__t"))
      .select(lit(tau).as("tau"), col("n_times"),
        round(col("__b") + col("__t"), 6).as("rmst"))
  }

  /** OFF-POLICY VALUE by INVERSE PROPENSITY SCORING — the
    * [[replayPolicyValue]] upgrade for NON-uniform logging (plain
    * replay is biased the moment the logger favored some arms):
    *   V_IPS   = (1/n) Σ r·1{π(x)=a} / p_log(a)
    *   V_SNIPS = Σ r·1{π(x)=a}/p_log(a) / Σ 1{π(x)=a}/p_log(a)
    * (the self-normalized form — the variance-stable estimate to
    * read; IPS is emitted beside it because the pair DIVERGING is
    * itself the small-matched-set warning). `logPpm` is the logged
    * arm's propensity in integer ppm (the serving convention).
    * Policies melt into one pass; per-row weighted terms
    * decimal-quantized.
    */
  def replayPolicyValueIps(df: DataFrame, arm: Column, reward: Column,
      logPpm: Column, policies: Seq[(String, Column)]): DataFrame = {
    require(policies.nonEmpty &&
      policies.map(_._1).distinct.size == policies.size,
      s"replayPolicyValueIps: $policies")
    val dq = (c: Column) => c.cast("decimal(38,12)")
    val melted = df.select(
        array(policies.map { case (n, c) =>
          struct(lit(n).as("p"), c.cast("string").as("choice")) }: _*)
          .as("__ps"),
        arm.cast("string").as("__a"), reward.cast("double").as("__r"),
        logPpm.cast("long").as("__lp"))
      .select(explode(col("__ps")).as("__p"), col("__a"), col("__r"),
        col("__lp"))
      .select(col("__p.p").as("policy"),
        (col("__p.choice") === col("__a")).cast("long").as("__m"),
        col("__r"), col("__lp"))
    val w = col("__m").cast("double") /
      (col("__lp").cast("double") / lit(1000000.0))
    melted.groupBy(col("policy")).agg(
        count(lit(1)).as("n_logged"),
        sum(col("__m")).as("n_matched"),
        sum(dq(w * col("__r"))).cast("double").as("__swr"),
        sum(dq(w)).cast("double").as("__sw"))
      .select(col("policy"), col("n_logged"), col("n_matched"),
        round(col("__swr") / col("n_logged").cast("double"), 6)
          .as("value_ips"),
        round(when(col("__sw") > 0, col("__swr") / col("__sw")), 6)
          .as("value_snips"))
      .orderBy(col("policy"))
  }

  /** DOUBLY-ROBUST OFF-POLICY VALUE (Dudík, Langford & Li 2011) —
    * completes the off-policy family: q337's replay (matched rounds
    * only), q345's IPS/SNIPS (propensity-corrected), and here the
    * estimator that survives ONE of its two models being wrong:
    *   V_DR(π) = (1/n) Σ [ Q̂(x, π(x))
    *                       + 1{π(x)=a}·(r − Q̂(x, a))/p(a|x) ]
    * — the direct-method term carries the reward model, the matched
    * correction term repairs its bias wherever the logger visited.
    *
    * Q̂ is the per-(context, arm) mean reward from exact decimal
    * sums over the log itself (the simple non-cross-fitted DR form —
    * deterministic, no solver); the (context, arm) census is the
    * bounded analysis dimension (`maxCells` guard) so Q̂ rides a
    * BROADCAST join — the log is scanned twice (census + terms),
    * nothing data-sized shuffles. A policy choice the logger never
    * took in that context has no model value: Q̂ defaults to 0 there
    * (the Dudík convention), and the emitted value_dm vs value_dr
    * gap is the usual model-coverage alarm. Per-row terms
    * decimal-quantized (order-free sums); closes are fixed-order
    * doubles, 6dp.
    *
    * Emits per policy: (policy, n_logged, n_matched, value_dm,
    * value_dr).
    */
  def replayPolicyValueDr(df: DataFrame, context: Column,
      arm: Column, reward: Column, logPpm: Column,
      policies: Seq[(String, Column)], maxCells: Long = 100000L)
      : DataFrame = {
    require(policies.nonEmpty &&
      policies.map(_._1).distinct.size == policies.size,
      s"replayPolicyValueDr: $policies")
    val dq = (c: Column) => c.cast("decimal(38,12)")
    val base = graft.Caches.pin(df.select(
      context.cast("string").as("__c"), arm.cast("string").as("__a"),
      reward.cast("double").as("__r"), logPpm.cast("long").as("__lp"),
      array(policies.map { case (n, c) =>
        struct(lit(n).as("p"), c.cast("string").as("choice")) }: _*)
        .as("__ps")))
    val cells = base.groupBy(col("__c"), col("__a"))
      .agg(count(lit(1)).as("__nc"),
        sum(col("__r").cast("decimal(25,6)")).as("__src"))
    val nCells = cells.count()
    require(nCells <= maxCells,
      s"replayPolicyValueDr: $nCells (context, arm) cells exceed " +
        s"$maxCells — contexts are the bounded analysis dimension")
    val qhat = cells.select(col("__c"), col("__a").as("__qa"),
      (col("__src").cast("double") / col("__nc").cast("double"))
        .as("__q"))
    val melted = base
      .select(explode(col("__ps")).as("__p"), col("__c"),
        col("__a"), col("__r"), col("__lp"))
      .select(col("__p.p").as("policy"),
        col("__p.choice").as("__ch"), col("__c"), col("__a"),
        col("__r"), col("__lp"))
    val withQ = melted
      .join(broadcast(qhat.select(col("__c"),
        col("__qa").as("__ch"), col("__q").as("__qpi"))),
        Seq("__c", "__ch"), "left")
      .join(broadcast(qhat.select(col("__c"),
        col("__qa").as("__a"), col("__q").as("__qlog"))),
        Seq("__c", "__a"), "left")
      .select(col("policy"),
        (col("__ch") === col("__a")).cast("long").as("__mt"),
        col("__r"), col("__lp"),
        coalesce(col("__qpi"), lit(0.0)).as("__dm"),
        col("__qlog"))
    withQ.groupBy(col("policy")).agg(
        count(lit(1)).as("n_logged"),
        sum(col("__mt")).as("n_matched"),
        sum(dq(col("__dm"))).cast("double").as("__sdm"),
        sum(dq(col("__dm") + col("__mt").cast("double") /
          (col("__lp").cast("double") / lit(1000000.0)) *
          (col("__r") - col("__qlog")))).cast("double").as("__sdr"))
      .select(col("policy"), col("n_logged"), col("n_matched"),
        round(col("__sdm") / col("n_logged").cast("double"), 6)
          .as("value_dm"),
        round(col("__sdr") / col("n_logged").cast("double"), 6)
          .as("value_dr"))
      .orderBy(col("policy"))
  }

  /** DOUBLY-ROBUST (AIPW) ATE — the estimator that survives ONE of
    * its two models being wrong (Robins et al. 1994): augment the
    * [[ipwAte]] weighting with per-arm outcome regressions m₁/m₀,
    *   ATE = mean[ m₁(x) − m₀(x) + t·(y − m₁(x))/e
    *                − (1−t)·(y − m₀(x))/(1−e) ]
    * — if the propensity is right the correction term fixes a bad
    * outcome model, and vice versa. Outcome models are closed-form
    * per-arm OLS on `covariate` (the q205 exact-moment machinery —
    * one grouped aggregate, coefficients ride back broadcast, no
    * solver); the propensity is the integer-ppm score with the same
    * positivity trim as ipwAte. One data pass for the moments + one
    * for the augmented terms (both from the same pinned projection);
    * per-row terms decimal-quantized.
    */
  def aipwAte(df: DataFrame, treated: Column, outcome: Column,
      covariate: Column, scorePpm: Column, trimLoPpm: Long = 20000L,
      trimHiPpm: Long = 980000L): DataFrame = {
    require(trimLoPpm > 0 && trimLoPpm < trimHiPpm &&
      trimHiPpm < 1000000L, s"aipwAte: trim $trimLoPpm/$trimHiPpm")
    val dq = (c: Column) => c.cast("decimal(38,12)")
    val rows = graft.Caches.pin(df.select(
      treated.cast("long").as("__t"), outcome.cast("double").as("__y"),
      covariate.cast("double").as("__x"),
      scorePpm.cast("long").as("__e")))
    val kept = rows.where(col("__e") >= trimLoPpm &&
      col("__e") <= trimHiPpm)
    // per-arm OLS moments (exact decimal sums), slope/intercept by
    // the q205 closed form; pivoted into one broadcast row
    val mom = kept.groupBy(col("__t")).agg(
      count(lit(1)).as("__n"),
      sum(col("__x").cast("decimal(25,6)")).cast("double").as("__sx"),
      sum(col("__y").cast("decimal(25,6)")).cast("double").as("__sy"),
      sum((col("__x") * col("__y")).cast("decimal(38,10)"))
        .cast("double").as("__sxy"),
      sum((col("__x") * col("__x")).cast("decimal(38,10)"))
        .cast("double").as("__sxx"))
    val nD = col("__n").cast("double")
    val b = (nD * col("__sxy") - col("__sx") * col("__sy")) /
      (nD * col("__sxx") - col("__sx") * col("__sx"))
    val coef = mom.select(col("__t"), b.as("__b"),
      ((col("__sy") - b * col("__sx")) / nD).as("__a"))
    val wide = coef.groupBy()
      .agg(max(when(col("__t") === 1, col("__a"))).as("__a1"),
        max(when(col("__t") === 1, col("__b"))).as("__b1"),
        max(when(col("__t") === 0, col("__a"))).as("__a0"),
        max(when(col("__t") === 0, col("__b"))).as("__b0"))
    val e = col("__e").cast("double") / lit(1000000.0)
    val tD = col("__t").cast("double")
    val m1 = col("__a1") + col("__b1") * col("__x")
    val m0 = col("__a0") + col("__b0") * col("__x")
    val term = (m1 - m0) + tD * (col("__y") - m1) / e -
      (lit(1.0) - tD) * (col("__y") - m0) / (lit(1.0) - e)
    val agg = kept.crossJoin(broadcast(wide)).agg(
      count(lit(1)).as("n_used"),
      sum(dq(m1 - m0)).cast("double").as("__sm"),
      sum(dq(term)).cast("double").as("__st"))
    val total = rows.agg(count(lit(1)).as("__ntot"))
    agg.crossJoin(broadcast(total))
      .select(col("n_used"),
        (col("__ntot") - col("n_used")).as("n_trimmed"),
        round(col("__sm") / col("n_used").cast("double"), 6)
          .as("ate_outcome_model"),
        round(col("__st") / col("n_used").cast("double"), 6)
          .as("ate_dr"))
  }

  /** WILSON score interval per segment (Wilson 1927) — the
    * proportion CI that behaves at small n and extreme rates where
    * the Wald interval collapses or escapes [0, 1]:
    *   (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
    * Exact integer counts; one fixed-order double close per segment;
    * z defaults to the two-sided 95% quantile.
    */
  def wilsonCi(df: DataFrame, segment: Column, success: Column,
      z: Double = 1.959964): DataFrame = {
    require(z > 0, s"wilsonCi: z=$z")
    val cells = df.groupBy(segment.as("segment")).agg(
      count(lit(1)).as("n"), sum(success.cast("long")).as("x"))
    val nD = col("n").cast("double")
    val p = col("x").cast("double") / nD
    val z2 = lit(z * z)
    val centre = p + z2 / (lit(2.0) * nD)
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD))
    val denom = lit(1.0) + z2 / nD
    cells.select(col("segment"), col("n"), col("x"),
        round(p, 6).as("rate"),
        round((centre - half) / denom, 6).as("ci_lo"),
        round((centre + half) / denom, 6).as("ci_hi"))
      .orderBy(col("segment"))
  }

  /** SAMPLE-RATIO-MISMATCH check per experiment: the assignment
    * plumbing audit that must pass before any treatment readout is
    * believed (a biased randomizer invalidates every downstream
    * metric). Observed two-arm unit counts vs an expected
    * `ratioA : 1−ratioA` split; Pearson χ² with df = 1, p through
    * the portable [[phiAbs]] (χ²₁ = Z², so p = 2·(1 − Φ(√χ²))).
    * `srm_flag` trips at the conventional p < 0.001 — SRM alarms are
    * deliberately conservative. One grouped count; exact integers
    * into a fixed-order double χ².
    */
  def srmCheck(df: DataFrame, experiment: Column, inA: Column,
      ratioA: Double = 0.5): DataFrame = {
    require(ratioA > 0 && ratioA < 1, s"srmCheck: ratioA=$ratioA")
    val cells = df.groupBy(experiment.as("experiment")).agg(
      sum(inA.cast("long")).as("n_a"),
      sum(lit(1L) - inA.cast("long")).as("n_b"))
    val n = (col("n_a") + col("n_b")).cast("double")
    val ea = n * lit(ratioA); val eb = n * lit(1.0 - ratioA)
    val chi2 = (col("n_a").cast("double") - ea) *
      (col("n_a").cast("double") - ea) / ea +
      (col("n_b").cast("double") - eb) *
        (col("n_b").cast("double") - eb) / eb
    val p = lit(2.0) * (lit(1.0) - phiAbs(sqrt(chi2)))
    cells.select(col("experiment"), col("n_a"), col("n_b"),
        round(chi2, 6).as("chi2"), round(p, 6).as("p_value"),
        (p < lit(0.001)).cast("int").as("srm_flag"))
      .orderBy(col("experiment"))
  }
}
