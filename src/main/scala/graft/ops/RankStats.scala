package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank-based statistics WITHOUT per-row global rank windows: every
  * operator here reduces the data to a DISTINCT-VALUE CENSUS first
  * (one grouped aggregate), then takes ordered prefix sums over that
  * bounded census. At 100 TB a per-row global rank is a single-
  * partition sort of the whole corpus; a census prefix is a window
  * over (distinct score values) rows — bounded by the caller's score
  * resolution (quantized-grid keys), not by data volume. Ties get the
  * textbook average-rank treatment, carried as EXACT integers
  * (2·rank, so the .5 grain stays integral) so every statistic's
  * inputs are order-independent integer sums and the closed forms
  * replay bit-for-bit on any engine.
  *
  * Census guard: each operator refuses when the census exceeds
  * `maxDistinct` (the radiusJoin/hammingPairs contract) instead of
  * silently building an unbounded single-partition window.
  */
object RankStats {

  private def censusGuard(census: DataFrame, maxDistinct: Long,
      what: String): Unit = {
    val n = census.count()
    require(n <= maxDistinct,
      s"$what: $n distinct values exceeds maxDistinct=$maxDistinct " +
        "— quantize the input to a coarser grid")
  }

  /** ROC AUC + Mann-Whitney U (Mann & Whitney 1947; AUC = U/(P·Q) is
    * the probability a random positive outscores a random negative,
    * ties counted half). Census per distinct score: positive and
    * negative counts; 2U = Σ_s p_s·(2·negBelow_s + q_s) is an exact
    * integer, the normal approximation carries the standard tie
    * correction Σ(t³−t). Emits one row: n_pos, n_neg, u_stat, auc,
    * z, p_value (two-sided, portable A&S CDF).
    *
    * `score` must be on a bounded grid (quantized long); `label`
    * 0/1.
    */
  def auc(df: DataFrame, score: Column, label: Column,
      maxDistinct: Long = 2000000L): DataFrame = {
    val rows = df.select(score.cast("long").as("__s"),
      label.cast("long").as("__l"))
    // NOT pinned (r15 probe): the guard count does re-scan the input,
    // but an A/B showed the pin's materialization overhead exceeds
    // the saved pass on census-shaped aggregates this cheap
    val census = rows.groupBy(col("__s")).agg(
      sum(col("__l")).as("__p"),
      (count(lit(1)) - sum(col("__l"))).as("__q"))
    censusGuard(census, maxDistinct, "RankStats.auc")
    val w = Window.partitionBy(ScanOps.pinnedZero(col("__q")))
      .orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pref = census.withColumn("__qb",
      coalesce(sum(col("__q")).over(w), lit(0L)))
    val sums = pref.agg(
      sum(col("__p")).cast("long").as("__pp"),
      sum(col("__q")).cast("long").as("__qq"),
      sum((col("__p") * (lit(2) * col("__qb") + col("__q")))
        .cast("decimal(38,0)")).cast("double").as("__u2"),
      sum(((col("__p") + col("__q")) * (col("__p") + col("__q"))
          * (col("__p") + col("__q")) - (col("__p") + col("__q")))
        .cast("decimal(38,0)")).cast("double").as("__ties"))
    val p = col("__pp").cast("double"); val q = col("__qq").cast("double")
    val n = p + q
    val sigma2 = (p * q / lit(12.0)) *
      ((n + lit(1.0)) - col("__ties") / (n * (n - lit(1.0))))
    // all scores tied -> zero variance -> no evidence either way
    val z = when(sigma2 > lit(0.0),
      (col("__u2") / lit(2.0) - p * q / lit(2.0)) / sqrt(sigma2))
      .otherwise(lit(0.0))
    sums.select(
      col("__pp").as("n_pos"), col("__qq").as("n_neg"),
      round(col("__u2") / lit(2.0), 1).as("u_stat"),
      round(col("__u2") / (lit(2.0) * p * q), 6).as("auc"),
      round(z, 6).as("z"),
      round(lit(2.0) * (lit(1.0) - Experiment.phiAbs(abs(z))), 6)
        .as("p_value"))
  }

  /** Average-rank dictionary for one grid variable: distinct value →
    * (count, 2·avgRank). 2·avgRank = 2·countBelow + count + 1 keeps
    * the tie midpoint integral.
    */
  private def rankDict(rows: DataFrame, v: String): DataFrame = {
    val census = rows.groupBy(col(v)).agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(ScanOps.pinnedZero(col("__n")))
      .orderBy(col(v))
      .rowsBetween(Window.unboundedPreceding, -1)
    census.withColumn("__r2",
      lit(2) * coalesce(sum(col("__n")).over(w), lit(0L))
        + col("__n") + lit(1))
  }

  /** SPEARMAN rank correlation: Pearson over average ranks, the ranks
    * taken from per-variable distinct-value dictionaries joined back
    * broadcast (map-side — the dictionaries are census-bounded, the
    * data passes once). Doubled ranks keep every moment sum an exact
    * integer; the scale factor cancels in the correlation. Emits one
    * row (n, rho).
    */
  def spearman(df: DataFrame, x: Column, y: Column,
      maxDistinct: Long = 2000000L): DataFrame = {
    val rows = df.select(x.cast("long").as("__x"),
      y.cast("long").as("__y"))
    // pinned (r15): each dict is materialized twice — censusGuard's
    // count and the broadcast join — and each build is a full input
    // scan; dicts are maxDistinct-bounded, so the pin is tiny
    val dx = graft.Caches.pin(rankDict(rows.select(col("__x")), "__x")
      .select(col("__x"), col("__r2").as("__rx")))
    val dy = graft.Caches.pin(rankDict(rows.select(col("__y")), "__y")
      .select(col("__y"), col("__r2").as("__ry")))
    censusGuard(dx, maxDistinct, "RankStats.spearman(x)")
    censusGuard(dy, maxDistinct, "RankStats.spearman(y)")
    val ranked = rows.join(broadcast(dx), Seq("__x"))
      .join(broadcast(dy), Seq("__y"))
    def isum(c: Column) = sum(c.cast("decimal(38,0)")).cast("double")
    val sums = ranked.agg(
      count(lit(1)).cast("long").as("__n"),
      isum(col("__rx")).as("__sx"), isum(col("__ry")).as("__sy"),
      isum(col("__rx") * col("__rx")).as("__sxx"),
      isum(col("__ry") * col("__ry")).as("__syy"),
      isum(col("__rx") * col("__ry")).as("__sxy"))
    val nD = col("__n").cast("double")
    val num = nD * col("__sxy") - col("__sx") * col("__sy")
    val den = sqrt((nD * col("__sxx") - col("__sx") * col("__sx")) *
      (nD * col("__syy") - col("__sy") * col("__sy")))
    sums.select(col("__n").as("n"), round(num / den, 6).as("rho"))
  }

  /** KRUSKAL-WALLIS one-way rank test (1952) across groups: per-group
    * rank sums from the shared distinct-value dictionary (exact
    * doubled-rank integers), H with the standard tie correction
    * 1 − Σ(t³−t)/(N³−N). Emits one row per group (grp, n, rank_sum,
    * mean_rank) with the test verdict (h, h_adj, df) repeated —
    * per-group evidence and the statistic in one readout.
    */
  def kruskalWallis(df: DataFrame, group: Column, value: Column,
      maxDistinct: Long = 2000000L): DataFrame = {
    val rows = df.select(group.cast("string").as("grp"),
      value.cast("long").as("__v"))
    // NOT pinned (r15 probe): three materializations of the dict, but
    // the A/B read a wash — the rebuilds are one cheap grouped count
    // each and the pin's extra job costs as much as it saves here
    val dict = rankDict(rows.select(col("__v")), "__v")
    censusGuard(dict, maxDistinct, "RankStats.kruskalWallis")
    val cells = rows.groupBy(col("grp"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val perGroup = cells.join(broadcast(dict), Seq("__v"))
      .groupBy(col("grp")).agg(
        sum(col("__c")).cast("long").as("n"),
        sum((col("__c") * col("__r2")).cast("decimal(38,0)"))
          .cast("double").as("__r2sum"))
    val ties = dict.agg(
      sum((col("__n") * col("__n") * col("__n") - col("__n"))
        .cast("decimal(38,0)")).cast("double").as("__ties"),
      sum(col("__n")).cast("long").as("__nn"),
      count(lit(1)).cast("long").as("__k_unused"))
    val joined = perGroup.crossJoin(broadcast(ties))
    val nD = col("__nn").cast("double")
    // Σ R_g²/n_g with R_g = r2sum/2 → r2sum²/(4·n_g)
    val hTerm = col("__r2sum") * col("__r2sum") /
      (lit(4.0) * col("n").cast("double"))
    val withH = joined.agg(
      sum(hTerm.cast("decimal(38,6)")).cast("double").as("__hsum"),
      first(col("__nn")).as("__nn"), first(col("__ties")).as("__ties"),
      count(lit(1)).cast("long").as("__k"))
    val h = lit(12.0) / (nD * (nD + lit(1.0))) * col("__hsum") -
      lit(3.0) * (nD + lit(1.0))
    val corr = lit(1.0) - col("__ties") / (nD * nD * nD - nD)
    val verdict = withH.select(
      round(h, 6).as("h"), round(h / corr, 6).as("h_adj"),
      (col("__k") - lit(1L)).as("df"))
    perGroup.crossJoin(broadcast(verdict))
      .select(col("grp"), col("n"),
        round(col("__r2sum") / lit(2.0), 1).as("rank_sum"),
        round(col("__r2sum") / (lit(2.0) * col("n").cast("double")), 6)
          .as("mean_rank"),
        col("h"), col("h_adj"), col("df"))
      .orderBy(col("grp"))
  }

  /** WELCH two-sample t-test (unequal variances; Welch 1947): group
    * means and variances from exact decimal sums, t and the
    * Welch–Satterthwaite df in one fixed double order, p by the
    * normal approximation (df here is thousands — the t quantile is
    * the normal quantile to far beyond the 6dp grain). Emits one row:
    * n_a, n_b, mean_a, mean_b, t_stat, df_welch, p_value.
    */
  def welchT(df: DataFrame, inA: Column, inB: Column, value: Column)
      : DataFrame = {
    def side(f: Column, tag: String) = Seq(
      sum(when(f, value).cast("decimal(25,6)")).cast("double")
        .as(s"__s$tag"),
      sum(when(f, value * value).cast("decimal(38,10)")).cast("double")
        .as(s"__ss$tag"),
      // n counts only rows the sums actually see (predicate true AND
      // value non-null) — counting null-value rows would divide the
      // sums by the wrong n and silently bias the statistic.
      sum(when(f && value.isNotNull, 1L).otherwise(0L))
        .as(s"__n$tag"))
    val aggs = side(inA, "a") ++ side(inB, "b")
    val sums = df.agg(aggs.head, aggs.tail: _*)
    def stats(tag: String) = {
      val n = col(s"__n$tag").cast("double")
      val m = col(s"__s$tag") / n
      val v = (col(s"__ss$tag") - col(s"__s$tag") * col(s"__s$tag") / n) /
        (n - lit(1.0))
      (n, m, v)
    }
    val (na, ma, va) = stats("a"); val (nb, mb, vb) = stats("b")
    val sa = va / na; val sb = vb / nb
    val t = (ma - mb) / sqrt(sa + sb)
    val dfw = (sa + sb) * (sa + sb) /
      (sa * sa / (na - lit(1.0)) + sb * sb / (nb - lit(1.0)))
    sums.select(col("__na").as("n_a"), col("__nb").as("n_b"),
      round(ma, 6).as("mean_a"), round(mb, 6).as("mean_b"),
      round(t, 6).as("t_stat"), round(dfw, 2).as("df_welch"),
      round(lit(2.0) * (lit(1.0) - Experiment.phiAbs(abs(t))), 6)
        .as("p_value"))
  }

  /** JONCKHEERE-TERPSTRA TEST (Jonckheere 1954; Terpstra 1952) —
    * the ordered-alternative test for INDEPENDENT groups, completing
    * the directional pair with [[pageTrend]] (which needs complete
    * blocks): is the response stochastically increasing across the
    * hypothesized group order?
    *
    *   J = Σ_{g<h} U_gh,  U_gh = #(a<b) + ½#(a=b) over (a∈g, b∈h)
    *   E[J] = (N² − Σn_g²)/4,
    *   Var[J] = [N²(2N+3) − Σn_g²(2n_g+3)]/72
    *
    * (classical no-tie variance — slightly conservative under heavy
    * tying, documented not corrected, the [[pageTrend]] convention).
    * `group` must cast to long (the hypothesized order); `value`
    * integer-quantized (gini contract). ALL counts come from the
    * (group, value) contingency census: one data-sized hash
    * aggregation, then the census×census pair join (group strictly
    * ordered) with exact decimal c_a·c_b products — `maxCells`
    * guards the quadratic join exactly like [[kendallTau]]. 2J is
    * an exact decimal integer (ties carry the ½ as +1 on the
    * doubled lattice); the close is one fixed-shape double, with a
    * one-sided p for an increasing trend. Emits one row:
    * (n, k_groups, j_x2, z, p_value).
    */
  def jonckheereTerpstra(df: DataFrame, group: Column, value: Column,
      maxCells: Long = 4000L): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val cells = graft.Caches.pin(df
      .select(group.cast("long").as("__g"),
        value.cast("long").as("__v"))
      .where(col("__g").isNotNull && col("__v").isNotNull)
      .groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c")))
    val nCells = cells.count()
    require(nCells > 0 && nCells <= maxCells,
      s"jonckheereTerpstra: $nCells distinct (group,value) cells " +
        s"(> $maxCells) — quantize coarser")
    val a = cells.select(col("__g").as("ga"), col("__v").as("va"),
      col("__c").as("ca"))
    val b = cells.select(col("__g").as("gb"), col("__v").as("vb"),
      col("__c").as("cb"))
    val j2 = a.join(b, col("ga") < col("gb"))
      .select((dec(col("ca")) * dec(col("cb")) *
        when(col("va") < col("vb"), 2L)
          .when(col("va") === col("vb"), 1L)
          .otherwise(0L)).as("__t"))
      .agg(coalesce(sum(col("__t")), lit(0).cast("decimal(38,0)"))
        .as("__j2"))
    // The group census is COLLECTED ONCE (it is one row of exact
    // longs/decimals): the k-check and the close both read the same
    // head() row, re-entered as literals — re-running the aggregate
    // for the crossJoin would execute it twice (cheap on the pinned
    // cells, but the sibling ops read the checked row once).
    val gsRow = cells.groupBy(col("__g"))
      .agg(sum(col("__c")).as("__n"))
      .agg(count(lit(1)).cast("long").as("__k"),
        sum(col("__n")).cast("long").as("__nn"),
        sum(dec(col("__n")) * dec(col("__n"))).as("__sn2"),
        sum(dec(col("__n")) * dec(col("__n")) *
          dec(lit(2L) * col("__n") + lit(3L))).as("__sn3"))
      .head()
    require(gsRow.getAs[Long]("__k") >= 2L,
      "jonckheereTerpstra: need at least 2 groups")
    val gs = j2.sparkSession.range(1).select(
      lit(gsRow.getAs[Long]("__k")).as("__k"),
      lit(gsRow.getAs[Long]("__nn")).as("__nn"),
      lit(gsRow.getDecimal(2)).cast("decimal(38,0)").as("__sn2"),
      lit(gsRow.getDecimal(3)).cast("decimal(38,0)").as("__sn3"))
    val nD = col("__nn").cast("double")
    val e2 = (nD * nD - col("__sn2").cast("double")) / lit(2.0)
    val v = (nD * nD * (lit(2.0) * nD + lit(3.0)) -
      col("__sn3").cast("double")) / lit(72.0)
    val z = (col("__j2").cast("double") - e2) /
      (lit(2.0) * sqrt(v))
    j2.crossJoin(broadcast(gs))
      .select(col("__nn").as("n"), col("__k").as("k_groups"),
        col("__j2").cast("long").as("j_x2"),
        round(z, 6).as("z"),
        round(when(z >= 0.0, lit(1.0) - Experiment.phiAbs(abs(z)))
          .otherwise(Experiment.phiAbs(abs(z))), 6).as("p_value"))
  }

  /** COHEN'S d / HEDGES' g — the standardized effect size the
    * significance tests ([[welchT]], [[yuenT]]) deliberately don't
    * report: at corpus scale EVERYTHING is significant, and the
    * pooled-SD mean gap is the number that says whether the
    * difference matters (the 0.2/0.5/0.8 reading). Hedges' g is d
    * with the small-sample bias factor 1 − 3/(4(n_a+n_b)−9)
    * (Hedges 1981's J approximation).
    *
    *   d = (m_a − m_b) / s_p,
    *   s_p² = ((n_a−1)s_a² + (n_b−1)s_b²) / (n_a+n_b−2)
    *
    * Same exact-decimal sufficient statistics as [[welchT]] (one
    * grouped pass, no shuffle beyond the 1-row aggregate); the
    * close is one fixed-shape double expression, 6dp. Emits one
    * row: (n_a, n_b, mean_a, mean_b, sd_pooled, cohens_d,
    * hedges_g) — null d/g when the pooled variance is 0.
    */
  def effectSize(df: DataFrame, inA: Column, inB: Column,
      value: Column): DataFrame = {
    def side(f: Column, tag: String) = Seq(
      sum(when(f, value).cast("decimal(25,6)")).cast("double")
        .as(s"__s$tag"),
      sum(when(f, value * value).cast("decimal(38,10)")).cast("double")
        .as(s"__ss$tag"),
      // n counts only rows the sums actually see (predicate true AND
      // value non-null) — counting null-value rows would divide the
      // sums by the wrong n and silently bias the statistic.
      sum(when(f && value.isNotNull, 1L).otherwise(0L))
        .as(s"__n$tag"))
    val aggs = side(inA, "a") ++ side(inB, "b")
    val sums = df.agg(aggs.head, aggs.tail: _*)
    def stats(tag: String) = {
      val n = col(s"__n$tag").cast("double")
      val m = col(s"__s$tag") / n
      val ssq = col(s"__ss$tag") -
        col(s"__s$tag") * col(s"__s$tag") / n
      (n, m, ssq)
    }
    val (na, ma, qa) = stats("a"); val (nb, mb, qb) = stats("b")
    val sp = sqrt((qa + qb) / (na + nb - lit(2.0)))
    val d = (ma - mb) / sp
    val g = d * (lit(1.0) - lit(3.0) /
      (lit(4.0) * (na + nb) - lit(9.0)))
    val ok = (qa + qb) > lit(0.0)
    sums.select(col("__na").as("n_a"), col("__nb").as("n_b"),
      round(ma, 6).as("mean_a"), round(mb, 6).as("mean_b"),
      when(ok, round(sp, 6)).as("sd_pooled"),
      when(ok, round(d, 6)).as("cohens_d"),
      when(ok, round(g, 6)).as("hedges_g"))
  }

  /** MANN-KENDALL trend test (Mann 1945, Kendall 1975) per series —
    * the distribution-free "is this moving?" significance companion
    * to Theil-Sen's slope estimate (q260):
    *   S = Σ_{t_i < t_j} sign(v_j − v_i),
    *   Var S = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)] / 18
    * (t_g = size of each tied-value group), continuity-corrected
    * z = (S ∓ 1)/√Var S, two-sided p via the portable
    * [[Experiment.phiAbs]]. S and the variance numerator are EXACT
    * integers (integer sign sums, integer tie polynomial), so the
    * one fixed-order double close replays on any engine.
    *
    * Caller contract: one row per (series, t) — pre-aggregate to a
    * time grain first (duplicate timestamps would silently drop
    * their pairs). The pairwise stage is per-series quadratic BY
    * DEFINITION (every i<j pair votes), so the theilSen guard
    * applies: refuse when any series exceeds `maxPoints` rather than
    * build an unbounded self-join — at a monthly/daily grain a
    * century of data stays thousands of points.
    */
  /** TWO-SAMPLE CRAMÉR-VON MISES (Anderson 1962) — the integrated-
    * squared-CDF-gap companion to KS (q37, supremum gap) and
    * Wasserstein-1 (q335, transport cost): T = nm/N² · Σ_x c_x ·
    * (F_n(x) − G_m(x))², summed over the POOLED distinct-value
    * census. Sensitive where KS is not — many small CDF gaps across
    * the range. Exact integer core: with A_x/B_x the cumulative
    * side counts at x, (F−G)(x) = (A_x·m − B_x·n)/(nm) and
    * T = Σ c_x·(A_x·m − B_x·n)² / (N²·n·m) — one decimal(38,0)
    * numerator sum over the census, one double divide at the close.
    * `value` must be integer-valued (callers quantize — the gini
    * contract); census bounded by `maxDistinct`; `inB` selects side
    * B. Emits one row: (n_a, n_b, t_stat 6dp) — the numerator is
    * decimal-exact and order-free, the close is one fixed-order
    * double expression.
    */
  def cramerVonMises(df: DataFrame, inB: Column, value: Column,
      maxDistinct: Long = 1000000L): DataFrame = {
    val rows = df.select(inB.cast("boolean").as("__b"),
      value.cast("long").as("__v"))
    // pinned (r15): guard count + totals + cumulative close each
    // re-scanned the input through the unpinned census
    val census = graft.Caches.pin(rows.groupBy(col("__v")).agg(
      sum(when(!col("__b"), 1L).otherwise(0L)).as("__ca"),
      sum(when(col("__b"), 1L).otherwise(0L)).as("__cb")))
    censusGuard(census, maxDistinct, "cramerVonMises")
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(ScanOps.pinnedZero(col("__v")))
      .orderBy(col("__v")).rowsBetween(Long.MinValue, 0)
    val tot = census.agg(sum(col("__ca")).as("__n"),
      sum(col("__cb")).as("__m"))
    val cum = census
      .withColumn("__A", sum(col("__ca")).over(w))
      .withColumn("__B", sum(col("__cb")).over(w))
      .crossJoin(broadcast(tot))
    // gap AND its square in DECIMAL: the operands A·m / B·n already
    // blow int64 at n·m ≳ 9.2e18 (n,m ≈ 3e9 rows), so cast BEFORE
    // the multiply — a long product would ANSI-overflow before the
    // decimal lattice ever saw it; gap² ≤ (n·m)² ≤ ~8e37 < 10^38
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val gap = dec(dec(col("__A")) * dec(col("__m")) -
      dec(col("__B")) * dec(col("__n")))
    cum.agg(
        max(col("__n")).as("n_a"), max(col("__m")).as("n_b"),
        sum(((col("__ca") + col("__cb")).cast("decimal(38,0)") *
          gap * gap).cast("decimal(38,0)"))
          .as("__num"))
      .select(col("n_a"), col("n_b"),
        round(col("__num").cast("double") /
          ((col("n_a") + col("n_b")).cast("double") *
            (col("n_a") + col("n_b")).cast("double") *
            col("n_a").cast("double") * col("n_b").cast("double")),
          6).as("t_stat"))
  }

  def mannKendall(df: DataFrame, series: Column, t: Column, v: Column,
      maxPoints: Int = 10000): DataFrame = {
    val pts = graft.Caches.pin(df.select(series.as("series"),
      t.cast("long").as("__t"), v.cast("long").as("__v")))
    Guard(pts.groupBy(col("series")).count(), col("count"), maxPoints,
      "mannKendall", w => s"a series holds $w points",
      "aggregate to a coarser time grain first")
    val a = pts.select(col("series"), col("__t").as("__ta"),
      col("__v").as("__va"))
    val b = pts.select(col("series"), col("__t").as("__tb"),
      col("__v").as("__vb"))
    val sStat = a.join(b, Seq("series"))
      .where(col("__ta") < col("__tb"))
      .select(col("series"),
        when(col("__vb") > col("__va"), 1L)
          .when(col("__vb") < col("__va"), -1L)
          .otherwise(0L).as("__sg"))
      .groupBy(col("series")).agg(sum(col("__sg")).as("s_stat"))
    val nn = pts.groupBy(col("series")).agg(count(lit(1)).as("n"))
    val ties = pts.groupBy(col("series"), col("__v"))
      .agg(count(lit(1)).as("__tg"))
      .groupBy(col("series"))
      .agg(sum(col("__tg") * (col("__tg") - 1) *
        (lit(2L) * col("__tg") + 5)).as("__tie"))
    val j = nn.join(sStat, Seq("series"), "left")
      .join(ties, Seq("series"))
      .na.fill(0L, Seq("s_stat"))
    val varS = (col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5) -
      col("__tie")).cast("double") / lit(18.0)
    val z = when(col("s_stat") > 0 && varS > 0,
        (col("s_stat") - lit(1L)).cast("double") / sqrt(varS))
      .when(col("s_stat") < 0 && varS > 0,
        (col("s_stat") + lit(1L)).cast("double") / sqrt(varS))
      .otherwise(lit(0.0))
    j.select(col("series"), col("n"), col("s_stat"),
        round(varS, 6).as("var_s"), round(z, 6).as("z"),
        round(lit(2.0) * (lit(1.0) - Experiment.phiAbs(abs(z))), 6)
          .as("p_value"))
      .orderBy(col("series"))
  }

  /** SEASONAL MANN-KENDALL (Hirsch & Slack 1984): [[mannKendall]]
    * computed WITHIN each season (pairs only compare like-to-like —
    * January to January, never January to July) and the per-season
    * S and Var S summed before the one continuity-corrected z — the
    * trend test that a strong seasonal cycle cannot fool (plain MK
    * reads the cycle itself as pairwise signs). Same integer sign
    * sums / tie polynomial, same per-(series, season) pairwise
    * guard; the cross-season close is an O(series) aggregate.
    */
  def mannKendallSeasonal(df: DataFrame, series: Column, season: Column,
      t: Column, v: Column, maxPerSeason: Int = 10000): DataFrame = {
    val pts = graft.Caches.pin(df.select(series.as("series"),
      season.cast("long").as("__sea"), t.cast("long").as("__t"),
      v.cast("long").as("__v")))
    Guard(pts.groupBy(col("series"), col("__sea")).count(), col("count"),
      maxPerSeason, "mannKendallSeasonal",
      w => s"a (series, season) holds $w points", "coarsen the time grain")
    val a = pts.select(col("series"), col("__sea"),
      col("__t").as("__ta"), col("__v").as("__va"))
    val b = pts.select(col("series"), col("__sea"),
      col("__t").as("__tb"), col("__v").as("__vb"))
    val sSea = a.join(b, Seq("series", "__sea"))
      .where(col("__ta") < col("__tb"))
      .select(col("series"), col("__sea"),
        when(col("__vb") > col("__va"), 1L)
          .when(col("__vb") < col("__va"), -1L)
          .otherwise(0L).as("__sg"))
      .groupBy(col("series"), col("__sea"))
      .agg(sum(col("__sg")).as("__s"))
    val nSea = pts.groupBy(col("series"), col("__sea"))
      .agg(count(lit(1)).as("__n"))
    val tieSea = pts.groupBy(col("series"), col("__sea"), col("__v"))
      .agg(count(lit(1)).as("__tg"))
      .groupBy(col("series"), col("__sea"))
      .agg(sum(col("__tg") * (col("__tg") - 1) *
        (lit(2L) * col("__tg") + 5)).as("__tie"))
    val perSeason = nSea
      .join(sSea, Seq("series", "__sea"), "left")
      .join(tieSea, Seq("series", "__sea"))
      .na.fill(0L, Seq("__s"))
      .select(col("series"), col("__n"), col("__s"),
        (col("__n") * (col("__n") - 1) * (lit(2L) * col("__n") + 5) -
          col("__tie")).as("__vnum"))
    val agg = perSeason.groupBy(col("series")).agg(
      count(lit(1)).as("n_seasons"), sum(col("__n")).as("n"),
      sum(col("__s")).as("s_stat"), sum(col("__vnum")).as("__vn"))
    val varS = col("__vn").cast("double") / lit(18.0)
    val z = when(col("s_stat") > 0 && varS > 0,
        (col("s_stat") - lit(1L)).cast("double") / sqrt(varS))
      .when(col("s_stat") < 0 && varS > 0,
        (col("s_stat") + lit(1L)).cast("double") / sqrt(varS))
      .otherwise(lit(0.0))
    agg.select(col("series"), col("n"), col("n_seasons"),
        col("s_stat"), round(varS, 6).as("var_s"), round(z, 6).as("z"),
        round(lit(2.0) * (lit(1.0) - Experiment.phiAbs(abs(z))), 6)
          .as("p_value"))
      .orderBy(col("series"))
  }

  /** DURBIN-WATSON serial-correlation statistic per series (Durbin &
    * Watson 1950) — "are consecutive values independent":
    * d = Σ_{t≥2}(x_t − x_{t−1})² / Σ(x_t − x̄)² ∈ [0, 4], d ≈ 2 under
    * independence, → 0 under positive and → 4 under negative lag-1
    * correlation. The residual-independence audit that validates an
    * OLS/backtest read (q320/q314) — a trend-free series can still
    * flunk it.
    *
    * Exact-integer core (`value` must be integer-valued — the gini
    * contract): the numerator is a sum of squared integer diffs
    * (mean-free, since differencing cancels the mean exactly), the
    * denominator closes as n·Σx² − (Σx)², both built in
    * DECIMAL(38,0), so d = n·num/den is one double divide of exact
    * integers — bounded, engine-replayable at 6dp. One per-series
    * ordered window (bounded by time grain, the q245 rule) + one
    * grouped pass.
    *
    * Emits (series, n, dw 6dp) — dw NULL for constant series
    * (zero variance).
    */
  /** BROWN–FORSYTHE test (Levene 1960 centered at the median — the
    * Brown & Forsythe 1974 robust form): homogeneity of variances
    * across k groups, the precondition audit before pooled-variance
    * ANOVA trusts its F. Deviations are taken from each group's
    * LOWER median (the value at sorted position ⌊(n+1)/2⌋ — a real
    * data point, no even-n averaging), so with an integer-quantized
    * `value` (the gini/splitConformal caller contract) every
    * |x − med| is an exact lattice integer:
    *
    *   - per-group median from the distinct-value census + ordered
    *     prefix (value-bounded, censusGuard — never a row-sized
    *     window);
    *   - deviation sums Σc·z, Σc·z² exact decimal(38,0);
    *   - the F ratio in one fixed double order, per-group terms
    *     decimal(38,6)-quantized before the order-free sum (the
    *     [[kruskalWallis]] discipline).
    *
    * Emits one row per group (grp, n, median, mean_dev) with the
    * shared (f_stat, df1, df2) repeated.
    */
  def brownForsythe(df: DataFrame, group: Column, value: Column,
      maxDistinct: Long = 2000000L): DataFrame = {
    val rows = df.select(group.cast("string").as("grp"),
      value.cast("long").as("__v"))
      .where(col("grp").isNotNull && col("__v").isNotNull)
    val census = graft.Caches.pin(rows
      .groupBy(col("grp"), col("__v"))
      .agg(count(lit(1)).as("__c")))
    censusGuard(census, maxDistinct, "RankStats.brownForsythe")
    val w = Window.partitionBy(col("grp")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ng = census.groupBy(col("grp")).agg(sum(col("__c")).as("__ng"))
    val med = census.withColumn("__cum", sum(col("__c")).over(w))
      .join(ng, Seq("grp"))
      .where(col("__cum") >= expr("(__ng + 1L) div 2"))
      .groupBy(col("grp")).agg(min(col("__v")).as("__med"))
    val dev = census.join(med, Seq("grp"))
      .select(col("grp"), col("__c"), col("__med"),
        abs(col("__v") - col("__med")).as("__z"))
    val pg = dev.groupBy(col("grp")).agg(
      sum(col("__c")).cast("long").as("n"),
      min(col("__med")).as("median"),
      sum(col("__c").cast("decimal(38,0)") * col("__z")).as("__s1"),
      sum(col("__c").cast("decimal(38,0)") * col("__z") * col("__z"))
        .as("__s2"))
    val tot = pg.agg(
      sum(col("n")).cast("long").as("__nn"),
      count(lit(1)).cast("long").as("__k"),
      sum(col("__s1")).as("__ss1"))
    val zbarG = col("__s1").cast("double") / col("n").cast("double")
    val zbar = col("__ss1").cast("double") / col("__nn").cast("double")
    val btTerm = col("n").cast("double") *
      (zbarG - zbar) * (zbarG - zbar)
    val wiTerm = col("__s2").cast("double") -
      col("__s1").cast("double") * col("__s1").cast("double") /
        col("n").cast("double")
    val agg2 = pg.crossJoin(broadcast(tot)).agg(
      sum(btTerm.cast("decimal(38,6)")).cast("double").as("__bt"),
      sum(wiTerm.cast("decimal(38,6)")).cast("double").as("__wi"),
      first(col("__nn")).as("__nn"), first(col("__k")).as("__k"))
    val f = (col("__nn") - col("__k")).cast("double") /
      (col("__k") - lit(1L)).cast("double") *
      col("__bt") / col("__wi")
    val verdict = agg2.select(round(f, 6).as("f_stat"),
      (col("__k") - lit(1L)).as("df1"),
      (col("__nn") - col("__k")).as("df2"))
    pg.crossJoin(broadcast(verdict))
      .select(col("grp"), col("n"), col("median"),
        round(col("__s1").cast("double") / col("n").cast("double"), 6)
          .as("mean_dev"),
        col("f_stat"), col("df1"), col("df2"))
      .orderBy(col("grp"))
  }

  /** FRIEDMAN test (Friedman 1937; tie-corrected form, e.g. Conover
    * 1999 §5.7): the repeated-measures rank test over complete
    * blocks — k treatments each observed once in every block, ranks
    * taken WITHIN block so block-level shifts cancel. The
    * nonparametric answer to "do the k variants differ?" when every
    * unit sees all variants.
    *
    * Ranks within a block use the textbook average-rank tie
    * treatment on the exact 2·rank integer lattice (the module
    * invariant): r2 = 2·rank + tie_count − 1. Rank sums per
    * treatment are exact decimal(38,0); the chi-square and its
    * tie-corrected form run in one fixed double order with the
    * decimal(38,6)-quantized per-treatment terms ([[kruskalWallis]]
    * discipline). Completeness is REQUIRED, not assumed: uniform
    * block size, each treatment exactly once per block.
    *
    * Blocks are typically many and tiny, so the within-block rank
    * window shuffles by block and sorts k rows per partition key —
    * no global or row-sized window at any scale.
    *
    * Emits one row per treatment (treatment, n_blocks, rank_sum,
    * mean_rank) with the shared (chi2, chi2_adj, df) repeated.
    */
  def friedman(df: DataFrame, block: Column, treatment: Column,
      value: Column): DataFrame = {
    // pinned (r15): the op makes four independent passes over the
    // cleaned input — completeness guard (block census + global
    // distinct treatments, its own action), per-treatment rank sums,
    // and the tie census. Unpinned, each pass re-ran the caller's
    // whole construction (q369 feeds a lineitem self-aggregated
    // eligibility join). Three narrow columns, so the pin is
    // input-bounded; the guard's .head() materializes it.
    val rows = graft.Caches.pin(
      df.select(block.cast("string").as("__b"),
        treatment.cast("string").as("__t"),
        value.cast("double").as("__v"))
      .where(col("__b").isNotNull && col("__t").isNotNull &&
        col("__v").isNotNull))
    val bs = rows.groupBy(col("__b")).agg(count(lit(1)).as("__c"),
      countDistinct(col("__t")).as("__d"))
    // three legs: uniform block size, within-block distinctness,
    // and global distinct-treatment count == block size — the last
    // rejects equal-sized blocks over DISJOINT treatment sets,
    // which the first two alone would silently accept
    val chk = bs.agg(count(lit(1)).as("nb"),
      min(col("__c")).as("mn"), max(col("__c")).as("mx"),
      max((col("__c") =!= col("__d")).cast("int")).as("bad"))
      .crossJoin(broadcast(
        rows.agg(countDistinct(col("__t")).as("gk"))))
      .head()
    // empty-input leg FIRST: with zero blocks min/max are null and
    // the getAs unboxing below would NPE before any message
    require(chk.getAs[Long]("nb") >= 1L,
      "friedman: empty input (no non-null rows)")
    require(chk.getAs[Long]("mn") == chk.getAs[Long]("mx") &&
      chk.getAs[Int]("bad") == 0 && chk.getAs[Long]("mn") >= 2L &&
      chk.getAs[Long]("gk") == chk.getAs[Long]("mn"),
      "friedman: blocks must be complete — every block carries the " +
        "SAME k >= 2 treatments exactly once (filter upstream)")
    val wRank = Window.partitionBy(col("__b")).orderBy(col("__v"))
    val ranked = rows
      .withColumn("__r2", lit(2L) * rank().over(wRank) +
        count(lit(1)).over(Window.partitionBy(col("__b"), col("__v")))
        - lit(1L))
    val pt = graft.Caches.pin(ranked.groupBy(col("__t")).agg(
      count(lit(1)).cast("long").as("n_blocks"),
      sum(col("__r2").cast("decimal(38,0)")).as("__r2sum")))
    val ties = rows.groupBy(col("__b"), col("__v"))
      .agg(count(lit(1)).as("__tc"))
      .agg(sum(col("__tc").cast("decimal(38,0)") * col("__tc") *
        col("__tc") - col("__tc")).cast("double").as("__tt"))
    val kk = pt.agg(count(lit(1)).cast("long").as("__k"),
      min(col("n_blocks")).cast("long").as("__n"))
    val ss = pt.agg(
      sum((col("__r2sum").cast("double") *
        col("__r2sum").cast("double") / lit(4.0))
        .cast("decimal(38,6)")).cast("double").as("__rsq"))
    val nD = col("__n").cast("double")
    val kD = col("__k").cast("double")
    val chi = lit(12.0) / (nD * kD * (kD + lit(1.0))) * col("__rsq") -
      lit(3.0) * nD * (kD + lit(1.0))
    val corr = lit(1.0) - col("__tt") /
      (nD * kD * (kD * kD - lit(1.0)))
    // corr hits exactly 0 when EVERY block is fully tied (per-block
    // tie mass tc³−tc sums to n·k(k²−1)) — chi/corr would be an ANSI
    // divide-by-zero; the adjusted statistic is undefined there, so
    // emit the documented explicit null (the cochranQ convention)
    val verdict = kk.crossJoin(broadcast(ss)).crossJoin(broadcast(ties))
      .select(round(chi, 6).as("chi2"),
        when(corr =!= 0.0, round(chi / corr, 6)).as("chi2_adj"),
        (col("__k") - lit(1L)).as("df"))
    pt.crossJoin(broadcast(verdict))
      .select(col("__t").as("treatment"), col("n_blocks"),
        round(col("__r2sum").cast("double") / lit(2.0), 1)
          .as("rank_sum"),
        round(col("__r2sum").cast("double") /
          (lit(2.0) * col("n_blocks").cast("double")), 6)
          .as("mean_rank"),
        col("chi2"), col("chi2_adj"), col("df"))
      .orderBy(col("treatment"))
  }

  /** YUEN'S TRIMMED-MEAN t-TEST (Yuen 1974) — the robust two-sample
    * location test between [[welchT]] (means, outlier-fragile) and
    * the pure rank tests (q305 auc / q307): trim the most extreme
    * `trimPpm` fraction from EACH tail of each group, compare the
    * trimmed means with the winsorized-variance error term and a
    * Welch–Satterthwaite df. The standard answer when heavy tails
    * would hand welchT to a handful of outliers.
    *
    * Everything up to the final t/df/p close is exact integer work
    * over the per-group distinct-value census (censusGuard):
    *   - k = ⌊trim·n⌋ per side by integer div;
    *   - kept mass per census row = interval overlap of the row's
    *     rank span [cum−c+1, cum] with [k+1, n−k] — exact longs;
    *   - the winsorized sums add k copies of the exact boundary
    *     picks v_lo (rank k+1) and v_hi (rank n−k);
    *   - trimmed/winsorized Σv, Σv² ride decimal(38,0).
    * The close (means, d_i = (SSw − Sw²/n)/(h(h−1)), t, df, p via
    * the portable phi) is one fixed-shape double expression — the
    * welchT discipline. `value` must be integer-quantized (the gini
    * contract). Emits one row:
    * (n_a, n_b, h_a, h_b, tmean_a, tmean_b, t_stat, df_yuen,
    * p_value).
    */
  def yuenT(df: DataFrame, inA: Column, value: Column,
      trimPpm: Long = 200000L, maxDistinct: Long = 2000000L)
      : DataFrame = {
    require(trimPpm >= 0 && trimPpm < 500000L,
      s"yuenT: trimPpm $trimPpm outside [0, 5e5)")
    val rows = df.select(
      when(inA, "a").otherwise("b").as("__g"),
      value.cast("long").as("__v"))
      .where(col("__v").isNotNull)
    val census = graft.Caches.pin(rows.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c")))
    censusGuard(census, maxDistinct, "RankStats.yuenT")
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = census.withColumn("__cum", sum(col("__c")).over(wCum))
    val ng = census.groupBy(col("__g")).agg(sum(col("__c")).as("__n"))
      .withColumn("__k", expr(s"(__n * ${trimPpm}L) div 1000000L"))
    val j = cum.join(ng, Seq("__g"))
    // exact boundary picks: v_lo at rank k+1, v_hi at rank n−k
    val bounds = j.groupBy(col("__g")).agg(
      min(when(col("__cum") >= col("__k") + 1, col("__v")))
        .as("__vlo"),
      min(when(col("__cum") >= col("__n") - col("__k"), col("__v")))
        .as("__vhi"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val kept = greatest(lit(0L),
      least(col("__cum"), col("__n") - col("__k")) -
        greatest(col("__cum") - col("__c") + 1, col("__k") + 1) +
        lit(1L))
    // pinned (r15): the 2-row group frame is materialized twice —
    // the guard collect and the pivot — and each build re-runs the
    // cumulative window + joins over the census
    val pg = graft.Caches.pin(j.groupBy(col("__g")).agg(
      min(col("__n")).as("n"), min(col("__k")).as("k"),
      sum(dec(kept) * col("__v")).as("__ts"),
      sum(dec(kept) * col("__v") * col("__v")).as("__tss"))
      .join(bounds, Seq("__g"))
      .select(col("__g"), col("n"), col("k"),
        (col("n") - lit(2L) * col("k")).as("h"), col("__ts"),
        (col("__ts") + dec(col("k")) * col("__vlo") +
          dec(col("k")) * col("__vhi")).as("__ws"),
        (col("__tss") + dec(col("k")) * col("__vlo") * col("__vlo") +
          dec(col("k")) * col("__vhi") * col("__vhi")).as("__wss")))
    val hs = pg.select(col("__g"), col("h")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(hs.getOrElse("a", 0L) >= 2 && hs.getOrElse("b", 0L) >= 2,
      "yuenT: a group has fewer than 2 kept values after trimming")
    val wide = pg.groupBy().pivot("__g", Seq("a", "b")).agg(
      first(col("n")).as("n"), first(col("h")).as("h"),
      first(col("__ts").cast("double")).as("ts"),
      first(col("__ws").cast("double")).as("ws"),
      first(col("__wss").cast("double")).as("wss"))
    def dterm(tag: String) = {
      val n = col(s"${tag}_n").cast("double")
      val h = col(s"${tag}_h").cast("double")
      (col(s"${tag}_wss") - col(s"${tag}_ws") * col(s"${tag}_ws") / n) /
        (h * (h - lit(1.0)))
    }
    val ma = col("a_ts") / col("a_h").cast("double")
    val mb = col("b_ts") / col("b_h").cast("double")
    val da = dterm("a"); val dbb = dterm("b")
    val t = (ma - mb) / sqrt(da + dbb)
    val dfy = (da + dbb) * (da + dbb) /
      (da * da / (col("a_h").cast("double") - lit(1.0)) +
        dbb * dbb / (col("b_h").cast("double") - lit(1.0)))
    wide.select(col("a_n").as("n_a"), col("b_n").as("n_b"),
      col("a_h").as("h_a"), col("b_h").as("h_b"),
      round(ma, 6).as("tmean_a"), round(mb, 6).as("tmean_b"),
      round(t, 6).as("t_stat"), round(dfy, 2).as("df_yuen"),
      round(lit(2.0) * (lit(1.0) - Experiment.phiAbs(abs(t))), 6)
        .as("p_value"))
  }

  def durbinWatson(df: DataFrame, series: String, ord: String,
      value: Column): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col(series)).orderBy(col(ord))
    val p = df.select(col(series), col(ord),
        value.cast("long").as("__x"))
      .withColumn("__d", col("__x") - lag(col("__x"), 1).over(w))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val agg = p.groupBy(col(series)).agg(
      count(lit(1)).as("n"),
      sum(dec(col("__d")) * dec(col("__d"))).as("__num"),
      sum(dec(col("__x"))).as("__sx"),
      sum(dec(col("__x")) * dec(col("__x"))).as("__qx"))
    val den = dec(col("n")) * col("__qx") - col("__sx") * col("__sx")
    agg.select(col(series), col("n"),
        when(den =!= 0,
          round((dec(col("n")) * col("__num")).cast("double") /
            den.cast("double"), 6)).as("dw"))
      .orderBy(col(series))
  }

  /** PAGE'S TREND TEST (Page 1963) — [[friedman]]'s DIRECTIONAL
    * sibling: same complete blocks, same within-block average
    * ranks, but the alternative is an ORDERED trend across the k
    * treatments (dose levels, time steps, context lengths) instead
    * of "any difference":
    *
    *   L = Σ_j j·R_j,  E[L] = n·k(k+1)²/4,
    *   Var[L] = n·k²(k+1)(k²−1)/144
    *
    * with j the treatment's position in its NUMERIC order (the
    * hypothesized ordering — `treatment` must cast to long) and R_j
    * its rank sum. L rides the exact 2-rank lattice (L2 = 2L is an
    * exact decimal integer; ties get average ranks — the classical
    * variance assumes no ties, which makes the z slightly
    * conservative under heavy tying, documented not corrected).
    * One-sided p for an INCREASING trend (flip the treatment sign
    * for decreasing). Same three-legged completeness contract and
    * per-block bounded windows as [[friedman]]. Emits one row per
    * treatment (treatment, position, n_blocks, rank_sum_x2) with
    * shared (l_x2, z, p_value).
    */
  def pageTrend(df: DataFrame, block: Column, treatment: Column,
      value: Column): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    // pinned (r15): the completeness guard (two aggregate branches)
    // and the ranked rank-sum pass are independent actions — the
    // friedman fix, same shape
    val rows = graft.Caches.pin(
      df.select(block.cast("string").as("__b"),
        treatment.cast("long").as("__t"),
        value.cast("double").as("__v"))
      .where(col("__b").isNotNull && col("__t").isNotNull &&
        col("__v").isNotNull))
    val bs = rows.groupBy(col("__b")).agg(count(lit(1)).as("__c"),
      countDistinct(col("__t")).as("__d"))
    val chk = bs.agg(min(col("__c")).as("mn"), max(col("__c")).as("mx"),
      max((col("__c") =!= col("__d")).cast("int")).as("bad"))
      .crossJoin(broadcast(
        rows.agg(countDistinct(col("__t")).as("gk"))))
      .head()
    require(chk.getAs[Long]("mn") == chk.getAs[Long]("mx") &&
      chk.getAs[Int]("bad") == 0 && chk.getAs[Long]("mn") >= 3L &&
      chk.getAs[Long]("gk") == chk.getAs[Long]("mn"),
      "pageTrend: blocks must be complete — every block carries the " +
        "SAME k >= 3 treatments exactly once (filter upstream)")
    val wRank = Window.partitionBy(col("__b")).orderBy(col("__v"))
    val ranked = rows
      .withColumn("__r2", lit(2L) * rank().over(wRank) +
        count(lit(1)).over(Window.partitionBy(col("__b"), col("__v")))
        - lit(1L))
    val pt = graft.Caches.pin(ranked.groupBy(col("__t")).agg(
      count(lit(1)).cast("long").as("n_blocks"),
      sum(dec(col("__r2"))).as("__r2sum")))
    val wPos = Window.partitionBy(ScanOps.pinnedZero(col("__t")))
      .orderBy(col("__t"))
    val ptp = graft.Caches.pin(pt.withColumn("position",
      row_number().over(wPos).cast("long")))
    val agg = ptp.agg(
      count(lit(1)).cast("long").as("__k"),
      min(col("n_blocks")).cast("long").as("__n"),
      sum(dec(col("position")) * col("__r2sum")).as("__l2"))
    val kD = col("__k").cast("double")
    val nD = col("__n").cast("double")
    val e = nD * kD * (kD + lit(1.0)) * (kD + lit(1.0)) / lit(4.0)
    val v = nD * kD * kD * (kD + lit(1.0)) *
      (kD * kD - lit(1.0)) / lit(144.0)
    val z = (col("__l2").cast("double") / lit(2.0) - e) / sqrt(v)
    val verdict = agg.select(col("__l2").cast("long").as("l_x2"),
      round(z, 6).as("z"),
      round(when(z >= 0.0, lit(1.0) - Experiment.phiAbs(abs(z)))
        .otherwise(Experiment.phiAbs(abs(z))), 6).as("p_value"))
    ptp.crossJoin(broadcast(verdict))
      .select(col("__t").as("treatment"), col("position"),
        col("n_blocks"), col("__r2sum").cast("long").as("rank_sum_x2"),
        col("l_x2"), col("z"), col("p_value"))
      .orderBy(col("position"))
  }

  /** WILCOXON SIGNED-RANK test (Wilcoxon 1945) — the PAIRED
    * location test: within-pair differences d = a − b, |d| ranked
    * with average ties, W+ = Σ ranks of positive d; the
    * nonparametric sibling of the paired t-test (and the paired
    * complement to [[kruskalWallis]]/[[yuenT]]'s independent-sample
    * tests). Zero differences are DROPPED (the standard Wilcoxon
    * reduction) and reported as n_zero.
    *
    * Everything runs over the |d| DISTINCT-VALUE CENSUS
    * (value-bounded, censusGuard — never a row-sized rank window):
    * with c(v) = pairs at |d| = v and cumBefore(v) the census
    * prefix, the average rank on the exact 2-rank lattice is
    * r2(v) = 2·cumBefore + c + 1, and W2 = Σ pos(v)·r2(v) = 2·W+
    * is an exact decimal integer. The normal approximation
    *
    *   z = (W+ − n(n+1)/4) / sqrt(n(n+1)(2n+1)/24 − Σt(t²−1)/48)
    *
    * (tie-corrected variance) closes in ONE fixed-shape double
    * expression over those exact integers; p is the portable
    * two-sided phi tail (the q327 convention). Emits one row:
    * (n_pairs, n_zero, w_plus_x2, z, p_value).
    */
  def wilcoxonSignedRank(df: DataFrame, a: Column, b: Column,
      maxDistinct: Long = 2000000L): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val d = df.select((a.cast("long") - b.cast("long")).as("__d"))
      .where(col("__d").isNotNull)
    val zeros = d.agg(
      sum(when(col("__d") === 0L, 1L).otherwise(0L)).as("__z0"))
    val census = graft.Caches.pin(d.where(col("__d") =!= 0L)
      .groupBy(abs(col("__d")).as("__v"))
      .agg(count(lit(1)).as("__c"),
        sum(when(col("__d") > 0L, 1L).otherwise(0L)).as("__p")))
    censusGuard(census, maxDistinct, "RankStats.wilcoxonSignedRank")
    val w = Window.partitionBy(ScanOps.pinnedZero(col("__v")))
      .orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = census
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__r2",
        lit(2L) * (col("__cum") - col("__c")) + col("__c") + lit(1L))
    val agg = ranked.agg(
      coalesce(sum(col("__c")), lit(0L)).cast("long").as("n_pairs"),
      coalesce(sum(dec(col("__p")) * dec(col("__r2"))),
        lit(0).cast("decimal(38,0)")).as("__w2"),
      coalesce(sum(dec(col("__c")) * dec(col("__c")) * dec(col("__c"))
        - dec(col("__c"))), lit(0).cast("decimal(38,0)")).as("__tt"))
    val nD = col("n_pairs").cast("double")
    val varD = nD * (nD + lit(1.0)) * (lit(2.0) * nD + lit(1.0)) /
      lit(24.0) - col("__tt").cast("double") / lit(48.0)
    val z = when(col("n_pairs") === 0L || varD <= 0.0, lit(null))
      .otherwise(
        (col("__w2").cast("double") / lit(2.0) -
          nD * (nD + lit(1.0)) / lit(4.0)) / sqrt(varD))
    agg.crossJoin(broadcast(zeros))
      .select(col("n_pairs"), col("__z0").as("n_zero"),
        col("__w2").cast("long").as("w_plus_x2"),
        round(z, 6).as("z"),
        round(lit(2.0) * (lit(1.0) - Experiment.phiAbs(abs(z))), 6)
          .as("p_value"))
  }

  /** BARTLETT'S TEST (Bartlett 1937) — homogeneity of variances
    * across k groups, the PARAMETRIC sibling of [[brownForsythe]]:
    * more powerful when the data really are normal, famously
    * fragile when they are not (run both; divergence itself is the
    * signal that the tails are heavy).
    *
    *   T = [(N−k)·ln(Sp²) − Σ (n_i−1)·ln(S_i²)] / C
    *   C = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1))
    *
    * with S_i² the unbiased group variances and Sp² their pooled
    * form. `value` must be integer-quantized (the gini contract):
    * each S_i² is the exact decimal rational (n·ΣX² − (ΣX)²) over
    * n(n−1) closed by ONE double division, and every per-group
    * float term ((n_i−1)·S_i², (n_i−1)·ln S_i², 1/(n_i−1)) is
    * decimal(38,6)-quantized before its order-free sum (the
    * [[kruskalWallis]] discipline), so the statistic is engine-
    * replayable at 6dp. The ln sites are the margin-audited class.
    *
    * One grouped pass over the data; everything after is k rows.
    * Groups must have n_i >= 2 and nonzero variance (a constant
    * group makes ln S_i² undefined — refused, not NaN'd). Emits one
    * row per group (grp, n, var_g) with shared (t_stat, df).
    */
  def bartlett(df: DataFrame, group: Column,
      value: Column): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val rows = df.select(group.cast("string").as("grp"),
      value.cast("long").as("__v"))
      .where(col("grp").isNotNull && col("__v").isNotNull)
    val pg = graft.Caches.pin(rows.groupBy(col("grp")).agg(
      count(lit(1)).cast("long").as("n"),
      sum(dec(col("__v"))).as("__s1"),
      sum(dec(col("__v")) * dec(col("__v"))).as("__s2")))
    val varG = (dec(col("n")) * col("__s2") -
      col("__s1") * col("__s1")).cast("double") /
      (col("n") * (col("n") - lit(1L))).cast("double")
    // The variance term is gated on n >= 2 INSIDE the guard
    // aggregate: an n=1 group would hit varG's (n)(n-1) = 0
    // denominator (an ANSI divide-by-zero error) before the mn
    // require below ever got to explain the problem.
    val chk = pg.agg(count(lit(1)).as("k"), min(col("n")).as("mn"),
      min(when(col("n") >= 2L, varG)).as("mv")).head()
    require(chk.getAs[Long]("k") >= 2L,
      "bartlett: need at least 2 groups")
    require(chk.getAs[Long]("mn") >= 2L,
      "bartlett: every group needs n >= 2")
    require(chk.getAs[Double]("mv") > 0.0,
      "bartlett: a group has zero variance (constant values) — " +
        "ln S^2 undefined; filter upstream")
    def q6(c: Column) = c.cast("decimal(38,6)")
    val nm1 = (col("n") - lit(1L)).cast("double")
    val agg = pg.agg(
      count(lit(1)).cast("long").as("__k"),
      sum(col("n")).cast("long").as("__nn"),
      sum(q6(nm1 * varG)).cast("double").as("__wsum"),
      // ln terms at 4dp, not 6: magnitudes ~1e7 leave a 6dp
      // lattice only ~600x of ulp headroom (probed); 4dp buys 100x
      sum((nm1 * log(varG)).cast("decimal(38,4)")).cast("double")
        .as("__lsum"),
      sum(q6(lit(1.0) / nm1)).cast("double").as("__isum"))
    val nk = (col("__nn") - col("__k")).cast("double")
    val tnum = nk * log(col("__wsum") / nk) - col("__lsum")
    val cfac = lit(1.0) + (col("__isum") - lit(1.0) / nk) /
      (lit(3.0) * (col("__k") - lit(1L)).cast("double"))
    val verdict = agg.select(round(tnum / cfac, 6).as("t_stat"),
      (col("__k") - lit(1L)).as("df"))
    pg.crossJoin(broadcast(verdict))
      .select(col("grp"), col("n"), round(varG, 6).as("var_g"),
        col("t_stat"), col("df"))
      .orderBy(col("grp"))
  }

  /** COCHRAN-ARMITAGE TREND TEST (Cochran 1954; Armitage 1955) —
    * is a BINARY outcome's rate monotone across ordered groups?
    * The binary-outcome completion of the directional family:
    * [[pageTrend]] needs complete blocks, [[jonckheereTerpstra]]
    * continuous responses; Cochran-Armitage is the dose-response
    * test for proportions (chi-square asks "any difference", this
    * asks the ORDERED question with one degree of freedom).
    *
    *   z = (N·S1 − R·Sn1) / sqrt( R(N−R)(N·Sn2 − Sn1²) / N )
    *
    * with t_j the group scores (the long-cast `group` — the
    * hypothesized order IS the score), n_j/r_j the group sizes and
    * success counts, S1 = Σ t_j r_j, Sn1 = Σ n_j t_j,
    * Sn2 = Σ n_j t_j², R = Σ r_j, N = Σ n_j. Numerator and the
    * radicand's integer factor are EXACT decimal(38,0) products of
    * one group-census pass (data-sized work is a single hash
    * aggregation); the close is one fixed-shape double with the
    * portable [[Experiment.phiAbs]] two-sided p. All-success /
    * all-failure / single-score inputs emit explicit nulls (z
    * undefined), never NaN. Emits one row:
    * (n, k_groups, successes, z, p_value).
    */
  def cochranArmitage(df: DataFrame, group: Column,
      success: Column): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val rows = df.select(group.cast("long").as("__t"),
      success.cast("boolean").as("__x"))
      .where(col("__t").isNotNull && col("__x").isNotNull)
    val cells = rows.groupBy(col("__t")).agg(
      count(lit(1)).as("__n"),
      sum(when(col("__x"), 1L).otherwise(0L)).as("__r"))
    val agg = cells.agg(
      count(lit(1)).cast("long").as("k_groups"),
      sum(col("__n")).cast("long").as("n"),
      sum(col("__r")).cast("long").as("successes"),
      sum(dec(col("__t")) * dec(col("__r"))).as("__s1"),
      sum(dec(col("__n")) * dec(col("__t"))).as("__sn1"),
      sum(dec(col("__n")) * dec(col("__t")) * dec(col("__t")))
        .as("__sn2"))
    val head = agg.head()
    require(head.getAs[Long]("k_groups") >= 2L,
      "cochranArmitage: need at least 2 score groups")
    val nD = col("n").cast("double")
    val rD = col("successes").cast("double")
    val num = (dec(col("n")) * col("__s1") -
      dec(col("successes")) * col("__sn1")).cast("double")
    val fac = (dec(col("n")) * col("__sn2") -
      col("__sn1") * col("__sn1")).cast("double")
    val rad = rD * (nD - rD) * fac / nD
    val z = num / sqrt(rad)
    val ok = col("successes") > 0L && col("successes") < col("n") &&
      fac > 0.0
    val out = reenterHead(agg, head).select(col("n"),
      col("k_groups"), col("successes"),
      when(ok, round(z, 6)).as("z"),
      when(ok, round(lit(2.0) *
        (lit(1.0) - Experiment.phiAbs(abs(z))), 6)).as("p_value"))
    out
  }

  /** Re-enter a 1-row aggregate already collected for its guard as
    * literals, so the close does not execute the aggregation twice
    * (the [[jonckheereTerpstra]] discipline). Longs and decimals
    * only.
    */
  private def reenterHead(agg: DataFrame,
      row: org.apache.spark.sql.Row): DataFrame = {
    val cols = agg.schema.fields.zipWithIndex.map { case (f, i) =>
      (f.dataType.typeName match {
        case "long" => lit(row.getLong(i))
        case _ => lit(row.getDecimal(i)).cast(f.dataType.simpleString)
      }).as(f.name)
    }
    agg.sparkSession.range(1).select(cols.toSeq: _*)
  }

  /** KENDALL'S TAU-B (Kendall 1945) — rank correlation by pairwise
    * concordance, the robust complement to q306's Spearman (tau's
    * pairwise counts are less sensitive to a few extreme ranks, and
    * tau-b corrects BOTH tie margins where Spearman's tie handling
    * is baked into average ranks):
    *
    *   tau_b = (C − D) / sqrt((n0 − n1)(n0 − n2))
    *
    * with C/D the concordant/discordant pair counts and n1/n2 the
    * tie-pair counts of each margin. Values must be integer-
    * quantized (the gini contract); all counts are computed from
    * the (x, y) CONTINGENCY CENSUS, not row pairs: the data-sized
    * work is ONE hash aggregation to cells, and C/D come from the
    * cells x cells self-join on xa < xb with c_a·c_b products in
    * exact decimal(38,0) — `maxCells` guards the quadratic cell
    * join (4000 cells = 16M products, trivially distributed; row
    * count is unbounded). C and D are emitted as longs (exact below
    * ~4.3e9 rows — documented bound, same class as q327's S).
    *
    * The close is ONE fixed-shape double expression
    * (2(C−D)/sqrt((N2−Tx2)(N2−Ty2)), doubled identities so no /2
    * truncation) quantized to ppm; an all-tied margin (denominator
    * 0) yields an explicit null. Emits one row:
    * (n, n_cells, concordant, discordant, tau_b_ppm).
    */
  def kendallTau(df: DataFrame, x: Column, y: Column,
      maxCells: Long = 4000L): DataFrame = {
    val cells = graft.Caches.pin(df
      .select(x.cast("long").as("__x"), y.cast("long").as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
      .groupBy(col("__x"), col("__y")).agg(count(lit(1)).as("__c")))
    val nCells = cells.count()
    require(nCells > 0 && nCells <= maxCells,
      s"kendallTau: $nCells distinct (x,y) cells (> $maxCells) — " +
        "quantize coarser")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val a = cells.select(col("__x").as("xa"), col("__y").as("ya"),
      col("__c").as("ca"))
    val b = cells.select(col("__x").as("xb"), col("__y").as("yb"),
      col("__c").as("cb"))
    val cd = a.join(b, col("xa") < col("xb"))
      .select((dec(col("ca")) * dec(col("cb"))).as("__p"),
        when(col("ya") < col("yb"), 1)
          .when(col("ya") > col("yb"), -1).otherwise(0).as("__sg"))
      .agg(
        coalesce(sum(when(col("__sg") === 1, col("__p"))),
          lit(0).cast("decimal(38,0)")).as("__conc"),
        coalesce(sum(when(col("__sg") === -1, col("__p"))),
          lit(0).cast("decimal(38,0)")).as("__disc"))
    def tiePairs(k: Column, out: String) = cells.groupBy(k.as("__k"))
      .agg(sum(col("__c")).as("__t"))
      .agg(sum(dec(col("__t")) * dec(col("__t") - lit(1L))).as(out))
    val tx = tiePairs(col("__x"), "__tx2")
      .crossJoin(broadcast(cells.agg(sum(col("__c")).as("__n"),
        count(lit(1)).as("n_cells"))))
    val ty = tiePairs(col("__y"), "__ty2")
    val n2 = dec(col("__n")) * dec(col("__n") - lit(1L))
    val dx = (n2 - col("__tx2")).cast("double")
    val dy = (n2 - col("__ty2")).cast("double")
    cd.crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
      .select(col("__n").cast("long").as("n"),
        col("n_cells").cast("long").as("n_cells"),
        col("__conc").cast("long").as("concordant"),
        col("__disc").cast("long").as("discordant"),
        when(n2 === col("__tx2") || n2 === col("__ty2"),
          lit(null).cast("long"))
          .otherwise(floor(lit(2.0) *
            (col("__conc") - col("__disc")).cast("double") /
            sqrt(dx * dy) * lit(1e6) + lit(0.5)).cast("long"))
          .as("tau_b_ppm"))
  }
}
