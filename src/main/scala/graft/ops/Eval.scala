package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Offline evaluation operators: ranked-retrieval metrics, proper
  * scoring rules, and closed-form cross-validation. The family that
  * turns the engine's retrieval (q45/q167/q173/q211) and model
  * (q57/q108/q210) outputs into graded report cards.
  *
  * Determinism contract (the [[graft.QH]] convention): every sum that
  * must replay cross-engine is either an exact integer/decimal sum or
  * a sum of per-row doubles quantized to a fixed decimal grain before
  * aggregation, with the final statistic rounded to 6dp — summation
  * order can then never flip a hash.
  *
  * Scale contract: no global windows. Ranking metrics use windows
  * partitioned by query (per-query candidate lists are shortlist-
  * sized by construction); scoring rules reduce to a (segment, grid)
  * census first; k-fold needs ONE data pass — train-side moments are
  * complements of fold moments, and the held-out error is a closed
  * form of the same sums, so no second scan and no per-fold job.
  */
object Eval {

  private def dq(c: Column): Column = c.cast("decimal(38,12)")

  /** Ranked-retrieval metrics at cutoff `k`, one row per query:
    * precision@k, recall@k, MRR@k and nDCG@k (graded gains, burges-style
    * 2^gain − 1 numerators kept as exact integers via shiftleft).
    *
    * `candidates` carries one row per (query, doc) with a ranking
    * `score` and an integer relevance `gain` (0 = irrelevant). The
    * realized ranking orders by (score desc, doc asc) — the
    * deterministic tie-break every oracle needs; the ideal ranking
    * orders by (gain desc, doc asc). Ties among equal gains leave
    * DCG invariant, so IDCG is well-defined.
    *
    * Plan shape: two row_number windows partitioned by query (the
    * per-query candidate list is the unit of work — shuffles on the
    * query key, never a global sort), then one grouped aggregate.
    */
  def rankingMetrics(candidates: DataFrame, query: Column, doc: Column,
      score: Column, gain: Column, k: Int): DataFrame = {
    require(k >= 1, s"rankingMetrics: k=$k")
    val rows = candidates.select(query.as("query"), doc.as("__d"),
      score.as("__s"), gain.cast("long").as("__g"))
    val wReal = Window.partitionBy(col("query"))
      .orderBy(col("__s").desc, col("__d").asc)
    val wIdeal = Window.partitionBy(col("query"))
      .orderBy(col("__g").desc, col("__d").asc)
    val ranked = rows
      .withColumn("__r", row_number().over(wReal))
      .withColumn("__ri", row_number().over(wIdeal))
    // 2^g − 1 exact; the log2 denominator is the one float, computed
    // identically per row on both engines and decimal-quantized so the
    // per-query sum is order-free.
    def dcgTerm(rankCol: Column): Column = dq(
      when(rankCol <= k && col("__g") > 0,
        (expr("shiftleft(1L, cast(__g AS INT))") - lit(1L))
          .cast("double") / log2(rankCol.cast("double") + lit(1.0)))
        .otherwise(lit(0.0)))
    val perQuery = ranked.groupBy(col("query")).agg(
      count(lit(1)).as("n_candidates"),
      sum((col("__g") > 0).cast("long")).as("n_relevant"),
      sum((col("__r") <= k && col("__g") > 0).cast("long")).as("__hits"),
      // MRR@k: first relevant rank TRUNCATED at k, matching the @k
      // convention of the sibling metrics — a query whose first
      // relevant doc sits past k reports 0, never mrr>0 with
      // precision_k=0.
      min(when(col("__r") <= k && col("__g") > 0, col("__r")))
        .as("__fr"),
      sum(dcgTerm(col("__r"))).cast("double").as("__dcg"),
      sum(dcgTerm(col("__ri"))).cast("double").as("__idcg"))
    perQuery.select(
      col("query"), col("n_candidates"), col("n_relevant"),
      round(col("__hits").cast("double") / lit(k.toDouble), 6)
        .as(s"precision_k"),
      round(when(col("n_relevant") > 0,
        col("__hits").cast("double") / col("n_relevant").cast("double"))
        .otherwise(lit(0.0)), 6).as("recall_k"),
      round(when(col("__fr").isNotNull,
        lit(1.0) / col("__fr").cast("double")).otherwise(lit(0.0)), 6)
        .as("mrr"),
      round(when(col("__idcg") > 0, col("__dcg") / col("__idcg"))
        .otherwise(lit(0.0)), 6).as("ndcg_k"))
      .orderBy(col("query"))
  }

  /** Proper scoring rules per segment: log-loss (cross-entropy) and
    * Brier score for a probabilistic binary prediction. `p` must live
    * on a bounded grid (quantized — the census contract): the data
    * reduces to (segment, p, y) cells with exact integer counts in one
    * partial-aggregated pass, and the per-cell ln/square terms are
    * decimal-quantized so the segment sums are order-free. `eps` clips
    * p away from {0,1} (the standard guard — a single confident-wrong
    * row otherwise sends log-loss to infinity).
    */
  def logLossBrier(df: DataFrame, segment: Column, p: Column, y: Column,
      eps: Double = 1e-6, maxCells: Long = 2000000L): DataFrame = {
    // pinned: the census feeds the guard count AND the segment
    // aggregate — unpinned each would re-scan the base table
    val cells = graft.Caches.pin(df.select(segment.as("segment"),
        p.cast("double").as("__p"), y.cast("long").as("__y"))
      .groupBy(col("segment"), col("__p"), col("__y"))
      .agg(count(lit(1)).as("__c")))
    val nCells = cells.count()
    require(nCells <= maxCells,
      s"logLossBrier: $nCells (segment, p, y) cells exceed $maxCells " +
        "— quantize p to a coarser grid")
    val pc = least(greatest(col("__p"), lit(eps)), lit(1.0 - eps))
    val llTerm = -(col("__y").cast("double") * log(pc) +
      (lit(1.0) - col("__y").cast("double")) * log(lit(1.0) - pc))
    val brTerm = (col("__p") - col("__y").cast("double")) *
      (col("__p") - col("__y").cast("double"))
    cells.groupBy(col("segment")).agg(
        sum(col("__c")).as("n"),
        sum(dq(col("__c").cast("double") * llTerm)).cast("double")
          .as("__ll"),
        sum(dq(col("__c").cast("double") * brTerm)).cast("double")
          .as("__br"))
      .select(col("segment"), col("n"),
        round(col("__ll") / col("n").cast("double"), 6).as("log_loss"),
        round(col("__br") / col("n").cast("double"), 6).as("brier"))
      .orderBy(col("segment"))
  }

  /** K-fold cross-validation of simple OLS y = a + b·x in ONE data
    * pass. Folds are assigned by portable hash of `id` (deterministic,
    * slicing-invariant); per-fold exact moment sums (n, Σx, Σy, Σx²,
    * Σxy, Σy²) are grouped once, the TRAIN-side moments for fold f are
    * the totals' complements, and the held-out RMSE is the closed form
    *   Σ(y − a − bx)² = Σy² − 2aΣy − 2bΣxy + na² + 2abΣx + b²Σx²
    * over the fold's own sums — no refit jobs, no second scan. At
    * 100 TB this is one partial-aggregated pass however large k is.
    * Emits one row per fold: fold, n_train, n_test, slope, intercept,
    * rmse.
    */
  def kFoldOls(df: DataFrame, id: Column, x: Column, y: Column,
      k: Int): DataFrame = {
    require(k >= 2, s"kFoldOls: k=$k")
    def isum(c: Column) = sum(c.cast("decimal(38,10)")).cast("double")
    // the engine's portable id hash (the q70 sampling convention) so
    // fold membership replays on any engine
    val fold = pmod(graft.functions.PortableHash(id, 42L), lit(k.toLong))
    val rows = df.select(fold.as("fold"),
      x.cast("double").as("__x"), y.cast("double").as("__y"))
    // pinned: per-fold moments feed both the totals aggregate and the
    // complement join — one data pass, not two
    val perFold = graft.Caches.pin(rows.groupBy(col("fold")).agg(
      count(lit(1)).as("__n"),
      isum(col("__x")).as("__sx"), isum(col("__y")).as("__sy"),
      isum(col("__x") * col("__x")).as("__sxx"),
      isum(col("__x") * col("__y")).as("__sxy"),
      isum(col("__y") * col("__y")).as("__syy")))
    val totals = perFold.agg(
      sum(col("__n")).as("__tn"),
      sum(dq(col("__sx"))).cast("double").as("__tsx"),
      sum(dq(col("__sy"))).cast("double").as("__tsy"),
      sum(dq(col("__sxx"))).cast("double").as("__tsxx"),
      sum(dq(col("__sxy"))).cast("double").as("__tsxy"),
      sum(dq(col("__syy"))).cast("double").as("__tsyy"))
    val j = perFold.crossJoin(broadcast(totals))
    val nT = (col("__tn") - col("__n")).cast("double")
    val sxT = col("__tsx") - col("__sx")
    val syT = col("__tsy") - col("__sy")
    val sxxT = col("__tsxx") - col("__sxx")
    val sxyT = col("__tsxy") - col("__sxy")
    val b = (nT * sxyT - sxT * syT) / (nT * sxxT - sxT * sxT)
    val a = (syT - b * sxT) / nT
    val nF = col("__n").cast("double")
    val sse = col("__syy") - lit(2.0) * a * col("__sy") -
      lit(2.0) * b * col("__sxy") + nF * a * a +
      lit(2.0) * a * b * col("__sx") + b * b * col("__sxx")
    j.select(col("fold"),
        (col("__tn") - col("__n")).as("n_train"), col("__n").as("n_test"),
        round(b, 6).as("slope"), round(a, 6).as("intercept"),
        round(sqrt(greatest(sse, lit(0.0)) / nF), 6).as("rmse"))
      .orderBy(col("fold"))
  }

  /** Multi-class confusion statistics, one row per class: support
    * (n_actual), predicted volume (n_predicted), true positives, and
    * precision / recall / F1 — the multi-class generalization of the
    * reference's binary Assess (stats.go assess; our q38). The data
    * reduces to a (actual, predicted) contingency census in one
    * partial-aggregated pass (bounded by the class grid, never data
    * volume); the per-class marginals are grouped FROM the census, so
    * nothing rescans the input. Classes seen only in predictions (or
    * only in truth) still get a row via the full-outer marginal join
    * — an absent row would silently inflate macro-F1.
    */
  def confusionStats(df: DataFrame, actual: Column, predicted: Column,
      maxClasses: Long = 10000L): DataFrame = {
    // pinned: the contingency census feeds THREE marginals — without
    // the pin each re-scans the base table
    val cells = graft.Caches.pin(
      df.groupBy(actual.as("__a"), predicted.as("__p"))
        .agg(count(lit(1)).as("__c")))
    val act = cells.groupBy(col("__a").as("cls"))
      .agg(sum(col("__c")).as("n_actual"))
    val prd = cells.groupBy(col("__p").as("cls"))
      .agg(sum(col("__c")).as("n_predicted"))
    val tp = cells.where(col("__a") === col("__p"))
      .select(col("__a").as("cls"), col("__c").as("tp"))
    val joined = act.join(prd, Seq("cls"), "full")
      .join(tp, Seq("cls"), "left")
      .na.fill(0L, Seq("n_actual", "n_predicted", "tp"))
    val nClasses = joined.count()
    require(nClasses <= maxClasses,
      s"confusionStats: $nClasses classes exceed $maxClasses — " +
        "bucket the label space")
    val prec = when(col("n_predicted") > 0,
      col("tp").cast("double") / col("n_predicted").cast("double"))
      .otherwise(lit(0.0))
    val rec = when(col("n_actual") > 0,
      col("tp").cast("double") / col("n_actual").cast("double"))
      .otherwise(lit(0.0))
    joined.select(col("cls"), col("n_actual"), col("n_predicted"),
        col("tp"), round(prec, 6).as("precision"),
        round(rec, 6).as("recall"),
        round(when(prec + rec > 0,
          lit(2.0) * prec * rec / (prec + rec)).otherwise(lit(0.0)), 6)
          .as("f1"))
      .orderBy(col("cls"))
  }

  /** Rolling-origin backtest of the SEASONAL-NAIVE forecaster
    * (ŷ_t = y_{t−season}) over per-key daily series — the honest
    * baseline every forecasting effort must beat, evaluated out of
    * sample at every origin the series supports. Emits per key:
    * n_eval, MAE, RMSE, and MASE (MAE over the one-step-naive MAE on
    * the SAME evaluation points — Hyndman & Koehler 2006's scale-free
    * skill score; > 1 means the seasonal forecast is WORSE than
    * "repeat yesterday").
    *
    * `series` carries one row per (key, date) — callers pre-aggregate
    * (with an exact-decimal sum if the value is a float sum).
    * Forecast/naive lookups are calendar-correct self-joins on
    * (key, date − season) / (key, date − 1), not row-lag windows — a
    * gap in the series yields no forecast rather than silently
    * reaching further back. Both joins shuffle on the same (key, date)
    * key; per-term decimal quantization keeps the error sums
    * order-free.
    */
  def backtestSeasonalNaive(series: DataFrame, key: Column, date: Column,
      value: Column, season: Int): DataFrame = {
    require(season >= 2, s"backtestSeasonalNaive: season=$season")
    // pinned: the pre-aggregated series feeds THREE branches (target,
    // seasonal lookback, naive lookback) — unpinned, each branch
    // re-scans and re-aggregates the base table (the q320 plan dump
    // showed 3 parquet scans for one backtest)
    val s = graft.Caches.pin(series.select(key.as("key"),
      date.as("__d"), value.cast("double").as("__y")))
    val fc = s.select(col("key"), date_add(col("__d"), season).as("__d"),
      col("__y").as("__f"))
    val nv = s.select(col("key"), date_add(col("__d"), 1).as("__d"),
      col("__y").as("__n1"))
    val j = s.join(fc, Seq("key", "__d")).join(nv, Seq("key", "__d"))
    j.groupBy(col("key")).agg(
        count(lit(1)).as("n_eval"),
        sum(dq(abs(col("__y") - col("__f")))).cast("double").as("__sae"),
        sum(dq((col("__y") - col("__f")) * (col("__y") - col("__f"))))
          .cast("double").as("__sse"),
        sum(dq(abs(col("__y") - col("__n1")))).cast("double")
          .as("__snae"))
      .select(col("key"), col("n_eval"),
        round(col("__sae") / col("n_eval").cast("double"), 6).as("mae"),
        // 4dp: rmse magnitudes reach ~1e5, where a 1e-6 grid leaves
        // only ~5e2x headroom over the cross-engine sqrt ulp (r11
        // margin sweep); 4dp multiplies it by 1e2
        round(sqrt(col("__sse") / col("n_eval").cast("double")), 4)
          .as("rmse"),
        round(when(col("__snae") > 0, col("__sae") / col("__snae")), 6)
          .as("mase"))
      .orderBy(col("key"))
  }

  /** THRESHOLD SWEEP: precision / recall / F1 at EVERY candidate
    * decision threshold (each distinct score value, "predict positive
    * when score ≥ t"), with the max-F1 threshold flagged — how an
    * operating point actually gets chosen once q38/q313 say the model
    * is sane. The data reduces to a score-grid census (the RankStats
    * contract — scores must be quantized); tp/fp at every threshold
    * are SUFFIX sums over that census (one census-sized window, never
    * a data-volume window), so the whole sweep is one pass + one
    * bounded window. is_best ties break to the LOWEST threshold (the
    * more permissive operating point).
    */
  def thresholdSweep(df: DataFrame, score: Column, label: Column,
      maxDistinct: Long = 2000000L): DataFrame = {
    val census = graft.Caches.pin(
      df.select(score.cast("long").as("threshold"),
        label.cast("long").as("__y"))
      .groupBy(col("threshold"))
      .agg(sum(col("__y")).as("__pos"),
        (count(lit(1)) - sum(col("__y"))).as("__neg")))
    val n = census.count()
    require(n <= maxDistinct,
      s"thresholdSweep: $n distinct scores exceed $maxDistinct — " +
        "quantize the score to a coarser grid")
    val wSuffix = Window.partitionBy(ScanOps.pinnedZero(col("__pos")))
      .orderBy(col("threshold"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val totals = census.agg(sum(col("__pos")).as("__npos"))
    val sweep = census
      .withColumn("tp", sum(col("__pos")).over(wSuffix))
      .withColumn("fp", sum(col("__neg")).over(wSuffix))
      .crossJoin(broadcast(totals))
    val prec = col("tp").cast("double") /
      (col("tp") + col("fp")).cast("double")
    val rec = when(col("__npos") > 0,
      col("tp").cast("double") / col("__npos").cast("double"))
      .otherwise(lit(0.0))
    // integer F1 comparison: f1 = 2tp/(2tp+fp+fn) — rank by the
    // exact fraction 2tp·D' vs 2tp'·D cross-multiplied via a ppm
    // quantization (denominators are bounded by n, ppm is enough
    // for a flag; the REPORTED f1 is the double)
    val fn = col("__npos") - col("tp")
    val f1q = expr("2 * tp * 1000000L div (2 * tp + fp + (__npos - tp))")
    val wBest = Window.partitionBy(ScanOps.pinnedZero(col("__pos")))
      .orderBy(col("__f1q").desc, col("threshold").asc)
    sweep
      .withColumn("__f1q", f1q)
      .withColumn("is_best",
        (row_number().over(wBest) === 1).cast("int"))
      .select(col("threshold"), col("tp"), col("fp"),
        fn.as("fn"),
        round(prec, 6).as("precision"), round(rec, 6).as("recall"),
        round(lit(2.0) * col("tp").cast("double") /
          (lit(2.0) * col("tp") + col("fp") + fn).cast("double"), 6)
          .as("f1"),
        col("is_best"))
      .orderBy(col("threshold"))
  }

  /** MURPHY DECOMPOSITION of the Brier score (Murphy 1973):
    *   Brier = Reliability − Resolution + Uncertainty
    * over the (p, y) census — REL = Σ n_k(p_k − ȳ_k)²/N penalizes
    * miscalibration, RES = Σ n_k(ȳ_k − ȳ)²/N rewards bins that
    * separate outcomes, UNC = ȳ(1−ȳ) is the irreducible floor. The
    * companion readout to q243's reliability bins and q313's raw
    * Brier: it says WHERE the score is lost. One census pass, one
    * bounded close; per-bin terms decimal-quantized.
    */
  def brierDecomposition(df: DataFrame, p: Column, y: Column,
      maxCells: Long = 2000000L): DataFrame = {
    val cells = graft.Caches.pin(df.select(p.cast("double").as("__p"),
        y.cast("long").as("__y"))
      .groupBy(col("__p"))
      .agg(count(lit(1)).as("__n"), sum(col("__y")).as("__s")))
    val nCells = cells.count()
    require(nCells <= maxCells,
      s"brierDecomposition: $nCells bins exceed $maxCells — round the " +
        "scores to a coarser grid first")
    val totals = cells.agg(sum(col("__n")).as("__nn"),
      sum(col("__s")).as("__ss"))
    val wt = cells.crossJoin(broadcast(totals))
    val nD = col("__n").cast("double")
    val ybark = col("__s").cast("double") / nD
    val ybar = col("__ss").cast("double") / col("__nn").cast("double")
    wt.agg(
        first(col("__nn")).as("n"),
        sum(dq(nD * (col("__p") - ybark) * (col("__p") - ybark)))
          .cast("double").as("__rel"),
        sum(dq(nD * (ybark - ybar) * (ybark - ybar)))
          .cast("double").as("__res"),
        first(ybar).as("__yb"),
        count(lit(1)).as("n_bins"))
      .select(col("n"), col("n_bins"),
        round(col("__rel") / col("n").cast("double"), 6)
          .as("reliability"),
        round(col("__res") / col("n").cast("double"), 6)
          .as("resolution"),
        round(col("__yb") * (lit(1.0) - col("__yb")), 6)
          .as("uncertainty"),
        round(col("__rel") / col("n").cast("double") -
          col("__res") / col("n").cast("double") +
          col("__yb") * (lit(1.0) - col("__yb")), 6).as("brier"))
  }

  /** WASSERSTEIN-1 (earth mover's) distance between two slices of an
    * integer-grid-valued column — the distribution-shift measure that
    * sees HOW FAR mass moved, where PSI/KS see only that it moved:
    *   W₁ = ∫ |F_a(v) − F_b(v)| dv
    * over the merged value grid, grid gaps as the dv weights. Exact
    * arithmetic end-to-end: the CDF difference at each grid point is
    * the integer cross-product |cumA·N_b − cumB·N_a| over the common
    * denominator N_a·N_b, times the integer gap to the next grid
    * value — ONE exact integer sum, with a single double divide at
    * the close (the t-closeness EMD machinery with physical units).
    * `slice` must take exactly two values; census-bounded
    * (`maxValues` guard); windows run over the value grid only.
    */
  def wasserstein1(df: DataFrame, slice: Column, value: Column,
      maxValues: Long = 2000000L): DataFrame = {
    val cells = graft.Caches.pin(
      df.where(slice.isNotNull)
        .select(slice.cast("string").as("slice"),
          value.cast("long").as("__v"))
        .groupBy(col("slice"), col("__v"))
        .agg(count(lit(1)).as("__c")))
    val slices = cells.select(col("slice")).distinct()
      .orderBy(col("slice")).limit(3).collect().map(_.getString(0))
    require(slices.length == 2,
      s"wasserstein1: need exactly 2 slices, saw ${slices.mkString(",")}")
    val Array(sa, sb) = slices
    val grid = cells.groupBy(col("__v")).agg(
      sum(when(col("slice") === sa, col("__c")).otherwise(lit(0L)))
        .as("__ca"),
      sum(when(col("slice") === sb, col("__c")).otherwise(lit(0L)))
        .as("__cb"))
    val nGrid = grid.count()
    require(nGrid <= maxValues,
      s"wasserstein1: $nGrid grid values exceed $maxValues — " +
        "quantize the value to a coarser grid")
    val totals = grid.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"))
    val wCum = Window.partitionBy(ScanOps.pinnedZero(col("__ca")))
      .orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy(ScanOps.pinnedZero(col("__ca")))
      .orderBy(col("__v"))
    val terms = grid
      .withColumn("__cumA", sum(col("__ca")).over(wCum))
      .withColumn("__cumB", sum(col("__cb")).over(wCum))
      .withColumn("__gap", lead(col("__v"), 1).over(wNext) - col("__v"))
      .where(col("__gap").isNotNull) // last grid point: F_a = F_b = 1
      .crossJoin(broadcast(totals))
      .select(col("__na"), col("__nb"),
        (abs(col("__cumA").cast("decimal(38,0)") * col("__nb") -
          col("__cumB").cast("decimal(38,0)") * col("__na")) *
          col("__gap")).as("__num"))
    terms.agg(first(col("__na")).as("n_a"), first(col("__nb")).as("n_b"),
        (count(lit(1)) + 1).as("grid_values"),
        sum(col("__num")).cast("double").as("__s"))
      .select(lit(sa).as("slice_a"), lit(sb).as("slice_b"),
        col("n_a"), col("n_b"), col("grid_values"),
        round(col("__s") / (col("n_a").cast("double") *
          col("n_b").cast("double")), 6).as("w1"))
  }

  /** NEXT-EVENT PREDICTION accuracy: train a majority-transition
    * predictor (the argmax row of q275's Markov matrix) on a hash
    * split of USERS, score exact-match accuracy on the held-out
    * users' transitions — the end-to-end eval that turns a
    * transition matrix into a graded model. Pairs come from per-key
    * lead windows (shuffles on the key, never a global sort); the
    * predictor is state-cardinality-bounded and joins back
    * broadcast; the split is the portable q70 hash of the key, so
    * train/test membership replays on any engine. Ties in the
    * majority vote break to the lexicographically smallest next
    * state. Emits one row per observed test state: state,
    * n_train_pairs, n_test_pairs, predicted, n_correct, accuracy
    * (predicted NULL when the state never appears in training —
    * those rows stay visible, scored 0).
    */
  def nextEventAccuracy(df: DataFrame, key: Column,
      seqCols: Seq[Column], state: Column): DataFrame = {
    require(seqCols.nonEmpty, "nextEventAccuracy: empty seq order")
    val w = Window.partitionBy(col("__k")).orderBy(seqCols: _*)
    val hash = pmod(graft.functions.PortableHash(col("__k"), 42L), lit(2L))
    val pairs = graft.Caches.pin(df
      .select((key.cast("long").as("__k") +: state.as("__st") +:
        seqCols): _*)
      .withColumn("__next", lead(col("__st"), 1).over(w))
      .where(col("__next").isNotNull)
      .select(col("__k"), col("__st"), col("__next"))
      .withColumn("__train", (hash === 0).cast("int")))
    val trainCounts = pairs.where(col("__train") === 1)
      .groupBy(col("__st"), col("__next"))
      .agg(count(lit(1)).as("__c"))
    val pred = trainCounts.groupBy(col("__st"))
      .agg(sum(col("__c")).as("n_train_pairs"),
        min(struct((-col("__c")).as("__nc"), col("__next")))
          .as("__best"))
      .select(col("__st"), col("n_train_pairs"),
        col("__best.__next").as("predicted"))
    pairs.where(col("__train") === 0)
      .join(broadcast(pred), Seq("__st"), "left")
      .groupBy(col("__st").as("state"))
      .agg(first(col("n_train_pairs")).as("n_train_pairs"),
        count(lit(1)).as("n_test_pairs"),
        first(col("predicted")).as("predicted"),
        sum((col("__next") === col("predicted")).cast("long"))
          .as("n_correct"))
      .na.fill(0L, Seq("n_train_pairs", "n_correct"))
      .withColumn("accuracy", round(col("n_correct").cast("double") /
        col("n_test_pairs").cast("double"), 6))
      .orderBy(col("state"))
  }

  /** Mutual information I(X; Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) per
    * candidate feature against a shared label — the model-free
    * feature-ranking screen. Features arrive pre-bucketed (grid
    * values); everything reduces to per-feature (value, label) cells
    * via ONE melted pass (posexplode of the feature array — the scan
    * reads each row once however many features are screened), exact
    * integer counts, census-bounded marginals joined back broadcast.
    * Emits one row per feature: feature, n_levels, mi_nats, plus the
    * label entropy h_y (same for every feature — the normalization
    * ceiling mi can reach).
    */
  def mutualInformation(df: DataFrame, features: Seq[(String, Column)],
      label: Column, maxCells: Long = 2000000L): DataFrame = {
    require(features.nonEmpty, "mutualInformation: no features")
    val melted = df.select(
        array(features.map { case (n, c) =>
          struct(lit(n).as("f"), c.cast("long").as("v")) }: _*)
          .as("__fs"),
        label.cast("long").as("__y"))
      .select(explode(col("__fs")).as("__fv"), col("__y"))
      .select(col("__fv.f").as("__f"), col("__fv.v").as("__v"),
        col("__y"))
    // pinned: the cell census feeds the guard plus three marginals
    val cells = graft.Caches.pin(
      melted.groupBy(col("__f"), col("__v"), col("__y"))
        .agg(count(lit(1)).as("__c")))
    val nCells = cells.count()
    require(nCells <= maxCells,
      s"mutualInformation: $nCells cells exceed $maxCells — " +
        "bucket the features to a coarser grid")
    val margV = cells.groupBy(col("__f"), col("__v"))
      .agg(sum(col("__c")).as("__cv"))
    val margY = cells.groupBy(col("__f"), col("__y"))
      .agg(sum(col("__c")).as("__cy"))
    val totals = cells.groupBy(col("__f")).agg(sum(col("__c")).as("__n"))
    val joined = cells
      .join(broadcast(margV), Seq("__f", "__v"))
      .join(broadcast(margY), Seq("__f", "__y"))
      .join(broadcast(totals), Seq("__f"))
    val cD = col("__c").cast("double"); val nD = col("__n").cast("double")
    val miTerm = (cD / nD) * log(cD * nD /
      (col("__cv").cast("double") * col("__cy").cast("double")))
    val hyTerm = col("__cy").cast("double") / col("__n").cast("double")
    val mi = joined.groupBy(col("__f")).agg(
      sum(dq(miTerm)).cast("double").as("__mi"),
      count_distinct(col("__v")).as("n_levels"),
      first(col("__n")).as("__ntot"))
    val hy = margY.join(broadcast(totals), Seq("__f"))
      .select(col("__f"),
        dq(-(hyTerm) * log(hyTerm)).as("__hyt"))
      .groupBy(col("__f"))
      .agg(sum(col("__hyt")).cast("double").as("__hy"))
    mi.join(broadcast(hy), Seq("__f"))
      .select(col("__f").as("feature"), col("n_levels"),
        round(col("__mi"), 6).as("mi_nats"),
        round(col("__hy"), 6).as("h_y"))
      .orderBy(col("feature"))
  }

  /** COHEN'S KAPPA inter-rater agreement (Cohen 1960) — "do two
    * annotators agree beyond chance": po = observed agreement, pe =
    * chance agreement from the marginals, κ = (po − pe)/(1 − pe).
    * The label-quality audit a training-data pipeline runs before
    * trusting human (or weak) labels.
    *
    * Exact-integer core: the (a, b) contingency census gives long
    * cell counts; the chance term Σ_k row_k·col_k and n² are built
    * in DECIMAL(38,0) (the q357 discipline — long products overflow
    * past ~3e9 rows), so κ = (n·Σdiag − Σrow·col)/(n² − Σrow·col)
    * is one double divide of two exact integers, emitted half-up at
    * ppm (κ, po, pe all bounded in [−1, 1] — quantum 1e-6 against
    * ≤2-ulp decimal→double cast wobble, safety ~1e10). Labels are
    * the bounded analysis dimension (`maxLabels` census guard).
    *
    * Emits one row: (n, po_ppm, pe_ppm, kappa_ppm).
    */
  def cohensKappa(df: DataFrame, raterA: Column, raterB: Column,
      maxLabels: Long = 10000L): DataFrame = {
    val cells = graft.Caches.pin(df
      .select(raterA.cast("string").as("__a"),
        raterB.cast("string").as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__c")))
    val nCells = cells.count()
    require(nCells <= maxLabels * maxLabels && nCells > 0,
      s"cohensKappa: $nCells label pairs — bucket the label space")
    val rows = cells.groupBy(col("__a").as("__k"))
      .agg(sum(col("__c")).as("__r"))
    val cols2 = cells.groupBy(col("__b").as("__k"))
      .agg(sum(col("__c")).as("__l"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val chance = rows.join(cols2, Seq("__k"), "inner")
      .agg(sum(dec(col("__r")) * dec(col("__l"))).as("__pe"))
    val agree = cells.agg(
      sum(col("__c")).as("__n"),
      sum(when(col("__a") === col("__b"), col("__c"))
        .otherwise(lit(0L))).as("__d"))
    def ppm(c: Column) = floor(c * lit(1e6) + lit(0.5)).cast("long")
    agree.crossJoin(broadcast(chance))
      .select(col("__n").as("n"),
        ppm(col("__d").cast("double") / col("__n").cast("double"))
          .as("po_ppm"),
        ppm(col("__pe").cast("double") /
          (dec(col("__n")) * dec(col("__n"))).cast("double"))
          .as("pe_ppm"),
        ppm((dec(col("__n")) * dec(col("__d")) - col("__pe"))
          .cast("double") /
          (dec(col("__n")) * dec(col("__n")) - col("__pe"))
            .cast("double")).as("kappa_ppm"))
  }

  /** AVERAGE PRECISION at k — the order-sensitive retrieval metric
    * [[rankingMetrics]] doesn't carry (its precision/recall/nDCG
    * family treats the top-k as a set or discounts by log; AP
    * integrates precision at every relevant hit):
    *   AP@k = (1/min(R,k)) Σ_{r≤k, rel(r)} hits_r / r.
    * Macro-averaging AP over queries gives MAP.
    *
    * Every term is exact on the lcm(1..k) lattice: hits_r/r scaled
    * by L = lcm(1..k) is the integer (L div r)·hits_r, the per-query
    * sum is an exact long, and the final value is one integer ppm
    * floor division — no float anywhere (k ≤ 20 keeps L·hits inside
    * long). Rank = (score desc, doc asc), the [[rankingMetrics]]
    * tiebreak. Queries with no relevant docs report 0.
    *
    * Emits one row per query: (query, n_candidates, n_relevant,
    * ap_ppm). Per-query window only — partitioned by query, never a
    * global sort.
    */
  def averagePrecisionAtK(df: DataFrame, query: Column, doc: Column,
      score: Column, gain: Column, k: Int = 10): DataFrame = {
    require(k >= 1 && k <= 20,
      s"averagePrecisionAtK: k $k outside [1,20] (lcm lattice bound)")
    def lcm(a: Long, b: Long): Long = {
      @annotation.tailrec def gcd(x: Long, y: Long): Long =
        if (y == 0L) x else gcd(y, x % y)
      a / gcd(a, b) * b
    }
    val bigL = (1L to k.toLong).reduce(lcm)
    val base = df.select(query.as("query"), doc.as("__d"),
      score.as("__s"), (gain > 0).cast("long").as("__rel"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query"))
      .orderBy(col("__s").desc, col("__d").asc)
    val ranked = base
      .withColumn("__rr", row_number().over(wRank).cast("long"))
      .withColumn("__hits", sum(col("__rel")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query")).orderBy(col("__rr"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)))
    ranked.groupBy(col("query")).agg(
      count(lit(1)).as("n_candidates"),
      sum(col("__rel")).cast("long").as("n_relevant"),
      sum(when(col("__rr") <= k && col("__rel") === 1L,
        expr(s"($bigL div __rr)") * col("__hits"))
        .otherwise(lit(0L))).cast("long").as("__apnum"))
      .select(col("query"), col("n_candidates"), col("n_relevant"),
        when(col("n_relevant") === 0L, lit(0L))
          .otherwise(expr(s"__apnum * 1000000L div " +
            s"($bigL * least(n_relevant, ${k}L))")).as("ap_ppm"))
      .orderBy(col("query"))
  }

  /** FLEISS' KAPPA (Fleiss 1971) — chance-corrected agreement for a
    * FIXED-SIZE anonymous panel: every unit rated by exactly m
    * raters (identities irrelevant — the crowdsourcing default,
    * where [[cohensKappa]]'s two named raters and
    * [[krippendorffAlpha]]'s variable panels don't fit). The
    * annotation-QA family's third member: run it when the labeling
    * job guarantees m judgments per item.
    *
    * With n_ij = ratings of unit i in category j, C_j = Σ_i n_ij,
    * N units, m raters:
    *
    *   P_o = Σ_i (Σ_j n_ij² − m) / (N·m·(m−1))
    *   P_e = Σ_j C_j² / (N·m)²
    *   kappa = (P_o − P_e) / (1 − P_e)
    *
    * Every numerator and denominator is an EXACT decimal(38,0)
    * integer, and kappa itself is formed from the cross-multiplied
    * integer form (Po_num·Pe_den − Pe_num·Po_den over
    * Po_den·(Pe_den − Pe_num)) — the only float steps are the three
    * final ppm quantizations of exact-integer ratios (the
    * [[cohensKappa]] discipline). Uniform panel size is REQUIRED
    * (min m == max m >= 2), checked on the unit census before
    * anything else runs.
    *
    * One data-sized hash aggregation ((unit, category) cells); all
    * later aggregates are census-sized. A single observed category
    * makes P_e = 1 and kappa 0/0 — emitted as an explicit null
    * (the [[cochranQ]] degenerate-denominator convention). Emits one
    * row: (n_units, m_raters, k_categories, po_ppm, pe_ppm,
    * kappa_ppm).
    */
  def fleissKappa(df: DataFrame, unit: Column,
      category: Column): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    def ppm(c: Column) = floor(c * lit(1e6) + lit(0.5)).cast("long")
    val cells = graft.Caches.pin(df
      .select(unit.cast("string").as("__u"),
        category.cast("string").as("__v"))
      .where(col("__u").isNotNull && col("__v").isNotNull)
      .groupBy(col("__u"), col("__v"))
      .agg(count(lit(1)).as("__c")))
    val units = cells.groupBy(col("__u"))
      .agg(sum(col("__c")).as("__m"),
        sum(col("__c") * col("__c")).as("__ss"))
    val chk = units.agg(min(col("__m")).as("mn"),
      max(col("__m")).as("mx")).head()
    require(!chk.isNullAt(0),
      "fleissKappa: no ratings after null filtering")
    require(chk.getAs[Long]("mn") == chk.getAs[Long]("mx") &&
      chk.getAs[Long]("mn") >= 2L,
      s"fleissKappa: panels must be uniform — every unit needs the " +
        s"same m >= 2 ratings (saw ${chk.getAs[Long]("mn")}.." +
        s"${chk.getAs[Long]("mx")}; filter upstream)")
    val obs = units.agg(
      count(lit(1)).cast("long").as("__nu"),
      max(col("__m")).cast("long").as("__mr"),
      sum(dec(col("__ss") - col("__m"))).as("__a"))
    val cats = cells.groupBy(col("__v"))
      .agg(sum(col("__c")).as("__cj"))
      .agg(count(lit(1)).cast("long").as("__k"),
        sum(dec(col("__cj")) * dec(col("__cj"))).as("__pe"))
    val poDen = dec(col("__nu")) * dec(col("__mr")) *
      dec(col("__mr") - lit(1L))
    val peDen = dec(col("__nu")) * dec(col("__nu")) *
      dec(col("__mr")) * dec(col("__mr"))
    obs.crossJoin(broadcast(cats))
      .select(col("__nu").as("n_units"), col("__mr").as("m_raters"),
        col("__k").as("k_categories"),
        ppm(col("__a").cast("double") / poDen.cast("double"))
          .as("po_ppm"),
        ppm(col("__pe").cast("double") / peDen.cast("double"))
          .as("pe_ppm"),
        when(peDen === col("__pe"), lit(null).cast("long"))
          .otherwise(ppm(
            (col("__a") * peDen - col("__pe") * poDen).cast("double") /
            (poDen * (peDen - col("__pe"))).cast("double")))
          .as("kappa_ppm"))
  }

  /** GWET'S AC1 (Gwet 2008) — the prevalence-robust alternative to
    * [[fleissKappa]]: kappa's chance term Σπ² EXPLODES toward 1
    * when one category dominates (the "kappa paradox" — near-perfect
    * observed agreement scoring near-zero kappa on imbalanced
    * labels, the normal state of moderation/safety annotation);
    * AC1's chance term (1/(k−1))·Σ_j π_j(1−π_j) stays small
    * exactly there. Run BOTH: divergence means prevalence, not
    * disagreement, is driving the number.
    *
    * Same uniform-m anonymous-panel contract, census shape and
    * integer lattice as [[fleissKappa]] (P_o identical); the chance
    * term's integer form is Pe_num = Σ_j C_j·(Nm − C_j) over
    * Pe_den = (k−1)·(Nm)², and AC1 closes from the cross-multiplied
    * integers with one ppm quantization. k = 1 observed category
    * makes AC1 0/0 — explicit null. Emits one row:
    * (n_units, m_raters, k_categories, po_ppm, pe_gamma_ppm,
    * ac1_ppm).
    */
  def gwetAc1(df: DataFrame, unit: Column,
      category: Column): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    def ppm(c: Column) = floor(c * lit(1e6) + lit(0.5)).cast("long")
    val cells = graft.Caches.pin(df
      .select(unit.cast("string").as("__u"),
        category.cast("string").as("__v"))
      .where(col("__u").isNotNull && col("__v").isNotNull)
      .groupBy(col("__u"), col("__v"))
      .agg(count(lit(1)).as("__c")))
    val units = cells.groupBy(col("__u"))
      .agg(sum(col("__c")).as("__m"),
        sum(col("__c") * col("__c")).as("__ss"))
    val chk = units.agg(min(col("__m")).as("mn"),
      max(col("__m")).as("mx")).head()
    require(!chk.isNullAt(0),
      "gwetAc1: no ratings after null filtering")
    require(chk.getAs[Long]("mn") == chk.getAs[Long]("mx") &&
      chk.getAs[Long]("mn") >= 2L,
      s"gwetAc1: panels must be uniform — every unit needs the " +
        s"same m >= 2 ratings (saw ${chk.getAs[Long]("mn")}.." +
        s"${chk.getAs[Long]("mx")}; filter upstream)")
    val obs = units.agg(
      count(lit(1)).cast("long").as("__nu"),
      max(col("__m")).cast("long").as("__mr"),
      sum(dec(col("__ss") - col("__m"))).as("__a"))
    val nm = dec(col("__nu")) * dec(col("__mr"))
    val cats = cells.groupBy(col("__v"))
      .agg(sum(col("__c")).as("__cj"))
      .agg(count(lit(1)).cast("long").as("__k"),
        sum(dec(col("__cj"))).as("__ct"),
        sum(dec(col("__cj")) * dec(col("__cj"))).as("__c2"))
    val poDen = dec(col("__nu")) * dec(col("__mr")) *
      dec(col("__mr") - lit(1L))
    // Σ C_j·(Nm − C_j) = Nm·ΣC_j − ΣC_j² = (Nm)² − ΣC_j²
    val peNum = nm * col("__ct") - col("__c2")
    val peDen = dec(col("__k") - lit(1L)) * nm * nm
    obs.crossJoin(broadcast(cats))
      .select(col("__nu").as("n_units"), col("__mr").as("m_raters"),
        col("__k").as("k_categories"),
        ppm(col("__a").cast("double") / poDen.cast("double"))
          .as("po_ppm"),
        when(col("__k") === 1L, lit(null).cast("long"))
          .otherwise(ppm(peNum.cast("double") / peDen.cast("double")))
          .as("pe_gamma_ppm"),
        when(col("__k") === 1L, lit(null).cast("long"))
          .otherwise(ppm(
            (col("__a") * peDen - peNum * poDen).cast("double") /
            (poDen * (peDen - peNum)).cast("double")))
          .as("ac1_ppm"))
  }

  /** KRIPPENDORFF'S ALPHA (nominal) — inter-annotator agreement for
    * the general labeling panel: any number of raters per unit,
    * missing ratings allowed, chance-corrected against the pooled
    * value distribution (Krippendorff 2004, Content Analysis §11).
    * The agreement audit to run on multi-annotator training labels
    * before trusting them; generalizes [[cohensKappa]] (2 fixed
    * raters) to crowdsourced panels.
    *
    * alpha = 1 − D_o/D_e with (nominal distance)
    *   D_o = (1/n) Σ_u (m_u² − Σ_c n_uc²) / (m_u − 1)
    *   D_e = (n² − Σ_c n_c²) / (n (n − 1))
    * over units with m_u ≥ 2 ratings. Every per-unit term is made
    * integer-exact by scaling with L = lcm(1..maxRaters−1) — the
    * same bounded-denominator trick as the Aalen–Johansen lattice —
    * so D_o's numerator Σ L·disagree_u/(m_u−1) is an exact
    * decimal(38,0) sum (order-independent), as are the D_e counts.
    * The only floating step is the final ppm quantization of two
    * exact-integer ratios (the cohensKappa discipline).
    *
    * `maxRaters` bounds ratings per unit (annotation panels are
    * narrow by construction); violating units fail the require
    * rather than silently skewing L. Emits one row:
    * (n_units, n_ratings, do_ppm, de_ppm, alpha_ppm).
    */
  def krippendorffAlpha(df: DataFrame, unit: Column, value: Column,
      maxRaters: Int = 16): DataFrame = {
    // cap 32: per-row disagree·(L/(m−1)) peaks near m²·L/(m−1)
    // ≈ 33·lcm(1..31) ≈ 2.4e15 — safely inside long; 42 would not be
    require(maxRaters >= 2 && maxRaters <= 32,
      s"krippendorffAlpha: maxRaters $maxRaters outside [2,32]")
    def lcm(a: Long, b: Long): Long = {
      @annotation.tailrec def gcd(x: Long, y: Long): Long =
        if (y == 0L) x else gcd(y, x % y)
      a / gcd(a, b) * b
    }
    val bigL = (1L to (maxRaters - 1).toLong).reduce(lcm)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val cells = graft.Caches.pin(df
      .select(unit.cast("string").as("__u"),
        value.cast("string").as("__v"))
      .where(col("__u").isNotNull && col("__v").isNotNull)
      .groupBy(col("__u"), col("__v"))
      .agg(count(lit(1)).as("__c")))
    // per-unit census over units with >= 2 ratings. pinned (r15):
    // the max-raters guard action, the observed-disagreement
    // aggregate, and the kept-units semi-join each re-ran this
    // grouped aggregate over the pinned cells
    val units = graft.Caches.pin(cells.groupBy(col("__u"))
      .agg(sum(col("__c")).as("__m"),
        sum(col("__c") * col("__c")).as("__ss"))
      .where(col("__m") >= 2))
    val mMaxRow = units.agg(max(col("__m"))).head()
    require(!mMaxRow.isNullAt(0),
      "krippendorffAlpha: no unit has >= 2 ratings — alpha undefined")
    val mMax = mMaxRow.getLong(0)
    require(mMax <= maxRaters,
      s"krippendorffAlpha: a unit has $mMax ratings > maxRaters " +
        s"$maxRaters — subsample the ratings of the crowded units")
    val obs = units.agg(
      count(lit(1)).as("n_units"),
      dec(sum(dec(col("__m")))).as("__n"),
      sum(dec((col("__m") * col("__m") - col("__ss")) *
        floor(lit(bigL.toDouble) / (col("__m") - lit(1))).cast("long")))
        .as("__aL"))
    // pooled value totals over the SAME kept units
    val kept = cells.join(units.select(col("__u")), Seq("__u"))
    val pooled = kept.groupBy(col("__v"))
      .agg(sum(col("__c")).as("__nc"))
      .agg(sum(dec(col("__nc")) * dec(col("__nc"))).as("__s2"))
    def ppm(c: Column) = floor(c * lit(1e6) + lit(0.5)).cast("long")
    obs.crossJoin(broadcast(pooled))
      .select(col("n_units"), col("__n").cast("long").as("n_ratings"),
        ppm(col("__aL").cast("double") /
          (lit(bigL) * col("__n")).cast("double")).as("do_ppm"),
        ppm((col("__n") * col("__n") - col("__s2")).cast("double") /
          (col("__n") * (col("__n") - lit(1))).cast("double"))
          .as("de_ppm"),
        ppm(lit(1.0) -
          (col("__aL") * (col("__n") - lit(1))).cast("double") /
          (lit(bigL) * (col("__n") * col("__n") - col("__s2")))
            .cast("double")).as("alpha_ppm"))
  }

  /** POPULATION STABILITY INDEX (the credit-scoring / model-
    * monitoring standard — e.g. Siddiqi 2006 §8; the one-number
    * "has the serving distribution drifted off the training one"
    * score, conventionally read as <0.1 stable, 0.1–0.25 shifting,
    * >0.25 drifted):
    *
    *   PSI = Σ_bins (p_i − q_i) · ln(p_i / q_i)
    *
    * with p from the BASE sample, q from the CURRENT one, over bins
    * cut at the base sample's exact discrete deciles (the
    * groupQuantilesDisc rank rule — engine-replayable, unlike
    * approximate cut points). Zero-count bins are handled by add-½
    * smoothing (the q151 DoReMi addK convention): shares are
    * (c + 0.5)/(N + B/2), so every ln argument is positive and the
    * operator is total.
    *
    * Determinism: counts and cut points are exact integers; each
    * bin's term is ONE fixed-shape double expression quantized to
    * decimal(38,6) before the order-free sum (the kruskalWallis
    * discipline), and the single ln site is margin-audited
    * (margin_manual.py). `value` must be integer-quantized (the
    * gini contract). Emits one row per bin (bin, lo_q, base_n,
    * cur_n, term_e6 exact) with the shared psi_e6 repeated —
    * psi_e6/1e6 is the PSI.
    */
  def psi(df: DataFrame, inBase: Column, value: Column,
      bins: Int = 10, maxDistinct: Long = 2000000L): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"psi: bins $bins")
    val rows = graft.Caches.pin(df.select(
      inBase.cast("boolean").as("__b"),
      value.cast("long").as("__v"))
      .where(col("__b").isNotNull && col("__v").isNotNull))
    // exact base decile cut points from the DISTINCT-VALUE census
    // (value-bounded prefix — the q245 rule; never a row-sized rank)
    // with INTEGER rank targets ceil(i·n/bins) = (i·n + bins−1) div
    // bins — no float p·n whose ceil could wobble on exact products
    val baseCensus = rows.where(col("__b"))
      .groupBy(col("__v")).agg(count(lit(1)).as("__c"))
    val nCensus = baseCensus.count()
    require(nCensus >= 1L && nCensus <= maxDistinct,
      s"psi: $nCensus distinct base values — quantize coarser")
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.ops.ScanOps.pinnedZero(col("__c")))
      .orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    val cum = baseCensus.withColumn("__cum", sum(col("__c")).over(wCum))
    val nBase = baseCensus.agg(sum(col("__c"))).head().getLong(0)
    val targets = (1 until bins).map { i =>
      (i, (i.toLong * nBase + bins - 1) / bins)
    }
    val spark = df.sparkSession
    import spark.implicits._
    val edgesDf = broadcast(targets.toDF("__i", "__target"))
      .join(cum, col("__cum") >= col("__target"))
      .groupBy(col("__i")).agg(min(col("__v")).as("__e"))
    val edges = edgesDf.collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).map(_._2)
      .toSeq
    // bin = count of edges strictly below the value (ties go LEFT —
    // a value equal to an edge lands in the lower bin, matching the
    // <= fold below); identical integer comparisons in the oracle
    val bin = edges.foldLeft(lit(0L)) { (acc, e) =>
      acc + when(col("__v") > e, 1L).otherwise(0L)
    }
    // left-join against the FULL 0..bins-1 list: duplicate decile
    // edges can leave a bin observed in neither sample, and the
    // add-half denominators (N + B/2) assume every bin contributes
    // its smoothed term — an absent row would silently drop it
    val allBins = spark.range(bins.toLong).select(col("id").as("bin"))
    val observed = rows.select(bin.as("bin"), col("__b"))
      .groupBy(col("bin"))
      .agg(sum(when(col("__b"), 1L).otherwise(0L)).as("base_n"),
        sum(when(col("__b"), 0L).otherwise(1L)).as("cur_n"))
    // broadcast the RIGHT (post-aggregation, <= bins rows) side —
    // a left-outer build side can't broadcast
    val binned = allBins.join(broadcast(observed), Seq("bin"), "left")
      .na.fill(0L, Seq("base_n", "cur_n"))
    val tot = binned.agg(sum(col("base_n")).as("__nb"),
      sum(col("cur_n")).as("__nc"))
    val half = lit(bins.toDouble / 2.0)
    val p = (col("base_n").cast("double") + lit(0.5)) /
      (col("__nb").cast("double") + half)
    val q = (col("cur_n").cast("double") + lit(0.5)) /
      (col("__nc").cast("double") + half)
    val term = (p - q) * log(p / q)
    val withTerm = binned.crossJoin(broadcast(tot))
      .withColumn("__t6", (term * lit(1e6)).cast("decimal(38,6)"))
    val psiAll = withTerm.agg(
      floor(sum(col("__t6")).cast("double") + lit(0.5)).cast("long")
        .as("psi_e6"))
    val lo = typedlit(edges.toArray)
    withTerm.crossJoin(broadcast(psiAll))
      .select(col("bin"),
        when(col("bin") === 0, lit(null).cast("long"))
          .otherwise(element_at(lo, col("bin").cast("int")))
          .as("lo_q"),
        col("base_n"), col("cur_n"),
        floor(col("__t6").cast("double") + lit(0.5)).cast("long")
          .as("term_e6"),
        col("psi_e6"))
      .orderBy(col("bin"))
  }

  /** COCHRAN'S Q test (Cochran 1950) — k binary treatments on the
    * same blocks: did ANY of the k variants change the success
    * rate, asked within-block so unit-level base rates cancel. The
    * k-way generalization of [[mcnemar]] (k=2 reduces to it) and
    * the binary sibling of the Friedman test.
    *
    *   Q = (k−1)·(k·ΣC_j² − N²) / (k·N − ΣR_i²)
    *
    * with C_j the per-treatment success totals, R_i the per-block
    * totals, N the grand total — numerator and denominator are
    * EXACT decimal(38,0) integers; only the final ratio (one fixed
    * double division) and its 6dp rounding touch floats. Complete
    * blocks REQUIRED (every treatment once per block). Emits one
    * row per treatment (treatment, n_blocks, successes) with the
    * shared (q_stat, df) repeated. All-constant blocks (denominator
    * 0) yield a null q_stat — the honest "no information" answer.
    */
  def cochranQ(df: DataFrame, block: Column, treatment: Column,
      success: Column): DataFrame = {
    // pinned (r15): guard action + per-treatment totals + per-block
    // row-sum squares are independent passes — unpinned, each re-ran
    // the caller's construction (the friedman fix; same shape)
    val rows = graft.Caches.pin(
      df.select(block.cast("string").as("__b"),
        treatment.cast("string").as("__t"),
        success.cast("boolean").cast("int").cast("long").as("__x"))
      .where(col("__b").isNotNull && col("__t").isNotNull &&
        col("__x").isNotNull))
    val bs = rows.groupBy(col("__b")).agg(count(lit(1)).as("__c"),
      countDistinct(col("__t")).as("__d"), sum(col("__x")).as("__r"))
    // uniform block size + within-block distinctness + GLOBAL
    // distinct-treatment count == block size: the last leg is what
    // rules out equal-sized blocks over DISJOINT treatment sets
    val chk = bs.agg(count(lit(1)).as("nb"),
      min(col("__c")).as("mn"), max(col("__c")).as("mx"),
      max((col("__c") =!= col("__d")).cast("int")).as("bad"))
      .crossJoin(broadcast(
        rows.agg(countDistinct(col("__t")).as("gk"))))
      .head()
    // empty-input leg FIRST: with zero blocks min/max are null and
    // the getAs unboxing below would NPE before any message
    require(chk.getAs[Long]("nb") >= 1L,
      "cochranQ: empty input (no non-null rows)")
    require(chk.getAs[Long]("mn") == chk.getAs[Long]("mx") &&
      chk.getAs[Int]("bad") == 0 && chk.getAs[Long]("mn") >= 2L &&
      chk.getAs[Long]("gk") == chk.getAs[Long]("mn"),
      "cochranQ: blocks must be complete — every block carries the " +
        "SAME k >= 2 treatments exactly once (filter upstream)")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val pt = graft.Caches.pin(rows.groupBy(col("__t")).agg(
      count(lit(1)).cast("long").as("n_blocks"),
      sum(col("__x")).cast("long").as("successes")))
    val colsAgg = pt.agg(
      count(lit(1)).cast("long").as("__k"),
      sum(dec(col("successes"))).as("__nn"),
      sum(dec(col("successes")) * dec(col("successes"))).as("__c2"))
    val rowsAgg = bs.agg(
      sum(dec(col("__r")) * dec(col("__r"))).as("__r2"))
    // all-constant blocks make numerator AND denominator 0; double
    // 0/0 is NaN, so the documented null needs an explicit branch
    val den = col("__k") * col("__nn") - col("__r2")
    val verdict = colsAgg.crossJoin(broadcast(rowsAgg))
      .select(
        when(den === lit(0), lit(null).cast("double"))
          .otherwise(
            round((col("__k") - lit(1L)).cast("double") *
              (col("__k") * col("__c2") - col("__nn") * col("__nn"))
                .cast("double") / den.cast("double"), 6))
          .as("q_stat"),
        (col("__k") - lit(1L)).as("df"))
    pt.crossJoin(broadcast(verdict))
      .select(col("__t").as("treatment"), col("n_blocks"),
        col("successes"), col("q_stat"), col("df"))
      .orderBy(col("treatment"))
  }

  /** INTRACLASS CORRELATION ICC(1,1) (Shrout & Fleiss 1979's
    * one-way random-effects case) — how much of the total rating
    * variance is BETWEEN units rather than within them: the
    * continuous-scale completion of the agreement family (kappa /
    * Krippendorff / Fleiss / Gwet judge categories; [[cronbachAlpha]]
    * asks whether ITEMS cohere; ICC asks whether repeated ratings of
    * the same unit cohere).
    *
    *   ICC = (MSB − MSW) / (MSB + (k−1)·MSW)
    *   MSB = [ΣS_i²/k − T²/(nk)] / (n−1),
    *   MSW = [ΣX² − ΣS_i²/k] / (n(k−1))
    *
    * Balanced panels required (every unit exactly k ≥ 2 ratings —
    * checked distributed, pre-collect, the [[cronbachAlpha]]
    * contract); `score` integer-quantized (the gini contract). All
    * sufficient statistics (T, ΣS_i², ΣX²) are EXACT decimal(38,0)
    * one-pass aggregates of per-unit sums; the close is ONE
    * fixed-shape double expression replayed verbatim by the oracle,
    * quantized to ppm. A zero denominator (all ratings equal) emits
    * an explicit null, not NaN. Emits one row:
    * (n_units, k_ratings, msb, msw, icc_ppm).
    */
  def icc(df: DataFrame, unit: Column, score: Column): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val rows = df.select(unit.cast("string").as("__u"),
      score.cast("long").as("__x"))
      .where(col("__u").isNotNull && col("__x").isNotNull)
    val us = graft.Caches.pin(rows.groupBy(col("__u")).agg(
      count(lit(1)).as("__c"),
      sum(dec(col("__x"))).as("__t"),
      sum(dec(col("__x")) * dec(col("__x"))).as("__q")))
    val chk = us.agg(count(lit(1)).as("n"),
      min(col("__c")).as("mn"), max(col("__c")).as("mx")).head()
    require(chk.getAs[Long]("n") >= 2L,
      "icc: need at least 2 units")
    require(chk.getAs[Long]("mn") == chk.getAs[Long]("mx") &&
      chk.getAs[Long]("mn") >= 2L,
      "icc: panels must be balanced — every unit needs the SAME " +
        "k >= 2 ratings (filter upstream)")
    val agg = us.agg(
      count(lit(1)).cast("long").as("n_units"),
      min(col("__c")).cast("long").as("k_ratings"),
      sum(col("__t")).as("__tt"),
      sum(col("__t") * col("__t")).as("__a2"),
      sum(col("__q")).as("__ss"))
    val nd = col("n_units").cast("double")
    val kd = col("k_ratings").cast("double")
    val td = col("__tt").cast("double")
    val ad = col("__a2").cast("double")
    val sd = col("__ss").cast("double")
    val ssb = ad / kd - td * td / (nd * kd)
    val ssw = sd - ad / kd
    val msb = ssb / (nd - lit(1.0))
    val msw = ssw / (nd * (kd - lit(1.0)))
    val den = msb + (kd - lit(1.0)) * msw
    agg.select(col("n_units"), col("k_ratings"),
      round(msb, 6).as("msb"), round(msw, 6).as("msw"),
      when(den === 0.0, lit(null)).otherwise(
        floor((msb - msw) / den * lit(1e6) + lit(0.5)).cast("long"))
        .as("icc_ppm"))
  }

  /** CRONBACH'S ALPHA (Cronbach 1951) — internal consistency of a
    * k-item scale: do the k per-unit measurements move together
    * enough to be averaged into one score? The reliability audit
    * run before collapsing multi-probe ratings into a single
    * label. Complete panels required (every item once per unit;
    * scores integer-quantized — the gini contract).
    *
    *   alpha = k/(k−1) · (1 − Σ_j var_j / var_total)
    *
    * computed with the common 1/(n(n−1)) factor cancelled:
    * A = Σ_j (n·ΣX_j² − (ΣX_j)²), B = n·ΣT_i² − (ΣT_i)² — both
    * EXACT decimal(38,0); one double ratio, one ppm quantization.
    * Emits one row: (n_units, k_items, alpha_ppm).
    */
  def cronbachAlpha(df: DataFrame, unit: Column, item: Column,
      score: Column): DataFrame = {
    val rows = df.select(unit.cast("string").as("__u"),
      item.cast("string").as("__i"),
      score.cast("long").as("__x"))
      .where(col("__u").isNotNull && col("__i").isNotNull &&
        col("__x").isNotNull)
    val us = rows.groupBy(col("__u")).agg(count(lit(1)).as("__c"),
      countDistinct(col("__i")).as("__d"), sum(col("__x")).as("__tt"))
    // same three-legged completeness contract as cochranQ: the
    // global distinct-item leg rejects disjoint equal-width panels
    val chk = us.agg(count(lit(1)).as("nu"),
      min(col("__c")).as("mn"), max(col("__c")).as("mx"),
      max((col("__c") =!= col("__d")).cast("int")).as("bad"))
      .crossJoin(broadcast(
        rows.agg(countDistinct(col("__i")).as("gk"))))
      .head()
    // empty-input leg FIRST: with zero units min/max are null and
    // the getAs unboxing below would NPE before any message
    require(chk.getAs[Long]("nu") >= 1L,
      "cronbachAlpha: empty input (no non-null rows)")
    require(chk.getAs[Long]("mn") == chk.getAs[Long]("mx") &&
      chk.getAs[Int]("bad") == 0 && chk.getAs[Long]("mn") >= 2L &&
      chk.getAs[Long]("gk") == chk.getAs[Long]("mn"),
      "cronbachAlpha: panels must be complete — every unit carries " +
        "the SAME k >= 2 items exactly once (filter upstream)")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val items = rows.groupBy(col("__i")).agg(
      sum(dec(col("__x"))).as("__s1"),
      sum(dec(col("__x")) * dec(col("__x"))).as("__s2"),
      count(lit(1)).cast("long").as("__n"))
    val ia = items.agg(
      count(lit(1)).cast("long").as("k_items"),
      min(col("__n")).as("n_units"),
      sum(dec(col("__n")) * col("__s2") - col("__s1") * col("__s1"))
        .as("__a"))
    val ua = us.agg(
      (dec(count(lit(1))) * sum(dec(col("__tt")) * dec(col("__tt"))) -
        sum(dec(col("__tt"))) * sum(dec(col("__tt")))).as("__bden"))
    def ppm(c: Column) = floor(c * lit(1e6) + lit(0.5)).cast("long")
    // __bden = n·ΣT² − (ΣT)² is exactly 0 when every unit's total is
    // equal — alpha's variance ratio is undefined there; explicit
    // null (the icc den===0 convention), never an ANSI error
    ia.crossJoin(broadcast(ua))
      .select(col("n_units"), col("k_items"),
        when(col("__bden") =!= 0,
          ppm(col("k_items").cast("double") /
            (col("k_items") - lit(1L)).cast("double") *
            (lit(1.0) - col("__a").cast("double") /
              col("__bden").cast("double")))).as("alpha_ppm"))
  }

  /** SPLIT-CONFORMAL PREDICTION INTERVAL (Vovk et al. 2005; Lei et
    * al. 2018) — distribution-free coverage from ANY point model:
    * hold out a calibration split, take q̂ = the ⌈(n+1)(1−α)⌉-th
    * smallest calibration residual, and ŷ ± q̂ covers ≥ 1−α of fresh
    * points with no assumptions on the model or the noise. The
    * uncertainty wrapper a served regression gets for free.
    *
    * Everything is exact integer arithmetic: the split is the
    * portable multiplicative-hash lattice (q70 — replayable on any
    * engine), `residualQ` must be integer-quantized by the caller
    * (the gini contract — conformal on a quantized score is still
    * conformal), the rank pick runs over the DISTINCT-residual
    * census (value-bounded, not row-bounded — the q245 rule; guarded
    * by `maxDistinct`), k is computed in decimal(38,0), and coverage
    * closes by integer ppm floor division. Emits one row:
    * (n_cal, n_test, k, qhat_q, n_covered, coverage_ppm) — qhat_q
    * and downstream NULL when α is too small for the calibration
    * size (k > n_cal: the honest "not enough data" answer).
    */
  def splitConformal(df: DataFrame, id: Column, residualQ: Column,
      alphaPpm: Long = 100000L, calPpm: Long = 500000L,
      seed: Long = 42L, maxDistinct: Long = 1000000L): DataFrame = {
    require(alphaPpm > 0 && alphaPpm < 1000000L,
      s"splitConformal: alphaPpm $alphaPpm")
    require(calPpm > 0 && calPpm < 1000000L,
      s"splitConformal: calPpm $calPpm")
    val h = graft.functions.PortableHash(id, seed)
    val rows = df.select(residualQ.cast("long").as("__r"),
      (pmod(h, lit(1000000L)) < calPpm).as("__cal"))
    val census = graft.Caches.pin(rows.groupBy(col("__r")).agg(
      sum(when(col("__cal"), 1L).otherwise(0L)).as("__cc"),
      sum(when(!col("__cal"), 1L).otherwise(0L)).as("__ct")))
    val nDistinct = census.count()
    require(nDistinct <= maxDistinct,
      s"splitConformal: $nDistinct distinct residuals exceed " +
        s"$maxDistinct — coarsen the residual grid")
    val tot = census.agg(
      sum(col("__cc")).as("__ncal"), sum(col("__ct")).as("__ntest"))
    // k = ceil((n_cal + 1)(1 − α)) in exact decimal integers
    val withK = tot.select(col("__ncal"), col("__ntest"),
      expr(s"CAST(((CAST(__ncal AS DECIMAL(38,0)) + 1) * " +
        s"${1000000L - alphaPpm} + 999999) div 1000000 AS BIGINT)")
        .as("__k"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(ScanOps.pinnedZero(col("__r"))).orderBy(col("__r"))
      .rowsBetween(Long.MinValue, 0)
    val cum = census.withColumn("__cum", sum(col("__cc")).over(wq))
      .crossJoin(broadcast(withK))
    val qrow = cum.agg(
      max(col("__ncal")).as("n_cal"),
      max(col("__ntest")).as("n_test"),
      max(col("__k")).as("k"),
      min(when(col("__cum") >= col("__k"), col("__r"))).as("qhat_q"))
    census.crossJoin(broadcast(qrow))
      .groupBy(col("n_cal"), col("n_test"), col("k"), col("qhat_q"))
      .agg(sum(when(col("__r") <= col("qhat_q"), col("__ct"))
        .otherwise(lit(0L))).as("n_covered"))
      .select(col("n_cal"), col("n_test"), col("k"), col("qhat_q"),
        when(col("qhat_q").isNotNull, col("n_covered"))
          .as("n_covered"),
        when(col("qhat_q").isNotNull,
          expr("n_covered * 1000000L div n_test"))
          .as("coverage_ppm"))
  }

  /** McNEMAR'S TEST for paired classifiers (McNemar 1947, with the
    * Edwards continuity correction) — "is model B actually better
    * than model A on the SAME examples": only the discordant cells
    * vote (b = A right / B wrong, c = A wrong / B right),
    * χ² = (|b−c|−1)²/(b+c), two-sided p via the engine-portable
    * normal CDF (χ²(1df) = Z², so p = 2(1−Φ(√χ²))). The paired
    * comparison an unpaired accuracy diff gets wrong when the
    * models' errors overlap.
    *
    * Exact-integer core: b and c are exact longs from one grouped
    * pass; the squared numerator is decimal(38,0) (no overflow at
    * any n); χ² feeds [[Experiment.phiAbs]]'s fixed-order close.
    * Emits one row: (n, b, c, p_value 6dp; p = 1 when b + c = 0).
    */
  def mcnemar(df: DataFrame, correctA: Column, correctB: Column)
      : DataFrame = {
    val counted = df.select(correctA.cast("boolean").as("__ca"),
        correctB.cast("boolean").as("__cb"))
      .where(col("__ca").isNotNull && col("__cb").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(when(col("__ca") && !col("__cb"), 1L).otherwise(0L))
          .as("b"),
        sum(when(!col("__ca") && col("__cb"), 1L).otherwise(0L))
          .as("c"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val num = dec(abs(col("b") - col("c")) - 1L)
    val chi = (num * num).cast("double") /
      (col("b") + col("c")).cast("double")
    counted.select(col("n"), col("b"), col("c"),
      when(col("b") + col("c") === 0, lit(1.0))
        .otherwise(round(lit(2.0) *
          (lit(1.0) - Experiment.phiAbs(sqrt(chi))), 6))
        .as("p_value"))
  }
}
