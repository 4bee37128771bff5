package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cox proportional hazards (Cox 1972), Breslow tie handling — the
  * survival REGRESSION the Kaplan-Meier / log-rank family (q245,
  * q289, q292) cannot give: hazard ratios per covariate with
  * standard errors.
  *
  * Execution shape: the partial-likelihood score needs risk-set sums
  * Σ_{t' ≥ t} over event times — a suffix scan over the DISTINCT-
  * DURATION census (bounded by time resolution, days here), never a
  * per-row window. Each Newton iteration is ONE distributed pass:
  * per-duration grouped aggregate (map-side partial) → census suffix
  * window → one collected row of (gradient, information, ll); the
  * driver holds only the k-vector β and the k×k information matrix.
  * At 100 TB that is `iterations × one shuffle of |distinct
  * durations| rows` — the data never sorts globally and never
  * collects.
  */
object Cox {

  /** Exact risk-set table at INTEGER weights — the engine-replayable
    * core of the partial likelihood (the oracle twin's surface): per
    * distinct event time, the death count d and the risk-set sums
    * S0 = Σ_{t_j ≥ t} w_j, S1 = Σ_{t_j ≥ t} w_j·x_j. Integer lattice
    * in, integers out: suffix sums replay bit-for-bit on any engine.
    * The solver path ([[fit]]) runs the same census+suffix shape with
    * w = exp(x·β).
    */
  def riskSets(df: DataFrame, duration: Column, event: Column,
      weight: Column, x: Column, maxDistinct: Long = 1000000L)
      : DataFrame = {
    val rows = df.select(duration.cast("long").as("__t"),
      event.cast("long").as("__e"), weight.cast("long").as("__w"),
      (weight.cast("long") * x.cast("long")).as("__wx"))
    val census = rows.groupBy(col("__t")).agg(
      sum(col("__e")).as("__d"),
      sum(col("__w")).as("__w0"),
      sum(col("__wx")).as("__w1"))
    val n = census.count()
    require(n <= maxDistinct,
      s"Cox.riskSets: $n distinct durations exceeds $maxDistinct " +
        "— coarsen the time grid")
    val w = Window.partitionBy(ScanOps.pinnedZero(col("__d")))
      .orderBy(col("__t").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    census
      .withColumn("s0", sum(col("__w0")).over(w).cast("long"))
      .withColumn("s1", sum(col("__w1")).over(w).cast("long"))
      .where(col("__d") > 0)
      .select(col("__t").as("t"), col("__d").as("d"),
        col("s0"), col("s1"))
      .orderBy(col("t"))
  }

  /** Solve the symmetric positive-definite k×k system A·x = b by
    * Gauss-Jordan with partial pivoting, returning (x, A⁻¹). k ≤ a
    * handful — plain driver arithmetic, no linear-algebra dependency.
    */
  private def solveWithInverse(a0: Array[Array[Double]],
      b0: Array[Double]): (Array[Double], Array[Array[Double]]) = {
    val k = b0.length
    // augmented [A | I | b]
    val m = Array.tabulate(k, 2 * k + 1) { (i, j) =>
      if (j < k) a0(i)(j)
      else if (j < 2 * k) { if (j - k == i) 1.0 else 0.0 }
      else b0(i)
    }
    for (piv <- 0 until k) {
      var best = piv
      for (r <- piv + 1 until k)
        if (math.abs(m(r)(piv)) > math.abs(m(best)(piv))) best = r
      val tmp = m(piv); m(piv) = m(best); m(best) = tmp
      require(math.abs(m(piv)(piv)) > 1e-300,
        "Cox.fit: singular information matrix (collinear covariates?)")
      val d = m(piv)(piv)
      for (j <- 0 to 2 * k) m(piv)(j) /= d
      for (r <- 0 until k if r != piv) {
        val f = m(r)(piv)
        if (f != 0.0) for (j <- 0 to 2 * k) m(r)(j) -= f * m(piv)(j)
      }
    }
    (Array.tabulate(k)(i => m(i)(2 * k)),
      Array.tabulate(k, k)((i, j) => m(i)(j + k)))
  }

  /** Standard normal upper-tail doubled — the driver-side mirror of
    * [[Experiment.phiAbs]] (same A&S 7.1.26 polynomial).
    */
  private def twoSidedP(zAbs: Double): Double = {
    val t = 1.0 / (1.0 + 0.2316419 * zAbs)
    val poly = t * (0.319381530 + t * (-0.356563782 +
      t * (1.781477937 + t * (-1.821255978 + t * 1.330274429))))
    2.0 * (math.exp(-(zAbs * zAbs) / 2.0) / 2.5066282746310002 * poly)
  }

  /** Fit β by Newton-Raphson on the Breslow partial log-likelihood.
    * `features` are (name, column) pairs — keep k small (this is a
    * hazard-ratio read, not a feature screen). Emits one row per
    * covariate: feature, beta, hr, se, z, p_value, with the fit
    * evidence (ll0, ll, n_events, iters, converged) repeated.
    *
    * In-plan gates (the solver-entry contract): the fit must improve
    * on the null likelihood and the gradient must have collapsed —
    * refuse rather than return a wrong regression.
    */
  def fit(df: DataFrame, duration: Column, event: Column,
      features: Seq[(String, Column)], maxIter: Int = 25,
      tol: Double = 1e-9, maxDistinct: Long = 1000000L): DataFrame = {
    require(features.nonEmpty && features.size <= 8,
      s"Cox.fit: 1..8 covariates, got ${features.size}")
    val k = features.size
    val sel = Seq(duration.cast("long").as("__t"),
      event.cast("long").as("__e")) ++
      features.zipWithIndex.map { case ((_, c), j) =>
        c.cast("double").as(s"__x$j") }
    val rows = df.select(sel: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nDistinct = rows.select(col("__t")).distinct().count()
      require(nDistinct <= maxDistinct,
        s"Cox.fit: $nDistinct distinct durations exceeds $maxDistinct " +
          "— round the durations to a coarser time grain")

      def pass(beta: Array[Double])
          : (Array[Double], Array[Array[Double]], Double, Long) = {
        val eta = (0 until k)
          .map(j => col(s"__x$j") * lit(beta(j)))
          .reduce(_ + _)
        val wgt = exp(eta)
        val perT = Seq(
          sum(col("__e")).as("__d"),
          sum(wgt).as("__w0"),
          sum(when(col("__e") === 1, eta)).as("__seta")) ++
          (0 until k).map(j =>
            sum(wgt * col(s"__x$j")).as(s"__w1_$j")) ++
          (for { i <- 0 until k; j <- i until k } yield
            sum(wgt * col(s"__x$i") * col(s"__x$j"))
              .as(s"__w2_${i}_$j")) ++
          (0 until k).map(j =>
            sum(when(col("__e") === 1, col(s"__x$j"))).as(s"__sx_$j"))
        val census = rows.groupBy(col("__t"))
          .agg(perT.head, perT.tail: _*)
        val w = Window.partitionBy(ScanOps.pinnedZero(col("__d")))
          .orderBy(col("__t").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        // one select for every suffix sum (r15): the withColumn
        // chain stacked k(k+3)/2+1 nested Projects that the analyzer
        // re-resolved on every Newton pass — planning, not tasks,
        // dominates these ~0.65s/pass census jobs
        val suffCols = Seq(sum(col("__w0")).over(w).as("__S0")) ++
          (0 until k).map(j =>
            sum(col(s"__w1_$j")).over(w).as(s"__S1_$j")) ++
          (for { i <- 0 until k; j <- i until k } yield
            sum(col(s"__w2_${i}_$j")).over(w).as(s"__S2_${i}_$j"))
        val suff = census.select(col("*") +: suffCols: _*)
        val ev = suff.where(col("__d") > 0)
        val dD = col("__d").cast("double")
        val totals = Seq(
          sum(coalesce(col("__seta"), lit(0.0)) -
            dD * log(col("__S0"))).as("__ll"),
          sum(col("__d")).as("__nev")) ++
          (0 until k).map(j =>
            sum(coalesce(col(s"__sx_$j"), lit(0.0)) -
              dD * col(s"__S1_$j") / col("__S0")).as(s"__g_$j")) ++
          (for { i <- 0 until k; j <- i until k } yield
            sum(dD * (col(s"__S2_${i}_$j") / col("__S0") -
              col(s"__S1_$i") * col(s"__S1_$j") /
                (col("__S0") * col("__S0")))).as(s"__h_${i}_$j"))
        val r = ev.agg(totals.head, totals.tail: _*).collect()(0)
        val g = Array.tabulate(k)(j => r.getAs[Double](s"__g_$j"))
        val h = Array.ofDim[Double](k, k)
        for (i <- 0 until k; j <- i until k) {
          h(i)(j) = r.getAs[Double](s"__h_${i}_$j"); h(j)(i) = h(i)(j)
        }
        (g, h, r.getAs[Double]("__ll"), r.getAs[Long]("__nev"))
      }

      var beta = Array.fill(k)(0.0)
      var (g, h, ll, nev) = pass(beta)
      val ll0 = ll
      var iter = 0
      var converged = math.sqrt(g.map(x => x * x).sum) < tol
      var lastH = h
      while (!converged && iter < maxIter) {
        val (delta, _) = solveWithInverse(h, g)
        beta = beta.zip(delta).map { case (b, d) => b + d }
        val next = pass(beta)
        g = next._1; lastH = next._2
        converged = math.sqrt(g.map(x => x * x).sum) < tol ||
          math.abs(next._3 - ll) < tol
        ll = next._3
        h = next._2
        iter += 1
      }
      require(converged,
        s"Cox.fit: Newton did not converge in $maxIter iterations")
      // The solver-entry contract says the GRADIENT must have
      // collapsed — the ll-delta stop alone could exit a near-flat
      // step on ill-conditioned data with an unconverged gradient.
      // Enforce a loose absolute bound (the ll-delta stop normally
      // lands orders below it; this is the refuse-rather-than-wrong
      // gate, not the stopping rule).
      val gNorm = math.sqrt(g.map(x => x * x).sum)
      require(gNorm < math.max(tol * 1e6, 1e-3),
        s"Cox.fit: ll converged but gradient norm $gNorm has not " +
          "collapsed — ill-conditioned fit, refusing")
      require(ll >= ll0 - 1e-9,
        s"Cox.fit: fitted ll $ll below null ll $ll0 — solver broken")
      val (_, inv) = solveWithInverse(lastH,
        Array.fill(k)(0.0))
      val spark = df.sparkSession
      import spark.implicits._
      features.zipWithIndex.map { case ((name, _), j) =>
        val se = math.sqrt(inv(j)(j))
        val z = beta(j) / se
        (name, math.rint(beta(j) * 1e6) / 1e6,
          math.rint(math.exp(beta(j)) * 1e6) / 1e6,
          math.rint(se * 1e6) / 1e6, math.rint(z * 1e6) / 1e6,
          math.rint(twoSidedP(math.abs(z)) * 1e6) / 1e6,
          math.rint(ll0 * 1e4) / 1e4, math.rint(ll * 1e4) / 1e4,
          nev, iter.toLong)
      }.toDF("feature", "beta", "hr", "se", "z", "p_value",
        "ll0", "ll", "n_events", "iters")
        .orderBy(col("feature"))
    } finally rows.unpersist(blocking = false)
  }
}
