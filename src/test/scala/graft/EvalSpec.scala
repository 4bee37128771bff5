package graft

import graft.ops.{DataQuality, Eval, Experiment}
import org.apache.spark.sql.functions._

/** Hand-computed textbook cases for the evaluation/audit batch
  * (ranking metrics, scoring rules, one-pass k-fold, mutual
  * information, power analysis, SRM, t-closeness) — each statistic is
  * small enough to check by pencil, pinning the arithmetic
  * independently of the DuckDB oracle's replay of the same formulas.
  */
class EvalSpec extends SparkSuite {
  import spark.implicits._

  // several Eval/DataQuality ops pin census intermediates; drop the
  // blocks after every test like Verify/Bench do between entries
  override protected def withFixture(test: NoArgTest) =
    try super.withFixture(test) finally graft.Caches.release()

  test("rankingMetrics: hand-computed precision/recall/MRR/nDCG at " +
      "k=2 with graded gains") {
    // realized order (score desc): d1(g2) d2(g0) d3(g1) d4(g0)
    val df = Seq(("q", 1L, 10L, 2L), ("q", 2L, 9L, 0L),
      ("q", 3L, 8L, 1L), ("q", 4L, 7L, 0L))
      .toDF("q", "d", "s", "g")
    val r = Eval.rankingMetrics(df, col("q"), col("d"), col("s"),
      col("g"), k = 2).collect()(0)
    assert(r.getAs[Long]("n_candidates") == 4)
    assert(r.getAs[Long]("n_relevant") == 2)
    assert(r.getAs[Double]("precision_k") == 0.5) // 1 hit in top-2
    assert(r.getAs[Double]("recall_k") == 0.5)    // 1 of 2 relevant
    assert(r.getAs[Double]("mrr") == 1.0)         // first hit at rank 1
    // DCG@2 = (2^2-1)/log2(2) = 3; IDCG@2 = 3 + (2^1-1)/log2(3)
    val idcg = 3.0 + 1.0 / (math.log(3.0) / math.log(2.0))
    assert(math.abs(r.getAs[Double]("ndcg_k") - 3.0 / idcg) < 1e-6)
  }

  test("rankingMetrics: no relevant docs zeroes every metric; score " +
      "ties break by doc ascending") {
    val none = Seq(("q", 1L, 5L, 0L), ("q", 2L, 4L, 0L))
      .toDF("q", "d", "s", "g")
    val r0 = Eval.rankingMetrics(none, col("q"), col("d"), col("s"),
      col("g"), k = 1).collect()(0)
    assert(r0.getAs[Double]("recall_k") == 0.0 &&
      r0.getAs[Double]("mrr") == 0.0 && r0.getAs[Double]("ndcg_k") == 0.0)
    // equal scores: doc 1 must take rank 1, so the gain on doc 2 is
    // NOT a rank-1 hit — and MRR is truncated at k (MRR@k), so a
    // first relevant at rank 2 with k=1 reports 0, consistent with
    // precision_k = 0
    val tie = Seq(("q", 1L, 5L, 0L), ("q", 2L, 5L, 1L))
      .toDF("q", "d", "s", "g")
    val rt = Eval.rankingMetrics(tie, col("q"), col("d"), col("s"),
      col("g"), k = 1).collect()(0)
    assert(rt.getAs[Double]("mrr") == 0.0) // rank 2 is past k=1
    val rt2 = Eval.rankingMetrics(tie, col("q"), col("d"), col("s"),
      col("g"), k = 2).collect()(0)
    assert(rt2.getAs[Double]("mrr") == 0.5) // inside k=2: 1/rank 2
  }

  test("logLossBrier: p=0.5 on a balanced segment is ln2 / 0.25; a " +
      "confident-wrong row hits the eps clip, not infinity") {
    val bal = Seq(("a", 0.5, 1L), ("a", 0.5, 0L), ("a", 0.5, 1L),
      ("a", 0.5, 0L)).toDF("seg", "p", "y")
    val r = Eval.logLossBrier(bal, col("seg"), col("p"), col("y"))
      .collect()(0)
    assert(r.getAs[Double]("log_loss") == math.rint(math.log(2.0) * 1e6) / 1e6)
    assert(r.getAs[Double]("brier") == 0.25)
    val wrong = Seq(("a", 0.0, 1L)).toDF("seg", "p", "y")
    val rw = Eval.logLossBrier(wrong, col("seg"), col("p"), col("y"))
      .collect()(0)
    // -ln(1e-6) = 13.815511; brier uses the raw p, so (0-1)^2 = 1
    assert(rw.getAs[Double]("log_loss") == 13.815511)
    assert(rw.getAs[Double]("brier") == 1.0)
  }

  test("logLossBrier: census guard refuses an unquantized p") {
    val df = (1 to 50).map(i => ("a", i / 50.0, i % 2L)).toDF("seg", "p", "y")
    val e = intercept[IllegalArgumentException] {
      Eval.logLossBrier(df, col("seg"), col("p"), col("y"), maxCells = 10)
    }
    assert(e.getMessage.contains("cells exceed"))
  }

  test("kFoldOls: each fold's closed-form coefficients and RMSE " +
      "equal a direct refit on the complement") {
    val data = (1L to 200L).map { i =>
      val x = (i % 17).toDouble
      (i, x, 3.0 + 2.0 * x + (i % 7).toDouble - 3.0) // noisy line
    }
    val df = data.toDF("id", "x", "y")
    val got = Eval.kFoldOls(df, col("id"), col("x"), col("y"), k = 4)
      .collect().map(r => r.getAs[Long]("fold") ->
        ((r.getAs[Long]("n_train"), r.getAs[Long]("n_test"),
          r.getAs[Double]("slope"), r.getAs[Double]("intercept"),
          r.getAs[Double]("rmse")))).toMap
    // replicate the portable fold hash and refit directly in Scala
    def fold(id: Long): Long = ((id * 2654435761L + 42L) % 1000000007L) % 4L
    (0L until 4L).foreach { f =>
      val test = data.filter(t => fold(t._1) == f)
      val train = data.filter(t => fold(t._1) != f)
      val n = train.size.toDouble
      val sx = train.map(_._2).sum; val sy = train.map(_._3).sum
      val sxx = train.map(t => t._2 * t._2).sum
      val sxy = train.map(t => t._2 * t._3).sum
      val b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val a = (sy - b * sx) / n
      val rmse = math.sqrt(test.map(t =>
        math.pow(t._3 - a - b * t._2, 2)).sum / test.size)
      val (nTr, nTe, gb, ga, gr) = got(f)
      assert(nTr == train.size && nTe == test.size)
      assert(math.abs(gb - b) < 1e-5, s"fold $f slope $gb vs $b")
      assert(math.abs(ga - a) < 1e-5, s"fold $f intercept $ga vs $a")
      assert(math.abs(gr - rmse) < 1e-5, s"fold $f rmse $gr vs $rmse")
    }
  }

  test("mutualInformation: a feature identical to the label carries " +
      "exactly H(Y); an independent one carries zero") {
    // 2x2 balanced: copy feature = label, noise feature independent
    val df = (0 until 40).map { i =>
      val y = i % 2L
      (y, (i / 2) % 2L, y) // (copy, noise, label)
    }.toDF("copy", "noise", "y")
    val got = Eval.mutualInformation(df,
        Seq("a_copy" -> col("copy"), "b_noise" -> col("noise")),
        label = col("y"))
      .collect().map(r => r.getAs[String]("feature") ->
        ((r.getAs[Double]("mi_nats"), r.getAs[Double]("h_y"),
          r.getAs[Long]("n_levels")))).toMap
    val ln2 = math.rint(math.log(2.0) * 1e6) / 1e6
    assert(got("a_copy")._1 == ln2 && got("a_copy")._2 == ln2)
    assert(got("b_noise")._1 == 0.0 && got("b_noise")._2 == ln2)
    assert(got("a_copy")._3 == 2 && got("b_noise")._3 == 2)
  }

  test("confusionStats: hand contingency — a predicted-only class " +
      "keeps its zero row instead of vanishing") {
    val df = Seq(("a", "a"), ("a", "b"), ("b", "b"), ("b", "c"))
      .toDF("act", "prd")
    val got = Eval.confusionStats(df, col("act"), col("prd"))
      .collect().map(r => r.getAs[String]("cls") ->
        ((r.getAs[Long]("n_actual"), r.getAs[Long]("n_predicted"),
          r.getAs[Long]("tp"), r.getAs[Double]("precision"),
          r.getAs[Double]("recall"), r.getAs[Double]("f1")))).toMap
    assert(got("a") == ((2L, 1L, 1L, 1.0, 0.5, 0.666667)))
    assert(got("b") == ((2L, 2L, 1L, 0.5, 0.5, 0.5)))
    assert(got("c") == ((0L, 1L, 0L, 0.0, 0.0, 0.0)))
  }

  test("backtestSeasonalNaive: hand series — MAE/RMSE/MASE over the " +
      "points where both lookbacks exist; constant series yields a " +
      "null MASE, a calendar gap drops the origin") {
    val d = (i: Int) => java.sql.Date.valueOf(s"2020-01-0$i")
    val s = Seq(("k", d(1), 1.0), ("k", d(2), 2.0), ("k", d(3), 3.0),
      ("k", d(4), 5.0), ("k", d(5), 8.0)).toDF("k", "d", "y")
    val r = Eval.backtestSeasonalNaive(s, col("k"), col("d"), col("y"),
      season = 2).collect()(0)
    // eval days 3,4,5: |3-1|+|5-2|+|8-3| = 10; naive |3-2|+|5-3|+|8-5| = 6
    assert(r.getAs[Long]("n_eval") == 3)
    assert(r.getAs[Double]("mae") == 3.333333)
    // rmse rounds 4dp since r11 (margin-sweep hardening)
    assert(r.getAs[Double]("rmse") ==
      math.rint(math.sqrt(38.0 / 3.0) * 1e4) / 1e4)
    assert(r.getAs[Double]("mase") == 1.666667)
    val const = Seq(("k", d(1), 7.0), ("k", d(2), 7.0), ("k", d(3), 7.0))
      .toDF("k", "d", "y")
    val rc = Eval.backtestSeasonalNaive(const, col("k"), col("d"),
      col("y"), season = 2).collect()(0)
    assert(rc.getAs[Double]("mae") == 0.0 && rc.isNullAt(rc.fieldIndex("mase")))
    // day 4 missing: origins needing it (5 via season, 5 via naive) drop
    val gap = Seq(("k", d(1), 1.0), ("k", d(2), 2.0), ("k", d(3), 3.0),
      ("k", d(5), 8.0)).toDF("k", "d", "y")
    val rg = Eval.backtestSeasonalNaive(gap, col("k"), col("d"),
      col("y"), season = 2).collect()(0)
    assert(rg.getAs[Long]("n_eval") == 1) // only day 3 has both
  }

  test("thresholdSweep: hand census — suffix-sum tp/fp at every " +
      "threshold, max-F1 flagged once at the best operating point") {
    val df = Seq((1L, 0L), (2L, 1L), (3L, 0L), (3L, 1L))
      .toDF("s", "y")
    val got = Eval.thresholdSweep(df, col("s"), col("y"))
      .collect().map(r => r.getAs[Long]("threshold") ->
        ((r.getAs[Long]("tp"), r.getAs[Long]("fp"),
          r.getAs[Long]("fn"), r.getAs[Double]("precision"),
          r.getAs[Double]("recall"), r.getAs[Double]("f1"),
          r.getAs[Int]("is_best")))).toMap
    assert(got(1L) == ((2L, 2L, 0L, 0.5, 1.0, 0.666667, 0)))
    assert(got(2L) == ((2L, 1L, 0L, 0.666667, 1.0, 0.8, 1)))
    assert(got(3L) == ((1L, 1L, 1L, 0.5, 0.5, 0.5, 0)))
    assert(got.values.map(_._7).sum == 1) // exactly one best
  }

  test("brierDecomposition: perfectly calibrated bins carry zero " +
      "reliability and the decomposition reassembles the raw Brier") {
    // bin p=0.2: 1/5 positive; bin p=0.8: 4/5 positive
    val rows = (Seq.fill(4)((0.2, 0L)) :+ ((0.2, 1L))) ++
      (Seq.fill(4)((0.8, 1L)) :+ ((0.8, 0L)))
    val df = rows.toDF("p", "y")
    val r = Eval.brierDecomposition(df, col("p"), col("y"))
      .collect()(0)
    assert(r.getAs[Long]("n") == 10 && r.getAs[Long]("n_bins") == 2)
    assert(r.getAs[Double]("reliability") == 0.0)
    assert(r.getAs[Double]("resolution") == 0.09)
    assert(r.getAs[Double]("uncertainty") == 0.25)
    assert(r.getAs[Double]("brier") == 0.16)
    // cross-check against the raw per-row mean squared error
    val raw = Eval.logLossBrier(df.withColumn("seg", lit("x")),
      col("seg"), col("p"), col("y")).collect()(0)
    assert(raw.getAs[Double]("brier") == r.getAs[Double]("brier"))
  }

  test("wasserstein1: mass moved two grid units costs 2, identical " +
      "slices cost 0, a unit shift costs 1") {
    val far = Seq(("a", 0L), ("a", 0L), ("b", 2L), ("b", 2L))
      .toDF("s", "v")
    val rf = Eval.wasserstein1(far, col("s"), col("v")).collect()(0)
    assert(rf.getAs[Double]("w1") == 2.0)
    assert(rf.getAs[Long]("grid_values") == 2)
    val same = Seq(("a", 1L), ("a", 5L), ("b", 1L), ("b", 5L))
      .toDF("s", "v")
    assert(Eval.wasserstein1(same, col("s"), col("v"))
      .collect()(0).getAs[Double]("w1") == 0.0)
    val shift = Seq(("a", 0L), ("a", 1L), ("b", 1L), ("b", 2L))
      .toDF("s", "v")
    assert(Eval.wasserstein1(shift, col("s"), col("v"))
      .collect()(0).getAs[Double]("w1") == 1.0)
    val three = Seq(("a", 1L), ("b", 1L), ("c", 1L)).toDF("s", "v")
    intercept[IllegalArgumentException] {
      Eval.wasserstein1(three, col("s"), col("v"))
    }
  }

  test("nextEventAccuracy: majority predictor from hash-train users " +
      "scored on held-out transitions; unseen states stay visible " +
      "with a NULL prediction") {
    // users 3,4 hash to train; 1,2 to test (the portable q70 hash)
    val ev = Seq(
      (3L, 1, "a"), (3L, 2, "b"), (3L, 3, "a"), (3L, 4, "b"),
      (4L, 1, "a"), (4L, 2, "b"),
      (1L, 1, "a"), (1L, 2, "b"), (1L, 3, "b"),
      (2L, 1, "z"), (2L, 2, "b"), (2L, 3, "a"))
      .toDF("u", "ord", "et")
    val got = Eval.nextEventAccuracy(ev, col("u"), Seq(col("ord")),
        col("et"))
      .collect().map(r => r.getAs[String]("state") ->
        ((r.getAs[Long]("n_train_pairs"), r.getAs[Long]("n_test_pairs"),
          Option(r.getAs[String]("predicted")),
          r.getAs[Long]("n_correct"), r.getAs[Double]("accuracy"))))
      .toMap
    assert(got("a") == ((3L, 1L, Some("b"), 1L, 1.0)), s"got $got")
    assert(got("b") == ((1L, 2L, Some("a"), 1L, 0.5)), s"got $got")
    assert(got("z") == ((0L, 1L, None, 0L, 0.0)), s"got $got")
  }

  test("nextEventAccuracy: user ids past Long.MaxValue / 2654435761 " +
      "split by the same portable hash without overflowing") {
    // exact h(u) = (u·2654435761 + 42) mod 1e9+7; even -> train
    def parity(u: Long) =
      ((BigInt(u) * 2654435761L + 42) mod 1000000007L) mod 2
    assert(parity(4000000002L) == 0 && parity(4000000000L) == 1)
    val ev = Seq(
      (4000000002L, 1, "a"), (4000000002L, 2, "b"),
      (4000000000L, 1, "a"), (4000000000L, 2, "b"), (4000000000L, 3, "c"))
      .toDF("u", "ord", "et")
    val got = Eval.nextEventAccuracy(ev, col("u"), Seq(col("ord")),
        col("et"))
      .collect().map(r => r.getAs[String]("state") ->
        ((r.getAs[Long]("n_train_pairs"), r.getAs[Long]("n_test_pairs"),
          Option(r.getAs[String]("predicted")),
          r.getAs[Long]("n_correct"))))
      .toMap
    assert(got == Map("a" -> ((1L, 1L, Some("b"), 1L)),
      "b" -> ((0L, 1L, None, 0L))), s"got $got")
  }

  test("invPhiUpper: inside the A&S 4.5e-4 envelope at the standard " +
      "planning quantiles") {
    val r = Seq(0.025, 0.2, 0.05, 0.005).toDF("p")
      .select(col("p"), Experiment.invPhiUpper(col("p")).as("z"))
      .collect().map(x => x.getDouble(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(0.025) - 1.959964) < 5e-4)
    assert(math.abs(r(0.2) - 0.841621) < 5e-4)
    assert(math.abs(r(0.05) - 1.644854) < 5e-4)
    assert(math.abs(r(0.005) - 2.575829) < 5e-4)
  }

  test("powerSampleSize: matches the Fleiss closed form computed " +
      "directly at a 50% baseline, and n shrinks as mde grows") {
    val df = (1 to 1000).map(i => ("s", (i % 2).toLong)).toDF("seg", "y")
    val r = Experiment.powerSampleSize(df, col("seg"), col("y"),
      mde = 0.02).collect()(0)
    // replicate the A&S inverse with the SAME association order as the
    // Column expression — identical doubles in one JVM, so the ceil
    // cannot straddle a boundary
    def invPhi(p: Double): Double = {
      val t = math.sqrt(-2.0 * math.log(p))
      t - (2.515517 + t * (0.802853 + t * 0.010328)) /
        (1.0 + t * (1.432788 + t * (0.189269 + t * 0.001308)))
    }
    val za = invPhi(0.025); val zb = invPhi(1.0 - 0.8)
    assert(math.abs(r.getAs[Double]("z_alpha") - za) < 1e-6)
    val (p1, p2) = (0.5, 0.52); val pb = (p1 + p2) / 2.0
    val s = za * math.sqrt(2.0 * pb * (1.0 - pb)) +
      zb * math.sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))
    val n = s * s / ((p2 - p1) * (p2 - p1))
    assert(r.getAs[Long]("n_per_arm") == math.ceil(n).toLong)
    assert(r.getAs[Long]("weeks_needed") ==
      math.ceil(2.0 * n / 1000.0).toLong)
    val r2 = Experiment.powerSampleSize(df, col("seg"), col("y"),
      mde = 0.1).collect()(0)
    assert(r2.getAs[Long]("n_per_arm") < r.getAs[Long]("n_per_arm"))
  }

  test("srmCheck: balanced arms pass with chi2 0; a 600/400 split " +
      "under a 50/50 design trips the flag with chi2 exactly 40") {
    val ok = (1L to 100L).map(i => ("e1", i % 2)).toDF("exp", "a")
    val r = Experiment.srmCheck(ok, col("exp"), col("a") === 1L)
      .collect()(0)
    assert(r.getAs[Double]("chi2") == 0.0 &&
      r.getAs[Double]("p_value") == 1.0 && r.getAs[Int]("srm_flag") == 0)
    val bad = ((1 to 600).map(_ => ("e2", 1L)) ++
      (1 to 400).map(_ => ("e2", 0L))).toDF("exp", "a")
    val rb = Experiment.srmCheck(bad, col("exp"), col("a") === 1L)
      .collect()(0)
    // chi2 = 100^2/500 + 100^2/500 = 40
    assert(rb.getAs[Double]("chi2") == 40.0)
    assert(rb.getAs[Int]("srm_flag") == 1)
    assert(rb.getAs[Long]("n_a") == 600 && rb.getAs[Long]("n_b") == 400)
  }

  test("srmCheck: honors a non-even design ratio") {
    // 90/10 observed under a 0.9 design: no mismatch
    val df = ((1 to 90).map(_ => ("e", 1L)) ++
      (1 to 10).map(_ => ("e", 0L))).toDF("exp", "a")
    val r = Experiment.srmCheck(df, col("exp"), col("a") === 1L,
      ratioA = 0.9).collect()(0)
    assert(r.getAs[Double]("chi2") == 0.0 && r.getAs[Int]("srm_flag") == 0)
  }

  test("tCloseness: two disjoint-value groups each sit at EMD 0.5 " +
      "from the pooled distribution; a mirrored group sits at 0") {
    // global v-counts {0: 2, 1: 2}; group A all v=0, group B all v=1
    val df = Seq(("A", 0L), ("A", 0L), ("B", 1L), ("B", 1L))
      .toDF("g", "v")
    val got = DataQuality.tCloseness(df, Seq("g"), col("v"),
        tPpm = 400000L)
      .collect().map(r => r.getAs[String]("g") ->
        ((r.getAs[Double]("emd"), r.getAs[Int]("at_risk")))).toMap
    assert(got("A") == ((0.5, 1)) && got("B") == ((0.5, 1)))
    // a group mirroring the global mix exactly has EMD 0
    val mix = Seq(("A", 0L), ("A", 1L), ("B", 0L), ("B", 1L))
      .toDF("g", "v")
    val gm = DataQuality.tCloseness(mix, Seq("g"), col("v"),
      tPpm = 400000L).collect()
    assert(gm.forall(_.getAs[Double]("emd") == 0.0))
    assert(gm.forall(_.getAs[Int]("at_risk") == 0))
  }

  test("tCloseness: ordered EMD sees DISTANCE, not just difference — " +
      "mass two grid steps away scores twice one step away") {
    // global {0: 2, 1: 2, 2: 2}; group N (near) holds {0,1}, group F
    // (far) holds {0,2}: both differ from global by the same cell
    // deltas, but F's misplaced mass travels further
    val df = Seq(("N", 0L), ("N", 1L), ("F", 0L), ("F", 2L),
      ("G", 1L), ("G", 2L)).toDF("g", "v")
    val got = DataQuality.tCloseness(df, Seq("g"), col("v"),
        tPpm = 990000L)
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Double]("emd"))
      .toMap
    // m=3: EMD = (|d1| + |d1+d2|)/2 with per-value deltas d = P - Q
    // N: deltas (1/2-1/3, 1/2-1/3) -> prefixes 1/6, 1/3 -> EMD 0.25
    // F: deltas (1/6, -1/3) -> prefixes 1/6, -1/6 -> EMD 1/6
    assert(got("N") == 0.25)
    assert(got("F") == 0.166667)
  }

  test("tCloseness: census guards refuse unbounded sensitive grids " +
      "and group lattices") {
    val wide = (1 to 100).map(i => ("g", i.toLong)).toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      DataQuality.tCloseness(wide, Seq("g"), col("v"), tPpm = 1000L,
        maxValues = 10)
    }
    assert(e.getMessage.contains("sensitive values"))
    val manyG = (1 to 100).map(i => (s"g$i", 1L)).toDF("g", "v")
    val e2 = intercept[IllegalArgumentException] {
      DataQuality.tCloseness(manyG, Seq("g"), col("v"), tPpm = 1000L,
        maxGroups = 10)
    }
    assert(e2.getMessage.contains("groups exceed"))
  }
}
