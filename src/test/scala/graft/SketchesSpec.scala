package graft

import graft.llmdata.{Sampling, Similarity, Sketches}
import org.apache.spark.sql.functions._

/** Sketch-backed exact operators: Misra-Gries heavy hitters, the HLL
  * distinct audit, Bloom-prefiltered novelty, per-domain caps, and
  * cluster-balanced sampling. Every test checks EXACTNESS against an
  * independently computed answer — the sketches bound work, never
  * change results.
  */
class SketchesSpec extends SparkSuite {
  import spark.implicits._

  test("heavyHitters: exact on a skewed stream across partitions, " +
      "threshold boundary respected") {
    // zipf-ish: token i appears 1000 / (i+1) times, 40 tokens
    val occurrences = (0 until 40).flatMap { i =>
      Seq.fill(1000 / (i + 1))(s"tok$i")
    }
    val n = occurrences.size.toLong
    val df = spark.createDataset(
        scala.util.Random.shuffle(occurrences)).toDF("token")
      .repartition(7) // MG summaries must merge across partitions
    val k = 10
    val got = Sketches.heavyHitters(df, "token", k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Caches.release()
    val truth = occurrences.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
      .filter { case (_, c) => c * (k + 1) > n }
    assert(got == truth, s"got $got\nexpected $truth")
    assert(got.nonEmpty && got.size < 40,
      "test must be discriminating: some tokens in, some out")
  }

  test("heavyHitters: no false negatives even when k is smaller than " +
      "the candidate spill (pigeonhole over partitions)") {
    // one dominant token buried in noise, tiny k
    val occ = Seq.fill(700)("dominant") ++
      (0 until 2000).map(i => s"noise$i")
    val df = spark.createDataset(scala.util.Random.shuffle(occ))
      .toDF("token").repartition(5)
    val got = Sketches.heavyHitters(df, "token", k = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Caches.release()
    // n = 2700; 700 * (k+1) = 3500 > 2700, and no noise token can
    // reach the strictly-greater threshold
    assert(got == Map("dominant" -> 700L))
  }

  test("distinctAudit: exact per-group distinct counts; gate passes " +
      "at sane tolerance") {
    val df = (0 until 5000).map(i => (s"g${i % 3}", s"u${i % (7 + i % 3 * 50)}"))
      .toDF("grp", "unit")
    val got = Sketches.distinctAudit(df, "grp", "unit",
        maxRelErr = 0.2, rsd = 0.02)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = df.groupBy("grp").agg(countDistinct(col("unit")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == truth)
  }

  test("quantileAudit: exact per-group quantiles; rank gate passes " +
      "at sane tolerance, including heavily tied data") {
    val df = ((0 until 4000).map(i => ("a", i.toDouble)) ++
      (0 until 4000).map(i => ("b", (i % 5).toDouble))) // 5 tied values
      .toDF("grp", "v")
    val got = Sketches.quantileAudit(df, "grp", "v",
        probs = Seq(0.25, 0.5, 0.75), rankTol = 0.05)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    graft.Caches.release()
    val truth = df.groupBy("grp")
      .agg(expr("percentile(v, array(0.25D, 0.5D, 0.75D))").as("q"))
      .collect().flatMap { r =>
        val qs = r.getSeq[Double](1)
        Seq(0.25, 0.5, 0.75).zip(qs).map { case (p, q) =>
          (r.getString(0), p) ->
            BigDecimal(q).setScale(4, BigDecimal.RoundingMode.HALF_UP)
              .toDouble }
      }.toMap
    assert(got == truth)
  }

  test("quantileAudit: an under-provisioned sketch trips the rank " +
      "gate in-plan") {
    val df = (0 until 20000).map(i => ("a", i.toDouble)).toDF("grp", "v")
    // accuracy 1 keeps O(1) samples — its rank error on 20k distinct
    // values cannot stay within 0.1% of target
    val e = intercept[Throwable] {
      Sketches.quantileAudit(df, "grp", "v", probs = Seq(0.5),
        rankTol = 0.001, accuracyOverride = 1).collect()
    }
    graft.Caches.release()
    def mentions(t: Throwable): Boolean = t != null &&
      (String.valueOf(t.getMessage).contains("quantileAudit") ||
        mentions(t.getCause))
    assert(mentions(e), s"unexpected failure: $e")
  }

  test("bloomNovel: equals the exact anti-join with planted dups, " +
      "even with an undersized, high-fpp filter") {
    val seen = (0 until 1000).map(i => s"key$i").toDF("k")
    // incoming: 200 true dups + 300 novel
    val incoming = ((500 until 700) ++ (5000 until 5300))
      .map(i => (i.toLong, s"key$i")).toDF("id", "k")
    val expected = (5000 until 5300).map(_.toLong).toSet
    // well-sized filter
    val a = Sketches.bloomNovel(seen, incoming, "k", 1000, 0.01)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == expected)
    // degenerate filter: undersized + huge fpp -> everything lands in
    // the maybe-set; the exact verify stage must still win
    val b = Sketches.bloomNovel(seen, incoming, "k", 10, 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(b == expected)
  }

  test("domainCap: cap respected, survivors are the lowest-hash ids " +
      "per domain, deterministic across runs") {
    val df = (0L until 200L).map(i => (i, s"d${i % 5}")).toDF("id", "dom")
    val cap = 7
    val got = Sampling.domainCap(df, col("dom"), "id", cap, seed = 9L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDom = got.groupBy(_._2)
    assert(byDom.forall(_._2.size == cap), s"every domain hits cap=$cap")
    // expected: per domain, the cap ids with smallest (bucket, id)
    def bucket(id: Long): Long =
      ((id * 2654435761L + 9L) % 1000000007L) % 1000000L
    val expect = (0L until 200L).groupBy(i => s"d${i % 5}").view
      .mapValues(_.sortBy(i => (bucket(i), i)).take(cap).toSet).toMap
    assert(byDom.view.mapValues(_.map(_._1).toSet).toMap == expect)
    val again = Sampling.domainCap(df, col("dom"), "id", cap, seed = 9L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("domainCap heavy-domain path: a planted half-corpus domain " +
      "takes the shuffle-free hash-rate cap, light domains stay " +
      "exact, and a threshold no domain crosses changes nothing") {
    val rows = (0L until 1000L).map(i => (i, "big")) ++
      (1000L until 1200L).map(i => (i, s"d${i % 4}"))
    val df = rows.toDF("id", "dom")
    val cap = 20
    def bucket(id: Long): Long =
      ((id * 2654435761L + 9L) % 1000000007L) % 1000000L
    // threshold 500 < |big| = 1000: big must take the rate path —
    // kept iff bucket < cap/|big| of the hash space, NOT the exact
    // window's lowest-cap rule (that difference is the proof the
    // heavy rows never entered the window shuffle)
    val got = Sampling.domainCap(df, col("dom"), "id", cap, seed = 9L,
        heavyThreshold = 500L)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val cut = BigDecimal(cap) * 1000000L / 1000L
    val expBig = (0L until 1000L).filter(i => bucket(i) < cut).toSet
    val gotBig = got.filter(_._2 == "big").map(_._1).toSet
    assert(gotBig == expBig, "heavy domain must follow the hash-rate rule")
    assert(gotBig.size >= cap / 2 && gotBig.size <= cap * 2,
      s"rate cap keeps ~cap rows, got ${gotBig.size} for cap=$cap")
    val windowTop = (0L until 1000L)
      .sortBy(i => (bucket(i), i)).take(cap).toSet
    assert(gotBig != windowTop,
      "rate-kept set coincides with the window rule — proof vacuous")
    // light domains (50 rows each, <= threshold): exact window rule
    val expLight = (1000L until 1200L).groupBy(i => s"d${i % 4}").view
      .mapValues(_.sortBy(i => (bucket(i), i)).take(cap).toSet).toMap
    val gotLight = got.filter(_._2 != "big").groupBy(_._2).view
      .mapValues(_.map(_._1).toSet).toMap
    assert(gotLight == expLight)
    // a threshold no domain crosses leaves the output identical to
    // the default (pure exact-window) form
    val a = Sampling.domainCap(df, col("dom"), "id", cap, seed = 9L)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val b = Sampling.domainCap(df, col("dom"), "id", cap, seed = 9L,
        heavyThreshold = 2000L)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(a.toSeq == b.toSeq)
  }

  test("urlHost extracts the host portably; non-URLs yield empty") {
    val rows = Seq("https://a.example.com/x/y?z=1", "http://b.co",
      "ftp://c.d.e/#frag", "not a url")
      .toDF("u").select(Sampling.urlHost(col("u")))
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("a.example.com", "b.co", "c.d.e", ""))
  }

  test("clusterSample: nCells=1 degenerates to the perCell lowest-" +
      "hash ids; clustered run respects the per-cell cap exactly") {
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 300L).map(i =>
      (i, Array.fill(4)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val perCell = 25
    val flat = Similarity.clusterSample(vecs, "vec_id", "embedding",
        nCells = 1, perCell = perCell)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def bucket(id: Long): Long =
      ((id * 2654435761L + 42L) % 1000000007L) % 1000000L
    val expect = (0L until 300L).sortBy(i => (bucket(i), i))
      .take(perCell).toSet
    assert(flat == expect)
    val clustered = Similarity.clusterSample(vecs, "vec_id",
        "embedding", nCells = 6, perCell = perCell, maxIter = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val perCellCounts = clustered.groupBy(_._2).view.mapValues(_.size)
    assert(perCellCounts.values.forall(_ <= perCell),
      s"cell over cap: $perCellCounts")
    assert(clustered.map(_._1).distinct.length == clustered.length,
      "no vector sampled twice")
  }

  test("count-min: estimates never undercount, exact on a sparse " +
      "sketch, and total mass is preserved per row") {
    import spark.implicits._
    val words = Seq.fill(50)("alpha") ++ Seq.fill(20)("beta") ++
      Seq.fill(7)("gamma") ++ Seq("delta")
    val toks = words.toDF("tok")
    val cms = Sketches.countMin(toks, "tok", depth = 4, width = 256)
    // every row of the sketch holds ALL the mass
    val perRow = cms.groupBy("row").agg(sum("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 3L).forall(perRow(_) == words.length.toLong))
    val est = Sketches.countMinEstimate(cms,
        Seq("alpha", "beta", "gamma", "delta", "absent"), 4, 256)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = Map("alpha" -> 50L, "beta" -> 20L, "gamma" -> 7L,
      "delta" -> 1L, "absent" -> 0L)
    truth.foreach { case (t, n) =>
      assert(est(t) >= n, s"$t undercounted: ${est(t)} < $n")
    }
    // 4 distinct tokens in 4x256 cells: collisions essentially
    // impossible -> exact
    assert(est == truth, s"sparse sketch should be exact: $est")
  }

  test("conservative count-min: true <= conservative <= plain per " +
      "token, strictly better under forced collisions, grouped " +
      "sketches independent") {
    import spark.implicits._
    // width 2 forces heavy collisions: plain cells sum colliding
    // counts, conservative cells take the max
    val words = (0 until 30).flatMap(i =>
      Seq.fill(30 - i)(s"w$i")) // w0 x30 ... w29 x1, 465 tokens
    val toks = words.toDF("tok")
    val (depth, width) = (4, 2)
    val plain = Sketches.countMin(toks, "tok", depth, width)
    val cons = Sketches.countMinConservative(toks, "tok", depth, width)
    val probe = (0 until 30).map(i => s"w$i")
    val pEst = Sketches.countMinEstimate(plain, probe, depth, width)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cEst = Sketches.countMinEstimate(cons, probe, depth, width)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = words.groupBy(identity).view.mapValues(_.size.toLong)
    probe.foreach { t =>
      assert(cEst(t) >= truth(t), s"$t undercounted: ${cEst(t)}")
      assert(cEst(t) <= pEst(t), s"$t worse than plain: " +
        s"${cEst(t)} > ${pEst(t)}")
    }
    // with 30 tokens in 2 cells/row the improvement must be strict
    // somewhere (max of a multiset of positive counts < its sum)
    assert(probe.exists(t => cEst(t) < pEst(t)),
      s"conservative never improved: $cEst vs $pEst")
    // grouped: two sources with disjoint masses — each group's
    // estimate reflects only its own census
    val grouped = Sketches.countMinConservative(
      (words.map(("s1", _)) ++ Seq.fill(9)(("s2", "w0")))
        .toDF("source", "tok"),
      "tok", depth, width, grpCols = Seq("source"))
    val gEst = Sketches.countMinEstimate(grouped, Seq("w0"), depth,
        width, grpCols = Seq("source"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getLong(2)).toMap
    assert(gEst(("s2", "w0")) == 9L, s"s2 leaked: $gEst")
    assert(gEst(("s1", "w0")) >= 30L && gEst(("s1", "w0")) < 39L,
      s"s1 mixed with s2: $gEst")
  }

  test("joinSizeEstimate: min-of-dots never undercuts the true join " +
      "size, exact when the sketch is collision-free") {
    import spark.implicits._
    // A: key k appears k times (k=1..20); B: each key once ->
    // true |A join B| = sum k = 210
    val a = (1 to 20).flatMap(k => Seq.fill(k)(k.toLong)).toDF("k")
    val b = (1L to 20L).toDF("k")
    val dots = Sketches.joinSizeEstimate(a, "k", b, "k",
        depth = 4, width = 1024)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dots.size == 4)
    val est = dots.values.min
    assert(est >= 210L, s"undercut: $est")
    // 20 keys in 4x1024 cells: collision-free -> exact
    assert(est == 210L, s"collision-free sketch should be exact: $est")
    // forced collisions (width 2): still never undercuts
    val coarse = Sketches.joinSizeEstimate(a, "k", b, "k",
        depth = 4, width = 2)
      .collect().map(_.getLong(1)).min
    assert(coarse >= 210L, s"undercut under collisions: $coarse")
  }
}
