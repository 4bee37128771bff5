package graft.llmdata

import graft.functions.{PortableHash, PortableTokenHash}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-backed operators whose OUTPUT is exact: each pairs a
  * bounded-memory streaming summary (Misra-Gries, Bloom, HLL) with an
  * exact confirmation stage, so the sketch bounds the work while the
  * answer stays oracle-checkable. This is the 100 TB shape for
  * "frequency/membership over an unbounded key space": never shuffle
  * the full key space; shuffle only what the sketch could not rule
  * out.
  */
object Sketches {

  /** EXACT heavy hitters over a unit stream (one row per occurrence):
    * all units with count strictly greater than n/(k+1), with their
    * exact counts.
    *
    * Pass 1 runs Misra-Gries (k counters) per partition — no shuffle;
    * each partition returns at most k candidate units plus its row
    * count. MG guarantees any unit with partition count > n_p/(k+1)
    * survives that partition's summary, and a unit with global count
    * > n/(k+1) must exceed the per-partition threshold somewhere (if
    * c_p <= n_p/(k+1) for every p then c <= n/(k+1)), so the union of
    * partition summaries is a SUPERSET of the true heavy hitters —
    * no false negatives, ever. Pass 2 counts ONLY the candidates
    * (broadcast semi-join; at most k x partitions keys shuffle, not
    * the vocabulary) and keeps cnt * (k+1) > n in exact integer
    * arithmetic. Versus a raw groupBy over the unit column, the
    * shuffle shrinks from |vocabulary| keys to <= k x partitions —
    * the difference between a token census and a full-vocab shuffle
    * at corpus scale.
    *
    * The unit stream is usually derived (tokenize+explode), and both
    * passes consume it, so it is pinned via [[graft.Caches]] — release
    * via the scoped handle / release() after materializing.
    *
    * Output: (unit-named column, cnt), exact.
    */
  def heavyHitters(units: DataFrame, unit: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = units.sparkSession
    import spark.implicits._
    val u = graft.Caches.pin(units.select(col(unit).cast("string").as("__u"))
      .where(col("__u").isNotNull))
    // (candidates, partition row count) per partition; the driver
    // sees <= k strings + one long per partition — bounded by
    // construction, not by data size
    val summaries = u.as[String].mapPartitions { it =>
      val m = new scala.collection.mutable.HashMap[String, Long]()
      var n = 0L
      it.foreach { t =>
        n += 1L
        m.get(t) match {
          case Some(c) => m.update(t, c + 1L)
          case None =>
            if (m.size < k) m.update(t, 1L)
            else { // the MG decrement-all step
              m.mapValuesInPlace((_, v) => v - 1L)
              m.filterInPlace((_, v) => v > 0L)
            }
        }
      }
      Iterator.single((m.keysIterator.toArray.toSeq, n))
    }.collect()
    val total = summaries.map(_._2).sum
    val cands = summaries.iterator.flatMap(_._1).toArray.distinct.toSeq
    val cdf = cands.toDF("__u")
    u.join(broadcast(cdf), Seq("__u"))
      .groupBy(col("__u"))
      .agg(count(lit(1)).as("cnt"))
      // exact integer comparison: cnt > total/(k+1) without division
      .where(col("cnt") * lit(k + 1L) > lit(total))
      .select(col("__u").as(unit), col("cnt"))
  }

  /** Per-group EXACT distinct counts, with the HLL sketch riding the
    * same aggregate as an in-plan audit: if the approximate count
    * (relative standard deviation `rsd`) drifts from the exact count
    * by more than `maxRelErr`, the query raises instead of returning.
    *
    * At test scale this certifies the sketch against ground truth; at
    * 100 TB the certified sketch runs ALONE (drop the countDistinct —
    * `approx_count_distinct` is a fixed-width mergeable partial
    * aggregate, no two-stage distinct expansion), which is the point:
    * the audit is how you earn the right to trust the cheap path.
    */
  def distinctAudit(df: DataFrame, grp: String, unit: String,
      maxRelErr: Double = 0.1, rsd: Double = 0.02): DataFrame = {
    require(maxRelErr > 0, s"maxRelErr must be > 0, got $maxRelErr")
    df.groupBy(col(grp))
      .agg(countDistinct(col(unit)).as("n_distinct"),
        approx_count_distinct(col(unit), rsd).as("__approx"))
      .withColumn("n_distinct",
        when(abs(col("__approx") - col("n_distinct")).cast("double") >
            col("n_distinct").cast("double") * maxRelErr,
          raise_error(concat(lit("distinctAudit: HLL estimate "),
            col("__approx"), lit(" vs exact "), col("n_distinct"),
            lit(s" exceeds rel err $maxRelErr")))
            .cast("long"))
          .otherwise(col("n_distinct")))
      .drop("__approx")
  }

  /** Ingest-time novelty filter, EXACT: rows of `incoming` whose
    * `key` does not occur in `seen`. A Bloom filter over the seen
    * keys (built distributed — Spark merges per-partition filters by
    * OR) broadcasts to the incoming scan; rows the filter rules out
    * are definitely novel and never shuffle, and only the "maybe"
    * residue — true duplicates plus an `fpp` fraction of the novel
    * side — pays the exact anti-join. No false negatives (Bloom never
    * misses a present key), and the anti-join removes the false
    * positives, so the result equals the plain anti-join at a
    * fraction of its shuffle: at 1% fpp, ~99% of a mostly-novel
    * ingest batch short-circuits at the scan.
    *
    * `expectedSeen` sizes the filter (m bits ~ -n ln(fpp)/ln(2)^2; at
    * 1e9 keys / 1% fpp that is ~1.2 GB — executor-broadcast-sized,
    * and the per-key cost stays O(1)). Keys must be strings (hash
    * keys: md5/xxhash of the dedup fingerprint).
    */
  def bloomNovel(seen: DataFrame, incoming: DataFrame, key: String,
      expectedSeen: Long, fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val bf = seen.stat.bloomFilter(key, expectedSeen, fpp)
    val bfB = incoming.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf { (s: String) =>
      s != null && bfB.value.mightContainString(s)
    }
    val definitelyNovel = incoming.where(!mightContain(col(key)))
    val maybeSeen = incoming.where(mightContain(col(key)))
      .join(seen.select(col(key)).distinct(), Seq(key), "left_anti")
    definitelyNovel.unionByName(maybeSeen)
  }

  /** Per-group EXACT quantiles with the approximate-percentile sketch
    * (Greenwald-Khanna, Spark's approx_percentile) riding the same
    * pass as an in-plan audit: the estimate's true RANK — the only
    * thing GK actually guarantees — must land within `rankTol` x n of
    * the target, or the query raises. Value-drift audits lie on
    * skewed data (a tiny value gap can be a huge rank gap and vice
    * versa); the rank audit is the sketch's own contract.
    *
    * Two passes over the pinned (group, value) stream: one grouped
    * aggregate computes exact + sketch quantiles together, then the
    * estimates broadcast back and a second aggregate counts rows
    * below each estimate (the exact rank bracket). A value can be
    * tied many times, so the audit checks INTERVAL OVERLAP:
    * [count(<est)+1, count(<=est)] (the estimate's possible ranks)
    * against [n(p - tol), n(p + tol)] (the sketch's promise). At test
    * scale the gate certifies the sketch; at 100 TB the certified
    * sketch runs alone — exact `percentile` buffers every value per
    * group, GK buffers O(accuracy) — and the audit runs on samples.
    *
    * Output: (grp-named column, p, q) — q the EXACT quantile
    * (quantile_cont semantics, rounded to 4 decimals for
    * cross-engine interpolation ulp), oracle-checkable.
    */
  def quantileAudit(df: DataFrame, grp: String, value: String,
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75),
      rankTol: Double = 0.05, accuracyOverride: Int = 0): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0 && p <= 1),
      s"probs must be in [0,1], got $probs")
    require(rankTol > 0 && rankTol < 1,
      s"rankTol must be in (0,1), got $rankTol")
    // D-suffixed literals: a bare 0.25 parses as DECIMAL(3,2) and the
    // output p column must be double on both engines
    val probsArr = probs.map(p => s"${p}D").mkString("array(", ", ", ")")
    // GK accuracy a guarantees rank error <= n/a; the override exists
    // so a spec can force an under-provisioned sketch through the gate
    val accuracy = if (accuracyOverride > 0) accuracyOverride
      else math.max(100, math.ceil(1.0 / rankTol).toInt)
    val base = graft.Caches.pin(
      df.select(col(grp).as("__g"), col(value).cast("double").as("__v"))
        .where(col("__v").isNotNull))
    val est = base.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"),
        expr(s"percentile(__v, $probsArr)").as("__qx"),
        expr(s"approx_percentile(__v, $probsArr, $accuracy)").as("__qa"))
      .select(col("__g"), col("__n"),
        posexplode(arrays_zip(col("__qx"), col("__qa"))))
      .select(col("__g"), col("__n"),
        expr(probsArr)(col("pos")).as("p"),
        col("col.__qx").as("q_exact"), col("col.__qa").as("__qa"))
    val ranks = base.join(broadcast(est), Seq("__g"))
      .groupBy(col("__g"), col("p"))
      .agg(first(col("__n")).as("__n"),
        first(col("q_exact")).as("q_exact"),
        first(col("__qa")).as("__qa"),
        count(when(col("__v") < col("__qa"), lit(1))).as("__below"),
        count(when(col("__v") <= col("__qa"), lit(1))).as("__atOrBelow"))
    ranks
      .withColumn("q",
        when((col("__below") + lit(1)).cast("double") >
            (col("p") + lit(rankTol)) * col("__n") ||
            col("__atOrBelow").cast("double") <
            (col("p") - lit(rankTol)) * col("__n"),
          raise_error(concat(lit("quantileAudit: sketch estimate for p="),
            col("p"), lit(" in group "), col("__g"),
            lit(" has rank ["), col("__below") + 1, lit(","),
            col("__atOrBelow"),
            lit(s"] outside n*(p +- $rankTol) — sketch broke its "),
            lit("contract"))).cast("double"))
          .otherwise(round(col("q_exact"), 4)))
      .select(col("__g").as(grp), col("p"), col("q"))
  }

  /** Count-Min sketch (Cormode & Muthukrishnan 2005) with PORTABLE
    * hash rows — unlike the usual murmur-seeded CMS, every cell of
    * this sketch is an exact function of the data: row i's index is
    * `h_i(t) mod w` — the portable id hash
    * ([[graft.functions.PortableHash]], seed 97, k = i) over the
    * char-code polynomial token hash — so ANY engine rebuilds the
    * ENTIRE sketch bit-for-bit (the q194 oracle does): the same
    * auditability the MG/GK/Bloom families carry, extended to the
    * sketch's internal state.
    *
    * Construction is one pass: each token emits its `depth` (row,
    * idx) cells via an inline explode (no repeated scans), and the
    * grouped count partial-aggregates into at most depth*width cells
    * per partition before the one tiny shuffle. Point estimates are
    * min over rows of the matching cells — always >= the true count
    * (spec-pinned with the classic eps-delta bound).
    */
  def countMin(tokens: DataFrame, tokenCol: String, depth: Int,
      width: Int): DataFrame = {
    require(depth >= 1 && depth <= 8, s"countMin: depth $depth")
    require(width >= 2, s"countMin: width $width")
    val cells = cmsCells(col(tokenCol), depth, width)
    tokens.where(col(tokenCol).isNotNull && col(tokenCol) =!= "")
      .select(cells)
      .groupBy(col("__cell.row").as("row"), col("__cell.idx").as("idx"))
      .agg(count(lit(1)).as("c"))
  }

  /** CONSERVATIVE-update Count-Min (Estan & Varghese 2002), built
    * ORDER-FREE from the token census, optionally one independent
    * sketch per group. The sequential conservative update raises each
    * of an item's cells only as far as its current estimate requires;
    * its order-free batch equivalent is: census the tokens first
    * (exact grouped count — the one extra shuffle, distinct-token
    * sized), then set each cell to the MAX over colliding tokens of
    * their full count — the minimal state that still never
    * under-counts a point query (estimate = min over rows >= the
    * token's own count in every row). Since max <= sum over
    * non-negative counts, every cell — hence every estimate — is <=
    * the plain [[countMin]] value (spec-pinned both ways). Updates
    * are deterministic integer maxes over the same portable hash
    * rows, so the ENTIRE grouped state replays in DuckDB (q209).
    *
    * Merge contract: cell-max merging two conservative sketches is
    * only sound when their token sets are disjoint; overlapping
    * corpora must re-census and rebuild (or fall back to sum-merge,
    * which degrades cells toward the plain sketch but keeps the
    * never-undercount guarantee).
    */
  def countMinConservative(tokens: DataFrame, tokenCol: String,
      depth: Int, width: Int, grpCols: Seq[String] = Nil): DataFrame = {
    require(depth >= 1 && depth <= 8, s"countMinConservative: depth $depth")
    require(width >= 2, s"countMinConservative: width $width")
    val census = tokens
      .where(col(tokenCol).isNotNull && col(tokenCol) =!= "")
      .groupBy((grpCols :+ tokenCol).map(col): _*)
      .agg(count(lit(1)).as("__f"))
    val cells = cmsCells(col(tokenCol), depth, width)
    census.select(grpCols.map(col) ++ Seq(col("__f"), cells): _*)
      .groupBy(grpCols.map(col) ++ Seq(col("__cell.row").as("row"),
        col("__cell.idx").as("idx")): _*)
      .agg(max(col("__f")).as("c"))
  }

  /** The `depth` (row, idx) cells of a token: row i's index is the
    * portable id hash with seed 97 and k = i of the token's char-code
    * polynomial, mod `width`. Exploded, aliased `__cell`.
    */
  private def cmsCells(token: Column, depth: Int, width: Int): Column = {
    val h = PortableTokenHash(token)
    explode(array((0 until depth).map { i =>
      struct(lit(i.toLong).as("row"),
        PortableHash(h, 97L, lit(i.toLong)).mod(lit(width.toLong))
          .as("idx"))
    }: _*)).as("__cell")
  }

  /** Point estimates from a (possibly grouped) conservative or plain
    * CMS for a literal token set: min over rows per (group, token);
    * cells absent from the sketch read 0.
    */
  def countMinEstimate(cms: DataFrame, tokens: Seq[String],
      depth: Int, width: Int, grpCols: Seq[String] = Nil): DataFrame = {
    val spark = cms.sparkSession
    import spark.implicits._
    val probes0 = tokens.toDF("token")
      .select(col("token"), cmsCells(col("token"), depth, width))
      .select(col("token"), col("__cell.row").as("row"),
        col("__cell.idx").as("idx"))
    val probes = if (grpCols.isEmpty) probes0
      else cms.select(grpCols.map(col): _*).distinct()
        .crossJoin(probes0)
    probes.join(cms, grpCols ++ Seq("row", "idx"), "left")
      .groupBy((grpCols :+ "token").map(col): _*)
      .agg(min(coalesce(col("c"), lit(0L))).as("estimate"))
  }

  /** JOIN-SIZE estimate from Count-Min inner products (Alon, Matias
    * & Szegedy's F2/join-size line, instantiated on CM as in Cormode
    * & Muthukrishnan 2005 §4.2): |A ⋈_k B| = Σ_k fA(k)·fB(k) is
    * upper-bounded by min over rows of dot(rowA_i, rowB_i) — the
    * pre-shuffle cardinality check that catches an exploding
    * many-to-many join from two SKETCH-sized summaries (depth×width
    * cells each) instead of a trial join at 100 TB. With the
    * portable hash rows, every dot is an exact integer any engine
    * recomputes (q231's oracle does, and also recomputes the true
    * size — the estimate >= truth guarantee is checked there
    * in-plan). Returns (row, dot) — take min(dot) as the estimate.
    * Keys hash via their canonical int64 string form.
    */
  def joinSizeEstimate(a: DataFrame, aKey: String, b: DataFrame,
      bKey: String, depth: Int = 4, width: Int = 1024): DataFrame = {
    val ca = countMin(a.select(col(aKey).cast("long").cast("string")
      .as("__k")), "__k", depth, width)
    val cb = countMin(b.select(col(bKey).cast("long").cast("string")
      .as("__k")), "__k", depth, width)
    ca.join(cb.select(col("row"), col("idx"), col("c").as("__cb")),
        Seq("row", "idx"))
      .groupBy(col("row"))
      .agg(sum(col("c") * col("__cb")).as("dot"))
  }

  /** KMV (k-minimum-values) DISTINCT sketch per segment (Bar-Yossef
    * et al. 2002; Beyer et al. 2007) — the mergeable
    * distinct-counting summary that, unlike HLL, also supports SET
    * OPERATIONS (intersection / Jaccard between segments) because it
    * retains actual hash samples. Keys map through the portable id
    * hash ([[graft.functions.PortableHash]] — the q70 lattice,
    * replayable on any engine), DISTINCT per segment,
    * and each segment keeps its k smallest hashes via a per-segment
    * rank window (WindowGroupLimit — the top-k never fully sorts).
    * Purely deterministic integer arithmetic: the sketch, and
    * everything estimated from it, hash-matches across engines.
    *
    * Scale shape: one distinct shuffle on (segment, hash), one
    * window exchange on segment; state is k longs per segment
    * forever after — sketches union by `k smallest of the
    * concatenation`, so segment sketches built on different
    * executors/days merge associatively.
    *
    * Output: (segment, rank 1..k, h) — at most k rows per segment.
    */
  def kmv(df: DataFrame, segment: String, key: Column, k: Int,
      seed: Long = 42L): DataFrame = {
    require(k >= 16, s"kmv: k $k too small for a stable estimate")
    // Null segments are dropped (documented contract, matching the
    // streaming build in kmvSketchStream).
    val h = PortableHash(key, seed)
    val hashes = df.select(col(segment).as("segment"), h.as("h"))
      .where(col("segment").isNotNull)
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("segment")).orderBy(col("h"))
    hashes.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("segment"), col("rank").cast("long").as("rank"),
        col("h"))
  }

  /** Distinct-count estimate from a [[kmv]] sketch: if the sketch
    * holds fewer than k hashes the count is EXACT (every distinct
    * key is present); otherwise the classic unbiased estimator
    * (k−1)·M / h_k with M = the hash space size — floor of ONE
    * double divide whose operands are exact integers, so the value
    * is bit-identical on any IEEE engine (no decimal-division scale
    * rules, no cast-rounding divergence). Emits
    * (segment, n_sketch, est_distinct).
    */
  def kmvEstimate(sketch: DataFrame, k: Int): DataFrame = {
    val m = 1000000007d
    sketch.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_sketch"), max(col("h")).as("__hk"))
      .select(col("segment"), col("n_sketch"),
        when(col("n_sketch") < k, col("n_sketch"))
          .otherwise(floor(lit((k - 1).toDouble) * lit(m) /
            col("__hk").cast("double")).cast("long"))
          .as("est_distinct"))
  }

  /** Pairwise SET-OPERATION estimates between two segments' [[kmv]]
    * sketches: build the union sketch (k smallest of the combined
    * distinct hashes), estimate |A∪B| from it, read the Jaccard as
    * the fraction of union-sketch hashes present in BOTH input
    * sketches (the standard KMV coincidence estimator), and close
    * |A∩B| ≈ J·|A∪B|. Everything is exact integer arithmetic over
    * the sketches (ppm Jaccard by floor division) — deterministic,
    * engine-replayable, and O(k) per pair regardless of corpus
    * size. Emits one row: (n_union_sketch, est_union, both_in_k,
    * jaccard_ppm, est_intersection).
    */
  def kmvIntersect(sketchA: DataFrame, sketchB: DataFrame, k: Int)
      : DataFrame = {
    val m = 1000000007d
    val a = sketchA.select(col("h")).distinct()
    val b = sketchB.select(col("h")).distinct()
    val unionK = a.unionByName(b).distinct()
      .orderBy(col("h")).limit(k)
    val marked = unionK
      .join(a.withColumn("__ina", lit(1L)), Seq("h"), "left")
      .join(b.withColumn("__inb", lit(1L)), Seq("h"), "left")
    marked.agg(
        count(lit(1)).as("n_union_sketch"),
        max(col("h")).as("__hk"),
        sum(when(col("__ina") === 1L && col("__inb") === 1L, 1L)
          .otherwise(0L)).as("both_in_k"))
      .select(
        col("n_union_sketch"),
        when(col("n_union_sketch") < k, col("n_union_sketch"))
          .otherwise(floor(lit((k - 1).toDouble) * lit(m) /
            col("__hk").cast("double")).cast("long")).as("est_union"),
        col("both_in_k"),
        // integer ppm by explicit floor-of-double: Spark truncates a
        // double→long cast while other engines round — floor() makes
        // the quantization the same operation everywhere
        floor(col("both_in_k").cast("double") * lit(1000000.0) /
          col("n_union_sketch").cast("double")).cast("long")
          .as("jaccard_ppm"))
      .withColumn("est_intersection",
        floor(col("est_union").cast("double") *
          col("jaccard_ppm").cast("double") / lit(1000000.0))
          .cast("long"))
  }
}
