package graft.llmdata

import graft.functions.{PortableHash, PortableTokenHash}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reproducible sampling and splitting for training-data pipelines.
  *
  * Everything keys off a PORTABLE integer hash of the row id —
  * [[graft.functions.PortableHash]] — NOT an RNG: membership is a
  * pure function of (id, seed), so samples are stable across runs,
  * engines, partitionings, and re-executions, and any engine (the DuckDB oracle included)
  * reproduces them bit-for-bit. That determinism is what makes a
  * 100 TB pipeline auditable: "which split was this row in" is
  * answerable forever.
  *
  * All operators are one codegen'd projection/filter — no shuffle, no
  * state, fully pushdown-friendly.
  */
object Sampling {

  private val Buckets = 1000000L

  /** The sampling bucket in [0, 1e6) for an integer id column. */
  def bucket(id: Column, seed: Long): Column =
    PortableHash(id, seed) % Buckets

  /** The sampling bucket for a STRING key — the group-level (domain /
    * source / URL) variant: the key hashes through the portable
    * char-code polynomial ([[graft.llmdata.Dedup.portableTokenHash]]),
    * then the same multiplicative step as [[bucket]]. Every row with
    * the same key lands in the same bucket, so group-keyed splits are
    * leakage-safe BY CONSTRUCTION: no group straddles a split
    * boundary.
    */
  def bucketBy(key: Column, seed: Long): Column =
    PortableHash(PortableTokenHash(key), seed) % Buckets

  /** [[assignSplit]] keyed on a string GROUP column: all rows of one
    * group (site, source, author) take the same split — the
    * decontamination-grade train/test split where near-duplicates
    * within a group can never leak across the boundary.
    */
  def assignSplitBy(df: DataFrame, key: Column,
      splits: Seq[(String, Double)], seed: Long = 42L,
      out: String = "split"): DataFrame = {
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split weights must sum to 1")
    val b = bucketBy(key, seed)
    val cuts = splits.scanLeft(0.0)(_ + _._2).tail
      .map(c => (c * Buckets).toLong)
    val expr = splits.zip(cuts).foldLeft(when(lit(false), "")) {
      case (acc, ((name, _), cut)) => acc.when(b < cut, name)
    }.otherwise(splits.last._1)
    df.withColumn(out, expr)
  }

  /** Keep ~`fraction` of rows, deterministically by id hash. */
  def hashSample(df: DataFrame, id: String, fraction: Double,
      seed: Long = 42L): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, s"fraction $fraction")
    df.where(bucket(col(id), seed) < (fraction * Buckets).toLong)
  }

  /** Stratified variant: a fraction PER STRATUM value (unlisted strata
    * are dropped) — class rebalancing / source re-weighting in one
    * filter.
    */
  def stratifiedSample(df: DataFrame, id: String, stratum: Column,
      fractions: Map[String, Double], seed: Long = 42L): DataFrame = {
    val cut = fractions.foldLeft(lit(-1L)) { case (acc, (k, f)) =>
      when(stratum === k, (f * Buckets).toLong).otherwise(acc)
    }
    df.where(bucket(col(id), seed) < cut)
  }

  /** WEIGHTED SAMPLING WITHOUT REPLACEMENT (Efraimidis & Spirakis
    * 2006): each row draws the deterministic uniform
    * u = (bucket+1)/10⁶ from the portable id-hash and keeps key
    * ln(u)/w — the top-k keys ARE a without-replacement sample with
    * inclusion probability proportional to `weight`, in ONE pass
    * with a TakeOrdered (no global sort, no sequential draw-and-
    * remove). The float key computes from identical literals and
    * ops on any engine, so the selected SET replays exactly.
    * `weight` must be > 0 (caller filters).
    */
  def weightedSampleNoReplacement(df: DataFrame, id: String,
      weight: Column, k: Int, seed: Long = 42L): DataFrame = {
    require(k >= 1, s"weightedSampleNoReplacement: k $k")
    val u = (bucket(col(id), seed) + lit(1L)).cast("double") /
      lit(1000000.0)
    df.withColumn("__es_key", log(u) / weight.cast("double"))
      .orderBy(col("__es_key").desc, col(id))
      .limit(k)
  }

  /** EXACT-count stratified sample: within each stratum, rank rows
    * by the portable hash (then id) and keep the first
    * ceil(num/den · n_stratum) — the sample hits the target
    * fraction EXACTLY per stratum (a Bernoulli hash filter like
    * [[stratifiedSample]] only hits it in expectation, which
    * matters for small eval strata). The keep test is the pure
    * integer inequality (rn-1)·den < num·n. One rank window per
    * stratum; membership is deterministic and nested across seeds
    * only per-stratum (same hash order).
    */
  def exactStratifiedSample(df: DataFrame, id: String,
      stratum: Column, num: Long, den: Long,
      seed: Long = 42L): DataFrame = {
    require(num >= 0 && den > 0 && num <= den,
      s"exactStratifiedSample: $num/$den")
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(stratum).orderBy(bucket(col(id), seed),
      col(id))
    val wc = W.partitionBy(stratum)
    df.withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__ns", count(lit(1)).over(wc))
      .where((col("__rn") - lit(1L)) * lit(den) <
        lit(num) * col("__ns"))
      .drop("__rn", "__ns")
  }

  /** DETERMINISTIC NEGATIVE SAMPLING for contrastive training
    * pairs: for every anchor id, k negatives drawn by the portable
    * per-slot hash into the dense [0, n) id space, skipping the
    * anchor itself and its positive — pure integer arithmetic, so
    * the emitted (anchor, positive, negative, slot) table replays
    * on any engine and is stable across re-runs (the property that
    * makes contrastive training reproducible). One broadcast of the
    * 1-row corpus size; the k-fold expansion happens in the scan
    * projection, no shuffle.
    */
  def negativeSamples(df: DataFrame, id: String, positive: Column,
      k: Int, seed: Long = 97L): DataFrame = {
    require(k >= 1 && k <= 64, s"negativeSamples: k $k")
    val n1 = df.agg((max(col(id)) + lit(1L)).as("__n"))
    df.select(col(id).as("anchor"), positive.as("positive"))
      .crossJoin(broadcast(n1))
      .withColumn("slot", explode(sequence(lit(1), lit(k))))
      // exact in decimal(38,0): the long product overflows for
      // anchors >= 3474701543, and pre-reducing mod n changes nothing
      // (n > every anchor)
      .withColumn("negative",
        pmod(col("anchor").cast("decimal(38,0)") * lit(PortableHash.Mult) +
          (lit(seed) + col("slot").cast("long") * lit(1000003L)),
          col("__n")).cast("long"))
      .where(col("negative") =!= col("anchor") &&
        col("negative") =!= col("positive"))
      .select(col("anchor"), col("positive"), col("slot"),
        col("negative"))
  }

  /** ITERATIVE PROPORTIONAL FITTING (raking; Deming & Stephan 1940)
    * — calibrate sample weights so the weighted margins match
    * population targets on TWO categorical dimensions at once: the
    * survey-statistics standard, and the exact mechanism behind
    * two-constraint training-data mixture balancing (match both the
    * domain margin and the language margin without enumerating the
    * cross table). Weights live in integer ppm; each half-step
    * rescales by floor(w · target · 10⁶ / Σw_cell) in pure int64 —
    * deterministic on any engine, and the oracle unrolls the
    * half-steps as CTEs. The data is touched exactly twice — one
    * grouped cell count in, one broadcast weight join out; all
    * 2·rounds half-steps iterate on the margin-bounded cell table
    * (see the in-body note). Overflow headroom: w·t·10⁶ must stay under 2⁶³ —
    * fine through ~10⁹-row targets with weights under ~10⁴×.
    * `targetsA`/`targetsB` carry (dim, t) population counts.
    *
    * CARDINALITY CONTRACT: the (dimA, dimB) cell table — |A|·|B|
    * rows, margin-bounded because the targets ARE population margins
    * — is pinned, window-scanned and finally BROADCAST back onto the
    * rows, so both dims must be population-margin-sized categorical
    * levels (thousands, not millions): past ~10⁷ cells the weight-map
    * broadcast exceeds executor/driver broadcast budgets, a failure
    * mode the old row-space form did not have. High-cardinality dims
    * need the row-space recurrence, not this operator.
    */
  def ipfWeights(df: DataFrame, dimA: String, dimB: String,
      targetsA: DataFrame, targetsB: DataFrame,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 8, s"ipfWeights: rounds $rounds")
    val ta = broadcast(
      targetsA.select(col(dimA), col("t").cast("long").as("__ta")))
    val tb = broadcast(
      targetsB.select(col(dimB), col("t").cast("long").as("__tb")))
    // CELL-SPACE iteration (r15, guide §2.3/§2.4): every row of a
    // (dimA, dimB) cell starts at the same w and sees the same
    // per-level sums, so the whole trajectory is a function of the
    // CELL, not the row. The row-space form re-evaluated its growing
    // lineage once per half-step margin broadcast (quadratic in
    // rounds, each pass data-wide); here ONE data-wide grouped count
    // (map-side combined, |A|·|B| groups) feeds a pinned cell table,
    // the 2·rounds margin sums and rescales run on cells only, and
    // the final weights broadcast-join back onto the rows. The
    // integer recurrence is untouched — per-level sums are the same
    // longs (Σ_rows w = Σ_cells n·w), divisions identical — so every
    // row's w_ppm is bit-identical (LlmDataSpec pins this against a
    // sequential fold; the q284 oracle replays the row form in SQL).
    // Join semantics preserved: inner joins on the dims drop
    // null-keyed and target-missing rows exactly where the row form
    // dropped them (null-B cells still count toward round-1 A-sums,
    // like the rows did).
    // margins as WINDOW sums over the cells, not join(broadcast(agg)):
    // the groupBy-broadcast-join form references `cur` twice per
    // half-step, DOUBLING the plan tree each time (2^2·rounds subtrees
    // by the end — the measured Scratch2 probe showed per-round
    // planning cost growing geometrically on a 125-row cached frame).
    // A window sum is one linear operator per half-step: same per-
    // level long sum (order-free), same integer division, zero extra
    // jobs, plan depth linear in rounds.
    val cells = graft.Caches.pin(
      df.groupBy(col(dimA), col(dimB)).agg(count(lit(1)).as("__n")))
    var cur = cells.withColumn("w_ppm", lit(1000000L))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy(col(dimA))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col(dimB))
    for (_ <- 1 to rounds) {
      cur = cur
        .withColumn("__sa", sum(col("w_ppm") * col("__n")).over(wA))
        .join(ta, Seq(dimA))
        .withColumn("w_ppm", expr("w_ppm * __ta * 1000000 div __sa"))
        .drop("__sa", "__ta")
      cur = cur
        .withColumn("__sb", sum(col("w_ppm") * col("__n")).over(wB))
        .join(tb, Seq(dimB))
        .withColumn("w_ppm", expr("w_ppm * __tb * 1000000 div __sb"))
        .drop("__sb", "__tb")
    }
    // cell table is margin-bounded by contract (targets are
    // population margins), so the weight map broadcasts like them
    df.join(broadcast(cur.select(col(dimA), col(dimB), col("w_ppm"))),
      Seq(dimA, dimB))
  }

  /** Per-ROW keep probability (importance sampling — quality-weighted
    * corpus thinning): row kept iff its id-hash bucket falls under
    * `weight` (clamped to [0,1]) — the per-row generalization of
    * [[hashSample]]'s constant fraction. Same portable determinism:
    * membership is a pure function of (id, seed, weight expression),
    * reproducible in any engine; one codegen'd filter, no shuffle, no
    * RNG.
    */
  def weightedSample(df: DataFrame, id: String, weight: Column,
      seed: Long = 42L): DataFrame = {
    val w = least(greatest(weight.cast("double"), lit(0.0)), lit(1.0))
    df.where(bucket(col(id), seed) < floor(w * Buckets).cast("long"))
  }

  /** Assign every row to a named split with the given weights (e.g.
    * train/valid/test 0.8/0.1/0.1): one deterministic column, rows
    * never lost or duplicated.
    */
  def assignSplit(df: DataFrame, id: String,
      splits: Seq[(String, Double)], seed: Long = 42L,
      out: String = "split"): DataFrame = {
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split weights must sum to 1")
    val b = bucket(col(id), seed)
    val cuts = splits.scanLeft(0.0)(_ + _._2).tail
      .map(c => (c * Buckets).toLong)
    val expr = splits.zip(cuts).foldLeft(when(lit(false), "")) {
      case (acc, ((name, _), cut)) => acc.when(b < cut, name)
    }.otherwise(splits.last._1) // rounding tail joins the last split
    df.withColumn(out, expr)
  }

  /** The host part of a URL, portably: everything between `scheme://`
    * and the first `/`, `?` or `#` — one anchored regexp any engine
    * evaluates identically (no parse_url, which DuckDB lacks).
    * Non-URL strings yield the empty string.
    */
  def urlHost(url: Column): Column =
    regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)

  /** Per-domain document cap (the Common-Crawl-style guard against
    * one site dominating the corpus): keep at most `cap` rows per
    * `domain` value, chosen deterministically by the portable id hash
    * — so "which docs survived the cap" is a pure function of (id,
    * seed), reproducible in any engine, and the kept set is an
    * unbiased per-domain subsample rather than "whatever arrived
    * first".
    *
    * Scale shape — SKEW-SAFE BY DEFAULT: one bounded census (grouped
    * count, map-side combined; collects only the domains above
    * `heavyThreshold` rows — at most corpus/threshold of them, so the
    * driver set is bounded by construction). Domains at or under the
    * threshold take the EXACT path: a window partitioned by domain,
    * whose partitions are now bounded by the threshold, never by the
    * largest domain. Each heavier domain is capped by HASH RATE
    * instead (keep iff id-bucket < cap/count — [[hashSample]]'s rule,
    * one codegen'd filter, no shuffle at all), so a pathological
    * domain holding half the corpus never becomes a single window
    * task. The rate path keeps ~cap rows (binomial deviation
    * O(sqrt(cap)), deterministic in (id, seed)) rather than exactly
    * cap — the documented trade for unskewable scale; set
    * `heavyThreshold` above your largest domain to force the exact
    * window everywhere. Null domains always take the exact path.
    */
  def domainCap(df: DataFrame, domain: Column, id: String, cap: Int,
      seed: Long = 42L, heavyThreshold: Long = 1000000L): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    require(heavyThreshold >= cap,
      s"heavyThreshold $heavyThreshold must be >= cap $cap (domains " +
        "under the cap need the exact path)")
    import org.apache.spark.sql.expressions.Window
    def exactCap(in: DataFrame): DataFrame = {
      val w = Window.partitionBy(domain)
        .orderBy(bucket(col(id), seed), col(id))
      in.withColumn("__rn", row_number().over(w))
        .where(col("__rn") <= cap)
        .drop("__rn")
    }
    val heavy = df.where(domain.isNotNull)
      .groupBy(domain.as("__d")).agg(count(lit(1)).as("__n"))
      .where(col("__n") > heavyThreshold)
      .collect().map(r => (r.get(0), r.getLong(1)))
    if (heavy.isEmpty) exactCap(df)
    else {
      val heavyVals = heavy.map(_._1)
      val light = df.where(domain.isNull || !domain.isin(heavyVals: _*))
      // per-heavy-domain keep cutoff as one when-chain (bounded by
      // construction), applied as a single shuffle-free filter
      val cut = heavy.foldLeft(lit(-1L)) { case (acc, (v, n)) =>
        when(domain === lit(v),
          lit((BigDecimal(cap) * Buckets / n).toLong)).otherwise(acc)
      }
      val rated = df.where(domain.isNotNull &&
        domain.isin(heavyVals: _*) && bucket(col(id), seed) < cut)
      exactCap(light).unionByName(rated)
    }
  }

  /** Sample down to a TOKEN budget instead of a row fraction — the
    * "give me ~1B tokens of this corpus" cut every training run
    * starts with. Documents are ordered by the portable id hash
    * (an engine-reproducible shuffle), token counts are prefix-summed
    * in that order ([[graft.ops.ScanOps.prefixSums]] — range-bucketed
    * two-pass, integer-exact, no single-partition window), and a
    * document is kept while the running total fits the budget. The
    * same (corpus, seed, budget) always selects the same documents,
    * in any engine, at any partitioning.
    */
  def sampleToTokenBudget(df: DataFrame, id: String, tokens: Column,
      budget: Long, seed: Long = 42L,
      out: String = "cum_tokens"): DataFrame = {
    require(budget > 0, s"budget $budget")
    val withTok = df.withColumn("__tok", tokens.cast("long"))
      .withColumn("__h", PortableHash(col(id), seed))
    graft.ops.ScanOps.prefixSums(withTok, "__h",
        Seq(out -> col("__tok")))
      .where(col(out) <= budget)
      .withColumnRenamed("__tok", "n_tokens")
      .drop("__h")
  }

  /** Temperature-based source mixing (the multilingual-corpus
    * sampler): source s is kept at a rate proportional to
    * count(s)^alpha — alpha = 1 keeps natural proportions, alpha -> 0
    * flattens toward uniform, the standard dial for keeping
    * low-resource sources represented. Given a total row budget
    * `targetRows`, source s's keep-fraction is
    * min(1, (n_s^alpha / sum_t n_t^alpha) * targetRows / n_s),
    * applied as the same portable hash filter as [[hashSample]] —
    * fully deterministic and engine-reproducible. The per-source
    * counts are ONE grouped aggregate collected to the driver
    * (O(#sources), bounded by construction — sources are a curated
    * enum, not data-scale).
    */
  def mixByTemperature(df: DataFrame, id: String, sourceCol: String,
      alpha: Double, targetRows: Long, seed: Long = 42L): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(targetRows > 0, s"targetRows $targetRows")
    // contract: null-source rows carry no mixable weight and are
    // dropped (stratifiedSample's fall-through would drop them anyway;
    // filtering up front also keeps the driver-side key map NPE-free).
    // The stratum is cast to string on BOTH sides (census and filter):
    // the driver-side fraction map is keyed by strings, so a non-string
    // column would otherwise census distinct values that stringify
    // identically into one stratum while the filter compared via an
    // implicit cast (ADVICE r7)
    val stratum = col(sourceCol).cast("string")
    val counts = df.where(stratum.isNotNull)
      .groupBy(stratum.as("__s")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val sumW = counts.map { case (_, n) => math.pow(n.toDouble, alpha) }.sum
    // round to 9 decimals before bucketing: the weight sum's fp value
    // depends on summation order, which no engine guarantees — the
    // rounding absorbs last-ulp drift so the cutoff is reproducible
    val fractions = counts.map { case (s, n) =>
      s -> BigDecimal(math.min(1.0,
          (math.pow(n.toDouble, alpha) / sumW) * targetRows / n))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    stratifiedSample(df, id, stratum, fractions, seed)
  }

  /** UniMax-style budget-capped uniform source mixing (Chung et al.
    * 2023, "UniMax: Fairer and More Effective Language Sampling"):
    * spread a row budget UNIFORMLY across strata, capping each
    * stratum at its own size and WATER-FILLING the surplus into the
    * remaining strata — the fair alternative to temperature mixing
    * when low-resource strata must not lose their share to the head.
    * (The paper's epoch cap generalizes the size cap for repeated
    * data; a single-pass frame subsamples, so the cap here is one
    * epoch.)
    *
    * The waterline is found with EXACT INTEGER arithmetic: strata
    * sorted ascending by (size, name); a stratum is fully kept iff
    * `n_i * (#remaining) <= remaining budget` (cross-multiplied — no
    * division, no floats), so the fully-kept prefix is
    * engine-reproducible by construction. Only the final level/size
    * fraction is a double — two divisions in pinned order, rounded
    * to 9 decimals (the [[mixByTemperature]] quantization) — applied
    * as the portable hash filter. One grouped census (O(#strata),
    * bounded by construction), one codegen'd filter, no shuffle.
    */
  def mixUniform(df: DataFrame, id: String, stratumCol: String,
      targetRows: Long, seed: Long = 42L): DataFrame = {
    require(targetRows > 0, s"targetRows $targetRows")
    // string-cast on both sides — the mixByTemperature contract
    val stratum = col(stratumCol).cast("string")
    val counts = df.where(stratum.isNotNull)
      .groupBy(stratum.as("__s")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy { case (s, n) => (n, s) }
    val k = counts.length
    var cum = 0L
    var m = 0
    while (m < k && counts(m)._2 * (k - m) <= targetRows - cum) {
      cum += counts(m)._2
      m += 1
    }
    val fractions = counts.zipWithIndex.map { case ((s, n), i) =>
      val f = if (i < m) 1.0
        else math.min(1.0,
          ((targetRows - cum).toDouble / (k - m)) / n.toDouble)
      s -> BigDecimal(f).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }.toMap
    stratifiedSample(df, id, stratum, fractions, seed)
  }

  /** Hashed-bigram feature buckets in one tight loop per document:
    * for adjacent token pairs, the portable char-code polynomial of
    * "w1 w2" (the [[Dedup.portableTokenHash]] fold including the
    * joining space, code 32) mod `k`. One pass per pair, no string
    * allocation, no per-element HOF interpretation; the oracle SQL
    * recomputes the identical fold over the concatenated pair.
    */
  private val bigramBuckets = udf { (toks: Seq[String], k: Int) =>
    val n = if (toks == null) 0 else toks.length
    if (n < 2) Seq.empty[Int]
    else {
      import PortableTokenHash.fold
      val out = new Array[Int](n - 1)
      var i = 0
      while (i < n - 1) {
        val h = fold(fold(fold(0L, toks(i)), " "), toks(i + 1))
        out(i) = (h % k).toInt
        i += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
  }

  /** DSIR importance log-weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score each
    * SOURCE document by how much its hashed-bigram profile resembles
    * the TARGET corpus rather than the source corpus —
    * log w(d) = sum over d's bigram occurrences of
    * log(p_target(bucket) / p_source(bucket)), with add-k-smoothed
    * bucket unigram models over `nBuckets` hashed features. Compose
    * with [[weightedSample]] (on a normalized transform of the
    * weight) for the resampling half of the paper.
    *
    * Returns (docId, n_bigrams, dsir_logw) for every source doc with
    * >= 2 normalized tokens.
    *
    * Cross-engine determinism: the per-bucket log-ratio is computed
    * from identical integers in identical double ops on any engine,
    * then scaled to an exact integer (round(lambda * 1e4)) so the
    * per-doc SUM is order-free long arithmetic — no summation-order
    * ulp drift, no decimal casts of products (BENCH_NOTES r5 rules).
    * The 1e-4-nat quantization is deliberate: libm ln() disagrees
    * across engines by a few hundred ulps (~1e-13 absolute —
    * measured: a 1e9 scale flipped one bucket of 4096 at sf0.1), so
    * the quantum must dwarf the drift; 1e-4 leaves nine orders of
    * margin and costs a selection score nothing. dsir_logw =
    * sum / 1e4 is then bit-identical everywhere.
    *
    * Scale shape: two partial-agg scans build the bucket counts
    * (nBuckets rows each — tiny), the lambda table broadcasts, and
    * scoring is one per-doc aggregate over the feature stream. The
    * feature stream feeds both the source counts and the scoring
    * join, so it is pinned — (docId, int) rows, the compact frame —
    * and normalize+explode runs once.
    */
  def dsirLogWeights(source: DataFrame, target: DataFrame,
      docId: String, text: String, nBuckets: Int = 4096,
      addK: Double = 0.5): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    require(addK > 0, s"additive smoothing needs k > 0, got $addK")
    def feats(df: DataFrame) = df.where(col(text).isNotNull)
      .select(col(docId), Dedup.normalizeTokens(col(text)).as("__t"))
      .where(size(col("__t")) >= 2)
      .select(col(docId),
        explode(bigramBuckets(col("__t"), lit(nBuckets))).as("__bkt"))
    val sf = graft.Caches.pin(feats(source))
    // pin the TARGET counts too: tCnt feeds both the lam join and
    // tTot as separate plans, and without the pin the target corpus
    // would be scanned+bigrammed twice. Post-agg it is nBuckets rows,
    // so the pinned block is tiny regardless of corpus size.
    val tCnt = graft.Caches.pin(feats(target).groupBy(col("__bkt"))
      .agg(count(lit(1)).as("__ct")))
    val sCnt = sf.groupBy(col("__bkt")).agg(count(lit(1)).as("__cs"))
    val tTot = tCnt.agg(sum(col("__ct")).as("__tt"))
    val sTot = sCnt.agg(sum(col("__cs")).as("__ts"))
    // buckets absent from the source can't appear in any source doc;
    // left join from the source counts drops them from the model
    val lam = sCnt.join(tCnt, Seq("__bkt"), "left")
      .na.fill(0L, Seq("__ct"))
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(sTot))
      .withColumn("__lam4", round(log(
          ((col("__ct") + lit(addK)) /
            (col("__tt") + lit(addK * nBuckets))) /
          ((col("__cs") + lit(addK)) /
            (col("__ts") + lit(addK * nBuckets)))) * lit(1e4))
        .cast("long"))
      .select(col("__bkt"), col("__lam4"))
    sf.join(broadcast(lam), Seq("__bkt"))
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__lam4")).as("__s"))
      .withColumn("dsir_logw", col("__s") / lit(1e4))
      .select(col(docId), col("n_bigrams"), col("dsir_logw"))
  }

  /** A fitted DSIR model: the materialized (bucket -> lam4) log-ratio
    * table plus the constant log-ratio for buckets unseen at fit time
    * (both corpora count 0 there, so the ratio collapses to
    * log(denomS/denomT) — one number). `lambda` is persisted at fit
    * time so streaming micro-batches reuse it instead of refitting
    * (the [[graft.llmdata.TextAnalysis.lmFit]] contract).
    */
  case class DsirModel(lambda: DataFrame, nBuckets: Int,
      unseenLam4: Long, addK: Double) {
    def unpersist(): Unit = lambda.unpersist(blocking = false)
  }

  /** Fit the DSIR importance model ONCE on batch corpora — target
    * (what you want more of) vs source (what you have) — for scoring
    * OTHER frames with [[dsirScore]], including STREAMS at ingest.
    * The lambda table is built with a full-outer count join so
    * target-only buckets keep their (positive) log-ratios: text
    * arriving later can hit buckets the source corpus never produced.
    * Totals land on the driver as two longs (bounded by
    * construction); the table itself is nBuckets rows, materialized.
    */
  def dsirFit(source: DataFrame, target: DataFrame, text: String,
      nBuckets: Int = 4096, addK: Double = 0.5): DsirModel = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    require(addK > 0, s"additive smoothing needs k > 0, got $addK")
    def feats(df: DataFrame) = df.where(col(text).isNotNull)
      .select(Dedup.normalizeTokens(col(text)).as("__t"))
      .where(size(col("__t")) >= 2)
      .select(explode(bigramBuckets(col("__t"), lit(nBuckets)))
        .as("__bkt"))
    val tCnt = feats(target).groupBy(col("__bkt"))
      .agg(count(lit(1)).as("__ct"))
    val sCnt = feats(source).groupBy(col("__bkt"))
      .agg(count(lit(1)).as("__cs"))
    // `joined` feeds the totals row AND the lambda table as two
    // separate plans; without a pin each corpus would be scanned and
    // bigrammed twice. Post-agg it is <= nBuckets rows, so the pin is
    // tiny, and fit is eager end-to-end — the pin's lifecycle is
    // fully contained here (released once lam materializes).
    val joined = sCnt.join(tCnt, Seq("__bkt"), "full_outer")
      .na.fill(0L, Seq("__ct", "__cs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = joined.agg(sum(col("__ct")), sum(col("__cs"))).head()
    val (tt, ts) = (tot.getLong(0), tot.getLong(1))
    val denomT = tt + addK * nBuckets
    val denomS = ts + addK * nBuckets
    val lam = joined.withColumn("__lam4", round(log(
        ((col("__ct") + lit(addK)) / lit(denomT)) /
        ((col("__cs") + lit(addK)) / lit(denomS))) * lit(1e4))
        .cast("long"))
      .select(col("__bkt"), col("__lam4"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lam.count() // materialize so micro-batches reuse, not refit
    joined.unpersist(blocking = false)
    DsirModel(lam, nBuckets,
      math.round(math.log((addK / denomT) / (addK / denomS)) * 1e4),
      addK)
  }

  /** One-scan DSIR fit for the common case where the target corpus is
    * a PREDICATE SUBSET of the source (the q119/q120 shape: target =
    * `lang = 'en'` slice of the same documents). [[dsirFit]] with two
    * frames tokenizes the target rows TWICE — once inside each
    * corpus's census; here the feature stream carries the membership
    * flag and ONE grouped aggregate produces both counts
    * (count(*) and count-if), so the corpus is tokenized exactly
    * once. Identical lambda table and unseen constant as
    * dsirFit(corpus, corpus.where(pred), ...) — a subset target
    * cannot produce target-only buckets, so the full-outer join
    * degenerates to the source census. Spec-pinned equal.
    */
  def dsirFitWithin(corpus: DataFrame, targetPred: Column, text: String,
      nBuckets: Int = 4096, addK: Double = 0.5): DsirModel = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    require(addK > 0, s"additive smoothing needs k > 0, got $addK")
    val feats = corpus.where(col(text).isNotNull)
      .select(targetPred.as("__isT"),
        Dedup.normalizeTokens(col(text)).as("__t"))
      .where(size(col("__t")) >= 2)
      .select(col("__isT"),
        explode(bigramBuckets(col("__t"), lit(nBuckets))).as("__bkt"))
    val cnts = feats.groupBy(col("__bkt"))
      .agg(count(lit(1)).as("__cs"),
        count(when(col("__isT"), lit(1))).as("__ct"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = cnts.agg(sum(col("__ct")), sum(col("__cs"))).head()
    val (tt, ts) = (tot.getLong(0), tot.getLong(1))
    val denomT = tt + addK * nBuckets
    val denomS = ts + addK * nBuckets
    val lam = cnts.withColumn("__lam4", round(log(
        ((col("__ct") + lit(addK)) / lit(denomT)) /
        ((col("__cs") + lit(addK)) / lit(denomS))) * lit(1e4))
        .cast("long"))
      .select(col("__bkt"), col("__lam4"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    lam.count()
    cnts.unpersist(blocking = false)
    DsirModel(lam, nBuckets,
      math.round(math.log((addK / denomT) / (addK / denomS)) * 1e4),
      addK)
  }

  /** [[dsirLogWeights]] for a predicate-subset target: the pinned
    * feature stream (docId, isTarget, bucket) feeds the one-pass
    * conditional census AND the scoring join, so the corpus is
    * normalized + bigrammed exactly once (vs twice for the two-frame
    * form). Same integer-quantized log-ratios, same output contract.
    */
  def dsirLogWeightsWithin(corpus: DataFrame, targetPred: Column,
      docId: String, text: String, nBuckets: Int = 4096,
      addK: Double = 0.5): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    require(addK > 0, s"additive smoothing needs k > 0, got $addK")
    val sf = graft.Caches.pin(corpus.where(col(text).isNotNull)
      .select(col(docId), targetPred.as("__isT"),
        Dedup.normalizeTokens(col(text)).as("__t"))
      .where(size(col("__t")) >= 2)
      .select(col(docId), col("__isT"),
        explode(bigramBuckets(col("__t"), lit(nBuckets))).as("__bkt")))
    val cnts = sf.groupBy(col("__bkt"))
      .agg(count(lit(1)).as("__cs"),
        count(when(col("__isT"), lit(1))).as("__ct"))
    val tTot = cnts.agg(sum(col("__ct")).as("__tt"))
    val sTot = cnts.agg(sum(col("__cs")).as("__ts"))
    val lam = cnts
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(sTot))
      .withColumn("__lam4", round(log(
          ((col("__ct") + lit(addK)) /
            (col("__tt") + lit(addK * nBuckets))) /
          ((col("__cs") + lit(addK)) /
            (col("__ts") + lit(addK * nBuckets)))) * lit(1e4))
        .cast("long"))
      .select(col("__bkt"), col("__lam4"))
    sf.join(broadcast(lam), Seq("__bkt"))
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__lam4")).as("__s"))
      .withColumn("dsir_logw", col("__s") / lit(1e4))
      .select(col(docId), col("n_bigrams"), col("dsir_logw"))
  }

  /** Score a frame — batch or STREAMING — against a pre-fitted
    * [[DsirModel]]: selection-at-ingest as one broadcast
    * (stream-static) join plus a per-doc aggregate. Buckets unseen at
    * fit time take the model's constant unseen log-ratio, so
    * out-of-corpus text scores exactly rather than dropping features.
    * Same integer-sum determinism as [[dsirLogWeights]]. For a
    * streaming input, complete the per-doc aggregate with an
    * update/complete output mode or a watermark on event time.
    */
  def dsirScore(docs: DataFrame, m: DsirModel, docId: String,
      text: String): DataFrame =
    docs.where(col(text).isNotNull)
      .select(col(docId), Dedup.normalizeTokens(col(text)).as("__t"))
      .where(size(col("__t")) >= 2)
      .select(col(docId),
        explode(bigramBuckets(col("__t"), lit(m.nBuckets))).as("__bkt"))
      .join(broadcast(m.lambda), Seq("__bkt"), "left")
      .na.fill(m.unseenLam4, Seq("__lam4"))
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__lam4")).as("__s"))
      .withColumn("dsir_logw", col("__s") / lit(1e4))
      .select(col(docId), col("n_bigrams"), col("dsir_logw"))

  /** Mix sources at target sampling rates into one frame, tagging each
    * row's origin — the dataset-mixture step of a training pipeline.
    * Each (source, fraction) pair is hash-sampled independently (with
    * per-source seed offsets so identical ids in different sources
    * make independent choices), then unioned by name.
    */
  def mixByRatio(sources: Seq[(String, DataFrame, Double)], id: String,
      seed: Long = 42L, tag: String = "source"): DataFrame =
    sources.zipWithIndex.map { case ((name, df, f), i) =>
      hashSample(df, id, f, seed + i * 7919L)
        .withColumn(tag, lit(name))
    }.reduce(_ unionByName _)

  /** Apply an externally-supplied mixture (e.g. [[doremiWeights]]'
    * learned vector, a hand-tuned config, or a paper's published
    * weights) to a corpus: stratum s keeps
    * min(1, w_s * targetRows / n_s) of its rows via the portable
    * hash filter — the [[mixByTemperature]] machinery with the
    * weight table replacing count^alpha. Same census contract (one
    * bounded grouped count), same 9-decimal fraction quantization,
    * same engine-reproducible filter. Strata absent from `weights`
    * are dropped (weight 0).
    */
  def mixByWeights(df: DataFrame, id: String, stratumCol: String,
      weights: Map[String, Double], targetRows: Long,
      seed: Long = 42L): DataFrame = {
    require(targetRows > 0, s"targetRows $targetRows")
    val stratum = col(stratumCol).cast("string")
    val counts = df.where(stratum.isNotNull)
      .groupBy(stratum.as("__s")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val fractions = counts.map { case (s, n) =>
      s -> BigDecimal(math.min(1.0,
          weights.getOrElse(s, 0.0) * targetRows / n))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    stratifiedSample(df, id, stratum, fractions, seed)
  }

  /** DoReMi-lite learned mixture weights (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    * per-domain multiplicative-weights ascent on EXCESS LOSS — how
    * much worse a weak proxy model does than a stronger reference
    * model on each domain — so domains where the proxy has the most
    * to learn get upweighted. The full method trains both models;
    * the lite form uses the library's two exact n-gram LMs as the
    * (frozen) pair: proxy = add-k UNIGRAM model, reference = add-k
    * BIGRAM model (the [[graft.llmdata.TextAnalysis.lmPerplexity]]
    * family), both fit on the whole corpus, per-token NLL averaged
    * per domain.
    *
    * Every quantity is integer-quantized so the weight TRAJECTORY —
    * not just the final vector — replays bit-for-bit in any engine:
    * per-type log-probs round to the 1e-4-nat grid (the q119 DSIR
    * quantum: nine orders above cross-engine libm ln() drift), the
    * per-domain average NLL is an exact integer division of the
    * 1e4-scaled sum, and each multiplicative step runs in scaled
    * integer arithmetic:
    *
    *   m_d     = SCALE + etaNum * excess4_d          (SCALE = 1e6)
    *   raw_d   = w_d * m_d / SCALE                   (integer div)
    *   w'_d    = raw_d * SCALE / sum(raw)            (integer div)
    *
    * starting from w_d = SCALE / k, for `steps` rounds. The reported
    * mixture is the paper's per-step AVERAGE (w_avg = sum of w_d over
    * rounds / steps) alongside the final-step vector. Effective
    * learning rate: one nat of excess loss multiplies a domain's
    * weight by (1 + etaNum * 1e4 / SCALE) per step — etaNum = 10 is
    * x1.1/nat/step.
    *
    * Scale shape: two grouped counts over token/bigram occurrences
    * (the lmFit shuffles), two per-occurrence scoring joins, and a
    * k-row census collect — the trajectory itself is O(k * steps) on
    * the driver, bounded because domains are a curated enum, not
    * data-scale. The token frame is pinned once and feeds both the
    * unigram and bigram branches.
    */
  def doremiWeights(df: DataFrame, domainCol: String, textCol: String,
      etaNum: Long = 10L, steps: Int = 10, addK: Double = 0.5): DataFrame = {
    require(etaNum >= 0, s"etaNum $etaNum")
    require(steps >= 1, s"steps $steps")
    require(addK > 0, s"additive smoothing needs k > 0, got $addK")
    val Scale = 1000000L
    val toks = graft.Caches.pin(
      df.where(col(textCol).isNotNull && col(domainCol).isNotNull)
        .select(col(domainCol).cast("string").as("domain"),
          Dedup.normalizeTokens(col(textCol)).as("__t"))
        .where(size(col("__t")) >= 2))
    // proxy: unigram add-k NLL per domain (1e4-scaled integer sum)
    val uni = toks.select(col("domain"), explode(col("__t")).as("tok"))
    val ucnt = graft.Caches.pin(
      uni.groupBy(col("tok")).agg(count(lit(1)).as("c")))
    val hdr = ucnt.agg(sum(col("c")).as("t"), count(lit(1)).as("v")).head()
    val (totTok, vocab) = (hdr.getLong(0), hdr.getLong(1))
    val ulp = ucnt.select(col("tok"),
      round(log((col("c") + lit(addK)) / lit(totTok + addK * vocab))
        * lit(1e4)).cast("long").as("lp4"))
    val pu = uni.join(ulp, Seq("tok"))
      .groupBy(col("domain"))
      .agg((-sum(col("lp4"))).as("us"), count(lit(1)).as("un"))
    // reference: bigram add-k NLL per domain (same vocab, lmFit shape)
    val bi = toks.select(col("domain"),
        explode(transform(sequence(lit(1), size(col("__t")) - 1),
          i => struct(element_at(col("__t"), i).as("w1"),
            element_at(col("__t"), i + 1).as("w2")))).as("__b"))
      .select(col("domain"), col("__b.w1").as("w1"), col("__b.w2").as("w2"))
    val bcnt = graft.Caches.pin(
      bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb")))
    val hcnt = bcnt.groupBy(col("w1")).agg(sum(col("cb")).as("ch"))
    val blp = bcnt.join(hcnt, Seq("w1"))
      .select(col("w1"), col("w2"),
        round(log((col("cb") + lit(addK)) / (col("ch") + lit(addK * vocab)))
          * lit(1e4)).cast("long").as("lp4"))
    val pb = bi.join(blp, Seq("w1", "w2"))
      .groupBy(col("domain"))
      .agg((-sum(col("lp4"))).as("bs"), count(lit(1)).as("bn"))
    // k-row census -> driver trajectory (all positive integer ops)
    val census = pu.join(pb, Seq("domain"))
      .select(col("domain"), col("us"), col("un"), col("bs"), col("bn"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val k = census.length
    require(k >= 1, "doremiWeights needs at least one domain")
    val ex = census.map { case (_, us, un, bs, bn) =>
      math.max(0L, us / un - bs / bn)
    }
    val w = Array.fill(k)(Scale / k)
    val acc = Array.fill(k)(0L)
    var t = 0
    while (t < steps) {
      val raw = Array.tabulate(k)(i => w(i) * (Scale + etaNum * ex(i)) / Scale)
      val s = raw.sum
      var i = 0
      while (i < k) {
        w(i) = raw(i) * Scale / s
        acc(i) += w(i)
        i += 1
      }
      t += 1
    }
    val spark = df.sparkSession
    import spark.implicits._
    census.indices.map { i =>
      val wAvg = acc(i) / steps
      (census(i)._1, ex(i), w(i), wAvg, wAvg.toDouble / 1000000.0)
    }.toSeq.toDF("domain", "excess4", "w_final", "w_avg", "weight")
  }

  /** Curriculum ORDER for training: assign each document a phase
    * (exact ntile of a difficulty/quality score, easiest phase
    * first) and a deterministic within-phase position (the portable
    * id-hash bucket — a reproducible shuffle, not an RNG). A data
    * loader streaming rows in (phase, ord, id) order serves the
    * curriculum: all of phase 1 in hash-shuffled order, then phase 2,
    * etc. Every ingredient is an existing exact primitive — the
    * range-partitioned ntile (no global window funnel) and the
    * portable hash filter's bucket — so the full ordering is
    * replayable by any engine and stable across runs, partitionings,
    * and re-executions (the auditability contract the sampling
    * family carries).
    */
  def curriculumOrder(df: DataFrame, score: Column, idCol: String,
      phases: Int, seed: Long = 42L): DataFrame = {
    require(phases >= 1, s"curriculumOrder: phases $phases")
    graft.ops.ScanOps.ntile(df, Seq(score.asc, col(idCol).asc),
        phases, out = "phase")
      .withColumn("ord", bucket(col(idCol), seed))
  }
}
