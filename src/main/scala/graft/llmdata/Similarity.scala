package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Brute-force cosine is the exactness baseline (one broadcast of the
  * query, a codegen'd zip_with dot product, a top-k — no shuffle of
  * the corpus). The scale path is LSH bucketing (random hyperplanes)
  * or IVF (coarse k-means cells): probe only matching buckets, so the
  * scored set shrinks by orders of magnitude at 100 TB.
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double
    * precision (matches DuckDB's list_cosine_similarity: one
    * sequential left-to-right pass). Backed by the native codegen'd
    * [[graft.functions.CosineSimilarity]] expression — higher-order
    * array functions would interpret one expression tree per element
    * in the pairwise-join hot path.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** Brute-force top-k nearest neighbors of one query vector:
    * broadcast literal query, score every row, take k. Exact.
    */
  def bruteForceTopK(df: DataFrame, id: String, vec: String,
      query: Array[Float], k: Int): DataFrame = {
    val q = array(query.toIndexedSeq.map(v => lit(v.toDouble)): _*)
    df.select(col(id),
        cosine(col(vec), q).as("similarity"))
      .orderBy(col("similarity").desc, col(id).asc)
      .limit(k)
  }

  /** INT8 SCALAR QUANTIZATION serving (the FAISS ScalarQuantizer
    * QT_8bit shape) — the 4x-memory compression tier between raw
    * float vectors and PQ codes: per-dimension [min, max] learned
    * from the corpus, each coordinate snapped to an 8-bit code, and
    * candidates ranked by the SYMMETRIC integer code dot product.
    *
    * Why this is the family's exactness anchor: PQ (q114) ranks by
    * learned-codebook distances and is rows-only by nature; SQ8's
    * whole trajectory is replayable — the min/max fit is an exact
    * aggregate, the encode is ONE fixed-shape double expression
    * (identical on any engine for identical inputs), and from the
    * codes on everything is integer: dot products are exact longs,
    * the top-k is a (dot desc, id) TakeOrdered. No float enters the
    * ranking.
    *
    * Scale shape: fit = one dim-bounded aggregation; encode = a
    * map; serve = broadcast query codes + linear integer scan +
    * TakeOrdered (the brute-force tier; IVF/LSH remain the
    * sublinear paths). Fit arrays ride the driver under the PQ
    * bounded-collect contract (dim entries).
    *
    * Degenerate dims (max == min) code to 0 and drop out of every
    * dot product — the honest "no information" coordinate.
    */
  def sq8TopK(df: DataFrame, id: String, vec: String, queryId: Long,
      k: Int): DataFrame = {
    require(k >= 1, s"sq8TopK: k $k")
    val base = graft.Caches.pin(df
      .where(col(id).isNotNull && col(vec).isNotNull)
      .select(col(id).cast("long").as("__id"),
        transform(col(vec), x => x.cast("double")).as("__v")))
    val fit = base
      .select(posexplode(col("__v")).as(Seq("__d", "__x")))
      .groupBy(col("__d"))
      .agg(min(col("__x")).as("__lo"), max(col("__x")).as("__hi"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(fit.nonEmpty, "sq8TopK: empty corpus")
    val los = typedlit(fit.map(_._2))
    val his = typedlit(fit.map(_._3))
    def codeAt(x: Column, i: Column) = {
      val lo = element_at(los, i + 1)
      val hi = element_at(his, i + 1)
      when(hi === lo, lit(0L)).otherwise(
        least(greatest(
          floor((x - lo) * lit(255.0) / (hi - lo) + lit(0.5))
            .cast("long"), lit(0L)), lit(255L)))
    }
    val coded = base.select(col("__id"),
      transform(col("__v"), (x, i) => codeAt(x, i)).as("__c"))
    val qRow = coded.where(col("__id") === queryId)
      .select(col("__c")).head()
    val qc = typedlit(qRow.getSeq[Long](0).toArray)
    coded.where(col("__id") =!= queryId)
      .select(col("__id").as(id),
        aggregate(zip_with(col("__c"), qc, (a, b) => a * b),
          lit(0L), (acc, v) => acc + v).as("dot_q"))
      .orderBy(col("dot_q").desc, col(id).asc)
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) with INTEGER-EXACT
    * contributions: each branch row carries a 1-based long `rank`,
    * and a document's fused score is Σ scale div (rrfK + rank) over
    * the branches that retrieved it — floor division on longs, so
    * the fused ranking is bit-identical on any engine (the float
    * 1/(k+r) form differs only below the quantization and could
    * never be hash-verified). The standard hybrid-retrieval
    * combiner: rank-space fusion needs no score calibration between
    * a BM25 branch and a cosine branch. Branch inputs are top-k
    * lists — bounded, so the union+groupBy is trivially small at any
    * corpus scale; the cost lives in the branches.
    */
  def rrfFuse(branches: Seq[DataFrame], idCol: String,
      rrfK: Long = 60L, scale: Long = 1000000000000L): DataFrame = {
    require(branches.nonEmpty, "rrfFuse: at least one branch")
    branches.map(_.select(col(idCol),
        expr(s"${scale}L div (${rrfK}L + rank)").as("__c")))
      .reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("rrf_score"),
        count(lit(1)).as("n_branches"))
  }

  /** Per-dimension SCALAR quantization of an embedding column to
    * byte-range codes (the int8 compression every vector store ships
    * — 4x smaller than float32, ~1% recall cost in practice):
    * code = floor((x - lo_d) / (hi_d - lo_d) * levels + 0.5) with
    * (lo_d, hi_d) the dimension's global min/max. The +0.5 floor is
    * HALF-UP rounding written in primitives both engines evaluate
    * identically (round() semantics differ across engines; floor
    * does not), and min/max/ratio are exact double arithmetic in one
    * fixed operation order, so every code is engine-replayable
    * (q217). Dequantize with lo + code * (hi - lo) / levels; the
    * rounding guarantee |x - x̂| <= (hi-lo)/(2*levels) is the
    * in-plan gate q217 carries. One posexplode + a broadcast
    * dimension-stats table (dims-sized); constant dimensions emit
    * code 0.
    */
  def scalarQuantize(df: DataFrame, id: String, vec: String,
      levels: Int = 255): DataFrame = {
    require(levels >= 1 && levels <= 65535,
      s"scalarQuantize: levels $levels")
    val ex = df.where(col(vec).isNotNull)
      .select(col(id), posexplode(col(vec)).as(Seq("dim", "__x")))
      .withColumn("__x", col("__x").cast("double"))
    val stats = ex.groupBy(col("dim"))
      .agg(min(col("__x")).as("lo"), max(col("__x")).as("hi"))
    ex.join(broadcast(stats), Seq("dim"))
      .withColumn("code",
        when(col("hi") === col("lo"), 0L)
          .otherwise(floor((col("__x") - col("lo")) /
            (col("hi") - col("lo")) * lit(levels.toDouble) + lit(0.5))
            .cast("long")))
      .select(col(id), col("dim").cast("long").as("dim"), col("code"),
        col("lo"), col("hi"), col("__x").as("x"))
  }

  /** Candidate-feature table for SECOND-STAGE reranking: full-outer
    * join the per-branch (id, rank) shortlists into one row per
    * candidate with a `rank_<branch>` column each, absent branches
    * coalesced to `missingRank` (an explicit "beyond the shortlist"
    * value keeps the feature integer and the serving arithmetic
    * exact — a NULL would poison the linear score). Shortlists are
    * top-k-bounded, so every join here is broadcast-sized regardless
    * of corpus scale.
    */
  def rerankFeatures(branches: Seq[(String, DataFrame)], idCol: String,
      missingRank: Long = 1000L): DataFrame = {
    require(branches.nonEmpty, "rerankFeatures: at least one branch")
    branches.map { case (name, df) =>
      df.select(col(idCol), col("rank").as(s"rank_$name"))
    }.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
      .select(col(idCol) +: branches.map { case (name, _) =>
        coalesce(col(s"rank_$name"), lit(missingRank))
          .as(s"rank_$name") }: _*)
  }

  /** MAXIMAL MARGINAL RELEVANCE (Carbonell & Goldstein 1998) — the
    * standard diversified top-k: greedily pick the candidate
    * maximizing λ·relevance - (1-λ)·max-similarity-to-selected, so
    * the result covers the query's facets instead of returning k
    * near-duplicates. λ is fixed at 0.7 in integer form: objective
    * obj = 7·rel_ppm - 3·maxsim_ppm (both operands integer ppm,
    * similarity = token-set Jaccard floored to ppm), so every pick
    * and tiebreak (obj desc, id asc) replays on any engine. The
    * shortlist is top-k bounded BY CONSTRUCTION — collected under
    * the house bounded-collect contract and solved greedily on the
    * driver (the fitReranker venue rule: k·|shortlist| comparisons
    * beat k distributed argmax jobs by orders of magnitude).
    * `shortlist` carries (id, rel_ppm, tokens: array<string>).
    * Emits (rank, id, rel_ppm, obj).
    */
  def mmrSelect(shortlist: DataFrame, id: String, relPpm: String,
      tokens: String, k: Int, maxRows: Int = 4096): DataFrame = {
    require(k >= 1, s"mmrSelect: k $k")
    val rows = shortlist.select(col(id).cast("long"),
        col(relPpm).cast("long"), col(tokens))
      .limit(maxRows + 1).collect()
    require(rows.length <= maxRows, s"mmrSelect: shortlist exceeds " +
      s"$maxRows rows — MMR input must be a bounded top-k shortlist")
    require(rows.nonEmpty, "mmrSelect: empty shortlist")
    final case class C(cid: Long, rel: Long, toks: Set[String])
    val cs = rows.map(r =>
      C(r.getLong(0), r.getLong(1), r.getSeq[String](2).toSet))
    def simPpm(a: C, b: C): Long = {
      val inter = (a.toks & b.toks).size.toLong
      val union = (a.toks | b.toks).size.toLong
      if (union == 0L) 0L else inter * 1000000L / union
    }
    val picked = scala.collection.mutable.ArrayBuffer[(C, Long)]()
    val kk = math.min(k, cs.length)
    while (picked.length < kk) {
      val chosen = cs.iterator
        .filterNot(c => picked.exists(_._1.cid == c.cid))
        .map { c =>
          val ms = if (picked.isEmpty) 0L
            else picked.iterator.map(p => simPpm(c, p._1)).max
          (c, 7L * c.rel - 3L * ms)
        }
        .minBy { case (c, o) => (-o, c.cid) }
      picked += chosen
    }
    val spark = shortlist.sparkSession
    import spark.implicits._
    picked.zipWithIndex.map { case ((c, o), i) =>
      ((i + 1).toLong, c.cid, c.rel, o)
    }.toSeq.toDF("rank", id, relPpm, "obj")
  }

  /** Train a logistic reranker over numeric candidate features
    * against click-shaped labels, returning weights QUANTIZED to
    * longs (and the matching intercept) so serving goes through the
    * exact-integer [[rerankLinear]] path — the q144 rule: the solver
    * may be float, the served ranking must be engine-replayable.
    * Candidate tables are shortlist-sized, so the fit is cheap; at
    * scale the same call trains over pooled shortlists from many
    * queries.
    */
  def fitReranker(cands: DataFrame, featureCols: Seq[String],
      labelCol: String, maxIter: Int = 25, regParam: Double = 0.0,
      quantScale: Double = 1e6, maxRows: Int = 1000000)
      : (Seq[(String, Long)], Long) = {
    // The candidate table is shortlist-sized BY CONSTRUCTION (top-k
    // per branch), so a distributed optimizer pays 25 iterations of
    // pure per-job overhead for a problem that fits in one array.
    // Collect under an explicit cardinality guard (the house
    // bounded-collect contract) and run Newton on the driver — the
    // same venue rule as Financial.irr and the BPE merge loop. The
    // objective matches MLlib LogisticRegression: mean log-loss
    // + regParam * L2 on coefficients scaled by per-feature sample
    // variance (MLlib standardizes features, penalizing standardized
    // coefficients — beta_std_j = beta_j * sigma_j); the intercept
    // is never penalized. At regParam = 0 the optimum is identical
    // (spec-pinned at 1e-6 against MLlib).
    require(featureCols.nonEmpty, "fitReranker: no features")
    val d = featureCols.length
    val rows = cands
      .select(featureCols.map(c => col(c).cast("double")) :+
        col(labelCol).cast("double"): _*)
      .limit(maxRows + 1).collect()
    require(rows.length <= maxRows, s"fitReranker: candidate table " +
      s"exceeds $maxRows rows — shortlists should be top-k bounded; " +
      "pool fewer queries per fit or raise maxRows deliberately")
    val n = rows.length
    require(n > 0, "fitReranker: empty candidate table")
    val x = Array.tabulate(n, d)((i, j) => rows(i).getDouble(j))
    val y = Array.tabulate(n)(i => rows(i).getDouble(d))
    // per-feature sample variance (MLlib's summarizer convention)
    // for the standardized-L2 penalty; only used when regParam > 0
    val sig2 = Array.tabulate(d) { j =>
      val m = x.map(_(j)).sum / n
      if (n > 1) x.map(r => (r(j) - m) * (r(j) - m)).sum / (n - 1)
      else 0.0
    }
    val beta = new Array[Double](d + 1) // intercept last
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val g = new Array[Double](d + 1)
      val h = Array.ofDim[Double](d + 1, d + 1)
      var i = 0
      while (i < n) {
        var z = beta(d)
        var j = 0
        while (j < d) { z += beta(j) * x(i)(j); j += 1 }
        val p = 1.0 / (1.0 + math.exp(-z))
        val r = (p - y(i)) / n
        val w = math.max(p * (1.0 - p), 1e-12) / n
        j = 0
        while (j <= d) {
          val xj = if (j == d) 1.0 else x(i)(j)
          g(j) += r * xj
          var k = 0
          while (k <= j) {
            val xk = if (k == d) 1.0 else x(i)(k)
            h(j)(k) += w * xj * xk
            k += 1
          }
          j += 1
        }
        i += 1
      }
      var j = 0
      while (j < d) { // standardized-L2 term (never the intercept)
        g(j) += regParam * sig2(j) * beta(j)
        h(j)(j) += regParam * sig2(j)
        j += 1
      }
      j = 0
      while (j <= d) {
        var k = j + 1
        while (k <= d) { h(j)(k) = h(k)(j); k += 1 }
        j += 1
      }
      val step = solveSpd(h, g)
      var maxAbs = 0.0
      j = 0
      while (j <= d) {
        beta(j) -= step(j)
        if (math.abs(step(j)) > maxAbs) maxAbs = math.abs(step(j))
        j += 1
      }
      converged = maxAbs < 1e-12
      it += 1
    }
    (featureCols.zipWithIndex.map { case (c, j) =>
      c -> math.round(beta(j) * quantScale) },
      math.round(beta(d) * quantScale))
  }

  /** Gaussian elimination with partial pivoting for the tiny Newton
    * systems above (dimension = features + 1); a singular system
    * (perfectly collinear features / complete separation late in the
    * solve) falls back to a zero step, freezing Newton where LBFGS
    * would likewise stall.
    */
  private def solveSpd(a0: Array[Array[Double]], b0: Array[Double])
      : Array[Double] = {
    val m = b0.length
    val a = Array.tabulate(m, m)((i, j) => a0(i)(j))
    val b = b0.clone()
    var col = 0
    while (col < m) {
      var piv = col
      var r = col + 1
      while (r < m) {
        if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r
        r += 1
      }
      if (math.abs(a(piv)(col)) < 1e-300) return new Array[Double](m)
      if (piv != col) {
        val t = a(piv); a(piv) = a(col); a(col) = t
        val tb = b(piv); b(piv) = b(col); b(col) = tb
      }
      r = col + 1
      while (r < m) {
        val f = a(r)(col) / a(col)(col)
        var c = col
        while (c < m) { a(r)(c) -= f * a(col)(c); c += 1 }
        b(r) -= f * b(col)
        r += 1
      }
      col += 1
    }
    val xOut = new Array[Double](m)
    var i = m - 1
    while (i >= 0) {
      var s = b(i)
      var j = i + 1
      while (j < m) { s -= a(i)(j) * xOut(j); j += 1 }
      xOut(i) = s / a(i)(i)
      i -= 1
    }
    xOut
  }

  /** EXACT-INTEGER linear reranker over a candidate-feature table:
    * score = intercept + Σ w_i * feature_i in pure int64 arithmetic
    * (the q144/q145 serving rule lifted from hashed text features to
    * retrieval features), then top-k by (score desc, id). Learned
    * weights arrive QUANTIZED to longs, so the served ranking is
    * hash-verifiable by any engine — float scoring could never be.
    * The candidate table is shortlist-sized; this is driver-light,
    * one TakeOrdered, no shuffle of the corpus.
    */
  def rerankLinear(cands: DataFrame, idCol: String,
      features: Seq[(String, Long)], intercept: Long,
      k: Int): DataFrame = {
    require(features.nonEmpty, "rerankLinear: no features")
    require(k >= 1, s"rerankLinear: k $k")
    val score = features.foldLeft(lit(intercept)) {
      case (acc, (f, w)) => acc + col(f).cast("long") * lit(w)
    }
    cands.withColumn("rr_score", score)
      .orderBy(col("rr_score").desc, col(idCol)).limit(k)
  }

  /** All near-duplicate embedding pairs above a cosine threshold —
    * exact O(n^2) scoring; oracle-checkable. For scale use
    * [[lshNeighbors]].
    */
  def cosinePairs(df: DataFrame, id: String, vec: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(id).as("id_a"), col(vec).as("va"))
    val b = df.select(col(id).as("id_b"), col(vec).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("similarity", cosine(col("va"), col("vb")))
      .where(col("similarity") >= threshold)
      .select(col("id_a"), col("id_b"), col("similarity"))
  }

  /** Deterministic pseudo-random hyperplanes: component i of plane p
    * derived from murmur3 of (p, i) — seeded, reproducible, no RNG
    * state, computed driver-side once and closed over by the UDF.
    */
  private def planes(dim: Int, nBits: Int): Array[Array[Double]] =
    Array.tabulate(nBits, dim) { (p, i) =>
      scala.util.hashing.MurmurHash3
        .caseClassHash((p * 7919 + i, 42)).toDouble / Int.MaxValue
    }

  /** Random-hyperplane LSH signature: bit p = sign of dot(v, plane_p).
    * Vectors in the same bucket (same nBits-bit signature) are
    * near-angle candidates. Tight-loop UDF over the broadcast plane
    * matrix (interpreted higher-order exprs would cost ~dim*nBits
    * tree-walks per row).
    */
  def lshSignature(vec: Column, dim: Int, nBits: Int): Column = {
    val ps = planes(dim, nBits)
    val f = udf { (v: Seq[Float]) =>
      var sig = 0L
      var p = 0
      while (p < ps.length) {
        val plane = ps(p)
        var dot = 0.0; var i = 0
        val n = math.min(v.length, plane.length)
        while (i < n) { dot += v(i) * plane(i); i += 1 }
        if (dot >= 0) sig |= (1L << p)
        p += 1
      }
      sig
    }
    f(vec.cast("array<float>"))
  }

  /** LSH-bucketed near-neighbor pairs: candidates from equal
    * signatures, verified by exact cosine. The self-join key is the
    * signature — shuffle is proportional to bucket sizes, not n^2.
    */
  def lshNeighbors(df: DataFrame, id: String, vec: String, dim: Int,
      nBits: Int, threshold: Double): DataFrame = {
    val sig = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(id).as("__id"), col(vec).as("__v"),
        lshSignature(col(vec), dim, nBits).as("__sig"))
    val a = sig.select(col("__id").as("id_a"), col("__v").as("va"),
      col("__sig").as("sig"))
    val b = sig.select(col("__id").as("id_b"), col("__v").as("vb"),
      col("__sig").as("sig"))
    a.join(b, Seq("sig")).where(col("id_a") < col("id_b"))
      .withColumn("similarity", cosine(col("va"), col("vb")))
      .where(col("similarity") >= threshold)
      .select(col("id_a"), col("id_b"), col("similarity"))
  }

  /** IVF index: LEARNED coarse centroids (MLlib KMeans over
    * direction-normalized vectors — Euclidean on the unit sphere
    * orders like cosine) plus the cell assignment of every corpus
    * vector. Fit is one distributed KMeans; the index adds one small
    * int column — no shuffle of the corpus beyond what KMeans itself
    * does.
    */
  case class IvfIndex(centroids: Array[Array[Double]],
      assigned: DataFrame)

  private def normalizeD(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** The `p` cells nearest `v` by cosine, nearest first: dot of the
    * normalized `v` with each normalized centroid in `cn` over the
    * shorter length, ranked by (-score, cell).
    */
  private def nearestCells(cn: Array[Array[Double]], v: Array[Double],
      p: Int): Array[Int] = {
    val x = normalizeD(v)
    cn.zipWithIndex.map { case (c, i) =>
      var s = 0.0; var j = 0
      val n = math.min(x.length, c.length)
      while (j < n) { s += x(j) * c(j); j += 1 }
      (-s, i)
    }.sorted.take(p).map(_._2)
  }

  /** `assign` > 1 indexes every corpus vector under its `assign`
    * nearest cells (multi-assignment): the index grows `assign`-fold
    * but recall at a fixed probe count rises sharply — the standard
    * counter to high-dimensional cell-boundary misses.
    */
  def ivfFit(df: DataFrame, id: String, vec: String, nCells: Int,
      maxIter: Int = 20, seed: Long = 42L, assign: Int = 1): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.linalg.Vectors
    val toFeat = udf { (v: Seq[Float]) =>
      Vectors.dense(normalizeD(v.toArray.map(_.toDouble)))
    }
    val feat = df
      .select(col(id), col(vec),
        toFeat(col(vec).cast("array<float>")).as("__feat"))
      .cache()
    val model = new KMeans().setK(nCells).setMaxIter(maxIter)
      .setSeed(seed).setFeaturesCol("__feat")
      .setPredictionCol("__cell").fit(feat)
    val centers = model.clusterCenters.map(_.toArray)
    val assigned =
      if (assign <= 1) model.transform(feat).drop("__feat")
      else {
        val cn = centers.map(normalizeD)
        val topCells = udf { (v: Seq[Float]) =>
          nearestCells(cn, v.toArray.map(_.toDouble), assign)
        }
        df.select(col(id), col(vec),
          explode(topCells(col(vec).cast("array<float>"))).as("__cell"))
      }
    feat.unpersist(blocking = false)
    IvfIndex(centers, assigned)
  }

  /** Serve a query SET in one job (the batch serving path): rank
    * cells per query with the broadcast centroid matrix (a tight UDF
    * over nCells * dim doubles — small by construction), retrieve
    * candidates as one (cell)-join against the index, exact-rescore,
    * and take per-query top-k through a ranked window. No per-query
    * driver round-trip; shuffle volume is O(candidate pairs) =
    * roughly probes/nCells of the corpus per query, and the window
    * partitions by query id, so fan-out scales with the query set.
    */
  def ivfProbeBatch(index: IvfIndex, id: String, vec: String,
      queries: DataFrame, qid: String, qvec: String, k: Int,
      probes: Int): DataFrame = {
    val cn = index.centroids.map(normalizeD)
    val p = math.max(1, probes)
    val topCells = udf { (v: Seq[Float]) =>
      nearestCells(cn, v.toArray.map(_.toDouble), p)
    }
    val qcells = queries.select(col(qid).as("__qid"),
      col(qvec).as("__qv"),
      explode(topCells(col(qvec).cast("array<float>"))).as("__cell"))
    val cand = qcells
      .join(index.assigned.select(col(id).as("__cid"),
        col(vec).as("__cv"), col("__cell")), Seq("__cell"))
      .select(col("__qid"), col("__cid"),
        cosine(col("__qv"), col("__cv")).as("similarity"))
      // multi-probe x multi-assign can surface a (query, doc) pair
      // several times with the same score
      .dropDuplicates("__qid", "__cid")
    val w = Window.partitionBy(col("__qid"))
      .orderBy(col("similarity").desc, col("__cid").asc)
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("__qid").as(qid), col("__cid").as(id),
        col("similarity"), col("rank"))
  }

  /** Persist an [[IvfIndex]] (fit once, serve many): centroids and
    * cell assignments as parquet under `path`.
    */
  def ivfSave(index: IvfIndex, path: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    index.assigned.write.mode("overwrite").parquet(s"$path/assigned")
  }

  /** INCREMENTAL REFRESH of an IVF index — the append path every
    * production vector index needs (a corpus that only ever refits
    * from scratch cannot ingest): centroids stay FROZEN (the FAISS
    * `add` contract — moving them would silently invalidate every
    * existing cell assignment) and each addition is assigned to its
    * nearest cell by cosine. Rows whose `id` already exists in the
    * index are REPLACED (upsert, latest wins); single-assignment
    * refresh (a multi-assign index refreshes via refit — its
    * boundary-miss insurance needs the fit-time `assign` fan-out).
    *
    * The assignment is a pure codegen'd Column expression —
    * `array_position(scores, array_max(scores))`, first-max-wins on
    * ties — over the broadcast centroid literals, NOT a UDF: exact,
    * engine-replayable arithmetic ([[cosine]]'s sequential pass) so
    * a static-centroid configuration oracle-checks end to end
    * (q397), and no serialization in the ingest hot path. Scale
    * shape: one narrow scan of the additions + one anti-join on the
    * index id (both shuffle-bounded by the ADDITIONS, not the
    * corpus, under broadcast when additions are small) — 100 TB
    * index, bounded ingest batch: yes.
    */
  def ivfUpsert(index: IvfIndex, additions: DataFrame, id: String,
      vec: String): IvfIndex = {
    require(index.centroids.nonEmpty, "ivfUpsert: empty centroids")
    val scores = array(index.centroids.map { c =>
      cosine(col(vec),
        array(c.toIndexedSeq.map(x => lit(x)): _*))
    }.toIndexedSeq: _*)
    val cell = (array_position(scores, array_max(scores)) - 1L)
      .cast("int")
    val cols = index.assigned.columns
    val fresh = additions.select(col(id), col(vec),
      cell.as("__cell")).select(cols.map(col).toIndexedSeq: _*)
    val kept = index.assigned.join(
      additions.select(col(id)), Seq(id), "left_anti")
    IvfIndex(index.centroids, kept.unionByName(fresh))
  }

  /** Load a persisted [[IvfIndex]]. The centroid collect is bounded
    * (nCells rows); assignments stay a lazy parquet scan.
    */
  def ivfLoad(spark: org.apache.spark.sql.SparkSession, path: String)
      : IvfIndex = {
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy(col("cell")).collect()
      .map(_.getSeq[Double](1).toArray)
    IvfIndex(cents, spark.read.parquet(s"$path/assigned"))
  }

  /** Probe a prefitted [[IvfIndex]] — the per-query cost at serving
    * time: centroid ranking on the driver, then a cell-pruned scan.
    */
  def ivfProbe(index: IvfIndex, id: String, vec: String,
      query: Array[Float], k: Int, probes: Int): DataFrame = {
    val probeCells = nearestCells(index.centroids.map(normalizeD),
      query.map(_.toDouble), math.max(1, probes)).toSeq
    val q = array(query.toIndexedSeq.map(v => lit(v.toDouble)): _*)
    index.assigned
      .where(col("__cell").isin(probeCells: _*))
      .select(col(id), cosine(col(vec), q).as("similarity"))
      .distinct() // multi-assigned vectors can hit several probed cells
      .orderBy(col("similarity").desc, col(id).asc)
      .limit(k)
  }

  /** Principal components model: `mean` centers, `components` are
    * row vectors (top-k eigenvectors of the sample covariance,
    * eigenvalue-descending), `explained` the matching eigenvalues.
    */
  case class PcaModel(mean: Array[Double],
      components: Array[Array[Double]], explained: Array[Double],
      totalVariance: Double)

  /** PCA fit (Pearson 1901 / Hotelling 1933) on a BOUNDED
    * deterministic sample — the [[pqFit]] contract: covariance
    * estimation saturates on a few thousand points, so at 100 TB the
    * fit reads a portable-hash-ordered sample and only
    * [[pcaProject]] touches the corpus. Covariance + cyclic Jacobi
    * eigendecomposition run on the driver (dim x dim — milliseconds;
    * a distributed eigensolver for a 64x64 matrix is pure job
    * overhead, the fitReranker lesson). Deterministic throughout:
    * hash-ordered sample, fixed Jacobi sweep order, eigenvalue-then-
    * index ordering, and a SIGN CONVENTION (largest-|component|
    * coordinate made positive, first index on ties) — eigenvectors
    * are otherwise sign-ambiguous across solvers.
    */
  def pcaFit(df: DataFrame, id: String, vec: String, k: Int,
      sampleRows: Int = 1 << 16): PcaModel = {
    require(k >= 1, s"pcaFit: k $k")
    val sample = df
      .orderBy(Sampling.bucket(col(id), 42L), col(id))
      .limit(sampleRows)
      .select(col(vec).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "pcaFit: empty input")
    val n = sample.length
    val d = sample.head.length
    require(k <= d, s"pcaFit: k $k > dim $d")
    require(n >= 2, "pcaFit: need >= 2 sample rows")
    val mean = new Array[Double](d)
    sample.foreach { v =>
      var j = 0; while (j < d) { mean(j) += v(j); j += 1 } }
    var j = 0
    while (j < d) { mean(j) /= n; j += 1 }
    val cov = Array.ofDim[Double](d, d)
    sample.foreach { v =>
      var a = 0
      while (a < d) {
        val va = v(a) - mean(a)
        var b = a
        while (b < d) { cov(a)(b) += va * (v(b) - mean(b)); b += 1 }
        a += 1
      }
    }
    var a = 0
    while (a < d) {
      var b = a
      while (b < d) {
        cov(a)(b) /= (n - 1); cov(b)(a) = cov(a)(b); b += 1 }
      a += 1
    }
    val (vals, vecs) = jacobiEigen(cov)
    val order = vals.zipWithIndex.sortBy { case (v, i) => (-v, i) }
      .map(_._2)
    val comps = order.take(k).map { ci =>
      val v = Array.tabulate(d)(r => vecs(r)(ci))
      // sign convention: the largest-|x| coordinate positive
      var best = 0
      var bi = 1
      while (bi < d) {
        if (math.abs(v(bi)) > math.abs(v(best))) best = bi
        bi += 1
      }
      if (v(best) < 0) v.map(-_) else v
    }
    PcaModel(mean, comps, order.take(k).map(vals), vals.sum)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix:
    * rotations zero each off-diagonal element in a FIXED sweep order
    * until convergence — deterministic, and for the dim x dim
    * covariance sizes here (<= a few hundred) faster than any
    * distributed detour. Returns (eigenvalues, column eigenvectors).
    */
  private def jacobiEigen(m0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = m0.length
    val a = Array.tabulate(d, d)((i, j) => m0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 100 && off > 1e-22) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          off += a(p)(q) * a(p)(q)
          if (math.abs(a(p)(q)) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Project vectors onto a fitted [[PcaModel]]: center on the model
    * mean, dot with each component (tight loop over the broadcast
    * matrix), 6dp-rounded pc columns. One codegen'd map over the
    * corpus — the fit never re-enters.
    */
  def pcaProject(df: DataFrame, id: String, vec: String,
      model: PcaModel): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(model)
    val proj = udf { (v: Seq[Float]) =>
      val m = bc.value
      val d = m.mean.length
      m.components.map { c =>
        var s = 0.0
        var j = 0
        while (j < d) { s += (v(j) - m.mean(j)) * c(j); j += 1 }
        math.rint(s * 1e6) / 1e6
      }.toSeq
    }
    df.select(col(id), proj(col(vec).cast("array<float>")).as("__p"))
      .select(col(id) +: model.components.indices.map(i =>
        element_at(col("__p"), i + 1).as(s"pc${i + 1}")): _*)
  }

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the vector space is
    * split into `m` subspaces of `subDim` dims, each with its own
    * `k`-centroid codebook — a vector compresses to m small codes
    * (m bytes at k <= 256), a 32x-256x memory cut that is what lets
    * an ANN index over 100 TB of embeddings live in RAM.
    */
  case class PqCodebooks(m: Int, k: Int, subDim: Int,
      centroids: Array[Array[Array[Double]]]) // [m][k][subDim]

  /** Fit PQ codebooks: direction-normalize (L2 on the unit sphere
    * ranks like cosine, same trick as [[ivfFit]]), slice into `m`
    * subvectors, Lloyd per subspace on a BOUNDED deterministic sample
    * (first `sampleRows` ids in PORTABLE-HASH order — equally
    * deterministic as a sorted prefix but unbiased when ids correlate
    * with content, e.g. crawl order; a TakeOrdered heap, not a full
    * sort). Codebook training is inherently a
    * small-sample problem — k centroids per subspace saturate on a
    * few thousand points, so at 100 TB the fit reads a sample and
    * only [[pqEncode]] touches the corpus; the m tiny Lloyd loops run
    * on the driver in milliseconds (MLlib's per-fit job overhead x m
    * subspaces measured ~10s for the same result).
    */
  def pqFit(df: DataFrame, id: String, vec: String, m: Int, k: Int,
      maxIter: Int = 20, seed: Long = 42L,
      sampleRows: Int = 1 << 16): PqCodebooks = {
    val sample = df
      .orderBy(Sampling.bucket(col(id), seed), col(id)).limit(sampleRows)
      .select(col(vec).cast("array<float>")).collect()
      .map(r => normalizeD(r.getSeq[Float](0).toArray.map(_.toDouble)))
    require(sample.nonEmpty, "pqFit: empty input")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    val books = Array.tabulate(m) { s =>
      val pts = sample.map(x => java.util.Arrays.copyOfRange(
        x, s * subDim, (s + 1) * subDim))
      lloyd(pts, k, maxIter, new scala.util.Random(seed + s))
    }
    PqCodebooks(m, k, subDim, books)
  }

  /** Plain Lloyd k-means on driver-local points (seeded init from a
    * shuffled index pick; empty clusters reseed to a random point;
    * fewer distinct points than k pads by cycling).
    */
  private def lloyd(points: Array[Array[Double]], k: Int, maxIter: Int,
      rnd: scala.util.Random): Array[Array[Double]] = {
    val n = points.length
    val d = points.head.length
    val init = rnd.shuffle((0 until n).toVector).take(math.min(k, n))
    val cents = Array.tabulate(k)(i =>
      points(init(i % init.length)).clone())
    var it = 0
    while (it < maxIter) {
      val sums = Array.ofDim[Double](k, d)
      val cnts = new Array[Long](k)
      var i = 0
      while (i < n) {
        val p = points(i)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0.0; var j = 0
          while (j < d) { val t = p(j) - cents(c)(j); dist += t * t; j += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        val sr = sums(best)
        var j = 0
        while (j < d) { sr(j) += p(j); j += 1 }
        cnts(best) += 1
        i += 1
      }
      var c = 0
      while (c < k) {
        if (cnts(c) > 0) {
          var j = 0
          while (j < d) { cents(c)(j) = sums(c)(j) / cnts(c); j += 1 }
        } else cents(c) = points(rnd.nextInt(n)).clone()
        c += 1
      }
      it += 1
    }
    cents
  }

  /** Encode every vector to its m nearest-subcentroid codes — the
    * compressed index. Tight UDF over the broadcast codebooks; output
    * is (id, codes int array), the only thing the serving scan reads.
    */
  def pqEncode(df: DataFrame, id: String, vec: String,
      cb: PqCodebooks): DataFrame = {
    val enc = udf { (v: Seq[Float]) =>
      val x = normalizeD(v.toArray.map(_.toDouble))
      Array.tabulate(cb.m) { s =>
        val base = s * cb.subDim
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cb.centroids(s).length) {
          val cent = cb.centroids(s)(c)
          var d = 0.0; var j = 0
          while (j < cb.subDim) {
            val t = x(base + j) - cent(j); d += t * t; j += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
    }
    df.select(col(id), enc(col(vec).cast("array<float>")).as("codes"))
  }

  /** PQ top-k by asymmetric distance (ADC): the query builds one
    * m x k distance table driver-side, every corpus vector's
    * approximate distance is m table lookups over its CODES — the
    * raw vectors are never read at serving time. TakeOrdered top-k;
    * no shuffle beyond the O(k) merge.
    */
  def pqTopK(encoded: DataFrame, id: String, cb: PqCodebooks,
      query: Array[Float], k: Int): DataFrame = {
    val qn = normalizeD(query.map(_.toDouble))
    val table = Array.tabulate(cb.m, cb.k) { (s, c) =>
      val cent = cb.centroids(s)(c)
      var d = 0.0; var j = 0
      while (j < cb.subDim) {
        val t = qn(s * cb.subDim + j) - cent(j); d += t * t; j += 1
      }
      d
    }
    val adc = udf { (codes: Seq[Int]) =>
      var d = 0.0; var s = 0
      while (s < codes.length) { d += table(s)(codes(s)); s += 1 }
      d
    }
    encoded.select(col(id), round(adc(col("codes")), 9).as("approx_dist"))
      .orderBy(col("approx_dist").asc, col(id).asc)
      .limit(k)
  }

  /** PQ serving as production systems run it: ADC over the codes
    * prunes the corpus to a `shortlist`, then ONLY the shortlist's
    * raw vectors are read back for an exact re-rank — the standard
    * two-stage shape (compressed scan for candidates, exact math for
    * the final order) that buys back the quantization error pure ADC
    * pays on hard (near-uniform) data.
    */
  def pqTopKRerank(encoded: DataFrame, df: DataFrame, id: String,
      vec: String, cb: PqCodebooks, query: Array[Float], k: Int,
      shortlist: Int = 0): DataFrame = {
    val sl = if (shortlist > 0) shortlist else 5 * k
    val cand = pqTopK(encoded, id, cb, query, sl).select(col(id))
    val q = array(query.toIndexedSeq.map(v => lit(v.toDouble)): _*)
    df.join(broadcast(cand), Seq(id))
      .select(col(id), cosine(col(vec), q).as("similarity"))
      .orderBy(col("similarity").desc, col(id).asc)
      .limit(k)
  }

  /** IVF + PQ composed (the FAISS IVFADC shape): learned coarse cells
    * prune WHICH vectors are scanned, PQ codes compress WHAT is
    * scanned — probes bound the candidate volume, ADC bounds the
    * bytes per candidate, and only the final shortlist touches raw
    * vectors. This is the standard billion-scale ANN serving layout.
    */
  case class IvfPqIndex(centroids: Array[Array[Double]],
      books: PqCodebooks, encoded: DataFrame) // (id, __cell, codes)

  /** Fit both quantizers and encode the corpus once: coarse KMeans
    * cells ([[ivfFit]]) + subspace codebooks ([[pqFit]] on a bounded
    * sample), joined into one (id, cell, codes) index frame — the
    * only thing serving reads outside the final rerank.
    */
  def ivfPqFit(df: DataFrame, id: String, vec: String, nCells: Int,
      m: Int, k: Int, maxIter: Int = 20, seed: Long = 42L)
      : IvfPqIndex = {
    val ivf = ivfFit(df, id, vec, nCells, maxIter, seed)
    val books = pqFit(df, id, vec, m, k, maxIter, seed)
    val encoded = ivf.assigned.select(col(id), col("__cell"))
      .join(pqEncode(df, id, vec, books), Seq(id))
    IvfPqIndex(ivf.centroids, books, encoded)
  }

  /** Serve top-k: rank cells driver-side (O(nCells x dim)), ADC-score
    * only the probed cells' codes into a `shortlist`, exact-rerank
    * only the shortlist's raw vectors. Recall dials: probes (cell
    * coverage) and shortlist (quantization-error recovery).
    */
  def ivfPqTopK(index: IvfPqIndex, df: DataFrame, id: String,
      vec: String, query: Array[Float], k: Int, probes: Int,
      shortlist: Int = 0): DataFrame = {
    val probeCells = nearestCells(index.centroids.map(normalizeD),
      query.map(_.toDouble), math.max(1, probes)).toSeq
    val sl = if (shortlist > 0) shortlist else 5 * k
    val cand = pqTopK(
      index.encoded.where(col("__cell").isin(probeCells: _*)),
      id, index.books, query, sl).select(col(id))
    val q = array(query.toIndexedSeq.map(v => lit(v.toDouble)): _*)
    df.join(broadcast(cand), Seq(id))
      .select(col(id), cosine(col(vec), q).as("similarity"))
      .orderBy(col("similarity").desc, col(id).asc)
      .limit(k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with coarse k-means
    * ([[ivfFit]]'s learned cells), then inside each cell drop every
    * vector that has an EARLIER (lower-id) cell-mate at cosine >=
    * `eps` — each near-duplicate group keeps its lowest id. Returns
    * the surviving rows of `df`.
    *
    * Scale shape: pairwise cosine runs only WITHIN cells — the
    * SemDeDup trick that turns all-pairs O(n^2) into sum of
    * O(|cell|^2) with n/nCells-sized cells; the cell self-join
    * shuffles on the cell key (hot cells split by AQE), dropped ids
    * dedup through a grouped distinct, survivors come from one
    * left-anti join. Clustering only ever REMOVES candidate pairs
    * (cross-cell near-dups go unseen), so survivors are a superset of
    * the exact nCells = 1 answer — the recall/cost dial is nCells.
    * `nCells <= 1` skips k-means entirely and IS the exact
    * configuration (oracle-checkable).
    */
  def semanticDedup(df: DataFrame, id: String, vec: String,
      eps: Double, nCells: Int, maxIter: Int = 20,
      seed: Long = 42L): DataFrame = {
    require(eps > 0 && eps <= 1, s"eps must be in (0, 1], got $eps")
    val assigned =
      if (nCells <= 1) df.select(col(id), col(vec), lit(0).as("__cell"))
      else ivfFit(df, id, vec, nCells, maxIter, seed).assigned
    val a = assigned.select(col("__cell"), col(id).as("__ida"),
      col(vec).as("__va"))
    val b = assigned.select(col("__cell"), col(id).as("__idb"),
      col(vec).as("__vb"))
    val dropped = a.join(b, Seq("__cell"))
      .where(col("__ida") < col("__idb") &&
        cosine(col("__va"), col("__vb")) >= eps)
      .select(col("__idb").as("__drop")).distinct()
    df.join(dropped, col(id) === col("__drop"), "left_anti")
  }

  /** Semantic (embedding-space) DECONTAMINATION: score every TRAIN
    * document against every EVAL document and flag the train docs
    * whose best cosine reaches `threshold` — the embedding-space
    * complement of the n-gram [[Dedup.decontaminate]] (which misses
    * paraphrased leakage; this catches it). Output one row per train
    * doc: (id, max_eval_sim, nearest_eval_id, contaminated);
    * `.where(!col("contaminated"))` on the input ids gives the clean
    * set.
    *
    * Scale shape: an eval benchmark is BOUNDED BY CONSTRUCTION
    * (thousands of docs, not corpus-scale), so the eval side is
    * collected once under an explicit cardinality guard
    * (`maxEvalRows`, same contract as the PQ fit sample) and
    * broadcast; scoring is then ONE stateless projection over the
    * train corpus — no join, no shuffle, no candidate explosion, and
    * it streams (the scorer is a per-row scalar). 100 TB of train
    * embeddings scan straight through. For an unbounded second
    * corpus use [[cosinePairs]]/[[lshNeighbors]] across the union
    * instead — that is corpus-vs-corpus dedup, a different operator.
    *
    * Cosine accumulates in double, one sequential pass, identical
    * order to [[graft.functions.CosineSimilarity]] — so the scores
    * are bit-compatible with the expression form and (to the ulp)
    * with DuckDB's list_cosine_similarity; ties on the argmax break
    * to the lowest eval id.
    */
  def semanticDecontaminate(train: DataFrame, evalDf: DataFrame,
      id: String, vec: String, threshold: Double,
      maxEvalRows: Int = 1 << 17): DataFrame = {
    val evalRows = evalDf.select(col(id).cast("long"), col(vec))
      .limit(maxEvalRows + 1).collect()
    require(evalRows.length <= maxEvalRows,
      s"eval corpus exceeds maxEvalRows=$maxEvalRows — an eval set " +
        "is bounded by construction; for corpus-vs-corpus dedup use " +
        "cosinePairs/lshNeighbors")
    require(evalRows.nonEmpty, "eval corpus is empty")
    val evalIds = evalRows.map(_.getLong(0))
    val evalVecs = evalRows.map(_.getSeq[Float](1).toArray)
    val b = train.sparkSession.sparkContext
      .broadcast((evalIds, evalVecs))
    val best = udf { (v: Seq[Float]) =>
      if (v == null) null
      else {
        val x = v.toArray
        val (ids, vecs) = b.value
        var bestSim = Double.NegativeInfinity
        var bestId = Long.MaxValue
        var e = 0
        while (e < vecs.length) {
          val y = vecs(e)
          val n = math.min(x.length, y.length)
          var dot = 0.0; var nx = 0.0; var ny = 0.0
          var i = 0
          while (i < n) {
            val xi = x(i).toDouble; val yi = y(i).toDouble
            dot += xi * yi; nx += xi * xi; ny += yi * yi
            i += 1
          }
          val s = dot / (math.sqrt(nx) * math.sqrt(ny))
          if (s > bestSim || (s == bestSim && ids(e) < bestId)) {
            bestSim = s; bestId = ids(e)
          }
          e += 1
        }
        (bestSim, bestId)
      }
    }
    train.select(col(id), best(col(vec)).as("__b"))
      .select(col(id),
        col("__b").getField("_1").as("max_eval_sim"),
        col("__b").getField("_2").as("nearest_eval_id"),
        (col("__b").getField("_1") >= threshold).as("contaminated"))
  }

  /** Diversity (cluster-balanced) sampling over an embedding column:
    * learn `nCells` k-means cells, keep at most `perCell` vectors per
    * cell — the curation move that flattens semantic density so one
    * over-represented topic can't dominate a training mix. Within a
    * cell the survivors are chosen by the portable id hash
    * ([[graft.llmdata.Sampling.bucket]]), so given the learned cells
    * the kept set is deterministic and engine-reproducible.
    *
    * Like [[semanticDedup]], the output depends on the learned cells
    * (rows-only entry); nCells = 1 degenerates to "the perCell
    * lowest-hash ids" with no learned state, which the spec pins
    * against independently computed expected ids.
    *
    * Scale shape: centroid fit is a bounded-sample k-means; the
    * assignment is one broadcast-centroid projection; the cap is one
    * window partitioned by cell — bounded by the largest cell
    * (~corpus/nCells when cells grow with the corpus).
    */
  def clusterSample(df: DataFrame, id: String, vec: String,
      nCells: Int, perCell: Int, maxIter: Int = 10,
      seed: Long = 42L): DataFrame = {
    val assigned =
      if (nCells <= 1) df.select(col(id), lit(0).as("__cell"))
      else ivfFit(df, id, vec, nCells, maxIter, seed).assigned
        .select(col(id), col("__cell"))
    clusterSampleBy(assigned, id, col("__cell"), perCell, seed)
  }

  /** [[clusterSample]]'s cap stage on a CALLER-SUPPLIED cell column —
    * diversity capping over precomputed cluster / topic / shard
    * labels, with no learned state anywhere: the kept set is a pure
    * function of (id, cell, seed), so the per-cell window-cap
    * semantics are engine-replayable end to end (the q125 family's
    * oracle twin). Same scale shape: one window partitioned by cell,
    * bounded by the largest cell.
    */
  def clusterSampleBy(df: DataFrame, id: String, cell: Column,
      perCell: Int, seed: Long = 42L): DataFrame = {
    require(perCell >= 1, s"perCell must be >= 1, got $perCell")
    val named = df.select(col(id), cell.as("cell"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(Sampling.bucket(col(id), seed), col(id))
    named.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= perCell)
      .select(col(id), col("cell"))
  }
}
