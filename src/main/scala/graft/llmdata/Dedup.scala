package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  * All shapes are shuffle-minimal by construction:
  *
  *   - exact: hash -> groupBy(hash) -> keep min id. One shuffle on a
  *     short hash key; survives any scale.
  *   - MinHash + LSH: shingle -> k minhashes -> b bands -> explode to
  *     (band, bucket) -> self-join WITHIN buckets only. The candidate
  *     set is O(colliding pairs), never the O(n^2) cross product —
  *     that is the 100 TB path.
  *   - SimHash: 64-bit fingerprint from token hashes; near-dup =
  *     small Hamming distance, candidates from bucketed prefixes.
  *   - n-gram Jaccard: exact pairwise on a candidate set (verification
  *     stage after LSH, or oracle-checkable on small inputs).
  *   - embedding cosine: see [[Similarity]].
  */
object Dedup {

  /** Normalize text the way fingerprinting pipelines do: lowercase,
    * strip punctuation, collapse whitespace.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text),
      "[^a-z0-9 ]", ""), " +", " "))

  /** The tokenize loop as a plain JVM function, for UDFs that fuse
    * tokenization with other per-row work ([[Bpe.fertility]]). Null
    * in -> null out, same contract as the Column form.
    */
  private[llmdata] def tokenizeJvm(s: String): Array[String] = {
    if (s == null) return null
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      // full Unicode lowercasing, not just A-Z: characters whose
      // lowercase maps INTO [a-z] (Kelvin sign -> k) must
      // survive exactly as they do in the lower()+regex chain
      val lc = Character.toLowerCase(c)
      if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9'))
        sb.append(lc)
      else if (lc == ' ' && sb.length > 0) {
        out += sb.toString; sb.setLength(0)
      } // any other char is stripped, not a separator
      i += 1
    }
    if (sb.length > 0) out += sb.toString
    out.toArray
  }

  /** Normalized non-empty tokens in ONE pass: exactly
    * `filter(split(normalize(text), " "), _ != "")` (parity proven
    * over the full corpus) as a tight character loop instead of a
    * lower + two-regex + trim + split + filter expression chain —
    * measured ~35% faster warm at sf0.1, the dominant cost of every
    * tokenize-bound operator. Null text -> null (filter upstream,
    * same contract as the expression form).
    */
  val normalizeTokens: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (s: String) =>
      val a = tokenizeJvm(s)
      if (a == null) null
      else scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
    }

  /** Exact duplicate groups: md5 of normalized text; keeps the lowest
    * id as the canonical representative.
    */
  def exact(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id), md5(normalize(col(text))).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col(id)).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** Word n-gram shingles of the normalized text (distinct set).
    *
    * Tight-loop UDF. The higher-order-function formulation
    * (transform + slice over the words array) re-evaluates every
    * expression the lambda captures — including the normalize regex
    * and split — once PER ELEMENT, a measured ~40x blowup. The loop
    * normalizes once and slides once. Semantics match [[normalize]]:
    * lowercase, keep [a-z0-9 ], collapse whitespace.
    */
  def shingles(text: Column, n: Int): Column = {
    val f = udf { (t: String) =>
      val words = normalizeJvm(t).trim.split(" +").filter(_.nonEmpty)
      val out = new scala.collection.mutable.LinkedHashSet[String]
      var i = 0
      while (i + n <= words.length) {
        out += words.slice(i, i + n).mkString(" ")
        i += 1
      }
      out.toSeq
    }
    f(text)
  }

  /** The character pass of [[normalize]] shared by the shingle and
    * simhash UDFs: lowercase, then keep only `[a-z0-9 ]` (whitespace
    * is not collapsed; callers split on " +").
    */
  private def normalizeJvm(t: String): String = {
    val sb = new StringBuilder(t.length)
    t.foreach { c0 =>
      val c = Character.toLowerCase(c0)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' ')
        sb.append(c)
    }
    sb.toString
  }

  /** k MinHash values over a shingle array: h_i(S) = min over shingles
    * of mix(murmur3(shingle), seed_i).
    *
    * One tight-loop UDF pass: each shingle is hashed ONCE and the k
    * per-seed values come from a splitmix finalizer — versus k
    * interpreted array scans (higher-order functions don't codegen),
    * which made this the bench's dominant cost.
    */
  def minhashes(sh: Column, k: Int): Column = {
    val f = udf { (shingles: Seq[String]) => minhashArray(shingles, k).toSeq }
    f(sh)
  }

  /** The [[minhashes]] loop as a plain JVM function, shared with
    * [[minhashBandHashes]] so both land bit-identical values.
    */
  private def minhashArray(shingles: Seq[String], k: Int): Array[Long] = {
    val mins = Array.fill(k)(Long.MaxValue)
    shingles.foreach { s =>
      val base = scala.util.hashing.MurmurHash3.stringHash(s).toLong
      var i = 0
      while (i < k) {
        var z = base + 0x9e3779b97f4a7c15L * (i + 1)
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^= z >>> 31
        if (z < mins(i)) mins(i) = z
        i += 1
      }
    }
    mins
  }

  /** PORTABLE k-minhash signature: shingle hash = the char-code
    * polynomial fold of [[portableTokenHash]] ((acc*31+code) mod
    * 1e9+7), per-seed mixing h_i(x) = (x*A_i + B_i) mod 1e9+7 with
    * A_i = (i*2654435761) mod P, B_i = (i*97531) mod P for i = 1..k —
    * plain int64 arithmetic (x < P and A_i < P keep products under
    * 1e18) that ANY engine reproduces exactly, unlike
    * [[minhashes]]'s murmur3+splitmix. This is what lets the DuckDB
    * oracle recompute streaming-dedup signatures bit-for-bit (the
    * q81 portable-simhash trick applied to minhash banding). Same
    * tight-loop shape as [[minhashes]]: each shingle hashed once, k
    * mins in one pass. Empty shingle set -> all-zero signature
    * (callers gate short docs out; the oracle's list_min would be
    * NULL there).
    */
  def portableMinhashes(sh: Column, k: Int): Column = {
    val f = udf { (shingles: Seq[String]) =>
      val P = 1000000007L
      val hs = shingles.iterator
        .map(graft.functions.PortableTokenHash.fold(0L, _)).toArray
      val n = hs.length
      val out = new Array[Long](k)
      var m = 0
      while (m < k) {
        val a = ((m + 1).toLong * 2654435761L) % P
        val b = ((m + 1).toLong * 97531L) % P
        var best = Long.MaxValue
        var t = 0
        while (t < n) {
          val v = (hs(t) * a + b) % P
          if (v < best) best = v
          t += 1
        }
        out(m) = if (n == 0) 0L else best
        m += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
    f(sh)
  }

  /** The per-band bucket hash over `rows` consecutive minhash values —
    * shared by the batch banding UDF and the streaming ingest path so
    * both land identical (band, bucket) keys.
    */
  def bandHash(mins: scala.collection.Seq[Long], band: Int,
      rows: Int): Long = {
    var h = 1125899906842597L
    var r = 0
    while (r < rows) { h = h * 31 + mins(band * rows + r); r += 1 }
    h
  }

  /** Band-bucket hashes for LSH banding, computed in the SAME pass as
    * the minhashes: one UDF emits the b per-band bucket hashes
    * directly. Keeping banding inside the UDF matters: a separate
    * banding projection gets collapsed into the generator and
    * re-evaluates the whole minhash chain once per band (a measured
    * 16x blowup).
    */
  def minhashBandHashes(sh: Column, bands: Int, rows: Int): Column = {
    val k = bands * rows
    val f = udf { (shingles: Seq[String]) =>
      val mins = minhashArray(shingles, k)
      Array.tabulate(bands)(b => bandHash(mins, b, rows)).toSeq
    }
    f(sh)
  }

  /** LSH BAND-CALIBRATION curve — the planning table that turns "which
    * (bands, rows) config?" from folklore into a readable S-curve:
    * for each config and each Jaccard similarity on a `stepPct` grid,
    * the probability at least one band collides,
    *   P(candidate | s) = 1 − (1 − s^r)^b
    * (minhash band collision is s^r per band, bands independent).
    * Read it next to [[minhashCandidates]]'s defaults before running
    * a corpus-scale dedup: the s where P crosses 0.5 is the
    * effective threshold, the slope is the precision/recall trade.
    * Powers are UNROLLED integer-exponent multiplication chains
    * (fixed association order) — `pow()` rounding differs across
    * engines, x·x·…·x does not — so the 6dp table replays exactly.
    * Driver-free: the grid is a `spark.range` lattice, configs ride
    * as a literal array; O(configs · grid) rows total.
    */
  def lshCalibration(spark: org.apache.spark.sql.SparkSession,
      configs: Seq[(Int, Int)], stepPct: Int = 5): DataFrame = {
    require(configs.nonEmpty && configs.forall { case (b, r) =>
      b >= 1 && b <= 64 && r >= 1 && r <= 64 }, s"lshCalibration: $configs")
    require(stepPct >= 1 && stepPct <= 50, s"lshCalibration: $stepPct")
    def ipow(base: Column, e: Int): Column =
      Seq.fill(e)(base).reduce(_ * _)
    val grid = spark.range(1L, (100L / stepPct) + 1L)
      .select((col("id") * stepPct).cast("long").as("s_pct"))
    val s = col("s_pct").cast("double") / lit(100.0)
    val rows = configs.map { case (b, r) =>
      struct(lit(b).as("bands"), lit(r).as("rows_per_band"),
        round(lit(1.0) - ipow(lit(1.0) - ipow(s, r), b), 6)
          .as("p_candidate"))
    }
    grid.select(col("s_pct"), explode(array(rows: _*)).as("__c"))
      .select(col("__c.bands").as("bands"),
        col("__c.rows_per_band").as("rows_per_band"),
        col("s_pct"), col("__c.p_candidate").as("p_candidate"))
      .orderBy(col("bands"), col("rows_per_band"), col("s_pct"))
  }

  /** LSH candidate pairs: split k minhashes into b bands of r rows
    * (k = b*r); docs colliding on any full band are candidates.
    * Shuffles only (band, bucket-hash, id) tuples — tiny relative to
    * the corpus — and pairs docs within buckets through the
    * [[graft.ops.PairCensus]] kernel keyed by (band, bucket). A
    * boilerplate cluster of m identical docs shares every bucket and
    * would emit ~m²/2 pairs per band, so a bucket of more than
    * 100000 docs refuses the query before any pair stage runs. The
    * cap is fixed by design: near-identical documents (a templated
    * page, or equal shingle sets under different text) fill buckets
    * too, so such a cluster of more than 100000 docs is refused even
    * after exact dedup and must be stripped upstream.
    */
  def minhashCandidates(df: DataFrame, id: String, text: String,
      shingleN: Int = 3, bands: Int = 8, rows: Int = 4): DataFrame = {
    // materialize the shingle array in its own stage: higher-order
    // array exprs are interpreted (no codegen); the repartition also
    // spreads CPU-bound work when the source is a single row group
    val sh = df.select(col(id).as("doc"),
        shingles(col(text), shingleN).as("sh"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    // pinned: the guard's bucket census and the pair join both read
    // it, and the minhash UDF must run once for both
    val banded = graft.Caches.pin(sh.select(col("doc").as("member"),
        posexplode(minhashBandHashes(col("sh"), bands, rows)))
      .select(struct(col("pos").as("band"), col("col").as("bucket"))
        .as("key"), col("member")))
    graft.ops.PairCensus("minhashCandidates", banded, 1L, maxBucketDocs,
        remedy = "run Dedup.exact first and strip templated " +
          "boilerplate (identical or near-identical documents share " +
          "band buckets)",
        what = w => s"a band bucket holds $w documents")
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
  }

  /** [[minhashCandidates]]'s bucket cap: fixed, not a parameter. */
  private val maxBucketDocs = 100000

  /** Exact Jaccard similarity of word n-gram shingle sets for given
    * candidate pairs (the verify stage after LSH).
    */
  def jaccardVerify(candidates: DataFrame, docs: DataFrame, id: String,
      text: String, shingleN: Int, threshold: Double): DataFrame = {
    val sh = docs.select(col(id).as("__id"),
      shingles(col(text), shingleN).as("__sh"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    candidates
      .join(sh.select(col("__id").as("doc_a"), col("__sh").as("sh_a")), "doc_a")
      .join(sh.select(col("__id").as("doc_b"), col("__sh").as("sh_b")), "doc_b")
      .withColumn("jaccard", graft.functions.JaccardSimilarity(
        col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: candidates from banded
    * minhashes, verified by exact shingle Jaccard.
    */
  def minhashDedup(df: DataFrame, id: String, text: String,
      shingleN: Int = 3, bands: Int = 8, rows: Int = 4,
      threshold: Double = 0.8): DataFrame =
    jaccardVerify(minhashCandidates(df, id, text, shingleN, bands, rows),
      df, id, text, shingleN, threshold)

  /** Canonical assignment for near-duplicate CLUSTERS: connected
    * components over the pair graph by iterative min-label
    * propagation — each node adopts the smallest id reachable so far;
    * each round is one grouped aggregate + one join (shuffles on id
    * only), converging in O(component diameter) rounds. Near-dup
    * clusters have tiny diameters, so this terminates in a handful of
    * rounds at any data size — the canonical "pairs -> keep one doc
    * per cluster" step after [[minhashDedup]]/[[simhashDedup]].
    *
    * Returns (doc_id, canonical_id) for every document appearing in a
    * pair; canonical_id = the cluster's minimum doc id.
    */
  def duplicateClusters(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).as("s"), col(bCol).as("t"))
      .union(pairs.select(col(bCol).as("s"), col(aCol).as("t")))
      .distinct().cache()
    var labels = edges.select(col("s").as("id")).distinct()
      .withColumn("label", col("id")).cache()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      // TWO min-label supersteps per checkpoint + convergence probe
      // (r15 verdict item 5): the ~0.3s/round localCheckpoint+count
      // floor dominated the loop at sf0.1, and extra supersteps after
      // the fixpoint are identities (min-label propagation is
      // monotone), so batching cannot change the converged labels —
      // it only halves the checkpoint/count jobs at the cost of one
      // identity superstep when the diameter is odd. The unrolled
      // batch is 2 deep, so Catalyst planning stays O(1) per batch.
      val steps = math.min(2, maxIter - i)
      var cur = labels.select(col("id"), col("label"),
        col("label").as("next"))
      for (_ <- 1 to steps) {
        val nbrMin = edges
          .join(cur.select(col("id").as("t"), col("next").as("tl")),
            "t")
          .groupBy(col("s").as("id")).agg(min(col("tl")).as("nl"))
        cur = cur.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("label"),
            least(col("next"), coalesce(col("nl"), col("next")))
              .as("next"))
      }
      // localCheckpoint TRUNCATES the logical plan each batch —
      // without it the accumulated lineage re-analyzes on every
      // iteration and planning time, not task time, dominates (the
      // classic iterative-DataFrame pitfall; caching alone does not
      // cut the plan)
      val updated = cur.localCheckpoint(true)
      changed = updated.where(col("next") < col("label")).count()
      val old = labels
      labels = updated.select(col("id"), col("next").as("label"))
      old.unpersist(blocking = false)
      i += steps
    }
    edges.unpersist(blocking = false)
    labels.select(col("id").as("doc_id"), col("label").as("canonical_id"))
  }

  /** SURVIVORSHIP (golden record): collapse each entity cluster's
    * member records into ONE record per entity by per-attribute MODE
    * — the most frequent non-null value, ties broken by value
    * ascending (a total, engine-portable rule; real MDM survivorship
    * is exactly this plus source-priority variants the caller can
    * encode by pre-filtering). Attributes are melted into
    * (entity, attr, value) rows in one pass — ONE shuffle keyed by
    * (entity, attr, value) however many attributes survive, not one
    * job per attribute — counted, window-ranked inside (entity,
    * attr), and pivoted back to one wide row per entity (values as
    * strings; the caller re-types). All-null attributes surface as
    * null. Emits (entity, n_members, <attrs...>).
    */
  def goldenRecord(df: DataFrame, entity: String,
      attrs: Seq[String]): DataFrame = {
    require(attrs.nonEmpty, "goldenRecord: no attributes")
    val melted = df.select(col(entity).as("__e"),
        explode(array(attrs.map(a => struct(lit(a).as("__a"),
          col(a).cast("string").as("__v"))): _*)).as("__m"))
      .select(col("__e"), col("__m.__a").as("__a"),
        col("__m.__v").as("__v"))
      .where(col("__v").isNotNull)
    val counts = melted.groupBy(col("__e"), col("__a"), col("__v"))
      .agg(count(lit(1)).as("__n"))
    val pick = Window.partitionBy(col("__e"), col("__a"))
      .orderBy(col("__n").desc, col("__v"))
    val winners = counts.withColumn("__rn", row_number().over(pick))
      .where(col("__rn") === 1)
    val sizes = df.groupBy(col(entity).as("__e"))
      .agg(count(lit(1)).as("n_members"))
    val wide = winners.groupBy(col("__e"))
      .pivot("__a", attrs)
      .agg(first(col("__v")))
    sizes.join(wide, Seq("__e"), "left")
      .select(col("__e").as("entity") +: col("n_members") +:
        attrs.map(col): _*)
  }

  /** EXACT set-similarity join by PREFIX FILTERING (Chaudhuri et al.
    * 2006; Xiao et al. 2008 "PPJoin") — all pairs with token-set
    * Jaccard >= num/den, WITHOUT the pairwise stage and WITHOUT the
    * approximation MinHash pays: order every record's distinct
    * tokens by global rarity (df asc, token asc), keep only the
    * first |x| - ceil(t*|x|) + 1 as the PREFIX, and two records can
    * reach the threshold ONLY if their prefixes share a token (the
    * pigeonhole: missing every prefix token already costs too much
    * overlap). Candidates additionally pass the length filter
    * (den*|y| >= num*|x|, both directions, integers) and then EXACT
    * verification — intersection via array_intersect on the two
    * token arrays, the keep decision the cross-multiplied integer
    * inequality inter*den >= num*(|x|+|y|-inter). LOSSLESS: the
    * result set equals brute force (spec-pinned), which is what
    * makes it oracle-checkable at all. Shuffles: token-df census,
    * prefix-token pairs through the [[graft.ops.PairCensus]] kernel
    * (the id order and the length filter prune wedges inside its
    * join; per-token fan-out guarded — a token in half the corpus
    * would be in nobody's prefix anyway since rarity-first ordering
    * puts common tokens LAST), one verify join. Returns (id_a, id_b,
    * n_inter, n_a, n_b, jaccard 6dp).
    */
  def setSimJoin(df: DataFrame, id: String, text: String, num: Long,
      den: Long, maxPerToken: Int = 100000): DataFrame = {
    require(num >= 1 && den >= num, s"setSimJoin: $num/$den")
    // pinned (r15): the tokenize pass fed the df census, both sides
    // of the candidate join, and both verify joins — five lineage
    // re-runs of the normalize work; the prefix table below was
    // likewise rebuilt for its guard action and both join sides
    val toks = graft.Caches.pin(df.where(col(text).isNotNull)
      .select(col(id).as("__id"),
        array_distinct(normalizeTokens(col(text))).as("__ts"))
      .where(size(col("__ts")) >= 1))
    val exploded = toks.select(col("__id"),
      explode(col("__ts")).as("__tok"))
    val dfreq = exploded.groupBy(col("__tok"))
      .agg(count(lit(1)).as("__df"))
    // rarity order within each record; prefix keeps the first
    // |x| - ceil(t*|x|) + 1 = |x| - floor((num*|x| + den - 1)/den) + 1
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("__df"), col("__tok"))
    val ranked = graft.Caches.pin(exploded.join(dfreq, Seq("__tok"))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__id"))))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") <= col("__n") -
        expr(s"(${num}L * __n + ${den}L - 1L) div ${den}L") + 1)
      .select(col("__tok").as("key"),
        struct(col("__id"), col("__n")).as("member")))
    val cands = graft.ops.PairCensus("setSimJoin", ranked, 1L,
        maxPerToken, remedy = "threshold too low for this corpus",
        pair = (a, b) => a("__id") < b("__id") &&
          a("__n") * den >= b("__n") * num &&
          b("__n") * den >= a("__n") * num,
        what = w => s"a prefix token indexes $w records")
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
    val union = col("n_a") + col("n_b") - col("n_inter")
    verifyOverlap(cands, toks,
      col("n_inter") * den >= lit(num) * union, "jaccard",
      round(col("n_inter").cast("double") / union.cast("double"), 6))
  }

  /** Exact verification shared by the set joins: join the candidate
    * pairs (id_a, id_b) back to their token sets `toks` (__id, __ts)
    * on both sides, add the overlap `n_inter` and the set sizes `n_a`,
    * `n_b`, keep the pairs passing `keep`, and emit them with `score`
    * as column `scoreName`.
    */
  private def verifyOverlap(cands: DataFrame, toks: DataFrame,
      keep: Column, scoreName: String, score: Column): DataFrame =
    cands
      .join(toks.select(col("__id").as("id_a"),
        col("__ts").as("__ta")), Seq("id_a"))
      .join(toks.select(col("__id").as("id_b"),
        col("__ts").as("__tb")), Seq("id_b"))
      .withColumn("n_inter",
        size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .withColumn("n_a", size(col("__ta")).cast("long"))
      .withColumn("n_b", size(col("__tb")).cast("long"))
      .where(keep)
      .withColumn(scoreName, score)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("n_a"),
        col("n_b"), col(scoreName))

  /** EXACT CONTAINMENT JOIN — the ASYMMETRIC near-dup relation
    * Jaccard structurally misses: C(A→B) = |A∩B| / |A| >= num/den
    * finds records whose token set is (mostly) INSIDE another's —
    * quoted snippets, boilerplate-wrapped copies, title-in-body.
    * Prefix filtering applies on the CONTAINED side only (if C >= t
    * then A's first |A| - ceil(t·|A|) + 1 rarity-ordered tokens
    * must hit B's FULL token set — the pigeonhole), so the index
    * side is the full postings list: inherently heavier than the
    * symmetric join, which is why the per-token census guards the
    * FULL index here. Candidates pass the one-sided length filter
    * (|B|·den >= num·|A|; no upper bound — a huge container is
    * fine) and exact verification; LOSSLESS vs brute force
    * (spec-pinned). Emits directed pairs (id_a contained-in id_b).
    */
  def containmentJoin(df: DataFrame, id: String, text: String,
      num: Long, den: Long, maxPerToken: Int = 100000,
      minTokens: Int = 1): DataFrame = {
    require(num >= 1 && den >= num, s"containmentJoin: $num/$den")
    require(minTokens >= 1, s"containmentJoin: minTokens $minTokens")
    // minTokens floors the CONTAINED side: a 3-token record is
    // "contained" nearly everywhere, which is noise, not signal.
    // pinned (r15): the tokenize pass fed the census guard, the
    // prefix build, the candidate index side, and both verify joins
    val toks = graft.Caches.pin(df.where(col(text).isNotNull)
      .select(col(id).as("__id"),
        array_distinct(normalizeTokens(col(text))).as("__ts"))
      .where(size(col("__ts")) >= minTokens))
    val exploded = toks.select(col("__id"), size(col("__ts"))
        .cast("long").as("__n"), explode(col("__ts")).as("__tok"))
    val dfreq = exploded.groupBy(col("__tok"))
      .agg(count(lit(1)).as("__df"))
    graft.ops.Guard(dfreq, col("__df"), maxPerToken, "containmentJoin",
      w => s"a token indexes $w records",
      "strip stopword-grade tokens first")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__id")).orderBy(col("__df"), col("__tok"))
    val prefixA = exploded.join(dfreq, Seq("__tok"))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") <= col("__n") -
        expr(s"(${num}L * __n + ${den}L - 1L) div ${den}L") + 1)
      .select(col("__tok"), col("__id").as("__ida"),
        col("__n").as("__na"))
    val cands = prefixA
      .join(exploded.select(col("__tok"), col("__id").as("__idb"),
          col("__n").as("__nb")), Seq("__tok"))
      .where(col("__ida") =!= col("__idb") &&
        col("__nb") * den >= lit(num) * col("__na"))
      .select(col("__ida").as("id_a"), col("__idb").as("id_b"))
      .distinct()
    verifyOverlap(cands, toks,
      col("n_inter") * den >= lit(num) * col("n_a"), "containment",
      round(col("n_inter").cast("double") /
        col("n_a").cast("double"), 6))
  }

  /** Exact pairwise n-gram Jaccard over all id-ordered pairs —
    * O(n^2), for oracle checks and small candidate sets only.
    * The scale path is [[minhashDedup]].
    */
  def jaccardAllPairs(df: DataFrame, id: String, text: String,
      shingleN: Int, threshold: Double): DataFrame = {
    val sh = df.select(col(id).as("__id"), shingles(col(text), shingleN)
      .as("__sh"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val a = sh.select(col("__id").as("doc_a"), col("__sh").as("sh_a"))
    val b = sh.select(col("__id").as("doc_b"), col("__sh").as("sh_b"))
    a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("jaccard", graft.functions.JaccardSimilarity(
        col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Decontamination: near-duplicate pairs BETWEEN two corpora (the
    * train-vs-eval overlap check every training pipeline needs before
    * reporting benchmarks). Same banded-minhash shape as
    * [[minhashDedup]], but candidates come from joining the TRAIN
    * side's (band, bucket) keys against the EVAL side's — shuffle
    * volume is O(band tuples), candidates are O(cross collisions),
    * never |train| x |eval|. Verified by exact shingle Jaccard.
    */
  def crossContamination(train: DataFrame, eval: DataFrame, id: String,
      text: String, shingleN: Int = 3, bands: Int = 8, rows: Int = 4,
      threshold: Double = 0.8,
      measure: String = "jaccard"): DataFrame = {
    val par = train.sparkSession.sparkContext.defaultParallelism
    def banded(df: DataFrame) = df
      .select(col(id).as("__id"), shingles(col(text), shingleN).as("__sh"))
      .repartition(par)
      .select(col("__id"), col("__sh"),
        posexplode(minhashBandHashes(col("__sh"), bands, rows)))
      .toDF("__id", "__sh", "band", "bucket")
    val t = banded(train).select(col("__id").as("train_id"),
      col("__sh").as("sh_t"), col("band"), col("bucket"))
    val e = banded(eval).select(col("__id").as("eval_id"),
      col("__sh").as("sh_e"), col("band"), col("bucket"))
    t.join(e, Seq("band", "bucket"))
      .select(col("train_id"), col("eval_id"), col("sh_t"), col("sh_e"))
      .dropDuplicates("train_id", "eval_id")
      .withColumn("score", crossMeasure(measure))
      .where(col("score") >= threshold)
      .select(col("train_id"), col("eval_id"), col("score"))
  }

  /** "jaccard" = symmetric set overlap; "containment" = the fraction
    * of the EVAL document's shingles present in the train document —
    * the standard decontamination measure (a short eval question
    * embedded in a long train doc has low Jaccard but containment ~1).
    */
  private def crossMeasure(measure: String): Column = measure match {
    case "jaccard" =>
      graft.functions.JaccardSimilarity(col("sh_t"), col("sh_e"))
    case "containment" =>
      size(array_intersect(col("sh_t"), col("sh_e"))).cast("double") /
        size(array_distinct(col("sh_e")))
    case other => throw new IllegalArgumentException(
      s"measure '$other' (expected jaccard | containment)")
  }

  /** Exact cross-corpus Jaccard over ALL train x eval pairs — O(n*m),
    * the oracle/verification form; [[crossContamination]] is the scale
    * path.
    */
  def crossJaccardPairs(train: DataFrame, eval: DataFrame, id: String,
      text: String, shingleN: Int, threshold: Double,
      measure: String = "jaccard"): DataFrame = {
    val par = train.sparkSession.sparkContext.defaultParallelism
    val t = train.select(col(id).as("train_id"),
      shingles(col(text), shingleN).as("sh_t")).repartition(par)
    val e = eval.select(col(id).as("eval_id"),
      shingles(col(text), shingleN).as("sh_e"))
    t.crossJoin(e)
      .withColumn("score", crossMeasure(measure))
      .where(col("score") >= threshold)
      .select(col("train_id"), col("eval_id"), col("score"))
  }

  /** 64-bit SimHash as a single tight-loop pass: normalize, tokenize,
    * hash each token once, accumulate the 64 bit votes, emit the
    * fingerprint. No shuffle at all — embarrassingly parallel — where
    * an explode + 64-column aggregate pays a full exchange of token
    * hashes.
    */
  def simhashUdf: Column => Column = { text =>
    val f = udf { (t: String) =>
      val votes = new Array[Int](64)
      normalizeJvm(t).trim.split(" +").foreach { tok =>
        if (tok.nonEmpty) {
          // splitmix64 of murmur3 — a well-mixed 64-bit token hash
          var z = scala.util.hashing.MurmurHash3.stringHash(tok).toLong
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          z ^= z >>> 31
          var b = 0
          while (b < 64) {
            votes(b) += (if (((z >>> b) & 1L) == 1L) 1 else -1)
            b += 1
          }
        }
      }
      var fp = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
      fp
    }
    f(text)
  }

  def simhashDf(df: DataFrame, id: String, text: String): DataFrame =
    graft.QH.spread(df)
      .select(col(id).as("doc"), simhashUdf(col(text)).as("fp"))

  /** SimHash near-dup candidates: docs whose fingerprints share one
    * chunk of the 64-bit fingerprint, verified by exact Hamming
    * distance.
    *
    * Recall guarantee (pigeonhole): two fingerprints differing in at
    * most h bits touch at most h chunks, so with `chunks >= h + 1`
    * some chunk matches and the pair is ALWAYS a candidate. The chunk
    * count therefore defaults to `maxHamming + 1` (clamped to
    * [4, 16]). The trade is bucket selectivity: more chunks means
    * narrower keys (64/chunks bits) and bigger buckets — at 100 TB
    * keep maxHamming small (<= 6, the usual near-dup band) or the
    * candidate join degenerates toward all-pairs. Requesting
    * `maxHamming > 15` keeps 16 chunks: candidate generation then
    * loses the guarantee and is explicitly best-effort.
    */
  def simhashDedup(df: DataFrame, id: String, text: String,
      maxHamming: Int = 3, chunks: Int = 0,
      maxPerBucket: Int = 0): DataFrame =
    hammingPairs(simhashDf(df, id, text), maxHamming, chunks, bits = 64,
      maxPerBucket = maxPerBucket)

  /** Chunk-bucket candidate pairs + exact Hamming verify over a
    * fingerprint frame `(doc, fp)` — the banding stage shared by the
    * 64-bit and portable simhash variants. Docs sharing a (chunk,
    * value) bucket pair up through the [[graft.ops.PairCensus]]
    * kernel, each member carrying its fingerprint, so the distance
    * is computed from the pair itself; pairs are ordered by doc id
    * alone, so a doc id never pairs with itself. A null fingerprint
    * has no chunks and pairs with nothing.
    *
    * `maxPerBucket` (0 = unlimited) is the explicit skew guard for
    * clustered-fingerprint corpora (the kernel's "drop" policy): a
    * (chunk, key) bucket larger than the cap is EXCLUDED from
    * candidate generation, bounding the self-join at buckets² <= cap²
    * per key instead of degenerating quadratically when many
    * documents share chunk values. The pigeonhole recall guarantee
    * then holds only for pairs sharing at least one under-cap bucket
    * — a deliberate, visible trade (the same enrollment cap streaming
    * dedup applies), NOT the default.
    */
  def hammingPairs(fp: DataFrame, maxHamming: Int, chunks: Int = 0,
      bits: Int = 64, maxPerBucket: Int = 0): DataFrame = {
    val c =
      if (chunks > 0) chunks
      else math.min(16, math.max(4, maxHamming + 1))
    // chunk i covers bits [i*bits/c, (i+1)*bits/c) — widths differ by
    // at most 1, all bits covered, no chunk ever empty
    val bounds = (0 to c).map(i => i * bits / c)
    val chunked = fp.where(col("fp").isNotNull)
      .select(struct(col("doc"), col("fp")).as("member"), posexplode(array(
        (0 until c).map { i =>
          val lo = bounds(i); val w = bounds(i + 1) - lo
          val mask = if (w >= 64) -1L else (1L << w) - 1L
          shiftright(col("fp"), lo).bitwiseAND(mask)
        }: _*)))
      .select(struct(col("pos").as("chunk"), col("col").as("key"))
        .as("key"), col("member"))
    graft.ops.PairCensus("hammingPairs", chunked, 1L, maxPerBucket, "drop",
        pair = (a, b) => a("doc") < b("doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** ENGINE-PORTABLE simhash: 60-bit fingerprint from two independent
    * char-polynomial token hashes (the q51 trick twice — bits 0..29
    * from base 131 mod 1e9+7, bits 30..59 from base 137 mod
    * 998244353), so an SQL oracle can recompute the exact fingerprints
    * (Spark murmur3/xxhash64 cannot be reproduced in DuckDB). Same
    * normalize + per-occurrence bit votes as [[simhashUdf]]; vote ties
    * resolve to 0 in both engines.
    */
  def simhashPortableDf(df: DataFrame, id: String, text: String)
      : DataFrame = {
    val f = udf { (t: String) =>
      val votes = new Array[Int](60)
      normalizeJvm(t).trim.split(" +").foreach { tok =>
        if (tok.nonEmpty) {
          var h1 = 0L; var h2 = 0L
          var i = 0
          while (i < tok.length) {
            h1 = (h1 * 131L + tok.charAt(i)) % 1000000007L
            h2 = (h2 * 137L + tok.charAt(i)) % 998244353L
            i += 1
          }
          val z = h1 + (h2 << 30)
          var b = 0
          while (b < 60) {
            votes(b) += (if (((z >>> b) & 1L) == 1L) 1 else -1)
            b += 1
          }
        }
      }
      var fp = 0L
      var b = 0
      while (b < 60) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
      fp
    }
    graft.QH.spread(df).select(col(id).as("doc"), f(col(text)).as("fp"))
  }

  /** Portable-simhash near-dup pairs: same pigeonhole recall guarantee
    * as [[simhashDedup]], oracle-reproducible fingerprints.
    */
  def simhashPortableDedup(df: DataFrame, id: String, text: String,
      maxHamming: Int = 3, chunks: Int = 0): DataFrame =
    hammingPairs(simhashPortableDf(df, id, text), maxHamming, chunks,
      bits = 60)

  /** Canonical-document selection: given near-duplicate cluster
    * membership ([[duplicateClusters]] output `(id, canonical_id)`)
    * and a per-document quality score, pick each cluster's KEEPER as
    * the highest-quality member (ties -> lowest id) — the "keep the
    * best copy, not the first copy" dedup policy a curation pipeline
    * actually wants. One join + one grouped aggregate (max_by over a
    * (quality, -id) struct — no window, partial-agg safe).
    */
  def canonicalByQuality(clusters: DataFrame, quality: DataFrame,
      id: String = "doc_id", clusterCol: String = "canonical_id",
      qualityCol: String = "quality"): DataFrame =
    clusters.join(quality.select(col(id), col(qualityCol)), Seq(id))
      .groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n_members"),
        max_by(col(id), struct(col(qualityCol), -col(id)))
          .as("keep_doc"),
        max(col(qualityCol)).as("best_quality"))

  // ---- C4-style cross-document unit scrub ---------------------------

  /** Core of the C4 "discard repeated spans" scrub over any exploded
    * unit stream `(docId, pos, unit)` — lines, sentences, token
    * spans. A unit occurring in >= `minDocs` distinct documents is
    * corpus-duplicated; every occurrence is marked removed EXCEPT the
    * globally first one (lowest (docId, pos)), so exactly one copy of
    * each duplicated unit survives corpus-wide.
    *
    * Scale shape: one grouped aggregate on the unit key (partial-agg
    * shuffle; the keeper is a min(struct) — no window, no funnel),
    * filtered to the duplicated tail (rare by construction), joined
    * back on the unit key (AQE broadcasts when small). Returns the
    * input plus a `kept` flag.
    */
  def scrubUnits(units: DataFrame, docId: String, pos: String,
      unit: String, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val dup = units.groupBy(col(unit))
      .agg(countDistinct(col(docId)).as("__nd"),
        min(struct(col(docId), col(pos))).as("__keep"))
      .where(col("__nd") >= minDocs)
      .select(col(unit), col("__keep"))
    units.join(dup, Seq(unit), "left")
      .withColumn("kept", col("__keep").isNull ||
        (col("__keep")(docId) === col(docId) &&
          col("__keep")(pos) === col(pos)))
      .drop("__keep")
  }

  /** C4-style corpus span dedup over fixed `spanTokens`-token grid
    * spans: tokenize, cut each document into consecutive spans, scrub
    * corpus-duplicated spans via [[scrubUnits]], and reassemble each
    * document from its kept spans. Reports per document the span
    * count, how many were scrubbed, and the surviving text.
    */
  def spanDedup(df: DataFrame, docId: String, text: String,
      spanTokens: Int, minDocs: Int = 2): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    val toks = df.where(col(text).isNotNull)
      .select(col(docId),
        filter(split(col(text), " "), t => t =!= "").as("__t"))
      .where(size(col("__t")) >= 1)
    val k = spanTokens
    // the span stream feeds both the duplicate census and the
    // join-back; the pin runs tokenize+explode once (costs
    // span-corpus-sized storage; it wins at both measured scales,
    // BENCH_NOTES). Release via the scoped handle / release() after
    // materializing, else the block outlives the query.
    val spans = graft.Caches.pin(toks.select(col(docId),
        posexplode(transform(
          sequence(lit(0),
            ceil(size(col("__t")) / lit(k.toDouble)).cast("int") - 1),
          i => array_join(slice(col("__t"), i * k + 1, lit(k)), " "))))
      .select(col(docId), col("pos"), col("col").as("span")))
    scrubUnits(spans, docId, "pos", "span", minDocs)
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_removed"),
        array_join(transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("pos"), col("span"))))),
            s => s("span")), " ").as("kept_text"))
  }

  /** 64-bit rolling hashes of every l-token window, one tight loop
    * per document: FNV-1a per token, then a wraparound polynomial
    * over the token hashes rolled across windows (remove the leading
    * term, multiply, add the trailing). Replaces the
    * transform+slice+array_join window STRINGS two ways: the census
    * shuffle carries 8 bytes per window instead of ~l tokens of text
    * (at l=8 most windows are unique, so window keys were ~l x the
    * corpus bytes), and nothing interprets a lambda per window.
    * Collisions merge two censuses with probability ~(windows^2)/2^64
    * — negligible against a corpus; the spans output never exposes
    * the hash.
    */
  private val windowHashes = udf { (toks: Seq[String], l: Int) =>
    val n = toks.length
    if (n < l) Seq.empty[Long]
    else {
      val th = new Array[Long](n)
      var i = 0
      while (i < n) {
        var h = -3750763034362895579L // FNV-1a 64 offset basis
        val s = toks(i)
        var j = 0
        while (j < s.length) {
          h ^= s.charAt(j).toLong
          h *= 1099511628211L // FNV-1a 64 prime
          j += 1
        }
        th(i) = h
        i += 1
      }
      val B = 1000003L
      var bl = 1L // B^(l-1), wrapping like everything else
      i = 1
      while (i < l) { bl *= B; i += 1 }
      val out = new Array[Long](n - l + 1)
      var h = 0L
      i = 0
      while (i < l) { h = h * B + th(i); i += 1 }
      out(0) = h
      i = 1
      while (i <= n - l) {
        h = (h - th(i - 1) * bl) * B + th(i + l - 1)
        out(i) = h
        i += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
  }

  /** Maximal repeated-substring spans (the exact-substring dedup of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", re-expressed relationally): a token position is
    * DUPLICATED when the `l`-token window starting there occurs in >=
    * `minDocs` distinct documents; overlapping/adjacent duplicated
    * windows merge into maximal spans. Unlike [[spanDedup]]'s fixed
    * grid, windows SLIDE — a repeated passage is found at any offset.
    *
    * Returns one row per (doc, maximal span): token start/end
    * (0-based, inclusive) and length.
    *
    * Scale shape: the suffix-array the paper builds is replaced by a
    * sliding-window census — explode (window-hash, doc, pos), one
    * partial-aggregated count per FIXED-WIDTH 64-bit window hash
    * ([[windowHashes]] — 8 bytes of key per window, not l tokens of
    * text), join the >=minDocs set back (broadcast when small, AQE
    * otherwise), then gaps-and-islands per document (window
    * partitioned by doc — bounded by document length, never
    * corpus-wide). Two shuffles on the hash key + one per-doc window;
    * no pairwise stage at all.
    */
  def repeatedSubstringSpans(df: DataFrame, docId: String, text: String,
      l: Int, minDocs: Int = 2): DataFrame = {
    require(l >= 1, s"window length must be >= 1, got $l")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val toks = df.where(col(text).isNotNull)
      .select(col(docId),
        filter(split(col(text), " "), t => t =!= "").as("__t"))
      .where(size(col("__t")) >= l)
    // the window stream feeds both the census and the join-back; the
    // DERIVED unit stream (tokenize + rolling hash + explode) is the
    // expensive part, so it is pinned for one scan (the measured
    // trade at sf0.01 and sf0.1 is in BENCH_NOTES). Release via the
    // scoped handle / release() once materialized.
    val wins = graft.Caches.pin(toks.select(col(docId),
        posexplode(windowHashes(col("__t"), lit(l))))
      .select(col(docId), col("pos"), col("col").as("__w")))
    val dup = wins.groupBy(col("__w"))
      .agg(countDistinct(col(docId)).as("__nd"))
      .where(col("__nd") >= minDocs)
      .select(col("__w"))
    val marked = wins.join(dup, Seq("__w")) // inner: duplicated starts
    // gaps-and-islands per doc: consecutive duplicated starts merge
    val byDoc = Window.partitionBy(col(docId)).orderBy(col("pos"))
    marked
      .withColumn("__island", col("pos") - row_number().over(byDoc))
      .groupBy(col(docId), col("__island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(l) - 1).as("span_end"))
      .select(col(docId), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Portable per-token hash: the character-code polynomial
    * fold((acc, ch) => (acc * 31 + code(ch)) mod 1e9+7, 0) — plain
    * integer arithmetic any engine reproduces (DuckDB:
    * list_reduce(list_prepend(0, codes), ...)), unlike xxhash64.
    * Accumulator stays < 1e9 so products never overflow int64.
    */
  def portableTokenHash(tok: Column): Column =
    aggregate(split(tok, ""), lit(0L),
      (acc, ch) => pmod(acc * 31L + ascii(ch), lit(1000000007L)))

  /** Content-defined chunking (the Rabin/CDC idea on token streams):
    * a token whose [[portableTokenHash]] is 0 mod `modulus` ENDS a
    * chunk, so chunk boundaries are a pure function of content —
    * insert a paragraph and only the chunks around the edit change,
    * which is what makes chunk-level dedup robust to shifts (fixed
    * grids re-cut everything downstream). Expected chunk length =
    * `modulus` tokens.
    *
    * Returns one row per chunk: 0-based chunk index, token start,
    * length, an md5 fingerprint, and how many DISTINCT documents
    * carry an identical chunk (cross-doc duplicate census — chunks
    * with `n_docs >= 2` are the CDC dedup candidates).
    *
    * Scale shape: per-doc windows only (bounded by document length),
    * one partial-aggregated census keyed by the chunk fingerprint,
    * broadcast-joined back when small. No pairwise stage.
    */
  def chunkByContent(df: DataFrame, docId: String, text: String,
      modulus: Int = 64): DataFrame = {
    require(modulus >= 2, s"modulus must be >= 2, got $modulus")
    val toks = df.where(col(text).isNotNull)
      .select(col(docId),
        posexplode(filter(split(col(text), " "), t => t =!= "")))
      .select(col(docId), col("pos"), col("col").as("__tok"))
      .withColumn("__b",
        when(pmod(graft.functions.PortableTokenHash(col("__tok")),
          lit(modulus.toLong)) === 0L, 1L).otherwise(0L))
    val byDoc = Window.partitionBy(col(docId)).orderBy(col("pos"))
    // a boundary token ENDS its chunk: chunk id = boundaries strictly
    // before this position
    val chunked = toks.withColumn("chunk_id",
      coalesce(sum(col("__b"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // chunks feed both the census and the join-back. Pinning them
    // measured a WASH at both scales once the boundary hash became a
    // tight-loop UDF (BENCH_NOTES), so they are recomputed: no storage
    // cost for no win.
    val chunks = chunked.groupBy(col(docId), col("chunk_id"))
      .agg(min(col("pos")).as("chunk_start"),
        count(lit(1)).as("n_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("__tok")))),
          s => s("__tok")), " ")).as("chunk_md5"))
    val census = chunks.groupBy(col("chunk_md5"))
      .agg(countDistinct(col(docId)).as("n_docs"))
    chunks.join(census, Seq("chunk_md5"))
      .select(col(docId), col("chunk_id"), col("chunk_start"),
        col("n_tokens"), col("chunk_md5"), col("n_docs"))
  }

  /** BENCHMARK CONTAMINATION check — the decontamination pass every
    * serious pretraining pipeline runs (GPT-3 App. C; PaLM §8;
    * Llama-2 A.6 all report n-gram overlap decontamination): flag
    * training documents sharing word n-grams with an evaluation
    * set, so benchmark answers don't leak into the corpus.
    *
    * Per corpus document: its DISTINCT word `shingleN`-grams
    * ([[shingles]] — the dedup family's normalization), the count
    * of those that appear ANYWHERE in the benchmark, the overlap
    * rate in exact ppm (integer `div` — no float in the hash path),
    * and a flag at `flagPpm`. Documents shorter than `shingleN`
    * words have no n-grams and report 0 (can't leak a full n-gram).
    *
    * Scale shape: one explode + one hash join on the n-gram string
    * + one per-doc aggregation — corpus-bytes linear, no all-pairs
    * stage. The benchmark side is DISTINCT-reduced before the join
    * (eval sets are small next to a pretraining corpus; Spark's
    * stats will broadcast it when it fits).
    */
  def benchmarkContamination(corpus: DataFrame, benchmark: DataFrame,
      id: String, text: String, shingleN: Int = 8,
      flagPpm: Long = 100000L): DataFrame = {
    require(shingleN >= 1, s"benchmarkContamination: shingleN $shingleN")
    val bsh = benchmark.where(col(text).isNotNull)
      .select(explode(shingles(col(text), shingleN)).as("__g"))
      .distinct()
    val corp = corpus.where(col(text).isNotNull)
    val hit = corp
      .select(col(id), explode(shingles(col(text), shingleN)).as("__g"))
      .join(bsh.withColumn("__hit", lit(1L)), Seq("__g"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("__ng"),
        sum(coalesce(col("__hit"), lit(0L))).as("__nh"))
    corp.select(col(id))
      .join(hit, Seq(id), "left")
      .select(col(id),
        coalesce(col("__ng"), lit(0L)).as("n_grams"),
        coalesce(col("__nh"), lit(0L)).as("n_hit"))
      .withColumn("contam_ppm",
        when(col("n_grams") === 0L, lit(0L))
          .otherwise(expr("n_hit * 1000000L div n_grams")))
      .withColumn("flagged",
        (col("contam_ppm") >= flagPpm).cast("int"))
  }

  /** Line-level variant of [[spanDedup]] for corpora with real line
    * structure: units are trimmed non-empty lines.
    */
  def lineDedup(df: DataFrame, docId: String, text: String,
      minDocs: Int = 2): DataFrame = {
    val lines = df.where(col(text).isNotNull)
      .select(col(docId), posexplode(split(col(text), "\n")))
      .select(col(docId), col("pos"), trim(col("col")).as("line"))
      .where(col("line") =!= "")
    scrubUnits(lines, docId, "pos", "line", minDocs)
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_removed"),
        array_join(transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("pos"), col("line"))))),
            s => s("line")), "\n").as("kept_text"))
  }
}
