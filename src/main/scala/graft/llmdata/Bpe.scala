package graft.llmdata

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer learning and serving (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword
  * Units") as a distributed pipeline — the vocabulary-construction
  * step of an LLM training-data pipeline, and the missing half of the
  * token-counting family (`TextAnalysis.tokenStats` counts
  * whitespace/BPE-ish regex tokens; this LEARNS the subword merges
  * from the corpus).
  *
  * Learning runs on the shared [[MergeLearner]] (one corpus scan into
  * the word-type table, driver loop under a type budget, distributed
  * rounds past it); BPE supplies only its [[rule]]: the character
  * split, the merged symbol `l + r`, and the argmax by weighted pair
  * count.
  *
  * Serving ([[encodeCounts]]) never re-encodes repeated tokens: the
  * distinct tokens of the frame are encoded once and joined back to
  * the occurrence stream ([[Subword.encodeDistinct]]) — the dictionary
  * trick that turns per-occurrence subword work into per-TYPE work.
  *
  * Symbols are the characters of [[Dedup.normalizeTokens]] output;
  * merges never cross token boundaries (GPT-2-style pre-split by
  * whitespace, no end-of-word marker — documented contract, pinned by
  * the reference-implementation spec).
  *
  * Determinism: the merge argmax breaks count ties by
  * (sym_l, sym_r) ascending, so the fitted merge list is a pure
  * function of the corpus on any engine; the round-1 pair census is
  * DuckDB-expressible and oracle-checked (q126).
  */
object Bpe {

  /** A fitted BPE model: merges in learned order (rank 0 first). */
  case class BpeModel(merges: Seq[(String, String)]) {
    /** rank lookup used by the greedy encoder */
    lazy val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.toMap
  }

  /** Greedy BPE encode of one token against a rank table: repeatedly
    * merge the lowest-rank adjacent pair (left-to-right,
    * non-overlapping within a pass) until no mergeable pair remains.
    * Standard serving-side algorithm; tight loop, no per-element
    * expression evaluation.
    */
  private[graft] def encodeToken(tok: String,
      ranks: Map[(String, String), Int]): Array[String] = {
    if (tok.isEmpty) return Array.empty
    var syms = tok.map(_.toString).toArray
    var done = false
    while (!done && syms.length >= 2) {
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else syms = mergePass(syms, best, ranks)
    }
    syms
  }

  /** BPE-DROPOUT encode (Provilkov et al. 2020, "BPE-Dropout: Simple
    * and Effective Subword Regularization"): identical pass structure
    * to [[encodeToken]], but each adjacent position draws a fresh
    * Bernoulli(p) DROP decision every pass — dropped positions are
    * invisible to both the best-rank search and the merge pass, so
    * skipped merges produce longer, varied segmentations (the
    * regularizer). p = 0 is bit-identical to [[encodeToken]] (same
    * passes, nothing dropped — spec-pinned); p = 1 drops every merge
    * and yields pure characters (the oracle twin). Draws come from
    * the same splitmix64 stream as [[Unigram.sampleSegment]] —
    * specified arithmetic, not JDK Random — so a (token, seed) pair
    * encodes identically anywhere, forever.
    */
  private[graft] def encodeTokenDropout(tok: String,
      ranks: Map[(String, String), Int], p: Double,
      seed: Long): Array[String] = {
    require(p >= 0.0 && p <= 1.0, s"dropout p must be in [0,1], got $p")
    if (p <= 0.0) return encodeToken(tok, ranks)
    if (tok.isEmpty) return Array.empty
    var syms = tok.map(_.toString).toArray
    var state = seed
    def nextUnit(): Double = {
      state += 0x9e3779b97f4a7c15L
      var x = state
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x = x ^ (x >>> 31)
      (x >>> 11).toDouble / (1L << 53).toDouble
    }
    var done = false
    while (!done && syms.length >= 2) {
      val keep = Array.fill(syms.length - 1)(nextUnit() >= p)
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        if (keep(i)) {
          val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
          if (r < best) best = r
        }
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val out = scala.collection.mutable.ArrayBuffer[String]()
        i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && keep(i) &&
              ranks.getOrElse((syms(i), syms(i + 1)),
                Int.MaxValue) == best) {
            out += syms(i) + syms(i + 1)
            i += 2
          } else {
            out += syms(i)
            i += 1
          }
        }
        syms = out.toArray
      }
    }
    syms
  }

  /** Per-document BPE-dropout token counts — the training-time
    * serving surface: every token OCCURRENCE draws its own encode
    * (the same word varies across occurrences, like
    * [[Unigram.sampleCounts]]), so there is deliberately no
    * dictionary join. Per-occurrence seeds are
    * `xxhash64(id, position, seed)` computed IN the plan, so results
    * are deterministic under any partitioning and replay.
    */
  def dropoutCounts(df: DataFrame, id: String, text: String,
      model: BpeModel, p: Double, seed: Long): DataFrame = {
    val spark = df.sparkSession
    val ranksB = spark.sparkContext.broadcast(model.ranks)
    val nSub = udf { (tok: String, s: Long) =>
      encodeTokenDropout(tok, ranksB.value, p, s).length
    }
    Subword.seededOccurrences(df, id, text, seed)
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_words"),
        sum(nSub(col("__tok"), col("__seed")).cast("long")).as("n_bpe"))
  }

  /** One left-to-right non-overlapping merge pass of the pair whose
    * rank equals `rank`.
    */
  private def mergePass(syms: Array[String], rank: Int,
      ranks: Map[(String, String), Int]): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 &&
          ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue) == rank) {
        out += syms(i) + syms(i + 1)
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toArray
  }

  /** BPE's merge rule: the character split, the merged symbol
    * `l + r`, and the argmax by weighted pair count, ties by
    * (sym_l, sym_r) ascending. That order is static, so the driver loop
    * reads the head of an ordered index — O(log |pairs|) per round, not
    * a census scan — and a distributed round is one
    * `orderBy(...).head(1)`.
    */
  private[graft] val rule: MergeLearner.Rule = new MergeLearner.Rule {
    def split(tok: String): Array[String] = tok.map(_.toString).toArray
    def merged(l: String, r: String): String = l + r
    val scoresUnits = false
    def compareScore(c1: Long, l1: Long, r1: Long,
        c2: Long, l2: Long, r2: Long): Int = java.lang.Long.compare(c1, c2)
    def pick(census: DataFrame,
        minPairCount: Long): Option[MergeLearner.Merge] =
      census.orderBy(desc("pair_count"), asc("sym_l"), asc("sym_r"))
        .head(1).headOption
        .map(r => MergeLearner.Merge(r.getAs[String]("sym_l"),
          r.getAs[String]("sym_r"), r.getAs[Long]("pair_count"), 0L, 0L))
        .filter(_.count >= minPairCount)
  }

  /** Round-1 adjacent-pair statistics over the corpus — the
    * oracle-checkable stage of BPE learning (exact counts, exact
    * deterministic order). Computed from the word-type table so the
    * pair explosion is vocabulary-sized, not corpus-sized.
    *
    * Output: (sym_l, sym_r, pair_count).
    */
  def pairStats(df: DataFrame, text: String): DataFrame =
    MergeLearner.census(
      MergeLearner.symbolTable(Subword.typeTable(df, text), rule),
      units = false)

  /** Learn `nMerges` BPE merges from the corpus. Stops early when no
    * adjacent pair reaches `minPairCount`. Returns the model plus the
    * merge table `(rank, sym_l, sym_r, merged, pair_count)` for
    * auditing (rank 0 = first merge).
    *
    * Loop venue ([[MergeLearner.fit]]): the word-type census is always
    * distributed; the merge rounds run in memory on the driver when
    * the type table fits `maxDriverTypes` types (the counts make it
    * exact regardless of venue), and as distributed rounds past it. Both
    * venues compute the identical argmax and BpeSpec pins them equal.
    */
  def fit(df: DataFrame, text: String, nMerges: Int,
      minPairCount: Long = 2L,
      maxDriverTypes: Int = 1 << 20): (BpeModel, DataFrame) = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = df.sparkSession
    val (merges, _) = MergeLearner.fit(df, text, rule, nMerges,
      minPairCount, maxDriverTypes)
    import spark.implicits._
    val table = merges.zipWithIndex
      .map { case (m, i) => (i, m.l, m.r, m.l + m.r, m.count) }
      .toDF("rank", "sym_l", "sym_r", "merged", "pair_count")
    (BpeModel(merges.map(m => (m.l, m.r))), table)
  }

  /** Per-document BPE token counts against a fitted model:
    * (id, n_words, n_bpe) — n_bpe/n_words is the fertility the
    * pipeline monitors when choosing a vocabulary budget.
    *
    * Dictionary-join serving: the frame's DISTINCT tokens are encoded
    * once (vocabulary-sized job, broadcast rank map in a tight loop)
    * and joined back to the occurrence stream, so repeated tokens —
    * virtually all of a natural corpus — cost one lookup, not one
    * encode. Unseen-at-fit tokens encode fine (worst case: one symbol
    * per character).
    */
  def encodeCounts(df: DataFrame, id: String, text: String,
      model: BpeModel): DataFrame = {
    val spark = df.sparkSession
    val ranksB = spark.sparkContext.broadcast(model.ranks)
    val nSub = udf { (tok: String) =>
      encodeToken(tok, ranksB.value).length
    }
    Subword.encodeDistinct(df, id, text, nSub)
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_words"), sum(col("__enc")).as("n_bpe"))
  }

  /** STREAMING-SAFE fertility: (id, n_words, n_bpe) computed by one
    * stateless scalar pass per document row — tokenize and encode
    * inside a single tight-loop UDF, no explode, no aggregate — so a
    * stream stays in APPEND mode with no state store and no
    * watermark (the ingest-time fertility monitor; [[encodeCounts]]'s
    * dictionary join is the batch path and needs a streaming-illegal
    * distinct). Identical numbers to encodeCounts, spec-pinned, and
    * stream == batch pinned through a MemoryStream.
    *
    * Repeated tokens within and across rows re-encode against a
    * per-executor memo (bounded, concurrent) rather than per
    * occurrence — the dictionary trick degraded to a cache, which is
    * what a stream allows.
    */
  def fertility(docs: DataFrame, id: String, text: String,
      model: BpeModel): DataFrame = {
    val ranksB = docs.sparkSession.sparkContext.broadcast(model.ranks)
    val counts = udf { (t: String) =>
      val toks = Dedup.tokenizeJvm(t)
      if (toks == null) null
      else {
        var nb = 0L
        val memo = Bpe.memo
        var i = 0
        while (i < toks.length) {
          val tok = toks(i)
          val cached = memo.get(tok)
          if (cached != null) nb += cached.intValue()
          else {
            val n = encodeToken(tok, ranksB.value).length
            if (memo.size < memoCap) memo.put(tok, Integer.valueOf(n))
            nb += n
          }
          i += 1
        }
        (toks.length.toLong, nb)
      }
    }
    docs.where(col(text).isNotNull)
      .select(col(id), counts(col(text)).as("__c"))
      .select(col(id), col("__c").getField("_1").as("n_words"),
        col("__c").getField("_2").as("n_bpe"))
  }

  /** Per-executor (token -> subword count) memo for [[fertility]];
    * bounded, shared across tasks. Correctness never depends on it —
    * a miss just re-encodes.
    */
  private val memoCap = 1 << 17
  @transient private lazy val memo =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Persist a fitted model: the merge list in learned order as one
    * parquet of `(rank, sym_l, sym_r)`. save -> load -> encode is
    * spec-pinned identical.
    */
  def save(spark: org.apache.spark.sql.SparkSession, model: BpeModel,
      path: String): Unit = {
    import spark.implicits._
    model.merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "sym_l", "sym_r")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a model persisted by [[save]] (vocabulary-sized collect;
    * rank order restored explicitly — parquet row order is not a
    * contract).
    */
  def load(spark: org.apache.spark.sql.SparkSession,
      path: String): BpeModel = {
    val merges = spark.read.parquet(path)
      .orderBy(col("rank")).collect()
      .map(r => (r.getAs[String]("sym_l"), r.getAs[String]("sym_r")))
    BpeModel(scala.collection.immutable.ArraySeq.unsafeWrapArray(merges))
  }
}
