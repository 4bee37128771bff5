package graft.llmdata

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece tokenizer learning and serving (Schuster & Nakajima 2012,
  * "Japanese and Korean Voice Search"; the trainer shape popularized
  * by BERT's tokenizer) — the third member of the subword family next
  * to [[Bpe]] (frequency-merge) and [[Unigram]] (probabilistic prune).
  *
  * Learning runs on the same [[MergeLearner]] as [[Bpe]] (one corpus
  * scan into the word-type table, driver loop under a type budget,
  * distributed rounds past it); WordPiece supplies only its [[rule]],
  * and differs from BPE in exactly these places:
  *
  *   - FIT splits a word into `##`-convention symbols and picks the
  *     adjacent pair maximizing the LIKELIHOOD score
  *     `count(ab) / (count(a) * count(b))` — the pair whose merge most
  *     increases a unigram corpus likelihood — instead of the raw
  *     pair count. Scores are compared by exact integer
  *     cross-multiplication (`c1*d2 vs c2*d1` over BigInt, ties by
  *     (sym_l, sym_r) ascending), so the fitted vocabulary is a pure
  *     function of the corpus on any engine — no float decides a
  *     merge.
  *   - SERVING is greedy longest-match-first over the fitted
  *     vocabulary (maximal munch with the `##` continuation prefix),
  *     not merge-rank replay. A word any of whose positions cannot be
  *     matched becomes a single unk token (the BERT convention).
  *     Serving is a dictionary join ([[Subword.encodeDistinct]]) —
  *     distinct tokens encoded once, broadcast back.
  *
  * Symbols use the `##` continuation convention: "abc" starts as
  * ["a", "##b", "##c"]; merging (x, ##y) yields x+"y" (the merged
  * token inherits the left symbol's continuation status). The
  * alphabet (all word-initial chars + all `##`-continuation chars)
  * is always in the vocabulary, so a model fitted on a corpus never
  * UNKs that corpus.
  *
  * Reference analog: the reference (seafan) stops at whitespace
  * tokenization; this extends the tokenizer-learning surface the way
  * `Bpe`/`Unigram` do, per the LLM-data brief.
  */
object WordPiece {

  /** A fitted WordPiece model: the vocabulary (alphabet + merged
    * tokens, `##`-prefixed continuations) plus the learned merge
    * order for auditing.
    */
  case class WpModel(vocab: Set[String], unk: String = "[UNK]") {
    /** longest token length, bounds the munch window */
    lazy val maxLen: Int =
      if (vocab.isEmpty) 1
      else vocab.iterator.map { t =>
        if (t.startsWith("##")) t.length - 2 else t.length
      }.max
  }

  /** Greedy longest-match-first encode of one word: at each position
    * take the longest vocabulary token (word-initial form at position
    * 0, `##`-continuation form after); if no token matches at some
    * position the WHOLE word becomes `unk` (BERT convention —
    * partial matches are discarded, spec-pinned).
    */
  private[graft] def encodeWord(tok: String, vocab: Set[String],
      unk: String): Array[String] = {
    if (tok.isEmpty) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var start = 0
    while (start < tok.length) {
      var end = tok.length
      var found: String = null
      while (found == null && end > start) {
        val sub0 = tok.substring(start, end)
        val sub = if (start > 0) "##" + sub0 else sub0
        if (vocab.contains(sub)) found = sub else end -= 1
      }
      if (found == null) return Array(unk)
      out += found
      start = end
    }
    out.toArray
  }

  /** Initial `##`-convention symbol split of a word type. */
  private[graft] def initSyms(tok: String): Array[String] = {
    val out = new Array[String](tok.length)
    var i = 0
    while (i < tok.length) {
      out(i) = if (i == 0) tok(i).toString else "##" + tok(i)
      i += 1
    }
    out
  }

  /** Merge result of an adjacent (l, r) pair: r sheds its `##`, the
    * merged token keeps l's continuation status.
    */
  private[graft] def mergedSym(l: String, r: String): String =
    l + (if (r.startsWith("##")) r.substring(2) else r)

  /** WordPiece's merge rule: the `##` split, [[mergedSym]], and the
    * likelihood argmax `c/(u_l*u_r)`, compared exactly by BigInt
    * cross-multiplication. Merging reprices every pair sharing a symbol
    * with the merged pair (its unit counts change), so no static index
    * can hold the order: the driver loop scans the live census once
    * per round. A distributed round collects the shortlist whose
    * double-precision score is within 1e-6 relative of the float
    * maximum (tiny by construction) and re-decides it EXACTLY on the
    * driver — float only pre-filters, never decides.
    */
  private[graft] val rule: MergeLearner.Rule = new MergeLearner.Rule {
    def split(tok: String): Array[String] = initSyms(tok)
    def merged(l: String, r: String): String = mergedSym(l, r)
    val scoresUnits = true
    def compareScore(c1: Long, l1: Long, r1: Long,
        c2: Long, l2: Long, r2: Long): Int =
      (BigInt(c1) * (BigInt(l2) * r2)).compare(BigInt(c2) * (BigInt(l1) * r1))
    def pick(census: DataFrame,
        minPairCount: Long): Option[MergeLearner.Merge] = {
      val cand = census.where(col("pair_count") >= minPairCount)
        .withColumn("__s", col("pair_count").cast("double") /
          (col("cnt_l").cast("double") * col("cnt_r").cast("double")))
      val mx = cand.agg(max(col("__s"))).head()
      if (mx.isNullAt(0)) None
      else Some(cand.where(col("__s") >= lit(mx.getDouble(0) * (1.0 - 1e-6)))
        .collect().map(r => MergeLearner.Merge(r.getAs[String]("sym_l"),
          r.getAs[String]("sym_r"), r.getAs[Long]("pair_count"),
          r.getAs[Long]("cnt_l"), r.getAs[Long]("cnt_r")))
        .reduceLeft((a, b) => if (MergeLearner.beats(this, b, a)) b else a))
    }
  }

  /** Round-1 WordPiece statistics over the corpus — the
    * oracle-checkable stage of the fit: every adjacent symbol pair of
    * the initial `##`-split with its weighted pair count and both
    * unit counts (the exact ingredients of the likelihood score).
    * Output `(sym_l, sym_r, pair_count, cnt_l, cnt_r)` ordered by
    * (sym_l, sym_r) — integer-only, no score division, so DuckDB
    * replays it bit-for-bit.
    */
  def pairScores(df: DataFrame, text: String): DataFrame =
    // the symbol table feeds the pair census AND both unit-count
    // joins; pin it through the Caches registry (the persist must
    // outlive this call — the returned plan is lazy)
    MergeLearner.census(graft.Caches.pin(
      MergeLearner.symbolTable(Subword.typeTable(df, text), rule)),
      units = true)

  /** Learn `nMerges` WordPiece merges. Returns the model (alphabet +
    * merged tokens) plus the merge table
    * `(rank, sym_l, sym_r, merged, pair_count, cnt_l, cnt_r)`.
    *
    * Venue rule identical to [[Bpe.fit]]: type table collected under
    * `maxDriverTypes` (the counts are exact either way), distributed
    * rounds past it. `nMerges = 0` is legal and yields the pure
    * alphabet model — the oracle-degenerate configuration (every
    * word encodes to its characters).
    */
  def fit(df: DataFrame, text: String, nMerges: Int,
      minPairCount: Long = 2L,
      maxDriverTypes: Int = 1 << 20): (WpModel, DataFrame) = {
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    val spark = df.sparkSession
    val (merges, alphabet) = MergeLearner.fit(df, text, rule, nMerges,
      minPairCount, maxDriverTypes)
    import spark.implicits._
    val table = merges.zipWithIndex
      .map { case (m, i) =>
        (i, m.l, m.r, mergedSym(m.l, m.r), m.count, m.cntL, m.cntR)
      }
      .toDF("rank", "sym_l", "sym_r", "merged", "pair_count",
        "cnt_l", "cnt_r")
    (WpModel(alphabet ++ merges.map(m => mergedSym(m.l, m.r))), table)
  }

  /** Per-document WordPiece counts against a fitted model:
    * `(id, n_words, n_wp, n_unk)` — fertility plus the UNK rate the
    * pipeline monitors for vocabulary coverage. Dictionary-join
    * serving (the [[Bpe.encodeCounts]] pattern): distinct tokens
    * longest-match encoded once, broadcast back to the occurrence
    * stream.
    */
  def encodeCounts(df: DataFrame, id: String, text: String,
      model: WpModel): DataFrame = {
    val spark = df.sparkSession
    val vocabB = spark.sparkContext.broadcast(model.vocab)
    val unk = model.unk
    val enc = udf { (tok: String) =>
      val pieces = encodeWord(tok, vocabB.value, unk)
      val isUnk = pieces.length == 1 && pieces(0) == unk
      (pieces.length.toLong, if (isUnk) 1L else 0L)
    }
    Subword.encodeDistinct(df, id, text, enc)
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_words"),
        sum(col("__enc").getField("_1")).as("n_wp"),
        sum(col("__enc").getField("_2")).as("n_unk"))
  }

  /** The model's id table: `(token_id, token)` with ids assigned by
    * SORTED token order (0-based, unk included) — a total order both
    * engines can rebuild, unlike fit-order ids whose trajectory only
    * the trainer knows. The contract [[encodeIds]] emits against.
    */
  def vocabTable(spark: org.apache.spark.sql.SparkSession,
      model: WpModel): DataFrame = {
    import spark.implicits._
    (model.vocab + model.unk).toSeq.sorted.zipWithIndex
      .map { case (t, i) => (i, t) }.toDF("token_id", "token")
  }

  /** TOKEN-ID EMISSION — the product output of a tokenization
    * pipeline (the array a training job consumes): one row per piece,
    * `(id, word_pos, piece_pos, token_id)`, ids per [[vocabTable]]'s
    * sorted contract. Dictionary-join shape: each DISTINCT word
    * longest-match encodes once against the broadcast vocabulary, the
    * id arrays join back to the positional occurrence stream and
    * explode — per-occurrence cost is one broadcast-hash lookup plus
    * the explode, never an encode.
    */
  def encodeIds(df: DataFrame, id: String, text: String,
      model: WpModel): DataFrame = {
    val spark = df.sparkSession
    val idOf: Map[String, Int] =
      (model.vocab + model.unk).toSeq.sorted.zipWithIndex.toMap
    val vocabB = spark.sparkContext.broadcast(model.vocab)
    val idsB = spark.sparkContext.broadcast(idOf)
    val unk = model.unk
    val enc = udf { (tok: String) =>
      encodeWord(tok, vocabB.value, unk).map(idsB.value)
    }
    Subword.encodeDistinct(df, id, text, enc)
      .select(col(id), col("__pos").as("word_pos"),
        posexplode(col("__enc")).as(Seq("piece_pos", "token_id")))
  }

  /** Persist a fitted model: one parquet of `(kind, token)` rows —
    * kind 'vocab' for every vocabulary token, one 'unk' row. Loads
    * with [[load]]; save -> load -> encode is spec-pinned identical.
    */
  def save(spark: org.apache.spark.sql.SparkSession, model: WpModel,
      path: String): Unit = {
    import spark.implicits._
    (model.vocab.toSeq.map(("vocab", _)) :+ (("unk", model.unk)))
      .toDF("kind", "token")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a model persisted by [[save]] (vocabulary-sized collect). */
  def load(spark: org.apache.spark.sql.SparkSession,
      path: String): WpModel = {
    val rows = spark.read.parquet(path).collect()
    val vocab = rows.filter(_.getString(0) == "vocab")
      .map(_.getString(1)).toSet
    val unk = rows.find(_.getString(0) == "unk")
      .map(_.getString(1)).getOrElse("[UNK]")
    WpModel(vocab, unk)
  }
}
