package graft.llmdata

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-language-model tokenizer (Kudo 2018, "Subword
  * Regularization: Improving Neural Network Translation Models with
  * Multiple Subword Candidates" — the SentencePiece unigram
  * algorithm), the second half of the tokenizer family next to
  * [[Bpe]]: where BPE grows a vocabulary bottom-up by merge rules,
  * the unigram model starts from a large seed of candidate pieces
  * and PRUNES toward the budget, scoring segmentations by piece
  * log-probabilities (Viterbi).
  *
  * This is the hard-EM (Viterbi-count) variant: each E-step assigns
  * every word type its single best segmentation under the current
  * piece probabilities; the M-step re-estimates probabilities from
  * those counts. Deterministic by construction — ties in the
  * Viterbi lattice break toward the longer final piece, seed and
  * prune orders are (weight desc, piece asc) — so the fitted
  * vocabulary is a pure function of the corpus.
  *
  * Scale shape (the [[Bpe.fit]] venue contract): the corpus is
  * scanned ONCE into the word-type census ([[Subword.typeTable]], the
  * scan every tokenizer fit starts from).
  * Everything after is vocabulary-sized: the type table collects
  * under an explicit budget — `maxDriverTypes` rows, top by (cnt
  * desc, token asc) so an over-budget corpus degrades to a
  * DETERMINISTIC bounded-sample fit (the PQ/Lloyd contract) rather
  * than an error — and the EM loop runs in memory, which is how the
  * reference SentencePiece trainer works too (it is a single-node
  * program over the type table). Serving ([[encodeCounts]]) is the
  * dictionary trick of [[Subword.encodeDistinct]]: distinct tokens
  * Viterbi-decode once against the broadcast vocabulary, then join
  * back to the occurrence stream.
  */
object Unigram {

  /** A fitted unigram model: piece -> log-probability. Always
    * contains every single character seen at fit time (coverage
    * floor), so any token over the fit alphabet is encodable;
    * unseen characters fall back to one piece per char at
    * `unkLogp`.
    */
  case class UnigramModel(logp: Map[String, Double],
      unkLogp: Double = -20.0) {
    lazy val maxPieceLen: Int =
      if (logp.isEmpty) 1 else logp.keysIterator.map(_.length).max
  }

  /** Viterbi best segmentation of one token under the model: maximize
    * the sum of piece log-probs; ties break toward the longer final
    * piece (the last candidate written wins, lengths iterate
    * ascending). Characters absent from the vocabulary segment as
    * single-char pieces at `unkLogp`.
    */
  private[graft] def segment(tok: String,
      model: UnigramModel): Array[String] = {
    val n = tok.length
    if (n == 0) return Array.empty
    val maxLen = math.max(1, model.maxPieceLen)
    val score = new Array[Double](n + 1)
    val back = new Array[Int](n + 1)
    var j = 1
    while (j <= n) {
      score(j) = Double.NegativeInfinity
      var len = 1
      val lim = math.min(maxLen, j)
      while (len <= lim) {
        val piece = tok.substring(j - len, j)
        val lp = model.logp.get(piece) match {
          case Some(p) => p
          case None => if (len == 1) model.unkLogp
            else Double.NegativeInfinity
        }
        if (lp != Double.NegativeInfinity) {
          val cand = score(j - len) + lp
          if (cand >= score(j)) { score(j) = cand; back(j) = len }
        }
        len += 1
      }
      j += 1
    }
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var p = n
    while (p > 0) {
      out += tok.substring(p - back(p), p)
      p -= back(p)
    }
    out.reverseIterator.toArray
  }

  /** Bounded deterministic type collect: top `maxDriverTypes` by
    * (cnt desc, tok asc) — the venue contract shared by [[fit]] and
    * [[fitEM]].
    */
  private def collectTypes(df: DataFrame, text: String,
      maxDriverTypes: Int): Array[(String, Long)] =
    Subword.typeTable(df, text)
      .orderBy(desc("__cnt"), asc("__tok"))
      .limit(maxDriverTypes)
      .collect().map(r =>
        (r.getAs[String]("__tok"), r.getAs[Long]("__cnt")))

  /** Seed census: every single character plus the `seedSize` most
    * frequent substrings up to `maxPieceLen`, weighted by occurrence.
    * Returns (sorted chars, piece -> seed weight).
    */
  private def seedPieces(types: Array[(String, Long)], maxPieceLen: Int,
      seedSize: Int): (Array[String], Map[String, Long]) = {
    val subW = scala.collection.mutable.HashMap[String, Long]()
    for ((t, c) <- types; i <- 0 until t.length;
         len <- 1 to math.min(maxPieceLen, t.length - i)) {
      val p = t.substring(i, i + len)
      subW(p) = subW.getOrElse(p, 0L) + c
    }
    val chars = subW.keysIterator.filter(_.length == 1).toArray.sorted
    val multis = subW.iterator.filter(_._1.length > 1).toArray
      .sortBy { case (p, w) => (-w, p) }
      .take(math.max(0, seedSize - chars.length)).map(_._1)
    (chars, (chars ++ multis).iterator.map(p => p -> subW(p)).toMap)
  }

  /** Fit a unigram vocabulary of (at most) `vocabSize` pieces:
    * seed with every single character plus the `seedSize` most
    * frequent substrings up to `maxPieceLen`, run `nIters` hard-EM
    * rounds, prune to the budget by Viterbi-count. Returns the model
    * and the audit table `(rank, piece, count, logp)` (rank 0 = most
    * used piece, single chars always retained).
    */
  def fit(df: DataFrame, text: String, vocabSize: Int,
      maxPieceLen: Int = 6, seedSize: Int = 1 << 14, nIters: Int = 3,
      maxDriverTypes: Int = 1 << 20): (UnigramModel, DataFrame) = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    val spark = df.sparkSession
    val types = collectTypes(df, text, maxDriverTypes)
    val (chars, seed) = seedPieces(types, maxPieceLen, seedSize)
    var counts: Map[String, Long] = seed

    // ---- hard-EM rounds: Viterbi counts -> re-normalized log-probs
    def toModel(cs: Map[String, Long]): UnigramModel = {
      val total = cs.valuesIterator.sum.toDouble
      UnigramModel(cs.map { case (p, c) =>
        p -> math.log(c / total) })
    }
    var it = 0
    while (it < nIters) {
      val model = toModel(counts)
      val next = scala.collection.mutable.HashMap[String, Long]()
      for ((t, c) <- types; piece <- segment(t, model))
        next(piece) = next.getOrElse(piece, 0L) + c
      // coverage floor: every seen character survives with count >= 1
      for (ch <- chars)
        next(ch) = math.max(next.getOrElse(ch, 0L), 1L)
      counts = next.toMap
      it += 1
    }

    // ---- prune to the budget: chars always kept, multis by count
    val keptMultis = counts.iterator
      .filter { case (p, _) => p.length > 1 }
      .toArray.sortBy { case (p, c) => (-c, p) }
      .take(math.max(0, vocabSize - chars.length))
    val kept = chars.map(c => c -> counts(c)) ++ keptMultis
    val model = toModel(kept.toMap)

    import spark.implicits._
    val table = kept.sortBy { case (p, c) => (-c, p) }.zipWithIndex
      .map { case ((p, c), i) => (i, p, c, model.logp(p)) }.toSeq
      .toDF("rank", "piece", "count", "logp")
    (model, table)
  }

  /** log(exp(a) + exp(b)) without overflow; NegInf-absorbing and
    * EXACT when one side is NegInf (a single lattice path keeps its
    * score bit-for-bit, which the degenerate-config oracle relies
    * on).
    */
  private def logaddexp(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else if (a >= b) a + math.log1p(math.exp(b - a))
    else b + math.log1p(math.exp(a - b))

  /** Piece log-prob in the lattice: vocabulary score, single-char
    * fallback at `unkLogp`, NegInf otherwise.
    */
  private def pieceLogp(model: UnigramModel, piece: String): Double =
    model.logp.get(piece) match {
      case Some(p) => p
      case None => if (piece.length == 1) model.unkLogp
        else Double.NegativeInfinity
    }

  /** FULL-EM fit (the forward-backward half of Kudo 2018, next to
    * [[fit]]'s hard-EM): each E-step computes EXPECTED piece counts
    * over ALL segmentations of every word type — forward log-sums
    * alpha(i), backward beta(j), posterior mass of a piece spanning
    * [i,j) = exp(alpha(i) + logp + beta(j) - alpha(n)) — instead of
    * counting only the single Viterbi path. The M-step re-normalizes
    * expected counts into log-probs. Deterministic: types iterate in
    * (cnt desc, tok asc) order and positions ascend, so every
    * floating accumulation happens in a fixed order.
    *
    * Same venue contract as [[fit]]: one distributed corpus scan into
    * the type census, bounded deterministic collect, vocabulary-sized
    * EM on the driver (the SentencePiece trainer is single-node over
    * the type table too). Pruning keeps every character (coverage
    * floor); the multi-char pieces go by `pruneMode`:
    *
    *   - `"count"` (default): one final prune keeping the top multis
    *     by expected count — the documented simplification.
    *   - `"loss"`: SentencePiece's iterative likelihood-loss shrink.
    *     Each round scores every multi-char piece by what the corpus
    *     likelihood LOSES if it is removed — loss(p) = expected(p) *
    *     (logp(p) - altLogp(p)), where altLogp is the piece's best
    *     Viterbi re-segmentation using the REST of the vocabulary
    *     (the trainer's alternative-segmentation bound) — drops the
    *     lowest-loss fifth of the overflow, and re-runs one EM round
    *     so survivors absorb the freed mass, until the budget holds.
    *     A piece with no alternative keeps infinite loss (never
    *     dropped); a piece whose own log-prob is no better than its
    *     decomposition carries loss <= 0 and goes first, HOWEVER
    *     large its expected count. Deterministic: loss ties break
    *     (loss desc, piece asc).
    *
    * Audit table: `(rank, piece, count, logp)` with `count` the
    * EXPECTED count (double). In a single-path lattice (e.g. the
    * char-only degenerate config) expected == exact occurrence
    * counts, which the q141 oracle pins against DuckDB's census.
    */
  def fitEM(df: DataFrame, text: String, vocabSize: Int,
      maxPieceLen: Int = 6, seedSize: Int = 1 << 14, nIters: Int = 3,
      maxDriverTypes: Int = 1 << 20,
      pruneMode: String = "count"): (UnigramModel, DataFrame) = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(pruneMode == "count" || pruneMode == "loss",
      s"pruneMode must be 'count' or 'loss', got $pruneMode")
    val spark = df.sparkSession
    val types = collectTypes(df, text, maxDriverTypes)
    val (chars, seed) = seedPieces(types, maxPieceLen, seedSize)
    var counts: Map[String, Double] =
      seed.map { case (p, w) => p -> w.toDouble }

    def toModel(cs: Map[String, Double]): UnigramModel = {
      val total = cs.valuesIterator.sum
      UnigramModel(cs.map { case (p, c) => p -> math.log(c / total) })
    }

    def emRound(cs: Map[String, Double]): Map[String, Double] = {
      val model = toModel(cs)
      val maxLen = math.max(1, model.maxPieceLen)
      val expected = scala.collection.mutable.HashMap[String, Double]()
      for ((t, c) <- types) {
        val n = t.length
        val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
        alpha(0) = 0.0
        var j = 1
        while (j <= n) {
          var len = 1
          val lim = math.min(maxLen, j)
          while (len <= lim) {
            val lp = pieceLogp(model, t.substring(j - len, j))
            if (lp != Double.NegativeInfinity &&
                alpha(j - len) != Double.NegativeInfinity)
              alpha(j) = logaddexp(alpha(j), alpha(j - len) + lp)
            len += 1
          }
          j += 1
        }
        val z = alpha(n)
        if (z != Double.NegativeInfinity) {
          val beta = Array.fill(n + 1)(Double.NegativeInfinity)
          beta(n) = 0.0
          var i = n - 1
          while (i >= 0) {
            var len = 1
            val lim = math.min(maxLen, n - i)
            while (len <= lim) {
              val lp = pieceLogp(model, t.substring(i, i + len))
              if (lp != Double.NegativeInfinity &&
                  beta(i + len) != Double.NegativeInfinity)
                beta(i) = logaddexp(beta(i), lp + beta(i + len))
              len += 1
            }
            i -= 1
          }
          i = 0
          while (i < n) {
            var len = 1
            val lim = math.min(maxLen, n - i)
            while (len <= lim) {
              val piece = t.substring(i, i + len)
              val lp = pieceLogp(model, piece)
              if (lp != Double.NegativeInfinity &&
                  alpha(i) != Double.NegativeInfinity &&
                  beta(i + len) != Double.NegativeInfinity) {
                val mass = math.exp(alpha(i) + lp + beta(i + len) - z) * c
                if (mass > 0.0)
                  expected(piece) = expected.getOrElse(piece, 0.0) + mass
              }
              len += 1
            }
            i += 1
          }
        }
      }
      // coverage floor: every seen character keeps positive mass
      for (ch <- chars)
        expected(ch) = math.max(expected.getOrElse(ch, 0.0), 1e-9)
      expected.toMap
    }

    var it = 0
    while (it < nIters) {
      counts = emRound(counts)
      it += 1
    }

    // best Viterbi score for `p`'s string using every piece EXCEPT p
    // itself — the SentencePiece alternative-segmentation bound
    def altLogp(model: UnigramModel, p: String): Double = {
      val n = p.length
      val maxLen = math.max(1, model.maxPieceLen)
      val best = Array.fill(n + 1)(Double.NegativeInfinity)
      best(0) = 0.0
      var j = 1
      while (j <= n) {
        var len = 1
        val lim = math.min(maxLen, j)
        while (len <= lim) {
          val sub = p.substring(j - len, j)
          if (sub != p) {
            val lp = pieceLogp(model, sub)
            if (lp != Double.NegativeInfinity &&
                best(j - len) != Double.NegativeInfinity) {
              val cand = best(j - len) + lp
              if (cand > best(j)) best(j) = cand
            }
          }
          len += 1
        }
        j += 1
      }
      best(n)
    }

    val budgetMultis = math.max(0, vocabSize - chars.length)
    if (pruneMode == "loss") {
      while (counts.count(_._1.length > 1) > budgetMultis) {
        val model = toModel(counts)
        val losses = counts.keysIterator.filter(_.length > 1).map { p =>
          val alt = altLogp(model, p)
          val l = if (alt == Double.NegativeInfinity)
            Double.PositiveInfinity
          else counts(p) * (model.logp(p) - alt)
          p -> l
        }.toArray
        // shrink by at most a fifth per round, never past the budget
        val target = math.max(budgetMultis, (losses.length * 4) / 5)
        val keep = losses.sortBy { case (p, l) => (-l, p) }
          .take(target).map(_._1).toSet
        counts = emRound(counts.filter { case (p, _) =>
          p.length == 1 || keep(p) })
      }
    }

    val keptMultis = counts.iterator
      .filter { case (p, _) => p.length > 1 }
      .toArray.sortBy { case (p, c) => (-c, p) }
      .take(budgetMultis)
    val kept = chars.map(c => c -> counts(c)) ++ keptMultis
    val model = toModel(kept.toMap)

    import spark.implicits._
    val table = kept.sortBy { case (p, c) => (-c, p) }.zipWithIndex
      .map { case ((p, c), i) => (i, p, c, model.logp(p)) }.toSeq
      .toDF("rank", "piece", "count", "logp")
    (model, table)
  }

  /** SUBWORD-REGULARIZATION sampling (Kudo 2018 §3): draw a
    * segmentation with probability proportional to P(seg)^alpha —
    * forward-filtering over the lattice at inverse temperature
    * `alpha`, then backward-sampling the piece boundaries. alpha = 0
    * is uniform over segmentations; larger alpha concentrates on the
    * Viterbi path. Deterministic for a given `seed` (splitmix64 into
    * an inversive congruential stream — no java.util.Random, so the
    * draw sequence is specified arithmetic, not JDK-version-
    * dependent).
    */
  private[graft] def sampleSegment(tok: String, model: UnigramModel,
      alpha: Double, seed: Long): Array[String] = {
    require(alpha >= 0.0, s"alpha must be >= 0, got $alpha")
    val n = tok.length
    if (n == 0) return Array.empty
    val maxLen = math.max(1, model.maxPieceLen)
    val fwd = Array.fill(n + 1)(Double.NegativeInfinity)
    fwd(0) = 0.0
    var j = 1
    while (j <= n) {
      var len = 1
      val lim = math.min(maxLen, j)
      while (len <= lim) {
        val lp = pieceLogp(model, tok.substring(j - len, j))
        if (lp != Double.NegativeInfinity &&
            fwd(j - len) != Double.NegativeInfinity)
          fwd(j) = logaddexp(fwd(j), fwd(j - len) + alpha * lp)
        len += 1
      }
      j += 1
    }
    // splitmix64 stream for the backward draws
    var rngState = seed
    def nextUnit(): Double = {
      rngState += 0x9e3779b97f4a7c15L
      var x = rngState
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x = x ^ (x >>> 31)
      (x >>> 11).toDouble / (1L << 53).toDouble
    }
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var p = n
    while (p > 0) {
      val lim = math.min(maxLen, p)
      val lens = new Array[Int](lim)
      val ws = new Array[Double](lim)
      var m = 0
      var len = 1
      while (len <= lim) {
        val lp = pieceLogp(model, tok.substring(p - len, p))
        if (lp != Double.NegativeInfinity &&
            fwd(p - len) != Double.NegativeInfinity) {
          lens(m) = len
          ws(m) = math.exp(fwd(p - len) + alpha * lp - fwd(p))
          m += 1
        }
        len += 1
      }
      val u = nextUnit()
      var acc = 0.0
      var k = 0
      var chosen = lens(m - 1) // numerical fallback: last candidate
      while (k < m) {
        acc += ws(k)
        if (u < acc) { chosen = lens(k); k = m }
        else k += 1
      }
      out += tok.substring(p - chosen, p)
      p -= chosen
    }
    out.reverseIterator.toArray
  }

  /** Per-document SAMPLED piece counts — the training-time serving
    * surface for subword regularization: every token OCCURRENCE draws
    * its own segmentation (that is the regularizer — the same word
    * varies across its occurrences), so there is deliberately no
    * dictionary join here. The per-occurrence seed is
    * `xxhash64(id, position, seed)` computed IN the plan (codegen),
    * so results are deterministic under any partitioning and replay.
    */
  def sampleCounts(df: DataFrame, id: String, text: String,
      model: UnigramModel, alpha: Double, seed: Long): DataFrame = {
    val spark = df.sparkSession
    val mB = spark.sparkContext.broadcast(model)
    val nPieces = udf { (tok: String, s: Long) =>
      sampleSegment(tok, mB.value, alpha, s).length
    }
    Subword.seededOccurrences(df, id, text, seed)
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_words"),
        sum(nPieces(col("__tok"), col("__seed")).cast("long"))
          .as("n_pieces"))
  }

  /** Per-document piece counts against a fitted model:
    * (id, n_words, n_pieces) — the fertility surface shared with
    * [[Bpe.encodeCounts]]. Dictionary-join serving: distinct tokens
    * Viterbi-decode once against the broadcast vocabulary, joined
    * back to the occurrence stream.
    */
  def encodeCounts(df: DataFrame, id: String, text: String,
      model: UnigramModel): DataFrame = {
    val spark = df.sparkSession
    val mB = spark.sparkContext.broadcast(model)
    val nPieces = udf { (tok: String) => segment(tok, mB.value).length }
    Subword.encodeDistinct(df, id, text, nPieces)
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_words"), sum(col("__enc")).as("n_pieces"))
  }

  /** Persist a fitted model: one parquet of `(piece, logp)` rows plus
    * one `(NULL, unkLogp)` row. Doubles round-trip bit-exactly
    * through parquet, so save -> load -> segment is spec-pinned
    * identical.
    */
  def save(spark: org.apache.spark.sql.SparkSession,
      model: UnigramModel, path: String): Unit = {
    import spark.implicits._
    (model.logp.toSeq.map { case (p, lp) => (Option(p), lp) } :+
        ((None: Option[String], model.unkLogp)))
      .toDF("piece", "logp")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a model persisted by [[save]] (vocabulary-sized collect). */
  def load(spark: org.apache.spark.sql.SparkSession,
      path: String): UnigramModel = {
    val rows = spark.read.parquet(path).collect()
    val logp = rows.filter(!_.isNullAt(0))
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val unk = rows.find(_.isNullAt(0))
      .map(_.getDouble(1)).getOrElse(-20.0)
    UnigramModel(logp, unk)
  }
}
