package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus curation: language ID, quality
  * scoring, token counting, fingerprinting. All pure column
  * expressions — codegen'd, no UDFs, embarrassingly parallel.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    size(split(trim(text), "\\s+")).cast("long")

  /** BPE-ish subword estimate: word-piece runs + digits + punctuation
    * each count as a token (a regex approximation of byte-pair
    * tokenizers for budget estimation).
    */
  def tokenCountBpe(text: Column): Column =
    size(split(trim(text),
      "(?<=[a-zA-Z]{4})(?=[a-zA-Z])|\\s+|(?=[^a-zA-Z0-9\\s])")).cast("long")

  /** The hashing trick (feature hashing) in relational form: every
    * token maps to bucket `portableTokenHash(token) mod numFeatures`
    * and the featurizer is the per-(doc, bucket) count — the
    * fixed-width bag-of-words used when a vocabulary is unbounded or
    * unknowable up front. Relational output (doc, bucket, count)
    * instead of a sparse-vector blob: joins, aggregates, and the
    * DuckDB oracle all read it directly; assemble to MLlib vectors at
    * the model boundary if needed. One explode + one partial-agg
    * count — no vocabulary fit, no second scan, nothing driver-side.
    */
  def hashingTf(df: DataFrame, docId: String, text: String,
      numFeatures: Int): DataFrame = {
    require(numFeatures >= 2, s"numFeatures must be >= 2, got $numFeatures")
    df.where(col(text).isNotNull)
      .select(col(docId),
        explode(filter(split(col(text), " "), t => t =!= ""))
          .as("__tok"))
      .select(col(docId),
        pmod(graft.functions.PortableTokenHash(col("__tok")),
          lit(numFeatures.toLong)).as("bucket"))
      .groupBy(col(docId), col("bucket"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Linear text score over hashed features — the serving half of a
    * fastText-style shallow classifier: every token maps to bucket
    * `portable_token_hash(token) mod weights.length` (the [[hashingTf]]
    * feature space) and the document score is
    * `intercept + sum over token occurrences of weights(bucket)`.
    *
    * Weights are INTEGERS on purpose: the score is then exact int64
    * arithmetic any engine reproduces bit-for-bit (the DSIR
    * quantization rule — a trained float classifier serves through
    * `round(w * scale)` and loses nothing at scale 1e4, while the
    * whole scoring path becomes oracle-checkable). The weight table
    * rides the plan as an array literal (codegen `element_at`, no
    * join); one explode + one partial-agg sum per document.
    */
  def linearScore(df: DataFrame, docId: String, text: String,
      weights: Seq[Long], intercept: Long = 0L): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    val f = weights.length
    val wArr = typedLit(weights)
    df.where(col(text).isNotNull)
      .select(col(docId),
        explode(filter(split(col(text), " "), t => t =!= ""))
          .as("__tok"))
      .select(col(docId),
        element_at(wArr,
          pmod(graft.functions.PortableTokenHash(col("__tok")),
            lit(f.toLong)).cast("int") + 1).as("__w"))
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("__w")) + intercept).as("score_raw"))
  }

  /** STREAMING-SAFE row form of [[linearScore]] (the fertility-
    * monitor pattern): one stateless scalar UDF per document row — no
    * explode, no aggregate, no state store — so the identical plan
    * runs on an APPEND-mode stream: ingest-time quality filtering
    * with weights trained offline by [[fitQualityClassifier]].
    * Output rows equal [[linearScore]]'s bit for bit (documents with
    * zero tokens are dropped on both paths); the tight loop walks the
    * same space-split tokens and the same code-point polynomial.
    */
  def linearScoreRow(df: DataFrame, docId: String, text: String,
      weights: Seq[Long], intercept: Long = 0L): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    val wArr = weights.toArray
    val f = wArr.length.toLong
    val score = udf { (t: String) =>
      if (t == null) null
      else {
        var n = 0L
        var s = intercept
        var i = 0
        val toks = t.split(" ")
        while (i < toks.length) {
          if (toks(i).nonEmpty) {
            val h = graft.functions.PortableTokenHash.hashUtf8(
              org.apache.spark.unsafe.types.UTF8String
                .fromString(toks(i)))
            s += wArr((h % f).toInt)
            n += 1L
          }
          i += 1
        }
        (n, s)
      }
    }
    df.where(col(text).isNotNull)
      .withColumn("__r", score(col(text)))
      .where(col("__r._1") >= 1L)
      .select(col(docId), col("__r._1").as("n_tokens"),
        col("__r._2").as("score_raw"))
  }

  /** Train the fastText-style shallow quality classifier: hashed
    * bag-of-words ([[hashingTf]] feature space) -> logistic
    * regression -> INTEGER-quantized weights served by
    * [[linearScore]]. Returns (weights, intercept) at `quantScale`
    * (1e4 keeps four decimals of the solver's coefficients — far
    * beyond their statistical resolution — while making the serving
    * score exact int64 arithmetic, the DSIR quantization rule).
    * `score_raw > 0` is the decision boundary (logistic > 0.5).
    *
    * Scale shape: the caller bounds the training frame (hash-sample
    * budget, the q57 contract); featurization is one explode + one
    * grouped sparse-assembly, the solver sees numFeatures-dim sparse
    * vectors, and serving never touches MLlib — the weight array
    * rides the scoring plan as a literal.
    */
  def fitQualityClassifier(df: DataFrame, docId: String, text: String,
      label: String, numFeatures: Int, maxIter: Int = 15,
      regParam: Double = 0.01, quantScale: Double = 1e4)
      : (Seq[Long], Long) = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.linalg.Vectors
    val tf = hashingTf(df, docId, text, numFeatures)
    val toVec = udf { (bs: Seq[Int], ts: Seq[Long]) =>
      val sorted = bs.zip(ts).sortBy(_._1)
      Vectors.sparse(numFeatures, sorted.map(_._1).toArray,
        sorted.map(_._2.toDouble).toArray)
    }
    val feats = tf.groupBy(col(docId))
      .agg(collect_list(col("bucket").cast("int")).as("__b"),
        collect_list(col("tf")).as("__t"))
      .withColumn("features", toVec(col("__b"), col("__t")))
      .join(df.select(col(docId),
        col(label).cast("double").as("__lbl")), Seq(docId))
    val m = new LogisticRegression().setMaxIter(maxIter)
      .setRegParam(regParam).setFeaturesCol("features")
      .setLabelCol("__lbl").fit(feats)
    val w = m.coefficients.toArray.toSeq
      .map(v => math.round(v * quantScale))
    (w, math.round(m.intercept * quantScale))
  }

  /** Quality features: char length, word count, avg word length,
    * punctuation ratio, digit ratio, uppercase ratio, stopword ratio.
    */
  def qualityFeatures(df: DataFrame, text: String): DataFrame = {
    val t = col(text)
    val nChars = length(t).cast("double")
    val words = split(trim(t), "\\s+")
    val nWords = size(words).cast("double")
    val stop = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is",
      "it", "that", "for", "on", "with", "as")
    val nStop = size(filter(words, w => lower(w).isin(stop: _*)))
      .cast("double")
    df.withColumn("n_chars_m", nChars)
      .withColumn("n_words", nWords)
      .withColumn("avg_word_len",
        (nChars - (nWords - 1.0)) / nWords)
      .withColumn("punct_ratio",
        (nChars - length(regexp_replace(t, "[\\p{Punct}]", ""))) / nChars)
      .withColumn("digit_ratio",
        (nChars - length(regexp_replace(t, "[0-9]", ""))) / nChars)
      .withColumn("stopword_ratio", nStop / nWords)
  }

  /** Composite quality score in [0,1]: reasonable length, low
    * punctuation, some stopwords — the heuristics curation pipelines
    * use for junk filtering.
    */
  def qualityScore(df: DataFrame, text: String): DataFrame = {
    val f = qualityFeatures(df, text)
    f.withColumn("quality",
      (when(col("n_words") >= 10, 0.4).otherwise(col("n_words") * 0.04)
        + when(col("punct_ratio") <= 0.1, 0.3)
          .otherwise(greatest(lit(0.0), lit(0.3) - col("punct_ratio")))
        + when(col("stopword_ratio") >= 0.1, 0.3)
          .otherwise(col("stopword_ratio") * 3.0)))
  }

  /** Per-language stopword lists for the n-gram/stopword-voting
    * language heuristic. Tiny closed sets — a broadcastable dictionary
    * compiled into the expression.
    */
  private val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "del"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "est", "une"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "den", "mit"))

  /** Heuristic language ID: the language whose stopword list scores
    * the most hits in the token stream; "und" (undetermined) when no
    * list hits. Deterministic; ties broken by language code order.
    */
  def langId(text: Column): Column = {
    val words = transform(split(trim(lower(text)), "\\s+"), w => w)
    // ties on hit count resolve to the alphabetically FIRST language:
    // greatest() compares struct fields in order, so a surrogate key
    // DESCENDING in code order (-alphabetical index) sits between the
    // hit count and the code
    val byCode = langStops.map(_._1).sorted.zipWithIndex.toMap
    val scored = langStops.map { case (lang, stops) =>
      struct(size(filter(words, w => w.isin(stops: _*))).as("hits"),
        lit(-byCode(lang)).as("tie"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  /** PII/URL scrubbing: redact emails, URLs, and long digit runs
    * (phone/ID-like) with typed placeholders — the standard curation
    * scrub before training. Patterns are RE2-compatible (no
    * lookaround) so the same regexes run in other engines.
    */
  def redact(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[^\\s]+"
    val digits = "[0-9][0-9 ()+.-]{7,}[0-9]"
    regexp_replace(regexp_replace(regexp_replace(text,
      email, "<EMAIL>"), url, "<URL>"), digits, "<NUMBER>")
  }

  /** URL CANONICALIZATION — the key function of URL-level corpus
    * dedup (a crawl stores the same page under case variants,
    * default ports, tracking params, fragments, and trailing
    * slashes; canonical-URL grouping removes them before any
    * content-level pass runs). Fixed rule order: (1) strip the
    * fragment; (2) strip utm_* tracking params (mid, leading-kept,
    * leading-only); (3) lowercase scheme://host[:port] — the path
    * and query stay case-sensitive per RFC 3986; (4) strip default
    * ports :80/:443; (5) drop the path-final slash (before the query
    * and at end). All patterns RE2-compatible (no lookaround), all
    * codegen'd regexp_replace/extract — no UDF in the scan path.
    * Query-param SORTING is deliberately out of scope (it reorders
    * semantics for some sites; callers wanting it should split
    * params explicitly).
    */
  def canonicalizeUrl(u: Column): Column = {
    val c1 = regexp_replace(u, "#.*$", "")
    val c2 = regexp_replace(c1, "&utm_[^&]*", "")
    val c3 = regexp_replace(c2, "\\?utm_[^&]*&", "?")
    val c4 = regexp_replace(c3, "\\?utm_[^&]*$", "")
    val c5 = concat(
      lower(regexp_extract(c4, "^([^/]*//[^/?]*)", 1)),
      regexp_replace(c4, "^[^/]*//[^/?]*", ""))
    val c6 = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(c5,
        "^(http://[^/:?]*):80([/?])", "$1$2"),
        "^(http://[^/:?]*):80$", "$1"),
        "^(https://[^/:?]*):443([/?])", "$1$2"),
        "^(https://[^/:?]*):443$", "$1")
    regexp_replace(regexp_replace(c6, "/\\?", "?"),
      "([^/])/$", "$1")
  }

  /** [[canonicalizeUrl]] plus QUERY-PARAMETER NORMALIZATION: tracking
    * parameters (`dropParams` key list) are removed wherever they sit,
    * and the survivors are SORTED, so `?b=2&a=1` and `?a=1&b=2` — the
    * same resource, different serializations — collapse to one
    * canonical form. An emptied query string drops its `?` entirely.
    * Pure array expressions (split → filter → array_sort →
    * array_join), all codegen'd; byte-wise ASCII sort matches any
    * engine's default string collation on these URL-safe characters.
    */
  def canonicalizeUrlSorted(u: Column,
      dropParams: Seq[String] =
        Seq("gclid", "fbclid", "msclkid", "ref")): Column = {
    require(dropParams.nonEmpty, "canonicalizeUrlSorted: empty droplist")
    val base = canonicalizeUrl(u)
    val path = regexp_replace(base, "\\?.*$", "")
    val qs = regexp_extract(base, "\\?(.*)$", 1)
    val kept = filter(split(qs, "&"), p =>
      p =!= "" && !dropParams.map(d =>
        p.startsWith(d + "=") || p === d).reduce(_ || _))
    val sorted = array_sort(kept)
    when(size(sorted) > 0,
      concat(path, lit("?"), array_join(sorted, "&"))).otherwise(path)
  }

  /** Repetition ratio (a Gopher-style quality signal): fraction of
    * word n-gram positions that repeat an earlier n-gram —
    * 1 - distinct/total. High values flag boilerplate/spam.
    */
  def repetitionRatio(text: Column, n: Int): Column = {
    val f = udf { (t: String) =>
      val sb = new StringBuilder(t.length)
      t.foreach { c0 =>
        val c = Character.toLowerCase(c0)
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' ')
          sb.append(c)
      }
      val words = sb.toString.trim.split(" +").filter(_.nonEmpty)
      val total = words.length - n + 1
      if (total <= 0) 0.0
      else {
        val seen = new scala.collection.mutable.HashSet[String]
        var i = 0
        while (i + n <= words.length) {
          seen += words.slice(i, i + n).mkString(" ")
          i += 1
        }
        1.0 - seen.size.toDouble / total
      }
    }
    f(text)
  }

  /** Corpus TF-IDF, top-k terms per document. Smooth idf
    * `ln((N+1)/(df+1)) + 1` (never zero, defined for unseen terms).
    *
    * Scale shape: tokenize -> (doc, term) counts (one shuffle on the
    * pair key, partial-aggregated map-side) -> document frequency is a
    * second aggregate over the ALREADY-distinct (doc, term) rows (no
    * re-scan of the corpus) -> idf join on term (vocab-sized; AQE
    * broadcasts when small) -> per-doc top-k via a window PARTITIONED
    * by doc_id. N arrives as a broadcast 1-row cross join, not a
    * driver collect. Ties break on term so output is deterministic.
    *
    * The doc-frequency branch re-aggregates from a second corpus scan
    * (column pruning strips `tf` from the shared subtree, so the
    * exchange can't be reused) — deliberate: the alternative, a
    * count window PARTITIONED BY term over the tf rows, funnels every
    * posting of a stopword-grade term through one task. Two partial-
    * aggregated scans are skew-immune; Spark's WindowGroupLimit then
    * keeps only k rows per doc per partition ahead of the final
    * shuffle (asserted in PlanGuardSpec).
    */
  def tfidfTopK(df: DataFrame, docId: String, text: String,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = df.where(col(text).isNotNull)
    val toks = docs.select(col(docId),
        explode(split(lower(col(text)), " ")).as("term"))
      .where(col("term") =!= "")
    val tf = toks.groupBy(col(docId), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfreq"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") *
        (log((col("__n") + lit(1.0)) / (col("dfreq") + lit(1.0))) +
          lit(1.0)))
    val w = Window.partitionBy(col(docId))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col(docId), col("term"), col("tfidf"))
  }

  /** BM25 keyword retrieval (Robertson-Spärck Jones; the Lucene
    * `ln(1 + (N-df+0.5)/(df+0.5))` idf that never goes negative):
    * score every document against a FIXED query-term list and return
    * the top k.
    *
    * Because the query is a handful of known terms, the whole scorer
    * collapses into ONE aggregate pass: tokenize, group by document,
    * and compute document length plus one conditional-sum tf column
    * per query term — no postings explode, no (doc, term) join, no
    * per-term shuffle. Corpus stats (N, Σdl, per-term df) reduce the
    * per-doc frame to one broadcast row. Everything downstream is a
    * codegen'd column formula; the only shuffle is the groupBy(doc),
    * and the top-k is a TakeOrdered, not a global sort.
    *
    * Determinism across engines: tf/dl/df/N are integers, the
    * per-term contributions are summed in the FIXED term order on
    * both sides, and the one genuinely-floating output (ln) is
    * rounded to 6dp — the corr/softmax convention.
    */
  def bm25TopK(df: DataFrame, docId: String, text: String,
      terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size,
      s"bm25TopK: terms must be non-empty and distinct, got $terms")
    val docs = df.where(col(text).isNotNull)
    val toks = docs.select(col(docId),
        explode(split(lower(col(text)), " ")).as("__t"))
      .where(col("__t") =!= "")
    val tfCols = terms.indices.map(i =>
      sum(when(col("__t") === terms(i), 1L).otherwise(0L)).as(s"__tf$i"))
    val perDoc = toks.groupBy(col(docId))
      .agg(count(lit(1)).as("__dl"), tfCols: _*)
    bm25LiteralTail(perDoc, docId, terms, k, k1, b)
  }

  /** Shared literal-BM25 tail over a (docId, __dl, __tf0..__tfN)
    * frame: corpus stats, per-term contribution formula, top-k. Split
    * from [[bm25TopK]] so the census-backed PRF shortlist scores
    * through the IDENTICAL expression tree (same integer inputs, same
    * double operation order — bit-for-bit scores).
    */
  private def bm25LiteralTail(perDoc: DataFrame, docId: String,
      terms: Seq[String], k: Int, k1: Double, b: Double): DataFrame = {
    val dfCols = terms.indices.map(i =>
      sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    val stats = perDoc.agg(count(lit(1)).as("__n"),
      sum(col("__dl")).as("__sumdl") +: dfCols: _*)
    val nd = col("__n").cast("double")
    val avgdl = col("__sumdl").cast("double") / nd
    val contribs = terms.indices.map { i =>
      val tf = col(s"__tf$i").cast("double")
      val dfq = col(s"__df$i").cast("double")
      val idf = log((nd - dfq + lit(0.5)) / (dfq + lit(0.5)) + lit(1.0))
      when(col(s"__tf$i") > 0,
        idf * (tf * lit(k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("__dl").cast("double") / avgdl)))
        .otherwise(lit(0.0))
    }
    perDoc.crossJoin(broadcast(stats))
      .withColumn("score", round(contribs.reduce(_ + _), 6))
      .withColumn("n_hit", terms.indices.map(i =>
        when(col(s"__tf$i") > 0, 1L).otherwise(0L)).reduce(_ + _))
      .where(col("n_hit") > 0)
      .select(col(docId), col("score"), col("n_hit"))
      .orderBy(col("score").desc, col(docId)).limit(k)
  }

  /** Literal BM25 over a pre-built (docId, __t, __c) token-tf census
    * instead of raw text: __dl = Σ__c, __tf_i = Σ__c where __t = term.
    * Same longs as [[bm25TopK]]'s count-based aggregation, then the
    * shared [[bm25LiteralTail]] — identical output. Used by the PRF
    * chain, where the census already exists (one tokenize pass serves
    * the shortlist, the expansion census AND the dyn scorer — r15
    * verdict item 3); standalone [[bm25TopK]] keeps its single-
    * aggregation shape, which is cheaper when nothing shares the
    * census.
    */
  private def bm25TopKFromCensus(census: DataFrame, docId: String,
      terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.distinct.size == terms.size,
      s"bm25TopKFromCensus: terms must be non-empty and distinct, " +
        s"got $terms")
    val tfCols = terms.indices.map(i =>
      sum(when(col("__t") === terms(i), col("__c")).otherwise(0L))
        .as(s"__tf$i"))
    val perDoc = census.groupBy(col(docId))
      .agg(sum(col("__c")).as("__dl"), tfCols: _*)
    bm25LiteralTail(perDoc, docId, terms, k, k1, b)
  }

  /** [[bm25TopK]] with the query terms as a TABLE instead of
    * literals — the serving form a relational engine actually wants:
    * terms arrive as a (bounded, broadcast) DataFrame, so queries can
    * be DERIVED BY THE PLAN itself (pseudo-relevance feedback,
    * stored query sets, expansion tables) with no driver round-trip
    * and no codegen'd per-term column unrolling. Per-(doc, term)
    * contributions are decimal-quantized before the per-doc sum (the
    * term set is data now, so the sum order must be free); the
    * literal form keeps its fixed-order reduce. Same BM25 arithmetic
    * otherwise; corpus stats (N, avgdl) cover ALL documents, matched
    * or not.
    */
  def bm25TopKDyn(df: DataFrame, docId: String, text: String,
      terms: DataFrame, k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k >= 1, s"bm25TopKDyn: k=$k")
    val docs = graft.Caches.pin(df.where(col(text).isNotNull)
      .select(col(docId),
        filter(split(lower(col(text)), " "), t => t =!= "").as("__tk"))
      .where(size(col("__tk")) > 0)) // the literal form's N convention
    val stats = docs.agg(count(lit(1)).as("__n"),
      sum(size(col("__tk"))).as("__sumdl"))
    val toks = docs.select(col(docId), size(col("__tk")).as("__dl"),
      explode(col("__tk")).as("__t"))
    val tset = terms.select(col("term").as("__t")).distinct()
    val matched = graft.Caches.pin(toks
      .join(broadcast(tset), Seq("__t"))
      .groupBy(col(docId), col("__t"), col("__dl"))
      .agg(count(lit(1)).as("__tf")))
    bm25DynTail(matched, stats, docId, k, k1, b)
  }

  /** Shared dyn-BM25 tail over a (docId, __t, __dl, __tf) matched
    * frame plus a one-row (__n, __sumdl) stats frame — per-term df
    * census, decimal-quantized contribution sum, top-k. Split from
    * [[bm25TopKDyn]] so the census-backed variant scores through the
    * identical expression tree.
    */
  private def bm25DynTail(matched: DataFrame, stats: DataFrame,
      docId: String, k: Int, k1: Double, b: Double): DataFrame = {
    val dft = matched.groupBy(col("__t"))
      .agg(count(lit(1)).as("__df")) // one row per (doc, term)
    val nd = col("__n").cast("double")
    val avgdl = col("__sumdl").cast("double") / nd
    val tf = col("__tf").cast("double")
    val idf = log((nd - col("__df").cast("double") + lit(0.5)) /
      (col("__df").cast("double") + lit(0.5)) + lit(1.0))
    val contrib = idf * (tf * lit(k1 + 1.0)) /
      (tf + lit(k1) * (lit(1.0 - b) +
        lit(b) * col("__dl").cast("double") / avgdl))
    matched.join(broadcast(dft), Seq("__t"))
      .crossJoin(broadcast(stats))
      .groupBy(col(docId))
      .agg(sum(contrib.cast("decimal(38,12)")).cast("double")
        .as("__sc"), count(lit(1)).as("n_hit"))
      .select(col(docId), round(col("__sc"), 6).as("score"),
        col("n_hit"))
      .orderBy(col("score").desc, col(docId)).limit(k)
  }

  /** [[bm25TopKDyn]] over a pre-built (docId, __t, __c) token-tf
    * census instead of raw text: per-doc __dl = Σ__c (pinned — both
    * the stats row and the matched frame read it), __tf = __c for
    * matched terms, then the shared [[bm25DynTail]]. Same longs as
    * the text form's exploded-token aggregation, identical output.
    * Saves the dyn stage's full corpus re-tokenize when the PRF chain
    * already built the census.
    */
  private def bm25TopKDynFromCensus(census: DataFrame, docId: String,
      terms: DataFrame, k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k >= 1, s"bm25TopKDynFromCensus: k=$k")
    val dl = graft.Caches.pin(census.groupBy(col(docId))
      .agg(sum(col("__c")).as("__dl")))
    val stats = dl.agg(count(lit(1)).as("__n"),
      sum(col("__dl")).as("__sumdl"))
    val tset = terms.select(col("term").as("__t")).distinct()
    val matched = graft.Caches.pin(census
      .join(broadcast(tset), Seq("__t"))
      .join(dl, Seq(docId))
      .select(col(docId), col("__t"), col("__dl"),
        col("__c").as("__tf")))
    bm25DynTail(matched, stats, docId, k, k1, b)
  }

  /** PSEUDO-RELEVANCE-FEEDBACK expansion terms (RM3-style, Lavrenko
    * & Croft 2001 simplified to exact integers): run the literal
    * query, take the top `kDocs` pseudo-relevant documents, and rank
    * the terms they contain (minus the originals) by
    *   weight = tf_shortlist · ⌊10⁶ · ln((N+1)/(df_global+1))⌋
    * — shortlist frequency discounted by global rarity, which is
    * what keeps "the"-class stopwords out without a stopword list.
    * The weight is exact int64 (one quantized ln per term), so the
    * ranking and the 6dp-free output replay on any engine. Shortlist
    * membership joins broadcast (kDocs-bounded); the only full-data
    * pass is the global document-frequency census.
    */
  def prfExpansionTerms(df: DataFrame, docId: String, text: String,
      terms: Seq[String], kDocs: Int, kExpand: Int): DataFrame = {
    require(kDocs >= 1 && kExpand >= 1,
      s"prfExpansionTerms: kDocs=$kDocs kExpand=$kExpand")
    // ONE pinned (doc, term, tf) census feeds the BM25 shortlist, the
    // global df census AND the shortlist tf aggregate (r15 verdict
    // item 3): the shortlist used to re-tokenize the corpus through
    // [[bm25TopK]] — a second full text pass per query. The census is
    // pre-aggregated BEFORE pinning: pinning the raw exploded token
    // stream measured 5x at 10x data (sf1 capture).
    val census = graft.Caches.pin(tokenTfCensus(df, docId, text))
    prfCore(census, df.where(col(text).isNotNull), docId, terms,
      kDocs, kExpand)
  }

  /** One-pass (doc, token, tf) census — THE shared tokenize of the
    * PRF chain: shortlist, expansion census and dyn scorer all derive
    * from this one frame, so the corpus text is split/lowered once
    * per query instead of once per stage. Empty tokens excluded;
    * zero-token docs produce no rows (the literal form's N
    * convention).
    */
  private def tokenTfCensus(df: DataFrame, docId: String,
      text: String): DataFrame =
    df.where(col(text).isNotNull)
      .select(col(docId),
        explode(filter(split(lower(col(text)), " "), t => t =!= ""))
          .as("__t"))
      .groupBy(col(docId), col("__t")).agg(count(lit(1)).as("__c"))

  /** [[prfExpansionTerms]] body over a pre-pinned census (`docs` only
    * feeds the N census — the weight formula counts every non-null-
    * text doc, including zero-token ones).
    */
  private def prfCore(census: DataFrame, docs: DataFrame,
      docId: String, terms: Seq[String], kDocs: Int,
      kExpand: Int): DataFrame = {
    val short = bm25TopKFromCensus(census, docId, terms, kDocs)
      .select(col(docId))
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val gdf = census.groupBy(col("__t")).agg(count(lit(1)).as("__gdf"))
    val inShort = census.join(broadcast(short), Seq(docId))
      .where(!col("__t").isin(terms: _*))
      .groupBy(col("__t")).agg(sum(col("__c")).as("tf_short"),
        count(lit(1)).as("df_short"))
    inShort.join(gdf, Seq("__t")).crossJoin(broadcast(nDocs))
      .withColumn("weight", col("tf_short") *
        floor(lit(1e6) * log((col("__n").cast("double") + lit(1.0)) /
          (col("__gdf").cast("double") + lit(1.0)))).cast("long"))
      .orderBy(col("weight").desc, col("__t")).limit(kExpand)
      .select(col("__t").as("term"), col("tf_short"), col("df_short"),
        col("weight"))
  }

  /** End-to-end PRF retrieval: [[prfExpansionTerms]] feeds
    * [[bm25TopKDyn]] with originals ∪ expansion — two BM25 stages,
    * zero driver round-trips (the expansion table rides the plan as
    * a broadcast). Both stages and the shortlist score off ONE pinned
    * token-tf census (r15 verdict item 3): the chain used to tokenize
    * the corpus three times (shortlist, expansion census, dyn
    * scorer); now the text is split exactly once.
    */
  def prfSearch(df: DataFrame, docId: String, text: String,
      terms: Seq[String], kDocs: Int, kExpand: Int, k: Int)
      : DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(kDocs >= 1 && kExpand >= 1,
      s"prfSearch: kDocs=$kDocs kExpand=$kExpand")
    val census = graft.Caches.pin(tokenTfCensus(df, docId, text))
    val exp = prfCore(census, df.where(col(text).isNotNull), docId,
      terms, kDocs, kExpand).select(col("term"))
    val orig = terms.toDF("term")
    bm25TopKDynFromCensus(census, docId,
      exp.unionByName(orig).distinct(), k)
  }

  /** Gopher-style rule filter (Rae et al. 2021, §A1.1): each document
    * is kept only if every structural-quality rule passes; failures
    * are reported by name so curation can audit WHY a document
    * dropped. All rules are pure column expressions — codegen'd,
    * shuffle-free, and recomputable verbatim in any SQL engine (the
    * oracle re-derives kept/reasons independently).
    *
    * Rules (names in the `reasons` output, fixed order):
    *   word_count     — token count outside [minWords, maxWords]
    *   mean_word_len  — mean word length outside [3, 10]
    *   symbol_ratio   — ('#' + '...') per word above 0.1
    *   bullet_lines   — >90% of lines start with a bullet
    *   ellipsis_lines — >30% of lines end with '...'
    *   alpha_words    — <80% of words contain a letter
    *   stopwords      — fewer than 2 distinct common stopwords
    */
  def gopherQualityFilter(df: DataFrame, text: String,
      minWords: Int = 50, maxWords: Int = 100000,
      stops: Seq[String] = Seq("the", "be", "to", "of", "and", "that",
        "have", "with")): DataFrame = {
    val t = col(text)
    val words = filter(split(trim(t), "\\s+"), w => w =!= "")
    val nWords = size(words).cast("double")
    val meanLen = aggregate(words, lit(0L),
      (acc, w) => acc + length(w)).cast("double") / nWords
    val hashes = (length(t) - length(regexp_replace(t, "#", "")))
      .cast("double")
    val ellipses = ((length(t) -
      length(regexp_replace(t, "\\.\\.\\.", ""))) / 3).cast("double")
    val lines = filter(split(t, "\n"), l => trim(l) =!= "")
    val nLines = greatest(size(lines), lit(1)).cast("double")
    val bulletFrac = size(filter(lines,
      l => trim(l).rlike("^([-*•]|[0-9]+\\.)"))).cast("double") / nLines
    val ellipsisFrac = size(filter(lines,
      l => rtrim(l).endsWith("..."))).cast("double") / nLines
    val alphaFrac = size(filter(words,
      w => w.rlike("[A-Za-z]"))).cast("double") / nWords
    val lowered = transform(words, w => lower(w))
    val stopHits = size(filter(
      array(stops.map(lit): _*),
      sw => array_contains(lowered, sw)))
    // ratio rules carry an explicit nWords > 0 guard: 0/0 is NaN and
    // engines disagree on NaN comparisons, so an empty document must
    // fail these rules definitively, not via NaN semantics
    val checks: Seq[(String, Column)] = Seq(
      "word_count" -> (nWords >= minWords && nWords <= maxWords),
      "mean_word_len" -> (nWords > 0 && meanLen >= 3.0 && meanLen <= 10.0),
      "symbol_ratio" -> (nWords > 0 && (hashes + ellipses) / nWords <= 0.1),
      "bullet_lines" -> (bulletFrac <= 0.9),
      "ellipsis_lines" -> (ellipsisFrac <= 0.3),
      "alpha_words" -> (nWords > 0 && alphaFrac >= 0.8),
      "stopwords" -> (stopHits >= 2))
    val reasons = concat_ws(",",
      checks.map { case (n, ok) => when(!ok, n) }: _*)
    df.where(t.isNotNull)
      .withColumn("n_words", nWords.cast("long"))
      .withColumn("reasons", reasons)
      .withColumn("kept", (reasons === "").cast("int"))
  }

  /** Corpus-level word n-gram counts: contiguous n-grams per document
    * (single-space tokenization, empties dropped), counted across the
    * whole corpus. One explode + one hash aggregate; the n-gram
    * construction is a pure array expression (no UDF).
    */
  def ngramCounts(df: DataFrame, text: String, n: Int): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val toks = df.where(col(text).isNotNull)
      .select(filter(split(lower(col(text)), " "),
        t => t =!= "").as("__t"))
      .where(size(col("__t")) >= n)
    val grams = transform(
      sequence(lit(1), size(col("__t")) - lit(n - 1)),
      i => array_join(slice(col("__t"), i, lit(n)), " "))
    toks.select(explode(grams).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("cnt"))
  }

  /** Corpus-boilerplate span detection (the C4-style scrub signal:
    * token spans recurring across many DOCUMENTS are navigation
    * chrome / license headers / templates, not content): flag every
    * word n-gram position whose n-gram appears in >= minDocs distinct
    * documents, and report per document how much of it is
    * boilerplate. Complements [[repetitionRatio]] (within-doc) and
    * [[ngramCounts]] (global counts) with the cross-document signal.
    *
    * Scale shape: one explode to (doc, gram) positions; the
    * boilerplate set is a grouped distinct-doc count on the gram key
    * (partial-aggregated shuffle; skewed grams are join keys, AQE
    * splits them); the flag-back is a key join (broadcast when the
    * boilerplate set is small, which it is by construction — grams
    * crossing minDocs distinct documents are the rare tail); one
    * per-doc aggregate. No windows, no driver-side data.
    */
  def boilerplateSpans(df: DataFrame, docId: String, text: String,
      n: Int = 4, minDocs: Int = 3): DataFrame = {
    require(n >= 1, s"span size must be >= 1, got $n")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val toks = df.where(col(text).isNotNull)
      .select(col(docId),
        filter(split(lower(col(text)), " "), t => t =!= "").as("__t"))
      .where(size(col("__t")) >= n)
    val grams = toks.select(col(docId),
      explode(transform(
        sequence(lit(1), size(col("__t")) - lit(n - 1)),
        i => array_join(slice(col("__t"), i, lit(n)), " "))).as("gram"))
    val boiler = grams.groupBy(col("gram"))
      .agg(countDistinct(col(docId)).as("__nd"))
      .where(col("__nd") >= minDocs)
      .select(col("gram"), lit(1).as("__boiler"))
    grams.join(broadcast(boiler), Seq("gram"), "left")
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("__boiler"), lit(0))).cast("long")
          .as("n_boiler"),
        round(sum(coalesce(col("__boiler"), lit(0))) /
          count(lit(1)).cast("double"), 6).as("boiler_frac"))
  }

  /** Bigram language-model perplexity — the CCNet-style statistical
    * quality filter: fit add-k-smoothed bigram probabilities
    * P(w2|w1) = (c(w1,w2)+k) / (c(w1·)+k|V|) on the corpus itself,
    * score every document by the mean negative log-likelihood of its
    * bigrams, report perplexity = exp(nll). Documents that look like
    * the corpus score low; boilerplate/garbled outliers rank high —
    * filter on the tail.
    *
    * Scale shape: the expensive step is TOKENIZATION (normalize regex
    * + split), not the counting — so the plan is built to bound how
    * often it runs. One tokenize produces per-doc token arrays; the
    * exploded bigram stream feeds (a) corpus bigram counts (one
    * partial-aggregated shuffle on the pair key), (b) head counts
    * re-aggregated FROM those counts, (c) the vocab size from bigram
    * TYPES (for docs with >= 2 tokens every token is some bigram's w1
    * or w2 — exact, no corpus re-scan); scoring joins the occurrence
    * stream back to the counts and aggregates per doc. The count
    * frames are aggregate outputs whose runtime size AQE sees — small
    * vocabularies broadcast automatically, web-scale ones sort-merge
    * with skew-split. No windows, no driver-side data.
    *
    * The per-doc token ARRAYS (doc-count rows, the cheapest frame in
    * the pipeline) are pinned via [[graft.Caches]], so the count
    * branch and the scoring branch both read cached tokens instead of
    * re-running the normalize regex over the corpus. Costs
    * token-corpus-sized storage; release via the scoped handle /
    * release() after materializing.
    */
  def lmPerplexity(df: DataFrame, docId: String, text: String,
      addK: Double = 0.5): DataFrame = {
    require(addK > 0, s"additive smoothing needs k > 0, got $addK")
    val toks = graft.Caches.pin(df.where(col(text).isNotNull)
      .select(col(docId),
        Dedup.normalizeTokens(col(text)).as("__t"))
      .where(size(col("__t")) >= 2))
    val bi = toks.select(col(docId),
        explode(transform(sequence(lit(1), size(col("__t")) - 1),
          i => struct(element_at(col("__t"), i).as("w1"),
            element_at(col("__t"), i + 1).as("w2")))).as("__b"))
      .select(col(docId), col("__b.w1").as("w1"), col("__b.w2").as("w2"))
    val bc = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("__bc"))
    val hc = bc.groupBy(col("w1")).agg(sum(col("__bc")).as("__hc"))
    val vocab = bc.select(col("w1").as("__w"))
      .union(bc.select(col("w2").as("__w")))
      .agg(countDistinct(col("__w")).as("__v"))
    bi.join(bc, Seq("w1", "w2")).join(hc, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("__lp", log((col("__bc") + lit(addK)) /
        (col("__hc") + lit(addK) * col("__v"))))
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_bigrams"), (-avg(col("__lp"))).as("__nll"))
      .withColumn("perplexity", exp(col("__nll")))
      .select(col(docId), col("n_bigrams"), col("perplexity"))
  }

  /** A fitted bigram LM: materialized count frames + scalar vocab
    * size. `bigramCounts` (w1, w2, lm_bc) and `headCounts`
    * (w1, lm_hc) are persisted at fit time so scoring joins — batch
    * or stream-static — read the cached counts instead of refitting
    * per query/micro-batch.
    */
  case class LmModel(bigramCounts: DataFrame, headCounts: DataFrame,
      vocabSize: Long, addK: Double) {
    def unpersist(): Unit = {
      bigramCounts.unpersist(blocking = false)
      headCounts.unpersist(blocking = false)
    }
  }

  /** Fit the add-k bigram LM once on a reference corpus
    * ([[lmPerplexity]]'s model half). Use with [[lmScore]] to score
    * OTHER frames — including streams at ingest — without refitting.
    */
  def lmFit(df: DataFrame, text: String, addK: Double = 0.5): LmModel = {
    require(addK > 0, s"additive smoothing needs k > 0, got $addK")
    val toks = df.where(col(text).isNotNull)
      .select(Dedup.normalizeTokens(col(text)).as("__t"))
      .where(size(col("__t")) >= 2)
    val bi = toks.select(
        explode(transform(sequence(lit(1), size(col("__t")) - 1),
          i => struct(element_at(col("__t"), i).as("w1"),
            element_at(col("__t"), i + 1).as("w2")))).as("__b"))
      .select(col("__b.w1").as("w1"), col("__b.w2").as("w2"))
    val bc = bi.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("lm_bc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hc = bc.groupBy(col("w1")).agg(sum(col("lm_bc")).as("lm_hc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bc.count(); hc.count() // materialize so micro-batches reuse, not refit
    val v = bi.select(col("w1").as("__w"))
      .union(bi.select(col("w2").as("__w")))
      .agg(countDistinct(col("__w"))).head().getLong(0)
    LmModel(bc, hc, v, addK)
  }

  /** Score a frame — batch or STREAMING — against a pre-fitted
    * [[LmModel]]: perplexity-at-ingest as two stream-static joins
    * plus a per-doc aggregate. Unseen bigrams/heads take count 0, so
    * add-k smoothing handles out-of-corpus text exactly (a doc of
    * entirely novel words scores perplexity = |V|). For a streaming
    * input, complete the per-doc aggregate with an update/complete
    * output mode or a watermark on an event-time column.
    */
  def lmScore(docs: DataFrame, m: LmModel, docId: String,
      text: String): DataFrame = {
    val toks = docs.where(col(text).isNotNull)
      .select(col(docId),
        Dedup.normalizeTokens(col(text)).as("__t"))
      .where(size(col("__t")) >= 2)
    val bi = toks.select(col(docId),
        explode(transform(sequence(lit(1), size(col("__t")) - 1),
          i => struct(element_at(col("__t"), i).as("w1"),
            element_at(col("__t"), i + 1).as("w2")))).as("__b"))
      .select(col(docId), col("__b.w1").as("w1"), col("__b.w2").as("w2"))
    bi.join(m.bigramCounts, Seq("w1", "w2"), "left")
      .join(m.headCounts, Seq("w1"), "left")
      .withColumn("__lp", log(
        (coalesce(col("lm_bc"), lit(0L)) + lit(m.addK)) /
          (coalesce(col("lm_hc"), lit(0L)) +
            lit(m.addK) * lit(m.vocabSize.toDouble))))
      .groupBy(col(docId))
      .agg(count(lit(1)).as("n_bigrams"), (-avg(col("__lp"))).as("__nll"))
      .withColumn("perplexity", exp(col("__nll")))
      .select(col(docId), col("n_bigrams"), col("perplexity"))
  }

  /** Content fingerprint: md5 of the dedup-normalized text — the
    * cheap exact-clustering key (see [[Dedup.normalize]]).
    */
  /** Character-entropy quality signal: per-document Shannon entropy
    * over the normalized non-space characters — near-zero for
    * keyboard-mash / repeated-char garbage, ~3.0 nats for natural
    * English; a standard cheap pretraining-quality heuristic
    * complementing [[qualityScore]]'s length/punct ratios and
    * [[repetitionRatio]]'s n-gram repeats.
    *
    * Engine-exact by the DSIR integer-grid construction
    * ([[Sampling.dsirLogWeights]], same rationale): each distinct
    * character's ln(n_c/N) is quantized to the 1e-4-nat grid BEFORE
    * the weighted sum, so `ent4 = -sum(n_c * round(1e4*ln(n_c/N)))`
    * is an exact integer identical on any engine (the quantum dwarfs
    * cross-libm ln drift by ~9 orders), and the reported per-char
    * entropy divides the same two integers everywhere.
    *
    * Shape: one shuffle to (id, char) counts — at most
    * |alphabet| (~37) rows per document — then a window re-using the
    * id partitioning. No corpus-wide state; scales per-document.
    *
    * Output: (id, n_chars, ent4, entropy) — ent4 the exact integer
    * (1e-4-nat x count units), entropy = ent4 / (n_chars * 1e4) nats
    * per char.
    */
  def charEntropy(df: DataFrame, id: String, text: String): DataFrame = {
    val counts = df.where(col(text).isNotNull)
      .select(col(id),
        explode(split(Dedup.normalize(col(text)), "")).as("__ch"))
      .where(col("__ch") =!= " " && col("__ch") =!= "")
      .groupBy(col(id), col("__ch"))
      .agg(count(lit(1)).as("__nc"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(id))
    counts
      .withColumn("__n", sum(col("__nc")).over(w))
      .withColumn("__t4",
        round(log(col("__nc") / col("__n")) * lit(1e4)).cast("long") *
          col("__nc"))
      .groupBy(col(id))
      .agg(max(col("__n")).as("n_chars"),
        (-sum(col("__t4"))).as("ent4"))
      .withColumn("entropy",
        col("ent4") / (col("n_chars") * lit(1e4)))
  }

  /** Default RAKE stopword list (fixed, inlined by the oracle). */
  val RakeStopwords: Seq[String] = Seq("the", "a", "an", "of", "to",
    "and", "in", "is", "for", "on", "with", "as", "by", "at", "from",
    "that", "this", "it", "are", "was", "be", "or", "we", "you",
    "has")

  /** RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents") over the normalized
    * token stream: candidate phrases are maximal stopword-free runs
    * (gaps-and-islands per document — stopwords are the delimiters),
    * each word scores deg/freq WITHIN its document (deg = summed
    * length of the phrases it appears in — co-occurrence raises a
    * word's score, which is RAKE's whole idea), and a phrase scores
    * the sum of its words. Word scores QUANTIZE by integer division
    * (deg * 1e6 div freq) so phrase scores are order-free exact long
    * sums; top-k distinct phrases per doc by (score desc, phrase).
    * Every stage is per-document windows + grouped aggregates —
    * document-length bounded, no corpus-wide state.
    */
  def rakeKeywords(df: DataFrame, docId: String, text: String,
      k: Int, stopwords: Seq[String] = RakeStopwords): DataFrame = {
    require(k >= 1 && stopwords.nonEmpty, s"rakeKeywords: k $k")
    val W = org.apache.spark.sql.expressions.Window
    val toks = df.where(col(text).isNotNull)
      .select(col(docId), posexplode(
        Dedup.normalizeTokens(col(text))))
      .select(col(docId), col("pos"), col("col").as("__tok"),
        col("col").isin(stopwords: _*).cast("long").as("__stop"))
    val wOrd = W.partitionBy(col(docId)).orderBy(col("pos"))
    val phrased = toks
      .withColumn("__ph", sum(col("__stop"))
        .over(wOrd.rowsBetween(W.unboundedPreceding, 0)))
      .where(col("__stop") === 0)
    val phrases = phrased
      .groupBy(col(docId), col("__ph"))
      .agg(count(lit(1)).as("__plen"),
        array_join(transform(sort_array(collect_list(
          struct(col("pos"), col("__tok")))), s =>
          s.getField("__tok")), " ").as("phrase"))
    // per-doc word stats: freq = occurrences, deg = summed length of
    // containing phrases
    val wordStats = phrased
      .join(phrases.select(col(docId), col("__ph"), col("__plen")),
        Seq(docId, "__ph"))
      .groupBy(col(docId), col("__tok"))
      .agg(count(lit(1)).as("__freq"), sum(col("__plen")).as("__deg"))
      .withColumn("__wq", expr("__deg * 1000000L div __freq"))
    val scored = phrased
      .join(wordStats.select(col(docId), col("__tok"), col("__wq")),
        Seq(docId, "__tok"))
      .groupBy(col(docId), col("__ph"))
      .agg(sum(col("__wq")).as("score_q"))
      .join(phrases, Seq(docId, "__ph"))
      .select(col(docId), col("phrase"), col("score_q"),
        col("__plen").as("n_words"))
      .distinct() // same phrase text twice in a doc scores once
    val wTop = W.partitionBy(col(docId))
      .orderBy(col("score_q").desc, col("phrase"))
    scored.withColumn("__rn", row_number().over(wTop))
      .where(col("__rn") <= k)
      .drop("__rn")
  }

  def fingerprint(text: Column): Column = md5(Dedup.normalize(text))

  /** The winnowing kernel: one tight loop per cleaned string (the
    * [[Dedup]] windowHashes venue rule — no interpreted lambda per
    * k-gram, no boxed element, no tuple) that
    *   1. rolls the k-gram hashes into a primitive `long[]`: each is
    *      the char-code polynomial fold (a*31 + c) mod 1e9+7 over k
    *      consecutive chars, EXACTLY the portable fold DuckDB replays
    *      with list_reduce, rolled in O(1) per step by subtracting
    *      the leading term (only division by the base would need a
    *      modular inverse);
    *   2. for every window end e in [min(w,nk)-1, nk-1] over the nk
    *      hashes picks the minimum of positions max(0, e-w+1)..e,
    *      ties to the RIGHTMOST. The pick of window e+1 is the pick
    *      of window e or e itself unless the old pick slid out, so
    *      only then is the window rescanned;
    *   3. emits each picked position once, packed `pos << 32 | fp`
    *      (fp < 1e9+7 < 2^30). Picks never move left, so a repeat
    *      can only follow itself.
    * A string with fewer than w k-grams has its single all-covering
    * window; one shorter than k (or null) has none.
    */
  private val winnowPicks = udf { (s: String, k: Int, w: Int) =>
    val nk = (if (s == null) 0 else s.length) - k + 1
    if (nk < 1) Array.emptyLongArray
    else {
      val P = 1000000007L
      var pw = 1L // 31^(k-1) mod P
      var i = 0
      while (i < k - 1) { pw = pw * 31 % P; i += 1 }
      val hs = new Array[Long](nk)
      var h = 0L
      i = 0
      while (i < k) { h = (h * 31 + s.charAt(i)) % P; i += 1 }
      hs(0) = h
      i = 1
      while (i < nk) {
        h = ((h + P - s.charAt(i - 1) * pw % P) * 31 +
          s.charAt(i + k - 1)) % P
        hs(i) = h
        i += 1
      }
      val out = new Array[Long](nk)
      var m = 0
      var best, last = -1
      var e = math.min(w, nk) - 1
      while (e < nk) {
        val lo = math.max(0, e - w + 1)
        if (best < lo) {
          best = lo
          var j = lo + 1
          while (j <= e) { if (hs(j) <= hs(best)) best = j; j += 1 }
        } else if (hs(e) <= hs(best)) best = e
        if (best != last) {
          out(m) = best.toLong << 32 | hs(best)
          m += 1
          last = best
        }
        e += 1
      }
      java.util.Arrays.copyOf(out, m)
    }
  }

  /** One `(docId, pos, fp)` row per input row and pick of
    * [[winnowPicks]] over the [a-z0-9]-cleaned text.
    */
  private def winnowRows(df: DataFrame, docId: String, text: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 2 && w >= 2, s"winnow: k $k w $w")
    val cleaned = regexp_replace(lower(col(text)), "[^a-z0-9]", "")
    df.select(col(docId),
        explode(winnowPicks(cleaned, lit(k), lit(w))).as("__pick"))
      .select(col(docId),
        shiftrightunsigned(col("__pick"), 32).cast("int").as("pos"),
        col("__pick").bitwiseAND(0xffffffffL).as("fp"))
  }

  /** WINNOWING document fingerprints (Schleimer, Wilkerson & Aiken
    * 2003 — the MOSS algorithm): from every window of `w` consecutive
    * k-gram hashes keep the minimum (rightmost on ties), giving a
    * position-robust fingerprint set with guaranteed coverage — any
    * shared substring of length >= w + k - 1 yields at least one
    * SHARED fingerprint, which grep-style sampling can't promise.
    * Text is cleaned to [a-z0-9] first (case/punct/whitespace
    * invariance). Hashing and selection are one per-row kernel
    * ([[winnowPicks]], zero exchanges); one distinct merges duplicate
    * doc rows into (doc, pos, fp). Short documents with fewer than w
    * k-grams contribute their single all-covering window. Pure
    * modular integer arithmetic end to end — the oracle replays every
    * fingerprint.
    */
  def winnowFingerprints(df: DataFrame, docId: String, text: String,
      k: Int, w: Int): DataFrame =
    winnowRows(df, docId, text, k, w).distinct()

  /** Winnowing SIMILARITY report — the MOSS use of the fingerprints:
    * document pairs sharing >= `minShared` selected fingerprints
    * (same hash value, any position), through the
    * [[graft.ops.PairCensus]] kernel keyed by fingerprint value —
    * candidate fan-out quadratic only in docs-per-fingerprint,
    * census-guarded by `maxPerFp` before the join runs (the LSH-band
    * rule; a fingerprint shared by half the corpus is boilerplate,
    * not evidence). Exact integer counts.
    *
    * BOILERPLATE STRIP (what MOSS calls the common-code filter): with
    * `maxDocPermille` > 0, a fingerprint present in more than
    * maxDocPermille/1000 of the docs is a shared template phrase, not
    * copying evidence — and it is exactly what makes the pair stage
    * quadratic. It is a key filter on the census degree, applied
    * before the guard; the integer cross-multiplied threshold makes
    * the kept set replay exactly.
    */
  def winnowSimilarity(df: DataFrame, docId: String, text: String,
      k: Int, w: Int, minShared: Long, maxPerFp: Int = 1000,
      maxDocPermille: Int = 0): DataFrame = {
    require(maxDocPermille >= 0 && maxDocPermille <= 1000,
      s"winnowSimilarity: maxDocPermille $maxDocPermille")
    val all = graft.Caches.pin(winnowRows(df, docId, text, k, w)
      .select(col(docId).as("member"), col("fp").as("key")).distinct())
    val strip = if (maxDocPermille == 0) None else {
      val nDocs = all.select(col("member")).distinct().count()
      Some((d: Column) => d * 1000 <= lit(maxDocPermille) * lit(nDocs))
    }
    graft.ops.PairCensus("winnowSimilarity", all, minShared, maxPerFp,
        remedy = "strip boilerplate (maxDocPermille)", keep = strip)
      .toDF("doc_a", "doc_b", "n_shared")
  }

  /** Rolling polynomial hash (Rabin-Karp style) of the normalized
    * token stream: token hash = char polynomial (base 131), document
    * hash = token polynomial (base 31627), both mod 1e9+7 — an
    * order-sensitive fingerprint where md5 of the whole string is
    * order-sensitive but not incrementally computable. Pure integer
    * arithmetic over code points, so any engine reproduces it exactly
    * (the q51 oracle runs the same fold in DuckDB).
    */
  def rollingHash(text: Column): Column = {
    // bases/modulus chosen so acc * B + h stays well under 2^63 (ANSI
    // mode makes long overflow an error, not a wrap)
    val Bc = 131L
    val Bt = 31627L
    val M = 1000000007L
    val tokens = split(Dedup.normalize(text), " ")
    val tokHash = (t: Column) =>
      aggregate(split(t, ""), lit(0L),
        (a, c) => pmod(a * Bc + ascii(c), lit(M)))
    aggregate(tokens, lit(0L),
      (acc, t) => pmod(acc * Bt + tokHash(t), lit(M)))
  }

  /** Per-source corpus report card — the data-card summary a pipeline
    * publishes per mixture component: document/token volume, length
    * distribution, and the exact-duplicate rate, in ONE grouped
    * aggregate over one corpus scan (countDistinct adds the standard
    * two-phase expansion, still a single pass over the data). Every
    * metric is exact and SQL-expressible, so the whole card is
    * oracle-checkable.
    *
    * Output per group: n_docs, n_tokens, mean_tokens (exact-sum,
    * double-divide), min/max_tokens, n_unique (distinct normalized
    * fingerprints), dup_rate = 1 - n_unique/n_docs.
    */
  def corpusReport(df: DataFrame, grp: String, text: String): DataFrame =
    df.where(col(text).isNotNull)
      .select(col(grp),
        size(Dedup.normalizeTokens(col(text))).cast("long").as("__nt"),
        md5(Dedup.normalize(col(text))).as("__fp"))
      .groupBy(col(grp))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        min(col("__nt")).as("min_tokens"),
        max(col("__nt")).as("max_tokens"),
        countDistinct(col("__fp")).as("n_unique"))
      .withColumn("mean_tokens",
        round(col("n_tokens").cast("double") / col("n_docs"), 6))
      .withColumn("dup_rate",
        round(lit(1.0) - col("n_unique").cast("double") / col("n_docs"),
          6))

  /** Per-document vocabulary coverage against the corpus's own top-K
    * token vocabulary: (id, n_tokens, n_oov, oov_rate) — the audit a
    * pipeline runs before committing to a tokenizer/vocabulary budget
    * (documents with high OOV rates are the ones a fixed vocab will
    * shred into unknowns).
    *
    * Shape: one tokenize+explode stream feeds both the vocabulary
    * census (groupBy token — the only vocabulary-keyed shuffle) and
    * the per-doc scoring join; the compact (id, token) stream is
    * pinned so the corpus is scanned once. The
    * top-K vocab (count desc, token asc — total order, deterministic
    * on any engine) is K rows and broadcasts; scoring is a broadcast
    * left join plus a per-doc partial aggregate. No corpus-sized
    * shuffle anywhere.
    */
  def vocabCoverage(df: DataFrame, id: String, text: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val toks = graft.Caches.pin(df.where(col(text).isNotNull)
      .select(col(id), explode(Dedup.normalizeTokens(col(text)))
        .as("__tok")))
    val vocab = toks.groupBy(col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .orderBy(desc("__c"), asc("__tok"))
      .limit(vocabSize)
      .select(col("__tok"), lit(1).as("__in"))
    toks.join(broadcast(vocab), Seq("__tok"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__in").isNull, lit(1))).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
  }

  /** Bigram COLLOCATIONS by pointwise mutual information (Church &
    * Hanks 1990): pmi(a,b) = ln(N * c(ab) / (c(a) * c(b))) over
    * adjacent normalized-token pairs within each document. Counts
    * are exact integers (the cross-engine surface); the one floating
    * step (ln of their ratio, evaluated in one fixed operation
    * order) rounds to 6dp — the corr/BM25 convention. `minCount`
    * prunes the bigram tail BEFORE the unigram joins (low-count PMI
    * is noise anyway — the standard collocation cut), so the joins
    * run on the head of the distribution; the unigram table is
    * vocab-sized and broadcasts.
    *
    * One corpus scan: the token-array projection is pinned and feeds
    * both the unigram census and the adjacent-pair census (slice +
    * arrays_zip — no positions self-join).
    */
  def pmiCollocations(df: DataFrame, text: String,
      minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, s"pmiCollocations: minCount $minCount")
    val arr = graft.Caches.pin(df.where(col(text).isNotNull)
      .select(filter(split(Dedup.normalize(col(text)), " "),
        t => t =!= "").as("a"))
      .where(size(col("a")) > 0))
    val uni = arr.select(explode(col("a")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val total = uni.agg(sum(col("c")).as("n"))
    val bi = arr.where(size(col("a")) >= 2)
      .select(slice(col("a"), lit(1), size(col("a")) - 1).as("x"),
        slice(col("a"), lit(2), size(col("a")) - 1).as("y"))
      .select(explode(arrays_zip(col("x"), col("y"))).as("p"))
      .select(col("p.x").as("t_a"), col("p.y").as("t_b"))
      .groupBy(col("t_a"), col("t_b")).agg(count(lit(1)).as("c_ab"))
      .where(col("c_ab") >= minCount)
    bi.join(broadcast(uni.select(col("t").as("t_a"),
        col("c").as("c_a"))), Seq("t_a"))
      .join(broadcast(uni.select(col("t").as("t_b"),
        col("c").as("c_b"))), Seq("t_b"))
      .crossJoin(broadcast(total))
      .withColumn("pmi", round(log(
        (col("c_ab").cast("double") * col("n").cast("double")) /
          (col("c_a").cast("double") * col("c_b").cast("double"))), 6))
      .select(col("t_a"), col("t_b"), col("c_ab"), col("c_a"),
        col("c_b"), col("pmi"))
  }

  /** JENSEN-SHANNON DIVERGENCE between the token distributions of two
    * corpus slices — the symmetric, bounded (≤ ln 2) answer to "how
    * different are these two sources/snapshots", where PSI-style
    * ratios blow up on vocabulary the slices don't share (JSD handles
    * disjoint support natively: a token absent from one side
    * contributes p·ln 2 through the mixture, never ∞).
    *   JSD(P‖Q) = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m),  m = (p+q)/2
    * One (slice, token) census pass (partial-aggregated, bounded by
    * vocabulary — the `maxVocab` guard); the two marginal
    * distributions meet in a full-outer token join so one-sided
    * vocabulary keeps its term. Per-token ln terms decimal-quantized,
    * so the vocabulary-sized sum is order-free. Emits one row:
    * slice names, token totals, shared/total vocabulary, jsd_nats and
    * jsd_bits (nats/ln 2 — the [0, 1] normalized form).
    *
    * `slice` must take exactly two values over `df` — the operator
    * refuses otherwise (a k-way comparison is k·(k−1)/2 calls with
    * explicit pairs, not a silent pick-two).
    */
  def jsDivergence(df: DataFrame, slice: Column, text: Column,
      maxVocab: Long = 5000000L): DataFrame = {
    // pinned: the (slice, token) census feeds the slice check and
    // both per-slice projections — tokenization runs once
    val cells = graft.Caches.pin(
      df.where(text.isNotNull && slice.isNotNull)
        .select(slice.as("slice"),
          explode(filter(split(Dedup.normalize(text), " "),
            t => t =!= "")).as("t"))
        .groupBy(col("slice"), col("t")).agg(count(lit(1)).as("c")))
    // bounded collect: exactly-two contract, checked not assumed
    val slices = cells.select(col("slice")).distinct()
      .orderBy(col("slice")).limit(3).collect().map(_.getString(0))
    require(slices.length == 2,
      s"jsDivergence: need exactly 2 slices, saw ${slices.mkString(",")}")
    val Array(sa, sb) = slices
    val a = cells.where(col("slice") === sa)
      .select(col("t"), col("c").as("__ca"))
    val b = cells.where(col("slice") === sb)
      .select(col("t"), col("c").as("__cb"))
    // pinned: the joined vocabulary feeds the guard count, the totals
    // aggregate, and the term sum
    val j = graft.Caches.pin(a.join(b, Seq("t"), "full")
      .na.fill(0L, Seq("__ca", "__cb")))
    val nVocab = j.count()
    require(nVocab <= maxVocab,
      s"jsDivergence: $nVocab vocabulary exceeds $maxVocab")
    val totals = j.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"))
    val wt = j.crossJoin(broadcast(totals))
    val p = col("__ca").cast("double") / col("__na").cast("double")
    val q = col("__cb").cast("double") / col("__nb").cast("double")
    val m = (p + q) / lit(2.0)
    val dq = (c: Column) => c.cast("decimal(38,12)")
    val term = dq(when(col("__ca") > 0, p * log(p / m)).otherwise(lit(0.0))
      + when(col("__cb") > 0, q * log(q / m)).otherwise(lit(0.0)))
    wt.agg(
        sum(term).cast("double").as("__s"),
        first(col("__na")).as("n_tok_a"), first(col("__nb")).as("n_tok_b"),
        count(lit(1)).as("vocab"),
        sum((col("__ca") > 0 && col("__cb") > 0).cast("long"))
          .as("vocab_shared"))
      .select(lit(sa).as("slice_a"), lit(sb).as("slice_b"),
        col("n_tok_a"), col("n_tok_b"), col("vocab"), col("vocab_shared"),
        round(col("__s") / lit(2.0), 6).as("jsd_nats"),
        round(col("__s") / lit(2.0) / lit(math.log(2.0)), 6)
          .as("jsd_bits"))
  }

  /** PAIRWISE [[jsDivergence]] MATRIX over k corpus slices in ONE
    * plan — the full drift grid a multi-source corpus review reads
    * (which sources write alike, which snapshot moved). Instead of
    * k·(k−1)/2 separate full-outer joins, the (slice, token) census
    * widens to a per-token count GRID (one conditional-sum aggregate
    * keyed by token — a single shuffle however many slices), and
    * every pair's mixture terms are computed column-wise over that
    * grid in one aggregate pass. Slices are the bounded analysis
    * dimension (`maxSlices` guard — the grid close is O(k²) columns);
    * vocabulary is guarded by `maxVocab` like the pairwise form.
    * Emits one row per (slice_a < slice_b) pair with token totals,
    * either-side pair vocabulary, jsd_nats and jsd_bits.
    */
  def jsDivergenceMatrix(df: DataFrame, slice: Column, text: Column,
      maxSlices: Int = 12, maxVocab: Long = 5000000L): DataFrame = {
    require(maxSlices >= 2, s"jsDivergenceMatrix: maxSlices=$maxSlices")
    val cells = graft.Caches.pin(
      df.where(text.isNotNull && slice.isNotNull)
        .select(slice.as("slice"),
          explode(filter(split(Dedup.normalize(text), " "),
            t => t =!= "")).as("t"))
        .groupBy(col("slice"), col("t")).agg(count(lit(1)).as("c")))
    // bounded collect: the slice list IS the analysis dimension
    val slices = cells.select(col("slice")).distinct()
      .orderBy(col("slice")).limit(maxSlices + 1).collect()
      .map(_.getString(0))
    require(slices.length >= 2 && slices.length <= maxSlices,
      s"jsDivergenceMatrix: ${slices.length} slices outside " +
        s"[2, $maxSlices]")
    val k = slices.length
    // per-token count grid: one shuffle on token, k conditional sums
    val grid = graft.Caches.pin(cells.groupBy(col("t")).agg(
      slices.zipWithIndex.map { case (s, i) =>
        sum(when(col("slice") === s, col("c")).otherwise(lit(0L)))
          .as(s"__c$i")
      }.head, slices.zipWithIndex.tail.map { case (s, i) =>
        sum(when(col("slice") === s, col("c")).otherwise(lit(0L)))
          .as(s"__c$i")
      }: _*))
    val nVocab = grid.count()
    require(nVocab <= maxVocab,
      s"jsDivergenceMatrix: $nVocab vocabulary exceeds $maxVocab")
    val totals = grid.agg(
      sum(col("__c0")).as("__n0"),
      (1 until k).map(i => sum(col(s"__c$i")).as(s"__n$i")): _*)
    val wt = grid.crossJoin(broadcast(totals))
    val dqc = (c: Column) => c.cast("decimal(38,12)")
    val pairs = for (i <- 0 until k; j <- i + 1 until k) yield (i, j)
    val aggs = pairs.flatMap { case (i, j) =>
      val p = col(s"__c$i").cast("double") / col(s"__n$i").cast("double")
      val q = col(s"__c$j").cast("double") / col(s"__n$j").cast("double")
      val m = (p + q) / lit(2.0)
      val term = dqc(
        when(col(s"__c$i") > 0, p * log(p / m)).otherwise(lit(0.0)) +
          when(col(s"__c$j") > 0, q * log(q / m)).otherwise(lit(0.0)))
      Seq(sum(term).cast("double").as(s"__s_${i}_$j"),
        sum((col(s"__c$i") > 0 || col(s"__c$j") > 0).cast("long"))
          .as(s"__v_${i}_$j"))
    } ++ (0 until k).map(i => first(col(s"__n$i")).as(s"__t$i"))
    val agg = wt.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (i, j) =>
      struct(lit(slices(i)).as("slice_a"), lit(slices(j)).as("slice_b"),
        col(s"__t$i").as("n_tok_a"), col(s"__t$j").as("n_tok_b"),
        col(s"__v_${i}_$j").as("vocab_pair"),
        round(col(s"__s_${i}_$j") / lit(2.0), 6).as("jsd_nats"),
        round(col(s"__s_${i}_$j") / lit(2.0) / lit(math.log(2.0)), 6)
          .as("jsd_bits"))
    }
    agg.select(explode(array(rows: _*)).as("__p"))
      .select(col("__p.slice_a").as("slice_a"),
        col("__p.slice_b").as("slice_b"),
        col("__p.n_tok_a").as("n_tok_a"),
        col("__p.n_tok_b").as("n_tok_b"),
        col("__p.vocab_pair").as("vocab_pair"),
        col("__p.jsd_nats").as("jsd_nats"),
        col("__p.jsd_bits").as("jsd_bits"))
      .orderBy(col("slice_a"), col("slice_b"))
  }

  /** OUT-OF-VOCABULARY rate per corpus slice against the corpus' own
    * top-`vocabSize` token vocabulary — the tokenizer-budget gauge
    * that tells you which source a fixed word vocabulary will serve
    * worst (high OOV → fertility blowup downstream, the q127 lesson
    * read source-by-source). Vocabulary = top-N global tokens by
    * (count desc, token asc) — a TakeOrdered over the
    * vocabulary-sized census, never a global row sort — joined back
    * broadcast (semi) to the per-slice census. Exact integers
    * throughout: oov_ppm is floor-division ppm of occurrence counts.
    */
  def oovRate(df: DataFrame, slice: Column, text: Column,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"oovRate: vocabSize=$vocabSize")
    val cells = graft.Caches.pin(
      df.where(text.isNotNull && slice.isNotNull)
        .select(slice.as("slice"),
          explode(filter(split(Dedup.normalize(text), " "),
            t => t =!= "")).as("t"))
        .groupBy(col("slice"), col("t")).agg(count(lit(1)).as("c")))
    val vocab = cells.groupBy(col("t")).agg(sum(col("c")).as("__cg"))
      .orderBy(col("__cg").desc, col("t").asc).limit(vocabSize)
      .select(col("t"))
    val perSlice = cells.groupBy(col("slice"))
      .agg(sum(col("c")).as("n_tokens"),
        count_distinct(col("t")).as("n_types"))
    val inVocab = cells.join(broadcast(vocab), Seq("t"), "left_semi")
      .groupBy(col("slice")).agg(sum(col("c")).as("__nin"))
    perSlice.join(inVocab, Seq("slice"), "left")
      .na.fill(0L, Seq("__nin"))
      .select(col("slice"), col("n_tokens"), col("n_types"),
        (col("n_tokens") - col("__nin")).as("n_oov"),
        expr("(n_tokens - __nin) * 1000000L div n_tokens")
          .as("oov_ppm"))
      .orderBy(col("slice"))
  }

  /** INVERTED-INDEX postings: one row per (term, doc) with term
    * frequency and the term's document frequency — the materialized
    * retrieval artifact BM25 serving reads. Terms below `minDf`
    * drop (the long tail that bloats an index without ever ranking).
    * Two shuffles, no join: the (term, doc) tf aggregate, then df as
    * a COUNT window over the term partition (posting lists are
    * per-term bounded, and the window replaces the census+join plan
    * that would shuffle a third time). At scale, write the result
    * bucketed by term ([[graft.io.Sources.writeBucketed]]) so
    * query-time term lookups are single-bucket scans with no
    * shuffle.
    */
  def invertedIndex(df: DataFrame, docId: String, text: String,
      minDf: Long = 2L): DataFrame = {
    val postings = df.where(col(text).isNotNull)
      .select(col(docId),
        explode(filter(split(Dedup.normalize(col(text)), " "),
          t => t =!= "")).as("term"))
      .groupBy(col("term"), col(docId))
      .agg(count(lit(1)).as("tf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term"))
    postings.withColumn("df", count(lit(1)).over(w))
      .where(col("df") >= minDf)
      .select(col("term"), col("df"), col(docId), col("tf"))
  }

  /** TEXTRANK KEYWORDS (Mihalcea & Tarau 2004) — corpus-level
    * keyword extraction as PageRank over the word ADJACENCY graph:
    * consecutive normalized tokens become undirected edges (the
    * window-1 co-occurrence graph), words map to node ids through
    * the portable token hash, and the ranking runs through
    * [[graft.ops.Graph.pageRankInt]]'s integer-exact supersteps —
    * the same fused, oracle-unrollable plan as q169, applied to
    * text. Reuse is the point: the graph operator IS the text
    * operator once the adjacency is declared.
    *
    * Distinct, unweighted edges (classic TextRank; a repeated
    * collocation adds no extra edge mass), dictionary joined back
    * for the emitted word. Two hash-colliding words would share a
    * node deterministically on both engines (1e9+7 space —
    * immaterial at vocabulary scale). Top `k` by (rank desc, node).
    */
  def textRankKeywords(df: DataFrame, text: String, iters: Int = 3,
      k: Int = 50): DataFrame = {
    // pinned (r15): the regex normalize + tokenize pass is the
    // expensive per-byte work, and BOTH downstream pins (the edge
    // set inside pageRankInt and the word->hash dict) materialize
    // independently — unpinned, the corpus was normalized twice per
    // run. One pin = one pass; the arrays are text-sized, so the pin
    // scales wherever the corpus does (guide §2.4: remove repeated
    // passes outright).
    val words = graft.Caches.pin(df.where(col(text).isNotNull)
      .select(filter(split(Dedup.normalize(col(text)), " "),
        t => t =!= "").as("__w"))
      .where(size(col("__w")) >= 2))
    val pairs = words.select(explode(arrays_zip(
        slice(col("__w"), lit(1), size(col("__w")) - 1),
        slice(col("__w"), lit(2), size(col("__w")) - 1))).as("__p"))
      .select(col("__p.0").as("wa"), col("__p.1").as("wb"))
      .where(col("wa") =!= col("wb"))
    val hashed = pairs.select(
      graft.functions.PortableTokenHash(col("wa")).as("src"),
      graft.functions.PortableTokenHash(col("wb")).as("dst"))
    val und = hashed.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val edges = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
    val dict = graft.Caches.pin(
      pairs.select(col("wa").as("word"))
        .unionByName(pairs.select(col("wb").as("word"))).distinct()
        .select(col("word"),
          graft.functions.PortableTokenHash(col("word")).as("node")))
    graft.ops.Graph.pageRankInt(edges, iters)
      .orderBy(col("rank").desc, col("node")).limit(k)
      .join(dict, Seq("node"))
      .select(col("word"), col("rank"))
      .orderBy(col("rank").desc, col("word"))
  }

  /** HEAPS'-LAW vocabulary growth (Heaps 1978; Herdan 1960):
    * V(n) ≈ K·n^β — distinct types seen in the first n tokens of the
    * corpus, at power-of-two checkpoints, with β estimated by the
    * Theil–Sen slope over the quantized log-log points (the q271
    * Zipf discipline — same lattice, same robust fit). Natural text
    * sits near β ≈ 0.5; β drifting up flags unbounded-vocabulary
    * noise (serial numbers, hashes), β collapsing flags template
    * spam — the vocabulary-side corpus health gauge next to Zipf's
    * frequency-side one.
    *
    * Everything before the two `ln` calls is exact integer work:
    *   - global token positions from per-doc counts via the range-
    *     bucketed [[graft.ops.ScanOps.prefixSums]] (doc-id order, no
    *     single-partition window);
    *   - each type's FIRST position, an exact min;
    *   - V(2^i) by joining the (vocab-bounded) first-position census
    *     against the ~60-row checkpoint list with first <= n — no
    *     float log2 bucketing, so a first-occurrence exactly ON a
    *     checkpoint can't flip sides.
    * Checkpoints below `minN` are dropped (the pre-asymptotic head
    * bends the fit). Emits one row per checkpoint (n_tokens, vocab,
    * xq, yq) with the shared Theil–Sen (slope_q, intercept_q)
    * repeated; slope_q/1e6 ≈ β.
    */
  def heapsLaw(df: DataFrame, id: String, text: String,
      minN: Long = 256L): DataFrame = {
    require(minN >= 1, s"heapsLaw: minN $minN")
    val docs = df.where(col(text).isNotNull)
      .select(col(id).cast("long").as("__id"),
        Dedup.normalizeTokens(col(text)).as("__t"))
      .where(size(col("__t")) >= 1)
    val counts = docs.select(col("__id"),
      size(col("__t")).cast("long").as("__n"))
    val withCum = graft.ops.ScanOps.prefixSums(counts, "__id",
      Seq("__cum" -> col("__n")))
      .select(col("__id"), (col("__cum") - col("__n")).as("__off"))
    val firsts = graft.Caches.pin(docs
      .join(withCum, Seq("__id"))
      .select(col("__off"), posexplode(col("__t")))
      .select((col("__off") + col("pos") + lit(1L)).as("__p"),
        col("col").as("__tok"))
      .groupBy(col("__tok")).agg(min(col("__p")).as("__first")))
    val tot = counts.agg(coalesce(sum(col("__n")), lit(0L)))
      .first().getLong(0)
    val spark = df.sparkSession
    val cps = spark.range(0, 63)
      .select(expr("shiftleft(1L, cast(id as int))").as("n_tokens"))
      .where(col("n_tokens") <= tot && col("n_tokens") >= minN)
    val points = graft.Caches.pin(broadcast(cps)
      .join(firsts, col("__first") <= col("n_tokens"))
      .groupBy(col("n_tokens"))
      .agg(count(lit(1)).as("vocab"))
      .select(lit("corpus").as("series"), col("n_tokens"), col("vocab"),
        floor(lit(1e6) * log(col("n_tokens").cast("double")))
          .cast("long").as("xq"),
        floor(lit(1e6) * log(col("vocab").cast("double")))
          .cast("long").as("yq")))
    val fit = graft.functions.Stats.theilSen(points, "series",
      "xq", "yq")
    points.join(broadcast(fit), Seq("series"))
      .select(col("n_tokens"), col("vocab"), col("xq"), col("yq"),
        col("slope_q"), col("intercept_q"))
      .orderBy(col("n_tokens"))
  }

  /** GOOD-TURING frequency estimates (Good 1953) — the raw
    * frequency-of-frequencies form: N_r = number of types seen
    * exactly r times; the unseen-probability mass is p0 = N_1/N and
    * the adjusted count of an r-times type is r* = (r+1)·N_{r+1}/N_r.
    * The corpus-coverage gauge next to [[heapsLaw]]'s growth curve:
    * p0 is the probability the NEXT token is a new type — large p0
    * means the corpus hasn't covered its own vocabulary (more data
    * helps), p0 ≈ 0 means diminishing returns.
    *
    * EVERYTHING is integer: token census -> frequency-of-frequencies
    * census (vocab-bounded, then count-bounded — two nested
    * aggregations, each strictly smaller); r* and p0 are integer
    * floor divisions on the ppm lattice. This is the RAW estimator:
    * rows where no type occurred r+1 times report r*_ppm = 0
    * (the documented gap limitation smoothed estimators exist to
    * fix — out of scope; the raw N_r table is exactly what they
    * consume). `ngram` sets the type unit: 1 = word types, n > 1 =
    * word n-grams (closed small vocabularies have no rare unigrams;
    * the n-gram tail is where unseen mass lives). Emits one row per
    * r <= maxR present in the corpus: (r, n_r, rstar_ppm) with
    * shared (n_tokens, n_types, p0_ppm) — n_tokens counts type
    * INSTANCES (n-gram occurrences for ngram > 1).
    */
  def goodTuring(df: DataFrame, id: String, text: String,
      maxR: Long = 20L, ngram: Int = 1): DataFrame = {
    require(maxR >= 1, s"goodTuring: maxR $maxR")
    require(ngram >= 1 && ngram <= 8, s"goodTuring: ngram $ngram")
    val tc = df.where(col(text).isNotNull)
      .select(graft.llmdata.Dedup.normalizeTokens(col(text))
        .as("__t"))
      .where(size(col("__t")) >= ngram)
      .select(explode(expr(
        s"transform(sequence(1, size(__t) - ${ngram - 1}), " +
          s"i -> array_join(slice(__t, i, $ngram), ' '))"))
        .as("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).as("__r"))
    val ff = graft.Caches.pin(tc.groupBy(col("__r"))
      .agg(count(lit(1)).as("n_r")))
    val tot = ff.agg(
      coalesce(sum(col("__r") * col("n_r")), lit(0L)).as("__n"),
      coalesce(sum(col("n_r")), lit(0L)).as("__v"),
      coalesce(sum(when(col("__r") === 1L, col("n_r"))), lit(0L))
        .as("__n1"))
    val nxt = ff.select((col("__r") - 1L).as("__r"),
      col("n_r").as("__nr1"))
    ff.where(col("__r") <= maxR)
      .join(nxt, Seq("__r"), "left")
      .na.fill(0L, Seq("__nr1"))
      .crossJoin(broadcast(tot))
      .select(col("__r").as("r"), col("n_r"),
        expr("(r + 1) * __nr1 * 1000000L div n_r").as("rstar_ppm"),
        col("__n").as("n_tokens"), col("__v").as("n_types"),
        expr("__n1 * 1000000L div __n").as("p0_ppm"))
      .orderBy(col("r"))
  }

  /** STANDARDIZED TYPE-TOKEN RATIO (the corpus-linguistics STTR;
    * Johnson 1944's chunked TTR): plain TTR = types/tokens falls
    * with length (Heaps), so per-document lexical diversity is
    * averaged over fixed-size chunks instead — TTR per complete
    * `chunk`-token block, mean across blocks. Template spam and
    * boilerplate score LOW (few types per block); natural prose
    * sits in a stable band — a per-document quality feature the
    * corpus-level [[heapsLaw]]/[[goodTuring]] gauges don't give.
    *
    * All integer: tokens positioned per doc (posexplode), block =
    * pos div chunk, per-block distinct types by one (doc, block,
    * type) aggregation, incomplete tail blocks DROPPED (that is the
    * "standardized" part), sttr_ppm = Σ distinct·1e6 div
    * (n_blocks·chunk) — one integer floor division per doc. Every
    * aggregation is per-document; no global state of any kind.
    * Docs shorter than one chunk emit no row. Emits
    * (doc_id, n_blocks, sttr_ppm).
    */
  def sttr(df: DataFrame, id: String, text: String,
      chunk: Int = 100): DataFrame = {
    require(chunk >= 2, s"sttr: chunk $chunk")
    val toks = df.where(col(text).isNotNull)
      .select(col(id).cast("long").as("doc_id"),
        posexplode(graft.llmdata.Dedup.normalizeTokens(col(text))))
      .select(col("doc_id"),
        expr(s"cast(pos as bigint) div ${chunk}L").as("__blk"),
        col("col").as("__tok"))
    val blocks = toks
      .groupBy(col("doc_id"), col("__blk"))
      .agg(count(lit(1)).as("__nt"),
        countDistinct(col("__tok")).as("__nd"))
      .where(col("__nt") === chunk.toLong)
    blocks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("__nd")).as("__sd"))
      .select(col("doc_id"), col("n_blocks"),
        expr(s"__sd * 1000000L div (n_blocks * ${chunk}L)")
          .as("sttr_ppm"))
      .orderBy(col("doc_id"))
  }
}
