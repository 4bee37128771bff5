package graft

import graft.llmdata.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** LLM-data operators: planted duplicates must be found, similarity
  * math must match hand-computed values, text heuristics must behave
  * on obvious inputs.
  */
class LlmDataSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy cat again and again"),
    (3L, "completely different content about spark query engines here"),
    (4L, "El perro come la comida y el gato bebe la leche del plato"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical normalized text") {
    val groups = Dedup.exact(docs, "doc_id", "text")
    val dup = groups.where(col("n_docs") === 2)
    assert(dup.count() == 1)
    assert(dup.head().getAs[Long]("canonical_id") == 0L)
  }

  test("minhash LSH finds the planted near-duplicate pair") {
    val pairs = Dedup.minhashDedup(docs, "doc_id", "text",
      shingleN = 2, bands = 8, rows = 2, threshold = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical docs always collide
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)),
      s"near-dup 2 not found in $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical docs at Hamming 0, near-dups close") {
    val fps = docs.select(col("doc_id"),
      Dedup.simhashUdf(col("text")).as("fp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) == fps(1L))
    val hammingNear = java.lang.Long.bitCount(fps(0L) ^ fps(2L))
    val hammingFar = java.lang.Long.bitCount(fps(0L) ^ fps(3L))
    assert(hammingNear < hammingFar)
  }

  test("cross-corpus decontamination: planted train/eval overlap is " +
      "flagged, banded candidates agree with the exact form") {
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val train = Seq(
      (1L, base),
      (2L, "totally different training material about query engines " +
        "and distributed systems running at large scale"))
      .toDF("doc_id", "text")
    val eval_ = Seq(
      (100L, base + " indeed"), // contamination: near-dup of train doc 1
      (101L, "benchmark questions about arithmetic and geography " +
        "that no training document mentions at all"))
      .toDF("doc_id", "text")
    val banded = Dedup.crossContamination(train, eval_, "doc_id",
        "text", shingleN = 3, bands = 8, rows = 4, threshold = 0.5)
      .select("train_id", "eval_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == Set((1L, 100L)), s"got $banded")
    val exact = Dedup.crossJaccardPairs(train, eval_, "doc_id",
        "text", shingleN = 3, threshold = 0.5)
      .select("train_id", "eval_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(exact) && exact == Set((1L, 100L)))
    // containment: a SHORT eval question embedded in a LONG train doc
    // has low Jaccard but containment ~1 — the standard
    // decontamination measure
    val longTrain = Seq((5L, base + " plus a lot of additional " +
      "surrounding context sentences talking about other topics " +
      "entirely and padding the document to a much greater length"))
      .toDF("doc_id", "text")
    val shortEval = Seq((200L, "quick brown fox jumps over the lazy"))
      .toDF("doc_id", "text")
    val byJaccard = Dedup.crossJaccardPairs(longTrain, shortEval,
      "doc_id", "text", shingleN = 3, threshold = 0.8).count()
    val byContainment = Dedup.crossJaccardPairs(longTrain, shortEval,
      "doc_id", "text", shingleN = 3, threshold = 0.8,
      measure = "containment").count()
    assert(byJaccard == 0 && byContainment == 1,
      s"jaccard=$byJaccard containment=$byContainment")
  }

  test("simhash banding recall: chunks = maxHamming+1 misses ZERO " +
      "pairs vs brute-force Hamming (pigeonhole guarantee)") {
    // real corpus slice: every <=h pair found by the banded join must
    // equal the O(n^2) exact-Hamming ground truth
    val docs500 = spark.read
      .parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select(col("doc_id"), col("text"))
    for (h <- Seq(3, 12)) {
      val banded = Dedup.simhashDedup(docs500, "doc_id", "text",
          maxHamming = h)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val fps = Dedup.simhashDf(docs500, "doc_id", "text")
      val a = fps.select(col("doc").as("da"), col("fp").as("fa"))
      val b = fps.select(col("doc").as("db"), col("fp").as("fb"))
      val exact = a.join(b, col("da") < col("db"))
        .where(bit_count(col("fa").bitwiseXOR(col("fb"))) <= h)
        .select("da", "db").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == exact,
        s"h=$h missed ${(exact -- banded).size} of ${exact.size} pairs")
    }
  }

  test("portable simhash: banded pairs equal brute-force Hamming, " +
      "and fingerprints use only the 60 portable bits") {
    val docs = spark.read
      .parquet(s"${TestSpark.sfDir}/documents.parquet")
      .select(col("doc_id"), col("text"))
    val fps = Dedup.simhashPortableDf(docs, "doc_id", "text")
    // no fingerprint sets bits 60..63 (the oracle computes 60 bits)
    assert(fps.where(shiftright(col("fp"), 60) =!= 0L).count() == 0)
    val banded = Dedup.simhashPortableDedup(docs, "doc_id", "text",
        maxHamming = 3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = fps.select(col("doc").as("da"), col("fp").as("fa"))
    val b = fps.select(col("doc").as("db"), col("fp").as("fb"))
    val exact = a.join(b, col("da") < col("db"))
      .where(bit_count(col("fa").bitwiseXOR(col("fb"))) <= 3)
      .select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == exact,
      s"missed ${(exact -- banded).size} of ${exact.size} pairs")
  }

  test("duplicateClusters: min-label propagation finds connected " +
      "components (chain + pair + untouched singleton)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (7L, 5L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 5L -> 5L, 7L -> 5L))
  }

  test("jaccard on shingle sets: identical=1, disjoint=0") {
    val pairs = Dedup.jaccardAllPairs(docs, "doc_id", "text",
      shingleN = 2, threshold = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(pairs((0L, 1L)) - 1.0) < 1e-12)
    assert(pairs((0L, 3L)) == 0.0)
  }

  test("cosine similarity matches hand computation") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val sims = Similarity.cosinePairs(df, "vec_id", "embedding", -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(math.abs(sims((0L, 1L))) < 1e-12)
    assert(math.abs(sims((0L, 2L)) - math.sqrt(0.5)) < 1e-12)
  }

  test("brute-force topK returns nearest first") {
    val df = Seq(
      (1L, Array(1.0f, 0.1f)), (2L, Array(-1.0f, 0.0f)),
      (3L, Array(0.9f, 0.5f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, "vec_id", "embedding",
      Array(1.0f, 0.0f), 2).select("vec_id").collect()
      .map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 3L))
  }

  test("LSH neighbors are a subset of exact pairs at the threshold") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val lsh = Similarity.lshNeighbors(e, "vec_id", "embedding", 64,
      nBits = 4, threshold = 0.3).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.cosinePairs(e, "vec_id", "embedding", 0.3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
  }

  test("IVF with learned centroids + multi-probe: recall@10 >= 0.9 " +
      "vs brute force at probes=4 of 8 cells") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val corpus = e.where(col("vec_id") > 0).cache()
    val queries = e.where(col("vec_id") <= 4)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val index = Similarity.ivfFit(corpus, "vec_id", "embedding",
      nCells = 8, maxIter = 20, assign = 3)
    assert(index.centroids.length == 8)
    val recalls = queries.map { case (qid, q) =>
      val exact = Similarity.bruteForceTopK(
          corpus.where(col("vec_id") =!= qid), "vec_id", "embedding",
          q, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val approx = Similarity.ivfProbe(index, "vec_id", "embedding",
          q, 10, probes = 4)
        .where(col("vec_id") =!= qid)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      exact.intersect(approx).size.toDouble / exact.size
    }
    corpus.unpersist(blocking = false)
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"mean recall@10 = $mean (${recalls.toSeq})")
  }

  test("batched IVF probing: 1000 queries served in ONE job keep " +
      "recall@10 >= 0.9, and a persisted index round-trips") {
    val e = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val corpus = e.select("vec_id", "embedding").cache()
    // 1000 queries = two shifted copies of the 500-vector corpus
    val queries = corpus.select(col("vec_id").as("qid"),
        col("embedding").as("qv"))
      .union(corpus.select(col("vec_id") + 500, col("embedding")))
      .cache()
    assert(queries.count() == 1000)
    val index = Similarity.ivfFit(corpus, "vec_id", "embedding",
      nCells = 8, maxIter = 20, assign = 3)
    val approx = Similarity.ivfProbeBatch(index, "vec_id", "embedding",
        queries, "qid", "qv", k = 10, probes = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).toSet }
    // exact ground truth for the same set, also one job: cross join +
    // ranked window
    val cross = queries.join(corpus)
      .select(col("qid"), col("vec_id"),
        Similarity.cosine(col("qv"), col("embedding")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val exact = cross.withColumn("r", row_number().over(w))
      .where(col("r") <= 10).select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recalls = exact.map { case (q, want) =>
      want.intersect(approx.getOrElse(q, Set.empty)).size / 10.0 }
    val mean = recalls.sum / recalls.size
    assert(recalls.size == 1000)
    assert(mean >= 0.9, s"mean recall@10 over 1000 queries = $mean")
    // persistence: saved + loaded index probes identically
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_ivf").toString
    Similarity.ivfSave(index, tmp)
    val loaded = Similarity.ivfLoad(spark, tmp)
    assert(loaded.centroids.length == index.centroids.length)
    val q0 = corpus.where(col("vec_id") === 7)
      .select("embedding").head().getSeq[Float](0).toArray
    val a = Similarity.ivfProbe(index, "vec_id", "embedding", q0, 10, 4)
      .collect().map(_.getLong(0)).toSeq
    val b = Similarity.ivfProbe(loaded, "vec_id", "embedding", q0, 10, 4)
      .collect().map(_.getLong(0)).toSeq
    assert(a == b, s"loaded index diverged: $a vs $b")
    corpus.unpersist(blocking = false)
    queries.unpersist(blocking = false)
  }

  test("ivfUpsert: A-then-B equals all-at-once; re-upserting an id " +
      "REPLACES its row (latest wins); persisted-then-upserted " +
      "index probes like the never-persisted one") {
    val e = spark.read
      .parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      .where(col("vec_id") > 0)
    def axis(k: Int, sign: Double) =
      Array.tabulate(64)(i => if (i == k) sign else 0.0)
    val cents = Array(axis(0, 1.0), axis(0, -1.0),
      axis(1, 1.0), axis(1, -1.0))
    val empty = e.where(lit(false)).select(col("vec_id"),
      col("embedding"), lit(0).cast("int").as("__cell"))
    def idx0 = Similarity.IvfIndex(cents, empty)
    def cellsOf(ix: Similarity.IvfIndex): Map[Long, Int] =
      ix.assigned.select("vec_id", "__cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // A (two thirds) then B (last third) == one shot
    val ab = Similarity.ivfUpsert(
      Similarity.ivfUpsert(idx0, e.where(col("vec_id") % 3 =!= 0),
        "vec_id", "embedding"),
      e.where(col("vec_id") % 3 === 0), "vec_id", "embedding")
    val oneShot = Similarity.ivfUpsert(idx0, e, "vec_id", "embedding")
    assert(cellsOf(ab) == cellsOf(oneShot))
    // replace semantics: flip vec_id=7's vector so its nearest axis
    // flips cell; exactly one row for the id, carrying the new cell
    import spark.implicits._
    val v7 = e.where(col("vec_id") === 7)
      .select("embedding").head().getSeq[Float](0).toArray
    val flipped = Seq((7L, v7.map(x => -x).toSeq))
      .toDF("vec_id", "embedding")
    val re = Similarity.ivfUpsert(oneShot, flipped, "vec_id",
      "embedding")
    val rows7 = re.assigned.where(col("vec_id") === 7)
      .select("__cell").collect()
    assert(rows7.length == 1)
    val old7 = cellsOf(oneShot)(7L)
    val new7 = rows7.head.getInt(0)
    assert(new7 != old7, s"cell should flip: $old7 -> $new7")
    assert(re.assigned.count() == oneShot.assigned.count())
    // persistence round trip composes with upsert
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_ivf_up").toString
    val a = Similarity.ivfUpsert(idx0,
      e.where(col("vec_id") % 3 =!= 0), "vec_id", "embedding")
    Similarity.ivfSave(a, tmp)
    val viaDisk = Similarity.ivfUpsert(
      Similarity.ivfLoad(spark, tmp),
      e.where(col("vec_id") % 3 === 0), "vec_id", "embedding")
    assert(cellsOf(viaDisk) == cellsOf(oneShot))
    val q0 = v7
    val p1 = Similarity.ivfProbe(viaDisk, "vec_id", "embedding",
      q0, 10, 2).collect().map(_.getLong(0)).toSeq
    val p2 = Similarity.ivfProbe(oneShot, "vec_id", "embedding",
      q0, 10, 2).collect().map(_.getLong(0)).toSeq
    assert(p1 == p2)
    // refusals
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfUpsert(
        Similarity.IvfIndex(Array.empty, empty), e, "vec_id",
        "embedding")
    }
    assert(ex.getMessage.contains("centroids"))
  }

  test("mixByWeights: kept set follows the w*target/n hash-fraction " +
      "rule exactly; missing-weight strata drop") {
    import graft.llmdata.Sampling
    val df = (0L until 400L)
      .map(i => (i, if (i < 200) "a" else "b")).toDF("id", "src")
    val got = Sampling.mixByWeights(df, "id", "src",
        Map("a" -> 1.0), targetRows = 100)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.forall(_._2 == "a"), "stratum b has weight 0 and must drop")
    // fraction = min(1, 1.0 * 100 / 200) = 0.5 -> cut 500000
    def bucket(i: Long): Long =
      ((i * 2654435761L + 42L) % 1000000007L) % 1000000L
    val exp = (0L until 200L).filter(i => bucket(i) < 500000L).toSet
    assert(got.map(_._1).toSet == exp)
  }

  test("weightedSampleNoReplacement: selection equals the " +
      "independently computed top-k ES keys; k >= n keeps all") {
    import graft.llmdata.Sampling
    val rows = (1L to 100L).map(i => (i, (i % 7 + 1).toDouble))
    val df = rows.toDF("id", "w")
    val got = Sampling.weightedSampleNoReplacement(df, "id",
        col("w"), k = 10)
      .select("id").collect().map(_.getLong(0)).toSet
    // independent computation of the same deterministic keys
    def key(i: Long, w: Double): Double = {
      val b = ((i * 2654435761L + 42L) % 1000000007L) % 1000000L
      math.log((b + 1).toDouble / 1000000.0) / w
    }
    val exp = rows.map { case (i, w) => i -> key(i, w) }
      .sortBy { case (i, k2) => (-k2, i) }.take(10).map(_._1).toSet
    assert(got == exp, s"got $got vs $exp")
    assert(Sampling.weightedSampleNoReplacement(df, "id", col("w"),
      k = 500).count() == 100L)
  }

  test("exactStratifiedSample: per-stratum counts are exactly " +
      "ceil(num/den * n)") {
    import graft.llmdata.Sampling
    val df = ((1L to 17L).map(i => (i, "a")) ++
      (100L to 102L).map(i => (i, "b")) ++ Seq((200L, "c")))
      .toDF("id", "s")
    val got = Sampling.exactStratifiedSample(df, "id", col("s"),
        num = 3L, den = 10L)
      .groupBy("s").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // ceil(0.3*17)=6, ceil(0.3*3)=1, ceil(0.3*1)=1
    assert(got == Map("a" -> 6L, "b" -> 1L, "c" -> 1L), s"got $got")
  }

  test("negativeSamples: never emits the anchor or its positive; " +
      "slots are deterministic across runs") {
    import graft.llmdata.Sampling
    val n = 37L
    val df = (0L until n).map(i => (i, (i + 1) % n))
      .toDF("id", "pos")
    val a = Sampling.negativeSamples(df, "id", col("pos"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getLong(3)))
    assert(a.forall { case (an, p, _, neg) => neg != an && neg != p },
      "collision leaked")
    assert(a.forall { case (_, _, _, neg) => neg >= 0 && neg < n })
    val b = Sampling.negativeSamples(df, "id", col("pos"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getInt(2), r.getLong(3)))
    assert(a.sorted.sameElements(b.sorted))
  }

  test("negativeSamples: anchors past the long product's range hash " +
      "exactly (BigInt reference)") {
    import graft.llmdata.Sampling
    val ids = Seq(1L, 4000000000L, 4000000000000000000L)
    val n = BigInt(ids.max) + 1
    val df = ids.map(i => (i, ((BigInt(i) + 1) % n).toLong))
      .toDF("id", "pos")
    val got = Sampling.negativeSamples(df, "id", col("pos"), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3)))
      .sorted.toSeq
    val want = (for {
      (a, p) <- ids.map(i => (i, ((BigInt(i) + 1) % n).toLong))
      s <- 1 to 3
      neg = ((BigInt(a) * 2654435761L + 97 + s * 1000003L) % n).toLong
      if neg != a && neg != p
    } yield (a, s, neg)).sorted
    assert(got == want)
  }

  test("ipfWeights: DataFrame half-steps equal an independent " +
      "sequential integer fold; margins approach both targets") {
    import graft.llmdata.Sampling
    val rows = Seq((1L, "x", 1L), (2L, "x", 2L), (3L, "y", 1L),
      (4L, "y", 2L), (5L, "x", 1L))
    val df = rows.toDF("id", "a", "b")
    val ta = Seq(("x", 10L), ("y", 20L)).toDF("a", "t")
    val tb = Seq((1L, 18L), (2L, 12L)).toDF("b", "t")
    val got = Sampling.ipfWeights(df, "a", "b", ta, tb, rounds = 3)
      .select(col("id"), col("w_ppm"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent sequential fold of the same integer recurrence
    val aOf = rows.map(r => r._1 -> r._2).toMap
    val bOf = rows.map(r => r._1 -> r._3).toMap
    val taM = Map("x" -> 10L, "y" -> 20L)
    val tbM = Map(1L -> 18L, 2L -> 12L)
    var w = rows.map(r => r._1 -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val sa = rows.groupBy(_._2).map { case (k, v) =>
        k -> v.map(r => w(r._1)).sum }
      w = w.map { case (id, wi) =>
        id -> wi * taM(aOf(id)) * 1000000L / sa(aOf(id)) }
      val sb = rows.groupBy(_._3).map { case (k, v) =>
        k -> v.map(r => w(r._1)).sum }
      w = w.map { case (id, wi) =>
        id -> wi * tbM(bOf(id)) * 1000000L / sb(bOf(id)) }
    }
    assert(got == w, s"got $got vs $w")
    // the last-fitted margin (dim B) is exact up to floor loss
    val mb = rows.groupBy(_._3).map { case (k, v) =>
      k -> v.map(r => got(r._1)).sum }
    assert(mb.forall { case (k, s) =>
      math.abs(s - tbM(k) * 1000000L) <= rows.size * 1L + 2 },
      s"margins $mb")
  }

  test("hash sampling is deterministic, fraction-accurate, and " +
      "split-complete") {
    import graft.llmdata.Sampling
    val df = (1L to 10000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "cls")
    // deterministic: identical runs, identical membership
    val s1 = Sampling.hashSample(df, "id", 0.3).select("id")
      .collect().map(_.getLong(0)).toSet
    val s2 = Sampling.hashSample(df, "id", 0.3).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2)
    assert(math.abs(s1.size / 10000.0 - 0.3) < 0.02, s"${s1.size}")
    // different seed -> different sample
    val s3 = Sampling.hashSample(df, "id", 0.3, seed = 99).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(s1 != s3)
    // NESTED rungs (the q203 scaling-law ladder): smaller fractions
    // are strict subsets of larger ones, by construction
    val r1 = Sampling.hashSample(df, "id", 0.1).select("id")
      .collect().map(_.getLong(0)).toSet
    val r2 = Sampling.hashSample(df, "id", 0.2).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(r1.nonEmpty && r2.size > r1.size)
    assert(r1.subsetOf(r2), "0.1 rung must nest inside 0.2")
    assert(r2.subsetOf(s1), "0.2 rung must nest inside 0.3")
    // stratified: unlisted strata dropped, listed ones ~fraction
    val strat = Sampling.stratifiedSample(df, "id", col("cls"),
      Map("a" -> 0.5)).collect()
    assert(strat.forall(_.getString(1) == "a"))
    assert(math.abs(strat.length / 5000.0 - 0.5) < 0.04)
    // split: every row labeled exactly once, weights respected
    val split = Sampling.assignSplit(df, "id",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
    assert(split.count() == 10000)
    val byS = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byS.keySet == Set("train", "valid", "test"))
    assert(math.abs(byS("train") / 10000.0 - 0.8) < 0.02, byS.toString)
    // mix: tagged union at per-source rates
    val mixed = Sampling.mixByRatio(Seq(
      ("web", df, 0.2), ("books", df, 0.6)), "id")
    val tags = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tags.keySet == Set("web", "books"))
    assert(tags("books") > tags("web"))
    // weighted: per-row keep probability — class a at 0.9, b at 0.1;
    // rates follow the weights, membership deterministic, weights
    // outside [0,1] clamp instead of misbehaving
    val wdf = df.withColumn("w",
      when(col("cls") === "a", 0.9).otherwise(0.1))
    val ws = Sampling.weightedSample(wdf, "id", col("w"))
    val byCls = ws.groupBy("cls").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(byCls("a") / 5000.0 - 0.9) < 0.03, byCls.toString)
    assert(math.abs(byCls("b") / 5000.0 - 0.1) < 0.03, byCls.toString)
    val wsAgain = Sampling.weightedSample(wdf, "id", col("w"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(wsAgain == ws.select("id").collect().map(_.getLong(0)).toSet)
    assert(Sampling.weightedSample(wdf, "id", lit(2.0)).count() == 10000)
    assert(Sampling.weightedSample(wdf, "id", lit(-1.0)).count() == 0)
    // group-keyed split: every group lands in exactly one split
    // (leakage-safe), and weights hold approximately across groups
    val gdf = (1L to 5000L).map(i => (i, s"site${i % 97}"))
      .toDF("id", "site")
    val gs = Sampling.assignSplitBy(gdf, col("site"),
      Seq("train" -> 0.8, "test" -> 0.2))
    val perGroup = gs.groupBy("site")
      .agg(countDistinct(col("split")).as("k")).collect()
    assert(perGroup.forall(_.getLong(1) == 1L),
      "a group straddles the split boundary")
    val frac = gs.where(col("split") === "train").count() / 5000.0
    assert(math.abs(frac - 0.8) < 0.12, s"train fraction $frac")
  }

  test("sequence packing: packs start on the capacity grid, overflow " +
      "bounded by one doc, nothing lost") {
    import graft.llmdata.Packing
    val df = (1L to 100L).map(i => (i, s"doc $i", 10 + (i % 7) * 5))
      .toDF("id", "text", "tok")
    val packed = Packing.packBySequence(df, "id", col("tok"),
      capacity = 100).cache()
    assert(packed.count() == 100) // nothing lost or duplicated
    val rows = packed.select("id", "n_tokens", "pack_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // pack ids are nondecreasing in doc order and start at 0
    assert(rows.head._3 == 0L)
    assert(rows.sliding(2).forall(p => p(0)._3 <= p(1)._3))
    // every pack's token total stays under capacity + one doc
    val maxTok = rows.map(_._2).max
    val perPack = rows.groupBy(_._3).view.mapValues(_.map(_._2).sum)
    perPack.foreach { case (p, tot) =>
      assert(tot < 100 + maxTok, s"pack $p total $tot")
    }
    // matches a local sequential prefix computation exactly
    var cum = 0L
    rows.foreach { case (_, tok, pack) =>
      assert(pack == cum / 100, s"cum=$cum tok=$tok pack=$pack")
      cum += tok
    }
    packed.unpersist(blocking = false)
  }

  test("language ID votes stopwords (en vs es)") {
    val out = docs.select(col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "en")
    assert(out(4L) == "es")
  }

  test("tfidf: corpus-unique term outranks common terms; k and " +
      "tiebreak are respected") {
    import spark.implicits._
    val df = Seq(
      (1L, "common zebra zebra"),
      (2L, "common filler filler"),
      (3L, "common filler text")).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTopK(df, "doc_id", "text", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // zebra: tf=2, df=1 -> 2*(ln(4/2)+1) ~ 3.39; common: tf=1, df=3
    // -> 1*(ln(4/4)+1) = 1. The rare term wins doc 1.
    assert(top(1L) == "zebra")
    val k2 = TextAnalysis.tfidfTopK(df, "doc_id", "text", k = 2)
      .where(col("doc_id") === 1L).collect()
    assert(k2.length == 2)
  }

  test("tfidf top-2 rows match a hand computation; equal scores " +
      "break on term") {
    import spark.implicits._
    val df = Seq((1L, "common zebra zebra"), (2L, "common filler"),
      (3L, "common filler text here")).toDF("doc_id", "text")
    val rows = TextAnalysis.tfidfTopK(df, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    // N = 3; idf = ln((N+1)/(df+1)) + 1: common (df 3) -> 1, filler
    // (df 2) -> ln(4/3)+1, zebra/text/here (df 1) -> ln 2 + 1. Doc 3
    // ties text and here at tf 1; the term order keeps here, text.
    val (one, rare) = (1.0, math.log(2.0) + 1.0)
    val filler = math.log(4.0 / 3.0) + 1.0
    val want = Set((1L, "zebra", 2 * rare), (1L, "common", one),
        (2L, "filler", filler), (2L, "common", one),
        (3L, "here", rare), (3L, "text", rare))
      .map { case (d, t, v) => (d, t, math.round(v * 1e9)) }
    assert(rows == want)
  }

  test("repeatedSubstringSpans / chunkByContent: rows match a hand " +
      "and a brute-force reference") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "z z a b c d e f g h i j q r s t"),
      (3L, "unrelated words only in this one document right here now"))
      .toDF("doc_id", "text")
    val spans = Dedup.repeatedSubstringSpans(df, "doc_id", "text", l = 4,
        minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val chunks = Dedup.chunkByContent(df, "doc_id", "text", modulus = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[String]("chunk_md5"), r.getLong(5))).toSet
    Caches.release()
    // "a b c d e f g h i j" is shared: token 0..9 of doc 1, 2..11 of
    // doc 2 (start, inclusive end)
    assert(spans == Set((1L, 0, 9), (2L, 2, 11)))
    // brute force: a token whose portable hash is 0 mod 4 ends its
    // chunk; n_docs counts the documents carrying an identical chunk
    def hash(t: String) =
      t.foldLeft(0L)((a, ch) => (a * 31 + ch) % 1000000007L)
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val perDoc = df.collect().toSeq.map { r =>
      val toks = r.getString(1).split(" ").filter(_.nonEmpty).toSeq
      val ids = toks.scanLeft(0L)((c, t) =>
        c + (if (hash(t) % 4 == 0) 1 else 0))
      r.getLong(0) -> toks.zip(ids).groupBy(_._2).toSeq.map {
        case (c, ts) => c -> md5(ts.map(_._1).mkString(" ")) }
    }
    val nDocs = perDoc.flatMap { case (d, cs) => cs.map(_._2 -> d) }
      .distinct.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val want = perDoc.flatMap { case (d, cs) =>
      cs.map { case (c, m) => (d, c, m, nDocs(m)) } }.toSet
    assert(chunks == want && chunks.nonEmpty)
  }

  test("hammingPairs maxPerBucket: oversized buckets drop from " +
      "candidate generation; pairs sharing an under-cap chunk survive") {
    import spark.implicits._
    // fps 0..9 differ only in low bits -> all share the three high
    // 16-bit chunks (three oversized buckets); the pair (100, 101)
    // shares a UNIQUE high-chunk value so its bucket stays under cap
    val fps = ((0L until 10L).map(i => (i, i)) ++
      Seq((100L, 0x7a7a000000000000L), (101L, 0x7a7a000000000001L)))
      .toDF("doc", "fp")
    val uncapped = Dedup.hammingPairs(fps, maxHamming = 4)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.hammingPairs(fps, maxHamming = 4, maxPerBucket = 4)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((0L, 1L)) && uncapped.contains((100L, 101L)))
    // the clustered block's pairs vanish (every shared bucket oversized)
    assert(!capped.exists { case (a, b) => a < 10L && b < 10L })
    // the selective pair survives through its under-cap bucket
    assert(capped.contains((100L, 101L)))
  }

  test("a repeated doc id never pairs with itself: hammingPairs and " +
      "setSimJoin order pairs by id alone") {
    import spark.implicits._
    // doc 5 carries two fingerprints one bit apart; ordering members
    // by (doc, fp) would pair them
    val fps = Seq((5L, 0x0f0fL), (5L, 0x0f0eL), (6L, 0x0f0fL))
      .toDF("doc", "fp")
    val ham = Dedup.hammingPairs(fps, maxHamming = 3)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ham == Set((5L, 6L)), s"hammingPairs: $ham")
    val docs = Seq((1L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val sim = Dedup.setSimJoin(docs, "doc_id", "text", 1L, 2L)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.Caches.release()
    assert(sim == Set((1L, 2L)), s"setSimJoin: $sim")
  }

  test("dsirLogWeights: target-like docs outscore off-target docs; " +
      "short docs dropped") {
    import spark.implicits._
    val source = Seq(
      (1L, "alpha beta alpha beta alpha beta"),
      (2L, "gamma delta gamma delta gamma delta"),
      (3L, "alpha beta gamma delta"),
      (4L, "solo")).toDF("doc_id", "text")
    val target = Seq((100L, "alpha beta alpha beta alpha"))
      .toDF("doc_id", "text")
    val w = Sampling.dsirLogWeights(source, target, "doc_id", "text",
        nBuckets = 256)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    Caches.release()
    assert(!w.contains(4L)) // < 2 tokens: no bigram features
    // doc 1 is all target bigrams, doc 2 shares none with the target,
    // doc 3 mixes: strict ordering by target affinity
    // (absolute sign isn't pinned: at toy corpus sizes the smoothing
    // mass 0.5*nBuckets dominates both models and shifts all scores)
    assert(w(1L) > w(3L) && w(3L) > w(2L), s"unexpected ordering: $w")
  }

  test("doremiWeights: the integer weight trajectory replays exactly " +
      "from the reported excess table; eta=0 stays uniform; weight " +
      "order follows excess order") {
    import spark.implicits._
    val corpus = Seq(
      ("pred", 1L, "a b a b a b a b a b a b a b a b"),
      ("pred", 2L, "a b a b a b a b a b"),
      ("mix", 3L, "a b c d e f g h a b"),
      ("mix", 4L, "c a e b g d h f c a"),
      ("rare", 5L, "x y z w v u t s r q"),
      ("rare", 6L, "q r s t u v w x y z")).toDF("domain", "doc_id", "text")
    val res = Sampling.doremiWeights(corpus, "domain", "text",
        etaNum = 10L, steps = 10).orderBy(col("domain")).collect()
    Caches.release()
    val ex = res.map(_.getAs[Long]("excess4"))
    // replay the scaled-integer multiplicative-weights trajectory from
    // the reported excess values — w_final/w_avg/weight must be the
    // same integers (the oracle's unrolled-CTE contract)
    val k = ex.length
    val w = Array.fill(k)(1000000L / k)
    val acc = Array.fill(k)(0L)
    for (_ <- 1 to 10) {
      val raw = Array.tabulate(k)(i => w(i) * (1000000L + 10L * ex(i)) / 1000000L)
      val s = raw.sum
      for (i <- 0 until k) { w(i) = raw(i) * 1000000L / s; acc(i) += w(i) }
    }
    res.indices.foreach { i =>
      assert(res(i).getAs[Long]("w_final") == w(i))
      assert(res(i).getAs[Long]("w_avg") == acc(i) / 10)
      assert(res(i).getAs[Double]("weight") == (acc(i) / 10).toDouble / 1e6)
    }
    // monotone: more excess loss -> at least as much final weight
    val byExcess = res.sortBy(_.getAs[Long]("excess4"))
    byExcess.sliding(2).foreach { p =>
      assert(p(0).getAs[Long]("w_final") <= p(1).getAs[Long]("w_final"))
    }
    // eta = 0: no domain ever moves off the uniform start
    val flat = Sampling.doremiWeights(corpus, "domain", "text",
        etaNum = 0L, steps = 10).collect()
    Caches.release()
    flat.foreach { r =>
      assert(r.getAs[Long]("w_final") == 1000000L / k)
      assert(r.getAs[Long]("w_avg") == 1000000L / k)
    }
  }

  test("dsirFitWithin/dsirLogWeightsWithin: one-scan conditional " +
      "census equals the two-frame forms on a predicate-subset " +
      "target, exactly") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "en", "alpha beta alpha beta alpha beta"),
      (2L, "de", "gamma delta gamma delta gamma delta"),
      (3L, "en", "alpha beta gamma delta"),
      (4L, "fr", "epsilon zeta epsilon zeta"),
      (5L, "en", "solo")).toDF("doc_id", "lang", "text")
    val pred = col("lang") === "en"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2))).toSet
    // weights: Within vs two-frame — identical integer sums
    val within = rows(Sampling.dsirLogWeightsWithin(corpus, pred,
      "doc_id", "text", nBuckets = 256))
    Caches.release()
    val twoFrame = rows(Sampling.dsirLogWeights(corpus,
      corpus.where(pred), "doc_id", "text", nBuckets = 256))
    Caches.release()
    assert(within == twoFrame)
    // fit: Within vs two-frame — identical lambda tables + constants
    val mW = Sampling.dsirFitWithin(corpus, pred, "text", nBuckets = 256)
    val m2 = Sampling.dsirFit(corpus, corpus.where(pred), "text",
      nBuckets = 256)
    try {
      def lam(m: Sampling.DsirModel) = m.lambda.collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      // two-frame full-outer can only add target-only buckets, which
      // a subset target cannot produce
      assert(lam(mW) == lam(m2))
      assert(mW.unseenLam4 == m2.unseenLam4)
    } finally { mW.unpersist(); m2.unpersist() }
  }

  test("dsirFit/dsirScore: pre-fitted scoring equals the inline " +
      "computation; unseen buckets take the constant log-ratio; " +
      "a STREAM scores identically to batch") {
    import spark.implicits._
    val source = Seq(
      (1L, "alpha beta alpha beta alpha beta"),
      (2L, "gamma delta gamma delta gamma delta"),
      (3L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val target = Seq((100L, "alpha beta alpha beta alpha"))
      .toDF("doc_id", "text")
    val m = Sampling.dsirFit(source, target, "text", nBuckets = 256)
    try {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2))).toSet
      // exact equality: both paths sum identical integer lam4 values
      assert(rows(Sampling.dsirScore(source, m, "doc_id", "text")) ==
        rows(Sampling.dsirLogWeights(source, target, "doc_id", "text",
          nBuckets = 256)))
      Caches.release()
      // an all-novel doc: every bucket unseen -> n * unseenLam4 / 1e4
      val novel = Seq((9L, "qqq www zzz")).toDF("doc_id", "text")
      val ns = Sampling.dsirScore(novel, m, "doc_id", "text").head()
      assert(ns.getLong(1) == 2)
      assert(math.abs(ns.getDouble(2) - 2 * m.unseenLam4 / 1e4) < 1e-12)
      // stream-static: the same docs through micro-batches score
      // identically to the batch path
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext =
        spark.sqlContext
      val in = MemoryStream[(Long, String)]
      val q = Sampling.dsirScore(in.toDF().toDF("doc_id", "text"),
          m, "doc_id", "text")
        .writeStream.outputMode("complete").format("memory")
        .queryName("t_dsir_stream").start()
      in.addData((1L, "alpha beta alpha beta alpha beta"))
      q.processAllAvailable()
      in.addData((2L, "gamma delta gamma delta gamma delta"),
        (3L, "alpha beta gamma delta"))
      q.processAllAvailable(); q.stop()
      val streamed = rows(spark.sql(
        "SELECT doc_id, n_bigrams, dsir_logw FROM t_dsir_stream"))
      assert(streamed ==
        rows(Sampling.dsirScore(source, m, "doc_id", "text")))
    } finally m.unpersist()
  }

  test("Caches.scoped: releasing one query's handle leaves another " +
      "scope's pin cached") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    def pinnedCount = spark.sparkContext.getPersistentRDDs.size
    val base = pinnedCount
    val (qa, ha) = Caches.scoped(
      Dedup.repeatedSubstringSpans(df, "doc_id", "text", l = 2))
    val (qb, hb) = Caches.scoped(
      Dedup.spanDedup(df, "doc_id", "text", spanTokens = 2))
    qa.count(); qb.count()
    assert(pinnedCount == base + 2)
    ha.release() // only query A's block drops
    assert(pinnedCount == base + 1)
    hb.release()
    assert(pinnedCount == base)
    // global release after a handle release: no double-unpersist blowup
    Caches.release()
  }

  test("ngram counts: contiguous bigrams with exact counts, short " +
      "docs dropped") {
    import spark.implicits._
    val df = Seq("a b a b c", "a b", "solo").toDF("text")
    val counts = TextAnalysis.ngramCounts(df, "text", n = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("a b") == 3L) // twice in doc 1, once in doc 2
    assert(counts("b a") == 1L)
    assert(counts("b c") == 1L)
    assert(!counts.contains("solo")) // 1-token doc has no bigrams
    assert(counts.values.sum == 5L)  // 4 positions + 1 position
  }

  test("token counts: whitespace vs BPE-ish subwords") {
    val df = Seq("four words right here").toDF("text")
    val ws = df.select(TextAnalysis.tokenCountWs(col("text")))
      .head().getLong(0)
    assert(ws == 4L)
    val bpe = df.select(TextAnalysis.tokenCountBpe(col("text")))
      .head().getLong(0)
    assert(bpe >= ws) // subword splitting never reduces the count
  }

  test("quality score is bounded and penalizes junk") {
    val df = Seq(
      (0L, "the cat sat on the mat and it was a good day for all of us"),
      (1L, "@@@@ ###### !!!! ????")).toDF("doc_id", "text")
    val q = TextAnalysis.qualityScore(df, "text")
      .select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(0L) > 0.8 && q(0L) <= 1.0)
    assert(q(1L) < 0.3)
  }

  test("gopher quality filter: each rule fires by name, clean text " +
      "keeps") {
    val clean = (("the quick brown fox jumps over that lazy dog and " +
      "it came to pass that all of them were happy with it ") * 3).trim
    val df = Seq(
      (0L, clean),                                   // passes all rules
      (1L, "too short to have fifty words"),         // word_count
      (2L, Seq.fill(60)("a").mkString(" ")),         // mean_word_len (1.0)
      (3L, clean + " " + Seq.fill(12)("#").mkString(" ")), // symbol_ratio
      (4L, Seq.fill(10)("- " + clean.take(40)).mkString("\n")), // bullets
      (5L, Seq.fill(10)(clean.take(40) + "...").mkString("\n")), // ellipsis
      (6L, clean + " " + Seq.fill(40)("123").mkString(" ")), // alpha_words
      (7L, Seq.fill(60)("zebra").mkString(" ")))     // stopwords (also rep)
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherQualityFilter(df, "text",
      minWords = 50)
      .select("doc_id", "kept", "reasons").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(out(0L) == ((1, "")))
    assert(out(1L)._2.contains("word_count"))
    assert(out(2L)._2.contains("mean_word_len"))
    assert(out(3L)._2.contains("symbol_ratio"))
    assert(out(4L)._2.contains("bullet_lines"))
    assert(out(5L)._2.contains("ellipsis_lines"))
    assert(out(6L)._2.contains("alpha_words"))
    assert(out(7L)._2.contains("stopwords"))
    // reasons list every failed rule in fixed order
    assert(out(2L)._2 == "mean_word_len,stopwords" ||
      out(2L)._2 == "mean_word_len")
  }

  test("rolling hash is order-sensitive where md5-normalized is not") {
    val df = Seq(
      (0L, "alpha beta gamma"), (1L, "gamma beta alpha")).toDF("id", "t")
    val rh = df.select(col("id"),
      TextAnalysis.rollingHash(col("t")).as("h")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rh(0L) != rh(1L))
  }

  test("redact scrubs emails, URLs, and number runs") {
    val df = Seq(
      "mail me at bob.smith+x@example.co.uk today",
      "see https://example.com/a?b=1 for details",
      "call 555 123-4567 x89 now",
      "clean text stays clean").toDF("text")
    val got = df.select(TextAnalysis.redact(col("text"))).collect()
      .map(_.getString(0)).toSeq
    assert(got(0) == "mail me at <EMAIL> today")
    assert(got(1) == "see <URL> for details")
    assert(got(2) == "call <NUMBER> x89 now") // short runs (x89) stay
    assert(got(3) == "clean text stays clean")
  }

  test("repetition ratio: repeated trigrams score high, unique text " +
      "scores 0") {
    val df = Seq(
      (0L, "one two three one two three one two three one two three"),
      (1L, "every single word here is used exactly once in total"))
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      TextAnalysis.repetitionRatio(col("text"), 3).as("r")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(0L) > 0.6, s"repetitive doc scored ${got(0L)}")
    assert(got(1L) == 0.0)
  }

  test("batched per-partition decode: one codec per partition, " +
      "observable batch shape, resize clamped to source dims") {
    val base = Multimodal.pipeline(docs, "text").repartition(2)
    Multimodal.StubCodec.inits.set(0)
    val out = Multimodal.decodeBatched(base, featureDim = 4,
      batchSize = 2, resizeTo = (224, 224)).cache()
    val rows = out.collect()
    assert(rows.length == 5)
    // one codec init per non-empty partition, NOT per row/batch
    val inits = Multimodal.StubCodec.inits.get()
    assert(inits >= 1 && inits <= 2, s"codec inits = $inits")
    // batch shape: batchSize=2 over a partition of >=3 rows must use
    // more than one batch index
    val batches = out.select("decode_batch").collect()
      .map(_.getInt(0)).toSet
    assert(batches.contains(0))
    // features deterministic per payload and of the requested dim
    rows.foreach { r =>
      val f = r.getSeq[Double](r.fieldIndex("features"))
      assert(f.length == 4 && f.forall(v => v >= 0.0 && v <= 1.0))
      assert(r.getAs[Int]("resized_width") <=
        r.getAs[org.apache.spark.sql.Row](r.fieldIndex("media_meta"))
          .getAs[Int]("width"))
      assert(r.getAs[Int]("resized_width") <= 224)
    }
    // identical payloads decode identically (doc 0 and 1 share text)
    val byId = rows.map(r => r.getAs[Long]("doc_id") ->
      r.getSeq[Double](r.fieldIndex("features"))).toMap
    assert(byId(0L) == byId(1L))
    out.unpersist(blocking = false)
  }

  test("real javax.imageio codec: planted PNG round-trips exact " +
      "dimensions and mean gray; non-image payloads fall back to stub") {
    // direct codec round trip
    val codec = new Multimodal.ImageCodec
    val bytes = Multimodal.ImageCodec.pngBytes(20, 31, 137)
    assert(codec.readMeta(bytes).contains(("png", 20, 31)))
    val feats = codec.decodeFeatures(bytes, 4).get
    assert(feats.length == 4)
    feats.foreach(f => assert(math.abs(f * 255.0 - 137.0) < 1e-9))
    // through the batched per-partition decode: real meta columns for
    // images, stub fallback (null decoded_*) for text payloads
    val planted = Multimodal.plantPng(docs.select("doc_id"), "doc_id")
    val out = Multimodal.decodeBatched(
      Multimodal.withMediaMeta(planted, "payload"), featureDim = 4)
    out.collect().foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[String]("decoded_format") == "png")
      assert(r.getAs[Int]("decoded_width") == 16 + (id % 32).toInt)
      assert(r.getAs[Int]("decoded_height") == 16 + (7 * id % 29).toInt)
      val f0 = r.getSeq[Double](r.fieldIndex("features")).head
      assert(math.abs(f0 * 255.0 - (id % 256).toDouble) < 1e-9)
      // resize clamps to the REAL source dims (all < 224)
      assert(r.getAs[Int]("resized_width") == 16 + (id % 32).toInt)
    }
    val textPayload = Multimodal.pipeline(docs, "text")
    val stubbed = Multimodal.decodeBatched(
      textPayload.withColumnRenamed("features", "f2")).head()
    assert(stubbed.getAs[String]("decoded_format") == null)
  }

  test("multimodal stub pipeline: payload bytes, metadata, features, " +
      "frame plan all materialize") {
    val out = Multimodal.pipeline(docs, "text")
    val row = out.where(col("doc_id") === 0).head()
    assert(row.getAs[Long]("payload_bytes") > 0)
    val meta = row.getAs[org.apache.spark.sql.Row]("media_meta")
    assert(meta.getAs[Int]("width") >= 1)
    assert(row.getSeq[Double](row.fieldIndex("features")).length == 8)
    assert(row.getSeq[Int](row.fieldIndex("frame_plan")).nonEmpty)
  }

  test("lmPerplexity: add-k bigram LM matches a hand computation; " +
      "short docs dropped") {
    import spark.implicits._
    // corpus: bc(a,b)=3, bc(b,a)=1, bc(c,c)=1; hc(a)=3, hc(b)=1,
    // hc(c)=1; |V|=3; k=0.5
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "c c"),
      (4L, "solo")).toDF("doc_id", "text")
    val out = TextAnalysis.lmPerplexity(docs, "doc_id", "text", addK = 0.5)
      .orderBy("doc_id").collect()
    Caches.release()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L)) // doc 4: 1 token
    val pAB = 3.5 / 4.5; val pBA = 1.5 / 2.5; val pCC = 1.5 / 2.5
    val exp1 = math.exp(-(2 * math.log(pAB) + math.log(pBA)) / 3)
    val exp2 = math.exp(-math.log(pAB))
    val exp3 = math.exp(-math.log(pCC))
    val got = out.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(got(1L) - exp1) < 1e-9)
    assert(math.abs(got(2L) - exp2) < 1e-9)
    assert(math.abs(got(3L) - exp3) < 1e-9)
    assert(out.find(_.getLong(0) == 1L).get.getLong(1) == 3L) // n_bigrams
  }

  test("chunkDocuments reconstruction property: dropping each " +
      "chunk's overlap prefix re-tiles the original token stream") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val docs = (1L to 40L).map { id =>
      val n = 1 + rnd.nextInt(200)
      id -> Seq.fill(n)(s"w${rnd.nextInt(50)}").mkString(" ")
    }.toDF("doc_id", "text")
    val (maxT, ov) = (16, 5)
    val chunks = llmdata.Packing
      .chunkDocuments(docs, "doc_id", "text", maxT, ov)
      .orderBy("doc_id", "chunk_idx").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(1))).toMap
    docs.collect().foreach { r =>
      val (id, toks) = (r.getLong(0), r.getString(1).split(" ").toSeq)
      val cs = chunks(id)
      // first chunk whole, later chunks minus the `ov`-token overlap
      // they share with their predecessor, concatenated == original
      val rebuilt = cs.head.getString(3).split(" ").toSeq ++
        cs.tail.flatMap(_.getString(3).split(" ").drop(ov).toSeq)
      assert(rebuilt == toks, s"doc $id re-tiling mismatch")
      // every chunk except the last is exactly maxT tokens
      cs.dropRight(1).foreach(c => assert(c.getLong(2) == maxT))
      assert(cs.last.getLong(2) <= maxT && cs.last.getLong(2) >= 1)
    }
  }

  test("lmFit/lmScore: pre-fitted scoring matches self-fit; novel " +
      "text smooths to perplexity = |V|; scores a real stream at " +
      "ingest (stream-static join)") {
    import spark.implicits._
    val corpus = Seq((1L, "a b a b c"), (2L, "b c b"), (3L, "a c a"))
      .toDF("doc_id", "text")
    val m = TextAnalysis.lmFit(corpus, "text", addK = 0.5)
    try {
      // self-fit: every corpus bigram is in the model, so the
      // pre-fitted score equals the one-shot oracle-checked form
      val self = TextAnalysis.lmScore(corpus, m, "doc_id", "text")
        .orderBy("doc_id").collect().map(_.getDouble(2))
      val oneShot = TextAnalysis.lmPerplexity(corpus, "doc_id", "text")
        .orderBy("doc_id").collect().map(_.getDouble(2))
      Caches.release()
      self.zip(oneShot).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9) }

      // entirely novel words: every bigram takes k/(0 + k|V|) = 1/|V|
      val novel = Seq((9L, "zz qq zz")).toDF("doc_id", "text")
      val ppl = TextAnalysis.lmScore(novel, m, "doc_id", "text")
        .head().getDouble(2)
      assert(math.abs(ppl - m.vocabSize.toDouble) < 1e-9,
        s"novel-doc perplexity $ppl != |V| ${m.vocabSize}")

      // the same scoring plan runs on a STREAM (stream-static joins +
      // a complete-mode aggregate): perplexity-at-ingest
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[(Long, String)]
      in.addData((1L, "a b a b c"), (9L, "zz qq zz"))
      val q = TextAnalysis.lmScore(
          in.toDF().toDF("doc_id", "text"), m, "doc_id", "text")
        .writeStream.outputMode("complete").format("memory")
        .queryName("t_lm_ingest").start()
      q.processAllAvailable(); q.stop()
      val streamed = spark.table("t_lm_ingest")
        .orderBy("doc_id").collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(math.abs(streamed(1L) - oneShot(0)) < 1e-9)
      assert(math.abs(streamed(9L) - m.vocabSize.toDouble) < 1e-9)
    } finally m.unpersist()
  }

  test("spanDedup/lineDedup: corpus-duplicated units are scrubbed " +
      "keeping exactly the globally-first occurrence (C4-style)") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b c d x1 y1 z1 w1"), // span "a b c d" first here
      (2L, "a b c d x2 y2 z2 w2"), // dup span -> scrubbed
      (3L, "p q r s t u v w"))     // unique -> untouched
      .toDF("doc_id", "text")
    val got = Dedup.spanDedup(corpus, "doc_id", "text",
        spanTokens = 4, minDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got(0) == ((1L, 2L, 0L, "a b c d x1 y1 z1 w1")))
    assert(got(1) == ((2L, 2L, 1L, "x2 y2 z2 w2")))
    assert(got(2) == ((3L, 2L, 0L, "p q r s t u v w")))
    // line-level variant: duplicated LINE goes, unique lines stay
    val lined = Seq(
      (1L, "keep me\nall rights reserved"),
      (2L, "all rights reserved\nanother line"))
      .toDF("doc_id", "text")
    val lg = Dedup.lineDedup(lined, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(3)))
    assert(lg(0) == ((1L, "keep me\nall rights reserved")))
    assert(lg(1) == ((2L, "another line")))
  }

  test("repeatedSubstringSpans: sliding windows merge into MAXIMAL " +
      "spans at any offset (exact-substring dedup, grid-free)") {
    import spark.implicits._
    // docs 1/2 share a 6-token passage at DIFFERENT offsets (a grid
    // span would miss it); doc 3 is unrelated; the shared passage in
    // doc 2 is interior, so the span must not bleed into neighbors
    val corpus = Seq(
      (1L, "the shared run of six tokens here u1 v1 w1"),
      (2L, "x2 y2 the shared run of six tokens here z2"),
      (3L, "nothing in common with anything else at all"))
      .toDF("doc_id", "text")
    val got = Dedup.repeatedSubstringSpans(corpus, "doc_id", "text",
        l = 4, minDocs = 2)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // shared passage = "the shared run of six tokens here" (7 tokens):
    // windows of 4 at doc-1 offsets 0..3 -> one maximal span [0, 6];
    // doc-2 offsets 2..5 -> [2, 8]
    assert(got.toSeq == Seq((1L, 0, 6, 7), (2L, 2, 8, 7)))
    // below-threshold repeats (< l tokens) produce nothing
    val none = Dedup.repeatedSubstringSpans(corpus, "doc_id", "text",
        l = 8, minDocs = 2).count()
    assert(none == 0L)
  }

  test("chunkByContent: boundaries are content-defined — a prefix " +
      "edit re-cuts only the edited neighborhood, and identical " +
      "chunks census across docs") {
    import spark.implicits._
    val words = (1 to 400).map(i => s"w${i * 7919 % 1000}")
    val original = words.mkString(" ")
    val edited = "inserted " + original // shifts every position by 1
    val corpus = Seq((1L, original), (2L, edited)).toDF("doc_id", "text")
    val chunks = Dedup.chunkByContent(corpus, "doc_id", "text",
      modulus = 16).cache()
    // nothing lost: chunk token counts sum to the doc token counts
    val tokSum = chunks.groupBy("doc_id")
      .agg(sum("n_tokens").cast("long").as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tokSum == Map(1L -> 400L, 2L -> 401L))
    // content-defined: all of doc 1's chunks except (at most) the
    // first reappear VERBATIM in doc 2 — a fixed grid would share none
    val h1 = chunks.where(col("doc_id") === 1).select("chunk_md5")
      .collect().map(_.getString(0)).toSet
    val h2 = chunks.where(col("doc_id") === 2).select("chunk_md5")
      .collect().map(_.getString(0)).toSet
    assert((h1 -- h2).size <= 1, s"shift broke ${(h1 -- h2).size} chunks")
    // the census marks exactly those shared chunks as cross-doc dups
    val dup = chunks.where(col("n_docs") >= 2).select("chunk_md5")
      .distinct().collect().map(_.getString(0)).toSet
    assert(dup == (h1 intersect h2))
    chunks.unpersist(blocking = false)
  }

  test("semanticDecontaminate: flags exactly the train vectors with " +
      "an eval cosine >= threshold, argmax ties to lowest eval id, " +
      "and the eval cardinality guard trips") {
    import spark.implicits._
    val train = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)),   // = eval 1 -> contaminated
      (11L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to both evals
      (12L, Array(0.7f, 0.7f, 0.14f)))  // mid: sim vs eval1 ~0.70
      .toDF("vec_id", "embedding")
    val ev = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)))    // duplicate eval: tie -> id 1
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(train, ev,
        "vec_id", "embedding", threshold = 0.9)
      .orderBy("vec_id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(10L, 11L, 12L))
    assert(got.map(_.getBoolean(3)).toSeq == Seq(true, false, false))
    // duplicate eval vectors give equal sims -> lowest eval id wins
    assert(got.map(_.getLong(2)).toSeq == Seq(1L, 1L, 1L))
    assert(math.abs(got(0).getDouble(1) - 1.0) < 1e-12)
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDecontaminate(train, ev, "vec_id",
        "embedding", threshold = 0.9, maxEvalRows = 1)
    }
    assert(e.getMessage.contains("maxEvalRows"))
  }

  test("semanticDedup: exact config keeps lowest id per near-dup " +
      "group; clustered survivors are a superset of exact survivors") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.999f, 0.04f, 0.0f)), // near-dup of 1 -> dropped
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.02f, 0.999f, 0.0f)), // near-dup of 3 -> dropped
      (5L, Array(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val exact = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        eps = 0.9, nCells = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(exact == Set(1L, 3L, 5L))
    val clustered = Similarity.semanticDedup(vecs, "vec_id", "embedding",
        eps = 0.9, nCells = 2, maxIter = 5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(clustered),
      s"clustered $clustered must contain exact $exact")
  }

  test("semanticDedup: fixed-seed removal recall vs exact holds at " +
      "two corpus scales under the grow-cells-with-corpus rule") {
    // q94 grows nCells with the corpus (constant ~cell population),
    // which makes its survivor set scale-dependent BY DESIGN: more
    // cells -> more cross-cell near-dup pairs missed. This pins the
    // expected behavior so a correctness gate can tell cell-count-
    // driven drift from a real regression: at both scales, removal
    // recall vs the exact (nCells=1) answer stays high, and the
    // clustered survivors remain a superset of the exact survivors.
    import spark.implicits._
    // fixed-seed corpus where pairs (2k, 2k+1) share a base draw
    def pairs(n: Int): org.apache.spark.sql.DataFrame = {
      val rnd = new scala.util.Random(1234)
      (0 until n / 2).flatMap { k =>
        val base = Array.fill(6)(rnd.nextGaussian().toFloat)
        Seq((2L * k, base), (2L * k + 1, base.map(_ + 0.001f)))
      }.toDF("vec_id", "embedding")
    }
    for (n <- Seq(300, 1200)) {
      val vecs = pairs(n).cache()
      val cells = math.max(8, n / 50) // simulates q94's growth rule
      def removed(res: org.apache.spark.sql.DataFrame): Set[Long] = {
        val kept = res.select("vec_id").collect().map(_.getLong(0)).toSet
        (0L until n.toLong).toSet -- kept
      }
      val exactRm = removed(Similarity.semanticDedup(
        vecs, "vec_id", "embedding", eps = 0.95, nCells = 1))
      val clusRm = removed(Similarity.semanticDedup(
        vecs, "vec_id", "embedding", eps = 0.95, nCells = cells,
        maxIter = 8))
      assert(exactRm.nonEmpty, "planted near-dups must be removed")
      assert(clusRm.subsetOf(exactRm),
        s"n=$n: clustered must never remove what exact keeps")
      val recall = clusRm.intersect(exactRm).size.toDouble / exactRm.size
      assert(recall >= 0.7,
        s"n=$n cells=$cells: removal recall $recall below 0.7")
      vecs.unpersist(blocking = false)
    }
  }

  test("semanticDedup: q94's growth rule vs the q95 exact form on the " +
      "REAL embeddings table with a planted near-dup cluster, at two " +
      "driver scales — survivor superset and removal recall gated") {
    // The q94 catalog entry is rows-only (survivors depend on learned
    // cells); this is its cross-scale contract on the actual driver
    // data. The natural tables carry almost no pairs at the entry's
    // eps (max pair cosine 0.48 at sf0.001, 0.60 at sf0.1), so every
    // 10th vector gets a PLANTED copy (id + 1e5, first component
    // +0.001): at eps = 0.95 the exact nCells=1 removal set is, by
    // construction, exactly the planted ids — and the clustered run
    // under q94's own growth rule (nCells = max(8, n/250), maxIter=8)
    // must (a) never remove a survivor of the exact form, (b) reach
    // removal recall >= 0.7 against it.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1")) {
      val real = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val planted = real.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          concat(array(element_at(col("embedding"), 1) + lit(0.001f)),
            slice(col("embedding"), 2, 10000)).as("embedding"))
      val e = real.unionByName(planted).cache()
      val n = e.count()
      val cells = math.max(8L, n / 250L).toInt
      val allIds = e.select("vec_id").collect().map(_.getLong(0)).toSet
      def removedIds(res: org.apache.spark.sql.DataFrame): Set[Long] = {
        val kept = res.select("vec_id").collect().map(_.getLong(0)).toSet
        allIds -- kept
      }
      val exactRm = removedIds(Similarity.semanticDedup(
        e, "vec_id", "embedding", eps = 0.95, nCells = 1))
      assert(exactRm == allIds.filter(_ >= 100000L),
        s"$dir: exact removal set is not exactly the planted copies")
      val clusRm = removedIds(Similarity.semanticDedup(
        e, "vec_id", "embedding", eps = 0.95, nCells = cells,
        maxIter = 8))
      assert(clusRm.subsetOf(exactRm),
        s"$dir: clustered removed ids exact kept: ${clusRm -- exactRm}")
      val recall = clusRm.size.toDouble / exactRm.size
      assert(recall >= 0.7,
        s"$dir n=$n cells=$cells: removal recall $recall below 0.7")
      e.unpersist(blocking = false)
    }
  }

  test("product quantization: codes in range, deterministic fit, " +
      "ADC ranks clustered data, rerank recovers exact top-k") {
    import spark.implicits._
    // 3 well-separated direction clusters in 8 dims
    val rnd = new scala.util.Random(7)
    def mk(center: Array[Double], i: Long): (Long, Array[Float]) =
      (i, center.map(c => (c + rnd.nextGaussian() * 0.05).toFloat))
    val c1 = Array(1.0, 0, 0, 0, 1, 0, 0, 0)
    val c2 = Array(0.0, 1, 0, 0, 0, 1, 0, 0)
    val c3 = Array(0.0, 0, 1, 0, 0, 0, 1, 0)
    val vecs = ((0L until 40L).map(i => mk(c1, i)) ++
      (40L until 80L).map(i => mk(c2, i)) ++
      (80L until 120L).map(i => mk(c3, i))).toDF("id", "v")
    val cb = Similarity.pqFit(vecs, "id", "v", m = 4, k = 8,
      maxIter = 15)
    assert(cb.centroids.length == 4 &&
      cb.centroids.forall(_.length == 8))
    val cb2 = Similarity.pqFit(vecs, "id", "v", m = 4, k = 8,
      maxIter = 15)
    assert(cb.centroids.flatten.flatten.toSeq ==
      cb2.centroids.flatten.flatten.toSeq) // seeded fit = same books
    val enc = Similarity.pqEncode(vecs, "id", "v", cb).cache()
    val codes = enc.select("codes").collect()
      .map(_.getSeq[Int](0))
    assert(codes.forall(cs => cs.length == 4 &&
      cs.forall(c => c >= 0 && c < 8)))
    // a cluster-1 query: ADC top-10 should stay inside cluster 1
    val q = c1.map(_.toFloat)
    val adc = Similarity.pqTopK(enc, "id", cb, q, 10)
      .collect().map(_.getLong(0))
    assert(adc.forall(_ < 40L), s"ADC left the query's cluster: ${adc.toSeq}")
    // rerank with a full-corpus shortlist EQUALS brute force exactly
    val rer = Similarity.pqTopKRerank(enc, vecs, "id", "v", cb, q, 10,
      shortlist = 120).collect().map(_.getLong(0)).toSeq
    val bf = Similarity.bruteForceTopK(vecs, "id", "v", q, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(rer == bf)
    enc.unpersist(blocking = false)
  }

  test("IVF+PQ composed index: degenerate config (all cells probed, " +
      "full shortlist) equals brute force; pruned probes stay in the " +
      "query's cluster") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def mk(center: Array[Double], i: Long): (Long, Array[Float]) =
      (i, center.map(c => (c + rnd.nextGaussian() * 0.05).toFloat))
    val c1 = Array(1.0, 0, 0, 0, 1, 0, 0, 0)
    val c2 = Array(0.0, 1, 0, 0, 0, 1, 0, 0)
    val vecs = ((0L until 60L).map(i => mk(c1, i)) ++
      (60L until 120L).map(i => mk(c2, i))).toDF("id", "v")
    val idx = Similarity.ivfPqFit(vecs, "id", "v", nCells = 4,
      m = 4, k = 16, maxIter = 10)
    val q = c1.map(_.toFloat)
    // all cells + full shortlist -> exact
    val full = Similarity.ivfPqTopK(idx, vecs, "id", "v", q, 10,
      probes = 4, shortlist = 120).collect().map(_.getLong(0)).toSeq
    val bf = Similarity.bruteForceTopK(vecs, "id", "v", q, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(full == bf)
    // production dials: 1 probe — never leaves the query's cluster
    val pruned = Similarity.ivfPqTopK(idx, vecs, "id", "v", q, 10,
      probes = 1, shortlist = 30).collect().map(_.getLong(0))
    assert(pruned.nonEmpty && pruned.forall(_ < 60L),
      s"pruned probe left the cluster: ${pruned.toSeq}")
  }

  test("canonicalByQuality keeps the best-quality cluster member, " +
      "ties to the lowest id") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "canonical_id")
    val quality = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (7L, 0.5),
      (8L, 0.1)).toDF("doc_id", "quality")
    val got = Dedup.canonicalByQuality(clusters, quality)
      .orderBy("canonical_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // cluster 1: docs 2 and 3 tie at 0.9 -> keep 2; cluster 7: keep 7
    assert(got.toSeq == Seq((1L, 3L, 2L, 0.9), (7L, 2L, 7L, 0.5)))
  }

  test("mixByTemperature: alpha=1 keeps natural proportions, alpha->0 " +
      "flattens toward uniform, small sources gain share") {
    import spark.implicits._
    // 900 rows of 'big', 100 of 'small'
    val d = (1L to 1000L).map(i =>
        (i, if (i <= 900) "big" else "small"))
      .toDF("doc_id", "source")
    def shares(alpha: Double) = {
      val m = Sampling.mixByTemperature(d, "doc_id", "source",
        alpha, targetRows = 500L)
      val byS = m.groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (byS.getOrElse("big", 0L), byS.getOrElse("small", 0L))
    }
    val (b1, s1) = shares(1.0)
    val (b3, s3) = shares(0.3)
    // natural: small keeps ~ 500 * 100/1000 = ~50 of its 100
    assert(s1 in_between (25L, 75L), s"alpha=1 small share $s1")
    // flattened: small's fraction rises sharply (toward keep-all)
    assert(s3 > s1, s"flattening must help the small source: $s3 <= $s1")
    assert(b3 < b1, s"flattening must shrink the big source: $b3 >= $b1")
    // determinism
    assert(shares(0.3) == ((b3, s3)))
  }

  private implicit class LongIn(x: Long) {
    def in_between(lo: Long, hi: Long): Boolean = x >= lo && x <= hi
  }

  test("mixUniform: integer waterline fully keeps small strata, " +
      "levels the head, keeps everything under a big budget, and is " +
      "deterministic") {
    import spark.implicits._
    // strata 10 / 20 / 100; budget 60 -> waterline after {a, b}
    // (10*3=30<=60, 20*2=40<=50, 100*1=100>30), level 30 -> c at 0.3
    val d = ((1L to 10L).map((_, "a")) ++ (101L to 120L).map((_, "b"))
      ++ (201L to 300L).map((_, "c"))).toDF("doc_id", "src")
    val kept = Sampling.mixUniform(d, "doc_id", "src", targetRows = 60L)
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("a") == 10L && kept("b") == 20L,
      s"waterlined strata must keep ALL rows: $kept")
    assert(kept("c") in_between (15L, 45L),
      s"leveled stratum should keep ~30 of 100: $kept")
    // budget >= corpus: identity
    val all = Sampling.mixUniform(d, "doc_id", "src",
      targetRows = 1000L).count()
    assert(all == 130L)
    // determinism
    val again = Sampling.mixUniform(d, "doc_id", "src",
      targetRows = 60L).groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == kept)
    // the head never eats the tail: c's keep-count under the uniform
    // budget stays below b's full retention even though c is 5x b
    assert(kept("c") < 100L)
  }

  test("boilerplateSpans: a 4-gram shared by >= minDocs docs flags its " +
      "positions; unique content does not") {
    import spark.implicits._
    val chrome = "all rights reserved copyright"
    val docs = Seq(
      (1L, s"alpha beta gamma delta $chrome"),
      (2L, s"$chrome epsilon zeta"),
      (3L, s"unique words here only $chrome"),
      (4L, "totally original content nothing shared"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.boilerplateSpans(docs, "doc_id", "text",
        n = 4, minDocs = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 1: 5 spans ("alpha beta gamma delta" .. "delta all rights
    // reserved copyright" window), exactly 1 is the shared chrome
    val byDoc = got.map { case (id, spans, boiler) => id -> (spans, boiler) }.toMap
    assert(byDoc(1L)._2 == 1L && byDoc(2L)._2 == 1L && byDoc(3L)._2 == 1L)
    assert(byDoc(4L)._2 == 0L)
    // n_spans = len - n + 1
    assert(byDoc(1L)._1 == 5L && byDoc(4L)._1 == 2L)
  }

  test("sampleToTokenBudget: keeps the maximal hash-ordered prefix " +
      "within budget, deterministically") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, ("w " * (i % 7 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val tok = TextAnalysis.tokenCountWs(col("text"))
    val got = Sampling.sampleToTokenBudget(docs, "doc_id", tok,
      budget = 60L)
    val rows = got.select("doc_id", "n_tokens", "cum_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.map(_._3).max <= 60L)
    // the cut is maximal: adding any excluded doc overflows the budget
    // in the same hash order — verify against a driver-side replay
    val h = (id: Long) => Math.floorMod(id * 2654435761L + 42L, 1000000007L)
    val all = (1L to 50L).map(i => (i, (i % 7 + 1).toLong))
      .sortBy(t => h(t._1))
    var cum = 0L
    val expect = all.takeWhile { case (_, n) => { cum += n; cum <= 60L } }
      .map(_._1).toSet
    assert(rows.map(_._1).toSet == expect)
    // deterministic across runs
    val again = Sampling.sampleToTokenBudget(docs, "doc_id", tok,
      budget = 60L).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == rows.map(_._1).toSet)
  }

  /** h_k(x) = (x·(2654435761 + 2k) + seed + k·1000003) mod 1e9+7 in
    * exact integers — the portable id hash's definition of record.
    */
  private def hashRef(x: Long, seed: Long, k: Long = 0L): Long =
    ((BigInt(x) * (BigInt(2654435761L) + 2 * k) + seed + k * 1000003L)
      mod 1000000007L).toLong

  test("PortableHash equals the exact-integer h_k at the edges of the " +
      "id, k and seed domains (no long overflow anywhere)") {
    import graft.functions.PortableHash
    val ids = Seq(Long.MinValue, -4000000000L, -5L, 0L, 5L, 1000000006L,
      1000000007L, 3474701542L, 3474701543L, 4000000000L, Long.MaxValue)
    val ks = Seq(0L, 1L, 7L, 9999L)
    val grid = (for (x <- ids; k <- ks) yield (x, k)).toDF("x", "k")
    for (seed <- Seq(0L, 42L, 97L, Long.MaxValue)) {
      val got = grid.select(col("x"), col("k"),
          PortableHash(col("x"), seed, col("k")).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.length == ids.size * ks.size)
      got.foreach { case (x, k, h) =>
        assert(h == hashRef(x, seed, k), s"h_$k($x) seed $seed")
      }
    }
    // k defaults to 0: the plain sampling hash
    assert(Seq(4000000000L).toDF("x")
      .select(PortableHash(col("x"), 42L)).head().getLong(0) ==
      hashRef(4000000000L, 42L))
  }

  /** Ids past Long.MaxValue / 2654435761, where the raw product
    * id·2654435761 overflows a long.
    */
  private val bigIds = Seq(1L, 2L, 3L, 4L, 3474701543L, 4000000000L,
    4000000001L, 4000000002L, Long.MaxValue)

  test("hashSample keeps the exact-hash half of ids past " +
      "Long.MaxValue / 2654435761 without overflowing") {
    val kept = Sampling.hashSample(bigIds.toDF("id"), "id", 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(kept ==
      bigIds.filter(i => hashRef(i, 42L) % 1000000L < 500000L).toSet)
  }

  test("sampleToTokenBudget orders ids past Long.MaxValue / " +
      "2654435761 by the exact hash without overflowing") {
    val docs = bigIds.map(i => (i, "w w")).toDF("doc_id", "text")
    val got = Sampling.sampleToTokenBudget(docs, "doc_id",
        TextAnalysis.tokenCountWs(col("text")), budget = 9L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 2 tokens each: the first 4 ids in hash order fit a budget of 9
    assert(got == bigIds.sortBy(hashRef(_, 42L)).take(4).toSet)
  }

  /** Adversarial inputs for the UDF-vs-Column parity contracts:
    * unicode lowercase mappings (Kelvin sign -> k), already-lowercase
    * non-ASCII (long s, sharp s), combining marks, supplementary-
    * plane code points (surrogate pairs), tabs/newlines, empty and
    * punctuation-only strings, repeated separators.
    */
  private val adversarial = Seq(
    "the quick brown fox", "MiXeD CaSe 123", "", "   ", "\t\na\tb\n",
    "!!!", "a!b.c,d", "café élève", "Kelvin unit",
    "ſong ß harp", "é combining", "𝄞 clef",
    "tok  double  space", "trailing space ", " leading", "0a1b2c",
    "İstanbul", "ALL CAPS SENTENCE WITH 99 NUMBERS 00")

  test("PortableTokenHash codegen Expression matches the Column " +
      "fold definition over adversarial strings, in codegen AND " +
      "interpreted eval, and as a SQL function") {
    import graft.functions.PortableTokenHash
    val df = adversarial.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("i", "s")
    val rows = df.select(col("i"),
      Dedup.portableTokenHash(col("s")).as("col_form"),
      PortableTokenHash(col("s")).as("expr_form"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"expr parity broke on '${adversarial(r.getLong(0).toInt)}': " +
          s"column=${r.getLong(1)} expr=${r.getLong(2)}")
    }
    // interpreted path (nullSafeEval) — evaluate outside codegen
    adversarial.foreach { s =>
      val viaEval = PortableTokenHash.hashUtf8(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      val viaPlan = df.where(col("s") === s)
        .select(PortableTokenHash(col("s"))).head().getLong(0)
      assert(viaEval == viaPlan, s"interpreted != codegen on '$s'")
      // the JVM String fold (minhash shingles, hashed bigrams)
      assert(PortableTokenHash.fold(0L, s) == viaEval,
        s"String fold != UTF-8 fold on '$s'")
    }
    // null propagates
    val n = Seq((0L, null: String)).toDF("i", "s")
      .select(PortableTokenHash(col("s"))).head()
    assert(n.isNullAt(0))
    // SQL surface via GraftExtensions
    GraftExtensions.register(spark)
    df.createOrReplaceTempView("t_pth")
    val sqlRows = spark.sql(
      "SELECT i, portable_token_hash(s) AS h FROM t_pth").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(sqlRows(r.getLong(0)) == r.getLong(2)))
  }

  test("normalizeTokens matches filter(split(normalize(text)), != '') " +
      "over adversarial strings (unicode lowercase included)") {
    val df = adversarial.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("i", "s")
    val both = df.select(col("i"),
      filter(split(Dedup.normalize(col("s")), " "), t => t =!= "")
        .as("expr_form"),
      Dedup.normalizeTokens(col("s")).as("udf_form"))
    both.collect().foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"tokenize parity broke on '${adversarial(r.getLong(0).toInt)}': " +
          s"expr=${r.getSeq[String](1)} udf=${r.getSeq[String](2)}")
    }
  }

  test("linearScore computes the exact integer score a hand fold " +
      "over tokens reproduces (hash, bucket, literal lookup, sum)") {
    import graft.functions.PortableTokenHash
    import org.apache.spark.unsafe.types.UTF8String
    val weights = (0 until 64).map(b => (b % 7).toLong - 3L)
    val docs = Seq((1L, "the quick brown fox"), (2L, "a  b"),
      (3L, "spam spam spam"), (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.linearScore(docs, "doc_id", "text",
        weights, intercept = 5L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    def expect(text: String): (Long, Long) = {
      val toks = text.split(" ").filter(_.nonEmpty)
      val s = toks.map { t =>
        val b = (PortableTokenHash.hashUtf8(
          UTF8String.fromString(t)) % 64L).toInt
        weights(b)
      }.sum + 5L
      (toks.length.toLong, s)
    }
    assert(got(1L) == expect("the quick brown fox"))
    assert(got(2L) == expect("a  b"))
    assert(got(3L) == expect("spam spam spam"))
    // empty text yields no token rows -> absent from the grouped out
    assert(!got.contains(4L))
  }

  test("linearScoreRow equals the grouped form, and an APPEND-mode " +
      "MemoryStream scores identically to batch") {
    val weights = (0 until 64).map(b => (b % 7).toLong - 3L)
    val data = Seq((1L, "the quick brown fox"), (2L, "a  b"),
      (3L, "spam spam spam"), (4L, ""), (5L, "  "),
      (6L, "café élève 𝄞"))
    val docs = data.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val grouped = rows(TextAnalysis.linearScore(docs, "doc_id",
      "text", weights, 5L))
    val row = rows(TextAnalysis.linearScoreRow(docs, "doc_id",
      "text", weights, 5L))
    assert(row == grouped)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = TextAnalysis.linearScoreRow(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text",
        weights, 5L)
      .writeStream.outputMode("append").format("memory")
      .queryName("t_lscore").start()
    in.addData(data.take(3)); q.processAllAvailable()
    in.addData(data.drop(3)); q.processAllAvailable(); q.stop()
    assert(rows(spark.table("t_lscore")) == grouped)
  }

  test("fitQualityClassifier separates planted spam through the " +
      "quantized integer serving path") {
    val spamWords = " click here free offer buy cheap winner prize"
    val docs = Seq.tabulate(120) { i =>
      val base = s"document number $i carries ordinary prose about " +
        "engines and data with enough tokens to look natural"
      if (i % 3 == 0) (i.toLong, base + spamWords + spamWords, 1.0)
      else (i.toLong, base, 0.0)
    }.toDF("doc_id", "text", "label")
    val (w, b) = TextAnalysis.fitQualityClassifier(docs, "doc_id",
      "text", "label", numFeatures = 128, maxIter = 15)
    assert(w.length == 128)
    val scored = TextAnalysis.linearScore(docs, "doc_id", "text", w, b)
      .join(docs.select(col("doc_id"), col("label")), Seq("doc_id"))
      .withColumn("pred",
        when(col("score_raw") > 0L, 1.0).otherwise(0.0))
    val acc = scored.agg(avg(when(col("label") === col("pred"), 1.0)
      .otherwise(0.0))).head().getDouble(0)
    assert(acc >= 0.95, f"served accuracy $acc%.3f below 0.95")
    // determinism: refit on the same frame yields the same weights
    val (w2, b2) = TextAnalysis.fitQualityClassifier(docs, "doc_id",
      "text", "label", numFeatures = 128, maxIter = 15)
    assert(w == w2 && b == b2)
  }

  test("packTokenIds: packs are contiguous doc-atomic id runs — " +
      "seq_pos counts 0..len-1 inside each pack, token order follows " +
      "(word_pos, piece_pos), pack boundaries follow the exclusive " +
      "prefix grid") {
    import graft.llmdata.{Packing, WordPiece}
    // alphabet model over a fixed corpus: pieces == chars
    val docs = Seq(
      (1L, "abc de"),    // 5 pieces
      (2L, "fg"),        // 2 pieces
      (3L, "hij"),       // 3 pieces
      (4L, "kl mn")      // 4 pieces
    ).toDF("doc_id", "text")
    val (model, _) = WordPiece.fit(docs, "text", nMerges = 0)
    val ids = WordPiece.encodeIds(docs, "doc_id", "text", model)
    val got = Packing.packTokenIds(ids, "doc_id", capacity = 6)
      .orderBy("pack_id", "seq_pos").collect()
      .map(r => (r.getAs[Long]("pack_id"), r.getAs[Long]("seq_pos"),
        r.getAs[Long]("doc_id"), r.getAs[Int]("token_id")))
    // exclusive cums: d1=0 d2=5 d3=7 d4=10 -> packs 0,0,1,1
    assert(got.map(_._3).toSeq ==
      Seq(1L,1L,1L,1L,1L, 2L,2L, 3L,3L,3L, 4L,4L,4L,4L))
    assert(got.map(_._1).toSeq ==
      Seq(0L,0L,0L,0L,0L, 0L,0L, 1L,1L,1L, 1L,1L,1L,1L))
    // seq_pos: 0..6 in pack 0, 0..6 in pack 1
    assert(got.filter(_._1 == 0L).map(_._2).toSeq == (0L to 6L))
    assert(got.filter(_._1 == 1L).map(_._2).toSeq == (0L to 6L))
    // token order inside doc 1 is its chars in order
    val idOf = (model.vocab + model.unk).toSeq.sorted.zipWithIndex.toMap
    assert(got.take(5).map(_._4).toSeq ==
      Seq(idOf("a"), idOf("##b"), idOf("##c"), idOf("d"), idOf("##e")))
  }

  test("charEntropy: hand-computed integer grid — zero for " +
      "single-char mash, round(1e4*ln(1/2)) terms for a 50/50 doc, " +
      "spaces and case and punctuation normalized away") {
    val docs = Seq(
      (0L, "aaaa"),                  // one symbol: entropy exactly 0
      (1L, "ab AB a!b"),             // normalizes to 6 non-space chars, 3 a's 3 b's
      (2L, "   "),                   // no chars at all -> no row
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.charEntropy(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got.length == 2)
    val r0 = got(0)
    assert(r0.getAs[Long]("n_chars") == 4L)
    assert(r0.getAs[Long]("ent4") == 0L)
    assert(r0.getAs[Double]("entropy") == 0.0)
    val r1 = got(1)
    assert(r1.getAs[Long]("n_chars") == 6L)
    // each char: ln(3/6) = -0.693147... -> round(-6931.47...) = -6931
    // ent4 = -(3*(-6931) + 3*(-6931)) = 41586
    assert(r1.getAs[Long]("ent4") == 41586L)
    assert(math.abs(r1.getAs[Double]("entropy") - math.log(2)) < 1e-4)
  }

  test("bm25: hand-computed score on a 3-doc corpus; rarity beats " +
      "raw frequency; non-matching docs excluded") {
    import spark.implicits._
    val df = Seq(
      (1L, "apple apple apple banana"), // tf(apple)=3, dl=4
      (2L, "apple cherry"),             // tf(apple)=1, tf(cherry)=1, dl=2
      (3L, "kiwi kiwi"))                // no query terms, dl=2
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(df, "doc_id", "text",
        Seq("apple", "cherry"), k = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getLong(2))).toMap
    assert(!got.contains(3L))
    // N=3, avgdl=8/3; idf(apple)=ln((3-2+.5)/(2+.5)+1)=ln(1.6),
    // idf(cherry)=ln((3-1+.5)/(1+.5)+1)=ln(8/3)
    def c(tf: Double, dl: Double, df: Double) =
      math.log((3.0 - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
        (tf + 1.2 * (0.25 + 0.75 * dl / (8.0 / 3.0)))
    val s1 = BigDecimal(c(3, 4, 2)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val s2 = BigDecimal(c(1, 2, 2) + c(1, 2, 1)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((s1, 1L)), s"got ${got(1L)} want $s1")
    assert(got(2L) == ((s2, 2L)), s"got ${got(2L)} want $s2")
    // doc2 matches the RARE term: outranks doc1's 3x common-term hits
    assert(s2 > s1)
  }

  test("rrfFuse: integer reciprocal-rank contributions, both-branch " +
      "docs beat single-branch, exact floor-division values") {
    import spark.implicits._
    val a = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("doc_id", "rank")
    val b = Seq((20L, 1L), (40L, 2L)).toDF("doc_id", "rank")
    val got = Similarity.rrfFuse(Seq(a, b), "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        r.getLong(2))).toMap
    val S = 1000000000000L
    assert(got(10L) == ((S / 61, 1L)))
    assert(got(20L) == ((S / 62 + S / 61, 2L)))
    assert(got(30L) == ((S / 63, 1L)))
    assert(got(40L) == ((S / 62, 1L)))
    // doc 20 (rank 2 + rank 1) outranks every single-branch doc
    assert(got(20L)._1 > got(10L)._1)
  }

  test("Wav: RIFF round trip, unknown chunks skipped with odd-size " +
      "padding, negative samples recovered, malformed streams refuse") {
    import graft.llmdata.Multimodal.Wav
    val samples = Array(0, 1, -1, 32767, -32768, 12345, -12345)
    val b = Wav.bytes(samples, 16000)
    val (m, _) = Wav.parse(b)
    assert(m == Wav.Meta(1, 16000, 16, samples.length))
    assert(Wav.samples(b).toSeq == samples.toSeq)
    // splice an unknown odd-sized chunk between fmt and data: the
    // walker must skip it INCLUDING the word-align pad byte
    val junk = Array[Byte]('L', 'I', 'S', 'T', 3, 0, 0, 0,
      9, 9, 9, 0 /* pad */)
    val spliced = b.take(36) ++ junk ++ b.drop(36)
    // fix the RIFF size field (not validated, but keep it honest)
    assert(Wav.samples(spliced).toSeq == samples.toSeq)
    // dHash: identical planted patterns hash equal, different differ
    import graft.llmdata.Multimodal
    val p1 = Multimodal.ImageCodec.pngBytes(20, 20, 128)
    assert(Multimodal.dHash64(p1) == 0L) // solid image: no gradients
    intercept[IllegalArgumentException] {
      Wav.parse("nope".getBytes ++ new Array[Byte](20))
    }
    intercept[IllegalArgumentException] {
      Wav.parse(b.take(40)) // truncated mid-header: no data chunk
    }
  }

  test("rerankFeatures + rerankLinear: missing-branch sentinel, exact " +
      "integer scores, top-k order with id tiebreak") {
    import spark.implicits._
    val dense = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("doc_id", "rank")
    val sparse = Seq((20L, 1L), (40L, 2L)).toDF("doc_id", "rank")
    val cands = Similarity.rerankFeatures(
      Seq("dense" -> dense, "sparse" -> sparse), "doc_id")
    val feat = cands.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(feat == Map(10L -> ((1L, 1000L)), 20L -> ((2L, 1L)),
      30L -> ((3L, 1000L)), 40L -> ((1000L, 2L))))
    val top = Similarity.rerankLinear(cands, "doc_id",
        Seq("rank_dense" -> -3000L, "rank_sparse" -> -1000L),
        intercept = 500000L, k = 3)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("rr_score")))
    // scores: 10 -> 500000-3000-1000000 = -503000; 20 -> 500000-6000-1000
    //   = 493000; 30 -> 500000-9000-1000000 = -509000;
    //   40 -> 500000-3000000-2000 = -2502000
    assert(top.toSeq == Seq((20L, 493000L), (10L, -503000L),
      (30L, -509000L)))
  }

  test("fitReranker: driver Newton matches MLlib LogisticRegression " +
      "coefficients to 1e-6; cardinality guard fires") {
    import spark.implicits._
    // non-separable synthetic clicks: logistic law + deterministic
    // hash flips, 2 features
    val rows = (0 until 300).map { i =>
      val f1 = (i % 17).toDouble
      val f2 = ((i * 7) % 23).toDouble
      val z = 1.5 - 0.35 * f1 + 0.12 * f2
      val flip = (i * 2654435761L % 97) < 20
      val base = if (z > 0) 1.0 else 0.0
      (f1, f2, if (flip) 1.0 - base else base)
    }
    val df = rows.toDF("f1", "f2", "click")
    val (w, b) = Similarity.fitReranker(df, Seq("f1", "f2"), "click",
      quantScale = 1e9)
    // reference optimum from MLlib on the identical data
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.VectorAssembler
    val feats = new VectorAssembler()
      .setInputCols(Array("f1", "f2")).setOutputCol("__features")
      .transform(df.withColumn("__lbl", col("click")))
    val m = new LogisticRegression().setMaxIter(200).setTol(1e-12)
      .setRegParam(0.0).setFeaturesCol("__features")
      .setLabelCol("__lbl").fit(feats)
    val got = w.map(_._2.toDouble / 1e9) :+ (b.toDouble / 1e9)
    val want = m.coefficients.toArray.toSeq :+ m.intercept
    got.zip(want).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-6, s"driver $got vs mllib $want")
    }
    intercept[IllegalArgumentException] {
      Similarity.fitReranker(df, Seq("f1"), "click", maxRows = 10)
    }
  }

  test("pcaFit: matches MLlib PCA components up to the sign " +
      "convention at 1e-5; orthonormal; eigenvalues descending; " +
      "projection recenters exactly") {
    import spark.implicits._
    // anisotropic synthetic cloud so components are well-separated
    val rnd = new scala.util.Random(7)
    val data = (1 to 300).map { i =>
      val t = rnd.nextGaussian(); val u = rnd.nextGaussian()
      val v = rnd.nextGaussian()
      (i.toLong, Seq(5.0 * t + 1.0, 2.0 * u - 3.0,
        0.5 * v + t, 0.1 * rnd.nextGaussian()).map(_.toFloat))
    }
    val df = data.toDF("vec_id", "embedding")
    val m = Similarity.pcaFit(df, "vec_id", "embedding", k = 3,
      sampleRows = 1000)
    assert(m.explained.zip(m.explained.tail)
      .forall { case (a, b) => a >= b })
    // orthonormal
    for (a <- m.components; b <- m.components) {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val want = if (a eq b) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"dot $dot want $want")
    }
    // MLlib reference on identical data
    import org.apache.spark.ml.feature.{PCA => MlPca}
    import org.apache.spark.ml.linalg.Vectors
    val feat = data.map { case (id, v) =>
      (id, Vectors.dense(v.map(_.toDouble).toArray)) }
      .toDF("vec_id", "features")
    val mp = new MlPca().setInputCol("features").setOutputCol("pc")
      .setK(3).fit(feat)
    val ref = mp.pc.toArray // column-major d x k
    val d = 4
    for (ci <- 0 until 3) {
      val mine = m.components(ci)
      val theirs = Array.tabulate(d)(r => ref(ci * d + r))
      // resolve MLlib's arbitrary sign by aligning on the largest
      // |coordinate| (the fit's own convention)
      val best = mine.indices.maxBy(j => math.abs(mine(j)))
      val flip = if (math.signum(theirs(best)) !=
        math.signum(mine(best))) -1.0 else 1.0
      mine.zip(theirs).foreach { case (x, y) =>
        assert(math.abs(x - flip * y) < 1e-5,
          s"c$ci: ${mine.toSeq} vs ${theirs.toSeq}") }
    }
    // projecting the mean vector gives the zero point
    val meanDf = Seq((0L, m.mean.map(_.toFloat).toSeq))
      .toDF("vec_id", "embedding")
    val z = Similarity.pcaProject(meanDf, "vec_id", "embedding", m)
      .head()
    (1 to 3).foreach(i => assert(z.getDouble(i) == 0.0))
  }

  test("rakeKeywords: hand-computed deg/freq phrase scores, " +
      "stopword islands, repeated phrase scored once, top-k cut") {
    import spark.implicits._
    // phrases: "deep learning" x2, "neural networks" x1 ->
    // freq(deep)=2 deg(deep)=4, freq(learning)=2 deg=4,
    // freq(neural)=1 deg=2, freq(networks)=1 deg=2
    // scores: deep=learning=2e6 -> "deep learning" = 4e6;
    // "neural networks" = 4e6 (tie broken by phrase string)
    val docs = Seq((1L,
      "deep learning and neural networks for the deep learning"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.rakeKeywords(docs, "doc_id", "text", k = 2)
      .orderBy(col("phrase")).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("deep learning", 4000000L, 2L),
      ("neural networks", 4000000L, 2L)), s"got ${got.toSeq}")
    // top-1 tie cut is deterministic by phrase
    val top1 = TextAnalysis.rakeKeywords(docs, "doc_id", "text",
      k = 1).head().getString(1)
    assert(top1 == "deep learning")
  }

  test("setSimJoin: LOSSLESS — equals brute-force exact Jaccard at " +
      "the threshold; integer keep decision; prefix census trips") {
    import spark.implicits._
    val docs = (1 to 60).map { i =>
      val base = s"alpha beta gamma delta epsilon zeta token$i"
      val t =
        if (i % 3 == 0) base // near-identical cluster
        else if (i % 3 == 1) base + s" extra$i more$i"
        else s"completely different content $i nothing shared here " +
          s"unique$i words$i"
      (i.toLong, t)
    }.toDF("doc_id", "text")
    val got = Dedup.setSimJoin(docs, "doc_id", "text", num = 1L,
        den = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Dedup.jaccardAllPairs(docs, "doc_id", "text",
        shingleN = 1, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty, "degenerate: no qualifying pairs")
    assert(got == brute, s"ppjoin ${got.size} vs brute ${brute.size}")
    intercept[IllegalArgumentException] {
      Dedup.setSimJoin(docs, "doc_id", "text", 1L, 2L,
        maxPerToken = 1)
    }
  }

  test("containmentJoin: LOSSLESS vs brute force; finds the snippet " +
      "Jaccard misses; directed; minTokens floors the contained side") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa lambda mu"),
      // 2 = a snippet of 1 (8 of 1's 12 tokens, nothing else)
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally different words here nothing shared at all " +
        "ever really truly"),
      (4L, "tiny doc")) // floored out by minTokens = 5
      .toDF("doc_id", "text")
    val got = Dedup.containmentJoin(docs, "doc_id", "text",
        num = 9L, den = 10L, minTokens = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(5)))
    assert(got.map(t => (t._1, t._2)).toSet == Set((2L, 1L)),
      s"got ${got.toSeq}")
    assert(got.head._3 == 1.0)
    // Jaccard at the same kind of bar misses it: J(1,2) = 8/12
    val j = Dedup.setSimJoin(docs, "doc_id", "text", 9L, 10L)
      .collect()
    assert(j.isEmpty, s"jaccard should miss the snippet: ${j.toSeq}")
    // brute-force parity on a denser corpus
    val dense = (1 to 40).map { i =>
      val t = if (i % 2 == 0)
        s"one two three four five six seven eight nine ten word$i"
      else "one two three four five six seven eight"
      (i.toLong, t)
    }.toDF("doc_id", "text")
    val fast = Dedup.containmentJoin(dense, "doc_id", "text",
        num = 9L, den = 10L, minTokens = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = {
      val t = dense.select(col("doc_id"),
        array_distinct(graft.llmdata.Dedup.normalizeTokens(
          col("text"))).as("ts"))
      val a = t.select(col("doc_id").as("ia"), col("ts").as("ta"))
      val b = t.select(col("doc_id").as("ib"), col("ts").as("tb"))
      a.join(b, col("ia") =!= col("ib"))
        .withColumn("i",
          size(array_intersect(col("ta"), col("tb"))).cast("long"))
        .where(col("i") * 10 >= lit(9L) * size(col("ta")))
        .select("ia", "ib")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(fast == brute, s"${fast.size} vs ${brute.size}")
  }

  test("winnowing: coverage guarantee (shared passage >= w+k-1 chars " +
      "shares a fingerprint), cleaning invariance, boilerplate strip") {
    import spark.implicits._
    val (k, w) = (4, 4)
    // docs 1/2 share a 12-char passage (>= w+k-1 = 7) embedded in
    // different contexts; doc 3 is unrelated; doc 4 repeats doc 1
    // with different case/punctuation (cleaning invariance)
    val docs = Seq(
      (1L, "prefix AAABBBCCCDDD suffix one"),
      (2L, "other start AAABBBCCCDDD tail"),
      (3L, "zzz completely unrelated yyy xxx"),
      (4L, "PREFIX aaa-bbb, CCC! ddd SUFFIX (one)"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(docs, "doc_id", "text",
      k, w).collect().map(r => (r.getLong(0), r.getLong(2)))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      .toMap
    // guarantee: 1 and 2 share at least one fingerprint
    assert((byDoc(1L) & byDoc(2L)).nonEmpty)
    // cleaning: doc 4 normalizes to exactly doc 1's cleaned string
    assert(byDoc(4L) == byDoc(1L))
    // doc 3 shares nothing with 1
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
    val pairs = TextAnalysis.winnowSimilarity(docs, "doc_id", "text",
        k, w, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.Caches.release()
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)) &&
      pairs.contains((2L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // boilerplate strip: a fingerprint in every doc is dropped at
    // maxDocPermille=500 (4 docs -> df cap 2)
    val common = Seq(
      (1L, "sharedsharedshared aaa"), (2L, "sharedsharedshared bbb"),
      (3L, "sharedsharedshared ccc"), (4L, "sharedsharedshared ddd"))
      .toDF("doc_id", "text")
    val stripped = TextAnalysis.winnowSimilarity(common, "doc_id",
        "text", k, w, minShared = 1L, maxDocPermille = 500)
      .collect()
    graft.Caches.release()
    val unstripped = TextAnalysis.winnowSimilarity(common, "doc_id",
        "text", k, w, minShared = 1L)
      .collect()
    graft.Caches.release()
    assert(stripped.length < unstripped.length)
  }

  test("winnowFingerprints: exact rows of the q259 oracle's definition " +
      "(k-gram fold, window ends, rightmost minimum) on tie-heavy " +
      "random text and edge cases") {
    // the oracle's definition, replayed by brute force: each k-gram
    // hash is its own (a*31 + c) mod 1e9+7 fold over the cleaned
    // string; window ends e run over [min(w, nk)-1, nk-1]; each picks
    // the minimum of positions max(0, e-w+1)..e, ties to the rightmost
    def oracle(rows: Seq[(Long, String)], k: Int, w: Int)
        : Seq[(Long, Int, Long)] = rows.flatMap {
      case (_, null) => Nil
      case (doc, t) =>
        val s = t.toLowerCase(java.util.Locale.ROOT)
          .replaceAll("[^a-z0-9]", "")
        val nk = s.length - k + 1
        val h = (0 until nk).map(p =>
          s.substring(p, p + k).foldLeft(0L)((a, c) =>
            (a * 31 + c) % 1000000007L))
        if (nk < 1) Nil else (math.min(w, nk) - 1 until nk).map { e =>
          val lo = math.max(0, e - w + 1)
          val p = (lo to e).reduce((x, y) => if (h(y) <= h(x)) y else x)
          (doc, p, h(p))
        }
    }.distinct.sorted
    val rnd = new scala.util.Random(20261018L)
    val random = (1L to 40L).map(d =>
      d -> Seq.fill(5 + rnd.nextInt(120))("abc"(rnd.nextInt(3)))
        .mkString)
    val edges = Seq(
      100L -> null,                        // null text
      101L -> "a-B c",                     // cleaned length 3 < k
      102L -> "abcdefghij",                // k <= n < w+k-1: one window
      103L -> "Q!q?QqQQqqqqQqqQ",          // one repeated character
      104L -> "dup dup dup dup row",       // duplicate doc rows
      104L -> "dup dup dup dup row",
      105L -> "Ünïcödé — 東京 straße ÀBC déjà vu çà et là 123",
      106L -> "")
    val rows = random ++ edges
    val df = rows.toDF("doc_id", "text")
    for ((k, w) <- Seq((3, 4), (4, 4), (2, 7), (5, 2), (4, 8), (8, 8))) {
      val got = TextAnalysis.winnowFingerprints(df, "doc_id", "text",
          k, w).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
      val want = oracle(rows, k, w)
      assert(got == want, s"k=$k w=$w")
    }
    // the edge cases are live: the single-window and repeated-char
    // docs select, the short and null ones do not
    val fp44 = oracle(edges, 4, 4).map(_._1).toSet
    assert(fp44 == Set(102L, 103L, 104L, 105L), fp44)
    assert(oracle(edges, 4, 8).count(_._1 == 102L) == 1)
  }

  test("canonicalizeUrlSorted: param order collapses, tracking keys " +
      "drop wherever they sit, an emptied query loses its ?") {
    val cases = Seq(
      "http://X.com/p?b=2&a=1" -> "http://x.com/p?a=1&b=2",
      "http://x.com/p?a=1&b=2" -> "http://x.com/p?a=1&b=2",
      "https://a.com/p?gclid=x&z=1&ref=abc" -> "https://a.com/p?z=1",
      "https://a.com/p?fbclid=y" -> "https://a.com/p",
      "HTTP://A.com:80/p/?utm_source=s&b=2&a=1#f" ->
        "http://a.com/p?a=1&b=2",
      "https://a.com/p" -> "https://a.com/p")
    val got = cases.map(_._1).toDF("u")
      .select(TextAnalysis.canonicalizeUrlSorted(col("u")).as("c"))
      .collect().map(_.getString(0))
    cases.map(_._2).zip(got).foreach { case (want, g) =>
      assert(g == want, s"got $g want $want")
    }
  }

  test("jsDivergence: identical slices diverge 0, disjoint " +
      "vocabularies saturate at 1 bit, three slices are refused") {
    val same = Seq(("a", "x y z"), ("b", "x y z")).toDF("s", "t")
    val r0 = TextAnalysis.jsDivergence(same, col("s"), col("t"))
      .collect()(0)
    assert(r0.getAs[Double]("jsd_nats") == 0.0)
    assert(r0.getAs[Long]("vocab") == 3 &&
      r0.getAs[Long]("vocab_shared") == 3)
    val disj = Seq(("a", "x x"), ("b", "y y")).toDF("s", "t")
    val r1 = TextAnalysis.jsDivergence(disj, col("s"), col("t"))
      .collect()(0)
    assert(r1.getAs[Double]("jsd_bits") == 1.0)
    assert(r1.getAs[Long]("vocab_shared") == 0)
    assert(r1.getAs[String]("slice_a") == "a" &&
      r1.getAs[String]("slice_b") == "b")
    val three = Seq(("a", "x"), ("b", "y"), ("c", "z")).toDF("s", "t")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.jsDivergence(three, col("s"), col("t"))
    }
    assert(e.getMessage.contains("exactly 2 slices"))
    graft.Caches.release()
  }

  test("jsDivergenceMatrix: every pair equals the pairwise operator; " +
      "slice cap refuses") {
    val df = Seq(("a", "x x y"), ("b", "x y y"), ("c", "z z"))
      .toDF("s", "t")
    val got = TextAnalysis.jsDivergenceMatrix(df, col("s"), col("t"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    graft.Caches.release()
    for (Seq(sa, sb) <- Seq("a", "b", "c").combinations(2)) {
      val pair = TextAnalysis.jsDivergence(
          df.where(col("s").isin(sa, sb)), col("s"), col("t"))
        .collect()(0)
      graft.Caches.release()
      val (na, nb, vp, nats) = got((sa, sb))
      assert(na == pair.getAs[Long]("n_tok_a") &&
        nb == pair.getAs[Long]("n_tok_b"), s"($sa,$sb) totals")
      assert(vp == pair.getAs[Long]("vocab"), s"($sa,$sb) vocab")
      assert(nats == pair.getAs[Double]("jsd_nats"), s"($sa,$sb) jsd")
    }
    // disjoint pair (a,c) saturates at ln 2
    assert(got(("a", "c"))._4 ==
      math.rint(math.log(2.0) * 1e6) / 1e6)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.jsDivergenceMatrix(df, col("s"), col("t"),
        maxSlices = 2)
    }
    assert(e.getMessage.contains("outside"))
    graft.Caches.release()
  }

  test("bm25TopKDyn: terms-as-table scoring equals the literal form " +
      "on a hand corpus") {
    val docs = Seq(
      (1L, "spark joins data fast"),
      (2L, "hash join hash join hash"),
      (3L, "the quick brown fox"),
      (4L, "join the hash table")).toDF("doc_id", "text")
    val lit0 = TextAnalysis.bm25TopK(docs, "doc_id", "text",
        Seq("hash", "join"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .toSet
    val dyn = TextAnalysis.bm25TopKDyn(docs, "doc_id", "text",
        Seq("hash", "join").toDF("term"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .toSet
    graft.Caches.release()
    assert(dyn == lit0, s"dyn $dyn vs literal $lit0")
  }

  test("prf: expansion ranks the shortlist's rare co-occurring term " +
      "above the everywhere-word, and the expanded search recalls a " +
      "doc with no original term") {
    // 'cache' co-occurs with the query terms; 'data' is everywhere
    // (rarity discount kills it); doc 6 has ONLY 'cache'
    val docs = Seq(
      (1L, "hash join cache data"),
      (2L, "hash join cache data"),
      (3L, "hash cache data"),
      (4L, "data lake table"),
      (5L, "data warehouse rows"),
      (6L, "cache eviction policy")).toDF("doc_id", "text")
    val exp = TextAnalysis.prfExpansionTerms(docs, "doc_id", "text",
        Seq("hash", "join"), kDocs = 3, kExpand = 2)
      .collect().map(_.getString(0))
    graft.Caches.release()
    // same shortlist tf (3 each) — the rarity discount must put the
    // rarer 'cache' above the everywhere-word 'data'
    assert(exp.head == "cache", s"expansion ${exp.toSeq}")
    assert(exp(1) == "data", s"expansion ${exp.toSeq}")
    val basic = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      Seq("hash", "join"), k = 10).collect().map(_.getLong(0)).toSet
    assert(!basic.contains(6L))
    val prf = TextAnalysis.prfSearch(docs, "doc_id", "text",
        Seq("hash", "join"), kDocs = 3, kExpand = 1, k = 10)
      .collect().map(_.getLong(0)).toSet
    graft.Caches.release()
    assert(prf.contains(6L), s"PRF missed the expansion-only doc: $prf")
  }

  test("lshCalibration: (1,1) is the identity line, s=100% always " +
      "collides, curves are monotone in s, bad configs refuse") {
    val got = Dedup.lshCalibration(spark,
        Seq((1, 1), (8, 4)), stepPct = 10)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)) ->
        r.getDouble(3)).toMap
    (10 to 100 by 10).foreach { s =>
      assert(got((1, 1, s.toLong)) == s / 100.0, s"identity at $s")
    }
    assert(got((8, 4, 100L)) == 1.0)
    // known point: s=0.5, r=4, b=8 -> 1-(1-0.0625)^8 = 0.403281
    assert(got((8, 4, 50L)) == 0.403281, s"got ${got((8, 4, 50L))}")
    val curve = (10 to 100 by 10).map(s => got((8, 4, s.toLong)))
    assert(curve.sliding(2).forall(w => w(0) <= w(1)), s"$curve")
    intercept[IllegalArgumentException] {
      Dedup.lshCalibration(spark, Seq((0, 4)))
    }
  }

  test("oovRate: top-N vocabulary with (count desc, token asc) " +
      "tie-break; occurrence-weighted ppm; all-in-vocab slice is 0") {
    // global counts: x=4, y=3, z=3 -> top-2 = {x, y} (y beats z on
    // the token tie-break)
    val df = Seq(("s1", "x x y z"), ("s2", "x x y y z z"))
      .toDF("s", "t")
    val got = TextAnalysis.oovRate(df, col("s"), col("t"),
        vocabSize = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    graft.Caches.release()
    assert(got("s1") == ((4L, 3L, 1L, 250000L)), s"got ${got("s1")}")
    assert(got("s2") == ((6L, 3L, 2L, 333333L)), s"got ${got("s2")}")
    val all = Seq(("s1", "x y x y")).toDF("s", "t")
    val g2 = TextAnalysis.oovRate(all, col("s"), col("t"), vocabSize = 2)
      .collect()(0)
    graft.Caches.release()
    assert(g2.getLong(3) == 0L && g2.getLong(4) == 0L)
  }
  test("goodTuring: a^3 b^2 c -> N_r table, raw r*, p0 = N1/N; " +
      "gap row reports rstar 0") {
    val df = Seq((1L, "a a a b b c")).toDF("doc_id", "text")
    val r = TextAnalysis.goodTuring(df, "doc_id", "text")
      .orderBy(col("r")).collect()
    assert(r.map(x => (x.getAs[Long]("r"), x.getAs[Long]("n_r"),
      x.getAs[Long]("rstar_ppm"))).toSeq ==
      Seq((1L, 1L, 2000000L), (2L, 1L, 3000000L), (3L, 1L, 0L)))
    assert(r(0).getAs[Long]("n_tokens") == 6L)
    assert(r(0).getAs[Long]("n_types") == 3L)
    assert(r(0).getAs[Long]("p0_ppm") == 166666L) // 1e6 div 6
  }

  test("sttr: complete 2-token blocks only — tail dropped, " +
      "sub-chunk docs emit no row") {
    val df = Seq(
      (1L, "a b a a"),      // blocks (a,b)(a,a) -> 3/(2*2)
      (2L, "a b c d e"),    // 2 complete blocks, tail e dropped
      (3L, "a")             // shorter than one block: no row
    ).toDF("doc_id", "text")
    val r = TextAnalysis.sttr(df, "doc_id", "text", chunk = 2)
      .collect()
    assert(r.map(x => (x.getAs[Long]("doc_id"),
      x.getAs[Long]("n_blocks"), x.getAs[Long]("sttr_ppm"))).toSeq ==
      Seq((1L, 2L, 750000L), (2L, 2L, 1000000L)))
  }
}
