package graft

import graft.llmdata.{Bpe, Dedup, MergeLearner}
import org.apache.spark.sql.functions._

/** BPE learning/serving pinned against an independent single-node
  * reference implementation (naive nested loops over in-memory word
  * lists — deliberately nothing like the distributed census) on
  * corpora small enough to enumerate by hand.
  */
class BpeSpec extends SparkSuite {
  import spark.implicits._

  // ---- independent reference implementation ------------------------

  private def refTokenize(s: String): Seq[String] =
    s.toLowerCase.replaceAll("[^a-z0-9 ]", "").trim
      .split(" +").filter(_.nonEmpty).toSeq

  /** reference pair census over word types weighted by count */
  private def refPairs(types: Map[Seq[String], Long])
      : Map[(String, String), Long] = {
    val m = scala.collection.mutable.HashMap[(String, String), Long]()
    for ((syms, cnt) <- types; i <- 0 until syms.length - 1)
      m((syms(i), syms(i + 1))) =
        m.getOrElse((syms(i), syms(i + 1)), 0L) + cnt
    m.toMap
  }

  private def refMergeWord(syms: Seq[String], l: String, r: String)
      : Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** reference fit: argmax with (count desc, pair asc) tiebreak */
  private def refFit(corpus: Seq[String], nMerges: Int,
      minPairCount: Long = 2L): Seq[(String, String)] = {
    var types: Map[Seq[String], Long] = corpus.flatMap(refTokenize)
      .groupBy(identity).view
      .map { case (t, occ) =>
        (t.map(_.toString): Seq[String]) -> occ.size.toLong }
      .toMap
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var done = false
    while (merges.size < nMerges && !done) {
      val ps = refPairs(types)
      if (ps.isEmpty) done = true
      else {
        val (pair, c) = ps.toSeq.minBy { case ((l, r), c) =>
          (-c, l, r) }
        if (c < minPairCount) done = true
        else {
          merges += pair
          types = types.toSeq.map { case (syms, cnt) =>
            (refMergeWord(syms, pair._1, pair._2), cnt)
          }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        }
      }
    }
    merges.toSeq
  }

  private def refEncode(tok: String,
      ranks: Map[(String, String), Int]): Seq[String] = {
    var syms: Seq[String] = tok.map(_.toString)
    var done = false
    while (!done && syms.length >= 2) {
      val present = syms.zip(syms.tail)
        .filter(ranks.contains).map(p => ranks(p) -> p)
      if (present.isEmpty) done = true
      else {
        val (_, (l, r)) = present.minBy(_._1)
        syms = refMergeWord(syms, l, r)
      }
    }
    syms
  }

  // ---- fixtures ----------------------------------------------------

  private val corpus = Seq(
    "low lower lowest low low",
    "new newer newest new newer",
    "the low new low THE the",
    "widest wide wider wide wide")
  private val docs = corpus.zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  /** a few word types over the skewed "aab bc" alphabet, one document
    * per type repeating it 1..20 times — count ties and repeated
    * merges, as in the incremental == recount spec
    */
  private def randomCorpus(rnd: scala.util.Random) = {
    val alpha = "aabbc"
    (0 until 4 + rnd.nextInt(12)).map { i =>
      val t = (0 to rnd.nextInt(8))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      (i.toLong, Seq.fill(1 + rnd.nextInt(20))(t).mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("pairStats equals the reference pair census") {
    val got = Bpe.pairStats(docs, "text").collect()
      .map(r => (r.getAs[String]("sym_l"), r.getAs[String]("sym_r")) ->
        r.getAs[Long]("pair_count")).toMap
    val types = corpus.flatMap(refTokenize).groupBy(identity).view
      .map { case (t, occ) =>
        (t.map(_.toString): Seq[String]) -> occ.size.toLong }.toMap
    assert(got == refPairs(types))
  }

  test("fit learns the reference merge list in the reference order") {
    val (model, table) = Bpe.fit(docs, "text", nMerges = 12)
    val want = refFit(corpus, 12)
    assert(model.merges == want,
      s"got ${model.merges}\nwant $want")
    // audit table mirrors the model, ranked 0..n-1
    val rows = table.orderBy("rank").collect()
    assert(rows.map(r => (r.getAs[String]("sym_l"),
      r.getAs[String]("sym_r"))).toSeq == want)
    assert(rows.map(_.getAs[Int]("rank")).toSeq == rows.indices)
    assert(rows.forall(r => r.getAs[String]("merged") ==
      r.getAs[String]("sym_l") + r.getAs[String]("sym_r")))
  }

  test("distributed merge rounds equal the driver loop (forced via " +
      "maxDriverTypes = 0) and the reference") {
    val (dist, distTable) = Bpe.fit(docs, "text", nMerges = 8,
      maxDriverTypes = 0)
    val (drv, _) = Bpe.fit(docs, "text", nMerges = 8)
    assert(dist.merges == drv.merges)
    assert(dist.merges == refFit(corpus, 8))
    assert(distTable.orderBy("rank").collect()
      .map(r => (r.getAs[String]("sym_l"), r.getAs[String]("sym_r")))
      .toSeq == drv.merges)
  }

  test("incremental driver loop equals the full-recount twin on " +
      "randomized corpora (deep merges, duplicate-pair regimes)") {
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 0 until 12) {
      // skewed alphabet so pair counts collide and ties exercise the
      // (sym_l, sym_r) tie-break; short alphabet drives repeated
      // merges deep enough to re-create earlier pair strings
      val alpha = "aab bc".filter(_ != ' ')
      val nTypes = 5 + rnd.nextInt(40)
      val types = (0 until nTypes).map { _ =>
        val len = 1 + rnd.nextInt(9)
        val t = (0 until len)
          .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
        (t, 1L + rnd.nextInt(50))
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toArray
      val n = 1 + rnd.nextInt(30)
      val inc = MergeLearner.fitDriver(types, Bpe.rule, n,
        minPairCount = 2L)
      val rec = MergeLearner.fitDriverRecount(types, Bpe.rule, n,
        minPairCount = 2L)
      assert(inc == rec, s"trial $trial diverged:\ninc $inc\nrec $rec")
    }
  }

  test("distributed merge rounds equal the driver loop on randomized " +
      "skewed corpora") {
    val rnd = new scala.util.Random(20261019L)
    for (trial <- 0 until 3) {
      val corpus = randomCorpus(rnd)
      val n = 1 + rnd.nextInt(8)
      val (_, dist) = Bpe.fit(corpus, "text", n, maxDriverTypes = 0)
      val (_, drv) = Bpe.fit(corpus, "text", n)
      def rows(t: org.apache.spark.sql.DataFrame) =
        t.orderBy("rank").collect().map(_.toSeq).toSeq
      assert(rows(dist) == rows(drv), s"trial $trial diverged")
    }
  }

  test("a fit whose text column raises releases every cache it " +
      "persisted, on both venues") {
    // a range, not a local relation: the optimizer evaluates a local
    // relation's raise_error at plan time, before anything persists
    val bad = spark.range(corpus.size).select(col("id").as("doc_id"),
      when(col("id") === 2L, raise_error(lit("bad text")))
        .otherwise(element_at(typedlit(corpus), col("id").cast("int") + 1))
        .as("text"))
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache()
    for (budget <- Seq(1 << 20, 0)) {
      val e = intercept[Exception] {
        Bpe.fit(bad, "text", nMerges = 4, maxDriverTypes = budget)
      }
      assert(e.getMessage.contains("bad text"))
      assert(cache.isEmpty, s"budget $budget left a cached table")
    }
  }

  test("fit stops early when no pair reaches minPairCount") {
    val tiny = Seq((0L, "ab cd")).toDF("doc_id", "text")
    val (model, table) = Bpe.fit(tiny, "text", nMerges = 10)
    assert(model.merges.isEmpty) // every pair occurs once < 2
    assert(table.count() == 0)
    val (m2, _) = Bpe.fit(tiny, "text", nMerges = 10, minPairCount = 1L)
    assert(m2.merges.nonEmpty)
  }

  test("encodeToken matches the reference greedy encoder, " +
      "including tokens unseen at fit time") {
    val (model, _) = Bpe.fit(docs, "text", nMerges = 12)
    val ranks = model.ranks
    for (tok <- Seq("low", "lowest", "newest", "wide", "unseenzz",
        "l", "", "lowlow")) {
      assert(Bpe.encodeToken(tok, ranks).toSeq == refEncode(tok, ranks),
        s"token '$tok'")
    }
  }

  test("encodeCounts: dictionary-join counts equal per-doc " +
      "reference encode sums") {
    val (model, _) = Bpe.fit(docs, "text", nMerges = 12)
    val got = Bpe.encodeCounts(docs, "doc_id", "text", model)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe"))).toMap
    val want = corpus.zipWithIndex.map { case (t, i) =>
      val toks = refTokenize(t)
      i.toLong -> (toks.size.toLong,
        toks.map(refEncode(_, model.ranks).size.toLong).sum)
    }.toMap
    assert(got == want)
    // fertility sanity: merges only ever shrink the symbol count
    val chars = corpus.flatMap(refTokenize).map(_.length.toLong).sum
    assert(got.values.map(_._2).sum <= chars)
    assert(got.values.forall { case (w, b) => b >= w })
  }

  test("fertility: stateless per-row counts equal encodeCounts, and " +
      "a MemoryStream in append mode scores identically to batch") {
    val (model, _) = Bpe.fit(docs, "text", nMerges = 12)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe"))).toSet
    val batch = rows(Bpe.fertility(docs, "doc_id", "text", model))
    assert(batch == rows(Bpe.encodeCounts(docs, "doc_id", "text", model)))
    // stream: same rows through micro-batches, APPEND mode (no state)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = Bpe.fertility(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", model)
      .writeStream.outputMode("append").format("memory")
      .queryName("t_bpe_fert").start()
    val data = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    in.addData(data.take(2)); q.processAllAvailable()
    in.addData(data.drop(2)); q.processAllAvailable(); q.stop()
    assert(rows(spark.sql(
      "SELECT doc_id, n_words, n_bpe FROM t_bpe_fert")) == batch)
  }

  test("encodeTokenDropout: p=0 is bit-identical to the greedy " +
      "encoder; p=1 is pure characters; per-seed deterministic and " +
      "seed-sensitive") {
    val (model, _) = Bpe.fit(docs, "text", nMerges = 12)
    val toks = corpus.flatMap(refTokenize).distinct
    toks.foreach { t =>
      for (seed <- 1L to 5L)
        assert(Bpe.encodeTokenDropout(t, model.ranks, 0.0, seed).toSeq ==
          Bpe.encodeToken(t, model.ranks).toSeq, s"p=0 diverged on '$t'")
      assert(Bpe.encodeTokenDropout(t, model.ranks, 1.0, 3L).toSeq ==
        t.map(_.toString), s"p=1 not chars on '$t'")
      val a = Bpe.encodeTokenDropout(t, model.ranks, 0.5, 11L).toSeq
      assert(Bpe.encodeTokenDropout(t, model.ranks, 0.5, 11L).toSeq == a)
    }
    // across seeds, at least one multi-merge token must vary at p=0.5
    val varied = toks.filter(_.length >= 4).exists { t =>
      (1L to 20L).map(s =>
        Bpe.encodeTokenDropout(t, model.ranks, 0.5, s).toSeq)
        .distinct.length > 1
    }
    assert(varied, "dropout never varied any segmentation across seeds")
  }

  test("dropoutCounts: deterministic per seed; p=1 equals the exact " +
      "char counts; dropout at p=0.5 only lengthens the merge-heavy " +
      "corpus") {
    val (model, _) = Bpe.fit(docs, "text", nMerges = 12)
    def tot(p: Double, seed: Long): Long =
      Bpe.dropoutCounts(docs, "doc_id", "text", model, p, seed)
        .agg(sum("n_bpe")).head().getLong(0)
    val chars = corpus.flatMap(refTokenize).map(_.length.toLong).sum
    assert(tot(1.0, 9L) == chars)
    val greedy = Bpe.encodeCounts(docs, "doc_id", "text", model)
      .agg(sum("n_bpe")).head().getLong(0)
    val mid = tot(0.5, 9L)
    assert(mid == tot(0.5, 9L))
    assert(greedy <= mid && mid <= chars,
      s"expected $greedy <= $mid <= $chars")
  }

  test("normalizeTokens and the reference tokenizer agree on the " +
      "fixture (contract the fit relies on)") {
    val got = docs.select(Dedup.normalizeTokens(col("text")).as("t"))
      .collect().map(_.getSeq[String](0))
    assert(got.toSeq == corpus.map(refTokenize))
  }

  test("save -> load round trip: identical merges in rank order, " +
      "identical encode") {
    val (model, _) = Bpe.fit(docs, "text", nMerges = 12)
    val path = java.nio.file.Files
      .createTempDirectory("bpe_model").toString
    Bpe.save(spark, model, path)
    val loaded = Bpe.load(spark, path)
    assert(loaded.merges == model.merges)
    val a = Bpe.encodeCounts(docs, "doc_id", "text", model)
      .orderBy("doc_id").collect().map(_.toSeq)
    val b = Bpe.encodeCounts(docs, "doc_id", "text", loaded)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }
}
