package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Stats
import graft.llmdata.{Dedup, TextAnalysis}
import graft.ops._

/** The largest-group skew guard ([[graft.ops.Guard]]) at every operator
  * that self-joins a frame on a shared key, plus the count guards that
  * refuse an oversized census.
  *
  * Each site row feeds one degenerate input (three rows in one group)
  * under a cap of 2, and pins the WHOLE refusal message: the one
  * template `<site>: <what> (> <cap>) — <remedy>`. A lint scan keeps a
  * hand-written copy of the guard from growing back.
  */
class GuardSpec extends SparkSuite {
  import spark.implicits._

  private val cap = 2
  private def three[T](f: Int => T): Seq[T] = (1 to 3).map(f)

  // three points in one latitude band and one cell; one far point
  private def dense: DataFrame =
    three(i => (i.toLong, 0.0, i / 100000.0)).toDF("id", "lat", "lon")
  private def lone: DataFrame =
    Seq((9L, 40.0, 40.0)).toDF("id", "lat", "lon")

  private def words: DataFrame =
    three(i => (i.toLong, "alpha")).toDF("doc_id", "text")
  private def names: DataFrame =
    Seq("abc", "abd", "abe").toDF("name")
  private def recs(n: Int): DataFrame =
    (1 to n).map(i => (i.toLong, "b", s"n$i")).toDF("id", "blk", "name")
  private def series: DataFrame =
    three(i => ("s", 1L, i.toLong, (i * i).toLong))
      .toDF("s", "season", "x", "y")

  private val sites: Seq[(String, () => Any, String)] = Seq(
    ("commonNeighbors", () => Graph.commonNeighbors(
        three(i => (i.toLong, 9L)).toDF("node", "nbr"), 1L,
        maxDegree = cap),
      "commonNeighbors: a key is shared by 3 members (> 2) — prune " +
        "hubs (hubPolicy drop/sample) or raise the cap"),
    ("setSimJoin", () => Dedup.setSimJoin(words, "doc_id", "text", 1L,
        1L, maxPerToken = cap),
      "setSimJoin: a prefix token indexes 3 records (> 2) — threshold " +
        "too low for this corpus"),
    ("containmentJoin", () => Dedup.containmentJoin(words, "doc_id",
        "text", 1L, 1L, maxPerToken = cap),
      "containmentJoin: a token indexes 3 records (> 2) — strip " +
        "stopword-grade tokens first"),
    ("basketRules", () => Association.basketRules(
        Seq("a", "b", "c").map(i => (1L, i)).toDF("basket", "item"),
        "basket", "item", 1L, maxPerBasket = cap),
      "basketRules: largest basket has 3 distinct items (> 2) — " +
        "coarsen the item key"),
    ("radiusJoin side a", () => Geo.radiusJoin(dense, lone, 1000.0,
        maxPerBand = cap),
      "radiusJoin: densest latitude band holds 3 points (> 2) — use a " +
        "finer cell scheme"),
    ("radiusJoin side b", () => Geo.radiusJoin(lone, dense, 1000.0,
        maxPerBand = cap),
      "radiusJoin: densest latitude band of side b holds 3 points " +
        "(> 2) — use a finer cell scheme"),
    ("radiusJoinCells side a", () => Geo.radiusJoinCells(dense, lone,
        1000.0, maxPerCell = cap),
      "radiusJoinCells: densest cell of side a holds 3 points (> 2) — " +
        "use a smaller radius or pre-aggregate co-located points"),
    ("radiusJoinCells side b", () => Geo.radiusJoinCells(lone, dense,
        1000.0, maxPerCell = cap),
      "radiusJoinCells: densest cell of side b holds 3 points (> 2) — " +
        "use a smaller radius or pre-aggregate co-located points"),
    ("fuzzyMatch", () => Joins.fuzzyMatch(names, "name",
        _ => lit("one"), maxDist = 1, maxPerBlock = cap),
      "fuzzyMatch: largest block has 3 distinct values (> 2) — choose " +
        "a finer blocking key"),
    ("fuzzyMatchJw", () => Joins.fuzzyMatchJw(names, "name",
        _ => lit("one"), minSim = 0.9, maxPerBlock = cap),
      "fuzzyMatchJw: largest block has 3 distinct values (> 2) — " +
        "choose a finer blocking key"),
    ("fellegiSunter side a", () => Linkage.fellegiSunter(recs(3),
        recs(1), "id", "blk", Seq(("name", 0.9, 0.1)), 1L, 0L,
        maxPerBlock = cap),
      "fellegiSunter: densest block of side a holds 3 records (> 2) — " +
        "refine the key"),
    ("fellegiSunter side b", () => Linkage.fellegiSunter(recs(1),
        recs(3), "id", "blk", Seq(("name", 0.9, 0.1)), 1L, 0L,
        maxPerBlock = cap),
      "fellegiSunter: densest block of side b holds 3 records (> 2) — " +
        "refine the key"),
    ("mannKendall", () => RankStats.mannKendall(series, col("s"),
        col("x"), col("y"), maxPoints = cap),
      "mannKendall: a series holds 3 points (> 2) — aggregate to a " +
        "coarser time grain first"),
    ("mannKendallSeasonal", () => RankStats.mannKendallSeasonal(series,
        col("s"), col("season"), col("x"), col("y"), maxPerSeason = cap),
      "mannKendallSeasonal: a (series, season) holds 3 points (> 2) — " +
        "coarsen the time grain"),
    ("theilSen", () => Stats.theilSen(series, "s", "x", "y",
        maxPoints = cap),
      "theilSen: a series holds 3 points (> 2) — aggregate to a " +
        "coarser time grain first"),
    ("theilSenCi", () => Stats.theilSenCi(series, "s", "x", "y",
        maxPoints = cap),
      "theilSenCi: a series holds 3 points (> 2) — aggregate to a " +
        "coarser time grain first"))

  /** the refusal a call throws, with the pins it left released */
  private def refusal(run: () => Any): String =
    try intercept[IllegalArgumentException](run()).getMessage
    finally Caches.release()

  private val template = """^(\w+): .+ \(> 2\) — (\S.*)$""".r

  for ((name, run, want) <- sites)
    test(s"skew guard refuses a degenerate group: $name") {
      val got = refusal(run)
      assert(got == s"requirement failed: $want")
      val body = got.stripPrefix("requirement failed: ")
      body match {
        case template(site, remedy) =>
          assert(name.startsWith(site) && remedy.trim.nonEmpty, body)
        case _ => fail(s"not the guard template: $body")
      }
    }

  private val countSites: Seq[(String, () => Any)] = Seq(
    "Cox.fit" -> (() => Cox.fit(
      three(i => (i.toLong, 1L, i.toDouble)).toDF("t", "e", "x"),
      col("t"), col("e"), Seq("x" -> col("x")), maxDistinct = 2L)),
    "tCloseness" -> (() => DataQuality.tCloseness(
      three(i => (s"g$i", 1L)).toDF("g", "v"), Seq("g"), col("v"),
      tPpm = 1000L, maxGroups = 2L)),
    "elo" -> (() => Preference.elo(
      Seq((1L, "a", "b"), (2L, "b", "c")).toDF("o", "w", "l"),
      col("o"), col("w"), col("l"), maxItems = 2)),
    "brierDecomposition" -> (() => Eval.brierDecomposition(
      three(i => (i / 10.0, 1L)).toDF("p", "y"), col("p"), col("y"),
      maxCells = 2L)),
    "krippendorffAlpha" -> (() => Eval.krippendorffAlpha(
      three(i => ("u", s"v$i")).toDF("u", "v"), col("u"), col("v"),
      maxRaters = 2)),
    "jsDivergence" -> (() => TextAnalysis.jsDivergence(
      Seq(("a", "x y"), ("b", "z")).toDF("s", "t"), col("s"), col("t"),
      maxVocab = 2L)),
    "jsDivergenceMatrix" -> (() => TextAnalysis.jsDivergenceMatrix(
      Seq(("a", "x y"), ("b", "z")).toDF("s", "t"), col("s"), col("t"),
      maxVocab = 2L)))

  for ((site, run) <- countSites)
    test(s"count guard names a remedy: $site") {
      val got = refusal(run)
      assert(got.startsWith(s"requirement failed: $site: "), got)
      val i = got.indexOf(" — ")
      assert(i > 0 && got.substring(i + 3).trim.nonEmpty, got)
    }

  test("skew guard: a boilerplate cluster of 100001 identical docs " +
      "refuses minhashCandidates at the call, before any pair stage") {
    val docs = spark.range(100001L).select(col("id").as("doc_id"),
      lit("accept all cookies to continue reading").as("text"))
    assert(refusal(() => Dedup.minhashCandidates(docs, "doc_id",
        "text")) == "requirement failed: minhashCandidates: a band " +
      "bucket holds 100001 documents (> 100000) — run Dedup.exact " +
      "first and strip templated boilerplate (identical or " +
      "near-identical documents share band buckets)")
  }

  test("skew guard: cap 0 skips the check, an empty census passes, " +
      "and a blank remedy is refused") {
    val census = Seq(("k", 1000000L)).toDF("key", "count")
    Guard(census, col("count"), 0L, "spec", w => s"$w", "remedy")
    Guard(census.where(lit(false)), col("count"), 1L, "spec",
      w => s"$w", "remedy")
    assert(refusal(() => Guard(census, col("count"), 10L, "spec",
        w => s"a key holds $w rows", "split the key")) ==
      "requirement failed: spec: a key holds 1000000 rows (> 10) — " +
        "split the key")
    intercept[IllegalArgumentException] {
      Guard(census, col("count"), 0L, "spec", w => s"$w", " ")
    }
    // cap 0 at a site: the operator runs and answers
    assert(Joins.fuzzyMatch(names, "name", _ => lit("one"), maxDist = 1,
      maxPerBlock = 0).count() == 3L)
  }

  /** Every main source file, by name, with its text. */
  private lazy val mainSources: Seq[(String, String)] = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    files(new java.io.File("src/main/scala")).map { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      try f.getPath -> s.mkString finally s.close()
    }
  }

  private def fileName(path: String) = new java.io.File(path).getName

  test("no hand-written largest-group guard outside Guard.scala") {
    val idioms = Seq("require(worst", ".agg(coalesce(max(col(\"count\"))")
    assert(mainSources.exists(s => fileName(s._1) == "Guard.scala"),
      "main sources not found")
    val offenders = for {
      (path, src) <- mainSources if fileName(path) != "Guard.scala"
      idiom <- idioms if src.contains(idiom)
    } yield s"$path: $idiom"
    assert(offenders.isEmpty,
      s"hand-written skew guards: ${offenders.mkString("; ")} — call " +
        "graft.ops.Guard and add a GuardSpec row")
  }

  test("the portable id hash's multiplier 2654435761 is written only " +
      "in the hash module") {
    // exempt: the hash module itself, and the catalog files, whose
    // DuckDB oracle SQL spells the formula out as the contract
    def exempt(name: String) = name == "PortableTokenHash.scala" ||
      (name.startsWith("Queries") && name.endsWith(".scala"))
    // the one other site: Dedup.portableMinhashes' per-seed JVM
    // multiplier A_i = (i·2654435761) mod P, minhash mixing (not h_k)
    val allowed = Set("Dedup.scala" ->
      "val a = ((m + 1).toLong * 2654435761L) % P")
    def code(src: String) = src.replaceAll("(?s)/\\*.*?\\*/", "")
      .linesIterator.map(_.replaceAll("//.*", "").trim)
    assert(mainSources.exists(s => fileName(s._1) ==
      "PortableTokenHash.scala"), "main sources not found")
    val offenders = (for {
      (path, src) <- mainSources if !exempt(fileName(path))
      line <- code(src) if line.contains("2654435761") &&
        !allowed(fileName(path) -> line)
    } yield path).distinct.sorted
    assert(offenders.isEmpty,
      s"hand-copied portable id hash in ${offenders.size} files: " +
        s"${offenders.mkString(", ")} — call " +
        "graft.functions.PortableHash")
  }
}
