package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pairwise-preference models — the aggregation layer under RLHF /
  * preference-tuning data pipelines: billions of (winner, loser)
  * comparisons reduced to a per-item strength table.
  *
  * Reference scope: seafan has no preference layer; this is a
  * training-data-pipeline extension (prompt mandate), same family as
  * the DoReMi mixture learner (llmdata/Sampling.scala) whose
  * scaled-integer trajectory discipline it reuses.
  */
object Preference {

  private val Scale = 1000000L

  /** BRADLEY–TERRY strengths (Bradley & Terry 1952) via the MM
    * algorithm (Hunter 2004, Ann. Statist. 32(1) — the standard
    * minorize-maximize update p_i' = W_i / Σ_j n_ij/(p_i+p_j)),
    * run for a FIXED `steps` iterations in scaled-integer
    * arithmetic so the whole trajectory is exactly replayable by
    * any engine (the q151 DoReMi / q358 bisection discipline):
    *
    *   - strengths live on the 1e-6 lattice (long, init 1.0);
    *   - each MM term n_ij·S²/(p_i+p_j) is one integer floor
    *     division — exact, order-independent to sum;
    *   - the normalize step pins Σp = K·S (mean strength 1.0)
    *     with one more floor division.
    *
    * Distribution shape: the N-row comparison stream is reduced to
    * the K²-sparse win matrix by one hash aggregation (the only
    * data-sized pass); the O(K²·steps) trajectory runs on the
    * collected census, guarded BEFORE the collect by `maxItems`
    * (distinct items, counted distributed) and `maxCells` (the
    * driver-memory budget on collected win-matrix cells — ~100 B a
    * cell, so the 1M default caps the collect near 100 MB; real
    * pairwise data is K·avg-degree sparse, far under K²). Both
    * checks fire on aggregates only — nothing data-sized ever
    * reaches the driver. Numerators overflow long past ~9e6
    * comparisons per cell, so the driver loop is BigInt and the
    * oracle HUGEINT.
    *
    * Items that never win get strength 0 (the MLE boundary); two
    * zero-win items can never share a decisive game, so no MM
    * denominator hits 0 after the uniform first step.
    *
    * Input: one row per decisive comparison. Ties must be dropped
    * by the caller (they carry no Bradley–Terry information).
    * Output: (item, games, wins, strength, score) — strength on the
    * 1e-6 lattice after `steps` updates, score = strength/1e6.
    */
  def bradleyTerry(comparisons: DataFrame, winner: Column, loser: Column,
      steps: Int = 10, maxItems: Int = 4096,
      maxCells: Long = 1000000L): DataFrame = {
    require(steps >= 1, s"bradleyTerry: steps $steps")
    val cmp = comparisons
      .select(winner.cast("string").as("__w"),
        loser.cast("string").as("__l"))
      .where(col("__w").isNotNull && col("__l").isNotNull &&
        col("__w") =!= col("__l"))
    // the one data-sized pass: N comparisons -> K²-sparse win counts
    val dirWins = graft.Caches.pin(
      cmp.groupBy(col("__w").as("i"), col("__l").as("j"))
        .agg(count(lit(1)).as("w")))
    // both census guards run DISTRIBUTED, before anything is
    // collected: item count first (the semantic bound), then the
    // cell count against the driver-memory budget
    val nItems = dirWins.select(col("i").as("x"))
      .union(dirWins.select(col("j").as("x"))).distinct().count()
    require(nItems <= maxItems.toLong,
      s"bradleyTerry: $nItems items > maxItems $maxItems — " +
        "bucket the item space")
    val nCells = dirWins.count()
    require(nCells <= maxCells,
      s"bradleyTerry: $nCells win-matrix cells > maxCells $maxCells " +
        "driver budget — raise maxCells or bucket the item space")
    val g = dirWins.select(col("i"), col("j"), col("w"))
      .join(dirWins.select(col("j").as("i"), col("i").as("j"),
        col("w").as("rev")), Seq("i", "j"), "full_outer")
      .na.fill(0L, Seq("w", "rev"))
      .select(col("i"), col("j"), (col("w") + col("rev")).as("n"),
        col("w"))
    val census = g.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
      .sortBy(r => (r._1, r._2))
    require(census.nonEmpty, "bradleyTerry: no decisive comparisons")
    val items = census.map(_._1).distinct.sorted
    val k = items.length
    require(k <= maxItems,
      s"bradleyTerry: $k items > maxItems $maxItems — bucket the item space")
    val idx = items.zipWithIndex.toMap
    val games = Array.fill(k)(0L)
    val wins = Array.fill(k)(0L)
    census.foreach { case (i, _, n, w) =>
      val ii = idx(i); games(ii) += n; wins(ii) += w
    }
    val s2 = BigInt(Scale) * BigInt(Scale)
    val p = Array.fill(k)(BigInt(Scale))
    var t = 0
    while (t < steps) {
      val d = Array.fill(k)(BigInt(0))
      census.foreach { case (i, j, n, _) =>
        d(idx(i)) += BigInt(n) * s2 / (p(idx(i)) + p(idx(j)))
      }
      val raw = Array.tabulate(k) { ii =>
        if (wins(ii) == 0L) BigInt(0) else BigInt(wins(ii)) * s2 / d(ii)
      }
      val s = raw.sum
      var ii = 0
      while (ii < k) { p(ii) = raw(ii) * k * Scale / s; ii += 1 }
      t += 1
    }
    val spark = comparisons.sparkSession
    import spark.implicits._
    items.indices.map { ii =>
      (items(ii), games(ii), wins(ii), p(ii).toLong,
        p(ii).toLong.toDouble / Scale)
    }.toSeq.toDF("item", "games", "wins", "strength", "score")
  }

  /** The unrolled-CTE oracle half of [[bradleyTerry]]: given SQL for
    * a `cmp(winner, loser)` relation, emits the full DuckDB query
    * replaying the identical integer MM trajectory (HUGEINT where
    * the driver loop is BigInt). Kept next to the operator so the
    * two can never drift apart.
    */
  def bradleyTerrySql(cmpSql: String, steps: Int): String = {
    // AS MATERIALIZED is load-bearing: each step references the
    // previous strengths TWICE (pi/pj), so DuckDB's default CTE
    // inlining would expand 4^steps copies of the base scan.
    val stepCtes = (1 to steps).map { t =>
      val prev = if (t == 1) "t0" else s"t${t - 1}"
      s"""d$t AS MATERIALIZED (SELECT g.i,
               sum((CAST(g.n AS HUGEINT) * 1000000 * 1000000)
                 // (pi.p + pj.p)) AS d
             FROM g JOIN $prev pi ON g.i = pi.i
                    JOIN $prev pj ON g.j = pj.i
             GROUP BY g.i),
           r$t AS MATERIALIZED (SELECT it.i,
               CASE WHEN it.wins = 0 THEN CAST(0 AS HUGEINT)
                 ELSE (CAST(it.wins AS HUGEINT) * 1000000 * 1000000)
                   // d$t.d END AS raw
             FROM items it JOIN d$t ON it.i = d$t.i),
           t$t AS MATERIALIZED (SELECT i,
               (raw * (SELECT count(*) FROM items) * 1000000)
                 // (SELECT sum(raw) FROM r$t) AS p
             FROM r$t)"""
    }.mkString(",\n           ")
    s"""WITH cmp AS ($cmpSql),
           dw AS (SELECT winner AS i, loser AS j, count(*) AS w
                  FROM cmp GROUP BY 1, 2),
           g AS MATERIALIZED (SELECT coalesce(a.i, b.i) AS i,
                   coalesce(a.j, b.j) AS j,
                   coalesce(a.w, 0) + coalesce(b.w, 0) AS n,
                   coalesce(a.w, 0) AS w
                 FROM dw a
                 FULL OUTER JOIN
                   (SELECT j AS i, i AS j, w FROM dw) b
                   USING (i, j)),
           items AS MATERIALIZED (SELECT i AS i, sum(n) AS games, sum(w) AS wins
                     FROM g GROUP BY 1),
           t0 AS (SELECT i, CAST(1000000 AS HUGEINT) AS p FROM items),
           $stepCtes
      SELECT it.i AS item, CAST(it.games AS BIGINT) AS games,
             CAST(it.wins AS BIGINT) AS wins,
             CAST(tf.p AS BIGINT) AS strength,
             CAST(tf.p AS DOUBLE) / 1000000.0 AS score
      FROM items it JOIN t$steps tf ON it.i = tf.i
      ORDER BY item"""
  }

  /** The 32-bucket expected-score lookup shared by [[elo]] and
    * [[eloSql]] — the FIDE convention: the logistic
    * E = 1/(1+10^(−d/400)) tabulated at 25-point rating-diff
    * buckets over [−400, +400), clamped outside. The table is
    * computed ONCE here and embedded as literals in the generated
    * oracle SQL, so cross-engine exactness never depends on pow()
    * replay — after this lookup the whole trajectory is pure
    * integer.
    */
  val EloTable: IndexedSeq[Long] = (0 until 32).map { b =>
    val mid = b * 25.0 + 12.5 - 400.0
    math.floor(1e6 / (1.0 + math.pow(10.0, -mid / 400.0)) + 0.5)
      .toLong
  }

  /** ELO RATING TRAJECTORY (Elo 1978; the Chatbot-Arena-style
    * leaderboard semantics) — the ONLINE companion to the batch
    * [[bradleyTerry]] MLE: ratings update game by game in event
    * order, so the result reflects WHEN upsets happened, not just
    * how many. Same family, opposite reduction: Bradley-Terry
    * compresses N games to a K²-sparse census; Elo is inherently
    * sequential (every update reads the two current ratings), so
    * the trajectory runs on the collected ORDERED game list,
    * guarded pre-collect by `maxGames`/`maxItems` (the
    * [[bradleyTerry]] guard discipline — for unbounded-scale rating
    * use q365's batch path; Elo IS the leaderboard semantics).
    *
    * All integer on the ppm lattice: ratings start at `initPpm`
    * (1500.0), the winner's expected score comes from the shared
    * [[EloTable]] lookup on the clamped rating diff, and the
    * zero-sum update is r_w += K·(1e6 − E), r_l −= the same —
    * no float ever touches the trajectory, so any engine replays it
    * bit for bit ([[eloSql]] emits the recursive-CTE replay with
    * the SAME table as literals).
    *
    * `games` rows are (ord, winner, loser); the processing order is
    * (ord, winner, loser) ascending — pass a unique `ord` or accept
    * the documented tiebreak. Emits one row per item:
    * (item, games, wins, rating_ppm, rating).
    */
  def elo(games: DataFrame, ord: Column, winner: Column,
      loser: Column, kFactor: Long = 32L,
      initPpm: Long = 1500000000L, maxGames: Long = 200000L,
      maxItems: Int = 4096): DataFrame = {
    require(kFactor >= 1 && kFactor <= 1000, s"elo: kFactor $kFactor")
    val g = graft.Caches.pin(games.select(ord.as("__o"),
      winner.cast("string").as("__w"), loser.cast("string").as("__l"))
      .where(col("__o").isNotNull && col("__w").isNotNull &&
        col("__l").isNotNull && col("__w") =!= col("__l")))
    val nGames = g.count()
    require(nGames > 0,
      "elo: no games after hygiene filtering (null ord/winner/loser " +
        "and self-games are dropped)")
    require(nGames <= maxGames,
      s"elo: $nGames games (> $maxGames) — sample the stream or use " +
        "bradleyTerry (the batch path) at this scale")
    val nItems = g.select(col("__w").as("x"))
      .union(g.select(col("__l").as("x"))).distinct().count()
    require(nItems <= maxItems.toLong,
      s"elo: $nItems items > maxItems $maxItems — bucket the rare " +
        "items or use bradleyTerry (the batch path) at this scale")
    val seq = g.orderBy(col("__o"), col("__w"), col("__l"))
      .select(col("__w"), col("__l")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val ratings = scala.collection.mutable.HashMap.empty[String, Long]
    val gp = scala.collection.mutable.HashMap.empty[String, Long]
    val wp = scala.collection.mutable.HashMap.empty[String, Long]
    seq.foreach { case (w, l) =>
      val rw = ratings.getOrElse(w, initPpm)
      val rl = ratings.getOrElse(l, initPpm)
      val b = math.min(31L,
        math.max(0L, Math.floorDiv(rw - rl + 400000000L, 25000000L)))
      val delta = kFactor * (1000000L - EloTable(b.toInt))
      ratings(w) = rw + delta
      ratings(l) = rl - delta
      gp(w) = gp.getOrElse(w, 0L) + 1; gp(l) = gp.getOrElse(l, 0L) + 1
      wp(w) = wp.getOrElse(w, 0L) + 1
    }
    val spark = games.sparkSession
    import spark.implicits._
    ratings.keys.toSeq.sorted.map { it =>
      val r = ratings(it)
      (it, gp(it), wp.getOrElse(it, 0L), r, r.toDouble / 1e6)
    }.toDF("item", "games", "wins", "rating_ppm", "rating")
  }

  /** The recursive-CTE oracle half of [[elo]]: given SQL for a
    * `(ts, w, l)` game relation, emits the DuckDB query replaying
    * the identical integer trajectory — per-step state is the full
    * rating list carried as a LIST of structs (a recursive CTE may
    * reference itself once, so the two ratings a game needs are
    * read from the carried list, not a second self-join), with the
    * [[EloTable]] embedded as literals. Kept next to the operator
    * so the two cannot drift.
    */
  def eloSql(gamesSql: String, kFactor: Long = 32L,
      initPpm: Long = 1500000000L): String = {
    val et = EloTable.zipWithIndex
      .map { case (v, b) => s"($b, $v)" }.mkString(", ")
    // g0 replays elo()'s input hygiene (null ord/winner/loser and
    // self-games dropped) so the pairing holds on dirty streams too.
    s"""WITH RECURSIVE
           graw AS ($gamesSql),
           g0 AS MATERIALIZED (SELECT * FROM graw
                 WHERE ts IS NOT NULL AND w IS NOT NULL
                   AND l IS NOT NULL AND w <> l),
           games AS MATERIALIZED (SELECT row_number()
                 OVER (ORDER BY ts, w, l) AS t, w, l FROM g0),
           its AS MATERIALIZED (SELECT DISTINCT item FROM (
                     SELECT w AS item FROM g0
                     UNION ALL SELECT l FROM g0)),
           et(b, e) AS (VALUES $et),
           st(t, s) AS (
             SELECT CAST(0 AS BIGINT),
                 (SELECT list(struct_pack(item := item,
                    r := CAST($initPpm AS BIGINT)) ORDER BY item)
                  FROM its)
             UNION ALL
             SELECT g.t, list_transform(st.s, x ->
                 struct_pack(item := x.item,
                   r := CASE WHEN x.item = g.w
                       THEN x.r + $kFactor * (1000000 - ee.e)
                     WHEN x.item = g.l
                       THEN x.r - $kFactor * (1000000 - ee.e)
                     ELSE x.r END))
             FROM st
             JOIN games g ON g.t = st.t + 1
             JOIN et ee ON ee.b = least(greatest(
                 (list_filter(st.s, x -> x.item = g.w)[1].r
                  - list_filter(st.s, x -> x.item = g.l)[1].r
                  + 400000000) // 25000000, 0), 31)
           ),
           fin AS (SELECT s FROM st ORDER BY t DESC LIMIT 1),
           flat AS (SELECT unnest(s) AS u FROM fin),
           gw AS (SELECT w AS item, count(*) AS wins FROM g0
                  GROUP BY 1),
           gl AS (SELECT l AS item, count(*) AS losses FROM g0
                  GROUP BY 1)
      SELECT u.item AS item,
             CAST(coalesce(wins, 0) + coalesce(losses, 0) AS BIGINT)
               AS games,
             CAST(coalesce(wins, 0) AS BIGINT) AS wins,
             CAST(u.r AS BIGINT) AS rating_ppm,
             CAST(u.r AS DOUBLE) / 1000000.0 AS rating
      FROM flat LEFT JOIN gw ON gw.item = u.item
      LEFT JOIN gl ON gl.item = u.item
      ORDER BY item"""
  }
}
