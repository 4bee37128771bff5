package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Probabilistic record linkage (Fellegi & Sunter 1969, "A Theory
  * for Record Linkage") — the standard decision model over blocked
  * candidate pairs: each compared field contributes log2(m/u) when it
  * agrees (m = P(agree | match), u = P(agree | non-match)) and
  * log2((1-m)/(1-u)) when it disagrees; the pair's total weight cuts
  * into match / review / non-match bands. Complements
  * [[Joins.fuzzyMatch]] (edit-distance candidate generation) and the
  * entity clustering in llmdata — this is the SCORING calculus.
  */
object Linkage {

  /** Per-field quantized weights: FLOOR(scale * log2-ratio) — floor,
    * not round, because round-half differs across engines for the
    * NEGATIVE disagreement weights (Java rounds half-up, most SQL
    * engines half-away-from-zero); floor is identical everywhere.
    * At scale 1e6 the cross-engine ln ulp (~1e-16 relative) moves the
    * floored argument by ~1e-10 — no flip risk. Computed ONCE on the
    * driver; pair scoring is then pure long arithmetic.
    */
  def fsWeights(fields: Seq[(String, Double, Double)],
      scale: Long = 1000000L): Seq[(String, Long, Long)] =
    fields.map { case (f, m, u) =>
      require(m > 0 && m < 1 && u > 0 && u < 1 && m > u,
        s"fsWeights: field $f needs 0 < u < m < 1, got m=$m u=$u")
      (f,
        math.floor(scale * math.log(m / u) / math.log(2.0)).toLong,
        math.floor(scale * math.log((1 - m) / (1 - u)) /
          math.log(2.0)).toLong)
    }

  /** Blocked Fellegi-Sunter linkage: candidate pairs share a blocking
    * key (both sides census-guarded — per-block fan-out is the
    * quadratic bomb, the fuzzyMatch rule), each pair scores the exact
    * long SUM of per-field agreement/disagreement weights (a NULL on
    * either side counts as disagreement — SQL null-equality falls
    * through to the else branch in every engine), and the decision
    * bands at `upperQ` / `lowerQ` (quantized thresholds, same 1e6
    * scale as [[fsWeights]]). Emits every candidate pair with
    * (id_a, id_b, score_q, decision); callers typically filter
    * non-matches before materializing.
    */
  def fellegiSunter(a: DataFrame, b: DataFrame, id: String,
      blockCol: String, fields: Seq[(String, Double, Double)],
      upperQ: Long, lowerQ: Long, maxPerBlock: Int = 10000)
      : DataFrame = {
    require(upperQ > lowerQ,
      s"fellegiSunter: upperQ $upperQ <= lowerQ $lowerQ")
    val ws = fsWeights(fields)
    def side(df: DataFrame, p: String) = df.select(
      col(id).as(s"id_$p") +: col(blockCol).as("__blk") +:
        fields.map { case (f, _, _) => col(f).as(s"${f}_$p") }: _*)
    // NOT pinned (r15 probe): pinning pa/pb (and aliasing pb off pa
    // for self-linkage) to spare the guard's construction re-run
    // read q254 0.61 -> 1.03s, q263 flat — the sides are cheap
    // projections and the pin's materialization job costs more than
    // the saved re-scan
    val pa = side(a, "a")
    val pb = side(b, "b")
    for ((side, df) <- Seq("a" -> pa, "b" -> pb))
      Guard(df.groupBy(col("__blk")).count(), col("count"), maxPerBlock,
        "fellegiSunter", w => s"densest block of side $side holds $w records",
        "refine the key")
    val score = ws.foldLeft(lit(0L)) { case (acc, (f, wAgree, wDis)) =>
      acc + when(col(s"${f}_a") === col(s"${f}_b"), lit(wAgree))
        .otherwise(lit(wDis))
    }
    pa.join(pb, Seq("__blk"))
      .withColumn("score_q", score)
      .withColumn("decision",
        when(col("score_q") >= upperQ, "match")
          .when(col("score_q") <= lowerQ, "non_match")
          .otherwise("review"))
      .select(col("id_a"), col("id_b"), col("score_q"),
        col("decision"))
  }
}
