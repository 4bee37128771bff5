package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declarative data-quality rules with a one-pass violations report —
  * the Deequ-style (public AWS-lab design) constraint checking every
  * ingest pipeline needs before trusting 100 TB of arrivals.
  *
  * Evaluation cost model, by rule class:
  *   - row-wise rules (not_null / in_range / matches) all fold into
  *     ONE conditional-sum aggregate pass over the table — adding a
  *     rule adds a column, never a scan;
  *   - uniqueness is count(*) vs count(DISTINCT key) in the same
  *     pass (distinct adds its Expand — the one genuinely
  *     shuffle-bearing rule);
  *   - referential integrity is a LEFT ANTI join per dimension.
  *     No forced broadcast hint: Catalyst auto-broadcasts a dimension
  *     under the broadcast threshold and AQE converts at runtime from
  *     the dimension's TRUE size, while a huge dimension degrades to
  *     a shuffled anti-join instead of blowing driver memory — an
  *     unconditional hint would make the common case no faster and
  *     the big-dim case fatal.
  *
  * The report is one row per rule: (rule, column, n_rows,
  * n_violations, pass) — machine-checkable (gate on pass) and
  * human-auditable, and every number is replayable by any SQL engine.
  */
object DataQuality {

  sealed trait DqRule
  /** Column must be non-null. */
  case class NotNull(col: String) extends DqRule
  /** Column must lie in [lo, hi]; nulls violate. */
  case class InRange(col: String, lo: Double, hi: Double) extends DqRule
  /** Column must match the regex; nulls violate. */
  case class Matches(col: String, regex: String) extends DqRule
  /** Key column(s) must be unique (null keys excluded from the
    * distinct census, the SQL COUNT(DISTINCT) convention).
    */
  case class Unique(cols: Seq[String]) extends DqRule
  /** Every non-null value must exist in `dim.dimCol`. */
  case class RefIntegrity(col: String, dim: DataFrame,
      dimCol: String) extends DqRule

  def report(df: DataFrame, rules: Seq[DqRule]): DataFrame = {
    require(rules.nonEmpty, "report: at least one rule")
    val spark = df.sparkSession
    val onePass: Seq[(String, String, org.apache.spark.sql.Column)] =
      rules.collect {
        case NotNull(c) => ("not_null", c,
          sum(when(col(c).isNull, 1L).otherwise(0L)))
        case InRange(c, lo, hi) => ("in_range", c,
          sum(when(col(c).isNull || col(c) < lo || col(c) > hi, 1L)
            .otherwise(0L)))
        case Matches(c, re) => ("matches", c,
          sum(when(col(c).isNull || !col(c).rlike(re), 1L)
            .otherwise(0L)))
        case Unique(cs) =>
          // null-key rows are excluded on BOTH sides (the SQL
          // COUNT(DISTINCT) convention): a violation means two rows
          // share an actual key, not that a key is missing —
          // that's NotNull's job
          val allNN = cs.map(col(_).isNotNull).reduce(_ && _)
          ("unique", cs.mkString(","),
            sum(when(allNN, 1L).otherwise(0L)) -
              countDistinct(cs.head, cs.tail: _*))
      }
    val passFrames = if (onePass.isEmpty) Seq.empty[DataFrame] else {
      val aggs = count(lit(1)).as("__n") +:
        onePass.zipWithIndex.map { case ((_, _, e), i) =>
          e.as(s"__v$i") }
      val row = df.agg(aggs.head, aggs.tail: _*)
      Seq(row.select(explode(array(onePass.zipWithIndex.map {
        case ((rule, c, _), i) => struct(lit(rule).as("rule"),
          lit(c).as("column"), col("__n").as("n_rows"),
          coalesce(col(s"__v$i"), lit(0L)).as("n_violations"))
      }: _*)).as("__r")).select(col("__r.*")))
    }
    val fkFrames = rules.collect {
      case RefIntegrity(c, dim, dc) =>
        val miss = df.where(col(c).isNotNull)
          .join(dim.select(col(dc)), col(c) === col(dc),
            "left_anti")
          .agg(count(lit(1)).as("n_violations"))
        val tot = df.agg(count(lit(1)).as("n_rows"))
        tot.crossJoin(miss)
          .select(lit("ref_integrity").as("rule"),
            lit(c).as("column"), col("n_rows"), col("n_violations"))
    }
    (passFrames ++ fkFrames).reduce(_ unionByName _)
      .withColumn("pass", (col("n_violations") === 0L).cast("int"))
      .orderBy(col("rule"), col("column"))
  }

  /** KEY-SKEW diagnostic for a prospective join/aggregation key: the
    * heavy keys (count > `factor` × the mean per-key count) with
    * their exact counts and parts-per-million share — the report
    * that decides between a plain shuffle, a broadcast, and a
    * salted join ([[Joins.saltedJoin]]) BEFORE a 100 TB shuffle
    * discovers the hot key the hard way. One grouped count (partial-
    * aggregated, key-sized) + a broadcast single-row census; share
    * is integer ppm (n*1e6 div total) so the report is
    * engine-replayable. Null keys count as a key (they are the
    * classic skew culprit).
    */
  /** BENFORD first-digit audit (Benford 1938; the standard forensic
    * screen for fabricated amounts): distribution of the leading
    * significant digit of a money-like column vs the log law
    * P(d) = log10(1 + 1/d). Digits come from the INTEGER-CENTS
    * string (floor(x*100) formatted as int64 — integer formatting is
    * identical everywhere; double→string and log10-of-boundary
    * values are not), observed and expected shares are integer ppm,
    * so the whole report is engine-replayable. Non-positive amounts
    * are excluded (no leading digit).
    */
  def benford(df: DataFrame, amount: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val expected = (1 to 9).map(d =>
      (d.toLong, math.round(math.log10(1.0 + 1.0 / d) * 1e6)))
      .toDF("digit", "exp_ppm")
    val digits = df
      .where(col(amount).isNotNull && col(amount) > 0)
      .select(floor(col(amount) * 100).cast("long").as("__cents"))
      .where(col("__cents") > 0)
      .select(substring(col("__cents").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("__t"))
    digits.crossJoin(broadcast(total))
      .withColumn("obs_ppm", expr("n * 1000000L div __t"))
      .join(broadcast(expected), Seq("digit"))
      .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
      .select(col("digit"), col("n"), col("obs_ppm"), col("exp_ppm"),
        col("dev_ppm"))
  }

  /** K-ANONYMITY audit (Sweeney 2002): group by the quasi-identifier
    * columns; any group smaller than k is a re-identification risk —
    * the release gate a privacy review runs before data leaves the
    * boundary. One partial-aggregated grouped count; exact integers
    * throughout.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String],
      k: Long): DataFrame = {
    require(quasiCols.nonEmpty && k >= 2, s"kAnonymity: $quasiCols/$k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("at_risk", (col("n") < k).cast("int"))
  }

  /** L-DIVERSITY audit (Machanavajjhala et al. 2007) — k-anonymity's
    * successor: a quasi-identifier group can be large yet still leak
    * if (nearly) everyone in it shares the same SENSITIVE value.
    * Per group: size, count of distinct sensitive values
    * (`l_distinct`), and the largest single value's share in exact
    * ppm (integer division — the homogeneity read behind the entropy
    * variant, without floats). `at_risk` flags groups below the
    * required l. Two partial-aggregated grouped counts — scales like
    * [[kAnonymity]].
    */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty && l >= 2, s"lDiversity: $quasiCols/$l")
    val cells = df
      .groupBy(quasiCols.map(col) :+ col(sensitiveCol): _*)
      .agg(count(lit(1)).as("__c"))
    cells.groupBy(quasiCols.map(col): _*)
      .agg(sum(col("__c")).as("n"),
        count(lit(1)).as("l_distinct"),
        max(col("__c")).as("__top"))
      .withColumn("top_share_ppm", expr("__top * 1000000L div n"))
      .withColumn("at_risk", (col("l_distinct") < l).cast("int"))
      .drop("__top")
  }

  /** FUNCTIONAL-DEPENDENCY profile: for every ordered column pair
    * (A, B), does A determine B? Exact test — A -> B holds iff
    * |distinct(A)| == |distinct(A, B)|; the difference counts the
    * violating extra (A, B) combinations. The schema-discovery /
    * key-candidate report a DQ pass runs before trusting joins.
    * Rows with a null in any profiled column are dropped first
    * (listwise — engines disagree on null tuples in DISTINCT
    * counts). All k + k(k-1) distinct counts evaluate in ONE pass;
    * column count is bounded, row volume only enters the scan.
    */
  def fdProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.distinct.size == cols.size,
      s"fdProfile: need >= 2 distinct columns, got $cols")
    val clean = df.na.drop(cols)
    val pairsIdx = for (a <- cols; b <- cols if a != b) yield (a, b)
    val aggs = cols.map(c =>
      count_distinct(col(c)).as(s"__d_$c")) ++
      pairsIdx.map { case (a, b) =>
        count_distinct(col(a), col(b)).as(s"__d_${a}_$b") }
    val row = clean.agg(aggs.head, aggs.tail: _*)
    val outs = pairsIdx.map { case (a, b) =>
      struct(lit(a).as("determinant"), lit(b).as("dependent"),
        col(s"__d_$a").as("n_det"),
        col(s"__d_${a}_$b").as("n_pairs"),
        (col(s"__d_${a}_$b") - col(s"__d_$a")).as("violations"),
        (col(s"__d_${a}_$b") === col(s"__d_$a")).cast("int")
          .as("holds"))
    }
    row.select(explode(array(outs: _*)).as("__p")).select(col("__p.*"))
  }

  /** Deterministic PSEUDONYMIZATION: replace identifier columns with
    * the portable keyed hash of (salt || value) — referential
    * integrity survives (equal values map equal, so joins and
    * distinct counts still work) while the identifier itself leaves
    * the dataset. The salt is the secret: without it the token is a
    * one-way map; rotating it breaks linkage to prior releases (the
    * crypto-shredding pattern, with the portable hash standing in
    * for a keyed HMAC so q239 can verify the mapping cross-engine —
    * production would swap in HMAC-SHA256 via the same fold).
    */
  def pseudonymize(df: DataFrame, cols: Seq[String],
      salt: String): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c,
      graft.functions.PortableTokenHash(
        concat(lit(salt), col(c).cast("string")))))

  def keySkew(df: DataFrame, key: String,
      factor: Double = 10.0): DataFrame = {
    require(factor > 1.0, s"keySkew: factor $factor")
    val counts = df.groupBy(col(key)).agg(count(lit(1)).as("n"))
    val census = counts.agg(sum(col("n")).as("__total"),
      count(lit(1)).as("__nkeys"))
    counts.crossJoin(broadcast(census))
      // cross-multiplied integer threshold: n * nkeys > factor * total
      .where(col("n").cast("double") * col("__nkeys").cast("double") >
        lit(factor) * col("__total").cast("double"))
      .select(col(key), col("n"),
        expr("n * 1000000L div __total").as("share_ppm"),
        col("__nkeys").as("n_keys"), col("__total").as("n_rows"))
  }

  /** T-CLOSENESS audit (Li, Li & Venkatasubramanian 2007) — the third
    * rung after [[kAnonymity]] and [[lDiversity]]: a group can be
    * large AND diverse yet still leak if its sensitive-value
    * DISTRIBUTION sits far from the corpus-wide one (e.g. one zip
    * code holding all the top-bracket salaries). Distance is the
    * ordered-attribute Earth-Mover's Distance of the paper:
    *   EMD = (1/(m−1)) · Σ_prefixes |cumP_group − cumQ_global|
    * over the m distinct sensitive grid values. Exact arithmetic: the
    * prefix difference is the integer cross-product
    * |cum_g·N − cum_G·n_g| over the common denominator n_g·N, so the
    * sum is an exact integer and the cross-engine hash cannot drift;
    * the final ratio is one fixed-order double divide rounded to 6dp
    * (threshold `tPpm` compared at the same grain).
    *
    * Plan shape: one (quasi, v) cell count, one bounded value census,
    * then groups × census built by cross join (both census-bounded,
    * guarded by `maxGroups`·`maxValues`) with per-group prefix sums —
    * windows partitioned by group over census-sized frames, never by
    * data volume.
    */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
      sensitive: Column, tPpm: Long, maxGroups: Long = 100000L,
      maxValues: Long = 10000L): DataFrame = {
    require(quasiCols.nonEmpty && tPpm > 0,
      s"tCloseness: $quasiCols/$tPpm")
    val qs = quasiCols.map(col)
    val rows = df.select(qs :+ sensitive.cast("long").as("__v"): _*)
    // pinned: the cell census feeds the value census, the group
    // census, and the lattice join — one base-table pass total
    val cells = graft.Caches.pin(rows.groupBy(qs :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c")))
    val values = cells.groupBy(col("__v")).agg(sum(col("__c")).as("__cv"))
    val nValues = values.count()
    require(nValues <= maxValues,
      s"tCloseness: $nValues sensitive values exceed $maxValues — " +
        "quantize the sensitive attribute to a coarser grid")
    val groups = cells.groupBy(qs: _*).agg(sum(col("__c")).as("n"))
    val nGroups = groups.count()
    require(nGroups <= maxGroups,
      s"tCloseness: $nGroups quasi-identifier groups exceed $maxGroups " +
        "— generalize the quasi-identifiers (coarser values or fewer)")
    val total = values.agg(sum(col("__cv")).as("__nn"))
    val lattice = groups.crossJoin(broadcast(values))
      .join(cells, quasiCols :+ "__v", "left")
      .na.fill(0L, Seq("__c"))
      .crossJoin(broadcast(total))
    val wPref = Window.partitionBy(qs: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // names must differ by more than case — Spark's default resolver
    // is case-insensitive, so "__cumg"/"__cumG" would be ONE column
    // (the second withColumn silently replacing the first)
    val pref = lattice
      .withColumn("__cum_grp", sum(col("__c")).over(wPref))
      .withColumn("__cum_glob", sum(col("__cv")).over(wPref))
      // |cum_g·N − cum_G·n_g| exact over denominator n_g·N
      .withColumn("__num", abs(
        col("__cum_grp").cast("decimal(38,0)") * col("__nn") -
          col("__cum_glob").cast("decimal(38,0)") * col("n")))
    // the exact-integer numerator sum goes to double only here, and
    // the denominator is a fixed-order double product — decimal
    // division (whose rounding scale differs across engines) never
    // runs, so the 6dp EMD replays bit-for-bit
    val grouped = pref.groupBy((qs :+ col("n").as("n")): _*)
      .agg(sum(col("__num")).cast("double").as("__s"),
        first(col("__nn")).cast("double").as("__nn"),
        count(lit(1)).cast("double").as("__m"))
    val emd = round(col("__s") /
      ((col("__m") - lit(1.0)) * col("n").cast("double") * col("__nn")),
      6)
    grouped
      .withColumn("emd", emd)
      .withColumn("at_risk",
        (col("emd") > lit(tPpm.toDouble / 1000000.0)).cast("int"))
      .select((qs :+ col("n") :+ col("emd") :+ col("at_risk")): _*)
  }
}
