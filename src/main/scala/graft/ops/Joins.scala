package graft.ops

import graft.types._
import graft.frame.SeaFrame
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's single join operator re-expressed on Catalyst
  * (seafan gdata.go:1168-1296): equi-join on one shared-name key,
  * inner/left/right/outer, with
  *
  *   - duplicate non-key fields: left wins, right's dropped
  *     (gdata.go:1216-1224);
  *   - missing-side fill: NOT null — the feature default, else the
  *     kind's zero value 0 / 0.0 / "" / 1970-01-01 (gdata.go:1322-1344);
  *   - float keys rejected (gdata.go:1486-1499).
  *
  * Catalyst picks the physical strategy (broadcast-hash for small
  * sides, shuffled-hash/sort-merge otherwise, AQE skew-split at
  * runtime) — the reference's hand-rolled sort-merge is exactly what we
  * do NOT reimplement.
  */
object Joins {

  /** Kind-zero fill values per Spark type name (gdata.go:1322-1344). */
  def zeroFor(typeName: String): Any = typeName match {
    case "double" | "float" => 0.0
    case "integer" | "long" | "short" | "byte" => 0L
    case "string" => ""
    case "date" => java.sql.Date.valueOf("1970-01-01")
    case "timestamp" => java.sql.Timestamp.valueOf("1970-01-01 00:00:00")
    case _ => null
  }

  def join(left: DataFrame, right: DataFrame, on: String, joinType: String,
      defaults: Map[String, Any] = Map.empty): DataFrame =
    joinMulti(left, right, Seq(on), joinType, defaults)

  /** Multi-key generalization of [[join]] (the reference is single-key;
    * SURVEY §2.4 lists multi-key as a Spark-free extension): same
    * left-wins duplicate drop, default-fill, and float-key rejection,
    * over a composite equi-key. Also admits `semi`/`anti` join types —
    * pure existence filters whose output is the left columns only, so
    * default-fill and duplicate-drop are vacuous for them.
    */
  def joinMulti(left: DataFrame, right: DataFrame, on: Seq[String],
      joinType: String, defaults: Map[String, Any] = Map.empty)
      : DataFrame = {
    require(on.nonEmpty, "joinMulti: at least one key")
    on.foreach { k =>
      val keyType = left.schema(k).dataType.typeName
      require(keyType != "double" && keyType != "float",
        s"join: float key '$k' rejected (gdata.go:1486-1499)")
      require(right.schema.fieldNames.contains(k),
        s"join: key '$k' must exist on both sides")
    }

    // left-priority duplicate drop: right contributes only its new fields
    val dupes = right.columns
      .filter(c => !on.contains(c) && left.columns.contains(c))
    val r = dupes.foldLeft(right)((d, c) => d.drop(c))

    val sparkType = joinType match {
      case "semi" | "left_semi" => "left_semi"
      case "anti" | "left_anti" => "left_anti"
      case t => t
    }
    val joined = left.join(r, on, sparkType)

    // default-fill instead of NULL on every missing-side column
    val leftOnly = left.columns.filterNot(on.contains).toSeq
    val rightOnly = r.columns.filterNot(on.contains).toSeq
    val fillable: Seq[String] = joinType match {
      case "inner" => Seq.empty
      case "semi" | "left_semi" | "anti" | "left_anti" => Seq.empty
      case "left" | "left_outer" => rightOnly
      case "right" | "right_outer" => leftOnly
      case "outer" | "full" | "full_outer" => leftOnly ++ rightOnly
      case t => throw new IllegalArgumentException(s"join type $t")
    }
    val filled = fillable.foldLeft(joined) { (d, c) =>
      val fill = defaults.getOrElse(c, zeroFor(d.schema(c).dataType.typeName))
      if (fill == null) d
      else d.withColumn(c, coalesce(d(c), lit(fill).cast(d.schema(c).dataType)))
    }
    filled
  }

  /** As-of join (not in the reference — a Spark-native extension the
    * SURVEY §2.4 note anticipates): for every left row, the LATEST
    * right row with rightTime <= leftTime on the same key.
    *
    * Implementation is composed operators (preference (a) before any
    * custom strategy): tag + union both sides, one window pass per
    * key ordered by (time, right-before-left), running last_value of
    * the right payload, filter back to left rows. One shuffle on the
    * key — the same cost class as a regular sort-merge join, with no
    * per-row range probing.
    *
    * Tie policy: right rows tying on time are ordered by `payload`
    * columns; the last wins.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String,
      payload: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val asofCols = rightTime +: payload
    val r = right.select(
      (col(key) +: col(rightTime).as("__t") +: lit(1).as("__isR") +:
        asofCols.map(c => col(c).as(s"__asof_$c"))): _*)
    val lNulls = asofCols.map(c =>
      lit(null).cast(right.schema(c).dataType).as(s"__asof_$c"))
    val l = left.select(
      (left.columns.toIndexedSeq.map(col(_)) :+ col(leftTime).as("__t") :+
        lit(0).as("__isR")) ++ lNulls: _*)
    val unioned = l.select((Seq(col(key), col("__t"), col("__isR")) ++
      asofCols.map(c => col(s"__asof_$c")) ++
      left.columns.toIndexedSeq.filterNot(_ == key).map(c => col(c))): _*)
      .unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy((col("__t").asc +: col("__isR").desc +:
        payload.map(c => col(s"__asof_$c").asc)): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = asofCols.foldLeft(unioned) { (d, c) =>
      d.withColumn(s"__asof_$c",
        last(col(s"__asof_$c"), ignoreNulls = true).over(w))
    }
    // inner as-of semantics: left rows with no preceding right match
    // are dropped (the matched time is null)
    filled.where(col("__isR") === 0 &&
        col(s"__asof_$rightTime").isNotNull)
      .select((left.columns.toIndexedSeq.map(col(_)) ++
        asofCols.map(c => col(s"__asof_$c").as(s"asof_$c"))): _*)
  }

  /** Salted equi-join for skewed keys: the left (large, skewed) side
    * gets a random salt in [0, salts); the right side is exploded
    * across all salt values, so one hot key spreads over `salts`
    * reducers instead of one. AQE's skew-join split handles runtime
    * detection; this is the explicit form for when the skew is known
    * up front (e.g. a null-ish default key at 100 TB).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, on: String,
      joinType: String, salts: Int): DataFrame = {
    require(joinType == "inner" || joinType == "left" ||
      joinType == "left_outer",
      "saltedJoin supports inner/left (right side is replicated)")
    val l = left.withColumn("__salt",
      pmod(pmod(hash(monotonically_increasing_id()), lit(salts))
        + lit(salts), lit(salts)))
    val r = right.withColumn("__salt",
      explode(array((0 until salts).map(lit(_)): _*)))
    val dupes = right.columns.filter(c => c != on && left.columns.contains(c))
    val rClean = dupes.foldLeft(r)((d, c) => d.drop(c))
    l.join(rClean, Seq(on, "__salt"), joinType).drop("__salt")
  }

  /** SeaFrame wrapper: joins data columns, re-sequences by (key, left
    * seq, right seq) since the reference's join output is sorted by the
    * key (gdata.go:1188-1198), and drops one-hot/embed features (they
    * must be re-derived after a join — gdata.go:1164-1167).
    */
  def seaJoin(left: SeaFrame, right: SeaFrame, on: String,
      joinType: String): SeaFrame = {
    val defaults: Map[String, Any] =
      (left.schema.metas ++ right.schema.metas)
        .flatMap(m => m.default.map(d => m.name -> (d: Any))).toMap
    val stripOneHot = (f: SeaFrame) =>
      f.schema.metas.filter(m => m.role == FeatureRole.OneHot ||
        m.role == FeatureRole.Embed).foldLeft(f)((acc, m) => acc.drop(m.name))
    val l = stripOneHot(left)
    val r = stripOneHot(right)
    val joined = join(l.result, r.result, on, joinType, defaults)
    val metas = (l.schema.metas ++
      r.schema.metas.filterNot(m => l.schema.has(m.name)))
      .filter(m => joined.columns.contains(m.name))
    // key-sorted like the reference's join output; remaining atomic
    // columns break ties so the derived sequence is deterministic
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val tiebreak = joined.schema.fields
      .filter(f => f.name != on && (f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => false
        case _ => true
      }))
      .map(f => col(f.name).asc).toSeq
    SeaFrame.withSequence(joined, col(on).asc +: tiebreak)
      .copy(schema = FeatureSchema(metas))
  }

  /** Blocked fuzzy matching (entity resolution): find pairs of
    * DISTINCT values of `strCol` within edit distance `maxDist`,
    * pairing only values that share a blocking key. Output one row
    * per matched value pair (name_a < name_b) with the edit distance
    * and each value's row count.
    *
    * The two moves that make this survive scale:
    *
    *   - match at the VALUE level, not the row level: the distinct
    *     census collapses duplicate strings first (one shuffle), so a
    *     value appearing a million times costs one comparison, not
    *     10^12 — row-level pairing is quadratic in duplication, the
    *     classic entity-resolution blowup;
    *   - BLOCK the candidate join: only values with equal `blockOf`
    *     keys are compared, bounding candidates to sum(block^2) over
    *     distinct values instead of all-pairs. Recall is exactly the
    *     blocking contract — a true pair in different blocks is not
    *     found — so the caller picks a key edits won't move (first
    *     token, phonetic code, length band). Same contract shape as
    *     the SimHash pigeonhole chunks.
    *
    * `maxPerBlock > 0` adds a bounded (one-row) census action that
    * refuses a degenerate blocking key before the quadratic join can
    * run — the skew guard the hammingPairs family carries.
    *
    * The comparison itself is Spark's codegen'd `levenshtein` (unit
    * costs, the same function DuckDB ships), so the oracle replays
    * the whole operator term for term.
    */
  def fuzzyMatch(df: DataFrame, strCol: String,
      blockOf: Column => Column, maxDist: Int,
      maxPerBlock: Int = 10000): DataFrame = {
    require(maxDist >= 0, s"fuzzyMatch: maxDist $maxDist")
    val vals = df.where(col(strCol).isNotNull)
      .groupBy(col(strCol)).agg(count(lit(1)).as("__n"))
      .select(col(strCol).as("__v"), col("__n"),
        blockOf(col(strCol)).as("__blk"))
    Guard(vals.groupBy(col("__blk")).count(), col("count"), maxPerBlock,
      "fuzzyMatch", w => s"largest block has $w distinct values",
      "choose a finer blocking key")
    val a = vals.select(col("__blk"), col("__v").as("name_a"),
      col("__n").as("n_a"))
    val b = vals.select(col("__blk"), col("__v").as("name_b"),
      col("__n").as("n_b"))
    a.join(b, Seq("__blk"))
      .where(col("name_a") < col("name_b"))
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b")).cast("long"))
      .where(col("dist") <= maxDist)
      .select(col("name_a"), col("name_b"), col("dist"), col("n_a"),
        col("n_b"))
  }

  /** [[fuzzyMatch]] scored by Jaro-Winkler similarity instead of edit
    * distance (the record-linkage standard — transpositions, the
    * dominant human typo class, cost far less than under
    * levenshtein). Same census / blocking / guard machinery; the
    * similarity is the native codegen'd
    * [[graft.functions.JaroWinkler]] expression, byte-compatible with
    * DuckDB's `jaro_winkler_similarity` (spec-pinned to exact-double
    * parity), rounded 6dp so the threshold cut is cross-engine
    * deterministic.
    */
  def fuzzyMatchJw(df: DataFrame, strCol: String,
      blockOf: Column => Column, minSim: Double,
      maxPerBlock: Int = 10000): DataFrame = {
    require(minSim > 0.0 && minSim <= 1.0, s"fuzzyMatchJw: $minSim")
    val vals = df.where(col(strCol).isNotNull)
      .groupBy(col(strCol)).agg(count(lit(1)).as("__n"))
      .select(col(strCol).as("__v"), col("__n"),
        blockOf(col(strCol)).as("__blk"))
    Guard(vals.groupBy(col("__blk")).count(), col("count"), maxPerBlock,
      "fuzzyMatchJw", w => s"largest block has $w distinct values",
      "choose a finer blocking key")
    val a = vals.select(col("__blk"), col("__v").as("name_a"),
      col("__n").as("n_a"))
    val b = vals.select(col("__blk"), col("__v").as("name_b"),
      col("__n").as("n_b"))
    a.join(b, Seq("__blk"))
      .where(col("name_a") < col("name_b"))
      .withColumn("sim", round(graft.functions.JaroWinkler(
        col("name_a"), col("name_b")), 6))
      .where(col("sim") >= minSim)
      .select(col("name_a"), col("name_b"), col("sim"), col("n_a"),
        col("n_b"))
  }
}
