package graft.encode

import graft.types._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Feature-encoding operators: the analog of the reference's core
  * transforms AppendC / AppendD / MakeOneHot / GetRaw / ReInit
  * (seafan gdata.go:80-272, 518-608, 1078-1120), re-expressed as
  * DataFrame transformations that scale:
  *
  *   - continuous fit = one distributed agg (mean/stddev), apply =
  *     a codegen'd projection — no shuffle;
  *   - categorical fit = distinct + sort of the (small) level set,
  *     apply = a broadcast-map lookup — no shuffle of the fact table;
  *   - one-hot = per-level 0/1 projections (columnar, codegen'd).
  *
  * Fit/apply asymmetry matches the reference: pass a fitted
  * [[FeatureMeta]] to apply previous parameters; omit it to fit fresh
  * ones (gdata.go:99-116, 185-197).
  */
object Encode {

  /** Fit location/scale (mean, sample stddev) for a continuous column.
    * Errors when scale < 1e-8, like AppendC (gdata.go:134-136).
    */
  def fitC(df: DataFrame, col: String): FeatureMeta = {
    val row = df.agg(
      avg(df(col).cast("double")).as("loc"),
      stddev_samp(df(col).cast("double")).as("scale")).head()
    val (loc, scale) = (row.getDouble(0), row.getDouble(1))
    require(scale > 1e-8, s"appendC: cannot normalize '$col', stddev=$scale")
    FeatureMeta(col, FeatureRole.Cts, location = loc, scale = scale,
      normalized = true)
  }

  /** Robust-scaling fit: median location, IQR scale — the
    * outlier-immune sibling of [[fitC]] (one extreme value moves a
    * z-score fit arbitrarily; it moves median/IQR not at all). The
    * quantiles are EXACT data points (approxQuantile at relErr=0 —
    * `quantile_disc` semantics, the q75 winsorize convention), so the
    * fitted constants and every scaled value are engine-replayable.
    */
  def fitRobust(df: DataFrame, col: String): FeatureMeta = {
    val Array(q25, q50, q75) =
      df.stat.approxQuantile(col, Array(0.25, 0.5, 0.75), 0.0)
    val iqr = q75 - q25
    require(iqr > 1e-8, s"fitRobust: cannot scale '$col', IQR=$iqr")
    FeatureMeta(col, FeatureRole.Cts, location = q50, scale = iqr,
      normalized = true)
  }

  /** Robust-scaled continuous append: (x - median) / IQR. */
  def appendRobust(df: DataFrame, raw: String, name: String,
      fitted: Option[FeatureMeta] = None): (DataFrame, FeatureMeta) = {
    val meta = fitted.map(_.copy(name = name))
      .getOrElse(fitRobust(df, raw).copy(name = name))
    (df.withColumn(name,
      (df(raw).cast("double") - lit(meta.location)) / lit(meta.scale)),
      meta)
  }

  /** AppendC: add a continuous column `name` = cast-to-double raw,
    * z-scored when `normalize` (fitting unless `fitted` given).
    * Returns (df with column, meta used).
    */
  def appendC(df: DataFrame, raw: String, name: String,
      normalize: Boolean = false,
      fitted: Option[FeatureMeta] = None): (DataFrame, FeatureMeta) = {
    val meta =
      if (!normalize) FeatureMeta(name, FeatureRole.Cts)
      else fitted.map(_.copy(name = name))
        .getOrElse(fitC(df, raw).copy(name = name))
    val c = df(raw).cast("double")
    val enc = if (meta.normalized)
      (c - lit(meta.location)) / lit(meta.scale)
    else c
    (df.withColumn(name, enc), meta)
  }

  /** Fit a level dictionary for a categorical column: distinct raw
    * values in sorted order -> codes 0..n-1, matching the reference's
    * ByPtr sorted-value coding (data.go:703-715). The distinct set is
    * collected to the driver — categorical cardinality is assumed small
    * relative to the data (broadcast-dictionary design).
    */
  /** Cardinality guard for [[fitD]]'s driver-side dictionary collect:
    * a million-distinct "categorical" is a modeling bug and would OOM
    * the driver, so fail fast with a clear message.
    */
  val MaxLevels: Int = 100000

  def fitD(df: DataFrame, col: String,
      default: Option[String] = None,
      maxLevels: Int = MaxLevels): FeatureMeta = {
    val dt = df.schema(col).dataType.typeName
    require(dt != "double" && dt != "float",
      s"appendD: float column '$col' cannot be categorical (gdata.go:171)")
    // cheap sketch pass before the exact distinct: the dictionary is
    // collected to the driver, so unbounded cardinality must error,
    // not OOM (rsd 0.05 -> the check trips well before any real risk)
    val approx = df.agg(approx_count_distinct(df(col), 0.05))
      .head().getLong(0)
    require(approx <= maxLevels * 1.2,
      s"appendD: column '$col' has ~$approx distinct values " +
        s"(cap $maxLevels); a level dictionary is broadcast from the " +
        "driver — bucket or hash the column instead of encoding it")
    val values = df.select(df(col).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    FeatureMeta(col, FeatureRole.Cat,
      levels = values.zipWithIndex.toMap, default = default)
  }

  /** AppendD: add label-encoded column `name` from raw column, using a
    * fitted dictionary when given. Unseen values map to the dictionary's
    * default (error if none — gdata.go:185-197).
    */
  def appendD(df: DataFrame, raw: String, name: String,
      fitted: Option[FeatureMeta] = None): (DataFrame, FeatureMeta) = {
    val meta = fitted.map(_.copy(name = name))
      .getOrElse(fitD(df, raw).copy(name = name))
    (df.withColumn(name, encodeD(df(raw), meta)), meta)
  }

  /** The encoding expression for a fitted dictionary: small
    * dictionaries compile to a chain of codegen'd WHEN branches; large
    * ones become a literal-map lookup (one element_at against a
    * broadcast-with-the-plan map — the WHEN chain would blow up
    * generated-code size past JIT limits). Either way: no join, no
    * shuffle of the fact table.
    */
  def encodeD(raw: Column, meta: FeatureMeta): Column = {
    val defCode: Column = meta.default match {
      case Some(d) => meta.levels.get(d)
        .map(c => lit(c))
        .getOrElse(lit(null).cast("int"))
      case None => raise_error(concat(
        lit(s"appendD('${meta.name}'): unseen value "), raw.cast("string"),
        lit(" and no default"))).cast("int")
    }
    val s = raw.cast("string")
    if (meta.levels.size <= 32)
      meta.levels.toSeq.sortBy(_._2).foldLeft(when(lit(false), lit(0))) {
        case (acc, (v, code)) => acc.when(s === lit(v), lit(code))
      }.otherwise(defCode)
    else {
      val looked = element_at(typedlit(meta.levels), s)
      when(looked.isNotNull, looked).otherwise(defCode)
    }
  }

  /** MakeOneHot: widen a fitted categorical into per-level 0/1 double
    * columns `name_0..name_{k-1}` (dense, one 1.0 per row — reference
    * gdata.go:246-251). Columnar and codegen'd; for vector-consuming
    * MLlib stages use [[oneHotVector]] instead.
    */
  def makeOneHot(df: DataFrame, meta: FeatureMeta, from: String,
      name: String): (DataFrame, FeatureMeta) = {
    val cols = meta.levels.toSeq.sortBy(_._2).map { case (_, code) =>
      when(df(from) === lit(code), 1.0).otherwise(0.0).as(s"${name}_$code")
    }
    val out = df.select(df("*") +: cols: _*)
    (out, FeatureMeta(name, FeatureRole.OneHot, from = Some(from),
      levels = meta.levels))
  }

  /** One-hot as an MLlib vector column (sparse; dropLast=false to keep
    * the reference's full width).
    */
  def oneHotVector(df: DataFrame, inputCol: String,
      outputCol: String): DataFrame = {
    import org.apache.spark.ml.feature.OneHotEncoder
    val enc = new OneHotEncoder().setInputCols(Array(inputCol))
      .setOutputCols(Array(outputCol)).setDropLast(false)
    enc.fit(df).transform(df)
  }

  /** GetRaw inverse for a continuous feature: x*scale + location
    * (reference gdata.go:518-552, UnNormalize diags.go:19-28).
    */
  def unNormalize(c: Column, meta: FeatureMeta): Column =
    if (meta.normalized) c * lit(meta.scale) + lit(meta.location) else c

  /** GetRaw inverse for a categorical: code -> raw string via the
    * inverse level map.
    */
  def decodeD(code: Column, meta: FeatureMeta): Column =
    if (meta.levels.size <= 32)
      meta.inverseLevels.toSeq.sortBy(_._1)
        .foldLeft(when(lit(false), lit(""))) { case (acc, (k, v)) =>
          acc.when(code === lit(k), lit(v))
        }.otherwise(lit(null).cast("string"))
    else element_at(typedlit(meta.inverseLevels), code.cast("int"))

  /** ReInit / UpdateFts: re-encode raw columns under a (new) schema —
    * the whole-table refit-or-apply (gdata.go:555-608, 1078-1120).
    * Columns listed in the schema are encoded by role; every other
    * column passes through unchanged.
    */
  def reInit(df: DataFrame,
      schema: FeatureSchema): (DataFrame, FeatureSchema) = {
    var cur = df
    var out = FeatureSchema.empty
    schema.metas.foreach { m =>
      m.role match {
        case FeatureRole.Cts =>
          val (d, mm) = appendC(cur, m.name, m.name, m.normalized,
            if (m.normalized) Some(m) else None)
          cur = d; out = out.updated(mm)
        case FeatureRole.Cat =>
          val (d, mm) = appendD(cur, m.name, m.name,
            if (m.levels.nonEmpty) Some(m) else None)
          cur = d; out = out.updated(mm)
        case FeatureRole.OneHot =>
          val src = m.from.getOrElse(m.name)
          val (d, mm) = makeOneHot(cur, out.get(src).getOrElse(m), src, m.name)
          cur = d; out = out.updated(mm)
        case FeatureRole.Embed => // embedding matrices live in the model layer
          out = out.updated(m)
      }
    }
    (cur, out)
  }
}
