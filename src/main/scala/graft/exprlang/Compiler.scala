package graft.exprlang

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Compiles a formula AST to a Catalyst Column tree, preserving the
  * reference's semantics (seafan parser.go:1277-1578):
  *
  *   - arithmetic coerces operands to double;
  *   - comparisons and logicals return double 0/1; `&&`/`||` treat
  *     values > 0 as true;
  *   - division by zero and log(<=0) are ERRORS, not null/NaN
  *     (guarded with raise_error — parser.go:1520-1573, data.go:566);
  *   - summary ('S') functions aggregate the WHOLE frame and broadcast
  *     the scalar back into the row expression (the reference's
  *     scalar fan-out, parser.go:1721-1728) — computed eagerly as one
  *     driver-side agg, embedded as a literal;
  *   - order-dependent functions (lag, row, cumeBefore/After,
  *     prodBefore/After, countBefore/After) follow the frame's
  *     explicit sequence column (SURVEY 7.4).
  *
  * Everything compiles to built-in codegen'd functions — no UDFs in
  * the row path.
  *
  * Order-dependent scale shape: order functions window over a
  * seq-range BUCKET partition (the frame carries [[Compiler.Bucket]]),
  * never one global unpartitioned window, and the cross-bucket carry
  * (prefix sums, previous bucket's last row) comes from a per-bucket
  * aggregate — O(#buckets) rows — prefix-scanned and broadcast-joined
  * back by [[Formula.addToPipe]]'s staging. The compiler records what
  * that aggregate must compute in [[auxAggColumns]]/
  * [[auxJoinedColumns]].
  */
class Compiler(df: DataFrame, seqCol: Option[String]) {
  import Expr._
  import Compiler.Bucket

  private def seqName: String = seqCol.getOrElse(
    throw new IllegalStateException(
      "order-dependent function needs an explicit row order (seq column)"))
  private def w: WindowSpec =
    Window.partitionBy(col(Bucket)).orderBy(col(seqName).asc)
  private def before = w.rowsBetween(Window.unboundedPreceding, 0)
  private def after = w.rowsBetween(0, Window.unboundedFollowing)

  // ---- aux registry: per-bucket aggregates + their cross-bucket scan
  // columns, materialized by Formula.addToPipe's staging
  private val auxAggs =
    scala.collection.mutable.LinkedHashMap[String, Column]()
  private val auxJoined =
    scala.collection.mutable.LinkedHashMap[String, Column]()
  private var auxN = 0

  def needsAux: Boolean = auxJoined.nonEmpty
  def auxAggColumns: Seq[Column] =
    auxAggs.map { case (n, c) => c.as(n) }.toSeq
  def auxJoinedColumns: Seq[Column] =
    auxJoined.map { case (n, c) => c.as(n) }.toSeq
  def auxJoinedNames: Seq[String] = auxJoined.keys.toSeq

  /** Cross-bucket offset of sum(x): previous buckets ("before"),
    * following buckets ("after"), or all buckets ("all"). Null for an
    * empty frame — call sites coalesce.
    */
  private def prefixAux(x: Column, mode: String): Column = {
    auxN += 1
    val bt = s"__bt$auxN"; val off = s"__ox$auxN"
    auxAggs(bt) = sum(x)
    // over the O(buckets) aggregate frame — bounded by design (pinned
    // non-foldable zero: lit(0) would fold to an empty partition spec)
    val wb = Window.partitionBy(graft.ops.ScanOps.pinnedZero(col(Bucket)))
      .orderBy(col(Bucket))
    auxJoined(off) = mode match {
      case "before" =>
        sum(col(bt)).over(wb.rowsBetween(Window.unboundedPreceding, -1))
      case "after" =>
        sum(col(bt)).over(wb.rowsBetween(1, Window.unboundedFollowing))
      case "all" =>
        sum(col(bt)).over(wb.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing))
    }
    col(off)
  }

  /** The previous bucket's last value of x (for lag across bucket
    * boundaries); null in the first bucket.
    */
  private def prevLastAux(x: Column): Column = {
    auxN += 1
    val bl = s"__bl$auxN"; val pv = s"__pv$auxN"
    auxAggs(bl) = max_by(x, col(seqName))
    auxJoined(pv) = lag(col(bl), 1)
      .over(Window.partitionBy(graft.ops.ScanOps.pinnedZero(col(Bucket)))
        .orderBy(col(Bucket)))
    col(pv)
  }

  /** Global 0-based row index: within-bucket row_number plus the count
    * of rows in earlier buckets. No contiguity assumption on the seq
    * column.
    */
  private def globalRow: Column =
    row_number().over(w).cast("double") - 1.0 +
      coalesce(prefixAux(lit(1L), "before").cast("double"), lit(0.0))

  /** Date literal formats CCYYMMDD and MM/DD/CCYY (parser.go:71). */
  private def parseDateLit(s: String): Option[java.sql.Date] = {
    val ymd = "(\\d{4})(\\d{2})(\\d{2})".r
    val mdy = "(\\d{1,2})/(\\d{1,2})/(\\d{4})".r
    s match {
      case ymd(y, m, d) => Some(java.sql.Date.valueOf(f"$y-$m-$d"))
      case mdy(m, d, y) =>
        Some(java.sql.Date.valueOf(f"$y-${m.toInt}%02d-${d.toInt}%02d"))
      case _ => None
    }
  }

  private def bool2d(c: Column): Column = when(c, 1.0).otherwise(0.0)
  private def truthy(c: Column): Column = c.cast("double") > 0.0

  // ---- S-function batching (one aggregate job per formula, not per
  // summary term): compile() builds the tree TWICE. The probe pass
  // registers every whole-frame aggregate and runs no side effects;
  // one combined df.agg then evaluates them all; the final pass
  // rebuilds the tree substituting the literals (tree walks are
  // deterministic, so registration and substitution order align).
  private val pendingAggs = scala.collection.mutable.ArrayBuffer[Column]()
  private var aggValues: IndexedSeq[Any] = null
  private var aggIdx = 0
  private var probing = false
  private var inAggBuild = false
  // eager results that must not re-run on the second build (nested
  // S-functions, npv/irr solves), keyed by a stable expression string
  private val eagerCache = scala.collection.mutable.HashMap[String, Column]()

  def compile(e: Expr): Column = {
    pendingAggs.clear(); aggValues = null; aggIdx = 0
    // snapshot the aux registries: the probe pass registers the same
    // entries the final pass will, and must be rolled back so the
    // rebuild re-issues identical names
    val auxKeys = auxAggs.keySet.toSet
    val joinedKeys = auxJoined.keySet.toSet
    val auxN0 = auxN
    probing = true
    try compileExpr(e) finally probing = false
    auxAggs.filterInPlace((k, _) => auxKeys(k))
    auxJoined.filterInPlace((k, _) => joinedKeys(k))
    auxN = auxN0
    if (pendingAggs.nonEmpty) {
      val named = pendingAggs.zipWithIndex
        .map { case (c, i) => c.as(s"__s$i") }.toSeq
      val row = df.agg(named.head, named.drop(1): _*).head()
      aggValues = IndexedSeq.tabulate(pendingAggs.length)(row.get)
    } else aggValues = IndexedSeq.empty
    aggIdx = 0
    val out = compileExpr(e)
    aggValues = null
    out
  }

  private def compileExpr(e: Expr): Column = e match {
    case Num(v) => lit(v)
    case Quoted(s) => parseDateLit(s).map(d => lit(d)).getOrElse(lit(s))
    case Ident(name) =>
      require(df.columns.contains(name), s"unknown field '$name'")
      df(name)
    case Neg(x) => -compileExpr(x)
    case Bin(op, l, r) => binOp(op, compileExpr(l), compileExpr(r), l, r)
    case Call(fn, args) => call(fn, args)
  }

  private def isStringy(e: Expr): Boolean = e match {
    case Quoted(s) => parseDateLit(s).isEmpty
    case Ident(n) => df.columns.contains(n) &&
      Set("string", "date", "timestamp")(df.schema(n).dataType.typeName)
    case _ => false
  }

  private def binOp(op: String, lc: Column, rc: Column,
      le: Expr, re: Expr): Column = {
    // string/date comparisons keep native types (evalOpsCat
    // parser.go:1450-1472); numeric paths coerce to double
    val catCompare = isStringy(le) || isStringy(re)
    def l = if (catCompare) lc else lc.cast("double")
    def r = if (catCompare) rc else rc.cast("double")
    op match {
      case "+" => l + r
      case "-" => l - r
      case "*" => l * r
      case "/" =>
        when(r === 0.0, raise_error(lit("division by zero")).cast("double"))
          .otherwise(l / r)
      case "^" => pow(l, r)
      case "==" => bool2d(l === r)
      case "!=" => bool2d(l =!= r)
      case ">" => bool2d(l > r)
      case "<" => bool2d(l < r)
      case ">=" => bool2d(l >= r)
      case "<=" => bool2d(l <= r)
      case "&&" => bool2d(truthy(lc) && truthy(rc))
      case "||" => bool2d(truthy(lc) || truthy(rc))
    }
  }

  /** A whole-frame aggregate as a scalar literal (the reference's
    * summary-level functions, parser.go:749-786). Normally BATCHED:
    * registered during the probe pass, evaluated in [[compile]]'s one
    * combined agg, substituted in the final pass. Inside another
    * aggregate's construction ([[sAgg]]) the value is needed to build
    * the outer aggregate, so it evaluates eagerly (cached so the
    * second build doesn't re-run the job).
    */
  private def scalarAgg(agg: Column): Column = {
    if (inAggBuild)
      eagerCache.getOrElseUpdate("agg:" + agg.toString,
        lit(df.agg(agg.as("v")).head().get(0)))
    else if (probing) { pendingAggs += agg; lit(null) }
    else { val v = aggValues(aggIdx); aggIdx += 1; lit(v) }
  }

  /** Build an S-function's aggregate column (argument compilation
    * included, so nested S-functions inside it go eager) and stage it
    * through [[scalarAgg]].
    */
  private def sAgg(build: => Column): Column = {
    val saved = inAggBuild
    inAggBuild = true
    val agg = try build finally inAggBuild = saved
    scalarAgg(agg)
  }

  private def call(fn: String, args: List[Expr]): Column = {
    def a(i: Int): Column = compileExpr(args(i))
    def d(i: Int): Column = compileExpr(args(i)).cast("double")
    fn match {
      // ---- row-level math (data.go:553-638, parser.go:1061-1087)
      case "exp" => exp(d(0))
      case "log" => when(d(0) <= 0.0,
        raise_error(lit("log of non-positive value")).cast("double"))
        .otherwise(log(d(0)))
      case "sqrt" => sqrt(d(0))
      case "abs" => abs(d(0))
      case "pow" => pow(d(0), d(1))
      case "if" => when(truthy(a(0)), a(1)).otherwise(a(2))
      case "maxE" => greatest(a(0), a(1))
      case "minE" => least(a(0), a(1))

      // ---- conversions (parser.go:1317-1334)
      case "cat" | "toInt" => a(0).cast("int")
      case "toFloatDP" => a(0).cast("double")
      case "toFloatSP" => a(0).cast("float")
      case "toString" => a(0).cast("string")
      case "toDate" => args.head match {
        case Quoted(s) => lit(parseDateLit(s).getOrElse(
          throw new IllegalArgumentException(s"bad date literal '$s'")))
        case _ =>
          // ANSI mode: to_date throws on a format mismatch, so the
          // format-fallback chain must use try_to_date; a value
          // matching NO format is an error like the reference
          val parsed = coalesce(try_to_date(a(0), "yyyyMMdd"),
            try_to_date(a(0), "M/d/yyyy"))
          when(a(0).isNotNull && parsed.isNull,
            raise_error(concat(lit("toDate: unparseable date '"),
              a(0).cast("string"), lit("'"))).cast("date"))
            .otherwise(parsed)
      }

      // ---- dates (parser.go:795-925, 1134-1274)
      case "dateAdd" =>
        // Go time.AddDate(0, m, 0) semantics: keep the day-of-month and
        // NORMALIZE overflow (2023-01-31 +1mo -> 2023-03-03), where
        // add_months would clamp to 2023-02-28. first-of-target-month
        // (never clamps) + (day-1) days reproduces the normalization.
        date_add(add_months(trunc(a(0), "MM"), a(1).cast("int")),
          dayofmonth(a(0)) - 1)
      case "dateDiff" => dateDiff(a(0), a(1), args(2))
      case "toLastDayOfMonth" => last_day(a(0))
      case "toFirstDayOfMonth" => trunc(a(0), "MM")
      case "day" => dayofmonth(a(0)).cast("int")
      case "month" => month(a(0)).cast("int")
      case "year" => year(a(0)).cast("int")
      case "nowDate" => current_date()
      case "nowTime" => date_format(current_timestamp(), "H:m:s")

      // ---- strings; 1-based like the reference (parser.go:928-1131)
      case "substr" => // 1-based start, clamped end (parser.go:928-976)
        a(0).substr(a(1).cast("int"), a(2).cast("int"))
      case "strLen" => length(a(0)).cast("double")
      case "strPos" => // 1-based; -1 when absent (not 0 — parser.go:1090)
        when(instr(a(0), singleString(args(1))) === 0, -1.0)
          .otherwise(instr(a(0), singleString(args(1))).cast("double"))
      case "strCount" => // non-overlapping count, float64 return.
        // Empty needle is a clean error: the reference's skip=len(look)
        // scan never advances on "" (parser.go:1006-1018, an infinite
        // loop there) — ours raises like its other degenerate inputs.
        val needle = singleString(args(1))
        when(length(needle) === 0,
          raise_error(lit("strCount: empty search string"))
            .cast("double"))
          .otherwise(((length(a(0)) -
            length(replace(a(0), needle, lit("")))) /
            length(needle)).cast("double"))

      // ---- order-dependent (data.go:458-550, parser.go:1357-1372)
      case "lag" =>
        // lag(x, missing): the first row takes the coerced `missing`
        // value, NOT null (data.go:531-550)
        val x = a(0)
        val miss =
          if (args.length > 1) castLike(compileExpr(args(1)), x)
          else lit(null)
        // within-bucket lag; the first row of each bucket takes the
        // previous bucket's last value; the global first row (both
        // null) falls through to `missing`
        coalesce(lag(x, 1).over(w), prevLastAux(x), miss)
      case "row" => globalRow
      case "countBefore" => globalRow + 1.0
      case "countAfter" =>
        coalesce(prefixAux(lit(1L), "all").cast("double"), lit(0.0)) -
          globalRow
      case "cumeBefore" =>
        sum(d(0)).over(before) +
          coalesce(prefixAux(d(0), "before").cast("double"), lit(0.0))
      case "cumeAfter" =>
        sum(d(0)).over(after) +
          coalesce(prefixAux(d(0), "after").cast("double"), lit(0.0))
      case "prodBefore" => windowProductPS(d(0), before, "before")
      case "prodAfter" => windowProductPS(d(0), after, "after")

      // ---- summary level: whole-frame scalar (parser.go:749-786),
      // batched into one aggregate job per formula via sAgg/scalarAgg
      case "sum" => sAgg(sum(d(0)))
      case "mean" | "avg" => sAgg(avg(d(0)))
      case "count" => sAgg(count(d(0)).cast("int"))
      case "max" => sAgg(max(a(0)))
      case "min" => sAgg(min(a(0)))
      case "std" => sAgg(stddev_samp(d(0)))
      // median/corr: declared-but-unimplemented in the reference
      // (functions.txt:12,27; parser.go:779-782) — implemented correctly
      // here, divergence documented in SURVEY §7.4.
      case "median" => sAgg(median(d(0)))
      case "corr" => sAgg(corr(d(0), d(1)))
      // sse/mad/r2 (parser.go:661-679,766-778; reference's mad computes
      // sse — a documented bug; we implement mad correctly)
      case "sse" => sAgg(sum(pow(d(0) - d(1), 2.0)))
      case "mad" => sAgg(sum(abs(d(0) - d(1))))
      case "r2" => r2Col(args)
      // npv/irr run eagerly (a solve / an ordered scan), so their
      // arguments must compile under inAggBuild like sAgg's: a nested
      // S-function then evaluates eager-and-cached instead of
      // probe-registering an aggregate the final (cache-hit) pass
      // would never consume.
      case "npv" => eagerCache.getOrElseUpdate("npv:" + args, {
        val saved = inAggBuild
        inAggBuild = true
        try npvCol(args) finally inAggBuild = saved
      })
      case "irr" => eagerCache.getOrElseUpdate("irr:" + args, {
        val saved = inAggBuild
        inAggBuild = true
        try irrCol(args) finally inAggBuild = saved
      })

      // ---- misc
      case "exist" => // field-or-fallback at resolution time (parser.go:1595)
        args.head match {
          case Ident(n) if df.columns.contains(n) => df(n)
          case _ => a(1)
        }
      case "print" | "printIf" =>
        // side-effect: show the first n rows of the evaluated
        // argument (eager, like the reference parser.go:572-613);
        // the expression's value is 1. The argument compiles on BOTH
        // passes — a nested S-function (print(sum(c))) must register
        // during the probe and substitute on the final build — but
        // the effect itself (show) runs on the FINAL build only,
        // when aggregate placeholders have real values.
        val shown = a(0)
        if (!probing) {
          val n = if (args.length > 1) args(1) match {
            case Num(v) => v.toInt
            case _ => 10
          } else 10
          val sel = df.select(shown.as("print"))
          (if (fn == "printIf") sel.where(col("print").cast("double") > 0)
           else sel).show(n, truncate = false)
        }
        lit(1.0)
      // ---- figure building (parser.go:1844-1997) — eager driver
      // side effects like print; expression value is 1 and effects
      // run on the final build only. Data collects are capped
      // (viz.Plots.MaxPoints) and ordered by the frame's seq when it
      // has one, so line traces are deterministic.
      case "newPlot" =>
        if (!probing) graft.viz.Fig.newPlot()
        lit(1.0)
      case "setPlotDim" =>
        if (!probing)
          graft.viz.Fig.get.setDim(numArg(args(0)), numArg(args(1)))
        lit(1.0)
      // plot data arguments compile on both passes (nested
      // S-functions register on the probe, substitute on the final
      // build); only the figure side effect is gated like print's.
      case "plotXY" =>
        val (px, py) = (a(0), a(1))
        if (!probing) graft.viz.Fig.get.plotXY(df, px, py,
          strArg(args(2)), strArg(args(3)), plotOrder)
        lit(1.0)
      case "plotLine" =>
        val pl = a(0)
        if (!probing) graft.viz.Fig.get.plotLine(df, pl,
          strArg(args(1)), strArg(args(2)), plotOrder)
        lit(1.0)
      case "histogram" =>
        val ph = a(0)
        if (!probing) graft.viz.Fig.get.histogram(df, ph,
          strArg(args(1)), strArg(args(2)))
        lit(1.0)
      case "render" =>
        if (!probing) graft.viz.Fig.get.render(strArg(args(0)),
          strArg(args(1)), strArg(args(2)), strArg(args(3)))
        lit(1.0)
      case "range" | "index" => throw new IllegalArgumentException(
        s"'$fn' produces a pipe, not a column — use it at the root of " +
          "Formula.addToPipe (name = range(a,b) / name = index(x,i))")
      case other => throw new IllegalArgumentException(
        s"unknown function '$other'")
    }
  }

  private def plotOrder: Seq[Column] = seqCol.map(col).toSeq
  private def strArg(e: Expr): String = e match {
    case Expr.Quoted(s) => s
    case Expr.Ident(s) => s
    case other => throw new IllegalArgumentException(
      s"expected a string argument, got $other")
  }
  private def numArg(e: Expr): Double = e match {
    case Expr.Num(v) => v
    case Expr.Neg(Expr.Num(v)) => -v
    case other => throw new IllegalArgumentException(
      s"expected a numeric argument, got $other")
  }

  private def singleString(e: Expr): Column = e match {
    case Expr.Quoted(s) => lit(s)
    case other => compileExpr(other).cast("string")
  }

  /** dateDiff with the reference's CALENDAR month/year arithmetic
    * (parser.go:871-925): month = 12*(y1-y2)+(m1-m2), year = y1-y2,
    * day = date difference, hour = elapsed hours.
    */
  private def dateDiff(d1: Column, d2: Column, unit: Expr): Column = {
    val u = unit match {
      case Expr.Quoted(s) => s
      case Expr.Ident(s) => s
      case _ => throw new IllegalArgumentException("dateDiff unit")
    }
    u match {
      case "day" => datediff(d1, d2).cast("double")
      case "month" =>
        ((year(d1) - year(d2)) * 12 + (month(d1) - month(d2))).cast("double")
      case "year" => (year(d1) - year(d2)).cast("double")
      case "hour" =>
        ((unix_timestamp(d1) - unix_timestamp(d2)) / 3600.0)
      case other => throw new IllegalArgumentException(
        s"dateDiff unit '$other'")
    }
  }

  /** Cast `c` to the type `like` evaluates to on this frame (the
    * reference coerces lag's `missing` to the lagged field's type);
    * left as-is when the type cannot be resolved (e.g. `like` nests
    * another order function).
    */
  private def castLike(c: Column, like: Column): Column =
    scala.util.Try(df.select(like).schema.head.dataType)
      .map(c.cast).getOrElse(c)

  /** Bucketed [[Compiler.windowProduct]]: the three running
    * accumulators (zero count, negative count, sum of log|x|) each get
    * a within-bucket window plus a cross-bucket offset.
    */
  private def windowProductPS(x: Column, frame: WindowSpec,
      mode: String): Column = {
    val (zeroInd, negInd, logm) = Compiler.productTerms(x)
    Compiler.productClose(
      sum(zeroInd).over(frame) +
        coalesce(prefixAux(zeroInd, mode).cast("long"), lit(0L)),
      sum(negInd).over(frame) +
        coalesce(prefixAux(negInd, mode).cast("long"), lit(0L)),
      exp(coalesce(sum(logm).over(frame), lit(0.0)) +
        coalesce(prefixAux(logm, mode).cast("double"), lit(0.0))))
  }

  /** r2 = 1 - sse/((n-1)*var(y)) (parser.go:768-778). Its three
    * scalars ride the batched aggregate; the arithmetic over the
    * literals constant-folds at plan time.
    */
  private def r2Col(args: List[Expr]): Column = {
    val (sseC, vyC, nC) = {
      val saved = inAggBuild
      inAggBuild = true
      try {
        val y = compileExpr(args(0)).cast("double")
        val yhat = compileExpr(args(1)).cast("double")
        (sum(pow(y - yhat, 2.0)), var_samp(y), count(lit(1)))
      } finally inAggBuild = saved
    }
    // fixed evaluation order = fixed registration order on both passes
    val sse = scalarAgg(sseC).cast("double")
    val vy = scalarAgg(vyC).cast("double")
    val n = scalarAgg(nC).cast("double")
    lit(1.0) - sse / ((n - lit(1.0)) * vy)
  }

  /** npv(rate, cashflow): PV with the FIRST cashflow undiscounted
    * (parser.go:553-569), ordered by the frame's sequence. The period
    * index comes from a range-partitioned sequence
    * (GraftBridge.sortedZipWithSequence), not a global row_number
    * window, so the eager scalar evaluation has no single-partition
    * pass.
    */
  private def npvCol(args: List[Expr]): Column = {
    val rate = compileExpr(args(0)).cast("double")
    val cf = compileExpr(args(1)).cast("double")
    val base = df.select(cf.as("__cf"), rate.as("__rate"),
      col(seqName).as("__s"))
    val indexed = org.apache.spark.sql.GraftBridge
      .sortedZipWithSequence(base, Seq(col("__s").asc), "__t")._1
    val v = indexed
      .agg(sum(col("__cf") /
        pow(lit(1.0) + col("__rate"), col("__t").cast("double"))))
      .head().getDouble(0)
    lit(v)
  }

  /** irr(cashflow) or irr(cost, cashflow): collect the ordered
    * cashflows (bounded — one vector) and bisection-solve npv(r)=cost
    * on the driver, mirroring the reference's driver-side Nelder-Mead
    * (parser.go:617-658; returns 0 on failure). The collect is capped:
    * irr is inherently a driver-side solve over one cashflow vector,
    * and pulling a 100 TB frame through it is a bug, not a workload.
    */
  private def irrCol(args: List[Expr]): Column = {
    val (cost, cfExpr) =
      if (args.length == 2) (compileScalar(args(0)), args(1))
      else (0.0, args.head)
    val max = Compiler.IrrMaxRows
    val rows = df.select(compileExpr(cfExpr).cast("double").as("cf"),
        col(seqName))
      .orderBy(col(seqName)).limit(max + 1).collect()
    if (rows.length > max)
      throw new IllegalStateException(
        s"irr: cashflow column exceeds $max rows; irr is a driver-side " +
          "solve — aggregate or slice the frame to one cashflow vector " +
          "per group first")
    lit(Financial.irr(rows.map(_.getDouble(0)), cost))
  }

  private def compileScalar(e: Expr): Double = e match {
    case Expr.Num(v) => v
    case other =>
      df.agg(first(compileExpr(other)).cast("double")).head().getDouble(0)
  }
}

/** Driver-side financial solvers (reference parser.go:617-658). */
object Financial {
  def npv(rate: Double, cfs: Array[Double]): Double =
    cfs.zipWithIndex.map { case (cf, t) => cf / math.pow(1.0 + rate, t) }.sum

  /** Bisection solve of npv(r) - cost = 0 on [-0.99, 10]; 0 on failure
    * like the reference (parser.go:647-657).
    */
  def irr(cfs: Array[Double], cost: Double = 0.0): Double = {
    def f(r: Double) = npv(r, cfs) - cost
    var lo = -0.99; var hi = 10.0
    if (f(lo) * f(hi) > 0) return 0.0
    var i = 0
    while (hi - lo > 1e-10 && i < 200) {
      val mid = (lo + hi) / 2
      if (f(lo) * f(mid) <= 0) hi = mid else lo = mid
      i += 1
    }
    (lo + hi) / 2
  }
}

object Compiler {
  /** Seq-range bucket column every order-function window partitions by. */
  val Bucket = "__fbkt"

  /** Windowed running product from built-ins only: zero if the frame
    * contains a zero, else sign via (-1)^negatives times
    * exp(sum(log|x|)) — handles zeros and negatives that the naive
    * log-sum trick cannot (SURVEY §4.2).
    */
  def windowProduct(x: Column, frame: WindowSpec): Column = {
    val (zeroInd, negInd, logm) = productTerms(x)
    productClose(sum(zeroInd).over(frame), sum(negInd).over(frame),
      exp(sum(logm).over(frame)))
  }

  /** The running product's per-row terms: zero indicator, negative
    * indicator, log|x| (null at zero).
    */
  private def productTerms(x: Column): (Column, Column, Column) = (
    when(x === 0.0, 1L).otherwise(0L), when(x < 0.0, 1L).otherwise(0L),
    when(x =!= 0.0, log(abs(x))))

  /** Zero if any factor is zero, else the magnitude signed by the
    * parity of the negative count.
    */
  private def productClose(zeros: Column, negs: Column,
      mag: Column): Column =
    when(zeros > 0, 0.0)
      .otherwise(when(pmod(negs, lit(2L)) === 1L, -mag).otherwise(mag))

  /** Rows per bucket for order functions: small enough
    * that one bucket is one task's worth of work, large enough that
    * the per-bucket aggregate (one row per bucket) stays tiny — 1e12
    * rows is ~1e6 bucket rows.
    */
  val DefaultBucketWidth: Long = 1L << 20

  /** Cap on irr's driver-side cashflow collect. */
  val IrrMaxRows: Int = 1 << 20

  /** Functions that compile to a row-order running window. The bare
    * [[Formula.column]] path has nowhere to stage the per-bucket
    * aggregate their bucketed plan needs, so it refuses these.
    */
  val OrderFunctions: Set[String] = Set("lag", "row",
    "countBefore", "countAfter", "cumeBefore", "cumeAfter",
    "prodBefore", "prodAfter")

  /** Whether the AST contains an order-dependent running function. */
  def usesOrderFunction(e: Expr): Boolean = e match {
    case Expr.Call(fn, args) =>
      OrderFunctions.contains(fn) || args.exists(usesOrderFunction)
    case Expr.Bin(_, l, r) => usesOrderFunction(l) || usesOrderFunction(r)
    case Expr.Neg(x) => usesOrderFunction(x)
    case _ => false
  }
}

/** Public facade: parse + compile + materialize — the analog of
  * Expr2Tree / Evaluate / AddToPipe (parser.go:200-268, 1589-1758).
  */
object Formula {
  /** Compile to a bare Column. Order-dependent functions (lag/row/
    * cume/prod/count) are REFUSED here: their bucketed window needs a
    * per-bucket aggregate joined back onto the frame, and a bare
    * Column has nowhere to stage that join. Use [[addToPipe]].
    */
  def column(df: DataFrame, formula: String,
      seqCol: Option[String] = None): Column = {
    val ast = Parser.parse(formula)
    if (Compiler.usesOrderFunction(ast))
      throw new IllegalArgumentException(
        "Formula.column: order-dependent function in \"" + formula +
          "\" needs the bucketed staging of Formula.addToPipe.")
    new Compiler(df, seqCol).compile(ast)
  }

  /** Constant-fold an integer scalar argument (range bounds are almost
    * always literals); None when the expression needs frame data.
    */
  private def constLong(e: Expr): Option[Long] = e match {
    case Expr.Num(v) => Some(v.toLong)
    case Expr.Neg(x) => constLong(x).map(-_)
    case Expr.Bin("+", l, r) =>
      for (a <- constLong(l); b <- constLong(r)) yield a + b
    case Expr.Bin("-", l, r) =>
      for (a <- constLong(l); b <- constLong(r)) yield a - b
    case Expr.Bin("*", l, r) =>
      for (a <- constLong(l); b <- constLong(r)) yield a * b
    case _ => None
  }

  /** Add compiled columns to the frame — the one plan every formula
    * output takes. With a row order: add the seq-range bucket column
    * (`bucketWidth` rows per bucket), compile every output with ONE
    * [[Compiler]], aggregate its per-bucket aux columns once,
    * broadcast-join their prefix scan back, add the outputs, and drop
    * the helper columns. Without one there is no bucket, and an order
    * function fails for want of a seq column.
    */
  private def staged(df: DataFrame, seqCol: Option[String],
      bucketWidth: Long, outs: (String, Compiler => Column)*): DataFrame = {
    val df1 = seqCol.fold(df)(s => df.withColumn(Compiler.Bucket,
      floor(col(s).cast("double") / lit(bucketWidth.toDouble))
        .cast("long")))
    val cmp = new Compiler(df1, seqCol)
    val cols = outs.map { case (n, build) => n -> build(cmp) }
    val joined =
      if (cmp.needsAux) {
        val aggs = cmp.auxAggColumns
        val aggDf = df1.groupBy(col(Compiler.Bucket))
          .agg(aggs.head, aggs.tail: _*)
        val scanned = aggDf.select(
          col(Compiler.Bucket) +: cmp.auxJoinedColumns: _*)
        df1.join(broadcast(scanned), Seq(Compiler.Bucket), "left")
      } else df1
    val out = cols.foldLeft(joined) { case (d, (n, c)) => d.withColumn(n, c) }
    seqCol.fold(out)(_ =>
      out.drop(Compiler.Bucket +: cmp.auxJoinedNames: _*))
  }

  /** Direction-aware bounds of range(a, b): (start, delta, length).
    * Empty ranges error like the reference (parser.go:698-701).
    */
  private def rangeSpec(a: Long, b: Long): (Long, Long, Long) = {
    require(a != b, "range: empty range")
    if (b > a) (a, 1L, b - a) else (a, -1L, a - b)
  }

  /** addToPipe: materialize the formula as a new column.
    *
    * Order-dependent functions (lag/row/cume/prod/count) compile to
    * the bucketed plan: rows are bucketed by seq range (`bucketWidth`
    * rows per bucket), windows partition by bucket, and the
    * cross-bucket carry comes from a per-bucket aggregate — one row
    * per bucket — prefix-scanned and broadcast-joined back. No step
    * moves more than O(#buckets) rows through a single partition.
    *
    * Numeric note: double-typed running sums associate as
    * (within-bucket) + (bucket totals); results can differ from a
    * strictly sequential scan in the last ulp once a frame spans
    * multiple buckets. Integer accumulators are exact.
    */
  def addToPipe(df: DataFrame, name: String, formula: String,
      seqCol: Option[String] = None,
      bucketWidth: Long = Compiler.DefaultBucketWidth): DataFrame = {
    // a range bound: constant-folded, else evaluated on the frame's
    // first row (the reference takes element 0 of the evaluated
    // vector, parser.go:1377-1378 via ranger's Any2Int32)
    def bound(e: Expr): Long = constLong(e).getOrElse {
      val v = staged(df, seqCol, bucketWidth, "__bound" -> (_.compile(e)))
      seqCol.fold(v.limit(1))(s => v.where(col(s) === 0))
        .select(col("__bound").cast("long")).head().getLong(0)
    }
    (seqCol, Parser.parse(formula)) match {
      // root-level range: name = range(a, b) (reference ranger,
      // parser.go:682-723). The sequence is closed-form in the row
      // order (value = a + delta·seq) — never materialized on the
      // driver. Length rules follow the reference's AddToPipe: a
      // length-1 range broadcasts as a scalar; a range matching the
      // frame's row count attaches positionally; a 1-row pipe is
      // REPLACED by the range (parser_test.go:836-858, where a 1-row
      // pipe becomes the 10-row range(0,10) pipe).
      case (optS, Expr.Call("range", List(ae, be))) =>
        val (a, delta, len) = rangeSpec(bound(ae), bound(be))
        if (len == 1) df.withColumn(name, lit(a))
        else {
          val s = optS.getOrElse(throw new IllegalStateException(
            "range() needs an explicit row order; pass seqCol"))
          val n = df.count()
          if (n == len)
            df.withColumn(name, lit(a) + lit(delta) * col(s).cast("long"))
          else if (n == 1)
            df.crossJoin(df.sparkSession.range(len).toDF("__rg"))
              .withColumn(name, lit(a) + lit(delta) * col("__rg"))
              .withColumn(s, col("__rg")).drop("__rg")
          else throw new IllegalArgumentException(
            s"range: length $len does not match pipe rows $n " +
              "(and the pipe is not a 1-row pipe to replace)")
        }
      // root-level gather: name = x[idx] (reference Index,
      // parser.go:1379, data.go:641-660) — a join of the positions
      // against the frame's sequence, not a Column expression; both
      // argument expressions may themselves be formulas. With a
      // full-length range as the positions, index(x, range(a, b)),
      // they are closed-form in seq, so the slab never exists as data
      // — e.g. range(n-1, -1) reverses the column. Lengths must match
      // (the reference's Index output is indices-length,
      // data.go:640-659; AddToPipe cannot hold a mismatched field).
      case (Some(s), Expr.Call("index", List(xe, ie))) =>
        val (positions, knownCount) = ie match {
          case Expr.Call("range", List(ae, be)) =>
            val (a, delta, len) = rangeSpec(bound(ae), bound(be))
            val n = df.count()
            require(n == len,
              s"index(x, range): range length $len != pipe rows $n")
            ((_: Compiler) => lit(a) + lit(delta) * col(s).cast("long"),
              Some(n))
          case _ => ((c: Compiler) => c.compile(ie), None)
        }
        val frame = graft.frame.SeaFrame(
          staged(df, seqCol, bucketWidth,
            "__gather_x" -> (_.compile(xe)), "__gather_i" -> positions),
          graft.types.FeatureSchema.empty, Some(s),
          knownCount = knownCount)
        graft.ops.Gather.index(frame, "__gather_x", "__gather_i")
          .withColumnRenamed("__gather_x_at___gather_i", name)
          .drop("__gather_x", "__gather_i")
      case (_, ast) =>
        staged(df, seqCol, bucketWidth, name -> (_.compile(ast)))
    }
  }

  /** Loop(var, start, end): iterative re-evaluation with an integer
    * loop variable substituted each pass, results assigned back into
    * the frame (parser.go:1761-1804) — a driver-side fold.
    */
  def loop(df: DataFrame, varName: String, start: Int, end: Int,
      assigns: Seq[(String, String)], seqCol: Option[String] = None)
      : DataFrame = {
    require(!df.columns.contains(varName),
      s"loop: variable '$varName' collides with an existing column")
    var cur = df
    (start until end).foreach { i =>
      cur = cur.withColumn(varName, lit(i))
      assigns.foreach { case (name, f) =>
        cur = addToPipe(cur, name, f, seqCol)
      }
    }
    cur.drop(varName)
  }
}
