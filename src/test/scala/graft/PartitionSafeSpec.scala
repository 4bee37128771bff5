package graft

import graft.exprlang.Formula
import graft.ops.ScanOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The partition-safe ordered-semantics machinery (VERDICT r1 item 1):
  * formula-DSL order functions, ScanOps prefix sums / exact ntile —
  * multi-bucket results must equal the sequential single-bucket
  * results, and no plan may window the big table through a single
  * partition.
  */
class PartitionSafeSpec extends SparkSuite {
  import spark.implicits._

  // integer-valued doubles: bucketed regrouped sums stay exact
  private def frame = (0 until 10).map { i =>
    (i.toLong, (i % 5 + 1).toDouble, (10 - i).toDouble)
  }.toDF("__seq", "x", "y")

  private val formulas = Seq(
    "lag(x, -1)", "row(x)", "countBefore(x)", "countAfter(x)",
    "cumeBefore(x)", "cumeAfter(x)", "prodBefore(x)", "prodAfter(x)",
    "cumeBefore(x) / countBefore(x)", "lag(x, 0) + row(x)")

  formulas.foreach { f =>
    test(s"multi-bucket addToPipe matches single-bucket: $f") {
      val single = Formula
        .addToPipe(frame, "out", f, Some("__seq"), bucketWidth = 1000L)
      val multi = Formula
        .addToPipe(frame, "out", f, Some("__seq"), bucketWidth = 3L)
      val a = col1(single, "out").map(_.asInstanceOf[Double])
      val b = col1(multi, "out").map(_.asInstanceOf[Double])
      // prod* runs through log-space doubles: regrouped sums can move
      // the last ulp (documented in Formula.addToPipe); everything
      // integer-accumulated is exact
      a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x)),
          s"$f: single=$a multi=$b")
      }
    }
  }

  test("bare Formula.column REFUSES order functions (no whole-frame " +
      "window)") {
    val f = frame
    val ex = intercept[IllegalArgumentException] {
      Formula.column(f, "cumeBefore(x)", Some("__seq"))
    }
    assert(ex.getMessage.contains("addToPipe"))
    // nested/compound uses are caught too
    intercept[IllegalArgumentException] {
      Formula.column(f, "1 + lag(x, 0) * 2", Some("__seq"))
    }
    // order-free formulas still compile bare
    val ok = f.select(Formula.column(f, "x + y", Some("__seq")).as("s"))
    assert(ok.count() == 10)
  }

  /** Seq-ordered windows with no partition spec in `out`'s final
    * adaptive plan (executed first, query stages walked).
    */
  private def unpartitionedSeqWindows(out: DataFrame): Seq[WindowExec] = {
    out.collect()
    planNodes(out.queryExecution.executedPlan).collect {
      case w: WindowExec
          if w.orderSpec.exists(_.child.toString.contains("__seq")) &&
            w.partitionSpec.isEmpty => w
    }
  }

  private def big = (0 until 1000).map(i => (i.toLong, i.toDouble))
    .toDF("__seq", "x")

  test("addToPipe plans no single-partition window over the data " +
      "(every seq-ordered WindowExec is partitioned)") {
    val out = Formula.addToPipe(big, "out",
      "cumeBefore(x) + lag(x, 0) + row(x)", Some("__seq"), bucketWidth = 100L)
    val offenders = unpartitionedSeqWindows(out)
    assert(offenders.isEmpty,
      s"unpartitioned seq-ordered windows:\n${offenders.mkString("\n")}")
  }

  test("index(x, ...) operands compile to the bucketed window: " +
      "gathered running sums and lags are exact, no unpartitioned " +
      "seq-ordered window") {
    val n = 1000
    // x = seq, so cumeBefore(x)[k] = k(k+1)/2 and lag(x, 0)[k] = k-1
    // (0 at k = 0); positions i = 7·seq + 3 mod n scatter every read
    val withPos = big.withColumn("i", (col("__seq") * 7 + 3) % n)
    val pos = (0 until n).map(r => (r * 7 + 3) % n)
    val run = (0 until n).map(k => k.toDouble * (k + 1) / 2)
    val lagged = (0 until n).map(k => if (k == 0) 0.0 else k - 1.0)
    Seq(("index(cumeBefore(x), i)", pos.map(run)),
      ("index(lag(x, 0), i)", pos.map(lagged)),
      ("index(cumeBefore(x), range(999, -1))", run.reverse)).foreach {
      case (f, want) =>
        val out = Formula.addToPipe(withPos, "out", f, Some("__seq"),
          bucketWidth = 100L)
        val offenders = unpartitionedSeqWindows(out)
        assert(offenders.isEmpty, s"$f: unpartitioned seq-ordered " +
          s"windows:\n${offenders.mkString("\n")}")
        assert(col1(out, "out") == want, f)
    }
  }

  test("lag crosses bucket boundaries with the previous bucket's last " +
      "value") {
    val out = Formula.addToPipe(frame, "out", "lag(x, -99)",
      Some("__seq"), bucketWidth = 3L)
    val got = col1(out, "out")
    val xs = frame.orderBy("__seq").select("x").collect()
      .map(_.getDouble(0)).toSeq
    assert(got == (-99.0 +: xs.dropRight(1)))
  }

  test("ScanOps.prefixSums equals a sequential running sum (ints " +
      "exact, many buckets)") {
    val d = (1 to 100).map(i => (i.toDouble, i.toLong))
      .toDF("ord", "v")
    val got = ScanOps.prefixSums(d, "ord", Seq("run" -> col("v")),
        buckets = 8)
      .orderBy("ord").select("run").collect().map(_.getLong(0)).toSeq
    val want = (1 to 100).scanLeft(0L)(_ + _).tail
    assert(got == want)
  }

  test("ScanOps.prefixSums is single-scan: bucket totals reuse the " +
      "window exchange; the pinned partition key survives folding") {
    val d = (1 to 200).map(i => (i.toDouble, i.toLong)).toDF("ord", "v")
    val out = ScanOps.prefixSums(d, "ord", Seq("run" -> col("v")),
      buckets = 4)
    out.collect() // AQE finalizes the plan on execution
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") ||
      plan.split("LocalTableScan").length - 1 <= 1,
      s"expected the totals branch to reuse the window exchange:\n$plan")
    // the O(buckets) offsets window keeps an explicit partition spec:
    // every Window node lists a non-empty partition column list (a
    // folded-empty spec would show `windowspecdefinition(<ord> ASC`
    // with no leading partition expressions and log the warning)
    val winSpecs = "windowspecdefinition\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    // an empty partition spec puts a sort direction on the FIRST arg
    assert(winSpecs.nonEmpty && winSpecs.forall { s =>
      val first = s.split(", ")(0)
      !first.contains(" ASC") && !first.contains(" DESC")
    }, s"a window lost its partition key:\n$plan")
  }

  test("ScanOps.prefixSums RANGE semantics: ties see the whole tie " +
      "group") {
    val d = Seq((1.0, 1L), (1.0, 2L), (2.0, 4L)).toDF("ord", "v")
    val got = ScanOps.prefixSums(d, "ord", Seq("run" -> col("v")),
        buckets = 2)
      .orderBy("ord", "v").select("run").collect()
      .map(_.getLong(0)).toSeq
    assert(got == Seq(3L, 3L, 7L))
  }

  test("ScanOps.movingAgg equals the single-partition ROWS window " +
      "across bucket boundaries; padding never leaks") {
    val n = 200
    val d = (1 to n).map(i => (i.toDouble, (i * 7 % 13).toLong))
      .toDF("ord", "v")
    val got = ScanOps.movingAgg(d, "ord",
        Seq(("ms", col("v"), (c: org.apache.spark.sql.Column) => sum(c)),
          ("mn", lit(1L), (c: org.apache.spark.sql.Column) => count(c))),
        k = 7, buckets = 8)
      .orderBy("ord").collect()
      .map(r => (r.getDouble(0), r.getLong(2), r.getLong(3)))
    assert(got.length == n) // padding rows dropped, none lost
    val vs = (1 to n).map(i => (i * 7 % 13).toLong)
    got.zipWithIndex.foreach { case ((_, ms, mn), i) =>
      val lo = math.max(0, i - 6)
      assert(mn == (i - lo + 1).toLong, s"row $i frame count")
      assert(ms == vs.slice(lo, i + 1).sum, s"row $i frame sum")
    }
    // k = 1 degenerates to the row itself
    val k1 = ScanOps.movingAgg(d, "ord",
        Seq(("ms", col("v"), (c: org.apache.spark.sql.Column) => sum(c))),
        k = 1, buckets = 4)
      .orderBy("ord").select("ms").collect().map(_.getLong(0)).toSeq
    assert(k1 == vs)
    // a bucket too small to pad its successor ERRORS instead of
    // silently truncating frames
    val tiny = (1 to 12).map(i => (i.toDouble, 1L)).toDF("ord", "v")
    val err = intercept[Exception] {
      ScanOps.movingAgg(tiny, "ord",
        Seq(("ms", col("v"), (c: org.apache.spark.sql.Column) => sum(c))),
        k = 9, buckets = 6).collect()
    }
    assert(err.getMessage != null)
    // the guard rides EVERY aggregate column: projecting away the
    // first aggregate must not let Catalyst prune the check
    val err2 = intercept[Exception] {
      ScanOps.movingAgg(tiny, "ord",
        Seq(("ms", col("v"), (c: org.apache.spark.sql.Column) => sum(c)),
          ("mn", col("v"), (c: org.apache.spark.sql.Column) => count(c))),
        k = 9, buckets = 6).select("mn").collect()
    }
    assert(err2.getMessage != null)
  }

  test("ScanOps.ntile matches SQL ntile for uneven splits") {
    for (n <- Seq(7, 10, 23); k <- Seq(3, 4, 10)) {
      val d = (1 to n).map(i => Tuple1(i.toDouble)).toDF("s")
      val got = ScanOps.ntile(d, Seq(col("s").asc), k, "b")
        .orderBy("s").select("b").collect().map(_.getLong(0)).toSeq
      val want = d.select(col("s"),
          ntile(k).over(Window.orderBy(col("s"))).cast("long").as("b"))
        .orderBy("s").select("b").collect().map(_.getLong(0)).toSeq
      assert(got == want, s"n=$n k=$k: got=$got want=$want")
    }
  }

  test("property: order functions match a local sequential evaluator " +
      "on random frames at random bucket widths") {
    val rnd = new scala.util.Random(2024)
    def localEval(op: String, xs: Seq[Double], m: Double): Seq[Double] =
      op match {
        case "lag" => m +: xs.dropRight(1)
        case "row" => xs.indices.map(_.toDouble)
        case "countBefore" => xs.indices.map(i => (i + 1).toDouble)
        case "countAfter" => xs.indices.map(i => (xs.length - i).toDouble)
        case "cumeBefore" => xs.scanLeft(0.0)(_ + _).tail
        case "cumeAfter" => xs.scanRight(0.0)(_ + _).dropRight(1)
        case "prodBefore" => xs.scanLeft(1.0)(_ * _).tail
        case "prodAfter" => xs.scanRight(1.0)(_ * _).dropRight(1)
      }
    val ops = Seq("lag", "row", "countBefore", "countAfter",
      "cumeBefore", "cumeAfter", "prodBefore", "prodAfter")
    (0 until 6).foreach { trial =>
      val n = 5 + rnd.nextInt(30)
      val xs = Seq.fill(n)((1 + rnd.nextInt(4)).toDouble)
      val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
        .toDF("__seq", "x")
      val width = Seq(2L, 3L, 7L, 1000L)(trial % 4)
      val m = -(1 + rnd.nextInt(9)).toDouble
      ops.foreach { op =>
        val f = if (op == "lag") s"lag(x, $m)" else s"$op(x)"
        val got = col1(Formula.addToPipe(df, "out", f, Some("__seq"),
          bucketWidth = width), "out").map(_.asInstanceOf[Double])
        val want = localEval(op, xs, m)
        got.zip(want).foreach { case (g, w) =>
          assert(math.abs(g - w) <= 1e-9 * math.max(1.0, math.abs(w)),
            s"trial=$trial width=$width $f: got=$got want=$want")
        }
      }
    }
  }

  test("dateAdd normalizes day overflow like Go AddDate " +
      "(parser.go:1162)") {
    val df = Seq((java.sql.Date.valueOf("2023-01-31"), 0L),
      (java.sql.Date.valueOf("2023-01-15"), 1L),
      (java.sql.Date.valueOf("2024-02-29"), 2L)).toDF("d", "__seq")
    val out = Formula.addToPipe(df, "m1", "dateAdd(d, 1)", Some("__seq"))
    assert(col1(out, "m1").map(_.toString) ==
      Seq("2023-03-03", "2023-02-15", "2024-03-29"))
    // 12 months lands exactly one year out for a non-leap day
    val out2 = Formula.addToPipe(df, "y1", "dateAdd(d, 12)", Some("__seq"))
    assert(col1(out2, "y1").map(_.toString) ==
      Seq("2024-01-31", "2024-01-15", "2025-03-01"))
  }
}
