package graft

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.functions._

/** The sorted zip (map-stage row counts via accumulator +
  * submitMapStage + one shuffle read) must agree exactly with Spark's
  * own definition: `df.orderBy(keys).collect()` enumerated 0..n-1 on
  * the driver. Tied rows are identical in every column here, so the
  * comparison is exact whatever order the sorter leaves ties in.
  */
class SinglePassZipSpec extends SparkSuite {
  import spark.implicits._

  /** Zip `df` by `keys`; assert the count, the dense sequence, the
    * output columns and every row against the Spark reference.
    */
  private def assertMatchesOrderBy(df: DataFrame, keys: Seq[Column])
      : Unit = {
    val (zipped, n) = GraftBridge.sortedZipWithSequence(df, keys, "__seq")
    val want = df.orderBy(keys: _*).collect().toSeq
    assert(n == want.length)
    // computed key columns are dropped from the output
    assert(zipped.columns.toSeq == df.columns.toSeq :+ "__seq")
    val got = zipped.collect().toSeq.sortBy(_.getAs[Long]("__seq"))
    assert(got.map(_.getAs[Long]("__seq")) == want.indices.map(_.toLong))
    assert(got.map(r => Row.fromSeq(r.toSeq.init)) == want)
  }

  test("single-pass zip equals Spark orderBy (asc keys, ties)") {
    val li = QH.read(spark, TestSpark.sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
      .repartition(7) // multiple map tasks
    assertMatchesOrderBy(li, Seq(col("l_orderkey").asc,
      col("l_partkey").asc, col("l_quantity").asc))
  }

  test("single-pass zip: desc key and computed key") {
    val li = QH.read(spark, TestSpark.sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_extendedprice")
      .repartition(5)
    assertMatchesOrderBy(li, Seq(col("l_extendedprice").desc,
      (col("l_orderkey") * 2).asc, col("l_partkey").asc))
  }

  test("single-pass zip: null sort keys, default and explicit null " +
      "orderings") {
    // negative keys: a null prefix mistaken for 0 would land mid-order
    val d = (0 until 300).map { i =>
      (if (i % 7 == 0) None else Some((i % 13 - 6).toLong),
        if (i % 5 == 0) None else Some((i % 11 - 5).toDouble), i.toLong)
    }.toDF("k", "x", "id").repartition(6)
    assertMatchesOrderBy(d, Seq(col("k").asc, col("id").asc))
    assertMatchesOrderBy(d, Seq(col("x").desc, col("id").asc))
    assertMatchesOrderBy(d, Seq(col("k").asc_nulls_last, col("id").asc))
    assertMatchesOrderBy(d, Seq(col("x").desc_nulls_first,
      col("id").asc))
    // single key: the radix-eligible path sorts by the prefix alone
    assertMatchesOrderBy(d.select("k"), Seq(col("k").asc))
    val (zipped, _) = GraftBridge.sortedZipWithSequence(d,
      Seq(col("k").asc, col("id").asc), "__seq")
    assert(zipped.rdd.getNumPartitions > 1)
  }

  test("single-pass zip: empty frame and single partition") {
    val li = QH.read(spark, TestSpark.sfDir, "lineitem")
      .select("l_orderkey").where(lit(false)).repartition(1)
    val (one, n) = GraftBridge.sortedZipWithSequence(li,
      Seq(col("l_orderkey").asc), "__seq")
    assert(n == 0 && one.count() == 0)
    assertMatchesOrderBy(li, Seq(col("l_orderkey").asc))
  }
}
