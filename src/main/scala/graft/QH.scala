package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the query catalog: readers plus cross-engine
  * deterministic aggregation.
  *
  * Doubles summed in different orders differ in the last ulps, so any
  * floating aggregate that must hash-match a DuckDB oracle goes
  * through an exact decimal accumulator and returns to double only at
  * the end; derived statistics (avg, stddev) are then computed with
  * the SAME double-arithmetic formula on both engines, making them
  * bit-identical without rounding.
  */
object QH {
  type QFn = (SparkSession, String) => DataFrame
  type Q = (QFn, Option[String])

  /** Normalize an events-shaped `ts` column to TIMESTAMP (LTZ),
    * whatever the parquet encoding of the generated data:
    * TIMESTAMP(NANOS) surfaces as long under nanosAsLong sessions
    * (truncate to micros, matching DuckDB's ns->us cast);
    * MICROS-not-adjusted-to-UTC infers as TIMESTAMP_NTZ (cast — the
    * session timezone is pinned UTC, so wall values are unchanged and
    * the column becomes watermarkable, which streaming requires).
    */
  def normalizeTs(df: DataFrame): DataFrame =
    if (!df.columns.contains("ts")) df
    else df.schema("ts").dataType.typeName match {
      case "long" =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case "timestamp_ntz" =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** A JSON string literal: escapes backslash, quote and ALL control
    * chars (< 0x20) — a tab or CR in builder-authored SQL or a run
    * condition would otherwise make a JSON reader reject the whole
    * artifact.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Table reader (ts-normalizing, see [[normalizeTs]]). */
  def read(s: SparkSession, dir: String, table: String): DataFrame =
    normalizeTs(s.read.parquet(s"$dir/$table.parquet"))

  /** Spread a small single-row-group scan across all cores before
    * CPU-heavy per-row work (text analysis, hashing). At production
    * scale multi-row-group files parallelize naturally and this is a
    * no-op decision for the caller.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Exact order-independent sum of a money-like double. */
  def dsum(c: Column): Column = sum(c.cast("decimal(25,6)")).cast("double")
  def sqlDsum(e: String): String =
    s"CAST(sum(CAST($e AS DECIMAL(25,6))) AS DOUBLE)"

  /** Exact-sum, double-divide average. */
  def davg(c: Column): Column = dsum(c) / count(c)
  def sqlDavg(e: String): String = s"${sqlDsum(e)} / count($e)"

  /** Exact sum of squares (wider scale for the squared magnitude). */
  def dsumsq(c: Column): Column =
    sum((c.cast("double") * c.cast("double")).cast("decimal(38,10)"))
      .cast("double")
  def sqlDsumsq(e: String): String =
    s"CAST(sum(CAST(CAST($e AS DOUBLE) * CAST($e AS DOUBLE) AS DECIMAL(38,10))) AS DOUBLE)"

  /** Deterministic sample stddev from exact sums:
    * sqrt((S2 - S1^2/n) / (n-1)) evaluated in identical double ops on
    * both engines.
    */
  def dstd(c: Column): Column = {
    val s1 = dsum(c); val s2 = dsumsq(c); val n = count(c).cast("double")
    sqrt((s2 - s1 * s1 / n) / (n - lit(1.0)))
  }
  def sqlDstd(e: String): String = {
    val s1 = sqlDsum(e); val s2 = sqlDsumsq(e)
    s"sqrt(($s2 - $s1 * $s1 / count($e)) / (count($e) - 1.0))"
  }

  /** Deterministic I/U/D change feed over the customer snapshot,
    * shared by the batch (q207) and streaming (q208) CDC-apply
    * entries and replayed verbatim by both oracles: seq-1 update for
    * sevenths (+500), seq-2 update for fourteenths (+1000), seq-3
    * delete for thirteenths, seq-4 re-insert for twenty-sixths
    * (balance reset), seq-1 insert for ninety-sevenths (shifted
    * keys). (key, seq) is unique by construction, so latest-wins is
    * deterministic. Columns: op, seq, tie(=seq), c_custkey, c_name,
    * c_acctbal.
    */
  def cdcChangeFeed(customer: DataFrame): DataFrame = {
    val base = customer.select(col("c_custkey"), col("c_name"),
      col("c_acctbal"))
    def ch(op: String, seq: Long, rows: DataFrame): DataFrame =
      rows.select(lit(op).as("op"), lit(seq).as("seq"),
        lit(seq).as("tie"), col("c_custkey"), col("c_name"),
        col("c_acctbal"))
    ch("U", 1L, base.where(col("c_custkey") % 7 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 500.0))
      .unionByName(ch("U", 2L, base.where(col("c_custkey") % 14 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)))
      .unionByName(ch("D", 3L, base.where(col("c_custkey") % 13 === 0)))
      .unionByName(ch("U", 4L, base.where(col("c_custkey") % 26 === 0)
        .withColumn("c_acctbal", lit(0.0))))
      .unionByName(ch("I", 1L, base.where(col("c_custkey") % 97 === 0)
        .select((col("c_custkey") + 10000000L).as("c_custkey"),
          concat(lit("NEW "), col("c_name")).as("c_name"),
          col("c_acctbal"))))
  }

  /** The [[cdcChangeFeed]] as a DuckDB CTE body (`ch`), for oracle
    * reuse across q207/q208.
    */
  val cdcChangeFeedSql: String =
    """base AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
       ch AS (
         SELECT 'U' AS op, 1 AS seq, c_custkey, c_name,
                c_acctbal + 500.0 AS c_acctbal
         FROM base WHERE c_custkey % 7 = 0
         UNION ALL SELECT 'U', 2, c_custkey, c_name, c_acctbal + 1000.0
         FROM base WHERE c_custkey % 14 = 0
         UNION ALL SELECT 'D', 3, c_custkey, c_name, c_acctbal
         FROM base WHERE c_custkey % 13 = 0
         UNION ALL SELECT 'U', 4, c_custkey, c_name, 0.0
         FROM base WHERE c_custkey % 26 = 0
         UNION ALL SELECT 'I', 1, c_custkey + 10000000, 'NEW ' || c_name,
                c_acctbal
         FROM base WHERE c_custkey % 97 = 0),
       latest AS (SELECT op, c_custkey, c_name, c_acctbal FROM
         (SELECT ch.*, row_number() OVER (PARTITION BY c_custkey
            ORDER BY seq DESC) AS rn FROM ch)
         WHERE rn = 1)"""
}
