package graft.frame

import graft.types._
import graft.encode.Encode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SeaFrame: the pipeline facade — a DataFrame plus feature metadata
  * plus an explicit row-order column (reference Pipeline interface,
  * seafan pipeline.go:19-47).
  *
  * The reference relies on the CURRENT PHYSICAL ROW ORDER for
  * lag/cume/row/subset semantics (SURVEY §7.4 risk 1); Spark has no
  * stable implicit order, so every SeaFrame carries `__seq`: assigned
  * 0..n-1 at ingest (by a caller-declared natural key) and re-derived by
  * [[sort]]. All order-dependent ops window over it. `__seq` is data,
  * not position — it survives shuffles, repartitions, and joins, which
  * is exactly what makes the semantics cluster-safe.
  */
final case class SeaFrame(
    df: DataFrame,
    schema: FeatureSchema,
    seqCol: Option[String] = None,
    /** Sortedness metadata (reference gdata.go:31-32, 496-503):
      * (field, ascending) after [[sort]], cleared by anything that
      * breaks the order. The reference's Join uses it to skip
      * re-sorting; here Catalyst plans sorts itself, so this is
      * informational parity for callers that branch on IsSorted().
      */
    sortedBy: Option[(String, Boolean)] = None,
    /** Row count when already known (the sequence-zip counts rows as a
      * by-product) — lets [[append]] and batch windows skip a count
      * job. Must be cleared by any op that changes cardinality;
      * row-preserving ops (projection, encode withColumn) keep it.
      */
    knownCount: Option[Long] = None,
    /** Declared-but-unmaterialized row order ([[SeaFrame.ordered]]):
      * the frame's order is DEFINED by these sort keys, but the 0..n-1
      * sequence column has not been computed. Positional ops exploit
      * the declaration for top-k plans — [[row]]/[[subset]]/[[limit]]
      * become TakeOrdered over the prefix they touch instead of a
      * full-table sorted zip (at 100 TB: per-partition top-k + an
      * O(k) merge, versus a full range shuffle). Ops that need every
      * row's sequence value materialize transparently via
      * [[materialized]]. Filters keep the declaration (surviving rows
      * renumber by the same keys); projections materialize first (the
      * keys may reference dropped columns).
      */
    pendingOrder: Option[Seq[Column]] = None) {

  import SeaFrame.SEQ

  def spark: SparkSession = df.sparkSession

  /** IsSorted (gdata.go:496-498). */
  def isSorted: Boolean = sortedBy.isDefined

  /** SortField: the field the frame is sorted on, "" if none
    * (gdata.go:501-503).
    */
  def sortField: String = sortedBy.map(_._1).getOrElse("")

  /** Columns excluding the internal order column. */
  def dataColumns: Seq[String] = df.columns.toSeq.filterNot(_ == SEQ)

  /** The result with internal columns dropped — what a user sees. */
  def result: DataFrame = df.drop(SEQ)

  /** Materialize a pending order declaration into the real 0..n-1
    * sequence column (one range-partitioned sorted zip); identity when
    * the sequence already exists or no order was declared.
    */
  def materialized: SeaFrame = pendingOrder match {
    case None => this
    case Some(keys) =>
      val re = SeaFrame.withSequence(df, keys)
      copy(df = re.df, seqCol = Some(SEQ), knownCount = re.knownCount,
        pendingOrder = None)
  }

  /** The first `m` rows in declared order with their sequence values —
    * a TakeOrdered-shaped plan (per-partition top-k, O(m) merge), never
    * a full-table sort. `m` is bounded by [[SeaFrame.TopKPrefixMax]]
    * (positional requests are driver-supplied and small by contract).
    */
  private[graft] def orderedPrefix(m: Int): DataFrame = {
    val keys = pendingOrder.getOrElse(throw new IllegalStateException(
      "orderedPrefix needs a pending order declaration"))
    df.orderBy(keys: _*).limit(m)
  }

  private def topPrefix(m: Int, keys: Seq[Column]): SeaFrame = {
    val top = df.orderBy(keys: _*).limit(m)
    val re = SeaFrame.withSequence(top, keys)
    copy(df = re.df, seqCol = Some(SEQ), knownCount = re.knownCount,
      pendingOrder = None)
  }

  // ---- 2.2 projections / filters / row selection ---------------------

  /** Keep: project to `fields` in the given order (gdata.go:633-649).
    * A pending order materializes first — its keys may reference
    * columns the projection drops.
    */
  def keep(fields: Seq[String]): SeaFrame = {
    val f = materialized
    val cols = fields ++ f.seqCol.toSeq
    f.copy(df = f.df.select(cols.map(f.df(_)): _*),
      schema = FeatureSchema(schema.metas.filter(m => fields.contains(m.name))))
  }

  /** Drop one field (gdata.go:611-630). */
  def drop(field: String): SeaFrame = {
    val f = materialized
    f.copy(df = f.df.drop(field), schema = schema.without(field))
  }

  /** Where: IN-list equality filter (gdata.go:897-969). */
  def whereIn(field: String, values: Seq[Any]): SeaFrame =
    reseq(copy(df = df.where(df(field).isin(values: _*)),
      sortedBy = None, knownCount = None))

  /** Slice: arbitrary boolean-Column predicate (gdata.go:306-419);
    * compose predicates with && / || (SlicerAnd/Or slicer.go:73-84).
    */
  def slice(pred: Column): SeaFrame =
    reseq(copy(df = df.where(pred), sortedBy = None, knownCount = None))

  /** The reference's Slice/Where produce a NEW pipeline whose rows are
    * renumbered 0..n-1 (gdata.go:306-419); keep that semantic by
    * re-deriving the sequence from the surviving rows' old order.
    * Frames without an order skip this (nothing positional to keep).
    */
  private def reseq(f: SeaFrame): SeaFrame =
    if (f.pendingOrder.isDefined) f // survivors renumber by the same keys
    else f.seqCol match {
      case None => f
      case Some(_) => f.resequenced(_ => Seq.empty)
    }
  private val SEQ_TMP = "__seq_old"

  /** Subset: positional row selection under the explicit order
    * (gdata.go:852-895). Like the reference's Subset, the result is a
    * NEW pipeline renumbered 0..k-1 in `rows` order — duplicates in
    * `rows` duplicate the row, and subsequent positional ops
    * (row/limit/batch windows) see the fresh positions. Requires a seq
    * column. `rows` is a driver-side position list, so the mapping
    * joins broadcast.
    */
  def subset(rows: Seq[Long]): SeaFrame = pendingOrder match {
    // order declared but sequence not yet built: only the first
    // max(rows)+1 positions matter, so take that prefix with a
    // TakeOrdered plan and select within it — no full-table sort
    case Some(keys) if rows.nonEmpty && rows.max >= 0 &&
        rows.max < SeaFrame.TopKPrefixMax =>
      topPrefix((rows.max + 1).toInt, keys).subset(rows)
    case Some(_) => materialized.subset(rows)
    case None =>
      val s = requireSeq("subset")
      val wanted = spark.createDataFrame(rows.zipWithIndex
          .map { case (orig, pos) => (orig, pos.toLong) })
        .toDF(SEQ_TMP, "__seq_new")
      val joined = df.join(broadcast(wanted), df(s) === wanted(SEQ_TMP))
      val out = joined
        .select((dataColumns.map(joined(_)) :+
          joined("__seq_new").as(SEQ)): _*)
      copy(df = out, seqCol = Some(SEQ), sortedBy = None,
        knownCount = None)
  }

  /** Row: take the single row at position `n`, renumbered to 0
    * (gdata.go:818-849).
    */
  def row(n: Long): SeaFrame = subset(Seq(n))

  /** Limit first n rows in seq order. With a pending order and a
    * bounded n this is a TakeOrdered plan; the order declaration
    * survives (the kept rows renumber by the same keys).
    */
  def limit(n: Int): SeaFrame = pendingOrder match {
    case Some(keys) if n < SeaFrame.TopKPrefixMax =>
      copy(df = df.orderBy(keys: _*).limit(n), knownCount = None)
    case Some(_) => materialized.limit(n)
    case None =>
      val s = requireSeq("limit")
      copy(df = df.where(df(s) < n),
        knownCount = knownCount.map(math.min(_, n.toLong)))
  }

  // ---- 2.6 sorts / shuffles ------------------------------------------

  /** Sort by field, re-deriving the order column so subsequent
    * order-dependent ops follow the new order (gdata.go:421-493).
    * Ties broken by the previous sequence for determinism.
    *
    * Scale note: routed through [[SeaFrame.withSequence]] — a
    * range-partitioned parallel sort plus per-partition offsets — NOT a
    * global `row_number()` window, which would funnel the whole table
    * through one partition.
    */
  def sort(field: String, ascending: Boolean = true): SeaFrame =
    resequenced { tmp =>
      val key = if (ascending) tmp(field).asc else tmp(field).desc
      Seq(key)
    }.copy(sortedBy = Some(field -> ascending))

  /** Shuffle: seeded permutation (gdata.go:506-510). The permutation
    * key is a deterministic seeded hash (not `rand`): withSequence's
    * range sampling and its map stage each evaluate the key, and the
    * two must agree. Seeded so tests are reproducible; excluded from
    * oracle hash-match regardless.
    */
  def shuffle(seed: Long): SeaFrame =
    resequenced { tmp =>
      val salt = seqCol match {
        case Some(_) => xxhash64(col(SEQ_TMP), lit(seed))
        case None => xxhash64(
          (dataColumns.map(tmp(_)) :+ lit(seed)): _*)
      }
      Seq(salt.asc)
    }.copy(sortedBy = None) // gdata.go:507 clears sortField

  /** Re-derive the sequence by new sort keys (previous sequence as the
    * tiebreak when present), via the range-partitioned withSequence
    * path.
    */
  private def resequenced(keys: DataFrame => Seq[Column]): SeaFrame =
    pendingOrder match {
      // a re-sort of a declared-but-unmaterialized order stays lazy:
      // the old keys become the tiebreak, nothing is computed yet
      case Some(old) =>
        copy(pendingOrder = Some(keys(df) ++ old), seqCol = None)
      case None => seqCol match {
        case Some(s) =>
          val tmp = df.withColumnRenamed(s, SEQ_TMP)
          val re = SeaFrame.withSequence(tmp, keys(tmp) :+ col(SEQ_TMP).asc)
          copy(df = re.df.drop(SEQ_TMP), seqCol = Some(SEQ),
            knownCount = re.knownCount)
        case None =>
          val re = SeaFrame.withSequence(df, keys(df))
          copy(df = re.df, seqCol = Some(SEQ), knownCount = re.knownCount)
      }
    }

  /** Top-K values of a column by count (data.go:815-837). */
  def topK(field: String, k: Int, byCount: Boolean = true): DataFrame = {
    val counted = df.groupBy(df(field)).agg(count(lit(1)).as("count"))
    val ordered = if (byCount)
      counted.orderBy(col("count").desc, col(field).asc)
    else counted.orderBy(col(field).asc)
    ordered.limit(k)
  }

  // ---- 2.5 append ----------------------------------------------------

  /** Append: union by name; `other` must contain all of this frame's
    * fields, extras dropped (pipeline.go:429-464). Sequence numbers of
    * the appended rows follow this frame's (offset by row count).
    */
  def append(other: SeaFrame): SeaFrame =
    if (pendingOrder.isDefined || other.pendingOrder.isDefined)
      // the appended rows' offsets need real sequence values
      materialized.append(other.materialized)
    else appendMaterialized(other)

  private def appendMaterialized(other: SeaFrame): SeaFrame = {
    val fields = dataColumns
    val missing = fields.filterNot(other.df.columns.contains)
    require(missing.isEmpty,
      s"append: right side missing fields ${missing.mkString(",")}")
    (seqCol, other.seqCol) match {
      case (Some(s), Some(os)) =>
        // The seq offset is this frame's row count. When the zip
        // already knows it, no job runs; otherwise plan it as a lazy
        // broadcast scalar (seq is dense 0..n-1, so n = max(seq)+1) —
        // evaluated inside the same action, never an eager count.
        val right = knownCount match {
          case Some(n) =>
            other.df.withColumn(SEQ, other.df(os) + lit(n))
              .select((fields :+ SEQ).map(c => col(c)): _*)
          case None =>
            val off = df.agg(
              coalesce(max(df(s)) + 1L, lit(0L)).as("__seq_off"))
            other.df.crossJoin(broadcast(off))
              .withColumn(SEQ, col(os) + col("__seq_off"))
              .select((fields :+ SEQ).map(c => col(c)): _*)
        }
        copy(df = df.select((fields :+ SEQ).map(c => df(c)): _*)
          .unionByName(right), sortedBy = None,
          knownCount =
            for (a <- knownCount; b <- other.knownCount) yield a + b)
      case _ =>
        copy(df = df.select(fields.map(df(_)): _*)
          .unionByName(other.df.select(fields.map(other.df(_)): _*)),
          seqCol = None, sortedBy = None,
          knownCount =
            for (a <- knownCount; b <- other.knownCount) yield a + b)
    }
  }

  /** Row re-read in sequence order (the reference's GData reader
    * surface, gdata.go:653-722): a lazy driver-side iterator — rows
    * stream partition by partition, never fully materialized on the
    * driver.
    */
  def readRows(): Iterator[org.apache.spark.sql.Row] = reader().iterator

  /** A positioned reader with the reference's full surface: Read,
    * Seek, Reset, CountLines (gdata.go:653-722).
    */
  def reader(): RowReader = new RowReader(this)

  // ---- encoding shortcuts -------------------------------------------

  def appendC(raw: String, name: String, normalize: Boolean = false,
      fitted: Option[FeatureMeta] = None): SeaFrame = {
    val (d, m) = Encode.appendC(df, raw, name, normalize, fitted)
    copy(df = d, schema = schema.updated(m))
  }

  def appendD(raw: String, name: String,
      fitted: Option[FeatureMeta] = None): SeaFrame = {
    val (d, m) = Encode.appendD(df, raw, name, fitted)
    copy(df = d, schema = schema.updated(m))
  }

  def makeOneHot(from: String, name: String): SeaFrame = {
    val (d, m) = Encode.makeOneHot(df, schema(from), from, name)
    copy(df = d, schema = schema.updated(m))
  }

  private def requireSeq(op: String): String = seqCol.getOrElse(
    throw new IllegalStateException(
      s"$op requires an explicit row order; call withSequence()/sort() first"))
}

/** Positioned row reader over a SeaFrame's explicit order — the
  * reference's GData reader surface (gdata.go:653-722): `read(n)`
  * advances, `seek(line)` positions (backward seeks re-open the
  * lazy iterator — one re-run of the query, no driver
  * materialization), `reset()` rewinds, `countLines()` is one count
  * job. Rows stream partition by partition via toLocalIterator.
  */
final class RowReader(frame: SeaFrame) {
  import org.apache.spark.sql.Row
  import scala.jdk.CollectionConverters._

  private def ordered = frame.pendingOrder match {
    case Some(keys) => frame.df.orderBy(keys: _*) // no zip needed to read
    case None =>
      frame.seqCol.map(s => frame.df.orderBy(frame.df(s)))
        .getOrElse(frame.df).drop(SeaFrame.SEQ)
  }

  private var it: Iterator[Row] = fresh()
  private var posV: Long = 0L

  private def fresh(): Iterator[Row] = ordered.toLocalIterator().asScala

  /** Current 0-based line position. */
  def pos: Long = posV

  def hasNext: Boolean = it.hasNext

  def next(): Row = { posV += 1; it.next() }

  /** Read up to n rows from the current position. */
  def read(n: Int): Seq[Row] = {
    val out = scala.collection.mutable.ArrayBuffer[Row]()
    while (out.length < n && it.hasNext) out += next()
    out.toSeq
  }

  /** Ranged read: up to n rows at positions [from, from+n), WITHOUT
    * consuming the prefix — planned as a positional subset (TakeOrdered
    * prefix under a declared order, a seq-range filter otherwise), so
    * reading a far window costs one bounded query instead of the O(from)
    * forward iteration a backward `seek` pays. The cursor is unchanged;
    * past-end positions return fewer rows, like [[read]].
    */
  def read(from: Long, n: Int): Seq[Row] = {
    require(from >= 0 && n >= 0, s"read($from, $n)")
    if (n == 0) Seq.empty
    else frame.pendingOrder match {
      case Some(_) =>
        frame.subset(from until (from + n))
          .df.orderBy(org.apache.spark.sql.functions.col(SeaFrame.SEQ))
          .drop(SeaFrame.SEQ).collect().toSeq
      case None =>
        val s = frame.seqCol.getOrElse(throw new IllegalStateException(
          "read(from, n) needs a declared order or a seq column"))
        frame.df.where(frame.df(s) >= from && frame.df(s) < from + n)
          .orderBy(frame.df(s)).drop(SeaFrame.SEQ).collect().toSeq
    }
  }

  /** Position at 0-based `line`; errors past end like the reference's
    * io.EOF (gdata.go:700-707).
    */
  def seek(line: Long): Unit = {
    require(line >= 0, s"seek($line)")
    if (line < posV) reset()
    while (posV < line && it.hasNext) next()
    if (posV < line)
      throw new java.util.NoSuchElementException(
        s"seek($line): past end at $posV")
  }

  /** Rewind to line 0 (re-opens the iterator). */
  def reset(): Unit = { it = fresh(); posV = 0L }

  /** Total row count (one distributed count job). */
  def countLines(): Long = frame.df.count()

  def iterator: Iterator[Row] = new Iterator[Row] {
    def hasNext: Boolean = RowReader.this.hasNext
    def next(): Row = RowReader.this.next()
  }
}

object SeaFrame {
  /** Internal row-order column name. */
  val SEQ = "__seq"

  /** Largest positional prefix served by the TakeOrdered fast path:
    * the prefix flows through one merge task, so it must stay bounded.
    * Positional requests are driver-supplied lists, small by contract;
    * anything larger falls back to the full range-partitioned zip.
    */
  val TopKPrefixMax: Long = 1L << 17

  /** Wrap a DataFrame with no order guarantee. */
  def apply(df: DataFrame): SeaFrame = SeaFrame(df, FeatureSchema.empty, None)

  /** Wrap with a DECLARED order, materializing no sequence yet: the
    * preferred constructor when the frame's next use is positional
    * ([[SeaFrame.row]]/[[SeaFrame.subset]]/[[SeaFrame.limit]]/
    * [[SeaFrame.reader]]) — those become top-k/streaming plans instead
    * of paying a full-table sorted zip up front. Ops that need every
    * sequence value materialize transparently. [[SeaFrame.withSequence]]
    * remains the eager form for callers that read `df`'s seq column
    * directly (formula windows, gather, joins).
    */
  def ordered(df: DataFrame, orderBy: Seq[Column]): SeaFrame =
    SeaFrame(df, FeatureSchema.empty, None, pendingOrder = Some(orderBy))

  /** Wrap and assign sequence 0..n-1 by the given natural-key order.
    *
    * Scale note: a global row_number window would funnel every row
    * through ONE partition. Instead: a range-partitioned parallel sort
    * whose map stage also counts the rows bound for each partition,
    * giving the partition offsets with no extra job
    * (GraftBridge.sortedZipWithSequence) — the sequence stays globally
    * correct with no single-partition bottleneck.
    */
  def withSequence(df: DataFrame, orderBy: Seq[Column]): SeaFrame = {
    val (zipped, n) = org.apache.spark.sql.GraftBridge
      .sortedZipWithSequence(df, orderBy, SEQ)
    SeaFrame(zipped, FeatureSchema.empty, Some(SEQ),
      knownCount = Some(n))
  }
}
