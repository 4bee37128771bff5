package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, Expression, GenericInternalRow, JoinedRow, NullOrdering, NullsFirst, NullsLast, SortDirection}

/** Bridge into Spark's private[sql] Column <-> Expression conversion
  * (Spark 4 moved it behind classic.ExpressionUtils). Lives in the
  * org.apache.spark.sql package solely to satisfy the access
  * modifier; the engine's own code stays in graft.*.
  */
object GraftBridge {
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Stable UNIQUE id of a session — `sessionUUID` is private[sql]
    * on the classic session; identity hash only for exotic impls
    * (an identity hash can collide across session restarts in a
    * long-lived JVM, a UUID cannot).
    */
  def sessionUid(s: SparkSession): String = s match {
    case c: classic.SparkSession => c.sessionUUID
    case other => "idhash-" + System.identityHashCode(other)
  }

  /** Append a contiguous 0..n-1 long column to `df` in its CURRENT
    * partition order, plus the row count, without leaving the
    * InternalRow world: one job counts rows per partition (the driver
    * receives one long per partition), a second maps each partition
    * with its prefix offset. Rows are wrapped, not deserialized. The
    * upstream plan executes twice. The no-sort-key case of
    * [[sortedZipWithSequence]].
    */
  private def zipWithSequenceCounted(df: Dataset[Row], seqName: String)
      : (DataFrame, Long) = {
    import org.apache.spark.sql.types.LongType
    val classicDf = df.asInstanceOf[classic.Dataset[Row]]
    val session = classicDf.sparkSession
    val internal = classicDf.queryExecution.toRdd
    val counts = internal
      .mapPartitionsWithIndex((i, it) => Iterator((i, {
        var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
      })))
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val outSchema = df.schema.add(seqName, LongType, nullable = false)
    val zipped = internal.mapPartitionsWithIndex((pid, it) =>
      numbered(it, offsets(pid)))
    (session.internalCreateDataFrame(zipped, outSchema),
      offsets.last)
  }

  /** Each row of `it` with a trailing long column counting up from
    * `start`. The wrappers are reused: downstream operators stream or
    * copy-on-buffer, per Spark's InternalRow iterator contract.
    */
  private def numbered(it: Iterator[InternalRow], start: Long)
      : Iterator[InternalRow] = {
    val joined = new JoinedRow
    val idx = new GenericInternalRow(1)
    var i = start
    it.map { r =>
      idx.update(0, i)
      i += 1
      joined(r, idx)
    }
  }

  /** Sort keys as (ordinal in the returned frame, direction, null
    * ordering): unwrap both from ColumnNode trees (a bare column sorts
    * ascending, nulls first), reuse existing columns by ordinal,
    * materialize computed keys as trailing columns. Also returns the
    * names of the appended columns.
    */
  private def resolveSortKeys(df: Dataset[Row], sortCols: Seq[Column])
      : (Dataset[Row], Seq[(Int, SortDirection, NullOrdering)],
        Seq[String]) = {
    import org.apache.spark.sql.internal.{SortOrder => NodeSortOrder, UnresolvedAttribute => NodeAttr}
    val dataCols = df.columns
    val keys = sortCols.zipWithIndex.map { case (sc, i) =>
      val (c, dir, nulls): (Column, SortDirection, NullOrdering) =
        sc.node match {
          case so: NodeSortOrder =>
            (Column(so.child),
              if (so.sortDirection == NodeSortOrder.Ascending) Ascending
              else Descending,
              if (so.nullOrdering == NodeSortOrder.NullsFirst) NullsFirst
              else NullsLast)
          case _ => (sc, Ascending, NullsFirst)
        }
      val existing = c.node match {
        case a: NodeAttr
            if a.nameParts.length == 1 &&
              dataCols.count(_ == a.nameParts.head) == 1 =>
          Some(a.nameParts.head)
        case _ => None
      }
      (existing.toLeft((s"__zk$i", c)), dir, nulls)
    }
    val appended = keys.collect { case (Right(nc), _, _) => nc }
    val withKeys = appended.foldLeft(df) { case (d, (n, c)) =>
      d.withColumn(n, c)
    }
    (withKeys,
      keys.map { case (k, dir, nulls) =>
        (withKeys.schema.fieldIndex(k.fold(identity, _._1)), dir, nulls)
      },
      appended.map(_._1))
  }

  /** Sort `df` globally by `sortCols` and append a contiguous 0..n-1
    * sequence `seqName`; also returns the row count. One scan, one
    * shuffle write, ONE shuffle read + sort. Exact per-reduce-partition
    * row counts come from the map stage itself:
    *
    *   1. build the range-partitioned shuffle dependency by hand
    *      (ShuffleExchangeExec.prepareShuffleDependency — sampling
    *      and UnsafeRow copying semantics identical to a real
    *      exchange);
    *   2. wrap its map-side RDD so each map task tallies rows per
    *      target partition and publishes (mapId, counts) through an
    *      accumulator ON SUCCESSFUL COMPLETION (CompletionIterator —
    *      failed attempts publish nothing; duplicate successful
    *      attempts — retries, speculation — are deduped by mapId,
    *      which is sound because a map partition's contents are
    *      deterministic);
    *   3. run JUST the map stage (SparkContext.submitMapStage), fold
    *      the counts into prefix offsets;
    *   4. read the already-materialized shuffle via ShuffledRowRDD,
    *      sort each partition with Spark's spilling Tungsten sorter
    *      (UnsafeExternalRowSorter, set up as SortExec sets up its own)
    *      and attach offsets — the scheduler sees the dependency
    *      satisfied and skips the map stage.
    *
    * Sort keys that are plain existing columns are bound by position;
    * computed keys are materialized as trailing columns for the
    * shuffle and dropped from the result. Every key must be
    * deterministic: the range sampling and the map stage each
    * evaluate it. With no sort keys, the sequence follows the current
    * partition order.
    */
  def sortedZipWithSequence(df: Dataset[Row], sortCols: Seq[Column],
      seqName: String): (DataFrame, Long) = {
    import org.apache.spark.ShuffleDependency
    import org.apache.spark.sql.catalyst.expressions.{BindReferences, SortOrder, SortPrefix, UnsafeProjection, UnsafeRow}
    import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{CoalescedPartitionSpec, ShufflePartitionSpec, ShuffledRowRDD, SortPrefixUtils, UnsafeExternalRowSorter, UnsafeRowSerializer}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.metric.{SQLShuffleReadMetricsReporter, SQLShuffleWriteMetricsReporter}
    import org.apache.spark.sql.types.LongType
    import org.apache.spark.util.CompletionIterator

    if (sortCols.isEmpty) return zipWithSequenceCounted(df, seqName)
    val (withKeys0, keys, appended) = resolveSortKeys(df, sortCols)
    val withKeys = withKeys0.asInstanceOf[classic.Dataset[Row]]
    val session = withKeys.sparkSession
    val sc = session.sparkContext
    val numParts = session.sessionState.conf.numShufflePartitions

    val qe = withKeys.queryExecution
    val childRdd = qe.toRdd
    val attrs = qe.executedPlan.output
    val orders = keys.map { case (i, dir, nulls) =>
      SortOrder(attrs(i), dir, nulls, Seq.empty)
    }

    // 1. the range shuffle dependency, exactly as an exchange builds it
    val dep0 = ShuffleExchangeExec.prepareShuffleDependency(
      childRdd, attrs, RangePartitioning(orders, numParts),
      new UnsafeRowSerializer(attrs.length, null),
      SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sc))

    // the sampled range partitioner can end up with FEWER partitions
    // than requested (e.g. empty input -> 1); size everything off it
    val actualParts = dep0.partitioner.numPartitions

    // 2. map-side per-target-partition row tally
    val acc = sc.collectionAccumulator[(Int, Array[Long])]("graft.zipCounts")
    val counted = dep0.rdd.mapPartitionsWithIndex { (mapId, it) =>
      val counts = new Array[Long](actualParts)
      val tallied = it.map { p => counts(p._1) += 1; p }
      CompletionIterator[Product2[Int, InternalRow],
        Iterator[Product2[Int, InternalRow]]](
        tallied, acc.add((mapId, counts)))
    }
    val dep = new ShuffleDependency[Int, InternalRow, InternalRow](
      counted, dep0.partitioner, dep0.serializer)

    // 3. map stage only; fold counts into offsets
    org.apache.spark.util.ThreadUtils.awaitResult(
      sc.submitMapStage(dep), scala.concurrent.duration.Duration.Inf)
    val nMapTasks = counted.getNumPartitions
    val byMap = new java.util.HashMap[Int, Array[Long]]()
    acc.value.forEach(e => byMap.put(e._1, e._2)) // dedup retries
    require(byMap.size == nMapTasks,
      s"zip: have counts from ${byMap.size} of $nMapTasks map tasks")
    val perReduce = new Array[Long](actualParts)
    byMap.values.forEach { cs =>
      var i = 0
      while (i < actualParts) { perReduce(i) += cs(i); i += 1 }
    }
    val offsets = perReduce.scanLeft(0L)(_ + _)

    // 4. read the materialized shuffle once, sort, attach offsets
    // (comparator, prefix projection and sorter are built
    // executor-side — they don't serialize)
    val boundOrders = BindReferences.bindReferences(orders, attrs)
    val ordering = new LazilyGeneratedOrdering(boundOrders)
    val rowSchema = withKeys.schema
    val headOrder = boundOrders.head
    val canRadix = boundOrders.length == 1 &&
      SortPrefixUtils.canSortFullyWithPrefix(headOrder) &&
      session.sessionState.conf.enableRadixSort

    val specs: Array[ShufflePartitionSpec] =
      Array.tabulate(actualParts)(i =>
        CoalescedPartitionSpec(i, i + 1, None))
    val shuffled = new ShuffledRowRDD(dep,
      SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sc), specs)
    val zipped = shuffled.mapPartitionsWithIndex { (pid, it) =>
      val prefixExpr = SortPrefix(headOrder)
      val prefixProjection = UnsafeProjection.create(Seq(prefixExpr))
      val sorter = UnsafeExternalRowSorter.create(
        rowSchema, ordering,
        SortPrefixUtils.getPrefixComparator(headOrder),
        new UnsafeExternalRowSorter.PrefixComputer {
          private val res =
            new UnsafeExternalRowSorter.PrefixComputer.Prefix
          override def computePrefix(row: InternalRow)
              : UnsafeExternalRowSorter.PrefixComputer.Prefix = {
            val p = prefixProjection.apply(row)
            res.isNull = p.isNullAt(0)
            // a null's prefix sorts first or last by the null
            // ordering; it is compared like any other prefix
            res.value =
              if (res.isNull) prefixExpr.nullValue else p.getLong(0)
            res
          }
        },
        org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes,
        canRadix)
      numbered(sorter.sort(it.asInstanceOf[Iterator[UnsafeRow]]),
        offsets(pid))
    }
    val out = session.internalCreateDataFrame(zipped,
      rowSchema.add(seqName, LongType, nullable = false))
    (appended.foldLeft(out: DataFrame)((d, n) => d.drop(n)),
      offsets.last)
  }
}
