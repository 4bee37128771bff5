package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming extensions over the events table (a
  * Spark-native addition — the reference has no streaming, SURVEY
  * §2.11). Each transform is written against a plain DataFrame so the
  * SAME code runs in batch (for the oracle gate) and as a streaming
  * query with watermarks (for incremental execution).
  */
object Streams {

  /** Tumbling-window aggregate: count + sum(value) per (window,
    * event_type). In streaming mode, pair with a watermark on ts.
    */
  def tumbling(events: DataFrame, width: String): DataFrame =
    events.groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** STREAMING ANOMALY ALERT against a seasonal baseline: hourly
    * windowed counts per event type, joined (broadcast — the
    * baseline is bounded by type x hour-of-day) to the expected
    * count for that hour-of-day, flagged by the pure-integer
    * cross-multiplied rule n·den > expected·num. Written against a
    * plain DataFrame so the SAME code runs in batch (oracle gate)
    * and as a readStream with a watermark (windowed agg + stream-
    * static join — both append-supported); the alert threshold
    * never touches floats, so batch == stream == oracle. `baseline`
    * carries (event_type, pos, expected).
    */
  def baselineAlert(events: DataFrame, baseline: DataFrame,
      width: String, factorNum: Long, factorDen: Long): DataFrame = {
    require(factorNum > 0 && factorDen > 0,
      s"baselineAlert: $factorNum/$factorDen")
    events.groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"))
      .withColumn("pos", hour(col("window_start")))
      .join(broadcast(baseline), Seq("event_type", "pos"), "left")
      .withColumn("alert",
        (col("n") * lit(factorDen) >
          coalesce(col("expected"), lit(0L)) * lit(factorNum))
          .cast("long"))
  }

  /** STREAMING SAMPLE-RATIO-MISMATCH monitor: per (tumbling window,
    * experiment) exposure counts by arm, Pearson χ²₁ against the
    * `ratioA : 1−ratioA` design, p via the portable
    * [[graft.ops.Experiment.phiAbs]], alarm at the conventional
    * p < 0.001 — the assignment-plumbing pager that must fire before
    * a broken randomizer poisons a day of readouts, not after. The
    * plan is ONE windowed grouped aggregate (append-supported under a
    * watermark; the χ²/p close is stateless per-row arithmetic), so
    * the identical code runs in batch for the oracle gate and as a
    * readStream — StatsAndStreamSpec pins two-slicing parity. Counts
    * are exposure events per arm (unit-dedup is [[StreamingDedup]]'s
    * job upstream when exactly-once exposure is needed).
    */
  def srmMonitor(events: DataFrame, inA: Column, width: String,
      ratioA: Double = 0.5): DataFrame = {
    require(ratioA > 0 && ratioA < 1, s"srmMonitor: ratioA=$ratioA")
    val cells = events
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(sum(inA.cast("long")).as("n_a"),
        sum(lit(1L) - inA.cast("long")).as("n_b"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_a"), col("n_b"))
    val n = (col("n_a") + col("n_b")).cast("double")
    val ea = n * lit(ratioA); val eb = n * lit(1.0 - ratioA)
    val chi2 = (col("n_a").cast("double") - ea) *
      (col("n_a").cast("double") - ea) / ea +
      (col("n_b").cast("double") - eb) *
        (col("n_b").cast("double") - eb) / eb
    val p = lit(2.0) *
      (lit(1.0) - graft.ops.Experiment.phiAbs(sqrt(chi2)))
    cells.select(col("window_start"), col("event_type"),
      col("n_a"), col("n_b"), round(chi2, 6).as("chi2"),
      round(p, 6).as("p_value"),
      (p < lit(0.001)).cast("int").as("srm_flag"))
  }

  /** SHAPLEY-VALUE channel attribution (Shapley 1953 applied per
    * Zhao et al. 2018): credit for conversion is each channel's
    * average marginal contribution across every coalition —
    *   φ_i = Σ_{S ⊆ C∖{i}} |S|!(k−1−|S|)!/k! · (v(S∪{i}) − v(S))
    * with v(S) the observed conversion rate of users whose touched-
    * channel set is exactly S. The order-free, cooperative-game
    * answer to the first/last/U-shaped heuristics (q213/q226/q302).
    *
    * Exact arithmetic: v(S) quantizes to integer ppm, factorial
    * weights stay integers (k ≤ 8 → ≤ 5040), so φ's numerator is an
    * exact int64 sum; one double divide + 6dp round at the close.
    * Coalitions nobody exhibits take v = 0 (the standard empirical
    * treatment — emitted as lattice rows so the audit can SEE the
    * unsupported sets). Plan shape: ONE grouped pass over events
    * (per-user bitmask + conversion flag), one mask census, then all
    * algebra runs on the 2^k lattice — k·2^k rows, independent of
    * data volume.
    */
  def shapleyAttribution(events: DataFrame, channels: Seq[String],
      conversionType: String): DataFrame = {
    require(channels.nonEmpty && channels.size <= 8 &&
      channels.distinct.size == channels.size &&
      !channels.contains(conversionType),
      s"shapleyAttribution: channels=$channels conv=$conversionType")
    val k = channels.size
    def fact(n: Int): Long = (1 to n).foldLeft(1L)((a, b) => a * b)
    val bits = channels.zipWithIndex.map { case (c, i) =>
      max(when(col("event_type") === c, 1L).otherwise(0L)) *
        lit(1L << i) }
    val perUser = events.groupBy(col("user_id")).agg(
      bits.reduce(_ + _).as("__mask"),
      max((col("event_type") === conversionType).cast("long"))
        .as("__conv"))
    val census = perUser.groupBy(col("__mask"))
      .agg(count(lit(1)).as("__nu"), sum(col("__conv")).as("__nc"))
    val spark = events.sparkSession
    val lattice = graft.Caches.pin(
      spark.range(0L, 1L << k).select(col("id").as("__mask"))
        .join(census, Seq("__mask"), "left")
        .na.fill(0L, Seq("__nu", "__nc"))
        .withColumn("__v", when(col("__nu") > 0,
          expr("__nc * 1000000L div __nu")).otherwise(lit(0L))))
    // popcount as an explicit bit sum — identical expression both
    // engines (no bit_count dependency)
    def pop(c: Column): Column = (0 until k)
      .map(i => shiftright(c, i).bitwiseAND(lit(1L))).reduce(_ + _)
    def weight(c: Column): Column = (0 until k)
      .map(s => (s, fact(s) * fact(k - 1 - s)))
      .foldLeft(lit(0L)) { case (acc, (s, w)) =>
        when(c === s, lit(w)).otherwise(acc) }
    val perChannel = channels.zipWithIndex.map { case (ch, i) =>
      val bit = 1L << i
      val a = lattice.where(col("__mask").bitwiseAND(lit(bit)) === 0)
        .select(col("__mask").as("__s"), col("__v").as("__va"))
      val b = lattice.select(col("__mask").as("__sb"),
        col("__v").as("__vb"))
      a.join(b, col("__sb") === col("__s").bitwiseOR(lit(bit)))
        .select(lit(ch).as("channel"),
          (weight(pop(col("__s"))) * (col("__vb") - col("__va")))
            .as("__term"))
    }.reduce(_ unionByName _)
    perChannel.groupBy(col("channel"))
      .agg(sum(col("__term")).as("shapley_num"))
      .withColumn("shapley",
        round(col("shapley_num").cast("double") /
          lit(fact(k).toDouble) / lit(1000000.0), 6))
      .orderBy(col("channel"))
  }

  /** Sliding-window aggregate. */
  def sliding(events: DataFrame, width: String, slide: String): DataFrame =
    events.groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"))

  /** Session windows per user with a fixed inactivity gap:
    * session_window in streaming; the batch equivalent (same
    * semantics) is the gaps-and-islands form used for oracle checks.
    */
  def sessionized(events: DataFrame, gap: String): DataFrame =
    events.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Input row shape for the stateful per-user operator. */
  case class UserEvent(user_id: Long, value: Double)

  /** Running per-user totals carried in operator state. */
  case class UserRunning(user_id: Long, n_events: Long, total: Double)

  /** Custom stateful streaming: per-user running counters via
    * flatMapGroupsWithState — the arbitrary-state escape hatch when
    * windowed aggregation can't express the logic (SURVEY §2.11
    * Spark-native extension). Works identically over a bounded batch
    * (one group pass) and a stream (state carried across
    * micro-batches).
    */
  def runningPerUser(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent],
         state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n_events; var tot = prev.total
          rows.foreach { r => n += 1; tot += r.value }
          val cur = UserRunning(uid, n, tot)
          state.update(cur)
          Iterator(cur)
      }
  }

  /** Input row for the stateful funnel operator. */
  case class StepEvent(user_id: Long, ts: java.sql.Timestamp,
      event_type: String)

  /** Funnel progress emission: `reached` = completed step prefix,
    * `n_seen` = step events folded so far (strictly growing, so the
    * row with max n_seen per user is the final answer in a stream).
    */
  case class StepReach(user_id: Long, reached: Int, n_seen: Int)

  /** The chained-min funnel walk over one user's step events
    * (identical semantics to [[graft.functions.Stats.funnel]]'s
    * column fold — greedy first-match over the (ts, type)-sorted
    * list IS the chained min; parity is spec-pinned).
    */
  def walkReach(evs: Seq[(java.sql.Timestamp, String)],
      steps: Seq[String]): Int = {
    val sorted = evs.sortWith { (a, b) =>
      val c = a._1.compareTo(b._1)
      c < 0 || (c == 0 && a._2 < b._2)
    }
    var reached = 0
    var last: java.sql.Timestamp = null
    sorted.foreach { case (t, et) =>
      if (reached < steps.length && et == steps(reached) &&
          (last == null || t.compareTo(last) > 0)) {
        last = t
        reached += 1
      }
    }
    reached
  }

  /** STREAMING funnel: per-user ordered-step progress maintained in
    * operator state across micro-batches. Unlike windowed aggregates,
    * funnel progress is not slice-decomposable — a late-arriving
    * early 'view' can retroactively change which 'click' qualifies —
    * so the state keeps the user's STEP EVENTS (only the step-typed
    * rows, the per-user bound sessionize also rides) and re-walks the
    * chained-min on each batch. That makes the FINAL emission (max
    * n_seen per user) deterministic under ANY micro-batch slicing or
    * arrival order — replay-determinism like the q104 dedup — and
    * exactly equal to the batch operator, which is this same code run
    * over one all-rows "batch" (the q172 oracle gate). Update mode:
    * each batch re-emits progress for users it touched. For unbounded
    * streams, compose with an event-time TTL upstream if per-user
    * histories must expire; emissions themselves need no timeout.
    */
  def funnelReach(events: DataFrame,
      steps: Seq[String]): Dataset[StepReach] = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"funnelReach: steps must be non-empty and distinct, got $steps")
    val ss = events.sparkSession
    import ss.implicits._
    events
      .where(col("event_type").isin(steps: _*) && col("ts").isNotNull)
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("event_type"))
      .as[StepEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[(java.sql.Timestamp, String)],
        StepReach](OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[StepEvent],
         state: GroupState[List[(java.sql.Timestamp, String)]]) =>
          val evs = rows.map(e => (e.ts, e.event_type)).toList :::
            state.getOption.getOrElse(Nil)
          state.update(evs)
          Iterator(StepReach(uid, walkReach(evs, steps), evs.length))
      }
  }

  /** Sessionized-funnel emission: one row per (user, session), with
    * `closed` = true once the watermark proves no event can extend or
    * merge the session (such rows are FINAL and never re-emitted
    * differently; open rows are superseded latest-wins by key).
    */
  case class SessionReach(user_id: Long,
      session_start: java.sql.Timestamp, n_reached: Int, n_events: Int,
      closed: Boolean)

  /** STREAMING SESSIONIZED FUNNEL with state TTL —
    * [[graft.functions.Stats.sessionFunnel]] incremental. State per
    * user is the step events of its OPEN sessions only:
    *
    *  - A session whose last event + gap is BEHIND THE WATERMARK is
    *    closed: no arriving event can extend it (an extender would be
    *    watermark-late and filtered upstream of the operator), so its
    *    events are dropped from state and its row emits `closed` —
    *    state is bounded by open-session length, not user history.
    *  - TTL (`ttlSec` >= gap, event-time timeout): a user idle past
    *    the TTL has state finalized and REMOVED — at 100 TB key
    *    cardinality the state store holds recently-active users
    *    only, the difference between a bounded store and one that
    *    grows with every user ever seen.
    *
    * In BATCH execution (the oracle twin) no watermark exists:
    * nothing closes early, every session emits from a full re-walk —
    * exactly [[graft.functions.Stats.sessionFunnel]], which the
    * DuckDB oracle replays (q252). Under ANY micro-batch slicing the
    * latest emission per (user, session_start) key that survives to
    * the end equals the batch row (closed sessions are final by the
    * watermark argument; open ones re-walk from full retained state) —
    * spec-pinned with shuffled arrival and two slicings.
    */
  def sessionFunnelReach(events: DataFrame, steps: Seq[String],
      gapSec: Long, ttlSec: Long): Dataset[SessionReach] = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"sessionFunnelReach: steps $steps")
    require(gapSec > 0 && ttlSec >= gapSec,
      s"sessionFunnelReach: ttl $ttlSec must cover gap $gapSec")
    val ss = events.sparkSession
    import ss.implicits._
    val gapUs = gapSec * 1000000L
    events
      .where(col("event_type").isin(steps: _*) && col("ts").isNotNull)
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("event_type"))
      .as[StepEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[(java.sql.Timestamp, String)],
        SessionReach](OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[StepEvent],
         state: GroupState[List[(java.sql.Timestamp, String)]]) =>
          // helpers live INSIDE the closure: lifted outer defs would
          // capture the (non-serializable) enclosing module
          def micros(t: java.sql.Timestamp): Long =
            (t.getTime - t.getNanos / 1000000) * 1000L +
              t.getNanos / 1000L
          def sessionsOf(sorted: List[(java.sql.Timestamp, String)])
              : List[List[(java.sql.Timestamp, String)]] =
            sorted.foldLeft(
              List.empty[List[(java.sql.Timestamp, String)]]) {
              case (Nil, e) => List(List(e))
              case (cur :: done, e) =>
                if (micros(e._1) - micros(cur.head._1) >= gapUs)
                  List(e) :: cur :: done
                else (e :: cur) :: done
            }.map(_.reverse).reverse
          def emit(sess: List[(java.sql.Timestamp, String)],
              closed: Boolean): SessionReach =
            SessionReach(uid, sess.head._1, walkReach(sess, steps),
              sess.length, closed)
          if (state.hasTimedOut) {
            // watermark > last event + ttl >= last + gap: every
            // retained session is final — emit closed, drop the user
            val evs = state.getOption.getOrElse(Nil).sortWith {
              (a, b) =>
                val c = a._1.compareTo(b._1)
                c < 0 || (c == 0 && a._2 < b._2)
            }
            state.remove()
            sessionsOf(evs).map(emit(_, closed = true)).iterator
          } else {
            val all = (rows.map(e => (e.ts, e.event_type)).toList :::
              state.getOption.getOrElse(Nil)).sortWith { (a, b) =>
                val c = a._1.compareTo(b._1)
                c < 0 || (c == 0 && a._2 < b._2)
              }
            // batch mode has no watermark: the call throws, nothing
            // closes, full re-walk — exact batch semantics
            val wmMs = try state.getCurrentWatermarkMs()
              catch { case _: Exception => Long.MinValue }
            val (done, open) = sessionsOf(all).partition { sess =>
              wmMs != Long.MinValue &&
                micros(sess.last._1) / 1000L + gapSec * 1000L <= wmMs
            }
            val keep = open.flatten
            if (keep.isEmpty) state.remove()
            else {
              state.update(keep)
              try state.setTimeoutTimestamp(
                all.map(e => e._1.getTime).max + ttlSec * 1000L)
              catch { case _: Exception => } // batch: timeouts inert
            }
            (done.map(emit(_, closed = true)) :::
              open.map(emit(_, closed = false))).iterator
          }
      }
  }

  /** LAST-TOUCH ATTRIBUTION: credit each conversion event to the
    * latest preceding touchpoint (type in `touchTypes`) by the same
    * user within `maxDelaySec` — the standard lookback-window
    * attribution model. Built on [[graft.ops.Joins.asofJoin]] (union
    * + per-user window fold — ONE shuffle on user_id, no
    * conversions×touches join), then the lookback cut filters the
    * matched time: if the LATEST touch is outside the window, every
    * earlier one is too, so at-or-before + post-filter IS lookback
    * attribution. Touches are deduplicated to one per (user, ts)
    * (max event_id) first so the as-of winner is deterministic.
    * Returns one row per conversion: conversion columns +
    * `channel` (touch event_type, null when unattributed) — feed a
    * groupBy(channel) for the report, or extend to first-touch by
    * flipping the dedup/ordering.
    */
  /** MARKOV REMOVAL-EFFECT ATTRIBUTION (Anderl et al. 2016) — the
    * data-driven channel credit the heuristic family (first/last/
    * position q213/q226/q302) and the coalition-game one (Shapley
    * q336) bracket from both sides: model the user journey as a
    * first-order Markov chain over channel states, and credit each
    * channel by how much total conversion probability DROPS when
    * every transition into it is redirected to the null (absorbing
    * non-conversion) state.
    *
    * Journey: per user, the channel touches strictly before the
    * first conversion (ordered by ts, event_id — the q213 tiebreak),
    * giving transitions start→first, touch→next touch, last→conv if
    * the user converted else last→null; a touchless converter is
    * start→conv. P(conv | start) solves the absorbing chain — here
    * by `rounds` synchronous value-iteration steps in INTEGER
    * arithmetic: p⁰ = 0, p(conv) = 1e9, and each round
    * p^{r+1}(s) = ⌊Σ_{s'} c(s,s')·p^r(s') / n(s)⌋ — floor division
    * of exact integers, so the trajectory (monotone from below,
    * geometric residual) replays bit-for-bit on any engine, and the
    * oracle can unroll the rounds as CTEs (the q169 integer-PageRank
    * discipline applied to absorption).
    *
    * Plan shape: the per-user journey build is ONE window pass over
    * events (user-keyed exchange) + a (src,dst) census; everything
    * after runs on the (channels+2)²-entry transition matrix —
    * driver arithmetic over a census, bounded by `channels.size ≤ 8`
    * (the fitReranker venue rule). At 100 TB the data touches one
    * window + one grouped aggregate.
    *
    * Emits one row per channel: (channel, p_conv_q, p_removed_q,
    * removal_ppm) with p at 1e9 scale and
    * removal_ppm = ⌊(p − p_c)·1e6 / p⌋ — exact integers only.
    */
  def markovRemovalEffects(events: DataFrame, channels: Seq[String],
      conversionType: String, rounds: Int = 24): DataFrame = {
    require(channels.nonEmpty && channels.size <= 8 &&
      channels.distinct.size == channels.size &&
      !channels.contains(conversionType),
      s"markovRemovalEffects: channels=$channels conv=$conversionType")
    require(rounds >= channels.size + 2,
      s"markovRemovalEffects: $rounds rounds cannot absorb a " +
        s"${channels.size}-channel chain")
    val W = org.apache.spark.sql.expressions.Window
    // ts IS NOT NULL on BOTH sides: a null-ts conversion must not
    // mark the user converted, and null-ts touches would order
    // differently across engines (Spark nulls-first, others -last)
    val firstConv = events
      .where(col("event_type") === conversionType &&
        col("ts").isNotNull)
      .groupBy(col("user_id")).agg(min(col("ts")).as("__ct"))
    val touches = events
      .where(col("event_type").isin(channels: _*) &&
        col("ts").isNotNull)
      .join(firstConv, Seq("user_id"), "left")
      .where(col("__ct").isNull || col("ts") < col("__ct"))
      .select(col("user_id"), col("event_type").as("__s"),
        col("ts"), col("event_id"),
        col("__ct").isNotNull.cast("long").as("__conv"))
    val w = W.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val seq0 = touches
      .withColumn("__next", lead(col("__s"), 1).over(w))
      .withColumn("__rn", row_number().over(w))
    val mids = seq0.select(col("__s").as("src"),
      coalesce(col("__next"),
        when(col("__conv") === 1L, lit("conv")).otherwise(lit("null")))
        .as("dst"))
    val starts = seq0.where(col("__rn") === 1)
      .select(lit("start").as("src"), col("__s").as("dst"))
    // converters who never touched a channel: start -> conv; users
    // with no conversion and no touches contribute nothing
    val directConv = firstConv.join(
        touches.select(col("user_id")).distinct(),
        Seq("user_id"), "left_anti")
      .select(lit("start").as("src"), lit("conv").as("dst"))
    val census = mids.unionByName(starts).unionByName(directConv)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    require(census.length <= (channels.size + 2) * (channels.size + 2),
      s"markovRemovalEffects: ${census.length} transition cells")
    val Scale = 1000000000L

    def pConv(blocked: Option[String]): Long = {
      val trans = census.map { case (s, d0, c) =>
        val d = if (blocked.contains(d0)) "null" else d0
        ((s, d), c)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val outBy = trans.toSeq.groupBy(_._1._1)
        .view.mapValues(_.map(_._2).sum).toMap
      val states = ("start" +: channels).filterNot(blocked.contains)
      var p = states.map(_ -> 0L).toMap
      for (_ <- 1 to rounds) {
        p = states.map { s =>
          val n = outBy.getOrElse(s, 0L)
          val num = if (n == 0L) 0L
          else trans.collect {
            case ((`s`, d), c) =>
              c * (if (d == "conv") Scale else p.getOrElse(d, 0L))
          }.sum
          s -> (if (n == 0L) 0L else num / n)
        }.toMap
      }
      p.getOrElse("start", 0L)
    }

    val pFull = pConv(None)
    val spark = events.sparkSession
    import spark.implicits._
    channels.sorted.map { ch =>
      val pc = pConv(Some(ch))
      val re = if (pFull == 0L) 0L else (pFull - pc) * 1000000L / pFull
      (ch, pFull, pc, re)
    }.toDF("channel", "p_conv_q", "p_removed_q", "removal_ppm")
  }

  /** The prelude every attribution model shares: checks its
    * arguments, and splits `events` into the conversions and the
    * touches, both with a non-null `ts`; touches dedupe to one per
    * (user, ts), the max event_id, so each model's winner is
    * deterministic.
    */
  private def conversionsAndTouches(site: String, events: DataFrame,
      conversionType: String, touchTypes: Seq[String],
      maxDelaySec: Long): (DataFrame, DataFrame) = {
    require(touchTypes.nonEmpty && !touchTypes.contains(conversionType),
      s"$site: touches $touchTypes vs $conversionType")
    require(maxDelaySec > 0, s"$site: $maxDelaySec")
    val conv = events.where(col("event_type") === conversionType &&
      col("ts").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("ts"))
      .orderBy(col("event_id").desc)
    val touches = events
      .where(col("event_type").isin(touchTypes: _*) &&
        col("ts").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
    (conv, touches)
  }

  def lastTouchAttribution(events: DataFrame, conversionType: String,
      touchTypes: Seq[String], maxDelaySec: Long): DataFrame = {
    val (conv, deduped) = conversionsAndTouches("lastTouchAttribution",
      events, conversionType, touchTypes, maxDelaySec)
    val touches = deduped.select(col("user_id"), col("ts").as("touch_ts"),
      col("event_type").as("touch_type"))
    val matched = graft.ops.Joins.asofJoin(conv, touches, "user_id",
        leftTime = "ts", rightTime = "touch_ts",
        payload = Seq("touch_type"))
      .where(col("asof_touch_ts") >=
        col("ts") - expr(s"INTERVAL $maxDelaySec SECOND"))
      .select(col("event_id"),
        col("asof_touch_type").as("channel"))
    conv.join(matched, Seq("event_id"), "left")
  }

  /** POSITION-BASED (U-shaped) attribution — the multi-touch model
    * between q213's last-touch and q226's first-touch extremes:
    * 40% to the first touch, 40% to the last, 20% split over the
    * middles (integer ppm, floor division — a solo touch gets 100%,
    * a pair 50/50). Needs EVERY touch per conversion, so unlike the
    * single-touch folds this is the conversions x in-window-touches
    * join — one user_id-keyed shuffle, fan-out bounded by activity
    * rate x lookback (the model's irreducible contract). Touches
    * dedupe to one per (user, ts) (max event_id) and order by
    * (ts, touch_id), so positions — and therefore credits — are
    * total-order deterministic. Unattributed conversions roll into
    * the '(none)' channel at full weight. Emits (channel,
    * credit_ppm, n_conversions).
    */
  def positionAttribution(events: DataFrame, conversionType: String,
      touchTypes: Seq[String], maxDelaySec: Long): DataFrame = {
    val (convs, deduped) = conversionsAndTouches("positionAttribution",
      events, conversionType, touchTypes, maxDelaySec)
    val W = org.apache.spark.sql.expressions.Window
    val conv = convs.select(col("user_id"), col("event_id").as("conv_id"),
      col("ts").as("conv_ts"))
    val touches = deduped.select(col("user_id"), col("ts").as("touch_ts"),
      col("event_type").as("channel"), col("event_id").as("touch_id"))
    val j = conv.join(touches, Seq("user_id"))
      .where(col("touch_ts") <= col("conv_ts") &&
        col("touch_ts") >=
          col("conv_ts") - expr(s"INTERVAL $maxDelaySec SECOND"))
    val scored = j
      .withColumn("__k", count(lit(1)).over(
        W.partitionBy(col("conv_id"))))
      .withColumn("__pos", row_number().over(
        W.partitionBy(col("conv_id"))
          .orderBy(col("touch_ts"), col("touch_id"))))
      .withColumn("credit_ppm",
        when(col("__k") === 1, lit(1000000L))
          .when(col("__k") === 2, lit(500000L))
          .when(col("__pos") === 1 || col("__pos") === col("__k"),
            lit(400000L))
          .otherwise(expr("200000L div (__k - 2)")))
    val credited = scored.groupBy(col("channel"))
      .agg(sum(col("credit_ppm")).as("credit_ppm"),
        count_distinct(col("conv_id")).as("n_conversions"))
    val none = conv
      .join(scored.select(col("conv_id")).distinct(), Seq("conv_id"),
        "left_anti")
      .agg(count(lit(1)).as("n_conversions"))
      .select(lit("(none)").as("channel"),
        (col("n_conversions") * lit(1000000L)).as("credit_ppm"),
        col("n_conversions"))
    credited.unionByName(none).where(col("n_conversions") > 0)
  }

  /** FIRST-TOUCH attribution: credit each conversion to the EARLIEST
    * touchpoint within the lookback window. Unlike last-touch, the
    * earliest-overall touch may predate the window while a later one
    * sits inside it, so the as-of fold doesn't apply — this is a
    * RANGE-frame window over the per-user event-time axis
    * (rangeBetween(-maxDelay, 0) in epoch micros, min over the touch
    * structs): still exactly one shuffle on user_id, state bounded by
    * the window, no conversions x touches join. Touches dedupe to one
    * per (user, ts) (max event_id) like [[lastTouchAttribution]], so
    * the min-struct winner is deterministic. Returns conversion rows
    * + `channel` (null when no touch in the window).
    */
  def firstTouchAttribution(events: DataFrame, conversionType: String,
      touchTypes: Seq[String], maxDelaySec: Long): DataFrame = {
    val (conv, deduped) = conversionsAndTouches("firstTouchAttribution",
      events, conversionType, touchTypes, maxDelaySec)
    val touches = deduped.select(col("user_id"), col("ts"),
      col("event_type").as("__touch"))
    val uni = conv
      .withColumn("__touch", lit(null).cast("string"))
      .select(col("user_id"), col("ts"), col("__touch"),
        struct(conv.columns.map(col): _*).as("__row"))
      .unionByName(touches.select(col("user_id"), col("ts"),
        col("__touch"),
        lit(null).cast(org.apache.spark.sql.types.StructType(
          conv.schema.fields)).as("__row")))
      .withColumn("__us", unix_micros(col("ts")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("__us"))
      .rangeBetween(-maxDelaySec * 1000000L, 0L)
    uni
      .withColumn("__ft", min(when(col("__touch").isNotNull,
        struct(col("__us"), col("__touch")))).over(w))
      .where(col("__row").isNotNull)
      .select(col("__row.*"), col("__ft")("__touch").as("channel"))
  }

  /** Running per-token count with threshold-crossing flag. */
  case class TokenCount(token: String, n: Long, crossed: Boolean)

  /** STREAMING THRESHOLD COUNTER: exact running count per token with
    * a crossing flag — the alerting primitive ("page me when an
    * error signature passes N") that sketch-based streaming heavy
    * hitters only approximate. State per token is ONE long; counts
    * are exact sums, so the final emission per token is independent
    * of micro-batch slicing and equals the batch census (q230 puts
    * that form under the oracle). State grows with DISTINCT tokens —
    * for unbounded vocabularies compose with an upstream event-time
    * TTL (the stream-dedup contract) or pre-filter to a watched set.
    */
  def thresholdCounter(tokens: DataFrame, tokenCol: String,
      threshold: Long): Dataset[TokenCount] = {
    require(threshold >= 1, s"thresholdCounter: $threshold")
    val ss = tokens.sparkSession
    import ss.implicits._
    tokens.select(col(tokenCol).cast("string").as("token"))
      .where(col("token").isNotNull)
      .as[String]
      .groupByKey(identity)
      .mapGroupsWithState[Long, TokenCount](
        GroupStateTimeout.NoTimeout) {
        (tok: String, rows: Iterator[String], state: GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + rows.size.toLong
          state.update(c)
          TokenCount(tok, c, c >= threshold)
      }
  }

  /** One I/U/D change event, key + ordering + whole-row payload
    * (JSON of the value columns — a bounded, encoder-stable state
    * shape regardless of the table's schema).
    */
  case class CdcChange(key: Long, seq: Long, tie: Long, op: String,
      payload: String)
  /** Current state of one key after the changes seen so far; (seq,
    * tie) is the winning change's position, so a downstream consumer
    * of the update stream can keep max-(seq, tie) per key to
    * materialize the final table.
    */
  case class CdcRow(key: Long, seq: Long, tie: Long, deleted: Boolean,
      payload: String)

  /** STREAMING CDC APPLY: maintain a keyed state table from an I/U/D
    * change stream — the live twin of [[graft.ops.Scd.applyChanges]].
    * State per key is ONLY the winning change so far (latest by
    * (seq, tie) — O(1) per key, not the history), merged with each
    * batch's arrivals; every batch re-emits the current row for the
    * keys it touched (update mode), a latest-op 'D' emitting a
    * `deleted` tombstone. Because latest-change-wins is an
    * associative-commutative fold (max by the total order), the FINAL
    * emission per key is deterministic under ANY micro-batch slicing
    * or arrival order — replay-determinism like q104/q172 — and the
    * same operator run over one all-rows batch IS the batch apply
    * (q208 puts that form under the oracle).
    *
    * The payload rides as `to_json(struct(valueCols))`: one string
    * column keeps the group state encoder schema-independent, and the
    * caller re-projects with `from_json` + the table schema (JSON
    * doubles round-trip exactly — shortest-repr printing both ways).
    * For unbounded key universes, compose with an upstream TTL;
    * emissions need no timeout.
    */
  def cdcApply(changes: DataFrame, keyCol: String, seqCol: String,
      tieCol: String, opCol: String,
      valueCols: Seq[String]): Dataset[CdcRow] = {
    require(valueCols.nonEmpty, "cdcApply: valueCols empty")
    val ss = changes.sparkSession
    import ss.implicits._
    changes.select(
        col(keyCol).cast("long").as("key"),
        col(seqCol).cast("long").as("seq"),
        col(tieCol).cast("long").as("tie"),
        col(opCol).cast("string").as("op"),
        to_json(struct(valueCols.map(col): _*)).as("payload"))
      .as[CdcChange]
      .groupByKey(_.key)
      .mapGroupsWithState[CdcChange, CdcRow](
        GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[CdcChange],
         state: GroupState[CdcChange]) =>
          val win = (rows ++ state.getOption.iterator)
            .maxBy(c => (c.seq, c.tie))
          state.update(win)
          CdcRow(k, win.seq, win.tie, win.op == "D", win.payload)
      }
  }

  /** Run any of the transforms above as a real streaming query over
    * file-source parquet, sinking to an in-memory table — the local
    * harness for watermark/window correctness (processAllAvailable
    * drives the batch of files through synchronously).
    */
  /** outputMode: "append" emits only watermark-finalized windows (the
    * production incremental mode — windows newer than max_ts-watermark
    * stay open); "complete" re-emits all windows each batch (bounded
    * window count only).
    */
  /** Stream-stream interval join: each left event matched to right
    * events with the SAME `keyCol` whose `tsCol` falls in
    * `[left.ts, left.ts + maxDelay]` — the attribution pattern
    * (view -> purchase within the hour). One code path for both
    * modes: in batch this is a plain range-condition join (and
    * oracle-checkable); in streaming, watermark BOTH inputs before
    * calling and Spark bounds the join state from the interval, so
    * old rows are evicted instead of accumulating forever. Columns
    * come out prefixed `l_` / `r_`.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, maxDelay: String): DataFrame = {
    val l = left.columns.foldLeft(left)((d, c) =>
      d.withColumnRenamed(c, s"l_$c"))
    val r = right.columns.foldLeft(right)((d, c) =>
      d.withColumnRenamed(c, s"r_$c"))
    l.join(r,
      col(s"l_$keyCol") === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") &&
        col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"INTERVAL $maxDelay"))
  }

  /** LEFT-OUTER stream-stream interval join: like [[intervalJoin]],
    * but left rows with NO right match inside the bound survive with
    * nulls — the "views that never converted" side of attribution,
    * which the inner form silently drops. In streaming, Spark emits
    * the null-extended row only once the watermark proves no match
    * can still arrive (both sides watermarked, the time bound in the
    * join condition is what makes outer stream-stream joins legal at
    * all); in batch it's a plain left join. Same column prefixing.
    */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String, maxDelay: String): DataFrame = {
    val l = left.columns.foldLeft(left)((d, c) =>
      d.withColumnRenamed(c, s"l_$c"))
    val r = right.columns.foldLeft(right)((d, c) =>
      d.withColumnRenamed(c, s"r_$c"))
    l.join(r,
      col(s"l_$keyCol") === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") &&
        col(s"r_$tsCol") <= col(s"l_$tsCol") +
          expr(s"INTERVAL $maxDelay"),
      "left_outer")
  }

  /** Stream-STATIC dimension enrichment: the batch dimension joins
    * broadcast onto every micro-batch — no state store, no watermark
    * requirement on the dim, the standard "attach the customer
    * segment at ingest" shape (stream-stream joins are
    * [[intervalJoin]]'s job). Left join: events with no dimension
    * row survive with nulls for the caller to default.
    */
  def enrich(events: DataFrame, dim: DataFrame, leftKey: String,
      rightKey: String): DataFrame =
    events.join(broadcast(dim), col(leftKey) === col(rightKey),
      "left")

  def runStreaming(spark: SparkSession, path: String,
      transform: DataFrame => DataFrame, queryName: String,
      watermark: String = "1 hour",
      outputMode: String = "complete"): StreamingQuery = {
    // the file stream source requires a DIRECTORY; wrap a single
    // parquet file in a temp dir via symlink
    val dir = {
      val p = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.isDirectory(p)) path
      else {
        val d = java.nio.file.Files.createTempDirectory("graft_stream")
        java.nio.file.Files.createSymbolicLink(
          d.resolve(p.getFileName), p.toAbsolutePath)
        d.toString
      }
    }
    val schema = spark.read.parquet(dir).schema
    val raw = spark.readStream.schema(schema).parquet(dir)
    // normalize ts to a watermarkable TIMESTAMP whatever the parquet
    // encoding (nanos-as-long or micros-NTZ) — see QH.normalizeTs
    val src = graft.QH.normalizeTs(raw)
    val out = transform(src.withWatermark("ts", watermark))
    out.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Bounded Misra-Gries summary for one hash bucket: rows processed
    * so far and the ≤ k surviving (token, lower-bound count) pairs.
    */
  /** Streaming KMV state: the ≤k smallest distinct hashes seen. */
  case class KmvState(hs: Seq[Long])

  /** One streaming-KMV sketch row (mirrors
    * [[graft.llmdata.Sketches.kmv]] output). */
  case class KmvRow(segment: String, rank: Long, h: Long)

  /** STREAMING KMV distinct sketch — [[graft.llmdata.Sketches.kmv]]
    * maintained under readStream with `flatMapGroupsWithState`:
    * per-segment state is the ≤k smallest distinct portable hashes
    * (a bounded TreeSet fold — O(log k) per row, k longs of state
    * per segment forever). Unlike Misra-Gries ([[mgSketch]]), whose
    * intermediate counts are slicing-dependent, the k-minimum set is
    * INVARIANT under arrival order and micro-batch slicing: the
    * final sketch — and every estimate derived from it
    * ([[graft.llmdata.Sketches.kmvEstimate]]/[[graft.llmdata
    * .Sketches.kmvIntersect]]) — is bit-identical to the batch
    * build, which StreamingKmvSpec pins with two slicings. Each
    * batch re-emits the segment's current sketch (Update mode:
    * last write per (segment, rank) wins downstream).
    */
  def kmvSketchStream(rows: DataFrame, segmentCol: String,
      keyCol: String, k: Int, seed: Long = 42L): Dataset[KmvRow] = {
    require(k >= 16, s"kmvSketchStream: k $k")
    val ss = rows.sparkSession
    import ss.implicits._
    rows.select(col(segmentCol).cast("string").as("segment"),
        graft.functions.PortableHash(col(keyCol), seed).as("h"))
      .where(col("segment").isNotNull)
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[KmvState, KmvRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (seg: String, it: Iterator[(String, Long)],
         state: GroupState[KmvState]) =>
          val buf = scala.collection.mutable.TreeSet.empty[Long]
          state.getOption.foreach(s => buf ++= s.hs)
          it.foreach { case (_, h) =>
            if (buf.size < k) buf += h
            else if (h < buf.last && !buf.contains(h)) {
              buf += h; buf -= buf.last
            }
          }
          val sk = buf.toSeq
          state.update(KmvState(sk))
          sk.iterator.zipWithIndex.map { case (h, i) =>
            KmvRow(seg, i + 1L, h) }
      }
  }

  case class PhState(i: Long, p: Long, m: Long, minM: Long,
    maxM: Long, lastOrd: Long)
  case class PhRow(series: String, ord: java.sql.Timestamp, x: Long,
    ph_pos: Long, ph_neg: Long, alarm: Int)

  /** STREAMING PAGE–HINKLEY drift monitor — the
    * [[graft.functions.Stats.pageHinkley]] recursion as bounded
    * per-series state (six longs) under flatMapGroupsWithState: the
    * ingest-time "has this series drifted off its own running mean"
    * alarm, no baseline table needed. State carries (i, ΣX, m,
    * min m, max m, last ord); each arrival advances the integer
    * trajectory exactly as the batch closed form does, so
    * STREAM == BATCH BIT-FOR-BIT under any micro-batch slicing that
    * respects per-series time order (q374's oracle IS this op's
    * oracle — the q351 convention). Out-of-order arrivals fail fast
    * rather than corrupt the trajectory (upstream watermarking owns
    * ordering); rows within one batch are sorted by `ord` before the
    * fold. State rides longs, exact while |x|·1e6·rows < 2^63 (the
    * batch form's decimal(38,0) is the beyond-that shape); values
    * must be NONNEGATIVE integers (counts — the batch contract).
    */
  def pageHinkleyStream(rows: DataFrame, seriesCol: String,
      ordCol: String, valueCol: String, deltaQ: Long,
      lambdaQ: Long): Dataset[PhRow] = {
    require(deltaQ >= 0 && lambdaQ > 0,
      s"pageHinkleyStream: deltaQ $deltaQ lambdaQ $lambdaQ")
    val ss = rows.sparkSession
    import ss.implicits._
    rows.select(col(seriesCol).cast("string").as("series"),
        col(ordCol).cast("timestamp").as("ord"),
        col(valueCol).cast("long").as("x"))
      .where(col("series").isNotNull && col("ord").isNotNull &&
        col("x").isNotNull)
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[PhState, PhRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[(String, java.sql.Timestamp, Long)],
         state: GroupState[PhState]) =>
          val batch = it.toArray.sortBy(_._2.getTime)
          var st = state.getOption.getOrElse(
            PhState(0L, 0L, 0L, Long.MaxValue, Long.MinValue,
              Long.MinValue))
          val out = batch.map { case (_, ord, x) =>
            require(ord.getTime > st.lastOrd,
              s"pageHinkleyStream: out-of-order arrival in $series " +
                s"(${ord.getTime} after ${st.lastOrd})")
            val i = st.i + 1L
            val p = st.p + x
            val meanQ = p * 1000000L / i // nonneg: trunc == floor
            val dev = x * 1000000L - meanQ - deltaQ
            val m = st.m + dev
            val minM = math.min(st.minM, m)
            val maxM = math.max(st.maxM, m)
            val phPos = m - math.min(minM, 0L)
            val phNeg = math.max(maxM, 0L) - m
            st = PhState(i, p, m, minM, maxM, ord.getTime)
            PhRow(series, ord, x, phPos, phNeg,
              if (phPos > lambdaQ || phNeg > lambdaQ) 1 else 0)
          }
          state.update(st)
          out.iterator
      }
  }

  case class MgState(n: Long, toks: Map[String, Long])
  /** One candidate emission: bucket, rows the bucket has seen, the
    * candidate token and its MG lower-bound count (true count is in
    * [lower, lower + n/(k+1)]).
    */
  case class MgCandidate(bucket: Long, n: Long, token: String,
      lower: Long)

  /** STREAMING MISRA-GRIES SKETCH (Misra & Gries 1982): heavy-hitter
    * candidates with O(buckets·k) TOTAL state however many distinct
    * tokens flow past — the roadmap "streaming sketch state" shape,
    * and the bounded-memory alternative to [[thresholdCounter]]'s
    * per-token state. Tokens hash-partition into `buckets` groups;
    * each group's state is one MG(k) summary folded over arrivals by
    * `flatMapGroupsWithState`, re-emitting the bucket's current
    * candidates each batch (update semantics — keep the last
    * emission per (bucket, token)).
    *
    * ARRIVAL-ORDER CONTRACT: the MG summary itself (survivor set and
    * lower bounds) depends on arrival order and micro-batch slicing
    * — that is inherent to the sketch, not a bug. What is INVARIANT
    * under any slicing is the guarantee: every token whose true
    * count in the bucket exceeds n_bucket/(k+1) is present in the
    * final candidate set, with lower ≤ true ≤ lower + n_bucket/(k+1).
    * Downstream exact use therefore recounts candidates and filters
    * at a global threshold ≥ n/(k+1) ([[graft.streaming.Streams
    * .mgHeavyHittersBatch]]), which IS slicing-invariant — the
    * contract StreamingMgSpec pins with two slicings.
    */
  def mgSketch(tokens: DataFrame, tokenCol: String, k: Int,
      buckets: Int): Dataset[MgCandidate] = {
    require(k >= 1 && buckets >= 1, s"mgSketch: k=$k buckets=$buckets")
    val ss = tokens.sparkSession
    import ss.implicits._
    tokens.select(col(tokenCol).cast("string").as("token"),
        pmod(xxhash64(col(tokenCol).cast("string")), lit(buckets))
          .as("bucket"))
      .where(col("token").isNotNull)
      .as[(String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[MgState, MgCandidate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (bucket: Long, rows: Iterator[(String, Long)],
         state: GroupState[MgState]) =>
          val st = state.getOption.getOrElse(MgState(0L, Map.empty))
          val m = scala.collection.mutable.HashMap
            .from(st.toks)
          var n = st.n
          rows.foreach { case (t, _) =>
            n += 1L
            m.get(t) match {
              case Some(c) => m.update(t, c + 1L)
              case None =>
                if (m.size < k) m.update(t, 1L)
                else { // the MG decrement-all step
                  m.mapValuesInPlace((_, v) => v - 1L)
                  m.filterInPlace((_, v) => v > 0L)
                }
            }
          }
          state.update(MgState(n, m.toMap))
          m.iterator.map { case (t, c) => MgCandidate(bucket, n, t, c) }
      }
  }

  /** Batch composition of [[mgSketch]]: candidates → exact recount →
    * global threshold cnt·(k+1) > total. Exactness argument: a token
    * hashes to ONE bucket, so its bucket count is its true count; MG
    * keeps every token over n_bucket/(k+1) ≥ its share of the global
    * bar, so the candidate set is a superset of every token over
    * total/(k+1) and the exact recount filter makes the final answer
    * EXACT (and arrival-order/slicing invariant) — the same
    * sketch-then-verify shape as [[graft.llmdata.Sketches
    * .heavyHitters]], here through the streaming state machinery so
    * the identical operator runs under readStream.
    */
  def mgHeavyHittersBatch(tokens: DataFrame, tokenCol: String, k: Int,
      buckets: Int): DataFrame = {
    val pinned = graft.Caches.pin(
      tokens.select(col(tokenCol).cast("string").as("__u"))
        .where(col("__u").isNotNull))
    val cands = mgSketch(pinned, "__u", k, buckets)
      .toDF().select(col("token").as("__u")).distinct()
    val total = pinned.count()
    pinned.join(broadcast(cands), Seq("__u"))
      .groupBy(col("__u"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * lit(k + 1L) > lit(total))
      .select(col("__u").as(tokenCol), col("cnt"))
  }
}
