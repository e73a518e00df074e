package graft.ops

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/**
 * Event sessionization: gap-based sessions (a session ends after
 * `gap` of inactivity per user).
 *
 *  - [[batch]]: classic gaps-and-islands with window functions — one
 *    shuffle on user_id; the running sum is computed within the sorted
 *    partition, no further movement. Deterministic, oracle-friendly SQL.
 *  - [[streaming]]: Structured Streaming with
 *    `flatMapGroupsWithState` + event-time timeout — emits a session row
 *    when the watermark passes its end. The state per user is O(1)
 *    (current session bounds), so state store size is #active users,
 *    not #events.
 */
object Sessionize {

  /**
   * Batch sessionization. Output: one row per (user_id, session) with
   * session_start, session_end, n_events, sum_value.
   */
  def batch(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // millisecond resolution, matching the streaming twin (second-level
    // truncation would split/merge differently on sub-second gaps)
    val gapMs = gapMinutes * 60000L
    events
      .withColumn("__prev", lag(col("ts"), 1).over(byUser))
      .withColumn("__new_session",
        when(col("__prev").isNull ||
          unix_millis(col("ts")) - unix_millis(col("__prev")) > gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("__new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"), sum("value").as("sum_value"))
  }

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionState(start: Long, end: Long, n: Long, sum: Double)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
                              session_end: Timestamp, n_events: Long,
                              sum_value: Double)

  /**
   * Streaming sessionization over a watermarked event stream.
   * Usage:
   * {{{
   *   val sessions = Sessionize.streaming(
   *     stream.withWatermark("ts", "1 hour").as[Event], gapMinutes = 30)
   *   sessions.writeStream.outputMode("append")...
   * }}}
   */
  def streaming(events: Dataset[Event], gapMinutes: Int): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L

    def fn(user: Long, rows: Iterator[Event],
           state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(SessionOut(user, new Timestamp(s.start), new Timestamp(s.end),
          s.n, s.sum))
      } else {
        // maintain the set of gap-disjoint session intervals touched by
        // this batch (the retained state plus any sessions formed by
        // out-of-order events); an event merges into the interval whose
        // gap-extended range covers it, and a bridging event can fuse
        // two intervals. Only the LATEST interval stays in state — the
        // earlier ones close now (single-interval state; later batches'
        // events for them would be rare non-late stragglers).
        val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var intervals: List[SessionState] = state.getOption.toList

        def coalesce(list: List[SessionState]): List[SessionState] =
          list.sortBy(_.start).foldLeft(List.empty[SessionState]) {
            case (acc @ (prev :: rest), s) if s.start - prev.end <= gapMs =>
              SessionState(prev.start, math.max(prev.end, s.end),
                prev.n + s.n, prev.sum + s.sum) :: rest
            case (acc, s) => s :: acc
          }.reverse

        sorted.foreach { e =>
          val t = e.ts.getTime
          val one = SessionState(t, t, 1, e.value)
          intervals = coalesce(one :: intervals)
        }
        val keep = intervals.last
        val closed = intervals.init.map(s =>
          SessionOut(user, new Timestamp(s.start), new Timestamp(s.end),
            s.n, s.sum))
        state.update(keep)
        // close the session `gap` past its end, measured in event time
        state.setTimeoutTimestamp(keep.end + gapMs)
        closed.iterator
      }
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /**
   * Conversion-latency profile of a funnel: for each adjacent stage
   * pair, how many users converted and how long it took —
   * (step, n_converted, avg_sec, p50_sec), avg rounded to 6, median
   * exact (engine-native percentile_disc). The time-to-convert view
   * that turns a funnel from counts into an SLA.
   *
   * Scale: the funnel accumulator (one slim row per stage-0 user)
   * localCheckpoints once and every step's latency branch reads the
   * materialized frame; per-step stats are partial-aggregated (the
   * exact median buffers value→count per step, k−1 groups total).
   */
  def funnelLatency(events: DataFrame, stages: Seq[String],
      typeCol: String = "event_type", userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    require(stages.size >= 2, s"need >= 2 stages: $stages")
    val f = funnel(events, stages, typeCol, userCol, tsCol)
      .localCheckpoint()
    val steps = stages.sliding(2).zipWithIndex.map { case (Seq(a, b), i) =>
      f.where(col(s"${b}_ts").isNotNull)
        .select(lit(s"$a->$b").as("step"), lit(i).as("__i"),
          ((unix_micros(col(s"${b}_ts")) - unix_micros(col(s"${a}_ts")))
            .cast("double") / lit(1e6)).as("__sec"))
    }.toSeq
    steps.reduce(_ unionAll _)
      .groupBy(col("step"), col("__i"))
      .agg(count(lit(1)).as("n_converted"),
        round(avg(col("__sec")), 6).as("avg_sec"),
        org.apache.spark.sql.GraftSqlBridge.percentileDisc(col("__sec"), 0.5)
          .as("p50_sec"))
      .orderBy(col("__i"))
      .drop("__i")
  }

  /**
   * Streaming twin of [[funnel]]: per-user first-reach times for each
   * stage with the sequential constraint (stage i+1 strictly after the
   * user's resolved stage-i time), maintained in O(#stages) state per
   * user — one epoch-millis slot per stage, NEVER an event buffer.
   * Each micro-batch processes its events in (ts, event_id) order and
   * emits the user's row whenever it changes (Update-mode semantics;
   * the latest row per user is the funnel). Correct for event-time-
   * ordered arrival within the watermark — the same in-order contract
   * as [[streaming]] sessionization: a straggler older than an
   * already-resolved prefix cannot retroactively re-resolve it (the
   * batch operator is the arbiter for late-data reprocessing).
   * Output: (user_id, stage_ts) with stage_ts[i] the stage-i reach
   * time (null = not reached).
   */
  def streamingFunnel(events: Dataset[Event],
                      stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty && stages.distinct == stages,
      s"stages must be non-empty and distinct: $stages")
    import events.sparkSession.implicits._
    val k = stages.size
    val idx = stages.zipWithIndex.toMap

    def fn(user: Long, rows: Iterator[Event],
           state: GroupState[Seq[Long]]): Iterator[(Long, Seq[Long])] = {
      var t: Vector[Long] = state.getOption.map(_.toVector)
        .getOrElse(Vector.fill(k)(-1L))
      val before = t
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        idx.get(e.event_type).foreach { i =>
          val ms = e.ts.getTime
          val ok =
            if (i == 0) t(0) == -1L || ms < t(0)
            else t(i - 1) != -1L && ms > t(i - 1) &&
              (t(i) == -1L || ms < t(i))
          if (ok) t = t.updated(i, ms)
        }
      }
      if (t == before) Iterator.empty
      else { state.update(t); Iterator((user, t)) }
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(fn)
      .toDF("user_id", "__t")
      .select(col("user_id") +: stages.indices.map(i =>
        when(element_at(col("__t"), i + 1) =!= -1L,
          timestamp_millis(element_at(col("__t"), i + 1)))
          .as(s"${stages(i)}_ts")): _*)
  }

  /**
   * Batch tumbling-window aggregation over the events table (the batch
   * twin of a streaming windowed count): events per (hour, event_type)
   * with value stats.
   */
  def hourlyRollup(events: DataFrame): DataFrame =
    events.groupBy(
        date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum("value").as("sum_value"))

  /**
   * Ordered funnel analysis: for each user, the FIRST time each stage
   * was reached where stage i+1 must occur strictly AFTER the user's
   * stage-i time (the standard product-analytics funnel, not a bag of
   * independent mins). Returns one row per user with a nullable
   * timestamp per stage — null = never reached, and later stages are
   * null whenever an earlier one is.
   *
   * Shape: stage i+1 is resolved by joining the per-user accumulator
   * (one slim row per stage-0 user) against ONLY the pre-filtered
   * stage-i+1 events and taking `min(ts where ts > prev)` — a
   * conditional min, never a collected list, so aggregation state per
   * user is O(1) no matter how many events a power user has. k−1 hash
   * joins all keyed on the user column (co-partitioned after the first
   * exchange); each shuffles just that stage's events, not the stream.
   *
   * `maxStepGapMinutes` adds the standard per-step time bound: stage
   * i+1 must occur within T of the resolved stage-i time —
   * `min(ts WHERE ts > prev AND ts <= prev + T)`. The conditional-min
   * shape (and its O(1) state) is unchanged; the bound is one more
   * conjunct inside the `when`. Note the semantics are greedy per
   * stage (first qualifying time, matching the unbounded variant), not
   * a global search over alternate stage-i choices.
   */
  def funnel(events: DataFrame, stages: Seq[String],
             typeCol: String = "event_type", userCol: String = "user_id",
             tsCol: String = "ts",
             maxStepGapMinutes: Option[Long] = None): DataFrame = {
    require(stages.nonEmpty && stages.distinct == stages,
      s"stages must be non-empty and distinct: $stages")
    require(maxStepGapMinutes.forall(_ > 0),
      s"maxStepGapMinutes must be positive: $maxStepGapMinutes")
    var acc: DataFrame = events.where(col(typeCol) === stages.head)
      .groupBy(col(userCol))
      .agg(min(col(tsCol)).as(s"${stages.head}_ts"))
    for (i <- 1 until stages.length) {
      val prev = s"${stages(i - 1)}_ts"
      val cur = events.where(col(typeCol) === stages(i))
        .select(col(userCol), col(tsCol).as("__t"))
      val keys = acc.columns // user + all resolved stage columns
      val inStep = maxStepGapMinutes.foldLeft(col("__t") > col(prev)) {
        (c, m) => c && col("__t") <= col(prev) + expr(s"INTERVAL $m MINUTES")
      }
      acc = acc.join(cur, Seq(userCol), "left")
        .groupBy(keys.map(col).toIndexedSeq: _*)
        // null prev ⇒ comparison null ⇒ when() null ⇒ min null: later
        // stages collapse to null once any earlier stage is missing
        .agg(min(when(inStep, col("__t"))).as(s"${stages(i)}_ts"))
    }
    acc
  }

  /**
   * Per-event trailing time-window stats — the point-in-time feature
   * shape ("events and value sum for this user over the last hour AS OF
   * each event") used for leakage-free training features: the frame
   * ends at the current row, so no future event ever contributes.
   *
   * Scale: one shuffle on the user key, then a RANGE frame over the
   * in-partition sort — Spark evaluates the sliding frame with a
   * running accumulator per partition (add on enter, no re-scan per
   * row), so cost is O(events per user), not O(events × window size).
   * The frame key is epoch milliseconds, making the window an exact
   * value-range predicate that both engines define identically
   * (peer rows at the same millisecond share a frame).
   */
  def rollingUserStats(events: DataFrame, windowMinutes: Long,
                       userCol: String = "user_id", tsCol: String = "ts",
                       valueCol: String = "value",
                       eventIdCol: String = "event_id"): DataFrame = {
    require(windowMinutes > 0, s"windowMinutes must be positive: $windowMinutes")
    val windowMs = windowMinutes * 60000L
    val w = Window.partitionBy(col(userCol))
      .orderBy(unix_millis(col(tsCol)))
      .rangeBetween(-windowMs, 0L)
    events.select(col(eventIdCol), col(userCol), col(tsCol),
      count(lit(1)).over(w).as("n_window"),
      sum(col(valueCol)).over(w).as("sum_window"))
  }

  /**
   * Per-event anomaly z-scores against the user's OWN trailing window,
   * STRICTLY before the current millisecond — the event-stream outlier
   * flag (fraud spikes, sensor faults, bot bursts) computed
   * leakage-free: the event never contributes to its own baseline, so
   * the same column is usable as a training feature.
   *
   * z = (value − μ_prior) / σ_prior with population σ via the
   * running-moment identity σ² = E[v²] − E[v]², null (no verdict)
   * until `minPrior` prior events exist or when σ = 0;
   * `is_anomaly` = |z| > `threshold`.
   *
   * Scale: same shape as [[rollingUserStats]] — ONE shuffle on the
   * user key, then three RANGE-frame accumulators (count, Σv, Σv²)
   * over the in-partition sort; O(events per user), no re-scan per
   * row, no state beyond the sliding frame. The exclusive upper bound
   * (−1 ms) makes the baseline an exact value-range predicate both
   * engines define identically.
   */
  def anomalyZScores(events: DataFrame, windowMinutes: Long,
                     minPrior: Int = 5, threshold: Double = 3.0,
                     userCol: String = "user_id", tsCol: String = "ts",
                     valueCol: String = "value",
                     eventIdCol: String = "event_id"): DataFrame = {
    require(windowMinutes > 0 && minPrior >= 1 && threshold > 0,
      s"bad anomaly params: window=$windowMinutes prior=$minPrior t=$threshold")
    val windowMs = windowMinutes * 60000L
    val w = Window.partitionBy(col(userCol))
      .orderBy(unix_millis(col(tsCol)))
      .rangeBetween(-windowMs, -1L)
    val v = col(valueCol).cast(DoubleType)
    val withMoments = events.select(col(eventIdCol), col(userCol),
      col(tsCol), v.as("__v"),
      count(lit(1)).over(w).as("n_prior"),
      avg(v).over(w).as("__mu"),
      avg(v * v).over(w).as("__m2"))
    val sigma = sqrt(greatest(col("__m2") - col("__mu") * col("__mu"),
      lit(0.0)))
    val z = when(col("n_prior") >= minPrior && sigma > 0,
      (col("__v") - col("__mu")) / sigma)
    // the verdict thresholds z ROUNDED to 1e-6: window-accumulator
    // summation order differs across engines (and partitionings) in the
    // low bits, and a raw comparison right at the threshold would let
    // that noise flip the boolean — rounding first makes the verdict as
    // reproducible as the reported z itself
    val zr = round(z, 6)
    withMoments.select(col(eventIdCol), col(userCol), col(tsCol),
      col("__v").as(valueCol), col("n_prior"), z.as("z"),
      when(z.isNotNull, abs(zr) > threshold).as("is_anomaly"))
  }

  /**
   * Funnel conversion summary: collapse [[funnel]]'s per-user stage
   * timestamps into one row per stage — users reaching it, conversion
   * from the previous stage, and conversion from the top — the report
   * product dashboards actually show. Stage counts come from ONE
   * aggregation over the funnel output (a conditional count per
   * stage); the per-stage rows explode in-row from that single row.
   */
  def funnelSummary(funnelOut: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "stages must be non-empty")
    val counts = funnelOut.agg(
      count(when(col(s"${stages.head}_ts").isNotNull, 1)).as("__c0"),
      stages.tail.zipWithIndex.map { case (st, i) =>
        count(when(col(s"${st}_ts").isNotNull, 1)).as(s"__c${i + 1}")
      }: _*)
    val rows = stages.zipWithIndex.map { case (st, i) =>
      struct(lit(i + 1L).as("stage_idx"), lit(st).as("stage"),
        col(s"__c$i").as("n_users"),
        (col(s"__c$i").cast(DoubleType) /
          col(s"__c${math.max(0, i - 1)}").cast(DoubleType)).as("p_prev"),
        (col(s"__c$i").cast(DoubleType) / col("__c0").cast(DoubleType))
          .as("p_top"))
    }
    counts.select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.stage_idx").as("stage_idx"), col("__r.stage").as("stage"),
        col("__r.n_users").as("n_users"), col("__r.p_prev").as("p_prev"),
        col("__r.p_top").as("p_top"))
  }

  /**
   * Cohort retention: users bucketed by first-activity day (the
   * cohort), counted by how many distinct days-offsets they came back
   * (offset 0 = the cohort day itself). The product-analytics
   * retention triangle, computed with two hash shuffles — first-day
   * per user, then distinct (cohort, offset, user) — both with
   * map-side partial aggregation; no window over the raw event stream.
   */
  def retentionCohorts(events: DataFrame, userCol: String = "user_id",
                       tsCol: String = "ts"): DataFrame = {
    val days = events.select(col(userCol),
      to_date(col(tsCol)).as("__day")).distinct()
    val first = days.groupBy(col(userCol)).agg(min(col("__day")).as("cohort_day"))
    days.join(first, userCol)
      .select(col(userCol), col("cohort_day"),
        datediff(col("__day"), col("cohort_day")).cast(
          org.apache.spark.sql.types.LongType).as("day_offset"))
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  final case class RollingOut(event_id: Long, user_id: Long, ts: Timestamp,
                              n_window: Long, sum_window: Double)

  /**
   * Streaming twin of [[rollingUserStats]]: per arriving event, the
   * trailing-window count/sum over that user's events — emitted AT
   * ARRIVAL with `flatMapGroupsWithState`. State per user is the
   * in-horizon event list (timestamps + values only), pruned on every
   * batch to `windowMinutes` behind the newest seen event — bounded by
   * window width × per-user rate, the inherent floor for exact
   * trailing windows (an O(1) sketch would approximate).
   *
   * Matches [[rollingUserStats]] exactly when each user's events
   * arrive in event-time order (unit-tested). An out-of-order event is
   * scored against the SURVIVING in-horizon state only: state is
   * pruned to `windowMinutes` behind the newest seen event, so a late
   * event whose frame reaches before that prune horizon can
   * undercount (exact only within the window + delivery-lag slack),
   * and rows already emitted are not retracted (append mode) — the
   * batch twin is the backfill authority, the [[Sessionize.streaming]]
   * convention.
   */
  final case class AnomalyOut(event_id: Long, user_id: Long, ts: Timestamp,
                              value: Double, n_prior: Long,
                              z: Option[Double], is_anomaly: Option[Boolean])

  /**
   * Streaming twin of [[anomalyZScores]]: per-user
   * `flatMapGroupsWithState` holding only the (ts, value) pairs inside
   * the trailing window (bounded by event rate × window, the
   * [[streamingRollingUserStats]] state contract, with the same
   * event-time timeout eviction). Each event scores against the
   * strictly-prior-millisecond events in its window — inserting the
   * whole micro-batch before scoring keeps later same-batch,
   * earlier-millisecond events visible while the `< t` bound excludes
   * same-millisecond peers, matching the batch RANGE frame exactly.
   * The verdict thresholds z rounded to 1e-6, the batch contract.
   */
  def streamingAnomalyZScores(events: Dataset[Event], windowMinutes: Long,
                              minPrior: Int = 5,
                              threshold: Double = 3.0): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    val windowMs = windowMinutes * 60000L

    def fn(user: Long, rows: Iterator[Event],
           state: GroupState[List[(Long, Double)]]): Iterator[AnomalyOut] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val batch = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var held = state.getOption.getOrElse(Nil) :::
          batch.map(e => (e.ts.getTime, e.value)).toList
        val out = batch.map { e =>
          val t = e.ts.getTime
          val frame = held.collect {
            case (ht, v) if ht >= t - windowMs && ht < t => v }
          val n = frame.size.toLong
          val z: Option[Double] =
            if (n >= minPrior) {
              val mu = frame.sum / n
              val m2 = frame.map(v => v * v).sum / n
              val sigma = math.sqrt(math.max(m2 - mu * mu, 0.0))
              if (sigma > 0) Some((e.value - mu) / sigma) else None
            } else None
          val flag = z.map(zz =>
            math.abs(math.rint(zz * 1e6) / 1e6) > threshold)
          AnomalyOut(e.event_id, user, e.ts, e.value, n, z, flag)
        }
        val horizon = held.map(_._1).max - windowMs
        held = held.filter(_._1 >= horizon)
        state.update(held)
        state.setTimeoutTimestamp(held.map(_._1).max + windowMs)
        out.iterator
      }
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fn)
  }

  def streamingRollingUserStats(events: Dataset[Event],
                                windowMinutes: Long): Dataset[RollingOut] = {
    import events.sparkSession.implicits._
    val windowMs = windowMinutes * 60000L

    def fn(user: Long, rows: Iterator[Event],
           state: GroupState[List[(Long, Double)]]): Iterator[RollingOut] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        // insert the WHOLE batch before scoring: a RANGE frame includes
        // same-timestamp peers in both directions, so an event must see
        // peers that arrive later in the same batch (later NON-peers
        // stay excluded by the ht <= t bound)
        val batch = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var held = state.getOption.getOrElse(Nil) :::
          batch.map(e => (e.ts.getTime, e.value)).toList
        val out = batch.map { e =>
          val t = e.ts.getTime
          val frame = held.filter { case (ht, _) => ht >= t - windowMs && ht <= t }
          RollingOut(e.event_id, user, e.ts, frame.size.toLong,
            frame.map(_._2).sum)
        }
        val horizon = held.map(_._1).max - windowMs
        held = held.filter(_._1 >= horizon)
        state.update(held)
        state.setTimeoutTimestamp(held.map(_._1).max + windowMs)
        out.iterator
      }
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /**
   * First-order Markov transition census: for each ordered pair of
   * event types, how often the second immediately follows the first in
   * some user's stream, plus the conditional probability
   * P(next = to | current = from). The standard product-analytics
   * next-action model (and the `funnel` discovery tool: transitions
   * reveal WHICH funnels exist before you pin their stages).
   *
   * Scale: one shuffle on the user key for the lead() window (the
   * sessionization shape — per-user costs bound it), then the
   * transition counts partial-aggregate to a (types × types)-sized
   * table; the from-totals join is broadcast by construction. The
   * probability is a per-row division of two exact counts — IEEE-
   * identical everywhere, no rounding needed.
   */
  def eventTransitions(events: DataFrame, typeCol: String = "event_type",
                       userCol: String = "user_id",
                       tsCol: String = "ts",
                       eventIdCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(eventIdCol))
    val trans = events
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .where(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
    val totals = trans.groupBy(col("from_type"))
      .agg(sum(col("n_transitions")).as("__tot"))
    trans.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n_transitions"),
        (col("n_transitions").cast(DoubleType) /
          col("__tot").cast(DoubleType)).as("p"))
  }

  /**
   * Inter-arrival gap distribution per event type: consecutive-event
   * gaps (milliseconds) in each type's global arrival order, reported
   * as exact quantiles via [[Pipeline.groupQuantiles]] — the
   * rate-monitoring fingerprint (p50 drift = load change, p99 spike =
   * stalls) and the input to hazard-style anomaly gates.
   *
   * Scale: one shuffle on the type key for the lag() window (types are
   * few, so at extreme scale pre-split heavy types by day first — the
   * power-user caveat applied to types), then the quantile report's
   * single buffered aggregation over slim (type, gap) rows.
   */
  def interArrivalQuantiles(events: DataFrame, ps: Seq[Double],
                            typeCol: String = "event_type",
                            tsCol: String = "ts",
                            eventIdCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(typeCol)).orderBy(col(tsCol), col(eventIdCol))
    val gaps = events
      .withColumn("__prev", lag(unix_millis(col(tsCol)), 1).over(w))
      .where(col("__prev").isNotNull)
      .select(col(typeCol),
        (unix_millis(col(tsCol)) - col("__prev")).as("gap_ms"))
    Pipeline.groupQuantiles(gaps, typeCol, "gap_ms", ps)
  }

  /**
   * Top user journeys: each user's first `pathLen` event types (in
   * event-time order) joined into a path string, counted across users,
   * top `topK` paths — the onboarding-flow census that
   * [[eventTransitions]]' one-step view can't show (a→b and b→c counts
   * don't reveal whether a→b→c is common).
   *
   * Scale: one shuffle on the user key; the per-user prefix is a
   * WindowGroupLimit-style rank filter (row_number ≤ pathLen, a pure
   * conjunct — map tasks forward at most pathLen rows per user), the
   * path assembles from ≤ pathLen tiny structs per user, and path
   * counts partial-aggregate into a TakeOrdered head.
   */
  def topPaths(events: DataFrame, pathLen: Int = 3, topK: Int = 20,
               typeCol: String = "event_type", userCol: String = "user_id",
               tsCol: String = "ts",
               eventIdCol: String = "event_id"): DataFrame = {
    require(pathLen >= 1 && topK >= 1,
      s"pathLen and topK must be >= 1: $pathLen, $topK")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(eventIdCol))
    val paths = events
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= pathLen)
      .groupBy(col(userCol))
      // users with fewer than pathLen events have a shorter journey;
      // keep them — truncated onboarding is signal, not noise
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__rk"), col(typeCol).as("__t")))),
        x => x.getField("__t")), ">").as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path")).limit(topK)
  }

  /**
   * Retention rates: [[retentionCohorts]] counts normalized by each
   * cohort's size (its day-0 population) — the triangle product teams
   * actually read. One groups-sized self-join of the cohort table;
   * the rate is an exact-count division.
   */
  def retentionRates(events: DataFrame, userCol: String = "user_id",
                     tsCol: String = "ts"): DataFrame = {
    val c = retentionCohorts(events, userCol, tsCol)
    val base = c.where(col("day_offset") === 0)
      .select(col("cohort_day"), col("n_users").as("__base"))
    c.join(base, Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("n_users"),
        (col("n_users").cast(DoubleType) / col("__base").cast(DoubleType))
          .as("retention"))
  }

  /**
   * Hierarchical report with ROLLUP grouping sets: per (event_type,
   * day) counts and value sums, plus per-event_type subtotals and a
   * grand total in the SAME pass. Null group columns mark subtotal
   * rows (standard SQL rollup semantics).
   *
   * Scale shape: `rollup` lowers to ONE Expand (each input row fans to
   * its 3 grouping sets map-side) + one partially-aggregated hash
   * shuffle — one scan of the events, versus three separate
   * groupBy+union passes. The day key is emitted as an ISO string so
   * cross-engine comparison is dtype-stable.
   */
  def rollupDaily(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
      .rollup(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))

  /**
   * Streaming twin of [[hourlyRollup]]: tumbling event-time windows with
   * a watermark; in append mode a window emits once the watermark passes
   * its end, so state size is bounded by (#types × #open windows).
   * Feed it `spark.readStream...` and run with
   * `writeStream.outputMode("append")`.
   */
  def streamingHourlyRollup(events: DataFrame,
                            watermarkDelay: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /**
   * Incremental rollup maintenance: merge an EXISTING [[hourlyRollup]]
   * table with the rollup of a new delta batch, exploiting that count
   * and sum are mergeable aggregation states — `merge(rollup(A),
   * rollup(B)) ≡ rollup(A ∪ B)`. This is how a 100 TB metrics table
   * stays current: the historical corpus is never re-scanned; only the
   * delta (one day against years) is aggregated, and the merge
   * re-shuffles two already-tiny rollups (bounded by hours × types,
   * not events). Derived stats (avg = sum/count) belong downstream of
   * the merge, never in the stored state.
   */
  def mergeHourlyRollup(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta)
      .groupBy(col("hour"), col("event_type"))
      .agg(sum("n_events").as("n_events"), sum("sum_value").as("sum_value"))

  /**
   * Peak concurrent sessions per hour — the classic +1/−1 interval
   * sweep, restructured as a DISTRIBUTED prefix sum so no ordered
   * window ever sees more than one hour of deltas:
   *
   *   1. each session emits (+1 at start, −1 after end) delta rows;
   *   2. per-hour delta totals roll up first, and ONE tiny global
   *      window over the hour series (bounded by hours-of-history
   *      rows, not sessions) produces each hour's carry-in;
   *   3. the exact within-hour running sum runs under a PARTITION BY
   *      hour window, seeded by the carry-in; its max is the hour's
   *      peak.
   *
   * Interval semantics are closed ([start, end] — a session is active
   * at its end instant), and simultaneous deltas order starts first
   * (+1 before −1, id tie-break): two sessions touching at an instant
   * count as concurrent. Only hours containing at least one delta
   * appear (between deltas the level is constant, so absent hours
   * implicitly carry the previous level). Output:
   * (hour, peak_concurrent).
   *
   * 100 TB shape: session rows shuffle once on the hour key; the only
   * global ordering is over per-hour aggregates (3 orders of magnitude
   * smaller than the session count for any real workload — the same
   * bounded-series contract as the topK/centroid collects, without
   * even a collect).
   */
  def peakConcurrency(sessions: DataFrame, startCol: String,
                      endCol: String, idCol: String): DataFrame = {
    // materialize the slim (ts, ±1, id, hour) delta frame once: both
    // the carry-in subtree and the within-hour window consume it, and
    // without the cut each consumer re-derives the whole upstream
    // session computation (4 event scans in e22's composed plan)
    val deltas = sessions.select(col(startCol).as("__ts"), lit(1L).as("__d"),
        col(idCol).as("__id"))
      .unionAll(sessions.select(col(endCol).as("__ts"), lit(-1L).as("__d"),
        col(idCol).as("__id")))
      .withColumn("__h", date_trunc("hour", col("__ts")))
      .localCheckpoint()
    val perHour = deltas.groupBy(col("__h"))
      .agg(sum(col("__d")).as("__tot"))
    // tiny global window: one row per hour with any delta
    val wh = Window.orderBy(col("__h"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = perHour.withColumn("__carry",
      coalesce(sum(col("__tot")).over(wh), lit(0L)))
    val win = Window.partitionBy(col("__h"))
      .orderBy(col("__ts"), col("__d").desc, col("__id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    deltas.join(carry.select(col("__h"), col("__carry")), Seq("__h"))
      .withColumn("__run", col("__carry") + sum(col("__d")).over(win))
      .groupBy(col("__h").as("hour"))
      .agg(max(col("__run")).as("peak_concurrent"))
  }

  /**
   * Exact distinct users per event type over a TRAILING window of
   * `windowHours` hours, evaluated at every hour boundary (the
   * sliding-window active-user metric: DAU-style but per hour). Output:
   * (event_type, hour, n_users) where `hour` is the window's LAST hour
   * (window = [hour − windowHours + 1, hour]); windows extending past
   * the corpus's final hour are clamped away.
   *
   * Scale shape — the contribute-forward trick, not W scans: the
   * stream first dedupes to slim (type, user, hour) rows (one shuffle
   * with map-side combine; bounded by active users × hours, not
   * events), each such row then explodes to the ≤W window ends it
   * contributes to, and one count-distinct aggregation finishes. The
   * W× amplification applies to the DEDUPED rows only; raw events
   * never multiply. For production-scale W or user counts, swap the
   * final exact count for [[slidingDistinctUsersApprox]] (HLL state,
   * no second expansion of the distinct set).
   */
  def slidingDistinctUsers(events: DataFrame, windowHours: Int,
      typeCol: String = "event_type", userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    require(windowHours >= 1, s"windowHours must be >= 1: $windowHours")
    val contrib = events.select(col(typeCol).as("event_type"),
        col(userCol).as("user_id"),
        date_trunc("hour", col(tsCol)).as("__h"))
      .distinct()
    val maxH = contrib.agg(max(col("__h")).as("__maxh"))
    contrib.crossJoin(broadcast(maxH))
      .select(col("event_type"), col("user_id"),
        explode(sequence(col("__h"),
          least(col("__h") + expr(s"INTERVAL '${windowHours - 1}' HOUR"),
            col("__maxh")),
          expr("INTERVAL '1' HOUR"))).as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /**
   * Structured-streaming twin of [[slidingDistinctUsersApprox]]:
   * HLL distinct users per sliding event-time window (width
   * `windowHours` hours, slide 1 hour) with a watermark — a window
   * emits once the watermark passes its end, so state is bounded by
   * (#types × open windows), and the per-window aggregation state is
   * the fixed HLL sketch, never the user set. `hour` is the window's
   * LAST hour, aligning with the batch twins' output.
   */
  def slidingDistinctUsersStream(events: DataFrame, windowHours: Int,
      watermarkDelay: String = "2 hours", rsd: Double = 0.02,
      typeCol: String = "event_type", userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    require(windowHours >= 1, s"windowHours must be >= 1: $windowHours")
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), s"$windowHours hours", "1 hour"),
        col(typeCol).as("event_type"))
      .agg(approx_count_distinct(col(userCol), rsd).as("n_users"))
      .select((col("window.end") - expr("INTERVAL '1' HOUR")).as("hour"),
        col("event_type"), col("n_users"))
  }

  /**
   * EXACT streaming twin of [[slidingDistinctUsers]] via CHAINED
   * stateful operators (Spark 3.5+ multi-stateful append support):
   * stage 1 deduplicates (window, type, user) triples — the streaming
   * face of the batch twin's `distinct()` — and stage 2 counts the
   * survivors per (window, type), which IS the exact distinct-user
   * count. Both stages key state by the event-time window, so the
   * watermark evicts both states once it passes a window's end and
   * the window emits exactly once (append mode).
   *
   * State: stage 1 holds one entry per live (window, type, user) —
   * W× the per-hour active set, the price of exactness (the batch
   * twin pays the same W× on DEDUPED rows); stage 2 is one counter
   * per (window, type). For production-scale user counts keep
   * [[slidingDistinctUsersStream]]'s fixed HLL state; this exact
   * variant is the cross-engine-checkable face ([[graft.SparkEntry]]
   * e58 gates it against the batch mirror).
   */
  def slidingDistinctUsersStreamExact(events: DataFrame, windowHours: Int,
      watermarkDelay: String = "2 hours",
      typeCol: String = "event_type", userCol: String = "user_id",
      tsCol: String = "ts"): DataFrame = {
    require(windowHours >= 1, s"windowHours must be >= 1: $windowHours")
    events.withWatermark(tsCol, watermarkDelay)
      .select(window(col(tsCol), s"$windowHours hours", "1 hour").as("w"),
        col(typeCol).as("event_type"), col(userCol).as("user_id"))
      .dropDuplicates("w", "event_type", "user_id")
      .groupBy(col("w"), col("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .select((col("w.end") - expr("INTERVAL '1' HOUR")).as("hour"),
        col("event_type"), col("n_users"))
  }

  /** HLL production twin of [[slidingDistinctUsers]]: same output
   *  schema, `approx_count_distinct` (fixed sketch state per group —
   *  the merge tree never materializes the distinct user set per
   *  window, so memory is O(groups), not O(users)). `rsd` is Spark's
   *  relative standard deviation knob. */
  def slidingDistinctUsersApprox(events: DataFrame, windowHours: Int,
      rsd: Double = 0.02, typeCol: String = "event_type",
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    require(windowHours >= 1, s"windowHours must be >= 1: $windowHours")
    val contrib = events.select(col(typeCol).as("event_type"),
        col(userCol).as("user_id"),
        date_trunc("hour", col(tsCol)).as("__h"))
      .distinct()
    val maxH = contrib.agg(max(col("__h")).as("__maxh"))
    contrib.crossJoin(broadcast(maxH))
      .select(col("event_type"), col("user_id"),
        explode(sequence(col("__h"),
          least(col("__h") + expr(s"INTERVAL '${windowHours - 1}' HOUR"),
            col("__maxh")),
          expr("INTERVAL '1' HOUR"))).as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("n_users"))
  }

  /**
   * Stationary distribution of the per-user event-type Markov chain by
   * fixed-count power iteration over [[eventTransitions]]'s row-
   * stochastic matrix:
   *
   *   π_0 = uniform over observed types;
   *   π_{k+1}(t) = Σ_f π_k(f) · P(f→t), then π_{k+1} /= Σ π_{k+1}.
   *
   * The L1 renormalization each round redistributes mass lost to
   * absorbing types (types never seen as `from`) proportionally to the
   * current π (dividing by the L1 total scales every surviving entry
   * by the same factor) — documented convention, mirrored by the
   * oracle. If the whole mass sits in absorbing types, the step's total
   * is 0: π is already stationary and is kept. Deterministic: P is a
   * ratio of exact counts and the iteration count is fixed. A null
   * type is no state.
   *
   * Scale: the heavy step is the ONE per-user lead() shuffle inside
   * [[eventTransitions]]. The rest is weighted PageRank with d = 1, no
   * teleport and L1 normalization ([[GraphOps.powerIteration]]) on the
   * (types × types) transition counts: grouped by `from` type once,
   * then one job per round over a vector of O(types).
   */
  def markovStationary(events: DataFrame, iterations: Int = 3,
                       typeCol: String = "event_type",
                       userCol: String = "user_id",
                       tsCol: String = "ts",
                       eventIdCol: String = "event_id"): DataFrame =
    GraphOps.powerIteration("markovStationary",
      eventTransitions(events, typeCol, userCol, tsCol, eventIdCol)
        .where(col("from_type").isNotNull)
        .select(col("from_type").as("src"), col("to_type").as("dst"),
          col("n_transitions").as("w")),
      None, iterations, 1.0, normalize = true, _ + _, stochastic = true,
      Seq("pi"))(_ => ())
      .withColumnRenamed("node", "event_type")

  /**
   * Behavioral diversity per user: Shannon entropy (bits) of the
   * user's event-type distribution \u2014 the [[botScores]] companion
   * signal (scripted traffic hammers one endpoint \u2192 entropy \u2248 0;
   * organic users mix types). Exact count ratios; log2 via ln/ln 2,
   * identical IEEE ops cross-engine. Output: (user, n_events,
   * n_types, entropy_bits).
   *
   * Scale: one (user, type) partial-agg shuffle, then a per-user
   * reduce over \u2264 |types| rows \u2014 the entropy sum never sees raw
   * events.
   */
  def behaviorEntropy(events: DataFrame, userCol: String = "user_id",
                      typeCol: String = "event_type"): DataFrame = {
    val counts = events.groupBy(col(userCol), col(typeCol))
      .agg(count(lit(1)).as("__c"))
    counts.groupBy(col(userCol))
      .agg(sum(col("__c")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("__c") * log(col("__c").cast(DoubleType))).as("__sclc"))
      .select(col(userCol), col("n_events"), col("n_types"),
        // H = log2(N) - (1/N)·Σ c·ln c / ln 2
        ((log(col("n_events").cast(DoubleType)) -
          col("__sclc") / col("n_events").cast(DoubleType)) /
          log(lit(2.0))).as("entropy_bits"))
  }

  /**
   * Gini coefficient of per-user value concentration by event type —
   * the inequality readout behind "whales vs long tail" (Lorenz-curve
   * summary; the [[paretoAbc]] classes' one-number cousin). Uses the
   * rank formulation G = 2·Σᵢ i·xᵢ/(n·Σx) − (n+1)/n over users sorted
   * by (value, user) ascending; tied values make the rank·value sum
   * assignment-invariant, so the id tie-break is cosmetic and the
   * result deterministic. Per-user values round to 6 dp first (the
   * rfm convention — reduction-order ulps must not reorder ranks).
   *
   * Scale: events reduce to a (type, user) aggregate, the rank window
   * runs per type over the users-sized frame, and a final per-type
   * reduce emits one row per type.
   */
  def giniByType(events: DataFrame, typeCol: String = "event_type",
                 userCol: String = "user_id",
                 valueCol: String = "value"): DataFrame = {
    val perUser = events.groupBy(col(typeCol).as("event_type"),
        col(userCol).as("u"))
      .agg(round(sum(col(valueCol)), 6).as("v"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("v"), col("u"))
    perUser.withColumn("__r", row_number().over(w).cast(DoubleType))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("v")).as("__sv"),
        sum(col("__r") * col("v")).as("__srv"))
      .select(col("event_type"), col("n_users"),
        when(col("__sv") === 0.0, lit(0.0)).otherwise(
          lit(2.0) * col("__srv") / (col("n_users") * col("__sv")) -
            (col("n_users") + lit(1.0)) / col("n_users")).as("gini"))
  }

  /**
   * RFM (recency / frequency / monetary) segmentation — the classic
   * customer-value grid (Hughes 1994): per user, days since last
   * event (vs the corpus max timestamp), event count, and total
   * value, each scored 1–5 by exact global quintile cutpoints
   * (recency INVERTED — recent = 5), composed into the 3-digit
   * segment code `r·100 + f·10 + m`. Cutpoint comparison follows the
   * [[Pipeline.curriculumAssign]] convention: value > cutpoint, ties
   * to the lower score — reproducible cross-engine because both
   * compare identical values.
   *
   * Scale: one user-key aggregation (events → users-sized frame), one
   * 1-row exact-percentile aggregate over it (12 cutpoints) broadcast
   * back into a map-side score chain. The corpus shuffles once.
   */
  def rfmSegments(events: DataFrame, userCol: String = "user_id",
                  tsCol: String = "ts",
                  valueCol: String = "value"): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    val refTs = events.agg(max(unix_millis(col(tsCol))).as("__ref"))
    val perUser = events.groupBy(col(userCol))
      .agg(max(unix_millis(col(tsCol))).as("__last"),
        count(lit(1)).as("frequency"),
        // 6-dp rounded so quintile cutpoints and the > comparisons see
        // the SAME value on every engine (raw per-user double sums
        // differ in ulps by reduction order and could flip a boundary
        // user's score)
        round(sum(col(valueCol)), 6).as("monetary"))
      .crossJoin(broadcast(refTs))
      .withColumn("recency_days",
        floor((col("__ref") - col("__last")) / lit(86400000L)))
      .drop("__last", "__ref")
    val ps = Seq(0.2, 0.4, 0.6, 0.8)
    val cutAggs = Seq("recency_days", "frequency", "monetary").flatMap { c =>
      ps.zipWithIndex.map { case (p, i) =>
        GraftSqlBridge.percentileDisc(col(c), p).as(s"__${c}_$i") }
    }
    val cuts = perUser.agg(cutAggs.head, cutAggs.tail: _*)
    def rawScore(c: String): org.apache.spark.sql.Column = ps.indices
      .map(i => when(col(c) > col(s"__${c}_$i"), 1L).otherwise(0L))
      .reduce(_ + _) + lit(1L)
    perUser.crossJoin(broadcast(cuts))
      .withColumn("r_score", lit(6L) - rawScore("recency_days"))
      .withColumn("f_score", rawScore("frequency"))
      .withColumn("m_score", rawScore("monetary"))
      .withColumn("segment",
        col("r_score") * 100L + col("f_score") * 10L + col("m_score"))
      .select(col(userCol), col("recency_days"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"),
        col("segment"))
  }

  /**
   * Hour-of-day seasonality strength per event type: the one-way
   * ANOVA R² of hourly event counts against their hour-of-day group
   * means — SS_between/SS_total, the fraction of load variance the
   * daily cycle explains (≈1 ⇒ scheduleable diurnal traffic, ≈0 ⇒
   * aperiodic). Also reports the peak hour (argmax of the hour-of-day
   * mean, rounded to 6 before comparison with the smaller hour as
   * tie-break — the cross-engine argmax convention).
   *
   * Scale: one (type, hour) count shuffle, then two aggregations over
   * the hours-sized series (per-type totals, per-(type, hour-of-day)
   * means) joined back broadcast — O(types·24) state.
   */
  def seasonalityR2(events: DataFrame, typeCol: String = "event_type",
                    tsCol: String = "ts"): DataFrame = {
    val hourly = events
      .groupBy(col(typeCol).as("event_type"),
        date_trunc("hour", col(tsCol)).as("__h"))
      .agg(count(lit(1)).cast(DoubleType).as("n"))
      .withColumn("hod", hour(col("__h")).cast(LongType))
    val tot = hourly.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), avg(col("n")).as("__mu"))
    val sst = hourly.join(broadcast(tot), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(sum((col("n") - col("__mu")) * (col("n") - col("__mu")))
        .as("__sst"))
    val byHod = hourly.groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("__nh"), avg(col("n")).as("__mh"))
    val ssb = byHod.join(broadcast(tot), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(sum(col("__nh") * (col("__mh") - col("__mu")) *
        (col("__mh") - col("__mu"))).as("__ssb"))
    val peak = byHod
      .groupBy(col("event_type"))
      .agg(max(struct(round(col("__mh"), 6).as("m"),
        (lit(-1L) * col("hod")).as("nh"))).as("__pk"))
      .select(col("event_type"), (lit(-1L) * col("__pk.nh")).as("peak_hour"))
    tot.join(sst, Seq("event_type")).join(ssb, Seq("event_type"))
      .join(peak, Seq("event_type"))
      .select(col("event_type"), col("n_hours"),
        when(col("__sst") === 0.0, lit(0.0))
          .otherwise(col("__ssb") / col("__sst")).as("seasonality_r2"),
        col("peak_hour"))
  }

  /**
   * Level-1 association rules over per-(user, day) event-type baskets
   * (Agrawal & Srikant 1994's support/confidence plus lift): which
   * event types co-occur beyond chance — the cross-sell / feature-
   * coupling readout. A basket is the DISTINCT type set of one user's
   * day; rules emit in both directions with
   * support = n(A∧B)/N, confidence = n(A∧B)/n(A),
   * lift = N·n(A∧B)/(n(A)·n(B)).
   *
   * Scale: baskets partial-agg to distinct (user, day, type) rows
   * (the only corpus-sized shuffle); the pair self-join runs per
   * basket key — its fan-out is types²-bounded per basket, and item/
   * pair counts partial-aggregate to types-sized tables.
   */
  def assocRules(events: DataFrame, minPairCount: Long = 1L,
                 typeCol: String = "event_type",
                 userCol: String = "user_id",
                 tsCol: String = "ts"): DataFrame = {
    val items = events.select(col(userCol).as("u"),
        to_date(col(tsCol)).as("d"), col(typeCol).as("item"))
      .distinct()
    val nBaskets = items.select("u", "d").distinct()
      .agg(count(lit(1)).as("__nb"))
    val itemN = items.groupBy(col("item")).agg(count(lit(1)).as("__na"))
    val pairs = items.as("a")
      .join(items.as("b"),
        col("a.u") === col("b.u") && col("a.d") === col("b.d") &&
          col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("x"), col("b.item").as("y"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minPairCount)
    pairs
      .select(explode(array(
        struct(col("x").as("ante"), col("y").as("cons"), col("n_ab")),
        struct(col("y").as("ante"), col("x").as("cons"), col("n_ab"))))
        .as("__r"))
      .select("__r.*")
      .join(broadcast(itemN.select(col("item").as("ante"),
        col("__na").as("__n_ante"))), Seq("ante"))
      .join(broadcast(itemN.select(col("item").as("cons"),
        col("__na").as("__n_cons"))), Seq("cons"))
      .crossJoin(broadcast(nBaskets))
      .select(col("ante"), col("cons"), col("n_ab"),
        (col("n_ab").cast(DoubleType) / col("__nb")).as("support"),
        (col("n_ab").cast(DoubleType) / col("__n_ante")).as("confidence"),
        (col("__nb").cast(DoubleType) * col("n_ab") /
          (col("__n_ante").cast(DoubleType) * col("__n_cons"))).as("lift"))
  }

  /**
   * Zero-init EWMA smoothing of per-(type, day) counts with Adam-style
   * bias correction: `s_k = α·x_k + (1−α)·s_{k-1}` (s_0 = 0),
   * `ewma_k = s_k / (1 − (1−α)^k)` — the load-trend smoother next to
   * [[cusumChangepoints]]' shift detector. The recursion is expressed
   * CLOSED-FORM so it runs as one cumulative window:
   * `s_k = β^k · Σ_{j≤k} (α·x_j / β^j)` with β = 1−α — the same
   * no-recursion discipline as CUSUM's prefix trick. The β^{-j}
   * growth stays far inside double range for series of daily
   * granularity (β=0.7, 300 days ⇒ 3e46 ≪ 1e308); both engines run
   * the identical IEEE sequence, so results mirror exactly.
   *
   * Scale: one (type, day) partial-aggregated count shuffle, one
   * type-key window over the days-sized series.
   */
  def ewmaDaily(events: DataFrame, alpha: Double = 0.3,
                typeCol: String = "event_type",
                tsCol: String = "ts"): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1): $alpha")
    val beta = 1.0 - alpha
    val daily = events
      .groupBy(col(typeCol).as("event_type"),
        to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n_events"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("__k", row_number().over(wOrd).cast(DoubleType))
      .withColumn("__c",
        sum(lit(alpha) * col("n_events").cast(DoubleType) /
          pow(lit(beta), col("__k"))).over(wCum))
      .select(col("event_type"), col("day"), col("n_events"),
        (pow(lit(beta), col("__k")) * col("__c") /
          (lit(1.0) - pow(lit(beta), col("__k")))).as("ewma"))
  }

  /**
   * Bot / automation detection by inter-event regularity: humans emit
   * bursty gaps, scripts emit metronome gaps — so a user with enough
   * events whose gap coefficient of variation (σ/μ) is tiny is
   * machine traffic (the standard first-pass rate-regularity
   * heuristic before fingerprinting). Per user: event count, mean
   * gap ms, gap CV (population σ; 0-mean guard → CV 0), and the flag
   * `n ≥ minEvents && cv ≤ maxCv`.
   *
   * Scale: the sessionization shape — ONE shuffle on the user key for
   * the lag() window, then a per-user partial-aggregated reduce to
   * four counters. Output is users-sized.
   */
  def botScores(events: DataFrame, minEvents: Int = 20,
                maxCv: Double = 0.5, userCol: String = "user_id",
                tsCol: String = "ts",
                eventIdCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(eventIdCol))
    val gaps = events
      .withColumn("__gap",
        (unix_millis(col(tsCol)) -
          lag(unix_millis(col(tsCol)), 1).over(w)).cast(DoubleType))
    gaps.groupBy(col(userCol))
      .agg(count(lit(1)).as("n_events"),
        avg(col("__gap")).as("mean_gap_ms"),
        coalesce(stddev_pop(col("__gap")), lit(0.0)).as("__sd"))
      .withColumn("gap_cv",
        when(col("mean_gap_ms").isNull || col("mean_gap_ms") === 0.0, lit(0.0))
          .otherwise(col("__sd") / col("mean_gap_ms")))
      .withColumn("is_bot",
        col("n_events") >= minEvents && col("gap_cv") <= maxCv)
      .select(col(userCol), col("n_events"), col("mean_gap_ms"),
        col("gap_cv"), col("is_bot"))
  }

  /**
   * Streaming impression→click attribution: a watermarked
   * STREAM-STREAM interval join — each click joins the impressions of
   * the same user in the `windowMinutes` before it. Both sides carry
   * watermarks, so Spark bounds the join state (impressions age out
   * once no click can reach back to them) — the canonical two-stream
   * pattern (ad attribution, order↔payment matching) where a batch
   * as-of join becomes stateful correlation.
   *
   * Input contract: `impressions` (user_id, ts, impression_id),
   * `clicks` (user_id, ts, click_id). Output one row per qualifying
   * (impression, click) pair with the latency. State per key is
   * bounded by the interval; at 100 TB-rate streams the join key
   * (user) hash-distributes state across executors.
   */
  def streamClickAttribution(impressions: DataFrame, clicks: DataFrame,
                             windowMinutes: Long = 30L,
                             watermarkMinutes: Long = 10L): DataFrame = {
    val i = impressions
      .withWatermark("ts", s"$watermarkMinutes minutes")
      .select(col("user_id"), col("ts").as("imp_ts"), col("impression_id"))
    val c = clicks
      .withWatermark("ts", s"$watermarkMinutes minutes")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("click_id"))
    i.join(c,
        col("user_id") === col("c_user") &&
          col("click_ts") >= col("imp_ts") &&
          col("click_ts") <= col("imp_ts") +
            expr(s"INTERVAL '$windowMinutes' MINUTE"))
      .select(col("user_id"), col("impression_id"), col("click_id"),
        col("imp_ts"), col("click_ts"),
        (unix_millis(col("click_ts")) - unix_millis(col("imp_ts")))
          .as("latency_ms"))
  }

  /**
   * One-sided CUSUM changepoint detection over per-(type, day) event
   * counts (Page 1954, "Continuous inspection schemes"): the
   * sustained-shift detector that complements [[anomalyZScores]]'
   * single-spike gate. Classic recursion
   * `s_k = max(0, s_{k-1} + (x_k − μ − slack))` is NOT window-
   * expressible — but it equals `P_k − min_{j≤k} P_j` where
   * `P_k = Σ_{i≤k} (x_i − μ − slack)` (a 0-floored random walk is its
   * prefix sum minus the running minimum, with P_0 = 0 in the min),
   * so the whole detector is two cumulative windows per type. μ and σ
   * are the type's own day-count mean/stddev (two-pass, population σ);
   * `slack` = slackSigma·σ, alarm when s_k > thresholdSigma·σ.
   *
   * Scale: one shuffle to (type, day) counts (partial-aggregated), one
   * shuffle on type for the two RANGE/ROWS windows over the days-sized
   * per-type series; the stats join is groups-sized and broadcast.
   * Days per type bound the window partition, not events.
   */
  def cusumChangepoints(events: DataFrame, slackSigma: Double = 0.5,
                        thresholdSigma: Double = 4.0,
                        typeCol: String = "event_type",
                        tsCol: String = "ts"): DataFrame = {
    val daily = events
      .groupBy(col(typeCol).as("event_type"),
        to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).cast(DoubleType).as("n"))
    val stats = daily.groupBy(col("event_type"))
      .agg(avg(col("n")).as("__mu"),
        coalesce(stddev_pop(col("n")), lit(0.0)).as("__sd"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(broadcast(stats), Seq("event_type"))
      .withColumn("__step", col("n") - col("__mu") - lit(slackSigma) * col("__sd"))
      .withColumn("__p", sum(col("__step")).over(wCum))
      // least(running min of P, 0) injects the P_0 = 0 term
      .withColumn("cusum",
        col("__p") - least(min(col("__p")).over(wCum), lit(0.0)))
      .withColumn("alarm", col("cusum") > lit(thresholdSigma) * col("__sd"))
      .select(col("event_type"), col("day"), col("n").cast("long").as("n_events"),
        col("cusum"), col("alarm"))
  }


  /**
   * Pooled retention half-life: the exponential-decay fit to the
   * corpus-wide retention curve. r_k = |users active exactly k days
   * after their own first day| / |users|, fit ln(r_k) = a + b\u00b7k by
   * least squares over k \u2265 1 with r_k > 0, half-life = \u2212ln 2 / b \u2014
   * the one-number "how fast do users decay" a growth dashboard
   * tracks (pooled over cohorts; right-censoring ignored by
   * convention \u2014 late cohorts simply contribute no large-k points).
   * A non-negative slope reports half_life_days = 0 (no decay
   * measurable). Output one row: (n_points, slope, intercept,
   * half_life_days).
   *
   * Scale: distinct (user, day) presence \u2192 per-user min \u2192 offset
   * counts (all partial-aggregated slim rows); the fit is a 1-row
   * aggregate over the offsets-sized series.
   */
  def retentionHalfLife(events: DataFrame, userCol: String = "user_id",
                        tsCol: String = "ts"): DataFrame = {
    val d = events.select(col(userCol).as("u"), to_date(col(tsCol)).as("day"))
      .distinct()
    val f = d.groupBy(col("u")).agg(min(col("day")).as("__d0"))
    val base = f.agg(count(lit(1)).cast(DoubleType).as("__base"))
    val pts = d.join(f, Seq("u"))
      .select(datediff(col("day"), col("__d0")).cast(LongType).as("k"))
      .where(col("k") >= 1)
      .groupBy(col("k")).agg(count(lit(1)).cast(DoubleType).as("__n"))
      .crossJoin(broadcast(base))
      .select(col("k").cast(DoubleType).as("x"),
        log(col("__n") / col("__base")).as("y"))
    pts.agg(count(lit(1)).as("n_points"),
        sum(col("x")).as("__sx"), sum(col("y")).as("__sy"),
        sum(col("x") * col("y")).as("__sxy"),
        sum(col("x") * col("x")).as("__sxx"))
      .select(col("n_points"),
        ((col("n_points") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("n_points") * col("__sxx") - col("__sx") * col("__sx")))
          .as("slope"),
        ((col("__sy") - ((col("n_points") * col("__sxy") -
          col("__sx") * col("__sy")) /
          (col("n_points") * col("__sxx") - col("__sx") * col("__sx"))) *
          col("__sx")) / col("n_points")).as("intercept"))
      .select(col("n_points"), col("slope"), col("intercept"),
        when(col("slope") >= 0.0, lit(0.0))
          .otherwise(-log(lit(2.0)) / col("slope")).as("half_life_days"))
  }

  /**
   * Entropy rate (bits/step) of the event-type Markov chain:
   * H = −Σᵢ π(i) Σⱼ P(i→j) log₂ P(i→j) with π from
   * [[markovStationary]] — how predictable the NEXT action is given
   * the current one (0 = deterministic flows, log₂|types| = uniform
   * chaos); the sequence-level companion of [[behaviorEntropy]]'s
   * marginal entropy. Output one row: (n_states, entropy_rate_bits).
   *
   * Scale: everything beyond eventTransitions' one per-user shuffle
   * runs on the (types × types) table; the final contraction is a
   * 1-row aggregate.
   */
  def markovEntropyRate(events: DataFrame, iterations: Int = 3,
                        typeCol: String = "event_type",
                        userCol: String = "user_id",
                        tsCol: String = "ts",
                        eventIdCol: String = "event_id"): DataFrame = {
    val p = eventTransitions(events, typeCol, userCol, tsCol, eventIdCol)
      .select(col("from_type"), col("to_type"), col("p"))
    val pi = markovStationary(events, iterations, typeCol, userCol, tsCol,
        eventIdCol)
      .select(col("event_type").as("from_type"), col("pi"))
    p.join(broadcast(pi), Seq("from_type"))
      .agg(countDistinct(col("from_type")).as("n_states"),
        (-sum(col("pi") * col("p") * log(col("p"))) / log(lit(2.0)))
          .as("entropy_rate_bits"))
  }

  /**
   * Pareto / ABC analysis of value concentration: total `valueCol` per
   * `keyCol`, descending cumulative share, and the classic A/B/C class
   * split (A = keys inside the first `aCut` of total value, B = up to
   * `bCut`, C = the tail). The one-line answer to "which event types
   * carry 80 % of revenue" and the standard inventory-curation cut.
   *
   * Scale: the groupBy partial-aggregates map-side, so the shuffle
   * carries one slim row per key; the running-share window then runs
   * over the AGGREGATED table (cardinality = distinct keys), with the
   * grand total joined in as a 1-row broadcast scalar. The window is
   * a single global sort of that small table — never of the raw rows;
   * for key cardinalities where that matters, bucket the keys first.
   */
  def paretoAbc(events: DataFrame, keyCol: String = "event_type",
                valueCol: String = "value", aCut: Double = 0.8,
                bCut: Double = 0.95): DataFrame = {
    require(0 < aCut && aCut < bCut && bCut <= 1.0, "need 0 < aCut < bCut <= 1")
    val totals = events.groupBy(col(keyCol))
      .agg(sum(col(valueCol)).as("total_value"), count(lit(1)).as("n_events"))
    val grand = totals.agg(sum("total_value").as("__g"))
    val w = Window.orderBy(col("total_value").desc, col(keyCol))
    totals.crossJoin(broadcast(grand))
      .withColumn("share", col("total_value") / col("__g"))
      .withColumn("cum_share", sum(col("share")).over(w))
      // classify on the 9-decimal-rounded running share: an exact-sum
      // boundary (0.8 + 0.15 = 0.9500000000000001 in IEEE) would
      // otherwise misclass the boundary key, identically surprisingly
      // on every engine
      .withColumn("abc_class",
        when(round(col("cum_share"), 9) <= lit(aCut), lit("A"))
          .when(round(col("cum_share"), 9) <= lit(bCut), lit("B"))
          .otherwise(lit("C")))
      .select(col(keyCol), col("n_events"), col("total_value"),
        col("share"), col("cum_share"), col("abc_class"))
  }
}
