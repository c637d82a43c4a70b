package graft.streaming

import graft.Cuts
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.graph.PropertyGraph

/** Structured Streaming pipelines over the events stream — the incremental
  * counterpart of the reference's batch one-shot ETL (its extractor rebuilds
  * the whole graph per run, main.go:732-835; here new memberships/grants
  * arrive as events and merge incrementally).
  *
  * Scale notes: windowed aggregations carry a watermark so state is
  * bounded; the foreachBatch graph merge reuses the same idempotent
  * anti-join upsert as the batch path (A6/A9), so replayed micro-batches
  * (at-least-once delivery) cannot duplicate vertices or edges.
  */
object EventPipeline {

  /** Watermarked tumbling-window aggregation:
    * (window_start, event_type, cnt, sum_value). */
  def windowedCounts(events: DataFrame,
                     windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"), col("sum_value"))

  /** Stateful sessionization with mapGroupsWithState: per-user running
    * (event count, max value) with processing-time state that a real
    * pipeline would expire via timeout. */
  case class UserEvent(user_id: Long, event_type: String, value: Double)
  case class UserStat(user_id: Long, n_events: Long, max_value: Double)

  def userStats(events: Dataset[UserEvent]): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserStat, UserStat](GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[UserStat]) =>
          val prev = state.getOption.getOrElse(UserStat(uid, 0L, Double.MinValue))
          val next = batch.foldLeft(prev)((s, e) =>
            UserStat(uid, s.n_events + 1, math.max(s.max_value, e.value)))
          state.update(next)
          next
      }
  }

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  case class SessionState(start: Long, end: Long, n: Long)
  case class UserSession(user_id: Long, start: java.sql.Timestamp,
                         end: java.sql.Timestamp, n_events: Long)

  /** THE sessionization semantics, shared verbatim by the
    * flatMapGroupsWithState path ([[sessionize]]) and the
    * transformWithState path ([[sessionizeTws]]) so the two APIs cannot
    * drift apart (both run under the same sw15/sw24 oracle).
    *
    * Merge: fold new events in as singleton sessions, then coalesce
    * everything within gap of each other — a late event may open an
    * earlier session, bridge two previously-separate sessions, or extend
    * either end of one.
    *
    * Close: STRICT `end + gap < wm`, the exact complement of the merge
    * condition for in-principle-admissible events (ts == wm would merge
    * at ts == end+gap). In practice Spark's late-row filter drops
    * ts == wm before it reaches either API (pinned by StreamingSpec's
    * boundary test), so `<=` would be equally CORRECT; the strict form
    * stays robust if that filter ever becomes `ts < wm`, at the cost of
    * emitting an exact-boundary session one watermark advance later
    * (both APIs clamp their re-arm time strictly past wm, so a later
    * advance always flushes it). */
  private def mergeAndClose(prior: Seq[SessionState], batch: Iterator[SessionEvent],
                            gapMs: Long, wm: Long): (List[SessionState], List[SessionState]) = {
    val merged = (prior ++ batch.map(e => SessionState(e.ts.getTime, e.ts.getTime, 1)))
      .sortBy(s => (s.start, s.end))
      .foldLeft(List.empty[SessionState]) { (acc, s) =>
        acc match {
          case h :: tail if s.start - h.end <= gapMs =>
            SessionState(h.start, math.max(h.end, s.end), h.n + s.n) :: tail
          case _ => s :: acc
        }
      }.reverse
    merged.partition(s => s.end + gapMs < wm)
  }

  /** Event-time sessionization: split each user's stream into sessions
    * separated by > `gapMs` of silence. State is the user's OPEN sessions
    * (a sorted, disjoint list — out-of-order input within the watermark
    * can open an earlier session, bridge two sessions into one, or extend
    * either end of an existing one; single-session state cannot represent
    * that). A session is emitted exactly when the event-time watermark
    * passes `end + gap` — from then on no admissible event can merge with
    * it, so emission is correct under any arrival order, unlike
    * emit-on-observed-gap which mis-groups late predecessors. State stays
    * bounded by the watermark horizon via EventTimeTimeout.
    * Semantics live in [[mergeAndClose]], shared with [[sessionizeTws]]. */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long,
                 watermark: String = "1 hour"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[SessionEvent], state: GroupState[List[SessionState]]) =>
          def toSession(s: SessionState) = UserSession(uid,
            new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.end), s.n)
          val wm = state.getCurrentWatermarkMs()
          val (closed, open) =
            mergeAndClose(state.getOption.getOrElse(Nil), batch, gapMs, wm)
          if (open.nonEmpty) {
            state.update(open)
            // earliest possible close time; an open end+gap may equal wm
            // (still extendable), so clamp the timeout strictly past it
            state.setTimeoutTimestamp(math.max(open.map(_.end).min + gapMs, wm + 1))
          } else state.remove()
          closed.iterator.map(toSession)
      }
  }

  /** Stream-stream interval join: purchases attributed to a prior click by
    * the same user within `joinWindow`. Both sides carry a watermark and
    * the join condition bounds event-time distance, so Spark can evict
    * join state once the watermark passes — state stays O(window), not
    * O(stream). Inner join ⇒ rows emit as soon as both sides arrive. */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame,
                       watermark: String = "1 hour",
                       joinWindow: String = "30 minutes",
                       joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_outer", "full_outer")(joinType),
      s"joinType must be inner, left_outer or full_outer, got $joinType")
    val l = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("l_user"), col("ts").as("click_ts"))
    val r = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user"), col("ts").as("purchase_ts"), col("value"))
    // left_outer: unconverted clicks ALSO emit (purchase columns NULL) —
    // but only once the watermark proves no in-window purchase can still
    // arrive, so unmatched rows trail matched ones by up to
    // watermark + joinWindow of event time. full_outer adds the mirror:
    // ORPHAN purchases (no in-window click — the attribution-audit rows
    // a revenue reconciliation needs) emit with click_ts NULL under the
    // same watermark proof. Same bounded state in all three modes; the
    // time-range condition bounds BOTH event-time columns, which is what
    // lets Spark evict either side's state at the watermark.
    l.join(r, col("l_user") === col("r_user")
        && col("purchase_ts") >= col("click_ts")
        && col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $joinWindow"),
        joinType)
      // coalesce: identical to l_user for inner/left rows, and the only
      // way a full_outer orphan purchase keeps its user id
      .select(coalesce(col("l_user"), col("r_user")).as("user_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Earliest-entry conversion funnel over a batch event log: how many
    * users progressed through the ordered `steps` (e.g. view → click →
    * purchase), where step i+1 must occur strictly AFTER the user's
    * step-i time and the WHOLE funnel must fit inside `windowMicros` of
    * the user's first step-1 event. Greedy first-occurrence semantics
    * (the ClickHouse `windowFunnel` convention): each step binds to the
    * EARLIEST qualifying event — deterministic and single-pass, at the
    * cost of not searching later entries that might have converted
    * deeper; a funnel metric wants the convention, not the maximal
    * matching.
    *
    * Plan shape: events filter to the |steps| funnel types at the scan
    * (pushed predicate), then ONE exchange on user_id serves a chain of
    * |steps| Window operators (each step's conditional min references
    * the previous step's column — same partitioning, no new shuffle)
    * AND the per-user depth aggregate (groupBy user reuses the window
    * partitioning); the final depth histogram is a |steps|-row
    * aggregate. All event-time math is integer microseconds — exact in
    * any engine.
    *
    * Returns (depth, n_users) for depth ≥ 1 (users who never fired
    * step 1 are not in the funnel). */
  def funnel(events: DataFrame, steps: Seq[String],
             windowMicros: Long): DataFrame = {
    require(steps.size >= 2, s"a funnel needs >= 2 steps, got ${steps.size}")
    require(windowMicros > 0)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    var df = events
      .filter(col("event_type").isin(steps.map(lit): _*))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("t1",
        min(when(col("event_type") === steps.head, col("us"))).over(w))
    steps.zipWithIndex.drop(1).foreach { case (s, i) =>
      df = df.withColumn(s"t${i + 1}",
        min(when(col("event_type") === s
          && col("us") > col(s"t$i")
          && col("us") <= col("t1") + lit(windowMicros), col("us"))).over(w))
    }
    var depth: Column = lit(0L)
    (1 to steps.size).foreach { d =>
      depth = when(col(s"t$d").isNotNull, lit(d.toLong)).otherwise(depth)
    }
    df.groupBy(col("user_id")).agg(max(depth).as("depth"))
      .filter(col("depth") >= 1)
      .groupBy(col("depth")).agg(count(lit(1)).as("n_users"))
  }

  /** Cohort retention table over a batch event log: users are cohorted by
    * their first-seen calendar day, and each (cohort, day-offset) cell
    * counts the cohort's users active on cohort+offset — the
    * product-analytics retention triangle, and the funnel's longitudinal
    * sibling.
    *
    * Plan shape: the log collapses to distinct (user, day) pairs FIRST
    * (the only corpus-sized aggregate — one exchange on user_id, which
    * the per-(user, day) dedup, the first-seen window, and the offset
    * projection all reuse: hash-partitioning by user satisfies the
    * (user, day) clustering requirement), then a tiny (cohort, offset)
    * histogram aggregate. All date math is calendar-day integers under
    * the pinned-UTC session — exact in any engine. */
  def retentionCohorts(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    events.select(col("user_id"), to_date(col("ts")).as("day"))
      .repartition(col("user_id"))
      .dropDuplicates("user_id", "day")
      .withColumn("cohort", min(col("day")).over(w))
      .select(col("cohort"), datediff(col("day"), col("cohort")).as("offset"))
      .groupBy(col("cohort"), col("offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** First-order event-transition matrix: per user, order events by
    * (ts, event_id) and count consecutive (from → to) type bigrams, with
    * each row's conditional transition probability in exact integer
    * micro-units (`cnt·10⁶ div row_total` — integral division, so any
    * engine agrees digit-for-digit). The event-stream analog of
    * [[graft.operators.TextAnalysis.ngramLm]]'s text bigram table: the
    * behavioral-model ingest artifact (next-event prediction, anomaly
    * scoring), and a funnel-free view of how users actually move.
    *
    * Plan shape: one exchange on user_id for the lead() window (event_id
    * breaks ts ties — a total order per user, so the lag pairing is
    * deterministic), then a |types|²-row aggregate; the row-total rides a
    * second window over the tiny aggregate. */
  def transitionMatrix(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wf = Window.partitionBy(col("from_type"))
    events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("__tot", sum(col("cnt")).over(wf))
      .withColumn("p_micro", expr("cnt * 1000000 div __tot"))
      .drop("__tot")
  }

  /** Growth accounting: per calendar day, DAU (distinct actives), rolling
    * `windowDays`-day actives, newly seen users, and the cumulative user
    * count — the activation/retention dashboard quartet, all exact
    * integers under the pinned-UTC calendar.
    *
    * Plan shape: the log collapses once to distinct (user, day) pairs
    * (one user_id exchange with map-side partial dedup); the rolling
    * count is a range join of those pairs against the tiny distinct-days
    * table (broadcast — |days| rows by construction), so the log is never
    * self-joined; first-seen and the two window sums run over |users|-
    * and |days|-sized aggregates. */
  def activeUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val pairs = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = pairs.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val days = pairs.select(col("day")).distinct()
    val rolling = broadcast(days)
      .join(pairs.select(col("user_id"), col("day").as("aday")),
        col("aday").between(date_sub(col("day"), windowDays - 1), col("day")))
      .groupBy(col("day")).agg(count_distinct(col("user_id")).as("rolling_active"))
    val firstSeen = pairs.groupBy(col("user_id")).agg(min(col("day")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_new"))
    // the cumulative runs over the |days|-row aggregate — tiny by design
    dau.join(rolling, Seq("day"))
      .join(firstSeen, Seq("day"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("cum_users", sum(col("n_new")).over(
        Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** A/B experiment read-out: users split into two arms by a
    * deterministic hash coin (md5 — the same engine-portable split as
    * `Dedup.hashSample`, so re-running anywhere assigns identical arms),
    * converted = fired ≥1 `convType` event, and the two-proportion
    * pooled z-score reported in floor-truncated integer micro-units.
    * The z touches doubles only through IEEE division/sqrt/multiply on
    * exact integer counts — deterministic in any engine; its SIGN
    * convention is (arm 0 − arm 1).
    *
    * Plan shape: one exchange on user_id for the per-user conversion
    * flag (map-side partial max), then a 2-row arm aggregate and a
    * 1-row final projection. Output: (n_a, conv_a, n_b, conv_b,
    * z_micro). */
  def abTest(events: DataFrame, entryType: String = "view",
             convType: String = "purchase",
             windowMicros: Long = 3600L * 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    // Exposure = the user's FIRST entry event; conversion = ≥1 conv event
    // strictly after it within the window. Users never exposed are
    // excluded — the standard experiment population.
    val perUser = events
      .filter(col("event_type").isin(entryType, convType))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("t1", min(when(col("event_type") === entryType, col("us"))).over(w))
      .filter(col("t1").isNotNull)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === convType
        && col("us") > col("t1")
        && col("us") <= col("t1") + lit(windowMicros), 1L).otherwise(0L)).as("conv"))
      .select(pmod(graft.functions.Hashing.md5Long(col("user_id")), lit(2L)).as("arm"),
        col("conv"))
    val arms = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("k"))
    val a = arms.filter(col("arm") === 0).select(col("n").as("n_a"), col("k").as("conv_a"))
    val b = arms.filter(col("arm") === 1).select(col("n").as("n_b"), col("k").as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a")
    val pb = col("conv_b").cast("double") / col("n_b")
    val p = (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b"))
    val z = (pa - pb) /
      sqrt(p * (lit(1.0) - p) * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    // Degenerate pools (everyone or no one converted) have zero pooled
    // variance — no test statistic exists; NULL, not a division error.
    val k = col("conv_a") + col("conv_b")
    a.crossJoin(b)
      .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
        when(k > 0 && k < col("n_a") + col("n_b"),
          floor(z * lit(1000000)).cast("long")).otherwise(lit(null)).as("z_micro"))
  }

  /** Streaming exact dedup with bounded state: at-least-once sources
    * replay records, and `dropDuplicatesWithinWatermark` holds each key
    * only until the watermark passes its event time — unlike plain
    * `dropDuplicates`, whose state grows with the whole stream. */
  /** Exact integer EWMA over a per-key time series (the trailing-window
    * smoother next to the z-score anomaly read-out): per key, rows
    * sorted by `tsCol` fold left with s₁ = 10³·x₁ and
    * sₜ = sₜ₋₁ + ⌊(10³·xₜ − sₜ₋₁)/alphaDen⌋ (truncation toward zero
    * spelled sign-explicitly, so Spark's `div` and a replica's floor
    * division agree on down-moves). α = 1/alphaDen. Returns one row per
    * input point: (key, ts, value, ewma_milli).
    *
    * The recursion is inherently sequential per key, so each key's
    * series rides ONE fold over its collected (ts, value) array — state
    * bounded by points-per-key (hours, for hourly rollups: days of data
    * = hundreds of longs), keys in parallel. The previous state is read
    * from the tail of the accumulating output array — no duplicated
    * state expression for the HOF to re-evaluate. */
  def ewmaMilli(points: DataFrame, keyCol: String, tsCol: String,
                valCol: String, alphaDen: Int = 4): DataFrame = {
    require(alphaDen >= 2, s"ewmaMilli needs alphaDen >= 2, got $alphaDen")
    points
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tsCol).as("ts"),
        col(valCol).cast("long").as("v")))).as("__a"))
      .select(col(keyCol), explode(expr(
        s"""aggregate(__a,
           |  cast(array() as array<struct<ts:timestamp,v:bigint,e:bigint>>),
           |  (acc, el) -> acc || array(cast(named_struct('ts', el.ts, 'v', el.v,
           |    'e', CASE WHEN size(acc) = 0 THEN el.v * 1000L
           |         WHEN el.v * 1000L >= element_at(acc, -1).e
           |           THEN element_at(acc, -1).e
           |             + (el.v * 1000L - element_at(acc, -1).e) div ${alphaDen}L
           |         ELSE element_at(acc, -1).e
           |             - (element_at(acc, -1).e - el.v * 1000L) div ${alphaDen}L
           |    END) as struct<ts:timestamp,v:bigint,e:bigint>)))""".stripMargin))
        .as("__r"))
      .select(col(keyCol), col("__r.ts").as(tsCol), col("__r.v").as(valCol),
        col("__r.e").as("ewma_milli"))
  }

  /** Holt linear (double-exponential) smoothing, exact in milli units —
    * [[ewmaMilli]]'s two-state sibling: a level AND a trend, so the
    * one-step forecast follows a ramp instead of lagging it (the
    * capacity-planning smoother over per-key hourly series). With
    * pred = l + b, resid = x·1000 − pred:
    * l' = pred + ⌊resid/αDen⌋,  b' = b + ⌊(l' − l − b)/βDen⌋ (and
    * l' − l − b = ⌊resid/αDen⌋ exactly, which is how the fold spells it),
    * seeded l₁ = x₁·1000, b₁ = 0; every division is sign-split to
    * truncate toward zero, so Spark's `div` and an oracle's `//` agree
    * on negatives. Same per-key collected-array fold as ewmaMilli (the
    * series per key must fit one row — hourly buckets, not raw events;
    * the recursion is inherently sequential, so the parallelism unit is
    * the key, which is exactly how a per-metric forecaster shards). */
  def holtMilli(points: DataFrame, keyCol: String, tsCol: String,
                valCol: String, alphaDen: Int = 4, betaDen: Int = 8): DataFrame = {
    require(alphaDen >= 2 && betaDen >= 2,
      s"holtMilli needs alphaDen, betaDen >= 2, got $alphaDen, $betaDen")
    def sdiv(x: String, d: Int) =
      s"(CASE WHEN ($x) >= 0 THEN ($x) div ${d}L ELSE -((-($x)) div ${d}L) END)"
    points
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tsCol).as("ts"),
        col(valCol).cast("long").as("v")))).as("__a"))
      .select(col(keyCol), explode(expr(
        s"""aggregate(__a,
           |  cast(array() as array<struct<ts:timestamp,v:bigint,l:bigint,b:bigint>>),
           |  (acc, el) -> acc || array(CASE WHEN size(acc) = 0
           |    THEN named_struct('ts', el.ts, 'v', el.v, 'l', el.v * 1000L, 'b', 0L)
           |    ELSE named_struct('ts', el.ts, 'v', el.v,
           |      'l', element_at(acc, -1).l + element_at(acc, -1).b
           |         + ${sdiv("el.v * 1000L - element_at(acc, -1).l - element_at(acc, -1).b", alphaDen)},
           |      'b', element_at(acc, -1).b
           |         + ${sdiv(
                  sdiv("el.v * 1000L - element_at(acc, -1).l - element_at(acc, -1).b",
                    alphaDen), betaDen)})
           |  END))""".stripMargin))
        .as("__r"))
      .select(col(keyCol), col("__r.ts").as(tsCol), col("__r.v").as(valCol),
        col("__r.l").as("level_milli"), col("__r.b").as("trend_milli"),
        (col("__r.l") + col("__r.b")).as("forecast_milli"))
  }

  /** One-sided CUSUM changepoint detector, exact in milli units — the
    * sequential-analysis complement to sw10's window z-score (a z-score
    * sees one bucket at a time; CUSUM ACCUMULATES small persistent
    * upward drift until it crosses a threshold, catching level shifts no
    * single bucket reveals). Classic Page form with reference μ and
    * allowance k = μ/allowanceDen:
    * s_t = max(0, s_{t-1} + x_t·1000 − ref − ⌊ref/allowanceDen⌋),
    * alarm when s_t > thresholdNum·ref. `refCol` is the per-key
    * reference level in MILLI units (a mean, a last-week baseline — the
    * caller chooses); all arithmetic is integer, so engines agree. Same
    * per-key collected-array fold (and the same bounded-series contract)
    * as [[ewmaMilli]]/[[holtMilli]]. */
  def cusumMilli(points: DataFrame, keyCol: String, tsCol: String,
                 valCol: String, refCol: String, allowanceDen: Int = 4,
                 thresholdNum: Int = 5): DataFrame = {
    require(allowanceDen >= 1 && thresholdNum >= 1,
      s"cusumMilli needs allowanceDen, thresholdNum >= 1, " +
        s"got $allowanceDen, $thresholdNum")
    points
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tsCol).as("ts"),
        col(valCol).cast("long").as("v"),
        col(refCol).cast("long").as("ref")))).as("__a"))
      .select(col(keyCol), explode(expr(
        s"""aggregate(__a,
           |  cast(array() as array<struct<ts:timestamp,v:bigint,ref:bigint,s:bigint>>),
           |  (acc, el) -> acc || array(named_struct('ts', el.ts, 'v', el.v, 'ref', el.ref,
           |    's', greatest(0L,
           |      (CASE WHEN size(acc) = 0 THEN 0L ELSE element_at(acc, -1).s END)
           |      + el.v * 1000L - el.ref - el.ref div ${allowanceDen}L))))""".stripMargin))
        .as("__r"))
      .select(col(keyCol), col("__r.ts").as(tsCol), col("__r.v").as(valCol),
        col("__r.s").as("cusum_milli"),
        (col("__r.s") > lit(thresholdNum.toLong) * col("__r.ref")).as("alarm"))
  }

  def dedupStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  // ---------------------------------------------------------------------
  // transformWithState — the Spark 4 arbitrary-state API (state v2)
  // ---------------------------------------------------------------------

  /** One keyed event for [[runningTotals]]: the money value pre-converted
    * to exact integer cents so state arithmetic is order-invariant. */
  case class TwsEvent(user_id: Long, cents: Long)
  /** Cumulative per-user totals as of the latest micro-batch the user
    * appeared in. */
  case class TwsTotal(user_id: Long, cnt: Long, sum_cents: Long)

  /** Per-user running totals on Spark 4's `transformWithState` — the
    * state-v2 successor of [[sessionize]]'s flatMapGroupsWithState: state
    * is NAMED and TYPED (one ValueState row per user here; ListState/
    * MapState/timers/TTL compose in the same handle) and lives in the
    * RocksDB state-store provider, the only backend the API supports.
    * Each micro-batch folds the user's new rows into the persisted total
    * and emits the updated cumulative row (Update mode), so the latest
    * emit per user equals the batch groupBy — `cnt` strictly increases
    * per emit, making "latest" selectable as max(cnt) with no timestamp.
    * State is O(users), never O(stream). */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TwsEvent, TwsTotal] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var totals: ValueState[TwsTotal] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[TwsTotal](
        "totals", org.apache.spark.sql.Encoders.product[TwsTotal], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TwsEvent],
                                 tv: TimerValues): Iterator[TwsTotal] = {
      // addExact, not +: this is the one money-cents sum that runs in a
      // per-key Long instead of the gates' DECIMAL(38,0)-widened sum
      // aggregate. A single user overflowing Long cents (9.2e16 dollars)
      // is unreachable, but if the pattern is ever reused on a hotter
      // key it must fail loudly, never wrap silently.
      var cnt = 0L
      var cents = 0L
      rows.foreach { r => cnt += 1; cents = Math.addExact(cents, r.cents) }
      val prev = if (totals.exists()) totals.get() else TwsTotal(key, 0L, 0L)
      val next = TwsTotal(key, Math.addExact(prev.cnt, cnt),
        Math.addExact(prev.sum_cents, cents))
      totals.update(next)
      Iterator.single(next)
    }
  }

  /** (user_id, cents) stream → per-user cumulative totals, one emit per
    * user per micro-batch it appears in. Run under the RocksDB state
    * store provider (`spark.sql.streaming.stateStore.providerClass`). */
  def runningTotals(events: Dataset[TwsEvent]): Dataset[TwsTotal] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class TypedEvent(event_type: String, user_id: Long)
  case class TypeDistinct(event_type: String, n_users: Long)

  /** Exact streaming distinct-count per key on the state-v2 MapState —
    * the third primitive of the API demonstrated (ValueState in
    * [[runningTotals]], timers in [[sessionizeTws]]): MapState holds the
    * membership set (one state ROW per (event_type, user) pair in
    * RocksDB — point `containsKey` probes, no serialize-the-whole-set
    * round trip like a ValueState[Set] would pay), while a ValueState
    * counter carries the cardinality so emitting never scans the map.
    * Exactly the layout a 100 TB distinct needs: O(1) state access per
    * input row, state linear in DISTINCT keys, count reads O(1). Emits
    * the running count per key per micro-batch (Update mode) — strictly
    * non-decreasing, so the latest value per key is max(n_users) and
    * equals the batch count(DISTINCT). */
  class DistinctUsersProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, TypedEvent, TypeDistinct] {
    import org.apache.spark.sql.streaming.{MapState, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var seen: MapState[Long, Boolean] = _
    @transient private var count: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      seen = getHandle.getMapState[Long, Boolean](
        "seen", Encoders.scalaLong, Encoders.scalaBoolean, TTLConfig.NONE)
      count = getHandle.getValueState[Long](
        "count", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[TypedEvent],
                                 tv: TimerValues): Iterator[TypeDistinct] = {
      val before = if (count.exists()) count.get() else 0L
      var n = before
      rows.foreach { r =>
        if (!seen.containsKey(r.user_id)) {
          seen.updateValue(r.user_id, true)
          n += 1
        }
      }
      // an all-duplicates batch (the common case for a long-running
      // distinct) writes no counter state and emits nothing — Update mode
      // permits silence, the count stays readable as the last emit, and
      // the mostly-duplicate steady state costs zero writes per key
      if (n == before) Iterator.empty
      else {
        count.update(n)
        Iterator.single(TypeDistinct(key, n))
      }
    }
  }

  /** (event_type, user_id) stream → exact running distinct users per
    * type. RocksDB state store required (state v2). */
  def distinctUsers(events: Dataset[TypedEvent]): Dataset[TypeDistinct] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .transformWithState(new DistinctUsersProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** One sequenced event for [[recentK]]: event time pre-converted to
    * epoch micros so state ordering is engine-exact (the oracle orders by
    * the same µs truncation), event_id as the unique tiebreak. */
  case class SeqEvent(user_id: Long, us: Long, event_id: Long, event_type: String)
  /** Cumulative event count + the k most recent event types
    * (newest-first, comma-joined) as of the latest micro-batch. */
  case class UserRecent(user_id: Long, cnt: Long, recent: String)

  /** Last-k events per user on the state-v2 ListState — the FOURTH and
    * final primitive of the API demonstrated (ValueState in
    * [[runningTotals]], timers in [[sessionizeTws]], MapState in
    * [[distinctUsers]]): the recency window lives as one RocksDB list row
    * per user — `appendList` is an O(batch) merge write (RocksDB
    * merge-op, no read-modify-write of a serialized blob the way a
    * ValueState[Seq] would pay), and the trim reads back only the ≤ k +
    * batch entries the list holds, never the stream. Arrival order is
    * irrelevant: "the k most recent by event time" is trim-safe out of
    * order — an event that belongs in the FINAL top-k can never be
    * trimmed early, because trimming it would require k strictly newer
    * events already present, which would still be present at the end.
    * State is O(k) per user however long the stream runs — the bounded
    * feature-window shape (last-k actions feeding a recommender /
    * funnel read) that survives 100 TB. A ValueState counter carries the
    * cumulative event count; it strictly increases per emit, making the
    * latest emit per user selectable as max(cnt) with no timestamp. */
  class RecentKProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, SeqEvent, UserRecent] {
    import org.apache.spark.sql.streaming.{ListState, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var recent: ListState[SeqEvent] = _
    @transient private var count: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      recent = getHandle.getListState[SeqEvent](
        "recent", Encoders.product[SeqEvent], TTLConfig.NONE)
      count = getHandle.getValueState[Long](
        "cnt", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[SeqEvent],
                                 tv: TimerValues): Iterator[UserRecent] = {
      val batch = rows.toArray
      if (batch.isEmpty) Iterator.empty
      else {
        recent.appendList(batch) // one merge write, no prior read needed
        // trim to the k newest by (event time, id): reads ≤ k + |batch|
        // entries — the list was trimmed to k on the previous batch
        val keep = recent.get().toArray
          .sortBy(e => (-e.us, -e.event_id)).take(k)
        recent.clear()
        recent.appendList(keep)
        val n = (if (count.exists()) count.get() else 0L) + batch.length
        count.update(n)
        Iterator.single(UserRecent(key, n, keep.map(_.event_type).mkString(",")))
      }
    }
  }

  /** (user_id, us, event_id, event_type) stream → per-user cumulative
    * count + last-k event-type window. RocksDB state store required
    * (state v2). */
  def recentK(events: Dataset[SeqEvent], k: Int): Dataset[UserRecent] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RecentKProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** One keyed row for [[ttlCounts]] — user id is the grouping key and
    * the payload (counting is the whole computation). */
  case class KeyOnlyEvent(user_id: Long)
  /** Per-user count as of the latest micro-batch, COUNTING ONLY SINCE
    * the state's TTL horizon — expired state restarts from zero. */
  case class TtlCount(user_id: Long, cnt: Long)

  /** State-v2 TTL — the FIFTH and last feature of the transformWithState
    * handle under test (ValueState [[runningTotals]], timers
    * [[sessionizeTws]], MapState [[distinctUsers]], ListState
    * [[recentK]]): the per-user counter is a ValueState declared with a
    * `TTLConfig(ttl)`, so an entry written at processing time T is
    * treated as ABSENT by every batch whose processing timestamp exceeds
    * T + ttl — `exists()` goes false and the count restarts from zero,
    * with no timer or tombstone code in the processor. This is the
    * bounded-retention shape (rate-limit windows, fraud velocity
    * counters, GDPR-style max-age state) that keeps state O(active
    * users) rather than O(ever-seen users) on an unbounded stream. TTL
    * is PROCESSING-time-based by definition, so the gate/spec drive it
    * deterministically with two separate query runs over one checkpoint,
    * sleeping past the TTL between them; `ttlMs <= 0` disables TTL
    * (TTLConfig.NONE) as the differential control — same harness, same
    * sleep, counts must then accumulate. */
  class TtlCountProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, KeyOnlyEvent, TtlCount] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var count: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("cnt",
        org.apache.spark.sql.Encoders.scalaLong,
        if (ttlMs > 0) TTLConfig(java.time.Duration.ofMillis(ttlMs))
        else TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[KeyOnlyEvent],
                                 tv: TimerValues): Iterator[TtlCount] = {
      val prev = if (count.exists()) count.get() else 0L // TTL-filtered read
      val next = prev + rows.size
      count.update(next) // re-arms the TTL clock at this batch's timestamp
      Iterator.single(TtlCount(key, next))
    }
  }

  /** (user_id) stream → per-user counts that forget state older than
    * `ttlMs` of processing time (TTL requires TimeMode.ProcessingTime;
    * RocksDB provider required, as for all state-v2). */
  def ttlCounts(events: Dataset[KeyOnlyEvent], ttlMs: Long): Dataset[TtlCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TtlCountProcessor(ttlMs),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Update())
  }

  /** The open-session list as a single named state row (Seq of the same
    * SessionState the flatMapGroupsWithState path keeps). */
  case class TwsSessions(open: Seq[SessionState])

  /** [[sessionize]] rebuilt on transformWithState — the state-v2 parity
    * proof for the HARDEST pattern the old API carries here: out-of-order
    * merging open-session state plus event-time TIMERS standing in for
    * EventTimeTimeout. Identical semantics row-for-row: the same
    * sorted-coalesce merge (late events may open earlier sessions, bridge
    * two, or extend either end), the same strict `end + gap < watermark`
    * close rule, and one registered timer per user at the earliest
    * possible close (clamped strictly past the current watermark) so an
    * idle user's sessions still flush when the watermark alone advances.
    * State is the open-session list — bounded by the watermark horizon,
    * never O(stream). */
  class SessionizeProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, SessionEvent, UserSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var sessions: ValueState[TwsSessions] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sessions = getHandle.getValueState[TwsSessions](
        "sessions", org.apache.spark.sql.Encoders.product[TwsSessions], TTLConfig.NONE)

    /** Merge + close via the shared [[mergeAndClose]] semantics, emit the
      * closed sessions, keep the rest, and re-arm the single per-user
      * timer. `expiring` is the timestamp of the timer currently firing,
      * if any — Spark removes that one itself, so deleting it again would
      * only log a spurious WARN per key. */
    private def settle(uid: Long, rows: Iterator[SessionEvent], wm: Long,
                       expiring: Long = Long.MinValue): Iterator[UserSession] = {
      val prior = if (sessions.exists()) sessions.get().open else Seq.empty
      val (closed, open) = mergeAndClose(prior, rows, gapMs, wm)
      // one live timer per user: drop stale ones before re-arming (the
      // merge may have moved the earliest close)
      getHandle.listTimers().filter(_ != expiring).foreach(getHandle.deleteTimer)
      if (open.nonEmpty) {
        sessions.update(TwsSessions(open))
        getHandle.registerTimer(math.max(open.map(_.end).min + gapMs, wm + 1))
      } else sessions.clear()
      closed.iterator.map(s => UserSession(uid,
        new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.end), s.n))
    }

    override def handleInputRows(key: Long, rows: Iterator[SessionEvent],
                                 tv: TimerValues): Iterator[UserSession] =
      settle(key, rows, tv.getCurrentWatermarkInMs())

    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[UserSession] =
      settle(key, Iterator.empty, tv.getCurrentWatermarkInMs(),
        expiring = info.getExpiryTimeInMs())
  }

  /** Event-time sessionization on the state-v2 API: same contract as
    * [[sessionize]] (strict-close rule, out-of-order merge, watermark-
    * bounded state), RocksDB-backed, timer-driven flush. */
  def sessionizeTws(events: Dataset[SessionEvent], gapMs: Long,
                    watermark: String = "1 hour"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SessionizeProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  /** Mutable holder for a graph maintained across micro-batches. Thread-safe
    * enough for a single streaming query (foreachBatch runs serially). */
  final class GraphState(initial: PropertyGraph) {
    @volatile var graph: PropertyGraph = initial
  }

  /** Mutable (r, b, c) count-min sketch state maintained across
    * micro-batches (same serial-foreachBatch contract as [[GraphState]]). */
  final class CmState(initial: DataFrame) {
    @volatile var cells: DataFrame = initial
  }

  /** foreachBatch incremental count-min maintenance: each micro-batch's
    * cell increments merge ADDITIVELY into the running sketch — CMS is a
    * linear sketch, sketch(A ⊎ B) = sketch(A) + sketch(B), so batch
    * boundaries are invisible in the final state and the stream's sketch
    * equals the batch sketch of everything seen. State stays
    * O(depth·width) rows however long the stream runs (a [[graft.Cuts.cut]]
    * per batch cuts lineage). Additivity cuts both ways: an
    * at-least-once REPLAY double-counts — feed through
    * [[dedupStream]] first when the source replays. */
  def cmMergeBatch(state: CmState, keyCol: String, depth: Int, width: Int)
                  (batch: DataFrame, batchId: Long): Unit = {
    val inc = graft.operators.Sketch.cmsCells(batch, keyCol, depth, width)
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("c"))
    state.cells = Cuts.cut(state.cells.unionByName(inc)
      .groupBy(col("r"), col("b")).agg(sum(col("c")).as("c")))
  }

  /** foreachBatch incremental graph merge: each micro-batch of events
    * upserts `user` vertices and user→event_type edges. Idempotent per
    * batch (anti-join upsert), so at-least-once replays are safe. Batches
    * are checkpointed into the state so lineage does not grow unboundedly
    * across a long-running stream. */
  def graphMergeBatch(state: GraphState, userBase: Long, typeBase: Long)
                     (batch: DataFrame, batchId: Long): Unit = {
    val users = batch.select(
      (lit(userBase) + col("user_id")).as("id"), lit("user").as("label"),
      col("user_id").cast("string").as("key"),
      map(lit("source"), lit("stream")).as("props"))
    // Event-type id: the 60-bit md5 hash used everywhere else, folded into
    // the 2^56 label stride. Spark's 32-bit `hash` would both collide far
    // sooner (merging distinct event types into one vertex id) and leak a
    // negative id out of the stride via abs(Int.MinValue).
    val typeId = lit(typeBase) +
      pmod(graft.functions.Hashing.md5Long(col("event_type")), lit(graft.graph.GraphBuilder.B))
    val types = batch.select(
      typeId.as("id"),
      lit("eventType").as("label"), col("event_type").as("key"),
      map().cast("map<string,string>").as("props"))
    val edges = batch.select(
      (lit(userBase) + col("user_id")).as("src"),
      typeId.as("dst"),
      lit("in").as("label"), lit(1).as("weight"))
    val merged = state.graph
      .upsertVertices(users.unionByName(types))
      .upsertEdges(edges)
    state.graph = PropertyGraph(
      Cuts.cut(merged.vertices), Cuts.cut(merged.edges))
  }
}
