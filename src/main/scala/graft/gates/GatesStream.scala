package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{GraphBuilder, GraphStore, PropertyGraph}

/** Structured Streaming gates (windows, sessionization, stream joins, CMS, dedup, paged-API micro-batch ingest) - run as real streams.
  *
  * Split from the former single-object SparkEntry (round 14) — a pure
  * refactor: every entry body is byte-identical, gate names and oracle
  * SQL unchanged; [[SparkEntry]] composes the family maps back together.
  */
private[graft] object GatesStream extends GateFamily {
  import GateSupport._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // SW22 — STREAMING paged ingestion, run as a real Structured
    // Streaming query: the live HTTP connector as a micro-batch source
    // (offset = page number, 2 pages per trigger via admission control,
    // checkpointed so a restart resumes mid-corpus) against the loopback
    // fixture, drained with Trigger.AvailableNow — b01's incremental twin
    // and the reference's continuous-directory-sync shape. Oracle = the
    // same deterministic row formula.
    "sw22_stream_paged_ingest" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val url = sources.PagedApiFixture.baseUrl
      val tmp = java.nio.file.Files.createTempDirectory("graft-sw22").toString
      val name = s"sw22_out_${sinkSeq.incrementAndGet()}"
      val q = s.readStream.format("graft.sources.PagedApiSource")
        .option("url", s"$url?pages=6").option("pages", 6)
        .option("pageSize", 50).option("minIntervalMs", 0)
        .option("pagesPerTrigger", 2)
        .load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$tmp/ck")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name)
    }),

    // SW27 — STREAMING ingest on MINTED credentials: the b03 grant walk
    // as a Structured Streaming query, which is where token lifecycle
    // actually bites — a long-running ingest OUTLIVES its bearer. uses=2
    // kills each token after two guarded requests while the stream pulls
    // 2 pages per trigger across 3 micro-batches, so the 401→re-mint→
    // retry path fires BETWEEN triggers (inside executor tasks of later
    // micro-batches), not just once inside a batch read. The JVM-shared
    // provider cache means the refreshed token carries across triggers.
    // Oracle = the same corpus formula; the credential churn must be
    // invisible in the rows.
    "sw27_stream_oauth_ingest" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val url = s"${sources.PagedApiFixture.oauthUsersUrl}?pages=6&uses=2"
      val tmp = java.nio.file.Files.createTempDirectory("graft-sw27")
      try {
        val name = s"sw27_out_${sinkSeq.incrementAndGet()}"
        val q = s.readStream.format("graft.sources.PagedApiSource")
          .option("url", url).option("pages", 6)
          .option("pageSize", 50).option("minIntervalMs", 0)
          .option("pagesPerTrigger", 2)
          .option("tokenUrl", sources.PagedApiFixture.tokenUrl)
          .option("oauthIssuer", "fixture-sa@example.test")
          .option("oauthScope", "directory.readonly.stream")
          .option("oauthSubject", "admin@example.test")
          .option("oauthKey", sources.PagedApiFixture.privateKeyPem)
          .load()
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$tmp/ck")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(name)
      } finally deleteRecursively(tmp)
    }),

    // SW23 — transformWithState, Spark 4's arbitrary-state API (state
    // v2): per-user running totals kept in a typed named ValueState under
    // the RocksDB provider (the only backend the API supports), fed three
    // mtime-ordered micro-batches split by event_id mod 3 — most users
    // span all three, so CROSS-BATCH state restore is what's under test.
    // The update-mode memory sink accumulates every emit; the latest emit
    // per user (max cnt — strictly increasing) equals the batch groupBy,
    // which is the oracle. State is O(users) however long the stream runs.
    "sw23_stream_tws_totals" -> ((s, dir) => Cuts.released {
      import s.implicits._
      // cut: three filtered stage writes — scan events once
      val base = Cuts.cut(events(s, dir).select(col("event_id"), col("user_id"),
        cents(col("value")).as("cents")), eager = false)
      val feed = base.select(col("user_id"), col("cents"))
      val out = runTwsReplayGate(s, "sw23",
        (0 until 3).map { i =>
          base.filter(pmod(col("event_id"), lit(3)) === i)
            .select(col("user_id"), col("cents"))
        }, feed.schema, "update") { stream =>
        streaming.EventPipeline.runningTotals(
          stream.as[streaming.EventPipeline.TwsEvent]).toDF()
      }
      out.groupBy(col("user_id"))
        .agg(max(struct(col("cnt"), col("sum_cents"))).as("r"))
        .select(col("user_id"), col("r.cnt").as("cnt"),
          money(col("r.sum_cents"), 100L).as("sum_value"))
    }),

    // SW24 — sessionization on transformWithState: the state-v2 parity
    // proof for the hardest old-API pattern (sw15's out-of-order open-
    // session merge + event-time timeouts), rebuilt on named ValueState +
    // event-time TIMERS under RocksDB. Same replayed file feed, same
    // sentinel-driven watermark advance (the timers fire on watermark
    // alone — no new rows for a user needed), same batch gaps-and-islands
    // oracle as sw15, row for row.
    "sw24_stream_tws_sessionize" -> ((s, dir) => Cuts.released {
      import s.implicits._
      val gapMs = 1800L * 1000
      // ms truncation on the input: session state runs on epoch millis,
      // and the oracle truncates identically
      // cut: the maxTs aggregate AND the b0 stage both read it
      val ev = Cuts.cut(events(s, dir)
        .withColumn("ts", expr("timestamp_millis(unix_millis(ts))"))
        .select(col("user_id"), col("ts").cast("timestamp").as("ts")), eager = false)
      val maxTs = ev.agg(max(col("ts"))).as[java.sql.Timestamp].head()
      def sentinel(days: Int) = Seq((-1L,
        new java.sql.Timestamp(maxTs.getTime + days * 86400000L))).toDF("user_id", "ts")
      // ONE sentinel batch (optimization round 17; was two): the
      // sentinel advances the watermark past every session's close; the
      // batch that fires the event-time timers with it is the engine's
      // no-data batch (noDataMicroBatches, default on — a stateful op
      // whose watermark advanced requests one more batch before
      // AvailableNow may terminate). Same mechanism as the sw18/sw29
      // attribution sides; parity green on repeated runs.
      val out = runTwsReplayGate(s, "sw24",
        Seq(ev, sentinel(10)), ev.schema, "append") { stream =>
        streaming.EventPipeline.sessionizeTws(
          stream.as[streaming.EventPipeline.SessionEvent], gapMs).toDF()
      }
      out.filter(col("user_id") >= 0)
        .select(col("user_id"), col("start").as("session_start"),
          col("end").as("session_end"), col("n_events"))
    }),

    // SW25 — exact streaming distinct on the state-v2 MapState: the
    // membership set lives as one RocksDB row PER (type, user) pair
    // (point containsKey probes — no whole-set (de)serialization per
    // input row), a ValueState counter carries the cardinality so emits
    // never scan the map. Three mtime-ordered batches split by event_id
    // mod 3, so users recur ACROSS batches and only the membership probe
    // keeps the count exact. Latest emit per type (max — the count is
    // non-decreasing) equals batch count(DISTINCT), the oracle.
    "sw25_stream_tws_distinct" -> ((s, dir) => Cuts.released {
      import s.implicits._
      // cut: three filtered stage writes — scan events once
      val base = Cuts.cut(events(s, dir).select(col("event_id"), col("event_type"),
        col("user_id")), eager = false)
      val feed = base.select(col("event_type"), col("user_id"))
      val out = runTwsReplayGate(s, "sw25",
        (0 until 3).map { i =>
          base.filter(pmod(col("event_id"), lit(3)) === i)
            .select(col("event_type"), col("user_id"))
        }, feed.schema, "update") { stream =>
        streaming.EventPipeline.distinctUsers(
          stream.as[streaming.EventPipeline.TypedEvent]).toDF()
      }
      out.groupBy(col("event_type"))
        .agg(max(col("n_users")).as("n_users"))
    }),

    // SW26 — last-k recency window on the state-v2 ListState: the fourth
    // (and final) primitive of the transformWithState API under a gate
    // (ValueState sw23, timers sw24, MapState sw25). Each user's window
    // is one RocksDB list row: appendList merges the batch in, the trim
    // reads back only ≤ k + batch entries, state is O(k) per user. Three
    // mtime-ordered batches split by event_id mod 3, so events arrive
    // OUT of time order across batches and only the by-event-time trim
    // (which is out-of-order-safe, see RecentKProcessor) keeps the
    // window exact. Latest emit per user (max cnt — strictly increasing)
    // must equal the batch window: top-5 by (µs, event_id) descending.
    "sw26_stream_tws_lastk" -> ((s, dir) => Cuts.released {
      import s.implicits._
      // cut: three filtered stage writes — scan events once
      val base = Cuts.cut(events(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type")), eager = false)
      val feed = base.select(col("user_id"), col("us"), col("event_id"), col("event_type"))
      val out = runTwsReplayGate(s, "sw26",
        (0 until 3).map { i =>
          base.filter(pmod(col("event_id"), lit(3)) === i)
            .select(col("user_id"), col("us"), col("event_id"), col("event_type"))
        }, feed.schema, "update") { stream =>
        streaming.EventPipeline.recentK(
          stream.as[streaming.EventPipeline.SeqEvent], k = 5).toDF()
      }
      out.groupBy(col("user_id"))
        .agg(max(struct(col("cnt"), col("recent"))).as("r"))
        .select(col("user_id"), col("r.cnt").as("cnt"), col("r.recent").as("recent"))
    }),

    // SW28 — state TTL, the FIFTH and last transformWithState feature
    // under a gate (ValueState sw23, timers sw24, MapState sw25,
    // ListState sw26): a per-user ValueState counter declared with
    // TTLConfig(1.2 s) must be treated as ABSENT by a batch processed
    // after the TTL horizon. TTL is processing-time by definition, so
    // the harness drives it deterministically with TWO query runs over
    // one checkpoint: phase 1 (even event_ids) drains, the gate sleeps
    // 1.5 s of wall clock — past the 0.6 s TTL with a 0.9 s margin
    // however fast phase 1 ran (the margin only GROWS if phase 2 starts
    // late, so the gate cannot flake slow) — then phase 2 (odd
    // event_ids) resumes from the same
    // checkpoint; its counts must RESTART from zero, not accumulate.
    // The oracle pins both phases' emits: phase-2 cnt == the odd-half
    // batch count alone — if TTL failed to expire, every user seen in
    // both halves would emit evenCnt+oddCnt and hash-mismatch. The
    // differential control (same harness, same sleep, TTL disabled →
    // counts DO accumulate) runs in StreamingSpec, proving the sleep
    // itself isn't what resets the counts.
    "sw28_stream_tws_ttl" -> ((s, dir) => Cuts.released {
      import s.implicits._
      // cut: two filtered stage writes + two counts — scan events once
      val base = Cuts.cut(events(s, dir).select(col("event_id"), col("user_id")), eager = false)
      val feed = base.select(col("user_id"))
      def half(i: Int) =
        base.filter(pmod(col("event_id"), lit(2)) === i).select(col("user_id"))
      val (out1, out2) = runTwsTwoPhaseReplay(s, "sw28",
        (Seq(half(0)), half(0).distinct().count()),
        (Seq(half(1)), half(1).distinct().count()),
        feed.schema, sleepMs = 1500L) { stream =>
        streaming.EventPipeline.ttlCounts(
          stream.as[streaming.EventPipeline.KeyOnlyEvent], ttlMs = 600L).toDF()
      }
      out1.withColumn("phase", lit(1))
        .unionByName(out2.withColumn("phase", lit(2)))
        .select(col("user_id"), col("phase"), col("cnt"))
    }),

    // Streaming-shaped batch: tumbling 1h windows over the events table.
    "sw1_tumbling_window" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          money(sumExact(cents(col("value"))), 100L).as("sum_value"))
        .select(col("window.start").as("ws"), col("event_type"), col("cnt"), col("sum_value"))
    }),

    // Sliding 2h windows every 1h.
    "sw2_sliding_window" -> ((s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("ws"), col("event_type"), col("cnt"))
    }),

    // Batch session windows (gaps-and-islands): split each user's events
    // into sessions separated by >30min silence — the batch twin of
    // streaming.EventPipeline.sessionize, as one window pass + agg
    // (no per-user state, scales as a single shuffle on user_id).
    "sw3_session_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val brk = when(
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w) > lit(1800L * 1000000L),
        lit(1L)).otherwise(lit(0L))
      events(s, dir)
        .withColumn("session_id",
          sum(brk).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
    }),

    // A/B experiment read-out: deterministic md5 arm split, conversion =
    // any 'purchase', pooled two-proportion z in integer micro-units
    // (see EventPipeline.abTest).
    "sw7_abtest" -> ((s, dir) => {
      streaming.EventPipeline.abTest(events(s, dir))
    }),

    // First-order event-transition matrix with integer-micro conditional
    // probabilities — the behavioral bigram table (see
    // EventPipeline.transitionMatrix).
    "sw6_transitions" -> ((s, dir) => {
      streaming.EventPipeline.transitionMatrix(events(s, dir))
    }),

    // Cohort retention triangle: users cohorted by first-seen day, one
    // row per (cohort, day-offset) with its active-user count — the
    // funnel's longitudinal sibling (see EventPipeline.retentionCohorts).
    "sw5_retention" -> ((s, dir) => {
      streaming.EventPipeline.retentionCohorts(events(s, dir))
    }),

    // Earliest-entry conversion funnel view → click → purchase, whole
    // funnel within 1 hour of the user's first view (greedy ClickHouse
    // windowFunnel semantics; see EventPipeline.funnel). One exchange on
    // user_id serves the chained step windows AND the depth aggregate.
    "sw4_funnel" -> ((s, dir) => {
      streaming.EventPipeline.funnel(events(s, dir),
        Seq("view", "click", "purchase"), windowMicros = 3600L * 1000000L)
    }),

    // Growth accounting over the events log: per day — DAU, rolling
    // 7-day actives (range join against the tiny broadcast days table;
    // the log never self-joins), newly seen users, cumulative users.
    "sw8_active_users" -> ((s, dir) => {
      streaming.EventPipeline.activeUsers(events(s, dir), windowDays = 7)
    }),

    // Windowed trending: per hour, the top-3 event types by count
    // (deterministic ties) — the dashboard top-k over event-time windows.
    "sw9_trending" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = events(s, dir)
        .groupBy(window(col("ts"), "1 hour").getField("start").as("ws"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("ws")).orderBy(col("cnt").desc, col("event_type"))
      hourly.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
    }),

    // Hourly anomaly z-scores: each (hour, type) count against its
    // trailing 24 observed buckets — z = (x·n − Σx)/√(n·Σx² − (Σx)²),
    // every operand an exact integer window sum, so the IEEE sqrt/divide
    // is engine-identical; floor-micro output, NULL on zero variance.
    // Integer EWMA (α = 1/4) over per-type hourly counts — the smoother
    // next to sw10's trailing z-scores; the sequential recursion folds
    // per key, exact in milli units on both engines.
    "sw17_ewma" -> ((s, dir) => {
      val hourly = events(s, dir)
        .groupBy(col("event_type"),
          window(col("ts"), "1 hour").getField("start").as("ws"))
        .agg(count(lit(1)).as("cnt"))
      streaming.EventPipeline.ewmaMilli(hourly, "event_type", "ws", "cnt",
        alphaDen = 4)
    }),

    // Holt linear smoothing (level + trend) over per-type hourly counts
    // — sw17's single-state EWMA lags a steady ramp by αDen buckets
    // forever; the trend state closes that gap, making forecast = l + b
    // the capacity-planning read-out. Same exact-milli integer fold,
    // every division sign-split to truncate toward zero on both engines.
    "sw20_holt_linear" -> ((s, dir) => {
      val hourly = events(s, dir)
        .groupBy(col("event_type"),
          window(col("ts"), "1 hour").getField("start").as("ws"))
        .agg(count(lit(1)).as("cnt"))
      streaming.EventPipeline.holtMilli(hourly, "event_type", "ws", "cnt",
        alphaDen = 4, betaDen = 8)
    }),

    // One-sided CUSUM changepoint detection over per-type hourly counts:
    // sw10's z-score sees one bucket, CUSUM accumulates persistent drift
    // above the per-type mean (+ a mean/4 allowance) until it crosses
    // 5× the reference — the sequential level-shift alarm. Reference =
    // the exact integer per-type mean in milli; everything else is the
    // exact fold.
    "sw21_cusum" -> ((s, dir) => {
      val hourly = events(s, dir)
        .groupBy(col("event_type"),
          window(col("ts"), "1 hour").getField("start").as("ws"))
        .agg(count(lit(1)).as("cnt"))
      val base = hourly.groupBy(col("event_type"))
        .agg(expr("sum(cnt) * 1000L div count(*)").as("ref_milli"))
      streaming.EventPipeline.cusumMilli(
        hourly.join(broadcast(base), Seq("event_type")),
        "event_type", "ws", "cnt", "ref_milli")
    }),

    // Seasonal-profile anomaly: each (event_type, hour) bucket against
    // ITS OWN hour-of-day baseline — sw10's trailing z-score flags level
    // shifts but also fires on every benign daily peak; dividing by the
    // slot's historical mean first ("Tuesday 9am vs all 9ams") is the
    // standard de-seasonalized form. ratio = cnt·slot_n / slot_total,
    // flagged at ≥ 2× as floored micro — all integer, both engines agree.
    "sw19_seasonal_profile" -> ((s, dir) => {
      val hourly = events(s, dir)
        .groupBy(col("event_type"),
          window(col("ts"), "1 hour").getField("start").as("ws"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("hod", hour(col("ws")).cast("long"))
      val base = hourly.groupBy(col("event_type"), col("hod"))
        .agg(sum(col("cnt")).as("slot_total"), count(lit(1)).as("slot_n"))
      hourly.join(base, Seq("event_type", "hod"))
        .withColumn("ratio_micro", expr("cnt * slot_n * 1000000L div slot_total"))
        .filter(col("ratio_micro") >= 2000000L)
        .select(col("event_type"), col("ws"), col("hod"), col("cnt"),
          col("ratio_micro"))
    }),

    "sw10_anomaly" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = events(s, dir)
        .groupBy(window(col("ts"), "1 hour").getField("start").as("ws"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("ws"))
        .rowsBetween(-24, -1)
      hourly
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("sx", sum(col("cnt")).over(w))
        .withColumn("sxx", sum(col("cnt") * col("cnt")).over(w))
        .filter(col("n") >= 12)
        .select(col("ws"), col("event_type"), col("cnt"),
          when(col("n") * col("sxx") - col("sx") * col("sx") > 0,
            floor((col("cnt") * col("n") - col("sx")) /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
              * 1000000).cast("long")).as("z_micro"))
    }),

    // SW11 — STREAMING exact dedup, run as a real Structured Streaming
    // query (file source → dropDuplicatesWithinWatermark → memory sink),
    // not a batch stand-in: the events table is replayed with
    // at-least-once duplicates (every 3rd event appears twice) and the
    // deduped stream must equal the plain batch table — the streaming twin
    // of d_exact_dup_fingerprint for the LLM-ingest path. The feed is ONE
    // parquet file ⇒ one micro-batch, so watermark eviction cannot race
    // the duplicates and the result is deterministic; in a long-running
    // deployment the same watermark bounds the dedup state (unlike plain
    // dropDuplicates, whose state grows with the whole stream).
    "sw11_stream_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), col("ts"), col("value"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-sw11").toString
      ev.unionByName(ev.filter(col("event_id") % 3 === 0))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      val name = s"sw11_out_${sinkSeq.incrementAndGet()}"
      withConfs(s, "spark.sql.shuffle.partitions" -> "8") {
        val q = streaming.EventPipeline.dedupStream(
            s.readStream.schema(ev.schema).parquet(s"$tmp/in"), "1 hour")
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$tmp/ck")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table(name)
    }),

    // SW16 — stream-static enrichment: the events stream joins the
    // customer dimension (broadcast, STATELESS — no watermark, no state
    // store; the dim is re-resolved per micro-batch, which at 100 TB is
    // exactly how slowly-changing dims stay fresh mid-stream). Output ≡
    // the batch join, the oracle.
    "sw16_stream_enrich" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val ev = events(s, dir).select(col("event_id"), col("user_id"), col("event_type"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-sw16").toString
      ev.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in")
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
      val name = s"sw16_out_${sinkSeq.incrementAndGet()}"
      val q = s.readStream.schema(ev.schema).parquet(s"$tmp/in")
        .join(broadcast(dim), Seq("user_id"))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$tmp/ck")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name)
        .select(col("event_id"), col("user_id"), col("event_type"), col("segment"))
    }),

    // SW15 — REAL streaming sessionization: flatMapGroupsWithState +
    // EventTimeTimeout over a replayed file-source stream (one file per
    // micro-batch, mtime-ordered), two far-future sentinel batches
    // pushing the watermark past every real session's close so the
    // memory sink holds the COMPLETE session set — which equals the
    // batch gaps-and-islands twin, the oracle. State per user is the
    // open-session list, evicted on close: bounded by concurrency,
    // never O(stream).
    "sw15_stream_sessionize" -> ((s, dir) => Cuts.released {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val gapMs = 1800L * 1000
      // ms truncation on the input: sessionize state runs on epoch
      // millis, and the oracle truncates identically; cut: the maxTs
      // aggregate AND the b0 stage both read it
      val ev = Cuts.cut(events(s, dir)
        .withColumn("ts", expr("timestamp_millis(unix_millis(ts))"))
        .select(col("user_id"), col("ts").cast("timestamp").as("ts")), eager = false)
      val tmp = java.nio.file.Files.createTempDirectory("graft-sw15").toString
      val inDir = java.nio.file.Paths.get(tmp, "in")
      val maxTs = ev.agg(max(col("ts"))).as[java.sql.Timestamp].head()
      def sentinel(days: Int) = Seq((-1L,
        new java.sql.Timestamp(maxTs.getTime + days * 86400000L))).toDF("user_id", "ts")
      // ONE sentinel batch (optimization round 17; was two) — the
      // no-data batch fires the event-time timeouts once the sentinel
      // advanced the watermark; see sw24/the attribution gates.
      stageReplayFeed(inDir, Seq(ev, sentinel(10)))
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
      val name = s"sw15_out_${sinkSeq.incrementAndGet()}"
      withConfs(s, "spark.sql.shuffle.partitions" -> "8") {
        val q = streaming.EventPipeline.sessionize(
            stream.as[streaming.EventPipeline.SessionEvent], gapMs)
          .toDF()
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$tmp/ck")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table(name).filter(col("user_id") >= 0)
        .select(col("user_id"), col("start").as("session_start"),
          col("end").as("session_end"), col("n_events"))
    }),

    // SW12 — REAL stream-stream interval join: clicks and purchases run
    // as two watermarked file-source streams through clickAttribution
    // (join state evicted once the watermark passes the window — bounded
    // by traffic·window, never O(stream)); the inner join emits exactly
    // the batch interval join, which is the oracle. One file per side ⇒
    // deterministic (all matches emit in the single micro-batch).
    "sw12_stream_attribution" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val ev = events(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft-sw12").toString
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      clicks.coalesce(1).write.mode("overwrite").parquet(s"$tmp/clicks")
      buys.coalesce(1).write.mode("overwrite").parquet(s"$tmp/buys")
      val joined = streaming.EventPipeline.clickAttribution(
        s.readStream.schema(clicks.schema).parquet(s"$tmp/clicks"),
        s.readStream.schema(buys.schema).parquet(s"$tmp/buys"),
        watermark = "1 hour", joinWindow = "30 minutes", joinType = "inner")
      val name = s"sw12_out_${sinkSeq.incrementAndGet()}"
      // A stream-stream join provisions FOUR state stores per shuffle
      // partition; at this volume store setup dominates the join
      // (see GateSupport.withConfs).
      withConfs(s, "spark.sql.shuffle.partitions" -> "8") {
        val q = joined.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", s"$tmp/ck")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table(name)
    }),

    // SW18 — the LEFT_OUTER stream-stream join: unconverted clicks ALSO
    // emit (purchase columns NULL) — but an outer row may only emit once
    // the watermark PROVES no in-window purchase can still arrive, which
    // a finite stream's last batch never proves on its own. Two staged
    // sentinel batches per side (the sw15 pattern: sentinel #1 advances
    // the watermark, sentinel #2 triggers the batch that evicts with it)
    // drive the final watermark past every click's deadline, so the
    // result equals the batch LEFT JOIN exactly — which is the oracle.
    "sw18_stream_left_attribution" -> ((s, dir) =>
      attributionGate(s, dir, "sw18", "left_outer")),

    // SW29 — the stream-stream FULL OUTER completes the watermark-join
    // matrix (inner sw12, left_outer sw18): orphan PURCHASES — revenue
    // rows with no in-window click, the reconciliation audit every
    // attribution pipeline owes — emit with click columns NULL once the
    // watermark proves no click can still arrive, under the same
    // double-sentinel eviction as sw18. The oracle is the batch FULL
    // JOIN, row for row; coalesce(l,r) keeps the orphan's user id.
    "sw29_stream_full_attribution" -> ((s, dir) =>
      attributionGate(s, dir, "sw29", "full_outer")),

    // SW13 — foreachBatch incremental graph merge, the reference's
    // IAM-graph ingest made streaming: events arrive in TWO micro-batches
    // (the second an at-least-once REPLAY of every 5th event), each batch
    // upserting user vertices, event-type vertices, and user→type edges
    // through the same idempotent anti-join merge as the batch path
    // (A6/A9). The final census must equal the batch distinct counts —
    // replays cannot double-insert. Output: (part, n).
    "sw13_stream_graph_merge" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.Trigger
      val ev = events(s, dir).select(col("event_id"), col("user_id"), col("event_type"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-sw13").toString
      ev.coalesce(1).write.parquet(s"$tmp/in/b1")
      ev.filter(col("event_id") % 5 === 0).coalesce(1).write.parquet(s"$tmp/in/b2")
      val empty = PropertyGraph(
        Seq.empty[(Long, String, String, Map[String, String])]
          .toDF("id", "label", "key", "props"),
        Seq.empty[(Long, Long, String, Int)].toDF("src", "dst", "label", "weight"))
      val state = new streaming.EventPipeline.GraphState(empty)
      withConfs(s, "spark.sql.shuffle.partitions" -> "8") {
        val q = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1") // force the replay into its own batch
          .parquet(s"$tmp/in/*")
          .writeStream
          .option("checkpointLocation", s"$tmp/ck")
          .foreachBatch(streaming.EventPipeline.graphMergeBatch(state, 8L * B, 9L * B) _)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val g = state.graph
      g.vertices.groupBy(col("label")).agg(count(lit(1)).as("n"))
        .select(col("label").as("part"), col("n"))
        .unionByName(g.edges.agg(count(lit(1)).as("n"))
          .select(lit("in_edges").as("part"), col("n")))
    }),

    // SW14 — incremental count-min maintenance: the events stream splits
    // into two DISJOINT micro-batches whose (r, b, c) cell increments
    // merge additively into O(depth·width) running state — CMS is linear,
    // so the final sketch equals the batch sketch of the whole stream,
    // which is exactly what the oracle computes. Per-type estimates probe
    // min-over-depth with the exact count in-row (the cd5 read-out shape).
    "sw14_stream_countmin" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val ev = events(s, dir).select(col("event_id"), col("event_type"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-sw14").toString
      ev.filter(col("event_id") % 2 === 0).coalesce(1).write.parquet(s"$tmp/in/b1")
      ev.filter(col("event_id") % 2 =!= 0).coalesce(1).write.parquet(s"$tmp/in/b2")
      val state = new streaming.EventPipeline.CmState(
        Seq.empty[(Int, Long, Long)].toDF("r", "b", "c"))
      withConfs(s, "spark.sql.shuffle.partitions" -> "8") {
        val q = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$tmp/in/*")
          .writeStream
          .option("checkpointLocation", s"$tmp/ck")
          .foreachBatch(
            streaming.EventPipeline.cmMergeBatch(state, "event_type", 4, 16) _)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val probe = operators.Sketch.cmsCells(
        ev.select(col("event_type")).distinct(), "event_type", 4, 16)
      val est = probe.join(broadcast(state.cells), Seq("r", "b"))
        .groupBy(col("k")).agg(min(col("c")).as("est_count"))
      val exact = ev.groupBy(col("event_type").as("k"))
        .agg(count(lit(1)).as("exact_count"))
      est.join(exact, Seq("k"))
        .select(col("k").as("event_type"), col("est_count"), col("exact_count"))
    }),
  )

  /** The batch gaps-and-islands twin both streaming sessionize gates
    * (sw15 flatMapGroupsWithState, sw24 transformWithState) must equal. */
  private val sessionizeOracleSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, date_trunc('milliseconds', ts) AS ts FROM events),
      |o AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      |  FROM ev),
      |s AS (
      |  SELECT user_id, ts,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM o)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events
      |FROM s GROUP BY user_id, session_id""".stripMargin

  /** The watermark-join attribution gate, shared by sw18 (left_outer)
    * and sw29 (full_outer): clicks and purchases replay as separate
    * mtime-ordered file streams, each followed by ONE far-future
    * sentinel batch (outer rows only emit once the watermark proves the
    * other side is done, and the watermark is the min over both inputs,
    * so BOTH sides need the push; the batch that EVICTS with the
    * advanced watermark is the engine's no-data batch — see the inline
    * comment at the staging site). Sentinel rows carry user_id −1 and
    * are filtered from the result. */
  private def attributionGate(s: SparkSession, dir: String,
                              prefix: String, joinType: String): DataFrame = Cuts.released {
    import org.apache.spark.sql.streaming.Trigger
    import s.implicits._
    // cut: one events scan feeds the maxTs aggregate and both side stages
    // (was 3 scans + 6 write jobs; each side now stages in ONE
    // stageReplayFeed job, data + the two watermark sentinels)
    val ev = Cuts.cut(events(s, dir), eager = false)
    val tmp = java.nio.file.Files.createTempDirectory(s"graft-$prefix").toString
    val clicks = ev.filter(col("event_type") === "click").select(col("user_id"), col("ts"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val cDir = java.nio.file.Paths.get(tmp, "clicks")
    val bDir = java.nio.file.Paths.get(tmp, "buys")
    val maxTs = ev.agg(max(col("ts"))).as[java.sql.Timestamp].head()
    def sentTs(days: Int) = new java.sql.Timestamp(maxTs.getTime + days * 86400000L)
    // ONE sentinel batch per side (optimization round 17; was two): the
    // sentinel advances the watermark past every click's deadline, and
    // the batch that EVICTS with that watermark is the no-data batch
    // MicroBatchExecution appends when a stateful op's
    // shouldRunAnotherBatch sees the advanced watermark
    // (spark.sql.streaming.noDataMicroBatches.enabled, default true —
    // pinned here so a session-level override can't silently drop the
    // outer rows). Drops one staged file, one micro-batch and one
    // state-store load cycle per side; parity green on repeated runs
    // (the no-data batch is part of the engine's termination contract:
    // AvailableNow only stops once no stateful op requests another
    // batch).
    stageReplayFeed(cDir, Seq(clicks,
      Seq((-1L, sentTs(10))).toDF("user_id", "ts")))
    stageReplayFeed(bDir, Seq(buys,
      Seq((-1L, sentTs(10), 0.0)).toDF("user_id", "ts", "value")))
    val joined = streaming.EventPipeline.clickAttribution(
      s.readStream.schema(clicks.schema).option("maxFilesPerTrigger", "1").parquet(cDir.toString),
      s.readStream.schema(buys.schema).option("maxFilesPerTrigger", "1").parquet(bDir.toString),
      watermark = "1 hour", joinWindow = "30 minutes", joinType = joinType)
    val name = s"${prefix}_out_${sinkSeq.incrementAndGet()}"
    // Provider A/B (optimization round 17, recorded): RocksDB + changelog
    // on the join state measured sw18 4.34 s / sw29 3.89 s vs 3.76 s both
    // on the default provider, same window — 4 stores × 8 partitions ×
    // per-batch instantiation is where RocksDB loses at gate volume
    // (unlike the TWS gates, whose state-v2 API requires it). Default
    // provider kept; at deployment state volume the trade reverses with
    // state size, not with this code.
    withConfs(s, "spark.sql.streaming.noDataMicroBatches.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "8") {
      val q = joined.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$tmp/ck")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    s.table(name).filter(col("user_id") >= 0)
      .select(col("user_id"), col("click_ts"), col("purchase_ts"), col("value"))
  }

  val oracleSql: Map[String, String] = Map(

    "sw8_active_users" ->
      """WITH p AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM p GROUP BY day),
        |days AS (SELECT DISTINCT day FROM p),
        |r AS (SELECT d.day, count(DISTINCT p.user_id) AS rolling_active
        |  FROM days d JOIN p ON p.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
        |  GROUP BY d.day),
        |fs AS (SELECT min(day) AS day, user_id FROM p GROUP BY user_id),
        |nn AS (SELECT day, count(*) AS n_new FROM fs GROUP BY day)
        |SELECT dau.day, dau.dau, r.rolling_active,
        |  coalesce(nn.n_new, 0) AS n_new,
        |  CAST(sum(coalesce(nn.n_new, 0)) OVER (ORDER BY dau.day) AS BIGINT) AS cum_users
        |FROM dau JOIN r USING (day) LEFT JOIN nn USING (day)""".stripMargin,

    "sw9_trending" ->
      """WITH h AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type,
        |  count(*) AS cnt FROM events GROUP BY 1, 2)
        |SELECT ws, event_type, cnt, rank FROM (
        |  SELECT ws, event_type, cnt,
        |    CAST(row_number() OVER (PARTITION BY ws ORDER BY cnt DESC, event_type) AS BIGINT) AS rank
        |  FROM h) WHERE rank <= 3""".stripMargin,

    // The per-key recursion replayed as a recursive CTE over the hour
    // index: same milli init, same sign-explicit truncating quarter-step.
    "sw17_ewma" ->
      """WITH RECURSIVE h AS (SELECT event_type,
        |  time_bucket(INTERVAL 1 HOUR, ts) AS ws, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, ws, cnt,
        |  row_number() OVER (PARTITION BY event_type ORDER BY ws) AS i FROM h),
        |ew(event_type, i, ws, cnt, s) AS (
        |  SELECT event_type, i, ws, cnt, cnt * 1000 FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.i, idx.ws, idx.cnt,
        |    CASE WHEN idx.cnt * 1000 >= ew.s
        |      THEN ew.s + (idx.cnt * 1000 - ew.s) // 4
        |      ELSE ew.s - (ew.s - idx.cnt * 1000) // 4 END
        |  FROM ew JOIN idx ON idx.event_type = ew.event_type AND idx.i = ew.i + 1)
        |SELECT event_type, ws, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(s AS BIGINT) AS ewma_milli FROM ew""".stripMargin,

    "sw10_anomaly" ->
      """WITH h AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type,
        |  count(*) AS cnt FROM events GROUP BY 1, 2),
        |s AS (SELECT ws, event_type, cnt,
        |  count(*) OVER w AS n, sum(cnt) OVER w AS sx, sum(cnt * cnt) OVER w AS sxx
        |  FROM h WINDOW w AS (PARTITION BY event_type ORDER BY ws
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT ws, event_type, cnt,
        |  CASE WHEN n * sxx - sx * sx > 0
        |       THEN CAST(floor((cnt * n - sx) / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |         * 1000000) AS BIGINT) END AS z_micro
        |FROM s WHERE n >= 12""".stripMargin,

    // the streamed ingest must land exactly the batch rows — same formula
    "sw22_stream_paged_ingest" -> pagedFixtureOracleSql,

    // minted-credential streaming: token mint/expiry/refresh across
    // micro-batches must be invisible in the rows — b01's formula again
    "sw27_stream_oauth_ingest" -> pagedFixtureOracleSql,

    // the stream's final per-type membership count must equal the exact
    // batch distinct
    "sw25_stream_tws_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,

    // the stream's final recency window must equal the batch top-5 by
    // (µs-truncated event time, event_id) descending — the same µs
    // ordering the Spark side's unix_micros feed uses
    "sw26_stream_tws_lastk" ->
      """WITH r AS (SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events),
        |k AS (SELECT user_id, string_agg(event_type, ',' ORDER BY rn) AS recent
        |  FROM r WHERE rn <= 5 GROUP BY user_id),
        |c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id)
        |SELECT c.user_id, c.cnt, k.recent FROM c JOIN k USING (user_id)""".stripMargin,

    // phase-1 emits count the even half; phase-2 emits must count the
    // odd half ALONE — accumulated state expired across the sleep. A
    // TTL that failed to expire would emit even+odd for every dual-half
    // user and hash-mismatch here.
    "sw28_stream_tws_ttl" ->
      """SELECT user_id, 1 AS phase, count(*) AS cnt FROM events
        |WHERE event_id % 2 = 0 GROUP BY user_id
        |UNION ALL
        |SELECT user_id, 2 AS phase, count(*) AS cnt FROM events
        |WHERE event_id % 2 = 1 GROUP BY user_id""".stripMargin,

    // the stream's final per-user state must equal the batch aggregate
    "sw23_stream_tws_totals" ->
      s"""SELECT user_id, count(*) AS cnt,
         |  CAST(sum(${centsSql("value")}) AS DOUBLE) / 100.0 AS sum_value
         |FROM events GROUP BY user_id""".stripMargin,

    "sw7_abtest" -> {
      val p = "(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))"
      s"""WITH f AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events
         |  WHERE event_type IN ('view', 'purchase')),
         |e1 AS (SELECT user_id, min(us) AS t1 FROM f WHERE event_type = 'view' GROUP BY user_id),
         |pu AS (SELECT f.user_id,
         |  max(CASE WHEN event_type = 'purchase' AND us > t1 AND us <= t1 + 3600000000
         |      THEN 1 ELSE 0 END) AS conv
         |  FROM f JOIN e1 USING (user_id) GROUP BY f.user_id),
         |ar AS (SELECT ${md5i("CAST(user_id AS VARCHAR)")} % 2 AS arm, conv FROM pu),
         |ag AS (SELECT arm, count(*) AS n, CAST(sum(conv) AS BIGINT) AS k FROM ar GROUP BY arm),
         |a AS (SELECT n AS n_a, k AS conv_a FROM ag WHERE arm = 0),
         |b AS (SELECT n AS n_b, k AS conv_b FROM ag WHERE arm = 1)
         |SELECT n_a, conv_a, n_b, conv_b,
         |  CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b THEN
         |    CAST(floor((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
         |      / sqrt($p * (1.0 - $p) * (1.0 / n_a + 1.0 / n_b)) * 1000000) AS BIGINT)
         |  ELSE NULL END AS z_micro
         |FROM a, b""".stripMargin
    },

    "sw6_transitions" ->
      """WITH o AS (SELECT user_id, event_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |b AS (SELECT event_type AS from_type, next_type AS to_type, count(*) AS cnt
        |  FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, sum(cnt) AS tot FROM b GROUP BY from_type)
        |SELECT from_type, to_type, cnt, CAST(cnt * 1000000 // tot AS BIGINT) AS p_micro
        |FROM b JOIN t USING (from_type)""".stripMargin,

    "sw5_retention" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY user_id)
        |SELECT cohort, CAST(date_diff('day', cohort, day) AS INTEGER) AS offset,
        |  count(*) AS n_users
        |FROM d JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin,

    "sw4_funnel" ->
      """WITH f AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |           WHERE event_type IN ('view', 'click', 'purchase')),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM f WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT f.user_id, min(us) AS t2 FROM f JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND us > t1 AND us <= t1 + 3600000000 GROUP BY f.user_id),
        |s3 AS (SELECT f.user_id, min(us) AS t3 FROM f JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > t2 AND us <= t1 + 3600000000 GROUP BY f.user_id),
        |d AS (SELECT s1.user_id,
        |        CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS depth
        |      FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id))
        |SELECT CAST(depth AS BIGINT) AS depth, count(*) AS n_users FROM d GROUP BY depth""".stripMargin,

    // the deduped stream must be exactly the batch table: replayed rows
    // were exact copies, so dedup-by-event_id restores the original set
    "sw11_stream_dedup" ->
      "SELECT event_id, user_id, event_type, ts, value FROM events",

    // the inner stream-stream interval join emits exactly the batch join
    "sw12_stream_attribution" ->
      """SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts, p.value
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""".stripMargin,

    // the left_outer form: every click emits; the sentinel batches on the
    // Spark side force full outer-row eviction, so plain LEFT JOIN is the
    // exact equivalent.
    "sw18_stream_left_attribution" ->
      """WITH c AS (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS purchase_ts, value FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, c.click_ts, p.purchase_ts, p.value
        |FROM c LEFT JOIN p ON p.user_id = c.user_id
        |  AND p.purchase_ts >= c.click_ts
        |  AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE""".stripMargin,

    // the batch FULL JOIN: matched attributions, unconverted clicks
    // (purchase NULL) AND orphan purchases (click NULL) — row for row
    "sw29_stream_full_attribution" ->
      """WITH c AS (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS purchase_ts, value FROM events WHERE event_type = 'purchase')
        |SELECT COALESCE(c.user_id, p.user_id) AS user_id,
        |  c.click_ts, p.purchase_ts, p.value
        |FROM c FULL JOIN p ON p.user_id = c.user_id
        |  AND p.purchase_ts >= c.click_ts
        |  AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE""".stripMargin,

    // CMS linearity: the two-micro-batch sketch equals the batch sketch
    // (Kirsch–Mitzenmacher cells, mirrors the cd5 oracle's cell formula)
    "sw14_stream_countmin" ->
      s"""WITH hh0 AS (SELECT event_type AS k, ${md5i("event_type")} AS hh FROM events),
         |cells AS (SELECT k, r,
         |    (hh % 1073741824 + r * ((hh // 1073741824) | 1)) % 16 AS b
         |  FROM hh0 CROSS JOIN generate_series(0, 3) g(r)),
         |sk AS (SELECT r, b, count(*) AS c FROM cells GROUP BY r, b),
         |probe AS (SELECT DISTINCT k, r, b FROM cells),
         |est AS (SELECT k, min(c) AS est_count FROM probe JOIN sk USING (r, b) GROUP BY k),
         |ex AS (SELECT event_type AS k, count(*) AS exact_count FROM events GROUP BY 1)
         |SELECT k AS event_type, est_count, exact_count FROM est JOIN ex USING (k)""".stripMargin,

    // idempotent replay: the merged graph census equals batch DISTINCT
    "sw13_stream_graph_merge" ->
      """SELECT 'user' AS part, count(DISTINCT user_id) AS n FROM events
        |UNION ALL SELECT 'eventType', count(DISTINCT event_type) FROM events
        |UNION ALL SELECT 'in_edges', count(*) FROM
        |  (SELECT DISTINCT user_id, event_type FROM events)""".stripMargin,

    "sw1_tumbling_window" ->
      s"""SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type,
        |count(*) AS cnt, CAST(sum(${centsSql("value")}) AS DOUBLE) / 100 AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // CUSUM fold replayed recursively; the reference mean is the same
    // exact integer division on both engines.
    "sw21_cusum" ->
      """WITH RECURSIVE h AS (SELECT event_type,
        |  time_bucket(INTERVAL 1 HOUR, ts) AS ws, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, sum(cnt) * 1000 // count(*) AS ref FROM h GROUP BY 1),
        |idx AS (SELECT h.event_type, ws, cnt, ref,
        |  row_number() OVER (PARTITION BY h.event_type ORDER BY ws) AS i
        |  FROM h JOIN b ON b.event_type = h.event_type),
        |cu(event_type, i, ws, cnt, ref, s) AS (
        |  SELECT event_type, i, ws, cnt, ref,
        |    greatest(0, cnt * 1000 - ref - ref // 4) FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.i, idx.ws, idx.cnt, idx.ref,
        |    greatest(0, cu.s + idx.cnt * 1000 - idx.ref - idx.ref // 4)
        |  FROM cu JOIN idx ON idx.event_type = cu.event_type AND idx.i = cu.i + 1)
        |SELECT event_type, ws, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(s AS BIGINT) AS cusum_milli, (s > 5 * ref) AS alarm FROM cu""".stripMargin,

    // The two-state fold replayed as a recursive CTE: (l, b) carried
    // per (event_type, i); sign-split // matches Spark's div exactly.
    "sw20_holt_linear" -> {
      def sdiv(x: String, d: Int) =
        s"(CASE WHEN ($x) >= 0 THEN ($x) // $d ELSE -((-($x)) // $d) END)"
      val resid = "idx.cnt * 1000 - hw.l - hw.b"
      s"""WITH RECURSIVE h AS (SELECT event_type,
         |  time_bucket(INTERVAL 1 HOUR, ts) AS ws, count(*) AS cnt
         |  FROM events GROUP BY 1, 2),
         |idx AS (SELECT event_type, ws, cnt,
         |  row_number() OVER (PARTITION BY event_type ORDER BY ws) AS i FROM h),
         |hw(event_type, i, ws, cnt, l, b) AS (
         |  SELECT event_type, i, ws, cnt, cnt * 1000, CAST(0 AS BIGINT) FROM idx WHERE i = 1
         |  UNION ALL
         |  SELECT idx.event_type, idx.i, idx.ws, idx.cnt,
         |    hw.l + hw.b + ${sdiv(resid, 4)},
         |    hw.b + ${sdiv(sdiv(resid, 4), 8)}
         |  FROM hw JOIN idx ON idx.event_type = hw.event_type AND idx.i = hw.i + 1)
         |SELECT event_type, ws, CAST(cnt AS BIGINT) AS cnt,
         |  CAST(l AS BIGINT) AS level_milli, CAST(b AS BIGINT) AS trend_milli,
         |  CAST(l + b AS BIGINT) AS forecast_milli FROM hw""".stripMargin
    },

    "sw19_seasonal_profile" ->
      """WITH hourly AS (SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS ws,
        |  count(*) AS cnt FROM events GROUP BY 1, 2),
        |h AS (SELECT event_type, ws, cnt,
        |  CAST(extract(hour FROM ws) AS BIGINT) AS hod FROM hourly),
        |b AS (SELECT event_type, hod, sum(cnt) AS slot_total,
        |  count(*) AS slot_n FROM h GROUP BY 1, 2)
        |SELECT h.event_type, h.ws, h.hod, CAST(h.cnt AS BIGINT) AS cnt,
        |  CAST(h.cnt * b.slot_n * 1000000 // b.slot_total AS BIGINT) AS ratio_micro
        |FROM h JOIN b ON h.event_type = b.event_type AND h.hod = b.hod
        |WHERE h.cnt * b.slot_n * 1000000 // b.slot_total >= 2000000""".stripMargin,

    "sw2_sliding_window" ->
      """SELECT ws, event_type, count(*) AS cnt FROM (
        |  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR, event_type FROM events)
        |GROUP BY ws, event_type""".stripMargin,

    "sw16_stream_enrich" ->
      """SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment AS segment
        |FROM events e JOIN customer c ON c.c_custkey = e.user_id""".stripMargin,

    // The batch gaps-and-islands twin over ms-truncated timestamps —
    // the sentinel batches guarantee the stream emitted EVERY session.
    "sw15_stream_sessionize" -> sessionizeOracleSql,

    // identical semantics on the state-v2 API: same batch twin
    "sw24_stream_tws_sessionize" -> sessionizeOracleSql,

    "sw3_session_window" ->
      """WITH o AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM o)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  min(ts) AS session_start, max(ts) AS session_end, count(*) AS n_events
        |FROM s GROUP BY user_id, session_id""".stripMargin,
  )
}
