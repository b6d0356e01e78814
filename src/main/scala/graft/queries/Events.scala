package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.Session
import graft.ops.EventWindows
import Tables.{t, events => eventsT}

/** Event-stream query surface: tumbling/sliding/session windows + JSON props
  * extraction. Batch forms here (oracle-checkable); streaming forms with
  * watermarks in graft.streaming.StreamingWindows share the same operators.
  */
object Events {

  type Q = (SparkSession, String) => DataFrame

  /** File-stream read of the events table. A file stream needs an explicit
    * schema, and the physical ts type varies by testdata generation (raw
    * nanos LONG vs native timestamp — see Tables.events), so derive the
    * stream schema from a batch read of the same footer and apply the same
    * ts canonicalization.
    */
  private def rawEventStream(s: SparkSession, dir: String): DataFrame = {
    Session.prepare(s)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Layout-aware (file vs replica directory) stream; schema probed from
    // the batch footer, then the same ts canonicalization as Tables.events.
    Tables.normalizeTs(Tables.streamT(s, dir, "events"))
  }

  val queries: Map[String, Q] = Map(
    "e1_tumbling" -> ((s, dir) =>
      EventWindows.tumbling(eventsT(s, dir), "15 minutes")),

    "e2_sliding" -> ((s, dir) =>
      EventWindows.sliding(eventsT(s, dir), "1 hour", "15 minutes")),

    "e3_session" -> ((s, dir) =>
      EventWindows.sessions(eventsT(s, dir), gapMinutes = 30)
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")),

    // Structured Streaming execution of the tumbling window: same result as
    // e1 (and the same oracle), produced incrementally through a stream +
    // memory sink. Proves the streaming path inside the driver gate.
    "e5_streaming_tumbling" -> ((s, dir) =>
      graft.streaming.StreamingWindows.withStatePartitions(s, 4) {
        val agg = graft.streaming.StreamingWindows.tumbling(
          rawEventStream(s, dir), "15 minutes", "1 hour")
        graft.streaming.StreamingWindows.runToMemory(agg, "e5_mem")
      }),

    // Custom whole-operator extension (AsOfJoin LogicalPlan + Strategy +
    // Exec): for every purchase, the user's most recent click at-or-before
    // it. Ties on click ts break by max event_id (deterministic).
    "aj1_asof_join" -> ((s, dir) => {
      val ev = eventsT(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      graft.ops.AsOf.joinBackward(purchases, clicks,
          on = Seq("user_id"), leftTimeCol = "ts", rightTimeCol = "ts",
          tiebreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("ts"),
          round(col("value"), 3).as("purchase_value"),
          col("ts_r").as("click_ts"),
          round(col("value_r"), 3).as("click_value"))
    }),

    // Forward direction: each click's NEXT purchase within 2 hours.
    // Salted join end-to-end: the explicit skew path (ops/Skew.saltedJoin —
    // big side salted deterministically, small side replicated per salt)
    // must produce EXACTLY the rows of the plain join; the oracle is that
    // plain join. The salt itself is partition-dependent, but it only
    // routes rows — every big row meets its dim row exactly once — so the
    // aggregated output is deterministic.
    "j6_salted_join" -> ((s, dir) => {
      val ev = eventsT(s, dir).select("event_id", "user_id", "value")
      val dim = ev.groupBy("user_id").agg(count(lit(1)).as("user_n"))
      graft.ops.Skew.saltedJoin(ev, dim, "user_id", salts = 8)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_rows"),
          round(sum("value"), 3).as("sum_value"),
          max("user_n").as("user_n"))
    }),

    // The as-of SQL surface: the graft_asof marker inside an ordinary
    // LEFT JOIN condition, rewritten to the AsOfJoin operator by
    // RewriteAsOfMarkerJoin (plans/AsOfSql.scala). Output keeps only the
    // matched click TIME — tie-insensitive (the marker form takes no
    // tiebreak column), so it is deterministic cross-engine.
    "aj4_asof_sql" -> ((s, dir) => {
      val ev = eventsT(s, dir)
      ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
        .createOrReplaceTempView("aj4_purchases")
      ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .createOrReplaceTempView("aj4_clicks")
      s.sql(
        """SELECT p.event_id, p.user_id, p.ts, c.c_ts AS click_ts
          |FROM aj4_purchases p LEFT JOIN aj4_clicks c
          |  ON p.user_id = c.c_user AND graft_asof(p.ts, c.c_ts)
          |""".stripMargin)
    }),

    "aj3_asof_forward" -> ((s, dir) => {
      val ev = eventsT(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      graft.ops.AsOf.joinForward(clicks, purchases,
          on = Seq("user_id"), leftTimeCol = "ts", rightTimeCol = "ts",
          tiebreak = Seq("event_id"),
          toleranceMicros = Some(2L * 3600 * 1000000))
        .agg(count(lit(1)).as("n_total"),
          count(col("ts_r")).as("n_matched"),
          round(avg(unix_micros(col("ts_r")) - unix_micros(col("ts"))), 6)
            .as("avg_gap_us"))
    }),

    // NEAREST-either-direction as-of: each purchase's closest click in
    // TIME, past or future (tie → the earlier click) — the sensor-fusion
    // alignment mode joinBackward/joinForward each cover half of. One
    // backward + one forward as-of join composed by gap comparison; the
    // signed gap column pins which side won.
    "aj5_asof_nearest" -> ((s, dir) => {
      val ev = eventsT(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      graft.ops.AsOf.joinNearest(purchases, clicks,
          on = Seq("user_id"), leftTimeCol = "ts", rightTimeCol = "ts",
          keyCols = Seq("event_id"), tiebreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("ts_r").as("click_ts"),
          (unix_micros(col("ts_r")) - unix_micros(col("ts"))).as("gap_us"))
    }),

    // Same operator with a 30-minute tolerance; aggregated match stats.
    "aj2_asof_tolerance" -> ((s, dir) => {
      val ev = eventsT(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      graft.ops.AsOf.joinBackward(purchases, clicks,
          on = Seq("user_id"), leftTimeCol = "ts", rightTimeCol = "ts",
          tiebreak = Seq("event_id"),
          toleranceMicros = Some(30L * 60 * 1000000))
        .agg(count(lit(1)).as("n_total"),
          count(col("ts_r")).as("n_matched"),
          round(avg(unix_micros(col("ts")) - unix_micros(col("ts_r"))), 6)
            .as("avg_gap_us"))
    }),

    // Custom-state streaming: flatMapGroupsWithState sessionization with
    // event-time timeouts; emits each session exactly once when the
    // watermark proves it closed. Oracle = batch sessions restricted to
    // ones closed at the final (ms-truncated) watermark.
    "e6_stateful_sessions" -> ((s, dir) =>
      graft.streaming.StreamingWindows.withStatePartitions(s, 4) {
        val sess = graft.streaming.StatefulSessions.sessions(
          rawEventStream(s, dir), gapMinutes = 30)
        val emitted = graft.streaming.StreamingWindows.runToMemory(sess,
          "e6_mem", org.apache.spark.sql.streaming.OutputMode.Append())
        // Held-back-tail witness: sessions still open at the final
        // watermark are deliberately NOT emitted (append-mode contract);
        // n_open_at_end = batch-total − emitted pins that delta as an
        // output column, so the oracle proves the missing rows are exactly
        // the watermark-open tail, not dropped data. Two one-row
        // aggregates, broadcast (the t5 bounded shape).
        val total = EventWindows.sessions(eventsT(s, dir), gapMinutes = 30)
          .agg(count(lit(1)).as("_total"))
        val emittedN = emitted.agg(count(lit(1)).as("_emitted"))
        emitted.crossJoin(broadcast(total)).crossJoin(broadcast(emittedN))
          .withColumn("n_open_at_end",
            (col("_total") - col("_emitted")).cast("int"))
          .drop("_total", "_emitted")
      }),

    // Streaming exact dedup: watermark-bounded first-per-key over
    // (user_id, event_type) — the continuous-ingest member of the dedup
    // family (re-crawled duplicates dropped as they arrive, per-key state
    // expiring with the watermark). The gate surface is the KEY SET (which
    // physical row arrives first per key is partition-order-dependent;
    // the set of keys is not), and the 90-day horizon exceeds the
    // corpus's 30-day span, so the stream's output is exactly the batch
    // distinct the oracle computes.
    "e7_streaming_dedup" -> ((s, dir) =>
      graft.streaming.StreamingWindows.withStatePartitions(s, 4) {
        val deduped = graft.streaming.StreamingDedup.distinctKeysBounded(
          rawEventStream(s, dir), "ts", "90 days", Seq("user_id", "event_type"))
        graft.streaming.StreamingWindows.runToMemory(deduped, "e7_mem",
          org.apache.spark.sql.streaming.OutputMode.Append())
      }),

    // Watermarked stream-stream interval join — the streaming form of the
    // range join, in the canonical attribution shape: each purchase pairs
    // to the same user's clicks in the preceding 10 minutes, matched
    // incrementally with per-side watermarks bounding the join state (at
    // cluster scale each side buffers only its horizon, never the full
    // history; the type filters push down to the scan so each side reads
    // a fifth of the corpus). The memory-sink pairs are then
    // batch-aggregated, and the oracle is the equivalent batch interval
    // join — the streaming path must reproduce it bit-for-bit.
    "e8_stream_join" -> ((s, dir) => {
      // 4 state partitions, not 8: the interval join runs FOUR stores per
      // partition per microbatch (left/right × keyToNumValues/
      // keyWithIndexToValue), so its per-batch store-lifecycle cost is 4x
      // the single-store aggregations' — half the partitions at smoke
      // scale, same keys-per-horizon sizing rule at cluster scale.
      val sunk = graft.streaming.StreamingWindows.withStatePartitions(s, 4) {
        val clicks = rawEventStream(s, dir)
          .filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("c_ts"))
          .withWatermark("c_ts", "90 days")
        val purchases = rawEventStream(s, dir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
          .withWatermark("p_ts", "90 days")
        val pairs = clicks.join(purchases,
          expr("""user_id = p_user AND p_ts > c_ts
                 |AND p_ts <= c_ts + interval 10 minutes""".stripMargin))
          .select(col("user_id"),
            (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
        graft.streaming.StreamingWindows.runToMemory(pairs, "e8_mem",
          org.apache.spark.sql.streaming.OutputMode.Append())
      }
      sunk.groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("gap_us")), 6).as("avg_gap_us"))
    }),

    // Binned range self-join: same-user event pairs within 10 minutes,
    // as an equi-join on (user, time-bucket) — never a nested-loop.
    "rj1_range_pairs" -> ((s, dir) =>
      graft.ops.RangeJoin.pairsWithin(eventsT(s, dir),
          keyCol = "user_id", tsCol = "ts", idCol = "event_id",
          windowMicros = 10L * 60 * 1000000)
        .groupBy("k")
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("gap_us")), 6).as("avg_gap_us"))
        .select(col("k").as("user_id"), col("n_pairs"), col("avg_gap_us"))),

    // Time-series regularization: per-user daily mean resample, dense
    // date spine, linear interpolation of interior gaps (the distributed
    // form of the reference's dense-365-vector assembly). Partitioned per
    // user — no global window, survives millions of keys.
    "ts1_gap_fill" -> ((s, dir) =>
      graft.ops.TimeSeries.gapFillDaily(eventsT(s, dir),
        keyCol = "user_id", tsCol = "ts", valCol = "value")),

    // Trailing 7-day rolling stats + 2σ anomaly flag over the daily
    // series — RANGE frame on calendar days (gaps shrink the window),
    // partitioned per user.
    "ts2_rolling_stats" -> ((s, dir) =>
      graft.ops.TimeSeries.rollingDailyStats(eventsT(s, dir),
        keyCol = "user_id", tsCol = "ts", valCol = "value", windowDays = 7)),

    // Integer EWMA trend baseline over the daily series (α = 3/10):
    // the geometric-forgetting counterpart of ts2's rolling window. The
    // recurrence runs in offset BIGINTs, so the smoothed series — not
    // just the inputs — is bit-identical cross-engine.
    "ts3_ewma" -> ((s, dir) =>
      graft.ops.TimeSeries.ewmaDaily(eventsT(s, dir),
        keyCol = "user_id", tsCol = "ts", valCol = "value")),

    // ONE-SIDED CUSUM drift detection (Page 1954) per user — the
    // change-point complement of ts2's local 2σ spikes: a small
    // persistent mean shift ramps the cumulative statistic past the
    // self-scaling (max−min) threshold. All-BIGINT recurrence (the ts3
    // discipline); one summary row per user.
    "ts5_cusum" -> ((s, dir) =>
      graft.ops.TimeSeries.cusumDaily(eventsT(s, dir),
        keyCol = "user_id", tsCol = "ts", valCol = "value", hMult = 1)),

    // LONG-HISTORY EWMA — ts3's recurrence with the per-key fold chunked
    // into fixed windows and the chunks folded sequentially through the
    // seeded `_s_off` carry (O(d·chunk) instead of O(d²)). chunkDays = 7
    // folds the one-month fixture through ~5 carry hand-offs; the oracle
    // is the UNCHUNKED full recurrence, so one lost or double-counted
    // hand-off flips the series.
    "ts6_ewma_chunked" -> ((s, dir) =>
      graft.ops.TimeSeries.ewmaDailyChunked(eventsT(s, dir),
        keyCol = "user_id", tsCol = "ts", valCol = "value", chunkDays = 7)),

    // ts6 with the PRODUCTION chunk length (365 days — the config a
    // multi-year corpus runs; ts6's 7-day chunks exist to force ~5 carry
    // hand-offs through the one-month fixture). One chunk at fixture
    // scale, ~one per year at scale; same unchunked-recurrence oracle.
    "ts8_ewma_chunked_yearly" -> ((s, dir) =>
      graft.ops.TimeSeries.ewmaDailyChunked(eventsT(s, dir),
        keyCol = "user_id", tsCol = "ts", valCol = "value",
        chunkDays = 365)),

    // LONG-HISTORY CUSUM — ts5's recurrence in the same chunked form: μ
    // and the threshold are one up-front keyed aggregate over the full
    // history, then the S⁺ folds hand a five-field carry (statistic,
    // peak, alarm count, first alarm) across ~5 chunks. Oracle = the
    // unchunked recurrence.
    "ts7_cusum_chunked" -> ((s, dir) =>
      graft.ops.TimeSeries.cusumDailyChunked(eventsT(s, dir),
        keyCol = "user_id", tsCol = "ts", valCol = "value", hMult = 1,
        chunkDays = 7)),

    // AUTO-ROUTED long-history EWMA — the ts6/ts8 crossover rule as a
    // declarative gate: chunked iff max per-key span > chunkDays × 2
    // (spanMult from the measured 0.7×-at-365d / 3.3×-at-3650d
    // crossover). Run at BOTH operating points over the one-month
    // fixture — chunkDays=7 (span ≈ 30 > 14 → routes CHUNKED) and
    // chunkDays=365 (30 < 730 → routes UNCHUNKED) — so one hash gates
    // both routing directions AND the regime identity (both must emit
    // the identical recurrence). The chosen mode + measured span ride
    // along as columns, c5's chosen-rung discipline.
    "ts9_ewma_auto" -> ((s, dir) => {
      // ONE daily aggregate feeds both operating points (and each point's
      // span probe + fold) — the raw events are scanned once, not once
      // per probe per point (guide §1.2).
      val daily = graft.engine.Caches.persisted(
        graft.ops.TimeSeries.dailyE6(eventsT(s, dir),
          keyCol = "user_id", tsCol = "ts", valCol = "value"))
      def at(chunkDays: Int) =
        graft.ops.TimeSeries.ewmaDailyAutoFromDaily(daily,
          keyCol = "user_id", chunkDays = chunkDays)
          .withColumn("chunk_days", lit(chunkDays))
      at(7).unionByName(at(365))
    }),

    // ts9's routing rule on the CUSUM family — one declarative gate now
    // routes BOTH long-history fold families; same both-operating-points
    // witness shape (7-day chunks route chunked over the one-month
    // fixture, 365-day unchunked) and both regimes must emit the
    // identical summary rows.
    "ts10_cusum_auto" -> ((s, dir) => {
      // The ts9 sharing discipline: one daily aggregate for both points.
      val daily = graft.engine.Caches.persisted(
        graft.ops.TimeSeries.dailyE6(eventsT(s, dir),
          keyCol = "user_id", tsCol = "ts", valCol = "value"))
      def at(chunkDays: Int) =
        graft.ops.TimeSeries.cusumDailyAutoFromDaily(daily,
          keyCol = "user_id", chunkDays = chunkDays)
          .withColumn("chunk_days", lit(chunkDays))
      at(7).unionByName(at(365))
    }),

    // STATEFUL INCREMENTAL ANALYTICS across micro-batches — the
    // store-lifecycle pattern (e9–e14 maintain signature/vector/doc
    // stores) applied to NUMERIC state: the event history arrives as two
    // date-ordered micro-batch phases (the e10 multi-batch shape), each
    // folds its days through the seeded integer-EWMA recurrence on top
    // of the standing per-user state, and the handed-off state seeds the
    // next phase. Gate: the unioned per-day output must hash-equal ts3's
    // FULL-HISTORY recurrence — one lost or double-counted hand-off
    // flips the smoothed series. (Phases split on the observed midpoint
    // date, so every key's later days arrive in the later phase — the
    // precondition for a lossless EWMA hand-off.)
    "e15_stream_ewma" -> ((s, dir) => {
      import graft.ops.TimeSeries
      val ev = eventsT(s, dir)
      val b = ev.agg(to_date(min(col("ts"))).as("d0"),
        to_date(max(col("ts"))).as("d1")).head()
      val mid = new java.sql.Date(b.getDate(0).getTime
        + (b.getDate(1).getTime - b.getDate(0).getTime) / 2)
      var state: DataFrame = null
      var rows: DataFrame = null
      def fold(batch: DataFrame, id: Long): Unit = {
        val daily = TimeSeries.dailyE6(batch, "user_id", "ts", "value")
        val st =
          if (state != null) state
          else daily.select(col("user_id"),
            lit(null).cast("long").as("_s_off")).limit(0)
        val r = TimeSeries.ewmaDailySeeded(daily, st, "user_id")
          .localCheckpoint()
        // New standing state: each key's max-date row, still in
        // offset space; keys untouched this phase keep their state.
        val latest = r.groupBy("user_id")
          .agg(max(struct(col("d"), col("_ewma_off"))).as("m"))
          .select(col("user_id"), col("m._ewma_off").as("_s_off"))
        state =
          (if (state == null) latest
           else latest.unionByName(
             state.join(latest, Seq("user_id"), "left_anti")))
            .localCheckpoint()
        rows = if (rows == null) r else rows.unionByName(r)
      }
      val stream = rawEventStream(s, dir)
      graft.streaming.StreamingWindows.runPhase(
        stream.filter(to_date(col("ts")) <= lit(mid)), "e15a", 0)(fold)
      graft.streaming.StreamingWindows.runPhase(
        stream.filter(to_date(col("ts")) > lit(mid)), "e15b", 1)(fold)
      rows.select("user_id", "d", "v_e6", "ewma_e6")
    }),

    // WATERMARK FINALIZATION SEMANTICS under multi-batch late arrivals —
    // the append-mode contract e1–e8 never pin batch-to-batch: the event
    // history arrives as two files (maxFilesPerTrigger=1 → two
    // micro-batches, mtimes pin the order), phase split by event_id
    // parity so batch 2 carries rows far OLDER than the watermark the
    // batch runs under (probe-measured: batch 2's wm = max(batch-1 ts)
    // − 360 h). Spark's aggregation merges those late rows into their
    // still-live window state — eviction happens POST-merge at batch end
    // — so the gate proves three things at once: late-but-stateful rows
    // are counted (not dropped), every window the FINAL watermark passed
    // is emitted EXACTLY ONCE across the batch/no-data-batch sequence
    // (a re-emission would duplicate a key and flip the hash), and the
    // open tail past the final watermark is withheld, pinned by the
    // e6-style n_open_at_end witness column.
    "e16_watermark_late" -> ((s, dir) => {
      val stage = new java.io.File(Tables.scratch(
        "e16_stage_" + Tables.dirTag(dir)))
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(stage); stage.mkdirs()
      val ev = eventsT(s, dir)
        .select(col("event_id"), col("event_type"), col("ts"),
          expr("CAST(round(value * 1000, 0) AS BIGINT)").as("v_e3"))
      for (i <- 0 to 1) {
        val tmp = new java.io.File(stage, s"_tmp$i")
        ev.filter(pmod(col("event_id"), lit(2)) === i)
          .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
        val part = tmp.listFiles().find(f =>
          f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
        val dst = new java.io.File(stage, s"p$i.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(1700000000000L + i * 3600000L)
        rm(tmp)
      }
      val stream = s.readStream
        .schema(s.read.parquet(stage.getAbsolutePath).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage.getAbsolutePath)
      val agg = stream
        .withWatermark("ts", "360 hours")
        .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("v_e3").as("sum_v_e3"))
        .select(col("window.start").as("wstart"), col("event_type"),
          col("n"), col("sum_v_e3"))
      graft.streaming.StreamingWindows.withStatePartitions(s, 4) {
        val emitted = graft.streaming.StreamingWindows.runToMemory(agg,
          "e16_mem", org.apache.spark.sql.streaming.OutputMode.Append())
        val total = ev
          .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
          .agg(count(lit(1)).as("_n"))
          .agg(count(lit(1)).as("_total"))
        val emittedN = emitted.agg(count(lit(1)).as("_emitted"))
        emitted.crossJoin(broadcast(total)).crossJoin(broadcast(emittedN))
          .withColumn("n_open_at_end",
            (col("_total") - col("_emitted")).cast("int"))
          .drop("_total", "_emitted")
      }
    }),

    // ORDERED FUNNEL — the event-analytics staple: per user, first view,
    // first click at-or-after it, first purchase at-or-after that click.
    // One conditional-min aggregate per step (keyed, map-side-partial; no
    // per-user sort or window); a purchase before any view must NOT
    // count, and the per-user timestamps hash exactly.
    "w3_funnel" -> ((s, dir) =>
      EventWindows.funnel(eventsT(s, dir),
        Seq("view", "click", "purchase"))),

    // WEEKLY COHORT RETENTION — first-activity-week cohorts × week
    // offsets, integer-e6 retention rates. All keyed on user_id; the
    // cohort-size join is a calendar-bounded broadcast.
    "w4_retention" -> ((s, dir) =>
      EventWindows.retention(eventsT(s, dir))),

    // DAU/WAU STICKINESS — the engagement staple: per active day, the
    // daily actives over the trailing-7-day actives, exact integers.
    // The rolling DISTINCT is computed without window state: each
    // (user, active-day) row fans out to the ≤7 windows it can serve
    // (bounded explode), then one distinct + count per day — keyed
    // shuffles only, no per-day re-scan of history.
    "w6_stickiness" -> ((s, dir) => {
      val daily = eventsT(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val dau = daily.groupBy("d").agg(count(lit(1)).as("n_dau"))
      val wau = daily
        .select(col("user_id"),
          explode(expr("sequence(d, date_add(d, 6))")).as("d"))
        .distinct()
        .groupBy("d").agg(count(lit(1)).as("n_wau"))
      dau.join(wau, "d")
        .select(col("d").as("day"), col("n_dau"), col("n_wau"),
          expr("(n_dau * 1000000) div n_wau").as("stickiness_e6"))
    }),

    // SWEEP-LINE SESSION CONCURRENCY — per-day max simultaneously-open
    // sessions via boundary +1/−1 rows and a scalable ordered cumsum;
    // the O(n log n) answer to a question the naive interval self-join
    // makes quadratic exactly where load peaks.
    "w5_concurrency" -> ((s, dir) =>
      EventWindows.concurrency(eventsT(s, dir), gapMinutes = 30)),

    // HLL SKETCH STORE with merge-on-read — the pre-aggregated
    // distinct-count cube every 100 TB metrics layer keeps: per
    // (event_type, day) partial HLL sketches of the user set are WRITTEN
    // to a parquet store (a binary column — each day's ingest touches
    // only its own rows), then a reader merges sketches ACROSS days per
    // event_type and estimates — never re-scanning raw events. Gate
    // surface: exact distincts (recomputed for the audit) plus a
    // tolerance flag on the estimate, the a7 sketch-gating pattern; the
    // store lifecycle itself is under test, like d21/b5.
    "a11_hll_store" -> ((s, dir) => {
      val out = Tables.scratch("a11_hll_" + Tables.dirTag(dir))
      val ev = eventsT(s, dir)
      ev.select(col("event_type"), to_date(col("ts")).as("d"), col("user_id"))
        .groupBy("event_type", "d")
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"),
          count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(out)
      val merged = s.read.parquet(out)
        .groupBy("event_type")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("_est"),
          sum("n").as("n_events"))
      val exact = ev.select("event_type", "user_id").distinct()
        .groupBy("event_type").agg(count(lit(1)).as("exact_users"))
      merged.join(broadcast(exact), "event_type")
        .select(col("event_type"), col("n_events"), col("exact_users"),
          (abs(col("_est") - col("exact_users")) <=
            lit(0.05) * col("exact_users")).as("hll_ok"))
    }),

    // F8 over semi-structured props: JSON field extraction + aggregate.
    "e4_json_props" -> ((s, dir) =>
      eventsT(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("k").as("sum_k"),
          round(avg("k"), 6).as("avg_k")))
  )

  private val tumblingOracle =
    """SELECT time_bucket(INTERVAL '15 minutes', ts) AS wstart, event_type,
      | count(*) AS n, round(sum(value), 3) AS sum_value
      |FROM events GROUP BY wstart, event_type""".stripMargin

  val oracle: Map[String, String] = Map(
    // w4: the same distinct-(user, week) → cohort-min → offset-count
    // chain; date_trunc('week') is Monday-aligned in both engines, so
    // the day diff is an exact multiple of 7 and the floor divisions
    // agree bit-for-bit.
    "w4_retention" ->
      """WITH weeks AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events),
        |firsts AS (SELECT user_id, min(wk) AS cohort FROM weeks GROUP BY 1),
        |sizes AS (SELECT cohort, count(*) AS cohort_n FROM firsts GROUP BY 1),
        |act AS (
        |  SELECT f.cohort,
        |    CAST(date_diff('day', f.cohort, w.wk) // 7 AS INT) AS week_no,
        |    count(*) AS n_active
        |  FROM weeks w JOIN firsts f USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT a.cohort, a.week_no, a.n_active, s.cohort_n,
        |  CAST((a.n_active * 1000000) // s.cohort_n AS BIGINT) AS retention_e6
        |FROM act a JOIN sizes s USING (cohort)""".stripMargin,
    // w6: the same bounded fan-out — an active day serves the windows
    // ending d..d+6; the inner join back to dau keeps only real days.
    "w6_stickiness" ->
      """WITH daily AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |dau AS (SELECT d, count(*) AS n_dau FROM daily GROUP BY d),
        |spread AS (
        |  SELECT DISTINCT user_id,
        |    CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
        |      CAST(d AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY))
        |      AS DATE) AS d
        |  FROM daily),
        |wau AS (SELECT d, count(*) AS n_wau FROM spread GROUP BY d)
        |SELECT dau.d AS day, n_dau, n_wau,
        |  CAST((n_dau * 1000000) // n_wau AS BIGINT) AS stickiness_e6
        |FROM dau JOIN wau USING (d)""".stripMargin,
    // w5: the identical sweep — e3's session CTEs, boundary rows, one
    // running sum over the SAME total order (starts before ends at a
    // tied instant: closed intervals), day rollup. DuckDB's window sum
    // of INTEGER is HUGEINT — cast back to the engine's INT/BIGINT.
    "w5_concurrency" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (
        |  SELECT *, sum(new_session) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM marked),
        |sess AS (
        |  SELECT user_id, min(ts) AS s_start, max(ts) AS s_end
        |  FROM numbered GROUP BY user_id, session_no),
        |b AS (
        |  SELECT user_id, s_start, s_start AS ts, 1 AS delta FROM sess
        |  UNION ALL
        |  SELECT user_id, s_start, s_end AS ts, -1 AS delta FROM sess),
        |r AS (
        |  SELECT ts, sum(delta) OVER (
        |    ORDER BY ts, delta DESC, user_id, s_start
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM b)
        |SELECT CAST(ts AS DATE) AS day, CAST(max(cum) AS INT) AS max_concurrent,
        |  count(*) AS n_boundaries
        |FROM r GROUP BY 1""".stripMargin,
    // a11: the sketch's estimate is gated by a tolerance boolean (the a7
    // pattern); the exact distincts and event counts are the hash surface.
    "a11_hll_store" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS exact_users, TRUE AS hll_ok
        |FROM events GROUP BY event_type""".stripMargin,
    // w3: the same chained conditional-mins, one CTE per step.
    "w3_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS ts_0 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT v.user_id, v.ts_0,
        |    min(CASE WHEN e.ts >= v.ts_0 THEN e.ts END) AS ts_1
        |  FROM v LEFT JOIN events e
        |    ON e.user_id = v.user_id AND e.event_type = 'click'
        |  GROUP BY 1, 2),
        |p AS (SELECT c.user_id, c.ts_0, c.ts_1,
        |    min(CASE WHEN e.ts >= c.ts_1 THEN e.ts END) AS ts_2
        |  FROM c LEFT JOIN events e
        |    ON e.user_id = c.user_id AND e.event_type = 'purchase'
        |  GROUP BY 1, 2, 3)
        |SELECT user_id, ts_0, ts_1, ts_2 FROM p""".stripMargin,
    // e16: append-mode finalization replayed in SQL — every window over
    // ALL arrived rows (late rows merge into still-live state; nothing
    // drops in this arrival pattern, probe-verified) whose end the FINAL
    // watermark (global max ts − 360 h) passed, emitted once; the open
    // tail withheld and pinned by n_open_at_end.
    "e16_watermark_late" ->
      """WITH p AS (SELECT event_id, event_type, ts,
        |    CAST(round(value * 1000, 0) AS BIGINT) AS v_e3 FROM events),
        |wmf AS (SELECT max(ts) - INTERVAL 360 HOUR AS w FROM p),
        |res AS (SELECT time_bucket(INTERVAL '15 minutes', ts) AS wstart,
        |    event_type, count(*) AS n, CAST(sum(v_e3) AS BIGINT) AS sum_v_e3
        |  FROM p GROUP BY 1, 2),
        |em AS (SELECT r.* FROM res r CROSS JOIN wmf
        |  WHERE r.wstart + INTERVAL '15 minutes' <= wmf.w),
        |audit AS (SELECT (SELECT count(*) FROM res)
        |  - (SELECT count(*) FROM em) AS n_open_at_end)
        |SELECT em.wstart, em.event_type, em.n, em.sum_v_e3,
        |  CAST(audit.n_open_at_end AS INT) AS n_open_at_end
        |FROM em CROSS JOIN audit""".stripMargin,
    // e15: the state hand-off must be invisible — the oracle is the SAME
    // full-history recurrence as ts3.
    "e15_stream_ewma" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(round(round(avg(value), 6) * 1e6) AS BIGINT) AS v_e6
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |arr AS (
        |  SELECT user_id,
        |    list(d ORDER BY d) AS ds,
        |    list(v_e6 + 1000000000000 ORDER BY d) AS l
        |  FROM daily GROUP BY user_id),
        |e AS (
        |  SELECT user_id, ds, l,
        |    list_transform(range(1, len(l) + 1), i ->
        |      list_reduce(l[1:i], (acc, y) -> (3*y + 7*acc) // 10)) AS ew
        |  FROM arr)
        |SELECT user_id, unnest(ds) AS d,
        |  unnest(list_transform(l, x -> x - 1000000000000)) AS v_e6,
        |  unnest(list_transform(ew, x -> x - 1000000000000)) AS ewma_e6
        |FROM e""".stripMargin,
    // ts5: the identical max(0, acc+dev) prefix folds (list_prepend(0)
    // seeds list_reduce, the polyHashSql trick); list_position finds the
    // first alarm day, NULL-safe when none fires.
    // ts7 shares the SAME oracle text: the chunked engine path must
    // reproduce the unchunked recurrence exactly.
    "ts7_cusum_chunked" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(round(round(avg(value), 6) * 1e6) AS BIGINT) AS v_e6
        |  FROM events GROUP BY 1, 2),
        |arr AS (
        |  SELECT user_id, list(d ORDER BY d) AS ds,
        |    list(v_e6 ORDER BY d) AS l
        |  FROM daily GROUP BY user_id),
        |m AS (
        |  SELECT user_id, ds, l, len(l) AS n,
        |    CAST(list_sum(l) AS BIGINT) // len(l) AS mu,
        |    CAST(list_max(l) - list_min(l) AS BIGINT) AS h
        |  FROM arr),
        |s AS (
        |  SELECT user_id, ds, n, mu, h,
        |    list_transform(range(1, n + 1), i ->
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(l[1:i], z -> z - mu)),
        |        (acc, y) -> greatest(CAST(0 AS BIGINT), acc + y))) AS sc
        |  FROM m)
        |SELECT user_id, CAST(n AS BIGINT) AS n_days, mu AS mu_e6,
        |  CAST(list_max(sc) AS BIGINT) AS max_cusum_e6,
        |  CAST(len(list_filter(sc, x -> x > h)) AS BIGINT) AS n_alarms,
        |  h AS h_e6,
        |  ds[list_position(list_transform(sc, x -> x > h), true)]
        |    AS first_alarm
        |FROM s""".stripMargin,
    "ts5_cusum" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(round(round(avg(value), 6) * 1e6) AS BIGINT) AS v_e6
        |  FROM events GROUP BY 1, 2),
        |arr AS (
        |  SELECT user_id, list(d ORDER BY d) AS ds,
        |    list(v_e6 ORDER BY d) AS l
        |  FROM daily GROUP BY user_id),
        |m AS (
        |  SELECT user_id, ds, l, len(l) AS n,
        |    CAST(list_sum(l) AS BIGINT) // len(l) AS mu,
        |    CAST(list_max(l) - list_min(l) AS BIGINT) AS h
        |  FROM arr),
        |s AS (
        |  SELECT user_id, ds, n, mu, h,
        |    list_transform(range(1, n + 1), i ->
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(l[1:i], z -> z - mu)),
        |        (acc, y) -> greatest(CAST(0 AS BIGINT), acc + y))) AS sc
        |  FROM m)
        |SELECT user_id, CAST(n AS BIGINT) AS n_days, mu AS mu_e6,
        |  CAST(list_max(sc) AS BIGINT) AS max_cusum_e6,
        |  CAST(len(list_filter(sc, x -> x > h)) AS BIGINT) AS n_alarms,
        |  h AS h_e6,
        |  ds[list_position(list_transform(sc, x -> x > h), true)]
        |    AS first_alarm
        |FROM s""".stripMargin,
    // ts8 = ts6 at the production chunk length; identical oracle text.
    "ts8_ewma_chunked_yearly" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(round(round(avg(value), 6) * 1e6) AS BIGINT) AS v_e6
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |arr AS (
        |  SELECT user_id,
        |    list(d ORDER BY d) AS ds,
        |    list(v_e6 + 1000000000000 ORDER BY d) AS l
        |  FROM daily GROUP BY user_id),
        |e AS (
        |  SELECT user_id, ds, l,
        |    list_transform(range(1, len(l) + 1), i ->
        |      list_reduce(l[1:i], (acc, y) -> (3*y + 7*acc) // 10)) AS ew
        |  FROM arr)
        |SELECT user_id, unnest(ds) AS d,
        |  unnest(list_transform(l, x -> x - 1000000000000)) AS v_e6,
        |  unnest(list_transform(ew, x -> x - 1000000000000)) AS ewma_e6
        |FROM e""".stripMargin,
    // ts6 shares ts3's oracle text: the chunked engine path must
    // reproduce the unchunked recurrence exactly (any carry hand-off
    // loss or double-count flips ewma_e6 for every later day).
    "ts6_ewma_chunked" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(round(round(avg(value), 6) * 1e6) AS BIGINT) AS v_e6
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |arr AS (
        |  SELECT user_id,
        |    list(d ORDER BY d) AS ds,
        |    list(v_e6 + 1000000000000 ORDER BY d) AS l
        |  FROM daily GROUP BY user_id),
        |e AS (
        |  SELECT user_id, ds, l,
        |    list_transform(range(1, len(l) + 1), i ->
        |      list_reduce(l[1:i], (acc, y) -> (3*y + 7*acc) // 10)) AS ew
        |  FROM arr)
        |SELECT user_id, unnest(ds) AS d,
        |  unnest(list_transform(l, x -> x - 1000000000000)) AS v_e6,
        |  unnest(list_transform(ew, x -> x - 1000000000000)) AS ewma_e6
        |FROM e""".stripMargin,
    // ts10: ts5's recurrence + the same routing CTEs as ts9 over both
    // operating points.
    "ts10_cusum_auto" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(round(round(avg(value), 6) * 1e6) AS BIGINT) AS v_e6
        |  FROM events GROUP BY 1, 2),
        |arr AS (
        |  SELECT user_id, list(d ORDER BY d) AS ds,
        |    list(v_e6 ORDER BY d) AS l
        |  FROM daily GROUP BY user_id),
        |m AS (
        |  SELECT user_id, ds, l, len(l) AS n,
        |    CAST(list_sum(l) AS BIGINT) // len(l) AS mu,
        |    CAST(list_max(l) - list_min(l) AS BIGINT) AS h
        |  FROM arr),
        |s AS (
        |  SELECT user_id, ds, n, mu, h,
        |    list_transform(range(1, n + 1), i ->
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(l[1:i], z -> z - mu)),
        |        (acc, y) -> greatest(CAST(0 AS BIGINT), acc + y))) AS sc
        |  FROM m),
        |base AS (
        |  SELECT user_id, CAST(n AS BIGINT) AS n_days, mu AS mu_e6,
        |    CAST(list_max(sc) AS BIGINT) AS max_cusum_e6,
        |    CAST(len(list_filter(sc, x -> x > h)) AS BIGINT) AS n_alarms,
        |    h AS h_e6,
        |    ds[list_position(list_transform(sc, x -> x > h), true)]
        |      AS first_alarm
        |  FROM s),
        |span AS (
        |  SELECT CAST(max(date_diff('day', mind, maxd) + 1) AS BIGINT)
        |    AS max_span
        |  FROM (SELECT user_id, min(d) AS mind, max(d) AS maxd
        |        FROM daily GROUP BY user_id)),
        |cd AS (SELECT CAST(unnest([7, 365]) AS INT) AS chunk_days)
        |SELECT b.*,
        |  CASE WHEN s2.max_span > cd.chunk_days * 2 THEN 'chunked'
        |       ELSE 'unchunked' END AS mode,
        |  s2.max_span, cd.chunk_days
        |FROM base b CROSS JOIN span s2 CROSS JOIN cd""".stripMargin,
    // ts9: the ts3 recurrence (both regimes emit it identically — that
    // IS the regime identity being gated) + the declarative routing rule
    // replicated in SQL over both operating points: mode = chunked iff
    // max per-key span > chunk_days × 2, with span and mode riding along.
    "ts9_ewma_auto" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(round(round(avg(value), 6) * 1e6) AS BIGINT) AS v_e6
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |arr AS (
        |  SELECT user_id,
        |    list(d ORDER BY d) AS ds,
        |    list(v_e6 + 1000000000000 ORDER BY d) AS l
        |  FROM daily GROUP BY user_id),
        |e AS (
        |  SELECT user_id, ds, l,
        |    list_transform(range(1, len(l) + 1), i ->
        |      list_reduce(l[1:i], (acc, y) -> (3*y + 7*acc) // 10)) AS ew
        |  FROM arr),
        |base AS (
        |  SELECT user_id, unnest(ds) AS d,
        |    unnest(list_transform(l, x -> x - 1000000000000)) AS v_e6,
        |    unnest(list_transform(ew, x -> x - 1000000000000)) AS ewma_e6
        |  FROM e),
        |span AS (
        |  SELECT CAST(max(date_diff('day', mind, maxd) + 1) AS BIGINT)
        |    AS max_span
        |  FROM (SELECT user_id, min(d) AS mind, max(d) AS maxd
        |        FROM daily GROUP BY user_id)),
        |cd AS (SELECT CAST(unnest([7, 365]) AS INT) AS chunk_days)
        |SELECT b.user_id, b.d, b.v_e6, b.ewma_e6,
        |  CASE WHEN s.max_span > cd.chunk_days * 2 THEN 'chunked'
        |       ELSE 'unchunked' END AS mode,
        |  s.max_span, cd.chunk_days
        |FROM base b CROSS JOIN span s CROSS JOIN cd""".stripMargin,
    // ts3: the identical integer recurrence as prefix list_reduce folds
    // over the date-ordered e6 values (offset +1e12 exactly as the
    // engine does; parallel unnests zip positionally).
    "ts3_ewma" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(round(round(avg(value), 6) * 1e6) AS BIGINT) AS v_e6
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |arr AS (
        |  SELECT user_id,
        |    list(d ORDER BY d) AS ds,
        |    list(v_e6 + 1000000000000 ORDER BY d) AS l
        |  FROM daily GROUP BY user_id),
        |e AS (
        |  SELECT user_id, ds, l,
        |    list_transform(range(1, len(l) + 1), i ->
        |      list_reduce(l[1:i], (acc, y) -> (3*y + 7*acc) // 10)) AS ew
        |  FROM arr)
        |SELECT user_id, unnest(ds) AS d,
        |  unnest(list_transform(l, x -> x - 1000000000000)) AS v_e6,
        |  unnest(list_transform(ew, x -> x - 1000000000000)) AS ewma_e6
        |FROM e""".stripMargin,
    "ts2_rolling_stats" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, avg(value) AS v
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |w AS (
        |  SELECT user_id, d, v,
        |    date_diff('day', DATE '1970-01-01', d) AS di
        |  FROM daily),
        |r AS (
        |  SELECT user_id, d, v,
        |    count(*) OVER win AS n_win,
        |    avg(v) OVER win AS m,
        |    stddev_pop(v) OVER win AS sd
        |  FROM w
        |  WINDOW win AS (PARTITION BY user_id ORDER BY di
        |                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT user_id, d, round(v, 6) AS v_day,
        |  CAST(n_win AS BIGINT) AS n_win, round(m, 6) AS trail_avg,
        |  round(sd, 6) AS trail_sd,
        |  (abs(v - m) > 2 * sd AND n_win >= 3) AS anomaly
        |FROM r""".stripMargin,
    "ts1_gap_fill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, avg(value) AS v
        |  FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |bounds AS (
        |  SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY user_id),
        |spine AS (
        |  SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM bounds),
        |j AS (
        |  SELECT s.user_id, s.d, daily.v
        |  FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d),
        |f AS (
        |  SELECT user_id, d, v,
        |    last_value(v IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER wp AS pd,
        |    first_value(v IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER wn AS nd
        |  FROM j
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY d
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY user_id ORDER BY d
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, d,
        |  round(CASE WHEN v IS NOT NULL THEN v
        |             WHEN pv IS NULL THEN nv
        |             WHEN nv IS NULL THEN pv
        |             ELSE pv + (nv - pv) *
        |               (CAST(date_diff('day', pd, d) AS DOUBLE)
        |                / date_diff('day', pd, nd)) END, 6) AS v_filled,
        |  v IS NULL AS interpolated
        |FROM f""".stripMargin,
    "aj1_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events
        |          WHERE event_type = 'purchase'),
        |     r AS (SELECT event_id, user_id, ts, value FROM events
        |          WHERE event_type = 'click'),
        |cand AS (
        |  SELECT l.event_id, l.user_id, l.ts, l.value AS lvalue,
        |         r.ts AS rts, r.value AS rvalue,
        |         row_number() OVER (PARTITION BY l.event_id
        |                            ORDER BY r.ts DESC, r.event_id DESC) AS rn
        |  FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts)
        |SELECT event_id, user_id, ts, round(lvalue, 3) AS purchase_value,
        |       rts AS click_ts, round(rvalue, 3) AS click_value
        |FROM cand WHERE rn = 1""".stripMargin,
    "j6_salted_join" ->
      """WITH dim AS (
        |  SELECT user_id, count(*) AS user_n FROM events GROUP BY user_id)
        |SELECT e.user_id, count(*) AS n_rows,
        |  round(sum(e.value), 3) AS sum_value, max(d.user_n) AS user_n
        |FROM events e JOIN dim d USING (user_id)
        |GROUP BY e.user_id""".stripMargin,
    "aj4_asof_sql" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |          WHERE event_type = 'purchase'),
        |     r AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        |SELECT l.event_id, l.user_id, l.ts, max(r.ts) AS click_ts
        |FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
        |GROUP BY l.event_id, l.user_id, l.ts""".stripMargin,
    "aj3_asof_forward" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |          WHERE event_type = 'click'),
        |     r AS (SELECT event_id, user_id, ts FROM events
        |          WHERE event_type = 'purchase'),
        |cand AS (
        |  SELECT l.event_id, l.ts, r.ts AS rts,
        |         row_number() OVER (PARTITION BY l.event_id
        |                            ORDER BY r.ts ASC, r.event_id DESC) AS rn
        |  FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.ts >= l.ts
        |                    AND r.ts <= l.ts + INTERVAL 2 HOUR)
        |SELECT count(*) AS n_total, count(rts) AS n_matched,
        |       round(avg(epoch_us(rts) - epoch_us(ts)), 6) AS avg_gap_us
        |FROM cand WHERE rn = 1""".stripMargin,
    // aj5: min over |gap| with ties to the backward side (fwd flag 0
    // first); among equal-ts clicks the chosen TIMESTAMP is identical,
    // so the row_number tie within one side cannot show.
    "aj5_asof_nearest" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |          WHERE event_type = 'purchase'),
        |     r AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |cand AS (
        |  SELECT l.event_id, l.user_id, l.ts, r.ts AS rts,
        |    row_number() OVER (PARTITION BY l.event_id
        |      ORDER BY abs(epoch_us(r.ts) - epoch_us(l.ts)),
        |               CASE WHEN r.ts <= l.ts THEN 0 ELSE 1 END) AS rn
        |  FROM l LEFT JOIN r ON l.user_id = r.user_id)
        |SELECT event_id, user_id, ts, rts AS click_ts,
        |  CAST(epoch_us(rts) - epoch_us(ts) AS BIGINT) AS gap_us
        |FROM cand WHERE rn = 1""".stripMargin,
    "aj2_asof_tolerance" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |          WHERE event_type = 'purchase'),
        |     r AS (SELECT event_id, user_id, ts FROM events
        |          WHERE event_type = 'click'),
        |cand AS (
        |  SELECT l.event_id, l.ts, r.ts AS rts,
        |         row_number() OVER (PARTITION BY l.event_id
        |                            ORDER BY r.ts DESC, r.event_id DESC) AS rn
        |  FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
        |                    AND r.ts >= l.ts - INTERVAL 30 MINUTE)
        |SELECT count(*) AS n_total, count(rts) AS n_matched,
        |       round(avg(epoch_us(ts) - epoch_us(rts)), 6) AS avg_gap_us
        |FROM cand WHERE rn = 1""".stripMargin,
    "e6_stateful_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (
        |  SELECT *, sum(new_session) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM marked),
        |sess AS (
        |  SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |    count(*) AS n_events, round(sum(value), 3) AS sum_value
        |  FROM numbered GROUP BY user_id, session_no),
        |closed AS (
        |  SELECT * FROM sess
        |  WHERE epoch_us(session_end) + 1800000000 <
        |    (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events))
        |SELECT c.*,
        |  CAST((SELECT count(*) FROM sess) - (SELECT count(*) FROM closed)
        |    AS INT) AS n_open_at_end
        |FROM closed c""".stripMargin,
    "rj1_range_pairs" ->
      """SELECT a.user_id, count(*) AS n_pairs,
        |  round(avg(epoch_us(b.ts) - epoch_us(a.ts)), 6) AS avg_gap_us
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |  AND epoch_us(b.ts) > epoch_us(a.ts)
        |  AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000
        |GROUP BY a.user_id""".stripMargin,
    // batch form of the same interval join: the streaming path must
    // reproduce it exactly (the 90-day horizon exceeds the corpus span).
    "e8_stream_join" ->
      """SELECT c.user_id, count(*) AS n_pairs,
        |  round(avg(epoch_us(p.ts) - epoch_us(c.ts)), 6) AS avg_gap_us
        |FROM events c JOIN events p ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND epoch_us(p.ts) > epoch_us(c.ts)
        |  AND epoch_us(p.ts) <= epoch_us(c.ts) + 600000000
        |GROUP BY c.user_id""".stripMargin,
    "e5_streaming_tumbling" -> tumblingOracle,
    "e7_streaming_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "e1_tumbling" ->
      """SELECT time_bucket(INTERVAL '15 minutes', ts) AS wstart, event_type,
        | count(*) AS n, round(sum(value), 3) AS sum_value
        |FROM events GROUP BY wstart, event_type""".stripMargin,
    "e2_sliding" ->
      """WITH offs AS (SELECT unnest([0, 1, 2, 3]) AS o),
        |hits AS (
        |  SELECT time_bucket(INTERVAL '15 minutes', ts)
        |           - to_minutes(15 * o) AS wstart,
        |         event_type, value
        |  FROM events CROSS JOIN offs)
        |SELECT wstart, event_type, count(*) AS n, round(sum(value), 3) AS sum_value
        |FROM hits GROUP BY wstart, event_type""".stripMargin,
    "e3_session" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (
        |  SELECT *, sum(new_session) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM marked)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events, round(sum(value), 3) AS sum_value
        |FROM numbered GROUP BY user_id, session_no""".stripMargin,
    "e4_json_props" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
        | round(avg(CAST(props->>'k' AS INT)), 6) AS avg_k
        |FROM events GROUP BY event_type""".stripMargin
  )
}
