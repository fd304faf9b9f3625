package graft.streaming

import graft.Knobs
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming extension over the `events` stream shape.
  *
  * The reference supports no streams/tasks/pipes (reference
  * `README.md:295-306`), so nothing here is parity-required; this module is
  * the engine's forward-looking streaming surface, built the idiomatic way:
  * `readStream -> transforms -> writeStream`, event-time windows bounded by
  * watermarks, and `mapGroupsWithState` for custom sessionization state.
  *
  * Scale notes: windowed aggregation shuffles on (window, key) with
  * partial aggregation map-side; the watermark bounds state size, so the
  * job runs indefinitely at constant memory; sessionization state is
  * per-key and evicted by processing-time timeout.
  */
object EventStreams {

  final case class Event(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionUpdate(
      user_id: Long, events: Long, total_value: Double, closed: Boolean)

  /** Hourly tumbling-window aggregation per event type, late data bounded
    * by a 1-hour watermark. Batch analog: Pipeline p12_events_hourly. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("total"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total"))

  /** Streaming A/B experiment monitor — the in-flight sibling of batch
    * p94: per event-time hour (1-hour watermark), the two-proportion z
    * between the deterministic user-parity variants on EVENT-level
    * conversion (is this event a purchase — the per-user first-event
    * unit of batch p94 needs cross-event state; the windowed monitor
    * trades to the stateless unit and documents it). ONE windowed
    * aggregation with conditional sums — two variants live in the same
    * row, so no second stateful stage and no stream-stream join; state
    * is one row per open window. z arithmetic is p94's exact tree
    * (counts exact, ÷/sqrt IEEE-exact, (n0+n1)/(n0·n1) single division
    * tree, NULL z when a window's pooled variance is zero). Emits
    * (hour, n0, c0, n1, c1, z_r, significant) on window close. */
  def abMonitorStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("user_id") % 2 === 0 &&
          col("event_type") === "purchase", 1L).otherwise(0L)).as("c0"),
        sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("user_id") % 2 === 1 &&
          col("event_type") === "purchase", 1L).otherwise(0L)).as("c1"))
      .withColumn("z_r",
        when(col("n0") > 0 && col("n1") > 0 &&
             col("c0") + col("c1") > 0 &&
             col("c0") + col("c1") < col("n0") + col("n1"),
          round((col("c0").cast("double") / col("n0") -
                 col("c1").cast("double") / col("n1")) /
            sqrt((((col("c0") + col("c1")).cast("double") /
                   (col("n0") + col("n1"))) *
                  (lit(1.0) - (col("c0") + col("c1")).cast("double") /
                   (col("n0") + col("n1")))) *
                 ((col("n0") + col("n1")).cast("double") /
                  (col("n0") * col("n1")).cast("double"))), 6)))
      .withColumn("significant", abs(col("z_r")) >= 1.959964)
      .select(col("window.start").as("hour"), col("n0"), col("c0"),
        col("n1"), col("c1"), col("z_r"), col("significant"))

  /** Streaming Welch monitor — p98's windowed sibling next to
    * [[abMonitorStream]]: per event-time hour, Welch's t on purchase
    * VALUE between the user-parity variants. Sums and sums-of-squares
    * accumulate per variant as exact DECIMAL conditional aggregates in
    * ONE windowed aggregation (both variants in one row — one state row
    * per open window), cast to double once; mean/variance/t follow
    * p98's exact tree. NULL t when either arm has < 2 purchases or the
    * pooled variance term is zero. Emits (hour, n0, n1, m0_r, m1_r,
    * t_r) on window close. */
  def welchMonitorStream(events: DataFrame): DataFrame = {
    def arm(v: Int, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      sum(when(col("user_id") % 2 === v && col("event_type") === "purchase",
        f(col("value").cast("decimal(12,2)")))
        .otherwise(lit(0).cast("decimal(25,4)")))
    val out = events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        sum(when(col("user_id") % 2 === 0 &&
          col("event_type") === "purchase", 1L).otherwise(0L)).as("n0"),
        arm(0, c => c.cast("decimal(25,4)")).cast("double").as("sv0"),
        arm(0, c => c * c).cast("double").as("sv20"),
        sum(when(col("user_id") % 2 === 1 &&
          col("event_type") === "purchase", 1L).otherwise(0L)).as("n1"),
        arm(1, c => c.cast("decimal(25,4)")).cast("double").as("sv1"),
        arm(1, c => c * c).cast("double").as("sv21"))
      .withColumn("m0", col("sv0") / col("n0"))
      .withColumn("m1", col("sv1") / col("n1"))
      .withColumn("vn0", ((col("sv20") - (col("sv0") * col("sv0")) / col("n0"))
        / (col("n0") - 1)) / col("n0"))
      .withColumn("vn1", ((col("sv21") - (col("sv1") * col("sv1")) / col("n1"))
        / (col("n1") - 1)) / col("n1"))
      .withColumn("se2", col("vn0") + col("vn1"))
      .withColumn("t_r",
        when(col("n0") >= 2 && col("n1") >= 2 && col("se2") > 0.0,
          round((col("m0") - col("m1")) / sqrt(col("se2")), 6)))
    out.select(col("window.start").as("hour"), col("n0"), col("n1"),
      round(col("m0"), 6).as("m0_r"), round(col("m1"), 6).as("m1_r"),
      col("t_r"))
  }

  /** One closed event-time hour's contribution to a sequential monitor:
    * `n` trials (or volume) and `c` conversions. */
  final case class HourDelta(hour: java.sql.Timestamp, n: Long, c: Long)

  /** One SPRT trajectory row — batch p104's row shape; `decided_at` is
    * the first boundary-crossing hour IF already observed at emission
    * time (a live monitor cannot backfill earlier rows the way the
    * batch retrospective does), NULL before it. */
  final case class SprtUpdate(hour: java.sql.Timestamp, n_cum: Long,
      c_cum: Long, llr_s: Long, decision: String,
      decided_at: java.sql.Timestamp)

  /** One CUSUM trajectory row — batch p105's row shape. */
  final case class CusumUpdate(hour: java.sql.Timestamp, x: Long,
      k_s: Long, cusum_s: Long, alarm: Boolean)

  /** Stage 1 of the sequential monitors: the treatment arm's per-hour
    * (trials, conversions) deltas — batch p104's hourly front as a
    * watermarked windowed aggregation, append-on-close. This is the only
    * corpus-scaled stage (map-side partial agg, one row of state per
    * open window); the sequential fold consumes its bounded output. */
  def sprtHourlyDeltas(events: DataFrame): DataFrame =
    events
      .filter(col("user_id") % 2 === 1)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c"))
      .select(col("window.start").as("hour"), col("n"), col("c"))

  /** Stage 2: the Wald SPRT fold over closed-hour deltas — the
    * streaming sibling of batch p104, carrying cumulative (trials,
    * conversions, first-decision hour) as ONE bounded state tuple per
    * monitor. The LLR uses the SAME plan-build scaled literals as the
    * batch entry (`Pipeline.sprtL1/L0/A/B`), so the trajectory is exact
    * BIGINT and stream=batch parity is bit-exact regardless of
    * micro-batch splits (spec-proven). Input contract: one delta per
    * closed hour, hours non-decreasing across triggers (what stage 1
    * emits under the watermark; within a trigger the fold sorts).
    * Spark's checker (correctly) refuses flatMapGroupsWithState chained
    * after a streaming aggregation in one query, so the composition is
    * the standard two-query topology: stage 1 append-streams closed
    * hours to a durable sink; this fold reads them back. At scale that
    * is also the right failure isolation — the corpus-scaled window agg
    * restarts without rewinding the monitor's decision state. */
  def sprtMonitorStream(deltas: Dataset[HourDelta]): Dataset[SprtUpdate] = {
    import deltas.sparkSession.implicits._
    val (l1, l0, a, b) = (graft.queries.Pipeline.sprtL1,
      graft.queries.Pipeline.sprtL0, graft.queries.Pipeline.sprtA,
      graft.queries.Pipeline.sprtB)
    deltas
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[(Long, Long, Long), SprtUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows: Iterator[HourDelta], state: GroupState[(Long, Long, Long)]) =>
          var (nc, cc, dAt) = state.getOption.getOrElse((0L, 0L, Long.MinValue))
          val out = rows.toSeq.sortBy(_.hour.getTime).map { d =>
            nc += d.n; cc += d.c
            val llr = cc * l1 + (nc - cc) * l0
            val dec = if (llr >= a) "accept_h1"
              else if (llr <= b) "accept_h0" else "continue"
            if (dec != "continue" && dAt == Long.MinValue) dAt = d.hour.getTime
            SprtUpdate(d.hour, nc, cc, llr, dec,
              if (dAt == Long.MinValue) null else new java.sql.Timestamp(dAt))
          }
          state.update((nc, cc, dAt))
          out.iterator
      }
  }

  /** Stage 1 for the CUSUM monitor: per-hour event volume (c unused). */
  def cusumHourlyDeltas(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour"), col("n"), lit(0L).as("c"))

  /** Stage 2: Page's one-sided CUSUM fold over closed-hour volumes —
    * the streaming sibling of batch p105. State is the prefix sum and
    * its running minimum (two BIGINTs per monitor): S_t = P_t −
    * min(0, min_j P_j) with P the running sum of (x·10⁶ − k), exactly
    * the batch entry's prefix rewrite, so stream=batch parity is
    * bit-exact across any micro-batch split. `kScaled` is the chart's
    * reference (micro-units/hour): the batch retrospective derives it
    * from the full corpus mean; a live chart takes it from the
    * historical fit — which is WHY it is a parameter here. Same
    * two-query composition contract as [[sprtMonitorStream]]. */
  def cusumMonitorStream(deltas: Dataset[HourDelta],
      kScaled: Long): Dataset[CusumUpdate] = {
    import deltas.sparkSession.implicits._
    deltas
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[(Long, Long), CusumUpdate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows: Iterator[HourDelta], state: GroupState[(Long, Long)]) =>
          var (p, minp) = state.getOption.getOrElse((0L, Long.MaxValue))
          val out = rows.toSeq.sortBy(_.hour.getTime).map { d =>
            p += d.n * 1000000L - kScaled
            minp = math.min(minp, p)
            val cusum = p - math.min(minp, 0L)
            CusumUpdate(d.hour, d.n, kScaled, cusum, cusum > kScaled * 3)
          }
          state.update((p, minp))
          out.iterator
      }
  }

  /** Sliding-window rate (10-minute windows every 5), watermark-bounded. */
  def slidingRate(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))

  /** One consecutive-event transition, emitted in-flight. */
  final case class Transition(user_id: Long, cur: String, nxt: String)

  /** Streaming event-transition pairs — the stateful half of batch p99:
    * each user's consecutive-event (cur, nxt) pairs emitted AS THE NEXT
    * EVENT ARRIVES, with exactly one last-event tuple of state per user
    * (the 16-byte class: ts + event_id + a dictionary-small type
    * string). Within a micro-batch the group's rows are ordered by
    * event time (ts, event_id tiebreak — p99's exact order); across
    * micro-batches the carried state stitches the boundary pair, so a
    * stream fed in event-time order reproduces batch p99's pair
    * multiset EXACTLY regardless of how the batches split
    * (spec-proven). Downstream, the bounded |event_type|² aggregation
    * is the same shape as batch. */
  def transitionPairsStream(events: Dataset[Event]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, String), Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event],
         state: GroupState[(Long, Long, String)]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val out = scala.collection.mutable.Buffer.empty[Transition]
          var last = state.getOption
          sorted.foreach { e =>
            last.foreach { case (_, _, t) => out += Transition(userId, t, e.event_type) }
            last = Some((e.ts.getTime, e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** Per-user running session state via mapGroupsWithState: counts events
    * and value; with `timeoutMs > 0` a processing-time timeout closes idle
    * sessions (production mode — note the engine then schedules extra
    * batches to service timers), `timeoutMs <= 0` keeps state until stream
    * end (deterministic mode for tests). */
  def sessionize(events: Dataset[Event],
      timeoutMs: Long = 30L * 60 * 1000): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val timeoutMode =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Double), SessionUpdate](timeoutMode) {
        (userId: Long, rows: Iterator[Event], state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            val (n, v) = state.get
            state.remove()
            SessionUpdate(userId, n, v, closed = true)
          } else {
            val buf = rows.toSeq
            val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
            val n = n0 + buf.size
            val v = v0 + buf.map(_.value).sum
            state.update((n, v))
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            SessionUpdate(userId, n, v, closed = false)
          }
      }
  }

  /** EVENT-time gap sessionization — the streaming form of the batch p27
    * operator (idle-gap boundary), via Spark's native `session_window`:
    * a session extends while the next event's EVENT time falls within
    * `gap` of the last, so replaying the same stream — any arrival order,
    * any batching — yields the identical sessions. That determinism is
    * exactly what [[sessionize]]'s processing-time timeout cannot promise
    * in a production replay. The watermark bounds session state and
    * closes sessions (append mode emits each session once, on close).
    *
    * Boundary note: `session_window` starts a NEW session when the gap is
    * reached (diff >= gap); batch p27 breaks strictly after it
    * (diff > gap). With microsecond timestamps, `gap + 1 microsecond`
    * makes the two contracts identical, so that adjustment is applied
    * INTERNALLY: callers pass the p27 gap ("30 minutes") and get
    * p27-identical session boundaries — the parity spec proves it. */
  def sessionizeByGap(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withColumn("us", unix_micros(col("ts")))
      .withWatermark("ts", watermarkDelay)
      // "<gap> 1 microsecond" is one multi-unit interval string: the
      // session extends while diff <= gap, i.e. breaks strictly AFTER the
      // gap — the batch p27 contract
      .groupBy(col("user_id"), session_window(col("ts"), s"$gap 1 microsecond"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("us")) - min(col("us"))).as("duration_us"))
      .select(col("user_id"), col("session_window.start").as("w_start"),
        col("n_events"), col("duration_us"))

  /** Streaming exact dedup for a document/event feed: drop rows whose
    * fingerprint was already seen, with state bounded by the watermark
    * (`dropDuplicatesWithinWatermark` evicts fingerprints older than the
    * delay — the streaming form of the p01 exact-dedup batch operator; at
    * 100 TB/day the state store only ever holds one watermark-window of
    * 16-byte fingerprints per partition). Expects columns `ts` and `text`. */
  def dedupStream(docs: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", md5(col("text")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming NEAR-dup guard — the streaming form of the p04 SimHash
    * batch operator: fingerprint = 64-bit SimHash over the token bag
    * (order-independent, so shuffled/reordered near-copies collide where
    * md5 would not), dedup state bounded by the watermark exactly like
    * [[dedupStream]]. One 8-byte key per doc per watermark window in the
    * state store; the fingerprint computation is a codegen'd per-row
    * expression, so the stream pays no shuffle before the stateful op. */
  def nearDedupStream(docs: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("simhash", expr(
        "simhash64(transform(split(text, ' '), " +
          "t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)))"))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("simhash")

  /** Streaming IMAGE dedup gate — the streaming form of the p63 dHash
    * batch operator: each arriving (media_id, ts, payload) row is
    * perceptually fingerprinted through the SAME real-codec kernel
    * (construct → ImageIO decode → 9x8 area-average → 64 gradient
    * bits, `Multimodal.dhashOf`), then exact-duplicate images drop via
    * `dropDuplicatesWithinWatermark` on the two 32-bit halves — 16
    * bytes of state per kept image per watermark window, payload bytes
    * never enter the state store or any shuffle (the fingerprint is
    * computed before the stateful exchange; only (id, ts, hash) rows
    * move). Stream/batch parity with [[graft.operators.Multimodal
    * .imageDHash]] is spec-pinned. */
  def imageDedupStream(docs: DataFrame, watermarkDelay: String = "1 hour"): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(col("media_id"), col("ts"), col("payload"))
      .as[(Long, java.sql.Timestamp, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, ts, p) =>
          val (hi, lo) = graft.operators.Multimodal.dhashOf(p)
          (id, ts, hi, lo)
        }
      }
      .toDF("media_id", "ts", "dh_hi", "dh_lo")
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("dh_hi", "dh_lo")
  }

  /** Stream-stream interval join (attribution): each purchase event
    * joins the click(s) by the same user within the preceding
    * `window` — the canonical conversion-attribution shape. Both sides
    * carry watermarks and the join condition is a bounded event-time
    * interval, so each side's join state is evicted once the other
    * side's watermark passes the interval: the job runs indefinitely at
    * constant memory. Inner matches emit as they arrive (no watermark
    * wait); the shuffle keys on user_id on both sides. */
  def attribute(clicks: DataFrame, purchases: DataFrame,
      window: String = "30 minutes",
      watermarkDelay: String = "1 hour"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
        col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", watermarkDelay)
    val p = purchases.select(col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("event_id").as("purchase_id"),
        col("value"))
      .withWatermark("purchase_ts", watermarkDelay)
    p.join(c, expr(
        s"""c_user = p_user AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL $window"""))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("click_id"), col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** Stream-static enrichment join: each micro-batch of events joins a
    * static dimension table (e.g. a user/account dim re-read per batch at
    * its current snapshot). The static side is broadcast — no shuffle of
    * the stream, no streaming state at all, the canonical shape for
    * attaching slowly-changing reference data to a high-volume stream. */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming quality-gate: per-row score (the batch p09 heuristic) and
    * keep/drop flag applied inside the stream — per-row projection only,
    * so it fuses into whatever stateful operator runs downstream. */
  def qualityGate(docs: DataFrame, minQuality: Double = 0.7): DataFrame =
    docs
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("quality",
        (when(col("n_tokens").between(5, 1000), 0.4).otherwise(0.0) +
          when((length(regexp_replace(col("text"), " ", ""))
            .cast("double") / col("n_tokens")).between(3.0, 10.0), 0.3)
            .otherwise(0.0) +
          when(((length(col("text")) - length(regexp_replace(col("text"),
            "[A-Za-z0-9 ]", ""))).cast("double") / length(col("text"))) < 0.1, 0.3)
            .otherwise(0.0)).cast("double"))
      .filter(col("quality") >= minQuality)

  /** Streaming JL projection — the in-flight form of batch p68's
    * pre-ANN compression: each arriving embedding is projected 64→16
    * dims by the SAME literal sign-matrix expression
    * ([[graft.queries.Pipeline.jlProjectSql]], shared verbatim, so
    * stream and batch projections are definitionally identical). The
    * matrix is a plan constant: one stateless codegen'd projection per
    * row — no join, no shuffle, zero state-store rows. Project at
    * ingest, store 4× less. Expects `vec_id` and `embedding`; emits
    * (vec_id, pv ARRAY<DOUBLE>). */
  def jlProjectStream(vecs: DataFrame): DataFrame =
    vecs
      .withColumn("pv", expr(graft.queries.Pipeline.jlProjectSql("embedding")))
      .select(col("vec_id"), col("pv"))

  /** Streaming LM-perplexity gate — the streaming form of batch p53
    * (CCNet-style filtering): each arriving document is scored under the
    * BATCH-fitted add-one bigram LM and kept iff its mean negative
    * log-prob clears the threshold. The model is vocabulary-bounded, so
    * it ships inside the plan as two literal lookup maps (per-bigram and
    * per-context integer-scaled log-probs) — scoring is one stateless
    * codegen'd projection per row: no join, no shuffle, no streaming
    * state at all, the same reason the batch side's model joins
    * broadcast. Per-doc nll is bit-identical to batch p53's (spec-
    * proven): the same sln-scaled BIGINT sum, divided and rounded the
    * same way. Expects `doc_id` and `text`; emits (doc_id, n_bigrams,
    * nll, kept).
    *
    * `maxBigramEntries` is the scale fallback for the distinct-bigram
    * bound (SCALE.md): with a finite cap, only the top-N bigrams by
    * count ship in the literal map and every pruned bigram scores as
    * unseen — strictly MORE perplexed, so the pruned gate's kept set is
    * a SUBSET of the full gate's (over-filter, never admit); docs whose
    * bigrams all survive the cap score bit-identical (spec-proven). */
  /** The shared stateless LM scoring projection: the batch-fitted
    * literal maps applied per row, emitting the input columns plus
    * `arr`, `nll_sum` (sln-scaled BIGINT, bit-identical to batch
    * lmDocNll's — spec-proven via the gate) and `n_bigrams`. Docs with
    * fewer than two tokens drop (no bigrams to score — same as the
    * batch front, where they produce no bigram rows). Consumed by the
    * perplexity gate and the online Hedge controller. */
  private[streaming] def lmScored(spark: org.apache.spark.sql.SparkSession,
      modelDir: String, docs: DataFrame,
      maxBigramEntries: Int = Int.MaxValue): DataFrame = {
    val (mb, mc, slnV) = graft.queries.Pipeline.lmScoreMaps(spark, modelDir,
      maxBigramEntries)
    val mbCol = typedLit(mb)
    val mcCol = typedLit(mc)
    val arr = col("arr")
    docs
      .withColumn("arr", split(col("text"), " "))
      .filter(size(arr) >= 2)
      .withColumn("nll_sum", aggregate(
        expr("sequence(0, size(arr)-2)"),
        lit(0L),
        (acc, i) =>
          acc + coalesce(element_at(mcCol, element_at(arr, i + 1)), lit(slnV)) -
            coalesce(element_at(mbCol,
              concat(element_at(arr, i + 1), lit(" "), element_at(arr, i + 2))),
              lit(0L))))
      .withColumn("n_bigrams", (size(arr) - 1).cast("bigint"))
  }

  def perplexityGateStream(spark: org.apache.spark.sql.SparkSession,
      modelDir: String, docs: DataFrame, maxNll: Double = 3.45,
      maxBigramEntries: Int = Int.MaxValue): DataFrame =
    lmScored(spark, modelDir, docs, maxBigramEntries)
      .withColumn("nll",
        round(col("nll_sum").cast("double") / 100000000.0 / col("n_bigrams"), 6))
      .select(col("doc_id"), col("n_bigrams"), col("nll"),
        (col("nll") <= maxNll).as("kept"))

  /** Streaming excess-loss gate — batch p87's RHO pairing applied
    * in-flight: each arriving document is scored under BOTH batch-fitted
    * LMs (the English reference and the whole-corpus model), each
    * shipped as literal lookup maps, and excess = nll_corpus − nll_ref
    * is bit-identical to batch p87's (the same exact-BIGINT difference,
    * divided and rounded the same way — spec-proven). kept trades the
    * batch's global top-quarter rank for a threshold dial, the p53c
    * threshold-vs-rank trade a stream has to make. Stateless: two
    * per-row fold expressions, no join, no shuffle, no state.
    *
    * `maxBigramEntries` is the same pruned-map scale fallback the
    * perplexity gate exposes, applied to BOTH literal models — and it
    * matters MOST here, because the whole-corpus model is strictly
    * larger than the English reference map. Pruning keeps only the
    * top-N bigrams per model; a pruned bigram scores as unseen, which
    * is strictly more perplexed under EITHER model, so a pruned gate
    * can shift borderline excess values but the monotonicity argument
    * of lmScoreMaps (over-filter-never-admit) applies per model. */
  def excessGateStream(spark: org.apache.spark.sql.SparkSession,
      modelDir: String, docs: DataFrame, minExcess: Double = 0.0,
      maxBigramEntries: Int = Int.MaxValue): DataFrame = {
    val (mb2, mc2, slnV2) =
      graft.queries.Pipeline.lmScoreMapsAll(spark, modelDir, maxBigramEntries)
    val mb2Col = typedLit(mb2)
    val mc2Col = typedLit(mc2)
    val arr = col("arr")
    lmScored(spark, modelDir, docs, maxBigramEntries)
      .withColumn("cor_sum", aggregate(
        expr("sequence(0, size(arr)-2)"),
        lit(0L),
        (acc, i) =>
          acc + coalesce(element_at(mc2Col, element_at(arr, i + 1)), lit(slnV2)) -
            coalesce(element_at(mb2Col,
              concat(element_at(arr, i + 1), lit(" "), element_at(arr, i + 2))),
              lit(0L))))
      .withColumn("nll_ref",
        round(col("nll_sum").cast("double") / 100000000.0 / col("n_bigrams"), 6))
      .withColumn("nll_corpus",
        round(col("cor_sum").cast("double") / 100000000.0 / col("n_bigrams"), 6))
      .withColumn("excess_r", round(
        (col("cor_sum") - col("nll_sum")).cast("double") /
          lit(100000000.0) / col("n_bigrams"), 6))
      .select(col("doc_id"), col("n_bigrams"), col("nll_ref"),
        col("nll_corpus"), col("excess_r"),
        (col("excess_r") >= minExcess).as("kept"))
  }

  /** Streaming Gopher-rules gate — batch p52's metric/flag projection
    * (the SHARED Pipeline.gopherMetrics, so stream and batch flags are
    * definitionally identical) applied in-flight: keep documents passing
    * all five published rules. Per-row projection only, no state. */
  def gopherGateStream(docs: DataFrame): DataFrame =
    graft.queries.Pipeline.gopherMetrics(docs)
      .filter(col("pass"))
      .select(col("doc_id"), col("n_words"), round(col("mwl"), 6).as("mean_word_len"),
        round(col("stw"), 6).as("symbol_to_word"),
        round(col("alr"), 6).as("alpha_ratio"), col("n_stop"))

  /** Streaming readability gate — batch p82's Flesch projection (the
    * SHARED Pipeline.readabilityMetrics, so stream and batch scores and
    * bands are definitionally identical) applied in-flight: keep
    * documents at or above a minimum reading-ease score. Per-row
    * projection only — no join, no shuffle, no state. */
  def readabilityGateStream(docs: DataFrame, minFre: Double = 50.0): DataFrame =
    graft.queries.Pipeline.readabilityMetrics(docs)
      .filter(col("fre_r") >= minFre)
      .select(col("doc_id"), col("words"), col("sentences"),
        col("syllables"), col("fre_r"), col("band"))

  /** Streaming split-conformal admission gate — the streaming form of
    * batch p93: the threshold is fitted ONCE from the batch calibration
    * corpus (the ceil((n_cal+1)/4)-th smallest quantized Flesch bucket,
    * p93's exact integer rule via Pipeline.conformalThreshold) and
    * ships into the stream as one literal; each arriving document is
    * admitted iff its quantized score — the SHARED
    * Pipeline.conformalScored projection, so stream and batch buckets
    * are definitionally identical — clears it. Marginal miscoverage of
    * the admitted stream stays <= alpha = 1/4 by exchangeability with
    * the calibration set. Per-row projection only — no join, no
    * shuffle, no state. Expects `doc_id` and `text`; emits
    * (doc_id, q, thr, admitted). */
  def conformalGateStream(spark: org.apache.spark.sql.SparkSession,
      corpusDir: String, docs: DataFrame): DataFrame = {
    val thr = graft.queries.Pipeline.conformalThreshold(spark, corpusDir)
    graft.queries.Pipeline.conformalScored(docs)
      .select(col("doc_id"), col("q"), lit(thr).as("thr"),
        (col("q") >= thr).as("admitted"))
  }

  /** The per-doc hashed unigram+bigram feature-bucket multiset (the
    * batch dsirFeatures representation as one array column) — shared by
    * the LR and DSIR gates. Expects an `arr` token-array column. */
  private def hashedFeatureBuckets(implicit knobs: Knobs): org.apache.spark.sql.Column = {
    val b = knobs.dsirBuckets
    val arr = col("arr")
    def bucket(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      conv(substring(md5(e), 1, 15), 16, 10).cast("long") % b
    concat(
      transform(arr, w => bucket(w)),
      when(size(arr) >= 2,
        transform(expr("sequence(0, size(arr)-2)"), i =>
          bucket(concat(element_at(arr, i + 1), lit(" "),
            element_at(arr, i + 2)))))
        .otherwise(array().cast("array<bigint>")))
  }

  /** Streaming DSIR gate — the streaming form of batch p54: each
    * arriving document's importance weight (mean smoothed log-ratio of
    * its hashed feature occurrences vs the fitted target/raw
    * distributions) computed against the batch-fitted bucket table
    * shipped as a literal lookup map, with the smoothed unseen-bucket
    * default for vocabulary the fitted corpus never produced. One
    * stateless projection: no join, no shuffle, no state. Weights are
    * bit-identical to batch p54 on fitted-corpus docs (spec-proven).
    * Expects `doc_id` and `text`; emits (doc_id, n_feats, weight, kept). */
  def dsirGateStream(spark: org.apache.spark.sql.SparkSession,
      modelDir: String, docs: DataFrame, minWeight: Double = 0.0)(
      implicit knobs: Knobs): DataFrame = {
    val (lwt, dflt) = graft.queries.Pipeline.dsirWeightMaps(spark, modelDir)
    val lwtCol = typedLit(lwt)
    docs
      .withColumn("arr", split(col("text"), " "))
      .withColumn("fs", hashedFeatureBuckets)
      .withColumn("n_feats", size(col("fs")).cast("bigint"))
      .filter(col("n_feats") >= 1)
      .withColumn("ws", aggregate(
        col("fs"), lit(0L),
        (acc, bk) => acc + coalesce(element_at(lwtCol, bk), lit(dflt))))
      .withColumn("weight",
        round(col("ws").cast("double") / 100000000.0 / col("n_feats"), 6))
      .select(col("doc_id"), col("n_feats"), col("weight"),
        (col("weight") >= minWeight).as("kept"))
  }

  /** Streaming trained-classifier gate — the streaming form of batch
    * p55: each arriving document is scored under the BATCH-trained LR
    * weights (read from the staged LrStage parquet, fit once per
    * corpus) and kept iff its sigmoid score clears the threshold. The
    * weight table is bucket-bounded, so it ships as one literal lookup
    * map; the per-row score — hashed unigram+bigram features, scaled
    * tf, exact integer margin, sigmoid — is computed by a stateless
    * projection: no join, no shuffle, no streaming state. Margins are
    * the same integer dot products as batch, so scores are
    * bit-identical (spec-proven). Expects `doc_id` and `text`; emits
    * (doc_id, n_feats, score, kept). */
  def lrGateStream(spark: org.apache.spark.sql.SparkSession,
      modelDir: String, docs: DataFrame, minScore: Double = 0.5)(
      implicit knobs: Knobs): DataFrame = {
    val wm = graft.queries.Pipeline.LrStage.load(spark, modelDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wCol = typedLit(wm)
    docs
      .withColumn("arr", split(col("text"), " "))
      .withColumn("fs", hashedFeatureBuckets)
      .withColumn("dl", size(col("fs")).cast("bigint"))
      // exact integer margin, identical to batch: per DISTINCT bucket
      // tf = floor(count·1e6/dl + 0.5), margin = Σ tf·w + 1e6·w(-1)
      .withColumn("ms", aggregate(
        array_distinct(col("fs")),
        lit(1000000L * wm.getOrElse(-1L, 0L)),
        (acc, bk) => acc +
          floor(size(filter(col("fs"), x => x === bk)).cast("double") *
            lit(1000000.0) / col("dl") + lit(0.5)).cast("long") *
            coalesce(element_at(wCol, bk), lit(0L))))
      .withColumn("score_r", round(expr(
        "1.0/(1.0 + exp(-(CAST(ms AS DOUBLE)/100000000000000.0)))"), 6))
      .select(col("doc_id"), col("dl").as("n_feats"), col("score_r"),
        (col("score_r") >= minScore).as("kept"))
  }

  /** Streaming HyperLogLog vocabulary registers — the streaming form of
    * the batch p39/p39b sketch, completing for the sketch family what
    * [[nearDedupStream]] did for batch p04: per-row text → distinct
    * shingles → (register, rank) updates (a stateless codegen'd
    * projection shared verbatim with the batch side), then ONE streaming
    * aggregation whose state is bounded BY CONSTRUCTION at 256 rows —
    * the register index is 8 hash bits — regardless of stream length or
    * cardinality. No watermark needed: bounded state is the sketch's own
    * guarantee, which is exactly why HLL is the 100 TB shape for "how
    * many distinct shingles has this stream carried so far". Run in
    * Complete mode; applying the batch estimator constant to the sink's
    * 256 rows yields the running cardinality estimate (the p39b → p39
    * relationship, spec-proven equal to the batch registers on the same
    * rows). Expects a `text` column. */
  def vocabRegistersStream(docs: DataFrame): DataFrame =
    graft.queries.Pipeline.hllRegisterUpdates(docs)
      .groupBy(col("idx")).agg(max(col("rho")).as("rho"))

  /** Streaming count-min cells for heavy-hitter bigrams — the streaming
    * form of batch p40's sketch state: per-row bigram → (depth, position)
    * cell updates (shared verbatim with the batch side), then ONE
    * streaming aggregation bounded at depth·width = 32768 rows (256 KiB)
    * regardless of stream length. Complete mode; ranking candidates
    * against the sink's cell table (min over depths) is a batch step,
    * exactly as in p40. Expects a `text` column. */
  def bigramCellsStream(docs: DataFrame)(implicit knobs: Knobs): DataFrame =
    graft.queries.Pipeline.cmsCellUpdates(docs)
      .groupBy(col("j"), col("pos")).agg(count(lit(1)).as("c"))

  /** Streaming CHUNK-level exact dedup — batch p50's window explode over
    * a stream (the shared Pipeline.chunkFingerprints projection, so the
    * stream and batch fingerprints are definitionally identical) feeding
    * the dedupStream state shape: first occurrence of each chunk
    * fingerprint within the watermark window survives. The window text
    * dies before the stateful op — state is one 16-byte md5 per DISTINCT
    * chunk per watermark window, and the pre-state stream is stateless
    * per-row work (explode + md5), no shuffle. Emits (ts, doc_id,
    * chunk_no, n_tok, fp) for surviving chunks. Expects `ts`, `doc_id`,
    * `text`. */
  def chunkDedupStream(docs: DataFrame,
      watermarkDelay: String = "1 hour")(implicit knobs: Knobs): DataFrame =
    graft.queries.Pipeline.chunkFingerprints(docs)
      .select(col("ts"), col("doc_id"), col("chunk_no"), col("n_tok"), col("fp"))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming Gear-CDC chunker — batch p72's kernel VERBATIM
    * ([[graft.queries.Pipeline.cdcChunked]]: same gear table, same
    * windowed closed-form hash, same mask dial), applied per arriving
    * document: stateless per-row arithmetic, no shuffle, no state at
    * all; the chunk text dies at md5 in the same projection. Emits
    * (ts, doc_id, fp, l) — the chunk-store ingestion feed whose
    * fingerprints are definitionally identical to what batch p72
    * computes over the same rows. Compose with
    * `dropDuplicatesWithinWatermark("fp")` (the [[chunkDedupStream]]
    * pattern) for windowed chunk-level dedup. Expects `ts`, `doc_id`,
    * `text`. */
  def cdcChunkStream(docs: DataFrame)(implicit knobs: Knobs): DataFrame =
    graft.queries.Pipeline.cdcChunked(docs, Seq("ts", "doc_id"))
      .select(col("ts"), col("doc_id"), md5(col("chunk")).as("fp"),
        length(col("chunk")).as("l"))

  /** Streaming token-count histogram — batch p49b's sketch state over a
    * stream: the same per-row bucket projection (fixed width 16, 256
    * buckets), one streaming aggregation whose state is bounded at 256
    * rows BY CONSTRUCTION regardless of stream length, no watermark
    * needed. Complete mode; quantile read-off (p49's interpolation) is a
    * batch step over the sink's 256-row table. Expects a `text` column. */
  def tokenHistogramStream(docs: DataFrame): DataFrame =
    graft.queries.Pipeline.tokenBucketProjection(docs)
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))

  final case class SemanticDedupResult(vec_id: Long, cell: Long, kept: Boolean)

  /** STREAMING semantic near-dup dedup — the streaming form of batch
    * p32 (SemDeDup), made scale-viable by the PQ codes: each arriving
    * vector is assigned to its fitted k-means cell and compressed to M
    * one-byte codes by stateless broadcast projections (no shuffle
    * before the stateful op), then a per-CELL state of previously KEPT
    * rows decides near-dup-or-not by code-to-code approximate cosine
    * (symmetric ADC over a 2 KB driver-collected centroid-dot table).
    * State per kept row is its id plus M bytes — 8+M bytes instead of
    * the 4·d-byte embedding (36 vs 264 at the defaults), which is the
    * difference between a streaming dedup that fits executor memory at
    * 100 TB/day and one that cannot. Within a micro-batch rows process
    * in (event-time, id) order, so a replay with the same batching
    * reproduces the same keep/drop decisions. Expects (vec_id, ts,
    * embedding); the index artifacts are read from `indexDir`'s staged
    * CellStage/PqStage (fit once in batch, stream against them). */
  def semanticDedupStream(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, docs: DataFrame,
      threshold: Double = 0.4)(implicit knobs: Knobs): Dataset[SemanticDedupResult] = {
    import spark.implicits._
    val (m, dots, norms) = graft.queries.Pipeline.pqSdcTables(spark, indexDir)
    def approxSim(a: Seq[Int], b: Seq[Int]): Double = {
      var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < m) {
        s += dots((i, a(i), b(i)))
        na += norms((i, a(i))); nb += norms((i, b(i)))
        i += 1
      }
      s / (math.sqrt(na) * math.sqrt(nb))
    }
    graft.queries.Pipeline.streamSemanticPrep(spark, indexDir, docs)
      .select(col("vec_id"), col("ts"), col("cell"), col("codes"))
      .as[(Long, java.sql.Timestamp, Long, Seq[Int])]
      .groupByKey(_._3)
      .flatMapGroupsWithState[List[(Long, Seq[Int])], SemanticDedupResult](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (cell: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Seq[Int])],
         state: GroupState[List[(Long, Seq[Int])]]) =>
          var kept = state.getOption.getOrElse(Nil)
          val out = rows.toSeq.sortBy(r => (r._2.getTime, r._1))
            .map { case (id, _, _, codes) =>
              val dup = kept.exists { case (_, kc) =>
                approxSim(kc, codes) >= threshold }
              if (!dup) kept = (id, codes) :: kept
              SemanticDedupResult(id, cell, kept = !dup)
            }
          state.update(kept)
          out.iterator
      }
  }

  /** Index-STALENESS monitor for the frozen quantizer behind
    * [[semanticDedupStream]]: the dedup stream encodes against a
    * batch-fitted CellStage/PqStage, and on a drifting corpus the frozen
    * codebook's reconstruction error rises — which is exactly the
    * quantity batch p44 pins. This stream measures the windowed mean PQ
    * reconstruction error of ARRIVING vectors (same broadcast expression
    * as p44, no shuffle before the windowed aggregate) against the
    * fitted-corpus baseline, and raises `refit_due` once the ratio
    * crosses `refitRatio`.
    *
    * The REFIT RULE (see SCALE.md): when `refit_due` fires —
    *  1. re-stage the index over a fresh corpus slice that includes the
    *     drifted data (CellStage/PqStage under a new staging root; the
    *     batch fit is deterministic and cheap relative to the stream);
    *  2. stop the dedup stream and resume it FROM ITS CHECKPOINT against
    *     the new index dir (the restart pattern EventStreamsSpec pins for
    *     the sketch streams): kept-row state keys (ids) remain valid, and
    *     codes re-encode lazily as rows arrive;
    *  3. the monitor's baseline recomputes at restart from the new
    *     staged artifacts.
    * Emits (window_start, n, mean_sse, baseline_sse, drift_ratio,
    * refit_due) per closed event-time window. */
  def indexDriftStream(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, docs: DataFrame,
      windowDur: String = "1 hour", watermarkDelay: String = "1 hour",
      refitRatio: Double = 1.5)(implicit knobs: Knobs): DataFrame = {
    val baseline = graft.queries.Pipeline.pqSseBaseline(spark, indexDir)
    // A memorizing codebook (baseline exactly 0 — realistic at tiny
    // validation scale) floors the denominator: any nonzero arriving
    // error is then correctly read as drift (huge ratio), while a
    // zero-error stream stays healthy instead of 0 >= 0*ratio = true.
    val safeBase = math.max(baseline, 1e-12)
    graft.queries.Pipeline.withPqSse(spark, indexDir, docs)
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur))
      .agg(count(lit(1)).as("n"), avg(col("sse")).as("mean_sse"))
      .select(col("window.start").as("window_start"), col("n"),
        round(col("mean_sse"), 6).as("mean_sse"),
        lit(baseline).as("baseline_sse"),
        round(col("mean_sse") / lit(safeBase), 6).as("drift_ratio"),
        (col("mean_sse") >= lit(safeBase * refitRatio)).as("refit_due"))
  }

  /** The frozen LM's STALENESS monitor — [[indexDriftStream]]'s shape
    * applied to the perplexity/LR gates' other failure mode: a drifting
    * vocabulary. Each arriving document's bigram-OOV count against the
    * batch-fitted model is a stateless lookup-map projection (the same
    * literal maps the gate scores with); windowed mean OOV rate compares
    * against the fitted corpus's own baseline, `refit_due` past the
    * ratio dial. The refit rule is the one SCALE.md documents for the PQ
    * index: re-fit the model on a current slice (the batch fit is
    * deterministic and staged), then resume the gates from checkpoint —
    * the spec executes it end-to-end on a vocabulary-shifted stream.
    * Expects `ts` and `text`. */
  def lmDriftStream(spark: org.apache.spark.sql.SparkSession,
      modelDir: String, docs: DataFrame,
      windowDur: String = "1 hour", watermarkDelay: String = "1 hour",
      refitRatio: Double = 3.0): DataFrame = {
    val baseline = graft.queries.Pipeline.lmOovBaseline(spark, modelDir)
    // an exhaustive model (baseline exactly 0) floors the denominator,
    // same rationale as indexDriftStream
    val safeBase = math.max(baseline, 1e-12)
    val (mb, _, _) = graft.queries.Pipeline.lmScoreMaps(spark, modelDir)
    val mbCol = typedLit(mb)
    val arr = col("arr")
    docs
      .withColumn("arr", split(col("text"), " "))
      .filter(size(arr) >= 2)
      .withColumn("n_b", (size(arr) - 1).cast("bigint"))
      .withColumn("n_oov", aggregate(
        expr("sequence(0, size(arr)-2)"),
        lit(0L),
        (acc, i) => acc + when(element_at(mbCol,
          concat(element_at(arr, i + 1), lit(" "), element_at(arr, i + 2)))
            .isNull, 1L).otherwise(0L)))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_oov")).as("oov"), sum(col("n_b")).as("nb"))
      .select(col("window.start").as("window_start"), col("n_docs"),
        round(col("oov").cast("double") / col("nb"), 6).as("oov_rate"),
        lit(baseline).as("baseline_oov"),
        round(col("oov").cast("double") / col("nb") / lit(safeBase), 6)
          .as("drift_ratio"),
        (col("oov").cast("double") / col("nb") >= lit(safeBase * refitRatio))
          .as("refit_due"))
  }

  /** Wire a streaming DataFrame to an in-memory sink (tests / demos). */
  def toMemorySink(df: DataFrame, name: String, complete: Boolean = true) =
    df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(if (complete) OutputMode.Complete else OutputMode.Update)
}
