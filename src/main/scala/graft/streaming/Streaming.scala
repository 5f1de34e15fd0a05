package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-user session accumulator — top-level (not nested/private) so the
  * state encoder's generated code can reach its constructor. */
case class SessionState(start: Long, end: Long, n: Long, total: Double)

/** Structured-Streaming operators — the in-engine upgrade of the
  * reference's 10-minute full-batch re-run (`airflow.py:31`, SURVEY.md §2
  * O34). The reference has no event-time semantics at all; these give the
  * rebuilt engine real streaming capability: watermarked tumbling-window
  * aggregation and gap-based sessionization with typed state.
  *
  * Every transform takes a (possibly streaming) events frame with the
  * testdata schema `(event_id, ts, user_id, event_type, value, …)` so the
  * same code runs over `readStream` sources and over batch frames in tests.
  *
  * 17 keyed stateful operators share one [[fold]]. Seven keep their own
  * `flatMapGroupsWithState` because their shape differs: [[sessionize]] closes sessions on an
  * event-time timeout; [[lastTouchAttribution]] and [[vocabRegister]] may
  * leave a key's state absent after a batch; [[ewmaHalfLife]],
  * [[holtTrend]], [[holtWintersStream]] and [[cohortRetention]] seed
  * their state from a key's first row rather than from a constant.
  */
object Streaming {

  /** The keyed state fold under the stateful operators: group `ds` by
    * `key`, and for each key in each micro-batch hand `step` the key, the
    * batch's rows and the carried state (`init` when the key has none
    * yet); store the state `step` returns and emit its rows. Append mode,
    * no timeout, and the state is updated after every batch.
    *
    * `init` is by-name, so every key starts from a value of its own:
    * [[hllSketch]] and [[cmsRowSquares]] mutate an array state in place,
    * and one shared init would alias that array across the keys of a
    * task. `step` returns its final state with its output already
    * materialised (a buffer, not a lazy iterator over the rows): the
    * state is stored as soon as `step` returns. */
  private def fold[T, K: Encoder, S: Encoder, U: Encoder](ds: Dataset[T])(key: T => K)(
      init: => S)(step: (K, Iterator[T], S) => (S, Iterator[U])): Dataset[U] =
    ds.groupByKey(key).flatMapGroupsWithState[S, U](
      OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
      (k: K, it: Iterator[T], state: GroupState[S]) =>
        val (next, out) = step(k, it, state.getOption.getOrElse(init))
        state.update(next)
        out
    }

  /** Watermarked tumbling-window counts per event type — the streaming
    * analog of the batch query q17. State is bounded by the watermark:
    * windows older than `watermark` behind the max seen event time are
    * finalized and dropped, so this runs forever at 100 TB/day without
    * unbounded state. */
  def windowedEventCounts(events: DataFrame,
                          window: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n"), col("sum_value"))

  /** SLIDING-window variant of [[windowedEventCounts]]: each event lands
    * in `window/slide` overlapping windows (Spark's `window(ts, win,
    * slide)` generates them row-locally — the fan-out is in the Generate,
    * not a join). State per key is bounded by (windows overlapping the
    * watermark horizon) × event_type, exactly like the tumbling form. */
  def slidingEventCounts(events: DataFrame, window: String, slide: String,
                         watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window, slide),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n"), col("sum_value"))

  /** O34 in-engine variant: the reference's 10-minute full re-run
    * (`airflow.py:31`) as a Structured-Streaming file source +
    * `foreachBatch` — each micro-batch runs an arbitrary batch transform
    * over the newly-arrived files and lands the result. `Trigger
    * .AvailableNow` drains what exists and stops (tests/backfills);
    * `Trigger.ProcessingTime("10 minutes")` matches the DAG's cron. */
  def microBatch(spark: org.apache.spark.sql.SparkSession,
                 sourceDir: String,
                 schema: org.apache.spark.sql.types.StructType,
                 transform: DataFrame => DataFrame,
                 sink: (DataFrame, Long) => Unit,
                 checkpoint: String,
                 trigger: org.apache.spark.sql.streaming.Trigger =
                   org.apache.spark.sql.streaming.Trigger.AvailableNow()) = {
    spark.readStream
      .schema(schema)
      .option("header", "true")
      .csv(sourceDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) => sink(transform(batch), id) }
      .start()
  }

  /** Stream-stream inner join within a time bound: both sides carry
    * watermarks, the join condition is `key equality AND |l.ts - r.ts| ≤
    * bound`, so Spark can expire buffered state on both sides — bounded
    * memory on unbounded streams. The canonical ad-tech shape
    * (impressions ⋈ clicks). */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
                       boundSeconds: Long,
                       leftWatermark: String = "1 hour",
                       rightWatermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", leftWatermark).alias("l")
    val r = right.withWatermark("ts", rightWatermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col("r.ts") >= col("l.ts") &&
        col("r.ts") <= col("l.ts") + expr(s"INTERVAL $boundSeconds SECONDS"))
  }

  /** Streaming exact dedup: drop re-deliveries of the same key while the
    * watermark bounds the dedup state (keys older than the watermark are
    * evicted — without it, state grows forever). The streaming counterpart
    * of `Dedup.dedupExact`. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class Session(user_id: Long, start: Timestamp, end: Timestamp,
                     n_events: Long, total_value: Double)

  /** Gap-based sessionization with `flatMapGroupsWithState`: per-user
    * typed state, a session closes when `gapMs` passes with no events
    * (enforced via event-time timeout against the watermark — state stays
    * bounded). Emits one row per closed session.
    *
    * In batch mode (tests) Spark runs each group once with all its events
    * and no timeouts fire, so sessions are closed inline by gap-splitting
    * the sorted event times; the same code object serves both. */
  def sessionize(events: Dataset[Event], gapMs: Long,
                 watermarkDelay: String = "1 hour"): Dataset[Session] = {
    import events.sparkSession.implicits._

    val isStreaming = events.isStreaming
    val src = if (isStreaming) events.withWatermark("ts", watermarkDelay) else events

    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new Timestamp(s.start), new Timestamp(s.end), s.n, s.total))
          } else {
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(SessionState(s.start, math.max(s.end, t), s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= Session(userId, new Timestamp(s.start), new Timestamp(s.end), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur match {
              case Some(s) if isStreaming =>
                state.update(s)
                // a timeout at or below the current watermark is rejected by
                // Spark; clamp so an already-expired session closes at the
                // next micro-batch instead of crashing the query
                state.setTimeoutTimestamp(
                  math.max(s.end + gapMs, state.getCurrentWatermarkMs() + 1))
              case Some(s) => // batch: no timeout will ever fire — close inline
                closed ::= Session(userId, new Timestamp(s.start), new Timestamp(s.end), s.n, s.total)
              case None => ()
            }
            closed.reverseIterator
          }
      }
  }

  case class CandidatePair(band: Int, bkey: String, doc_a: Long, doc_b: Long)

  /** Stateful streaming LSH near-dup candidate generation: arrivals are
    * (band, bkey, doc_id) rows from [[graft.llm.Dedup.bandBuckets]]; per
    * bucket, every new doc is paired against the docs already seen there,
    * so the UNION of emitted pairs over the whole stream equals the batch
    * bucket self-join — independent of arrival order or micro-batch
    * boundaries (pair sets are symmetric in arrival order; the
    * certification query compares against the batch oracle's exact pair
    * set).
    *
    * State is the bucket's member list, keyed by (band, bkey) — compact
    * (ids only; signatures live in the key) but UNBOUNDED, like any
    * dedup-against-all-history: a production deployment bounds it with a
    * processing-time TTL (evicting a bucket forgets old near-dup partners,
    * the standard freshness/recall trade) or periodic state compaction.
    *
    * The degenerate-bucket cap is applied DOWNSTREAM (batch post-filter on
    * FINAL bucket size): a stream can't know a bucket's final size, and
    * dropping state mid-stream would silently diverge from the batch cap
    * semantics. But pair EMISSION stops at `maxBucket` members: once a
    * bucket has exceeded the cap it is guaranteed to be dropped entirely
    * by that post-filter, so every further pair is doomed — emitting them
    * only pays O(members²) shuffle for rows the anti-join deletes.
    * (Measured on q146's certification corpus: 32-bit fingerprints
    * cluster into a few >2k-member buckets; uncapped emission cost 81 s
    * of doomed pairs vs ~4 s capped, identical final output.)
    */
  def lshCandidateStream(arrivals: Dataset[graft.llm.BandBucket],
                         maxBucket: Int = 1000): Dataset[CandidatePair] = {
    import arrivals.sparkSession.implicits._
    fold(arrivals)(a => (a.band, a.bkey))(Seq.empty[Long]) { (key, it, seen0) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[CandidatePair]
      var seen = seen0
      val members = scala.collection.mutable.HashSet.from(seen)
      // sorted for deterministic per-batch emission order; the emitted
      // SET is order-independent regardless
      it.map(_.doc_id).toSeq.distinct.sorted.foreach { id =>
        if (!members(id)) {
          // pair only while the bucket is within the batch cap — a
          // bucket that ends over maxBucket is dropped wholesale by
          // the downstream post-filter, so pairs past the cap can
          // never appear in the final result either way
          if (seen.size < maxBucket) {
            seen.foreach { prev =>
              out += CandidatePair(key._1, key._2,
                math.min(prev, id), math.max(prev, id))
            }
          }
          seen = seen :+ id
          members += id
        }
      }
      (seen, out.iterator)
    }
  }

  case class SourceDoc(source: String, doc_id: Long)
  case class AdmittedDoc(source: String, doc_id: Long, admit_rank: Long)

  /** Stateful streaming per-source admission cap — the streaming form of
    * [[graft.llm.Sampling.capPerSource]]'s "max docs per domain" rule:
    * admit the first `k` documents of each source IN ARRIVAL ORDER and
    * drop the rest, across micro-batch boundaries.
    *
    * State is ONE long per source (the admitted count) — bounded by the
    * source cardinality, the cheapest state shape a stateful operator can
    * have; no TTL needed. Within a batch the group's rows are admitted in
    * doc_id order (the iterator's order is not contractual); ACROSS
    * batches the admission order is the replay order, so the
    * certification stages doc_id-range files with ordered mtimes and the
    * result equals the batch "k smallest doc_ids per source". A
    * production stream admits in true arrival order — the point of the
    * operator — and has no batch-equivalent to certify against.
    */
  def admitFirstK(arrivals: Dataset[SourceDoc], k: Long): Dataset[AdmittedDoc] = {
    require(k >= 1, s"cap must be >= 1 (got $k)")
    import arrivals.sparkSession.implicits._
    fold(arrivals)(_.source)(0L) { (source, it, admitted0) =>
      var admitted = admitted0
      val out = scala.collection.mutable.ArrayBuffer.empty[AdmittedDoc]
      it.map(_.doc_id).toSeq.sorted.foreach { id =>
        if (admitted < k) {
          admitted += 1
          out += AdmittedDoc(source, id, admitted)
        }
      }
      (admitted, out.iterator)
    }
  }

  case class KeyedObs(user_id: Long, tsm: Long, event_id: Long, x: Long)
  case class EwmaOut(user_id: Long, event_id: Long, x: Long, ewma: Long)

  /** Stateful streaming integer EWMA — the streaming form of
    * [[graft.operators.Ewma.halfLife]]: the same value-recursive fold
    * `s₀ = x₀; sₜ = (sₜ₋₁ + xₜ) div 2`, carried ACROSS micro-batch
    * boundaries. State is one long per key (the last smoothed value) —
    * the recurrence needs nothing else, so state size is |keys|,
    * independent of history length: the unbounded-history property of
    * the batch sorted-run fold holds in the stream too.
    *
    * Within a batch, a key's rows are folded in (tsm, event_id) order
    * (iterator order is not contractual); ACROSS batches ordering is the
    * replay's staged order — under event-time-ordered replay the stream
    * output equals the batch fold row-for-row, which is what the
    * certification query hash-checks.
    */
  def ewmaHalfLife(arrivals: Dataset[KeyedObs]): Dataset[EwmaOut] = {
    import arrivals.sparkSession.implicits._
    arrivals
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, EwmaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[KeyedObs], state: GroupState[Long]) =>
          var s = 0L
          var init = state.getOption.isDefined
          if (init) s = state.get
          val out = scala.collection.mutable.ArrayBuffer.empty[EwmaOut]
          it.toSeq.sortBy(o => (o.tsm, o.event_id)).foreach { o =>
            require(o.x >= 0L,
              s"ewmaHalfLife requires non-negative inputs (got ${o.x})")
            if (!init) { s = o.x; init = true }
            else s = (s + o.x) / 2
            out += EwmaOut(userId, o.event_id, o.x, s)
          }
          if (init) state.update(s)
          out.iterator
      }
  }

  case class HoltOut(user_id: Long, event_id: Long, x: Long, level: Long,
                     trend: Long)

  /** Stateful streaming HOLT smoothing — the streaming form of
    * [[graft.operators.Ewma.holt]]: the coupled (level, trend) integer
    * recurrence carried ACROSS micro-batch boundaries with TWO longs of
    * state per key (the q208 EWMA certification shape, doubled — exactly
    * the state a window/fold can't carry live). Signed inputs are legal;
    * JVM truncating division matches the batch fold and the DuckDB
    * replay. Under event-time-ordered replay the stream output equals
    * the batch fold row-for-row — what the certification hash-checks. */
  def holtTrend(arrivals: Dataset[KeyedObs]): Dataset[HoltOut] = {
    import arrivals.sparkSession.implicits._
    arrivals
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), HoltOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[KeyedObs],
         state: GroupState[(Long, Long)]) =>
          var init = state.getOption.isDefined
          var l = 0L
          var b = 0L
          if (init) { val s0 = state.get; l = s0._1; b = s0._2 }
          val out = scala.collection.mutable.ArrayBuffer.empty[HoltOut]
          it.toSeq.sortBy(o => (o.tsm, o.event_id)).foreach { o =>
            if (!init) { l = o.x; b = 0L; init = true }
            else { val l1 = (l + b + o.x) / 2; b = (b + l1 - l) / 2; l = l1 }
            out += HoltOut(userId, o.event_id, o.x, l, b)
          }
          if (init) state.update((l, b))
          out.iterator
      }
  }

  /** One (series, order, value) arrival for a string-keyed series. */
  case class HwObs(event_type: String, day: Long, x: Long)
  case class HwOut(event_type: String, day: Long, x: Long, level: Long,
                   trend: Long, seas: Long)

  /** Stateful streaming HOLT–WINTERS — the streaming form of
    * [[graft.operators.Ewma.holtWinters]]: level, trend, AND the m
    * seasonal slots carried across micro-batch boundaries with m + 3
    * longs of state per key (the q265 Holt certification shape plus the
    * seasonal ring — the largest per-key state machine in the suite
    * after the priority-sample winner list, still O(m) no matter how
    * long the series runs). Under order-staged replay the stream output
    * equals the batch fold row-for-row. */
  def holtWintersStream(arrivals: Dataset[HwObs], m: Int): Dataset[HwOut] = {
    import arrivals.sparkSession.implicits._
    arrivals
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[(Long, Long, Long, Seq[Long]), HwOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[HwObs],
         state: GroupState[(Long, Long, Long, Seq[Long])]) =>
          var init = state.getOption.isDefined
          var l = 0L; var b = 0L; var t = 0L
          val seas = new Array[Long](m)
          if (init) {
            val s0 = state.get
            l = s0._1; b = s0._2; t = s0._3
            s0._4.copyToArray(seas)
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[HwOut]
          it.toSeq.sortBy(_.day).foreach { o =>
            if (!init) {
              l = o.x; b = 0L; t = 1L; init = true
              out += HwOut(key, o.day, o.x, l, b, 0L)
            } else {
              t += 1
              val j = ((t - 1) % m).toInt
              val sp = seas(j)
              val l1 = (l + b + (o.x - sp)) / 2
              val b1 = (b + l1 - l) / 2
              val s1 = (sp + (o.x - l1)) / 2
              l = l1; b = b1; seas(j) = s1
              out += HwOut(key, o.day, o.x, l1, b1, s1)
            }
          }
          if (init) state.update((l, b, t, seas.toSeq))
          out.iterator
      }
  }

  case class CusumOut(user_id: Long, event_id: Long, x: Long, cusum: Long,
                      alarm: Boolean)

  /** Stateful streaming CUSUM — the streaming form of
    * [[graft.operators.Cusum.drift]]: `sₜ = max(0, sₜ₋₁ + xₜ − k)` carried
    * across micro-batch boundaries with ONE long of state per key (the
    * max(0,·) recurrence needs no init distinct from its step, so the
    * empty state IS the s₀ = 0 seed). Same ordering contract as
    * [[ewmaHalfLife]]: within a batch rows fold in (tsm, event_id)
    * order; across batches the replay's staged order. A drift monitor
    * that never rescans history and never grows state — the always-on
    * data-quality sentinel shape. */
  def cusumDrift(arrivals: Dataset[KeyedObs], k: Long, h: Long): Dataset[CusumOut] = {
    import arrivals.sparkSession.implicits._
    fold(arrivals)(_.user_id)(0L) { (userId, it, s0) =>
      var s = s0
      val out = scala.collection.mutable.ArrayBuffer.empty[CusumOut]
      it.toSeq.sortBy(o => (o.tsm, o.event_id)).foreach { o =>
        s = math.max(0L, s + o.x - k)
        out += CusumOut(userId, o.event_id, o.x, s, s > h)
      }
      (s, out.iterator)
    }
  }

  case class DfaOut(user_id: Long, event_id: Long, x: Long, dfa: Long)

  /** Stateful streaming pattern matcher — the streaming form of
    * [[graft.operators.PatternDfa.fold]]: the view→click→purchase
    * automaton advanced across micro-batch boundaries with ONE long of
    * state per key (the automaton's packed state IS its carry, and
    * `init = step(0, x)`, so the empty state seeds itself). Same
    * ordering contract as [[ewmaHalfLife]]/[[cusumDrift]]. The always-on
    * funnel-completion counter: no history rescan, |keys|-bounded
    * state. */
  def patternDfa(arrivals: Dataset[KeyedObs]): Dataset[DfaOut] = {
    import arrivals.sparkSession.implicits._
    fold(arrivals)(_.user_id)(0L) { (userId, it, s0) =>
      var s = s0
      val out = scala.collection.mutable.ArrayBuffer.empty[DfaOut]
      it.toSeq.sortBy(o => (o.tsm, o.event_id)).foreach { o =>
        s = graft.operators.PatternDfa.step(s, o.x)
        out += DfaOut(userId, o.event_id, o.x, s)
      }
      (s, out.iterator)
    }
  }

  case class SourceTokDoc(source: String, doc_id: Long, n_tokens: Long)
  case class AdmittedTokDoc(source: String, doc_id: Long, cum_tokens: Long)

  /** Stateful streaming per-source TOKEN budget — the streaming form of
    * [[graft.llm.Sampling.tokenBudgetPerSource]]: admit documents while
    * the source's cumulative token count stays within `budget`, across
    * micro-batch boundaries. The first document that would push the
    * running total past the budget CLOSES the source (prefix semantics,
    * exactly the batch operator's rule — monotone cum, no best-fit
    * backfilling), so batch and stream agree document-for-document under
    * ordered replay.
    *
    * State is ONE long per source (the cumulative token count, saturated
    * to budget+1 once closed) — the same bounded state shape as
    * [[admitFirstK]]. Within a batch rows are processed in doc_id order
    * (iterator order is not contractual); across batches the replay
    * order is the certification's staged order.
    */
  def admitTokenBudget(arrivals: Dataset[SourceTokDoc],
                       budget: Long): Dataset[AdmittedTokDoc] = {
    require(budget >= 1, s"budget must be >= 1 (got $budget)")
    import arrivals.sparkSession.implicits._
    fold(arrivals)(_.source)(0L) { (source, it, cum0) =>
      var cum = cum0
      var closed = cum > budget
      val out = scala.collection.mutable.ArrayBuffer.empty[AdmittedTokDoc]
      it.toSeq.sortBy(d => (d.doc_id, d.n_tokens)).foreach { d =>
        if (!closed) {
          if (cum + d.n_tokens <= budget) {
            cum += d.n_tokens
            out += AdmittedTokDoc(source, d.doc_id, cum)
          } else {
            // overflow doc closes the source for good (prefix rule);
            // saturate the state so replays stay closed
            closed = true
            cum = budget + 1
          }
        }
      }
      (cum, out.iterator)
    }
  }

  case class AttributionOut(user_id: Long, event_id: Long,
                            view_id: Option[Long], attributed: Boolean)

  /** Stateful streaming LAST-TOUCH ATTRIBUTION — the streaming form of
    * the q220 batch window query: each purchase is credited to the
    * user's most recent view within `lookbackMs`, with the last view's
    * (tsm, event_id) carried ACROSS micro-batch boundaries as TWO longs
    * of state per user. This is the always-on marketing-attribution
    * shape: no per-user history buffer, no rescan — the batch query's
    * unbounded-preceding IGNORE-NULLS window collapses to a single
    * carried value because only the LATEST view can ever win.
    *
    * The event-type code rides [[KeyedObs]].x: 1 = view, 2 = purchase,
    * 0 = anything else (ignored but it still flows through ordering).
    * Within a batch rows fold in (tsm, event_id) order (iterator order
    * is not contractual); across batches the replay's staged order —
    * under event-time-ordered replay the emitted purchases hash-match
    * the batch oracle row-for-row. */
  def lastTouchAttribution(arrivals: Dataset[KeyedObs],
                           lookbackMs: Long): Dataset[AttributionOut] = {
    require(lookbackMs >= 0, s"lookbackMs must be >= 0 (got $lookbackMs)")
    import arrivals.sparkSession.implicits._
    arrivals
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), AttributionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[KeyedObs], state: GroupState[(Long, Long)]) =>
          var has = state.getOption.isDefined
          var vt = 0L
          var vid = 0L
          state.getOption.foreach { case (t, i) => vt = t; vid = i }
          val out = scala.collection.mutable.ArrayBuffer.empty[AttributionOut]
          it.toSeq.sortBy(o => (o.tsm, o.event_id)).foreach { o =>
            if (o.x == 1L) { vt = o.tsm; vid = o.event_id; has = true }
            else if (o.x == 2L) {
              val ok = has && vt >= o.tsm - lookbackMs
              out += AttributionOut(userId, o.event_id,
                if (ok) Some(vid) else None, ok)
            }
          }
          if (has) state.update((vt, vid))
          out.iterator
      }
  }

  case class RetentionOut(cohort_week: Long, offset_weeks: Long)

  /** Stateful streaming COHORT RETENTION — the streaming form of the
    * batch retention triangle (q292): each user's state is exactly TWO
    * longs (the cohort week = first week ever seen, plus a 64-bit
    * seen-offset bitmask), and every (cohort, offset) cell is emitted
    * exactly once per user, so a downstream count over the emitted pairs
    * IS the distinct-user cell count — no per-user history, no distinct
    * aggregation over the corpus. The unbounded-history property: state
    * size is |users| × 2 longs no matter how many events arrive.
    *
    * Requires event-time-ordered replay (the certification's staged
    * order): the first week seen must be the user's true minimum for the
    * cohort assignment to match the batch `min(week)`. Offsets ≥ 64
    * would need a wider mask and fail fast with a contract-naming error.
    * The observed week rides [[KeyedObs]].x. */
  def cohortRetention(arrivals: Dataset[KeyedObs]): Dataset[RetentionOut] = {
    import arrivals.sparkSession.implicits._
    arrivals
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), RetentionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[KeyedObs], state: GroupState[(Long, Long)]) =>
          var has = state.getOption.isDefined
          var cw = 0L
          var mask = 0L
          state.getOption.foreach { case (c, m) => cw = c; mask = m }
          val out = scala.collection.mutable.ArrayBuffer.empty[RetentionOut]
          it.toSeq.sortBy(o => (o.tsm, o.event_id)).foreach { o =>
            if (!has) { cw = o.x; mask = 0L; has = true }
            val off = o.x - cw
            require(off >= 0 && off < 64,
              s"cohortRetention: offset $off outside [0, 64) for user $userId " +
                "— replay must be event-time-ordered and each user's activity " +
                "must span < 64 weeks (widen the mask for longer horizons)")
            if ((mask & (1L << off)) == 0L) {
              mask |= 1L << off
              out += RetentionOut(cw, off)
            }
          }
          if (has) state.update((cw, mask))
          out.iterator
      }
  }

  case class CovisitOut(a: Long, b: Long)

  /** Stateful streaming CO-VISITATION pairs — the streaming form of the
    * q228 batch lead-window query: every event pairs with each of the
    * user's PREVIOUS `k` events whose timestamp is within `lookbackMs`.
    * State is a ring of the user's last `k` (tsm, event_id, code)
    * triples — the batch `lead(·, 1..k)` lookAHEAD becomes a lookBACK
    * against the carried ring, which is the only direction an append
    * stream can pair in; under event-time-ordered replay the emitted
    * pair multiset is identical (pair (p, o) exists iff o is within p's
    * next k events and the time gate holds — the same predicate read
    * from the other end). State is k triples per user, independent of
    * history length. */
  def covisitPairs(arrivals: Dataset[KeyedObs], lookbackMs: Long,
                   k: Int): Dataset[CovisitOut] = {
    require(k >= 1 && k <= 16, s"ring size k must be in [1,16] (got $k)")
    import arrivals.sparkSession.implicits._
    fold(arrivals)(_.user_id)(Seq.empty[(Long, Long, Long)]) { (_, it, ring0) =>
      var ring = ring0
      val out = scala.collection.mutable.ArrayBuffer.empty[CovisitOut]
      it.toSeq.sortBy(o => (o.tsm, o.event_id)).foreach { o =>
        ring.foreach { case (ptsm, _, pcode) =>
          if (o.tsm <= ptsm + lookbackMs) out += CovisitOut(pcode, o.x)
        }
        ring = (ring :+ ((o.tsm, o.event_id, o.x))).takeRight(k)
      }
      (ring, out.iterator)
    }
  }

  case class HllObs(week: Long, j: Long, rho: Long)
  case class HllBatchOut(week: Long, seen: Long, s: Long, zero_registers: Long)

  /** Stateful streaming HYPERLOGLOG — a live distinct-count sketch per
    * key: state is the m-register array (m bytes per key, independent of
    * both history length and cardinality), updated by elementwise max —
    * the same merge that makes the batch sketch partition-safe makes the
    * stream's micro-batch boundaries invisible. Each batch emits the
    * key's CURRENT denominator sum + zero-register count with a monotone
    * `seen` counter, so a bounded replay's FINAL row per key (max seen)
    * carries exactly the registers the batch sketch would have built —
    * what the certification hash-checks. Inputs arrive pre-hashed as
    * (j, rho) pairs ([[graft.llm.Hll.jCol]]/[[graft.llm.Hll.rhoCol]]),
    * keeping the state update a pure register max. */
  def hllSketch(arrivals: Dataset[HllObs], m: Int,
                bits: Int): Dataset[HllBatchOut] = {
    require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of two (got $m)")
    import arrivals.sparkSession.implicits._
    fold(arrivals)(_.week)((new Array[Byte](m), 0L)) { case (week, it, (regs, seen0)) =>
      var seen = seen0
      it.foreach { o => // register max is order-insensitive: no sort
        val j = o.j.toInt
        if (o.rho > regs(j)) regs(j) = o.rho.toByte
        seen += 1L
      }
      var s = 0L
      var zeros = 0L
      var i = 0
      while (i < m) {
        s += 1L << (bits + 1 - regs(i))
        if (regs(i) == 0) zeros += 1L
        i += 1
      }
      ((regs, seen), Iterator.single(HllBatchOut(week, seen, s, zeros)))
    }
  }

  case class PriObs(c_nationkey: Long, c_custkey: Long, priority_fp: Long)
  case class PriOut(c_nationkey: Long, seen: Long, rk: Long, c_custkey: Long,
                    priority_fp: Long)

  /** Stateful streaming weighted-priority TOP-K sample per key — the live
    * form of q125's A-ES weighted-without-replacement sampler: state is
    * the current k winners per key ((priority, id) pairs, 2k longs — never
    * the population), merged per batch by the same (priority desc, id asc)
    * total order the batch window uses. The top-k-by-total-order merge is
    * commutative and idempotent, so micro-batch boundaries can't change
    * the final sample: the certification takes each key's last batch and
    * must hash-match the batch sampler exactly. The always-on "keep a fair
    * weighted sample of an unbounded stream" shape. */
  def priorityTopK(arrivals: Dataset[PriObs], k: Int): Dataset[PriOut] = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    import arrivals.sparkSession.implicits._
    fold(arrivals)(_.c_nationkey)((Array.empty[Long], Array.empty[Long], 0L)) {
      case (nation, it, (pri0, ids0, seen0)) =>
        var seen = seen0
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var i = 0
        while (i < pri0.length) { buf += ((pri0(i), ids0(i))); i += 1 }
        it.foreach { o => seen += 1L; buf += ((o.priority_fp, o.c_custkey)) }
        val top = buf.sortBy { case (p, id) => (-p, id) }.take(k)
        ((top.map(_._1).toArray, top.map(_._2).toArray, seen),
          top.iterator.zipWithIndex.map { case ((p, id), j) =>
            PriOut(nation, seen, (j + 1).toLong, id, p)
          })
    }
  }

  case class KmvObs(source: String, h: Long)
  case class KmvBatchOut(source: String, seen: Long, m: Long, t: Long)

  /** Stateful streaming KMV (k-minimum-values) distinct-cardinality sketch
    * per key: state is the k smallest DISTINCT element hashes seen so far
    * (≤ k longs per key, independent of stream length), merged per batch
    * and emitted as (m = retained count, t = k-th minimum) — the numbers
    * the estimator `(k−1)·2³² div t` reads. The k-min set is a
    * commutative, idempotent merge (set union then truncate), so
    * micro-batch boundaries can't change the final sketch — the
    * certification takes each key's last batch (max `seen`) and must
    * hash-match the batch KMV ([[graft.operators.Kmv]]) exactly. The live
    * form of q215/q259's sketch algebra. */
  def kmvSketch(arrivals: Dataset[KmvObs], k: Int): Dataset[KmvBatchOut] = {
    require(k >= 2, s"k must be >= 2 (got $k)")
    import arrivals.sparkSession.implicits._
    fold(arrivals)(_.source)((Array.empty[Long], 0L)) { case (source, it, (st, seen0)) =>
      val buf = scala.collection.mutable.TreeSet.empty[Long]
      buf ++= st
      var seen = seen0
      it.foreach { o =>
        seen += 1L
        if (!buf.contains(o.h)) {
          if (buf.size < k) buf += o.h
          else if (o.h < buf.last) { buf -= buf.last; buf += o.h }
        }
      }
      val arr = buf.toArray // ascending
      ((arr, seen), Iterator.single(KmvBatchOut(source, seen, arr.length.toLong,
        if (arr.isEmpty) 0L else arr.last)))
    }
  }

  case class CmsObs(i: Long, b: Long)
  case class CmsBatchOut(i: Long, seen: Long, e: Long)

  /** Stateful streaming COUNT-MIN row with live self-join-size readout:
    * state is one w-counter array per hash row (d keys total — the whole
    * sketch is d·w longs regardless of stream length), bumped per
    * arrival and summarized each batch as Σ counter² — the CMS inner
    * product whose min over rows estimates the stream's self-join size
    * (Cormode & Muthukrishnan, J.Alg 2005). Counter increments commute,
    * so micro-batch boundaries can't change the final registers; the
    * certification takes each row's last batch (max `seen`) and must
    * hash-match the batch sketch's estimate. The live-cardinality shape
    * a streaming optimizer reads before committing to a join strategy. */
  def cmsRowSquares(arrivals: Dataset[CmsObs], width: Int): Dataset[CmsBatchOut] = {
    require(width > 0, s"width must be positive (got $width)")
    import arrivals.sparkSession.implicits._
    fold(arrivals)(_.i)((new Array[Long](width), 0L)) { case (row, it, (counters, seen0)) =>
      var seen = seen0
      it.foreach { o => counters(o.b.toInt) += 1L; seen += 1L }
      var e = 0L
      var j = 0
      while (j < width) { e += counters(j) * counters(j); j += 1 }
      ((counters, seen), Iterator.single(CmsBatchOut(row, seen, e)))
    }
  }

  case class CellObs(rf: String, a: Long, b: Long)
  case class CellBatchOut(rf: String, a: Long, b: Long, seen: Long, c: Long)

  /** Stateful per-cell contingency counter — TWO longs of state per
    * (rf, a, b) grid cell (batch counter, cumulative count), the live
    * form of the q327 Kendall grid in Append mode (the Complete-mode
    * built-in aggregate cannot recover through the fault-tolerant file
    * sink, so the recovery certification needs this fold). Counts are a
    * +-monoid: micro-batch boundaries, shard order, and restarts cannot
    * change a sum; the readout takes each cell's max-`seen` emission.
    * State size is DOMAIN-bounded (|rf|·|qty|·|discount| cells), not
    * corpus-bounded — the same property that makes the batch grid the
    * whole sufficient statistic for τ. */
  def gridCount(arrivals: Dataset[CellObs]): Dataset[CellBatchOut] = {
    import arrivals.sparkSession.implicits._
    fold(arrivals)(o => (o.rf, o.a, o.b))((0L, 0L)) { case (key, it, (seen0, c0)) =>
      val seen = seen0 + 1L
      val c = c0 + it.size
      ((seen, c), Iterator.single(CellBatchOut(key._1, key._2, key._3, seen, c)))
    }
  }

  case class MomObs(event_type: String, v: Long)
  case class MomBatchOut(event_type: String, seen: Long, s1: Long, s2: Long,
                         s3: Long)

  /** Stateful streaming MOMENTS sketch per key: FOUR longs of state
    * (n, Σv, Σv², Σv³) — the power-sum summary every mean / variance /
    * skewness readout derives from, and the canonical mergeable numeric
    * sketch (a +-monoid: micro-batch boundaries, shard order, and
    * restarts can't change a sum). The live form of q306's batch
    * day→week rollup: the certification takes each key's last batch
    * (max `seen`) and must hash-match a direct batch aggregate over the
    * same rows. Inputs are whole-unit BIGINTs; every add and cube is
    * `Math.addExact`/`multiplyExact`, so a value scale that would
    * silently wrap Σv³ fails fast instead (at |v| ≤ 10³ the sums hold
    * past 10⁹ rows per key). */
  def momentsSketch(arrivals: Dataset[MomObs]): Dataset[MomBatchOut] = {
    import arrivals.sparkSession.implicits._
    fold(arrivals)(_.event_type)((0L, 0L, 0L, 0L)) { (key, it, st) =>
      var (n, s1, s2, s3) = st
      it.foreach { o =>
        val v2 = Math.multiplyExact(o.v, o.v)
        n += 1L
        s1 = Math.addExact(s1, o.v)
        s2 = Math.addExact(s2, v2)
        s3 = Math.addExact(s3, Math.multiplyExact(v2, o.v))
      }
      ((n, s1, s2, s3), Iterator.single(MomBatchOut(key, n, s1, s2, s3)))
    }
  }

  case class CellSumObs(rf: String, a: Long, v: Long)
  case class CellSumOut(rf: String, a: Long, seen: Long, s: Long)

  /** Stateful per-cell SUM register — the value-carrying sibling of
    * [[gridCount]]: TWO longs of state per (rf, a) cell (batch counter,
    * running sum), the live form of any calendar-bounded grouped total
    * (daily revenue, hourly counts·weights). Sums are a +-monoid, so
    * micro-batch boundaries and restarts cannot change them; the readout
    * takes each cell's max-`seen` emission. Adds are `Math.addExact`
    * so a value scale that would wrap the register fails fast. */
  def cellSum(arrivals: Dataset[CellSumObs]): Dataset[CellSumOut] = {
    import arrivals.sparkSession.implicits._
    fold(arrivals)(o => (o.rf, o.a))((0L, 0L)) { case (key, it, (seen0, s0)) =>
      val seen = seen0 + 1L
      val s = it.foldLeft(s0)((acc, o) => Math.addExact(acc, o.v))
      ((seen, s), Iterator.single(CellSumOut(key._1, key._2, seen, s)))
    }
  }

  case class HdrObs(g: String, b: Long, v: Long)
  case class HdrBatchOut(g: String, b: Long, seen: Long, c: Long, lo: Long,
                         hi: Long)

  /** Stateful streaming HDR-HISTOGRAM register per (key, log-bucket):
    * FOUR longs of state (batch counter, count, min, max) — the live
    * form of [[graft.queries.HypothesisQueries.hdrRegisters]], and the
    * percentile sketch a 100 TB ingest keeps warm. Every component is a
    * monoid (sum / min / max), so micro-batch boundaries, shard order,
    * and restarts cannot change the final registers; the readout takes
    * each cell's max-`seen` emission and feeds the SAME
    * `hdrQuantiles` readout the batch query uses. Buckets arrive
    * pre-computed (ilog2 div 8192 on the batch side of the staging),
    * keeping the state update pure compare-and-count. */
  def hdrSketch(arrivals: Dataset[HdrObs]): Dataset[HdrBatchOut] = {
    import arrivals.sparkSession.implicits._
    fold(arrivals)(o => (o.g, o.b))((0L, 0L, Long.MaxValue, Long.MinValue)) {
      (key, it, st) =>
        var (seen, c, lo, hi) = st
        it.foreach { o => // min/max/count are order-insensitive: no sort
          c += 1L
          if (o.v < lo) lo = o.v
          if (o.v > hi) hi = o.v
        }
        seen += 1L
        ((seen, c, lo, hi), Iterator.single(HdrBatchOut(key._1, key._2, seen, c, lo, hi)))
    }
  }

  case class ConcBatchOut(key: Long, seen: Long, cur: Long, peak: Long,
                          t_at_peak: Long)

  /** Stateful streaming MAX-CONCURRENCY sweep — the streaming form of the
    * q245 batch prefix-sum: interval open/close deltas ride KeyedObs.x
    * (+1/−1), and THREE longs of state per key (current count, peak,
    * first peak instant) carry the sweep across micro-batch boundaries —
    * the live "how many sessions are open RIGHT NOW, and what was
    * today's peak" gauge, with no history rescan. Within a batch rows
    * fold in (tsm, delta, event_id) order — closes sort BEFORE opens at
    * the same instant, the half-open-interval rule the batch sweep uses;
    * across batches the replay's staged order. Ties on the peak keep the
    * FIRST instant, so the final row per key hash-matches the batch
    * oracle. */
  def concurrencyPeak(arrivals: Dataset[KeyedObs]): Dataset[ConcBatchOut] = {
    import arrivals.sparkSession.implicits._
    fold(arrivals)(_.user_id)((0L, Long.MinValue, 0L, 0L)) { (key, it, st) =>
      var (cur, peak, tPeak, seen) = st
      it.toSeq.sortBy(o => (o.tsm, o.x, o.event_id)).foreach { o =>
        cur += o.x
        if (cur > peak) { peak = cur; tPeak = o.tsm }
        seen += 1L
      }
      ((cur, peak, tPeak, seen), Iterator.single(ConcBatchOut(key, seen, cur, peak, tPeak)))
    }
  }

  case class FunnelOut(user_id: Long, funnel_depth: Long)

  /** Stateful streaming FUNNEL DEPTH — the streaming form of
    * [[graft.operators.Funnel.depth]]'s greedy earliest-first fold: the
    * stage index rides [[KeyedObs]].x, and TWO longs of state per user
    * (completed depth + timestamp of the last advancing event) carry the
    * funnel across micro-batch boundaries. An event advances the funnel
    * iff its stage equals the current depth AND its time is STRICTLY
    * greater than the last advance (the batch `ts > prev` convention) —
    * so duplicate-instant events can never double-advance, in either
    * engine. Within a batch rows fold in (tsm, x, event_id) order — the
    * same (t, stage) struct order the batch `sort_array` fold walks;
    * across batches the replay's staged order must extend it. Depth is
    * monotone, so the certification takes `max(funnel_depth)` per user
    * over the per-batch emissions and hash-matches the batch oracle. */
  def funnelDepth(arrivals: Dataset[KeyedObs], nStages: Int): Dataset[FunnelOut] = {
    require(nStages >= 1, s"nStages must be >= 1 (got $nStages)")
    import arrivals.sparkSession.implicits._
    fold(arrivals)(_.user_id)((0L, Long.MinValue)) { (userId, it, st) =>
      var (d, t) = st
      it.toSeq.sortBy(o => (o.tsm, o.x, o.event_id)).foreach { o =>
        if (d < nStages && o.x == d && o.tsm > t) { d += 1L; t = o.tsm }
      }
      ((d, t), Iterator.single(FunnelOut(userId, d)))
    }
  }

  case class TokDoc(tok: String, doc_id: Long)
  case class TokFirst(tok: String, first_doc: Long)

  /** Streaming VOCABULARY REGISTER: emit each token exactly once, at its
    * first arrival, stamped with the smallest doc_id seen in that first
    * batch — the novelty detector a streaming ingest runs to know whether
    * a source still yields new vocabulary (the q405 growth curve's
    * first-seen frame, maintained incrementally). State is ONE long per
    * token (vocab-bounded, like [[lshCandidateStream]]'s bucket lists are
    * corpus-bounded); a token already registered emits NOTHING on later
    * arrivals, so a restart that silently lost the register re-emits
    * post-crash tokens — duplicate rows the exactly-once parquet sink
    * would surface as a hash break. With doc_id-ordered replay the first
    * batch containing a token also holds its global min doc_id, so the
    * emission union equals the batch `min(doc_id) per token` frame. */
  def vocabRegister(arrivals: Dataset[TokDoc]): Dataset[TokFirst] = {
    import arrivals.sparkSession.implicits._
    arrivals
      .groupByKey(_.tok)
      .flatMapGroupsWithState[Long, TokFirst](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (tok: String, it: Iterator[TokDoc], state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val first = it.map(_.doc_id).min
            state.update(first)
            Iterator.single(TokFirst(tok, first))
          }
      }
  }

  case class CellVec(cell: Long, vec_id: Long, q: Long)
  case class CellVecSeq(cell: Long, vec_id: Long, q: Long, seq: Long)

  /** Stateful IVF directory counter: the per-cell cumulative vector count
    * an IVF index's directory maintains (the posting-list length), carried
    * across micro-batch boundaries as ONE long per cell and stamped onto
    * every admitted vector as its position within the cell. State is
    * k-bounded (k = number of coarse cells) — the cheapest possible
    * stateful shape, like [[admitFirstK]]'s per-source counter. Within a
    * batch the cell's rows are numbered in vec_id order (the group
    * iterator's order is not contractual); ACROSS batches the numbering
    * order is the replay order. The recovery certification reads
    * `max(seq)` per cell instead of `count(*)`: an incarnation whose
    * restart silently reset the counter re-numbers post-crash vectors from
    * 1, so max(seq) undercounts and the hash breaks even though the
    * emission set itself deduplicates. */
  def cellDirectory(arrivals: Dataset[CellVec]): Dataset[CellVecSeq] = {
    import arrivals.sparkSession.implicits._
    fold(arrivals)(_.cell)(0L) { (cell, it, n0) =>
      var n = n0
      val out = it.toSeq.sortBy(_.vec_id).map { v =>
        n += 1
        CellVecSeq(cell, v.vec_id, v.q, n)
      }
      (n, out.iterator)
    }
  }
}
