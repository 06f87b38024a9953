package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming re-expression of the reference's hand-rolled
  * micro-batch loop (SURVEY.md §2.9, drive_auto_compress_email.py):
  *
  *   - ST1 fixed-interval trigger: the DAG's every-minute cron schedule
  *     (drive_auto_compress_email.py:582) → `Trigger.ProcessingTime`;
  *     [[Trigger.AvailableNow]] is the drain-and-stop form used by tests
  *     and backfills.
  *   - ST2 single concurrent run: one `StreamingQuery` instance is
  *     serialized by construction (`max_active_runs=1`, :584).
  *   - ST3 exactly-once per file: the checkpoint's file-source commit log
  *     replaces the reference's JSON ledger
  *     (drive_auto_compress_email.py:85-111; batch-mode equivalent:
  *     [[graft.ingest.FileLedger]]).
  *   - ST5 name-pattern admission: `pathGlobFilter` on the source
  *     (prefix/suffix filter, drive_auto_compress_email.py:204).
  *   - ST4 min-age stabilization has no streaming builtin; two paths:
  *     the batch-side [[graft.ingest.FileIngest]] applies it before
  *     files reach the watched directory (the landing zone IS the
  *     stabilization stage), and [[stableCsvStream]] makes it a native
  *     streaming property via the [[StableCsvSource]] DSv2 source
  *     (admission-time deferral, no landing zone needed).
  *
  * Beyond reference parity: event-time watermarks, tumbling windows,
  * native session windows, and arbitrary per-key state
  * (flatMapGroupsWithState) — the streaming operators a training-data
  * pipeline needs for event feeds. Every transform here is expressed on
  * an unbounded DataFrame, so the SAME function runs in batch mode for
  * the DuckDB oracle (Queries q43) and in a stream for the live path.
  */
object StreamingEtl {

  /** CSV file-arrival stream. Streaming CSV requires an explicit schema
    * (no inferSchema pass over an unbounded source); `maxFilesPerTrigger`
    * bounds each micro-batch so one huge backlog can't OOM a batch.
    */
  def csvFileStream(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      globPattern: String = "loan_*.csv",
      maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .schema(schema)
      .option("header", "true")
      .option("pathGlobFilter", globPattern)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .csv(dir)

  /** JSON file-arrival stream (event feeds). */
  def jsonFileStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).json(dir)

  /** Min-age-stabilized CSV stream (ST4 as a streaming property): files
    * younger than `minAge` are DEFERRED — admitted to the first
    * micro-batch after they stabilize, exactly once — via the
    * [[StableCsvSource]] DSv2 source (admission happens at listing time;
    * a post-source filter would lose young files forever because the
    * built-in source commits a file the moment it is listed).
    */
  def stableCsvStream(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      minAge: java.time.Duration,
      globPattern: String = "loan_*.csv",
      maxFilesPerTrigger: Int = 1000,
      maxFileAge: Option[java.time.Duration] = None,
      compactInterval: Int = 10,
      failFast: Boolean = false,
      maxCharsPerColumn: Int = 1 << 20): DataFrame = {
    val base = spark.readStream
      .format(StableCsvSource.ProviderClass)
      .schema(schema)
      .option("path", dir)
      .option("maxCharsPerColumn", maxCharsPerColumn.toString)
      .option("minAgeMs", minAge.toMillis.toString)
      .option("pathGlobFilter", globPattern)
      .option("header", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .option("compactInterval", compactInterval.toString)
      .option("mode", if (failFast) "FAILFAST" else "PERMISSIVE")
    // retention bounds admission state (driver memory + snapshot size)
    // to the files younger than maxFileAge — an eternal ingest stays O(window)
    maxFileAge.fold(base)(a => base.option("maxFileAgeMs", a.toMillis.toString)).load()
  }

  /** Drain all currently-available input exactly once, then stop — the
    * per-run body of the reference's scheduled task. Re-invoking with the
    * same checkpoint skips every already-committed file (ST3).
    */
  def runAvailableNow(df: DataFrame, outDir: String, checkpoint: String): Unit = {
    val q = df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Continuous fixed-interval form (ST1). Caller owns the lifecycle. */
  def startProcessingTime(
      df: DataFrame,
      outDir: String,
      checkpoint: String,
      interval: String = "1 minute"): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(interval))
      .start()

  /** Watermarked tumbling-window aggregate over an event feed. In a
    * stream, state for windows older than watermark-delay is dropped
    * (bounded memory at any scale); in batch the watermark is a no-op and
    * the result is the exact batch answer — q26's streaming twin.
    */
  def windowedCounts(events: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Sliding (hopping) 1-hour/30-minute window counts — q115's batch
    * semantics under a watermark: the native window generator assigns
    * each event its length/slide windows map-side, state is one count
    * row per (window, type), watermark expiry prunes closed windows.
    * Stream = batch row-for-row (spec-pinned).
    */
  def slidingWindowCounts(
      events: DataFrame,
      watermarkDelay: String = "1 hour",
      length: String = "1 hour",
      slide: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), length, slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Per-user funnel-stage state for [[streamingFunnel]]: the stage
    * reached so far and its reach time — O(1) per user, the state a
    * funnel actually needs (never the event history).
    */
  case class FunnelState(stage: Int, reachMs: Long)

  /** One user's stage transition emitted by [[streamingFunnel]]. */
  case class FunnelAdvance(user_id: Long, step: Long, reach_ms: Long)

  /** Stateful streaming funnel — q110's strict-order first-occurrence
    * semantics as arbitrary per-key state: each user carries ONLY
    * (stage, reach time), and a step-(i+1) event strictly after the
    * stage-i reach advances the state and emits the transition. A
    * forward scan in event-time order reaches exactly q110's min-chain
    * stages (the first step-i event after reach_{i−1} IS the minimum —
    * spec-pinned stream = batch).
    *
    * Contract: per-user event-time order across micro-batches (each
    * batch's group is sorted internally; late cross-batch arrivals
    * would need the watermark+buffer discipline of the embedding
    * near-dup stream above). State is O(1) per user — the streaming
    * funnel never buffers events.
    */
  def streamingFunnel(
      events: DataFrame,
      steps: Seq[String] = Seq("view", "click", "purchase")): Dataset[FunnelAdvance] = {
    require(steps.nonEmpty)
    val spark = events.sparkSession
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    events
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type").isin(steps.map(x => x: Any): _*))
      .select(col("user_id").as[Long].as("user_id"),
        col("event_type").as[String].as("event_type"),
        col("ts").cast("timestamp").as[java.sql.Timestamp].as("ts"))
      .as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelAdvance](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, rows, state) =>
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer[FunnelAdvance]()
          // event-time order within the batch; ties keep a stable order
          rows.toSeq.sortBy(_._3.getTime).foreach { case (_, tpe, ts) =>
            val ms = ts.getTime
            if (st.stage < steps.length && stepIdx(tpe) == st.stage &&
              (st.stage == 0 || ms > st.reachMs)) {
              st = FunnelState(st.stage + 1, ms)
              out += FunnelAdvance(user, st.stage.toLong, ms)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Last event per user for [[streamingTransitions]] — O(1) state. */
  case class LastEvent(tsMs: Long, eventId: Long, eventType: String)

  /** One observed (event → next event) step in a user's path. */
  case class Transition(user_id: Long, event_type: String, next_type: String)

  /** Streaming event transitions — q118's Markov/Sankey pairs as
    * per-key state: each user carries ONLY their latest event; every
    * arrival emits the (previous → current) step. State is O(1) per
    * user where a lead-window would need the history. Deterministic
    * (ts, event_id) order within each batch; per-user in-order arrival
    * across batches (the [[streamingFunnel]] contract). The sink counts
    * pairs — spec pins stream counts = batch q118 exactly.
    */
  def streamingTransitions(events: DataFrame): Dataset[Transition] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id").as[Long], col("event_type").as[String],
        col("ts").cast("timestamp").as[java.sql.Timestamp],
        col("event_id").as[Long])
      .groupByKey(_._1)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, rows, state) =>
          var last = state.getOption
          val out = scala.collection.mutable.ArrayBuffer[Transition]()
          rows.toSeq.sortBy(r => (r._3.getTime, r._4)).foreach {
            case (_, tpe, ts, id) =>
              last.foreach(p => out += Transition(user, p.eventType, tpe))
              last = Some(LastEvent(ts.getTime, id, tpe))
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** The OPEN episode per user for [[streamingScd2]] — O(1) state:
    * the current SCD2 row, not the history.
    */
  case class OpenEpisode(eventId: Long, eventType: String, fromUs: Long)

  /** A CLOSED SCD2 episode: q143's row shape with is_current=false,
    * timestamps as exact micros (streaming Append can only emit
    * finalized rows — the open episode IS the state; the batch form's
    * is_current row materializes on demand from it).
    */
  case class Scd2Closed(user_id: Long, event_id: Long, event_type: String,
      valid_from_us: Long, valid_to_us: Long)

  /** Streaming SCD2 materialization — q143's type-2 history as per-key
    * state: each user carries ONLY the open episode; an arrival with a
    * DIFFERENT event_type closes it (emit, micros-exact) and opens the
    * next; a same-type arrival is absorbed (consecutive duplicates
    * collapse, exactly the batch lag() filter). Deterministic
    * (ts, event_id) order within each batch; per-user in-order arrival
    * across batches (the [[streamingFunnel]] contract). Spec pins
    * stream closed rows = batch q143 `is_current=false` rows exactly,
    * across multi-batch splits.
    */
  def streamingScd2(events: DataFrame): Dataset[Scd2Closed] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id").as[Long], col("event_type").as[String],
        expr("unix_micros(ts)").as[Long], col("event_id").as[Long])
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenEpisode, Scd2Closed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, rows, state) =>
          var open = state.getOption
          val out = scala.collection.mutable.ArrayBuffer[Scd2Closed]()
          rows.toSeq.sortBy(r => (r._3, r._4)).foreach {
            case (_, tpe, us, id) =>
              open match {
                case Some(o) if o.eventType != tpe =>
                  out += Scd2Closed(user, o.eventId, o.eventType, o.fromUs, us)
                  open = Some(OpenEpisode(id, tpe, us))
                case Some(_) => // same type: absorbed
                case None =>
                  open = Some(OpenEpisode(id, tpe, us))
              }
          }
          open.foreach(state.update)
          out.iterator
      }
  }

  /** Per-type trailing-window state for [[streamingRateAnomalies]]:
    * (hour, count) cells for the current hour plus up to `trailingHours`
    * closed hours — O(trailingHours) per type, never the events.
    */
  case class RateState(counts: Seq[(Long, Long)])

  /** An anomalous CLOSED hour emitted by [[streamingRateAnomalies]] —
    * the same row q120's batch form produces for that hour.
    */
  case class RateAlert(event_type: String, hour_num: Long, cnt: Long,
      trail_sum: Long, trail_hours: Long)

  /** Streaming rate-anomaly alerts — q120's trailing-window test as
    * per-key state: each event type carries only its (hour, count)
    * cells for the trailing window; an hour is EVALUATED when it
    * closes (a strictly later hour arrives for that type), against
    * exactly the [h−24, h−1] value-range window and the exact-integer
    * threshold the batch form uses. Spec pins stream = batch restricted
    * to closed hours.
    *
    * Contract: per-type in-order arrival by hour (the [[streamingFunnel]]
    * contract); the still-open final hour is never evaluated — an
    * alerting pipeline cannot judge an hour it is still inside.
    */
  def streamingRateAnomalies(
      events: DataFrame,
      trailingHours: Int = 24,
      factor: Int = 2): Dataset[RateAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("ts").isNotNull)
      .select(col("event_type").as[String],
        // floor division like the batch form (q120): `div` truncates
        // toward zero and would bucket pre-1970 timestamps differently
        expr("floor(unix_timestamp(ts) / 3600)").as[Long])
      .groupByKey(_._1)
      .flatMapGroupsWithState[RateState, RateAlert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (tpe, rows, state) =>
          val counts = scala.collection.mutable.ArrayBuffer[(Long, Long)](
            state.getOption.map(_.counts).getOrElse(Seq.empty): _*)
          val out = scala.collection.mutable.ArrayBuffer[RateAlert]()
          def evaluate(closed: Long): Unit = {
            val idx = counts.indexWhere(_._1 == closed)
            if (idx >= 0) {
              val cnt = counts(idx)._2
              val trail = counts.view.slice(0, idx)
                .filter(c => c._1 >= closed - trailingHours && c._1 <= closed - 1)
              val tSum = trail.map(_._2).sum
              val tHours = trail.size.toLong
              if (tHours > 0 && cnt * tHours > factor.toLong * tSum)
                out += RateAlert(tpe, closed, cnt, tSum, tHours)
            }
          }
          rows.map(_._2).toSeq.sorted.foreach { h =>
            counts.lastOption match {
              case Some((cur, c)) if cur == h =>
                counts(counts.length - 1) = (cur, c + 1)
              case Some((cur, _)) if h > cur =>
                evaluate(cur)
                counts += ((h, 1L))
                // trim: only hours >= h - trailingHours can ever be in a
                // future window
                while (counts.nonEmpty && counts.head._1 < h - trailingHours)
                  counts.remove(0)
              case Some(_) => // late hour after close: in-order contract
              case None => counts += ((h, 1L))
            }
          }
          state.update(RateState(counts.toSeq))
          out.iterator
      }
  }

  /** Per-user RFM running state for [[streamingRfm]] — O(1) per user:
    * latest purchase, purchase count, raw value sum (rounded only at
    * emission, like the batch aggregate rounds only its final sum).
    */
  case class RfmState(lastTsMs: Long, frequency: Long, sumValue: Double)

  /** One user's current RFM snapshot row — the q119 per-user aggregate. */
  case class RfmUser(user_id: Long, last_ts: java.sql.Timestamp,
      frequency: Long, monetary: Double)

  /** Streaming RFM — q119's per-user (last_ts, frequency, monetary)
    * aggregate as arbitrary per-key state: each purchasing user carries
    * ONE small state object, every micro-batch emits the user's updated
    * snapshot row (Update mode). SCORING stays a snapshot pass: quartile
    * fences are global order statistics, so the streaming side maintains
    * the per-user frame and [[graft.ops.Behavior.rfmScores]] — the SAME
    * two-pass distributed ntile the batch q119 runs — re-scores the
    * sink's latest snapshot per trigger (the periodic-fence-broadcast
    * shape). Spec pins stream snapshot + rfmScores = batch q119 exactly,
    * and O(1)-per-user state via StateOperatorProgress.
    */
  def streamingRfm(events: DataFrame): Dataset[RfmUser] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col("event_type") === "purchase" && col("ts").isNotNull &&
        col("user_id").isNotNull)
      .select(col("user_id").as[Long], col("ts").as[java.sql.Timestamp],
        coalesce(col("value"), lit(0.0)).as[Double])
      .groupByKey(_._1)
      .flatMapGroupsWithState[RfmState, RfmUser](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user, rows, state) =>
          var st = state.getOption.getOrElse(RfmState(Long.MinValue, 0L, 0.0))
          rows.foreach { case (_, ts, v) =>
            st = RfmState(math.max(st.lastTsMs, ts.getTime),
              st.frequency + 1, st.sumValue + v)
          }
          state.update(st)
          Iterator.single(RfmUser(user, new java.sql.Timestamp(st.lastTsMs),
            st.frequency,
            BigDecimal(st.sumValue).setScale(2, BigDecimal.RoundingMode.HALF_UP)
              .toDouble))
      }
  }

  /** A user's latest touch — O(1) state for [[streamingLastTouch]]. */
  case class LastTouch(tsUs: Long, eventId: Long, tpe: String)

  /** One attributed purchase emitted by [[streamingLastTouch]]. */
  case class AttributedPurchase(user_id: Long, channel: String, value: Double)

  /** Streaming last-touch attribution — q128's last-touch model as
    * per-key state: each user carries ONLY their latest non-purchase
    * touch; a purchase arrival credits it when it sits inside the
    * lookback (strictly before the purchase — same-microsecond touches
    * are excluded, the batch RANGE frame's −1 bound), else 'direct'.
    * State is O(1) per user where the batch form's window holds the
    * activity frame. In-order per-user arrival across micro-batches
    * (the [[streamingFunnel]] contract); within a batch rows sort by
    * (ts, event_id), so the surviving touch is exactly the batch
    * max-struct pick. Spec pins stream aggregates = batch q128
    * last_touch rows.
    */
  def streamingLastTouch(
      events: DataFrame,
      lookbackHours: Int = 168): Dataset[AttributedPurchase] = {
    val spark = events.sparkSession
    import spark.implicits._
    val lookbackUs = lookbackHours.toLong * 3600L * 1000000L
    events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id").as[Long], col("event_type").as[String],
        expr("unix_micros(ts)").as[Long], col("event_id").as[Long],
        coalesce(col("value"), lit(0.0)).as[Double])
      .groupByKey(_._1)
      .flatMapGroupsWithState[LastTouch, AttributedPurchase](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user, rows, state) =>
          var touch = state.getOption
          val out = scala.collection.mutable.ArrayBuffer[AttributedPurchase]()
          rows.toSeq.sortBy(r => (r._3, r._4)).foreach {
            case (_, tpe, us, eid, value) =>
              if (tpe == "purchase") {
                val ch = touch match {
                  case Some(t) if t.tsUs < us && t.tsUs >= us - lookbackUs =>
                    t.tpe
                  case _ => "direct"
                }
                out += AttributedPurchase(user, ch, value)
              } else {
                touch = Some(LastTouch(us, eid, tpe))
              }
          }
          touch.foreach(state.update)
          out.iterator
      }
  }

  /** One keyed CDC change — the q125 `snapshotDelta` row over the
    * customer shape (new values; None for removed keys).
    */
  case class CdcChange(key: Long, change_type: String,
      name: Option[String], nationkey: Option[Long],
      acctbal: Option[Double], mktsegment: Option[String])

  /** One key's materialized snapshot row (the per-key state). */
  case class CdcRow(key: Long, name: Option[String], nationkey: Option[Long],
      acctbal: Option[Double], mktsegment: Option[String])

  /** One emitted update: the key's current row, or a deletion marker. */
  case class CdcUpdate(key: Long, present: Boolean,
      name: Option[String], nationkey: Option[Long],
      acctbal: Option[Double], mktsegment: Option[String])

  /** Streaming CDC materializer — q125's MERGE as arbitrary per-key
    * state with the PREVIOUS snapshot as INITIAL STATE: each change
    * overwrites (added/changed) or clears (removed) its key's state and
    * emits the key's current row / deletion marker; untouched keys keep
    * their seeded state silently. After any prefix of the change
    * stream, (prev − emitted keys) ∪ emitted-present rows ==
    * `ChangeCapture.applyDelta(prev, changes so far)` exactly
    * (spec-pinned across multi-batch splits). State is O(|snapshot|)
    * rows of one fixed-width row each — inherent to a materializer,
    * never the change history. Contract: at most one change per key
    * per micro-batch (the snapshotDelta shape); cross-key order is
    * irrelevant, so any partitioning of the change stream works.
    */
  def streamingApplyDelta(
      changes: Dataset[CdcChange],
      prev: Dataset[CdcRow]): Dataset[CdcUpdate] = {
    val spark = changes.sparkSession
    import spark.implicits._
    val initial = prev.groupByKey(_.key).mapValues(identity[CdcRow] _)
    changes
      .groupByKey(_.key)
      .flatMapGroupsWithState[CdcRow, CdcUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout, initial) {
        (key, rows, state) =>
          // initial-state seeding invokes every seeded key ONCE with an
          // empty data iterator — seed silently, emit only on change
          if (rows.isEmpty) Iterator.empty
          else {
            var cur = state.getOption
            rows.foreach { c =>
              if (c.change_type == "removed") cur = None
              else cur = Some(CdcRow(key, c.name, c.nationkey, c.acctbal,
                c.mktsegment))
            }
            cur match {
              case Some(r) => state.update(r)
              case None => if (state.exists) state.remove()
            }
            Iterator.single(cur match {
              case Some(r) =>
                CdcUpdate(key, present = true, r.name, r.nationkey, r.acctbal,
                  r.mktsegment)
              case None => CdcUpdate(key, present = false, None, None, None, None)
            })
          }
      }
  }

  /** Per-window distinct-user ESTIMATE via the KMV sketch — q100's
    * mergeable aggregate ([[graft.functions.KmvMinHashesAgg]]) riding
    * Structured Streaming's aggregation state: each micro-batch folds
    * its rows into the O(k) sketch buffer, the state store carries only
    * the serialized k-long array per window, and watermark expiry prunes
    * closed windows — a bounded-state streaming distinct count, where an
    * exact streaming countDistinct would need unbounded per-window key
    * sets. KMV's merge-exactness makes the streaming answer bit-equal
    * to the batch run on the same data (spec-pinned), estimator exact
    * below k distinct users per window.
    */
  def windowedDistinctUsers(
      events: DataFrame,
      watermarkDelay: String = "1 hour",
      k: Int = 256): DataFrame = {
    import graft.functions.KmvSketch._
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        kmvMinHashes(hash(col("user_id")), k).as("mh"),
        count(lit(1)).as("cnt"))
      .select(
        col("window.start").as("window_start"),
        kmvEstimate("mh", k).as("est_users"),
        col("cnt"))
  }

  /** Native session windows: 30-minute inactivity gap, merged by Spark's
    * SessionWindow machinery (state pruned by watermark in streams).
    * Sessions are half-open: an event exactly `gap` after the previous one
    * starts a NEW session (window end = last ts + gap, exclusive).
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(
        col("user_id"),
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("n_events"), col("sum_value"))

  /** foreachBatch sink — the reference DAG's per-run shape (ST6 + ST7):
    * each micro-batch lands the raw rows, recomputes the aggregate table
    * over EVERYTHING landed so far (full-recompute semantics,
    * loan_spark_etl.py:152-184), and renders one
    * `report_batch_<id>.html` per micro-batch under `reportDir`
    * (drive_auto_compress_email.py:353-517).
    *
    * Exactly-once: foreachBatch only guarantees at-least-once delivery —
    * a crash after the write but before the checkpoint commit replays
    * the same batchId — so the landing write must be idempotent. Each
    * batch OVERWRITES its own `batch-<id>` subdirectory (a replay
    * rewrites identical rows in place) instead of appending to a shared
    * directory, where a replay would double the rows in every later
    * aggregate and report.
    *
    * Landing-dir lifecycle (`compactInterval`): the faithful default
    * (0 = off) keeps one `batch-<id>` dir per trigger forever — exactly
    * the reference, whose landing zone grows one file per run — but a
    * long-lived stream then re-reads O(n) dirs every trigger, O(n²)
    * lifetime read I/O. With `compactInterval = K`, once K dirs below
    * the CURRENT batch have accumulated they fold into one
    * `base-<id>` parquet dir covering every batch id below `id`, and
    * the folded dirs are deleted. Both modes read via the same
    * base-aware selection (the knob only gates folds), so toggling
    * compaction off against a dir that already holds a base — possibly
    * with crash leftovers beneath it — still reads each row exactly
    * once. Only ids < current fold: batches
    * below the running batch are durably committed in the checkpoint
    * (Spark replays at most the newest uncommitted batch), so the fold
    * reads settled data, while the current batch keeps its own dir so
    * a replay overwrite stays idempotent. The every-trigger read then
    * selects highest `base-<n>` + the `batch-<id>` dirs with id >= n —
    * aggregates see exactly the same rows as the uncompacted layout.
    * Crash-safe without atomic rename: the new base publishes BEFORE
    * the dirs it covers are deleted, the highest base always wins at
    * read time, and any leftover dir below it is excluded by the
    * id >= n rule and swept by the next compaction.
    *
    * Cost model, stated honestly: the fold is SINGLE-LEVEL — every
    * compaction rewrites base + tail, so lifetime write I/O is
    * O(n²/K) in trigger count (amortized one history rewrite per K
    * triggers), the same shape as Spark's own CompactibleFileStreamLog,
    * which rewrites its whole entry history every compactInterval.
    * That is the right trade for bounding dir count when the landing
    * data is modest or retention-trimmed; for a stream whose landed
    * history grows truly large, size K to the expected history/batch
    * ratio — or use [[runWithIncrementalReport]], which maintains the
    * aggregate as streaming state and never re-reads or rewrites the
    * landing history at all (the at-scale answer when the aggregate,
    * not the raw landing zone, is the product).
    */
  def runWithBatchReport(
      df: DataFrame,
      outDir: String,
      aggDir: String,
      reportDir: String,
      checkpoint: String,
      compactInterval: Int = 0): Unit = {
    val q = batchReportWriter(df, outDir, aggDir, reportDir, checkpoint, compactInterval)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** ST1 continuous-service form of [[runWithBatchReport]]: the same
    * foreachBatch sink on a `ProcessingTime` trigger, so the reference's
    * every-minute cron runs as ONE long-lived stream instead of a
    * drain-per-run loop — no per-run JVM/session spin-up, and the
    * checkpoint still makes each admitted file exactly-once across
    * service restarts. Caller owns the lifecycle (`stop()`); the full
    * landing/compaction/report semantics are identical to the drain
    * form because both wrap the same writer.
    */
  def startWithBatchReport(
      df: DataFrame,
      outDir: String,
      aggDir: String,
      reportDir: String,
      checkpoint: String,
      compactInterval: Int = 0,
      interval: String = "1 minute"): StreamingQuery =
    batchReportWriter(df, outDir, aggDir, reportDir, checkpoint, compactInterval)
      .trigger(Trigger.ProcessingTime(interval))
      .start()

  /** The shared ST6+ST7 foreachBatch writer behind [[runWithBatchReport]]
    * (AvailableNow) and [[startWithBatchReport]] (ProcessingTime) — the
    * trigger is the ONLY difference between the two public forms.
    */
  private def batchReportWriter(
      df: DataFrame,
      outDir: String,
      aggDir: String,
      reportDir: String,
      checkpoint: String,
      compactInterval: Int): DataStreamWriter[Row] =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(f"$outDir/batch-$batchId%05d")
        // BOTH modes read through the selection rule, never a blind
        // recursive listing: with no base ever folded the selection is
        // exactly "every batch dir" (the faithful layout), and once any
        // base exists — including one left by a PREVIOUS run with
        // compaction on, then turned off — a recursive read would count
        // crash-leftover dirs alongside the base that already holds
        // their rows. compactInterval only gates whether folds RUN.
        val conf = batch.sparkSession.sparkContext.hadoopConfiguration
        val out = new org.apache.hadoop.fs.Path(outDir)
        val fs = out.getFileSystem(conf)
        val (base, live) = landingState(fs, out)
        val foldable = live.filter(_._1 < batchId)
        val (b2, l2) =
          if (compactInterval <= 0 || foldable.size < compactInterval)
            (base, live) // dir unchanged — reuse the listing
          else {
            foldLanding(batch.sparkSession, fs, out, batchId, base, foldable)
            landingState(fs, out)
          }
        val paths = (b2.map(_._2).toSeq ++ l2.map(_._2)).map(_.toString)
        val all = batch.sparkSession.read.parquet(paths: _*)
        graft.etl.Aggregates.build(all)
          .write.mode("overwrite").parquet(aggDir)
        writeBatchReport(
          graft.etl.Aggregates.latestSummary(batch.sparkSession, aggDir),
          reportDir, batchId, source = outDir)
      }

  /** Render one `report_batch_<id>.html` under `reportDir` — the shared
    * tail of both foreachBatch sinks.
    */
  private def writeBatchReport(summary: Seq[Map[String, Any]],
      reportDir: String, batchId: Long, source: String): Unit = {
    val html = graft.report.Summary.renderHtml(
      Seq.empty, summary, runTime = s"batch-$batchId", source = source)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(reportDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(reportDir, f"report_batch_$batchId%05d.html"), html)
    ()
  }

  /** Incremental-aggregate sink — the at-scale companion to
    * [[runWithBatchReport]] (whose faithful ST6 full-recompute stays
    * the default): the loan aggregates are maintained as STREAMING
    * STATE via a complete-mode groupBy over the raw stream, so each
    * trigger costs O(new rows + group-key cardinality) and reads
    * nothing back from disk — no landing-dir re-read, no O(n²)
    * lifetime I/O. State is bounded by the (status, product_type,
    * branch) key space — low-cardinality by construction — and the
    * checkpoint restores the running totals across restarts, so a
    * resumed query continues the SAME aggregates exactly once per
    * input file. Each trigger overwrites the aggregate table
    * (idempotent under foreachBatch replay — complete mode re-emits
    * the full state) and renders the same per-batch HTML report as
    * the faithful path. Raw-row landing, when also needed, runs as
    * its own query — one streaming query cannot feed two sinks;
    * [[startLandAndIncrementalReport]] composes both over one source.
    */
  def runWithIncrementalReport(
      df: DataFrame,
      aggDir: String,
      reportDir: String,
      checkpoint: String): Unit = {
    val q = incrementalReportWriter(df, aggDir, reportDir, checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** ST1 continuous-service form of [[runWithIncrementalReport]] — the
    * at-scale sink (O(new rows + group-key cardinality) per trigger, no
    * landing-history re-read) running as the reference's every-minute
    * service instead of a drain-per-run loop. Caller owns the lifecycle
    * (`stop()`); the checkpoint carries the running totals across
    * restarts exactly once per admitted file, same as the drain form —
    * both wrap the same writer, the trigger is the only difference.
    */
  def startWithIncrementalReport(
      df: DataFrame,
      aggDir: String,
      reportDir: String,
      checkpoint: String,
      interval: String = "1 minute"): StreamingQuery =
    incrementalReportWriter(df, aggDir, reportDir, checkpoint)
      .trigger(Trigger.ProcessingTime(interval))
      .start()

  /** The shared complete-mode state writer behind
    * [[runWithIncrementalReport]] (AvailableNow) and
    * [[startWithIncrementalReport]] (ProcessingTime).
    */
  private def incrementalReportWriter(
      df: DataFrame,
      aggDir: String,
      reportDir: String,
      checkpoint: String): DataStreamWriter[Row] =
    graft.etl.Aggregates.build(df).writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the state frame feeds the table overwrite and the summary; it
        // is deliberately NOT persisted — the complete-mode output is
        // group-key-cardinality rows, cheaper to re-emit than to cache
        // (and caching a foreachBatch frame trips InMemoryRelation's
        // attribute remap on the streaming state plan)
        batch.write.mode("overwrite").parquet(aggDir)
        // summary from the state IN HAND — no read-back from aggDir,
        // and no latestSummary error-swallow: a failure here should
        // fail the trigger loudly, not render an empty report
        writeBatchReport(graft.etl.Aggregates.summaryOf(batch),
          reportDir, batchId, source = aggDir)
      }

  /** Compose raw-row landing AND the incremental report as TWO streaming
    * queries over ONE logical source: Spark instantiates an independent
    * file-admission log per query (each checkpoint tracks its own seen-file
    * offsets), so every arriving file reaches BOTH sinks exactly once —
    * including across restarts, where each query resumes from its own
    * checkpoint independently. This is the deployment shape the reference's
    * DAG implies (land the rows, keep the report current) without ever
    * re-reading the landing zone: the aggregate is streaming state, the
    * landing sink is a plain append. Caller owns both lifecycles; stop the
    * returned queries in either order.
    */
  def startLandAndIncrementalReport(
      df: DataFrame,
      outDir: String,
      aggDir: String,
      reportDir: String,
      landCheckpoint: String,
      reportCheckpoint: String,
      interval: String = "1 minute"): (StreamingQuery, StreamingQuery) = {
    require(landCheckpoint != reportCheckpoint,
      "each query needs its own checkpoint — sharing one corrupts both offset logs")
    val land = df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", landCheckpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(interval))
      .start()
    val report = startWithIncrementalReport(
      df, aggDir, reportDir, reportCheckpoint, interval)
    (land, report)
  }

  /** `<prefix><digits>` directory name → its numeric id. */
  private def dirId(name: String, prefix: String): Option[Long] =
    if (!name.startsWith(prefix)) None
    else {
      val d = name.stripPrefix(prefix)
      if (d.nonEmpty && d.forall(_.isDigit)) Some(d.toLong) else None
    }

  /** The graft-side base commit marker, written AFTER the parquet job
    * returns — independent of `mapreduce.fileoutputcommitter.
    * marksuccessfuljobs`, which controls `_SUCCESS` and may be off.
    */
  private[streaming] val CommitMarker = "_GRAFT_COMMITTED"

  /** Fold `base` + `foldable` batch dirs into one committed
    * `base-<batchId>` and sweep what it supersedes. Publish order makes
    * every crash window recoverable by [[landingState]]'s selection
    * rules: before the marker lands, the dirs the new base covers still
    * exist and the (markerless, un-swept) base is ignored; after the
    * marker, the base is authoritative and any half-swept leftover is
    * excluded from selection and re-swept by the next fold. The
    * `crashBeforeMarker` / `crashAfterMarker` seams exist for the
    * crash-injection spec; no-ops in production.
    */
  private[streaming] def foldLanding(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      out: org.apache.hadoop.fs.Path,
      batchId: Long,
      base: Option[(Long, org.apache.hadoop.fs.Path)],
      foldable: Seq[(Long, org.apache.hadoop.fs.Path)],
      crashBeforeMarker: () => Unit = () => (),
      crashAfterMarker: () => Unit = () => ()): Unit = {
    val srcs = (base.map(_._2).toSeq ++ foldable.map(_._2)).map(_.toString)
    // overwrite → a replayed compaction republishes identically
    val newBase = new org.apache.hadoop.fs.Path(out, f"base-$batchId%05d")
    spark.read.parquet(srcs: _*)
      .write.mode("overwrite").parquet(newBase.toString)
    crashBeforeMarker()
    // write() returning is the in-JVM completion signal; persist it as
    // our own marker so RECOVERY can tell a committed base from a
    // crash-partial one without depending on the cluster's _SUCCESS
    // setting (marksuccessfuljobs may be disabled)
    val mk = fs.create(new org.apache.hadoop.fs.Path(newBase, CommitMarker), true)
    mk.close()
    crashAfterMarker()
    fs.listStatus(out).foreach { st =>
      val n = st.getPath.getName
      val superseded =
        dirId(n, "batch-").exists(_ < batchId) ||
          dirId(n, "base-").exists(_ < batchId)
      if (superseded) fs.delete(st.getPath, true)
    }
  }

  /** The landing dir's authoritative contents: highest COMMITTED
    * `base-<n>` (if any) plus the live `batch-<id>` dirs (id >= n).
    * Anything below the highest base is a crash leftover whose rows the
    * base already holds — reading it would double-count, so selection
    * excludes it. The multi-file parquet publish is NOT atomic, so a
    * crash mid-fold leaves a partial `base-<n>` that must not win the
    * highest-base rule (it would silently drop every batch it claimed
    * to cover while the un-folded dirs still exist). A base counts as
    * committed when any of these hold:
    *   - our [[CommitMarker]] exists (written post-publish, pre-sweep);
    *   - `_SUCCESS` exists (Spark's own job marker, when enabled);
    *   - no `batch-<id'>` with id' below the base remains — the sweep
    *     only ever runs after a completed publish, so the covered dirs'
    *     absence is itself proof of commit (the migration path for
    *     bases written by earlier versions on marker-less clusters).
    * A partial base matches none of them (its covered dirs are still
    * present), is ignored by selection, and is overwritten and swept by
    * a later fold.
    */
  private[streaming] def landingState(fs: org.apache.hadoop.fs.FileSystem,
      out: org.apache.hadoop.fs.Path)
      : (Option[(Long, org.apache.hadoop.fs.Path)], Seq[(Long, org.apache.hadoop.fs.Path)]) = {
    val st = if (fs.exists(out)) fs.listStatus(out).toSeq.filter(_.isDirectory) else Seq.empty
    val batches = st.flatMap(s => dirId(s.getPath.getName, "batch-").map(_ -> s.getPath))
    val minBatch = batches.map(_._1).minOption
    val bases = st.flatMap(s => dirId(s.getPath.getName, "base-").map(_ -> s.getPath))
      .filter { case (id, p) =>
        fs.exists(new org.apache.hadoop.fs.Path(p, CommitMarker)) ||
          fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")) ||
          minBatch.forall(_ >= id)
      }
    val base = bases.sortBy(_._1).lastOption
    val live = batches
      .filter { case (id, _) => base.forall(id >= _._1) }
      .sortBy(_._1)
    (base, live)
  }

  /** Stream-stream interval join: purchases matched to same-user clicks
    * in the trailing 10 minutes. Both sides carry watermarks and the join
    * has an event-time range constraint, so each side's buffered state is
    * dropped once the other side's watermark passes — bounded memory, the
    * streaming form of [[graft.ops.TemporalJoins.rangeJoinCount]]'s
    * predicate. Works identically on batch frames (watermark is a no-op).
    */
  def intervalJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "1 hour")
    val c = clicks.withWatermark("ts", "1 hour")
      .select(
        col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    p.join(
      c,
      col("user_id") === col("c_user") &&
        col("c_ts") > col("ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") <= col("ts"))
      .select(col("event_id"), col("user_id"), col("click_id"))
  }

  /** Bounded-state streaming heavy hitters: the q83 Misra–Gries candidate
    * sketch ([[graft.functions.MisraGriesAgg]]) as a continuously
    * maintained streaming aggregation over a document stream. Emits the
    * current `array<struct<term, est>>` candidate summary each trigger
    * (write in complete mode).
    *
    * Why this is the at-scale form: an exact streaming word count keeps
    * ONE STATE ROW PER DISTINCT WORD — unbounded on an open vocabulary —
    * while this keeps exactly one global state row holding an
    * O(capacity) sketch buffer (the same TypedImperativeAggregate
    * machinery Spark's streaming HLL++ uses). The batch guarantee
    * carries over triggers because the update sequence is one continuous
    * MG stream: every word with frequency > N/(capacity+1) over ALL data
    * so far is present in the emitted summary. Downstream, the q83
    * recount pattern (exact count of just the candidates) turns a
    * periodic snapshot into an exact top-k.
    */
  def streamingTopKWords(docs: DataFrame, textCol: String = "text",
      capacity: Int = 512): DataFrame =
    docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .agg(graft.functions.HeavyHitters.misraGries(col("word"), capacity)
        .as("candidates"))

  /** STATELESS corpus-ingest gate for a document stream: the map-side
    * subset of the batch training pipeline — token-length bounds, an
    * in-row repetition heuristic, a Bloom decontamination prefilter, and
    * deterministic mixture sampling — as one narrow projection + filter.
    * Every predicate is a pure per-row function (no aggregate, no
    * watermark, no state; spec asserts zero state operators), so the
    * gate composes with any downstream stateful operator
    * ([[dedupWithinWatermark]], [[streamingNearDup]],
    * [[streamingTopKWords]]) without spending the query's stateful
    * budget — and the SAME function applied to a batch frame is the
    * parity oracle (spec-pinned row-for-row).
    *
    * Deliberate trade-offs vs the batch operators:
    *   - repetition: q74's exact dup-token fraction is a (doc_id, tok)
    *     AGGREGATE — stateful inside a stream — so the gate uses the
    *     in-row `array_distinct` form: same value, computed per row
    *     (the interpreted set-build cost noted in
    *     [[graft.ops.TrainPipe]] is the price of statelessness, paid
    *     only on this path). The bigram-dominance half of q74 is
    *     omitted: dup-token fraction already kills the degenerate docs
    *     a stream gate must stop.
    *   - decontamination: the Bloom PREFILTER alone decides (any
    *     bloom-positive gram ⇒ drop): ~fpp chance of over-dropping a
    *     clean doc, ZERO chance of keeping a contaminated one — the
    *     conservative direction for a training corpus. The exact verify
    *     join (q76) needs the held grams as a table; run it in the
    *     batch compaction pass if over-drops matter.
    *   - mixture: the q72 hash test verbatim
    *     ([[graft.ops.TrainPipe.docHash]] — same md5 bucket, so a doc
    *     admitted here is exactly the doc q72 would admit).
    *
    * `heldSketch` comes from [[graft.functions.SketchFunctions
    * .bloomFilterAgg]] over the held-out grams (what
    * [[graft.ops.TrainPipe.decontaminateBloom]] builds); None skips the
    * contamination predicate.
    *
    * Output: the admitted docs with (n_tokens, dup_tok_frac) attached.
    */
  def corpusGate(
      docs: DataFrame,
      heldSketch: Option[Array[Byte]] = None,
      rates: Seq[(String, Int)] = graft.ops.TrainPipe.DefaultRates,
      minTokens: Int = 3,
      maxDupTokFrac: Double = 0.75,
      w: Int = 3,
      // trained-tokenizer denomination (the q164 discipline, streaming
      // form): when a merge table is supplied, n_tokens and the
      // minTokens gate are spent in TRAINED tokens via the per-row
      // apply expression — still a pure map, still stateless
      merges: Option[Seq[(String, String)]] = None): DataFrame = {
    // bind the tokenization to ONE column first: HOF lambda bodies are
    // not loop-invariant-hoisted, so inlining split(text) inside the
    // gram transform would re-tokenize the document once per window
    // position — O(n²) on the per-row hot path this gate exists for
    // (the TrainPipe.gramsOf discipline)
    val tokenized = docs.withColumn("_t", split(col("text"), " "))
    val t = col("_t")
    val nTokens = merges
      .fold(size(t).cast("long"))(m =>
        graft.ops.TextOps.bpeTokenCountCol(col("text"), m))
    val dupFrac = round(
      lit(1.0) - size(array_distinct(t)).cast("double") / size(t), 4)
    val grams = when(size(t) >= w,
      expr(s"transform(sequence(1, size(_t) - ${w - 1}), " +
        s"i -> concat_ws(' ', slice(_t, i, $w)))"))
      .otherwise(array().cast("array<string>"))
    val contaminated = heldSketch match {
      case Some(sk) => exists(grams,
        g => graft.functions.SketchFunctions.mightContain(sk, xxhash64(g)))
      case None => lit(false)
    }
    val bps = rates.foldLeft(lit(0L)) { case (acc, (k, v)) =>
      when(col("lang") === k, lit(v.toLong)).otherwise(acc)
    }
    tokenized
      .withColumn("n_tokens", nTokens)
      .withColumn("dup_tok_frac", dupFrac)
      .filter(
        col("text").isNotNull &&
          col("n_tokens") >= minTokens &&
          col("dup_tok_frac") <= maxDupTokFrac &&
          !contaminated &&
          (graft.ops.TrainPipe.docHash("mix:", col("doc_id")) % 10000) < bps)
      .drop("_t")
  }

  /** Streaming crawl-to-corpus gate — q161's stateless stages applied to
    * a raw-HTML document stream, per micro-batch: boilerplate extraction
    * ([[graft.ops.TextOps.extractText]]) composed with the block/length/
    * stop-ratio quality gates, every stat computed on the EXTRACTED
    * text. This IS [[graft.ops.TextOps.crawlGate]] — one definition, so
    * the stream and the batch pipeline can never diverge (the stream ≡
    * batch twin discipline; spec pins the outputs bit-equal on the same
    * split). Stateless like [[corpusGate]]: pure per-row projection +
    * filter, zero state operators — the emitted `digest` column is the
    * composition point for the stateful keeper when exact dedup is
    * wanted ([[dedupWithinWatermark]] on `digest` ≙ q161's rn=1 window).
    */
  def runCrawlGate(
      raw: DataFrame,
      stopwords: Seq[String],
      htmlCol: String = "raw_html",
      minChars: Long = 100L,
      maxChars: Long = 520L,
      minStopRatio: Double = 0.03): DataFrame =
    graft.ops.TextOps.crawlGate(
      raw, stopwords, htmlCol, minChars, maxChars, minStopRatio)

  /** Streaming exact dedup: keep the first row per `idCols` seen within
    * the watermark horizon. State is one entry per distinct key, expired
    * once the watermark passes — bounded, unlike a global
    * `dropDuplicates` whose state grows forever. The batch analogue is
    * the q20/q45 digest-keyed keeper.
    */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
      watermarkDelay: String, idCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols)

  final case class UserEvent(user_id: Long, event_id: Long, value: Double)
  final case class UserTotal(user_id: Long, n_events: Long, sum_value: Double)

  /** One exploded band row of a fingerprinted document. `ts` is the
    * original event-time column: the watermark's attribute must flow
    * INTO the stateful operator (projecting it away fails analysis with
    * "Event-time timeout not supported without watermark").
    */
  final case class BandedDoc(doc_id: Long, ts: java.sql.Timestamp, fp: Long, band: Int, bv: Long)

  /** Per-bucket dedup state: fingerprints seen in this byte-band bucket
    * within the watermark horizon.
    */
  final case class BucketEntry(doc_id: Long, fp: Long, ts_ms: Long)
  final case class BucketState(entries: Seq[BucketEntry])

  /** An emitted near-dup decision: `doc_id` duplicates the earlier
    * `dup_of` (hamming distance over the 32-bit SimHash fingerprints).
    */
  final case class NearDupMatch(doc_id: Long, dup_of: Long, hamming: Long)

  /** Bounded keep-newest buffer for per-bucket dedup state.
    *
    * Holds at most `cap` elements; on overflow the element with the
    * smallest keep-priority — (ts asc, id desc), i.e. oldest first,
    * larger id first on ties — is evicted (the incoming element itself,
    * if it IS the minimum, is never stored). Evict-min top-k is
    * order-independent: after any insertion sequence the retained set is
    * exactly the top-`cap` of everything inserted by (ts desc, id asc) —
    * the same set the previous post-hoc `.sortBy(...).take(cap)`
    * produced — but the bound now holds DURING the arrival loop, so one
    * hot bucket delivering B rows in a single trigger costs O(B × cap)
    * compares over a ≤ cap buffer, never O(B²) over an unbounded one.
    *
    * The O(cap) eviction scan does not change the per-arrival asymptotic:
    * each arrival already pays O(cap) candidate comparisons.
    */
  private[streaming] final class NewestK[T](cap: Int, ts: T => Long, id: T => Long) {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[T]
    def size: Int = buf.size
    def foreach(f: T => Unit): Unit = buf.foreach(f)
    private def worse(a: T, b: T): Boolean =
      ts(a) < ts(b) || (ts(a) == ts(b) && id(a) > id(b))
    def insert(e: T): Unit =
      if (buf.size < cap) buf += e
      else if (cap > 0) {
        var worst = 0
        var i = 1
        while (i < buf.size) { if (worse(buf(i), buf(worst))) worst = i; i += 1 }
        if (!worse(e, buf(worst))) buf(worst) = e
      }
    /** Retained entries, newest first (deterministic storage order). */
    def toSeq: Seq[T] = buf.sortBy(e => (-ts(e), id(e))).toSeq
    def maxTs: Long = buf.iterator.map(ts).max
  }

  /** One exploded LSH-table row of a bucketed embedding. `ts` carries the
    * watermark attribute into the stateful operator (see [[BandedDoc]]).
    */
  final case class BandedVec(vec_id: Long, ts: java.sql.Timestamp,
      embedding: Seq[Float], l: Int, bucket: Long)
  final case class VecEntry(vec_id: Long, embedding: Seq[Float], ts_ms: Long)
  final case class VecBucketState(entries: Seq[VecEntry])
  final case class EmbedMatch(vec_id: Long, dup_of: Long, cosine: Double)

  /** Streaming EMBEDDING near-duplicate detection — the watermark-bounded
    * form of [[graft.ops.AnnLsh.nearDupPairs]], the same state shape as
    * [[streamingNearDup]] but keyed by the random-hyperplane (table,
    * bucket) LSH keys and verifying with exact cosine over the stored
    * vectors (computed with the identical left-to-right accumulation and
    * 4-decimal HALF_UP rounding as the batch operator, so outputs are
    * bit-comparable — StreamingNearDupSpec asserts batch parity).
    *
    * State here holds EMBEDDINGS (dim floats per entry), not 64-bit
    * fingerprints, so the per-bucket cap matters more: memory per bucket
    * is maxPerBucket × dim × 4 bytes and each arrival costs at most
    * maxPerBucket × dim multiplies — bounds enforced INSIDE the arrival
    * loop by [[NewestK]] (evict-on-insert), so they hold even when a
    * single micro-batch (or batch-parity mode) delivers an entire hot
    * bucket. Same recall argument as everywhere in the LSH family: a
    * pair dropped by the cap in one table survives through any other of
    * the L=16 tables it shares.
    *
    * Rows are processed in arrival order (no per-bucket sort buffer);
    * each emitted pair is oriented by event time — the earlier
    * (ts, vec_id) is `dup_of`, the keeper. While the bucket stays within
    * `maxPerBucket` the output set is independent of intra-trigger
    * arrival order (every pair is compared exactly once, orientation is
    * canonical); once the cap binds, WHICH candidate pairs are compared
    * depends on eviction timing and thus on arrival order — the emitted
    * subset may vary across replays of a degenerate hot bucket, the same
    * bounded-recall trade [[graft.ops.Lsh.guardHotBuckets]] makes.
    */
  def streamingEmbedNearDup(emb: DataFrame, dim: Int = 64,
      threshold: Double = 0.3, watermarkDelay: String = "1 hour",
      maxPerBucket: Int = 256): Dataset[EmbedMatch] = {
    import emb.sparkSession.implicits._
    val banded = emb
      .withWatermark("ts", watermarkDelay)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("ts"), col("embedding"),
        explode(graft.ops.AnnLsh.bucketArray(col("embedding"), dim)).as("tb"))
      .select(col("vec_id"), col("ts"), col("embedding"),
        col("tb.l").as("l"), col("tb.bucket").as("bucket"))
      .as[BandedVec]
    def cosine(a: Seq[Float], b: Seq[Float]): Double = {
      // batch parity on malformed rows: the batch dot (VecDot) is NULL
      // on a dim mismatch and the pair is dropped — mirror that with NaN
      // (fails any >= threshold test) instead of silently truncating to
      // the common prefix and inventing matches
      if (a.length != b.length) return Double.NaN
      // identical accumulation order to the batch VecDot loop
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = a.length
      while (i < n) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      val raw = d / (math.sqrt(na) * math.sqrt(nb))
      // a zero-norm (or empty) embedding makes raw NaN; batch round()
      // propagates the NaN and the threshold filter drops the pair,
      // whereas BigDecimal.valueOf(NaN) would THROW and kill the whole
      // streaming query — return the NaN and let the same filter drop it
      if (raw.isNaN) return Double.NaN
      // Spark's round() HALF_UPs the shortest decimal repr of the double;
      // BigDecimal.valueOf goes through Double.toString — the same repr
      java.math.BigDecimal.valueOf(raw)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    banded
      .groupByKey(r => (r.l, r.bucket))
      .flatMapGroupsWithState[VecBucketState, EmbedMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm =
              try state.getCurrentWatermarkMs()
              catch { case _: UnsupportedOperationException => Long.MinValue }
            val buf = new NewestK[VecEntry](maxPerBucket, _.ts_ms, _.vec_id)
            state.getOption.map(_.entries).getOrElse(Seq.empty)
              .filter(_.ts_ms >= wm).foreach(buf.insert)
            val out = scala.collection.mutable.ArrayBuffer[EmbedMatch]()
            rows.foreach { r =>
              val rTs = r.ts.getTime
              buf.foreach { e =>
                if (e.vec_id != r.vec_id) {
                  val c = cosine(e.embedding, r.embedding) // symmetric, bit-for-bit
                  if (c >= threshold) {
                    // orient by event time: the earlier doc is the keeper
                    if (e.ts_ms < rTs || (e.ts_ms == rTs && e.vec_id < r.vec_id))
                      out += EmbedMatch(r.vec_id, e.vec_id, c)
                    else out += EmbedMatch(e.vec_id, r.vec_id, c)
                  }
                }
              }
              buf.insert(VecEntry(r.vec_id, r.embedding, rTs))
            }
            state.update(VecBucketState(buf.toSeq))
            if (buf.size > 0) {
              try state.setTimeoutTimestamp(buf.maxTs, watermarkDelay)
              catch { case _: UnsupportedOperationException => () } // batch: no timeouts
            }
            out.iterator
          }
      }
  }

  /** Streaming NEAR-duplicate detection — the watermark-bounded form of
    * [[graft.ops.TextOps.simhashPairs]], completing the streaming ×
    * dedup matrix next to the exact [[dedupWithinWatermark]].
    *
    * Shape: per-row SimHash ([[graft.ops.TextOps.simhashColumn]] — a
    * map, so the stateful chain below stays the query's only stateful
    * operator), explode into the 4 byte-bands, then
    * `flatMapGroupsWithState` keyed by (band, bv): each bucket's state
    * is the fingerprints seen there within the watermark horizon, and an
    * arriving doc is compared against exactly its bucket's members —
    * the same candidate-pruning the batch band equi-join performs, as
    * state lookup. Emits (doc_id, dup_of, hamming) per matched earlier
    * doc (possibly once per shared band — consumers `distinct` if pair
    * uniqueness matters; the keep/drop decision only needs "any match").
    *
    * Bounds, 100 TB-stream honest: state per bucket is pruned to the
    * watermark horizon, garbage-collected via event-time timeout when a
    * bucket goes idle, and hard-capped at `maxPerBucket` newest entries
    * with the cap enforced INSIDE the arrival loop ([[NewestK]],
    * evict-on-insert): a degenerate boilerplate bucket delivering B rows
    * in one trigger costs O(B × cap) compares over a ≤ cap buffer, never
    * O(B²) over an unbounded one — the streaming twin of
    * [[graft.ops.Lsh.guardHotBuckets]], same recall argument: a dropped
    * match survives through any other shared band.
    *
    * Rows are processed in arrival order (no per-bucket sort buffer);
    * each emitted pair is oriented by event time — the earlier
    * (ts, doc_id) is `dup_of`, the keeper. While the bucket stays within
    * `maxPerBucket` the output set is independent of intra-trigger
    * arrival order; once the cap binds, the compared subset depends on
    * eviction timing (see [[streamingEmbedNearDup]] — the same
    * bounded-recall trade as [[graft.ops.Lsh.guardHotBuckets]]). Works
    * identically on a batch frame (state starts empty, one invocation
    * per bucket) — StreamingNearDupSpec asserts parity with simhashPairs
    * on within-cap buckets.
    */
  def streamingNearDup(docs: DataFrame, watermarkDelay: String = "1 hour",
      maxHamming: Int = 3, maxPerBucket: Int = 1024): Dataset[NearDupMatch] = {
    import docs.sparkSession.implicits._
    val banded = docs
      .withWatermark("ts", watermarkDelay)
      .select(col("doc_id"), col("ts"),
        graft.ops.TextOps.simhashColumn(col("text")).as("fp"))
      .filter(col("fp").isNotNull)
      .select(col("doc_id"), col("ts"), col("fp"),
        explode(array((0 until graft.ops.TextOps.SimHashBands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("fp"), 8 * b).bitwiseAND(lit(255L)).as("bv"))
        }: _*)).as("bk"))
      .select(
        col("doc_id"), col("ts"), col("fp"),
        col("bk.band").as("band"), col("bk.bv").as("bv"))
      .as[BandedDoc]
    banded
      .groupByKey(r => (r.band, r.bv))
      .flatMapGroupsWithState[BucketState, NearDupMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // batch execution has no watermark: getCurrentWatermarkMs
            // throws there, and no pruning is needed (single invocation)
            val wm =
              try state.getCurrentWatermarkMs()
              catch { case _: UnsupportedOperationException => Long.MinValue }
            val buf = new NewestK[BucketEntry](maxPerBucket, _.ts_ms, _.doc_id)
            state.getOption.map(_.entries).getOrElse(Seq.empty)
              .filter(_.ts_ms >= wm).foreach(buf.insert)
            val out = scala.collection.mutable.ArrayBuffer[NearDupMatch]()
            rows.foreach { r =>
              val rTs = r.ts.getTime
              buf.foreach { e =>
                if (e.doc_id != r.doc_id) {
                  val h = java.lang.Long.bitCount(e.fp ^ r.fp).toLong
                  if (h <= maxHamming) {
                    // orient by event time: the earlier doc is the keeper
                    if (e.ts_ms < rTs || (e.ts_ms == rTs && e.doc_id < r.doc_id))
                      out += NearDupMatch(r.doc_id, e.doc_id, h)
                    else out += NearDupMatch(e.doc_id, r.doc_id, h)
                  }
                }
              }
              buf.insert(BucketEntry(r.doc_id, r.fp, rTs))
            }
            state.update(BucketState(buf.toSeq))
            if (buf.size > 0) {
              try state.setTimeoutTimestamp(buf.maxTs, watermarkDelay)
              catch { case _: UnsupportedOperationException => () } // batch: no timeouts
            }
            out.iterator
          }
      }
  }

  /** Arbitrary per-key state (flatMapGroupsWithState): running per-user
    * totals that survive across micro-batches. The state object is a
    * single small case class per key — O(distinct users) memory, with
    * ProcessingTimeTimeout available for eviction in long-running streams.
    */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserTotal, UserTotal](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserTotal]) =>
          val prev = state.getOption.getOrElse(UserTotal(userId, 0L, 0.0))
          var n = prev.n_events
          var s = prev.sum_value
          rows.foreach { e => n += 1; s += e.value }
          val next = UserTotal(userId, n, s)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Streaming index maintenance — the production loop for every
    * persisted store: "nightly crawl lands → fold the batch into the
    * index, exactly-once". Each micro-batch is handed to `append`
    * together with its batch id; the store-side append functions
    * ([[graft.ops.Retrieval.appendPostingsStore]],
    * [[graft.ops.NearDup.appendSignatureStore]],
    * [[graft.ops.AnnPq.appendPqIndex]],
    * [[graft.ops.SemDedup.appendSemanticStore]]) pass it to their
    * store's one append ([[graft.ops.StoreManifest.Store.append]]),
    * which compares it against the manifest's `batchWatermark` and
    * skips ids already folded.
    *
    * Exactly-once: foreachBatch is at-least-once — a crash after the
    * store publish but before the checkpoint commit replays the same
    * batchId on restart — so the dedup decision must be atomic with
    * the data publish. It is: the watermark rides INSIDE the manifest
    * ([[graft.ops.StoreManifest.Snapshot]]), swapped by the same
    * single-file rename as the data-dir lists (the
    * [[runWithBatchReport]] admission-ledger discipline, moved into
    * the store itself). Replayed ids are rejected BEFORE any write. A
    * crash after a batch's data write but before its publish leaves
    * orphan dirs the replay overwrites.
    *
    * Spark logs at every start that AQE "will be disabled" for the
    * streaming query: that holds only for the stream's own incremental
    * plan, and the jobs `append` runs still plan adaptively.
    *
    * Drains what is available, then stops (AvailableNow — the nightly
    * backfill shape); schedule it per crawl drop or wrap with a
    * ProcessingTime trigger for a long-lived service.
    */
  def runIndexAppend(
      stream: DataFrame,
      checkpoint: String,
      append: (DataFrame, Long) => Unit): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        append(batch, batchId)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming distribution-drift gate — q147's PSI audit as a per-
    * batch contract check: every micro-batch's value histogram is
    * scored against a PERSISTED reference histogram (the training
    * period's, written once by [[graft.ops.Drift.histogram]]), and the
    * per-bucket PSI report lands at `reportDir/batch=<id>`. The
    * arithmetic is [[graft.ops.Drift.psiFromCounts]] — the SAME code
    * the batch q147 runs, so stream and batch scores are bit-equal by
    * construction (spec-pinned). Stateless per batch; replay-
    * idempotent because each batch OVERWRITES its own partition (the
    * runDedupGate decisions discipline) — a crash-replayed batch
    * rewrites identical rows against the immutable reference.
    */
  def runDriftGate(
      stream: DataFrame,
      checkpoint: String,
      refHistogramPath: String,
      reportDir: String,
      valueCol: String,
      bucketWidth: Double): Unit =
    runCountsGate(stream, checkpoint, refHistogramPath, reportDir, "bucket",
      graft.ops.Drift.histogram(_, valueCol, bucketWidth),
      graft.ops.Drift.psiFromCounts(_))

  /** Streaming CATEGORICAL drift gate — q157's per-category PSI as the
    * same per-batch contract check: micro-batch category counts scored
    * against a persisted reference count table (category, cnt), report
    * at `reportDir/batch=<id>`. Shares [[graft.ops.Drift.psiFromCounts]]
    * with the batch form, so stream and batch scores are bit-equal by
    * construction; same overwrite-idempotent replay discipline as
    * [[runDriftGate]]. A category unseen in the reference (the
    * new-status signal) survives via the full-outer join + half-count
    * smoothing instead of being dropped.
    */
  def runCategoricalDriftGate(
      stream: DataFrame,
      checkpoint: String,
      refCountsPath: String,
      reportDir: String,
      catCol: String): Unit =
    runCountsGate(stream, checkpoint, refCountsPath, reportDir, "category",
      nonNullCounts(_, catCol, "category"),
      graft.ops.Drift.psiFromCounts(_, keyCol = "category"))

  /** Streaming KS drift gate — q160's exact two-sample statistic as the
    * per-batch contract check: the micro-batch's per-value counts
    * against a persisted reference count table (v, cnt), ONE summary
    * row (ks_q, at_value, nr, nc) at `reportDir/batch=<id>`. Shares
    * [[graft.ops.Drift.ksFromCounts]] with batch q160 (bit-equal by
    * construction, spec-pinned); overwrite-idempotent replay like the
    * PSI gates. Where the PSI gates need a bucket width or category
    * domain, KS is distribution-free — the nonparametric gate for value
    * columns whose shape (not just density per bucket) must hold.
    */
  def runKsDriftGate(
      stream: DataFrame,
      checkpoint: String,
      refCountsPath: String,
      reportDir: String,
      valueCol: String): Unit =
    runCountsGate(stream, checkpoint, refCountsPath, reportDir, "v",
      nonNullCounts(_, valueCol, "v"), graft.ops.Drift.ksFromCounts)

  /** The body the three drift gates share: per micro-batch, full-outer
    * join the reference's (key, cnt) table at `refPath` with the batch's
    * own (key, cnt) counts, zero-fill the side a key is missing from (a
    * key unseen in either period stays in the signal), score the
    * (key, ref_cnt, cur_cnt) frame and overwrite `reportDir/batch=<id>`.
    */
  private def runCountsGate(
      stream: DataFrame,
      checkpoint: String,
      refPath: String,
      reportDir: String,
      key: String,
      batchCounts: DataFrame => DataFrame,
      score: DataFrame => DataFrame): Unit =
    runIndexAppend(stream, checkpoint, (batch, batchId) => {
      val ref = batch.sparkSession.read.parquet(refPath)
        .select(col(key), col("cnt").as("ref_cnt"))
      val cur = batchCounts(batch).select(col(key), col("cnt").as("cur_cnt"))
      val counts = ref.join(cur, Seq(key), "full_outer")
        .select(col(key),
          coalesce(col("ref_cnt"), lit(0L)).as("ref_cnt"),
          coalesce(col("cur_cnt"), lit(0L)).as("cur_cnt"))
      score(counts)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$reportDir/batch=$batchId")
    })

  /** (key, cnt) over the non-null values of `valueCol`. */
  private def nonNullCounts(df: DataFrame, valueCol: String, key: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as(key))
      .agg(count(lit(1)).as("cnt"))

  /** Streaming near-dup ADMISSION GATE over the persisted signature
    * store — the nightly-crawl loop composed end-to-end. Per micro-batch:
    *
    *   1. sign the batch once: the batch, its token frame and its
    *      band-key frame are persisted, and every later step reads them;
    *   2. bound the within-batch pairs: one job fills the batch cache and
    *      counts its n rows. A row has one key per band, so the batch
    *      pairs number at most Bands · C(n, 2), exactly that when all n
    *      rows share one signature. Only a bound over the default pair
    *      budget (n ≥ 1,769) runs the exact preflight
    *      ([[graft.ops.Lsh.preflightFullCorpus]]), which fails the batch
    *      over budget. Store-probe candidates are unbudgeted;
    *   3. probe the CURRENT store (everything admitted by earlier
    *      batches — base corpus plus every prior night's keepers) and the
    *      batch itself for near-dups of the batch's docs, in one join and
    *      one verify ([[graft.ops.NearDup.probeSignatureStore]]);
    *   4. decide: a doc that pairs with a stored doc, or with another
    *      batch doc and is not that pair's minimum, is rejected — the
    *      conservative pairwise min-keeper (a dup of a dropped doc is
    *      still dropped; transitive chains keep only minima), the q66
    *      keeper-election rule at gate granularity. The decisions
    *      (doc_id, dup_of, jaccard, origin) land at
    *      `decisionsDir/batch=<id>` as one file sorted by
    *      (doc_id, dup_of, origin);
    *   5. admit the keepers: the signed frames minus the rejected ids
    *      are appended to the store — nothing is tokenized or signed
    *      again.
    *
    * Exactly-once under at-least-once delivery: the store append rides
    * the manifest `batchWatermark` ([[runIndexAppend]]'s contract), and
    * the gate checks that watermark FIRST — a replayed batch id is
    * skipped entirely (no probe, no decision rewrite, no publish), so
    * the decisions dir and the store can never disagree about a batch.
    * A crash after the decisions write but before the store publish
    * replays the batch: the watermark is still behind, the probe
    * re-runs against the identical store state, and the decisions
    * overwrite with identical rows — idempotent end to end.
    *
    * Every frame the batch persists is released in a `finally`, on the
    * failure path too: the loop runs once per micro-batch for the life
    * of the stream.
    */
  def runDedupGate(
      stream: DataFrame,
      checkpoint: String,
      storePath: String,
      decisionsDir: String,
      threshold: Double = 0.5): Unit =
    runIndexAppend(stream, checkpoint, (batch, batchId) => {
      val spark = batch.sparkSession
      val cur = graft.ops.NearDup.SignatureStore.at(spark, storePath).snapshot()
      if (batchId > cur.batchWatermark) {
        import graft.ops.{Lsh, NearDup}
        val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
        // built before anything is persisted, so a frame that fails to
        // analyse leaves no cache behind; persisted in dependency order
        // and released in reverse, so no dependent cache is re-planned
        val tok = NearDup.tokens(batch)
        val bk = NearDup.bands(NearDup.signatures(tok))
        val cached = Seq(batch, tok, bk)
        cached.foreach(_.persist(level))
        try {
          // an accumulator, not count(): one job, no shuffle (takeCensus)
          val rows = spark.sparkContext.longAccumulator("dedup gate batch rows")
          batch.foreachPartition((it: Iterator[Row]) => rows.add(it.foldLeft(0L)((c, _) => c + 1)))
          val n = rows.sum.toDouble
          if (NearDup.Bands * n * (n - 1) / 2 > Lsh.DefaultPairBudget)
            Lsh.preflightFullCorpus(bk, NearDup.BandKeys, Some(Lsh.DefaultPairBudget))
          val decisions = NearDup.probeSignatureStore(
            storePath, cur, tok, bk, threshold, withinBatch = true).persist(level)
          try {
            // the action that fills the decisions cache (and the tok and
            // bk caches under it); at most one id per batch doc
            val rejected = decisions.select("doc_id").distinct()
              .collect().map(_.get(0))
            // overwrite per batch partition: a replayed crash window
            // rewrites the same rows, never duplicates them. One file,
            // sorted in its partition: no range-sampling job
            decisions.coalesce(1).sortWithinPartitions("doc_id", "dup_of", "origin")
              .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
              .parquet(s"$decisionsDir/batch=$batchId")
            // a null doc_id is never rejected, so it is kept (NOT IN alone
            // would drop it)
            def keepers(df: DataFrame): DataFrame =
              if (rejected.isEmpty) df
              else df.filter(!coalesce(col("doc_id").isin(rejected.toSeq: _*), lit(false)))
            NearDup.appendSignedBatch(keepers(tok), keepers(bk), storePath, batchId)
          } finally decisions.unpersist(false)
        } finally cached.reverse.foreach(_.unpersist(false))
      }
    })
}
