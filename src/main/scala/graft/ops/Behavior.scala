package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Behavioral analytics over the event stream — the product-analytics
  * companions to sessionization (q27) and windowed aggregation (q26):
  * ordered funnel conversion and cohort retention, the two queries
  * every events warehouse serves daily.
  *
  * Reference scope: the reference pipeline aggregates loan events by
  * segment (`loan_spark_etl.py` aggregate stage); these are the same
  * grouped-count shape extended to ORDER-aware semantics.
  *
  * Shape, scale-first (funnel):
  *   - strict-order first-occurrence semantics: a user reaches step i
  *     when their earliest step-i event STRICTLY AFTER their step-(i−1)
  *     reach time exists (the ClickHouse windowFunnel / Amplitude
  *     "ordered funnel" contract, minus the time-window cap — add a
  *     `ts < reach + Δ` conjunct for that).
  *   - each stage is ONE map-side filter to that step's event type
  *     (only (user_id, ts) pairs of ONE type ever shuffle) + ONE
  *     user_id-keyed min-aggregate whose map-side partials absorb hot
  *     users, then a user_id equi-join against the previous stage's
  *     per-user single row — co-partitioned after the first shuffle,
  *     skew-proof (a million-event user contributes ONE row per stage
  *     boundary). A single-shuffle alternative (collect per-type ts
  *     arrays per user, chain in-row) trades k scans for per-user
  *     state proportional to activity — the join-chain is the shape
  *     that survives a hot-user crawl at 100 TB.
  *   - output is k rows (step, step_name, users): driver-safe by
  *     construction.
  *
  * Shape, scale-first (retention):
  *   - cohort = the user's first-event week: ONE user_id-keyed min
  *     (map-side partials), joined back user_id-keyed (co-partitioned).
  *   - cell counts: count(DISTINCT user_id) per (cohort_week, offset)
  *     — Spark plans the single-distinct form as two-stage partial
  *     aggregation (no Expand); output bounded by weeks².
  */
object Behavior {

  val DefaultFunnel: Seq[String] = Seq("view", "click", "purchase")

  /** Ordered-funnel user counts: row i = users whose events contain
    * steps(0..i) in strict timestamp order (first-occurrence chain).
    * Output: (step, step_name, users), step = 1..k.
    */
  def funnelSteps(
      events: DataFrame,
      steps: Seq[String] = DefaultFunnel): DataFrame = {
    require(steps.nonEmpty)
    val typed = steps.map(s =>
      events.filter(col("event_type") === s && col("ts").isNotNull &&
        col("user_id").isNotNull))
    // reach(i): per-user earliest step-i event strictly after reach(i-1)
    val reaches = typed.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (ev, i)) =>
        val base = prev match {
          case None => ev.select(col("user_id"), col("ts"))
          case Some(p) =>
            ev.join(p.select(col("user_id"), col("reach").as("prev_reach")), "user_id")
              .filter(col("ts") > col("prev_reach"))
              .select(col("user_id"), col("ts"))
        }
        Some(base.groupBy(col("user_id")).agg(min(col("ts")).as("reach")))
    }.flatten
    val counts = reaches.zip(steps).zipWithIndex.map { case ((r, name), i) =>
      r.agg(count(lit(1)).as("users"))
        .select(lit((i + 1).toLong).as("step"), lit(name).as("step_name"),
          col("users"))
    }
    counts.reduce(_ unionByName _).orderBy("step")
  }

  /** Funnel step-transition latencies with EXACT medians (q148): for
    * each adjacent step pair, how long converting users took — the
    * time-to-convert read every growth report pairs with q110's counts.
    *
    * The median discipline is the scale answer to exact GROUPED
    * percentiles: q40's `percentile` holds every group value in ONE
    * aggregation buffer (unbounded — the documented q40/q124 hazard);
    * here each group's median comes from a group-PARTITIONED window
    * (rank + count over the transition key) — sort-based, spillable,
    * every task sorts its groups' rows, no whole-group array ever
    * materializes. Median = mean of the middle one/two ranks (the q144
    * rank-the-middle form, replayed identically in DuckDB — never an
    * interpolating percentile call).
    *
    * Output: (step, transition, users, median_us, mean_us) — users =
    * converters of that transition, median/mean over exact micros
    * (mean = sum of exact longs / count, one double division).
    */
  def funnelStepLatencies(
      events: DataFrame,
      steps: Seq[String] = DefaultFunnel): DataFrame = {
    require(steps.length >= 2)
    import org.apache.spark.sql.expressions.Window
    val typed = steps.map(s =>
      events.filter(col("event_type") === s && col("ts").isNotNull &&
        col("user_id").isNotNull))
    val reaches = typed.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (ev, _)) =>
        val base = prev match {
          case None => ev.select(col("user_id"), col("ts"))
          case Some(p) =>
            ev.join(p.select(col("user_id"), col("reach").as("prev_reach")), "user_id")
              .filter(col("ts") > col("prev_reach"))
              .select(col("user_id"), col("ts"))
        }
        Some(base.groupBy(col("user_id")).agg(min(col("ts")).as("reach")))
    }.flatten
    val lats = reaches.sliding(2).toSeq.zipWithIndex.map {
      case (Seq(a, b), i) =>
        b.select(col("user_id"), col("reach"))
          .join(a.select(col("user_id"), col("reach").as("prev_reach")), "user_id")
          .select(
            lit((i + 1).toLong).as("step"),
            lit(s"${steps(i)}->${steps(i + 1)}").as("transition"),
            col("user_id"),
            (unix_micros(col("reach")) - unix_micros(col("prev_reach")))
              .as("lat_us"))
    }.reduce(_ unionByName _)
    // grouped two-pass ranking, not Window.partitionBy(transition):
    // |transitions| = |steps|-1 (two here) — a transition-partitioned
    // window would serialize each transition's converters into ONE task
    // (the q149 finding); the range-partitioned form sorts N/P per task
    val ranked = Ranks.withGroupedRowNumber(
      lats, Seq("transition"),
      Seq(col("lat_us").asc, col("user_id").asc), "rk", countOut = Some("n"))
    ranked
      .groupBy(col("step"), col("transition"))
      .agg(
        max(col("n")).cast("long").as("users"),
        avg(when(col("rk") === expr("(n + 1) div 2") ||
            col("rk") === expr("n div 2 + 1"), col("lat_us")))
          .as("median_us"),
        (sum(col("lat_us")) / count(lit(1))).as("mean_us"))
      .orderBy("step")
  }

  /** DuckDB oracle for [[funnelStepLatencies]] — the same reach chain,
    * the same rank-the-middle median inside each transition.
    */
  def funnelStepLatenciesOracleSql(
      steps: Seq[String] = DefaultFunnel): String = {
    require(steps.length >= 2 && steps.forall(!_.contains("'")))
    val ctes = steps.zipWithIndex.map { case (s, i) =>
      if (i == 0)
        s"""r1 AS (
           |  SELECT user_id, min(ts) AS reach FROM events
           |  WHERE event_type = '$s' AND ts IS NOT NULL AND user_id IS NOT NULL
           |  GROUP BY 1)""".stripMargin
      else
        s"""r${i + 1} AS (
           |  SELECT e.user_id, min(e.ts) AS reach FROM events e
           |  JOIN r$i p ON p.user_id = e.user_id
           |  WHERE e.event_type = '$s' AND e.ts IS NOT NULL AND e.ts > p.reach
           |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val latSelects = steps.sliding(2).toSeq.zipWithIndex.map {
      case (Seq(a, b), i) =>
        s"""SELECT CAST(${i + 1} AS BIGINT) AS step, '$a->$b' AS transition,
           |  c.user_id,
           |  epoch_us(c.reach) - epoch_us(p.reach) AS lat_us
           |FROM r${i + 2} c JOIN r${i + 1} p USING (user_id)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $ctes,
       |lats AS (
       |$latSelects),
       |ranked AS (
       |  SELECT step, transition, lat_us,
       |    row_number() OVER (PARTITION BY transition
       |      ORDER BY lat_us, user_id) AS rk,
       |    count(*) OVER (PARTITION BY transition) AS n
       |  FROM lats)
       |SELECT step, transition, CAST(max(n) AS BIGINT) AS users,
       |  avg(CASE WHEN rk = (n + 1) // 2 OR rk = n // 2 + 1
       |        THEN lat_us END) AS median_us,
       |  sum(lat_us) / count(*) AS mean_us
       |FROM ranked GROUP BY 1, 2 ORDER BY step""".stripMargin
  }

  /** Top user paths by session (q150): the "what do users actually do"
    * Sankey feed — sessionize on an inactivity gap (q27's definition),
    * take each session's first `maxLen` event types in order, count
    * identical paths. Shape, scale-first: sessionization and the
    * in-session position are TWO evaluations over the SAME
    * user-partitioned (ts, event_id) sort (one exchange); the per-
    * session collect is BOUNDED at maxLen rows by a rank prefilter
    * (never "collect the whole session, then truncate" — the aggregate
    * buffer holds ≤ maxLen structs); path counting is one keyed count
    * with map-side partials.
    */
  def sessionPaths(
      events: DataFrame,
      gapMinutes: Int = 30,
      maxLen: Int = 5,
      topK: Int = 20): DataFrame = {
    require(gapMinutes >= 1 && maxLen >= 1 && topK >= 1)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prevTs = lag("ts", 1).over(w)
    val sess = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("event_type").isNotNull)
      .withColumn("new_sess",
        when(prevTs.isNull ||
          col("ts") > prevTs + expr(s"INTERVAL $gapMinutes MINUTES"), 1)
          .otherwise(0))
      .withColumn("sess_idx",
        sum("new_sess").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ws = Window.partitionBy(col("user_id"), col("sess_idx"))
      .orderBy(col("ts"), col("event_id"))
    sess
      .withColumn("pos", row_number().over(ws))
      .filter(col("pos") <= maxLen) // bound the collect BEFORE it happens
      .groupBy(col("user_id"), col("sess_idx"))
      .agg(concat_ws("->",
        expr("transform(array_sort(collect_list(struct(pos, event_type)))," +
          " x -> x.event_type)")).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("sessions"))
      .orderBy(desc("sessions"), asc("path"))
      .limit(topK)
  }

  /** DuckDB oracle for [[sessionPaths]] — identical gap sessionization,
    * position bound, and ordered path assembly.
    */
  def sessionPathsOracleSql(
      gapMinutes: Int = 30,
      maxLen: Int = 5,
      topK: Int = 20): String =
    s"""WITH marked AS (
       |  SELECT user_id, event_id, event_type, ts,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR ts > lag(ts) OVER w + INTERVAL $gapMinutes MINUTE
       |         THEN 1 ELSE 0 END AS new_sess
       |  FROM events
       |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |    AND event_type IS NOT NULL
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sessed AS (
       |  SELECT *, sum(new_sess) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS UNBOUNDED PRECEDING) AS sess_idx
       |  FROM marked),
       |positioned AS (
       |  SELECT *, row_number() OVER (
       |      PARTITION BY user_id, sess_idx ORDER BY ts, event_id) AS pos
       |  FROM sessed),
       |paths AS (
       |  SELECT user_id, sess_idx,
       |    string_agg(event_type, '->' ORDER BY pos) AS path
       |  FROM positioned WHERE pos <= $maxLen
       |  GROUP BY 1, 2)
       |SELECT path, CAST(count(*) AS BIGINT) AS sessions
       |FROM paths GROUP BY 1
       |ORDER BY sessions DESC, path LIMIT $topK""".stripMargin

  /** DuckDB SQL replicating [[funnelSteps]]. */
  def funnelStepsOracleSql(steps: Seq[String] = DefaultFunnel): String = {
    require(steps.nonEmpty && steps.forall(!_.contains("'")))
    val ctes = steps.zipWithIndex.map { case (s, i) =>
      if (i == 0)
        s"""r1 AS (
           |  SELECT user_id, min(ts) AS reach FROM events
           |  WHERE event_type = '$s' AND ts IS NOT NULL AND user_id IS NOT NULL
           |  GROUP BY 1)""".stripMargin
      else
        s"""r${i + 1} AS (
           |  SELECT e.user_id, min(e.ts) AS reach FROM events e
           |  JOIN r$i p ON p.user_id = e.user_id
           |  WHERE e.event_type = '$s' AND e.ts IS NOT NULL AND e.ts > p.reach
           |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val rows = steps.zipWithIndex.map { case (s, i) =>
      s"SELECT CAST(${i + 1} AS BIGINT) AS step, '$s' AS step_name, " +
        s"CAST(count(*) AS BIGINT) AS users FROM r${i + 1}"
    }.mkString("\nUNION ALL\n")
    s"WITH $ctes\n$rows\nORDER BY step"
  }

  /** Weekly cohort retention: users grouped by first-event week, one
    * row per (cohort_week, week_offset) with the distinct users active
    * that week. Output: (cohort_week: date, week_offset, users).
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val ev = events.filter(col("ts").isNotNull && col("user_id").isNotNull)
    val first = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
    ev.select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("act_week"))
      .join(first, "user_id")
      .groupBy(col("cohort_week"),
        (datediff(col("act_week"), col("cohort_week")) / 7).cast("long")
          .as("week_offset"))
      .agg(countDistinct(col("user_id")).as("users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Time-windowed funnel (q117): [[funnelSteps]] with the full
    * ClickHouse-windowFunnel contract — the whole chain must complete
    * within `window` of the step-1 reach time. Same per-stage shape
    * (map-side type filter + user-keyed min + co-partitioned join);
    * the step-1 reach rides each stage row so the deadline is an
    * in-row conjunct, no extra join.
    */
  def funnelStepsWindowed(
      events: DataFrame,
      steps: Seq[String] = DefaultFunnel,
      window: String = "INTERVAL 30 MINUTES"): DataFrame = {
    require(steps.nonEmpty)
    val typed = steps.map(s =>
      events.filter(col("event_type") === s && col("ts").isNotNull &&
        col("user_id").isNotNull))
    // reach frame carries (user_id, reach, t1): t1 = the step-1 reach,
    // the anchor of the conversion deadline
    val reaches = typed.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (ev, i)) =>
        Some(prev match {
          case None =>
            ev.groupBy(col("user_id")).agg(min(col("ts")).as("reach"))
              .select(col("user_id"), col("reach"), col("reach").as("t1"))
          case Some(p) =>
            ev.join(p.select(col("user_id"), col("reach").as("prev_reach"),
                col("t1")), "user_id")
              .filter(col("ts") > col("prev_reach") &&
                col("ts") < col("t1") + expr(window))
              .groupBy(col("user_id"), col("t1"))
              .agg(min(col("ts")).as("reach"))
              .select(col("user_id"), col("reach"), col("t1"))
        })
    }.flatten
    val counts = reaches.zip(steps).zipWithIndex.map { case ((r, name), i) =>
      r.agg(count(lit(1)).as("users"))
        .select(lit((i + 1).toLong).as("step"), lit(name).as("step_name"),
          col("users"))
    }
    counts.reduce(_ unionByName _).orderBy("step")
  }

  /** DuckDB SQL replicating [[funnelStepsWindowed]]. */
  def funnelStepsWindowedOracleSql(
      steps: Seq[String] = DefaultFunnel,
      windowSql: String = "INTERVAL 30 MINUTE"): String = {
    require(steps.nonEmpty && steps.forall(!_.contains("'")))
    val ctes = steps.zipWithIndex.map { case (s, i) =>
      if (i == 0)
        s"""r1 AS (
           |  SELECT user_id, min(ts) AS reach, min(ts) AS t1 FROM events
           |  WHERE event_type = '$s' AND ts IS NOT NULL AND user_id IS NOT NULL
           |  GROUP BY 1)""".stripMargin
      else
        s"""r${i + 1} AS (
           |  SELECT e.user_id, min(e.ts) AS reach, p.t1 FROM events e
           |  JOIN r$i p ON p.user_id = e.user_id
           |  WHERE e.event_type = '$s' AND e.ts IS NOT NULL
           |    AND e.ts > p.reach AND e.ts < p.t1 + $windowSql
           |  GROUP BY 1, 3)""".stripMargin
    }.mkString(",\n")
    val rows = steps.zipWithIndex.map { case (s, i) =>
      s"SELECT CAST(${i + 1} AS BIGINT) AS step, '$s' AS step_name, " +
        s"CAST(count(*) AS BIGINT) AS users FROM r${i + 1}"
    }.mkString("\nUNION ALL\n")
    s"WITH $ctes\n$rows\nORDER BY step"
  }

  /** Event-transition counts (q118): (event_type → next event_type)
    * frequencies per user path — the Markov/Sankey view of behavior.
    * ONE (user)-keyed lag window (bounded by per-user activity; at
    * 100 TB a (user, day-shard) split bounds any single task exactly
    * as q80 documents) + ONE keyed count. Deterministic: ties in ts
    * break on event_id, both engines.
    */
  def transitionCounts(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("event_type", "next_type")
  }

  /** DuckDB SQL replicating [[transitionCounts]]. */
  def transitionCountsOracleSql(): String =
    s"""WITH seq AS (
       |  SELECT event_type,
       |    lead(event_type) OVER (
       |      PARTITION BY user_id ORDER BY ts, event_id) AS next_type
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL)
       |SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS cnt
       |FROM seq WHERE next_type IS NOT NULL
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** RFM segmentation (q119): per-user Recency (days since last
    * purchase, against the stream's max ts — deterministic, no
    * wall-clock), Frequency (purchase count), Monetary (summed value,
    * 2dp); each dimension scored 1–4 by EXACT quartile rank. ONE
    * user-keyed aggregate, then each dimension scored by
    * [[Ranks.withNtile]] — the two-pass distributed ntile (range
    * partition + per-partition row_number + broadcast offsets), never
    * a single global window partition: at 100 TB "users ≪ events" is
    * still 10⁸–10⁹ rows, and an unpartitioned `ntile` would sort them
    * all on ONE task, three times. Bit-identical to the window form
    * (BehaviorSpec pins it; the user_id tie-break makes every order
    * total). The max-ts anchor is collected off the persisted per-user
    * frame (max of per-user maxes — one tiny job, no global-agg
    * exchange in the final plan). Output: one row per purchasing user.
    */
  def rfmSegments(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase" &&
      col("ts").isNotNull && col("user_id").isNotNull)
    rfmScores(purchases
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"),
        count(lit(1)).as("frequency"),
        round(sum(col("value")), 2).as("monetary")))
  }

  /** The RFM scoring pass over a per-user (user_id, last_ts, frequency,
    * monetary) snapshot — shared by the batch q119 and the streaming
    * twin's per-trigger snapshot re-score, so stream = batch holds
    * structurally. See [[rfmSegments]] for the plan-shape contract.
    */
  def rfmScores(perUser: DataFrame): DataFrame = {
    val per = perUser
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the cache serves the four IN-CALL materializations (the max-ts
    // collect + the three eagerly checkpointed tile passes) and is
    // dropped before returning — the returned plan's own `base` branch
    // recomputes one cheap per-user agg instead of pinning executor
    // storage across a long-lived session (the r14 advisory)
    try {
      val maxTs = per.agg(max(col("last_ts"))).collect()
        .headOption.flatMap(r => Option(r.getTimestamp(0)))
      val maxTsLit = maxTs.map(lit(_)).getOrElse(lit(null).cast("timestamp"))
      def baseOf(src: DataFrame) = src.select(col("user_id"),
        datediff(maxTsLit.cast("date"), col("last_ts").cast("date"))
          .cast("long").as("recency_days"),
        col("frequency"), col("monetary"))
      val base = baseOf(per)
      def tile(metric: String, order: Seq[org.apache.spark.sql.Column],
          out: String) =
        Ranks.withNtile(base.select(col("user_id"), col(metric)), 4,
          order :+ asc("user_id"), out).select(col("user_id"), col(out))
      // The three tile passes are INDEPENDENT multi-action pipelines
      // (each Ranks.withNtile runs a range-sample + checkpoint + counts
      // collect over the cached per-user snapshot), so they build as
      // concurrent [[Legs]]. Safe because `per` is already materialized
      // by the max-ts collect above, so the legs race on nothing.
      val Seq(rT, fT, mT) = Legs.run(per.sparkSession.sparkContext)(
        () => tile("recency_days", Seq(asc("recency_days")), "r_score"),
        () => tile("frequency", Seq(desc("frequency")), "f_score"),
        () => tile("monetary", Seq(desc("monetary")), "m_score"))
      baseOf(perUser)
        .join(rT, "user_id")
        .join(fT, "user_id")
        .join(mT, "user_id")
        .select(col("user_id"), col("recency_days"), col("frequency"),
          col("monetary"), col("r_score"), col("f_score"), col("m_score"))
        .orderBy("user_id")
    } finally per.unpersist(false)
  }

  /** DuckDB SQL replicating [[rfmSegments]]. */
  def rfmSegmentsOracleSql(): String =
    s"""WITH p AS (
       |  SELECT user_id, ts, value FROM events
       |  WHERE event_type = 'purchase' AND ts IS NOT NULL AND user_id IS NOT NULL),
       |mx AS (SELECT max(ts) AS max_ts FROM p),
       |per AS (
       |  SELECT user_id,
       |    CAST(date_diff('day', CAST(max(ts) AS DATE),
       |      CAST((SELECT max_ts FROM mx) AS DATE)) AS BIGINT) AS recency_days,
       |    CAST(count(*) AS BIGINT) AS frequency,
       |    round(sum(value), 2) AS monetary
       |  FROM p GROUP BY 1)
       |SELECT user_id, recency_days, frequency, monetary,
       |  CAST(ntile(4) OVER (ORDER BY recency_days ASC, user_id ASC) AS BIGINT) AS r_score,
       |  CAST(ntile(4) OVER (ORDER BY frequency DESC, user_id ASC) AS BIGINT) AS f_score,
       |  CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id ASC) AS BIGINT) AS m_score
       |FROM per ORDER BY user_id""".stripMargin

  /** Hourly rate-anomaly detection (q120): per (event_type, hour)
    * counts compared against the type's trailing 24-hour window —
    * "this hour ran at more than `factor`× the trailing mean" — the
    * alerting query an ops pipeline runs on every stream.
    *
    * Shape, scale-first: ONE keyed aggregate collapses the stream to
    * (type, hour) cells (map-side partials; output bounded by
    * timespan × types), then ONE type-partitioned RANGE window over
    * the integer hour number — frames are [h−24, h−1], so gaps in
    * the hour sequence are handled by VALUE range, not row offsets.
    * The anomaly test is EXACT integer arithmetic (cnt · trail_hours >
    * factor · trail_sum) — no float ever computed, both engines agree
    * trivially.
    */
  def rateAnomalies(
      events: DataFrame,
      trailingHours: Int = 24,
      factor: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = events
      .filter(col("ts").isNotNull)
      // floor division, NOT `div` (truncation toward zero): a pre-1970
      // timestamp must land in the same bucket both engines compute
      // (DuckDB's oracle floors; -10s is hour -1, not hour 0)
      .groupBy(col("event_type"),
        floor(unix_timestamp(col("ts")) / 3600).as("hour_num"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_num"))
      .rangeBetween(-trailingHours.toLong, -1L)
    hourly
      .withColumn("trail_sum", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("trail_hours", count(col("cnt")).over(w).cast("long"))
      .filter(col("trail_hours") > 0 &&
        col("cnt") * col("trail_hours") > lit(factor.toLong) * col("trail_sum"))
      .select(col("event_type"), col("hour_num"), col("cnt"),
        col("trail_sum"), col("trail_hours"))
      .orderBy("event_type", "hour_num")
  }

  /** DuckDB SQL replicating [[rateAnomalies]]. */
  def rateAnomaliesOracleSql(trailingHours: Int = 24, factor: Int = 2): String =
    s"""WITH hourly AS (
       |  SELECT event_type,
       |    -- explicit floor: epoch() is DOUBLE and DuckDB's // is NOT
       |    -- floor division on doubles (CAST then half-rounds)
       |    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_num,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
       |trail AS (
       |  SELECT event_type, hour_num, cnt,
       |    CAST(coalesce(sum(cnt) OVER w, 0) AS BIGINT) AS trail_sum,
       |    CAST(count(cnt) OVER w AS BIGINT) AS trail_hours
       |  FROM hourly
       |  WINDOW w AS (PARTITION BY event_type ORDER BY hour_num
       |    RANGE BETWEEN $trailingHours PRECEDING AND 1 PRECEDING))
       |SELECT event_type, hour_num, cnt, trail_sum, trail_hours
       |FROM trail
       |WHERE trail_hours > 0 AND cnt * trail_hours > $factor * trail_sum
       |ORDER BY event_type, hour_num""".stripMargin

  /** Sliding (hopping) window counts (q115): 1-hour windows every 30
    * minutes — each event lands in length/slide = 2 windows, the
    * overlap that tumbling q26 cannot see (a spike straddling an hour
    * boundary shows full-height in some sliding window). Uses Spark's
    * native `window(ts, length, slide)` generator — per-row map-side
    * window assignment (no join, no self-union), then ONE keyed
    * aggregate; identical semantics stream under a watermark
    * (StreamingEtl's q26 shape with a slide). Output bounded by
    * timespan × types.
    */
  def slidingWindowCounts(
      events: DataFrame,
      length: String = "1 hour",
      slide: String = "30 minutes"): DataFrame =
    events
      .filter(col("ts").isNotNull)
      .groupBy(window(col("ts"), length, slide), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** DuckDB oracle for [[slidingWindowCounts]] (1h/30m defaults): each
    * event expands to its two candidate window starts on the 30-minute
    * grid, filtered to containment — the unnest twin of Spark's native
    * window generator.
    */
  def slidingWindowCountsOracleSql(): String =
    s"""WITH ev AS (
       |  SELECT ts, event_type, value FROM events WHERE ts IS NOT NULL),
       |cand AS (
       |  SELECT e.ts, e.event_type, e.value,
       |    time_bucket(INTERVAL '30 minutes', e.ts) - INTERVAL (g.k * 30) MINUTE
       |      AS window_start
       |  FROM ev e CROSS JOIN (SELECT unnest([0, 1]) AS k) g
       |  WHERE e.ts >= time_bucket(INTERVAL '30 minutes', e.ts) - INTERVAL (g.k * 30) MINUTE
       |    AND e.ts < time_bucket(INTERVAL '30 minutes', e.ts) - INTERVAL (g.k * 30) MINUTE
       |      + INTERVAL '1 hour')
       |SELECT CAST(window_start AS TIMESTAMP) AS window_start, event_type,
       |  CAST(count(*) AS BIGINT) AS cnt, round(sum(value), 2) AS sum_value
       |FROM cand GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Marketing attribution (q128): each purchase credited to the user's
    * latest (last-touch) and earliest (first-touch) non-purchase event
    * inside a lookback window, 'direct' when none exists; revenue and
    * purchase counts reported per (model, channel).
    *
    * Shape, scale-first: ONE user-partitioned RANGE window over epoch
    * micros, frame [ts − lookback, ts) — bounded by per-user activity
    * (the q118 window discipline; a (user, day-shard) split bounds any
    * single task at 100 TB exactly as q80 documents). The in-frame
    * touch pick is `max/min` OVER A STRUCT (ts, event_id, type) — an
    * order-free aggregate, so two touches inside the same microsecond
    * still resolve deterministically by event_id, where a positional
    * `last_value` would depend on intra-frame row order. Then ONE tiny
    * keyed aggregate (output ≤ 2 × |event types| rows).
    */
  def attribution(
      events: DataFrame,
      lookbackHours: Int = 168): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .withColumn("us", unix_micros(col("ts")))
    val touch = when(col("event_type") =!= "purchase",
      struct(col("us"), col("event_id"), col("event_type")))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-lookbackHours.toLong * 3600L * 1000000L, -1L)
    val per = ev
      .withColumn("lt", max(touch).over(w))
      .withColumn("ft", min(touch).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        coalesce(col("lt.event_type"), lit("direct")).as("last_ch"),
        coalesce(col("ft.event_type"), lit("direct")).as("first_ch"),
        col("value"))
    // both models from ONE scan: explode (model, channel) pairs in-row
    // (a per-model union would recompute the window twice)
    per
      .select(explode(array(
        struct(lit("last_touch").as("model"), col("last_ch").as("channel")),
        struct(lit("first_touch").as("model"), col("first_ch").as("channel"))))
        .as("m"), col("value"))
      .groupBy(col("m.model").as("model"), col("m.channel").as("channel"))
      .agg(count(lit(1)).as("purchases"),
        round(coalesce(sum(col("value")), lit(0.0)), 2).as("revenue"))
      .orderBy("model", "channel")
  }

  /** DuckDB SQL replicating [[attribution]]. */
  def attributionOracleSql(lookbackHours: Int = 168): String = {
    val lb = lookbackHours.toLong * 3600L * 1000000L
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type, value,
       |    epoch_us(ts) AS us
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
       |marked AS (
       |  SELECT event_type, value,
       |    (max(CASE WHEN event_type <> 'purchase'
       |          THEN struct_pack(us := us, event_id := event_id, typ := event_type) END)
       |      OVER w).typ AS lt,
       |    (min(CASE WHEN event_type <> 'purchase'
       |          THEN struct_pack(us := us, event_id := event_id, typ := event_type) END)
       |      OVER w).typ AS ft
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY us
       |    RANGE BETWEEN $lb PRECEDING AND 1 PRECEDING)),
       |per AS (
       |  SELECT coalesce(lt, 'direct') AS last_ch,
       |    coalesce(ft, 'direct') AS first_ch, value
       |  FROM marked WHERE event_type = 'purchase')
       |SELECT 'last_touch' AS model, last_ch AS channel,
       |  CAST(count(*) AS BIGINT) AS purchases,
       |  round(coalesce(sum(value), 0), 2) AS revenue
       |FROM per GROUP BY 2
       |UNION ALL
       |SELECT 'first_touch', first_ch,
       |  CAST(count(*) AS BIGINT), round(coalesce(sum(value), 0), 2)
       |FROM per GROUP BY 2
       |ORDER BY model, channel""".stripMargin
  }

  /** Rolling distinct active users (q127): daily KMV sketches merged
    * over a trailing `windowDays` window — DAU/WAU/MAU from O(k) state
    * per day instead of a window × users distinct explosion, and the
    * artifact a nightly job would persist (merge N more days without
    * rescanning events; the q103 monoid discipline).
    *
    * Shape, scale-first: ONE day-keyed sketch aggregate collapses the
    * stream to |days| rows of O(k) state (map-side partials — at
    * 100 TB the raw user ids never shuffle, each map task emits ≤ k
    * longs per day), then a deliberate range self-join of the TINY
    * |days|-row frame (the q122 pattern — never a corpus-scale join)
    * and an in-row k-min merge of ≤ windowDays arrays (KMV closure:
    * the union's k smallest hashes are recoverable from the per-day
    * k-min lists, so the rolling estimate is EXACTLY the sketch of the
    * union — bit-reproducible, oracle-checkable).
    */
  def rollingActiveUsers(
      events: DataFrame,
      windowDays: Int = 7,
      k: Int = 1024): DataFrame = {
    import graft.functions.KmvSketch
    require(windowDays >= 1)
    val daily = events
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .groupBy(floor(unix_timestamp(col("ts")) / 86400).as("day_num"))
      .agg(KmvSketch.kmvMinHashes(
        KmvSketch.hash(col("user_id")), k).as("mh"))
    val cur = daily.select(col("day_num"), col("mh"))
    val win = daily.select(col("day_num").as("d2"), col("mh").as("mh2"))
    cur
      .join(win, col("d2") >= col("day_num") - (windowDays - 1).toLong &&
        col("d2") <= col("day_num"))
      .groupBy(col("day_num"))
      .agg(collect_list(col("mh2")).as("mhs"),
        count(lit(1)).as("days_present"))
      .select(col("day_num"),
        slice(array_sort(array_distinct(flatten(col("mhs")))), 1, k).as("mh_w"),
        col("days_present"))
      .select(col("day_num"),
        KmvSketch.kmvEstimate("mh_w", k).as("active_est"),
        col("days_present").cast("long").as("days_present"))
      .orderBy("day_num")
  }

  /** DuckDB SQL replicating [[rollingActiveUsers]]. */
  def rollingActiveUsersOracleSql(windowDays: Int = 7, k: Int = 1024): String = {
    import graft.functions.KmvSketch
    val h = KmvSketch.hashSql("user_id")
    s"""WITH hashed AS (
       |  SELECT DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_num,
       |    $h AS h
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
       |ranked AS (
       |  SELECT day_num, h,
       |    row_number() OVER (PARTITION BY day_num ORDER BY h) AS rn
       |  FROM hashed),
       |daily AS (
       |  SELECT day_num, list_sort(list(h)) AS mh
       |  FROM ranked WHERE rn <= $k GROUP BY 1),
       |merged AS (
       |  SELECT a.day_num,
       |    list_sort(list_distinct(flatten(list(b.mh))))[:$k] AS mh_w,
       |    CAST(count(*) AS BIGINT) AS days_present
       |  FROM daily a JOIN daily b
       |    ON b.day_num BETWEEN a.day_num - ${windowDays - 1} AND a.day_num
       |  GROUP BY 1)
       |SELECT day_num, ${KmvSketch.kmvEstimateSql("mh_w", k)} AS active_est,
       |  days_present
       |FROM merged ORDER BY day_num""".stripMargin
  }

  /** DuckDB SQL replicating [[cohortRetention]]. */
  def cohortRetentionOracleSql(): String =
    s"""WITH ev AS (
       |  SELECT user_id, ts FROM events
       |  WHERE ts IS NOT NULL AND user_id IS NOT NULL),
       |first AS (
       |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
       |  FROM ev GROUP BY 1)
       |SELECT f.cohort_week,
       |  CAST(date_diff('day', f.cohort_week,
       |    CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT) AS week_offset,
       |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS users
       |FROM ev e JOIN first f USING (user_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
