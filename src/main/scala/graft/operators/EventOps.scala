package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-table operators: JSON props extraction, event-time windowed
  * aggregation, approximate distincts, batch sessionization
  * (SURVEY.md §2.10 E5–E7). */
object EventOps {

  /** Gap-based sessionization over a static table — the batch twin of
    * StreamOps.sessionize, same session semantics: a session ends after
    * `gapMs` of event-time silence per user.
    *
    * Classic two-window formulation: flag rows whose gap to the previous
    * event exceeds the threshold (lag), number sessions with a running
    * sum of flags, aggregate per (user, session). One shuffle on the
    * user key; both windows share its partitioning, so no second
    * exchange. */
  def sessionizeBatch(events: DataFrame, gapMs: Long,
                      userCol: String = "user_id", tsCol: String = "ts",
                      valueCol: String = "value"): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(tsCol)
    val running = byUser.rowsBetween(Window.unboundedPreceding,
                                     Window.currentRow)
    val newSession: Column =
      when(lag(col(tsCol), 1).over(byUser).isNull ||
           unix_millis(col(tsCol)) -
             unix_millis(lag(col(tsCol), 1).over(byUser)) > gapMs,
        1L).otherwise(0L)
    events
      .withColumn("__new", newSession)
      .withColumn("__sid", sum(col("__new")).over(running))
      .groupBy(col(userCol), col("__sid"))
      .agg(min(col(tsCol)).as("session_start"),
           max(col(tsCol)).as("session_end"),
           count(lit(1)).as("n_events"),
           sum(col(valueCol).cast(DecimalType(18, 6))).cast("double")
             .as("sum_value"))
      .drop("__sid")
  }

  /** Batch event-time tumbling window aggregation (E6): count + sum(value)
    * per (window, event_type). One shuffle on the composite key; partial
    * aggregation happens map-side. */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value")).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"),
              col("n_events"), col("sum_value"))

  /** OHLC downsampling — the telemetry/metrics compaction every
    * monitoring pipeline runs before long-term storage: per (series,
    * hour) the opening value (first by (ts, id)), high, low, closing
    * value (last by (ts, id)), event count, and the value sum in
    * integer NANO-UNITS (the VWAP/mean numerator, kept as a sum so it
    * stays order-independent; per-row round(v·1e9) because rounding a
    * double to an INTEGER is portable across engines — an exact .5
    * boundary is itself representable, so shortest-repr and
    * binary-value rounding agree, unlike a double→DECIMAL(28,9) cast
    * whose 9th-decimal ties each engine breaks from a different
    * rendering). The nano mass rides TWO 2³⁰-radix LONG limbs (exact
    * IEEE splits — see [[graft.operators.Profiling.weightedPercentiles]])
    * recombined exactly in DECIMAL(38,0) and published as BIGINT
    * behind a LOUD range guard: a per-bar |sum| past 2⁶³−1 nano-units
    * (≈ 9.2e9 unit-mass per one-hour bar — generous for telemetry)
    * raises instead of wrapping, mirroring the oracle's HUGEINT→BIGINT
    * overflow error, so the two engines diverge loudly together. The
    * limb interior still removes the per-ROW saturation surface (a
    * |value| past 9.2 raised nothing under a naive long round) while
    * every aggregation buffer stays a codegen'd long; the residual
    * unguarded surface is a single bar of > ~2⁴⁰ max-mass rows wrapping
    * a limb sum before recombination — 10¹² events/series/hour,
    * far past the documented contract.
    * `min_by`/`max_by` on the exact DECIMAL key µs·2⁴⁰+id
    * make open/close deterministic under same-timestamp events (the
    * packed key overflows a long, and DuckDB's arg_min takes no struct
    * keys — wide decimal is the portable total order; 2⁴⁰ leaves the
    * id field wide enough that (ts, id) lexicographic order holds for
    * any event_id < 2⁴⁰ ≈ 1.1e12). ONE grouped aggregation; group
    * count is bounded by series×hours, never events. */
  def ohlcBars(events: DataFrame, seriesCol: String = "event_type",
               tsCol: String = "ts", valCol: String = "value",
               idCol: String = "event_id"): DataFrame = {
    val tie = unix_micros(col(tsCol))
      .cast(org.apache.spark.sql.types.DecimalType(38, 0)) *
      lit(1099511627776L) + col(idCol)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val radix = 1073741824L // 2³⁰ limb radix (see weightedPercentiles)
    val mass = round(col(valCol) * lit(1e9))
    val mhi = floor(mass / lit(radix.toDouble))
    val mlo = (mass - mhi.cast("double") * lit(radix.toDouble)).cast("long")
    val nanos = sum(mhi).cast(dec) * lit(radix) + sum(mlo).cast(dec)
    events
      .filter(col(valCol).isNotNull)
      .groupBy(col(seriesCol), date_trunc("hour", col(tsCol)).as("bar_ts"))
      .agg(count(lit(1)).as("n"),
        min_by(col(valCol), tie).as("open"),
        max(col(valCol)).as("high"),
        min(col(valCol)).as("low"),
        max_by(col(valCol), tie).as("close"),
        when(abs(nanos) <= lit(Long.MaxValue).cast(dec),
            nanos.cast("long"))
          .otherwise(raise_error(concat(
            lit("ohlcBars: per-bar nano-unit mass overflows BIGINT: "),
            nanos.cast("string"))).cast("long"))
          .as("sum_value_nanos"))
  }

  /** Churn-label builder — the leakage-safe label half of a churn
    * model's training set: for every user ACTIVE in the observation
    * window (any event at or before `cutoff`), churned = no event in
    * (cutoff, cutoff + horizon]. The cutoff is the point-in-time wall:
    * features must come from ≤ cutoff (compose an as-of join /
    * pre-cutoff aggregate), the label only from the horizon — computed
    * here in one pass so the two can't contaminate each other. Emits
    * per user: last pre-cutoff activity (epoch-µs, engine-exact),
    * pre-cutoff event count, and the boolean label. One user-keyed
    * conditional aggregate; users first seen AFTER the cutoff are
    * excluded (they have no observation window to learn from). */
  def churnLabels(events: DataFrame, cutoff: java.sql.Timestamp,
                  horizonDays: Int, userCol: String = "user_id",
                  tsCol: String = "ts"): DataFrame = {
    require(horizonDays > 0)
    val cutUs = cutoff.getTime * 1000L
    val horizonUs = horizonDays.toLong * 86400000000L
    val us = unix_micros(col(tsCol))
    events
      .groupBy(col(userCol))
      .agg(
        max(when(us <= cutUs, us)).as("last_seen_us"),
        sum(when(us <= cutUs, 1L).otherwise(0L)).as("n_events_before"),
        max(when(us > cutUs && us <= cutUs + horizonUs, 1L)
          .otherwise(0L)).as("__active_after"))
      .filter(col("n_events_before") > 0)
      .select(col(userCol), col("last_seen_us"), col("n_events_before"),
        (col("__active_after") === 0L).as("churned"))
  }

  /** Markov next-event baseline — the floor every sequence model must
    * beat, and the journey-predictability report by itself: for each
    * state, the corpus-global most-likely next event (argmax over the
    * transition counts, (cnt DESC, type ASC) deterministic) and the
    * in-sample hit rate that constant prediction achieves. A state
    * with a high hit rate is rail-like UI flow; low hit rates mark the
    * branch points worth personalizing. One user-keyed lead window
    * builds the transition pairs (the only corpus shuffle); the model
    * is a |states|²-row aggregate, its argmax broadcasts back onto the
    * |states|-row report. */
  def nextEventHitRate(events: DataFrame, userCol: String = "user_id",
                       typeCol: String = "event_type",
                       tsCol: String = "ts",
                       idCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
    val pairs = events
      .select(col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("__to"))
      .filter(col("__to").isNotNull)
    val counts = pairs.groupBy(col("from_type"), col("__to"))
      .agg(count(lit(1)).as("__c"))
    val rw = Window.partitionBy(col("from_type"))
      .orderBy(col("__c").desc, col("__to"))
    val pred = counts.withColumn("__r", row_number().over(rw))
      .filter(col("__r") === 1)
      .select(col("from_type"), col("__to").as("predicted"))
    pairs.join(broadcast(pred), "from_type")
      .groupBy(col("from_type"), col("predicted"))
      .agg(count(lit(1)).as("n_transitions"),
        sum(when(col("__to") === col("predicted"), 1L).otherwise(0L))
          .as("n_hits"))
      .withColumn("hit_rate",
        round(col("n_hits").cast("double") / col("n_transitions"), 9))
  }

  /** Two-step conversion funnel: for each user with at least one `stepA`
    * event, the time of their first `stepA` and (when one exists) the
    * minimum delay to a `stepB` event at-or-after it within `withinUs`
    * microseconds. Times surface as epoch-microsecond BIGINTs, so the
    * result compares exactly across engines.
    *
    * Plan shape: one grouped aggregate per step plus one join, all keyed
    * on the user column — three exchanges over per-user rows (not raw
    * events: step filters reduce first). The step-A table is one row per
    * converting-eligible user and broadcast-joins under AQE at any
    * realistic user cardinality. */
  def funnel(events: DataFrame, stepA: String, stepB: String,
             withinUs: Long, userCol: String = "user_id",
             tsCol: String = "ts", typeCol: String = "event_type")
      : DataFrame = {
    val a = events.filter(col(typeCol) === stepA)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__ta"))
    val delay = unix_micros(col(tsCol)) - unix_micros(col("__ta"))
    val b = events.filter(col(typeCol) === stepB)
      .join(a, userCol)
      .filter(col(tsCol) >= col("__ta") && delay <= withinUs)
      .groupBy(col(userCol))
      .agg(min(delay).as("delay_us"))
    a.select(col(userCol), unix_micros(col("__ta")).as("t_first_us"))
      .join(b, Seq(userCol), "left")
  }

  /** N-step conversion funnel — [[funnel]] generalized to an arbitrary
    * step sequence: per user, step 1 anchors at the FIRST step-1 event;
    * each later step matches the first event of its type at-or-after
    * the previous match and within `withinUs` of it. Output is the
    * funnel report: (step_idx, step, n_users) with n_users the users
    * whose match reached at least that step — monotone non-increasing
    * down the funnel.
    *
    * One corpus-sized shuffle: events filtered to the step types group
    * per user, and the greedy sequence match runs as an `aggregate` HOF
    * over each user's time-ordered event array — per-row CPU, no
    * per-step joins (k-1 self-joins would re-shuffle the event table
    * per step). Events sort by (time, step rank) so a same-timestamp
    * pair matches in funnel order — the inclusive `>=` the per-step
    * min-chain formulation (and the DuckDB oracle) uses. The report
    * aggregation runs over ≤ k+1 stage counts. `steps` must be
    * distinct: with a repeated step the min-chain reading would match
    * one event twice, which is never what a funnel means.
    *
    * `maxEventsPerUser` bounds per-user state: a bot user with 10M
    * step-typed events would otherwise materialize a 10M-element array
    * in one task. The cap keeps each user's EARLIEST `maxEventsPerUser`
    * events by (time, step rank) — a `row_number <= k` filter that
    * Catalyst rewrites to WindowGroupLimit, so the truncation happens
    * map-side BEFORE the exchange as well as after it; no task ever
    * buffers more than the cap per user. Keep-earliest is the right
    * truncation for a funnel anchored at the FIRST step-1 event: a
    * user whose conversion needs an event beyond the cap is reported
    * at the stage the capped prefix reaches (monotone undercount,
    * never a phantom conversion).
    *
    * The DEFAULT cap (100000) is a safety net, not a planning hint: it
    * never truncates a plausible human user, but it sits above the
    * optimizer's `spark.sql.optimizer.windowGroupLimitThreshold`
    * (1000 — a STRICT bound: a limit >= it keeps the plain rank
    * filter, which bounds output but only after the full window
    * buffers), so the truncation is reduce-side. Call sites that know
    * their per-user ceiling should pass a cap UNDER that threshold
    * (e.g. 512) to get the map-side WindowGroupLimit truncation —
    * the registered `q_funnel_steps` does exactly this. */
  def funnelN(events: DataFrame, steps: Seq[String], withinUs: Long,
              userCol: String = "user_id", tsCol: String = "ts",
              typeCol: String = "event_type",
              maxEventsPerUser: Int = 100000): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    require(steps.distinct.size == steps.size, "steps must be distinct")
    require(maxEventsPerUser >= steps.size,
      "cap must admit at least one event per step")
    val sp = events.sparkSession
    import sp.implicits._
    val k = steps.size
    val stepsArr = array(steps.map(lit): _*)
    val typed = events.filter(col(typeCol).isInCollection(steps))
      .select(col(userCol),
        unix_micros(col(tsCol)).as("__t"),
        array_position(stepsArr, col(typeCol)).as("__r"))
    val wu = Window.partitionBy(col(userCol))
      .orderBy(col("__t"), col("__r"))
    val perUser = typed
      .withColumn("__rn", row_number().over(wu))
      .filter(col("__rn") <= maxEventsPerUser)
      .groupBy(col(userCol))
      .agg(array_sort(collect_list(struct(
        col("__t").as("t"), col("__r").as("r")))).as("__es"))
    val state = aggregate(col("__es"),
      struct(lit(0L).as("stage"), lit(0L).as("prev")),
      (st, e) => {
        val stage = st("stage"); val prev = st("prev")
        val hit = stage < k && e("r") === stage + 1 &&
          (stage === 0 ||
            (e("t") >= prev && e("t") - prev <= withinUs))
        when(hit, struct((stage + 1L).as("stage"), e("t").as("prev")))
          .otherwise(st)
      })
    val stageCounts = perUser
      .select(state.getField("stage").as("__stage"))
      .filter(col("__stage") >= 1)
      .groupBy(col("__stage")).agg(count(lit(1)).as("__cnt"))
    val reached = stageCounts
      .select(explode(sequence(lit(1L), col("__stage"))).as("step_idx"),
        col("__cnt"))
      .groupBy(col("step_idx")).agg(sum(col("__cnt")).as("n_users"))
    steps.zipWithIndex.map { case (s, i) => ((i + 1).toLong, s) }
      .toDF("step_idx", "step")
      .join(reached, Seq("step_idx"), "left")
      .select(col("step_idx"), col("step"),
        coalesce(col("n_users"), lit(0L)).as("n_users"))
  }

  /** Approximate distinct users per event type (E7) — HLL sketch, constant
    * memory per group regardless of cardinality. */
  def approxDistinctUsers(events: DataFrame, rsd: Double = 0.05): DataFrame =
    events.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"))

  /** [[approxDistinctUsers]] with an in-plan accuracy audit: approximate
    * and exact distinct counts in one aggregation, plus a tolerance
    * verdict |approx − exact| ≤ 2·rsd·exact. Raw sketch values are
    * engine-specific (HLL implementations differ), so the CHECKABLE
    * output is (event_type, exact_users, within_tol) — an oracle asserts
    * the verdict and the exact count without reproducing the sketch.
    * (The exact count is affordable here because the audit is the point;
    * production pipelines run the sketch alone.) */
  def approxDistinctUsersChecked(events: DataFrame,
                                 rsd: Double = 0.05): DataFrame =
    events.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("__approx"),
           countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("__approx") - col("exact_users")) <=
          lit(2 * rsd) * col("exact_users")).as("within_tol"))

  /** Event-type transition matrix — the user-journey Markov model: for
    * every consecutive event pair within a user's time-ordered stream,
    * the exact pair count and the conditional transition probability
    * P(to | from). The product-analytics "what happens after X" view and
    * the generative model behind journey simulation.
    *
    * Plan shape: one shuffle on the user key (the lead window), then one
    * (from, to) aggregation whose output is |event types|² rows — tiny —
    * so the closing probability window is free. Ordering ties broken by
    * `idCol` for a deterministic, layout-independent matrix; the
    * probability is a single IEEE division of exact integer counts. */
  /** Inter-event gap statistics per event type — the dwell-time
    * report behind engagement and bot-detection heuristics: for each
    * user's consecutive event pairs (by time, id tie-break), the gap
    * in microseconds attributed to the EARLIER event's type, reduced
    * to (event_type, n_gaps, sum/min/max gap). Exact integer
    * microsecond arithmetic end to end — no float means, so the
    * report is engine- and layout-exact; mean = sum/n is one local
    * division away. One shuffle on the user key (the lag window),
    * then a types-sized aggregate. A user's LAST event opens no gap
    * and is excluded, like any lead/lag edge. */
  def gapStats(events: DataFrame, userCol: String = "user_id",
               tsCol: String = "ts", typeCol: String = "event_type",
               idCol: String = "event_id"): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    events
      .select(col(typeCol).as("event_type"),
        (lead(unix_micros(col(tsCol)), 1).over(byUser) -
          unix_micros(col(tsCol))).as("__gap"))
      .filter(col("__gap").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("__gap")).as("sum_gap_us"),
        min(col("__gap")).as("min_gap_us"),
        max(col("__gap")).as("max_gap_us"))
  }

  def transitionMatrix(events: DataFrame, userCol: String = "user_id",
                       tsCol: String = "ts", typeCol: String = "event_type",
                       idCol: String = "event_id"): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .select(col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(byUser).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val byFrom = Window.partitionBy("from_type")
    pairs.select(col("from_type"), col("to_type"), col("n"),
      (col("n").cast("double") / sum(col("n")).over(byFrom)).as("prob"))
  }

  /** Next-event entropy per state — the one-number collapse of
    * [[transitionMatrix]]: for each `from_type`, the Shannon entropy of
    * its outgoing-transition distribution (nats). 0 = the journey is a
    * rail (one successor, bot-like or funnel-forced); ln(n_dsts) = the
    * successor is a coin flip — the determinism screen run over user
    * journeys before trusting a funnel analysis.
    *
    * Same two shuffles as the matrix (user window → pair aggregate),
    * closed by a states-sized aggregate. H = ln(N) − Σc·ln(c)/N with
    * each c·ln(c) term rounded to 9 places and summed as
    * DECIMAL(38,9) — order-independent, engine-exact. */
  def transitionEntropy(events: DataFrame, userCol: String = "user_id",
                        tsCol: String = "ts", typeCol: String = "event_type",
                        idCol: String = "event_id"): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .select(col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(byUser).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("__c"))
    val term = round(col("__c").cast("double") *
      log(col("__c").cast("double")), 9)
    pairs.groupBy(col("from_type"))
      .agg(sum(col("__c")).as("n_out"),
           count(lit(1)).as("n_dsts"),
           sum(term.cast(org.apache.spark.sql.types.DecimalType(38, 9)))
             .cast("double").as("__clnc"))
      .select(col("from_type"), col("n_out"), col("n_dsts"),
        round(log(col("n_out").cast("double")) -
          col("__clnc") / col("n_out").cast("double"), 9).as("entropy"))
  }

  /** Frequent length-3 event sequences — the sequential-pattern miner
    * (PrefixSpan's workhorse case): every run of three consecutive
    * events inside one user's time-ordered stream, counted across
    * users and kept at `minSupport`+. Unlike the pairwise
    * [[transitionMatrix]], triples expose ORDER-dependent structure
    * (view→cart→buy vs cart→view→buy are different rows) — the input
    * behind journey templates and next-step models deeper than one
    * hop.
    *
    * One shuffle on the user key computes BOTH lookahead columns in a
    * single window pass, then one aggregate on the (e1,e2,e3) triple
    * key — map-side combined, output bounded by |types|³ before the
    * support cut and usually far under it after. A user with g events
    * emits g−2 triples: linear, no self-join blowup. */
  def sequencePatterns(events: DataFrame, minSupport: Long = 2L,
                       userCol: String = "user_id", tsCol: String = "ts",
                       typeCol: String = "event_type",
                       idCol: String = "event_id"): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    events
      .select(col(typeCol).as("e1"),
        lead(col(typeCol), 1).over(byUser).as("e2"),
        lead(col(typeCol), 2).over(byUser).as("e3"))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  /** Burst collapse (debounce): keep each user's burst-STARTING events
    * — rows whose gap from the user's previous event exceeds `gapUs` —
    * and number the bursts per user. Retries, double-clicks, and
    * sensor chatter collapse to one row per burst; `burst` joins any
    * later analysis back to "the k-th burst of user u". The first
    * event of a user always starts burst 1.
    *
    * One shuffle on the user key; the lag and the running start-count
    * share a single window sort (same key, same order), so the whole
    * op is one exchange + one WindowExec. Exact integer microsecond
    * arithmetic — no timestamp rounding. */
  def debounce(events: DataFrame, gapUs: Long,
               userCol: String = "user_id", tsCol: String = "ts",
               typeCol: String = "event_type", idCol: String = "event_id")
      : DataFrame = {
    require(gapUs >= 0, s"gap must be non-negative, got $gapUs")
    val byUser = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val run = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val us = unix_micros(col(tsCol))
    val isStart = lag(us, 1).over(byUser).isNull ||
      (us - lag(us, 1).over(byUser)) > gapUs
    events
      .select(col(idCol), col(userCol), col(tsCol), col(typeCol),
        isStart.as("__start"))
      .select(col(idCol), col(userCol), col(tsCol), col(typeCol),
        col("__start"),
        sum(col("__start").cast("long")).over(run).as("burst"))
      .filter(col("__start"))
      .drop("__start")
  }

  /** Seasonality strength per event type: the R² of the hour-of-week
    * fingerprint over the hourly count series — the share of traffic
    * variance the weekly cycle explains. ≈1 means the series IS its
    * seasonal profile (alert on residuals, not levels — the
    * justification gate for [[anomalousHours]]); ≈0 means the profile
    * is noise. Computed from the ANOVA identity R² = 1 − SSE/SST with
    * SST = Σc² − S²/n and SSE = Σc² − Σ_g S_g²/n_g — every ingredient
    * an exact integer sum; the per-cell S_g²/n_g terms round to 9 and
    * sum as DECIMAL(38,9), the repo's order-independent rule. Types
    * with a constant series (SST = 0) report NULL.
    *
    * Two aggregates over one (type, hour) count table (cells bounded
    * by types × 168), plus the types-sized close. */
  def seasonalityStrength(events: DataFrame, typeCol: String = "event_type",
                          tsCol: String = "ts"): DataFrame = {
    val hourly = events
      .filter(col(typeCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(typeCol).as("__t"),
        date_trunc("HOUR", col(tsCol)).as("__h"))
      .agg(count(lit(1)).as("__c"))
      .select(col("__t"), col("__c"),
        concat_ws("#", dayofweek(col("__h")), hour(col("__h")))
          .as("__how"))
    val cells = hourly.groupBy(col("__t"), col("__how"))
      .agg(sum(col("__c")).as("__sg"), count(lit(1)).as("__ng"))
    val perType = hourly.groupBy(col("__t"))
      .agg(count(lit(1)).as("n_hours"), sum(col("__c")).as("__s"),
        sum(col("__c") * col("__c")).as("__q"))
    val between = cells.groupBy(col("__t"))
      .agg(sum(round((col("__sg") * col("__sg")).cast("double") /
        col("__ng"), 9).cast(
          org.apache.spark.sql.types.DecimalType(38, 9)))
        .cast("double").as("__sgq"))
    val sst = col("__q").cast("double") -
      (col("__s") * col("__s")).cast("double") / col("n_hours")
    val sse = col("__q").cast("double") - col("__sgq")
    perType.join(between, "__t")
      .select(col("__t").as(typeCol), col("n_hours"),
        when(sst > 0.0, round(lit(1.0) - sse / sst, 9)).as("r2"))
  }

  /** Exact inter-event gap percentiles per type — the distributional
    * refinement of [[gapStats]]'s min/sum/max: median and p90 dwell
    * times in integer microseconds (interpolated exactly, so halves at
    * worst), the numbers engagement SLAs and bot thresholds are
    * actually set on. Same single user-keyed window as gapStats, then
    * one grouped exact-percentile aggregate (state bounded by distinct
    * gap values per type). */
  def gapPercentiles(events: DataFrame, userCol: String = "user_id",
                     tsCol: String = "ts", typeCol: String = "event_type",
                     idCol: String = "event_id"): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    events
      .select(col(typeCol).as("event_type"),
        (lead(unix_micros(col(tsCol)), 1).over(byUser) -
          unix_micros(col(tsCol))).as("__gap"))
      .filter(col("__gap").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        round(percentile(col("__gap"), lit(0.5)) / 1e6, 9)
          .as("med_gap_s"),
        round(percentile(col("__gap"), lit(0.9)) / 1e6, 9)
          .as("p90_gap_s"))
  }

  /** Kaplan–Meier-style survival curve over user lifespans: for every
    * OBSERVED lifespan L (days between a user's first and last
    * activity), how many users survive to at least age L and the
    * survival rate — the churn curve behind retention targets. Sparse
    * by construction: rows exist only at observed lifespans, so a
    * billion users emit at most max-lifespan rows.
    *
    * One user aggregate (min/max day), one lifespan histogram, and
    * the reverse-cumulative walk over the HISTOGRAM (bounded by the
    * day span, never users) in one small window. All integers until
    * the closing rounded division. */
  def survivalCurve(events: DataFrame, userCol: String = "user_id",
                    tsCol: String = "ts"): DataFrame = {
    val life = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("__u"),
        unix_date(col(tsCol).cast("date")).cast("long").as("__d"))
      .groupBy(col("__u"))
      .agg((max(col("__d")) - min(col("__d"))).as("age_days"))
    val hist = life.groupBy(col("age_days")).agg(count(lit(1)).as("__n"))
    val wRev = Window.orderBy(col("age_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .select(col("age_days"),
        sum(col("__n")).over(wRev).as("n_surviving"))
      .crossJoin(broadcast(life.agg(count(lit(1)).as("__tot"))))
      .select(col("age_days"), col("n_surviving"),
        round(col("n_surviving").cast("double") / col("__tot"), 9)
          .as("survival_rate"))
  }

  /** Per-day bounce rate from gap sessionization: sessions that never
    * get a second event over total sessions started that day — the
    * engagement-quality headline on top of [[sessionizeBatch]]'s
    * session table. One extra day-keyed aggregate over sessions
    * (already user-keyed and bounded); the rate is one rounded
    * division of exact counts. */
  def bounceRate(events: DataFrame, gapMs: Long,
                 userCol: String = "user_id", tsCol: String = "ts",
                 valueCol: String = "value"): DataFrame =
    sessionizeBatch(events, gapMs, userCol, tsCol, valueCol)
      .groupBy(unix_date(col("session_start").cast("date")).cast("long")
        .as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L))
          .as("n_bounces"))
      .select(col("day"), col("n_sessions"), col("n_bounces"),
        round(col("n_bounces").cast("double") / col("n_sessions"), 9)
          .as("bounce_rate"))

  /** Peak concurrency per day over an interval table [start_us,
    * end_us): the max number of simultaneously-open intervals — the
    * capacity-planning number (peak concurrent sessions/streams) that
    * averages hide. Intervals are clipped into per-day fragments
    * first, so the running-sum sort is PARTITIONED by day (each day's
    * boundary list is bounded by that day's activity, never the
    * corpus) and multi-day intervals count in every day they touch.
    * Half-open semantics: at the same microsecond an end applies
    * before a start, so back-to-back intervals never double-count.
    *
    * One explode (linear in interval-days), one day-keyed window over
    * ±1 boundary events, one max per day. */
  def peakConcurrency(intervals: DataFrame, startCol: String = "start_us",
                      endCol: String = "end_us"): DataFrame = {
    val usDay = 86400000000L
    val s = col(startCol).cast("long")
    val e = col(endCol).cast("long")
    val frags = intervals
      .filter(s.isNotNull && e.isNotNull && e > s)
      .select(explode(sequence(expr(s"$startCol div $usDay"),
        expr(s"(cast($endCol as long) - 1) div $usDay"))).as("day"),
        s.as("__s"), e.as("__e"))
      .select(col("day"),
        greatest(col("__s"), col("day") * usDay).as("__fs"),
        least(col("__e"), (col("day") + 1) * usDay).as("__fe"))
    val bounds = frags.select(col("day"), col("__fs").as("t"),
        lit(1L).as("delta"))
      .unionByName(frags.select(col("day"), col("__fe").as("t"),
        lit(-1L).as("delta")))
    val w = Window.partitionBy("day").orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bounds
      .select(col("day"), sum(col("delta")).over(w).as("__run"))
      .groupBy(col("day")).agg(max(col("__run")).as("peak_concurrent"))
  }

  /** Cohort LTV matrix — the revenue companion of [[cohortRetention]]:
    * users cohort by their FIRST active month (integer month index
    * year·12+month, engine-exact), and every (cohort, age-in-months)
    * cell reports active users, that month's revenue, and the running
    * cumulative revenue — the payback-curve table under every LTV
    * model. Revenue rides exact DECIMAL sums; the cumulative walk is
    * a per-cohort window over the months-sized cell table (bounded by
    * cohorts × ages, not events).
    *
    * Two shuffles on the user key (first-month aggregate + the join
    * back), one on the (cohort, age) cell key; the cohort table
    * broadcasts under AQE at any realistic user count ÷ month span. */
  def cohortLtv(events: DataFrame, granularity: String = "month",
                userCol: String = "user_id", tsCol: String = "ts",
                valueCol: String = "value"): DataFrame = {
    // period index: calendar months, or 7-day periods from the epoch —
    // the [[cohortRetention]] granularity surface
    val mIdx = granularity match {
      case "month" => (year(col(tsCol)) * 12 + month(col(tsCol)))
        .cast("long")
      case "week" => expr(
        s"CAST(unix_date(CAST($tsCol AS DATE)) AS BIGINT) div 7")
      case other => throw new IllegalArgumentException(
        s"granularity must be month|week, got $other")
    }
    val e = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), mIdx.as("__m"),
        col(valueCol).as("__v"))
    val first = e.groupBy(col("__u")).agg(min(col("__m")).as("__c"))
    val cells = e.join(first, "__u")
      .groupBy(col("__c").as("cohort_period"),
        (col("__m") - col("__c")).as("age_periods"))
      .agg(count_distinct(col("__u")).as("n_active"),
        sum(col("__v").cast(
          org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("revenue"))
    val wc = Window.partitionBy("cohort_period").orderBy("age_periods")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.select(col("cohort_period"), col("age_periods"),
      col("n_active"), col("revenue"),
      sum(col("revenue")).over(wc).as("cum_revenue"))
  }

  /** Longest consecutive-day activity streak per user, reduced to a
    * histogram (streak length → user count) — the retention-curve
    * companion of [[rollingActiveUsers]]: stickiness says how much of
    * the window is active, streaks say how UNBROKEN the habit is. The
    * gaps-and-islands trick on distinct days: day − row_number is
    * constant exactly along a consecutive run, so one window and two
    * grouped aggregates produce per-run lengths, per-user maxima, and
    * the closing histogram. Output bounded by the longest streak.
    *
    * Three shuffles, each on a smaller key set: (user, day) distinct
    * + the user-keyed window, the (user, run) count, the histogram.
    * All integer arithmetic. */
  def streakHistogram(events: DataFrame, userCol: String = "user_id",
                      tsCol: String = "ts"): DataFrame = {
    val byUser = Window.partitionBy("__u").orderBy("__d")
    val du = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("__u"),
        unix_date(col(tsCol).cast("date")).cast("long").as("__d"))
      .distinct()
    du.select(col("__u"), col("__d"),
        (col("__d") - row_number().over(byUser)).as("__run"))
      .groupBy(col("__u"), col("__run"))
      .agg(count(lit(1)).as("__len"))
      .groupBy(col("__u")).agg(max(col("__len")).as("streak_days"))
      .groupBy(col("streak_days")).agg(count(lit(1)).as("n_users"))
  }

  /** Top session-opening paths: each user's first `depth` events in
    * time order, rendered as a `>`-joined path string and counted
    * across users at `minSupport`+ — the "how do journeys begin"
    * overview one level above the transition matrix (full ordered
    * prefixes, not memoryless hops).
    *
    * One user-keyed window (rank ≤ depth pushes a WindowGroupLimit:
    * bot users truncate map-side), one per-user assembly whose order
    * is restored INSIDE the grouped array (array_sort on (rank, type)
    * structs — no second window, no global sort), one path count. */
  def topPaths(events: DataFrame, depth: Int = 5, minSupport: Long = 1L,
               userCol: String = "user_id", tsCol: String = "ts",
               typeCol: String = "event_type", idCol: String = "event_id")
      : DataFrame = {
    require(depth > 0, s"depth must be positive, got $depth")
    val byUser = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    events
      .filter(col(userCol).isNotNull)
      .select(col(userCol).as("__u"), col(typeCol).as("__e"),
        row_number().over(byUser).as("__rn"))
      .filter(col("__rn") <= depth)
      .groupBy(col("__u"))
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("__rn"), col("__e")))),
        x => x("__e"))).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .filter(col("n_users") >= minSupport)
  }

  /** Two-proportion A/B readout: split users by a caller-supplied
    * deterministic assignment expression (a hash or id parity — NEVER
    * re-randomized between reads), score each user as converted iff
    * their stream contains `convType`, and report both arms'
    * user/conversion counts, rates, the absolute lift, and the pooled
    * two-proportion z statistic — the experiment-dashboard number
    * (|z| ≳ 1.96 ≈ 95% two-sided). Degenerate pools (either arm
    * empty, or pooled rate 0/1) yield NULL z rather than a division
    * blowup.
    *
    * One shuffle on the user key (per-user conversion flag via
    * map-side-combinable max), then an arms-sized aggregate folded to
    * ONE row with conditional sums — no pivot, no second pass. The z
    * arithmetic is a fixed IEEE sequence over exact integer counts,
    * rounded to 9. */
  def abTest(events: DataFrame, treatment: org.apache.spark.sql.Column,
             convType: String, userCol: String = "user_id",
             typeCol: String = "event_type"): DataFrame = {
    val perUser = events
      .filter(col(userCol).isNotNull)
      .groupBy(col(userCol).as("__u"))
      .agg(max(when(col(typeCol) === convType, 1L).otherwise(0L))
        .as("__conv"),
        // the assignment expression evaluates on the raw events and
        // must be constant per user (hash/parity of the id); max-fold
        // makes that constancy explicit rather than order-dependent
        (max(when(treatment, 1L).otherwise(0L)) === 1L).as("__t"))
    // coalesce: sums over an EMPTY user pool are NULL — an experiment
    // with no traffic reports zero arms, not a null-typed row
    def cnt(p: org.apache.spark.sql.Column) =
      coalesce(sum(when(p, 1L).otherwise(0L)), lit(0L))
    val g = perUser.agg(
      cnt(!col("__t")).as("n_a"), cnt(col("__t")).as("n_b"),
      cnt(!col("__t") && col("__conv") === 1L).as("conv_a"),
      cnt(col("__t") && col("__conv") === 1L).as("conv_b"))
    // NULL-denominator guards, not predicates: under ANSI mode a
    // division by zero THROWS even inside an unselected CASE branch's
    // operand evaluation, so empty arms must poison via x/NULL -> NULL
    val naD = when(col("n_a") > 0, col("n_a").cast("double"))
    val nbD = when(col("n_b") > 0, col("n_b").cast("double"))
    val ra = col("conv_a").cast("double") / naD
    val rb = col("conv_b").cast("double") / nbD
    val p = (col("conv_a") + col("conv_b")).cast("double") /
      when(col("n_a") + col("n_b") > 0,
        (col("n_a") + col("n_b")).cast("double"))
    val se = sqrt(p * (lit(1.0) - p) * (lit(1.0) / naD + lit(1.0) / nbD))
    g.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      when(col("n_a") > 0, round(ra, 9)).as("rate_a"),
      when(col("n_b") > 0, round(rb, 9)).as("rate_b"),
      when(col("n_a") > 0 && col("n_b") > 0, round(rb - ra, 9)).as("lift"),
      when(col("n_a") > 0 && col("n_b") > 0 && p > 0.0 && p < 1.0,
        round((rb - ra) / se, 9)).as("z"))
  }

  /** Rolling active users: for every observed day, the distinct users
    * active that day (DAU) and over the trailing `windowDays` window
    * (WAU at 7), plus the DAU/WAU stickiness ratio — the
    * product-health headline. Computed WITHOUT a distinct-over-
    * sliding-window (which would hold per-window user sets): the
    * (day, user) distinct pass explodes each activity day onto the
    * `windowDays` days it keeps the user active for, and one
    * count_distinct per target day closes it — linear in activity ×
    * window, the standard scale-out shape for windowed distinct
    * counts. Days outside the observed range are clipped by the join
    * back onto the DAU table.
    *
    * Two shuffles: the (day, user) distinct and the day-keyed
    * distinct aggregates (Spark plans both counts in one Expand
    * family per side). Exact integers; the ratio is one rounded IEEE
    * division. */
  def rollingActiveUsers(events: DataFrame, windowDays: Int = 7,
                         userCol: String = "user_id",
                         tsCol: String = "ts"): DataFrame = {
    require(windowDays > 0, s"window must be positive, got $windowDays")
    val du = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(unix_date(col(tsCol).cast("date")).cast("long").as("day"),
        col(userCol).as("__u"))
      .distinct()
    val dau = du.groupBy("day").agg(count_distinct(col("__u")).as("dau"))
    val wau = du
      .select(explode(sequence(col("day"),
        col("day") + (windowDays - 1))).as("day"), col("__u"))
      .groupBy("day").agg(count_distinct(col("__u")).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 9).as("stickiness"))
  }

  /** Interval coalescing (gaps-and-islands): merge every set of
    * overlapping-or-touching [start, end] intervals per key into one
    * covering interval, reporting how many merged and the covered
    * span — the availability/outage/contract-period consolidation
    * every temporal model needs before durations can be summed
    * without double counting. Intervals touch when start ≤ the
    * running max end (closed-interval semantics).
    *
    * One shuffle on the key: a single window sort computes the
    * running max end over STRICTLY preceding rows, a new island
    * starts where start exceeds it, and the island id is the running
    * sum of those flags — then one grouped aggregate per island.
    * Exact integer microsecond arithmetic throughout. */
  def coalesceIntervals(df: DataFrame, keyCol: String,
                        startCol: String, endCol: String): DataFrame = {
    val order = Window.partitionBy(keyCol)
      .orderBy(col("__s"), col("__e"))
    val before = order.rowsBetween(Window.unboundedPreceding, -1)
    val run = order.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val isNew = max(col("__e")).over(before).isNull ||
      col("__s") > max(col("__e")).over(before)
    df.filter(col(startCol).isNotNull && col(endCol).isNotNull)
      .select(col(keyCol), unix_micros(col(startCol)).as("__s"),
        unix_micros(col(endCol)).as("__e"))
      .select(col(keyCol), col("__s"), col("__e"), isNew.as("__new"))
      .select(col(keyCol), col("__s"), col("__e"),
        sum(col("__new").cast("long")).over(run).as("island"))
      .groupBy(col(keyCol), col("island"))
      .agg(count(lit(1)).as("n_merged"),
        min(col("__s")).as("start_us"), max(col("__e")).as("end_us"))
  }

  /** Pairwise audience overlap between event types, with an HLL audit:
    * for every pair of types sharing at least one user, the EXACT
    * distinct-user counts of each side and of the intersection, plus a
    * verdict that the DataSketches inclusion–exclusion estimate
    * (|A|+|B|−|A∪B|̂) lands within `tol` of the exact union — the "can
    * I trust sketch-based overlap dashboards on this data?" audit.
    * Pairs with an empty intersection are absent (at T types the dense
    * pair grid is a presentation concern, not an engine one).
    *
    * ONE distinct pass over (type, user) feeds everything: the
    * per-type exact counts and HLL sketches (a types-sized table) and
    * the pairwise intersection via a self-join on the user key —
    * bounded by Σ_u deg(u)², the co-occurrence bound every basket op
    * here shares, NOT |users|². Sketch pairs union per-row
    * (types-sized, broadcast); no corpus data moves twice. */
  def audienceOverlap(events: DataFrame, typeCol: String = "event_type",
                      userCol: String = "user_id", lgK: Int = 12,
                      tol: Double = 0.08): DataFrame = {
    val ut = events
      .filter(col(typeCol).isNotNull && col(userCol).isNotNull)
      .select(col(typeCol).as("t"), col(userCol).as("u")).distinct()
    val perType = ut.groupBy("t")
      .agg(count(lit(1)).as("nu"), hll_sketch_agg(col("u"), lit(lgK)).as("h"))
    val inter = ut.as("a").join(ut.as("b"),
        col("a.u") === col("b.u") && col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("type_a"), col("b.t").as("type_b"))
      .agg(count(lit(1)).as("users_both"))
    val estInter = col("users_a") + col("users_b") -
      hll_sketch_estimate(hll_union(col("__ha"), col("__hb")))
    inter
      .join(broadcast(perType.select(col("t").as("type_a"),
        col("nu").as("users_a"), col("h").as("__ha"))), "type_a")
      .join(broadcast(perType.select(col("t").as("type_b"),
        col("nu").as("users_b"), col("h").as("__hb"))), "type_b")
      .select(col("type_a"), col("type_b"), col("users_a"),
        col("users_b"), col("users_both"),
        (abs(estInter - col("users_both")) <=
          lit(tol) * (col("users_a") + col("users_b") - col("users_both")))
          .as("hll_ok"))
  }

  /** Time-to-convert report: among users whose stream contains
    * `touchType`, how many reach `convType` AT OR AFTER their first
    * touch, and how long that takes — the conversion-latency summary
    * (rate, median, p90) behind funnel dashboards. Conversions that
    * precede every touch don't count (the touch didn't cause them);
    * delays are exact integer microseconds, percentiles exact
    * interpolated.
    *
    * Two filtered aggregates on the user key (first touch, then first
    * qualifying conversion via one equi-join + min), closed by a
    * one-row summary; the touched-population count rides a broadcast.
    * No windows, no corpus re-shuffle beyond the user key. */
  def timeToConvert(events: DataFrame, touchType: String, convType: String,
                    userCol: String = "user_id", tsCol: String = "ts",
                    typeCol: String = "event_type"): DataFrame = {
    val us = unix_micros(col(tsCol))
    val firstTouch = events.filter(col(typeCol) === touchType)
      .groupBy(col(userCol).as("u")).agg(min(us).as("t0"))
    val delays = events.filter(col(typeCol) === convType)
      .select(col(userCol).as("u"), us.as("tc"))
      .join(firstTouch, "u")
      .filter(col("tc") >= col("t0"))
      .groupBy(col("u")).agg((min(col("tc")) - first(col("t0")))
        .as("delay_us"))
    delays
      .agg(count(lit(1)).as("n_converted"),
           percentile(col("delay_us"), lit(0.5)).as("__med"),
           percentile(col("delay_us"), lit(0.9)).as("__p90"))
      .crossJoin(broadcast(
        firstTouch.agg(count(lit(1)).as("n_touched"))))
      .select(col("n_touched"), col("n_converted"),
        round(col("n_converted").cast("double") /
            when(col("n_touched") > 0, col("n_touched").cast("double")), 9)
          .as("conv_rate"),
        round(col("__med"), 9).as("med_delay_us"),
        round(col("__p90"), 9).as("p90_delay_us"))
  }

  /** First-/last-touch attribution report — the marketing-analytics
    * complement of [[funnelN]]: each conversion event is credited to the
    * user's FIRST and MOST RECENT preceding touch event (the two
    * endpoints of the path single-touch attribution models argue about),
    * grouped into (first_touch, last_touch) cells with conversion counts
    * and exact-DECIMAL revenue. Conversions with no preceding touch land
    * in the "(none)" cell — organic conversions stay visible instead of
    * silently dropping.
    *
    * Plan shape: ONE user-keyed window (ordered by (ts, id) so ties are
    * deterministic) computes both endpoints via `first`/`last` with
    * ignoreNulls over the strictly-preceding frame; the conversion
    * filter then reduces to a tiny (touch × touch) aggregate. One
    * exchange on the user key, one on the 2-column group — both linear,
    * and revenue sums ride DECIMAL(18,6) so partition order cannot
    * perturb them. */
  def attribution(events: DataFrame, touchTypes: Seq[String],
                  conversionType: String, userCol: String = "user_id",
                  tsCol: String = "ts", typeCol: String = "event_type",
                  idCol: String = "event_id",
                  valueCol: String = "value"): DataFrame = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    val byUser = Window.partitionBy(userCol)
      .orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col(typeCol).isInCollection(touchTypes), col(typeCol))
    events
      .select(col(typeCol), col(valueCol),
        first(touch, ignoreNulls = true).over(byUser).as("__ft"),
        last(touch, ignoreNulls = true).over(byUser).as("__lt"))
      .filter(col(typeCol) === conversionType)
      .groupBy(coalesce(col("__ft"), lit("(none)")).as("first_touch"),
        coalesce(col("__lt"), lit("(none)")).as("last_touch"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(col(valueCol).cast(DecimalType(18, 6))).cast("double")
          .as("revenue"))
  }

  /** LINEAR multi-touch attribution — the equal-split companion of
    * [[attribution]]'s first/last-touch endpoints: every conversion
    * divides its credit (and revenue) equally across ALL its preceding
    * touch events, so mid-path channels that first/last models erase
    * become visible. Per touch type: Σ over conversions of
    * (touches of this type in the path) / (path length), plus the
    * "(none)" organic row carrying untouched conversions whole.
    *
    * Engine-exact: per-conversion shares are one double division
    * rounded to 9 decimals, summed as DECIMAL(28,9); revenue credits
    * round at 6. Plan: ONE user-keyed window computes a per-touch-type
    * running count (|touchTypes| windowed sums sharing the exchange),
    * conversions project |touchTypes| credit rows each (bounded
    * explode), one |touchTypes|+1-row aggregate closes. */
  def linearAttribution(events: DataFrame, touchTypes: Seq[String],
                        conversionType: String,
                        userCol: String = "user_id",
                        tsCol: String = "ts",
                        typeCol: String = "event_type",
                        idCol: String = "event_id",
                        valueCol: String = "value"): DataFrame = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    val byUser = Window.partitionBy(userCol)
      .orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withCnts = touchTypes.foldLeft(
        events.select(col(userCol), col(tsCol), col(idCol), col(typeCol),
          col(valueCol).cast("double").as("__v"))) {
      (df, tp) => df.withColumn(s"__c_$tp",
        // an EMPTY preceding frame sums to NULL, not 0 — without the
        // coalesce a user's first-event conversion vanishes from every
        // branch (neither touched nor organic)
        coalesce(sum(when(col(typeCol) === tp, 1L).otherwise(0L))
          .over(byUser), lit(0L)))
    }
    val conv = withCnts.filter(col(typeCol) === conversionType)
      .withColumn("__n",
        touchTypes.map(tp => col(s"__c_$tp")).reduce(_ + _))
    val dec = DecimalType(28, 9)
    val perType = touchTypes.map { tp =>
      conv.filter(col("__n") > 0)
        .select(lit(tp).as("touch_type"),
          round(col(s"__c_$tp").cast("double") / col("__n"), 9)
            .as("__credit"),
          col("__v"))
    }.reduce(_ unionByName _)
      .select(col("touch_type"), col("__credit"),
        round(col("__credit") * col("__v"), 6).as("__rev"))
    val organic = conv.filter(col("__n") === 0)
      .select(lit("(none)").as("touch_type"),
        lit(1.0).as("__credit"), round(col("__v"), 6).as("__rev"))
    perType.unionByName(organic)
      .groupBy(col("touch_type"))
      .agg(round(sum(col("__credit").cast(dec)).cast("double"), 9)
          .as("credit"),
        round(sum(col("__rev").cast(DecimalType(28, 6))).cast("double"),
          6).as("revenue_credit"))
      .filter(col("credit") > 0)
  }

  /** Cohort retention matrix: users grouped by the `granularity` period
    * of their FIRST event (the cohort), counted distinct in every later
    * period they remain active, keyed by the period offset from their
    * cohort — (cohort_start, period_offset, n_users), the classic
    * product-analytics retention triangle. Granularities: "day", "week"
    * (ISO, Monday start), "month".
    *
    * Plan shape: one user-keyed aggregation for first-event periods, one
    * user-keyed join back onto the distinct (user, active-period) pairs
    * — both hash by the same key, so the join rides the aggregation's
    * partitioning — then one (cohort, offset) count-distinct. All
    * linear; periods are `date_trunc` values, so offsets are exact
    * integers under the pinned UTC session timezone (month offsets via
    * `months_between` on truncated months; day/week via day differences
    * divisible by the period length). */
  def cohortRetention(events: DataFrame, userCol: String = "user_id",
                      tsCol: String = "ts",
                      granularity: String = "month"): DataFrame = {
    require(Seq("day", "week", "month").contains(granularity))
    val cohorts = events.groupBy(col(userCol))
      .agg(date_trunc(granularity, min(col(tsCol))).as("cohort_start"))
    val offset = granularity match {
      case "month" =>
        months_between(col("__p"), col("cohort_start")).cast("long")
      case "week" =>
        (datediff(col("__p"), col("cohort_start")) / 7).cast("long")
      case "day" =>
        datediff(col("__p"), col("cohort_start")).cast("long")
    }
    events
      .select(col(userCol), date_trunc(granularity, col(tsCol)).as("__p"))
      .distinct()
      .join(cohorts, userCol)
      .groupBy(col("cohort_start"), offset.as("period_offset"))
      .agg(countDistinct(col(userCol)).as("n_users"))
  }

  /** Lag-k autocorrelation of the hourly event-count series per event
    * type — the rhythm detector (a strong lag-24 says daily cycle, a
    * negative lag-1 says spiky retries) behind capacity planning and
    * anomaly baselines. The series is the TIME-BUCKETED aggregate, so
    * its length is hours-of-history — bounded and small by
    * construction; the per-type lead window sorts that series, not
    * events (events reduce in the first aggregation). Counts are
    * integers, so the Pearson numerator form runs on exact integer
    * sums; one final sqrt+division rounds to 9 places. Types whose
    * series is shorter than lag+2 or has zero variance on either slice
    * emit NULL (undefined, not 0). */
  def autocorrelation(events: DataFrame, lag: Int = 1,
                      typeCol: String = "event_type",
                      tsCol: String = "ts"): DataFrame = {
    require(lag >= 1, s"lag must be >= 1, got $lag")
    val hourly = events
      .groupBy(col(typeCol), date_trunc("hour", col(tsCol)).as("__h"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col(typeCol)).orderBy(col("__h"))
    val paired = hourly
      .withColumn("__y", lead(col("__c"), lag).over(w))
      .filter(col("__y").isNotNull)
    def sq(c: Column) = c * c
    val agg = paired.groupBy(col(typeCol))
      .agg(count(lit(1)).as("n"),
           sum(col("__c")).as("__sx"), sum(col("__y")).as("__sy"),
           sum(sq(col("__c"))).as("__sxx"), sum(sq(col("__y"))).as("__syy"),
           sum(col("__c") * col("__y")).as("__sxy"))
    val num = (col("n") * col("__sxy") - col("__sx") * col("__sy"))
      .cast("double")
    val vx = (col("n") * col("__sxx") - col("__sx") * col("__sx"))
      .cast("double")
    val vy = (col("n") * col("__syy") - col("__sy") * col("__sy"))
      .cast("double")
    agg.select(col(typeCol), col("n"),
      when(vx > 0 && vy > 0, round(num / sqrt(vx * vy), 9))
        .otherwise(lit(null).cast("double")).as(s"r$lag"))
  }

  /** CUSUM changepoint detection per series — the level-shift locator a
    * telemetry pipeline runs when [[anomalousHours]] says "something
    * moved" and the question becomes WHEN: over the hourly count series
    * x₁..xₙ of each `typeCol`, the classic cumulative-deviation
    * statistic Dₖ = n·Sₖ − k·Sₙ (Sₖ = Σ_{i≤k} xᵢ — n·Dₖ is the
    * mean-shift CUSUM n·(Sₖ − k·x̄) kept in INTEGERS by multiplying
    * through by n, so no float mean enters the argmax), and the split
    * k* = argmax |Dₖ| over k < n with smallest-k ties — binary
    * segmentation's first (and in practice decisive) cut. Emits per
    * series: k*, its bucket timestamp (the last bucket BEFORE the
    * shift), n_buckets, the signed Dₖ*, and the mean rates either side
    * (one IEEE division of exact integers each, 9-dec rounded). Series
    * with a single bucket have no interior split and drop out.
    *
    * All-integer until the two published means, so the located split is
    * bit-reproducible across engines and layouts. Dₖ is computed in
    * DECIMAL(38,0) and published as BIGINT behind the loud range guard
    * (the [[ohlcBars]] contract): |D| ≥ 2⁶³ raises instead of wrapping
    * — n·Sₙ crosses long range only past ~10⁹ buckets × 10⁹ total
    * events, but a monitoring statistic must not wrap silently there.
    *
    * Scale shape (100 TB): the raw event table collapses map-side to
    * (series, hour) counts — the only corpus-sized pass; the window
    * runs per series over bucket rows (series × hours, bounded by the
    * calendar, not by events), and cum/total/n/k share ONE window
    * partitioning so the collapsed table sorts once per series. The
    * argmax is a single max_by aggregate — no second sort, no driver
    * state. */
  def changepoint(events: DataFrame, typeCol: String = "event_type",
                  tsCol: String = "ts"): DataFrame =
    changepointFromHourly(
      events.groupBy(col(typeCol),
          date_trunc("hour", col(tsCol)).as("bucket_ts"))
        .agg(count(lit(1)).as("cnt")),
      typeCol)

  /** The CUSUM argmax half of [[changepoint]], taking an ALREADY
    * bucketED (series, bucket_ts, cnt) table — the seam the streaming
    * monitor composes with: [[graft.streaming.StreamOps.changepointStream]]
    * maintains the watermarked hourly counts online (mergeable long
    * partials in the state store) and lands them as exactly this
    * table, so the monitor replays the identical integer recurrence
    * over the COMPACTED hours (series × hours rows — trivial at any
    * corpus scale) instead of the event stream. Batch
    * [[changepoint]] over the same admitted events is bit-identical
    * by construction (spec-pinned). */
  def changepointFromHourly(hourly: DataFrame,
                            typeCol: String = "event_type",
                            bucketCol: String = "bucket_ts",
                            cntCol: String = "cnt"): DataFrame = {
    val dec = DecimalType(38, 0)
    val base = hourly.select(col(typeCol), col(bucketCol).as("bucket_ts"),
      col(cntCol).cast("long").as("__x"))
    val w = Window.partitionBy(col(typeCol)).orderBy(col("bucket_ts"))
    val full = w.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withStat = base
      .withColumn("__k", row_number().over(w).cast("long"))
      .withColumn("__cum", sum(col("__x")).over(cum))
      .withColumn("__tot", sum(col("__x")).over(full))
      .withColumn("__n", count(lit(1)).over(full))
      .filter(col("__k") < col("__n"))
      .withColumn("__d", col("__n").cast(dec) * col("__cum") -
        col("__k").cast(dec) * col("__tot"))
    withStat
      .groupBy(col(typeCol))
      .agg(max_by(
        struct(col("__k"), col("bucket_ts"), col("__n"), col("__d"),
               col("__cum"), col("__tot")),
        struct(abs(col("__d")).as("a"), (-col("__k")).as("nk"))).as("__b"))
      .select(col(typeCol), col("__b.__k").as("k"),
        col("__b.bucket_ts").as("bucket_ts"),
        col("__b.__n").as("n_buckets"),
        when(abs(col("__b.__d")) <= lit(Long.MaxValue).cast(dec),
            col("__b.__d").cast("long"))
          .otherwise(raise_error(concat(
            lit("changepoint: |D| overflows BIGINT: "),
            col("__b.__d").cast("string"))).cast("long")).as("d"),
        round(col("__b.__cum").cast("double") / col("__b.__k"), 9)
          .as("mean_before"),
        round((col("__b.__tot") - col("__b.__cum")).cast("double") /
          (col("__b.__n") - col("__b.__k")), 9).as("mean_after"))
  }

  /** SAX symbolization (Lin, Keogh, Lonardi & Chiu, DMKD 2003) — the
    * third member of the telemetry-compaction family beside
    * [[ohlcBars]] (per-hour bars) and [[changepoint]] (level-shift
    * locator): each series' value sequence reduces to `segments`
    * PAA means, and each mean maps to a symbol via FIXED caller-chosen
    * breakpoints — the string form that makes motif search, series
    * clustering and anomaly grep cheap. The classic formulation
    * z-normalizes first and uses Gaussian breakpoints; data-derived
    * normalization is layout-fragile across snapshots, so this is the
    * fixed-breakpoint variant (the [[graft.operators.Profiling.psi]]
    * fixed-bin argument): callers pick absolute breakpoints once and
    * symbols stay comparable across corpus versions.
    *
    * Exactness: rows take their in-series position by the (ts, id)
    * total order; segment = (k−1)·segments div n (integer — the PAA
    * frame boundaries are engine-exact); the segment mean divides an
    * exact DECIMAL(18,6) value sum by the segment count ONCE, 9-dec
    * rounded; symbol = 1 + #breaks strictly below the mean. Output per
    * (series, segment): n rows, the mean, the symbol, and the
    * segment's first bucket timestamp; a series shorter than
    * `segments` emits one singleton segment per row (indices spread
    * over the frame, none empty).
    *
    * Scale shape: ONE row_number window per series (series-partitioned
    * sort — series × rows, the [[sessionizeBatch]] shape) feeding a
    * (series, segment) aggregate with map-side partials; breakpoints
    * are a per-row CASE, no join, no driver state. */
  def saxWords(events: DataFrame, breaks: Seq[Double], segments: Int = 8,
               typeCol: String = "event_type", tsCol: String = "ts",
               valCol: String = "value",
               idCol: String = "event_id"): DataFrame = {
    require(segments >= 1, "segments must be >= 1")
    require(breaks.nonEmpty && breaks == breaks.sorted,
      "breakpoints must be a non-empty ascending sequence")
    val w = Window.partitionBy(col(typeCol))
      .orderBy(col(tsCol), col(idCol))
    val full = w.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing)
    val seg = events
      .filter(col(valCol).isNotNull)
      .withColumn("__k", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(full))
      .withColumn("segment",
        expr(s"(__k - 1) * $segments div __n"))
    val mean = (sum(col(valCol).cast(DecimalType(18, 6))).cast("double") /
      count(lit(1))).as("__m")
    val symbol = breaks.foldLeft(lit(1L)) { (acc, b) =>
      acc + when(col("mean_value") > b, 1L).otherwise(0L)
    }
    seg.groupBy(col(typeCol), col("segment"))
      .agg(count(lit(1)).as("n"), min(col(tsCol)).as("seg_start"), mean)
      .withColumn("mean_value", round(col("__m"), 9))
      .drop("__m")
      .withColumn("symbol", symbol)
  }

  /** SAX motif/discord report — the consumer [[saxWords]] exists for
    * (Lin et al., DMKD 2003 §4; Keogh, Lin & Fu, ICDM 2005 discords):
    * slide a `wordLen`-symbol window along each series' SAX string and
    * report, per series, the most repeated word (the MOTIF — a
    * recurring shape) and the rarest (the DISCORD — the anomaly a
    * grep-for-weird-shapes monitor flags). Ties break to the
    * lexicographically smallest word, so the report is engine-exact.
    *
    * Words are digit-strings of the 1-based symbols (breaks.size < 9
    * keeps one char per symbol); a series with fewer segments than
    * `wordLen` has no complete window and drops out. Output per
    * series: (typeCol, n_words, motif_word, motif_cnt, discord_word,
    * discord_cnt).
    *
    * Scale shape: everything downstream of [[saxWords]] is
    * MODEL-sized (series × segments rows): one lead()-window per
    * series over segment rows builds the word table with no extra
    * corpus pass, one (series, word) count aggregate, one min_by/
    * max_by closing aggregate — the corpus is touched exactly once,
    * inside [[saxWords]]. */
  def saxMotifs(events: DataFrame, breaks: Seq[Double], segments: Int = 64,
                wordLen: Int = 4, typeCol: String = "event_type",
                tsCol: String = "ts", valCol: String = "value",
                idCol: String = "event_id"): DataFrame = {
    require(wordLen >= 1, "wordLen must be >= 1")
    require(breaks.size < 9, "digit words need < 9 breakpoints")
    val sax = saxWords(events, breaks, segments, typeCol, tsCol, valCol,
      idCol)
    val w = Window.partitionBy(col(typeCol)).orderBy(col("segment"))
    // incomplete tail windows carry a NULL lead -> concat yields NULL
    // -> filtered: exactly the complete sliding windows survive
    val word = concat((0 until wordLen).map(i =>
      (if (i == 0) col("symbol") else lead(col("symbol"), i).over(w))
        .cast("string")): _*)
    val counts = sax
      .select(col(typeCol), word.as("word"))
      .filter(col("word").isNotNull)
      .groupBy(col(typeCol), col("word"))
      .agg(count(lit(1)).as("cnt"))
    counts.groupBy(col(typeCol))
      .agg(
        sum(col("cnt")).as("n_words"),
        min_by(struct(col("word"), col("cnt")),
          struct((-col("cnt")).as("nc"), col("word"))).as("__m"),
        min_by(struct(col("word"), col("cnt")),
          struct(col("cnt"), col("word"))).as("__d"))
      .select(col(typeCol), col("n_words"),
        col("__m.word").as("motif_word"), col("__m.cnt").as("motif_cnt"),
        col("__d.word").as("discord_word"), col("__d.cnt").as("discord_cnt"))
  }

  /** Hour-level anomaly report against the hour-of-week baseline: for
    * every concrete hour, the z-score of its event count within its
    * (type, day-of-week, hour-of-day) cell across the history — the
    * alert [[timeProfile]]'s fingerprint exists to feed ("Tuesday 3am
    * saw 40× its usual traffic"). Cells need >= `minSamples` hours and
    * non-zero variance to judge; hours with |z| >= `zThreshold`
    * surface, ordered worst-first by the caller.
    *
    * Two aggregations (hourly counts, then cell moments re-aggregated
    * from them — same key family) and one broadcast-sized join back:
    * the baseline table is at most |types|·168 rows. Integer sums feed
    * one fixed-order double formula, so z is engine-exact. */
  def anomalousHours(events: DataFrame, zThreshold: Double = 2.0,
                     minSamples: Long = 2L, typeCol: String = "event_type",
                     tsCol: String = "ts"): DataFrame = {
    val hourly = events
      .groupBy(col(typeCol), date_trunc("hour", col(tsCol)).as("hour_start"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("__dow", (dayofweek(col("hour_start")) - 1).cast("long"))
      .withColumn("__hod", hour(col("hour_start")).cast("long"))
    val cells = hourly.groupBy(col(typeCol), col("__dow"), col("__hod"))
      .agg(count(lit(1)).as("__n"), sum(col("cnt")).as("__sx"),
           sum(col("cnt") * col("cnt")).as("__sxx"))
    val mean = col("__sx").cast("double") / col("__n")
    val variance = (col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .cast("double") / (col("__n") * col("__n"))
    val z = (col("cnt") - mean) / sqrt(variance)
    hourly.join(broadcast(cells), Seq(typeCol, "__dow", "__hod"))
      .filter(col("__n") >= minSamples &&
        (col("__n") * col("__sxx") - col("__sx") * col("__sx")) > 0)
      .withColumn("z", round(z, 9))
      .filter(abs(col("z")) >= zThreshold)
      .select(col(typeCol), col("hour_start"), col("cnt"), col("z"))
  }

  /** Hour-of-week activity profile: event count and exact value sum per
    * (day-of-week, hour-of-day) cell under the session's pinned UTC —
    * the seasonality fingerprint behind load-aware scheduling and the
    * baseline an anomaly monitor compares a live window against. One
    * hash aggregation over derived calendar keys (168 output rows);
    * `dow` is 0=Sunday..6 so the cell ids match the common strftime
    * convention. */
  def timeProfile(events: DataFrame, tsCol: String = "ts",
                  valueCol: String = "value"): DataFrame =
    events.groupBy(
        (dayofweek(col(tsCol)) - 1).cast("long").as("dow"),
        hour(col(tsCol)).cast("long").as("hour"))
      .agg(count(lit(1)).as("n_events"),
           sum(col(valueCol).cast(DecimalType(18, 6))).cast("double")
             .as("sum_value"))

  /** Frequent item pairs (market-basket on the user's distinct item
    * set): pairs of `itemCol` values co-occurring for the same user,
    * with their exact support and lift — the 2-itemset core of
    * Apriori/SON, the "users who do A also do B" signal behind
    * recommendation and funnel design.
    *
    * The quadratic step is per-user over the user's DISTINCT item set
    * (bounded by item-type cardinality, not event count), after a
    * dedup shuffle on the user key — never a cross join over events.
    * Lift's denominator counts ride a broadcast join on the item key;
    * the total-users divisor is a one-row broadcast aggregate. Lift is
    * one integer-ratio division rounded to 9 places. */
  def frequentPairs(events: DataFrame, userCol: String = "user_id",
                    itemCol: String = "event_type",
                    minSupport: Long = 2L): DataFrame = {
    val baskets = events
      .filter(col(itemCol).isNotNull)
      .select(col(userCol).as("__u"), col(itemCol).as("__i"))
      .distinct()
    val counts = baskets.groupBy(col("__i")).agg(count(lit(1)).as("__c"))
    val nUsers = baskets.select(col("__u")).distinct()
      .agg(count(lit(1)).as("__n"))
    val a = baskets.select(col("__u"), col("__i").as("item_a"))
    val b = baskets.select(col("__u"), col("__i").as("item_b"))
    a.join(b, Seq("__u")).filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .join(broadcast(counts.withColumnRenamed("__i", "item_a")
        .withColumnRenamed("__c", "__ca")), Seq("item_a"))
      .join(broadcast(counts.withColumnRenamed("__i", "item_b")
        .withColumnRenamed("__c", "__cb")), Seq("item_b"))
      .crossJoin(broadcast(nUsers))
      .select(col("item_a"), col("item_b"), col("support"),
        round(col("support").cast("double") * col("__n") /
          (col("__ca") * col("__cb")), 9).as("lift"))
  }

  /** RFM segmentation: score every user 1..5 on Recency (last event
    * time), Frequency (event count) and Monetary (exact value sum),
    * then report each (r, f, m) cell — user count and mean monetary —
    * the classic behavioral-segmentation grid.
    *
    * Scores come from exact interior-quintile boundaries of the
    * PER-USER aggregates (score = 1 + #boundaries strictly below the
    * user's value, so higher recency-timestamp / frequency / spend
    * scores higher); the boundaries are a one-row aggregate broadcast
    * onto the user table — a global ntile would be a single-partition
    * sort, this is two hash aggregates and a broadcast. Recency is
    * epoch-microseconds (exact longs); monetary sums through
    * Decimal(18,6), so every score and mean reproduces exactly. */
  def rfmSegments(events: DataFrame, userCol: String = "user_id",
                  tsCol: String = "ts", valueCol: String = "value",
                  nTiles: Int = 5): DataFrame = {
    require(nTiles >= 2, s"need >= 2 score tiles, got $nTiles")
    val ps = (1 until nTiles).map(_.toDouble / nTiles)
    def bs(c: Column) = percentile(c, array(ps.map(lit(_)): _*))
    // the per-user aggregate feeds BOTH the boundary aggregate and the
    // scoring join — pin it (OpCaches-released per query) or the
    // event scan + user shuffle runs twice
    val users = OpCaches.pin(events.groupBy(col(userCol))
      .agg(max(unix_micros(col(tsCol))).as("__r"),
           count(lit(1)).as("__f"),
           sum(col(valueCol).cast(DecimalType(18, 6))).cast("double")
             .as("__m")))
    val bounds = users.agg(bs(col("__r")).as("__rb"),
      bs(col("__f").cast("double")).as("__fb"), bs(col("__m")).as("__mb"))
    def score(v: Column, b: String): Column =
      (size(filter(col(b), x => x < v)) + 1).cast("long")
    users.crossJoin(broadcast(bounds))
      .select(score(col("__r"), "__rb").as("r_score"),
        score(col("__f").cast("double"), "__fb").as("f_score"),
        score(col("__m"), "__mb").as("m_score"), col("__m"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"),
        round(sum(col("__m").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)), 9).as("avg_monetary"))
  }

  /** Holt double exponential smoothing (level + trend), α = β = ½ —
    * the trend-aware sibling of [[ewmaSmooth]]: where EWMA lags a
    * drifting series by construction, Holt carries an explicit trend
    * state, so `forecast_next = level + trend` tracks ramps (the
    * capacity-planning readout of a rate series). Recurrence:
    * l_t = ½·x_t + ½·(l+b), b_t = ½·(l_t − l) + ½·b, seeded
    * l₁ = x₁, b₁ = 0.
    *
    * A RECURRENCE is inherently serial per series — no window frame
    * expresses it — so each series folds SEQUENTIALLY inside one
    * `aggregate` HOF over its sorted (ord, value) array: one grouped
    * collect + one codegen'd left fold, deterministic in any layout.
    * The whole series therefore materializes in one task — the
    * documented bound (fine for rollup series: hours×types, never raw
    * events; the same boundedness class as the grouped-histogram
    * walks in WindowLintSpec's registry). All coefficients are dyadic
    * and the fold order is THE definition, so the DuckDB oracle
    * replays it bit-for-bit as a depth-per-row recursive CTE.
    *
    * The fold's `concat` accumulator rebuilds the output array each
    * step — O(n²) copying inside ONE task for an n-row series — so
    * the rollup-series bound is LOUD, not documentation-only: any
    * series longer than `maxLen` raises before the fold (the
    * kendallTau maxCells convention). The default 16384 caps a
    * series' fold at ~134M struct copies; callers smoothing
    * deliberately long series raise `maxLen` explicitly (and accept
    * the single-task quadratic they are asking for).
    * Output: (seriesCol, ordCol, valueCol, level, trend,
    * forecast_next), the statistics rounded to 9. */
  def holtSmooth(df: DataFrame, seriesCol: String, ordCol: String,
                 valueCol: String, maxLen: Int = 16384): DataFrame = {
    require(maxLen > 0, s"maxLen must be positive, got $maxLen")
    val v = col(valueCol).cast("double")
    val packed = df.filter(v.isNotNull && col(ordCol).isNotNull)
      .groupBy(col(seriesCol))
      .agg(array_sort(collect_list(
        struct(col(ordCol).as("__ord"), v.as("__x")))).as("__a"))
      .select(col(seriesCol),
        when(size(col("__a")) > maxLen, raise_error(concat(
            lit("holtSmooth: series "), col(seriesCol).cast("string"),
            lit(" has "), size(col("__a")).cast("string"),
            lit(s" rows > maxLen=$maxLen — smooth a bounded rollup" +
              " (hours x types), not raw events, or raise maxLen" +
              " deliberately"))))
          .otherwise(col("__a")).as("__a"))
    def outRow(ord: Column, x: Column, l: Column, b: Column) =
      struct(ord.as("__ord"), x.as("__x"), l.as("__l"), b.as("__b"))
    val emptyOut = filter(
      transform(col("__a"),
        e => outRow(e("__ord"), e("__x"), lit(0.0), lit(0.0))),
      _ => lit(false))
    val zero = struct(lit(0.0).as("__l"), lit(0.0).as("__b"),
      emptyOut.as("__out"))
    val folded = packed.select(col(seriesCol),
      explode(aggregate(col("__a"), zero, (acc, e) => {
        val first = size(acc("__out")) === 0
        val l1 = when(first, e("__x"))
          .otherwise(lit(0.5) * e("__x") +
            lit(0.5) * (acc("__l") + acc("__b")))
        val b1 = when(first, lit(0.0))
          .otherwise(lit(0.5) * (l1 - acc("__l")) +
            lit(0.5) * acc("__b"))
        struct(l1.as("__l"), b1.as("__b"),
          concat(acc("__out"),
            array(outRow(e("__ord"), e("__x"), l1, b1))).as("__out"))
      }, acc => acc("__out"))).as("__r"))
    folded.select(col(seriesCol), col("__r")("__ord").as(ordCol),
      col("__r")("__x").as(valueCol),
      round(col("__r")("__l"), 9).as("level"),
      round(col("__r")("__b"), 9).as("trend"),
      round(col("__r")("__l") + col("__r")("__b"), 9).as("forecast_next"))
  }

  /** Exponentially-weighted moving average per series — the monitoring
    * smoother the time-series family lacked (beside [[seasonalityStrength]]'s
    * decomposition, [[changepoint]]'s level-shift locator and
    * [[saxWords]]' symbolization): recent rows weigh geometrically more,
    * the classic α = ½ recency profile. Deliberately the LAG-TRUNCATED
    * form: row t smooths over its last `lags` rows with weights
    * 2⁻¹, 2⁻², …, renormalized by the weight actually present (so early
    * rows and short series are unbiased means of what exists, not
    * damped toward zero). Truncation at 2⁻¹⁶ ≈ 1.5·10⁻⁵ is part of the
    * CONTRACT, not an approximation error — it is what makes the
    * smoother a bounded-memory window op any engine replays exactly.
    *
    * Engine-exact by dyadic arithmetic: every weight is a power of two,
    * so each lagged term and both chain sums are EXACT doubles (no
    * accumulated rounding at all for integer-valued series below 2³⁶);
    * the single renormalizing division rounds to 9. One per-series
    * window sort, `lags` lag() columns riding it, no joins, no state.
    * Ordering ties would make lag() nondeterministic — `ordCol` must be
    * unique per series (hours of a rollup are). Gaps in `ordCol` are
    * ROWS, not time: a missing hour is simply absent from the window
    * (callers wanting time-decay densify first). */
  def ewmaSmooth(df: DataFrame, seriesCol: String, ordCol: String,
                 valueCol: String, lags: Int = 16): DataFrame = {
    require(lags >= 1 && lags <= 48, s"lags must be in [1, 48], got $lags")
    val w = Window.partitionBy(col(seriesCol)).orderBy(col(ordCol))
    val v = col(valueCol).cast("double")
    val terms = (0 until lags).map { i =>
      val li = if (i == 0) v else lag(v, i).over(w)
      val wt = math.pow(2.0, -(i + 1)) // exact dyadic constant
      (coalesce(li * lit(wt), lit(0.0)),
       when(li.isNotNull, lit(wt)).otherwise(lit(0.0)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    df.withColumn("ewma", when(den > 0, round(num / den, 9)))
  }
}
