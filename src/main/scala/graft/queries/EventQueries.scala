package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkEntry.{sumDec, t}
import graft.operators.EventOps

/** Event-stream queries: sessionization, funnels, cohorts, attribution,
  * seasonality, smoothing, changepoints and telemetry compaction over
  * the events table. */
object EventQueries {

  private val family = "event"

  /** q_ewma oracle, generated: 15 lag() columns over the hourly window
    * plus the dyadic-weight chain sums (every weight literal is the
    * EXACT decimal rendering of 2^-(i+1), so both engines sum the same
    * exact values in the same left-assoc order). */
  private val ewmaOracle: String = {
    val lagDefs = (1 to 15).map(i => s"lag(x, $i) OVER w AS l$i")
      .mkString(",\n        ")
    def wt(i: Int) =
      BigDecimal(math.pow(2.0, -(i + 1))).underlying.toPlainString
    val num = (s"COALESCE(x * ${wt(0)}, 0)" +:
      (1 to 15).map(i => s"COALESCE(l$i * ${wt(i)}, 0)")).mkString(" + ")
    val den = (s"(CASE WHEN x IS NOT NULL THEN ${wt(0)} ELSE 0 END)" +:
      (1 to 15).map(i =>
        s"(CASE WHEN l$i IS NOT NULL THEN ${wt(i)} ELSE 0 END)"))
      .mkString(" + ")
    s"""WITH h AS (SELECT event_type, date_trunc('hour', ts) AS w_start,
       |             CAST(COUNT(*) AS DOUBLE) AS x
       |           FROM events GROUP BY 1, 2),
       |l AS (SELECT event_type, w_start, x,
       |        $lagDefs
       |      FROM h WINDOW w AS (PARTITION BY event_type ORDER BY w_start))
       |SELECT event_type, w_start, x,
       |  CASE WHEN CAST($den AS DOUBLE) > 0
       |    THEN round(CAST($num AS DOUBLE) / CAST($den AS DOUBLE), 9)
       |  END AS ewma
       |FROM l
       |ORDER BY event_type, w_start""".stripMargin
  }

  /** Gap sessionization over events: `flagged` carries `cols` and flags
    * each event that opens a session (first event, or `gapOver` holds
    * for the gap to the previous one); `sess` numbers each user's
    * sessions as `sid`. */
  private def sessions(cols: String, gapOver: String): String =
    s"""WITH flagged AS (
       |  SELECT $cols,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR $gapOver
       |         THEN 1 ELSE 0 END AS newf
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
       |), sess AS (
       |  SELECT *, SUM(newf) OVER (PARTITION BY user_id ORDER BY ts
       |    ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM flagged)""".stripMargin

  /** Session gap of more than one hour. */
  private val hourGap = "epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 3600000"

  /** Session gap of at least 30 minutes, in microseconds (Spark's
    * session_window closes a session at exactly the gap). */
  private val halfHourGapUs =
    "epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000"

  /** Each event as a 10-minute interval [s, e) in epoch
    * microseconds, with `pmax`, the latest end among the user's earlier
    * intervals. */
  private val tenMinuteIntervals: String =
    """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
      |        epoch_us(ts) + 600000000 AS e FROM events),
      |w AS (SELECT user_id, s, e,
      |        max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |          AS pmax
      |      FROM iv)""".stripMargin

  /** Each non-null value's 1-based rank `k` in its event_type series
    * (by ts, event_id) and the series length `n`. */
  private val seriesRanks: String =
    """WITH s AS (SELECT event_type, ts, event_id, value FROM events
      |           WHERE value IS NOT NULL),
      |w AS (SELECT event_type, ts, value,
      |        ROW_NUMBER() OVER (PARTITION BY event_type
      |          ORDER BY ts, event_id) AS k,
      |        COUNT(*) OVER (PARTITION BY event_type) AS n
      |      FROM s)""".stripMargin

  val all: Seq[Query] = Seq(

    // ---- E6 event-time tumbling window rollup ----
    Query("q_event_hourly", family, (s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sumDec(col("value"), 6).as("sum_value"))
        .select(col("w.start").as("w_start"), col("event_type"),
                col("n_events"), col("sum_value"))
        .orderBy("w_start", "event_type"),
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- batch sessionization (gap-based, twin of StreamOps.sessionize) ----
    Query("q_sessionize", family, (s, d) =>
      EventOps.sessionizeBatch(t(s, d, "events"), gapMs = 3600 * 1000L)
        .orderBy("user_id", "session_start"),
      s"""${sessions("user_id, ts, value", hourGap)}
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),

    // ---- E6 cohort retention triangle (first-event week × offset —
    // weekly because the corpus spans one month of events) ----
    Query("q_cohort_retention", family, (s, d) =>
      EventOps.cohortRetention(t(s, d, "events"), granularity = "week")
        .orderBy("cohort_start", "period_offset"),
      """WITH c AS (SELECT user_id,
        |             date_trunc('week', min(ts)) AS cohort_start
        |           FROM events GROUP BY user_id),
        |e AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS p
        |      FROM events)
        |SELECT cohort_start,
        |  CAST(date_diff('day', cohort_start, p) // 7 AS BIGINT)
        |    AS period_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- exact count-distinct companion to E7 ----
    Query("q_count_distinct", family, (s, d) =>
      t(s, d, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type"),
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- E6 market-basket pairs: event types co-occurring per user,
    // exact support + lift over per-user DISTINCT item sets ----
    Query("q_itemsets", family, (s, d) =>
      EventOps.frequentPairs(t(s, d, "events"), minSupport = 2L)
        .orderBy("item_a", "item_b"),
      """WITH bk AS (SELECT DISTINCT user_id, event_type FROM events
        |            WHERE event_type IS NOT NULL),
        |c AS (SELECT event_type, count(*) AS cnt FROM bk GROUP BY 1),
        |n AS (SELECT count(DISTINCT user_id) AS n FROM bk),
        |p AS (SELECT x.event_type AS item_a, y.event_type AS item_b,
        |        count(*) AS support
        |      FROM bk x JOIN bk y ON x.user_id = y.user_id
        |        AND x.event_type < y.event_type
        |      GROUP BY 1, 2)
        |SELECT item_a, item_b, support,
        |  round(CAST(support AS DOUBLE) * n.n / (ca.cnt * cb.cnt), 9)
        |    AS lift
        |FROM p JOIN c ca ON ca.event_type = item_a
        |       JOIN c cb ON cb.event_type = item_b, n
        |WHERE support >= 2
        |ORDER BY item_a, item_b""".stripMargin),

    // ---- E6 hour-of-week seasonality profile (UTC) ----
    Query("q_time_profile", family, (s, d) =>
      EventOps.timeProfile(t(s, d, "events"))
        .orderBy("dow", "hour"),
      """SELECT CAST(strftime(ts, '%w') AS BIGINT) AS dow,
        |  CAST(extract(hour FROM ts) AS BIGINT) AS hour,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- E6 lag-1 autocorrelation of the hourly count series per
    // type (integer-sum Pearson — engine-exact) ----
    Query("q_autocorr", family, (s, d) =>
      EventOps.autocorrelation(t(s, d, "events"), lag = 1)
        .orderBy("event_type"),
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |             count(*) AS c
        |           FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type, c AS x,
        |        lead(c, 1) OVER (PARTITION BY event_type ORDER BY h) AS y
        |      FROM h),
        |f AS (SELECT event_type, x, y FROM p WHERE y IS NOT NULL),
        |a AS (SELECT event_type, count(*) AS n,
        |        CAST(sum(x) AS BIGINT) AS sx,
        |        CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x*x) AS BIGINT) AS sxx,
        |        CAST(sum(y*y) AS BIGINT) AS syy,
        |        CAST(sum(x*y) AS BIGINT) AS sxy
        |      FROM f GROUP BY 1)
        |SELECT event_type, n,
        |  CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0 THEN
        |    round(CAST(n*sxy - sx*sy AS DOUBLE)
        |      / sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * (n*syy - sy*sy)), 9)
        |  ELSE NULL END AS r1
        |FROM a ORDER BY event_type""".stripMargin),

    // ---- E6 hour anomalies vs the hour-of-week baseline (the alert
    // the seasonality fingerprint exists to feed) ----
    Query("q_anomaly_hours", family, (s, d) =>
      EventOps.anomalousHours(t(s, d, "events"), zThreshold = 2.0)
        .orderBy("event_type", "hour_start"),
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour_start,
        |             count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |k AS (SELECT *, CAST(strftime(hour_start, '%w') AS BIGINT) AS dow,
        |        CAST(extract(hour FROM hour_start) AS BIGINT) AS hod
        |      FROM h),
        |c AS (SELECT event_type, dow, hod, count(*) AS n,
        |        CAST(sum(cnt) AS BIGINT) AS sx,
        |        CAST(sum(cnt*cnt) AS BIGINT) AS sxx
        |      FROM k GROUP BY 1, 2, 3)
        |SELECT k.event_type, hour_start, cnt,
        |  round((cnt - CAST(sx AS DOUBLE) / n)
        |    / sqrt(CAST(n*sxx - sx*sx AS DOUBLE) / (n*n)), 9) AS z
        |FROM k JOIN c USING (event_type, dow, hod)
        |WHERE n >= 2 AND (n*sxx - sx*sx) > 0
        |  AND abs(round((cnt - CAST(sx AS DOUBLE) / n)
        |    / sqrt(CAST(n*sxx - sx*sx AS DOUBLE) / (n*n)), 9)) >= 2.0
        |ORDER BY event_type, hour_start""".stripMargin),

    // ---- E6 RFM segmentation grid: 1..5 quintile scores on recency /
    // frequency / monetary per user, boundary-exact (no global ntile) ----
    Query("q_rfm", family, (s, d) =>
      EventOps.rfmSegments(t(s, d, "events"))
        .orderBy("r_score", "f_score", "m_score"),
      // quintile boundaries of the PER-USER aggregates via quantile_cont
      // (== Spark exact percentile); score = 1 + #boundaries strictly below
      """WITH u AS (SELECT user_id, max(epoch_us(ts)) AS r,
        |             count(*) AS f,
        |             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |               AS m
        |           FROM events GROUP BY user_id),
        |b AS (SELECT
        |        quantile_cont(CAST(r AS DOUBLE), [0.2,0.4,0.6,0.8]) AS rb,
        |        quantile_cont(CAST(f AS DOUBLE), [0.2,0.4,0.6,0.8]) AS fb,
        |        quantile_cont(m, [0.2,0.4,0.6,0.8]) AS mb
        |      FROM u),
        |s AS (SELECT
        |        CAST(1 + len(list_filter(b.rb, x -> x < r)) AS BIGINT)
        |          AS r_score,
        |        CAST(1 + len(list_filter(b.fb, x -> x < f)) AS BIGINT)
        |          AS f_score,
        |        CAST(1 + len(list_filter(b.mb, x -> x < m)) AS BIGINT)
        |          AS m_score,
        |        m
        |      FROM u, b)
        |SELECT r_score, f_score, m_score, count(*) AS n_users,
        |  round(CAST(sum(CAST(m AS DECIMAL(18,6))) AS DOUBLE) / count(*),
        |    9) AS avg_monetary
        |FROM s GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // ---- E6 next-event entropy per state: is the journey a rail or
    // a coin flip? (the determinism screen over transitionMatrix) ----
    Query("q_transition_entropy", family, (s, d) =>
      EventOps.transitionEntropy(t(s, d, "events"))
        .orderBy("from_type"),
      // c·ln(c) terms round to 9 then sum as DECIMAL(38,9) — the
      // order-independent entropy arithmetic the JSD oracle also uses
      """WITH p AS (SELECT event_type AS from_type,
        |        lead(event_type, 1) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS to_type
        |      FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS c FROM p
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |a AS (SELECT from_type, CAST(sum(c) AS BIGINT) AS n_out,
        |        count(*) AS n_dsts,
        |        CAST(sum(CAST(round(CAST(c AS DOUBLE)
        |          * ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(38,9)))
        |          AS DOUBLE) AS clnc
        |      FROM c GROUP BY 1)
        |SELECT from_type, n_out, n_dsts,
        |  round(ln(CAST(n_out AS DOUBLE))
        |    - clnc / CAST(n_out AS DOUBLE), 9) AS entropy
        |FROM a ORDER BY from_type""".stripMargin),

    // ---- E7 pairwise audience overlap between event types, HLL
    // inclusion–exclusion audited against the exact intersection ----
    Query("q_audience_overlap", family, (s, d) =>
      EventOps.audienceOverlap(t(s, d, "events"))
        .orderBy("type_a", "type_b"),
      // sketch-audit oracle shape: the exact pair counts are the
      // checkable payload; the HLL verdict pins to TRUE
      """WITH ut AS (SELECT DISTINCT event_type AS t, user_id AS u
        |      FROM events
        |      WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
        |n AS (SELECT t, count(*) AS nu FROM ut GROUP BY 1),
        |i AS (SELECT a.t AS type_a, b.t AS type_b,
        |        count(*) AS users_both
        |      FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
        |      GROUP BY 1, 2)
        |SELECT type_a, type_b, na.nu AS users_a, nb.nu AS users_b,
        |  users_both, TRUE AS hll_ok
        |FROM i JOIN n na ON na.t = type_a JOIN n nb ON nb.t = type_b
        |ORDER BY type_a, type_b""".stripMargin),

    // ---- E6 conversion latency: first view → first purchase at or
    // after it (rate + exact interpolated delay percentiles) ----
    Query("q_time_to_convert", family, (s, d) =>
      EventOps.timeToConvert(t(s, d, "events"), "view", "purchase")
        .orderBy("n_touched"),
      """WITH ft AS (SELECT user_id AS u, min(epoch_us(ts)) AS t0
        |      FROM events WHERE event_type = 'view' GROUP BY 1),
        |dl AS (SELECT ft.u, min(epoch_us(e.ts)) - ft.t0 AS delay_us
        |      FROM events e JOIN ft ON e.user_id = ft.u
        |      WHERE e.event_type = 'purchase'
        |        AND epoch_us(e.ts) >= ft.t0
        |      GROUP BY ft.u, ft.t0),
        |s AS (SELECT count(*) AS n_converted,
        |        quantile_cont(delay_us, 0.5) AS med,
        |        quantile_cont(delay_us, 0.9) AS p90 FROM dl),
        |t AS (SELECT count(*) AS n_touched FROM ft)
        |SELECT t.n_touched, s.n_converted,
        |  round(CAST(s.n_converted AS DOUBLE) / t.n_touched, 9)
        |    AS conv_rate,
        |  round(med, 9) AS med_delay_us, round(p90, 9) AS p90_delay_us
        |FROM s, t ORDER BY n_touched""".stripMargin),

    // ---- E6 frequent length-3 journeys (sequential patterns one hop
    // deeper than the transition matrix) ----
    Query("q_seq_patterns", family, (s, d) =>
      EventOps.sequencePatterns(t(s, d, "events"), minSupport = 5)
        .orderBy("e1", "e2", "e3"),
      """WITH p AS (SELECT event_type AS e1,
        |        lead(event_type, 1) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS e2,
        |        lead(event_type, 2) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS e3
        |      FROM events)
        |SELECT e1, e2, e3, count(*) AS support FROM p
        |WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        |GROUP BY 1, 2, 3 HAVING count(*) >= 5
        |ORDER BY e1, e2, e3""".stripMargin),

    // ---- E6 burst collapse: keep burst-starting events per user
    // (1-hour debounce), numbered per user ----
    Query("q_debounce", family, (s, d) =>
      EventOps.debounce(t(s, d, "events"), gapUs = 3600L * 1000000L)
        .orderBy("event_id"),
      """WITH w AS (SELECT event_id, user_id, ts, event_type,
        |        lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS prev,
        |        epoch_us(ts) AS us
        |      FROM events),
        |s AS (SELECT event_id, user_id, ts, event_type,
        |        CASE WHEN prev IS NULL OR us - prev > 3600000000
        |          THEN 1 ELSE 0 END AS st
        |      FROM w),
        |b AS (SELECT event_id, user_id, ts, event_type, st,
        |        CAST(sum(st) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND CURRENT ROW) AS BIGINT) AS burst
        |      FROM s)
        |SELECT event_id, user_id, ts, event_type, burst FROM b
        |WHERE st = 1 ORDER BY event_id""".stripMargin),

    // ---- E6 seasonality strength: R² of the hour-of-week
    // fingerprint over hourly traffic (the alert-on-residuals gate) ----
    Query("q_seasonality", family, (s, d) =>
      EventOps.seasonalityStrength(t(s, d, "events"))
        .orderBy("event_type"),
      // the (dow, hour) key labels differ across engines but partition
      // hours identically, which is all the ANOVA identity needs
      """WITH h AS (SELECT event_type AS t, date_trunc('hour', ts) AS h,
        |        count(*) AS c
        |      FROM events
        |      WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |      GROUP BY 1, 2),
        |k AS (SELECT t, c, concat(strftime(h, '%w'), '#',
        |        extract(hour FROM h)) AS how FROM h),
        |cells AS (SELECT t, how, CAST(sum(c) AS BIGINT) AS sg,
        |        count(*) AS ng FROM k GROUP BY 1, 2),
        |pt AS (SELECT t, count(*) AS n_hours,
        |        CAST(sum(c) AS BIGINT) AS s,
        |        CAST(sum(c * c) AS BIGINT) AS q FROM k GROUP BY 1),
        |bt AS (SELECT t, CAST(sum(CAST(round(
        |        CAST(sg * sg AS DOUBLE) / ng, 9) AS DECIMAL(38,9)))
        |        AS DOUBLE) AS sgq FROM cells GROUP BY 1)
        |SELECT pt.t AS event_type, n_hours,
        |  CASE WHEN CAST(q AS DOUBLE)
        |      - CAST(s * s AS DOUBLE) / n_hours > 0.0 THEN
        |    round(1.0 - (CAST(q AS DOUBLE) - sgq)
        |      / (CAST(q AS DOUBLE) - CAST(s * s AS DOUBLE) / n_hours), 9)
        |  END AS r2
        |FROM pt JOIN bt ON bt.t = pt.t ORDER BY event_type""".stripMargin),

    // ---- E6 exact inter-event gap percentiles (dwell-time SLAs) ----
    Query("q_gap_percentiles", family, (s, d) =>
      EventOps.gapPercentiles(t(s, d, "events"))
        .orderBy("event_type"),
      """WITH g AS (SELECT event_type,
        |        lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) - epoch_us(ts) AS gap
        |      FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        |  round(quantile_cont(gap, 0.5) / 1000000.0, 9) AS med_gap_s,
        |  round(quantile_cont(gap, 0.9) / 1000000.0, 9) AS p90_gap_s
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin),

    // ---- E6 user-lifespan survival curve (sparse Kaplan–Meier) ----
    Query("q_survival", family, (s, d) =>
      EventOps.survivalCurve(t(s, d, "events"))
        .orderBy("age_days"),
      """WITH d AS (SELECT user_id AS u,
        |        CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |          AS BIGINT) AS d
        |      FROM events
        |      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |l AS (SELECT u, max(d) - min(d) AS age_days FROM d GROUP BY 1),
        |h AS (SELECT age_days, count(*) AS n FROM l GROUP BY 1),
        |t AS (SELECT count(*) AS tot FROM l),
        |c AS (SELECT age_days, CAST(sum(n) OVER (ORDER BY age_days DESC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        AS BIGINT) AS n_surviving FROM h)
        |SELECT age_days, n_surviving,
        |  round(CAST(n_surviving AS DOUBLE) / t.tot, 9) AS survival_rate
        |FROM c, t ORDER BY age_days""".stripMargin),

    // ---- E6 per-day bounce rate over 1-hour-gap sessions ----
    Query("q_bounce_rate", family, (s, d) =>
      EventOps.bounceRate(t(s, d, "events"), gapMs = 3600000L)
        .orderBy("day"),
      s"""${sessions("user_id, ts", hourGap)},
        |s AS (SELECT user_id, sid, min(ts) AS session_start,
        |        count(*) AS n_events
        |      FROM sess GROUP BY 1, 2)
        |SELECT CAST(date_diff('day', DATE '1970-01-01',
        |    CAST(session_start AS DATE)) AS BIGINT) AS day,
        |  count(*) AS n_sessions,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounces,
        |  round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 9) AS bounce_rate
        |FROM s GROUP BY 1 ORDER BY day""".stripMargin),

    // ---- E6 peak concurrent activity windows per day (day-clipped
    // boundary walk over the merged 10-minute intervals) ----
    Query("q_peak_concurrency", family, (s, d) =>
      EventOps.peakConcurrency(
        EventOps.coalesceIntervals(
          t(s, d, "events").select(col("user_id"), col("ts").as("s_ts"),
            (col("ts") + expr("INTERVAL 10 MINUTES")).as("e_ts")),
          "user_id", "s_ts", "e_ts"))
        .orderBy("day"),
      // ends sort before starts at the same microsecond (half-open) so
      // back-to-back windows never double-count
      s"""$tenMinuteIntervals,
        |f AS (SELECT user_id, s, e,
        |        CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END
        |          AS nw FROM w),
        |i AS (SELECT user_id, s, e,
        |        CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS island FROM f),
        |m AS (SELECT user_id, island, min(s) AS s, max(e) AS e
        |      FROM i GROUP BY 1, 2),
        |fr AS (SELECT t.day,
        |        greatest(m.s, t.day * 86400000000) AS fs,
        |        least(m.e, (t.day + 1) * 86400000000) AS fe
        |      FROM m, LATERAL (SELECT unnest(range(m.s // 86400000000,
        |        (m.e - 1) // 86400000000 + 1)) AS day) t),
        |b AS (SELECT day, fs AS t, CAST(1 AS BIGINT) AS delta FROM fr
        |      UNION ALL
        |      SELECT day, fe, CAST(-1 AS BIGINT) FROM fr),
        |r AS (SELECT day, sum(delta) OVER (PARTITION BY day
        |        ORDER BY t, delta ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND CURRENT ROW) AS run FROM b)
        |SELECT CAST(day AS BIGINT) AS day,
        |  CAST(max(run) AS BIGINT) AS peak_concurrent
        |FROM r GROUP BY 1 ORDER BY day""".stripMargin),

    // ---- E6 cohort LTV matrix: first-active-month cohorts × age,
    // with per-cell and cumulative revenue ----
    Query("q_cohort_ltv", family, (s, d) =>
      EventOps.cohortLtv(t(s, d, "events"), granularity = "week")
        .orderBy("cohort_period", "age_periods"),
      """WITH e AS (SELECT user_id AS u,
        |        CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |          AS BIGINT) // 7 AS m, value
        |      FROM events
        |      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT u, min(m) AS c FROM e GROUP BY 1),
        |cell AS (SELECT f.c AS cohort_period, e.m - f.c AS age_periods,
        |        count(DISTINCT e.u) AS n_active,
        |        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |          AS revenue
        |      FROM e JOIN f ON e.u = f.u GROUP BY 1, 2)
        |SELECT cohort_period, age_periods, n_active, revenue,
        |  sum(revenue) OVER (PARTITION BY cohort_period
        |    ORDER BY age_periods ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS cum_revenue
        |FROM cell ORDER BY cohort_period, age_periods""".stripMargin),

    // ---- E6 longest consecutive-day streak histogram (habit
    // strength, gaps-and-islands on distinct activity days) ----
    Query("q_streaks", family, (s, d) =>
      EventOps.streakHistogram(t(s, d, "events"))
        .orderBy("streak_days"),
      """WITH du AS (SELECT DISTINCT user_id AS u,
        |        CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |          AS BIGINT) AS d
        |      FROM events
        |      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |r AS (SELECT u, d, d - row_number() OVER (PARTITION BY u
        |        ORDER BY d) AS g FROM du),
        |l AS (SELECT u, count(*) AS len FROM r GROUP BY u, g),
        |m AS (SELECT u, CAST(max(len) AS BIGINT) AS streak_days
        |      FROM l GROUP BY 1)
        |SELECT streak_days, count(*) AS n_users FROM m
        |GROUP BY 1 ORDER BY streak_days""".stripMargin),

    // ---- E6 top session-opening paths (first-5-event prefixes) ----
    Query("q_top_paths", family, (s, d) =>
      EventOps.topPaths(t(s, d, "events"), depth = 3, minSupport = 2)
        .orderBy("path"),
      """WITH r AS (SELECT user_id, event_type,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS rn
        |      FROM events WHERE user_id IS NOT NULL),
        |p AS (SELECT user_id,
        |        string_agg(event_type, '>' ORDER BY rn) AS path
        |      FROM r WHERE rn <= 3 GROUP BY 1)
        |SELECT path, count(*) AS n_users FROM p GROUP BY 1
        |HAVING count(*) >= 2 ORDER BY path""".stripMargin),

    // ---- E6 two-proportion A/B readout (id-parity assignment,
    // purchase conversion, pooled z statistic) ----
    Query("q_ab_test", family, (s, d) =>
      EventOps.abTest(t(s, d, "events"),
          treatment = pmod(col("user_id"), lit(2)) === 1, "purchase")
        .orderBy("n_a"),
      """WITH pu AS (SELECT user_id AS u,
        |        CAST(max(CASE WHEN event_type = 'purchase' THEN 1
        |          ELSE 0 END) AS BIGINT) AS conv,
        |        user_id % 2 = 1 AS t
        |      FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |g AS (SELECT
        |        CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_a,
        |        CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_b,
        |        CAST(sum(CASE WHEN NOT t AND conv = 1 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS conv_a,
        |        CAST(sum(CASE WHEN t AND conv = 1 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS conv_b
        |      FROM pu)
        |SELECT n_a, n_b, conv_a, conv_b,
        |  CASE WHEN n_a > 0 THEN
        |    round(CAST(conv_a AS DOUBLE) / n_a, 9) END AS rate_a,
        |  CASE WHEN n_b > 0 THEN
        |    round(CAST(conv_b AS DOUBLE) / n_b, 9) END AS rate_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    round(CAST(conv_b AS DOUBLE) / n_b
        |      - CAST(conv_a AS DOUBLE) / n_a, 9) END AS lift,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |      AND CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) > 0.0
        |      AND CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) < 1.0
        |    THEN round((CAST(conv_b AS DOUBLE) / n_b
        |        - CAST(conv_a AS DOUBLE) / n_a)
        |      / sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)
        |        * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
        |        * (1.0 / n_a + 1.0 / n_b)), 9)
        |  END AS z
        |FROM g ORDER BY n_a""".stripMargin),

    // ---- E6 rolling active users: DAU / trailing-7-day WAU and the
    // stickiness ratio per observed day ----
    Query("q_rolling_active", family, (s, d) =>
      EventOps.rollingActiveUsers(t(s, d, "events"), windowDays = 7)
        .orderBy("day"),
      """WITH du AS (SELECT DISTINCT
        |        CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |          AS BIGINT) AS day,
        |        user_id AS u
        |      FROM events
        |      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |dau AS (SELECT day, count(DISTINCT u) AS dau FROM du GROUP BY 1),
        |ex AS (SELECT du.day + t.o AS day, du.u
        |       FROM du CROSS JOIN (SELECT unnest(range(0, 7)) AS o) t),
        |wau AS (SELECT day, count(DISTINCT u) AS wau FROM ex GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau,
        |  round(CAST(dau.dau AS DOUBLE) / wau.wau, 9) AS stickiness
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin),

    // ---- E6 interval coalescing (gaps-and-islands): merge each
    // user's overlapping 10-minute activity windows ----
    Query("q_interval_merge", family, (s, d) =>
      EventOps.coalesceIntervals(
        t(s, d, "events").select(col("user_id"), col("ts").as("s_ts"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("e_ts")),
        "user_id", "s_ts", "e_ts")
        .orderBy("user_id", "island"),
      s"""$tenMinuteIntervals,
        |f AS (SELECT user_id, s, e,
        |        CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END
        |          AS nw
        |      FROM w),
        |i AS (SELECT user_id, s, e,
        |        CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS island
        |      FROM f)
        |SELECT user_id, island, count(*) AS n_merged,
        |  CAST(min(s) AS BIGINT) AS start_us,
        |  CAST(max(e) AS BIGINT) AS end_us
        |FROM i GROUP BY 1, 2 ORDER BY user_id, island""".stripMargin),

    // E7 approximate distinct with in-plan accuracy audit: the sketch
    // value is engine-specific, but the tolerance verdict and the exact
    // companion count are oracle-checkable
    Query("q_approx_users", family, (s, d) =>
      EventOps.approxDistinctUsersChecked(t(s, d, "events"))
        .orderBy("event_type"),
      // the HLL sketch value is engine-specific; the oracle checks the
      // exact companion count and asserts the tolerance verdict is true
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- E6 inter-event dwell-time report: exact integer-microsecond
    // gap statistics per event type (the engagement/bot heuristic) ----
    Query("q_gap_stats", family, (s, d) =>
      EventOps.gapStats(t(s, d, "events"))
        .orderBy("event_type"),
      """WITH g AS (
        |  SELECT event_type,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) - epoch_us(ts) AS gap
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_gaps,
        |  CAST(SUM(gap) AS BIGINT) AS sum_gap_us,
        |  CAST(MIN(gap) AS BIGINT) AS min_gap_us,
        |  CAST(MAX(gap) AS BIGINT) AS max_gap_us
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // user-journey Markov transitions: exact pair counts + conditional
    // probability, deterministic via the event_id order tie-break
    Query("q_transition_matrix", family, (s, d) =>
      EventOps.transitionMatrix(t(s, d, "events"))
        .orderBy("from_type", "to_type"),
      """WITH pairs AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS to_type
        |  FROM events),
        |cnt AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE)
        |    / CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS prob
        |FROM cnt ORDER BY from_type, to_type""".stripMargin),

    // ---- E6 first-/last-touch attribution (conversion credit to path
    // endpoints; organic conversions kept in the "(none)" cell) ----
    Query("q_attribution", family, (s, d) =>
      EventOps.attribution(t(s, d, "events"), Seq("click", "view"),
          "purchase")
        .orderBy("first_touch", "last_touch"),
      """WITH w AS (
        |  SELECT event_type, value,
        |    first_value(CASE WHEN event_type IN ('click', 'view')
        |                     THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS ft,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |                    THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS lt
        |  FROM events)
        |SELECT coalesce(ft, '(none)') AS first_touch,
        |  coalesce(lt, '(none)') AS last_touch,
        |  COUNT(*) AS n_conversions,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM w WHERE event_type = 'purchase'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- E6 LINEAR multi-touch attribution: every conversion splits
    // credit/revenue equally across its preceding touches — the
    // mid-path channels first/last-touch models erase ----
    Query("q_linear_attribution", family, (s, d) =>
      EventOps.linearAttribution(t(s, d, "events"),
          Seq("click", "view"), "purchase")
        .orderBy("touch_type"),
      // per-conversion shares = windowed touch counts / path length,
      // 9-dec rounded then DECIMAL-summed like the engine
      """WITH w AS (
        |  SELECT event_type, CAST(value AS DOUBLE) AS v,
        |    COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS c_click,
        |    COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS c_view
        |  FROM events),
        |conv AS (SELECT *, c_click + c_view AS n FROM w
        |         WHERE event_type = 'purchase'),
        |rows_ AS (
        |  SELECT 'click' AS touch_type,
        |    round(CAST(c_click AS DOUBLE) / n, 9) AS credit, v
        |  FROM conv WHERE n > 0
        |  UNION ALL
        |  SELECT 'view', round(CAST(c_view AS DOUBLE) / n, 9), v
        |  FROM conv WHERE n > 0
        |  UNION ALL
        |  SELECT '(none)', 1.0, v FROM conv WHERE n = 0),
        |agg AS (
        |  SELECT touch_type,
        |    round(CAST(SUM(CAST(credit AS DECIMAL(28,9))) AS DOUBLE), 9)
        |      AS credit,
        |    round(CAST(SUM(CAST(round(credit * v, 6) AS DECIMAL(28,6)))
        |      AS DOUBLE), 6) AS revenue_credit
        |  FROM rows_ GROUP BY 1)
        |SELECT * FROM agg WHERE credit > 0
        |ORDER BY touch_type""".stripMargin),

    // ---- E6 two-step conversion funnel over event times ----
    Query("q_funnel", family, (s, d) =>
      EventOps.funnel(t(s, d, "events"), "click", "purchase",
          withinUs = 3600L * 1000000L)
        .orderBy("user_id"),
      """WITH a AS (
        |  SELECT user_id, min(ts) AS ta FROM events
        |  WHERE event_type = 'click' GROUP BY user_id),
        |b AS (
        |  SELECT e.user_id,
        |    min(epoch_us(e.ts) - epoch_us(a.ta)) AS delay_us
        |  FROM events e JOIN a ON e.user_id = a.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= a.ta
        |    AND epoch_us(e.ts) - epoch_us(a.ta) <= 3600000000
        |  GROUP BY e.user_id)
        |SELECT a.user_id, epoch_us(a.ta) AS t_first_us, b.delay_us
        |FROM a LEFT JOIN b ON a.user_id = b.user_id
        |ORDER BY a.user_id""".stripMargin),

    // ---- E6 N-step funnel report: greedy first-match sequence scan
    // per user (one shuffle, no per-step joins). The explicit 512 cap
    // sits under the WindowGroupLimit threshold, so a bot user's
    // events truncate map-side before the exchange; the corpus maxes
    // at 99 events/user, so the cap never bites. ----
    Query("q_funnel_steps", family, (s, d) =>
      EventOps.funnelN(t(s, d, "events"),
          Seq("view", "click", "purchase"), withinUs = 7200L * 1000000L,
          maxEventsPerUser = 512)
        .orderBy("step_idx"),
      """WITH t1 AS (
        |  SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t2
        |  FROM events e JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND epoch_us(e.ts) >= t1.t1
        |    AND epoch_us(e.ts) - t1.t1 <= 7200000000
        |  GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, min(epoch_us(e.ts)) AS t3
        |  FROM events e JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= t2.t2
        |    AND epoch_us(e.ts) - t2.t2 <= 7200000000
        |  GROUP BY e.user_id)
        |SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
        |  CAST((SELECT COUNT(*) FROM t1) AS BIGINT) AS n_users
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click',
        |  CAST((SELECT COUNT(*) FROM t2) AS BIGINT)
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'purchase',
        |  CAST((SELECT COUNT(*) FROM t3) AS BIGINT)
        |ORDER BY step_idx""".stripMargin),

    // ---- E6/E20 lag-truncated EWMA smoother over hourly event counts
    // per type: dyadic weights make every term and both chain sums
    // EXACT doubles — the one renormalizing division rounds to 9 ----
    Query("q_ewma", family, (s, d) => {
      val hourly = operators.EventOps.hourlyRollup(t(s, d, "events"))
        .select(col("event_type"), col("w_start"),
          col("n_events").cast("double").as("x"))
      operators.EventOps.ewmaSmooth(hourly, "event_type", "w_start", "x",
          lags = 16)
        .orderBy("event_type", "w_start")
    }, ewmaOracle),

    // ---- E6/E20 Holt level+trend smoother over the same hourly
    // series as q_ewma: the recurrence folds sequentially per series
    // (aggregate HOF over the sorted array — a window can't express
    // it), replayed bit-for-bit by a recursive-CTE oracle ----
    Query("q_holt", family, (s, d) => {
      val hourly = operators.EventOps.hourlyRollup(t(s, d, "events"))
        .select(col("event_type"), col("w_start"),
          col("n_events").cast("double").as("x"))
      operators.EventOps.holtSmooth(hourly, "event_type", "w_start", "x")
        .orderBy("event_type", "w_start")
    },
      // the fold order IS the definition: the recursive CTE steps one
      // row per series per iteration, recomputing the identical IEEE
      // expression tree (dyadic coefficients, no libm)
      """WITH RECURSIVE h AS (
        |  SELECT event_type AS s, date_trunc('hour', ts) AS o,
        |    CAST(COUNT(*) AS DOUBLE) AS x
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT s, o, x,
        |        ROW_NUMBER() OVER (PARTITION BY s ORDER BY o) AS rn
        |      FROM h),
        |hw(s, o, x, rn, l, b) AS (
        |  SELECT s, o, x, rn, x, CAST(0.0 AS DOUBLE) FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.s, r.o, r.x, r.rn,
        |    0.5 * r.x + 0.5 * (hw.l + hw.b),
        |    0.5 * ((0.5 * r.x + 0.5 * (hw.l + hw.b)) - hw.l) + 0.5 * hw.b
        |  FROM hw JOIN r ON r.s = hw.s AND r.rn = hw.rn + 1)
        |SELECT s AS event_type, o AS w_start, x,
        |  round(l, 9) AS level, round(b, 9) AS trend,
        |  round(l + b, 9) AS forecast_next
        |FROM hw
        |ORDER BY event_type, w_start""".stripMargin),

    // ---- E6 OHLC telemetry downsampling: per (type, hour) open/high/
    // low/close with deterministic (ts, id) tie-breaks and the
    // DECIMAL-exact value sum ----
    Query("q_ohlc_bars", family, (s, d) =>
      EventOps.ohlcBars(t(s, d, "events"))
        .orderBy("event_type", "bar_ts"),
      """SELECT event_type, date_trunc('hour', ts) AS bar_ts,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  arg_min(value, CAST(epoch_us(ts) AS HUGEINT) * 1099511627776
        |    + event_id) AS open,
        |  max(value) AS high, min(value) AS low,
        |  arg_max(value, CAST(epoch_us(ts) AS HUGEINT) * 1099511627776
        |    + event_id) AS close,
        |  CAST(SUM(CAST(round(value * 1000000000.0) AS HUGEINT))
        |    AS BIGINT) AS sum_value_nanos
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- E6 CUSUM changepoint per event series: all-integer
    // Dₖ = n·Sₖ − k·Sₙ over the hourly count series, argmax |D| with
    // smallest-k ties — the level-shift locator; means either side are
    // single exact-integer divisions ----
    Query("q_changepoint", family, (s, d) =>
      EventOps.changepoint(t(s, d, "events"))
        .orderBy("event_type"),
      // integer CUSUM replay: HUGEINT products, argmax via QUALIFY with
      // the same (|D| desc, k asc) total order
      """WITH c AS (SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
        |            CAST(COUNT(*) AS BIGINT) AS x
        |          FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, bucket_ts, x,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY event_type
        |          ORDER BY bucket_ts) AS BIGINT) AS k,
        |        SUM(x) OVER (PARTITION BY event_type ORDER BY bucket_ts
        |          ROWS UNBOUNDED PRECEDING) AS cum,
        |        SUM(x) OVER (PARTITION BY event_type) AS tot,
        |        CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |      FROM c),
        |s AS (SELECT *, CAST(n AS HUGEINT) * cum - CAST(k AS HUGEINT) * tot
        |        AS d
        |      FROM w WHERE k < n)
        |SELECT event_type, k, bucket_ts, n AS n_buckets,
        |  CAST(d AS BIGINT) AS d,
        |  round(CAST(cum AS DOUBLE) / k, 9) AS mean_before,
        |  round(CAST(tot - cum AS DOUBLE) / (n - k), 9) AS mean_after
        |FROM s
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
        |  ORDER BY abs(d) DESC, k) = 1
        |ORDER BY event_type""".stripMargin),

    // ---- E6 SAX symbolization: each value series reduces to 8 PAA
    // segment means mapped onto fixed breakpoints — the string form of
    // the series for motif/anomaly grep; third member of the
    // telemetry-compaction family (bars, changepoint, SAX) ----
    // Plan: one per-series row_number window feeds a (series, segment) partial aggregate; no join.
    Query("q_sax", family, (s, d) =>
      EventOps.saxWords(t(s, d, "events"),
          breaks = Seq(50.0, 150.0, 300.0), segments = 8)
        .orderBy("event_type", "segment"),
      // PAA replay: position by the (ts, id) total order, integer frame
      // boundaries, one exact-decimal mean division, fixed-break CASE
      s"""$seriesRanks,
        |g AS (SELECT event_type, CAST((k - 1) * 8 // n AS BIGINT)
        |        AS segment, ts, value
        |      FROM w),
        |a AS (SELECT event_type, segment, CAST(COUNT(*) AS BIGINT) AS n,
        |        MIN(ts) AS seg_start,
        |        round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |          / COUNT(*), 9) AS mean_value
        |      FROM g GROUP BY 1, 2)
        |SELECT event_type, segment, n, seg_start, mean_value,
        |  CAST(1 + CASE WHEN mean_value > 50.0 THEN 1 ELSE 0 END
        |         + CASE WHEN mean_value > 150.0 THEN 1 ELSE 0 END
        |         + CASE WHEN mean_value > 300.0 THEN 1 ELSE 0 END
        |    AS BIGINT) AS symbol
        |FROM a ORDER BY event_type, segment""".stripMargin),

    // ---- E6 SAX motif/discord report — what the symbolization is FOR:
    // 64-segment SAX strings, 4-symbol sliding words, per series the
    // most repeated word (motif) and the rarest (discord/anomaly),
    // smallest-word ties; everything past the one corpus pass is
    // series×segments-sized ----
    // Plan: past saxWords' corpus pass everything is series x segments sized (lead window, 2 aggs).
    Query("q_sax_motifs", family, (s, d) =>
      EventOps.saxMotifs(t(s, d, "events"),
          breaks = Seq(50.0, 150.0, 300.0), segments = 64, wordLen = 4)
        .orderBy("event_type"),
      // the q_sax window construction at 64 segments, then the sliding
      // 4-symbol words (complete windows only — trailing leads NULL out)
      // and the per-series (cnt, word)-ordered motif/discord argmins
      s"""$seriesRanks,
        |g AS (SELECT event_type, CAST((k - 1) * 64 // n AS BIGINT)
        |        AS segment, value
        |      FROM w),
        |a AS (SELECT event_type, segment,
        |        round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |          / COUNT(*), 9) AS mean_value
        |      FROM g GROUP BY 1, 2),
        |sym AS (SELECT event_type, segment,
        |        CAST(1 + CASE WHEN mean_value > 50.0 THEN 1 ELSE 0 END
        |               + CASE WHEN mean_value > 150.0 THEN 1 ELSE 0 END
        |               + CASE WHEN mean_value > 300.0 THEN 1 ELSE 0 END
        |          AS BIGINT) AS symbol
        |      FROM a),
        |words AS (
        |  SELECT event_type,
        |    CAST(symbol AS VARCHAR)
        |      || lead(CAST(symbol AS VARCHAR), 1) OVER sw
        |      || lead(CAST(symbol AS VARCHAR), 2) OVER sw
        |      || lead(CAST(symbol AS VARCHAR), 3) OVER sw AS word
        |  FROM sym
        |  WINDOW sw AS (PARTITION BY event_type ORDER BY segment)),
        |cnts AS (SELECT event_type, word, CAST(COUNT(*) AS BIGINT) AS cnt
        |         FROM words WHERE word IS NOT NULL GROUP BY 1, 2),
        |pick AS (SELECT event_type, word, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY cnt DESC, word) AS rm,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY cnt, word) AS rd
        |  FROM cnts),
        |tot AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_words
        |        FROM cnts GROUP BY 1)
        |SELECT t.event_type, t.n_words,
        |  m.word AS motif_word, m.cnt AS motif_cnt,
        |  d.word AS discord_word, d.cnt AS discord_cnt
        |FROM tot t
        |JOIN pick m ON m.event_type = t.event_type AND m.rm = 1
        |JOIN pick d ON d.event_type = t.event_type AND d.rd = 1
        |ORDER BY t.event_type""".stripMargin),

    // ---- E6 Markov next-event baseline: per-state argmax prediction
    // + in-sample hit rate — the floor a sequence model must beat ----
    Query("q_next_event_hitrate", family, (s, d) =>
      EventOps.nextEventHitRate(t(s, d, "events"))
        .orderBy("from_type"),
      """WITH p AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |pp AS (SELECT * FROM p WHERE nxt IS NOT NULL),
        |c AS (SELECT from_type, nxt, count(*) AS c FROM pp GROUP BY 1, 2),
        |pr AS (SELECT from_type, nxt AS predicted FROM (
        |    SELECT *, row_number() OVER (PARTITION BY from_type
        |      ORDER BY c DESC, nxt) AS r FROM c) WHERE r = 1)
        |SELECT pp.from_type, predicted,
        |  CAST(COUNT(*) AS BIGINT) AS n_transitions,
        |  CAST(SUM(CASE WHEN nxt = predicted THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hits,
        |  round(CAST(SUM(CASE WHEN nxt = predicted THEN 1 ELSE 0 END)
        |      AS DOUBLE) / COUNT(*), 9) AS hit_rate
        |FROM pp JOIN pr USING (from_type)
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin),

    // ---- E6 churn-label builder: point-in-time wall at Jan 20 of the
    // one-month corpus, 7-day horizon — the leakage-safe label half of
    // a churn training set (features compose from <= cutoff). The
    // cutoff is an ABSOLUTE instant (Instant.parse, 'Z'): Timestamp
    // .valueOf would parse in the JVM default zone and shift the wall
    // on any non-UTC host even though the session tz is pinned ----
    Query("q_churn_labels", family, (s, d) =>
      EventOps.churnLabels(t(s, d, "events"),
          java.sql.Timestamp.from(
            java.time.Instant.parse("2024-01-20T00:00:00Z")),
          horizonDays = 7)
        .orderBy("user_id"),
      // cutoff wall at epoch-µs of 2024-01-20 UTC; horizon 7 days
      """WITH b AS (
        |  SELECT user_id,
        |    max(CASE WHEN epoch_us(ts) <= 1705708800000000
        |        THEN epoch_us(ts) END) AS last_seen_us,
        |    SUM(CASE WHEN epoch_us(ts) <= 1705708800000000
        |        THEN 1 ELSE 0 END) AS n_events_before,
        |    max(CASE WHEN epoch_us(ts) > 1705708800000000
        |             AND epoch_us(ts) <= 1705708800000000 + 604800000000
        |        THEN 1 ELSE 0 END) AS active_after
        |  FROM events GROUP BY user_id)
        |SELECT user_id, last_seen_us,
        |  CAST(n_events_before AS BIGINT) AS n_events_before,
        |  (active_after = 0) AS churned
        |FROM b WHERE n_events_before > 0
        |ORDER BY user_id""".stripMargin),

    // ---- E6 built-in session windows (the Spark-native sessionization;
    // boundary rule differs from EventOps.sessionizeBatch: a gap of
    // exactly the duration STARTS a new session here) ----
    Query("q_session_window", family, (s, d) =>
      t(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"),
                 col("user_id"))
        .agg(count(lit(1)).as("n_events"),
             sum(col("value").cast(DecimalType(18, 6))).cast("double")
               .as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
                col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start"),
      s"""${sessions("user_id, ts, value", halfHourGapUs)}
        |SELECT user_id, MIN(ts) AS session_start,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),
  )
}
