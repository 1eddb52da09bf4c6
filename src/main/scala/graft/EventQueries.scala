package graft

import graft.streaming.EventsStream
import graft.sources.Tables
import Queries.Q

/** Streaming-shaped (batch-twin) query registrations over `events`.
  * All time math happens at millisecond granularity — the parquet carries
  * ns timestamps that Spark truncates to µs (see sources.Tables.events).
  */
object EventQueries {

  private val hourly: Q = (s, d) => EventsStream.hourlyTypeCounts(Tables.events(s, d))

  private val hourlySql =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY 1, 2""".stripMargin

  private val sessionize: Q = (s, d) => EventsStream.sessionize(Tables.events(s, d), 30)

  private val sessionizeSql =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
      |l AS (SELECT user_id, event_id, ms, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
      |n AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS nw FROM l),
      |s AS (SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM n)
      |SELECT user_id, session_no, count(*) AS n_events, min(ms) AS start_ms, max(ms) AS end_ms
      |FROM s GROUP BY 1, 2""".stripMargin

  /** Native session_window (batch twin of the streaming query). Boundary
    * semantics: an event exactly `gap` after the previous one starts a NEW
    * session (the window is the half-open [start, last+gap)), hence the
    * `>=` in the oracle's split condition — `sessionize`'s lag/cumsum uses
    * strict `>`.
    */
  private val sessionWindows: Q = (s, d) => EventsStream.sessionWindows(Tables.events(s, d), 30)

  private val sessionWindowsSql =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
      |l AS (SELECT user_id, event_id, ms, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
      |n AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms >= 1800000 THEN 1 ELSE 0 END AS nw FROM l),
      |s AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS session_no FROM n)
      |SELECT user_id, min(ms) AS start_ms, max(ms) + 1800000 AS end_ms, count(*) AS n_events
      |FROM s GROUP BY user_id, session_no""".stripMargin

  /** Custom keyed state (mapGroupsWithState) run in BATCH mode: one group
    * invocation per user over empty initial state — the same code path the
    * streaming test drives across micro-batches.
    */
  private val userTotals: Q = (s, d) => {
    EventsStream.runningUserTotals(Tables.events(s, d))
      .toDF("user_id", "n_events", "value_cents")
  }

  private val userTotalsSql =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
      |FROM events GROUP BY 1""".stripMargin

  /** Multi-row keyed state (flatMapGroupsWithState) in batch mode: one
    * alert row per 5000-cent boundary the per-user running total crosses,
    * folding events in (ms, event_id) order. The oracle mirrors it with a
    * cumulative-sum window + generate_series over the crossed boundaries.
    * Division audit: both sides FLOOR (Math.floorDiv in EventsStream vs
    * floor(double) here — exact while |cum| < 2^53), so a refund-driven
    * negative running total cannot split the engines.
    */
  private val spendAlerts: Q = (s, d) => {
    EventsStream.spendAlerts(Tables.events(s, d), stepCents = 5000L)
      .toDF("user_id", "boundary_cents", "event_id")
  }

  private val spendAlertsSql =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |                  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |c AS (SELECT *, CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM e),
      |x AS (SELECT user_id, event_id,
      |             CAST(floor(CAST(cum - cents AS DOUBLE) / 5000) AS BIGINT) + 1 AS lo,
      |             CAST(floor(CAST(cum AS DOUBLE) / 5000) AS BIGINT) AS hi FROM c)
      |SELECT user_id, CAST(unnest(generate_series(lo, hi)) * 5000 AS BIGINT) AS boundary_cents, event_id
      |FROM x""".stripMargin

  /** Conversion funnel view → click → purchase (operators.Funnel): one
    * shuffle on user_id, chained unordered window minima, no sort.
    */
  private val funnel: Q = (s, d) => graft.operators.Funnel.funnel(Tables.events(s, d))

  /** Streaming twin (mapGroupsWithState, ≤3-long state per user) run in
    * batch mode — same oracle as `funnel`, like `asof_stream`/`asof_join`.
    */
  private val funnelStream: Q = (s, d) => {
    EventsStream.funnelProgress(Tables.events(s, d))
      .toDF("user_id", "view_ms", "click_ms", "purchase_ms", "depth")
  }

  // step k's min is conditioned on step k−1's completion key, so the
  // oracle chains one aggregation per step exactly like the operator; the
  // key packs (ms, id mod 2²⁰) into one BIGINT in both engines. The
  // double-mod makes DuckDB's sign-following % match Spark's pmod for
  // negative ids (latent with the fixture's non-negative ids).
  private val funnelSql =
    """WITH e AS (SELECT user_id, event_type,
      |             epoch_ms(ts) * 1048576 + ((event_id % 1048576) + 1048576) % 1048576 AS k
      |           FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |t0 AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN k END) AS k0 FROM e GROUP BY 1),
      |t1 AS (SELECT e.user_id, min(CASE WHEN e.event_type = 'click' AND e.k > t0.k0 THEN e.k END) AS k1
      |       FROM e JOIN t0 USING (user_id) GROUP BY 1),
      |t2 AS (SELECT e.user_id, min(CASE WHEN e.event_type = 'purchase' AND e.k > t1.k1 THEN e.k END) AS k2
      |       FROM e JOIN t1 USING (user_id) GROUP BY 1)
      |SELECT t0.user_id,
      |  (k0 - ((k0 % 1048576) + 1048576) % 1048576) // 1048576 AS view_ms,
      |  (k1 - ((k1 % 1048576) + 1048576) % 1048576) // 1048576 AS click_ms,
      |  (k2 - ((k2 % 1048576) + 1048576) % 1048576) // 1048576 AS purchase_ms,
      |  CAST(CASE WHEN k2 IS NOT NULL THEN 3 WHEN k1 IS NOT NULL THEN 2
      |            WHEN k0 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS depth
      |FROM t0 JOIN t1 USING (user_id) JOIN t2 USING (user_id)""".stripMargin

  /** Keyless range join (RelOps.rangeJoin): every purchase landing inside
    * ANY session window of users 1–50 — point-in-interval containment
    * with no equi key, which a naive BETWEEN join plans as a cartesian.
    * Cell size 1 h ≈ the typical session length.
    */
  private val rangeJoinQ: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    val sess = EventsStream.sessionize(Tables.events(s, d), 30)
      .filter(col("user_id") <= 50)
      .select(col("user_id").as("host_user"), col("session_no"),
        col("start_ms"), col("end_ms"))
    val purchases = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("p_user"),
        unix_millis(col("ts")).as("ms"))
    graft.operators.RelOps.rangeJoin(purchases, sess, "ms", "start_ms", "end_ms",
      cellSize = 3600000L)
      .select("host_user", "session_no", "event_id", "p_user", "ms")
  }

  private val rangeJoinSql =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
      |l AS (SELECT user_id, event_id, ms, lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev_ms FROM e),
      |n AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS nw FROM l),
      |s AS (SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM n),
      |sess AS (SELECT user_id AS host_user, session_no, min(ms) AS start_ms, max(ms) AS end_ms
      |         FROM s WHERE user_id <= 50 GROUP BY 1, 2),
      |p AS (SELECT event_id, user_id AS p_user, epoch_ms(ts) AS ms FROM events WHERE event_type = 'purchase')
      |SELECT host_user, session_no, event_id, p_user, p.ms AS ms
      |FROM p JOIN sess ON p.ms >= sess.start_ms AND p.ms <= sess.end_ms""".stripMargin

  /** Cohort retention: bucket each user by first-activity week, then
    * count distinct users active at each week offset from their cohort —
    * the standard retention triangle. All time math is integral, so no
    * float can shift a boundary, and the week bucket uses the exact-floor
    * idiom from `Funnel` (subtract the pmod remainder, THEN divide: the
    * operand becomes an exact multiple, so truncating and flooring
    * division agree on both engines) — a bare `div`/`//` truncates toward
    * zero and would merge pre-1970 timestamps in (−week, 0) into week 0.
    * Mirrored verbatim in the oracle. Two aggregations + one join; the
    * first-week side is |users| rows, which AQE broadcasts back against
    * the event stream.
    */
  private val retention: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    val e = Tables.events(s, d).selectExpr("user_id",
      "(unix_millis(ts) - pmod(unix_millis(ts), 604800000L)) div 604800000 AS wk")
    val first = e.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    e.join(first, Seq("user_id"))
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  private val retentionSql =
    """WITH e AS (SELECT user_id, (epoch_ms(ts) - ((epoch_ms(ts) % 604800000 + 604800000) % 604800000)) // 604800000 AS wk FROM events),
      |f AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1)
      |SELECT cohort_wk, e.wk - f.cohort_wk AS week_offset,
      |  count(DISTINCT e.user_id) AS n_users
      |FROM e JOIN f USING (user_id) GROUP BY 1, 2""".stripMargin

  val registry: Vector[(String, Q, Option[String])] = Vector(
    ("user_totals", userTotals, Some(userTotalsSql)),
    ("hourly_type_counts", hourly, Some(hourlySql)),
    ("sessionize", sessionize, Some(sessionizeSql)),
    ("session_windows", sessionWindows, Some(sessionWindowsSql)),
    ("spend_alerts", spendAlerts, Some(spendAlertsSql)),
    ("funnel", funnel, Some(funnelSql)),
    ("funnel_stream", funnelStream, Some(funnelSql)),
    ("range_join", rangeJoinQ, Some(rangeJoinSql)),
    ("retention_cohorts", retention, Some(retentionSql)),
  )
}
