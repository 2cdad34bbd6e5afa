package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Materialize, Tables}
import graft.relational.{AsofJoin, IntervalJoin, RangeJoin}

/** Relational-join queries over the events table — the oracled call
  * sites for the beyond-reference join operators
  * ([[graft.relational.AsofJoin]], [[graft.relational.RangeJoin]],
  * [[graft.relational.IntervalJoin]]). DuckDB has a native `ASOF JOIN`
  * (both directions) and a native inequality (IE) join, so these are
  * TRUE external oracles, not just equality specs.
  *
  * Timestamps are integer epoch-MICROseconds on both sides, the q28
  * convention: DuckDB truncates parquet TIMESTAMP(NANOS) to µs on
  * read, so Spark truncates its exact nanos the same way
  * (`ts div 1000`).
  */
object RelationalQueries {

  private val WindowUs = 5L * 60 * 1000 * 1000 // 5 minutes in µs
  private val GapUs = 30L * 60 * 1000 * 1000   // q28-convention session gap

  private def eventsUs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))

  /** q28-convention gap sessionizer, shared by q47/q48: every event row
    * tagged with its (user_id, session_idx) assignment — one exchange
    * on user_id; callers aggregate per session from here.
    */
  private def sessionAssigned(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    ev.withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > GapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("is_new")).over(byUser))
  }

  // ===== q45 — as-of join: click → most recent prior purchase ============

  /** For every click, the same user's most recent at-or-before
    * purchase (id + value; null when the user has not purchased yet) —
    * the canonical "last touch before the event" attribution lookup.
    * (user_id, ts) is unique in the events table, so the right side
    * needs no pre-aggregation and the match is deterministic.
    *
    * Scale shape ([[AsofJoin]]): ONE hash exchange on user_id + one
    * sort — no candidate-pair blowup; the running window holds O(1)
    * state.
    */
  def q45AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    AsofJoin.asofJoin(clicks, purchases, key = "user_id", ts = "ts_us",
        payload = Seq("purchase_id", "purchase_value"))
      .orderBy(col("click_id"))
  }

  val q45Sql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
      |c AS (SELECT event_id AS click_id, user_id, ts_us FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts_us, event_id AS purchase_id, value AS purchase_value
      |      FROM e WHERE event_type = 'purchase')
      |SELECT c.click_id, c.user_id, c.ts_us, p.purchase_id, p.purchase_value
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
      |ORDER BY click_id""".stripMargin

  // ===== q100 — gap-fill + forward-fill grid (as-of interpolation) ========

  /** Regularized per-user time series: a 6-hour ALIGNED grid spanning
    * each user's event range, every grid point carrying the latest
    * event at-or-before it (forward fill) — the feature-engineering
    * step that turns irregular event streams into fixed-cadence model
    * inputs. Reuses [[AsofJoin]] (grid = left, events = right): ONE
    * exchange on user_id + one sort. Grid boundaries are integer
    * `div`-aligned so both engines compute identical µs points, and
    * every grid point has a match by construction (the grid starts at
    * or after the user's first event; (user_id, ts) is unique in
    * events, q45's argument, so the match is deterministic).
    *
    * Scale shape: grid volume = Σ span/step rows (step is the knob);
    * the as-of machinery is q45's audited one-exchange shape; nothing
    * quadratic anywhere.
    */
  def q100GapFillGrid(s: SparkSession, dir: String): DataFrame = {
    val step = 21600000000L // 6 h in µs
    val ev = eventsUs(s, dir)
    val grid = ev.groupBy(col("user_id"))
      .agg(min(col("ts_us")).as("t0"), max(col("ts_us")).as("t1"))
      .withColumn("start", expr(s"((t0 + ${step - 1}L) div ${step}L) * ${step}L"))
      .filter(col("start") <= col("t1"))
      .select(col("user_id"),
        explode(sequence(col("start"), col("t1"), lit(step))).as("ts_us"))
    val vals = ev.select(col("user_id"), col("ts_us"),
      col("ts_us").as("event_ts_us"), col("value").as("last_value"))
    AsofJoin.asofJoin(grid, vals, key = "user_id", ts = "ts_us",
        payload = Seq("event_ts_us", "last_value"))
      .orderBy(col("user_id"), col("ts_us"))
  }

  val q100Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
      |b AS (
      |  SELECT user_id,
      |    ((min(ts_us) + 21599999999) // 21600000000) * 21600000000 AS start,
      |    max(ts_us) AS t1
      |  FROM e GROUP BY 1),
      |g AS (
      |  SELECT user_id, unnest(range(start, t1 + 1, 21600000000)) AS ts_us
      |  FROM b WHERE start <= t1),
      |v AS (SELECT user_id, ts_us, ts_us AS event_ts_us, value AS last_value FROM e)
      |SELECT g.user_id, g.ts_us, v.event_ts_us, v.last_value
      |FROM g ASOF LEFT JOIN v ON g.user_id = v.user_id AND g.ts_us >= v.ts_us
      |ORDER BY 1, 2""".stripMargin

  // ===== q102 — ordered in-session funnel (view → click → purchase) =======

  /** Conversion funnel with ORDER semantics inside q28 sessions: the
    * first view, the first click AT-OR-AFTER that view, the first
    * purchase at-or-after that click — "did the session progress
    * view → click → purchase, and when". A click before any view does
    * not count: the stage timestamps are NULL-chained conditional
    * window minimums, and `stage` reports how deep the chain got.
    *
    * Scale shape: the sessionizer's one user_id exchange
    * ([[sessionAssigned]]) is reused by all three window passes (same
    * partitioning — no further shuffles); the rollup is one hash
    * aggregate. No joins, no row explosion.
    */
  def q102SessionFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = sessionAssigned(eventsUs(s, dir))
    val bySess = Window.partitionBy(col("user_id"), col("session_idx"))
    ev.withColumn("t_view",
        min(when(col("event_type") === "view", col("ts_us"))).over(bySess))
      .withColumn("t_click",
        min(when(col("event_type") === "click" && col("ts_us") >= col("t_view"),
          col("ts_us"))).over(bySess))
      .withColumn("t_purchase",
        min(when(col("event_type") === "purchase" && col("ts_us") >= col("t_click"),
          col("ts_us"))).over(bySess))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("t_view")).as("t_view"),
        min(col("t_click")).as("t_click"),
        min(col("t_purchase")).as("t_purchase"))
      .withColumn("stage",
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .when(col("t_view").isNotNull, 1)
          .otherwise(0))
      .orderBy(col("user_id"), col("session_idx"))
  }

  val q102Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
      |flagged AS (
      |  SELECT user_id, ts_us, event_type,
      |    CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
      |           OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e),
      |sess AS (
      |  SELECT user_id, ts_us, event_type,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM flagged),
      |s1 AS (
      |  SELECT *, min(CASE WHEN event_type = 'view' THEN ts_us END)
      |    OVER (PARTITION BY user_id, session_idx) AS t_view FROM sess),
      |s2 AS (
      |  SELECT *, min(CASE WHEN event_type = 'click' AND ts_us >= t_view THEN ts_us END)
      |    OVER (PARTITION BY user_id, session_idx) AS t_click FROM s1),
      |s3 AS (
      |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts_us >= t_click THEN ts_us END)
      |    OVER (PARTITION BY user_id, session_idx) AS t_purchase FROM s2)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |  count(*) AS n_events,
      |  min(t_view) AS t_view, min(t_click) AS t_click, min(t_purchase) AS t_purchase,
      |  CASE WHEN min(t_purchase) IS NOT NULL THEN 3
      |       WHEN min(t_click) IS NOT NULL THEN 2
      |       WHEN min(t_view) IS NOT NULL THEN 1 ELSE 0 END AS stage
      |FROM s3 GROUP BY 1, 2
      |ORDER BY user_id, session_idx""".stripMargin

  // ===== q104 — in-session event-transition matrix ========================

  /** The Markov transition counts behind "what do users do next":
    * within each q28 session, count event_type → next-event_type
    * transitions ([[Window]] `lead` over the session order); the last
    * event of every session transitions to the `(end)` terminal so
    * each row of the matrix sums to that type's occurrence count — a
    * proper stochastic-matrix numerator. (user_id, ts) uniqueness
    * makes the session order, and so the matrix, deterministic.
    *
    * Scale shape: the sessionizer's single user_id exchange also
    * satisfies the lead window's (user, session) clustering (q102's
    * argument); the rollup is one tiny hash aggregate (|types|² + end
    * rows). No joins.
    */
  def q104EventTransitions(s: SparkSession, dir: String): DataFrame = {
    val bySess = Window.partitionBy(col("user_id"), col("session_idx"))
      .orderBy(col("ts_us"))
    sessionAssigned(eventsUs(s, dir))
      .withColumn("to_type",
        coalesce(lead(col("event_type"), 1).over(bySess), lit("(end)")))
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val q104Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
      |flagged AS (
      |  SELECT user_id, ts_us, event_type,
      |    CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
      |           OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e),
      |sess AS (
      |  SELECT user_id, ts_us, event_type,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |  FROM flagged),
      |t AS (
      |  SELECT event_type AS from_type,
      |    coalesce(lead(event_type, 1) OVER (PARTITION BY user_id, session_idx
      |      ORDER BY ts_us), '(end)') AS to_type
      |  FROM sess)
      |SELECT from_type, to_type, count(*) AS n_transitions
      |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ===== q174 — Markov stationary event mix ===============================

  /** The steady-state event mix implied by the per-user transition
    * chain: q104 reports the transition COUNTS; this runs three
    * quantized power iterations of the row-normalized matrix from a
    * uniform start and reports where the mass settles — the one-vector
    * answer to "what does a typical long session converge to spending
    * its time on". Mass is integer NANO units with the q131 discipline:
    * every per-edge contribution floors pn·c/rowtotal to a long BEFORE
    * the per-state sum, so all three iterations are exact integer
    * aggregations and the unrolled oracle reproduces them bit-for-bit.
    * States that lose all incoming mass report 0 rather than vanishing.
    *
    * Scale shape: transitions come from one lead-window pass on the
    * user exchange (q104's shape); after that first aggregate
    * everything is |event_types|²-sized — each iteration is a tiny
    * join + hash aggregate, checkpointed to keep lineage flat.
    */
  def q174MarkovStationary(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    val ev = eventsUs(s, dir)
    val trans = ev
      .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("c"))
    val m = trans
      .join(trans.groupBy(col("from_type")).agg(sum(col("c")).as("rt")),
        "from_type")
      .transform(Materialize.pin)
    val states = ev.select(col("event_type").as("state")).distinct()
    var pi = states
      .crossJoin(broadcast(states.agg(count(lit(1)).as("n"))))
      .select(col("state"),
        floor(lit(1e9) / col("n") + lit(0.5)).cast("long").as("pn"))
      .transform(Materialize.pin)
    for (_ <- 1 to 3) {
      val contrib = m
        .join(pi.select(col("state").as("from_type"), col("pn")), "from_type")
        .select(col("to_type"),
          floor(col("pn").cast("double") * col("c") / col("rt") + lit(0.5))
            .cast("long").as("t"))
        .groupBy(col("to_type")).agg(sum(col("t")).as("mass"))
      pi = states
        .join(contrib.select(col("to_type").as("state"), col("mass")),
          Seq("state"), "left")
        .select(col("state"), coalesce(col("mass"), lit(0L)).as("pn"))
        .transform(Materialize.pin)
    }
    pi.select(col("state"), col("pn").as("stat_nano")).orderBy(col("state"))
  }

  /** The same three iterations unrolled as CTEs (q131's oracle shape). */
  val q174Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
      |t0 AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts_us) AS to_type
      |  FROM e),
      |m0 AS (
      |  SELECT from_type, to_type, count(*) AS c FROM t0
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |m AS (
      |  SELECT m0.from_type, m0.to_type, m0.c, r.rt
      |  FROM m0 JOIN (SELECT from_type, sum(c) AS rt FROM m0 GROUP BY 1) r
      |    USING (from_type)),
      |st AS (SELECT DISTINCT event_type AS state FROM e),
      |nn AS (SELECT count(*) AS n FROM st),
      |p0 AS (
      |  SELECT state,
      |    CAST(floor(1000000000.0 / n + 0.5) AS BIGINT) AS pn
      |  FROM st, nn),
      |i1 AS (
      |  SELECT to_type AS state,
      |    CAST(sum(CAST(floor(CAST(pn AS DOUBLE) * c / rt + 0.5) AS BIGINT))
      |      AS BIGINT) AS mass
      |  FROM m JOIN p0 ON p0.state = m.from_type GROUP BY 1),
      |p1 AS (SELECT st.state, coalesce(mass, 0) AS pn FROM st LEFT JOIN i1 USING (state)),
      |i2 AS (
      |  SELECT to_type AS state,
      |    CAST(sum(CAST(floor(CAST(pn AS DOUBLE) * c / rt + 0.5) AS BIGINT))
      |      AS BIGINT) AS mass
      |  FROM m JOIN p1 ON p1.state = m.from_type GROUP BY 1),
      |p2 AS (SELECT st.state, coalesce(mass, 0) AS pn FROM st LEFT JOIN i2 USING (state)),
      |i3 AS (
      |  SELECT to_type AS state,
      |    CAST(sum(CAST(floor(CAST(pn AS DOUBLE) * c / rt + 0.5) AS BIGINT))
      |      AS BIGINT) AS mass
      |  FROM m JOIN p2 ON p2.state = m.from_type GROUP BY 1),
      |p3 AS (SELECT st.state, coalesce(mass, 0) AS pn FROM st LEFT JOIN i3 USING (state))
      |SELECT state, pn AS stat_nano FROM p3 ORDER BY state""".stripMargin

  // ===== q195 — first-touch distribution (funnel-entry audit) =============

  /** What does a user's FIRST event look like? One row per event type
    * with the count and share of users whose earliest event (by ts,
    * event_id tiebreak) has that type — the funnel-entry mix. A
    * nonzero `purchase` row is the funnel-violation signal (users
    * appearing mid-journey: lost attribution, imported accounts, or
    * tracking gaps) that q102's in-session funnel cannot see.
    *
    * Scale shape: one user_id exchange for the first-event window
    * (rank 1 only — the as-of family's shape), then a ≤|types| hash
    * aggregate with a broadcast 1-row total. No joins.
    */
  def q195FirstTouch(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val first = eventsUs(s, dir)
      .withColumn("rk", row_number().over(byUser))
      .filter(col("rk") === 1)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
    first
      .crossJoin(broadcast(first.agg(sum(col("n_users")).as("n_total"))))
      .select(col("event_type"), col("n_users"),
        expr("(n_users * 1000000) div n_total").as("share_micro"))
      .orderBy(col("event_type"))
  }

  val q195Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events),
      |f AS (
      |  SELECT event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS rk
      |  FROM e),
      |g AS (SELECT event_type, count(*) AS n_users FROM f WHERE rk = 1 GROUP BY 1),
      |t AS (SELECT CAST(sum(n_users) AS BIGINT) AS n_total FROM g)
      |SELECT event_type, n_users,
      |  (n_users * 1000000) // n_total AS share_micro
      |FROM g, t ORDER BY event_type""".stripMargin

  // ===== q197 — per-user engagement entropy ===============================

  /** How varied is each user's behavior? Shannon entropy of the user's
    * event-type mix in micro-nats — 0 = single-note users (bots,
    * scrapers, broken clients score here), ln(|types|) = uniform
    * explorers. Per-type terms −p·ln p are quantized from exact counts
    * (q124 discipline) before the per-user sum, so the scores are
    * bit-stable and safely thresholdable.
    *
    * Scale shape: one (user, type) hash aggregate, one user-grain
    * rollup — both map-side combining; per-user state is ≤ |types|
    * counters. No windows.
    */
  def q197EngagementEntropy(s: SparkSession, dir: String): DataFrame = {
    val ut = Tables.load(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val totals = ut.groupBy(col("user_id")).agg(sum(col("c")).as("n_events"))
    ut.join(totals, Seq("user_id"))
      .select(col("user_id"), col("n_events"),
        expr("cast(floor((cast(c as double) / n_events)" +
          " * -ln(cast(c as double) / n_events) * 1000000 + 0.5) as bigint)")
          .as("t"))
      .groupBy(col("user_id"), col("n_events"))
      .agg(count(lit(1)).as("n_types"), sum(col("t")).as("entropy_micro"))
      .orderBy(col("user_id"))
  }

  val q197Sql: String =
    """WITH ut AS (
      |  SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2),
      |t AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events FROM ut GROUP BY 1),
      |terms AS (
      |  SELECT ut.user_id, n_events,
      |    CAST(floor((CAST(c AS DOUBLE) / n_events)
      |      * -ln(CAST(c AS DOUBLE) / n_events) * 1000000 + 0.5) AS BIGINT) AS tt
      |  FROM ut JOIN t USING (user_id))
      |SELECT user_id, n_events, count(*) AS n_types,
      |  CAST(sum(tt) AS BIGINT) AS entropy_micro
      |FROM terms GROUP BY 1, 2 ORDER BY user_id""".stripMargin

  // ===== q198 — order-fulfillment lead-time SLA by priority ===============

  /** Does priority actually buy speed? Per order-priority class: order
    * count and the exact p50/p90 of fulfillment lead time (days from
    * order date to the order's LAST line shipment) — the SLA readout.
    * Lead times are pure integer epoch-day arithmetic; percentiles are
    * the q184 rank-cut-point discipline (value at rank ceil(q·n),
    * orderkey tiebreak).
    *
    * Scale shape: one lineitem→order hash aggregate (max shipdate per
    * order — map-side combining), an equi-join to orders on the key
    * both sides already hash on, then the exact percentiles via a
    * (priority, lead_days)-grain COUNT aggregate (map-side combining;
    * lead-time days are a small integer domain, so the aggregate is
    * tiny) with a running-sum window over that tiny relation — the
    * value at rank k is min(lead_days | cumulative ≥ k), identical to
    * the former per-priority rank window that shuffled and sorted
    * EVERY order row into one reducer per priority class.
    */
  def q198FulfillmentSla(s: SparkSession, dir: String): DataFrame = {
    val lastShip = Tables.load(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(max(expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000L"))
        .as("ship_day"))
    val lead = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000L")
          .as("order_day"))
      .join(lastShip, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"), col("o_orderkey"),
        (col("ship_day") - col("order_day")).as("lead_days"))
    val byPrio = Window.partitionBy(col("o_orderpriority"))
    // (priority, lead_days) counts: the only corpus-sized exchange, with
    // map-side partial combine; ranks become cumulative counts over the
    // tiny aggregate — min(lead_days | cum ≥ k) IS the k-th smallest
    // value (ties share a value, so the orderkey tiebreak is moot)
    lead
      .groupBy(col("o_orderpriority"), col("lead_days"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt"))
        .over(byPrio.orderBy(col("lead_days"))).cast("long"))
      .withColumn("n", sum(col("cnt")).over(byPrio).cast("long"))
      .groupBy(col("o_orderpriority"))
      .agg(max(col("n")).as("n_orders"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("lead_days")))
          .as("p50_days"),
        min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("lead_days")))
          .as("p90_days"))
      .orderBy(col("o_orderpriority"))
  }

  val q198Sql: String =
    """WITH ls AS (
      |  SELECT l_orderkey,
      |    max(epoch_us(l_shipdate) // 86400000000) AS ship_day
      |  FROM lineitem GROUP BY 1),
      |lead AS (
      |  SELECT o_orderpriority, o_orderkey,
      |    ship_day - (epoch_us(o_orderdate) // 86400000000) AS lead_days
      |  FROM orders JOIN ls ON o_orderkey = l_orderkey),
      |r AS (
      |  SELECT o_orderpriority, lead_days,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY lead_days, o_orderkey) AS r,
      |    count(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM lead)
      |SELECT o_orderpriority, max(n) AS n_orders,
      |  min(CASE WHEN r >= (n + 1) // 2 THEN lead_days END) AS p50_days,
      |  min(CASE WHEN r >= (9 * n + 9) // 10 THEN lead_days END) AS p90_days
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  // ===== q46 — range join: purchases inside error-burst windows ==========

  /** Which purchases landed within 5 minutes after ANY error event —
    * a point-in-interval join with NO equi key (the ops question
    * "was this order placed during an incident window?"). Intervals
    * are [error ts, +5 min); a purchase matching several overlapping
    * windows reports once per window.
    *
    * Scale shape ([[RangeJoin]]): bucketWidth = the window length, so
    * each interval explodes onto ≤ 2 buckets; the join is a plain
    * hash join on the bucket key + exact containment refine — never
    * the O(|errors| × |purchases|) nested loop Spark would plan for
    * the raw inequality predicate.
    */
  def q46RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(s, dir)
    val intervals = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("ts_us").as("win_start"),
        (col("ts_us") + WindowUs).as("win_end"))
    val points = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts_us").as("pt_us"))
    RangeJoin.pointInInterval(points, "pt_us", intervals, "win_start", "win_end",
        bucketWidth = WindowUs)
      .select("error_id", "win_start", "win_end", "purchase_id", "p_user", "pt_us")
      .orderBy(col("error_id"), col("purchase_id"))
  }

  val q46Sql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
      |i AS (SELECT event_id AS error_id, ts_us AS win_start, ts_us + 300000000 AS win_end
      |      FROM e WHERE event_type = 'error'),
      |p AS (SELECT event_id AS purchase_id, user_id AS p_user, ts_us AS pt_us
      |      FROM e WHERE event_type = 'purchase')
      |SELECT i.error_id, i.win_start, i.win_end, p.purchase_id, p.p_user, p.pt_us
      |FROM i JOIN p ON p.pt_us >= i.win_start AND p.pt_us < i.win_end
      |ORDER BY error_id, purchase_id""".stripMargin

  // ===== q47 — session attribution: sessions × as-of purchases ===========

  /** The production consumer the as-of join exists for: q28's
    * gap-sessionization derives session starts, and each session is
    * attributed to the user's most recent at-or-before purchase — the
    * "which purchase preceded this visit" enrichment a funnel analysis
    * runs. A session that starts WITH a purchase attributes to that
    * purchase (inclusive match), matching DuckDB ASOF `>=`.
    *
    * Scale shape: the sessionization window, the session-start
    * aggregate, and the as-of join all partition on user_id — one
    * logical key pipeline, no cross-key shuffle between stages.
    */
  def q47SessionAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(s, dir)
    val starts = sessionAssigned(ev)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts_us")).as("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("last_purchase_id"),
        col("value").as("last_purchase_value"))
    AsofJoin.asofJoin(starts, purchases, key = "user_id", ts = "ts_us",
        payload = Seq("last_purchase_id", "last_purchase_value"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  val q47Sql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
      |flagged AS (
      |  SELECT user_id, ts_us,
      |    CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
      |           OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e),
      |starts AS (
      |  SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, min(ts_us) AS ts_us
      |  FROM (SELECT user_id, ts_us,
      |          SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |        FROM flagged)
      |  GROUP BY 1, 2),
      |p AS (SELECT user_id, ts_us, event_id AS last_purchase_id, value AS last_purchase_value
      |      FROM e WHERE event_type = 'purchase')
      |SELECT s.user_id, s.session_idx, s.ts_us, p.last_purchase_id, p.last_purchase_value
      |FROM starts s ASOF LEFT JOIN p ON s.user_id = p.user_id AND s.ts_us >= p.ts_us
      |ORDER BY s.user_id, s.session_idx""".stripMargin

  // ===== q48 — overlap join: sessions × incident windows =================

  /** Which user sessions crossed an incident window — the
    * interval-interval companion to q46's point-in-interval: sessions
    * are `[first event, last event + 1µs)` from the q28/q47 gap
    * sessionizer, incidents are `[error ts, +5 min)`, and a session
    * overlapping several incidents reports once per incident.
    *
    * Scale shape ([[IntervalJoin]]): bucketWidth = the session gap
    * (30 min), so incident windows explode onto ≤ 2 buckets and
    * typical sessions onto a handful; the join is a hash join on the
    * bucket key with the reference-point filter deduplicating — never
    * the O(|sessions| × |incidents|) nested loop.
    */
  def q48OverlapJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(s, dir)
    val sessions = sessionAssigned(ev)
      .groupBy(col("user_id"), col("session_idx"))
      // +1: half-open end; a single-event session still occupies its µs
      .agg(min(col("ts_us")).as("sess_start"), (max(col("ts_us")) + 1).as("sess_end"))
    val incidents = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("ts_us").as("win_start"),
        (col("ts_us") + WindowUs).as("win_end"))
    IntervalJoin.overlapJoin(sessions, "sess_start", "sess_end",
        incidents, "win_start", "win_end", bucketWidth = GapUs)
      .orderBy(col("user_id"), col("session_idx"), col("error_id"))
  }

  val q48Sql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
      |flagged AS (
      |  SELECT user_id, ts_us,
      |    CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
      |           OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) > 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM e),
      |sessions AS (
      |  SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |    min(ts_us) AS sess_start, max(ts_us) + 1 AS sess_end
      |  FROM (SELECT user_id, ts_us,
      |          SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      |        FROM flagged)
      |  GROUP BY 1, 2),
      |i AS (SELECT event_id AS error_id, ts_us AS win_start, ts_us + 300000000 AS win_end
      |      FROM e WHERE event_type = 'error')
      |SELECT s.user_id, s.session_idx, s.sess_start, s.sess_end,
      |       i.error_id, i.win_start, i.win_end
      |FROM sessions s JOIN i
      |  ON GREATEST(s.sess_start, i.win_start) < LEAST(s.sess_end, i.win_end)
      |ORDER BY s.user_id, s.session_idx, i.error_id""".stripMargin

  // ===== q49 — as-of join with tolerance: recent-purchase attribution ====

  /** q45 with a staleness bound — each click attributes to the user's
    * most recent at-or-before purchase ONLY if it is at most 10 minutes
    * old (the feature-store contract: "most recent value, no older than
    * X"). Same single-window plan as q45; the bound is a post-filter on
    * the matched row's own timestamp, carried through the window inside
    * the payload struct.
    */
  def q49AsofTolerance(s: SparkSession, dir: String): DataFrame = {
    val tolUs = 10L * 60 * 1000 * 1000
    val ev = eventsUs(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    AsofJoin.asofJoin(clicks, purchases, key = "user_id", ts = "ts_us",
        payload = Seq("purchase_id", "purchase_value"), tolerance = Some(tolUs))
      .orderBy(col("click_id"))
  }

  /** The most recent prior purchase being too old means every prior
    * purchase is, so DuckDB's unbounded ASOF + a CASE age filter states
    * the same result.
    */
  val q49Sql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
      |c AS (SELECT event_id AS click_id, user_id, ts_us FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts_us, event_id AS purchase_id, value AS purchase_value
      |      FROM e WHERE event_type = 'purchase')
      |SELECT c.click_id, c.user_id, c.ts_us,
      |  CASE WHEN c.ts_us - p.ts_us <= 600000000 THEN p.purchase_id END AS purchase_id,
      |  CASE WHEN c.ts_us - p.ts_us <= 600000000 THEN p.purchase_value END AS purchase_value
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
      |ORDER BY click_id""".stripMargin

  // ===== q50 — forward as-of: signup → first subsequent purchase =========

  /** For every signup, the same user's EARLIEST at-or-after purchase —
    * the time-to-first-conversion lookup, [[AsofJoin.Forward]]
    * direction (q45 mirrored in time). Same single-window plan; only
    * the sort direction flips.
    */
  def q50AsofForward(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(s, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"), col("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    AsofJoin.asofJoin(signups, purchases, key = "user_id", ts = "ts_us",
        payload = Seq("purchase_id", "purchase_value"),
        direction = AsofJoin.Forward)
      .orderBy(col("signup_id"))
  }

  val q50Sql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
      |s AS (SELECT event_id AS signup_id, user_id, ts_us FROM e WHERE event_type = 'signup'),
      |p AS (SELECT user_id, ts_us, event_id AS purchase_id, value AS purchase_value
      |      FROM e WHERE event_type = 'purchase')
      |SELECT s.signup_id, s.user_id, s.ts_us, p.purchase_id, p.purchase_value
      |FROM s ASOF LEFT JOIN p ON s.user_id = p.user_id AND s.ts_us <= p.ts_us
      |ORDER BY signup_id""".stripMargin

  // ===== q109 — peak trailing-window burst (RANGE frame) ==================

  private val BurstUs = 10L * 60 * 1000 * 1000 // 10-minute trailing window

  /** Per-user PEAK burst: the largest number of events any trailing
    * 10-minute window ever held, when it peaked (earliest peak ts),
    * and the value-sum inside that peak window (micro-quantized to
    * integer 1e-6 units before the windowed sum, the q105 convention,
    * so the frame sum is order-independent and FP-exact) — the
    * rate-limiter / abuse-detection report. This is the time-RANGE window frame
    * (`rangeBetween(-10 min, now)`), a frame family no other query
    * exercises: the frame is defined by the ORDER-BY value, not by row
    * counts, so sparse and dense users are measured on the same clock.
    *
    * Scale shape: ONE exchange on user_id feeds the two stacked
    * windows (range-frame count/sum, then the per-user max) and the
    * final aggregate — Catalyst reuses the partitioning across all
    * three. Range-frame state is the in-frame row buffer, bounded by
    * events-per-user-per-10-min, not by the partition; the peak argmin
    * rides a struct `min`, so nothing but (user, ts, cnt, value) ever
    * shuffles.
    */
  def q109PeakBurst(s: SparkSession, dir: String): DataFrame = {
    val trailing = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-BurstUs, 0)
    val byUser = Window.partitionBy(col("user_id"))
    eventsUs(s, dir)
      .withColumn("vq6", expr("cast(floor(value * 1e6 + 0.5) as bigint)"))
      .withColumn("burst_cnt", count(lit(1)).over(trailing))
      .withColumn("burst_value", sum(col("vq6")).over(trailing))
      .withColumn("max_cnt", max(col("burst_cnt")).over(byUser))
      .filter(col("burst_cnt") === col("max_cnt"))
      .groupBy(col("user_id"))
      .agg(max(col("burst_cnt")).as("peak_events"),
        min(struct(col("ts_us"), col("burst_value"))).as("p"))
      .select(col("user_id"), col("peak_events"),
        col("p.ts_us").as("peak_at_us"), col("p.burst_value").as("peak_value_q6"))
      .orderBy(col("user_id"))
  }

  val q109Sql: String =
    """WITH r AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us,
      |    count(*) OVER w AS burst_cnt,
      |    CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) OVER w AS BIGINT) AS burst_value
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |               RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)),
      |m AS (
      |  SELECT user_id, ts_us, burst_cnt, burst_value,
      |    max(burst_cnt) OVER (PARTITION BY user_id) AS max_cnt
      |  FROM r)
      |SELECT user_id, CAST(max(burst_cnt) AS BIGINT) AS peak_events,
      |  min(ts_us) AS peak_at_us,
      |  CAST(arg_min(burst_value, ts_us) AS BIGINT) AS peak_value_q6
      |FROM m WHERE burst_cnt = max_cnt
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ===== q113 — session path mining (ordered aggregation) =================

  /** Behavioral path mining: each gap-session's ordered event-type
    * sequence collapsed to a path string ("view>click>purchase"), then
    * the corpus-wide path frequency table, top 50 — how funnels are
    * DISCOVERED before a funnel query like q102 hard-codes one. The
    * new surface is ordered aggregation: Spark has no `string_agg
    * (ORDER BY)`, so the path is `collect_list(struct(ts, id, type))`
    * → `array_sort` → `transform` → `array_join` — the struct sort
    * key makes the order total and engine-independent.
    *
    * Scale shape: per-session collect_list state is bounded by session
    * length (gap-bounded, not history-bounded); one exchange on
    * user_id covers sessionizer + path aggregate (session_idx is a
    * user-local key), and the path frequency table aggregates tiny
    * path strings. Top-50 plans TakeOrderedAndProject, never a global
    * sort.
    */
  def q113SessionPaths(s: SparkSession, dir: String): DataFrame =
    sessionAssigned(eventsUs(s, dir))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("ts_us"), col("event_id"),
            col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(50)

  val q113Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |g AS (
      |  SELECT user_id, event_id, event_type, ts_us,
      |    CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
      |           OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
      |              > 1800000000 THEN 1 ELSE 0 END AS is_new
      |  FROM e),
      |sess AS (
      |  SELECT user_id, event_id, event_type, ts_us,
      |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
      |                      ROWS UNBOUNDED PRECEDING) AS session_idx
      |  FROM g),
      |p AS (
      |  SELECT user_id, session_idx,
      |    string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
      |  FROM sess GROUP BY 1, 2)
      |SELECT path, count(*) AS n_sessions
      |FROM p GROUP BY 1
      |ORDER BY n_sessions DESC, path LIMIT 50""".stripMargin

  // ===== q114 — interval stitching (gaps and islands) =====================

  private val HoldUs = 5L * 60 * 1000 * 1000 // each event holds 5 minutes

  /** Coverage stitching: every event opens a 5-minute activity
    * interval; overlapping intervals merge into islands, and each user
    * reports island count, total covered time, and the longest island —
    * the uptime/active-time report interval unions answer (and the
    * same gaps-and-islands kernel SLA and sensor pipelines run). All
    * arithmetic is integer µs, exact on both engines.
    *
    * Scale shape: one exchange on user_id serves the island-boundary
    * window (running max of interval ends, O(1) state), the island-id
    * running sum, and both aggregates — no join, no self-comparison;
    * cost is linear in events.
    */
  def q114IntervalIslands(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val prev = byUser.rowsBetween(Window.unboundedPreceding, -1)
    val islands = eventsUs(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        (col("ts_us") + HoldUs).as("end_us"))
      .withColumn("prev_max_end", max(col("end_us")).over(prev))
      .withColumn("is_new",
        when(col("prev_max_end").isNull || col("ts_us") > col("prev_max_end"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("is_new")).over(byUser))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("ts_us")).as("start_us"), max(col("end_us")).as("stop_us"))
    islands.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("stop_us") - col("start_us")).as("covered_us"),
        max(col("stop_us") - col("start_us")).as("longest_us"))
      .orderBy(col("user_id"))
  }

  val q114Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    epoch_us(ts) + 300000000 AS end_us
      |  FROM events),
      |b AS (
      |  SELECT user_id, event_id, ts_us, end_us,
      |    max(end_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS prev_max_end
      |  FROM e),
      |i AS (
      |  SELECT user_id, ts_us, end_us,
      |    sum(CASE WHEN prev_max_end IS NULL OR ts_us > prev_max_end
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |            ROWS UNBOUNDED PRECEDING) AS island
      |  FROM b),
      |s AS (
      |  SELECT user_id, island, min(ts_us) AS start_us, max(end_us) AS stop_us
      |  FROM i GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_islands,
      |  CAST(sum(stop_us - start_us) AS BIGINT) AS covered_us,
      |  max(stop_us - start_us) AS longest_us
      |FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  // ========================================================================

  // ===== q123 — nearest as-of: click → closest purchase either side =======

  /** For every click, the same user's temporally NEAREST purchase in
    * either direction (|Δt| minimized; exact ties prefer the earlier,
    * backward match) — the sensor-alignment flavor of as-of that
    * completes the family (q45 backward / q50 forward / q49
    * tolerance): composed as one [[AsofJoin.Backward]] pass and one
    * [[AsofJoin.Forward]] pass with the matched purchase ts riding the
    * payload, then a per-row argmin. Nothing new shuffles for the
    * choice — it is a pure projection over the two matches.
    *
    * Scale shape: exactly two q45-shaped passes (one exchange + one
    * running window each, O(1) window state); the second pass rides
    * the first's user_id partitioning.
    */
  def q123AsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts_us"))
    def purchases(sfx: String): DataFrame =
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as(s"pid_$sfx"), col("value").as(s"pval_$sfx"),
          col("ts_us").as(s"pts_$sfx"))
    val back = AsofJoin.asofJoin(clicks, purchases("b"), key = "user_id",
      ts = "ts_us", payload = Seq("pid_b", "pval_b", "pts_b"))
    val both = AsofJoin.asofJoin(back, purchases("f"), key = "user_id",
      ts = "ts_us", payload = Seq("pid_f", "pval_f", "pts_f"),
      direction = AsofJoin.Forward)
    val db = col("ts_us") - col("pts_b")
    val df = col("pts_f") - col("ts_us")
    val useBack = col("pts_f").isNull || (col("pts_b").isNotNull && db <= df)
    both.select(col("click_id"), col("user_id"), col("ts_us"),
        when(useBack, col("pid_b")).otherwise(col("pid_f")).as("purchase_id"),
        when(useBack, col("pval_b")).otherwise(col("pval_f")).as("purchase_value"),
        when(useBack, db).otherwise(df).as("delta_us"))
      .orderBy(col("click_id"))
  }

  val q123Sql: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
      |c AS (SELECT event_id AS click_id, user_id, ts_us FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, ts_us, event_id AS pid, value AS pval
      |      FROM e WHERE event_type = 'purchase'),
      |b AS (
      |  SELECT c.click_id, c.user_id, c.ts_us,
      |    p.pid AS pid_b, p.pval AS pval_b, p.ts_us AS pts_b
      |  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us >= p.ts_us),
      |f AS (
      |  SELECT b.*, p.pid AS pid_f, p.pval AS pval_f, p.ts_us AS pts_f
      |  FROM b ASOF LEFT JOIN p ON b.user_id = p.user_id AND b.ts_us <= p.ts_us)
      |SELECT click_id, user_id, ts_us,
      |  CASE WHEN pts_f IS NULL OR (pts_b IS NOT NULL AND ts_us - pts_b <= pts_f - ts_us)
      |       THEN pid_b ELSE pid_f END AS purchase_id,
      |  CASE WHEN pts_f IS NULL OR (pts_b IS NOT NULL AND ts_us - pts_b <= pts_f - ts_us)
      |       THEN pval_b ELSE pval_f END AS purchase_value,
      |  CASE WHEN pts_f IS NULL OR (pts_b IS NOT NULL AND ts_us - pts_b <= pts_f - ts_us)
      |       THEN ts_us - pts_b ELSE pts_f - ts_us END AS delta_us
      |FROM f ORDER BY click_id""".stripMargin

  // ===== q140 — sliding-window event dedup (at-least-once repair) =========

  /** Delivery-duplicate repair: an event is a REDELIVERY — and is
    * dropped — when the same (user_id, event_type, value) identity
    * occurred within the preceding 10 minutes; the first occurrence
    * (and any re-occurrence after the window) survives. This is the
    * batch spelling of `dropDuplicatesWithinWatermark`: at-least-once
    * transports (Kinesis/Kafka re-polls, client retries) duplicate
    * FACTS, not rows — exact-row dedup (q09) misses them when retry
    * timestamps differ, and global identity dedup would merge
    * legitimate repeat behavior; the time bound is what makes it
    * delivery-semantics repair. Output: per event, kept flag + the
    * gap to the previous identical event.
    *
    * Chain semantics, pinned in the spec: the window EXTENDS — a
    * duplicate within 10 min of the PREVIOUS occurrence (kept or
    * dropped) is dropped, so a redelivery storm at 6-min spacing maps
    * to ONE kept head even though it outlasts 10 min end to end (the
    * q28 session-island rule at identity grain; also how state-TTL
    * dedup with sliding expiry behaves). `dup_lag_us` measures back to
    * the chain's kept head, not to the immediate predecessor.
    *
    * Scale shape: one exchange keyed by the identity triple (uniform;
    * value diversifies hot users), one in-partition sort shared by
    * the lag and the running island sum; per-key state is O(1). The
    * streaming twin is `dropDuplicatesWithinWatermark` with the same
    * key and a 10-min watermark.
    */
  def q140EventDedupWindow(s: SparkSession, dir: String): DataFrame = {
    val winUs = 10L * 60 * 1000 * 1000
    val byId = Window.partitionBy(col("user_id"), col("event_type"), col("value"))
      .orderBy(col("ts_us"), col("event_id"))
    eventsUs(s, dir)
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byId))
      // new island (= kept occurrence) when no predecessor within the
      // window OF THE ISLAND START; islands restart the clock, so a
      // chain of sub-window duplicates maps to ONE kept head
      .withColumn("is_new",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > winUs, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("is_new")).over(byId))
      .withColumn("island_start",
        min(col("ts_us")).over(Window
          .partitionBy(col("user_id"), col("event_type"), col("value"), col("island"))))
      .select(col("event_id"), col("user_id"), col("event_type"),
        (col("ts_us") === col("island_start")).cast("int").as("kept"),
        when(col("ts_us") =!= col("island_start"),
          col("ts_us") - col("island_start")).as("dup_lag_us"))
      .orderBy(col("event_id"))
  }

  val q140Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us FROM events),
      |g AS (
      |  SELECT *,
      |    CASE WHEN lag(ts_us) OVER w IS NULL
      |           OR ts_us - lag(ts_us) OVER w > 600000000 THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id, event_type, value
      |                      ORDER BY ts_us, event_id)),
      |isl AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id, event_type, value
      |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS island
      |  FROM g),
      |st AS (
      |  SELECT *, min(ts_us) OVER (PARTITION BY user_id, event_type, value, island)
      |    AS island_start
      |  FROM isl)
      |SELECT event_id, user_id, event_type,
      |  CAST(CASE WHEN ts_us = island_start THEN 1 ELSE 0 END AS INTEGER) AS kept,
      |  CASE WHEN ts_us <> island_start THEN ts_us - island_start END AS dup_lag_us
      |FROM st ORDER BY event_id""".stripMargin

  // ===== q156 — funnel timing: time-to-convert quantiles ==================

  /** The funnel's TIME dimension: median and p90 latency of each stage
    * transition (view→click, click→purchase) over q102's sessions —
    * "how long does conversion take" next to q102's "how many
    * convert". Deltas are exact integer µs; the quantiles are the
    * q30 interpolated-percentile surface (round 6 absorbs engine
    * arithmetic-order ulps), wrapped over the funnel CTE exactly as
    * q107 wraps q17.
    *
    * Scale shape: q102's single user exchange does all the work; the
    * timing layer is two 1-row aggregates over the session relation.
    * The exact `percentile` buffers per-group values — two groups
    * here; at 100 TB swap `approx_percentile` (the q30→q31 ladder).
    */
  def q156FunnelTiming(s: SparkSession, dir: String): DataFrame = {
    // eagerly checkpointed, projected to the three stage timestamps:
    // each leg consumes the funnel twice (histogram + total), so the
    // lazy form re-ran the whole q102 session pipeline FOUR times
    // (8 document scans / 40 Window nodes in the r22 before-plan); the
    // materialized relation is one narrow row per session
    val f = q102SessionFunnel(s, dir)
      .select(col("t_view"), col("t_click"), col("t_purchase"))
      .transform(Materialize.pin)
    // the q137 discrete-quantile convention: smallest delta whose
    // cumulative count reaches ⌈p·n⌉ — pure integer µs, no
    // interpolation to drift between engines (an interpolated
    // percentile at 1e9-µs magnitude can't even round-trip a 6-dp
    // round). The cum window runs over the delta HISTOGRAM (bounded
    // by distinct deltas; the 100 TB lever is ms-grain quantization).
    def leg(name: String, d: org.apache.spark.sql.Column,
        filter: org.apache.spark.sql.Column) = {
      val h = f.filter(filter).select(d.as("d"))
        .groupBy(col("d")).agg(count(lit(1)).as("c"))
      h.withColumn("cum", sum(col("c")).over(Window.orderBy(col("d"))))
        .crossJoin(broadcast(h.agg(sum(col("c")).as("n"))))
        .agg(max(col("n")).as("n_raw"),
          min(when(col("cum") >= expr("cast(ceil(0.5 * n) as bigint)"), col("d")))
            .as("p50_us"),
          min(when(col("cum") >= expr("cast(ceil(0.9 * n) as bigint)"), col("d")))
            .as("p90_us"))
        .select(lit(name).as("transition"),
          coalesce(col("n_raw"), lit(0L)).as("n_sessions"),
          col("p50_us"), col("p90_us"))
    }
    leg("click_to_purchase", col("t_purchase") - col("t_click"),
        col("t_purchase").isNotNull)
      .union(leg("view_to_click", col("t_click") - col("t_view"),
        col("t_click").isNotNull))
      .orderBy(col("transition"))
  }

  def q156Sql: String =
    s"""WITH f AS ($q102Sql),
      |l1 AS (SELECT t_purchase - t_click AS d FROM f WHERE t_purchase IS NOT NULL),
      |h1 AS (SELECT d, count(*) AS c FROM l1 GROUP BY 1),
      |t1 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h1),
      |c1 AS (SELECT d, CAST(sum(c) OVER (ORDER BY d) AS BIGINT) AS cum FROM h1),
      |l2 AS (SELECT t_click - t_view AS d FROM f WHERE t_click IS NOT NULL),
      |h2 AS (SELECT d, count(*) AS c FROM l2 GROUP BY 1),
      |t2 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h2),
      |c2 AS (SELECT d, CAST(sum(c) OVER (ORDER BY d) AS BIGINT) AS cum FROM h2)
      |SELECT 'click_to_purchase' AS transition,
      |  coalesce(max(n), 0) AS n_sessions,
      |  min(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT) THEN d END) AS p50_us,
      |  min(CASE WHEN cum >= CAST(ceil(0.9 * n) AS BIGINT) THEN d END) AS p90_us
      |FROM c1, t1
      |UNION ALL
      |SELECT 'view_to_click', coalesce(max(n), 0),
      |  min(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT) THEN d END),
      |  min(CASE WHEN cum >= CAST(ceil(0.9 * n) AS BIGINT) THEN d END)
      |FROM c2, t2
      |ORDER BY transition""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q156_funnel_timing" -> (q156FunnelTiming _),
    "q140_event_dedup_window" -> (q140EventDedupWindow _),
    "q123_asof_nearest" -> (q123AsofNearest _),
    "q109_peak_burst" -> (q109PeakBurst _),
    "q113_session_paths" -> (q113SessionPaths _),
    "q114_interval_islands" -> (q114IntervalIslands _),
    "q45_asof_join" -> (q45AsofJoin _),
    "q100_gap_fill_grid" -> (q100GapFillGrid _),
    "q102_session_funnel" -> (q102SessionFunnel _),
    "q104_event_transitions" -> (q104EventTransitions _),
    "q174_markov_stationary" -> (q174MarkovStationary _),
    "q195_first_touch" -> (q195FirstTouch _),
    "q197_engagement_entropy" -> (q197EngagementEntropy _),
    "q198_fulfillment_sla" -> (q198FulfillmentSla _),
    "q46_range_join" -> (q46RangeJoin _),
    "q47_session_attribution" -> (q47SessionAttribution _),
    "q48_overlap_join" -> (q48OverlapJoin _),
    "q49_asof_tolerance" -> (q49AsofTolerance _),
    "q50_asof_forward" -> (q50AsofForward _))

  val oracleSql: Map[String, String] = Map(
    "q174_markov_stationary" -> q174Sql,
    "q195_first_touch" -> q195Sql,
    "q197_engagement_entropy" -> q197Sql,
    "q198_fulfillment_sla" -> q198Sql,
    "q140_event_dedup_window" -> q140Sql,
    "q156_funnel_timing" -> q156Sql,
    "q123_asof_nearest" -> q123Sql,
    "q109_peak_burst" -> q109Sql,
    "q113_session_paths" -> q113Sql,
    "q114_interval_islands" -> q114Sql,
    "q45_asof_join" -> q45Sql,
    "q100_gap_fill_grid" -> q100Sql,
    "q102_session_funnel" -> q102Sql,
    "q104_event_transitions" -> q104Sql,
    "q46_range_join" -> q46Sql,
    "q47_session_attribution" -> q47Sql,
    "q48_overlap_join" -> q48Sql,
    "q49_asof_tolerance" -> q49Sql,
    "q50_asof_forward" -> q50Sql)
}
