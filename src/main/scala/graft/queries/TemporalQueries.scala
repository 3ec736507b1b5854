package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.Num._

/** SURVEY §2.6 round-3 temporal-modeling surface: slowly-changing-
  * dimension history building (the warehouse CDC primitive) and
  * day-of-week seasonal indexing (the ops-analytics primitive).
  */
object TemporalQueries {

  /** SCD Type-2 history build from an event log: per user, collapse
    * the time-ordered event stream into state-run intervals
    * [valid_from, valid_to) with change detection — the classic
    * gaps-and-islands shape (lag-inequality change flag → running sum
    * → run grouping), which is how a warehouse derives a dimension's
    * validity history from raw change events.
    *
    * Scale shape: both windows partition by user_id and scale with a
    * single user's history, never the global log; the run-collapse is
    * one partial-aggregated shuffle on (user_id, run_id). Interval
    * bounds stay in exact ns longs (ts_ns) end-to-end — no timestamp
    * formatting or timezone in the hashed output. */
  private val qScd2 = BoundQuery("q_scd2", (s, d) => {
    // µs-exact interval bounds: the DuckDB oracle reads the parquet
    // ns timestamps at TIMESTAMP (µs) precision, so µs is the finest
    // unit both engines share; event_id breaks same-µs ties.
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val runs = Tables.events(s, d)
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"),
        col("event_id"), col("event_type"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
             lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("run_id", sum(col("chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("run_id"))
      .agg(min(col("event_type")).as("state"),
        min(col("ts_us")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
    val wu = Window.partitionBy("user_id").orderBy("valid_from_us")
    runs
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(wu))
      .select(col("user_id"), col("state"), col("valid_from_us"),
        col("valid_to_us"), col("n_events"),
        col("valid_to_us").isNull.as("is_current"))
      .orderBy("user_id", "valid_from_us")
  }, Some("""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type FROM events),
    m AS (
      SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
                       OR lag(event_type) OVER w <> event_type
                     THEN 1 ELSE 0 END AS chg
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
    r AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS run_id
      FROM m),
    g AS (
      SELECT user_id, run_id, min(event_type) AS state,
             min(ts_us) AS valid_from_us, CAST(count(*) AS BIGINT) AS n_events
      FROM r GROUP BY 1, 2)
    SELECT user_id, state, valid_from_us,
           lead(valid_from_us) OVER wu AS valid_to_us, n_events,
           lead(valid_from_us) OVER wu IS NULL AS is_current
    FROM g WINDOW wu AS (PARTITION BY user_id ORDER BY valid_from_us)
    ORDER BY user_id, valid_from_us
  """))

  /** Day-of-week seasonal index per event_type: mean value for each
    * (type, weekday) cell over the type's overall mean — the
    * multiplicative seasonality profile an ops dashboard trends on.
    * Weekday labels are aligned across engines (Sunday = 0).
    *
    * Determinism: both means derive from ONE exact cents-long sum
    * per cell/type, so the index is a fixed chain of IEEE divisions
    * on identical operands; round(…, 6) before output so the hash
    * can't see a last-ulp. The two aggs are partial-combined scans;
    * the join broadcasts |types| × 7 rows. */
  private val qSeasonal = BoundQuery("q_seasonal", (s, d) => {
    val ev = Tables.events(s, d)
    val cells = ev.groupBy(col("event_type"),
        (dayofweek(col("ts")) - lit(1)).cast("long").as("dow"))
      .agg(sumCents(col("value")).as("sc"), count(lit(1)).as("n"))
    val totals = ev.groupBy(col("event_type"))
      .agg(sumCents(col("value")).as("tsc"), count(lit(1)).as("tn"))
    cells.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("dow"), col("n"),
        round(meanOf(col("sc"), col("n")) / lit(100.0), 6).as("avg_value"),
        round((col("sc").cast("double") * col("tn").cast("double")) /
              (col("n").cast("double") * col("tsc").cast("double")), 6)
          .as("seasonal_index"))
      .orderBy("event_type", "dow")
  }, Some("""
    WITH cells AS (
      SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow,
             sum(CAST(round(value*100, 0) AS BIGINT)) AS sc,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    totals AS (
      SELECT event_type,
             sum(CAST(round(value*100, 0) AS BIGINT)) AS tsc,
             CAST(count(*) AS BIGINT) AS tn
      FROM events GROUP BY 1)
    SELECT event_type, dow, n,
           round(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS avg_value,
           round((CAST(sc AS DOUBLE) * CAST(tn AS DOUBLE)) /
                 (CAST(n AS DOUBLE) * CAST(tsc AS DOUBLE)), 6) AS seasonal_index
    FROM cells JOIN totals USING (event_type)
    ORDER BY event_type, dow
  """))

  /** Seasonal-naive forecast backtest: predict each day's per-type
    * total as the value seven days earlier, score MAE/MAPE-ppm over
    * the days where both sides exist — in-engine forecast evaluation
    * (the M-competition baseline every fancier model must beat).
    * Exact to the last digit: actuals/forecasts are cents longs, the
    * error aggregates are integer sums, MAPE is integer ppm; the only
    * double is the final MAE division. Lag-7 alignment by a per-type
    * window over the DAILY series — tiny partitions, no global sort. */
  private val qBacktest = BoundQuery("q_backtest", (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(sumCents(col("value")).as("vc"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val scored = daily
      .withColumn("prev_day", lag(col("day"), 7).over(w))
      .withColumn("fc", lag(col("vc"), 7).over(w))
      // a gap in the series breaks 7-day alignment: keep only rows
      // whose lag-7 row IS the calendar week-earlier day
      .where(col("fc").isNotNull && col("prev_day") === date_sub(col("day"), 7))
      .withColumn("abs_err", abs(col("vc") - col("fc")))
    scored.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        (sum(col("abs_err")).cast("double") / count(lit(1)).cast("double") / lit(100.0))
          .as("mae"),
        expr("sum((abs_err * 1000000) div vc) div count(1)").as("mape_ppm"))
      .orderBy("event_type")
  }, Some("""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             sum(CAST(round(value*100, 0) AS BIGINT)) AS vc
      FROM events GROUP BY 1, 2),
    scored AS (
      SELECT event_type, day, vc,
             lag(day, 7) OVER w AS prev_day,
             lag(vc, 7) OVER w AS fc
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
    ok AS (
      SELECT event_type, abs(vc - fc) AS abs_err, vc FROM scored
      WHERE fc IS NOT NULL AND prev_day = day - 7)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(abs_err) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0 AS mae,
           CAST(sum((abs_err * 1000000) // vc) // count(*) AS BIGINT) AS mape_ppm
    FROM ok GROUP BY event_type ORDER BY event_type
  """))

  /** First-order Markov transition matrix over per-user event
    * sequences: P(next = j | current = i) from exact bigram counts
    * (the model behind next-action prediction and the q_seq_mining
    * trigrams' 1st-order summary). Per-user lag windows (µs order,
    * event_id tiebreak) → one (i, j) partial-agg shuffle → row-
    * normalize against broadcast per-state totals; probabilities are
    * one division on exact longs, round 6. */
  private val qTransitionMatrix = BoundQuery("q_transition_matrix", (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val bigrams = Tables.events(s, d)
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"),
        col("event_id"), col("event_type"))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .where(col("nxt").isNotNull)
      .groupBy(col("event_type").as("cur"), col("nxt"))
      .agg(count(lit(1)).as("n"))
    val outTotals = bigrams.groupBy("cur").agg(sum(col("n")).as("out_n"))
    bigrams.join(broadcast(outTotals), "cur")
      .select(col("cur"), col("nxt"), col("n"),
        round(col("n").cast("double") / col("out_n").cast("double"), 6).as("p"))
      .orderBy("cur", "nxt")
  }, Some("""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS nxt
      FROM events),
    bi AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT cur, CAST(sum(n) AS BIGINT) AS out_n FROM bi GROUP BY 1)
    SELECT cur, nxt, n,
           round(CAST(n AS DOUBLE) / CAST(out_n AS DOUBLE), 6) AS p
    FROM bi JOIN tot USING (cur) ORDER BY cur, nxt
  """))

  /** Stationary distribution of the event-type transition chain —
    * where q_transition_matrix reads single steps, this answers "what
    * share of a long session is spent in each state": π ← πT, 8
    * unrolled integer power steps in micro-units (π(j) ←
    * Σ_i π(i)·n(i,j) div out(i) — truncating division, deterministic
    * on both engines; leaked mass stays unrenormalized and is
    * reported as the readout's resolution, the q_pagerank
    * convention). The chain matrix is states² rows — constant-size
    * iteration no matter how many events built it. */
  private val qMarkovStationary = BoundQuery("q_markov_stationary", (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val bi = graft.util.CacheScope.persist(Tables.events(s, d)
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"),
        col("event_id"), col("event_type"))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .where(col("nxt").isNotNull)
      .groupBy(col("event_type").as("cur"), col("nxt"))
      .agg(count(lit(1)).as("n")))
    val out = bi.groupBy("cur").agg(sum(col("n")).as("out_n"))
    val tm = graft.util.CacheScope.persist(
      bi.join(broadcast(out), "cur")
        .select(col("cur"), col("nxt"), col("n"), col("out_n")))
    val states = tm.select(col("cur").as("state")).distinct()
    var pi = graft.util.CacheScope.checkpoint(states.crossJoin(broadcast(
        states.agg(count(lit(1)).as("k"))))
      .select(col("state"), expr("1000000 div k").as("pi")))
    for (_ <- 1 to 8) {
      pi = graft.util.CacheScope.checkpoint(
        tm.join(pi.withColumnRenamed("state", "cur"), "cur")
          .groupBy(col("nxt").as("state"))
          .agg(sum(expr("(pi * n) div out_n")).as("pi")))
    }
    pi.select(col("state"), col("pi").as("pi_micro")).orderBy("state")
  }, Some {
    def step(k: Int) = s"""
    pi$k AS MATERIALIZED (
      SELECT t.nxt AS state, CAST(sum((p.pi * t.n) // t.out_n) AS BIGINT) AS pi
      FROM tm t JOIN pi${k - 1} p ON p.state = t.cur GROUP BY 1)"""
    s"""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS nxt
      FROM events),
    bi AS (
      SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT cur, CAST(sum(n) AS BIGINT) AS out_n FROM bi GROUP BY 1),
    tm AS MATERIALIZED (
      SELECT bi.cur, bi.nxt, bi.n, tot.out_n FROM bi JOIN tot USING (cur)),
    st AS (SELECT DISTINCT cur AS state FROM tm),
    pi0 AS MATERIALIZED (
      SELECT state, CAST(1000000 // (SELECT count(*) FROM st) AS BIGINT) AS pi
      FROM st),
    ${(1 to 8).map(step).mkString(",")}
    SELECT state, pi AS pi_micro FROM pi8 ORDER BY state
  """})

  /** Aggregate-rollup reuse (the materialized-view pattern): the fact
    * table is scanned ONCE into a daily (event_type, day) pre-aggregate;
    * the month and week grains are then derived by reaggregating that
    * preagg — additivity of the (cents-sum, count) partials makes the
    * derivation exact, and the oracle proves it by computing every
    * coarse tile DIRECTLY from the raw events. At 100 TB this is the
    * difference between one fact scan feeding every dashboard grain
    * and one fact scan per grain: each coarser tile costs
    * O(|preagg|) = O(types × days), not O(|events|). */
  private val qGrainRollup = BoundQuery("q_grain_rollup", (s, d) => {
    val daily = graft.util.CacheScope.persist(
      Tables.events(s, d)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(sumCents(col("value")).as("sc"), count(lit(1)).as("n")))
    def grain(g: String) = daily
      .groupBy(col("event_type"), date_trunc(g, col("day")).cast("date").as("bucket"))
      .agg(sum(col("sc")).as("sc"), sum(col("n")).as("n"))
      .select(lit(g).as("grain"), col("event_type"), col("bucket"),
        col("n").as("n_events"),
        round(money(col("sc")), 2).as("revenue"),
        round(meanOf(col("sc"), col("n")) / lit(100.0), 6).as("avg_value"))
    grain("month").unionByName(grain("week"))
      .orderBy("grain", "event_type", "bucket")
  }, Some("""
    WITH direct AS (
      SELECT 'month' AS grain, event_type,
             CAST(date_trunc('month', ts) AS DATE) AS bucket,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS sc
      FROM events GROUP BY 1, 2, 3
      UNION ALL
      SELECT 'week', event_type,
             CAST(date_trunc('week', ts) AS DATE),
             CAST(count(*) AS BIGINT),
             CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT)
      FROM events GROUP BY 1, 2, 3)
    SELECT grain, event_type, bucket, n_events,
           round(CAST(sc AS DOUBLE) / 100.0, 2) AS revenue,
           round(CAST(sc AS DOUBLE) / CAST(n_events AS DOUBLE) / 100.0, 6) AS avg_value
    FROM direct ORDER BY grain, event_type, bucket
  """))

  /** Kaplan–Meier survival over customer repeat-purchase gaps — the
    * product-limit estimator (Kaplan & Meier 1958) every churn/LTV
    * stack runs: an "event" is the next order arriving after `t` days,
    * a customer's trailing gap (last order → corpus end date) is a
    * right-censored observation. Output per event time t: the at-risk
    * count n(t), events d(t), and the log survival curve
    * S(t) = Σ_{t_i ≤ t} ln(1 − d_i/n_i) in micro-nats — the per-step
    * log is rounded ONCE to an exact long (the q_bm25 convention) and
    * accumulated in integer arithmetic, so both engines walk the same
    * curve bit-for-bit; the rounded-exp display column derives from
    * that exact long identically on both sides.
    *
    * Scale shape: gap extraction windows partition by customer (scales
    * with one customer's history); the risk-set cumulation runs over
    * the DISTINCT-gap histogram, whose domain is bounded by the
    * calendar span in days (a constant ~2.4k, not a data-scaled set) —
    * the quarantined bounded-input window contract (q_decile note).
    * Rows with n(t) = d(t) (a curve hitting exact zero, where ln is
    * undefined) are excluded on both sides by the same predicate. */
  private val qSurvival = BoundQuery("q_survival", (s, d) => {
    val o = Tables.orders(s, d).select(col("o_custkey").as("ck"),
      to_date(col("o_orderdate")).as("dt"), col("o_orderkey").as("ok"))
    val mx = o.agg(max(col("dt")).as("m"))
    val w = Window.partitionBy("ck").orderBy("dt", "ok")
    val durs = o.withColumn("nd", lead(col("dt"), 1).over(w))
      .crossJoin(broadcast(mx))
      .select(
        when(col("nd").isNull, datediff(col("m"), col("dt")))
          .otherwise(datediff(col("nd"), col("dt"))).cast("long").as("dur"),
        when(col("nd").isNull, 0L).otherwise(1L).as("ev"))
    val h = durs.groupBy("dur").agg(
      count(lit(1)).as("m2"), sum(col("ev")).as("dv"))
    val tot = durs.agg(count(lit(1)).as("n"))
    val wd = Window.orderBy("dur") // bounded domain: distinct day-gaps
    h.crossJoin(broadcast(tot))
      .withColumn("n_risk", col("n") - coalesce(
        sum(col("m2")).over(wd.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .where(col("dv") > 0 && col("n_risk") > col("dv"))
      .withColumn("term_mn", round(
        log((col("n_risk") - col("dv")).cast("double")
          / col("n_risk").cast("double")) * 1e6, 0).cast("long"))
      .withColumn("s_mn", sum(col("term_mn"))
        .over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("dur").as("t_days"), col("n_risk"),
        col("dv").as("d_events"), col("s_mn"),
        round(exp(col("s_mn").cast("double") / 1e6), 6).as("survival"))
      .orderBy("t_days")
  }, Some("""
    WITH o AS (
      SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS dt,
             o_orderkey AS ok FROM orders),
    mx AS (SELECT max(dt) AS m FROM o),
    nx AS (
      SELECT ck, dt,
             lead(dt) OVER (PARTITION BY ck ORDER BY dt, ok) AS nd
      FROM o),
    durs AS (
      SELECT CASE WHEN nd IS NULL THEN date_diff('day', dt, (SELECT m FROM mx))
                  ELSE date_diff('day', dt, nd) END AS dur,
             CASE WHEN nd IS NULL THEN 0 ELSE 1 END AS ev
      FROM nx),
    h AS (SELECT dur, CAST(count(*) AS BIGINT) AS m2,
                 CAST(sum(ev) AS BIGINT) AS dv
          FROM durs GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM durs),
    r AS (
      SELECT dur, dv,
             n - COALESCE(CAST(sum(m2) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
               0) AS n_risk
      FROM h, tot),
    k AS (
      SELECT dur, dv, n_risk,
        CAST(round(ln(CAST(n_risk - dv AS DOUBLE) / CAST(n_risk AS DOUBLE))
          * 1e6, 0) AS BIGINT) AS term_mn
      FROM r WHERE dv > 0 AND n_risk > dv),
    c AS (
      SELECT dur, dv, n_risk,
        CAST(sum(term_mn) OVER (ORDER BY dur
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_mn
      FROM k)
    SELECT CAST(dur AS BIGINT) AS t_days, n_risk, dv AS d_events, s_mn,
           round(exp(CAST(s_mn AS DOUBLE) / 1e6), 6) AS survival
    FROM c ORDER BY t_days
  """))

  /** Holt double-exponential smoothing (Holt 1957) of each event
    * type's daily volume: level α=0.3, trend β=0.2, initialized at the
    * first observation, plus the 7-day-ahead linear forecast — the
    * trend-aware upgrade of q_ewma's simple smoothing and the other
    * classical member of the q_seasonal/q_backtest forecasting family.
    * The recurrence is inherently ordered: Spark runs a pinned
    * `aggregate` fold over the sorted daily series; the oracle replays
    * it as a recursive CTE stepping t→t+1 — NOT a list_reduce struct
    * fold, because DuckDB evaluates struct_pack lambda fields
    * sequentially against an in-place-updated accumulator (field b
    * would see the already-updated l), a divergence this query's
    * first draft measured. The CTE's per-step rows are immutable, so
    * every float op matches the Spark fold term-for-term.
    *
    * Scale shape: folds partition by event type and run over DAILY
    * aggregates, so each list is bounded by the calendar span
    * (~2.4k entries max — a constant, not data-scaled); the heavy
    * lifting is the map-side-combined daily count aggregation. */
  private val qHolt = BoundQuery("q_holt", (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).cast("double").as("x"))
    daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("seq"))
      .select(col("event_type"), size(col("seq")).cast("long").as("n_days"),
        aggregate(col("seq"),
          struct(lit(0.0).as("l"), lit(0.0).as("b"), lit(0L).as("i")),
          (acc, e) => {
            val x = e("x")
            val l1 = when(acc("i") === 0L, x)
              .otherwise(lit(0.3) * x + lit(0.7) * (acc("l") + acc("b")))
            val b1 = when(acc("i") === 0L, lit(0.0))
              .otherwise(lit(0.2) * (l1 - acc("l")) + lit(0.8) * acc("b"))
            struct(l1.as("l"), b1.as("b"), (acc("i") + 1L).as("i"))
          }).as("st"))
      .select(col("event_type"), col("n_days"),
        round(col("st.l"), 6).as("level"),
        round(col("st.b"), 6).as("trend"),
        round(col("st.l") + lit(7.0) * col("st.b"), 6).as("forecast_7d"))
      .orderBy("event_type")
  }, Some("""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2),
    ser AS (
      SELECT event_type,
        CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
          AS BIGINT) AS t, x
      FROM daily),
    nn AS (SELECT event_type AS et, CAST(count(*) AS BIGINT) AS n_days
           FROM ser GROUP BY 1),
    rec AS (
      SELECT event_type, t, x AS l, CAST(0.0 AS DOUBLE) AS b
      FROM ser WHERE t = 1
      UNION ALL
      SELECT r.event_type, s.t,
        0.3*s.x + 0.7*(r.l + r.b) AS l,
        0.2*((0.3*s.x + 0.7*(r.l + r.b)) - r.l) + 0.8*r.b AS b
      FROM rec r JOIN ser s
        ON s.event_type = r.event_type AND s.t = r.t + 1)
    SELECT event_type, n_days,
      round(l, 6) AS level, round(b, 6) AS trend,
      round(l + 7.0*b, 6) AS forecast_7d
    FROM rec JOIN nn ON rec.event_type = nn.et AND rec.t = nn.n_days
    ORDER BY event_type
  """))

  /** Autocorrelation function of daily revenue at lags 1..14 — the
    * seasonality detector behind every "is there a weekly cycle"
    * question (and the diagnostic feeding q_holt's trend/level split).
    * Exactness by the n-scaled centering identity: with S = Σx the
    * residual y_t = n·x_t − S equals n·(x_t − x̄) with NO division, so
    * numerator Σ y_t·y_{t+k} and denominator Σ y_t² carry a common n²
    * that cancels in the ratio — every term is exact integer
    * arithmetic (decimal(38,0) products; daily cents ×n fits 19
    * digits to ~1e6× this corpus). The single end division goes
    * denominator-first (num div (den div 1e6)) so the scaled operand
    * never needs more than den's own 38 digits; both engines truncate
    * toward zero (den > 0, measured: DuckDB HUGEINT `//` truncates).
    *
    * Scale shape: the calendar-day aggregation reduces any order
    * volume to ≤ days rows (one partial-agg shuffle); everything
    * after — the 14-lag equi-join on day+lag, the two scalar sums —
    * is work bounded by the calendar, not the data. Absent days
    * contribute no pair (calendar-day lag, documented contract). */
  private val qAcf = BoundQuery("q_acf", (s, d) => {
    val ser = graft.util.CacheScope.persist(
      Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("x")))
    val st = ser.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val y = graft.util.CacheScope.persist(
      ser.crossJoin(broadcast(st))
        .select(col("day"),
          (col("n").cast("decimal(19,0)") * col("x").cast("decimal(19,0)") -
            col("sx").cast("decimal(38,0)")).as("y")))
    val den = y.agg(
      floor(sum(col("y") * col("y")) / lit(1000000L)).as("den_m"))
    val lags = s.range(1, 15).select(col("id").as("lag"))
    y.crossJoin(broadcast(lags))
      .join(y.select(col("day").as("bday"), col("y").as("yb")),
        col("bday") === date_add(col("day"), col("lag").cast("int")))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"), sum(col("y") * col("yb")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"),
        expr("num div den_m").as("acf_ppm"))
      .orderBy("lag")
  }, Some("""
    WITH ser AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS HUGEINT) AS x
      FROM orders GROUP BY 1),
    st AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(x) AS sx FROM ser),
    y AS (SELECT day, n*x - sx AS y FROM ser, st),
    den AS (SELECT sum(y*y) // 1000000 AS den_m FROM y)
    SELECT CAST(l.lag AS BIGINT) AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(a.y*b.y) // den_m AS BIGINT) AS acf_ppm
    FROM y a
    CROSS JOIN (SELECT unnest(range(1,15)) AS lag) l
    JOIN y b ON b.day = a.day + CAST(l.lag AS INTEGER)
    CROSS JOIN den
    GROUP BY l.lag, den_m ORDER BY lag
  """))

  /** Mann–Kendall trend test per event type — the non-parametric
    * "is this metric drifting" monitor (Mann 1945, Kendall 1975): no
    * distribution assumed, pure sign arithmetic, so the whole test is
    * exact integers end-to-end. S = Σ_{i<j} sign(x_j − x_i) over the
    * per-type daily series; the tie-corrected variance
    * 18·Var(S) = n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5) stays a long;
    * the continuity-corrected z² is reported in exact ppm as
    * ((|S|−1)⁺)²·18e6 div var18 (z itself needs a sqrt — z² carries
    * the same decision information and stays engine-exact).
    *
    * Scale shape: day-level aggregation first (any event volume →
    * ≤ days rows per type), then the i<j pair join is blocked per
    * type and bounded by calendar² — a constant ~3M pairs per type
    * forever, never data². */
  private val qMannKendall = BoundQuery("q_mann_kendall", (s, d) => {
    val ser = graft.util.CacheScope.persist(
      Tables.events(s, d)
        .groupBy(col("event_type"), expr("CAST(ts_ns div 86400000000000 AS LONG)").as("day"))
        .agg(sum(cents(col("value"))).as("x")))
    val sN = ser.groupBy("event_type").agg(count(lit(1)).as("n_days"))
    val ties = ser.groupBy(col("event_type"), col("x"))
      .agg(count(lit(1)).as("t"))
      .groupBy("event_type")
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tie18"))
    val sStat = ser.as("a")
      .join(ser.select(col("event_type"), col("day").as("bday"),
        col("x").as("xb")), Seq("event_type"))
      .where(col("bday") > col("day"))
      .groupBy("event_type")
      .agg(sum(when(col("xb") > col("x"), 1L)
        .when(col("xb") < col("x"), -1L).otherwise(0L)).as("s_stat"))
    sN.join(ties, Seq("event_type")).join(sStat, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("s_stat"),
        (col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5) -
          col("tie18")).as("var18"))
      .withColumn("s_adj", greatest(abs(col("s_stat")) - 1, lit(0L)))
      .select(col("event_type"), col("n_days"), col("s_stat"), col("var18"),
        // var18 = 0 iff the series is a single day or every day ties
        // (then S = 0 too) — define z² := 0 there, don't divide
        expr("""CASE WHEN var18 > 0
                THEN (CAST(s_adj AS DECIMAL(19,0)) * s_adj * 18000000) div var18
                ELSE 0L END""").as("z2_ppm"),
        when(col("s_stat") > 0, "inc").when(col("s_stat") < 0, "dec")
          .otherwise("none").as("trend"))
      .orderBy("event_type")
  }, Some("""
    WITH ser AS (
      SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             sum(CAST(round(value*100,0) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2),
    nn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM ser GROUP BY 1),
    ties AS (
      SELECT event_type, sum(t*(t-1)*(2*t+5)) AS tie18 FROM (
        SELECT event_type, x, CAST(count(*) AS BIGINT) AS t
        FROM ser GROUP BY 1, 2)
      GROUP BY 1),
    ss AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      FROM ser a JOIN ser b
        ON a.event_type = b.event_type AND b.day > a.day
      GROUP BY 1),
    v AS (
      SELECT nn.event_type, n_days, s_stat,
             n_days*(n_days-1)*(2*n_days+5) - tie18 AS var18,
             greatest(abs(s_stat) - 1, 0) AS s_adj
      FROM nn JOIN ties USING (event_type) JOIN ss USING (event_type))
    SELECT event_type, n_days, s_stat, CAST(var18 AS BIGINT) AS var18,
           CASE WHEN var18 > 0
             THEN CAST((CAST(s_adj AS HUGEINT) * s_adj * 18000000) // var18 AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS z2_ppm,
           CASE WHEN s_stat > 0 THEN 'inc' WHEN s_stat < 0 THEN 'dec'
                ELSE 'none' END AS trend
    FROM v ORDER BY event_type
  """))

  /** Log-rank test between two customer cohorts' repurchase-time
    * curves — the hypothesis-test companion of q_survival's
    * Kaplan-Meier estimate: do BUILDING and AUTOMOBILE customers
    * return at the same rate? Same duration model as q_survival
    * (inter-order gap = time-to-repurchase, last gap censored at the
    * horizon), cohort = the customer's market segment.
    *
    * At each event time t: observed d1t vs expected dt·n1t/nt under
    * the null, variance dt·n1t·n2t·(nt−dt)/(nt²·(nt−1))
    * (hypergeometric). Each time point's expectation and variance is
    * ONE ppm-rounding integral division (decimal(38,0) products — the
    * risk-set cross terms pass int64 at 10× sf1); the z² statistic is
    * then a single division of exact sums, signed by the direction
    * (positive = cohort 1 saw MORE events than expected). |z|≥1.96 ⇔
    * |z2s_ppm| ≥ 3.84e6.
    *
    * Scale shape: customer-keyed join for the segment label, per-key
    * lead window for durations, then ALL remaining work on the
    * duration histogram — two conditional aggs and windows whose
    * width is the distinct day-gap domain (calendar-bounded, the
    * q_survival contract). */
  private val qLogrank = BoundQuery("q_logrank", (s, d) => {
    val seg = Tables.customer(s, d)
      .where(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
      .select(col("c_custkey").as("ck"),
        when(col("c_mktsegment") === "BUILDING", 1L).otherwise(2L).as("g"))
    val o = Tables.orders(s, d).select(col("o_custkey").as("ck"),
        to_date(col("o_orderdate")).as("dt"), col("o_orderkey").as("ok"))
      .join(seg, "ck")
    val mx = o.agg(max(col("dt")).as("m"))
    val w = Window.partitionBy("ck").orderBy("dt", "ok")
    val durs = o.withColumn("nd", lead(col("dt"), 1).over(w))
      .crossJoin(broadcast(mx))
      .select(col("g"),
        when(col("nd").isNull, datediff(col("m"), col("dt")))
          .otherwise(datediff(col("nd"), col("dt"))).cast("long").as("dur"),
        when(col("nd").isNull, 0L).otherwise(1L).as("ev"))
    val h = durs.groupBy("dur").agg(
      sum(when(col("g") === 1, 1L).otherwise(0L)).as("m1"),
      sum(when(col("g") === 1, col("ev")).otherwise(0L)).as("d1"),
      sum(when(col("g") === 2, 1L).otherwise(0L)).as("m2"),
      sum(when(col("g") === 2, col("ev")).otherwise(0L)).as("d2"))
    val tot = durs.agg(
      sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("g") === 2, 1L).otherwise(0L)).as("n2"))
    val wd = Window.orderBy("dur") // bounded domain: distinct day-gaps
      .rowsBetween(Window.unboundedPreceding, -1)
    val dec = "decimal(38,0)"
    h.crossJoin(broadcast(tot))
      .withColumn("n1t", (col("n1") - coalesce(sum(col("m1")).over(wd), lit(0L))).cast(dec))
      .withColumn("n2t", (col("n2") - coalesce(sum(col("m2")).over(wd), lit(0L))).cast(dec))
      .where(col("d1") + col("d2") > 0 && col("n1t") + col("n2t") > 1)
      .withColumn("nt", col("n1t") + col("n2t"))
      .withColumn("dt", (col("d1") + col("d2")).cast(dec))
      .withColumn("e1_ppm", expr("(1000000 * dt * n1t) div nt"))
      .withColumn("v_ppm",
        expr("(1000000 * dt * n1t * n2t * (nt - dt)) div (nt * nt * (nt - 1))"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        sum(col("d1")).as("events1"), sum(col("d2")).as("events2"),
        sum(lit(1000000L) * col("d1") - col("e1_ppm")).as("num_ppm"),
        sum(col("v_ppm")).as("var_ppm"))
      .select(col("n1"), col("n2"), col("events1"), col("events2"),
        col("num_ppm").cast("long").as("omine_ppm"),
        col("var_ppm").cast("long").as("var_ppm"),
        expr("""CASE WHEN var_ppm > 0 THEN
                  (CASE WHEN num_ppm < 0 THEN -1 ELSE 1 END) *
                  CAST((num_ppm * num_ppm) div var_ppm AS BIGINT)
                END""").as("z2s_ppm"))
  }, Some("""
    WITH seg AS (
      SELECT c_custkey AS ck,
        CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 2 END AS g
      FROM customer WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')),
    o AS (
      SELECT seg.g, o_custkey AS ck, CAST(o_orderdate AS DATE) AS dt,
             o_orderkey AS ok
      FROM orders JOIN seg ON o_custkey = seg.ck),
    mx AS (SELECT max(dt) AS m FROM o),
    nx AS (SELECT g, ck, dt,
             lead(dt) OVER (PARTITION BY ck ORDER BY dt, ok) AS nd
           FROM o),
    durs AS (
      SELECT g,
        CASE WHEN nd IS NULL THEN date_diff('day', dt, (SELECT m FROM mx))
             ELSE date_diff('day', dt, nd) END AS dur,
        CASE WHEN nd IS NULL THEN 0 ELSE 1 END AS ev
      FROM nx),
    h AS (
      SELECT dur,
        CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1,
        CAST(sum(CASE WHEN g = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1,
        CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS m2,
        CAST(sum(CASE WHEN g = 2 THEN ev ELSE 0 END) AS BIGINT) AS d2
      FROM durs GROUP BY 1),
    tot AS (
      SELECT CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      FROM durs),
    r AS (
      SELECT m1, d1, m2, d2, n1, n2,
        CAST(n1 - coalesce(sum(m1) OVER (ORDER BY dur
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS HUGEINT) AS n1t,
        CAST(n2 - coalesce(sum(m2) OVER (ORDER BY dur
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS HUGEINT) AS n2t
      FROM h CROSS JOIN tot),
    terms AS (
      SELECT n1, n2, d1, d2,
        (1000000 * CAST(d1 + d2 AS HUGEINT) * n1t) // (n1t + n2t) AS e1_ppm,
        (1000000 * CAST(d1 + d2 AS HUGEINT) * n1t * n2t * (n1t + n2t - d1 - d2))
          // ((n1t + n2t) * (n1t + n2t) * (n1t + n2t - 1)) AS v_ppm
      FROM r
      WHERE d1 + d2 > 0 AND n1t + n2t > 1),
    a AS (
      SELECT max(n1) AS n1, max(n2) AS n2,
        CAST(sum(d1) AS BIGINT) AS events1, CAST(sum(d2) AS BIGINT) AS events2,
        sum(1000000 * CAST(d1 AS HUGEINT) - e1_ppm) AS num_ppm,
        sum(v_ppm) AS var_ppm
      FROM terms)
    SELECT n1, n2, events1, events2,
      CAST(num_ppm AS BIGINT) AS omine_ppm,
      CAST(var_ppm AS BIGINT) AS var_ppm,
      CASE WHEN var_ppm > 0 THEN
        CAST((CASE WHEN num_ppm < 0 THEN -1 ELSE 1 END)
             * ((num_ppm * num_ppm) // var_ppm) AS BIGINT)
      END AS z2s_ppm
    FROM a
  """))

  /** Additive Holt–Winters (triple exponential smoothing, period 7)
    * of per-type daily event counts — q_holt plus the seasonal state
    * the weekly cycle q_seasonal/q_acf detect. α=.3, β=.2, γ=.2.
    * Deterministic init (the textbook one): the first period's mean
    * seeds the level, its deviations seed the seasonal slots, trend
    * seeds 0. From obs 8 on, the standard recurrences update level /
    * trend / the active slot (obs t touches slot (t−1) mod 7 + 1).
    *
    * Both engines replay the IDENTICAL pinned float fold (the q_holt
    * convention): Spark as a sorted-array `aggregate` over a 10-field
    * struct, DuckDB as a recursive CTE carrying the same 10 columns,
    * update expressions textually mirrored (the repeated l′
    * subexpression is inlined everywhere on the SQL side — same value,
    * same IEEE ops). Forecast h steps out reads slot
    * (n+h−1) mod 7 + 1 via the same CASE in both engines.
    *
    * Scale shape: the fold runs per type over the calendar-bounded
    * day domain AFTER the map-side-combined (type, day) preagg — the
    * documented bounded-fold contract (sequential recurrences do not
    * distribute; what scales is the grain collapse before them). */
  private val qHoltWinters = BoundQuery("q_holt_winters", (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).cast("double").as("x"))
    val slots = (1 to 7).map(j => s"s$j")
    def st(l: Column, b: Column, ss: Seq[Column], i: Column) =
      struct((Seq(l.as("l"), b.as("b")) ++
        ss.zip(slots).map { case (c, n) => c.as(n) } :+ i.as("i")): _*)
    val fold = aggregate(col("seq"),
      st(lit(0.0), lit(0.0), Seq.fill(7)(lit(0.0)), lit(0L)),
      (acc, e) => {
        val x = e("x"); val i = acc("i")
        val accS = slots.map(acc(_))
        // t = i+1 (1-based). t<7: accumulate sum in l, stash raw x in
        // slot t. t=7: level = period mean, slots -> deviations. t>=8:
        // the HW recurrences on slot (i mod 7)+1.
        val sumMode = st(acc("l") + x, lit(0.0),
          slots.indices.map(j => when(i === j.toLong, x).otherwise(accS(j))),
          i + 1L)
        val lInit = (acc("l") + x) / lit(7.0)
        val initMode = st(lInit, lit(0.0),
          slots.indices.map(j =>
            (if (j == 6) x else accS(j)) - lInit), i + 1L)
        val j1 = pmod(i, lit(7L)) // 0-based active slot
        val sOld = slots.indices.map(j =>
          when(j1 === j.toLong, accS(j))).reduceRight(_ otherwise _)
        val l1 = lit(0.3) * (x - sOld) + lit(0.7) * (acc("l") + acc("b"))
        val b1 = lit(0.2) * (l1 - acc("l")) + lit(0.8) * acc("b")
        val hwMode = st(l1, b1,
          slots.indices.map(j => when(j1 === j.toLong,
            lit(0.2) * (x - l1) + lit(0.8) * accS(j)).otherwise(accS(j))),
          i + 1L)
        when(i < 6L, sumMode).when(i === 6L, initMode).otherwise(hwMode)
      })
    def slotAt(stc: Column, off: Int) = {
      // slot index for h=off steps ahead: (n + off - 1) mod 7 (0-based)
      val j = pmod(stc("i") + lit(off.toLong - 1L), lit(7L))
      slots.indices.map(jj =>
        when(j === jj.toLong, stc(slots(jj)))).reduceRight(_ otherwise _)
    }
    daily.groupBy("event_type")
      .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("seq"))
      .select(col("event_type"), size(col("seq")).cast("long").as("n_days"),
        fold.as("st"))
      .select(col("event_type"), col("n_days"),
        round(col("st.l"), 6).as("level"),
        round(col("st.b"), 6).as("trend"),
        round(col("st.l") + col("st.b") + slotAt(col("st"), 1), 6)
          .as("forecast_1d"),
        round(col("st.l") + lit(7.0) * col("st.b") + slotAt(col("st"), 7), 6)
          .as("forecast_7d"))
      .orderBy("event_type")
  }, Some {
    val slotCols = (1 to 7).map(j => s"s$j")
    // raw-x stash while t<7 (slot t gets x, others carry)
    val sumSlots = slotCols.zipWithIndex.map { case (c, j) =>
      s"CASE WHEN s.t = ${j + 1} THEN s.x ELSE r.$c END AS $c" }
    // t=7 init: deviations from the period mean (s7 uses the incoming x)
    val lInit = "((r.l + s.x) / 7.0)"
    val initSlots = slotCols.zipWithIndex.map { case (c, j) =>
      s"${if (j == 6) "s.x" else s"r.$c"} - $lInit AS $c" }
    val sOld = "(CASE (s.t - 1) % 7 " + slotCols.zipWithIndex.map {
      case (c, j) => s"WHEN $j THEN r.$c" }.mkString(" ") + " END)"
    val l1 = s"(0.3*(s.x - $sOld) + 0.7*(r.l + r.b))"
    val hwSlots = slotCols.zipWithIndex.map { case (c, j) =>
      s"CASE WHEN (s.t - 1) % 7 = $j THEN 0.2*(s.x - $l1) + 0.8*r.$c ELSE r.$c END AS $c" }
    def branch3(field: String, sum: String, init: String, hw: String) =
      s"CASE WHEN s.t < 7 THEN $sum WHEN s.t = 7 THEN $init ELSE $hw END AS $field"
    val stepCols = Seq(
      branch3("l", "r.l + s.x", lInit, l1),
      branch3("b", "0.0", "0.0", s"(0.2*($l1 - r.l) + 0.8*r.b)")) ++
      slotCols.zipWithIndex.map { case (c, j) =>
        branch3(c, sumSlots(j).stripSuffix(s" AS $c"),
          initSlots(j).stripSuffix(s" AS $c"),
          hwSlots(j).stripSuffix(s" AS $c")) }
    def slotAt(off: Int) = "(CASE (n_days + " + (off - 1) +
      ") % 7 " + slotCols.zipWithIndex.map { case (c, j) =>
        s"WHEN $j THEN $c" }.mkString(" ") + " END)"
    s"""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2),
    ser AS (
      SELECT event_type,
        CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
          AS BIGINT) AS t, x
      FROM daily),
    nn AS (SELECT event_type AS et, CAST(count(*) AS BIGINT) AS n_days
           FROM ser GROUP BY 1),
    rec AS (
      SELECT event_type, t, x AS l, CAST(0.0 AS DOUBLE) AS b,
        x AS s1, ${slotCols.drop(1).map(c =>
          s"CAST(0.0 AS DOUBLE) AS $c").mkString(", ")}
      FROM ser WHERE t = 1
      UNION ALL
      SELECT r.event_type, s.t, ${stepCols.mkString(",\n        ")}
      FROM rec r JOIN ser s
        ON s.event_type = r.event_type AND s.t = r.t + 1)
    SELECT event_type, n_days,
      round(l, 6) AS level, round(b, 6) AS trend,
      round(l + b + ${slotAt(1)}, 6) AS forecast_1d,
      round(l + 7.0*b + ${slotAt(7)}, 6) AS forecast_7d
    FROM rec JOIN nn ON rec.event_type = nn.et AND rec.t = nn.n_days
    ORDER BY event_type
  """})

  /** Day-of-week forecast bands: the exact nearest-rank P10/P50/P90
    * of daily revenue per (type, weekday) — the empirical envelope an
    * on-call dashboard draws around tomorrow's expected value, and
    * the quantile companion of q_seasonal's dow mean index. Ranks are
    * pure integers (ceil(q·n) = (q·n + den−1) div den), selection is
    * a row_number over the ≤53-row (type, dow) partitions with a
    * (y, day) tie-break — no interpolation, no float, engine-exact. */
  private val qDowBands = BoundQuery("q_dow_bands", (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(sumCents(col("value")).as("y"))
      .withColumn("dow", dayofweek(col("day")).cast("long"))
    val w = Window.partitionBy("event_type", "dow").orderBy("y", "day")
    daily
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy("event_type", "dow")))
      .groupBy("event_type", "dow")
      .agg(max(col("n")).as("n_obs"),
        max(when(col("rn") === expr("(n + 9) div 10"), col("y"))).as("p10_c"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("y"))).as("p50_c"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("y")))
          .as("p90_c"))
      .orderBy("event_type", "dow")
  }, Some("""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
        CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS y,
        CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow
      FROM events GROUP BY 1, 2, 4),
    r AS (
      SELECT event_type, dow, y,
        CAST(row_number() OVER (PARTITION BY event_type, dow
          ORDER BY y, day) AS BIGINT) AS rn,
        CAST(count(*) OVER (PARTITION BY event_type, dow) AS BIGINT) AS n
      FROM daily)
    SELECT event_type, dow, max(n) AS n_obs,
      max(CASE WHEN rn = (n + 9) // 10 THEN y END) AS p10_c,
      max(CASE WHEN rn = (n + 1) // 2 THEN y END) AS p50_c,
      max(CASE WHEN rn = (9 * n + 9) // 10 THEN y END) AS p90_c
    FROM r GROUP BY 1, 2 ORDER BY event_type, dow
  """))

  /** Pinball (quantile) loss backtest of the day-of-week band
    * forecaster: bands fit on the first three weeks (nearest-rank
    * P10/P50/P90 per (type, dow), the q_dow_bands recipe), scored on
    * the final week with the quantile loss
    * L_q(y,f) = q·(y−f)⁺ + (1−q)·(f−y)⁺ — the proper scoring rule
    * for quantile forecasts (P10 must UNDER-predict to win; MAE can't
    * see that). Everything is exact cents; the per-(type,q) loss is a
    * ratio of exact sums, emitted as avg cents by one integral
    * division. The q-weights are /10 rationals folded into the sum
    * (10·L stays integer). */
  private val qPinball = BoundQuery("q_pinball", (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(sumCents(col("value")).as("y"))
      .withColumn("dow", dayofweek(col("day")).cast("long"))
    val cut = daily.agg(date_add(min(col("day")), 21).as("c"))
    val marked = daily.crossJoin(broadcast(cut))
      .withColumn("is_train", col("day") < col("c"))
    val w = Window.partitionBy("event_type", "dow").orderBy("y", "day")
    val bands = marked.where(col("is_train"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy("event_type", "dow")))
      .groupBy(col("event_type").as("et"), col("dow").as("dw"))
      .agg(max(when(col("rn") === expr("(n + 9) div 10"), col("y"))).as("f10"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("y"))).as("f50"),
        max(when(col("rn") === expr("(9 * n + 9) div 10"), col("y")))
          .as("f90"))
    marked.where(!col("is_train"))
      .join(broadcast(bands),
        col("event_type") === col("et") && col("dow") === col("dw"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_scored"),
        sum(expr("greatest(y - f10, 0) * 1 + greatest(f10 - y, 0) * 9"))
          .as("l10x10"),
        sum(expr("greatest(y - f50, 0) * 5 + greatest(f50 - y, 0) * 5"))
          .as("l50x10"),
        sum(expr("greatest(y - f90, 0) * 9 + greatest(f90 - y, 0) * 1"))
          .as("l90x10"))
      .select(col("event_type"), col("n_scored"),
        expr("l10x10 div (10 * n_scored)").as("pinball10_c"),
        expr("l50x10 div (10 * n_scored)").as("pinball50_c"),
        expr("l90x10 div (10 * n_scored)").as("pinball90_c"))
      .orderBy("event_type")
  }, Some("""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
        CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS y,
        CAST(dayofweek(CAST(ts AS DATE)) + 1 AS BIGINT) AS dow
      FROM events GROUP BY 1, 2, 4),
    cut AS (SELECT min(day) + 21 AS c FROM daily),
    marked AS (
      SELECT daily.*, day < c AS is_train FROM daily CROSS JOIN cut),
    rtrain AS (
      SELECT event_type, dow, y,
        CAST(row_number() OVER (PARTITION BY event_type, dow
          ORDER BY y, day) AS BIGINT) AS rn,
        CAST(count(*) OVER (PARTITION BY event_type, dow) AS BIGINT) AS n
      FROM marked WHERE is_train),
    bands AS (
      SELECT event_type AS et, dow AS dw,
        max(CASE WHEN rn = (n + 9) // 10 THEN y END) AS f10,
        max(CASE WHEN rn = (n + 1) // 2 THEN y END) AS f50,
        max(CASE WHEN rn = (9 * n + 9) // 10 THEN y END) AS f90
      FROM rtrain GROUP BY 1, 2)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_scored,
      CAST(sum(greatest(y - f10, 0) * 1 + greatest(f10 - y, 0) * 9) AS BIGINT)
        // (10 * count(*)) AS pinball10_c,
      CAST(sum(greatest(y - f50, 0) * 5 + greatest(f50 - y, 0) * 5) AS BIGINT)
        // (10 * count(*)) AS pinball50_c,
      CAST(sum(greatest(y - f90, 0) * 9 + greatest(f90 - y, 0) * 1) AS BIGINT)
        // (10 * count(*)) AS pinball90_c
    FROM marked JOIN bands ON event_type = et AND dow = dw
    WHERE NOT is_train
    GROUP BY event_type ORDER BY event_type
  """))

  /** Seasonal Mann–Kendall trend test on the daily order-revenue
    * series (Hirsch & Slack 1984): the q_mann_kendall S statistic
    * computed WITHIN each day-of-week stratum and summed, so a strong
    * weekly cycle can't masquerade as (or mask) a monotone trend.
    * S, the tie-corrected 18·Var, and z² in ppm are all exact
    * integers (the q_mann_kendall discipline); pairs join only within
    * (dow) strata — 1/7th the comparisons of the unstratified test. */
  private val qSeasonalMk = BoundQuery("q_seasonal_mk", (s, d) => {
    val ser = graft.util.CacheScope.persist(
      Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(cents(col("o_totalprice"))).as("x"))
        .withColumn("dow", dayofweek(col("day")).cast("long"))
        .withColumn("ud", expr("CAST(unix_date(day) AS LONG)")))
    val perStratum = ser.groupBy("dow").agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) * (2*n + 5)")).as("var_base"),
        sum(col("n")).as("n_days"))
    val ties = ser.groupBy(col("dow"), col("x")).agg(count(lit(1)).as("t"))
      .agg(sum(expr("t * (t - 1) * (2*t + 5)")).as("tie18"))
    val sStat = ser.as("a")
      .join(ser.select(col("dow"), col("ud").as("bud"), col("x").as("xb")),
        Seq("dow"))
      .where(col("bud") > col("ud"))
      .agg(sum(when(col("xb") > col("x"), 1L)
        .when(col("xb") < col("x"), -1L).otherwise(0L)).as("s_stat"))
    perStratum.crossJoin(broadcast(ties)).crossJoin(broadcast(sStat))
      .select(col("n_days"), col("s_stat"),
        (col("var_base") - coalesce(col("tie18"), lit(0L))).as("var18"))
      .withColumn("s_adj", greatest(abs(col("s_stat")) - 1, lit(0L)))
      .select(col("n_days"), col("s_stat"), col("var18"),
        expr("""CASE WHEN var18 > 0
                THEN (CAST(s_adj AS DECIMAL(19,0)) * s_adj * 18000000) div var18
                ELSE 0L END""").as("z2_ppm"),
        when(col("s_stat") > 0, "inc").when(col("s_stat") < 0, "dec")
          .otherwise("none").as("trend"))
  }, Some("""
    WITH ser AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
        CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS x,
        CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS BIGINT) AS dow,
        CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS ud
      FROM orders GROUP BY 1, 3, 4),
    vb AS (
      SELECT CAST(sum(n * (n - 1) * (2*n + 5)) AS BIGINT) AS var_base,
        CAST(sum(n) AS BIGINT) AS n_days
      FROM (SELECT dow, CAST(count(*) AS BIGINT) AS n FROM ser GROUP BY 1)),
    ties AS (
      SELECT CAST(sum(t * (t - 1) * (2*t + 5)) AS BIGINT) AS tie18
      FROM (SELECT dow, x, CAST(count(*) AS BIGINT) AS t
            FROM ser GROUP BY 1, 2)),
    ss AS (
      SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
        AS s_stat
      FROM ser a JOIN ser b ON a.dow = b.dow AND b.ud > a.ud),
    fin AS (
      SELECT n_days, s_stat,
        var_base - COALESCE(tie18, 0) AS var18,
        greatest(abs(s_stat) - 1, 0) AS s_adj
      FROM vb, ties, ss)
    SELECT n_days, s_stat, var18,
      CAST(CASE WHEN var18 > 0
        THEN (CAST(s_adj AS HUGEINT) * s_adj * 18000000) // var18
        ELSE 0 END AS BIGINT) AS z2_ppm,
      CASE WHEN s_stat > 0 THEN 'inc' WHEN s_stat < 0 THEN 'dec'
        ELSE 'none' END AS trend
    FROM fin
  """))

  val all: Seq[BoundQuery] =
    Seq(qScd2, qSeasonal, qBacktest, qTransitionMatrix, qGrainRollup,
      qSurvival, qHolt, qAcf, qMannKendall, qLogrank, qHoltWinters,
      qDowBands, qPinball, qMarkovStationary, qSeasonalMk)
}
