package graft.contract

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table: as-of, range and
  * session joins, windows, funnels and semi-structured props. */
object EvContracts extends Family {

  // the composed and the native as-of join must be row-identical: one oracle
  private val asofSql =
    """SELECT p.event_id, v.event_id AS view_event_id
         FROM (SELECT * FROM events WHERE event_type='purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='view') v
           ON p.user_id = v.user_id AND p.ts >= v.ts"""

  // the tolerance paths of both as-of joins, µs-exact: one oracle
  private val asofTolSql =
    """SELECT p.event_id,
           CASE WHEN v.ts IS NOT NULL AND epoch_us(p.ts) - epoch_us(v.ts) <= 203000000
                THEN v.event_id END AS view_event_id
         FROM (SELECT * FROM events WHERE event_type='purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='view') v
           ON p.user_id = v.user_id AND p.ts >= v.ts"""

  // VariantType access is a faster PATH to the same values as
  // get_json_object — identical output, one oracle
  private val propsSql =
    """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) // 10 AS k_decile,
              COUNT(*) AS n_events,
              CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
         FROM events
         GROUP BY k_decile"""

  val contracts: Seq[Contract] = Seq(

    Contract("ev_hourly", { implicit in =>
      t("events")
        .groupBy(col("event_type"), unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100)).cast("bigint").as("value_cents"))
    }, """SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           COUNT(*) AS n_events,
           CAST(SUM(ROUND(value*100)) AS BIGINT) AS value_cents
         FROM events GROUP BY event_type, date_trunc('hour', ts)"""),

    Contract("ev_asof_join", { implicit in =>
      // each purchase aligned to the user's most recent preceding view
      val ev = t("events")
      val purchases = ev.filter(col("event_type") === "purchase")
      val views = ev.filter(col("event_type") === "view")
      graft.operators.AsofJoin.backward(purchases, views, "user_id", "ts", "ts", Seq("event_id"))
        .select(col("event_id"), col("asof_event_id").as("view_event_id"))
    }, asofSql),

    Contract("ev_asof_join_native", { implicit in =>
      // same query through the native sort-merge AsofJoinExec (custom
      // LogicalPlan + Strategy + SparkPlan, graft/plans/AsofJoinPlan.scala):
      // per-side sorts + a streaming one-candidate merge instead of the
      // composed union+window. Shares ev_asof_join's oracle — the two paths
      // must be row-identical.
      val ev = t("events")
      val purchases = ev.filter(col("event_type") === "purchase")
      val views = ev.filter(col("event_type") === "view")
      graft.plans.AsofJoinNative.backward(purchases, views, "user_id", "ts", "ts", Seq("event_id"))
        .select(col("event_id"), col("asof_event_id").as("view_event_id"))
    }, asofSql),

    Contract("ev_asof_join_tol", { implicit in =>
      // tolerance-bounded variant, microsecond-exact (oracled against DuckDB
      // ASOF + epoch_us predicate). 203 s is chosen so the sf0.01 corpus
      // contains a match 0.45 s PAST the cutoff — second-truncated tolerance
      // arithmetic would wrongly keep it, so the oracle locks the us path.
      val ev = t("events")
      val purchases = ev.filter(col("event_type") === "purchase")
      val views = ev.filter(col("event_type") === "view")
      graft.operators.AsofJoin.backward(purchases, views, "user_id", "ts", "ts",
          Seq("event_id"), toleranceSec = Some(203))
        .select(col("event_id"), col("asof_event_id").as("view_event_id"))
    }, asofTolSql),

    Contract("ev_asof_join_native_tol", { implicit in =>
      // the native operator's tolerance path (merge-side µs cutoff,
      // AsofJoinExec) against the same DuckDB epoch_us oracle as
      // ev_asof_join_tol — including its 0.45-s-past-cutoff trap row
      val ev = t("events")
      val purchases = ev.filter(col("event_type") === "purchase")
      val views = ev.filter(col("event_type") === "view")
      graft.plans.AsofJoinNative.backward(purchases, views, "user_id", "ts", "ts",
          Seq("event_id"), toleranceSec = Some(203))
        .select(col("event_id"), col("asof_event_id").as("view_event_id"))
    }, asofTolSql),

    Contract("ev_asof_join_fwd", { implicit in =>
      // forward (next-event) direction: for each purchase, the EARLIEST view
      // at-or-after it — ts sorts DESCENDING into the same streaming merge
      // (plans/AsofJoinPlan.scala); oracled against DuckDB's native forward
      // ASOF (ON p.ts <= v.ts). The corpus has no (user_id, ts) ties among
      // views at any sf, so the pick is deterministic.
      val ev = t("events")
      val purchases = ev.filter(col("event_type") === "purchase")
      val views = ev.filter(col("event_type") === "view")
      graft.plans.AsofJoinNative.forward(purchases, views, "user_id", "ts", "ts", Seq("event_id"))
        .select(col("event_id"), col("asof_event_id").as("view_event_id"))
    }, """SELECT p.event_id, v.event_id AS view_event_id
         FROM (SELECT * FROM events WHERE event_type='purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='view') v
           ON p.user_id = v.user_id AND p.ts <= v.ts"""),

    Contract("ev_value_1h_running", { implicit in =>
      // RANGE-frame window: per user, the running 1-hour sum of event value
      // — a time-range frame over µs epochs (rowsBetween cannot express
      // this; the frame is value-based). Cents-exact like every money agg.
      val w = Window.partitionBy("user_id")
        .orderBy(unix_micros(col("ts").cast("timestamp")))
        .rangeBetween(-3600L * 1000000L, 0L)
      t("events")
        .withColumn("cents", round(col("value") * 100).cast("bigint"))
        .select(col("event_id"),
          sum("cents").over(w).as("value_1h_cents"))
    }, """SELECT event_id,
              CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) OVER (
                PARTITION BY user_id ORDER BY epoch_us(ts)
                RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT) AS value_1h_cents
         FROM events"""),

    Contract("ev_funnel", { implicit in =>
      // ordered-stage funnel (signup → view → purchase by FIRST occurrence
      // per user): one conditional-min aggregation per user + a global
      // rollup — one shuffle, no self-joins; NULL stage times fall out of
      // the strict < comparisons identically on both engines
      t("events").groupBy("user_id").agg(
          min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("t_signup").isNotNull, 1L).otherwise(0L)).as("n_signup"),
          sum(when(col("t_signup") < col("t_view"), 1L).otherwise(0L)).as("n_signup_then_view"),
          sum(when(col("t_signup") < col("t_view") && col("t_view") < col("t_purchase"), 1L)
            .otherwise(0L)).as("n_full_funnel"))
    }, """WITH u AS (SELECT user_id,
                           MIN(CASE WHEN event_type='signup' THEN ts END) AS t_signup,
                           MIN(CASE WHEN event_type='view' THEN ts END) AS t_view,
                           MIN(CASE WHEN event_type='purchase' THEN ts END) AS t_purchase
                    FROM events GROUP BY user_id)
         SELECT COUNT(*) AS n_users,
                CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                CAST(SUM(CASE WHEN t_signup < t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_then_view,
                CAST(SUM(CASE WHEN t_signup < t_view AND t_view < t_purchase
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
         FROM u"""),

    Contract("ev_sessions", { implicit in =>
      val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      t("events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          // exact interval compare — ts carries microseconds, so truncated
          // unix_timestamp arithmetic would be boundary-unsafe vs the oracle
          when(col("prev_ts").isNull ||
            col("ts") > col("prev_ts") + expr("INTERVAL 1800 SECONDS"), 1L).otherwise(0L))
        .groupBy("user_id").agg(sum(col("new_session")).as("n_sessions"),
          count(lit(1)).as("n_events"))
    }, """SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
           SELECT user_id,
             CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 1800 SECOND THEN 1 ELSE 0 END AS new_session
           FROM (SELECT user_id, ts,
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
                 FROM events) a) b GROUP BY user_id"""),

    // independent lag-based re-derivation of session_window; the guard term
    // poisons every row if the equivalence precondition (no exact-gap
    // boundary) ever stops holding on the corpus, turning a silently-wrong
    // oracle into a loud mismatch
    Contract("ev_session_window", { implicit in =>
      // native session_window aggregation (the streamable sessionizer —
      // EventStreamSpec proves streaming/batch parity); the oracle is the
      // independent lag-based definition, equivalent because the corpus has
      // no exact-gap boundaries (asserted by the oracle's guard CTE)
      graft.streaming.EventStream.sessionCounts(t("events"), "30 minutes")
    }, """WITH g AS (SELECT user_id, ts,
                           LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
                    FROM events),
              guard AS (SELECT COUNT(*) AS n FROM g WHERE ts = prev_ts + INTERVAL 1800 SECOND)
         SELECT user_id,
                CAST(SUM(CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 1800 SECOND
                         THEN 1 ELSE 0 END) + (SELECT n FROM guard) * 1000000000 AS BIGINT) AS n_sessions,
                COUNT(*) AS n_events
         FROM g GROUP BY user_id"""),

    Contract("ev_range_join", { implicit in =>
      // views within the hour before each purchase, banded range join
      val ev = t("events")
      val purchases = ev.filter(col("event_type") === "purchase")
      val views = ev.filter(col("event_type") === "view")
      graft.operators.RangeJoin.band(purchases, views, "user_id", "ts", "ts",
          beforeSec = 3600, afterSec = 0, rightPayload = Seq("event_id"))
        .groupBy("event_id").agg(count(lit(1)).as("n_views_1h"))
    }, """SELECT p.event_id, COUNT(*) AS n_views_1h
         FROM (SELECT user_id, ts, event_id FROM events WHERE event_type='purchase') p
         JOIN (SELECT user_id, ts FROM events WHERE event_type='view') w
           ON p.user_id = w.user_id
          AND w.ts >= p.ts - INTERVAL 3600 SECOND AND w.ts <= p.ts
         GROUP BY p.event_id"""),

    Contract("ev_props_json", { implicit in =>
      // semi-structured extraction: JSON props column → typed field →
      // decile rollup (get_json_object is codegen'd; no UDF)
      t("events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(expr("k DIV 10").as("k_decile"))
        .agg(count(lit(1)).as("n_events"), sum(col("k")).cast("bigint").as("sum_k"))
    }, propsSql),

    Contract("ev_props_variant", { implicit in =>
      // the same extraction through Spark 4's VariantType: parse_json
      // shreds the JSON once into a binary variant and variant_get does
      // typed path access without re-tokenizing text per field — the
      // open-schema path for semi-structured columns at scale (N field
      // reads = one parse, vs N parses with get_json_object). The try_
      // variants yield NULL on malformed JSON / non-coercible values,
      // matching get_json_object+cast's behavior exactly — which is what
      // makes sharing ev_props_json's oracle legitimate beyond this
      // closed corpus.
      t("events")
        .select(expr("try_variant_get(try_parse_json(props), '$.k', 'int')").as("k"))
        .groupBy(expr("k DIV 10").as("k_decile"))
        .agg(count(lit(1)).as("n_events"), sum(col("k")).cast("bigint").as("sum_k"))
    }, propsSql),

    Contract("ev_hourly_gapfill", { implicit in =>
      // dense hourly series with zero-filled gaps (the time-series rollup
      // consumers chart directly): the hour spine generates from the
      // corpus min/max — two scalar aggregates and one sequence explode,
      // O(hours) rows, never a driver loop — and left-joins the sparse
      // counts; AQE broadcasts whichever side is small
      val ev = t("events")
      val spine = ev.agg(date_trunc("hour", min(col("ts"))).as("h0"),
          date_trunc("hour", max(col("ts"))).as("h1"))
        .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("hr"))
      val counts = ev.groupBy(date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n"))
      spine.join(counts, Seq("hr"), "left")
        .select(unix_timestamp(col("hr")).as("hour_epoch"),
          coalesce(col("n"), lit(0L)).as("n_events"))
    }, """WITH b AS (SELECT date_trunc('hour', MIN(ts)) AS h0,
                           date_trunc('hour', MAX(ts)) AS h1 FROM events),
              hrs AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM b),
              c AS (SELECT date_trunc('hour', ts) AS hr, CAST(COUNT(*) AS BIGINT) AS n
                    FROM events GROUP BY 1)
         SELECT CAST(epoch(hrs.hr) AS BIGINT) AS hour_epoch,
                COALESCE(c.n, 0) AS n_events
         FROM hrs LEFT JOIN c USING (hr)"""),

    Contract("ev_cohort_retention", { implicit in =>
      // cohort retention (the standard product-analytics rollup): users
      // cohorted by first-seen day, activity bucketed by day offset from
      // that cohort day, distinct users per (cohort, offset) cell. Two
      // aggregations and one join keyed on user_id — the firsts table is
      // |users| rows, AQE broadcasts it at this scale and shuffle-joins
      // co-partitioned on user_id when it is not
      val ev = t("events").select(col("user_id"), col("ts"))
      val firsts = ev.groupBy("user_id").agg(min(col("ts")).as("first_ts"))
      ev.join(firsts, "user_id")
        .select(col("user_id"), to_date(col("first_ts")).as("cohort"),
          datediff(to_date(col("ts")), to_date(col("first_ts"))).cast("long").as("day_offset"))
        .groupBy("cohort", "day_offset")
        .agg(countDistinct(col("user_id")).as("n_users"))
    }, """WITH f AS (SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY 1),
              r AS (SELECT e.user_id, CAST(f.first_ts AS DATE) AS cohort,
                           date_diff('day', CAST(f.first_ts AS DATE), CAST(e.ts AS DATE)) AS day_offset
                    FROM events e JOIN f ON f.user_id = e.user_id)
         SELECT cohort, day_offset, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         FROM r GROUP BY 1, 2""")
  )
}
