"""Product-analytics operators over ``events`` (engine-extension
surface): cohort retention and ordered funnels — the two aggregate
shapes every event warehouse runs daily, expressed as single Catalyst
plans with exact DuckDB oracles.

Both stay strictly relational: a first-touch aggregate per user, a
broadcast-sized re-join, and conditional aggregation.  At 100 TB the
only wide stages are the per-user aggregates (partial-agg before one
shuffle on user_id each); the cohort/funnel matrices themselves are
tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import md5_int
from ..sources import load_table, orders_with_nation


def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users bucketed by the Monday week
    of their first event; each row counts distinct users from that
    cohort active at week offset 0, 1, 2, …  One per-user min-date
    aggregate, one broadcast join back, one (cohort, offset) count —
    nothing scans events twice."""
    ev = load_table(spark, sf_dir, "events")
    first = (ev.groupBy("user_id")
             .agg(F.min(F.to_date("ts")).alias("first_day")))
    cohort = first.select(
        "user_id", F.date_trunc("week", "first_day").cast("date")
        .alias("cohort_week"))
    return (ev.select("user_id", F.to_date("ts").alias("day")).distinct()
            .join(F.broadcast(cohort), "user_id")
            .select("user_id", "cohort_week",
                    (F.datediff(F.date_trunc("week", "day").cast("date"),
                                F.col("cohort_week")) / 7)
                    .cast("long").alias("week_offset"))
            .groupBy("cohort_week", "week_offset")
            .agg(F.count_distinct("user_id").alias("n_active"))
            .orderBy("cohort_week", "week_offset"))


def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel per user-day: first view → first click strictly
    after it → first purchase strictly after that.  Stage timestamps are
    conditional minimums over one scan (no self-joins): t1 = min(view),
    t2 = min(click where ts > t1), t3 = min(purchase where ts > t2) —
    the second and third stages re-aggregate the same user-day group
    with the prior stage's timestamp joined back, which Catalyst plans
    as three hash aggregates over one shuffled partitioning.  Output is
    the daily funnel: user-days reaching each stage."""
    ev = (load_table(spark, sf_dir, "events")
          .select("user_id", F.to_date("ts").alias("day"),
                  "event_type", "ts"))
    t1 = (ev.where(F.col("event_type") == "view")
          .groupBy("user_id", "day").agg(F.min("ts").alias("t1")))
    t2 = (ev.where(F.col("event_type") == "click")
          .join(t1, ["user_id", "day"])
          .where(F.col("ts") > F.col("t1"))
          .groupBy("user_id", "day").agg(F.min("ts").alias("t2")))
    t3 = (ev.where(F.col("event_type") == "purchase")
          .join(t2, ["user_id", "day"])
          .where(F.col("ts") > F.col("t2"))
          .groupBy("user_id", "day").agg(F.min("ts").alias("t3")))
    base = ev.select("user_id", "day").distinct()
    return (base
            .join(t1, ["user_id", "day"], "left")
            .join(t2, ["user_id", "day"], "left")
            .join(t3, ["user_id", "day"], "left")
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_user_days"),
                 F.count("t1").alias("n_view"),
                 F.count("t2").alias("n_view_click"),
                 F.count("t3").alias("n_full_funnel"))
            .orderBy("day"))


# feature/label temporal split: features from events strictly before
# the cutoff, the label from on/after it (events span 2024-01)
_FEAT_CUTOFF = "2024-01-24"


def user_feature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tabular-ML FEATURE TABLE: per-user RFM features (recency /
    frequency / monetary) computed from events strictly BEFORE a cutoff
    date, labeled by whether the user purchased ON/AFTER it — the
    point-in-time-correct construction every churn/propensity model
    needs, where a feature computed from post-cutoff data would be
    target leakage (the temporal sibling of ``leakage_free_split``).

    Features: days since last activity at the cutoff, total events,
    purchase count, total purchase value, distinct active days.  One
    shuffle keyed by user for the features, a same-key left join for
    the label; users first seen after the cutoff are excluded (no
    feature history — exactly what a production scorer would see).
    """
    ev = load_table(spark, sf_dir, "events")
    cutoff_expr = F.lit(_FEAT_CUTOFF).cast("date")
    hist = ev.where(F.to_date("ts") < cutoff_expr)
    feats = (hist.groupBy("user_id")
             .agg(F.datediff(cutoff_expr, F.max(F.to_date("ts")))
                  .alias("recency_days"),
                  F.count(F.lit(1)).alias("n_events"),
                  F.sum((F.col("event_type") == "purchase").cast("long"))
                  .alias("n_purchases"),
                  F.round(F.sum(F.when(F.col("event_type") == "purchase",
                                       F.col("value")).otherwise(0.0)), 4)
                  .alias("purchase_value"),
                  F.count_distinct(F.to_date("ts")).alias("n_active_days")))
    label = (ev.where((F.to_date("ts") >= cutoff_expr)
                      & (F.col("event_type") == "purchase"))
             .select("user_id").distinct()
             .withColumn("label_purchased", F.lit(1)))
    return (feats.join(label, "user_id", "left")
            .select("user_id", "recency_days", "n_events", "n_purchases",
                    "purchase_value", "n_active_days",
                    F.coalesce("label_purchased", F.lit(0))
                    .alias("label_purchased")))


def session_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assemble per-session interaction TRANSCRIPTS from the raw event
    log — the conversation/trajectory-assembly step that turns
    clickstream (or agent-action) logs into sequence training data:
    every 30-min-gap session becomes one ordered ``a>b>c`` event-type
    string plus turn count and duration.

    The sessionization IS ``streaming.sessionize_events`` — the same
    helper ``user_sessions`` aggregates, so the two queries cannot
    disagree on session boundaries; the
    transcript orders deterministically by (ts, event_id) via an
    array_sort over (ts, event_id, type) structs — collect_list alone
    has no order contract under parallel merge.

    Scale: one shuffle on user_id shared by the session window and the
    per-session aggregate; transcript length is bounded by session
    length (the same bound any sequence-modeling pipeline enforces
    before tokenization)."""
    from ..streaming.queries import sessionize_events
    sess = sessionize_events(load_table(spark, sf_dir, "events"))
    ordered_types = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id",
                                             "event_type"))),
        lambda s: s["event_type"])
    return (sess
            .groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_turns"),
                 F.array_join(ordered_types, ">").alias("transcript"),
                 F.round(F.max(F.col("ts").cast("double"))
                         - F.min(F.col("ts").cast("double")), 3)
                 .alias("duration_s")))


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov TRANSITION MATRIX over within-session event
    sequences: P(next event type | current), with counts — the
    behavior model behind next-action prediction, funnel design, and
    bot detection (bots have degenerate transition rows).  Transitions
    never cross a session boundary (the ``sessionize_events`` rule),
    which is what separates this from a naive global lag.

    One shuffle on user_id (shared with the session window), then a
    (from, to)-keyed count — the matrix is |types|² and broadcastable
    anywhere.  Probabilities round at 1e-6 after an integer-ratio
    division, deterministic on both engines."""
    from pyspark.sql.window import Window
    from ..streaming.queries import sessionize_events
    sess = sessionize_events(load_table(spark, sf_dir, "events"))
    w = (Window.partitionBy("user_id", "session_id")
         .orderBy("ts", "event_id"))
    trans = (sess
             .withColumn("next_type", F.lead("event_type").over(w))
             .where(F.col("next_type").isNotNull())
             .groupBy(F.col("event_type").alias("from_type"),
                      F.col("next_type").alias("to_type"))
             .agg(F.count(F.lit(1)).alias("n_transitions")))
    wf = Window.partitionBy("from_type")
    return trans.withColumn(
        "prob", F.round(F.col("n_transitions")
                        / F.sum("n_transitions").over(wf), 6))


def _user_time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, t, converted): days from a user's first event to their
    first purchase (``converted``), else to their last event (censored)
    — the survival frame the Kaplan-Meier, Nelson-Aalen and log-rank
    queries share."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .agg(F.min(F.to_date("ts")).alias("d0"),
                 F.max(F.to_date("ts")).alias("d1"),
                 F.min(F.when(F.col("event_type") == "purchase",
                              F.to_date("ts"))).alias("p0"))
            .select("user_id",
                    F.coalesce(F.datediff("p0", "d0"),
                               F.datediff("d1", "d0"))
                    .cast("bigint").alias("t"),
                    F.col("p0").isNotNull().alias("converted")))


def user_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier estimate of TIME TO FIRST PURCHASE from first touch
    (Kaplan & Meier 1958) — the conversion-time curve behind activation
    and LTV models: "what fraction of users have not yet purchased t
    days after arriving?".  A user with no purchase is right-CENSORED
    at their last observed day — the distinction that separates
    survival analysis from a naive conversion histogram, which drops
    every not-yet-converted user.  (This purchase-heavy fixture
    converts everyone, so the censoring branch is exercised by the
    synthetic-frame unit test rather than the driver query.)

    Per distinct day t: at-risk n(t) = users still unconverted and
    observed at t (exclusive running subtraction from the total —
    exact integers), events d(t) = conversions at t, hazard = d/n
    (integer-ratio, rounded 6dp), and S(t) = Π (1−d/n) computed as exp
    of the running sum of per-step ln terms snapped to the 1e-6 grid
    (cross-libm ln drift absorbed; the weighted-sampling precedent).
    A step that consumes the whole risk set drives survival to exact
    zero — flagged with a running max instead of ln(0).

    Scale: one (user)-keyed aggregate over the fact table, then every
    window runs over |distinct t| rows — bounded by the observation
    span in days, not the population."""
    return km_curve(_user_time_to_purchase(spark, sf_dir))


def km_curve(users: DataFrame) -> DataFrame:
    """Kaplan-Meier estimator over a (t, converted) frame — split out so
    the censoring branch (unexercised by the all-converting fixture) is
    unit-testable on synthetic subjects."""
    from pyspark.sql.window import Window
    total = users.agg(F.count(F.lit(1)).alias("n_total"))
    per_t = (users.groupBy("t")
             .agg(F.count(F.lit(1)).alias("n_leaving"),
                  F.count(F.when(F.col("converted"), 1)).alias("d")))
    wprev = (Window.orderBy("t")
             .rowsBetween(Window.unboundedPreceding, -1))
    wcum = (Window.orderBy("t")
            .rowsBetween(Window.unboundedPreceding, 0))
    at_risk = (per_t.crossJoin(F.broadcast(total))
               .withColumn("n_at_risk",
                           F.col("n_total")
                           - F.coalesce(F.sum("n_leaving").over(wprev),
                                        F.lit(0))))
    step_ln = F.when(F.col("d") < F.col("n_at_risk"),
                     F.round(F.log(1.0 - F.col("d")
                                   / F.col("n_at_risk")), 6)) \
               .otherwise(F.lit(0.0))
    dead = F.when(F.col("d") >= F.col("n_at_risk"), 1).otherwise(0)
    return (at_risk
            .withColumn("ln_term", step_ln)
            .withColumn("zeroed", F.max(dead).over(wcum))
            .select("t",
                    "n_at_risk", "d",
                    F.round(F.col("d") / F.col("n_at_risk"), 6)
                    .alias("hazard"),
                    F.when(F.col("zeroed") == 1, F.lit(0.0))
                    .otherwise(F.round(F.exp(F.sum("ln_term").over(wcum)),
                                       6)).alias("survival"))
            .orderBy("t"))


_AB_Z_CRIT = 1.959963984540054   # two-sided 5%


def ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test report for a deterministic 50/50 user
    split — the experimentation primitive: assign arms by content hash
    (reproducible across retries, the md5 sampling precedent), compare
    user-level HIGH-VALUE conversion (any purchase over 200 — the plain
    any-purchase rate saturates at 1.0 on this fixture, a degenerate
    0/0 z), report the pooled z statistic and the 5% verdict.  On a REAL A/B assignment the arms differ only by
    treatment; on this hash split the test must (and does) come back
    not-significant — the A/A calibration run every experimentation
    platform executes first.

    One user-level aggregate, one 2-row arm aggregate, one-row output;
    every input to the statistic is an exact integer count, so the z
    value is bit-stable under any partitioning.  At 100 TB: the
    per-user conversion aggregate is the only wide stage."""
    ev = load_table(spark, sf_dir, "events")
    arm = md5_int(F.col("user_id").cast("string")) % 2
    users = (ev.groupBy("user_id")
             .agg(F.max(F.when((F.col("event_type") == "purchase")
                               & (F.col("value") > 200), 1)
                        .otherwise(0)).alias("converted"))
             .withColumn("arm", arm))
    arms = (users.groupBy("arm")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("converted").alias("c")))
    a = arms.where(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("c").alias("conv_a"))
    b = arms.where(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("c").alias("conv_b"))
    j = a.crossJoin(b)
    pa = F.col("conv_a") / F.col("n_a")
    pb = F.col("conv_b") / F.col("n_b")
    pp = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a")
                                                + F.col("n_b"))
    z = (pa - pb) / F.nullif(
        F.sqrt(pp * (1 - pp)
               * (1 / F.col("n_a") + 1 / F.col("n_b"))), F.lit(0.0))
    return j.select(
        "n_a", "conv_a", F.round(pa, 6).alias("rate_a"),
        "n_b", "conv_b", F.round(pb, 6).alias("rate_b"),
        F.round(z, 6).alias("z_stat"),
        F.coalesce(F.abs(F.round(z, 6)) > _AB_Z_CRIT, F.lit(False))
        .alias("significant"))


_ATTR_WINDOW_MIN = 60.0   # look-back horizon per purchase
_ATTR_HALFLIFE_MIN = 30.0  # exp decay scale


def purchase_attribution_decay(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Multi-touch attribution with exponential time decay: every
    purchase distributes one unit of credit over the same user's
    non-purchase touches in the preceding 60 minutes, weighted
    exp(−Δmin/30) and normalized per purchase — the ad-tech upgrade
    over last-touch, which hands everything to the final click.
    Output: total credit and touch count per touch event type.

    The touch join is an interval join keyed on user (bounded state:
    rate × 1 h — the stream-stream join contract in batch form); decay
    weights snap to the 1e-6 grid, per-purchase totals divide out on a
    4dp grid.  At 100 TB the per-purchase normalization is a same-key
    re-aggregation, never a second scan."""
    ev = load_table(spark, sf_dir, "events")
    pur = (ev.where(F.col("event_type") == "purchase")
           .select(F.col("event_id").alias("pid"),
                   F.col("user_id").alias("pu"),
                   F.col("ts").alias("pts")))
    touch = (ev.where(F.col("event_type") != "purchase")
             .select(F.col("event_id").alias("tid"),
                     F.col("user_id").alias("tu"),
                     F.col("event_type").alias("touch_type"),
                     F.col("ts").alias("tts")))
    dmin = (F.col("pts").cast("double")
            - F.col("tts").cast("double")) / 60.0
    pairs = (pur.join(touch, (F.col("pu") == F.col("tu"))
                      & (F.col("tts") < F.col("pts"))
                      & (F.col("tts") >= F.col("pts")
                         - F.expr(f"INTERVAL {int(_ATTR_WINDOW_MIN)} "
                                  "MINUTES")))
             .withColumn("w", F.round(
                 F.exp(-dmin / _ATTR_HALFLIFE_MIN), 6)))
    per = (pairs.groupBy("pid", "touch_type")
           .agg(F.sum("w").alias("wt"), F.count(F.lit(1)).alias("nt")))
    tot = per.groupBy("pid").agg(F.sum("wt").alias("wtot"))
    return (per.join(tot, "pid")
            .groupBy("touch_type")
            .agg(F.round(F.sum(F.col("wt") / F.col("wtot")), 4)
                 .alias("total_credit"),
                 F.sum("nt").alias("n_touches"))
            .orderBy("touch_type"))


QUERIES = {
    "cohort_retention_weekly": cohort_retention_weekly,
    "event_transition_matrix": event_transition_matrix,
    "funnel_view_click_purchase": funnel_view_click_purchase,
    "user_feature_table": user_feature_table,
    "session_transcripts": session_transcripts,
    "user_survival_curve": user_survival_curve,
    "ab_test_report": ab_test_report,
    "purchase_attribution_decay": purchase_attribution_decay,
}

ORACLES = {
    "user_feature_table": f"""
        WITH hist AS (
            SELECT * FROM events
            WHERE CAST(ts AS DATE) < DATE '{_FEAT_CUTOFF}'
        ), feats AS (
            SELECT user_id,
                   CAST(DATE '{_FEAT_CUTOFF}' - max(CAST(ts AS DATE))
                        AS INTEGER) AS recency_days,
                   count(*) AS n_events,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_purchases,
                   round(sum(CASE WHEN event_type = 'purchase'
                                  THEN value ELSE 0.0 END), 4)
                       AS purchase_value,
                   count(DISTINCT CAST(ts AS DATE)) AS n_active_days
            FROM hist GROUP BY 1
        ), label AS (
            SELECT DISTINCT user_id, 1 AS label_purchased
            FROM events
            WHERE CAST(ts AS DATE) >= DATE '{_FEAT_CUTOFF}'
              AND event_type = 'purchase'
        )
        SELECT f.user_id, f.recency_days, f.n_events, f.n_purchases,
               f.purchase_value, f.n_active_days,
               coalesce(l.label_purchased, 0) AS label_purchased
        FROM feats f LEFT JOIN label l USING (user_id)
    """,
    "cohort_retention_weekly": """
        WITH cohort AS (
            SELECT user_id,
                   CAST(date_trunc('week', min(CAST(ts AS DATE))) AS DATE)
                       AS cohort_week
            FROM events GROUP BY 1
        ), active AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        )
        SELECT c.cohort_week,
               CAST(datediff('day', c.cohort_week,
                    CAST(date_trunc('week', a.day) AS DATE)) // 7 AS BIGINT)
                   AS week_offset,
               count(DISTINCT a.user_id) AS n_active
        FROM active a JOIN cohort c USING (user_id)
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "funnel_view_click_purchase": """
        WITH ev AS (
            SELECT user_id, CAST(ts AS DATE) AS day, event_type, ts
            FROM events
        ), t1 AS (
            SELECT user_id, day, min(ts) AS t1 FROM ev
            WHERE event_type = 'view' GROUP BY 1, 2
        ), t2 AS (
            SELECT e.user_id, e.day, min(e.ts) AS t2
            FROM ev e JOIN t1 USING (user_id, day)
            WHERE e.event_type = 'click' AND e.ts > t1.t1
            GROUP BY 1, 2
        ), t3 AS (
            SELECT e.user_id, e.day, min(e.ts) AS t3
            FROM ev e JOIN t2 USING (user_id, day)
            WHERE e.event_type = 'purchase' AND e.ts > t2.t2
            GROUP BY 1, 2
        ), base AS (
            SELECT DISTINCT user_id, day FROM ev
        )
        SELECT b.day,
               count(*) AS n_user_days,
               count(t1.t1) AS n_view,
               count(t2.t2) AS n_view_click,
               count(t3.t3) AS n_full_funnel
        FROM base b
        LEFT JOIN t1 USING (user_id, day)
        LEFT JOIN t2 USING (user_id, day)
        LEFT JOIN t3 USING (user_id, day)
        GROUP BY 1 ORDER BY 1
    """,
}

from ..streaming.queries import SESSIONIZED_SQL

ORACLES["session_transcripts"] = f"""
    WITH {SESSIONIZED_SQL}
    SELECT user_id, session_id, count(*) AS n_turns,
           string_agg(event_type, '>' ORDER BY ts, event_id)
               AS transcript,
           round(max(epoch(ts)) - min(epoch(ts)), 3) AS duration_s
    FROM sessions GROUP BY user_id, session_id
"""

ORACLES["event_transition_matrix"] = f"""
    WITH {SESSIONIZED_SQL}, trans AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id, session_id
                   ORDER BY ts, event_id) AS to_type
        FROM sessions
    ), counted AS (
        SELECT from_type, to_type, count(*) AS n_transitions
        FROM trans WHERE to_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions,
           round(n_transitions / CAST(sum(n_transitions)
                 OVER (PARTITION BY from_type) AS DOUBLE), 6) AS prob
    FROM counted
"""

ORACLES["user_survival_curve"] = """
    WITH users AS (
        SELECT user_id,
               CAST(coalesce(
                   date_diff('day', min(CAST(ts AS DATE)),
                             min(CASE WHEN event_type = 'purchase'
                                      THEN CAST(ts AS DATE) END)),
                   date_diff('day', min(CAST(ts AS DATE)),
                             max(CAST(ts AS DATE)))) AS BIGINT) AS t,
               min(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS DATE) END) IS NOT NULL AS converted
        FROM events GROUP BY user_id
    ), total AS (SELECT count(*) AS n_total FROM users),
    per_t AS (
        SELECT t, count(*) AS n_leaving,
               count(*) FILTER (WHERE converted) AS d
        FROM users GROUP BY t
    ), at_risk AS (
        SELECT t, n_leaving, d,
               n_total - CAST(coalesce(sum(n_leaving) OVER (ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
        FROM per_t CROSS JOIN total
    ), terms AS (
        SELECT t, n_at_risk, d,
               CASE WHEN d < n_at_risk
                    THEN round(ln(1.0 - d / CAST(n_at_risk AS DOUBLE)), 6)
                    ELSE 0.0 END AS ln_term,
               CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END AS dead
        FROM at_risk
    )
    SELECT t, n_at_risk, d,
           round(d / CAST(n_at_risk AS DOUBLE), 6) AS hazard,
           CASE WHEN max(dead) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                THEN 0.0
                ELSE round(exp(sum(ln_term) OVER (ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)), 6) END AS survival
    FROM terms ORDER BY t
"""

ORACLES["ab_test_report"] = f"""
    WITH users AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' AND value > 200
                        THEN 1 ELSE 0 END) AS converted,
               (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    ::BIGINT % 2) AS arm
        FROM events GROUP BY user_id
    ), arms AS (
        SELECT arm, count(*) AS n,
               CAST(sum(converted) AS BIGINT) AS c
        FROM users GROUP BY arm
    ), a AS (SELECT n AS n_a, c AS conv_a FROM arms WHERE arm = 0),
    b AS (SELECT n AS n_b, c AS conv_b FROM arms WHERE arm = 1),
    j AS (
        SELECT *,
               conv_a / CAST(n_a AS DOUBLE) AS pa,
               conv_b / CAST(n_b AS DOUBLE) AS pb,
               (conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE) AS pp
        FROM a CROSS JOIN b
    )
    SELECT n_a, conv_a, round(pa, 6) AS rate_a,
           n_b, conv_b, round(pb, 6) AS rate_b,
           round((pa - pb) / nullif(sqrt(pp * (1 - pp)
                 * (1.0 / n_a + 1.0 / n_b)), 0.0), 6) AS z_stat,
           coalesce(abs(round((pa - pb) / nullif(sqrt(pp * (1 - pp)
                 * (1.0 / n_a + 1.0 / n_b)), 0.0), 6)) > {_AB_Z_CRIT},
                    false) AS significant
    FROM j
"""

ORACLES["purchase_attribution_decay"] = f"""
    WITH pur AS (
        SELECT event_id AS pid, user_id AS pu, ts AS pts
        FROM events WHERE event_type = 'purchase'
    ), touch AS (
        SELECT event_id AS tid, user_id AS tu,
               event_type AS touch_type, ts AS tts
        FROM events WHERE event_type <> 'purchase'
    ), pairs AS (
        SELECT p.pid, t.touch_type,
               round(exp(-((epoch(p.pts) - epoch(t.tts)) / 60.0)
                         / {_ATTR_HALFLIFE_MIN}), 6) AS w
        FROM pur p JOIN touch t
          ON t.tu = p.pu AND t.tts < p.pts
         AND t.tts >= p.pts - INTERVAL {int(_ATTR_WINDOW_MIN)} MINUTE
    ), per AS (
        SELECT pid, touch_type, sum(w) AS wt, count(*) AS nt
        FROM pairs GROUP BY 1, 2
    ), tot AS (SELECT pid, sum(wt) AS wtot FROM per GROUP BY 1)
    SELECT touch_type,
           round(sum(wt / wtot), 4) AS total_credit,
           CAST(sum(nt) AS BIGINT) AS n_touches
    FROM per JOIN tot USING (pid)
    GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Round-4 continuation: log-rank survival comparison between hash
# cohorts — the A/A-calibratable time-to-event sibling of
# ``ab_test_report`` (which compares proportions, not timing).

_LR_CRIT = 3.841459   # chi-square(1) 5% critical value


def logrank_cohort_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test (Mantel 1966 / Peto & Peto 1972) comparing
    time-to-first-purchase between the two deterministic md5 user
    cohorts: at every distinct conversion day the observed cohort-A
    events are compared to their hypergeometric expectation given the
    at-risk split, and the standardized sum is the test statistic —
    THE standard test for "did the new onboarding change time to
    convert?", right-censoring included (a never-converting user exits
    the risk set without an event, which a naive mean-days comparison
    silently drops).  On this hash split it is an A/A calibration run
    and must come back not-significant.

    Exactness: at-risk counts and event counts are exact integers
    (running subtraction windows); each day's expectation and variance
    term snaps to the 1e-6 BIGINT micro-grid before summation, so the
    statistic is partition-order-proof; the verdict compares the
    ROUNDED chi-square to the critical value.

    Scale: one user-keyed aggregate over the fact table (the KM-curve
    cost), then every window runs over |distinct conversion days| rows
    — bounded by the observation span, not the population."""
    from pyspark.sql.window import Window
    arm = md5_int(F.col("user_id").cast("string")) % 2
    users = _user_time_to_purchase(spark, sf_dir).withColumn("arm", arm)
    per_t = (users.groupBy("t")
             .agg(F.count(F.when(F.col("arm") == 0, 1)).alias("l1"),
                  F.count(F.when((F.col("arm") == 0)
                                 & F.col("converted"), 1)).alias("d1"),
                  F.count(F.when(F.col("arm") == 1, 1)).alias("l2"),
                  F.count(F.when((F.col("arm") == 1)
                                 & F.col("converted"), 1)).alias("d2")))
    totals = users.agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("n_users_a"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n_users_b"))
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = (per_t.crossJoin(F.broadcast(totals))
            .withColumn("at1", F.col("n_users_a")
                        - F.coalesce(F.sum("l1").over(wprev), F.lit(0)))
            .withColumn("at2", F.col("n_users_b")
                        - F.coalesce(F.sum("l2").over(wprev), F.lit(0))))
    n = (F.col("at1") + F.col("at2")).cast("double")
    d = (F.col("d1") + F.col("d2")).cast("double")
    p1 = F.col("at1").cast("double") / n
    e1 = d * p1
    v = (d * p1 * (F.lit(1.0) - p1) * (n - d)
         / F.nullif(n - F.lit(1.0), F.lit(0.0)))
    terms = (risk.where((F.col("d1") + F.col("d2")) > 0)
             .select("d1", "d2",
                     F.round(e1 * 1_000_000, 0).cast("long").alias("e1_u"),
                     F.coalesce(F.round(v * 1_000_000, 0).cast("long"),
                                F.lit(0)).alias("v_u")))
    agg = terms.agg(F.sum("d1").alias("events_a"),
                    F.sum("d2").alias("events_b"),
                    F.sum("e1_u").alias("se1_u"),
                    F.sum("v_u").alias("sv_u"))
    out = agg.crossJoin(F.broadcast(totals))
    ome = (F.col("events_a").cast("double")
           - F.col("se1_u").cast("double") / 1_000_000)
    sv = F.col("sv_u").cast("double") / 1_000_000
    z = ome / F.nullif(F.sqrt(sv), F.lit(0.0))
    chi2 = F.round(z * z, 6)
    return out.select(
        "n_users_a", "n_users_b", "events_a", "events_b",
        F.round(ome, 6).alias("o_minus_e"),
        F.round(sv, 6).alias("variance"),
        F.round(z, 6).alias("z"),
        chi2.alias("chi2"),
        (chi2 > F.lit(_LR_CRIT)).alias("significant"))


ORACLES["logrank_cohort_test"] = f"""
    WITH users AS (
        SELECT user_id,
               coalesce(datediff('day', d0, p0),
                        datediff('day', d0, d1)) AS t,
               p0 IS NOT NULL AS converted,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 2 AS arm
        FROM (
            SELECT user_id, min(CAST(ts AS DATE)) AS d0,
                   max(CAST(ts AS DATE)) AS d1,
                   min(CASE WHEN event_type = 'purchase'
                            THEN CAST(ts AS DATE) END) AS p0
            FROM events GROUP BY 1)
    ), per_t AS (
        SELECT t,
               count(CASE WHEN arm = 0 THEN 1 END) AS l1,
               count(CASE WHEN arm = 0 AND converted THEN 1 END) AS d1,
               count(CASE WHEN arm = 1 THEN 1 END) AS l2,
               count(CASE WHEN arm = 1 AND converted THEN 1 END) AS d2
        FROM users GROUP BY 1
    ), totals AS (
        SELECT count(CASE WHEN arm = 0 THEN 1 END) AS n_users_a,
               count(CASE WHEN arm = 1 THEN 1 END) AS n_users_b
        FROM users
    ), risk AS (
        SELECT p.*, tt.n_users_a, tt.n_users_b,
               tt.n_users_a - coalesce(sum(l1) OVER
                   (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS at1,
               tt.n_users_b - coalesce(sum(l2) OVER
                   (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS at2
        FROM per_t p CROSS JOIN totals tt
    ), terms AS (
        SELECT d1, d2,
               CAST(round(CAST(d1 + d2 AS DOUBLE)
                          * (CAST(at1 AS DOUBLE)
                             / CAST(at1 + at2 AS DOUBLE))
                          * 1000000, 0) AS BIGINT) AS e1_u,
               coalesce(CAST(round(CAST(d1 + d2 AS DOUBLE)
                          * (CAST(at1 AS DOUBLE)
                             / CAST(at1 + at2 AS DOUBLE))
                          * (CAST(1 AS DOUBLE)
                             - CAST(at1 AS DOUBLE)
                               / CAST(at1 + at2 AS DOUBLE))
                          * (CAST(at1 + at2 AS DOUBLE)
                             - CAST(d1 + d2 AS DOUBLE))
                          / nullif(CAST(at1 + at2 AS DOUBLE)
                                   - CAST(1 AS DOUBLE),
                                   CAST(0 AS DOUBLE))
                          * 1000000, 0) AS BIGINT), 0) AS v_u
        FROM risk WHERE d1 + d2 > 0
    ), agg AS (
        SELECT CAST(sum(d1) AS BIGINT) AS events_a,
               CAST(sum(d2) AS BIGINT) AS events_b,
               sum(e1_u) AS se1_u, sum(v_u) AS sv_u
        FROM terms
    )
    SELECT tt.n_users_a, tt.n_users_b, a.events_a, a.events_b,
           round(CAST(a.events_a AS DOUBLE)
                 - CAST(a.se1_u AS DOUBLE) / 1000000, 6) AS o_minus_e,
           round(CAST(a.sv_u AS DOUBLE) / 1000000, 6) AS variance,
           round((CAST(a.events_a AS DOUBLE)
                  - CAST(a.se1_u AS DOUBLE) / 1000000)
                 / nullif(sqrt(CAST(a.sv_u AS DOUBLE) / 1000000),
                          CAST(0 AS DOUBLE)), 6) AS z,
           round(((CAST(a.events_a AS DOUBLE)
                   - CAST(a.se1_u AS DOUBLE) / 1000000)
                  / nullif(sqrt(CAST(a.sv_u AS DOUBLE) / 1000000),
                           CAST(0 AS DOUBLE)))
                 * ((CAST(a.events_a AS DOUBLE)
                     - CAST(a.se1_u AS DOUBLE) / 1000000)
                    / nullif(sqrt(CAST(a.sv_u AS DOUBLE) / 1000000),
                             CAST(0 AS DOUBLE))), 6) AS chi2,
           round(((CAST(a.events_a AS DOUBLE)
                   - CAST(a.se1_u AS DOUBLE) / 1000000)
                  / nullif(sqrt(CAST(a.sv_u AS DOUBLE) / 1000000),
                           CAST(0 AS DOUBLE)))
                 * ((CAST(a.events_a AS DOUBLE)
                     - CAST(a.se1_u AS DOUBLE) / 1000000)
                    / nullif(sqrt(CAST(a.sv_u AS DOUBLE) / 1000000),
                             CAST(0 AS DOUBLE))), 6)
               > CAST({_LR_CRIT} AS DOUBLE) AS significant
    FROM agg a CROSS JOIN totals tt
"""
QUERIES["logrank_cohort_test"] = logrank_cohort_test


def cart_abandonment_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cart-abandonment report: per session-start day, sessions
    that showed purchase INTENT (any click) but ended without a
    purchase — the canonical e-commerce leakage metric, computed on
    session boundaries (the same >1800 s gaps-and-islands rule as
    `user_sessions` — one place, one contract) rather than user-days,
    so a user who abandons at lunch and buys at night counts one
    abandoned and one converted session.

    One per-session conditional aggregate riding the shared
    sessionizer's user_id shuffle + one tiny per-day aggregate; rates
    are exact-integer ratios rounded 6dp with a nullif guard for
    click-free days."""
    from ..streaming.queries import sessionize_events
    sess = sessionize_events(load_table(spark, sf_dir, "events"))
    per_sess = (sess.groupBy("user_id", "session_id")
                .agg(F.min(F.to_date("ts")).alias("day"),
                     F.max((F.col("event_type") == "click")
                           .cast("int")).alias("has_click"),
                     F.max((F.col("event_type") == "purchase")
                           .cast("int")).alias("has_purchase")))
    abandoned = (F.col("has_click") == 1) & (F.col("has_purchase") == 0)
    g = (per_sess.groupBy("day")
         .agg(F.count(F.lit(1)).alias("n_sessions"),
              F.sum("has_click").cast("long").alias("n_with_click"),
              F.sum("has_purchase").cast("long").alias("n_with_purchase"),
              F.sum(abandoned.cast("long")).alias("n_abandoned")))
    return (g.select("day", "n_sessions", "n_with_click",
                     "n_with_purchase", "n_abandoned",
                     F.round(F.col("n_abandoned").cast("double")
                             / F.nullif(F.col("n_with_click")
                                        .cast("double"), F.lit(0.0)), 6)
                     .alias("abandonment_rate"))
            .orderBy("day"))


ORACLES["cart_abandonment_daily"] = """
    WITH flagged AS (
        SELECT *,
               CASE WHEN lag(epoch(ts)) OVER sw IS NULL
                         OR epoch(ts) - lag(epoch(ts)) OVER sw > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW sw AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT *, CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
    ), per_sess AS (
        SELECT user_id, session_id,
               min(CAST(ts AS DATE)) AS day,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS has_click,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS has_purchase
        FROM sessions GROUP BY 1, 2
    )
    SELECT day, count(*) AS n_sessions,
           CAST(sum(has_click) AS BIGINT) AS n_with_click,
           CAST(sum(has_purchase) AS BIGINT) AS n_with_purchase,
           CAST(sum(CASE WHEN has_click = 1 AND has_purchase = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned,
           round(CAST(sum(CASE WHEN has_click = 1 AND has_purchase = 0
                              THEN 1 ELSE 0 END) AS DOUBLE)
                 / nullif(CAST(sum(has_click) AS DOUBLE),
                          CAST(0 AS DOUBLE)), 6) AS abandonment_rate
    FROM per_sess GROUP BY 1 ORDER BY 1
"""
QUERIES["cart_abandonment_daily"] = cart_abandonment_daily


# ---------------------------------------------------------------------------
# Round-4 continuation: regex pattern matching over session event
# sequences — the MATCH_RECOGNIZE reduction.

_SESSION_PATTERNS = [
    ("view_then_purchase", "view>.*purchase"),
    ("click_then_error", "click>.*error"),
    ("pure_browse", "^(view>)*view$"),
]


def session_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence pattern detection per session — the reduction of
    SQL MATCH_RECOGNIZE (row-pattern recognition, SQL:2016) Spark
    lacks natively: each session's ordered event-type transcript (the
    `session_transcripts` assembly — array_sort over (ts, event_id)
    structs, so the order contract is shared) is matched against a
    panel of regex patterns, reported per (day, pattern) as match
    counts and rates.  'view…purchase' is the conversion journey,
    'click…error' the rage-path, '^(view>)*view$' the pure-browse
    session — the shapes a funnel can't express because they
    constrain the WHOLE sequence, not stage minima.

    Patterns are lookahead-free so Java regex (Spark) and RE2-class
    (DuckDB) agree — the PII-scrub compatibility discipline.  Scale:
    rides the sessionizer's user_id shuffle; the pattern panel is a
    broadcast constant, so matching is map-side over one transcript
    row per session."""
    from ..streaming.queries import sessionize_events
    sess = sessionize_events(load_table(spark, sf_dir, "events"))
    ordered_types = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id",
                                             "event_type"))),
        lambda s: s["event_type"])
    tr = (sess.groupBy("user_id", "session_id")
          .agg(F.min(F.to_date("ts")).alias("day"),
               F.array_join(ordered_types, ">").alias("transcript")))
    pats = F.explode(F.array(*[
        F.struct(F.lit(n).alias("pattern"), F.lit(p).alias("re"))
        for n, p in _SESSION_PATTERNS])).alias("pat")
    fan = (tr.select("day", "transcript", pats)
           .select("day", "transcript",
                   F.col("pat.pattern").alias("pattern"),
                   F.col("pat.re").alias("re")))
    hit = F.regexp_like(F.col("transcript"), F.col("re")).cast("long")
    return (fan.groupBy("day", "pattern")
            .agg(F.count(F.lit(1)).alias("n_sessions"),
                 F.sum(hit).alias("n_matched"))
            .select("day", "pattern", "n_sessions", "n_matched",
                    F.round(F.col("n_matched").cast("double")
                            / F.col("n_sessions").cast("double"), 6)
                    .alias("match_rate"))
            .orderBy("day", "pattern"))


_PAT_VALUES = ", ".join(f"('{n}', '{p}')" for n, p in _SESSION_PATTERNS)
ORACLES["session_pattern_match"] = f"""
    WITH flagged AS (
        SELECT *,
               CASE WHEN lag(epoch(ts)) OVER sw IS NULL
                         OR epoch(ts) - lag(epoch(ts)) OVER sw > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW sw AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT *, CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
    ), tr AS (
        SELECT user_id, session_id,
               min(CAST(ts AS DATE)) AS day,
               string_agg(event_type, '>'
                          ORDER BY ts, event_id) AS transcript
        FROM sessions GROUP BY 1, 2
    ), pats(pattern, re) AS (VALUES {_PAT_VALUES})
    SELECT t.day, p.pattern, count(*) AS n_sessions,
           CAST(sum(CASE WHEN regexp_matches(t.transcript, p.re)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           round(CAST(sum(CASE WHEN regexp_matches(t.transcript, p.re)
                              THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS match_rate
    FROM tr t CROSS JOIN pats p
    GROUP BY 1, 2 ORDER BY 1, 2
"""
QUERIES["session_pattern_match"] = session_pattern_match


def funnel_latency_percentiles(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Conversion LATENCY distribution per day: within each session,
    seconds from the first view to the first subsequent purchase —
    `funnel_view_click_purchase` counts who converts, this measures
    how long conversion takes (the p90 is the SLA-style number a
    checkout-performance review tracks; a p50/p90 spread widening is
    friction).  Exact interpolated percentiles over fractional-second
    epochs.

    Rides the sessionizer's shuffle; per-session stage timestamps are
    two conditional minima (the funnel idiom — no self-joins), the
    per-day percentile pass runs over conversion-count rows."""
    from ..streaming.queries import sessionize_events
    sess = sessionize_events(load_table(spark, sf_dir, "events"))
    per = (sess.groupBy("user_id", "session_id")
           .agg(F.min(F.when(F.col("event_type") == "view", F.col("ts")))
                .alias("t_view"),
                F.min(F.to_date("ts")).alias("day")))
    buys = (sess.where(F.col("event_type") == "purchase")
            .join(per, ["user_id", "session_id"])
            .where(F.col("ts") > F.col("t_view"))
            .groupBy("user_id", "session_id", "day", "t_view")
            .agg(F.min("ts").alias("t_buy")))
    lat = buys.select(
        "day", F.round(F.col("t_buy").cast("double")
                       - F.col("t_view").cast("double"), 3)
        .alias("latency_s"))
    return (lat.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_conversions"),
                 F.round(F.percentile("latency_s", F.lit(0.5)), 3)
                 .alias("p50_s"),
                 F.round(F.percentile("latency_s", F.lit(0.9)), 3)
                 .alias("p90_s"))
            .orderBy("day"))


ORACLES["funnel_latency_percentiles"] = """
    WITH flagged AS (
        SELECT *,
               CASE WHEN lag(epoch(ts)) OVER sw IS NULL
                         OR epoch(ts) - lag(epoch(ts)) OVER sw > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW sw AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT *, CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
    ), per AS (
        SELECT user_id, session_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CAST(ts AS DATE)) AS day
        FROM sessions GROUP BY 1, 2
    ), buys AS (
        SELECT s.user_id, s.session_id, p.day, p.t_view,
               min(s.ts) AS t_buy
        FROM sessions s JOIN per p USING (user_id, session_id)
        WHERE s.event_type = 'purchase' AND s.ts > p.t_view
        GROUP BY 1, 2, 3, 4
    ), lat AS (
        SELECT day, round(epoch(t_buy) - epoch(t_view), 3) AS latency_s
        FROM buys
    )
    SELECT day, count(*) AS n_conversions,
           round(quantile_cont(latency_s, 0.5), 3) AS p50_s,
           round(quantile_cont(latency_s, 0.9), 3) AS p90_s
    FROM lat GROUP BY 1 ORDER BY 1
"""
QUERIES["funnel_latency_percentiles"] = funnel_latency_percentiles


def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration report: the Gini coefficient of per-
    customer revenue (the Lorenz-curve summary; Gini 1912 via the
    rank-weighted closed form G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n) plus
    the top-10% revenue share — the whale-dependence read that pairs
    with `parts_abc_pareto` (ABC classifies the catalog; this scores
    how skewed the CUSTOMER side is, the number a pricing or risk team
    tracks quarter over quarter).

    Exactness: revenue is exact integer cents; the rank weights come
    from one deterministic row_number (revenue, custkey); Σ i·x stays
    BIGINT (≤ ~6e16 at sf0.1 — exact through sf10, where the same
    closed form would move to DECIMAL(38)); the two final ratios are
    single double divisions of identical integers on both engines.
    Scale: one customer-keyed aggregate, then the DISTRIBUTED exact
    rank (``operators.ranked.global_rank``, r9 — per-partition sort +
    offset prefix sum, the two-pass form this docstring used to only
    promise), and a 3-scalar reduce."""
    from qrapids_forecast_r_script_spark.operators.ranked import global_rank
    orders = load_table(spark, sf_dir, "orders")
    rev = (orders.groupBy("o_custkey")
           .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0)
                      .cast("long")).alias("rev_cents")))
    ranked = global_rank(
        rev, [F.col("rev_cents").asc(), F.col("o_custkey").asc()],
        rank_col="i")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("rev_cents").alias("st"),
        F.sum(F.col("i") * F.col("rev_cents")).alias("s1"))
    n = F.col("n_customers").cast("double")
    gini = (F.lit(2.0) * F.col("s1").cast("double")
            / (n * F.col("st").cast("double"))
            - (n + F.lit(1.0)) / n)
    k = (F.col("n_customers") / F.lit(10)).cast("long")
    top = (ranked.crossJoin(F.broadcast(
        agg.select("n_customers", "st")))
        .where(F.col("i") > F.col("n_customers") - k)
        .agg(F.sum("rev_cents").alias("top_cents"),
             F.max("st").alias("st2"),
             F.max("n_customers").alias("nc2")))
    return (agg.crossJoin(F.broadcast(top))
            .select("n_customers",
                    F.round(F.col("st").cast("double") / 100, 2)
                    .alias("total_revenue"),
                    F.round(gini, 6).alias("gini"),
                    F.round(F.col("top_cents").cast("double")
                            / F.col("st").cast("double"), 6)
                    .alias("top10pct_share")))


ORACLES["customer_revenue_gini"] = """
    WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT *, CAST(row_number() OVER (
                   ORDER BY rev_cents ASC, o_custkey ASC) AS BIGINT)
                   AS i
        FROM rev
    ), a AS (
        SELECT CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(rev_cents) AS BIGINT) AS st,
               CAST(sum(i * rev_cents) AS BIGINT) AS s1
        FROM ranked
    ), top AS (
        SELECT CAST(sum(r.rev_cents) AS BIGINT) AS top_cents
        FROM ranked r CROSS JOIN a
        WHERE r.i > a.n_customers - a.n_customers // 10
    )
    SELECT a.n_customers,
           round(CAST(st AS DOUBLE) / 100, 2) AS total_revenue,
           round(CAST(2 AS DOUBLE) * CAST(s1 AS DOUBLE)
                 / (CAST(n_customers AS DOUBLE) * CAST(st AS DOUBLE))
                 - (CAST(n_customers AS DOUBLE) + CAST(1 AS DOUBLE))
                   / CAST(n_customers AS DOUBLE), 6) AS gini,
           round(CAST(top_cents AS DOUBLE) / CAST(st AS DOUBLE), 6)
               AS top10pct_share
    FROM a CROSS JOIN top
"""
QUERIES["customer_revenue_gini"] = customer_revenue_gini


def cohort_ltv_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix — the revenue companion of
    `cohort_retention_weekly`: customers are grouped by FIRST-ORDER
    month (the acquisition cohort), and each (cohort, age-in-months)
    cell reports that month's revenue per cohort customer plus the
    running CUMULATIVE LTV — the table a growth team reads to compare
    acquisition vintages at equal age and to see where payback
    crosses CAC.

    Exactness: months are integer year·12+month arithmetic (no
    date-diff rounding), revenue is exact integer cents, and the
    cumulative sum runs over integers before the single per-cell
    division.  Scale: one customer-keyed min (first order), one
    equi-join shipping only (custkey, cohort), one (cohort, age)
    aggregate, and a per-cohort cumulative window over the bounded
    (#months)² matrix — map-side combine everywhere; no row ever
    carries more than three integers."""
    from pyspark.sql.window import Window
    orders = load_table(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .alias("mkey"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long")
        .alias("cents"))
    first = (keyed.groupBy("o_custkey")
             .agg(F.min("mkey").alias("cohort_mkey")))
    sizes = (first.groupBy("cohort_mkey")
             .agg(F.count(F.lit(1)).alias("n_customers")))
    cells = (keyed.join(first, "o_custkey")
             .groupBy("cohort_mkey",
                      (F.col("mkey") - F.col("cohort_mkey"))
                      .alias("age_months"))
             .agg(F.sum("cents").alias("rev_cents")))
    wc = (Window.partitionBy("cohort_mkey").orderBy("age_months")
          .rowsBetween(Window.unboundedPreceding, 0))
    out = (cells.join(sizes, "cohort_mkey")
           .withColumn("cum_cents", F.sum("rev_cents").over(wc)))
    ym = F.format_string(
        "%04d-%02d", (F.col("cohort_mkey") / 12).cast("int"),
        (F.col("cohort_mkey") % 12 + 1).cast("int"))
    per = lambda c: F.round(  # noqa: E731
        F.col(c).cast("double") / F.col("n_customers").cast("double")
        / 100, 6)
    return (out.select(ym.alias("cohort_month"), "age_months",
                       "n_customers",
                       F.round(F.col("rev_cents").cast("double") / 100,
                               2).alias("revenue"),
                       per("rev_cents").alias("rev_per_customer"),
                       per("cum_cents").alias("ltv_per_customer"))
            .orderBy("cohort_month", "age_months"))


ORACLES["cohort_ltv_matrix"] = """
    WITH keyed AS (
        SELECT o_custkey,
               year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mkey,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders
    ), first AS (
        SELECT o_custkey, min(mkey) AS cohort_mkey
        FROM keyed GROUP BY 1
    ), sizes AS (
        SELECT cohort_mkey, count(*) AS n_customers
        FROM first GROUP BY 1
    ), cells AS (
        SELECT f.cohort_mkey, k.mkey - f.cohort_mkey AS age_months,
               CAST(sum(k.cents) AS BIGINT) AS rev_cents
        FROM keyed k JOIN first f USING (o_custkey)
        GROUP BY 1, 2
    ), cum AS (
        SELECT c.*, s.n_customers,
               CAST(sum(c.rev_cents) OVER (
                        PARTITION BY c.cohort_mkey
                        ORDER BY c.age_months
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS cum_cents
        FROM cells c JOIN sizes s USING (cohort_mkey)
    )
    SELECT printf('%04d-%02d', cohort_mkey // 12,
                  cohort_mkey % 12 + 1) AS cohort_month,
           age_months, n_customers,
           round(CAST(rev_cents AS DOUBLE) / 100, 2) AS revenue,
           round(CAST(rev_cents AS DOUBLE)
                 / CAST(n_customers AS DOUBLE) / 100, 6)
               AS rev_per_customer,
           round(CAST(cum_cents AS DOUBLE)
                 / CAST(n_customers AS DOUBLE) / 100, 6)
               AS ltv_per_customer
    FROM cum ORDER BY cohort_month, age_months
"""
QUERIES["cohort_ltv_matrix"] = cohort_ltv_matrix


_CUPED_G = 1_000     # milli value grid: keeps Σ X·Y exact-BIGINT


def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B readout (Deng, Xu, Kohavi & Walker 2013) on
    the deterministic md5 50/50 user split: the post-period per-user
    spend metric Y is adjusted by the PRE-period covariate X
    (Y' = Y − θ(X − X̄), θ = cov(X,Y)/var(X)), shrinking metric
    variance by the squared X-Y correlation — the standard trick that
    turns a 4-week experiment into a 2-week one.  Reports the raw and
    adjusted mean differences, θ, the measured variance-reduction
    ratio, and both z statistics; on this hash split (an A/A by
    construction) the adjusted diff must stay not-significant while
    the variance reduction is real.

    Exactness: per-user X/Y land on the 1e-3 BIGINT grid, so every
    power sum (ΣX, ΣY, ΣXY, ΣX², pooled) is exact integer arithmetic;
    θ is one double division, and the adjusted values are re-snapped
    to the grid before the second-moment pass (two-pass, aggregation-
    order-free).  Scale: one user-keyed aggregate (the only wide
    stage), two global power-sum reductions, one broadcast θ."""
    ev = load_table(spark, sf_dir, "events")
    arm = md5_int(F.col("user_id").cast("string")) % 2
    pre = F.dayofmonth("ts") < 16
    users = (ev.groupBy("user_id")
             .agg(F.round(F.coalesce(
                 F.sum(F.when(pre, F.col("value"))), F.lit(0.0)), 6)
                 .alias("x"),
                 F.round(F.coalesce(
                     F.sum(F.when(~pre, F.col("value"))), F.lit(0.0)),
                     6).alias("y"))
             .select("user_id", arm.alias("arm"),
                     F.round(F.col("x") * _CUPED_G, 0).cast("long")
                     .alias("xg"),
                     F.round(F.col("y") * _CUPED_G, 0).cast("long")
                     .alias("yg")))
    pooled = users.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xg").alias("sx"), F.sum("yg").alias("sy"),
        F.sum(F.col("xg") * F.col("yg")).alias("sxy"),
        F.sum(F.col("xg") * F.col("xg")).alias("sxx"))
    nD = F.col("n").cast("double")
    mx = F.col("sx").cast("double") / nD
    my = F.col("sy").cast("double") / nD
    cov = F.col("sxy").cast("double") / nD - mx * my
    varx = F.col("sxx").cast("double") / nD - mx * mx
    theta = cov / F.nullif(varx, F.lit(0.0))
    th = (pooled.select(theta.alias("theta"), mx.alias("mx"))
          .withColumn("theta", F.round("theta", 6)))
    adj = (users.crossJoin(F.broadcast(th))
           .select("arm", "yg",
                   F.round(F.col("yg").cast("double")
                           - F.col("theta")
                           * (F.col("xg").cast("double")
                              - F.col("mx")), 0)
                   .cast("long").alias("ag")))
    arms = (adj.groupBy("arm")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("yg").alias("sy"), F.sum("ag").alias("sa"),
                 F.sum(F.col("yg") * F.col("yg")).alias("syy"),
                 F.sum(F.col("ag") * F.col("ag")).alias("saa")))
    a = arms.where(F.col("arm") == 0).select(
        *[F.col(c).alias(f"{c}_a") for c in
          ("n", "sy", "sa", "syy", "saa")])
    b = arms.where(F.col("arm") == 1).select(
        *[F.col(c).alias(f"{c}_b") for c in
          ("n", "sy", "sa", "syy", "saa")])
    j = a.crossJoin(b)
    g = float(_CUPED_G)

    def _stats(s_a, s_b, q_a, q_b):
        na = F.col("n_a").cast("double")
        nb = F.col("n_b").cast("double")
        ma = F.col(s_a).cast("double") / na
        mb = F.col(s_b).cast("double") / nb
        va = F.col(q_a).cast("double") / na - ma * ma
        vb = F.col(q_b).cast("double") / nb - mb * mb
        sp = (na * va + nb * vb) / (na + nb - 2)
        z = ((ma - mb)
             / F.nullif(F.sqrt(sp * (1 / na + 1 / nb)), F.lit(0.0)))
        return (ma - mb) / g, z, (na * va + nb * vb) / (na + nb)

    d_raw, z_raw, v_raw = _stats("sy_a", "sy_b", "syy_a", "syy_b")
    d_adj, z_adj, v_adj = _stats("sa_a", "sa_b", "saa_a", "saa_b")
    return (j.crossJoin(F.broadcast(th.select("theta")))
            .select("n_a", "n_b",
                    F.round(d_raw, 6).alias("diff_raw"),
                    F.round(z_raw, 6).alias("z_raw"),
                    F.round(d_adj, 6).alias("diff_cuped"),
                    F.round(z_adj, 6).alias("z_cuped"),
                    "theta",
                    F.round(F.lit(1.0)
                            - v_adj / F.nullif(v_raw, F.lit(0.0)), 6)
                    .alias("var_reduction")))


ORACLES["ab_test_cuped"] = f"""
    WITH users AS (
        SELECT user_id,
               CAST(round(round(coalesce(sum(CASE WHEN
                        day(CAST(ts AS TIMESTAMP)) < 16
                        THEN value END), 0), 6) * {_CUPED_G}, 0)
                    AS BIGINT) AS xg,
               CAST(round(round(coalesce(sum(CASE WHEN
                        day(CAST(ts AS TIMESTAMP)) >= 16
                        THEN value END), 0), 6) * {_CUPED_G}, 0)
                    AS BIGINT) AS yg,
               (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    ::BIGINT % 2) AS arm
        FROM events GROUP BY user_id
    ), pooled AS (
        SELECT count(*) AS n,
               CAST(sum(xg) AS BIGINT) AS sx,
               CAST(sum(yg) AS BIGINT) AS sy,
               CAST(sum(xg * yg) AS BIGINT) AS sxy,
               CAST(sum(xg * xg) AS BIGINT) AS sxx
        FROM users
    ), th AS (
        SELECT round((CAST(sxy AS DOUBLE) / n
                      - (CAST(sx AS DOUBLE) / n)
                        * (CAST(sy AS DOUBLE) / n))
                     / nullif(CAST(sxx AS DOUBLE) / n
                              - (CAST(sx AS DOUBLE) / n)
                                * (CAST(sx AS DOUBLE) / n),
                              CAST(0 AS DOUBLE)), 6) AS theta,
               CAST(sx AS DOUBLE) / n AS mx
        FROM pooled
    ), adj AS (
        SELECT u.arm, u.yg,
               CAST(round(CAST(u.yg AS DOUBLE)
                          - t.theta * (CAST(u.xg AS DOUBLE) - t.mx),
                          0) AS BIGINT) AS ag
        FROM users u CROSS JOIN th t
    ), arms AS (
        SELECT arm, count(*) AS n,
               CAST(sum(yg) AS BIGINT) AS sy,
               CAST(sum(ag) AS BIGINT) AS sa,
               CAST(sum(yg * yg) AS BIGINT) AS syy,
               CAST(sum(ag * ag) AS BIGINT) AS saa
        FROM adj GROUP BY 1
    ), j AS (
        SELECT a.n AS n_a, a.sy AS sy_a, a.sa AS sa_a,
               a.syy AS syy_a, a.saa AS saa_a,
               b.n AS n_b, b.sy AS sy_b, b.sa AS sa_b,
               b.syy AS syy_b, b.saa AS saa_b
        FROM (SELECT * FROM arms WHERE arm = 0) a
        CROSS JOIN (SELECT * FROM arms WHERE arm = 1) b
    )
    SELECT n_a, n_b,
           round((CAST(sy_a AS DOUBLE) / n_a
                  - CAST(sy_b AS DOUBLE) / n_b) / {_CUPED_G}, 6)
               AS diff_raw,
           round((CAST(sy_a AS DOUBLE) / n_a
                  - CAST(sy_b AS DOUBLE) / n_b)
                 / nullif(sqrt(((n_a * (CAST(syy_a AS DOUBLE) / n_a
                          - (CAST(sy_a AS DOUBLE) / n_a)
                            * (CAST(sy_a AS DOUBLE) / n_a))
                        + n_b * (CAST(syy_b AS DOUBLE) / n_b
                          - (CAST(sy_b AS DOUBLE) / n_b)
                            * (CAST(sy_b AS DOUBLE) / n_b)))
                       / (n_a + n_b - 2))
                      * (CAST(1 AS DOUBLE) / n_a
                         + CAST(1 AS DOUBLE) / n_b)),
                          CAST(0 AS DOUBLE)), 6) AS z_raw,
           round((CAST(sa_a AS DOUBLE) / n_a
                  - CAST(sa_b AS DOUBLE) / n_b) / {_CUPED_G}, 6)
               AS diff_cuped,
           round((CAST(sa_a AS DOUBLE) / n_a
                  - CAST(sa_b AS DOUBLE) / n_b)
                 / nullif(sqrt(((n_a * (CAST(saa_a AS DOUBLE) / n_a
                          - (CAST(sa_a AS DOUBLE) / n_a)
                            * (CAST(sa_a AS DOUBLE) / n_a))
                        + n_b * (CAST(saa_b AS DOUBLE) / n_b
                          - (CAST(sa_b AS DOUBLE) / n_b)
                            * (CAST(sa_b AS DOUBLE) / n_b)))
                       / (n_a + n_b - 2))
                      * (CAST(1 AS DOUBLE) / n_a
                         + CAST(1 AS DOUBLE) / n_b)),
                          CAST(0 AS DOUBLE)), 6) AS z_cuped,
           (SELECT theta FROM th) AS theta,
           round(CAST(1 AS DOUBLE)
                 - ((n_a * (CAST(saa_a AS DOUBLE) / n_a
                      - (CAST(sa_a AS DOUBLE) / n_a)
                        * (CAST(sa_a AS DOUBLE) / n_a))
                     + n_b * (CAST(saa_b AS DOUBLE) / n_b
                      - (CAST(sa_b AS DOUBLE) / n_b)
                        * (CAST(sa_b AS DOUBLE) / n_b)))
                    / (n_a + n_b))
                 / nullif(((n_a * (CAST(syy_a AS DOUBLE) / n_a
                      - (CAST(sy_a AS DOUBLE) / n_a)
                        * (CAST(sy_a AS DOUBLE) / n_a))
                     + n_b * (CAST(syy_b AS DOUBLE) / n_b
                      - (CAST(sy_b AS DOUBLE) / n_b)
                        * (CAST(sy_b AS DOUBLE) / n_b)))
                    / (n_a + n_b)), CAST(0 AS DOUBLE)), 6)
               AS var_reduction
    FROM j
"""
QUERIES["ab_test_cuped"] = ab_test_cuped


_SRM_CRIT = 3.841459   # chi-square df=1 upper 5% point


def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail (Fabijan et al. 2019 — the #1
    invalidity check an experimentation platform runs before ANY
    metric is read): for the 50/50 md5 split, the per-segment arm
    counts and the df=1 chi-square (n_a − n_b)²/n against the 3.84
    5% critical value — overall plus per event_type, because a
    passing overall SRM frequently hides a failing segment (the
    debugging view the reference papers recommend).  Users who fire
    several event types appear in each of their segments — segment
    membership, not a partition.

    Every statistic derives from exact integer user counts; the
    chi-square is one double division.  One distinct (segment, user)
    aggregate and a 6-row reduce."""
    ev = load_table(spark, sf_dir, "events")
    arm = md5_int(F.col("user_id").cast("string")) % 2
    seg_users = (ev.select(F.col("event_type").alias("segment"),
                           "user_id")
                 .unionAll(ev.select(F.lit("_overall").alias("segment"),
                                     "user_id"))
                 .distinct()
                 .withColumn("arm", arm))
    counts = (seg_users.groupBy("segment")
              .agg(F.sum((F.col("arm") == 0).cast("long")).alias("n_a"),
                   F.sum((F.col("arm") == 1).cast("long")).alias("n_b")))
    n = F.col("n_a") + F.col("n_b")
    chi2 = (((F.col("n_a") - F.col("n_b"))
             * (F.col("n_a") - F.col("n_b"))).cast("double")
            / F.nullif(n.cast("double"), F.lit(0.0)))
    return (counts.select(
        "segment", "n_a", "n_b",
        F.round(F.col("n_a").cast("double")
                / F.nullif(n.cast("double"), F.lit(0.0)), 6)
        .alias("share_a"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > F.lit(_SRM_CRIT)).alias("srm_detected"))
        .orderBy("segment"))


ORACLES["ab_srm_check"] = f"""
    WITH seg_users AS (
        SELECT DISTINCT segment, user_id FROM (
            SELECT event_type AS segment, user_id FROM events
            UNION ALL
            SELECT '_overall' AS segment, user_id FROM events)
    ), counts AS (
        SELECT segment,
               CAST(sum(CASE WHEN
                   ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                       ::BIGINT % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(sum(CASE WHEN
                   ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                       ::BIGINT % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b
        FROM seg_users GROUP BY 1
    )
    SELECT segment, n_a, n_b,
           round(CAST(n_a AS DOUBLE)
                 / nullif(CAST(n_a + n_b AS DOUBLE),
                          CAST(0 AS DOUBLE)), 6) AS share_a,
           round(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                 / nullif(CAST(n_a + n_b AS DOUBLE),
                          CAST(0 AS DOUBLE)), 6) AS chi2,
           (CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
            / nullif(CAST(n_a + n_b AS DOUBLE), CAST(0 AS DOUBLE)))
               > CAST({_SRM_CRIT} AS DOUBLE) AS srm_detected
    FROM counts ORDER BY segment
"""
QUERIES["ab_srm_check"] = ab_srm_check


def session_sequence_pairs(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Sequential-pattern support mining (Agrawal & Srikant 1996 GSP,
    length-2 patterns): for every ORDERED event-type pair a→b, the
    number of sessions containing some a strictly before some b, its
    support, and the sequence-confidence P(a→b | session contains a)
    — the frequent-subsequence census that generalizes
    `event_transition_matrix` (adjacent steps only) to ANY-gap
    ordering, the difference between "click then later purchase" and
    "click immediately followed by purchase".

    A session supports a→b iff its first a precedes its last b, so
    per session only (type, min_pos, max_pos) is kept — |types| rows
    per session, never the quadratic event-pair explode; the pattern
    join is |types|² inside each session.  Exact integer counts;
    support/confidence are single divisions.  One shuffle on user_id
    (the shared sessionizer) + one (a,b)-keyed count."""
    from pyspark.sql.window import Window
    from ..streaming.queries import sessionize_events
    sess = sessionize_events(load_table(spark, sf_dir, "events"))
    w = (Window.partitionBy("user_id", "session_id")
         .orderBy("ts", "event_id"))
    pos = (sess.withColumn("p", F.row_number().over(w))
           .groupBy("user_id", "session_id", "event_type")
           .agg(F.min("p").alias("first_p"),
                F.max("p").alias("last_p")))
    n_sessions = (sess.select("user_id", "session_id").distinct()
                  .count())
    a = pos.select("user_id", "session_id",
                   F.col("event_type").alias("ante"),
                   F.col("first_p").alias("fp"))
    b = pos.select("user_id", "session_id",
                   F.col("event_type").alias("cons"),
                   F.col("last_p").alias("lp"))
    supp = (a.join(b, ["user_id", "session_id"])
            .where((F.col("ante") != F.col("cons"))
                   & (F.col("fp") < F.col("lp")))
            .groupBy("ante", "cons")
            .agg(F.count(F.lit(1)).alias("n_support")))
    ante_n = (pos.groupBy(F.col("event_type").alias("ante"))
              .agg(F.count(F.lit(1)).alias("n_ante")))
    return (supp.join(F.broadcast(ante_n), "ante")
            .select("ante", "cons", "n_support",
                    F.round(F.col("n_support").cast("double")
                            / F.lit(float(n_sessions)), 6)
                    .alias("support"),
                    F.round(F.col("n_support").cast("double")
                            / F.col("n_ante").cast("double"), 6)
                    .alias("confidence"))
            .orderBy("ante", "cons"))


ORACLES["session_sequence_pairs"] = f"""
    WITH {SESSIONIZED_SQL}, pos AS (
        SELECT user_id, session_id, event_type,
               min(p) AS first_p, max(p) AS last_p
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY user_id, session_id
                  ORDER BY ts, event_id) AS p
              FROM sessions)
        GROUP BY 1, 2, 3
    ), ns AS (
        SELECT count(*) AS n_sessions FROM (
            SELECT DISTINCT user_id, session_id FROM sessions)
    ), supp AS (
        SELECT a.event_type AS ante, b.event_type AS cons,
               count(*) AS n_support
        FROM pos a
        JOIN pos b ON a.user_id = b.user_id
                  AND a.session_id = b.session_id
                  AND a.event_type != b.event_type
                  AND a.first_p < b.last_p
        GROUP BY 1, 2
    ), ante_n AS (
        SELECT event_type AS ante, count(*) AS n_ante
        FROM pos GROUP BY 1
    )
    SELECT s.ante, s.cons, s.n_support,
           round(CAST(s.n_support AS DOUBLE)
                 / CAST((SELECT n_sessions FROM ns) AS DOUBLE), 6)
               AS support,
           round(CAST(s.n_support AS DOUBLE)
                 / CAST(a.n_ante AS DOUBLE), 6) AS confidence
    FROM supp s JOIN ante_n a USING (ante)
    ORDER BY s.ante, s.cons
"""
QUERIES["session_sequence_pairs"] = session_sequence_pairs


def _user_purchase_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, cents, arm): every user's exact integer purchase cents
    (0 for users who never purchased) and their md5 hash arm — the
    metric the per-user A/B tests compare."""
    ev = load_table(spark, sf_dir, "events")
    arm = md5_int(F.col("user_id").cast("string")) % 2
    return (ev.groupBy("user_id")
            .agg(F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase",
                             F.round(F.col("value") * 100, 0)
                             .cast("long"))), F.lit(0).cast("long"))
                .alias("cents"))
            .withColumn("arm", arm))


def _cents_tier_ranks(users: DataFrame) -> DataFrame:
    """Distinct-value tiers of ``users.cents`` with their size ``t``,
    arm-0 count ``t_a`` and tie-averaged rank ``avg_rank`` — ranks over
    value cardinality instead of a global per-user window."""
    tiers = (users.groupBy("cents")
             .agg(F.count(F.lit(1)).alias("t"),
                  F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
                  .alias("t_a")))
    w = (Window.orderBy("cents")
         .rowsBetween(Window.unboundedPreceding, -1))
    return (tiers
            .withColumn("cum_before",
                        F.coalesce(F.sum("t").over(w),
                                   F.lit(0).cast("long")))
            .withColumn("avg_rank",
                        F.col("cum_before")
                        + (F.col("t") + 1) / F.lit(2.0)))


def ab_mannwhitney_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test on per-user purchase
    revenue between the two hash arms — the NONPARAMETRIC sibling of
    `ab_test_report`'s proportion z-test: revenue per user is heavy-
    tailed, so the mean-based test is whale-dominated while the
    rank-based U statistic is outlier-robust — the reason
    experimentation platforms report both.  On the deterministic A/A
    hash split the verdict must come back not-significant (and does).

    Revenue is EXACT integer cents (the float-sum ranks-flip hazard:
    ranks are discontinuous in their input, so the metric must be
    bit-stable before ranking).  Ranks use the tie-average convention
    with the classic tie-corrected normal approximation: sigma² =
    n_a·n_b/12 · ((N+1) − Σ(t³−t)/(N(N−1))) (Lehmann,
    "Nonparametrics", the R ``wilcox.test`` correction).

    Scale shape: ranks are NOT computed with a global per-user window
    — per-user cent totals aggregate to DISTINCT VALUE tiers (value
    cardinality, not user cardinality), the running tie-average rank
    is one ordered pass over tiers (the skyline sort-scan pattern),
    and the rank SUM per arm folds back with exact half-integer
    arithmetic.  Three narrow aggregates, one tiny sort, one-row
    output."""
    ranked = _cents_tier_ranks(_user_purchase_cents(spark, sf_dir))
    agg = ranked.agg(
        F.sum("t_a").alias("n_a"),
        F.sum(F.col("t") - F.col("t_a")).alias("n_b"),
        F.sum(F.col("t_a") * F.col("avg_rank")).alias("r_a"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .alias("tie_sum"))
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    nn = n_a + n_b
    u_a = F.col("r_a") - n_a * (n_a + 1) / 2
    mean_u = n_a * n_b / 2
    sigma = F.sqrt(n_a * n_b / 12
                   * ((nn + 1)
                      - F.col("tie_sum").cast("double")
                      / (nn * (nn - 1))))
    z = (u_a - mean_u) / F.nullif(sigma, F.lit(0.0))
    return agg.select(
        "n_a", "n_b",
        F.round(u_a, 1).alias("u_a"),
        F.round(mean_u, 1).alias("mean_u"),
        F.col("tie_sum"),
        F.round(sigma, 6).alias("sigma_u"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > _AB_Z_CRIT).alias("significant"))


QUERIES["ab_mannwhitney_test"] = ab_mannwhitney_test
ORACLES["ab_mannwhitney_test"] = f"""
    WITH users AS (
        SELECT user_id,
               coalesce(sum(CASE WHEN event_type = 'purchase'
                            THEN CAST(round(value * 100, 0) AS BIGINT)
                            END), 0) AS cents,
               (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    ::BIGINT % 2) AS arm
        FROM events GROUP BY user_id
    ), tiers AS (
        SELECT cents, count(*) AS t,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS t_a
        FROM users GROUP BY cents
    ), ranked AS (
        SELECT *,
               coalesce(sum(t) OVER (ORDER BY cents
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS cum_before,
               coalesce(sum(t) OVER (ORDER BY cents
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0)
                   + (t + 1) / CAST(2 AS DOUBLE) AS avg_rank
        FROM tiers
    ), agg AS (
        SELECT CAST(sum(t_a) AS BIGINT) AS n_a,
               CAST(sum(t - t_a) AS BIGINT) AS n_b,
               sum(t_a * avg_rank) AS r_a,
               CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum
        FROM ranked
    )
    SELECT n_a, n_b,
           round(r_a - CAST(n_a AS DOUBLE) * (n_a + 1) / 2, 1) AS u_a,
           round(CAST(n_a AS DOUBLE) * n_b / 2, 1) AS mean_u,
           tie_sum,
           round(sqrt(CAST(n_a AS DOUBLE) * n_b / 12
                 * ((CAST(n_a + n_b AS DOUBLE) + 1)
                    - CAST(tie_sum AS DOUBLE)
                      / (CAST(n_a + n_b AS DOUBLE)
                         * (CAST(n_a + n_b AS DOUBLE) - 1)))), 6)
               AS sigma_u,
           round((r_a - CAST(n_a AS DOUBLE) * (n_a + 1) / 2
                  - CAST(n_a AS DOUBLE) * n_b / 2)
                 / nullif(sqrt(CAST(n_a AS DOUBLE) * n_b / 12
                   * ((CAST(n_a + n_b AS DOUBLE) + 1)
                      - CAST(tie_sum AS DOUBLE)
                        / (CAST(n_a + n_b AS DOUBLE)
                           * (CAST(n_a + n_b AS DOUBLE) - 1)))), 0),
                 6) AS z,
           abs((r_a - CAST(n_a AS DOUBLE) * (n_a + 1) / 2
                - CAST(n_a AS DOUBLE) * n_b / 2)
               / nullif(sqrt(CAST(n_a AS DOUBLE) * n_b / 12
                 * ((CAST(n_a + n_b AS DOUBLE) + 1)
                    - CAST(tie_sum AS DOUBLE)
                      / (CAST(n_a + n_b AS DOUBLE)
                         * (CAST(n_a + n_b AS DOUBLE) - 1)))), 0))
               > {_AB_Z_CRIT} AS significant
    FROM agg
"""


_DID_SPLIT = "2024-01-16 00:00:00"


def ab_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout over the hash arms with a
    mid-month period split — the quasi-experimental estimator (Card &
    Krueger 1994 canon) for "the change changed the change": each
    user contributes a pre-period and post-period purchase total, the
    per-user POST−PRE delta cancels user-level level effects, and the
    arm contrast of mean deltas cancels the common time trend — the
    parallel-trends identification.  On the A/A hash split the DiD
    estimate must be statistically zero (and is) — the calibration
    companion to `ab_test_report` / `ab_test_cuped` (which adjust a
    single-period readout; this one identifies from the time axis).

    Per-user cents are exact integers; the delta is an exact integer;
    only the mean/variance of deltas are IEEE.  SE is the two-sample
    Welch form sqrt(s²_t/n_t + s²_c/n_c) on the deltas.

    Scale: one user-keyed aggregate with conditional sums (map-side
    combined), one 2-row arm aggregate, one-row output — the
    experimentation envelope, no extra shuffle for the panel."""
    ev = load_table(spark, sf_dir, "events")
    arm = md5_int(F.col("user_id").cast("string")) % 2
    cents = F.round(F.col("value") * 100, 0).cast("long")
    is_purchase = F.col("event_type") == "purchase"
    post = F.col("ts") >= F.lit(_DID_SPLIT).cast("timestamp")
    users = (ev.groupBy("user_id")
             .agg(F.coalesce(F.sum(F.when(is_purchase & ~post, cents)),
                             F.lit(0).cast("long")).alias("pre"),
                  F.coalesce(F.sum(F.when(is_purchase & post, cents)),
                             F.lit(0).cast("long")).alias("post"))
             .withColumn("arm", arm)
             .withColumn("delta", F.col("post") - F.col("pre")))
    arms = (users.groupBy("arm")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.avg(F.col("delta").cast("double")).alias("mean_d"),
                 F.var_samp(F.col("delta").cast("double")).alias("var_d")))
    t = arms.where(F.col("arm") == 1).select(
        F.col("n").alias("n_t"), F.col("mean_d").alias("mean_t"),
        F.col("var_d").alias("var_t"))
    c = arms.where(F.col("arm") == 0).select(
        F.col("n").alias("n_c"), F.col("mean_d").alias("mean_c"),
        F.col("var_d").alias("var_c"))
    j = t.crossJoin(c)
    did = F.col("mean_t") - F.col("mean_c")
    se = F.sqrt(F.col("var_t") / F.col("n_t")
                + F.col("var_c") / F.col("n_c"))
    z = did / F.nullif(se, F.lit(0.0))
    return j.select(
        "n_t", "n_c",
        F.round(F.col("mean_t") / 100, 6).alias("mean_delta_t"),
        F.round(F.col("mean_c") / 100, 6).alias("mean_delta_c"),
        F.round(did / 100, 6).alias("did_estimate"),
        F.round(se / 100, 6).alias("se"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > _AB_Z_CRIT).alias("significant"))


QUERIES["ab_diff_in_diff"] = ab_diff_in_diff
ORACLES["ab_diff_in_diff"] = f"""
    WITH users AS (
        SELECT user_id,
               coalesce(sum(CASE WHEN event_type = 'purchase'
                                  AND ts < TIMESTAMP '{_DID_SPLIT}'
                            THEN CAST(round(value * 100, 0) AS BIGINT)
                            END), 0) AS pre,
               coalesce(sum(CASE WHEN event_type = 'purchase'
                                  AND ts >= TIMESTAMP '{_DID_SPLIT}'
                            THEN CAST(round(value * 100, 0) AS BIGINT)
                            END), 0) AS post,
               (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    ::BIGINT % 2) AS arm
        FROM events GROUP BY user_id
    ), deltas AS (
        SELECT arm, CAST(post - pre AS DOUBLE) AS delta FROM users
    ), arms AS (
        SELECT arm, count(*) AS n, avg(delta) AS mean_d,
               var_samp(delta) AS var_d
        FROM deltas GROUP BY arm
    ), t AS (SELECT n AS n_t, mean_d AS mean_t, var_d AS var_t
             FROM arms WHERE arm = 1),
    c AS (SELECT n AS n_c, mean_d AS mean_c, var_d AS var_c
          FROM arms WHERE arm = 0)
    SELECT n_t, n_c,
           round(mean_t / 100, 6) AS mean_delta_t,
           round(mean_c / 100, 6) AS mean_delta_c,
           round((mean_t - mean_c) / 100, 6) AS did_estimate,
           round(sqrt(var_t / n_t + var_c / n_c) / 100, 6) AS se,
           round((mean_t - mean_c)
                 / nullif(sqrt(var_t / n_t + var_c / n_c), 0), 6) AS z,
           abs((mean_t - mean_c)
               / nullif(sqrt(var_t / n_t + var_c / n_c), 0))
               > {_AB_Z_CRIT} AS significant
    FROM t CROSS JOIN c
"""


_BOOT_REPS = 200


def revenue_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric bootstrap confidence interval for MEAN DAILY
    purchase revenue (Efron 1979) — the distribution-free uncertainty
    read every KPI dashboard needs when n_days is small and revenue
    is skewed (the normal-theory ±1.96·s/√n the z-family assumes is
    exactly what the bootstrap replaces).  200 resamples of the
    daily-revenue vector with replacement, each replicate's mean, and
    the percentile CI (type-7 2.5/97.5) over replicate means.

    Resampling is DETERMINISTIC (the md5 sampling idiom): draw (r, j)
    picks day index ``md5(r || '_' || j) % n_days + 1`` — retry-stable
    and engine-identical, so the whole Monte Carlo is exactly
    SQL-oracled.  Daily revenue is exact integer cents; each
    replicate mean is ONE IEEE division.

    Scale shape: the resample matrix is reps × n_days JOIN rows
    against an n_days-row broadcast side — constant × tiny, never
    fact-bounded; the fact table is touched once by the daily
    aggregate.  reps is the knob."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.where(F.col("event_type") == "purchase")
             .groupBy(F.to_date("ts").alias("day"))
             .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                  .alias("cents")))
    from pyspark.sql.window import Window
    idx = (daily
           .withColumn("t", F.row_number().over(Window.orderBy("day")))
           .select("t", "cents"))
    nd = idx.agg(F.count(F.lit(1)).alias("n"))
    draws = (spark.range(1, _BOOT_REPS + 1)
             .select(F.col("id").alias("r"))
             .crossJoin(F.broadcast(nd))
             .select("r", "n",
                     F.explode(F.sequence(F.lit(1), F.col("n")))
                     .alias("j")))
    pick = md5_int(F.concat_ws("_", F.col("r"), F.col("j"))) % F.col("n") + 1
    reps = (draws.withColumn("t", pick)
            .join(F.broadcast(idx), "t")
            .groupBy("r")
            .agg((F.sum("cents").cast("double")
                  / F.max("n").cast("double")).alias("rep_mean")))
    base = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        (F.sum("cents").cast("double")
         / F.count(F.lit(1)).cast("double")).alias("mean0"))
    stats = reps.agg(
        F.count(F.lit(1)).alias("n_reps"),
        F.expr("percentile(rep_mean, 0.025)").alias("lo"),
        F.expr("percentile(rep_mean, 0.975)").alias("hi"),
        F.stddev_samp("rep_mean").alias("se"))
    return (base.crossJoin(stats)
            .select("n_days", "n_reps",
                    F.round(F.col("mean0") / 100, 6).alias("mean_daily"),
                    F.round(F.col("lo") / 100, 6).alias("ci_lo"),
                    F.round(F.col("hi") / 100, 6).alias("ci_hi"),
                    F.round(F.col("se") / 100, 6).alias("boot_se")))


QUERIES["revenue_bootstrap_ci"] = revenue_bootstrap_ci
ORACLES["revenue_bootstrap_ci"] = f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ), idx AS (
        SELECT row_number() OVER (ORDER BY day) AS t, cents FROM daily
    ), nd AS (SELECT count(*) AS n FROM idx),
    draws AS (
        SELECT r.r, g.j, nd.n,
               ('0x' || substr(md5(r.r || '_' || g.j), 1, 8))::BIGINT
                   % nd.n + 1 AS t
        FROM generate_series(1, {_BOOT_REPS}) r(r)
        CROSS JOIN nd
        CROSS JOIN generate_series(1, 366) g(j)
        WHERE g.j <= nd.n
    ), reps AS (
        SELECT d.r,
               CAST(sum(i.cents) AS DOUBLE)
                   / CAST(max(d.n) AS DOUBLE) AS rep_mean
        FROM draws d JOIN idx i ON d.t = i.t
        GROUP BY d.r
    ), base AS (
        SELECT count(*) AS n_days,
               CAST(sum(cents) AS DOUBLE) / count(*) AS mean0
        FROM daily
    ), stats AS (
        SELECT count(*) AS n_reps,
               quantile_cont(rep_mean, 0.025) AS lo,
               quantile_cont(rep_mean, 0.975) AS hi,
               stddev_samp(rep_mean) AS se
        FROM reps
    )
    SELECT n_days, n_reps,
           round(mean0 / 100, 6) AS mean_daily,
           round(lo / 100, 6) AS ci_lo,
           round(hi / 100, 6) AS ci_hi,
           round(se / 100, 6) AS boot_se
    FROM base CROSS JOIN stats
"""


_MS_ITERS = 2
_MS_DP = 6    # per-iteration resync rounding (the PageRank discipline)


def event_markov_stationary(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Stationary distribution of the within-session behavior Markov
    chain — `event_transition_matrix` read to its fixed point: two
    unrolled power iterations of pi' = pi·P from the uniform start,
    with 1e-6 end-of-iteration rounding (the PageRank engine-resync
    discipline), next to the EMPIRICAL event-type share.  The gap
    between the two columns is the behavioral-drift read: the chain
    says where sessions SETTLE, the share says where they ARE — a gap
    means the mix is still moving (onboarding cohorts, bots pinned in
    one state).

    Transition probabilities are exact integer-count ratios (one IEEE
    division each); the K×K matrix is type-cardinality, broadcast
    anywhere.  Scale: the transition count is the only fact-bound
    stage (shared with the matrix query); each iteration is a K²-row
    join-aggregate."""
    from pyspark.sql.window import Window
    from ..streaming.queries import sessionize_events
    sess = sessionize_events(load_table(spark, sf_dir, "events"))
    w = (Window.partitionBy("user_id", "session_id")
         .orderBy("ts", "event_id"))
    trans = (sess
             .withColumn("to_type", F.lead("event_type").over(w))
             .where(F.col("to_type").isNotNull())
             .groupBy(F.col("event_type").alias("from_type"), "to_type")
             .agg(F.count(F.lit(1)).alias("n")))
    wp = Window.partitionBy("from_type")
    # r9 (guide §2.4): cut the K×K transition matrix — states and each
    # unrolled power iteration reference it, so the uncut plan re-ran
    # the sessionize+lead chain per reference (16 planned scans) for a
    # type-cardinality-sized output
    pmat = trans.withColumn(
        "p", F.col("n") / F.sum("n").over(wp)).select(
        "from_type", "to_type", "p").localCheckpoint()
    states = pmat.select(F.col("from_type").alias("state")).distinct()
    k = states.agg(F.count(F.lit(1)).alias("k"))
    pi = (states.crossJoin(F.broadcast(k))
          .select("state", (F.lit(1.0) / F.col("k").cast("double"))
                  .alias("pi")))
    for _ in range(_MS_ITERS):
        contrib = (pi.join(pmat, pi["state"] == pmat["from_type"])
                   .groupBy(F.col("to_type").alias("state"))
                   .agg(F.round(F.sum(F.col("pi") * F.col("p")),
                                _MS_DP).alias("pi_new")))
        pi = (states.join(contrib, "state", "left")
              .select("state",
                      F.coalesce("pi_new", F.lit(0.0)).alias("pi")))
    emp = (sess.groupBy(F.col("event_type").alias("state"))
           .agg(F.count(F.lit(1)).alias("n_events")))
    tot = emp.agg(F.sum("n_events").alias("tot"))
    return (pi.join(emp, "state").crossJoin(F.broadcast(tot))
            .select(F.col("state").alias("event_type"),
                    F.col("pi").alias("stationary_p"),
                    F.round(F.col("n_events").cast("double")
                            / F.col("tot").cast("double"), 6)
                    .alias("empirical_share"))
            .orderBy("event_type"))


QUERIES["event_markov_stationary"] = event_markov_stationary


def _markov_stationary_oracle_sql() -> str:
    prev = "pi0"
    steps = []
    for i in range(_MS_ITERS):
        cur = f"pi{i + 1}"
        steps.append(f"""
        {cur} AS (
            SELECT st.state,
                   coalesce(c.pi_new, CAST(0 AS DOUBLE)) AS pi
            FROM states st LEFT JOIN (
                SELECT p.to_type AS state,
                       round(sum(q.pi * p.p), {_MS_DP}) AS pi_new
                FROM {prev} q JOIN pmat p ON q.state = p.from_type
                GROUP BY 1) c ON st.state = c.state
        )""")
        prev = cur
    from ..streaming.queries import SESSIONIZED_SQL
    return f"""
    WITH {SESSIONIZED_SQL}, trans AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id, session_id
                   ORDER BY ts, event_id) AS to_type
        FROM sessions
    ), counted AS (
        SELECT from_type, to_type, count(*) AS n
        FROM trans WHERE to_type IS NOT NULL GROUP BY 1, 2
    ), pmat AS (
        SELECT from_type, to_type,
               n / CAST(sum(n) OVER (PARTITION BY from_type)
                        AS DOUBLE) AS p
        FROM counted
    ), states AS (SELECT DISTINCT from_type AS state FROM pmat),
    kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM states),
    pi0 AS (
        SELECT state, CAST(1 AS DOUBLE) / kk.k AS pi
        FROM states CROSS JOIN kk
    ),{",".join(steps)},
    emp AS (
        SELECT event_type AS state, count(*) AS n_events
        FROM sessions GROUP BY 1
    ), tot AS (SELECT CAST(sum(n_events) AS DOUBLE) AS tot FROM emp)
    SELECT p.state AS event_type, p.pi AS stationary_p,
           round(e.n_events / t.tot, 6) AS empirical_share
    FROM {prev} p JOIN emp e ON p.state = e.state
    CROSS JOIN tot t
    ORDER BY 1
    """


ORACLES["event_markov_stationary"] = _markov_stationary_oracle_sql()


def ucb1_replay_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline UCB1 bandit replay over the daily event-type reward
    stream (Auer et al. 2002 UCB1; Li et al. 2011 replay evaluation)
    — the sequential-decision operator behind budget allocation and
    ranking-policy evaluation: warm-start by playing each arm once
    (day t = arm t), then each day play the arm maximizing
    mean_i + sqrt(2·ln(t)/n_i) against the LOGGED per-day per-type
    mean event value, and report the decision trace with cumulative
    reward.  Like `forecast_holtwinters_events` this is inherently
    sequential state — and like it, Spark 4's recursive-CTE engine
    runs the exact recursion natively: state = the per-arm
    (count, reward-sum) arrays, one recursion level per day.

    Determinism discipline: rewards are exact-integer-cents means
    (one IEEE division); UCB scores snap to the 1e-9 grid BEFORE the
    argmax (the discontinuous step — a last-ulp libm divergence would
    fork the whole trace), ties resolve to the lowest arm index via
    first-position semantics on both engines.

    Scale: the reward table is (days × types); each recursion level
    is a constant-size array update joined to ONE reward row — depth
    = days, the logged-policy replay envelope."""
    from pyspark.sql.window import Window
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    dayidx = days.withColumn(
        "t", F.row_number().over(Window.orderBy("day")))
    arms = (ev.select("event_type").distinct()
            .withColumn("a", F.row_number().over(
                Window.orderBy("event_type"))))
    cents = F.round(F.col("value") * 100, 0).cast("long")
    rewards = (dayidx.crossJoin(arms)
               .join(ev.select(F.to_date("ts").alias("day"),
                               F.col("event_type"), cents.alias("c"),
                               "event_id"),
                     ["day", "event_type"], "left")
               .groupBy("t", "a")
               .agg(F.round(F.coalesce(
                   F.sum("c").cast("double")
                   / F.count("event_id") / 100, F.lit(0.0)), 6)
                   .alias("r")))
    warm = (rewards.where(F.col("t") == F.col("a"))
            .select(F.col("a").alias("wa"), "r")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("wa", "r"))),
                lambda s: s["r"]).alias("s")))
    kk = arms.agg(F.max("a").cast("int").alias("k"))
    base = (kk.crossJoin(warm)
            .select("k", "s",
                    F.transform("s", lambda x: F.lit(1)).alias("n")))
    # checkpoint the static inputs ONCE (the rewards aggregate is an
    # events scan; arms feeds the final join); r10 _REC_ARRAY_STATE
    # (module note): the recursion body is now JOIN-FREE — the whole
    # (day x arm) reward grid rides in the recursion state as an
    # array-of-arrays, so every level folds to a driver-evaluated
    # LocalRelation (the old form paid ~5 scheduled jobs per day)
    base.localCheckpoint(eager=True) \
        .createOrReplaceTempView("qr_ucb_base")
    rewards.localCheckpoint(eager=True) \
        .createOrReplaceTempView("qr_ucb_rewards")
    arms.localCheckpoint(eager=True) \
        .createOrReplaceTempView("qr_ucb_arms")
    ucb = ("zip_with(w.sarr, w.narr, (s, n) -> "
           "round(s / n + sqrt(2.0D * ln(CAST(w.t AS DOUBLE)) / n), 9))")
    ch = f"array_position({ucb}, array_max({ucb}))"
    return spark.sql(f"""
        WITH RECURSIVE walk(t, rmat, narr, sarr, chosen, reward) AS (
            SELECT b.k AS t,
                   r.rmat,
                   -- CASE wrapper: force containsNull=true so the
                   -- anchor array type merges with zip_with's output
                   transform(b.n, x -> CASE WHEN b.k > 0 THEN x END)
                       AS narr,
                   transform(b.s, x -> CASE WHEN b.k > 0 THEN x END)
                       AS sarr,
                   CAST(NULL AS BIGINT) AS chosen,
                   CAST(NULL AS DOUBLE) AS reward
            FROM qr_ucb_base b
            CROSS JOIN (
                SELECT transform(array_sort(collect_list(
                           struct(t, rarr))), x -> x.rarr) AS rmat
                FROM (SELECT t,
                             transform(array_sort(collect_list(
                                 struct(a, r))), x -> x.r) AS rarr
                      FROM qr_ucb_rewards GROUP BY t)
            ) r
            UNION ALL
            SELECT s.t + 1,
                   s.rmat,
                   zip_with(s.narr, sequence(1, size(s.narr)),
                       (n, ii) ->
                       n + CASE WHEN ii = s.ch THEN 1 ELSE 0 END),
                   zip_with(s.sarr, sequence(1, size(s.sarr)),
                       (x, ii) ->
                       x + CASE WHEN ii = s.ch THEN s.rv ELSE 0.0D END),
                   s.ch, s.rv
            FROM (
                SELECT w.t, w.rmat, w.narr, w.sarr,
                       {ch} AS ch,
                       element_at(
                           element_at(w.rmat, CAST(w.t + 1 AS INT)),
                           CAST({ch} AS INT)) AS rv
                FROM walk w WHERE w.t < size(w.rmat)
            ) s
        )
        SELECT w.t, ar.event_type AS chosen_arm,
               round(w.reward, 6) AS reward,
               round(sum(w.reward) OVER (ORDER BY w.t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     6) AS cum_reward
        FROM walk w JOIN qr_ucb_arms ar ON w.chosen = ar.a
        WHERE w.chosen IS NOT NULL
        ORDER BY w.t
    """)


QUERIES["ucb1_replay_policy"] = ucb1_replay_policy
_UCB_EXPR = """list_transform(list_zip(w.sarr, w.narr),
               p -> round(p[1] / p[2]
                          + sqrt(2 * ln(CAST(w.t AS DOUBLE)) / p[2]),
                     9))"""
ORACLES["ucb1_replay_policy"] = f"""
    WITH RECURSIVE dayidx AS (
        SELECT day, row_number() OVER (ORDER BY day) AS t
        FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
    ), arms AS (
        SELECT event_type, row_number() OVER (ORDER BY event_type) AS a
        FROM (SELECT DISTINCT event_type FROM events)
    ), kk AS (SELECT CAST(max(a) AS INT) AS k FROM arms),
    idxl AS (
        SELECT list(a ORDER BY a) AS idx FROM arms
    ), rewards AS (
        SELECT d.t, a.a,
               round(coalesce(
                   CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT))
                        AS DOUBLE) / count(e.event_id) / 100, 0), 6)
                   AS r
        FROM dayidx d
        CROSS JOIN arms a
        LEFT JOIN events e ON CAST(e.ts AS DATE) = d.day
                          AND e.event_type = a.event_type
        GROUP BY d.t, a.a
    ), warm AS (
        SELECT list(w.r ORDER BY w.a) AS s,
               list(1 ORDER BY w.a) AS n
        FROM (SELECT a.a, r.r FROM arms a
              JOIN rewards r ON r.t = a.a AND r.a = a.a) w
    ), walk(t, narr, sarr, chosen, reward) AS (
        SELECT kk.k, warm.n, warm.s, CAST(NULL AS BIGINT),
               CAST(NULL AS DOUBLE)
        FROM kk CROSS JOIN warm
        UNION ALL
        SELECT w.t + 1,
               list_transform(list_zip(w.narr, i.idx),
                   p -> p[1] + CASE WHEN p[2] = rr.a THEN 1 ELSE 0 END),
               list_transform(list_zip(w.sarr, i.idx),
                   p -> p[1] + CASE WHEN p[2] = rr.a THEN rr.r
                               ELSE 0 END),
               rr.a, rr.r
        FROM walk w
        CROSS JOIN idxl i
        JOIN rewards rr
          ON rr.t = w.t + 1
         AND rr.a = list_position({_UCB_EXPR}, list_max({_UCB_EXPR}))
    )
    SELECT w.t, ar.event_type AS chosen_arm,
           round(w.reward, 6) AS reward,
           round(sum(w.reward) OVER (ORDER BY w.t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
               AS cum_reward
    FROM walk w JOIN arms ar ON w.chosen = ar.a
    WHERE w.chosen IS NOT NULL
    ORDER BY w.t
"""


def ab_sequential_looks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitoring table (Pocock 1977 framing;
    O'Brien-Fleming-shaped boundary via the Lan-DeMets style
    sqrt(K/k) approximation): one row per daily LOOK at the running
    experiment — cumulative per-arm high-value-purchase counts, the
    two-proportion z at that look, and the spending boundary
    z_crit·sqrt(K/k) that makes early looks conservative — the
    peeking-correction machinery every experimentation platform
    implements so PMs can watch dashboards without inflating false
    positives.  On the A/A hash split no look may cross (pinned in
    tests: the whole point of the boundary).

    Cumulative counts are exact integers via a day-spine left join
    (days with no traffic for an arm carry forward); z and the
    boundary are closed-form IEEE.  Scale: one (day, arm) aggregate,
    one tiny spine window — the daily-report envelope."""
    from pyspark.sql.window import Window
    ev = load_table(spark, sf_dir, "events")
    arm = md5_int(F.col("user_id").cast("string")) % 2
    daily = (ev.where(F.col("event_type") == "purchase")
             .withColumn("arm", arm)
             .groupBy(F.to_date("ts").alias("day"), "arm")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.when(F.col("value") > 200, 1).otherwise(0))
                  .alias("c")))
    days = daily.select("day").distinct()
    arms = spark.range(2).select(F.col("id").alias("arm"))
    spine = (days.crossJoin(F.broadcast(arms))
             .join(daily, ["day", "arm"], "left")
             .select("day", "arm",
                     F.coalesce("n", F.lit(0)).alias("n"),
                     F.coalesce("c", F.lit(0)).alias("c")))
    wcum = (Window.partitionBy("arm").orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (spine.withColumn("cn", F.sum("n").over(wcum))
           .withColumn("cc", F.sum("c").over(wcum)))
    byday = (cum.groupBy("day")
             .agg(F.max(F.when(F.col("arm") == 0, F.col("cn")))
                  .alias("n_a"),
                  F.max(F.when(F.col("arm") == 0, F.col("cc")))
                  .alias("c_a"),
                  F.max(F.when(F.col("arm") == 1, F.col("cn")))
                  .alias("n_b"),
                  F.max(F.when(F.col("arm") == 1, F.col("cc")))
                  .alias("c_b"))
             .withColumn("k", F.row_number().over(Window.orderBy("day")))
             .withColumn("kk", F.count(F.lit(1)).over(
                 Window.rowsBetween(Window.unboundedPreceding,
                                    Window.unboundedFollowing))))
    pa = F.col("c_a") / F.nullif(F.col("n_a").cast("double"), F.lit(0.0))
    pb = F.col("c_b") / F.nullif(F.col("n_b").cast("double"), F.lit(0.0))
    pp = ((F.col("c_a") + F.col("c_b"))
          / F.nullif((F.col("n_a") + F.col("n_b")).cast("double"),
                     F.lit(0.0)))
    z = (pa - pb) / F.nullif(
        F.sqrt(pp * (1 - pp) * (1 / F.col("n_a").cast("double")
                                + 1 / F.col("n_b").cast("double"))),
        F.lit(0.0))
    bound = F.lit(_AB_Z_CRIT) * F.sqrt(
        F.col("kk").cast("double") / F.col("k").cast("double"))
    return (byday.select(
        "k", "day", "n_a", "c_a", "n_b", "c_b",
        F.round(z, 6).alias("z"),
        F.round(bound, 6).alias("boundary"),
        F.coalesce(F.abs(z) > bound, F.lit(False)).alias("crossed"))
        .orderBy("k"))


QUERIES["ab_sequential_looks"] = ab_sequential_looks
ORACLES["ab_sequential_looks"] = f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    ::BIGINT % 2) AS arm,
               count(*) AS n,
               CAST(sum(CASE WHEN value > 200 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ), days AS (SELECT DISTINCT day FROM daily),
    arms AS (SELECT 0 AS arm UNION ALL SELECT 1),
    spine AS (
        SELECT d.day, a.arm, coalesce(x.n, 0) AS n, coalesce(x.c, 0) AS c
        FROM days d CROSS JOIN arms a
        LEFT JOIN daily x ON x.day = d.day AND x.arm = a.arm
    ), cum AS (
        SELECT day, arm,
               CAST(sum(n) OVER (PARTITION BY arm ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cn,
               CAST(sum(c) OVER (PARTITION BY arm ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cc
        FROM spine
    ), byday AS (
        SELECT day,
               max(CASE WHEN arm = 0 THEN cn END) AS n_a,
               max(CASE WHEN arm = 0 THEN cc END) AS c_a,
               max(CASE WHEN arm = 1 THEN cn END) AS n_b,
               max(CASE WHEN arm = 1 THEN cc END) AS c_b
        FROM cum GROUP BY day
    ), looks AS (
        SELECT *, row_number() OVER (ORDER BY day) AS k,
               count(*) OVER () AS kk
        FROM byday
    ), scored AS (
        SELECT *,
               (c_a / nullif(CAST(n_a AS DOUBLE), 0)
                - c_b / nullif(CAST(n_b AS DOUBLE), 0))
               / nullif(sqrt(
                   ((c_a + c_b) / nullif(CAST(n_a + n_b AS DOUBLE), 0))
                   * (1 - (c_a + c_b)
                          / nullif(CAST(n_a + n_b AS DOUBLE), 0))
                   * (1 / CAST(n_a AS DOUBLE)
                      + 1 / CAST(n_b AS DOUBLE))), 0) AS z,
               {_AB_Z_CRIT} * sqrt(CAST(kk AS DOUBLE)
                                   / CAST(k AS DOUBLE)) AS bound
        FROM looks
    )
    SELECT k, day, n_a, c_a, n_b, c_b,
           round(z, 6) AS z,
           round(bound, 6) AS boundary,
           coalesce(abs(z) > bound, false) AS crossed
    FROM scored ORDER BY k
"""


_IPS_U = 1_000_000_000      # per-arm term snap grid (1e-9) before summing


def ips_policy_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation of two candidate targeting policies from
    the logged event stream by inverse-propensity scoring (Horvitz &
    Thompson 1952; Li et al. 2011's replay/IPS framing) — the
    counterfactual "what would THIS policy have earned on the traffic
    we already logged" readout that decides rollouts without an
    online test.  Logged action = the event's type; logging
    propensity = the empirical action marginal p(a) = c_a/N; reward =
    the event's value in exact cents.  Candidate policies (both
    deterministic, so π(x) needs no sampling):

    - ``global_greedy`` — always play the arm with the highest logged
      mean reward (argmax on 1e-9-snapped means, name tiebreak);
    - ``uniform_hash`` — arm by user-id hash (the A/B-style uniform
      spreader; its IPS value should sit near the overall mean).

    Estimators: IPS = (1/N)·Σ 𝟙{a=π(x)}·r/p(a) — which collapses
    per ARM to Σ_a S_a^π/c_a (N cancels; S_a^π = matched reward sum)
    — SNIPS (self-normalized, Swaminathan & Joachims 2015) and the
    effective sample size (Σw)²/Σw² that flags when a policy's value
    rests on too few reweighted rows.

    Exactness: every per-arm term is one division of exact integers,
    snapped to the 1e-9 grid and summed as BIGINT across the ≤5 arm
    rows — no raw float accumulation.  Scale: two scans of the
    (arm)-keyed aggregate — policy evaluation is arm-cardinality
    work after one groupBy, the 100 TB envelope of every OPE
    estimator in this family."""
    from pyspark.sql.window import Window
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    rows = ev.select(F.col("user_id"), F.col("event_type").alias("a"),
                     cents.alias("r"))
    arm = (rows.groupBy("a")
           .agg(F.count(F.lit(1)).alias("c_a"), F.sum("r").alias("s_a"))
           .localCheckpoint())
    n_arms = arm.count()
    # greedy arm: max 1e-9-snapped mean, name tiebreak (deterministic)
    mu = F.round(F.col("s_a").cast("double") / F.col("c_a") * 1e9, 0) \
        .cast("long")
    greedy = (arm.withColumn("mu9", mu)
              .orderBy(F.col("mu9").desc(), F.col("a").asc())
              .limit(1).select(F.col("a").alias("pi_arm")))
    w = Window.orderBy("a")
    idx = arm.select("a").withColumn("i", F.row_number().over(w) - 1)
    uhash = md5_int(F.col("user_id").cast("string")) % n_arms
    p_greedy = (rows.crossJoin(F.broadcast(greedy))
                .select(F.lit("global_greedy").alias("policy"),
                        "a", "r", F.col("pi_arm")))
    p_hash = (rows.withColumn("i", uhash)
              .join(F.broadcast(idx.select(F.col("a").alias("pi_arm"),
                                           "i")), "i")
              .select(F.lit("uniform_hash").alias("policy"),
                      "a", "r", "pi_arm"))
    matched = (p_greedy.unionByName(p_hash)
               .where(F.col("a") == F.col("pi_arm"))
               .groupBy("policy", "a")
               .agg(F.count(F.lit(1)).alias("m_a"),
                    F.sum("r").alias("sm_a")))
    tot = arm.agg(F.sum("c_a").alias("n"))
    terms = (matched.join(F.broadcast(arm.select("a", "c_a")), "a")
             .crossJoin(F.broadcast(tot)))
    snap = lambda col: F.round(col * _IPS_U, 0).cast("long")  # noqa: E731
    terms = terms.select(
        "policy", "m_a",
        snap(F.col("sm_a").cast("double") / F.col("c_a")).alias("sv"),
        snap(F.col("m_a").cast("double") / F.col("c_a")).alias("sw1"),
        snap(F.col("m_a").cast("double") * F.col("n") / F.col("c_a"))
        .alias("sw"),
        snap(F.col("m_a").cast("double") * F.col("n") / F.col("c_a")
             * F.col("n") / F.col("c_a")).alias("sw2"),
        F.col("n"))
    g = (terms.groupBy("policy", "n")
         .agg(F.sum("m_a").alias("n_matched"),
              F.sum("sv").alias("v"), F.sum("sw1").alias("w1"),
              F.sum("sw").alias("sumw"), F.sum("sw2").alias("sumw2")))
    ips = F.col("v").cast("double") / _IPS_U / 100.0
    snips = (F.col("v").cast("double") / F.col("w1")) / 100.0
    ess = (F.col("sumw").cast("double") * F.col("sumw")
           / F.col("sumw2") / _IPS_U)
    return (g.select("policy", "n_matched",
                     F.round(ips, 6).alias("ips_value"),
                     F.round(snips, 6).alias("snips_value"),
                     F.round(ess, 2).alias("effective_sample_size"))
            .orderBy("policy"))


QUERIES["ips_policy_value"] = ips_policy_value
ORACLES["ips_policy_value"] = f"""
    WITH rows_ AS (
        SELECT user_id, event_type AS a,
               CAST(round(value * 100, 0) AS BIGINT) AS r
        FROM events
    ), arm AS (
        SELECT a, CAST(count(*) AS BIGINT) AS c_a,
               CAST(sum(r) AS BIGINT) AS s_a
        FROM rows_ GROUP BY a
    ), greedy AS (
        SELECT a AS pi_arm FROM (
            SELECT a, CAST(round(CAST(s_a AS DOUBLE) / c_a * 1e9, 0)
                           AS BIGINT) AS mu9
            FROM arm) ORDER BY mu9 DESC, pi_arm ASC LIMIT 1
    ), idx AS (
        SELECT a, row_number() OVER (ORDER BY a) - 1 AS i FROM arm
    ), nn AS (SELECT CAST(sum(c_a) AS BIGINT) AS n,
                     CAST(count(*) AS BIGINT) AS k FROM arm),
    assigned AS (
        SELECT 'global_greedy' AS policy, r_.a, r_.r, g.pi_arm
        FROM rows_ r_ CROSS JOIN greedy g
        UNION ALL
        SELECT 'uniform_hash' AS policy, r_.a, r_.r, ix.a AS pi_arm
        FROM rows_ r_ CROSS JOIN nn
        JOIN idx ix ON ix.i = ('0x' || substr(
            md5(CAST(r_.user_id AS VARCHAR)), 1, 8))::BIGINT % nn.k
    ), matched AS (
        SELECT policy, a, CAST(count(*) AS BIGINT) AS m_a,
               CAST(sum(r) AS BIGINT) AS sm_a
        FROM assigned WHERE a = pi_arm GROUP BY policy, a
    ), terms AS (
        SELECT m.policy, m.m_a,
               CAST(round(CAST(m.sm_a AS DOUBLE) / x.c_a * {_IPS_U}, 0)
                    AS BIGINT) AS sv,
               CAST(round(CAST(m.m_a AS DOUBLE) / x.c_a * {_IPS_U}, 0)
                    AS BIGINT) AS sw1,
               CAST(round(CAST(m.m_a AS DOUBLE) * t.n / x.c_a
                          * {_IPS_U}, 0) AS BIGINT) AS sw,
               CAST(round(CAST(m.m_a AS DOUBLE) * t.n / x.c_a
                          * t.n / x.c_a * {_IPS_U}, 0) AS BIGINT) AS sw2,
               t.n
        FROM matched m JOIN arm x ON m.a = x.a CROSS JOIN nn t
    ), g AS (
        SELECT policy, n,
               CAST(sum(m_a) AS BIGINT) AS n_matched,
               CAST(sum(sv) AS BIGINT) AS v,
               CAST(sum(sw1) AS BIGINT) AS w1,
               CAST(sum(sw) AS BIGINT) AS sumw,
               CAST(sum(sw2) AS BIGINT) AS sumw2
        FROM terms GROUP BY policy, n
    )
    SELECT policy, n_matched,
           round(CAST(v AS DOUBLE) / 1000000000 / 100.0, 6) AS ips_value,
           round((CAST(v AS DOUBLE) / w1) / 100.0, 6) AS snips_value,
           round(CAST(sumw AS DOUBLE) * sumw / sumw2 / {_IPS_U}, 2)
               AS effective_sample_size
    FROM g ORDER BY policy
"""


_BH_Q = 0.10        # FDR level
_BH_M = 25          # tests = nations


def _norm_ppf(p: float) -> float:
    """Acklam's rational approximation to the standard normal inverse
    CDF (|rel err| < 1.15e-9) + one Halley refinement via erf —
    pure-stdlib, used ONLY at import time to bake the BH critical
    thresholds as shared literals (both engines consume the same
    constants, so no cross-engine libm question arises)."""
    import math
    a = (-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00)
    b = (-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01)
    c = (-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00)
    d = (7.784695709041462e-03, 3.224671290700398e-01,
         2.445134137142996e+00, 3.754408661907416e+00)
    plow = 0.02425
    if p < plow:
        q = math.sqrt(-2 * math.log(p))
        x = ((((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q
               + c[4]) * q + c[5])
             / ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1))
    elif p <= 1 - plow:
        q = p - 0.5
        r = q * q
        x = ((((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r
               + a[4]) * r + a[5]) * q
             / (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r
                 + b[4]) * r + 1))
    else:
        q = math.sqrt(-2 * math.log(1 - p))
        x = -((((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q
                + c[4]) * q + c[5])
              / ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1))
    # one Halley step against the erf-based CDF
    e = 0.5 * math.erfc(-x / math.sqrt(2)) - p
    u = e * math.sqrt(2 * math.pi) * math.exp(x * x / 2)
    return x - u / (1 + x * u / 2)


# rank k → z threshold Φ⁻¹(1 − q·k/(2m)); BH's p_(k) ≤ qk/m test is
# equivalent to |z|_(k) ≥ this (p is monotone in |z|), so no erf is
# needed inside either engine.
_BH_ZCRITS = tuple(round(_norm_ppf(1 - _BH_Q * k / (2 * _BH_M)), 9)
                   for k in range(1, _BH_M + 1))


def ab_bh_fdr_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR gate over 25 simultaneous per-nation A/B
    readouts (Benjamini & Hochberg 1995) — the multiple-testing
    correction every experimentation platform needs the moment it
    slices one experiment by geography: at α=5% per test, 25 null
    slices produce ~1.2 false "winners" per experiment; BH caps the
    expected FALSE-DISCOVERY share of whatever is declared at q=10%.
    Arms are the md5 user split (an A/A — so the pinned expectation
    is zero rejections); per nation a Welch z on mean order value,
    then the step-up rule: rank by |z| descending (= p ascending),
    k* = max{k: |z|_(k) ≥ Φ⁻¹(1 − qk/2m)}, reject ranks ≤ k*.

    The inverse-CDF thresholds are PRECOMPUTED literals shared by
    both engines (`_BH_ZCRITS`), so the only in-engine float work is
    the z itself — moments come from exact integer-cents sums, z
    snaps at 1e-6 before ranking, rank ties break by nationkey.

    Scale: one orders→customer broadcast join, one (nation, arm)
    aggregate, one 25-row window + a 25-row literal join — the
    whole correction is dimension-sized after the scan."""
    from pyspark.sql.window import Window
    arm = md5_int(F.col("o_custkey").cast("string")) % 2
    rows = (orders_with_nation(spark, sf_dir)
            .select("nationkey", arm.alias("arm"),
                    F.round(F.col("o_totalprice") * 100, 0)
                    .cast("decimal(38,0)").alias("yc")))
    per = (rows.groupBy("nationkey", "arm")
           .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
                F.sum("yc").alias("s"),
                F.sum(F.col("yc") * F.col("yc")).alias("ss")))
    wide = (per.groupBy("nationkey")
            .agg(*[F.max(F.when(F.col("arm") == i, F.col(c)))
                   .alias(f"{c}{'ab'[i]}")
                   for i in (0, 1) for c in ("n", "s", "ss")]))
    def mv(side):
        n, s, ss = (F.col(f"n{side}"), F.col(f"s{side}"),
                    F.col(f"ss{side}"))
        mean = s.cast("double") / F.nullif(n.cast("double"), F.lit(0.0))
        var = ((n * ss - s * s).cast("double")
               / F.nullif(n.cast("double") * (n - 1).cast("double"),
                          F.lit(0.0)))
        return mean, var
    ma, va = mv("a")
    mb, vb = mv("b")
    # degenerate slices (an arm missing or single-row) emit z NULL —
    # ranked last, never rejected
    z = F.round((ma - mb)
                / F.nullif(F.sqrt(va / F.col("na").cast("double")
                                  + vb / F.col("nb").cast("double")),
                           F.lit(0.0)), 6)
    wr = Window.orderBy(F.abs(F.col("z")).desc_nulls_last(),
                        F.col("nationkey").asc())
    crit = spark.createDataFrame(
        [(k + 1, zc) for k, zc in enumerate(_BH_ZCRITS)],
        "rank int, z_crit double")
    ranked = (wide.withColumn("z", z)
              .withColumn("rank", F.row_number().over(wr))
              .join(F.broadcast(crit), "rank")
              .withColumn("passes", F.abs(F.col("z")) >= F.col("z_crit")))
    kstar = ranked.agg(
        F.coalesce(F.max(F.when(F.col("passes"), F.col("rank"))),
                   F.lit(0)).alias("kstar"))
    return (ranked.crossJoin(F.broadcast(kstar))
            .select("nationkey",
                    F.col("na").cast("bigint").alias("n_a"),
                    F.col("nb").cast("bigint").alias("n_b"),
                    "z", "rank",
                    F.round("z_crit", 6).alias("z_crit"),
                    (F.col("rank") <= F.col("kstar")).alias("rejected"))
            .orderBy("rank"))


QUERIES["ab_bh_fdr_nations"] = ab_bh_fdr_nations
ORACLES["ab_bh_fdr_nations"] = f"""
    WITH rows_ AS (
        SELECT c.c_nationkey AS nationkey,
               (('0x' || substr(md5(CAST(o.o_custkey AS VARCHAR)), 1, 8))
                    ::BIGINT % 2) AS arm,
               CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS yc
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), per AS (
        SELECT nationkey, arm,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(yc) AS HUGEINT) AS s,
               CAST(sum(yc * yc) AS HUGEINT) AS ss
        FROM rows_ GROUP BY 1, 2
    ), wide AS (
        SELECT nationkey,
               max(CASE WHEN arm = 0 THEN n END) AS na,
               max(CASE WHEN arm = 0 THEN s END) AS sa,
               max(CASE WHEN arm = 0 THEN ss END) AS ssa,
               max(CASE WHEN arm = 1 THEN n END) AS nb,
               max(CASE WHEN arm = 1 THEN s END) AS sb,
               max(CASE WHEN arm = 1 THEN ss END) AS ssb
        FROM per GROUP BY nationkey
    ), zs AS (
        SELECT nationkey, na, nb,
               round((CAST(sa AS DOUBLE) / nullif(CAST(na AS DOUBLE), 0)
                      - CAST(sb AS DOUBLE) / nullif(CAST(nb AS DOUBLE), 0))
                     / nullif(sqrt(
                         (CAST(na * ssa - sa * sa AS DOUBLE)
                          / nullif(CAST(na AS DOUBLE)
                                   * CAST(na - 1 AS DOUBLE), 0))
                             / CAST(na AS DOUBLE)
                         + (CAST(nb * ssb - sb * sb AS DOUBLE)
                            / nullif(CAST(nb AS DOUBLE)
                                     * CAST(nb - 1 AS DOUBLE), 0))
                             / CAST(nb AS DOUBLE)), 0), 6) AS z
        FROM wide
    ), ranked AS (
        SELECT z.*, row_number() OVER (ORDER BY abs(z) DESC NULLS LAST,
                                       nationkey ASC) AS rank
        FROM zs z
    ), crit(rank, z_crit) AS (VALUES {", ".join(
        f"({k + 1}, CAST({zc!r} AS DOUBLE))"
        for k, zc in enumerate(_BH_ZCRITS))}),
    joined AS (
        SELECT r.*, c.z_crit, abs(r.z) >= c.z_crit AS passes
        FROM ranked r JOIN crit c ON r.rank = c.rank
    ), ks AS (
        SELECT coalesce(max(CASE WHEN passes THEN rank END), 0) AS kstar
        FROM joined
    )
    SELECT j.nationkey, CAST(j.na AS BIGINT) AS n_a,
           CAST(j.nb AS BIGINT) AS n_b, j.z, j.rank,
           round(j.z_crit, 6) AS z_crit,
           j.rank <= k.kstar AS rejected
    FROM joined j CROSS JOIN ks k
    ORDER BY j.rank
"""


def markov_next_event_accuracy(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Backtest of the first-order Markov next-event predictor: train
    the `event_transition_matrix` on pre-cutoff (2024-01-24, the
    `user_feature_table` split) within-session transitions, predict
    argmax P(next | current), and score top-1 accuracy on the
    post-cutoff transitions — the eval that turns the descriptive
    transition matrix into a MODEL with a number attached (and the
    baseline any sequence model must beat before it earns GPU time;
    cf. the n-gram baselines in language modeling).

    One row per from-state: the trained prediction, train/eval
    transition counts, hits, and accuracy.  Determinism: argmax
    resolves count ties by to_type ascending; transitions never
    cross a session boundary and order by (ts, event_id) — the
    canonical sessionization contract; accuracy is one integer
    ratio.

    Scale: two session-window passes over events (one shuffle on
    user_id, shared), a |types|²-sized train table, broadcast
    prediction join — model size is state², data cost is the scan."""
    from pyspark.sql.window import Window
    from ..streaming.queries import sessionize_events
    sess = sessionize_events(load_table(spark, sf_dir, "events"))
    w = (Window.partitionBy("user_id", "session_id")
         .orderBy("ts", "event_id"))
    trans = (sess
             .withColumn("next_type", F.lead("event_type").over(w))
             .where(F.col("next_type").isNotNull())
             .select(F.col("event_type").alias("from_type"),
                     F.col("next_type").alias("to_type"),
                     (F.to_date("ts") < F.lit(_FEAT_CUTOFF))
                     .alias("is_train")))
    counts = (trans.where("is_train")
              .groupBy("from_type", "to_type")
              .agg(F.count(F.lit(1)).alias("c")))
    wp = Window.partitionBy("from_type").orderBy(
        F.col("c").desc(), F.col("to_type").asc())
    pred = (counts.withColumn("rn", F.row_number().over(wp))
            .where(F.col("rn") == 1)
            .select("from_type", F.col("to_type").alias("predicted_next")))
    n_train = (counts.groupBy("from_type")
               .agg(F.sum("c").alias("n_train")))
    ev = (trans.where(~F.col("is_train"))
          .join(F.broadcast(pred), "from_type")
          .groupBy("from_type", "predicted_next")
          .agg(F.count(F.lit(1)).alias("n_eval"),
               F.count(F.when(F.col("to_type")
                              == F.col("predicted_next"), 1))
               .alias("hits")))
    return (ev.join(F.broadcast(n_train), "from_type")
            .select("from_type", "predicted_next", "n_train",
                    "n_eval", "hits",
                    F.round(F.col("hits").cast("double")
                            / F.col("n_eval"), 6).alias("accuracy"))
            .orderBy("from_type"))


QUERIES["markov_next_event_accuracy"] = markov_next_event_accuracy
ORACLES["markov_next_event_accuracy"] = f"""
    WITH {SESSIONIZED_SQL}, trans AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id, session_id
                   ORDER BY ts, event_id) AS to_type,
               CAST(ts AS DATE) < DATE '{_FEAT_CUTOFF}' AS is_train
        FROM sessions
    ), tt AS (SELECT * FROM trans WHERE to_type IS NOT NULL),
    counts AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
        FROM tt WHERE is_train GROUP BY 1, 2
    ), pred AS (
        SELECT from_type, to_type AS predicted_next
        FROM (SELECT *, row_number() OVER (PARTITION BY from_type
                  ORDER BY c DESC, to_type ASC) AS rn FROM counts)
        WHERE rn = 1
    ), ntr AS (
        SELECT from_type, CAST(sum(c) AS BIGINT) AS n_train
        FROM counts GROUP BY from_type
    ), ev AS (
        SELECT t.from_type, p.predicted_next,
               CAST(count(*) AS BIGINT) AS n_eval,
               CAST(count(*) FILTER (WHERE t.to_type = p.predicted_next)
                    AS BIGINT) AS hits
        FROM tt t JOIN pred p USING (from_type)
        WHERE NOT t.is_train
        GROUP BY 1, 2
    )
    SELECT e.from_type, e.predicted_next, n.n_train, e.n_eval, e.hits,
           round(CAST(e.hits AS DOUBLE) / e.n_eval, 6) AS accuracy
    FROM ev e JOIN ntr n USING (from_type)
    ORDER BY e.from_type
"""


_CF_ITEMS = 20     # target items (top by distinct buyers)
_CF_K = 5          # neighbors kept per target


def item_item_cf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering over the customer×part
    purchase matrix (Sarwar et al. 2001; the Amazon-style "customers
    who bought X also bought" engine): binary buyer vectors, cosine
    similarity c_ij/√(n_i·n_j) from co-buyer counts, top-5 neighbors
    for each of the top-20 parts by buyer reach.  This is the recsys
    operator class — the same co-occurrence join that powers
    "related items", done exactly.

    Determinism/exactness: co-buyer counts are integers from one
    (buyer)-keyed self-join; cosine is a single division with one
    sqrt; ranking ties break by neighbor partkey.  The target side
    is a CONSTANT 20 rows (broadcast) — the `knn_label_accuracy`
    anchor discipline, so the candidate join can never grow with
    the catalog, only with the targets' buyer lists.

    Scale: purchases distinct-reduce to (cust, part) once; the
    candidate generation joins target buyer lists (20×buyers)
    against the purchase table on customer — co-buyer counting is a
    map-side-combinable aggregate; per-item degree table broadcasts
    back for the cosine."""
    from pyspark.sql.window import Window
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey")
    # r9 (guide §2.4): buys feeds the degree table, the target join and
    # the co-buyer join (3 uncut re-runs of the fact join + distinct);
    # deg feeds the top-k and the cosine broadcast — two cuts
    buys = (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .select(F.col("o_custkey").alias("cust"),
                    F.col("l_partkey").alias("item"))
            .distinct()
            .localCheckpoint())
    deg = (buys.groupBy("item").agg(F.count(F.lit(1)).alias("n_buyers"))
           .localCheckpoint())
    top = (deg.orderBy(F.col("n_buyers").desc(), F.col("item").asc())
           .limit(_CF_ITEMS)
           .select(F.col("item").alias("target"),
                   F.col("n_buyers").alias("n_t")))
    tbuys = (buys.join(F.broadcast(top), buys.item == top.target)
             .select("target", "n_t", "cust"))
    cooc = (tbuys.join(buys, "cust")
            .where(F.col("item") != F.col("target"))
            .groupBy("target", "n_t", "item")
            .agg(F.count(F.lit(1)).alias("co_buyers")))
    cos = (cooc.join(F.broadcast(deg), "item")
           .withColumn("cosine",
                       F.round(F.col("co_buyers")
                               / F.sqrt((F.col("n_t")
                                         * F.col("n_buyers"))
                                        .cast("double")), 6)))
    wr = Window.partitionBy("target").orderBy(
        F.col("cosine").desc(), F.col("item").asc())
    return (cos.withColumn("rank", F.row_number().over(wr))
            .where(F.col("rank") <= _CF_K)
            .select("target", F.col("item").alias("neighbor"),
                    "co_buyers", "cosine", "rank")
            .orderBy("target", "rank"))


QUERIES["item_item_cf_topk"] = item_item_cf_topk
ORACLES["item_item_cf_topk"] = f"""
    WITH buys AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), deg AS (
        SELECT item, CAST(count(*) AS BIGINT) AS n_buyers
        FROM buys GROUP BY item
    ), top AS (
        SELECT item AS target, n_buyers AS n_t
        FROM deg ORDER BY n_buyers DESC, item ASC LIMIT {_CF_ITEMS}
    ), cooc AS (
        SELECT t.target, t.n_t, b.item,
               CAST(count(*) AS BIGINT) AS co_buyers
        FROM top t
        JOIN buys tb ON tb.item = t.target
        JOIN buys b ON b.cust = tb.cust AND b.item != t.target
        GROUP BY 1, 2, 3
    ), cos AS (
        SELECT c.target, c.item, c.co_buyers,
               round(c.co_buyers
                     / sqrt(CAST(c.n_t * d.n_buyers AS DOUBLE)), 6)
                   AS cosine
        FROM cooc c JOIN deg d ON c.item = d.item
    )
    SELECT target, item AS neighbor, co_buyers, cosine, rank
    FROM (SELECT *, row_number() OVER (PARTITION BY target
              ORDER BY cosine DESC, item ASC) AS rank FROM cos)
    WHERE rank <= {_CF_K}
    ORDER BY target, rank
"""


def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value multi-touch attribution over the four
    pre-purchase channels (Shapley 1953; Zhao et al. 2018 for the MTA
    formulation) — the game-theoretic answer to "which channel gets
    credit for the conversion" that last-touch and decay heuristics
    approximate: credit channel i by its average marginal
    contribution phi_i = sum_{S not containing i} |S|!(n-|S|-1)!/n! *
    (v(S+i) - v(S)) over all coalitions S of the other channels,
    where v(S) = conversions whose pre-purchase touched-channel set
    is CONTAINED in S.  With n = 4 channels there are 16 coalitions,
    so the exact sum is computable — no sampling, no permutation
    Monte Carlo.

    Exactness: every v(S) is an integer user count (touched set =
    distinct non-purchase types strictly before the user's first
    purchase, encoded as a 4-bit mask); the factorial weights at
    n = 4 are {6, 2, 2, 6}/24, so phi*24 is an exact BIGINT
    (`phi24`) and efficiency sum(phi) = v(N) - v(empty) holds in
    integers (pinned in tests).  Popcount is spelled in shift-and
    arithmetic so both engines run the identical expression.

    Scale: ONE user-keyed aggregate over events is the only
    data-sized stage; masks reduce to <=16 rows, coalitions are a
    constant 16-row relation, and the subset-sum / marginal joins
    are 16x16 broadcast products — the whole game is
    dimension-sized."""
    ev = load_table(spark, sf_dir, "events")
    chan = F.when(F.col("event_type") == "click", 1) \
            .when(F.col("event_type") == "error", 2) \
            .when(F.col("event_type") == "signup", 4) \
            .when(F.col("event_type") == "view", 8)
    first_p = (ev.where(F.col("event_type") == "purchase")
               .groupBy("user_id").agg(F.min("ts").alias("p_ts")))
    masks = (ev.join(first_p, "user_id")
             .where(F.col("ts") < F.col("p_ts"))
             .select("user_id", chan.alias("bit"))
             .where(F.col("bit").isNotNull())
             .groupBy("user_id")
             .agg(F.sum(F.col("bit")).alias("sum_bits"),
                  F.collect_set("bit").alias("bits")))
    umask = (first_p.join(masks, "user_id", "left")
             .select(F.coalesce(
                 F.aggregate("bits", F.lit(0),
                             lambda acc, b: acc.bitwiseOR(b)),
                 F.lit(0)).alias("mask")))
    # r9 (guide §2.4): cut at the ≤16-row mask histogram — v is read
    # twice (coalition grid + the v(S+i) self-join), so the uncut plan
    # re-ran the two events passes behind the mask aggregate per
    # reference for a 16-row output
    cnt = (umask.groupBy("mask").agg(F.count(F.lit(1)).alias("c"))
           .localCheckpoint())
    coal = spark.range(16).select(F.col("id").cast("int").alias("s"))
    v = (coal.crossJoin(F.broadcast(cnt))
         .where(F.col("mask").bitwiseAND(F.col("s")) == F.col("mask"))
         .groupBy("s").agg(F.sum("c").alias("v")))
    v = coal.join(v, "s", "left").select(
        "s", F.coalesce("v", F.lit(0)).cast("bigint").alias("v"))
    chans = spark.createDataFrame(
        [("click", 1), ("error", 2), ("signup", 4), ("view", 8)],
        ["channel", "bit"])
    pop = (F.col("s").bitwiseAND(F.lit(1))
           + F.shiftright("s", 1).bitwiseAND(F.lit(1))
           + F.shiftright("s", 2).bitwiseAND(F.lit(1))
           + F.shiftright("s", 3).bitwiseAND(F.lit(1)))
    wgt = (F.when(pop == 0, 6).when(pop == 1, 2)
           .when(pop == 2, 2).otherwise(6))
    vs = v.select(F.col("s").alias("s0"), F.col("v").alias("v0"))
    vsi = v.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    marg = (chans.crossJoin(F.broadcast(v))
            .where(F.col("s").bitwiseAND(F.col("bit")) == 0)
            .withColumn("s1", F.col("s") + F.col("bit"))
            .join(F.broadcast(vsi), "s1")
            .withColumnRenamed("v", "v0"))
    return (marg.groupBy("channel")
            .agg(F.sum(wgt.cast("bigint")
                       * (F.col("v1") - F.col("v0"))).alias("phi24"))
            .select("channel", "phi24",
                    F.round(F.col("phi24") / 24.0, 6).alias("shapley"))
            .orderBy("channel"))


QUERIES["shapley_attribution"] = shapley_attribution
ORACLES["shapley_attribution"] = """
    WITH first_p AS (
        SELECT user_id, min(ts) AS p_ts FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    ), umask AS (
        SELECT f.user_id,
               coalesce(bit_or(CASE e.event_type
                   WHEN 'click' THEN 1 WHEN 'error' THEN 2
                   WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END), 0)
                   AS mask
        FROM first_p f
        LEFT JOIN events e ON e.user_id = f.user_id
                          AND e.ts < f.p_ts
                          AND e.event_type != 'purchase'
        GROUP BY f.user_id
    ), cnt AS (
        SELECT mask, CAST(count(*) AS BIGINT) AS c
        FROM umask GROUP BY mask
    ), coal AS (SELECT CAST(unnest(generate_series(0, 15)) AS INT) AS s),
    v AS (
        SELECT co.s,
               CAST(coalesce(sum(c.c) FILTER (
                   WHERE (c.mask & co.s) = c.mask), 0) AS BIGINT) AS v
        FROM coal co LEFT JOIN cnt c ON true
        GROUP BY co.s
    ), chans AS (
        SELECT * FROM (VALUES ('click', 1), ('error', 2),
                              ('signup', 4), ('view', 8))
            AS t(channel, bit)
    ), marg AS (
        SELECT ch.channel,
               CASE ((v0.s & 1) + ((v0.s >> 1) & 1)
                     + ((v0.s >> 2) & 1) + ((v0.s >> 3) & 1))
                   WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2
                   ELSE 6 END AS w,
               v1.v - v0.v AS dv
        FROM chans ch
        JOIN v v0 ON (v0.s & ch.bit) = 0
        JOIN v v1 ON v1.s = v0.s + ch.bit
    )
    SELECT channel, CAST(sum(w * dv) AS BIGINT) AS phi24,
           round(sum(w * dv) / 24.0, 6) AS shapley
    FROM marg GROUP BY channel
    ORDER BY channel
"""


def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimate of time to first
    purchase (Nelson 1972; Aalen 1978) — the counting-process
    companion to the Kaplan-Meier curve `user_survival_curve`
    reports: H(t) = sum_{t_i <= t} d_i/n_i with variance
    sum d_i/n_i^2 (Klein 1991's Poisson form), plus the
    Fleming-Harrington survival exp(-H(t)), which KM approaches from
    above — having BOTH estimators lets a pipeline bound the true
    curve from two directions.  Same risk-set construction as the KM
    query (right-censoring at last observed day).

    Exactness: d_i and n_i are exact integers from one user-keyed
    aggregate; each increment d/n and d/n² snaps to the 1e-9 grid
    and BIGINT-sums through the running window (order-proof), so
    H(t) is a ratio of exact integers; the single exp per row is the
    only transcendental.

    Scale: one user-keyed aggregate over events (the data-sized
    stage); the hazard table is |distinct t|-sized — observation
    span, not population."""
    from pyspark.sql.window import Window
    users = _user_time_to_purchase(spark, sf_dir)
    total = users.agg(F.count(F.lit(1)).alias("n_total"))
    per_t = (users.groupBy("t")
             .agg(F.count(F.lit(1)).alias("n_leaving"),
                  F.count(F.when(F.col("converted"), 1)).alias("d")))
    wprev = (Window.orderBy("t")
             .rowsBetween(Window.unboundedPreceding, -1))
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    at_risk = (per_t.crossJoin(F.broadcast(total))
               .withColumn("n_at_risk",
                           F.col("n_total")
                           - F.coalesce(F.sum("n_leaving").over(wprev),
                                        F.lit(0))))
    inc = F.round(F.col("d") / F.col("n_at_risk") * 1e9, 0) \
        .cast("bigint")
    vinc = F.round(F.col("d") / F.col("n_at_risk")
                   / F.col("n_at_risk") * 1e9, 0).cast("bigint")
    return (at_risk
            .withColumn("hu", inc).withColumn("vu", vinc)
            .select("t", "n_at_risk", "d",
                    F.round(F.sum("hu").over(wcum) / 1e9, 6)
                    .alias("cum_hazard"),
                    F.round(F.sum("vu").over(wcum) / 1e9, 6)
                    .alias("var_hazard"),
                    F.round(F.exp(-F.sum("hu").over(wcum) / 1e9), 6)
                    .alias("fh_survival"))
            .orderBy("t"))


QUERIES["nelson_aalen_hazard"] = nelson_aalen_hazard
ORACLES["nelson_aalen_hazard"] = """
    WITH users AS (
        SELECT coalesce(
                   datediff('day',
                       min(CAST(ts AS DATE)),
                       min(CASE WHEN event_type = 'purchase'
                                THEN CAST(ts AS DATE) END)),
                   datediff('day',
                       min(CAST(ts AS DATE)), max(CAST(ts AS DATE))))
                   AS t,
               min(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS DATE) END) IS NOT NULL
                   AS converted
        FROM events GROUP BY user_id
    ), total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM users),
    per_t AS (
        SELECT t, CAST(count(*) AS BIGINT) AS n_leaving,
               CAST(count(*) FILTER (WHERE converted) AS BIGINT) AS d
        FROM users GROUP BY t
    ), ar AS (
        SELECT p.t, p.d,
               tt.n_total - coalesce(sum(p.n_leaving) OVER (
                   ORDER BY p.t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS n_at_risk
        FROM per_t p CROSS JOIN total tt
    ), u AS (
        SELECT t, n_at_risk, d,
               CAST(round(d / CAST(n_at_risk AS DOUBLE) * 1e9, 0)
                    AS BIGINT) AS hu,
               CAST(round(d / CAST(n_at_risk AS DOUBLE)
                          / n_at_risk * 1e9, 0) AS BIGINT) AS vu
        FROM ar
    )
    SELECT t, CAST(n_at_risk AS BIGINT) AS n_at_risk, d,
           round(sum(hu) OVER w / 1e9, 6) AS cum_hazard,
           round(sum(vu) OVER w / 1e9, 6) AS var_hazard,
           round(exp(-sum(hu) OVER w / 1e9), 6) AS fh_survival
    FROM u
    WINDOW w AS (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY t
"""


def mh_pooled_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio (Mantel & Haenszel 1959)
    between URGENT order priority (exposure: priority '1-URGENT' or
    '2-HIGH') and a HIGH-VALUE outcome (o_totalprice above the global
    mean), STRATIFIED by customer nation — the epidemiology-grade
    "is the association real or is it Simpson's paradox" control
    that the raw 2x2 table cannot give (the same confounding the
    `simpson_slope_audit` flags for slopes, here for odds):
    OR_MH = sum_i(a_i*d_i/n_i) / sum_i(b_i*c_i/n_i) over the 25
    nation strata, reported next to the CRUDE pooled OR so the
    confounding shift is visible in one row.

    Exactness: all 2x2 cells are BIGINT counts (the mean-cents
    threshold is one exact integer ratio); each stratum term
    a*d/n and b*c/n snaps to the 1e-6 grid and BIGINT-sums, so the
    single final division is order-proof.

    Scale: one orders scan with a broadcast customer-nation join,
    one 25-key aggregate — the correction is dimension-sized."""
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    rows = (orders_with_nation(spark, sf_dir)
            .select("nationkey",
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
                    .alias("exposed"), cents.alias("yc")))
    mu = rows.agg((F.sum("yc") / F.count(F.lit(1))).alias("mu"))
    cells = (rows.crossJoin(F.broadcast(mu))
             .withColumn("hi", F.col("yc") > F.col("mu"))
             .groupBy("nationkey")
             .agg(F.count(F.when(F.col("exposed")
                                 & F.col("hi"), 1)).alias("a"),
                  F.count(F.when(F.col("exposed")
                                 & ~F.col("hi"), 1)).alias("b"),
                  F.count(F.when(~F.col("exposed")
                                 & F.col("hi"), 1)).alias("c"),
                  F.count(F.when(~F.col("exposed")
                                 & ~F.col("hi"), 1)).alias("d")))
    n = (F.col("a") + F.col("b") + F.col("c") + F.col("d")) \
        .cast("double")
    tnum = F.round(F.col("a") * F.col("d") / n * 1e6, 0).cast("bigint")
    tden = F.round(F.col("b") * F.col("c") / n * 1e6, 0).cast("bigint")
    agg = (cells.withColumn("tn", tnum).withColumn("td", tden)
           .agg(F.sum("tn").alias("sn"), F.sum("td").alias("sd"),
                F.sum("a").alias("sa"), F.sum("b").alias("sb"),
                F.sum("c").alias("sc"), F.sum("d").alias("sdd"),
                F.count(F.lit(1)).alias("n_strata")))
    return agg.select(
        "n_strata", "sa", "sb", "sc",
        F.col("sdd").alias("sd_cell"),
        F.round(F.col("sn") / F.col("sd").cast("double"), 6)
        .alias("or_mh"),
        F.round(F.col("sa") * F.col("sdd")
                / (F.col("sb") * F.col("sc")).cast("double"), 6)
        .alias("or_crude"))


QUERIES["mh_pooled_odds_ratio"] = mh_pooled_odds_ratio
ORACLES["mh_pooled_odds_ratio"] = """
    WITH rows_ AS (
        SELECT c.c_nationkey AS nationkey,
               o.o_orderpriority IN ('1-URGENT', '2-HIGH') AS exposed,
               CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS yc
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), mu AS (
        SELECT CAST(sum(yc) AS BIGINT) / CAST(count(*) AS DOUBLE) AS mu
        FROM rows_
    ), cells AS (
        SELECT nationkey,
               CAST(count(*) FILTER (WHERE exposed AND yc > m.mu)
                    AS BIGINT) AS a,
               CAST(count(*) FILTER (WHERE exposed AND yc <= m.mu)
                    AS BIGINT) AS b,
               CAST(count(*) FILTER (WHERE NOT exposed AND yc > m.mu)
                    AS BIGINT) AS c,
               CAST(count(*) FILTER (WHERE NOT exposed AND yc <= m.mu)
                    AS BIGINT) AS d
        FROM rows_ CROSS JOIN mu m GROUP BY nationkey
    ), terms AS (
        SELECT a, b, c, d,
               CAST(round(a * d / CAST(a + b + c + d AS DOUBLE) * 1e6,
                          0) AS BIGINT) AS tn,
               CAST(round(b * c / CAST(a + b + c + d AS DOUBLE) * 1e6,
                          0) AS BIGINT) AS td
        FROM cells
    )
    SELECT CAST(count(*) AS BIGINT) AS n_strata,
           CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
           CAST(sum(c) AS BIGINT) AS sc,
           CAST(sum(d) AS BIGINT) AS sd_cell,
           round(sum(tn) / CAST(sum(td) AS DOUBLE), 6) AS or_mh,
           round(sum(a) * sum(d)
                 / CAST(sum(b) * sum(c) AS DOUBLE), 6) AS or_crude
    FROM terms
"""


def james_stein_nation_means(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """James-Stein shrinkage of the 25 per-nation mean order values
    toward the grand mean of means (James & Stein 1961; Efron &
    Morris 1975's batting-average form) — the estimator that
    DOMINATES the raw group means in total squared error whenever
    k >= 4 groups are estimated simultaneously: small nations with
    noisy means get pulled hard toward the pool, large stable
    nations barely move.  The same partial-pooling read an empirical
    launch dashboard needs before ranking segments by mean.

    Homoscedastic Efron-Morris form: B = max(0, 1 - (k-3)*s2bar/S)
    with s2bar = mean of the per-nation squared standard errors
    (se_i^2 = var_i/n_i from 128-bit-exact moment sums) and
    S = sum_i (m_i - mbar)^2; js_i = mbar + B*(m_i - mbar).

    Exactness: moments are DECIMAL(38,0)/HUGEINT sums of integer
    cents; per-nation means snap to the 1e-6 dollar grid; the two
    cross-nation reductions (S and s2bar) BIGINT-sum 1e-3-snapped
    terms, so B and every js_i come from order-proof scalars.

    Scale: one orders scan + broadcast nation join + 25-key moment
    aggregate; the shrinkage algebra is dimension-sized."""
    rows = (orders_with_nation(spark, sf_dir)
            .select("nationkey",
                    F.round(F.col("o_totalprice") * 100, 0)
                    .cast("decimal(38,0)").alias("yc")))
    # r9 (guide §2.4): cut at the 25-nation moment table — the gl / su
    # / stot / out chain references its parent twice per stage, so the
    # uncut plan re-ran the orders⋈customer moment aggregate 2^k times
    per = (rows.groupBy("nationkey")
           .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
                F.sum("yc").alias("s"),
                F.sum(F.col("yc") * F.col("yc")).alias("ss"))
           .localCheckpoint())
    mean_u = F.round(F.col("s").cast("double")
                     / F.col("n").cast("double") / 100 * 1e6, 0) \
        .cast("bigint")
    var_d = ((F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
             .cast("double")
             / (F.col("n").cast("double")
                * (F.col("n") - 1).cast("double")) / 10000)
    se2_u = F.round(var_d / F.col("n").cast("double") * 1e3, 0) \
        .cast("bigint")
    base = per.select("nationkey",
                      F.col("n").cast("bigint").alias("n"),
                      mean_u.alias("mu"), se2_u.alias("se2u"))
    gl = base.agg(F.sum("mu").alias("smu"),
                  F.sum("se2u").alias("sse2"),
                  F.count(F.lit(1)).alias("k"))
    both = base.crossJoin(F.broadcast(gl)).withColumn(
        "mbar", F.col("smu").cast("double") / F.col("k") / 1e6)
    dev = F.col("mu") / 1e6 - F.col("mbar")
    su = (both.withColumn("du",
                          F.round(dev * dev * 1e3, 0).cast("bigint"))
          .withColumn("dev", dev))
    stot = su.agg(F.sum("du").alias("sdu"))
    out = su.crossJoin(F.broadcast(stot)).withColumn(
        "b_fac",
        F.greatest(F.lit(0.0),
                   1 - (F.col("k") - 3).cast("double")
                   * (F.col("sse2").cast("double") / F.col("k") / 1e3)
                   / (F.col("sdu").cast("double") / 1e3)))
    return (out.select(
        "nationkey", "n",
        F.round(F.col("mu") / 1e6, 6).alias("raw_mean"),
        F.round(F.col("se2u") / 1e3, 3).alias("se2"),
        F.round("b_fac", 6).alias("shrinkage"),
        F.round(F.col("mbar") + F.col("b_fac") * F.col("dev"), 6)
        .alias("js_mean"))
        .orderBy("nationkey"))


QUERIES["james_stein_nation_means"] = james_stein_nation_means
ORACLES["james_stein_nation_means"] = """
    WITH rows_ AS (
        SELECT c.c_nationkey AS nationkey,
               CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS yc
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), per AS (
        SELECT nationkey, CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(yc) AS HUGEINT) AS s,
               CAST(sum(CAST(yc AS HUGEINT) * yc) AS HUGEINT) AS ss
        FROM rows_ GROUP BY 1
    ), base AS (
        SELECT nationkey, CAST(n AS BIGINT) AS n,
               CAST(round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                          / 100 * 1e6, 0) AS BIGINT) AS mu,
               CAST(round(CAST(n * ss - s * s AS DOUBLE)
                          / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
                          / 10000 / CAST(n AS DOUBLE) * 1e3, 0)
                    AS BIGINT) AS se2u
        FROM per
    ), gl AS (
        SELECT CAST(sum(mu) AS BIGINT) AS smu,
               CAST(sum(se2u) AS BIGINT) AS sse2,
               CAST(count(*) AS BIGINT) AS k
        FROM base
    ), su AS (
        SELECT b.*, g.smu, g.sse2, g.k,
               CAST(g.smu AS DOUBLE) / g.k / 1e6 AS mbar,
               b.mu / 1e6 - CAST(g.smu AS DOUBLE) / g.k / 1e6 AS dev,
               CAST(round((b.mu / 1e6
                           - CAST(g.smu AS DOUBLE) / g.k / 1e6)
                          * (b.mu / 1e6
                             - CAST(g.smu AS DOUBLE) / g.k / 1e6)
                          * 1e3, 0) AS BIGINT) AS du
        FROM base b CROSS JOIN gl g
    ), st AS (SELECT CAST(sum(du) AS BIGINT) AS sdu FROM su)
    SELECT s.nationkey, s.n,
           round(s.mu / 1e6, 6) AS raw_mean,
           round(s.se2u / 1e3, 3) AS se2,
           round(greatest(0.0,
                 1 - CAST(s.k - 3 AS DOUBLE)
                     * (CAST(s.sse2 AS DOUBLE) / s.k / 1e3)
                     / (CAST(t.sdu AS DOUBLE) / 1e3)), 6) AS shrinkage,
           round(s.mbar + greatest(0.0,
                 1 - CAST(s.k - 3 AS DOUBLE)
                     * (CAST(s.sse2 AS DOUBLE) / s.k / 1e3)
                     / (CAST(t.sdu AS DOUBLE) / 1e3)) * s.dev, 6)
               AS js_mean
    FROM su s CROSS JOIN st t
    ORDER BY s.nationkey
"""


_MP_W = 7      # subsequence window length (days)
_MP_TOP = 5    # analogs returned


def series_analog_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-subsequence ANALOG SEARCH over the per-type daily
    count series (the one-query column of a matrix profile — Yeh et
    al. 2016 — and the retrieval step of classical analog
    forecasting): take the LAST 7-day window of the purchase series
    as the query, z-normalize it, and return the 5 nearest earlier
    7-day windows across ALL event-type series by z-normalized
    Euclidean distance — "when did traffic last look like this week,
    and in which signal".  Z-normalization is what makes it shape
    search rather than level search: a scaled/shifted copy of the
    query is distance ~0.

    Determinism: daily counts are integers; each window's mean and
    variance are integer ratios; per-window z-scores and the final
    distance snap to the 1e-6 grid (squared-diff terms BIGINT-sum in
    micro-units); constant (zero-variance) windows are excluded on
    both sides rather than dividing by zero; ties break by
    (event_type, start_t).

    Scale: one events scan to a (type, day) grid; windows material-
    ize via 6 leads over a |types| x days frame (dimension-sized);
    the query vector is a broadcast constant, so the distance scan
    is map-side — at 100 TB the same shape runs per metric series
    with the grid partitioned by series key."""
    from pyspark.sql.window import Window
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("c")))
    w = Window.partitionBy("event_type").orderBy("day")
    seq = daily.withColumn("t", F.row_number().over(w))
    cols = [F.col("c").alias("c0")] + [
        F.lead("c", i).over(w).alias(f"c{i}") for i in range(1, _MP_W)]
    win = (seq.select("event_type", "t", *cols)
           .where(F.col(f"c{_MP_W - 1}").isNotNull())
           .select("event_type", F.col("t").alias("start_t"),
                   F.array(*[f"c{i}" for i in range(_MP_W)])
                   .alias("arr")))
    n = float(_MP_W)
    s1 = F.aggregate("arr", F.lit(0).cast("long"),
                     lambda a, x: a + x).cast("double")
    s2 = F.aggregate("arr", F.lit(0).cast("long"),
                     lambda a, x: a + x * x).cast("double")
    mean = s1 / F.lit(n)
    var = s2 / F.lit(n) - (s1 / F.lit(n)) * (s1 / F.lit(n))
    zn = (win.withColumn("mean", mean).withColumn("var", var)
          .where(F.col("var") > 0)
          .withColumn("z", F.transform(
              "arr", lambda x: F.round(
                  (x - F.col("mean")) / F.sqrt(F.col("var")), 6))))
    qmax = (zn.where(F.col("event_type") == "purchase")
            .agg(F.max("start_t").alias("qt")))
    query = (zn.join(F.broadcast(qmax),
                     (F.col("event_type") == "purchase")
                     & (F.col("start_t") == F.col("qt")))
             .select(F.col("z").alias("qz"), F.col("qt")))
    dist_u = F.aggregate(
        F.zip_with("z", "qz",
                   lambda a, b: F.round((a - b) * (a - b) * 1e6, 0)
                   .cast("bigint")),
        F.lit(0).cast("long"), lambda a, x: a + x)
    scored = (zn.crossJoin(F.broadcast(query))
              .where((F.col("event_type") != "purchase")
                     | (F.col("start_t") < F.col("qt")))
              .withColumn("du", dist_u)
              .withColumn("dist",
                          F.round(F.sqrt(F.col("du") / 1e6), 6)))
    wr = Window.orderBy(F.col("du").asc(), F.col("event_type").asc(),
                        F.col("start_t").asc())
    return (scored.withColumn("rank", F.row_number().over(wr))
            .where(F.col("rank") <= _MP_TOP)
            .select("rank", "event_type", "start_t", "dist")
            .orderBy("rank"))


QUERIES["series_analog_search"] = series_analog_search
ORACLES["series_analog_search"] = f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), seq AS (
        SELECT event_type, c,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY day) AS t
        FROM daily
    ), win AS (
        SELECT event_type, t AS start_t,
               [{", ".join(
                   f"lead(c, {i}) OVER (PARTITION BY event_type "
                   f"ORDER BY t)" for i in range(_MP_W))}] AS arr
        FROM seq
        QUALIFY lead(c, {_MP_W - 1}) OVER (PARTITION BY event_type
                                           ORDER BY t) IS NOT NULL
    ), zn AS (
        SELECT event_type, start_t,
               list_transform(arr, x -> round(
                   (x - list_sum(arr) / {_MP_W}.0)
                   / sqrt(list_sum(list_transform(arr,
                              y -> CAST(y AS DOUBLE) * y)) / {_MP_W}.0
                          - (list_sum(arr) / {_MP_W}.0)
                            * (list_sum(arr) / {_MP_W}.0)), 6)) AS z
        FROM win
        WHERE list_sum(list_transform(arr,
                  y -> CAST(y AS DOUBLE) * y)) / {_MP_W}.0
              - (list_sum(arr) / {_MP_W}.0)
                * (list_sum(arr) / {_MP_W}.0) > 0
    ), qm AS (
        SELECT max(start_t) AS qt FROM zn WHERE event_type = 'purchase'
    ), q AS (
        SELECT z.z AS qz, m.qt
        FROM zn z CROSS JOIN qm m
        WHERE z.event_type = 'purchase' AND z.start_t = m.qt
    ), scored AS (
        SELECT z.event_type, z.start_t,
               CAST(list_sum(list_transform(
                   list_zip(z.z, q.qz),
                   p -> CAST(round((p[1] - p[2]) * (p[1] - p[2]) * 1e6,
                                   0) AS BIGINT))) AS BIGINT) AS du
        FROM zn z CROSS JOIN q
        WHERE z.event_type != 'purchase' OR z.start_t < q.qt
    )
    SELECT CAST(row_number() OVER (ORDER BY du ASC, event_type ASC,
                                   start_t ASC) AS INT) AS rank,
           event_type, CAST(start_t AS BIGINT) AS start_t,
           round(sqrt(du / 1e6), 6) AS dist
    FROM scored
    QUALIFY rank <= {_MP_TOP}
    ORDER BY rank
"""


_BT_ITERS = 2    # unrolled Hunter-MM iterations


def bradley_terry_strengths(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Bradley-Terry strength estimation over the five event types
    from daily head-to-head count comparisons (Bradley & Terry 1952;
    Hunter 2004's MM algorithm) — the paired-comparison model behind
    chess ratings, LLM-arena leaderboards, and preference-data
    reward models: type i beats type j on a day iff its daily count
    is strictly higher; the model fits strengths p with
    P(i beats j) = p_i/(p_i + p_j).  TWO Hunter-MM iterations
    UNROLLED from the uniform start, each exactly the textbook
    update p_i <- W_i / sum_j n_ij/(p_i + p_j) followed by
    sum-normalization — both engines replay the identical
    update-by-update trace, so the oracle pins the MM algebra, not
    just a fixpoint.

    Determinism: wins/comparisons are exact integers (count ties are
    dropped, the standard convention); every denominator term and
    every normalization sum BIGINT-accumulates 1e-9-snapped values.

    Scale: one events scan to a (type, day) grid; the comparison
    join and both MM sweeps run on |types|²-sized frames —
    dimension-sized, like the transition matrix."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("c")))
    a = daily.select(F.col("event_type").alias("ta"), "day",
                     F.col("c").alias("ca"))
    b = daily.select(F.col("event_type").alias("tb"),
                     F.col("day").alias("day_b"),
                     F.col("c").alias("cb"))
    # r9 (guide §2.4): ``pairs`` (|types|² rows) feeds edges AND wins,
    # and each MM sweep references the previous ``p`` three times — the
    # uncut plan multiplied to 400 parquet scans / 958 exchanges (14k
    # plan lines) for a 5-row frame, all Catalyst planning + recompute.
    # localCheckpoint cuts at the iteration boundaries keep the plan
    # linear in the round count; values are unchanged (deterministic
    # integer/snap arithmetic).
    pairs = (a.join(b, (F.col("day") == F.col("day_b"))
                    & (F.col("ta") < F.col("tb")))
             .groupBy("ta", "tb")
             .agg(F.count(F.when(F.col("ca") > F.col("cb"), 1))
                  .alias("wa"),
                  F.count(F.when(F.col("cb") > F.col("ca"), 1))
                  .alias("wb"))
             .localCheckpoint())
    edges = (pairs.select(F.col("ta").alias("i"),
                          F.col("tb").alias("j"),
                          (F.col("wa") + F.col("wb")).alias("n"))
             .union(pairs.select(F.col("tb").alias("i"),
                                 F.col("ta").alias("j"),
                                 (F.col("wa") + F.col("wb"))
                                 .alias("n")))
             .where(F.col("n") > 0))
    wins = (pairs.select(F.col("ta").alias("i"), F.col("wa").alias("w"))
            .union(pairs.select(F.col("tb").alias("i"),
                                F.col("wb").alias("w")))
            .groupBy("i").agg(F.sum("w").alias("wins")))
    p = wins.select("i", "wins", F.lit(1.0).alias("p"))
    for _ in range(_BT_ITERS):
        pj = p.select(F.col("i").alias("j"), F.col("p").alias("p_j"))
        den = (edges.join(p.select("i", "p"), "i")
               .join(F.broadcast(pj), "j")
               .withColumn("tu", F.round(
                   F.col("n") / (F.col("p") + F.col("p_j")) * 1e9,
                   0).cast("bigint"))
               .groupBy("i").agg(F.sum("tu").alias("den_u")))
        raw = (p.join(den, "i")
               .select("i", "wins",
                       F.round(F.col("wins")
                               / (F.col("den_u") / 1e9) * 1e9, 0)
                       .cast("bigint").alias("pu")))
        tot = raw.agg(F.sum("pu").alias("su"))
        p = (raw.crossJoin(F.broadcast(tot))
             .select("i", "wins",
                     F.round(F.col("pu") / F.col("su").cast("double"),
                             9).alias("p"))
             .localCheckpoint())
    from pyspark.sql.window import Window
    wr = Window.orderBy(F.col("p").desc(), F.col("i").asc())
    return (p.withColumn("rank", F.row_number().over(wr))
            .select("rank", F.col("i").alias("event_type"), "wins",
                    F.round("p", 6).alias("strength"))
            .orderBy("rank"))


QUERIES["bradley_terry_strengths"] = bradley_terry_strengths
ORACLES["bradley_terry_strengths"] = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), pairs AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               CAST(count(*) FILTER (WHERE a.c > b.c) AS BIGINT) AS wa,
               CAST(count(*) FILTER (WHERE b.c > a.c) AS BIGINT) AS wb
        FROM daily a JOIN daily b ON a.day = b.day
                                 AND a.event_type < b.event_type
        GROUP BY 1, 2
    ), edges AS (
        SELECT ta AS i, tb AS j, wa + wb AS n FROM pairs
        WHERE wa + wb > 0
        UNION ALL
        SELECT tb, ta, wa + wb FROM pairs WHERE wa + wb > 0
    ), wins AS (
        SELECT i, CAST(sum(w) AS BIGINT) AS wins
        FROM (SELECT ta AS i, wa AS w FROM pairs
              UNION ALL SELECT tb, wb FROM pairs)
        GROUP BY i
    ), p0 AS (SELECT i, wins, CAST(1.0 AS DOUBLE) AS p FROM wins),
    d1 AS (
        SELECT e.i, CAST(sum(CAST(round(
                   e.n / (pi.p + pj.p) * 1e9, 0) AS BIGINT))
                   AS BIGINT) AS den_u
        FROM edges e
        JOIN p0 pi ON pi.i = e.i
        JOIN p0 pj ON pj.i = e.j
        GROUP BY e.i
    ), r1 AS (
        SELECT p.i, p.wins,
               CAST(round(p.wins / (d.den_u / 1e9) * 1e9, 0)
                    AS BIGINT) AS pu
        FROM p0 p JOIN d1 d ON d.i = p.i
    ), t1 AS (SELECT CAST(sum(pu) AS BIGINT) AS su FROM r1),
    p1 AS (
        SELECT i, wins,
               round(pu / CAST(su AS DOUBLE), 9) AS p
        FROM r1 CROSS JOIN t1
    ), d2 AS (
        SELECT e.i, CAST(sum(CAST(round(
                   e.n / (pi.p + pj.p) * 1e9, 0) AS BIGINT))
                   AS BIGINT) AS den_u
        FROM edges e
        JOIN p1 pi ON pi.i = e.i
        JOIN p1 pj ON pj.i = e.j
        GROUP BY e.i
    ), r2 AS (
        SELECT p.i, p.wins,
               CAST(round(p.wins / (d.den_u / 1e9) * 1e9, 0)
                    AS BIGINT) AS pu
        FROM p1 p JOIN d2 d ON d.i = p.i
    ), t2 AS (SELECT CAST(sum(pu) AS BIGINT) AS su FROM r2),
    p2 AS (
        SELECT i, wins, round(pu / CAST(su AS DOUBLE), 9) AS p
        FROM r2 CROSS JOIN t2
    )
    SELECT CAST(row_number() OVER (ORDER BY p DESC, i ASC) AS INT)
               AS rank,
           i AS event_type, wins, round(p, 6) AS strength
    FROM p2 ORDER BY rank
"""


# fixed, documented HMM parameters (a 2-state calm/busy market model)
_HMM_A = (0.8, 0.2, 0.3, 0.7)   # A00 A01 A10 A11
_HMM_E1 = (0.3, 0.7)            # P(high | calm), P(high | busy)

# r10 (guide §2.4 + §1 measurement, "_REC_ARRAY_STATE"): Spark's
# recursive-CTE engine (UnionLoopExec) runs every iteration as its own
# mini-query.  When the iteration body contains a JOIN, each level
# costs ~5 single-task jobs (broadcast build + collect + materialize)
# ≈ 0.12-0.15 s of pure scheduling floor on this class of host — a
# 30-observation walk is ~4 s of floor.  But UnionLoopExec has a fast
# path: an anchor of ≤ spark.sql.cteRecursionAnchorRowsLimitToConvert
# ToLocalRelation (default 100) rows becomes a LocalRelation, and any
# iteration whose optimized plan folds back to a LocalRelation
# (ConvertToLocalRelation: Project/Filter over LocalRelation) is
# evaluated ON THE DRIVER with ZERO scheduled jobs.  So the sequential
# recursions below carry their whole observation string IN the
# recursion state as an array (element_at(oarr, t+1) instead of a
# per-level join against the obs table): the recursion body is pure
# Project+Filter, every level folds, and the walk costs no jobs at
# all.  The per-step arithmetic is unchanged — interpreted and
# codegen'd expression evaluation are the same Java arithmetic — so
# results stay bit-identical to the join-form walk the DuckDB oracles
# still run.  State size is O(series length) per frontier row, the
# explicit trade (the join form remains the right shape for
# unbounded-length series; these walks are day-grid-bounded).
def _hmm_obs_view(spark: SparkSession, sf_dir: str, view: str,
                  cols: tuple[str, ...] = ("t", "day", "o")) -> None:
    """Register ``view`` as the HMM observation string: one row per
    purchase day with its 1-based position ``t`` and ``o`` = 1 when the
    day's purchase count is above the median day's, eagerly cut so the
    recursion reads a materialized relation.  Each recursive-CTE query
    names its own view (a shared name would race under concurrent
    queries)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.where(F.col("event_type") == "purchase")
             .groupBy(F.to_date("ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("c")))
    med = daily.agg(F.expr("percentile(c, 0.5)").alias("med"))
    obs = (daily.crossJoin(F.broadcast(med))
           .select(F.row_number().over(Window.orderBy("day"))
                   .alias("t"), "day",
                   (F.col("c") > F.col("med")).cast("int").alias("o")))
    obs.select(*cols).localCheckpoint(eager=True) \
        .createOrReplaceTempView(view)


_OARR = "oarr"
_OARR_AGG = ("transform(array_sort(collect_list(struct(t, o))),"
             " x -> x.o)")


def hmm_forward_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD-ALGORITHM filtering of a 2-state (calm/busy) hidden
    Markov model over the daily purchase-volume sequence (Rabiner
    1989, problem 1): observation o_t = [count_t > median], fixed
    literal transition/emission parameters, and the scaled forward
    recursion alpha'_t = normalize(alpha'_{t-1} A .* B(o_t)) with the
    log-likelihood accumulated from the scaling constants — the
    dynamic-programming operator class (sequential state with a
    matrix product per step) run by Spark's OWN recursive-CTE engine,
    one level per day, exactly as `forecast_holtwinters_events` runs
    its smoothing recursion.  Output per day: the FILTERED posterior
    P(busy | o_1..t) — the regime-detection read a naive threshold
    cannot give (it carries memory through the transition prior) —
    plus the running log-likelihood.

    Determinism: observations are integer-count comparisons against
    the exact median; the normalized state snaps to the 1e-9 grid
    each level (both engines replay the identical sequential
    arithmetic); each ln(scale) snaps to 1e-6 and BIGINT-accumulates.

    Scale: one events scan to the day grid; the recursion state is
    two doubles + one BIGINT per series — depth = days, parallelism
    = series count (here 1; partitioned by series key at scale).

    r10 (guide §2.4 + §1, the ``_REC_ARRAY_STATE`` note): the
    recursion body is JOIN-FREE — the whole observation string rides
    in the recursion state as an array and each level reads
    ``element_at(oarr, t + 1)``.  Spark's UnionLoopExec then folds
    every iteration to a driver-evaluated LocalRelation (zero
    scheduled jobs per level, vs ~5 single-task jobs per level for
    the join form — the measured 0.12-0.15 s/level scheduling floor).
    The per-step arithmetic is UNCHANGED, so every row is
    bit-identical to the join-form walk the DuckDB oracle runs."""
    _hmm_obs_view(spark, sf_dir, "qr_hmm_obs")
    a00, a01, a10, a11 = _HMM_A
    e0, e1 = _HMM_E1
    ob0 = (f"CASE element_at({_OARR}, 1) WHEN 1 THEN {e0}D"
           f" ELSE {1 - e0}D END")
    ob1 = (f"CASE element_at({_OARR}, 1) WHEN 1 THEN {e1}D"
           f" ELSE {1 - e1}D END")
    o = f"element_at(w.oarr, CAST(w.t + 1 AS INT))"
    b0 = f"CASE {o} WHEN 1 THEN {e0}D ELSE {1 - e0}D END"
    b1 = f"CASE {o} WHEN 1 THEN {e1}D ELSE {1 - e1}D END"
    n0 = f"(w.a0 * {a00}D + w.a1 * {a10}D) * {b0}"
    n1 = f"(w.a0 * {a01}D + w.a1 * {a11}D) * {b1}"
    return spark.sql(f"""
        WITH RECURSIVE walk(t, oarr, a0, a1, llu) AS (
            SELECT 1 AS t, {_OARR} AS oarr,
                   round(0.5D * {ob0}
                         / (0.5D * {ob0} + 0.5D * {ob1}), 9) AS a0,
                   round(0.5D * {ob1}
                         / (0.5D * {ob0} + 0.5D * {ob1}), 9) AS a1,
                   CAST(round(ln(0.5D * {ob0} + 0.5D * {ob1}) * 1e6, 0)
                        AS BIGINT) AS llu
            FROM (SELECT {_OARR_AGG} AS {_OARR}
                  FROM qr_hmm_obs) s
            WHERE size({_OARR}) >= 1
            UNION ALL
            SELECT w.t + 1, w.oarr,
                   round({n0} / ({n0} + {n1}), 9),
                   round({n1} / ({n0} + {n1}), 9),
                   w.llu + CAST(round(ln({n0} + {n1}) * 1e6, 0)
                                AS BIGINT)
            FROM walk w WHERE w.t < size(w.oarr)
        )
        SELECT CAST(w.t AS BIGINT) AS t, ob.day,
               CAST(ob.o AS INT) AS obs_high,
               round(w.a1, 6) AS p_busy,
               round(w.llu / 1e6, 6) AS loglik
        FROM walk w JOIN qr_hmm_obs ob ON ob.t = w.t
        ORDER BY t
    """)


QUERIES["hmm_forward_filter"] = hmm_forward_filter
ORACLES["hmm_forward_filter"] = f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), med AS (SELECT median(c) AS med FROM daily),
    obs AS (
        SELECT row_number() OVER (ORDER BY day) AS t, day,
               CAST(c > m.med AS INT) AS o
        FROM daily CROSS JOIN med m
    ),
    walk(t, day, o, a0, a1, llu) AS (
        SELECT o.t, o.day, o.o,
               round(0.5 * (CASE o.o WHEN 1 THEN {_HMM_E1[0]}
                            ELSE {1 - _HMM_E1[0]} END)
                     / (0.5 * (CASE o.o WHEN 1 THEN {_HMM_E1[0]}
                               ELSE {1 - _HMM_E1[0]} END)
                        + 0.5 * (CASE o.o WHEN 1 THEN {_HMM_E1[1]}
                                 ELSE {1 - _HMM_E1[1]} END)), 9),
               round(0.5 * (CASE o.o WHEN 1 THEN {_HMM_E1[1]}
                            ELSE {1 - _HMM_E1[1]} END)
                     / (0.5 * (CASE o.o WHEN 1 THEN {_HMM_E1[0]}
                               ELSE {1 - _HMM_E1[0]} END)
                        + 0.5 * (CASE o.o WHEN 1 THEN {_HMM_E1[1]}
                                 ELSE {1 - _HMM_E1[1]} END)), 9),
               CAST(round(ln(0.5 * (CASE o.o WHEN 1 THEN {_HMM_E1[0]}
                                    ELSE {1 - _HMM_E1[0]} END)
                             + 0.5 * (CASE o.o WHEN 1
                                      THEN {_HMM_E1[1]}
                                      ELSE {1 - _HMM_E1[1]} END))
                          * 1e6, 0) AS BIGINT)
        FROM obs o WHERE o.t = 1
        UNION ALL
        SELECT o.t, o.day, o.o,
               round((w.a0 * {_HMM_A[0]} + w.a1 * {_HMM_A[2]})
                     * (CASE o.o WHEN 1 THEN {_HMM_E1[0]}
                        ELSE {1 - _HMM_E1[0]} END)
                     / ((w.a0 * {_HMM_A[0]} + w.a1 * {_HMM_A[2]})
                        * (CASE o.o WHEN 1 THEN {_HMM_E1[0]}
                           ELSE {1 - _HMM_E1[0]} END)
                        + (w.a0 * {_HMM_A[1]} + w.a1 * {_HMM_A[3]})
                          * (CASE o.o WHEN 1 THEN {_HMM_E1[1]}
                             ELSE {1 - _HMM_E1[1]} END)), 9),
               round((w.a0 * {_HMM_A[1]} + w.a1 * {_HMM_A[3]})
                     * (CASE o.o WHEN 1 THEN {_HMM_E1[1]}
                        ELSE {1 - _HMM_E1[1]} END)
                     / ((w.a0 * {_HMM_A[0]} + w.a1 * {_HMM_A[2]})
                        * (CASE o.o WHEN 1 THEN {_HMM_E1[0]}
                           ELSE {1 - _HMM_E1[0]} END)
                        + (w.a0 * {_HMM_A[1]} + w.a1 * {_HMM_A[3]})
                          * (CASE o.o WHEN 1 THEN {_HMM_E1[1]}
                             ELSE {1 - _HMM_E1[1]} END)), 9),
               w.llu + CAST(round(ln(
                   (w.a0 * {_HMM_A[0]} + w.a1 * {_HMM_A[2]})
                   * (CASE o.o WHEN 1 THEN {_HMM_E1[0]}
                      ELSE {1 - _HMM_E1[0]} END)
                   + (w.a0 * {_HMM_A[1]} + w.a1 * {_HMM_A[3]})
                     * (CASE o.o WHEN 1 THEN {_HMM_E1[1]}
                        ELSE {1 - _HMM_E1[1]} END)) * 1e6, 0)
                   AS BIGINT)
        FROM walk w JOIN obs o ON o.t = w.t + 1
    )
    SELECT CAST(t AS BIGINT) AS t, day, CAST(o AS INT) AS obs_high,
           round(a1, 6) AS p_busy,
           round(llu / 1e6, 6) AS loglik
    FROM walk ORDER BY t
"""


def meta_analysis_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effect inverse-variance META-ANALYSIS of the per-nation
    A/B effect (the md5 arm split the other ab_* queries share) with
    Cochran's Q heterogeneity test and Higgins' I² (Cochran 1954;
    Higgins & Thompson 2002) — the "25 small experiments, one
    pooled answer" operator: each nation contributes its arm mean
    difference theta_i with variance from 128-bit-exact moments,
    the pooled estimate is the 1/se²-weighted mean, and Q / I²
    quantify whether the nations actually share one effect (I² >
    50% says the pooled number hides real heterogeneity — read the
    strata, not the summary).

    Exactness: all moments are DECIMAL(38,0)/HUGEINT sums of integer
    cents; per-nation theta and weight snap to 1e-6/1e-9 and the
    three cross-strata reductions (sum w, sum w*theta, Q terms)
    BIGINT-sum snapped terms, so pooled estimate, Q, and I² are
    order-proof.  Degenerate strata (an arm missing or single-row)
    drop out with a NULL weight rather than poisoning the pool.

    Scale: one orders scan + broadcast nation join + 25-key moment
    aggregate — the meta-analysis itself is dimension-sized."""
    arm = md5_int(F.col("o_custkey").cast("string")) % 2
    rows = (orders_with_nation(spark, sf_dir)
            .select("nationkey", arm.alias("arm"),
                    F.round(F.col("o_totalprice") * 100, 0)
                    .cast("decimal(38,0)").alias("yc")))
    per = (rows.groupBy("nationkey", "arm")
           .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
                F.sum("yc").alias("s"),
                F.sum(F.col("yc") * F.col("yc")).alias("ss")))
    wide = (per.groupBy("nationkey")
            .agg(*[F.max(F.when(F.col("arm") == i, F.col(c)))
                   .alias(f"{c}{'ab'[i]}")
                   for i in (0, 1) for c in ("n", "s", "ss")]))

    def mv(side):
        n, s, ss = (F.col(f"n{side}"), F.col(f"s{side}"),
                    F.col(f"ss{side}"))
        mean = s.cast("double") / n.cast("double") / 100
        var = ((n * ss - s * s).cast("double")
               / (n.cast("double") * (n - 1).cast("double"))
               / 10000)
        return mean, var, n.cast("double")

    ma, va, na = mv("a")
    mb, vb, nb = mv("b")
    theta_u = F.round((ma - mb) * 1e6, 0).cast("bigint")
    se2 = va / na + vb / nb
    w_u = F.round(1.0 / se2 * 1e9, 0).cast("bigint")
    base = (wide
            .withColumn("theta_u", theta_u)
            .withColumn("w_u", F.when((F.col("na") > 1)
                                      & (F.col("nb") > 1), w_u))
            .where(F.col("w_u").isNotNull()))
    wt = F.col("w_u") / 1e9
    th = F.col("theta_u") / 1e6
    sums = (base
            .withColumn("wt_u", F.round(wt * th * 1e6, 0).cast("bigint"))
            .agg(F.sum("w_u").alias("sw_u"),
                 F.sum(F.round(wt * th * 1e6, 0).cast("bigint"))
                 .alias("swt_u"),
                 F.count(F.lit(1)).alias("k")))
    pooled = ((F.col("swt_u") / 1e6)
              / (F.col("sw_u") / 1e9))
    both = (base.crossJoin(F.broadcast(sums))
            .withColumn("pooled", pooled))
    qterm = F.round(wt * (th - F.col("pooled"))
                    * (th - F.col("pooled")) * 1e6, 0).cast("bigint")
    qsum = (both.withColumn("qu", qterm)
            .agg(F.sum("qu").alias("q_u"), F.max("k").alias("k"),
                 F.max("pooled").alias("pooled")))
    qv = F.col("q_u") / 1e6
    i2 = F.greatest(F.lit(0.0),
                    (qv - (F.col("k") - 1)) / qv)
    meta = qsum.select(
        F.round("pooled", 6).alias("pooled_effect"),
        F.round(qv, 6).alias("cochran_q"),
        F.col("k").alias("k_strata"),
        F.round(i2, 6).alias("i_squared"))
    return (base.select("nationkey",
                        F.round(th, 6).alias("theta"),
                        F.round(wt, 6).alias("weight"))
            .crossJoin(F.broadcast(meta))
            .orderBy("nationkey"))


QUERIES["meta_analysis_nations"] = meta_analysis_nations
ORACLES["meta_analysis_nations"] = """
    WITH rows_ AS (
        SELECT c.c_nationkey AS nationkey,
               (('0x' || substr(md5(CAST(o.o_custkey AS VARCHAR)),
                 1, 8))::BIGINT % 2) AS arm,
               CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS yc
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), per AS (
        SELECT nationkey, arm, CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(yc) AS HUGEINT) AS s,
               CAST(sum(CAST(yc AS HUGEINT) * yc) AS HUGEINT) AS ss
        FROM rows_ GROUP BY 1, 2
    ), wide AS (
        SELECT nationkey,
               max(CASE WHEN arm = 0 THEN n END) AS na,
               max(CASE WHEN arm = 0 THEN s END) AS sa,
               max(CASE WHEN arm = 0 THEN ss END) AS ssa,
               max(CASE WHEN arm = 1 THEN n END) AS nb,
               max(CASE WHEN arm = 1 THEN s END) AS sb,
               max(CASE WHEN arm = 1 THEN ss END) AS ssb
        FROM per GROUP BY nationkey
    ), base AS (
        SELECT nationkey,
               CAST(round((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
                           / 100
                           - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)
                             / 100) * 1e6, 0) AS BIGINT) AS theta_u,
               CASE WHEN na > 1 AND nb > 1 THEN
                   CAST(round(1.0 / (
                       (CAST(na * ssa - sa * sa AS DOUBLE)
                        / (CAST(na AS DOUBLE)
                           * CAST(na - 1 AS DOUBLE)) / 10000)
                           / CAST(na AS DOUBLE)
                       + (CAST(nb * ssb - sb * sb AS DOUBLE)
                          / (CAST(nb AS DOUBLE)
                             * CAST(nb - 1 AS DOUBLE)) / 10000)
                           / CAST(nb AS DOUBLE)) * 1e9, 0) AS BIGINT)
               END AS w_u
        FROM wide
    ), kept AS (SELECT * FROM base WHERE w_u IS NOT NULL),
    sums AS (
        SELECT CAST(sum(w_u) AS BIGINT) AS sw_u,
               CAST(sum(CAST(round((w_u / 1e9) * (theta_u / 1e6)
                                   * 1e6, 0) AS BIGINT)) AS BIGINT)
                   AS swt_u,
               CAST(count(*) AS BIGINT) AS k
        FROM kept
    ), pool AS (
        SELECT (swt_u / 1e6) / (sw_u / 1e9) AS pooled, k FROM sums
    ), q AS (
        SELECT CAST(sum(CAST(round(
                   (b.w_u / 1e9)
                   * (b.theta_u / 1e6 - p.pooled)
                   * (b.theta_u / 1e6 - p.pooled) * 1e6, 0)
                   AS BIGINT)) AS BIGINT) AS q_u,
               max(p.pooled) AS pooled, max(p.k) AS k
        FROM kept b CROSS JOIN pool p
    )
    SELECT b.nationkey,
           round(b.theta_u / 1e6, 6) AS theta,
           round(b.w_u / 1e9, 6) AS weight,
           round(q.pooled, 6) AS pooled_effect,
           round(q.q_u / 1e6, 6) AS cochran_q,
           q.k AS k_strata,
           round(greatest(0.0, (q.q_u / 1e6 - (q.k - 1))
                               / (q.q_u / 1e6)), 6) AS i_squared
    FROM kept b CROSS JOIN q
    ORDER BY b.nationkey
"""


def hmm_smoothed_posterior(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """FORWARD-BACKWARD smoothing of the same 2-state calm/busy HMM
    as `hmm_forward_filter` (Rabiner 1989, problem 2 infrastructure;
    Baum-Welch's E-step): the filtered posterior P(busy | o_1..t)
    only sees the PAST, the smoothed posterior gamma_t =
    P(busy | o_1..T) also lets the future revise history — a busy
    day followed by a week of calm gets re-classified, which is the
    read offline regime labeling (and any EM re-estimation) actually
    needs.  TWO engine-native recursions in ONE query: the scaled
    forward walk (one level per day) and the scaled backward walk
    (one level per day, reverse-indexed), joined on t for
    gamma_t = alpha_t .* beta_t / sum.

    Determinism: identical discipline to the forward filter — exact
    integer observations, both recursion states snapped to 1e-9 per
    level, identical sequential arithmetic in both engines; the
    backward pass normalizes by its own scale each level (scales
    cancel in gamma).

    Scale: two recursions of constant state over the day spine —
    same cost shape as one; the join is day-grid-sized."""
    _hmm_obs_view(spark, sf_dir, "qr_hmm2_obs")
    a00, a01, a10, a11 = _HMM_A
    e0, e1 = _HMM_E1
    # r10 _REC_ARRAY_STATE (module note): both walks carry the obs
    # string in state — join-free bodies, zero jobs per level; the
    # backward walk runs on t DESCENDING (its old rt index is t
    # re-expressed: rt = size(oarr) - t + 1), same sequential order
    fo = "element_at(w.oarr, CAST(w.t + 1 AS INT))"
    b0 = f"CASE {fo} WHEN 1 THEN {e0}D ELSE {1 - e0}D END"
    b1 = f"CASE {fo} WHEN 1 THEN {e1}D ELSE {1 - e1}D END"
    ob0 = (f"CASE element_at({_OARR}, 1) WHEN 1 THEN {e0}D"
           f" ELSE {1 - e0}D END")
    ob1 = (f"CASE element_at({_OARR}, 1) WHEN 1 THEN {e1}D"
           f" ELSE {1 - e1}D END")
    wb0 = f"CASE w.o WHEN 1 THEN {e0}D ELSE {1 - e0}D END"
    wb1 = f"CASE w.o WHEN 1 THEN {e1}D ELSE {1 - e1}D END"
    return spark.sql(f"""
        WITH RECURSIVE fwd(t, oarr, a0, a1) AS (
            SELECT 1 AS t, {_OARR},
                   round(0.5D * {ob0}
                         / (0.5D * {ob0} + 0.5D * {ob1}), 9),
                   round(0.5D * {ob1}
                         / (0.5D * {ob0} + 0.5D * {ob1}), 9)
            FROM (SELECT {_OARR_AGG} AS {_OARR}
                  FROM qr_hmm2_obs) s
            WHERE size({_OARR}) >= 1
            UNION ALL
            SELECT w.t + 1, w.oarr,
                   round((w.a0 * {a00}D + w.a1 * {a10}D) * {b0}
                         / ((w.a0 * {a00}D + w.a1 * {a10}D) * {b0}
                            + (w.a0 * {a01}D + w.a1 * {a11}D) * {b1}),
                         9),
                   round((w.a0 * {a01}D + w.a1 * {a11}D) * {b1}
                         / ((w.a0 * {a00}D + w.a1 * {a10}D) * {b0}
                            + (w.a0 * {a01}D + w.a1 * {a11}D) * {b1}),
                         9)
            FROM fwd w WHERE w.t < size(w.oarr)
        ),
        bwd(t, oarr, o, v0, v1) AS (
            SELECT size({_OARR}) AS t, {_OARR},
                   element_at({_OARR}, size({_OARR})) AS o,
                   CAST(0.5D AS DOUBLE), CAST(0.5D AS DOUBLE)
            FROM (SELECT {_OARR_AGG} AS {_OARR}
                  FROM qr_hmm2_obs) s
            WHERE size({_OARR}) >= 1
            UNION ALL
            -- the backward step conditions on the NEXT day's
            -- observation, which is the PREVIOUS level's own row —
            -- hence B() reads w.o (carried in the recursion state),
            -- never the newly reached observation
            SELECT w.t - 1, w.oarr,
                   element_at(w.oarr, CAST(w.t - 1 AS INT)),
                   round(({a00}D * {wb0} * w.v0
                          + {a01}D * {wb1} * w.v1)
                         / (({a00}D * {wb0} * w.v0
                             + {a01}D * {wb1} * w.v1)
                            + ({a10}D * {wb0} * w.v0
                               + {a11}D * {wb1} * w.v1)), 9),
                   round(({a10}D * {wb0} * w.v0
                          + {a11}D * {wb1} * w.v1)
                         / (({a00}D * {wb0} * w.v0
                             + {a01}D * {wb1} * w.v1)
                            + ({a10}D * {wb0} * w.v0
                               + {a11}D * {wb1} * w.v1)), 9)
            FROM bwd w WHERE w.t > 1
        )
        SELECT CAST(f.t AS BIGINT) AS t, ob.day,
               CAST(ob.o AS INT) AS obs_high,
               round(f.a1, 6) AS p_busy_filtered,
               round(f.a1 * b.v1 / (f.a0 * b.v0 + f.a1 * b.v1), 6)
                   AS p_busy_smoothed
        FROM fwd f
        JOIN bwd b ON b.t = f.t
        JOIN qr_hmm2_obs ob ON ob.t = f.t
        ORDER BY f.t
    """)


QUERIES["hmm_smoothed_posterior"] = hmm_smoothed_posterior


def _hmm2_oracle_sql() -> str:
    a00, a01, a10, a11 = _HMM_A
    e0, e1 = _HMM_E1
    b0 = f"CASE o.o WHEN 1 THEN {e0} ELSE {1 - e0} END"
    b1 = f"CASE o.o WHEN 1 THEN {e1} ELSE {1 - e1} END"
    wb0 = f"CASE w.o WHEN 1 THEN {e0} ELSE {1 - e0} END"
    wb1 = f"CASE w.o WHEN 1 THEN {e1} ELSE {1 - e1} END"
    return f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), med AS (SELECT median(c) AS med FROM daily),
    nn AS (SELECT count(*) AS nd FROM daily),
    obs AS (
        SELECT row_number() OVER (ORDER BY day) AS t, day,
               n.nd - row_number() OVER (ORDER BY day) + 1 AS rt,
               CAST(c > m.med AS INT) AS o
        FROM daily CROSS JOIN med m CROSS JOIN nn n
    ),
    fwd(t, o, a0, a1) AS (
        SELECT o.t, o.o,
               round(0.5 * {b0} / (0.5 * {b0} + 0.5 * {b1}), 9),
               round(0.5 * {b1} / (0.5 * {b0} + 0.5 * {b1}), 9)
        FROM obs o WHERE o.t = 1
        UNION ALL
        SELECT o.t, o.o,
               round((w.a0 * {a00} + w.a1 * {a10}) * {b0}
                     / ((w.a0 * {a00} + w.a1 * {a10}) * {b0}
                        + (w.a0 * {a01} + w.a1 * {a11}) * {b1}), 9),
               round((w.a0 * {a01} + w.a1 * {a11}) * {b1}
                     / ((w.a0 * {a00} + w.a1 * {a10}) * {b0}
                        + (w.a0 * {a01} + w.a1 * {a11}) * {b1}), 9)
        FROM fwd w JOIN obs o ON o.t = w.t + 1
    ),
    bwd(rt, t, o, v0, v1) AS (
        SELECT o.rt, o.t, o.o, CAST(0.5 AS DOUBLE),
               CAST(0.5 AS DOUBLE)
        FROM obs o WHERE o.rt = 1
        UNION ALL
        SELECT o.rt, o.t, o.o,
               round(({a00} * {wb0} * w.v0 + {a01} * {wb1} * w.v1)
                     / (({a00} * {wb0} * w.v0 + {a01} * {wb1} * w.v1)
                        + ({a10} * {wb0} * w.v0
                           + {a11} * {wb1} * w.v1)), 9),
               round(({a10} * {wb0} * w.v0 + {a11} * {wb1} * w.v1)
                     / (({a00} * {wb0} * w.v0 + {a01} * {wb1} * w.v1)
                        + ({a10} * {wb0} * w.v0
                           + {a11} * {wb1} * w.v1)), 9)
        FROM bwd w JOIN obs o ON o.rt = w.rt + 1
    )
    SELECT CAST(f.t AS BIGINT) AS t, ob.day,
           CAST(ob.o AS INT) AS obs_high,
           round(f.a1, 6) AS p_busy_filtered,
           round(f.a1 * b.v1 / (f.a0 * b.v0 + f.a1 * b.v1), 6)
               AS p_busy_smoothed
    FROM fwd f
    JOIN bwd b ON b.t = f.t
    JOIN obs ob ON ob.t = f.t
    ORDER BY f.t
"""


ORACLES["hmm_smoothed_posterior"] = _hmm2_oracle_sql()


_QTE_QS = tuple(round(q / 10, 1) for q in range(1, 10))


def ab_quantile_treatment_effects(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """QUANTILE treatment effects of the md5 A/B arm split on order
    value (Doksum 1974; Koenker's quantile-regression read at fixed
    quantiles): the per-decile difference q_tau(A) - q_tau(B) for
    tau = 0.1..0.9 — the distributional answer a mean test cannot
    give: an intervention that helps the p10 buyer and hurts the p90
    buyer nets to zero in `ab_test_report` but shows as a crossing
    QTE profile here.  The A/A-style md5 split makes the expected
    profile flat-at-zero, which is exactly what makes it a usable
    fixture oracle (any systematic tilt = a split bug).

    Exactness: order values are integer cents; both engines compute
    the same linear-interpolation quantile (Spark `percentile`,
    DuckDB `quantile_cont`) on integers, so every decile is a dyadic
    combination of two integers — no libm, one subtraction per row.

    Scale: one scan + one per-arm exact-percentile aggregate (the
    KLL-sketch `approx_percentile` is the stated 100 TB swap, same
    output shape); the decile table is 9 rows."""
    orders = load_table(spark, sf_dir, "orders")
    arm = md5_int(F.col("o_custkey").cast("string")) % 2
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    rows = orders.select(arm.alias("arm"), cents.alias("yc"))
    qs = ", ".join(str(q) for q in _QTE_QS)
    per = (rows.groupBy("arm")
           .agg(F.expr(f"percentile(yc, array({qs}))").alias("q")))
    wide = (per.groupBy()
            .agg(F.max(F.when(F.col("arm") == 0, F.col("q")))
                 .alias("qa"),
                 F.max(F.when(F.col("arm") == 1, F.col("q")))
                 .alias("qb")))
    idx = spark.range(1, len(_QTE_QS) + 1).select(
        F.col("id").cast("int").alias("i"))
    return (idx.crossJoin(F.broadcast(wide))
            .select((F.col("i") * 10).alias("decile_pct"),
                    F.round(F.element_at("qa", F.col("i")) / 100, 6)
                    .alias("q_arm_a"),
                    F.round(F.element_at("qb", F.col("i")) / 100, 6)
                    .alias("q_arm_b"),
                    F.round((F.element_at("qa", F.col("i"))
                             - F.element_at("qb", F.col("i"))) / 100,
                            6).alias("qte"))
            .orderBy("decile_pct"))


QUERIES["ab_quantile_treatment_effects"] = ab_quantile_treatment_effects
ORACLES["ab_quantile_treatment_effects"] = f"""
    WITH rows_ AS (
        SELECT (('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                 1, 8))::BIGINT % 2) AS arm,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS yc
        FROM orders
    ), per AS (
        SELECT arm,
               quantile_cont(yc, [{", ".join(str(q) for q in _QTE_QS)}])
                   AS q
        FROM rows_ GROUP BY arm
    ), wide AS (
        SELECT max(CASE WHEN arm = 0 THEN q END) AS qa,
               max(CASE WHEN arm = 1 THEN q END) AS qb
        FROM per
    )
    SELECT CAST(i * 10 AS BIGINT) AS decile_pct,
           round(qa[i] / 100, 6) AS q_arm_a,
           round(qb[i] / 100, 6) AS q_arm_b,
           round((qa[i] - qb[i]) / 100, 6) AS qte
    FROM wide, unnest(generate_series(1, {len(_QTE_QS)})) AS u(i)
    ORDER BY decile_pct
"""


_Z_80_POWER = 0.8416212335729143    # Phi^-1(0.80), precomputed literal


def ab_power_mde_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation MINIMUM DETECTABLE EFFECT table at 80% power /
    two-sided 5% for a future equal-split experiment on order value
    (the standard two-sample formula MDE = (z_{1-a/2} + z_{power})
    * sqrt(2 sigma^2 / n_per_arm); Cohen 1988) — the experiment-
    DESIGN operator every A/B program runs before launching: which
    strata are big enough to answer the question, and what effect
    size each can resolve.  Reported absolute (dollars) and relative
    (vs the stratum mean), with n_per_arm = floor(n/2).

    Exactness: sigma^2 comes from 128-bit-exact integer-cents
    moments; both inverse-normal quantiles are precomputed literals
    shared by both engines (the `ab_bh_fdr_nations` discipline — no
    in-engine erf); one sqrt per row.

    Scale: one scan + broadcast nation join + 25-key moment
    aggregate; the design table is dimension-sized."""
    rows = (orders_with_nation(spark, sf_dir)
            .select("nationkey",
                    F.round(F.col("o_totalprice") * 100, 0)
                    .cast("decimal(38,0)").alias("yc")))
    per = (rows.groupBy("nationkey")
           .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
                F.sum("yc").alias("s"),
                F.sum(F.col("yc") * F.col("yc")).alias("ss")))
    n_d = F.col("n").cast("double")
    mean = F.col("s").cast("double") / n_d / 100
    var = ((F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
           .cast("double") / (n_d * (n_d - 1)) / 10000)
    n_arm = F.floor(F.col("n").cast("long") / 2).cast("bigint")
    mde = ((F.lit(_AB_Z_CRIT) + F.lit(_Z_80_POWER))
           * F.sqrt(2 * var / n_arm.cast("double")))
    return (per.select(
        "nationkey", F.col("n").cast("bigint").alias("n_orders"),
        n_arm.alias("n_per_arm"),
        F.round(mean, 6).alias("mean_value"),
        F.round(F.sqrt(var), 6).alias("sd_value"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / mean, 6).alias("mde_rel"))
        .orderBy("nationkey"))


QUERIES["ab_power_mde_table"] = ab_power_mde_table
ORACLES["ab_power_mde_table"] = f"""
    WITH rows_ AS (
        SELECT c.c_nationkey AS nationkey,
               CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS yc
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), per AS (
        SELECT nationkey, CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(yc) AS HUGEINT) AS s,
               CAST(sum(CAST(yc AS HUGEINT) * yc) AS HUGEINT) AS ss
        FROM rows_ GROUP BY 1
    )
    SELECT nationkey, CAST(n AS BIGINT) AS n_orders,
           CAST(n // 2 AS BIGINT) AS n_per_arm,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100, 6)
               AS mean_value,
           round(sqrt(CAST(n * ss - s * s AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
                      / 10000), 6) AS sd_value,
           round(({_AB_Z_CRIT} + {_Z_80_POWER})
                 * sqrt(2 * (CAST(n * ss - s * s AS DOUBLE)
                             / (CAST(n AS DOUBLE)
                                * CAST(n - 1 AS DOUBLE)) / 10000)
                        / CAST(n // 2 AS DOUBLE)), 6) AS mde_abs,
           round(({_AB_Z_CRIT} + {_Z_80_POWER})
                 * sqrt(2 * (CAST(n * ss - s * s AS DOUBLE)
                             / (CAST(n AS DOUBLE)
                                * CAST(n - 1 AS DOUBLE)) / 10000)
                        / CAST(n // 2 AS DOUBLE))
                 / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100), 6)
               AS mde_rel
    FROM per ORDER BY nationkey
"""


def hmm_baum_welch_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE exact BAUM-WELCH re-estimation step (Baum et al. 1970;
    Rabiner 1989, problem 3) for the 2-state calm/busy HMM: from the
    same forward/backward recursions as `hmm_smoothed_posterior`,
    compute the pairwise posteriors xi_t(i,j) ∝ alpha_t(i) * A_ij *
    B_j(o_{t+1}) * beta_{t+1}(j), and emit the M-step updates
    A'_ij = sum_t xi_t(i,j) / sum_t gamma_t(i) and e'_i(high) =
    sum_{t: o_t=1} gamma_t(i) / sum_t gamma_t(i) (gammas over
    t <= T-1, the transition-denominator convention) — EM for
    sequence models, run end-to-end inside the engine: the E-step is
    two recursions, the M-step is one grouped sum.  A pipeline
    iterating this query converges to the local-MLE parameters.

    Determinism: the recursion discipline of the smoother (1e-9
    state snapping, exact integer observations); each xi snaps to
    1e-9 before its BIGINT cross-day sum, denominators are the same
    sums — so A' rows and e' are ratios of order-proof integers.
    Row-stochasticity of A' holds exactly by construction
    (numerators partition the denominator; pinned in tests).

    Scale: the xi table is (days x 4) — two recursions plus one
    dimension-sized join-and-reduce; iterate K times for K EM steps
    (the unroll knob, as in `doc_length_gmm`)."""
    _hmm_obs_view(spark, sf_dir, "qr_hmm3_obs", ("t", "o"))
    a00, a01, a10, a11 = _HMM_A
    e0, e1 = _HMM_E1
    # r10 _REC_ARRAY_STATE (module note): join-free walk bodies — the
    # obs string rides in state; fwd additionally carries its own o so
    # the xi join below stays unchanged
    fo = "element_at(w.oarr, CAST(w.t + 1 AS INT))"
    b0 = f"CASE {fo} WHEN 1 THEN {e0}D ELSE {1 - e0}D END"
    b1 = f"CASE {fo} WHEN 1 THEN {e1}D ELSE {1 - e1}D END"
    ob0 = (f"CASE element_at({_OARR}, 1) WHEN 1 THEN {e0}D"
           f" ELSE {1 - e0}D END")
    ob1 = (f"CASE element_at({_OARR}, 1) WHEN 1 THEN {e1}D"
           f" ELSE {1 - e1}D END")
    wb0 = f"CASE w.o WHEN 1 THEN {e0}D ELSE {1 - e0}D END"
    wb1 = f"CASE w.o WHEN 1 THEN {e1}D ELSE {1 - e1}D END"
    # un-normalized xi components; normalized per t below
    return spark.sql(f"""
        WITH RECURSIVE fwd(t, oarr, o, a0, a1) AS (
            SELECT 1 AS t, {_OARR},
                   element_at({_OARR}, 1) AS o,
                   round(0.5D * {ob0}
                         / (0.5D * {ob0} + 0.5D * {ob1}), 9),
                   round(0.5D * {ob1}
                         / (0.5D * {ob0} + 0.5D * {ob1}), 9)
            FROM (SELECT {_OARR_AGG} AS {_OARR}
                  FROM qr_hmm3_obs) s
            WHERE size({_OARR}) >= 1
            UNION ALL
            SELECT w.t + 1, w.oarr, {fo} AS o,
                   round((w.a0 * {a00}D + w.a1 * {a10}D) * {b0}
                         / ((w.a0 * {a00}D + w.a1 * {a10}D) * {b0}
                            + (w.a0 * {a01}D + w.a1 * {a11}D) * {b1}),
                         9),
                   round((w.a0 * {a01}D + w.a1 * {a11}D) * {b1}
                         / ((w.a0 * {a00}D + w.a1 * {a10}D) * {b0}
                            + (w.a0 * {a01}D + w.a1 * {a11}D) * {b1}),
                         9)
            FROM fwd w WHERE w.t < size(w.oarr)
        ),
        bwd(t, oarr, o, v0, v1) AS (
            SELECT size({_OARR}) AS t, {_OARR},
                   element_at({_OARR}, size({_OARR})) AS o,
                   CAST(0.5D AS DOUBLE), CAST(0.5D AS DOUBLE)
            FROM (SELECT {_OARR_AGG} AS {_OARR}
                  FROM qr_hmm3_obs) s
            WHERE size({_OARR}) >= 1
            UNION ALL
            SELECT w.t - 1, w.oarr,
                   element_at(w.oarr, CAST(w.t - 1 AS INT)),
                   round(({a00}D * {wb0} * w.v0
                          + {a01}D * {wb1} * w.v1)
                         / (({a00}D * {wb0} * w.v0
                             + {a01}D * {wb1} * w.v1)
                            + ({a10}D * {wb0} * w.v0
                               + {a11}D * {wb1} * w.v1)), 9),
                   round(({a10}D * {wb0} * w.v0
                          + {a11}D * {wb1} * w.v1)
                         / (({a00}D * {wb0} * w.v0
                             + {a01}D * {wb1} * w.v1)
                            + ({a10}D * {wb0} * w.v0
                               + {a11}D * {wb1} * w.v1)), 9)
            FROM bwd w WHERE w.t > 1
        ),
        amat(i, j, a) AS (
            SELECT 0, 0, {a00}D UNION ALL SELECT 0, 1, {a01}D
            UNION ALL SELECT 1, 0, {a10}D UNION ALL
            SELECT 1, 1, {a11}D
        ),
        xiraw AS (
            SELECT f.t, f.o AS o_t, m.i, m.j,
                   (CASE m.i WHEN 0 THEN f.a0 ELSE f.a1 END) * m.a
                   * (CASE m.j
                      WHEN 0 THEN CASE nx.o WHEN 1 THEN {e0}D
                                  ELSE {1 - e0}D END
                      ELSE CASE nx.o WHEN 1 THEN {e1}D
                           ELSE {1 - e1}D END END)
                   * (CASE m.j WHEN 0 THEN b.v0 ELSE b.v1 END) AS u
            FROM fwd f
            JOIN qr_hmm3_obs nx ON nx.t = f.t + 1
            JOIN bwd b ON b.t = f.t + 1
            CROSS JOIN amat m
        ),
        xi AS (
            SELECT t, o_t, i, j,
                   CAST(round(u / sum(u) OVER (PARTITION BY t) * 1e9,
                              0) AS BIGINT) AS xi_u
            FROM xiraw
        ),
        sums AS (
            SELECT i, j, CAST(sum(xi_u) AS BIGINT) AS sxi_u
            FROM xi GROUP BY i, j
        ),
        gam AS (
            SELECT i,
                   CAST(sum(xi_u) AS BIGINT) AS sg_u,
                   CAST(sum(CASE WHEN o_t = 1 THEN xi_u ELSE 0 END)
                        AS BIGINT) AS sg_hi_u
            FROM xi GROUP BY i
        )
        SELECT CAST(s.i AS INT) AS from_state,
               CAST(s.j AS INT) AS to_state,
               round(s.sxi_u / 1e9, 6) AS sum_xi,
               round(g.sg_u / 1e9, 6) AS sum_gamma,
               round(s.sxi_u / CAST(g.sg_u AS DOUBLE), 6) AS a_new,
               round(g.sg_hi_u / CAST(g.sg_u AS DOUBLE), 6)
                   AS e_high_new
        FROM sums s JOIN gam g ON g.i = s.i
        ORDER BY from_state, to_state
    """)


QUERIES["hmm_baum_welch_step"] = hmm_baum_welch_step


def _hmm_bw_oracle_sql() -> str:
    a00, a01, a10, a11 = _HMM_A
    e0, e1 = _HMM_E1
    b0 = f"CASE o.o WHEN 1 THEN {e0} ELSE {1 - e0} END"
    b1 = f"CASE o.o WHEN 1 THEN {e1} ELSE {1 - e1} END"
    wb0 = f"CASE w.o WHEN 1 THEN {e0} ELSE {1 - e0} END"
    wb1 = f"CASE w.o WHEN 1 THEN {e1} ELSE {1 - e1} END"
    return f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), med AS (SELECT median(c) AS med FROM daily),
    nn AS (SELECT count(*) AS nd FROM daily),
    obs AS (
        SELECT row_number() OVER (ORDER BY day) AS t,
               n.nd - row_number() OVER (ORDER BY day) + 1 AS rt,
               CAST(c > m.med AS INT) AS o
        FROM daily CROSS JOIN med m CROSS JOIN nn n
    ),
    fwd(t, o, a0, a1) AS (
        SELECT o.t, o.o,
               round(0.5 * {b0} / (0.5 * {b0} + 0.5 * {b1}), 9),
               round(0.5 * {b1} / (0.5 * {b0} + 0.5 * {b1}), 9)
        FROM obs o WHERE o.t = 1
        UNION ALL
        SELECT o.t, o.o,
               round((w.a0 * {a00} + w.a1 * {a10}) * {b0}
                     / ((w.a0 * {a00} + w.a1 * {a10}) * {b0}
                        + (w.a0 * {a01} + w.a1 * {a11}) * {b1}), 9),
               round((w.a0 * {a01} + w.a1 * {a11}) * {b1}
                     / ((w.a0 * {a00} + w.a1 * {a10}) * {b0}
                        + (w.a0 * {a01} + w.a1 * {a11}) * {b1}), 9)
        FROM fwd w JOIN obs o ON o.t = w.t + 1
    ),
    bwd(rt, t, o, v0, v1) AS (
        SELECT o.rt, o.t, o.o, CAST(0.5 AS DOUBLE),
               CAST(0.5 AS DOUBLE)
        FROM obs o WHERE o.rt = 1
        UNION ALL
        SELECT o.rt, o.t, o.o,
               round(({a00} * {wb0} * w.v0 + {a01} * {wb1} * w.v1)
                     / (({a00} * {wb0} * w.v0 + {a01} * {wb1} * w.v1)
                        + ({a10} * {wb0} * w.v0
                           + {a11} * {wb1} * w.v1)), 9),
               round(({a10} * {wb0} * w.v0 + {a11} * {wb1} * w.v1)
                     / (({a00} * {wb0} * w.v0 + {a01} * {wb1} * w.v1)
                        + ({a10} * {wb0} * w.v0
                           + {a11} * {wb1} * w.v1)), 9)
        FROM bwd w JOIN obs o ON o.rt = w.rt + 1
    ),
    amat(i, j, a) AS (
        VALUES (0, 0, {a00}), (0, 1, {a01}),
               (1, 0, {a10}), (1, 1, {a11})
    ),
    xiraw AS (
        SELECT f.t, f.o AS o_t, m.i, m.j,
               (CASE m.i WHEN 0 THEN f.a0 ELSE f.a1 END) * m.a
               * (CASE m.j
                  WHEN 0 THEN CASE nx.o WHEN 1 THEN {e0}
                              ELSE {1 - e0} END
                  ELSE CASE nx.o WHEN 1 THEN {e1}
                       ELSE {1 - e1} END END)
               * (CASE m.j WHEN 0 THEN b.v0 ELSE b.v1 END) AS u
        FROM fwd f
        JOIN obs nx ON nx.t = f.t + 1
        JOIN bwd b ON b.t = f.t + 1
        CROSS JOIN amat m
    ),
    xi AS (
        SELECT t, o_t, i, j,
               CAST(round(u / sum(u) OVER (PARTITION BY t) * 1e9, 0)
                    AS BIGINT) AS xi_u
        FROM xiraw
    ),
    sums AS (
        SELECT i, j, CAST(sum(xi_u) AS BIGINT) AS sxi_u
        FROM xi GROUP BY i, j
    ),
    gam AS (
        SELECT i, CAST(sum(xi_u) AS BIGINT) AS sg_u,
               CAST(sum(CASE WHEN o_t = 1 THEN xi_u ELSE 0 END)
                    AS BIGINT) AS sg_hi_u
        FROM xi GROUP BY i
    )
    SELECT CAST(s.i AS INT) AS from_state, CAST(s.j AS INT) AS to_state,
           round(s.sxi_u / 1e9, 6) AS sum_xi,
           round(g.sg_u / 1e9, 6) AS sum_gamma,
           round(s.sxi_u / CAST(g.sg_u AS DOUBLE), 6) AS a_new,
           round(g.sg_hi_u / CAST(g.sg_u AS DOUBLE), 6) AS e_high_new
    FROM sums s JOIN gam g ON g.i = s.i
    ORDER BY from_state, to_state
"""


ORACLES["hmm_baum_welch_step"] = _hmm_bw_oracle_sql()


_TWO_PI = 6.283185307179586
_RAYLEIGH_5PCT = 2.9957322735539909   # -ln(0.05): z > this rejects


def event_time_circular_stats(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """CIRCULAR statistics of event time-of-day per type (Fisher
    1993; Mardia & Jupp 2000): the 24-hour clock is a circle, so
    "mean hour" must be the direction of the resultant vector
    (mean of cos/sin), not the arithmetic mean — 23:00 and 01:00
    average to midnight, not noon.  Per type: circular mean hour,
    resultant length R-bar (1 = perfectly peaked, 0 = uniform),
    circular variance 1 - R-bar, and the Rayleigh uniformity score
    z = n * R-bar² against the literal -ln(0.05) threshold — the
    "does this event type have a daily rhythm at all" audit that
    feeds seasonality choices upstream of the forecasters.

    Determinism: angles derive from integer seconds-of-day; per-row
    cos/sin snap to the 1e-9 grid and BIGINT-sum, so R-bar and the
    mean direction are functions of two order-proof integers; atan2
    is evaluated once per type on those.

    Scale: one map-side projection + one per-type aggregate —
    dimension-sized output."""
    ev = load_table(spark, sf_dir, "events")
    sod = (F.hour("ts") * 3600 + F.minute("ts") * 60
           + F.second("ts")).cast("double")
    theta = sod / 86400.0 * F.lit(_TWO_PI)
    rows = ev.select(
        "event_type",
        F.round(F.cos(theta) * 1e9, 0).cast("bigint").alias("cu"),
        F.round(F.sin(theta) * 1e9, 0).cast("bigint").alias("su"))
    agg = (rows.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("cu").alias("sc"), F.sum("su").alias("ss")))
    c = F.col("sc") / 1e9
    s = F.col("ss") / 1e9
    n = F.col("n").cast("double")
    rbar = F.sqrt(c * c + s * s) / n
    ang = F.atan2(s, c)
    mean_hour = (F.pmod(ang, F.lit(_TWO_PI)) / F.lit(_TWO_PI)) * 24
    z = n * rbar * rbar
    return (agg.select(
        "event_type", "n",
        F.round(mean_hour, 6).alias("mean_hour"),
        F.round(rbar, 6).alias("resultant_r"),
        F.round(1 - rbar, 6).alias("circ_variance"),
        F.round(z, 6).alias("rayleigh_z"),
        (F.round(z, 6) > F.lit(_RAYLEIGH_5PCT)).alias("nonuniform"))
        .orderBy("event_type"))


QUERIES["event_time_circular_stats"] = event_time_circular_stats
ORACLES["event_time_circular_stats"] = f"""
    WITH rows_ AS (
        SELECT event_type,
               CAST(round(cos((datepart('hour', ts) * 3600
                               + datepart('minute', ts) * 60
                               + datepart('second', ts))
                              / 86400.0 * {_TWO_PI}) * 1e9, 0)
                    AS BIGINT) AS cu,
               CAST(round(sin((datepart('hour', ts) * 3600
                               + datepart('minute', ts) * 60
                               + datepart('second', ts))
                              / 86400.0 * {_TWO_PI}) * 1e9, 0)
                    AS BIGINT) AS su
        FROM events
    ), agg AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cu) AS BIGINT) AS sc,
               CAST(sum(su) AS BIGINT) AS ss
        FROM rows_ GROUP BY 1
    )
    SELECT event_type, n,
           round(fmod(fmod(atan2(ss / 1e9, sc / 1e9), {_TWO_PI})
                      + {_TWO_PI}, {_TWO_PI})
                 / {_TWO_PI} * 24, 6) AS mean_hour,
           round(sqrt((sc / 1e9) * (sc / 1e9)
                      + (ss / 1e9) * (ss / 1e9))
                 / CAST(n AS DOUBLE), 6) AS resultant_r,
           round(1 - sqrt((sc / 1e9) * (sc / 1e9)
                          + (ss / 1e9) * (ss / 1e9))
                     / CAST(n AS DOUBLE), 6) AS circ_variance,
           round(CAST(n AS DOUBLE)
                 * (sqrt((sc / 1e9) * (sc / 1e9)
                         + (ss / 1e9) * (ss / 1e9))
                    / CAST(n AS DOUBLE))
                 * (sqrt((sc / 1e9) * (sc / 1e9)
                         + (ss / 1e9) * (ss / 1e9))
                    / CAST(n AS DOUBLE)), 6) AS rayleigh_z,
           round(CAST(n AS DOUBLE)
                 * (sqrt((sc / 1e9) * (sc / 1e9)
                         + (ss / 1e9) * (ss / 1e9))
                    / CAST(n AS DOUBLE))
                 * (sqrt((sc / 1e9) * (sc / 1e9)
                         + (ss / 1e9) * (ss / 1e9))
                    / CAST(n AS DOUBLE)), 6) > {_RAYLEIGH_5PCT}
               AS nonuniform
    FROM agg ORDER BY event_type
"""


def hmm_viterbi_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VITERBI decoding of the 2-state calm/busy HMM (Viterbi 1967;
    Rabiner problem 2's MAP-path form): the single most probable
    STATE SEQUENCE given the whole observation string — different
    from the smoothed per-day posterior (`hmm_smoothed_posterior`
    maximizes each day marginally; Viterbi maximizes the joint path,
    which can disagree day-by-day).  The max-product recursion runs
    in the engine's recursive CTE with the BACKPOINTER PATHS carried
    as arrays in the recursion state (the `forecast_holtwinters`
    array-state pattern), so no backward backtracking pass is
    needed: at the end the argmax terminal state's array IS the
    decoded path.

    Determinism: deltas are normalized and snapped to 1e-9 each
    level (scale cancels in argmax); ties in each max resolve to
    state 0 by >= comparison on both engines; observations are
    integer-count comparisons against the exact median.

    Scale: recursion state is two doubles + two day-length int
    arrays per series — O(days) state instead of a second pass; for
    very long series the standard trade is checkpointed backpointer
    tables + a backward walk."""
    _hmm_obs_view(spark, sf_dir, "qr_hmm4_obs")
    a00, a01, a10, a11 = _HMM_A
    e0, e1 = _HMM_E1
    # r10 _REC_ARRAY_STATE (see module note): the obs string rides in
    # the recursion state, the body is join-free, every level folds to
    # a driver-evaluated LocalRelation — identical per-step arithmetic
    o = "element_at(w.oarr, CAST(w.t + 1 AS INT))"
    b0 = f"CASE {o} WHEN 1 THEN {e0}D ELSE {1 - e0}D END"
    b1 = f"CASE {o} WHEN 1 THEN {e1}D ELSE {1 - e1}D END"
    ob0 = (f"CASE element_at({_OARR}, 1) WHEN 1 THEN {e0}D"
           f" ELSE {1 - e0}D END")
    ob1 = (f"CASE element_at({_OARR}, 1) WHEN 1 THEN {e1}D"
           f" ELSE {1 - e1}D END")
    # candidate scores into state j: from 0 = w.d0*A0j, from 1 = w.d1*A1j
    in0 = f"greatest(w.d0 * {a00}D, w.d1 * {a10}D) * {b0}"
    in1 = f"greatest(w.d0 * {a01}D, w.d1 * {a11}D) * {b1}"
    return spark.sql(f"""
        WITH RECURSIVE vit(t, oarr, d0, d1, p0, p1) AS (
            SELECT 1 AS t, {_OARR},
                   round(0.5D * {ob0}
                         / (0.5D * {ob0} + 0.5D * {ob1}), 9),
                   round(0.5D * {ob1}
                         / (0.5D * {ob0} + 0.5D * {ob1}), 9),
                   array(0), array(1)
            FROM (SELECT {_OARR_AGG} AS {_OARR}
                  FROM qr_hmm4_obs) s
            WHERE size({_OARR}) >= 1
            UNION ALL
            SELECT w.t + 1, w.oarr,
                   round({in0} / ({in0} + {in1}), 9),
                   round({in1} / ({in0} + {in1}), 9),
                   concat(CASE WHEN w.d0 * {a00}D >= w.d1 * {a10}D
                               THEN w.p0 ELSE w.p1 END, array(0)),
                   concat(CASE WHEN w.d0 * {a01}D >= w.d1 * {a11}D
                               THEN w.p0 ELSE w.p1 END, array(1))
            FROM vit w WHERE w.t < size(w.oarr)
        ),
        fin AS (
            SELECT CASE WHEN d0 >= d1 THEN p0 ELSE p1 END AS path
            FROM vit ORDER BY t DESC LIMIT 1
        )
        SELECT ob.t, ob.day, CAST(ob.o AS INT) AS obs_high,
               CAST(element_at(f.path, CAST(ob.t AS INT)) AS INT)
                   AS map_state
        FROM qr_hmm4_obs ob CROSS JOIN fin f
        ORDER BY ob.t
    """)


QUERIES["hmm_viterbi_path"] = hmm_viterbi_path


def _hmm_viterbi_oracle_sql() -> str:
    a00, a01, a10, a11 = _HMM_A
    e0, e1 = _HMM_E1
    b0 = f"CASE o.o WHEN 1 THEN {e0} ELSE {1 - e0} END"
    b1 = f"CASE o.o WHEN 1 THEN {e1} ELSE {1 - e1} END"
    in0 = f"greatest(w.d0 * {a00}, w.d1 * {a10}) * {b0}"
    in1 = f"greatest(w.d0 * {a01}, w.d1 * {a11}) * {b1}"
    return f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), med AS (SELECT median(c) AS med FROM daily),
    obs AS (
        SELECT row_number() OVER (ORDER BY day) AS t, day,
               CAST(c > m.med AS INT) AS o
        FROM daily CROSS JOIN med m
    ),
    vit(t, d0, d1, p0, p1) AS (
        SELECT o.t,
               round(0.5 * {b0} / (0.5 * {b0} + 0.5 * {b1}), 9),
               round(0.5 * {b1} / (0.5 * {b0} + 0.5 * {b1}), 9),
               [0], [1]
        FROM obs o WHERE o.t = 1
        UNION ALL
        SELECT o.t,
               round({in0} / ({in0} + {in1}), 9),
               round({in1} / ({in0} + {in1}), 9),
               list_append(CASE WHEN w.d0 * {a00} >= w.d1 * {a10}
                           THEN w.p0 ELSE w.p1 END, 0),
               list_append(CASE WHEN w.d0 * {a01} >= w.d1 * {a11}
                           THEN w.p0 ELSE w.p1 END, 1)
        FROM vit w JOIN obs o ON o.t = w.t + 1
    ),
    fin AS (
        SELECT CASE WHEN d0 >= d1 THEN p0 ELSE p1 END AS path
        FROM vit ORDER BY t DESC LIMIT 1
    )
    SELECT CAST(ob.t AS BIGINT) AS t, ob.day,
           CAST(ob.o AS INT) AS obs_high,
           CAST(f.path[CAST(ob.t AS INT)] AS INT) AS map_state
    FROM obs ob CROSS JOIN fin f
    ORDER BY ob.t
"""


ORACLES["hmm_viterbi_path"] = _hmm_viterbi_oracle_sql()


def price_elasticity_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log PRICE ELASTICITY of demand per part brand (Marshall's
    elasticity; the workhorse pricing regression): slope of
    ln(quantity) on ln(unit price) across the brand's line items —
    elasticity < -1 = elastic (discounting grows revenue), -1..0 =
    inelastic (discounting burns margin).  The units: a 1% price
    increase moves quantity by elasticity%.  R² reported so a flat
    scatter (no real price variation) is visibly untrustworthy
    rather than silently near-zero.

    Exactness: unit price is an exact integer-cents-per-unit ratio;
    both logs snap to the 1e-6 grid per row, the five regression
    sums are BIGINT/128-bit micro-unit aggregates, and the closed
    forms divide them once — the `series_trend_ols` discipline on a
    (brand)-keyed panel.

    Scale: one lineitem scan + broadcast part join, one 25-key
    moment aggregate — the elasticity table is dimension-sized."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand")
    x = F.round(F.log(F.col("l_extendedprice")
                      / F.col("l_quantity")), 6)
    y = F.round(F.log(F.col("l_quantity").cast("double")), 6)
    rows = (li.join(F.broadcast(part), "l_partkey")
            .select("p_brand",
                    F.round(x * 1e6, 0).cast("long").alias("xu"),
                    F.round(y * 1e6, 0).cast("long").alias("yu")))
    a = (rows.groupBy("p_brand")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("xu").alias("sx"), F.sum("yu").alias("sy"),
              F.sum(F.col("xu").cast("decimal(38,0)") * F.col("yu"))
              .alias("sxy"),
              F.sum(F.col("xu").cast("decimal(38,0)") * F.col("xu"))
              .alias("sxx"),
              F.sum(F.col("yu").cast("decimal(38,0)") * F.col("yu"))
              .alias("syy")))
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double") / 1e6
    sy = F.col("sy").cast("double") / 1e6
    sxy = F.col("sxy").cast("double") / 1e12
    sxx = F.col("sxx").cast("double") / 1e12
    syy = F.col("syy").cast("double") / 1e12
    cov = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return (a.select("p_brand", "n",
                     F.round(cov / vx, 6).alias("elasticity"),
                     F.round(cov * cov / (vx * vy), 6).alias("r2"),
                     F.round(sx / n, 6).alias("mean_ln_price"))
            .orderBy("p_brand"))


QUERIES["price_elasticity_ols"] = price_elasticity_ols
ORACLES["price_elasticity_ols"] = """
    WITH rows_ AS (
        SELECT p.p_brand,
               CAST(round(round(ln(l.l_extendedprice / l.l_quantity),
                                6) * 1e6, 0) AS BIGINT) AS xu,
               CAST(round(round(ln(CAST(l.l_quantity AS DOUBLE)), 6)
                          * 1e6, 0) AS BIGINT) AS yu
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), a AS (
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xu) AS BIGINT) AS sx,
               CAST(sum(yu) AS BIGINT) AS sy,
               CAST(sum(CAST(xu AS HUGEINT) * yu) AS HUGEINT) AS sxy,
               CAST(sum(CAST(xu AS HUGEINT) * xu) AS HUGEINT) AS sxx,
               CAST(sum(CAST(yu AS HUGEINT) * yu) AS HUGEINT) AS syy
        FROM rows_ GROUP BY 1
    )
    SELECT p_brand, n,
           round((CAST(n AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e12)
                  - (sx / 1e6) * (sy / 1e6))
                 / (CAST(n AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e12)
                    - (sx / 1e6) * (sx / 1e6)), 6) AS elasticity,
           round((CAST(n AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e12)
                  - (sx / 1e6) * (sy / 1e6))
                 * (CAST(n AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e12)
                    - (sx / 1e6) * (sy / 1e6))
                 / ((CAST(n AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e12)
                     - (sx / 1e6) * (sx / 1e6))
                    * (CAST(n AS DOUBLE) * (CAST(syy AS DOUBLE) / 1e12)
                       - (sy / 1e6) * (sy / 1e6))), 6) AS r2,
           round((sx / 1e6) / CAST(n AS DOUBLE), 6) AS mean_ln_price
    FROM a ORDER BY p_brand
"""


def littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LITTLE'S LAW audit over the session population (Little 1961:
    L = lambda W — average concurrency equals arrival rate times
    mean dwell time): the identity is measured from two INDEPENDENT
    computations — L_sweep from a sweep-line time-integral of
    concurrency (explode each session to (+1 at start, -1 at end),
    running sum x gap to the next boundary) and L_little =
    lambda * W = total session-time / horizon — and over a closed
    horizon the two are EXACTLY equal in integer microseconds
    (the time-integral of a sum of indicators IS the sum of the
    indicators' supports), so `identity_gap_us` must be 0: two
    different algorithms, one invariant, the house bin-and-refine
    discipline applied to queueing's most famous law.  Alongside:
    arrival rate per hour and mean session seconds — the capacity-
    planning pair the law links.

    Determinism: all times are exact integer microseconds; the
    running concurrency at equal timestamps is tie-ordered (ends
    before starts), which cannot move the integral (zero-width
    gaps); every sum is a BIGINT.

    Scale: sessionization is the shared user_id shuffle; the sweep
    is ONE global sort of 2x sessions boundaries — at open scale the
    sweep partitions by day with boundary-carry, the same segmented
    pattern as the ledger."""
    from pyspark.sql.window import Window
    from ..streaming.queries import sessionize_events
    sess = (sessionize_events(load_table(spark, sf_dir, "events"))
            .groupBy("user_id", "session_id")
            .agg(F.unix_micros(F.min("ts")).alias("st"),
                 F.unix_micros(F.max("ts")).alias("en")))
    pts = (sess.select(F.col("st").alias("t"), F.lit(1).alias("d"))
           .union(sess.select(F.col("en").alias("t"),
                              F.lit(-1).alias("d"))))
    w = Window.orderBy("t", "d")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    swept = (pts
             .withColumn("running", F.sum("d").over(wc))
             .withColumn("nxt", F.lead("t").over(w))
             .where(F.col("nxt").isNotNull())
             .agg(F.sum(F.col("running")
                        * (F.col("nxt") - F.col("t")))
                  .alias("integral_us")))
    base = sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.col("en") - F.col("st")).alias("dur_us"),
        F.min("st").alias("t0"), F.max("en").alias("t1"))
    horizon = (F.col("t1") - F.col("t0")).cast("double")
    return (base.crossJoin(F.broadcast(swept))
            .select("n_sessions",
                    F.round(F.col("dur_us") / 1e6, 6)
                    .alias("total_session_seconds"),
                    F.round(horizon / 1e6, 6).alias("horizon_seconds"),
                    F.round(F.col("integral_us") / horizon, 6)
                    .alias("l_sweep"),
                    F.round(F.col("n_sessions") / horizon * 3.6e9, 6)
                    .alias("lambda_per_hour"),
                    F.round(F.col("dur_us")
                            / F.col("n_sessions").cast("double")
                            / 1e6, 6).alias("w_mean_seconds"),
                    F.round(F.col("dur_us") / horizon, 6)
                    .alias("l_little"),
                    (F.col("integral_us") - F.col("dur_us"))
                    .alias("identity_gap_us")))


QUERIES["littles_law_audit"] = littles_law_audit
ORACLES["littles_law_audit"] = f"""
    WITH {SESSIONIZED_SQL},
    sess AS (
        SELECT user_id, session_id,
               CAST(epoch_us(min(ts)) AS BIGINT) AS st,
               CAST(epoch_us(max(ts)) AS BIGINT) AS en
        FROM sessions GROUP BY 1, 2
    ), pts AS (
        SELECT st AS t, 1 AS d FROM sess
        UNION ALL SELECT en, -1 FROM sess
    ), swept AS (
        SELECT CAST(sum(running * (nxt - t)) AS BIGINT) AS integral_us
        FROM (
            SELECT t,
                   sum(d) OVER (ORDER BY t, d
                       ROWS UNBOUNDED PRECEDING) AS running,
                   lead(t) OVER (ORDER BY t, d) AS nxt
            FROM pts
        ) WHERE nxt IS NOT NULL
    ), base AS (
        SELECT CAST(count(*) AS BIGINT) AS n_sessions,
               CAST(sum(en - st) AS BIGINT) AS dur_us,
               min(st) AS t0, max(en) AS t1
        FROM sess
    )
    SELECT b.n_sessions,
           round(b.dur_us / 1e6, 6) AS total_session_seconds,
           round((b.t1 - b.t0) / 1e6, 6) AS horizon_seconds,
           round(s.integral_us / CAST(b.t1 - b.t0 AS DOUBLE), 6)
               AS l_sweep,
           round(b.n_sessions / CAST(b.t1 - b.t0 AS DOUBLE) * 3.6e9,
                 6) AS lambda_per_hour,
           round(b.dur_us / CAST(b.n_sessions AS DOUBLE) / 1e6, 6)
               AS w_mean_seconds,
           round(b.dur_us / CAST(b.t1 - b.t0 AS DOUBLE), 6)
               AS l_little,
           CAST(s.integral_us - b.dur_us AS BIGINT)
               AS identity_gap_us
    FROM base b CROSS JOIN swept s
"""


_CF_EVAL_CUTOFF = "1999-01-01"   # train < cutoff, evaluate >= cutoff


def cf_holdout_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUT-OF-TIME evaluation of the item-item CF recommender
    (`item_item_cf_topk`'s co-buyer cosine, retrained on orders
    BEFORE 1999-01-01): for each of the 20 top train-period targets,
    among its train-period buyers, what fraction bought one of its
    top-5 CF NEIGHBORS in the held-out period — against the
    POPULARITY baseline (the 5 globally most-bought train items,
    excluding the target) on the same buyers.  lift = cf_rate /
    pop_rate — the number that decides whether the similarity model
    earns its complexity over "just recommend bestsellers", the same
    way `knn_label_accuracy` and `ann_eval_ndcg` gate the embedding
    index.  Temporal split, not random: recommenders leak badly
    under random splits (the `leakage_free_split` lesson).

    Exactness: every set is a distinct (cust, item) relation and
    every rate an integer ratio; cosine ties break by partkey as in
    the base query.

    Scale: the train CF chain is the base query's bounded shape
    (constant 20-target broadcast); the eval joins are (buyers x 5
    neighbors)-keyed semi-joins."""
    from pyspark.sql.window import Window
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey")
    joined = (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .select(F.col("o_custkey").alias("cust"),
                      F.col("l_partkey").alias("item"),
                      "o_orderdate"))
    # r9 (guide §2.4): train feeds deg/targets/co-buyers (3×), deg the
    # top-k, cosine and popularity tables (3×), tbuys the co-buyer join
    # and the buyer lists (2×) — cuts keep the fact join single-run
    train = (joined.where(F.col("o_orderdate")
                          < F.lit(_CF_EVAL_CUTOFF))
             .select("cust", "item").distinct()
             .localCheckpoint())
    test = (joined.where(F.col("o_orderdate")
                         >= F.lit(_CF_EVAL_CUTOFF))
            .select("cust", "item").distinct())
    deg = (train.groupBy("item").agg(F.count(F.lit(1)).alias("n_buyers"))
           .localCheckpoint())
    top = (deg.orderBy(F.col("n_buyers").desc(), F.col("item").asc())
           .limit(_CF_ITEMS)
           .select(F.col("item").alias("target"),
                   F.col("n_buyers").alias("n_t")))
    tbuys = (train.join(F.broadcast(top), train.item == top.target)
             .select("target", "n_t", "cust")
             .localCheckpoint())
    cooc = (tbuys.join(train, "cust")
            .where(F.col("item") != F.col("target"))
            .groupBy("target", "n_t", "item")
            .agg(F.count(F.lit(1)).alias("co_buyers")))
    cos = (cooc.join(F.broadcast(deg), "item")
           .withColumn("cosine",
                       F.round(F.col("co_buyers")
                               / F.sqrt((F.col("n_t")
                                         * F.col("n_buyers"))
                                        .cast("double")), 6)))
    wr = Window.partitionBy("target").orderBy(
        F.col("cosine").desc(), F.col("item").asc())
    nbrs = (cos.withColumn("rank", F.row_number().over(wr))
            .where(F.col("rank") <= _CF_K)
            .select("target", F.col("item").alias("rec")))
    pop = (deg.orderBy(F.col("n_buyers").desc(), F.col("item").asc())
           .limit(_CF_ITEMS + _CF_K)
           .select(F.col("item").alias("rec"),
                   F.col("n_buyers").alias("pb")))
    wp = Window.partitionBy("target").orderBy(
        F.col("pb").desc(), F.col("rec").asc())
    popn = (top.select("target").crossJoin(F.broadcast(pop))
            .where(F.col("rec") != F.col("target"))
            .withColumn("rank", F.row_number().over(wp))
            .where(F.col("rank") <= _CF_K)
            .select("target", "rec"))
    buyers = tbuys.select("target", "cust")

    test_r = test.select(F.col("cust").alias("t_cust"),
                         F.col("item").alias("t_item"))

    def hit(recs, name):
        return (buyers.join(recs, "target")
                .join(test_r, (F.col("cust") == F.col("t_cust"))
                      & (F.col("rec") == F.col("t_item")),
                      "left_semi")
                .select("target", "cust").distinct()
                .groupBy("target")
                .agg(F.count(F.lit(1)).alias(name)))

    cf_h = hit(nbrs, "cf_hits")
    pop_h = hit(popn, "pop_hits")
    base = buyers.groupBy("target").agg(
        F.count(F.lit(1)).alias("n_train_buyers"))
    out = (base.join(cf_h, "target", "left")
           .join(pop_h, "target", "left")
           .select(F.col("target").alias("p_partkey"),
                   "n_train_buyers",
                   F.coalesce("cf_hits", F.lit(0)).alias("cf_hits"),
                   F.coalesce("pop_hits", F.lit(0))
                   .alias("pop_hits")))
    cf_rate = F.round(F.col("cf_hits")
                      / F.col("n_train_buyers").cast("double"), 6)
    pop_rate = F.round(F.col("pop_hits")
                       / F.col("n_train_buyers").cast("double"), 6)
    return (out.withColumn("cf_rate", cf_rate)
            .withColumn("pop_rate", pop_rate)
            .withColumn("lift", F.round(
                F.col("cf_hits")
                / F.nullif(F.col("pop_hits").cast("double"),
                           F.lit(0.0)), 6))
            .orderBy("p_partkey"))


QUERIES["cf_holdout_lift"] = cf_holdout_lift
ORACLES["cf_holdout_lift"] = f"""
    WITH joined AS (
        SELECT o.o_custkey AS cust, l.l_partkey AS item,
               o.o_orderdate
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), train AS (
        SELECT DISTINCT cust, item FROM joined
        WHERE o_orderdate < DATE '{_CF_EVAL_CUTOFF}'
    ), test AS (
        SELECT DISTINCT cust, item FROM joined
        WHERE o_orderdate >= DATE '{_CF_EVAL_CUTOFF}'
    ), deg AS (
        SELECT item, CAST(count(*) AS BIGINT) AS n_buyers
        FROM train GROUP BY item
    ), top AS (
        SELECT item AS target, n_buyers AS n_t FROM deg
        ORDER BY n_buyers DESC, item ASC LIMIT {_CF_ITEMS}
    ), cooc AS (
        SELECT t.target, t.n_t, b.item,
               CAST(count(*) AS BIGINT) AS co_buyers
        FROM top t
        JOIN train tb ON tb.item = t.target
        JOIN train b ON b.cust = tb.cust AND b.item != t.target
        GROUP BY 1, 2, 3
    ), nbrs AS (
        SELECT target, item AS rec
        FROM (SELECT c.target, c.item,
                     row_number() OVER (PARTITION BY c.target
                         ORDER BY round(c.co_buyers
                             / sqrt(CAST(c.n_t * d.n_buyers
                                         AS DOUBLE)), 6) DESC,
                             c.item ASC) AS rank
              FROM cooc c JOIN deg d ON d.item = c.item)
        WHERE rank <= {_CF_K}
    ), pop AS (
        SELECT item AS rec, n_buyers AS pb FROM deg
        ORDER BY n_buyers DESC, item ASC
        LIMIT {_CF_ITEMS + _CF_K}
    ), popn AS (
        SELECT target, rec
        FROM (SELECT t.target, p.rec,
                     row_number() OVER (PARTITION BY t.target
                         ORDER BY p.pb DESC, p.rec ASC) AS rank
              FROM top t CROSS JOIN pop p
              WHERE p.rec != t.target)
        WHERE rank <= {_CF_K}
    ), buyers AS (
        SELECT t.target, tr.cust
        FROM top t JOIN train tr ON tr.item = t.target
    ), cf_h AS (
        SELECT b.target, CAST(count(DISTINCT b.cust) AS BIGINT)
                   AS cf_hits
        FROM buyers b
        JOIN nbrs n ON n.target = b.target
        WHERE EXISTS (SELECT 1 FROM test te
                      WHERE te.cust = b.cust AND te.item = n.rec)
        GROUP BY b.target
    ), pop_h AS (
        SELECT b.target, CAST(count(DISTINCT b.cust) AS BIGINT)
                   AS pop_hits
        FROM buyers b
        JOIN popn n ON n.target = b.target
        WHERE EXISTS (SELECT 1 FROM test te
                      WHERE te.cust = b.cust AND te.item = n.rec)
        GROUP BY b.target
    ), base AS (
        SELECT target, CAST(count(*) AS BIGINT) AS n_train_buyers
        FROM buyers GROUP BY target
    )
    SELECT b.target AS p_partkey, b.n_train_buyers,
           coalesce(c.cf_hits, 0) AS cf_hits,
           coalesce(p.pop_hits, 0) AS pop_hits,
           round(coalesce(c.cf_hits, 0)
                 / CAST(b.n_train_buyers AS DOUBLE), 6) AS cf_rate,
           round(coalesce(p.pop_hits, 0)
                 / CAST(b.n_train_buyers AS DOUBLE), 6) AS pop_rate,
           round(coalesce(c.cf_hits, 0)
                 / nullif(CAST(coalesce(p.pop_hits, 0) AS DOUBLE),
                          0), 6) AS lift
    FROM base b
    LEFT JOIN cf_h c USING (target)
    LEFT JOIN pop_h p USING (target)
    ORDER BY p_partkey
"""


# chi2_0.95(df) literals for df = 1..24 (computed offline by bisection on
# the regularized incomplete gamma; matches standard tables to 1e-12) —
# lets k-group tests pick the critical value for the df the DATA yields
# instead of assuming all 25 nations are present (r7 review finding: at
# a tiny SF a missing nation made the df-24 literal silently wrong).
_CHI2_95 = {
    1: 3.8414588206941396, 2: 5.991464547107983, 3: 7.814727903251171,
    4: 9.487729036781161, 5: 11.070497693516344, 6: 12.591587243743916,
    7: 14.067140449340144, 8: 15.507313055865506, 9: 16.918977604620487,
    10: 18.307038053275, 11: 19.675137572682516, 12: 21.026069817483112,
    13: 22.36203249482672, 14: 23.684791304840637, 15: 24.99579013972877,
    16: 26.29622760486434, 17: 27.58711163827539, 18: 28.86929943039258,
    19: 30.143527205646137, 20: 31.410432844230684, 21: 32.67057334091727,
    22: 33.924438471443864, 23: 35.172461626908245, 24: 36.41502850180731,
}


def _chi2_crit_expr(kcol):
    """Spark CASE over the k-groups column: chi2_0.95(k-1), NULL if the
    df falls outside the table (k < 2 or k > 25)."""
    expr = None
    for df, crit in _CHI2_95.items():
        cond = kcol == (df + 1)
        expr = F.when(cond, F.lit(crit)) if expr is None             else expr.when(cond, F.lit(crit))
    return expr


def _chi2_crit_sql(kcol: str) -> str:
    # the e0 suffix forces DuckDB to parse each literal as DOUBLE —
    # a plain decimal literal becomes DECIMAL and loses the last digits
    whens = " ".join(f"WHEN {df + 1} THEN {crit!r}e0"
                     for df, crit in _CHI2_95.items())
    return f"(CASE {kcol} {whens} END)"




def anova_nation_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA of order value across the 25 customer nations
    (Fisher 1925): F = (SSB/(k-1)) / (SSW/(N-k)) — the all-strata
    generalization of the pairwise tests in the ab_* family, and
    the gate before any per-nation drill-down ("is there ANY
    between-nation signal at all").  The residual df is ~N, so the
    5% critical value is the literal F(24, inf) = chi2(24)/24 —
    both engines share it as a constant (the erf-free discipline).

    Exactness: SSB and SSW come from 128-bit-exact integer-cents
    moments via the decomposition SST = SSB + SSW (each term a
    function of per-nation (n, sum, sum-of-squares) — the identity
    is pinned in tests); F is one division of the two mean squares.

    Scale: one orders scan + broadcast nation join + 25-key moment
    aggregate; the ANOVA table is one row."""
    rows = (orders_with_nation(spark, sf_dir)
            .select("nationkey",
                    F.round(F.col("o_totalprice") * 100, 0)
                    .cast("decimal(38,0)").alias("yc")))
    per = (rows.groupBy("nationkey")
           .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
                F.sum("yc").alias("s"),
                F.sum(F.col("yc") * F.col("yc")).alias("ss")))
    # per-nation s^2/n snapped to the 1e-2-dollar^2 grid and summed
    # as 128-bit integers — a raw double sum of 25 terms is order-
    # sensitive in its last ulp and forked the two engines
    gterm = F.round((F.col("s").cast("double") / 100)
                    * (F.col("s").cast("double") / 100)
                    / F.col("n").cast("double") * 100, 0) \
        .cast("decimal(38,0)")
    tot = per.agg(F.sum(F.col("n")).alias("nn"),
                  F.sum("s").alias("st"), F.sum("ss").alias("sst"),
                  F.count(F.lit(1)).alias("k"),
                  (F.sum(gterm).cast("double") / 100).alias("grp"))
    nn = F.col("nn").cast("double")
    sst_ = (F.col("sst").cast("double") / 10000
            - (F.col("st").cast("double") / 100)
            * (F.col("st").cast("double") / 100) / nn)
    ssb = (F.col("grp")
           - (F.col("st").cast("double") / 100)
           * (F.col("st").cast("double") / 100) / nn)
    ssw = sst_ - ssb
    k = F.col("k").cast("double")
    fstat = (ssb / (k - 1)) / (ssw / (nn - k))
    return tot.select(
        F.col("k").cast("int").alias("k_groups"),
        F.col("nn").cast("bigint").alias("n_total"),
        F.round(ssb, 2).alias("ss_between"),
        F.round(ssw, 2).alias("ss_within"),
        F.round(fstat, 6).alias("f_stat"),
        (_chi2_crit_expr(F.col("k"))
         / (F.col("k").cast("double") - 1.0)).alias("f_crit_5pct"),
        (F.round(fstat, 6) > _chi2_crit_expr(F.col("k"))
         / (F.col("k").cast("double") - 1.0))
        .alias("reject_equal_means"))


QUERIES["anova_nation_values"] = anova_nation_values
ORACLES["anova_nation_values"] = f"""
    WITH rows_ AS (
        SELECT c.c_nationkey AS nationkey,
               CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS yc
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), per AS (
        SELECT nationkey, CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(yc) AS HUGEINT) AS s,
               CAST(sum(CAST(yc AS HUGEINT) * yc) AS HUGEINT) AS ss
        FROM rows_ GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nn,
               CAST(sum(s) AS HUGEINT) AS st,
               CAST(sum(ss) AS HUGEINT) AS sst,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(CAST(round((CAST(s AS DOUBLE) / 100)
                        * (CAST(s AS DOUBLE) / 100)
                        / CAST(n AS DOUBLE) * 100, 0) AS HUGEINT))
                    AS DOUBLE) / 100 AS grp
        FROM per
    )
    SELECT CAST(k AS INT) AS k_groups,
           CAST(nn AS BIGINT) AS n_total,
           round(grp - (CAST(st AS DOUBLE) / 100)
                 * (CAST(st AS DOUBLE) / 100) / nn, 2) AS ss_between,
           round((CAST(sst AS DOUBLE) / 10000
                  - (CAST(st AS DOUBLE) / 100)
                    * (CAST(st AS DOUBLE) / 100) / nn)
                 - (grp - (CAST(st AS DOUBLE) / 100)
                    * (CAST(st AS DOUBLE) / 100) / nn), 2)
               AS ss_within,
           round(((grp - (CAST(st AS DOUBLE) / 100)
                   * (CAST(st AS DOUBLE) / 100) / nn) / (k - 1))
                 / (((CAST(sst AS DOUBLE) / 10000
                      - (CAST(st AS DOUBLE) / 100)
                        * (CAST(st AS DOUBLE) / 100) / nn)
                     - (grp - (CAST(st AS DOUBLE) / 100)
                        * (CAST(st AS DOUBLE) / 100) / nn))
                    / (nn - k)), 6) AS f_stat,
           ({_chi2_crit_sql("k")} / (CAST(k AS DOUBLE) - 1.0)) AS f_crit_5pct,
           round(((grp - (CAST(st AS DOUBLE) / 100)
                   * (CAST(st AS DOUBLE) / 100) / nn) / (k - 1))
                 / (((CAST(sst AS DOUBLE) / 10000
                      - (CAST(st AS DOUBLE) / 100)
                        * (CAST(st AS DOUBLE) / 100) / nn)
                     - (grp - (CAST(st AS DOUBLE) / 100)
                        * (CAST(st AS DOUBLE) / 100) / nn))
                    / (nn - k)), 6) > ({_chi2_crit_sql("k")} / (CAST(k AS DOUBLE) - 1.0))
               AS reject_equal_means
    FROM tot
"""


def eb_urgent_share_shrinkage(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """EMPIRICAL-BAYES beta-binomial shrinkage of each nation's
    urgent-order share (Robbins 1956; the moment-matched beta prior
    of Morris 1983 — the baseball-averages construction): fit
    Beta(alpha, beta) to the 25 observed shares by method of
    moments, then report each nation's posterior mean
    (k_i + alpha)/(n_i + alpha + beta) — the proportions
    counterpart of the Gaussian `james_stein_nation_means`: small
    nations get pulled to the pooled prior, large ones keep their
    data.  The ranking a dashboard should sort by instead of raw
    shares (raw ranks are dominated by small-n noise).

    Moment matching: mbar and the BETWEEN-nation variance of shares
    come from 1e-9-snapped BIGINT sums; K = alpha+beta =
    mbar(1-mbar)/var - 1 (clamped at 0 when the between-variance
    exceeds the binomial ceiling); two divisions per nation after
    that.

    Scale: one orders scan + broadcast nation join + 25-key count
    aggregate; the prior fit is a 25-row reduction."""
    per = (orders_with_nation(spark, sf_dir)
           .groupBy("nationkey")
           .agg(F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("o_orderpriority")
                               == "1-URGENT", 1)).alias("k")))
    p_u = F.round(F.col("k") / F.col("n").cast("double") * 1e9, 0) \
        .cast("bigint")
    staged = per.withColumn("pu", p_u)
    mom = staged.agg(
        F.count(F.lit(1)).alias("g"),
        F.sum("pu").alias("sp"),
        F.sum(F.round((F.col("pu") / 1e9) * (F.col("pu") / 1e9)
                      * 1e9, 0).cast("bigint")).alias("spp"))
    g = F.col("g").cast("double")
    mbar = F.col("sp") / 1e9 / g
    var = (F.col("spp") / 1e9 / g - mbar * mbar)
    kk = F.greatest(F.lit(0.0),
                    mbar * (1 - mbar) / F.nullif(var, F.lit(0.0))
                    - 1)
    pri = mom.select(mbar.alias("mbar"), kk.alias("kk"))
    alpha = F.col("mbar") * F.col("kk")
    beta = (1 - F.col("mbar")) * F.col("kk")
    return (staged.crossJoin(F.broadcast(pri))
            .select("nationkey", "n", "k",
                    F.round(F.col("pu") / 1e9, 6).alias("raw_share"),
                    F.round(alpha, 6).alias("alpha"),
                    F.round(beta, 6).alias("beta"),
                    F.round((F.col("k") + alpha)
                            / (F.col("n") + F.col("kk")), 6)
                    .alias("shrunk_share"))
            .orderBy("nationkey"))


QUERIES["eb_urgent_share_shrinkage"] = eb_urgent_share_shrinkage
ORACLES["eb_urgent_share_shrinkage"] = """
    WITH per AS (
        SELECT c.c_nationkey AS nationkey,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE o.o_orderpriority
                    = '1-URGENT') AS BIGINT) AS k
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ), staged AS (
        SELECT *, CAST(round(k / CAST(n AS DOUBLE) * 1e9, 0)
                       AS BIGINT) AS pu
        FROM per
    ), mom AS (
        SELECT CAST(count(*) AS BIGINT) AS g,
               CAST(sum(pu) AS BIGINT) AS sp,
               CAST(sum(CAST(round((pu / 1e9) * (pu / 1e9) * 1e9, 0)
                             AS BIGINT)) AS BIGINT) AS spp
        FROM staged
    ), pri AS (
        SELECT sp / 1e9 / g AS mbar,
               greatest(0.0,
                   (sp / 1e9 / g) * (1 - sp / 1e9 / g)
                   / nullif(spp / 1e9 / g
                            - (sp / 1e9 / g) * (sp / 1e9 / g), 0)
                   - 1) AS kk
        FROM mom
    )
    SELECT s.nationkey, s.n, s.k,
           round(s.pu / 1e9, 6) AS raw_share,
           round(p.mbar * p.kk, 6) AS alpha,
           round((1 - p.mbar) * p.kk, 6) AS beta,
           round((s.k + p.mbar * p.kk) / (s.n + p.kk), 6)
               AS shrunk_share
    FROM staged s CROSS JOIN pri p
    ORDER BY s.nationkey
"""


def interarrival_weibull_fit(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """WEIBULL fit of inter-event times per event type by median-rank
    regression (Weibull 1951; Benard & Bos-Levenbach 1953 for the
    (i-0.3)/(n+0.4) plotting positions — the standard reliability-
    engineering probability-plot fit): regress ln(-ln(1-F_i)) on
    ln(t_(i)) over the ordered inter-arrival gaps; the slope is the
    shape k and exp(intercept/(-k))... the scale lambda =
    exp(-intercept/k).  The POINT of k: k < 1 = bursty/clustered
    arrivals (rate decreases with waiting — the retry storm / human
    session signature), k = 1 = memoryless Poisson, k > 1 = regular
    spacing (schedulers, crawlers) — the single number that
    separates bots from humans where `event_interarrival_stats`'
    moments cannot.

    Exactness: gaps are integer microseconds within user sessions
    (>0 only); plotting positions are exact rationals of the rank;
    both logs snap to 1e-6 per row and the five regression sums are
    BIGINT/128-bit micro-units; R² reported so a non-Weibull cloud
    is visibly untrustworthy.

    Scale: one user-keyed lag window (the shared sessionize
    shuffle), one per-type rank window, one moment aggregate."""
    from pyspark.sql.window import Window
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "user_id") \
        .orderBy("ts", "event_id")
    gaps = (ev.withColumn(
        "gap_us", F.unix_micros("ts")
        - F.unix_micros(F.lag("ts", 1).over(w)))
        .where(F.col("gap_us").isNotNull() & (F.col("gap_us") > 0))
        .select("event_type", "gap_us"))
    wr = Window.partitionBy("event_type").orderBy(
        F.col("gap_us").asc())
    wn = Window.partitionBy("event_type")
    ranked = (gaps.withColumn("i", F.row_number().over(wr))
              .withColumn("n", F.count(F.lit(1)).over(wn)))
    ff = (F.col("i") - 0.3) / (F.col("n") + 0.4)
    x = F.round(F.log(F.col("gap_us") / 1e6), 6)
    y = F.round(F.log(-F.log(1 - ff)), 6)
    rows = ranked.select(
        "event_type",
        F.round(x * 1e6, 0).cast("long").alias("xu"),
        F.round(y * 1e6, 0).cast("long").alias("yu"))
    a = (rows.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("xu").alias("sx"), F.sum("yu").alias("sy"),
              F.sum(F.col("xu").cast("decimal(38,0)") * F.col("yu"))
              .alias("sxy"),
              F.sum(F.col("xu").cast("decimal(38,0)") * F.col("xu"))
              .alias("sxx"),
              F.sum(F.col("yu").cast("decimal(38,0)") * F.col("yu"))
              .alias("syy")))
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double") / 1e6
    sy = F.col("sy").cast("double") / 1e6
    sxy = F.col("sxy").cast("double") / 1e12
    sxx = F.col("sxx").cast("double") / 1e12
    syy = F.col("syy").cast("double") / 1e12
    cov = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    k = cov / vx
    icept = (sy - k * sx) / n
    return (a.select("event_type", F.col("n").alias("n_gaps"),
                     F.round(k, 6).alias("shape_k"),
                     F.round(F.exp(-icept / k), 6)
                     .alias("scale_seconds"),
                     F.round(cov * cov / (vx * vy), 6).alias("r2"))
            .orderBy("event_type"))


QUERIES["interarrival_weibull_fit"] = interarrival_weibull_fit
ORACLES["interarrival_weibull_fit"] = """
    WITH gaps AS (
        SELECT event_type,
               CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY event_type, user_id
                   ORDER BY ts, event_id) AS BIGINT) AS gap_us
        FROM events
        QUALIFY gap_us IS NOT NULL AND gap_us > 0
    ), ranked AS (
        SELECT event_type, gap_us,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY gap_us ASC) AS i,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM gaps
    ), rows_ AS (
        SELECT event_type,
               CAST(round(round(ln(gap_us / 1e6), 6) * 1e6, 0)
                    AS BIGINT) AS xu,
               CAST(round(round(ln(-ln(1 - (i - 0.3) / (n + 0.4))),
                                6) * 1e6, 0) AS BIGINT) AS yu
        FROM ranked
    ), a AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xu) AS BIGINT) AS sx,
               CAST(sum(yu) AS BIGINT) AS sy,
               CAST(sum(CAST(xu AS HUGEINT) * yu) AS HUGEINT) AS sxy,
               CAST(sum(CAST(xu AS HUGEINT) * xu) AS HUGEINT) AS sxx,
               CAST(sum(CAST(yu AS HUGEINT) * yu) AS HUGEINT) AS syy
        FROM rows_ GROUP BY 1
    )
    SELECT event_type, n AS n_gaps,
           round((CAST(n AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e12)
                  - (sx / 1e6) * (sy / 1e6))
                 / (CAST(n AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e12)
                    - (sx / 1e6) * (sx / 1e6)), 6) AS shape_k,
           round(exp(-(((sy / 1e6)
                        - ((CAST(n AS DOUBLE)
                            * (CAST(sxy AS DOUBLE) / 1e12)
                            - (sx / 1e6) * (sy / 1e6))
                           / (CAST(n AS DOUBLE)
                              * (CAST(sxx AS DOUBLE) / 1e12)
                              - (sx / 1e6) * (sx / 1e6)))
                          * (sx / 1e6)) / CAST(n AS DOUBLE))
                     / ((CAST(n AS DOUBLE)
                         * (CAST(sxy AS DOUBLE) / 1e12)
                         - (sx / 1e6) * (sy / 1e6))
                        / (CAST(n AS DOUBLE)
                           * (CAST(sxx AS DOUBLE) / 1e12)
                           - (sx / 1e6) * (sx / 1e6)))), 6)
               AS scale_seconds,
           round((CAST(n AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e12)
                  - (sx / 1e6) * (sy / 1e6))
                 * (CAST(n AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e12)
                    - (sx / 1e6) * (sy / 1e6))
                 / ((CAST(n AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e12)
                     - (sx / 1e6) * (sx / 1e6))
                    * (CAST(n AS DOUBLE)
                       * (CAST(syy AS DOUBLE) / 1e12)
                       - (sy / 1e6) * (sy / 1e6))), 6) AS r2
    FROM a ORDER BY event_type
"""


_ERLANG_MAX_C = 10


def erlang_capacity_table(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """ERLANG-B capacity table from the measured session traffic
    (Erlang 1917; the recursion B(c) = a·B(c-1)/(c + a·B(c-1)) with
    B(0) = 1, unrolled to c = 10): offered load a = lambda·W Erlangs
    comes from the same exact session measurements as
    `littles_law_audit`, and each row answers "if the system had c
    parallel servers and no queue, what fraction of arriving
    sessions would be blocked" — the capacity-planning curve that
    turns the traffic measurement into a sizing decision (find the
    first c with B under the SLA).

    Exactness: a is a ratio of exact integer microsecond sums; the
    10 recursion steps are unrolled arithmetic on that one scalar,
    each step snapped to 1e-9 so both engines (and the python
    replay) walk the identical sequence; the first-c-meeting-1%
    column is an integer comparison over the table.

    Scale: the measurement is the sessionize shuffle; the table is
    10 rows of scalar arithmetic."""
    from ..streaming.queries import sessionize_events
    sess = (sessionize_events(load_table(spark, sf_dir, "events"))
            .groupBy("user_id", "session_id")
            .agg(F.unix_micros(F.min("ts")).alias("st"),
                 F.unix_micros(F.max("ts")).alias("en")))
    base = sess.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.col("en") - F.col("st")).alias("dur_us"),
        F.min("st").alias("t0"), F.max("en").alias("t1"))
    a_expr = (F.col("dur_us")
              / (F.col("t1") - F.col("t0")).cast("double"))
    # r9 (guide §2.4): cut the ONE-ROW offered-load frame — the 10-way
    # union below replans it per branch, so the uncut plan re-ran the
    # whole sessionize chain 10 times (20 planned scans) for 10 rows
    # of scalar arithmetic
    loads = base.select(F.round(a_expr, 9).alias("a")).localCheckpoint()
    rows = []
    prev = F.lit(1.0)
    for c in range(1, _ERLANG_MAX_C + 1):
        cur = F.round(F.col("a") * prev
                      / (F.lit(float(c)) + F.col("a") * prev), 9)
        rows.append((c, cur))
        prev = cur
    out = None
    for c, b in rows:
        row = loads.select(F.lit(c).cast("int").alias("servers"),
                           F.round("a", 6).alias("offered_erlangs"),
                           F.round(b, 6).alias("blocking_prob"))
        out = row if out is None else out.union(row)
    return out.orderBy("servers")


QUERIES["erlang_capacity_table"] = erlang_capacity_table


def _erlang_oracle_sql() -> str:
    steps = []
    prev = "CAST(1.0 AS DOUBLE)"
    for c in range(1, _ERLANG_MAX_C + 1):
        cur = f"b{c}"
        steps.append(
            f"round(a * {prev} / ({c} + a * {prev}), 9) AS {cur}")
        prev = cur
    # chained via LATERAL-style nested selects: build iteratively
    sql = f"""
    WITH {SESSIONIZED_SQL},
    sess AS (
        SELECT user_id, session_id,
               CAST(epoch_us(min(ts)) AS BIGINT) AS st,
               CAST(epoch_us(max(ts)) AS BIGINT) AS en
        FROM sessions GROUP BY 1, 2
    ), base AS (
        SELECT round(CAST(sum(en - st) AS DOUBLE)
                     / (max(en) - min(st)), 9) AS a
        FROM sess
    )"""
    prev = "CAST(1.0 AS DOUBLE)"
    chain = "base"
    for c in range(1, _ERLANG_MAX_C + 1):
        sql += f""",
    s{c} AS (
        SELECT *, round(a * {prev} / ({c} + a * {prev}), 9) AS b{c}
        FROM {chain}
    )"""
        prev = f"b{c}"
        chain = f"s{c}"
    selects = " UNION ALL ".join(
        f"SELECT {c} AS servers, round(a, 6) AS offered_erlangs, "
        f"round(b{c}, 6) AS blocking_prob FROM {chain}"
        for c in range(1, _ERLANG_MAX_C + 1))
    return sql + f"""
    SELECT CAST(servers AS INT) AS servers, offered_erlangs,
           blocking_prob
    FROM ({selects}) ORDER BY servers
"""


ORACLES["erlang_capacity_table"] = _erlang_oracle_sql()


_HUBER_C = 1.345   # 95%-efficiency tuning constant (Huber 1964)
_HUBER_ITERS = 2


def huber_location_nations(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """HUBER M-estimate of each nation's typical order value by two
    unrolled IRLS iterations (Huber 1964; the c = 1.345 constant
    gives 95% Gaussian efficiency) — the third point on the
    robustness spectrum the repo already spans: the mean (0%
    breakdown), the median/MAD monitors (50% but only 64%
    efficient), and Huber in between — downweight outliers
    smoothly instead of ignoring or capitulating to them.  Start at
    the exact per-nation MEDIAN with scale = MAD·1.4826, then each
    IRLS step reweights w_i = min(1, c·s/|y_i - mu|) and takes the
    weighted mean.

    Determinism: medians/MADs are exact order statistics on integer
    cents; each step's weighted sums BIGINT-accumulate 1e-6-snapped
    w and w·y terms, mu snaps at 1e-6 between steps — both engines
    (and the python replay) walk the identical two steps.

    Scale: two grouped passes over the scan per IRLS step against
    broadcast per-nation scalars — the distributed-IRLS shape, steps
    the knob."""
    rows = (orders_with_nation(spark, sf_dir)
            .select("nationkey",
                    (F.round(F.col("o_totalprice") * 100, 0)
                     .cast("long") / 100).alias("y"))
            .localCheckpoint(eager=True))
    med = (rows.groupBy("nationkey")
           .agg(F.expr("percentile(y, 0.5)").alias("mu0"),
                F.count(F.lit(1)).alias("n")))
    mad = (rows.join(F.broadcast(med.select("nationkey", "mu0")),
                     "nationkey")
           .select("nationkey",
                   F.abs(F.col("y") - F.col("mu0")).alias("ad"))
           .groupBy("nationkey")
           .agg(F.expr("percentile(ad, 0.5)").alias("mad")))
    state = (med.join(mad, "nationkey")
             .select("nationkey", "n",
                     F.round(F.col("mu0"), 6).alias("mu"),
                     F.round(F.col("mad") * 1.4826, 6).alias("s")))
    mu_start = state.select("nationkey",
                            F.col("mu").alias("mu_start"))
    for _ in range(_HUBER_ITERS):
        j = rows.join(F.broadcast(state), "nationkey")
        r_abs = F.abs(F.col("y") - F.col("mu"))
        w = F.least(F.lit(1.0),
                    F.lit(_HUBER_C) * F.col("s")
                    / F.greatest(r_abs, F.lit(1e-9)))
        agg = (j.withColumn("wu", F.round(w * 1e6, 0).cast("bigint"))
               .withColumn("wyu", F.round(w * F.col("y") * 1e6, 0)
                           .cast("bigint"))
               .groupBy("nationkey")
               .agg(F.sum("wu").alias("swu"),
                    F.sum("wyu").alias("swyu")))
        state = (state.join(agg, "nationkey")
                 .select("nationkey", "n",
                         F.round(F.col("swyu")
                                 / F.col("swu").cast("double"), 6)
                         .alias("mu"), "s"))
    mean = (rows.groupBy("nationkey")
            .agg(F.round(F.sum(F.round(F.col("y") * 100, 0)
                               .cast("long")) / 100
                         / F.count(F.lit(1)), 6).alias("raw_mean")))
    return (state.join(F.broadcast(mu_start), "nationkey")
            .join(F.broadcast(mean), "nationkey")
            .select("nationkey", "n",
                    F.col("mu_start").alias("median_start"),
                    F.col("s").alias("scale_mad"),
                    F.col("mu").alias("huber_mu"), "raw_mean")
            .orderBy("nationkey"))


QUERIES["huber_location_nations"] = huber_location_nations


def _huber_step_sql(prev: str, it: int) -> str:
    return f"""
    agg{it} AS (
        SELECT r.nationkey,
               CAST(sum(CAST(round(least(1.0, {_HUBER_C} * p.s
                        / greatest(abs(r.y - p.mu), 1e-9)) * 1e6, 0)
                        AS BIGINT)) AS BIGINT) AS swu,
               CAST(sum(CAST(round(least(1.0, {_HUBER_C} * p.s
                        / greatest(abs(r.y - p.mu), 1e-9)) * r.y
                        * 1e6, 0) AS BIGINT)) AS BIGINT) AS swyu
        FROM rows_ r JOIN {prev} p USING (nationkey)
        GROUP BY r.nationkey
    ), st{it} AS (
        SELECT p.nationkey, p.n,
               round(a.swyu / CAST(a.swu AS DOUBLE), 6) AS mu, p.s
        FROM {prev} p JOIN agg{it} a USING (nationkey)
    )"""


ORACLES["huber_location_nations"] = f"""
    WITH rows_ AS (
        SELECT c.c_nationkey AS nationkey,
               CAST(round(o.o_totalprice * 100, 0) AS BIGINT) / 100.0
                   AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), med AS (
        SELECT nationkey, quantile_cont(y, 0.5) AS mu0,
               CAST(count(*) AS BIGINT) AS n
        FROM rows_ GROUP BY 1
    ), mad AS (
        SELECT r.nationkey,
               quantile_cont(abs(r.y - m.mu0), 0.5) AS mad
        FROM rows_ r JOIN med m USING (nationkey)
        GROUP BY r.nationkey
    ), st0 AS (
        SELECT m.nationkey, m.n, round(m.mu0, 6) AS mu,
               round(d.mad * 1.4826, 6) AS s
        FROM med m JOIN mad d USING (nationkey)
    ),
    {_huber_step_sql("st0", 1).lstrip()},
    {_huber_step_sql("st1", 2).lstrip()},
    mean AS (
        SELECT nationkey,
               round(sum(CAST(round(y * 100, 0) AS BIGINT)) / 100.0
                     / count(*), 6) AS raw_mean
        FROM rows_ GROUP BY 1
    )
    SELECT s.nationkey, s.n,
           s0.mu AS median_start, s.s AS scale_mad,
           s.mu AS huber_mu, m.raw_mean
    FROM st2 s
    JOIN st0 s0 USING (nationkey)
    JOIN mean m USING (nationkey)
    ORDER BY s.nationkey
"""


def negbin_dispersion_fit(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """NEGATIVE-BINOMIAL moment fit of per-user event counts by type
    (Greenwood & Yule 1920; the accident-proneness model): method-
    of-moments size r = m²/(v - m) and p = m/v from the exact mean
    and variance of per-user counts, plus the dispersion INDEX v/m —
    the overdispersion read that decides whether per-user traffic is
    Poisson (v = m: one shared rate) or NB (v > m: heterogeneous
    user rates), which changes every capacity and anomaly threshold
    downstream.  Users with zero events of a type count as zeros
    (the spine join — dropping them fakes underdispersion).

    Exactness: counts are integers; mean/variance come from exact
    BIGINT (n, sum, sum-of-squares); r and p are single-division
    functions of those; v <= m emits NULL r/p (Poisson-or-under —
    the honest boundary) rather than a negative size.

    Scale: one (type, user) count + one user spine cross —
    dimension × users bounded; one moment aggregate per type."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    types = ev.select("event_type").distinct()
    cnt = (ev.groupBy("event_type", "user_id")
           .agg(F.count(F.lit(1)).alias("c")))
    spine = (types.crossJoin(users)
             .join(cnt, ["event_type", "user_id"], "left")
             .select("event_type",
                     F.coalesce("c", F.lit(0)).cast("long")
                     .alias("c")))
    a = (spine.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("c").alias("s"),
              F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
              .alias("ss")))
    n = F.col("n").cast("double")
    m = F.col("s").cast("double") / n
    v = (F.col("ss").cast("double") - n * m * m) / (n - 1)
    disp = v / m
    r = F.when(v > m, m * m / (v - m))
    p = F.when(v > m, m / v)
    return (a.select("event_type", F.col("n").alias("n_users"),
                     F.round(m, 6).alias("mean_count"),
                     F.round(v, 6).alias("var_count"),
                     F.round(disp, 6).alias("dispersion_index"),
                     F.round(r, 6).alias("nb_size_r"),
                     F.round(p, 6).alias("nb_prob_p"),
                     (F.round(disp, 6) > 1.0).alias("overdispersed"))
            .orderBy("event_type"))


QUERIES["negbin_dispersion_fit"] = negbin_dispersion_fit
ORACLES["negbin_dispersion_fit"] = """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    types AS (SELECT DISTINCT event_type FROM events),
    cnt AS (
        SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), spine AS (
        SELECT t.event_type, coalesce(c.c, 0) AS c
        FROM types t CROSS JOIN users u
        LEFT JOIN cnt c ON c.event_type = t.event_type
                       AND c.user_id = u.user_id
    ), a AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS s,
               CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS ss
        FROM spine GROUP BY 1
    )
    SELECT event_type, n AS n_users,
           round(CAST(s AS DOUBLE) / n, 6) AS mean_count,
           round((CAST(ss AS DOUBLE)
                  - n * (CAST(s AS DOUBLE) / n)
                    * (CAST(s AS DOUBLE) / n)) / (n - 1), 6)
               AS var_count,
           round(((CAST(ss AS DOUBLE)
                   - n * (CAST(s AS DOUBLE) / n)
                     * (CAST(s AS DOUBLE) / n)) / (n - 1))
                 / (CAST(s AS DOUBLE) / n), 6) AS dispersion_index,
           round(CASE WHEN (CAST(ss AS DOUBLE)
                            - n * (CAST(s AS DOUBLE) / n)
                              * (CAST(s AS DOUBLE) / n)) / (n - 1)
                           > CAST(s AS DOUBLE) / n
                 THEN (CAST(s AS DOUBLE) / n)
                      * (CAST(s AS DOUBLE) / n)
                      / ((CAST(ss AS DOUBLE)
                          - n * (CAST(s AS DOUBLE) / n)
                            * (CAST(s AS DOUBLE) / n)) / (n - 1)
                         - CAST(s AS DOUBLE) / n) END, 6)
               AS nb_size_r,
           round(CASE WHEN (CAST(ss AS DOUBLE)
                            - n * (CAST(s AS DOUBLE) / n)
                              * (CAST(s AS DOUBLE) / n)) / (n - 1)
                           > CAST(s AS DOUBLE) / n
                 THEN (CAST(s AS DOUBLE) / n)
                      / ((CAST(ss AS DOUBLE)
                          - n * (CAST(s AS DOUBLE) / n)
                            * (CAST(s AS DOUBLE) / n)) / (n - 1))
                 END, 6) AS nb_prob_p,
           round(((CAST(ss AS DOUBLE)
                   - n * (CAST(s AS DOUBLE) / n)
                     * (CAST(s AS DOUBLE) / n)) / (n - 1))
                 / (CAST(s AS DOUBLE) / n), 6) > 1.0
               AS overdispersed
    FROM a ORDER BY event_type
"""


def levene_variance_audit(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """BROWN-FORSYTHE (median-based Levene) test of variance
    homogeneity across the 25 nations (Levene 1960; Brown &
    Forsythe 1974) — the assumption check `anova_nation_values`
    rests on: transform each order to its absolute deviation from
    the NATION MEDIAN and run the one-way F on those deviations;
    rejecting says the nations differ in SPREAD, which breaks the
    pooled-variance reading of the ANOVA and redirects the analysis
    to Welch-style per-stratum methods.  Same literal F(24, inf)
    critical value as the ANOVA (the erf-free discipline).

    Exactness: medians are exact order statistics on integer cents;
    deviations are exact half-cent-grid values; the three sums of
    squares come from snapped BIGINT/128-bit moments via the same
    SSB/SSW decomposition (group s²/n terms snapped at 1e-2 — the
    ANOVA lesson).

    Scale: one scan + broadcast median join + 25-key moment
    aggregate — the ANOVA cost shape, twice (median pass + moment
    pass)."""
    rows = (orders_with_nation(spark, sf_dir)
            .select("nationkey",
                    F.round(F.col("o_totalprice") * 100, 0)
                    .cast("long").alias("yc"))
            .localCheckpoint(eager=True))
    med = (rows.groupBy("nationkey")
           .agg(F.expr("percentile(yc, 0.5)").alias("med")))
    z = (rows.join(F.broadcast(med), "nationkey")
         .select("nationkey",
                 F.round(F.abs(F.col("yc") - F.col("med")), 1)
                 .alias("z")))
    per = (z.groupBy("nationkey")
           .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
                F.sum(F.col("z").cast("decimal(38,1)")).alias("s"),
                F.sum(F.col("z").cast("decimal(38,1)")
                      * F.col("z").cast("decimal(38,1)"))
                .alias("ss")))
    gterm = F.round((F.col("s").cast("double") / 100)
                    * (F.col("s").cast("double") / 100)
                    / F.col("n").cast("double") * 100, 0) \
        .cast("decimal(38,0)")
    tot = per.agg(F.sum(F.col("n")).alias("nn"),
                  F.sum("s").alias("st"), F.sum("ss").alias("sst"),
                  F.count(F.lit(1)).alias("k"),
                  (F.sum(gterm).cast("double") / 100).alias("grp"))
    nn = F.col("nn").cast("double")
    sst_ = (F.col("sst").cast("double") / 10000
            - (F.col("st").cast("double") / 100)
            * (F.col("st").cast("double") / 100) / nn)
    ssb = (F.col("grp")
           - (F.col("st").cast("double") / 100)
           * (F.col("st").cast("double") / 100) / nn)
    ssw = sst_ - ssb
    k = F.col("k").cast("double")
    w = (ssb / (k - 1)) / (ssw / (nn - k))
    return tot.select(
        F.col("k").cast("int").alias("k_groups"),
        F.col("nn").cast("bigint").alias("n_total"),
        F.round(w, 6).alias("bf_w_stat"),
        (_chi2_crit_expr(F.col("k"))
         / (F.col("k").cast("double") - 1.0)).alias("f_crit_5pct"),
        (F.round(w, 6) > _chi2_crit_expr(F.col("k"))
         / (F.col("k").cast("double") - 1.0))
        .alias("variances_differ"))


QUERIES["levene_variance_audit"] = levene_variance_audit
ORACLES["levene_variance_audit"] = f"""
    WITH rows_ AS (
        SELECT c.c_nationkey AS nationkey,
               CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS yc
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), med AS (
        SELECT nationkey, quantile_cont(yc, 0.5) AS med
        FROM rows_ GROUP BY 1
    ), z AS (
        SELECT r.nationkey, round(abs(r.yc - m.med), 1) AS z
        FROM rows_ r JOIN med m USING (nationkey)
    ), per AS (
        SELECT nationkey, CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(CAST(z * 10 AS HUGEINT)) AS HUGEINT) AS s10,
               CAST(sum(CAST(z * 10 AS HUGEINT)
                        * CAST(z * 10 AS HUGEINT)) AS HUGEINT)
                   AS ss100
        FROM z GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nn,
               sum(CAST(s10 AS DOUBLE)) / 10 AS st_raw,
               sum(CAST(ss100 AS DOUBLE)) / 100 AS sst_raw,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(CAST(round(
                   ((CAST(s10 AS DOUBLE) / 10) / 100)
                   * ((CAST(s10 AS DOUBLE) / 10) / 100)
                   / CAST(n AS DOUBLE) * 100, 0) AS HUGEINT))
                   AS DOUBLE) / 100 AS grp
        FROM per
    )
    SELECT CAST(k AS INT) AS k_groups, CAST(nn AS BIGINT) AS n_total,
           round(((grp - (st_raw / 100) * (st_raw / 100) / nn)
                  / (k - 1))
                 / (((sst_raw / 10000
                      - (st_raw / 100) * (st_raw / 100) / nn)
                     - (grp - (st_raw / 100) * (st_raw / 100) / nn))
                    / (nn - k)), 6) AS bf_w_stat,
           ({_chi2_crit_sql("k")} / (CAST(k AS DOUBLE) - 1.0)) AS f_crit_5pct,
           round(((grp - (st_raw / 100) * (st_raw / 100) / nn)
                  / (k - 1))
                 / (((sst_raw / 10000
                      - (st_raw / 100) * (st_raw / 100) / nn)
                     - (grp - (st_raw / 100) * (st_raw / 100) / nn))
                    / (nn - k)), 6) > ({_chi2_crit_sql("k")} / (CAST(k AS DOUBLE) - 1.0))
               AS variances_differ
    FROM tot
"""


def competing_risks_cif(spark: SparkSession,
                        sf_dir: str) -> DataFrame:
    """COMPETING-RISKS cumulative incidence functions (Aalen &
    Johansen 1978; Kalbfleisch & Prentice's CIF): from each user's
    first event, the first PURCHASE and the first ERROR compete —
    whichever comes first removes the user from risk for the other —
    and the naive per-cause Kaplan-Meier famously OVERSTATES each
    cause (1-KM treats competing events as censoring; the CIFs
    cannot sum above 1, pinned in tests).  CIF_k(t) = sum_{s<=t}
    S(s-) * d_k(s)/n(s) with S the ALL-cause survival — the
    estimator that answers "what fraction of users will convert
    before they churn via an error", which no single-cause curve
    can.

    Per distinct day t: at-risk n(t), purchase/error events, both
    CIFs and the all-cause survival.  Exactness: the KM discipline
    of `user_survival_curve` — exact integer risk sets, per-step
    terms snapped to 1e-9 and BIGINT-prefix-summed; S(s-) carried
    as the exp of a snapped ln prefix (zero-risk steps guarded).

    Scale: one user-keyed aggregate + day-grid windows (observation
    span, not population)."""
    from pyspark.sql.window import Window
    ev = load_table(spark, sf_dir, "events")
    users = (ev.groupBy("user_id")
             .agg(F.min(F.to_date("ts")).alias("d0"),
                  F.max(F.to_date("ts")).alias("d1"),
                  F.min(F.when(F.col("event_type") == "purchase",
                               F.to_date("ts"))).alias("p0"),
                  F.min(F.when(F.col("event_type") == "error",
                               F.to_date("ts"))).alias("e0")))
    # first competing event; simultaneous-day ties resolve to
    # purchase (documented), no event = censored at last day
    cause = (F.when(F.col("p0").isNotNull()
                    & (F.col("e0").isNull()
                       | (F.col("p0") <= F.col("e0"))), F.lit(1))
             .when(F.col("e0").isNotNull(), F.lit(2))
             .otherwise(F.lit(0)))
    tcol = (F.when(cause == 1, F.datediff("p0", "d0"))
            .when(cause == 2, F.datediff("e0", "d0"))
            .otherwise(F.datediff("d1", "d0"))).cast("bigint")
    subj = users.select(tcol.alias("t"), cause.alias("cause"))
    total = subj.agg(F.count(F.lit(1)).alias("n_total"))
    per_t = (subj.groupBy("t")
             .agg(F.count(F.lit(1)).alias("n_leaving"),
                  F.count(F.when(F.col("cause") == 1, 1)).alias("d1"),
                  F.count(F.when(F.col("cause") == 2, 1))
                  .alias("d2")))
    wprev = (Window.orderBy("t")
             .rowsBetween(Window.unboundedPreceding, -1))
    wcum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0)
    ar = (per_t.crossJoin(F.broadcast(total))
          .withColumn("n_at_risk",
                      F.col("n_total")
                      - F.coalesce(F.sum("n_leaving").over(wprev),
                                   F.lit(0))))
    dall = F.col("d1") + F.col("d2")
    step_ln = F.when(
        dall < F.col("n_at_risk"),
        F.round(F.log(1.0 - dall / F.col("n_at_risk")), 9)) \
        .otherwise(F.lit(None))
    # a step that consumes the whole risk set drives S to EXACT zero
    # (the km_curve dead-flag discipline) — ln(0) never evaluates
    dead = F.when(dall >= F.col("n_at_risk"), 1).otherwise(0)
    ar = (ar.withColumn("lnu", F.round(step_ln * 1e9, 0)
                        .cast("bigint"))
          .withColumn("dead", dead))
    dead_prev = F.coalesce(F.max("dead").over(wprev), F.lit(0))
    s_prev = F.when(dead_prev == 1, F.lit(0.0)).otherwise(
        F.exp(F.coalesce(F.sum("lnu").over(wprev), F.lit(0)) / 1e9))
    inc1 = F.round(s_prev * F.col("d1") / F.col("n_at_risk") * 1e9,
                   0).cast("bigint")
    inc2 = F.round(s_prev * F.col("d2") / F.col("n_at_risk") * 1e9,
                   0).cast("bigint")
    surv = F.when(F.max("dead").over(wcum) == 1, F.lit(0.0))         .otherwise(F.round(F.exp(
            F.coalesce(F.sum("lnu").over(wcum), F.lit(0)) / 1e9), 6))
    out = (ar.withColumn("i1", inc1).withColumn("i2", inc2)
           .select("t", "n_at_risk", "d1", "d2",
                   F.round(F.sum("i1").over(wcum) / 1e9, 6)
                   .alias("cif_purchase"),
                   F.round(F.sum("i2").over(wcum) / 1e9, 6)
                   .alias("cif_error"),
                   surv.alias("surv_all_cause")))
    return out.orderBy("t")


QUERIES["competing_risks_cif"] = competing_risks_cif
ORACLES["competing_risks_cif"] = """
    WITH users AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS d0,
               max(CAST(ts AS DATE)) AS d1,
               min(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS DATE) END) AS p0,
               min(CASE WHEN event_type = 'error'
                        THEN CAST(ts AS DATE) END) AS e0
        FROM events GROUP BY user_id
    ), subj AS (
        SELECT CASE
                 WHEN p0 IS NOT NULL AND (e0 IS NULL OR p0 <= e0)
                     THEN datediff('day', d0, p0)
                 WHEN e0 IS NOT NULL THEN datediff('day', d0, e0)
                 ELSE datediff('day', d0, d1) END AS t,
               CASE WHEN p0 IS NOT NULL
                         AND (e0 IS NULL OR p0 <= e0) THEN 1
                    WHEN e0 IS NOT NULL THEN 2 ELSE 0 END AS cause
        FROM users
    ), total AS (SELECT CAST(count(*) AS BIGINT) AS n_total
                 FROM subj),
    per_t AS (
        SELECT t, CAST(count(*) AS BIGINT) AS n_leaving,
               CAST(count(*) FILTER (WHERE cause = 1) AS BIGINT)
                   AS d1,
               CAST(count(*) FILTER (WHERE cause = 2) AS BIGINT)
                   AS d2
        FROM subj GROUP BY t
    ), ar AS (
        SELECT p.*, x.n_total
                    - coalesce(sum(p.n_leaving) OVER (ORDER BY p.t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS n_at_risk
        FROM per_t p CROSS JOIN total x
    ), staged AS (
        SELECT *, CAST(round(CASE WHEN d1 + d2 < n_at_risk
                   THEN ln(1.0 - (d1 + d2)
                           / CAST(n_at_risk AS DOUBLE)) END * 1e9,
                   0) AS BIGINT) AS lnu,
               CASE WHEN d1 + d2 >= n_at_risk THEN 1 ELSE 0 END
                   AS dead
        FROM ar
    ), inc AS (
        SELECT *,
               CASE WHEN coalesce(max(dead) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) = 1 THEN 0.0
                    ELSE exp(coalesce(sum(lnu) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) / 1e9) END AS s_prev
        FROM staged
    )
    SELECT t, CAST(n_at_risk AS BIGINT) AS n_at_risk, d1, d2,
           round(sum(CAST(round(s_prev * d1
                 / CAST(n_at_risk AS DOUBLE) * 1e9, 0) AS BIGINT))
                 OVER w / 1e9, 6) AS cif_purchase,
           round(sum(CAST(round(s_prev * d2
                 / CAST(n_at_risk AS DOUBLE) * 1e9, 0) AS BIGINT))
                 OVER w / 1e9, 6) AS cif_error,
           CASE WHEN max(dead) OVER w = 1 THEN 0.0
                ELSE round(exp(coalesce(sum(lnu) OVER w, 0) / 1e9),
                           6) END AS surv_all_cause
    FROM inc
    WINDOW w AS (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY t
"""


_SPRT_LIFT = 1.10     # H1: conversion = 1.10 x pooled rate
_SPRT_BOUND = 2.9444389791664403   # ln((1-b)/a) = ln(19), a=b=0.05


def ab_sprt_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD'S SPRT trace for the A/B purchase-conversion stream
    (Wald 1945): the fully-sequential counterpart of the
    group-sequential `ab_sequential_looks` — after EVERY day,
    accumulate the binomial log-likelihood ratio of arm A's
    conversions under H1 (pooled rate x 1.10) vs H0 (pooled rate)
    and compare to the literal ln(19) boundaries (alpha = beta =
    0.05): cross above = accept the lift, below -ln(19) = accept
    the null, between = keep sampling — the optimal-stopping test
    that ends experiments earliest at fixed error rates.  On this
    md5 A/A-style split the trace should wander between the
    boundaries (any early accept-H1 = a split bug).

    Determinism: daily (users, conversions) are exact integers; the
    two per-day log-LR coefficients are computed ONCE from the
    pooled rate and snapped at 1e-9; daily increments snap at 1e-6
    and BIGINT-prefix-sum; boundaries are shared literals.

    Scale: one user-day aggregate + a day-grid window — observation
    span, not population."""
    from pyspark.sql.window import Window
    ev = load_table(spark, sf_dir, "events")
    arm = md5_int(F.col("user_id").cast("string")) % 2
    daily = (ev.withColumn("arm", arm)
             .where(F.col("arm") == 0)
             .groupBy(F.to_date("ts").alias("day"))
             .agg(F.count_distinct("user_id").alias("n"),
                  F.count_distinct(
                      F.when(F.col("event_type") == "purchase",
                             F.col("user_id"))).alias("k")))
    pooled = (ev.groupBy(F.to_date("ts").alias("day"), "user_id")
              .agg(F.max(F.when(F.col("event_type") == "purchase",
                                1).otherwise(0)).alias("conv"))
              .agg((F.sum("conv") / F.count(F.lit(1))).alias("p0")))
    j = daily.crossJoin(F.broadcast(pooled))
    p0 = F.col("p0")
    p1 = F.least(p0 * _SPRT_LIFT, F.lit(0.999999))
    la = F.round(F.log(p1 / p0), 9)
    lb = F.round(F.log((1 - p1) / (1 - p0)), 9)
    inc = F.round((F.col("k") * la
                   + (F.col("n") - F.col("k")) * lb) * 1e6, 0) \
        .cast("bigint")
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0)
    out = (j.withColumn("iu", inc)
           .withColumn("llr", F.round(F.sum("iu").over(wcum) / 1e6,
                                      6))
           .select("day", "n", "k", "llr",
                   F.lit(_SPRT_BOUND).alias("upper_bound"),
                   F.lit(-_SPRT_BOUND).alias("lower_bound"),
                   F.when(F.col("llr") >= _SPRT_BOUND,
                          F.lit("accept_h1"))
                   .when(F.col("llr") <= -_SPRT_BOUND,
                         F.lit("accept_h0"))
                   .otherwise(F.lit("continue")).alias("decision")))
    return out.orderBy("day")


QUERIES["ab_sprt_trace"] = ab_sprt_trace
ORACLES["ab_sprt_trace"] = f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n,
               CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                    THEN user_id END) AS BIGINT) AS k
        FROM events
        WHERE (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
               ::BIGINT % 2) = 0
        GROUP BY 1
    ), ud AS (
        SELECT CAST(ts AS DATE) AS day, user_id,
               max(CASE WHEN event_type = 'purchase' THEN 1
                        ELSE 0 END) AS conv
        FROM events GROUP BY 1, 2
    ), pooled AS (
        SELECT sum(conv) / CAST(count(*) AS DOUBLE) AS p0 FROM ud
    ), j AS (
        SELECT d.*, p.p0,
               round(ln(least(p.p0 * {_SPRT_LIFT}, 0.999999) / p.p0),
                     9) AS la,
               round(ln((1 - least(p.p0 * {_SPRT_LIFT}, 0.999999))
                        / (1 - p.p0)), 9) AS lb
        FROM daily d CROSS JOIN pooled p
    )
    SELECT day, n, k,
           round(sum(CAST(round((k * la + (n - k) * lb) * 1e6, 0)
                          AS BIGINT)) OVER w / 1e6, 6) AS llr,
           CAST({_SPRT_BOUND} AS DOUBLE) AS upper_bound,
           CAST({-_SPRT_BOUND} AS DOUBLE) AS lower_bound,
           CASE WHEN round(sum(CAST(round((k * la + (n - k) * lb)
                    * 1e6, 0) AS BIGINT)) OVER w / 1e6, 6)
                    >= {_SPRT_BOUND} THEN 'accept_h1'
                WHEN round(sum(CAST(round((k * la + (n - k) * lb)
                    * 1e6, 0) AS BIGINT)) OVER w / 1e6, 6)
                    <= {-_SPRT_BOUND} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM j
    WINDOW w AS (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY day
"""


# ---------------------------------------------------------------------------
# Round 7: Kruskal-Wallis — the rank-based (distribution-free) twin of
# `anova_nation_values`, completing the nonparametric ladder next to
# ab_mannwhitney_test (2 groups) and friedman_method_ranks (paired).

def kruskal_wallis_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS H test of order value across the 25 customer
    nations (Kruskal & Wallis 1952): the rank-ANOVA that stays valid
    when order values are as skewed as money always is — the
    k-group generalization of `ab_mannwhitney_test` and the
    unpaired sibling of `friedman_method_ranks`, asked on exactly
    `anova_nation_values`' data so the parametric and rank verdicts
    sit side by side.  H = 12/(N(N+1)) Σ R_i²/n_i − 3(N+1), with
    the standard tie correction 1 − Σ(t³−t)/(N³−N); verdict vs the
    χ²(k−1) 5% literal picked from the shared quantile table for the
    group count the data actually yields (25 nations ⇒ df 24).

    RANKS WITHOUT A ROW SORT: average ranks are computed per
    DISTINCT cent value — r̄(v) in exact 2x-integer units is
    2·(#rows below v) + t_v + 1 from a prefix sum over the distinct-
    value spine (the `events_ks_drift`/`decision_stump_doclen`
    idiom; the window touches |distinct values| rows, never N).
    Per-nation rank sums are Σ n_iv·r̄2x(v) in 128-bit integers;
    R_i²/n_i terms snap to the 1e-2 grid and integer-sum (the
    `anova_nation_values` gterm discipline — a 25-term double sum is
    order-sensitive in its last ulp).  Everything downstream of the
    exact integer sums is one fixed expression.

    Scale: one orders scan + broadcast customer join, one value-
    keyed aggregate, one (nation, value) aggregate joined back on
    the value key, a 25-row reduce.  The distinct-value window is
    the documented small-table shortcut — at 100 TB the prefix sum
    runs as the two-pass distributed prefix (`token_shard_packing`)
    over value-range partitions."""
    from pyspark.sql.window import Window
    rows = (orders_with_nation(spark, sf_dir)
            .select("nationkey",
                    F.round(F.col("o_totalprice") * 100, 0)
                    .cast("long").alias("yc")))
    # ONE pass over the joined frame: the distinct-value tie counts are
    # the nation-marginals of the (nation, value) aggregate (r7 review
    # finding — a separate rows.groupBy(yc) re-ran the scan + join)
    nat = rows.groupBy("nationkey", "yc").agg(
        F.count(F.lit(1)).alias("niv")).localCheckpoint(eager=True)
    vals = nat.groupBy("yc").agg(F.sum("niv").alias("t"))
    wv = Window.orderBy("yc").rowsBetween(Window.unboundedPreceding, 0)
    ranked = (vals.withColumn("cum", F.sum("t").over(wv))
              .select("yc",
                      (2 * (F.col("cum") - F.col("t"))
                       + F.col("t") + 1).alias("r2x")))
    per = (nat.join(ranked, "yc")
           .groupBy("nationkey")
           .agg(F.sum("niv").alias("n_i"),
                F.sum(F.col("niv").cast("decimal(38,0)")
                      * F.col("r2x")).alias("sr2")))
    term = F.round((F.col("sr2").cast("double") / 2)
                   * (F.col("sr2").cast("double") / 2)
                   / F.col("n_i").cast("double") * 100, 0) \
        .cast("decimal(38,0)")
    ties = vals.agg(
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("t")
              * F.col("t") - F.col("t")).alias("tsum"))
    tot = (per.agg(F.sum("n_i").alias("nn"),
                   F.count(F.lit(1)).alias("k"),
                   (F.sum(term).cast("double") / 100).alias("s_terms"))
           .crossJoin(F.broadcast(ties)))
    nn = F.col("nn").cast("double")
    h = 12.0 / (nn * (nn + 1)) * F.col("s_terms") - 3.0 * (nn + 1)
    corr = F.round(1.0 - F.col("tsum").cast("double")
                   / (nn * nn * nn - nn), 9)
    hc = F.round(h / F.nullif(corr, F.lit(0.0)), 6)
    crit = _chi2_crit_expr(F.col("k"))
    return tot.select(
        F.col("k").cast("int").alias("k_groups"),
        F.col("nn").alias("n_total"),
        F.round(h, 6).alias("h_stat"),
        corr.alias("tie_correction"),
        hc.alias("h_stat_corrected"),
        crit.alias("chi2_crit_5pct"),
        (hc > crit).alias("reject_homogeneity"))


QUERIES["kruskal_wallis_values"] = kruskal_wallis_values
_KW_H_SQL = """(12.0 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1))
                * s_terms - 3.0 * (CAST(nn AS DOUBLE) + 1))"""
_KW_CORR_SQL = """round(1.0 - CAST(tsum AS DOUBLE)
                  / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
                     * CAST(nn AS DOUBLE) - CAST(nn AS DOUBLE)), 9)"""
ORACLES["kruskal_wallis_values"] = f"""
    WITH rows_ AS (
        SELECT c.c_nationkey AS nationkey,
               CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS yc
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), nat AS (
        SELECT nationkey, yc, CAST(count(*) AS BIGINT) AS niv
        FROM rows_ GROUP BY 1, 2
    ), vals AS (
        SELECT yc, CAST(sum(niv) AS BIGINT) AS t
        FROM nat GROUP BY 1
    ), ranked AS (
        SELECT yc,
               2 * (sum(t) OVER (ORDER BY yc
                                 ROWS UNBOUNDED PRECEDING) - t)
               + t + 1 AS r2x
        FROM vals
    ), per AS (
        SELECT n.nationkey, CAST(sum(n.niv) AS BIGINT) AS n_i,
               CAST(sum(CAST(n.niv AS HUGEINT) * r.r2x) AS HUGEINT)
                   AS sr2
        FROM nat n JOIN ranked r USING (yc)
        GROUP BY 1
    ), ties AS (
        SELECT CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT)
                   AS tsum
        FROM vals
    ), tot AS (
        SELECT CAST(sum(n_i) AS BIGINT) AS nn,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(CAST(round((CAST(sr2 AS DOUBLE) / 2)
                        * (CAST(sr2 AS DOUBLE) / 2)
                        / CAST(n_i AS DOUBLE) * 100, 0) AS HUGEINT))
                    AS DOUBLE) / 100 AS s_terms
        FROM per
    )
    SELECT CAST(k AS INT) AS k_groups, nn AS n_total,
           round({_KW_H_SQL}, 6) AS h_stat,
           {_KW_CORR_SQL} AS tie_correction,
           round({_KW_H_SQL} / nullif({_KW_CORR_SQL}, 0.0), 6)
               AS h_stat_corrected,
           {_chi2_crit_sql("k")} AS chi2_crit_5pct,
           round({_KW_H_SQL} / nullif({_KW_CORR_SQL}, 0.0), 6)
               > {_chi2_crit_sql("k")} AS reject_homogeneity
    FROM tot CROSS JOIN ties
"""


def ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on per-user purchase revenue
    between the two hash arms — the PARAMETRIC sibling of
    `ab_mannwhitney_test` (same deterministic A/A split, same exact
    integer-cent metric): t = (mean_a - mean_b) / sqrt(va/na + vb/nb)
    with the Welch-Satterthwaite df.  Experimentation platforms report
    the pair: the t-test for its power on near-normal metrics, the
    rank test for whale-robustness; an A/A split must come back
    not-significant on BOTH (and does).

    Exactness: per-arm moments from exact BIGINT cent sums (sum and
    sum-of-squares as int128/HUGEINT — order-proof); only the final t
    and df are floating, rounded at 6dp.

    Scale: one user-grain aggregate + one 2-row arm aggregate."""
    users = _user_purchase_cents(spark, sf_dir)
    c = F.col("cents").cast("decimal(38,0)")
    a = (users.groupBy("arm")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(c).alias("s"),
              F.sum(c * c).alias("ss")))
    n = F.col("n").cast("double")
    mean = F.col("s").cast("double") / n
    # sample variance from exact sums: (ss - s^2/n) / (n-1)
    var = ((F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / n)
           / (n - 1))
    per = a.select("arm", "n", mean.alias("m"), var.alias("v"))
    wide = (per.groupBy()
            .agg(F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
                 F.max(F.when(F.col("arm") == 0, F.col("m"))).alias("m_a"),
                 F.max(F.when(F.col("arm") == 0, F.col("v"))).alias("v_a"),
                 F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
                 F.max(F.when(F.col("arm") == 1, F.col("m"))).alias("m_b"),
                 F.max(F.when(F.col("arm") == 1, F.col("v"))).alias("v_b")))
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    se2 = F.col("v_a") / na + F.col("v_b") / nb
    t = (F.col("m_a") - F.col("m_b")) / F.nullif(F.sqrt(se2), F.lit(0.0))
    df = (se2 * se2
          / F.nullif((F.col("v_a") / na) * (F.col("v_a") / na) / (na - 1)
                     + (F.col("v_b") / nb) * (F.col("v_b") / nb)
                     / (nb - 1), F.lit(0.0)))
    return wide.select(
        "n_a", "n_b",
        F.round("m_a", 6).alias("mean_cents_a"),
        F.round("m_b", 6).alias("mean_cents_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(df, 6).alias("welch_df"),
        # df is in the hundreds here; the normal critical value is the
        # standard large-df approximation (t_crit(300) ~ 1.9679)
        (F.abs(t) > _AB_Z_CRIT).alias("significant"))


QUERIES["ab_welch_ttest"] = ab_welch_ttest
ORACLES["ab_welch_ttest"] = f"""
    WITH users AS (
        SELECT user_id,
               coalesce(sum(CASE WHEN event_type = 'purchase'
                            THEN CAST(round(value * 100, 0) AS BIGINT)
                            END), 0) AS cents,
               (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    ::BIGINT % 2) AS arm
        FROM events GROUP BY user_id
    ), a AS (
        SELECT arm, count(*) AS n,
               sum(CAST(cents AS HUGEINT)) AS s,
               sum(CAST(cents AS HUGEINT) * cents) AS ss
        FROM users GROUP BY arm
    ), per AS (
        SELECT arm, n, CAST(s AS DOUBLE) / n AS m,
               (CAST(ss AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
               / (n - 1) AS v
        FROM a
    ), wide AS (
        SELECT max(CASE WHEN arm = 0 THEN n END) AS n_a,
               max(CASE WHEN arm = 0 THEN m END) AS m_a,
               max(CASE WHEN arm = 0 THEN v END) AS v_a,
               max(CASE WHEN arm = 1 THEN n END) AS n_b,
               max(CASE WHEN arm = 1 THEN m END) AS m_b,
               max(CASE WHEN arm = 1 THEN v END) AS v_b
        FROM per
    )
    SELECT n_a, n_b,
           round(m_a, 6) AS mean_cents_a,
           round(m_b, 6) AS mean_cents_b,
           round((m_a - m_b) / nullif(sqrt(v_a / n_a + v_b / n_b), 0), 6)
               AS t_stat,
           round(pow(v_a / n_a + v_b / n_b, 2)
                 / nullif((v_a / n_a) * (v_a / n_a) / (n_a - 1)
                          + (v_b / n_b) * (v_b / n_b) / (n_b - 1), 0), 6)
               AS welch_df,
           abs((m_a - m_b) / nullif(sqrt(v_a / n_a + v_b / n_b), 0))
               > {_AB_Z_CRIT} AS significant
    FROM wide
"""


# ---------------------------------------------------------------------------
# Round-9: effect size + exact randomization inference for the A/B layer.


def ab_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta effect size between the two hash arms on per-user
    purchase cents (Cliff 1993): δ = (#(a>b) − #(a<b)) / (n_a·n_b) —
    the ordinal companion every significance test in this layer needs,
    because with enough users `ab_mannwhitney_test` flags differences
    too small to matter.  Computed from the SAME tie-averaged rank
    construction via the U identity δ = 2·U_a/(n_a·n_b) − 1 (midranks
    give ties the ½ credit Cliff's definition assigns), with the
    Romano et al. 2006 magnitude bands (0.147 / 0.33 / 0.474).

    Exactness: cents are exact integers, tier ranks exact half-integer
    arithmetic (the Mann-Whitney pairing); δ is one division of
    exactly-agreed quantities, rounded 6dp.  A/A calibration: on the
    hash split δ must come back ~0 / negligible (and does).

    Scale: identical to `ab_mannwhitney_test` — value-tier aggregates
    (value cardinality, not user cardinality), one tiny ordered pass,
    one-row output."""
    ranked = _cents_tier_ranks(_user_purchase_cents(spark, sf_dir))
    agg = ranked.agg(
        F.sum("t_a").alias("n_a"),
        F.sum(F.col("t") - F.col("t_a")).alias("n_b"),
        F.sum(F.col("t_a") * F.col("avg_rank")).alias("r_a"))
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    u_a = F.col("r_a") - n_a * (n_a + 1) / 2
    delta = 2.0 * u_a / (n_a * n_b) - 1.0
    mag = (F.when(F.abs(delta) < 0.147, F.lit("negligible"))
           .when(F.abs(delta) < 0.33, F.lit("small"))
           .when(F.abs(delta) < 0.474, F.lit("medium"))
           .otherwise(F.lit("large")))
    return agg.select(
        "n_a", "n_b",
        F.round(u_a, 1).alias("u_a"),
        F.round(delta, 6).alias("cliffs_delta"),
        mag.alias("magnitude"))


QUERIES["ab_cliffs_delta"] = ab_cliffs_delta
ORACLES["ab_cliffs_delta"] = """
    WITH users AS (
        SELECT user_id,
               coalesce(sum(CASE WHEN event_type = 'purchase'
                            THEN CAST(round(value * 100, 0) AS BIGINT)
                            END), 0) AS cents,
               (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    ::BIGINT % 2) AS arm
        FROM events GROUP BY user_id
    ), tiers AS (
        SELECT cents, count(*) AS t,
               CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS t_a
        FROM users GROUP BY cents
    ), ranked AS (
        SELECT *,
               coalesce(sum(t) OVER (ORDER BY cents
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0)
                   + (t + 1) / CAST(2 AS DOUBLE) AS avg_rank
        FROM tiers
    ), agg AS (
        SELECT CAST(sum(t_a) AS BIGINT) AS n_a,
               CAST(sum(t - t_a) AS BIGINT) AS n_b,
               sum(t_a * avg_rank) AS r_a
        FROM ranked
    )
    SELECT n_a, n_b,
           round(r_a - CAST(n_a AS DOUBLE) * (n_a + 1) / 2, 1) AS u_a,
           round(2.0 * (r_a - CAST(n_a AS DOUBLE) * (n_a + 1) / 2)
                 / (CAST(n_a AS DOUBLE) * n_b) - 1.0, 6)
               AS cliffs_delta,
           CASE WHEN abs(2.0 * (r_a - CAST(n_a AS DOUBLE) * (n_a + 1)
                         / 2) / (CAST(n_a AS DOUBLE) * n_b) - 1.0)
                     < 0.147 THEN 'negligible'
                WHEN abs(2.0 * (r_a - CAST(n_a AS DOUBLE) * (n_a + 1)
                         / 2) / (CAST(n_a AS DOUBLE) * n_b) - 1.0)
                     < 0.33 THEN 'small'
                WHEN abs(2.0 * (r_a - CAST(n_a AS DOUBLE) * (n_a + 1)
                         / 2) / (CAST(n_a AS DOUBLE) * n_b) - 1.0)
                     < 0.474 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM agg
"""


_PERM_B = 200    # sign-flip replicates (deterministic, md5-seeded)


def ab_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher randomization test on the arm revenue difference — the
    assumption-free gold standard behind the z/t/U approximations in
    this layer: per day, the two arms' purchase-cents totals form an
    exchangeable pair under H0, so the null distribution comes from
    SIGN-FLIPPING the daily differences.  B = 200 deterministic
    replicates (flip day d in replicate b iff the md5(b‖d) bit is set —
    the dp_noisy_counts replayability idiom: auditable and exactly
    oracled; a production platform would draw flips from a CSPRNG),
    p = (1 + #{|T_b| ≥ |T_obs|}) / (B + 1) — the add-one form that
    keeps the test exact-level.

    Exactness: EVERYTHING is integer — daily cents, differences, every
    replicate statistic T_b (a ± sum of integers), and the comparison
    |T_b| ≥ |T_obs| — so the p-value is an exact rational; no float
    enters until the final display rounds.

    Scale: one (day, arm) aggregate over purchases, then a bounded
    days × B replicate grid (≤ ~365·200 rows at any SF — the
    revenue_bootstrap_ci envelope), one grouped sum per replicate,
    one-row output."""
    ev = load_table(spark, sf_dir, "events")
    arm = md5_int(F.col("user_id").cast("string")) % 2
    daily = (ev.where(F.col("event_type") == "purchase")
             .groupBy(F.to_date("ts").alias("d"))
             .agg(F.sum(F.when(arm == 0,
                               F.round(F.col("value") * 100, 0)
                               .cast("long")).otherwise(0))
                  .alias("a_c"),
                  F.sum(F.when(arm == 1,
                               F.round(F.col("value") * 100, 0)
                               .cast("long")).otherwise(0))
                  .alias("b_c"))
             .select("d", (F.col("a_c") - F.col("b_c")).alias("diff_c")))
    obs = daily.agg(F.sum("diff_c").alias("t_obs"),
                    F.count(F.lit(1)).alias("n_days"))
    grid = daily.select(
        "d", "diff_c",
        F.explode(F.sequence(F.lit(0), F.lit(_PERM_B - 1))).alias("b"))
    flip = md5_int(F.concat_ws("|", F.col("b").cast("string"),
                               F.col("d").cast("string"))) % 2
    reps = (grid
            .select("b", F.when(flip == 1, -F.col("diff_c"))
                    .otherwise(F.col("diff_c")).alias("sd"))
            .groupBy("b").agg(F.sum("sd").alias("t_b")))
    hits = (reps.crossJoin(F.broadcast(obs))
            .agg(F.max("n_days").alias("n_days"),
                 F.max("t_obs").alias("t_obs_c"),
                 F.sum(F.when(F.abs(F.col("t_b"))
                              >= F.abs(F.col("t_obs")), 1)
                       .otherwise(0)).alias("n_ge")))
    p = (F.col("n_ge") + 1).cast("double") / F.lit(float(_PERM_B + 1))
    return hits.select(
        "n_days",
        F.round(F.col("t_obs_c").cast("double") / 100, 2)
        .alias("obs_diff"),
        F.col("n_ge"),
        F.round(p, 6).alias("p_value"),
        (p < 0.05).alias("significant"))


QUERIES["ab_permutation_test"] = ab_permutation_test
ORACLES["ab_permutation_test"] = f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(sum(CASE WHEN (('0x' || substr(md5(CAST(user_id
                        AS VARCHAR)), 1, 8))::BIGINT % 2) = 0
                    THEN CAST(round(value * 100, 0) AS BIGINT)
                    ELSE 0 END) AS BIGINT)
               - CAST(sum(CASE WHEN (('0x' || substr(md5(CAST(user_id
                        AS VARCHAR)), 1, 8))::BIGINT % 2) = 1
                    THEN CAST(round(value * 100, 0) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS diff_c
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), obs AS (
        SELECT CAST(sum(diff_c) AS BIGINT) AS t_obs,
               CAST(count(*) AS BIGINT) AS n_days
        FROM daily
    ), grid AS (
        SELECT d, diff_c,
               unnest(generate_series(0, {_PERM_B - 1})) AS b
        FROM daily
    ), reps AS (
        SELECT b, CAST(sum(CASE WHEN (('0x' || substr(md5(
                       CAST(b AS VARCHAR) || '|' || CAST(d AS VARCHAR)),
                       1, 8))::BIGINT % 2) = 1
                   THEN -diff_c ELSE diff_c END) AS BIGINT) AS t_b
        FROM grid GROUP BY b
    )
    SELECT o.n_days,
           round(CAST(o.t_obs AS DOUBLE) / 100, 2) AS obs_diff,
           CAST(sum(CASE WHEN abs(r.t_b) >= abs(o.t_obs)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
           round((sum(CASE WHEN abs(r.t_b) >= abs(o.t_obs)
                      THEN 1 ELSE 0 END) + 1)
                 / CAST({_PERM_B + 1} AS DOUBLE), 6) AS p_value,
           (sum(CASE WHEN abs(r.t_b) >= abs(o.t_obs)
                THEN 1 ELSE 0 END) + 1)
               / CAST({_PERM_B + 1} AS DOUBLE) < 0.05 AS significant
    FROM reps r CROSS JOIN obs o
    GROUP BY o.n_days, o.t_obs
"""


_LORENZ_BINS = 20


def customer_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lorenz curve behind `customer_revenue_gini`'s one-number
    summary: customers sorted by revenue ascending, cut into 20 exact
    ventiles, each row reporting the CUMULATIVE population share vs
    the cumulative revenue share — the table a pricing/risk review
    actually plots ("the bottom 60% of customers carry 31% of
    revenue"), and the input to any concentration threshold policy.

    r9 construction: the ventile cut is `operators.ranked.exact_ntile`
    over (rev_cents, custkey) — the distributed two-pass rank, no
    customer-grain single-task window anywhere — then a 20-row
    cumulative window over the ventile aggregate (bounded by the
    constant, not the data).

    Exactness: revenue in exact BIGINT cents; ventile membership is
    the SQL ntile contract on a total order; shares are single
    divisions of exact integer cumulative sums, rounded 6dp."""
    from qrapids_forecast_r_script_spark.operators.ranked import exact_ntile
    from pyspark.sql.window import Window
    orders = load_table(spark, sf_dir, "orders")
    rev = (orders.groupBy("o_custkey")
           .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0)
                      .cast("long")).alias("rev_cents")))
    binned = exact_ntile(rev, _LORENZ_BINS,
                         [F.col("rev_cents").asc(),
                          F.col("o_custkey").asc()],
                         "ventile")
    per = (binned.groupBy("ventile")
           .agg(F.count(F.lit(1)).alias("n_customers"),
                F.sum("rev_cents").alias("cents")))
    wc = (Window.orderBy("ventile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = (Window.orderBy("ventile")
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    cum = (per
           .withColumn("cum_n", F.sum("n_customers").over(wc))
           .withColumn("cum_c", F.sum("cents").over(wc))
           .withColumn("tot_n", F.sum("n_customers").over(wt))
           .withColumn("tot_c", F.sum("cents").over(wt)))
    return (cum.select(
        "ventile", "n_customers",
        F.round(F.col("cum_n").cast("double")
                / F.col("tot_n").cast("double"), 6)
        .alias("cum_pop_share"),
        F.round(F.col("cum_c").cast("double")
                / F.col("tot_c").cast("double"), 6)
        .alias("cum_rev_share"))
        .orderBy("ventile"))


QUERIES["customer_lorenz_curve"] = customer_lorenz_curve
ORACLES["customer_lorenz_curve"] = f"""
    WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1
    ), binned AS (
        SELECT rev_cents,
               CAST(ntile({_LORENZ_BINS}) OVER (
                   ORDER BY rev_cents ASC, o_custkey ASC) AS INTEGER)
                   AS ventile
        FROM rev
    ), per AS (
        SELECT ventile, CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(rev_cents) AS BIGINT) AS cents
        FROM binned GROUP BY 1
    )
    SELECT ventile, n_customers,
           round(CAST(sum(n_customers) OVER (ORDER BY ventile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS DOUBLE)
                 / sum(n_customers) OVER (), 6) AS cum_pop_share,
           round(CAST(sum(cents) OVER (ORDER BY ventile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS DOUBLE)
                 / sum(cents) OVER (), 6) AS cum_rev_share
    FROM per ORDER BY ventile
"""
