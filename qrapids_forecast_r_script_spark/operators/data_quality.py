"""Data-quality / reconciliation operators — the audits a production
lake runs continuously around the analytics in the other modules
(north-star extension; the reference R service, TimeSeriesFunctions_GPL
_0.5.1.R, assumes its Elasticsearch inputs are well-formed — at 100 TB
nothing is, so the engine ships the checks):

- referential-integrity audit: dangling-FK counts for every edge of the
  star schema plus the deliberately unconstrained events.user_id edge.
- snapshot diff: added / removed / changed / unchanged between two
  table versions — the reconciliation step after any backfill,
  migration, or vendor re-delivery.
- join-key skew profile: the top-k heaviest join keys with share and
  cumulative coverage — the diagnostic that decides between a plain
  shuffle join, AQE skew splitting, and the salt pattern
  (`scale_patterns.salted_skew_join`).
- two-sample KS drift test (r4): per-event-type max-ECDF-distance
  between the feed's first 15 days and the rest, against the Smirnov
  critical value — the bucket-free complement of `source_drift_psi`.

All pure Catalyst; every operator exactly SQL-oracled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import md5_int
from ..sources import load_table

# (child table, fk column, parent table, pk column) — the star-schema
# edges plus events.user_id -> customer, which has no enforced
# constraint in the fixture and is EXPECTED to dangle (the audit's job
# is to measure, not assume).
_FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("events", "user_id", "customer", "c_custkey"),
]

_SKEW_TOPK = 20


def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dangling-reference audit over every FK edge: per edge the child
    row count, the number of child rows whose (non-null) key has no
    parent, and the dangling fraction.  NULL keys reference nothing and
    are not dangling (SQL FK semantics).

    Scale shape: one left join per edge — dimension parents broadcast;
    the two fact-sized parents (orders under lineitem, customer under
    events) are distinct-key projections, so even those ship only the
    key column.  Each edge collapses to ONE row before the union; at
    100 TB this is the nightly constraint monitor, embarrassingly
    parallel across edges."""
    outs = []
    for child, fk, parent, pk in _FK_EDGES:
        c = load_table(spark, sf_dir, child).select(F.col(fk).alias("fkv"))
        p = (load_table(spark, sf_dir, parent)
             .select(F.col(pk).alias("pkv")).distinct())
        dangling = (F.col("fkv").isNotNull()
                    & F.col("pkv").isNull()).cast("long")
        outs.append(
            c.join(p, F.col("fkv") == F.col("pkv"), "left")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(dangling).alias("n_dangling"))
            .select(F.lit(child).alias("child_table"),
                    F.lit(fk).alias("fk_column"),
                    F.lit(parent).alias("parent_table"),
                    "n_rows", "n_dangling",
                    F.round(F.col("n_dangling") / F.col("n_rows"), 6)
                    .alias("dangling_frac")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _fk_audit_oracle() -> str:
    parts = []
    for child, fk, parent, pk in _FK_EDGES:
        parts.append(f"""
    SELECT '{child}' AS child_table, '{fk}' AS fk_column,
           '{parent}' AS parent_table,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN c.{fk} IS NOT NULL AND p.{pk} IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dangling,
           round(sum(CASE WHEN c.{fk} IS NOT NULL AND p.{pk} IS NULL
                     THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6)
               AS dangling_frac
    FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
      ON c.{fk} = p.{pk}""")
    return "\n    UNION ALL\n".join(parts)


# snapshot B perturbation rules (deterministic functions of the key):
# %11 == 0 removed, %13 == 0 repriced (+100.00 surcharge — additive so
# the 2-dp rounding can't flip, the SCD-upsert precedent), %17 == 0
# cloned to a new key (+1e9) as an insert.
_DIFF_REMOVE_MOD = 11
_DIFF_CHANGE_MOD = 13
_DIFF_ADD_MOD = 17
_DIFF_ADD_OFFSET = 1_000_000_000


def snapshot_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation diff between two table snapshots: snapshot A is
    ``orders`` as delivered; snapshot B simulates the next vendor drop
    (rows removed, repriced, and inserted by deterministic key rules).
    The diff classifies every key as added / removed / changed /
    unchanged and reports per-class row counts and the net price delta
    — the check run after every backfill or re-delivery before the new
    snapshot is promoted.

    Scale shape: ONE full-outer join on the key (sort-merge; both sides
    partition on the same key) followed by a 4-group aggregate.  No
    row-level output leaves the executors — the diff summary is what
    the gate consumes; the row-level drill-down is the same join with a
    kind filter."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.select(F.col("o_orderkey").alias("key"),
                      F.col("o_orderstatus").alias("status_a"),
                      F.round("o_totalprice", 2).alias("price_a"))
    kept = orders.where(F.col("o_orderkey") % _DIFF_REMOVE_MOD != 0)
    changed = (F.col("o_orderkey") % _DIFF_CHANGE_MOD == 0)
    b_base = kept.select(
        F.col("o_orderkey").alias("key"),
        F.when(changed, F.lit("R")).otherwise(F.col("o_orderstatus"))
        .alias("status_b"),
        F.when(changed, F.round(F.col("o_totalprice") + 100.0, 2))
        .otherwise(F.round("o_totalprice", 2)).alias("price_b"))
    b_new = (orders.where(F.col("o_orderkey") % _DIFF_ADD_MOD == 0)
             .select((F.col("o_orderkey") + _DIFF_ADD_OFFSET).alias("key"),
                     F.lit("N").alias("status_b"),
                     F.round("o_totalprice", 2).alias("price_b")))
    b = b_base.unionByName(b_new)
    j = a.join(b, "key", "full_outer")
    kind = (F.when(F.col("status_a").isNull(), F.lit("added"))
            .when(F.col("status_b").isNull(), F.lit("removed"))
            .when((F.col("status_a") != F.col("status_b"))
                  | (F.col("price_a") != F.col("price_b")),
                  F.lit("changed"))
            .otherwise(F.lit("unchanged")))
    delta = F.coalesce("price_b", F.lit(0.0)) - F.coalesce("price_a",
                                                           F.lit(0.0))
    return (j.select(kind.alias("change_kind"), delta.alias("delta"))
            .groupBy("change_kind")
            .agg(F.count(F.lit(1)).alias("n_keys"),
                 F.round(F.sum("delta"), 2).alias("net_price_delta")))


def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 heaviest values of the events.user_id join key with each
    key's share of the fact table and the top-k cumulative coverage —
    the diagnostic read before choosing a join strategy (broadcast /
    plain shuffle / AQE skew split / the salt pattern).  ``hot`` flags
    keys carrying more than 2× the uniform share.

    Scale shape: one map-side-partial count aggregate, a TakeOrdered
    top-20 (each partition surrenders 20 rows), and windows over the
    20-row result only.  The totals ride along as a broadcast 1-row
    aggregate — no extra scan, no driver collect."""
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.agg(F.sum("n").alias("total"),
                        F.count(F.lit(1)).alias("n_keys"))
    top = (counts.orderBy(F.col("n").desc(), F.col("user_id").asc())
           .limit(_SKEW_TOPK)
           .crossJoin(F.broadcast(totals)))
    w = Window.orderBy(F.col("n").desc(), F.col("user_id").asc())
    share = F.col("n") / F.col("total")
    return (top
            .withColumn("rank", F.row_number().over(w))
            .withColumn("share", F.round(share, 6))
            .withColumn("cum_share",
                        F.round(F.sum(share).over(
                            w.rowsBetween(Window.unboundedPreceding, 0)), 6))
            .withColumn("hot", share > 2.0 / F.col("n_keys"))
            .select("rank", "user_id", "n", "share", "cum_share", "hot"))


def corpus_diversity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language-diversity profile: document count, distinct
    languages, Shannon entropy of the language mix, its exponential
    (the "effective number of languages" — the ecology diversity index
    applied to corpus monitoring), and the dominant language with its
    share.  A souring crawl source shows up here as collapsing entropy
    before any downstream metric moves; mixture designers read the
    same table to set per-source temperature weights.

    Shape: one (source, lang) count aggregate, one per-source window
    argmax + entropy sum — both keyed by source, one shuffle total.
    Entropy terms use ln() so the value rounds at 1e-6 (the PMI/PSI
    cross-libm precedent); the dominant-language pick orders on raw
    integer counts (lang tiebreak), so it cannot drift."""
    docs = load_table(spark, sf_dir, "documents")
    sl = (docs.groupBy("source", "lang")
          .agg(F.count(F.lit(1)).alias("c")))
    w = Window.partitionBy("source")
    worder = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("lang").asc())
    share = F.col("c") / F.sum("c").over(w)
    return (sl
            .withColumn("share", share)
            .withColumn("rn", F.row_number().over(worder))
            .groupBy("source")
            .agg(F.sum("c").alias("n_docs"),
                 F.count(F.lit(1)).alias("n_langs"),
                 F.round(-F.sum(F.col("share")
                                * F.log(F.col("share"))), 6)
                 .alias("lang_entropy"),
                 F.max(F.when(F.col("rn") == 1, F.col("lang")))
                 .alias("top_lang"),
                 F.round(F.max(F.when(F.col("rn") == 1,
                                      F.col("share"))), 6)
                 .alias("top_lang_share"))
            .withColumn("effective_langs",
                        F.round(F.exp("lang_entropy"), 4)))


def events_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape profile of ``events.value`` per event type:
    population mean / stddev / skewness / excess kurtosis, plus the
    Pearson correlation of value with hour-of-day — the column-profiler
    read a pipeline takes BEFORE choosing normalizations, clip points,
    and drift monitors (`source_drift_psi` then watches what this
    baselines).

    Everything derives from one pass of raw power sums (Σv, Σv², Σv³,
    Σv⁴, Σh, Σh², Σvh) — a single partial-aggregating groupBy, no
    window, no second scan; the moment algebra runs on the 5-row
    aggregate.  Built-in `skewness`/`kurtosis`/`corr` would be the
    same single pass but their streaming-update formulas differ between
    engines at the last ulp; raw sums + identical closed forms on both
    sides round stably to the shared 4dp grid.  At 100 TB: map-side
    combine does nearly all the work, the shuffle moves 7 doubles per
    (partition × type)."""
    ev = (load_table(spark, sf_dir, "events")
          .select("event_type", F.col("value").alias("v"),
                  F.hour("ts").cast("double").alias("h")))
    a = (ev.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n_events"),
              F.sum("v").alias("s1"),
              F.sum(F.col("v") * F.col("v")).alias("s2"),
              F.sum(F.col("v") * F.col("v") * F.col("v")).alias("s3"),
              F.sum(F.col("v") * F.col("v") * F.col("v") * F.col("v"))
              .alias("s4"),
              F.sum("h").alias("sh"),
              F.sum(F.col("h") * F.col("h")).alias("sh2"),
              F.sum(F.col("v") * F.col("h")).alias("svh")))
    n = F.col("n_events").cast("double")
    m = F.col("s1") / n
    # clamp at 0: avg(x^2) - mean^2 can cancel to ~-1e-13 on a
    # near-constant group, and the degenerate divisors (constant value
    # or single distinct hour) NULL out via nullif instead of crashing
    # the profiler under ANSI mode (review finding: a fixed-fee event
    # type has var = 0 exactly)
    var = F.greatest(F.col("s2") / n - m * m, F.lit(0.0))
    std = F.sqrt(var)
    mh = F.col("sh") / n
    stdh = F.sqrt(F.greatest(F.col("sh2") / n - mh * mh, F.lit(0.0)))
    skew = (F.col("s3") / n - 3 * m * (F.col("s2") / n) + 2 * m * m * m) \
        / F.nullif(std * std * std, F.lit(0.0))
    kurt = (F.col("s4") / n - 4 * m * (F.col("s3") / n)
            + 6 * m * m * (F.col("s2") / n) - 3 * m * m * m * m) \
        / F.nullif(var * var, F.lit(0.0)) - 3
    corr = (F.col("svh") / n - m * mh) / F.nullif(std * stdh, F.lit(0.0))
    return (a.select("event_type", "n_events",
                     F.round(m, 4).alias("mean_value"),
                     F.round(std, 4).alias("std_value"),
                     F.round(skew, 4).alias("skewness"),
                     F.round(kurt, 4).alias("excess_kurtosis"),
                     F.round(corr, 4).alias("corr_value_hour"))
            .orderBy("event_type"))


# declared contract for the events feed: the checks a producer/consumer
# data contract would pin (Great-Expectations-style), each one a
# conditional aggregate over ONE pass (plus the distinct-key check).
_CONTRACT_TYPE_LIST = ["view", "click", "purchase", "signup", "error"]
# SQL tuple derived from the SAME list — the two sides cannot desync
_CONTRACT_TYPES = "(" + ", ".join(f"'{t}'" for t in _CONTRACT_TYPE_LIST) + ")"
_TS_LO, _TS_HI = "2024-01-01", "2025-01-01"
_VAL_MAX = 10000.0


def events_contract_violations(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Data-contract validation report over the events feed: per
    declared rule the violation count and rate — the producer-side
    gate that runs before a partition is published (the programmatic
    form of a Great-Expectations suite).  Rules: non-null keys, unique
    event_id, timestamp inside the contract window, enum-valued
    event_type, value in [0, 10000].

    One conditional-aggregate pass for five rules plus one distinct
    count for uniqueness; output is |rules| rows.  At 100 TB each rule
    is a map-side sum riding the same scan."""
    ev = load_table(spark, sf_dir, "events")
    lo = F.lit(_TS_LO).cast("timestamp")
    hi = F.lit(_TS_HI).cast("timestamp")
    agg = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("event_id").isNull(), 1)).alias("null_event_id"),
        (F.count("event_id") - F.count_distinct("event_id"))
        .alias("duplicate_event_id"),
        F.count(F.when(F.col("user_id").isNull(), 1)).alias("null_user_id"),
        F.count(F.when(F.col("ts").isNull()
                       | (F.col("ts") < lo) | (F.col("ts") >= hi), 1))
        .alias("ts_out_of_window"),
        F.count(F.when(F.col("event_type").isNull()
                       | ~F.col("event_type").isin(*_CONTRACT_TYPE_LIST), 1))
        .alias("unknown_event_type"),
        F.count(F.when(F.col("value").isNull()
                       | (F.col("value") < 0)
                       | (F.col("value") > _VAL_MAX), 1))
        .alias("value_out_of_range"))
    rules = ["null_event_id", "duplicate_event_id", "null_user_id",
             "ts_out_of_window", "unknown_event_type",
             "value_out_of_range"]
    long = agg.selectExpr(
        "n_rows",
        "stack({n}, {pairs}) as (rule, n_violations)".format(
            n=len(rules),
            pairs=", ".join(f"'{r}', {r}" for r in rules)))
    # nullif: an EMPTY partition (n_rows = 0) must still report, not
    # crash with ANSI divide-by-zero — emptiness is itself a condition
    # the gate's consumer wants to see
    return (long.select("rule", "n_violations",
                        F.round(F.col("n_violations")
                                / F.nullif(F.col("n_rows"), F.lit(0)), 6)
                        .alias("violation_rate"))
            .orderBy("rule"))


_KS_SPLIT_DAYS = 15      # early window = first 15 days of the feed
_KS_COEF = 1.3581015     # c(alpha) at alpha = 0.05 (Smirnov)


def events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test of the ``value``
    distribution per event type: first ``_KS_SPLIT_DAYS`` days of the
    feed vs the rest.  KS = max |ECDF_early(v) − ECDF_late(v)| over the
    pooled distinct values; drift flags when KS exceeds the Smirnov
    large-sample critical value c(0.05)·sqrt((n1+n2)/(n1·n2)) — the
    distribution-FREE distribution monitor that catches shape changes
    PSI's fixed buckets blur (``source_drift_psi``'s complement; same
    pairing as CUSUM-vs-zscore for level shifts).

    Scale shape: the corpus-proportional work is ONE grouped count by
    (type, side, value); both ECDFs are running sums over the DISTINCT
    value grid partitioned per type (never a raw-row sort), and the
    max-diff is a per-type aggregate.  The split date is a 1-row
    broadcast scalar (the ab_test 1×1 precedent).  No rounding enters
    until the final 6dp: ECDF fractions are exact-integer ratios."""
    ev = load_table(spark, sf_dir, "events")
    mind = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    sided = (ev.crossJoin(F.broadcast(mind))
             .select("event_type", "value",
                     (F.to_date("ts")
                      < F.date_add(F.col("d0"), _KS_SPLIT_DAYS))
                     .alias("early")))
    counts = (sided.groupBy("event_type", "value")
              .agg(F.sum(F.when(F.col("early"), 1).otherwise(0))
                   .alias("ce"),
                   F.sum(F.when(~F.col("early"), 1).otherwise(0))
                   .alias("cl")))
    wv = (Window.partitionBy("event_type").orderBy("value")
          .rowsBetween(Window.unboundedPreceding, 0))
    wt = Window.partitionBy("event_type")
    cum = (counts
           .withColumn("cume", F.sum("ce").over(wv))
           .withColumn("cuml", F.sum("cl").over(wv))
           .withColumn("ne", F.sum("ce").over(wt))
           .withColumn("nl", F.sum("cl").over(wt)))
    diff = F.abs(F.col("cume") / F.col("ne")
                 - F.col("cuml") / F.col("nl"))
    out = (cum.groupBy("event_type")
           .agg(F.max("ne").alias("n_early"),
                F.max("nl").alias("n_late"),
                F.round(F.max(diff), 6).alias("ks_stat")))
    crit = F.round(F.lit(_KS_COEF)
                   * F.sqrt((F.col("n_early") + F.col("n_late"))
                            / (F.col("n_early") * F.col("n_late"))), 6)
    return (out.withColumn("ks_crit", crit)
            .withColumn("drift_detected", F.col("ks_stat") > F.col("ks_crit"))
            .orderBy("event_type"))


QUERIES = {
    "fk_integrity_audit": fk_integrity_audit,
    "snapshot_table_diff": snapshot_table_diff,
    "join_key_skew_profile": join_key_skew_profile,
    "corpus_diversity_stats": corpus_diversity_stats,
    "events_numeric_profile": events_numeric_profile,
    "events_contract_violations": events_contract_violations,
    "events_ks_drift": events_ks_drift,
}

ORACLES = {
    "fk_integrity_audit": _fk_audit_oracle(),
    "snapshot_table_diff": f"""
        WITH a AS (
            SELECT o_orderkey AS key, o_orderstatus AS status_a,
                   round(o_totalprice, 2) AS price_a
            FROM orders
        ), b AS (
            SELECT o_orderkey AS key,
                   CASE WHEN o_orderkey % {_DIFF_CHANGE_MOD} = 0 THEN 'R'
                        ELSE o_orderstatus END AS status_b,
                   CASE WHEN o_orderkey % {_DIFF_CHANGE_MOD} = 0
                        THEN round(o_totalprice + 100.0, 2)
                        ELSE round(o_totalprice, 2) END AS price_b
            FROM orders WHERE o_orderkey % {_DIFF_REMOVE_MOD} != 0
            UNION ALL
            SELECT o_orderkey + {_DIFF_ADD_OFFSET} AS key,
                   'N' AS status_b, round(o_totalprice, 2) AS price_b
            FROM orders WHERE o_orderkey % {_DIFF_ADD_MOD} = 0
        ), j AS (
            SELECT CASE WHEN a.status_a IS NULL THEN 'added'
                        WHEN b.status_b IS NULL THEN 'removed'
                        WHEN a.status_a != b.status_b
                             OR a.price_a != b.price_b THEN 'changed'
                        ELSE 'unchanged' END AS change_kind,
                   coalesce(b.price_b, 0.0) - coalesce(a.price_a, 0.0)
                       AS delta
            FROM a FULL OUTER JOIN b USING (key)
        )
        SELECT change_kind, count(*) AS n_keys,
               round(sum(delta), 2) AS net_price_delta
        FROM j GROUP BY change_kind
    """,
    "join_key_skew_profile": f"""
        WITH counts AS (
            SELECT user_id, count(*) AS n FROM events GROUP BY user_id
        ), totals AS (
            SELECT CAST(sum(n) AS BIGINT) AS total,
                   count(*) AS n_keys FROM counts
        ), top AS (
            SELECT user_id, n, total, n_keys FROM counts CROSS JOIN totals
            ORDER BY n DESC, user_id ASC LIMIT {_SKEW_TOPK}
        ), ranked AS (
            SELECT *, row_number() OVER (ORDER BY n DESC, user_id ASC)
                       AS rank,
                   sum(n / CAST(total AS DOUBLE)) OVER (
                       ORDER BY n DESC, user_id ASC
                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM top
        )
        SELECT rank, user_id, n, round(n / CAST(total AS DOUBLE), 6)
                   AS share,
               round(cum, 6) AS cum_share,
               (n / CAST(total AS DOUBLE)) > 2.0 / n_keys AS hot
        FROM ranked
    """,
}

ORACLES["corpus_diversity_stats"] = """
    WITH sl AS (
        SELECT source, lang, count(*) AS c
        FROM documents GROUP BY source, lang
    ), shared AS (
        SELECT *,
               c / CAST(sum(c) OVER (PARTITION BY source) AS DOUBLE)
                   AS share,
               row_number() OVER (PARTITION BY source
                   ORDER BY c DESC, lang ASC) AS rn
        FROM sl
    ), agg AS (
        SELECT source,
               CAST(sum(c) AS BIGINT) AS n_docs,
               count(*) AS n_langs,
               round(-sum(share * ln(share)), 6) AS lang_entropy,
               max(CASE WHEN rn = 1 THEN lang END) AS top_lang,
               round(max(CASE WHEN rn = 1 THEN share END), 6)
                   AS top_lang_share
        FROM shared GROUP BY source
    )
    SELECT source, n_docs, n_langs, lang_entropy, top_lang,
           top_lang_share, round(exp(lang_entropy), 4) AS effective_langs
    FROM agg
"""

ORACLES["events_numeric_profile"] = """
    WITH a AS (
        SELECT event_type,
               count(*) AS n_events,
               sum(value) AS s1,
               sum(value * value) AS s2,
               sum(value * value * value) AS s3,
               sum(value * value * value * value) AS s4,
               sum(CAST(hour(ts) AS DOUBLE)) AS sh,
               sum(CAST(hour(ts) AS DOUBLE) * CAST(hour(ts) AS DOUBLE))
                   AS sh2,
               sum(value * CAST(hour(ts) AS DOUBLE)) AS svh
        FROM events GROUP BY event_type
    ), f AS (
        SELECT event_type, n_events,
               CAST(n_events AS DOUBLE) AS n,
               s1, s2, s3, s4, sh, sh2, svh,
               s1 / CAST(n_events AS DOUBLE) AS m,
               sh / CAST(n_events AS DOUBLE) AS mh
        FROM a
    ), g AS (
        SELECT *,
               sqrt(greatest(s2 / n - m * m, 0.0)) AS std,
               greatest(s2 / n - m * m, 0.0) AS var,
               sqrt(greatest(sh2 / n - mh * mh, 0.0)) AS stdh
        FROM f
    )
    SELECT event_type, n_events,
           round(m, 4) AS mean_value,
           round(std, 4) AS std_value,
           round((s3 / n - 3 * m * (s2 / n) + 2 * m * m * m)
                 / nullif(std * std * std, 0.0), 4) AS skewness,
           round((s4 / n - 4 * m * (s3 / n) + 6 * m * m * (s2 / n)
                  - 3 * m * m * m * m) / nullif(var * var, 0.0) - 3, 4)
               AS excess_kurtosis,
           round((svh / n - m * mh) / nullif(std * stdh, 0.0), 4)
               AS corr_value_hour
    FROM g ORDER BY event_type
"""

ORACLES["events_contract_violations"] = f"""
    WITH agg AS (
        SELECT count(*) AS n_rows,
               count(*) FILTER (WHERE event_id IS NULL) AS null_event_id,
               count(event_id) - count(DISTINCT event_id)
                   AS duplicate_event_id,
               count(*) FILTER (WHERE user_id IS NULL) AS null_user_id,
               count(*) FILTER (WHERE ts IS NULL
                   OR ts < TIMESTAMP '{_TS_LO}'
                   OR ts >= TIMESTAMP '{_TS_HI}') AS ts_out_of_window,
               count(*) FILTER (WHERE event_type IS NULL
                   OR event_type NOT IN {_CONTRACT_TYPES})
                   AS unknown_event_type,
               count(*) FILTER (WHERE value IS NULL OR value < 0
                   OR value > {_VAL_MAX}) AS value_out_of_range
        FROM events
    ), long AS (
        SELECT n_rows, 'null_event_id' AS rule,
               null_event_id AS n_violations FROM agg
        UNION ALL SELECT n_rows, 'duplicate_event_id',
               duplicate_event_id FROM agg
        UNION ALL SELECT n_rows, 'null_user_id', null_user_id FROM agg
        UNION ALL SELECT n_rows, 'ts_out_of_window',
               ts_out_of_window FROM agg
        UNION ALL SELECT n_rows, 'unknown_event_type',
               unknown_event_type FROM agg
        UNION ALL SELECT n_rows, 'value_out_of_range',
               value_out_of_range FROM agg
    )
    SELECT rule, n_violations,
           round(n_violations / nullif(CAST(n_rows AS DOUBLE), 0.0), 6)
               AS violation_rate
    FROM long ORDER BY rule
"""

ORACLES["events_ks_drift"] = f"""
    WITH d0 AS (
        SELECT min(CAST(ts AS DATE)) AS d0 FROM events
    ), sided AS (
        SELECT event_type, value,
               CAST(ts AS DATE) < d0 + {_KS_SPLIT_DAYS} AS early
        FROM events CROSS JOIN d0
    ), counts AS (
        SELECT event_type, value,
               sum(CASE WHEN early THEN 1 ELSE 0 END) AS ce,
               sum(CASE WHEN NOT early THEN 1 ELSE 0 END) AS cl
        FROM sided GROUP BY 1, 2
    ), cum AS (
        SELECT event_type,
               sum(ce) OVER w AS cume,
               sum(cl) OVER w AS cuml,
               sum(ce) OVER t AS ne,
               sum(cl) OVER t AS nl
        FROM counts
        WINDOW w AS (PARTITION BY event_type ORDER BY value
                     ROWS UNBOUNDED PRECEDING),
               t AS (PARTITION BY event_type)
    ), agg AS (
        SELECT event_type,
               CAST(max(ne) AS BIGINT) AS n_early,
               CAST(max(nl) AS BIGINT) AS n_late,
               round(max(abs(cume / CAST(ne AS DOUBLE)
                             - cuml / CAST(nl AS DOUBLE))), 6) AS ks_stat
        FROM cum GROUP BY 1
    )
    SELECT event_type, n_early, n_late, ks_stat,
           round({_KS_COEF} * sqrt((n_early + n_late)
                 / (CAST(n_early AS DOUBLE) * n_late)), 6) AS ks_crit,
           ks_stat > round({_KS_COEF} * sqrt((n_early + n_late)
                 / (CAST(n_early AS DOUBLE) * n_late)), 6)
               AS drift_detected
    FROM agg ORDER BY event_type
"""


# Benford expected first-digit shares: log10(1 + 1/d), precomputed and
# INLINED as literals on both engines (constants, no libm in the query).
_BENFORD_EXP = {1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691,
                5: 0.079181, 6: 0.066947, 7: 0.057992, 8: 0.051153,
                9: 0.045757}


def benford_first_digit_audit(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over ``o_totalprice`` — the
    classic fabricated-/truncated-data screen for financial columns
    (Newcomb 1881, Benford 1938; multi-decade naturally-spread amounts
    follow P(d) = log10(1+1/d); synthetic or clipped feeds don't).
    Emits per digit: observed count, observed vs expected share, and
    the chi-square contribution (sum them = the audit statistic).

    Engine-exact digit extraction: prices become exact integer CENTS
    (``round(p*100)`` as BIGINT) and the first digit is the first
    character of the INTEGER's string form — integer-to-string is
    deterministic on both engines, unlike double formatting or
    log10-based magnitude math at power-of-ten boundaries.  One
    map-side projection + a 9-group aggregate; expected shares are
    inlined literals."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    obs = (orders.where(F.col("o_totalprice") > 0)
           .select(digit.alias("digit"))
           .groupBy("digit")
           .agg(F.count(F.lit(1)).alias("n_obs")))
    exp_share = F.element_at(
        F.create_map(*[F.lit(v) for kv in _BENFORD_EXP.items()
                       for v in kv]), F.col("digit"))
    wt = Window.partitionBy()
    tot = F.sum("n_obs").over(wt)
    e = exp_share * tot
    return (obs
            .withColumn("share_obs", F.round(F.col("n_obs") / tot, 6))
            .withColumn("share_exp", exp_share)
            .withColumn("chi2_contrib",
                        F.round((F.col("n_obs") - e) * (F.col("n_obs") - e)
                                / e, 6))
            .select("digit", "n_obs", "share_obs", "share_exp",
                    "chi2_contrib")
            .orderBy("digit"))


_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {v}" for d, v in _BENFORD_EXP.items())

ORACLES["benford_first_digit_audit"] = f"""
    WITH obs AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS digit,
               count(*) AS n_obs
        FROM orders WHERE o_totalprice > 0 GROUP BY 1
    ), t AS (SELECT sum(n_obs) AS tot FROM obs)
    SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
           round(n_obs / CAST(tot AS DOUBLE), 6) AS share_obs,
           CAST(CASE digit {_BENFORD_CASE} END AS DOUBLE) AS share_exp,
           round((n_obs - (CASE digit {_BENFORD_CASE} END) * tot)
                 * (n_obs - (CASE digit {_BENFORD_CASE} END) * tot)
                 / ((CASE digit {_BENFORD_CASE} END) * tot), 6)
               AS chi2_contrib
    FROM obs CROSS JOIN t ORDER BY digit
"""


QUERIES["benford_first_digit_audit"] = benford_first_digit_audit


# ---------------------------------------------------------------------------
# Round-4 continuation: chi-square independence audit + group-wise
# missing-value imputation report.

_CHI_U = 1_000_000   # micro-unit grid for the chi-square contributions


def chi_square_independence(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Pearson chi-square test of independence (Pearson 1900) between
    event_type and day-of-week — the categorical-association audit that
    catches feed pathologies the numeric monitors miss (a scraper that
    only emits 'error' events on Mondays, a type whose traffic pattern
    silently decoupled from the weekly cycle).  Emits the FULL r x c
    contingency grid (zero cells included — dropping them biases the
    statistic) with observed, expected, per-cell contribution, and the
    table-level chi2 / degrees of freedom repeated per row.

    Exactness: observed counts and marginals are exact integers;
    expected and contribution are fixed-shape IEEE expressions of exact
    inputs (engine-identical); the table statistic sums contributions
    AFTER flooring to a 1e-6 BIGINT micro-grid, so the total is exact
    integer arithmetic under any aggregation order — on a statistic
    compared to a critical value, a last-ulp drift is a different
    verdict.

    Scale shape: one (type, dow) aggregate with map-side combine, two
    marginal re-aggregates, a broadcast grid join (r x c is tiny by
    construction), one micro-unit sum — nothing row-proportional past
    the first aggregate."""
    ev = load_table(spark, sf_dir, "events")
    cells = (ev.groupBy(F.col("event_type"),
                        (F.dayofweek("ts") - 1).alias("dow"))
             .agg(F.count(F.lit(1)).alias("observed")))
    rows = cells.groupBy("event_type").agg(F.sum("observed").alias("rt"))
    cols = cells.groupBy("dow").agg(F.sum("observed").alias("ct"))
    n = cells.agg(F.sum("observed").alias("n"),
                  F.count_distinct("event_type").alias("r"),
                  F.count_distinct("dow").alias("c"))
    grid = (rows.crossJoin(F.broadcast(cols))
            .join(cells, ["event_type", "dow"], "left")
            .withColumn("observed", F.coalesce("observed", F.lit(0)))
            .crossJoin(F.broadcast(n)))
    exp = (F.col("rt").cast("double") * F.col("ct").cast("double")
           / F.col("n").cast("double"))
    obs = F.col("observed").cast("double")
    contrib = (obs - exp) * (obs - exp) / exp
    contrib_u = F.floor(contrib * _CHI_U).cast("long")
    scored = grid.select(
        "event_type", "dow", "observed",
        F.round(exp, 6).alias("expected"),
        contrib_u.alias("contrib_u"),
        ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"))
    w = Window.partitionBy()
    return (scored
            .withColumn("chi2_total",
                        F.round(F.sum("contrib_u").over(w)
                                / F.lit(float(_CHI_U)), 6))
            .select("event_type", "dow", "observed", "expected",
                    F.round(F.col("contrib_u") / F.lit(float(_CHI_U)), 6)
                    .alias("contribution"),
                    "chi2_total", "dof")
            .orderBy("event_type", "dow"))


ORACLES["chi_square_independence"] = f"""
    WITH cells AS (
        SELECT event_type, CAST(date_part('dow', ts) AS INTEGER) AS dow,
               count(*) AS observed
        FROM events GROUP BY 1, 2
    ), rws AS (SELECT event_type, sum(observed) AS rt
               FROM cells GROUP BY 1),
    cls AS (SELECT dow, sum(observed) AS ct FROM cells GROUP BY 1),
    nn AS (SELECT sum(observed) AS n,
                  count(DISTINCT event_type) AS r,
                  count(DISTINCT dow) AS c
           FROM cells),
    grid AS (
        SELECT rws.event_type, cls.dow,
               coalesce(ce.observed, 0) AS observed,
               rws.rt, cls.ct, nn.n, nn.r, nn.c
        FROM rws CROSS JOIN cls
        LEFT JOIN cells ce ON ce.event_type = rws.event_type
                          AND ce.dow = cls.dow
        CROSS JOIN nn
    ), scored AS (
        SELECT event_type, dow, observed,
               CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                   / CAST(n AS DOUBLE) AS expected,
               CAST(floor((CAST(observed AS DOUBLE)
                           - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                             / CAST(n AS DOUBLE))
                          * (CAST(observed AS DOUBLE)
                             - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                               / CAST(n AS DOUBLE))
                          / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                             / CAST(n AS DOUBLE))
                          * {_CHI_U}) AS BIGINT) AS contrib_u,
               (r - 1) * (c - 1) AS dof
        FROM grid
    )
    SELECT event_type, dow, observed, round(expected, 6) AS expected,
           round(contrib_u / CAST({_CHI_U} AS DOUBLE), 6) AS contribution,
           round(sum(contrib_u) OVER () / CAST({_CHI_U} AS DOUBLE), 6)
               AS chi2_total,
           dof
    FROM scored ORDER BY event_type, dow
"""
QUERIES["chi_square_independence"] = chi_square_independence


_IMP_MOD = 10   # deterministic missingness: md5(event_id) bucket 0


def missing_value_imputation(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Group-wise missing-value imputation report: a deterministic 10%
    of event values is masked (md5(event_id) bucket — the retry-stable
    sampling idiom), then imputed with the per-event-type mean of the
    PRESENT values, global-mean fallback — the standard fill strategy
    every feature pipeline applies before training, emitted as the
    audit table (fill value, miss rate, post-imputation mean shift)
    rather than a silent transform.

    Exactness: present-value sums snap to the 1e-6 BIGINT micro-grid
    per row before aggregation, so group sums are exact integers;
    means and the post-imputation mean are fixed-shape divisions of
    exact integers.  Scale shape: one masked scan, one per-group
    aggregate, one broadcast of the (tiny) per-group fill table —
    map-side throughout."""
    ev = load_table(spark, sf_dir, "events")
    bucket = md5_int(F.col("event_id").cast("string")) % _IMP_MOD
    vu = F.round(F.round(F.col("value"), 6) * 1_000_000, 0).cast("long")
    masked = ev.select(
        "event_type", vu.alias("vu"),
        (bucket == 0).alias("is_missing"))
    g = (masked.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n_total"),
              F.sum(F.col("is_missing").cast("long")).alias("n_missing"),
              F.sum(F.when(~F.col("is_missing"), F.col("vu")))
              .alias("present_sum_u")))
    n_present = F.col("n_total") - F.col("n_missing")
    fill = (F.col("present_sum_u").cast("double")
            / n_present.cast("double"))
    post_mean = ((F.col("present_sum_u").cast("double")
                  + F.col("n_missing").cast("double") * fill)
                 / F.col("n_total").cast("double"))
    return (g.select(
        "event_type", "n_total", "n_missing",
        F.round(F.col("n_missing").cast("double")
                / F.col("n_total").cast("double"), 6).alias("miss_rate"),
        F.round(fill / 1_000_000, 6).alias("fill_value"),
        F.round(post_mean / 1_000_000, 6).alias("post_imputation_mean"))
        .orderBy("event_type"))


ORACLES["missing_value_imputation"] = f"""
    WITH masked AS (
        SELECT event_type,
               CAST(round(round(value, 6) * 1000000, 0) AS BIGINT) AS vu,
               ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                   ::BIGINT % {_IMP_MOD} = 0 AS is_missing
        FROM events
    ), g AS (
        SELECT event_type, count(*) AS n_total,
               CAST(sum(CASE WHEN is_missing THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_missing,
               sum(CASE WHEN NOT is_missing THEN vu END) AS present_sum_u
        FROM masked GROUP BY 1
    )
    SELECT event_type, n_total, n_missing,
           round(CAST(n_missing AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
               AS miss_rate,
           round(CAST(present_sum_u AS DOUBLE)
                 / CAST(n_total - n_missing AS DOUBLE) / 1000000, 6)
               AS fill_value,
           round((CAST(present_sum_u AS DOUBLE)
                  + CAST(n_missing AS DOUBLE)
                    * (CAST(present_sum_u AS DOUBLE)
                       / CAST(n_total - n_missing AS DOUBLE)))
                 / CAST(n_total AS DOUBLE) / 1000000, 6)
               AS post_imputation_mean
    FROM g ORDER BY event_type
"""
QUERIES["missing_value_imputation"] = missing_value_imputation


_MAD_K = 0.6745      # Φ⁻¹(0.75): scales MAD to σ under normality
_MAD_CRIT = 3.5      # Iglewicz-Hoaglin modified-z threshold


def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier audit via the MAD modified z-score (Iglewicz &
    Hoaglin 1993): per event type, median and median-absolute-
    deviation replace mean/std — `events_zscore_outliers`' moments are
    themselves dragged by the outliers they hunt (35% of a budget in
    one bad row moves the mean; it cannot move the median), so the
    z-score monitor under-flags exactly when contamination is worst.
    Emits per type: median, MAD, outlier count at |0.6745·(x−med)/MAD|
    > 3.5, and the flag-rate delta vs a plain 3σ rule — the
    contamination read.

    Exactness: medians are exact interpolated percentiles (the
    `value_percentiles_by_type` Spark↔DuckDB pairing), comparisons on
    6dp-rounded scores.  Scale: two percentile passes per group (the
    exact-percentile cost; at extreme cardinality swap for
    approx_percentile with the documented rank tolerance) + one
    conditional aggregate."""
    ev = load_table(spark, sf_dir, "events")
    med = (ev.groupBy("event_type")
           .agg(F.percentile("value", F.lit(0.5)).alias("med"),
                F.avg("value").alias("mu"),
                F.stddev_samp("value").alias("sigma")))
    dev = (ev.join(F.broadcast(med), "event_type")
           .select("event_type", "value", "med", "mu", "sigma",
                   F.abs(F.col("value") - F.col("med")).alias("adev")))
    mad = (dev.groupBy("event_type")
           .agg(F.percentile("adev", F.lit(0.5)).alias("mad"),
                F.max("med").alias("med"),
                F.max("mu").alias("mu"), F.max("sigma").alias("sigma")))
    scored = (ev.join(F.broadcast(mad), "event_type")
              .select("event_type", "med", "mad",
                      F.round(F.lit(_MAD_K)
                              * (F.col("value") - F.col("med"))
                              / F.nullif(F.col("mad"), F.lit(0.0)), 6)
                      .alias("mz"),
                      F.round((F.col("value") - F.col("mu"))
                              / F.nullif(F.col("sigma"), F.lit(0.0)), 6)
                      .alias("z")))
    return (scored.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.max("med"), 6).alias("median"),
                 F.round(F.max("mad"), 6).alias("mad"),
                 F.sum((F.abs("mz") > _MAD_CRIT).cast("long"))
                 .alias("n_mad_outliers"),
                 F.sum((F.abs("z") > 3.0).cast("long"))
                 .alias("n_zscore_outliers"))
            .orderBy("event_type"))


ORACLES["events_mad_outliers"] = f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med,
               avg(value) AS mu, stddev_samp(value) AS sigma
        FROM events GROUP BY 1
    ), mad AS (
        SELECT e.event_type,
               quantile_cont(abs(e.value - m.med), 0.5) AS mad,
               max(m.med) AS med, max(m.mu) AS mu,
               max(m.sigma) AS sigma
        FROM events e JOIN med m USING (event_type)
        GROUP BY 1
    ), scored AS (
        SELECT e.event_type, m.med, m.mad,
               round(CAST({_MAD_K} AS DOUBLE) * (e.value - m.med)
                     / nullif(m.mad, CAST(0 AS DOUBLE)), 6) AS mz,
               round((e.value - m.mu)
                     / nullif(m.sigma, CAST(0 AS DOUBLE)), 6) AS z
        FROM events e JOIN mad m USING (event_type)
    )
    SELECT event_type, count(*) AS n_events,
           round(max(med), 6) AS median,
           round(max(mad), 6) AS mad,
           CAST(sum(CASE WHEN abs(mz) > CAST({_MAD_CRIT} AS DOUBLE)
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_mad_outliers,
           CAST(sum(CASE WHEN abs(z) > CAST(3.0 AS DOUBLE)
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zscore_outliers
    FROM scored GROUP BY 1 ORDER BY 1
"""
QUERIES["events_mad_outliers"] = events_mad_outliers


_QQ_DECILES = [i / 10.0 for i in range(1, 10)]


def source_length_qq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile drift profile per source: the full decile
    ladder (p10..p90) of each source's document-length distribution
    against the corpus's — `source_drift_psi` collapses the comparison
    into one binned number and `events_ks_drift` into one max
    distance; the QQ table shows WHERE the distributions diverge (a
    head-only gap = truncated crawls, a tail-only gap = concatenation
    bugs).  Ratio near 1 at every decile = healthy feed.

    Exact interpolated percentiles on exact integer lengths (the
    `value_percentiles_by_type` Spark↔DuckDB pairing); the decile
    fan-out is a 9-row broadcast constant.  Scale: one per-source
    percentile pass + one corpus pass."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("double").alias("len"))
    qs = F.array(*[F.lit(q) for q in _QQ_DECILES])
    src = (docs.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.percentile("len", qs).alias("src_q")))
    corp = docs.agg(F.percentile("len", qs).alias("corp_q"))
    fan = (src.crossJoin(F.broadcast(corp))
           .select("source", "n_docs",
                   F.posexplode(F.arrays_zip("src_q", "corp_q"))
                   .alias("i", "z")))
    decile = ((F.col("i") + 1).cast("int"))
    sq = F.round(F.col("z.src_q"), 6)
    cq = F.round(F.col("z.corp_q"), 6)
    return (fan.select("source", "n_docs", decile.alias("decile"),
                       sq.alias("source_quantile"),
                       cq.alias("corpus_quantile"),
                       F.round(sq / cq, 6).alias("qq_ratio"))
            .orderBy("source", "decile"))


ORACLES["source_length_qq"] = """
    WITH docs AS (
        SELECT source, CAST(n_chars AS DOUBLE) AS len FROM documents
    ), srcq AS (
        SELECT source, count(*) AS n_docs, round(quantile_cont(len, 0.1), 6) AS q1, round(quantile_cont(len, 0.2), 6) AS q2, round(quantile_cont(len, 0.3), 6) AS q3, round(quantile_cont(len, 0.4), 6) AS q4, round(quantile_cont(len, 0.5), 6) AS q5, round(quantile_cont(len, 0.6), 6) AS q6, round(quantile_cont(len, 0.7), 6) AS q7, round(quantile_cont(len, 0.8), 6) AS q8, round(quantile_cont(len, 0.9), 6) AS q9
        FROM docs GROUP BY 1
    ), corpq AS (
        SELECT round(quantile_cont(len, 0.1), 6) AS q1, round(quantile_cont(len, 0.2), 6) AS q2, round(quantile_cont(len, 0.3), 6) AS q3, round(quantile_cont(len, 0.4), 6) AS q4, round(quantile_cont(len, 0.5), 6) AS q5, round(quantile_cont(len, 0.6), 6) AS q6, round(quantile_cont(len, 0.7), 6) AS q7, round(quantile_cont(len, 0.8), 6) AS q8, round(quantile_cont(len, 0.9), 6) AS q9 FROM docs
    ), src_long AS (
        SELECT source, n_docs, CAST(d AS INTEGER) AS decile,
               CASE d WHEN 1 THEN q1 WHEN 2 THEN q2 WHEN 3 THEN q3 WHEN 4 THEN q4 WHEN 5 THEN q5 WHEN 6 THEN q6 WHEN 7 THEN q7 WHEN 8 THEN q8 WHEN 9 THEN q9 END AS source_quantile
        FROM srcq, generate_series(1, 9) g(d)
    ), corp_long AS (
        SELECT CAST(d AS INTEGER) AS decile,
               CASE d WHEN 1 THEN q1 WHEN 2 THEN q2 WHEN 3 THEN q3 WHEN 4 THEN q4 WHEN 5 THEN q5 WHEN 6 THEN q6 WHEN 7 THEN q7 WHEN 8 THEN q8 WHEN 9 THEN q9 END AS corpus_quantile
        FROM corpq, generate_series(1, 9) g(d)
    )
    SELECT s.source, s.n_docs, s.decile, s.source_quantile,
           c.corpus_quantile,
           round(s.source_quantile / c.corpus_quantile, 6) AS qq_ratio
    FROM src_long s JOIN corp_long c USING (decile)
    ORDER BY s.source, s.decile
"""
QUERIES["source_length_qq"] = source_length_qq


def doc_embedding_coverage(spark: SparkSession, sf_dir: str
                           ) -> DataFrame:
    """Document↔embedding linkage audit — the index-freshness edge the
    star-schema FK audit doesn't cover: per language, how many docs
    have an embedding row (the shared id space `hybrid_rrf_topk`
    depends on), and — as the NULL-lang group of the same full-outer
    aggregate — how many embeddings point at no document (orphans: a
    stale index serving deleted docs).  A retrieval stack with
    coverage < 1 silently excludes docs from dense search while BM25
    still finds them — ranking skew that looks like a relevance bug.

    One full-outer join on the id key + one grouped aggregate; both
    sides ship only (id, lang/label).  Exact integer counts."""
    docs = (load_table(spark, sf_dir, "documents")
            .select(F.col("doc_id").alias("d_id"), "lang"))
    vecs = (load_table(spark, sf_dir, "embeddings")
            .select(F.col("vec_id").alias("v_id")))
    j = docs.join(vecs, docs["d_id"] == vecs["v_id"], "full_outer")
    return (j.groupBy("lang")
            .agg(F.count("d_id").alias("n_docs"),
                 F.count("v_id").alias("n_vecs"),
                 F.count(F.when(F.col("d_id").isNotNull()
                                & F.col("v_id").isNotNull(), 1))
                 .alias("n_matched"))
            .select("lang", "n_docs", "n_vecs", "n_matched",
                    F.round(F.col("n_matched").cast("double")
                            / F.nullif(F.col("n_docs").cast("double"),
                                       F.lit(0.0)), 6)
                    .alias("doc_coverage"))
            .orderBy(F.col("lang").asc_nulls_first()))


ORACLES["doc_embedding_coverage"] = """
    SELECT d.lang,
           count(d.doc_id) AS n_docs,
           count(v.vec_id) AS n_vecs,
           count(CASE WHEN d.doc_id IS NOT NULL
                       AND v.vec_id IS NOT NULL THEN 1 END)
               AS n_matched,
           round(CAST(count(CASE WHEN d.doc_id IS NOT NULL
                                  AND v.vec_id IS NOT NULL THEN 1 END)
                      AS DOUBLE)
                 / nullif(CAST(count(d.doc_id) AS DOUBLE),
                          CAST(0 AS DOUBLE)), 6) AS doc_coverage
    FROM documents d
    FULL OUTER JOIN embeddings v ON d.doc_id = v.vec_id
    GROUP BY 1 ORDER BY 1 NULLS FIRST
"""
QUERIES["doc_embedding_coverage"] = doc_embedding_coverage


def event_interarrival_stats(spark: SparkSession, sf_dir: str
                             ) -> DataFrame:
    """Inter-arrival-time profile per event type: mean / std /
    coefficient-of-variation of the gaps between consecutive events —
    the queueing-theory traffic read: CV ≈ 1 is Poisson (memoryless)
    arrivals, CV ≪ 1 a scheduler/heartbeat (suspiciously regular
    machine traffic), CV ≫ 1 bursty/flash-crowd arrivals.  The
    verdict column applies the classic ±30% band.

    Gaps come from one per-type lag window on fractional-second
    epochs snapped to the 1e-3 BIGINT grid (milli-seconds), so the
    moment sums are exact integers and mean/std/CV are fixed-shape
    closed forms.  Scale: one window pass keyed by type + one
    aggregate — the series-monitor envelope."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gap_ms = ((F.col("ts").cast("double")
               - F.lag(F.col("ts").cast("double")).over(w)) * 1000)
    gaps = (ev.select("event_type",
                      F.round(gap_ms, 0).cast("long").alias("g"))
            .where(F.col("g").isNotNull()))
    a = (gaps.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n_gaps"),
              F.sum("g").alias("sg"),
              F.sum(F.col("g") * F.col("g")).alias("sgg")))
    n = F.col("n_gaps").cast("double")
    mean = F.col("sg").cast("double") / n
    var = F.greatest(F.col("sgg").cast("double") / n - mean * mean,
                     F.lit(0.0))
    cv = F.sqrt(var) / F.nullif(mean, F.lit(0.0))
    verdict = (F.when(cv < 0.7, F.lit("regular"))
               .when(cv > 1.3, F.lit("bursty"))
               .otherwise(F.lit("poisson_like")))
    return (a.select("event_type", "n_gaps",
                     F.round(mean / 1000, 6).alias("mean_gap_s"),
                     F.round(F.sqrt(var) / 1000, 6).alias("std_gap_s"),
                     F.round(cv, 6).alias("cv"),
                     verdict.alias("arrival_pattern"))
            .orderBy("event_type"))


ORACLES["event_interarrival_stats"] = """
    WITH gaps AS (
        SELECT event_type,
               CAST(round((epoch(ts) - lag(epoch(ts)) OVER
                   (PARTITION BY event_type ORDER BY ts, event_id))
                   * 1000, 0) AS BIGINT) AS g
        FROM events
    ), a AS (
        SELECT event_type, count(*) AS n_gaps,
               sum(g) AS sg, sum(g * g) AS sgg
        FROM gaps WHERE g IS NOT NULL GROUP BY 1
    )
    SELECT event_type, n_gaps,
           round(CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                 / 1000, 6) AS mean_gap_s,
           round(sqrt(greatest(CAST(sgg AS DOUBLE)
                               / CAST(n_gaps AS DOUBLE)
                               - (CAST(sg AS DOUBLE)
                                  / CAST(n_gaps AS DOUBLE))
                                 * (CAST(sg AS DOUBLE)
                                    / CAST(n_gaps AS DOUBLE)),
                               CAST(0 AS DOUBLE))) / 1000, 6)
               AS std_gap_s,
           round(sqrt(greatest(CAST(sgg AS DOUBLE)
                               / CAST(n_gaps AS DOUBLE)
                               - (CAST(sg AS DOUBLE)
                                  / CAST(n_gaps AS DOUBLE))
                                 * (CAST(sg AS DOUBLE)
                                    / CAST(n_gaps AS DOUBLE)),
                               CAST(0 AS DOUBLE)))
                 / nullif(CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE),
                          CAST(0 AS DOUBLE)), 6) AS cv,
           CASE WHEN sqrt(greatest(CAST(sgg AS DOUBLE)
                                   / CAST(n_gaps AS DOUBLE)
                                   - (CAST(sg AS DOUBLE)
                                      / CAST(n_gaps AS DOUBLE))
                                     * (CAST(sg AS DOUBLE)
                                        / CAST(n_gaps AS DOUBLE)),
                                   CAST(0 AS DOUBLE)))
                     / nullif(CAST(sg AS DOUBLE)
                              / CAST(n_gaps AS DOUBLE),
                              CAST(0 AS DOUBLE))
                     < CAST(0.7 AS DOUBLE) THEN 'regular'
                WHEN sqrt(greatest(CAST(sgg AS DOUBLE)
                                   / CAST(n_gaps AS DOUBLE)
                                   - (CAST(sg AS DOUBLE)
                                      / CAST(n_gaps AS DOUBLE))
                                     * (CAST(sg AS DOUBLE)
                                        / CAST(n_gaps AS DOUBLE)),
                                   CAST(0 AS DOUBLE)))
                     / nullif(CAST(sg AS DOUBLE)
                              / CAST(n_gaps AS DOUBLE),
                              CAST(0 AS DOUBLE))
                     > CAST(1.3 AS DOUBLE) THEN 'bursty'
                ELSE 'poisson_like' END AS arrival_pattern
    FROM a ORDER BY event_type
"""
QUERIES["event_interarrival_stats"] = event_interarrival_stats


def column_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-TABLE-style catalog statistics over ``orders`` — one row
    per column with row count, null count/fraction, exact NDV, numeric
    min/max (timestamps as epoch seconds), and mean string length: the
    stats block a cost-based optimizer (or a data contract) reads
    before planning joins and validating a new snapshot.  Complements
    `events_numeric_profile` (distribution SHAPE of one column) with
    the per-COLUMN cardinality/null census of a whole table.

    Exactness: counts and NDV are exact integers; min/max are single
    comparisons on stored doubles; avg string length divides an exact
    integer sum.  Scale: ONE aggregate pass — but with six exact
    DISTINCTs it expands the scan sixfold (Spark's multi-distinct
    EXPAND); at 100 TB swap the exact NDVs for `approx_count_distinct`
    (the `distinct_users_hll` path, ±5%) and the pass collapses to one
    partial-agg pipeline.  The stacked output is a constant 6 rows."""
    orders = load_table(spark, sf_dir, "orders")
    ep = lambda c: F.col(c).cast("double")  # noqa: E731
    agg = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[x for c in ["o_orderkey", "o_custkey", "o_orderstatus",
                      "o_totalprice", "o_orderdate", "o_orderpriority"]
          for x in (F.count(c).alias(f"nn_{c}"),
                    F.count_distinct(F.col(c)).alias(f"ndv_{c}"))],
        F.min(ep("o_orderkey")).alias("min_o_orderkey"),
        F.max(ep("o_orderkey")).alias("max_o_orderkey"),
        F.min(ep("o_custkey")).alias("min_o_custkey"),
        F.max(ep("o_custkey")).alias("max_o_custkey"),
        F.min(ep("o_totalprice")).alias("min_o_totalprice"),
        F.max(ep("o_totalprice")).alias("max_o_totalprice"),
        F.min(F.unix_timestamp("o_orderdate").cast("double"))
        .alias("min_o_orderdate"),
        F.max(F.unix_timestamp("o_orderdate").cast("double"))
        .alias("max_o_orderdate"),
        F.avg(F.length("o_orderstatus")).alias("len_o_orderstatus"),
        F.avg(F.length("o_orderpriority")).alias("len_o_orderpriority"))
    null_d = F.lit(None).cast("double")
    rows = [
        ("o_orderkey", "min_o_orderkey", "max_o_orderkey", None),
        ("o_custkey", "min_o_custkey", "max_o_custkey", None),
        ("o_orderstatus", None, None, "len_o_orderstatus"),
        ("o_totalprice", "min_o_totalprice", "max_o_totalprice", None),
        ("o_orderdate", "min_o_orderdate", "max_o_orderdate", None),
        ("o_orderpriority", None, None, "len_o_orderpriority"),
    ]
    stacked = agg.select(F.explode(F.array(*[
        F.struct(
            F.lit(c).alias("column_name"),
            F.col("n_rows").alias("n_rows"),
            (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_nulls"),
            F.round((F.col("n_rows") - F.col(f"nn_{c}"))
                    .cast("double") / F.col("n_rows").cast("double"),
                    6).alias("null_frac"),
            F.col(f"ndv_{c}").alias("ndv"),
            (F.col(mn) if mn else null_d).alias("min_val"),
            (F.col(mx) if mx else null_d).alias("max_val"),
            (F.round(F.col(ln), 6) if ln else null_d).alias("avg_len"),
        ) for c, mn, mx, ln in rows])).alias("s")).select("s.*")
    return stacked.orderBy("column_name")


ORACLES["column_stats_profile"] = """
    WITH a AS (
        SELECT count(*) AS n_rows,
               count(o_orderkey) AS nn1,
               count(DISTINCT o_orderkey) AS ndv1,
               count(o_custkey) AS nn2,
               count(DISTINCT o_custkey) AS ndv2,
               count(o_orderstatus) AS nn3,
               count(DISTINCT o_orderstatus) AS ndv3,
               count(o_totalprice) AS nn4,
               count(DISTINCT o_totalprice) AS ndv4,
               count(o_orderdate) AS nn5,
               count(DISTINCT o_orderdate) AS ndv5,
               count(o_orderpriority) AS nn6,
               count(DISTINCT o_orderpriority) AS ndv6,
               CAST(min(o_orderkey) AS DOUBLE) AS min1,
               CAST(max(o_orderkey) AS DOUBLE) AS max1,
               CAST(min(o_custkey) AS DOUBLE) AS min2,
               CAST(max(o_custkey) AS DOUBLE) AS max2,
               CAST(min(o_totalprice) AS DOUBLE) AS min4,
               CAST(max(o_totalprice) AS DOUBLE) AS max4,
               CAST(epoch(min(o_orderdate)) AS DOUBLE) AS min5,
               CAST(epoch(max(o_orderdate)) AS DOUBLE) AS max5,
               round(avg(CAST(length(o_orderstatus) AS DOUBLE)), 6)
                   AS len3,
               round(avg(CAST(length(o_orderpriority) AS DOUBLE)), 6)
                   AS len6
        FROM orders
    )
    SELECT column_name, n_rows, n_nulls,
           round(CAST(n_nulls AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
               AS null_frac,
           ndv, min_val, max_val, avg_len
    FROM (
        SELECT 'o_orderkey' AS column_name, n_rows,
               n_rows - nn1 AS n_nulls, ndv1 AS ndv, min1 AS min_val,
               max1 AS max_val, CAST(NULL AS DOUBLE) AS avg_len
        FROM a
        UNION ALL
        SELECT 'o_custkey', n_rows, n_rows - nn2, ndv2, min2, max2,
               CAST(NULL AS DOUBLE) FROM a
        UNION ALL
        SELECT 'o_orderstatus', n_rows, n_rows - nn3, ndv3,
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), len3 FROM a
        UNION ALL
        SELECT 'o_totalprice', n_rows, n_rows - nn4, ndv4, min4, max4,
               CAST(NULL AS DOUBLE) FROM a
        UNION ALL
        SELECT 'o_orderdate', n_rows, n_rows - nn5, ndv5, min5, max5,
               CAST(NULL AS DOUBLE) FROM a
        UNION ALL
        SELECT 'o_orderpriority', n_rows, n_rows - nn6, ndv6,
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), len6 FROM a
    ) ORDER BY column_name
"""
QUERIES["column_stats_profile"] = column_stats_profile


_FD_CANDIDATES = [
    # (fd_name, table, determinant, dependent) — a mix of FDs that must
    # HOLD (keys) and plausible-but-false ones whose violation counts
    # are the informative output
    ("orders.o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey",
     "o_orderpriority"),
    ("lineitem.l_orderkey->l_suppkey", "lineitem", "l_orderkey",
     "l_suppkey"),
    ("lineitem.l_partkey->l_extendedprice", "lineitem", "l_partkey",
     "l_extendedprice"),
    ("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey",
     "c_mktsegment"),
    ("part.p_brand->p_type", "part", "p_brand", "p_type"),
]


def functional_dependency_audit(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Functional-dependency census over six candidate X→Y rules — the
    schema-discovery profile (Huhtala et al. 1999's TANE output shape,
    restricted to a declared candidate list): for each rule, how many
    determinant values exist, how many VIOLATE the dependency (more
    than one distinct dependent), the violation rate, and the worst
    fan-out.  Key rules (o_orderkey→o_custkey) must come back with
    zero violations — a nonzero count there is a broken-ingest alarm;
    the deliberately-false rules quantify how far the table is from
    the dependency a naive consumer might assume.

    Each rule is one map-side-combinable (determinant → distinct
    dependent count) aggregate over a two-column projection; the six
    results union into a constant 6-row report.  Exact integers
    throughout; the one division is the final rate."""
    frames = []
    for fd_name, table, det, dep in _FD_CANDIDATES:
        t = load_table(spark, sf_dir, table)
        g = (t.groupBy(F.col(det))
             .agg(F.count_distinct(F.col(dep)).alias("ndep")))
        frames.append(g.agg(
            F.lit(fd_name).alias("fd"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum((F.col("ndep") > 1).cast("long"))
            .alias("n_violating_keys"),
            F.max("ndep").alias("max_fanout")))
    out = frames[0]
    for f2 in frames[1:]:
        out = out.unionAll(f2)
    return (out.withColumn(
        "violation_rate",
        F.round(F.col("n_violating_keys").cast("double")
                / F.col("n_keys").cast("double"), 6))
        .withColumn("holds", F.col("n_violating_keys") == 0)
        .select("fd", "n_keys", "n_violating_keys", "violation_rate",
                "max_fanout", "holds")
        .orderBy("fd"))


ORACLES["functional_dependency_audit"] = """
    WITH per AS (
""" + "\n        UNION ALL\n".join(f"""
        SELECT '{fd}' AS fd, count(*) AS n_keys,
               CAST(sum(CASE WHEN ndep > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_violating_keys,
               max(ndep) AS max_fanout
        FROM (SELECT {det}, count(DISTINCT {dep}) AS ndep
              FROM {table} GROUP BY 1)""" for fd, table, det, dep
                                 in _FD_CANDIDATES) + """
    )
    SELECT fd, n_keys, n_violating_keys,
           round(CAST(n_violating_keys AS DOUBLE)
                 / CAST(n_keys AS DOUBLE), 6) AS violation_rate,
           max_fanout, n_violating_keys = 0 AS holds
    FROM per ORDER BY fd
"""
QUERIES["functional_dependency_audit"] = functional_dependency_audit


_DUP_PAY_DAYS = 7     # suspicion window for repeated identical amounts


def duplicate_payment_audit(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Duplicate-transaction audit — the fraud/ingest-error screen
    every AP/billing pipeline runs: pairs of DISTINCT orders by the
    same customer for the IDENTICAL amount within 7 days of each
    other, with the day gap.  Exact-dedup (`dedup_exact`) finds
    byte-identical rows; this finds the double-submitted payment that
    got a fresh key and timestamp.

    The self-join keys on (customer, exact integer cents) — the only
    pairs that ever meet are same-amount same-customer, so the
    blocking is value-exact and the date window is a post-filter
    refine (the bin-and-refine discipline of
    `events_range_join_binned` with an equality bin).  Day math is
    integer DATE arithmetic.  At 100 TB: the join key is
    high-cardinality and self-skew-free (a customer repeating one
    amount is the anomaly being hunted)."""
    orders = load_table(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long")
        .alias("cents"),
        F.col("o_orderkey"), F.to_date("o_orderdate").alias("od"))
    a = keyed.select("o_custkey", "cents",
                     F.col("o_orderkey").alias("key_a"),
                     F.col("od").alias("od_a"))
    b = keyed.select("o_custkey", "cents",
                     F.col("o_orderkey").alias("key_b"),
                     F.col("od").alias("od_b"))
    return (a.join(b, ["o_custkey", "cents"])
            .where((F.col("key_a") < F.col("key_b"))
                   & (F.abs(F.datediff("od_b", "od_a"))
                      <= _DUP_PAY_DAYS))
            .select("o_custkey",
                    F.round(F.col("cents").cast("double") / 100, 2)
                    .alias("amount"),
                    "key_a", "key_b",
                    F.abs(F.datediff("od_b", "od_a")).cast("long")
                    .alias("day_gap"))
            .orderBy("o_custkey", "amount", "key_a", "key_b"))


ORACLES["duplicate_payment_audit"] = f"""
    WITH keyed AS (
        SELECT o_custkey,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
               o_orderkey, CAST(o_orderdate AS DATE) AS od
        FROM orders
    )
    SELECT a.o_custkey,
           round(CAST(a.cents AS DOUBLE) / 100, 2) AS amount,
           a.o_orderkey AS key_a, b.o_orderkey AS key_b,
           CAST(abs(date_diff('day', a.od, b.od)) AS BIGINT)
               AS day_gap
    FROM keyed a
    JOIN keyed b ON a.o_custkey = b.o_custkey
                AND a.cents = b.cents
                AND a.o_orderkey < b.o_orderkey
    WHERE abs(date_diff('day', a.od, b.od)) <= {_DUP_PAY_DAYS}
    ORDER BY a.o_custkey, amount, key_a, key_b
"""
QUERIES["duplicate_payment_audit"] = duplicate_payment_audit


_HILL_K = 200


def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail index over order values
    (Hill 1975) — the heavy-tail diagnostic behind capacity planning,
    fraud thresholds, and "is the mean even finite?" sanity checks:
    alpha_hat = 1 / mean(ln(x_(i) / x_(k+1))) over the top-k order
    statistics.  alpha ≤ 1 means the mean is tail-dominated (sample
    means never converge); alpha ≤ 2 means infinite variance — both
    verdicts the z-test family silently assumes away, which is why
    this audit sits next to `ab_mannwhitney_test` in the kit.

    Values are exact integer cents; each log-excess term ln(x_i) −
    ln(x_(k+1)) is snapped to the 1e-6 grid before the k-term mean
    (libm-drift discipline).  Ties at the threshold are harmless: the
    estimator depends on the selected VALUES only.

    Scale shape: the top-(k+1) selection is Spark's distributed
    TakeOrdered (per-partition heaps, no global sort, no global
    window); everything after runs on a constant k+1 rows."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    top = (orders.select(cents.alias("cents"))
           .orderBy(F.col("cents").desc())
           .limit(_HILL_K + 1))
    thr = top.agg(F.min("cents").alias("thr"))
    excess = F.round(F.log(F.col("cents").cast("double"))
                     - F.log(F.col("thr").cast("double")), 6)
    stats = (top.crossJoin(F.broadcast(thr))
             .where(F.col("cents") > F.col("thr"))
             .agg(F.count(F.lit(1)).alias("k_used"),
                  F.max(F.col("thr")).alias("thr_cents"),
                  F.avg(excess).alias("mean_log_excess")))
    alpha = F.lit(1.0) / F.nullif(F.col("mean_log_excess"), F.lit(0.0))
    return stats.select(
        "k_used",
        F.round(F.col("thr_cents").cast("double") / 100, 2)
        .alias("threshold"),
        F.round("mean_log_excess", 6).alias("mean_log_excess"),
        F.round(alpha, 6).alias("hill_alpha"),
        (alpha <= 2.0).alias("infinite_variance"))


QUERIES["hill_tail_index"] = hill_tail_index
ORACLES["hill_tail_index"] = f"""
    WITH top AS (
        SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders ORDER BY cents DESC LIMIT {_HILL_K + 1}
    ), thr AS (
        SELECT min(cents) AS thr FROM top
    ), stats AS (
        SELECT count(*) AS k_used,
               max(thr) AS thr_cents,
               avg(round(ln(CAST(cents AS DOUBLE))
                         - ln(CAST(thr AS DOUBLE)), 6))
                   AS mean_log_excess
        FROM top CROSS JOIN thr
        WHERE cents > thr
    )
    SELECT k_used,
           round(CAST(thr_cents AS DOUBLE) / 100, 2) AS threshold,
           round(mean_log_excess, 6) AS mean_log_excess,
           round(1.0 / nullif(mean_log_excess, 0), 6) AS hill_alpha,
           (1.0 / nullif(mean_log_excess, 0)) <= 2.0
               AS infinite_variance
    FROM stats
"""


def simpson_slope_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit of the account-balance → order-value
    relationship: the POOLED OLS slope of order total on customer
    balance versus the within-NATION slopes (Simpson 1951; the
    aggregation-bias check BI teams run before shipping a "richer
    customers spend more" narrative — a pooled trend can reverse
    inside every stratum when the strata differ in both mixes).
    One row per nation: n, the stratum slope, the pooled slope, and
    the reversal flag; a report where many strata flip sign is the
    paradox caught red-handed.

    Exactness: both variables become integer CENTS at the scan;
    Σx, Σy, Σxy, Σx² are exact 128-bit-safe sums (DECIMAL(38,0) on
    the Spark side, native HUGEINT aggregation on the oracle side),
    and the slope numerator/denominator n·Σxy − Σx·Σy are computed
    IN exact arithmetic before the single double division — no
    catastrophic cancellation of float sums, no engine drift.

    Scale: one orders→customer broadcast join + one 25-key aggregate
    + a 1-row pooled cross — dimension-sized output; the audit adds
    nothing beyond the scan it shares with every revenue rollup."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nationkey"),
        F.round(F.col("c_acctbal") * 100, 0).cast("decimal(38,0)")
        .alias("xc"))
    rows = (orders.join(F.broadcast(cust), "o_custkey")
            .select("nationkey", "xc",
                    F.round(F.col("o_totalprice") * 100, 0)
                    .cast("decimal(38,0)").alias("yc")))
    def agg(df, keys):
        return (df.groupBy(*keys) if keys else df.groupBy()) \
            .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
                 F.sum("xc").alias("sx"), F.sum("yc").alias("sy"),
                 F.sum(F.col("xc") * F.col("yc")).alias("sxy"),
                 F.sum(F.col("xc") * F.col("xc")).alias("sxx"))
    def slope(c):
        num = (c("n") * c("sxy") - c("sx") * c("sy")).cast("double")
        den = (c("n") * c("sxx") - c("sx") * c("sx")).cast("double")
        return F.round(num / F.nullif(den, F.lit(0.0)), 6)
    per = agg(rows, ["nationkey"]).withColumn("slope", slope(F.col))
    pooled = (agg(rows, [])
              .withColumn("pooled_slope", slope(F.col))
              .select("pooled_slope"))
    return (per.crossJoin(F.broadcast(pooled))
            .select("nationkey", F.col("n").cast("bigint").alias("n_orders"),
                    "slope", "pooled_slope",
                    ((F.col("slope") * F.col("pooled_slope")) < 0)
                    .alias("sign_reversed"))
            .orderBy("nationkey"))


QUERIES["simpson_slope_audit"] = simpson_slope_audit
ORACLES["simpson_slope_audit"] = """
    WITH rows_ AS (
        SELECT c.c_nationkey AS nationkey,
               CAST(round(c.c_acctbal * 100, 0) AS BIGINT) AS xc,
               CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS yc
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), per AS (
        SELECT nationkey,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(xc) AS HUGEINT) AS sx,
               CAST(sum(yc) AS HUGEINT) AS sy,
               CAST(sum(xc * yc) AS HUGEINT) AS sxy,
               CAST(sum(xc * xc) AS HUGEINT) AS sxx
        FROM rows_ GROUP BY nationkey
    ), pooled AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(xc) AS HUGEINT) AS sx,
               CAST(sum(yc) AS HUGEINT) AS sy,
               CAST(sum(xc * yc) AS HUGEINT) AS sxy,
               CAST(sum(xc * xc) AS HUGEINT) AS sxx
        FROM rows_
    ), sl AS (
        SELECT p.nationkey, CAST(p.n AS BIGINT) AS n_orders,
               round(CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
                     / nullif(CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE),
                              0), 6) AS slope,
               round(CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE)
                     / nullif(CAST(g.n * g.sxx - g.sx * g.sx AS DOUBLE),
                              0), 6) AS pooled_slope
        FROM per p CROSS JOIN pooled g
    )
    SELECT nationkey, n_orders, slope, pooled_slope,
           (slope * pooled_slope) < 0 AS sign_reversed
    FROM sl ORDER BY nationkey
"""


def source_length_emd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D EARTH-MOVER (Wasserstein-1) distance between each
    source's doc-length distribution and the pooled corpus reference
    — the integral-of-CDF-gap identity W1 = integral |F_s(v) - F(v)| dv
    that makes optimal transport CLOSED-FORM in one dimension
    (Vallender 1974), so the distribution-shift suite gains the one
    metric with real units (characters of mass-movement) next to the
    unitless PSI / KL / KS / QQ reads: "source s's lengths are, on
    average, this many characters of transport away from the
    corpus".

    Exactness: both CDFs are integer-count ratios evaluated on the
    MERGED support (every distinct n_chars in the corpus — the grid
    where either CDF steps); each segment contributes
    |F_s - F| x (next_v - v) snapped to the 1e-9 grid and
    BIGINT-summed, so the integral is order-proof.

    Scale: one scan to (source, n_chars) counts; the support grid is
    value-bounded (distinct lengths), the per-source CDF table is
    (sources x support)-sized — dimension-sized after the scan, and
    at 100 TB the support is binned first (the histogram the PSI
    query already builds)."""
    from pyspark.sql.window import Window
    docs = load_table(spark, sf_dir, "documents")
    sc = (docs.groupBy("source", "n_chars")
          .agg(F.count(F.lit(1)).alias("c")))
    support = sc.select("n_chars").distinct()
    srcn = sc.groupBy("source").agg(F.sum("c").alias("n_src"))
    grid = (srcn.crossJoin(support)
            .join(sc, ["source", "n_chars"], "left")
            .select("source", "n_chars", "n_src",
                    F.coalesce("c", F.lit(0)).alias("c")))
    tot = sc.agg(F.sum("c").alias("n_all"))
    pool = (sc.groupBy("n_chars").agg(F.sum("c").alias("cp")))
    wsrc = (Window.partitionBy("source").orderBy("n_chars")
            .rowsBetween(Window.unboundedPreceding, 0))
    wall = (Window.orderBy("n_chars")
            .rowsBetween(Window.unboundedPreceding, 0))
    pool_cdf = (pool.crossJoin(F.broadcast(tot))
                .select("n_chars",
                        (F.sum("cp").over(wall)
                         / F.col("n_all")).alias("f_all"),
                        F.lead("n_chars").over(
                            Window.orderBy("n_chars")).alias("nxt")))
    cdf = (grid
           .withColumn("f_src", F.sum("c").over(wsrc) / F.col("n_src"))
           .join(F.broadcast(pool_cdf), "n_chars"))
    seg = F.round(F.abs(F.col("f_src") - F.col("f_all"))
                  * (F.col("nxt") - F.col("n_chars")) * 1e9, 0) \
        .cast("bigint")
    return (cdf.where(F.col("nxt").isNotNull())
            .withColumn("su", seg)
            .groupBy("source")
            .agg(F.round(F.sum("su") / 1e9, 6).alias("emd_chars"))
            .orderBy("source"))


QUERIES["source_length_emd"] = source_length_emd
ORACLES["source_length_emd"] = """
    WITH sc AS (
        SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ), support AS (SELECT DISTINCT n_chars FROM sc),
    srcn AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n_src
        FROM sc GROUP BY 1
    ), grid AS (
        SELECT s.source, v.n_chars, s.n_src, coalesce(x.c, 0) AS c
        FROM srcn s CROSS JOIN support v
        LEFT JOIN sc x ON x.source = s.source
                      AND x.n_chars = v.n_chars
    ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_all FROM sc),
    pool AS (
        SELECT n_chars, CAST(sum(c) AS BIGINT) AS cp
        FROM sc GROUP BY 1
    ), pool_cdf AS (
        SELECT p.n_chars,
               sum(p.cp) OVER (ORDER BY p.n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   / CAST(t.n_all AS DOUBLE) AS f_all,
               lead(p.n_chars) OVER (ORDER BY p.n_chars) AS nxt
        FROM pool p CROSS JOIN tot t
    ), cdf AS (
        SELECT g.source, g.n_chars,
               sum(g.c) OVER (PARTITION BY g.source ORDER BY g.n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   / CAST(g.n_src AS DOUBLE) AS f_src,
               pc.f_all, pc.nxt
        FROM grid g JOIN pool_cdf pc ON pc.n_chars = g.n_chars
    )
    SELECT source,
           round(sum(CAST(round(abs(f_src - f_all) * (nxt - n_chars)
                                * 1e9, 0) AS BIGINT)) / 1e9, 6)
               AS emd_chars
    FROM cdf WHERE nxt IS NOT NULL
    GROUP BY source ORDER BY source
"""


_MAHA_TOP = 20


def mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 MAHALANOBIS outliers in the (quantity, extendedprice)
    plane of lineitem (Mahalanobis 1936) — the MULTIVARIATE upgrade
    of the per-column z/MAD audits: a row can be unremarkable on
    each axis yet wildly off the correlation structure (high price
    at low quantity), and d² = (v-mu)' Sigma^-1 (v-mu) is the scale-
    and correlation-aware distance that catches exactly that.  At
    dimension 2 the covariance inverse is a closed form, so the
    whole audit is two scans and an exact 2x2 solve — no linear-
    algebra library.

    Exactness: quantities and integer-cents prices aggregate into
    DECIMAL(38,0)/HUGEINT moments; the sample-covariance entries and
    the inverse are single divisions; d² snaps to the 1e-6 grid
    before the rank (ties by orderkey, linenumber).  d² of a
    bivariate normal is chi-square(2): the d² > 13.8 (=
    chi2_0.999(2)) count is reported per row as context.

    Scale: one moment aggregate + one broadcast-scalar re-scan with
    a TakeOrdered(20) — the numeric-profile cost family."""
    from pyspark.sql.window import Window
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        .alias("pc"))
    mom = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"), F.sum("pc").alias("sp"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q"))
        .alias("sqq"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("pc"))
        .alias("sqp"),
        F.sum(F.col("pc").cast("decimal(38,0)") * F.col("pc"))
        .alias("spp"))
    n = F.col("n").cast("double")
    mx = F.col("sq").cast("double") / n
    my = F.col("sp").cast("double") / n / 100
    vxx = ((F.col("sqq").cast("double") - n * mx * mx) / (n - 1))
    vxy = ((F.col("sqp").cast("double") / 100 - n * mx * my)
           / (n - 1))
    vyy = ((F.col("spp").cast("double") / 10000 - n * my * my)
           / (n - 1))
    stats = mom.select(mx.alias("mx"), my.alias("my"),
                       vxx.alias("vxx"), vxy.alias("vxy"),
                       vyy.alias("vyy"))
    j = li.crossJoin(F.broadcast(stats))
    dx = F.col("q") - F.col("mx")
    dy = F.col("pc") / 100 - F.col("my")
    det = F.col("vxx") * F.col("vyy") - F.col("vxy") * F.col("vxy")
    d2 = F.round((F.col("vyy") * dx * dx
                  - 2 * F.col("vxy") * dx * dy
                  + F.col("vxx") * dy * dy) / det, 6)
    w = Window.orderBy(F.col("d2").desc(), F.col("l_orderkey").asc(),
                       F.col("l_linenumber").asc())
    return (j.withColumn("d2", d2)
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= _MAHA_TOP)
            .select("rank", "l_orderkey", "l_linenumber", "q",
                    F.round(F.col("pc") / 100, 2).alias("price"),
                    "d2", (F.col("d2") > 13.8).alias("extreme_999"))
            .orderBy("rank"))


QUERIES["mahalanobis_outliers"] = mahalanobis_outliers
ORACLES["mahalanobis_outliers"] = f"""
    WITH li AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS BIGINT) AS q,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc
        FROM lineitem
    ), mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS BIGINT) AS sq,
               CAST(sum(pc) AS BIGINT) AS sp,
               CAST(sum(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sqq,
               CAST(sum(CAST(q AS HUGEINT) * pc) AS HUGEINT) AS sqp,
               CAST(sum(CAST(pc AS HUGEINT) * pc) AS HUGEINT) AS spp
        FROM li
    ), st AS (
        SELECT CAST(sq AS DOUBLE) / n AS mx,
               CAST(sp AS DOUBLE) / n / 100 AS my,
               (CAST(sqq AS DOUBLE)
                - n * (CAST(sq AS DOUBLE) / n)
                    * (CAST(sq AS DOUBLE) / n)) / (n - 1) AS vxx,
               (CAST(sqp AS DOUBLE) / 100
                - n * (CAST(sq AS DOUBLE) / n)
                    * (CAST(sp AS DOUBLE) / n / 100)) / (n - 1)
                   AS vxy,
               (CAST(spp AS DOUBLE) / 10000
                - n * (CAST(sp AS DOUBLE) / n / 100)
                    * (CAST(sp AS DOUBLE) / n / 100)) / (n - 1)
                   AS vyy
        FROM mom
    ), scored AS (
        SELECT l.l_orderkey, l.l_linenumber, l.q, l.pc,
               round((s.vyy * (l.q - s.mx) * (l.q - s.mx)
                      - 2 * s.vxy * (l.q - s.mx)
                        * (l.pc / 100 - s.my)
                      + s.vxx * (l.pc / 100 - s.my)
                        * (l.pc / 100 - s.my))
                     / (s.vxx * s.vyy - s.vxy * s.vxy), 6) AS d2
        FROM li l CROSS JOIN st s
    )
    SELECT CAST(row_number() OVER (ORDER BY d2 DESC, l_orderkey ASC,
                                   l_linenumber ASC) AS INT) AS rank,
           l_orderkey, l_linenumber, q,
           round(pc / 100, 2) AS price, d2,
           d2 > 13.8 AS extreme_999
    FROM scored
    QUALIFY rank <= {_MAHA_TOP}
    ORDER BY rank
"""


_GPD_U_FRAC = 0.9      # POT threshold quantile
_GPD_VAR_P = 0.999     # reported tail quantile


def evt_gpd_tail_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold GENERALIZED PARETO tail fit of order
    values by probability-weighted moments (Pickands 1975 for POT;
    Hosking & Wallis 1987 for the PWM estimators) — the
    extreme-value operator behind VaR-style questions a quantile
    table cannot answer ("how big is the 1-in-1000 order?") because
    it EXTRAPOLATES the tail shape instead of reading an in-sample
    order statistic: threshold u = the exact 0.9 quantile, excesses
    x = value - u, PWM b0 = mean(x), a1 = sum((n-i) x_(i)) / (n(n-1))
    over ascending excesses (the E[X(1-F)] probability-weighted
    moment), shape xi = 2 - b0/(b0 - 2 b1), scale
    beta = 2 b0 b1 / (b0 - 2 b1), and the implied
    VaR_0.999 = u + beta/xi ((N/n (1-p))^(-xi) - 1).

    Exactness: the interpolated 0.9 quantile of integer cents lies on
    a tenth of a cent ((N-1) * 0.9 has one decimal), so u is held as
    an integer count of tenth-cents, round(10 u) — the rounding
    removes each engine's own interpolation noise — and every excess
    is an exact integer in tenth-cents; b0 and b1 are pure integer
    ratios (the (n-i)-weighted sum is DECIMAL(38,0) — weights within
    tied values sum invariantly, so the row_number tiebreak cannot
    move b1); xi/beta are single divisions; the one extrapolation
    evaluates exp(-xi ln a) once on a 1-row frame.

    Scale: one quantile aggregate, one filtered rank window over the
    top decile only, one 1-row reduce."""
    from pyspark.sql.window import Window
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    vals = orders.select(cents.alias("yc"))
    thr = vals.agg(
        F.round(F.expr(f"percentile(yc, {_GPD_U_FRAC!r})") * 10, 0)
        .cast("long").alias("u_m"),        # tenth-cents
        F.count(F.lit(1)).alias("n_total"))
    exc = (vals.crossJoin(F.broadcast(thr))
           .select("u_m", "n_total",
                   (F.col("yc") * 10 - F.col("u_m")).alias("x"))
           .where(F.col("x") > 0))
    ranked = (exc.withColumn(
        "i", F.row_number().over(Window.orderBy(F.col("x").asc())))
        .withColumn("n_exc_tot", F.count(F.lit(1)).over(
            Window.partitionBy())))
    agg = (ranked.groupBy("u_m", "n_total")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("x").alias("sx"),
                F.sum((F.col("n_exc_tot") - F.col("i"))
                      .cast("decimal(38,0)")
                      * F.col("x")).alias("swx")))
    n = F.col("n").cast("double")
    b0 = F.col("sx").cast("double") / n / 1000
    b1 = F.col("swx").cast("double") / (n * (n - 1)) / 1000
    xi = F.lit(2.0) - b0 / (b0 - 2 * b1)
    beta = 2 * b0 * b1 / (b0 - 2 * b1)
    a_ = (F.col("n_total").cast("double") / n
          * F.lit(1.0 - _GPD_VAR_P))
    var_ = (F.col("u_m") / 1000
            + beta / xi * (F.exp(-xi * F.log(a_)) - 1))
    return agg.select(
        F.round(F.col("u_m") / 1000, 6).alias("threshold"),
        F.col("n_total"), F.col("n").alias("n_exceed"),
        F.round(b0, 6).alias("pwm_b0"),
        F.round(b1, 6).alias("pwm_b1"),
        F.round(xi, 6).alias("shape_xi"),
        F.round(beta, 6).alias("scale_beta"),
        F.round(var_, 6).alias("var_999"))


QUERIES["evt_gpd_tail_fit"] = evt_gpd_tail_fit
ORACLES["evt_gpd_tail_fit"] = f"""
    WITH vals AS (
        SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS yc
        FROM orders
    ), thr AS (
        SELECT CAST(round(quantile_cont(yc, {_GPD_U_FRAC!r}) * 10)
                    AS BIGINT) AS u_m,
               CAST(count(*) AS BIGINT) AS n_total
        FROM vals
    ), exc AS (
        SELECT t.u_m, t.n_total, 10 * v.yc - t.u_m AS x
        FROM vals v CROSS JOIN thr t WHERE 10 * v.yc > t.u_m
    ), ranked AS (
        SELECT *, row_number() OVER (ORDER BY x ASC) AS i,
               count(*) OVER () AS n_exc_tot
        FROM exc
    ), agg AS (
        SELECT u_m, n_total, CAST(count(*) AS BIGINT) AS n,
               sum(x) AS sx,
               CAST(sum(CAST(n_exc_tot - i AS HUGEINT)
                        * CAST(x AS HUGEINT)) AS HUGEINT) AS swx
        FROM ranked GROUP BY 1, 2
    )
    SELECT round(u_m / 1000, 6) AS threshold, n_total,
           n AS n_exceed,
           round(CAST(sx AS DOUBLE) / n / 1000, 6) AS pwm_b0,
           round(CAST(swx AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1)) / 1000, 6) AS pwm_b1,
           round(2.0 - (CAST(sx AS DOUBLE) / n / 1000)
                 / ((CAST(sx AS DOUBLE) / n / 1000)
                    - 2 * (CAST(swx AS DOUBLE)
                           / (CAST(n AS DOUBLE) * (n - 1)) / 1000)),
                 6) AS shape_xi,
           round(2 * (CAST(sx AS DOUBLE) / n / 1000)
                 * (CAST(swx AS DOUBLE)
                    / (CAST(n AS DOUBLE) * (n - 1)) / 1000)
                 / ((CAST(sx AS DOUBLE) / n / 1000)
                    - 2 * (CAST(swx AS DOUBLE)
                           / (CAST(n AS DOUBLE) * (n - 1)) / 1000)),
                 6) AS scale_beta,
           round(u_m / 1000
                 + (2 * (CAST(sx AS DOUBLE) / n / 1000)
                    * (CAST(swx AS DOUBLE)
                       / (CAST(n AS DOUBLE) * (n - 1)) / 1000)
                    / ((CAST(sx AS DOUBLE) / n / 1000)
                       - 2 * (CAST(swx AS DOUBLE)
                              / (CAST(n AS DOUBLE) * (n - 1))
                              / 1000)))
                   / (2.0 - (CAST(sx AS DOUBLE) / n / 1000)
                      / ((CAST(sx AS DOUBLE) / n / 1000)
                         - 2 * (CAST(swx AS DOUBLE)
                                / (CAST(n AS DOUBLE) * (n - 1))
                                / 1000)))
                   * (exp(-(2.0 - (CAST(sx AS DOUBLE) / n / 1000)
                            / ((CAST(sx AS DOUBLE) / n / 1000)
                               - 2 * (CAST(swx AS DOUBLE)
                                      / (CAST(n AS DOUBLE) * (n - 1))
                                      / 1000)))
                          * ln(CAST(n_total AS DOUBLE) / n
                               * {1.0 - _GPD_VAR_P!r})) - 1), 6)
               AS var_999
    FROM agg
"""


_GUM_EULER = 0.5772156649015329   # Euler-Mascheroni literal
_GUM_SQRT6_PI = 0.7796968012336293  # sqrt(6)/pi literal


def evt_gumbel_block_maxima(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """GUMBEL fit of WEEKLY MAXIMUM order values by block maxima
    (Fisher-Tippett 1928; Gumbel 1958) — the other classical EVT
    route next to the peaks-over-threshold `evt_gpd_tail_fit`:
    partition the order stream into ISO weeks, take each block's
    max, and moment-fit the Gumbel location/scale (beta =
    s·sqrt(6)/pi, mu = m - gamma·beta with the Euler-Mascheroni
    literal).  Reported return levels: the 52-block (one-year) and
    260-block (five-year) expected maxima mu - beta·ln(-ln(1-1/T))
    — the "biggest order we should ever see in a year" planning
    number, answered from a few hundred weekly maxima instead of
    the raw stream.

    Exactness: block maxima are exact integer cents (max of
    integers); mean and variance of the blocks come from
    BIGINT/128-bit sums; both constants are shared literals; the
    return levels evaluate ln(-ln(.)) once each on a 1-row frame.

    Scale: one scan to (week, max) — the only data-sized stage;
    the fit is a |blocks|-row reduction."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    wk = F.date_trunc("week", F.col("o_orderdate")).cast("date")
    blocks = (orders.select(wk.alias("week"), cents.alias("yc"))
              .groupBy("week").agg(F.max("yc").alias("mx")))
    a = blocks.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("mx").alias("s"),
        F.sum(F.col("mx").cast("decimal(38,0)") * F.col("mx"))
        .alias("ss"))
    n = F.col("n").cast("double")
    m = F.col("s").cast("double") / n / 100
    v = ((F.col("ss").cast("double") / 10000
          - n * m * m) / (n - 1))
    beta = F.sqrt(v) * F.lit(_GUM_SQRT6_PI)
    mu = m - F.lit(_GUM_EULER) * beta

    def rl(t):
        return mu - beta * F.log(-F.log(F.lit(1.0 - 1.0 / t)))

    return a.select(
        F.col("n").alias("n_blocks"),
        F.round(m, 6).alias("block_mean"),
        F.round(F.sqrt(v), 6).alias("block_sd"),
        F.round(mu, 6).alias("gumbel_mu"),
        F.round(beta, 6).alias("gumbel_beta"),
        F.round(rl(52.0), 6).alias("return_level_1y"),
        F.round(rl(260.0), 6).alias("return_level_5y"))


QUERIES["evt_gumbel_block_maxima"] = evt_gumbel_block_maxima
ORACLES["evt_gumbel_block_maxima"] = f"""
    WITH blocks AS (
        SELECT date_trunc('week', o_orderdate) AS week,
               CAST(max(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS mx
        FROM orders GROUP BY 1
    ), a AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(mx) AS BIGINT) AS s,
               CAST(sum(CAST(mx AS HUGEINT) * mx) AS HUGEINT) AS ss
        FROM blocks
    )
    SELECT n AS n_blocks,
           round(CAST(s AS DOUBLE) / n / 100, 6) AS block_mean,
           round(sqrt((CAST(ss AS DOUBLE) / 10000
                       - n * (CAST(s AS DOUBLE) / n / 100)
                         * (CAST(s AS DOUBLE) / n / 100)) / (n - 1)),
                 6) AS block_sd,
           round(CAST(s AS DOUBLE) / n / 100
                 - {_GUM_EULER} * sqrt((CAST(ss AS DOUBLE) / 10000
                       - n * (CAST(s AS DOUBLE) / n / 100)
                         * (CAST(s AS DOUBLE) / n / 100)) / (n - 1))
                   * {_GUM_SQRT6_PI}, 6) AS gumbel_mu,
           round(sqrt((CAST(ss AS DOUBLE) / 10000
                       - n * (CAST(s AS DOUBLE) / n / 100)
                         * (CAST(s AS DOUBLE) / n / 100)) / (n - 1))
                 * {_GUM_SQRT6_PI}, 6) AS gumbel_beta,
           round((CAST(s AS DOUBLE) / n / 100
                  - {_GUM_EULER} * sqrt((CAST(ss AS DOUBLE) / 10000
                        - n * (CAST(s AS DOUBLE) / n / 100)
                          * (CAST(s AS DOUBLE) / n / 100)) / (n - 1))
                    * {_GUM_SQRT6_PI})
                 - sqrt((CAST(ss AS DOUBLE) / 10000
                         - n * (CAST(s AS DOUBLE) / n / 100)
                           * (CAST(s AS DOUBLE) / n / 100)) / (n - 1))
                   * {_GUM_SQRT6_PI}
                   * ln(-ln(1.0 - 1.0 / 52.0)), 6)
               AS return_level_1y,
           round((CAST(s AS DOUBLE) / n / 100
                  - {_GUM_EULER} * sqrt((CAST(ss AS DOUBLE) / 10000
                        - n * (CAST(s AS DOUBLE) / n / 100)
                          * (CAST(s AS DOUBLE) / n / 100)) / (n - 1))
                    * {_GUM_SQRT6_PI})
                 - sqrt((CAST(ss AS DOUBLE) / 10000
                         - n * (CAST(s AS DOUBLE) / n / 100)
                           * (CAST(s AS DOUBLE) / n / 100)) / (n - 1))
                   * {_GUM_SQRT6_PI}
                   * ln(-ln(1.0 - 1.0 / 260.0)), 6)
               AS return_level_5y
    FROM a
"""


def hellinger_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger distance between each source's doc-length pmf and the
    pooled corpus pmf: H = sqrt(1 - BC), BC = sum_v sqrt(p_s(v)*p(v))
    on the merged n_chars support — the bounded [0,1] distribution-
    shift metric that completes the suite next to `source_length_emd`
    (real units, unbounded) and `events_ks_drift` (sup-norm): H is the
    one that upper-bounds total-variation (TV <= H*sqrt(2)) and feeds
    sampling-budget math directly.

    Exactness: both pmfs are integer-count ratios (the EMD counting
    discipline); BC is a sum of sqrt of rational products, rounded 6dp
    after the one grouped sum.

    Scale: one scan to (source, n_chars) counts; the per-source grid
    is dimension-sized (sources x distinct lengths); at 100 TB the
    support is histogram-binned first, like the PSI/EMD path."""
    docs = load_table(spark, sf_dir, "documents")
    sc = (docs.groupBy("source", "n_chars")
          .agg(F.count(F.lit(1)).alias("c")))
    srcn = sc.groupBy("source").agg(F.sum("c").alias("n_src"))
    pool = sc.groupBy("n_chars").agg(F.sum("c").alias("cp"))
    tot = sc.agg(F.sum("c").alias("n_all"))
    j = (sc.join(F.broadcast(srcn), "source")
         .join(F.broadcast(pool), "n_chars")
         .crossJoin(F.broadcast(tot)))
    bc_term = F.sqrt((F.col("c").cast("double") / F.col("n_src"))
                     * (F.col("cp").cast("double") / F.col("n_all")))
    a = (j.groupBy("source", "n_src")
         .agg(F.sum(bc_term).alias("bc")))
    h = F.sqrt(F.greatest(F.lit(0.0), 1.0 - F.col("bc")))
    return (a.select("source", F.col("n_src").alias("n_docs"),
                     F.round("bc", 6).alias("bhattacharyya_coef"),
                     F.round(h, 6).alias("hellinger"),
                     F.round(h * F.sqrt(F.lit(2.0)), 6).alias("tv_upper"))
            .orderBy("source"))


QUERIES["hellinger_source_drift"] = hellinger_source_drift
ORACLES["hellinger_source_drift"] = """
    WITH sc AS (
        SELECT source, n_chars, count(*) AS c
        FROM documents GROUP BY 1, 2
    ), srcn AS (
        SELECT source, sum(c) AS n_src FROM sc GROUP BY 1
    ), pool AS (
        SELECT n_chars, sum(c) AS cp FROM sc GROUP BY 1
    ), tot AS (SELECT sum(c) AS n_all FROM sc),
    a AS (
        SELECT sc.source, any_value(n_src) AS n_src,
               sum(sqrt((CAST(c AS DOUBLE) / n_src)
                        * (CAST(cp AS DOUBLE) / n_all))) AS bc
        FROM sc JOIN srcn USING (source)
                JOIN pool USING (n_chars)
                CROSS JOIN tot
        GROUP BY 1
    )
    SELECT source, CAST(n_src AS BIGINT) AS n_docs,
           round(bc, 6) AS bhattacharyya_coef,
           round(sqrt(greatest(0.0, 1.0 - bc)), 6) AS hellinger,
           round(sqrt(greatest(0.0, 1.0 - bc)) * sqrt(2.0), 6) AS tv_upper
    FROM a ORDER BY source
"""


# ---------------------------------------------------------------------------
# Round-9: DKW distribution-free ECDF confidence band.

_DKW_ALPHA_TERM = 3.6888794541139363  # ln(2/0.05), 95% two-sided band


def events_dkw_ecdf_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dvoretzky-Kiefer-Wolfowitz 95% confidence band on each event
    type's value ECDF, evaluated at the nine exact deciles: ε =
    sqrt(ln(2/α) / (2n)) bounds sup|F̂ − F| with NO distributional
    assumption (Massart's tight constant), so [p − ε, p + ε] at the
    p-th empirical decile is a guaranteed envelope for the true CDF.
    The sample-size-aware companion of `events_ks_drift`: KS says
    whether two windows differ; this band says how much of that
    movement mere sampling noise can explain at each type's own n —
    the calibration a drift-alert threshold should come from.

    Exactness: deciles are the type-7 interpolated percentile (Spark
    `percentile` == DuckDB `quantile_cont` on identical doubles, the
    established pairing, rounded 4dp); ε is one sqrt of a ratio of
    exact integers, rounded 6dp.

    Scale: one per-type exact-percentile aggregate (per-group sort,
    fine at type cardinality; the `approx_percentile` twin is the
    documented 100 TB swap) — the MAD audit's envelope."""
    ev = load_table(spark, sf_dir, "events")
    grid = [i / 10.0 for i in range(1, 10)]
    per = (ev.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_events"),
                *[F.round(F.percentile("value", F.lit(p)), 4)
                  .alias(f"d{i}") for i, p in enumerate(grid, 1)]))
    eps = F.sqrt(F.lit(_DKW_ALPHA_TERM)
                 / (2.0 * F.col("n_events").cast("double")))
    melted = per.select(
        "event_type", "n_events",
        F.round(eps, 6).alias("dkw_eps"),
        F.explode(F.array(*[
            F.struct(F.lit(p).alias("p"),
                     F.col(f"d{i}").alias("value_at_p"))
            for i, p in enumerate(grid, 1)])).alias("pt"))
    return (melted.select(
        "event_type", "n_events",
        F.col("pt.p").alias("p"),
        F.col("pt.value_at_p").alias("value_at_p"),
        "dkw_eps",
        F.round(F.greatest(F.col("pt.p") - F.col("dkw_eps"),
                           F.lit(0.0)), 6).alias("cdf_lower"),
        F.round(F.least(F.col("pt.p") + F.col("dkw_eps"),
                        F.lit(1.0)), 6).alias("cdf_upper"))
        .orderBy("event_type", "p"))


QUERIES["events_dkw_ecdf_band"] = events_dkw_ecdf_band
ORACLES["events_dkw_ecdf_band"] = f"""
    WITH per AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
               {", ".join(
                   f"round(quantile_cont(value, {i / 10.0}), 4) AS d{i}"
                   for i in range(1, 10))}
        FROM events GROUP BY event_type
    ), melted AS (
        SELECT event_type, n_events,
               round(sqrt({_DKW_ALPHA_TERM}
                          / (2.0 * CAST(n_events AS DOUBLE))), 6)
                   AS dkw_eps,
               CAST(unnest([{", ".join(f"{i / 10.0}"
                                       for i in range(1, 10))}])
                    AS DOUBLE) AS p,
               unnest([{", ".join(f"d{i}" for i in range(1, 10))}])
                   AS value_at_p
        FROM per
    )
    SELECT event_type, n_events, p, value_at_p, dkw_eps,
           round(greatest(p - dkw_eps, 0.0), 6) AS cdf_lower,
           round(least(p + dkw_eps, 1.0), 6) AS cdf_upper
    FROM melted ORDER BY event_type, p
"""
