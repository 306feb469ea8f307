"""Association mining and privacy-audit operators (north-star
extension; the reference R service, TimeSeriesFunctions_GPL_0.5.1.R,
has neither surface — these extend SURVEY §2B alongside the
product-analytics and data-quality layers):

- ``basket_part_pairs_lift``: market-basket part-pair association over
  ``lineitem`` (support / lift, Agrawal & Srikant 1994) — the
  co-occurrence statistic behind bundling, recommendation, and
  "customers also bought".
- ``k_anonymity_audit``: per-quasi-identifier-cell size audit
  (Sweeney 2002) over ``customer`` — the release-gate question "does
  any published cell isolate fewer than k people?".
- ``dp_noisy_counts``: a Laplace-MECHANISM demo (Dwork et al. 2006)
  with DETERMINISTIC hash-seeded noise — inverse-CDF over the
  engine's reproducible md5-uniform, so the output is replayable and
  exactly SQL-oracled but NOT private (the seed is derived from the
  public group key and is emitted as a ``deterministic_seed`` column
  so no consumer mistakes it for a DP release; production swaps the
  seeded uniform for a CSPRNG draw — the mechanism, sensitivity, and
  ε accounting are identical).

All pure Catalyst, all exactly DuckDB-oracled.

100 TB shape:

- basket pairs: the self-join keys on the basket id, so fan-out is
  bounded by basket-size² (≤13 lines/order in this schema, and any
  real retail schema caps it); part marginals are a parts-bounded
  BROADCAST; the final ranking is TakeOrdered (each partition
  surrenders 50 rows).  Never an all-pairs join across baskets.
- k-anonymity: one grouped count over the quasi-identifier tuple —
  a single partial-aggregating shuffle, output bounded by the QI
  domain, not the population.
- DP release: noise is computed per GROUP (5 rows here) after the one
  counting pass; the noise expression is constant work per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import md5_int
from ..sources import load_table

_MIN_SUPPORT = 2      # minimum co-occurrence count for a reported pair
_TOP_PAIRS = 50
_K_ANON = 5           # cells smaller than this violate the release gate
_BAL_BUCKET = 1000.0  # acctbal quasi-identifier coarsening width
_DP_EPS = 1.0         # Laplace scale b = sensitivity/ε = 1/ε for counts
_DP_MOD = 1_000_003   # prime modulus for the md5-uniform


def basket_part_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 part pairs by lift: support(a,b)·N / (support(a)·
    support(b)), over distinct (order, part) baskets, min co-occurrence
    2.  Lift, support, and the ranking all derive from INTEGER counts
    (exact in both engines; the one division is a ratio of exact
    integers, correctly rounded identically), so the 6dp grid is
    drift-free."""
    # r9 (guide §2.4): the distinct basket relation feeds the count,
    # the margins and every join side — one cut so the fact distinct
    # runs once per query
    baskets = (load_table(spark, sf_dir, "lineitem")
               .select("l_orderkey", "l_partkey").distinct()
               .localCheckpoint())
    n_baskets = baskets.agg(
        F.count_distinct("l_orderkey").alias("n_baskets"))
    marg = baskets.groupBy(F.col("l_partkey").alias("pk")) \
                  .agg(F.count(F.lit(1)).alias("n_pk"))
    a = baskets.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = baskets.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pairs = (a.join(b, "l_orderkey")
             .where(F.col("pa") < F.col("pb"))
             .groupBy("pa", "pb")
             .agg(F.count(F.lit(1)).alias("n_ab"))
             .where(F.col("n_ab") >= _MIN_SUPPORT))
    enriched = (pairs
                .join(F.broadcast(marg.select(F.col("pk").alias("pa"),
                                              F.col("n_pk").alias("n_a"))),
                      "pa")
                .join(F.broadcast(marg.select(F.col("pk").alias("pb"),
                                              F.col("n_pk").alias("n_b"))),
                      "pb")
                .crossJoin(F.broadcast(n_baskets))
                .withColumn("lift",
                            F.round((F.col("n_ab") * F.col("n_baskets"))
                                    / (F.col("n_a") * F.col("n_b")), 6)))
    order = [F.col("lift").desc(), F.col("n_ab").desc(),
             F.col("pa").asc(), F.col("pb").asc()]
    top = enriched.orderBy(*order).limit(_TOP_PAIRS)
    w = Window.orderBy(*order)
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "pa", "pb", "n_ab", "n_a", "n_b", "lift"))


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-size audit over the quasi-identifier tuple (nation, market
    segment, account-balance bucket): every cell with its population and
    the k<5 violation flag — the report a privacy review reads before
    any per-cell statistic ships."""
    cust = load_table(spark, sf_dir, "customer")
    return (cust.groupBy(
        "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / _BAL_BUCKET).alias("bal_bucket"))
        .agg(F.count(F.lit(1)).alias("cell_size"))
        .withColumn("violates_k", F.col("cell_size") < _K_ANON)
        .orderBy("c_nationkey", "c_mktsegment", "bal_bucket"))


def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-MECHANISM-shape demo over per-event-type counts — NOT a
    private release.  Noise = −b·sgn(u−½)·ln(1−2|u−½|) with u drawn
    from the reproducible md5-uniform over the PUBLIC group key, so
    anyone holding the key can invert the noise exactly: ε here labels
    the mechanism's scale (b = 1/ε for count sensitivity 1), it is not
    a privacy guarantee (ADVICE r3).  The ``deterministic_seed`` column
    makes that explicit in the output itself — a consumer seeing the
    seed next to the noisy count cannot mistake this for a DP release.
    Production swaps the seeded uniform for a CSPRNG draw (then drops
    the seed column); mechanism, sensitivity, and ε accounting are
    identical, which is exactly what makes the demo SQL-oracled.

    u stays strictly inside (0,1) so the log is finite; the 6dp
    rounding absorbs cross-libm ln drift (the weighted-sampling
    precedent)."""
    ev = load_table(spark, sf_dir, "events")
    counts = (ev.groupBy("event_type")
              .agg(F.count(F.lit(1)).alias("n_events")))
    h = md5_int("event_type")
    # (k+1)/(m+2) with m an odd prime: u stays strictly inside (0, 1)
    # AND can never be exactly 0.5 (2k+2 = m+2 needs k = m/2, not an
    # integer), so signum(u-1/2) never returns 0 — a 0.5 draw would
    # release ZERO noise, i.e. the true count (review finding)
    seed = F.pmod(h, F.lit(_DP_MOD))
    u = (seed + 1) / F.lit(float(_DP_MOD + 2))
    noise = (-F.lit(1.0 / _DP_EPS) * F.signum(u - 0.5)
             * F.log(1.0 - 2.0 * F.abs(u - 0.5)))
    return (counts
            .withColumn("epsilon", F.lit(_DP_EPS))
            .withColumn("deterministic_seed", seed)
            .withColumn("noisy_count",
                        F.round(F.col("n_events") + noise, 6))
            .orderBy("event_type"))


QUERIES = {
    "basket_part_pairs_lift": basket_part_pairs_lift,
    "k_anonymity_audit": k_anonymity_audit,
    "dp_noisy_counts": dp_noisy_counts,
}

ORACLES = {
    "basket_part_pairs_lift": f"""
        WITH baskets AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), nb AS (
            SELECT count(DISTINCT l_orderkey) AS n_baskets FROM baskets
        ), marg AS (
            SELECT l_partkey AS pk, count(*) AS n_pk
            FROM baskets GROUP BY 1
        ), pairs AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                   count(*) AS n_ab
            FROM baskets a JOIN baskets b USING (l_orderkey)
            WHERE a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= {_MIN_SUPPORT}
        ), enriched AS (
            SELECT pa, pb, n_ab, ma.n_pk AS n_a, mb.n_pk AS n_b,
                   round((n_ab * n_baskets)
                         / CAST(ma.n_pk * mb.n_pk AS DOUBLE), 6) AS lift
            FROM pairs
            JOIN marg ma ON ma.pk = pa
            JOIN marg mb ON mb.pk = pb
            CROSS JOIN nb
        ), ranked AS (
            SELECT *, row_number() OVER (ORDER BY lift DESC, n_ab DESC,
                                         pa ASC, pb ASC) AS rank
            FROM enriched
        )
        SELECT rank, pa, pb, n_ab, n_a, n_b, lift
        FROM ranked WHERE rank <= {_TOP_PAIRS}
    """,
    "k_anonymity_audit": f"""
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / {_BAL_BUCKET}) AS BIGINT)
                   AS bal_bucket,
               count(*) AS cell_size,
               count(*) < {_K_ANON} AS violates_k
        FROM customer
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """,
    "dp_noisy_counts": f"""
        WITH counts AS (
            SELECT event_type, count(*) AS n_events
            FROM events GROUP BY 1
        ), seeded AS (
            SELECT event_type, n_events,
                   ('0x' || substr(md5(event_type), 1, 8))::BIGINT
                     % {_DP_MOD} AS deterministic_seed
            FROM counts
        ), uni AS (
            SELECT *, (deterministic_seed + 1)
                       / CAST({_DP_MOD + 2} AS DOUBLE) AS u
            FROM seeded
        )
        SELECT event_type, n_events,
               CAST({_DP_EPS} AS DOUBLE) AS epsilon,
               deterministic_seed,
               round(n_events
                     + (-1.0 / {_DP_EPS}) * sign(u - 0.5)
                       * ln(1.0 - 2.0 * abs(u - 0.5)), 6)
                   AS noisy_count
        FROM uni ORDER BY event_type
    """,
}


# ---------------------------------------------------------------------------
# Round-4 continuation: l-diversity — the sensitive-attribute
# complement of the k-anonymity cell-size audit.

_L_DIV = 3
_SPEND_BUCKET_CENTS = 500_000    # $5000 sensitive-spend buckets


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007): k-anonymity
    alone fails the HOMOGENEITY attack — a cell of 50 customers is
    still a disclosure if all 50 share the sensitive value.  Per
    quasi-identifier cell (nation, market segment): the count of
    DISTINCT sensitive values (total-spend bucket, an attribute an
    adversary cannot look up but would learn) and the l < 3 violation
    flag — the release gate that runs AFTER `k_anonymity_audit`
    passes.

    Exactness: spend is exact integer cents; buckets are integer
    floors; l is a distinct count.  Scale: one customer-keyed join
    aggregate for spend (orders ships only the key + cents), one QI
    aggregate with distinct — the k-anonymity envelope plus a
    same-key pre-aggregate."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    spend = (orders.groupBy("o_custkey")
             .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0)
                        .cast("long")).alias("spend_cents")))
    joined = (cust.join(spend,
                        cust["c_custkey"] == spend["o_custkey"], "left")
              .select("c_nationkey", "c_mktsegment",
                      F.floor(F.coalesce("spend_cents", F.lit(0))
                              / _SPEND_BUCKET_CENTS)
                      .alias("spend_bucket")))
    return (joined.groupBy("c_nationkey", "c_mktsegment")
            .agg(F.count(F.lit(1)).alias("cell_size"),
                 F.count_distinct("spend_bucket").alias("l_distinct"))
            .withColumn("violates_l", F.col("l_distinct") < _L_DIV)
            .orderBy("c_nationkey", "c_mktsegment"))


ORACLES["l_diversity_audit"] = f"""
    WITH spend AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS spend_cents
        FROM orders GROUP BY 1
    ), joined AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(coalesce(spend_cents, 0)
                          / {_SPEND_BUCKET_CENTS}) AS BIGINT)
                   AS spend_bucket
        FROM customer LEFT JOIN spend ON c_custkey = o_custkey
    )
    SELECT c_nationkey, c_mktsegment, count(*) AS cell_size,
           count(DISTINCT spend_bucket) AS l_distinct,
           count(DISTINCT spend_bucket) < {_L_DIV} AS violates_l
    FROM joined GROUP BY 1, 2 ORDER BY 1, 2
"""
QUERIES["l_diversity_audit"] = l_diversity_audit


_T_CLOSE = 0.2        # Li et al.'s canonical release threshold


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    third rung of the privacy-release ladder after `k_anonymity_audit`
    (cells big enough?) and `l_diversity_audit` (values varied
    enough?): l-diversity still leaks when a cell's sensitive
    DISTRIBUTION is skewed versus the corpus (everyone in the cell is
    "varied" but all in the top spend decile).  Per QI cell (nation,
    market segment): the Earth Mover's Distance between the cell's
    spend-bucket distribution and the GLOBAL one, using the ordered-
    domain EMD closed form EMD = (1/(m-1))·Σ_i |CDF_cell(i) −
    CDF_global(i)|, flagged against the canonical t = 0.2.

    Exactness: the CDF difference at each bucket is kept as the exact
    INTEGER numerator cum_cell·n_global − cum_global·n_cell (both
    engines sum BIGINTs; magnitude ≤ n² ≈ 2e8 at sf0.1, BIGINT-safe
    through sf100); the one double op is the final normalization by
    n_cell·n_global·(m−1).  Scale: two grouped counts, a broadcast of
    the (m)-row global distribution onto the (#cells)-row frame —
    every side except the raw scan is bounded by #cells × m, corpus-
    size-independent."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    spend = (orders.groupBy("o_custkey")
             .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0)
                        .cast("long")).alias("spend_cents")))
    # r9 (guide §2.4): cut the customer-grain bucket frame — the global
    # histogram, the cell sizes and the per-cell buckets each reference
    # it, so the uncut plan re-ran the orders spend aggregate + customer
    # join 3 times (and glob's tot branch doubled one of them)
    rows = (cust.join(spend,
                      cust["c_custkey"] == spend["o_custkey"], "left")
            .select("c_nationkey", "c_mktsegment",
                    F.floor(F.coalesce("spend_cents", F.lit(0))
                            / _SPEND_BUCKET_CENTS).alias("spend_bucket"))
            .localCheckpoint())
    wg = Window.orderBy("spend_bucket")
    glob = (rows.groupBy("spend_bucket")
            .agg(F.count(F.lit(1)).alias("gcnt"))
            .withColumn("cumg", F.sum("gcnt").over(
                wg.rowsBetween(Window.unboundedPreceding, 0))))
    tot = glob.agg(F.sum("gcnt").alias("gn"),
                   F.count(F.lit(1)).alias("m"))
    cells = (rows.groupBy("c_nationkey", "c_mktsegment")
             .agg(F.count(F.lit(1)).alias("cell_size")))
    cellb = (rows.groupBy("c_nationkey", "c_mktsegment", "spend_bucket")
             .agg(F.count(F.lit(1)).alias("ccnt")))
    dom = (cells.crossJoin(F.broadcast(
        glob.select("spend_bucket", "cumg")))
        .join(cellb, ["c_nationkey", "c_mktsegment", "spend_bucket"],
              "left")
        .withColumn("ccnt", F.coalesce("ccnt", F.lit(0))))
    wc = (Window.partitionBy("c_nationkey", "c_mktsegment")
          .orderBy("spend_bucket")
          .rowsBetween(Window.unboundedPreceding, 0))
    diffs = (dom.withColumn("cumc", F.sum("ccnt").over(wc))
             .crossJoin(F.broadcast(tot))
             .select("c_nationkey", "c_mktsegment", "cell_size", "gn",
                     "m",
                     F.abs(F.col("cumc") * F.col("gn")
                           - F.col("cumg") * F.col("cell_size"))
                     .alias("num")))
    emd = (F.sum("num").cast("double")
           / F.nullif(F.max("cell_size").cast("double")
                      * F.max("gn").cast("double")
                      * (F.max("m") - F.lit(1)).cast("double"),
                      F.lit(0.0)))
    return (diffs.groupBy("c_nationkey", "c_mktsegment")
            .agg(F.max("cell_size").alias("cell_size"),
                 F.round(F.coalesce(emd, F.lit(0.0)), 6).alias("emd_t"))
            .withColumn("violates_t",
                        F.col("emd_t") > F.lit(float(_T_CLOSE)))
            .orderBy("c_nationkey", "c_mktsegment"))


ORACLES["t_closeness_audit"] = f"""
    WITH spend AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS spend_cents
        FROM orders GROUP BY 1
    ), rws AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(coalesce(spend_cents, 0)
                          / {_SPEND_BUCKET_CENTS}) AS BIGINT)
                   AS spend_bucket
        FROM customer LEFT JOIN spend ON c_custkey = o_custkey
    ), gdist AS (
        SELECT spend_bucket, count(*) AS gcnt,
               sum(count(*)) OVER (ORDER BY spend_bucket
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cumg
        FROM rws GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(gcnt) AS BIGINT) AS gn,
               CAST(count(*) AS BIGINT) AS m
        FROM gdist
    ), cells AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS cell_size
        FROM rws GROUP BY 1, 2
    ), cellb AS (
        SELECT c_nationkey, c_mktsegment, spend_bucket,
               count(*) AS ccnt
        FROM rws GROUP BY 1, 2, 3
    ), dom AS (
        SELECT c.c_nationkey, c.c_mktsegment, c.cell_size,
               g.spend_bucket, CAST(g.cumg AS BIGINT) AS cumg,
               coalesce(cb.ccnt, 0) AS ccnt
        FROM cells c
        CROSS JOIN gdist g
        LEFT JOIN cellb cb
          ON cb.c_nationkey = c.c_nationkey
         AND cb.c_mktsegment = c.c_mktsegment
         AND cb.spend_bucket = g.spend_bucket
    ), diffs AS (
        SELECT d.c_nationkey, d.c_mktsegment, d.cell_size, t.gn, t.m,
               abs(CAST(sum(d.ccnt) OVER (
                            PARTITION BY d.c_nationkey, d.c_mktsegment
                            ORDER BY d.spend_bucket
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) * t.gn
                   - d.cumg * d.cell_size) AS num
        FROM dom d CROSS JOIN tot t
    )
    SELECT c_nationkey, c_mktsegment, max(cell_size) AS cell_size,
           round(coalesce(
               CAST(sum(num) AS DOUBLE)
               / nullif(CAST(max(cell_size) AS DOUBLE)
                        * CAST(max(gn) AS DOUBLE)
                        * CAST(max(m) - 1 AS DOUBLE),
                        CAST(0 AS DOUBLE)),
               CAST(0 AS DOUBLE)), 6) AS emd_t,
           round(coalesce(
               CAST(sum(num) AS DOUBLE)
               / nullif(CAST(max(cell_size) AS DOUBLE)
                        * CAST(max(gn) AS DOUBLE)
                        * CAST(max(m) - 1 AS DOUBLE),
                        CAST(0 AS DOUBLE)),
               CAST(0 AS DOUBLE)), 6) > CAST({_T_CLOSE} AS DOUBLE)
               AS violates_t
    FROM diffs GROUP BY 1, 2 ORDER BY 1, 2
"""
QUERIES["t_closeness_audit"] = t_closeness_audit


_TRI_MIN_SUPPORT = 2
_TOP_TRIPLES = 20


def basket_part_triples_apriori(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Level-3 APRIORI frequent itemsets (Agrawal & Srikant 1994):
    candidate part TRIPLES are generated only from frequent PAIRS
    that share a prefix item (the apriori / anti-monotonicity
    principle — every subset of a frequent set is frequent, so the
    candidate join prunes before any counting), then counted against
    the baskets and scored by 3-way lift support(abc)·N² /
    (n_a·n_b·n_c).  Top-20 by lift — the level-wise mining step up
    from `basket_part_pairs_lift`, demonstrating the candidate-
    pruning discipline that keeps frequent-itemset mining from
    going 2^items.

    Exactness: all supports are exact integer basket counts; the
    lift is one division of exact integer products (N² and the
    margin product fit comfortably in doubles' exact-integer range
    here; at open scale compute in DECIMAL).

    Scale: the candidate join is frequent-pair × frequent-pair on
    the shared first item (the textbook apriori join — never
    baskets³); verification joins candidates to the basket relation
    three times on (basket, item) keys."""
    # r9 (guide §2.4): the distinct basket relation feeds the count,
    # the margins and every join side — one cut so the fact distinct
    # runs once per query
    baskets = (load_table(spark, sf_dir, "lineitem")
               .select("l_orderkey", "l_partkey").distinct()
               .localCheckpoint())
    n_baskets = baskets.agg(
        F.count_distinct("l_orderkey").alias("n_baskets"))
    marg = baskets.groupBy(F.col("l_partkey").alias("pk")) \
                  .agg(F.count(F.lit(1)).alias("n_pk"))
    a = baskets.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = baskets.select("l_orderkey", F.col("l_partkey").alias("pb"))
    fpairs = (a.join(b, "l_orderkey")
              .where(F.col("pa") < F.col("pb"))
              .groupBy("pa", "pb")
              .agg(F.count(F.lit(1)).alias("n_ab"))
              .where(F.col("n_ab") >= _TRI_MIN_SUPPORT)
              .localCheckpoint(eager=True))
    # apriori join: (x,y) + (x,z) with y<z -> candidate (x,y,z),
    # kept only if (y,z) is also frequent
    cand = (fpairs.select(F.col("pa").alias("x"),
                          F.col("pb").alias("y"))
            .join(fpairs.select(F.col("pa").alias("x"),
                                F.col("pb").alias("z")), "x")
            .where(F.col("y") < F.col("z"))
            .join(fpairs.select(F.col("pa").alias("y"),
                                F.col("pb").alias("z")), ["y", "z"],
                  "left_semi"))
    bx = baskets.select("l_orderkey", F.col("l_partkey").alias("x"))
    by = baskets.select("l_orderkey", F.col("l_partkey").alias("y"))
    bz = baskets.select("l_orderkey", F.col("l_partkey").alias("z"))
    counted = (cand.join(bx, "x").join(by, ["l_orderkey", "y"])
               .join(bz, ["l_orderkey", "z"])
               .groupBy("x", "y", "z")
               .agg(F.count(F.lit(1)).alias("n_xyz"))
               .where(F.col("n_xyz") >= _TRI_MIN_SUPPORT))
    e = (counted
         .join(F.broadcast(marg.select(F.col("pk").alias("x"),
                                       F.col("n_pk").alias("n_x"))),
               "x")
         .join(F.broadcast(marg.select(F.col("pk").alias("y"),
                                       F.col("n_pk").alias("n_y"))),
               "y")
         .join(F.broadcast(marg.select(F.col("pk").alias("z"),
                                       F.col("n_pk").alias("n_z"))),
               "z")
         .crossJoin(F.broadcast(n_baskets))
         .withColumn("lift", F.round(
             F.col("n_xyz") * F.col("n_baskets").cast("double")
             * F.col("n_baskets")
             / (F.col("n_x").cast("double") * F.col("n_y")
                * F.col("n_z")), 6)))
    order = [F.col("lift").desc(), F.col("n_xyz").desc(),
             F.col("x").asc(), F.col("y").asc(), F.col("z").asc()]
    top = e.orderBy(*order).limit(_TOP_TRIPLES)
    w = Window.orderBy(*order)
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "x", "y", "z", "n_xyz", "lift"))


QUERIES["basket_part_triples_apriori"] = basket_part_triples_apriori
ORACLES["basket_part_triples_apriori"] = f"""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), nb AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
        FROM baskets
    ), marg AS (
        SELECT l_partkey AS pk, CAST(count(*) AS BIGINT) AS n_pk
        FROM baskets GROUP BY 1
    ), fpairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM baskets a JOIN baskets b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {_TRI_MIN_SUPPORT}
    ), cand AS (
        SELECT p1.pa AS x, p1.pb AS y, p2.pb AS z
        FROM fpairs p1
        JOIN fpairs p2 ON p2.pa = p1.pa AND p2.pb > p1.pb
        WHERE EXISTS (SELECT 1 FROM fpairs f
                      WHERE f.pa = p1.pb AND f.pb = p2.pb)
    ), counted AS (
        SELECT c.x, c.y, c.z, CAST(count(*) AS BIGINT) AS n_xyz
        FROM cand c
        JOIN baskets bx ON bx.l_partkey = c.x
        JOIN baskets by_ ON by_.l_orderkey = bx.l_orderkey
                        AND by_.l_partkey = c.y
        JOIN baskets bz ON bz.l_orderkey = bx.l_orderkey
                       AND bz.l_partkey = c.z
        GROUP BY 1, 2, 3
        HAVING count(*) >= {_TRI_MIN_SUPPORT}
    )
    SELECT CAST(row_number() OVER (
               ORDER BY round(c.n_xyz * CAST(n.n_baskets AS DOUBLE)
                              * n.n_baskets
                              / (CAST(mx.n_pk AS DOUBLE) * my.n_pk
                                 * mz.n_pk), 6) DESC,
                        c.n_xyz DESC, c.x ASC, c.y ASC, c.z ASC)
               AS INT) AS rank,
           c.x, c.y, c.z, c.n_xyz,
           round(c.n_xyz * CAST(n.n_baskets AS DOUBLE) * n.n_baskets
                 / (CAST(mx.n_pk AS DOUBLE) * my.n_pk * mz.n_pk), 6)
               AS lift
    FROM counted c
    JOIN marg mx ON mx.pk = c.x
    JOIN marg my ON my.pk = c.y
    JOIN marg mz ON mz.pk = c.z
    CROSS JOIN nb n
    QUALIFY rank <= {_TOP_TRIPLES}
    ORDER BY rank
"""
