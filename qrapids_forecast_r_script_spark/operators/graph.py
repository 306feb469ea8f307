"""Graph analytics over the near-duplicate pair graph (north-star
extension — the reference has no graph surface at all).

``doc_graph_pagerank``: PageRank (Brin & Page 1998) on the symmetric
MinHash-LSH pair graph, with the damping-and-dangling formulation:

    r'(v) = (1-d)/N + d * ( Σ_{u→v} r(u)/outdeg(u)  +  dangling_mass/N )

Two UNROLLED power iterations with end-of-iteration 1e-6 rounding — the
same engine-resync trick that makes ``ivf_kmeans_topk`` and the trained
PQ codebook exactly SQL-oracle-able: float sums differ between engines
only in the last ulp (association order), and rounding nine orders
above the drift resynchronizes both sides after every iteration.  All
scalar constants are written as DOUBLE on both engines (DuckDB parses
bare ``0.85`` as DECIMAL, whose exact ``1 - 0.85`` differs from binary
``0.15000000000000002`` — the repricing-multiplier divergence class).

Scale shape per iteration: one grouped sum keyed by dst (the classic
PageRank shuffle), a broadcast scalar for the dangling mass, and a
left join back to the node list — no driver collect except the bounded
node count.  Iteration count is the knob at scale; the unrolled-2 form
here is the oracle-able correctness anchor, and each additional
iteration is the same plan repeated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..sources import load_table
from .dedup import _BANDS_UNION, _SIG_CTE, _sym_edges, minhash_lsh_pairs

_PR_ITERS = 2
_PR_D = 0.85          # damping (written as CAST(0.85 AS DOUBLE) in SQL)
_PR_TOP = 20
_PR_DP = 6            # end-of-iteration rounding (engine resync)


def doc_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``_PR_TOP`` documents by PageRank over the near-dup graph —
    the "most central duplicate hub" ranking a corpus auditor uses to
    find boilerplate families worth manual review."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sym = _sym_edges(pairs)
    # r9 (guide §2.4): deg and the per-iteration ranks are each
    # referenced 2-3× per power iteration — uncut, the final plan held
    # ~3^k copies of the full chain (14 parquet scans).  Node-grain
    # localCheckpoint cuts keep the plan linear in the iteration count.
    deg = (sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
           .localCheckpoint())
    n = docs.count()                      # bounded driver scalar
    d = _PR_D
    ranks = docs.select("doc_id", (F.lit(1.0) / F.lit(float(n))).alias("r"))
    for _ in range(_PR_ITERS):
        contrib = (sym.join(deg, "src")
                   .join(ranks.withColumnRenamed("doc_id", "src"), "src")
                   .groupBy(F.col("dst").alias("doc_id"))
                   .agg(F.sum(F.col("r") / F.col("deg")).alias("c")))
        dangling = (ranks.join(deg.withColumnRenamed("src", "doc_id"),
                               "doc_id", "left_anti")
                    .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("dm")))
        ranks = (docs
                 .join(contrib, "doc_id", "left")
                 .crossJoin(F.broadcast(dangling))
                 .select("doc_id",
                         F.round((F.lit(1.0) - F.lit(d)) / F.lit(float(n))
                                 + F.lit(d)
                                 * (F.coalesce(F.col("c"), F.lit(0.0))
                                    + F.col("dm") / F.lit(float(n))),
                                 _PR_DP).alias("r"))
                 .localCheckpoint())
    top = (ranks.orderBy(F.col("r").desc(), F.col("doc_id").asc())
           .limit(_PR_TOP))
    w = Window.orderBy(F.col("r").desc(), F.col("doc_id").asc())
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id", F.col("r").alias("pagerank")))


def _pagerank_oracle_sql() -> str:
    prev = "r0"
    iter_ctes = []
    for i in range(_PR_ITERS):
        cur = f"r{i + 1}"
        iter_ctes.append(f"""
        {cur} AS (
            SELECT nd.doc_id,
                   round((CAST(1 AS DOUBLE) - CAST({_PR_D} AS DOUBLE))
                             / nn.n
                         + CAST({_PR_D} AS DOUBLE)
                           * (coalesce(c.c, CAST(0 AS DOUBLE))
                              + dang.dm / nn.n), {_PR_DP}) AS r
            FROM nodes nd
            CROSS JOIN nn
            CROSS JOIN (SELECT coalesce(sum(p.r), CAST(0 AS DOUBLE)) AS dm
                        FROM {prev} p LEFT JOIN deg ON p.doc_id = deg.src
                        WHERE deg.src IS NULL) dang
            LEFT JOIN (SELECT s.dst AS doc_id, sum(p.r / d.deg) AS c
                       FROM sym s
                       JOIN deg d ON s.src = d.src
                       JOIN {prev} p ON s.src = p.doc_id
                       GROUP BY 1) c ON nd.doc_id = c.doc_id
        )""")
        prev = cur
    return _SIG_CTE + f"""
        , bands AS ({_BANDS_UNION}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                        AND a.doc_id < b.doc_id
        ),
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs
        ),
        deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
        nodes AS (SELECT doc_id FROM documents),
        nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        r0 AS (
            SELECT nd.doc_id, CAST(1 AS DOUBLE) / nn.n AS r
            FROM nodes nd CROSS JOIN nn
        ),{",".join(iter_ctes)}
        SELECT rank, doc_id, r AS pagerank FROM (
            SELECT *, row_number() OVER (ORDER BY r DESC, doc_id ASC)
                       AS rank
            FROM {prev})
        WHERE rank <= {_PR_TOP}
    """


_TRI_TOP = 20


_LPA_ITERS = 2


def _lpa_labels(spark: SparkSession, sf_dir: str):
    """Shared LPA chain: (labels, pairs, sym) after ``_LPA_ITERS`` synchronous
    rounds — the label assignment `doc_graph_communities` summarizes and
    `doc_graph_modularity` scores."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sym = _sym_edges(pairs)
    labels = docs.select("doc_id", F.col("doc_id").alias("lbl"))
    for _ in range(_LPA_ITERS):
        nb = (sym.join(labels.select(F.col("doc_id").alias("dst"),
                                     F.col("lbl").alias("nlbl")), "dst")
              .groupBy("src", "nlbl")
              .agg(F.count(F.lit(1)).alias("c")))
        w = (Window.partitionBy("src")
             .orderBy(F.col("c").desc(), F.col("nlbl").asc()))
        pick = (nb.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select(F.col("src").alias("doc_id"),
                        F.col("nlbl").alias("new_lbl")))
        labels = (labels.join(pick, "doc_id", "left")
                  .select("doc_id",
                          F.coalesce("new_lbl", "lbl").alias("lbl"))
                  .localCheckpoint())
    return labels, pairs, sym


def doc_graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the near-dup pair graph: every node starts as its
    own label; each round it adopts the MOST FREQUENT label among its
    neighbors (ties → smallest label; isolated nodes keep their own).
    Two unrolled rounds, then the per-community summary — size and
    smallest member — ordered largest-first.

    Where `dedup_clusters` answers "which docs are transitively
    connected" (connected components), LPA answers "which docs sit in a
    DENSELY connected region": a chain of borderline matches stays
    split into local communities instead of collapsing into one giant
    cluster — the view an auditor wants when CC returns a
    mega-component.

    Everything is INTEGER arithmetic (labels, counts), so the unrolled
    oracle is exact with no rounding discipline at all.  Per round:
    one neighbor-label count keyed by (node, label) and one argmax
    window per node — fan-out bounded by degree (band-bounded on this
    graph); the same plan repeats at scale until labels stabilize."""
    labels, _, _ = _lpa_labels(spark, sf_dir)
    return (labels.groupBy(F.col("lbl").alias("community"))
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.min("doc_id").alias("first_member"))
            .orderBy(F.col("n_members").desc(), F.col("community").asc()))


def _communities_oracle_sql() -> str:
    prev = "l0"
    ctes = []
    for i in range(_LPA_ITERS):
        cur = f"l{i + 1}"
        ctes.append(f"""
        {cur} AS (
            SELECT p.doc_id, coalesce(pk.new_lbl, p.lbl) AS lbl
            FROM {prev} p
            LEFT JOIN (
                SELECT src AS doc_id, nlbl AS new_lbl FROM (
                    SELECT s.src, q.lbl AS nlbl, count(*) AS c,
                           row_number() OVER (PARTITION BY s.src
                               ORDER BY count(*) DESC, q.lbl ASC) AS rn
                    FROM sym s JOIN {prev} q ON s.dst = q.doc_id
                    GROUP BY s.src, q.lbl)
                WHERE rn = 1) pk ON p.doc_id = pk.doc_id
        )""")
        prev = cur
    return _SIG_CTE + f"""
        , bands AS ({_BANDS_UNION}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                        AND a.doc_id < b.doc_id
        ),
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs
        ),
        l0 AS (SELECT doc_id, doc_id AS lbl FROM documents),{",".join(ctes)}
        SELECT lbl AS community, count(*) AS n_members,
               min(doc_id) AS first_member
        FROM {prev}
        GROUP BY lbl
        ORDER BY n_members DESC, community ASC
    """


def doc_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle count and local clustering coefficient
    over the near-dup pair graph — the second classic graph audit
    besides PageRank: a high-coefficient node sits inside a dense
    boilerplate CLIQUE (template families), while a high-degree
    low-coefficient node is a hub stitching unrelated near-dup groups
    (often a scraping artifact).  Top-20 by (triangles, doc_id).

    Triangle enumeration is the standard ordered edge-join (a<b<c):
    pairs ⋈ pairs on the middle node, semi-joined against the closing
    edge — never the O(n³) cube; fan-out is bounded by per-node degree
    (the same band-bounded degree the LSH graph guarantees).  Each
    triangle credits its three corners via one explode; coefficient =
    2T / (deg·(deg−1)) on integer inputs, exactly reproducible."""
    pairs = (minhash_lsh_pairs(spark, sf_dir)
             .select("doc_a", "doc_b").localCheckpoint())
    p1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    p2 = pairs.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    p3 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tris = (p1.join(p2, "b")
            .join(p3, ["a", "c"], "left_semi")
            .select("a", "b", "c"))
    corners = (tris.select(F.col("a").alias("doc_id"))
               .unionAll(tris.select(F.col("b").alias("doc_id")))
               .unionAll(tris.select(F.col("c").alias("doc_id"))))
    tcount = corners.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_triangles"))
    sym = (pairs.select(F.col("doc_a").alias("doc_id"))
           .unionAll(pairs.select(F.col("doc_b").alias("doc_id"))))
    deg = sym.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    coeff = F.when(
        F.col("degree") >= 2,
        F.round(2.0 * F.col("n_triangles")
                / (F.col("degree") * (F.col("degree") - 1)), 6))
    scored = (deg.join(tcount, "doc_id", "left")
              .select("doc_id", "degree",
                      F.coalesce("n_triangles", F.lit(0))
                      .alias("n_triangles"))
              .withColumn("clustering_coeff", coeff))
    top = (scored.orderBy(F.col("n_triangles").desc(),
                          F.col("doc_id").asc()).limit(_TRI_TOP))
    w = Window.orderBy(F.col("n_triangles").desc(), F.col("doc_id").asc())
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id", "degree", "n_triangles",
                    "clustering_coeff"))


def _triangles_oracle_sql() -> str:
    return _SIG_CTE + f"""
        , bands AS ({_BANDS_UNION}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                        AND a.doc_id < b.doc_id
        ),
        tris AS (
            SELECT p1.doc_a AS a, p1.doc_b AS b, p2.doc_b AS c
            FROM pairs p1
            JOIN pairs p2 ON p1.doc_b = p2.doc_a
            WHERE EXISTS (SELECT 1 FROM pairs p3
                          WHERE p3.doc_a = p1.doc_a
                            AND p3.doc_b = p2.doc_b)
        ),
        corners AS (
            SELECT a AS doc_id FROM tris
            UNION ALL SELECT b FROM tris
            UNION ALL SELECT c FROM tris
        ),
        tcount AS (
            SELECT doc_id, count(*) AS n_triangles FROM corners GROUP BY 1
        ),
        deg AS (
            SELECT doc_id, count(*) AS degree FROM (
                SELECT doc_a AS doc_id FROM pairs
                UNION ALL SELECT doc_b FROM pairs) GROUP BY 1
        ),
        scored AS (
            SELECT d.doc_id, d.degree,
                   coalesce(t.n_triangles, 0) AS n_triangles,
                   CASE WHEN d.degree >= 2 THEN
                       round(2.0 * coalesce(t.n_triangles, 0)
                             / (d.degree * (d.degree - 1)), 6)
                   END AS clustering_coeff
            FROM deg d LEFT JOIN tcount t USING (doc_id)
        )
        SELECT rank, doc_id, degree, n_triangles, clustering_coeff FROM (
            SELECT *, row_number() OVER (ORDER BY n_triangles DESC,
                       doc_id ASC) AS rank
            FROM scored)
        WHERE rank <= {_TRI_TOP}
    """


QUERIES = {"doc_graph_pagerank": doc_graph_pagerank,
           "doc_graph_communities": doc_graph_communities,
           "doc_graph_triangles": doc_graph_triangles}
ORACLES = {"doc_graph_pagerank": _pagerank_oracle_sql(),
           "doc_graph_communities": _communities_oracle_sql(),
           "doc_graph_triangles": _triangles_oracle_sql()}


# ---------------------------------------------------------------------------
# Round-4 addition: Adamic-Adar link prediction over the near-dup graph.

_LP_TOP = 20


def doc_graph_link_prediction(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Top-``_LP_TOP`` two-hop document pairs by Adamic-Adar score
    (Adamic & Adar 2003): AA(u,w) = Σ_{v ∈ Γ(u)∩Γ(w)} 1/ln(deg(v)),
    with an ``is_edge`` flag separating the two readings: for NON-edges
    it is link prediction — "these docs share rare duplicate-neighbors,
    so they are probably near-dups the LSH bands missed" (band-count
    false negatives, or borderline pairs worth an exact Jaccard pass);
    for existing edges it is the edge-support audit (a high-AA edge is
    corroborated by the rest of the graph, a zero-common-neighbor edge
    rests on a single band collision).  Both pair sets in one wedge
    enumeration — on a clique-heavy dup graph (small SFs) the non-edge
    set can be legitimately empty, and the flag keeps the operator
    informative instead of vacuous there.

    Determinism: 1/ln(deg) snaps to BIGINT micro-units per wedge
    (deg ≥ 2 for any common neighbor, so ln > 0), the pair score is an
    exact integer sum, and ranking ties break (doc_a, doc_b) ascending.

    Scale shape: the wedge join (edges ⋈ edges on the shared midpoint)
    is the triangle-enumeration fan-out — bounded by Σ deg(v)², the
    same budget `doc_graph_triangles` pays; existing edges drop via one
    anti-join; the result is a TakeOrdered top-k, never a full sort."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sym = _sym_edges(pairs)
    deg = (sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
           # only wedge MIDPOINTS consume 1/ln(deg) and a midpoint has
           # ≥ 2 edges by construction; filtering first keeps ln(1)=0
           # out of the ANSI division for degree-1 leaves
           .where(F.col("deg") >= 2))
    inv6 = F.round(F.lit(1e6) / F.log(F.col("deg").cast("double")), 0) \
        .cast("bigint")
    mid = (sym.select(F.col("src").alias("u"), F.col("dst").alias("v"))
           .join(sym.select(F.col("src").alias("v"),
                            F.col("dst").alias("w")), "v")
           .where(F.col("u") < F.col("w"))
           .join(deg.select(F.col("src").alias("v"), inv6.alias("inv6")),
                 "v"))
    edge_flag = (pairs.select(F.col("doc_a").alias("u"),
                              F.col("doc_b").alias("w"),
                              F.lit(True).alias("is_edge")))
    cand = (mid.groupBy("u", "w")
            .agg(F.count(F.lit(1)).alias("n_common"),
                 F.sum("inv6").alias("s6"))
            .join(edge_flag, ["u", "w"], "left")
            .na.fill({"is_edge": False}))
    return (cand
            .orderBy(F.desc("s6"), F.asc("u"), F.asc("w"))
            .limit(_LP_TOP)
            .select(F.col("u").alias("doc_a"), F.col("w").alias("doc_b"),
                    "n_common", "is_edge",
                    F.round(F.col("s6") / 1e6, 6).alias("adamic_adar")))


def _link_prediction_oracle_sql() -> str:
    return _SIG_CTE + f"""
        , bands AS ({_BANDS_UNION}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                        AND a.doc_id < b.doc_id
        ),
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs
        ),
        deg AS (
            SELECT src, count(*) AS deg,
                   CAST(round(1e6 / ln(CAST(count(*) AS DOUBLE)))
                        AS BIGINT) AS inv6
            FROM sym GROUP BY src HAVING count(*) >= 2
        ),
        wedges AS (
            SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
            FROM sym e1 JOIN sym e2 ON e1.dst = e2.src
            WHERE e1.src < e2.dst
        ),
        cand AS (
            SELECT wd.u, wd.w, count(*) AS n_common, sum(d.inv6) AS s6
            FROM wedges wd JOIN deg d ON d.src = wd.v
            GROUP BY wd.u, wd.w
        )
        SELECT c.u AS doc_a, c.w AS doc_b,
               CAST(c.n_common AS BIGINT) AS n_common,
               p.doc_a IS NOT NULL AS is_edge,
               round(c.s6 / 1e6, 6) AS adamic_adar
        FROM cand c LEFT JOIN pairs p ON p.doc_a = c.u AND p.doc_b = c.w
        ORDER BY c.s6 DESC, c.u ASC, c.w ASC LIMIT {_LP_TOP}
    """


QUERIES["doc_graph_link_prediction"] = doc_graph_link_prediction
ORACLES["doc_graph_link_prediction"] = _link_prediction_oracle_sql()


# ---------------------------------------------------------------------------
# Round-4 continuation: k-core decomposition — the degeneracy peel that
# separates densely inter-duplicated boilerplate CORES (every member
# near-dups >= k others even after weakly-attached docs are removed)
# from chain/star periphery that PageRank and raw degree conflate.

_KC_K = 2         # core threshold: survive while >= k alive neighbors
_KC_ROUNDS = 3    # unrolled peel rounds (each = one degree pass)


def doc_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peel (Seidman 1983 / the Matula-Beck degeneracy order)
    over the MinHash near-dup pair graph: repeatedly delete nodes with
    fewer than ``_KC_K`` ALIVE neighbors; after ``_KC_ROUNDS`` passes, the
    survivors approximate the k-core (the fixpoint's superset — each
    extra round is the same plan repeated, and the unrolled-3 form is
    the oracle-able correctness anchor, the PageRank/LPA convention).
    Emits per node: initial degree, the round it was peeled (0 = still
    in core), and the in-core flag — the "dense duplication family vs
    weakly-attached tail" split a dedup auditor prioritizes by.

    All-integer (degrees and round tags), so the unrolled oracle is
    exact with no rounding discipline.  Scale shape per round: one
    alive-semi-joined degree aggregate keyed by src (the PageRank
    shuffle) + one anti-join — no driver collect anywhere; the alive
    set shrinks monotonically, so later rounds cost less."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sym = _sym_edges(pairs)
    deg0 = (sym.groupBy(F.col("src").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("deg0")))
    alive = deg0.select("doc_id")
    peeled = None
    for r in range(1, _KC_ROUNDS + 1):
        e = (sym
             .join(alive.withColumnRenamed("doc_id", "src"), "src")
             .join(alive.withColumnRenamed("doc_id", "dst"), "dst"))
        deg = (e.groupBy(F.col("src").alias("doc_id"))
               .agg(F.count(F.lit(1)).alias("deg")))
        dead = (alive.join(deg, "doc_id", "left")
                .where(F.coalesce(F.col("deg"), F.lit(0)) < _KC_K)
                .select("doc_id", F.lit(r).alias("peel_round")))
        peeled = dead if peeled is None else peeled.unionByName(dead)
        alive = (alive.join(dead.select("doc_id"), "doc_id", "left_anti")
                 .localCheckpoint())
    out = (deg0.join(peeled, "doc_id", "left")
           .select("doc_id", "deg0",
                   F.coalesce("peel_round", F.lit(0)).alias("peel_round")))
    return (out.withColumn("in_core", F.col("peel_round") == 0)
            .orderBy("doc_id"))


def _kcore_oracle_sql() -> str:
    prev = "a0"
    round_ctes = []
    dead_names = []
    for r in range(1, _KC_ROUNDS + 1):
        cur = f"a{r}"
        round_ctes.append(f"""
        d{r} AS (
            SELECT s.src AS doc_id, count(*) AS deg
            FROM sym s
            JOIN {prev} x ON s.src = x.doc_id
            JOIN {prev} y ON s.dst = y.doc_id
            GROUP BY 1
        ),
        dead{r} AS (
            SELECT a.doc_id, {r} AS peel_round
            FROM {prev} a LEFT JOIN d{r} ON a.doc_id = d{r}.doc_id
            WHERE coalesce(d{r}.deg, 0) < {_KC_K}
        ),
        {cur} AS (
            SELECT doc_id FROM {prev}
            WHERE doc_id NOT IN (SELECT doc_id FROM dead{r})
        )""")
        dead_names.append(f"SELECT * FROM dead{r}")
        prev = cur
    return _SIG_CTE + f"""
        , bands AS ({_BANDS_UNION}),
        prs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                        AND a.doc_id < b.doc_id
        ),
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM prs
            UNION ALL SELECT doc_b, doc_a FROM prs
        ),
        deg0 AS (SELECT src AS doc_id, count(*) AS deg0 FROM sym GROUP BY 1),
        a0 AS (SELECT doc_id FROM deg0),{",".join(round_ctes)},
        peeled AS ({" UNION ALL ".join(dead_names)})
        SELECT n.doc_id, n.deg0,
               coalesce(p.peel_round, 0) AS peel_round,
               coalesce(p.peel_round, 0) = 0 AS in_core
        FROM deg0 n LEFT JOIN peeled p USING (doc_id)
        ORDER BY n.doc_id
    """


QUERIES["doc_graph_kcore"] = doc_graph_kcore
ORACLES["doc_graph_kcore"] = _kcore_oracle_sql()


# ---------------------------------------------------------------------------
# Round-4 continuation: eigenvector centrality (the PageRank sibling).

_EC_ITERS = 2
_EC_TOP = 20
_EC_U = 1_000_000     # score micro-grid (max-normalized, so scores <= 1)


def doc_graph_eigencentrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``_EC_TOP`` documents by eigenvector centrality (Bonacich
    1972) over the near-dup pair graph: x' = A·x, max-normalized each
    round.  The third member of the centrality family next to
    `doc_graph_pagerank` and `doc_graph_kcore`, and deliberately NOT
    degree-normalized: PageRank splits a node's mass across its edges
    (a hub's vote dilutes), eigencentrality sums neighbor scores raw —
    a doc connected to a few CENTRAL templates outranks one connected
    to many peripheral ones.  On an undirected graph this is also
    exactly what HITS (Kleinberg 1999) degenerates to: hubs ==
    authorities == the adjacency eigenvector, so one query covers the
    whole family.

    Exactness: scores live on the 1e-6 BIGINT micro-grid (start 1.0 ==
    1e6); each round's neighbor sum is an exact integer grouped sum,
    the max-normalizer is an exact integer scalar, and the single
    double op per node per round (sum·1e6/max, then round) is IEEE-
    identical on both engines — no drift to rediscover at any scale.

    Scale shape per iteration: one grouped sum keyed by dst (the
    PageRank shuffle) and one broadcast scalar max — iteration count
    is the only knob; isolated docs are excluded by construction
    (their score is identically 0)."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sym = _sym_edges(pairs)
    x = (sym.select(F.col("src").alias("doc_id")).distinct()
         .withColumn("xm", F.lit(_EC_U).cast("long")))
    for _ in range(_EC_ITERS):
        # r9 (guide §2.4): s feeds both the max-normalizer and the
        # update — one node-grain cut per round keeps the plan linear
        s = (sym.join(x.withColumnRenamed("doc_id", "src"), "src")
             .groupBy(F.col("dst").alias("doc_id"))
             .agg(F.sum("xm").alias("sm"))
             .localCheckpoint())
        mx = s.agg(F.max("sm").alias("mx"))
        x = (s.crossJoin(F.broadcast(mx))
             .select("doc_id",
                     F.round(F.col("sm").cast("double") * _EC_U
                             / F.col("mx").cast("double"), 0)
                     .cast("long").alias("xm")))
    scored = x.select("doc_id",
                      F.round(F.col("xm").cast("double") / _EC_U, 6)
                      .alias("centrality"))
    top = (scored.orderBy(F.col("centrality").desc(),
                          F.col("doc_id").asc()).limit(_EC_TOP))
    w = Window.orderBy(F.col("centrality").desc(), F.col("doc_id").asc())
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id", "centrality"))


def _eigencentrality_oracle_sql() -> str:
    prev = "x0"
    ctes = []
    for i in range(_EC_ITERS):
        cur = f"x{i + 1}"
        ctes.append(f"""
        {cur} AS (
            SELECT s.doc_id,
                   CAST(round(CAST(s.sm AS DOUBLE) * {_EC_U}
                              / CAST(m.mx AS DOUBLE), 0) AS BIGINT)
                       AS xm
            FROM (SELECT sy.dst AS doc_id, sum(p.xm) AS sm
                  FROM sym sy JOIN {prev} p ON sy.src = p.doc_id
                  GROUP BY 1) s
            CROSS JOIN (SELECT max(sm) AS mx FROM (
                            SELECT sum(p.xm) AS sm
                            FROM sym sy JOIN {prev} p
                              ON sy.src = p.doc_id
                            GROUP BY sy.dst)) m
        )""")
        prev = cur
    return _SIG_CTE + f"""
        , bands AS ({_BANDS_UNION}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                        AND a.doc_id < b.doc_id
        ),
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs
        ),
        x0 AS (SELECT DISTINCT src AS doc_id,
                      CAST({_EC_U} AS BIGINT) AS xm
               FROM sym),{",".join(ctes)}
        SELECT rank, doc_id, centrality FROM (
            SELECT doc_id,
                   round(CAST(xm AS DOUBLE) / {_EC_U}, 6) AS centrality,
                   row_number() OVER (
                       ORDER BY round(CAST(xm AS DOUBLE) / {_EC_U}, 6)
                                    DESC,
                                doc_id ASC) AS rank
            FROM {prev})
        WHERE rank <= {_EC_TOP}
    """


QUERIES["doc_graph_eigencentrality"] = doc_graph_eigencentrality
ORACLES["doc_graph_eigencentrality"] = _eigencentrality_oracle_sql()


# ---------------------------------------------------------------------------
# Round-4 continuation: degree-distribution power-law fit.


def doc_graph_degree_powerlaw(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Degree-distribution summary of the near-dup graph with the
    discrete power-law MLE exponent alpha_hat = 1 + n / Σ ln(d_i /
    (d_min − 1/2)) (Clauset, Shalizi & Newman 2009's continuous
    approximation at x_min = 1) — the one-row structural read that
    says whether duplication is BROAD (small alpha: heavy-tailed hub
    structure, template families everywhere) or CONCENTRATED (large
    alpha: a few dup pairs in an otherwise clean corpus).  The graph
    sibling of `corpus_zipf_fit` (tokens) and the summary upstream of
    the per-node views (`doc_graph_pagerank`, `doc_graph_kcore`).

    Each node's ln term is snapped to the 1e-6 BIGINT micro-grid
    before the sum (the PMI/PSI libm discipline), so the statistic is
    exact under any aggregation order.  Also reports edge share of
    the top decile of nodes by degree — the hub-concentration
    companion number.  Cost: the degree aggregate plus the
    distributed exact decile (``operators.ranked.exact_ntile``, r9 —
    replacing a node-grain single-task global window)."""
    from qrapids_forecast_r_script_spark.operators.ranked import exact_ntile
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sym = (pairs.select(F.col("doc_a").alias("doc_id"))
           .unionAll(pairs.select(F.col("doc_b").alias("doc_id"))))
    # r9 (guide §2.4): deg is read twice inside exact_ntile (the range
    # partitioner's sampling pass + the shuffle itself) and each uncut
    # read re-ran the pair chain — one node-grain cut
    deg = (sym.groupBy("doc_id").agg(F.count(F.lit(1)).alias("d"))
           .localCheckpoint())
    ranked = exact_ntile(deg, 10,
                         [F.col("d").desc(), F.col("doc_id").asc()],
                         "dec")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("d").alias("deg_sum"),
        F.max("d").alias("max_degree"),
        F.sum(F.round(F.log(F.col("d").cast("double") / F.lit(0.5))
                      * 1_000_000, 0).cast("long")).alias("ln_u"),
        F.sum(F.when(F.col("dec") == 1, F.col("d"))
              .otherwise(F.lit(0))).alias("top_decile_deg"))
    alpha = (F.lit(1.0) + F.col("n_nodes").cast("double")
             / (F.col("ln_u").cast("double") / 1_000_000))
    return agg.select(
        "n_nodes",
        F.expr("deg_sum div 2").alias("n_edges"),
        F.round(F.col("deg_sum").cast("double")
                / F.col("n_nodes").cast("double"), 6)
        .alias("mean_degree"),
        "max_degree",
        F.round(alpha, 6).alias("alpha_hat"),
        F.round(F.col("top_decile_deg").cast("double")
                / F.col("deg_sum").cast("double"), 6)
        .alias("top_decile_edge_share"))


QUERIES["doc_graph_degree_powerlaw"] = doc_graph_degree_powerlaw
ORACLES["doc_graph_degree_powerlaw"] = _SIG_CTE + """
    , bands AS (""" + _BANDS_UNION + """),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id
                    AND a.band_sig = b.band_sig
                    AND a.doc_id < b.doc_id
    ),
    deg AS (
        SELECT doc_id, count(*) AS d FROM (
            SELECT doc_a AS doc_id FROM pairs
            UNION ALL SELECT doc_b FROM pairs) GROUP BY 1
    ),
    ranked AS (
        SELECT *, ntile(10) OVER (ORDER BY d DESC, doc_id ASC) AS dec
        FROM deg
    ),
    agg AS (
        SELECT count(*) AS n_nodes,
               CAST(sum(d) AS BIGINT) AS deg_sum,
               max(d) AS max_degree,
               CAST(sum(CAST(round(
                   ln(CAST(d AS DOUBLE) / CAST(0.5 AS DOUBLE))
                   * 1000000, 0) AS BIGINT)) AS BIGINT) AS ln_u,
               CAST(sum(CASE WHEN dec = 1 THEN d ELSE 0 END)
                    AS BIGINT) AS top_decile_deg
        FROM ranked
    )
    SELECT n_nodes, deg_sum // 2 AS n_edges,
           round(CAST(deg_sum AS DOUBLE) / CAST(n_nodes AS DOUBLE), 6)
               AS mean_degree,
           max_degree,
           round(CAST(1 AS DOUBLE) + CAST(n_nodes AS DOUBLE)
                 / (CAST(ln_u AS DOUBLE) / 1000000), 6) AS alpha_hat,
           round(CAST(top_decile_deg AS DOUBLE)
                 / CAST(deg_sum AS DOUBLE), 6)
               AS top_decile_edge_share
    FROM agg
"""


# ---------------------------------------------------------------------------
# Recursive-CTE BFS — the declarative-recursion engine surface.

_BFS_DEPTH = 4


def doc_graph_bfs_reachability(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Breadth-first reachability from the lowest-id document that has
    a near-dup edge, written as an ANSI ``WITH RECURSIVE`` CTE and
    executed by Spark's OWN recursion engine (new in Spark 4) — the
    declarative form of the iterative traversals `dedup_clusters` /
    `doc_graph_kcore` hand-unroll.  The result is the seed's dup
    neighborhood with hop distance — the "show me everything within
    k hops of this boilerplate family" audit drill-down.

    Recursive-CTE BFS enumerates WALKS, not visits, so cycles would
    loop forever without the ``dist < 4`` guard; the final
    ``min(dist)`` group collapses walk multiplicity to true BFS
    distance.  Bounded because near-dup components are clique-like
    and small (`dedup_cluster_sizes` pins the size histogram): walk
    count ≤ |component|^_BFS_DEPTH, a constant-bounded blowup — the
    documented trade for engine-native recursion vs the manual
    converge-loop (which `dedup_clusters` keeps for the unbounded
    case).  Both engines run the SAME recursive SQL, so the oracle
    checks Spark's recursion semantics (seed row, UNION ALL step,
    termination) end-to-end.

    Scale shape: each recursion level is one hash join of the
    frontier against the edge list — identical physical work to one
    hand-written BFS round; ``_BFS_DEPTH`` sets the level count."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sym = _sym_edges(pairs)
    sym.createOrReplaceTempView("qr_bfs_sym")
    return spark.sql(f"""
        WITH RECURSIVE walk(doc_id, dist) AS (
            SELECT CAST((SELECT min(src) FROM qr_bfs_sym) AS BIGINT)
                       AS doc_id,
                   CAST(0 AS BIGINT) AS dist
            UNION ALL
            SELECT e.dst AS doc_id, CAST(w.dist + 1 AS BIGINT) AS dist
            FROM walk w JOIN qr_bfs_sym e ON e.src = w.doc_id
            WHERE w.dist < {_BFS_DEPTH}
        )
        SELECT doc_id, CAST(min(dist) AS BIGINT) AS dist
        FROM walk GROUP BY doc_id
    """)


def _bfs_oracle_sql() -> str:
    return _SIG_CTE.replace("WITH", "WITH RECURSIVE", 1) + f"""
        , bands AS ({_BANDS_UNION}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                        AND a.doc_id < b.doc_id
        ),
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs
        ),
        walk(doc_id, dist) AS (
            SELECT CAST((SELECT min(src) FROM sym) AS BIGINT) AS doc_id,
                   CAST(0 AS BIGINT) AS dist
            UNION ALL
            SELECT e.dst AS doc_id, CAST(w.dist + 1 AS BIGINT) AS dist
            FROM walk w JOIN sym e ON e.src = w.doc_id
            WHERE w.dist < {_BFS_DEPTH}
        )
        SELECT doc_id, CAST(min(dist) AS BIGINT) AS dist
        FROM walk GROUP BY doc_id
    """


QUERIES["doc_graph_bfs_reachability"] = doc_graph_bfs_reachability
ORACLES["doc_graph_bfs_reachability"] = _bfs_oracle_sql()


def doc_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the LPA partition (Newman & Girvan
    2004): Q = Σ_c [L_c/m − (D_c/2m)²] — the single number that says
    whether `doc_graph_communities`' labels describe real structure
    (Q ≫ 0) or a random cut (Q ≈ 0), i.e. the quality gate on the
    community step before anyone acts on it.  Everything upstream is
    the SAME integer LPA chain the communities query runs; the score
    needs only intra-community edge counts and community degree sums.

    Per-community terms snap to the 1e-9 grid before the final sum
    (the only IEEE-order-sensitive step); inputs are exact integers.

    Scale: two label-keyed joins of the edge list + two grouped
    counts — community cardinality output, fact-bounded only through
    the shared LPA chain."""
    labels, pairs, sym = _lpa_labels(spark, sf_dir)
    la = labels.select(F.col("doc_id").alias("doc_a"),
                       F.col("lbl").alias("lbl_a"))
    lb = labels.select(F.col("doc_id").alias("doc_b"),
                       F.col("lbl").alias("lbl_b"))
    medges = pairs.agg(F.count(F.lit(1)).alias("m"))
    intra = (pairs.join(la, "doc_a").join(lb, "doc_b")
             .where(F.col("lbl_a") == F.col("lbl_b"))
             .groupBy(F.col("lbl_a").alias("lbl"))
             .agg(F.count(F.lit(1)).alias("lc")))
    deg = (sym.join(labels.select(F.col("doc_id").alias("src"), "lbl"),
                    "src")
           .groupBy("lbl")
           .agg(F.count(F.lit(1)).alias("dc")))
    m = F.col("m").cast("double")
    term = F.round(F.coalesce(F.col("lc"), F.lit(0)).cast("double") / m
                   - (F.col("dc").cast("double") / (2 * m))
                   * (F.col("dc").cast("double") / (2 * m)), 9)
    terms = (deg.join(intra, "lbl", "left")
             .crossJoin(F.broadcast(medges))
             .select(term.alias("term")))
    ncomm = (labels.select("lbl").distinct()
             .agg(F.count(F.lit(1)).alias("n_communities")))
    return (medges.crossJoin(ncomm)
            .crossJoin(terms.agg(F.round(F.sum("term"), 6)
                                 .alias("modularity")))
            .select(F.col("m").alias("n_edges"), "n_communities",
                    "modularity"))


def _modularity_oracle_sql() -> str:
    base = _communities_oracle_sql()
    # reuse everything up to (and incl.) the last label CTE, swap the
    # final SELECT for the modularity computation
    head = base[:base.rindex("SELECT lbl AS community")].rstrip()
    last = f"l{_LPA_ITERS}"
    return head + "," + f"""
        medges AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pairs),
        intra AS (
            SELECT la.lbl, count(*) AS lc
            FROM pairs p
            JOIN {last} la ON p.doc_a = la.doc_id
            JOIN {last} lb ON p.doc_b = lb.doc_id
            WHERE la.lbl = lb.lbl
            GROUP BY 1
        ),
        deg AS (
            SELECT l.lbl, count(*) AS dc
            FROM sym s JOIN {last} l ON s.src = l.doc_id
            GROUP BY 1
        ),
        terms AS (
            SELECT round(coalesce(i.lc, 0) / CAST(me.m AS DOUBLE)
                   - (d.dc / (2 * CAST(me.m AS DOUBLE)))
                     * (d.dc / (2 * CAST(me.m AS DOUBLE))), 9) AS term
            FROM deg d
            LEFT JOIN intra i ON d.lbl = i.lbl
            CROSS JOIN medges me
        ),
        ncomm AS (
            SELECT count(DISTINCT lbl) AS n_communities FROM {last}
        )
        SELECT me.m AS n_edges, nc.n_communities,
               round((SELECT sum(term) FROM terms), 6) AS modularity
        FROM medges me CROSS JOIN ncomm nc
    """


QUERIES["doc_graph_modularity"] = doc_graph_modularity
ORACLES["doc_graph_modularity"] = _modularity_oracle_sql()


_CL_SEEDS = 10      # constant seed sample (Eppstein-Wang estimator)


def doc_graph_closeness_sampled(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Sampled closeness + harmonic centrality (Eppstein & Wang 2004
    pivot sampling; Boldi & Vigna 2014 for the harmonic form) — the
    "how near is this doc to its whole dup neighborhood" read that
    degree and PageRank both miss (a node bridging two cliques has
    modest degree but top closeness).  MULTI-SOURCE BFS in ONE
    recursive CTE: the anchor is the 10-row constant seed sample
    (lowest-ids with an edge — deterministic), the recursive step
    advances every seed's frontier simultaneously, and min(dist) per
    (seed, node) collapses walk multiplicity exactly as in
    `doc_graph_bfs_reachability` — the same depth-4 guard
    bounds the clique walk blowup.

    Per seed: reached count, total and harmonic distance sums, and
    closeness (reached−1)/Σd on the radius-4 ball.  Integer
    distances; two IEEE divisions per seed row.

    Scale: one recursion, k seeds ride the same per-level hash join —
    frontier rows are (seed × ball) bounded; k is the estimator knob."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sym = _sym_edges(pairs)
    sym.createOrReplaceTempView("qr_close_sym")
    return spark.sql(f"""
        WITH RECURSIVE seeds AS (
            SELECT src AS seed FROM qr_close_sym
            GROUP BY src ORDER BY src LIMIT {_CL_SEEDS}
        ),
        walk(seed, doc_id, dist) AS (
            SELECT seed, CAST(seed AS BIGINT) AS doc_id,
                   CAST(0 AS BIGINT) AS dist
            FROM seeds
            UNION ALL
            SELECT w.seed, e.dst AS doc_id,
                   CAST(w.dist + 1 AS BIGINT) AS dist
            FROM walk w JOIN qr_close_sym e ON e.src = w.doc_id
            WHERE w.dist < {_BFS_DEPTH}
        ),
        dists AS (
            SELECT seed, doc_id, min(dist) AS d
            FROM walk GROUP BY seed, doc_id
        )
        SELECT seed,
               count(*) AS n_reached,
               CAST(sum(d) AS BIGINT) AS total_dist,
               round((count(*) - 1)
                     / nullif(CAST(sum(d) AS DOUBLE), 0), 6)
                   AS closeness,
               round(sum(CASE WHEN d > 0
                              THEN 1.0 / CAST(d AS DOUBLE)
                              ELSE 0 END), 6) AS harmonic
        FROM dists
        GROUP BY seed
        ORDER BY seed
    """)


def _closeness_oracle_sql() -> str:
    return _SIG_CTE.replace("WITH", "WITH RECURSIVE", 1) + f"""
        , bands AS ({_BANDS_UNION}),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                        AND a.doc_id < b.doc_id
        ),
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs
        ),
        seeds AS (
            SELECT src AS seed FROM sym
            GROUP BY src ORDER BY src LIMIT {_CL_SEEDS}
        ),
        walk(seed, doc_id, dist) AS (
            SELECT seed, CAST(seed AS BIGINT) AS doc_id,
                   CAST(0 AS BIGINT) AS dist
            FROM seeds
            UNION ALL
            SELECT w.seed, e.dst AS doc_id,
                   CAST(w.dist + 1 AS BIGINT) AS dist
            FROM walk w JOIN sym e ON e.src = w.doc_id
            WHERE w.dist < {_BFS_DEPTH}
        ),
        dists AS (
            SELECT seed, doc_id, min(dist) AS d
            FROM walk GROUP BY seed, doc_id
        )
        SELECT seed,
               count(*) AS n_reached,
               CAST(sum(d) AS BIGINT) AS total_dist,
               round((count(*) - 1)
                     / nullif(CAST(sum(d) AS DOUBLE), 0), 6)
                   AS closeness,
               round(sum(CASE WHEN d > 0
                              THEN 1.0 / CAST(d AS DOUBLE)
                              ELSE 0 END), 6) AS harmonic
        FROM dists
        GROUP BY seed
        ORDER BY seed
    """


QUERIES["doc_graph_closeness_sampled"] = doc_graph_closeness_sampled
ORACLES["doc_graph_closeness_sampled"] = _closeness_oracle_sql()


_SP_HOPS = 4       # walk-hop guard (same bound, and reasoning, as BFS)


def doc_graph_shortest_paths(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths over the near-dup graph —
    BFS's metric upgrade: edge cost = ``101 − round(100·est_jaccard)``
    (strong duplicates are cheap to traverse, weak candidates
    expensive), so the distance ranks "how much accumulated
    dissimilarity separates this doc from the seed family" rather
    than raw hop count.  Written as the same engine-native
    ``WITH RECURSIVE`` walk enumeration as `doc_graph_bfs_reachability`
    with ``min(dist)`` collapsing walks to the bounded-hop
    Bellman-Ford fixpoint; both engines run the identical recursion,
    so Spark's recursive-CTE arithmetic (accumulating a non-counter
    column) is what the oracle checks.

    Costs are INTEGERS (the jaccard is snapped to a percent grid
    before entering the recursion), so path sums are exact BIGINTs —
    no float accumulation across recursion levels.  Bounded for the
    BFS reason: near-dup components are small and clique-like
    (`dedup_cluster_sizes`), so walk count ≤ |component|^_SP_HOPS.

    Scale shape: each level is one hash join frontier×edges; for an
    unbounded/contended graph the hand-rolled converge-loop with a
    min-dist re-aggregate per round (the `dedup_clusters` pattern)
    replaces the walk enumeration — this query pins the declarative
    form."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    wt = (F.lit(101) - F.round(F.col("est_jaccard") * 100, 0)) \
        .cast("bigint")
    sym = _sym_edges(pairs, wt.alias("wt"))
    sym.createOrReplaceTempView("qr_sp_edges")
    return spark.sql(f"""
        WITH RECURSIVE walk(doc_id, dist, hops) AS (
            SELECT CAST((SELECT min(src) FROM qr_sp_edges) AS BIGINT)
                       AS doc_id,
                   CAST(0 AS BIGINT) AS dist,
                   CAST(0 AS BIGINT) AS hops
            UNION ALL
            SELECT e.dst AS doc_id,
                   CAST(w.dist + e.wt AS BIGINT) AS dist,
                   CAST(w.hops + 1 AS BIGINT) AS hops
            FROM walk w JOIN qr_sp_edges e ON e.src = w.doc_id
            WHERE w.hops < {_SP_HOPS}
        )
        SELECT doc_id, CAST(min(dist) AS BIGINT) AS wdist
        FROM walk GROUP BY doc_id
    """)


def _shortest_paths_oracle_sql() -> str:
    return _SIG_CTE.replace("WITH", "WITH RECURSIVE", 1) + f"""
        , bands AS ({_BANDS_UNION}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                        AND a.doc_id < b.doc_id
        ),
        wpairs AS (
            SELECT c.doc_a, c.doc_b,
                   CAST(101 - round(round(len(list_filter(
                            generate_series(1, 16),
                            i -> sa.sig[i] = sb.sig[i])) / 16.0, 6)
                        * 100, 0) AS BIGINT) AS wt
            FROM cand c
            JOIN sig sa ON c.doc_a = sa.doc_id
            JOIN sig sb ON c.doc_b = sb.doc_id
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst, wt FROM wpairs
            UNION ALL SELECT doc_b, doc_a, wt FROM wpairs
        ),
        walk(doc_id, dist, hops) AS (
            SELECT CAST((SELECT min(src) FROM edges) AS BIGINT) AS doc_id,
                   CAST(0 AS BIGINT) AS dist,
                   CAST(0 AS BIGINT) AS hops
            UNION ALL
            SELECT e.dst AS doc_id,
                   CAST(w.dist + e.wt AS BIGINT) AS dist,
                   CAST(w.hops + 1 AS BIGINT) AS hops
            FROM walk w JOIN edges e ON e.src = w.doc_id
            WHERE w.hops < {_SP_HOPS}
        )
        SELECT doc_id, CAST(min(dist) AS BIGINT) AS wdist
        FROM walk GROUP BY doc_id
    """


QUERIES["doc_graph_shortest_paths"] = doc_graph_shortest_paths
ORACLES["doc_graph_shortest_paths"] = _shortest_paths_oracle_sql()


def doc_graph_assortativity(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY of the near-dup graph (Newman 2002): the
    Pearson correlation of endpoint degrees over edges — positive =
    hubs attach to hubs (a boilerplate family linked by shared
    templates), negative = hub-and-spoke (one canonical page with
    many near-copies).  The one-number structure read that degree
    histograms (`doc_graph_degree_powerlaw`) and communities miss,
    and the standard first diagnostic before choosing a clustering
    strategy (disassortative graphs star-collapse cheaply; see the
    large-star/small-star fallback in `dedup_clusters`).

    Computed over DIRECTED edge copies (each undirected edge twice,
    the standard symmetric-graph convention, so the correlation is
    exchange-symmetric by construction).  Exactness: degrees are
    exact integers; the five correlation sums are BIGINT/128-bit;
    one division.

    Scale: degrees are one grouped count over the banded edge list;
    the correlation is one aggregate over edges with two broadcast
    degree joins."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sym = _sym_edges(pairs)
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    j = (sym.join(F.broadcast(deg), "src")
         .withColumnRenamed("d", "dx")
         .join(F.broadcast(deg.select(F.col("src").alias("dst"),
                                      F.col("d").alias("dy"))), "dst"))
    a = j.agg(F.count(F.lit(1)).alias("m2"),
              F.sum("dx").alias("sx"), F.sum("dy").alias("sy"),
              F.sum(F.col("dx").cast("decimal(38,0)") * F.col("dy"))
              .alias("sxy"),
              F.sum(F.col("dx").cast("decimal(38,0)") * F.col("dx"))
              .alias("sxx"),
              F.sum(F.col("dy").cast("decimal(38,0)") * F.col("dy"))
              .alias("syy"))
    n = F.col("m2").cast("double")
    num = n * F.col("sxy").cast("double") \
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    dx = n * F.col("sxx").cast("double") \
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    dy = n * F.col("syy").cast("double") \
        - F.col("sy").cast("double") * F.col("sy").cast("double")
    return a.select(
        (F.col("m2") / 2).cast("bigint").alias("n_edges"),
        F.round(num / F.sqrt(dx * dy), 6).alias("assortativity"))


QUERIES["doc_graph_assortativity"] = doc_graph_assortativity
ORACLES["doc_graph_assortativity"] = _SIG_CTE + f"""
    , bands AS ({_BANDS_UNION}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                    AND a.doc_id < b.doc_id
    ), sym AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ), deg AS (
        SELECT src, CAST(count(*) AS BIGINT) AS d
        FROM sym GROUP BY 1
    ), j AS (
        SELECT da.d AS dx, db.d AS dy
        FROM sym s
        JOIN deg da ON da.src = s.src
        JOIN deg db ON db.src = s.dst
    ), a AS (
        SELECT CAST(count(*) AS BIGINT) AS m2,
               CAST(sum(dx) AS BIGINT) AS sx,
               CAST(sum(dy) AS BIGINT) AS sy,
               CAST(sum(CAST(dx AS HUGEINT) * dy) AS HUGEINT) AS sxy,
               CAST(sum(CAST(dx AS HUGEINT) * dx) AS HUGEINT) AS sxx,
               CAST(sum(CAST(dy AS HUGEINT) * dy) AS HUGEINT) AS syy
        FROM j
    )
    SELECT CAST(m2 / 2 AS BIGINT) AS n_edges,
           round((CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(m2 AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE)
                             * CAST(sy AS DOUBLE))), 6)
               AS assortativity
    FROM a
"""
