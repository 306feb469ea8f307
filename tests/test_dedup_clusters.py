"""Connected-component clustering: label-prop fast path, star fallback.

The mega-component scenario label propagation cannot finish (rounds =
diameter) must be handled by the large-star/small-star fallback, which is
round-bounded by O(log² n) regardless of diameter or skew.
"""

import pytest


def _mk_pairs(spark, rows):
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def test_star_converges_on_deep_chain_within_log_rounds(spark):
    """Diameter-59 chain: label-prop needs 59 rounds, the star algorithm
    must finish within 8 (2·log2(60) ≈ 12 is the loose bound)."""
    from qrapids_forecast_r_script_spark.operators.dedup import _cc_star
    pairs = _mk_pairs(spark, [(i, i + 1) for i in range(59)])
    edges = (pairs.selectExpr("doc_a as src", "doc_b as dst")
             .union(pairs.selectExpr("doc_b as src", "doc_a as dst")))
    labels = _cc_star(edges, max_iter=8).collect()  # raises if not converged
    assert {r["cluster_id"] for r in labels} == {0}
    assert len(labels) == 60


def test_star_handles_skewed_hub_component(spark):
    """A 200-leaf hub (max skew) plus a separate 101-node chain: both
    components must resolve to their min ids in bounded rounds."""
    from qrapids_forecast_r_script_spark.operators.dedup import _cc_star
    rows = [(500, i) for i in range(200)] + \
           [(200 + i, 201 + i) for i in range(100)]
    pairs = _mk_pairs(spark, rows)
    edges = (pairs.selectExpr("doc_a as src", "doc_b as dst")
             .union(pairs.selectExpr("doc_b as src", "doc_a as dst")))
    labels = {r["doc_id"]: r["cluster_id"]
              for r in _cc_star(edges, max_iter=8).collect()}
    assert labels[500] == 0 and labels[199] == 0
    assert all(labels[n] == 200 for n in range(200, 301))


def test_cluster_edges_falls_back_loudly_past_max_iter(spark, caplog):
    """cluster_edges must not return wrong labels when label propagation
    runs out of rounds: it warns and switches to the star algorithm."""
    import logging
    from qrapids_forecast_r_script_spark.operators.dedup import cluster_edges
    docs = spark.range(60).selectExpr("id as doc_id")
    pairs = _mk_pairs(spark, [(i, i + 1) for i in range(59)])
    with caplog.at_level(logging.WARNING,
                         logger="qrapids_forecast_r_script_spark.operators.dedup"):
        out = cluster_edges(docs, pairs, max_iter=3).collect()
    assert any("did not converge" in r.message for r in caplog.records)
    assert {r["cluster_id"] for r in out} == {0}
    assert len(out) == 60


def test_cluster_edges_fast_path_unchanged(spark):
    """Shallow graphs take the label-prop fast path and singletons keep
    their own ids."""
    from qrapids_forecast_r_script_spark.operators.dedup import cluster_edges
    docs = spark.range(10).selectExpr("id as doc_id")
    pairs = _mk_pairs(spark, [(1, 2), (2, 3), (7, 8)])
    labels = {r["doc_id"]: r["cluster_id"]
              for r in cluster_edges(docs, pairs, max_iter=20).collect()}
    assert labels == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 6,
                      7: 7, 8: 7, 9: 9}


def test_label_prop_runs_exactly_max_iter_hops(spark):
    """On a 7-node path (min id at one end) label propagation moves the
    minimum one node per hop, so the labels show how many hops ran: the
    last fused round is clamped so exactly ``max_iter`` hops run.  Six
    hops reach the fixpoint; the seventh is the no-op hop that detects
    it."""
    from qrapids_forecast_r_script_spark.operators.dedup import _label_prop
    pairs = _mk_pairs(spark, [(i, i + 1) for i in range(6)])
    edges = (pairs.selectExpr("doc_a as src", "doc_b as dst")
             .union(pairs.selectExpr("doc_b as src", "doc_a as dst")))

    def run(max_iter):
        labels, converged = _label_prop(edges, max_iter)
        got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
        return [got[i] for i in range(7)], converged

    assert run(4) == ([0, 0, 0, 0, 0, 1, 2], False)
    assert run(5) == ([0, 0, 0, 0, 0, 0, 1], False)
    assert run(6) == ([0] * 7, False)
    assert run(7) == ([0] * 7, True)
