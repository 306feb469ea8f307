"""Training-set preparation operators — the steps between a curated
corpus and an actual pretraining run (north-star extension; the
reference R service, TimeSeriesFunctions_GPL_0.5.1.R:1-406, is a
forecasting engine with no corpus layer, so these extend SURVEY §2B's
dedup/similarity/text row alongside `curation.py`):

- ``nb_quality_classifier``: a model-based quality filter — the GPT-3 /
  CCNet "quality classifier" step (Brown et al. 2020 §A; Wenzek et al.
  2020) — trained IN the query as a closed-form Naive-Bayes log-odds
  model against a weak-supervision target slice (lang='en', the same
  target `text_quality.dsir_importance` uses), then applied to every
  document.  Where DSIR produces importance WEIGHTS, this produces the
  classifier decision + teacher-agreement audit.
- ``sequence_packing_examples``: GPT-style pack-and-chunk — concatenate
  the corpus in a deterministic order and cut fixed-length training
  examples, letting examples CROSS document boundaries (Brown et al.
  2020 §2.3 trains on 2048-token windows over concatenated docs).  The
  per-example report (docs spanned, boundary-crossing flag, fill) is
  what a data loader needs to build attention-mask resets.
- ``centroid_label_confusion``: noisy-label audit over the labeled
  embedding table — assign every vector to its nearest LABEL CENTROID
  and cross-tabulate true × predicted (the nearest-centroid reduction
  of Confident Learning, Northcutt et al. 2021).  Off-diagonal cells
  are the mislabel candidates a labeling pipeline re-queues.

All three are pure Catalyst — no Python UDFs — and exactly SQL-oracled.

100 TB shape, per operator:

- NB classifier: token counts are one (token)-keyed aggregation; the
  weight table is vocabulary-bounded and BROADCAST back onto the token
  stream (same contract as ``dsir_importance``); scoring is one
  map-side join + one doc-keyed sum.  Per-token weights are snapped to
  a 1e-6 fixed-point grid and summed as BIGINT, so the doc score is
  bit-identical under any partitioning / aggregation order — and the
  classifier DECISION compares the integer, not a float.
- sequence packing: the corpus-wide exclusive prefix sum reuses the
  two-pass bucket decomposition of ``curation.token_shard_packing``
  (per-bucket totals → window over n/64 bucket rows → 64-row
  intra-bucket windows); at larger scale the bucket level nests
  recursively.  The explode fans each doc out to ceil(len/SEQ)+1
  examples at most — linear in corpus tokens, never quadratic.
- centroid confusion: centroids are a (label × dim) aggregate — tiny,
  broadcast; assignment is a broadcast join + per-(vec, label) partial
  aggregation, exactly the `ivf_topk` argmin contract (constant
  candidate set per vector).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import md5_int
from ..sources import load_table, orders_with_nation
from .curation import _PACK_BUCKET

# add-k smoothing for the NB token model (k=0.5, Jeffreys — matches
# text_quality._LM_K so the two corpus LMs share their prior).
_NB_K = 0.5
# weak-supervision target slice: same target domain as dsir_importance.
_NB_TARGET_LANG = "en"

_SEQ_LEN = 128                  # tokens per packed training example

_CENT_DP = 6                    # centroid / cosine resync grid (1e-6)


def nb_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form Naive-Bayes quality classifier, trained and applied
    in one plan.

    Teacher label: ``lang = 'en'`` (weak supervision — the CCNet recipe
    scores against a target-domain LM; GPT-3's quality classifier was
    trained the same way with WebText as the positive class).  Training
    is the NB closed form: per-token log-odds
    ``ln((c_pos+k)/(T_pos+k·V)) − ln((c_neg+k)/(T_neg+k·V))`` with
    add-k smoothing, plus the class-prior log-odds.  Each weight is
    snapped to the 1e-6 grid and carried as BIGINT fixed-point, so the
    per-doc sum is exactly associative (order-proof across engines and
    partitionings) and the decision boundary ``score6 > 0`` is an
    INTEGER comparison — no float-threshold flakiness.

    Returns one row per document: doc_id, lang, n_tokens, nb_score
    (prior + Σ weights, 6dp), predicted_target, teacher_agrees.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang",
        (F.col("lang") == _NB_TARGET_LANG).alias("is_pos"),
        F.explode(F.split("text", " ")).alias("tok"))

    # vocabulary-bounded (NOT corpus-bounded) — localCheckpoint so the
    # token-explode + count pass runs once, not once per consumer
    # (totals AND weights read it; without the cut Spark re-derives it
    # from the raw corpus twice — measured 5.0 → ~3.0 s at sf0.1)
    counts = (toks.groupBy("tok")
              .agg(F.count(F.when(F.col("is_pos"), 1)).alias("c_pos"),
                   F.count(F.when(~F.col("is_pos"), 1)).alias("c_neg"))
              .localCheckpoint())
    totals = counts.agg(
        F.sum("c_pos").cast("double").alias("t_pos"),
        F.sum("c_neg").cast("double").alias("t_neg"),
        F.count(F.lit(1)).cast("double").alias("v"))
    # vocabulary-bounded weight table — broadcast onto the token stream
    weights = (counts.crossJoin(F.broadcast(totals))
               .select("tok",
                       F.round((F.log((F.col("c_pos") + _NB_K)
                                      / (F.col("t_pos") + _NB_K * F.col("v")))
                                - F.log((F.col("c_neg") + _NB_K)
                                        / (F.col("t_neg")
                                           + _NB_K * F.col("v"))))
                               * 1e6, 0).cast("bigint").alias("w6")))

    prior = docs.agg(
        F.round(F.log(
            F.count(F.when(F.col("lang") == _NB_TARGET_LANG, 1))
            .cast("double")
            / F.count(F.when(F.col("lang") != _NB_TARGET_LANG, 1))
            .cast("double")) * 1e6, 0).cast("bigint").alias("prior6"))

    scored = (toks.join(F.broadcast(weights), "tok")
              .groupBy("doc_id", "lang")
              .agg(F.count(F.lit(1)).alias("n_tokens"),
                   F.sum("w6").alias("s6"))
              .crossJoin(F.broadcast(prior))
              .withColumn("score6", F.col("prior6") + F.col("s6")))
    teacher = F.col("lang") == _NB_TARGET_LANG
    return scored.select(
        "doc_id", "lang", "n_tokens",
        F.round(F.col("score6") / 1e6, 6).alias("nb_score"),
        (F.col("score6") > 0).alias("predicted_target"),
        ((F.col("score6") > 0) == teacher).alias("teacher_agrees"))


def sequence_packing_examples(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Pack the corpus (concatenated in doc_id order) into fixed
    ``_SEQ_LEN``-token training examples and report, per example, the
    documents it spans.

    Token offsets come from the corpus-wide EXCLUSIVE prefix sum,
    computed with the same scalable two-pass bucket decomposition as
    ``curation.token_shard_packing`` (per-bucket totals → one window
    over n/64 bucket rows → embarrassingly-parallel 64-row intra-bucket
    windows; integer arithmetic end-to-end, so it equals the naive
    single-window form the oracle runs).  Each doc then explodes to the
    example ids it overlaps — ``sequence(start div L, (end-1) div L)``,
    a fan-out of ceil(len/L)+1 — and one groupBy(example_id) builds the
    report.  The final (ragged) example keeps its true fill so padding
    waste is visible, mirroring ``curation.shard_packing_efficiency``.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (docs
            .select("doc_id",
                    F.size(F.split("text", " ")).cast("bigint").alias("n"))
            .withColumn("bucket", F.expr(f"doc_id div {_PACK_BUCKET}")))
    bucket_tot = toks.groupBy("bucket").agg(F.sum("n").alias("bt"))
    wb = (Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1))
    offsets = bucket_tot.select(
        "bucket", F.coalesce(F.sum("bt").over(wb), F.lit(0)).alias("boff"))
    wd = (Window.partitionBy("bucket").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1))
    staged = (toks
              .withColumn("we", F.coalesce(F.sum("n").over(wd), F.lit(0)))
              .join(F.broadcast(offsets), "bucket")
              .select("doc_id", "n",
                      (F.col("boff") + F.col("we")).alias("s")))
    ex = staged.select(
        "doc_id", "n", "s",
        F.explode(F.expr(
            f"sequence(s div {_SEQ_LEN}, (s + n - 1) div {_SEQ_LEN})"))
        .alias("example_id"))
    lo = F.col("example_id") * _SEQ_LEN
    hi = (F.col("example_id") + 1) * _SEQ_LEN
    return (ex.groupBy("example_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("first_doc_id"),
                 F.max("doc_id").alias("last_doc_id"),
                 F.sum(F.least(F.col("s") + F.col("n"), hi)
                       - F.greatest(F.col("s"), lo)).alias("n_tokens"))
            .withColumn("crosses_boundary", F.col("n_docs") > 1))


def grid_mean_micro(s6, nv):
    """Group mean of 1e-6 fixed-point BIGINT values with INTEGER
    round-half-away-from-zero: (2·Σ ± n) / 2n truncated, then /1e6.

    A float round(Σ/n, 6) hits an exact decimal midpoint whenever
    n | 2·Σ oddly (observed at sf0.01: 522353/2 → .2611765) and the
    engines' half-up vs half-even tie rules then split; the integer
    form is midpoint-deterministic, and away from midpoints the
    quotient sits ≥ 1/(2n) from any integer — far beyond one ulp — so
    truncating the exact-ratio double is safe.  Shared by
    `centroid_label_confusion` and `spectral.embedding_pca_projection`
    (review finding: three hand-rolled copies had diverged already)."""
    half = F.when(s6 >= 0, nv).otherwise(-nv)
    return (((2 * s6 + half) / (2 * nv)).cast("bigint")
            .cast("double") / 1e6)


def centroid_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noisy-label audit: nearest-label-centroid confusion matrix over
    the ``embeddings`` table.

    Centroids are per-(label, dim) means of the raw vectors, snapped to
    the 1e-6 grid (the `ivf_kmeans_topk` resync trick, so both engines
    score against bit-identical centroids).  Every vector is scored
    against ALL centroids — a broadcast join on the dimension key
    followed by a per-(vec, candidate-label) partial aggregation — and
    assigned by row_number over (cosine DESC, label ASC).  The output
    cross-tabulates true × predicted label with the mean assignment
    cosine; off-diagonal rows are the re-labeling queue.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    expl = emb.select(
        "vec_id", "label",
        F.posexplode("embedding").alias("pos", "v_raw")
    ).select("vec_id", "label", "pos",
             F.col("v_raw").cast("double").alias("v"))
    cent = (expl.groupBy(F.col("label").alias("clabel"), "pos")
            .agg(F.round(F.avg("v"), _CENT_DP).alias("c")))
    per = (expl.join(F.broadcast(cent), "pos")
           .groupBy("vec_id", "label", "clabel")
           .agg(F.sum(F.col("v") * F.col("c")).alias("dot"),
                F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nv"),
                F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nc")))
    # cos is snapped to the 1e-6 grid, then carried as BIGINT
    # fixed-point so the group AVERAGE is an exact integer sum — a
    # float avg of grid values can land on a rounding midpoint and
    # flip the 6th digit between engines (observed at sf0.001).
    scored = per.select(
        "vec_id", "label", "clabel",
        F.round(F.round(F.col("dot") / (F.col("nv") * F.col("nc")),
                        _CENT_DP) * 1e6, 0).cast("bigint").alias("cos6"))
    w = (Window.partitionBy("vec_id")
         .orderBy(F.col("cos6").desc(), F.col("clabel").asc()))
    pred = (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1))
    nv = F.count(F.lit(1))
    return (pred.groupBy(F.col("label").alias("true_label"),
                         F.col("clabel").alias("pred_label"))
            .agg(nv.alias("n_vecs"),
                 grid_mean_micro(F.sum("cos6"), nv).alias("avg_cos"))
            .orderBy("true_label", "pred_label"))


QUERIES = {
    "nb_quality_classifier": nb_quality_classifier,
    "sequence_packing_examples": sequence_packing_examples,
    "centroid_label_confusion": centroid_label_confusion,
}

ORACLES = {
    # count(*) FILTER keeps every count BIGINT (no HUGEINT sum()); the
    # fixed-point weight/score path is CAST to BIGINT on both engines.
    "nb_quality_classifier": f"""
        WITH toks AS (
            SELECT doc_id, lang, lang = '{_NB_TARGET_LANG}' AS is_pos,
                   unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), counts AS (
            SELECT tok,
                   count(*) FILTER (WHERE is_pos) AS c_pos,
                   count(*) FILTER (WHERE NOT is_pos) AS c_neg
            FROM toks GROUP BY tok
        ), totals AS (
            SELECT CAST(sum(c_pos) AS DOUBLE) AS t_pos,
                   CAST(sum(c_neg) AS DOUBLE) AS t_neg,
                   CAST(count(*) AS DOUBLE) AS v
            FROM counts
        ), weights AS (
            SELECT tok,
                   CAST(round((ln((c_pos + {_NB_K}) / (t_pos + {_NB_K} * v))
                               - ln((c_neg + {_NB_K}) / (t_neg + {_NB_K} * v)))
                              * 1e6, 0) AS BIGINT) AS w6
            FROM counts CROSS JOIN totals
        ), prior AS (
            SELECT CAST(round(ln(
                       CAST(count(*) FILTER (WHERE lang = '{_NB_TARGET_LANG}')
                            AS DOUBLE)
                       / CAST(count(*) FILTER (WHERE lang <> '{_NB_TARGET_LANG}')
                              AS DOUBLE)) * 1e6, 0) AS BIGINT) AS prior6
            FROM documents
        ), scored AS (
            SELECT doc_id, lang, count(*) AS n_tokens,
                   prior6 + CAST(sum(w6) AS BIGINT) AS score6
            FROM toks JOIN weights USING (tok) CROSS JOIN prior
            GROUP BY doc_id, lang, prior6
        )
        SELECT doc_id, lang, n_tokens,
               round(score6 / 1e6, 6) AS nb_score,
               score6 > 0 AS predicted_target,
               (score6 > 0) = (lang = '{_NB_TARGET_LANG}') AS teacher_agrees
        FROM scored
    """,
    # the oracle runs the NAIVE single-window prefix sum the two-pass
    # decomposition must equal exactly (integer arithmetic end-to-end)
    "sequence_packing_examples": f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n
            FROM documents
        ), c AS (
            SELECT doc_id, n,
                   CAST(coalesce(sum(n) OVER (ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS BIGINT) AS s
            FROM t
        ), e AS (
            SELECT doc_id, n, s,
                   unnest(generate_series(s // {_SEQ_LEN},
                                          (s + n - 1) // {_SEQ_LEN}))
                       AS example_id
            FROM c
        )
        SELECT example_id,
               count(*) AS n_docs,
               min(doc_id) AS first_doc_id,
               max(doc_id) AS last_doc_id,
               CAST(sum(least(s + n, (example_id + 1) * {_SEQ_LEN})
                        - greatest(s, example_id * {_SEQ_LEN}))
                    AS BIGINT) AS n_tokens,
               count(*) > 1 AS crosses_boundary
        FROM e GROUP BY example_id
    """,
    "centroid_label_confusion": f"""
        WITH expl AS (
            SELECT vec_id, label,
                   generate_subscripts(embedding, 1) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings
        ), cent AS (
            SELECT label AS clabel, pos,
                   round(avg(v), {_CENT_DP}) AS c
            FROM expl GROUP BY 1, 2
        ), per AS (
            SELECT e.vec_id, e.label, c.clabel,
                   sum(e.v * c.c) AS dot,
                   sqrt(sum(e.v * e.v)) AS nv,
                   sqrt(sum(c.c * c.c)) AS nc
            FROM expl e JOIN cent c USING (pos)
            GROUP BY 1, 2, 3
        ), scored AS (
            SELECT vec_id, label, clabel,
                   CAST(round(round(dot / (nv * nc), {_CENT_DP}) * 1e6, 0)
                        AS BIGINT) AS cos6,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY round(dot / (nv * nc),
                                                     {_CENT_DP}) DESC,
                                               clabel ASC) AS rn
            FROM per
        )
        SELECT label AS true_label, clabel AS pred_label,
               count(*) AS n_vecs,
               CAST(trunc((2 * CAST(sum(cos6) AS BIGINT)
                           + CASE WHEN sum(cos6) >= 0 THEN count(*)
                                  ELSE -count(*) END)
                          / (2 * count(*))) AS BIGINT) / 1e6 AS avg_cos
        FROM scored WHERE rn = 1
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
}


# ---------------------------------------------------------------------------
# Round-4 addition: multiclass character-trigram language classifier —
# the fastText-langid shape (Joulin et al. 2016: char n-gram features +
# linear classifier) reduced to its closed-form Naive-Bayes core, as the
# MODEL-BASED counterpart of `text.lang_id`'s heuristic.

_LID_K = 0.5        # add-k smoothing (shared Jeffreys prior, _NB_K)
_LID_N = 3          # character n-gram width


def char_trigram_lang_classifier(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Multiclass NB language classifier over character trigrams,
    trained in-query on the corpus's own ``lang`` labels and applied
    back to every document (the label-noise audit form: disagreements
    are mislabel/mixed-language candidates, the `centroid_label_confusion`
    convention for text).

    Per class c: score(d, c) = ln P(c) + Σ_t n_t(d)·ln P(t|c) with
    add-k smoothing over the corpus trigram vocabulary; prediction is
    the argmax with ties broken lang-ascending.  All log terms snap to
    the 1e-6 grid and ride as BIGINT micro-units (the
    `nb_quality_classifier` fixed-point discipline) so scores — and
    the ARGMAX — are bit-identical under any partitioning.

    At 100 TB: trigram extraction is map-only (explode words × inner
    positions); class-conditional counts are one (lang, trigram)
    aggregation; the weight grid is (vocabulary × #langs) — bounded,
    built via a langs×vocab cross of two SMALL relations, broadcast
    back onto the doc trigram stream; scoring is one broadcast join +
    one (doc, class) aggregation; the argmax is a per-doc window over
    #langs rows."""
    docs = load_table(spark, sf_dir, "documents")
    tris = (docs
            .select("doc_id", "lang",
                    F.explode(F.split("text", " ")).alias("w"))
            .where(F.length("w") >= _LID_N)
            .select("doc_id", "lang", "w",
                    F.explode(F.sequence(
                        F.lit(1), F.length("w") - (_LID_N - 1))).alias("i"))
            .select("doc_id", "lang",
                    F.substring("w", F.col("i"), _LID_N).alias("tri")))
    counts = (tris.groupBy("lang", "tri")
              .agg(F.count(F.lit(1)).alias("c"))
              .localCheckpoint())
    langs = counts.select("lang").distinct()
    vocab = counts.select("tri").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).cast("double").alias("v"))
    totals = counts.groupBy("lang").agg(F.sum("c").cast("double").alias("t"))
    grid = (langs.crossJoin(vocab)
            .join(counts, ["lang", "tri"], "left")
            .na.fill({"c": 0})
            .join(totals, "lang")
            .crossJoin(F.broadcast(vsize))
            .select(F.col("lang").alias("cls"), "tri",
                    F.round(F.log((F.col("c") + _LID_K)
                                  / (F.col("t") + _LID_K * F.col("v")))
                            * 1e6, 0).cast("bigint").alias("w6")))
    priors = (docs.groupBy("lang").agg(F.count(F.lit(1)).alias("nd"))
              .crossJoin(F.broadcast(
                  docs.agg(F.count(F.lit(1)).cast("double").alias("nt"))))
              .select(F.col("lang").alias("cls"),
                      F.round(F.log(F.col("nd") / F.col("nt")) * 1e6, 0)
                      .cast("bigint").alias("prior6")))
    doc_tri = tris.groupBy("doc_id", "lang", "tri") \
        .agg(F.count(F.lit(1)).alias("n"))
    scored = (doc_tri.join(F.broadcast(grid), "tri")
              .groupBy("doc_id", "lang", "cls")
              .agg(F.sum(F.col("n") * F.col("w6")).alias("s6"))
              .join(F.broadcast(priors), "cls")
              .withColumn("score6", F.col("prior6") + F.col("s6")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score6"), F.asc("cls"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("doc_id", "lang",
                    F.col("cls").alias("predicted_lang"),
                    F.round(F.col("score6") / 1e6, 6).alias("nb_score"),
                    (F.col("cls") == F.col("lang")).alias("correct"))
            .orderBy("doc_id"))


ORACLES["char_trigram_lang_classifier"] = f"""
    WITH tris AS (
        SELECT doc_id, lang, w[i:i+{_LID_N - 1}] AS tri FROM (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
            FROM documents) s,
        LATERAL (SELECT unnest(generate_series(1,
                 length(w) - {_LID_N - 1})) AS i) t
        WHERE length(w) >= {_LID_N}
    ), counts AS (
        SELECT lang, tri, count(*) AS c FROM tris GROUP BY 1, 2
    ), langs AS (SELECT DISTINCT lang FROM counts),
    vocab AS (SELECT DISTINCT tri FROM counts),
    vsize AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM vocab),
    totals AS (SELECT lang, CAST(sum(c) AS DOUBLE) AS t
               FROM counts GROUP BY 1),
    grid AS (
        SELECT l.lang AS cls, vo.tri,
               CAST(round(ln((coalesce(c.c, 0) + {_LID_K})
                             / (tt.t + {_LID_K} * vs.v)) * 1e6)
                    AS BIGINT) AS w6
        FROM langs l CROSS JOIN vocab vo
        LEFT JOIN counts c ON c.lang = l.lang AND c.tri = vo.tri
        JOIN totals tt ON tt.lang = l.lang
        CROSS JOIN vsize vs
    ), priors AS (
        SELECT lang AS cls,
               CAST(round(ln(count(*) / (SELECT CAST(count(*) AS DOUBLE)
                                         FROM documents)) * 1e6)
                    AS BIGINT) AS prior6
        FROM documents GROUP BY 1
    ), doc_tri AS (
        SELECT doc_id, lang, tri, count(*) AS n FROM tris GROUP BY 1, 2, 3
    ), scored AS (
        SELECT d.doc_id, d.lang, g.cls,
               p.prior6 + sum(d.n * g.w6) AS score6
        FROM doc_tri d JOIN grid g USING (tri)
        JOIN priors p ON p.cls = g.cls
        GROUP BY d.doc_id, d.lang, g.cls, p.prior6
    )
    SELECT doc_id, lang, cls AS predicted_lang,
           round(score6 / 1e6, 6) AS nb_score,
           cls = lang AS correct
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY score6 DESC, cls ASC) AS rn FROM scored)
    WHERE rn = 1 ORDER BY doc_id
"""


QUERIES["char_trigram_lang_classifier"] = char_trigram_lang_classifier


# ---------------------------------------------------------------------------
# Round-4 continuation: calibration curve (reliability diagram) for the
# NB quality classifier — the audit that decides whether its scores can
# be used as sampling WEIGHTS (needs calibration) or only as a ranking
# (needs none).

_CAL_BINS = 10


def nb_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for ``nb_quality_classifier`` (the
    Niculescu-Mizil & Caruana 2005 audit): documents are deciled by
    their NB score (exact integer ordering — the fixed-point scores
    make the ntile boundary partition-proof), and each decile reports
    the mean sigmoid-predicted probability vs the empirical positive
    rate.  NB is famously OVERCONFIDENT (its independence assumption
    double-counts correlated tokens), so the tails should overshoot —
    quantified here instead of assumed; the gap column is what an
    isotonic/Platt recalibration step would consume.

    Exactness: deciles come from ntile over (integer score, doc_id);
    per-decile probability sums are snapped-sigmoid BIGINT micro-units
    (the exp-drift discipline); positive rates are integer ratios.

    Scale: rides the NB scoring chain; the binning is the distributed
    exact ntile (``operators.ranked.exact_ntile``, r9 — range exchange
    + per-partition counts + broadcast offsets, replacing the
    single-task doc-grain global window) and one 10-row aggregate."""
    from qrapids_forecast_r_script_spark.operators.ranked import exact_ntile
    nb = nb_quality_classifier(spark, sf_dir)
    su = F.round(F.col("nb_score") * 1_000_000, 0).cast("long")
    scored = nb.select(
        "doc_id",
        (F.col("lang") == _NB_TARGET_LANG).alias("is_pos"),
        su.alias("su"))
    prob = (F.lit(1.0)
            / (F.lit(1.0) + F.exp(-(F.col("su").cast("double")
                                    / F.lit(1_000_000.0)))))
    scored = scored.withColumn(
        "pu", F.round(prob * 1_000_000, 0).cast("long"))
    # r9 (guide §2.4): cut the doc-grain scored frame before the ranged
    # ntile — repartitionByRange costs a RangePartitioner SAMPLING job
    # over its input on top of the shuffle itself (the operators.ranked
    # measured fact), so uncut the whole NB scoring chain ran twice
    scored = scored.localCheckpoint()
    binned = exact_ntile(scored, _CAL_BINS,
                         [F.col("su"), F.col("doc_id")], "decile")
    g = (binned.groupBy("decile")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum("pu").alias("spu"),
              F.count(F.when(F.col("is_pos"), 1)).alias("n_pos")))
    mean_pred = (F.col("spu").cast("double")
                 / F.col("n_docs").cast("double") / 1_000_000)
    pos_rate = (F.col("n_pos").cast("double")
                / F.col("n_docs").cast("double"))
    return (g.select("decile", "n_docs", "n_pos",
                     F.round(mean_pred, 6).alias("mean_predicted"),
                     F.round(pos_rate, 6).alias("positive_rate"),
                     F.round(mean_pred - pos_rate, 6)
                     .alias("calibration_gap"))
            .orderBy("decile"))


ORACLES["nb_calibration_curve"] = f"""
    WITH nb AS ({ORACLES["nb_quality_classifier"]}),
    sc AS (
        SELECT doc_id, lang = '{_NB_TARGET_LANG}' AS is_pos,
               CAST(round(nb_score * 1000000, 0) AS BIGINT) AS su
        FROM nb
    ), pb AS (
        SELECT *,
               CAST(round(CAST(1 AS DOUBLE)
                          / (CAST(1 AS DOUBLE)
                             + exp(-(CAST(su AS DOUBLE)
                                     / CAST(1000000 AS DOUBLE))))
                          * 1000000, 0) AS BIGINT) AS pu
        FROM sc
    ), binned AS (
        SELECT *, CAST(ntile({_CAL_BINS}) OVER (ORDER BY su, doc_id)
                   AS INTEGER) AS decile
        FROM pb
    ), g AS (
        SELECT decile, count(*) AS n_docs, sum(pu) AS spu,
               count(CASE WHEN is_pos THEN 1 END) AS n_pos
        FROM binned GROUP BY 1
    )
    SELECT decile, n_docs, n_pos,
           round(CAST(spu AS DOUBLE) / CAST(n_docs AS DOUBLE)
                 / 1000000, 6) AS mean_predicted,
           round(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
               AS positive_rate,
           round(CAST(spu AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1000000
                 - CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
               AS calibration_gap
    FROM g ORDER BY decile
"""
QUERIES["nb_calibration_curve"] = nb_calibration_curve


_FH_BUCKETS = 64
_FH_DOC_MOD = 10


def feature_hash_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words vectorizer (Weinberger et al., ICML
    2009 "Feature Hashing for Large Scale Multitask Learning"; the
    ``HashingVectorizer`` every linear text baseline uses): each token
    hashes to one of 64 buckets via md5, a SECOND hash bit
    gives the ±1 sign that makes the bucketed inner product an
    unbiased kernel estimate, signed counts accumulate per (doc,
    bucket), and the sparse vector is L2-normalized — the fixed-width
    feature map that needs NO vocabulary pass, no vocab broadcast, no
    OOV path, which is exactly why it scales: tokenize → hash →
    aggregate is one map-side pass plus one (doc,bucket)-keyed
    reduce, on a feature space of constant width.

    Output is the sparse (doc, bucket, weight) triple table for the
    deterministic doc_id % 10 == 0 slice (bounded driver
    compare; the mod is a sample knob, not a semantic).  Signed sums
    are exact integers; only the final normalize divides."""
    docs = (load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") % _FH_DOC_MOD == 0))
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token"))
    bucket = md5_int("token") % _FH_BUCKETS
    sign = F.lit(1) - 2 * (md5_int("token", 9, 1) % 2)
    cells = (toks.select("doc_id", bucket.alias("bucket"),
                         sign.alias("sgn"))
             .groupBy("doc_id", "bucket")
             .agg(F.sum("sgn").alias("val"))
             .where(F.col("val") != 0))
    wdoc = Window.partitionBy("doc_id")
    nrm = F.sqrt(F.sum(F.col("val") * F.col("val")).over(wdoc)
                 .cast("double"))
    return (cells
            .withColumn("weight", F.round(F.col("val") / nrm, 6))
            .select("doc_id", "bucket", "val", "weight"))


QUERIES["feature_hash_vectors"] = feature_hash_vectors
ORACLES["feature_hash_vectors"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents WHERE doc_id % {_FH_DOC_MOD} = 0
    ), cells AS (
        SELECT doc_id,
               ('0x' || substr(md5(token), 1, 8))::BIGINT
                   % {_FH_BUCKETS} AS bucket,
               CAST(sum(1 - 2 * (('0x' || substr(md5(token), 9, 1))
                                     ::BIGINT % 2)) AS BIGINT) AS val
        FROM toks GROUP BY 1, 2
    ), nz AS (
        SELECT * FROM cells WHERE val != 0
    )
    SELECT doc_id, bucket, val,
           round(val / sqrt(CAST(sum(val * val)
                 OVER (PARTITION BY doc_id) AS DOUBLE)), 6) AS weight
    FROM nz
"""


_AUC_U = 1_000_000    # score grid: su = round(nb_score·1e6) (already 6dp)


def roc_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the NB quality score against the teacher label,
    per document SOURCE — the standard "is the quality filter actually
    ranking?" eval (Hanley & McNeil 1982: AUC = P(score_pos >
    score_neg), ties at ½).  Per-source AUC exposes the slice where
    the classifier's ranking collapses (a filter can look great
    pooled and be random within one crawl source — Simpson's rift).

    Computed by the rank-free tie-aware identity: group scores to
    distinct values, scan ascending, and accumulate
    ``2·num = Σ_v pos_v · (2·neg_below_v + neg_v)`` — every
    pos/neg pair contributes 2 if the positive scores higher, 1 on a
    tie, 0 otherwise; AUC = num2 / (2·n_pos·n_neg).  The NB score is
    already on the 1e-6 fixed-point grid, so "distinct value" and
    "tie" are INTEGER notions — the whole numerator is BIGINT and the
    only float is the final ratio (deterministic: one division per
    source).  Gini = 2·AUC − 1 (the CAP-curve form risk teams quote).

    Scale: rides the NB scoring chain (vocabulary-bounded broadcast,
    one doc-keyed sum); the AUC pass is one (source, su) aggregate —
    at most |sources|·|distinct scores| rows — one cumulative window
    per source, and one |sources|-row aggregate.  No per-pair work:
    the O(P·N) pairwise definition is collapsed to O(D log D) by the
    tie-grouped scan, which is what makes exact AUC feasible at
    100 TB (pairwise AUC is quadratic and dead on arrival)."""
    nb = nb_quality_classifier(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    su = F.round(F.col("nb_score") * _AUC_U, 0).cast("bigint")
    scored = (nb.join(docs, "doc_id")
              .select("source", su.alias("su"),
                      (F.col("lang") == _NB_TARGET_LANG).alias("is_pos")))
    vals = (scored.groupBy("source", "su")
            .agg(F.count(F.when(F.col("is_pos"), 1)).alias("pos"),
                 F.count(F.when(~F.col("is_pos"), 1)).alias("neg")))
    w = (Window.partitionBy("source").orderBy("su")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    contrib = (vals.withColumn("cneg", F.sum("neg").over(w))
               .withColumn("num2", F.col("pos")
                           * (2 * (F.col("cneg") - F.col("neg"))
                              + F.col("neg"))))
    auc = (F.col("num2").cast("double")
           / (2.0 * F.col("n_pos") * F.col("n_neg")))
    return (contrib.groupBy("source")
            .agg(F.sum("pos").alias("n_pos"),
                 F.sum("neg").alias("n_neg"),
                 F.sum("num2").alias("num2"))
            .select("source", "n_pos", "n_neg",
                    F.round(auc, 6).alias("auc"),
                    F.round(2 * auc - 1, 6).alias("gini"))
            .orderBy("source"))


QUERIES["roc_auc_eval"] = roc_auc_eval
ORACLES["roc_auc_eval"] = f"""
    WITH nb AS ({ORACLES["nb_quality_classifier"]}),
    scored AS (
        SELECT d.source,
               CAST(round(nb.nb_score * {_AUC_U}, 0) AS BIGINT) AS su,
               nb.lang = '{_NB_TARGET_LANG}' AS is_pos
        FROM nb JOIN documents d ON nb.doc_id = d.doc_id
    ), vals AS (
        SELECT source, su,
               CAST(count(*) FILTER (WHERE is_pos) AS BIGINT) AS pos,
               CAST(count(*) FILTER (WHERE NOT is_pos) AS BIGINT) AS neg
        FROM scored GROUP BY 1, 2
    ), contrib AS (
        SELECT source, pos, neg,
               CAST(sum(neg) OVER (PARTITION BY source ORDER BY su
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cneg
        FROM vals
    ), agg AS (
        SELECT source,
               CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(neg) AS BIGINT) AS n_neg,
               CAST(sum(pos * (2 * (cneg - neg) + neg)) AS BIGINT) AS num2
        FROM contrib GROUP BY source
    )
    SELECT source, n_pos, n_neg,
           round(num2 / (2.0 * n_pos * n_neg), 6) AS auc,
           round(2 * (num2 / (2.0 * n_pos * n_neg)) - 1, 6) AS gini
    FROM agg ORDER BY source
"""


def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy (1973) decomposition of the NB classifier's Brier score:
    BS = reliability − resolution + uncertainty (+ a within-bin
    variance residual, since the binned decomposition is exact only
    when predictions are constant inside a bin).  This is the
    forecaster's triptych: reliability says "are the probabilities
    honest", resolution says "do they separate the classes",
    uncertainty is the irreducible base-rate entropy — the quantities
    an isotonic recalibration changes (reliability → 0) vs cannot
    change (resolution, uncertainty).

    Exactness discipline (same as ``nb_calibration_curve``): the
    sigmoid probability is snapped to BIGINT micro-units ``pu``, so
    the total Brier numerator ``Σ (pu − y·1e6)²`` is an exact BIGINT
    sum (each term ≤ 1e12; safe to ~9e6 docs — far past the bench
    SFs; at larger N the sum widens to DECIMAL(38,0), same plan).
    Per-bin means are ratios of integer aggregates; each bin's
    reliability/resolution term is snapped to a 1e-6 grid and summed
    as BIGINT over the 10 ntile bins, so the cross-engine comparison
    never sums raw doubles.

    Scale: rides the NB chain + the distributed exact ntile
    (``operators.ranked.exact_ntile``, r9 — replacing the single-task
    doc-grain global window) + one 10-row aggregate — the reliability
    diagram's exact envelope."""
    from qrapids_forecast_r_script_spark.operators.ranked import exact_ntile
    nb = nb_quality_classifier(spark, sf_dir)
    su = F.round(F.col("nb_score") * 1_000_000, 0).cast("long")
    prob = (F.lit(1.0)
            / (F.lit(1.0) + F.exp(-(F.col("su").cast("double")
                                    / F.lit(1_000_000.0)))))
    scored = (nb.select(
        "doc_id",
        (F.col("lang") == _NB_TARGET_LANG).cast("long").alias("y"),
        su.alias("su"))
        .withColumn("pu", F.round(prob * 1_000_000, 0).cast("long")))
    binned = exact_ntile(scored, _CAL_BINS,
                         [F.col("su"), F.col("doc_id")], "bin")
    per_bin = (binned.groupBy("bin")
               .agg(F.count(F.lit(1)).alias("n_k"),
                    F.sum("pu").alias("sp_k"),
                    F.sum("y").alias("sy_k"),
                    F.sum((F.col("pu") - F.col("y") * 1_000_000)
                          * (F.col("pu") - F.col("y") * 1_000_000))
                    .alias("bs_num_k")))
    # global integer aggregates land in every row via a 1-row cross
    tot = per_bin.agg(F.sum("n_k").alias("n"),
                      F.sum("sy_k").alias("sy"),
                      F.sum("bs_num_k").alias("bs_num"))
    pbar_k = F.col("sp_k").cast("double") / F.col("n_k") / 1_000_000.0
    ybar_k = F.col("sy_k").cast("double") / F.col("n_k")
    ybar = F.col("sy").cast("double") / F.col("n")
    rel_u = F.round(F.col("n_k") * (pbar_k - ybar_k) * (pbar_k - ybar_k)
                    * 1_000_000, 0).cast("long")
    res_u = F.round(F.col("n_k") * (ybar_k - ybar) * (ybar_k - ybar)
                    * 1_000_000, 0).cast("long")
    terms = (per_bin.crossJoin(F.broadcast(tot))
             .select("n", "sy", "bs_num",
                     rel_u.alias("rel_u"), res_u.alias("res_u")))
    g = (terms.groupBy("n", "sy", "bs_num")
         .agg(F.sum("rel_u").alias("rel_su"),
              F.sum("res_u").alias("res_su")))
    brier = F.col("bs_num").cast("double") / F.col("n") / 1e12
    rel = F.col("rel_su").cast("double") / F.col("n") / 1e6
    res = F.col("res_su").cast("double") / F.col("n") / 1e6
    unc = ybar * (1 - ybar)
    return g.select(
        F.col("n").alias("n_docs"),
        F.round(brier, 6).alias("brier"),
        F.round(rel, 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        F.round(brier - (rel - res + unc), 6).alias("within_bin_residual"))


QUERIES["brier_decomposition"] = brier_decomposition
ORACLES["brier_decomposition"] = f"""
    WITH nb AS ({ORACLES["nb_quality_classifier"]}),
    sc AS (
        SELECT doc_id,
               CAST(lang = '{_NB_TARGET_LANG}' AS BIGINT) AS y,
               CAST(round(nb_score * 1000000, 0) AS BIGINT) AS su
        FROM nb
    ), pb AS (
        SELECT *,
               CAST(round(CAST(1 AS DOUBLE)
                          / (CAST(1 AS DOUBLE)
                             + exp(-(CAST(su AS DOUBLE)
                                     / CAST(1000000 AS DOUBLE))))
                          * 1000000, 0) AS BIGINT) AS pu
        FROM sc
    ), binned AS (
        SELECT *, ntile({_CAL_BINS}) OVER (ORDER BY su, doc_id) AS bin
        FROM pb
    ), per_bin AS (
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n_k,
               CAST(sum(pu) AS BIGINT) AS sp_k,
               CAST(sum(y) AS BIGINT) AS sy_k,
               CAST(sum((pu - y * 1000000) * (pu - y * 1000000))
                    AS BIGINT) AS bs_num_k
        FROM binned GROUP BY bin
    ), tot AS (
        SELECT CAST(sum(n_k) AS BIGINT) AS n,
               CAST(sum(sy_k) AS BIGINT) AS sy,
               CAST(sum(bs_num_k) AS BIGINT) AS bs_num
        FROM per_bin
    ), terms AS (
        SELECT t.n, t.sy, t.bs_num,
               CAST(round(p.n_k
                    * (CAST(p.sp_k AS DOUBLE) / p.n_k / 1000000.0
                       - CAST(p.sy_k AS DOUBLE) / p.n_k)
                    * (CAST(p.sp_k AS DOUBLE) / p.n_k / 1000000.0
                       - CAST(p.sy_k AS DOUBLE) / p.n_k)
                    * 1000000, 0) AS BIGINT) AS rel_u,
               CAST(round(p.n_k
                    * (CAST(p.sy_k AS DOUBLE) / p.n_k
                       - CAST(t.sy AS DOUBLE) / t.n)
                    * (CAST(p.sy_k AS DOUBLE) / p.n_k
                       - CAST(t.sy AS DOUBLE) / t.n)
                    * 1000000, 0) AS BIGINT) AS res_u
        FROM per_bin p CROSS JOIN tot t
    ), g AS (
        SELECT n, sy, bs_num,
               CAST(sum(rel_u) AS BIGINT) AS rel_su,
               CAST(sum(res_u) AS BIGINT) AS res_su
        FROM terms GROUP BY n, sy, bs_num
    )
    SELECT n AS n_docs,
           round(CAST(bs_num AS DOUBLE) / n / 1e12, 6) AS brier,
           round(CAST(rel_su AS DOUBLE) / n / 1e6, 6) AS reliability,
           round(CAST(res_su AS DOUBLE) / n / 1e6, 6) AS resolution,
           round((CAST(sy AS DOUBLE) / n) * (1 - CAST(sy AS DOUBLE) / n), 6)
               AS uncertainty,
           round(CAST(bs_num AS DOUBLE) / n / 1e12
                 - (CAST(rel_su AS DOUBLE) / n / 1e6
                    - CAST(res_su AS DOUBLE) / n / 1e6
                    + (CAST(sy AS DOUBLE) / n)
                      * (1 - CAST(sy AS DOUBLE) / n)), 6)
               AS within_bin_residual
    FROM g
"""


_TE_M = 20.0     # smoothing pseudo-count (empirical-Bayes prior weight)


def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out + smoothed target encoding of customer NATION
    against order value — the categorical-feature prep step tabular
    trainers run before boosting (Micci-Barreca 2001: the smoothed
    estimator ``(S + m·ȳ_global)/(n + m)``; the LOO variant excludes
    each row's own target so the feature never leaks its label).
    Per-nation audit row: count, plain mean, the LOO encoding's exact
    RANGE (its min is attained when the costliest order is held out —
    the spread is the leakage the plain mean would inject), the
    smoothed encoding, and the shrinkage weight n/(n+m).

    Exactness: order values become integer CENTS at the scan
    (``round(o_totalprice·100)`` BIGINT — o_totalprice is a 2dp
    price in a double column), so every per-nation aggregate (n, Σ,
    min, max) and the global Σ are exact integers under any
    partitioning; the published encodings are single divisions of
    those integers, rounded at 4dp.  LOO identities: mean(LOO) =
    mean, and (S − y_max)/(n−1) ≤ LOO_i ≤ (S − y_min)/(n−1), so the
    range needs only min/max — no per-row second pass.

    Scale: one orders→customer broadcast-joined scan, one 25-key
    aggregate, one 1-row global cross — the canonical map-side
    pattern; the encoding table itself is dimension-sized and ships
    back to trainers as a broadcast dictionary."""
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    rows = (orders_with_nation(spark, sf_dir)
            .select("nationkey", cents.alias("yc")))
    per = (rows.groupBy("nationkey")
           .agg(F.count(F.lit(1)).alias("n_orders"),
                F.sum("yc").alias("s"),
                F.min("yc").alias("y_min"),
                F.max("yc").alias("y_max")))
    tot = per.agg(F.sum("n_orders").alias("ng"), F.sum("s").alias("sg"))
    gmean = F.col("sg").cast("double") / F.col("ng") / 100.0
    nm1 = F.nullif((F.col("n_orders") - 1).cast("double"), F.lit(0.0))
    return (per.crossJoin(F.broadcast(tot))
            .select(
                "nationkey", "n_orders",
                F.round(F.col("s").cast("double")
                        / F.col("n_orders") / 100.0, 4).alias("mean_price"),
                F.round((F.col("s") - F.col("y_max")).cast("double")
                        / nm1 / 100.0, 4).alias("loo_min"),
                F.round((F.col("s") - F.col("y_min")).cast("double")
                        / nm1 / 100.0, 4).alias("loo_max"),
                F.round((F.col("s").cast("double") / 100.0
                         + F.lit(_TE_M) * gmean)
                        / (F.col("n_orders") + F.lit(_TE_M)), 4)
                .alias("smoothed_encoding"),
                F.round(F.col("n_orders")
                        / (F.col("n_orders") + F.lit(_TE_M)), 6)
                .alias("shrinkage"))
            .orderBy("nationkey"))


QUERIES["target_encoding_loo"] = target_encoding_loo
ORACLES["target_encoding_loo"] = f"""
    WITH rows_ AS (
        SELECT c.c_nationkey AS nationkey,
               CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS yc
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), per AS (
        SELECT nationkey,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(yc) AS BIGINT) AS s,
               CAST(min(yc) AS BIGINT) AS y_min,
               CAST(max(yc) AS BIGINT) AS y_max
        FROM rows_ GROUP BY nationkey
    ), tot AS (
        SELECT CAST(sum(n_orders) AS BIGINT) AS ng,
               CAST(sum(s) AS BIGINT) AS sg
        FROM per
    )
    SELECT p.nationkey, p.n_orders,
           round(CAST(p.s AS DOUBLE) / p.n_orders / 100.0, 4) AS mean_price,
           round(CAST(p.s - p.y_max AS DOUBLE)
                 / nullif(CAST(p.n_orders - 1 AS DOUBLE), 0) / 100.0, 4)
               AS loo_min,
           round(CAST(p.s - p.y_min AS DOUBLE)
                 / nullif(CAST(p.n_orders - 1 AS DOUBLE), 0) / 100.0, 4)
               AS loo_max,
           round((CAST(p.s AS DOUBLE) / 100.0
                  + {_TE_M} * (CAST(t.sg AS DOUBLE) / t.ng / 100.0))
                 / (p.n_orders + {_TE_M}), 4) AS smoothed_encoding,
           round(p.n_orders / (p.n_orders + {_TE_M}), 6) AS shrinkage
    FROM per p CROSS JOIN tot t
    ORDER BY p.nationkey
"""


_NS_VOCAB = 300          # table rows: top-V tokens by frequency
_NS_TABLE = 1 << 20      # sampling-table slots (word2vec uses 1e8; 2^20 here)
_NS_POW = 0.75           # the unigram^0.75 flattening (Mikolov et al. 2013)


def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style negative-sampling table over the corpus unigram
    distribution (Mikolov et al. 2013 §2.2: draw negatives from
    U(w)^0.75/Z — the 3/4 power lifts the tail so rare words are
    sampled often enough to train).  One row per top-300 token:
    rank, count, the flattened probability, its slot allotment in a
    2^20-entry sampling table, and the cumulative slot boundary — the
    exact array a data loader materializes so negative draws are an
    O(1) array index (or a binary search over the cum column).

    Exactness: the only transcendental is pow(count, 0.75), snapped
    to BIGINT micro-units per token (no cross-engine float SUMS — the
    normalizer Z is a BIGINT sum of snapped values, each slot count
    is one rounded division of two integers, and the cumulative
    column sums INTEGER slots).  Truncating to top-V is
    deterministic: (count desc, token asc) ordering.

    Scale: one token aggregate (map-side combined), one V-row window
    — the table is vocabulary-bounded and broadcast-sized by
    construction; the corpus scan is the only data-sized stage.  The
    normalizer Z rides the SAME V-row window as the rank/cum columns
    (unbounded frame) instead of a separate scalar-aggregate branch —
    the r9 fix for the r8 bench watch item: the branch re-ran the
    corpus scan + token aggregate (TakeOrdered blocks exchange reuse,
    so the plan showed documents.parquet twice), doubling the only
    data-sized stage for a 1-row sum over 300 rows."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (docs.select(F.explode(F.split("text", " ")).alias("tok"))
              .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")))
    top = (counts
           .orderBy(F.col("cnt").desc(), F.col("tok").asc())
           .limit(_NS_VOCAB)
           .withColumn("u", F.round(F.pow(F.col("cnt").cast("double"),
                                          F.lit(_NS_POW)) * 1e6, 0)
                       .cast("bigint")))
    w = Window.orderBy(F.col("cnt").desc(), F.col("tok").asc())
    z = F.sum("u").over(
        w.rowsBetween(Window.unboundedPreceding,
                      Window.unboundedFollowing))
    slots = F.round(F.col("u").cast("double") * _NS_TABLE
                    / z.cast("double"), 0).cast("bigint")
    return (top
            .withColumn("rank", F.row_number().over(w))
            .withColumn("slots", slots)
            .withColumn("prob", F.round(F.col("u").cast("double") / z, 6))
            .withColumn("cum_slots",
                        F.sum("slots").over(
                            w.rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)))
            .select("rank", "tok", "cnt", "prob", "slots", "cum_slots"))


QUERIES["negative_sampling_table"] = negative_sampling_table
ORACLES["negative_sampling_table"] = f"""
    WITH counts AS (
        SELECT unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), cnts AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        FROM counts GROUP BY tok
    ), top AS (
        SELECT tok, cnt,
               CAST(round(pow(CAST(cnt AS DOUBLE), {_NS_POW}) * 1e6, 0)
                    AS BIGINT) AS u
        FROM cnts ORDER BY cnt DESC, tok ASC LIMIT {_NS_VOCAB}
    ), z AS (SELECT CAST(sum(u) AS BIGINT) AS z FROM top),
    ranked AS (
        SELECT t.tok, t.cnt, t.u, z.z,
               row_number() OVER (ORDER BY t.cnt DESC, t.tok ASC) AS rank,
               CAST(round(CAST(t.u AS DOUBLE) * {_NS_TABLE}
                          / CAST(z.z AS DOUBLE), 0) AS BIGINT) AS slots
        FROM top t CROSS JOIN z
    )
    SELECT rank, tok, cnt,
           round(CAST(u AS DOUBLE) / z, 6) AS prob,
           slots,
           CAST(sum(slots) OVER (ORDER BY rank
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_slots
    FROM ranked
"""


def isotonic_calibration_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic recalibration of the NB classifier's reliability curve
    — the PAV (pool-adjacent-violators) fit `nb_calibration_curve`
    promises its gap column to: per score decile, the monotone
    probability that minimizes squared error against the empirical
    positive rates (Zadrozny & Elkan 2002).  Declarative PAV: Spark
    has no sequential pooling loop, but isotonic regression has the
    exact minimax closed form ``iso(k) = max_{i≤k} min_{j≥k}
    avg(y over bins i..j)`` (Ayer et al. 1955), and with K = 10 ntile
    bins that is a 55-row interval relation — three tiny joins
    instead of an iterative merge, bit-equal to textbook PAV (pinned
    brute-force in tests).

    Exactness: interval averages are single divisions of cumulative
    INTEGER (count, positive) sums; min/max over doubles involve no
    accumulation, so both engines agree to the bit before the final
    6dp rounding.

    Scale: rides the NB chain + the distributed exact ntile
    (``operators.ranked.exact_ntile``, r9 — replacing the single-task
    doc-grain global window); the PAV itself is K²-row work on
    broadcast-sized aggregates — the recalibration map ships to
    serving as a 10-row lookup."""
    from qrapids_forecast_r_script_spark.operators.ranked import exact_ntile
    nb = nb_quality_classifier(spark, sf_dir)
    su = F.round(F.col("nb_score") * 1_000_000, 0).cast("long")
    binned = exact_ntile(
        nb.select(
            "doc_id",
            (F.col("lang") == _NB_TARGET_LANG).cast("long").alias("y"),
            su.alias("su")),
        _CAL_BINS,
        [F.col("su"), F.col("doc_id")], "bin")
    per = (binned.groupBy("bin")
           .agg(F.count(F.lit(1)).alias("n_k"), F.sum("y").alias("sy_k")))
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow)
    cum = (per.withColumn("cn", F.sum("n_k").over(wc))
           .withColumn("cy", F.sum("sy_k").over(wc))
           .select("bin", "n_k", "sy_k", "cn", "cy")
           .localCheckpoint())
    lo = cum.select(F.col("bin").alias("i"),
                    (F.col("cn") - F.col("n_k")).alias("cn0"),
                    (F.col("cy") - F.col("sy_k")).alias("cy0"))
    hi = cum.select(F.col("bin").alias("j"),
                    F.col("cn").alias("cn1"), F.col("cy").alias("cy1"))
    ranges = (lo.crossJoin(F.broadcast(hi))
              .where(F.col("i") <= F.col("j"))
              .select("i", "j",
                      ((F.col("cy1") - F.col("cy0")).cast("double")
                       / (F.col("cn1") - F.col("cn0")).cast("double"))
                      .alias("avg_y")))
    ks = cum.select(F.col("bin").alias("k"))
    inner = (ks.join(F.broadcast(ranges), (F.col("i") <= F.col("k"))
                     & (F.col("j") >= F.col("k")))
             .groupBy("k", "i").agg(F.min("avg_y").alias("min_j")))
    iso = inner.groupBy("k").agg(F.max("min_j").alias("iso"))
    return (cum.join(iso, cum.bin == iso.k)
            .select("bin", "n_k",
                    F.round(F.col("sy_k").cast("double")
                            / F.col("n_k"), 6).alias("raw_rate"),
                    F.round("iso", 6).alias("iso_rate"))
            .orderBy("bin"))


QUERIES["isotonic_calibration_map"] = isotonic_calibration_map
ORACLES["isotonic_calibration_map"] = f"""
    WITH nb AS ({ORACLES["nb_quality_classifier"]}),
    binned AS (
        SELECT doc_id,
               CAST(lang = '{_NB_TARGET_LANG}' AS BIGINT) AS y,
               ntile({_CAL_BINS}) OVER (
                   ORDER BY CAST(round(nb_score * 1000000, 0) AS BIGINT),
                            doc_id) AS bin
        FROM nb
    ), per AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n_k,
               CAST(sum(y) AS BIGINT) AS sy_k
        FROM binned GROUP BY bin
    ), cum AS (
        SELECT bin, n_k, sy_k,
               CAST(sum(n_k) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cn,
               CAST(sum(sy_k) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cy
        FROM per
    ), ranges AS (
        SELECT l.bin AS i, h.bin AS j,
               CAST(h.cy - (l.cy - l.sy_k) AS DOUBLE)
                   / CAST(h.cn - (l.cn - l.n_k) AS DOUBLE) AS avg_y
        FROM cum l CROSS JOIN cum h WHERE l.bin <= h.bin
    ), inner_min AS (
        SELECT c.bin AS k, r.i, min(r.avg_y) AS min_j
        FROM cum c JOIN ranges r ON r.i <= c.bin AND r.j >= c.bin
        GROUP BY c.bin, r.i
    ), iso AS (
        SELECT k, max(min_j) AS iso FROM inner_min GROUP BY k
    )
    SELECT c.bin, c.n_k,
           round(CAST(c.sy_k AS DOUBLE) / c.n_k, 6) AS raw_rate,
           round(i.iso, 6) AS iso_rate
    FROM cum c JOIN iso i ON c.bin = i.k
    ORDER BY c.bin
"""


def cumulative_gain_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-gains / lift table for the NB quality ranking —
    AUC's operational companion: rank the corpus by score DESCENDING,
    cut into deciles, and report what fraction of all positives the
    top-k deciles capture and the lift over random targeting — the
    "review only the top 20% and catch 55% of the good docs" read a
    curation budget decision actually consumes (the CAP curve in
    credit scoring, Siddiqi 2006).

    All-integer: decile cuts are ntile over the fixed-point score
    (descending, doc_id tiebreak); capture and lift are single
    divisions of cumulative BIGINT counts, rounded at 6dp.

    Scale: the NB chain + the distributed exact ntile
    (``operators.ranked.exact_ntile``, r9 — replacing the single-task
    doc-grain global window) + a 10-row cumulative window — same
    envelope as the calibration curve."""
    from qrapids_forecast_r_script_spark.operators.ranked import exact_ntile
    nb = nb_quality_classifier(spark, sf_dir)
    su = F.round(F.col("nb_score") * 1_000_000, 0).cast("long")
    binned = exact_ntile(
        nb.select(
            "doc_id",
            (F.col("lang") == _NB_TARGET_LANG).cast("long").alias("y"),
            su.alias("su")),
        _CAL_BINS,
        [F.col("su").desc(), F.col("doc_id")], "decile")
    per = (binned.groupBy("decile")
           .agg(F.count(F.lit(1)).alias("n_k"), F.sum("y").alias("pos_k")))
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding,
                                              Window.currentRow)
    tot = per.agg(F.sum("n_k").alias("n"), F.sum("pos_k").alias("pos"))
    cum = (per.withColumn("cn", F.sum("n_k").over(wc))
           .withColumn("cpos", F.sum("pos_k").over(wc))
           .crossJoin(F.broadcast(tot)))
    capture = F.col("cpos").cast("double") / F.col("pos")
    lift = ((F.col("cpos").cast("double") / F.col("cn"))
            / (F.col("pos").cast("double") / F.col("n")))
    return (cum.select("decile", "n_k", "pos_k",
                       F.round(capture, 6).alias("cum_capture"),
                       F.round(lift, 6).alias("lift"))
            .orderBy("decile"))


QUERIES["cumulative_gain_curve"] = cumulative_gain_curve
ORACLES["cumulative_gain_curve"] = f"""
    WITH nb AS ({ORACLES["nb_quality_classifier"]}),
    binned AS (
        SELECT doc_id,
               CAST(lang = '{_NB_TARGET_LANG}' AS BIGINT) AS y,
               ntile({_CAL_BINS}) OVER (
                   ORDER BY CAST(round(nb_score * 1000000, 0) AS BIGINT)
                                DESC, doc_id) AS decile
        FROM nb
    ), per AS (
        SELECT decile, CAST(count(*) AS BIGINT) AS n_k,
               CAST(sum(y) AS BIGINT) AS pos_k
        FROM binned GROUP BY decile
    ), tot AS (
        SELECT CAST(sum(n_k) AS BIGINT) AS n,
               CAST(sum(pos_k) AS BIGINT) AS pos
        FROM per
    ), cum AS (
        SELECT decile, n_k, pos_k,
               CAST(sum(n_k) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cn,
               CAST(sum(pos_k) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cpos
        FROM per
    )
    SELECT c.decile, c.n_k, c.pos_k,
           round(CAST(c.cpos AS DOUBLE) / t.pos, 6) AS cum_capture,
           round((CAST(c.cpos AS DOUBLE) / c.cn)
                 / (CAST(t.pos AS DOUBLE) / t.n), 6) AS lift
    FROM cum c CROSS JOIN tot t
    ORDER BY c.decile
"""


_WOE_K = 0.5      # Jeffreys add-k on good/bad cells (zero-cell guard)


def woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding + information value of customer
    NATION against the high-value-order target (Siddiqi 2006, the
    credit-scorecard screening standard; IV < 0.02 = useless
    predictor, > 0.3 = strong): WoE_i = ln((good_i/G)/(bad_i/B))
    with add-0.5 smoothing, IV = Σ(good_i/G − bad_i/B)·WoE_i — the
    feature-screening pass that decides which categoricals earn a
    slot in the model, and the monotone-risk encoding the scorecard
    then consumes (the supervised sibling of the unsupervised
    `target_encoding_loo`).

    Target: order value above the GLOBAL MEAN (an exact integer-cents
    ratio — no quantile pass needed).  Exactness: every count is
    BIGINT; WoE is one ln of a ratio of smoothed integer ratios per
    nation (25 of them), the IV terms snap to the 1e-9 grid and
    BIGINT-sum, so the total IV is order-proof.

    Scale: orders→customer broadcast join, one 25-key count
    aggregate, one 1-row cross — the encoding is dimension-sized."""
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    rows = (orders_with_nation(spark, sf_dir)
            .select("nationkey", cents.alias("yc")))
    mean = rows.agg((F.sum("yc") / F.count(F.lit(1))).alias("mu"))
    lab = (rows.crossJoin(F.broadcast(mean))
           .select("nationkey",
                   (F.col("yc") > F.col("mu")).alias("is_good")))
    # r9 (guide §2.4): cut at the 25-nation count table — tot/scored and
    # iv_tot/final each reference their parent twice, so the uncut plan
    # re-ran the orders⋈customer chain (with its own mean double-scan)
    # 2^3 times for a 25-row output
    per = (lab.groupBy("nationkey")
           .agg(F.count(F.when(F.col("is_good"), 1)).alias("good"),
                F.count(F.when(~F.col("is_good"), 1)).alias("bad"))
           .localCheckpoint())
    tot = per.agg(F.sum("good").alias("g"), F.sum("bad").alias("b"))
    pg = (F.col("good") + _WOE_K) / (F.col("g") + 2 * _WOE_K)
    pb = (F.col("bad") + _WOE_K) / (F.col("b") + 2 * _WOE_K)
    woe = F.round(F.log(pg / pb), 6)
    ivu = F.round((pg - pb) * F.log(pg / pb) * 1e9, 0).cast("long")
    scored = (per.crossJoin(F.broadcast(tot))
              .withColumn("woe", woe)
              .withColumn("ivu", ivu))
    iv_tot = scored.agg(F.sum("ivu").alias("iv_su"))
    return (scored.crossJoin(F.broadcast(iv_tot))
            .select("nationkey", "good", "bad", "woe",
                    F.round(F.col("ivu") / 1e9, 6).alias("iv_term"),
                    F.round(F.col("iv_su") / 1e9, 6).alias("iv_total"))
            .orderBy("nationkey"))


QUERIES["woe_information_value"] = woe_information_value
ORACLES["woe_information_value"] = f"""
    WITH rows_ AS (
        SELECT c.c_nationkey AS nationkey,
               CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS yc
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), mu AS (
        SELECT CAST(sum(yc) AS BIGINT) / CAST(count(*) AS DOUBLE) AS mu
        FROM rows_
    ), per AS (
        SELECT nationkey,
               CAST(count(*) FILTER (WHERE yc > m.mu) AS BIGINT) AS good,
               CAST(count(*) FILTER (WHERE yc <= m.mu) AS BIGINT) AS bad
        FROM rows_ CROSS JOIN mu m GROUP BY nationkey
    ), tot AS (
        SELECT CAST(sum(good) AS BIGINT) AS g,
               CAST(sum(bad) AS BIGINT) AS b
        FROM per
    ), scored AS (
        SELECT p.nationkey, p.good, p.bad,
               round(ln(((p.good + {_WOE_K}) / (t.g + 2 * {_WOE_K}))
                        / ((p.bad + {_WOE_K}) / (t.b + 2 * {_WOE_K}))),
                     6) AS woe,
               CAST(round((((p.good + {_WOE_K}) / (t.g + 2 * {_WOE_K}))
                           - ((p.bad + {_WOE_K}) / (t.b + 2 * {_WOE_K})))
                          * ln(((p.good + {_WOE_K})
                                / (t.g + 2 * {_WOE_K}))
                               / ((p.bad + {_WOE_K})
                                  / (t.b + 2 * {_WOE_K})))
                          * 1e9, 0) AS BIGINT) AS ivu
        FROM per p CROSS JOIN tot t
    ), ivt AS (
        SELECT CAST(sum(ivu) AS BIGINT) AS iv_su FROM scored
    )
    SELECT s.nationkey, s.good, s.bad, s.woe,
           round(s.ivu / 1e9, 6) AS iv_term,
           round(i.iv_su / 1e9, 6) AS iv_total
    FROM scored s CROSS JOIN ivt i
    ORDER BY s.nationkey
"""


_ALS_LAMBDA = 0.1    # ridge regularizer
_ALS_TOP = 20        # reported item rows (most-rated parts)
_ALS_H = 2147483648  # 2^31 — centering constant for the dyadic init
_ALS_M = 4294967296  # 2^32


def als_rank2_factors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE full alternating-least-squares sweep (users then items) of
    a RANK-2 implicit-count factorization of the customer x part
    purchase matrix (Koren/Bell/Volinsky 2009; Zhou et al. 2008 for
    the ALS schedule) — the recommender-training operator class, run
    EXACTLY: at rank 2 each ALS solve is a closed-form 2x2 ridge
    inverse, so the whole sweep is joins + aggregates + one division
    per factor, no iterative solver and no RNG.

    Exactness engineering: item factors initialize to q = (1, f_i)
    with f_i = (Knuth-hash(i) - 2^31)/2^32 — a DYADIC rational, so
    the entire USER half-step is exact integer arithmetic: the
    normal-matrix entries are (n_i, sum f_i in 2^-32 units [BIGINT],
    sum f_i^2 in 2^-64 units [DECIMAL(38,0)/HUGEINT]) and the
    moment vector is (sum r, sum r*f) likewise; only the final 2x2
    solve divides.  User factors then snap to the 1e-9 grid, the
    ITEM half-step BIGINT-sums 1e-12-snapped products of snapped
    factors, and its solves divide once — every driver-hash-relevant
    value is a deterministic function of integer aggregates.

    Output: the ALS-updated factors for the 20 most-rated parts.

    Scale: ratings = one lineitem+orders aggregate (the data-sized
    stage); each half-step is ONE groupBy over ratings keyed by the
    side being solved — the textbook distributed-ALS shape (factor
    tables shuffle, ratings scan twice); rank is the knob and the
    2x2 closed form generalizes to small-k Cholesky."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey")
    ratings = (li.join(orders, li.l_orderkey == orders.o_orderkey)
               .groupBy(F.col("o_custkey").alias("cust"),
                        F.col("l_partkey").alias("item"))
               .agg(F.count(F.lit(1)).alias("r")))
    # dyadic item init: fu = hash - 2^31 (exact 2^-32 units)
    fu = (F.pmod(F.col("item") * F.lit(2654435761),
                 F.lit(_ALS_M)) - F.lit(_ALS_H)).cast("long")
    rated = ratings.withColumn("fu", fu)
    # USER solve — exact integer normal equations
    ua = (rated.groupBy("cust")
          .agg(F.count(F.lit(1)).alias("n"),
               F.sum("fu").alias("sf"),
               F.sum(F.col("fu").cast("decimal(38,0)")
                     * F.col("fu")).alias("sff"),
               F.sum("r").alias("sr"),
               F.sum(F.col("r") * F.col("fu")).alias("srf")))
    lam = float(_ALS_LAMBDA)
    a11 = F.col("n").cast("double") + F.lit(lam)
    a12 = F.col("sf").cast("double") / F.lit(float(_ALS_M))
    a22 = (F.col("sff").cast("double")
           / F.lit(float(_ALS_M)) / F.lit(float(_ALS_M))
           + F.lit(lam))
    b1 = F.col("sr").cast("double")
    b2 = F.col("srf").cast("double") / F.lit(float(_ALS_M))
    det = a11 * a22 - a12 * a12
    p1 = F.round((a22 * b1 - a12 * b2) / det * 1e9, 0).cast("bigint")
    p2 = F.round((a11 * b2 - a12 * b1) / det * 1e9, 0).cast("bigint")
    users = ua.select("cust", p1.alias("p1u"), p2.alias("p2u"))
    # ITEM solve — 1e-12-snapped products of 1e-9-snapped factors
    j = ratings.join(users, "cust")
    d1 = F.col("p1u").cast("double") / 1e9
    d2 = F.col("p2u").cast("double") / 1e9
    ia = (j.groupBy("item")
          .agg(F.count(F.lit(1)).alias("n_ratings"),
               F.sum(F.round(d1 * d1 * 1e12, 0).cast("bigint"))
               .alias("s11"),
               F.sum(F.round(d1 * d2 * 1e12, 0).cast("bigint"))
               .alias("s12"),
               F.sum(F.round(d2 * d2 * 1e12, 0).cast("bigint"))
               .alias("s22"),
               F.sum(F.round(F.col("r") * d1 * 1e12, 0).cast("bigint"))
               .alias("t1"),
               F.sum(F.round(F.col("r") * d2 * 1e12, 0).cast("bigint"))
               .alias("t2")))
    ja11 = F.col("s11") / 1e12 + F.lit(lam)
    ja12 = F.col("s12") / 1e12
    ja22 = F.col("s22") / 1e12 + F.lit(lam)
    jb1 = F.col("t1") / 1e12
    jb2 = F.col("t2") / 1e12
    jdet = ja11 * ja22 - ja12 * ja12
    q1 = F.round((ja22 * jb1 - ja12 * jb2) / jdet, 6)
    q2 = F.round((ja11 * jb2 - ja12 * jb1) / jdet, 6)
    return (ia.select("item", "n_ratings",
                      q1.alias("q1"), q2.alias("q2"))
            .orderBy(F.col("n_ratings").desc(), F.col("item").asc())
            .limit(_ALS_TOP)
            .select(F.col("item").alias("p_partkey"), "n_ratings",
                    "q1", "q2"))


QUERIES["als_rank2_factors"] = als_rank2_factors
ORACLES["als_rank2_factors"] = f"""
    WITH ratings AS (
        SELECT o.o_custkey AS cust, l.l_partkey AS item,
               CAST(count(*) AS BIGINT) AS r
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ), rated AS (
        SELECT *, CAST((item * 2654435761) % {_ALS_M} - {_ALS_H}
                       AS BIGINT) AS fu
        FROM ratings
    ), ua AS (
        SELECT cust, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(fu) AS BIGINT) AS sf,
               CAST(sum(CAST(fu AS HUGEINT) * fu) AS HUGEINT) AS sff,
               CAST(sum(r) AS BIGINT) AS sr,
               CAST(sum(r * fu) AS BIGINT) AS srf
        FROM rated GROUP BY cust
    ), users AS (
        SELECT cust,
               CAST(round(((CAST(sff AS DOUBLE) / {_ALS_M}.0
                            / {_ALS_M}.0 + {_ALS_LAMBDA})
                           * CAST(sr AS DOUBLE)
                           - (CAST(sf AS DOUBLE) / {_ALS_M}.0)
                             * (CAST(srf AS DOUBLE) / {_ALS_M}.0))
                          / ((CAST(n AS DOUBLE) + {_ALS_LAMBDA})
                             * (CAST(sff AS DOUBLE) / {_ALS_M}.0
                                / {_ALS_M}.0 + {_ALS_LAMBDA})
                             - (CAST(sf AS DOUBLE) / {_ALS_M}.0)
                               * (CAST(sf AS DOUBLE) / {_ALS_M}.0))
                          * 1e9, 0) AS BIGINT) AS p1u,
               CAST(round(((CAST(n AS DOUBLE) + {_ALS_LAMBDA})
                           * (CAST(srf AS DOUBLE) / {_ALS_M}.0)
                           - (CAST(sf AS DOUBLE) / {_ALS_M}.0)
                             * CAST(sr AS DOUBLE))
                          / ((CAST(n AS DOUBLE) + {_ALS_LAMBDA})
                             * (CAST(sff AS DOUBLE) / {_ALS_M}.0
                                / {_ALS_M}.0 + {_ALS_LAMBDA})
                             - (CAST(sf AS DOUBLE) / {_ALS_M}.0)
                               * (CAST(sf AS DOUBLE) / {_ALS_M}.0))
                          * 1e9, 0) AS BIGINT) AS p2u
        FROM ua
    ), ia AS (
        SELECT rr.item, CAST(count(*) AS BIGINT) AS n_ratings,
               CAST(sum(CAST(round((u.p1u / 1e9) * (u.p1u / 1e9)
                                   * 1e12, 0) AS BIGINT)) AS BIGINT)
                   AS s11,
               CAST(sum(CAST(round((u.p1u / 1e9) * (u.p2u / 1e9)
                                   * 1e12, 0) AS BIGINT)) AS BIGINT)
                   AS s12,
               CAST(sum(CAST(round((u.p2u / 1e9) * (u.p2u / 1e9)
                                   * 1e12, 0) AS BIGINT)) AS BIGINT)
                   AS s22,
               CAST(sum(CAST(round(rr.r * (u.p1u / 1e9) * 1e12, 0)
                             AS BIGINT)) AS BIGINT) AS t1,
               CAST(sum(CAST(round(rr.r * (u.p2u / 1e9) * 1e12, 0)
                             AS BIGINT)) AS BIGINT) AS t2
        FROM ratings rr JOIN users u USING (cust)
        GROUP BY rr.item
    )
    SELECT item AS p_partkey, n_ratings,
           round(((s22 / 1e12 + {_ALS_LAMBDA}) * (t1 / 1e12)
                  - (s12 / 1e12) * (t2 / 1e12))
                 / ((s11 / 1e12 + {_ALS_LAMBDA})
                    * (s22 / 1e12 + {_ALS_LAMBDA})
                    - (s12 / 1e12) * (s12 / 1e12)), 6) AS q1,
           round(((s11 / 1e12 + {_ALS_LAMBDA}) * (t2 / 1e12)
                  - (s12 / 1e12) * (t1 / 1e12))
                 / ((s11 / 1e12 + {_ALS_LAMBDA})
                    * (s22 / 1e12 + {_ALS_LAMBDA})
                    - (s12 / 1e12) * (s12 / 1e12)), 6) AS q2
    FROM ia
    ORDER BY n_ratings DESC, item ASC LIMIT {_ALS_TOP}
"""


_LC_FRACS = (25, 50, 75)   # training slices (Knuth-hash percent)
_LC_EVAL = 75              # fixed held-out eval slice: hash >= 75


def nb_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARNING CURVE of the Naive-Bayes quality classifier: retrain
    `nb_quality_classifier`'s closed form on deterministic 25/50/75%
    training slices (the Knuth-hash rule — nested, so each slice
    contains the previous one) and score each model on the SAME
    fixed held-out 25% (hash >= 75) — the "does more data help"
    read that decides whether the next crawl buys accuracy or just
    tokens (the scaling-law experiment, run exactly at toy scale;
    cf. the sample-efficiency curves in Kaplan et al. 2020 and every
    halving-ablation since).

    One row per fraction: training doc/token counts and held-out
    teacher-agreement accuracy.  Determinism: slices are pure hash
    functions of doc_id; each model's weights/prior follow the NB
    query's 1e-6 fixed-point discipline, so the verdict per eval doc
    is an integer comparison and accuracy is an integer ratio.

    Scale: 3 passes over the token stream (one per slice — at 100 TB
    train the largest slice once and down-weight with per-slice
    count columns instead); weights stay vocabulary-bounded
    broadcasts; the eval join is the same keyed join the base
    classifier runs."""
    from .curation import _hash_pct
    docs = load_table(spark, sf_dir, "documents")
    bucket = _hash_pct(F.col("doc_id"))
    # r9 measurement note (guide §1): the "obvious" cut — checkpoint
    # the token stream once + each slice's vocab count table — was
    # A/B-measured 1.37× SLOWER (med-of-3 × 3 alternations: 1.69 s →
    # 2.32 s): materializing the doc×token stream costs more than the
    # re-tokenizes it saves, and the per-slice count cuts serialize
    # three extra jobs.  The uncut lazy form stays.
    toks_all = docs.select(
        "doc_id", "lang", bucket.alias("bkt"),
        (F.col("lang") == _NB_TARGET_LANG).alias("is_pos"),
        F.explode(F.split("text", " ")).alias("tok"))
    eval_toks = toks_all.where(F.col("bkt") >= _LC_EVAL)
    outs = []
    for frac in _LC_FRACS:
        train = toks_all.where(F.col("bkt") < frac)
        counts = (train.groupBy("tok")
                  .agg(F.count(F.when(F.col("is_pos"), 1))
                       .alias("c_pos"),
                       F.count(F.when(~F.col("is_pos"), 1))
                       .alias("c_neg")))
        totals = counts.agg(
            F.sum("c_pos").cast("double").alias("t_pos"),
            F.sum("c_neg").cast("double").alias("t_neg"),
            F.count(F.lit(1)).cast("double").alias("v"))
        weights = (counts.crossJoin(F.broadcast(totals))
                   .select("tok", F.round(
                       (F.log((F.col("c_pos") + _NB_K)
                              / (F.col("t_pos") + _NB_K * F.col("v")))
                        - F.log((F.col("c_neg") + _NB_K)
                                / (F.col("t_neg")
                                   + _NB_K * F.col("v"))))
                       * 1e6, 0).cast("bigint").alias("w6")))
        tdocs = docs.where(bucket < frac)
        prior = tdocs.agg(
            F.round(F.log(
                F.count(F.when(F.col("lang") == _NB_TARGET_LANG, 1))
                .cast("double")
                / F.count(F.when(F.col("lang") != _NB_TARGET_LANG, 1))
                .cast("double")) * 1e6, 0).cast("bigint")
            .alias("prior6"))
        tstats = tdocs.select(
            F.count(F.lit(1)).alias("n_train_docs")).crossJoin(
            train.agg(F.count(F.lit(1)).alias("n_train_tokens")))
        scored = (eval_toks.join(F.broadcast(weights), "tok")
                  .groupBy("doc_id", "lang")
                  .agg(F.sum("w6").alias("s6"))
                  .crossJoin(F.broadcast(prior))
                  .withColumn("score6", F.col("prior6") + F.col("s6")))
        acc = scored.agg(
            F.count(F.lit(1)).alias("n_eval_docs"),
            F.count(F.when(
                (F.col("score6") > 0)
                == (F.col("lang") == _NB_TARGET_LANG), 1))
            .alias("hits"))
        outs.append(
            tstats.crossJoin(F.broadcast(acc))
            .select(F.lit(frac).cast("int").alias("train_pct"),
                    "n_train_docs", "n_train_tokens", "n_eval_docs",
                    "hits",
                    F.round(F.col("hits")
                            / F.col("n_eval_docs").cast("double"), 6)
                    .alias("accuracy")))
    out = outs[0]
    for o in outs[1:]:
        out = out.union(o)
    return out.orderBy("train_pct")


QUERIES["nb_learning_curve"] = nb_learning_curve


def _lc_frac_sql(frac: int) -> str:
    return f"""
        SELECT {frac} AS train_pct,
               (SELECT CAST(count(*) AS BIGINT) FROM documents
                WHERE ((doc_id * 2654435761) % 4294967296) % 100
                      < {frac}) AS n_train_docs,
               (SELECT CAST(count(*) AS BIGINT) FROM toks
                WHERE bkt < {frac}) AS n_train_tokens,
               CAST(count(*) AS BIGINT) AS n_eval_docs,
               CAST(count(*) FILTER (WHERE (score6 > 0)
                    = (lang = '{_NB_TARGET_LANG}')) AS BIGINT) AS hits,
               round(count(*) FILTER (WHERE (score6 > 0)
                     = (lang = '{_NB_TARGET_LANG}'))
                     / CAST(count(*) AS DOUBLE), 6) AS accuracy
        FROM (
            SELECT e.doc_id, e.lang,
                   p.prior6 + sum(w.w6) AS score6
            FROM toks e
            JOIN (
                SELECT tok,
                       CAST(round((ln((c_pos + {_NB_K})
                                      / (t_pos + {_NB_K} * v))
                                   - ln((c_neg + {_NB_K})
                                        / (t_neg + {_NB_K} * v)))
                                  * 1e6, 0) AS BIGINT) AS w6
                FROM (
                    SELECT tok,
                           CAST(count(*) FILTER (WHERE is_pos)
                                AS BIGINT) AS c_pos,
                           CAST(count(*) FILTER (WHERE NOT is_pos)
                                AS BIGINT) AS c_neg
                    FROM toks WHERE bkt < {frac} GROUP BY tok
                ) c CROSS JOIN (
                    SELECT CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0
                                    END) AS DOUBLE) AS t_pos,
                           CAST(sum(CASE WHEN is_pos THEN 0 ELSE 1
                                    END) AS DOUBLE) AS t_neg,
                           CAST(count(DISTINCT tok) AS DOUBLE) AS v
                    FROM toks WHERE bkt < {frac}
                ) t
            ) w ON w.tok = e.tok
            CROSS JOIN (
                SELECT CAST(round(ln(
                           count(*) FILTER (
                               WHERE lang = '{_NB_TARGET_LANG}')
                           / CAST(count(*) FILTER (
                               WHERE lang != '{_NB_TARGET_LANG}')
                               AS DOUBLE)) * 1e6, 0) AS BIGINT)
                           AS prior6
                FROM documents
                WHERE ((doc_id * 2654435761) % 4294967296) % 100
                      < {frac}
            ) p
            WHERE e.bkt >= {_LC_EVAL}
            GROUP BY e.doc_id, e.lang, p.prior6
        )
    """


ORACLES["nb_learning_curve"] = f"""
    WITH toks AS (
        SELECT doc_id, lang,
               ((doc_id * 2654435761) % 4294967296) % 100 AS bkt,
               lang = '{_NB_TARGET_LANG}' AS is_pos,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    )
    {" UNION ALL ".join(f"({_lc_frac_sql(f)})" for f in _LC_FRACS)}
    ORDER BY train_pct
"""


_PLATT_STEPS = 2   # unrolled Newton-Raphson steps


def platt_scaling_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLATT SCALING of the NB quality score (Platt 1999): fit
    P(target | s) = sigmoid(a*s + b) by TWO unrolled Newton-Raphson
    steps on the logistic log-loss — the parametric calibrator next
    to the non-parametric `isotonic_calibration_map`, and the
    iterative-optimizer operator class (gradient + Hessian
    aggregates, closed-form 2x2 solve per step) run exactly: both
    engines replay the identical step-by-step trace from the (0, 0)
    start, so the oracle pins the Newton algebra itself.

    Per step: gradient g = (sum (p-y) s, sum (p-y)), Hessian
    H = [[sum w s^2, sum w s], [sum w s, sum w]] with w = p(1-p),
    delta = H^-1 g, (a,b) <- (a,b) - delta.  Every per-row
    contribution snaps to the 1e-9 grid and BIGINT-sums (the GMM
    discipline), each solve divides once by the 2x2 determinant;
    parameters snap at 1e-9 between steps.  Output: one row per
    step with (a, b) and the BIGINT-summed mean log-loss — which
    must DECREASE step over step (pinned in tests; Newton on a
    convex loss).

    Scale: each step is ONE aggregate over the scored stream against
    2 broadcast scalars — the distributed-GLM shape (sufficient
    statistics reduce, parameters broadcast back); steps are the
    knob."""
    scored = (nb_quality_classifier(spark, sf_dir)
              .select(F.col("nb_score").alias("s"),
                      (F.col("lang") == _NB_TARGET_LANG)
                      .cast("int").alias("y"))
              .localCheckpoint(eager=True))

    def su(col):
        return F.sum(F.round(col * 1e9, 0).cast("bigint"))

    import math as _m

    def _rnd(x, n):
        # half-AWAY-from-zero, matching SQL round() — python round()
        # is banker's and would fork the trace at .5 boundaries
        s = 10.0 ** n
        return _m.copysign(_m.floor(abs(x) * s + 0.5), x) / s

    a, b = 0.0, 0.0
    rows = []
    for step in range(1, _PLATT_STEPS + 1):
        z = F.lit(a) * F.col("s") + F.lit(b)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        w = p * (1 - p)
        agg = scored.agg(
            F.count(F.lit(1)).alias("n"),
            su((p - F.col("y")) * F.col("s")).alias("ga"),
            su(p - F.col("y")).alias("gb"),
            su(w * F.col("s") * F.col("s")).alias("hss"),
            su(w * F.col("s")).alias("hs"),
            su(w).alias("hw"),
            su(F.when(F.col("y") == 1, -F.log(p))
              .otherwise(-F.log(1 - p))).alias("ll")).first()
        ga, gb = agg.ga / 1e9, agg.gb / 1e9
        hss, hs, hw = agg.hss / 1e9, agg.hs / 1e9, agg.hw / 1e9
        det = hss * hw - hs * hs
        da = (hw * ga - hs * gb) / det
        db = (hss * gb - hs * ga) / det
        rows.append((step, _rnd(a, 9), _rnd(b, 9),
                     _rnd(agg.ll / 1e9 / agg.n, 6)))
        a = _rnd(a - da, 9)
        b = _rnd(b - db, 9)
    # final parameters + post-step loss
    zf = F.lit(a) * F.col("s") + F.lit(b)
    pf = F.lit(1.0) / (F.lit(1.0) + F.exp(-zf))
    fin = scored.agg(
        F.count(F.lit(1)).alias("n"),
        su(F.when(F.col("y") == 1, -F.log(pf))
          .otherwise(-F.log(1 - pf))).alias("ll")).first()
    rows.append((_PLATT_STEPS + 1, a, b,
                 _rnd(fin.ll / 1e9 / fin.n, 6)))
    return spark.createDataFrame(
        rows, "step int, a double, b double, mean_logloss double") \
        .orderBy("step")


QUERIES["platt_scaling_fit"] = platt_scaling_fit


def _platt_agg_sql(it: int, prev: str) -> str:
    """Aggregate CTE for one Newton step given params CTE `prev`
    (columns a, b) + the derived next-params CTE."""
    p = f"(1.0 / (1.0 + exp(-(q.a * t.s + q.b))))"
    return f"""
    agg{it} AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(({p} - t.y) * t.s * 1e9, 0)
                    AS BIGINT)) AS BIGINT) AS ga,
               CAST(sum(CAST(round(({p} - t.y) * 1e9, 0) AS BIGINT))
                    AS BIGINT) AS gb,
               CAST(sum(CAST(round({p} * (1 - {p}) * t.s * t.s * 1e9,
                    0) AS BIGINT)) AS BIGINT) AS hss,
               CAST(sum(CAST(round({p} * (1 - {p}) * t.s * 1e9, 0)
                    AS BIGINT)) AS BIGINT) AS hs,
               CAST(sum(CAST(round({p} * (1 - {p}) * 1e9, 0)
                    AS BIGINT)) AS BIGINT) AS hw,
               CAST(sum(CAST(round(CASE WHEN t.y = 1
                        THEN -ln({p}) ELSE -ln(1 - {p}) END * 1e9, 0)
                    AS BIGINT)) AS BIGINT) AS ll,
               any_value(q.a) AS a, any_value(q.b) AS b
        FROM scored t CROSS JOIN {prev} q
    ), params{it} AS (
        SELECT round(a - ((hw / 1e9) * (ga / 1e9)
                          - (hs / 1e9) * (gb / 1e9))
                         / ((hss / 1e9) * (hw / 1e9)
                            - (hs / 1e9) * (hs / 1e9)), 9) AS a,
               round(b - ((hss / 1e9) * (gb / 1e9)
                          - (hs / 1e9) * (ga / 1e9))
                         / ((hss / 1e9) * (hw / 1e9)
                            - (hs / 1e9) * (hs / 1e9)), 9) AS b
        FROM agg{it}
    )"""


ORACLES["platt_scaling_fit"] = f"""
    WITH nb AS ({ORACLES["nb_quality_classifier"]}),
    scored AS (
        SELECT nb_score AS s,
               CAST(lang = '{_NB_TARGET_LANG}' AS INT) AS y
        FROM nb
    ), params0 AS (SELECT CAST(0.0 AS DOUBLE) AS a,
                          CAST(0.0 AS DOUBLE) AS b),
    {_platt_agg_sql(1, "params0").lstrip()},
    {_platt_agg_sql(2, "params1").lstrip()},
    fin AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(CASE WHEN t.y = 1
                    THEN -ln(1.0 / (1.0 + exp(-(q.a * t.s + q.b))))
                    ELSE -ln(1 - 1.0 / (1.0 + exp(-(q.a * t.s
                                                    + q.b)))) END
                    * 1e9, 0) AS BIGINT)) AS BIGINT) AS ll,
               any_value(q.a) AS a, any_value(q.b) AS b
        FROM scored t CROSS JOIN params2 q
    )
    SELECT 1 AS step, round(a1.a, 9) AS a, round(a1.b, 9) AS b,
           round(a1.ll / 1e9 / a1.n, 6) AS mean_logloss
    FROM agg1 a1
    UNION ALL
    SELECT 2, round(a2.a, 9), round(a2.b, 9),
           round(a2.ll / 1e9 / a2.n, 6)
    FROM agg2 a2
    UNION ALL
    SELECT 3, round(f.a, 9), round(f.b, 9),
           round(f.ll / 1e9 / f.n, 6)
    FROM fin f
    ORDER BY step
"""


def weak_label_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNORKEL-style weak-supervision label model, one re-weighting
    step (Ratner et al. 2017/2019, reduced to the independent-LF
    majority-vote estimator): three deterministic labeling functions
    vote on "long-form document" (v in {+1, -1} each — source-
    relative length, type-token distinctness, absolute token count),
    the MAJORITY vote is the provisional label, each LF's accuracy
    is estimated against it (add-1 smoothed), and the final label is
    the log-odds-WEIGHTED vote w_i = ln(acc_i/(1-acc_i)) — the
    programmatic-labeling operator class every large training
    pipeline runs before it has human labels.  Output: one row per
    LF with its agreement count, estimated accuracy, and weight,
    plus the summary columns (docs whose label FLIPPED under
    re-weighting — the value the model added over raw majority).

    Determinism: every vote is a strict > comparison of exact
    integer counts against integer-ratio means; accuracies are
    integer ratios; weights snap to 1e-9 and the weighted vote
    BIGINT-sums them, so the flip set is exact.

    Scale: one token-stats aggregate per doc (shared scan), two
    broadcast scalar means, one vote aggregate, one 3-row weight
    broadcast back — the label model is LF-dimension-sized."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", "n_chars",
                       F.explode(F.split("text", " ")).alias("tok"))
    per = (toks.groupBy("doc_id", "source", "n_chars")
           .agg(F.count(F.lit(1)).alias("n_tok"),
                F.count_distinct("tok").alias("n_dist")))
    smean = (per.groupBy("source")
             .agg((F.sum("n_chars") / F.count(F.lit(1)))
                  .alias("src_mean")))
    gmean = per.agg(
        (F.sum("n_tok") / F.count(F.lit(1))).alias("tok_mean"),
        (F.sum(F.col("n_dist") / F.col("n_tok"))
         / F.count(F.lit(1))).alias("dr_mean"))
    voted = (per.join(F.broadcast(smean), "source")
             .crossJoin(F.broadcast(gmean))
             .select("doc_id",
                     F.when(F.col("n_chars") > F.col("src_mean"), 1)
                     .otherwise(-1).alias("v1"),
                     F.when(F.col("n_dist") / F.col("n_tok")
                            > F.col("dr_mean"), 1)
                     .otherwise(-1).alias("v2"),
                     F.when(F.col("n_tok") > F.col("tok_mean"), 1)
                     .otherwise(-1).alias("v3"))
             .withColumn("mv", F.when(
                 F.col("v1") + F.col("v2") + F.col("v3") > 0, 1)
                 .otherwise(-1))
             .localCheckpoint(eager=True))
    agg = voted.agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.count(F.when(F.col(f"v{i}") == F.col("mv"), 1))
          .alias(f"h{i}") for i in (1, 2, 3)])
    lfs = []
    for i, lf in ((1, "source_rel_length"), (2, "distinct_ratio"),
                  (3, "token_count")):
        acc = (F.col(f"h{i}") + 1) / (F.col("n_docs") + 2)
        w = F.round(F.log(acc / (1 - acc)) * 1e9, 0).cast("bigint")
        lfs.append(agg.select(
            F.lit(lf).alias("labeling_fn"),
            F.col(f"h{i}").alias("agree_mv"),
            F.round(acc, 6).alias("est_accuracy"),
            w.alias("w_u"), "n_docs"))
    wtab = lfs[0]
    for o in lfs[1:]:
        wtab = wtab.union(o)
    ws = wtab.groupBy().pivot("labeling_fn", [
        "source_rel_length", "distinct_ratio", "token_count"]) \
        .agg(F.max("w_u"))
    flips = (voted.crossJoin(F.broadcast(ws))
             .withColumn("wsum",
                         F.col("v1") * F.col("source_rel_length")
                         + F.col("v2") * F.col("distinct_ratio")
                         + F.col("v3") * F.col("token_count"))
             .withColumn("wlabel", F.when(F.col("wsum") > 0, 1)
                         .otherwise(-1))
             .agg(F.count(F.when(F.col("wlabel") != F.col("mv"), 1))
                  .alias("n_flipped")))
    return (wtab.crossJoin(F.broadcast(flips))
            .select("labeling_fn", "agree_mv", "est_accuracy",
                    F.round(F.col("w_u") / 1e9, 6).alias("weight"),
                    "n_docs", "n_flipped")
            .orderBy("labeling_fn"))


QUERIES["weak_label_model"] = weak_label_model
ORACLES["weak_label_model"] = """
    WITH per AS (
        SELECT doc_id, source, n_chars,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               CAST(len(list_distinct(string_split(text, ' ')))
                    AS BIGINT) AS n_dist
        FROM documents
    ), smean AS (
        SELECT source, sum(n_chars) / CAST(count(*) AS DOUBLE)
                   AS src_mean
        FROM per GROUP BY source
    ), gmean AS (
        SELECT sum(n_tok) / CAST(count(*) AS DOUBLE) AS tok_mean,
               sum(n_dist / CAST(n_tok AS DOUBLE))
                   / CAST(count(*) AS DOUBLE) AS dr_mean
        FROM per
    ), voted AS (
        SELECT p.doc_id,
               CASE WHEN p.n_chars > s.src_mean THEN 1 ELSE -1 END
                   AS v1,
               CASE WHEN p.n_dist / CAST(p.n_tok AS DOUBLE)
                         > g.dr_mean THEN 1 ELSE -1 END AS v2,
               CASE WHEN p.n_tok > g.tok_mean THEN 1 ELSE -1 END
                   AS v3
        FROM per p JOIN smean s USING (source) CROSS JOIN gmean g
    ), mv AS (
        SELECT *, CASE WHEN v1 + v2 + v3 > 0 THEN 1 ELSE -1 END
                   AS mv
        FROM voted
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (WHERE v1 = mv) AS BIGINT) AS h1,
               CAST(count(*) FILTER (WHERE v2 = mv) AS BIGINT) AS h2,
               CAST(count(*) FILTER (WHERE v3 = mv) AS BIGINT) AS h3
        FROM mv
    ), ws AS (
        SELECT n_docs, h1, h2, h3,
               CAST(round(ln(((h1 + 1) / CAST(n_docs + 2 AS DOUBLE))
                    / (1 - (h1 + 1) / CAST(n_docs + 2 AS DOUBLE)))
                    * 1e9, 0) AS BIGINT) AS w1,
               CAST(round(ln(((h2 + 1) / CAST(n_docs + 2 AS DOUBLE))
                    / (1 - (h2 + 1) / CAST(n_docs + 2 AS DOUBLE)))
                    * 1e9, 0) AS BIGINT) AS w2,
               CAST(round(ln(((h3 + 1) / CAST(n_docs + 2 AS DOUBLE))
                    / (1 - (h3 + 1) / CAST(n_docs + 2 AS DOUBLE)))
                    * 1e9, 0) AS BIGINT) AS w3
        FROM agg
    ), flips AS (
        SELECT CAST(count(*) FILTER (WHERE
                   (CASE WHEN m.v1 * w.w1 + m.v2 * w.w2 + m.v3 * w.w3
                         > 0 THEN 1 ELSE -1 END) != m.mv) AS BIGINT)
                   AS n_flipped
        FROM mv m CROSS JOIN ws w
    )
    SELECT t.labeling_fn, t.agree_mv,
           round((t.agree_mv + 1) / CAST(w.n_docs + 2 AS DOUBLE), 6)
               AS est_accuracy,
           round(t.w_u / 1e9, 6) AS weight,
           w.n_docs, f.n_flipped
    FROM (
        SELECT 'source_rel_length' AS labeling_fn, h1 AS agree_mv,
               w1 AS w_u FROM ws
        UNION ALL
        SELECT 'distinct_ratio', h2, w2 FROM ws
        UNION ALL
        SELECT 'token_count', h3, w3 FROM ws
    ) t CROSS JOIN ws w CROSS JOIN flips f
    ORDER BY t.labeling_fn
"""


def nb_average_precision(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """AVERAGE PRECISION of the NB quality score against the teacher
    label (the PR-curve area by the step-interpolation definition:
    AP = sum over positives of precision-at-their-rank / n_pos) —
    the ranking metric that, unlike `roc_auc_eval`'s ROC-AUC, does
    not reward easy negatives: with 20% positives a classifier can
    hold ROC-AUC ~0.9 while its precision at operating depth is
    poor, and AP is the number that exposes it.  Ties in the score
    are broken by doc_id on BOTH engines, making the ranking and
    therefore the metric bit-deterministic (the documented
    convention; group-tie averaging is the alternative at scale).

    Exactness: prefix counts are exact integers via one rank window;
    per-positive precision terms snap at 1e-9 and BIGINT-sum; one
    division by the positive count.

    Scale: one score ranking (TakeOrdered-class sort) + one window
    prefix count — the ROC query's cost shape."""
    from pyspark.sql.window import Window
    scored = (nb_quality_classifier(spark, sf_dir)
              .select("doc_id", "nb_score",
                      (F.col("lang") == _NB_TARGET_LANG)
                      .cast("int").alias("y")))
    w = Window.orderBy(F.col("nb_score").desc(),
                       F.col("doc_id").asc())
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    ranked = (scored
              .withColumn("rank", F.row_number().over(w))
              .withColumn("tp", F.sum("y").over(wc)))
    terms = (ranked.where(F.col("y") == 1)
             .withColumn("pu", F.round(
                 F.col("tp") / F.col("rank").cast("double") * 1e9,
                 0).cast("bigint")))
    return (terms.agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.max("rank").alias("max_pos_rank"),
        F.round(F.sum("pu") / F.count(F.lit(1)).cast("double") / 1e9,
                6).alias("average_precision")))


QUERIES["nb_average_precision"] = nb_average_precision
ORACLES["nb_average_precision"] = f"""
    WITH nb AS ({ORACLES["nb_quality_classifier"]}),
    ranked AS (
        SELECT doc_id, CAST(lang = '{_NB_TARGET_LANG}' AS INT) AS y,
               row_number() OVER (ORDER BY nb_score DESC,
                                  doc_id ASC) AS rank,
               sum(CAST(lang = '{_NB_TARGET_LANG}' AS INT))
                   OVER (ORDER BY nb_score DESC, doc_id ASC
                         ROWS UNBOUNDED PRECEDING) AS tp
        FROM nb
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pos,
           CAST(max(rank) AS BIGINT) AS max_pos_rank,
           round(sum(CAST(round(tp / CAST(rank AS DOUBLE) * 1e9, 0)
                          AS BIGINT))
                 / CAST(count(*) AS DOUBLE) / 1e9, 6)
               AS average_precision
    FROM ranked WHERE y = 1
"""


def classifier_agreement_kappa(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA between the two independent English detectors
    (Cohen 1960): the NB quality classifier's `predicted_target` vs
    the character-trigram language classifier's top-1 = 'en' —
    chance-corrected agreement kappa = (p_o - p_e)/(1 - p_e), the
    inter-rater statistic raw agreement overstates whenever one
    class dominates (two raters who both say "not en" 80% of the
    time agree 68% by luck alone).  The model-governance read before
    replacing one labeler with the other.

    Exactness: the 2x2 agreement table is exact integer counts;
    p_o and p_e are integer ratios; one division.

    Scale: both classifiers are existing vocabulary-bounded chains;
    the kappa is a 4-cell reduce off their doc-keyed join."""
    nb = (nb_quality_classifier(spark, sf_dir)
          .select("doc_id", F.col("predicted_target").alias("a")))
    tri = (char_trigram_lang_classifier(spark, sf_dir)
           .select("doc_id",
                   (F.col("predicted_lang") == _NB_TARGET_LANG)
                   .alias("b")))
    cells = (nb.join(tri, "doc_id")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.count(F.when(F.col("a") & F.col("b"), 1))
                  .alias("tt"),
                  F.count(F.when(F.col("a") & ~F.col("b"), 1))
                  .alias("tf"),
                  F.count(F.when(~F.col("a") & F.col("b"), 1))
                  .alias("ft"),
                  F.count(F.when(~F.col("a") & ~F.col("b"), 1))
                  .alias("ff")))
    n = F.col("n").cast("double")
    po = (F.col("tt") + F.col("ff")) / n
    pe = ((F.col("tt") + F.col("tf")) * (F.col("tt") + F.col("ft"))
          + (F.col("ft") + F.col("ff")) * (F.col("tf") + F.col("ff"))
          ) / (n * n)
    return cells.select(
        "n", "tt", "tf", "ft", "ff",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round((po - pe) / (1 - pe), 6).alias("cohen_kappa"))


QUERIES["classifier_agreement_kappa"] = classifier_agreement_kappa


ORACLES["classifier_agreement_kappa"] = f"""
    WITH nb AS ({ORACLES["nb_quality_classifier"]}),
    tri AS ({ORACLES["char_trigram_lang_classifier"]}),
    j AS (
        SELECT n.doc_id,
               CAST(n.predicted_target AS BOOLEAN) AS a,
               t.predicted_lang = '{_NB_TARGET_LANG}' AS b
        FROM nb n JOIN tri t USING (doc_id)
    ), cells AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE a AND b) AS BIGINT) AS tt,
               CAST(count(*) FILTER (WHERE a AND NOT b) AS BIGINT)
                   AS tf,
               CAST(count(*) FILTER (WHERE NOT a AND b) AS BIGINT)
                   AS ft,
               CAST(count(*) FILTER (WHERE NOT a AND NOT b)
                    AS BIGINT) AS ff
        FROM j
    )
    SELECT n, tt, tf, ft, ff,
           round((tt + ff) / CAST(n AS DOUBLE), 6) AS p_observed,
           round(((tt + tf) * CAST(tt + ft AS DOUBLE)
                  + (ft + ff) * CAST(tf + ff AS DOUBLE))
                 / (CAST(n AS DOUBLE) * n), 6) AS p_expected,
           round(((tt + ff) / CAST(n AS DOUBLE)
                  - ((tt + tf) * CAST(tt + ft AS DOUBLE)
                     + (ft + ff) * CAST(tf + ff AS DOUBLE))
                    / (CAST(n AS DOUBLE) * n))
                 / (1 - ((tt + tf) * CAST(tt + ft AS DOUBLE)
                         + (ft + ff) * CAST(tf + ff AS DOUBLE))
                        / (CAST(n AS DOUBLE) * n)), 6)
               AS cohen_kappa
    FROM cells
"""


_CHI2_1DF_5PCT = 3.841458820694124   # chi2_0.95(1) literal


def classifier_mcnemar_test(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """McNEMAR'S test between the NB quality classifier and the
    char-trigram language classifier on the SAME documents (McNemar
    1947; the paired-classifier comparison Dietterich 1998
    recommends): only the DISCORDANT cells matter — b = NB right &
    trigram wrong, c = the reverse — and the continuity-corrected
    statistic (|b-c|-1)²/(b+c) against the literal chi²(1) 5% value
    asks "is one classifier actually more accurate, beyond the
    cases where they agree anyway" — the question raw accuracy
    deltas answer wrongly on paired data (`classifier_agreement_
    kappa` measures agreement; this measures DIFFERENCE).

    Ground truth: the teacher label lang = 'en' (both classifiers
    target it).  Exactness: all four cells are exact integer counts;
    the statistic is one expression; the critical value is a shared
    literal.

    Scale: the doc-keyed join of two vocabulary-bounded chains + a
    4-cell reduce."""
    nb = (nb_quality_classifier(spark, sf_dir)
          .select("doc_id",
                  (F.col("predicted_target")
                   == (F.col("lang") == _NB_TARGET_LANG))
                  .alias("nb_right")))
    tri = (char_trigram_lang_classifier(spark, sf_dir)
           .select("doc_id",
                   ((F.col("predicted_lang") == _NB_TARGET_LANG)
                    == (F.col("lang") == _NB_TARGET_LANG))
                   .alias("tri_right")))
    cells = (nb.join(tri, "doc_id")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.count(F.when(F.col("nb_right")
                                 & ~F.col("tri_right"), 1))
                  .alias("b"),
                  F.count(F.when(~F.col("nb_right")
                                 & F.col("tri_right"), 1))
                  .alias("c")))
    bc = (F.col("b") + F.col("c")).cast("double")
    stat = F.when(
        bc > 0,
        (F.abs(F.col("b") - F.col("c")) - 1)
        * (F.abs(F.col("b") - F.col("c")) - 1) / bc)
    return cells.select(
        "n", "b", "c",
        F.round(stat, 6).alias("mcnemar_stat"),
        F.lit(_CHI2_1DF_5PCT).alias("chi2_crit_5pct"),
        (F.round(stat, 6) > F.lit(_CHI2_1DF_5PCT))
        .alias("accuracies_differ"))


QUERIES["classifier_mcnemar_test"] = classifier_mcnemar_test
ORACLES["classifier_mcnemar_test"] = f"""
    WITH nb AS ({ORACLES["nb_quality_classifier"]}),
    tri AS ({ORACLES["char_trigram_lang_classifier"]}),
    j AS (
        SELECT n.doc_id,
               CAST(n.predicted_target AS BOOLEAN)
                   = (n.lang = '{_NB_TARGET_LANG}') AS nb_right,
               (t.predicted_lang = '{_NB_TARGET_LANG}')
                   = (t.lang = '{_NB_TARGET_LANG}') AS tri_right
        FROM nb n JOIN tri t USING (doc_id)
    ), cells AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) FILTER (WHERE nb_right
                    AND NOT tri_right) AS BIGINT) AS b,
               CAST(count(*) FILTER (WHERE NOT nb_right
                    AND tri_right) AS BIGINT) AS c
        FROM j
    )
    SELECT n, b, c,
           round(CASE WHEN b + c > 0 THEN
               (abs(b - c) - 1) * (abs(b - c) - 1)
               / CAST(b + c AS DOUBLE) END, 6) AS mcnemar_stat,
           CAST({_CHI2_1DF_5PCT} AS DOUBLE) AS chi2_crit_5pct,
           round(CASE WHEN b + c > 0 THEN
               (abs(b - c) - 1) * (abs(b - c) - 1)
               / CAST(b + c AS DOUBLE) END, 6) > {_CHI2_1DF_5PCT}
               AS accuracies_differ
    FROM cells
"""


def decision_stump_doclen(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """DECISION STUMP on document length for the English label
    (Breiman et al. 1984's CART split search, depth 1): evaluate
    EVERY candidate threshold (each distinct n_chars) by the
    weighted Gini impurity of the induced split and keep the argmin
    — the single tree-induction step, exactly, via one sort + prefix
    counts instead of a per-threshold scan (the O(V·N) naive form
    collapses to O(N log N) because prefix class counts determine
    both sides' impurity).  Reported with the parent impurity and
    the Gini GAIN — the feature-importance unit every forest sums.

    Exactness: candidate impurities are rational functions of exact
    prefix integer counts, snapped to 1e-9 for the argmin (ties →
    smaller threshold); the chosen row's stats are re-derived from
    the same integers.

    Scale: one (value)-keyed count aggregate + one prefix window
    over distinct values (value-bounded) — the histogram-split
    strategy every distributed GBDT (XGBoost/LightGBM) uses."""
    from pyspark.sql.window import Window
    docs = load_table(spark, sf_dir, "documents").select(
        "n_chars", (F.col("lang") == _NB_TARGET_LANG).cast("int")
        .alias("y"))
    per_v = (docs.groupBy("n_chars")
             .agg(F.count(F.lit(1)).alias("c"),
                  F.sum("y").alias("cp")))
    tot = per_v.agg(F.sum("c").alias("n"),
                    F.sum("cp").alias("np"))
    w = Window.orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, 0)
    pre = (per_v
           .withColumn("nl", F.sum("c").over(w))
           .withColumn("npl", F.sum("cp").over(w))
           .crossJoin(F.broadcast(tot))
           .where(F.col("nl") < F.col("n")))
    nl = F.col("nl").cast("double")
    nr = (F.col("n") - F.col("nl")).cast("double")
    pl = F.col("npl") / nl
    pr = (F.col("np") - F.col("npl")) / nr
    gini_l = 1 - pl * pl - (1 - pl) * (1 - pl)
    gini_r = 1 - pr * pr - (1 - pr) * (1 - pr)
    wg = F.round((nl * gini_l + nr * gini_r)
                 / F.col("n").cast("double"), 9)
    wpick = Window.orderBy(F.col("wg").asc(),
                           F.col("n_chars").asc())
    best = (pre.withColumn("wg", wg)
            .withColumn("rn", F.row_number().over(wpick))
            .where(F.col("rn") == 1))
    pp = F.col("np") / F.col("n").cast("double")
    parent = 1 - pp * pp - (1 - pp) * (1 - pp)
    return best.select(
        F.col("n_chars").alias("threshold"),
        F.col("nl").alias("n_left"),
        (F.col("n") - F.col("nl")).alias("n_right"),
        F.round(pl, 6).alias("p_en_left"),
        F.round(pr, 6).alias("p_en_right"),
        F.round(parent, 6).alias("gini_parent"),
        F.round(F.col("wg"), 6).alias("gini_split"),
        F.round(parent - F.col("wg"), 6).alias("gini_gain"))


QUERIES["decision_stump_doclen"] = decision_stump_doclen
ORACLES["decision_stump_doclen"] = f"""
    WITH docs AS (
        SELECT n_chars,
               CAST(lang = '{_NB_TARGET_LANG}' AS INT) AS y
        FROM documents
    ), per_v AS (
        SELECT n_chars, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(y) AS BIGINT) AS cp
        FROM docs GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(cp) AS BIGINT) AS np FROM per_v
    ), pre AS (
        SELECT p.n_chars,
               sum(p.c) OVER (ORDER BY p.n_chars
                   ROWS UNBOUNDED PRECEDING) AS nl,
               sum(p.cp) OVER (ORDER BY p.n_chars
                   ROWS UNBOUNDED PRECEDING) AS npl,
               t.n, t.np
        FROM per_v p CROSS JOIN tot t
        QUALIFY nl < t.n
    ), scored AS (
        SELECT *,
               round((nl * (1 - (npl / CAST(nl AS DOUBLE))
                              * (npl / CAST(nl AS DOUBLE))
                            - (1 - npl / CAST(nl AS DOUBLE))
                              * (1 - npl / CAST(nl AS DOUBLE)))
                      + (n - nl)
                        * (1 - ((np - npl)
                                / CAST(n - nl AS DOUBLE))
                             * ((np - npl)
                                / CAST(n - nl AS DOUBLE))
                           - (1 - (np - npl)
                                  / CAST(n - nl AS DOUBLE))
                             * (1 - (np - npl)
                                    / CAST(n - nl AS DOUBLE))))
                     / CAST(n AS DOUBLE), 9) AS wg
        FROM pre
    )
    SELECT n_chars AS threshold,
           CAST(nl AS BIGINT) AS n_left,
           CAST(n - nl AS BIGINT) AS n_right,
           round(npl / CAST(nl AS DOUBLE), 6) AS p_en_left,
           round((np - npl) / CAST(n - nl AS DOUBLE), 6)
               AS p_en_right,
           round(1 - (np / CAST(n AS DOUBLE))
                   * (np / CAST(n AS DOUBLE))
                 - (1 - np / CAST(n AS DOUBLE))
                   * (1 - np / CAST(n AS DOUBLE)), 6) AS gini_parent,
           round(wg, 6) AS gini_split,
           round((1 - (np / CAST(n AS DOUBLE))
                    * (np / CAST(n AS DOUBLE))
                  - (1 - np / CAST(n AS DOUBLE))
                    * (1 - np / CAST(n AS DOUBLE))) - wg, 6)
               AS gini_gain
    FROM scored
    QUALIFY row_number() OVER (ORDER BY wg ASC, n_chars ASC) = 1
"""


_SPLIT_CUTOFF = "2024-01-22"   # 70/30 time split over the events month


def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/validation split leakage audit: split events at
    a date cutoff (train < cutoff <= val) and measure, per event_type,
    how much of the validation slice belongs to entities the model
    already saw — the leakage read a time-split eval pipeline needs
    BEFORE trusting its metrics (a user active on both sides makes
    val partially in-distribution; dedup/decontamination handles
    content overlap, this handles ENTITY overlap).

    Emits per event_type: train/val user counts, users on both sides,
    the leaked-user fraction of val users, and the fraction of val
    EVENTS from seen users — the two rates diverge exactly when heavy
    users straddle the cutoff.

    Exactness: pure conditional counts off one user-grain aggregate.
    Scale: one scan -> (event_type, user) flags, one grouped count —
    no window, no join; the cutoff is a partition-prunable predicate
    on a date-partitioned layout."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(_SPLIT_CUTOFF).cast("date")
    per_user = (ev.groupBy("event_type", "user_id")
                .agg(F.sum(F.when(F.to_date("ts") < cut, 1)
                           .otherwise(0)).alias("n_train_ev"),
                     F.sum(F.when(F.to_date("ts") >= cut, 1)
                           .otherwise(0)).alias("n_val_ev")))
    a = (per_user.groupBy("event_type")
         .agg(F.sum(F.when(F.col("n_train_ev") > 0, 1).otherwise(0))
              .alias("train_users"),
              F.sum(F.when(F.col("n_val_ev") > 0, 1).otherwise(0))
              .alias("val_users"),
              F.sum(F.when((F.col("n_train_ev") > 0)
                           & (F.col("n_val_ev") > 0), 1).otherwise(0))
              .alias("leaked_users"),
              F.sum("n_val_ev").alias("val_events"),
              F.sum(F.when(F.col("n_train_ev") > 0,
                           F.col("n_val_ev")).otherwise(0))
              .alias("val_events_seen")))
    return (a.select(
        "event_type", "train_users", "val_users", "leaked_users",
        F.round(F.col("leaked_users")
                / F.nullif(F.col("val_users").cast("double"),
                           F.lit(0.0)), 6).alias("leaked_user_frac"),
        "val_events",
        F.round(F.col("val_events_seen")
                / F.nullif(F.col("val_events").cast("double"),
                           F.lit(0.0)), 6).alias("val_event_seen_frac"))
        .orderBy("event_type"))


QUERIES["split_leakage_audit"] = split_leakage_audit
ORACLES["split_leakage_audit"] = f"""
    WITH per_user AS (
        SELECT event_type, user_id,
               sum(CASE WHEN CAST(ts AS DATE) < DATE '{_SPLIT_CUTOFF}'
                        THEN 1 ELSE 0 END) AS n_train_ev,
               sum(CASE WHEN CAST(ts AS DATE) >= DATE '{_SPLIT_CUTOFF}'
                        THEN 1 ELSE 0 END) AS n_val_ev
        FROM events GROUP BY 1, 2
    ), a AS (
        SELECT event_type,
               CAST(sum(CASE WHEN n_train_ev > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS train_users,
               CAST(sum(CASE WHEN n_val_ev > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS val_users,
               CAST(sum(CASE WHEN n_train_ev > 0 AND n_val_ev > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS leaked_users,
               CAST(sum(n_val_ev) AS BIGINT) AS val_events,
               CAST(sum(CASE WHEN n_train_ev > 0 THEN n_val_ev ELSE 0 END)
                    AS BIGINT) AS val_events_seen
        FROM per_user GROUP BY 1
    )
    SELECT event_type, train_users, val_users, leaked_users,
           round(leaked_users
                 / nullif(CAST(val_users AS DOUBLE), 0), 6)
               AS leaked_user_frac,
           val_events,
           round(val_events_seen
                 / nullif(CAST(val_events AS DOUBLE), 0), 6)
               AS val_event_seen_frac
    FROM a ORDER BY event_type
"""
