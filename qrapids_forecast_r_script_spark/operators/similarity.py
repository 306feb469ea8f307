"""Similarity search over the ``embeddings`` table (north-star extension).

- brute-force cosine top-k: the exact baseline — broadcast the (small)
  query set against the corpus, JVM-side dot products via zip_with /
  aggregate (no Python UDF), per-query top-k via ranked window.
- near-dup pairs with label blocking: the exact pairwise method made
  scalable by a blocking key (join within label only).
- LSH-bucketed ANN (random hyperplanes): the scale path — deterministic
  signed-projection buckets; candidates only within a bucket.  The
  hyperplanes are seeded constants so results are reproducible; recall vs
  the brute-force baseline is asserted in tests (not SQL-expressible →
  rows-only driver check).

At 100 TB: brute force is O(Q·N) with Q broadcast (fine for small query
sets); the LSH variant replaces N with the bucket size; both avoid any
driver-side collect.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ..sources import load_table

_TOP_K = 10
_N_QUERIES = 5
_EMB_DIM = 64        # width of every vector in the embeddings table

# IVF coarse quantizer: FIXED centroid count + probe width — both constants,
# so the centroid broadcast and the per-vector assignment cost are
# independent of corpus size (the round-1 N/50 scheme grew with N).  At
# production scale K would be ~4096; 32 keeps cells populated at the test
# corpus sizes (500-2000 vectors).  `ivf_topk` keeps ``nprobe`` as an
# argument because `ivf_nprobe_sweep` runs it at several probe widths.
_IVF_K = 32
_IVF_NPROBE = 4

# Near-dup LSH blocking: 12 bands x 3 sign bits (36 seeded hyperplanes).
# Chosen by measured recall on the synthetic corpus (cosine threshold 0.25
# is a wide angle, ~75°, so sign-LSH needs many short bands): 12x3 gives
# 0.935 recall of the exact within-label pairs at sf0.01 vs 0.396 for 4x4.
_ND_BANDS = 12
_ND_BITS = 3
_ND_THRESHOLD = 0.25


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


# r9 measurement note (guide §4.1, §1): unrolled ``v[0]*w[0] + ...``
# SQL-text replacements for the fold helpers above were A/B-measured.
# At 64 terms the unrolled codegen form ran ~2.4× SLOWER warm than the
# interpreted fold on a 400k-row candidate stream (2.88 s vs 7.04 s —
# 128 per-element array accessors with null/bounds checks lose to the
# HOF's single tight array walk), so the fold helpers STAY for the
# 64-dim dots.  Short unrolls win (the 15-word popcount in
# dedup.lsh_precision_recall measured 2× faster) and expr-TEXT
# construction is ~zero py4j cost, which is why the 36 seeded-plane
# projections below are generated as strings (their per-row volume is
# tiny after the signature-chain cut; the old Column-by-Column build
# cost ~2,300 py4j round trips per query construction).  Both forms are
# bit-identical to the fold (left-associative from literal 0.0 — the
# same IEEE sequence; verified 0/500k mismatches).


def _proj_expr(vec: str, plane: list[float]) -> str:
    """SQL text of the seeded-hyperplane projection ``vec · plane`` with
    the plane inlined as double literals — the fold's exact order."""
    terms = " + ".join(f"{vec}[{i}] * {p!r}D" for i, p in enumerate(plane))
    return f"CAST(0.0 AS DOUBLE) + {terms}"


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _top_k(scored: DataFrame, *extra: str) -> DataFrame:
    """Each query's ``_TOP_K`` neighbors by cosine (ties: lower
    neighbor_id first) as (query_id, rank, neighbor_id, *extra,
    cosine)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= _TOP_K)
            .select("query_id", "rank", "neighbor_id", *extra, "cosine"))


def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for the 5 lowest vec_ids.

    Plan shape: tiny query side broadcast → crossJoin (Q·N rows, map-only)
    → window top-k per query.  All arithmetic in double, JVM-side.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # norms precomputed ONCE per vector: computing them inside the pair
    # expression would re-walk both arrays per candidate (3x the array
    # arithmetic of the dot product alone, x Q on the corpus side)
    queries = (emb.orderBy("vec_id").limit(_N_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       _as_double("embedding").alias("qvec"))
               .withColumn("qnorm", _norm(F.col("qvec"))))
    # r10 (guide §2.6/§8): spread the Q·N interpreted cosine stream —
    # the scan of a single-row-group local file is ONE task, so the
    # whole crossJoin compute serialized (the knn_label_accuracy
    # finding); bounded keyed repartition, the pq_topk precedent
    from ..session import shuffle_width
    corpus = (emb.select(F.col("vec_id").alias("neighbor_id"),
                         _as_double("embedding").alias("nvec"))
              .repartition(shuffle_width(spark), F.col("neighbor_id"))
              .withColumn("nnorm", _norm(F.col("nvec"))))
    sim = F.round(_dot(F.col("qvec"), F.col("nvec"))
                  / (F.col("qnorm") * F.col("nnorm")), 6)
    scored = (corpus.crossJoin(F.broadcast(queries))
              .where(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id", sim.alias("cosine")))
    return _top_k(scored)


def _nd_planes() -> list[list[float]]:
    rng = np.random.default_rng(20250813)
    return rng.standard_normal((_ND_BANDS * _ND_BITS, _EMB_DIM)).tolist()


def _nd_band_vals(vec: str) -> list[Column]:
    """One integer per band: the sign bits of that band's hyperplane
    projections.  Projections fold left-to-right in double (same order as
    DuckDB's ``list_dot_product``), so the band values are reproducible
    in the SQL oracle.

    r9: built as unrolled ``F.expr`` text (see ``_dot_expr``) — the 36
    interpreted ``aggregate(zip_with(...))`` projections per row were the
    chain's hot loop, and their Column-by-Column construction (~2,300
    py4j literals) a measurable share of query build time.  ``vec`` is
    now the array column NAME; sign decisions are bit-identical because
    the projection arithmetic is the same IEEE sequence."""
    planes = _nd_planes()
    vals = []
    for band in range(_ND_BANDS):
        bits = " + ".join(
            f"(CASE WHEN ({_proj_expr(vec, planes[band * _ND_BITS + i])})"
            f" >= 0 THEN {1 << i} ELSE 0 END)"
            for i in range(_ND_BITS))
        vals.append(F.expr(f"0 + {bits}"))
    return vals


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within the same label, with
    LSH band blocking inside each label block: candidates are pairs that
    share at least one of 4 sign-bit band signatures (4 seeded
    hyperplanes each); candidates are then exactly re-scored and kept at
    cosine >= 0.25, a < b.

    Scale shape: round 1 joined all pairs within a label — quadratic in
    block size, a runaway on a hot label at 100 TB.  The band join keys
    the self-join on (label, band_idx, band_val), so fan-out is bounded
    by LSH bucket population, not label population; recall < 1 vs the
    exact all-pairs form is the documented trade (the seeded planes make
    it deterministic, so the SQL oracle reproduces it exactly).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # r9 (guide §2.4/§4.1): the banded base is localCheckpoint-ed so the
    # 36-projection signature chain runs ONCE instead of once per
    # self-join side (no exchange reuse across the join, measured), and
    # the projections/dot are the unrolled codegen forms (_proj_expr /
    # _dot_expr — bit-identical fold order, see their docstrings).
    # r10 note (guide §1): a pre-checkpoint repartition of this base
    # was A/B-measured SLOWER (4.5 s vs 3.5 s median) — the projections
    # are unrolled codegen (cheap per row), so spreading the scan's
    # single partition only added a shuffle + 32-task scheduling to a
    # sub-second stage.  Contrast knn/ivf, whose interpreted HOF dot
    # streams DID win from the same repartition.
    base = (emb.select("vec_id", "label",
                       _as_double("embedding").alias("v"))
            .withColumn("vnorm", _norm(F.col("v")))
            .withColumn("band_vals", F.array(*_nd_band_vals("v")))
            .localCheckpoint())
    bands = base.select(
        "vec_id", "label", "v", "vnorm",
        F.posexplode("band_vals").alias("band_idx", "band_val"))
    a = bands.select(F.col("vec_id").alias("vec_a"), "label",
                     "band_idx", "band_val",
                     F.col("v").alias("va"), F.col("vnorm").alias("na"))
    b = bands.select(F.col("vec_id").alias("vec_b"), "label",
                     "band_idx", "band_val",
                     F.col("v").alias("vb"), F.col("vnorm").alias("nb"))
    sim = F.round(_dot(F.col("va"), F.col("vb"))
                  / (F.col("na") * F.col("nb")), 6)
    # NO broadcast hint (r10): the banded side carries every vector's
    # 64-dim payload — O(corpus) — so an unconditional hint would OOM
    # at scale; AQE re-plans the sort-merge join to broadcast-hash at
    # runtime from the real shuffle sizes when the side fits (it does
    # at bench SF — see plans/r10).
    # r10 (guide §2.3, the minhash n_matching precedent): score and
    # threshold BEFORE the pair dedup, so the dedup exchange carries
    # (label, ids, cosine) scalars instead of two 64-dim arrays —
    # duplicate candidate rows (same pair via several bands) have
    # identical vectors, hence identical cosine, so the kept row is
    # the same whichever survives
    return (a.join(b, ["label", "band_idx", "band_val"])
            .where(F.col("vec_a") < F.col("vec_b"))
            .select("label", "vec_a", "vec_b", sim.alias("cosine"))
            .where(F.col("cosine") >= _ND_THRESHOLD)
            .dropDuplicates(["vec_a", "vec_b"]))


_LSH_PLANES = 8      # sign bits per LSH bucket (ann_lsh / multiprobe)


def _hyperplanes() -> list[list[float]]:
    rng = np.random.default_rng(20240813)
    return rng.standard_normal((_LSH_PLANES, _EMB_DIM)).tolist()


def _lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket: bit i set iff ``vec`` projects
    non-negatively onto ``planes[i]``."""
    bits = []
    for i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(float(v)) for v in plane]),
                       lambda x, y: x * y),
            F.lit(0.0), lambda acc, v: acc + v)
        bits.append(F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via random-hyperplane LSH: bucket = sign bits of 8 seeded
    projections; exact cosine re-rank within each query's bucket.

    Scale path: the crossJoin of brute force becomes a bucket equi-join —
    candidate count drops ~2^planes-fold; recall measured in tests.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    planes = _hyperplanes()

    with_bucket = (emb.select("vec_id", _as_double("embedding").alias("vec"))
                   .withColumn("bucket", _lsh_bucket(F.col("vec"), planes))
                   .withColumn("vnorm", _norm(F.col("vec"))))
    queries = (with_bucket.orderBy("vec_id").limit(_N_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("vec").alias("qvec"),
                       F.col("vnorm").alias("qnorm"),
                       F.col("bucket")))
    sim = F.round(_dot(F.col("qvec"), F.col("vec"))
                  / (F.col("qnorm") * F.col("vnorm")), 6)
    scored = (with_bucket.join(F.broadcast(queries), "bucket")
              .where(F.col("query_id") != F.col("vec_id"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      sim.alias("cosine")))
    return _top_k(scored)


def _ivf_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF index chain shared by :func:`ivf_topk` and the nprobe
    sweep: every vector ranked against the fixed k=32 hash-sampled
    centroids — (vec_id, vec, vnorm, centroid_id, csim, rn)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r10 (guide §2.6/§8): spread the N·k interpreted assignment argmin
    # — the single-row-group scan is ONE task (the knn finding); the
    # keyed repartition is bounded and the rn window shuffles by vec_id
    # right after anyway
    from ..session import shuffle_width
    vecs = (emb.select("vec_id", _as_double("embedding").alias("vec"))
            .repartition(shuffle_width(spark), F.col("vec_id"))
            .withColumn("vnorm", _norm(F.col("vec"))))
    cents = (vecs
             .orderBy(F.md5(F.col("vec_id").cast("string").cast("binary")),
                      F.col("vec_id"))
             .limit(_IVF_K)
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("vec").alias("cvec"),
                     F.col("vnorm").alias("cnorm")))
    csim = F.round(_dot(F.col("vec"), F.col("cvec"))
                   / (F.col("vnorm") * F.col("cnorm")), 6)
    wassign = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("centroid_id").asc())
    return (vecs.crossJoin(F.broadcast(cents))
            .select("vec_id", "vec", "vnorm", "centroid_id",
                    csim.alias("csim"))
            .withColumn("rn", F.row_number().over(wassign)))


def ivf_topk(spark: SparkSession, sf_dir: str,
             nprobe: int = _IVF_NPROBE,
             assigned: DataFrame | None = None) -> DataFrame:
    """IVF (inverted-file) ANN — the second scale path besides LSH.

    Coarse quantization: centroids are a FIXED-size (k=32) deterministic
    hash sample of the corpus — the k vectors with the smallest
    ``md5(vec_id)`` (uniform over the corpus, reproducible, and
    SQL-expressible, a stand-in for k-means).  Every vector is assigned
    to its highest-cosine centroid (rounded, centroid-id tiebreak);
    search probes the query's ``nprobe`` closest cells and re-ranks
    exactly.

    Scale shape: the centroid broadcast is k rows — CONSTANT in corpus
    size (round 1 used vec_id % 50, i.e. N/50 centroids, whose broadcast
    grew linearly with N and was flagged as the plan's scale-killer) —
    and assignment stays one map-side argmin per vector, no shuffle.
    Search is an equi-join on cell id; each vector lives in exactly one
    cell, so probing nprobe distinct cells never duplicates a candidate.
    Recall loss comes only from nprobe, measured in tests.
    """
    assigned = _ivf_assigned(spark, sf_dir) if assigned is None \
        else assigned
    cell = (assigned.where(F.col("rn") == 1)
            .select("vec_id", "vec", "vnorm", "centroid_id"))
    queries = (assigned.where((F.col("vec_id") < _N_QUERIES)
                              & (F.col("rn") <= nprobe))
               .select(F.col("vec_id").alias("query_id"),
                       F.col("vec").alias("qvec"),
                       F.col("vnorm").alias("qnorm"), "centroid_id"))
    sim = F.round(_dot(F.col("qvec"), F.col("vec"))
                  / (F.col("qnorm") * F.col("vnorm")), 6)
    scored = (cell.join(F.broadcast(queries), "centroid_id")
              .where(F.col("query_id") != F.col("vec_id"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      sim.alias("cosine")))
    return _top_k(scored)


# Product quantization: m subspaces × k codes.  Both CONSTANT, so the
# codebook broadcast (m·k subvectors) and the per-vector encode cost are
# independent of corpus size — same scale contract as the fixed-k IVF.
_PQ_M = 16         # subspaces (64 dims → 4 dims each)
_PQ_CODES = 64     # codes per subspace → 16×6 bits = 12 bytes/vector
_PQ_SHORTLIST = 50  # ADC candidates kept for the exact re-rank
_PQ_TRAIN = 1024    # codebook training sample (bounded — FAISS-style:
                    # train the quantizer on a fixed-size sample, then
                    # encode the full corpus exactly once)


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact re-rank (Jégou et al. 2011,
    "Product Quantization for Nearest Neighbor Search") — the
    memory-bound scale path: each vector is stored as m small code ids
    (16×6 bits = 12 bytes vs 256 bytes raw), query-to-corpus distance is
    an asymmetric-distance (ADC) sum of m precomputed scalars, and only
    the ADC top-``_PQ_SHORTLIST`` candidates are touched with full-width
    exact cosine — the standard shortlist/re-rank architecture, so the
    returned cosines are EXACT and recall loss comes only from the
    shortlist cut (0.84 recall@10 measured vs brute force at sf0.01).

    Codebook: TRAINED per subspace with one rounded-Lloyd round (round
    3; previously a hash-sample stand-in): init codes are the subvectors
    of the ``_PQ_CODES`` corpus vectors with the smallest ``md5(vec_id)``
    (deterministic, reproducible), then every subvector is assigned to
    its nearest init code and each code is replaced by its cell's
    per-dimension mean in unit-normalized space, rounded at 6 dp so the
    DuckDB oracle stays bit-identical (the same engine-resync trick
    ivf_kmeans_topk proved).  Vectors are unit-normalized first: on the
    unit sphere L2² = 2·(1 − cosine), so the ADC L2 ranking targets the
    cosine neighbor order (the standard cosine-ANN-via-PQ reduction).

    Plan shape, per stage (N = corpus size, all other factors constant):
    - encode: corpus exploded to N·m subvectors, joined to the broadcast
      m·k codebook, argmin per (vec_id, subspace) — map-side + one
      window keyed by vec_id.
    - query prep: Q·m·k ADC lookup table, broadcast.
    - search: the N·m code table joins the broadcast lookup on
      (subspace, code) and sums m terms per (query, vector) — one keyed
      aggregation; no full-width vector math touches the corpus at ADC
      time.
    - re-rank: Q·shortlist rows join back their full vectors (keyed by
      vec_id) for exact cosine — corpus-touching work is bounded by the
      constant Q·shortlist, not N.

    Distances are squared-L2 expanded as dot products
    (d² = ⟨a,a⟩ − 2⟨a,b⟩ + ⟨b,b⟩) and rounded to 6 before every argmin /
    ranking, with id tiebreaks — bit-reproducible in the DuckDB oracle
    (both sides fold left-to-right in double).
    """
    sub_len = _EMB_DIM // _PQ_M
    emb = load_table(spark, sf_dir, "embeddings")
    # Unit-normalization is carried ALGEBRAICALLY via per-vector scalar
    # norms instead of materializing normalized arrays:
    #   d²(a/|a|, c/|c|) = ⟨a,a⟩/|a|² − 2⟨a,c⟩/(|a|·|c|) + ⟨c,c⟩/|c|²
    # (on the unit sphere L2² = 2·(1 − cosine), the standard
    # cosine-ANN-via-PQ reduction).  A normalized-array column would be
    # a lambda closing over the full-vector norm, which projection
    # collapse inlines into every one of the m slice references — m·64
    # re-evaluated multiplies per row; the scalar-norm form keeps every
    # downstream reference an attribute.
    raw = emb.select("vec_id", _as_double("embedding").alias("rvec"))

    def _subs(src: DataFrame, id_out: str, vec_out: str,
              norm_out: str) -> DataFrame:
        """Explode a vector table into (id, |v|, sub_idx, raw subvector)
        rows — norm and subvectors become concrete attributes here, so
        nothing downstream re-walks the full array."""
        return src.select(
            F.col("vec_id").alias(id_out),
            _norm(F.col("rvec")).alias(norm_out),
            F.posexplode(F.array(*[
                F.slice(F.col("rvec"), s * sub_len + 1, sub_len)
                for s in range(_PQ_M)])).alias("sub_idx", vec_out))

    def _l2(a: str, b: str, na: str, nb: str) -> Column:
        av, bv, nav, nbv = F.col(a), F.col(b), F.col(na), F.col(nb)
        return F.round(_dot(av, av) / (nav * nav)
                       - 2 * _dot(av, bv) / (nav * nbv)
                       + _dot(bv, bv) / (nbv * nbv), 6)

    # The codebook (m·k subvectors) and the ADC lookup (Q·m·k partial
    # distances) are CONSTANT-size artifacts — independent of corpus
    # size — so they are materialized once on the driver and re-shipped
    # as literal broadcast tables.  This is the deployment shape of a
    # trained quantizer (a FAISS codebook is likewise a driver/trainer
    # artifact, not a per-query subtree): leaving them as lazy subtrees
    # made every downstream reference recompute the TakeOrdered +
    # window, and nested one broadcast job inside another (measured 5.3 s
    # of the 6.2 s total at sf0.1 in the scored stage alone).
    codebook = _subs(
        raw.orderBy(F.md5(F.col("vec_id").cast("string").cast("binary")),
                    F.col("vec_id")).limit(_PQ_CODES),
        "code_src", "cvec", "cnorm").withColumn(
            "code_id", F.dense_rank().over(
                Window.partitionBy("sub_idx").orderBy("code_src")))
    # Arrow round-trip (toPandas → createDataFrame) turns the collected
    # table into a driver-side LocalRelation: broadcasts build with NO
    # tasks.  createDataFrame from plain Python rows would instead make
    # a Python-RDD whose every evaluation pays a Python-worker round
    # trip (measured ~5 s/broadcast of idle executor wait).
    cb_df = spark.createDataFrame(codebook.toPandas(),
                                  schema=codebook.schema)
    # Encode: nearest code per (vector, subspace).  Two hot-path choices
    # (the N·m·k candidate stream is the only corpus-proportional math):
    # - the argmin drops the candidate-constant ⟨a,a⟩/|a|² term and
    #   precomputes the per-code ⟨c,c⟩/|c|² self-term into the broadcast
    #   table, so each candidate costs ONE sub_len-dim dot product
    #   instead of three (HOF array exprs are interpreted per element —
    #   measured 5 s of single-task CPU for the 3-dot form at sf0.1);
    # - min_by over the (d2, code_id) struct partially aggregates
    #   map-side, collapsing N·m·k → N·m before any shuffle (a
    #   row_number window would sort-shuffle the full candidate set).
    # The repartition restores map parallelism when the input is a
    # single small file (the local-test shape — a real 100 TB input
    # arrives already split); it is one bounded shuffle of N rows.
    # the (d2, code_id) argmin packed into ONE long — micro-distance
    # (6-dp fixed point) × 128 + code_id — so the aggregate is a plain
    # codegen'd min() with map-side partials (min_by over a struct falls
    # out of whole-stage codegen; measured 2.2 s single-task at sf0.1).
    # pmod decodes the winner's code id for any distance sign.
    # floor, not round, for the fixed-point packing: Spark F.round is
    # BigDecimal HALF_UP while DuckDB round is rint/half-even — floor is
    # mode-identical across engines and, being monotone, preserves the
    # argmin order.
    enc_key = (F.floor((F.col("cc_term")
                        - 2 * _dot(F.col("evec"), F.col("cvec"))
                        / (F.col("enorm") * F.col("cnorm"))) * 1e6)
               .cast("long") * 128 + F.col("code_id"))
    # explicit partition count: AQE coalesces a column-only repartition
    # of these few (small) rows back to ONE partition, serializing the
    # k-way candidate expansion that happens after it.  Width from conf,
    # not sparkContext.defaultParallelism — Connect sessions expose no
    # sparkContext, and this is the only query-path spot that touched it
    # (tests/test_spark_connect.py pins the package Connect-clean).
    from ..session import shuffle_width
    subs = (_subs(raw, "enc_id", "evec", "enorm")
            .repartition(shuffle_width(spark), F.col("enc_id")))

    def _assign(src: DataFrame, cb: DataFrame) -> DataFrame:
        """Nearest-code id per (vector, subspace) against a broadcast
        codebook — the shared argmin kernel for training and encode."""
        cbe = cb.withColumn(
            "cc_term", _dot(F.col("cvec"), F.col("cvec"))
            / (F.col("cnorm") * F.col("cnorm")))
        return (src.join(F.broadcast(cbe), "sub_idx")
                .groupBy(F.col("enc_id").alias("vec_id"), "sub_idx")
                .agg(F.min(enc_key).alias("k"))
                .select("vec_id", "sub_idx",
                        F.pmod(F.col("k"), F.lit(128)).cast("int")
                        .alias("code_id")))

    # --- codebook training: one rounded-Lloyd round per subspace ---
    # (closes the "hash sample as a stand-in for trained k-means"
    # shortcut with the same machinery ivf_kmeans_topk proved), on a
    # BOUNDED training sample — the FAISS deployment shape: the
    # quantizer trains on a fixed-size deterministic sample (md5-ordered
    # top-_PQ_TRAIN, a TakeOrdered — one bounded pass), then the full
    # corpus is encoded exactly once, so the corpus-proportional work
    # stays one argmin pass regardless of training.  Assign each sampled
    # subvector to its nearest init code, then replace each code with
    # the 6-dp-ROUNDED per-dimension mean of its cell in UNIT-NORMALIZED
    # space (val/|v|).  The rounding resynchronizes the engines (float
    # means differ in the last ulp by association order — the 1e-6
    # trick), and trained codes carry cnorm = 1.0 exactly because they
    # already live on the normalized scale.  Empty cells drop out on
    # both sides alike.  localCheckpoint: the sampled subvectors feed
    # both the assign and the mean pass.
    # r10 (guide §2.6): the TakeOrdered limit collapses the training
    # sample to one partition, so the 1M-candidate interpreted assign
    # argmin below ran single-task; bounded keyed repartition before
    # the checkpoint (the knn/_ivf_assigned finding)
    tsubs = (_subs(
        raw.orderBy(F.md5(F.col("vec_id").cast("string").cast("binary")),
                    F.col("vec_id")).limit(_PQ_TRAIN),
        "enc_id", "evec", "enorm")
        .repartition(shuffle_width(spark), F.col("enc_id"))
        .localCheckpoint())
    assign0 = _assign(tsubs, cb_df).withColumnRenamed("vec_id", "enc_id")
    cellvals = (tsubs.join(assign0, ["enc_id", "sub_idx"])
                .select("sub_idx", "code_id", "enorm",
                        F.posexplode(F.col("evec")).alias("pos", "val")))
    trained = (cellvals
               .groupBy("sub_idx", "code_id", "pos")
               .agg(F.round(F.avg(F.col("val") / F.col("enorm")), 6)
                    .alias("cval"))
               .groupBy("sub_idx", "code_id")
               .agg(F.array_sort(F.collect_list(F.struct("pos", "cval")))
                    .alias("s"))
               .select("sub_idx", "code_id",
                       F.transform("s", lambda x: x["cval"]).alias("cvec"),
                       F.lit(1.0).alias("cnorm")))
    # trained codebook: constant m·k rows — same driver-artifact
    # materialization contract as the init codebook above
    tcb_df = spark.createDataFrame(trained.toPandas(),
                                   schema=trained.schema)

    codes = _assign(subs, tcb_df)
    # ADC lookup: query × codebook partial distances (Q·m·k rows, tiny)
    qsubs = _subs(raw.where(F.col("vec_id") < _N_QUERIES),
                  "query_id", "qvec", "qnorm")
    adc = (qsubs.join(F.broadcast(tcb_df), "sub_idx")
           .select("query_id", "sub_idx", "code_id",
                   _l2("qvec", "cvec", "qnorm", "cnorm").alias("d2")))
    adc_df = spark.createDataFrame(adc.toPandas(), schema=adc.schema)
    scored = (codes.join(F.broadcast(adc_df), ["sub_idx", "code_id"])
              .groupBy("query_id", "vec_id")
              .agg(F.round(F.sum("d2"), 6).alias("approx_l2")))
    wadc = Window.partitionBy("query_id").orderBy(
        F.col("approx_l2").asc(), F.col("vec_id").asc())
    cands = (scored
             .where(F.col("query_id") != F.col("vec_id"))
             .withColumn("adc_rank", F.row_number().over(wadc))
             .where(F.col("adc_rank") <= _PQ_SHORTLIST)
             .select("query_id", "vec_id"))
    # exact re-rank on full raw vectors (cosine = dot / norm product)
    corpus = raw.select("vec_id", F.col("rvec").alias("nvec"),
                        _norm(F.col("rvec")).alias("nnorm"))
    qfull = (raw.where(F.col("vec_id") < _N_QUERIES)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("rvec").alias("qvec"),
                     _norm(F.col("rvec")).alias("qnorm")))
    reranked = (cands
                .join(corpus, "vec_id")
                .join(F.broadcast(qfull), "query_id")
                .select("query_id", "vec_id",
                        F.round(_dot(F.col("qvec"), F.col("nvec"))
                                / (F.col("qnorm") * F.col("nnorm")), 6)
                        .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    return (reranked
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= _TOP_K)
            .select("query_id", "rank",
                    F.col("vec_id").alias("neighbor_id"), "cosine"))


_KM_ROUNDS = 2       # unrolled Lloyd refinement rounds (oracle-matched)
_KM_DP = 6           # per-round centroid coordinate rounding (see below)


def _argmax_cell(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, vec, vnorm, centroid_id, rn): each vector ranked against
    every centroid by rounded cosine (centroid-id tiebreak) — rn=1 is the
    cell assignment, rn<=nprobe the probe set."""
    csim = F.round(_dot(F.col("vec"), F.col("cvec"))
                   / (F.col("vnorm") * F.col("cnorm")), 6)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("centroid_id").asc())
    return (vecs.crossJoin(F.broadcast(cents))
            .select("vec_id", "vec", "vnorm", "centroid_id",
                    csim.alias("csim"))
            .withColumn("rn", F.row_number().over(w)))


def ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with k-means-refined centroids — the production form of
    :func:`ivf_topk`, closing its documented "sample as a stand-in for
    k-means" shortcut while KEEPING the exact DuckDB oracle.

    Two unrolled Lloyd rounds on top of the same deterministic hash-
    sample init: assign every vector to its best centroid (rounded
    cosine, id tiebreak), recompute each cell's per-dimension mean, and
    ROUND the new coordinates to 6 dp.  The rounding is what keeps the
    whole refinement oracle-able: float means differ between engines in
    the last ulp (association order), and rounding at 1e-6 — nine orders
    above the drift — resynchronizes both sides after every round, so
    distances, assignments, and the final top-k stay hash-identical.
    Empty cells drop out on both sides alike.

    Scale shape per round: one broadcast-k argmin pass (map-only) + one
    (centroid, dim) grouped mean over k·64 cells — the textbook
    k-means|| iteration cost, constant in k and independent of corpus
    partitioning.  Everything else matches ivf_topk.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # one materialization: every Lloyd pass + the final assignment reuse
    # the normed vectors instead of re-scanning parquet and re-walking
    # the 64-dim norm fold per pass.  r10 (guide §2.6): repartition
    # BEFORE the checkpoint so the materialized blocks — and every
    # Lloyd pass's N·k interpreted argmin over them — are spread across
    # the shuffle width instead of the scan's single partition
    from ..session import shuffle_width
    vecs = (emb.select("vec_id", _as_double("embedding").alias("vec"))
            .repartition(shuffle_width(spark), F.col("vec_id"))
            .withColumn("vnorm", _norm(F.col("vec")))
            .localCheckpoint())
    cents = (vecs
             .orderBy(F.md5(F.col("vec_id").cast("string").cast("binary")),
                      F.col("vec_id"))
             .limit(_IVF_K)
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("vec").alias("cvec"),
                     F.col("vnorm").alias("cnorm")))
    for _ in range(_KM_ROUNDS):
        # grouped max_by argmin instead of a ranked window: the window
        # form shuffles every (vec, centroid) candidate row WITH the
        # 64-dim array; max_by shuffles only (vec_id, centroid_id, csim)
        # scalars and rejoins the arrays by key (measured ~30% off the
        # whole query).  Tiebreak via the (csim, -centroid_id) struct —
        # identical winner to the oracle's ORDER BY csim DESC, id ASC.
        csim = F.round(_dot(F.col("vec"), F.col("cvec"))
                       / (F.col("vnorm") * F.col("cnorm")), 6)
        best = (vecs.crossJoin(F.broadcast(cents))
                .select("vec_id", "centroid_id", csim.alias("csim"))
                .groupBy("vec_id")
                .agg(F.max_by("centroid_id",
                              F.struct(F.col("csim"),
                                       (-F.col("centroid_id")).alias("nid")))
                     .alias("centroid_id")))
        cell = vecs.join(best, "vec_id").select("vec_id", "vec",
                                                "centroid_id")
        dims = cell.select("centroid_id",
                           F.posexplode("vec").alias("pos", "val"))
        means = (dims.groupBy("centroid_id", "pos")
                 .agg(F.round(F.avg("val"), _KM_DP).alias("cval")))
        cents = (means.groupBy("centroid_id")
                 .agg(F.array_sort(F.collect_list(F.struct("pos", "cval")))
                      .alias("s"))
                 .select("centroid_id",
                         F.transform("s", lambda x: x["cval"]).alias("cvec"))
                 .withColumn("cnorm", _norm(F.col("cvec"))))
    assigned = _argmax_cell(vecs, cents)
    cell = (assigned.where(F.col("rn") == 1)
            .select("vec_id", "vec", "vnorm", "centroid_id"))
    queries = (assigned.where((F.col("vec_id") < _N_QUERIES)
                              & (F.col("rn") <= _IVF_NPROBE))
               .select(F.col("vec_id").alias("query_id"),
                       F.col("vec").alias("qvec"),
                       F.col("vnorm").alias("qnorm"), "centroid_id"))
    sim = F.round(_dot(F.col("qvec"), F.col("vec"))
                  / (F.col("qnorm") * F.col("vnorm")), 6)
    scored = (cell.join(F.broadcast(queries), "centroid_id")
              .where(F.col("query_id") != F.col("vec_id"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      sim.alias("cosine")))
    return _top_k(scored)


# MaxSim multi-vector retrieval: token vectors per document (64 dims
# sliced into 8×8 — the same deterministic multi-vector synthesis trick
# as the PQ subspaces, standing in for real per-token embeddings the
# synthetic table doesn't carry).
_MS_TOKENS = 8


def maxsim_multivector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction scoring (Khattab & Zaharia 2020,
    "ColBERT: Efficient and Effective Passage Search via Contextualized
    Late Interaction"): a document is a BAG of token vectors, and
    score(q, d) = Σ_i max_j cos(q_i, d_j) — each query token finds its
    best-matching document token, and the per-token maxima sum.  This is
    the retrieval shape modern multi-vector rerankers use where a single
    pooled vector loses too much.

    Plan shape: the corpus token table (N·m rows) cross-joins the
    BROADCAST query token set (Q·m rows, constant) map-only; the
    per-query-token max and the per-(query, doc) sum both partially
    aggregate map-side, collapsing N·Q·m² candidate rows to N·Q before
    any shuffle.  Exact baseline — the production scale path gates
    candidates with the LSH/IVF shortlist first (same composition as
    ``pq_topk``'s shortlist → re-rank).  Zero-norm token slices are
    filtered identically on both engines (Spark x/0 is NULL but DuckDB
    is Inf — the divergence class the drift guard documents).
    """
    sub_len = _EMB_DIM // _MS_TOKENS
    emb = load_table(spark, sf_dir, "embeddings")
    toks = (emb.select(
        "vec_id",
        F.posexplode(F.array(*[
            F.slice(_as_double("embedding"), s * sub_len + 1, sub_len)
            for s in range(_MS_TOKENS)])).alias("tok_idx", "tvec"))
        .withColumn("tnorm", _norm(F.col("tvec")))
        .where(F.col("tnorm") > 0))
    qtoks = (toks.where(F.col("vec_id") < _N_QUERIES)
             .select(F.col("vec_id").alias("query_id"),
                     F.col("tok_idx").alias("q_idx"),
                     F.col("tvec").alias("qvec"),
                     F.col("tnorm").alias("qnorm")))
    cos = F.round(_dot(F.col("tvec"), F.col("qvec"))
                  / (F.col("tnorm") * F.col("qnorm")), 6)
    scores = (toks.crossJoin(F.broadcast(qtoks))
              .where(F.col("query_id") != F.col("vec_id"))
              .groupBy("query_id", "vec_id", "q_idx")
              .agg(F.max(cos).alias("m"))
              .groupBy("query_id", "vec_id")
              .agg(F.round(F.sum("m"), 6).alias("maxsim_score")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("maxsim_score").desc(), F.col("vec_id").asc())
    return (scores.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= _TOP_K)
            .select("query_id", "rank",
                    F.col("vec_id").alias("neighbor_id"), "maxsim_score"))


def ann_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality EVAL over the engine's own ANN: NDCG@k of the
    PQ shortlist+re-rank index against the exact brute-force ranking
    (the standard IR metric — Järvelin & Kekäläinen 2002).  Relevance
    of a returned neighbor = (k+1) − its brute-force rank (0 if outside
    the exact top-k); DCG discounts by log2(position+1); IDCG re-ranks
    the same gains ideally.  This turns "the index feels fine" into a
    per-query hash-checked number — the eval harness an ANN deployment
    watches when the corpus drifts.  (The sign-LSH index evaluated the
    same way scores ≈0 on the near-uniform synthetic vectors — the
    metric exposing a weak index is precisely its job; the PQ index's
    0.96 recall makes it the meaningful subject.)

    Both inputs are deterministic engine queries, so the metric carries
    an exact SQL oracle (their oracles nest as subqueries).  The final
    ndcg rounds at 1e-6: log2 comes from different libm builds (the PMI
    precedent).  Scale: the metric join is k·Q rows vs k·Q rows — eval
    cost beyond running the two inputs is independent of corpus size.
    """
    bf = (cosine_topk_bruteforce(spark, sf_dir)
          .select("query_id", "neighbor_id",
                  F.col("rank").alias("bf_rank")))
    ann = pq_topk(spark, sf_dir).select("query_id", "rank", "neighbor_id")
    rel = (ann.join(bf, ["query_id", "neighbor_id"], "left")
           .select("query_id", "rank",
                   F.coalesce(F.lit(_TOP_K + 1) - F.col("bf_rank"),
                              F.lit(0)).alias("rel")))
    wideal = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("rank").asc())
    scored = (rel
              .withColumn("ideal_pos", F.row_number().over(wideal))
              .groupBy("query_id")
              .agg(F.sum(F.col("rel") / F.log2(F.col("rank") + 1))
                   .alias("dcg"),
                   F.sum(F.col("rel") / F.log2(F.col("ideal_pos") + 1))
                   .alias("idcg")))
    return scored.select(
        "query_id",
        F.round("dcg", 6).alias("dcg"),
        F.round("idcg", 6).alias("idcg"),
        F.round(F.col("dcg") / F.nullif(F.col("idcg"), F.lit(0.0)), 6)
        .alias("ndcg"))


# int8 scalar quantization (the FAISS SQ8 / vector-DB "compressed
# storage tier" shape): per-dimension [min, max] learned from the
# corpus, 8-bit codes, asymmetric scoring (full-precision query against
# dequantized corpus), exact re-rank of a bounded shortlist.
_SQ_SHORTLIST = 50

# Matryoshka truncated-dimension retrieval (Kusupati et al. 2022,
# "Matryoshka Representation Learning"): the first _MAT_DIM coordinates
# act as a coarse embedding; shortlist there, re-rank at full dim.
_MAT_DIM = 16
_MAT_SHORTLIST = 40


def sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8) ANN with exact re-rank — the storage-tier
    compression every production vector index offers (FAISS
    ``ScalarQuantizer`` QT_8bit): per-dimension min/max over the corpus
    define a linear code ``floor((x-mn)*255/(mx-mn))``; search scores a
    FULL-precision query against the DEQUANTIZED corpus (asymmetric
    distance — quantize one side only, the standard accuracy trade),
    shortlists top-{_SQ_SHORTLIST}, and re-ranks the shortlist with
    exact cosine.

    Scale shape: the per-dim stats are one posexplode + (dim)-keyed
    aggregate (64 groups — partial-aggregated map-side, merged into a
    single broadcast row of two 64-float arrays).  Quantize + score is
    map-only over the corpus (codes are 12 bytes/vector at rest — a 4×
    memory cut vs float32, which at 100 TB is the difference between
    an in-memory and a spilled index).  All arithmetic is per-element
    with ``floor`` (mode-identical across engines — the PQ packing
    precedent), so the whole pipeline carries an exact SQL oracle.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", _as_double("embedding").alias("vec"))
    # per-dimension min/max → ONE broadcast row holding (mn[], rng[]).
    # posexplode is map-side; the 64-group aggregate partial-aggs before
    # its (tiny) shuffle; array_sort on (d, stat) structs rebuilds
    # position order without a window.
    dims = vecs.select(F.posexplode("vec").alias("d", "val"))
    stats = (dims.groupBy("d")
             .agg(F.min("val").alias("mn"), F.max("val").alias("mx")))
    stat_row = stats.agg(
        F.transform(F.array_sort(F.collect_list(F.struct("d", "mn"))),
                    lambda s: s["mn"]).alias("mn_arr"),
        F.transform(F.array_sort(F.collect_list(F.struct("d", "mx"))),
                    lambda s: s["mx"]).alias("mx_arr"))
    # codes: clip(floor((x - mn) * 255 / rng)) — elementwise, exact;
    # rng=0 dims (constant coordinate) code to 0 and dequantize to mn
    coded = (vecs.crossJoin(F.broadcast(stat_row))
             .withColumn("diff", F.zip_with("vec", "mn_arr",
                                            lambda x, m: x - m))
             .withColumn("rng", F.zip_with("mx_arr", "mn_arr",
                                           lambda a, b: a - b))
             .withColumn("code", F.zip_with(
                 "diff", "rng",
                 lambda d, r: F.coalesce(
                     F.least(F.lit(255.0), F.greatest(
                         F.lit(0.0),
                         F.floor(d * F.lit(255.0)
                                 / F.nullif(r, F.lit(0.0)))
                         .cast("double"))),
                     F.lit(0.0))))
             .withColumn("dqv", F.zip_with(
                 F.zip_with("code", "rng",
                            lambda c, r: c * r / F.lit(255.0)),
                 "mn_arr", lambda v, m: v + m)))
    corpus = coded.select(F.col("vec_id").alias("neighbor_id"),
                          F.col("vec").alias("nvec"), "dqv")
    queries = (vecs.orderBy("vec_id").limit(_N_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("vec").alias("qvec"))
               .withColumn("qnorm", _norm(F.col("qvec"))))
    approx = F.round(_dot(F.col("qvec"), F.col("dqv")), 6)
    scored = (corpus.crossJoin(F.broadcast(queries))
              .where(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id", "nvec", "qvec", "qnorm",
                      approx.alias("sq_score")))
    wshort = Window.partitionBy("query_id").orderBy(
        F.col("sq_score").desc(), F.col("neighbor_id").asc())
    short = (scored.withColumn("srank", F.row_number().over(wshort))
             .where(F.col("srank") <= _SQ_SHORTLIST))
    # exact re-rank on the full-precision vectors carried through the
    # shortlist (no second corpus scan)
    cosine = F.round(_dot(F.col("qvec"), F.col("nvec"))
                     / (F.col("qnorm") * _norm(F.col("nvec"))), 6)
    return _top_k(short.select("query_id", "neighbor_id", "sq_score",
                               cosine.alias("cosine")), "sq_score")


def matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / truncated-dimension retrieval (Kusupati et al. 2022):
    stage 1 scores cosine on only the FIRST {_MAT_DIM} coordinates
    (MRL-trained embeddings front-load information, so a prefix slice
    is itself a valid coarse embedding), shortlists
    top-{_MAT_SHORTLIST}; stage 2 re-ranks the shortlist with exact
    full-dimension cosine.

    Scale shape: stage 1 reads and multiplies 4× less data per
    candidate — at 100 TB the prefix slice is the column you actually
    keep hot (a separate parquet column of the 16-dim prefix would
    prune the scan to a quarter); the full vector is only touched for
    shortlist × Q rows, carried through the shortlist window so the
    corpus is scanned exactly once.  Both stages are the broadcast-Q
    map-only crossJoin + bounded window of the brute-force baseline.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = (emb.select("vec_id", _as_double("embedding").alias("vec"))
            .withColumn("tvec", F.slice("vec", 1, _MAT_DIM)))
    queries = (vecs.orderBy("vec_id").limit(_N_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("vec").alias("qvec"),
                       F.col("tvec").alias("qtvec"))
               .withColumn("qnorm", _norm(F.col("qvec")))
               .withColumn("qtnorm", _norm(F.col("qtvec"))))
    corpus = (vecs.select(F.col("vec_id").alias("neighbor_id"),
                          F.col("vec").alias("nvec"), "tvec")
              .withColumn("tnorm", _norm(F.col("tvec"))))
    trunc_cos = F.round(_dot(F.col("qtvec"), F.col("tvec"))
                        / (F.col("qtnorm") * F.col("tnorm")), 6)
    wshort = Window.partitionBy("query_id").orderBy(
        F.col("trunc_cosine").desc(), F.col("neighbor_id").asc())
    short = (corpus.crossJoin(F.broadcast(queries))
             .where(F.col("query_id") != F.col("neighbor_id"))
             .select("query_id", "neighbor_id", "nvec", "qvec", "qnorm",
                     trunc_cos.alias("trunc_cosine"))
             .withColumn("srank", F.row_number().over(wshort))
             .where(F.col("srank") <= _MAT_SHORTLIST))
    cosine = F.round(_dot(F.col("qvec"), F.col("nvec"))
                     / (F.col("qnorm") * _norm(F.col("nvec"))), 6)
    return _top_k(short.select("query_id", "neighbor_id", "trunc_cosine",
                               cosine.alias("cosine")), "trunc_cosine")


def ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al. 2007, "Multi-Probe LSH: Efficient
    Indexing for High-Dimensional Similarity Search"): instead of more
    hash tables, each query ALSO probes the buckets at Hamming
    distance 1 from its own (flip each of the 8 sign bits) — 9 buckets
    per query.  The perturbed buckets are exactly where near neighbors
    that straddle a hyperplane land, so recall rises steeply at the
    cost of a bounded 9× candidate fan-out (vs 2×-per-table for extra
    tables, each with its own full index copy).

    Scale shape: the corpus is bucketed ONCE (same map-only projection
    as ``ann_lsh_topk``); only the constant-size query side explodes
    ×9.  The join stays a bucket equi-join with the tiny side
    broadcast; memory cost of multi-probe is ZERO extra index state —
    the entire point of the technique at 100 TB.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    planes = _hyperplanes()

    with_bucket = (emb.select("vec_id", _as_double("embedding").alias("vec"))
                   .withColumn("bucket", _lsh_bucket(F.col("vec"), planes))
                   .withColumn("vnorm", _norm(F.col("vec"))))
    probe_arr = F.array(
        F.col("qbucket"),
        *[F.col("qbucket").bitwiseXOR(F.lit(1 << i))
          for i in range(_LSH_PLANES)])
    queries = (with_bucket.orderBy("vec_id").limit(_N_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("vec").alias("qvec"),
                       F.col("vnorm").alias("qnorm"),
                       F.col("bucket").alias("qbucket"))
               .select("query_id", "qvec", "qnorm",
                       F.explode(probe_arr).alias("bucket")))
    sim = F.round(_dot(F.col("qvec"), F.col("vec"))
                  / (F.col("qnorm") * F.col("vnorm")), 6)
    scored = (with_bucket.join(F.broadcast(queries), "bucket")
              .where(F.col("query_id") != F.col("vec_id"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      sim.alias("cosine")))
    return _top_k(scored)


def triplet_mining_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mine (anchor, positive, hard-negative) TRIPLETS from the exact
    neighbor ranking — the supervision-construction step for training
    embedding models with triplet / InfoNCE losses: the positive is the
    anchor's nearest neighbor, the hard negative its rank-10 neighbor
    (close enough to be informative, far enough to be wrong — the
    "hard" band every dense-retrieval recipe mines), and the margin is
    their cosine gap.

    Built entirely from ``cosine_topk_bruteforce``'s ranked output (two
    filtered self-joins on query_id) — at scale the exact ranking is
    replaced by any of the ANN indexes (pq/ivf/lsh) without changing
    this operator's shape; mining cost beyond the ranking is k·Q rows.
    """
    # r9 (guide §2.4): the ranked list feeds both triplet sides — one
    # k·Q-row cut so the exact ranking chain runs once
    ranked = cosine_topk_bruteforce(spark, sf_dir).localCheckpoint()
    pos = (ranked.where(F.col("rank") == 1)
           .select("query_id", F.col("neighbor_id").alias("positive_id"),
                   F.col("cosine").alias("pos_cos")))
    neg = (ranked.where(F.col("rank") == _TOP_K)
           .select("query_id",
                   F.col("neighbor_id").alias("hard_negative_id"),
                   F.col("cosine").alias("neg_cos")))
    return (pos.join(neg, "query_id")
            .select("query_id", "positive_id", "pos_cos",
                    "hard_negative_id", "neg_cos",
                    F.round(F.col("pos_cos") - F.col("neg_cos"), 6)
                    .alias("margin")))


# Reciprocal-rank-fusion constant (Cormack et al. 2009): 60 is the
# canonical value; the +k damps the head so a single ranker can't
# dominate the fused list.
_RRF_K = 60


def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID dense+lexical retrieval via Reciprocal Rank Fusion
    (Cormack, Clarke & Buettcher 2009): the corpus shares one id space
    between ``documents`` and ``embeddings``, so each query document
    gets a DENSE ranking (exact cosine over its embedding) and a
    LEXICAL ranking (BM25 over its terms), fused by
    score = Σ_r 1/(60 + rank_r) — the standard production hybrid-search
    combiner (rank-based, so the two incompatible score scales never
    need calibration).

    The fusion itself is one full-outer join of two (query, neighbor,
    rank) lists — k·Q rows each — plus a window; its cost is
    independent of corpus size, and each input is swappable for its
    scale path (pq/ivf for dense, an impact-sorted index for lexical)
    without touching the fusion.  1/(60+rank) is a fixed two-term
    expression, not a float aggregate, so the fused score is exactly
    reproducible."""
    from .text import bm25_topk
    dense = (cosine_topk_bruteforce(spark, sf_dir)
             .select("query_id", "neighbor_id",
                     F.col("rank").alias("dense_rank")))
    lex = (bm25_topk(spark, sf_dir)
           .select("query_id", "neighbor_id",
                   F.col("rank").alias("lex_rank")))
    fused = (dense.join(lex, ["query_id", "neighbor_id"], "full_outer")
             .select("query_id", "neighbor_id", "dense_rank", "lex_rank",
                     F.round(
                         F.coalesce(1.0 / (F.lit(_RRF_K)
                                           + F.col("dense_rank")),
                                    F.lit(0.0))
                         + F.coalesce(1.0 / (F.lit(_RRF_K)
                                             + F.col("lex_rank")),
                                      F.lit(0.0)), 6).alias("rrf_score")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("neighbor_id").asc())
    return (fused.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= _TOP_K)
            .select("query_id", "rank", "neighbor_id", "rrf_score",
                    "dense_rank", "lex_rank"))


_KNN_K = 10
_KNN_ANCHORS = 200      # CONSTANT anchor-sample size (md5-ordered limit)


def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality eval via kNN CLASSIFICATION: a CONSTANT-size
    deterministic anchor sample (the first ``_KNN_ANCHORS`` = 200
    vectors in md5(vec_id) order — the ``fixed_k_sample_per_lang``
    order-by-hash-then-limit shape) is classified by the majority label
    of its 10 exact nearest neighbors (ties broken by label) and scored
    against its own label — the standard representation-quality probe
    (a kNN accuracy drop on fresh data is the canary for embedding
    drift, and per-label accuracy exposes which classes the space
    confuses).

    Output per label: anchor count, kNN accuracy, and the mean
    majority-vote share (confidence).  Scale: the anchor side is a
    constant 200 rows regardless of corpus size, so the broadcast can
    NEVER grow with the data (the round-3 1-in-5 modulus sample was
    corpus-proportional — at 100× it both OOMs the executors and costs
    N²/5 compute; the constant sample keeps eval cost at 200·N, one
    corpus scan).  Production swaps the exact ranking for an ANN index,
    same contract as ``ann_eval_ndcg``; everything after the ranking is
    k·200 rows aggregated on the anchor then the label key."""
    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    # r10 (guide §2.6/§8): the 200·N interpreted cosine stream runs in
    # the SCAN's partitions — a single-row-group local file is ONE task
    # (measured: the whole 4 s standalone cost was one task at 32
    # cores).  One bounded keyed repartition of the corpus side spreads
    # it across the shuffle width; a real 100 TB input arrives already
    # split, where this is one narrow pass (the pq_topk precedent).
    from ..session import shuffle_width
    corpus = (emb.select(F.col("vec_id").alias("neighbor_id"),
                         _as_double("embedding").alias("nvec"))
              .repartition(shuffle_width(spark), F.col("neighbor_id"))
              .withColumn("nnorm", _norm(F.col("nvec"))))
    anchors = (emb
               .orderBy(F.md5(F.col("vec_id").cast("string")),
                        F.col("vec_id"))
               .limit(_KNN_ANCHORS)
               .select("vec_id", _as_double("embedding").alias("qvec"))
               .withColumn("qnorm", _norm(F.col("qvec"))))
    sim = F.round(_dot(F.col("qvec"), F.col("nvec"))
                  / (F.col("qnorm") * F.col("nnorm")), 6)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    topk = (corpus.crossJoin(F.broadcast(anchors))
            .where(F.col("vec_id") != F.col("neighbor_id"))
            .select("vec_id", "neighbor_id", sim.alias("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= _KNN_K))
    votes = (topk.join(labels.select(
                 F.col("vec_id").alias("neighbor_id"),
                 F.col("label").alias("n_label")), "neighbor_id")
             .groupBy("vec_id", "n_label")
             .agg(F.count(F.lit(1)).alias("v")))
    wv = Window.partitionBy("vec_id").orderBy(
        F.col("v").desc(), F.col("n_label").asc())
    pred = (votes.withColumn("rn", F.row_number().over(wv))
            .where(F.col("rn") == 1)
            .select("vec_id", F.col("n_label").alias("pred_label"),
                    (F.col("v") / float(_KNN_K)).alias("vote_share")))
    return (pred.join(labels, "vec_id")
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vectors"),
                 F.round(F.avg((F.col("pred_label") == F.col("label"))
                               .cast("double")), 6).alias("knn_accuracy"),
                 F.round(F.avg("vote_share"), 6).alias("avg_vote_share")))


QUERIES = {
    "cosine_topk_bruteforce": cosine_topk_bruteforce,
    "hybrid_rrf_topk": hybrid_rrf_topk,
    "knn_label_accuracy": knn_label_accuracy,
    "embedding_neardup_pairs": embedding_neardup_pairs,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_multiprobe_topk": ann_multiprobe_topk,
    "ivf_topk": ivf_topk,
    "ivf_kmeans_topk": ivf_kmeans_topk,
    "pq_topk": pq_topk,
    "maxsim_multivector_topk": maxsim_multivector_topk,
    "ann_eval_ndcg": ann_eval_ndcg,
    "sq8_topk": sq8_topk,
    "matryoshka_topk": matryoshka_topk,
    "triplet_mining_embeddings": triplet_mining_embeddings,
}


def _ivf_kmeans_oracle_sql() -> str:
    """Unrolled-Lloyd IVF oracle: each refinement round is an
    assignment CTE + a per-(centroid, dim) rounded mean rebuilt into a
    list — the same computation the Spark side runs, in pure SQL."""
    cos = ("round(list_dot_product({a}, {b}) "
           "/ (sqrt(list_dot_product({a}, {a})) "
           "* sqrt(list_dot_product({b}, {b}))), 6)")
    parts = [f"""
        vecs AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ), cents0 AS (
            SELECT vec_id AS centroid_id, emb AS cemb FROM vecs
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_IVF_K}
        )"""]
    for r in range(_KM_ROUNDS):
        c = cos.format(a="v.emb", b="c.cemb")
        parts.append(f"""
        assign{r} AS (
            SELECT v.vec_id, v.emb, c.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {c} DESC, c.centroid_id ASC) AS rn
            FROM vecs v CROSS JOIN cents{r} c
        ), cell{r} AS (
            SELECT vec_id, emb, centroid_id FROM assign{r} WHERE rn = 1
        ), cents{r + 1} AS (
            SELECT centroid_id, list(cval ORDER BY pos) AS cemb
            FROM (
                SELECT centroid_id, t.pos,
                       round(avg(emb[t.pos]), {_KM_DP}) AS cval
                FROM cell{r},
                     unnest(generate_series(1, len(emb))) AS t(pos)
                GROUP BY 1, 2)
            GROUP BY 1
        )""")
    c = cos.format(a="v.emb", b="c.cemb")
    sim = cos.format(a="q.qemb", b="v.emb")
    parts.append(f"""
        final_assign AS (
            SELECT v.vec_id, v.emb, c.centroid_id,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {c} DESC, c.centroid_id ASC) AS rn
            FROM vecs v CROSS JOIN cents{_KM_ROUNDS} c
        ), final_cell AS (
            SELECT vec_id, emb, centroid_id FROM final_assign WHERE rn = 1
        ), qprobe AS (
            SELECT vec_id AS query_id, emb AS qemb, centroid_id
            FROM final_assign
            WHERE vec_id < {_N_QUERIES} AND rn <= {_IVF_NPROBE}
        ), scored AS (
            SELECT q.query_id, v.vec_id AS neighbor_id, {sim} AS cosine
            FROM qprobe q JOIN final_cell v ON q.centroid_id = v.centroid_id
            WHERE q.query_id != v.vec_id
        )""")
    return ("WITH " + ",".join(parts) + f"""
        SELECT query_id, rank, neighbor_id, cosine FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored)
        WHERE rank <= {_TOP_K}
    """)


def _ann_lsh_oracle_sql() -> str:
    """ANN-LSH oracle with the seeded hyperplanes inlined as double
    literals (repr round-trips exactly), the same technique as the
    neardup oracle — upgrading this query from rows-only to fully
    hash-checked."""
    planes = _hyperplanes()
    bits = []
    for i, plane in enumerate(planes):
        lits = ", ".join(repr(float(v)) for v in plane)
        bits.append(f"CASE WHEN list_dot_product(emb, [{lits}]) >= 0 "
                    f"THEN {1 << i} ELSE 0 END")
    bucket = " + ".join(bits)
    return f"""
        WITH vecs AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ), bucketed AS (
            SELECT vec_id, emb, ({bucket}) AS bucket FROM vecs
        ), queries AS (
            SELECT vec_id AS query_id, emb AS qemb, bucket
            FROM bucketed ORDER BY vec_id LIMIT {_N_QUERIES}
        ), scored AS (
            SELECT q.query_id, v.vec_id AS neighbor_id,
                   round(list_dot_product(q.qemb, v.emb)
                         / (sqrt(list_dot_product(q.qemb, q.qemb))
                            * sqrt(list_dot_product(v.emb, v.emb))), 6) AS cosine
            FROM queries q JOIN bucketed v USING (bucket)
            WHERE q.query_id != v.vec_id
        )
        SELECT query_id, rank, neighbor_id, cosine FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored)
        WHERE rank <= {_TOP_K}
    """

_COSINE = ("list_dot_product(a.emb, b.emb) "
           "/ (sqrt(list_dot_product(a.emb, a.emb)) "
           "* sqrt(list_dot_product(b.emb, b.emb)))")


def _neardup_oracle_sql() -> str:
    """Generate the neardup oracle with the hyperplane constants inlined
    as double literals (repr round-trips exactly), so DuckDB reproduces
    the same band signatures as the Spark plan."""
    planes = _nd_planes()
    band_exprs = []
    for band in range(_ND_BANDS):
        bits = []
        for i in range(_ND_BITS):
            lits = ", ".join(repr(float(p))
                             for p in planes[band * _ND_BITS + i])
            bits.append(f"CASE WHEN list_dot_product(emb, [{lits}]) >= 0 "
                        f"THEN {1 << i} ELSE 0 END")
        band_exprs.append("(" + " + ".join(bits) + f") AS b{band}")
    band_cols = ",\n                   ".join(band_exprs)
    same_band = " OR ".join(f"a.b{i} = b.b{i}" for i in range(_ND_BANDS))
    return f"""
        WITH vecs AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ), banded AS (
            SELECT vec_id, label, emb,
                   {band_cols}
            FROM vecs
        )
        SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
               round({_COSINE}, 6) AS cosine
        FROM banded a JOIN banded b
          ON a.label = b.label AND a.vec_id < b.vec_id
         AND ({same_band})
        WHERE round({_COSINE}, 6) >= {_ND_THRESHOLD}
    """

ORACLES = {
    "cosine_topk_bruteforce": f"""
        WITH vecs AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ), queries AS (
            SELECT vec_id AS query_id, emb FROM vecs ORDER BY vec_id LIMIT {_N_QUERIES}
        ), scored AS (
            SELECT q.query_id, v.vec_id AS neighbor_id,
                   round(list_dot_product(q.emb, v.emb)
                         / (sqrt(list_dot_product(q.emb, q.emb))
                            * sqrt(list_dot_product(v.emb, v.emb))), 6) AS cosine
            FROM queries q CROSS JOIN vecs v
            WHERE q.query_id != v.vec_id
        )
        SELECT query_id, rank, neighbor_id, cosine FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored)
        WHERE rank <= {_TOP_K}
    """,
    "ivf_topk": f"""
        WITH vecs AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ), cents AS (
            SELECT vec_id AS centroid_id, emb AS cemb FROM vecs
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_IVF_K}
        ), assigned AS (
            SELECT vec_id, emb, centroid_id,
                   row_number() OVER (PARTITION BY vec_id ORDER BY
                       round(list_dot_product(emb, cemb)
                             / (sqrt(list_dot_product(emb, emb))
                                * sqrt(list_dot_product(cemb, cemb))), 6) DESC,
                       centroid_id ASC) AS rn
            FROM vecs CROSS JOIN cents
        ), cell AS (
            SELECT vec_id, emb, centroid_id FROM assigned WHERE rn = 1
        ), qprobe AS (
            SELECT vec_id AS query_id, emb AS qemb, centroid_id
            FROM assigned
            WHERE vec_id < {_N_QUERIES} AND rn <= {_IVF_NPROBE}
        ), scored AS (
            SELECT q.query_id, v.vec_id AS neighbor_id,
                   round(list_dot_product(q.qemb, v.emb)
                         / (sqrt(list_dot_product(q.qemb, q.qemb))
                            * sqrt(list_dot_product(v.emb, v.emb))), 6) AS cosine
            FROM qprobe q JOIN cell v ON q.centroid_id = v.centroid_id
            WHERE q.query_id != v.vec_id
        )
        SELECT query_id, rank, neighbor_id, cosine FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored)
        WHERE rank <= {_TOP_K}
    """,
    "embedding_neardup_pairs": _neardup_oracle_sql(),
    "ann_lsh_topk": _ann_lsh_oracle_sql(),
    # d²(a/|a|, c/|c|) = <a,a>/|a|² - 2<a,c>/(|a||c|) + <c,c>/|c|² — the
    # same algebraic normalization as the Spark plan (FP path must match
    # for the rounded argmin); DuckDB list slices are 1-based inclusive:
    # subspace s covers emb[s*4+1 : s*4+4].
    "pq_topk": f"""
        WITH rawv AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS remb
            FROM embeddings
        ), normed AS (
            SELECT vec_id, remb,
                   sqrt(list_dot_product(remb, remb)) AS vn
            FROM rawv
        ), srcs AS (
            SELECT vec_id AS code_src, remb, vn FROM normed
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_PQ_CODES}
        ), codebook AS (
            SELECT s.sub_idx, c.code_src, c.vn AS cnorm,
                   c.remb[s.sub_idx * {_EMB_DIM // _PQ_M} + 1
                          : s.sub_idx * {_EMB_DIM // _PQ_M} + {_EMB_DIM // _PQ_M}]
                       AS cvec,
                   row_number() OVER (PARTITION BY s.sub_idx
                                      ORDER BY c.code_src) AS code_id
            FROM srcs c, range(0, {_PQ_M}) s(sub_idx)
        ), vsubs AS (
            SELECT v.vec_id, v.vn, s.sub_idx,
                   v.remb[s.sub_idx * {_EMB_DIM // _PQ_M} + 1
                          : s.sub_idx * {_EMB_DIM // _PQ_M} + {_EMB_DIM // _PQ_M}]
                       AS svec
            FROM normed v, range(0, {_PQ_M}) s(sub_idx)
        ), tsrcs AS (
            -- bounded training sample (FAISS shape): md5-ordered
            -- top-{_PQ_TRAIN} — the quantizer trains on a fixed-size
            -- sample, the full corpus is encoded exactly once
            SELECT vec_id FROM normed
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {_PQ_TRAIN}
        ), assign0 AS (
            -- training assignment vs the INIT codebook: packed-long
            -- argmin — 6-dp fixed-point micro-distance (floor: rounding-
            -- mode identical across engines) × 128 + code_id, minimized
            -- as a plain integer; the argmin drops the candidate-
            -- constant <a,a>/|a|² term (mirrors the Spark kernel)
            SELECT vec_id, sub_idx,
                   CAST(((min(k) % 128) + 128) % 128 AS INT) AS code_id
            FROM (
                SELECT v.vec_id, v.sub_idx,
                       CAST(floor((list_dot_product(cb.cvec, cb.cvec)
                                       / (cb.cnorm * cb.cnorm)
                                   - 2 * list_dot_product(v.svec, cb.cvec)
                                       / (v.vn * cb.cnorm)) * 1e6)
                            AS BIGINT) * 128 + cb.code_id AS k
                FROM vsubs v
                JOIN tsrcs t USING (vec_id)
                JOIN codebook cb USING (sub_idx))
            GROUP BY vec_id, sub_idx
        ), trained AS (
            -- one rounded-Lloyd round: per-(subspace, code, dim) mean of
            -- the cell's UNIT-NORMALIZED subvector coords, rounded at
            -- 6 dp (engine-resync) — trained codes live on the
            -- normalized scale, so their norm is exactly 1.0
            SELECT a.sub_idx, a.code_id, p.pos,
                   round(avg(v.svec[p.pos] / v.vn), 6) AS cval
            FROM assign0 a
            JOIN vsubs v USING (vec_id, sub_idx),
                 range(1, {_EMB_DIM // _PQ_M} + 1) p(pos)
            GROUP BY 1, 2, 3
        ), codebook2 AS (
            SELECT sub_idx, code_id,
                   list(cval ORDER BY pos) AS cvec,
                   CAST(1.0 AS DOUBLE) AS cnorm
            FROM trained GROUP BY 1, 2
        ), encoded AS (
            SELECT vec_id, sub_idx,
                   CAST(((min(k) % 128) + 128) % 128 AS INT) AS code_id
            FROM (
                SELECT v.vec_id, v.sub_idx,
                       CAST(floor((list_dot_product(cb.cvec, cb.cvec)
                                       / (cb.cnorm * cb.cnorm)
                                   - 2 * list_dot_product(v.svec, cb.cvec)
                                       / (v.vn * cb.cnorm)) * 1e6)
                            AS BIGINT) * 128 + cb.code_id AS k
                FROM vsubs v JOIN codebook2 cb USING (sub_idx))
            GROUP BY vec_id, sub_idx
        ), adc AS (
            SELECT q.vec_id AS query_id, q.sub_idx, cb.code_id,
                   round(list_dot_product(q.svec, q.svec) / (q.vn * q.vn)
                         - 2 * list_dot_product(q.svec, cb.cvec)
                             / (q.vn * cb.cnorm)
                         + list_dot_product(cb.cvec, cb.cvec)
                             / (cb.cnorm * cb.cnorm), 6) AS d2
            FROM vsubs q JOIN codebook2 cb USING (sub_idx)
            WHERE q.vec_id < {_N_QUERIES}
        ), scored AS (
            SELECT a.query_id, e.vec_id, round(sum(a.d2), 6) AS approx_l2
            FROM encoded e JOIN adc a USING (sub_idx, code_id)
            GROUP BY 1, 2
        ), cands AS (
            SELECT query_id, vec_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY approx_l2 ASC, vec_id ASC) AS adc_rank
                FROM scored WHERE query_id != vec_id)
            WHERE adc_rank <= {_PQ_SHORTLIST}
        ), reranked AS (
            SELECT c.query_id, c.vec_id,
                   round(list_dot_product(q.remb, v.remb)
                         / (q.vn * v.vn), 6) AS cosine
            FROM cands c
            JOIN normed v ON c.vec_id = v.vec_id
            JOIN normed q ON c.query_id = q.vec_id
        )
        SELECT query_id, rank, vec_id AS neighbor_id, cosine FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id ASC) AS rank
            FROM reranked)
        WHERE rank <= {_TOP_K}
    """,
}

ORACLES["ivf_kmeans_topk"] = _ivf_kmeans_oracle_sql()

# the eval metric's inputs are themselves oracled queries — their SQL
# nests as subqueries (each carries its own WITH)
ORACLES["ann_eval_ndcg"] = f"""
    WITH bf AS (SELECT query_id, neighbor_id, rank AS bf_rank
                FROM ({{bf_sql}}) __bf),
    ann AS (SELECT query_id, rank, neighbor_id
            FROM ({{ann_sql}}) __ann),
    rel AS (
        SELECT a.query_id, a.rank,
               coalesce({_TOP_K + 1} - b.bf_rank, 0) AS rel
        FROM ann a
        LEFT JOIN bf b ON a.query_id = b.query_id
                      AND a.neighbor_id = b.neighbor_id
    ), pos AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY rel DESC, rank ASC) AS ideal_pos
        FROM rel
    ), agg AS (
        SELECT query_id,
               sum(rel / log2(rank + 1)) AS dcg,
               sum(rel / log2(ideal_pos + 1)) AS idcg
        FROM pos GROUP BY 1
    )
    SELECT query_id, round(dcg, 6) AS dcg, round(idcg, 6) AS idcg,
           round(dcg / nullif(idcg, 0), 6) AS ndcg
    FROM agg
""".format(bf_sql=ORACLES["cosine_topk_bruteforce"],
           ann_sql=ORACLES["pq_topk"])

ORACLES["maxsim_multivector_topk"] = f"""
    WITH rawv AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS remb
        FROM embeddings
    ), toks AS (
        SELECT v.vec_id, s.tok_idx,
               v.remb[s.tok_idx * {_EMB_DIM // _MS_TOKENS} + 1
                      : s.tok_idx * {_EMB_DIM // _MS_TOKENS}
                        + {_EMB_DIM // _MS_TOKENS}] AS tvec
        FROM rawv v, range(0, {_MS_TOKENS}) s(tok_idx)
    ), ntoks AS (
        SELECT vec_id, tok_idx, tvec,
               sqrt(list_dot_product(tvec, tvec)) AS tn
        FROM toks
        WHERE sqrt(list_dot_product(tvec, tvec)) > 0
    ), best AS (
        SELECT q.vec_id AS query_id, d.vec_id, q.tok_idx AS q_idx,
               max(round(list_dot_product(q.tvec, d.tvec)
                         / (q.tn * d.tn), 6)) AS m
        FROM ntoks q, ntoks d
        WHERE q.vec_id < {_N_QUERIES} AND d.vec_id != q.vec_id
        GROUP BY 1, 2, 3
    ), scores AS (
        SELECT query_id, vec_id, round(sum(m), 6) AS maxsim_score
        FROM best GROUP BY 1, 2
    )
    SELECT query_id, rank, vec_id AS neighbor_id, maxsim_score FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY maxsim_score DESC, vec_id ASC) AS rank
        FROM scores)
    WHERE rank <= {_TOP_K}
"""

ORACLES["sq8_topk"] = f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ), dims AS (
        SELECT vec_id, generate_subscripts(emb, 1) AS d, unnest(emb) AS val
        FROM vecs
    ), stats AS (
        SELECT d, min(val) AS mn, max(val) AS mx FROM dims GROUP BY d
    ), codes AS (
        SELECT vec_id, d, mn, mx,
               coalesce(least(255.0, greatest(0.0,
                   floor((val - mn) * 255.0 / nullif(mx - mn, 0)))), 0.0)
               AS code
        FROM dims JOIN stats USING (d)
    ), dq AS (
        SELECT vec_id,
               list(code * (mx - mn) / 255.0 + mn ORDER BY d) AS dqv
        FROM codes GROUP BY vec_id
    ), queries AS (
        SELECT vec_id AS query_id, emb AS qemb,
               sqrt(list_dot_product(emb, emb)) AS qn
        FROM vecs ORDER BY vec_id LIMIT {_N_QUERIES}
    ), scored AS (
        SELECT q.query_id, v.vec_id AS neighbor_id, v.emb AS nvec, q.qemb,
               q.qn, round(list_dot_product(q.qemb, d.dqv), 6) AS sq_score
        FROM queries q CROSS JOIN dq d JOIN vecs v USING (vec_id)
        WHERE q.query_id != v.vec_id
    ), short AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY sq_score DESC, neighbor_id ASC) AS srank
        FROM scored
    ), rer AS (
        SELECT query_id, neighbor_id, sq_score,
               round(list_dot_product(qemb, nvec)
                     / (qn * sqrt(list_dot_product(nvec, nvec))), 6)
               AS cosine
        FROM short WHERE srank <= {_SQ_SHORTLIST}
    )
    SELECT query_id, rank, neighbor_id, sq_score, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM rer)
    WHERE rank <= {_TOP_K}
"""

ORACLES["matryoshka_topk"] = f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ), sliced AS (
        SELECT vec_id, emb, emb[1:{_MAT_DIM}] AS temb FROM vecs
    ), queries AS (
        SELECT vec_id AS query_id, emb AS qemb, temb AS qtemb,
               sqrt(list_dot_product(emb, emb)) AS qn,
               sqrt(list_dot_product(temb, temb)) AS qtn
        FROM sliced ORDER BY vec_id LIMIT {_N_QUERIES}
    ), scored AS (
        SELECT q.query_id, v.vec_id AS neighbor_id, v.emb AS nvec, q.qemb,
               q.qn,
               round(list_dot_product(q.qtemb, v.temb)
                     / (q.qtn * sqrt(list_dot_product(v.temb, v.temb))), 6)
               AS trunc_cosine
        FROM queries q CROSS JOIN sliced v
        WHERE q.query_id != v.vec_id
    ), short AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY trunc_cosine DESC, neighbor_id ASC) AS srank
        FROM scored
    ), rer AS (
        SELECT query_id, neighbor_id, trunc_cosine,
               round(list_dot_product(qemb, nvec)
                     / (qn * sqrt(list_dot_product(nvec, nvec))), 6)
               AS cosine
        FROM short WHERE srank <= {_MAT_SHORTLIST}
    )
    SELECT query_id, rank, neighbor_id, trunc_cosine, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM rer)
    WHERE rank <= {_TOP_K}
"""


def _multiprobe_oracle_sql() -> str:
    """Multi-probe oracle: the LSH bucket expression plus an unnested
    probe list (exact bucket + each 1-bit flip via xor)."""
    planes = _hyperplanes()
    bits = []
    for i, plane in enumerate(planes):
        lits = ", ".join(repr(float(v)) for v in plane)
        bits.append(f"CASE WHEN list_dot_product(emb, [{lits}]) >= 0 "
                    f"THEN {1 << i} ELSE 0 END")
    bucket = " + ".join(bits)
    probes = ", ".join(f"xor(bucket, {1 << i})"
                       for i in range(_LSH_PLANES))
    return f"""
        WITH vecs AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ), bucketed AS (
            SELECT vec_id, emb, ({bucket}) AS bucket FROM vecs
        ), qbase AS (
            SELECT vec_id AS query_id, emb AS qemb, bucket
            FROM bucketed ORDER BY vec_id LIMIT {_N_QUERIES}
        ), queries AS (
            SELECT query_id, qemb,
                   unnest([CAST(bucket AS BIGINT), {probes}]) AS bucket
            FROM qbase
        ), scored AS (
            SELECT q.query_id, v.vec_id AS neighbor_id,
                   round(list_dot_product(q.qemb, v.emb)
                         / (sqrt(list_dot_product(q.qemb, q.qemb))
                            * sqrt(list_dot_product(v.emb, v.emb))), 6) AS cosine
            FROM queries q JOIN bucketed v ON q.bucket = v.bucket
            WHERE q.query_id != v.vec_id
        )
        SELECT query_id, rank, neighbor_id, cosine FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored)
        WHERE rank <= {_TOP_K}
    """

ORACLES["ann_multiprobe_topk"] = _multiprobe_oracle_sql()

ORACLES["triplet_mining_embeddings"] = f"""
    WITH ranked AS ({ORACLES["cosine_topk_bruteforce"]}),
    pos AS (
        SELECT query_id, neighbor_id AS positive_id, cosine AS pos_cos
        FROM ranked WHERE rank = 1
    ), neg AS (
        SELECT query_id, neighbor_id AS hard_negative_id,
               cosine AS neg_cos
        FROM ranked WHERE rank = {_TOP_K}
    )
    SELECT query_id, positive_id, pos_cos, hard_negative_id, neg_cos,
           round(pos_cos - neg_cos, 6) AS margin
    FROM pos JOIN neg USING (query_id)
"""

def _hybrid_rrf_oracle_sql() -> str:
    from .text import ORACLES as TEXT_ORACLES
    return f"""
    WITH dense AS ({ORACLES["cosine_topk_bruteforce"]}),
    lex AS ({TEXT_ORACLES["bm25_topk"]}),
    fused AS (
        SELECT coalesce(d.query_id, l.query_id) AS query_id,
               coalesce(d.neighbor_id, l.neighbor_id) AS neighbor_id,
               d.rank AS dense_rank, l.rank AS lex_rank,
               round(coalesce(1.0 / ({_RRF_K} + d.rank), 0.0)
                     + coalesce(1.0 / ({_RRF_K} + l.rank), 0.0), 6)
                   AS rrf_score
        FROM dense d FULL OUTER JOIN lex l
          ON d.query_id = l.query_id AND d.neighbor_id = l.neighbor_id
    )
    SELECT query_id, rank, neighbor_id, rrf_score, dense_rank, lex_rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY rrf_score DESC, neighbor_id ASC) AS rank
        FROM fused)
    WHERE rank <= {_TOP_K}
    """

ORACLES["hybrid_rrf_topk"] = _hybrid_rrf_oracle_sql()

ORACLES["knn_label_accuracy"] = f"""
    WITH vecs AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ), anchors AS (
        SELECT vec_id, emb FROM vecs
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_KNN_ANCHORS}
    ), scored AS (
        SELECT a.vec_id, v.vec_id AS neighbor_id, v.label AS n_label,
               round(list_dot_product(a.emb, v.emb)
                     / (sqrt(list_dot_product(a.emb, a.emb))
                        * sqrt(list_dot_product(v.emb, v.emb))), 6)
                   AS cosine
        FROM anchors a CROSS JOIN vecs v
        WHERE a.vec_id != v.vec_id
    ), topk AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                       ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored)
        WHERE rank <= {_KNN_K}
    ), votes AS (
        SELECT vec_id, n_label, count(*) AS v
        FROM topk GROUP BY 1, 2
    ), pred AS (
        SELECT vec_id, n_label AS pred_label,
               v / CAST({_KNN_K} AS DOUBLE) AS vote_share
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                       ORDER BY v DESC, n_label ASC) AS rn FROM votes)
        WHERE rn = 1
    )
    SELECT l.label, count(*) AS n_vectors,
           round(avg(CASE WHEN p.pred_label = l.label
                     THEN CAST(1 AS DOUBLE)
                     ELSE CAST(0 AS DOUBLE) END), 6) AS knn_accuracy,
           round(avg(p.vote_share), 6) AS avg_vote_share
    FROM pred p JOIN vecs l USING (vec_id)
    GROUP BY l.label
"""


# ---------------------------------------------------------------------------
# Round-4 addition: Johnson-Lindenstrauss projection distortion report.

_JL_DIM = 8          # target dimensionality
_JL_PAIRS = 32       # evaluation pairs: (2i, 2i+1) for i < 32


def _jl_signs() -> list[list[float]]:
    """Seeded ±1 projection matrix (Achlioptas 2003 database-friendly
    JL: Rademacher entries work as well as Gaussians) — same inlining
    contract as `_hyperplanes`."""
    rng = np.random.default_rng(20260814)
    return rng.choice([-1.0, 1.0], size=(_JL_DIM, _EMB_DIM)).tolist()


def jl_projection_distortion(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Distance-distortion audit of a Johnson-Lindenstrauss projection
    64→8 dims: for 32 fixed evaluation pairs (vec 2i vs 2i+1), compare
    the original squared L2 distance with the projected one (scaled by
    1/k, whose expectation equals the original under ±1 entries) and
    report the per-pair distortion ratio.  The go/no-go check before
    swapping a cheap projected index (8 doubles/vector) for full-dim
    scan — the same decision `matryoshka_topk` makes with learned
    prefixes, here with data-independent guarantees (Johnson &
    Lindenstrauss 1984; Achlioptas 2003 for the ±1 form).

    Determinism: the projection matrix is SEEDED and inlined as
    literals on both engines (`_hyperplanes` contract); each pair's
    arithmetic is array folds (left-to-right on both engines) rounded
    6dp at the comparison boundary.

    At 100 TB: projection is map-only (k dot products per row);
    the audit joins a CONSTANT 32-pair sample — the fixed-k eval
    precedent (`knn_label_accuracy`), nothing corpus-proportional."""
    signs = _jl_signs()
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", _as_double("embedding").alias("v"))
    a = (vecs.where(F.col("vec_id") % 2 == 0)
         .where(F.col("vec_id") < 2 * _JL_PAIRS)
         .select((F.col("vec_id") / 2).cast("bigint").alias("pair_id"),
                 F.col("v").alias("va")))
    b = (vecs.where(F.col("vec_id") % 2 == 1)
         .where(F.col("vec_id") < 2 * _JL_PAIRS)
         .select(((F.col("vec_id") - 1) / 2).cast("bigint")
                 .alias("pair_id"),
                 F.col("v").alias("vb")))
    diff = F.zip_with("va", "vb", lambda x, y: x - y)
    paired = a.join(b, "pair_id").withColumn("d", diff)
    orig_sq = F.aggregate(F.transform("d", lambda x: x * x),
                          F.lit(0.0), lambda acc, v: acc + v)
    proj_terms = []
    for row in signs:
        lit = F.array(*[F.lit(float(s)) for s in row])
        pj = F.aggregate(F.zip_with(F.col("d"), lit, lambda x, y: x * y),
                         F.lit(0.0), lambda acc, v: acc + v)
        proj_terms.append(pj * pj)
    proj_sq = proj_terms[0]
    for t in proj_terms[1:]:
        proj_sq = proj_sq + t
    return (paired
            .select("pair_id",
                    F.round(F.sqrt(orig_sq), 6).alias("dist_orig"),
                    F.round(F.sqrt(proj_sq / _JL_DIM), 6)
                    .alias("dist_proj"),
                    F.round(proj_sq / _JL_DIM / orig_sq, 6)
                    .alias("distortion"))
            .orderBy("pair_id"))


def _jl_oracle_sql() -> str:
    signs = _jl_signs()
    projs = []
    for row in signs:
        lits = ", ".join(repr(float(s)) for s in row)
        projs.append(f"power(list_dot_product(d, [{lits}]), 2)")
    proj_sq = " + ".join(projs)
    return f"""
    WITH vecs AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE vec_id < {2 * _JL_PAIRS}
    ), paired AS (
        SELECT a.vec_id // 2 AS pair_id,
               list_transform(generate_series(1, len(a.v)),
                              i -> a.v[i] - b.v[i]) AS d
        FROM vecs a JOIN vecs b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id % 2 = 0
    )
    SELECT pair_id,
           round(sqrt(list_dot_product(d, d)), 6) AS dist_orig,
           round(sqrt(({proj_sq}) / {_JL_DIM}), 6) AS dist_proj,
           round(({proj_sq}) / {_JL_DIM}
                 / list_dot_product(d, d), 6) AS distortion
    FROM paired ORDER BY pair_id
    """


QUERIES["jl_projection_distortion"] = jl_projection_distortion
ORACLES["jl_projection_distortion"] = _jl_oracle_sql()


# ---------------------------------------------------------------------------
# Round-4 continuation: MMR diversified re-ranking — the redundancy-
# aware selection step between retrieval and a RAG context window.

_MMR_SHORTLIST = 20   # stage-1 candidate pool (exact cosine top-20)
_MMR_SELECT = 5       # diversified picks (unrolled greedy rounds)
_MMR_U = 1_000_000    # 1e-6 fixed-point grid for rel/sim scores


def _cos_u(dot: Column, na: Column, nb: Column) -> Column:
    """Cosine snapped to the 1e-6 BIGINT micro-grid (round-then-scale,
    the link-prediction idiom) — greedy ARGMAX selection over floats
    would let a last-ulp drift pick a different document."""
    return F.round(F.round(dot / (na * nb), 6) * _MMR_U, 0).cast("long")


def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) at lambda = 0.5: from the exact cosine top-20 shortlist for
    the lowest-vec_id query, greedily select 5 documents maximizing
    ``lambda*rel(d) - (1-lambda)*max_{s in selected} sim(d, s)`` — the
    classic redundancy-aware selection every RAG/search stack runs
    between retrieval and the context window (near-duplicate hits add
    rank depth but no information).  With lambda = 1/2 the argmax is
    over the exact INTEGER ``rel_u - maxsim_u``, so selection can never
    flip on float noise; the reported mmr_score divides by 2 at the end
    (the literal lambda=0.5 value).

    Scale shape: stage 1 is the brute-force/ANN retrieval (swappable,
    like triplet mining); everything after is bounded by the shortlist
    constant — a 20x20 broadcast pair table and 5 unrolled rounds of
    (anti-join + grouped max + argmax limit 1) on <= 20 rows.  Cost is
    independent of corpus size by construction."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = (emb.select("vec_id", _as_double("embedding").alias("v"))
            .withColumn("nrm", _norm(F.col("v"))))
    q = (vecs.orderBy("vec_id").limit(1)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("v").alias("qv"), F.col("nrm").alias("qn")))
    scored = (vecs.crossJoin(F.broadcast(q))
              .where(F.col("vec_id") != F.col("query_id"))
              .select("vec_id",
                      _cos_u(_dot(F.col("qv"), F.col("v")),
                             F.col("qn"), F.col("nrm")).alias("rel_u")))
    wq = Window.orderBy(F.col("rel_u").desc(), F.col("vec_id").asc())
    shortlist = (scored.withColumn("rk", F.row_number().over(wq))
                 .where(F.col("rk") <= _MMR_SHORTLIST).drop("rk")
                 .localCheckpoint())
    sl_vecs = shortlist.join(vecs, "vec_id")
    a = sl_vecs.select(F.col("vec_id").alias("a"),
                       F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = sl_vecs.select(F.col("vec_id").alias("b"),
                       F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    pairs = (a.crossJoin(F.broadcast(b))
             .where(F.col("a") != F.col("b"))
             .select("a", "b",
                     _cos_u(_dot(F.col("va"), F.col("vb")),
                            F.col("na"), F.col("nb")).alias("sim_u"))
             .localCheckpoint())
    sel = (shortlist
           .orderBy(F.col("rel_u").desc(), F.col("vec_id").asc()).limit(1)
           .select(F.lit(1).alias("order_idx"), "vec_id", "rel_u",
                   F.col("rel_u").alias("mmr_u")))
    for r in range(2, _MMR_SELECT + 1):
        chosen = sel.select("vec_id")
        maxsim = (pairs
                  .join(chosen.withColumnRenamed("vec_id", "b"), "b")
                  .groupBy(F.col("a").alias("vec_id"))
                  .agg(F.max("sim_u").alias("ms_u")))
        pick = (shortlist.join(chosen, "vec_id", "left_anti")
                .join(maxsim, "vec_id")
                .select("vec_id", "rel_u",
                        (F.col("rel_u") - F.col("ms_u")).alias("mmr_u"))
                .orderBy(F.col("mmr_u").desc(), F.col("vec_id").asc())
                .limit(1)
                .select(F.lit(r).alias("order_idx"), "vec_id", "rel_u",
                        "mmr_u"))
        sel = sel.unionByName(pick).localCheckpoint()
    return (sel.select(
        "order_idx", "vec_id",
        F.round(F.col("rel_u") / F.lit(float(_MMR_U)), 6)
        .alias("relevance"),
        F.round(F.col("mmr_u") / F.lit(2.0 * _MMR_U), 6)
        .alias("mmr_score"))
        .orderBy("order_idx"))


def _mmr_oracle_sql() -> str:
    def cos_u(da: str, db: str) -> str:
        return (f"CAST(round(round(list_dot_product({da}.emb, {db}.emb)"
                f" / (sqrt(list_dot_product({da}.emb, {da}.emb))"
                f" * sqrt(list_dot_product({db}.emb, {db}.emb))), 6)"
                f" * {_MMR_U}, 0) AS BIGINT)")

    sel_ctes = []
    for r in range(2, _MMR_SELECT + 1):
        prior = " UNION ALL ".join(f"SELECT vec_id FROM s{i}"
                                   for i in range(1, r))
        sel_ctes.append(f"""
        s{r} AS (
            SELECT {r} AS order_idx, vec_id, rel_u, mmr_u FROM (
                SELECT sl.vec_id, sl.rel_u,
                       sl.rel_u - max(p.sim_u) AS mmr_u
                FROM shortlist sl
                JOIN prs p ON p.a = sl.vec_id
                          AND p.b IN ({prior})
                WHERE sl.vec_id NOT IN ({prior})
                GROUP BY sl.vec_id, sl.rel_u
                ORDER BY mmr_u DESC, vec_id ASC LIMIT 1)
        )""")
    all_sel = " UNION ALL ".join(f"SELECT * FROM s{i}"
                                 for i in range(1, _MMR_SELECT + 1))
    return f"""
        WITH vecs AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, emb
            FROM vecs ORDER BY vec_id LIMIT 1
        ), scored AS (
            SELECT c.vec_id, {cos_u('q', 'c')} AS rel_u
            FROM vecs c, q WHERE c.vec_id != q.query_id
        ), shortlist AS (
            SELECT vec_id, rel_u FROM (
                SELECT *, row_number() OVER (
                    ORDER BY rel_u DESC, vec_id ASC) AS rk
                FROM scored)
            WHERE rk <= {_MMR_SHORTLIST}
        ), prs AS (
            SELECT sa.vec_id AS a, sb.vec_id AS b, {cos_u('va', 'vb')}
                       AS sim_u
            FROM shortlist sa
            JOIN vecs va ON va.vec_id = sa.vec_id
            JOIN shortlist sb ON sa.vec_id != sb.vec_id
            JOIN vecs vb ON vb.vec_id = sb.vec_id
        ),
        s1 AS (
            SELECT 1 AS order_idx, vec_id, rel_u, rel_u AS mmr_u
            FROM shortlist ORDER BY rel_u DESC, vec_id ASC LIMIT 1
        ),{",".join(sel_ctes)}
        SELECT order_idx, vec_id,
               round(rel_u / CAST({_MMR_U} AS DOUBLE), 6) AS relevance,
               round(mmr_u / CAST({2 * _MMR_U} AS DOUBLE), 6) AS mmr_score
        FROM ({all_sel}) ORDER BY order_idx
    """


QUERIES["mmr_diversified_topk"] = mmr_diversified_topk
ORACLES["mmr_diversified_topk"] = _mmr_oracle_sql()


# ---------------------------------------------------------------------------
# Round-4 continuation: reciprocal (mutual) kNN pairs — the symmetric
# neighbor filter used for high-precision matching and re-ranking.

_RNN_ANCHORS = 50    # constant md5-ordered anchor subset (the knn idiom)
_RNN_K = 5           # mutual-neighbor rank threshold


def reciprocal_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal nearest neighbors (the k-reciprocal constraint of
    Qin et al. 2011 / Zhong et al. 2017 re-ranking): within a CONSTANT
    50-vector md5-ordered anchor subset, emit pairs (a, b) where each
    is in the OTHER's top-5 — one-directional kNN is asymmetric (a hub
    vector appears in everyone's list without reciprocating), and the
    mutual constraint is the classic high-precision filter for
    match/merge candidates and re-ranking.  Output: both ranks + the
    cosine, ordered pairs a < b.

    Exactness: ranks come from micro-grid cosines with id tiebreaks
    (the MMR discipline).  Scale: the subset is constant-size (the
    `knn_label_accuracy` anchor precedent — never corpus-
    proportional), so the pairwise stage is a bounded broadcast
    product; at production scale the per-vector neighbor lists come
    from the ANN indexes and this operator is the same self-join over
    their (query, neighbor, rank) output."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = (emb
               .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
               .limit(_RNN_ANCHORS)
               .select("vec_id", _as_double("embedding").alias("v"))
               .withColumn("nrm", _norm(F.col("v")))
               .localCheckpoint())
    a = anchors.select(F.col("vec_id").alias("qa"),
                       F.col("v").alias("va"), F.col("nrm").alias("na"))
    b = anchors.select(F.col("vec_id").alias("qb"),
                       F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    sims = (a.crossJoin(F.broadcast(b))
            .where(F.col("qa") != F.col("qb"))
            .select("qa", "qb",
                    _cos_u(_dot(F.col("va"), F.col("vb")),
                           F.col("na"), F.col("nb")).alias("cos_u")))
    w = Window.partitionBy("qa").orderBy(
        F.col("cos_u").desc(), F.col("qb").asc())
    ranked = sims.withColumn("rank", F.row_number().over(w))
    fwd = (ranked.where(F.col("rank") <= _RNN_K)
           .select(F.col("qa").alias("vec_a"),
                   F.col("qb").alias("vec_b"),
                   F.col("rank").alias("rank_ab"), "cos_u"))
    bwd = (ranked.where(F.col("rank") <= _RNN_K)
           .select(F.col("qb").alias("vec_a"),
                   F.col("qa").alias("vec_b"),
                   F.col("rank").alias("rank_ba")))
    return (fwd.join(bwd, ["vec_a", "vec_b"])
            .where(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b", "rank_ab", "rank_ba",
                    F.round(F.col("cos_u") / F.lit(float(_MMR_U)), 6)
                    .alias("cosine"))
            .orderBy("vec_a", "vec_b"))


ORACLES["reciprocal_knn_pairs"] = f"""
    WITH vecs AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ), anchors AS (
        SELECT vec_id, emb
        FROM vecs ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_RNN_ANCHORS}
    ), sims AS (
        SELECT a.vec_id AS qa, b.vec_id AS qb,
               CAST(round(round(list_dot_product(a.emb, b.emb)
                    / (sqrt(list_dot_product(a.emb, a.emb))
                       * sqrt(list_dot_product(b.emb, b.emb))), 6)
                    * {_MMR_U}, 0) AS BIGINT) AS cos_u
        FROM anchors a JOIN anchors b ON a.vec_id != b.vec_id
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY qa
                      ORDER BY cos_u DESC, qb ASC) AS rank
        FROM sims
    ), fwd AS (
        SELECT qa AS vec_a, qb AS vec_b, rank AS rank_ab, cos_u
        FROM ranked WHERE rank <= {_RNN_K}
    ), bwd AS (
        SELECT qb AS vec_a, qa AS vec_b, rank AS rank_ba
        FROM ranked WHERE rank <= {_RNN_K}
    )
    SELECT f.vec_a, f.vec_b, f.rank_ab, b.rank_ba,
           round(f.cos_u / CAST({_MMR_U} AS DOUBLE), 6) AS cosine
    FROM fwd f JOIN bwd b USING (vec_a, vec_b)
    WHERE f.vec_a < f.vec_b
    ORDER BY f.vec_a, f.vec_b
"""
QUERIES["reciprocal_knn_pairs"] = reciprocal_knn_pairs


# ---------------------------------------------------------------------------
# Round-4 continuation: embedding snapshot drift — did the encoder (or
# the data) move between two index builds?

_DRIFT_COS_MIN = 0.995   # rounded-centroid cosine below this = drifted.
# A per-corpus knob: tight for well-separated label clusters; on a
# near-isotropic space (this synthetic fixture) half-centroids are
# small-norm noise and baseline cosines are legitimately low, so the
# flag fires — calibrate against an A/A split before alerting on it.


def embedding_drift_centroids(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Per-label CENTROID drift between two embedding snapshots (the
    deterministic vec_id-parity halves stand in for consecutive index
    builds; production feeds two real snapshot tables): each label's
    per-snapshot centroid (1e-6-snapped coordinate means, the
    `centroid_label_confusion` resync discipline) is compared by
    cosine — re-encoding with a changed model or a shifted data mix
    moves centroids long before kNN accuracy visibly degrades, making
    this the cheap early-warning monitor an embedding pipeline runs at
    every index rebuild (the ANN indexes' IVF/PQ cells assume the
    distribution they were trained on).

    Scale: one posexplode aggregate per (label, half, dim) — the
    centroid cost envelope; the comparison join is (labels × dims),
    broadcast-tiny.  No pairwise anything."""
    emb = load_table(spark, sf_dir, "embeddings")
    expl = (emb.select(
        "vec_id", "label", (F.col("vec_id") % 2).alias("snap"),
        F.posexplode("embedding").alias("pos", "v_raw"))
        .select("vec_id", "label", "snap", "pos",
                F.col("v_raw").cast("double").alias("v")))
    cent = (expl.groupBy("label", "snap", "pos")
            .agg(F.round(F.avg("v"), 6).alias("c")))
    a = (cent.where(F.col("snap") == 0)
         .select("label", "pos", F.col("c").alias("ca")))
    b = (cent.where(F.col("snap") == 1)
         .select("label", "pos", F.col("c").alias("cb")))
    sim = (a.join(b, ["label", "pos"])
           .groupBy("label")
           .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"),
                F.sqrt(F.sum(F.col("ca") * F.col("ca"))).alias("na"),
                F.sqrt(F.sum(F.col("cb") * F.col("cb"))).alias("nb")))
    counts = (emb.groupBy("label")
              .agg(F.count(F.when(F.col("vec_id") % 2 == 0, 1))
                   .alias("n_a"),
                   F.count(F.when(F.col("vec_id") % 2 == 1, 1))
                   .alias("n_b")))
    cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
    return (sim.join(counts, "label")
            .select("label", "n_a", "n_b",
                    cos.alias("centroid_cosine"),
                    (cos < F.lit(_DRIFT_COS_MIN)).alias("drifted"))
            .orderBy("label"))


ORACLES["embedding_drift_centroids"] = f"""
    WITH expl AS (
        SELECT vec_id, label, vec_id % 2 AS snap,
               generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ), cent AS (
        SELECT label, snap, pos, round(avg(v), 6) AS c
        FROM expl GROUP BY 1, 2, 3
    ), sim AS (
        SELECT a.label,
               sum(a.c * b.c) AS dot,
               sqrt(sum(a.c * a.c)) AS na,
               sqrt(sum(b.c * b.c)) AS nb
        FROM (SELECT * FROM cent WHERE snap = 0) a
        JOIN (SELECT * FROM cent WHERE snap = 1) b
          USING (label, pos)
        GROUP BY 1
    ), counts AS (
        SELECT label,
               count(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS n_a,
               count(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS n_b
        FROM embeddings GROUP BY 1
    )
    SELECT s.label, c.n_a, c.n_b,
           round(s.dot / (s.na * s.nb), 6) AS centroid_cosine,
           round(s.dot / (s.na * s.nb), 6)
               < CAST({_DRIFT_COS_MIN} AS DOUBLE) AS drifted
    FROM sim s JOIN counts c USING (label) ORDER BY s.label
"""
QUERIES["embedding_drift_centroids"] = embedding_drift_centroids


# ---------------------------------------------------------------------------
# Round-4 continuation: the nprobe tuning curve — recall@10 vs probe
# width, the chart every IVF deployment is tuned from.

_SWEEP_NPROBES = [1, 2, 4, 8]


def ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall-vs-nprobe SWEEP: run the fixed-centroid IVF index at
    nprobe ∈ {1,2,4,8} and score each against the exact brute-force
    top-10 — the recall curve (FAISS's canonical tuning artifact) that
    turns 'nprobe=4' from a magic number into a measured operating
    point on the recall/latency frontier.  `ann_eval_ndcg` scores ONE
    configuration's ranking quality; this sweeps the knob.

    Every point reuses the same index chain (same centroids, same cell
    assignment) — only the probe-set filter widens, which is exactly
    how a production sweep runs (index built once, searched four
    times).  Recall is a ratio of exact integer hit counts; the
    monotone-nondecreasing-in-nprobe property is pinned in tests.

    Scale: 4× the single-search cost, all shapes identical to
    `ivf_topk` (constant centroid broadcast, equi-join probes);
    the brute-force reference is the eval-side cost `ann_eval_ndcg`
    already budgets."""
    total = _N_QUERIES * _TOP_K
    brute = (cosine_topk_bruteforce(spark, sf_dir)
             .select("query_id", "neighbor_id").localCheckpoint())
    # r9 (guide §2.4): materialize the shared index chain ONCE — the
    # docstring's "index built once, searched four times" contract was
    # not what the uncut plan did (each probe replanned/re-ran the whole
    # chain; 32 parquet scans).  Only rows a probe can touch are kept:
    # cell members (rn=1) and the query probe set (rn ≤ max nprobe).
    assigned = (_ivf_assigned(spark, sf_dir)
                .where((F.col("rn") == 1)
                       | ((F.col("vec_id") < _N_QUERIES)
                          & (F.col("rn") <= max(_SWEEP_NPROBES))))
                .localCheckpoint())
    out = None
    for np_ in _SWEEP_NPROBES:
        approx = (ivf_topk(spark, sf_dir, nprobe=np_, assigned=assigned)
                  .select("query_id", "neighbor_id"))
        hits = (brute.join(approx, ["query_id", "neighbor_id"],
                           "left_semi")
                .agg(F.count(F.lit(1)).alias("n_hits")))
        row = hits.select(
            F.lit(np_).alias("nprobe"), "n_hits",
            F.round(F.col("n_hits").cast("double")
                    / F.lit(float(total)), 6).alias("recall_at_10"))
        out = row if out is None else out.unionByName(row)
    return out.orderBy("nprobe")


def _ivf_sweep_oracle_sql() -> str:
    per_np = []
    selects = []
    for np_ in _SWEEP_NPROBES:
        per_np.append(f"""
        scored{np_} AS (
            SELECT q.query_id, v.vec_id AS neighbor_id,
                   round(list_dot_product(q.qemb, v.emb)
                         / (sqrt(list_dot_product(q.qemb, q.qemb))
                            * sqrt(list_dot_product(v.emb, v.emb))), 6)
                       AS cosine
            FROM (SELECT vec_id AS query_id, emb AS qemb, centroid_id
                  FROM assigned
                  WHERE vec_id < {_N_QUERIES} AND rn <= {np_}) q
            JOIN cell v ON q.centroid_id = v.centroid_id
            WHERE q.query_id != v.vec_id
        ),
        top{np_} AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC)
                           AS rank
                FROM scored{np_})
            WHERE rank <= {_TOP_K}
        )""")
        selects.append(f"""
        SELECT {np_} AS nprobe, CAST(count(*) AS BIGINT) AS n_hits,
               round(CAST(count(*) AS DOUBLE)
                     / CAST({_N_QUERIES * _TOP_K} AS DOUBLE), 6)
                   AS recall_at_10
        FROM brute b JOIN top{np_} t
          ON b.query_id = t.query_id
         AND b.neighbor_id = t.neighbor_id""")
    return f"""
        WITH vecs AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE))
                       AS emb
            FROM embeddings
        ), cents AS (
            SELECT vec_id AS centroid_id, emb AS cemb FROM vecs
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {_IVF_K}
        ), assigned AS (
            SELECT vec_id, emb, centroid_id,
                   row_number() OVER (PARTITION BY vec_id ORDER BY
                       round(list_dot_product(emb, cemb)
                             / (sqrt(list_dot_product(emb, emb))
                                * sqrt(list_dot_product(cemb, cemb))),
                             6) DESC,
                       centroid_id ASC) AS rn
            FROM vecs CROSS JOIN cents
        ), cell AS (
            SELECT vec_id, emb, centroid_id FROM assigned WHERE rn = 1
        ), brute AS (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
            FROM (SELECT * FROM vecs
                  ORDER BY vec_id LIMIT {_N_QUERIES}) a
            JOIN vecs b ON a.vec_id != b.vec_id
            QUALIFY row_number() OVER (PARTITION BY a.vec_id ORDER BY
                round(list_dot_product(a.emb, b.emb)
                      / (sqrt(list_dot_product(a.emb, a.emb))
                         * sqrt(list_dot_product(b.emb, b.emb))), 6)
                    DESC, b.vec_id ASC) <= {_TOP_K}
        ),{",".join(per_np)}
        SELECT * FROM ({" UNION ALL ".join(selects)})
        ORDER BY nprobe
    """


QUERIES["ivf_nprobe_sweep"] = ivf_nprobe_sweep
ORACLES["ivf_nprobe_sweep"] = _ivf_sweep_oracle_sql()


def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-NORM distribution audit per label: mean / min / max L2
    norm and the unnormalized-row count — the two-minute check that
    catches the classic embedding-pipeline bug (one ingestion batch
    skipped L2 normalization, so its cosines are silently wrong in
    every downstream index).  A normalized space shows norms pinned at
    1; this synthetic corpus is unnormalized, which the audit reports
    rather than assumes.

    Norms are the map-side JVM fold the whole similarity layer uses;
    one aggregate per label.  Scale: one pass, no shuffle beyond the
    label aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = F.round(_norm(_as_double("embedding")), 6)
    scored = emb.select("label", nrm.alias("nrm"))
    near_one = (F.abs(F.col("nrm") - 1.0) < 0.01).cast("long")
    return (scored.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.round(F.min("nrm"), 6).alias("min_norm"),
                 F.round(F.max("nrm"), 6).alias("max_norm"),
                 F.sum(near_one).alias("n_unit_norm"))
            .withColumn("normalized_share",
                        F.round(F.col("n_unit_norm").cast("double")
                                / F.col("n_vecs").cast("double"), 6))
            .orderBy("label"))


ORACLES["embedding_norm_audit"] = """
    WITH scored AS (
        SELECT label,
               round(sqrt(list_dot_product(
                   list_transform(embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(embedding, x -> CAST(x AS DOUBLE)))),
                   6) AS nrm
        FROM embeddings
    )
    SELECT label, count(*) AS n_vecs,
           round(min(nrm), 6) AS min_norm,
           round(max(nrm), 6) AS max_norm,
           CAST(sum(CASE WHEN abs(nrm - CAST(1 AS DOUBLE))
                              < CAST(0.01 AS DOUBLE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_unit_norm,
           round(CAST(sum(CASE WHEN abs(nrm - CAST(1 AS DOUBLE))
                                    < CAST(0.01 AS DOUBLE)
                              THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS normalized_share
    FROM scored GROUP BY 1 ORDER BY 1
"""
QUERIES["embedding_norm_audit"] = embedding_norm_audit


# ---------------------------------------------------------------------------
# Binary (1-bit) quantization ANN — the most aggressive compression tier.

_BQ_SHORTLIST = 50


def binary_quant_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN with exact re-rank — the 1-bit compression
    tier below SQ8 and PQ (FAISS ``LSH``/``binary`` indexes, and the
    binary-quantization mode modern vector DBs ship for 32× memory
    cuts): each dimension keeps only its SIGN, the 64-dim vector packs
    into two 32-bit words, and candidate distance is the HAMMING
    distance ``bit_count(xor(lo), xor(hi))`` — for sign bits of unit
    vectors this is a monotone proxy of angular distance (Charikar
    2002 sign-random-projection with the identity basis).  Search
    shortlists the top-50 by (hamming asc, id asc) and
    re-ranks with exact cosine on the full-precision vectors carried
    through the shortlist.

    Two 32-bit halves (not one 64-bit word) so every shift stays ≤31
    and the packed value stays positive in a signed BIGINT on BOTH
    engines (DuckDB raises on ``1::BIGINT << 63``) — the packing is
    bit-for-bit identical, so the whole pipeline is exactly oracled.

    Scale shape: packing is map-only (8 bytes/vector at rest — a 32×
    cut vs float32; a 100 TB float corpus becomes a 3 TB bit index
    that fits in cluster RAM); the Hamming scan is two XORs + two
    popcounts per pair, all inside whole-stage codegen; the exact
    re-rank touches only the constant-size shortlist.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", _as_double("embedding").alias("vec"))
    lo_w = F.array(*[F.lit(1 << j).cast("long") for j in range(32)])
    hi_w = lo_w

    def _pack(slice_col, wts):
        return F.aggregate(
            F.zip_with(slice_col, wts,
                       lambda x, w: F.when(x > 0, w)
                                     .otherwise(F.lit(0).cast("long"))),
            F.lit(0).cast("long"), lambda acc, v: acc + v)

    packed = (vecs
              .withColumn("lo", _pack(F.slice("vec", 1, 32), lo_w))
              .withColumn("hi", _pack(F.slice("vec", 33, 32), hi_w)))
    corpus = packed.select(F.col("vec_id").alias("neighbor_id"),
                           F.col("vec").alias("nvec"),
                           F.col("lo").alias("nlo"),
                           F.col("hi").alias("nhi"))
    queries = (packed.orderBy("vec_id").limit(_N_QUERIES)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("vec").alias("qvec"),
                       F.col("lo").alias("qlo"),
                       F.col("hi").alias("qhi"))
               .withColumn("qnorm", _norm(F.col("qvec"))))
    hamming = (F.bit_count(F.col("qlo").bitwiseXOR(F.col("nlo")))
               + F.bit_count(F.col("qhi").bitwiseXOR(F.col("nhi")))
               ).cast("long")
    scored = (corpus.crossJoin(F.broadcast(queries))
              .where(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id", "nvec", "qvec", "qnorm",
                      hamming.alias("hamming")))
    wshort = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc())
    short = (scored.withColumn("srank", F.row_number().over(wshort))
             .where(F.col("srank") <= _BQ_SHORTLIST))
    cosine = F.round(_dot(F.col("qvec"), F.col("nvec"))
                     / (F.col("qnorm") * _norm(F.col("nvec"))), 6)
    return _top_k(short.select("query_id", "neighbor_id", "hamming",
                               cosine.alias("cosine")), "hamming")


ORACLES["binary_quant_topk"] = f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ), dims AS (
        SELECT vec_id, generate_subscripts(emb, 1) AS d, unnest(emb) AS val
        FROM vecs
    ), packed AS (
        SELECT vec_id,
               sum(CASE WHEN d <= 32 AND val > 0
                        THEN CAST(1 AS BIGINT) << (d - 1)
                        ELSE 0 END) AS lo,
               sum(CASE WHEN d > 32 AND val > 0
                        THEN CAST(1 AS BIGINT) << (d - 33)
                        ELSE 0 END) AS hi
        FROM dims GROUP BY vec_id
    ), queries AS (
        SELECT v.vec_id AS query_id, v.emb AS qemb, p.lo AS qlo,
               p.hi AS qhi,
               sqrt(list_dot_product(v.emb, v.emb)) AS qn
        FROM vecs v JOIN packed p USING (vec_id)
        ORDER BY v.vec_id LIMIT {_N_QUERIES}
    ), scored AS (
        SELECT q.query_id, v.vec_id AS neighbor_id, v.emb AS nvec,
               q.qemb, q.qn,
               CAST(bit_count(xor(q.qlo, p.lo))
                    + bit_count(xor(q.qhi, p.hi)) AS BIGINT) AS hamming
        FROM queries q CROSS JOIN packed p JOIN vecs v USING (vec_id)
        WHERE q.query_id != v.vec_id
    ), short AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY hamming ASC, neighbor_id ASC) AS srank
        FROM scored
    ), rer AS (
        SELECT query_id, neighbor_id, hamming,
               round(list_dot_product(qemb, nvec)
                     / (qn * sqrt(list_dot_product(nvec, nvec))), 6)
               AS cosine
        FROM short WHERE srank <= {_BQ_SHORTLIST}
    )
    SELECT query_id, rank, neighbor_id, hamming, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM rer)
    WHERE rank <= {_TOP_K}
"""
QUERIES["binary_quant_topk"] = binary_quant_topk


# ---------------------------------------------------------------------------
# Alignment / uniformity — the contrastive-embedding quality pair.

_AU_SAMPLE = 100     # constant md5-ordered sample (the _KNN_ANCHORS idiom)


def embedding_alignment_uniformity(spark: SparkSession, sf_dir: str
                                   ) -> DataFrame:
    """Alignment and uniformity of the embedding space (Wang & Isola,
    ICML 2020) — the two-number contrastive-representation health
    check: alignment = E‖x−y‖² over SAME-LABEL pairs (small = class
    cohesion), uniformity = ln E exp(−2‖x−y‖²) over ALL pairs (near
    its −4 floor = features spread over the hypersphere; near 0 =
    collapse).  Together they catch the failure `embedding_db_index`
    geometry misses: a space can separate clusters yet be collapsed
    inside them.

    Vectors are L2-normalized first (the metrics are defined on the
    unit hypersphere); pairs are drawn within a CONSTANT 100-vector
    md5-ordered sample (the `knn_label_accuracy` constant-k shape —
    never a corpus×corpus product), unordered i<j pairs.  Each
    exp(−2d²) term snaps to the 1e-9 grid before the mean (libm +
    order discipline) and both outputs round at 1e-6.

    Scale: sample join is constant², the only corpus-wide work is
    the normalize scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", "label",
                      _as_double("embedding").alias("v"))
    nrm = _norm(F.col("v"))
    unit = (vecs.withColumn(
        "u", F.transform("v", lambda x: x / nrm))
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(_AU_SAMPLE)
        .select("vec_id", "label", "u"))
    b = (unit.select(F.col("vec_id").alias("id_b"),
                     F.col("label").alias("label_b"),
                     F.col("u").alias("u_b")))
    pairs = (unit.crossJoin(F.broadcast(b))
             .where(F.col("vec_id") < F.col("id_b"))
             .withColumn("d2", F.aggregate(
                 F.zip_with("u", "u_b", lambda x, y: (x - y) * (x - y)),
                 F.lit(0.0), lambda acc, x: acc + x)))
    return (pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("label") == F.col("label_b"), 1)
              .otherwise(0)).alias("n_pos_pairs"),
        F.round(F.avg(F.when(F.col("label") == F.col("label_b"),
                             F.col("d2"))), 6).alias("alignment"),
        F.round(F.log(F.avg(F.round(F.exp(-2.0 * F.col("d2")), 9))),
                6).alias("uniformity")))


QUERIES["embedding_alignment_uniformity"] = embedding_alignment_uniformity
ORACLES["embedding_alignment_uniformity"] = f"""
    WITH vecs AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), unit AS (
        SELECT vec_id, label,
               list_transform(v,
                   x -> x / sqrt(list_dot_product(v, v))) AS u
        FROM vecs
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_AU_SAMPLE}
    ), pairs AS (
        SELECT a.label AS la, b.label AS lb,
               list_sum(list_transform(
                   list_zip(a.u, b.u),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
        FROM unit a JOIN unit b ON a.vec_id < b.vec_id
    )
    SELECT count(*) AS n_pairs,
           CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos_pairs,
           round(avg(CASE WHEN la = lb THEN d2 END), 6) AS alignment,
           round(ln(avg(round(exp(-2.0 * d2), 9))), 6) AS uniformity
    FROM pairs
"""


# ---------------------------------------------------------------------------
# Round 7: MRR — the third leg of the retrieval-eval triad next to
# NDCG@k (`ann_eval_ndcg`) and average precision (`nb_average_precision`).

def retrieval_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEAN RECIPROCAL RANK of the PQ index against the exact
    brute-force ranking (Voorhees 1999, the TREC-QA metric): for each
    query the single "right answer" is the exact cosine top-1
    neighbor, RR = 1/position of that item in the ANN list (0 if the
    index misses it entirely — the standard cutoff convention), MRR =
    the mean over queries.  NDCG grades the whole list; MRR isolates
    the first-relevant-hit experience a lookup UI lives on — indexes
    with equal NDCG can differ sharply here.  Output: one row per
    query (target, found rank, RR) with the corpus MRR and hit rate
    repeated per row (the `meta_analysis_nations` layout).

    Exactness: RR is one IEEE division of small integers snapped at
    1e-9; the corpus mean BIGINT-sums those units.  Scale: two
    already-bounded k·Q frames joined on (query, target) — eval cost
    is independent of corpus size beyond running the inputs."""
    bf1 = (cosine_topk_bruteforce(spark, sf_dir)
           .where(F.col("rank") == 1)
           .select("query_id", F.col("neighbor_id").alias("target_id")))
    ann = pq_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("target_id"),
        F.col("rank").cast("int").alias("ann_rank"))
    # r9 (guide §2.4): ``per`` feeds both the output rows and the corpus
    # aggregate — uncut, the brute-force + PQ chains it contains planned
    # and ran TWICE (20 parquet scans).  One Q-row localCheckpoint cut.
    per = (bf1.join(ann, ["query_id", "target_id"], "left")
           .select("query_id", "target_id", "ann_rank",
                   F.round(F.coalesce(1.0 / F.col("ann_rank"),
                                      F.lit(0.0)), 9).alias("rr"))
           .localCheckpoint())
    g = per.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.count("ann_rank").alias("n_hits"),
        F.round(F.sum(F.round(F.col("rr") * 1e9, 0).cast("bigint"))
                / 1e9 / F.count(F.lit(1)), 6).alias("mrr"))
    return per.crossJoin(F.broadcast(g)).orderBy("query_id")


QUERIES["retrieval_mrr_eval"] = retrieval_mrr_eval
ORACLES["retrieval_mrr_eval"] = """
    WITH bf1 AS (
        SELECT query_id, neighbor_id AS target_id
        FROM ({bf_sql}) __bf WHERE rank = 1
    ), ann AS (
        SELECT query_id, neighbor_id AS target_id,
               CAST(rank AS INTEGER) AS ann_rank
        FROM ({ann_sql}) __ann
    ), per AS (
        SELECT b.query_id, b.target_id, a.ann_rank,
               round(coalesce(1.0 / a.ann_rank, 0.0), 9) AS rr
        FROM bf1 b
        LEFT JOIN ann a ON a.query_id = b.query_id
                       AND a.target_id = b.target_id
    ), g AS (
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               CAST(count(ann_rank) AS BIGINT) AS n_hits,
               round(sum(CAST(round(rr * 1e9, 0) AS BIGINT))
                     / 1e9 / count(*), 6) AS mrr
        FROM per
    )
    SELECT p.query_id, p.target_id, p.ann_rank, p.rr,
           g.n_queries, g.n_hits, g.mrr
    FROM per p CROSS JOIN g
    ORDER BY p.query_id
""".format(bf_sql=ORACLES["cosine_topk_bruteforce"],
           ann_sql=ORACLES["pq_topk"])
