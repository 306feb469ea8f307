"""Text-analysis operators over the ``documents`` table (north-star
extension: the text layer of a large-scale training-data pipeline).

All pure Catalyst expressions — no UDFs — so they stay in whole-stage
codegen and scale linearly with document count; every operator has an
exact DuckDB oracle.  Design notes per operator cover the 100 TB shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import md5_int
from ..sources import load_table

# shared stopword list for language scoring / quality ratios
_EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "it"]


def _token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc (n_tokens, n_stopword_tokens, n_distinct) via explode →
    codegen arithmetic → ONE aggregate.

    This is the pathology-free form: N references to array expressions
    (``size(toks)`` + 8 stopword ``filter`` lambdas + ``array_distinct``)
    each re-evaluate the whole ``split(text)`` tree per row because
    codegen does not CSE across HOF boundaries — ~12 re-tokenizations of
    the corpus in the map stage.  Exploding once and aggregating keeps a
    single tokenization inside whole-stage codegen."""
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    return (toks.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum(F.col("token").isin(*_EN_STOP).cast("int"))
                  .alias("n_stopword_tokens"),
                 F.count_distinct("token").alias("n_distinct")))


def quality_flags(docs: DataFrame) -> DataFrame:
    """Token stats + the Gopher/C4-style keep verdict (length band,
    stopword ratio, repetition).  Single source of truth for the filter —
    shared by :func:`quality_score` and the corpus cleaning pipeline."""
    return (_token_stats(docs)
            .withColumn("stopword_ratio",
                        F.round(F.col("n_stopword_tokens")
                                / F.col("n_tokens"), 6))
            .withColumn("repetition_ratio",
                        F.round(1 - F.col("n_distinct") / F.col("n_tokens"), 6))
            .withColumn("keep",
                        (F.col("n_tokens") >= 20)
                        & (F.col("n_tokens") <= 1000)
                        & (F.col("stopword_ratio") >= 0.01)
                        & (F.col("repetition_ratio") <= 0.9)))


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats: token count (whitespace), char count, average
    token length, distinct-token ratio — over the shared exploded token
    aggregate (one tokenization, one shuffle on doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select("doc_id", F.length("text").alias("n_chars_measured"))
    return (_token_stats(docs)
            .join(chars, "doc_id")
            .select("doc_id", "n_chars_measured", "n_tokens",
                    F.col("n_distinct").alias("n_distinct_tokens"))
            .withColumn("avg_token_len",
                        F.round((F.col("n_chars_measured")
                                 - (F.col("n_tokens") - 1))
                                / F.col("n_tokens"), 6))
            .withColumn("distinct_ratio",
                        F.round(F.col("n_distinct_tokens")
                                / F.col("n_tokens"), 6)))


def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: words and non-space punctuation counted
    separately via regexp (the pre-tokenizer split GPT-style BPE uses)."""
    docs = load_table(spark, sf_dir, "documents")
    return (docs
            .select("doc_id", "source",
                    F.regexp_count(F.col("text"), F.lit(r"[A-Za-z0-9]+"))
                     .alias("n_word_tokens"),
                    F.regexp_count(F.col("text"), F.lit(r"[^A-Za-z0-9\s]"))
                     .alias("n_punct_tokens"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_word_tokens").alias("total_word_tokens"),
                 F.sum("n_punct_tokens").alias("total_punct_tokens"),
                 F.round(F.avg("n_word_tokens"), 4).alias("avg_word_tokens")))


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length band + stopword ratio + repetition
    (Gopher/C4-style filters).  Emits per-doc score components and a
    keep/drop verdict; the verdict logic is :func:`quality_flags`."""
    docs = load_table(spark, sf_dir, "documents")
    return (quality_flags(docs)
            .join(docs.select("doc_id", "lang"), "doc_id")
            .select("doc_id", "lang", "n_tokens", "n_stopword_tokens",
                    "stopword_ratio", "repetition_ratio", "keep"))


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language ID heuristic: score = English stopword
    share; predict 'en' above threshold, 'unknown' otherwise, and compare
    with the labeled ``lang``.  (Container has no langid model — this is
    the classic stopword-profile method, fully declarative.)"""
    docs = load_table(spark, sf_dir, "documents")
    scored = (_token_stats(docs)
              .join(docs.select("doc_id", "lang"), "doc_id")
              .select("doc_id", "lang",
                      F.round(F.col("n_stopword_tokens")
                              / F.col("n_tokens"), 6).alias("en_score")))
    pred = F.when(F.col("en_score") >= F.lit(0.05), F.lit("en")) \
        .otherwise(F.lit("unknown"))
    return (scored
            .withColumn("pred_lang", pred)
            .groupBy("lang", "pred_lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("en_score"), 6).alias("avg_en_score")))


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: min-hash of word-bigram shingle hashes
    (winnowing-style rolling fingerprint).  The fingerprint is the minimum
    32-bit md5-derived shingle hash — identical arithmetic on the oracle
    side, so exact-checkable; at scale this is a map + per-doc min."""
    from .dedup import shingle_table
    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_table(docs).select(
        "doc_id", md5_int(F.col("shingle")).alias("h"))
    return (sh.groupBy("doc_id")
            .agg(F.min("h").alias("fingerprint"),
                 F.max("h").alias("max_shingle_hash"),
                 F.count(F.lit(1)).alias("n_shingles")))


def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality score, fully relationally: a
    unigram LM is fit on the corpus itself (token count / corpus size),
    then each document is scored by its mean token negative log-prob.
    Low = fluent/common text, high = gibberish or rare-vocabulary — the
    classic perplexity-bucket filter for training-data curation.

    Shape at scale: one explode (map-side), one vocab aggregate, one
    (token) equi-join back, one per-doc aggregate.  The vocab join key
    is Zipf-skewed, which Spark's AQE skew-join handles; the vocab table
    itself is usually broadcastable after the aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token"))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    # corpus size folded into the SAME plan as a broadcast 1-row aggregate
    # (an eager .count() here would scan + tokenize the corpus twice)
    total = vocab.agg(F.sum("tf").cast("double").alias("total"))
    scored = (toks.join(vocab, "token")
              .crossJoin(F.broadcast(total))
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_tokens"),
                   F.round(F.avg(-F.log(F.col("tf") / F.col("total"))), 6)
                    .alias("avg_neg_logprob")))
    return scored.orderBy("doc_id")


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (raw tf × ln(N/df), ties broken
    alphabetically) — the classic keyword-extraction operator, pure
    Catalyst: explode → per-(doc,term) tf → per-term df → join → window
    top-k.  At scale both aggregates partial-agg before one shuffle
    each, and the window partitions by doc_id."""
    from pyspark.sql.window import Window
    docs = load_table(spark, sf_dir, "documents")
    # doc count folded in as a broadcast 1-row aggregate — same plan,
    # no separate eager count job
    nd = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc())
    return (tf.join(df_, "term")
            .crossJoin(F.broadcast(nd))
            .withColumn("tfidf",
                        F.round(F.col("tf")
                                * F.log(F.col("n_docs") / F.col("df")), 6))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select("doc_id", "rank", "term", "tfidf")
            .orderBy("doc_id", "rank"))


_CHUNK_SIZE = 64     # tokens per chunk
_CHUNK_STEP = 56     # stride → 8-token overlap between adjacent chunks


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap — the tokenize-and-window
    primitive every pretraining / RAG ingestion pipeline runs: each
    document becomes ceil-strided 64-token windows with an 8-token
    overlap (chunk starts at 0, 56, 112, …; the last chunk is short).

    Pure codegen: one split, one ``sequence``+``posexplode`` over the
    per-doc start offsets (no per-row Python, no shuffle before the
    explode — chunking is map-only, which is what makes it safe to run
    inline in a 100 TB ingest).  ``slice`` clamps at the end of the
    token array on both engines, so chunk boundaries are engine-exact
    and the whole operator hash-checks, chunk text included.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("s"))
    n = F.size("s")
    n_extra = F.greatest(
        F.lit(0),
        F.ceil((n - F.lit(_CHUNK_SIZE)) / F.lit(float(_CHUNK_STEP)))
        .cast("int"))
    starts = F.sequence(F.lit(0), n_extra)
    return (toks
            .select("doc_id", "s",
                    F.posexplode(starts).alias("chunk_id", "ci"))
            .select("doc_id", "chunk_id",
                    F.slice("s", F.col("ci") * _CHUNK_STEP + 1,
                            _CHUNK_SIZE).alias("chunk"))
            .select("doc_id", "chunk_id",
                    F.size("chunk").alias("n_tokens"),
                    F.concat_ws(" ", "chunk").alias("chunk_text")))


# Feature-hashed chunk embeddings: the hashing trick (Weinberger et al.
# 2009) — each token hashes to one of _HE_DIM signed counter dims, so a
# chunk's embedding needs no vocabulary, no training, and no Python.
_HE_DIM = 16
_HE_QUERIES = 3      # query chunks: chunk 0 of the 3 lowest doc_ids
_HE_TOP_K = 3


def chunk_hash_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level retrieval over FEATURE-HASHED embeddings — the
    text-native RAG path when no trained encoder exists: every 64-token
    chunk (from :func:`doc_chunks`) becomes a 16-dim signed
    token-count vector via the hashing trick (dim = md5(token) mod d,
    sign from the next hash bit — Weinberger et al. 2009), and each
    query chunk retrieves its top-k most-similar chunks corpus-wide by
    cosine, excluding its own document.

    Everything is integer counting until the final cosine: hashing,
    signs, and per-dim sums are exact on both engines, so the operator
    carries a full oracle without any rounding resync except the final
    6-dp cosine.  Plan shape: one explode+groupBy builds the sparse
    (chunk, dim, weight) relation; the constant query side (Q·d rows)
    broadcasts; similarity is a dim-keyed join + keyed sum — the
    brute-force exact baseline whose scale path is the same LSH/IVF
    bucketing the dense-embedding operators already carry.
    """
    chunks = doc_chunks(spark, sf_dir)
    toks = chunks.select(
        "doc_id", "chunk_id",
        F.explode(F.split("chunk_text", " ")).alias("token"))
    hd = md5_int(F.col("token"))
    sparse = (toks
              .select("doc_id", "chunk_id",
                      F.pmod(hd, F.lit(_HE_DIM)).alias("dim"),
                      F.when(F.pmod(F.floor(hd / _HE_DIM), 2) == 0,
                             F.lit(1)).otherwise(F.lit(-1)).alias("sgn"))
              .groupBy("doc_id", "chunk_id", "dim")
              .agg(F.sum("sgn").alias("w"))
              .where(F.col("w") != 0)
              # r9 (guide §2.4): sparse feeds norms, the query side and
              # the dot join; norms both norm sides — two cuts so the
              # chunk + hash chain runs once
              .localCheckpoint())
    norms = (sparse.groupBy("doc_id", "chunk_id")
             .agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))
             .localCheckpoint())
    qids = (chunks.where(F.col("chunk_id") == 0)
            .select("doc_id").orderBy("doc_id").limit(_HE_QUERIES))
    qside = (sparse.join(qids, "doc_id")
             .where(F.col("chunk_id") == 0)
             .select(F.col("doc_id").alias("q_doc"),
                     "dim", F.col("w").alias("qw")))
    qnorms = (norms.join(qids, "doc_id")
              .where(F.col("chunk_id") == 0)
              .select(F.col("doc_id").alias("q_doc"),
                      F.col("norm").alias("qnorm")))
    dots = (sparse.join(F.broadcast(qside), "dim")
            .where(F.col("doc_id") != F.col("q_doc"))
            .groupBy("q_doc", "doc_id", "chunk_id")
            .agg(F.sum(F.col("w") * F.col("qw")).alias("dot")))
    # no hint on norms (r10): per-chunk grain grows with the corpus —
    # AQE re-plans the join to broadcast at runtime when it fits
    sim = (dots.join(norms, ["doc_id", "chunk_id"])
           .join(F.broadcast(qnorms), "q_doc")
           .select("q_doc", "doc_id", "chunk_id",
                   F.round(F.col("dot") / (F.col("norm") * F.col("qnorm")),
                           6).alias("cosine")))
    from pyspark.sql.window import Window
    w = Window.partitionBy("q_doc").orderBy(
        F.col("cosine").desc(), F.col("doc_id").asc(),
        F.col("chunk_id").asc())
    return (sim.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= _HE_TOP_K)
            .select(F.col("q_doc").alias("query_doc"), "rank",
                    "doc_id", "chunk_id", "cosine"))


# PII scrubbing: redaction patterns chosen to behave identically under
# Java regex (Spark) and RE2 (DuckDB) — character classes, bounded
# repetition, \b word boundaries only; no lookaround, no backrefs.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+\d{1,2} \d{3}-\d{3}-\d{4}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the compliance pass every LLM training corpus
    needs before anything else touches it: emails → <EMAIL>, phone
    numbers → <PHONE>, IPv4 addresses → <IP>, with per-class match
    counts for audit.  Entirely map-side (regexp_count +
    chained regexp_replace, JVM codegen — no Python), so at 100 TB it
    is a pure scan-transform with zero shuffle.

    The synthetic corpus carries no PII, so the query PLANTS
    deterministic PII per doc first (doc_id-derived email / phone / IP
    on modular subsets) and scrubs the augmented text — the oracle
    plants identically, so the hash match proves detection, counting,
    and redaction on text that actually contains all three classes.
    The scrubbed text is returned as its md5 (audit fingerprint), not
    the full body.
    """
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit(" call +1 555-000-"),
                        F.lpad((F.col("doc_id") % 10000).cast("string"),
                               4, "0"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(" from 10.0."),
                        (F.col("doc_id") % 256).cast("string"),
                        F.lit("."),
                        ((F.col("doc_id") * 7) % 256).cast("string")))
        .otherwise(F.lit("")))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE, "<PHONE>"),
        _PII_IP, "<IP>")
    return docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_PII_EMAIL)).cast("long")
        .alias("n_emails"),
        F.regexp_count(aug, F.lit(_PII_PHONE)).cast("long")
        .alias("n_phones"),
        F.regexp_count(aug, F.lit(_PII_IP)).cast("long").alias("n_ips"),
        F.md5(scrubbed.cast("binary")).alias("scrubbed_md5"))


# BM25 (Robertson/Okapi, the Lucene parameterization): the lexical
# retrieval baseline that pairs with the dense indexes in
# ``similarity`` for hybrid search.
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_N_QUERIES = 5
_BM25_TOP_K = 10


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical top-10 per query document (the 5 lowest doc_ids;
    query = its distinct terms; self excluded) — the sparse-retrieval
    baseline every hybrid-search stack pairs with a dense index.
    idf uses the Lucene form ln(1 + (N - df + 0.5)/(df + 0.5)), always
    positive; k1 = 1.2, b = 0.75.

    Determinism: each (term, doc) contribution rounds at 1e-6 BEFORE
    the sum, so the aggregated score is a sum of 1e-6-grid values —
    exact in double regardless of aggregation order — and the final
    ranking cannot drift between engines (the first SUM-of-floats
    aggregate in the repo made order-safe this way; the per-pair
    aggregation everywhere else folds arrays left-to-right).

    Scale shape: tf and df are the tfidf operator's two partial-agg
    aggregates; query terms are a broadcast Q·|terms| set; the scoring
    join keys on the term, and the per-(query, doc) sum partial-aggs
    map-side.  At 100 TB this is the standard inverted-index join —
    df/idf live in a vocabulary-bounded broadcast table."""
    docs = load_table(spark, sf_dir, "documents")
    nd = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    toks = docs.select("doc_id", F.explode(F.split("text", " "))
                       .alias("term"))
    # r9 (guide §2.4): tf feeds the df table, the query terms and the
    # scoring join (3 uncut tokenize re-runs); dl feeds the length join
    # and the avgdl broadcast — two cuts
    tf = (toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
          .localCheckpoint())
    dl = (toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
          .localCheckpoint())
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterms = (tf.where(F.col("doc_id") < _BM25_N_QUERIES)
              .select(F.col("doc_id").alias("query_id"), "term"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    contrib = F.round(
        idf * F.col("tf") * (F.lit(_BM25_K1) + 1)
        / (F.col("tf") + F.lit(_BM25_K1)
           * (1 - F.lit(_BM25_B)
              + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl"))), 6)
    scored = (tf.join(F.broadcast(qterms), "term")
              .where(F.col("query_id") != F.col("doc_id"))
              # no hints on dl (doc-grain) / df_ (vocabulary-grain):
              # both grow with the corpus, so an unconditional
              # broadcast hint is a scale defect (VERDICT r9 item 2);
              # AQE restores the broadcast join at runtime when the
              # side really fits.  qterms stays hinted — bounded by
              # _BM25_N_QUERIES, a constant.
              .join(dl, "doc_id")
              .join(df_, "term")
              .crossJoin(F.broadcast(nd))
              .crossJoin(F.broadcast(avgdl))
              .select("query_id", F.col("doc_id").alias("neighbor_id"),
                      contrib.alias("contrib"))
              .groupBy("query_id", "neighbor_id")
              .agg(F.round(F.sum("contrib"), 6).alias("bm25")))
    from pyspark.sql.window import Window
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= _BM25_TOP_K)
            .select("query_id", "rank", "neighbor_id", "bm25"))


# proximity query: both terms present within the window (positional IR)
_PROX_A, _PROX_B = "spark", "join"
_PROX_WIN = 5


def proximity_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional proximity search: documents where the terms 'spark'
    and 'join' co-occur within 5 token positions, with the closest
    distance and the within-window pair count — the phrase/NEAR
    operator of a lexical index (Lucene SpanNearQuery semantics over an
    explicit positional-postings join).

    Each side is that term's positional postings list (doc_id, pos);
    the per-doc equi-join's fan-out is bounded by per-doc term
    frequency, never document length; everything after the explode is
    exact integer arithmetic.  At 100 TB the postings tables ARE the
    inverted index — materialized once, bucketed by term."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    pa = (toks.where(F.col("tok") == _PROX_A)
          .select("doc_id", F.col("pos").alias("pos_a")))
    pb = (toks.where(F.col("tok") == _PROX_B)
          .select("doc_id", F.col("pos").alias("pos_b")))
    return (pa.join(pb, "doc_id")
            .withColumn("dist", F.abs(F.col("pos_a") - F.col("pos_b")))
            .where(F.col("dist") <= _PROX_WIN)
            .groupBy("doc_id")
            .agg(F.min("dist").alias("min_distance"),
                 F.count(F.lit(1)).alias("n_pairs_within"))
            .orderBy("doc_id"))


QUERIES = {
    "text_stats": text_stats,
    "bm25_topk": bm25_topk,
    "doc_chunks": doc_chunks,
    "token_count_regex": token_count_regex,
    "quality_score": quality_score,
    "lang_id_heuristic": lang_id_heuristic,
    "doc_fingerprint": doc_fingerprint,
    "doc_unigram_logprob": doc_unigram_logprob,
    "tfidf_top_terms": tfidf_top_terms,
    "pii_scrub_docs": pii_scrub_docs,
    "chunk_hash_embed_topk": chunk_hash_embed_topk,
    "proximity_search": proximity_search,
}

_STOP_SQL_HITS = " + ".join(
    f"len(list_filter(string_split(text, ' '), t -> t = '{w}'))"
    for w in _EN_STOP)

ORACLES = {
    "bm25_topk": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        ), dl AS (
            SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
        ), nd AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
        ), ad AS (
            SELECT avg(dl) AS avgdl FROM dl
        ), dfp AS (
            SELECT term, count(*) AS df FROM tf GROUP BY 1
        ), q AS (
            SELECT doc_id AS query_id, term FROM tf
            WHERE doc_id < {_BM25_N_QUERIES}
        ), scored AS (
            SELECT q.query_id, t.doc_id AS neighbor_id,
                   round(ln(1.0 + (nd.n_docs - dfp.df + 0.5)
                                  / (dfp.df + 0.5))
                         * t.tf * ({_BM25_K1} + 1)
                         / (t.tf + {_BM25_K1}
                            * (1 - {_BM25_B}
                               + {_BM25_B} * dl.dl / ad.avgdl)), 6)
                       AS contrib
            FROM tf t
            JOIN q ON q.term = t.term AND q.query_id != t.doc_id
            JOIN dl ON dl.doc_id = t.doc_id
            JOIN dfp ON dfp.term = t.term
            CROSS JOIN nd CROSS JOIN ad
        ), agg AS (
            SELECT query_id, neighbor_id, round(sum(contrib), 6) AS bm25
            FROM scored GROUP BY 1, 2
        )
        SELECT query_id, rank, neighbor_id, bm25 FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY bm25 DESC, neighbor_id ASC) AS rank
            FROM agg)
        WHERE rank <= {_BM25_TOP_K}
    """,
    "pii_scrub_docs": f"""
        WITH aug AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 3 = 0
                           THEN ' contact user' || CAST(doc_id AS VARCHAR)
                                || '@example.com' ELSE '' END
                   || CASE WHEN doc_id % 4 = 0
                           THEN ' call +1 555-000-'
                                || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                        4, '0') ELSE '' END
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' from 10.0.'
                                || CAST(doc_id % 256 AS VARCHAR) || '.'
                                || CAST((doc_id * 7) % 256 AS VARCHAR)
                           ELSE '' END AS t
            FROM documents
        )
        -- DuckDB single-quoted strings are escape-free, so the Python
        -- raw-string patterns embed verbatim (single backslashes)
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{_PII_EMAIL}'))
                    AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(t, '{_PII_PHONE}'))
                    AS BIGINT) AS n_phones,
               CAST(len(regexp_extract_all(t, '{_PII_IP}'))
                    AS BIGINT) AS n_ips,
               md5(regexp_replace(
                       regexp_replace(
                           regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                           '{_PII_PHONE}', '<PHONE>', 'g'),
                       '{_PII_IP}', '<IP>', 'g')) AS scrubbed_md5
        FROM aug
    """,
    "text_stats": """
        SELECT doc_id,
               length(text) AS n_chars_measured,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
               round((length(text) - (len(string_split(text, ' ')) - 1))
                     / len(string_split(text, ' ')), 6) AS avg_token_len,
               round(len(list_distinct(string_split(text, ' ')))
                     / len(string_split(text, ' ')), 6) AS distinct_ratio
        FROM documents
    """,
    "token_count_regex": """
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9]+')))
                    AS BIGINT) AS total_word_tokens,
               CAST(sum(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')))
                    AS BIGINT) AS total_punct_tokens,
               round(avg(len(regexp_extract_all(text, '[A-Za-z0-9]+'))), 4) AS avg_word_tokens
        FROM documents
        GROUP BY source
    """,
    "quality_score": f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   len(string_split(text, ' ')) AS n_tokens,
                   {_STOP_SQL_HITS} AS n_stopword_tokens,
                   len(list_distinct(string_split(text, ' '))) AS n_distinct
            FROM documents
        )
        SELECT doc_id, lang, n_tokens, n_stopword_tokens,
               round(n_stopword_tokens / CAST(n_tokens AS DOUBLE), 6) AS stopword_ratio,
               round(1 - n_distinct / CAST(n_tokens AS DOUBLE), 6) AS repetition_ratio,
               (n_tokens >= 20 AND n_tokens <= 1000
                AND round(n_stopword_tokens / CAST(n_tokens AS DOUBLE), 6) >= 0.01
                AND round(1 - n_distinct / CAST(n_tokens AS DOUBLE), 6) <= 0.9) AS keep
        FROM scored
    """,
    "lang_id_heuristic": f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   round(({_STOP_SQL_HITS})
                         / CAST(len(string_split(text, ' ')) AS DOUBLE), 6)
                       AS en_score
            FROM documents
        )
        SELECT lang,
               CASE WHEN en_score >= 0.05 THEN 'en' ELSE 'unknown' END AS pred_lang,
               count(*) AS n_docs,
               round(avg(en_score), 6) AS avg_en_score
        FROM scored
        GROUP BY 1, 2
    """,
    "doc_unigram_logprob": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ), vocab AS (
            SELECT token, count(*) AS tf FROM toks GROUP BY 1
        ), tot AS (
            SELECT count(*) AS n FROM toks
        )
        SELECT doc_id, count(*) AS n_tokens,
               round(avg(-ln(tf / CAST(n AS DOUBLE))), 6) AS avg_neg_logprob
        FROM toks JOIN vocab USING (token) CROSS JOIN tot
        GROUP BY doc_id ORDER BY doc_id
    """,
    "tfidf_top_terms": """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        ), dfp AS (
            SELECT term, count(*) AS df FROM tf GROUP BY 1
        ), nd AS (
            SELECT count(*) AS n FROM documents
        ), scored AS (
            SELECT doc_id, term,
                   round(tf * ln(n / CAST(df AS DOUBLE)), 6) AS tfidf
            FROM tf JOIN dfp USING (term) CROSS JOIN nd
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                          ORDER BY tfidf DESC, term ASC) AS rank
            FROM scored
        )
        SELECT doc_id, rank, term, tfidf
        FROM ranked WHERE rank <= 3
        ORDER BY doc_id, rank
    """,
    "doc_fingerprint": """
        WITH sh AS (
            SELECT doc_id,
                   list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 1),
                       i -> ('0x' || substr(md5(string_split(text, ' ')[i]
                                 || ' ' || string_split(text, ' ')[i + 1]),
                                 1, 8))::BIGINT) AS hashes
            FROM documents
        )
        SELECT doc_id,
               list_min(hashes) AS fingerprint,
               list_max(hashes) AS max_shingle_hash,
               len(hashes) AS n_shingles
        FROM sh
    """,
}

ORACLES["doc_chunks"] = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS s FROM documents
    ), starts AS (
        SELECT doc_id, s,
               unnest(generate_series(0,
                   greatest(0, CAST(ceil((len(s) - {_CHUNK_SIZE})
                                         / {_CHUNK_STEP}.0) AS INTEGER))))
                   AS chunk_id
        FROM toks
    )
    SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
           CAST(len(list_slice(s, chunk_id * {_CHUNK_STEP} + 1,
                               chunk_id * {_CHUNK_STEP} + {_CHUNK_SIZE}))
                AS INTEGER) AS n_tokens,
           array_to_string(list_slice(s, chunk_id * {_CHUNK_STEP} + 1,
                                      chunk_id * {_CHUNK_STEP} + {_CHUNK_SIZE}),
                           ' ') AS chunk_text
    FROM starts
"""

# the chunk-retrieval oracle composes on the doc_chunks closure (nested
# CTE subquery); hashing/signs/sums are integer-exact on both engines,
# so only the final cosine needs the 6-dp round
ORACLES["chunk_hash_embed_topk"] = f"""
    WITH chunks AS (
        SELECT doc_id, chunk_id, chunk_text
        FROM ({ORACLES["doc_chunks"]}) __c
    ), toks AS (
        SELECT doc_id, chunk_id,
               unnest(string_split(chunk_text, ' ')) AS token
        FROM chunks
    ), hashed AS (
        SELECT doc_id, chunk_id,
               ('0x' || substr(md5(token), 1, 8))::BIGINT AS hd
        FROM toks
    ), sparse AS (
        SELECT doc_id, chunk_id, hd % {_HE_DIM} AS dim,
               CAST(sum(CASE WHEN (hd // {_HE_DIM}) % 2 = 0
                             THEN 1 ELSE -1 END) AS BIGINT) AS w
        FROM hashed
        GROUP BY 1, 2, 3
        HAVING sum(CASE WHEN (hd // {_HE_DIM}) % 2 = 0
                        THEN 1 ELSE -1 END) != 0
    ), norms AS (
        SELECT doc_id, chunk_id,
               sqrt(CAST(sum(w * w) AS DOUBLE)) AS norm
        FROM sparse GROUP BY 1, 2
    ), qids AS (
        SELECT doc_id FROM chunks WHERE chunk_id = 0
        ORDER BY doc_id LIMIT {_HE_QUERIES}
    ), qside AS (
        SELECT s.doc_id AS q_doc, s.dim, s.w AS qw
        FROM sparse s JOIN qids q USING (doc_id)
        WHERE s.chunk_id = 0
    ), qnorms AS (
        SELECT n.doc_id AS q_doc, n.norm AS qnorm
        FROM norms n JOIN qids q USING (doc_id)
        WHERE n.chunk_id = 0
    ), dots AS (
        SELECT qs.q_doc, s.doc_id, s.chunk_id,
               sum(s.w * qs.qw) AS dot
        FROM sparse s JOIN qside qs USING (dim)
        WHERE s.doc_id != qs.q_doc
        GROUP BY 1, 2, 3
    ), sim AS (
        SELECT d.q_doc, d.doc_id, d.chunk_id,
               round(d.dot / (n.norm * qn.qnorm), 6) AS cosine
        FROM dots d
        JOIN norms n ON d.doc_id = n.doc_id AND d.chunk_id = n.chunk_id
        JOIN qnorms qn ON d.q_doc = qn.q_doc
    )
    SELECT q_doc AS query_doc, rank, doc_id, chunk_id, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY q_doc
                   ORDER BY cosine DESC, doc_id ASC, chunk_id ASC) AS rank
        FROM sim)
    WHERE rank <= {_HE_TOP_K}
"""

ORACLES["proximity_search"] = f"""
    WITH toks AS (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), pa AS (SELECT doc_id, pos AS pos_a FROM toks
              WHERE tok = '{_PROX_A}'),
    pb AS (SELECT doc_id, pos AS pos_b FROM toks
           WHERE tok = '{_PROX_B}')
    SELECT doc_id,
           CAST(min(abs(pos_a - pos_b)) AS INTEGER) AS min_distance,
           count(*) AS n_pairs_within
    FROM pa JOIN pb USING (doc_id)
    WHERE abs(pos_a - pos_b) <= {_PROX_WIN}
    GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Round-4 addition: RM3 pseudo-relevance feedback (Lavrenko & Croft
# 2001 relevance models; the "RM3" interpolated variant every Lucene /
# Anserini stack ships) — retrieve, build a feedback language model
# from the top documents, expand the query, re-retrieve.

_RM3_FB_DOCS = 5       # feedback depth (top docs of stage 1)
_RM3_FB_TERMS = 10     # expansion terms kept
_RM3_LAMBDA6 = 500000  # original-term weight λ=0.5 in micro-units
_RM3_TOP_K = 10


def rm3_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage BM25 retrieval with RM3 query expansion, per query doc
    (the 5 lowest doc_ids, `bm25_topk`'s query set): stage 1 ranks by
    BM25; the top-5 docs form a feedback model — RM1 term weight
    w(t) = Σ_d P(t|d)·P(d) with P(d) the normalized stage-1 score —
    whose top-10 non-query terms join the query at λ=0.5; stage 2
    re-ranks the corpus under the weighted expanded query.  Emits the
    final top-10 with both scores' provenance (n_query_terms,
    n_expansion_terms ride along for the audit).

    Determinism: every per-(term, doc) BM25 contribution and every
    model probability is snapped to BIGINT micro-units at birth; both
    stages rank on exact INTEGER scores (ties doc-ascending) — the
    `nb_quality_classifier` fixed-point discipline applied to a
    two-stage ranking pipeline, where a 1-ulp drift in stage 1 would
    otherwise cascade into a different feedback set.

    At 100 TB: stage 1 is the `bm25_topk` inverted-index join; the
    feedback model is (queries × fb_docs × doc_terms) — bounded by the
    query batch, never the corpus — and the expanded query table
    (queries × ≤10+|q| terms) broadcasts back onto the same posting
    lists for stage 2.  Two passes over the index, zero new shuffles
    beyond the scoring joins."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    nd = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    toks = docs.select("doc_id", F.explode(F.split("text", " "))
                       .alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    avgdl = dl.agg(F.avg("dl").alias("avgdl"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # r9 (guide §2.4): ``qterms`` is referenced three times (stage-1
    # broadcast, the RM1 anti-join, the expanded-query union) and each
    # uncut reference re-ran the corpus tokenize + groupBy chain (28
    # parquet scans planned).  It and the other bounded feedback frames
    # below (fb: Q·5 rows, exp_terms: Q·10, eq: Q·(10+|q|)) take
    # localCheckpoint cuts, so each stage's chain runs once.
    qterms = (tf.where(F.col("doc_id") < _BM25_N_QUERIES)
              .select(F.col("doc_id").alias("query_id"), "term")
              .localCheckpoint())
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    contrib6 = F.round(
        idf * F.col("tf") * (F.lit(_BM25_K1) + 1)
        / (F.col("tf") + F.lit(_BM25_K1)
           * (1 - F.lit(_BM25_B)
              + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")))
        * 1e6, 0).cast("bigint")
    # per-(term, doc) contribution table — shared by both stages
    post6 = (tf.join(dl, "doc_id")
             .join(F.broadcast(df_), "term")
             .crossJoin(F.broadcast(nd))
             .crossJoin(F.broadcast(avgdl))
             .select("doc_id", "term", "tf", "dl",
                     contrib6.alias("c6"))
             .localCheckpoint())
    s1 = (post6.join(F.broadcast(qterms), "term")
          .where(F.col("query_id") != F.col("doc_id"))
          .groupBy("query_id", "doc_id")
          .agg(F.sum("c6").alias("score6")))
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("score6"), F.asc("doc_id"))
    fb = (s1.withColumn("rn", F.row_number().over(w1))
          .where(F.col("rn") <= _RM3_FB_DOCS)
          .localCheckpoint())
    fbsum = fb.groupBy("query_id").agg(F.sum("score6").alias("sum6"))
    # P(d|q) in micro-units — one rounded division per feedback doc
    pd6 = (fb.join(F.broadcast(fbsum), "query_id")
           .select("query_id", "doc_id",
                   F.round(F.col("score6") / F.col("sum6") * 1e6, 0)
                   .cast("bigint").alias("pd6")))
    # RM1: w12(t) = Σ_d pd6 · ptd6, exclude original query terms
    ptd6 = F.round(F.col("tf") / F.col("dl") * 1e6, 0).cast("bigint")
    rm1 = (post6.join(F.broadcast(pd6), "doc_id")
           .select("query_id", "term", (ptd6 * F.col("pd6")).alias("w12"))
           .groupBy("query_id", "term")
           .agg(F.sum("w12").alias("w12"))
           .join(qterms.withColumn("is_q", F.lit(True)),
                 ["query_id", "term"], "left")
           .where(F.col("is_q").isNull()))
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("w12"), F.asc("term"))
    exp_terms = (rm1.withColumn("rn", F.row_number().over(w2))
                 .where(F.col("rn") <= _RM3_FB_TERMS)
                 .localCheckpoint())
    expsum = exp_terms.groupBy("query_id").agg(F.sum("w12").alias("ws12"))
    # expanded weighted query: λ on originals, (1−λ)·ŵ on expansions
    eq = (exp_terms.join(F.broadcast(expsum), "query_id")
          .select("query_id", "term",
                  F.round(F.col("w12") / F.col("ws12")
                          * (1e6 - _RM3_LAMBDA6), 0)
                  .cast("bigint").alias("qw6"))
          .unionByName(qterms.select(
              "query_id", "term",
              F.lit(_RM3_LAMBDA6).cast("bigint").alias("qw6")))
          .localCheckpoint())
    nq = (eq.groupBy("query_id")
          .agg(F.sum(F.when(F.col("qw6") == _RM3_LAMBDA6, 1).otherwise(0))
               .alias("n_query_terms"),
               F.sum(F.when(F.col("qw6") != _RM3_LAMBDA6, 1).otherwise(0))
               .alias("n_expansion_terms")))
    s2 = (post6.join(F.broadcast(eq), "term")
          .where(F.col("query_id") != F.col("doc_id"))
          .groupBy("query_id", "doc_id")
          .agg(F.sum(F.col("qw6") * F.col("c6")).alias("score12")))
    w3 = Window.partitionBy("query_id").orderBy(
        F.desc("score12"), F.asc("doc_id"))
    return (s2.withColumn("rank", F.row_number().over(w3))
            .where(F.col("rank") <= _RM3_TOP_K)
            .join(F.broadcast(nq), "query_id")
            .select("query_id", "rank",
                    F.col("doc_id").alias("neighbor_id"),
                    F.round(F.col("score12") / 1e12, 6).alias("rm3_score"),
                    "n_query_terms", "n_expansion_terms")
            .orderBy("query_id", "rank"))


ORACLES["rm3_query_expansion"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
    ), dl AS (
        SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
    ), nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    ad AS (SELECT avg(dl) AS avgdl FROM dl),
    dfp AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    q AS (SELECT doc_id AS query_id, term FROM tf
          WHERE doc_id < {_BM25_N_QUERIES}),
    post AS (
        SELECT t.doc_id, t.term, t.tf, dl.dl,
               CAST(round(ln(1.0 + (nd.n_docs - dfp.df + 0.5)
                             / (dfp.df + 0.5))
                          * t.tf * ({_BM25_K1} + 1)
                          / (t.tf + {_BM25_K1}
                             * (1 - {_BM25_B}
                                + {_BM25_B} * dl.dl / ad.avgdl)) * 1e6)
                    AS BIGINT) AS c6
        FROM tf t JOIN dl ON dl.doc_id = t.doc_id
        JOIN dfp ON dfp.term = t.term CROSS JOIN nd CROSS JOIN ad
    ), s1 AS (
        SELECT q.query_id, p.doc_id, sum(p.c6) AS score6
        FROM post p JOIN q ON q.term = p.term AND q.query_id != p.doc_id
        GROUP BY 1, 2
    ), fb AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY score6 DESC, doc_id ASC) AS rn FROM s1)
        WHERE rn <= {_RM3_FB_DOCS}
    ), fbsum AS (
        SELECT query_id, sum(score6) AS sum6 FROM fb GROUP BY 1
    ), pd AS (
        SELECT fb.query_id, fb.doc_id,
               CAST(round(fb.score6 / CAST(fs.sum6 AS DOUBLE) * 1e6)
                    AS BIGINT) AS pd6
        FROM fb JOIN fbsum fs USING (query_id)
    ), rm1 AS (
        SELECT pd.query_id, p.term,
               sum(CAST(round(p.tf / CAST(p.dl AS DOUBLE) * 1e6)
                        AS BIGINT) * pd.pd6) AS w12
        FROM post p JOIN pd ON pd.doc_id = p.doc_id
        GROUP BY 1, 2
    ), rm1x AS (
        SELECT r.* FROM rm1 r
        LEFT JOIN q ON q.query_id = r.query_id AND q.term = r.term
        WHERE q.term IS NULL
    ), expt AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY w12 DESC, term ASC) AS rn FROM rm1x)
        WHERE rn <= {_RM3_FB_TERMS}
    ), expsum AS (
        SELECT query_id, sum(w12) AS ws12 FROM expt GROUP BY 1
    ), eq AS (
        SELECT e.query_id, e.term,
               CAST(round(e.w12 / CAST(s.ws12 AS DOUBLE)
                          * (1e6 - {_RM3_LAMBDA6})) AS BIGINT) AS qw6
        FROM expt e JOIN expsum s USING (query_id)
        UNION ALL
        SELECT query_id, term, {_RM3_LAMBDA6} AS qw6 FROM q
    ), nq AS (
        SELECT query_id,
               sum(CASE WHEN qw6 = {_RM3_LAMBDA6} THEN 1 ELSE 0 END)
                   AS n_query_terms,
               sum(CASE WHEN qw6 != {_RM3_LAMBDA6} THEN 1 ELSE 0 END)
                   AS n_expansion_terms
        FROM eq GROUP BY 1
    ), s2 AS (
        SELECT e.query_id, p.doc_id, sum(e.qw6 * p.c6) AS score12
        FROM post p JOIN eq e ON e.term = p.term AND e.query_id != p.doc_id
        GROUP BY 1, 2
    )
    SELECT s.query_id, s.rank, s.doc_id AS neighbor_id,
           round(s.score12 / 1e12, 6) AS rm3_score,
           CAST(nq.n_query_terms AS BIGINT) AS n_query_terms,
           CAST(nq.n_expansion_terms AS BIGINT) AS n_expansion_terms
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY score12 DESC, doc_id ASC) AS rank FROM s2) s
    JOIN nq USING (query_id)
    WHERE s.rank <= {_RM3_TOP_K} ORDER BY query_id, rank
"""


QUERIES["rm3_query_expansion"] = rm3_query_expansion


# ---------------------------------------------------------------------------
# Round-4 continuation: readability scoring — the audience-level
# curation signal (simple-wiki vs arxiv style splits filter on it).

_FL_BASE, _FL_WPS, _FL_SPW = "206.835", "1.015", "84.6"  # Flesch consts


def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (Flesch 1948; the readability
    gate education/simplification corpora filter on): 206.835 −
    1.015·(words/sentences) − 84.6·(syllables/word), with the standard
    programmatic approximations — sentences = terminal-punctuation
    runs (min 1), syllables = vowel GROUPS per word ([aeiouyAEIOUY]+,
    the classic one-liner estimator).  All three counts are single
    regexp_count expressions (map-only, whole-stage codegen); the
    formula is a fixed-shape expression of exact integers, so the 4dp
    round is engine-stable.  Also emits the raw counts so a different
    formula (FK grade, SMOG) is one expression away.

    Java and DuckDB RE2-class regexes agree on these character-class
    patterns (the PII-scrub precedent).  At 100 TB: embarrassingly
    parallel, zero shuffles past the scan."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.regexp_count(F.col("text"), F.lit(r"[A-Za-z0-9]+"))
    sents = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1))
    syll = F.regexp_count(F.col("text"), F.lit(r"[aeiouyAEIOUY]+"))
    w = F.col("n_words").cast("double")
    score = (F.lit(float(_FL_BASE))
             - F.lit(float(_FL_WPS)) * (w / F.col("n_sentences")
                                        .cast("double"))
             - F.lit(float(_FL_SPW)) * (F.col("n_syllables")
                                        .cast("double") / w))
    return (docs.select("doc_id", "lang",
                        words.alias("n_words"),
                        sents.alias("n_sentences"),
                        syll.alias("n_syllables"))
            .where(F.col("n_words") > 0)
            .select("doc_id", "lang", "n_words", "n_sentences",
                    "n_syllables",
                    F.round(score, 4).alias("flesch_reading_ease"))
            .orderBy("doc_id"))


ORACLES["readability_scores"] = f"""
    WITH counts AS (
        SELECT doc_id, lang,
               CAST(length(regexp_replace(text, '[A-Za-z0-9]+', chr(1),
                                          'g'))
                    - length(regexp_replace(text, '[A-Za-z0-9]+', '',
                                            'g')) AS INTEGER) AS n_words,
               CAST(greatest(
                   length(regexp_replace(text, '[.!?]+', chr(1), 'g'))
                   - length(regexp_replace(text, '[.!?]+', '', 'g')),
                   1) AS INTEGER) AS n_sentences,
               CAST(length(regexp_replace(text, '[aeiouyAEIOUY]+',
                                          chr(1), 'g'))
                    - length(regexp_replace(text, '[aeiouyAEIOUY]+', '',
                                            'g')) AS INTEGER)
                   AS n_syllables
        FROM documents
    )
    SELECT doc_id, lang, n_words, n_sentences, n_syllables,
           round(CAST({_FL_BASE} AS DOUBLE)
                 - CAST({_FL_WPS} AS DOUBLE)
                   * (CAST(n_words AS DOUBLE)
                      / CAST(n_sentences AS DOUBLE))
                 - CAST({_FL_SPW} AS DOUBLE)
                   * (CAST(n_syllables AS DOUBLE)
                      / CAST(n_words AS DOUBLE)), 4)
               AS flesch_reading_ease
    FROM counts WHERE n_words > 0 ORDER BY doc_id
"""
QUERIES["readability_scores"] = readability_scores


_VC_CUTOFFS = [100, 1000, 10000]


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary COVERAGE curve: the fraction of all corpus token
    occurrences covered by the top-k most frequent types, at k ∈
    {100, 1k, 10k} — the Zipf-integral read a tokenizer/vocab-budget
    decision hangs on (`corpus_zipf_fit` fits the law's slope; this
    reports the budget consequence: if 10k types cover 99%, a 50k
    vocab buys almost nothing).  OOV rate at each budget = 1 −
    coverage.

    Frequency ranks break ties by token text, so the cumulative sum
    is a total order — exact under any partitioning; coverage is a
    ratio of exact BIGINT occurrence counts.  Scale: one explode +
    one vocab aggregate (the text-layer envelope), one rank window
    over vocab rows, a 3-row cutoff fan-out."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window
    toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    w = Window.orderBy(F.col("tf").desc(), F.col("token").asc())
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (vocab.withColumn("rank", F.row_number().over(w))
              .withColumn("cum_tf", F.sum("tf").over(wcum)))
    total = vocab.agg(F.sum("tf").alias("total"),
                      F.count(F.lit(1)).alias("n_types"))
    cuts = F.explode(F.array(*[F.lit(c) for c in _VC_CUTOFFS])) \
        .alias("vocab_budget")
    at = (ranked.select("rank", "cum_tf")
          .crossJoin(F.broadcast(
              ranked.sparkSession.range(1).select(cuts)))
          .where(F.col("rank") <= F.col("vocab_budget"))
          .groupBy("vocab_budget")
          .agg(F.max("cum_tf").alias("covered")))
    return (at.crossJoin(F.broadcast(total))
            .select(F.col("vocab_budget").cast("int").alias("vocab_budget"),
                    "covered", "total", "n_types",
                    F.round(F.col("covered").cast("double")
                            / F.col("total").cast("double"), 6)
                    .alias("coverage"),
                    F.round(F.lit(1.0) - F.col("covered").cast("double")
                            / F.col("total").cast("double"), 6)
                    .alias("oov_rate"))
            .orderBy("vocab_budget"))


ORACLES["vocab_coverage_curve"] = f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), vocab AS (
        SELECT token, count(*) AS tf FROM toks GROUP BY 1
    ), ranked AS (
        SELECT tf,
               row_number() OVER (ORDER BY tf DESC, token ASC) AS rank,
               sum(tf) OVER (ORDER BY tf DESC, token ASC
                             ROWS UNBOUNDED PRECEDING) AS cum_tf
        FROM vocab
    ), tot AS (
        SELECT CAST(sum(tf) AS BIGINT) AS total,
               count(*) AS n_types
        FROM vocab
    ), cuts(vocab_budget) AS (
        VALUES {", ".join(f"({c})" for c in _VC_CUTOFFS)}
    )
    SELECT CAST(c.vocab_budget AS INTEGER) AS vocab_budget,
           CAST(max(r.cum_tf) AS BIGINT) AS covered,
           t.total, t.n_types,
           round(CAST(max(r.cum_tf) AS DOUBLE)
                 / CAST(t.total AS DOUBLE), 6) AS coverage,
           round(CAST(1 AS DOUBLE) - CAST(max(r.cum_tf) AS DOUBLE)
                 / CAST(t.total AS DOUBLE), 6) AS oov_rate
    FROM cuts c
    JOIN ranked r ON r.rank <= c.vocab_budget
    CROSS JOIN tot t
    GROUP BY c.vocab_budget, t.total, t.n_types
    ORDER BY c.vocab_budget
"""
QUERIES["vocab_coverage_curve"] = vocab_coverage_curve


_RAKE_TOP = 25
_RAKE_MAX_LEN = 4


def rake_keywords_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) at corpus level:
    candidate phrases are maximal stopword-free token runs (the
    stopword list is the shared ``_EN_STOP``), each word is scored
    deg/freq (degree = Σ length of phrases containing it — favors
    words that live inside longer collocations), and a phrase scores
    the SUM of its word scores; top-``_RAKE_TOP`` distinct phrases.
    The phrase-level complement of `tfidf_top_terms` (single tokens)
    and `bigram_pmi_top` (fixed-length-2 collocations): RAKE finds
    variable-length keyphrases with no n fixed in advance.

    Word scores are snapped to the 1e-6 BIGINT micro-grid before the
    per-phrase sum (deg/freq is one division; the SUM must not depend
    on token order), so ranking is exact.  Scale: one tokenize pass,
    a run-id window per doc (the sessionize shape on token streams),
    one word aggregate (vocab-bounded, broadcast back), one phrase
    aggregate — phrases are length-capped at 4 so no row outgrows
    its run."""
    from pyspark.sql.window import Window
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (toks
            .withColumn("stop", F.col("tok").isin(*_EN_STOP))
            .withColumn("run_id", F.sum(F.col("stop").cast("long"))
                        .over(w))
            .where(~F.col("stop")))
    plen = (runs.groupBy("doc_id", "run_id")
            .agg(F.count(F.lit(1)).alias("phrase_len"),
                 F.array_join(F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("pos", "tok"))),
                     lambda s: s["tok"]), " ").alias("phrase")))
    inst = (runs.join(plen, ["doc_id", "run_id"])
            .where(F.col("phrase_len") <= _RAKE_MAX_LEN))
    words = (inst.groupBy("tok")
             .agg(F.count(F.lit(1)).alias("freq"),
                  F.sum("phrase_len").alias("deg"))
             .select("tok", F.round(F.col("deg").cast("double")
                                    / F.col("freq").cast("double")
                                    * 1_000_000, 0).cast("long")
                     .alias("score_u")))
    phrase_scores = (inst.join(F.broadcast(words), "tok")
                     .groupBy("doc_id", "run_id", "phrase")
                     .agg(F.sum("score_u").alias("ps_u")))
    agg = (phrase_scores.groupBy("phrase")
           .agg(F.count(F.lit(1)).alias("n_occurrences"),
                F.max("ps_u").alias("ps_u")))
    wr = Window.orderBy(F.col("ps_u").desc(), F.col("phrase").asc())
    return (agg.withColumn("rank", F.row_number().over(wr))
            .where(F.col("rank") <= _RAKE_TOP)
            .select("rank", "phrase", "n_occurrences",
                    F.round(F.col("ps_u").cast("double") / 1_000_000,
                            6).alias("rake_score")))


_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in _EN_STOP)

QUERIES["rake_keywords_top"] = rake_keywords_top
ORACLES["rake_keywords_top"] = f"""
    WITH toks AS (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), runs AS (
        SELECT doc_id, pos, tok,
               sum(CASE WHEN tok IN ({_RAKE_STOP_SQL})
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS run_id,
               tok IN ({_RAKE_STOP_SQL}) AS stop
        FROM toks
    ), kept AS (
        SELECT doc_id, pos, tok, run_id FROM runs WHERE NOT stop
    ), plen AS (
        SELECT doc_id, run_id, count(*) AS phrase_len,
               string_agg(tok, ' ' ORDER BY pos) AS phrase
        FROM kept GROUP BY 1, 2
    ), inst AS (
        SELECT k.doc_id, k.run_id, k.tok, p.phrase_len, p.phrase
        FROM kept k JOIN plen p USING (doc_id, run_id)
        WHERE p.phrase_len <= {_RAKE_MAX_LEN}
    ), words AS (
        SELECT tok,
               CAST(round(CAST(sum(phrase_len) AS DOUBLE)
                          / CAST(count(*) AS DOUBLE) * 1000000, 0)
                    AS BIGINT) AS score_u
        FROM inst GROUP BY 1
    ), phrase_scores AS (
        SELECT i.doc_id, i.run_id, i.phrase,
               CAST(sum(w.score_u) AS BIGINT) AS ps_u
        FROM inst i JOIN words w USING (tok)
        GROUP BY 1, 2, 3
    ), agg AS (
        SELECT phrase, count(*) AS n_occurrences,
               CAST(max(ps_u) AS BIGINT) AS ps_u
        FROM phrase_scores GROUP BY 1
    )
    SELECT rank, phrase, n_occurrences,
           round(CAST(ps_u AS DOUBLE) / 1000000, 6) AS rake_score
    FROM (SELECT *, row_number() OVER (ORDER BY ps_u DESC,
                     phrase ASC) AS rank
          FROM agg)
    WHERE rank <= {_RAKE_TOP}
    ORDER BY rank
"""


_QL_MU = 2000.0      # Dirichlet prior mass (Zhai-Lafferty default)


def ql_dirichlet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Ponte &
    Croft 1998; Zhai & Lafferty 2004) — the language-modeling
    alternative to BM25, same queries (the 5 lowest doc_ids) and
    candidate discipline: score(q,d) = Σ_{t∈q} ln((tf + μ·p_t)/(dl
    + μ)), computed in the rank-equivalent matched-term
    decomposition Σ_{t∈q∩d} ln(1 + tf/(μ·p_t)) + |q|·ln(μ/(dl+μ)),
    so only the inverted-index join touches data and the unmatched
    background mass collapses into one per-candidate term.
    Candidates = docs sharing ≥1 query term (the BM25 candidate set;
    a no-overlap doc scores only background and can't enter the
    top-10 of any real query).

    Determinism: p_t = cf_t/|C| is an integer ratio; each matched
    contribution AND the background term round at 1e-6 pre-sum (the
    `bm25_topk` sum-of-floats discipline).

    Scale shape: identical to BM25 — tf/cf are the two partial-agg
    aggregates, query terms broadcast, vocabulary-bounded collection
    LM broadcast, per-(query, doc) map-side-combinable sum."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " "))
                       .alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    cf = tf.groupBy("term").agg(F.sum("tf").alias("cf"))
    ctot = cf.agg(F.sum("cf").cast("double").alias("ctot"))
    qterms = (tf.where(F.col("doc_id") < _BM25_N_QUERIES)
              .select(F.col("doc_id").alias("query_id"), "term"))
    qlen = qterms.groupBy("query_id").agg(F.count(F.lit(1)).alias("qlen"))
    p_t = F.col("cf") / F.col("ctot")
    match = F.round(F.log(F.lit(1.0) + F.col("tf")
                          / (F.lit(_QL_MU) * p_t)), 6)
    scored = (tf.join(F.broadcast(qterms), "term")
              .where(F.col("query_id") != F.col("doc_id"))
              .join(F.broadcast(cf), "term")
              .crossJoin(F.broadcast(ctot))
              .select("query_id", F.col("doc_id").alias("neighbor_id"),
                      match.alias("contrib"))
              .groupBy("query_id", "neighbor_id")
              .agg(F.round(F.sum("contrib"), 6).alias("msum")))
    bg = F.round(F.col("qlen")
                 * F.log(F.lit(_QL_MU) / (F.col("dl") + F.lit(_QL_MU))),
                 6)
    full = (scored
            .join(dl.select(F.col("doc_id").alias("neighbor_id"), "dl"),
                  "neighbor_id")
            .join(F.broadcast(qlen), "query_id")
            .withColumn("ql_score",
                        F.round(F.col("msum") + bg, 6)))
    from pyspark.sql.window import Window
    w = Window.partitionBy("query_id").orderBy(
        F.col("ql_score").desc(), F.col("neighbor_id").asc())
    return (full.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= _BM25_TOP_K)
            .select("query_id", "rank", "neighbor_id", "ql_score"))


QUERIES["ql_dirichlet_topk"] = ql_dirichlet_topk
ORACLES["ql_dirichlet_topk"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY 1, 2
    ), dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        FROM toks GROUP BY 1
    ), cf AS (
        SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1
    ), ctot AS (SELECT CAST(sum(cf) AS DOUBLE) AS ctot FROM cf),
    qterms AS (
        SELECT doc_id AS query_id, term FROM tf
        WHERE doc_id < {_BM25_N_QUERIES}
    ), qlen AS (
        SELECT query_id, CAST(count(*) AS BIGINT) AS qlen
        FROM qterms GROUP BY 1
    ), scored AS (
        SELECT q.query_id, t.doc_id AS neighbor_id,
               round(sum(round(ln(1.0 + t.tf
                                  / ({_QL_MU} * (c.cf / x.ctot))), 6)),
                     6) AS msum
        FROM tf t
        JOIN qterms q USING (term)
        JOIN cf c USING (term)
        CROSS JOIN ctot x
        WHERE q.query_id != t.doc_id
        GROUP BY 1, 2
    ), full_ AS (
        SELECT s.query_id, s.neighbor_id,
               round(s.msum
                     + round(ql.qlen * ln({_QL_MU} / (d.dl + {_QL_MU})),
                             6), 6) AS ql_score
        FROM scored s
        JOIN dl d ON d.doc_id = s.neighbor_id
        JOIN qlen ql USING (query_id)
    )
    SELECT query_id, rank, neighbor_id, ql_score
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY ql_score DESC, neighbor_id ASC) AS rank
          FROM full_)
    WHERE rank <= {_BM25_TOP_K}
"""


_TR_D = 0.85     # damping (Brin-Page / Mihalcea-Tarau default)
_TR_TOP = 20     # keywords reported
_TR_ITERS = 2    # unrolled weighted-PageRank sweeps


def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    PageRank over the corpus word CO-OCCURRENCE graph (adjacent-token
    edges, weight = co-occurrence count, symmetrized), TWO unrolled
    sweeps of s_i = (1-d) + d * sum_j (w_ji / wdeg_j) * s_j from the
    uniform start, top-20 words by score — the graph-centrality
    complement to `rake_keywords_top` (degree-within-phrase) and the
    tf-idf family: a word ranks high when it co-occurs with other
    well-connected words, not merely when it is frequent.

    Determinism: edge weights are exact bigram counts; every sweep
    BIGINT-sums 1e-9-snapped neighbor contributions, so both engines
    (and the python replay in tests) reproduce the trace update by
    update; ties break by word ascending.

    Scale: the edge list is the distinct-bigram table (vocabulary-
    bounded); each sweep is one dst-keyed grouped sum — the PageRank
    shape `doc_graph_pagerank` already pins, here on the word graph;
    the unroll count is the knob."""
    from pyspark.sql.window import Window
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.posexplode(F.split("text", " "))
                       .alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (toks.withColumn("nxt", F.lead("tok", 1).over(w))
             .where(F.col("nxt").isNotNull()
                    & (F.col("tok") != F.col("nxt")))
             .groupBy(F.col("tok").alias("a"),
                      F.col("nxt").alias("b"))
             .agg(F.count(F.lit(1)).alias("c")))
    edges = (pairs.select(F.col("a").alias("src"),
                          F.col("b").alias("dst"), "c")
             .union(pairs.select(F.col("b").alias("src"),
                                 F.col("a").alias("dst"), "c"))
             .groupBy("src", "dst").agg(F.sum("c").alias("wt"))
             # r9 (guide §2.4): edges feed the degree table and every
             # sweep's contribution join; nodes and the per-sweep score
             # frame are each referenced twice per sweep — vocab-grain
             # cuts keep the unroll linear (the doc_graph_pagerank fix)
             .localCheckpoint())
    wdeg = edges.groupBy("src").agg(F.sum("wt").alias("wdeg"))
    nodes = (wdeg.select(F.col("src").alias("word"), "wdeg")
             .localCheckpoint())
    s = nodes.select("word", F.lit(1.0).alias("s"))
    for _ in range(_TR_ITERS):
        sj = (s.join(nodes.select(F.col("word"), "wdeg"), "word")
              .select(F.col("word").alias("src"),
                      (F.col("s") / F.col("wdeg")).alias("sj_out")))
        contrib = (edges.join(sj, "src")
                   .withColumn("cu", F.round(
                       F.col("wt") * F.col("sj_out") * 1e9, 0)
                       .cast("bigint"))
                   .groupBy("dst").agg(F.sum("cu").alias("su")))
        s = (nodes.join(contrib,
                        nodes.word == contrib.dst, "left")
             .select("word",
                     F.round(F.lit(1.0 - _TR_D)
                             + F.lit(_TR_D)
                             * F.coalesce(F.col("su"), F.lit(0))
                             / 1e9, 9).alias("s")))
    wr = Window.orderBy(F.col("s").desc(), F.col("word").asc())
    return (s.withColumn("rank", F.row_number().over(wr))
            .where(F.col("rank") <= _TR_TOP)
            .select("rank", "word", F.round("s", 6).alias("score"))
            .orderBy("rank"))


QUERIES["textrank_keywords"] = textrank_keywords


def _tr_sweep_sql(prev: str, it: int) -> str:
    return f"""
    c{it} AS (
        SELECT e.dst,
               CAST(sum(CAST(round(e.wt * (s.s / n.wdeg) * 1e9, 0)
                             AS BIGINT)) AS BIGINT) AS su
        FROM edges e
        JOIN {prev} s ON s.word = e.src
        JOIN nodes n ON n.word = e.src
        GROUP BY e.dst
    ), s{it} AS (
        SELECT n.word,
               round({1 - _TR_D} + {_TR_D}
                     * coalesce(c.su, 0) / 1e9, 9) AS s
        FROM nodes n LEFT JOIN c{it} c ON c.dst = n.word
    )"""


ORACLES["textrank_keywords"] = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), pairs AS (
        SELECT ts[i] AS a, ts[i + 1] AS b,
               CAST(count(*) AS BIGINT) AS c
        FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
        WHERE ts[i] != ts[i + 1]
        GROUP BY 1, 2
    ), edges AS (
        SELECT src, dst, CAST(sum(c) AS BIGINT) AS wt
        FROM (SELECT a AS src, b AS dst, c FROM pairs
              UNION ALL SELECT b, a, c FROM pairs)
        GROUP BY 1, 2
    ), nodes AS (
        SELECT src AS word, CAST(sum(wt) AS BIGINT) AS wdeg
        FROM edges GROUP BY 1
    ), s0 AS (SELECT word, CAST(1.0 AS DOUBLE) AS s FROM nodes),
    {_tr_sweep_sql("s0", 1).lstrip()},
    {_tr_sweep_sql("s1", 2).lstrip()}
    SELECT CAST(row_number() OVER (ORDER BY s DESC, word ASC) AS INT)
               AS rank,
           word, round(s, 6) AS score
    FROM s2
    QUALIFY rank <= {_TR_TOP}
    ORDER BY rank
"""


# truncated-RBO depth weights (1-p) p^(k-1) at p = 0.9, exact
# python-precomputed literals shared verbatim by both engines
_RBO_W = ((1, 0.1), (2, 0.09), (3, 0.081), (4, 0.0729),
          (5, 0.06561), (6, 0.059049), (7, 0.0531441),
          (8, 0.04782969), (9, 0.043046721), (10, 0.0387420489))


def retrieval_rbo_bm25_vs_ql(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """RANK-BIASED OVERLAP between the BM25 and query-likelihood
    top-10 lists per query (Webber, Moffat & Zobel 2010; truncated
    prefix form at p = 0.9): RBO = sum_k (1-p) p^(k-1) |S_k∩T_k|/k
    — the top-weighted similarity for INDEFINITE rankings that
    Kendall/Spearman get wrong on truncated lists (disagreement at
    rank 1 should cost more than at rank 10, and non-conjoint lists
    are not a permutation at all).  The model-governance read before
    swapping BM25 for the LM ranker: which queries do the two
    models actually disagree on.

    Exactness: prefix overlaps are exact integers from one rank
    join; the depth weights are python-precomputed literals shared
    verbatim by both engines (no in-engine pow); per-depth terms
    snap at 1e-9 and BIGINT-sum.

    Scale: both rankers are existing bounded chains; the RBO join is
    (query x 10 x 10)-bounded."""
    # r9 (guide §2.4): the BM25 list feeds the overlap join AND the
    # all-queries frame — one k·Q-row cut
    bm = bm25_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("doc"),
        F.col("rank").alias("r_bm")).localCheckpoint()
    ql = ql_dirichlet_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("doc"),
        F.col("rank").alias("r_ql"))
    both = bm.join(ql, ["query_id", "doc"])
    depths = spark.createDataFrame(list(_RBO_W), ["k", "w"])
    terms = (both.crossJoin(F.broadcast(depths))
             .where((F.col("r_bm") <= F.col("k"))
                    & (F.col("r_ql") <= F.col("k")))
             .groupBy("query_id", "k", "w")
             .agg(F.count(F.lit(1)).alias("ov")))
    tu = F.round(F.col("w") * F.col("ov")
                 / F.col("k").cast("double") * 1e9, 0).cast("bigint")
    per_q = (terms.withColumn("tu", tu)
             .groupBy("query_id")
             .agg(F.round(F.sum("tu") / 1e9, 6).alias("rbo"),
                  F.max(F.when(F.col("k") == 10, F.col("ov")))
                  .alias("overlap_at_10")))
    allq = bm.select("query_id").distinct()
    return (allq.join(per_q, "query_id", "left")
            .select("query_id",
                    F.coalesce("rbo", F.lit(0.0)).alias("rbo"),
                    F.coalesce("overlap_at_10", F.lit(0))
                    .cast("bigint").alias("overlap_at_10"))
            .orderBy("query_id"))


QUERIES["retrieval_rbo_bm25_vs_ql"] = retrieval_rbo_bm25_vs_ql
ORACLES["retrieval_rbo_bm25_vs_ql"] = f"""
    WITH bm AS (
        SELECT query_id, neighbor_id AS doc, rank AS r_bm
        FROM ({ORACLES["bm25_topk"]})
    ), ql AS (
        SELECT query_id, neighbor_id AS doc, rank AS r_ql
        FROM ({ORACLES["ql_dirichlet_topk"]})
    ), both_ AS (
        SELECT * FROM bm JOIN ql USING (query_id, doc)
    ), depths(k, w) AS (VALUES {", ".join(
        f"({k}, CAST({w!r} AS DOUBLE))" for k, w in _RBO_W)}),
    terms AS (
        SELECT b.query_id, d.k, d.w,
               CAST(count(*) AS BIGINT) AS ov
        FROM both_ b CROSS JOIN depths d
        WHERE b.r_bm <= d.k AND b.r_ql <= d.k
        GROUP BY 1, 2, 3
    ), per_q AS (
        SELECT query_id,
               round(sum(CAST(round(w * ov / CAST(k AS DOUBLE) * 1e9,
                                    0) AS BIGINT)) / 1e9, 6) AS rbo,
               max(CASE WHEN k = 10 THEN ov END) AS overlap_at_10
        FROM terms GROUP BY 1
    )
    SELECT q.query_id,
           coalesce(p.rbo, 0.0) AS rbo,
           CAST(coalesce(p.overlap_at_10, 0) AS BIGINT)
               AS overlap_at_10
    FROM (SELECT DISTINCT query_id FROM bm) q
    LEFT JOIN per_q p USING (query_id)
    ORDER BY q.query_id
"""
