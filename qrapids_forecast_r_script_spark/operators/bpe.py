"""BPE merge induction over ``documents`` — the tokenizer-training step
of a training-data pipeline (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units"), run as unrolled rounded
rounds so the whole trainer carries an exact DuckDB oracle (the same
unroll trick as ``similarity.ivf_kmeans_topk``'s Lloyd rounds and
``graph.doc_graph_pagerank``'s power iterations).

Algorithm per round, exactly the reference BPE trainer:

1. count adjacent symbol pairs across the word vocabulary, weighted by
   word frequency;
2. pick the most frequent pair (count desc, then lexicographic — a
   total order, so the winner is deterministic);
3. replace its occurrences left-to-right, non-overlapping, in every
   word's symbol sequence.

Step 3 is the part folklore says needs imperative code: greedy
left-to-right merging is sequential.  It is expressible relationally
because overlaps only arise when the pair is (x, x): matches at
non-adjacent positions never interact, and a RUN of consecutive matches
resolves greedily to its odd offsets.  So: flag matches, group
consecutive matches into runs (pos − running-match-count), merge the
odd offsets within each run, drop the absorbed right neighbors
(lag of the merge flag), and re-index.  Four window passes per round,
all partitioned by word.

100 TB shape: the corpus-proportional work is ONE tokenize + word-count
aggregate (map-side partial).  Everything after runs on the DISTINCT
word vocabulary — bounded by language, not corpus (the standard trainer
optimization: merge within word types, weight by frequency).  Each
round's top pair is a broadcast single row.  Rounds are inherently
sequential (each merge conditions the next count) — vocab size is the
scale knob, identical to any production BPE trainer; 3 unrolled rounds
are the oracle-able correctness anchor for the loop body.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources import load_table

_BPE_ROUNDS = 3


def _word_table(docs: DataFrame) -> DataFrame:
    toks = docs.select(F.explode(F.split("text", " ")).alias("word"))
    return (toks.where(F.length("word") > 0)
            .groupBy("word").agg(F.count(F.lit(1)).alias("wf")))


def _char_syms(words: DataFrame) -> DataFrame:
    """(word, wf, pos, sym): the initial character-level symbol rows.

    ``regexp_extract_all(word, '(?s).')`` yields CODE POINTS (Java
    regex ``.`` never splits a surrogate pair), matching DuckDB's
    character indexing ``word[i]`` — a zero-width-lookahead ``split``
    would instead emit two surrogate-half "symbols" per astral-plane
    character and silently diverge from the oracle on emoji/rare-CJK
    words.  pos is 1-based to match the oracle's generate_series."""
    return (words.select(
        "word", "wf",
        F.posexplode(F.expr("regexp_extract_all(word, '(?s).', 0)"))
        .alias("pos0", "sym"))
        .select("word", "wf", (F.col("pos0") + 1).alias("pos"), "sym"))


def _bpe_round(syms: DataFrame, rank: int) -> tuple[DataFrame, DataFrame]:
    """One merge round: returns (next symbol table, 1-row merge rule)."""
    w = Window.partitionBy("word").orderBy("pos")
    paired = syms.withColumn("nxt", F.lead("sym").over(w))
    counts = (paired.where(F.col("nxt").isNotNull())
              .groupBy("sym", "nxt").agg(F.sum("wf").alias("pair_count")))
    top = (counts.orderBy(F.col("pair_count").desc(), F.col("sym").asc(),
                          F.col("nxt").asc())
           .limit(1)
           .select(F.col("sym").alias("ta"), F.col("nxt").alias("tb"),
                   "pair_count"))
    j = (paired.crossJoin(F.broadcast(top))
         .withColumn("m", ((F.col("sym") == F.col("ta"))
                           & (F.col("nxt") == F.col("tb"))).cast("int"))
         .withColumn("mrn", F.sum("m").over(w))
         .withColumn("grp", F.when(F.col("m") == 1,
                                   F.col("pos") - F.col("mrn")))
         .withColumn("ofs", F.row_number().over(
             Window.partitionBy("word", "grp").orderBy("pos")))
         .withColumn("do_merge", (F.col("m") == 1)
                     & (F.col("ofs") % 2 == 1))
         .withColumn("absorbed",
                     F.coalesce(F.lag("do_merge").over(w), F.lit(False))))
    nxt_syms = (j.where(~F.col("absorbed"))
                .select("word", "wf",
                        F.row_number().over(w).alias("pos"),
                        F.when(F.col("do_merge"),
                               F.concat("sym", "nxt"))
                        .otherwise(F.col("sym")).alias("sym")))
    rule = top.select(F.lit(rank).alias("merge_rank"),
                      F.col("ta").alias("left_sym"),
                      F.col("tb").alias("right_sym"), "pair_count")
    return nxt_syms, rule


def bpe_merge_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first 3 BPE merges learned from the corpus — (rank, left,
    right, weighted pair count) — with each round's merge applied
    greedily left-to-right before the next count, exactly the Sennrich
    trainer semantics."""
    docs = load_table(spark, sf_dir, "documents")
    # localCheckpoint the initial symbol table: it is VOCAB-bounded
    # (distinct words × chars), and every round's top-pair broadcast
    # plus the final union would otherwise re-run the corpus tokenize
    # in its lineage (the ivf_kmeans_topk normed-vector precedent)
    syms = _char_syms(_word_table(docs)).localCheckpoint()
    rules = []
    for r in range(1, _BPE_ROUNDS + 1):
        syms, rule = _bpe_round(syms, r)
        # r9 (guide §2.4): each round references its input symbol table
        # twice (pair-count/top broadcast + the merge rewrite), so the
        # uncut round chain re-executed earlier rounds ~2^k times —
        # one vocab-bounded cut per round keeps it linear (the last
        # round's table feeds nothing here, so no cut after it)
        if r < _BPE_ROUNDS:
            syms = syms.localCheckpoint()
        rules.append(rule)
    out = rules[0]
    for r in rules[1:]:
        out = out.unionAll(r)
    return out


def _round_sql(r: int) -> str:
    """SQL for merge round r: syms{r-1} -> top{r}, syms{r}."""
    i, o = r - 1, r
    return f"""
    , paired{o} AS (
        SELECT word, wf, pos, sym,
               lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
        FROM syms{i}
    ), top{o} AS (
        SELECT sym AS ta, nxt AS tb,
               CAST(sum(wf) AS BIGINT) AS pair_count
        FROM paired{o} WHERE nxt IS NOT NULL
        GROUP BY sym, nxt
        ORDER BY pair_count DESC, ta ASC, tb ASC
        LIMIT 1
    ), flag{o} AS (
        SELECT p.*, t.ta, t.tb,
               CASE WHEN p.sym = t.ta AND p.nxt = t.tb THEN 1 ELSE 0 END
                   AS m
        FROM paired{o} p CROSS JOIN top{o} t
    ), runs{o} AS (
        SELECT *,
               pos - sum(m) OVER (PARTITION BY word ORDER BY pos) AS grp0
        FROM flag{o}
    ), ofs{o} AS (
        SELECT *,
               -- run id = grp0 (pos minus running match count): constant
               -- across a run of CONSECUTIVE matches.  NOT pos - grp0,
               -- which equals the running count itself and would give
               -- every match its own partition (ofs always 1 => every
               -- overlapping (x,x) match merges — wrong greedy
               -- semantics; caught by review against the 'aaaa' fixture)
               row_number() OVER (
                   PARTITION BY word,
                       CASE WHEN m = 1 THEN grp0 ELSE NULL END
                   ORDER BY pos) AS ofs
        FROM runs{o}
    ), dm{o} AS (
        SELECT *, (m = 1 AND ofs % 2 = 1) AS do_merge
        FROM ofs{o}
    ), ab{o} AS (
        SELECT *, coalesce(lag(do_merge)
                   OVER (PARTITION BY word ORDER BY pos), false)
                   AS absorbed
        FROM dm{o}
    ), syms{o} AS (
        SELECT word, wf,
               row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
               CASE WHEN do_merge THEN sym || nxt ELSE sym END AS sym
        FROM ab{o} WHERE NOT absorbed
    )"""


def _bpe_oracle_sql() -> str:
    body = "".join(_round_sql(r) for r in range(1, _BPE_ROUNDS + 1))
    rules = "\n    UNION ALL\n".join(
        f"    SELECT {r} AS merge_rank, ta AS left_sym, tb AS right_sym, "
        f"pair_count FROM top{r}" for r in range(1, _BPE_ROUNDS + 1))
    return f"""
    WITH words AS (
        SELECT word, count(*) AS wf FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE length(word) > 0 GROUP BY word
    ), syms0 AS (
        SELECT word, wf, i AS pos, word[i] AS sym
        FROM words, LATERAL (SELECT unnest(generate_series(1,
                             length(word))) AS i) t
    ){body}
{rules}
    """


def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ENCODE with the trained merges (r4) — the tokenizer's
    other half: re-derive the 3 learned merge rules (identical chain to
    ``bpe_merge_rules``), apply them to the word VOCABULARY, then score
    every document: word count, character count, post-merge token
    count, and chars/token compression — the per-document statistic a
    tokenizer-aware curation pipeline feeds into length budgeting and
    quality scoring (token-level, not byte-level).

    Scale shape: encoding is VOCAB-bounded, never corpus-bounded — each
    distinct word is encoded once and the result joins back to the
    (doc, word) counts (the standard trainer/encoder optimization; the
    join's right side is the vocabulary, broadcastable).  Character
    counts come from the SAME initial symbol table the trainer uses
    (code-point semantics pinned by `_char_syms`), so both engines
    count astral-plane characters identically."""
    docs = load_table(spark, sf_dir, "documents")
    word_doc = (docs.select("doc_id",
                            F.explode(F.split("text", " ")).alias("word"))
                .where(F.length("word") > 0)
                .groupBy("doc_id", "word")
                .agg(F.count(F.lit(1)).alias("n")))
    syms0 = _char_syms(_word_table(docs)).localCheckpoint()
    chars = syms0.groupBy("word").agg(F.count(F.lit(1)).alias("n_chars_w"))
    syms = syms0
    for r in range(1, _BPE_ROUNDS + 1):
        syms, _ = _bpe_round(syms, r)
        # r9: same per-round cut as bpe_merge_rules (see its comment)
        if r < _BPE_ROUNDS:
            syms = syms.localCheckpoint()
    tok = syms.groupBy("word").agg(F.count(F.lit(1)).alias("n_tok_w"))
    enc = (word_doc
           .join(F.broadcast(chars), "word")
           .join(F.broadcast(tok), "word"))
    return (enc.groupBy("doc_id")
            .agg(F.sum("n").alias("n_words"),
                 F.sum(F.col("n_chars_w") * F.col("n")).alias("n_chars"),
                 F.sum(F.col("n_tok_w") * F.col("n")).alias("n_tokens"))
            .withColumn("compression",
                        F.round(F.col("n_chars")
                                / F.col("n_tokens").cast("double"), 6))
            .orderBy("doc_id"))


def _bpe_encode_oracle_sql() -> str:
    body = "".join(_round_sql(r) for r in range(1, _BPE_ROUNDS + 1))
    return f"""
    WITH words AS (
        SELECT word, count(*) AS wf FROM (
            SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE length(word) > 0 GROUP BY word
    ), syms0 AS (
        SELECT word, wf, i AS pos, word[i] AS sym
        FROM words, LATERAL (SELECT unnest(generate_series(1,
                             length(word))) AS i) t
    ){body}
    , chars AS (
        SELECT word, count(*) AS n_chars_w FROM syms0 GROUP BY word
    ), tok AS (
        SELECT word, count(*) AS n_tok_w FROM syms{_BPE_ROUNDS} GROUP BY word
    ), wd AS (
        SELECT doc_id, word, count(*) AS n FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents)
        WHERE length(word) > 0 GROUP BY 1, 2
    )
    SELECT wd.doc_id,
           CAST(sum(wd.n) AS BIGINT) AS n_words,
           CAST(sum(c.n_chars_w * wd.n) AS BIGINT) AS n_chars,
           CAST(sum(t.n_tok_w * wd.n) AS BIGINT) AS n_tokens,
           round(sum(c.n_chars_w * wd.n)
                 / CAST(sum(t.n_tok_w * wd.n) AS DOUBLE), 6)
               AS compression
    FROM wd JOIN chars c USING (word) JOIN tok t USING (word)
    GROUP BY wd.doc_id
    ORDER BY wd.doc_id
    """


QUERIES = {"bpe_merge_rules": bpe_merge_rules,
           "bpe_encode_docs": bpe_encode_docs}
ORACLES = {"bpe_merge_rules": _bpe_oracle_sql(),
           "bpe_encode_docs": _bpe_encode_oracle_sql()}


def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Tokenizer FERTILITY profile per language (Ács 2019 /
    Rust et al. 2021's multilingual-tokenizer fairness metric):
    tokens-per-word and chars-per-token under the corpus-trained BPE
    merges, aggregated per language — a tokenizer trained on an
    English-heavy mix fragments other languages into more tokens per
    word, silently taxing their effective context length and compute
    share; this table is the input that pushes a mixture designer
    back toward `temperature_mixture_sample` / `doremi_domain_weights`
    with a tokenizer-aware correction.

    Exactness: all sums are the encoder's exact integer word / char /
    token counts; ratios are single divisions.  Scale: rides the
    vocab-bounded encode (`bpe_encode_docs`) plus one per-language
    aggregate over doc-count rows."""
    enc = bpe_encode_docs(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang")
    g = (enc.join(docs, "doc_id")
         .groupBy("lang")
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum("n_words").alias("n_words"),
              F.sum("n_chars").alias("n_chars"),
              F.sum("n_tokens").alias("n_tokens")))
    return (g.select("lang", "n_docs", "n_words", "n_chars", "n_tokens",
                     F.round(F.col("n_tokens").cast("double")
                             / F.col("n_words").cast("double"), 6)
                     .alias("fertility"),
                     F.round(F.col("n_chars").cast("double")
                             / F.col("n_tokens").cast("double"), 6)
                     .alias("chars_per_token"))
            .orderBy("lang"))


ORACLES["tokenizer_fertility_by_lang"] = f"""
    WITH enc AS ({ORACLES["bpe_encode_docs"]})
    SELECT d.lang, count(*) AS n_docs,
           CAST(sum(e.n_words) AS BIGINT) AS n_words,
           CAST(sum(e.n_chars) AS BIGINT) AS n_chars,
           CAST(sum(e.n_tokens) AS BIGINT) AS n_tokens,
           round(CAST(sum(e.n_tokens) AS DOUBLE)
                 / CAST(sum(e.n_words) AS DOUBLE), 6) AS fertility,
           round(CAST(sum(e.n_chars) AS DOUBLE)
                 / CAST(sum(e.n_tokens) AS DOUBLE), 6)
               AS chars_per_token
    FROM enc e JOIN documents d USING (doc_id)
    GROUP BY 1 ORDER BY 1
"""
QUERIES["tokenizer_fertility_by_lang"] = tokenizer_fertility_by_lang
