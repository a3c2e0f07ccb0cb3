"""Lexical relevance ranking for training-data pipelines: BM25 scoring
and corpus vocabulary / document-frequency statistics.

Two plans, two scale regimes:

- **Fixed query set** (``bm25_topk``): term-at-a-time scoring as pure
  column expressions — per-document term frequencies via
  ``size(filter(tokens, t == term))`` on the token array, corpus
  statistics (N, avgdl, per-term document frequencies) as ONE global
  aggregate broadcast back with ``crossJoin(broadcast(...))``.  No
  explode, no per-token shuffle: at 100 TB this scans the corpus twice
  (once for stats, once for scoring) with only a single-row exchange
  between, and TakeOrderedAndProject caps the result.  The score is a
  fixed-order arithmetic expression over exact integer term frequencies,
  so the resulting double is bit-identical across engines (summation
  order never varies — SURVEY.md §8 float discipline).

- **Whole-vocabulary statistics** (``vocab_df``): the general path a real
  indexer takes — ``explode`` the token array, ``groupBy(token)``, count
  rows (collection frequency) and distinct docs (document frequency).
  The shuffle key is the token; partial aggregation (map-side combine)
  means the exchange carries one row per (partition, token), not one per
  occurrence.  Skewed head tokens ("the") are exactly the AQE
  skew-split case; counts stay exact integers.

BM25 constants are the textbook k1=1.2, b=0.75 (Robertson/Sparck Jones);
idf is the +1-smoothed variant ``ln((N - df + 0.5)/(df + 0.5) + 1)`` so
it is never negative.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..regime import local_frame
from ..sources.files import load_table

__all__ = ["bm25_topk", "bm25_topk_multi", "vocab_df"]

_K1 = 1.2
_B = 0.75

# deterministic demo query for the gate; any list of terms works
_QUERY_TERMS = ["spark", "join", "window"]


def _tf_expr(toks: Column, term: str) -> Column:
    """Per-document term frequency over a token-array column.  NB:
    pyspark binds a Column to EVERY lambda parameter (a default arg
    would receive the element index) — capture via closure."""
    return F.size(F.filter(toks, lambda t: t == F.lit(term)))


def _bm25_term_contrib(tf: Column, df: Column) -> Column:
    """ONE query term's BM25 contribution — the per-term factor of the
    single-sourced score (r12 review made the SCORE single-sourced; the
    r13 wide-topic engine needs the TERM, because it materializes each
    (qid, term, doc) contribution as a row and folds them in term order
    instead of unrolling the sum into one projection).  ``dl`` /
    ``n_docs`` / ``avgdl`` are read by their canonical names; the float
    expression is character-identical to the oracle's SQL term, so both
    the unrolled and the row-wise fold reproduce the same bits."""
    idf = F.log((F.col("n_docs") - df + 0.5) / (df + 0.5) + 1.0)
    norm = tf + _K1 * (1.0 - _B + _B * F.col("dl") / F.col("avgdl"))
    return idf * (tf * (_K1 + 1.0)) / norm


def _bm25_score(tf_col, df_col, n_terms: int) -> Column:
    """THE BM25 score expression — the single source for every scorer
    in this module (bm25_topk, boolean_and_topk, the batched eval
    engine), so the cross-engine bit-parity claim rests on one float
    expression instead of hand-synchronized copies (r12 review).

    ``tf_col(i)`` / ``df_col(i)`` name the i-th term's frequency /
    document-frequency columns; ``dl``/``n_docs``/``avgdl`` are read by
    their canonical names.  The fold is seeded with lit(0.0) and adds
    terms in query order — summation order is part of the contract
    (zero-tf terms contribute an exact +0.0, so the wide engine may
    skip them without moving a bit)."""
    score = F.lit(0.0)
    for i in range(n_terms):
        score = score + _bm25_term_contrib(tf_col(i), df_col(i))
    return score


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents by BM25 relevance to ``query_terms``.

    Plan shape: per-doc term frequencies and length are array expressions
    fused into the scan; corpus stats are one broadcast single-row
    aggregate; the ranking compiles to TakeOrderedAndProject.
    """
    toks = F.split(F.col(text_col), " ")
    tf_cols = [
        _tf_expr(toks, term).alias(f"tf_{i}")
        for i, term in enumerate(query_terms)
    ]
    base = docs.select(F.col(id_col), F.size(toks).alias("dl"), *tf_cols)

    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )

    scored = base.crossJoin(broadcast(stats))
    score = _bm25_score(
        lambda i: F.col(f"tf_{i}"), lambda i: F.col(f"df_{i}"), len(query_terms)
    )
    return (
        scored.select(
            F.col(id_col),
            F.col("dl"),
            # floor, not round: display-rounding must not sit on a tie
            (F.floor(score * 10000) / 10000.0).alias("bm25"),
        )
        .filter(F.col("bm25") > 0.0)
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def vocab_df(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary statistics: per-token document frequency and
    collection frequency — the explode + groupBy(token) indexer path."""
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    return toks.groupBy("token").agg(
        F.count_distinct(F.col(id_col)).alias("df"),
        F.count(F.lit(1)).alias("cf"),
    )


# ---------------------------------------------------------------------------
# correctness-gate queries
# ---------------------------------------------------------------------------


def bm25_topk_multi(
    docs: DataFrame,
    term_lists: list[list[str]],
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents per query for MANY queries in one pass:
    (qid, id, bm25, rank) — the batch-labeling face of the data-driven
    scorer behind the wide-topic eval engine (r13).  Per query qid, the
    result rows are exactly :func:`bm25_topk`'s (same floored score,
    same (score desc, id asc) tie-break, same > 0.0 cut) — this is the
    API a training-data pipeline uses to tag a corpus against hundreds
    of topic queries without hundreds of corpus scans: ONE token
    explode against a broadcast (qid, term) table, plan width constant
    in |queries|, per-qid top-k via the group-limited window (each
    input partition forwards ≤k rows per qid before the exchange).

    Lifetime contract (the persist-with-lineage barrier,
    ``sampling._unpersist_on_gc``): act on the RETURNED frame directly
    (``collect``/``write``/``toPandas``).  Chaining a transformation
    first (``bm25_topk_multi(...).filter(...).collect()``) drops the
    wrapper the cache is anchored to and releases the barrier before
    the action runs — results stay correct (full lineage; Spark
    recomputes the explode), only the one-pass speed contract is lost.
    """
    scored, _grades, caches = _wide_bm25_scores(
        docs, term_lists, text_col, id_col, with_grades=False
    )
    w = Window.partitionBy("qid").orderBy(F.desc("bm25"), F.asc(id_col))
    out = (
        scored.filter(F.col("bm25") > 0.0)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", id_col, "bm25", "rank")
    )
    return _anchor_caches(out, *caches)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return bm25_topk(d, _QUERY_TERMS, k=20)


def _sql_bm25(k: int = 20, terms: list[str] | None = None) -> str:
    terms = _QUERY_TERMS if terms is None else terms
    tf = {
        i: f"len(list_filter(string_split(text, ' '), t -> t = '{term}'))"
        for i, term in enumerate(terms)
    }
    score_terms = " + ".join(
        f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        f" * (tf_{i} * ({_K1} + 1.0))"
        f" / (tf_{i} + {_K1} * (1.0 - {_B} + {_B} * dl / avgdl))"
        for i in range(len(terms))
    )
    tf_select = ", ".join(f"{e} AS tf_{i}" for i, e in tf.items())
    df_select = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    return f"""
WITH base AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl, {tf_select}
  FROM documents
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl, {df_select} FROM base
)
SELECT doc_id, dl, floor((0.0 + {score_terms}) * 10000) / 10000.0 AS bm25
FROM base CROSS JOIN stats
WHERE floor((0.0 + {score_terms}) * 10000) / 10000.0 > 0.0
ORDER BY bm25 DESC, doc_id ASC
LIMIT {k}
"""


def q_vocab_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        vocab_df(d)
        .orderBy(F.desc("df"), F.desc("cf"), F.asc("token"))
        .limit(50)
    )


SQL_VOCAB_DF = """
SELECT token, count(DISTINCT doc_id) AS df, count(*) AS cf
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token
ORDER BY df DESC, cf DESC, token ASC
LIMIT 50
"""


QUERIES = {
    "text_bm25_topk": (q_bm25_topk, _sql_bm25()),
    "text_vocab_df": (q_vocab_df, SQL_VOCAB_DF),
}


# ---------------------------------------------------------------------------
# Per-document TF-IDF keyword extraction: the sparse-feature / tagging op.
# tf from ONE token explode + groupBy(doc, token); idf = ln((N+1)/(df+1))
# joined in SHUFFLE-KEYED ON THE TOKEN (both sides are corpus-sized at
# 100 TB — same discipline as the bigram-LM join; the vocab frame is NOT
# broadcast because a web-scale vocabulary isn't broadcastable).  Top-k
# per doc via window row_number with a full deterministic tie-break.
# N (total docs) is the only scalar and rides in via a 1-row cross join.
# ---------------------------------------------------------------------------

KEYWORDS_K = 3


def tfidf_keywords(
    docs: DataFrame, k: int = KEYWORDS_K,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    tf = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    # df via count() over (partition by token) on tf — tf is one row per
    # (doc, token), so the per-token window count IS the distinct-doc
    # count, computed on the exchange the df join would have needed
    # anyway.  The r13 form (a second groupBy on tf joined back) relied
    # on runtime exchange reuse that in fact never fires: the df branch's
    # partial agg prunes the tf count, its exchange no longer
    # canonicalizes with the scoring branch's, and the whole token
    # explode ran twice (measured in the AQE final plan).  The window
    # removes the duplicated fan-out, the df aggregate, and the join
    # outright (guide §2.4).
    # SKEW CLIFF (ADVICE r14, same trade as lm_score's c_bi window): tf
    # is per (doc, token), so one stop-word's window partition holds a
    # row for ~every doc containing it, in ONE WindowExec task that
    # neither map-side combine nor AQE skew-join splitting can shrink.
    # Fine here (the window rides the exchange the scorer needs anyway
    # and the bench corpus has no degenerate token); on a Zipfian corpus
    # prefer the agg+join form (skew-safe both sides) and pay the second
    # fan-out — the two forms are value-identical.
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    w_df = Window.partitionBy("token")
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(w_df))
        .crossJoin(broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "token", F.round("score", 4).alias("score"))
    )


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return tfidf_keywords(d)


SQL_TFIDF_KEYWORDS = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
), dfreq AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY token
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.token,
         tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) AS score
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
), ranked AS (
  SELECT doc_id, token, score,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY score DESC, token ASC
         ) AS rank
  FROM scored
)
SELECT doc_id, rank, token, round(score, 4) AS score
FROM ranked WHERE rank <= {KEYWORDS_K}
"""

QUERIES["text_tfidf_keywords"] = (q_tfidf_keywords, SQL_TFIDF_KEYWORDS)


# ---------------------------------------------------------------------------
# Conjunctive boolean search: AND semantics over the same scoring base
# ---------------------------------------------------------------------------


def boolean_and_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents containing EVERY query term, ranked by BM25 —
    the conjunctive retrieval mode (`spark AND join AND window`).

    Same fused-scan term-frequency base and broadcast corpus stats as
    :func:`bm25_topk`; the AND constraint is one more pushed-down
    predicate, so the plan difference between disjunctive and
    conjunctive retrieval is exactly a filter — no inverted-index
    intersection pass.  (An index-backed engine intersects posting
    lists; the scan-based equivalent at 100 TB is this predicate over a
    column-pruned scan, with the digest-bucketed layout doing the file
    pruning.)"""
    toks = F.split(F.col(text_col), " ")
    tf_cols = [
        _tf_expr(toks, term).alias(f"tf_{i}")
        for i, term in enumerate(query_terms)
    ]
    base = docs.select(F.col(id_col), F.size(toks).alias("dl"), *tf_cols)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query_terms))
        ],
    )
    conj = base
    for i in range(len(query_terms)):
        conj = conj.filter(F.col(f"tf_{i}") > 0)
    scored = conj.crossJoin(broadcast(stats))
    score = _bm25_score(
        lambda i: F.col(f"tf_{i}"), lambda i: F.col(f"df_{i}"), len(query_terms)
    )
    return (
        scored.select(
            F.col(id_col),
            F.col("dl"),
            (F.floor(score * 10000) / 10000.0).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def q_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return boolean_and_topk(d, _QUERY_TERMS[:2], k=20)


def _sql_boolean_search() -> str:
    terms = _QUERY_TERMS[:2]
    tf = {
        i: f"len(list_filter(string_split(text, ' '), t -> t = '{term}'))"
        for i, term in enumerate(terms)
    }
    score_terms = " + ".join(
        f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        f" * (tf_{i} * ({_K1} + 1.0))"
        f" / (tf_{i} + {_K1} * (1.0 - {_B} + {_B} * dl / avgdl))"
        for i in range(len(terms))
    )
    tf_select = ", ".join(f"{e} AS tf_{i}" for i, e in tf.items())
    df_select = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    conj = " AND ".join(f"tf_{i} > 0" for i in range(len(terms)))
    return f"""
WITH base AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl, {tf_select}
  FROM documents
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl, {df_select} FROM base
)
SELECT doc_id, dl, floor((0.0 + {score_terms}) * 10000) / 10000.0 AS bm25
FROM base CROSS JOIN stats
WHERE {conj}
ORDER BY bm25 DESC, doc_id ASC
LIMIT 20
"""


QUERIES["text_boolean_search"] = (q_boolean_search, _sql_boolean_search())


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion (RRF) of the lexical (BM25) and
# dense (embedding-cosine) rankings — the standard two-tower + keyword
# fusion a retrieval-augmented pipeline runs over a curated corpus.
#
# Scale shape: each ranker independently reduces the corpus to a BOUNDED
# candidate pool (TakeOrderedAndProject for BM25, broadcast-query knn for
# the dense side), so the fusion join touches <= 2*pool rows no matter the
# corpus size — the heavy work stays in the two corpus scans, which are
# each the already-audited scale plans (`bm25_topk`, `knn_bruteforce`).
# RRF itself (Cormack/Clarke/Buettcher 2009: score = sum 1/(k0 + rank))
# is rank-only, so the fused score is an exact arithmetic function of two
# integer ranks — bit-identical across engines, no float-accumulation
# order to pin.
# ---------------------------------------------------------------------------

RRF_K0 = 60      # the standard fusion constant from the RRF paper
RRF_POOL = 50    # per-ranker candidate pool fed into the fusion
RRF_FINAL = 20   # fused top-k returned
RRF_QUERY_VEC = 0  # gate query: the embedding of vec 0 as the dense query


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    query_vec_id: int = RRF_QUERY_VEC,
    pool: int = RRF_POOL,
    k: int = RRF_FINAL,
    k0: int = RRF_K0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fused top-k over a lexical BM25 ranking and a dense cosine ranking.

    Documents appearing in only one pool score with the other term
    absent (standard RRF semantics — a full outer join over the two
    rank lists, coalescing the missing reciprocal to 0).  Ties on the
    fused score (possible when two docs hold the same rank in opposite
    single lists) break on doc id, so the LIMIT boundary is
    deterministic on both engines.

    The served order is PUBLISHED as an explicit ``rank`` column
    (row_number over the unfloored fused score, doc-id tie-break) so
    downstream consumers — the offline eval above all — grade exactly
    the ordering this ranker serves instead of re-deriving it from the
    1e-6-floored display score (ADVICE r10: raw scores closer than the
    display resolution could re-order under a floored re-rank).
    ``text_col``/``id_col`` rename the lexical side end-to-end; the
    dense side always reads (vec_id, embedding) and its neighbor ids
    surface under ``id_col``.
    """
    from .similarity import knn_bruteforce

    lex_pool = bm25_topk(
        docs, query_terms, k=pool, text_col=text_col, id_col=id_col
    ).select(id_col, "bm25")
    # the pool is <= `pool` rows post-TakeOrdered, so the unpartitioned
    # rank window moves a bounded frame to one task — not corpus-shaped
    wl = Window.orderBy(F.desc("bm25"), F.asc(id_col))
    lex = lex_pool.withColumn("lex_rank", F.row_number().over(wl)).select(
        id_col, "lex_rank"
    )
    dense = knn_bruteforce(
        emb, emb.filter(F.col("vec_id") == query_vec_id), k=pool
    ).select(F.col("neighbor_id").alias(id_col), F.col("rank").alias("vec_rank"))
    fused = lex.join(dense, id_col, "full_outer")
    rrf_raw = F.coalesce(
        F.lit(1.0) / (F.lit(k0) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("vec_rank")), F.lit(0.0))
    wr = Window.orderBy(F.desc("rrf_raw"), F.asc(id_col))
    return (
        fused.withColumn("rrf_raw", rrf_raw)
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .orderBy("rank")
        .select(
            id_col,
            "lex_rank",
            "vec_rank",
            (F.floor(F.col("rrf_raw") * 1000000) / 1000000.0).alias("rrf"),
            "rank",
        )
    )


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return hybrid_rrf_topk(d, e, _QUERY_TERMS)


def _sql_hybrid_rrf(
    terms: list[str] | None = None,
    vec_id: int = RRF_QUERY_VEC,
    pool: int = RRF_POOL,
    final: int = RRF_FINAL,
) -> str:
    """DuckDB mirror of :func:`hybrid_rrf_topk` — ``pool``/``final``
    mirror the Python signature (ADVICE r11: the eval oracles forward
    ``k`` to the Spark ranker, so a hard-coded LIMIT here would diverge
    for cutoffs above RRF_FINAL)."""
    from .similarity import _DUCK_COS

    terms = _QUERY_TERMS if terms is None else terms
    tf = {
        i: f"len(list_filter(string_split(text, ' '), t -> t = '{term}'))"
        for i, term in enumerate(terms)
    }
    score_terms = " + ".join(
        f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        f" * (tf_{i} * ({_K1} + 1.0))"
        f" / (tf_{i} + {_K1} * (1.0 - {_B} + {_B} * dl / avgdl))"
        for i in range(len(terms))
    )
    tf_select = ", ".join(f"{e} AS tf_{i}" for i, e in tf.items())
    df_select = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    return f"""
WITH base AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl, {tf_select}
  FROM documents
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl, {df_select} FROM base
), lexpool AS (
  SELECT doc_id, floor((0.0 + {score_terms}) * 10000) / 10000.0 AS bm25
  FROM base CROSS JOIN stats
  WHERE floor((0.0 + {score_terms}) * 10000) / 10000.0 > 0.0
  ORDER BY bm25 DESC, doc_id ASC
  LIMIT {pool}
), lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS lex_rank
  FROM lexpool
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
), dense AS (
  SELECT neighbor_id AS doc_id, rank AS vec_rank FROM (
    SELECT a.vec_id AS neighbor_id,
           row_number() OVER (ORDER BY {_DUCK_COS} DESC, a.vec_id ASC) AS rank
    FROM e a JOIN e b ON b.vec_id = {vec_id} AND a.vec_id <> b.vec_id
  ) WHERE rank <= {pool}
), fused AS (
  SELECT doc_id, lex_rank, vec_rank,
         coalesce(1.0::DOUBLE / ({RRF_K0} + lex_rank), 0.0)
         + coalesce(1.0::DOUBLE / ({RRF_K0} + vec_rank), 0.0) AS rrf_raw
  FROM lex FULL OUTER JOIN dense USING (doc_id)
)
SELECT doc_id, lex_rank, vec_rank,
       floor(rrf_raw * 1000000) / 1000000.0 AS rrf,
       row_number() OVER (ORDER BY rrf_raw DESC, doc_id ASC) AS rank
FROM fused
QUALIFY rank <= {final}
ORDER BY rank
"""


QUERIES["search_hybrid_rrf"] = (q_hybrid_rrf, _sql_hybrid_rrf())


# ---------------------------------------------------------------------------
# Cross-encoder-style reranking over the hybrid-RRF pool (VERDICT r8 #5b).
#
# A production retrieval stack reranks the fused candidate pool with a
# model that sees query and document JOINTLY (a cross-encoder) — expensive
# per pair, so it only ever runs over the bounded pool the cheap rankers
# produced.  No model runs in this engine; the scorer is a deterministic
# stand-in with the same *interaction structure* a cross-encoder exploits
# (and the same plan shape a model-backed Pandas-UDF scorer would have):
#
#   - term coverage        |{q terms present in d}| / |q|
#   - match density        sum tf_i / dl
#   - positional proximity 1 / (1 + min adjacent-term first-position gap)
#     (joint query-document evidence no bag-of-words retriever sees)
#   - exact-phrase bonus   "t0 t1" substring hit
#   - length prior         -0.1 * ln(1 + dl)
#   - retrieval prior      10 * rrf (the fused score carried from stage 1)
#
# Scale shape: the pool is RRF_FINAL rows, broadcast into ONE corpus scan
# to fetch text (BroadcastHashJoin — the corpus side never shuffles); every
# feature is a column expression over the joined rows, and the final sort
# is over <= RRF_FINAL rows.  Swapping the arithmetic scorer for a real
# model = replacing the score expression with a Pandas-UDF column over the
# same bounded frame; nothing else in the plan changes.
# ---------------------------------------------------------------------------

CE_FINAL = 10  # reranked top-k returned


def rerank_cross_encoder(
    docs: DataFrame,
    pool: DataFrame,
    query_terms: list[str],
    k: int = CE_FINAL,
) -> DataFrame:
    """Rerank a bounded candidate ``pool`` (doc_id, rrf) with the joint
    query-document interaction score described above; returns
    (doc_id, rrf, ce_score, ce_rank) for the top ``k``."""
    # dense-side pool docs can carry NULL text (lexical candidates cannot);
    # coalesce to '' so their features are deterministic zeros on both
    # engines instead of NULL-ordering roulette at the rank boundary
    joined = docs.select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    ).join(broadcast(pool.select("doc_id", "rrf")), "doc_id")
    toks = F.split(F.col("text"), " ")
    dl = F.size(toks)
    if not query_terms:
        # zero terms would divide coverage by 0 below — fail loud at plan
        # build, not with NULL scores at runtime (ADVICE r9)
        raise ValueError("query_terms must be non-empty")
    tfs = [_tf_expr(toks, term) for term in query_terms]
    poss = [F.array_position(toks, term) for term in query_terms]
    n_terms = len(query_terms)
    coverage = (
        sum(F.when(tf > 0, 1).otherwise(0) for tf in tfs) / F.lit(float(n_terms))
    )
    density = sum(tfs, F.lit(0)) / dl
    # min first-position gap over ADJACENT query-term pairs where both
    # terms occur; no pair present -> proximity contributes 0.  A
    # single-term query has no pairs at all: min_gap is a typed NULL so
    # proximity is a deterministic 0 (ADVICE r9 — pair_dists[0] raised)
    pair_dists = [
        F.when((poss[i] > 0) & (poss[i + 1] > 0), F.abs(poss[i] - poss[i + 1]))
        for i in range(n_terms - 1)
    ]
    if not pair_dists:
        min_gap = F.lit(None).cast("double")
    elif len(pair_dists) == 1:
        min_gap = pair_dists[0]
    else:
        min_gap = F.least(*pair_dists)
    prox = F.when(min_gap.isNotNull(), F.lit(1.0) / (F.lit(1.0) + min_gap)).otherwise(
        F.lit(0.0)
    )
    phrase = F.when(
        F.locate(" ".join(query_terms[:2]), F.col("text")) > 0, F.lit(0.5)
    ).otherwise(F.lit(0.0))
    ce_raw = (
        F.lit(2.0) * coverage
        + F.lit(3.0) * density
        + prox
        + phrase
        - F.lit(0.1) * F.log(F.lit(1.0) + dl)
        + F.lit(10.0) * F.col("rrf")
    )
    scored = joined.withColumn("ce_raw", ce_raw)
    wr = Window.orderBy(F.desc("ce_raw"), F.asc("doc_id"))
    return (
        scored.withColumn("ce_rank", F.row_number().over(wr))
        .filter(F.col("ce_rank") <= k)
        .select(
            "doc_id",
            "rrf",
            (F.floor(F.col("ce_raw") * 1000000) / 1000000.0).alias("ce_score"),
            "ce_rank",
        )
    )


def q_rerank_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    pool = hybrid_rrf_topk(d, e, _QUERY_TERMS)
    return rerank_cross_encoder(d, pool, _QUERY_TERMS)


def _sql_rerank_cross(terms: list[str] | None = None) -> str:
    terms = _QUERY_TERMS if terms is None else terms
    if not terms:
        raise ValueError("query_terms must be non-empty")
    n = len(terms)
    tf_exprs = [
        f"len(list_filter(toks, t -> t = '{t}'))" for t in terms
    ]
    pos_exprs = [
        f"coalesce(list_position(toks, '{t}'), 0)" for t in terms
    ]
    coverage = (
        "("
        + " + ".join(f"CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END" for i in range(n))
        + f") / {float(n)}"
    )
    density = "(" + " + ".join(f"tf_{i}" for i in range(n)) + ") / CAST(dl AS DOUBLE)"
    pair_dists = [
        f"CASE WHEN pos_{i} > 0 AND pos_{i+1} > 0"
        f" THEN abs(pos_{i} - pos_{i+1}) END"
        for i in range(n - 1)
    ]
    # single-term mirror of the Spark guard: no adjacent pairs -> NULL
    # min_gap -> proximity 0 (zero-arg least() is a parse error)
    min_gap = (
        "least(" + ", ".join(pair_dists) + ")"
        if pair_dists
        else "CAST(NULL AS DOUBLE)"
    )
    phrase = (
        f"CASE WHEN strpos(text, '{' '.join(terms[:2])}') > 0"
        " THEN 0.5 ELSE 0.0 END"
    )
    return f"""
WITH pool AS (
  SELECT doc_id, rrf FROM ({_sql_hybrid_rrf()})
), feat AS (
  SELECT d.doc_id, p.rrf, d.text,
         len(toks) AS dl,
         {", ".join(f"{e} AS tf_{i}" for i, e in enumerate(tf_exprs))},
         {", ".join(f"{e} AS pos_{i}" for i, e in enumerate(pos_exprs))}
  FROM (SELECT doc_id, coalesce(text, '') AS text,
               string_split(coalesce(text, ''), ' ') AS toks
        FROM documents) d
  JOIN pool p USING (doc_id)
), scored AS (
  SELECT doc_id, rrf,
         2.0 * ({coverage})
         + 3.0 * ({density})
         + (CASE WHEN {min_gap} IS NOT NULL
                 THEN 1.0 / (1.0 + {min_gap}) ELSE 0.0 END)
         + ({phrase})
         - 0.1 * ln(1.0 + dl)
         + 10.0 * rrf AS ce_raw
  FROM feat
)
SELECT doc_id, rrf,
       floor(ce_raw * 1000000) / 1000000.0 AS ce_score,
       row_number() OVER (ORDER BY ce_raw DESC, doc_id ASC) AS ce_rank
FROM scored
QUALIFY ce_rank <= {CE_FINAL}
"""


QUERIES["search_rerank_cross"] = (q_rerank_cross, _sql_rerank_cross())


# ---------------------------------------------------------------------------
# MMR diversification over the hybrid-RRF pool — the last stage of the
# retrieve → fuse → rerank → diversify stack a RAG/curation pipeline runs.
#
# Maximal Marginal Relevance (Carbonell & Goldstein 1998):
#   pick argmax  λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)
# greedily k times.  Relevance is the pool's fused RRF score min-max
# normalized within the pool (RRF magnitudes are ~1/k0, cosine is ~[0,1];
# normalizing puts the trade-off on one scale); similarity is embedding
# cosine rounded to 4 decimals (the engine-parity form every knn gate
# uses).  Pool docs without an embedding row (lexical-only candidates)
# have no sim edges: their max-sim coalesces to 0 — maximally diverse —
# identically on both engines.
#
# Scale shape: everything corpus-sized happened upstream (the two ranker
# scans).  rel-normalization is one single-row aggregate broadcast back;
# the pairwise sim matrix is a ≤pool² self-join of an EXPLICITLY
# broadcast ≤pool-row frame (hint survives autoBroadcastJoinThreshold=-1,
# so the nobcast sweep never sees a CartesianProduct).  The greedy loop is
# inherently sequential AND both of its inputs are bounded driver-safe
# artifacts by construction (rel ≤ pool rows, sims ≤ pool² rows), so the
# engine collects each ONCE and runs the k−1 argmax rounds in plain
# Python — 3 Spark jobs total instead of ~2 per greedy round (VERDICT r9
# #3: the per-round join+agg+orderBy+limit(1) plan was a ~4.5 s pure
# job-dispatch constant on a ≤20-row pool).  Same driver-traffic
# discipline as the k·dim Lloyd centroid memo; all scores the greedy
# compares are Spark/DuckDB-computed doubles, so engine parity is
# untouched.
# ---------------------------------------------------------------------------

MMR_K = 5        # diversified shortlist size
MMR_LAMBDA = 0.7  # relevance weight; 1-λ penalizes redundancy


def mmr_diversify(
    pool: DataFrame,
    emb: DataFrame,
    k: int = MMR_K,
    lam: float = MMR_LAMBDA,
) -> DataFrame:
    """Greedy MMR over a bounded candidate ``pool`` (doc_id, rrf) with
    ``emb`` (vec_id, embedding) supplying the diversity geometry; returns
    (doc_id, mmr_rank, mmr_score) for the k selections in pick order.
    A pool smaller than ``k`` yields as many rows as the pool holds
    (ADVICE r9 — the loop used to IndexError once every doc was chosen).

    Spark computes the two bounded frames the greedy recurrence reads
    (rel ≤ pool rows, sims ≤ pool² rows — the same numbers the DuckDB
    oracle derives, so all float parity stays engine-side); the
    recurrence itself is plain Python over those collected rows."""
    import math

    from .similarity import cosine

    spark = pool.sparkSession
    # job 1: the two corpus-ranker scans behind the pool run exactly once;
    # rel-normalization happens on the collected ≤pool rows (pure IEEE
    # double arithmetic, bit-identical in Python / Spark / DuckDB)
    pool_rows = pool.select("doc_id", "rrf").collect()
    if not pool_rows:
        return local_frame(spark, [], "doc_id long, mmr_rank int, mmr_score double")
    rrfs = [r["rrf"] for r in pool_rows]
    mn, mx = min(rrfs), max(rrfs)
    rel = {
        r["doc_id"]: 1.0 if mx == mn else (r["rrf"] - mn) / (mx - mn)
        for r in pool_rows
    }
    # job 2 (eager checkpoint): ONE embeddings scan extracts the ≤pool
    # vectors; job 3: the ≤pool² sim matrix off the checkpointed frame —
    # broadcast + explicit hint so the nobcast sweep never sees a
    # CartesianProduct, cosine rounded to 4 like every knn gate
    ids = local_frame(spark, [(i,) for i in sorted(rel)], "doc_id long")
    pe = (
        emb.join(broadcast(ids), emb.vec_id == ids.doc_id)
        .select(F.col("doc_id"), F.col("embedding"))
        .localCheckpoint(eager=True)
    )
    a, b = pe.alias("a"), pe.alias("b")
    sim_rows = (
        a.join(broadcast(b), F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 4).alias(
                "sim"
            ),
        )
        .collect()
    )
    sims: dict[tuple[int, int], float] = {
        (r["id_a"], r["id_b"]): r["sim"] for r in sim_rows
    }
    # greedy argmax, ties on doc_id ascending — identical ordering to the
    # old orderBy(desc(mmr), asc(doc_id)).limit(1) per-round plan
    first = min(rel, key=lambda d: (-rel[d], d))
    picks = [(first, lam * rel[first])]
    chosen = {first}
    om = 1.0 - lam
    while len(picks) < k and len(chosen) < len(rel):
        best_doc, best_mmr = None, None
        for d in rel:
            if d in chosen:
                continue
            max_sim = max(
                (sims[(d, s)] for s in chosen if (d, s) in sims), default=0.0
            )
            mmr = lam * rel[d] - om * max_sim
            if best_doc is None or mmr > best_mmr or (
                mmr == best_mmr and d < best_doc
            ):
                best_doc, best_mmr = d, mmr
        picks.append((best_doc, best_mmr))
        chosen.add(best_doc)

    return local_frame(
        spark,
        [
            (doc_id, i + 1, math.floor(score * 1000000) / 1000000.0)
            for i, (doc_id, score) in enumerate(picks)
        ],
        "doc_id long, mmr_rank int, mmr_score double",
    )


def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    pool = hybrid_rrf_topk(d, e, _QUERY_TERMS)
    return mmr_diversify(pool, e)


def _sql_mmr_diversify() -> str:
    lam, om = MMR_LAMBDA, 1.0 - MMR_LAMBDA
    # the greedy recurrence unrolled as k chained CTEs (k is a compile-time
    # constant): step i picks the argmax of λ·rel − (1−λ)·max-sim-to-chosen
    # over the not-yet-chosen pool, ties on doc_id — plain ANSI, no
    # recursion/LATERAL needed
    steps, prev_union = [], None
    for i in range(1, MMR_K + 1):
        if i == 1:
            steps.append(
                f"s1 AS (SELECT doc_id, {lam} * rel_norm AS mmr FROM rel"
                " ORDER BY rel_norm DESC, doc_id ASC LIMIT 1)"
            )
            prev_union = "SELECT doc_id FROM s1"
        else:
            steps.append(
                f"""s{i} AS (
  SELECT r.doc_id,
         {lam} * r.rel_norm - {om} * coalesce(
           (SELECT max(sim) FROM sims
            WHERE id_a = r.doc_id AND id_b IN ({prev_union})), 0.0) AS mmr
  FROM rel r WHERE r.doc_id NOT IN ({prev_union})
  ORDER BY mmr DESC, r.doc_id ASC LIMIT 1)"""
            )
            prev_union += f" UNION ALL SELECT doc_id FROM s{i}"
    final = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS mmr_rank, mmr FROM s{i}" for i in range(1, MMR_K + 1)
    )
    # AS MATERIALIZED: DuckDB inlines plain CTEs, so the k chained
    # greedy steps would each re-execute the whole pool pipeline
    # (measured 14 s -> 0.3 s at sf0.001)
    return f"""
WITH pool AS MATERIALIZED (
  SELECT doc_id, rrf FROM ({_sql_hybrid_rrf()})
), rel AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN max(rrf) OVER () = min(rrf) OVER () THEN 1.0
              ELSE (rrf - min(rrf) OVER ()) / (max(rrf) OVER () - min(rrf) OVER ())
         END AS rel_norm
  FROM pool
), pe AS (
  SELECT p.doc_id, e.embedding::DOUBLE[] AS ev
  FROM pool p JOIN embeddings e ON e.vec_id = p.doc_id
), sims AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(list_dot_product(a.ev, b.ev)
               / (sqrt(list_dot_product(a.ev, a.ev))
                  * sqrt(list_dot_product(b.ev, b.ev))), 4) AS sim
  FROM pe a JOIN pe b ON a.doc_id <> b.doc_id
), {", ".join(steps)}
SELECT doc_id, mmr_rank, floor(mmr * 1000000) / 1000000.0 AS mmr_score
FROM ({final})
"""


QUERIES["search_mmr_diversify"] = (q_mmr_diversify, _sql_mmr_diversify())


# ---------------------------------------------------------------------------
# Pseudo-relevance-feedback query expansion (Rocchio / RM-style): take the
# BM25 top-k_fb feedback docs, mine the m strongest co-occurring terms
# (integer tf within the feedback set, df>=2 noise floor), and re-score
# the corpus with original terms at weight 1.0 + expansion terms at 0.5.
# Completes the retrieval stack: retrieve -> fuse -> rerank -> diversify
# -> EXPAND.  Reference parity note: the reference engine has no search
# surface; this extends the ranking family a retrieval pipeline needs.
#
# 100-TB shape: the feedback pool is <=k_fb rows (broadcast into ONE
# corpus scan to mine candidates — same discipline as the reranker's
# bounded pool, ranking.py:538); the expansion term set is <=3+m rows
# (broadcast), so the re-scoring leg is one corpus token explode whose
# post-join survivor stream is <= docs x |terms| rows keyed on doc_id.
# No corpus-sized shuffle except that per-doc aggregate; nothing
# driver-side.
#
# Float discipline (SURVEY.md §8): the data-driven term set makes the
# per-doc score a SUM OVER JOINED ROWS, which would be summation-order
# dependent as a double — so each (doc, term) BM25 contribution is
# floor-scaled to 1e-4 units as int64 FIRST and the per-doc sum is an
# integer sum.  Term mining uses only integer tf/df with full
# tie-breaks.  The feedback ranking itself reuses bm25_topk's
# fixed-order float expression (already hash-verified cross-engine).
# ---------------------------------------------------------------------------

_PRF_FB_K = 10
_PRF_EXPAND_M = 3
_PRF_EXPAND_W = 0.5
_PRF_FINAL_K = 20


def query_expansion_prf(
    docs: DataFrame,
    query_terms: list[str],
    k: int = _PRF_FINAL_K,
    fb_k: int = _PRF_FB_K,
    m: int = _PRF_EXPAND_M,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` docs by BM25 over ``query_terms`` + ``m`` expansion terms
    mined from the top-``fb_k`` feedback docs (pseudo-relevance feedback).

    Returns (doc_id, n_terms, exp_score) where exp_score is the weighted
    BM25 total in 1e-4 units (int64) and n_terms the distinct matched
    query+expansion terms."""
    if not query_terms:
        raise ValueError("query_expansion_prf requires at least one term")
    spark = docs.sparkSession

    # r14 (guide §3.3 — materialize intermediates to truncate the plan):
    # the feedback pool and the mined term set are TINY bounded frames
    # (<=fb_k and <=|q|+m rows) but sit at phase boundaries referenced by
    # several consumers; un-cut, Catalyst re-inlines the whole upstream
    # bm25 pipeline per consumer (the round-open plan ran 18 corpus
    # scans, plans/r14/pre/search_query_expansion.txt). Eager
    # localCheckpoints cut them to one evaluation each; values unchanged.
    fb_ids = (
        bm25_topk(docs, query_terms, k=fb_k, text_col=text_col, id_col=id_col)
        .select(id_col)
        .localCheckpoint(eager=True)
    )

    fb_toks = (
        docs.join(F.broadcast(fb_ids), id_col)
        .select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), " ")).alias("token"),
        )
        .filter(~F.col("token").isin(query_terms))
    )
    exp_terms = (
        fb_toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf_fb"),
            F.count_distinct(F.col(id_col)).alias("df_fb"),
        )
        .filter(F.col("df_fb") >= 2)
        .orderBy(F.desc("tf_fb"), F.desc("df_fb"), F.asc("token"))
        .limit(m)
        .select("token", F.lit(_PRF_EXPAND_W).alias("w"))
    )
    orig_terms = local_frame(
        spark, [(t, 1.0) for t in query_terms], "token string, w double"
    )
    terms = orig_terms.unionByName(exp_terms).localCheckpoint(eager=True)

    toks = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).alias("dl"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    )
    per_dt = (
        toks.join(F.broadcast(terms), "token")
        .groupBy(id_col, "token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.max("dl").alias("dl"),
            F.max("w").alias("w"),
        )
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(F.split(F.col(text_col), " "))).alias("avgdl"),
    )

    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    norm = F.col("tf") + _K1 * (1.0 - _B + _B * F.col("dl") / F.col("avgdl"))
    contrib = (
        F.floor(
            F.col("w") * idf * (F.col("tf") * (_K1 + 1.0)) / norm * 10000.0
        ).cast("long")
    )
    # r14: df over a token window instead of a second aggregation joined
    # back — the df_t subtree re-ran the whole per_dt pipeline (scan +
    # explode + join + agg); count(*) over (partition by token) reads the
    # SAME per_dt rows once and yields the identical per-token row count,
    # for one narrow exchange of the survivor stream (guide §2.4).
    wdf = Window.partitionBy("token")
    return (
        per_dt.withColumn("df", F.count(F.lit(1)).over(wdf))
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), contrib.alias("c"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("c").alias("exp_score"),
        )
        .orderBy(F.desc("exp_score"), F.asc(id_col))
        .limit(k)
    )


def q_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return query_expansion_prf(d, _QUERY_TERMS)


def _sql_query_expansion() -> str:
    fb_sql = _sql_bm25(k=_PRF_FB_K)
    not_in = ", ".join(f"'{t}'" for t in _QUERY_TERMS)
    orig_values = ", ".join(f"('{t}', 1.0)" for t in _QUERY_TERMS)
    return f"""
WITH fb AS (
  SELECT doc_id FROM ({fb_sql})
),
fb_tok AS (
  SELECT d.doc_id, unnest(string_split(d.text, ' ')) AS token
  FROM documents d JOIN fb USING (doc_id)
),
exp_terms AS (
  SELECT token, {_PRF_EXPAND_W} AS w FROM (
    SELECT token, count(*) AS tf_fb, count(DISTINCT doc_id) AS df_fb
    FROM fb_tok WHERE token NOT IN ({not_in})
    GROUP BY token HAVING count(DISTINCT doc_id) >= 2
    ORDER BY tf_fb DESC, df_fb DESC, token ASC
    LIMIT {_PRF_EXPAND_M}
  )
),
terms AS (
  SELECT * FROM (VALUES {orig_values}) t(token, w)
  UNION ALL SELECT token, w FROM exp_terms
),
toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS token
  FROM documents
),
per_dt AS (
  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl, max(w) AS w
  FROM toks JOIN terms USING (token)
  GROUP BY doc_id, token
),
df_t AS (SELECT token, count(*) AS df FROM per_dt GROUP BY token),
rstats AS (
  SELECT count(*) AS n_docs, avg(len(string_split(text, ' '))) AS avgdl
  FROM documents
)
SELECT doc_id, count(*) AS n_terms, CAST(sum(c) AS BIGINT) AS exp_score
FROM (
  SELECT p.doc_id,
         CAST(floor(p.w * ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
              * (p.tf * ({_K1} + 1.0))
              / (p.tf + {_K1} * (1.0 - {_B} + {_B} * p.dl / s.avgdl))
              * 10000.0) AS BIGINT) AS c
  FROM per_dt p JOIN df_t d USING (token) CROSS JOIN rstats s
)
GROUP BY doc_id
ORDER BY exp_score DESC, doc_id ASC
LIMIT {_PRF_FINAL_K}
"""


QUERIES["search_query_expansion"] = (q_query_expansion, _sql_query_expansion())


# ---------------------------------------------------------------------------
# Offline retrieval evaluation — nDCG@k / MRR / P@k for the ranker stack.
#
# The search family covers retrieve (bm25/boolean) → fuse (RRF) → rerank
# (cross-encoder features) → diversify (MMR) → expand (PRF); what a real
# pipeline runs NEXT is offline evaluation of those rankers against a
# relevance set.  This operator computes the three standard graded/binary
# metrics (Järvelin & Kekäläinen 2002 nDCG; TREC MRR / precision@k) for
# the lexical and hybrid rankers against deterministic pseudo-qrels:
# grade(doc) = number of DISTINCT query terms the document contains
# (0..|q|) — derivable by both engines from the corpus itself, so the
# gate needs no side files.
#
# Scale shape: each ranked list is already a bounded top-k frame (the
# audited bm25 / hybrid plans); the two lists union to ≤2k rows and
# BROADCAST into ONE pass over the corpus-side grade scan (the rerank
# pattern — at 100 TB the join is map-side, no corpus shuffle).  The
# ideal ranking for IDCG is a TakeOrdered top-k by (grade desc, id asc),
# also one scan.  Metric totals: 2 corpus scans + bm25's stats scan +
# the dense ranker's one scan — all linear, nothing pairwise.
#
# Float discipline (SURVEY.md §8): each rank's DCG contribution
# (2^grade − 1)/log2(rank + 1) is floor-scaled to micro units as int64
# BEFORE summation — integer sums are order-free, so partial-aggregation
# order can never flip the hash; nDCG/MRR/precision are integer ppm.
# ---------------------------------------------------------------------------

EVAL_K = 10  # evaluation cutoff (nDCG@10 / P@10, the TREC default)

#: widest topic set the unrolled (compile-time-literal) eval engine is
#: allowed to compile: past ~50 topics the |topics|·|terms| projection
#: falls off whole-stage codegen (docs/SCALE.md "Topic-width bound").
#: Above this, :func:`_batched_eval` dispatches to the data-driven shape.
EVAL_UNROLL_MAX = 50


def _dcg_contrib_micro(grade: Column, rank: Column) -> Column:
    """floor(1e6 × (2^grade − 1)/log2(rank+1)) as int64 — the per-rank
    DCG term in micro units (grade 0 contributes exactly 0)."""
    gain = F.pow(F.lit(2.0), grade.cast("double")) - F.lit(1.0)
    return F.floor(gain / F.log2(rank.cast("double") + F.lit(1.0)) * 1000000.0).cast(
        "long"
    )


def _dense_ranks(
    spark: SparkSession,
    emb: DataFrame,
    topics: list[tuple[list[str], int]],
    pool: int,
    id_col: str,
) -> DataFrame:
    """(qid, id, vec_rank) for every topic's dense query vector — ONE
    :func:`knn_bruteforce` call over all query vectors; qid rides in via
    a broadcast (qid, vec_id) map so topics may share a query vector.
    Extracted verbatim from the r12 fused engine so the unrolled and the
    wide-topic engines compile the identical dense subtree."""
    from .similarity import _knn_scores_np

    vec_ids = sorted({vid for _t, vid in topics})
    qmap = local_frame(
        spark,
        [(qid, vid) for qid, (_t, vid) in enumerate(topics)],
        "qid int, vec_id long",
    )
    # r14: the matmul twin of knn_bruteforce (similarity._knn_scores_np)
    # — the wide gate's 60 query vectors × the corpus ran the interpreted
    # zip_with fold per pair; same rounding/tie-breaks, results pinned
    # identical at 3 SFs (guide §4.2)
    dense_raw = _knn_scores_np(
        emb, emb.filter(F.col("vec_id").isin(vec_ids)), k=pool
    )
    return (
        dense_raw.join(broadcast(qmap), dense_raw["query_id"] == qmap["vec_id"])
        .select(
            "qid",
            F.col("neighbor_id").alias(id_col),
            F.col("rank").alias("vec_rank"),
        )
    )


def _rrf_runs(
    lexranks: DataFrame, dense: DataFrame, k: int, id_col: str
) -> DataFrame:
    """Fuse the two bounded candidate pools into the per-(ranker, qid)
    run lists: (ranker, qid, id, rank), rank <= k.  RRF fusion per qid
    over <=2·pool·|Q| rows; BOTH rankers' lists derive from the ONE
    fused frame (the bm25 list is the lex_rank <= k slice — every
    lexranks row survives the full outer join), so the plan references
    the scoring subtree once instead of once per ranker.  Extracted
    verbatim from the r12 fused engine (shared by the wide engine)."""
    fused = lexranks.join(dense, ["qid", id_col], "full_outer")
    rrf_raw = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K0) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(RRF_K0) + F.col("vec_rank")), F.lit(0.0))
    wr = Window.partitionBy("qid").orderBy(F.desc("rrf_raw"), F.asc(id_col))
    return (
        fused.withColumn("rrf_raw", rrf_raw)
        .withColumn("hyb_rank", F.row_number().over(wr))
        .selectExpr(
            "qid",
            id_col,
            f"stack(2, 'bm25', CASE WHEN lex_rank <= {int(k)} THEN lex_rank END,"
            f" 'hybrid_rrf', CASE WHEN hyb_rank <= {int(k)} THEN hyb_rank END)"
            " AS (ranker, rank)",
        )
        .filter(F.col("rank").isNotNull())
    )


def _batched_eval(
    docs: DataFrame,
    emb: DataFrame,
    topics: list[tuple[list[str], int]],
    k: int = EVAL_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ALL topics' per-ranker metrics in one batched plan: (ranker, qid,
    dcg_micro, ndcg_ppm, mrr_ppm, prec_ppm) — the shared engine behind
    :func:`search_eval_ndcg` (|topics| = 1) and :func:`search_eval_macro`.

    VERDICT r11 #1 (the linear-in-topics rescan killer): the topic set is
    a compile-time literal, so every per-(qid, term) frequency, per-qid
    BM25 score, and per-qid pseudo-grade is UNROLLED into ONE fused
    documents scan — |Q| topics cost the same corpus IO as one.  Corpus
    passes, independent of |Q|:

      1. the shared stats aggregate (n_docs, avgdl, every df_{qid,term})
         — one single-row exchange, broadcast back;
      2. the scoring scan: per-doc BM25 columns for all topics, melted
         with ``stack`` to (qid, doc, bm25) rows; per-qid top-pool via a
         rank window that Spark rewrites to a map-side partial top-k
         (WindowGroupLimit: each input partition forwards ≤pool rows per
         qid, so the exchange moves candidate pools, never the corpus);
      3. one grade scan feeding the metric join (runs are ≤2k·|Q| rows,
         BROADCAST into the scan — map-side, no corpus shuffle);
      4. one grade scan for the per-qid ideal (IDCG) top-k.

    The dense side batches every topic's query vector into a single
    :func:`knn_bruteforce` call — one embeddings scan, per-qid ranks via
    the same group-limited window.  Per-topic arithmetic is EXACTLY the
    single-query expression tree (same fixed-order float sums, same
    floor scalings, same tie-breaks), so the per-topic results are
    bit-identical to the unbatched plan and the DuckDB oracle.

    TOPIC-WIDTH BOUND (VERDICT r12 #1): the unrolled projection is
    |topics|·|terms| columns wide — past ~50 topics it falls off
    whole-stage codegen (the documented cliff in docs/SCALE.md).  Above
    :data:`EVAL_UNROLL_MAX` this dispatches to :func:`_batched_eval_wide`,
    the data-driven shape (broadcast (qid, term) table, one token
    explode, ordered row-fold scoring) whose plan width is CONSTANT in
    |topics| — same metrics, bit-identical, gated at |Q| = 60 by
    ``search_eval_wide``.
    """
    if len(topics) > EVAL_UNROLL_MAX:
        return _batched_eval_wide(docs, emb, topics, k, text_col, id_col)
    spark = docs.sparkSession
    nq = len(topics)
    pool = max(RRF_POOL, k)
    toks = F.split(F.col(text_col), " ")
    tf_cols = [
        _tf_expr(toks, term).alias(f"tf_{qid}_{i}")
        for qid, (terms, _v) in enumerate(topics)
        for i, term in enumerate(terms)
    ]
    base = docs.select(F.col(id_col), F.size(toks).alias("dl"), *tf_cols)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{qid}_{i}") > 0).cast("long")).alias(
                f"df_{qid}_{i}"
            )
            for qid, (terms, _v) in enumerate(topics)
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(broadcast(stats))

    # per-qid BM25 — the SAME _bm25_score expression bm25_topk compiles,
    # over the qid-prefixed tf/df columns
    qcols = []
    for qid, (terms, _v) in enumerate(topics):
        score = _bm25_score(
            lambda i, q=qid: F.col(f"tf_{q}_{i}"),
            lambda i, q=qid: F.col(f"df_{q}_{i}"),
            len(terms),
        )
        qcols.append((F.floor(score * 10000) / 10000.0).alias(f"bm25_{qid}"))
    lex_stack = ", ".join(f"{qid}, bm25_{qid}" for qid in range(nq))
    lex_melt = scored.select(F.col(id_col), *qcols).selectExpr(
        id_col, f"stack({nq}, {lex_stack}) AS (qid, bm25)"
    )
    wl = Window.partitionBy("qid").orderBy(F.desc("bm25"), F.asc(id_col))
    lexranks = (
        lex_melt.filter(F.col("bm25") > 0.0)
        .withColumn("lex_rank", F.row_number().over(wl))
        .filter(F.col("lex_rank") <= pool)
        .select("qid", id_col, "lex_rank")
    )

    # dense ranks + RRF fusion: the shared helpers (extracted verbatim —
    # this engine's plan is unchanged by the r13 refactor)
    dense = _dense_ranks(spark, emb, topics, pool, id_col)
    runs = _rrf_runs(lexranks, dense, k, id_col)

    # pseudo-grades for every topic off one column-pruned (id, text) scan
    grade_cols = []
    for qid, (terms, _v) in enumerate(topics):
        grade = F.lit(0).cast("int")
        for term in terms:
            grade = grade + F.array_contains(toks, term).cast("int")
        grade_cols.append(grade.alias(f"grade_{qid}"))
    grade_stack = ", ".join(f"{qid}, grade_{qid}" for qid in range(nq))
    gmelt = docs.select(F.col(id_col), *grade_cols).selectExpr(
        id_col, f"stack({nq}, {grade_stack}) AS (qid, grade)"
    )

    per = (
        gmelt.join(broadcast(runs), ["qid", id_col])
        .groupBy("ranker", "qid")
        .agg(
            F.sum(_dcg_contrib_micro(F.col("grade"), F.col("rank"))).alias(
                "dcg_micro"
            ),
            F.max(
                F.when(
                    F.col("grade") > 0,
                    F.floor(F.lit(1000000.0) / F.col("rank")).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("mrr_ppm"),
            (
                F.sum((F.col("grade") > 0).cast("long")) * F.lit(1000000 // k)
            ).alias("prec_ppm"),
        )
    )

    wi = Window.partitionBy("qid").orderBy(F.desc("grade"), F.asc(id_col))
    ideal = (
        gmelt.filter(F.col("grade") > 0)
        .withColumn("rank", F.row_number().over(wi))
        .filter(F.col("rank") <= k)
        .groupBy("qid")
        .agg(
            F.sum(_dcg_contrib_micro(F.col("grade"), F.col("rank"))).alias(
                "idcg_micro"
            )
        )
    )
    # left join: a topic with zero relevant docs has no ideal row — its
    # nDCG is a typed NULL, exactly the unbatched crossJoin-null contract
    return per.join(broadcast(ideal), "qid", "left").select(
        "ranker",
        "qid",
        "dcg_micro",
        # dcg_micro ≤ ~5e7, ×1e6 stays far under 2^53: the double
        # division is exact-input on both engines before the floor
        F.floor(F.col("dcg_micro") * F.lit(1000000.0) / F.col("idcg_micro"))
        .cast("long")
        .alias("ndcg_ppm"),
        "mrr_ppm",
        "prec_ppm",
    )


def _wide_bm25_scores(
    docs: DataFrame,
    term_lists: list[list[str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    with_grades: bool = True,
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """The data-driven multi-query BM25 scorer shared by
    :func:`_batched_eval_wide` and :func:`bm25_topk_multi`:
    ``(scored, grades, caches)`` where ``scored`` is one
    (qid, id, bm25) row per document matching ≥1 of query qid's terms
    (the floored score — > 0.0 iff any term matched), ``grades`` is the
    sparse (qid, id, grade = distinct-terms-matched) frame, and
    ``caches`` are the PERSISTED frames both derive from — the caller
    owns their lifetime (anchor them on whatever frame it returns,
    :func:`_anchor_caches`).

    Topic sets are DATA here (a broadcast (qid, term_idx, term) table),
    so plan width is constant in |queries|; per-(qid, doc) scoring
    PIVOTS the term contributions into ``max(when(term_idx = j, c))``
    columns — j ranges over the MAX per-query term count (a small
    literal, never |queries|·|terms|) — and sums them in j order seeded
    0.0.  Each slot is the single-source per-term contribution computed
    once per (qid, term, doc) from exact integers, absent slots are
    NULL → an exact +0.0, so the sum is bit-identical to the unrolled
    ``_bm25_score`` fold.  Everything is plain HashAggregate /
    whole-stage codegen: the first draft's collect_list ObjectHash
    aggregate allocated per-group arrays for millions of groups and
    cold-run GC churn measured 89 s vs 35 s at a 10x replica (N=10
    ladder probe); this shape has no object aggregation at all.

    Two-level barrier: ``tf`` (one narrow row per matched (qid, term,
    doc)) is persisted so the token explode runs ONCE although tf
    feeds both the document-frequency aggregate and the contribution
    rows; the pivoted per-doc frame is persisted so ITS three consumers
    (candidate pools, metric grades, ideal ranking) replay a cache, not
    the aggregate (the dsir/qnb barrier discipline — column pruning
    specializes each reference enough that static exchange reuse never
    fires).  ``with_grades=False`` (the bm25_topk_multi path, which
    reads only ``scored``) skips the second persist level — a
    single-consumer frame gains nothing from a cache fill (r13 review)
    — and returns ``grades = None``.
    """
    if not term_lists:
        raise ValueError("term_lists must be non-empty")
    spark = docs.sparkSession
    toks = F.split(F.col(text_col), " ")

    # the query set as DATA: one broadcast row per (qid, term slot)
    tterms = local_frame(
        spark,
        [
            (qid, i, t)
            for qid, terms in enumerate(term_lists)
            for i, t in enumerate(terms)
        ],
        "qid int, term_idx int, term string",
    )

    stats = docs.select(F.size(toks).alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    # dl is PROJECTED BELOW the Generate (its own select, before the
    # explode) and carried through the agg as min() rather than as a 4th
    # grouping key: with the collapsed single-select shape, whole-stage
    # codegen inlined `size(split(text))` into the fused join/agg loop
    # and re-evaluated the full split per JOIN-OUTPUT row — measured
    # 7.5 s vs 1.5 s for the tf frame at sf0.1 (r14, guide §1/§4: keep
    # opaque recomputation out of hot codegen loops).  min(dl) over a
    # per-doc-constant column is exact, so tf's rows are unchanged.
    pre = docs.select(
        F.col(id_col), F.size(toks).alias("dl"), toks.alias("__toks")
    )
    hits = (
        pre.select(id_col, "dl", F.explode("__toks").alias("tok"))
        .join(broadcast(tterms), F.col("tok") == F.col("term"))
        .select("qid", "term_idx", id_col, "dl")
    )
    # map-side combine means the exchange carries one narrow row per
    # matched (qid, term, doc), never token occurrences
    tf = (
        hits.groupBy("qid", "term_idx", id_col)
        .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
        .persist()
    )
    df_tbl = tf.groupBy("qid", "term_idx").agg(F.count(F.lit(1)).alias("df"))

    contrib = (
        tf.join(broadcast(df_tbl), ["qid", "term_idx"])
        .crossJoin(broadcast(stats))
        .select(
            "qid",
            "term_idx",
            id_col,
            _bm25_term_contrib(F.col("tf"), F.col("df")).alias("c"),
        )
    )
    # pivot to the per-(qid, doc) grain: slot j holds term j's
    # contribution (max over a singleton = the value; absent = NULL)
    n_slots = max(len(t) for t in term_lists)
    graded_piv = contrib.groupBy("qid", id_col).agg(
        *[
            F.max(F.when(F.col("term_idx") == j, F.col("c"))).alias(f"c_{j}")
            for j in range(n_slots)
        ],
        F.count(F.lit(1)).alias("grade"),
    )
    caches = [tf]
    if with_grades:
        graded_piv = graded_piv.persist()
        caches.append(graded_piv)
    score = F.lit(0.0)
    for j in range(n_slots):
        score = score + F.coalesce(F.col(f"c_{j}"), F.lit(0.0))
    scored = graded_piv.select(
        "qid", id_col, (F.floor(score * 10000) / 10000.0).alias("bm25")
    )
    grades = (
        graded_piv.select("qid", id_col, "grade") if with_grades else None
    )
    return scored, grades, caches


def _batched_eval_wide(
    docs: DataFrame,
    emb: DataFrame,
    topics: list[tuple[list[str], int]],
    k: int = EVAL_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The DATA-DRIVEN eval engine — same contract and bit-identical
    output as :func:`_batched_eval`, but the topic set is a broadcast
    (qid, term_idx, term) TABLE instead of an unrolled projection, so
    plan width (and whole-stage codegen) is CONSTANT in |topics|.  This
    is the >:data:`EVAL_UNROLL_MAX` shape VERDICT r12 #1 asked for in
    code: a real offline eval set is 50-500 topics, and the unrolled
    engine's |topics|·|terms| column fan-out falls off codegen there.

    Plan, corpus passes (FEWER than the unrolled engine's 4):

      1. one (n_docs, avgdl) aggregate — single-row exchange, broadcast;
      2. ONE token explode joined to the broadcast term table; per
         (qid, term, doc) frequencies via hash agg (map-side combine:
         the exchange carries one narrow row per matched (qid, term,
         doc), never the corpus); per-(qid, term) document frequencies
         reduce that same frame again (tiny), broadcast back.
      3. the per-(qid, doc) score is the ORDERED sum of the per-term
         contributions, with NO object aggregation: each contribution
         is pivoted into its slot via max(when(term_idx = j, contrib))
         inside the same hash agg, then the slots are summed in fixed
         slot order (see :func:`_wide_bm25_scores`).  Terms the doc
         lacks leave their slot null → coalesce(+0.0), which is an
         exact +0.0, so the pivot reproduces the unrolled sum
         bit-for-bit (:func:`_bm25_term_contrib` is the shared single
         source).  The SAME aggregate emits the pseudo-grade (count of
         matched terms = the unrolled sum of array_contains), so grades
         cost no extra corpus pass here.
      4. per-qid candidate pools / ideal rankings via the group-limited
         windows (WindowGroupLimit: map-side partial top-k, the
         exchanges move pools); dense + RRF via the shared helpers.

    Metric join: runs is pool-bounded but GRADES ARE SPARSE here (only
    docs matching ≥1 term have a row), so runs are first restricted to
    ids that EXIST in the corpus (a pruned id-only scan with the
    pool-sized runs broadcast — the unrolled engine's inner gmelt join
    drops corpus-orphan dense neighbors, and so must this one), then
    LEFT OUTER joined to grades with grade coalesced to 0 — run rows
    for real docs with no query term keep contributing zero gain
    exactly as the unrolled engine's dense gmelt does, and a (ranker,
    qid) group exists iff the ranker produced surviving run rows for
    that qid (same output-universe rule).  Both sides of the grade join
    are narrow (ids + ranks + grade).

    Barrier: the frequency frames feed multiple consumers (df
    derivation, candidate pools, ideal ranking, metric grades), and
    column pruning specializes each reference enough that static
    exchange reuse never fires — without a barrier the token explode
    re-runs once per consumer (the dsir/qnb lesson, VERDICT r11 #2).
    :func:`_wide_bm25_scores` persist()s its two levels with FULL
    lineage; the cache entries' lifetimes are tied to the frame this
    engine ultimately hands the caller via the ``_keh_caches``
    re-anchor protocol (see :func:`search_eval_macro` — the macro fold
    chains transformations, which would drop a finalizer anchored here
    before the action runs).
    """
    spark = docs.sparkSession
    pool = max(RRF_POOL, k)
    scored, grades, caches = _wide_bm25_scores(
        docs, [terms for terms, _v in topics], text_col, id_col
    )

    wl = Window.partitionBy("qid").orderBy(F.desc("bm25"), F.asc(id_col))
    lexranks = (
        scored.filter(F.col("bm25") > 0.0)
        .withColumn("lex_rank", F.row_number().over(wl))
        .filter(F.col("lex_rank") <= pool)
        .select("qid", id_col, "lex_rank")
    )

    dense = _dense_ranks(spark, emb, topics, pool, id_col)
    runs = _rrf_runs(lexranks, dense, k, id_col)

    # Output-universe parity (r13 review #1): the unrolled engine joins
    # runs INNER against the all-docs grade scan, so a dense neighbor
    # whose id has no documents row is DROPPED from the metrics (after
    # rank assignment — ranks of surviving docs are untouched).  The
    # sparse grades frame can't distinguish "doc exists, zero terms"
    # (keep, grade 0) from "id not in the corpus" (drop), so membership
    # rides a pruned id-only corpus pass with the pool-sized runs frame
    # broadcast — output stays <= |runs|.
    runs_in_corpus = broadcast(runs).join(docs.select(F.col(id_col)), id_col)

    per = (
        runs_in_corpus.join(grades, ["qid", id_col], "left")
        .withColumn("grade", F.coalesce(F.col("grade"), F.lit(0)))
        .groupBy("ranker", "qid")
        .agg(
            F.sum(_dcg_contrib_micro(F.col("grade"), F.col("rank"))).alias(
                "dcg_micro"
            ),
            F.max(
                F.when(
                    F.col("grade") > 0,
                    F.floor(F.lit(1000000.0) / F.col("rank")).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("mrr_ppm"),
            (
                F.sum((F.col("grade") > 0).cast("long")) * F.lit(1000000 // k)
            ).alias("prec_ppm"),
        )
    )

    # ideal (IDCG): grade > 0 rows ARE the sparse grades frame
    wi = Window.partitionBy("qid").orderBy(F.desc("grade"), F.asc(id_col))
    ideal = (
        grades.withColumn("rank", F.row_number().over(wi))
        .filter(F.col("rank") <= k)
        .groupBy("qid")
        .agg(
            F.sum(_dcg_contrib_micro(F.col("grade"), F.col("rank"))).alias(
                "idcg_micro"
            )
        )
    )
    out = per.join(broadcast(ideal), "qid", "left").select(
        "ranker",
        "qid",
        "dcg_micro",
        F.floor(F.col("dcg_micro") * F.lit(1000000.0) / F.col("idcg_micro"))
        .cast("long")
        .alias("ndcg_ppm"),
        "mrr_ppm",
        "prec_ppm",
    )
    return _anchor_caches(out, *caches)


def _anchor_caches(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Tie ``cached`` frames' cache entries to ``result``'s lifetime —
    THE shared persist-with-lineage barrier helper
    (``sampling._unpersist_on_gc``, which records the caches and a
    DETACHABLE finalizer on the wrapper), so a caller that CHAINS
    transformations can move the anchor with :func:`_reanchor_caches`
    instead of silently dropping the barrier (the documented failure
    mode, ADVICE r12; single-sourced per the r13 review)."""
    from .sampling import _unpersist_on_gc

    return _unpersist_on_gc(result, *cached)


def _reanchor_caches(result: DataFrame, upstream: DataFrame) -> DataFrame:
    """Move ``upstream``'s cache anchor onto ``result`` (the frame the
    caller actually returns): detach the finalizer riding ``upstream``
    — otherwise it fires the moment the intermediate wrapper is GC'd,
    releasing the cache before the chained frame ever acts — and
    re-attach the same caches to ``result``."""
    caches = getattr(upstream, "_keh_caches", None)
    if caches:
        fin = getattr(upstream, "_keh_finalizer", None)
        if fin is not None:
            fin.detach()
        return _anchor_caches(result, *caches)
    return result


def _eval_metrics(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    query_vec_id: int = RRF_QUERY_VEC,
    k: int = EVAL_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One query's per-ranker metric frame — the |topics| = 1 face of
    :func:`_batched_eval`: (ranker, dcg_micro, ndcg_ppm, mrr_ppm,
    prec_ppm), parameterized by the query's term list AND its dense-side
    query vector."""
    return (
        _batched_eval(
            docs, emb, [(query_terms, query_vec_id)], k, text_col, id_col
        )
        .select("ranker", "dcg_micro", "ndcg_ppm", "mrr_ppm", "prec_ppm")
        .orderBy("ranker")
    )


def search_eval_ndcg(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    k: int = EVAL_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-ranker (bm25, hybrid_rrf) offline metrics at cutoff ``k``:
    (ranker, dcg_micro, ndcg_ppm, mrr_ppm, prec_ppm).

    MRR is 1e6/rank of the first relevant hit (0 when the top-k holds
    none); precision is relevant-in-top-k over k.  The lexical branch
    re-ranks bm25's bounded output by its published (floored-score,
    doc-id) order; the hybrid branch consumes the explicit ``rank``
    column the ranker itself serves (ADVICE r10) and gets ``k``
    forwarded with the pool widened alongside, so cutoffs above
    RRF_FINAL no longer truncate the hybrid list asymmetrically —
    ``text_col``/``id_col`` now reach BOTH branches (ADVICE r10: the
    hybrid leg used to hard-code doc_id/text).

    The grade fold is seeded with a literal 0 (the rerank short-query
    lesson, ADVICE r9): an empty ``query_terms`` degrades to grade 0
    everywhere — the dense-only ranking evaluates to zero metrics with a
    NULL nDCG (no relevant docs exist) instead of crashing."""
    return _eval_metrics(
        docs, emb, query_terms, RRF_QUERY_VEC, k, text_col, id_col
    )


def q_search_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return search_eval_ndcg(d, e, _QUERY_TERMS)


def _sql_search_eval_ndcg(k: int = EVAL_K) -> str:
    # single-source: the gate's metric body IS the parameterized
    # per-query core the macro eval unions (defined below) — the two
    # oracles cannot drift apart
    return f"""
SELECT ranker, dcg_micro, ndcg_ppm, mrr_ppm, prec_ppm
FROM ({_sql_eval_per_query(0, _QUERY_TERMS, RRF_QUERY_VEC, k)})
ORDER BY ranker
"""




# ---------------------------------------------------------------------------
# Macro-averaged retrieval evaluation (VERDICT r10 #2) — the standard
# offline-eval contract: a ranker's quality is never one query's nDCG but
# the MACRO mean over a fixed evaluation set (TREC / BEIR convention:
# per-query metrics first, unweighted mean across queries second, so easy
# queries cannot drown hard ones).
#
# The evaluation set is a DETERMINISTIC literal: five (terms, query-vec)
# topics drawn from the synthetic corpus vocabulary with varying query
# lengths (2-4 terms — exercises the single-pair proximity guard and the
# multi-term grade fold) and five distinct dense query vectors.  Qrels
# remain the self-deriving pseudo-grades (distinct-terms-contained), so
# the gate still needs no side files and both engines derive identical
# relevance from the corpus itself.
#
# Scale shape (VERDICT r11 #1): ONE batched plan for the whole topic set
# — :func:`_batched_eval` unrolls every topic's term frequencies, BM25
# score, and pseudo-grade into a single fused documents scan, so the
# corpus IO is CONSTANT in |Q| (4 column-pruned document passes + 1
# embeddings pass, vs ~4·|Q| for the r11 per-topic loop).  A real
# offline eval set is 50-500 topics: at 100 TB the loop was 200-2000
# corpus scans; the batch is still 5.  Per-qid top-k rides the
# WindowGroupLimit rewrite (map-side partial top-k: each input partition
# forwards ≤pool candidate rows per qid before the exchange), so the
# only shuffles are candidate pools and the final metric aggregates —
# never corpus-shaped.  The melt fan-out (|Q| score rows per doc) is
# row-local compute inside the scan stage, not shuffle volume.
#
# Float discipline: per-query metrics are already integer ppm; the macro
# mean is floor(sum/|Q|) over int64 sums ≤ 5e6 — exact in double on both
# engines, summation-order-free.
# ---------------------------------------------------------------------------

#: the evaluation topics: (query terms, dense query vector id).  Fixed
#: literals, not runtime-random — reproducibility is the point of an
#: offline eval set.
EVAL_MACRO_QUERIES: list[tuple[list[str], int]] = [
    (["spark", "join", "window"], 0),
    (["stream", "batch", "merge"], 1),
    (["hash", "filter", "scan"], 2),
    (["vector", "query"], 3),
    (["sort", "group", "order", "table"], 4),
]


def search_eval_macro(
    docs: DataFrame,
    emb: DataFrame,
    queries: list[tuple[list[str], int]] | None = None,
    k: int = EVAL_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-query AND macro-averaged offline metrics for the bm25 and
    hybrid_rrf rankers: (ranker, qid, ndcg_ppm, mrr_ppm, prec_ppm), one
    row per (ranker, query) plus a ``qid = -1`` macro row per ranker
    holding floor-mean ppm over the |queries| per-query rows.

    Emitting both levels in one frame keeps the whole contract under a
    single value hash: a macro mean can hide two per-query errors that
    cancel; the per-query rows cannot."""
    qs = EVAL_MACRO_QUERIES if queries is None else queries
    if not qs:
        raise ValueError("queries must be non-empty")
    # keep the engine's own wrapper alive in a local until the re-anchor
    # below — chaining .select() directly would GC it (and fire its
    # cache finalizer) before this function even returns
    eng = _batched_eval(docs, emb, qs, k, text_col, id_col)
    per = eng.select("ranker", "qid", "ndcg_ppm", "mrr_ppm", "prec_ppm")
    nq = float(len(qs))
    # macro fold WITHOUT referencing `per` twice (a union of per + its
    # own aggregate inlines the whole upstream plan once per branch):
    # explode duplicates each per-query row under its own qid AND the
    # macro qid −1; the (ranker, qid) aggregate is then the identity on
    # singleton per-query groups (sum of one value, NULL-preserving) and
    # the floor-mean on the −1 group — one pass, one plan reference.
    exploded = per.select(
        "ranker",
        F.explode(F.array(F.col("qid"), F.lit(-1))).alias("qid"),
        "ndcg_ppm",
        "mrr_ppm",
        "prec_ppm",
    )
    agged = exploded.groupBy("ranker", "qid").agg(
        F.sum("ndcg_ppm").alias("s_ndcg"),
        F.sum("mrr_ppm").alias("s_mrr"),
        F.sum("prec_ppm").alias("s_prec"),
    )
    is_macro = F.col("qid") == -1
    out = agged.select(
        "ranker",
        "qid",
        F.when(is_macro, F.floor(F.col("s_ndcg") / nq).cast("long"))
        .otherwise(F.col("s_ndcg"))
        .alias("ndcg_ppm"),
        F.when(is_macro, F.floor(F.col("s_mrr") / nq).cast("long"))
        .otherwise(F.col("s_mrr"))
        .alias("mrr_ppm"),
        F.when(is_macro, F.floor(F.col("s_prec") / nq).cast("long"))
        .otherwise(F.col("s_prec"))
        .alias("prec_ppm"),
    ).orderBy("qid", "ranker")
    # the wide engine persists its frequency frame — move its cache
    # anchor onto the frame WE return, or the barrier dies with `eng`
    return _reanchor_caches(out, eng)


def q_search_eval_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return search_eval_macro(d, e)


def _sql_eval_per_query(
    qid: int, terms: list[str], vec_id: int, k: int = EVAL_K
) -> str:
    """One topic's (ranker, qid, dcg_micro, ndcg_ppm, mrr_ppm,
    prec_ppm) — THE metric core: the single-query gate's oracle wraps
    this with qid pinned to 0, the macro gate unions five of them, so
    there is exactly one SQL body to keep in step with
    :func:`_eval_metrics`."""
    grade = " + ".join(
        f"CASE WHEN list_contains(string_split(text, ' '), '{t}')"
        " THEN 1 ELSE 0 END"
        for t in terms
    )
    contrib = (
        "CAST(floor((pow(2.0, grade) - 1.0)"
        " / log2(rank + 1.0) * 1000000.0) AS BIGINT)"
    )
    return f"""
WITH grades AS (
  SELECT doc_id, ({grade}) AS grade FROM documents
), lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank
  FROM ({_sql_bm25(k, terms)})
), hyb AS (
  SELECT doc_id, rank
  FROM ({_sql_hybrid_rrf(terms, vec_id, pool=max(RRF_POOL, k), final=k)})
), runs AS (
  SELECT 'bm25' AS ranker, doc_id, rank FROM lex
  UNION ALL
  SELECT 'hybrid_rrf' AS ranker, doc_id, rank FROM hyb
), scored AS (
  SELECT r.ranker, r.rank, g.grade, {contrib} AS contrib
  FROM runs r JOIN grades g USING (doc_id)
), per AS (
  SELECT ranker,
         CAST(sum(contrib) AS BIGINT) AS dcg_micro,
         max(CASE WHEN grade > 0
                  THEN CAST(floor(1000000.0 / rank) AS BIGINT)
                  ELSE 0 END) AS mrr_ppm,
         CAST(sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END)
              * {1000000 // k} AS BIGINT) AS prec_ppm
  FROM scored GROUP BY ranker
), ideal AS (
  SELECT CAST(sum({contrib}) AS BIGINT) AS idcg_micro FROM (
    SELECT grade,
           row_number() OVER (ORDER BY grade DESC, doc_id ASC) AS rank
    FROM grades WHERE grade > 0
    ORDER BY grade DESC, doc_id ASC
    LIMIT {k}
  )
)
SELECT ranker, CAST({qid} AS INTEGER) AS qid, dcg_micro,
       CAST(floor(dcg_micro * 1000000.0 / idcg_micro) AS BIGINT) AS ndcg_ppm,
       mrr_ppm, prec_ppm
FROM per CROSS JOIN ideal
"""


def _sql_eval_macro(
    queries: list[tuple[list[str], int]] | None = None, k: int = EVAL_K
) -> str:
    """Macro-eval oracle for an arbitrary topic set: a UNION of the
    single-sourced per-query metric core (:func:`_sql_eval_per_query`,
    which itself wraps the single-sourced ``_sql_bm25`` scorer), plus
    the macro floor-mean.  The wide gate reuses this with its 60-topic
    set — the oracle is |Q| independent per-query pipelines, so it can
    never share the engine's batching bugs."""
    qs = EVAL_MACRO_QUERIES if queries is None else queries
    nq = len(qs)
    per_union = "\n  UNION ALL\n".join(
        "  SELECT ranker, qid, ndcg_ppm, mrr_ppm, prec_ppm"
        f" FROM ({_sql_eval_per_query(qid, terms, vec_id, k)})"
        for qid, (terms, vec_id) in enumerate(qs)
    )
    return f"""
WITH per AS (
{per_union}
), macro AS (
  SELECT ranker, CAST(-1 AS INTEGER) AS qid,
         CAST(floor(sum(ndcg_ppm) / {nq}.0) AS BIGINT) AS ndcg_ppm,
         CAST(floor(sum(mrr_ppm) / {nq}.0) AS BIGINT) AS mrr_ppm,
         CAST(floor(sum(prec_ppm) / {nq}.0) AS BIGINT) AS prec_ppm
  FROM per GROUP BY ranker
)
SELECT * FROM per
UNION ALL
SELECT * FROM macro
ORDER BY qid, ranker
"""


QUERIES["search_eval_macro"] = (q_search_eval_macro, _sql_eval_macro())
# registered here: its oracle wraps _sql_eval_per_query (defined above)
QUERIES["search_eval_ndcg"] = (q_search_eval_ndcg, _sql_search_eval_ndcg())


# ---------------------------------------------------------------------------
# Wide-topic eval gate (VERDICT r12 #1): |Q| = 60 > EVAL_UNROLL_MAX, so
# this exercises the data-driven engine end-to-end against 60 fully
# independent per-query oracle pipelines.  The topic set is a
# DETERMINISTIC formula over the corpus's 30-word synthetic vocabulary
# (fixed literal below — same reproducibility contract as
# EVAL_MACRO_QUERIES): topic i has 2 + (i % 3) terms at stride-3 offsets
# from 7·i (distinct within a topic for lengths <= 10), dense query
# vector i.  Lengths cycle 2/3/4 so the fold depth varies; every vocab
# word appears in multiple topics so the broadcast term table genuinely
# fans tokens out to several (qid, term) slots — the inverted-index
# shape the engine must keep narrow.
# ---------------------------------------------------------------------------

#: the synthetic corpus vocabulary (TESTDATA.md documents.text), fixed
#: as a literal so the topic formula can never drift with the data
_EVAL_VOCAB = [
    "batch", "small", "scan", "agg", "data", "customer", "hash", "big",
    "slow", "join", "row", "filter", "merge", "table", "stream", "sort",
    "a", "window", "order", "query", "group", "spark", "part", "column",
    "value", "the", "vector", "line", "fast", "key",
]

EVAL_WIDE_N = 60

EVAL_WIDE_QUERIES: list[tuple[list[str], int]] = [
    (
        [
            _EVAL_VOCAB[(7 * i + 3 * j) % len(_EVAL_VOCAB)]
            for j in range(2 + i % 3)
        ],
        i,
    )
    for i in range(EVAL_WIDE_N)
]


def q_search_eval_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return search_eval_macro(d, e, EVAL_WIDE_QUERIES)


QUERIES["search_eval_wide"] = (
    q_search_eval_wide,
    _sql_eval_macro(EVAL_WIDE_QUERIES),
)


# --- bm25_topk_multi gate: the batch-labeling API over the same scorer.
# 8 queries of mixed lengths (the first 8 wide-topic term lists); the
# oracle is 8 independent single-query _sql_bm25 pipelines, each
# re-ranked by its own published (score desc, id asc) order — so the
# batch path is checked per-query against the single-query contract.

_BM25_MULTI_TERMS = [terms for terms, _v in EVAL_WIDE_QUERIES[:8]]
_BM25_MULTI_K = 10


def q_bm25_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return bm25_topk_multi(d, _BM25_MULTI_TERMS, k=_BM25_MULTI_K)


def _sql_bm25_multi(
    term_lists: list[list[str]], k: int = _BM25_MULTI_K
) -> str:
    per = "\nUNION ALL\n".join(
        f"SELECT CAST({qid} AS INTEGER) AS qid, doc_id, bm25,"
        " CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)"
        " AS INTEGER) AS rank"
        f" FROM ({_sql_bm25(k, terms)})"
        for qid, terms in enumerate(term_lists)
    )
    return f"SELECT * FROM (\n{per}\n) ORDER BY qid, rank"


QUERIES["text_bm25_multi"] = (
    q_bm25_topk_multi,
    _sql_bm25_multi(_BM25_MULTI_TERMS),
)
