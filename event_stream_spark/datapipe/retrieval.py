"""Sparse retrieval + collocation mining over the documents corpus.

Two classic corpus operators a training-data / RAG platform needs beyond
dense-vector ANN (``datapipe/similarity.py``):

- ``bm25_topk``: Okapi BM25 top-k retrieval for a batch of queries — the
  sparse leg of every retrieval stack (and of retrieval-based
  decontamination).  The posting list (doc, term, tf) is the only large
  relation; everything query-sided is tiny and broadcasts.
- ``collocations``: PMI-ranked bigram collocation mining (Church & Hanks
  1990) — the standard corpus-statistics pass for tokenizer/vocab design
  and boilerplate detection.

Tokenization is the shared ``datapipe/text.py`` contract (lowercase, split
on whitespace, drop empties) so the DuckDB oracles mirror it verbatim.

Determinism contract (same trick as ``embed_kmeans``/``ann_ivf_topk``):
every float that crosses an aggregation is produced by the identical
expression shape in both engines, per-term scores are rounded to 6 digits,
and multi-term sums fold LEFT over a list ordered by the term key —
``F.aggregate(array_sort(...))`` on the Spark side, ``list_sum(list(x
ORDER BY term))`` on the DuckDB side — so totals are bit-identical, not
merely close.  (The unordered map-side-combine sum is the production path;
the ordered fold is what makes the run reproducible bit-for-bit, which a
data pipeline that stamps dataset cards actually wants.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from event_stream_spark.datapipe.text import word_rows
from event_stream_spark.datapipe.vector import cosine
from event_stream_spark.queries import t

# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------

# Fixed query batch: terms drawn from the synthetic corpus vocabulary
# (TESTDATA.md token soup), so every query matches documents at every SF.
BM25_QUERIES: list[tuple[int, str]] = [
    (0, "spark stream join"),
    (1, "customer query fast"),
    (2, "hash table scan"),
    (3, "vector data window"),
]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 5


def bm25_topk(
    spark: SparkSession,
    sf: str,
    *,
    queries: list[tuple[int, str]] | None = None,
    k: int = BM25_TOPK,
) -> DataFrame:
    """Okapi BM25 top-``k`` documents per query.

    score(q, d) = Σ_{t ∈ q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) — the standard
    Robertson/Spärck-Jones formulation (public BM25 literature; also the
    Lucene default scoring shape).

    Scale shape: the corpus is scanned ONCE to build the (doc_id, term, tf)
    posting list — one (doc_id, term)-keyed shuffle with map-side combine —
    which is parquet-materialized per (session, sf) (``matview.py``): a
    BM25 index IS a materialized inverted index, and doc lengths (Σtf per
    doc), document frequencies, and the scoring join all read it instead of
    re-tokenizing the corpus.  The query batch is a literal in-memory
    relation: its distinct terms BROADCAST into the posting join, so the
    postings never shuffle on the term key and non-matching postings are
    hash-pruned at the join.  The global scalars (N, avgdl) are a 1-row
    aggregate broadcast into the expression.  Per-query top-k is a window
    over query_id — at 100 TB each query's candidate posting subset is
    bounded by its terms' df, not corpus size.

    N is defined as "documents with at least one token" — the corpus a
    retrieval index can actually see — identically here and in the DuckDB
    oracle, so both agree even when a crawl batch carries empty/whitespace-only docs.
    """
    from event_stream_spark.datapipe.matview import materialized

    queries = BM25_QUERIES if queries is None else queries
    d = t(spark, sf, "documents")
    tf = materialized(
        spark,
        f"bm25tf|{sf}",
        lambda: word_rows(d)
        .groupBy("doc_id", F.col("w").alias("term"))
        .agg(F.count("*").alias("tf")),
    )
    return score_postings(spark, tf, queries=queries, k=k)


def _query_terms_ascii(queries: list[tuple[int, str]]) -> list[str] | None:
    """Driver-side replica of the Spark-side query tokenization, usable as
    a parquet pushdown predicate on the posting scan.

    Spark splits on Java regex ``\\s+`` — ASCII ``[ \\t\\n\\x0B\\f\\r]``
    only (no Unicode classes unless flagged) — then lowercases.  For pure
    ASCII query text, Python splitting on exactly that character set
    reproduces the Spark term set, so the ``isin`` filter provably keeps
    every posting row the broadcast term join could match.  Any non-ASCII
    query text returns None (no filter; the broadcast join alone prunes)
    rather than risk a split/casefold divergence dropping a posting."""
    import re

    terms: set[str] = set()
    for _qid, qtext in queries:
        if not qtext.isascii():
            return None
        terms.update(
            w for w in re.split("[ \t\n\x0b\f\r]+", qtext.lower()) if w
        )
    return sorted(terms)


def score_postings(
    spark: SparkSession,
    tf: DataFrame,
    *,
    queries: list[tuple[int, str]],
    k: int = BM25_TOPK,
) -> DataFrame:
    """BM25 scoring over an existing (doc_id, term, tf) posting relation —
    the scorer behind the batch index build (:func:`bm25_topk`), usable
    over any posting relation.  Every statistic (dl, df, N, avgdl)
    derives from the postings themselves, computed once here — so N is
    "documents with at least one token" (a token-less crawl doc is
    invisible to the index and to the scorer), and
    no caller duplicates the corpus-wide dl aggregate."""
    # dl feeds BOTH the 1-row global stats aggregate and the scoring join;
    # persisted (doc-sized: two longs per doc) so the full posting scan +
    # doc_id shuffle runs once per execution instead of twice
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")).persist()
    # 1-row global stats; joined in as a broadcast literal-like relation
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    qterms = (
        spark.createDataFrame(queries, "query_id int, qtext string")
        .select("query_id", F.explode(F.array_distinct(
            F.filter(F.split(F.lower("qtext"), r"\s+"), lambda x: x != "")
        )).alias("term"))
    )
    # Postings pruned to the query terms FIRST: only matching posting rows
    # ever leave the scan.  df for exactly those terms then derives from
    # the pruned subset (count of posting rows per term == docs containing
    # the term), deleting the full-vocabulary term shuffle and the
    # whole-vocab broadcast the old `df` aggregate paid.  When every query
    # text is ASCII, a driver-computed superset of the Spark-side term
    # split doubles as a parquet pushdown predicate (Java's \\s is ASCII
    # [ \\t\\n\\x0B\\f\\r], so the ASCII split reproduces it exactly); the
    # broadcast join against the Spark-split terms stays the semantic
    # gate either way.
    qt_list = _query_terms_ascii(queries)
    cand = tf.filter(F.col("term").isin(qt_list)) if qt_list is not None else tf
    pruned = cand.join(F.broadcast(qterms.select("term").distinct()), "term")
    dfq = pruned.groupBy("term").agg(F.count("*").alias("df"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfp = (F.col("tf") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(BM25_K1)
        * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        pruned.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            "term",
            F.round(idf * tfp, 6).alias("ts"),
        )
    )
    # bit-deterministic ordered fold over the (few) query terms
    total = scored.groupBy("query_id", "doc_id").agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct(F.col("term"), F.col("ts")))),
                F.lit(0.0),
                lambda acc, x: acc + x["ts"],
            ),
            6,
        ).alias("score")
    )
    rw = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        total.select("query_id", "doc_id", "score", F.row_number().over(rw).alias("rank"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _bm25_sql() -> str:
    qvals = ", ".join(f"({qid}, '{txt}')" for qid, txt in BM25_QUERIES)
    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    stats AS (
        SELECT (SELECT count(*) FROM dl) AS n_docs,
               (SELECT sum(dl)::DOUBLE / count(*) FROM dl) AS avgdl
    ),
    qraw(query_id, qtext) AS (VALUES {qvals}),
    qterms AS (
        SELECT DISTINCT query_id,
               unnest(list_distinct(list_filter(
                   string_split_regex(lower(qtext), '\\s+'), x -> x <> ''))) AS term
        FROM qraw
    ),
    scored AS (
        SELECT q.query_id, tf.doc_id, tf.term,
               round(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                     * (tf.tf * {BM25_K1 + 1.0}) /
                       (tf.tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl.dl / s.avgdl)),
                     6) AS ts
        FROM tf
        JOIN qterms q ON q.term = tf.term
        JOIN df ON df.term = tf.term
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s
    ),
    total AS (
        SELECT query_id, doc_id,
               round(list_sum(list(ts ORDER BY term)), 6) AS score
        FROM scored GROUP BY query_id, doc_id
    ),
    ranked AS (
        SELECT query_id, doc_id, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id ASC) AS rank
        FROM total
    )
    SELECT query_id, doc_id, score, rank
    FROM ranked WHERE rank <= {BM25_TOPK}
    ORDER BY query_id, rank
"""


BM25_TOPK_SQL = _bm25_sql()


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------

COLLOC_MIN_COUNT = 5
COLLOC_TOPK = 50


def collocations(
    spark: SparkSession,
    sf: str,
    *,
    min_count: int = COLLOC_MIN_COUNT,
    k: int = COLLOC_TOPK,
) -> DataFrame:
    """Top-``k`` bigram collocations by pointwise mutual information.

    PMI(x,y) = ln( p(x,y) / (p(x)·p(y)) ) with p(x,y) = c_xy/n_bigrams and
    p(x) = c_x/n_tokens, computed as one double expression from exact
    integer counts (so both engines evaluate the identical fp sequence —
    no cross-engine drift possible).  Bigrams under ``min_count`` are
    dropped first (standard PMI sparse-count correction).

    Scale shape: adjacent-pair assembly is a ``lead()`` over the (doc_id,
    pos) token rows — one shuffle on doc_id; bigram and unigram counts are
    map-side-combined aggregations on the gram keys (vocabulary-sized
    outputs, corpus-sized inputs touched once); the unigram counts join
    back onto the ≥min_count bigram survivors, which is vocabulary-scale,
    not corpus-scale.  Final top-k is TakeOrdered — no global sort.
    """
    d = t(spark, sf, "documents")
    wr = word_rows(d)
    win = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        wr.select(F.col("w").alias("w1"), F.lead("w").over(win).alias("w2"))
        .filter(F.col("w2").isNotNull())
    )
    # pair counts feed the survivor filter AND the n_big total — persist
    # the vocabulary-sized relation so the token-stream window executes
    # once per run (recomputed from parquet each execution)
    c_xy = big.groupBy("w1", "w2").agg(F.count("*").alias("pair_cnt")).persist()
    uni = wr.groupBy(F.col("w").alias("term")).agg(F.count("*").alias("cnt")).persist()
    # totals DERIVE from the two count relations (Σ pair_cnt ≡ count of
    # bigram rows, Σ cnt ≡ count of token rows — exact integer
    # identities), replacing what were a third full token pass and a
    # second window execution with two tiny aggregations
    totals = uni.agg(F.sum("cnt").alias("n_uni")).crossJoin(
        c_xy.agg(F.sum("pair_cnt").alias("n_big"))
    )
    pmi = F.round(
        F.log(
            (F.col("pair_cnt").cast("double") * F.col("n_uni") * F.col("n_uni"))
            / (F.col("n_big").cast("double") * F.col("c1") * F.col("c2"))
        ),
        6,
    )
    return (
        c_xy.filter(F.col("pair_cnt") >= min_count)
        .join(F.broadcast(uni.select(F.col("term").alias("w1"), F.col("cnt").alias("c1"))), "w1")
        .join(F.broadcast(uni.select(F.col("term").alias("w2"), F.col("cnt").alias("c2"))), "w2")
        .crossJoin(F.broadcast(totals))
        .select("w1", "w2", "pair_cnt", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(k)
    )


COLLOCATIONS_SQL = f"""
    WITH toks AS (
        SELECT doc_id,
               generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS ws
              FROM documents)
    ),
    big AS (
        SELECT w AS w1,
               lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks
    ),
    c_xy AS (SELECT w1, w2, count(*) AS pair_cnt
             FROM big WHERE w2 IS NOT NULL GROUP BY w1, w2),
    uni AS (SELECT w AS term, count(*) AS cnt FROM toks GROUP BY w),
    totals AS (
        SELECT (SELECT count(*) FROM toks) AS n_uni,
               (SELECT count(*) FROM big WHERE w2 IS NOT NULL) AS n_big
    )
    SELECT c.w1, c.w2, c.pair_cnt,
           round(ln((c.pair_cnt::DOUBLE * t.n_uni * t.n_uni)
                    / (t.n_big::DOUBLE * u1.cnt * u2.cnt)), 6) AS pmi
    FROM c_xy c
    JOIN uni u1 ON u1.term = c.w1
    JOIN uni u2 ON u2.term = c.w2
    CROSS JOIN totals t
    WHERE c.pair_cnt >= {COLLOC_MIN_COUNT}
    ORDER BY pmi DESC, c.w1, c.w2
    LIMIT {COLLOC_TOPK}
"""


# ---------------------------------------------------------------------------
# MMR diversified reranking
# ---------------------------------------------------------------------------

MMR_NQ = 4  # vec_id < NQ form the query batch; the rest are corpus
MMR_CAND = 12  # relevance top-N entering the reranker
MMR_K = 5  # diversified picks per query
MMR_LAMBDA = 0.7  # relevance weight; 1-λ penalizes similarity to picks


def mmr_rerank(
    spark: SparkSession,
    sf: str,
    *,
    n_queries: int = MMR_NQ,
    n_cand: int = MMR_CAND,
    k: int = MMR_K,
    lam: float = MMR_LAMBDA,
) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein 1998):
    each query's relevance top-``n_cand`` is greedily re-picked k times by
    ``λ·rel(c) − (1−λ)·max_{s∈picked} sim(c, s)`` — the standard
    diversification step after ANN retrieval (RAG context selection,
    near-dup-collapsed search results).

    Scale shape: candidate generation is the distributed part — here the
    exact broadcast-query relevance scan (the declared baseline, same
    contract as ``ann_topk_brute``); a production pipeline swaps in the
    ``ann_join`` banded-LSH candidates unchanged.  The greedy rerank
    itself touches only ``n_cand`` rows per query, grouped by query_id
    through ONE ``applyInPandas`` — O(n_cand·k) local work per query,
    embarrassingly parallel across queries, no driver-side loop.

    Determinism: relevance is the JVM fold-cosine rounded to 6 (same as
    every ANN oracle); inside the kernel, pairwise cosines use cumsum
    left-folds (bit-equal to the JVM/DuckDB fold — see ``ivf_assignments``)
    rounded to 6 before comparison, and every greedy score is
    ``round(λ·rel − (1−λ)·pen, 6)`` with ties broken toward the smaller
    vec_id, so the DuckDB oracle replays the greedy loop exactly,
    round by round.
    """
    import numpy as np
    import pandas as pd

    e = t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    rel = (
        e.filter(F.col("vec_id") >= n_queries)
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "vec_id",
            "embedding",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("rel"),
        )
    )
    rw = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("vec_id"))
    cand = rel.select("*", F.row_number().over(rw).alias("rn")).filter(
        F.col("rn") <= n_cand
    )

    schema = "query_id long, vec_id long, mmr_rank int, score double"

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        V = np.array(pdf["embedding"].tolist(), dtype="float64")
        dots = np.cumsum(V[:, None, :] * V[None, :, :], axis=2)[:, :, -1]
        nrm = np.sqrt(np.cumsum(V * V, axis=1)[:, -1])
        sims = np.round(dots / (nrm[:, None] * nrm[None, :]), 6)
        rel_ = pdf["rel"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        picked: list[int] = []
        out = []
        for step in range(min(k, len(pdf))):
            best = None
            for i in range(len(pdf)):
                if i in picked:
                    continue
                if step == 0:
                    sc = rel_[i]
                else:
                    pen = max(sims[i, j] for j in picked)
                    sc = np.round(lam * rel_[i] - (1.0 - lam) * pen, 6)
                # score desc, vec_id asc (rows pre-sorted by vec_id, so
                # strict > keeps the smaller id on ties)
                if best is None or sc > out_sc:
                    best, out_sc = i, sc
            picked.append(best)
            out.append((pdf["query_id"].iloc[0], int(ids[best]), step + 1, float(out_sc)))
        return pd.DataFrame(out, columns=["query_id", "vec_id", "mmr_rank", "score"])

    return (
        cand.groupBy("query_id")
        .applyInPandas(_greedy, schema)
        .orderBy("query_id", "mmr_rank")
    )


def _mmr_sql() -> str:
    lam = MMR_LAMBDA
    steps = []
    for s in range(2, MMR_K + 1):
        prev = f"sel{s - 1}"
        steps.append(f"""
    st{s} AS (
        SELECT c.query_id, c.vec_id,
               round({lam} * c.rel - {1.0 - lam} * max(p.s), 6) AS score
        FROM cand c
        JOIN sims p ON p.query_id = c.query_id AND p.va = c.vec_id
        JOIN {prev} sel ON sel.query_id = p.query_id AND p.vb = sel.vec_id
        LEFT JOIN {prev} x ON x.query_id = c.query_id AND x.vec_id = c.vec_id
        WHERE x.vec_id IS NULL
        GROUP BY c.query_id, c.vec_id, c.rel
    ),
    w{s} AS (
        SELECT query_id, vec_id, {s} AS mmr_rank, score
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY score DESC, vec_id) AS rn
              FROM st{s})
        WHERE rn = 1
    ),
    sel{s} AS (SELECT query_id, vec_id, mmr_rank, score FROM sel{s - 1}
               UNION ALL SELECT query_id, vec_id, mmr_rank, score FROM w{s})""")
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {MMR_NQ}),
    c AS (
        SELECT q.query_id, e.vec_id, e.v,
               round(list_cosine_similarity(e.v, q.qv), 6) AS rel
        FROM e CROSS JOIN q WHERE e.vec_id >= {MMR_NQ}
    ),
    cand AS (
        SELECT query_id, vec_id, v, rel
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY rel DESC, vec_id) AS rn
              FROM c)
        WHERE rn <= {MMR_CAND}
    ),
    sims AS (
        SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
               round(list_cosine_similarity(a.v, b.v), 6) AS s
        FROM cand a JOIN cand b ON a.query_id = b.query_id
    ),
    sel1 AS (
        SELECT query_id, vec_id, 1 AS mmr_rank, rel AS score
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY rel DESC, vec_id) AS rn
              FROM cand)
        WHERE rn = 1
    ),{",".join(steps)}
    SELECT query_id, vec_id, mmr_rank, score
    FROM sel{MMR_K}
    ORDER BY query_id, mmr_rank
"""


MMR_RERANK_SQL = _mmr_sql()
