"""Behavioral tests for the data-pipeline operators on dup-injected synthetic
corpora (the sf tables contain no near-dups, so capability is proven here)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def dup_corpus(spark, tmp_path_factory):
    """Write a small documents/embeddings parquet pair with planted dups."""
    base = tmp_path_factory.mktemp("dupdata")
    texts = {
        1: "the quick brown fox jumps over the lazy dog near the river bank",
        2: "the quick brown fox jumps over the lazy dog near the river bank",  # exact dup of 1
        3: "the quick brown fox jumps over the lazy cat near the river bank",  # near dup of 1
        4: "completely different content about spark partitions and shuffles today",
        5: "spark partitions and shuffles explained with completely different wording",
        6: "short text",
    }
    docs = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{base}/documents.parquet")

    vecs = {
        1: [1.0, 0.0, 0.5, 0.2] * 16,
        2: [1.0, 0.001, 0.5, 0.2] * 16,  # near-identical to 1
        3: [-1.0, 0.3, 0.0, 0.9] * 16,
        4: [0.1, -0.8, 0.4, 0.0] * 16,
    }
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in vecs.items()],
        "vec_id long, embedding array<float>, label int",
    )
    emb.coalesce(1).write.mode("overwrite").parquet(f"{base}/embeddings.parquet")
    return str(base)


def test_dedup_exact_finds_planted_dup(spark, dup_corpus):
    from event_stream_spark.datapipe import dedup_exact

    out = dedup_exact(spark, dup_corpus)
    rows = {r["doc_id"]: r["n_copies"] for r in out.collect()}
    assert rows[1] == 2  # doc 2 collapsed into doc 1
    assert 2 not in rows


def test_minhash_finds_near_dup(spark, dup_corpus):
    from event_stream_spark.datapipe import minhash_lsh_pairs

    # 8 bands × 2 rows targets lower-jaccard pairs (~(1/8)^(1/2) ≈ 0.35)
    pairs = {
        (r["a"], r["b"]): r["jacc"]
        for r in minhash_lsh_pairs(
            spark, dup_corpus, threshold=0.4, bands=8, rows=2
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs  # one-word change
    assert all(a != 4 and b != 4 for (a, b) in pairs if (a, b) != (4, 5))


def test_minhash_oph_finds_near_dups(spark, dup_corpus):
    """One-permutation minhash: finds the planted exact dup and near-dup
    with the same exact-jaccard verification contract as the classic
    K-hash path (precision is structural; only recall rides the sketch)."""
    from event_stream_spark.datapipe import minhash_oph_pairs

    pairs = {
        (r["a"], r["b"]): r["jacc"]
        for r in minhash_oph_pairs(spark, dup_corpus, threshold=0.4).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # exact dup
    assert all(j >= 0.4 for j in pairs.values())


def test_oph_densification_algebra(spark):
    """Rotation densification: an empty bin borrows the nearest non-empty
    bin to its RIGHT circularly at +t*C per borrowed distance — checked
    directly on crafted sparse bins."""
    from event_stream_spark.datapipe.dedup import _OPH_C, _OPH_K

    from pyspark.sql import functions as F

    # only bins 3 and 10 occupied
    vals = {3: 111, 10: 222}
    row = [(0, *[vals.get(j) for j in range(_OPH_K)])]
    cols = ", ".join(f"s{j} long" for j in range(_OPH_K))
    df = spark.createDataFrame(row, f"doc_id long, {cols}")
    dense = df.select(
        *[
            F.coalesce(
                *[
                    F.col(f"s{(j + t) % _OPH_K}") + F.lit(t * _OPH_C)
                    for t in range(_OPH_K)
                ]
            ).alias(f"d{j}")
            for j in range(_OPH_K)
        ]
    ).collect()[0]
    # bin 0 borrows bin 3 at distance 3; bin 4 borrows bin 10 at 6;
    # bin 11 wraps to bin 3 at distance 8
    assert dense["d3"] == 111 and dense["d10"] == 222
    assert dense["d0"] == 111 + 3 * _OPH_C
    assert dense["d4"] == 222 + 6 * _OPH_C
    assert dense["d11"] == 111 + 8 * _OPH_C


def test_simhash_near_pairs(spark, dup_corpus):
    from event_stream_spark.datapipe import simhash_near_pairs

    pairs = {
        (r["a"], r["b"]): r["hamming"]
        for r in simhash_near_pairs(spark, dup_corpus, max_hamming=3).collect()
    }
    assert pairs.get((1, 2)) == 0  # identical text → identical simhash


def test_embedding_near_dup(spark, dup_corpus):
    """The LSH-blocked path catches the planted near-identical pair, and the
    exact baseline agrees on it."""
    from event_stream_spark.datapipe import dedup_embedding, dedup_embedding_exact

    pairs = {(r["a"], r["b"]): r["sim"] for r in dedup_embedding(spark, dup_corpus).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.999
    exact = {
        (r["a"], r["b"]): r["sim"]
        for r in dedup_embedding_exact(spark, dup_corpus).collect()
    }
    assert exact[(1, 2)] == pairs[(1, 2)]


def test_embedding_lsh_recall_on_near_dups(spark, tmp_path):
    """Recall gate for the scale path: planted near-dup pairs (cosine ≥ .95,
    the SemDeDup regime the blocking is sized for) are ALL recovered, and
    every reported pair matches the exact baseline's value."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((25, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v], 0))
        dup = v + 0.08 * rng.standard_normal(64)  # cosine ≈ 0.97-0.99
        rows.append((2 * i + 1, [float(x) for x in dup], 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    emb.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    from event_stream_spark.datapipe.dedup import embedding_lsh_pairs, embedding_pairs

    got = {
        (r["a"], r["b"]): r["sim"]
        for r in embedding_lsh_pairs(spark, str(tmp_path), threshold=0.9).collect()
    }
    truth = {
        (r["a"], r["b"]): r["sim"]
        for r in embedding_pairs(spark, str(tmp_path), threshold=0.9).collect()
    }
    planted = {p for p in truth if p == (p[0], p[0] + 1) and p[0] % 2 == 0}
    assert len(planted) >= 20  # the construction really planted high-sim pairs
    assert planted <= set(got)  # 100% recall on the near-dup regime
    assert all(got[p] == truth[p] for p in got if p in truth)


def test_ann_brute_vs_lsh_recall(spark):
    """LSH probe results must be a subset of brute-force ranking, same bucket."""
    sf = "/root/testdata/sf0.001"
    from event_stream_spark.datapipe import ann_lsh_topk, ann_topk_brute

    brute = ann_topk_brute(spark, sf, k=50).collect()
    assert brute[0]["vec_id"] == 0 and brute[0]["sim"] == 1.0  # self-match first
    sims_b = [r["sim"] for r in brute]
    assert sims_b == sorted(sims_b, reverse=True)

    lsh = ann_lsh_topk(spark, sf, k=10).collect()
    assert 0 < len(lsh) <= 10
    assert lsh[0]["vec_id"] == 0  # the probe lands in its own bucket, sim 1.0
    sims_l = [r["sim"] for r in lsh]
    assert sims_l == sorted(sims_l, reverse=True)
    # recall floor vs the exact ranking (registry contract): the exact
    # nearest neighbor (the probe itself) must surface, and nothing may
    # outrank brute's best — a single 8-bit probe scans ~1/256 of the
    # corpus, so deep top-10 recall is ann_ivf's job, not this probe's
    brute_ids = [r["vec_id"] for r in brute]
    assert len(set(r["vec_id"] for r in lsh) & set(brute_ids[:10])) >= 1
    assert max(sims_l) <= max(sims_b)


def test_matview_cleanup(spark):
    """The per-pid matview parquet dir is removed by the atexit hook (no
    /tmp leak across sessions); re-materialization works after cleanup."""
    import os

    from event_stream_spark.datapipe import matview

    df = matview.materialized(spark, "cleanup_probe", lambda: spark.range(5))
    assert df.count() == 5 and os.path.isdir(matview._ROOT)
    matview._cleanup()  # what atexit runs
    assert not os.path.exists(matview._ROOT) and not matview._CACHE
    df2 = matview.materialized(spark, "cleanup_probe", lambda: spark.range(7))
    assert df2.count() == 7


def test_ann_ivf_recall(spark):
    """IVF-Flat probe: exact within probed lists, high recall vs brute force
    at the correctness SF, sims descending."""
    from event_stream_spark.datapipe import ann_ivf_topk, ann_topk_brute

    from tests.conftest import SF_CORRECT

    brute = [r["vec_id"] for r in ann_topk_brute(spark, SF_CORRECT).collect()]
    rows = ann_ivf_topk(spark, SF_CORRECT).collect()
    ivf = [r["vec_id"] for r in rows]
    sims = [r["sim"] for r in rows]
    assert len(ivf) == 10
    assert sims == sorted(sims, reverse=True)
    assert len(set(brute) & set(ivf)) / len(brute) >= 0.5


@pytest.fixture(scope="module")
def decon_corpus(spark, tmp_path_factory):
    """doc 0 is the eval slice (0 % 50 == 0); doc 1 shares a 5-gram with it,
    doc 2 shares none."""
    base = tmp_path_factory.mktemp("decondata")
    texts = {
        0: "alpha beta gamma delta epsilon zeta eta theta",
        1: "prefix words alpha beta gamma delta epsilon more trailing words",
        2: "an entirely unrelated document about spark shuffles and joins",
    }
    docs = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{base}/documents.parquet")
    return str(base)


def test_decontaminate_flags_overlap(spark, decon_corpus):
    from event_stream_spark.datapipe import decontaminate

    rows = {r["doc_id"]: r for r in decontaminate(spark, decon_corpus).collect()}
    assert 0 not in rows  # eval docs never appear in the training output
    assert rows[1]["contaminated"] and rows[1]["n_eval_hits"] >= 1
    assert not rows[2]["contaminated"] and rows[2]["n_eval_hits"] == 0


def test_corpus_mix_deterministic_and_rate_shaped(spark):
    """Sampling is a pure function of doc_id: identical across runs, every
    kept doc's recomputed md5 bucket is under its language's rate."""
    import hashlib

    from event_stream_spark.datapipe import corpus_mix
    from event_stream_spark.datapipe.corpusops import MIX_DEFAULT_RATE, MIX_RATES

    from tests.conftest import SF_CORRECT

    rows = corpus_mix(spark, SF_CORRECT).collect()
    again = corpus_mix(spark, SF_CORRECT).collect()
    assert rows == again
    assert 0 < len(rows) < 500  # a strict, non-empty subsample
    for r in rows:
        bucket = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16) % 10000
        assert bucket < MIX_RATES.get(r["lang"], MIX_DEFAULT_RATE)


def test_vocab_topk_order_and_counts(spark):
    from event_stream_spark.datapipe import vocab_topk

    from tests.conftest import SF_CORRECT

    rows = vocab_topk(spark, SF_CORRECT).collect()
    assert 0 < len(rows) <= 100
    keys = [(-r["cnt"], r["word"]) for r in rows]
    assert keys == sorted(keys)  # total order: count desc, word asc
    # spot-check the top count against an independent recount
    from event_stream_spark.queries import t

    top = rows[0]
    docs = t(spark, SF_CORRECT, "documents").collect()
    cnt = sum(
        sum(1 for w in d["text"].lower().split() if w == top["word"]) for d in docs
    )
    assert cnt == top["cnt"]


@pytest.fixture(scope="module")
def pii_corpus(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("piidata")
    texts = {
        1: "contact alice.smith+x@example.org or call +1 555-867-5309 today",
        2: "server at 192.168.10.254 responded then 10.0.0.1 timed out",
        3: "no sensitive content in this document at all",
        4: "the the the the the the the the the the",  # maximally repetitive
    }
    docs = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{base}/documents.parquet")
    return str(base)


def test_pii_scrub_redacts_planted(spark, pii_corpus):
    from event_stream_spark.datapipe import pii_scrub

    rows = {r["doc_id"]: r for r in pii_scrub(spark, pii_corpus).collect()}
    assert rows[1]["n_email"] == 1 and "[EMAIL]" in rows[1]["scrubbed"]
    assert "example.org" not in rows[1]["scrubbed"]
    assert rows[1]["n_phone"] == 1 and "[PHONE]" in rows[1]["scrubbed"]
    assert rows[2]["n_ip"] == 2 and rows[2]["scrubbed"].count("[IP]") == 2
    assert rows[3]["scrubbed"] == "no sensitive content in this document at all"
    assert rows[3]["n_email"] == rows[3]["n_phone"] == rows[3]["n_ip"] == 0


def test_text_repetition_flags_planted(spark, pii_corpus):
    from event_stream_spark.datapipe import text_repetition

    rows = {r["doc_id"]: r for r in text_repetition(spark, pii_corpus).collect()}
    assert rows[4]["repetitive"] and rows[4]["dup_word_frac"] == 0.9
    assert not rows[3]["repetitive"] and rows[3]["dup_word_frac"] == 0.0


@pytest.fixture(scope="module")
def span_corpus(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("spandata")
    shared = "alpha beta gamma delta epsilon zeta"  # two shared 5-gram spans
    texts = {
        1: shared,
        2: shared + " eta theta iota kappa lambda",
        3: "one two three four five six seven eight nine ten",
    }
    docs = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{base}/documents.parquet")
    return str(base)


def test_dup_spans_flags_planted(spark, span_corpus):
    from event_stream_spark.datapipe import dup_spans

    rows = {r["doc_id"]: r for r in dup_spans(spark, span_corpus).collect()}
    # doc 1 is wholly contained in doc 2: both its 5-gram spans are shared
    assert rows[1]["n_spans"] == 2 and rows[1]["n_dup_spans"] == 2
    assert rows[1]["dup_span_frac"] == 1.0 and rows[1]["span_flagged"]
    # doc 2 shares only the first two of its seven spans (2/7 < 0.3)
    assert rows[2]["n_spans"] == 7 and rows[2]["n_dup_spans"] == 2
    assert not rows[2]["span_flagged"]
    # doc 3 shares nothing
    assert rows[3]["n_dup_spans"] == 0 and not rows[3]["span_flagged"]


def test_seq_pack_contiguous(spark, tmp_path_factory):
    """Docs in one (lang, shard) stratum pack contiguously: each doc's
    sequence index / offset equals the running token total before it."""
    from event_stream_spark.datapipe import seq_pack
    from event_stream_spark.datapipe.packing import SEQ_LEN, SHARDS

    base = tmp_path_factory.mktemp("packdata")
    # doc_ids all ≡ 0 (mod SHARDS) → a single packing stratum
    n_words = {0: 300, SHARDS: 300, 2 * SHARDS: 100, 3 * SHARDS: 500}
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(n)), "en", "s", n) for i, n in n_words.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{base}/documents.parquet")

    rows = {r["doc_id"]: r for r in seq_pack(spark, str(base)).collect()}
    start = 0
    for i in sorted(n_words):
        assert rows[i]["n_tokens"] == n_words[i]
        assert rows[i]["seq_ix"] == start // SEQ_LEN
        assert rows[i]["seq_offset"] == start % SEQ_LEN
        assert rows[i]["shard"] == 0
        start += n_words[i]


def test_connected_components_chain_and_clusters(spark, dup_corpus):
    """CC over a 6-node chain (worst-case diameter: plain propagation needs 6
    rounds, pointer jumping converges in ≤ 25) plus a separate triangle and
    an isolated pair; then the end-to-end dedup_clusters on planted dups."""
    from event_stream_spark.datapipe.dedup import (
        connected_components,
        dedup_clusters,
    )

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),  # chain 1..6
             (10, 11), (11, 12), (10, 12),            # triangle
             (20, 21)]                                # pair
    pairs = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["node"]: r["l"] for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    # end-to-end: docs 1/2/3 are mutual near-dups → one cluster, keep doc 1
    out = {r["doc_id"]: r for r in dedup_clusters(spark, dup_corpus).collect()}
    assert set(out) == {1, 2, 3}
    assert all(r["cluster_id"] == 1 and r["cluster_size"] == 3
               for r in out.values())
    assert [d for d, r in out.items() if r["keep"]] == [1]


def test_embed_kmeans_separates_two_groups(spark, tmp_path_factory):
    """Two tight groups of 10 vectors each, k=2: Lloyd's recovers the
    grouping exactly, and every vector lands nearer its own centroid."""
    from event_stream_spark.datapipe.similarity import embed_kmeans

    base = tmp_path_factory.mktemp("km")
    rows = []
    for i in range(20):
        group = i // 10
        center = 1.0 if group == 0 else -1.0
        vec = [center + 0.001 * ((i * 7 + j) % 5) for j in range(64)]
        rows.append((i, [float(x) for x in vec], group))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{base}/embeddings.parquet")

    out = {r["vec_id"]: r for r in embed_kmeans(spark, str(base), k=2).collect()}
    assert set(out) == set(range(20))
    a = {out[i]["cluster"] for i in range(10)}
    b = {out[i]["cluster"] for i in range(10, 20)}
    assert a == {0} and b == {1}
    assert all(r["d2"] < 0.1 for r in out.values())


def test_semdedup_keeps_first_per_cluster(spark, tmp_path_factory):
    """Two tight clusters (near-identical members ⇒ cosine ≈ 1): SemDeDup's
    keep-first greedy keeps exactly the smallest vec_id of each cluster and
    drops every other member; a far outlier in its own region survives."""
    from event_stream_spark.datapipe.similarity import semdedup

    base = tmp_path_factory.mktemp("sd")
    rows = []
    for i in range(20):
        center = 1.0 if i < 10 else -1.0
        vec = [center + 1e-6 * ((i * 7 + j) % 5) for j in range(64)]
        rows.append((i, [float(x) for x in vec]))
    # orthogonal-ish outlier: alternating signs — low cosine to both blobs
    rows.append((20, [float(1 if j % 2 else -1) for j in range(64)]))
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(
        1
    ).write.parquet(f"{base}/embeddings.parquet")

    out = {r["vec_id"]: r for r in semdedup(spark, str(base), k=2).collect()}
    assert set(out) == set(range(21))
    kept = sorted(i for i, r in out.items() if r["keep"])
    assert 0 in kept and 10 in kept
    assert not any(r["keep"] for i, r in out.items() if i not in (0, 10, 20))
    assert out[20]["keep"]


def test_tfidf_topterms_ranks_distinctive_words(spark, tmp_path_factory):
    """4 docs sharing the word 'common'; each doc has a unique word repeated
    twice.  tf-idf ranks the unique word first (tf=2, df=1) and scores
    'common' exactly 0 (ln(4/4))."""
    from event_stream_spark.datapipe.corpusops import tfidf_topterms

    base = tmp_path_factory.mktemp("tfidf")
    rows = [
        (i, f"common uniq{i} uniq{i}", "en", "s", 20) for i in range(4)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{base}/documents.parquet")

    out = tfidf_topterms(spark, str(base)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    import math

    for i in range(4):
        terms = by_doc[i]
        assert terms[0]["term"] == f"uniq{i}"
        assert terms[0]["score"] == round(2 * math.log(4 / 1), 6)
        assert terms[1]["term"] == "common" and terms[1]["score"] == 0.0
        assert len(terms) == 2  # only two distinct words per doc


def test_chunk_docs_overlap_and_tail(spark, tmp_path_factory):
    """50-word doc, size=32/stride=24: chunks start at words 0/24/48 with
    32/26/2 tokens; the overlap region is shared verbatim."""
    from event_stream_spark.datapipe.packing import chunk_docs

    base = tmp_path_factory.mktemp("chunks")
    text = " ".join(f"w{i}" for i in range(50))
    spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{base}/documents.parquet")

    out = {r["chunk_id"]: r for r in chunk_docs(spark, str(base)).collect()}
    assert sorted(out) == [0, 1, 2]
    assert [out[i]["n_tokens"] for i in range(3)] == [32, 26, 2]
    assert out[0]["chunk_text"].split()[:2] == ["w0", "w1"]
    assert out[1]["chunk_text"].split()[0] == "w24"
    # overlap: chunk 0's last 8 words == chunk 1's first 8
    assert out[0]["chunk_text"].split()[24:] == out[1]["chunk_text"].split()[:8]
    assert out[2]["chunk_text"] == "w48 w49"


def test_quantized_ann_recall(spark):
    """int8-quantized cosine top-k must keep >=8/10 of the float top-k —
    the compression-accuracy contract of embed_quantize."""
    import pyspark.sql.functions as F

    from event_stream_spark.datapipe.vector import as_double, cosine, dequantize, quantize_int8
    from event_stream_spark.queries import t
    from tests.conftest import SF_CORRECT

    e = t(spark, SF_CORRECT, "embeddings")
    scale, qv = quantize_int8("embedding")
    deq = e.select(
        "vec_id",
        as_double("embedding").alias("v"),
        dequantize(scale, qv).alias("dq"),
    )
    probe = deq.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("pv"), F.col("dq").alias("pdq")
    )
    joined = deq.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(probe))
    top_f = [
        r.vec_id
        for r in joined.select("vec_id", cosine(F.col("v"), F.col("pv")).alias("c"))
        .orderBy(F.desc("c"), "vec_id").limit(10).collect()
    ]
    top_q = [
        r.vec_id
        for r in joined.select("vec_id", cosine(F.col("dq"), F.col("pdq")).alias("c"))
        .orderBy(F.desc("c"), "vec_id").limit(10).collect()
    ]
    assert len(set(top_f) & set(top_q)) >= 8


def test_paragraph_dedup_flags_planted(spark, tmp_path):
    """Two docs sharing an identical 10-word paragraph: the later doc gets
    n_dup_paras >= 1, the earlier keeps 0 (first occurrence wins)."""
    from event_stream_spark.datapipe.webops import dedup_paragraph

    shared = " ".join(f"w{i}" for i in range(10))
    rows = [
        (0, shared + " tail0 alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "srcA", 0),
        (1, shared + " tail1 one two three four five six seven eight nine ten", "en", "srcB", 0),
        (2, "totally different words here nothing shared at all with others x", "en", "srcB", 0),
    ]
    import pandas as pd

    d = tmp_path / "sf"
    d.mkdir()
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(d / "documents.parquet")
    out = {r.doc_id: r.n_dup_paras for r in dedup_paragraph(spark, str(d)).collect()}
    assert out[0] == 0 and out[1] >= 1 and out[2] == 0


def test_paragraph_dedup_empty_doc_emits_nothing(spark, tmp_path):
    """Empty/whitespace-only docs must produce NO paragraph rows (regression:
    sequence(0, -1) descends and emitted two phantom empty paragraphs)."""
    import pandas as pd

    from event_stream_spark.datapipe.webops import dedup_paragraph

    d = tmp_path / "sf"
    d.mkdir()
    pd.DataFrame(
        [(0, "", "en", "srcA", 0), (1, "   ", "en", "srcA", 3),
         (2, "one two three", "en", "srcA", 13)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(d / "documents.parquet")
    out = {r.doc_id: (r.n_paras, r.n_dup_paras)
           for r in dedup_paragraph(spark, str(d)).collect()}
    assert out == {2: (1, 0)}


def test_embed_quantize_zero_vector(spark, tmp_path):
    """All-zero embedding: scale guard keeps qvec at exact zeros and mse 0
    (regression: scale 0 produced NaN -> int32 garbage)."""
    import numpy as np
    import pandas as pd

    from event_stream_spark.datapipe.similarity import embed_quantize

    d = tmp_path / "sf"
    d.mkdir()
    pd.DataFrame({
        "vec_id": [0, 1],
        "embedding": [np.zeros(4, dtype=np.float32), np.ones(4, dtype=np.float32)],
        "label": [0, 0],
    }).to_parquet(d / "embeddings.parquet")
    rows = {r.vec_id: r for r in embed_quantize(spark, str(d)).collect()}
    assert rows[0].qvec == "0,0,0,0" and rows[0].mse_p12 == 0
    assert rows[1].qvec == "127,127,127,127"


def test_paragraph_clean_drops_planted_dup(spark, tmp_path):
    """The cleaned text of a later doc loses exactly its duplicated
    paragraph; the first occurrence keeps it."""
    import pandas as pd

    from event_stream_spark.datapipe.webops import dedup_paragraph_clean

    shared = " ".join(f"w{i}" for i in range(10))
    uniq = "one two three four five six seven eight nine ten"
    rows = [
        (0, shared + " " + uniq, "en", "srcA", 0),
        (1, shared + " alpha beta gamma delta epsilon zeta eta theta iota kappa",
         "en", "srcB", 0),
    ]
    d = tmp_path / "sf"
    d.mkdir()
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(d / "documents.parquet")
    out = {r.doc_id: r for r in dedup_paragraph_clean(spark, str(d)).collect()}
    assert out[0].n_kept == 2                       # keeps shared + unique
    assert out[1].n_kept == 1                       # shared paragraph dropped
    assert out[1].clean_len == len(
        "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    )


def test_corpus_shuffle_is_seeded_permutation(spark):
    """Positions are exactly 1..n (a true permutation — the two-phase
    offset+rank scheme drops or duplicates nothing), the order is NOT the
    doc_id order (it actually shuffles), and a different seed yields a
    different permutation while the same seed is bit-stable."""
    from event_stream_spark.datapipe.shuffleops import corpus_shuffle

    from tests.conftest import SF_SMOKE

    a = corpus_shuffle(spark, SF_SMOKE).collect()
    n = len(a)
    assert sorted(r.pos for r in a) == list(range(1, n + 1))
    by_pos = [r.doc_id for r in sorted(a, key=lambda r: r.pos)]
    assert by_pos != sorted(by_pos)
    assert [tuple(r) for r in corpus_shuffle(spark, SF_SMOKE).collect()] == [
        tuple(r) for r in a
    ]
    b = corpus_shuffle(spark, SF_SMOKE, seed=43).collect()
    assert [r.doc_id for r in sorted(b, key=lambda r: r.pos)] != by_pos


def test_time_gapfill_locf_and_interp_edges(spark, tmp_path):
    """Hand-built series: grid before the first observation is null (no
    back-fill), between observations interpolates linearly, after the last
    observation interp == locf (flat extrapolation)."""
    import datetime as dt

    import pandas as pd

    from event_stream_spark.operators.timegrid import time_gapfill

    t0 = dt.datetime(2024, 1, 1, 0, 30)          # grid starts 00:00
    rows = [
        (1, t0, 10.0),                           # obs at 00:30
        (1, t0 + dt.timedelta(hours=2), 30.0),   # obs at 02:30
    ]
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    events = spark.createDataFrame(pdf)
    out = {
        r.grid_ts.replace(tzinfo=None): r
        for r in time_gapfill(events).collect()
    }
    g = dt.datetime(2024, 1, 1, 0, 0)
    assert out[g].locf_value is None and out[g].interp_value is None
    one = out[g + dt.timedelta(hours=1)]         # 01:00 = 1/4 through gap
    assert one.locf_value == 10.0 and one.interp_value == 15.0
    two = out[g + dt.timedelta(hours=2)]         # 02:00 = 3/4 through gap
    assert two.locf_value == 10.0 and two.interp_value == 25.0
    assert len(out) == 3                         # grid 00:00..02:00


def test_ts_anomaly_flags_planted_spike(spark, tmp_path):
    """A flat series with one planted spike: only the spike is flagged, and
    rows before the warm-up threshold have no score at all."""
    import datetime as dt

    import pandas as pd

    from event_stream_spark.queries import ANOMALY_MIN_OBS, ts_anomaly

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(30):
        # mild alternation so stddev > 0; spike at i == 25
        v = 100.0 if i == 25 else 10.0 + (i % 2)
        rows.append((i, t0 + dt.timedelta(minutes=i), 1, "tick", v, "{}"))
    d = tmp_path / "sf"
    d.mkdir()
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(d / "events.parquet")
    out = {r.event_id: r for r in ts_anomaly(spark, str(d)).collect()}
    assert len(out) == 30
    flagged = [i for i, r in out.items() if r.is_anomaly]
    assert flagged == [25]
    assert all(out[i].zscore is None for i in range(ANOMALY_MIN_OBS))
    assert out[26].is_anomaly is False  # spike in lookback inflates sd, not z


def test_bloom_prune_has_no_false_negatives(spark):
    """Rows the bloom filter passes through WITHOUT the exact join (bloom
    says definitely-clean) must contain no flagged user — the Bloom
    no-false-negative guarantee, asserted on real data."""
    from functools import reduce

    from pyspark.sql import functions as F

    from event_stream_spark.datapipe import bloom as B
    from event_stream_spark.queries import t
    from tests.conftest import SF_CORRECT

    sf = SF_CORRECT
    e = t(spark, sf, "events")
    bm = B.bloom_bitmap(spark, sf)
    lit_map = F.array(*[F.lit(w).cast("long") for w in bm])
    probe = e.select(
        "user_id",
        lit_map.alias("bm"),
        *[
            p.alias(f"p{j}")
            for j, p in enumerate(B._positions(F.col("user_id")))
        ],
    )
    hits = [
        F.expr(
            f"(element_at(bm, cast(p{j} div 64 as int) + 1)"
            f" & shiftleft(1L, cast(p{j} % 64 as int))) <> 0"
        )
        for j in range(B.BLOOM_K)
    ]
    definitely_clean = probe.filter(~reduce(lambda a, b: a & b, hits)).select(
        "user_id"
    )
    flagged = B._flagged(spark, sf)
    leaked = definitely_clean.join(flagged, "user_id", "inner").count()
    assert leaked == 0


def test_bpe_learn_greedy_merge_semantics(spark, tmp_path):
    """BPE on a hand-checkable corpus: 'aaaa aaaa ab' — round 0 must merge
    (a,a) with GREEDY non-overlapping count 4 (two per 'aaaa', never 3), and
    the merged token must then pair again in later rounds."""
    docs = spark.createDataFrame(
        [(1, "aaaa aaaa ab", "en", "src", 12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    from event_stream_spark.datapipe.bpe import bpe_learn

    rows = [tuple(r) for r in bpe_learn(spark, str(tmp_path), rounds=3).collect()]
    # counting is OVERLAPPING (Sennrich get_stats): 'a|a|a|a|_' has (a,a) at
    # 3 indices, ×2 words = 6; the MERGE is then greedy non-overlapping:
    # 'a|a|a|a|_' → 'aa|aa|_' (two merges, never three)
    assert rows[0] == (0, "a", "a", 6)
    # round 1 counts: (aa,aa)=2, (aa,_)=2, (a,b)=1, (b,_)=1 — tie broken by
    # (l, r) ascending and '_' < 'aa', so (aa, _) wins → 'aa|aa_'
    assert rows[1] == (1, "aa", "_", 2)
    # round 2: (aa, aa_)=2 wins over the 'ab' singletons
    assert rows[2] == (2, "aa", "aa_", 2)


def test_ann_join_recovers_planted_neighbors(spark, tmp_path):
    """Capability gate for the batched ANN join: each query vector is a
    small perturbation of one corpus vector (cosine ≈ 0.97+); the banded
    OR-amplified LSH join must recover that true nearest neighbor as rank 1
    for the overwhelming majority of queries (random hyperplanes leave a
    small per-query miss probability; 4 bands x 8 bits bounds it low)."""
    import numpy as np

    rng = np.random.default_rng(23)
    n_q = 16
    corpus = rng.standard_normal((120, 64))
    rows = []
    # queries: vec_id 0..15, perturbed copies of corpus vectors 16..31
    for i in range(n_q):
        q = corpus[i] + 0.12 * rng.standard_normal(64)
        rows.append((i, [float(x) for x in q], 0))
    for j, v in enumerate(corpus):
        rows.append((n_q + j, [float(x) for x in v], 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    emb.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    from event_stream_spark.datapipe.similarity import ann_join

    top1 = {
        r["query_id"]: r["cand_id"]
        for r in ann_join(spark, str(tmp_path)).filter("rank = 1").collect()
    }
    hits = sum(1 for i in range(n_q) if top1.get(i) == n_q + i)
    assert hits >= 13, f"only {hits}/16 planted neighbors recovered: {top1}"


def test_bm25_ranks_matching_docs(spark, dup_corpus):
    """Docs containing the query terms rank ahead; scores strictly ordered
    within a query; rank is contiguous from 1."""
    from event_stream_spark.datapipe.retrieval import bm25_topk

    rows = bm25_topk(
        spark, dup_corpus, queries=[(7, "spark partitions"), (8, "lazy dog")], k=3
    ).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    # "spark partitions" only matches docs 4 and 5
    assert [r.doc_id for r in by_q[7]] and {r.doc_id for r in by_q[7]} <= {4, 5}
    for rs in by_q.values():
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert all(a.score >= b.score for a, b in zip(rs, rs[1:]))


def test_pagerank_mass_and_centrality(spark, dup_corpus):
    """PageRank over the near-dup graph: probability mass ~1, every node has
    deg >= 1, and the better-connected node outranks a leaf."""
    from event_stream_spark.datapipe.graph import graph_pagerank

    rows = graph_pagerank(spark, dup_corpus).collect()
    assert rows, "planted near-dups must produce a graph"
    assert abs(sum(r.pr for r in rows) - 1.0) < 1e-3
    assert all(r.deg >= 1 for r in rows)
    pr = {r.doc_id: r.pr for r in rows}
    deg = {r.doc_id: r.deg for r in rows}
    # docs 1,2,3 form a near-dup triangle; any leaf attached elsewhere ranks lower
    top_deg = max(deg.values())
    assert max(pr, key=pr.get) in {d for d, g in deg.items() if g == top_deg}


def test_collocations_finds_adjacent_pairs(spark, dup_corpus):
    """Repeated adjacent word pairs from the planted dup docs surface with
    positive PMI and counts >= min_count."""
    from event_stream_spark.datapipe.retrieval import collocations

    rows = collocations(spark, dup_corpus, min_count=2, k=20).collect()
    pairs = {(r.w1, r.w2) for r in rows}
    assert ("quick", "brown") in pairs or ("brown", "fox") in pairs
    assert all(r.pair_cnt >= 2 for r in rows)
    # sorted by pmi desc then keys
    pmis = [r.pmi for r in rows]
    assert pmis == sorted(pmis, reverse=True) or len(set(pmis)) < len(pmis)


def test_mmr_rerank_diversifies(spark, tmp_path):
    """Two near-identical high-relevance candidates: pure relevance ranks
    them 1-2, but MMR's second pick must jump to the diverse candidate."""
    from event_stream_spark.datapipe.retrieval import mmr_rerank

    q = [1.0, 0.0, 0.0, 0.0] * 16
    c1 = [0.7, 0.7, 0.0, 0.0] * 16              # relevant
    c2 = [0.7, 0.701, 0.0, 0.0] * 16            # near-identical to c1
    c3 = [0.7, -0.7, 0.0, 0.0] * 16             # equally relevant, orthogonal to c1
    vecs = [(0, q), (1, c1), (2, c2), (3, c3)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in vecs],
        "vec_id long, embedding array<float>, label int",
    )
    emb.coalesce(1).write.parquet(f"{tmp_path}/embeddings.parquet")

    rows = mmr_rerank(spark, str(tmp_path), n_queries=1, n_cand=3, k=2, lam=0.5).collect()
    assert [r.mmr_rank for r in rows] == [1, 2]
    assert rows[0].vec_id == 1          # relevance argmax (exact match, smaller id)
    assert rows[1].vec_id == 3          # NOT the twin (vec 2): diversity penalty wins


def test_lm_score_bigram_orders_predictability(spark, tmp_path):
    """A doc whose bigrams are deterministic (x always followed by y) must
    score lower surprisal than one whose contexts branch (a followed by
    b/c/d equally) — the core LM-quality-ordering property."""
    from event_stream_spark.datapipe.corpusops import lm_score_bigram

    docs = spark.createDataFrame(
        [
            (1, "x y x y x y x y", "en", "s", 15),
            (2, "a b a c a d a e", "en", "s", 15),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    rows = {r.doc_id: r for r in lm_score_bigram(spark, str(tmp_path)).collect()}
    assert rows[1].n_bigrams == 7 and rows[2].n_bigrams == 7
    assert rows[1].surprisal_p6 < rows[2].surprisal_p6


def test_containment_catches_subset_dup_jaccard_misses(spark, tmp_path):
    """A short doc fully embedded in a much larger one: containment flags
    the (excerpt -> container) direction, while symmetric jaccard at the
    same threshold misses the pair entirely."""
    from event_stream_spark.datapipe.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    excerpt = "alpha bravo charlie delta echo foxtrot golf hotel"
    filler = " ".join(f"pad{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, excerpt, "en", "s", len(excerpt)),
            (2, f"{filler} {excerpt} {filler}", "en", "s", 200),
            (3, "totally unrelated words about something else entirely here", "en", "s", 58),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    sf = str(tmp_path)
    cont = {(r.a, r.b) for r in containment_pairs(spark, sf, threshold=0.8).collect()}
    assert (1, 2) in cont  # excerpt contained in container
    jacc = {(r.a, r.b) for r in ngram_jaccard_pairs(spark, sf, threshold=0.8).collect()}
    assert (1, 2) not in jacc  # symmetric measure dilutes to ~|A|/|B|


def test_dedup_exact_norm_collapses_rewrapped_copies(spark, tmp_path):
    """Docs identical up to case/whitespace/punctuation collapse into one
    normalized group flagged norm_only; byte-exact dedup keeps them apart."""
    from event_stream_spark.datapipe.dedup import dedup_exact, dedup_exact_norm

    docs = spark.createDataFrame(
        [
            (1, "Hello,   world! This is   fine.", "en", "s", 30),
            (2, "hello world this is fine", "en", "s", 24),
            (3, "something else entirely", "en", "s", 23),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    sf = str(tmp_path)
    raw = dedup_exact(spark, sf).collect()
    assert len(raw) == 3  # byte-exact sees three distinct texts
    norm = {r.doc_id: r for r in dedup_exact_norm(spark, sf).collect()}
    assert set(norm) == {1, 3}
    assert norm[1].n_copies == 2 and norm[1].norm_only
    assert norm[3].n_copies == 1 and not norm[3].norm_only


def test_lsh_plan_justifies_minhash_parameters():
    """The S-curve optimizer reproduces dedup_minhash's published (4, 4)
    banding at t=0.5/16 hashes, shifts toward longer bands for stricter
    thresholds, and its error terms behave like probabilities."""
    from event_stream_spark.datapipe.text import lsh_plan

    b, r, fp, fn = lsh_plan(0.5, 16)
    assert (b, r) == (4, 4)
    assert 0 <= fp <= 1 and 0 <= fn <= 1

    b_hi, r_hi, _, _ = lsh_plan(0.9, 16)
    assert r_hi >= r  # stricter threshold → longer bands (fewer FPs)
    b_lo, r_lo, _, _ = lsh_plan(0.2, 16)
    assert r_lo <= r  # looser threshold → shorter bands (fewer FNs)


def test_dup_spans_clean_removes_planted_spans(spark, span_corpus):
    """Span removal on the planted corpus: doc 1 (wholly shared) empties,
    doc 2 loses exactly its shared 6-word prefix, doc 3 is untouched."""
    import hashlib

    from event_stream_spark.datapipe import dup_spans_clean

    rows = {r["doc_id"]: r for r in dup_spans_clean(spark, span_corpus).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert rows[1]["n_words"] == 6 and rows[1]["n_removed"] == 6
    assert rows[1]["clean_digest"] == md5("")
    assert rows[2]["n_words"] == 11 and rows[2]["n_removed"] == 6
    assert rows[2]["clean_digest"] == md5("eta theta iota kappa lambda")
    assert rows[3]["n_removed"] == 0
    assert rows[3]["clean_digest"] == md5(
        "one two three four five six seven eight nine ten"
    )


def test_dsir_weights_separate_target_vocabulary(spark, tmp_path_factory):
    """DSIR importance weights: docs drawn from the high-quality slice's
    vocabulary score positive (keep), docs from a disjoint low-quality
    vocabulary score negative (drop)."""
    from event_stream_spark.datapipe import dsir_weights

    base = tmp_path_factory.mktemp("dsirdata")
    good = " ".join(["alpha beta gamma delta epsilon"] * 10)  # 50 words, q=1.0
    bad = "zxq1 zxq2 zxq3 zxq4 zxq5"  # 5 words → quality 0.1 < 0.5
    docs = spark.createDataFrame(
        [(1, good, "en", "s", len(good)), (2, good, "en", "s", len(good)),
         (3, bad, "en", "s", len(bad)), (4, bad, "en", "s", len(bad))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{base}/documents.parquet")

    rows = {r["doc_id"]: r for r in dsir_weights(spark, str(base)).collect()}
    assert rows[1]["keep"] and rows[2]["keep"]
    assert rows[1]["dsir_p6"] > 0
    assert not rows[3]["keep"] and not rows[4]["keep"]
    assert rows[3]["dsir_p6"] < 0
    assert rows[3]["n_words"] == 5 and rows[1]["n_words"] == 50


def test_char_dup_spans_interval_union(spark, tmp_path_factory):
    """Character-level duplicated-span coverage merges overlapping hit
    intervals into maximal islands: an exact copy covers its whole length,
    a doc sharing one embedded substring covers exactly that window, and
    within-doc-only repeats do NOT count (cross-doc signal)."""
    from event_stream_spark.datapipe import char_dup_spans
    from event_stream_spark.datapipe.corpusops import CHAR_SPAN_N

    base = tmp_path_factory.mktemp("chardata")
    shared = "abcdefghijklmnopqrstuvwxyz0123456789ABCD"  # 40 chars
    texts = {
        1: shared,                       # wholly duplicated (in doc 2)
        2: "XX" + shared + "YY",         # contains doc 1 + unique ends
        3: "q" * 60,                     # self-repetitive but UNIQUE to doc 3
        4: "totally different content here with no overlap at all!!",
    }
    docs = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{base}/documents.parquet")

    rows = {r["doc_id"]: r for r in char_dup_spans(spark, str(base)).collect()}
    # doc 1: every position is in a shared 20-gram → full coverage, 1 island
    assert rows[1]["dup_chars"] == 40 and rows[1]["n_islands"] == 1
    assert rows[1]["char_frac"] == 1.0 and rows[1]["char_flagged"]
    # doc 2: exactly the embedded 40-char window is covered (positions 3..42)
    assert rows[2]["dup_chars"] == 40 and rows[2]["n_islands"] == 1
    assert rows[2]["char_flagged"]  # 40/44 > 0.5
    # doc 3: repeats only within itself → no cross-doc duplication
    assert rows[3]["dup_chars"] == 0 and rows[3]["n_islands"] == 0
    assert rows[4]["dup_chars"] == 0


def test_char_dup_spans_touching_intervals_merge(spark, tmp_path_factory):
    """Adjacent (touching, non-overlapping) covered windows form ONE
    maximal island — pos == prev_end + 1 must not start a new island."""
    from event_stream_spark.datapipe import char_dup_spans

    base = tmp_path_factory.mktemp("touchdata")
    seg1 = "AAAABBBBCCCCDDDDEEEE"  # 20 chars
    seg2 = "FFFFGGGGHHHHIIIIJJJJ"  # 20 chars
    texts = {
        1: seg1 + seg2,              # the two shared windows TOUCH
        2: seg1 + " 1 one unique tail here",
        3: seg2 + " 2 another unique tail",
    }
    docs = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{base}/documents.parquet")

    rows = {r["doc_id"]: r for r in char_dup_spans(spark, str(base)).collect()}
    assert rows[1]["dup_chars"] == 40
    assert rows[1]["n_islands"] == 1  # touching windows merged


def test_source_overlap_matrix(spark, tmp_path_factory):
    """Cross-source overlap: two feeds sharing a crawled page overlap by
    exactly its shingles; disjoint feeds produce NO pair row."""
    from event_stream_spark.datapipe import source_overlap

    base = tmp_path_factory.mktemp("srcdata")
    page = "alpha beta gamma delta epsilon zeta"  # 2 distinct 5-grams
    texts = [
        (1, page, "feedA"),
        (2, page + " eta theta iota kappa lambda", "feedB"),  # 7 grams, 2 shared
        (3, "one two three four five six", "feedC"),  # disjoint
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in texts],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{base}/documents.parquet")

    rows = {(r.src_a, r.src_b): r for r in source_overlap(spark, str(base)).collect()}
    assert set(rows) == {("feedA", "feedB")}  # only the overlapping pair
    r = rows[("feedA", "feedB")]
    assert r.n_shared == 2
    assert r.overlap == 1.0  # |A∩B| / min(|A|,|B|) = 2/2


def _py_winnow(text: str):
    """Independent winnowing reference mirroring the operator's packed-int
    contract: 20-char gram md5 anchors, window 8, rightmost-min ties."""
    import hashlib

    N, W, PB, HM = 20, 8, 24, 1 << 39
    pos_cap = (1 << PB) - 1
    grams = [
        (i + 1, int(hashlib.md5(text[i:i + N].encode()).hexdigest()[:15], 16))
        for i in range(max(len(text) - N + 1, 0))
    ]
    pks = [(p, (g % HM) * (1 << PB) + (pos_cap - p)) for p, g in grams]
    winners = set()
    for idx, (p, _pk) in enumerate(pks):
        if p >= W or p == pks[-1][0]:
            window = pks[max(0, idx - W + 1):idx + 1]
            winners.add(min(pk for _p, pk in window))
    fps = sorted(
        (pos_cap - (wn % (1 << PB)), wn >> PB) for wn in winners
    )
    joined = ",".join(f"{p}:{h}" for p, h in fps)
    import hashlib as _h

    return fps, _h.md5(joined.encode()).hexdigest()


def test_winnow_fingerprints_reference_and_guarantee(spark, tmp_path_factory):
    """The operator matches an independent python winnowing implementation
    digest-for-digest, and the MOSS guarantee holds: two docs sharing a
    substring of length ≥ N+W-1 (= 27... here 39+) share a fingerprint."""
    from event_stream_spark.datapipe import winnow_fingerprints

    base = tmp_path_factory.mktemp("winnowdata")
    shared = "The quick brown fox jumps over the lazy dog again and again!"  # 60 chars
    texts = {
        1: "PREFIX-A " + shared + " SUFFIX-ALPHA",
        2: "a different beginning here " + shared + " and another ending",
        3: "completely unrelated text with nothing in common whatsoever.",
        4: "tiny",  # shorter than one gram → zero fingerprints
    }
    docs = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{base}/documents.parquet")

    rows = {r["doc_id"]: r for r in winnow_fingerprints(spark, str(base)).collect()}
    sets = {}
    for i, txt in texts.items():
        fps, digest = _py_winnow(txt)
        assert rows[i]["fp_digest"] == digest, i  # exact reference parity
        assert rows[i]["n_fingerprints"] == len(fps), i
        sets[i] = {h for _p, h in fps}
    assert rows[4]["n_fingerprints"] == 0
    # guarantee: the 60-char shared substring forces a shared fingerprint
    assert sets[1] & sets[2]
    assert not (sets[3] & sets[1])


def test_pq_adc_quality_and_codes(spark):
    """PQ sanity: the query vector's own row lands in the ADC top-10 (its
    quantization error is the floor of its own LUT distance sum), codes
    stay in [0, PQ_K), and the ADC distance of vec 0 is no larger than any
    other returned row's (it is the query)."""
    from event_stream_spark.datapipe.similarity import PQ_K, PQ_M, ann_pq_topk

    rows = ann_pq_topk(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 10
    ids = [r.vec_id for r in rows]
    assert 0 in ids, "query vector must retrieve itself"
    by_id = {r.vec_id: r for r in rows}
    assert by_id[0].adc_p6 == min(r.adc_p6 for r in rows)
    for r in rows:
        codes = [int(c) for c in r.codes.split(",")]
        assert len(codes) == PQ_M
        assert all(0 <= c < PQ_K for c in codes)


def test_lm_score_kn_continuation_property(spark, tmp_path):
    """The Kneser-Ney signature: a word frequent ONLY inside one
    collocation ("francisco", always after "san") gets a small
    continuation weight, so after a shared context it scores as LESS
    probable than an equally-discounted word seen after many distinct
    contexts ("the") — raw-frequency interpolation cannot make that
    distinction."""
    from event_stream_spark.datapipe.corpusops import lm_score_kn

    base = tmp_path / "kn"
    texts = {
        0: "san francisco san francisco san francisco san francisco",
        1: "aa the bb the cc the dd the",
        2: "of francisco",   # pc=1, backoff weighs continuation(francisco)
        3: "of the",         # pc=1, same left stats, continuation(the) >>
    }
    docs = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{base}/documents.parquet")
    rows = {r.doc_id: r for r in lm_score_kn(spark, str(base)).collect()}
    assert rows[2].n_bigrams == 1 and rows[3].n_bigrams == 1
    # "of francisco" must be MORE surprising than "of the"
    assert rows[2].surprisal_p6 > rows[3].surprisal_p6


def _py_lcs(a: str, b: str) -> int:
    """Quadratic DP reference: exact longest common substring length."""
    prev = [0] * (len(b) + 1)
    best = 0
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        for j in range(1, len(b) + 1):
            if a[i - 1] == b[j - 1]:
                cur[j] = prev[j - 1] + 1
                if cur[j] > best:
                    best = cur[j]
        prev = cur
    return best


def test_lcs_pairs_exact_against_dp_reference(spark, tmp_path):
    """The diagonal run-length identity gives the EXACT longest common
    substring for every pair sharing a 20-char gram — proved against an
    independent quadratic-DP reference on a corpus with engineered
    overlaps (a 40-char verbatim quote, a 21-char tail overlap, repeated
    shared grams at multiple positions, and an unrelated doc)."""
    from event_stream_spark.datapipe.corpusops import CHAR_SPAN_N, lcs_pairs

    base = tmp_path / "lcs"
    quote = "the five boxing wizards jump quickly at dawn"      # 45 chars
    tail = "abcdefghijklmnopqrstu"                               # 21 chars
    texts = {
        0: f"intro text before the quote {quote} and trailing words here",
        1: f"{quote} opens this one, then diverges completely afterwards",
        2: f"ends with the shared tail {tail}",
        3: f"{tail} starts this document then other content follows it",
        4: "nothing in common with anything else in this tiny corpus!!",
        # doc 5 shares the quote TWICE (two diagonals vs docs 0/1)
        5: f"first {quote} then filler and again {quote} closing",
    }
    docs = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{base}/documents.parquet")

    got = {(r.a, r.b): r.lcs_len for r in lcs_pairs(spark, str(base)).collect()}
    expected = {}
    ids = sorted(texts)
    for x in ids:
        for y in ids:
            if x < y:
                n = _py_lcs(texts[x], texts[y])
                if n >= CHAR_SPAN_N:
                    expected[(x, y)] = n
    assert got == expected
    assert got[(0, 1)] >= len(quote)  # the verbatim quote is recovered
    assert got[(2, 3)] == len(tail)
    assert not any(4 in p for p in got)


def test_text_readability_flesch_values(spark, tmp_path):
    """Readability math on constructed docs: a one-syllable-word sentence
    scores near the Flesch maximum; polysyllabic run-ons score far lower;
    syllable and sentence counting follow the declared heuristics."""
    from event_stream_spark.datapipe.textstats import text_readability

    base = tmp_path / "read"
    texts = {
        0: "the cat sat on the mat.",
        1: "internationalization considerations necessitate organizational "
           "prioritization of incomprehensibility evaluations",
    }
    docs = spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{base}/documents.parquet")
    rows = {r.doc_id: r for r in text_readability(spark, str(base)).collect()}
    r0 = rows[0]
    # "the cat sat on the mat." → 6 words, 1 sentence, 6 syllables
    assert (r0.n_words, r0.n_sentences, r0.n_syllables) == (6, 1, 6)
    expect0 = round((206.835 - 1.015 * 6.0 - 84.6 * 1.0) * 1e3)
    assert r0.ease_p3 == expect0
    r1 = rows[1]
    assert r1.n_sentences == 1  # no terminal punctuation → min 1
    assert r1.n_syllables > 3 * r1.n_words  # heavily polysyllabic
    assert r1.ease_p3 < 0 < r0.ease_p3  # run-on jargon vs simple prose
    assert r1.grade_p3 > r0.grade_p3


def test_pq_codebooks_refuse_tiny_table(spark, tmp_path):
    """Fewer than PQ_K vectors cannot seed the fixed-stride codebooks —
    the operator refuses with ValueError instead of mis-encoding."""
    import pytest

    from event_stream_spark.datapipe.similarity import PQ_K, pq_codebooks

    base = tmp_path / "tiny"
    rows = [(i, [float(i)] * 64) for i in range(PQ_K - 6)]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>") \
        .coalesce(1).write.parquet(f"{base}/embeddings.parquet")
    with pytest.raises(ValueError, match="at least PQ_K"):
        pq_codebooks(spark, str(base))


def test_neardup_kernel_ascii_whitespace_contract(spark):
    """The streaming signature kernel must split on ASCII whitespace only
    (Java \\s), not Unicode whitespace — a non-breaking space is part of
    a token in BOTH the batch relational path and the kernel."""
    from pyspark.sql import functions as F

    from event_stream_spark.datapipe.text import shingle_rows
    from event_stream_spark.streaming.neardup import band_keys_udf

    txt = "foo bar baz qux quux corge grault garply waldo"
    docs = spark.createDataFrame([(1, txt)], "doc_id long, text string")
    batch_shingles = {r.s for r in shingle_rows(docs, 3).collect()}
    assert any("foo bar" in s for s in batch_shingles)
    kern = docs.select(
        F.posexplode(band_keys_udf()(F.col("text"))).alias("band_id", "k")
    ).collect()
    # relational derivation of the same band keys (as in the parity test)
    from event_stream_spark.datapipe.dedup import _MH_A, _MH_B, _MH_P
    from event_stream_spark.datapipe.text import lsh_bands

    sh = shingle_rows(docs, 3)
    b = F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long")
    hashed = sh.select(
        "doc_id",
        *[((F.lit(_MH_A[i]) * b + F.lit(_MH_B[i])) % F.lit(_MH_P)).alias(f"h{i}")
          for i in range(16)],
    )
    sig = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(16)]
    ).select(
        "doc_id",
        F.array(*[F.col(f"m{i}").cast("string") for i in range(16)]).alias("sig"),
    )
    rel = {
        (r.band_id, r.k)
        for r in sig.select(
            F.posexplode(lsh_bands(F.col("sig"), 4, 4)).alias("band_id", "k")
        ).collect()
    }
    assert {(r.band_id, r.k) for r in kern} == rel


def test_ivfpq_codebook_is_not_degenerate(spark):
    """The residual codebooks must carry information: mid-stride seeds
    guarantee non-zero codewords (seeding at the coarse-seed ids makes
    every residual — and thus every codeword and every code — zero, a
    degenerate index that still passes oracle parity because both engines
    replay the same degeneracy; caught by review r5)."""
    import numpy as np

    from event_stream_spark.datapipe.similarity import (
        ivfpq_codebooks,
        ivfpq_codes,
    )

    sf = "/root/testdata/sf0.001"
    cb = np.asarray(ivfpq_codebooks(spark, sf))
    assert np.abs(cb).max() > 0.01, "residual codewords are ~zero"
    # codes spread across the codebook, not constant
    codes = ivfpq_codes(spark, sf).select("code_0", "code_1").collect()
    assert len({r.code_0 for r in codes}) > 4
    assert len({r.code_1 for r in codes}) > 4


def test_ivfpq_residual_quality(spark):
    """IVFADC retrieval sanity on a NON-seed probe contract: candidates
    come only from probed lists, ADC orders them, and the top-10 by ADC
    recovers the true L2 nearest neighbor among the probed lists'
    candidates (exact distances recomputed independently in numpy)."""
    import numpy as np

    from event_stream_spark.datapipe.similarity import (
        IVF_NPROBE,
        _materialized_assignments,
        _probe_lists,
        _query_vector,
        ann_ivfpq_topk,
    )

    sf = "/root/testdata/sf0.001"
    rows = ann_ivfpq_topk(spark, sf).collect()
    assert len(rows) == 10
    assert len({r.list_id for r in rows}) <= IVF_NPROBE

    assigned, centroids = _materialized_assignments(spark, sf)
    q = np.asarray(_query_vector(spark, sf))
    probed = set(_probe_lists(centroids, list(q), IVF_NPROBE))
    assert {r.list_id for r in rows} <= probed
    cand = assigned.filter(assigned.list_id.isin(list(probed))).collect()
    exact = sorted(
        (float(((np.asarray([float(x) for x in r.embedding]) - q) ** 2).sum()), r.vec_id)
        for r in cand
    )
    top_ids = {r.vec_id for r in rows}
    assert exact[0][1] in top_ids, "ADC top-10 must recover the true probed NN"


def test_boilerplate_lines_per_source_rule(spark, tmp_path):
    """Boilerplate is a PER-SOURCE property: a window repeated across
    BOILER_MIN_DOCS docs of source A is removed from every A doc, while
    the same window appearing once in source B survives there; a doc
    that is pure furniture empties out (NULL digest, the RefinedWeb
    empty shell)."""
    from event_stream_spark.datapipe.webops import (
        PARA_WORDS,
        boilerplate_lines,
    )

    menu = " ".join(f"nav{i}" for i in range(PARA_WORDS))
    uniq = lambda d: " ".join(f"w{d}x{i}" for i in range(PARA_WORDS))
    texts = {
        0: f"{menu} {uniq(0)}",          # A: menu + content
        1: f"{menu} {uniq(1)}",          # A: menu + content
        2: menu,                          # A: pure furniture → empty shell
        3: f"{menu} {uniq(3)}",          # B: menu once here → SURVIVES
        4: uniq(4),                       # B: no boilerplate at all
    }
    src = {0: "A", 1: "A", 2: "A", 3: "B", 4: "B"}
    base = tmp_path / "boiler"
    spark.createDataFrame(
        [(i, t, "en", src[i], len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{base}/documents.parquet")

    rows = {r.doc_id: r for r in boilerplate_lines(spark, str(base)).collect()}
    assert rows[0].n_boiler == 1 and rows[0].n_kept == 1
    assert rows[1].n_boiler == 1 and rows[1].n_kept == 1
    assert rows[2].n_boiler == 1 and rows[2].n_kept == 0
    assert rows[2].clean_md5 is None
    # source B keeps the menu: it is not boilerplate THERE
    assert rows[3].n_boiler == 0 and rows[3].n_kept == 2
    assert rows[4].n_boiler == 0


def test_char_entropy_bounds_and_values(spark, tmp_path):
    """Entropy semantics: a single repeated character scores exactly 0,
    a uniform alphabet scores exactly ln(k), and natural text sits
    between — with the exact integer-scaled values pinned."""
    import math

    from event_stream_spark.datapipe.textstats import char_entropy

    base = tmp_path / "ent"
    texts = {
        0: "aaaaaaaaaaaaaaaa",          # H = 0
        1: "abcdabcdabcdabcd",          # uniform over 4 → ln(4)
        2: "the quick brown fox",       # natural text
    }
    docs = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(f"{base}/documents.parquet")
    rows = {r.doc_id: r for r in char_entropy(spark, str(base)).collect()}
    assert rows[0].entropy_p6 == 0 and rows[0].alphabet == 1
    assert rows[1].entropy_p6 == round(math.log(4) * 1e6)
    assert rows[1].alphabet == 4
    assert 0 < rows[2].entropy_p6 < round(math.log(rows[2].alphabet) * 1e6) + 1
    assert rows[2].n_chars_counted == len(texts[2])


def test_dedup_soft_weights_planted_duplicates(spark, tmp_path):
    """Soft-dedup commonness: unique doc keeps weight 1.0, a duplicated pair
    is down-weighted to exactly 0.5, and a shingle-less short doc defaults
    to unique rather than dropping out."""
    from event_stream_spark.datapipe.dedup import dedup_soft

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "en", "s", 22),
            (2, "one two three four", "en", "s", 18),
            (3, "one two three four", "en", "s", 18),
            (4, "tiny doc", "en", "s", 8),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    rows = {r.doc_id: r for r in dedup_soft(spark, str(tmp_path)).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1].n_shingles == 2
    assert rows[1].commonness_p6 == 1_000_000 and rows[1].weight_p6 == 1_000_000
    for d in (2, 3):
        assert rows[d].n_shingles == 2
        assert rows[d].commonness_p6 == 2_000_000
        assert rows[d].weight_p6 == 500_000
    assert rows[4].n_shingles == 0
    assert rows[4].commonness_p6 == 1_000_000 and rows[4].weight_p6 == 1_000_000


def test_semantic_decon_flags_planted_paraphrase(spark, tmp_path):
    """A training vector colinear with an eval vector (cosine 1.0) is
    flagged even though no n-gram overlaps; an orthogonal one is not."""
    from event_stream_spark.datapipe.similarity import decontaminate_semantic

    dim = 8
    ev = [1.0] + [0.0] * (dim - 1)          # vec_id 0 -> eval slice
    near = [0.9] + [0.0] * (dim - 1)        # colinear: cosine 1.0
    orth = [0.0, 1.0] + [0.0] * (dim - 2)   # cosine 0.0
    rows = [(0, ev, 0), (1, near, 0), (2, orth, 0)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{tmp_path}/embeddings.parquet")
    out = {r.vec_id: r for r in decontaminate_semantic(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2}  # eval vector itself is excluded
    assert out[1].contaminated and out[1].max_eval_sim == 1.0
    assert not out[2].contaminated and out[2].max_eval_sim == 0.0


def test_suffix_lrs_planted_repeats(spark, tmp_path):
    """Exact longest-repeated-substring on a planted corpus: 'banana '
    appears in docs 1 and 2 ('banana 'x2 in doc 1 internally), doc 3 is
    unrelated — values verified against a quadratic brute force."""
    from event_stream_spark.datapipe.suffix import suffix_lrs

    docs = [(1, "banana split banana"), (2, "banana boat"), (3, "zzz unrelated text")]
    spark.createDataFrame(
        [(d, s, "en", "s", len(s)) for d, s in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r.doc_id: (r.lrs_len, r.n_dup_suffixes) for r in suffix_lrs(spark, str(tmp_path)).collect()}
    # doc1's ' banana' suffix matches doc1's own later ' banana'? No —
    # brute truth (computed by character comparison): lrs 7 = 'banana '
    # vs doc2 / internal repeat; doc3 only shares short fragments
    assert out == {1: (7, 0), 2: (7, 0), 3: (2, 0)}


def test_suffix_lrs_full_long_repeats_beyond_cap(spark, tmp_path):
    """The full-text path (prefix-doubling SA, two-phase LCP) measures
    repeats the 64-char capped entry structurally cannot: a 150-char
    verbatim quote shared by two docs reports lrs_len 150 (the Arrow
    exact-LCP branch), while the capped path saturates at its bound.
    Short-repeat docs agree between the two paths (the codegen chain
    branch is byte-identical logic)."""
    from event_stream_spark.datapipe.suffix import suffix_lrs, suffix_lrs_full

    quote = (
        "it was the best of times it was the worst of times it was the "
        "age of wisdom it was the age of foolishness it was the epoch "
        "of belief xyz"
    )
    assert len(quote) == 136  # > 2x the 64-char cap
    docs = [
        (1, "doc one begins here. " + quote),
        (2, quote + " and doc two diverges after."),
        (3, "banana split banana"),
        (4, "zzz unrelated text"),
    ]
    spark.createDataFrame(
        [(d, s, "en", "s", len(s)) for d, s in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    full = {
        r.doc_id: (r.lrs_len, r.n_dup_suffixes)
        for r in suffix_lrs_full(spark, str(tmp_path)).collect()
    }
    assert full[1][0] == 136 and full[2][0] == 136  # the whole quote
    assert full[3] == (6, 0) and full[4] == (2, 0)  # 'banana' internal
    capped = {
        r.doc_id: r.lrs_len for r in suffix_lrs(spark, str(tmp_path)).collect()
    }
    # the capped entry saturates at 64+ on the long quote: every one of
    # its first chars starts a >=64-char repeat, but the true length is
    # invisible to it
    assert capped[1] < 136 and full[1][0] == 136
    # n_dup_suffixes: every suffix of the quote inside doc 1 shares
    # >= SUFFIX_DUP_MIN chars with doc 2's copy (tail under 20 chars ends
    # the run)
    assert full[1][1] >= 110


def test_suffix_doubling_matches_direct_sort(spark):
    """The prefix-doubling scale path orders suffixes identically to the
    direct capped-suffix sort (same SA permutation under the same
    (rank, doc_id, pos) tiebreak) — the contract that lets suffix_lrs use
    the one-sort fast path at this cap."""
    from event_stream_spark.datapipe.suffix import (
        _row_number2,
        suffix_order,
        suffix_sa_direct,
    )

    sfd = "/root/testdata/sf0.001"
    top, n, m = suffix_order(spark, sfd)
    via_doubling = _row_number2(top, ["r", "doc_id", "pos"], "sp")
    a = {(r.doc_id, r.pos): r.sp for r in via_doubling.collect()}
    b = {(r.doc_id, r.pos): r.sp for r in suffix_sa_direct(spark, sfd).collect()}
    assert len(a) == len(b) == n
    # ties (identical capped suffixes) may order differently between the
    # two paths ONLY among equal suffixes — but both use (doc_id, pos) as
    # the final tiebreak, so the permutations must be identical
    assert a == b


def test_cdc_chunks_survive_prefix_insertion(spark, tmp_path):
    """Content-defined boundaries re-synchronize after an insertion: a doc
    that is another doc plus an injected prefix still shares most of its
    chunks (fixed-width chunking would misalign every boundary)."""
    from event_stream_spark.datapipe.corpusops import cdc_chunks

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "sailors navigate the harbor under a copper sky and the market "
        "vendors argue about the price of salted fish near the old stone "
        "bridge that crosses the winding river every autumn morning"
    )
    docs = [
        (1, base),
        (2, "INSERTED PREAMBLE >>> " + base),
        (3, "completely different content about astronomy telescopes and "
            "the orbital mechanics of binary star systems far away"),
    ]
    spark.createDataFrame(
        [(d, s, "en", "s", len(s)) for d, s in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r.doc_id: r for r in cdc_chunks(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 3}
    # the shared tail re-synchronizes: both copies flag most bytes dup
    assert out[1].dup_byte_frac_p6 > 500_000
    assert out[2].dup_byte_frac_p6 > 500_000
    # the unrelated doc shares nothing
    assert out[3].dup_chunks == 0 and out[3].dup_byte_frac_p6 == 0


def test_bpe_fertility_single_merge_arithmetic(spark, tmp_path):
    """Exact fertility arithmetic on a corpus where the merge table is
    predictable: 'aa aa aa' vs 'zz' — after 6 merge rounds every learned
    symbol comes from the dominant 'aa_' pattern, and fertility is the
    exact tokens/words ratio in integer-scaled form."""
    from event_stream_spark.datapipe.bpe import bpe_fertility

    docs = [
        (1, "aa aa aa aa aa aa aa aa", "en", "s", 23),
        (2, "zq zq", "de", "s", 5),
    ]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r.lang: r for r in bpe_fertility(spark, str(tmp_path)).collect()}
    assert set(out) == {"en", "de"}
    # 'aa_' fully merges into one symbol within 6 rounds -> fertility 1.0
    assert out["en"].n_words == 8
    assert out["en"].fertility_p6 == 1_000_000
    # chars_per_token: 2 chars per 'aa' word, 1 token each -> exactly 2.0
    assert out["en"].chars_per_token_p6 == 2_000_000
    # every n_* is internally consistent
    assert out["de"].n_words == 2 and out["de"].n_chars == 4


def test_curriculum_order_stage_monotone(spark):
    """Stages are monotone in surprisal and roughly balanced deciles."""
    from event_stream_spark.datapipe.corpusops import curriculum_order

    rows = curriculum_order(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 500
    by_stage = {}
    for r in rows:
        by_stage.setdefault(r.stage, []).append(r.surprisal_p6)
    assert set(by_stage) == set(range(10))
    # monotone: every score in stage s <= every score in stage s+2
    for s in range(8):
        assert max(by_stage[s]) <= min(by_stage[s + 2])
    # deciles are balanced within interpolation slack
    sizes = [len(v) for _, v in sorted(by_stage.items())]
    assert all(40 <= n <= 60 for n in sizes), sizes


def test_langid_confusion_fractions_sum(spark):
    """Per-label fractions sum to ~1e6 and counts reconcile with the
    corpus size."""
    from event_stream_spark.datapipe.textstats import langid_confusion

    rows = langid_confusion(spark, "/root/testdata/sf0.01").collect()
    total = sum(r.n for r in rows)
    assert total == 500
    per_lang = {}
    for r in rows:
        per_lang.setdefault(r.lang, 0)
        per_lang[r.lang] += r.frac_p6
    for lang, s in per_lang.items():
        assert abs(s - 1_000_000) <= len(rows), (lang, s)


def test_triangle_counts_planted_graphs(spark):
    """Degree-oriented triangle counting on planted graphs: K4 (every node
    in C(3,2)=3 triangles, clustering 1.0), a path (zero), and a hub star
    plus one closing edge (exactly one triangle, found once)."""
    from event_stream_spark.datapipe.graph import triangle_counts

    k4 = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    path = [(10, 11), (11, 12)]
    star = [(20, i) for i in range(21, 26)] + [(21, 22)]
    pairs = spark.createDataFrame(k4 + path + star, "a long, b long")
    rows = {r.node: r for r in triangle_counts(pairs).collect()}
    for n in range(4):
        assert rows[n].n_triangles == 3 and rows[n].clustering_p6 == 1_000_000
    assert rows[11].n_triangles == 0 and rows[11].clustering_p6 == 0
    # star hub: deg 5, exactly one triangle (20,21,22)
    assert rows[20].n_triangles == 1
    # clustering 2*1/(5*4) = 0.1
    assert rows[20].clustering_p6 == 100_000
    assert rows[21].n_triangles == 1 and rows[23].n_triangles == 0


def test_embed_outliers_flags_planted_corruption(spark, tmp_path):
    """Norm screen: a dead (all-zero) vector and a double-scaled vector
    among slightly-noisy near-unit peers are each flagged in their own
    corpus; the peers are not.  (One planted extreme per corpus: a z-score
    screen is maskable — a 10x outlier inflates sigma enough to hide a
    simultaneous dead vector, the documented limitation of moment-based
    outlier detection.)"""
    from event_stream_spark.datapipe.similarity import embed_outliers

    dim = 4

    def corpus(path, bad_vec):
        rows = [(i, [0.5 + 0.0005 * i] * dim, 0) for i in range(40)]
        rows.append((100, bad_vec, 0))
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).coalesce(1).write.parquet(f"{path}/embeddings.parquet")

    dead = str(tmp_path / "dead")
    corpus(dead, [0.0] * dim)
    out = {r.vec_id: r for r in embed_outliers(spark, dead).collect()}
    assert out[100].outlier and out[100].norm_p6 == 0
    assert not any(out[i].outlier for i in range(40))
    assert out[0].norm_p6 == 1_000_000

    scaled = str(tmp_path / "scaled")
    corpus(scaled, [5.0] * dim)
    out = {r.vec_id: r for r in embed_outliers(spark, scaled).collect()}
    assert out[100].outlier and out[100].norm_p6 == 10_000_000
    assert not any(out[i].outlier for i in range(40))


def test_text_novelty_first_doc_claims_grams(spark, tmp_path):
    """Novelty: the first doc of a duplicated pair is fully novel, its
    copy fully derivative; an unrelated doc is fully novel."""
    from event_stream_spark.datapipe.textstats import text_novelty

    docs = [
        (1, "one two three four"),
        (2, "one two three four"),
        (3, "totally different fresh content"),
        (4, "xy"),  # shingle-less
    ]
    spark.createDataFrame(
        [(d, s, "en", "s", len(s)) for d, s in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    out = {r.doc_id: r for r in text_novelty(spark, str(tmp_path)).collect()}
    assert out[1].novelty_p6 == 1_000_000
    assert out[2].novelty_p6 == 0 and out[2].n_novel == 0
    assert out[3].novelty_p6 == 1_000_000
    assert out[4].n_shingles == 0 and out[4].novelty_p6 == 1_000_000


def test_weighted_sample_tracks_weights(spark, tmp_path):
    """Efraimidis–Spirakis: selection probability tracks weight — docs
    with 50× the length are selected far more often than short ones, and
    the sample is exactly k, deterministic across invocations."""
    from event_stream_spark.datapipe.shuffleops import corpus_sample_weighted

    rows = []
    for i in range(400):
        heavy = i % 2 == 0
        rows.append((i, "x", "en", "s", 5000 if heavy else 100))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    got = corpus_sample_weighted(spark, str(tmp_path), k=100).collect()
    assert len(got) == 100
    heavy_n = sum(1 for r in got if r.n_chars == 5000)
    assert heavy_n >= 85  # 50x weight ratio -> overwhelmingly heavy docs
    again = corpus_sample_weighted(spark, str(tmp_path), k=100).collect()
    assert [r.doc_id for r in got] == [r.doc_id for r in again]


def test_quality_gopher_rules(spark, tmp_path):
    """Each Gopher rule trips independently on a planted doc: the healthy
    doc passes every rule, then one doc per rule fails ONLY that rule
    (each failing doc is checked to pass the other four)."""
    from event_stream_spark.datapipe.textstats import quality_gopher

    base = tmp_path / "gopher"
    healthy = (
        "the quick brown foxes jumped over and beyond the lazy dogs "
        "while the birds of prey watched " * 4
    )  # 64 words, mean word len in band, distinct stops: the/and/of
    texts = {
        0: healthy,
        # < 50 words, but stop-rich, alpha, mean length 3.0, no symbols
        1: "the cat and dog sat",
        # 62 words of length 2 -> mean word len 200 < 300; to/of = 2 stops
        2: "to of " + "ab " * 60,
        # symbols INSIDE alphabetic words: alpha stays 100%, ratio > 0.1
        3: healthy + " x## y## z## x## y## z## x## y##",
        # 3/53 alphabetic words; word count, stops, mean length all fine
        4: "the of and " + "1234 " * 50,
        # 55 alpha words, mean length 3.0, zero words from the Gopher list
        5: "cat dog mat sun run fox hen cow pig owl bat " * 5,
    }
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{base}/documents.parquet")
    rows = {r.doc_id: r for r in quality_gopher(spark, str(base)).collect()}

    def rule_flags(r):
        return {
            "words": 50 <= r.n_words <= 100_000,
            "mean_wl": 300 <= r.mean_wl_c <= 1000,
            "sym": r.sym_ppm <= 100_000,
            "alpha": r.alpha_ppm >= 800_000,
            "stops": r.stop_distinct >= 2,
        }

    assert rows[0].gopher_pass and all(rule_flags(rows[0]).values())
    for doc_id, only_fail in [(1, "words"), (2, "mean_wl"), (3, "sym"),
                              (4, "alpha"), (5, "stops")]:
        flags = rule_flags(rows[doc_id])
        assert not rows[doc_id].gopher_pass, doc_id
        failed = [k for k, ok in flags.items() if not ok]
        assert failed == [only_fail], f"doc {doc_id}: failed {failed}"
    # the integer contract: ratios are exact floor-scaled BIGINTs
    assert rows[0].mean_wl_c == (sum(len(w) for w in healthy.split()) * 100) // len(
        healthy.split()
    )
    # distinct semantics: 'the' appears 12 times but counts once — the
    # healthy doc holds exactly {the, and, of} from the Gopher list
    assert rows[0].stop_distinct == 3


def test_text_diversity_ttr_and_hapax(spark, tmp_path):
    """TTR/hapax exactness: all-same-word doc → TTR 1/n and 0 hapaxes;
    all-distinct doc → TTR 1.0 and all hapaxes; empty doc → zeros."""
    from event_stream_spark.datapipe.textstats import text_diversity

    base = tmp_path / "div"
    texts = {0: "word word word word", 1: "alpha beta gamma delta", 2: "", 3: "a a b"}
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{base}/documents.parquet")
    rows = {r.doc_id: r for r in text_diversity(spark, str(base)).collect()}
    assert rows[0].n_types == 1 and rows[0].ttr_ppm == 250_000 and rows[0].n_hapax == 0
    assert rows[1].ttr_ppm == 1_000_000 and rows[1].hapax_ppm == 1_000_000
    assert rows[2].n_words == 0 and rows[2].ttr_ppm == 0
    assert rows[3].n_types == 2 and rows[3].n_hapax == 1
    assert rows[3].hapax_ppm == 333_333  # floor(1e6/3): integer contract


def test_suffix_dedup_exact_span_coverage(spark, tmp_path):
    """ExactSubstr span semantics against hand-computed truth: a 30-char
    quote shared by two docs yields one merged [start, start+30) span in
    each (the per-position intervals [p, 31) all merge); two DISJOINT
    20-char shared blocks yield two spans of 20 chars each; a unique doc
    reports zero."""
    from event_stream_spark.datapipe.suffix import suffix_dedup

    q = "the cat sat on the mat today!!"
    assert len(q) == 30
    blk_a, blk_b = "aaaaabbbbbcccccddddd", "eeeeefffffggggghhhhh"
    docs = [
        (1, q + "Aunique tail of doc one"),
        (2, "PREFIX12 " + q + "Bother tail"),
        (3, "completely different text with no repeats at all"),
        (4, blk_a + "123456" + blk_b),
        (5, blk_b + "zyxwvu" + blk_a),
    ]
    spark.createDataFrame(
        [(d, s, "en", "s", len(s)) for d, s in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    out = {
        r.doc_id: (r.dup_chars, r.n_spans)
        for r in suffix_dedup(spark, str(tmp_path)).collect()
    }
    assert out == {1: (30, 1), 2: (30, 1), 3: (0, 0), 4: (40, 2), 5: (40, 2)}


import pytest as _pytest


@_pytest.mark.parametrize("case,docs", [
    # identical docs: every suffix ties to the end -> frozen groups
    ("identical", ["abcabcab"] * 4),
    # single-char runs of different lengths: maximal tie depth, every
    # comparison resolves only by the -1 shorter-suffix sentinel
    ("runs", ["a" * n for n in (1, 3, 7, 12)]),
    # tiny alphabet random + planted duplicates (seeded)
    ("random2", None),
    # mixed: empty-ish, shared prefixes, one unique doc
    ("mixed", ["ab", "ab", "abab", "ba", "zq", "a"]),
])
def test_segmented_doubling_order_identity_pathological(
    spark, tmp_path, case, docs
):
    """The segmented doubling build (group-start ranks, tied-set rounds,
    frozen exhausted-equal groups) must order suffixes identically to the
    direct capped-suffix sort on corpora chosen to stress exactly its
    edge cases — run with seed=2 so the recurrence executes MANY rounds
    instead of early-exiting at the 64-char seed."""
    import random

    from event_stream_spark.datapipe.suffix import (
        _row_number2,
        suffix_order,
        suffix_sa_direct,
    )

    if docs is None:
        rng = random.Random(13)
        docs = [
            "".join(rng.choice("ab") for _ in range(rng.randrange(1, 14)))
            for _ in range(12)
        ]
        docs += docs[:4]  # planted exact duplicates
    rows = [(i + 1, s, "en", "s", len(s)) for i, s in enumerate(docs)]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    sfd = str(tmp_path)
    top, n, m = suffix_order(spark, sfd, seed=2)
    assert n == sum(len(s) for s in docs)
    via = _row_number2(top, ["r", "doc_id", "pos"], "sp")
    a = {(r.doc_id, r.pos): r.sp for r in via.collect()}
    b = {(r.doc_id, r.pos): r.sp for r in suffix_sa_direct(spark, sfd).collect()}
    assert a == b, case
    # rank-class count never exceeds suffix count; equals it only when
    # no two capped suffixes are string-identical
    distinct_sfx = len({s[i:][:64] for s in docs for i in range(len(s))})
    assert m == distinct_sfx


def test_shard_checksum_exact_at_uint64_wrapping_sizes():
    """The position-weighted shard checksum must match an exact big-int
    computation even when the naive uint64 running sum would wrap mod
    2^64 (the DuckDB oracle sums in HUGEINT, so a silent wrap on the
    Spark side reds the parity gate only at production shard sizes)."""
    import numpy as np

    from event_stream_spark.datapipe.export import _CK_MOD, shard_checksum

    rng = np.random.default_rng(7)

    # small shard: sanity vs the obvious formula
    small = rng.integers(0, 1 << 16, size=1000, dtype=np.uint16)
    exact = sum(
        (i + 1) * (int(v) + 1) for i, v in enumerate(small)
    ) % _CK_MOD
    assert shard_checksum(small) == exact

    # wrap-inducing shard: all-max ids at 24M tokens pushes the naive
    # uint64 sum past 2^64 (~2^79 here); verify against exact arithmetic
    n = 24_000_000
    big = np.full(n, (1 << 16) - 1, dtype=np.uint16)
    naive = int(
        (
            np.arange(1, n + 1, dtype=np.uint64)
            * (big.astype(np.uint64) + 1)
        ).sum()
        % _CK_MOD
    )
    # closed form: 2^16 * n(n+1)/2
    exact_big = ((1 << 16) * n * (n + 1) // 2) % _CK_MOD
    assert shard_checksum(big) == exact_big
    assert naive != exact_big  # the wrap the fix closes

    # crossing a chunk boundary with mixed ids stays exact
    m = (1 << 24) + 12345
    mixed = rng.integers(0, 1 << 16, size=m, dtype=np.uint16)
    exact_mixed = (
        int(
            np.sum(
                np.arange(1, m + 1, dtype=object)
                * (mixed.astype(object) + 1)
            )
        )
        % _CK_MOD
    )
    assert shard_checksum(mixed) == exact_mixed


def test_bpe_token_shards_roundtrip_and_reconcile(spark, tmp_path):
    """Learned-vocab token shards: the BPE export writes the same trainer
    layout as the hash-vocab export (uint32 + vocab.json), its shards
    ROUND-TRIP through the learned merges back to the exact word stream,
    and its manifest token counts reconcile with bpe_tokenize per
    stratum and with bpe_fertility per language."""
    import json
    import os
    import re

    import numpy as np
    from pyspark.sql import functions as F

    from event_stream_spark.datapipe.bpe import (
        BPE_EOW,
        bpe_fertility,
        bpe_tokenize,
    )
    from event_stream_spark.datapipe.export import export_token_shards_bpe
    from event_stream_spark.datapipe.packing import SHARDS
    from event_stream_spark.queries import t

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "bpe_shards")
    vocab = export_token_shards_bpe(spark, sf, out)
    assert vocab == json.load(open(os.path.join(out, "vocab.json")))
    inv = {i: s for s, i in vocab.items()}

    names = sorted(f for f in os.listdir(out) if f.endswith(".npy"))
    assert names
    arrays = {}
    for n in names:
        arr = np.load(os.path.join(out, n))
        assert arr.dtype == np.uint32
        assert arr.size == 0 or int(arr.max()) < len(vocab)
        lang, shard = n[:-4].rsplit("-", 1)
        arrays[(lang, int(shard))] = arr

    # per-stratum counts == bpe_tokenize's per-doc counts, aggregated
    docs = t(spark, sf, "documents")
    tok = bpe_tokenize(spark, sf).join(
        docs.select(
            "doc_id", "lang", (F.col("doc_id") % SHARDS).alias("shard")
        ),
        "doc_id",
    )
    expected = {
        (r.lang, r.shard): r.total
        for r in tok.groupBy("lang", "shard")
        .agg(F.sum("n_bpe_tokens").alias("total"))
        .collect()
    }
    assert {k: len(a) for k, a in arrays.items()} == {
        k: int(v) for k, v in expected.items()
    }

    # ... and with bpe_fertility's per-language totals
    fert = {r.lang: r.n_tokens for r in bpe_fertility(spark, sf).collect()}
    by_lang: dict[str, int] = {}
    for (lang, _shard), a in arrays.items():
        by_lang[lang] = by_lang.get(lang, 0) + len(a)
    assert by_lang == {k: int(v) for k, v in fert.items()}

    # round-trip one stratum: ids -> symbols -> the exact word stream
    ws = re.compile(r"\s+", re.ASCII)
    (lang, shard), arr = max(arrays.items(), key=lambda kv: len(kv[1]))
    syms = [inv[i] for i in arr.tolist()]
    joined = "".join(syms)
    assert joined.endswith(BPE_EOW)
    got_words = joined[: -len(BPE_EOW)].split(BPE_EOW)
    rows = (
        docs.filter(
            (F.col("lang") == lang) & (F.col("doc_id") % SHARDS == shard)
        )
        .orderBy("doc_id")
        .collect()
    )
    want_words = [
        w
        for r in rows
        for w in ws.split((r.text or "").lower())
        if w
    ]
    assert got_words == want_words


