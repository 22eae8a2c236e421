"""Similarity search over the ``embeddings`` table (ARRAY<FLOAT>, 64-dim).

- ``ann_topk_brute``: exact top-k by cosine — one narrow scan + TakeOrdered
  (per-partition top-k, merge on driver).  The correctness baseline.
- ``ann_lsh_topk``: random-hyperplane LSH — 8-bit bucket signature from the
  signs of 8 pseudo-random projections (hyperplanes derived deterministically
  from md5, no RNG state).  At scale the table is pre-bucketed once
  (partitionBy(bucket)) and a query probes one bucket: the scan prunes to
  ~1/256 of the data.  Recall is tested against the brute-force baseline.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from event_stream_spark.datapipe.vector import as_double, cosine, dot
from event_stream_spark.queries import t

N_PLANES = 8
DIM = 64

#: coarse-quantizer seed cache — the (count + nlist-row collect) build jobs
#: run once per (session, sf, nlist), like queries._TABLE_CACHE; repeated
#: plan builds (bench min-of-N, driver re-invocations) reuse the centroids
_IVF_SEED_CACHE: dict[tuple[str, str, int], list[list[float]]] = {}


#: probe-vector cache — same lifecycle as _IVF_SEED_CACHE
_QUERY_VEC_CACHE: dict[tuple[str, str, int], list[float]] = {}


def _query_vector(spark: SparkSession, sf: str, vec_id: int = 0) -> list[float]:
    """The probe vector.  A real service receives this as a literal input;
    fetching one row here mirrors that (not a distributed collect), and the
    fetch is memoized per (session, sf, vec_id) so repeated plan builds run
    no job."""
    from event_stream_spark.queries import _session_key

    ck = (_session_key(spark), sf, vec_id)
    q = _QUERY_VEC_CACHE.get(ck)
    if q is None:
        row = t(spark, sf, "embeddings").filter(F.col("vec_id") == vec_id).head()
        q = [float(x) for x in row["embedding"]]
        _QUERY_VEC_CACHE[ck] = q
    return q


def ann_topk_brute(spark: SparkSession, sf: str, k: int = 10) -> DataFrame:
    q = _query_vector(spark, sf)
    qcol = F.array(*[F.lit(x).cast("double") for x in q])
    e = t(spark, sf, "embeddings")
    return (
        e.select("vec_id", F.round(cosine(F.col("embedding"), qcol), 6).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(k)
    )


ANN_TOPK_SQL = """
    SELECT vec_id,
           round(list_cosine_similarity(
               embedding::DOUBLE[],
               (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 6) AS sim
    FROM embeddings
    ORDER BY sim DESC, vec_id
    LIMIT 10
"""


def _hyperplane(i: int) -> list[float]:
    """Deterministic pseudo-random hyperplane i: component j from md5(i|j),
    mapped to [-1, 1].  No RNG state → identical across engines/runs, and
    exactly regenerable in SQL (``md5(i || '|' || j)`` — the dedup_embedding
    DuckDB oracle rebuilds this family verbatim).  h/2^31 and the -1.0 are
    both exact in binary64, so the two engines agree bit-for-bit."""
    comps = []
    for j in range(DIM):
        h = int(hashlib.md5(f"{i}|{j}".encode()).hexdigest()[:8], 16)
        comps.append(h / float(1 << 31) - 1.0)
    return comps


def _planes_matrix(n_planes: int = N_PLANES):
    import numpy as np

    return np.array([_hyperplane(i) for i in range(n_planes)], dtype="float64")


def lsh_band_buckets(
    df: DataFrame, *, bands: int, bits: int, vec_col: str = "embedding"
) -> DataFrame:
    """(…, buckets: ARRAY<LONG>) — ``bands`` independent ``bits``-bit
    signatures per vector; band k uses hyperplanes ``k*bits .. k*bits+bits-1``
    of the same deterministic family as :func:`lsh_buckets` (band 0 with
    ``bits == N_PLANES`` IS the ann bucket).

    One Arrow pandas_udf projection computes all ``bands*bits`` signs in a
    single (rows × DIM) @ (DIM × bands·bits) BLAS matmul — zero shuffles,
    embarrassingly parallel, same pattern measured ~4× faster than shuffle
    formulations for :func:`lsh_buckets`."""
    import numpy as np

    P = _planes_matrix(bands * bits)
    weights = np.arange(bits, dtype=np.int64)

    @F.pandas_udf("array<long>")
    def buckets_udf(vecs: pd.Series) -> pd.Series:
        if vecs.empty:
            return pd.Series([], dtype="object")
        V = np.stack(vecs.to_numpy()).astype("float64")
        sgn = (V @ P.T >= 0).astype(np.int64).reshape(len(V), bands, bits)
        packed = (sgn << weights).sum(axis=2)
        return pd.Series(list(packed))

    return df.withColumn("buckets", buckets_udf(vec_col))


def lsh_buckets(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(… , bucket) — 8-bit signature, bit i = sign(dot(vec, hyperplane_i)).

    One Arrow-vectorized pandas_udf projection: each batch is a dense
    (rows × DIM) @ (DIM × N_PLANES) matrix multiply (BLAS), signs packed to
    an int.  Zero shuffles, embarrassingly parallel — measured ~4× faster
    than the best shuffle-based formulation and ~13× faster than a 512-term
    codegen expression.  At scale the table is written ``partitionBy(bucket)``
    once and probes prune to ~1/2^N_PLANES of the data.
    """
    import numpy as np

    P = _planes_matrix()

    @F.pandas_udf("long")
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        if vecs.empty:
            return pd.Series([], dtype="int64")
        V = np.stack(vecs.to_numpy()).astype("float64")
        bits = (V @ P.T >= 0).astype(np.int64)
        return pd.Series((bits << np.arange(N_PLANES)).sum(axis=1))

    return df.withColumn("bucket", bucket_udf(vec_col))


def _python_bucket(vec: list[float]) -> int:
    """Probe-side bucket — same numpy math as the UDF, bit-for-bit."""
    import numpy as np

    bits = (np.asarray(vec, dtype="float64") @ _planes_matrix().T >= 0).astype(
        np.int64
    )
    return int((bits << np.arange(N_PLANES)).sum())


def ann_lsh_topk(spark: SparkSession, sf: str, k: int = 10) -> DataFrame:
    """Top-k within the probe's LSH bucket — the pruned-scan path.  The
    probe's bucket is computed driver-side (the hyperplanes are constants),
    so the query plan is: scan → bucket filter → cosine → top-k.

    Like ``ann_ivf_topk``, the bucketed relation is an INDEX: it is
    parquet-materialized once per (session, sf) (``matview.py``) so probes
    are pure JVM scans with the bucket equality pushed into the parquet
    scan — the session-local analog of the written ``partitionBy(bucket)``
    layout described above.  The pre-r4 shape re-ran the Arrow sign-matmul
    on every probe."""
    from event_stream_spark.datapipe.matview import materialized

    q = _query_vector(spark, sf)
    qcol = F.array(*[F.lit(x).cast("double") for x in q])
    qbucket = _python_bucket(q)
    e = materialized(
        spark, f"lsh_bucket|{sf}", lambda: lsh_buckets(t(spark, sf, "embeddings"))
    )
    return (
        e.filter(F.col("bucket") == qbucket)
        .select("vec_id", F.round(cosine(F.col("embedding"), qcol), 6).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(k)
    )


# Full DuckDB replay of the LSH probe: hyperplanes regenerated from the same
# md5(plane || '|' || comp) family (exact in binary64 — see _hyperplane),
# same 8-bit sign bucket, probe bucket from vec 0, cosine top-k within it.
ANN_LSH_SQL = """
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    planes AS (
        SELECT pk,
               list_transform(range(64),
                 j -> ('0x' || substring(md5(pk::VARCHAR || '|' || j::VARCHAR), 1, 8))::BIGINT
                      / 2147483648.0 - 1.0) AS p
        FROM (SELECT unnest(range(8)) AS pk)
    ),
    bk AS (
        SELECT e.vec_id,
               sum(CASE WHEN list_dot_product(e.v, p.p) >= 0
                        THEN 1 << p.pk ELSE 0 END) AS bucket
        FROM e CROSS JOIN planes p GROUP BY e.vec_id
    )
    SELECT e.vec_id AS vec_id, round(list_cosine_similarity(e.v, q.qv), 6) AS sim
    FROM e
    JOIN bk ON bk.vec_id = e.vec_id
    CROSS JOIN (SELECT e2.v AS qv, b2.bucket AS qbucket
                FROM e e2 JOIN bk b2 ON b2.vec_id = e2.vec_id
                WHERE e2.vec_id = 0) q
    WHERE bk.bucket = q.qbucket
    ORDER BY sim DESC, e.vec_id
    LIMIT 10
"""


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path
# ---------------------------------------------------------------------------

IVF_NLIST = 16
IVF_NPROBE = 4


def ivf_assignments(spark: SparkSession, sf: str, *, nlist: int = IVF_NLIST):
    """(assigned DataFrame with ``list_id``, centroids ndarray [nlist × DIM]).

    Coarse quantizer = deterministic seed decimation: centroid ``j`` is the
    vector at ``vec_id = j·stride`` (``stride = n // nlist``) — no RNG, no
    Lloyd iterations, so the whole build (seed pick + argmin assignment) is
    exactly replayable in the DuckDB oracle.  Lloyd refinement is an
    orthogonal quality knob that doesn't change the IVF layout or probe
    semantics; a production build would plug Spark ML ``KMeans`` centroids
    into the same assignment expression.

    Scale shape: the seed fetch collects ``nlist`` rows; assignment is a
    shuffle-free narrow projection (distance-to-each-centroid as one array
    expression — no join, no groupBy).  At scale the assignment is written
    ``partitionBy(list_id)`` once, so a probe scans ~nprobe/nlist of the
    data — the classic IVF-Flat layout (mirrors the reference's pluggable
    fetch/partition seam, es-core/.../HistoricalBlockFlow.kt:26-41 analog).
    """
    import numpy as np

    from event_stream_spark.queries import _session_key

    e = t(spark, sf, "embeddings")
    ck = (_session_key(spark), sf, nlist)
    cent = _IVF_SEED_CACHE.get(ck)
    if cent is None:
        n = e.count()
        stride = max(1, n // nlist)
        seed_ids = [j * stride for j in range(nlist)]
        rows = (
            e.filter(F.col("vec_id").isin(seed_ids))
            .select("vec_id", "embedding")
            .collect()
        )
        cent = [
            [float(x) for x in r["embedding"]]
            for r in sorted(rows, key=lambda r: r["vec_id"])
        ]
        _IVF_SEED_CACHE[ck] = cent
    centroids = np.asarray(cent, dtype="float64")

    # Distance-to-every-centroid as ONE Arrow batch kernel.  The naive
    # array-HOF spelling (transform over centroids × aggregate over dims)
    # evaluates interpreted per element — nlist×DIM interpreted ops per row
    # dominated the whole probe (measured ~0.6 s of a 1.1 s sf0.1 run).
    # The kernel keeps the exact fold arithmetic: np.cumsum accumulates
    # strictly left-to-right in float64, so its last element is bit-equal
    # to the F.aggregate/list_sum left fold both oracles replay.  Rounding
    # to 9dp stays OUTSIDE the kernel (JVM F.round, matching DuckDB's
    # rounding mode) so near-ties keep resolving identically in both
    # engines (then the list_id tiebreak applies).
    import pandas as pd

    @F.pandas_udf("array<double>")
    def _cent_d2(emb: pd.Series) -> pd.Series:
        # raw float32 in, widened here: float→double is exact, and feeding
        # the column directly avoids an interpreted cast-transform lambda
        # per element on the JVM side (measured ~2× on the whole probe)
        vm = np.array(emb.tolist(), dtype="float64")  # [batch × DIM]
        sq = (vm[:, None, :] - centroids[None, :, :]) ** 2
        d2 = np.cumsum(sq, axis=2)[:, :, -1]  # left-fold sum per centroid
        return pd.Series(list(d2))

    ds = F.transform(_cent_d2(F.col("embedding")), lambda d: F.round(d, 9))
    # first-occurrence argmin == ties broken toward the smaller list_id
    assigned = e.withColumn(
        "list_id", (F.array_position(ds, F.array_min(ds)) - 1).cast("int")
    )
    return assigned, centroids


def _probe_lists(centroids, q: list[float], nprobe: int) -> list[int]:
    """The nprobe nearest coarse lists for a query — ONE definition shared
    by the IVF-Flat and IVFADC probes (9dp-rounded d2, stable argsort =
    list_id tiebreak; the DuckDB twins replay exactly this)."""
    import numpy as np

    qv = np.asarray(q, dtype="float64")
    d2 = np.round(((centroids - qv) ** 2).sum(axis=1), 9)
    return [int(i) for i in np.argsort(d2, kind="stable")[:nprobe]]


def _materialized_assignments(spark: SparkSession, sf: str, nlist: int = IVF_NLIST):
    """(matview'd assignment relation, centroids) — the coarse-quantizer
    output both the IVF-Flat probe and the IVFADC encode read, built and
    parquet-materialized once per (session, sf, nlist)."""
    from event_stream_spark.datapipe.matview import materialized

    assigned, centroids = ivf_assignments(spark, sf, nlist=nlist)
    mat = materialized(
        spark,
        f"ivf_assign|{sf}|{nlist}",
        lambda: assigned.select("vec_id", "embedding", "list_id"),
    )
    return mat, centroids


def ann_ivf_topk(
    spark: SparkSession,
    sf: str,
    k: int = 10,
    *,
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Top-k among the ``nprobe`` nearest inverted lists (IVF-Flat probe).

    The probe's candidate lists are picked driver-side against the (tiny)
    centroid matrix; the plan is scan → IN-list filter (partition pruning on
    a list-partitioned layout) → exact cosine → top-k.  Exactness within the
    probed lists; recall is tested against the brute-force baseline.

    The assignment relation is materialized once per (session, sf)
    (``matview.py``) before probing: an IVF index is BUILT once and probed
    many times — recomputing the quantizer per query (the pre-r4 shape)
    pays the Arrow distance kernel on every probe and is not how the
    operator would run against a written ``write_ivf_lake`` layout.  With
    the matview, a probe is a pure JVM scan + IN-filter + cosine top-k.
    """
    q = _query_vector(spark, sf)
    assigned, centroids = _materialized_assignments(spark, sf, nlist)
    probe_lists = _probe_lists(centroids, q, nprobe)
    qcol = F.array(*[F.lit(x).cast("double") for x in q])
    return (
        assigned.filter(F.col("list_id").isin(probe_lists))
        .select("vec_id", F.round(cosine(F.col("embedding"), qcol), 6).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(k)
    )


def write_ivf_lake(assigned: DataFrame, path: str) -> None:
    """Materialize the IVF layout: assignment written ``partitionBy(list_id)``
    so probes prune to ~nprobe/nlist of the data at PLAN time — the
    IVF-Flat on-disk layout (SCALE.md's claim, demonstrated).  Dynamic
    partition overwrite keeps rebuilds idempotent per list, like the
    block/event lakes."""
    (
        assigned.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("list_id")
        .parquet(path)
    )


def read_ivf_lake(
    spark: SparkSession, path: str, probe_lists: list[int] | None = None
) -> DataFrame:
    """Read the IVF lake; with ``probe_lists`` the IN-filter lands in
    PartitionFilters, so only the probed list directories are scanned."""
    df = spark.read.parquet(path)
    if probe_lists is not None:
        df = df.filter(F.col("list_id").isin([int(x) for x in probe_lists]))
    return df


# Full DuckDB replay of the IVF build + probe: same seed-decimation
# centroids, same first-occurrence argmin assignment (list_position of
# list_min ≡ ties toward the smaller list_id), same nprobe-nearest-centroid
# probe with list_id tiebreak (np.argsort is stable), cosine top-k within
# the probed lists.
ANN_IVF_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT greatest((SELECT count(*) FROM e) // {IVF_NLIST}, 1) AS stride),
    seeds AS (
        SELECT (vec_id // stride)::INT AS list_id, v
        FROM e, p
        WHERE vec_id % stride = 0 AND vec_id // stride < {IVF_NLIST}
    ),
    cents AS (SELECT list(v ORDER BY list_id) AS cs FROM seeds),
    assign AS (
        SELECT vec_id, v,
               list_transform(cs, c -> round(list_sum(list_transform(range({DIM}),
                   j -> (v[j+1] - c[j+1]) * (v[j+1] - c[j+1]))), 9)) AS ds
        FROM e, cents
    ),
    a2 AS (
        SELECT vec_id, v, list_position(ds, list_min(ds)) - 1 AS list_id
        FROM assign
    ),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    probe AS (
        SELECT s.list_id
        FROM seeds s, q
        ORDER BY round(list_sum(list_transform(range({DIM}),
                 j -> (s.v[j+1] - q.qv[j+1]) * (s.v[j+1] - q.qv[j+1]))), 9) ASC,
                 s.list_id ASC
        LIMIT {IVF_NPROBE}
    )
    SELECT a2.vec_id AS vec_id, round(list_cosine_similarity(a2.v, q.qv), 6) AS sim
    FROM a2, q
    WHERE a2.list_id IN (SELECT list_id FROM probe)
    ORDER BY sim DESC, vec_id
    LIMIT 10
"""


# ---------------------------------------------------------------------------
# k-means clustering (SemDeDup-style corpus curation)
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_ITERS = 2


def _centroid_distances(vec: Column, cent: list[list[float]]) -> Column:
    """Squared L2 distance from ``vec`` to each centroid, rounded to 9dp
    (same fold-order guard as ``ivf_assignments``)."""
    carr = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cent])
    return F.transform(
        carr,
        lambda c: F.round(
            F.aggregate(
                F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            9,
        ),
    )


def _kmeans_assignment(
    spark: SparkSession,
    sf: str,
    *,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
) -> DataFrame:
    """Final Lloyd's assignment frame ``(vec_id, embedding, cluster, d2)``
    — shared by :func:`embed_kmeans` (the clustering query) and
    :func:`semdedup` (within-cluster pruning)."""
    e = t(spark, sf, "embeddings")
    n = e.count()
    stride = max(1, n // k)
    seed_ids = [j * stride for j in range(k)]
    rows = (
        e.filter(F.col("vec_id").isin(seed_ids))
        .select("vec_id", "embedding")
        .collect()
    )
    cent = [
        [float(x) for x in r["embedding"]]
        for r in sorted(rows, key=lambda r: r["vec_id"])
    ]
    v = as_double(F.col("embedding"))

    def assign(c: list[list[float]]) -> DataFrame:
        ds = _centroid_distances(v, c)
        return e.select(
            "vec_id",
            "embedding",
            (F.array_position(ds, F.array_min(ds)) - 1).cast("int").alias("cluster"),
            F.array_min(ds).alias("d2"),
        )

    for _ in range(iters):
        got = {
            r["cluster"]: [float(r[f"x{i}"]) for i in range(DIM)]
            for r in assign(cent)
            .groupBy("cluster")
            .agg(*[F.round(F.avg(v[i]), 9).alias(f"x{i}") for i in range(DIM)])
            .collect()
        }
        cent = [got.get(j, cent[j]) for j in range(len(cent))]
    return assign(cent)


def embed_kmeans(
    spark: SparkSession,
    sf: str,
    *,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
) -> DataFrame:
    """Lloyd's k-means over the embedding column, MLlib-free: assignment is
    a shuffle-free narrow argmin against broadcast-literal centroids; the
    update is one groupBy with DIM codegen'd ``avg`` aggregates plus a
    k-row collect.  Init is the same deterministic seed decimation as
    ``ivf_assignments`` and ``iters`` is fixed, so the whole build —
    seeds, every assignment, every centroid update (rounded to 9dp) — is
    exactly replayed by the DuckDB oracle.  Empty clusters keep their
    previous centroid (both engines).

    Scale shape: per round, one partial-agg shuffle of k×DIM doubles and a
    k-row collect — the canonical distributed Lloyd's; no point-to-point
    joins, no n×k materialization.  SemDeDup-style curation then drops
    near-dups within each cluster (:func:`semdedup`).
    """
    return (
        _kmeans_assignment(spark, sf, k=k, iters=iters)
        .select("vec_id", "cluster", F.round("d2", 6).alias("d2"))
        .orderBy("vec_id")
    )


SEMDEDUP_THRESHOLD = 0.4


def semdedup(
    spark: SparkSession,
    sf: str,
    *,
    threshold: float = SEMDEDUP_THRESHOLD,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023): cluster embeddings with k-means, then
    within each cluster drop every vector that has a near-duplicate
    (cosine ≥ ``threshold``) with a smaller ``vec_id`` — the deterministic
    keep-first greedy.  Returns ``(vec_id, cluster, keep)``.

    Plan shape: the Lloyd's assignment is narrow (argmin against literal
    centroids); pairing shuffles once on ``cluster`` into per-cluster BLAS
    tiles (applyInPandas — same dense-matmul verify as
    ``embedding_lsh_pairs``); the drop set comes back as a broadcast
    semi-join.  Work is Σ_clusters |cluster|², the SemDeDup design point:
    production k scales as n/target_cluster_size (the paper uses ~n/10⁴),
    so tiles stay bounded while all-pairs would be n².  For clusters that
    still overflow a tile, the ``embedding_lsh_pairs`` band-packing trick
    composes (bucket within cluster).

    The DuckDB oracle replays the full chain — same centroids, same
    assignment, same rounded-cosine pair predicate.
    """
    import numpy as np

    a = _kmeans_assignment(spark, sf, k=k, iters=iters)
    margin = threshold - 1e-6  # final filter happens on the rounded value

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(columns=["b", "sim"])
        V = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        ids = pdf["vec_id"].to_numpy()
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        M = Vn @ Vn.T
        ii, jj = np.where(M >= margin)
        keep = ids[ii] < ids[jj]
        return pd.DataFrame({"b": ids[jj][keep], "sim": M[ii, jj][keep]})

    dropped = (
        a.select("vec_id", "embedding", "cluster")
        .groupBy("cluster")
        .applyInPandas(pairs, schema="b long, sim double")
        .filter(F.round("sim", 6) >= threshold)
        .select("b")
        .distinct()
    )
    return (
        a.join(dropped, a.vec_id == dropped.b, "left")
        .select("vec_id", "cluster", F.col("b").isNull().alias("keep"))
        .orderBy("vec_id")
    )


def _km_round_sql(prev_cents: str, idx: int) -> str:
    """One unrolled Lloyd round: assign against ``prev_cents`` → per-dim
    grouped avg (rounded 9dp) → carry previous centroid for empty clusters."""
    return f"""
    a{idx} AS (
        SELECT vec_id, v, list_position(ds, list_min(ds)) - 1 AS cluster
        FROM (SELECT vec_id, v,
                list_transform(cs, c -> round(list_sum(list_transform(range({DIM}),
                    j -> (v[j+1] - c[j+1]) * (v[j+1] - c[j+1]))), 9)) AS ds
              FROM e, {prev_cents})
    ),
    m{idx} AS (
        SELECT cluster AS cid, d.j, round(avg(v[d.j+1]), 9) AS x
        FROM a{idx}, (SELECT unnest(range({DIM})) AS j) d
        GROUP BY cluster, d.j
    ),
    upd{idx} AS (SELECT cid, list(x ORDER BY j) AS c FROM m{idx} GROUP BY cid),
    cl{idx} AS (
        SELECT s.cid, coalesce(u.c, s.c) AS c
        FROM cl{idx - 1} s LEFT JOIN upd{idx} u ON u.cid = s.cid
    ),
    c{idx} AS (SELECT list(c ORDER BY cid) AS cs FROM cl{idx})"""


#: Shared CTE chain: embeddings as DOUBLE[], seed-decimation init, two
#: unrolled Lloyd rounds, ``final(vec_id, cluster, d2)`` assignment.
_KMEANS_CTES = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT greatest((SELECT count(*) FROM e) // {KMEANS_K}, 1) AS stride),
    cl0 AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
        FROM e, p
        WHERE vec_id % stride = 0 AND vec_id // stride < {KMEANS_K}
    ),
    c0 AS (SELECT list(c ORDER BY cid) AS cs FROM cl0),
    {_km_round_sql("c0", 1)},
    {_km_round_sql("c1", 2)},
    final AS (
        SELECT vec_id,
               list_position(ds, list_min(ds)) - 1 AS cluster,
               round(list_min(ds), 6) AS d2
        FROM (SELECT vec_id,
                list_transform(cs, c -> round(list_sum(list_transform(range({DIM}),
                    j -> (v[j+1] - c[j+1]) * (v[j+1] - c[j+1]))), 9)) AS ds
              FROM e, c2)
    )"""


EMBED_KMEANS_SQL = f"""
    {_KMEANS_CTES}
    SELECT vec_id, cluster, d2 FROM final ORDER BY vec_id
"""


# SemDeDup replay: same assignment chain, then the keep-first greedy —
# a vector is dropped iff a smaller-id member of its cluster is within
# the rounded-cosine threshold.
SEMDEDUP_SQL = f"""
    {_KMEANS_CTES},
    sd AS (
        SELECT f.vec_id, f.cluster, e.v
        FROM final f JOIN e ON e.vec_id = f.vec_id
    ),
    dropped AS (
        SELECT DISTINCT y.vec_id AS b
        FROM sd x JOIN sd y
          ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        WHERE round(list_cosine_similarity(x.v, y.v), 6) >= {SEMDEDUP_THRESHOLD}
    )
    SELECT s.vec_id, s.cluster,
           (s.vec_id NOT IN (SELECT b FROM dropped)) AS keep
    FROM sd s ORDER BY s.vec_id
"""


def embed_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 quantization of every embedding plus per-vector
    reconstruction MSE — the standard 4x compression step before ANN
    indexing at corpus scale.

    Scale shape: one Arrow-batched kernel, zero shuffles — runs at scan
    speed.  The pure-HOF formulation (vector.quantize_int8, still there for
    expression-level composition) is NOT used here: Catalyst's
    CollapseProject inlines the per-vector scale fold into every element
    lambda, and higher-order functions evaluate interpreted — measured
    10.7 s → 190.6 s on 20k → 200k 64-d vectors (O(dim²) interpreted work
    per row).  The numpy kernel is vectorized across the row batch and
    left-folds the MSE across dims so the double-summation order stays
    bit-identical to the DuckDB oracle's list_reduce.
    """

    @F.pandas_udf("struct<scale: double, qv: array<int>, mse: double>")
    def _quant(emb: pd.Series) -> pd.DataFrame:
        import numpy as np

        V = np.vstack(emb.to_numpy()).astype(np.float64)
        scale = np.abs(V).max(axis=1) / 127.0
        # all-zero vector: scale 0 would make X = 0/0 = NaN (int32 garbage
        # downstream); scale 1 quantizes it to exact zeros with zero mse
        scale = np.where(scale == 0.0, 1.0, scale)
        X = V / scale[:, None]
        # round half-away-from-zero (Spark/DuckDB round), NOT np.round's
        # banker's rounding
        q = np.copysign(np.floor(np.abs(X) + 0.5), X)
        np.clip(q, -127, 127, out=q)
        deq = q * scale[:, None]
        acc = np.zeros(len(V))
        for j in range(V.shape[1]):  # left-fold: oracle-identical fp order
            d = deq[:, j] - V[:, j]
            acc += d * d
        mse = acc / V.shape[1]
        return pd.DataFrame(
            {"scale": scale, "qv": list(q.astype(np.int32)), "mse": mse}
        )

    e = t(spark, sf, "embeddings")
    # integer-scaled outputs: round(x * 10^n) to a WHOLE number is exact in
    # both engines, while DuckDB's round(x, n) decimal-scales internally and
    # drifts 1 ulp on deep decimals (measured: 368/500 mse mismatches at 12dp).
    # The final rounding stays JVM-side (BigDecimal HALF_UP).
    qs = e.select("vec_id", _quant("embedding").alias("s"))
    return qs.select(
        "vec_id",
        F.round(F.col("s.scale") * 1e9).cast("long").alias("scale_p9"),
        # CSV form only exists for oracle hashing; the int8 array in s.qv is
        # what a production pipeline persists.  array_join runs in codegen.
        F.array_join(F.transform("s.qv", lambda x: x.cast("string")), ",").alias(
            "qvec"
        ),
        F.round(F.col("s.mse") * 1e12).cast("long").alias("mse_p12"),
    ).orderBy("vec_id")


EMBED_QUANTIZE_SQL = """
    WITH d AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    s AS (SELECT vec_id, v,
                 -- zero-vector guard mirrors the kernel: scale 0 -> 1.0
                 CASE WHEN list_aggregate(list_transform(v, x -> abs(x)), 'max') = 0
                      THEN 1.0
                      ELSE list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0
                 END AS scale
          FROM d),
    q AS (SELECT vec_id, v, scale,
                 list_transform(v, x -> least(127, greatest(-127,
                     CAST(round(x / scale) AS INT)))) AS qv
          FROM s)
    SELECT vec_id,
           CAST(round(scale * 1e9) AS BIGINT) AS scale_p9,
           array_to_string(qv, ',') AS qvec,
           -- left-fold from 0.0 so the double-summation order is
           -- bit-identical to Spark's F.aggregate (list_sum may not be);
           -- integer-scaled round because round(x, n) drifts 1 ulp in DuckDB
           CAST(round(list_reduce(list_prepend(0.0,
                   list_transform(range(1, len(v) + 1),
                     i -> (qv[i] * scale - v[i]) * (qv[i] * scale - v[i]))),
                 (acc, x) -> acc + x)
                 / len(v) * 1e12) AS BIGINT) AS mse_p12
    FROM q ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection (dimensionality reduction)
# ---------------------------------------------------------------------------

JL_OUT_DIM = 16


def _jl_signs() -> "list[list[int]]":
    """Deterministic ±1 Achlioptas projection matrix, sign(i, j) from
    md5("jl|i|j") parity — no RNG state, identical across engines/runs.
    The matrix is tiny (16×64) and is embedded as LITERALS in the DuckDB
    twin, so the oracle replays the exact same projection."""
    signs = []
    for i in range(JL_OUT_DIM):
        row = []
        for j in range(DIM):
            h = int(hashlib.md5(f"jl|{i}|{j}".encode()).hexdigest()[:8], 16)
            row.append(1 if h % 2 == 0 else -1)
        signs.append(row)
    return signs


_JL_SIGNS = _jl_signs()


def embed_project(spark: SparkSession, sf: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection 64-d → 16-d with a ±1
    Achlioptas matrix (scale 1/√16), plus the per-vector norm-preservation
    ratio ‖y‖²/‖v‖² — the standard cheap dimensionality-reduction step
    before clustering / coarse ANN at corpus scale (distances are preserved
    to 1±ε with high probability, so downstream kNN runs on 4× less data).

    Scale shape: one Arrow-batched kernel over the scan, zero shuffles —
    identical plan family to :func:`embed_quantize` (the measured-fast
    pattern; a 1024-term codegen expression or per-element HOF would run
    interpreted and O(dim²) per row).  The kernel left-folds every sum in
    fixed index order so the arithmetic is bit-identical to the DuckDB
    twin's left-to-right literal chains; ±1 multiplies and the /4.0 scale
    are fp-exact.  Output floats are integer-scaled (×1e6, round-half-up)
    before hashing, the proven cross-engine-stable form.
    """
    import numpy as np

    S = np.array(_JL_SIGNS, dtype=np.float64)  # (OUT, DIM)

    @F.pandas_udf(
        "struct<y: array<double>, ny: double, nv: double>"
    )
    def _proj(emb: pd.Series) -> pd.DataFrame:
        if emb.empty:
            return pd.DataFrame({"y": [], "ny": [], "nv": []})
        V = np.vstack(emb.to_numpy()).astype(np.float64)  # (n, DIM)
        n = len(V)
        acc = np.zeros((n, JL_OUT_DIM))
        nv = np.zeros(n)
        # left-fold over j (input dim) — oracle-identical fp order per
        # output element: acc[:, i] += (±1)·v_j, nv += v_j²
        for j in range(V.shape[1]):
            acc += V[:, j:j + 1] * S[None, :, j].reshape(1, JL_OUT_DIM)
            nv += V[:, j] * V[:, j]
        y = acc / 4.0  # 1/sqrt(16) — exact in binary64
        ny = np.zeros(n)
        for i in range(JL_OUT_DIM):  # left-fold over output dims
            ny += y[:, i] * y[:, i]
        return pd.DataFrame({"y": list(y), "ny": ny, "nv": nv})

    e = t(spark, sf, "embeddings")
    s = e.select("vec_id", _proj("embedding").alias("s"))
    return s.select(
        "vec_id",
        # CSV form only exists for oracle hashing (embed_quantize pattern);
        # the double array in s.y is what a pipeline persists
        F.array_join(
            F.transform(
                "s.y", lambda x: F.round(x * 1e6).cast("long").cast("string")
            ),
            ",",
        ).alias("proj_p6"),
        F.when(F.col("s.nv") == 0.0, F.lit(None).cast("long"))
        .otherwise(F.round(F.col("s.ny") / F.col("s.nv") * 1e6).cast("long"))
        .alias("ratio_p6"),
    ).orderBy("vec_id")


def _jl_sql() -> str:
    """The projection restated with literal ±1 chains: left-to-right
    addition matches the kernel's j-order fold bit-for-bit."""
    ys = []
    for i in range(JL_OUT_DIM):
        terms = "".join(
            (" + " if s > 0 else " - ") + f"v[{j + 1}]"
            if j else (f"v[{j + 1}]" if s > 0 else f"-v[{j + 1}]")
            for j, s in enumerate(_JL_SIGNS[i])
        )
        ys.append(f"({terms}) / 4.0 AS y{i}")
    nv = " + ".join(f"v[{j + 1}]*v[{j + 1}]" for j in range(DIM))
    ny = " + ".join(f"y{i}*y{i}" for i in range(JL_OUT_DIM))
    proj = ", ".join(
        f"CAST(round(y{i}*1e6) AS BIGINT)" for i in range(JL_OUT_DIM)
    )
    return f"""
    WITH d AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    p AS (SELECT vec_id, {", ".join(ys)}, ({nv}) AS nv FROM d)
    SELECT vec_id,
           array_to_string([{proj}], ',') AS proj_p6,
           CASE WHEN nv = 0 THEN NULL
                ELSE CAST(round(({ny}) / nv * 1e6) AS BIGINT) END AS ratio_p6
    FROM p ORDER BY vec_id
"""


EMBED_PROJECT_SQL = _jl_sql()


# ---------------------------------------------------------------------------
# Batched ANN join — every query in a batch finds its top-k neighbors
# ---------------------------------------------------------------------------

ANN_JOIN_BANDS = 4
ANN_JOIN_BITS = 8
ANN_JOIN_K = 3
ANN_JOIN_NQ = 16  # vec_id < NQ form the query batch; the rest are corpus


def ann_join(
    spark: SparkSession,
    sf: str,
    *,
    k: int = ANN_JOIN_K,
    bands: int = ANN_JOIN_BANDS,
    bits: int = ANN_JOIN_BITS,
    n_queries: int = ANN_JOIN_NQ,
) -> DataFrame:
    """Batched multi-query ANN: every query vector (``vec_id < n_queries``)
    finds its cosine top-k among the corpus (``vec_id >= n_queries``) via an
    OR-amplified banded-LSH equi-join — the shape a 100 TB retrieval pipeline
    actually runs (N queries at once), which the single-probe ``ann_lsh_topk``
    path does not exercise.

    Scale shape: both sides get ``bands`` independent ``bits``-bit signatures
    in one Arrow matmul projection (zero shuffles), are exploded to narrow
    (band, sig, id) rows — embeddings never ride the exchange — and candidate
    pairs come from an equi-join on the (band, sig) key.  Distinct pairs are
    a (long, long) relation; embeddings join back co-partitioned on each id.
    Per-query top-k is one window shuffle on query_id.  No pairwise
    query×corpus expansion at any size: candidate volume is governed by
    bucket occupancy (tune ``bits`` up as the corpus grows), matching the
    MinHashLSH band-join strategy.  No Cartesian/NestedLoop anywhere
    (plan-gated).
    """
    from pyspark.sql import Window

    e = t(spark, sf, "embeddings")
    # referenced twice (query side and corpus side of the band join);
    # unpersisted, the Arrow signature projection — a JVM→Python→JVM
    # boundary crossing over every embedding — executes TWICE.  Narrow
    # (long, int, long) rows, bands per vector — persisted per execution
    # so the Python kernel runs once (guide §4: cross the boundary once).
    sig = lsh_band_buckets(
        e.select("vec_id", "embedding"), bands=bands, bits=bits
    ).select("vec_id", F.posexplode("buckets").alias("band", "sig")).persist()
    qk = sig.filter(F.col("vec_id") < n_queries).withColumnRenamed(
        "vec_id", "query_id"
    )
    ck = sig.filter(F.col("vec_id") >= n_queries).withColumnRenamed(
        "vec_id", "cand_id"
    )
    pairs = (
        qk.join(ck, ["band", "sig"]).select("query_id", "cand_id").distinct()
    )
    qe = e.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    ce = e.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    )
    scored = (
        pairs.join(qe, "query_id")
        .join(ce, "cand_id")
        .select(
            "query_id",
            "cand_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# Full DuckDB replay: same md5 hyperplane family (bands*bits planes, band =
# pk // bits, weight = 1 << (pk % bits)), same band equi-join candidate
# generation, same cosine top-k per query.
ANN_JOIN_SQL = f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    planes AS (
        SELECT pk,
               list_transform(range({DIM}),
                 j -> ('0x' || substring(md5(pk::VARCHAR || '|' || j::VARCHAR), 1, 8))::BIGINT
                      / 2147483648.0 - 1.0) AS p
        FROM (SELECT unnest(range({ANN_JOIN_BANDS * ANN_JOIN_BITS})) AS pk)
    ),
    sig AS (
        SELECT e.vec_id, p.pk // {ANN_JOIN_BITS} AS band,
               sum(CASE WHEN list_dot_product(e.v, p.p) >= 0
                        THEN 1 << (p.pk % {ANN_JOIN_BITS}) ELSE 0 END) AS sig
        FROM e CROSS JOIN planes p GROUP BY e.vec_id, p.pk // {ANN_JOIN_BITS}
    ),
    pairs AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
        FROM sig q JOIN sig c ON q.band = c.band AND q.sig = c.sig
        WHERE q.vec_id < {ANN_JOIN_NQ} AND c.vec_id >= {ANN_JOIN_NQ}
    ),
    scored AS (
        SELECT p.query_id, p.cand_id,
               round(list_cosine_similarity(qe.v, ce.v), 6) AS sim
        FROM pairs p
        JOIN e qe ON qe.vec_id = p.query_id
        JOIN e ce ON ce.vec_id = p.cand_id
    )
    SELECT query_id, cand_id, sim, rank
    FROM (SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY sim DESC, cand_id) AS rank
          FROM scored)
    WHERE rank <= {ANN_JOIN_K}
    ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the compressed-domain scale path
# (Jégou et al., "Product Quantization for Nearest Neighbor Search",
# TPAMI 2011): split each vector into M subvectors, vector-quantize each
# subspace independently (codebook of K centroids), and answer queries with
# Asymmetric Distance Computation — a per-query lookup table of exact
# query-to-centroid distances, so scoring a database vector is M table
# lookups instead of a DIM-wide float scan.  At 10¹⁰ × 64-d float32
# embeddings (~2.5 TB) the PQ codes are M bytes/vector (~40 GB): the scan
# side shrinks 64×, which is the difference between an in-memory index and
# a disk-bound one.
# ---------------------------------------------------------------------------

PQ_M = 4       # subspaces
PQ_SUB = DIM // PQ_M   # dims per subspace
PQ_K = 16      # codewords per subspace (codes pack into 4 bits each)

#: trained codebooks per (session, sf) — a PQ index is TRAINED once and
#: encoded/probed many times (same lifecycle as _IVF_SEED_CACHE)
_PQ_CODEBOOK_CACHE: dict[tuple[str, str], list[list[list[float]]]] = {}


def _subspace_d2_flat(V, C):
    """[B, PQ_M·PQ_K] squared-L2 distances of each row's subvectors to
    every codeword — THE one distance fold both PQ kernels share.
    np.cumsum keeps the strict left-fold dim order both oracles replay
    (see ``ivf_assignments``); rounding stays OUTSIDE, JVM-side."""
    import numpy as np

    parts = []
    for m in range(PQ_M):
        sub = V[:, m * PQ_SUB : (m + 1) * PQ_SUB]  # [B, SUB]
        sq = (sub[:, None, :] - C[m][None, :, :]) ** 2  # [B, K, SUB]
        parts.append(np.cumsum(sq, axis=2)[:, :, -1])
    return np.concatenate(parts, axis=1)


def _pq_d2_kernel(codebooks):
    """Arrow kernel over raw vectors: see ``_subspace_d2_flat``."""
    import numpy as np

    C = np.asarray(codebooks, dtype="float64")  # [M, K, SUB]

    @F.pandas_udf("array<double>")
    def _d2(emb: pd.Series) -> pd.Series:
        if emb.empty:
            return pd.Series([], dtype="object")
        V = np.array(emb.tolist(), dtype="float64")  # [B, DIM]
        return pd.Series(list(_subspace_d2_flat(V, C)))

    return _d2


def _argmin_code_cols(df: DataFrame, dscol: str) -> DataFrame:
    """Append ``code_0 .. code_{M-1}``: per-subspace rounded-argmin over a
    flat [PQ_M·PQ_K] distance column — the ONE argmin loop the raw-PQ and
    residual-PQ encoders share (9dp JVM round, first occurrence on ties)."""
    out = df
    for m in range(PQ_M):
        dsm = F.transform(
            F.slice(dscol, m * PQ_K + 1, PQ_K), lambda d: F.round(d, 9)
        )
        out = out.withColumn(
            f"code_{m}",
            (F.array_position(dsm, F.array_min(dsm)) - 1).cast("int"),
        )
    return out.drop(dscol)


def _pq_codes(df: DataFrame, codebooks) -> DataFrame:
    """Append ``code_0 .. code_{M-1}`` columns: per-subspace argmin against
    the codebook, first occurrence on ties (smaller code wins — the
    ``array_position``/``list_position`` convention every quantizer here
    shares).  Distances round to 9dp JVM-side before the argmin so
    near-ties resolve identically across engines."""
    d2 = _pq_d2_kernel(codebooks)
    return _argmin_code_cols(df.withColumn("_pqds", d2(F.col("embedding"))), "_pqds")


def pq_codebooks(spark: SparkSession, sf: str) -> list[list[list[float]]]:
    """Train the PQ codebooks: deterministic seed-decimation init (codeword
    k of every subspace comes from the vector at ``vec_id = k·stride`` —
    the shared quantizer-init convention, no RNG) plus ONE distributed
    Lloyd round per subspace.  The round runs as a single pass: the encode
    kernel assigns all M codes at once, the M subspaces are stacked with
    one ``explode``, and one (m, code) groupBy computes every per-dim mean
    (rounded 9dp — the cross-engine centroid contract ``embed_kmeans``
    established).  Empty codes keep their seed centroid, both engines.

    Scale shape: one narrow kernel pass + ONE shuffle of n·M rows of
    SUB doubles + a ≤ M·K-row collect.  Production training would run on a
    decimated sample (FAISS-style); the oracle replays the full pass here
    because the local tables are small.
    """
    from event_stream_spark.queries import _session_key

    ck = (_session_key(spark), sf)
    cached = _PQ_CODEBOOK_CACHE.get(ck)
    if cached is not None:
        return cached
    e = t(spark, sf, "embeddings")
    n = e.count()
    if n < PQ_K:
        # a short seed list would mis-stride the fixed-PQ_K kernel slices
        # and diverge from the SQL twin — refuse loudly (the read_snapshot
        # ValueError contract), don't mis-encode
        raise ValueError(
            f"PQ training needs at least PQ_K={PQ_K} vectors, table has {n}"
        )
    stride = max(1, n // PQ_K)
    seed_ids = [j * stride for j in range(PQ_K)]
    rows = (
        e.filter(F.col("vec_id").isin(seed_ids))
        .select("vec_id", "embedding")
        .collect()
    )
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in sorted(rows, key=lambda r: r["vec_id"])
    ]
    cb0 = [
        [v[m * PQ_SUB : (m + 1) * PQ_SUB] for v in seeds] for m in range(PQ_M)
    ]  # [M][K][SUB]

    vd = as_double(F.col("embedding"))
    coded = _pq_codes(e.select("vec_id", "embedding"), cb0)
    stacked = coded.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.col(f"code_{m}").alias("code"),
                        F.slice(vd, m * PQ_SUB + 1, PQ_SUB).alias("sub"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("s")
    ).select("s.m", "s.code", "s.sub")
    upd = (
        stacked.groupBy("m", "code")
        .agg(
            *[
                F.round(F.avg(F.col("sub")[j]), 9).alias(f"x{j}")
                for j in range(PQ_SUB)
            ]
        )
        .collect()
    )
    got = {
        (r["m"], r["code"]): [float(r[f"x{j}"]) for j in range(PQ_SUB)]
        for r in upd
    }
    cb1 = [
        [got.get((m, k), cb0[m][k]) for k in range(PQ_K)] for m in range(PQ_M)
    ]
    _PQ_CODEBOOK_CACHE[ck] = cb1
    return cb1


def pq_lut(q: list[float], cb: list[list[list[float]]]) -> list[list[float]]:
    """The query's [PQ_M × PQ_K] lookup table of EXACT query-subvector-to-
    codeword squared distances, computed driver-side in the strict left
    fold both oracles replay (rounded 9dp)."""
    lut: list[list[float]] = []
    for m in range(PQ_M):
        qs = q[m * PQ_SUB : (m + 1) * PQ_SUB]
        row = []
        for c in cb[m]:
            acc = 0.0
            for a, b in zip(qs, c):  # strict left fold — both oracles replay
                acc += (a - b) * (a - b)
            row.append(round(acc, 9))
        lut.append(row)
    return lut


def _adc_expr(lut: list[list[float]]) -> Column:
    """ADC distance over ``code_0 .. code_{M-1}`` columns: the sum of M
    literal-array lookups — pure codegen, fixed m-order addition."""
    adc = None
    for m in range(PQ_M):
        term = F.element_at(
            F.array(*[F.lit(x) for x in lut[m]]), F.col(f"code_{m}") + 1
        )
        adc = term if adc is None else adc + term
    return adc


def ann_pq_topk(spark: SparkSession, sf: str, k: int = 10) -> DataFrame:
    """PQ/ADC top-k: encode the table against the trained codebooks, build
    the query's M×K lookup table of EXACT query-subvector-to-codeword
    distances driver-side (the codebooks are constants after training),
    and score every vector as the sum of M literal-array lookups — pure
    codegen, no float vector ever touched at probe time.

    Plan shape at scale: the encode runs once and is WRITTEN (codes are
    M log2(K)-bit ints — here 4×4 bits/vector); a probe over the stored
    codes is scan → M ``element_at`` lookups against broadcast-literal
    LUTs → TakeOrdered.  No join, no shuffle beyond the top-k merge; the
    64-d float column never rides the probe.  The encode is materialized
    once per (session, sf) (``matview.py`` — a PQ index is ENCODED once
    and probed many times, the same stance as the LSH/IVF probes), so a
    probe is a pure JVM scan of the M int-code columns: zero Python, no
    Arrow stage.  The DuckDB oracle still replays the whole chain (same
    seeds, same Lloyd round, same argmin, same left-fold LUT arithmetic,
    same ``adc_p6`` integer scaling)."""
    from event_stream_spark.datapipe.matview import materialized

    cb = pq_codebooks(spark, sf)
    q = _query_vector(spark, sf)
    coded = materialized(
        spark,
        f"pq_codes|{sf}",
        lambda: _pq_codes(
            t(spark, sf, "embeddings").select("vec_id", "embedding"), cb
        ).select("vec_id", *[f"code_{m}" for m in range(PQ_M)]),
    )
    adc = _adc_expr(pq_lut(q, cb))
    return (
        coded.select(
            "vec_id",
            F.concat_ws(",", *[F.col(f"code_{m}") for m in range(PQ_M)]).alias(
                "codes"
            ),
            F.round(adc * 1e6).cast("long").alias("adc_p6"),
        )
        .orderBy("adc_p6", "vec_id")
        .limit(k)
    )


def _pq_sub_sql(m: int) -> str:
    """Per-subspace CTE chain: seed codebook, one Lloyd round (assign →
    per-dim rounded mean → empty-code carry), final encode — the exact SQL
    replay of ``pq_codebooks`` + ``_pq_codes`` for subspace ``m``."""
    lo, hi = m * PQ_SUB + 1, (m + 1) * PQ_SUB
    d2 = (
        f"list_transform(cs, c -> round(list_sum(list_transform(range({PQ_SUB}),"
        f" j -> (sub[j+1] - c[j+1]) * (sub[j+1] - c[j+1]))), 9))"
    )
    return f"""
    sub{m} AS (SELECT vec_id, v[{lo}:{hi}] AS sub FROM e),
    cb0_{m} AS (SELECT cid, v[{lo}:{hi}] AS c FROM seeds),
    c0_{m} AS (SELECT list(c ORDER BY cid) AS cs FROM cb0_{m}),
    a_{m} AS (
        SELECT vec_id, sub, list_position(ds, list_min(ds)) - 1 AS code
        FROM (SELECT vec_id, sub, {d2} AS ds FROM sub{m}, c0_{m})
    ),
    m_{m} AS (
        SELECT code AS cid, d.j, round(avg(sub[d.j+1]), 9) AS x
        FROM a_{m}, (SELECT unnest(range({PQ_SUB})) AS j) d
        GROUP BY code, d.j
    ),
    u_{m} AS (SELECT cid, list(x ORDER BY j) AS c FROM m_{m} GROUP BY cid),
    cb1_{m} AS (
        SELECT s.cid, coalesce(u.c, s.c) AS c
        FROM cb0_{m} s LEFT JOIN u_{m} u USING (cid)
    ),
    c1_{m} AS (SELECT list(c ORDER BY cid) AS cs FROM cb1_{m}),
    enc_{m} AS (
        SELECT vec_id, list_position(ds, list_min(ds)) - 1 AS code
        FROM (SELECT vec_id, sub, {d2} AS ds FROM sub{m}, c1_{m})
    ),
    lut_{m} AS (
        SELECT cid, round(list_sum(list_transform(range({PQ_SUB}),
                 j -> (q.sub[j+1] - c[j+1]) * (q.sub[j+1] - c[j+1]))), 9) AS d
        FROM cb1_{m}, (SELECT sub FROM sub{m} WHERE vec_id = 0) q
    )"""


ANN_PQ_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT greatest((SELECT count(*) FROM e) // {PQ_K}, 1) AS stride),
    seeds AS (
        SELECT (vec_id // stride)::INT AS cid, v
        FROM e, p
        WHERE vec_id % stride = 0 AND vec_id // stride < {PQ_K}
    ),
    {",".join(_pq_sub_sql(m) for m in range(PQ_M))}
    SELECT e.vec_id,
           {" || ',' || ".join(f"enc_{m}.code::VARCHAR" for m in range(PQ_M))}
               AS codes,
           CAST(round(({" + ".join(f"l{m}.d" for m in range(PQ_M))}) * 1e6)
               AS BIGINT) AS adc_p6
    FROM e
    {" ".join(f"JOIN enc_{m} ON enc_{m}.vec_id = e.vec_id" for m in range(PQ_M))}
    {" ".join(f"JOIN lut_{m} l{m} ON l{m}.cid = enc_{m}.code" for m in range(PQ_M))}
    ORDER BY adc_p6, e.vec_id
    LIMIT 10
"""


# ---------------------------------------------------------------------------
# IVFADC (IVF + PQ on residuals) — the composed large-scale ANN layout
# (Jégou et al. 2011 §IV): the coarse quantizer routes each vector to an
# inverted list and PQ encodes the RESIDUAL v − centroid(list), which is
# far more quantizable than v itself (residual energy ≪ vector energy).
# A probe visits nprobe lists and scores candidates entirely from codes —
# the classic billion-scale layout: list partitioning prunes the scan,
# residual PQ shrinks what remains to M·log2(K) bits/vector.
# ---------------------------------------------------------------------------

#: residual codebooks per (session, sf) — same lifecycle as the PQ cache
_IVFPQ_CB_CACHE: dict[tuple[str, str], list[list[list[float]]]] = {}


def ivfpq_codebooks(spark: SparkSession, sf: str) -> list[list[list[float]]]:
    """Residual PQ codebooks: codeword k of subspace m is the residual of
    the vector at ``vec_id = k·stride + stride//2`` against ITS OWN coarse
    centroid — deterministic MID-STRIDE decimation.  The offset is load-
    bearing: the coarse seeds themselves sit at ``k·stride`` and their
    residuals are identically ZERO (each coarse seed IS its centroid), so
    seeding the residual codebooks at the same ids would make every
    codeword the zero vector and every code constant — a degenerate index
    that still passes oracle parity because both engines replay the same
    degeneracy (caught by review, now pinned by
    ``test_ivfpq_codebook_is_not_degenerate``).  Mid-stride ids never
    coincide with the coarse seeds for stride ≥ 2, giving real residual
    samples; Lloyd refinement stays the documented orthogonal quality
    knob, as in ``ivf_assignments``, so the whole build is exactly
    replayable in SQL with no averaging step at all."""
    from event_stream_spark.queries import _session_key

    ck = (_session_key(spark), sf)
    cached = _IVFPQ_CB_CACHE.get(ck)
    if cached is not None:
        return cached
    import numpy as np

    assigned, centroids = _materialized_assignments(spark, sf)
    e = t(spark, sf, "embeddings")
    n = e.count()
    if n < PQ_K:
        raise ValueError(
            f"IVFPQ training needs at least PQ_K={PQ_K} vectors, table has {n}"
        )
    stride = max(1, n // PQ_K)
    seed_ids = [j * stride + stride // 2 for j in range(PQ_K)]
    rows = (
        assigned.filter(F.col("vec_id").isin(seed_ids))
        .select("vec_id", "embedding", "list_id")
        .collect()
    )
    cb: list[list[list[float]]] = [[] for _ in range(PQ_M)]
    for r in sorted(rows, key=lambda r: r["vec_id"]):
        res = np.asarray([float(x) for x in r["embedding"]]) - centroids[
            int(r["list_id"])
        ]
        for m in range(PQ_M):
            cb[m].append([float(x) for x in res[m * PQ_SUB : (m + 1) * PQ_SUB]])
    _IVFPQ_CB_CACHE[ck] = cb
    return cb


def _ivfpq_d2_kernel(centroids, codebooks):
    """Arrow kernel: residual r = v − centroid(list_id), then the flat
    [PQ_M × PQ_K] squared distances of r's subvectors to every residual
    codeword — same fold discipline as ``_pq_d2_kernel``."""
    import numpy as np

    CENT = np.asarray(centroids, dtype="float64")
    C = np.asarray(codebooks, dtype="float64")  # [M, K, SUB]

    @F.pandas_udf("array<double>")
    def _d2(emb: pd.Series, lid: pd.Series) -> pd.Series:
        if emb.empty:
            return pd.Series([], dtype="object")
        V = np.array(emb.tolist(), dtype="float64")
        R = V - CENT[lid.to_numpy(dtype="int64")]
        return pd.Series(list(_subspace_d2_flat(R, C)))

    return _d2


def ivfpq_codes(spark: SparkSession, sf: str) -> DataFrame:
    """The IVFADC index relation (vec_id, list_id, code_0..code_{M-1}),
    materialized once per (session, sf).  This is what a deployment
    WRITES: ``write_ivf_lake(ivfpq_codes(...), path)`` lays it out
    ``partitionBy(list_id)`` so probes prune list partitions at plan time
    AND each surviving row is M·log2(K) bits — the two multiplicative
    savings of the layout (gated: PartitionFilters + row parity)."""
    from event_stream_spark.datapipe.matview import materialized

    assigned, centroids = _materialized_assignments(spark, sf)
    cb = ivfpq_codebooks(spark, sf)
    d2k = _ivfpq_d2_kernel(centroids, cb)

    def build():
        out = assigned.select(
            "vec_id", "list_id", d2k(F.col("embedding"), F.col("list_id")).alias("_ds")
        )
        return _argmin_code_cols(out, "_ds")

    return materialized(spark, f"ivfpq_codes|{sf}", build)


def ann_ivfpq_topk(
    spark: SparkSession,
    sf: str,
    k: int = 10,
    *,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVFADC probe: nprobe nearest lists are chosen driver-side against
    the coarse centroids (as ``ann_ivf_topk``); each probed list gets its
    OWN lookup table from the residual q − centroid(list); candidates are
    scored as M literal-LUT lookups dispatched on ``list_id`` — a CASE
    over nprobe branches, still pure codegen.  Returns
    (vec_id, list_id, codes, adc_p6) top-k by approximate distance.

    Plan shape: the (vec_id, list_id, codes) relation is materialized
    once per (session, sf); at scale it is written ``partitionBy(list_id)``
    (the ``write_ivf_lake`` layout) so the IN-filter prunes list
    partitions at plan time AND each survivor row is M·log2(K) bits —
    the two multiplicative savings the IVFADC layout exists for.  The
    probe itself: scan → list filter → CASE-LUT sum → TakeOrdered; zero
    Python, zero joins, zero exchanges."""
    import numpy as np

    _assigned, centroids = _materialized_assignments(spark, sf)
    cb = ivfpq_codebooks(spark, sf)
    q = _query_vector(spark, sf)
    coded = ivfpq_codes(spark, sf)

    qv = np.asarray(q, dtype="float64")
    probe_lists = _probe_lists(centroids, q, nprobe)
    luts = {l: pq_lut([float(x) for x in qv - centroids[l]], cb) for l in probe_lists}

    adc = None
    for m in range(PQ_M):
        term = None
        for l in probe_lists:
            hit = F.element_at(
                F.array(*[F.lit(x) for x in luts[l][m]]), F.col(f"code_{m}") + 1
            )
            term = (
                F.when(F.col("list_id") == l, hit)
                if term is None
                else term.when(F.col("list_id") == l, hit)
            )
        adc = term if adc is None else adc + term
    return (
        coded.filter(F.col("list_id").isin(probe_lists))
        .select(
            "vec_id",
            "list_id",
            F.concat_ws(",", *[F.col(f"code_{m}") for m in range(PQ_M)]).alias(
                "codes"
            ),
            F.round(adc * 1e6).cast("long").alias("adc_p6"),
        )
        .orderBy("adc_p6", "vec_id")
        .limit(k)
    )


def _ivfpq_sub_sql(m: int) -> str:
    """Per-subspace residual-PQ chain: seed codebook from residuals,
    encode by rounded-argmin, per-probed-list LUT."""
    lo, hi = m * PQ_SUB + 1, (m + 1) * PQ_SUB
    d2 = (
        f"list_transform(cs, c -> round(list_sum(list_transform(range({PQ_SUB}),"
        f" j -> (sub[j+1] - c[j+1]) * (sub[j+1] - c[j+1]))), 9))"
    )
    return f"""
    rsub{m} AS (SELECT vec_id, list_id, rv[{lo}:{hi}] AS sub FROM residual),
    rcb_{m} AS (SELECT cid, rv[{lo}:{hi}] AS c FROM rseeds),
    rc_{m} AS (SELECT list(c ORDER BY cid) AS cs FROM rcb_{m}),
    renc_{m} AS (
        SELECT vec_id, list_position(ds, list_min(ds)) - 1 AS code
        FROM (SELECT vec_id, sub, {d2} AS ds FROM rsub{m}, rc_{m})
    ),
    rlut_{m} AS (
        SELECT pq.list_id, cb.cid,
               round(list_sum(list_transform(range({PQ_SUB}),
                 j -> (pq.qr[{m * PQ_SUB} + j + 1] - cb.c[j+1])
                      * (pq.qr[{m * PQ_SUB} + j + 1] - cb.c[j+1]))), 9) AS d
        FROM probe_resid pq, rcb_{m} cb
    )"""


ANN_IVFPQ_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT greatest((SELECT count(*) FROM e) // {IVF_NLIST}, 1) AS stride),
    seeds AS (
        SELECT (vec_id // stride)::INT AS list_id, v
        FROM e, p
        WHERE vec_id % stride = 0 AND vec_id // stride < {IVF_NLIST}
    ),
    cents AS (SELECT list(v ORDER BY list_id) AS cs FROM seeds),
    a2 AS (
        SELECT vec_id, v, list_position(ds, list_min(ds)) - 1 AS list_id
        FROM (SELECT vec_id, v,
                list_transform(cs, c -> round(list_sum(list_transform(range({DIM}),
                    j -> (v[j+1] - c[j+1]) * (v[j+1] - c[j+1]))), 9)) AS ds
              FROM e, cents)
    ),
    residual AS (
        SELECT a2.vec_id, a2.list_id,
               list_transform(range({DIM}),
                 j -> a2.v[j+1] - cs[a2.list_id + 1][j+1]) AS rv
        FROM a2, cents
    ),
    p2 AS (SELECT greatest((SELECT count(*) FROM e) // {PQ_K}, 1) AS stride2),
    rseeds AS (
        -- MID-STRIDE ids (k·stride + stride//2): the k·stride ids are the
        -- coarse seeds, whose residuals are identically zero
        SELECT ((r.vec_id - stride2 // 2) // stride2)::INT AS cid, r.rv
        FROM residual r, p2
        WHERE r.vec_id >= stride2 // 2
          AND (r.vec_id - stride2 // 2) % stride2 = 0
          AND (r.vec_id - stride2 // 2) // stride2 < {PQ_K}
    ),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    probe AS (
        SELECT s.list_id
        FROM seeds s, q
        ORDER BY round(list_sum(list_transform(range({DIM}),
                 j -> (s.v[j+1] - q.qv[j+1]) * (s.v[j+1] - q.qv[j+1]))), 9) ASC,
                 s.list_id ASC
        LIMIT {IVF_NPROBE}
    ),
    probe_resid AS (
        SELECT pr.list_id,
               list_transform(range({DIM}),
                 j -> q.qv[j+1] - cs[pr.list_id + 1][j+1]) AS qr
        FROM probe pr, q, cents
    ),
    {",".join(_ivfpq_sub_sql(m) for m in range(PQ_M))}
    SELECT r.vec_id, r.list_id,
           {" || ',' || ".join(f"renc_{m}.code::VARCHAR" for m in range(PQ_M))}
               AS codes,
           CAST(round(({" + ".join(f"l{m}.d" for m in range(PQ_M))}) * 1e6)
               AS BIGINT) AS adc_p6
    FROM residual r
    {" ".join(f"JOIN renc_{m} ON renc_{m}.vec_id = r.vec_id" for m in range(PQ_M))}
    {" ".join(
        f"JOIN rlut_{m} l{m} ON l{m}.list_id = r.list_id"
        f" AND l{m}.cid = renc_{m}.code"
        for m in range(PQ_M)
    )}
    WHERE r.list_id IN (SELECT list_id FROM probe)
    ORDER BY adc_p6, r.vec_id
    LIMIT 10
"""


# ---------------------------------------------------------------------------
# semantic decontamination — eval-set cosine screening
# ---------------------------------------------------------------------------

#: eval slice membership — same modulus contract as the n-gram
#: ``decontaminate`` operator so the two screens cover the same benchmark
SEMDECON_EVAL_MOD = 50
#: rounded-cosine contamination threshold; the flag is derived from the
#: ROUNDED similarity so a last-ulp divergence can never flip it
SEMDECON_THRESHOLD = 0.35


def decontaminate_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space decontamination: for every training vector, the max
    cosine similarity against the eval slice (``vec_id % 50 == 0``) and a
    contamination flag — catches paraphrased/reworded benchmark leakage the
    exact n-gram screen (``decontaminate``) misses.

    Scale shape: eval benchmarks are tiny relative to a training corpus, so
    the eval side is BROADCAST and the corpus-side scan is embarrassingly
    parallel — no shuffle of the big side at all; the only exchange is the
    per-vector groupBy(vec_id) max, which is map-side combinable down to
    one double per vector.  At 100 TB the same plan holds: |eval| ~ 1e5
    vectors × 64 dims ≈ 50 MB broadcast.  Cosines are rounded to 6 dp
    BEFORE the max (rounding is monotone, so round∘max ≡ max∘round) and
    the flag compares the rounded value — the ``quality_classify``
    boundary contract.
    """
    e = t(spark, sf, "embeddings")
    is_eval = F.col("vec_id") % SEMDECON_EVAL_MOD == 0
    ev = e.filter(is_eval).select(F.col("embedding").alias("ev"))
    tr = e.filter(~is_eval).select("vec_id", "embedding")
    return semantic_screen(tr, ev).orderBy("vec_id")


def semantic_screen(vecs: DataFrame, eval_vecs: DataFrame) -> DataFrame:
    """The screening core of the registry entry: (vec_id, embedding) ×
    frozen eval side → (vec_id, max_eval_sim, contaminated).

    Execution is an Arrow ``mapInPandas`` kernel: the eval matrix is
    collected once on the driver (tiny by contract — benchmarks, not
    corpora; the embed_kmeans centroid shape) and each input batch runs
    ONE float64 BLAS matmul against it — zero shuffles, zero joins, no
    interpreted per-element lambdas (a HOF-cosine × broadcast-join
    formulation is ~n·|eval|·dim INTERPRETED ops; measured unusable at
    200k×4k — the embed_quantize HOF lesson).  The max is rounded to
    6 dp and the flag compares the ROUNDED value (round∘max ≡ max∘round:
    rounding is monotone), the dedup_embedding cosine contract."""
    import numpy as np
    import pandas as pd

    rows = eval_vecs.collect()
    E = (
        np.stack([np.asarray(r["ev"], dtype="float64") for r in rows])
        if rows
        else np.zeros((0, 1))
    )
    if len(rows):
        En = E / np.linalg.norm(E, axis=1, keepdims=True)
    else:
        En = E

    def screen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            if not En.shape[0]:
                # empty eval set: nothing can be contaminated
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"], "max_eval_sim": -1.0}
                )
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "max_eval_sim": (Vn @ En.T).max(axis=1),
                }
            )

    out = vecs.select("vec_id", "embedding").mapInPandas(
        screen, "vec_id long, max_eval_sim double"
    )
    return out.select(
        "vec_id",
        F.round("max_eval_sim", 6).alias("max_eval_sim"),
        (F.round("max_eval_sim", 6) >= F.lit(SEMDECON_THRESHOLD)).alias(
            "contaminated"
        ),
    )


DECON_SEMANTIC_SQL = f"""
    WITH ev AS (
        SELECT embedding::DOUBLE[] AS ev FROM embeddings
        WHERE vec_id % {SEMDECON_EVAL_MOD} = 0),
    sims AS (
        SELECT e.vec_id,
               max(round(list_cosine_similarity(e.embedding::DOUBLE[], ev.ev), 6))
                   AS max_eval_sim
        FROM embeddings e, ev
        WHERE e.vec_id % {SEMDECON_EVAL_MOD} <> 0
        GROUP BY e.vec_id)
    SELECT vec_id, max_eval_sim,
           (max_eval_sim >= {SEMDECON_THRESHOLD}) AS contaminated
    FROM sims
    ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# embedding sanity screen — norm outliers
# ---------------------------------------------------------------------------

#: |z| at or above this (computed on the ROUNDED z) flags an outlier
OUTLIER_Z = 3.0


def embed_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Corrupt-embedding screen: per-vector L2 norm, its z-score against
    the corpus norm distribution, and an outlier flag — the cheap sanity
    gate that catches all-zero vectors, double-scaled batches, and NaN
    fallout before they poison ANN indexes or k-means.

    Determinism: the norm is the ``ann`` family's fold contract
    (sequential dot product, rounded ×1e6 to BIGINT); mean/variance then
    derive from exact BIGINT sums through a FIXED expression tree
    (sumsq/n − (sum/n)² — each IEEE op correctly rounded, identical in
    both engines), and the flag compares the ROUNDED z so the boundary
    can't split.  Scale shape: one narrow scan for norms, one
    constant-size aggregate broadcast back — no shuffle of vectors."""
    e = t(spark, sf, "embeddings")
    sq = F.aggregate(
        as_double("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    norms = e.select(
        "vec_id",
        F.round(F.sqrt(sq) * 1e6).cast("long").alias("norm_p6"),
    )
    stats = norms.agg(
        F.count("*").alias("n"),
        F.sum("norm_p6").alias("s1"),
        F.sum(F.col("norm_p6") * F.col("norm_p6")).alias("s2"),
    )
    var = F.col("s2") / F.col("n") - (F.col("s1") / F.col("n")) * (
        F.col("s1") / F.col("n")
    )
    # a constant norm distribution (e.g. unit-normalized embeddings) has
    # zero variance: every z is 0, nothing is an outlier
    z = F.when(
        var > 0,
        (F.col("norm_p6") - F.col("s1") / F.col("n")) / F.sqrt(var),
    ).otherwise(F.lit(0.0))
    return (
        norms.join(F.broadcast(stats))
        .select(
            "vec_id",
            "norm_p6",
            F.round(z, 3).alias("z_r3"),
            (F.abs(F.round(z, 3)) >= F.lit(OUTLIER_Z)).alias("outlier"),
        )
        .orderBy("vec_id")
    )


EMBED_OUTLIERS_SQL = f"""
    WITH norms AS (
        SELECT vec_id,
               CAST(round(sqrt(list_dot_product(embedding::DOUBLE[],
                                                embedding::DOUBLE[])) * 1e6)
                    AS BIGINT) AS norm_p6
        FROM embeddings),
    stats AS (SELECT count(*) AS n,
                     sum(norm_p6)::DOUBLE AS s1,
                     sum(norm_p6 * norm_p6)::DOUBLE AS s2
              FROM norms)
    SELECT vec_id, norm_p6,
           round(CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0
                      THEN (norm_p6 - s1 / n)
                           / sqrt(s2 / n - (s1 / n) * (s1 / n))
                      ELSE 0.0 END, 3) AS z_r3,
           (abs(round(CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0
                           THEN (norm_p6 - s1 / n)
                                / sqrt(s2 / n - (s1 / n) * (s1 / n))
                           ELSE 0.0 END, 3))
            >= {OUTLIER_Z}) AS outlier
    FROM norms, stats
    ORDER BY vec_id
"""
