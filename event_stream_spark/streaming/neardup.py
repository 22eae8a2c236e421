"""Streaming near-duplicate detection — the live twin of the batch
MinHash-LSH candidate generator (``datapipe.dedup.minhash_lsh_pairs``):
each arriving document's banded MinHash keys CLAIM LSH buckets held as
operator state, so a document colliding with any earlier document surfaces
in the same microbatch, against the entire stream history, without ever
joining the stream to itself.

Contract:

- **Signature parity**: the per-row Arrow kernel reproduces the batch
  family's exact pipeline — lowercase → split ``\\s+`` → drop empties →
  distinct word n-gram shingles → ``md5``-derived 32-bit base hash →
  ``(Aᵢ·h + Bᵢ) mod (2⁶¹−1)`` universal hashes → per-band min — so a
  stream restart followed by a batch backfill produces the same buckets
  (tested: kernel keys ≡ the relational ``shingle_rows``/``lsh_bands``
  derivation, row for row).
- **First-claim semantics**: per (band, key) bucket the state is the FIRST
  claimant (arrival order across batches, ascending doc_id within one) —
  the streaming analog of ``dedup_incremental``'s keep-first.  Every later
  claimant emits ``(doc_id, band_id, first_doc_id)``; a doc is a near-dup
  CANDIDATE if it appears for ≥ 1 band (OR-amplification, same S-curve as
  the batch planner ``text.lsh_plan``).  Exact-duplicate docs share every
  band, so they are guaranteed collisions; candidates at the similarity
  threshold follow the banding probability and downstream verifies exactly
  (the batch ``_verify_jaccard`` over the candidate doc ids).

Scale shape: the signature kernel is row-local (zero shuffles); the ONE
exchange is on the (band, key) bucket — the same key the state store
shards on.  Emission is append-mode: collisions are immutable facts.

STATE BOUND: without a policy, state is one long per distinct bucket
ever seen — bounded by corpus-distinct content, which still grows
forever on an open-ended stream.  ``claim_ttl_ms`` is the eviction
policy: a bucket's claim is a LEASE renewed by every touch (first claim
and every later collision), and a bucket idle for the TTL is evicted by
the state store's processing-time timeout.  Under the policy, state
size is bounded by the distinct buckets touched within any TTL window —
a rate × horizon product, independent of total stream length (measured
in ``test_streaming_neardup_state_ttl_bound``).

The documented semantic trade: duplicates are detected against claims
ACTIVE within the horizon; a duplicate arriving after its bucket's
lease expired re-claims the bucket as a fresh first-claimant and is NOT
flagged (exactly the watermarked-dedup contract every bounded-state
streaming dedup makes).  Pick the TTL from the dedup-recency SLO; the
unbounded default keeps full-history semantics for bounded corpora, and
a petabyte deployment that needs full history pushes claims into the
snapshot log.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from event_stream_spark.datapipe.dedup import _MH_A, _MH_B, _MH_P

NEARDUP_OUTPUT_SCHEMA = "doc_id long, band_id int, first_doc_id long"
NEARDUP_STATE_SCHEMA = "first long"


def band_keys_udf(*, bands: int = 4, rows: int = 4, shingle_n: int = 3):
    """Arrow kernel: the document's ``bands`` LSH band keys, bit-identical
    to the batch relational derivation (``minhash_lsh_pairs``).  Docs with
    fewer than ``shingle_n`` words yield an empty array — the batch path
    has no signature rows for them either."""
    import re

    k = bands * rows
    A, B = _MH_A[:k], _MH_B[:k]
    # Java regex \s is ASCII-only ([ \t\n\x0B\f\r]); Python str.split()
    # splits on ALL Unicode whitespace (U+00A0 etc.) and would fork the
    # tokenization contract — re.ASCII pins the same class the batch
    # word_rows/shingle_rows path uses
    ws_re = re.compile(r"\s+", re.ASCII)

    @F.pandas_udf("array<string>")
    def _keys(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            ws = [w for w in ws_re.split((t or "").lower()) if w]
            sh = {
                " ".join(ws[i : i + shingle_n])
                for i in range(len(ws) - shingle_n + 1)
            }
            if not sh:
                out.append([])
                continue
            mins = [_MH_P] * k
            for s in sh:
                base = int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                for i in range(k):
                    h = (A[i] * base + B[i]) % _MH_P
                    if h < mins[i]:
                        mins[i] = h
            out.append(
                [
                    "|".join(str(m) for m in mins[b * rows : (b + 1) * rows])
                    for b in range(bands)
                ]
            )
        return pd.Series(out)

    return _keys


def _first_claim_fn(claim_ttl_ms: int | None):
    """The stateful kernel; with a TTL every touch renews the bucket's
    lease and an idle bucket is evicted by processing-time timeout."""

    def _first_claim(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if claim_ttl_ms is not None and state.hasTimedOut:
            state.remove()  # lease expired: next claimant starts fresh
            return
        ids: list[int] = []
        for pdf in pdfs:
            ids.extend(int(x) for x in pdf["doc_id"])
        ids = sorted(set(ids))
        first = int(state.get[0]) if state.exists else ids[0]
        collide = [i for i in ids if i != first]
        if not state.exists:
            state.update((first,))
        if claim_ttl_ms is not None:
            # a set timeout is cleared on every invocation — renew the
            # lease whether this call claimed or collided
            state.setTimeoutDuration(claim_ttl_ms)
        yield pd.DataFrame(
            {
                "doc_id": collide,
                "band_id": [key[0]] * len(collide),
                "first_doc_id": [first] * len(collide),
            }
        )

    return _first_claim


def neardup_collisions(
    docs: DataFrame,
    *,
    bands: int = 4,
    rows: int = 4,
    shingle_n: int = 3,
    text_col: str = "text",
    claim_ttl_ms: int | None = None,
) -> DataFrame:
    """LSH bucket collisions over a document stream with (doc_id,
    ``text_col``) columns: one row per (later doc, band) whose bucket an
    earlier doc already claimed.  Works on batch DataFrames too (one
    "microbatch").

    ``claim_ttl_ms`` bounds state on open-ended streams: a bucket claim
    idle for the TTL is evicted, so state tracks the distinct buckets of
    a TTL window instead of all history (see the module doc for the
    recency-horizon semantics this trades)."""
    keyed = docs.select(
        "doc_id",
        F.posexplode(band_keys_udf(bands=bands, rows=rows, shingle_n=shingle_n)(
            F.col(text_col)
        )).alias("band_id", "band_key"),
    )
    return keyed.groupBy("band_id", "band_key").applyInPandasWithState(
        _first_claim_fn(claim_ttl_ms),
        outputStructType=NEARDUP_OUTPUT_SCHEMA,
        stateStructType=NEARDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if claim_ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
