"""RFC 8878 Zstandard COMPRESSOR — pure Python, real compression.

Upgrades the produce direction from :func:`zstdcodec.zstd_store_frame`'s
store-mode frames (spec-compliant but uncompressed) to genuine LZ77 +
entropy-coded frames:

- greedy hash-table LZ77 match finding over the whole frame (offsets may
  reference earlier blocks — single-segment frames make every in-frame
  offset legal);
- sequences entropy-coded per channel in the cheapest RFC 8878 mode:
  *RLE* (constant code), *FSE_Compressed* (histogram-fitted normalized
  distribution, serialized via the FSE_writeNCount format, chosen when
  its entropy + table bytes beat predefined by a margin), else the
  §3.1.1.3.2.2 *predefined* distributions — all tANS-encoded as the
  exact inverse of the decode tables in ``zstdcodec``;
- literals either raw, RLE, or Huffman-coded (§4.2.1 direct-weights
  tree description, package-merge length-limited to 11 bits, 1- or
  4-stream per the size formats the decoder accepts);
- per-block fallback: RLE block for constant runs, raw block whenever
  the compressed rendering would not be strictly smaller (the spec
  requires compressed blocks to be smaller than their content).

Every frame round-trips through ``zstdcodec.zstd_decompress`` (the
verification oracle) and is accepted by the ``zstd`` CLI — see
``tests/test_zstdenc.py``.

Caller: the ``.jsonl.zst`` dump writer (``sources/dumps.py``) — a real
zstd compress direction with zero dependencies, mirroring the decoder's
stance.
"""
from __future__ import annotations

import struct
from bisect import bisect_right

from .zstdcodec import (
    _LL_BASE,
    _LL_BITS,
    _MAGIC,
    _ML_BASE,
    _ML_BITS,
    _PREDEF,
    ZstdError,
    _fse_from_norm,
    xxh64,
)

_BLOCK_MAX = 128 * 1024
_MIN_MATCH = 4
#: predefined OF table tops out at code 28 → Offset_Value < 2^29
_MAX_OFFSET = (1 << 29) - 4


# --------------------------------------------------------------------------
# Backward bit writer (the encoder side of zstdcodec._BackBits)
# --------------------------------------------------------------------------


class _BitWriter:
    """LSB-first accumulator; :meth:`close` appends the guard 1-bit and
    pads to a byte, so the decoder's ``last.bit_length()-1`` finds the
    stream end exactly."""

    __slots__ = ("acc", "n", "out")

    def __init__(self) -> None:
        self.acc = 0
        self.n = 0
        self.out = bytearray()

    def add(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc |= (value & ((1 << nbits) - 1)) << self.n
        self.n += nbits
        while self.n >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.n -= 8

    def close(self) -> bytes:
        self.add(1, 1)
        if self.n:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


# --------------------------------------------------------------------------
# FSE encode tables (inverse of zstdcodec._fse_from_norm, same spread)
# --------------------------------------------------------------------------


class _FseCTable:
    """tANS encode table for one normalized distribution.

    ``next_state[cumul[s] + x]`` holds the *value-domain* state
    (``size + u``) for symbol ``s``'s ``x``-th cell ``u`` in table-spread
    order — the exact inverse mapping of the decode table, so encoder
    transitions land on states whose decode cell carries the symbol."""

    __slots__ = ("log", "next_state", "delta_nbits", "delta_find")

    def __init__(self, norm: list, log: int) -> None:
        size = 1 << log
        dec = _fse_from_norm(norm, log)  # reuse the spread — must agree
        eff = [1 if c == -1 else c for c in norm]
        cumul = [0]
        for c in eff:
            cumul.append(cumul[-1] + max(c, 0))
        fill = list(cumul[:-1])
        nxt = [0] * size
        for u in range(size):
            s = dec.symbol[u]
            nxt[fill[s]] = size + u
            fill[s] += 1
        dn = [0] * len(norm)
        df = [0] * len(norm)
        for s, c in enumerate(norm):
            if c == 0:
                continue
            if c in (-1, 1):
                dn[s] = (log << 16) - (1 << log)
                df[s] = cumul[s] - 1
            else:
                max_bits = log - ((c - 1).bit_length() - 1)
                dn[s] = (max_bits << 16) - (c << max_bits)
                df[s] = cumul[s] - c
        self.log = log
        self.next_state = nxt
        self.delta_nbits = dn
        self.delta_find = df

    def init_state(self, sym: int) -> int:
        dn = self.delta_nbits[sym]
        nb = (dn + (1 << 15)) >> 16
        v = (nb << 16) - dn
        return self.next_state[(v >> nb) + self.delta_find[sym]]

    def encode(self, state: int, sym: int, w: _BitWriter) -> int:
        nb = (state + self.delta_nbits[sym]) >> 16
        w.add(state, nb)
        return self.next_state[(state >> nb) + self.delta_find[sym]]


_CTABLES: dict[str, _FseCTable] = {}


def _ctable(kind: str) -> _FseCTable:
    if kind not in _CTABLES:
        norm, log = _PREDEF[kind]
        _CTABLES[kind] = _FseCTable(norm, log)
    return _CTABLES[kind]


# --------------------------------------------------------------------------
# Sequence section (per-channel mode: predefined / RLE / dynamic FSE)
# --------------------------------------------------------------------------


def _channel_plan(
    kind: str, hist: dict, prev: tuple | None = None
) -> tuple[int, bytes, "_FseCTable | None", tuple]:
    """Pick the cheapest RFC 8878 compression mode for one sequence-code
    channel given its code histogram: RLE (one distinct code → 1 header
    byte, zero state bits), Repeat (reuse the previous sequence-bearing
    block's table — zero header bytes, legal whenever that table codes
    every symbol present), FSE_Compressed (histogram-fitted table when
    its entropy + table bytes beat the alternatives by a margin), else
    Predefined.  ``prev`` is the DECODER-VISIBLE previous table for this
    channel — ("fse", norm, log, ctable) | ("rle", sym) | ("pred",) —
    exactly mirroring the decoder's frame context (which only advances on
    compressed blocks with sequences).  Returns (mode_bits, header_bytes,
    ctable, table_desc); ctable None means a constant channel with no
    state machine.  Real corpora with skewed match-length histograms
    leave ~15% ratio on the table under predefined-only coding — this is
    where the CLI's edge over the r8 encoder came from."""
    import math

    from .zstdcodec import _MAX_LOG

    if len(hist) == 1:
        sym = next(iter(hist))
        if prev is not None and prev[0] == "rle" and prev[1] == sym:
            return 3, b"", None, prev  # repeat the RLE symbol: 0 bytes
        return 1, bytes([sym]), None, ("rle", sym)
    pnorm, plog = _PREDEF[kind]
    pred_bits = 0.0
    for s, c in hist.items():
        pc = pnorm[s] if s < len(pnorm) else 0
        eff = 1 if pc == -1 else pc
        if eff <= 0:
            pred_bits = float("inf")  # predefined cannot code this symbol
            break
        pred_bits += c * (plog - math.log2(eff))
    rep_bits = float("inf")
    if prev is not None and prev[0] == "fse":
        _tag, rnorm, rlog, _rct = prev
        rep_bits = 0.0
        for s, c in hist.items():
            rc = rnorm[s] if s < len(rnorm) else 0
            eff = 1 if rc == -1 else rc
            if eff <= 0:
                rep_bits = float("inf")
                break
            rep_bits += c * (rlog - math.log2(eff))
    best: tuple | None = None
    for log in range(5, _MAX_LOG[kind] + 1):
        if (1 << log) < 2 * len(hist):
            continue  # normalization caps counts at half the table
        try:
            norm = _fse_normalize(hist, log)
        except ZstdError:
            continue
        table = _fse_write_table(norm, log)
        bits = len(table) * 8 + sum(
            c * (log - math.log2(norm[s])) for s, c in hist.items()
        )
        if best is None or bits < best[0]:
            best = (bits, norm, log, table)
    # 16-bit margin absorbs the entropy estimate's error vs the true
    # tANS state-transition cost — never flip modes for a wash
    base = min(pred_bits, rep_bits)
    if best is not None and best[0] + 16 < base:
        _, norm, log, table = best
        ct = _FseCTable(norm, log)
        return 2, table, ct, ("fse", norm, log, ct)
    if rep_bits < pred_bits:
        return 3, b"", prev[3], prev
    if math.isinf(pred_bits):
        # the histogram holds a symbol the predefined distribution gives
        # zero weight, no repeat table covers it, and every dynamic-FSE
        # normalization attempt failed — emitting predefined here would
        # produce a frame the decoder cannot reproduce; fail loudly
        raise ZstdError(
            f"{kind} channel: symbol outside the predefined table and no "
            "dynamic/repeat table is usable"
        )
    return 0, b"", _ctable(kind), ("pred",)


def _encode_sequences(
    seqs: list, ctx: dict | None = None
) -> tuple[bytes, dict]:
    """Sequences section bytes plus the DECODER-VISIBLE table context
    after this section (kind → table_desc) — the caller mirrors it into
    its frame state only when the block is actually EMITTED as a
    compressed block with sequences, exactly when the decoder's frame
    context advances."""
    ctx = ctx or {}
    out = bytearray()
    n = len(seqs)
    if n < 128:
        out.append(n)
    elif n < 0x7F00:
        out.append((n >> 8) + 128)
        out.append(n & 0xFF)
    else:
        out.append(255)
        out += struct.pack("<H", n - 0x7F00)
    if n == 0:
        return bytes(out), dict(ctx)
    codes = []
    for ll, ofv, ml in seqs:
        llc = bisect_right(_LL_BASE, ll) - 1
        mlc = bisect_right(_ML_BASE, ml) - 1
        ofc = ofv.bit_length() - 1
        if ofc > 28:
            raise ZstdError("offset beyond the predefined OF table")
        codes.append(
            (
                llc,
                ll - _LL_BASE[llc],
                _LL_BITS[llc],
                mlc,
                ml - _ML_BASE[mlc],
                _ML_BITS[mlc],
                ofc,
                ofv - (1 << ofc),
            )
        )
    # per-channel mode choice from the block's own code histograms
    ll_hist: dict[int, int] = {}
    of_hist: dict[int, int] = {}
    ml_hist: dict[int, int] = {}
    for llc, _x, _b, mlc, _mx, _mb, ofc, _ox in codes:
        ll_hist[llc] = ll_hist.get(llc, 0) + 1
        of_hist[ofc] = of_hist.get(ofc, 0) + 1
        ml_hist[mlc] = ml_hist.get(mlc, 0) + 1
    ll_mode, ll_hdr, ll_ct, ll_desc = _channel_plan(
        "ll", ll_hist, ctx.get("ll")
    )
    of_mode, of_hdr, of_ct, of_desc = _channel_plan(
        "of", of_hist, ctx.get("of")
    )
    ml_mode, ml_hdr, ml_ct, ml_desc = _channel_plan(
        "ml", ml_hist, ctx.get("ml")
    )
    out.append((ll_mode << 6) | (of_mode << 4) | (ml_mode << 2))
    # table / RLE-symbol headers in ll, of, ml order (§3.1.1.3.2.1)
    out += ll_hdr + of_hdr + ml_hdr
    w = _BitWriter()
    # canonical write order (ZSTD_encodeSequences): init states on the
    # LAST sequence's codes, write its extra bits, then walk backward
    # encoding state transitions + extras, and flush ml/of/ll states —
    # the decoder reads the exact reverse (init ll/of/ml, extras
    # of/ml/ll, updates ll/ml/of).  An RLE channel (ctable None) has no
    # state machine: zero init, transition, and flush bits.
    llc, llx, llb, mlc, mlx, mlb, ofc, ofx = codes[-1]
    ml_s = ml_ct.init_state(mlc) if ml_ct else 0
    of_s = of_ct.init_state(ofc) if of_ct else 0
    ll_s = ll_ct.init_state(llc) if ll_ct else 0
    w.add(llx, llb)
    w.add(mlx, mlb)
    w.add(ofx, ofc)
    for i in range(n - 2, -1, -1):
        llc, llx, llb, mlc, mlx, mlb, ofc, ofx = codes[i]
        if of_ct:
            of_s = of_ct.encode(of_s, ofc, w)
        if ml_ct:
            ml_s = ml_ct.encode(ml_s, mlc, w)
        if ll_ct:
            ll_s = ll_ct.encode(ll_s, llc, w)
        w.add(llx, llb)
        w.add(mlx, mlb)
        w.add(ofx, ofc)
    if ml_ct:
        w.add(ml_s, ml_ct.log)
    if of_ct:
        w.add(of_s, of_ct.log)
    if ll_ct:
        w.add(ll_s, ll_ct.log)
    out += w.close()
    return bytes(out), {"ll": ll_desc, "of": of_desc, "ml": ml_desc}


# --------------------------------------------------------------------------
# Huffman literals (direct-weights tree description)
# --------------------------------------------------------------------------

_HUF_MAX_BITS = 11
_HUF_MIN_LITS = 64  # below this the tree header outweighs any gain


def _fse_normalize(hist: dict, log: int) -> list:
    """Normalize a histogram to counts summing to ``1 << log``.

    Every count is capped at ``2^(log-1)`` so every decode-table cell
    keeps ``nbits >= 1`` — that makes the weight decoder's pre-checked
    end condition (``nb > stream.pos``) exactly equivalent to canonical
    zstd's post-checked one, so round-trip is structural, not lucky."""
    size = 1 << log
    total = sum(hist.values())
    norm = {
        s: max(1, min(size >> 1, round(c * size / total)))
        for s, c in hist.items()
    }
    diff = size - sum(norm.values())
    order = sorted(norm, key=lambda s: -hist[s])
    while diff != 0:
        for s in order:
            if diff > 0 and norm[s] < size >> 1:
                step = min(diff, (size >> 1) - norm[s])
                norm[s] += step
                diff -= step
            elif diff < 0 and norm[s] > 1:
                step = min(-diff, norm[s] - 1)
                norm[s] -= step
                diff += step
            if diff == 0:
                break
        else:
            raise ZstdError("FSE normalization cannot balance")
    out = [0] * (max(hist) + 1)
    for s, c in norm.items():
        out[s] = c
    return out


def _fse_write_table(norm: list, log: int) -> bytes:
    """Serialize normalized counts in the FSE_writeNCount format — the
    exact inverse of ``zstdcodec._fse_read_table`` (forward LSB-first
    stream, power-of-two threshold shrinking)."""
    acc = 0
    n = 0
    out = bytearray()

    def put(value: int, nbits: int) -> None:
        nonlocal acc, n
        acc |= (value & ((1 << nbits) - 1)) << n
        n += nbits
        while n >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n -= 8

    put(log - 5, 4)
    remaining = (1 << log) + 1
    threshold = 1 << log
    nbits = log + 1
    s = 0
    while remaining > 1 and s < len(norm):
        count = norm[s]
        value = count + 1
        cap = (2 * threshold - 1) - remaining
        if value < cap:
            put(value, nbits - 1)
        else:
            put(value if value < threshold else value + cap, nbits)
        remaining -= 1 if count == -1 else count
        s += 1
        if count == 0:
            # repeat flag: 2-bit runs of further zero-count symbols
            run = 0
            while s + run < len(norm) and norm[s + run] == 0:
                run += 1
            while True:
                rep = min(run, 3)
                put(rep, 2)
                s += rep
                run -= rep
                if rep != 3:
                    break
        while remaining < threshold and remaining > 1:
            threshold >>= 1
            nbits -= 1
    if remaining != 1:
        raise ZstdError("FSE table write: counts do not sum to table size")
    if n:
        out.append(acc & 0xFF)
    return bytes(out)


def _fse_weights_section(weights: list) -> "bytes | None":
    """Huffman tree description with FSE-compressed weights (header byte
    < 128): two interleaved tANS states over the weight list — the
    inverse of the reader in ``zstdcodec._huf_read_tree``."""
    if len(weights) < 2:
        return None
    hist: dict[int, int] = {}
    for w in weights:
        hist[w] = hist.get(w, 0) + 1
    if len(hist) < 2:
        return None  # degenerate: direct representation handles it
    # accuracy log: the table description stores log-5 in 4 bits, so the
    # floor is 5; the spec max for huffman weights is 6
    log = 6 if len(weights) >= 64 else 5
    norm = _fse_normalize(hist, log)
    table_desc = _fse_write_table(norm, log)
    ct = _FseCTable(norm, log)
    w = _BitWriter()
    # canonical FSE_compress_usingCTable: consume symbols from the end,
    # two interleaved states; flush order C2 then C1 so the decoder's
    # first init read lands on C1's state
    idx = len(weights) - 1
    if len(weights) & 1:
        c1 = ct.init_state(weights[idx])
        c2 = ct.init_state(weights[idx - 1])
        c1 = ct.encode(c1, weights[idx - 2], w)
        idx -= 3
    else:
        c2 = ct.init_state(weights[idx])
        c1 = ct.init_state(weights[idx - 1])
        idx -= 2
    while idx >= 0:
        c2 = ct.encode(c2, weights[idx], w)
        c1 = ct.encode(c1, weights[idx - 1], w)
        idx -= 2
    w.add(c2, log)
    w.add(c1, log)
    payload = table_desc + w.close()
    if len(payload) >= 128:
        return None  # header byte must stay < 128
    return bytes([len(payload)]) + payload


def _limited_lengths(items: list, max_len: int) -> dict:
    """Package-merge: optimal length-limited prefix code with exact
    Kraft equality (which the decoder's implied-weight check demands)."""
    n = len(items)
    leaves = sorted((f, (s,)) for s, f in items)
    lst = list(leaves)
    for _ in range(max_len - 1):
        pkg = [
            (a[0] + b[0], a[1] + b[1])
            for a, b in zip(lst[0::2], lst[1::2])
        ]
        lst = sorted(pkg + leaves)
    lengths = {s: 0 for s, _ in items}
    for _, syms in lst[: 2 * n - 2]:
        for s in syms:
            lengths[s] += 1
    return lengths


def _huf_literals(lits: bytes) -> "bytes | None":
    """Huffman-coded literals section, or None when raw is better or the
    direct-weights header cannot describe the alphabet."""
    regen = len(lits)
    if regen < _HUF_MIN_LITS or regen > (1 << 18) - 1:
        return None
    freqs: dict[int, int] = {}
    for b in lits:
        freqs[b] = freqs.get(b, 0) + 1
    if len(freqs) < 2:
        return None  # constant run → RLE literals handles it
    last = max(freqs)
    lengths = _limited_lengths(sorted(freqs.items()), _HUF_MAX_BITS)
    max_bits = max(lengths.values())
    weights = {s: max_bits + 1 - L for s, L in lengths.items()}
    # canonical code assignment: fill by increasing weight, symbols
    # ascending within a weight class (zstdcodec._huf_from_weights)
    codes: dict[int, tuple] = {}
    pos = 0
    for wgt in range(1, max_bits + 1):
        span = 1 << (wgt - 1)
        for s in sorted(s for s, ww in weights.items() if ww == wgt):
            codes[s] = (pos >> (wgt - 1), max_bits + 1 - wgt)
            pos += span
    if pos != 1 << max_bits:
        raise ZstdError("huffman encode table not fully populated")
    # tree description: weights for symbols 0..last-1, symbol `last`
    # implied by Kraft completion.  Direct representation (headerByte =
    # 127 + n, 4-bit weights) carries ≤128 entries; wider alphabets (or
    # whenever it is smaller) use FSE-compressed weights (headerByte =
    # compressed size < 128)
    wlist = [weights.get(s, 0) for s in range(last)]
    tree = None
    if last <= 128:
        tree = bytearray([127 + last])
        for i in range(0, last, 2):
            hi = wlist[i] << 4
            lo = wlist[i + 1] if i + 1 < last else 0
            tree.append(hi | lo)
    fse_tree = _fse_weights_section(wlist)
    if fse_tree is not None and (tree is None or len(fse_tree) < len(tree)):
        tree = fse_tree
    if tree is None:
        return None

    def _enc_stream(part: bytes) -> bytes:
        w = _BitWriter()
        for b in reversed(part):
            c, L = codes[b]
            w.add(c, L)
        return w.close()

    if regen <= 1023:
        payload = tree + _enc_stream(lits)
        comp = len(payload)
        if comp > 1023:
            return None
        hdr = bytes(
            [
                2 | (0 << 2) | ((regen & 0xF) << 4),
                (regen >> 4) | ((comp & 3) << 6),
                comp >> 2,
            ]
        )
        section = hdr + payload
        return section if len(section) < regen else None
    part = (regen + 3) // 4
    parts = [
        lits[:part],
        lits[part : 2 * part],
        lits[2 * part : 3 * part],
        lits[3 * part :],
    ]
    streams = [_enc_stream(p) for p in parts]
    if max(len(s) for s in streams[:3]) > 0xFFFF:
        return None
    payload = (
        tree
        + struct.pack("<HHH", len(streams[0]), len(streams[1]), len(streams[2]))
        + b"".join(streams)
    )
    comp = len(payload)
    if regen <= 0x3FFF and comp <= 0x3FFF:
        hdr = bytes(
            [
                2 | (2 << 2) | ((regen & 0xF) << 4),
                (regen >> 4) & 0xFF,
                ((regen >> 12) & 3) | ((comp & 0x3F) << 2),
                comp >> 6,
            ]
        )
    elif comp < (1 << 18):
        hdr = bytes(
            [
                2 | (3 << 2) | ((regen & 0xF) << 4),
                (regen >> 4) & 0xFF,
                ((regen >> 12) & 0x3F) | ((comp & 3) << 6),
                (comp >> 2) & 0xFF,
                comp >> 10,
            ]
        )
    else:
        return None
    section = hdr + payload
    return section if len(section) < regen else None


def _raw_literals(lits: bytes) -> bytes:
    size = len(lits)
    if size <= 31:
        return bytes([size << 3]) + lits
    if size <= 4095:
        return bytes([(1 << 2) | ((size & 0xF) << 4), size >> 4]) + lits
    return (
        bytes(
            [
                (3 << 2) | ((size & 0xF) << 4),
                (size >> 4) & 0xFF,
                size >> 12,
            ]
        )
        + lits
    )


def _rle_literals(lits: bytes) -> bytes:
    size = len(lits)
    if size <= 31:
        return bytes([1 | (size << 3), lits[0]])
    if size <= 4095:
        return bytes([1 | (1 << 2) | ((size & 0xF) << 4), size >> 4, lits[0]])
    return bytes(
        [
            1 | (3 << 2) | ((size & 0xF) << 4),
            (size >> 4) & 0xFF,
            size >> 12,
            lits[0],
        ]
    )


def _literals_section(lits: bytes) -> bytes:
    if lits and lits.count(lits[0]) == len(lits):
        return _rle_literals(lits)
    huf = _huf_literals(lits)
    raw = _raw_literals(lits)
    return huf if huf is not None and len(huf) < len(raw) else raw


# --------------------------------------------------------------------------
# LZ77 greedy parse (frame-wide hash table, block-local sequences)
# --------------------------------------------------------------------------


def _match_len(data: bytes, a: int, b: int, limit: int) -> int:
    """Length of the common prefix of data[a:] and data[b:], capped."""
    n = 0
    step = 256
    while n + step <= limit and data[a + n : a + n + step] == data[b + n : b + n + step]:
        n += step
    while n < limit and data[a + n] == data[b + n]:
        n += 1
    return n


def _to_offset_vals(seqs_raw: list, rep: list) -> list:
    """Convert raw (ll, offset, ml) triples to (ll, Offset_Value, ml),
    emitting repeat-offset codes (values 1-3) when the offset hits the
    frame's repeat history — on structured text (jsonl records with a
    fixed skeleton) most matches reuse the last offset, and a repeat
    code costs 0-1 extra bits instead of ~log2(offset).  ``rep`` is
    mutated to mirror ``zstdcodec._execute``'s update algebra exactly;
    the caller owns transactionality (pass a copy if the block may fall
    back to a rendering that drops these sequences)."""
    out = []
    for ll, off, ml in seqs_raw:
        if ll > 0:
            if off == rep[0]:
                ov = 1
            elif off == rep[1]:
                ov = 2
            elif off == rep[2]:
                ov = 3
            else:
                ov = off + 3
        else:
            if off == rep[1]:
                ov = 1
            elif off == rep[2]:
                ov = 2
            else:  # the ll==0 value-3 slot means rep[0]-1; not worth it
                ov = off + 3
        if ov > 3:
            rep[:] = [off, rep[0], rep[1]]
        else:
            idx = ov - 1 + (1 if ll == 0 else 0)
            if idx == 1:
                rep[:] = [off, rep[0], rep[2]]
            elif idx == 2:
                rep[:] = [off, rep[0], rep[1]]
            # idx == 0: history unchanged
        out.append((ll, ov, ml))
    return out


def _lz_parse(data: bytes, base: int, end: int, table: dict) -> tuple:
    """Greedy parse of ``data[base:end]``; ``table`` maps a 4-byte hash
    to its most recent position frame-wide, so matches may reach into
    earlier blocks.  Returns raw (ll, offset, ml) sequences and the
    block's literals."""
    seqs: list = []
    lits = bytearray()
    i = base
    anchor = base
    last_start = end - _MIN_MATCH
    get = table.get
    # the table key is the exact little-endian u32 at each position,
    # maintained as a rolling register (one byte index + shifts per step
    # instead of a bytes-slice allocation); exact keys mean a candidate
    # always matches its 4 bytes, no re-check
    kv = int.from_bytes(data[i : i + 4], "little") if i <= last_start else 0
    fresh = True  # kv is valid for position i
    while i <= last_start:
        if not fresh:
            kv = int.from_bytes(data[i : i + 4], "little")
            fresh = True
        cand = get(kv)
        table[kv] = i
        if cand is not None and i - cand <= _MAX_OFFSET:
            mlen = _MIN_MATCH + _match_len(
                data, cand + _MIN_MATCH, i + _MIN_MATCH, end - i - _MIN_MATCH
            )
            if mlen == _MIN_MATCH and i - cand >= (1 << 10):
                # a 4-byte match with a far offset costs more to encode
                # than 4 literals on entropy-skewed text (small alphabets
                # collide on 4-grams constantly) — skip it
                i += 1
                if i <= last_start:
                    kv = (kv >> 8) | (data[i + 3] << 24)
                continue
            # one-step LAZY matching (the classic zstd heuristic): if the
            # NEXT position starts a strictly longer match, emitting one
            # literal and taking it wins — greedy otherwise truncates the
            # long match to whatever tail survives the short one
            if i + 1 <= last_start:
                kv1 = (kv >> 8) | (data[i + 4] << 24) if i + 4 < end else None
                cand1 = get(kv1) if kv1 is not None else None
                if cand1 is not None and (i + 1) - cand1 <= _MAX_OFFSET:
                    mlen1 = _MIN_MATCH + _match_len(
                        data,
                        cand1 + _MIN_MATCH,
                        i + 1 + _MIN_MATCH,
                        end - i - 1 - _MIN_MATCH,
                    )
                    if mlen1 > mlen + 1:
                        i += 1
                        kv = kv1
                        table[kv] = i
                        cand, mlen = cand1, mlen1
            lits += data[anchor:i]
            seqs.append((i - anchor, i - cand, mlen))
            # seed a couple of in-match positions so long repeats keep
            # finding fresh (closer) candidates
            if mlen > 8:
                mid = i + (mlen >> 1)
                if mid <= last_start:
                    table[int.from_bytes(data[mid : mid + 4], "little")] = mid
            i += mlen
            if i - _MIN_MATCH <= last_start and i - _MIN_MATCH > cand:
                tail = i - _MIN_MATCH
                table[int.from_bytes(data[tail : tail + 4], "little")] = tail
            anchor = i
            fresh = False
        else:
            i += 1
            if i <= last_start:
                kv = (kv >> 8) | (data[i + 3] << 24)
    lits += data[anchor:end]
    return seqs, bytes(lits)


# --------------------------------------------------------------------------
# Frame assembly
# --------------------------------------------------------------------------


def zstd_compress(data: bytes, *, checksum: bool = True) -> bytes:
    """Compress ``data`` into one single-segment zstd frame.

    Single-segment means the window is the whole frame content, so any
    in-frame offset is legal and matches may cross block boundaries —
    the same framing ``zstd_store_frame`` uses, now with compressed
    blocks.  Per 128 KiB block the best of {RLE, compressed, raw} is
    emitted; "compressed" must be strictly smaller than the content
    (spec rule), so incompressible input degrades to store-mode exactly.
    """
    n = len(data)
    if n <= 0xFF:
        fcs_flag, fcs = 0, struct.pack("<B", n)
    elif n - 256 <= 0xFFFF:
        fcs_flag, fcs = 1, struct.pack("<H", n - 256)
    elif n <= 0xFFFFFFFF:
        fcs_flag, fcs = 2, struct.pack("<I", n)
    else:
        fcs_flag, fcs = 3, struct.pack("<Q", n)
    fhd = (fcs_flag << 6) | 0x20 | (0x04 if checksum else 0)
    out = bytearray(struct.pack("<IB", _MAGIC, fhd) + fcs)
    if n == 0:
        out += (1).to_bytes(3, "little")  # last raw block, size 0
    else:
        table: dict = {}
        rep = [1, 4, 8]  # frame-level repeat-offset history
        seq_ctx: dict = {}  # decoder-visible sequence tables (Repeat_Mode)
        pos = 0
        while pos < n:
            chunk_end = min(pos + _BLOCK_MAX, n)
            chunk = data[pos:chunk_end]
            last = 1 if chunk_end >= n else 0
            if chunk.count(chunk[0]) == len(chunk):
                out += ((len(chunk) << 3) | (1 << 1) | last).to_bytes(3, "little")
                out.append(chunk[0])
            else:
                seqs_raw, lits = _lz_parse(data, pos, chunk_end, table)
                new_rep = list(rep)
                seqs = _to_offset_vals(seqs_raw, new_rep)
                seq_bytes, new_ctx = _encode_sequences(seqs, seq_ctx)
                body = _literals_section(lits) + seq_bytes
                used_seqs = True
                if seqs:
                    # alternative rendering: the whole chunk as Huffman
                    # literals with zero sequences — wins when the "LZ"
                    # matches were 4-gram noise on a small alphabet
                    flat = _huf_literals(chunk)
                    if flat is not None and len(flat) + 1 < len(body):
                        body = flat + b"\x00"
                        used_seqs = False
                if len(body) < len(chunk):
                    out += ((len(body) << 3) | (2 << 1) | last).to_bytes(
                        3, "little"
                    )
                    out += body
                    if used_seqs:
                        # the decoder will replay these sequences; its
                        # repeat-offset history AND sequence-table context
                        # move with them (both stay put when the block is
                        # emitted raw/flat instead)
                        rep = new_rep
                        if seqs:
                            seq_ctx = new_ctx
                else:
                    out += ((len(chunk) << 3) | last).to_bytes(3, "little")
                    out += chunk
            pos = chunk_end
    if checksum:
        out += struct.pack("<I", xxh64(data) & 0xFFFFFFFF)
    return bytes(out)


def zstd_compress_fast(data: bytes, *, level: int = 3) -> bytes:
    """Compress with the fastest available backend (mirror of
    ``zstd_decompress_fast``): the ``zstandard`` C binding, else the
    ``zstd`` CLI, else :func:`zstd_compress`.  All backends emit frames
    with a content checksum; the pure path is the always-available
    fallback and the one whose output the parity tests pin."""
    from .zstdcodec import _fast_backend

    kind, ref = _fast_backend()
    if kind == "zstandard":
        return ref.ZstdCompressor(
            level=level, write_checksum=True, write_content_size=True
        ).compress(data)
    if kind == "cli" and len(data) >= 16384:
        import subprocess

        proc = subprocess.run(
            [ref, f"-{level}", "-c", "-q"],
            input=data,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        if proc.returncode != 0:
            raise ZstdError(
                "zstd CLI compress failed: "
                f"{proc.stderr[-200:].decode(errors='replace')}"
            )
        return proc.stdout
    return zstd_compress(data)
