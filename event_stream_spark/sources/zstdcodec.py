"""Pure-python Zstandard DECODER (RFC 8878) — the read path of the
``.jsonl.zst`` dumps (``sources/dumps.py``, ``sources/dumpstream.py``).

A zstd decoder needs real entropy coding and no zstd library is assumed,
so this module implements one from the PUBLIC specification (RFC 8878 /
zstd Compression Format), decode-only:

- frame parsing (magic, frame-header descriptor, window descriptor,
  optional content size and xxHash64 content checksum);
- raw / RLE / compressed blocks;
- literals: raw, RLE, Huffman-compressed (1- and 4-stream) and treeless
  (tree reuse within a frame); Huffman tree descriptions in both direct
  4-bit-weight and FSE-compressed-weight forms;
- FSE: table description parsing, spec spread/state-table construction,
  interleaved 2-state weight decoding, and the three sequence-code
  channels (literal-length / offset / match-length) in predefined, RLE,
  FSE-compressed, and repeat modes;
- sequence execution with the 3-slot repeat-offset history, including
  the ``offset_value==3 && literal_length==0`` rep1−1 special case;
- xxHash64 (needed for the optional frame checksum, verified when
  present).

Deliberately refused, loudly: dictionaries (``Dictionary_ID != 0`` —
no dump writer uses them).  The COMPRESS direction lives in ``zstdenc``
(real LZ77 + FSE/Huffman frames); :func:`zstd_store_frame` remains as
the zero-cost STORE-mode writer (raw blocks + checksum, the stored-zip
trade) for bulk fixture writes on hosts without libzstd.

Ground truth: every fixture in ``tests/test_zstdcodec.py`` is either a
committed frame produced by the reference ``zstd`` CLI or generated by it
at test time (randomized sweep across levels/shapes), so a silently-wrong
table construction cannot pass.
"""

from __future__ import annotations

import struct

__all__ = ["ZstdError", "zstd_decompress", "zstd_store_frame", "xxh64"]


class ZstdError(ValueError):
    """Malformed or unsupported zstd frame."""


# --------------------------------------------------------------------------
# xxHash64 (Cyan4973/xxHash spec) — the frame content checksum keeps its
# lowest 4 bytes.
# --------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl64(acc, 31) * _P1) & _M64


def _xxh64_merge(acc: int, val: int) -> int:
    acc ^= _xxh64_round(0, val)
    return (acc * _P1 + _P4) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            a, b, c, d = struct.unpack_from("<QQQQ", data, i)
            v1, v2 = _xxh64_round(v1, a), _xxh64_round(v2, b)
            v3, v4 = _xxh64_round(v3, c), _xxh64_round(v4, d)
            i += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)
        ) & _M64
        h = _xxh64_merge(h, v1)
        h = _xxh64_merge(h, v2)
        h = _xxh64_merge(h, v3)
        h = _xxh64_merge(h, v4)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h ^= _xxh64_round(0, k)
        h = (_rotl64(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h ^= (k * _P1) & _M64
        h = (_rotl64(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl64(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


# --------------------------------------------------------------------------
# Bitstreams.  FSE/Huffman payloads are written forward but READ backward:
# the last byte carries a 1-bit end marker above the padding, and bits are
# consumed from high positions downward.
# --------------------------------------------------------------------------


class _BackBits:
    """Backward bitstream over ``data`` (RFC 8878 §4.1).

    Reads are O(1): each extracts a ≤8-byte window around the bit cursor
    instead of shifting the whole stream (a whole-stream big-int makes
    every read O(stream) and the decode quadratic — measured 10×+ on
    megabyte frames)."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        if not data:
            raise ZstdError("empty bitstream")
        last = data[-1]
        if last == 0:
            raise ZstdError("bitstream: zero padding byte")
        self.data = data
        self.pos = (len(data) - 1) * 8 + last.bit_length() - 1  # drop marker

    def read(self, n: int) -> int:
        """Next ``n`` bits (highest first).  Reading past the start pads
        with zeros, as the spec allows for final state reloads."""
        if n == 0:
            return 0
        pos = self.pos - n
        self.pos = pos
        if pos >= 0:
            lo_byte = pos >> 3
            window = int.from_bytes(
                self.data[lo_byte : (pos + n + 7) >> 3], "little"
            )
            return (window >> (pos & 7)) & ((1 << n) - 1)
        # partial under-run: spec only permits this on the final refill
        avail = pos + n
        if avail <= 0:
            return 0
        window = int.from_bytes(self.data[: (avail + 7) >> 3], "little")
        return (window & ((1 << avail) - 1)) << (-pos)


class _FwdBits:
    """Forward little-endian bitstream (FSE table descriptions)."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def peek(self, n: int) -> int:
        """Next ``n`` bits without consuming; zero-padded past the end
        (the spec's reader may peek beyond the final partial value)."""
        if n == 0:
            return 0
        byte_end = (self.pos + n + 7) // 8
        chunk = int.from_bytes(
            self.data[self.pos // 8 : min(byte_end, len(self.data))], "little"
        )
        return (chunk >> (self.pos % 8)) & ((1 << n) - 1)

    def skip(self, n: int) -> None:
        self.pos += n
        if (self.pos + 7) // 8 > len(self.data) + 1:
            raise ZstdError("FSE table description overruns its section")

    def read(self, n: int) -> int:
        out = self.peek(n)
        self.skip(n)
        return out

    def bytes_consumed(self) -> int:
        return (self.pos + 7) // 8


# --------------------------------------------------------------------------
# FSE
# --------------------------------------------------------------------------


class _FseTable:
    __slots__ = ("log", "symbol", "nbits", "base")

    def __init__(self, log: int, symbol: list, nbits: list, base: list):
        self.log = log
        self.symbol = symbol
        self.nbits = nbits
        self.base = base


def _fse_from_norm(norm: list[int], log: int) -> _FseTable:
    """Build the decode table from normalized counts (RFC 8878 §4.1.1)."""
    size = 1 << log
    symbol = [0] * size
    high = size - 1
    # "less than 1" symbols take single cells from the table's top
    for s, c in enumerate(norm):
        if c == -1:
            symbol[high] = s
            high -= 1
    pos = 0
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    for s, c in enumerate(norm):
        if c <= 0:
            continue
        for _ in range(c):
            symbol[pos] = s
            pos = (pos + step) & mask
            while pos > high:
                pos = (pos + step) & mask
    if pos != 0:
        raise ZstdError("FSE spread did not cycle back to 0")
    # per-cell nbits/baseline: cells of a symbol, in table order, take
    # increasing state counters
    counters: dict[int, int] = {}
    nbits = [0] * size
    base = [0] * size
    for i in range(size):
        s = symbol[i]
        c = norm[s] if norm[s] > 0 else 1
        x = counters.get(s, 0)
        counters[s] = x + 1
        # state counter x in [0, c): next_states span [c, 2c) scaled
        nb = log - (c + x).bit_length() + 1
        nbits[i] = nb
        base[i] = ((c + x) << nb) - size
    return _FseTable(log, symbol, nbits, base)


def _fse_read_table(data: bytes, max_log: int, max_symbol: int):
    """Parse an FSE table description (the FSE_readNCount algorithm:
    forward LSB-first bitstream, power-of-two threshold shrinking with
    ``remaining``); returns (table, bytes_consumed)."""
    bits = _FwdBits(data)
    log = bits.read(4) + 5
    if log > max_log:
        raise ZstdError(f"FSE accuracy log {log} > max {max_log}")
    remaining = (1 << log) + 1
    threshold = 1 << log
    nbits = log + 1
    norm: list[int] = []
    while remaining > 1:
        if len(norm) > max_symbol:
            raise ZstdError("FSE table has too many symbols")
        cap = (2 * threshold - 1) - remaining
        low = bits.peek(nbits - 1)
        if low < cap:  # small encoding: nbits-1 bits suffice
            bits.skip(nbits - 1)
            value = low
        else:
            value = bits.peek(nbits)
            bits.skip(nbits)
            if value >= threshold:
                value -= cap
        count = value - 1  # -1 encodes "less than 1"
        norm.append(count)
        remaining -= -count if count < 0 else count
        if count == 0:
            # repeat flag: 2-bit runs of additional zero-probability symbols
            while True:
                rep = bits.read(2)
                norm.extend([0] * rep)
                if rep != 3:
                    break
        while remaining < threshold and remaining > 1:
            threshold >>= 1
            nbits -= 1
    if remaining != 1:
        raise ZstdError("FSE normalized counts do not sum to table size")
    return _fse_from_norm(norm, log), bits.bytes_consumed()


# --------------------------------------------------------------------------
# Huffman
# --------------------------------------------------------------------------


class _HufTable:
    __slots__ = ("max_bits", "symbol", "nbits")

    def __init__(self, max_bits: int, symbol: list, nbits: list):
        self.max_bits = max_bits
        self.symbol = symbol
        self.nbits = nbits


def _huf_from_weights(weights: list[int]) -> _HufTable:
    """Weights (last one implied) → flat 2^max_bits decode table."""
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    if total == 0:
        raise ZstdError("huffman: empty weight set")
    # the implied last weight completes the sum to the nearest power of
    # two STRICTLY above total; that power gives Max_Number_of_Bits
    max_bits = total.bit_length()
    left = (1 << max_bits) - total
    if left <= 0 or (left & (left - 1)):
        raise ZstdError("huffman: invalid weight total")
    weights = weights + [left.bit_length()]  # implied weight
    size = 1 << max_bits
    symbol = [0] * size
    nbits = [0] * size
    # fill by increasing weight (longest codes first), symbols in natural
    # order within a weight class — the canonical zstd layout
    pos = 0
    for w in range(1, max_bits + 1):
        span = 1 << (w - 1)
        for s, ws in enumerate(weights):
            if ws == w:
                nb = max_bits + 1 - w
                for _ in range(span):
                    symbol[pos] = s
                    nbits[pos] = nb
                    pos += 1
    if pos != size:
        raise ZstdError("huffman: table not fully populated")
    return _HufTable(max_bits, symbol, nbits)


def _huf_read_tree(data: bytes):
    """Huffman tree description → (table, bytes_consumed)."""
    if not data:
        raise ZstdError("missing huffman tree description")
    h = data[0]
    if h >= 128:  # direct representation: 4-bit weights
        n = h - 127
        nbytes = (n + 1) // 2
        if 1 + nbytes > len(data):
            raise ZstdError("huffman direct weights overrun")
        weights = []
        for i in range(n):
            b = data[1 + i // 2]
            weights.append((b >> 4) if i % 2 == 0 else (b & 0xF))
        return _huf_from_weights(weights), 1 + nbytes
    # FSE-compressed weights: h = compressed size, two interleaved states;
    # a state UPDATE that would read past the stream start signals the
    # end — the other state emits one final weight without updating
    comp = data[1 : 1 + h]
    if len(comp) < h:
        raise ZstdError("huffman FSE weights overrun")
    table, used = _fse_read_table(comp, 6, 255)
    stream = _BackBits(comp[used:])
    s1 = stream.read(table.log)
    s2 = stream.read(table.log)
    if stream.pos < 0:
        raise ZstdError("huffman weight stream too short for state init")
    weights: list[int] = []
    states = [s1, s2]
    turn = 0
    while True:
        st = states[turn]
        weights.append(table.symbol[st])
        if len(weights) > 255:
            raise ZstdError("huffman: more than 255 weights")
        nb = table.nbits[st]
        if nb > stream.pos:  # exhausted: other state emits, then stop
            weights.append(table.symbol[states[1 - turn]])
            break
        states[turn] = table.base[st] + stream.read(nb)
        turn = 1 - turn
    if len(weights) > 255:
        raise ZstdError("huffman: more than 255 weights")
    return _huf_from_weights(weights), 1 + h


def _huf_decode_stream(table: _HufTable, data: bytes, out_len: int) -> bytes:
    """Hot loop: a sliding 8-byte window is refilled only when fewer than
    ``max_bits`` remain buffered, so per-symbol cost is a table lookup and
    integer ops, not a bytes slice."""
    bits = _BackBits(data)
    out = bytearray()
    mb = table.max_bits
    mask = (1 << mb) - 1
    symbol, nbits = table.symbol, table.nbits
    dat = data
    window = 0
    wlo = whi = bits.pos  # buffered bit range [wlo, whi)
    append = out.append
    while len(out) < out_len:
        pos = bits.pos
        if pos - mb < wlo:  # refill the window below the cursor
            wlo = max(0, pos - 64)
            whi = pos
            window = int.from_bytes(dat[wlo >> 3 : (whi + 7) >> 3], "little")
            window >>= wlo & 7
            if whi - wlo < mb:  # under-run: left-pad with zeros
                window <<= mb - (whi - wlo)
                wlo = whi - mb
                if pos <= 0:
                    raise ZstdError("huffman stream under-run")
        idx = (window >> (pos - mb - wlo)) & mask
        append(symbol[idx])
        bits.pos = pos - nbits[idx]
    if bits.pos < 0:
        raise ZstdError("huffman stream under-run")
    return bytes(out)


# --------------------------------------------------------------------------
# Sequences: predefined distributions and code→value tables (RFC 8878 §3.1.1.3.2.2)
# --------------------------------------------------------------------------

_LL_DEFAULT = [
    4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2, 2, 2, 2, 2,
    2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1,
]
_ML_DEFAULT = [
    1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1,
    -1, -1, -1, -1, -1, -1,
]
_OF_DEFAULT = [
    1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
    -1, -1, -1, -1, -1,
]

_LL_BASE = [
    0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 18, 20, 22,
    24, 28, 32, 40, 48, 64, 0x80, 0x100, 0x200, 0x400, 0x800, 0x1000,
    0x2000, 0x4000, 0x8000, 0x10000,
]
_LL_BITS = [
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3,
    4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
]
_ML_BASE = [
    3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19, 20, 21, 22,
    23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35, 37, 39, 41, 43, 47,
    51, 59, 67, 83, 99, 0x83, 0x103, 0x203, 0x403, 0x803, 0x1003, 0x2003,
    0x4003, 0x8003, 0x10003,
]
_ML_BITS = [
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10,
    11, 12, 13, 14, 15, 16,
]

_PREDEF = {
    "ll": (_LL_DEFAULT, 6),
    "of": (_OF_DEFAULT, 5),
    "ml": (_ML_DEFAULT, 6),
}
_MAX_LOG = {"ll": 9, "of": 8, "ml": 9}
_MAX_SYM = {"ll": 35, "of": 31, "ml": 52}


class _SeqChannel:
    """One of the three sequence-code channels with its mode handling."""

    __slots__ = ("table", "rle_sym", "state")

    def __init__(self, table=None, rle_sym=None):
        self.table = table
        self.rle_sym = rle_sym
        self.state = 0

    def init_state(self, bits: _BackBits) -> None:
        if self.table is not None:
            self.state = bits.read(self.table.log)

    def symbol(self) -> int:
        if self.rle_sym is not None:
            return self.rle_sym
        return self.table.symbol[self.state]

    def update(self, bits: _BackBits) -> None:
        if self.table is not None:
            self.state = self.table.base[self.state] + bits.read(
                self.table.nbits[self.state]
            )


def _read_channel(kind: str, mode: int, data: bytes, prev: _SeqChannel | None):
    """Parse one channel's table per its compression mode; returns
    (channel, bytes_consumed)."""
    if mode == 0:  # predefined
        norm, log = _PREDEF[kind]
        return _SeqChannel(table=_fse_from_norm(norm, log)), 0
    if mode == 1:  # RLE: one byte = the symbol for every sequence
        if not data:
            raise ZstdError("RLE sequence channel missing its symbol byte")
        if data[0] > _MAX_SYM[kind]:
            raise ZstdError(f"{kind} RLE symbol out of range")
        return _SeqChannel(rle_sym=data[0]), 1
    if mode == 2:  # FSE-compressed table
        table, used = _fse_read_table(data, _MAX_LOG[kind], _MAX_SYM[kind])
        return _SeqChannel(table=table), used
    # mode 3: repeat previous table (or RLE symbol) from this frame
    if prev is None:
        raise ZstdError(f"{kind} repeat mode with no previous table")
    return _SeqChannel(table=prev.table, rle_sym=prev.rle_sym), 0


# --------------------------------------------------------------------------
# Block decoding
# --------------------------------------------------------------------------


class _FrameCtx:
    __slots__ = ("huf", "channels", "rep")

    def __init__(self):
        self.huf: _HufTable | None = None
        self.channels: dict[str, _SeqChannel | None] = {
            "ll": None, "of": None, "ml": None,
        }
        self.rep = [1, 4, 8]


def _decode_literals(block: bytes, ctx: _FrameCtx):
    """Literals section → (literals, bytes_consumed)."""
    if not block:
        raise ZstdError("empty compressed block")
    b0 = block[0]
    ltype = b0 & 3
    sfmt = (b0 >> 2) & 3
    if ltype in (0, 1):  # raw / RLE
        if sfmt in (0, 2):
            size = b0 >> 3
            hdr = 1
        elif sfmt == 1:
            size = (b0 >> 4) | (block[1] << 4)
            hdr = 2
        else:
            size = (b0 >> 4) | (block[1] << 4) | (block[2] << 12)
            hdr = 3
        if ltype == 0:
            if hdr + size > len(block):
                raise ZstdError("raw literals overrun the block")
            return block[hdr : hdr + size], hdr + size
        if hdr + 1 > len(block):
            raise ZstdError("RLE literals missing their byte")
        return bytes([block[hdr]]) * size, hdr + 1
    # compressed (2) / treeless (3)
    if sfmt == 0:
        streams = 1
        regen = (b0 >> 4) | ((block[1] & 0x3F) << 4)
        comp = (block[1] >> 6) | (block[2] << 2)
        hdr = 3
    elif sfmt == 1:
        streams = 4
        regen = (b0 >> 4) | ((block[1] & 0x3F) << 4)
        comp = (block[1] >> 6) | (block[2] << 2)
        hdr = 3
    elif sfmt == 2:
        streams = 4
        regen = (b0 >> 4) | (block[1] << 4) | ((block[2] & 3) << 12)
        comp = (block[2] >> 2) | (block[3] << 6)
        hdr = 4
    else:
        streams = 4
        regen = (b0 >> 4) | (block[1] << 4) | ((block[2] & 0x3F) << 12)
        comp = (block[2] >> 6) | (block[3] << 2) | (block[4] << 10)
        hdr = 5
    section = block[hdr : hdr + comp]
    if len(section) < comp:
        raise ZstdError("compressed literals overrun the block")
    if ltype == 2:
        table, used = _huf_read_tree(section)
        ctx.huf = table
        payload = section[used:]
    else:
        if ctx.huf is None:
            raise ZstdError("treeless literals with no previous huffman tree")
        table = ctx.huf
        payload = section
    if streams == 1:
        lits = _huf_decode_stream(table, payload, regen)
    else:
        if len(payload) < 6:
            raise ZstdError("4-stream literals missing jump table")
        s1, s2, s3 = struct.unpack_from("<HHH", payload, 0)
        body = payload[6:]
        if s1 + s2 + s3 > len(body):
            raise ZstdError("4-stream jump table overruns the section")
        part = (regen + 3) // 4
        sizes_out = [part, part, part, regen - 3 * part]
        if sizes_out[3] < 0:
            raise ZstdError("4-stream regenerated size too small")
        chunks = [
            body[:s1],
            body[s1 : s1 + s2],
            body[s1 + s2 : s1 + s2 + s3],
            body[s1 + s2 + s3 :],
        ]
        lits = b"".join(
            _huf_decode_stream(table, c, n) for c, n in zip(chunks, sizes_out)
        )
    return lits, hdr + comp


def _decode_sequences(data: bytes, ctx: _FrameCtx):
    """Sequences section → list of (literal_len, offset, match_len)."""
    if not data:
        raise ZstdError("missing sequences section")
    b0 = data[0]
    if b0 < 128:
        nseq, pos = b0, 1
    elif b0 < 255:
        nseq, pos = ((b0 - 128) << 8) + data[1], 2
    else:
        nseq, pos = struct.unpack_from("<H", data, 1)[0] + 0x7F00, 3
    if nseq == 0:
        return [], pos
    modes = data[pos]
    pos += 1
    if modes & 3:
        raise ZstdError("reserved sequence-mode bits set")
    chans = {}
    for kind, shift in (("ll", 6), ("of", 4), ("ml", 2)):
        mode = (modes >> shift) & 3
        chan, used = _read_channel(kind, mode, data[pos:], ctx.channels[kind])
        chans[kind] = chan
        pos += used
    ctx.channels = dict(chans)
    bits = _BackBits(data[pos:])
    # state init order: literals, offsets, match lengths
    chans["ll"].init_state(bits)
    chans["of"].init_state(bits)
    chans["ml"].init_state(bits)
    # hot loop: channel tables and states as locals, one read() per field
    # (method-call overhead per sequence measured 2.5x the decode cost)
    read = bits.read
    ll_c, of_c, ml_c = chans["ll"], chans["of"], chans["ml"]
    ll_t, of_t, ml_t = ll_c.table, of_c.table, ml_c.table
    ll_s, of_s, ml_s = ll_c.state, of_c.state, ml_c.state
    ml_base, ml_bits, ll_base, ll_bits = _ML_BASE, _ML_BITS, _LL_BASE, _LL_BITS
    seqs = []
    append = seqs.append
    for i in range(nseq):
        of_code = of_t.symbol[of_s] if of_t else of_c.rle_sym
        ml_code = ml_t.symbol[ml_s] if ml_t else ml_c.rle_sym
        ll_code = ll_t.symbol[ll_s] if ll_t else ll_c.rle_sym
        if of_code > 31 or ml_code > 52 or ll_code > 35:
            raise ZstdError("sequence code out of range")
        # per-sequence bit-reading order: offset, match, literal
        offset_val = (1 << of_code) + read(of_code)
        ml = ml_base[ml_code] + read(ml_bits[ml_code])
        ll = ll_base[ll_code] + read(ll_bits[ll_code])
        append((ll, offset_val, ml))
        if i < nseq - 1:
            # state update order: literals, match, offset
            if ll_t:
                ll_s = ll_t.base[ll_s] + read(ll_t.nbits[ll_s])
            if ml_t:
                ml_s = ml_t.base[ml_s] + read(ml_t.nbits[ml_s])
            if of_t:
                of_s = of_t.base[of_s] + read(of_t.nbits[of_s])
    if bits.pos != 0:
        # RFC 8878: decoding the last sequence lands EXACTLY on bit 0.
        # Leftover bits (pos > 0) or reads past the start (pos < 0 — the
        # zero-padded under-runs read() permits mid-stream) both mean a
        # corrupt frame; without this check a frame lacking content-size
        # and checksum fields would decode to garbage silently.
        raise ZstdError(
            f"sequence bitstream not exactly consumed ({bits.pos} bits off)"
        )
    return seqs, len(data)


def _execute(lits: bytes, seqs: list, ctx: _FrameCtx, out: bytearray) -> None:
    lpos = 0
    for ll, offset_val, ml in seqs:
        if offset_val > 3:
            offset = offset_val - 3
            ctx.rep = [offset, ctx.rep[0], ctx.rep[1]]
        else:
            idx = offset_val - 1 + (1 if ll == 0 else 0)
            if idx == 0:
                offset = ctx.rep[0]
            elif idx == 1:
                offset = ctx.rep[1]
                ctx.rep = [offset, ctx.rep[0], ctx.rep[2]]
            elif idx == 2:
                offset = ctx.rep[2]
                ctx.rep = [offset, ctx.rep[0], ctx.rep[1]]
            else:  # offset_value == 3 with literal_length == 0
                offset = ctx.rep[0] - 1
                if offset == 0:
                    raise ZstdError("repeat offset underflow")
                ctx.rep = [offset, ctx.rep[0], ctx.rep[1]]
        if lpos + ll > len(lits):
            raise ZstdError("sequence consumes more literals than present")
        out += lits[lpos : lpos + ll]
        lpos += ll
        if offset > len(out):
            raise ZstdError("match offset beyond decoded history")
        if offset >= ml:
            start = len(out) - offset
            out += out[start : start + ml]
        else:  # overlapping copy: byte-at-a-time semantics
            for _ in range(ml):
                out.append(out[-offset])
    out += lits[lpos:]


def _decode_block(block: bytes, ctx: _FrameCtx, out: bytearray) -> None:
    lits, used = _decode_literals(block, ctx)
    seqs, _ = _decode_sequences(block[used:], ctx)
    _execute(lits, seqs, ctx, out)


# --------------------------------------------------------------------------
# Frame
# --------------------------------------------------------------------------

_MAGIC = 0xFD2FB528
_SKIP_MAGIC_LO = 0x184D2A50


def zstd_decompress(data: bytes) -> bytes:
    """Decode a concatenation of zstd frames (skippable frames skipped)."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        if n - pos < 4:
            raise ZstdError("truncated frame magic")
        (magic,) = struct.unpack_from("<I", data, pos)
        if (magic & 0xFFFFFFF0) == _SKIP_MAGIC_LO:
            (size,) = struct.unpack_from("<I", data, pos + 4)
            pos += 8 + size
            continue
        if magic != _MAGIC:
            raise ZstdError(f"bad zstd magic 0x{magic:08x}")
        pos += 4
        fhd = data[pos]
        pos += 1
        if fhd & 0x08:
            raise ZstdError("reserved frame-header bit set")
        single = bool(fhd & 0x20)
        checksum = bool(fhd & 0x04)
        did_flag = fhd & 3
        fcs_flag = fhd >> 6
        if not single:
            pos += 1  # window descriptor (bound checks are per-copy here)
        did_size = (0, 1, 2, 4)[did_flag]
        if did_size:
            did = int.from_bytes(data[pos : pos + did_size], "little")
            if did:
                raise ZstdError(
                    "dictionary-compressed frame: dictionaries are "
                    "unsupported by design (Kafka never uses them)"
                )
            pos += did_size
        fcs_size = (1 if single else 0, 2, 4, 8)[fcs_flag]
        content_size = None
        if fcs_size:
            content_size = int.from_bytes(data[pos : pos + fcs_size], "little")
            if fcs_size == 2:
                content_size += 256
            pos += fcs_size
        ctx = _FrameCtx()
        frame_start = len(out)
        while True:
            if n - pos < 3:
                raise ZstdError("truncated block header")
            bh = int.from_bytes(data[pos : pos + 3], "little")
            pos += 3
            last = bh & 1
            btype = (bh >> 1) & 3
            bsize = bh >> 3
            if btype == 0:  # raw
                out += data[pos : pos + bsize]
                pos += bsize
            elif btype == 1:  # RLE
                out += bytes([data[pos]]) * bsize
                pos += 1
            elif btype == 2:
                _decode_block(data[pos : pos + bsize], ctx, out)
                pos += bsize
            else:
                raise ZstdError("reserved block type")
            if last:
                break
        if content_size is not None and len(out) - frame_start != content_size:
            raise ZstdError(
                f"frame content size mismatch: header says {content_size}, "
                f"decoded {len(out) - frame_start}"
            )
        if checksum:
            (want,) = struct.unpack_from("<I", data, pos)
            pos += 4
            got = xxh64(bytes(out[frame_start:])) & 0xFFFFFFFF
            if got != want:
                raise ZstdError("content checksum mismatch")
    return bytes(out)


# --------------------------------------------------------------------------
# Fast decode path: C-accelerated when available, pure-Python always works
# --------------------------------------------------------------------------

#: below this size the pure decoder beats a CLI subprocess spawn (~5 ms);
#: small frames sit here, dump shards sit far above it
_CLI_MIN_BYTES = 16384

_FAST_BACKEND: "tuple[str, object] | None" = None


def _fast_backend() -> "tuple[str, object]":
    """Resolve once: ('zstandard', module) if the C binding is importable,
    else ('cli', path) if a ``zstd`` binary is on PATH, else ('pure',
    None).  Resolution is per-process, so every Spark executor worker
    probes exactly once."""
    global _FAST_BACKEND
    if _FAST_BACKEND is None:
        try:
            import zstandard as _z

            _FAST_BACKEND = ("zstandard", _z)
        except ImportError:
            import shutil as _sh

            cli = _sh.which("zstd")
            _FAST_BACKEND = ("cli", cli) if cli else ("pure", None)
    return _FAST_BACKEND


def zstd_fast_backend_name() -> str:
    """'zstandard' | 'cli' | 'pure' — what :func:`zstd_decompress_fast`
    would use for a large input in this process."""
    return _fast_backend()[0]


def zstd_decompress_fast(data: bytes) -> bytes:
    """Decode with the fastest available backend, falling back to this
    module's pure-Python decoder.

    Why this exists: pure-Python FSE/Huffman decodes at single-digit
    MB/s/core while libzstd does ~500 MB/s — on the dump-ingest hot path
    (``sources/dumps.py``, ``sources/dumpstream.py``) that difference IS
    the 100 TB CPU bill.  The pure decoder remains the always-available
    fallback and the verification oracle: tests assert pure == fast on
    the committed golden frames and a randomized CLI sweep.

    Backends, in order:

    - ``zstandard`` (C binding), via ``stream_reader(read_across_frames
      =True)`` — same concatenated-frame contract as the pure decoder;
    - the ``zstd`` CLI, one subprocess per call (spawn cost amortizes
      over multi-MB shards; inputs under ``_CLI_MIN_BYTES`` stay on the
      pure decoder where it is faster);
    - :func:`zstd_decompress` (pure Python).

    Failures raise :class:`ZstdError` in every backend.
    """
    kind, ref = _fast_backend()
    if kind == "zstandard":
        import io

        try:
            with ref.ZstdDecompressor().stream_reader(
                io.BytesIO(data), read_across_frames=True
            ) as reader:
                return reader.read()
        except ref.ZstdError as exc:
            raise ZstdError(f"zstandard decode failed: {exc}") from exc
    if kind == "cli" and len(data) >= _CLI_MIN_BYTES:
        import subprocess

        proc = subprocess.run(
            # --long=31 accepts long-window frames (the pure decoder keeps
            # full history, so the fast path must not be stricter)
            [ref, "-d", "-c", "-q", "--long=31"],
            input=data,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        if proc.returncode != 0:
            raise ZstdError(
                f"zstd CLI decode failed: {proc.stderr[-200:].decode(errors='replace')}"
            )
        return proc.stdout
    return zstd_decompress(data)


def zstd_store_frame(data: bytes) -> bytes:
    """STORE-mode compressor: a fully spec-compliant single-segment frame
    of raw blocks + content checksum — the zstd analogue of a stored-mode
    zip entry (any conformant decoder accepts it; zstd itself emits raw
    blocks for incompressible input).  Kept for bulk fixture writes where
    compression CPU would be wasted; a caller that wants real compression
    uses ``zstdenc.zstd_compress``.
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
    fhd = (fcs_flag << 6) | 0x20 | 0x04  # single-segment + checksum
    out = bytearray(struct.pack("<IB", _MAGIC, fhd) + fcs)
    if n == 0:
        out += (1).to_bytes(3, "little")  # last=1, type=raw, size=0
    else:
        pos = 0
        while pos < n:
            chunk = data[pos : pos + 65536]
            pos += len(chunk)
            bh = (len(chunk) << 3) | (1 if pos >= n else 0)
            out += bh.to_bytes(3, "little") + chunk
    out += struct.pack("<I", xxh64(data) & 0xFFFFFFFF)
    return bytes(out)
