"""Zstandard decoder (RFC 8878) ground truth.

Two layers: COMMITTED golden frames produced by the reference ``zstd``
CLI (decode must match, byte-for-byte, in any environment), and — when
the reference binary is present — a randomized sweep across levels,
shapes, and sizes plus real-encoder acceptance of our store-mode frames.
"""

from __future__ import annotations

import base64
import hashlib
import random
import shutil
import struct
import subprocess

import pytest

from event_stream_spark.sources.zstdcodec import (
    ZstdError,
    xxh64,
    zstd_decompress,
    zstd_store_frame,
)

_ZSTD_BIN = shutil.which("zstd")


def _gen(kind: str, size: int, seed: int) -> bytes:
    rng = random.Random(seed)
    words = ["the", "quick", "brown", "fox", "jumps", "over", "lazy",
             "dog", "zstd", "kafka"]
    if kind == "text":
        return " ".join(rng.choice(words) for _ in range(size // 5)).encode()
    if kind == "small_alpha":
        return bytes(rng.choice(b"abcd") for _ in range(size))
    if kind == "zeros":
        return b"\x00" * size
    blob = rng.randbytes(400)
    return (blob * (size // 400 + 1))[:size]


#: (shape, size, seed, md5-of-plaintext, base64 frame from the zstd CLI);
#: shapes picked to cover FSE-compressed huffman weights + 4-stream
#: literals (text/-19), RLE + repeat-offset chains (small_alpha/-9), RLE
#: blocks without checksum (zeros/--no-check), and multi-block frames
#: with long-range matches (repeat 300k/-9)
_GOLDENS = [
    ("text", 8000, 11, "7f5be16908d3d525c3496c46e7e6c0a7",
        "KLUv/QRoRScAQkMMEbA9sEktIUOrSBPZO0lSk6kITcSf77QyEuS5laA5oUCm5Dew8335OJ8d"
        "39vP1R3fAYKOqMJPkj3GMhAICohlgbCK9gEiCJAwhADQYFBiEbKMNEllWgMXlp3nC25K0AhD"
        "hQbUiQbyutRk9BgvC0tNflYsCUg/TGCCON8gSaRelJXDzND8Gdd60r5ZX3GwuIb1ijTJ/FRg"
        "M/k5oKaUrVJEuTaHfoeY3weCuN/T2doEwZdfmUFiTuktQKNDmJlpBbzY1Orz0gorXxF0Ksxz"
        "OjUnPb2rRSGvPv26AaR9KqSzDHPfGF4YioMFsL4jXVWFBVy8kx5fvWoEMaP11iMysLDyNW3a"
        "iX5u9AeYjUwXeFxK52vTnfiDfC+5w6uUSikepkuOBwHFHE85qG+KlNF8tzmiF0sTmfmTLC/a"
        "iXBjuBjh3ZWhfQDioJcOyIaM7CLzi7P5A9vCdknIyi2MmFi84QXXeLDshJeF6ZbgelaKjzqY"
        "UoRvkBYKiCCrgTM7/WJ6vQzz7DL5Fx2dwmiS6ZNliolLwwhK/tS/V2byVKVWtK4md/Z/W5ZN"
        "aEbdlMHIZdcM4GITGVwAnzhsKqFz81lTID2zjKPnLXxLcphnL3KntGtnAwwjOE6e5aywoMy0"
        "oGL31YcX6EY/MB5kHG6zUS3ozq8WgN0tvjufnRQEMRyxJL9jiIxUnSXwMi7Sm3iFXGwmL7R7"
        "gwOfyjysB+AEGu2sz8HG2j2PbH9wggQSbWhUS0kGDjToHmhckKNbGWZ+dy592d9c2MNbXRRy"
        "9paXqB4pPEum19GNCopWD6wMS4FdeWjeSaIVnYBrZWGoDVXz0JyV/zmm9rjnAJU4jwv9UD0u"
        "9SKuGvSaLoOZ7U+d8DatPNzV+9RKNxwzGytewiM6rUtAP8uEy5ABh7kOciy1FGbJ9TZMiOGj"
        "tA7RFwRB0AE4hrMyl/qNOr0NL1jrsEJ4Q1I4uyzOHbfB1o4OJ7k6dlMro9gs7K3X5Anc/spo"
        "NQAHcQlsNx4dUsRMQzs6ESfkl38F0TeaVgAVIol+RIM4iz/2MVg64lj9RSozLxDMjY01Bn0a"
        "9zuOxxQaopZ+nnw7Sg0MgphHplzlEgU4kOFyXzYHB7kaoJNB/V/aYH14G94mW38aS8FZEhXb"
        "73GRB9B+tmoKoPg6qX5Zr5Xdgi8RzwIDnHjLN4tql7ohgxlZf7HLtyjjpXBwudLDJFCMJMn3"
        "L01icCiEqxpFpRh75yzOdAlnX62553NDniauGki7h7/4OkAhMosYDbhMIi2HneUrYzEhb3A7"
        "LexUnilYLfheyMJZs0YiLhfHiTRQkGfYFrr+RLunukGnD5fYfJ62IvIeHRsklLlpauQ3dFhq"
        "OZe+X1SGxPcMV6jc6mVDFJCWCeoNF5J0F1sL3z3qPIG395C6zsogbndq7tv++6BFh2LQE/7j"
        "BqxnRUISOai0mNYskrEO6FwD/UibpGWAJuBCAOYXj3lCqHotamaQpZ0YIKc3P/xNrApy7D4b"
        "THA7tfEOQBYHRA0AFumq6IFKDkQxi9hQKHoEulo3vkJRDMvYoTEcXA5qEDc0nLjB2BfOwHoZ"
        "hBcoNSFGb3lo82gDlb9HvWD2/KR1Ap7qiiigIKjEAnBEjJ/936RbHd4EFyFMnNrZJALeNIIg"
        "kV9CBupHg1KL68lDriKqcpiUWgv4Cm3EeNEt"),
    ("small_alpha", 6000, 12, "60b750e4f0f348c08303c5f097992d5d",
        "KLUv/QRg/ToAtigsBeAPabAOKQApACkAJmFLf+TpdHwD8tUGaCve+qEkQSmV16857kjRHGri"
        "avD/PAFLZB7tcnr+M3FNNZQHbxza8jBG9ZBreyCruqyG+RLcAT6ee0sVKGKP62xduih8X6AP"
        "y9pbVNU09oJVQMFCVa1fJH92GKW4hvKBM/QCHpRmBf4LAnAxxMVAyXvJ9fofnKjZ8WB5wOaZ"
        "NcuwjayIZdx05jBDdbNStCotCsP/mEjpCRmDc6hSxZRIkqRWYVkDMgggEBAMRyN92z4SQABr"
        "7zoGqmN0NisJNJSW2kMctAWOp9HTI2Rf85PqGH9jWtU+eD/hIMYeGr0BDjdWDfcYnsXDxDyi"
        "Wca5Q394ngfpFjhSB+iwVRuEdVCxTT8zYSDM7lnj/4xmaPsv2u3aT1qcF9lACkvRNj1pU7R9"
        "x8Gd9rOYgr5NU1lGgGizfcpFxFuqEBU8JRFYJxJ8JM5BWK7NMgjF6aqYLBpRi5YyWxNorYkt"
        "rMOUrbx5CJozO+5MsAI6wMGg7jTeEY0ktZESCuPgwG45IyplSzWW1x532jcDSsFZk7GFiQI2"
        "+LwB6Ql/auXG42uwNF2bzInh3MXrQZWtXijjY1/3BTfLkEsh55HAoeLs1xHygSV/dEWqRzu5"
        "vzlNfBQX17Gjfkn7yDOaUIh8bPMczTFGS/kOQhIEW/B1fIXVWh274sGrKs/RN64CzACJ89lM"
        "cNBk+uaXBekyGq2l99LrYZMeI1bHNbgEF5fGCnpHc0sGdu2hz0qIgW28gJLr4mRI2ogbD/UD"
        "F3lyZEeUBDMQ8OdFg4YWnuZaRya2JQllCTbI3dDHrkv+uUrjWHGGApnsmA1LyDAzNF1dXrAp"
        "B62Mq2cZihbsZ0qVEu2u94o4iwnflvecifjBHLuOm48q1SaJiuBpOu3PZVvioEiU4PDAX1Jq"
        "9zb0gnnBowvybWTq1l1y5V1/dAOBbgn76i3VWmGBCTs9LrbG8Cbw649XcgisrKolSMYjIGYZ"
        "+zI7vc9HxqgnUO5bIR/bknWoN3gPOf4GjiLvHa1R+2oRuumn6vRoVGwaz6505MFEA892KpJB"
        "v70a0g8sIAS1Hoa1FPAZD/SzZpdMR2JRZui/cTPu8/MDelj0BsSNoDC/DUIYh/9CL3SQ70Ge"
        "PIm6SrBlD2ntSjYUJJDlTsOYxulRNzrduveFTIEb6Z7RpsQbD44/RtHUVRNCoAX9+nIALQG0"
        "RRB8Wsg5fZlWd4MQHM+SZxklMHx34fuQ8upFlqFHY11PRbH5WQuciXkkMXW0Z/2MyDxEqEKe"
        "X4109kdE8gy09ahrhFQWObnPLIgyeg+8OJn/B8cwftXehRagja/EM00JfNNjS1dR4xaxMWPH"
        "a7TIVChJC4HKWfm2T668/pwFJH4XR8hSnYg3myjSKcONjC+Io1y1rbdhhVOhQ6EObjQ3uDzj"
        "TRFgrZcqccJJfoI8G8fi6mKFREFGKPMB9pm16601pF8w3cPOm977lVRtipXp+RTVZUXQQOYW"
        "6ceuPxj/M135w2USIkouQg/JUNYHwLIdXIEOf3KUmPRpiceQr2YlCz0yF8J8miFhAjQj8Csj"
        "yKKkNlimUkdMzjS+Ix4VDA+dS82VdkTSty9BiOI9zZeLu1ikYpdydLNzqwFpzdzds04ZfAEZ"
        "42qIOHAyGSuKQek7iz3lisd7kzbeYMoCOpsqSoke+PI1z6LEiSXeeZk3bmWfI//yK6ZcUjeR"
        "bqTJQEogohEl5K2MgYia9ocp40TjGViUoR9DU8iz1QPl1hnr66gGo+CYjefH6tTcVEmJM0tH"
        "iX4CI8zhNrCKsEVBMywmjAR9a6yjpUaet3uP30kxRnejywInNJK1xFVB4VL9m6LBcDGx/aKY"
        "PMWc6k8mkRJ0e7VBapZL6gPhcwIS5w0QtLgh8lbtUQyjVs9kXsJQmAUZczJFv3WhLN+hXt/c"
        "m+QgOZgZ0cpTCrVhEk6aIjK4ru20g/e2jhnO0Q1xtmnuNWucixa5wwkPRQX4SMYab3IpOuI7"
        "jv+0oQCMtR/bXZiy3h+0xvue8I7KAH2Re/3xtmvxOB4dthTeVleF96g1WoUfbhnGPZpGKBbn"
        "INzhJDMlaxjQoYg2O+D+b1+eNGkNFdFQMoPKXhxKjN8oUjChjoPFeoY+woOjBVOVukaDmVZ9"
        "24dkTGM7gSBVDky2/myf8oobs2E4uj1FL4lihmajXsQ9wN2iJdbuHEWXcPnbfKiljp98SWdN"
        "js0kzRCZrK+BX44ErEiupvlxobIh7gRLSS+jH8L4pyQE1doRu+Dz7ousrRQdfF6KNh0jKPf1"
        "OwhWjnkPyrh2MZhemRe/AxwSQdeYN2wqCLM737jJKJomfVNnOfmYs1G4IrDGGyIhwX5eLRgI"
        "+0kcP2r6HtE5V7uV78bxh4TevVuKE6OYfuwjUIdPbWYja3mdTaPMTBQ26lLSDMeVoaxFPqHo"
        "ERQmKoY14RNYOLzNwcnVBQmKTQjGUuvug7/B5G0WdF5DHY0QY1JwAKtd/GnHcbAEQzQzcq9V"
        "4DRQlKkN1zUiFw=="),
    ("zeros", 70000, 13, "874410694fa6ef97accb67ea8decd9ca",
        "KLUv/QBYVQAAEAAAAQBrETnAAg=="),
    ("repeat", 300000, 14, "01a7e77bbfb8a7b8b052e4ade5397d54",
        "KLUv/QRg3AwABBl1HVkb5TeqnQql3LOxIVXBwTnspi7O8IY677rwFyY3P7HOZ0WUmTG8BYF6"
        "QUYGgEqPUOu7/JuXEjIukKj9QiJzsp6QTcpMdHf45imv3EJx32JnjGUPtdBkv1MLx/cwr+gq"
        "b08eNNB1Q9b3JzmyqO3e50jG5pj3zlCAB6hbTk/PziG6qUJb4FRc22DlzUp9+qEHurShnS8q"
        "hP/4UibMmjopSSMkjWnBWaqX1/upFAd8RngMOipdB7cCCrPVpqVg5xGcp34fkmpGmOn4SVaB"
        "FB0HsB5NFSVyKEbk+lQ0PO2k2mMtXvqW38JhAkxXZ5ovUpUz/oz9Qqsu7wk9S3DnN3vldiqH"
        "m906KhgsaWLfo5wPpMKY168BDNviWFONHG30KpRZOM6WgsQto5gWPKIR/T9dhv5iLlijZt3i"
        "dDwYOqM7v59+8t9so5N8dS6HgwSQGKzjaZ8xgypVRTKn3XNVJMafginbN0bYF3zQlFnMJO8E"
        "SC13H4AIzS5BJ7k4GtH0BR9a1nDRuYjN/w/I6xZaZlRHAQCQbf6T+ZoCRAAACMIBAPzfAyFE"
        "AAAIsgEA/N8DIUQAAAh2AQD83wMhRAAACI8BAPzfAyFEAAAIMwEA/N8DIU0AAAixAQDc8zkQ"
        "ApRYdPM="),]


@pytest.mark.parametrize("kind,size,seed,md5,b64", _GOLDENS)
def test_golden_frames_decode(kind, size, seed, md5, b64):
    data = _gen(kind, size, seed)
    assert hashlib.md5(data).hexdigest() == md5  # fixture integrity
    assert zstd_decompress(base64.b64decode(b64)) == data


def test_xxh64_spec_vectors():
    # published xxHash64 reference vectors (seed 0); beyond these, every
    # checksummed frame in the sweep cross-checks xxh64 against the
    # reference encoder's own content checksums
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"a") == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc") == 0x44BC2CF5AD770999


def test_store_frame_self_roundtrip():
    for n in (0, 1, 255, 256, 65536, 65537, 200001):
        data = random.Random(n).randbytes(n)
        assert zstd_decompress(zstd_store_frame(data)) == data


def test_frame_concat_and_skippable():
    f1 = zstd_store_frame(b"hello " * 10)
    f2 = zstd_store_frame(b"world " * 10)
    skip = struct.pack("<II", 0x184D2A50, 5) + b"junk!"
    assert zstd_decompress(f1 + skip + f2) == b"hello " * 10 + b"world " * 10


def test_corruption_detected():
    frame = bytearray(zstd_store_frame(b"payload " * 100))
    frame[20] ^= 0xFF
    with pytest.raises(ZstdError, match="checksum"):
        zstd_decompress(bytes(frame))
    with pytest.raises(ZstdError, match="magic"):
        zstd_decompress(b"\x00" * 16)
    with pytest.raises(ZstdError):
        zstd_decompress(zstd_store_frame(b"abc")[:-6])  # truncated


def test_content_size_mismatch_detected():
    frame = bytearray(zstd_store_frame(b"x" * 50))
    frame[5] = 49  # single-segment 1-byte FCS lies about the size
    with pytest.raises(ZstdError, match="content size"):
        zstd_decompress(bytes(frame))


needs_bin = pytest.mark.skipif(_ZSTD_BIN is None, reason="no zstd binary")


def _cli(data: bytes, args=()) -> bytes:
    p = subprocess.run([_ZSTD_BIN, "-c", *args], input=data,
                       capture_output=True)
    assert p.returncode == 0, p.stderr
    return p.stdout


@needs_bin
def test_real_encoder_randomized_sweep():
    """60 frames across shapes × levels (incl. --ultra -22 and --no-check):
    every one must decode byte-identically."""
    rng = random.Random(42)
    kinds = ["text", "small_alpha", "repeat", "random"]
    for trial in range(60):
        kind = kinds[trial % 4]
        size = rng.choice([10, 200, 5000, 70000, 300000])
        data = (rng.randbytes(size) if kind == "random"
                else _gen(kind, size, rng.randrange(1 << 30)))
        args = rng.choice(
            [["-1"], ["-3"], ["-9"], ["-19"], ["--ultra", "-22"]]
        ) + (["--no-check"] if rng.random() < 0.3 else [])
        assert zstd_decompress(_cli(data, args)) == data, (trial, kind, args)


@needs_bin
def test_real_encoder_long_range():
    rng = random.Random(7)
    blob = rng.randbytes(200_000)
    data = blob + rng.randbytes(50_000) + blob + b"tail" * 1000
    for args in (["-3"], ["-19", "--long=27"]):
        assert zstd_decompress(_cli(data, args)) == data


@needs_bin
def test_reference_decoder_accepts_store_frames():
    for n in (0, 300, 200001):
        data = random.Random(n).randbytes(n)
        p = subprocess.run([_ZSTD_BIN, "-d", "-c"],
                           input=zstd_store_frame(data), capture_output=True)
        assert p.returncode == 0 and p.stdout == data


@needs_bin
def test_dictionary_frames_refused_by_name(tmp_path):
    samples = [tmp_path / f"s{i}" for i in range(20)]
    rng = random.Random(3)
    for s in samples:
        s.write_bytes(" ".join(
            rng.choice(["aa", "bb", "cc"]) for _ in range(200)).encode())
    dictf = tmp_path / "dict"
    r = subprocess.run(
        [_ZSTD_BIN, "--train", *map(str, samples), "-o", str(dictf)],
        capture_output=True,
    )
    if r.returncode != 0:
        pytest.skip("zstd --train unavailable")
    comp = subprocess.run(
        [_ZSTD_BIN, "-c", "-D", str(dictf)], input=b"aa bb cc " * 100,
        capture_output=True,
    ).stdout
    with pytest.raises(ZstdError, match="dictionar"):
        zstd_decompress(comp)


def test_read_jsonl_zst_roundtrip_and_tolerance(spark, tmp_path):
    """Distributed .jsonl.zst ingest: store-mode shards round-trip exactly;
    records with missing keys surface NULL and extra keys are ignored
    (the tolerant-reader contract for third-party dumps)."""
    from event_stream_spark.sources.dumps import read_jsonl_zst, write_jsonl_zst

    rows = [
        {"doc_id": i, "text": f"line {i}\nsecond", "lang": "en"}
        for i in range(37)
    ]
    rows[5] = {"doc_id": 5, "extra": "ignored"}  # missing text/lang
    write_jsonl_zst(rows, str(tmp_path / "d"), shards=3)
    df = read_jsonl_zst(
        spark, str(tmp_path / "d" / "*.jsonl.zst"),
        "doc_id long, text string, lang string",
    )
    got = {r["doc_id"]: (r["text"], r["lang"]) for r in df.collect()}
    assert len(got) == 37
    assert got[5] == (None, None)
    assert got[6] == ("line 6\nsecond", "en")


@needs_bin
def test_read_jsonl_zst_entropy_coded_shards(spark, tmp_path):
    """Production dumps arrive entropy-coded: shards compressed by the
    REFERENCE encoder at -19 read back identically through the same
    distributed reader."""
    import json

    rows = [{"doc_id": i, "text": "the quick brown fox " * (i % 7 + 1)}
            for i in range(50)]
    d = tmp_path / "dump"
    d.mkdir()
    for s in range(2):
        payload = "".join(
            json.dumps(r, separators=(",", ":")) + "\n" for r in rows[s::2]
        ).encode()
        (d / f"part-{s}.jsonl.zst").write_bytes(_cli(payload, ["-19"]))
    from event_stream_spark.sources.dumps import read_jsonl_zst

    df = read_jsonl_zst(spark, str(d / "*.jsonl.zst"),
                        "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in df.collect()}
    assert got == {r["doc_id"]: r["text"] for r in rows}


def test_read_warc_mixed_record_types(spark, tmp_path):
    """WARC reader: request/metadata records are skipped, response
    records surface with status + content-type; a multi-member gzip
    archive parses whole; binary bodies survive byte-exact."""
    import gzip

    from event_stream_spark.sources.dumps import read_warc, write_warc_gz

    p = tmp_path / "a.warc.gz"
    write_warc_gz(
        [
            {"url": "http://x/1", "body": b"\x00\xffbinary\r\n\r\nbytes"},
            {"url": "http://x/2", "body": "text", "content_type": "text/plain"},
        ],
        str(p),
    )
    # splice a non-response record between the members: must be skipped
    req = (
        b"WARC/1.0\r\nWARC-Type: request\r\n"
        b"WARC-Record-ID: <urn:uuid:req>\r\n"
        b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
        b"WARC-Target-URI: http://x/1\r\n"
        b"Content-Length: 5\r\n\r\nGET /\r\n\r\n"
    )
    blob = p.read_bytes()
    p.write_bytes(blob + gzip.compress(req, mtime=0))

    rows = {r["url"]: r for r in read_warc(spark, str(p)).collect()}
    assert set(rows) == {"http://x/1", "http://x/2"}
    assert bytes(rows["http://x/1"]["body"]) == b"\x00\xffbinary\r\n\r\nbytes"
    assert rows["http://x/2"]["content_type"] == "text/plain"
    assert rows["http://x/2"]["status"] == 200


def test_sequences_bitstream_exact_consumption():
    """RFC 8878: the sequences bitstream must land exactly on bit 0 after
    the last sequence.  Leftover bits and past-the-start under-runs both
    mean corruption and must raise — not decode to garbage silently (the
    only other net for such frames is the optional content checksum)."""
    import pytest

    from event_stream_spark.sources.zstdcodec import (
        ZstdError,
        _decode_sequences,
        _FrameCtx,
    )

    def section(bitstream: bytes, of_sym: int = 0) -> bytes:
        # 1 sequence, all three channels RLE (symbol bytes ll, of, ml)
        return bytes([1, 0x54, 0, of_sym, 0]) + bitstream

    # valid: all-zero codes consume zero bits; marker-only stream is exact
    seqs, _ = _decode_sequences(section(b"\x01"), _FrameCtx())
    assert seqs == [(0, 1, 3)]  # ll_base[0], 1<<0, ml_base[0]

    # an extra byte below the marker leaves 8 unread bits: corrupt
    with pytest.raises(ZstdError, match="not exactly consumed"):
        _decode_sequences(section(b"\x01\x01"), _FrameCtx())

    # offset code 5 demands 5 bits the stream lacks: under-run, corrupt
    with pytest.raises(ZstdError, match="not exactly consumed"):
        _decode_sequences(section(b"\x01", of_sym=5), _FrameCtx())


# --------------------------------------------------------------------------
# Fast path: pure-Python decoder is the ORACLE for the C-accelerated one
# --------------------------------------------------------------------------


def test_fast_decode_parity_on_golden_frames():
    """zstd_decompress_fast must agree byte-for-byte with the pure
    decoder on every committed golden frame, whatever backend resolved
    in this environment."""
    from event_stream_spark.sources.zstdcodec import (
        zstd_decompress_fast,
        zstd_fast_backend_name,
    )

    assert zstd_fast_backend_name() in ("zstandard", "cli", "pure")
    for kind, size, seed, md5, b64 in _GOLDENS:
        frame = base64.b64decode(b64)
        data = _gen(kind, size, seed)
        assert zstd_decompress_fast(frame) == data
        assert zstd_decompress_fast(frame) == zstd_decompress(frame)


def test_fast_decode_handles_concat_and_store_frames():
    from event_stream_spark.sources.zstdcodec import zstd_decompress_fast

    f1 = zstd_store_frame(b"hello " * 10)
    f2 = zstd_store_frame(b"world " * 10)
    skip = struct.pack("<II", 0x184D2A50, 5) + b"junk!"
    assert (
        zstd_decompress_fast(f1 + skip + f2)
        == b"hello " * 10 + b"world " * 10
    )


def test_fast_decode_raises_zstderror_on_corruption():
    from event_stream_spark.sources.zstdcodec import zstd_decompress_fast

    frame = bytearray(zstd_store_frame(b"payload " * 100))
    frame[20] ^= 0xFF
    with pytest.raises(ZstdError):
        zstd_decompress_fast(bytes(frame))
    with pytest.raises(ZstdError):
        zstd_decompress_fast(b"\x00" * 16)


@needs_bin
def test_fast_decode_parity_randomized_cli_sweep():
    """pure == fast on 30 CLI-compressed frames across shapes × levels,
    sized ABOVE the CLI threshold so the subprocess path (not the pure
    fallback) is what's exercised when the backend is 'cli'."""
    from event_stream_spark.sources.zstdcodec import (
        _CLI_MIN_BYTES,
        zstd_decompress_fast,
    )

    rng = random.Random(99)
    kinds = ["text", "small_alpha", "repeat", "random"]
    for trial in range(30):
        kind = kinds[trial % 4]
        size = rng.choice([70000, 300000])
        data = (rng.randbytes(size) if kind == "random"
                else _gen(kind, size, rng.randrange(1 << 30)))
        args = rng.choice(
            [["-1"], ["-9"], ["-19"], ["--long=27", "-9"]]
        ) + (["--no-check"] if rng.random() < 0.3 else [])
        frame = _cli(data, args)
        assert len(frame) >= _CLI_MIN_BYTES or kind != "random", (
            "sweep must exercise the subprocess path"
        )
        fast = zstd_decompress_fast(frame)
        pure = zstd_decompress(frame)
        assert fast == pure == data, (trial, kind, args)


@needs_bin
def test_fast_decode_small_inputs_stay_pure():
    """Inputs under _CLI_MIN_BYTES take the pure
    decoder on the 'cli' backend — no subprocess spawn per batch."""
    from unittest import mock

    import event_stream_spark.sources.zstdcodec as zc

    if zc.zstd_fast_backend_name() != "cli":
        pytest.skip("only meaningful on the cli backend")
    frame = _cli(b"tiny payload " * 10, ["-3"])
    assert len(frame) < zc._CLI_MIN_BYTES
    with mock.patch("subprocess.run", side_effect=AssertionError) as _:
        assert zc.zstd_decompress_fast(frame) == b"tiny payload " * 10
