"""Bomb-guarded blob decompression (functions/compress.py) and its
transparent routing through extract_text."""
from __future__ import annotations

import bz2
import gzip
import lzma

import pytest

from littletable_spark.functions.compress import (
    maybe_decompress,
    safe_decompress,
    sniff_compressed,
)


def test_roundtrip_all_codecs():
    data = b"hello corpus " * 100_000  # 1.3 MB
    for name, enc in (
        ("gzip", gzip.compress),
        ("bzip2", bz2.compress),
        ("xz", lzma.compress),
    ):
        blob = enc(data)
        assert sniff_compressed(blob) == name
        assert safe_decompress(blob) == data


def test_sniff_rejects_non_compressed():
    assert sniff_compressed(b"plain text") is None
    assert sniff_compressed(b"PK\x03\x04zipfile") is None
    assert sniff_compressed(b"BZhX") is None  # level byte must be a digit
    assert maybe_decompress(b"plain")[1] == 0
    with pytest.raises(ValueError):
        safe_decompress(b"not compressed")


def test_bomb_cap():
    bomb = gzip.compress(b"\x00" * (4 << 20))
    with pytest.raises(ValueError, match="bomb guard"):
        safe_decompress(bomb, cap=1 << 20)
    # under the cap is fine
    assert len(safe_decompress(bomb, cap=8 << 20)) == 4 << 20


def test_truncated_and_corrupt_raise():
    blob = gzip.compress(b"x" * 10_000)
    assert len(blob) > 24
    with pytest.raises(ValueError):
        safe_decompress(blob[: len(blob) // 2])
    mangled = bytearray(blob)
    mangled[12] ^= 0xFF
    with pytest.raises(ValueError):
        safe_decompress(bytes(mangled))


def test_chunk_boundary_sizes():
    for sz in (65_535, 65_536, 65_537, 131_072):
        blob = gzip.compress(b"a" * sz)
        assert safe_decompress(blob) == b"a" * sz


def test_trailing_garbage_tolerated():
    assert safe_decompress(gzip.compress(b"payload") + b"TRAILER") == b"payload"


def test_concatenated_streams_all_decoded():
    """Consecutive streams of one codec decode back to back, like
    ``gzip.decompress`` and the command-line tools."""
    for enc in (gzip.compress, bz2.compress, lzma.compress):
        blob = enc(b"first part ") + enc(b"second part")
        assert safe_decompress(blob) == b"first part second part"
        assert safe_decompress(blob + b"TRAILER") == b"first part second part"


def test_bomb_cap_counts_every_stream():
    member = gzip.compress(b"\x00" * (600 << 10))
    assert len(safe_decompress(member, cap=1 << 20)) == 600 << 10
    with pytest.raises(ValueError, match="bomb guard"):
        safe_decompress(member + member, cap=1 << 20)


def test_nesting_bounded():
    nested = lzma.compress(gzip.compress(b"inner text"))
    assert maybe_decompress(nested) == (b"inner text", 2)
    deep = b"deep"
    for _ in range(4):
        deep = gzip.compress(deep)
    with pytest.raises(ValueError, match="nested deeper"):
        maybe_decompress(deep)


def test_extract_text_unwraps_compressed(spark):
    from littletable_spark import Table
    from littletable_spark.operators.multimodal import extract_text

    html = b"<html><head><title>T</title></head><body><p>hi there</p></body></html>"
    rows = [
        {"id": 1, "blob": gzip.compress(html)},
        {"id": 2, "blob": lzma.compress("texte café".encode("latin-1"))},
        {"id": 3, "blob": bz2.compress(
            b"1\n00:00:01,000 --> 00:00:02,000\ncompressed cue\n"
        )},
        {"id": 4, "blob": gzip.compress(b"x" * (2 << 20))[:40]},  # truncated
        # a two-member .txt.gz (concatenated gzip files)
        {"id": 5, "blob": gzip.compress(b"hello there ") + gzip.compress(b"second member")},
    ]
    t = Table("gz", spark=spark)
    t.insert_many(rows)
    got = {r.id: r for r in extract_text(t, "blob", "id", on_error="null")}
    assert got[1].doc_format == "html"
    assert got[1].title == "T"
    assert "hi there" in got[1].text
    assert got[2].doc_format == "text"
    assert got[2].text == "texte café"
    assert got[2].encoding == "cp1252"
    assert got[3].doc_format == "srt"
    assert got[3].text == "compressed cue"
    assert got[4].doc_format is None and got[4].text is None
    assert got[5].text == "hello there second member"
