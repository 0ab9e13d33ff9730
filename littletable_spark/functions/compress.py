"""Bomb-guarded decompression for blob ingestion.

Crawled corpora store documents gzip/bzip2/xz-compressed at the BLOB
level (not just at the archive level the import resolver already
handles) — without this, every ``.html.gz`` in a crawl NULLs through
``extract_text``'s ``on_error``. All three codecs are stdlib; the
point of this module is the SAFETY shape:

- **incremental decompression with a hard output cap** — a zip-bomb
  blob raises ``ValueError`` at the cap instead of materializing an
  unbounded buffer inside an executor (``gzip.decompress`` has no
  limit; ``decompressobj(max_length=...)`` does);
- **bounded nesting** — ``.gz`` of ``.xz`` of text unwraps, but only
  ``max_layers`` deep, so pathological self-nesting terminates;
- concatenated streams decode like ``gzip``/``bz2``/``lzma.decompress``
  and the command-line tools: consecutive streams of the same codec
  (a multi-member ``.gz``) decode back to back under one output cap,
  and trailing bytes that do not start with that codec's magic are
  ignored.

``maybe_decompress`` returns the innermost payload plus the layer
count; non-compressed input passes through untouched with 0 layers.
"""
from __future__ import annotations

import bz2
import lzma
import zlib

__all__ = ["sniff_compressed", "safe_decompress", "maybe_decompress"]

#: default executor-side output bound per blob (128 MiB)
DEFAULT_CAP = 128 << 20

_CHUNK = 1 << 16


def sniff_compressed(blob: bytes) -> str | None:
    """'gzip' / 'bzip2' / 'xz' by magic, else None."""
    if blob[:2] == b"\x1f\x8b":
        return "gzip"
    if blob[:3] == b"BZh" and len(blob) > 4 and blob[3:4].isdigit():
        return "bzip2"
    if blob[:6] == b"\xfd7zXZ\x00":
        return "xz"
    return None


def safe_decompress(blob: bytes, cap: int = DEFAULT_CAP) -> bytes:
    """Decompress the gzip/bzip2/xz streams at the start of ``blob``
    with a hard cap on their total output.

    Raises ValueError for non-compressed input, corrupt or truncated
    streams, and output over ``cap`` (the zip-bomb guard) — all inside
    the caller's ``on_error`` net.
    """
    kind = sniff_compressed(blob)
    if kind is None:
        raise ValueError("not a gzip/bzip2/xz stream")
    out: list[bytes] = []
    total = 0
    try:
        while sniff_compressed(blob) == kind:
            if kind == "gzip":
                d = zlib.decompressobj(wbits=31)
            elif kind == "bzip2":
                d = bz2.BZ2Decompressor()
            else:
                d = lzma.LZMADecompressor(format=lzma.FORMAT_XZ)
            # the INPUT already sits in memory (it is the blob cell);
            # only the OUTPUT needs bounding, so feed everything and
            # drain in capped chunks. zlib parks unfed input in
            # .unconsumed_tail; bz2/lzma buffer internally and drain on
            # decompress(b"").
            zlib_like = hasattr(d, "unconsumed_tail")
            chunk = d.decompress(blob, _CHUNK)
            while True:
                if chunk:
                    total += len(chunk)
                    if total > cap:
                        raise ValueError(
                            f"decompressed output exceeds {cap} bytes (bomb guard)"
                        )
                    out.append(chunk)
                if d.eof:
                    break
                feed = d.unconsumed_tail if zlib_like else b""
                if not chunk and not feed:
                    break  # no progress and nothing buffered: truncated
                chunk = d.decompress(feed, _CHUNK)
            if not d.eof:
                raise ValueError(f"truncated {kind} stream")
            blob = d.unused_data
    except (zlib.error, OSError, EOFError, lzma.LZMAError) as exc:
        raise ValueError(f"corrupt {kind} stream: {exc}") from exc
    return b"".join(out)


def maybe_decompress(
    blob: bytes, cap: int = DEFAULT_CAP, max_layers: int = 3
) -> tuple[bytes, int]:
    """Unwrap up to ``max_layers`` of compression; ``(payload,
    n_layers)``. Raises ValueError when a recognized layer is corrupt,
    over the cap, or nested deeper than ``max_layers``."""
    layers = 0
    while sniff_compressed(blob) is not None:
        if layers >= max_layers:
            raise ValueError(f"compression nested deeper than {max_layers}")
        blob = safe_decompress(blob, cap)
        layers += 1
    return blob, layers
