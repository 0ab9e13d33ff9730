"""Pure-stdlib/numpy image decoders for the multimodal pipeline.

No codec libraries ship in this environment, but the container formats
themselves are public and simple enough to decode with ``zlib`` +
``struct`` + numpy: PPM/PGM (trivial), BMP (uncompressed 8/24/32-bit),
PNG (zlib-inflate the IDAT stream, undo the per-row filters), GIF
(variable-width LZW), and JPEG — baseline AND progressive (huffman +
dequant + IDCT + chroma upsampling; spectral selection, EOB runs, and
DC/AC successive approximation per T.81 Annex G) — the format real web
crawls are overwhelmingly made of, and the frame payload of MJPEG AVI.
That makes
``decode_image(use_fake=False)`` a REAL decode path — same mapInPandas
plumbing, real pixels — while staying dependency-free. PIL, if ever
provisioned, is used only as a fallback for variants these decoders
don't cover (arithmetic-coded JPEG, exotic color modes).

Everything here is per-blob Python executed INSIDE an Arrow batch on
the executors, and imports only stdlib + numpy. The decoders are NOT
shipped by value: cloudpickle pickles them by reference (only
``functions.normalize`` is registered by value, in the package
``__init__``), so a real decode path needs ``littletable_spark``
importable on every worker (``--py-files`` or a cluster install); from
a worker without it, ``decode_audio(use_fake=False)`` fails with
``ModuleNotFoundError``. Only the fake paths of ``operators/
multimodal.py`` run without the package.

Public-format references: PNG (RFC 2083 / W3C PNG spec), BMP
(BITMAPINFOHEADER, Windows public docs), PPM/PGM (netpbm man pages),
GIF (GIF89a spec), JPEG (ITU-T T.81 + JFIF color conventions).
No reference analog (littletable has no media support); this fulfils
the brief's multimodal mandate.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

__all__ = ["decode_to_gray", "decode_pixels", "sniff_format", "CORRUPT_ERRORS"]

# error classes a truncated/malformed blob can raise out of the builtin
# decoders (struct.error etc. are NOT ValueError subclasses) — the
# on_error machinery and the PIL fallback treat them all as decode
# failures rather than letting them kill a corpus job
CORRUPT_ERRORS = (
    ValueError,
    struct.error,
    zlib.error,
    IndexError,
    KeyError,
    OverflowError,
    EOFError,
)


def sniff_format(blob: bytes) -> str:
    if blob.startswith(b"\x89PNG\r\n\x1a\n"):
        return "png"
    if blob.startswith(b"BM"):
        return "bmp"
    if blob[:2] in (b"P5", b"P6", b"P2", b"P3"):
        return "ppm"
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if blob.startswith(b"\xff\xd8\xff"):
        return "jpeg"
    if blob[:4] == b"RIFF" and blob[8:12] == b"WEBP":
        return "webp"
    if blob[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    return "unknown"


# ------------------------------------------------------------------ #
# TIFF (baseline 6.0 subset: uncompressed + PackBits + LZW + Deflate,
# chunky strips, horizontal-differencing predictor)


def _tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF 6.0 §13 LZW: MSB-first bit packing, ClearCode=256, EOI=257,
    9→12-bit codes with the TIFF "early change" — the code width bumps
    when the table reaches 2^width - 1 entries (511/1023/2047, one
    entry before plain LZW), matching libtiff's reader/writer pair."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    nbits_total = len(data) * 8
    bitpos = 0

    def read(width: int) -> int:
        nonlocal bitpos
        if bitpos + width > nbits_total:
            return EOI  # ran off the end: treat as end-of-information
        byte_i = bitpos >> 3
        nbytes = (width + (bitpos & 7) + 7) >> 3
        val = int.from_bytes(data[byte_i : byte_i + nbytes], "big")
        shift = nbytes * 8 - (bitpos & 7) - width
        bitpos += width
        return (val >> shift) & ((1 << width) - 1)

    table: list[bytes] = []
    width = 9
    prev: bytes | None = None
    while len(out) < expected:
        code = read(width)
        if code == EOI:
            break
        if code == CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = 9
            code = read(width)
            if code == EOI:
                break
            if code >= len(table):
                raise ValueError("bad TIFF LZW code after clear")
            entry = table[code]
            out += entry
            prev = entry
            continue
        if prev is None:
            raise ValueError("TIFF LZW stream must start with a clear code")
        if code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("bad TIFF LZW code")
        out += entry
        prev = entry
        if len(table) >= (1 << width) - 1 and width < 12:
            width += 1
    if len(out) < expected:
        raise ValueError("truncated TIFF LZW stream")
    return bytes(out[:expected])


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """PackBits RLE (TIFF 6.0 §9 / Macintosh): n>=0 → copy n+1
    literals, n<0 (not -128) → repeat next byte 1-n times."""
    out = bytearray()
    i = 0
    nd = len(data)
    while i < nd and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= nd:
                raise ValueError("truncated PackBits stream")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    if len(out) < expected:
        raise ValueError("truncated PackBits stream")
    return bytes(out[:expected])


def _tiff_chunk(raw: bytes, expected: int, compression: int) -> bytes:
    """One strip/tile's decompressed bytes (exactly ``expected``)."""
    if compression == 32773:
        return _packbits_decode(raw, expected)
    if compression == 5:
        return _tiff_lzw_decode(raw, expected)
    if compression in (8, 32946):
        try:
            data = zlib.decompress(raw)
        except zlib.error as exc:
            raise ValueError(f"bad TIFF Deflate data: {exc}") from None
        if len(data) < expected:
            raise ValueError("truncated TIFF Deflate data")
        return data[:expected]
    if len(raw) < expected:
        raise ValueError("truncated TIFF strip/tile")
    return raw[:expected]


def _undo_predictor(data: bytes, rows: int, width: int, spp: int) -> bytes:
    """Undo horizontal differencing (predictor 2) per row per sample."""
    arr = np.frombuffer(data, np.uint8).reshape(rows, width, spp)
    return arr.cumsum(axis=1, dtype=np.uint8).tobytes()


def _decode_tiff(blob: bytes) -> np.ndarray:
    """Baseline TIFF: first IFD, 8-bit gray/RGB(A), chunky planar
    layout, strip-based OR tiled (tags 322-325 — the scanned-document
    and GIS layout: fixed-size tiles row-major, edge tiles padded to
    full size then cropped); compression none (1), LZW (5, TIFF 6.0
    §13), Deflate (8 and legacy 32946, via zlib), or PackBits (32773),
    with the horizontal-differencing predictor (tag 317 = 2, applied
    per row per sample after decompression, per strip/tile). CCITT/
    JPEG-in-TIFF raise → PIL fallback / on_error."""
    if blob[:2] == b"II":
        fmt = "<"
    elif blob[:2] == b"MM":
        fmt = ">"
    else:
        raise ValueError("not a TIFF")
    if struct.unpack_from(fmt + "H", blob, 2)[0] != 42:
        raise ValueError("not a TIFF")
    (ifd_off,) = struct.unpack_from(fmt + "I", blob, 4)
    (n_entries,) = struct.unpack_from(fmt + "H", blob, ifd_off)
    type_size = {1: 1, 3: 2, 4: 4}
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        base = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack_from(fmt + "HHI", blob, base)
        if typ not in type_size:
            continue
        sz = type_size[typ]
        if count * sz <= 4:
            off = base + 8
        else:
            (off,) = struct.unpack_from(fmt + "I", blob, base + 8)
        code = {1: "B", 3: "H", 4: "I"}[typ]
        tags[tag] = list(struct.unpack_from(fmt + code * count, blob, off))
    try:
        w = tags[256][0]
        h = tags[257][0]
    except KeyError as exc:
        raise ValueError(f"TIFF missing required tag: {exc}") from None
    tiled = 322 in tags and 324 in tags
    if not tiled and 273 not in tags:
        raise ValueError("TIFF missing required tag: strip/tile offsets")
    spp = tags.get(277, [1])[0]
    bits = tags.get(258, [8] * spp)
    compression = tags.get(259, [1])[0]
    photometric = tags.get(262, [1])[0]
    planar = tags.get(284, [1])[0]
    rows_per_strip = tags.get(278, [h])[0] or h
    predictor = tags.get(317, [1])[0]
    if any(b != 8 for b in bits):
        raise ValueError(f"TIFF bits-per-sample {bits} not supported")
    if planar != 1:
        raise ValueError("TIFF planar configuration 2 not supported")
    if compression not in (1, 5, 8, 32773, 32946):
        raise ValueError(f"TIFF compression {compression} not supported")
    if photometric not in (0, 1, 2):
        raise ValueError(f"TIFF photometric {photometric} not supported")
    if predictor not in (1, 2):
        raise ValueError(f"TIFF predictor {predictor} not supported")
    if tiled:
        tile_w = tags[322][0]
        tile_h = tags.get(323, [tile_w])[0]
        offsets = tags[324]
        counts = tags.get(325, [len(blob)] * len(offsets))
        across = -(-w // tile_w)
        down = -(-h // tile_h)
        if len(offsets) < across * down:
            raise ValueError("TIFF tile count mismatch")
        arr = np.zeros((down * tile_h, across * tile_w, spp), np.uint8)
        expected = tile_w * tile_h * spp
        for ti, (off, cnt) in enumerate(zip(offsets, counts)):
            data = _tiff_chunk(blob[off : off + cnt], expected, compression)
            if predictor == 2:
                data = _undo_predictor(data, tile_h, tile_w, spp)
            ty, tx = divmod(ti, across)
            arr[
                ty * tile_h : (ty + 1) * tile_h,
                tx * tile_w : (tx + 1) * tile_w,
            ] = np.frombuffer(data, np.uint8).reshape(tile_h, tile_w, spp)
        arr = arr[:h, :w]  # crop edge-tile padding
    else:
        if 279 not in tags:
            raise ValueError("TIFF missing required tag: strip byte counts")
        out = bytearray()
        rows_left = h
        for off, cnt in zip(tags[273], tags[279]):
            rows = min(rows_per_strip, rows_left)
            rows_left -= rows
            expected = rows * w * spp
            strip = _tiff_chunk(blob[off : off + cnt], expected, compression)
            if predictor == 2:
                # rows never cross strip boundaries: undo per strip
                strip = _undo_predictor(strip, rows, w, spp)
            out += strip
        arr = np.frombuffer(bytes(out), np.uint8, h * w * spp).reshape(
            h, w, spp
        )
    if photometric == 2:
        if spp < 3:
            raise ValueError("RGB TIFF with <3 samples")
        return arr[:, :, :3].astype(np.float64)  # extra samples (alpha) drop
    gray = arr[:, :, 0].astype(np.float64)
    return 255.0 - gray if photometric == 0 else gray


# ------------------------------------------------------------------ #
# PPM / PGM (netpbm)


def _decode_ppm(blob: bytes) -> np.ndarray:
    """P5 (gray) / P6 (RGB) binary and P2/P3 ASCII, maxval <= 65535."""
    # header: magic, whitespace/comment-separated width height maxval
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(blob) and blob[pos : pos + 1].isspace():
            pos += 1
        if blob[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(blob) and blob[pos] not in (0x0A, 0x0D):
                pos += 1
            continue
        start = pos
        while pos < len(blob) and not blob[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(blob[start:pos]))
    w, h, maxval = fields
    magic = blob[:2]
    channels = 3 if magic in (b"P6", b"P3") else 1
    if magic in (b"P2", b"P3"):  # ASCII sample text
        samples = np.array(blob[pos:].split(), dtype=np.uint16)
        data = samples[: w * h * channels]
    else:
        pos += 1  # single whitespace byte after maxval
        dtype = np.dtype(">u2") if maxval > 255 else np.uint8
        data = np.frombuffer(
            blob, dtype=dtype, count=w * h * channels, offset=pos
        )
    img = data.reshape(h, w, channels).astype(np.float64) / float(maxval)
    return img[:, :, 0] * 255.0 if channels == 1 else img * 255.0


# ------------------------------------------------------------------ #
# BMP (BITMAPINFOHEADER, uncompressed)


def _decode_bmp(blob: bytes) -> np.ndarray:
    if blob[:2] != b"BM":
        raise ValueError("not a BMP")
    data_offset = struct.unpack_from("<I", blob, 10)[0]
    hdr_size = struct.unpack_from("<I", blob, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    w, h_signed = struct.unpack_from("<ii", blob, 18)
    planes, bpp = struct.unpack_from("<HH", blob, 26)
    compression = struct.unpack_from("<I", blob, 30)[0]
    if compression not in (0, 3):  # BI_RGB / BI_BITFIELDS(32bpp common)
        raise ValueError(f"unsupported BMP compression {compression}")
    if bpp not in (8, 24, 32):
        raise ValueError(f"unsupported BMP bpp {bpp}")
    h = abs(h_signed)
    top_down = h_signed < 0
    row_bytes = ((w * bpp + 31) // 32) * 4  # rows pad to 4 bytes
    raw = np.frombuffer(blob, dtype=np.uint8, count=row_bytes * h, offset=data_offset)
    rows = raw.reshape(h, row_bytes)
    if not top_down:
        rows = rows[::-1]  # BMP default is bottom-up
    if bpp == 8:
        # palette: 4-byte BGRA entries right after the info header
        pal_off = 14 + hdr_size
        n_colors = struct.unpack_from("<I", blob, 46)[0] or 256
        pal = np.frombuffer(
            blob, dtype=np.uint8, count=n_colors * 4, offset=pal_off
        ).reshape(n_colors, 4)[:, :3][:, ::-1]  # BGR -> RGB
        idx = rows[:, :w]
        return pal[idx].astype(np.float64)
    step = bpp // 8
    px = rows[:, : w * step].reshape(h, w, step)
    return px[:, :, 2::-1].astype(np.float64)  # BGR(A) -> RGB


# ------------------------------------------------------------------ #
# PNG (bit depth 8/16, color types 0/2/3/4/6, incl. Adam7 interlace)

_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: np.ndarray, h: int, stride: int, fpx: int) -> np.ndarray:
    """Undo PNG per-row filters. ``fpx`` = filter unit (bytes/pixel).

    Filter math is defined on bytes mod 256 (spec §6); rows depend on
    the previous reconstructed row, so this loop is sequential in h —
    but each blob is one task-side unit of work, so the O(h) Python
    loop with numpy row ops is fine at batch scale.
    """
    raw = raw.reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int16)
    for y in range(h):
        ftype = raw[y, 0]
        row = raw[y, 1:].astype(np.int16)
        if ftype == 0:  # None
            cur = row
        elif ftype == 1:  # Sub
            cur = row.copy()
            for i in range(fpx, stride):
                cur[i] = (cur[i] + cur[i - fpx]) & 0xFF
        elif ftype == 2:  # Up
            cur = (row + prior) & 0xFF
        elif ftype == 3:  # Average
            cur = row.copy()
            for i in range(stride):
                left = cur[i - fpx] if i >= fpx else 0
                cur[i] = (cur[i] + ((left + prior[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = row.copy()
            for i in range(stride):
                a = int(cur[i - fpx]) if i >= fpx else 0
                b = int(prior[i])
                c = int(prior[i - fpx]) if i >= fpx else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (cur[i] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prior = cur
    return out


def _decode_png(blob: bytes) -> np.ndarray:
    if not blob.startswith(b"\x89PNG\r\n\x1a\n"):
        raise ValueError("not a PNG")
    pos = 8
    idat = bytearray()
    w = h = bitdepth = colortype = None
    interlace = 0
    palette = None
    while pos + 8 <= len(blob):
        length, ctype = struct.unpack_from(">I4s", blob, pos)
        body = blob[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            w, h, bitdepth, colortype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if bitdepth not in (1, 2, 4, 8, 16):
                raise ValueError(f"PNG bit depth {bitdepth} not supported")
        elif ctype == b"PLTE":
            palette = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    channels = _PNG_CHANNELS[colortype]
    data = zlib.decompress(bytes(idat))
    if bitdepth < 8:
        # sub-byte packed samples (spec: only gray / palette): unpack
        # MSB-first after byte-level unfiltering (filter unit = 1 byte)
        if colortype not in (0, 3):
            raise ValueError("sub-byte PNG requires gray or palette")
        if interlace:
            raise ValueError("interlaced sub-byte PNG not supported")
        stride = (w * bitdepth + 7) // 8
        raw = np.frombuffer(data, dtype=np.uint8)
        recon = _png_unfilter(raw, h, stride, 1).reshape(h, stride)
        bits = np.unpackbits(recon, axis=1)
        weights = 1 << np.arange(bitdepth - 1, -1, -1)
        samples = (
            bits[:, : (stride * 8 // bitdepth) * bitdepth]
            .reshape(h, -1, bitdepth) @ weights
        )[:, :w]
        if colortype == 3:
            if palette is None:
                raise ValueError("paletted PNG missing PLTE")
            return palette[samples.astype(np.intp)].astype(np.float64)
        return samples.astype(np.float64) * (255.0 / ((1 << bitdepth) - 1))
    bytes_per_sample = bitdepth // 8
    stride = w * channels * bytes_per_sample
    fpx = max(1, channels * bytes_per_sample)
    if interlace == 1:
        # Adam7: seven filtered sub-images, scattered back on a fixed
        # (x_start, x_step, y_start, y_step) grid (PNG spec §8.2)
        cb = channels * bytes_per_sample
        recon = np.zeros((h, stride), dtype=np.uint8)
        pos7 = 0
        for xs0, xst, ys0, yst in (
            (0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
            (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2),
        ):
            pw = (w - xs0 + xst - 1) // xst
            ph = (h - ys0 + yst - 1) // yst
            if pw <= 0 or ph <= 0:
                continue
            pstride = pw * cb
            nbytes = ph * (pstride + 1)
            sub = np.frombuffer(data, np.uint8, nbytes, pos7)
            pos7 += nbytes
            prec = _png_unfilter(sub, ph, pstride, fpx)
            cols = np.add.outer(
                (xs0 + np.arange(pw) * xst) * cb, np.arange(cb)
            ).reshape(-1)
            recon[np.ix_(ys0 + np.arange(ph) * yst, cols)] = prec
    else:
        raw = np.frombuffer(data, dtype=np.uint8)
        recon = _png_unfilter(raw, h, stride, fpx)
    if bitdepth == 16:
        px = recon.reshape(h, w, channels, 2).astype(np.float64)
        img = (px[..., 0] * 256 + px[..., 1]) / 257.0  # scale to 0..255
    else:
        img = recon.reshape(h, w, channels).astype(np.float64)
    if colortype == 3:
        if palette is None:
            raise ValueError("paletted PNG missing PLTE")
        return palette[img[:, :, 0].astype(np.intp)].astype(np.float64)
    if colortype == 0:
        return img[:, :, 0]
    if colortype == 4:  # gray + alpha: drop alpha
        return img[:, :, 0]
    if colortype == 6:  # RGBA: drop alpha
        return img[:, :, :3]
    return img  # colortype 2 (RGB)


# ------------------------------------------------------------------ #
# GIF (87a/89a, first frame, non-interlaced)


def _lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> list[int]:
    """GIF-variant LZW (variable code width 3..12 bits, CLEAR/END
    codes) — spec appendix F. Returns exactly n_pixels indices."""
    clear = 1 << min_code_size
    end = clear + 1
    out: list[int] = []
    # bit reader: GIF packs codes LSB-first
    bitpos = 0
    total_bits = len(data) * 8

    def read_code(width: int) -> int:
        nonlocal bitpos
        if bitpos + width > total_bits:
            return end  # truncated stream: treat as END
        byte0 = bitpos // 8
        val = int.from_bytes(data[byte0 : byte0 + 3], "little")
        val = (val >> (bitpos % 8)) & ((1 << width) - 1)
        bitpos += width
        return val

    width = min_code_size + 1
    dictionary: list[list[int]] = [[i] for i in range(clear)] + [[], []]
    prev: list[int] | None = None
    while len(out) < n_pixels:
        code = read_code(width)
        if code == clear:
            dictionary = [[i] for i in range(clear)] + [[], []]
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(dictionary) and dictionary[code]:
            entry = dictionary[code]
        elif code == len(dictionary) and prev is not None:
            entry = prev + [prev[0]]  # the KwKwK case
        else:
            raise ValueError(f"corrupt GIF LZW stream (code {code})")
        out.extend(entry)
        if prev is not None and len(dictionary) < 4096:
            dictionary.append(prev + [entry[0]])
        # width grows when the NEXT code could not be represented
        if len(dictionary) >= (1 << width) and width < 12:
            width += 1
        prev = entry
    if len(out) < n_pixels:
        raise ValueError("GIF pixel data ended early")
    return out[:n_pixels]


def _decode_gif(blob: bytes) -> np.ndarray:
    """First frame of a GIF87a/89a as HxWx3 float64 (non-interlaced;
    transparency ignored — pixels take their palette color)."""
    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    _sw, _sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", blob, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(blob, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    while pos < len(blob):
        b0 = blob[pos]
        if b0 == 0x21:  # extension: label + sub-blocks
            pos += 2
            while blob[pos] != 0:
                pos += 1 + blob[pos]
            pos += 1
        elif b0 == 0x2C:  # image descriptor
            _l, _t, w, h, ipacked = struct.unpack_from("<HHHHB", blob, pos + 1)
            pos += 10
            interlaced = bool(ipacked & 0x40)
            table = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                table = np.frombuffer(blob, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if table is None:
                raise ValueError("GIF frame has no color table")
            min_code = blob[pos]
            pos += 1
            data = bytearray()
            while blob[pos] != 0:
                size = blob[pos]
                data += blob[pos + 1 : pos + 1 + size]
                pos += 1 + size
            idx = _lzw_decode(bytes(data), min_code, w * h)
            arr = np.array(idx, dtype=np.intp).reshape(h, w)
            if interlaced:
                # GIF89a appendix E: rows are stored in four passes
                # (every 8th from 0, every 8th from 4, every 4th from
                # 2, every 2nd from 1); remap stream order -> display
                order = np.concatenate(
                    [
                        np.arange(0, h, 8),
                        np.arange(4, h, 8),
                        np.arange(2, h, 4),
                        np.arange(1, h, 2),
                    ]
                )
                out = np.empty_like(arr)
                out[order] = arr
                arr = out
            return table[arr].astype(np.float64)
        elif b0 == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b0:02x}")
    raise ValueError("GIF has no image frame")


# ------------------------------------------------------------------ #
# JPEG (baseline DCT, ITU T.81 — public spec; JFIF color conventions)

# zig-zag scan order (T.81 Figure 5): _JPEG_ZIGZAG[i] = natural index
# of the i-th transmitted coefficient
_JPEG_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.intp,
)

# orthonormal 8-point DCT-II matrix: forward F = C X C.T, inverse
# X = C.T F C (T.81 Annex A.3.3 up to the orthonormal scaling)
_DCT_C = np.array(
    [
        [
            (np.sqrt(1.0 / 8) if k == 0 else np.sqrt(2.0 / 8))
            * np.cos((2 * n + 1) * k * np.pi / 16)
            for n in range(8)
        ]
        for k in range(8)
    ],
    dtype=np.float64,
)


class _JpegHuff:
    """Canonical huffman decode tables (T.81 Annex C assignment +
    Annex F.16 MINCODE/MAXCODE/VALPTR decode): one 16-bit peek and a
    handful of integer compares per symbol instead of a per-bit walk."""

    __slots__ = ("mincode", "maxcode", "valptr", "symbols", "lengths")

    def __init__(self, counts: bytes, symbols: bytes):
        if len(counts) < 16 or len(symbols) < sum(counts[:16]):
            raise ValueError("truncated JPEG huffman table")
        self.symbols = list(symbols)
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        self.lengths: list[int] = []
        code = 0
        k = 0
        for length in range(1, 17):
            c = counts[length - 1]
            if c:
                self.valptr[length] = k
                self.mincode[length] = code
                self.maxcode[length] = code + c - 1
                self.lengths.append(length)
                code += c
                k += c
            code <<= 1


def _jpeg_build_huffman(counts: bytes, symbols: bytes) -> _JpegHuff:
    return _JpegHuff(counts, symbols)


class _JpegBits:
    """MSB-first bit reader over ONE entropy-coded segment (already
    unstuffed; restart markers split segments upstream)."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.nbits = len(data) * 8

    def read_bit(self) -> int:
        p = self.pos
        if p >= self.nbits:
            # past the end: T.81 decoders pad with 1-bits (the encoder
            # flushes with 1s); a truly corrupt stream still errors out
            # via an impossible huffman code below
            self.pos = p + 1
            return 1
        self.pos = p + 1
        return (self.data[p >> 3] >> (7 - (p & 7))) & 1

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        p = self.pos
        end = p + n
        if end <= self.nbits:
            # fast path: slice the covering bytes once (<=4 for n<=16)
            b0, b1 = p >> 3, (end + 7) >> 3
            word = int.from_bytes(self.data[b0:b1], "big")
            self.pos = end
            return (word >> ((b1 << 3) - end)) & ((1 << n) - 1)
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def peek16(self) -> int:
        """The next 16 bits without advancing, 1-padded past the end
        (same convention as read_bit)."""
        p = self.pos
        chunk = self.data[p >> 3 : (p >> 3) + 3]
        pad = 8 * (3 - len(chunk))
        word = (int.from_bytes(chunk, "big") << pad) | ((1 << pad) - 1)
        return (word >> (8 - (p & 7))) & 0xFFFF

    def huff(self, table: _JpegHuff) -> int:
        peek = self.peek16()
        maxcode = table.maxcode
        for length in table.lengths:
            code = peek >> (16 - length)
            if code <= maxcode[length]:
                self.pos += length
                return table.symbols[
                    table.valptr[length] + code - table.mincode[length]
                ]
        raise ValueError("corrupt JPEG huffman stream")


def _jpeg_extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the t-bit magnitude to its signed value."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _jpeg_entropy_segments(
    blob: bytes, pos: int, raw: bool = False
) -> tuple[list[bytes], int]:
    """Split a scan's entropy-coded data at restart markers. Huffman
    mode (default) FF00-unstuffs so each segment is pure huffman
    bits. ``raw=True`` (arithmetic scans) keeps bytes VERBATIM: in
    the QM coder the byte after 0xFF carries seven real data bits
    (F.1.4.3's carry-guard stuffing), so any value ≤ 0x8F after FF
    is data, not stuffing to strip — the arithmetic BYTEIN applies
    the 7-bit rule itself. Also returns the position of the marker
    that ended the scan (so a multi-scan stream can keep parsing)."""
    segments: list[bytes] = []
    cur = bytearray()
    n = len(blob)
    while pos < n:
        b = blob[pos]
        if b != 0xFF:
            cur.append(b)
            pos += 1
            continue
        m = blob[pos + 1] if pos + 1 < n else 0xD9
        if m == 0x00 or (raw and m <= 0x8F):
            if raw:  # keep the FF and its 7-bit follower verbatim
                cur += blob[pos : pos + 2]
            else:  # stuffed literal FF
                cur.append(0xFF)
            pos += 2
        elif 0xD0 <= m <= 0xD7:  # RSTn
            segments.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:  # EOI or any other marker ends the scan
            break
    segments.append(bytes(cur))
    return segments, pos


def _jpeg_ac_first(bits, coef, act, band_lo, Se, Al, eobrun) -> int:
    """AC band, first pass (Ah == 0): run-length coefficients with
    EOB-run skips (T.81 G.1.2.2). Returns the remaining EOB run."""
    zz = _JPEG_ZIGZAG
    if eobrun > 0:
        return eobrun - 1
    k = band_lo
    while k <= Se:
        rs = bits.huff(act)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += bits.receive(r)
            return eobrun
        k += r
        if k > Se:
            raise ValueError("corrupt JPEG AC run")
        coef[zz[k]] = _jpeg_extend(bits.receive(s), s) << Al
        k += 1
    return 0


def _jpeg_ac_refine(bits, coef, act, band_lo, Se, Al, eobrun) -> int:
    """AC band, refinement pass (Ah > 0): one correction bit per
    already-nonzero coefficient, newly significant coefficients appear
    as ±1<<Al (T.81 G.1.2.3; the libjpeg-equivalent control flow)."""
    zz = _JPEG_ZIGZAG
    p1 = 1 << Al

    def correct(z: int) -> None:
        if bits.read_bit() and (coef[z] & p1) == 0:
            coef[z] += p1 if coef[z] >= 0 else -p1

    k = band_lo
    if eobrun > 0:
        while k <= Se:
            if coef[zz[k]] != 0:
                correct(zz[k])
            k += 1
        return eobrun - 1
    while k <= Se:
        rs = bits.huff(act)
        r, s = rs >> 4, rs & 15
        val = 0
        if s == 0:
            if r < 15:  # EOB run starts: finish this block's tail below
                eobrun = (1 << r) - 1
                if r:
                    eobrun += bits.receive(r)
                break
            # r == 15 (ZRL): skip 16 zero-history coefficients
        else:
            if s != 1:
                raise ValueError("corrupt JPEG refinement scan")
            val = p1 if bits.read_bit() else -p1
        while k <= Se:
            z = zz[k]
            if coef[z] != 0:
                correct(z)
            else:
                if r == 0:
                    break
                r -= 1
            k += 1
        if val and k <= Se:
            coef[zz[k]] = val
        k += 1
    while k <= Se:  # EOB tail: corrections for the rest of the band
        if coef[zz[k]] != 0:
            correct(zz[k])
        k += 1
    return eobrun


# ------------------------------------------------------- arithmetic coding
# ITU-T T.81 Annex F arithmetic-coded JPEG (SOF9 sequential, SOF10
# progressive). ``_ARITH_QE`` is the normative QM-coder probability
# state machine, T.81 Table D.3 (shared with JBIG / T.82): per state
# (Qe, NMPS, NLPS, SWITCH). tests/test_libcodec_diff.py pins this
# table byte-for-byte against the system libjpeg's exported
# ``jpeg_aritab`` AND differentials whole-image decodes against
# libjpeg-encoded arithmetic fixtures (libjpeg-turbo ships both the
# arithmetic encoder and decoder, so the fixtures are genuine).
_ARITH_QE = (
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0), (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0), (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0), (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0), (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0), (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0), (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0), (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0), (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0), (0x040F, 53, 50, 0), (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0), (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0), (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0), (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0), (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0), (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0), (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0), (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1), (0x5A1D, 113, 113, 0),
)


class _JpegArithDecoder:
    """The T.81 Annex F binary arithmetic DECODER over one entropy
    segment, with every register/feed convention pinned EMPIRICALLY
    against the system libjpeg encoder via a known-plaintext channel
    (progressive DC-refinement scans encode one chosen bit per block
    through the non-adaptive fixed bin; 2,800 bits across seven
    fixtures incl. 0xFF-stuffed streams decode exactly —
    tests/test_libcodec_diff.py):

    - byte stuffing: a 0x00 after 0xFF is a stuffed carry guard and
      is DISCARDED (the 0xFF is a full data byte); past the end of
      the segment (the scan's terminating marker) 0x00 bytes feed;
    - init: THREE unstuffed bytes preload the code register,
      ``C = (b0<<16 | b1<<8 | b2) << 8``, ``CT = 0``, ``A = 0x10000``;
    - DECODE: ``A -= Qe``; ``Chigh >= A`` means the TOP (LPS-sized)
      subinterval — ``C -= A<<16``, decoded symbol is MPS when
      ``A < Qe`` (conditional exchange) else LPS, then ``A = Qe`` and
      renormalize; the bottom subinterval decodes MPS (exchanged to
      LPS when ``A < Qe``) and renormalizes when ``A < 0x8000``;
    - RENORMD: before each shift, if ``CT == 0`` the next unstuffed
      byte ORs into bits 0-7 with ``CT = 8``; shift A and C left,
      ``CT -= 1``, until ``A & 0x8000``.

    Restart intervals get fresh decoder instances. Statistics bins
    are ``[state_index, mps]`` lists owned by the caller."""

    __slots__ = ("d", "n", "bp", "c", "a", "ct")

    def __init__(self, data: bytes) -> None:
        self.d = data
        self.n = len(data)
        self.bp = 0
        b0 = self._byte()
        b1 = self._byte()
        b2 = self._byte()
        self.c = (((b0 << 16) | (b1 << 8) | b2) << 8) & 0xFFFFFFFF
        self.ct = 0
        self.a = 0x10000

    def _byte(self) -> int:
        """Next unstuffed data byte; 0x00 forever past the end."""
        d, n = self.d, self.n
        while True:
            bp = self.bp
            if bp >= n:
                return 0x00
            b = d[bp]
            self.bp = bp + 1
            if b == 0x00 and bp >= 1 and d[bp - 1] == 0xFF:
                continue  # stuffed carry-guard zero
            return b

    def _renorm(self) -> None:
        while True:
            if self.ct == 0:
                self.c |= self._byte()
                self.ct = 8
            self.a = (self.a << 1) & 0x1FFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.a & 0x8000:
                return

    def decide(self, st: list) -> int:
        """One binary decision against statistics bin ``st``."""
        qe, nmps, nlps, switch = _ARITH_QE[st[0]]
        mps = st[1]
        self.a -= qe
        if (self.c >> 16) >= self.a:
            # top (LPS-sized) subinterval
            self.c -= self.a << 16
            if self.a < qe:  # conditional exchange
                d = mps
                st[0] = nmps
            else:
                d = 1 - mps
                if switch:
                    st[1] = 1 - mps
                st[0] = nlps
            self.a = qe
            self._renorm()
        elif self.a & 0x8000 == 0:
            if self.a < qe:  # conditional exchange
                d = 1 - mps
                if switch:
                    st[1] = 1 - mps
                st[0] = nlps
            else:
                d = mps
                st[0] = nmps
            self._renorm()
        else:
            d = mps
        return d


def _arith_decode_dc(dec, dc_st, fixed, dc_ctx, last_dc, ci, cond):
    """One DC difference (F.2.4.1 via figures F.23/F.24): the zero /
    sign / magnitude-category / magnitude-bits decision tree with the
    L/U conditioning that picks the next block's context."""
    low, up = cond
    base = dc_ctx[ci]
    if dec.decide(dc_st[base]) == 0:
        dc_ctx[ci] = 0
        return last_dc[ci]
    sign = dec.decide(dc_st[base + 1])
    st = base + 2 + sign
    m = dec.decide(dc_st[st])
    if m:
        st = 20  # Table F.4: X1
        while dec.decide(dc_st[st]):
            m <<= 1
            if m == 0x8000:
                raise ValueError("JPEG arith DC magnitude overflow")
            st += 1
    if m < (1 << low) >> 1:
        dc_ctx[ci] = 0
    elif m > (1 << up) >> 1:
        dc_ctx[ci] = 12 + sign * 4
    else:
        dc_ctx[ci] = 4 + sign * 4
    v = m
    st += 14  # Table F.4: M = X + 14
    while m := m >> 1:
        if dec.decide(dc_st[st]):
            v |= m
    v += 1
    last_dc[ci] += -v if sign else v
    return last_dc[ci]


def _arith_decode_ac(dec, coef, ac_st, fixed, lo, Se, Al, kx):
    """One block's AC band, first pass (sequential, or progressive
    Ah == 0): per-k EOB decision, zero-run walk, sign via the fixed
    (non-adaptive) bin, magnitude category + bits (F.2.4.2)."""
    zz = _JPEG_ZIGZAG
    k = lo
    while k <= Se:
        st = 3 * (k - 1)
        if dec.decide(ac_st[st]):  # EOB
            return
        while dec.decide(ac_st[st + 1]) == 0:
            st += 3
            k += 1
            if k > Se:
                raise ValueError("JPEG arith AC run overflow")
        sign = dec.decide(fixed)
        st += 2
        m = dec.decide(ac_st[st])
        if m and dec.decide(ac_st[st]):
            m = 2
            st = 189 if k <= kx else 217
            while dec.decide(ac_st[st]):
                m <<= 1
                if m == 0x8000:
                    raise ValueError("JPEG arith AC magnitude overflow")
                st += 1
        v = m
        st += 14
        while m := m >> 1:
            if dec.decide(ac_st[st]):
                v |= m
        v += 1
        coef[zz[k]] = (-v if sign else v) << Al
        k += 1


def _arith_refine_ac(dec, coef, ac_st, fixed, Ss, Se, Al):
    """One block's AC refinement pass (progressive Ah > 0): EOBx flag
    above the previous stage's highest nonzero index, correction bits
    for known coefficients, fixed-bin signs for new ones (G.2 via the
    same statistics layout)."""
    zz = _JPEG_ZIGZAG
    p1 = 1 << Al
    m1 = -1 << Al
    kex = Se
    while kex >= 1 and coef[zz[kex]] == 0:
        kex -= 1
    k = Ss
    while k <= Se:
        st = 3 * (k - 1)
        if k > kex:
            if dec.decide(ac_st[st]):
                return
        while True:
            z = zz[k]
            if coef[z] != 0:
                if dec.decide(ac_st[st + 2]):
                    coef[z] += m1 if coef[z] < 0 else p1
                break
            if dec.decide(ac_st[st + 1]):
                coef[z] = m1 if dec.decide(fixed) else p1
                break
            st += 3
            k += 1
            if k > Se:
                raise ValueError("JPEG arith AC refinement overflow")
        k += 1


def _decode_arith_scans(blob_scans, frame, coefs, hmax, vmax, fw, fh):
    """Execute every arithmetic-coded scan (SOF9 sequential / SOF10
    progressive) against the shared coefficient grids — the
    arithmetic counterpart of the huffman scan loop in
    ``_decode_jpeg``. Statistics bins and the DC predictors reset at
    scan starts AND restart markers (F.2.1.1); each restart segment
    gets a fresh arithmetic decoder."""
    comps = frame[2]
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    for sel, Ss, Se, Ah, Al, segments, rst, dc_cond, ac_cond in blob_scans:

        def fresh_stats():
            dc = {t: [[0, 0] for _ in range(64)] for t in range(4)}
            ac = {t: [[0, 0] for _ in range(256)] for t in range(4)}
            return dc, ac, [113, 0], [0] * len(comps), [0] * len(comps)

        dc_stats, ac_stats, fixed, dc_ctx, last_dc = fresh_stats()
        seg_idx = 0
        dec = _JpegArithDecoder(segments[0])

        def unit(ci, by, bx, dc_id, ac_id):
            coef = coefs[ci][by, bx]
            if Ss == 0:
                if Ah == 0:
                    v = _arith_decode_dc(
                        dec, dc_stats[dc_id], fixed, dc_ctx, last_dc,
                        ci, dc_cond.get(dc_id, (0, 1)),
                    )
                    coef[0] = v << Al
                elif dec.decide(fixed):  # DC refinement: one fixed bit
                    coef[0] |= 1 << Al
            if Se >= 1 and Se >= Ss:
                lo = max(Ss, 1)
                if lo <= Se:
                    if Ah == 0:
                        _arith_decode_ac(
                            dec, coef, ac_stats[ac_id], fixed, lo, Se,
                            Al, ac_cond.get(ac_id, 5),
                        )
                    else:
                        _arith_refine_ac(
                            dec, coef, ac_stats[ac_id], fixed, lo, Se, Al
                        )

        def restart():
            nonlocal dec, dc_stats, ac_stats, fixed, dc_ctx, last_dc, seg_idx
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("JPEG truncated at restart marker")
            dc_stats, ac_stats, fixed, dc_ctx, last_dc = fresh_stats()
            dec = _JpegArithDecoder(segments[seg_idx])

        if len(sel) > 1:
            for mcu in range(mcux * mcuy):
                if rst and mcu and mcu % rst == 0:
                    restart()
                my, mx = divmod(mcu, mcux)
                for ci, dc_id, ac_id in sel:
                    _cid, hs, vs, _tq = comps[ci]
                    for by in range(vs):
                        for bx in range(hs):
                            unit(ci, my * vs + by, mx * hs + bx, dc_id, ac_id)
        else:
            ci, dc_id, ac_id = sel[0]
            _cid, hs, vs, _tq = comps[ci]
            comp_w = -(-(fw * hs) // hmax)
            comp_h = -(-(fh * vs) // vmax)
            nbx = -(-comp_w // 8)
            nby = -(-comp_h // 8)
            for i in range(nbx * nby):
                if rst and i and i % rst == 0:
                    restart()
                by, bx = divmod(i, nbx)
                unit(ci, by, bx, dc_id, ac_id)


def _decode_jpeg(blob: bytes) -> np.ndarray:
    """Sequential (SOF0/SOF1), progressive (SOF2) 8-bit huffman, AND
    arithmetic-coded (SOF9 sequential / SOF10 progressive, round 14)
    JPEG: the unified T.81 model — every scan accumulates into
    per-component integer coefficient grids (baseline is one
    interleaved scan with Ss=0, Se=63, Ah=Al=0), progressive adds
    spectral selection, EOB runs, and DC/AC successive approximation
    (Annex G); arithmetic scans run the Annex F QM-coder procedures
    (``_decode_arith_scans``) against the same grids. Then one
    dequant + matrix IDCT + nearest-neighbor chroma upsampling +
    JFIF YCbCr->RGB pass over the final grids. Hierarchical /
    lossless / 12-bit SOFs raise ValueError (PIL fallback / on_error
    policy upstream)."""
    if not blob.startswith(b"\xff\xd8"):
        raise ValueError("not a JPEG")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None  # (h, w, [(cid, hs, vs, qid)])
    restart_interval = 0
    orientation = 1  # EXIF tag 0x0112; 1 = upright
    adobe_transform = None  # APP14: 0=RGB/CMYK, 1=YCbCr, 2=YCCK
    arith_frame = False
    dc_cond: dict[int, tuple] = {}  # DAC (L, U) per DC table
    ac_cond: dict[int, int] = {}  # DAC Kx per AC table
    # each scan: (sel[(ci, dc_id, ac_id)], Ss, Se, Ah, Al, segments,
    #             restart_interval, dc_tables, ac_tables)
    scans: list[tuple] = []
    pos = 2
    n = len(blob)
    while pos + 4 <= n:
        if blob[pos] != 0xFF:
            raise ValueError("corrupt JPEG marker stream")
        # T.81 B.1.1.2: any marker may be preceded by 0xFF fill bytes
        while pos + 2 <= n and blob[pos + 1] == 0xFF:
            pos += 1
        marker = blob[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            break
        seglen = struct.unpack_from(">H", blob, pos + 2)[0]
        body = blob[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                i += 1
                if pq:  # 16-bit table
                    vals = np.frombuffer(body, ">u2", 64, i).astype(np.float64)
                    i += 128
                else:
                    vals = np.frombuffer(body, np.uint8, 64, i).astype(np.float64)
                    i += 64
                tab = np.zeros(64)
                tab[_JPEG_ZIGZAG] = vals  # store in natural order
                qt[tq] = tab.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                counts = body[i + 1 : i + 17]
                total = sum(counts)
                symbols = body[i + 17 : i + 17 + total]
                (huff_ac if tc else huff_dc)[th] = _jpeg_build_huffman(
                    counts, symbols
                )
                i += 17 + total
        elif marker in (0xC0, 0xC1, 0xC2, 0xC9, 0xCA):
            # baseline / extended sequential / progressive huffman,
            # plus their ARITHMETIC twins SOF9 (sequential) and
            # SOF10 (progressive) — T.81 Annex F (round 14)
            prec, fh, fw, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError(f"JPEG precision {prec} not supported")
            comps = []
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * c)
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (fh, fw, comps)
            arith_frame = marker in (0xC9, 0xCA)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"JPEG SOF{marker - 0xC0} "
                "(hierarchical/lossless/12-bit) not supported"
            )
        elif marker == 0xCC:  # DAC: arithmetic conditioning (F.1.4.4)
            i = 0
            while i + 1 < len(body):
                tc, tb = body[i] >> 4, body[i] & 15
                val = body[i + 1]
                if tc:
                    ac_cond[tb] = val  # Kx
                else:
                    dc_cond[tb] = (val & 15, val >> 4)  # (L, U)
                i += 2
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xE1 and body[:6] == b"Exif\x00\x00":  # APP1
            orientation = _exif_orientation(body[6:]) or orientation
        elif marker == 0xEE and body[:5] == b"Adobe" and len(body) >= 12:
            adobe_transform = body[11]  # APP14 color-transform flag
        elif marker == 0xDA:  # SOS: header, then entropy data
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            sel = []
            cids = [c[0] for c in frame[2]]
            for s in range(ns):
                cs, tdta = struct.unpack_from(">BB", body, 1 + 2 * s)
                sel.append((cids.index(cs), tdta >> 4, tdta & 15))
            Ss, Se, AhAl = struct.unpack_from(">BBB", body, 1 + 2 * ns)
            segments, pos = _jpeg_entropy_segments(blob, pos, raw=arith_frame)
            if arith_frame:
                scans.append(
                    (
                        sel, Ss, Se, AhAl >> 4, AhAl & 15, segments,
                        restart_interval, dict(dc_cond), dict(ac_cond),
                    )
                )
            else:
                scans.append(
                    (
                        sel, Ss, Se, AhAl >> 4, AhAl & 15, segments,
                        restart_interval, dict(huff_dc), dict(huff_ac),
                    )
                )
        # all other markers (APPn, COM) are skipped via seglen
    if frame is None or not scans:
        raise ValueError("JPEG missing SOF/SOS")
    fh, fw, comps = frame

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    # per-component integer coefficient grids, natural order per block
    coefs = [
        np.zeros((mcuy * vs, mcux * hs, 64), dtype=np.int64)
        for (_cid, hs, vs, _tq) in comps
    ]

    if arith_frame:
        _decode_arith_scans(scans, frame, coefs, hmax, vmax, fw, fh)
        scans = []

    for sel, Ss, Se, Ah, Al, segments, rst, dc_tabs, ac_tabs in scans:
        eobrun = 0
        preds = [0] * len(comps)
        bits = _JpegBits(segments[0])
        seg_idx = 0

        def unit(ci: int, by: int, bx: int, dc_id: int, ac_id: int) -> None:
            nonlocal eobrun
            coef = coefs[ci][by, bx]
            if Ss == 0:
                if Ah == 0:  # DC first pass (at precision Al)
                    t = bits.huff(dc_tabs[dc_id])
                    preds[ci] += _jpeg_extend(bits.receive(t), t)
                    coef[0] = preds[ci] << Al
                elif bits.read_bit():  # DC refinement: one bit
                    coef[0] |= 1 << Al
            if Se >= 1 and Se >= Ss:
                band_lo = max(Ss, 1)
                if band_lo <= Se:
                    if Ah == 0:
                        eobrun = _jpeg_ac_first(
                            bits, coef, ac_tabs[ac_id], band_lo, Se, Al, eobrun
                        )
                    else:
                        eobrun = _jpeg_ac_refine(
                            bits, coef, ac_tabs[ac_id], band_lo, Se, Al, eobrun
                        )

        if len(sel) > 1:
            # interleaved MCU order over the padded grid (baseline
            # multi-component, or progressive DC scans covering
            # several components)
            n_units = mcux * mcuy
            for mcu in range(n_units):
                if rst and mcu and mcu % rst == 0:
                    seg_idx += 1
                    if seg_idx >= len(segments):
                        raise ValueError("JPEG truncated at restart marker")
                    bits = _JpegBits(segments[seg_idx])
                    preds = [0] * len(comps)
                    eobrun = 0
                my, mx = divmod(mcu, mcux)
                for ci, dc_id, ac_id in sel:
                    _cid, hs, vs, _tq = comps[ci]
                    for by in range(vs):
                        for bx in range(hs):
                            unit(ci, my * vs + by, mx * hs + bx, dc_id, ac_id)
        else:
            # non-interleaved: the component's REAL block grid (not
            # padded to MCU multiples — T.81 A.2.2)
            ci, dc_id, ac_id = sel[0]
            _cid, hs, vs, _tq = comps[ci]
            comp_w = -(-(fw * hs) // hmax)
            comp_h = -(-(fh * vs) // vmax)
            nbx = -(-comp_w // 8)
            nby = -(-comp_h // 8)
            for i in range(nbx * nby):
                if rst and i and i % rst == 0:
                    seg_idx += 1
                    if seg_idx >= len(segments):
                        raise ValueError("JPEG truncated at restart marker")
                    bits = _JpegBits(segments[seg_idx])
                    preds = [0] * len(comps)
                    eobrun = 0
                by, bx = divmod(i, nbx)
                unit(ci, by, bx, dc_id, ac_id)

    # dequant + IDCT, BATCHED: all of a component's blocks go through
    # two broadcast matmuls instead of one 8x8 GEMM per block
    Ct = _DCT_C.T
    planes = []
    for ci, (_cid, hs, vs, tq) in enumerate(comps):
        quant = qt[tq].reshape(8, 8)
        nby, nbx = coefs[ci].shape[:2]
        grid = coefs[ci].astype(np.float64).reshape(-1, 8, 8) * quant
        blocks = (Ct @ grid) @ _DCT_C + 128.0
        plane = (
            blocks.reshape(nby, nbx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(nby * 8, nbx * 8)
        )
        planes.append(plane)
    full = []
    for ci, (_cid, hs, vs, _tq) in enumerate(comps):
        p = planes[ci]
        if hs != hmax:
            p = np.repeat(p, hmax // hs, axis=1)
        if vs != vmax:
            p = np.repeat(p, vmax // vs, axis=0)
        full.append(p[:fh, :fw])
    if len(full) == 1:
        return _apply_orientation(np.clip(full[0], 0.0, 255.0), orientation)
    if len(full) == 4:
        # Adobe CMYK (APP14 transform 0/absent) or YCCK (transform 2).
        # Adobe stores INVERTED ink values (255 = no ink), the
        # convention every mainstream consumer applies: R = C'·K'/255
        # on the decoded values.
        if adobe_transform == 2:  # YCCK: YCbCr math yields inverted CMY
            y, cb, cr, k = full
            c = y + 1.402 * (cr - 128.0)
            m = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
            ye = y + 1.772 * (cb - 128.0)
        else:
            c, m, ye, k = full
        c, m, ye, k = (np.clip(v, 0.0, 255.0) for v in (c, m, ye, k))
        out = np.stack([c * k, m * k, ye * k], axis=2) / 255.0
        return _apply_orientation(out, orientation)
    if len(full) != 3:
        raise ValueError(f"JPEG with {len(full)} components not supported")
    if adobe_transform == 0:  # Adobe RGB: stored without YCbCr
        out = np.clip(np.stack(full, axis=2), 0.0, 255.0)
        return _apply_orientation(out, orientation)
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    out = np.clip(np.stack([r, g, b], axis=2), 0.0, 255.0)
    return _apply_orientation(out, orientation)


def _exif_orientation(tiff: bytes) -> int | None:
    """Orientation (EXIF tag 0x0112, values 1-8) from an APP1 TIFF
    body; None when absent/malformed (EXIF problems must never fail a
    decode — the pixels are still good)."""
    try:
        if tiff[:2] == b"II":
            fmt = "<"
        elif tiff[:2] == b"MM":
            fmt = ">"
        else:
            return None
        if struct.unpack_from(fmt + "H", tiff, 2)[0] != 42:
            return None
        (ifd_off,) = struct.unpack_from(fmt + "I", tiff, 4)
        (n,) = struct.unpack_from(fmt + "H", tiff, ifd_off)
        for i in range(n):
            base = ifd_off + 2 + 12 * i
            tag, typ = struct.unpack_from(fmt + "HH", tiff, base)
            if tag == 0x0112 and typ == 3:  # SHORT
                (val,) = struct.unpack_from(fmt + "H", tiff, base + 8)
                return val if 1 <= val <= 8 else None
        return None
    except (struct.error, IndexError):
        return None


def _apply_orientation(img: np.ndarray, orientation: int) -> np.ndarray:
    """Map stored pixels to DISPLAY orientation (EXIF 1-8) so
    downstream features (dHash, resize grids) see what a viewer sees —
    a rotated-capture photo must dedup against its upright twin."""
    if orientation == 2:
        return img[:, ::-1]
    if orientation == 3:
        return img[::-1, ::-1]
    if orientation == 4:
        return img[::-1, :]
    if orientation == 5:
        return np.swapaxes(img, 0, 1)
    if orientation == 6:
        return np.swapaxes(img, 0, 1)[:, ::-1]
    if orientation == 7:
        return np.swapaxes(img, 0, 1)[::-1, ::-1]
    if orientation == 8:
        return np.swapaxes(img, 0, 1)[::-1, :]
    return img


# ------------------------------------------------------------------ #
# dispatch + grayscale/resize


def decode_pixels(blob: bytes) -> np.ndarray:
    """Decode a PNG/JPEG/BMP/PPM/GIF/WebP-lossless blob to an HxW
    (gray) or HxWx3 (RGB) float64 array in 0..255. Raises ValueError
    on unsupported data (e.g. lossy VP8 WebP); falls back to PIL only
    if it happens to be installed."""
    fmt = sniff_format(blob)
    try:
        if fmt == "png":
            return _decode_png(blob)
        if fmt == "jpeg":
            return _decode_jpeg(blob)
        if fmt == "bmp":
            return _decode_bmp(blob)
        if fmt == "ppm":
            return _decode_ppm(blob)
        if fmt == "gif":
            return _decode_gif(blob)
        if fmt == "webp":
            from .webpcodec import decode_webp

            return decode_webp(blob)
        if fmt == "tiff":
            return _decode_tiff(blob)
    except CORRUPT_ERRORS:
        pass  # unsupported variant or truncated/corrupt data; try PIL
    try:
        from PIL import Image  # pragma: no cover - PIL absent here
    except ImportError:
        raise ValueError(
            f"cannot decode blob (sniffed format: {fmt}); builtin decoders "
            "cover PNG/JPEG/BMP/PPM/GIF/WebP-lossless and PIL is not "
            "installed"
        ) from None
    try:  # pragma: no cover - PIL absent in this environment
        from io import BytesIO

        from PIL import ImageOps

        # Honor EXIF orientation like the builtin JPEG path does — the
        # two decoders must yield the SAME pixel grid for the same
        # photo, or dHash/dedup keys diverge by which path handled it.
        img = ImageOps.exif_transpose(Image.open(BytesIO(blob))).convert("RGB")
        return np.asarray(img, dtype=np.float64)
    except Exception as exc:
        # PIL raises UnidentifiedImageError/OSError/... on corrupt blobs;
        # decode_image's on_error="null" contract catches ValueError only,
        # so normalize — a corrupt blob must not kill the corpus job.
        raise ValueError(f"PIL could not decode blob: {exc}") from None


def decode_to_gray(blob: bytes, width: int, height: int) -> np.ndarray:
    """Decode, convert to ITU-R BT.601 luma, nearest-neighbor resize to
    (height, width); returns float64 in 0..1, row-major."""
    img = decode_pixels(blob)
    if img.ndim == 3:
        img = img[:, :, 0] * 0.299 + img[:, :, 1] * 0.587 + img[:, :, 2] * 0.114
    src_h, src_w = img.shape
    ys = np.minimum((np.arange(height) * src_h) // height, src_h - 1)
    xs = np.minimum((np.arange(width) * src_w) // width, src_w - 1)
    return img[np.ix_(ys, xs)] / 255.0


def gif_frames(blob: bytes):
    """Composited RGB frames of a (possibly animated) GIF89a: yields
    ``(frame_index, HxWx3 uint8 canvas)`` — each a COPY of the logical
    screen after drawing that frame, honoring frame placement offsets,
    local palettes, interlacing, transparency, and all four disposal
    methods (0/1 keep, 2 restore-to-background, 3 restore-previous).
    The first yielded canvas matches ``_decode_gif`` for whole-screen
    first frames (the overwhelmingly common layout)."""
    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, packed, bg, _ar = struct.unpack_from("<HHBBB", blob, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(blob, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    bg_rgb = (
        gct[bg] if gct is not None and bg < len(gct) else np.zeros(3, np.uint8)
    )
    canvas = np.broadcast_to(bg_rgb, (sh, sw, 3)).astype(np.uint8).copy()
    disposal, tidx = 0, None
    findex = 0
    while pos < len(blob):
        b0 = blob[pos]
        if b0 == 0x21:  # extension
            label = blob[pos + 1]
            if label == 0xF9 and blob[pos + 2] >= 4:  # graphic control
                gpacked = blob[pos + 3]
                disposal = (gpacked >> 2) & 0x07
                tidx = blob[pos + 6] if gpacked & 0x01 else None
            pos += 2
            while blob[pos] != 0:
                pos += 1 + blob[pos]
            pos += 1
        elif b0 == 0x2C:  # image descriptor
            left, top, w, h, ipacked = struct.unpack_from(
                "<HHHHB", blob, pos + 1
            )
            pos += 10
            interlaced = bool(ipacked & 0x40)
            table = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                table = np.frombuffer(blob, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if table is None:
                raise ValueError("GIF frame has no color table")
            min_code = blob[pos]
            pos += 1
            data = bytearray()
            while blob[pos] != 0:
                size = blob[pos]
                data += blob[pos + 1 : pos + 1 + size]
                pos += 1 + size
            pos += 1  # block terminator
            idx = np.array(
                _lzw_decode(bytes(data), min_code, w * h), dtype=np.intp
            ).reshape(h, w)
            if interlaced:
                order = np.concatenate(
                    [
                        np.arange(0, h, 8),
                        np.arange(4, h, 8),
                        np.arange(2, h, 4),
                        np.arange(1, h, 2),
                    ]
                )
                out = np.empty_like(idx)
                out[order] = idx
                idx = out
            # clip frames that overhang the logical screen
            w_c, h_c = min(w, sw - left), min(h, sh - top)
            idx = idx[:h_c, :w_c]
            saved = canvas.copy() if disposal == 3 else None
            rect = canvas[top : top + h_c, left : left + w_c]
            colors = table[idx]
            if tidx is not None:
                mask = idx != tidx
                rect[mask] = colors[mask]
            else:
                rect[:] = colors
            yield findex, canvas.copy()
            findex += 1
            if disposal == 2:
                canvas[top : top + h_c, left : left + w_c] = bg_rgb
            elif disposal == 3 and saved is not None:
                canvas = saved
            disposal, tidx = 0, None  # GCE applies to ONE image
        elif b0 == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b0:02x}")
    if findex == 0:
        raise ValueError("GIF has no image frame")
