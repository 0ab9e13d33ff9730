"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

North-star requirement (no reference analog): a 100 TB training-data
pipeline carries media as ``binary`` columns with a typed metadata
struct. The Spark-side plumbing here — schemas, magic-byte sniffing,
Arrow batch shapes, partition sizing — is real and tested, and so is
IMAGE decode: ``decode_image(use_fake=False)`` runs the pure
stdlib/numpy PNG/BMP/PPM decoders in ``functions/imagecodec.py`` (no
PIL needed; PIL is an optional fallback for JPEG etc.). The
deterministic md5 fake remains the zero-cost plumbing/oracle path.
VIDEO frame sampling is container-real for MJPEG-style AVI
(``functions/videocodec.py`` walks the RIFF ``movi`` chunks — frame
BYTES are the contract, no codec needed); inter-coded formats
(mp4/h264) still need ffmpeg and surface via ``on_error``.

Scale notes:
- metadata sniffing is a narrow native projection over the first bytes
  (no UDF, no full-blob scan — parquet stores blobs contiguously and the
  projection reads only what it needs);
- every blob operator (decode, hash, extract, probe, sample, EXIF)
  crosses into Python through the one Arrow pass ``_blob_pass``: one
  ``mapInPandas`` per call, so each Arrow batch amortizes the crossing,
  and one error net for ``on_error``; blobs never pass through the
  driver. An operator only names its output columns and a per-blob
  function returning that blob's rows;
- ``media_repartition`` sizes partitions by *bytes*, not rows — blob
  tables skew by size, so row-count partitioning would OOM executors.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as SQLT

from ..table import Table

#: canonical metadata struct for media blobs
MEDIA_META_SCHEMA = SQLT.StructType(
    [
        SQLT.StructField("format", SQLT.StringType()),
        SQLT.StructField("n_bytes", SQLT.LongType()),
        SQLT.StructField("content_hash", SQLT.StringType()),
    ]
)

def sniff_media(table: Table, bin_col: str, out_col: str = "media_meta") -> Table:
    """Attach the typed metadata struct — pure native projection.

    Format comes from magic bytes (hex-compare on the first 12 bytes),
    size from ``length``, identity from md5 — no UDF anywhere.
    Container families resolve to their subtype the way file sniffers
    do: RIFF splits into wav / avi / webp by the type field at bytes
    9-12, ISO-BMFF (mp4/mov/...) is recognized by ``ftyp`` at bytes
    5-8 (box size varies, so a fixed-prefix match would miss most real
    files). ``bmp``'s two-byte magic is looser than the others — fine
    for media buckets, not for sniffing arbitrary text.
    """
    meta = _sniff_meta_expr(bin_col)
    out = table._require_df().withColumn(out_col, meta)
    return table._derive(out)


@lru_cache(maxsize=64)
def _sniff_meta_expr(bin_col: str):
    """``sniff_media``'s metadata struct, built once per column name:
    the ~25-branch magic-byte when-chain is input-independent (names
    and literals only, Column trees are immutable and compose into any
    plan), and building it cost ~0.15 s of py4j round trips per call —
    the same memoization the minhash banding / text-quality expression
    trees use."""
    hx = F.upper(F.hex(F.substring(F.col(bin_col), 1, 12)))
    riff = hx.startswith("52494646")
    sub = F.substring(hx, 17, 8)  # RIFF type field, bytes 9-12
    fmt = (
        F.when(hx.startswith("89504E47"), F.lit("png"))
        .when(hx.startswith("FFD8FF"), F.lit("jpeg"))
        .when(hx.startswith("47494638"), F.lit("gif"))
        .when(hx.startswith("25504446"), F.lit("pdf"))
        .when(riff & (sub == F.lit("57415645")), F.lit("wav"))
        .when(riff & (sub == F.lit("41564920")), F.lit("avi"))
        .when(riff & (sub == F.lit("57454250")), F.lit("webp"))
        .when(riff, F.lit("riff"))
        .when(
            hx.startswith("464F524D")
            & F.substring(hx, 17, 6).isin("414946", "414943"),  # AIF F/C
            F.lit("aiff"),
        )
        .when(hx.startswith("664C6143"), F.lit("flac"))
        .when(F.substring(hx, 9, 8) == F.lit("66747970"), F.lit("mp4"))
        .when(hx.startswith("49492A00") | hx.startswith("4D4D002A"), F.lit("tiff"))
        .when(hx.startswith("4F676753"), F.lit("ogg"))  # OggS
        .when(hx.startswith("1A45DFA3"), F.lit("mkv"))  # EBML
        .when(hx.startswith("494433"), F.lit("mp3"))  # ID3v2
        .when(
            # bare MPEG frame sync: 11-bit sync AND valid version/layer
            # bits (second byte E2-E7 / F2-F7 / FA-FF — reserved MPEG
            # version 01 and layer 00 excluded, so arbitrary FF Ex
            # binaries no longer type as mp3; round-13 ADVICE fix)
            (F.substring(hx, 1, 2) == F.lit("FF"))
            & F.substring(hx, 3, 2).isin(
                "E2", "E3", "E4", "E5", "E6", "E7",
                "F2", "F3", "F4", "F5", "F6", "F7",
                "FA", "FB", "FC", "FD", "FE", "FF",
            ),
            F.lit("mp3"),
        )
        .when(hx.startswith("424D"), F.lit("bmp"))
        # document containers (round 13): typed at the CONTAINER level
        # natively — zip subtype resolution (docx/xlsx/epub/...) needs
        # member inspection, which extract_text's sniff does per blob
        .when(hx.startswith("7B5C727466"), F.lit("rtf"))  # {\rtf
        .when(hx.startswith("504B0304"), F.lit("zip"))
        .when(hx.startswith("D0CF11E0"), F.lit("ole"))
        # single-stream compression wrappers (round 14): typed at the
        # container level; extract_text unwraps them transparently
        .when(hx.startswith("1F8B"), F.lit("gzip"))
        .when(hx.startswith("425A68"), F.lit("bzip2"))
        .when(hx.startswith("FD377A585A00"), F.lit("xz"))
        .otherwise(F.lit("unknown"))
    )
    return F.struct(
        fmt.alias("format"),
        F.length(F.col(bin_col)).cast("long").alias("n_bytes"),
        F.md5(F.col(bin_col)).alias("content_hash"),
    )


def media_repartition(df: DataFrame, bin_col: str, target_bytes: int = 128 << 20) -> DataFrame:
    """Repartition a blob table by cumulative byte size, not row count.

    At 100 TB, row-count partitioning puts arbitrarily many blobs in one
    task; sizing by bytes keeps every task under ``target_bytes`` of
    payload.
    """
    sized = df.withColumn("__sz__", F.length(F.col(bin_col)).cast("long"))
    total = sized.agg(F.sum("__sz__")).collect()[0][0] or 1
    n_parts = max(1, int(total // target_bytes) + 1)
    return sized.repartition(n_parts).drop("__sz__")


def _bounded_blob_input(df: DataFrame, max_rows: int = 256) -> DataFrame:
    """Bound the JVM→Python Arrow feed batch for fat-row (blob) inputs
    WITHOUT touching session configuration.

    Blob rows are FAT, and get_spark pins ``maxBytesPerBatch`` to
    Int.MaxValue (the Spark 4.1 per-row-sizing fix — see session.py),
    so the only conf bounding a feed batch is ``maxRecordsPerBatch``
    — and the 10k default times multi-MB blobs is a multi-GB batch.
    Round 7 lowered that conf session-wide, which leaked: every later
    Arrow pass in the session ran at 40× smaller batches (11.9×
    slowdown on the driver's fixed calibration job, BENCH_r07). The
    structural fix is to bound the PARTITION instead: an Arrow feed
    batch never spans partitions, so repartitioning the blob input to
    ``ceil(n / max_rows)`` partitions caps every batch at ~``max_rows``
    fat rows (256 × 5 MB ≈ 1.3 GB worst case) while leaving the
    session's batching untouched for every other operator.

    Cost: one EAGER per-partition row-count probe at operator-
    construction time (column-pruned — blobs are not read; the scan
    feeds ``spark_partition_id`` with zero data columns, and the
    combine is map-side so the exchange carries one row per
    partition). The round-robin shuffle of the blob payload is
    SKIPPED whenever every input partition ALREADY holds at most
    ``max_rows`` rows — measured, not inferred from the partition
    COUNT, because a skewed input (many partitions, rows concentrated
    in a few) has enough partitions yet unbounded fat-row batches.
    At corpus scale, land blob tables at ≤``max_rows`` rows per file
    (or bound split size with ``spark.sql.files.maxPartitionBytes`` at
    read time) and decode calls touch each blob exactly once with no
    exchange. An explicit repartition is never elided by AQE, so
    skipping it here is the only way to avoid it.
    """
    probe = (
        df.select(F.spark_partition_id().alias("__pid__"))
        .groupBy("__pid__")
        .agg(F.count(F.lit(1)).alias("__c__"))
        .agg(F.sum("__c__").alias("n"), F.max("__c__").alias("mx"))
        .collect()[0]
    )
    n, mx = probe["n"] or 0, probe["mx"] or 0
    if mx <= max_rows:
        return df
    return df.repartition(max(1, -(-n // max_rows)))


def _check_on_error(on_error: str) -> None:
    if on_error not in ("raise", "null"):
        raise ValueError(f"on_error must be raise|null, got {on_error!r}")


def _blob_pass(
    table: Table,
    bin_col: str,
    id_col: str,
    cols: dict[str, str],
    blob_rows,
    suffix: str,
    on_error: str = "raise",
    null_row: tuple | None = None,
) -> Table:
    """The one Arrow pass of every blob operator in this module.

    ``blob_rows(blob)`` returns (or yields) the rows of one blob: tuples
    of the ``cols`` values (``name -> DDL type``), without the id. The
    pass prefixes each row with the blob's id and emits ``(id_col,
    *cols)`` rows into ``<table>_<suffix>``.

    Errors: a blob that raises one of the corrupt-blob family
    (``imagecodec.CORRUPT_ERRORS`` or ``OSError``) fails the task under
    ``on_error="raise"``; under ``"null"`` it gives one ``null_row``
    (all NULL by default) after any rows it yielded before raising.

    ``run`` is a closure that names no module-level helper, so
    cloudpickle ships it by value; with a ``blob_rows`` that imports
    nothing from this package (the fake paths), the pass runs on
    workers that cannot import ``littletable_spark``.

    Construction runs ``_bounded_blob_input``'s eager column-pruned
    count job.
    """
    _check_on_error(on_error)
    from ..functions.imagecodec import CORRUPT_ERRORS

    errors = (*CORRUPT_ERRORS, OSError)
    names = [id_col, *cols]
    null = (None,) * len(cols) if null_row is None else null_row
    id_type = dict(table._require_df().dtypes)[id_col]
    types = [id_type, *cols.values()]
    schema = ", ".join(f"{c} {t}" for c, t in zip(names, types))
    # pandas turns an integer column holding a None into float64, which
    # rounds a 64-bit hash; these columns go out as Python ints instead
    exact = [
        k for k, t in enumerate(types)
        if t in ("tinyint", "smallint", "int", "bigint", "long")
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _id, b in zip(pdf[id_col], pdf[bin_col]):
                try:
                    for row in blob_rows(bytes(b or b"")):
                        rows.append((_id, *row))
                except errors:
                    if on_error == "raise":
                        raise
                    rows.append((_id, *null))
            if rows:
                pdf_out = pd.DataFrame(rows, columns=names)
                for k in exact:
                    pdf_out[names[k]] = pd.Series(
                        [r[k] for r in rows], dtype=object
                    )
                yield pdf_out

    inp = _bounded_blob_input(table.df.select(id_col, bin_col))
    out = inp.mapInPandas(run, schema)
    return Table.from_df(out, name=f"{table.table_name}_{suffix}")


def decode_image(
    table: Table,
    bin_col: str,
    id_col: str,
    width: int = 8,
    height: int = 8,
    use_fake: bool = True,
    on_error: str = "raise",
) -> Table:
    """Decode + resize to a fixed grid of floats via mapInPandas.

    ``use_fake=True`` produces a deterministic md5-seeded grid
    (column-major, the oracle-checked contract) so the full pipeline
    (schema, batching, downstream features) is exercised with zero
    codec cost; ``use_fake=False`` is a REAL decode — the pure
    stdlib/numpy PNG/JPEG(baseline+progressive)/BMP/PPM/GIF decoders
    in ``functions/imagecodec.py`` (luma conversion + nearest-neighbor
    resize, row-major), with PIL as an optional fallback for variants
    they don't cover (arithmetic-coded JPEG, exotic color modes). The real
    path imports the package on the executors — ship it like any
    library (``--py-files`` / cluster install).

    ``on_error`` (real path only): ``"raise"`` fails the task on an
    undecodable blob; ``"null"`` emits NULL pixels for that row so a
    crawl with a few corrupt images doesn't kill a corpus-scale job —
    count the NULLs downstream for the audit trail.

    NOTE: constructing this operator runs one eager column-pruned
    count job to bound the Arrow feed partitions (no shuffle if the
    input is already landed at ≤256 rows/partition) — see
    ``_bounded_blob_input``.
    """
    if use_fake:
        # local def, not a module-level helper: the fake pass stays
        # self-contained so cloudpickle ships it by value even to
        # workers that don't have this package on sys.path
        def blob_rows(blob: bytes) -> list[tuple]:
            import hashlib

            h = hashlib.md5(blob).digest()
            pixels = [
                h[(x * 31 + y) % 16] / 255.0
                for x in range(width)
                for y in range(height)
            ]
            return [(pixels, width, height)]

    else:
        from ..functions.imagecodec import decode_to_gray

        def blob_rows(blob: bytes) -> list[tuple]:
            pixels = decode_to_gray(blob, width, height).ravel().tolist()
            return [(pixels, width, height)]

    cols = {"pixels": "array<double>", "width": "int", "height": "int"}
    return _blob_pass(
        table, bin_col, id_col, cols, blob_rows, "decoded", on_error,
        null_row=(None, width, height),
    )


def decode_audio(
    table: Table,
    bin_col: str,
    id_col: str,
    n_points: int = 64,
    use_fake: bool = False,
    on_error: str = "raise",
) -> Table:
    """Decode WAV/FLAC audio blobs to per-row features + a fixed-size
    waveform thumbnail via mapInPandas — the audio analogue of
    ``decode_image``. The real path is the pure stdlib/numpy RIFF/PCM
    + FLAC (RFC 9639) decoders in ``functions/audiocodec.py`` (no
    audio library needed; container routed by magic bytes);
    compressed codecs route by magic: MP3 blobs yield a
    METADATA-ONLY row (sample_rate, n_channels, n_frames, duration —
    exact via Xing/Info/VBRI frame counts, else the CBR estimate —
    with NULL rms/peak/zcr/waveform; header parse per ISO 11172-3,
    no audio decoded), which is what corpus curation needs from
    lossy audio; AAC/Opus would need ffmpeg and raise through
    ``on_error``. ``use_fake=True`` emits a deterministic md5-seeded
    feature row (the zero-cost plumbing/oracle path, like the image
    fake). ``on_error="null"`` NULLs the features for undecodable
    blobs instead of failing the job.

    NOTE: construction runs one eager column-pruned count job to bound
    the Arrow feed partitions (no shuffle if the input is already
    landed at ≤256 rows/partition) — see ``_bounded_blob_input``."""
    if use_fake:
        def blob_rows(blob: bytes) -> list[tuple]:
            import hashlib

            h = hashlib.md5(blob).digest()
            return [(
                16000, 1, h[0], h[1] / 255.0, h[2] / 255.0, h[3] / 255.0,
                h[4] / 255.0, [h[(i * 7) % 16] / 255.0 for i in range(n_points)],
            )]

    else:
        from ..functions.audiocodec import mp3_info, sniff_mp3, wav_features

        def blob_rows(blob: bytes) -> list[tuple]:
            if sniff_mp3(blob):
                m = mp3_info(blob)
                return [(
                    m["sample_rate"], m["n_channels"],
                    int(round(m["duration"] * m["sample_rate"])),
                    m["duration"], None, None, None, None,
                )]
            f = wav_features(blob, n_points=n_points)
            return [(
                f["sample_rate"], f["n_channels"], f["n_frames"],
                f["duration"], f["rms"], f["peak"], f["zcr"], f["waveform"],
            )]

    cols = {
        "sample_rate": "int", "n_channels": "int", "n_frames": "long",
        "duration": "double", "rms": "double", "peak": "double",
        "zcr": "double", "waveform": "array<double>",
    }
    return _blob_pass(
        table, bin_col, id_col, cols, blob_rows, "audio", on_error
    )


def audio_tags(table: Table, bin_col: str, id_col: str) -> Table:
    """Audio tag metadata per blob: ``(id, title, artist, album,
    year, genre)`` — MP3 ID3v2.2/2.3/2.4 text frames (all four text
    encodings, numeric genre references resolved) with the trailing
    ID3v1 block as fallback (``functions/audiocodec.py:mp3_tags``,
    round 13), plus (round 14) the VorbisComment family for Ogg
    Vorbis/Opus/FLAC (``functions/oggcodec.py``), native FLAC
    (``audiocodec.flac_info``), the iTunes-style ``ilst`` atoms
    for M4A/MP4 (``functions/mp4codec.py``), and the Matroska/WebM
    segment title (``functions/mkvcodec.py``). Untagged-format and
    non-audio blobs yield an all-NULL row rather than failing: tags
    are optional curation metadata, not a decode contract, so there
    is no ``on_error`` knob to misconfigure.

    NOTE: construction runs one eager column-pruned count job to bound
    the Arrow feed partitions — see ``_bounded_blob_input``."""
    from ..functions.audiocodec import (
        aiff_info,
        flac_info,
        mp3_tags,
        sniff_mp3,
        wav_info,
    )
    from ..functions.mkvcodec import mkv_info, sniff_mkv
    from ..functions.mp4codec import mp4_info, sniff_mp4
    from ..functions.oggcodec import ogg_info, sniff_ogg

    cols = dict.fromkeys(("title", "artist", "album", "year", "genre"), "string")

    def blob_rows(blob: bytes) -> list[tuple]:
        t: dict = {}
        # container magics BEFORE the mp3 frame-sync scan: Vorbis id
        # headers carry FF FF FF FF bitrate fields that satisfy MPEG sync
        if sniff_ogg(blob):
            t = ogg_info(blob)
        elif sniff_mp4(blob):
            t = mp4_info(blob)
        elif sniff_mkv(blob):
            t = mkv_info(blob)
        elif blob[:4] == b"fLaC":
            t = flac_info(blob)
        elif blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
            t = wav_info(blob)
        elif blob[:4] == b"FORM" and blob[8:12] in (b"AIFF", b"AIFC"):
            t = aiff_info(blob)
        elif sniff_mp3(blob):
            t = mp3_tags(blob)
        return [tuple(t.get(k) for k in cols)]

    # tags are optional: a corrupt tag block gives an all-NULL row
    return _blob_pass(
        table, bin_col, id_col, cols, blob_rows, "audio_tags", "null"
    )


def media_info(
    table: Table, bin_col: str, id_col: str, on_error: str = "raise"
) -> Table:
    """One typed curation row per media blob — the deep-metadata
    complement to ``sniff_media``'s native magic-byte sniff:
    ``(id, media_format, duration_s, width, height, codec,
    audio_codec, channels, sample_rate, n_tracks, title, artist,
    album, year, genre)``.

    Containers routed by content sniff, all header-only walks (no
    frame/sample decode — per-blob cost is proportional to box/page/
    chunk count, not media bytes):

    - ISO-BMFF mp4/m4a/mov via ``functions/mp4codec.py`` (ftyp brand,
      mvhd duration, tkhd dims, stsd codec fourccs, ilst tags);
    - Matroska/WebM via ``functions/mkvcodec.py`` (EBML walk: Info
      duration/timescale/title, TrackEntry codecs/dims/audio params —
      Cluster payloads skipped by size);
    - Ogg vorbis/opus/flac/theora via ``functions/oggcodec.py``
      (id-header rates/channels, final-granule duration,
      VorbisComment tags);
    - RIFF/WAVE via ``audiocodec.wav_info`` (fmt chunk + data size);
    - AIFF/AIFF-C via ``audiocodec.aiff_info`` (COMM chunk incl. the
      80-bit extended sample rate);
    - native FLAC via ``audiocodec.flac_info`` (STREAMINFO +
      VORBIS_COMMENT, no frame decode);
    - MP3 via ``audiocodec.mp3_info`` + ``mp3_tags`` (Xing/CBR
      duration, ID3v1/v2 tags);
    - RIFF/AVI via ``videocodec.avi_info`` (avih dims/frames, strh
      vids fourcc).

    Non-media blobs yield an all-NULL row under ``on_error="null"``
    (the corpus-audit shape); ``"raise"`` propagates, for pipelines
    that pre-filter on ``sniff_media``.

    NOTE: construction runs one eager column-pruned count job to bound
    the Arrow feed partitions — see ``_bounded_blob_input``.
    """
    from ..functions.audiocodec import (
        aiff_info,
        flac_info,
        mp3_info,
        mp3_tags,
        sniff_mp3,
        wav_info,
    )
    from ..functions.mkvcodec import mkv_info, sniff_mkv
    from ..functions.mp4codec import mp4_info, sniff_mp4
    from ..functions.oggcodec import ogg_info, sniff_ogg
    from ..functions.videocodec import avi_info

    cols = {
        "media_format": "string", "duration_s": "double", "width": "int",
        "height": "int", "codec": "string", "audio_codec": "string",
        "channels": "int", "sample_rate": "int", "n_tracks": "int",
        "title": "string", "artist": "string", "album": "string",
        "year": "string", "genre": "string",
    }

    def probe(blob: bytes) -> dict:
        if sniff_mp4(blob):
            return mp4_info(blob)
        if sniff_mkv(blob):
            return mkv_info(blob)
        if sniff_ogg(blob):
            return ogg_info(blob)
        if blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
            return {"format": "wav", "n_tracks": 1, **wav_info(blob)}
        if blob[:4] == b"FORM" and blob[8:12] in (b"AIFF", b"AIFC"):
            return {"format": "aiff", "n_tracks": 1, **aiff_info(blob)}
        if blob[:4] == b"RIFF" and blob[8:12] == b"AVI ":
            got = avi_info(blob)
            return {"format": "avi", "codec": got.get("codec"), **got}
        if blob[:4] == b"fLaC":
            return {"format": "flac", "n_tracks": 1, **flac_info(blob)}
        if sniff_mp3(blob):
            got = mp3_info(blob)
            return {
                "format": "mp3",
                "codec": "mp3",
                "duration_s": got["duration"],
                "channels": got["n_channels"],
                "sample_rate": got["sample_rate"],
                "n_tracks": 1,
                **mp3_tags(blob),
            }
        raise ValueError("media_info: unrecognized container")

    def blob_rows(blob: bytes) -> list[tuple]:
        got = probe(blob)
        # audio-only containers report their codec in the unified
        # audio_codec column
        if "audio_codec" not in got and got.get("codec") and (
            got["format"] in ("wav", "aiff", "flac", "mp3")
        ):
            got["audio_codec"] = got.pop("codec")
        got["media_format"] = got.pop("format")
        return [tuple(got.get(c) for c in cols)]

    return _blob_pass(
        table, bin_col, id_col, cols, blob_rows, "media_info", on_error
    )


def image_hash(
    table: Table,
    bin_col: str,
    id_col: str,
    use_fake: bool = True,
    on_error: str = "raise",
) -> Table:
    """Perceptual 64-bit image hash per blob: ``(id, img_hash long)``.

    Real path (``use_fake=False``): dHash (public difference-hash
    scheme) — decode to a 9×8 luma grid via the builtin codecs
    (PNG/JPEG/BMP/PPM/GIF), set bit ``r*8+c`` when ``g[r,c] >
    g[r,c+1]``. Gradient-based, so it is invariant to uniform
    brightness shifts and to the container format (the same pixels
    hash identically from a PNG and a BMP), and near-duplicate images
    (recompression, small edits) land within a few bits. Feed the
    result (or ``image_dup_pairs``) into the dedup machinery exactly
    like text SimHash.

    Fake path (``use_fake=True``, the oracle-checked plumbing
    contract like ``decode_image``): a 60-bit integer from the blob's
    md5 — fully JVM-native (no Python at all) and SQL-expressible, so
    the hash+blocking+Hamming pipeline is driver-gateable end-to-end.

    NOTE (real path): construction runs one eager column-pruned count
    job to bound the Arrow feed partitions — see
    ``_bounded_blob_input``. The fake path is a pure projection.
    """
    if use_fake:
        _check_on_error(on_error)
        # 15 hex chars = 60 bits: always positive in a signed long in
        # BOTH engines (DuckDB's ::BIGINT has no unsigned escape hatch)
        h = F.conv(
            F.substring(F.md5(F.lower(F.hex(F.col(bin_col)))), 1, 15), 16, 10
        ).cast("long")
        out = table._require_df().select(
            F.col(id_col), h.alias("img_hash")
        )
        return Table.from_df(out, name=f"{table.table_name}_imghash")

    from ..functions.imagecodec import decode_to_gray

    def blob_rows(blob: bytes) -> list[tuple]:
        g = decode_to_gray(blob, 9, 8)  # (8, 9)
        bits = (g[:, :-1] > g[:, 1:]).ravel()
        h = 0
        for i, bit in enumerate(bits):
            if bit:
                h |= 1 << i
        if h >= 1 << 63:  # two's-complement into a long
            h -= 1 << 64
        return [(h,)]

    return _blob_pass(
        table, bin_col, id_col, {"img_hash": "long"}, blob_rows, "imghash",
        on_error,
    )


def _extract_document(
    blob: bytes, html_main_content: bool = False
) -> tuple[str, str, str, str | None]:
    """One blob → ``(doc_format, title, text, encoding)`` — the
    shared per-document core behind ``extract_text`` (one row per
    blob) and ``extract_archive_text`` (one row per archive member).
    Raises into the caller's ``on_error`` net for unextractable
    input; see ``extract_text``'s docstring for the routing table."""
    from ..functions.compress import maybe_decompress
    from ..functions.doccodec import extract_ole_text
    from ..functions.htmlcodec import extract_html_text, looks_like_html
    from ..functions.officecodec import extract_office_text
    from ..functions.pdfcodec import extract_pdf_doc
    from ..functions.rtfcodec import extract_rtf_text
    from ..functions.subcodec import (
        extract_srt_text,
        extract_vtt_text,
        looks_like_srt,
        looks_like_vtt,
    )
    from ..functions.textenc import decode_text_blob

    # transparent gzip/bzip2/xz unwrap (round 14): crawls store
    # .html.gz/.txt.xz at the blob level; bomb-capped, ≤3 layers,
    # corrupt -> on_error
    blob, _ = maybe_decompress(blob)
    if blob.startswith(b"%PDF-"):
        got = extract_pdf_doc(blob)
        return "pdf", got["title"], got["text"], None
    if blob.startswith(b"PK\x03\x04"):
        kind, text, title = extract_office_text(blob)
        return kind, title, text, None
    if blob.startswith(b"{\\rtf"):
        return "rtf", "", extract_rtf_text(blob), None
    if blob.startswith(b"\xd0\xcf\x11\xe0"):
        kind, text, title = extract_ole_text(blob)
        return kind, title, text, None
    if looks_like_html(blob):
        got = extract_html_text(blob, main_content=html_main_content)
        return "html", got["title"], got["text"], None
    # bare text: BOM → UTF-8 strict → detected 8-bit/multi-byte →
    # latin-1; binary junk raises. Subtitle formats (round 14) ride
    # the same ladder, then shed cue indices, timing lines, markup.
    text, enc = decode_text_blob(blob)
    if looks_like_vtt(text):
        return "vtt", "", extract_vtt_text(text), enc
    if looks_like_srt(text):
        return "srt", "", extract_srt_text(text), enc
    if text.lstrip().startswith("<?xml"):
        # generic XML: keep text nodes, shed markup; malformed XML
        # degrades to raw text rather than NULLing a decodable blob
        import xml.etree.ElementTree as _ET

        try:
            root = _ET.fromstring(text)
        except _ET.ParseError:
            return "text", "", text, enc
        body = "\n".join(
            s.strip() for s in root.itertext() if s.strip()
        )
        return "xml", "", body, enc
    return "text", "", text, enc


def extract_text(
    table: Table,
    bin_col: str,
    id_col: str,
    on_error: str = "raise",
    html_main_content: bool = False,
) -> Table:
    """Extract document text from binary blobs: ``(id, doc_format
    string, title string, text string, n_chars int)`` — the ingestion
    step that turns a crawled/scanned blob corpus into rows the text
    operators (quality, dedup, tokenize, pack) consume.

    Compressed blobs (gzip / bzip2 / xz — crawls store ``.html.gz``
    and friends at the blob level) unwrap transparently first
    (round 14, ``functions/compress.py``: incremental decompression
    with a 128 MiB output cap so a zip bomb raises instead of
    OOMing an executor, nesting bounded at 3 layers), then the
    payload routes like any other blob.

    Formats, routed by content sniff:
    - PDF (``%PDF-``) via the pure-stdlib extractor in
      ``functions/pdfcodec.py`` (FlateDecode streams, BT/ET text
      operators, Latin-1 + UTF-16BE strings — the subset generated
      PDFs use; encrypted/CID-only files surface through
      ``on_error``);
    - HTML via ``functions/htmlcodec.py`` (charset-aware decode, tag
      stripping, block newlines, entity decoding; ``title`` captured;
      ``html_main_content=True`` additionally drops
      link-dense/short boilerplate blocks — the readability
      heuristic);
    - DOCX / ODT / XLSX / PPTX (``PK`` magic + member sniff) via the
      pure-stdlib zipfile+XML extractors in
      ``functions/officecodec.py`` (paragraphs, tables,
      headers/footers, shared-string/inline spreadsheet cells, slide
      paragraphs; tab/break/run-length-space whitespace semantics;
      corrupt or locked archives and non-document zips surface
      through ``on_error``);
    - RTF (``{\\rtf`` magic) via ``functions/rtfcodec.py`` (control-
      word walk, destination groups skipped, code-page + \\uN
      escapes, \\par/\\tab whitespace semantics);
    - legacy .doc / .xls / .ppt (OLE2 magic) via
      ``functions/doccodec.py`` (MS-CFB compound file + the MS-DOC
      piece table, the BIFF8 Workbook records, or the MS-PPT
      TextCharsAtom/TextBytesAtom record walk: compressed/UTF-16
      pieces, SST shared strings with CONTINUE spillover,
      LABELSST/NUMBER/RK/BOOLERR cells, slide buckets form-feed
      separated; other OLE hosts — msi, msg — raise through
      ``on_error``);
    - everything else: bare text through the charset decode ladder
      (``functions/textenc.py``: BOM sniff → UTF-8 strict → detected
      shift-jis/euc-kr/euc-jp/cp1251/gbk/cp1252 → latin-1
      fallback), the chosen codec
      recorded in the ``encoding`` column; binary junk (NULs,
      control-heavy) raises instead of mis-decoding. SRT / WebVTT
      subtitles (round 14, ``functions/subcodec.py``) are sniffed
      AFTER the ladder and shed cue indices, ``-->`` timing lines,
      NOTE/STYLE/REGION blocks, and voice/markup tags, so subtitle
      corpora land as clean dialog text (``doc_format`` srt/vtt).
      Generic XML (``<?xml`` prolog, not XHTML — that routes to the
      HTML codec earlier) keeps its text nodes newline-joined and
      sheds markup (``doc_format`` xml); malformed XML degrades to
      raw text.

    Titles: populated for HTML (``<title>``), PDF (/Info /Title),
    OOXML/ODF/EPUB (docProps/core.xml, meta.xml, OPF ``dc:title``),
    and OLE (SummaryInformation PIDSI_TITLE); "" when absent.

    ``on_error="null"`` NULLs the text for unextractable blobs so one
    bad file never kills a corpus job — count the NULLs downstream for
    the audit trail.

    NOTE: construction runs one eager column-pruned count job to bound
    the Arrow feed partitions — see ``_bounded_blob_input``.
    """
    cols = {
        "doc_format": "string", "title": "string", "text": "string",
        "n_chars": "int", "encoding": "string",
    }

    def blob_rows(blob: bytes) -> list[tuple]:
        fmt, title, text, enc = _extract_document(blob, html_main_content)
        return [(fmt, title, text, len(text), enc)]

    return _blob_pass(table, bin_col, id_col, cols, blob_rows, "text", on_error)


def extract_archive_text(
    table: Table,
    bin_col: str,
    id_col: str,
    on_error: str = "raise",
    html_main_content: bool = False,
    max_members: int = 10_000,
    member_cap: int = 128 << 20,
) -> Table:
    """Extract document text from MULTI-MEMBER archive blobs — one
    output row per member: ``(id, member, doc_format, title, text,
    n_chars, encoding)``. The archive analogue of ``extract_text``
    (crawled corpora carry source tarballs and zipped document sets
    as single blobs), with ``frame_sample``'s one-blob-in /
    many-rows-out Spark shape.

    Containers: zip (``PK``) and tar — plain or behind the
    gzip/bzip2/xz unwrap (``functions/compress.py``), so ``.tar.gz``
    works. Each member routes through the SAME per-document core as
    ``extract_text`` (``_extract_document``), compressed members
    included (a ``.txt.gz`` inside a tar unwraps again).

    Safety at corpus scale: members stop at ``max_members`` per
    archive; a member whose DECLARED size exceeds ``member_cap``
    becomes an on_error row without being read (the zip-bomb shape —
    central-directory sizes lie cheap, materializing them doesn't);
    directory entries and empty members are skipped.

    ``on_error="null"`` emits per-MEMBER null rows (the member name
    is kept for the audit trail); a blob that is not an archive at
    all yields one null row with a NULL member. ``"raise"``
    propagates.

    NOTE: construction runs one eager column-pruned count job to bound
    the Arrow feed partitions — see ``_bounded_blob_input``.
    """
    import io
    import tarfile
    import zipfile

    from ..functions.compress import maybe_decompress
    from ..functions.imagecodec import CORRUPT_ERRORS

    cols = {
        "member": "string", "doc_format": "string", "title": "string",
        "text": "string", "n_chars": "int", "encoding": "string",
    }

    def members(blob: bytes):
        """Yield (name, payload_bytes_or_None_when_capped)."""
        if blob.startswith(b"PK\x03\x04"):
            try:
                with zipfile.ZipFile(io.BytesIO(blob)) as zf:
                    for zi in zf.infolist()[:max_members]:
                        if zi.is_dir() or zi.file_size == 0:
                            continue
                        if zi.file_size > member_cap:
                            yield zi.filename, None
                        else:
                            yield zi.filename, zf.read(zi)
            except zipfile.BadZipFile as exc:
                raise ValueError(f"corrupt zip: {exc}") from exc
            return
        try:
            tf = tarfile.open(fileobj=io.BytesIO(blob), mode="r:")
        except tarfile.TarError as exc:
            raise ValueError(f"not a zip/tar archive: {exc}") from exc
        with tf:
            count = 0
            for ti in tf:
                if count >= max_members:
                    break
                if not ti.isfile() or ti.size == 0:
                    continue
                count += 1
                if ti.size > member_cap:
                    yield ti.name, None
                else:
                    f = tf.extractfile(ti)
                    yield ti.name, f.read() if f else b""

    def blob_rows(blob: bytes):
        """One row per member; a member that fails (or is over the
        cap) gives a null row that keeps its name under "null"."""
        blob, _ = maybe_decompress(blob)  # .tar.gz et al.
        for name, payload in members(blob):
            try:
                if payload is None:  # declared size over cap
                    raise ValueError(f"member {name!r} exceeds {member_cap}")
                fmt, title, text, enc = _extract_document(
                    payload, html_main_content
                )
            except CORRUPT_ERRORS:
                if on_error == "raise":
                    raise
                yield (name, None, None, None, None, None)
                continue
            yield (name, fmt, title, text, len(text), enc)

    return _blob_pass(
        table, bin_col, id_col, cols, blob_rows, "archive_text", on_error
    )


def image_dup_pairs(
    table: Table,
    bin_col: str,
    id_col: str,
    max_hamming: int = 3,
    n_blocks: int = 4,
    bits: int = 64,
    use_fake: bool = True,
    on_error: str = "raise",
) -> Table:
    """Near-duplicate image pairs ``(id1, id2, hamming)`` by perceptual-
    hash Hamming distance ≤ ``max_hamming`` — the image analogue of
    ``simhash_dedup_pairs``, sharing its pigeonhole blocking
    (``hamming_hash_pairs``): one equi-join per block, exact
    ``bit_count(xor)`` filter, never a cross join. At crawl scale this
    is the standard recompressed/re-hosted image dedup pass."""
    from .dedup import hamming_hash_pairs

    hashes = image_hash(table, bin_col, id_col, use_fake, on_error)
    hdf = hashes.df.where(F.col("img_hash").isNotNull())
    pairs = hamming_hash_pairs(
        hdf, id_col, "img_hash", bits, max_hamming, n_blocks
    )
    return Table.from_df(pairs, name=f"{table.table_name}_imgdup_pairs")


def audio_hash(
    table: Table,
    bin_col: str,
    id_col: str,
    use_fake: bool = True,
    on_error: str = "raise",
) -> Table:
    """Perceptual 64-bit audio fingerprint per blob: ``(id, audio_hash
    long)`` — the audio analogue of ``image_hash``.

    Real path (``use_fake=False``): the spectral time-difference hash
    in ``functions/audiocodec.py:audio_fingerprint`` — decode (WAV or
    FLAC, routed by magic), mono-mix, 8 frequency bands × 9 time
    frames of rFFT energy, bit set where a band's energy rises frame
    to frame. Exactly invariant to uniform gain and to the container
    (the same samples hash identically from WAV and FLAC);
    re-encoded/lightly-noised audio lands within a few bits.

    Fake path (``use_fake=True``, the oracle-checked plumbing
    contract like ``image_hash``): a 60-bit integer from the blob's
    md5 with an ``aud:`` salt — fully JVM-native and SQL-expressible,
    so the hash+blocking+Hamming pipeline is driver-gateable.

    NOTE (real path): construction runs one eager column-pruned count
    job to bound the Arrow feed partitions — see
    ``_bounded_blob_input``. The fake path is a pure projection.
    """
    if use_fake:
        _check_on_error(on_error)
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit("aud:"), F.lower(F.hex(F.col(bin_col))))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        out = table._require_df().select(F.col(id_col), h.alias("audio_hash"))
        return Table.from_df(out, name=f"{table.table_name}_audiohash")

    from ..functions.audiocodec import audio_fingerprint

    def blob_rows(blob: bytes) -> list[tuple]:
        return [(audio_fingerprint(blob),)]

    return _blob_pass(
        table, bin_col, id_col, {"audio_hash": "long"}, blob_rows,
        "audiohash", on_error,
    )


def audio_dup_pairs(
    table: Table,
    bin_col: str,
    id_col: str,
    max_hamming: int = 3,
    n_blocks: int = 4,
    bits: int = 64,
    use_fake: bool = True,
    on_error: str = "raise",
) -> Table:
    """Near-duplicate audio pairs ``(id1, id2, hamming)`` by spectral-
    fingerprint Hamming distance ≤ ``max_hamming`` — completes the
    dedup matrix alongside text SimHash and image dHash, sharing the
    same pigeonhole blocking (``hamming_hash_pairs``): one equi-join
    per block, exact ``bit_count(xor)`` filter, never a cross join.
    At crawl scale this is the re-encoded/re-hosted audio dedup
    pass (same clip as WAV and FLAC, gain-normalized copies)."""
    from .dedup import hamming_hash_pairs

    hashes = audio_hash(table, bin_col, id_col, use_fake, on_error)
    hdf = hashes.df.where(F.col("audio_hash").isNotNull())
    pairs = hamming_hash_pairs(
        hdf, id_col, "audio_hash", bits, max_hamming, n_blocks
    )
    return Table.from_df(pairs, name=f"{table.table_name}_audiodup_pairs")


def exif_report(table: Table, bin_col: str, id_col: str) -> Table:
    """Per-blob EXIF/PII audit for JPEG images: ``(id, has_exif,
    orientation, make, model, exif_datetime, has_gps, gps_lat,
    gps_lon)``. GPS tags in crawled photos are precise-location PII —
    run this before redistribution, route the ``has_gps`` rows to
    ``scrub_image_metadata``. EXIF problems never fail the job (the
    parser reports what it can; non-JPEG blobs report
    ``has_exif=false``).

    NOTE: constructing this operator runs the eager column-pruned
    per-partition probe to bound the Arrow feed — see
    ``_bounded_blob_input``."""
    from ..functions.exifmeta import parse_exif

    cols = {
        "has_exif": "boolean", "orientation": "int", "make": "string",
        "model": "string", "exif_datetime": "string", "has_gps": "boolean",
        "gps_lat": "double", "gps_lon": "double",
    }

    def blob_rows(blob: bytes) -> list[tuple]:
        m = parse_exif(blob)
        return [(
            m["has_exif"], m["orientation"], m["make"], m["model"],
            m["datetime"], m["has_gps"], m["gps_lat"], m["gps_lon"],
        )]

    return _blob_pass(table, bin_col, id_col, cols, blob_rows, "exif")


def scrub_image_metadata(table: Table, bin_col: str, id_col: str) -> Table:
    """Redaction pass: the same JPEG blobs minus APP1 (Exif/XMP),
    APP13 (IPTC), and COM segments — decoded pixels byte-identical;
    non-JPEG blobs pass through unchanged. Output ``(id, <bin_col>)``
    with the scrubbed bytes under the ORIGINAL column name so the
    table can be written back in place.

    Caveat (documented): the orientation tag is metadata too — scrub
    AFTER any decode that should honor display orientation, or rotate
    pixels physically first."""
    from ..functions.exifmeta import strip_exif

    def blob_rows(blob: bytes) -> list[tuple]:
        return [(strip_exif(blob),)]

    return _blob_pass(
        table, bin_col, id_col, {bin_col: "binary"}, blob_rows, "scrubbed"
    )


def media_features(table: Table, id_col: str, pixels_col: str = "pixels") -> Table:
    """Feature extraction over decoded grids — native array aggregates."""
    px = F.col(pixels_col)
    out = table.df.select(
        F.col(id_col),
        F.aggregate(px, F.lit(0.0), lambda a, v: a + v).alias("psum"),
        F.array_min(px).alias("pmin"),
        F.array_max(px).alias("pmax"),
        F.size(px).alias("n_px"),
    ).withColumn("pmean", F.col("psum") / F.col("n_px"))
    return Table.from_df(out, name=f"{table.table_name}_features")


def frame_sample(
    table: Table,
    bin_col: str,
    id_col: str,
    n_frames: int = 4,
    use_fake: bool = True,
    on_error: str = "raise",
) -> Table:
    """Sample n frames per video blob — one output row per frame.

    The Spark shape — one blob row in, n frame rows out, each with a
    frame index and opaque frame BYTES — is the production contract.
    ``use_fake=True`` slices the blob into byte windows
    (deterministic plumbing/oracle path). ``use_fake=False`` is a REAL
    container walk for MJPEG-style AVI (``functions/videocodec.py``:
    pure-stdlib RIFF parse of the ``movi`` chunks, n evenly spaced
    ``##dc``/``##db`` payloads) — and MJPEG frame bytes ARE baseline
    JPEGs, which ``imagecodec`` now decodes natively, so the
    container walk + frame decode chain is real end-to-end (pinned by
    tests/test_jpegcodec.py). Intra-coded MP4/MOV routes to
    ``mp4codec.sample_mp4_frames`` (round 14: the stsc/stco/stsz
    sample-table walk resolves each MJPEG sample to its mdat bytes;
    inter-coded stsd fourccs raise into ``on_error`` like inter AVI
    always has). Animated GIFs route to
    ``sample_gif_frames``: frames are composited on the logical
    screen (placement, transparency, disposal methods) and emitted
    as P6 PPM bytes — also natively decodable downstream. Animated
    WebP routes to ``sample_webp_frames`` the same way (VP8X canvas,
    ANMF placement + dispose-to-background, VP8L/VP8 payloads).
    Inter-coded codecs (H.264 etc.) still
    need ffmpeg and surface through ``on_error`` (``"null"`` emits a
    single NULL-frame row per undecodable blob so corpus jobs keep
    going; count them downstream for the audit trail).

    NOTE: construction runs one eager column-pruned count job to bound
    the Arrow feed partitions (no shuffle if the input is already
    landed at ≤256 rows/partition) — see ``_bounded_blob_input``.
    """
    if use_fake:
        def blob_rows(blob: bytes) -> list[tuple]:
            step = max(len(blob) // n_frames, 1)
            return [
                (i, blob[i * step : i * step + step]) for i in range(n_frames)
            ]

    else:
        from ..functions.mp4codec import sample_mp4_frames
        from ..functions.videocodec import (
            sample_avi_frames,
            sample_gif_frames,
            sample_webp_frames,
        )

        def blob_rows(blob: bytes) -> list[tuple]:
            if blob[:6] in (b"GIF87a", b"GIF89a"):
                return sample_gif_frames(blob, n_frames)
            if blob[:4] == b"RIFF" and blob[8:12] == b"WEBP":
                return sample_webp_frames(blob, n_frames)
            if len(blob) >= 12 and blob[4:8] == b"ftyp":
                return sample_mp4_frames(blob, n_frames)
            return sample_avi_frames(blob, n_frames)

    cols = {"frame_idx": "int", "frame": "binary"}
    return _blob_pass(
        table, bin_col, id_col, cols, blob_rows, "frames", on_error
    )
