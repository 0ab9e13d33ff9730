"""Multimodal binary columns, type-conversion transforms, as-of join."""

import hashlib

import pytest
from pyspark.sql import functions as F

from littletable_spark import Table, csv_import


@pytest.fixture()
def blobs(spark):
    t = Table("media", spark=spark)
    png = b"\x89PNG\r\n\x1a\n" + b"fakepayload"
    jpg = b"\xff\xd8\xff\xe0" + b"other"
    t.insert_many(
        [
            {"id": 0, "blob": png},
            {"id": 1, "blob": jpg},
            {"id": 2, "blob": b"plain text bytes"},
            {"id": 3, "blob": b""},
        ]
    )
    return t


def test_sniff_media(blobs):
    from littletable_spark.operators.multimodal import sniff_media

    out = sniff_media(blobs, "blob")
    metas = {r.id: r.media_meta for r in out}
    assert metas[0]["format"] == "png"
    assert metas[1]["format"] == "jpeg"
    assert metas[2]["format"] == "unknown"
    assert metas[0]["n_bytes"] == 19
    assert metas[2]["content_hash"] == hashlib.md5(b"plain text bytes").hexdigest()


def test_sniff_media_container_subtypes(spark):
    """RIFF resolves to wav/avi/webp by the type field; ISO-BMFF is
    recognized by ftyp at bytes 5-8 regardless of the first box size."""
    from littletable_spark.operators.multimodal import sniff_media

    t = Table("m", spark=spark)
    t.insert_many(
        [
            {"id": 0, "blob": b"RIFF\x10\x00\x00\x00WAVEfmt "},
            {"id": 1, "blob": b"RIFF\x10\x00\x00\x00AVI LIST"},
            {"id": 2, "blob": b"RIFF\x10\x00\x00\x00WEBPVP8 "},
            {"id": 3, "blob": b"RIFF\x10\x00\x00\x00XXXXdata"},
            {"id": 4, "blob": b"\x00\x00\x00\x20ftypisom rest"},
            {"id": 5, "blob": b"\x00\x00\x01\x00ftypmp42 other size"},
            {"id": 6, "blob": b"BM\x36\x00\x00\x00 bmp-ish"},
        ]
    )
    metas = {r.id: r.media_meta["format"] for r in sniff_media(t, "blob")}
    assert metas == {
        0: "wav", 1: "avi", 2: "webp", 3: "riff", 4: "mp4", 5: "mp4", 6: "bmp",
    }


def test_decode_image_fake_deterministic(blobs):
    from littletable_spark.operators.multimodal import decode_image, media_features

    decoded = decode_image(blobs, "blob", "id", width=4, height=4)
    rows = {r.id: r for r in decoded}
    assert len(rows[0].pixels) == 16
    assert rows[0].width == 4 and rows[0].height == 4
    # deterministic: same blob -> same pixels
    again = {r.id: r for r in decode_image(blobs, "blob", "id", width=4, height=4)}
    assert rows[0].pixels == again[0].pixels
    feats = {r.id: r for r in media_features(decoded, "id")}
    assert feats[0].n_px == 16
    assert 0.0 <= feats[0].pmean <= 1.0
    assert feats[0].pmin <= feats[0].pmean <= feats[0].pmax


def test_decode_image_real_path_no_pil_needed(blobs):
    """use_fake=False is a REAL decode path now (builtin PNG/BMP/PPM
    codecs, no PIL): undecodable blobs raise ValueError per-row under
    on_error='raise' and NULL out under on_error='null'. Full
    real-pixel coverage lives in test_imagecodec.py."""
    from littletable_spark.operators.multimodal import decode_image

    with pytest.raises(Exception):  # fixture blobs are not real images
        decode_image(blobs, "blob", "id", use_fake=False).df.collect()
    out = decode_image(blobs, "blob", "id", use_fake=False, on_error="null")
    rows = {r.id: r for r in out}
    assert len(rows) == 4 and all(r.pixels is None for r in rows.values())
    with pytest.raises(ValueError, match="raise|null"):
        decode_image(blobs, "blob", "id", on_error="sometimes")


def test_frame_sample(blobs):
    from littletable_spark.operators.multimodal import frame_sample

    frames = frame_sample(blobs, "blob", "id", n_frames=4)
    by_id = {}
    for r in frames:
        by_id.setdefault(r.id, []).append(r.frame_idx)
    assert sorted(by_id[0]) == [0, 1, 2, 3]
    assert sorted(by_id[3]) == [0, 1, 2, 3]  # empty blob still yields frames


_BY_VALUE_CHILD = """
import pickle, sys
with open(sys.argv[1], "rb") as f:
    fn, batch = pickle.load(f)
out = list(fn(iter([batch])))
with open(sys.argv[2], "wb") as f:
    pickle.dump((out, "littletable_spark" in sys.modules), f)
"""


def test_fake_blob_passes_ship_by_value(spark, blobs, monkeypatch, tmp_path):
    """The fake decode paths run on workers that cannot import this
    package: the function each hands to ``mapInPandas`` pickles by
    value and, in an isolated interpreter outside the repo, gives the
    in-process rows without importing ``littletable_spark``."""
    import pickle
    import subprocess
    import sys

    import pandas as pd
    from pyspark import cloudpickle

    from littletable_spark.operators.multimodal import (
        decode_audio,
        decode_image,
        frame_sample,
    )

    df_class = type(blobs.df)
    captured = []
    original = df_class.mapInPandas

    def capture(self, func, *args, **kwargs):
        captured.append(func)
        return original(self, func, *args, **kwargs)

    monkeypatch.setattr(df_class, "mapInPandas", capture)
    decode_image(blobs, "blob", "id", width=4, height=3)
    decode_audio(blobs, "blob", "id", n_points=5, use_fake=True)
    frame_sample(blobs, "blob", "id", n_frames=3)
    assert len(captured) == 3

    batch = pd.DataFrame(
        {"id": [0, 1, 2], "blob": [b"\x89PNG\r\n\x1a\nxyz", b"", None]}
    )
    for i, fn in enumerate(captured):
        want = [f.to_dict("list") for f in fn(iter([batch]))]
        assert want and sum(len(f["id"]) for f in want) >= 3
        inp, outp = tmp_path / f"in{i}.pkl", tmp_path / f"out{i}.pkl"
        inp.write_bytes(cloudpickle.dumps((fn, batch)))
        subprocess.run(
            [sys.executable, "-I", "-c", _BY_VALUE_CHILD, str(inp), str(outp)],
            cwd=tmp_path,
            check=True,
        )
        got, imported = pickle.loads(outp.read_bytes())
        assert [f.to_dict("list") for f in got] == want
        assert not imported


def test_media_repartition_by_bytes(blobs, spark):
    from littletable_spark.operators.multimodal import media_repartition

    df = media_repartition(blobs.df, "blob", target_bytes=16)
    assert df.count() == 4  # content preserved
    assert df.rdd.getNumPartitions() >= 2  # split by payload size


def test_convert_numeric_transform(spark):
    t = csv_import(
        "a,b\n1,2.5\n,\nx,7\n",
        transforms={"a": Table.numeric(empty=-1.0, non_numeric=-2.0), "b": float},
        spark=spark,
    )
    rows = list(t)
    assert [r.a for r in rows] == [1.0, -1.0, -2.0]
    assert rows[0].b == 2.5 and rows[1].b is None


def test_parse_datetime_date_transforms(spark):
    t = csv_import(
        "d,ts\n2024-03-01,2024-03-01 10:30:00\nbad,also bad\n",
        transforms={"d": Table.to_date(), "ts": Table.to_datetime()},
        spark=spark,
    )
    rows = list(t)
    assert str(rows[0].d) == "2024-03-01"
    assert rows[0].ts.hour == 10
    assert rows[1].d is None and rows[1].ts is None  # unparseable -> None


def test_parse_timedelta(spark):
    t = csv_import(
        'td\n01:30:00\n"2 days, 00:00:10"\nnope\n',
        transforms={"td": Table.to_timedelta()},
        spark=spark,
    )
    vals = [r.td for r in t]
    assert vals[0] == 5400.0
    assert vals[1] == 2 * 86400 + 10.0
    assert vals[2] is None


def test_convert_numeric_instance_method(spark):
    t = Table("c", spark=spark)
    t.insert_many([{"x": "10"}, {"x": ""}, {"x": "oops"}])
    t.convert_numeric(fields=["x"], empty=0.0, non_numeric=-1.0)
    assert [r.x for r in t] == [10.0, 0.0, -1.0]


def test_asof_join_backward_forward(spark):
    from littletable_spark.operators.joins import asof_join

    trades = Table("trades", spark=spark)
    trades.insert_many(
        [
            {"sym": "A", "t": 10, "qty": 1},
            {"sym": "A", "t": 25, "qty": 2},
            {"sym": "B", "t": 12, "qty": 3},
            {"sym": "A", "t": 5, "qty": 4},  # before any quote
        ]
    )
    quotes = Table("quotes", spark=spark)
    quotes.insert_many(
        [
            {"sym": "A", "qt": 8, "px": 100.0},
            {"sym": "A", "qt": 20, "px": 110.0},
            {"sym": "A", "qt": 25, "px": 115.0},  # tie with trade t=25
            {"sym": "B", "qt": 1, "px": 50.0},
        ]
    )
    back = asof_join(
        trades, quotes, "t", "qt", by={"sym": "sym"}, right_cols=["px"]
    )
    got = {(r.sym, r.t): r.px for r in back}
    assert got[("A", 10)] == 100.0
    assert got[("A", 25)] == 115.0  # inclusive tie
    assert got[("B", 12)] == 50.0
    assert got[("A", 5)] is None  # no earlier quote

    fwd = asof_join(
        trades, quotes, "t", "qt", by={"sym": "sym"}, direction="forward",
        right_cols=["px"],
    )
    gotf = {(r.sym, r.t): r.px for r in fwd}
    assert gotf[("A", 5)] == 100.0  # nearest later
    assert gotf[("A", 25)] == 115.0  # inclusive tie
    assert gotf[("B", 12)] is None  # no later quote


def test_blob_ops_leave_session_batching_untouched(spark, blobs):
    """Round-7 regression (BENCH_r07 post-run Arrow calibration 11.9×):
    blob entry points used to lower maxRecordsPerBatch session-wide,
    taxing every later Arrow pass. They now bound the PARTITION (an
    Arrow feed batch never spans partitions) and must not change any
    session conf."""
    from littletable_spark.operators.multimodal import (
        _bounded_blob_input,
        decode_image,
        frame_sample,
    )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    decode_image(blobs, "blob", "id").df.count()
    frame_sample(blobs, "blob", "id").df.count()
    assert spark.conf.get(key) == prev
    # a subsequent non-blob Arrow job runs under the original regime
    # and still works
    import pandas as pd

    def f(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    assert spark.range(1000).mapInPandas(f, "n long").count() >= 1
    # and the feed batch really is bounded: input partitions hold at
    # most max_rows rows each
    bounded = _bounded_blob_input(blobs.df.select("id", "blob"), max_rows=2)
    sizes = bounded.rdd.glom().map(len).collect()
    assert max(sizes) <= 2 + 1  # round-robin may be off-by-one
    assert sum(sizes) == blobs.df.count()


def test_bounded_blob_input_skips_shuffle_when_prebounded(spark, blobs):
    """Round-9: an input that already has >= ceil(n/max_rows) partitions
    (the landed ≤max_rows-rows-per-file layout) must pass through
    UNSHUFFLED — an explicit repartition is never elided by AQE, so at
    100-TB blob scale the skip is the only way to avoid re-shuffling
    the full payload per decode call."""
    from littletable_spark.operators.multimodal import _bounded_blob_input

    n = blobs.df.count()
    pre = blobs.df.select("id", "blob").repartition(int(n))  # 1 row/part
    out = _bounded_blob_input(pre, max_rows=2)
    assert out is pre  # identity: no new plan node at all
    # and an under-partitioned input still gets bounded
    squeezed = blobs.df.select("id", "blob").coalesce(1)
    out2 = _bounded_blob_input(squeezed, max_rows=2)
    assert out2 is not squeezed
    assert max(out2.rdd.glom().map(len).collect()) <= 3


def test_bounded_blob_input_skew_does_not_bypass_guard(spark, blobs):
    """Round-10 (ADVICE): partition COUNT does not bound rows per
    partition. A skewed input — plenty of partitions, all rows hashed
    into one — must still be re-bounded, not passed through."""
    from littletable_spark.operators.multimodal import _bounded_blob_input

    n = int(blobs.df.count())
    from pyspark.sql import functions as F

    skewed = blobs.df.select("id", "blob").repartition(int(n), F.lit(0))
    sizes = skewed.rdd.glom().map(len).collect()
    assert len(sizes) >= n and max(sizes) == n  # genuinely skewed
    out = _bounded_blob_input(skewed, max_rows=2)
    assert out is not skewed  # the old count-based skip let this through
    assert max(out.rdd.glom().map(len).collect()) <= 3


# ------------------------------------------------------------------ #
# perceptual image hashing + image near-dup (round 9)


def test_image_hash_real_dhash_invariances(spark):
    """dHash is container-invariant (same pixels via PNG and BMP hash
    identically) and brightness-invariant (gradients unchanged), while
    a genuinely different image lands many bits away."""
    import numpy as np
    from test_imagecodec import _bmp_encode, _png_encode

    from littletable_spark import Table
    from littletable_spark.operators.multimodal import image_hash

    rng = np.random.RandomState(11)
    base = rng.randint(10, 180, (16, 18, 3)).astype(np.uint8)
    shifted = (base.astype(int) + 40).clip(0, 255).astype(np.uint8)
    other = rng.randint(0, 256, (16, 18, 3)).astype(np.uint8)
    good = [
        {"id": 0, "blob": _png_encode(base, filters=[0] * 16)},
        {"id": 1, "blob": _bmp_encode(base)},
        {"id": 2, "blob": _png_encode(shifted, filters=[2] * 16)},
        {"id": 3, "blob": _png_encode(other, filters=[0] * 16)},
    ]
    # one partition: the corrupt blob shares the good blobs' Arrow batch
    t = Table.from_df(
        spark.createDataFrame([*good, {"id": 4, "blob": b"not an image"}])
        .coalesce(1),
        name="imgs",
    )
    got = {
        r.id: r.img_hash
        for r in image_hash(t, "blob", "id", use_fake=False, on_error="null")
    }
    # the corrupt blob must not round its neighbours' 64-bit hashes:
    # each equals its hash without the corrupt blob
    clean = Table("imgs_ok", spark=spark)
    clean.insert_many(good)
    assert got == {
        **{r.id: r.img_hash for r in image_hash(clean, "blob", "id", use_fake=False)},
        4: None,
    }
    assert got[0] == got[1]  # container-invariant
    assert got[0] == got[2]  # brightness-invariant
    assert got[4] is None  # corrupt -> NULL, job survives
    diff = bin((got[0] ^ got[3]) & ((1 << 64) - 1)).count("1")
    assert diff > 10, f"different image only {diff} bits away"


def test_image_dup_pairs_matches_bruteforce(spark):
    """Pigeonhole blocking finds EXACTLY the brute-force pair set for
    max_hamming < n_blocks (the bound the helper enforces)."""
    from littletable_spark import Table
    from littletable_spark.operators.multimodal import (
        image_dup_pairs,
        image_hash,
    )

    t = Table("blobs", spark=spark)
    # duplicate groups: blob determined by id % 6 -> identical hashes
    t.insert_many(
        [{"id": i, "blob": (b"img-%d" % (i % 6)) * 3} for i in range(24)]
    )
    hashes = {r.id: r.img_hash for r in image_hash(t, "blob", "id")}
    want = set()
    for a in range(24):
        for b in range(a + 1, 24):
            h = bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                want.add((a, b, h))
    got = {
        (r.id1, r.id2, r.hamming)
        for r in image_dup_pairs(t, "blob", "id", max_hamming=3, n_blocks=4)
    }
    assert got == want and len(got) >= 24  # the dup groups all pair up
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole"):
        image_dup_pairs(t, "blob", "id", max_hamming=4, n_blocks=4)


def test_image_hash_fake_contract(spark):
    """The fake hash is the documented md5-derived 60-bit integer —
    recomputable engine-independently (the oracle contract)."""
    import hashlib

    from littletable_spark import Table
    from littletable_spark.operators.multimodal import image_hash

    blobs = [b"\x89PNGfake", b"hello world", b""]
    t = Table("blobs", spark=spark)
    t.insert_many([{"id": i, "blob": b} for i, b in enumerate(blobs)])
    got = {r.id: r.img_hash for r in image_hash(t, "blob", "id")}
    for i, b in enumerate(blobs):
        want = int(hashlib.md5(b.hex().encode()).hexdigest()[:15], 16)
        assert got[i] == want, i


def test_truncated_blobs_respect_on_error_null(spark):
    """Truncated media raises struct.error/IndexError out of the
    builtin codecs — NOT ValueError — and used to escape the
    on_error='null' policy. All decode entry points now route the
    whole corrupt-blob error family through it (round 9)."""
    import struct as _struct

    from littletable_spark.operators.multimodal import (
        decode_audio,
        decode_image,
        frame_sample,
        image_hash,
    )

    truncated_png = (
        b"\x89PNG\r\n\x1a\n" + _struct.pack(">I4s", 13, b"IHDR") + b"shrt"
    )
    truncated_wav = b"RIFF\x10\x00\x00\x00WAVE" + b"fmt \x02\x00\x00\x00AB"
    truncated_avi = b"RIFF\x20\x00\x00\x00AVI LIST\xff\xff\xff\xffmovi00dc"
    t = Table("blobs", spark=spark)
    t.insert_many(
        [
            {"id": 0, "blob": truncated_png},
            {"id": 1, "blob": truncated_wav},
            {"id": 2, "blob": truncated_avi},
        ]
    )
    px = {r.id: r.pixels for r in decode_image(t, "blob", "id", use_fake=False, on_error="null")}
    assert px == {0: None, 1: None, 2: None}
    au = {r.id: r.sample_rate for r in decode_audio(t, "blob", "id", on_error="null")}
    assert au[1] is None
    fr = list(frame_sample(t, "blob", "id", use_fake=False, on_error="null"))
    assert all(r.frame is None for r in fr if r.id == 2)
    ih = {r.id: r.img_hash for r in image_hash(t, "blob", "id", use_fake=False, on_error="null")}
    assert ih == {0: None, 1: None, 2: None}


def test_image_dedup_composes_with_clustering(spark):
    """image_dup_pairs feeds the generic dup-cluster machinery: pairs
    -> connected components -> one canonical id per duplicate-image
    cluster — the full crawl image-dedup decision in-engine."""
    from littletable_spark.operators.dedup import dup_clusters
    from littletable_spark.operators.multimodal import image_dup_pairs

    t = Table("blobs", spark=spark)
    # three duplicate groups of sizes 4 / 3 / 2 plus 3 singletons
    groups = [0, 0, 0, 0, 1, 1, 1, 2, 2, 3, 4, 5]
    t.insert_many(
        [{"id": i, "blob": (b"img-%d" % g) * 4} for i, g in enumerate(groups)]
    )
    pairs = image_dup_pairs(t, "blob", "id", max_hamming=0, n_blocks=4)
    clusters = dup_clusters(pairs.df)
    got = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    # every duplicated id is labeled with its group's smallest id;
    # singletons (9, 10, 11) never appear in any pair
    assert set(got) == set(range(9))
    assert all(got[i] == 0 for i in range(4))
    assert all(got[i] == 4 for i in range(4, 7))
    assert all(got[i] == 7 for i in range(7, 9))
