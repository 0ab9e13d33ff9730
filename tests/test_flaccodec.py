"""FLAC decoding: pure-stdlib codec against a hand-built test-side
encoder (RFC 9639), matching the repo's encode-your-own-fixtures
pattern (PNG/GIF/JPEG/WebP/TIFF/WAV). The encoder exercises every
decoder feature: all subframe types, Rice partitions + escapes, all
stereo decorrelations, wasted bits, multi-byte frame numbers, CRCs."""

import numpy as np
import pytest

from littletable_spark.functions.audiocodec import (
    _crc8,
    _crc16,
    audio_fingerprint,
    decode_audio_blob,
    decode_flac,
)

_FIXED_COEFFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


class _BitW:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def w(self, val: int, nbits: int) -> None:
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | (val & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.out.append((self.acc >> (self.n - 8)) & 0xFF)
            self.n -= 8
            self.acc &= (1 << self.n) - 1

    def align(self) -> None:
        if self.n:
            self.w(0, 8 - self.n)

    def bytes(self) -> bytes:
        assert self.n == 0
        return bytes(self.out)


def _utf8_enc(v: int) -> bytes:
    if v < 0x80:
        return bytes([v])
    if v < 0x800:
        return bytes([0xC0 | v >> 6, 0x80 | v & 0x3F])
    if v < 0x10000:
        return bytes([0xE0 | v >> 12, 0x80 | (v >> 6) & 0x3F, 0x80 | v & 0x3F])
    return bytes(
        [0xF0 | v >> 18, 0x80 | (v >> 12) & 0x3F, 0x80 | (v >> 6) & 0x3F,
         0x80 | v & 0x3F]
    )


def _rice_cost(res, p):
    return sum((((v << 1) ^ (v >> 63)) >> p) + 1 + p for v in
               (int(x) for x in res))


def _write_residual(bw, res, porder, order, blocksize, escape=False):
    """Rice-code a residual (method 0, 4-bit params)."""
    bw.w(0, 2)
    bw.w(porder, 4)
    nparts = 1 << porder
    start = 0
    for p in range(nparts):
        n = blocksize >> porder
        if p == 0:
            n -= order
        part = res[start : start + n]
        start += n
        if escape:
            width = max((int(abs(int(v))).bit_length() + 1 for v in part),
                        default=1)
            bw.w(15, 4)
            bw.w(width, 5)
            for v in part:
                bw.w(int(v) & ((1 << width) - 1), width)
            continue
        best_p, best_c = 0, None
        for cand in range(15):
            c = _rice_cost(part, cand)
            if best_c is None or c < best_c:
                best_p, best_c = cand, c
        bw.w(best_p, 4)
        for v in part:
            v = int(v)
            u = (v << 1) if v >= 0 else ((-v) << 1) - 1
            q, r = u >> best_p, u & ((1 << best_p) - 1)
            if q:
                bw.w(0, q)
            bw.w(1, 1)
            bw.w(r, best_p)


def _write_subframe(bw, x, bps, mode, porder=0, escape=False, wasted=0):
    """mode: 'constant' | 'verbatim' | ('fixed', k) | ('lpc', coefs, shift)."""
    x = [int(v) for v in x]
    if wasted:
        assert all(v % (1 << wasted) == 0 for v in x)
        x = [v >> wasted for v in x]
    eff = bps - wasted
    bw.w(0, 1)
    if mode == "constant":
        bw.w(0, 6)
    elif mode == "verbatim":
        bw.w(1, 6)
    elif mode[0] == "fixed":
        bw.w(8 + mode[1], 6)
    else:
        bw.w(32 + len(mode[1]) - 1, 6)
    if wasted:
        bw.w(1, 1)
        bw.w(0, wasted - 1)  # unary: (wasted-1) zeros ...
        bw.w(1, 1)           # ... then the terminating 1
    else:
        bw.w(0, 1)
    if mode == "constant":
        assert len(set(x)) == 1
        bw.w(x[0], eff)
        return
    if mode == "verbatim":
        for v in x:
            bw.w(v, eff)
        return
    if mode[0] == "fixed":
        k = mode[1]
        for v in x[:k]:
            bw.w(v, eff)
        coef = _FIXED_COEFFS[k]
        res = [
            x[i] - sum(c * x[i - 1 - j] for j, c in enumerate(coef))
            for i in range(k, len(x))
        ]
        _write_residual(bw, res, porder, k, len(x), escape)
        return
    coefs, shift = mode[1], mode[2]
    k = len(coefs)
    for v in x[:k]:
        bw.w(v, eff)
    prec = max(max(abs(c) for c in coefs).bit_length() + 1, 2)
    bw.w(prec - 1, 4)
    bw.w(shift, 5)
    for c in coefs:
        bw.w(c, prec)
    res = [
        x[i] - (sum(c * x[i - 1 - j] for j, c in enumerate(coefs)) >> shift)
        for i in range(k, len(x))
    ]
    _write_residual(bw, res, porder, k, len(x), escape)


def _flac_encode(
    samples: np.ndarray,
    rate: int = 8000,
    bps: int = 16,
    blocksize: int = 64,
    mode="auto",
    channel_mode: str = "indep",
    porder: int = 0,
    escape: bool = False,
    wasted: int = 0,
    variable_blocking: bool = False,
) -> bytes:
    """samples: int array (n, ch) within [-2^(bps-1), 2^(bps-1))."""
    if samples.ndim == 1:
        samples = samples[:, None]
    n, nch = samples.shape
    out = bytearray(b"fLaC")
    si = _BitW()
    si.w(blocksize, 16)
    si.w(blocksize, 16)
    si.w(0, 24)
    si.w(0, 24)
    si.w(rate, 20)
    si.w(nch - 1, 3)
    si.w(bps - 1, 5)
    si.w(n, 36)
    body = si.bytes() + b"\x00" * 16  # md5 unset
    out += bytes([0x80]) + len(body).to_bytes(3, "big") + body

    def pick(x):
        if mode != "auto":
            return mode
        return "constant" if len(set(int(v) for v in x)) == 1 else ("fixed", 2)

    ch_code = {"indep": nch - 1, "left_side": 8, "right_side": 9,
               "mid_side": 10}[channel_mode]
    for fi, start in enumerate(range(0, n, blocksize)):
        block = samples[start : start + blocksize]
        bsz = len(block)
        bw = _BitW()
        bw.w(0x3FFE, 14)
        bw.w(0, 1)
        bw.w(1 if variable_blocking else 0, 1)
        bw.w(7, 4)       # 16-bit blocksize - 1 at header end
        bw.w(0, 4)       # rate from streaminfo
        bw.w(ch_code, 4)
        ss_code = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}[bps]
        bw.w(ss_code, 3)
        bw.w(0, 1)
        num = start if variable_blocking else fi
        for byte in _utf8_enc(num):
            bw.w(byte, 8)
        bw.w(bsz - 1, 16)
        hdr = bw
        hdr_bytes_partial = bytes(hdr.out)  # aligned so far (14+1+1+4+4+4+3+1 = 32 bits + bytes)
        assert hdr.n == 0
        crc8 = _crc8(hdr_bytes_partial)
        bw.w(crc8, 8)
        if channel_mode == "indep":
            subs = [(block[:, c], bps) for c in range(nch)]
        else:
            l = block[:, 0].astype(np.int64)
            r = block[:, 1].astype(np.int64)
            side = l - r
            if channel_mode == "left_side":
                subs = [(l, bps), (side, bps + 1)]
            elif channel_mode == "right_side":
                subs = [(side, bps + 1), (r, bps)]
            else:
                subs = [((l + r) >> 1, bps), (side, bps + 1)]
        for x, sbps in subs:
            _write_subframe(
                bw, x, sbps, pick(x), porder=porder, escape=escape,
                wasted=wasted,
            )
        bw.align()
        frame = bytes(bw.out)
        bw.w(_crc16(frame), 16)
        out += bw.bytes()
    return bytes(out)


# ------------------------------------------------------------------ #


def _rt(samples, bps=16, **kw):
    blob = _flac_encode(np.asarray(samples), bps=bps, **kw)
    got, rate = decode_flac(blob)
    want = np.asarray(samples, dtype=np.float64)
    if want.ndim == 1:
        want = want[:, None]
    np.testing.assert_array_equal(got * (1 << (bps - 1)), want)
    return rate


def _sig(n, seed=0, scale=1000):
    rng = np.random.RandomState(seed)
    t = np.arange(n)
    x = scale * np.sin(t / 9.0) + rng.randint(-20, 21, n)
    return x.astype(np.int64)


def test_flac_fixed_orders_mono():
    x = _sig(200, seed=1)
    for k in range(5):
        _rt(x, mode=("fixed", k))


def test_flac_constant_and_verbatim():
    _rt(np.full(128, -345, dtype=np.int64), mode="constant")
    rng = np.random.RandomState(2)
    _rt(rng.randint(-30000, 30000, 150), mode="verbatim")


def test_flac_stereo_decorrelation_modes():
    n = 192
    left = _sig(n, seed=3)
    right = left + _sig(n, seed=4, scale=50)
    st = np.stack([left, right], axis=1)
    for cm in ("indep", "left_side", "right_side", "mid_side"):
        _rt(st, channel_mode=cm)


def test_flac_rice_partitions_and_escape():
    x = _sig(256, seed=5)
    for po in (1, 2):
        _rt(x, porder=po)
    _rt(x, escape=True)
    _rt(x, porder=2, escape=True)


def test_flac_lpc_subframe():
    x = _sig(160, seed=6)
    _rt(x, mode=("lpc", [3, -2], 1))
    _rt(x, mode=("lpc", [2, -3, 1, 1], 2))


def test_flac_wasted_bits():
    x = (_sig(96, seed=7) << 3).astype(np.int64)
    _rt(x, mode=("fixed", 1), wasted=3)


def test_flac_bit_depths():
    _rt(_sig(100, seed=8, scale=50), bps=8)
    _rt(_sig(100, seed=9, scale=100000) * 10, bps=24)


def test_flac_multiframe_and_short_tail():
    x = _sig(64 * 3 + 17, seed=10)  # last block is 17 samples
    rate = _rt(x, blocksize=64)
    assert rate == 8000


def test_flac_variable_blocking_multibyte_framenum():
    """Sample-number coding exceeds one byte (UTF-8 style multi-byte)."""
    x = _sig(64 * 5, seed=11)
    _rt(x, blocksize=64, variable_blocking=True)
    blob = _flac_encode(_sig(70000, seed=12), blocksize=4096,
                        variable_blocking=True)
    got, _ = decode_flac(blob)
    assert got.shape[0] == 70000


def test_flac_crc_validation_raises():
    x = _sig(80, seed=13)
    blob = bytearray(_flac_encode(x))
    blob[-3] ^= 0x40  # flip a bit inside the last frame's payload
    with pytest.raises(ValueError, match="CRC"):
        decode_flac(bytes(blob))
    with pytest.raises(ValueError, match="not a FLAC"):
        decode_flac(b"junkjunkjunk")


def test_flac_routing_and_features():
    from littletable_spark.functions.audiocodec import wav_features

    x = _sig(256, seed=14)
    blob = _flac_encode(x, rate=16000)
    got, rate = decode_audio_blob(blob)
    assert rate == 16000 and got.shape == (256, 1)
    f = wav_features(blob)
    assert f["sample_rate"] == 16000
    assert f["n_frames"] == 256
    assert len(f["waveform"]) == 64
    assert f["peak"] > 0


def test_flac_random_differential():
    """20-trial round-trip sweep over random shapes/modes."""
    rng = np.random.RandomState(15)
    for trial in range(20):
        n = int(rng.randint(10, 700))
        nch = int(rng.randint(1, 3))
        scale = int(rng.choice([10, 1000, 30000]))
        x = rng.randint(-scale, scale, (n, nch)).astype(np.int64)
        mode = [("fixed", int(rng.randint(0, 5))), "verbatim"][trial % 2]
        kw = {}
        if nch == 2:
            kw["channel_mode"] = ["indep", "left_side", "right_side",
                                  "mid_side"][trial % 4]
        bs = int(rng.choice([32, 64, 256]))
        _rt(x, blocksize=bs, mode=mode, porder=0, **kw)


# ------------------------------------------------------------------ #
# perceptual audio fingerprint + dedup (audio analogue of image dHash)


def _wav_pcm16(x: np.ndarray, rate: int = 8000) -> bytes:
    import io
    import wave

    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(1 if x.ndim == 1 else x.shape[1])
    w.setsampwidth(2)
    w.setframerate(rate)
    w.writeframes(x.astype("<i2").tobytes())
    w.close()
    return buf.getvalue()


def _wav_f32(x: np.ndarray, rate: int = 8000) -> bytes:
    import struct as _s

    data = x.astype("<f4").tobytes()
    fmt = _s.pack("<HHIIHH", 3, 1, rate, rate * 4, 4, 32)
    out = b"RIFF" + _s.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
    out += b"fmt " + _s.pack("<I", len(fmt)) + fmt
    out += b"data" + _s.pack("<I", len(data)) + data
    return out


def _tone(n=2048, seed=0):
    rng = np.random.RandomState(seed)
    t = np.arange(n)
    x = (
        8000 * np.sin(2 * np.pi * t * 0.01)
        + 3000 * np.sin(2 * np.pi * t * (0.09 + 0.02 * (seed % 3)))
        + rng.randint(-300, 300, n)
    )
    return x.astype(np.int64)


def test_audio_fingerprint_container_invariant():
    """The same samples hash identically from WAV and FLAC."""
    from littletable_spark.functions.audiocodec import audio_fingerprint

    x = _tone(seed=1)
    h_wav = audio_fingerprint(_wav_pcm16(x))
    h_flac = audio_fingerprint(_flac_encode(x, bps=16))
    assert h_wav == h_flac


def test_audio_fingerprint_gain_invariant_and_discriminative():
    from littletable_spark.functions.audiocodec import audio_fingerprint

    x = _tone(seed=2).astype(np.float64) / 32768.0
    h1 = audio_fingerprint(_wav_f32(x))
    h2 = audio_fingerprint(_wav_f32(x * 0.25))
    assert h1 == h2  # exact gain invariance
    other = _tone(seed=5).astype(np.float64) / 32768.0
    h3 = audio_fingerprint(_wav_f32(other[::-1]))
    assert bin((h1 ^ h3) & ((1 << 64) - 1)).count("1") > 8


def test_audio_fingerprint_near_dup_within_bits():
    from littletable_spark.functions.audiocodec import audio_fingerprint

    x = _tone(seed=3)
    rng = np.random.RandomState(4)
    noisy = x + rng.randint(-80, 80, len(x))
    h1 = audio_fingerprint(_wav_pcm16(x))
    h2 = audio_fingerprint(_wav_pcm16(noisy))
    assert bin((h1 ^ h2) & ((1 << 64) - 1)).count("1") <= 3


def test_audio_dup_pairs_real_path(spark):
    """End-to-end Spark operator: the same clip as WAV and FLAC (plus a
    gain-scaled copy) pairs up; unrelated clips don't; corrupt blobs
    NULL out under on_error='null'."""
    from littletable_spark import Table
    from littletable_spark.operators.multimodal import audio_dup_pairs, audio_hash

    x = _tone(seed=6)
    y = _tone(seed=8)[::-1].copy()
    good = [_wav_pcm16(x), _flac_encode(x, bps=16), _wav_pcm16(y)]  # 0, 1 same clip
    # one partition: the corrupt blobs share the good blobs' Arrow batch
    t = Table.from_df(
        spark.createDataFrame(
            [
                *({"aid": i, "blob": b} for i, b in enumerate(good)),
                {"aid": 3, "blob": b"corrupt audio bytes"},
                # truncated WAV: the codec raises struct.error, not ValueError
                {"aid": 4, "blob": b"RIFF\x10\x00\x00\x00WAVEfmt \x02\x00\x00\x00AB"},
            ]
        ).coalesce(1),
        name="aud",
    )
    hashes = {
        r.aid: r.audio_hash
        for r in audio_hash(t, "blob", "aid", use_fake=False, on_error="null")
    }
    assert hashes[0] == hashes[1] and hashes[3] is None and hashes[4] is None
    # the corrupt blobs must not round the good blobs' 64-bit hashes:
    # each equals the fingerprint of its blob alone
    assert [hashes[i] for i in range(3)] == [audio_fingerprint(b) for b in good]
    pairs = audio_dup_pairs(
        t, "blob", "aid", max_hamming=3, use_fake=False, on_error="null"
    )
    got = {(r.id1, r.id2): r.hamming for r in pairs}
    assert (0, 1) in got and got[(0, 1)] == 0
    assert all(p == (0, 1) for p in got)


def test_audio_hash_fake_path_is_projection(spark):
    from littletable_spark import Table
    from littletable_spark.operators.multimodal import audio_hash

    t = Table("aud", spark=spark)
    t.insert_many([{"aid": 0, "blob": b"abc"}, {"aid": 1, "blob": b"abc"}])
    rows = list(audio_hash(t, "blob", "aid"))
    assert rows[0].audio_hash == rows[1].audio_hash
    assert 0 <= rows[0].audio_hash < (1 << 60)


# ------------------------------------------------------------------ #
# MP3 header metadata (round 12): duration/rate/channels without
# decoding — test-side frames are hand-assembled from the public
# ISO 11172-3 header layout.


def _mp3_frame(bitrate_kbps=128, rate_idx=0, pad=0, mono=False):
    # MPEG-1 Layer III header: FF FB  (sync + ver 11 + layer 01 + noprot)
    br_map = {32:1,40:2,48:3,56:4,64:5,80:6,96:7,112:8,128:9,160:10,192:11,224:12,256:13,320:14}
    b2 = (br_map[bitrate_kbps] << 4) | (rate_idx << 2) | (pad << 1)
    b3 = 0xC0 if mono else 0x00
    rate = (44100, 48000, 32000)[rate_idx]
    flen = 1152 // 8 * bitrate_kbps * 1000 // rate + pad
    return bytes([0xFF, 0xFB, b2, b3]) + b"\x00" * (flen - 4)


def test_mp3_info_cbr_and_id3():
    from littletable_spark.functions.audiocodec import mp3_info, sniff_mp3

    blob = _mp3_frame() * 77
    info = mp3_info(blob)
    assert (info["sample_rate"], info["n_channels"]) == (44100, 2)
    assert abs(info["duration"] - 77 * 1152 / 44100) < 0.05
    assert info["bitrate"] == 128000 and not info["vbr"]
    # ID3v2 prefix skipped (syncsafe size)
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 30]) + b"\xaa" * 30
    assert abs(mp3_info(id3 + blob)["duration"] - info["duration"]) < 0.01
    assert sniff_mp3(blob) and sniff_mp3(id3 + blob)
    assert not sniff_mp3(b"RIFFxxxxWAVE")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="MP3"):
        mp3_info(b"ID3\x04\x00\x00" + bytes([0, 0, 0, 4]) + b"\x00" * 500)


def test_mp3_info_xing_exact_frames():
    from littletable_spark.functions.audiocodec import mp3_info

    first = bytearray(_mp3_frame())
    first[4 + 32 : 4 + 36] = b"Xing"
    first[4 + 36 : 4 + 40] = (1).to_bytes(4, "big")
    first[4 + 40 : 4 + 44] = (500).to_bytes(4, "big")
    blob = bytes(first) + _mp3_frame() * 5
    info = mp3_info(blob)
    assert info["vbr"]
    assert abs(info["duration"] - 500 * 1152 / 44100) < 1e-9


def test_mp3_info_mono_mpeg2():
    from littletable_spark.functions.audiocodec import mp3_info

    # MPEG-2 Layer III mono, 24000 Hz, 64 kbps: FF F3 (ver 10), spf 576
    b2 = (5 << 4) | (1 << 2)  # br idx 5 = 64k in the V2 L3 table? idx5=48...
    # V2 L3 table: idx -> (0,8,16,24,32,40,48,56,64,...): 64k = idx 8
    b2 = (8 << 4) | (1 << 2)
    flen = 576 // 8 * 64000 // 24000
    frame = bytes([0xFF, 0xF3, b2, 0xC0]) + b"\x00" * (flen - 4)
    info = mp3_info(frame * 50)
    assert (info["sample_rate"], info["n_channels"]) == (24000, 1)
    assert info["mpeg_version"] == "2" and info["bitrate"] == 64000
    assert abs(info["duration"] - 50 * 576 / 24000) < 0.03


def test_decode_audio_mp3_metadata_row(spark):
    """Pipeline contract: MP3 blobs land metadata-only (features
    NULL), WAV/FLAC rows keep full features, junk NULLs out."""
    from littletable_spark import Table
    from littletable_spark.operators.multimodal import decode_audio, sniff_media

    t_ = np.arange(8000) / 8000.0
    wav = _wav_pcm16(np.sin(2 * np.pi * 440 * t_))
    mp3 = _mp3_frame() * 40
    t = Table("snd", spark=spark)
    t.insert_many(
        [
            {"sid": 0, "blob": wav},
            {"sid": 1, "blob": mp3},
            {"sid": 2, "blob": b"not audio at all"},
        ]
    )
    out = decode_audio(t, "blob", "sid", on_error="null")
    rows = {r.sid: r for r in out}
    assert rows[0].rms is not None
    assert rows[1].sample_rate == 44100 and rows[1].n_channels == 2
    assert abs(rows[1].duration - 40 * 1152 / 44100) < 0.05
    assert rows[1].rms is None and rows[1].waveform is None
    assert rows[2].sample_rate is None
    fmt = {r.sid: r.media_meta["format"] for r in sniff_media(t, "blob")}
    assert fmt[0] == "wav" and fmt[1] == "mp3"


def test_mp3_round13_advice_fixes():
    """Round-13 ADVICE: (a) sniff_mp3 no longer claims ID3-prefixed
    non-MP3 audio — it requires real frame sync after the tag; (b) CBR
    duration excludes a trailing 128-byte ID3v1 'TAG' block."""
    from littletable_spark.functions.audiocodec import mp3_info, sniff_mp3

    blob = _mp3_frame() * 77
    # ID3-wrapped FLAC-ish payload: tag header then no frame sync
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 30]) + b"\xaa" * 30
    assert not sniff_mp3(id3 + b"fLaC" + b"\x00" * 400)
    assert sniff_mp3(id3 + blob)  # real frames after the tag still sniff

    # trailing ID3v1 tag must not inflate the CBR duration
    tag = b"TAG" + b"\x00" * 125
    base = mp3_info(blob)["duration"]
    assert abs(mp3_info(blob + tag)["duration"] - base) < 1e-9


# ------------------------------------------------------------------ #
# ID3 tags (round 13): test-side tag writers assembled from the public
# id3.org layouts, independent of the parser.


def _id3v2_frame(fid: bytes, text: str, enc: int = 3, ver: int = 3) -> bytes:
    if enc == 0:
        payload = bytes([0]) + text.encode("latin-1")
    elif enc == 1:
        payload = bytes([1]) + text.encode("utf-16")  # BOM included
    elif enc == 2:
        payload = bytes([2]) + text.encode("utf-16-be")
    else:
        payload = bytes([3]) + text.encode("utf-8")
    if ver == 2:
        return fid + len(payload).to_bytes(3, "big") + payload
    if ver == 4:
        n = len(payload)
        size = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                      (n >> 7) & 0x7F, n & 0x7F])
        return fid + size + b"\x00\x00" + payload
    return fid + len(payload).to_bytes(4, "big") + b"\x00\x00" + payload


def _id3v2(frames: bytes, ver: int = 3) -> bytes:
    n = len(frames)
    size = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                  (n >> 7) & 0x7F, n & 0x7F])
    return b"ID3" + bytes([ver, 0, 0]) + size + frames


def _id3v1(title=b"", artist=b"", album=b"", year=b"", genre=255) -> bytes:
    return (b"TAG" + title.ljust(30, b"\x00") + artist.ljust(30, b"\x00")
            + album.ljust(30, b"\x00") + year.ljust(4, b"\x00")
            + b"\x00" * 30 + bytes([genre]))


def test_mp3_tags_id3v23_all_encodings():
    from littletable_spark.functions.audiocodec import mp3_tags

    frames = (
        _id3v2_frame(b"TIT2", "Tïtle", enc=1)
        + _id3v2_frame(b"TPE1", "Ártist", enc=3)
        + _id3v2_frame(b"TALB", "Albüm", enc=2)
        + _id3v2_frame(b"TYER", "1999", enc=0)
        + _id3v2_frame(b"TCON", "(17)", enc=0)
    )
    blob = _id3v2(frames) + _mp3_frame() * 3
    t = mp3_tags(blob)
    assert t == {"title": "Tïtle", "artist": "Ártist", "album": "Albüm",
                 "year": "1999", "genre": "Rock"}


def test_mp3_tags_v22_v24_and_v1_fallback():
    from littletable_spark.functions.audiocodec import mp3_tags

    # v2.2: 3-byte ids and sizes
    blob22 = _id3v2(
        _id3v2_frame(b"TT2", "Old Title", enc=0, ver=2), ver=2
    ) + _mp3_frame() * 2
    assert mp3_tags(blob22)["title"] == "Old Title"

    # v2.4: syncsafe frame sizes + TDRC year
    blob24 = _id3v2(
        _id3v2_frame(b"TIT2", "New Title", ver=4)
        + _id3v2_frame(b"TDRC", "2021-05-01", ver=4),
        ver=4,
    ) + _mp3_frame() * 2
    t = mp3_tags(blob24)
    assert t["title"] == "New Title" and t["year"] == "2021"

    # ID3v1 fills the gaps an ID3v2 tag leaves
    blob = (
        _id3v2(_id3v2_frame(b"TIT2", "V2 Title")) + _mp3_frame() * 2
        + _id3v1(title=b"V1 Title", artist=b"V1 Artist",
                 year=b"1988", genre=8)
    )
    t = mp3_tags(blob)
    assert t["title"] == "V2 Title"       # v2 wins
    assert t["artist"] == "V1 Artist"     # v1 fills the gap
    assert t["year"] == "1988" and t["genre"] == "Jazz"

    # no tags at all
    assert mp3_tags(_mp3_frame() * 2) == {
        "title": None, "artist": None, "album": None,
        "year": None, "genre": None,
    }


def test_audio_tags_operator(spark):
    from littletable_spark import Table
    from littletable_spark.operators.multimodal import audio_tags

    blob = _id3v2(
        _id3v2_frame(b"TIT2", "Song") + _id3v2_frame(b"TPE1", "Band")
    ) + _mp3_frame() * 2
    t = Table("a", spark=spark)
    t.insert_many([
        {"id": 0, "blob": blob},
        {"id": 1, "blob": b"not audio at all"},
    ])
    out = {r.id: r for r in audio_tags(t, "blob", "id")}
    assert out[0].title == "Song" and out[0].artist == "Band"
    assert out[1].title is None and out[1].genre is None


def test_id3_utf16_terminator_alignment():
    """Round 14: the 2-byte UTF-16 terminator must be matched at even
    (code-unit) offsets — bytes.split(b"\\x00\\x00") cuts mid-unit when
    a unit's zero byte abuts the terminator (LE 'o' = 6F 00 + 00 00)
    or when a unit contains 00 internally (U+0100 'Ā' = 00 01 LE)."""
    from littletable_spark.functions.audiocodec import mp3_tags

    # enc=1 (UTF-16 w/ BOM, LE): "Āx" + terminator + second value "y"
    payload = (
        bytes([1])
        + "Āx".encode("utf-16")      # FF FE 00 01 78 00
        + b"\x00\x00"
        + "y".encode("utf-16")
    )
    frame = b"TIT2" + len(payload).to_bytes(4, "big") + b"\x00\x00" + payload
    t = mp3_tags(_id3v2(frame) + _mp3_frame() * 2)
    assert t["title"] == "Āx / y"

    # ASCII LE value whose terminator starts at an ODD byte offset
    payload2 = bytes([1]) + "Hello".encode("utf-16") + b"\x00\x00"
    frame2 = (
        b"TPE1" + len(payload2).to_bytes(4, "big") + b"\x00\x00" + payload2
    )
    t2 = mp3_tags(_id3v2(frame2) + _mp3_frame() * 2)
    assert t2["artist"] == "Hello"


def test_id3_frame_format_flags_skipped():
    """Round 14: v2.3/v2.4 frames with compression / encryption /
    data-length-indicator format flags hold non-text payloads — they
    must be skipped, not decoded as mojibake; a v2.4 unsynchronised
    frame is reversed (FF 00 -> FF) and decoded."""
    import zlib

    from littletable_spark.functions.audiocodec import mp3_tags

    # v2.3 compressed frame (flag 0x80): deflated junk, must skip
    comp = zlib.compress(bytes([0]) + b"Real Title")
    frame = b"TIT2" + len(comp).to_bytes(4, "big") + b"\x00\x80" + comp
    t = mp3_tags(_id3v2(frame) + _mp3_frame() * 2)
    assert t["title"] is None

    # v2.4 encrypted frame (flag 0x04): must skip
    enc_body = bytes([0]) + b"\x99\x88\x77"
    n = len(enc_body)
    size = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                  (n >> 7) & 0x7F, n & 0x7F])
    frame24 = b"TIT2" + size + b"\x00\x04" + enc_body
    assert mp3_tags(_id3v2(frame24, ver=4) + _mp3_frame() * 2)["title"] is None

    # v2.4 unsynchronised frame (flag 0x02): FF 00 de-stuffed; the
    # latin-1 payload 'Caf\xff...' survives
    body = bytes([0]) + b"Caf\xff\x00e"  # de-unsync -> b"Caf\xffe"
    n = len(body)
    size = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                  (n >> 7) & 0x7F, n & 0x7F])
    frame_u = b"TIT2" + size + b"\x00\x02" + body
    t = mp3_tags(_id3v2(frame_u, ver=4) + _mp3_frame() * 2)
    assert t["title"] == "Caf\xffe"
