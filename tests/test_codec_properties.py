"""Property-based round-trip tests (hypothesis) for the pure-Python
codecs added in rounds 3-4: arbitrary shapes/dtypes/attribute sets must
survive write→read bit-exactly. These are driver-side (no Spark) — pure
codec hardening."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@st.composite
def _hdf4_datasets(draw):
    n = draw(st.integers(1, 3))
    out = {}
    for i in range(n):
        dt = draw(
            st.sampled_from(
                [np.float64, np.float32, np.int16, np.int32, np.uint8, np.int8]
            )
        )
        ndim = draw(st.integers(1, 3))
        shape = tuple(draw(st.integers(1, 5)) for _ in range(ndim))
        seed = draw(st.integers(0, 2**31))
        rng = np.random.default_rng(seed)
        if np.issubdtype(dt, np.floating):
            arr = rng.normal(scale=1e3, size=shape).astype(dt)
        else:
            info = np.iinfo(dt)
            arr = rng.integers(info.min, info.max, size=shape, dtype=dt)
        attrs = {}
        if draw(st.booleans()):
            attrs["units"] = draw(
                st.text(
                    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
                    min_size=1,
                    max_size=12,
                )
            )
        if draw(st.booleans()):
            attrs["scale_factor"] = draw(
                st.floats(0.001, 100, allow_nan=False)
            )
        if draw(st.booleans()):
            attrs["_FillValue"] = int(draw(st.integers(-32768, 32767)))
        out[f"var{i}"] = (arr, attrs)
    # storage layout: contiguous, deflate or RLE special element, or
    # chunked (+deflate/RLE) with an arbitrary (often non-divisor)
    # chunk shape — all must be read-indistinguishable (round-5
    # layouts + round-7 RLE)
    kwargs = {}
    layout = draw(st.sampled_from(["contiguous", "compressed", "chunked"]))
    if layout == "compressed":
        kwargs["compress"] = draw(
            st.one_of(st.integers(1, 9), st.just("rle"))
        )
    elif layout == "chunked":
        if draw(st.booleans()):
            kwargs["compress"] = draw(
                st.one_of(st.integers(1, 9), st.just("rle"))
            )
        kwargs["chunks"] = {
            name: tuple(
                draw(st.integers(1, d + 2)) for d in arr.shape
            )
            for name, (arr, _attrs) in out.items()
        }
    return out, kwargs


@given(drawn=_hdf4_datasets())
@settings(**_SETTINGS)
def test_hdf4_roundtrip_property(tmp_path_factory, drawn):
    from modis_aggregation_spark.sinks.hdf4lite import read_hdf4, write_hdf4

    dsets, kwargs = drawn
    p = str(tmp_path_factory.mktemp("h4") / "t.hdf")
    write_hdf4(p, dsets, **kwargs)
    back = read_hdf4(p)
    assert set(back) == set(dsets)
    for name, (arr, attrs) in dsets.items():
        ds = back[name]
        assert ds.shape == arr.shape
        assert ds.data.dtype == arr.dtype
        assert np.array_equal(ds.data, arr)
        for k, v in attrs.items():
            got = ds.attrs[k]
            if isinstance(v, float):
                assert got == v  # float64 attrs round-trip bit-exactly
            else:
                assert got == v


@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    color=st.booleans(),
    quality=st.integers(10, 95),
    seed=st.integers(0, 2**31),
)
@settings(**_SETTINGS)
def test_jpeg_progressive_equals_baseline_property(h, w, color, quality, seed):
    """For ANY image and quality, the progressive scan script encodes
    the same quantized coefficients as the baseline encoder, so decode
    must be bit-identical — locking the SOF2 decode passes (DC
    successive approximation, EOB runs, non-interleaved grids) against
    the sequential path."""
    from modis_aggregation_spark.sinks.jpeglite import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if color else (h, w)
    img = rng.integers(0, 256, shape).astype(np.uint8)
    base = decode_jpeg(encode_jpeg(img, quality=quality))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality=quality))
    assert np.array_equal(base, prog)


@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    nframes=st.integers(1, 4),
    ncolors=st.integers(2, 256),
    interlace=st.booleans(),
    seed=st.integers(0, 2**31),
)
@settings(**_SETTINGS)
def test_gif_roundtrip_property(h, w, nframes, ncolors, interlace, seed):
    from modis_aggregation_spark.sinks.giflite import decode_gif, encode_gif

    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (ncolors, 3)).astype(np.uint8)
    frames = [
        rng.integers(0, ncolors, (h, w)).astype(np.uint8)
        for _ in range(nframes)
    ]
    buf = encode_gif(frames, palette=pal, delay_cs=2, interlace=interlace)
    back, delays = decode_gif(buf)
    assert len(back) == nframes and delays == [2] * nframes
    for f, b in zip(frames, back):
        assert np.array_equal(b, pal[f])


@given(
    n=st.integers(1, 400),
    sr=st.integers(1000, 48000),
    seed=st.integers(0, 2**31),
)
@settings(**_SETTINGS)
def test_wav_roundtrip_property(n, sr, seed):
    from modis_aggregation_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(seed)
    # dyadic rationals k/32768 round-trip exactly through PCM16
    pcm = rng.integers(-32768, 32768, n)
    x = pcm.astype(np.float64) / 32768.0
    sr2, back = decode_wav(encode_wav(x, sample_rate=sr))
    assert sr2 == sr
    assert back.tolist() == x.tolist()


@given(
    h=st.integers(1, 10),
    w=st.integers(1, 10),
    ch=st.sampled_from([1, 3, 4]),
    seed=st.integers(0, 2**31),
)
@settings(**_SETTINGS)
def test_png_roundtrip_property(h, w, ch, seed):
    from modis_aggregation_spark.sinks.pnglite import decode_png, encode_png

    rng = np.random.default_rng(seed)
    shape = (h, w) if ch == 1 else (h, w, ch)
    img = rng.integers(0, 256, shape).astype(np.uint8)
    back = decode_png(encode_png(img))
    assert np.array_equal(back, img)


@settings(max_examples=25, deadline=None)
@given(
    blocks=st.lists(st.binary(min_size=0, max_size=300), min_size=1, max_size=12),
    gz=st.booleans(),
)
def test_warc_roundtrip_random_records(tmp_path_factory, blocks, gz):
    """WARC write→parse round-trips arbitrary binary blocks (including
    empty and CRLF-containing ones) in both the plain and the
    per-record-gzip layout, preserving order, headers and byte
    content."""
    import os

    from modis_aggregation_spark.sources.warc import (
        iter_warc_records,
        write_warc,
    )

    recs = [
        {
            "warc_type": "resource" if i % 2 else "response",
            "target_uri": f"https://example.org/r/{i}?q=ü{i}",
            "record_id": f"<urn:x:{i}>",
            "block": b,
        }
        for i, b in enumerate(blocks)
    ]
    p = os.path.join(str(tmp_path_factory.mktemp("warc")), "t.warc")
    write_warc(p, recs, gzip_records=gz)
    got = list(iter_warc_records(p))
    assert len(got) == len(recs)
    for want, r in zip(recs, got):
        assert r["block"] == want["block"]
        assert r["warc-type"] == want["warc_type"]
        assert r["warc-target-uri"] == want["target_uri"]
        assert int(r["content-length"]) == len(want["block"])


@settings(max_examples=15, deadline=None)
@given(
    n_frames=st.integers(min_value=1, max_value=5),
    bh=st.integers(min_value=1, max_value=3),
    bw=st.integers(min_value=1, max_value=3),
    seed=st.integers(min_value=0, max_value=10_000),
    fps=st.sampled_from([(25, 1), (30000, 1001), (12, 1)]),
)
def test_avi_roundtrip_random_geometry(n_frames, bh, bw, seed, fps):
    """AVI/MJPEG container round-trips any frame count, block-grid
    geometry and (fractional) frame rate bit-exactly when frames live
    in jpeglite's exact subspace."""
    import numpy as np

    from modis_aggregation_spark.sinks.avilite import (
        decode_avi_frames,
        encode_avi_mjpeg,
    )
    from modis_aggregation_spark.sinks.jpeglite import encode_jpeg

    rng = np.random.default_rng(seed)
    frames = []
    for _ in range(n_frames):
        vals = (rng.integers(0, 128, (bh, bw)) * 2).astype(np.uint8)
        frames.append(np.repeat(np.repeat(vals, 8, 0), 8, 1))
    h, w = bh * 8, bw * 8
    payloads = [encode_jpeg(f, quality=50) for f in frames]
    avi = encode_avi_mjpeg(
        payloads, width=w, height=h, fps_num=fps[0], fps_den=fps[1]
    )
    meta, decoded, got_fps = decode_avi_frames(avi)
    assert meta["total_frames"] == n_frames
    assert (meta["width"], meta["height"]) == (w, h)
    assert got_fps == pytest.approx(fps[0] / fps[1])
    assert len(decoded) == n_frames
    for orig, dec in zip(frames, decoded):
        assert np.array_equal(orig, dec)


# ---- adversarial-garbage robustness: every pure-Python codec must FAIL
# CLEANLY on corrupt input (a typed exception), never hang, loop, or
# return a silently-wrong decode — the property a crawler-fed multimodal
# pipeline actually needs from its parsers ----------------------------------

_CODEC_EXCS = (ValueError, NotImplementedError, KeyError, IndexError,
               EOFError, OverflowError)


def _expect_clean_failure(decode, blob, extra_excs=()):
    import struct as _struct
    import wave as _wave
    import zlib as _zlib

    try:
        decode(blob)
    except (_struct.error, _zlib.error, _wave.Error, *_CODEC_EXCS,
            *extra_excs):
        return
    # reaching here means the garbage DECODED — acceptable only for
    # formats where tiny blobs can be vacuously valid, handled per-call


@given(seed=st.integers(0, 2**31), n=st.integers(0, 400))
@settings(**_SETTINGS)
def test_codecs_fail_cleanly_on_garbage(tmp_path_factory, seed, n):
    rng = np.random.default_rng(seed)
    blob = bytes(rng.integers(0, 256, n, dtype=np.uint8))

    from modis_aggregation_spark.operators.multimodal import decode_wav
    from modis_aggregation_spark.sinks.avilite import decode_avi_frames
    from modis_aggregation_spark.sinks.giflite import decode_gif
    from modis_aggregation_spark.sinks.jpeglite import decode_jpeg
    from modis_aggregation_spark.sinks.pnglite import decode_png

    for dec in (decode_jpeg, decode_png, decode_gif, decode_wav,
                decode_avi_frames):
        _expect_clean_failure(dec, blob)

    # the HDF4/HDF5 readers parse from paths
    from modis_aggregation_spark.sinks.hdf4lite import read_hdf4
    from modis_aggregation_spark.sinks.hdf5lite import read_hdf5

    d = tmp_path_factory.mktemp("garbage")
    p = str(d / "g.bin")
    open(p, "wb").write(blob)
    _expect_clean_failure(read_hdf4, p)
    _expect_clean_failure(read_hdf5, p)


@given(seed=st.integers(0, 2**31), flips=st.integers(1, 24))
@settings(**_SETTINGS)
def test_jpeg_bitflip_never_hangs(seed, flips):
    """Bit-flipped VALID progressive streams: decode either succeeds
    (flip landed in image data) or raises a typed error — no hangs, no
    unbounded memory (the failure mode entropy decoders are prone to)."""
    from modis_aggregation_spark.sinks.jpeglite import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (24, 24), dtype=np.uint8).astype(np.uint8)
    blob = bytearray(encode_jpeg_progressive(img, quality=50))
    for _ in range(flips):
        i = int(rng.integers(2, len(blob)))  # keep SOI intact
        blob[i] ^= 1 << int(rng.integers(0, 8))
    _expect_clean_failure(decode_jpeg, bytes(blob))


@given(seed=st.integers(0, 2**31), flips=st.integers(1, 16))
@settings(**_SETTINGS)
def test_hdf4_bitflip_never_hangs(tmp_path_factory, seed, flips):
    """Bit-flipped valid HDF4 files (incl. RLE + linked layouts) parse
    or raise — DD chains and block tables must not loop forever."""
    from modis_aggregation_spark.sinks.hdf4lite import read_hdf4, write_hdf4

    rng = np.random.default_rng(seed)
    d = tmp_path_factory.mktemp("h4flip")
    p = str(d / "f.hdf")
    arr = rng.integers(-999, 999, (9, 7)).astype(np.int16)
    write_hdf4(p, {"v": (arr, {"u": "x"})},
               compress="rle" if seed % 2 else False)
    blob = bytearray(open(p, "rb").read())
    for _ in range(flips):
        i = int(rng.integers(4, len(blob)))  # keep magic intact
        blob[i] ^= 1 << int(rng.integers(0, 8))
    open(p, "wb").write(bytes(blob))
    _expect_clean_failure(read_hdf4, p, extra_excs=(TypeError,
                                                    UnicodeDecodeError,
                                                    FileNotFoundError))


@given(seed=st.integers(0, 2**31), flips=st.integers(0, 24),
       nn=st.booleans(), truncate=st.booleans())
@settings(**_SETTINGS)
def test_szip_bitflip_never_hangs(seed, flips, nn, truncate):
    """Bit-flipped or truncated SZIP codestreams of int16 scanlines
    decode to exactly ``raw_len`` bytes or raise the codec's own
    ValueError/NotImplementedError — never hang, and never an
    IndexError, OverflowError or NumPy broadcast error out of the
    vectorized gathers (every block is bounds-checked before them)."""
    from modis_aggregation_spark.sinks.sziplite import (
        SZ_EC_OPTION_MASK,
        SZ_MSB_OPTION_MASK,
        SZ_NN_OPTION_MASK,
        szip_decode,
        szip_encode,
    )

    rng = np.random.default_rng(seed)
    J = 2 * int(rng.integers(1, 17))
    pps = int(rng.integers(1, 200))
    total = int(rng.integers(1, 600))
    # smooth runs, flat runs and noise, so every block option is in play
    x = np.cumsum(rng.integers(-3, 4, total)) * int(rng.integers(0, 2))
    noisy = rng.random(total) < 0.1
    x[noisy] = rng.integers(-30000, 30000, int(noisy.sum()))
    raw = x.astype(">i2").tobytes()
    mask = (SZ_NN_OPTION_MASK if nn else SZ_EC_OPTION_MASK) | SZ_MSB_OPTION_MASK
    blob = bytearray(szip_encode(raw, 16, J, pps, mask))
    for _ in range(flips if blob else 0):
        i = int(rng.integers(0, len(blob)))
        blob[i] ^= 1 << int(rng.integers(0, 8))
    if truncate:
        blob = blob[: int(rng.integers(0, len(blob) + 1))]
    try:
        out = szip_decode(bytes(blob), len(raw), 16, J, pps, mask)
    except NotImplementedError:
        return
    except ValueError as e:
        assert str(e).startswith("szip "), e  # not a NumPy error
        return
    assert len(out) == len(raw)


@given(
    dt=st.sampled_from([">u1", ">i1", ">u2", ">i2", ">u4", ">i4"]),
    n=st.integers(1, 40),
    seed=st.integers(0, 2**31),
    sign_ext=st.booleans(),
    fill_one=st.booleans(),
    data=st.data(),
)
@settings(**_SETTINGS)
def test_nbit_codec_property(dt, n, seed, sign_ext, fill_one, data):
    """NBIT (round 8) against an INDEPENDENT arithmetic model: for any
    integer width, any valid (start_bit, bit_len) and any values,
    decode(encode(x)) must equal field<<shift | background, where the
    background is fill_one below the field and sign/fill above it —
    computed here with shifts/masks, never with the implementation's
    bit matrices."""
    from modis_aggregation_spark.sinks.hdf4lite import (
        nbit_decode,
        nbit_encode,
    )

    d = np.dtype(dt)
    width = 8 * d.itemsize
    bit_len = data.draw(st.integers(1, width))
    start_bit = data.draw(st.integers(bit_len - 1, width - 1))
    rng = np.random.default_rng(seed)
    u = rng.integers(0, 1 << width, size=n, dtype=np.uint64)
    raw = u.astype(f">u{d.itemsize}").tobytes()
    enc = nbit_encode(raw, d.itemsize, start_bit, bit_len)
    assert len(enc) == -(-n * bit_len // 8)
    dec = nbit_decode(
        enc, len(raw), d.itemsize, sign_ext, fill_one, start_bit, bit_len
    )
    got = np.frombuffer(dec, dtype=f">u{d.itemsize}").astype(np.uint64)
    shift = start_bit - bit_len + 1
    full = np.uint64((1 << width) - 1)
    field = (u >> np.uint64(shift)) & np.uint64((1 << bit_len) - 1)
    low = np.uint64((1 << shift) - 1 if fill_one else 0)
    high_mask = np.uint64(((1 << width) - 1) ^ ((1 << (start_bit + 1)) - 1))
    sign = (field >> np.uint64(bit_len - 1)) & np.uint64(1)
    if sign_ext:
        high = np.where(sign == 1, high_mask, np.uint64(0))
    else:
        high = high_mask if fill_one else np.uint64(0)
    want = ((field << np.uint64(shift)) | low | high) & full
    assert np.array_equal(got, want)


# ---- round 12: QM coder + arithmetic JPEG + TIFF layouts + q-digest ----


@given(
    seed=st.integers(0, 2**31),
    n=st.integers(1, 3000),
    n_ctx=st.integers(1, 12),
    p_one=st.floats(0.0, 1.0),
)
@settings(**_SETTINGS)
def test_qmcoder_roundtrip_property(seed, n, n_ctx, p_one):
    """Any decision sequence over any context assignment round-trips
    losslessly, and encoder/decoder walk identical estimation-state
    trajectories (T.81 Annex D)."""
    from modis_aggregation_spark.sinks.qmcoder import QMDecoder, QMEncoder

    rng = np.random.default_rng(seed)
    decisions = (rng.random(n) < p_one).astype(int).tolist()
    contexts = rng.integers(0, n_ctx, n).tolist()
    enc = QMEncoder()
    enc_st = bytearray(n_ctx)
    for cx, d in zip(contexts, decisions):
        enc.encode(enc_st, cx, d)
    data = enc.flush()
    dec = QMDecoder(data)
    dec_st = bytearray(n_ctx)
    assert [dec.decode(dec_st, cx) for cx in contexts] == decisions
    assert enc_st == dec_st


@given(
    seed=st.integers(0, 2**31),
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    chans=st.sampled_from([1, 3]),
    quality=st.integers(30, 95),
    ri=st.sampled_from([0, 1, 3]),
)
@settings(**_SETTINGS)
def test_arithmetic_jpeg_equals_huffman_property(seed, h, w, chans, quality, ri):
    """For ANY image/quality/restart combination, the SOF9 arithmetic
    stream decodes pixel-identical to the SOF0/1 Huffman stream — the
    entropy layer is the only moving part."""
    from modis_aggregation_spark.sinks.jpeglite import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(seed)
    shape = (h, w) if chans == 1 else (h, w, chans)
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    ea = encode_jpeg(img, quality=quality, restart_interval=ri, arithmetic=True)
    eh = encode_jpeg(img, quality=quality, restart_interval=ri)
    assert np.array_equal(decode_jpeg(ea), decode_jpeg(eh))


@given(
    seed=st.integers(0, 2**31),
    h=st.integers(1, 48),
    w=st.integers(1, 48),
    chans=st.sampled_from([1, 3]),
    bits=st.sampled_from([8, 16]),
    comp=st.sampled_from(["none", "packbits", "lzw", "lzw2"]),
    planar=st.booleans(),
    tiled=st.booleans(),
)
@settings(**_SETTINGS)
def test_tiff_layout_roundtrip_property(seed, h, w, chans, bits, comp, planar, tiled):
    """Any (shape x depth x compression x planar x tiled) combination
    survives encode->decode bit-exactly."""
    from modis_aggregation_spark.sinks.tifflite import decode_tiff, encode_tiff

    rng = np.random.default_rng(seed)
    shape = (h, w) if chans == 1 else (h, w, chans)
    dt = np.uint8 if bits == 8 else np.uint16
    img = rng.integers(0, 1 << bits, shape).astype(dt)
    kw = dict(
        compression="lzw" if comp == "lzw2" else comp,
        predictor=2 if comp == "lzw2" else 1,
        planar=planar,
        rows_per_strip=int(rng.integers(1, 9)),
    )
    if tiled:
        kw["tile"] = (16, 16)
    out = decode_tiff(encode_tiff(img, **kw))
    assert out.dtype == img.dtype
    assert np.array_equal(out, img)


@given(
    seed=st.integers(0, 2**31),
    n=st.integers(0, 400),
    split=st.floats(0.1, 0.9),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_qdigest_local_merge_equals_full_property(seed, n, split):
    """Driver-side property of the canonical compression (no Spark):
    compressing the summed leaf tables of any split equals compressing
    the full multiset — the merge monoid's defining equation at the
    leaf layer."""
    import pandas as pd

    from modis_aggregation_spark.operators.screening import qdigest_compress

    u_bits, k = 8, 16
    rng = np.random.default_rng(seed)
    vals = rng.integers(0, 1 << u_bits, n)
    cut = int(n * split)

    def leaves(vs):
        from collections import Counter

        c = Counter(int(v) + (1 << u_bits) for v in vs)
        return dict(c)

    def compress_dict(c):
        # mirror of the operator's canonical sweep, driver-side
        c = dict(c)
        total = sum(c.values())
        t = max(1, total // k)
        for depth in range(u_bits, 0, -1):
            lo, hi = 1 << depth, 1 << (depth + 1)
            for p in {cell >> 1 for cell in list(c) if lo <= cell < hi}:
                cl, cr = c.get(2 * p, 0), c.get(2 * p + 1, 0)
                if cl + cr + c.get(p, 0) < t:
                    c[p] = c.get(p, 0) + cl + cr
                    c.pop(2 * p, None)
                    c.pop(2 * p + 1, None)
        return c

    a = leaves(vals[:cut])
    b = leaves(vals[cut:])
    summed = dict(a)
    for cell, cnt in b.items():
        summed[cell] = summed.get(cell, 0) + cnt
    assert compress_dict(summed) == compress_dict(leaves(vals))
