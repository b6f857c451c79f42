"""sziplite — pure-Python SZIP / CCSDS 121.0 extended-Rice codec.

Proof pattern mirrors the round-8 N-bit work: hand-derived bitstream
vectors pin every bit convention (ID widths, FS polarity, zero-block
run semantics incl. ROS, reference-sample placement, second-extension
gamma packing) so the encoder and decoder cannot share a hidden wrong
convention; round-trips sweep the parameter space.  No szip/libaec
binary exists in this container, so C-library cross-validation is
impossible — these vectors ARE the contract (documented in the module
docstring)."""

import numpy as np
import pytest

from modis_aggregation_spark.sinks.sziplite import (
    SZ_EC_OPTION_MASK,
    SZ_LSB_OPTION_MASK,
    SZ_MSB_OPTION_MASK,
    SZ_NN_OPTION_MASK,
    SZ_RAW_OPTION_MASK,
    szip_decode,
    szip_encode,
)

EC = SZ_EC_OPTION_MASK | SZ_MSB_OPTION_MASK
NN = SZ_NN_OPTION_MASK | SZ_MSB_OPTION_MASK


def _bits(s: str) -> bytes:
    """Test-local MSB-first bit assembler (independent of the module's
    _BitWriter): '0'/'1' string -> zero-padded bytes."""
    s = s.replace(" ", "")
    s += "0" * (-len(s) % 8)
    return bytes(int(s[i:i + 8], 2) for i in range(0, len(s), 8))


def _fs(v: int) -> str:
    return "0" * v + "1"


def test_known_answer_split_k1_decode():
    """8-bit EC block, sample-splitting k=1 (ID=k+1=2 over 3 ID bits):
    FS-coded high parts then one LSB per sample."""
    samples = [3, 1, 4, 1, 5, 9, 2, 6]
    stream = "010" + "".join(_fs(v >> 1) for v in samples) + "".join(
        str(v & 1) for v in samples
    )
    got = szip_decode(_bits(stream), 8, 8, 8, 8, EC)
    assert list(got) == samples


def test_known_answer_zero_block_runs():
    # ROS (fs=4): the rest of the scanline's blocks are zero
    assert szip_decode(_bits("000 0 " + _fs(4)), 16, 8, 4, 16, EC) == b"\0" * 16
    # literal run (fs=3 -> 4 blocks)
    assert szip_decode(_bits("000 0 " + _fs(3)), 16, 8, 4, 16, EC) == b"\0" * 16
    # two scanlines of 8 -> two independent ROS runs
    two = _bits("000 0 " + _fs(4) + " 000 0 " + _fs(4))
    assert szip_decode(two, 16, 8, 4, 8, EC) == b"\0" * 16


def test_known_answer_nn_reference_split_k0():
    """NN mode: reference sample raw after the ID, then J-1 FS-coded
    mapped deltas.  [10, 11, 9, 9] maps to deltas [2, 3, 0]."""
    stream = "001" + "00001010" + _fs(2) + _fs(3) + _fs(0)
    got = szip_decode(_bits(stream), 4, 8, 4, 4, NN)
    assert list(got) == [10, 11, 9, 9]


def test_known_answer_second_extension():
    """SE (low-entropy ID + selector 1): J/2 gammas, gamma =
    (d1+d2)(d1+d2+1)/2 + d2.  [1,0,2,1] -> gammas 1, 7."""
    stream = "000" + "1" + _fs(1) + _fs(7)
    got = szip_decode(_bits(stream), 4, 8, 4, 4, EC)
    assert list(got) == [1, 0, 2, 1]


def test_known_answer_uncompressed():
    samples = [255, 0, 255, 128]
    stream = "111" + "".join(format(v, "08b") for v in samples)
    got = szip_decode(_bits(stream), 4, 8, 4, 4, EC)
    assert list(got) == samples


def test_known_answer_16bit_id_width():
    """n=16 uses 4 ID bits and 2-byte big-endian samples: uncompressed
    block of [258, 0] = ID '1111' + 2x16 raw bits."""
    stream = "1111" + format(258, "016b") + format(0, "016b")
    got = szip_decode(_bits(stream), 4, 16, 2, 2, EC)
    assert got == (258).to_bytes(2, "big") + b"\0\0"


def test_roundtrip_parameter_sweep():
    rng = np.random.default_rng(42)
    cases = [
        (8, 8, 13, NN), (8, 8, 13, EC),
        (8, 16, 64, NN), (16, 16, 37, NN),
        (16, 32, 128, EC), (32, 8, 9, NN),
        (8, 8, 16, NN | SZ_LSB_OPTION_MASK & ~SZ_MSB_OPTION_MASK),
    ]
    for n, J, pps, mask in cases:
        mask = (mask | SZ_MSB_OPTION_MASK) if not (mask & SZ_LSB_OPTION_MASK) else mask
        size = {8: 1, 16: 2, 32: 4}[n]
        for total in (1, pps - 1, pps, 3 * pps + 5):
            vals = rng.integers(0, 1 << min(n, 30), total, dtype=np.uint64)
            order = "<" if mask & SZ_LSB_OPTION_MASK else ">"
            raw = vals.astype(f"{order}u{size}").tobytes()
            enc = szip_encode(raw, n, J, pps, mask)
            assert szip_decode(enc, len(raw), n, J, pps, mask) == raw, (
                n, J, pps, mask, total,
            )


def test_roundtrip_smooth_data_compresses():
    """NN preprocessing on smooth data must actually compress — the
    whole point of Rice coding on imagery-like fields."""
    x = (1000 + 40 * np.sin(np.arange(4096) / 50.0)).astype(">u2")
    raw = x.tobytes()
    enc = szip_encode(raw, 16, 16, 256, NN)
    assert len(enc) < len(raw) / 2
    assert szip_decode(enc, len(raw), 16, 16, 256, NN) == raw


def test_roundtrip_int16_bit_patterns():
    """Signed int16 SDS round-trips via its raw bit patterns (szip has
    no signed mode; HDF4 hands it the type's bits)."""
    rng = np.random.default_rng(7)
    x = rng.integers(-30000, 30000, 500, dtype=np.int16).astype(">i2")
    raw = x.tobytes()
    enc = szip_encode(raw, 16, 16, 100, NN)
    assert szip_decode(enc, len(raw), 16, 16, 100, NN) == raw


def test_zero_run_capped_at_segment_boundary():
    """A zero run may not cross a 64-block segment: 65 zero blocks in
    one scanline must decode from ROS + a second run, and the encoder
    must emit exactly that shape."""
    raw = b"\0" * (65 * 8)
    enc = szip_encode(raw, 8, 8, 65 * 8, EC)
    assert szip_decode(enc, len(raw), 8, 8, 65 * 8, EC) == raw
    # first segment: ID(0000...) is 4 bits '0000'? n=8 -> 3+1; ROS fs=4;
    # second segment: one zero block, run reaches scanline end -> ROS
    assert enc == _bits("000 0 " + _fs(4) + " 000 0 " + _fs(4))


def test_validation_raises():
    with pytest.raises(ValueError, match="exactly one"):
        szip_encode(b"\0", 8, 8, 8, SZ_MSB_OPTION_MASK)
    with pytest.raises(ValueError, match="even"):
        szip_encode(b"\0", 8, 7, 8, EC)
    with pytest.raises(NotImplementedError, match="RAW"):
        szip_decode(b"", 8, 8, 8, 8, EC | SZ_RAW_OPTION_MASK)
    with pytest.raises(ValueError, match="truncated"):
        szip_decode(b"", 8, 8, 8, 8, EC)
    with pytest.raises(ValueError, match="exceeds bits_per_pixel"):
        szip_encode(bytes([255]), 4, 8, 8, EC)
    # fs=5 is a literal run of 5 zero blocks; the scanline has 2
    with pytest.raises(ValueError, match="zero-block run of 5 blocks overruns"):
        szip_decode(_bits("000 0 " + _fs(5)), 16, 8, 8, 16, EC)
    with pytest.raises(ValueError, match="truncated inside an FS code"):
        szip_decode(_bits("010" + "0" * 12), 8, 8, 8, 8, EC)


def test_roundtrip_full_range_32bit():
    """32-bit samples near 2^32 (float bit patterns): the SE gamma is
    ~2^65 there — the assessment must use arbitrary-precision ints (an
    int64 wrap once chose SE with a wrapped gamma and emitted an
    astronomically long FS codeword)."""
    rng = np.random.default_rng(5)
    f32 = rng.normal(size=64).astype(">f4")
    raw = f32.tobytes()
    for mask in (EC, NN):
        enc = szip_encode(raw, 32, 16, 16, mask)
        assert szip_decode(enc, len(raw), 32, 16, 16, mask) == raw


def test_hdf5_szip_filter_chunk_decode():
    """hdf5lite's filter pipeline (round 11): the HDF5 szip filter
    (id 4) payload is a little-endian uint32 uncompressed size followed
    by the raw szip codestream; cd_values order is (options_mask,
    pixels_per_block, bits_per_pixel, pixels_per_scanline)."""
    import struct

    from modis_aggregation_spark.sinks.hdf5lite import _szip_filter_decode

    x = (500 + 20 * np.sin(np.arange(256) / 5.0)).astype(">u2")
    raw = x.tobytes()
    stream = szip_encode(raw, 16, 16, 32, NN)
    chunk = struct.pack("<I", len(raw)) + stream
    got = _szip_filter_decode(chunk, (NN, 16, 16, 32))
    assert got == raw
    with pytest.raises(ValueError, match="cd_values"):
        _szip_filter_decode(chunk, (NN, 16))
    with pytest.raises(ValueError, match="size word"):
        _szip_filter_decode(b"\x01", (NN, 16, 16, 32))


@pytest.mark.parametrize("mask", [NN, EC])
def test_oversized_scanline_claim_is_bounded(mask):
    """pixels_per_scanline comes from the file header unchecked; a value
    far beyond the samples present (a flipped high bit) must decode the
    same bytes as the true one, in time and memory bounded by the
    samples, not by the claimed scanline."""
    import time

    rng = np.random.default_rng(11)
    x = (3000 + np.cumsum(rng.integers(-40, 41, 5000))).astype(">u2")
    raw = x.tobytes()
    enc = szip_encode(raw, 16, 16, x.size, mask)
    t0 = time.perf_counter()
    for pps in (2**24 + x.size, 2**30):
        assert szip_decode(enc, len(raw), 16, 16, pps, mask) == raw
    assert time.perf_counter() - t0 < 10.0


# ---- every block option, through the encoder and back ---------------------

def _id_len(n):
    return 3 if n <= 8 else 4 if n <= 16 else 5


def _block_options(stream, n, J, pps, total, nn):
    """Walk the block headers of a codestream (test-local reading of the
    bit contract) and return the option of every coded block:
    ``("zero",)`` literal run, ``("ros",)`` rest-of-segment run,
    ``("segment",)`` a rest-of-segment run that stopped at a 64-block
    segment boundary before the scanline's end, ``("se",)``,
    ``("uncomp",)`` or ``("split", k)``."""
    s = "".join(f"{b:08b}" for b in stream)
    pos = 0

    def take(w):
        nonlocal pos
        pos += w
        return int(s[pos - w:pos] or "0", 2)

    def fs():
        nonlocal pos
        end = s.index("1", pos)
        v, pos = end - pos, end + 1
        return v

    id_len = _id_len(n)
    out = []
    for start in range(0, total, pps):
        blocks = -(-min(pps, total - start) // J)
        b = 0
        while b < blocks:
            ref = nn and b == 0
            ident = take(id_len)
            se = take(1) if ident == 0 else None
            if ref:
                take(n)
            if se == 0:
                z = fs() + 1
                if z == 5:
                    seg_end = (b // 64 + 1) * 64
                    out.append(("segment",) if seg_end < blocks else ("ros",))
                    z = min(blocks, seg_end) - b
                else:
                    out.append(("zero",))
                    z -= z > 5
                b += z
                continue
            if se == 1:
                out.append(("se",))
                for _ in range(J // 2):
                    fs()
            elif ident == (1 << id_len) - 1:
                out.append(("uncomp",))
                take((J - ref) * n)
            else:
                out.append(("split", ident - 1))
                for _ in range(J - ref):
                    fs()
                take((J - ref) * (ident - 1))
            b += 1
    return out


def _unmap(m, pred, xmax):
    """Inverse of the CCSDS unit-delay mapper for one sample."""
    theta = min(pred, xmax - pred)
    if m <= 2 * theta:
        return pred + m // 2 if m % 2 == 0 else pred - (m + 1) // 2
    return m if theta == pred else xmax - m


def _shaped_mapped(rng, n, J, pps, total):
    """Mapped residuals laid out block by block so that the encoder's
    cheapest option is, block for block, one of: a zero run (lengths up
    to 70 blocks, so runs reach and cross 64-block segments), a
    second-extension block (one 1 among zeros), an uncompressed block
    (uniform over the n-bit range) or a split block for each k it can
    choose (values in [3*2^(k-1), 2^(k+1)) make k strictly cheapest;
    uncompressed wins once k > n - 3)."""
    xmax = (1 << n) - 1
    k_max = min(n - 1, (1 << _id_len(n)) - 3)
    kinds = ["se", "uncomp"] + [("split", k) for k in range(min(k_max, n - 3) + 1)]
    out = []
    for start in range(0, total, pps):
        ns = min(pps, total - start)
        row = []
        # every scanline: one block of each kind, then random kinds and runs
        todo = list(kinds) + [kinds[i] for i in rng.integers(0, len(kinds), 3)]
        rng.shuffle(todo)
        while len(row) < ns:
            kind = todo.pop() if todo else (
                "zero" if rng.random() < 0.4 else kinds[rng.integers(len(kinds))])
            if kind == "zero":
                row += [0] * (J * int(rng.integers(1, 71)))
            elif kind == "se":
                blk = [0] * J
                blk[int(rng.integers(J))] = 1
                row += blk
            elif kind == "uncomp":
                row += rng.integers(0, xmax + 1, J).tolist()
            else:
                k = kind[1]
                lo = 1 if k == 0 else 3 << (k - 1)
                row += rng.integers(lo, 2 << k, J).tolist()
        out.append(row[:ns])
    return out


_EXPECTED_OPTIONS = (
    {("zero",), ("ros",), ("segment",), ("se",), ("uncomp",)}
    | {("split", k) for k in range(30)}
)


@pytest.mark.parametrize("mode", ["NN", "EC"])
def test_roundtrip_every_block_option(mode):
    """Hypothesis round-trip over every block option: n 1..32, even J
    2..32, a scanline that is not a whole number of blocks and a total
    that is not a whole number of scanlines, MSB and LSB order, with
    residuals shaped so the encoder emits zero runs across 64-block
    segment boundaries, second-extension, uncompressed and split blocks
    for every k it can choose. The corpus must actually hit each
    option, so no decode path goes unexercised."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    nn = mode == "NN"
    hits = set()

    @given(
        n=st.integers(1, 32),
        J=st.sampled_from(range(2, 33, 2)),
        nblk=st.integers(1, 70),
        nsl=st.integers(1, 3),
        lsb=st.booleans(),
        seed=st.integers(0, 2**32 - 1),
    )
    @example(n=32, J=16, nblk=70, nsl=1, lsb=False, seed=1)
    @example(n=16, J=32, nblk=66, nsl=2, lsb=True, seed=2)
    @example(n=8, J=8, nblk=65, nsl=1, lsb=False, seed=3)
    @settings(max_examples=40, deadline=None)
    def prop(n, J, nblk, nsl, lsb, seed):
        rng = np.random.default_rng(seed)
        pps = J * nblk + int(rng.integers(1, J))  # not a multiple of J
        total = pps * nsl + int(rng.integers(1, pps))  # nor of pps
        xmax = (1 << n) - 1
        samples = []
        for row in _shaped_mapped(rng, n, J, pps, total):
            if nn:
                x = [int(rng.integers(0, xmax + 1))]
                for m in row[1:]:
                    x.append(_unmap(m, x[-1], xmax))
                row = x
            samples += row
        order = "<" if lsb else ">"
        size = 1 if n <= 8 else 2 if n <= 16 else 4
        raw = np.array(samples, dtype=np.uint64).astype(f"{order}u{size}").tobytes()
        mask = (SZ_NN_OPTION_MASK if nn else SZ_EC_OPTION_MASK) | (
            SZ_LSB_OPTION_MASK if lsb else SZ_MSB_OPTION_MASK)
        enc = szip_encode(raw, n, J, pps, mask)
        assert szip_decode(enc, len(raw), n, J, pps, mask) == raw
        hits.update(_block_options(enc, n, J, pps, len(samples), nn))

    prop()
    assert hits >= _EXPECTED_OPTIONS, sorted(_EXPECTED_OPTIONS - hits)


def test_szip_granule_decodes_to_quantized_synth(tmp_path, monkeypatch):
    """A ``layout="szip"`` granule (chunked int16 science variables and a
    whole-element cloud-mask byte, all SZIP) reads back to exactly
    ``synth_granule``'s int16 x0.1 quantization."""
    from modis_aggregation_spark.sinks import sziplite
    from modis_aggregation_spark.sinks.hdf4lite import read_hdf4
    from modis_aggregation_spark.sources.granule_datasource import (
        synth_granule,
        write_granule_hdf4,
    )

    variables, rows, cols = ["ctp", "cth"], 37, 29
    write_granule_hdf4(str(tmp_path), 7001, variables, rows=rows, cols=cols,
                       layout="szip")
    calls = []
    decode = sziplite.szip_decode
    monkeypatch.setattr(sziplite, "szip_decode",
                        lambda *a: calls.append(a) or decode(*a))
    ds = read_hdf4(str(tmp_path / "granule_7001.hdf"))
    assert len(calls) == 1 + 6 * len(variables)  # mask byte + 6 chunks each
    data = synth_granule(7001, variables, rows, cols)
    for v in variables:
        want = np.where(np.isnan(data[v]), -9999, np.round(data[v] * 10.0))
        got = ds[v].data
        assert got.dtype == np.int16 and got.shape == (rows, cols)
        assert np.array_equal(got.ravel(), want.astype(np.int16))
    assert np.array_equal(ds["Cloud_Mask_Byte0"].data.ravel(), data["cm_raw"])
