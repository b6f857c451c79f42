"""hdf4lite codec + decoder=hdf scan path.

Proof pattern mirrors the round-3 HDF5 path (no HDF4 ground-truth file
exists in this environment): writer→reader round-trip at the byte level,
MYD06-style calibration decoded per the reference's HDF convention
(``(raw − add_offset) × scale_factor`` after fill→NaN, reference
``aggregate_functions.py:103-113``), and a real-file granule scan proven
row-identical to the in-memory fake decoder on identical content."""

import struct

import numpy as np
import pytest

from modis_aggregation_spark.sinks.hdf4lite import (
    MAGIC,
    H4Dataset,
    read_hdf4,
    read_hdf4_file_attrs,
    write_hdf4,
)


def test_roundtrip_dtypes_and_attrs(tmp_path):
    p = str(tmp_path / "t.hdf")
    rng = np.random.default_rng(3)
    arrs = {
        "f64": rng.normal(size=(4, 5)).astype(np.float64),
        "f32": rng.normal(size=(3,)).astype(np.float32),
        "i16": rng.integers(-1000, 1000, (2, 3, 4)).astype(np.int16),
        "u8": rng.integers(0, 255, (6,)).astype(np.uint8),
        "i32": rng.integers(-7, 7, (5, 2)).astype(np.int32),
    }
    write_hdf4(
        p,
        {
            k: (v, {"long_name": k, "rank": int(v.ndim)})
            for k, v in arrs.items()
        },
        file_attrs={"title": "roundtrip", "version": 4},
    )
    ds = read_hdf4(p)
    assert set(ds) == set(arrs)
    for k, v in arrs.items():
        assert ds[k].shape == v.shape
        assert ds[k].data.dtype == v.dtype
        assert np.array_equal(ds[k].data, v)
        assert ds[k].attrs["long_name"] == k
        assert ds[k].attrs["rank"] == v.ndim
    assert read_hdf4_file_attrs(p) == {"title": "roundtrip", "version": 4}


def test_myd06_style_calibration_attrs(tmp_path):
    """MYD06-shaped SDS: int16 raw + scale/offset/fill attributes survive
    the container and decode to the reference's calibrated values."""
    p = str(tmp_path / "myd06.hdf")
    raw = np.array([[100, -32768, 9500], [0, 11000, 42]], dtype=np.int16)
    write_hdf4(
        p,
        {
            "Cloud_Top_Pressure": (
                raw,
                {
                    "units": "hPa",
                    "long_name": "Cloud Top Pressure",
                    "scale_factor": 0.1,
                    "add_offset": 0.0,
                    "_FillValue": np.int16(-32768),
                    "valid_range": np.array([0, 11000], dtype=np.int32),
                },
            )
        },
    )
    d = read_hdf4(p)["Cloud_Top_Pressure"]
    assert d.data.dtype == np.int16 and np.array_equal(d.data, raw)
    a = d.attrs
    assert a["units"] == "hPa" and a["scale_factor"] == 0.1
    assert a["_FillValue"] == -32768 and list(a["valid_range"]) == [0, 11000]
    vals = d.data.astype(np.float64)
    vals[vals == a["_FillValue"]] = np.nan
    cal = (vals - a["add_offset"]) * a["scale_factor"]
    assert cal[0, 0] == pytest.approx(10.0)
    assert np.isnan(cal[0, 1])
    assert cal[1, 1] == pytest.approx(1100.0)


def _write_raw(path, elements):
    ndd = len(elements)
    start = 4 + 6 + 12 * ndd
    dd, payload, pos = [], [], start
    for tag, ref, body in elements:
        dd.append(struct.pack(">HHII", tag, ref, pos, len(body)))
        payload.append(body)
        pos += len(body)
    with open(path, "wb") as fh:
        fh.write(
            MAGIC + struct.pack(">hI", ndd, 0) + b"".join(dd) + b"".join(payload)
        )


def _minimal_sds_elements(h4, special_sd_body):
    """One float32 SDS whose SD data element is the given SPECIAL body."""
    nt = struct.pack(">BBBB", 1, 5, 32, 1)
    sdd = struct.pack(">H", 1) + struct.pack(">I", 2)
    sdd += struct.pack(">HH", h4.TAG_NT, 2) * 2
    ndg = struct.pack(">HHHH", h4.TAG_SDD, 2, h4.TAG_SD, 2)
    return [
        (h4.TAG_NT, 2, nt),
        (h4.TAG_SDD, 2, sdd),
        (h4.TAG_SD | h4.SPECIAL_BIT, 2, special_sd_body),
        (h4.TAG_NDG, 2, ndg),
    ]


def test_unsupported_special_kinds_raise(tmp_path):
    """Unknown special-element kinds must raise loudly when referenced —
    a guessed decode would be worse than a gate (CLAUDE.md rule 5).
    (Linked-block left this list in round 6, external in round 7 — see
    their round-trip tests.)"""
    import modis_aggregation_spark.sinks.hdf4lite as h4

    body = struct.pack(">H", 99) + b"\x00" * 12
    p = str(tmp_path / "sp_kind99.hdf")
    _write_raw(p, _minimal_sds_elements(h4, body))
    with pytest.raises(NotImplementedError, match="kind 99"):
        read_hdf4(p)


def test_non_deflate_compression_raises(tmp_path):
    """SPECIAL_COMP with the still-gated codec (Skipping-Huffman) raises;
    RLE left this gate in round 7, SZIP in round 11."""
    import modis_aggregation_spark.sinks.hdf4lite as h4

    body = struct.pack(">HHiHHH", h4.SPECIAL_COMP, 0, 8, 3, 0, 3)
    p = str(tmp_path / "skphuff.hdf")
    elements = _minimal_sds_elements(h4, body)
    elements.append((h4.TAG_COMPRESSED, 3, b"\x00" * 4))
    _write_raw(p, elements)
    with pytest.raises(NotImplementedError, match="Skipping-Huffman"):
        read_hdf4(p)


def test_rle_codestream_roundtrip():
    """The byte-run codec round-trips adversarial inputs: empty, all
    boundary run lengths (3 = min run, 130 = max run, 131 = max + 1
    spills into a second block), max literal block (128), runs abutting
    literals, and incompressible bytes."""
    from modis_aggregation_spark.sinks.hdf4lite import rle_decode, rle_encode

    cases = [
        b"",
        b"x",
        b"ab",
        b"a" * 3,
        b"a" * 130,
        b"a" * 131,
        b"a" * 1000,
        bytes(range(128)),
        bytes(range(256)) * 2,
        b"lit" + b"r" * 7 + b"tail",
        b"ab" * 64 + b"\x00" * 5 + b"ab" * 64,
    ]
    for data in cases:
        enc = rle_encode(data)
        assert rle_decode(enc, len(data)) == data
    # run blocks actually compress: 1000 identical bytes → 8 blocks of 2
    assert len(rle_encode(b"a" * 1000)) == 2 * 8


def test_rle_truncated_codestream_raises():
    from modis_aggregation_spark.sinks.hdf4lite import rle_decode

    with pytest.raises(ValueError, match="truncated run"):
        rle_decode(b"\x85")  # run block with no value byte
    with pytest.raises(ValueError, match="truncated literal"):
        rle_decode(b"\x05abc")  # literal block promising 6 bytes
    with pytest.raises(ValueError, match="decoded"):
        rle_decode(b"\x00a", raw_len=5)  # raw_len mismatch


def test_rle_roundtrip_all_dtypes(tmp_path):
    """compress='rle' files round-trip every supported dtype with
    attributes intact (the deflate round-trip test's twin)."""
    arrays = {
        "i16": (np.arange(60, dtype=np.int16).reshape(6, 10) % 5, {"u": "x"}),
        "f32": (np.ones((4, 4), dtype=np.float32) * 2.5, {}),
        "f64": (np.linspace(0, 1, 12).reshape(3, 4), {}),
        "u8": (np.zeros((8, 8), dtype=np.uint8), {}),
    }
    p = str(tmp_path / "rle.hdf")
    write_hdf4(p, arrays, compress="rle")
    got = read_hdf4(p)
    for name, (arr, attrs) in arrays.items():
        assert np.array_equal(got[name].data, arr), name
        for k, v in attrs.items():
            assert got[name].attrs[k] == v


def test_external_roundtrip_and_errors(tmp_path):
    """External special elements: data round-trips through the companion
    file; a deleted companion raises FileNotFoundError naming both
    paths; an in-memory parse (no directory context) raises."""
    import modis_aggregation_spark.sinks.hdf4lite as h4

    arr = np.arange(35, dtype=np.int16).reshape(5, 7)
    p = str(tmp_path / "ext.hdf")
    write_hdf4(p, {"ctp": (arr, {"units": "hPa"})},
               external={"ctp": "ctp_raw.dat"})
    got = read_hdf4(p)
    assert np.array_equal(got["ctp"].data, arr)
    assert got["ctp"].attrs["units"] == "hPa"
    assert (tmp_path / "ctp_raw.dat").exists()

    # no directory context (in-memory blob) → loud error, not a guess
    with open(p, "rb") as fh:
        buf = fh.read()
    with pytest.raises(ValueError, match="no directory context"):
        h4._H4Reader(buf).read()

    (tmp_path / "ctp_raw.dat").unlink()
    with pytest.raises(FileNotFoundError, match="ctp_raw.dat"):
        read_hdf4(p)


def test_external_writer_rejects_paths(tmp_path):
    """Companion filenames must be bare names (written next to the .hdf);
    absolute or directory-qualified names are rejected."""
    arr = np.zeros((2, 2), dtype=np.int16)
    for bad in ("/abs/path.dat", "sub/dir.dat"):
        with pytest.raises(ValueError, match="bare name"):
            write_hdf4(str(tmp_path / "x.hdf"), {"a": (arr, {})},
                       external={"a": bad})
    with pytest.raises(ValueError, match="raw bytes by design"):
        write_hdf4(str(tmp_path / "x.hdf"), {"a": (arr, {})},
                   external={"a": "a.dat"}, compress=6)


def test_compressed_roundtrip_all_dtypes(tmp_path):
    """Deflate special-element storage round-trips bit-exactly and the
    codestream actually shrinks compressible data."""
    import os

    p = str(tmp_path / "comp.hdf")
    pc = str(tmp_path / "contig.hdf")
    arrs = {
        "zeros": np.zeros((64, 64), dtype=np.float64),
        "ramp": np.arange(4096, dtype=np.int16).reshape(64, 64),
        "u32": (np.arange(300, dtype=np.uint32) % 7).reshape(15, 20),
    }
    dsets = {k: (v, {"long_name": k}) for k, v in arrs.items()}
    write_hdf4(p, dsets, file_attrs={"layout": "deflate"}, compress=True)
    write_hdf4(pc, dsets, file_attrs={"layout": "deflate"})
    assert os.path.getsize(p) < os.path.getsize(pc) / 4
    ds = read_hdf4(p)
    for k, v in arrs.items():
        assert ds[k].data.dtype == v.dtype
        assert np.array_equal(ds[k].data, v)
        assert ds[k].attrs["long_name"] == k


def test_chunked_roundtrip_edge_crop(tmp_path):
    """Chunked(+deflate) storage with a NON-divisor chunk shape: edge
    chunks are stored padded and must crop back bit-exactly."""
    rng = np.random.default_rng(11)
    arrs = {
        "f64": rng.normal(size=(13, 7)),
        "i16_3d": rng.integers(-9, 9, (5, 6, 4)).astype(np.int16),
        "vec": rng.integers(0, 255, (17,)).astype(np.uint8),
    }
    chunks = {"f64": (5, 3), "i16_3d": (2, 4, 3), "vec": (6,)}
    for level in (0, 6):
        p = str(tmp_path / f"chunk{level}.hdf")
        write_hdf4(
            p,
            {k: (v, {"n": k}) for k, v in arrs.items()},
            compress=level,
            chunks=chunks,
        )
        ds = read_hdf4(p)
        for k, v in arrs.items():
            assert ds[k].data.dtype == v.dtype
            assert np.array_equal(ds[k].data, v), (level, k)


def test_chunked_missing_chunk_reads_fill(tmp_path):
    """A chunk absent from the chunk table reads as the header's fill
    value (HDF4 semantics for never-written chunks)."""
    import modis_aggregation_spark.sinks.hdf4lite as h4

    p = str(tmp_path / "holes.hdf")
    arr = np.arange(16, dtype=np.int32).reshape(4, 4)
    write_hdf4(p, {"v": (arr, {})}, chunks={"v": (2, 2)})
    raw = bytearray(open(p, "rb").read())
    # drop the last chunk-table record (origin (1,1)) by decrementing the
    # VH record count — the reader must fill that 2x2 block with zeros
    rd = h4._H4Reader(bytes(raw))
    vh_refs = [r for (t, r) in rd.dds if t == h4.TAG_VH]
    off, _ln = rd.dds[(h4.TAG_VH, vh_refs[0])]
    (nvert,) = struct.unpack_from(">I", raw, off + 2)
    assert nvert == 4
    struct.pack_into(">I", raw, off + 2, 3)
    open(p, "wb").write(bytes(raw))
    got = read_hdf4(p)["v"].data
    want = arr.copy()
    want[2:, 2:] = 0
    assert np.array_equal(got, want)


def test_bad_magic_raises(tmp_path):
    p = tmp_path / "bad.hdf"
    p.write_bytes(b"\x89HDF\r\n")
    with pytest.raises(ValueError, match="magic"):
        read_hdf4(str(p))


def test_dd_chain_cycle_raises(tmp_path):
    """A DD block whose next-block offset points back into the chain is
    malformed; following it would never end."""
    p = tmp_path / "loop.hdf"
    write_hdf4(str(p), {"v": (np.arange(6, dtype=np.int16), {})})
    blob = bytearray(p.read_bytes())
    struct.pack_into(">I", blob, 6, 4)  # first block's next -> itself
    p.write_bytes(bytes(blob))
    with pytest.raises(ValueError, match="loops"):
        read_hdf4(str(p))


def test_dfsd_fallback_names_from_label(tmp_path):
    """An NDG outside any Var0.0 vgroup (old DFSD API layout) is read and
    named from its DFTAG_SDL label."""
    import modis_aggregation_spark.sinks.hdf4lite as h4

    p = str(tmp_path / "old.hdf")
    arr = np.arange(6, dtype=np.float32).reshape(2, 3)
    elements = []
    nt = struct.pack(">BBBB", 1, 5, 32, 1)
    elements.append((h4.TAG_NT, 2, nt))
    sdd = struct.pack(">H", 2) + struct.pack(">2I", 2, 3)
    sdd += struct.pack(">HH", h4.TAG_NT, 2) * 3
    elements.append((h4.TAG_SDD, 2, sdd))
    elements.append((h4.TAG_SD, 2, arr.astype(">f4").tobytes()))
    elements.append((h4.TAG_SDL, 2, b"legacy_var\x00"))
    ndg = struct.pack(
        ">HHHHHH", h4.TAG_SDD, 2, h4.TAG_SD, 2, h4.TAG_SDL, 2
    )
    elements.append((h4.TAG_NDG, 2, ndg))
    ndd = len(elements)
    start = 4 + 6 + 12 * ndd
    dd, payload, pos = [], [], start
    for tag, ref, body in elements:
        dd.append(struct.pack(">HHII", tag, ref, pos, len(body)))
        payload.append(body)
        pos += len(body)
    with open(p, "wb") as fh:
        fh.write(MAGIC + struct.pack(">hI", ndd, 0) + b"".join(dd) + b"".join(payload))
    ds = read_hdf4(p)
    assert set(ds) == {"legacy_var"}
    assert np.array_equal(ds["legacy_var"].data, arr)


def test_hdf4_decoder_equals_fake_scan(spark, tmp_path):
    """decoder=hdf reads REAL HDF4 granule files (written by hdf4lite in
    the MYD06 container shape) and must equal the in-memory fake decoder
    row-for-row — the equivalence proof for the physical HDF4 decode
    path, same pattern as the round-3 decoder=hdf5 proof."""
    from modis_aggregation_spark.sources.granule_datasource import (
        GranuleDataSource,
        synth_granule,
        write_granule_hdf4,
    )

    spark.dataSource.register(GranuleDataSource)
    for gid in (7, 9):
        write_granule_hdf4(str(tmp_path), gid, ["ctp"], rows=12, cols=9)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    real = (
        spark.read.format("modis_granules")
        .option("granule_ids", "7,9")
        .option("decoder", "hdf")
        .option("path", str(tmp_path))
        .option("variables", "ctp")
        .load()
    )
    got = real.orderBy("granule_id", "i", "j").collect()
    want = []
    for gid in (7, 9):
        d = synth_granule(gid, ["ctp"], rows=12, cols=9)
        for r in range(d["lat"].size):
            want.append((gid, d["i"][r], d["j"][r], d["lat"][r], d["lon"][r],
                         d["cm_raw"][r], d["ctp"][r]))
    assert len(got) == len(want) == 2 * 12 * 9
    for g, w in zip(got, want):
        assert (g["granule_id"], g["i"], g["j"]) == (w[0], w[1], w[2])
        assert g["lat"] == w[3] and g["lon"] == w[4]  # float64 bit-exact
        assert g["cm_raw"] == w[5]
        if np.isnan(w[6]):
            assert g["ctp"] is None  # fill hole → NULL at the source
        else:
            assert g["ctp"] == w[6]


def test_chunked_granule_scan_equals_contiguous(spark, tmp_path):
    """Cross-container equality, the s9 proof pattern extended to the
    archive layout: the SAME granule content written contiguous,
    deflate-compressed, and chunked+deflated must produce byte-identical
    rows through the decoder=hdf scan — standing in for the absent NASA
    ground-truth file (reference reads chunked+deflated granules via
    netCDF4, reference ``aggregate_functions.py:99-122``)."""
    from modis_aggregation_spark.sources.granule_datasource import (
        GranuleDataSource,
        write_granule_hdf4,
    )

    spark.dataSource.register(GranuleDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    results = {}
    for layout in ("contiguous", "compressed", "chunked", "rle", "external"):
        d = tmp_path / layout
        d.mkdir()
        for gid in (5, 6):
            write_granule_hdf4(str(d), gid, ["ctp"], rows=11, cols=7,
                               layout=layout)
        df = (
            spark.read.format("modis_granules")
            .option("granule_ids", "5,6")
            .option("decoder", "hdf")
            .option("path", str(d))
            .option("variables", "ctp")
            .load()
        )
        results[layout] = df.orderBy("granule_id", "i", "j").collect()
    assert len(results["contiguous"]) == 2 * 11 * 7
    for layout in ("compressed", "chunked", "rle", "external"):
        assert results[layout] == results["contiguous"], layout


def test_hdf4_decoder_pushdown_prunes_files(spark, tmp_path):
    """granule_id pushdown must prune which FILES are opened — a missing
    file for a pruned id proves the partition never read it."""
    from modis_aggregation_spark.sources.granule_datasource import (
        GranuleDataSource,
        write_granule_hdf4,
    )

    spark.dataSource.register(GranuleDataSource)
    write_granule_hdf4(str(tmp_path), 3, ["ctp"], rows=6, cols=5)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = (
        spark.read.format("modis_granules")
        .option("granule_ids", "3,4")
        .option("decoder", "hdf")
        .option("path", str(tmp_path))
        .option("variables", "ctp")
        .load()
        .filter("granule_id = 3")
    )
    assert df.count() == 30


def test_oversized_attribute_raises_loudly(tmp_path):
    """Vdata field order/size are 16-bit in the container; a
    CoreMetadata-style multi-64KB attribute must raise OverflowError,
    not die inside struct.pack."""
    p = str(tmp_path / "big.hdf")
    with pytest.raises(OverflowError, match="16-bit"):
        write_hdf4(
            p, {"v": (np.zeros((2, 2)), {"meta": "x" * 70_000})}
        )


def test_linked_roundtrip_block_geometries(tmp_path):
    """Linked-block storage across block/table geometries: single
    table, chained single-entry tables, short trailing block, and a
    block larger than the element — all bit-exact."""
    rng = np.random.default_rng(23)
    arrs = {
        "f64": rng.normal(size=(13, 7)),
        "i16": rng.integers(-9999, 9999, (37, 23)).astype(np.int16),
        "vec": rng.integers(0, 255, (17,)).astype(np.uint8),
    }
    for blk_len, num_blk in ((256, 4), (100, 1), (7, 3), (1 << 20, 2)):
        p = str(tmp_path / f"lk_{blk_len}_{num_blk}.hdf")
        write_hdf4(
            p,
            {k: (v, {"n": k}) for k, v in arrs.items()},
            linked={k: (blk_len, num_blk) for k in arrs},
        )
        ds = read_hdf4(p)
        for k, v in arrs.items():
            assert ds[k].data.dtype == v.dtype
            assert np.array_equal(ds[k].data, v), (blk_len, num_blk, k)
            assert ds[k].attrs["n"] == k


def test_linked_equals_contiguous_bytes(tmp_path):
    """Cross-container equality (the chunked-scan proof pattern): the
    same datasets through linked and contiguous layouts must read back
    identical arrays and attributes."""
    rng = np.random.default_rng(31)
    data = {
        "ctp": (rng.integers(-3000, 3000, (30, 20)).astype(np.int16),
                {"scale_factor": 0.01, "add_offset": 15.0}),
        "cf": (rng.random((30, 20)).astype(np.float32), {}),
    }
    pl = str(tmp_path / "linked.hdf")
    pc = str(tmp_path / "contig.hdf")
    write_hdf4(pl, data, linked={"ctp": (64, 3), "cf": (640, 2)})
    write_hdf4(pc, data)
    dl, dc = read_hdf4(pl), read_hdf4(pc)
    for k in data:
        assert np.array_equal(dl[k].data, dc[k].data), k
        assert dl[k].attrs == dc[k].attrs


def test_linked_zero_ref_slot_reads_zeros(tmp_path):
    """A 0 block ref in a table is an unallocated (sparse-append) slot
    and reads as zero bytes."""
    import modis_aggregation_spark.sinks.hdf4lite as h4

    p = str(tmp_path / "sparse.hdf")
    arr = np.arange(12, dtype=np.int32)  # 48 bytes
    write_hdf4(p, {"v": (arr, {})}, linked={"v": (16, 4)})
    raw = bytearray(open(p, "rb").read())
    rd = h4._H4Reader(bytes(raw))
    # the block table is the DFTAG_LINKED element of table size
    tbl = [
        (r, off, ln)
        for (t, r), (off, ln) in rd.dds.items()
        if t == h4.TAG_LINKED and ln == 2 + 2 * 4
    ]
    assert len(tbl) == 1
    _r, off, _ln = tbl[0]
    # zero out the SECOND block's ref (bytes 16..31 of the element)
    struct.pack_into(">H", raw, off + 2 + 2, 0)
    open(p, "wb").write(bytes(raw))
    got = read_hdf4(p)["v"].data
    want = arr.copy()
    want[4:8] = 0
    assert np.array_equal(got, want)


def test_linked_malformed_raises(tmp_path):
    import modis_aggregation_spark.sinks.hdf4lite as h4

    # header with zero blk_len
    body = struct.pack(">HiiiiH", h4.SPECIAL_LINKED, 8, 8, 0, 4, 3)
    p = str(tmp_path / "badlk.hdf")
    _write_raw(p, _minimal_sds_elements(h4, body))
    with pytest.raises(ValueError, match="malformed"):
        read_hdf4(p)
    # table chain ends before length satisfied
    body = struct.pack(">HiiiiH", h4.SPECIAL_LINKED, 64, 16, 16, 2, 3)
    tblbody = struct.pack(">HHH", 0, 4, 0)  # next=0, one block ref + hole
    els = _minimal_sds_elements(h4, body)
    els.append((h4.TAG_LINKED, 3, tblbody))
    els.append((h4.TAG_LINKED, 4, b"\x01" * 16))
    p2 = str(tmp_path / "short.hdf")
    _write_raw(p2, els)
    with pytest.raises(ValueError, match="tables exhausted"):
        read_hdf4(p2)
    # writer guards
    with pytest.raises(ValueError, match="both linked and chunked"):
        write_hdf4(
            str(tmp_path / "x.hdf"),
            {"v": (np.zeros(4), {})},
            chunks={"v": (2,)},
            linked={"v": (8, 2)},
        )
    with pytest.raises(ValueError, match="uncompressed by design"):
        write_hdf4(
            str(tmp_path / "y.hdf"),
            {"v": (np.zeros(4), {})},
            compress=6,
            linked={"v": (8, 2)},
        )


def test_nbit_known_answer_bitstream():
    """Hand-derived vectors pin the NBIT bit conventions so the encoder
    and decoder cannot share a hidden wrong convention: uint16 elements,
    field = bits 8..4 (start_bit=8, bit_len=5, HDF4 numbering: bit 0 =
    element LSB), fields packed MSB-first across elements, final byte
    zero-padded.

      0x05A0 -> field 11010 ; 0xFFFF -> 11111 ; 0x0000 -> 00000
      stream = 11010 11111 00000 (15 bits) = 0xD7 0xC0
    """
    from modis_aggregation_spark.sinks.hdf4lite import (
        nbit_decode,
        nbit_encode,
    )

    raw = struct.pack(">3H", 0x05A0, 0xFFFF, 0x0000)
    enc = nbit_encode(raw, 2, start_bit=8, bit_len=5)
    assert enc == bytes([0xD7, 0xC0])
    # zero background
    dec = nbit_decode(enc, 6, 2, False, False, 8, 5)
    assert struct.unpack(">3H", dec) == (0x01A0, 0x01F0, 0x0000)
    # ones background
    dec1 = nbit_decode(enc, 6, 2, False, True, 8, 5)
    assert struct.unpack(">3H", dec1) == (0xFFAF, 0xFFFF, 0xFE0F)
    # sign extension overrides the background above start_bit
    decs = nbit_decode(enc, 6, 2, True, False, 8, 5)
    assert struct.unpack(">3H", decs) == (0xFFA0, 0xFFF0, 0x0000)


def test_nbit_signed_roundtrip_semantics():
    """5-bit two's-complement fields in int16 with sign_ext recover the
    original negative values exactly (the SDsetnbitdataset use case)."""
    from modis_aggregation_spark.sinks.hdf4lite import (
        nbit_decode,
        nbit_encode,
    )

    vals = np.array([-16, -5, -1, 0, 1, 7, 15], dtype=">i2")
    enc = nbit_encode(vals.tobytes(), 2, start_bit=4, bit_len=5)
    dec = nbit_decode(enc, vals.nbytes, 2, True, False, 4, 5)
    out = np.frombuffer(dec, dtype=">i2")
    assert np.array_equal(out, vals)


def test_nbit_roundtrip_geometries():
    """Byte-straddling fields, every supported integer width, odd
    element counts (padding), full-width fields (identity)."""
    from modis_aggregation_spark.sinks.hdf4lite import (
        nbit_decode,
        nbit_encode,
    )

    rng = np.random.default_rng(8)
    cases = [
        (">u1", 7, 3), (">u1", 7, 8),          # full byte / identity
        (">u2", 11, 7), (">u2", 8, 2),         # straddles the byte seam
        (">i2", 12, 9),
        (">u4", 27, 13), (">i4", 30, 22),      # multi-byte straddles
    ]
    for dt, start_bit, bit_len in cases:
        d = np.dtype(dt)
        for n in (1, 5, 8, 33):
            lo, hi = (0, 2 ** min(8 * d.itemsize, 31) - 1)
            arr = rng.integers(lo, hi, n).astype(dt)
            raw = arr.tobytes()
            enc = nbit_encode(raw, d.itemsize, start_bit, bit_len)
            assert len(enc) == -(-n * bit_len // 8)
            dec = nbit_decode(
                enc, len(raw), d.itemsize, False, False, start_bit, bit_len
            )
            # the stored field survives exactly; everything else is 0
            width = 8 * d.itemsize
            mask = ((1 << bit_len) - 1) << (start_bit - bit_len + 1)
            mask &= (1 << width) - 1
            got = np.frombuffer(dec, dtype=dt).astype(f">u{d.itemsize}")
            want = arr.astype(f">u{d.itemsize}")
            assert np.array_equal(
                got, want & np.array(mask, dtype=f">u{d.itemsize}")
            ), (dt, start_bit, bit_len, n)


def test_nbit_invalid_inputs_raise():
    from modis_aggregation_spark.sinks.hdf4lite import (
        nbit_decode,
        nbit_encode,
    )

    with pytest.raises(ValueError, match="does not fit"):
        nbit_encode(b"\x00\x00", 2, start_bit=16, bit_len=4)
    with pytest.raises(ValueError, match="does not fit"):
        nbit_encode(b"\x00\x00", 2, start_bit=3, bit_len=5)
    with pytest.raises(ValueError, match="not a multiple"):
        nbit_encode(b"\x00\x00\x00", 2, start_bit=8, bit_len=4)
    with pytest.raises(ValueError, match="codestream holds"):
        nbit_decode(b"\x00", 4, 2, False, False, 8, 5)


def test_nbit_file_roundtrip_and_contiguous_twin(tmp_path):
    """write_hdf4(nbit=...) -> read_hdf4 recovers the masked values and
    matches a contiguous twin of the pre-masked data (the cross-
    container equality pattern of the other codecs)."""
    rng = np.random.default_rng(81)
    # 9-bit unsigned counts stored in uint16 (fits: start_bit 8, len 9)
    vals = rng.integers(0, 512, (7, 11)).astype(np.uint16)
    p = str(tmp_path / "nbit.hdf")
    write_hdf4(
        p,
        {"counts": (vals, {"long_name": "counts"})},
        nbit={"counts": {"start_bit": 8, "bit_len": 9}},
    )
    ds = read_hdf4(p)
    assert np.array_equal(ds["counts"].data, vals)
    assert ds["counts"].attrs["long_name"] == "counts"
    # signed field with sign extension
    svals = rng.integers(-64, 64, (5, 4)).astype(np.int16)
    p2 = str(tmp_path / "nbit_signed.hdf")
    write_hdf4(
        p2,
        {"anom": (svals, {})},
        nbit={"anom": {"start_bit": 6, "bit_len": 7, "sign_ext": True}},
    )
    assert np.array_equal(read_hdf4(p2)["anom"].data, svals)
    # contiguous twin equality
    p3 = str(tmp_path / "twin.hdf")
    write_hdf4(p3, {"counts": (vals, {})})
    assert np.array_equal(read_hdf4(p3)["counts"].data, vals)


def test_nbit_writer_rejects_bad_layouts(tmp_path):
    arr = np.zeros((2, 2), dtype=np.uint16)
    p = str(tmp_path / "x.hdf")
    with pytest.raises(ValueError, match="both nbit and chunked"):
        write_hdf4(
            p, {"a": (arr, {})},
            nbit={"a": {"start_bit": 8, "bit_len": 9}}, chunks={"a": (1, 1)},
        )
    with pytest.raises(ValueError, match="carry their own coder"):
        write_hdf4(
            p, {"a": (arr, {})},
            nbit={"a": {"start_bit": 8, "bit_len": 9}}, compress=True,
        )
    with pytest.raises(TypeError, match="integer SDS"):
        write_hdf4(
            p, {"a": (arr.astype(np.float32), {})},
            nbit={"a": {"start_bit": 8, "bit_len": 9}},
        )
    with pytest.raises(ValueError, match="unknown nbit option"):
        write_hdf4(
            p, {"a": (arr, {})},
            nbit={"a": {"start_bit": 8, "bit_len": 9, "bogus": 1}},
        )


def test_nbit_granule_layout_roundtrip():
    """layout="nbit" granules load back exactly: lat/lon/cm_raw
    bit-identical to synth_granule; the science variable equals the
    documented int16 quantization (round(v*10) cast int16, * 0.1 in
    float64 — the twin derivation s19's oracle replicates)."""
    import tempfile

    from modis_aggregation_spark.sources.granule_datasource import (
        load_granule_hdf4,
        synth_granule,
        write_granule_hdf4,
    )

    d = tempfile.mkdtemp()
    write_granule_hdf4(d, 4410, ["ctp"], layout="nbit")
    got = load_granule_hdf4(d, 4410, ["ctp"])
    want = synth_granule(4410, ["ctp"])
    assert np.array_equal(got["lat"], want["lat"])
    assert np.array_equal(got["lon"], want["lon"])
    assert np.array_equal(got["cm_raw"], want["cm_raw"])
    v = want["ctp"]
    raw = np.where(np.isnan(v), -9999, np.round(v * 10.0)).astype(np.int16)
    twin = np.where(raw == -9999, np.nan, raw * 0.1)
    m = np.isnan(got["ctp"])
    assert np.array_equal(m, np.isnan(twin))
    assert np.array_equal(got["ctp"][~m], twin[~m])  # bit-exact


def test_szip_file_roundtrip_and_contiguous_twin(tmp_path):
    """SZIP whole-element storage (round 11): writer->reader round-trip
    on MYD06-style int16 science data, byte-identical to the contiguous
    twin — the s12/s17/s19 cross-container pattern."""
    rng = np.random.default_rng(11)
    base = (2000 + 150 * np.sin(np.arange(40 * 27) / 9.0)).reshape(40, 27)
    ctp = (base + rng.integers(-20, 20, (40, 27))).astype(np.int16)
    u8 = rng.integers(0, 256, (13, 8)).astype(np.uint8)
    f32 = rng.normal(size=(6, 5)).astype(np.float32)
    attrs = {"scale_factor": 0.01, "add_offset": -15000.0, "_FillValue": -32768}
    pz = str(tmp_path / "sz.hdf")
    pc = str(tmp_path / "plain.hdf")
    datasets = {
        "ctp": (ctp, attrs), "mask": (u8, {}), "f": (f32, {}),
    }
    write_hdf4(
        pz, datasets,
        szip={
            "ctp": {},                                 # defaults: NN|MSB, ppb 16
            "mask": {"pixels_per_block": 8, "pixels_per_scanline": 8},
            "f": {"options_mask": 4 | 16},             # EC mode on float bits
        },
    )
    write_hdf4(pc, datasets)
    a, b = read_hdf4(pz), read_hdf4(pc)
    assert set(a) == set(b) == {"ctp", "mask", "f"}
    for k in a:
        np.testing.assert_array_equal(a[k].data, b[k].data)
        assert a[k].data.dtype == b[k].data.dtype
    assert a["ctp"].attrs["scale_factor"] == 0.01
    # smooth int16 science data must actually compress under NN szip
    import os as _os
    assert _os.path.getsize(pz) < _os.path.getsize(pc)


def test_szip_chunked_file_roundtrip(tmp_path):
    """Chunked + SZIP-compressed chunks — the storage layout real
    archived MODIS collections use; each chunk is a self-describing
    compressed special element the reader routes through sziplite."""
    rng = np.random.default_rng(13)
    arr = (
        1000 + 30 * np.sin(np.arange(37 * 22) / 7.0)
        + rng.integers(-5, 5, 37 * 22)
    ).reshape(37, 22).astype(np.int16)
    pz = str(tmp_path / "csz.hdf")
    write_hdf4(
        pz, {"v": (arr, {"units": "hPa"})},
        chunks={"v": (16, 10)},
        szip={"v": {"pixels_per_block": 10, "pixels_per_scanline": 10}},
    )
    got = read_hdf4(pz)["v"]
    np.testing.assert_array_equal(got.data, arr)
    assert got.attrs["units"] == "hPa"


def test_szip_writer_rejects_bad_layouts(tmp_path):
    arr = np.zeros((4, 4), dtype=np.int16)
    with pytest.raises(ValueError, match="cannot be both"):
        write_hdf4(
            str(tmp_path / "x.hdf"), {"v": (arr, {})},
            szip={"v": {}}, nbit={"v": {"start_bit": 7, "bit_len": 8}},
        )
    with pytest.raises(ValueError, match="drop compress="):
        write_hdf4(
            str(tmp_path / "x.hdf"), {"v": (arr, {})},
            compress=True, szip={"v": {}},
        )
    with pytest.raises(ValueError, match="unknown szip option"):
        write_hdf4(
            str(tmp_path / "x.hdf"), {"v": (arr, {})},
            szip={"v": {"bogus": 1}},
        )
    with pytest.raises(TypeError, match="32-bit"):
        write_hdf4(
            str(tmp_path / "x.hdf"),
            {"v": (np.zeros(4, dtype=np.float64), {})},
            szip={"v": {}},
        )
