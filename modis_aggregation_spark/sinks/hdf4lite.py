"""Minimal pure-Python HDF4 (classic DFTAG format) reader + writer.

Why this exists: the reference's ACTUAL inputs are HDF4-EOS granules
(``MYD06_L2*.hdf`` / ``MYD03*.hdf``, read via netCDF4's HDF4 support at
reference ``MODIS_Aggregation/aggregate_functions.py:124-223``), but this
container has no pyhdf/netCDF4, so the engine's ``decoder=hdf`` scan path
was gated behind a NotImplementedError through round 3. This module
implements the subset of the public HDF4 specification the reference
actually touches — named SDS arrays plus their per-variable attributes
(``units``, ``scale_factor``, ``add_offset``, ``long_name``,
``_FillValue`` — ``readEntry``, reference ``aggregate_functions.py:99-122``)
— and un-gates that path:

* the 4-byte magic + chained data-descriptor (DD) blocks;
* number-type records (DFTAG_NT): IEEE floats, big-endian ints, char8;
* scientific datasets: DFTAG_SDD dimension records + DFTAG_SD raw data,
  grouped by DFTAG_NDG numeric data groups;
* the SD-API (netCDF-model) metadata layer: Vgroups (DFTAG_VG, classes
  ``Var0.0`` / ``CDF0.0``) naming each SDS, and attributes stored as
  one-record Vdatas (DFTAG_VH/DFTAG_VS, class ``Attr0.0``, single
  ``VALUES`` field) — the layout libmfhdf reads variables/attributes from;
* old-style DFSD fallback on read: an NDG outside any ``Var0.0`` vgroup
  is named from its DFTAG_SDL label when present;
* special elements (extended tag, bit 0x4000), round 5: **compressed**
  (SPECIAL_COMP=18, deflate via stdlib zlib; the DFTAG_COMPRESSED=40
  data element holds the codestream) and **chunked** (SPECIAL_CHUNKED=6:
  a ``_HDF_CHK_TBL_`` Vdata maps each chunk origin — in chunk
  coordinates — to a DFTAG_CHUNK=61 element, itself optionally a
  compressed special element; edge chunks are stored full-size and
  cropped on read; chunks absent from the table read as the header's
  fill value). This is the storage layout archived NASA MYD06/MYD03
  granules actually use (chunked+deflated SDS), which the reference
  reads via netCDF4 (reference ``aggregate_functions.py:99-122``);
* linked-block special elements (SPECIAL_LINKED=1), round 6: the
  appendable-element layout — chained DFTAG_LINKED block tables
  (next_ref + num_blk block refs) over DFTAG_LINKED data blocks, with
  a distinct first-block length, short-stored trailing blocks, and
  ref-0 slots reading as zeros (sparse append);
* RLE compression (comp code 1), round 7: the HDF4 library's byte-run
  codestream (semantics of the public hdf4 crle coder, restated — not
  copied): control byte c — high bit set ⇒ a run of ``(c & 0x7f) + 3``
  copies of the next byte (run lengths 3..130); high bit clear ⇒
  ``c + 1`` literal bytes follow (1..128). Available standalone
  (``compress="rle"``) and per-chunk inside chunked elements;
* external special elements (SPECIAL_EXT=2), round 7: the element's
  data lives in ANOTHER file — header ``sp_tag_desc(u16)=2,
  length(i32), offset(i32)`` then the external filename as a
  non-null-terminated string filling the rest of the special info
  (per the format spec's External Element table). Read resolves the
  filename against the directory of the .hdf file itself (plus an
  absolute path as-is); a missing companion file raises with both
  paths in the message. Write via ``external={name: filename}``;
* N-bit elements (comp code NBIT=2), round 8: the SDsetnbitdataset
  storage — only a ``bit_len``-bit field (leftmost bit ``start_bit``,
  HDF4 bit numbering: 0 = element LSB) of each element is stored,
  fields packed contiguously MSB-first across elements with a
  zero-padded final byte; expansion fills the out-of-field bits with
  ``fill_one`` background and, when ``sign_ext``, replicates the
  field's top bit above ``start_bit``. Coder info in the compressed
  special header: nt(i32), sign_ext(u16), fill_one(u16),
  start_bit(i32), bit_len(i32). Write via ``nbit={name: {...}}``;
* SZIP elements (comp code 5), round 11: the CCSDS 121.0-B
  extended-Rice codestream real archived MODIS collections use on some
  SDS variables, implemented pure-Python in ``sinks/sziplite.py``
  (block-adaptive FS/k-split/second-extension/zero-run coding, NN
  unit-delay preprocessing with per-scanline reference samples, szip's
  pad-with-last-sample scanline convention; bit conventions pinned by
  hand-derived vectors in tests/test_sziplite.py).  Coder info in the
  compressed special header: the HDF4 ``comp_info.szip`` fields as five
  int32s — pixels, pixels_per_scanline, options_mask, bits_per_pixel,
  pixels_per_block.  Write via ``szip={name: {...}}``; the reader also
  decodes szip-compressed CHUNKS inside chunked elements (each chunk is
  a self-describing compressed special element).

Deliberately still NOT implemented (honest gate, raises with a clear
message): compression code Skipping-Huffman=3 — a long-obsolete codec
no archived MODIS granule uses, and — unlike deflate (RFC 1951), szip
(CCSDS 121.0) or RLE (spec'd in the HDF4 format document) — its
adaptive-Huffman bitstream has NO published specification: the wire
format is defined solely by the HDF4 C library's implementation, so a
from-scratch reimplementation here could not guarantee parity with
real files and a guessed decoder that silently mis-parses would be
worse than a loud gate.  SZIP streams carrying the library's
stored-raw fallback flag (SZ_RAW_OPTION_MASK) also raise rather than
guess.

Validation caveat for the special-element layouts: no pyhdf/libmfhdf is
present to cross-read, so the byte layouts follow the public HDF4
Specification ("Extended Tags and Special Elements") and are proven by
writer→reader round-trip plus cross-container equality (chunked+deflated
file ≡ compressed file ≡ contiguous file ≡ in-memory content on
identical data — the s9 contract pattern).

Validation: no HDF4 sample ships with the reference (only HDF5/netCDF
outputs, which ``sinks/hdf5lite.py`` reads against ground truth), so the
proof pattern is the same as the round-3 HDF5 path: writer→reader
round-trip plus a ``decoder=hdf`` granule scan proven row-identical to
the parquet/fake decoder on identical content, and MYD06-style
int16+scale/offset calibration decoded through ``functions/decode.py``.
The emitted structures follow the public spec byte-for-byte and are
intended to be readable by pyhdf/libmfhdf, but that cross-read is not
verifiable in this container (no pyhdf) — mirrored from the hdf5lite
caveat in ADVICE.md.

No code is derived from pyhdf, libmfhdf, or the reference — written from
the public HDF4 Specification and File Format document
(https://support.hdfgroup.org/documentation/ → HDF 4.2 File Format).
"""

from __future__ import annotations

import os
import struct
import zlib
from dataclasses import dataclass, field

import numpy as np

MAGIC = b"\x0e\x03\x13\x01"

TAG_NULL = 1
TAG_LINKED = 20      # DFTAG_LINKED: block table / data block of a linked element
TAG_VERSION = 30
TAG_COMPRESSED = 40  # DFTAG_COMPRESSED: codestream of a compressed element
TAG_CHUNK = 61       # DFTAG_CHUNK: one chunk of a chunked element
TAG_NT = 106
TAG_SDD = 701
TAG_SD = 702
TAG_SDL = 704
TAG_SDU = 705
TAG_NDG = 720
TAG_CAL = 731
TAG_VH = 1962
TAG_VS = 1963
TAG_VG = 1965

SPECIAL_BIT = 0x4000  # extended tag: special (linked/external/comp/chunked)

# Special-element kind codes (first 16 bits of a special element's body,
# per the HDF4 spec "Extended Tags and Special Elements")
SPECIAL_LINKED = 1
SPECIAL_EXT = 2
SPECIAL_CHUNKED = 6
SPECIAL_COMP = 18

COMP_HEADER_VERSION = 0
COMP_MODEL_STDIO = 0
COMP_CODE_RLE = 1
COMP_CODE_NBIT = 2
COMP_CODE_DEFLATE = 4
COMP_CODE_SZIP = 5
_COMP_CODE_NAMES = {1: "RLE", 2: "NBIT", 3: "Skipping-Huffman", 5: "SZIP"}

# RLE codestream constants (HDF4 library byte-run coder): a run block
# stores lengths RLE_MIN_RUN..RLE_MIN_RUN+127 in the low 7 bits of the
# control byte; a literal (mix) block stores 1..128 bytes.
_RLE_MIN_RUN = 3
_RLE_MAX_RUN = _RLE_MIN_RUN + 127
_RLE_MIN_MIX = 1
_RLE_MAX_MIX = _RLE_MIN_MIX + 127


def rle_encode(data: bytes) -> bytes:
    """HDF4 byte-run-length encode: greedy — any run of >= 3 identical
    bytes becomes a run block (0x80 | (n-3), value); everything between
    runs is chopped into literal blocks ((n-1), bytes)."""
    out = bytearray()
    i, n = 0, len(data)
    lit_start = 0

    def _flush_literals(end: int) -> None:
        j = lit_start
        while j < end:
            take = min(end - j, _RLE_MAX_MIX)
            out.append(take - _RLE_MIN_MIX)
            out.extend(data[j : j + take])
            j += take

    while i < n:
        run = 1
        while i + run < n and data[i + run] == data[i] and run < _RLE_MAX_RUN:
            run += 1
        if run >= _RLE_MIN_RUN:
            _flush_literals(i)
            out.append(0x80 | (run - _RLE_MIN_RUN))
            out.append(data[i])
            i += run
            lit_start = i
        else:
            i += run
    _flush_literals(n)
    return bytes(out)


def rle_decode(data: bytes, raw_len: int | None = None) -> bytes:
    """Decode the HDF4 byte-run codestream (inverse of ``rle_encode``)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        c = data[i]
        i += 1
        if c & 0x80:
            if i >= n:
                raise ValueError("HDF4 RLE: truncated run block")
            out += bytes([data[i]]) * ((c & 0x7F) + _RLE_MIN_RUN)
            i += 1
        else:
            take = c + _RLE_MIN_MIX
            if i + take > n:
                raise ValueError("HDF4 RLE: truncated literal block")
            out += data[i : i + take]
            i += take
    if raw_len is not None and len(out) != raw_len:
        raise ValueError(
            f"HDF4 RLE: decoded {len(out)} bytes, header says {raw_len}"
        )
    return bytes(out)

def nbit_encode(
    data: bytes, nt_size: int, start_bit: int, bit_len: int
) -> bytes:
    """HDF4 N-bit encode (the SDsetnbitdataset storage, library coder
    ``cnbit.c``, comp code 2): each element of the big-endian byte
    stream keeps only the ``bit_len``-bit field whose LEFTMOST (most
    significant) bit is ``start_bit``; the fields of consecutive
    elements pack contiguously MSB-first with no per-element alignment,
    and the final partial byte is zero-padded.

    Bit numbering is the HDF4 convention: bit 0 is the least
    significant bit of the element (the LSB of the LAST byte in the
    big-endian file representation), bit ``8*nt_size - 1`` the MSB of
    the first byte; ``start_bit >= bit_len - 1`` so the field fits.
    """
    nbits = 8 * nt_size
    if not (0 < bit_len <= start_bit + 1 <= nbits):
        raise ValueError(
            f"NBIT field (start_bit={start_bit}, bit_len={bit_len}) does "
            f"not fit a {nbits}-bit number type"
        )
    if len(data) % nt_size:
        raise ValueError(
            f"NBIT: {len(data)} data bytes is not a multiple of the "
            f"{nt_size}-byte number type"
        )
    n = len(data) // nt_size
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
    bits = bits.reshape(n, nbits)
    # np.unpackbits is MSB-first per byte, so column j holds element bit
    # number (nbits - 1 - j); the field occupies a contiguous column run
    c0 = nbits - 1 - start_bit
    return np.packbits(bits[:, c0 : c0 + bit_len].reshape(-1)).tobytes()


def nbit_decode(
    stream: bytes,
    raw_len: int,
    nt_size: int,
    sign_ext: bool,
    fill_one: bool,
    start_bit: int,
    bit_len: int,
) -> bytes:
    """Inverse of ``nbit_encode`` with the HDF4 expansion semantics
    (HDF4 UG, SDsetnbitdataset): bits outside the stored field are the
    background — all-ones when ``fill_one`` else zeros — and when
    ``sign_ext`` the bits ABOVE ``start_bit`` instead replicate the
    field's top (sign) bit, overriding the background."""
    nbits = 8 * nt_size
    if not (0 < bit_len <= start_bit + 1 <= nbits):
        raise ValueError(
            f"NBIT field (start_bit={start_bit}, bit_len={bit_len}) does "
            f"not fit a {nbits}-bit number type"
        )
    if raw_len % nt_size:
        raise ValueError(
            f"NBIT: element length {raw_len} is not a multiple of the "
            f"{nt_size}-byte number type"
        )
    n = raw_len // nt_size
    bits = np.unpackbits(np.frombuffer(stream, dtype=np.uint8))
    if len(bits) < n * bit_len:
        raise ValueError(
            f"NBIT codestream holds {len(bits)} bits; {n} elements of "
            f"{bit_len} bits need {n * bit_len}"
        )
    field = bits[: n * bit_len].reshape(n, bit_len)
    out = np.full((n, nbits), 1 if fill_one else 0, dtype=np.uint8)
    c0 = nbits - 1 - start_bit
    out[:, c0 : c0 + bit_len] = field
    if sign_ext and c0:
        out[:, :c0] = field[:, :1]
    return np.packbits(out.reshape(-1)).tobytes()


_CHK_TBL_NAME = b"_HDF_CHK_TBL_"  # chunk-table Vdata name AND class

# DFNT number-type codes → (numpy big-endian dtype, bit width, class).
# Classes per the spec: IEEE=1 for floats, MBO (big-endian)=1 for ints,
# ASCII=1 for char8.
_DFNT = {
    3: ">u1",   # DFNT_UCHAR8
    4: "S1",    # DFNT_CHAR8
    5: ">f4",   # DFNT_FLOAT32
    6: ">f8",   # DFNT_FLOAT64
    20: ">i1",  # DFNT_INT8
    21: ">u1",  # DFNT_UINT8
    22: ">i2",  # DFNT_INT16
    23: ">u2",  # DFNT_UINT16
    24: ">i4",  # DFNT_INT32
    25: ">u4",  # DFNT_UINT32
}
_NP_TO_DFNT = {
    "f4": 5, "f8": 6, "i1": 20, "u1": 21,
    "i2": 22, "u2": 23, "i4": 24, "u4": 25,
}

_VAR_CLASS = b"Var0.0"
_ATTR_CLASS = b"Attr0.0"
_CDF_CLASS = b"CDF0.0"
_DIM_CLASS = b"Dim0.0"
_ATTR_FIELD = b"VALUES"
_VSET_VERSION = 3


def _dfnt_of(dt: np.dtype) -> int:
    key = f"{dt.kind}{dt.itemsize}"
    if key not in _NP_TO_DFNT:
        raise TypeError(f"unsupported dtype for HDF4 SDS: {dt}")
    return _NP_TO_DFNT[key]


@dataclass
class H4Dataset:
    """One SDS: raw (uncalibrated) data + its attribute dict. Scale/offset
    calibration is left to the caller (``functions/decode.py`` implements
    the reference's ``(raw − add_offset) × scale_factor`` HDF convention,
    reference ``aggregate_functions.py:103-105,137-139``)."""

    name: str
    shape: tuple[int, ...]
    dfnt: int
    attrs: dict = field(default_factory=dict)
    data: np.ndarray | None = None


# ==========================================================================
# reader
# ==========================================================================


class _H4Reader:
    def __init__(self, buf: bytes, path: str | None = None):
        if buf[:4] != MAGIC:
            raise ValueError("not an HDF4 file (bad magic)")
        self.buf = buf
        # directory context for resolving EXTERNAL special elements;
        # None when parsing an in-memory blob (external then raises)
        self.path = path
        # (tag, ref) -> (offset, length); chained DD blocks. Special
        # (extended-tag) elements are kept under their BASE tag in a
        # separate map and resolved lazily by ``elt``.
        self.dds: dict[tuple[int, int], tuple[int, int]] = {}
        self.special: dict[tuple[int, int], tuple[int, int]] = {}
        pos = 4
        seen: set[int] = set()
        while pos:
            if pos in seen:
                raise ValueError(f"HDF4 DD chain loops back to offset {pos}")
            seen.add(pos)
            ndd, nxt = struct.unpack_from(">hI", buf, pos)
            for k in range(ndd):
                tag, ref, off, ln = struct.unpack_from(
                    ">HHII", buf, pos + 6 + 12 * k
                )
                if tag == TAG_NULL:
                    continue
                if tag & SPECIAL_BIT:
                    self.special[(tag & ~SPECIAL_BIT, ref)] = (off, ln)
                else:
                    self.dds[(tag, ref)] = (off, ln)
            pos = nxt

    def has(self, tag: int, ref: int) -> bool:
        return (tag, ref) in self.dds or (tag, ref) in self.special

    def elt(self, tag: int, ref: int) -> bytes:
        if (tag, ref) in self.dds:
            off, ln = self.dds[(tag, ref)]
            return self.buf[off : off + ln]
        return self._special_elt(*self.special[(tag, ref)])

    # -- special elements ----------------------------------------------------

    def _special_elt(self, off: int, ln: int) -> bytes:
        """Resolve an extended-tag element to its logical bytes. Layouts
        per the HDF4 spec "Extended Tags and Special Elements"."""
        (kind,) = struct.unpack_from(">H", self.buf, off)
        if kind == SPECIAL_COMP:
            return self._read_compressed(off)
        if kind == SPECIAL_CHUNKED:
            return self._read_chunked(off)
        if kind == SPECIAL_LINKED:
            return self._read_linked(off)
        if kind == SPECIAL_EXT:
            return self._read_external(off, ln)
        raise NotImplementedError(
            f"HDF4 special element (kind {kind}) is not implemented — "
            "contiguous, compressed (deflate/RLE), chunked, linked-block "
            "and external layouts are supported (see module docstring)"
        )

    def _read_external(self, off: int, ln: int) -> bytes:
        """External special element: the data lives in a companion file.
        Header ``sp_tag_desc(u16)=2, length(i32), offset(i32)``, then the
        external filename (non-null-terminated ASCII, the remainder of
        the special info — format spec "External Element" table). The
        filename resolves against the directory of the .hdf file itself;
        absolute paths are used as-is."""
        _kind, length, ext_off = struct.unpack_from(">HiI", self.buf, off)
        if length < 0:
            raise ValueError(f"HDF4 external element: negative length {length}")
        fname = (
            self.buf[off + 10 : off + ln].split(b"\x00", 1)[0].decode("ascii")
        )
        if not fname:
            raise ValueError("HDF4 external element: empty filename")
        if self.path is None:
            raise ValueError(
                "HDF4 external element references companion file "
                f"{fname!r}, but this reader was built from an in-memory "
                "blob with no directory context — read via read_hdf4(path)"
            )
        cand = (
            fname
            if os.path.isabs(fname)
            else os.path.join(os.path.dirname(os.path.abspath(self.path)), fname)
        )
        if not os.path.exists(cand):
            raise FileNotFoundError(
                f"HDF4 external element of {self.path!r} references "
                f"{fname!r} (resolved {cand!r}), which does not exist"
            )
        with open(cand, "rb") as fh:
            fh.seek(ext_off)
            data = fh.read(length)
        if len(data) != length:
            raise ValueError(
                f"HDF4 external element: {cand!r} holds {len(data)} bytes "
                f"at offset {ext_off}, header says {length}"
            )
        return data

    def _read_linked(self, off: int) -> bytes:
        """Linked-block special element (the appendable-element layout —
        HDF4 writes it for Vdatas/SDS that grow after creation): header
        sp_tag_desc(u16)=1, length(i32 total), first_len(i32 — the FIRST
        data block's length), blk_len(i32 — every later block's length),
        num_blk(i32 — entries per block table), link_ref(u16 — ref of
        the first DFTAG_LINKED block table). Each block table is
        next_ref(u16) + num_blk data-block refs(u16), chained via
        next_ref (0 = last); data blocks are DFTAG_LINKED elements. A
        block ref of 0 is an unallocated slot and reads as zero bytes
        (HDF4's sparse-append behaviour); running out of tables before
        ``length`` bytes are assembled is a malformed file."""
        _kind, length, first_len, blk_len, num_blk, link_ref = (
            struct.unpack_from(">HiiiiH", self.buf, off)
        )
        if length < 0 or first_len < 0 or blk_len <= 0 or num_blk <= 0:
            raise ValueError(
                "HDF4 linked-block header is malformed: "
                f"length={length} first_len={first_len} "
                f"blk_len={blk_len} num_blk={num_blk}"
            )
        out = bytearray()
        tbl_ref = link_ref
        want = first_len
        first = True
        while len(out) < length:
            if tbl_ref == 0:
                raise ValueError(
                    f"HDF4 linked-block element: tables exhausted at "
                    f"{len(out)}/{length} bytes"
                )
            tbl = self.elt(TAG_LINKED, tbl_ref)
            if len(tbl) < 2 + 2 * num_blk:
                raise ValueError(
                    f"HDF4 linked-block table (ref {tbl_ref}) is "
                    f"{len(tbl)} bytes; header says {num_blk} entries"
                )
            (next_ref,) = struct.unpack_from(">H", tbl, 0)
            refs = struct.unpack_from(f">{num_blk}H", tbl, 2)
            for r in refs:
                if len(out) >= length:
                    break
                take = min(want, length - len(out))
                if r == 0:
                    out += b"\x00" * take
                else:
                    blk = self.elt(TAG_LINKED, r)
                    # a trailing block may be stored short (only the
                    # bytes the element actually uses)
                    if len(blk) < take:
                        raise ValueError(
                            f"HDF4 linked data block (ref {r}) is "
                            f"{len(blk)} bytes, expected >= {take}"
                        )
                    out += blk[:take]
                if first:
                    want, first = blk_len, False
            tbl_ref = next_ref
        return bytes(out)

    def _read_compressed(self, off: int) -> bytes:
        """Compressed special element: sp_code(u16)=18, header version
        (u16), uncompressed length (i32), ref of the DFTAG_COMPRESSED
        codestream element (u16), model type (u16, 0=stdio), compression
        code (u16); coder-specific info follows (deflate: level, u16;
        N-bit: nt code i32, sign_ext u16, fill_one u16, start_bit i32,
        bit_len i32 — the HDF4 library's compression-header layout for
        COMP_CODE_NBIT, hcomp.c)."""
        _kind, _ver, raw_len, comp_ref, _model, code = struct.unpack_from(
            ">HHiHHH", self.buf, off
        )
        if code == COMP_CODE_RLE:
            return rle_decode(self.elt(TAG_COMPRESSED, comp_ref), raw_len)
        if code == COMP_CODE_NBIT:
            nt, sign_ext, fill_one, start_bit, bit_len = struct.unpack_from(
                ">iHHii", self.buf, off + 14
            )
            if nt not in _DFNT:
                raise ValueError(f"HDF4 NBIT element: unknown DFNT {nt}")
            return nbit_decode(
                self.elt(TAG_COMPRESSED, comp_ref),
                raw_len,
                np.dtype(_DFNT[nt]).itemsize,
                bool(sign_ext),
                bool(fill_one),
                start_bit,
                bit_len,
            )
        if code == COMP_CODE_SZIP:
            # coder info (HDF4 comp_info.szip, five int32 fields):
            # pixels, pixels_per_scanline, options_mask, bits_per_pixel,
            # pixels_per_block
            _pixels, pps, mask, bpp, ppb = struct.unpack_from(
                ">iiiii", self.buf, off + 14
            )
            from modis_aggregation_spark.sinks.sziplite import szip_decode

            out = szip_decode(
                self.elt(TAG_COMPRESSED, comp_ref), raw_len, bpp, ppb, pps,
                mask,
            )
            if len(out) != raw_len:
                raise ValueError(
                    f"HDF4 SZIP element: decoded {len(out)} bytes, header "
                    f"says {raw_len}"
                )
            return out
        if code != COMP_CODE_DEFLATE:
            raise NotImplementedError(
                "HDF4 compressed element uses codec "
                f"{_COMP_CODE_NAMES.get(code, code)!r}; only deflate, "
                f"RLE, N-bit and SZIP (codes {COMP_CODE_DEFLATE}, "
                f"{COMP_CODE_RLE}, {COMP_CODE_NBIT}, {COMP_CODE_SZIP}) "
                "are implemented"
            )
        out = zlib.decompress(self.elt(TAG_COMPRESSED, comp_ref))
        if len(out) != raw_len:
            raise ValueError(
                f"HDF4 compressed element: decompressed to {len(out)} bytes, "
                f"header says {raw_len}"
            )
        return out

    def _read_chunked(self, off: int) -> bytes:
        """Chunked special element: header carries the element dims +
        chunk dims; a ``_HDF_CHK_TBL_`` Vdata maps each chunk's origin (in
        chunk coordinates, field ``origin``) to the (tag, ref) of its
        DFTAG_CHUNK element (fields ``chk_tag``/``chk_ref``), each chunk
        itself possibly a compressed special element. Edge chunks are
        stored full-size; the logical element is the row-major crop.
        Chunks absent from the table read as the header's fill value."""
        p = off
        _kind, _ver = struct.unpack_from(">HB", self.buf, p); p += 3
        _flag, total_len, chunk_size, nt_size = struct.unpack_from(
            ">iiii", self.buf, p
        ); p += 16
        tbl_tag, tbl_ref, _sp_tag, _sp_ref = struct.unpack_from(
            ">HHHH", self.buf, p
        ); p += 8
        (ndims,) = struct.unpack_from(">i", self.buf, p); p += 4
        dims, cdims = [], []
        for _ in range(ndims):
            _dflag, dlen, clen = struct.unpack_from(">iii", self.buf, p)
            p += 12
            dims.append(dlen)
            cdims.append(clen)
        (fill_len,) = struct.unpack_from(">i", self.buf, p); p += 4
        fill = self.buf[p : p + fill_len]; p += fill_len
        # embedded per-chunk compression header (when low byte says the
        # chunks are compressed) is length-prefixed — each chunk element
        # is self-describing, so skip it by length
        grid = [-(-d // c) for d, c in zip(dims, cdims)]
        padded_shape = [g * c for g, c in zip(grid, cdims)] + [nt_size]
        if fill_len == nt_size and fill_len > 0:
            cell = np.frombuffer(fill, dtype=np.uint8)
            padded = np.broadcast_to(cell, padded_shape).copy()
        else:
            padded = np.zeros(padded_shape, dtype=np.uint8)
        for origin, chk_tag, chk_ref in self._chunk_table(tbl_tag, tbl_ref):
            raw = self.elt(chk_tag & ~SPECIAL_BIT, chk_ref)
            if len(raw) != chunk_size:
                raise ValueError(
                    f"HDF4 chunk at origin {origin}: {len(raw)} bytes, "
                    f"header chunk_size is {chunk_size}"
                )
            block = np.frombuffer(raw, dtype=np.uint8).reshape(
                list(cdims) + [nt_size]
            )
            sl = tuple(
                slice(o * c, (o + 1) * c) for o, c in zip(origin, cdims)
            )
            padded[sl] = block
        crop = tuple(slice(0, d) for d in dims)
        out = padded[crop].tobytes()
        if len(out) != total_len:
            raise ValueError(
                f"HDF4 chunked element: assembled {len(out)} bytes, header "
                f"says {total_len}"
            )
        return out

    def _chunk_table(self, tag: int, ref: int):
        """Decode the chunk-table Vdata → [(origin tuple, chk_tag,
        chk_ref)] via the generic field layout (robust to field order)."""
        if tag != TAG_VH:
            raise NotImplementedError(
                f"HDF4 chunk table stored under tag {tag}; only Vdata "
                f"(tag {TAG_VH}) tables are implemented"
            )
        _name, _cls, fields, nvert, vs = self._vdata(ref)
        ivsize = sum(f["size"] for f in fields)
        by_name = {f["name"]: f for f in fields}
        fo = by_name[b"origin"]
        ft = by_name[b"chk_tag"]
        fr = by_name[b"chk_ref"]
        out = []
        for i in range(nvert):
            base = i * ivsize
            origin = struct.unpack_from(
                f">{fo['order']}i", vs, base + fo["off"]
            )
            (chk_tag,) = struct.unpack_from(">H", vs, base + ft["off"])
            (chk_ref,) = struct.unpack_from(">H", vs, base + fr["off"])
            out.append((origin, chk_tag, chk_ref))
        return out

    # -- Vdata / Vgroup ----------------------------------------------------

    def _vdata(self, ref: int):
        """Decode a (VH, VS) pair → (name, class, list-of-field-dicts,
        nvert, raw VS bytes)."""
        b = self.elt(TAG_VH, ref)
        interlace, nvert, ivsize, nfields = struct.unpack_from(">HIHH", b, 0)
        p = 10
        ftypes = struct.unpack_from(f">{nfields}H", b, p); p += 2 * nfields
        fsizes = struct.unpack_from(f">{nfields}H", b, p); p += 2 * nfields
        foffs = struct.unpack_from(f">{nfields}H", b, p); p += 2 * nfields
        forders = struct.unpack_from(f">{nfields}H", b, p); p += 2 * nfields
        fnames = []
        for _ in range(nfields):
            (ln,) = struct.unpack_from(">H", b, p); p += 2
            fnames.append(b[p : p + ln]); p += ln
        (ln,) = struct.unpack_from(">H", b, p); p += 2
        name = b[p : p + ln]; p += ln
        (ln,) = struct.unpack_from(">H", b, p); p += 2
        vclass = b[p : p + ln]; p += ln
        fields = [
            {"name": fnames[i], "type": ftypes[i], "size": fsizes[i],
             "off": foffs[i], "order": forders[i]}
            for i in range(nfields)
        ]
        vs = self.elt(TAG_VS, ref) if self.has(TAG_VS, ref) else b""
        return name, vclass, fields, nvert, vs

    def _attr_value(self, ref: int):
        """Attribute Vdata (class Attr0.0): one VALUES field, nvert
        records of ``order`` elements each."""
        name, _cls, fields, nvert, vs = self._vdata(ref)
        f = fields[0]
        count = nvert * f["order"]
        dt = np.dtype(_DFNT[f["type"]])
        if f["type"] in (3, 4):  # char → string (strip trailing NUL/pad)
            return name.decode("ascii"), vs[:count].rstrip(b"\x00").decode(
                "latin-1"
            )
        arr = np.frombuffer(vs, dtype=dt, count=count)
        vals = arr.astype(arr.dtype.newbyteorder("="))
        if count == 1:
            v = vals[0]
            return name.decode("ascii"), (
                float(v) if dt.kind == "f" else int(v)
            )
        return name.decode("ascii"), vals

    def _vgroup(self, ref: int):
        b = self.elt(TAG_VG, ref)
        (nelt,) = struct.unpack_from(">H", b, 0)
        tags = struct.unpack_from(f">{nelt}H", b, 2)
        refs = struct.unpack_from(f">{nelt}H", b, 2 + 2 * nelt)
        p = 2 + 4 * nelt
        (ln,) = struct.unpack_from(">H", b, p); p += 2
        name = b[p : p + ln]; p += ln
        (ln,) = struct.unpack_from(">H", b, p); p += 2
        vclass = b[p : p + ln]; p += ln
        return name, vclass, list(zip(tags, refs))

    # -- SDS ---------------------------------------------------------------

    def _read_ndg(self, ref: int, name: str, attrs: dict) -> H4Dataset:
        body = self.elt(TAG_NDG, ref)
        members = [
            struct.unpack_from(">HH", body, 4 * k)
            for k in range(len(body) // 4)
        ]
        # sentinel default instead of a bare next(): a corrupted NDG
        # missing its SDD/SD member must raise ValueError, not leak a
        # StopIteration into whatever generator called the reader
        sdd_ref = next((r for t, r in members if t == TAG_SDD), None)
        sd_ref = next((r for t, r in members if t == TAG_SD), None)
        if sdd_ref is None or sd_ref is None:
            raise ValueError(
                f"HDF4 NDG {ref} ({name!r}) lacks an SDD/SD member pair: "
                f"{members}"
            )
        sdd = self.elt(TAG_SDD, sdd_ref)
        (rank,) = struct.unpack_from(">H", sdd, 0)
        dims = struct.unpack_from(f">{rank}I", sdd, 2)
        nt_tag, nt_ref = struct.unpack_from(">HH", sdd, 2 + 4 * rank)
        ver, dfnt, width, ntclass = struct.unpack_from(
            ">BBBB", self.elt(nt_tag, nt_ref), 0
        )
        dt = np.dtype(_DFNT[dfnt])
        raw = self.elt(TAG_SD, sd_ref)
        n = int(np.prod(dims)) if rank else 0
        data = (
            np.frombuffer(raw, dtype=dt, count=n)
            .reshape(dims)
            .astype(dt.newbyteorder("="))
        )
        # calibration record, if the writer used DFTAG_CAL instead of
        # scale_factor/add_offset attributes (both spellings end up in
        # attrs; the Vdata attributes win on clash)
        cal_ref = next((r for t, r in members if t == TAG_CAL), None)
        if cal_ref is not None:
            cal, cal_err, ioff, ioff_err, cal_nt = struct.unpack(
                ">ddddh", self.elt(TAG_CAL, cal_ref)
            )
            attrs.setdefault("scale_factor", cal)
            attrs.setdefault("add_offset", ioff)
        return H4Dataset(name, tuple(int(d) for d in dims), dfnt, attrs, data)

    def read(self) -> dict[str, H4Dataset]:
        out: dict[str, H4Dataset] = {}
        claimed: set[int] = set()
        for (tag, ref) in sorted(self.dds):
            if tag != TAG_VG:
                continue
            name, vclass, members = self._vgroup(ref)
            if vclass != _VAR_CLASS:
                continue
            attrs = {}
            ndg_ref = None
            for t, r in members:
                if t == TAG_NDG:
                    ndg_ref = r
                elif t == TAG_VH:
                    try:
                        k, v = self._attr_value(r)
                    except Exception:
                        continue
                    attrs[k] = v
            if ndg_ref is None:
                continue
            claimed.add(ndg_ref)
            ds = self._read_ndg(ndg_ref, name.decode("ascii"), attrs)
            out[ds.name] = ds
        # old-style DFSD fallback: NDGs outside any Var0.0 vgroup, named
        # from their DFTAG_SDL label when one exists
        for (tag, ref) in sorted(self.dds):
            if tag != TAG_NDG or ref in claimed:
                continue
            label = None
            body = self.elt(TAG_NDG, ref)
            members = [
                struct.unpack_from(">HH", body, 4 * k)
                for k in range(len(body) // 4)
            ]
            sdl = next((r for t, r in members if t == TAG_SDL), None)
            if sdl is not None and (TAG_SDL, sdl) in self.dds:
                label = (
                    self.elt(TAG_SDL, sdl).split(b"\x00")[0].decode("latin-1")
                )
            ds = self._read_ndg(ref, label or f"SDS_{ref}", {})
            out[ds.name] = ds
        return out

    def file_attrs(self) -> dict:
        """Global attributes: Attr0.0 Vdatas that are members of the
        top-level CDF0.0 vgroup."""
        out: dict = {}
        for (tag, ref) in sorted(self.dds):
            if tag != TAG_VG:
                continue
            _name, vclass, members = self._vgroup(ref)
            if vclass != _CDF_CLASS:
                continue
            for t, r in members:
                if t == TAG_VH:
                    try:
                        k, v = self._attr_value(r)
                    except Exception:
                        continue
                    out[k] = v
        return out


def read_hdf4(path: str) -> dict[str, H4Dataset]:
    with open(path, "rb") as fh:
        return _H4Reader(fh.read(), path).read()


def read_hdf4_file_attrs(path: str) -> dict:
    with open(path, "rb") as fh:
        return _H4Reader(fh.read(), path).file_attrs()


# ==========================================================================
# writer
# ==========================================================================


def _vh_multi(
    name: bytes,
    vclass: bytes,
    fields: list[tuple[bytes, int, int]],
    nvert: int,
) -> bytes:
    """VH header for a Vdata of ``fields`` = [(fname, dfnt, order)]."""
    sizes = [np.dtype(_DFNT[d]).itemsize * o for _, d, o in fields]
    ivsize = sum(sizes)
    offs, acc = [], 0
    for s in sizes:
        offs.append(acc)
        acc += s
    if (
        max(o for _, _, o in fields) > 0xFFFF
        or max(sizes) > 0xFFFF
        or ivsize > 0xFFFF  # record total; also bounds every ">H" offset
        or len(name) > 0xFFFF
    ):
        # Vdata field order/size and name lengths are 16-bit in the
        # container — refuse loudly (MODIS CoreMetadata-style multi-MB
        # text attributes exceed this) instead of dying in struct.pack
        raise OverflowError(
            f"attribute {name!r}: field order/size exceeds the 16-bit "
            "Vdata field limits of the HDF4 container"
        )
    out = struct.pack(">HIHH", 0, nvert, ivsize, len(fields))  # FULL_INTERLACE
    out += b"".join(struct.pack(">H", d) for _, d, _ in fields)
    out += b"".join(struct.pack(">H", s) for s in sizes)
    out += b"".join(struct.pack(">H", o) for o in offs)
    out += b"".join(struct.pack(">H", o) for _, _, o in fields)
    for fname, _, _ in fields:
        out += struct.pack(">H", len(fname)) + fname
    out += struct.pack(">H", len(name)) + name
    out += struct.pack(">H", len(vclass)) + vclass
    out += struct.pack(">HHHH", 0, 0, _VSET_VERSION, 0)   # ext, version, more
    return out


def _vh_bytes(
    name: bytes, vclass: bytes, fname: bytes, dfnt: int, order: int, nvert: int
) -> bytes:
    return _vh_multi(name, vclass, [(fname, dfnt, order)], nvert)


def _vg_bytes(name: bytes, vclass: bytes, members: list[tuple[int, int]]) -> bytes:
    out = struct.pack(">H", len(members))
    out += b"".join(struct.pack(">H", t) for t, _ in members)
    out += b"".join(struct.pack(">H", r) for _, r in members)
    out += struct.pack(">H", len(name)) + name
    out += struct.pack(">H", len(vclass)) + vclass
    out += struct.pack(">HHHH", 0, 0, _VSET_VERSION, 0)
    return out


def _attr_elements(
    ref: int, key: str, value
) -> tuple[list[tuple[int, int, bytes]], tuple[int, int]]:
    """One attribute → (VH, VS) elements sharing ``ref``; returns the
    (tag, ref) the owning vgroup lists (the VH)."""
    if isinstance(value, str):
        payload = value.encode("latin-1")
        dfnt, order = 4, len(payload)
    else:
        arr = np.atleast_1d(np.asarray(value))
        if arr.dtype.kind == "f":
            arr = arr.astype(">f8")
        elif arr.dtype.kind in "iu":
            # HDF4 number types cap at 32-bit ints — refuse values that
            # would silently wrap instead of truncating them
            kind = arr.dtype.kind
            lo, hi = (np.iinfo(f"{kind}4").min, np.iinfo(f"{kind}4").max)
            if arr.min() < lo or arr.max() > hi:
                raise OverflowError(
                    f"attribute {key!r} value outside 32-bit range "
                    f"(HDF4 has no 64-bit NT): {value!r}"
                )
            arr = arr.astype(f">{kind}{min(arr.dtype.itemsize, 4)}")
        else:
            raise TypeError(f"unsupported attribute type for {key!r}: {arr.dtype}")
        dfnt = _dfnt_of(np.dtype(arr.dtype.newbyteorder("=")))
        order = arr.size
        payload = arr.tobytes()
    vh = _vh_bytes(
        key.encode("ascii"), _ATTR_CLASS, _ATTR_FIELD, dfnt, order, 1
    )
    return [(TAG_VH, ref, vh), (TAG_VS, ref, payload)], (TAG_VH, ref)


def _comp_header(raw_len: int, comp_ref: int, level: int) -> bytes:
    """Compressed-special-element header. ``level`` 1-9 selects deflate
    (coder info: the level, u16); ``level == -1`` selects RLE (no coder
    info — the codestream is self-describing)."""
    code = COMP_CODE_RLE if level == -1 else COMP_CODE_DEFLATE
    hdr = struct.pack(
        ">HHiHHH",
        SPECIAL_COMP,
        COMP_HEADER_VERSION,
        raw_len,
        comp_ref,
        COMP_MODEL_STDIO,
        code,
    )
    return hdr if level == -1 else hdr + struct.pack(">H", level)


def _compress_body(body: bytes, level: int) -> bytes:
    return rle_encode(body) if level == -1 else zlib.compress(body, level)


def _nbit_header(
    raw_len: int,
    comp_ref: int,
    nt: int,
    sign_ext: bool,
    fill_one: bool,
    start_bit: int,
    bit_len: int,
) -> bytes:
    """Compressed-special-element header for the N-bit coder: the common
    prefix, then nt(i32), sign_ext(u16), fill_one(u16), start_bit(i32),
    bit_len(i32) — mirrored by ``_read_compressed``."""
    return struct.pack(
        ">HHiHHHiHHii",
        SPECIAL_COMP,
        COMP_HEADER_VERSION,
        raw_len,
        comp_ref,
        COMP_MODEL_STDIO,
        COMP_CODE_NBIT,
        nt,
        int(bool(sign_ext)),
        int(bool(fill_one)),
        start_bit,
        bit_len,
    )


def _szip_header(
    raw_len: int,
    comp_ref: int,
    pixels: int,
    pps: int,
    mask: int,
    bpp: int,
    ppb: int,
) -> bytes:
    """Compressed-special-element header for the SZIP coder: the common
    prefix, then the HDF4 comp_info.szip fields as five int32s —
    pixels, pixels_per_scanline, options_mask, bits_per_pixel,
    pixels_per_block — mirrored by ``_read_compressed``."""
    return struct.pack(
        ">HHiHHHiiiii",
        SPECIAL_COMP,
        COMP_HEADER_VERSION,
        raw_len,
        comp_ref,
        COMP_MODEL_STDIO,
        COMP_CODE_SZIP,
        pixels,
        pps,
        mask,
        bpp,
        ppb,
    )


def write_hdf4(
    path: str,
    datasets: dict[str, tuple[np.ndarray, dict]],
    file_attrs: dict | None = None,
    *,
    compress: bool | int | str = False,
    chunks: dict[str, tuple[int, ...]] | None = None,
    linked: dict[str, tuple[int, int]] | None = None,
    external: dict[str, str] | None = None,
    nbit: dict[str, dict] | None = None,
    szip: dict[str, dict] | None = None,
) -> None:
    """Write ``{name: (array, attrs)}`` as a classic HDF4 file using the
    SD-API metadata layout (Var0.0 vgroups + Attr0.0 vdatas under a
    CDF0.0 root) so variables keep their names and per-variable
    attributes — the structures the reference's reader consumes
    (``readEntry``, reference ``aggregate_functions.py:99-122``).

    Storage layout per SDS (round 5 — the layouts real archived NASA
    granules use):

    * default: contiguous classic DFTAG_SD;
    * ``compress`` (True → deflate level 6, or an int level 1-9): the SD
      data becomes a compressed special element (SPECIAL_COMP header +
      DFTAG_COMPRESSED zlib codestream);
    * ``chunks[name] = chunk_shape``: chunked special element — a
      ``_HDF_CHK_TBL_`` Vdata chunk table + one DFTAG_CHUNK element per
      chunk (edge chunks padded full-size with zero bytes), each chunk
      deflated when ``compress`` is also set (the chunked+deflated SDS
      layout of archived MYD06/MYD03 granules);
    * ``linked[name] = (blk_len, num_blk)``: linked-block special
      element (round 6 — the appendable-element layout): data split
      into ``blk_len``-byte DFTAG_LINKED blocks (the trailing block
      stored short), referenced from chained block tables of
      ``num_blk`` entries each. Uncompressed by design (HDF4 links OR
      compresses an element, not both); combining with ``compress``
      or ``chunks`` on the same dataset raises;
    * ``compress="rle"`` (round 7): the HDF4 byte-run codec instead of
      deflate — applies wherever ``compress`` does (standalone
      compressed elements and per-chunk);
    * ``external[name] = filename`` (round 7): the SDS data is written
      RAW into the companion file ``filename`` (created next to
      ``path``; relative names only) and the main file carries an
      external special element pointing at it — the multi-file layout
      HDF4 produces via SDsetexternalfile. Externals are uncompressed
      by design (the companion holds raw bytes); combining with
      ``compress``, ``chunks`` or ``linked`` raises;
    * ``nbit[name] = {"start_bit": s, "bit_len": n, "sign_ext": bool,
      "fill_one": bool}`` (round 8): N-bit storage (the
      SDsetnbitdataset layout, comp code 2) — only the n-bit field of
      each element is stored, fields packed contiguously MSB-first.
      One storage layout per SDS: combining with ``compress``,
      ``chunks``, ``linked`` or ``external`` raises.
    """
    if isinstance(compress, str):
        if compress.lower() != "rle":
            raise ValueError(
                f"compress= accepts False/True/1-9/'rle', got {compress!r}"
            )
        level = -1  # RLE sentinel (no deflate level)
    else:
        level = 6 if compress is True else int(compress or 0)
        if not 0 <= level <= 9:
            raise ValueError(f"deflate level must be 1-9, got {compress!r}")
    chunks = chunks or {}
    linked = linked or {}
    external = external or {}
    nbit = nbit or {}
    szip = szip or {}
    for label, sel in (("chunks", chunks), ("linked", linked),
                       ("external", external), ("nbit", nbit),
                       ("szip", szip)):
        unknown = set(sel) - set(datasets)
        if unknown:
            raise KeyError(
                f"{label} given for unknown datasets: {sorted(unknown)}"
            )
    layouts = {"chunked": chunks, "linked": linked, "external": external,
               "nbit": nbit, "szip": szip}
    for a, b in (("linked", "chunked"), ("external", "chunked"),
                 ("external", "linked"), ("nbit", "chunked"),
                 ("nbit", "linked"), ("nbit", "external"),
                 ("szip", "linked"),
                 ("szip", "external"), ("szip", "nbit")):
        both = set(layouts[a]) & set(layouts[b])
        if both:
            raise ValueError(
                f"datasets cannot be both {a} and {b}: {sorted(both)}"
            )
    if level and linked:
        raise ValueError(
            "linked-block elements are uncompressed by design; drop "
            "compress= or linked= for " + ", ".join(sorted(linked))
        )
    if level and external:
        raise ValueError(
            "external elements hold raw bytes by design; drop "
            "compress= or external= for " + ", ".join(sorted(external))
        )
    if level and nbit:
        raise ValueError(
            "N-bit elements carry their own coder; drop compress= or "
            "nbit= for " + ", ".join(sorted(nbit))
        )
    if level and szip:
        raise ValueError(
            "SZIP elements carry their own coder; drop compress= or "
            "szip= for " + ", ".join(sorted(szip))
        )
    for name, fname in external.items():
        if os.path.isabs(fname) or os.path.dirname(fname):
            raise ValueError(
                f"external filename for {name!r} must be a bare name "
                f"(written next to the .hdf file), got {fname!r}"
            )
    elements: list[tuple[int, int, bytes]] = []
    ref = 1
    elements.append(
        (TAG_VERSION, ref, struct.pack(">III", 4, 2, 0) + b"hdf4lite\x00")
    )
    root_members: list[tuple[int, int]] = []

    def _szip_spec(name, arr, be, last_dim):
        from modis_aggregation_spark.sinks import sziplite as _sz

        spec = dict(szip[name])
        ppb = int(spec.pop("pixels_per_block", 16))
        pps = int(spec.pop("pixels_per_scanline", last_dim))
        mask = int(spec.pop(
            "options_mask", _sz.SZ_NN_OPTION_MASK | _sz.SZ_MSB_OPTION_MASK
        ))
        if spec:
            raise ValueError(
                f"unknown szip option(s) for {name!r}: {sorted(spec)}"
            )
        if arr.dtype.kind not in "iuf" or be.dtype.itemsize > 4:
            raise TypeError(
                f"SZIP storage needs a <= 32-bit SDS, got {arr.dtype} "
                f"for {name!r}"
            )
        return _sz, ppb, pps, mask, be.dtype.itemsize * 8

    for name, (arr, attrs) in datasets.items():
        arr = np.asarray(arr)
        dfnt = _dfnt_of(arr.dtype)
        be = arr.astype(_DFNT[dfnt])
        ref += 1
        sds_ref = ref
        nt = struct.pack(">BBBB", 1, dfnt, be.dtype.itemsize * 8, 1)
        elements.append((TAG_NT, sds_ref, nt))
        sdd = struct.pack(">H", arr.ndim)
        sdd += struct.pack(f">{arr.ndim}I", *arr.shape)
        sdd += struct.pack(">HH", TAG_NT, sds_ref)        # data NT
        sdd += struct.pack(">HH", TAG_NT, sds_ref) * arr.ndim  # scale NTs
        elements.append((TAG_SDD, sds_ref, sdd))
        if name in chunks:
            cdims = tuple(int(c) for c in chunks[name])
            if len(cdims) != arr.ndim or any(c < 1 for c in cdims):
                raise ValueError(
                    f"chunk shape {cdims} invalid for {name!r} with shape "
                    f"{arr.shape}"
                )
            nt_size = be.dtype.itemsize
            chunk_size = int(np.prod(cdims)) * nt_size
            grid = [-(-d // c) for d, c in zip(arr.shape, cdims)]
            padded = np.zeros(
                [g * c for g, c in zip(grid, cdims)], dtype=be.dtype
            )
            padded[tuple(slice(0, d) for d in arr.shape)] = be
            records = b""
            for origin in np.ndindex(*grid):
                sl = tuple(
                    slice(o * c, (o + 1) * c) for o, c in zip(origin, cdims)
                )
                body = padded[sl].tobytes()
                ref += 1
                chk_ref = ref
                if name in szip:
                    _sz, ppb, pps, mask, bpp = _szip_spec(
                        name, arr, be, cdims[-1]
                    )
                    chunk_pixels = int(np.prod(cdims))
                    ref += 1
                    elements.append((
                        TAG_COMPRESSED,
                        ref,
                        _sz.szip_encode(body, bpp, ppb, pps, mask),
                    ))
                    elements.append((
                        TAG_CHUNK | SPECIAL_BIT,
                        chk_ref,
                        _szip_header(
                            len(body), ref, chunk_pixels, pps, mask, bpp, ppb
                        ),
                    ))
                    chk_tag = TAG_CHUNK | SPECIAL_BIT
                elif level:
                    ref += 1
                    elements.append(
                        (TAG_COMPRESSED, ref, _compress_body(body, level))
                    )
                    elements.append((
                        TAG_CHUNK | SPECIAL_BIT,
                        chk_ref,
                        _comp_header(len(body), ref, level),
                    ))
                    chk_tag = TAG_CHUNK | SPECIAL_BIT
                else:
                    elements.append((TAG_CHUNK, chk_ref, body))
                    chk_tag = TAG_CHUNK
                records += struct.pack(f">{arr.ndim}i", *origin)
                records += struct.pack(">HH", chk_tag, chk_ref)
            ref += 1
            tbl_ref = ref
            vh = _vh_multi(
                _CHK_TBL_NAME,
                _CHK_TBL_NAME,
                [(b"origin", 24, arr.ndim), (b"chk_tag", 23, 1),
                 (b"chk_ref", 23, 1)],
                int(np.prod(grid)),
            )
            elements.append((TAG_VH, tbl_ref, vh))
            elements.append((TAG_VS, tbl_ref, records))
            hdr = struct.pack(">HB", SPECIAL_CHUNKED, 0)
            hdr += struct.pack(
                ">iiii",
                SPECIAL_COMP if level else 0,
                be.nbytes,
                chunk_size,
                nt_size,
            )
            hdr += struct.pack(">HHHH", TAG_VH, tbl_ref, TAG_NULL, 0)
            hdr += struct.pack(">i", arr.ndim)
            for d, c in zip(arr.shape, cdims):
                hdr += struct.pack(">iii", 0, d, c)
            fill = b"\x00" * nt_size
            hdr += struct.pack(">i", len(fill)) + fill
            if level == -1:
                chdr = struct.pack(">HH", COMP_MODEL_STDIO, COMP_CODE_RLE)
                hdr += struct.pack(">H", len(chdr)) + chdr
            elif level:
                chdr = struct.pack(
                    ">HHH", COMP_MODEL_STDIO, COMP_CODE_DEFLATE, level
                )
                hdr += struct.pack(">H", len(chdr)) + chdr
            elements.append((TAG_SD | SPECIAL_BIT, sds_ref, hdr))
        elif name in linked:
            blk_len, num_blk = (int(v) for v in linked[name])
            if blk_len < 1 or num_blk < 1:
                raise ValueError(
                    f"linked layout for {name!r} needs blk_len >= 1 and "
                    f"num_blk >= 1, got {linked[name]}"
                )
            body = be.tobytes()
            # data blocks (trailing block stored short)
            block_refs: list[int] = []
            for i in range(0, len(body), blk_len):
                ref += 1
                elements.append((TAG_LINKED, ref, body[i : i + blk_len]))
                block_refs.append(ref)
            if not block_refs:  # zero-length element still needs a table
                block_refs = [0]
            # chained block tables, num_blk entries each; reserve the
            # refs first so each table can point at its successor
            ntables = -(-len(block_refs) // num_blk)
            tbl_refs = list(range(ref + 1, ref + 1 + ntables))
            ref += ntables
            for t in range(ntables):
                entries = block_refs[t * num_blk : (t + 1) * num_blk]
                entries += [0] * (num_blk - len(entries))
                next_ref = tbl_refs[t + 1] if t + 1 < ntables else 0
                elements.append((
                    TAG_LINKED,
                    tbl_refs[t],
                    struct.pack(f">H{num_blk}H", next_ref, *entries),
                ))
            hdr = struct.pack(
                ">HiiiiH",
                SPECIAL_LINKED,
                be.nbytes,
                min(blk_len, be.nbytes) if be.nbytes else blk_len,
                blk_len,
                num_blk,
                tbl_refs[0],
            )
            elements.append((TAG_SD | SPECIAL_BIT, sds_ref, hdr))
        elif name in external:
            fname = external[name]
            ext_path = os.path.join(os.path.dirname(os.path.abspath(path)), fname)
            with open(ext_path, "wb") as fh:
                fh.write(be.tobytes())
            hdr = struct.pack(">HiI", SPECIAL_EXT, be.nbytes, 0)
            hdr += fname.encode("ascii")
            elements.append((TAG_SD | SPECIAL_BIT, sds_ref, hdr))
        elif name in nbit:
            spec = dict(nbit[name])
            start_bit = int(spec.pop("start_bit"))
            bit_len = int(spec.pop("bit_len"))
            sign_ext = bool(spec.pop("sign_ext", False))
            fill_one = bool(spec.pop("fill_one", False))
            if spec:
                raise ValueError(
                    f"unknown nbit option(s) for {name!r}: {sorted(spec)}"
                )
            if arr.dtype.kind not in "iu":
                raise TypeError(
                    f"N-bit storage needs an integer SDS, got {arr.dtype} "
                    f"for {name!r}"
                )
            ref += 1
            elements.append((
                TAG_COMPRESSED,
                ref,
                nbit_encode(
                    be.tobytes(), be.dtype.itemsize, start_bit, bit_len
                ),
            ))
            elements.append((
                TAG_SD | SPECIAL_BIT,
                sds_ref,
                _nbit_header(
                    be.nbytes, ref, dfnt, sign_ext, fill_one,
                    start_bit, bit_len,
                ),
            ))
        elif name in szip:
            _sz, ppb, pps, mask, bpp = _szip_spec(
                name, arr, be, arr.shape[-1] if arr.ndim else 1
            )
            ref += 1
            elements.append((
                TAG_COMPRESSED,
                ref,
                _sz.szip_encode(be.tobytes(), bpp, ppb, pps, mask),
            ))
            elements.append((
                TAG_SD | SPECIAL_BIT,
                sds_ref,
                _szip_header(
                    be.nbytes, ref, int(arr.size), pps, mask, bpp, ppb
                ),
            ))
        elif level:
            ref += 1
            elements.append(
                (TAG_COMPRESSED, ref, _compress_body(be.tobytes(), level))
            )
            elements.append((
                TAG_SD | SPECIAL_BIT,
                sds_ref,
                _comp_header(be.nbytes, ref, level),
            ))
        else:
            elements.append((TAG_SD, sds_ref, be.tobytes()))
        ndg = struct.pack(">HHHH", TAG_SDD, sds_ref, TAG_SD, sds_ref)
        elements.append((TAG_NDG, sds_ref, ndg))
        vg_members: list[tuple[int, int]] = [(TAG_NDG, sds_ref)]
        for key, value in (attrs or {}).items():
            ref += 1
            elts, handle = _attr_elements(ref, key, value)
            elements.extend(elts)
            vg_members.append(handle)
        ref += 1
        elements.append(
            (TAG_VG, ref, _vg_bytes(name.encode("ascii"), _VAR_CLASS, vg_members))
        )
        root_members.append((TAG_VG, ref))

    for key, value in (file_attrs or {}).items():
        ref += 1
        elts, handle = _attr_elements(ref, key, value)
        elements.extend(elts)
        root_members.append(handle)
    ref += 1
    elements.append((TAG_VG, ref, _vg_bytes(b"CDF0.0", _CDF_CLASS, root_members)))

    ndd = len(elements)
    data_start = 4 + 6 + 12 * ndd
    dd, payload, pos = [], [], data_start
    for tag, r, body in elements:
        dd.append(struct.pack(">HHII", tag, r, pos, len(body)))
        payload.append(body)
        pos += len(body)
    blob = (
        MAGIC + struct.pack(">hI", ndd, 0) + b"".join(dd) + b"".join(payload)
    )
    with open(path, "wb") as fh:
        fh.write(blob)
