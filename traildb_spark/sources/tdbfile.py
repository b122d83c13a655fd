"""Native TrailDB ``.tdb`` file format: a pure-Python reader (directory
AND single-file tar package, v0 and v1) plus a literal-only writer for
interop and fixtures.

This is the one capability a migrating TrailDB user calls table stakes:
``read_tdb(spark, path)`` opens an artifact produced by the reference C
library and yields the engine's canonical event DataFrame
``(uuid STRING hex32, time LONG, <field> STRING ...)`` with the ``''``
≡ NULL convention. Format knowledge derives from the reference
implementation (all citations into /root/reference):

- open layout / member set: ``src/tdb.c:298-393``
- ``info`` / ``version`` / ``fields`` text files: ``src/tdb.c:255-291``,
  ``fields_open`` ``src/tdb.c:142-227`` (v0 reads names to EOF, v1 stops
  at the blank line; writer ``src/tdb_cons.c:109-144``)
- lexicon layout ``[count][offset_1..offset_{count+1}][values]`` with
  4-byte entries unless the file exceeds 2^32 bytes
  (``src/tdb_cons.c:62-107`` store, ``src/tdb.c:106-140`` read; v0
  values are NUL-terminated, length via strlen ``src/tdb.c:130-140``)
- ``uuids``: 16-byte uuids sorted by ``__uint128_t`` memcpy-compare —
  i.e. LITTLE-ENDIAN integer order of the raw bytes, not lexicographic
  (``src/tdb_cons.c:356-376``, binary search ``src/tdb.c:552-589``);
  v0 calls the file ``cookies`` and guarantees no order
- ``trails.toc``: ``num_trails + 1`` offsets, 4 bytes each iff the
  final ``trails.data`` size (including its 8 zero pad bytes) is under
  2^32 (``src/tdb_encode.c:355-366``, ``src/tdb_decode.c:7-13``)
- trail bitstream: 3-bit length residual reserved at the head (number
  of ignore-bits in the last byte), then per event a field-0 timestamp
  -delta gram followed by field-value grams until the next field-0 gram
  (``src/tdb_encode.c:277-345`` encode, ``src/tdb_decode.c:227-329``
  decode); timestamps accumulate from ``min_timestamp``
- gram coding: LSB-first bitstream; flag bit 1 → 16-bit index into a
  fully-expanded 65536-entry codebook (packed 20-byte entries: 128-bit
  symbol + 32-bit code length; every 16-bit word starting with a code
  maps to that code's entry — ``create_codebook_fun``
  ``src/tdb_huffman.c:343-357``), flag bit 0 → literal
  ``[field (field_id_bits)][val (field_bits[field])]``
  (``huff_decode_value`` ``src/tdb_huffman.h:66-88``); a symbol's high
  64 bits hold the second item of a bigram
- bit widths: ``field_id_bits = bits_needed(num_fields)``,
  ``field_bits[0] = bits_needed(max_timestamp_delta)``,
  ``field_bits[f] = bits_needed(lexicon_count(f))`` with
  ``bits_needed(0) == 1`` (``src/tdb_huffman.c:34-43,232-247``)
- item packing: narrow ``field | val<<8`` when ``field <= 127`` and
  ``val <= 2^24-1``; wide ``(f&127) | 128 | (f>>7)<<8 | val<<16``
  (``src/tdb_types.h:24-99``)
- v0 codebook entries are 12 bytes (64-bit symbol) and convert by
  splitting at bit 32 (``huff_convert_v0_codebook``
  ``src/tdb_huffman.c:377-418``)
- tar package: plain ustar archive whose third member ``tar.toc`` —
  data at fixed offset 2560 — is a text TOC ``name offset size`` per
  line after the magic ``TAR TOC FOR TDB VER 1`` (``src/tdb_package.c:
  16-124``, writer ``src/tdb_cons_package.c:24-34``)

The WRITER (``write_tdb``) emits spec-valid streams in three modes.
Default: literal-only — every gram is a flag-0 literal, the codebook is
present but never referenced. ``compress=True`` runs the reference's
FULL compression pipeline: the Apriori candidate-bigram pass and
per-event weighted set cover (``make_grams`` ``src/tdb_encode_model.c:
383-446``, ``choose_grams_one_event`` ``:178-275``) feeding the
Huffman stage (top-65536 symbols, two-queue tree, depth-16 code cap,
expanded direct-lookup codebook — ``huff_create_codemap``
``src/tdb_huffman.c:249-287``, ``create_codebook_fun``
``src/tdb_huffman.c:343-357``); ``bigrams=False`` is the reference's
TDB_OPT_CONS_NO_BIGRAMS unigram mode. Measured parity
(tools/size_parity.py, 300k-event zipf corpus): our bigram stream is
1.0000x the C encoder's default-mode trails.data (13 bytes apart in
1.04 MB; trails.toc byte-identical, i.e. every trail encodes to the
same byte length — residual bytes are Huffman tie-break code
assignment, which the format leaves unspecified). The reference
decoder reads all forms (its decode loop dispatches per gram on the
flag bit) — cross-checked in tests against dumps captured from the
reference C library compiled in this container. The writer exists so
(a) round-trip property tests exercise the same bitstream grammar the
reader parses, and (b) extracts can be
handed back to C-library consumers at a sane size.

Scale shape of ``read_tdb``: metadata (info/fields/TOC) parses on the
driver; trail ranges split into ~32 MB partitions which decode in
executors via ``mapInPandas`` — each worker opens the file itself
(seekable local/shared-FS path, the same deployment contract as the
reference's mmap) and reads ONLY its byte slices: the range's window of
``trails.data``, ``trails.toc`` and ``uuids``, plus the shared lexicons
and codebook (cached per worker process). Worker memory is therefore
O(range + vocab), never O(num_trails): ``TdbMeta`` holds no per-trail
Python objects (uuids stay raw bytes sliced on demand, the TOC loads
lazily and only on the driver, lexicons parse per-field on first use
into one numpy array each). Trail bitstreams decode with a vectorized
numpy kernel that advances one gram per *round* across every still-
active trail in the range (the across-trails transpose of the
reference's per-trail cursor loop), falling back to the scalar decoder
for the few longest trails once the active set is too small to
vectorize. A one-file tdb is inherently single-host data; at 100 TB the
corpus is many tdbs (the reference's own "daily tdb" pattern,
doc/docs/index.md:43-45) — import parallelism comes from one job per
file × partitions within the file.
"""

from __future__ import annotations

import io
import os
import struct
import tarfile

import numpy as np

TDB_TAR_MAGIC = b"TAR TOC FOR TDB VER 1\n"
TOC_FILE_OFFSET = 2560
UINT32_MAX = 0xFFFFFFFF
_MASK64 = (1 << 64) - 1


def _bits_needed(maxval: int) -> int:
    """src/tdb_huffman.c:34-43: bits to hold maxval; 0 still takes 1."""
    return maxval.bit_length() if maxval > 0 else 1


def _item_field(item: int) -> int:
    if not item & 128:
        return item & 127
    return (item & 127) | (((item >> 8) & 127) << 7)


def _item_val(item: int) -> int:
    if not item & 128:
        return (item >> 8) & UINT32_MAX
    return item >> 16


def _make_item(field: int, val: int) -> int:
    if field > 127 or val > 0xFFFFFF:
        return (field & 127) | 128 | ((field >> 7) << 8) | (val << 16)
    return field | (val << 8)


# --------------------------------------------------------------------------
# container access (directory or tar package)
# --------------------------------------------------------------------------

def _parse_package_toc(f) -> dict[str, tuple[int, int]]:
    """Member map from the fixed-offset text TOC; falls back to a
    generic tar walk when the magic is absent (a tdb repacked by
    ordinary tar tooling is still a valid archive)."""
    f.seek(TOC_FILE_OFFSET)
    head = f.read(len(TDB_TAR_MAGIC))
    members: dict[str, tuple[int, int]] = {}
    if head == TDB_TAR_MAGIC:
        buf = f.read(65536)
        for line in buf.split(b"\n"):
            if not line:
                break
            parts = line.split(b" ")
            if len(parts) != 3:
                break
            members[parts[0].decode()] = (int(parts[1]), int(parts[2]))
        if members:
            return members
    f.seek(0)
    tf = tarfile.open(fileobj=f, mode="r:")
    for m in tf.getmembers():
        members[m.name] = (m.offset_data, m.size)
    return members


class _Container:
    """Uniform byte access to a tdb's members for both layouts."""

    def __init__(self, path: str):
        self.path = path
        if os.path.isdir(path):
            self.is_package = False
            self.members = None
        elif os.path.isfile(path):
            self.is_package = True
            with open(path, "rb") as f:
                self.members = _parse_package_toc(f)
        elif os.path.isdir(path + ".tdb"):
            # the reference tries "<root>.tdb" when <root> is absent
            self.path = path + ".tdb"
            self.is_package = False
            self.members = None
        elif os.path.isfile(path + ".tdb"):
            self.path = path + ".tdb"
            self.is_package = True
            with open(self.path, "rb") as f:
                self.members = _parse_package_toc(f)
        else:
            raise FileNotFoundError(f"no tdb at {path!r} (or {path!r}.tdb)")

    def has(self, name: str) -> bool:
        if self.is_package:
            return name in self.members
        return os.path.exists(os.path.join(self.path, name))

    def read(self, name: str) -> bytes:
        if self.is_package:
            off, size = self.members[name]
            with open(self.path, "rb") as f:
                f.seek(off)
                return f.read(size)
        with open(os.path.join(self.path, name), "rb") as f:
            return f.read()

    def read_slice(self, name: str, start: int, length: int) -> bytes:
        if self.is_package:
            off, size = self.members[name]
            if start + length > size:
                length = max(0, size - start)
            with open(self.path, "rb") as f:
                f.seek(off + start)
                return f.read(length)
        with open(os.path.join(self.path, name), "rb") as f:
            f.seek(start)
            return f.read(length)

    def size(self, name: str) -> int:
        if self.is_package:
            return self.members[name][1]
        return os.path.getsize(os.path.join(self.path, name))


# --------------------------------------------------------------------------
# metadata
# --------------------------------------------------------------------------

class TdbMeta:
    """Driver/worker-side parsed tdb metadata. Scale contract: holds
    NOTHING proportional to num_trails as Python objects — uuids and the
    TOC are read as byte slices on demand (``uuid_hex_range`` /
    ``toc_slice``), the full TOC loads lazily (driver-only, for range
    planning) as one numpy array, and lexicon values parse per-field on
    first use. On the reference's headline 44 M-trail artifact
    (doc/docs/tutorial.md:171-174) eager construction costs a few KB of
    field metadata plus the fixed 1.3 MB codebook — not the several GB
    per worker the old list-of-bytes uuids form required."""

    def __init__(self, path: str):
        c = _Container(path)
        self._c = c
        self.path = c.path
        self.is_package = c.is_package

        info = c.read("info").split()
        (self.num_trails, self.num_events, self.min_timestamp,
         self.max_timestamp, self.max_timestamp_delta) = (
            int(x) for x in info[:5]
        )

        if c.has("version"):
            self.version = int(c.read("version").strip() or 0)
            if self.version > 1:
                raise ValueError(
                    f"incompatible tdb version {self.version} (latest: 1)"
                )
        else:
            self.version = 0

        raw_fields = c.read("fields").split(b"\n")
        names = []
        for line in raw_fields:
            if line == b"":
                break  # v1 terminator; v0 files simply end
            names.append(line.decode())
        self.field_names = ["time"] + names
        self.num_fields = len(self.field_names)

        # lexicon COUNTS from each file header (width from file size,
        # matching the reader's >2^32 rule) — values parse lazily
        self._lex_counts: list[int] = []
        for name in names:
            lname = f"lexicon.{name}"
            size = c.size(lname)
            if size == 0:
                self._lex_counts.append(0)
                continue
            width = 8 if size > UINT32_MAX else 4
            head = c.read_slice(lname, 0, width)
            self._lex_counts.append(
                struct.unpack("<I" if width == 4 else "<Q", head)[0]
            )
        self._lex_values: dict[int, list[bytes]] = {}
        self._lex_strs: dict[int, np.ndarray] = {}
        self._toc = None

        if self.num_trails:
            self._uuids_name = "cookies" if self.version == 0 else "uuids"
            data_size = c.size("trails.data")
            self._toc_width = 4 if data_size < UINT32_MAX else 8

            cb = c.read("trails.codebook")
            if self.version == 0:
                ent = np.frombuffer(cb, dtype=np.dtype(
                    [("sym", "<u8"), ("bits", "<u4")]), count=65536)
                lo = (ent["sym"] & UINT32_MAX).astype(np.uint64)
                hi = (ent["sym"] >> np.uint64(32)).astype(np.uint64)
                self.cb_bits = ent["bits"].astype(np.int64)
            else:
                ent = np.frombuffer(cb, dtype=np.dtype(
                    [("lo", "<u8"), ("hi", "<u8"), ("bits", "<u4")]),
                    count=65536)
                lo, hi = ent["lo"], ent["hi"]
                self.cb_bits = ent["bits"].astype(np.int64)
            self.cb_lo = lo.astype(np.int64)  # packed item (low 64)
            self.cb_hi = hi.astype(np.int64)  # bigram second item
        else:
            self._uuids_name = "uuids"
            self._toc_width = 4
            self.cb_lo = self.cb_hi = self.cb_bits = np.zeros(0, np.int64)

        # bit widths: src/tdb.c:229-253 + src/tdb_huffman.c:232-247
        self.field_id_bits = _bits_needed(self.num_fields)
        self.field_bits = [_bits_needed(self.max_timestamp_delta)] + [
            _bits_needed(n) for n in self._lex_counts
        ]

    # -- lazy per-trail metadata (O(range) reads, never O(num_trails)) --

    @property
    def toc(self) -> np.ndarray:
        """Full TOC as int64 (lazy; intended for driver-side range
        planning — workers use toc_slice)."""
        if self._toc is None:
            if not self.num_trails:
                self._toc = np.zeros(1, dtype=np.int64)
            else:
                raw = self._c.read("trails.toc")
                self._toc = np.frombuffer(
                    raw,
                    dtype=np.uint32 if self._toc_width == 4 else np.uint64,
                    count=self.num_trails + 1,
                ).astype(np.int64)
        return self._toc

    def toc_slice(self, start: int, end: int) -> np.ndarray:
        """TOC entries [start, end] inclusive → int64 array of
        end-start+1 absolute byte offsets into trails.data."""
        if self._toc is not None:
            return self._toc[start:end + 1]
        w = self._toc_width
        raw = self._c.read_slice("trails.toc", start * w, (end - start + 1) * w)
        return np.frombuffer(
            raw, dtype=np.uint32 if w == 4 else np.uint64,
            count=end - start + 1,
        ).astype(np.int64)

    def uuid_bytes(self, trail: int) -> bytes:
        return self._c.read_slice(self._uuids_name, trail * 16, 16)

    def uuid_hex_range(self, start: int, end: int) -> np.ndarray:
        """uuids[start:end] as a numpy U32 hex array (vectorized
        hexlify; hex chars are never NUL so S32 round-trips exactly)."""
        import binascii

        if start >= end:
            return np.empty(0, dtype="U32")
        raw = self._c.read_slice(self._uuids_name, start * 16,
                                 (end - start) * 16)
        return np.frombuffer(binascii.hexlify(raw), dtype="S32").astype("U32")

    def lexicon_values(self, ofield: int) -> list[bytes]:
        """Values of ofield (0-based among non-time fields), lazily
        parsed and cached; index = val-1."""
        vals = self._lex_values.get(ofield)
        if vals is None:
            name = self.field_names[ofield + 1]
            vals = _parse_lexicon(self._c.read(f"lexicon.{name}"),
                                  self.version)
            self._lex_values[ofield] = vals
        return vals

    def lexicon_strs(self, ofield: int) -> np.ndarray:
        """Decoded lexicon as an object array with '' at index 0 (the
        NULL item), so ``arr[val_id]`` vectorizes id→string mapping."""
        arr = self._lex_strs.get(ofield)
        if arr is None:
            vals = self.lexicon_values(ofield)
            arr = np.empty(len(vals) + 1, dtype=object)
            arr[0] = ""
            for i, v in enumerate(vals):
                arr[i + 1] = v.decode("utf-8", "replace")
            self._lex_strs[ofield] = arr
        return arr

    # backwards-compatible views (tests / plain-Python iterator)
    @property
    def lexicons(self) -> list[list[bytes]]:
        return [self.lexicon_values(i)
                for i in range(len(self.field_names) - 1)]

    def lexicon_size(self, field: int) -> int:
        """+1 for the implicit NULL, matching tdb_lexicon_size
        (src/tdb.c:455-465)."""
        if field == 0 or field >= self.num_fields:
            return 0
        return self._lex_counts[field - 1] + 1


def _parse_lexicon(blob: bytes, version: int) -> list[bytes]:
    if not blob:
        return []
    width = 8 if len(blob) > UINT32_MAX else 4
    fmt = "<I" if width == 4 else "<Q"
    (count,) = struct.unpack_from(fmt, blob, 0)
    offs = struct.unpack_from(f"<{count + 1}{'I' if width == 4 else 'Q'}",
                              blob, width)
    out = []
    for i in range(count):
        if version == 0:
            end = blob.index(0, offs[i])
            out.append(blob[offs[i]:end])
        else:
            out.append(blob[offs[i]:offs[i + 1]])
    return out


# --------------------------------------------------------------------------
# trail decode
# --------------------------------------------------------------------------

def _decode_trail(buf: bytes, meta: TdbMeta) -> list[tuple[int, list[int]]]:
    """One trail's bitstream → [(timestamp, [val per ofield]), ...].
    Mirrors _tdb_cursor_next_batch (src/tdb_decode.c:227-329) without a
    filter: full rows, edge encoding resolved through prev_items."""
    if not buf:
        return []
    data = buf + b"\x00" * 9  # read64 may peek past the last byte
    nbits = 8 * len(buf) - (data[0] & 7)
    offset = 3
    tstamp = meta.min_timestamp
    nf = meta.num_fields
    prev = [0] * nf
    fid_bits = meta.field_id_bits
    fid_mask = (1 << fid_bits) - 1
    fbits = meta.field_bits
    cb_lo, cb_hi, cb_bits = meta.cb_lo, meta.cb_hi, meta.cb_bits
    events = []

    def gram(offs):
        enc = (int.from_bytes(data[offs >> 3:(offs >> 3) + 9], "little")
               >> (offs & 7)) & _MASK64
        if enc & 1:
            idx = (enc >> 1) & 0xFFFF
            return int(cb_lo[idx]), int(cb_hi[idx]), offs + int(cb_bits[idx]) + 1
        field = (enc >> 1) & fid_mask
        fb = fbits[field]
        val = (enc >> (1 + fid_bits)) & ((1 << fb) - 1)
        return _make_item(field, val), 0, offs + 1 + fid_bits + fb

    while offset < nbits:
        item1, item2, offset = gram(offset)
        tstamp += _item_val(item1)
        if item2:
            f2 = _item_field(item2)
            if f2:
                prev[f2] = _item_val(item2)
        while offset < nbits:
            save = offset
            i1, i2, offset = gram(offset)
            f = _item_field(i1)
            if not f:
                offset = save
                break
            prev[f] = _item_val(i1)
            if i2:
                f2 = _item_field(i2)
                if f2:
                    prev[f2] = _item_val(i2)
        events.append((tstamp, prev[1:].copy()))
    return events


def iter_events(path: str, trail_range: tuple[int, int] | None = None):
    """Plain-Python iterator over (uuid_hex, timestamp, values...) rows —
    the cursor contract without Spark (used by tests and the CLI's
    streaming import). This per-gram scalar path doubles as the
    differential oracle for the vectorized range decoder
    (test_vectorized_decoder_matches_scalar)."""
    meta = TdbMeta(path)
    yield from _iter_events_meta(meta, trail_range)


def _iter_events_meta(meta: TdbMeta, trail_range=None):
    start, end = trail_range or (0, meta.num_trails)
    if start >= end:
        return
    toc = meta.toc_slice(start, end)
    byte0, byte1 = int(toc[0]), int(toc[-1])
    blob = meta._c.read_slice("trails.data", byte0, byte1 - byte0)
    uuid_hexes = meta.uuid_hex_range(start, end)
    nof = meta.num_fields - 1
    lex = [meta.lexicon_strs(f) for f in range(nof)]
    for t in range(end - start):
        b0, b1 = int(toc[t]) - byte0, int(toc[t + 1]) - byte0
        uuid_hex = str(uuid_hexes[t])
        for ts, vals in _decode_trail(blob[b0:b1], meta):
            row = [uuid_hex, ts]
            for f, v in enumerate(vals):
                row.append(str(lex[f][v]))
            yield tuple(row)


# --------------------------------------------------------------------------
# vectorized range decode (the read_tdb executor kernel)
# --------------------------------------------------------------------------

def _unpack_items(items: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized tdb_item_field / tdb_item_val (src/tdb_types.h:24-99)."""
    narrow = (items & 128) == 0
    field = np.where(narrow, items & 127,
                     (items & 127) | (((items >> 8) & 127) << 7))
    val = np.where(narrow, (items >> 8) & UINT32_MAX, items >> 16)
    return field, val


def _decode_grams_vectorized(blob: bytes, bit_starts: np.ndarray,
                             bit_ends: np.ndarray, meta: TdbMeta):
    """Decode every gram of every trail in a contiguous data window.

    The across-trails transpose of the reference cursor: each ROUND
    advances one gram in every still-active trail with pure numpy ops
    (gather 9 bytes → 64-bit window → codebook/literal split), so the
    Python interpreter runs O(max trail grams) times, not O(total
    grams). Once fewer than 32 trails remain active (the whale tail),
    the scalar per-gram loop finishes them — bounding the worst case at
    the old per-gram cost instead of paying numpy dispatch per gram.

    Returns (trail_idx, item1, item2) int64 arrays in trail-major
    stream order.
    """
    # pad so a[q+1] is always readable, then view as aligned u64 words:
    # the 64-bit window at any bit offset is two adjacent words shifted
    # — 2 gathers, no per-gram byte assembly
    pad_len = (len(blob) + 23) // 8 * 8
    pad = blob + b"\x00" * (pad_len - len(blob))
    a = np.frombuffer(pad, dtype="<u8")
    u64_0 = np.uint64(0)
    u64_1 = np.uint64(1)

    fid_bits = meta.field_id_bits
    fid_mask = (1 << fid_bits) - 1
    # pad to the mask so garbage field ids on codebook lanes index
    # safely (their results are discarded by the where-select)
    fbits_pad = np.zeros(fid_mask + 1, dtype=np.uint64)
    fbits_pad[:meta.num_fields] = meta.field_bits
    cb_lo, cb_hi = meta.cb_lo, meta.cb_hi
    cb_adv = meta.cb_bits + 1

    out_trail: list[np.ndarray] = []
    out_i1: list[np.ndarray] = []
    out_i2: list[np.ndarray] = []

    act = np.flatnonzero(bit_starts < bit_ends).astype(np.int64)
    offs = bit_starts[act].astype(np.int64)
    ends_a = bit_ends[act].astype(np.int64)
    while act.size >= 32:
        q = offs >> 6
        r = (offs & 63).astype(np.uint64)
        enc = a[q] >> r
        enc |= np.where(r == u64_0, u64_0,
                        a[q + 1] << ((np.uint64(64) - r) & np.uint64(63)))

        is_code = (enc & u64_1) == u64_1
        body = (enc >> u64_1).astype(np.int64)
        idx16 = body & 0xFFFF
        fld = body & fid_mask
        fb = fbits_pad[fld]
        val = ((enc >> np.uint64(1 + fid_bits))
               & ((u64_1 << fb) - u64_1)).astype(np.int64)
        wide = (fld > 127) | (val > 0xFFFFFF)
        lit1 = np.where(wide,
                        (fld & 127) | 128 | ((fld >> 7) << 8) | (val << 16),
                        fld | (val << 8))
        # act is never mutated in place (compress builds new arrays),
        # so appending the same object per round is safe
        out_trail.append(act)
        out_i1.append(np.where(is_code, cb_lo[idx16], lit1))
        out_i2.append(np.where(is_code, cb_hi[idx16], 0))
        adv = np.where(is_code, cb_adv[idx16],
                       1 + fid_bits + fb.astype(np.int64))
        offs = offs + adv
        still = offs < ends_a
        if not still.all():
            act = act[still]
            offs = offs[still]
            ends_a = ends_a[still]

    # scalar tail: the few longest trails (or tiny ranges)
    if act.size:
        data = pad
        fbits_arr = fbits_pad
        cb_bits = meta.cb_bits
        for k in range(act.size):
            t = int(act[k])
            off, end = int(offs[k]), int(ends_a[k])
            t1s, t2s = [], []
            while off < end:
                encw = (int.from_bytes(
                    data[off >> 3:(off >> 3) + 9], "little")
                    >> (off & 7)) & _MASK64
                if encw & 1:
                    idx = (encw >> 1) & 0xFFFF
                    t1s.append(int(cb_lo[idx]))
                    t2s.append(int(cb_hi[idx]))
                    off += int(cb_bits[idx]) + 1
                else:
                    field = (encw >> 1) & fid_mask
                    fb = int(fbits_arr[field])
                    val = (encw >> (1 + fid_bits)) & ((1 << fb) - 1)
                    t1s.append(_make_item(field, val))
                    t2s.append(0)
                    off += 1 + fid_bits + fb
            if t1s:
                out_trail.append(np.full(len(t1s), t, np.int64))
                out_i1.append(np.asarray(t1s, np.int64))
                out_i2.append(np.asarray(t2s, np.int64))

    if not out_trail:
        z = np.zeros(0, np.int64)
        return z, z, z
    tr = np.concatenate(out_trail)
    i1 = np.concatenate(out_i1)
    i2 = np.concatenate(out_i2)
    # rounds are interleaved across trails; a stable sort by trail id
    # restores trail-major stream order (rounds are appended in stream
    # order per trail, and the scalar tail appends after all rounds)
    order = np.argsort(tr, kind="stable")
    return tr[order], i1[order], i2[order]


def _decode_range_pdf(meta: TdbMeta, start: int, end: int,
                      names: list[str]):
    """Decode trails [start, end) into ONE pandas DataFrame, fully
    vectorized: grams → event boundaries (cumsum over field-0 grams) →
    per-trail timestamp prefix sums → scatter field assignments into an
    events×ofields id matrix → per-column forward-fill (edge decode) →
    lexicon id→string via one array take per field. Equivalent to
    _iter_events_meta row by row (differential-tested)."""
    import pandas as pd

    cols = ["uuid", "time"] + list(names)
    nof = meta.num_fields - 1
    if start >= end:
        return pd.DataFrame({c: [] for c in cols})
    toc = meta.toc_slice(start, end)
    byte0 = int(toc[0])
    blob = meta._c.read_slice("trails.data", byte0, int(toc[-1]) - byte0)

    rel = toc - byte0
    starts = rel[:-1]
    lens = rel[1:] - starts
    nonempty = lens > 0
    # first byte of each trail stores the ignore-bit count (low 3 bits)
    first_bytes = np.zeros(len(starts), np.int64)
    if blob:
        fb_idx = starts[nonempty]
        first_bytes[nonempty] = np.frombuffer(
            blob, dtype=np.uint8)[fb_idx].astype(np.int64)
    bit_starts = starts * 8 + 3
    bit_ends = starts * 8 + lens * 8 - (first_bytes & 7)
    bit_ends = np.maximum(bit_ends, bit_starts)

    tr, i1, i2 = _decode_grams_vectorized(blob, bit_starts, bit_ends, meta)
    if tr.size == 0:
        return pd.DataFrame({c: [] for c in cols})

    f1, v1 = _unpack_items(i1)
    is_ts = f1 == 0
    ev_id = np.cumsum(is_ts) - 1
    n_events = int(ev_id[-1]) + 1

    # timestamps: per-trail prefix sums of field-0 deltas
    ev_trail = tr[is_ts]
    deltas = v1[is_ts]
    cum = np.cumsum(deltas)
    trail_first_ev = np.flatnonzero(np.diff(ev_trail, prepend=-1))
    counts = np.diff(np.append(trail_first_ev, n_events))
    base = np.where(trail_first_ev > 0, cum[trail_first_ev - 1], 0)
    times = meta.min_timestamp + cum - np.repeat(base, counts)

    # object array of shared str (a U32 fancy-index would copy 128 B
    # per EVENT; object pointers share one str per trail)
    uuid_hexes = meta.uuid_hex_range(start, end).astype(object)
    uuids = uuid_hexes[ev_trail]

    data = {"uuid": uuids, "time": times}
    if nof:
        # ofield ids per event: init 0 (NULL) at each trail's first
        # event, scatter the explicit assignments (each (event, field)
        # is assigned at most once — tdb events carry one item per
        # changed field), then forward-fill down each column; trail
        # firsts being always-assigned stops fills crossing trails
        dtype = (np.int32 if all(c < 0x7FFFFFFF for c in meta._lex_counts)
                 else np.int64)
        vals = np.full((n_events, nof), -1, dtype=dtype)
        vals[trail_first_ev, :] = 0
        m1 = ~is_ts
        vals[ev_id[m1], f1[m1] - 1] = v1[m1].astype(dtype)
        has2 = i2 != 0
        if has2.any():
            f2, v2 = _unpack_items(i2[has2])
            real = f2 > 0
            vals[ev_id[has2][real], f2[real] - 1] = v2[real].astype(dtype)
        rowidx = np.arange(n_events)
        for c in range(nof):
            col = vals[:, c]
            src = np.where(col >= 0, rowidx, 0)
            np.maximum.accumulate(src, out=src)
            data[names[c]] = meta.lexicon_strs(c)[col[src]]
    return pd.DataFrame(data, columns=cols)


def read_tdb(spark, path: str, target_bytes: int = 32 << 20):
    """Open a native TrailDB artifact as the engine's canonical event
    DataFrame. Trail ranges are split on the driver into ~target_bytes
    partitions of ``trails.data`` (contiguous byte slices — each task
    seeks once and decodes sequentially, the access pattern the TOC
    exists for); decode happens in executors via mapInPandas with the
    vectorized kernel, touching only the range's slices of trails.data
    / trails.toc / uuids (worker memory O(range + vocab)). The path
    must be visible to executors (local/shared FS — the reference's own
    deployment contract for mmap)."""
    from ..functions.core import local_frame

    meta = TdbMeta(path)
    abspath = os.path.abspath(meta.path)
    names = meta.field_names[1:]
    schema = "uuid string, time long" + "".join(
        f", `{n}` string" for n in names
    )

    # contiguous trail ranges of ~target_bytes each: searchsorted over
    # the TOC gives O(num_ranges log num_trails) planning, not a
    # per-trail Python loop
    toc = meta.toc
    ranges = []
    start = 0
    while start < meta.num_trails:
        cut = int(np.searchsorted(toc, int(toc[start]) + target_bytes,
                                  side="right")) - 1
        end = max(start + 1, min(cut, meta.num_trails))
        ranges.append((start, end))
        start = end
    if not ranges:
        return spark.createDataFrame([], schema)

    # sub-chunk the range inside the task: the decode working set is
    # ~50-100× the bitstream bytes (3 int64 gram lanes + sort + the
    # events×fields matrix + pandas objects), so a whole 32 MB range at
    # once would cost GBs; ~2 MB sub-chunks bound the task at a few
    # hundred MB and stream out as separate Arrow batches
    sub_bytes = 2 << 20

    def decode(batches):
        metas = _WORKER_META
        m = metas.get(abspath)
        if m is None:
            m = metas[abspath] = TdbMeta(abspath)
        for pdf in batches:
            for s, e in zip(pdf["start"], pdf["end"]):
                s, e = int(s), int(e)
                rtoc = m.toc_slice(s, e)
                sub = s
                while sub < e:
                    cut = int(np.searchsorted(
                        rtoc, int(rtoc[sub - s]) + sub_bytes,
                        side="right")) - 1 + s
                    sub_end = max(sub + 1, min(cut, e))
                    out = _decode_range_pdf(m, sub, sub_end, names)
                    if len(out):
                        yield out
                    sub = sub_end

    rdf = local_frame(spark, ranges, "start long, end long")
    rdf = rdf.repartition(min(len(ranges), 64))
    return rdf.mapInPandas(decode, schema)


_WORKER_META: dict = {}  # per-worker-process TdbMeta cache


# --------------------------------------------------------------------------
# literal-only writer
# --------------------------------------------------------------------------

class _BitWriter:
    """LSB-first bit packer (write_bits, src/tdb_bits.h:17-22)."""

    def __init__(self):
        self.acc = 0
        self.n = 0

    def write(self, val: int, bits: int) -> None:
        self.acc |= (val & ((1 << bits) - 1)) << self.n
        self.n += bits

    def close_trail(self) -> bytes:
        """Store the 3-bit residual reserved at the head and byte-pad
        (src/tdb_encode.c:277-283,338-345)."""
        resid = (8 - (self.n & 7)) & 7
        self.acc |= resid  # bits 0-2 were written as zeros by reserve
        nbytes = (self.n + 7) // 8
        return self.acc.to_bytes(nbytes, "little")


def _huffman_codes(freqs: dict[int, int]) -> dict[int, tuple[int, int]]:
    """Length-capped Huffman codes over item frequencies, mirroring the
    reference's construction exactly (huff_create_codemap,
    src/tdb_huffman.c:249-287): top-65536 symbols by frequency feed a
    two-queue bottom-up tree build (sorted leaf array consumed from the
    tail vs a FIFO of internal nodes — internal weights are
    non-decreasing, so the FIFO head is always the minimum), then
    codewords allocate top-down with the depth-16 cap: recursion stops
    at an internal node at depth 16, so symbols deeper than 16 get NO
    code and fall back to literals (allocate_codewords,
    src/tdb_huffman.c:85-99). Ties sort by symbol for determinism
    (the reference's qsort leaves ties unspecified; any prefix-free
    assignment is spec-valid).

    Returns {item: (code, num_bits)} with codes read LSB-first.
    """
    from collections import deque

    syms = sorted(freqs.items(), key=lambda kv: (-kv[1], kv[0]))[:65536]
    if not syms:
        return {}
    # node = [weight, left, right, symbol]
    leaves = [[w, None, None, s] for s, w in syms]
    n_leaves = len(leaves)
    q: deque = deque()
    i = n_leaves

    def pop_min():
        nonlocal i
        head = q[0] if q else None
        if i == 0 or (head is not None and head[0] < leaves[i - 1][0]):
            return q.popleft() if q else None
        if i:
            i -= 1
            return leaves[i]
        return None

    while i or len(q) > 1:
        left = pop_min()
        right = pop_min()
        w = (left[0] if left else 0) + (right[0] if right else 0)
        q.append([w, left, right, None])

    codes: dict[int, tuple[int, int]] = {}
    stack = [(q.pop(), 0, 0)]
    while stack:
        node, code, depth = stack.pop()
        if node is None:
            continue
        _, left, right, sym = node
        if depth < 16 and (left is not None or right is not None):
            stack.append((left, code, depth + 1))
            stack.append((right, code | (1 << depth), depth + 1))
        elif sym is not None and depth:
            codes[sym] = (code, depth)
    return codes


def _render_codebook(codes: dict[int, tuple[int, int]]) -> bytes:
    """Expanded 65536-entry direct-lookup codebook, v1 20-byte entries:
    every 16-bit word whose low ``bits`` bits equal a code maps to that
    code's entry (create_codebook_fun, src/tdb_huffman.c:343-357).
    Symbols are 128-bit grams: lo = the first item (a unigram's whole
    identity), hi = the second item of a bigram (zero for unigrams)."""
    book = np.zeros(65536, dtype=np.dtype(
        [("lo", "<u8"), ("hi", "<u8"), ("bits", "<u4")]))
    for sym, (code, bits) in codes.items():
        k = code + (np.arange(1 << (16 - bits), dtype=np.int64) << bits)
        book["lo"][k] = sym & _M64
        book["hi"][k] = sym >> 64
        book["bits"][k] = bits
    return book.tobytes()


_M64 = (1 << 64) - 1


def _choose_grams(ev_items: list[int], scores: dict[int, int]) -> list[int]:
    """Greedy weighted set cover of one event's edge-encoded item set by
    bigrams + leftover unigrams — an exact mirror of the reference's
    choose_grams_one_event (src/tdb_encode_model.c:178-275), used both
    when accumulating the final gram frequencies (model build) and when
    encoding trails.

    ``ev_items``: the event's gram stream, timestamp-delta item first
    (the C code passes the ts delta separately as ``ev->timestamp``;
    folding it into position 0 reproduces its pair enumeration — i=0
    pairs the ts with every encoded item, i>0 pairs encoded[i] with
    every later one — note encoded[0] therefore NEVER leads a pair:
    the i=0 slot belongs to the timestamp and i=1 starts pairing at
    j=2, so candidate bigrams are (ts, enc_j) for all j plus
    (enc_i, enc_j) for 1<=i<j only; replicated faithfully, it is what
    the reference encodes and sizes). ``scores``: the 128-bit
    gram→freq map (raw bigram counts at model build, final gram counts
    at encode — the reference passes different maps at the two call
    sites too).

    Returned list: position 0 is the timestamp gram (the ts unigram,
    replaced in place by a chosen ts-bigram — grams[0] is reserved so
    the timestamp always decodes first), then chosen bigrams in pick
    order, then uncovered unigrams in event order. Greedy tie-break =
    first candidate in generation order (the C loop's strict ``>``)."""
    n = len(ev_items)
    chosen: list[int] = []
    ch_scores: list[int] = []
    for i in range(n):
        if i == 1:
            continue  # encoded[0] never leads (reference loop shape)
        a = ev_items[i]
        for j in range(i + 1, n):
            key = a | (ev_items[j] << 64)
            s = scores.get(key)
            if s is not None:
                chosen.append(key)
                ch_scores.append(s)
    grams = [ev_items[0]]
    if not chosen:
        grams.extend(ev_items[1:])
        return grams
    covered: set[int] = set()
    while True:
        max_score = 0
        max_idx = -1
        for idx, g in enumerate(chosen):
            if (ch_scores[idx] > max_score
                    and _item_field(g & _M64) not in covered
                    and _item_field(g >> 64) not in covered):
                max_score = ch_scores[idx]
                max_idx = idx
        if not max_score:
            break
        g = chosen[max_idx]
        f1 = _item_field(g & _M64)
        covered.add(f1)
        covered.add(_item_field(g >> 64))
        if f1:
            grams.append(g)
        else:
            # keep the timestamp first: a ts-bigram (field-0 low item)
            # replaces the reserved slot instead of appending
            grams[0] = g
    for it in ev_items[1:]:
        if _item_field(it) not in covered:
            grams.append(it)
    return grams


def write_tdb(
    rows,
    fields: list[str],
    path: str,
    package: bool = False,
    version: int = 1,
    compress: bool = False,
    bigrams: bool = True,
) -> str:
    """Write a spec-valid literal-only ``.tdb`` (see module docstring).

    ``rows``: iterable of ``(uuid_hex_or_bytes, time, *values)`` with
    one value (str/bytes, ``''``/None = NULL) per ofield. Rows need not
    be pre-sorted: trails sort by the reference's uuid order
    (little-endian 128-bit compare) and events by (time, input order).
    ``fields``: ofield names (``time`` is implicit field 0).
    ``package=True`` emits the single-file tar form, else a directory.
    ``version=0`` writes the legacy layout (``cookies`` file,
    NUL-terminated lexicon values, 12-byte codebook entries, no
    ``version`` file, fields without the blank-line terminator) — kept
    so the v0 read path is round-trip-testable without a museum file.

    This is a driver-side encoder for bounded extracts/fixtures — the
    output is ONE file by format design, so at scale you export many
    tdbs (time shards), not one huge one.
    """
    if version not in (0, 1):
        raise ValueError("write_tdb: version must be 0 or 1")
    if version == 0 and package:
        # the v0 fields file reads to EOF (src/tdb.c:155-165) — inside a
        # tar the reference's unbounded package_fopen stream would run
        # into the next member, so v0 packages never existed
        raise ValueError("write_tdb: v0 + package is not a valid "
                         "combination (v0 predates the tar package)")
    for name in fields:
        if name == "time" or not name or any(
            ch in name for ch in " \t\n\r/\\"
        ):
            raise ValueError(f"write_tdb: invalid field name {name!r}")

    nf = len(fields) + 1
    trails: dict[bytes, list] = {}
    lexsets: list[dict[bytes, int]] = [dict() for _ in fields]
    n_events = 0
    for row in rows:
        uuid = row[0]
        if isinstance(uuid, str):
            # the tdb format requires exactly 16 raw bytes; the engine's
            # uuid column is any string. Accept 1-32 hex chars (zero-pad
            # left — deterministic, order-preserving for the reference's
            # little-endian compare of equal-length ids); anything else
            # must be hashed by the caller first (md5 hex is the
            # engine's own convention elsewhere).
            if len(uuid) > 32:
                raise ValueError(
                    f"write_tdb: uuid longer than 32 hex chars: {uuid!r}"
                )
            try:
                uuid = bytes.fromhex(uuid.rjust(32, "0"))
            except ValueError:
                raise ValueError(
                    f"write_tdb: uuid is not hex: {uuid!r} — hash it "
                    "(e.g. md5(uuid)) before exporting to .tdb"
                ) from None
        if len(uuid) != 16:
            raise ValueError("write_tdb: uuid must be 16 bytes / 32 hex")
        ts = int(row[1])
        vals = []
        for i, v in enumerate(row[2:2 + len(fields)]):
            if v is None:
                v = b""
            elif isinstance(v, str):
                v = v.encode("utf-8")
            if v and v not in lexsets[i]:
                lexsets[i][v] = 0
            vals.append(v)
        trails.setdefault(uuid, []).append((ts, vals))
        n_events += 1

    # lexicons in sorted value order (any order is valid for reading;
    # sorted makes the artifact deterministic)
    lexicons = [sorted(ls) for ls in lexsets]
    val_id = [
        {v: i + 1 for i, v in enumerate(lex)} for lex in lexicons
    ]

    uuids = sorted(trails, key=lambda u: int.from_bytes(u, "little"))
    min_ts = min((ev[0] for evs in trails.values() for ev in evs),
                 default=0)
    max_ts = max((ev[0] for evs in trails.values() for ev in evs),
                 default=0)
    max_delta = 0
    for evs in trails.values():
        evs.sort(key=lambda e: e[0])
        prev_t = min_ts
        for ts, _ in evs:
            max_delta = max(max_delta, ts - prev_t)
            prev_t = ts

    field_id_bits = _bits_needed(nf)
    field_bits = [_bits_needed(max_delta)] + [
        _bits_needed(len(lex)) for lex in lexicons
    ]

    def trail_events(uuid):
        """Per-event edge-encoded item lists ``[ts_delta_item, one item
        per CHANGED field...]`` — the unit both the gram model and the
        encoder consume (the reference's edge_encode_items stream plus
        the ev->timestamp the model folds in first)."""
        prev_vals = [0] * len(fields)
        prev_t = min_ts
        for ts, vals in trails[uuid]:
            ev = [_make_item(0, ts - prev_t)]
            prev_t = ts
            for i, v in enumerate(vals):
                vid = val_id[i][v] if v else 0
                if vid != prev_vals[i]:
                    ev.append(_make_item(i + 1, vid))
                    prev_vals[i] = vid
            yield ev

    codes: dict[int, tuple[int, int]] = {}
    gram_scores: dict[int, int] | None = None
    if compress:
        if version == 0:
            raise ValueError("write_tdb: compress requires version 1 "
                             "(v0 codebooks are a legacy read path)")
        # pass 1: unigram frequencies over every event's items incl. the
        # ts-delta item (collect_unigrams, src/tdb_encode_model.c:
        # 455-494). No trail sampling: the reference samples 10% of
        # trails only above 1M events purely to bound MODEL-build cost
        # (src/tdb_encode_model.c:83-84) — this driver-side encoder is
        # for bounded extracts where the full pass is cheap and keeps
        # the model deterministic.
        freqs: dict[int, int] = {}
        for uuid in uuids:
            for ev in trail_events(uuid):
                for item in ev:
                    freqs[item] = freqs.get(item, 0) + 1
        if bigrams:
            # the reference's Apriori pass (make_grams, src/
            # tdb_encode_model.c:383-446): candidate unigrams above the
            # 1e-5 support threshold → count all candidate-candidate
            # bigrams per event → per-event weighted set cover picks the
            # covering gram multiset whose counts become the codebook
            # frequencies (and, at encode time, the cover scores).
            total = sum(freqs.values())
            support = total // 100_000  # UNIGRAM_SUPPORT = 1e-5, strict >
            cand = {it for it, c in freqs.items() if c > support}
            ngram: dict[int, int] = {}
            for uuid in uuids:
                for ev in trail_events(uuid):
                    n = len(ev)
                    for i in range(n):
                        if i == 1:
                            # encoded[0] never leads a pair (all_bigrams'
                            # loop shape, see _choose_grams docstring)
                            continue
                        a = ev[i]
                        if a not in cand:
                            continue
                        for j in range(i + 1, n):
                            if ev[j] in cand:
                                key = a | (ev[j] << 64)
                                ngram[key] = ngram.get(key, 0) + 1
            final: dict[int, int] = {}
            for uuid in uuids:
                for ev in trail_events(uuid):
                    for g in _choose_grams(ev, ngram):
                        final[g] = final.get(g, 0) + 1
            gram_scores = final
            codes = _huffman_codes(final)
        else:
            codes = _huffman_codes(freqs)

    data = io.BytesIO()
    toc = []

    def encode_gram(w, gram):
        """One gram → bitstream (encode_gram, src/tdb_huffman.c:
        289-325): coded bigrams always take their codeword; uncoded
        bigrams split into two unigrams; unigrams take a codeword only
        when strictly shorter than their literal."""
        lo = gram & _M64
        hi = gram >> 64
        cw = codes.get(gram)
        field = _item_field(lo)
        if cw is not None and (hi or cw[1] + 1 < 1 + field_id_bits +
                               field_bits[field]):
            w.write(1 | (cw[0] << 1), cw[1] + 1)
        elif hi:
            encode_gram(w, lo)
            encode_gram(w, hi)
        else:
            w.write(0, 1)  # literal flag
            w.write(field, field_id_bits)
            w.write(_item_val(lo), field_bits[field])

    for uuid in uuids:
        w = _BitWriter()
        w.write(0, 3)  # residual placeholder
        for ev in trail_events(uuid):
            grams = (_choose_grams(ev, gram_scores)
                     if gram_scores is not None else ev)
            for g in grams:
                encode_gram(w, g)
        toc.append(data.tell())
        data.write(w.close_trail())
    toc.append(data.tell())
    data.write(b"\x00" * 8)  # decoder may read up to 7 bytes past the end

    data_bytes = data.getvalue()
    toc_width = 4 if len(data_bytes) < UINT32_MAX else 8
    toc_bytes = b"".join(
        t.to_bytes(toc_width, "little") for t in toc
    )

    cb_entry = 12 if version == 0 else 20
    members = [
        ("version", None if version == 0 else b"1"),
        ("info",
         f"{len(uuids)} {n_events} {min_ts} {max_ts} {max_delta}\n"
         .encode()),
        ("fields",
         ("".join(f"{n}\n" for n in fields)
          + ("" if version == 0 else "\n")).encode()),
    ]
    for name, lex in zip(fields, lexicons):
        members.append((f"lexicon.{name}", _render_lexicon(lex, version)))
    if uuids:
        members.append(
            ("cookies" if version == 0 else "uuids", b"".join(uuids))
        )
        members.append(("trails.codebook",
                        _render_codebook(codes) if codes
                        else b"\x00" * (65536 * cb_entry)))
        members.append(("trails.toc", toc_bytes))
        members.append(("trails.data", data_bytes))
    members = [(n, b) for n, b in members if b is not None]

    if not package:
        os.makedirs(path, exist_ok=True)
        for name, blob in members:
            with open(os.path.join(path, name), "wb") as f:
                f.write(blob)
        return path
    _write_package(path, members)
    return path


def _render_lexicon(values: list[bytes], version: int) -> bytes:
    blobs = [v + b"\x00" for v in values] if version == 0 else values
    count = len(values)
    head = (count + 2) * 4 + sum(len(b) for b in blobs)
    width = 8 if head > UINT32_MAX else 4
    base = (count + 2) * width
    offs = [base]
    for b in blobs:
        offs.append(offs[-1] + len(b))
    return (
        count.to_bytes(width, "little")
        + b"".join(o.to_bytes(width, "little") for o in offs)
        + b"".join(blobs)
    )


def _write_package(path: str, members: list[tuple[str, bytes]]) -> None:
    """Reference package shape: ustar tar whose first three members are
    version, info, tar.toc — putting the text TOC's data at the fixed
    offset 2560 the reference seeks to (src/tdb_package.c:91). The TOC
    size feeds back into later offsets, so iterate to a fixed point."""
    head = [m for m in members if m[0] in ("version", "info")]
    rest = [m for m in members if m[0] not in ("version", "info")]
    if len(head) < 2:  # v0 has no version file; keep info at slot 2
        head = [("version", b"0")] + head

    def layout(toc_blob_size: int):
        offs = {}
        pos = 0
        order = head + [("tar.toc", b"\x00" * toc_blob_size)] + rest
        for name, blob in order:
            pos += 512  # header
            offs[name] = (pos, len(blob))
            pos += ((len(blob) + 511) // 512) * 512
        return order, offs

    toc_size = 512
    while True:
        order, offs = layout(toc_size)
        lines = [TDB_TAR_MAGIC.decode()[:-1]]
        for name, _ in order:
            o, s = offs[name]
            s = toc_size if name == "tar.toc" else s
            lines.append(f"{name} {o} {s}")
        toc_text = ("\n".join(lines) + "\n\n").encode()
        if len(toc_text) <= toc_size:
            break
        toc_size += 512
    assert offs["tar.toc"][0] == TOC_FILE_OFFSET

    with open(path, "wb") as f:
        tf = tarfile.open(fileobj=f, mode="w", format=tarfile.USTAR_FORMAT)
        for name, blob in order:
            if name == "tar.toc":
                blob = toc_text + b"\x00" * (toc_size - len(toc_text))
            info = tarfile.TarInfo(name)
            info.size = len(blob)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(blob))
        tf.close()
