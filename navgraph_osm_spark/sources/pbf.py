"""Real ``.osm.pbf`` ingestion — the reference's actual input format.

The reference walks the ``[be_u32 len][BlobHeader][Blob]`` framing on one
producer thread and hands blob byte-ranges to parallel workers that
decompress and parse PrimitiveBlocks (reference
include/mt/parse/producer.hpp:14-44, include/mt/parse/worker.hpp:52-72,
fixed-point conversion include/parsing/primitive-block-parser.cpp:4-7).
This module reproduces that split Spark-side: a header-only manifest walk
(S1) feeding an Arrow-batched ``mapInArrow`` decode (S2-S4).

Crucially the reference parses each blob ONCE and fans out every entity
stream from that single pass (main.cpp:59-222, worker.hpp:75-307 writes
nodes, ways, way-node membership and relation output in the same loop).
:func:`scan_pbf_all` / :func:`load_osm_tables` reproduce that shape: one
decode job emits a discriminated-union frame (``entity`` column) that is
written ``partitionBy("entity")`` to a parquet stage exactly once; every
downstream table is then a partition-pruned columnar read.  The
per-entity :func:`scan_pbf` remains for targeted single-entity scans.

Everything here derives from PUBLIC format documentation: the protobuf wire
encoding (varint / zigzag / length-delimited fields) and the OSM PBF schema
(fileformat.proto / osmformat.proto field numbers, published on the
OpenStreetMap wiki).  No protobuf library is required — packed varint
arrays are decoded with vectorized numpy (terminator-bit scan +
``np.add.reduceat``).  Way/Relation decoding is vectorized ACROSS messages:
the message walk only records byte slices; all packed payloads in a blob
are gathered into one buffer, varint-decoded once, and split back by
per-message counts (``_SliceAccum``), so neither DenseNodes nor
ways/relations loop over values in Python.

Supported schema subset (everything the reference consumes):

- BlobHeader{1:type, 3:datasize}; Blob{1:raw, 2:raw_size, 3:zlib_data}
- PrimitiveBlock{1:stringtable, 2:primitivegroup, 17:granularity,
  19:lat_offset, 20:lon_offset}
- PrimitiveGroup{1:nodes, 2:dense, 3:ways, 4:relations}
- DenseNodes{1:id(sint64 Δ), 8:lat(sint64 Δ), 9:lon(sint64 Δ),
  10:keys_vals}; Node{1:id, 2:keys, 3:vals, 8:lat, 9:lon}
- Way{1:id, 2:keys, 3:vals, 8:refs(sint64 Δ)}
- Relation{1:id, 2:keys, 3:vals, 8:roles_sid, 9:memids(sint64 Δ), 10:types}

Coordinates follow the reference's convertCoord exactly:
``deg = (offset + granularity * raw) / 1e9``.
"""

from __future__ import annotations

import os
import struct
import tempfile
import zlib
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NODES_SCHEMA = "id long, lat double, lng double"
NODE_TAGS_SCHEMA = "id long, tags map<string,string>"
WAYS_SCHEMA = "id long, tags map<string,string>"
# Arrow kernels emit key/value entry arrays (MapType round-trips poorly via
# Arrow); scan_pbf converts with map_from_entries JVM-side
_KV = "array<struct<key:string,value:string>>"
_KERNEL_SCHEMAS = {
    "node_tags": f"id long, tags {_KV}",
    "ways": f"id long, tags {_KV}",
    "relation_tags": f"rel_id long, tags {_KV}",
}
WAY_NODES_SCHEMA = "way_id long, seq int, node_id long"
REL_MEMBERS_SCHEMA = (
    "rel_id long, seq int, member_type string, role string, member_id long"
)
REL_TAGS_SCHEMA = "rel_id long, tags map<string,string>"

# single-pass discriminated union (scan_pbf_all): `id` carries
# way_id/rel_id, `ref` carries node_id/member_id for membership rows
UNION_SCHEMA = (
    "entity string, id long, seq int, ref long, lat double, lng double, "
    f"member_type string, role string, tags {_KV}"
)

_MEMBER_TYPES = ("node", "way", "relation")  # osmformat.proto MemberType enum


# ---------------------------------------------------------------------------
# protobuf wire primitives (numpy-vectorized where arrays are involved)
# ---------------------------------------------------------------------------

def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """Scalar varint (message walking only — array fields use numpy)."""
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def decode_packed_uvarints(b: np.ndarray) -> np.ndarray:
    """Packed varint field bytes → uint64 values, fully vectorized.

    Terminator bytes have the high bit clear; group positions come from the
    terminator scan, per-byte contributions are shifted into place and
    summed per group with ``np.add.reduceat``.
    """
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    term = (b & 0x80) == 0
    ends = np.flatnonzero(term)
    starts = np.empty(ends.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    pos_in_group = np.arange(b.size, dtype=np.int64) - np.repeat(
        starts, ends - starts + 1
    )
    vals = (b & 0x7F).astype(np.uint64) << (7 * pos_in_group).astype(np.uint64)
    return np.add.reduceat(vals, starts)


def _unzigzag(u: np.ndarray) -> np.ndarray:
    return ((u >> np.uint64(1)).astype(np.int64)) ^ -(
        (u & np.uint64(1)).astype(np.int64)
    )


def _zigzag(v: np.ndarray) -> np.ndarray:
    v = np.asarray(v, dtype=np.int64)
    return ((v << 1) ^ (v >> 63)).astype(np.uint64)


def encode_packed_uvarints(u: np.ndarray) -> bytes:
    """uint64 values → packed varint bytes, fully vectorized."""
    u = np.asarray(u, dtype=np.uint64)
    if u.size == 0:
        return b""
    nb = np.ones(u.size, dtype=np.int64)
    tmp = u >> np.uint64(7)
    while tmp.any():
        nb += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    starts = np.concatenate(([0], np.cumsum(nb)[:-1]))
    out = np.zeros(int(nb.sum()), dtype=np.uint8)
    for i in range(10):
        mask = nb > i
        if not mask.any():
            break
        chunk = ((u[mask] >> np.uint64(7 * i)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[mask] - 1 > i).astype(np.uint8) << 7
        out[starts[mask] + i] = chunk | cont
    return out.tobytes()


def _fields(buf, pos: int, end: int):
    """Walk one protobuf message: yields (field_number, wire_type, value).

    wire type 0 → int value; 2 → (offset, length) into buf; 1/5 skipped.
    """
    while pos < end:
        tag, pos = _read_varint(buf, pos)
        fnum, wt = tag >> 3, tag & 7
        if wt == 0:
            val, pos = _read_varint(buf, pos)
        elif wt == 2:
            ln, pos = _read_varint(buf, pos)
            val = (pos, ln)
            pos += ln
        elif wt == 1:
            val = None
            pos += 8
        elif wt == 5:
            val = None
            pos += 4
        else:  # pragma: no cover - groups (wt 3/4) are absent from OSM PBF
            raise ValueError(f"unsupported wire type {wt}")
        yield fnum, wt, val


def _packed(buf: bytes, wt: int, val) -> np.ndarray:
    """A repeated scalar field: packed (wt2) or a single unpacked value."""
    if wt == 2:
        off, ln = val
        return decode_packed_uvarints(np.frombuffer(buf, np.uint8, ln, off))
    return np.array([val], dtype=np.uint64)


# ---------------------------------------------------------------------------
# writer (fixtures + driver-query input; deterministic)
# ---------------------------------------------------------------------------

def _enc_tag(fnum: int, wt: int) -> bytes:
    return encode_packed_uvarints(np.array([(fnum << 3) | wt], dtype=np.uint64))


def _enc_varint_field(fnum: int, v: int) -> bytes:
    return _enc_tag(fnum, 0) + encode_packed_uvarints(
        np.array([v], dtype=np.uint64)
    )


def _enc_bytes_field(fnum: int, b: bytes) -> bytes:
    return (
        _enc_tag(fnum, 2)
        + encode_packed_uvarints(np.array([len(b)], dtype=np.uint64))
        + b
    )


def _enc_packed_field(fnum: int, vals: np.ndarray, zigzag: bool = False) -> bytes:
    u = _zigzag(vals) if zigzag else np.asarray(vals, dtype=np.uint64)
    return _enc_bytes_field(fnum, encode_packed_uvarints(u))


class _StringTable:
    """Per-block string table; entry 0 is the empty string (keys_vals
    terminator), as required by the format."""

    def __init__(self) -> None:
        self._idx: dict[str, int] = {"": 0}
        self._items: list[str] = [""]

    def add(self, s: str) -> int:
        i = self._idx.get(s)
        if i is None:
            i = len(self._items)
            self._idx[s] = i
            self._items.append(s)
        return i

    def encode(self) -> bytes:
        return b"".join(
            _enc_bytes_field(1, s.encode("utf-8")) for s in self._items
        )


def _frame(type_str: str, payload: bytes, compress: bool = True) -> bytes:
    """payload (PrimitiveBlock / HeaderBlock bytes) → framed blob bytes."""
    if compress:
        blob = _enc_varint_field(2, len(payload)) + _enc_bytes_field(
            3, zlib.compress(payload, 6)
        )
    else:
        blob = _enc_bytes_field(1, payload) + _enc_varint_field(2, len(payload))
    header = _enc_bytes_field(1, type_str.encode()) + _enc_varint_field(3, len(blob))
    return struct.pack(">I", len(header)) + header + blob


def write_osm_pbf(
    path: str,
    nodes: tuple | None = None,
    ways: Iterable[tuple] | None = None,
    relations: Iterable[tuple] | None = None,
    block_size: int = 8000,
    granularity: int = 100,
    lat_offset: int = 0,
    lon_offset: int = 0,
) -> int:
    """Write a valid .osm.pbf: OSMHeader + DenseNodes/Way/Relation data blobs.

    - ``nodes``: (ids, lats_deg, lngs_deg[, tags]) arrays; ``tags`` an
      optional sequence of dicts (or None entries);
    - ``ways``: iterable of (way_id, tags_dict, refs_array);
    - ``relations``: iterable of (rel_id, tags_dict,
      members=[(type_str, member_id, role_str), ...]).

    Returns the number of data blobs written.  Coordinates must be
    representable at the granularity (OSM default: 100 nano-degrees).
    """
    n_blobs = 0
    with open(path, "wb") as f:
        hdr = _enc_bytes_field(4, b"OsmSchema-V0.6") + _enc_bytes_field(
            4, b"DenseNodes"
        )
        f.write(_frame("OSMHeader", hdr))

        if nodes is not None:
            ids = np.asarray(nodes[0], dtype=np.int64)
            lats = np.asarray(nodes[1], dtype=np.float64)
            lngs = np.asarray(nodes[2], dtype=np.float64)
            tags = nodes[3] if len(nodes) > 3 else None
            lat_raw = np.round(lats * 1e9 - lat_offset).astype(np.int64)
            lng_raw = np.round(lngs * 1e9 - lon_offset).astype(np.int64)
            if (lat_raw % granularity).any() or (lng_raw % granularity).any():
                raise ValueError(
                    f"coordinates not representable at granularity {granularity}"
                )
            lat_raw //= granularity
            lng_raw //= granularity
            for lo in range(0, ids.size, block_size):
                hi = min(lo + block_size, ids.size)
                st = _StringTable()
                dense = (
                    _enc_packed_field(1, np.diff(ids[lo:hi], prepend=np.int64(0)), True)
                    + _enc_packed_field(
                        8, np.diff(lat_raw[lo:hi], prepend=np.int64(0)), True
                    )
                    + _enc_packed_field(
                        9, np.diff(lng_raw[lo:hi], prepend=np.int64(0)), True
                    )
                )
                if tags is not None:
                    kv: list[int] = []
                    for t in tags[lo:hi]:
                        for k, v in (t or {}).items():
                            kv.append(st.add(k))
                            kv.append(st.add(v))
                        kv.append(0)
                    dense += _enc_packed_field(10, np.array(kv, dtype=np.int64))
                # PrimitiveGroup content: DenseNodes at group field 2
                group = _enc_bytes_field(2, dense)
                f.write(_frame("OSMData", _block(st, group, granularity,
                                                 lat_offset, lon_offset)))
                n_blobs += 1

        for kind, items in (("way", ways), ("relation", relations)):
            if items is None:
                continue
            items = list(items)
            for lo in range(0, len(items), block_size):
                st = _StringTable()
                msgs = []
                for item in items[lo : lo + block_size]:
                    if kind == "way":
                        way_id, wtags, refs = item
                        body = _enc_varint_field(1, way_id)
                        body += _enc_packed_field(
                            2, np.array([st.add(k) for k in wtags], dtype=np.int64)
                        )
                        body += _enc_packed_field(
                            3,
                            np.array([st.add(v) for v in wtags.values()], dtype=np.int64),
                        )
                        body += _enc_packed_field(
                            8,
                            np.diff(np.asarray(refs, np.int64), prepend=np.int64(0)),
                            True,
                        )
                        msgs.append(_enc_bytes_field(3, body))
                    else:
                        rel_id, rtags, members = item
                        body = _enc_varint_field(1, rel_id)
                        body += _enc_packed_field(
                            2, np.array([st.add(k) for k in rtags], dtype=np.int64)
                        )
                        body += _enc_packed_field(
                            3,
                            np.array([st.add(v) for v in rtags.values()], dtype=np.int64),
                        )
                        body += _enc_packed_field(
                            8,
                            np.array([st.add(m[2]) for m in members], dtype=np.int64),
                        )
                        body += _enc_packed_field(
                            9,
                            np.diff(
                                np.array([m[1] for m in members], dtype=np.int64),
                                prepend=np.int64(0),
                            ),
                            True,
                        )
                        body += _enc_packed_field(
                            10,
                            np.array(
                                [_MEMBER_TYPES.index(m[0]) for m in members],
                                dtype=np.int64,
                            ),
                        )
                        msgs.append(_enc_bytes_field(4, body))
                # PrimitiveGroup content: Way/Relation messages already
                # carry their group field tags (3/4)
                group = b"".join(msgs)
                f.write(_frame("OSMData", _block(st, group, granularity,
                                                 lat_offset, lon_offset)))
                n_blobs += 1
    return n_blobs


def _block(st: _StringTable, group: bytes, granularity: int,
           lat_offset: int, lon_offset: int) -> bytes:
    out = _enc_bytes_field(1, st.encode()) + _enc_bytes_field(2, group)
    if granularity != 100:
        out += _enc_varint_field(17, granularity)
    if lat_offset:
        out += _enc_varint_field(19, lat_offset)
    if lon_offset:
        out += _enc_varint_field(20, lon_offset)
    return out


# ---------------------------------------------------------------------------
# reader: framing
# ---------------------------------------------------------------------------

def pbf_manifest(path: str) -> list[tuple[int, int, str]]:
    """S1 header walk: (blob_offset, blob_length, type) per blob.

    Reads only the 4-byte lengths and BlobHeaders, seek-skipping every blob
    payload — the reference producer's exact role (producer.hpp:14-44,
    including its skip of non-OSMData blobs, which here is the caller's
    filter on ``type``).
    """
    out: list[tuple[int, int, str]] = []
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        pos = 0
        while pos < size:
            (hlen,) = struct.unpack(">I", f.read(4))
            pos += 4
            hdr = f.read(hlen)
            pos += hlen
            btype, dsize = "", 0
            for fnum, wt, val in _fields(hdr, 0, hlen):
                if fnum == 1 and wt == 2:
                    btype = hdr[val[0] : val[0] + val[1]].decode()
                elif fnum == 3 and wt == 0:
                    dsize = val
            out.append((pos, dsize, btype))
            pos += dsize
            f.seek(pos)
    return out


def _optional_codec(fnum: int):
    """Decompressor for the optional lz4(6)/zstd(7) blob codecs.

    Imported via :func:`importlib.import_module` with the full submodule
    path — ``import lz4`` alone does NOT bind ``lz4.frame`` — so the codec
    works whenever the package is installed and raises a clear install
    hint otherwise.  Neither package ships in this sandbox; the wiring is
    exercised by skip-if-unavailable tests (tests/test_pbf.py)."""
    import importlib

    pkg, modname = {6: ("lz4", "lz4.frame"), 7: ("zstandard", "zstandard")}[fnum]
    try:
        mod = importlib.import_module(modname)
    except ImportError as e:
        raise ValueError(
            f"blob uses {pkg} compression; `pip install {pkg}` "
            "to read this extract"
        ) from e
    if fnum == 6:  # pragma: no cover - optional codec
        return mod.decompress
    return mod.ZstdDecompressor().decompress  # pragma: no cover - optional codec


def _decompress_blob(buf: bytes) -> bytes:
    """Blob message → PrimitiveBlock bytes.

    The reference handles raw + zlib (worker.hpp:58-66, the only codecs in
    real planet extracts); fileformat.proto also allows lzma(4), the
    deprecated bzip2(5), lz4(6) and zstd(7).  The stdlib codecs are
    supported here; lz4/zstd raise with a clear message unless the
    optional module is importable."""
    payload = None
    decomp = None
    raw_size = 0
    for fnum, wt, val in _fields(buf, 0, len(buf)):
        if fnum == 2 and wt == 0:
            raw_size = val
            continue
        if wt != 2:
            continue
        data = buf[val[0] : val[0] + val[1]]
        if fnum == 1:
            return data  # raw
        if fnum == 3:
            payload, decomp = data, zlib.decompress
        elif fnum == 4:
            import lzma

            payload, decomp = data, lzma.decompress
        elif fnum == 5:
            import bz2

            payload, decomp = data, bz2.decompress
        elif fnum in (6, 7):
            payload, decomp = data, _optional_codec(fnum)
    if payload is not None:
        out = decomp(payload)
        if raw_size and len(out) != raw_size:
            raise ValueError("blob raw_size mismatch")
        return out
    raise ValueError("unsupported blob compression")


def _signed_packed(buf: bytes, wt: int, val) -> np.ndarray:
    return _unzigzag(_packed(buf, wt, val))


# ---------------------------------------------------------------------------
# reader: reference (per-message) block parser — correctness baseline and
# fallback for irregular encodings (unpacked repeated scalars, ambiguous
# keys_vals streams); the vectorized flat parser below is the hot path
# ---------------------------------------------------------------------------

def parse_primitive_block_ref(data: bytes) -> dict:
    """PrimitiveBlock bytes → decoded entities (per-message walk).

    Returns dict with keys: ``nodes`` (ids, lats, lngs, tag_dicts|None),
    ``ways`` (list of (id, tags, refs)), ``relations`` (list of
    (id, tags, roles, memids, types)).

    This is the straightforward spec-following decoder: correct for every
    legal encoding (including non-packed repeated scalar fields), but it
    touches each Way/Relation's arrays individually.  The vectorized
    :func:`parse_primitive_block_flat` is decode-equivalent (property
    tested) and falls back to this on irregular input.
    """
    strings: list[str] = []
    groups: list[tuple[int, int]] = []
    granularity, lat_offset, lon_offset = 100, 0, 0
    for fnum, wt, val in _fields(data, 0, len(data)):
        if fnum == 1 and wt == 2:
            for sf, swt, sval in _fields(data, val[0], val[0] + val[1]):
                if sf == 1 and swt == 2:
                    strings.append(
                        data[sval[0] : sval[0] + sval[1]].decode("utf-8")
                    )
        elif fnum == 2 and wt == 2:
            groups.append(val)
        elif fnum == 17:
            granularity = val
        elif fnum == 19:
            lat_offset = val
        elif fnum == 20:
            lon_offset = val

    def conv(raw: np.ndarray, offset: int) -> np.ndarray:
        # reference convertCoord (primitive-block-parser.cpp:4-7)
        return (offset + granularity * raw.astype(np.float64)) / 1e9

    node_ids: list[np.ndarray] = []
    node_lats: list[np.ndarray] = []
    node_lngs: list[np.ndarray] = []
    node_tags: list = []
    ways: list[tuple] = []
    relations: list[tuple] = []

    def _cat(chunks):
        return np.concatenate(chunks) if chunks else None

    for goff, glen in groups:
        for fnum, wt, val in _fields(data, goff, goff + glen):
            if fnum == 2 and wt == 2:  # DenseNodes
                # repeated scalar fields may appear packed OR as multiple
                # occurrences (unpacked / split across chunks) — accumulate
                # then delta-decode once
                idc, latc, lngc, kvc = [], [], [], []
                for df_, dwt, dval in _fields(data, val[0], val[0] + val[1]):
                    if df_ == 1:
                        idc.append(_signed_packed(data, dwt, dval))
                    elif df_ == 8:
                        latc.append(_signed_packed(data, dwt, dval))
                    elif df_ == 9:
                        lngc.append(_signed_packed(data, dwt, dval))
                    elif df_ == 10:
                        kvc.append(_packed(data, dwt, dval).astype(np.int64))
                if idc:
                    ids = np.cumsum(_cat(idc))
                    node_ids.append(ids)
                    node_lats.append(conv(np.cumsum(_cat(latc)), lat_offset))
                    node_lngs.append(conv(np.cumsum(_cat(lngc)), lon_offset))
                    kv = _cat(kvc) if kvc else None
                    node_tags.append(_split_keys_vals(kv, len(ids), strings))
            elif fnum == 1 and wt == 2:  # plain Node
                nid = rlat = rlng = 0
                keys = vals = None
                for df_, dwt, dval in _fields(data, val[0], val[0] + val[1]):
                    if df_ == 1:
                        nid = int(_unzigzag(np.array([dval], np.uint64))[0])
                    elif df_ == 2:
                        keys = _packed(data, dwt, dval)
                    elif df_ == 3:
                        vals = _packed(data, dwt, dval)
                    elif df_ == 8:
                        rlat = int(_unzigzag(np.array([dval], np.uint64))[0])
                    elif df_ == 9:
                        rlng = int(_unzigzag(np.array([dval], np.uint64))[0])
                node_ids.append(np.array([nid], dtype=np.int64))
                node_lats.append(conv(np.array([rlat]), lat_offset))
                node_lngs.append(conv(np.array([rlng]), lon_offset))
                t = _tags_of(keys, vals, strings, f"node {nid}")
                node_tags.append([t] if t else [None])
            elif fnum == 3 and wt == 2:  # Way
                wid = 0
                kc, vc, rc = [], [], []
                for df_, dwt, dval in _fields(data, val[0], val[0] + val[1]):
                    if df_ == 1:
                        wid = dval
                    elif df_ == 2:
                        kc.append(_packed(data, dwt, dval))
                    elif df_ == 3:
                        vc.append(_packed(data, dwt, dval))
                    elif df_ == 8:
                        rc.append(_signed_packed(data, dwt, dval))
                refs = np.cumsum(_cat(rc)) if rc else np.empty(0, np.int64)
                ways.append(
                    (wid, _tags_of(_cat(kc), _cat(vc), strings, f"way {wid}"), refs)
                )
            elif fnum == 4 and wt == 2:  # Relation
                rid = 0
                kc, vc, rlc, mc, tc = [], [], [], [], []
                for df_, dwt, dval in _fields(data, val[0], val[0] + val[1]):
                    if df_ == 1:
                        rid = dval
                    elif df_ == 2:
                        kc.append(_packed(data, dwt, dval))
                    elif df_ == 3:
                        vc.append(_packed(data, dwt, dval))
                    elif df_ == 8:
                        rlc.append(_packed(data, dwt, dval).astype(np.int64))
                    elif df_ == 9:
                        mc.append(_signed_packed(data, dwt, dval))
                    elif df_ == 10:
                        tc.append(_packed(data, dwt, dval).astype(np.int64))
                roles = _cat(rlc) if rlc else np.empty(0, np.int64)
                memids = np.cumsum(_cat(mc)) if mc else np.empty(0, np.int64)
                types = _cat(tc) if tc else np.empty(0, np.int64)
                if not roles.size == memids.size == types.size:
                    raise ValueError(
                        f"relation {rid}: {roles.size} member roles, "
                        f"{memids.size} memids, {types.size} types"
                    )
                relations.append(
                    (
                        rid,
                        _tags_of(_cat(kc), _cat(vc), strings, f"relation {rid}"),
                        [strings[int(r)] for r in roles],
                        memids,
                        types,
                    )
                )

    nodes = (
        np.concatenate(node_ids) if node_ids else np.empty(0, np.int64),
        np.concatenate(node_lats) if node_lats else np.empty(0, np.float64),
        np.concatenate(node_lngs) if node_lngs else np.empty(0, np.float64),
        [t for block in node_tags for t in block] if node_tags else [],
    )
    return {"nodes": nodes, "ways": ways, "relations": relations}


def _tags_of(keys, vals, strings: list[str], entity: str) -> dict[str, str]:
    """Parallel key/value string-table indices → tag dict; arrays of
    different lengths are malformed input and raise instead of dropping
    the unpaired tags."""
    n_keys = 0 if keys is None else len(keys)
    n_vals = 0 if vals is None else len(vals)
    if n_keys != n_vals:
        raise ValueError(f"{entity}: {n_keys} tag keys but {n_vals} values")
    if not n_keys:
        return {}
    return {strings[int(k)]: strings[int(v)] for k, v in zip(keys, vals)}


def _split_keys_vals(kv: np.ndarray | None, n: int, strings: list[str]) -> list:
    """DenseNodes keys_vals: alternating key/val indices, 0-terminated per
    node; absent/empty means no node has tags."""
    if kv is None or kv.size == 0:
        return [None] * n
    out: list = []
    i = 0
    for _ in range(n):
        t: dict[str, str] | None = None
        while i < kv.size and kv[i] != 0:
            t = t or {}
            t[strings[int(kv[i])]] = strings[int(kv[i + 1])]
            i += 2
        i += 1  # skip the 0 terminator
        out.append(t)
    return out


# ---------------------------------------------------------------------------
# reader: vectorized flat block parser (the hot path)
# ---------------------------------------------------------------------------

class _SliceAccum:
    """Accumulates one packed field's byte slices across ALL messages of a
    blob; decodes them in a single vectorized pass.

    The message walk appends ``(byte_offset, byte_length, message_index)``
    per occurrence.  ``decode`` gathers every slice into one contiguous
    buffer (single fancy-index gather), varint-decodes it once, and returns
    per-message value counts via a terminator-bit ``reduceat`` — so a blob
    with 8000 ways costs ONE decode, not 8000.
    """

    __slots__ = ("offs", "lens", "midx")

    def __init__(self) -> None:
        self.offs: list[int] = []
        self.lens: list[int] = []
        self.midx: list[int] = []

    def add(self, off: int, ln: int, msg_idx: int) -> None:
        self.offs.append(off)
        self.lens.append(ln)
        self.midx.append(msg_idx)

    def decode(self, data: bytes, n_msgs: int) -> tuple[np.ndarray, np.ndarray]:
        """→ (per-message value counts [n_msgs], all values uint64)."""
        counts = np.zeros(n_msgs, dtype=np.int64)
        if not self.offs:
            return counts, np.empty(0, dtype=np.uint64)
        offs = np.array(self.offs, dtype=np.int64)
        lens = np.array(self.lens, dtype=np.int64)
        midx = np.array(self.midx, dtype=np.int64)
        keep = lens > 0  # empty packed fields contribute nothing
        offs, lens, midx = offs[keep], lens[keep], midx[keep]
        if offs.size == 0:
            return counts, np.empty(0, dtype=np.uint64)
        src = np.frombuffer(data, dtype=np.uint8)
        total = int(lens.sum())
        bstarts = np.zeros(offs.size, dtype=np.int64)
        np.cumsum(lens[:-1], out=bstarts[1:])
        gidx = (
            np.arange(total, dtype=np.int64)
            - np.repeat(bstarts, lens)
            + np.repeat(offs, lens)
        )
        b = src[gidx]
        vals = decode_packed_uvarints(b)
        per_slice = np.add.reduceat(((b & 0x80) == 0).astype(np.int64), bstarts)
        np.add.at(counts, midx, per_slice)
        return counts, vals


def _seg_delta_cumsum(deltas: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-segment delta decode in one pass: global cumsum minus each
    segment's carried-in base (the reference resets its running ref/memid
    accumulator per message; this is the batched equivalent)."""
    if deltas.size == 0:
        return np.empty(0, dtype=np.int64)
    g = np.cumsum(deltas)
    starts = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    bases = np.zeros(counts.size, dtype=np.int64)
    nz = starts > 0
    bases[nz] = g[starts[nz] - 1]
    return g - np.repeat(bases, counts)


def _within_seg(counts: np.ndarray, base: int = 0) -> np.ndarray:
    """0-based (or ``base``-based) position within each segment."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    return np.arange(total, dtype=np.int64) - np.repeat(starts, counts) + base


def _split_kv_vectorized(kv: np.ndarray, n: int):
    """DenseNodes keys_vals stream → (tag_counts[n], key_idx, val_idx),
    vectorized; returns None when the stream is not unambiguously
    0-terminated (then the caller falls back to the scalar split).

    Zeros are terminators only in key position; treating every zero as a
    terminator is valid iff there are exactly ``n`` zeros and every
    inter-zero gap is even — any empty-string VALUE (index 0) breaks one of
    those invariants, so ambiguous input can never be silently misparsed.
    """
    zp = np.flatnonzero(kv == 0)
    if zp.size != n:
        return None
    starts = np.concatenate(([0], zp[:-1] + 1))
    gaps = zp - starts
    if (gaps % 2).any():
        return None
    counts = gaps // 2
    total = int(counts.sum())
    key_pos = np.repeat(starts, counts) + 2 * _within_seg(counts)
    keys = kv[key_pos] if total else np.empty(0, dtype=kv.dtype)
    vals = kv[key_pos + 1] if total else np.empty(0, dtype=kv.dtype)
    return counts, keys.astype(np.int64), vals.astype(np.int64)


def _split_kv_scalar(kv: np.ndarray, n: int):
    """Scalar keys_vals split (same semantics as _split_keys_vals), emitting
    flat index arrays.  LAST duplicate key wins at dict build time, so flats
    keep every pair — dict construction downstream resolves duplicates the
    same way the reference's map insert does."""
    counts = np.zeros(n, dtype=np.int64)
    keys: list[int] = []
    vals: list[int] = []
    i = 0
    for j in range(n):
        c = 0
        while i < kv.size and kv[i] != 0:
            keys.append(int(kv[i]))
            vals.append(int(kv[i + 1]))
            i += 2
            c += 1
        i += 1
        counts[j] = c
    return counts, np.array(keys, dtype=np.int64), np.array(vals, dtype=np.int64)


_EMPTY_FLAT = {
    "node_ids": np.empty(0, np.int64),
    "node_lats": np.empty(0, np.float64),
    "node_lngs": np.empty(0, np.float64),
    "node_tag_counts": np.empty(0, np.int64),
    "node_keys": np.empty(0, object),
    "node_vals": np.empty(0, object),
    "way_ids": np.empty(0, np.int64),
    "way_ref_counts": np.empty(0, np.int64),
    "way_refs": np.empty(0, np.int64),
    "way_tag_counts": np.empty(0, np.int64),
    "way_keys": np.empty(0, object),
    "way_vals": np.empty(0, object),
    "rel_ids": np.empty(0, np.int64),
    "rel_tag_counts": np.empty(0, np.int64),
    "rel_keys": np.empty(0, object),
    "rel_vals": np.empty(0, object),
    "rel_member_counts": np.empty(0, np.int64),
    "rel_roles": np.empty(0, object),
    "rel_memids": np.empty(0, np.int64),
    "rel_types": np.empty(0, np.int64),
}


def parse_primitive_block_flat(data: bytes) -> dict:
    """PrimitiveBlock bytes → flat columnar arrays for ALL entities at once.

    This is the single-pass hot path: one call yields everything the five
    entity tables need, with Way/Relation packed fields decoded across the
    whole blob in one vectorized pass (``_SliceAccum``) — the message walk
    records byte slices only.  Keys/values/roles are RESOLVED string object
    arrays (ready for Arrow); counts arrays give per-entity segmentation.

    Falls back to :func:`parse_primitive_block_ref` (then flattens) when a
    blob uses irregular encodings: non-packed repeated scalars in
    Way/Relation messages, mismatched parallel arrays (tag keys/values or
    relation roles/memids/types of different lengths then raise
    ``ValueError`` there), or keys_vals streams the vectorized splitter
    cannot prove unambiguous.
    """
    strings: list[str] = []
    groups: list[tuple[int, int]] = []
    granularity, lat_offset, lon_offset = 100, 0, 0
    for fnum, wt, val in _fields(data, 0, len(data)):
        if fnum == 1 and wt == 2:
            for sf, swt, sval in _fields(data, val[0], val[0] + val[1]):
                if sf == 1 and swt == 2:
                    strings.append(
                        data[sval[0] : sval[0] + sval[1]].decode("utf-8")
                    )
        elif fnum == 2 and wt == 2:
            groups.append(val)
        elif fnum == 17:
            granularity = val
        elif fnum == 19:
            lat_offset = val
        elif fnum == 20:
            lon_offset = val

    def conv(raw: np.ndarray, offset: int) -> np.ndarray:
        return (offset + granularity * raw.astype(np.float64)) / 1e9

    def _fallback() -> dict:
        return _flat_from_legacy(parse_primitive_block_ref(data))

    sarr = np.array(strings, dtype=object) if strings else np.empty(0, object)

    # node accumulation: ordered chunks (dense groups + plain-node runs)
    nid_c: list[np.ndarray] = []
    nlat_c: list[np.ndarray] = []
    nlng_c: list[np.ndarray] = []
    ntagc_c: list[np.ndarray] = []
    nkey_c: list[np.ndarray] = []
    nval_c: list[np.ndarray] = []

    way_ids: list[int] = []
    w_keys, w_vals, w_refs = _SliceAccum(), _SliceAccum(), _SliceAccum()
    rel_ids: list[int] = []
    r_keys, r_vals = _SliceAccum(), _SliceAccum()
    r_roles, r_memids, r_types = _SliceAccum(), _SliceAccum(), _SliceAccum()

    _cat = np.concatenate

    for goff, glen in groups:
        for fnum, wt, val in _fields(data, goff, goff + glen):
            if fnum == 2 and wt == 2:  # DenseNodes
                idc, latc, lngc, kvc = [], [], [], []
                for df_, dwt, dval in _fields(data, val[0], val[0] + val[1]):
                    if df_ == 1:
                        idc.append(_signed_packed(data, dwt, dval))
                    elif df_ == 8:
                        latc.append(_signed_packed(data, dwt, dval))
                    elif df_ == 9:
                        lngc.append(_signed_packed(data, dwt, dval))
                    elif df_ == 10:
                        kvc.append(_packed(data, dwt, dval).astype(np.int64))
                if not idc:
                    continue
                ids = np.cumsum(_cat(idc))
                n = ids.size
                nid_c.append(ids)
                nlat_c.append(conv(np.cumsum(_cat(latc)), lat_offset))
                nlng_c.append(conv(np.cumsum(_cat(lngc)), lon_offset))
                kv = _cat(kvc) if kvc else None
                if kv is None or kv.size == 0:
                    ntagc_c.append(np.zeros(n, np.int64))
                    nkey_c.append(np.empty(0, np.int64))
                    nval_c.append(np.empty(0, np.int64))
                else:
                    split = _split_kv_vectorized(kv, n) or _split_kv_scalar(kv, n)
                    c, k, v = split
                    ntagc_c.append(c)
                    nkey_c.append(k)
                    nval_c.append(v)
            elif fnum == 1 and wt == 2:  # plain Node (rare/legacy)
                nid = rlat = rlng = 0
                keys = vals = None
                for df_, dwt, dval in _fields(data, val[0], val[0] + val[1]):
                    if df_ == 1:
                        nid = int(_unzigzag(np.array([dval], np.uint64))[0])
                    elif df_ == 2:
                        keys = _packed(data, dwt, dval)
                    elif df_ == 3:
                        vals = _packed(data, dwt, dval)
                    elif df_ == 8:
                        rlat = int(_unzigzag(np.array([dval], np.uint64))[0])
                    elif df_ == 9:
                        rlng = int(_unzigzag(np.array([dval], np.uint64))[0])
                nid_c.append(np.array([nid], np.int64))
                nlat_c.append(conv(np.array([rlat]), lat_offset))
                nlng_c.append(conv(np.array([rlng]), lon_offset))
                k = keys.astype(np.int64) if keys is not None else np.empty(0, np.int64)
                v = vals.astype(np.int64) if vals is not None else np.empty(0, np.int64)
                if k.size != v.size:  # mismatched tags → the walk raises
                    return _fallback()
                ntagc_c.append(np.array([k.size], np.int64))
                nkey_c.append(k)
                nval_c.append(v)
            elif fnum == 3 and wt == 2:  # Way — record slices only
                widx = len(way_ids)
                wid = 0
                for df_, dwt, dval in _fields(data, val[0], val[0] + val[1]):
                    if df_ == 1:
                        wid = dval
                    elif df_ in (2, 3, 8):
                        if dwt != 2:  # unpacked repeated scalar → slow path
                            return _fallback()
                        (w_keys, w_vals, w_refs)[(2, 3, 8).index(df_)].add(
                            dval[0], dval[1], widx
                        )
                way_ids.append(wid)
            elif fnum == 4 and wt == 2:  # Relation — record slices only
                ridx = len(rel_ids)
                rid = 0
                for df_, dwt, dval in _fields(data, val[0], val[0] + val[1]):
                    if df_ == 1:
                        rid = dval
                    elif df_ in (2, 3, 8, 9, 10):
                        if dwt != 2:
                            return _fallback()
                        (r_keys, r_vals, r_roles, r_memids, r_types)[
                            (2, 3, 8, 9, 10).index(df_)
                        ].add(dval[0], dval[1], ridx)
                rel_ids.append(rid)

    out = dict(_EMPTY_FLAT)

    if nid_c:
        out["node_ids"] = _cat(nid_c)
        out["node_lats"] = _cat(nlat_c)
        out["node_lngs"] = _cat(nlng_c)
        out["node_tag_counts"] = _cat(ntagc_c)
        nk = _cat(nkey_c)
        nv = _cat(nval_c)
        out["node_keys"] = sarr[nk] if nk.size else np.empty(0, object)
        out["node_vals"] = sarr[nv] if nv.size else np.empty(0, object)

    if way_ids:
        n_ways = len(way_ids)
        kc, kv_ = w_keys.decode(data, n_ways)
        vc, vv = w_vals.decode(data, n_ways)
        rc, rv = w_refs.decode(data, n_ways)
        if not (kc == vc).all():  # parallel-array mismatch → slow path
            return _fallback()
        out["way_ids"] = np.array(way_ids, dtype=np.int64)
        out["way_tag_counts"] = kc
        out["way_keys"] = sarr[kv_.astype(np.int64)] if kv_.size else np.empty(0, object)
        out["way_vals"] = sarr[vv.astype(np.int64)] if vv.size else np.empty(0, object)
        out["way_ref_counts"] = rc
        out["way_refs"] = _seg_delta_cumsum(_unzigzag(rv), rc)

    if rel_ids:
        n_rels = len(rel_ids)
        kc, kv_ = r_keys.decode(data, n_rels)
        vc, vv = r_vals.decode(data, n_rels)
        lc, lv = r_roles.decode(data, n_rels)
        mc, mv = r_memids.decode(data, n_rels)
        tc, tv = r_types.decode(data, n_rels)
        if not ((kc == vc).all() and (lc == mc).all() and (mc == tc).all()):
            return _fallback()  # the walk raises on the mismatch
        out["rel_ids"] = np.array(rel_ids, dtype=np.int64)
        out["rel_tag_counts"] = kc
        out["rel_keys"] = sarr[kv_.astype(np.int64)] if kv_.size else np.empty(0, object)
        out["rel_vals"] = sarr[vv.astype(np.int64)] if vv.size else np.empty(0, object)
        out["rel_member_counts"] = mc
        out["rel_roles"] = sarr[lv.astype(np.int64)] if lv.size else np.empty(0, object)
        out["rel_memids"] = _seg_delta_cumsum(_unzigzag(mv), mc)
        out["rel_types"] = tv.astype(np.int64)

    return out


def _flat_from_legacy(block: dict) -> dict:
    """Reference-parser output → flat arrays (fallback path)."""
    out = dict(_EMPTY_FLAT)
    ids, lats, lngs, tags = block["nodes"]
    if ids.size:
        out["node_ids"] = np.asarray(ids, np.int64)
        out["node_lats"] = np.asarray(lats, np.float64)
        out["node_lngs"] = np.asarray(lngs, np.float64)
        counts = np.array([len(t) if t else 0 for t in tags], dtype=np.int64)
        out["node_tag_counts"] = counts
        out["node_keys"] = np.array(
            [k for t in tags if t for k in t], dtype=object
        )
        out["node_vals"] = np.array(
            [v for t in tags if t for v in t.values()], dtype=object
        )
    if block["ways"]:
        ws = block["ways"]
        out["way_ids"] = np.array([w[0] for w in ws], dtype=np.int64)
        out["way_tag_counts"] = np.array([len(w[1]) for w in ws], dtype=np.int64)
        out["way_keys"] = np.array([k for w in ws for k in w[1]], dtype=object)
        out["way_vals"] = np.array(
            [v for w in ws for v in w[1].values()], dtype=object
        )
        out["way_ref_counts"] = np.array([w[2].size for w in ws], dtype=np.int64)
        out["way_refs"] = (
            np.concatenate([w[2] for w in ws]).astype(np.int64)
            if any(w[2].size for w in ws)
            else np.empty(0, np.int64)
        )
    if block["relations"]:
        rs = block["relations"]
        out["rel_ids"] = np.array([r[0] for r in rs], dtype=np.int64)
        out["rel_tag_counts"] = np.array([len(r[1]) for r in rs], dtype=np.int64)
        out["rel_keys"] = np.array([k for r in rs for k in r[1]], dtype=object)
        out["rel_vals"] = np.array(
            [v for r in rs for v in r[1].values()], dtype=object
        )
        counts = np.array([r[3].size for r in rs], dtype=np.int64)
        out["rel_member_counts"] = counts
        out["rel_roles"] = np.array([role for r in rs for role in r[2]], dtype=object)
        out["rel_memids"] = (
            np.concatenate([r[3] for r in rs]).astype(np.int64)
            if counts.sum()
            else np.empty(0, np.int64)
        )
        out["rel_types"] = (
            np.concatenate([r[4] for r in rs]).astype(np.int64)
            if counts.sum()
            else np.empty(0, np.int64)
        )
    return out


def _legacy_from_flat(flat: dict) -> dict:
    """Flat arrays → the legacy per-message structure (compat API)."""
    n = flat["node_ids"].size
    tag_list: list = [None] * n
    counts = flat["node_tag_counts"]
    p = 0
    for i in np.flatnonzero(counts > 0):
        c = int(counts[i])
        tag_list[i] = dict(
            zip(flat["node_keys"][p : p + c], flat["node_vals"][p : p + c])
        )
        p += c
    ways = []
    ref_splits = np.split(
        flat["way_refs"], np.cumsum(flat["way_ref_counts"])[:-1]
    )
    p = 0
    for i, wid in enumerate(flat["way_ids"]):
        c = int(flat["way_tag_counts"][i])
        tags = dict(zip(flat["way_keys"][p : p + c], flat["way_vals"][p : p + c]))
        p += c
        ways.append((int(wid), tags, ref_splits[i]))
    relations = []
    mem_splits = np.split(
        flat["rel_memids"], np.cumsum(flat["rel_member_counts"])[:-1]
    )
    type_splits = np.split(
        flat["rel_types"], np.cumsum(flat["rel_member_counts"])[:-1]
    )
    p = 0
    q = 0
    for i, rid in enumerate(flat["rel_ids"]):
        c = int(flat["rel_tag_counts"][i])
        tags = dict(zip(flat["rel_keys"][p : p + c], flat["rel_vals"][p : p + c]))
        p += c
        m = int(flat["rel_member_counts"][i])
        roles = list(flat["rel_roles"][q : q + m])
        q += m
        relations.append((int(rid), tags, roles, mem_splits[i], type_splits[i]))
    return {
        "nodes": (
            flat["node_ids"],
            flat["node_lats"],
            flat["node_lngs"],
            tag_list,
        ),
        "ways": ways,
        "relations": relations,
    }


def parse_primitive_block(data: bytes) -> dict:
    """PrimitiveBlock bytes → decoded entities (legacy structure, see
    :func:`parse_primitive_block_ref`); computed via the vectorized flat
    parser (property-tested equivalent to the reference walk)."""
    return _legacy_from_flat(parse_primitive_block_flat(data))


# ---------------------------------------------------------------------------
# Spark scans (manifest → parallel byte-range decode, as framed.py)
# ---------------------------------------------------------------------------

_PA_TAGS = pa.list_(
    pa.struct([pa.field("key", pa.string()), pa.field("value", pa.string())])
)
_ARROW_SCHEMAS = {
    "nodes": pa.schema(
        [("id", pa.int64()), ("lat", pa.float64()), ("lng", pa.float64())]
    ),
    "node_tags": pa.schema([("id", pa.int64()), ("tags", _PA_TAGS)]),
    "ways": pa.schema([("id", pa.int64()), ("tags", _PA_TAGS)]),
    "way_nodes": pa.schema(
        [("way_id", pa.int64()), ("seq", pa.int32()), ("node_id", pa.int64())]
    ),
    "relation_members": pa.schema(
        [
            ("rel_id", pa.int64()),
            ("seq", pa.int32()),
            ("member_type", pa.string()),
            ("role", pa.string()),
            ("member_id", pa.int64()),
        ]
    ),
    "relation_tags": pa.schema([("rel_id", pa.int64()), ("tags", _PA_TAGS)]),
}
_UNION_ARROW = pa.schema(
    [
        ("entity", pa.string()),
        ("id", pa.int64()),
        ("seq", pa.int32()),
        ("ref", pa.int64()),
        ("lat", pa.float64()),
        ("lng", pa.float64()),
        ("member_type", pa.string()),
        ("role", pa.string()),
        ("tags", _PA_TAGS),
    ]
)
# per-entity mapping into the union columns (absent → nulls)
_UNION_COLMAP = {
    "nodes": {"id": "id", "lat": "lat", "lng": "lng"},
    "node_tags": {"id": "id", "tags": "tags"},
    "ways": {"id": "id", "tags": "tags"},
    "way_nodes": {"id": "way_id", "seq": "seq", "ref": "node_id"},
    "relation_members": {
        "id": "rel_id",
        "seq": "seq",
        "member_type": "member_type",
        "role": "role",
        "ref": "member_id",
    },
    "relation_tags": {"id": "rel_id", "tags": "tags"},
}


def _tags_list_array(counts: np.ndarray, keys: np.ndarray, vals: np.ndarray):
    """Per-row tag entry lists as an Arrow ListArray — offsets from counts,
    flat key/value child arrays; zero per-row Python."""
    offsets = np.zeros(counts.size + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    child = pa.StructArray.from_arrays(
        [pa.array(keys, pa.string()), pa.array(vals, pa.string())],
        ["key", "value"],
    )
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), child)


def _entity_batch(flat: dict, entity: str) -> pa.RecordBatch | None:
    """Flat parse output → one Arrow RecordBatch for ``entity`` (or None
    when the blob holds no such rows)."""
    s = _ARROW_SCHEMAS[entity]
    if entity == "nodes":
        if flat["node_ids"].size == 0:
            return None
        arrays = [
            pa.array(flat["node_ids"]),
            pa.array(flat["node_lats"]),
            pa.array(flat["node_lngs"]),
        ]
    elif entity == "node_tags":
        counts = flat["node_tag_counts"]
        keep = counts > 0
        if not keep.any():
            return None
        arrays = [
            pa.array(flat["node_ids"][keep]),
            _tags_list_array(counts[keep], flat["node_keys"], flat["node_vals"]),
        ]
    elif entity == "ways":
        if flat["way_ids"].size == 0:
            return None
        arrays = [
            pa.array(flat["way_ids"]),
            _tags_list_array(
                flat["way_tag_counts"], flat["way_keys"], flat["way_vals"]
            ),
        ]
    elif entity == "way_nodes":
        c = flat["way_ref_counts"]
        if c.size == 0 or c.sum() == 0:
            return None
        arrays = [
            pa.array(np.repeat(flat["way_ids"], c)),
            pa.array(_within_seg(c, base=1).astype(np.int32)),
            pa.array(flat["way_refs"]),
        ]
    elif entity == "relation_members":
        c = flat["rel_member_counts"]
        if c.size == 0 or c.sum() == 0:
            return None
        mtypes = np.array(_MEMBER_TYPES, dtype=object)[flat["rel_types"]]
        arrays = [
            pa.array(np.repeat(flat["rel_ids"], c)),
            pa.array(_within_seg(c).astype(np.int32)),
            pa.array(mtypes, pa.string()),
            pa.array(flat["rel_roles"], pa.string()),
            pa.array(flat["rel_memids"]),
        ]
    elif entity == "relation_tags":
        if flat["rel_ids"].size == 0:
            return None
        arrays = [
            pa.array(flat["rel_ids"]),
            _tags_list_array(
                flat["rel_tag_counts"], flat["rel_keys"], flat["rel_vals"]
            ),
        ]
    else:
        raise ValueError(f"unknown entity {entity!r}")
    return pa.RecordBatch.from_arrays(arrays, schema=s)


def _union_batch(entity: str, rb: pa.RecordBatch) -> pa.RecordBatch:
    """Entity batch → discriminated-union batch (missing columns null)."""
    n = rb.num_rows
    colmap = _UNION_COLMAP[entity]
    arrays = []
    for field in _UNION_ARROW:
        if field.name == "entity":
            arrays.append(pa.array(np.full(n, entity, dtype=object), pa.string()))
        elif field.name in colmap:
            arrays.append(rb.column(colmap[field.name]))
        else:
            arrays.append(pa.nulls(n, field.type))
    return pa.RecordBatch.from_arrays(arrays, schema=_UNION_ARROW)


def _log_decode(log_dir: str | None, offset: int) -> None:
    """Optional decode audit: one marker file per blob decode, so tests can
    assert the single-pass loader touches each blob exactly once."""
    if not log_dir:
        return
    os.makedirs(log_dir, exist_ok=True)
    fd, _ = tempfile.mkstemp(prefix=f"blob{offset}_", dir=log_dir)
    os.close(fd)


def _iter_flats(path: str, batches: Iterator[pa.RecordBatch], log_dir: str | None):
    """Manifest batches → (offset, flat-parse) per blob, one file handle."""
    with open(path, "rb") as f:
        for rb in batches:
            offs = rb.column("offset").to_numpy()
            lens = rb.column("length").to_numpy()
            for off, ln in zip(offs, lens):
                f.seek(int(off))
                flat = parse_primitive_block_flat(
                    _decompress_blob(f.read(int(ln)))
                )
                _log_decode(log_dir, int(off))
                yield int(off), flat


def _decode_kernel(path: str, entity: str, log_dir: str | None = None):
    def _decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for _off, flat in _iter_flats(path, batches, log_dir):
            rb = _entity_batch(flat, entity)
            if rb is not None:
                yield rb

    return _decode


def _decode_all_kernel(path: str, log_dir: str | None = None):
    """Single-pass kernel: EVERY entity's rows from one decode per blob
    (the reference's one-parse fan-out, worker.hpp:75-307)."""

    def _decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for _off, flat in _iter_flats(path, batches, log_dir):
            for entity in _ENTITY_SCHEMAS:
                rb = _entity_batch(flat, entity)
                if rb is not None:
                    yield _union_batch(entity, rb)

    return _decode


_ENTITY_SCHEMAS = {
    "nodes": NODES_SCHEMA,
    "node_tags": NODE_TAGS_SCHEMA,
    "ways": WAYS_SCHEMA,
    "way_nodes": WAY_NODES_SCHEMA,
    "relation_members": REL_MEMBERS_SCHEMA,
    "relation_tags": REL_TAGS_SCHEMA,
}


def _manifest_df(
    spark: SparkSession, path: str, partitions: int | None
) -> DataFrame | None:
    manifest = [m for m in pbf_manifest(path) if m[2] == "OSMData"]
    if not manifest:
        return None
    parts = partitions or spark.sparkContext.defaultParallelism
    return spark.createDataFrame(
        pd.DataFrame(
            [(m[0], m[1]) for m in manifest], columns=["offset", "length"]
        )
    ).repartition(min(parts, len(manifest)))


def scan_pbf(
    spark: SparkSession,
    path: str,
    entity: str,
    partitions: int | None = None,
    decode_log: str | None = None,
) -> DataFrame:
    """.osm.pbf → ONE entity DataFrame (nodes / node_tags / ways /
    way_nodes / relation_members / relation_tags).

    The tiny (offset, length) manifest is parallelized; each task reads and
    decodes only its own blob byte ranges — at 100 TB the manifest for
    16 MB blobs is a few million rows of driver state, the same single
    producer + N workers split as the reference (and framed.py).

    For multi-entity consumers use :func:`load_osm_tables` — it decodes
    each blob ONCE for all entities instead of once per entity.
    """
    schema = _ENTITY_SCHEMAS[entity]
    mdf = _manifest_df(spark, path, partitions)
    if mdf is None:
        return spark.createDataFrame([], schema)
    kschema = _KERNEL_SCHEMAS.get(entity, schema)
    out = mdf.mapInArrow(_decode_kernel(path, entity, decode_log), schema=kschema)
    if entity in _KERNEL_SCHEMAS:
        other = [c for c in out.columns if c != "tags"]
        out = out.select(*other, F.map_from_entries("tags").alias("tags"))
    return out


def scan_pbf_all(
    spark: SparkSession,
    path: str,
    partitions: int | None = None,
    decode_log: str | None = None,
) -> DataFrame:
    """.osm.pbf → discriminated-union DataFrame of ALL entities, one decode
    per blob (``entity`` column selects; see UNION_SCHEMA for the column
    multiplexing).  The building block of the single-pass loader."""
    mdf = _manifest_df(spark, path, partitions)
    if mdf is None:
        return spark.createDataFrame([], UNION_SCHEMA)
    return mdf.mapInArrow(_decode_all_kernel(path, decode_log), schema=UNION_SCHEMA)


def pbf_file_fingerprint(path: str) -> str:
    """Content fingerprint of a PBF input for checkpoint/staging keys:
    (abspath, size, mtime_ns).  The plan-hash fallback in
    plans.checkpoint.input_fingerprint cannot see mapInPandas/mapInArrow
    source bytes, so PBF-backed stages key on THIS instead — an in-place
    edit that preserves blob offsets still changes mtime/size."""
    import hashlib

    st = os.stat(path)
    key = f"{os.path.abspath(path)}|{st.st_size}|{st.st_mtime_ns}"
    return "pbf:" + hashlib.md5(key.encode()).hexdigest()


def _entity_view(union: DataFrame, entity: str) -> DataFrame:
    """Partition-pruned per-entity projection of the staged union table."""
    d = union.filter(F.col("entity") == entity)
    if entity == "nodes":
        return d.select("id", "lat", "lng")
    if entity == "node_tags":
        return d.select("id", F.map_from_entries("tags").alias("tags"))
    if entity == "ways":
        return d.select("id", F.map_from_entries("tags").alias("tags"))
    if entity == "way_nodes":
        return d.select(
            F.col("id").alias("way_id"), "seq", F.col("ref").alias("node_id")
        )
    if entity == "relation_members":
        return d.select(
            F.col("id").alias("rel_id"),
            "seq",
            "member_type",
            "role",
            F.col("ref").alias("member_id"),
        )
    if entity == "relation_tags":
        return d.select(
            F.col("id").alias("rel_id"), F.map_from_entries("tags").alias("tags")
        )
    raise ValueError(f"unknown entity {entity!r}")


def load_osm_tables(
    spark: SparkSession,
    path: str | list[str],
    stage_dir: str | None = None,
    single_pass: bool = True,
    partitions: int | None = None,
    decode_log: str | None = None,
) -> dict[str, DataFrame]:
    """All graph-build inputs from one or several ``.osm.pbf`` extracts:
    nodes / node_tags / ways / way_nodes / relation_members /
    relation_tags (column shapes match operators.graph_build and
    operators.relations directly).

    ``single_pass`` (default) reproduces the reference's one-parse fan-out
    (main.cpp:59-222): ONE Spark job decodes every blob exactly once into a
    union frame written ``partitionBy("entity")`` under ``stage_dir`` (a
    fingerprint-keyed subdirectory — re-loading the same unmodified
    file(s) reuses the stage; an edited file re-stages).  Each returned
    table is a partition-pruned columnar read of that stage, so the 4-5×
    redundant decompress+decode of scanning per entity never happens.
    With ``single_pass=False`` each table is an independent
    :func:`scan_pbf` (one decode per blob PER ENTITY — kept for A/B
    benchmarking; single-file only).

    A LIST of paths is the multi-extract pipeline (region files of a
    planet): blobs of every file decode in the same job, the stage key is
    the combined fingerprint (any edited file re-stages), and duplicate
    entities across overlapping extracts are the caller's concern (OSM
    region extracts duplicate border objects; dedupe downstream with
    ``dropDuplicates(["id"])`` if the extracts overlap).
    """
    entities = tuple(_ENTITY_SCHEMAS)
    paths = [path] if isinstance(path, str) else list(path)
    if not single_pass:
        if len(paths) != 1:
            raise ValueError("single_pass=False supports a single file")
        return {e: scan_pbf(spark, paths[0], e, partitions) for e in entities}
    scans = [
        scan_pbf_all(spark, p, partitions=partitions, decode_log=decode_log)
        for p in paths
        if _manifest_df(spark, p, partitions) is not None
    ]
    if not scans:
        # header-only input: nothing to stage (and an empty parquet dir
        # cannot be read back) — empty typed frames directly
        return {
            e: spark.createDataFrame([], _ENTITY_SCHEMAS[e]) for e in entities
        }
    import hashlib

    fp = hashlib.md5(
        "|".join(pbf_file_fingerprint(p) for p in paths).encode()
    ).hexdigest()
    root = stage_dir or os.path.join(
        tempfile.gettempdir(), "navgraph_pbf_stage"
    )
    stage = os.path.join(root, fp[:16])
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        union = scans[0]
        for s in scans[1:]:
            union = union.unionByName(s)
        union.write.mode("overwrite").partitionBy("entity").parquet(stage)
    # explicit schema: a stage whose every blob decoded to ZERO entities has
    # only _SUCCESS (no data files, no partition dirs) — inference would
    # fail with 'Unable to infer schema'; the declared schema returns empty
    # typed frames instead (partition column values still come from paths)
    staged = spark.read.schema(UNION_SCHEMA).parquet(stage)
    return {e: _entity_view(staged, e) for e in entities}
