"""OSM PBF source tests: wire-format primitives, an independently
hand-crafted byte-literal block (reader vs the PUBLIC spec, not vs our own
writer), writer↔reader round trips, Spark scans, and the full
PBF → graph-build pipeline with hand-computed reference counters
(reference main.cpp:204-222 Filestat)."""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np
import pytest

from navgraph_osm_spark.sources import pbf


def test_packed_varint_roundtrip_extremes():
    rng = np.random.default_rng(7)
    v = np.concatenate(
        [
            rng.integers(-(2**62), 2**62, 500, dtype=np.int64),
            np.array([0, 1, -1, 2**63 - 1, -(2**63)], dtype=np.int64),
        ]
    )
    enc = pbf.encode_packed_uvarints(pbf._zigzag(v))
    dec = pbf._unzigzag(pbf.decode_packed_uvarints(np.frombuffer(enc, np.uint8)))
    assert (dec == v).all()


def test_reader_decodes_handcrafted_spec_bytes(tmp_path):
    """A PrimitiveBlock built from raw hex per the PUBLIC osmformat.proto
    field numbers — ids [5,7], raw lats [4,-2], raw lons [3,3] at default
    granularity 100 — validates the reader with no writer involvement."""
    dense = bytes(
        [0x0A, 0x02, 0x0A, 0x04]  # id (f1, packed): zigzag deltas 5,2
        + [0x42, 0x02, 0x08, 0x0B]  # lat (f8): zigzag deltas 4,-6
        + [0x4A, 0x02, 0x06, 0x00]  # lon (f9): zigzag deltas 3,0
    )
    group = bytes([0x12, len(dense)]) + dense  # PrimitiveGroup.dense (f2)
    strtab = bytes([0x0A, 0x00])  # StringTable with one empty entry
    block = bytes([0x0A, len(strtab)]) + strtab + bytes([0x12, len(group)]) + group
    blob = bytes([0x0A, len(block)]) + block  # Blob.raw (f1)
    blob += bytes([0x10, len(block)])  # Blob.raw_size (f2)
    header = bytes([0x0A, 0x07]) + b"OSMData" + bytes([0x18, len(blob)])
    p = tmp_path / "hand.osm.pbf"
    p.write_bytes(struct.pack(">I", len(header)) + header + blob)

    man = pbf.pbf_manifest(str(p))
    assert man == [(4 + len(header), len(blob), "OSMData")]
    with open(p, "rb") as f:
        f.seek(man[0][0])
        blk = pbf.parse_primitive_block(pbf._decompress_blob(f.read(man[0][1])))
    ids, lats, lngs, tags = blk["nodes"]
    assert ids.tolist() == [5, 7]
    # convertCoord: (0 + 100 * raw) / 1e9
    assert lats.tolist() == pytest.approx([4e-7, -2e-7])
    assert lngs.tolist() == pytest.approx([3e-7, 3e-7])


@pytest.fixture(scope="module")
def tiny_pbf(tmp_path_factory):
    """4 nodes, 2 ways (one non-highway), 1 restriction relation; written
    across multiple small blobs to exercise block splitting."""
    path = str(tmp_path_factory.mktemp("pbf") / "tiny.osm.pbf")
    ids = np.array([10, 11, 12, 50], dtype=np.int64)
    lats = np.array([1.0001, 1.0002, 1.0003, -5.5])
    lngs = np.array([2.0001, 2.0002, 2.0003, 170.25])
    ntags = [None, {"amenity": "cafe"}, None, {"name": "x", "ele": "12"}]
    ways = [
        (100, {"highway": "residential", "oneway": "yes"}, np.array([10, 11, 12])),
        (101, {"waterway": "river"}, np.array([12, 50])),
    ]
    rels = [
        (
            7,
            {"type": "restriction", "restriction": "no_left_turn"},
            [("way", 100, "from"), ("node", 12, "via"), ("way", 101, "to")],
        )
    ]
    pbf.write_osm_pbf(
        path, nodes=(ids, lats, lngs, ntags), ways=ways, relations=rels, block_size=3
    )
    return path


def test_roundtrip_all_entities(spark, tiny_pbf):
    t = pbf.load_osm_tables(spark, tiny_pbf)
    nodes = {r["id"]: (r["lat"], r["lng"]) for r in t["nodes"].collect()}
    assert set(nodes) == {10, 11, 12, 50}
    assert nodes[10] == pytest.approx((1.0001, 2.0001))
    assert nodes[50] == pytest.approx((-5.5, 170.25))

    ways = {r["id"]: r["tags"] for r in t["ways"].collect()}
    assert ways[100] == {"highway": "residential", "oneway": "yes"}
    assert ways[101] == {"waterway": "river"}

    wn = sorted(
        (r["way_id"], r["seq"], r["node_id"]) for r in t["way_nodes"].collect()
    )
    assert wn == [(100, 1, 10), (100, 2, 11), (100, 3, 12), (101, 1, 12), (101, 2, 50)]

    mem = sorted(
        (r["rel_id"], r["seq"], r["member_type"], r["role"], r["member_id"])
        for r in t["relation_members"].collect()
    )
    assert mem == [
        (7, 0, "way", "from", 100),
        (7, 1, "node", "via", 12),
        (7, 2, "way", "to", 101),
    ]
    rtags = {r["rel_id"]: r["tags"] for r in t["relation_tags"].collect()}
    assert rtags[7]["restriction"] == "no_left_turn"

    ntags = {r["id"]: r["tags"] for r in pbf.scan_pbf(spark, tiny_pbf, "node_tags").collect()}
    assert ntags == {11: {"amenity": "cafe"}, 50: {"name": "x", "ele": "12"}}


def test_granularity_and_offsets(spark, tmp_path):
    """Non-default granularity + lat/lon offsets follow convertCoord
    (reference primitive-block-parser.cpp:4-7) exactly."""
    path = str(tmp_path / "g.osm.pbf")
    ids = np.array([1, 2], dtype=np.int64)
    lats = np.array([10.000001, 10.000002])
    lngs = np.array([20.000001, 20.000002])
    pbf.write_osm_pbf(
        path, nodes=(ids, lats, lngs), granularity=1000,
        lat_offset=10_000_000_000, lon_offset=20_000_000_000,
    )
    got = {r["id"]: (r["lat"], r["lng"]) for r in
           pbf.scan_pbf(spark, path, "nodes").collect()}
    assert got[1] == pytest.approx((10.000001, 20.000001), abs=1e-12)
    assert got[2] == pytest.approx((10.000002, 20.000002), abs=1e-12)


def _grid_graph(tmp_path, n_ways=6, nodes_per_way=5):
    """Deterministic multi-way graph: way w uses nodes [w*10 .. w*10+4] plus
    a SHARED node 999 at position 2 — so every way is split exactly there.
    Odd ways are oneway, way 0 is not a highway."""
    node_ids, lats, lngs = [999], [0.0005], [0.0005]
    ways = []
    for w in range(n_ways):
        refs = []
        for i in range(nodes_per_way):
            if i == 2:
                refs.append(999)
                continue
            nid = w * 10 + i + 1000
            node_ids.append(nid)
            lats.append(round(0.001 * (w + 1), 7))
            lngs.append(round(0.001 * (i + 1), 7))
            refs.append(nid)
        tags = {"highway": "residential"} if w else {"building": "yes"}
        if w % 2 == 1:
            tags["oneway"] = "yes"
        ways.append((w + 1, tags, np.array(refs, dtype=np.int64)))
    path = str(tmp_path / "grid.osm.pbf")
    pbf.write_osm_pbf(
        path,
        nodes=(np.array(node_ids, np.int64), np.array(lats), np.array(lngs)),
        ways=ways,
        block_size=4,
    )
    return path


def test_pbf_pipeline_counters(spark, tmp_path):
    """End-to-end: .osm.pbf → graph build; counters match hand computation
    (the reference's Filestat print, main.cpp:204-222).

    5 highway ways × 5 nodes, all sharing node 999 (used=5×1+0 endpoints →
    interior on each) → each way splits into 2 segments: ways_used=5,
    edges_fwd=10, nodes_kept = 5×4 distinct + shared = 21."""
    from navgraph_osm_spark.operators import graph_build

    path = _grid_graph(tmp_path)
    t = pbf.load_osm_tables(spark, path)
    edges = graph_build.build_edges(t["nodes"], t["ways"], t["way_nodes"], res=6)
    fwd = edges.filter("direction = 0")
    assert fwd.count() == 10
    assert fwd.select("way_id").distinct().count() == 5
    kept = graph_build.node_usage(
        graph_build._kept_way_nodes(t["ways"], t["way_nodes"])
    )
    assert kept.count() == 21
    # two-way highways are w=2,4 → way ids 3,5 (w%2==1 → oneway tag)
    rev_ways = {
        r["way_id"] for r in edges.filter("direction = 1").select("way_id").collect()
    }
    assert rev_ways == {3, 5}

    # identical edges when the same tables enter the pipeline as plain
    # DataFrames (PBF decode is transparent to graph build)
    direct = graph_build.build_edges(
        spark.createDataFrame(
            [(int(r["id"]), float(r["lat"]), float(r["lng"]))
             for r in t["nodes"].collect()],
            "id long, lat double, lng double",
        ),
        spark.createDataFrame(
            [(int(r["id"]), r["tags"]) for r in t["ways"].collect()],
            "id long, tags map<string,string>",
        ),
        spark.createDataFrame(
            [(int(r["way_id"]), int(r["seq"]), int(r["node_id"]))
             for r in t["way_nodes"].collect()],
            "way_id long, seq int, node_id long",
        ),
        res=6,
    )
    a = sorted(map(tuple, edges.select("edge_id", "src_node", "tgt_node").collect()))
    b = sorted(map(tuple, direct.select("edge_id", "src_node", "tgt_node").collect()))
    assert a == b


def test_pbf_restrictions_pivot(spark, tiny_pbf):
    """relation_members + relation_tags feed pivot_restrictions directly."""
    from navgraph_osm_spark.operators.relations import pivot_restrictions

    t = pbf.load_osm_tables(spark, tiny_pbf)
    got = pivot_restrictions(t["relation_members"], t["relation_tags"]).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["from_way"], r["via_node"], r["to_way"]) == (100, 12, 101)


def test_single_pass_decodes_each_blob_once(spark, tmp_path):
    """The single-pass loader (reference one-parse fan-out, main.cpp:59-222)
    must decompress+parse each blob EXACTLY once even when all six entity
    tables are materialized — the per-entity scan path would decode 6×."""
    path = _grid_graph(tmp_path)
    # add relations so every entity family is populated
    rels = [
        (
            9,
            {"type": "restriction", "restriction": "no_left_turn"},
            [("way", 1, "from"), ("node", 999, "via"), ("way", 2, "to")],
        )
    ]
    path2 = str(tmp_path / "multi.osm.pbf")
    import shutil

    shutil.copy(path, path2)
    tmp = str(tmp_path / "relonly.osm.pbf")
    pbf.write_osm_pbf(tmp, relations=rels)
    man = pbf.pbf_manifest(tmp)
    with open(tmp, "rb") as g:
        data = g.read()
    with open(path2, "ab") as f:
        # append everything after the OSMHeader frame (the data blobs)
        first_off, first_len, _ = man[0]
        f.write(data[first_off + first_len:])

    blobs = [m for m in pbf.pbf_manifest(path2) if m[2] == "OSMData"]
    log = str(tmp_path / "decode_log")
    t = pbf.load_osm_tables(
        spark, path2, stage_dir=str(tmp_path / "stage"), decode_log=log
    )
    for df in t.values():  # materialize EVERY entity table
        df.count()
    markers = os.listdir(log)
    assert len(markers) == len(blobs)
    decoded = {int(m.split("_")[0][4:]) for m in markers}
    assert decoded == {off for off, _ln, _ty in blobs}
    # the staged tables carry real rows for each family
    assert t["nodes"].count() > 0
    assert t["way_nodes"].count() > 0
    assert t["relation_members"].count() == 3
    assert {r["rel_id"] for r in t["relation_tags"].collect()} == {9}


def test_single_pass_matches_per_entity_scans(spark, tiny_pbf, tmp_path):
    """Union-stage reads == independent per-entity scans, row for row."""
    single = pbf.load_osm_tables(
        spark, tiny_pbf, stage_dir=str(tmp_path / "stage")
    )
    multi = pbf.load_osm_tables(spark, tiny_pbf, single_pass=False)
    for entity in ("nodes", "ways", "way_nodes", "relation_members",
                   "relation_tags", "node_tags"):
        if entity == "node_tags":
            a = {r["id"]: r["tags"] for r in single[entity].collect()}
            b = {r["id"]: r["tags"] for r in
                 pbf.scan_pbf(spark, tiny_pbf, "node_tags").collect()}
            assert a == b
            continue
        a = sorted(map(tuple, single[entity].collect()))
        b = sorted(map(tuple, multi[entity].collect()))
        assert a == b, entity


def test_stage_reuse_and_invalidation(spark, tmp_path):
    """Re-loading an unchanged file reuses the stage (no new decodes);
    touching the file re-stages (pbf_file_fingerprint covers mtime)."""
    path = _grid_graph(tmp_path, n_ways=2, nodes_per_way=3)
    log = str(tmp_path / "log1")
    stage_root = str(tmp_path / "stage")
    pbf.load_osm_tables(spark, path, stage_dir=stage_root, decode_log=log)["nodes"].count()
    n1 = len(os.listdir(log))
    assert n1 > 0
    # second load, same file: stage hit, zero additional decodes
    pbf.load_osm_tables(spark, path, stage_dir=stage_root, decode_log=log)["nodes"].count()
    assert len(os.listdir(log)) == n1
    # touch the file: new fingerprint, fresh stage
    os.utime(path, ns=(1_000_000_000_000_000_000, 1_000_000_000_000_000_001))
    pbf.load_osm_tables(spark, path, stage_dir=stage_root, decode_log=log)["nodes"].count()
    assert len(os.listdir(log)) == 2 * n1


def test_flat_parser_matches_reference_parser(tmp_path):
    """parse_primitive_block_flat (vectorized cross-message decode) is
    entity-for-entity equal to the per-message reference walk on a block
    mixing tagged dense nodes, multi-ref ways, and relations."""
    path = str(tmp_path / "eq.osm.pbf")
    rng = np.random.default_rng(11)
    n = 500
    ids = np.sort(rng.choice(10**9, n, replace=False)).astype(np.int64)
    lats = rng.integers(-80_000_000, 80_000_000, n) / 1e7
    lngs = rng.integers(-179_000_000, 179_000_000, n) / 1e7
    ntags = [
        {"name": f"n{i}", "ele": str(i % 7)} if i % 3 == 0 else None
        for i in range(n)
    ]
    ways = [
        (
            w + 1,
            {"highway": "residential", "ref": f"W{w}"} if w % 2 else {},
            np.sort(rng.choice(ids, rng.integers(2, 9))),
        )
        for w in range(60)
    ]
    rels = [
        (
            r + 1,
            {"type": "restriction"},
            [("way", int(ways[r][0]), "from"), ("node", int(ids[r]), "via"),
             ("way", int(ways[r + 1][0]), "to")],
        )
        for r in range(20)
    ]
    pbf.write_osm_pbf(path, nodes=(ids, lats, lngs, ntags), ways=ways,
                      relations=rels, block_size=97)
    with open(path, "rb") as f:
        for off, ln, typ in pbf.pbf_manifest(path):
            if typ != "OSMData":
                continue
            f.seek(off)
            data = pbf._decompress_blob(f.read(ln))
            ref = pbf.parse_primitive_block_ref(data)
            got = pbf._legacy_from_flat(pbf.parse_primitive_block_flat(data))
            assert got["nodes"][0].tolist() == ref["nodes"][0].tolist()
            assert got["nodes"][1].tolist() == ref["nodes"][1].tolist()
            assert got["nodes"][2].tolist() == ref["nodes"][2].tolist()
            assert got["nodes"][3] == ref["nodes"][3]
            assert len(got["ways"]) == len(ref["ways"])
            for (gi, gt, gr), (ri, rt, rr) in zip(got["ways"], ref["ways"]):
                assert (gi, gt, gr.tolist()) == (ri, rt, rr.tolist())
            assert len(got["relations"]) == len(ref["relations"])
            for g, r in zip(got["relations"], ref["relations"]):
                assert (g[0], g[1], list(g[2]), g[3].tolist(), g[4].tolist()) == (
                    r[0], r[1], list(r[2]), r[3].tolist(), r[4].tolist()
                )


def test_stage_reads_partition_and_column_pruned(spark, tiny_pbf, tmp_path):
    """The single-pass stage must behave like a real table at read time:
    per-entity views hit the parquet scan with a PARTITION filter on
    `entity` (only that entity's directory is read) and a pruned
    ReadSchema (the nodes view never reads the tags column)."""
    t = pbf.load_osm_tables(spark, tiny_pbf, stage_dir=str(tmp_path / "st"))
    plan = t["nodes"]._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "nodes" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "tags" not in read_schema
    assert "lat" in read_schema and "lng" in read_schema


def test_load_osm_tables_header_only_file(spark, tmp_path):
    """A PBF with only an OSMHeader (no data blobs) loads as empty typed
    frames — no stage write, no schema-inference failure."""
    path = str(tmp_path / "empty.osm.pbf")
    pbf.write_osm_pbf(path)  # header only
    t = pbf.load_osm_tables(spark, path, stage_dir=str(tmp_path / "st"))
    assert set(t) == {"nodes", "node_tags", "ways", "way_nodes",
                      "relation_members", "relation_tags"}
    for e, df in t.items():
        assert df.count() == 0, e
    assert not os.path.exists(os.path.join(tmp_path, "st"))


def test_empty_string_tag_value_uses_scalar_kv_fallback(tmp_path):
    """An EMPTY-STRING tag value encodes as string-table index 0 — the
    keys_vals terminator value in value position.  The vectorized splitter
    must detect the ambiguity (zero count / parity invariants fail) and
    fall back to the scalar walk, decoding the tag correctly instead of
    silently mis-splitting nodes."""
    path = str(tmp_path / "e.osm.pbf")
    ids = np.array([1, 2], dtype=np.int64)
    lats = np.array([0.0001, 0.0002])
    lngs = np.array([0.0001, 0.0002])
    ntags = [{"name": "", "k": "v"}, None]  # empty VALUE for node 1
    pbf.write_osm_pbf(path, nodes=(ids, lats, lngs, ntags))
    with open(path, "rb") as f:
        for off, ln, typ in pbf.pbf_manifest(path):
            if typ != "OSMData":
                continue
            f.seek(off)
            data = pbf._decompress_blob(f.read(ln))
            ref = pbf.parse_primitive_block_ref(data)
            got = pbf.parse_primitive_block(data)
            assert got["nodes"][3] == ref["nodes"][3] == [
                {"name": "", "k": "v"}, None
            ]


def test_lzma_and_bzip2_blobs_decode(spark, tmp_path):
    """fileformat.proto's lzma(4) and bzip2(5) Blob codecs decode through
    the stdlib — hand-framed here since the writer emits zlib."""
    import bz2
    import lzma

    # build a dense block (ids [5], lat raw [4], lon raw [3]) once
    dense = bytes([0x0A, 0x01, 0x0A] + [0x42, 0x01, 0x08] + [0x4A, 0x01, 0x06])
    group = bytes([0x12, len(dense)]) + dense
    strtab = bytes([0x0A, 0x00])
    block = bytes([0x0A, len(strtab)]) + strtab + bytes([0x12, len(group)]) + group
    for fnum, comp in ((4, lzma.compress), (5, bz2.compress)):
        cdata = comp(block)
        blob = bytes([0x10, len(block)])  # raw_size (f2)
        blob += pbf._enc_bytes_field(fnum, cdata)
        header = bytes([0x0A, 0x07]) + b"OSMData" + pbf._enc_varint_field(3, len(blob))
        path = tmp_path / f"c{fnum}.osm.pbf"
        path.write_bytes(struct.pack(">I", len(header)) + header + blob)
        got = {r["id"]: (r["lat"], r["lng"]) for r in
               pbf.scan_pbf(spark, str(path), "nodes").collect()}
        assert got == {5: (pytest.approx(4e-7), pytest.approx(3e-7))}, fnum


def test_lz4_zstd_codec_wiring(spark, tmp_path):
    """fileformat.proto's optional lz4(6)/zstd(7) codecs: when the module
    is installed the blob decodes through ``importlib.import_module`` of
    the full submodule path (``lz4.frame``, not the bare package); when it
    is absent the error is a clear install hint naming the package."""
    import importlib

    dense = bytes([0x0A, 0x01, 0x0A] + [0x42, 0x01, 0x08] + [0x4A, 0x01, 0x06])
    group = bytes([0x12, len(dense)]) + dense
    strtab = bytes([0x0A, 0x00])
    block = bytes([0x0A, len(strtab)]) + strtab + bytes([0x12, len(group)]) + group
    for fnum, modname, pkg in ((6, "lz4.frame", "lz4"), (7, "zstandard", "zstandard")):
        try:
            mod = importlib.import_module(modname)
        except ImportError:
            mod = None
        if mod is None:
            blob = pbf._enc_bytes_field(fnum, b"\x00")
            with pytest.raises(ValueError, match=pkg):
                pbf._decompress_blob(blob)
            continue
        comp = mod.compress if fnum == 6 else mod.ZstdCompressor().compress
        blob = bytes([0x10, len(block)]) + pbf._enc_bytes_field(fnum, comp(block))
        header = bytes([0x0A, 0x07]) + b"OSMData" + pbf._enc_varint_field(3, len(blob))
        path = tmp_path / f"c{fnum}.osm.pbf"
        path.write_bytes(struct.pack(">I", len(header)) + header + blob)
        got = {r["id"]: (r["lat"], r["lng"]) for r in
               pbf.scan_pbf(spark, str(path), "nodes").collect()}
        assert got == {5: (pytest.approx(4e-7), pytest.approx(3e-7))}, fnum


def test_all_blobs_empty_stage_returns_typed_frames(spark, tmp_path):
    """An extract whose OSMData blobs decode to ZERO entities stages a
    parquet directory with no data files — the explicit UNION_SCHEMA read
    must return empty typed frames instead of failing schema inference."""
    strtab = bytes([0x0A, 0x00])
    block = bytes([0x0A, len(strtab)]) + strtab  # stringtable only, no groups
    blob = pbf._enc_bytes_field(1, block)  # raw (f1)
    header = bytes([0x0A, 0x07]) + b"OSMData" + pbf._enc_varint_field(3, len(blob))
    path = tmp_path / "hollow.osm.pbf"
    path.write_bytes(struct.pack(">I", len(header)) + header + blob)
    t = pbf.load_osm_tables(spark, str(path), stage_dir=str(tmp_path / "st"))
    for e, df in t.items():
        assert df.count() == 0, e
        assert len(df.columns) >= 2, e


def test_load_osm_tables_multi_file(spark, tmp_path):
    """A LIST of extracts loads through one staged decode job: entities
    from every file land in the same tables; editing ONE file re-stages."""
    p1 = str(tmp_path / "a.osm.pbf")
    p2 = str(tmp_path / "b.osm.pbf")
    pbf.write_osm_pbf(
        p1,
        nodes=(np.array([1, 2], np.int64), np.array([0.0001, 0.0002]),
               np.array([0.0001, 0.0002])),
        ways=[(10, {"highway": "residential"}, np.array([1, 2]))],
    )
    pbf.write_osm_pbf(
        p2,
        nodes=(np.array([3], np.int64), np.array([0.0003]), np.array([0.0003])),
        ways=[(20, {"highway": "primary"}, np.array([3, 1]))],
    )
    t = pbf.load_osm_tables(spark, [p1, p2], stage_dir=str(tmp_path / "st"))
    assert {r["id"] for r in t["nodes"].collect()} == {1, 2, 3}
    assert {r["id"] for r in t["ways"].collect()} == {10, 20}
    assert t["way_nodes"].count() == 4
    stages_before = set(os.listdir(tmp_path / "st"))
    # touching one file produces a new combined stage key
    os.utime(p2, ns=(2_000_000_000_000_000_000, 2_000_000_000_000_000_001))
    pbf.load_osm_tables(spark, [p1, p2], stage_dir=str(tmp_path / "st"))["nodes"].count()
    assert len(set(os.listdir(tmp_path / "st"))) == len(stages_before) + 1


def test_mismatched_way_tag_arrays_raise():
    """A Way whose packed keys (f2) and vals (f3) differ in length is
    malformed: decoding must name the way and raise, not pair what zips and
    silently drop the unpaired key."""
    strtab = b"".join(
        bytes([0x0A, len(s)]) + s for s in (b"", b"highway", b"oneway", b"residential")
    )
    way = bytes(
        [0x08, 42]  # id (f1) = 42
        + [0x12, 0x02, 0x01, 0x02]  # keys (f2, packed): highway, oneway
        + [0x1A, 0x01, 0x03]  # vals (f3, packed): residential — one short
        + [0x42, 0x02, 0x02, 0x02]  # refs (f8, packed sint64 deltas): 1, 2
    )
    group = bytes([0x1A, len(way)]) + way  # PrimitiveGroup.ways (f3)
    block = bytes([0x0A, len(strtab)]) + strtab + bytes([0x12, len(group)]) + group
    with pytest.raises(ValueError, match="way 42"):
        pbf.parse_primitive_block(block)


def test_mismatched_relation_member_arrays_raise():
    """A Relation with 2 member roles and memids (f8, f9) but 1 member type
    (f10) is malformed: decoding must name the relation and raise, not cut
    the members to the shortest array."""
    strtab = b"".join(bytes([0x0A, len(s)]) + s for s in (b"", b"from", b"to"))
    rel = bytes(
        [0x08, 7]  # id (f1) = 7
        + [0x42, 0x02, 0x01, 0x02]  # roles_sid (f8, packed): from, to
        + [0x4A, 0x02, 0x14, 0x02]  # memids (f9, packed sint64 deltas): 10, 11
        + [0x52, 0x01, 0x01]  # types (f10, packed): WAY — one short
    )
    group = bytes([0x22, len(rel)]) + rel  # PrimitiveGroup.relations (f4)
    block = bytes([0x0A, len(strtab)]) + strtab + bytes([0x12, len(group)]) + group
    with pytest.raises(ValueError, match="relation 7"):
        pbf.parse_primitive_block(block)
