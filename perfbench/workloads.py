"""The benchmark workloads: seeded inputs, the timed job, output checks.

Each workload is a class with the same surface:

- ``gen_inputs(spark, seed)``: writes the seeded inputs under ``self.inputs``
  (set-up, never timed as a job) and returns the input row count;
- ``job(spark, layers)``: the timed job.  It calls each layer's public
  function, materializes the result at the layer boundary with the layer's
  real sink, and names the layer through ``layers.enter``;
- ``check(corrupt)``: reads what the job left on disk (pyarrow / plain
  Python, never Spark) and returns a list of failed expectations (empty
  means correct).  Expectations come from the generator wherever that is
  cheap: planted counts, a numpy brute force for kNN and point-in-polygon
  on a sample, a driver-side LSH for the near-dup pairs.  Outputs without
  an independent model are checked by an order-insensitive hash that must
  repeat across the repetitions of a run and, for the seeds listed in
  ``pinned.json``, equal the pinned value.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def read_parquet(path: str, columns: list[str] | None = None):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def unordered_hash(lines) -> str:
    """Order-insensitive digest of a multiset of text rows."""
    acc, n = 0, 0
    for line in lines:
        acc = (acc + int.from_bytes(hashlib.blake2b(line.encode(), digest_size=8).digest(), "little")) % (1 << 64)
        n += 1
    return f"{n}:{acc:016x}"


def pinned(workload: str, seed: int) -> str | None:
    with open(os.path.join(HERE, "pinned.json")) as f:
        return json.load(f).get(workload, {}).get(str(seed))


class Workload:
    name = ""

    def __init__(self, work: str):
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.out = os.path.join(work, "out")
        self.seed = 0
        self.first_hash: str | None = None
        self.info: dict[str, float] = {}  # reported beside the metrics, not gated
        os.makedirs(self.inputs, exist_ok=True)

    def reset_outputs(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)

    def written_bytes(self) -> int:
        return dir_bytes(self.out)

    def hash_check(self, digest: str) -> list[str]:
        """The repeat-and-pin check for outputs without an independent model."""
        errors = []
        if self.first_hash is None:
            self.first_hash = digest
            print(f"[{self.name}] seed {self.seed} output hash {digest}", file=sys.stderr)
        elif digest != self.first_hash:
            errors.append(f"output hash {digest} differs from first repetition {self.first_hash}")
        want = pinned(self.name, self.seed)
        if want is not None and digest != want:
            errors.append(f"output hash {digest} != pinned {want} for seed {self.seed}")
        return errors


# ---------------------------------------------------------------------------
# osm_graph: .osm.pbf → the reference CLI job
# ---------------------------------------------------------------------------

ROUTABLE = [
    "motorway", "trunk", "primary", "secondary", "tertiary", "unclassified",
    "residential", "motorway_link", "trunk_link", "primary_link",
    "secondary_link", "tertiary_link", "living_street",
]
NON_ROUTABLE = ["footway", "cycleway", "path", "service", "construction"]
ONEWAY_TAGS = ["yes", "1", "no", "-1", "true", None]
RESTRICTION_TYPES = [
    "no_left_turn", "no_right_turn", "no_straight_on",
    "only_left_turn", "only_right_turn", "only_straight_on",
]


class OsmGraph(Workload):
    """Seeded jittered road grid → ``python -m navgraph_osm_spark in.pbf out.csv``."""

    name = "osm_graph"

    def __init__(self, work: str):
        super().__init__(work)
        self.rows, self.cols = 110, 137
        self.pbf = os.path.join(self.inputs, "grid.osm.pbf")

    def _model(self, seed: int):
        rng = np.random.default_rng(seed)
        R, C = self.rows, self.cols
        nid = np.arange(1, R * C + 1, dtype=np.int64).reshape(R, C)
        # integer 1e-7 degrees: exactly representable at the PBF granularity
        lat_e7 = 480_000_000 + np.arange(R)[:, None] * 20_000 + rng.integers(-4_000, 4_000, (R, C))
        lng_e7 = 20_000_000 + np.arange(C)[None, :] * 30_000 + rng.integers(-6_000, 6_000, (R, C))
        # each grid line is cut into ways of 15 legs from a random offset;
        # way classes and oneway tags are dealt in fixed proportions, so the
        # seed moves which way gets what but barely the graph's size
        lines = [(nid[r, :], True) for r in range(R)] + [(nid[:, c], False) for c in range(C)]
        geoms = []
        for line, is_row in lines:
            cuts = [0, *range(int(rng.integers(1, 15)), line.size - 1, 15), line.size - 1]
            geoms += [(line[a : b + 1].copy(), is_row) for a, b in zip(cuts[:-1], cuts[1:])]
        n = len(geoms)
        kind = rng.permutation(np.arange(n) * 20 // n)  # 0-15 routable, 16-18 not, 19 building
        oneway = rng.permutation(np.arange(n) * len(ONEWAY_TAGS) // n)
        ways = []  # (way_id, tags, refs)
        horizontal: set[int] = set()
        for wid, ((refs, is_row), k, ow) in enumerate(zip(geoms, kind, oneway), start=1):
            if k < 16:
                tags = {"highway": ROUTABLE[int(rng.integers(len(ROUTABLE)))]}
            elif k < 19:
                tags = {"highway": NON_ROUTABLE[int(rng.integers(len(NON_ROUTABLE)))]}
            else:
                tags = {"building": "yes"}
            if ONEWAY_TAGS[ow] is not None:
                tags["oneway"] = ONEWAY_TAGS[ow]
            ways.append((wid, tags, refs))
            if is_row:
                horizontal.add(wid)

        # restrictions at interior crossings: from a row way, to a column way
        containing: dict[int, list[int]] = {}
        for i, (_w, _t, refs) in enumerate(ways):
            for n in refs:
                containing.setdefault(int(n), []).append(i)
        rels = []
        rid = 1
        n_rel = max(6, (R * C) // 50)
        for k in range(n_rel):
            r, c = int(rng.integers(1, R - 1)), int(rng.integers(1, C - 1))
            via = int(nid[r, c])
            on = [ways[i][0] for i in containing[via]]
            fr = next(w for w in on if w in horizontal)
            to = next(w for w in reversed(on) if w not in horizontal)
            rtype = RESTRICTION_TYPES[k % len(RESTRICTION_TYPES)]
            members = [("way", fr, "from"), ("node", via, "via"), ("way", to, "to")]
            bad = k % 20
            if bad == 1:
                rels.append((rid, {"type": "route"}, members))
            elif bad == 2:
                rels.append((rid, {"type": "restriction", "restriction": rtype}, members[:2]))
            elif bad == 3:
                rels.append((rid, {"type": "restriction", "restriction": rtype},
                             [members[0], ("way", fr, "via"), members[2]]))
            elif bad == 4:
                rels.append((rid, {"type": "restriction", "restriction": rtype},
                             members + [("node", via, "via")]))
            elif bad == 5:
                rels.append((rid, {"type": "restriction", "restriction": "no_u_turn"}, members))
            else:
                rels.append((rid, {"type": "restriction", "restriction": rtype}, members))
            rid += 1
        return nid, lat_e7, lng_e7, ways, rels

    def expected_counts(self, nid, ways) -> dict:
        """The reference's construction counters, from the generator alone."""
        routable = [(w, t, refs) for w, t, refs in ways if t.get("highway") in ROUTABLE]
        used: dict[int, int] = {}
        for _w, _t, refs in routable:
            for i, n in enumerate(refs):
                used[int(n)] = used.get(int(n), 0) + (2 if i in (0, refs.size - 1) else 1)
        edges = 0
        for _w, t, refs in routable:
            segs = 1 + sum(1 for n in refs[1:-1] if used[int(n)] > 1)
            edges += segs * (1 if t.get("oneway") in ("yes", "1") else 2)
        return {
            "nodes_total": int(nid.size),
            "nodes_kept": len(used),
            "ways_used": len(routable),
            "ways_split": len(routable),
            "edges_emitted": edges,
        }

    def gen_inputs(self, spark, seed: int) -> int:
        from navgraph_osm_spark.sources.pbf import write_osm_pbf

        self.seed = seed
        nid, lat_e7, lng_e7, ways, rels = self._model(seed)
        write_osm_pbf(
            self.pbf,
            nodes=(nid.ravel(), lat_e7.ravel() / 1e7, lng_e7.ravel() / 1e7),
            ways=ways,
            relations=rels,
            block_size=4000,
        )
        self.expected = self.expected_counts(nid, ways)
        self.counts: dict = {}
        return int(nid.size + len(ways) + len(rels))

    def job(self, spark, layers) -> None:
        from navgraph_osm_spark import __main__ as cli

        with layers.probes_osm(os.path.join(self.out, "restrictions")):
            self.counts = cli.main(
                [self.pbf, os.path.join(self.out, "graph.csv"),
                 "--warehouse", os.path.join(self.out, "warehouse"), "--no-resume"],
                spark=spark,
            )

    def check(self, corrupt: bool = False) -> list[str]:
        errors = []
        for k, v in self.expected.items():
            if self.counts.get(k) != v:
                errors.append(f"{k}: got {self.counts.get(k)}, generator says {v}")
        lines = []
        for part in sorted(glob.glob(os.path.join(self.out, "graph.csv", "part-*"))):
            with open(part) as f:
                lines.extend(f.read().splitlines()[1:])  # per-part header
        if corrupt and lines:
            lines.pop()
        if len(lines) != self.counts.get("expanded_edges"):
            errors.append(f"csv rows {len(lines)} != expanded_edges {self.counts.get('expanded_edges')}")
        return errors + self.hash_check(unordered_hash(lines))


# ---------------------------------------------------------------------------
# image_caption: decode + cells + point-in-polygon + tiles + kNN, then
# MinHash LSH near-dup pairs → connected components over the captions
# ---------------------------------------------------------------------------

PIP_RES, TILE_RES, HIST_RES, KNN_RES = 6, 13, 10, 7
KNN_K, QUERY_EVERY = 5, 97
CORES = [(48.8566, 2.3522), (40.7128, -74.0060), (35.6762, 139.6503)]
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _grid_xy(lat, lng, res):
    n = 1 << res
    x = np.clip(np.floor((np.asarray(lng) + 180.0) / 360.0 * n), 0, n - 1)
    y = np.clip(np.floor((90.0 - np.asarray(lat)) / 180.0 * n), 0, n - 1)
    return x.astype(np.int64), y.astype(np.int64)


def _inside_np(plat, plng, ring_lat, ring_lng) -> np.ndarray:
    """Even-odd crossings of one closed ring (own brute force, not the engine's)."""
    inside = np.zeros(plat.shape, dtype=bool)
    m = ring_lat.size
    for i in range(m):
        y1, x1 = ring_lat[i], ring_lng[i]
        y2, x2 = ring_lat[(i + 1) % m], ring_lng[(i + 1) % m]
        if y1 == y2:
            continue
        cross = ((y1 > plat) != (y2 > plat)) & (plng < x1 + (plat - y1) / (y2 - y1) * (x2 - x1))
        inside ^= cross
    return inside


def _haversine_km(lat1, lng1, lat2, lng2, radius_km):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp, dl = p2 - p1, np.radians(lng2 - lng1)
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * radius_km * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


class ImageCaption(Workload):
    """The image+caption table through the spatial and the near-dup layers."""

    name = "image_caption"

    def __init__(self, work: str):
        super().__init__(work)
        from navgraph_osm_spark.operators.dedup import SMALL_GRAPH_EDGE_LIMIT

        self.n_images, self.n_polys = 2_500, 300
        self.limit = SMALL_GRAPH_EDGE_LIMIT
        # near-dup families of captions (burst shots re-captioned with a
        # typo) planting 25% more pairs than the driver-side union-find
        # accepts, so cluster_pairs takes its iterative path even after the
        # estimator loses some (see README)
        self.family = 120
        self.n_families = -(-int(SMALL_GRAPH_EDGE_LIMIT * 1.25) // (self.family * (self.family - 1) // 2))

    def _captions(self, seed: int) -> list[str]:
        """Planted near-dup families plus unique captions, one per image id."""
        rng = np.random.default_rng(seed + 7)
        n_words = 4 * self.n_images
        letters = rng.choice(LETTERS, (n_words, 9))
        vocab = ["".join(w[:n]) for w, n in zip(letters, rng.integers(4, 10, n_words))]

        def sentence(n):
            return " ".join(vocab[i] for i in rng.integers(len(vocab), size=n))

        texts, fam = [], []
        for f in range(self.n_families):
            base = sentence(10)
            for _ in range(self.family):
                # a one-letter typo keeps every member pair far above the
                # 0.6 Jaccard threshold: every planted pair is verified
                at = int(rng.integers(len(base)))
                texts.append(base[:at] + str(LETTERS[int(rng.integers(26))]) + base[at + 1 :])
                fam.append(f)
        while len(texts) < self.n_images:
            texts.append(sentence(int(rng.integers(6, 12))))
            fam.append(-1)
        order = rng.permutation(self.n_images)
        self.family_of = np.array(fam, dtype=np.int64)[order]  # by image id
        self.captions = [texts[i] for i in order]
        self.expected_pairs = None
        return self.captions

    def _polygons(self, seed: int):
        """Rectangles, triangles and holed squares around the city cores."""
        rng = np.random.default_rng(seed + 1_000_003)
        rows = []
        for pid in range(self.n_polys):
            clat, clng = CORES[pid % len(CORES)]
            lat0 = clat + rng.normal(0, 0.06)
            lng0 = clng + rng.normal(0, 0.06)
            dlat, dlng = rng.uniform(0.005, 0.04), rng.uniform(0.005, 0.04)
            kind = pid % 3
            if kind == 0:
                ring = [(lat0, lng0), (lat0, lng0 + dlng), (lat0 + dlat, lng0 + dlng), (lat0 + dlat, lng0)]
                rings = None
            elif kind == 1:
                ring = [(lat0, lng0), (lat0, lng0 + dlng), (lat0 + dlat, lng0 + dlng / 3)]
                rings = None
            else:
                ring = [(lat0, lng0), (lat0, lng0 + dlng), (lat0 + dlat, lng0 + dlng), (lat0 + dlat, lng0)]
                hl0, hl1 = lat0 + dlat / 4, lat0 + 3 * dlat / 4
                hg0, hg1 = lng0 + dlng / 4, lng0 + 3 * dlng / 4
                ring += [(hl0, hg0), (hl0, hg1), (hl1, hg1), (hl1, hg0)]
                rings = [0, 4]
            rows.append((pid, ring, rings))
        return rows

    def gen_inputs(self, spark, seed: int) -> int:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from navgraph_osm_spark.sources.synth import IMAGES_SCHEMA, gen_images_pdf
        from navgraph_osm_spark.sources.tables import TableWriter

        self.seed = seed
        captions = np.array(self._captions(seed), dtype=object)

        def gen(batches):
            # synth.gen_images(payload=True) rows with the planted captions
            for pdf in batches:
                ids = pdf["id"].to_numpy()
                rows = gen_images_pdf(ids, seed)
                rows["caption"] = captions[ids]
                yield rows

        parts = 4 * spark.sparkContext.defaultParallelism
        images = spark.range(0, self.n_images, 1, parts).mapInPandas(gen, IMAGES_SCHEMA)
        TableWriter(spark, self.inputs).write(images, "images")
        self.polys = self._polygons(seed)
        pt = pa.struct([("lat", pa.float64()), ("lng", pa.float64())])
        pq.write_table(
            pa.table({
                "polygon_id": pa.array([p[0] for p in self.polys], pa.int64()),
                "footprint": pa.array(
                    [[{"lat": a, "lng": b} for a, b in p[1]] for p in self.polys], pa.list_(pt)
                ),
                "ring_offsets": pa.array([p[2] for p in self.polys], pa.list_(pa.int32())),
            }),
            os.path.join(self.inputs, "polygons.parquet"),
        )
        geo = read_parquet(os.path.join(self.inputs, "images"), ["image_id", "lat", "lng", "footprint"])
        ids = np.array([int(s[3:]) for s in geo.column("image_id").to_pylist()], dtype=np.int64)
        by_id = np.argsort(ids)
        self.ids = ids[by_id]
        self.lat = geo.column("lat").to_numpy()[by_id]
        self.lng = geo.column("lng").to_numpy()[by_id]
        flat = geo.column("footprint").combine_chunks().flatten().flatten()
        fl_lat = flat[0].to_numpy().reshape(-1, 4)
        fl_lng = flat[1].to_numpy().reshape(-1, 4)
        x0, y0 = _grid_xy(fl_lat.max(1), fl_lng.min(1), TILE_RES)
        x1, y1 = _grid_xy(fl_lat.min(1), fl_lng.max(1), TILE_RES)
        self.expect_tiles = int(((x1 - x0 + 1) * (y1 - y0 + 1)).sum())
        return self.n_images

    def job(self, spark, layers) -> None:
        from pyspark.sql import functions as F

        from navgraph_osm_spark.operators.dedup import cluster_pairs, minhash_lsh_pairs
        from navgraph_osm_spark.operators.knn import knn_join_adaptive
        from navgraph_osm_spark.operators.spatial_join import (
            assign_cells,
            point_in_polygon_join,
            tile_assignment,
        )
        from navgraph_osm_spark.sources.codec import DECODE_STATS_SCHEMA, decode_stats_batches

        images = spark.read.parquet(os.path.join(self.inputs, "images"))
        polys = spark.read.parquet(os.path.join(self.inputs, "polygons.parquet"))
        num_id = F.substring("image_id", 4, 8).cast("long")
        pts = images.select(num_id.alias("point_id"), "lat", "lng")

        def sink(df, name):
            df.write.mode("overwrite").parquet(os.path.join(self.out, name))

        layers.enter("sources.codec")
        sink(images.select("image_id", "bytes", "fmt", "phash")
             .mapInPandas(decode_stats_batches, DECODE_STATS_SCHEMA), "decode")
        layers.enter("cells")
        sink(assign_cells(images.select("lat", "lng"), HIST_RES).groupBy("cell").count(), "hist")
        layers.enter("operators.spatial_join.pip")
        sink(point_in_polygon_join(pts, polys, res=PIP_RES, poly_id="polygon_id"), "pip")
        layers.enter("operators.spatial_join.tiles")
        sink(tile_assignment(images.select("image_id", "footprint"), TILE_RES), "tiles")
        layers.enter("operators.knn")
        queries = pts.filter(F.col("point_id") % QUERY_EVERY == 0).withColumnRenamed("point_id", "query_id")
        sink(knn_join_adaptive(pts, queries, k=KNN_K, res=KNN_RES, ring=1, max_rounds=2), "knn")
        layers.enter("operators.dedup.minhash")
        docs = images.select(num_id.alias("doc_id"), F.col("caption").alias("text"))
        sink(minhash_lsh_pairs(docs, seed=self.seed), "pairs")
        layers.enter("operators.dedup.clusters")
        sink(cluster_pairs(spark.read.parquet(os.path.join(self.out, "pairs"))), "clusters")
        layers.enter(None)

    def check(self, corrupt: bool = False) -> list[str]:
        return self._check_spatial(corrupt) + self._check_dedup(corrupt)

    def _check_spatial(self, corrupt: bool) -> list[str]:
        from navgraph_osm_spark.cells import latlng_to_cell
        from navgraph_osm_spark.functions.geo import EARTH_RADIUS_KM

        errors = []
        dec = read_parquet(os.path.join(self.out, "decode"), ["phash_ok"]).column("phash_ok")
        if len(dec) != self.n_images or not all(dec.to_pylist()):
            errors.append(f"decode: {len(dec)} rows, want {self.n_images} all phash_ok")

        hist = read_parquet(os.path.join(self.out, "hist"))
        got = dict(zip(hist.column("cell").to_pylist(), hist.column("count").to_pylist()))
        cells, counts = np.unique(latlng_to_cell(self.lat, self.lng, HIST_RES), return_counts=True)
        if got != dict(zip(cells.tolist(), counts.tolist())):
            errors.append("cells: histogram differs from numpy")

        tiles = read_parquet(os.path.join(self.out, "tiles"), ["cell"]).num_rows
        if tiles != self.expect_tiles:
            errors.append(f"tiles: {tiles} rows, footprint bboxes give {self.expect_tiles}")

        # point-in-polygon: numpy brute force over every polygon, on a sample
        pip = read_parquet(os.path.join(self.out, "pip"))
        pairs = set(zip(pip.column("point_id").to_pylist(), pip.column("polygon_id").to_pylist()))
        if corrupt and pairs:
            pairs.pop()
        rng = np.random.default_rng(self.seed)
        near = np.flatnonzero(np.abs(self.lat - 40) < 15)
        sample = np.concatenate([rng.choice(near, min(600, near.size), replace=False),
                                 rng.choice(self.ids.size, 200, replace=False)])
        sample_ids = set(self.ids[sample].tolist())
        want = set()
        for pid, ring, rings in self.polys:
            r = np.array(ring)
            bounds = (rings or [0]) + [len(ring)]
            inside = np.zeros(sample.size, dtype=bool)
            for a, b in zip(bounds[:-1], bounds[1:]):
                inside ^= _inside_np(self.lat[sample], self.lng[sample], r[a:b, 0], r[a:b, 1])
            want |= {(int(i), pid) for i in self.ids[sample][inside]}
        got_pairs = {p for p in pairs if p[0] in sample_ids}
        if got_pairs != want:
            errors.append(f"pip: {len(got_pairs ^ want)} sample pairs differ from brute force")

        # kNN: exact brute force for every query
        knn = read_parquet(os.path.join(self.out, "knn"))
        by_q: dict[int, list[float]] = {}
        for q, d in zip(knn.column("query_id").to_pylist(), knn.column("dist_km").to_pylist()):
            by_q.setdefault(q, []).append(d)
        qmask = self.ids % QUERY_EVERY == 0
        if len(by_q) != int(qmask.sum()):
            errors.append(f"knn: {len(by_q)} queries answered, want {int(qmask.sum())}")
        for q, qlat, qlng in zip(self.ids[qmask], self.lat[qmask], self.lng[qmask]):
            d = np.sort(_haversine_km(qlat, qlng, self.lat, self.lng, EARTH_RADIUS_KM))[:KNN_K]
            g = np.sort(np.array(by_q.get(int(q), [])))
            if g.size != d.size or not np.allclose(g, d, rtol=1e-9, atol=1e-6):
                errors.append(f"knn: query {q} distances differ from brute force")
                break
        return errors

    def _lsh_pairs(self) -> set[tuple[int, int]]:
        """The verified pairs by the definition minhash_lsh_pairs documents
        (signatures of ``functions.hashing``, 32 bands of 4 rows, estimated
        Jaccard ≥ 0.6), banded and verified here with numpy."""
        import pandas as pd

        from navgraph_osm_spark.functions.hashing import minhash_signatures_batch

        sig = np.array(minhash_signatures_batch(pd.Series(self.captions), 128, 3, self.seed))
        n = len(self.captions)
        cand = []
        for band in range(32):
            _, bucket = np.unique(sig[:, band * 4 : band * 4 + 4], axis=0, return_inverse=True)
            order = np.argsort(bucket.ravel(), kind="stable")
            for docs in np.split(order, np.flatnonzero(np.diff(bucket.ravel()[order])) + 1):
                if docs.size > 1:
                    i, j = np.triu_indices(docs.size, 1)
                    cand.append(np.minimum(docs[i], docs[j]) * n + np.maximum(docs[i], docs[j]))
        keys = np.unique(np.concatenate(cand)) if cand else np.empty(0, np.int64)
        a, b = keys // n, keys % n
        keep = (sig[a] == sig[b]).sum(axis=1) / 128 >= 0.6
        return set(zip(a[keep].tolist(), b[keep].tolist()))

    def _check_dedup(self, corrupt: bool) -> list[str]:
        """Verified pairs equal the driver-side LSH; clusters equal their
        connected components; no cluster joins two planted families."""
        errors = []
        if self.expected_pairs is None:
            self.expected_pairs = self._lsh_pairs()
        pairs = read_parquet(os.path.join(self.out, "pairs"), ["id_a", "id_b"])
        got = set(zip(pairs.column("id_a").to_pylist(), pairs.column("id_b").to_pylist()))
        if len(got) <= self.limit:
            errors.append(f"dedup: {len(got)} verified pairs, not above the {self.limit} edge limit")
        if got != self.expected_pairs:
            errors.append(f"dedup: {len(got ^ self.expected_pairs)} pairs differ from the driver-side LSH")
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                x = parent[x]
            return x

        for a, b in sorted(self.expected_pairs):
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        want = {n: find(n) for n in parent}
        cl = read_parquet(os.path.join(self.out, "clusters"))
        clusters = dict(zip(cl.column("doc_id").to_pylist(), cl.column("cluster_id").to_pylist()))
        if corrupt and clusters:
            clusters[next(iter(clusters))] = -1
        if clusters != want:
            errors.append("dedup: clusters differ from the connected components of the pairs")
        fam = {(int(self.family_of[d]), c) for d, c in clusters.items()}
        if len({c for _, c in fam}) != len(fam):
            errors.append("dedup: a cluster joins captions of two planted families")
        # planted-family recall is reported, not gated (see README)
        found: dict[int, set] = {}
        for d in np.flatnonzero(self.family_of >= 0).tolist():
            found.setdefault(int(self.family_of[d]), set()).add(clusters.get(d))
        self.info["dedup.family_recall"] = sum(
            1 for ids in found.values() if len(ids) == 1 and None not in ids
        ) / self.n_families
        return errors


WORKLOADS = {w.name: w for w in (OsmGraph, ImageCaption)}
