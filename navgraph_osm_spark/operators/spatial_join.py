"""Spatial join + raster↔vector tiling (the graft's headline operators).

Design (BASELINE.json north_star): candidate generation by **cell equi join**
— points indexed at resolution ``res``, polygons expanded to their covering
cell set — then **exact refinement**: an even-odd ray cast unrolled into
whole-stage codegen for point-in-polygon and polyfill, a shape-batched Arrow
kernel for the polygon overlay.  This reuses the reference's spatial-locality
pattern (per-pixel partitioning + border replication, reference
main.cpp:226-238, 621-708): a polygon is "replicated" into every cell it
covers, exactly like the reference's border edges are written to both
incident pixels.

Scale notes: the candidate join is a plain equi join on ``cell`` — AQE
handles skew splitting; dense city-core cells can additionally be salted /
adaptively split (operators.skew).  Covering-cell expansion is pure column
arithmetic (sequence × sequence explode), so Catalyst pushes the whole
candidate stage into codegen; of the joins, Python runs only in the overlay's
final refinement over candidate pairs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from navgraph_osm_spark.cells import cell_expr, cell_from_xy_expr, xy_expr


def assign_cells(df: DataFrame, res: int, lat: str = "lat", lng: str = "lng",
                 out: str = "cell") -> DataFrame:
    """Point rows → + hierarchical cell column (pure codegen, no Python)."""
    return df.withColumn(out, cell_expr(F.col(lat), F.col(lng), res))


def footprint_bbox(df: DataFrame, fp: str = "footprint") -> DataFrame:
    """Polygon rows → bbox columns via array higher-order functions."""
    lats = F.transform(F.col(fp), lambda p: p["lat"])
    lngs = F.transform(F.col(fp), lambda p: p["lng"])
    return (
        df.withColumn("lat_min", F.array_min(lats))
        .withColumn("lat_max", F.array_max(lats))
        .withColumn("lng_min", F.array_min(lngs))
        .withColumn("lng_max", F.array_max(lngs))
    )


def covering_cells(df: DataFrame, res: int, fp: str = "footprint",
                   out: str = "cell", keep_bbox: bool = False,
                   keep_xy: bool = False, rings: str | None = None) -> DataFrame:
    """Explode each polygon row into its bbox-covering cell ids.

    This is the raster↔vector tiling primitive: for images, the footprint's
    covering cells ARE its tile assignments.  Pure column expressions.
    ``keep_bbox=True`` retains the lat/lng min/max columns (the spatial join
    uses them as a codegen-side candidate prefilter); ``keep_xy=True``
    retains the per-cell ``cx``/``cy`` grid coordinates (the overlay join's
    responsibility-cell test compares them directly — Morton encoding is
    bijective in (x, y), so coordinate equality IS cell equality without
    re-deriving the interleave).

    ``rings`` names a ring-offsets column (``array<int>`` of ring start
    indices, as in :func:`point_in_polygon_join`): covering cells are then
    the DISTINCT UNION of per-ring bbox coverings instead of the whole
    footprint's bbox — a multipolygon with widely-separated shells covers
    only each shell's own cells rather than flooding the span between
    them.  For single-ring rows (null / ≤1 offsets) and for hole-in-outer
    donuts the set is identical to the bbox covering, so existing
    single-bbox consumers are unaffected.  The bbox columns stay the
    UNION bbox (prefilter semantics unchanged); still pure column
    expressions (nested sequence transforms + ``array_distinct``), but
    the per-row cell set materializes as one array — bounded by the
    footprint covering size, fine for image/building footprints.
    """
    df = footprint_bbox(df, fp)
    if rings is not None and rings in df.columns:
        if keep_xy:
            raise ValueError("keep_xy is not supported with per-ring coverings")
        n = F.size(F.col(fp))
        starts = F.when(
            F.col(rings).isNull() | (F.size(F.col(rings)) == 0),
            F.array(F.lit(0)),
        ).otherwise(F.col(rings))
        ends = F.concat(
            F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
            F.array(n),
        )

        def _ring_cells(b):
            sub = F.slice(F.col(fp), b["s"] + 1, b["e"] - b["s"])
            lats = F.transform(sub, lambda p: p["lat"])
            lngs = F.transform(sub, lambda p: p["lng"])
            x0, y_top = xy_expr(F.array_max(lats), F.array_min(lngs), res)
            x1, y_bot = xy_expr(F.array_min(lats), F.array_max(lngs), res)
            return F.flatten(
                F.transform(
                    F.sequence(x0, x1),
                    lambda x: F.transform(
                        F.sequence(y_top, y_bot),
                        lambda y: cell_from_xy_expr(x, y, res),
                    ),
                )
            )

        bounds = F.arrays_zip(starts.alias("s"), ends.alias("e"))
        df = df.withColumn(
            out,
            F.explode(F.array_distinct(F.flatten(F.transform(bounds, _ring_cells)))),
        )
        if not keep_bbox:
            df = df.drop("lat_min", "lat_max", "lng_min", "lng_max")
        return df
    x0, y_at_latmax = xy_expr(F.col("lat_max"), F.col("lng_min"), res)
    x1, y_at_latmin = xy_expr(F.col("lat_min"), F.col("lng_max"), res)
    # y grows north→south: lat_max → smaller y
    df = (
        df.withColumn("cx", F.explode(F.sequence(x0, x1)))
        .withColumn("cy", F.explode(F.sequence(y_at_latmax, y_at_latmin)))
        .withColumn(out, cell_from_xy_expr(F.col("cx"), F.col("cy"), res))
    )
    if not keep_xy:
        df = df.drop("cx", "cy")
    if not keep_bbox:
        df = df.drop("lat_min", "lat_max", "lng_min", "lng_max")
    return df


PER_CELL_STATS_SCHEMA = "cell long, n_rows long, avg_lat double, avg_lng double"


def per_cell_stats_grouped(points_with_cell: DataFrame) -> DataFrame:
    """Per-cell stats via ``groupBy(cell).applyInPandas`` — the grouped-map
    UDF surface (SURVEY §2.9), the Spark analogue of the reference's
    per-pixel ``tbb::parallel_for_each`` (reference main.cpp:926): one
    pandas kernel invocation per cell, each receiving that cell's full rows.

    For THIS reduction the production path is the built-in ``groupBy.agg``
    (codegen'd, map-side partial); the grouped map exists for per-cell
    kernels Spark can't express — custom geometry passes, per-cell model
    fits — and this entry keeps the surface exercised and oracled.  Skew
    note: one fat city-core cell = one big pandas batch; pair with
    operators.skew.adaptive_cell_split at scale.
    """

    def _stats(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "cell": [pdf["cell"].iloc[0]],
                "n_rows": [len(pdf)],
                "avg_lat": [pdf["lat"].mean()],
                "avg_lng": [pdf["lng"].mean()],
            }
        )

    return points_with_cell.select("cell", "lat", "lng").groupBy("cell").applyInPandas(
        _stats, schema=PER_CELL_STATS_SCHEMA
    )


def tile_assignment(images: DataFrame, res: int, dedupe: bool = False) -> DataFrame:
    """image_id → covering tile cells of its footprint.

    (image_id, cell) pairs are UNIQUE BY CONSTRUCTION — the covering-cell
    explode emits each (x, y) of the bbox grid exactly once per row — so
    the default plan is pure codegen with ZERO shuffle (the former
    ``.distinct()`` added a two-stage HashAggregate exchange for nothing;
    at 10^12 images that shuffle IS the job).  ``dedupe=True`` restores
    the aggregate for callers whose input carries duplicate image rows.
    """
    out = covering_cells(images.select("image_id", "footprint"), res).select(
        "image_id", "cell"
    )
    return out.distinct() if dedupe else out


def polygon_to_cells(
    polygons: DataFrame,
    res: int,
    poly_id: str = "poly_id",
    fp: str = "footprint",
    mode: str = "center",
    rings: str = "ring_offsets",
) -> DataFrame:
    """EXACT polyfill (H3 ``polygonToCells`` analogue): the cells of each
    footprint at resolution ``res``.

    - ``mode="center"`` (H3's semantics): cells whose CENTER lies inside
      the polygon — decided ENTIRELY IN CODEGEN by the point-in-polygon
      join's ray cast (:func:`_unrolled_ray_cast` over the closed edge
      list, built once per polygon row): bbox covering explode →
      cell-center lat/lng (pure arithmetic) → parity filter.  No
      Python, no join, no shuffle — a long diagonal sliver keeps only the
      ~O(perimeter) cells its body actually touches instead of the full
      bbox rectangle.
    - ``mode="overlap"``: the bbox covering (conservative superset,
      :func:`covering_cells` — an image overlaps every bbox cell, the
      tile-assignment semantics).
    - ``mode="exact_overlap"``: the cells whose HALF-OPEN square
      ``[k, k+1)`` (the engine's cell convention, see
      :func:`polyline_to_cells`) intersects the polygon — the union of
      the boundary's supercover (:func:`polyline_to_cells` over the
      closed ring: any cell the boundary passes through intersects) and
      the center-mode interior (a cell with no boundary crossing is
      either fully inside — its center is — or fully outside).  A
      polygon edge lying EXACTLY on a cell-grid line therefore claims
      the higher-indexed side only, not the closed-boundary neighbor
      (round-5 advice: stated convention, not a bug — buffer by an
      epsilon for closed "touches" semantics).  Both legs stay pure
      codegen; ONE distinct merges them (boundary cells re-appear in
      the interior leg only when the center also falls inside).
      Tightest possible tiling for non-rectangular footprints.

    MULTI-RING footprints (a ``rings`` column with start offsets): the
    edge list closes each ring on itself, so crossings sum across rings —
    the column twin of the numpy kernel's ``ring_starts`` — hole cells are
    excluded and separated shells each fill their own cells;
    ``exact_overlap`` rasterizes every ring's boundary.  (``mode="overlap"`` stays the
    single-bbox covering.)  Output (poly_id, cell), unique per row by
    construction.
    """
    has_rings = rings in polygons.columns
    if mode == "overlap":
        return covering_cells(polygons.select(poly_id, fp), res, fp).select(
            poly_id, "cell"
        )
    if mode == "exact_overlap":
        if has_rings:
            # one boundary row PER RING: explode ring slices, rasterize each
            n_fp = F.size(F.col(fp))
            starts = F.when(
                F.col(rings).isNull() | (F.size(F.col(rings)) == 0),
                F.array(F.lit(0)),
            ).otherwise(F.col(rings))
            ends = F.concat(
                F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
                F.array(n_fp),
            )
            b = F.explode(F.arrays_zip(starts.alias("s"), ends.alias("e")))
            ring_rows = polygons.select(F.col(poly_id), F.col(fp), b.alias("__b"))
            sub = F.slice(F.col(fp), F.col("__b.s") + 1,
                          F.col("__b.e") - F.col("__b.s"))
            boundary = polyline_to_cells(
                ring_rows.select(
                    poly_id, F.concat(sub, F.slice(sub, 1, 1)).alias("geometry")
                ),
                res, line_id=poly_id,
            ).distinct()  # seam cells shared by two rings appear once
        else:
            closed = F.concat(F.col(fp), F.slice(F.col(fp), 1, 1))
            boundary = polyline_to_cells(
                polygons.select(poly_id, closed.alias("geometry")),
                res, line_id=poly_id,
            )
        interior = polygon_to_cells(polygons, res, poly_id, fp, mode="center",
                                    rings=rings)
        return boundary.unionByName(interior).distinct()
    if mode != "center":
        raise ValueError(f"unknown mode {mode!r}")

    # closed edge list once per polygon ROW, before the covering explode
    ring_col = F.col(rings) if has_rings else None
    base = polygons.select(poly_id, fp, *([rings] if has_rings else [])).withColumn(
        "__edges", _closed_edges_expr(F.col(fp), ring_col)
    )
    if has_rings:
        # per-ring coverings would DROP hole-only candidate cells — fine:
        # hole cells are excluded by parity anyway, and separated shells
        # cover only their own cells (tight)
        cov = covering_cells(base, res, fp, keep_bbox=True, rings=rings)
        # per-ring covering path has no cx/cy: rebuild from the cell id is
        # avoidable — recompute center from cell bounds expr instead
        from navgraph_osm_spark.cells import cell_bounds_expr

        lat_min_c, lat_max_c, lng_min_c, lng_max_c = cell_bounds_expr(
            F.col("cell"), res
        )
        center_lat = (lat_min_c + lat_max_c) / F.lit(2.0)
        center_lng = (lng_min_c + lng_max_c) / F.lit(2.0)
    else:
        n = 1 << res
        cov = covering_cells(base, res, fp, keep_xy=True)
        center_lat = F.lit(90.0) - (F.col("cy") + F.lit(0.5)) * F.lit(180.0 / n)
        center_lng = (F.col("cx") + F.lit(0.5)) * F.lit(360.0 / n) - F.lit(180.0)
    return cov.filter(
        _unrolled_ray_cast(center_lat, center_lng, F.col("__edges"))
    ).select(poly_id, "cell")


def polyline_to_cells(
    lines: DataFrame,
    res: int,
    line_id: str = "way_id",
    geom: str = "geometry",
) -> DataFrame:
    """SUPERCOVER line rasterization (H3 ``gridPathCells`` made exact):
    every cell a polyline passes through at resolution ``res`` — the
    way→tile primitive for road geometry (which tiles does this road
    touch), entirely in whole-stage codegen.

    Column-walk construction, per segment: walk the integer grid columns
    the segment's x-extent spans (``sequence`` explode); within column
    ``c`` the segment occupies x ∈ [max(xs, c), min(xe, c+1)], and since
    y is linear (monotone) in x along a segment, its y-extent there is
    the interval between the y values at those two x — one more
    ``sequence`` over the rows of that interval yields the column's
    cells.  Per-way: ``zip_with`` pairs consecutive vertices into
    segments, nested transforms build each segment's cell array, a
    single ``flatten`` + ``array_distinct`` merges segments (shared
    endpoint cells appear once), then ``explode``.  No Python, no join,
    no shuffle.

    Boundary convention (HALF-OPEN, round-5 advice): cells are the
    half-open squares ``[k, k+1)`` in grid coordinates, so a segment
    running exactly ALONG a cell edge (or touching a corner) lands only
    in the higher-indexed cell — the one whose half-open interval
    contains the coordinate — not in both neighbors.  This matches the
    floor-based point-cell assignment everywhere else in the engine
    (``xy_expr``); a crossing segment still collects every cell interior
    it passes through (supercover of the open trajectory).  Callers who
    need closed-boundary "touches" semantics for grid-aligned geometry
    should buffer by an epsilon or use the bbox covering.  Longitude
    does not wrap: split antimeridian-crossing ways upstream
    (:func:`split_antimeridian` emits seam-sharing parts).
    Output (line_id, cell), unique per row by construction.
    """
    n = 1 << res
    nf = float(n)

    def _gx(p):
        return (p["lng"] + F.lit(180.0)) / F.lit(360.0) * F.lit(nf)

    def _gy(p):
        return (F.lit(90.0) - p["lat"]) / F.lit(180.0) * F.lit(nf)

    def _clamp(v):
        return F.greatest(F.lit(0).cast("long"),
                          F.least(F.lit(n - 1).cast("long"), v.cast("long")))

    def _segment_cells(p, q):
        x0, y0, x1, y1 = _gx(p), _gy(p), _gx(q), _gy(q)
        xs, xe = F.least(x0, x1), F.greatest(x0, x1)
        cs, ce = _clamp(F.floor(xs)), _clamp(F.floor(xe))

        def _col_cells(c):
            cf = c.cast("double")
            xa = F.greatest(xs, cf)
            xb = F.least(xe, cf + F.lit(1.0))
            # y at xa / xb — linear in x; vertical segments take the full
            # y-extent (the guard keeps the division unevaluated)
            vert = x1 == x0
            t_a = (xa - x0) / (x1 - x0)
            t_b = (xb - x0) / (x1 - x0)
            ya = F.when(vert, F.least(y0, y1)).otherwise(y0 + t_a * (y1 - y0))
            yb = F.when(vert, F.greatest(y0, y1)).otherwise(y0 + t_b * (y1 - y0))
            lo = _clamp(F.floor(F.least(ya, yb)))
            hi = _clamp(F.floor(F.greatest(ya, yb)))
            return F.transform(
                F.sequence(lo, hi),
                lambda yy: cell_from_xy_expr(c, yy, res),
            )

        return F.flatten(F.transform(F.sequence(cs, ce), _col_cells))

    g = F.col(geom)
    seg_cells = F.zip_with(
        F.slice(g, 1, F.size(g) - 1),
        F.slice(g, 2, F.size(g) - 1),
        _segment_cells,
    )
    # single-vertex "lines" degrade to their point cell
    point_cell = F.array(
        cell_from_xy_expr(
            _clamp(F.floor(_gx(F.element_at(g, 1)))),
            _clamp(F.floor(_gy(F.element_at(g, 1)))),
            res,
        )
    )
    all_cells = F.when(F.size(g) >= 2, F.array_distinct(F.flatten(seg_cells))).otherwise(
        point_cell
    )
    return lines.select(
        F.col(line_id), F.explode(all_cells).alias("cell")
    )


def _compact_ancestors(
    tiles: DataFrame,
    res: int,
    cell: str = "cell",
    keys: tuple[str, ...] = ("image_id",),
) -> tuple[DataFrame, DataFrame]:
    """(base, anc) stages of :func:`compact_cells` — the deduped input and
    its level-bounded ancestor explode.  Split out so the explode bound is
    testable (its row count is asserted ≤ Σ_groups m·min(res, max(1,
    floor(log4 m))) in tests)."""
    kcols = list(keys)
    base = tiles.select(*kcols, F.col(cell).alias("cell")).distinct()
    if kcols:
        from pyspark.sql import Window

        m = F.count("*").over(Window.partitionBy(*kcols))
        # epsilon guards an exact-power-of-4 count against log2 rounding
        # DOWN (which would silently skip a legitimately full level);
        # rounding UP only adds a level that can never be full (harmless)
        lvl_cap = F.greatest(
            F.lit(1),
            F.least(
                F.lit(res),
                F.floor((F.log2(m) + F.lit(1e-9)) / F.lit(2.0)).cast("int"),
            ),
        )
    else:
        lvl_cap = F.lit(res)
    # window expr materialized in a Project first (a window function cannot
    # sit inside a Generate's child expression)
    base = base.withColumn("__lvl_cap", lvl_cap)
    # (cell, lvl, ancestor) for lvl 1..min(res, log4(group size)) — bit-shift explode
    anc = base.select(
        *kcols,
        "cell",
        F.explode(F.sequence(F.lit(1), F.col("__lvl_cap"))).alias("__lvl"),
    ).withColumn("__anc", F.expr("shiftright(cell, int(__lvl * 2))"))
    return base, anc


def compact_cells(
    tiles: DataFrame,
    res: int,
    cell: str = "cell",
    keys: tuple[str, ...] = ("image_id",),
) -> DataFrame:
    """Minimal mixed-resolution covering (H3 ``compact_cells`` analogue):
    wherever all four siblings of a parent are present (per ``keys``
    group), they collapse into the parent, recursively — a tile pyramid's
    minimal representation.  Input cells are at resolution ``res``
    (a SET per keys group — duplicates are deduped first); output
    columns: keys + ``cell`` + ``cell_res``.

    ONE-SHOT set algebra, no driver loop (the former implementation ran
    ≤ ``res`` sequential collapse rounds with per-round checkpoints):
    recursive sibling collapse is equivalent to mapping every input cell
    to its HIGHEST ancestor whose full descendant block is present — an
    ancestor at ``lvl`` levels up is full iff its distinct-descendant
    count equals 4^lvl, and grandparent fullness implies parent fullness,
    so intermediate levels are automatic.  Plan: explode each cell's
    ancestors (pure bit shifts) → one count aggregation → keep
    full ancestors → max-level join back → distinct.  Three shuffles
    TOTAL at any resolution — the 100 TB shape.

    The ancestor explode is BOUNDED per group: an ancestor ``lvl`` levels
    up needs 4^lvl distinct descendants, so a group holding ``m`` cells
    can never fill an ancestor above ``floor(log4 m)`` — the explode runs
    to ``min(res, max(1, floor(log4 m)))`` levels (per-group count via one
    window over ``keys``), not to ``res``.  At fine resolutions this caps
    the pre-aggregation row blowup at the group's information content
    (log4 of its size) instead of the grid depth — e.g. res 25 with
    1k-cell groups explodes ×5, not ×25 — for one added exchange of the
    (deduped) input.  Result-invariant: levels above the bound can never
    be full, so dropping them removes no collapse.
    """
    kcols = list(keys)
    base, anc = _compact_ancestors(tiles, res, cell, keys)
    full = (
        anc.groupBy(*kcols, "__lvl", "__anc")
        .agg(F.count("*").alias("__n"))
        # count == 4^lvl → the ancestor's full block is present
        .filter(F.col("__n") == F.expr("shiftleft(1L, int(__lvl * 2))"))
        .select(*kcols, "__lvl", "__anc")
    )
    best = (
        anc.join(full, kcols + ["__lvl", "__anc"], "inner")
        .groupBy(*kcols, "cell")
        .agg(F.max("__lvl").alias("__up"))
    )
    out = (
        base.join(best, kcols + ["cell"], "left")
        .select(
            *kcols,
            F.when(
                F.col("__up").isNotNull(),
                F.expr("shiftright(cell, int(__up * 2))"),
            ).otherwise(F.col("cell")).alias("cell"),
            F.coalesce(F.lit(res) - F.col("__up"), F.lit(res)).cast("int").alias(
                "cell_res"
            ),
        )
        .distinct()
    )
    return out


def uncompact_cells(
    compacted: DataFrame,
    to_res: int,
    cell: str = "cell",
    res_col: str = "cell_res",
) -> DataFrame:
    """Inverse of :func:`compact_cells`: every (cell, cell_res) row
    explodes into its 4^(to_res−cell_res) descendants at ``to_res`` —
    pure column expressions (sequence explode + bit shifts)."""
    # shift amounts are COLUMNS (per-row res), so the shifts go through SQL
    # expr (the python shiftleft helper only takes literal bit counts)
    count = F.expr(f"shiftleft(1L, int(({to_res} - {res_col}) * 2))")
    other = [c for c in compacted.columns if c not in (cell, res_col)]
    return (
        compacted.withColumn(
            "__i", F.explode(F.sequence(F.lit(0).cast("long"), (count - 1).cast("long")))
        )
        .select(
            *other,
            (
                F.expr(f"shiftleft({cell}, int(({to_res} - {res_col}) * 2))")
                + F.col("__i")
            ).alias(cell),
        )
    )


def polygon_intersection_join(
    a_polys: DataFrame,
    b_polys: DataFrame,
    res: int,
    a_id: str = "a_id",
    b_id: str = "b_id",
    fp: str = "footprint",
    exact: bool = True,
    rings: str = "ring_offsets",
) -> DataFrame:
    """Polygon ⋈ polygon OVERLAY join: pairs whose footprints intersect —
    the fourth classic spatial join next to containment (PIP), nearest
    (kNN) and range (distance_join).

    The exact refinement is the Arrow shape-batched numpy kernel (step 4)
    rather than a codegen expression as in the point-in-polygon join: the
    pairwise overlap test is quadratic in vertices, and a column-expression
    form measured slower at sf1.0 (5.2 s vs 2.9 s — ~50 guarded terms per
    candidate in the join stage vs one vectorized kernel per shape batch).

    Plan (candidate work JVM-side):

    1. both sides explode to covering cells; equi join on ``cell``;
    2. codegen bbox-overlap prefilter (closed intervals);
    3. **dedup-free responsibility cell**: a pair's bboxes share many
       cells, so the join would emit it once per shared cell — instead the
       pair is kept only where the join cell equals the cell of the
       intersection-bbox corner ``(max(lat_mins), max(lng_mins))``, which
       lies in both coverings exactly once.  No distinct, no shuffle.
       The test compares GRID COORDINATES, not re-derived Morton ids:
       each side carries its bbox corner's ``(x, y)`` (one FLOOR each,
       computed before the join) and the covering row's ``(cx, cy)``;
       since ``x(·)``/``y(·)`` are monotone, ``x(max(lng_mins)) =
       max(x0s)`` exactly, so ``cx == greatest(x0s) AND cy ==
       least(ymaxs)`` is bit-equivalent to the cell equality — without
       this the full bit-interleave lands inside the SortMergeJoin
       condition and evaluates per joined row (measured 2.7× the whole
       join's cost at 10k×10k dense).
    4. exact refinement (vertex-in-other ∪ proper edge crossing) in an
       Arrow batch: pairs are rebalanced on the pair hash (the cell
       join's skew does not reach Python) and batched BY VERTEX-COUNT
       SHAPE so one vectorized
       :func:`functions.geo.polygons_intersect_pairwise_np` call covers a
       whole shape group instead of a Python dispatch per pair.

    Boundary semantics: shared-boundary-only contact (no interior
    overlap, no crossing) reports False — the even-odd convention of the
    underlying kernels.

    Multi-ring inputs: when either table carries a ``rings`` column
    (``array<int>`` ring start offsets, as in
    :func:`point_in_polygon_join`), those rows refine with ring-summed
    even-odd containment and per-ring edge lists — a B entirely inside
    A's HOLE reports False.  The candidate stage keeps the UNION-bbox
    covering on purpose: the dedup-free responsibility corner must lie in
    both coverings, which per-ring coverings of separated shells cannot
    guarantee.  Single-ring rows keep the shape-batched fast kernel.
    """
    from navgraph_osm_spark.sources.tables import spread_scan

    has_ar = rings in a_polys.columns
    has_br = rings in b_polys.columns
    a_cols = [F.col(a_id), F.col(fp).alias("__a_fp")] + (
        [F.col(rings).alias("__a_rings")] if has_ar else []
    )
    b_cols = [F.col(b_id), F.col(fp).alias("__b_fp")] + (
        [F.col(rings).alias("__b_rings")] if has_br else []
    )
    a_src = spread_scan(a_polys.select(*a_cols))
    b_src = spread_scan(b_polys.select(*b_cols))
    ca = covering_cells(
        a_src,
        res, "__a_fp", keep_bbox=True, keep_xy=True,
    ).select(
        a_id, "__a_fp", "cell", "cx", "cy",
        *(["__a_rings"] if has_ar else []),
        F.col("lat_min").alias("a_lat_min"), F.col("lat_max").alias("a_lat_max"),
        F.col("lng_min").alias("a_lng_min"), F.col("lng_max").alias("a_lng_max"),
    )
    a_rx, a_ry = xy_expr(F.col("a_lat_min"), F.col("a_lng_min"), res)
    ca = ca.withColumn("__a_rx", a_rx).withColumn("__a_ry", a_ry)
    cb = covering_cells(
        b_src,
        res, "__b_fp", keep_bbox=True,
    ).select(
        b_id, "__b_fp", "cell",
        *(["__b_rings"] if has_br else []),
        F.col("lat_min").alias("b_lat_min"), F.col("lat_max").alias("b_lat_max"),
        F.col("lng_min").alias("b_lng_min"), F.col("lng_max").alias("b_lng_max"),
    )
    b_rx, b_ry = xy_expr(F.col("b_lat_min"), F.col("b_lng_min"), res)
    cb = cb.withColumn("__b_rx", b_rx).withColumn("__b_ry", b_ry)
    # responsibility cell of the pair = cell of (max(lat_mins),
    # max(lng_mins)); x is monotone in lng and y anti-monotone in lat, so
    # its grid coords are (greatest of the x0s, least of the y-at-lat-min
    # coords) — tiny integer comparisons in the join condition instead of
    # the Morton interleave of cell_expr (see docstring step 3)
    cand = (
        ca.join(cb, "cell")
        .filter(
            (F.col("a_lat_min") <= F.col("b_lat_max"))
            & (F.col("b_lat_min") <= F.col("a_lat_max"))
            & (F.col("a_lng_min") <= F.col("b_lng_max"))
            & (F.col("b_lng_min") <= F.col("a_lng_max"))
        )
        .filter(
            (F.col("cx") == F.greatest("__a_rx", "__b_rx"))
            & (F.col("cy") == F.least("__a_ry", "__b_ry"))
        )
    )
    if not exact:
        return cand.select(a_id, b_id)
    sel_cols = [
        F.col(a_id),
        F.col(b_id),
        F.transform("__a_fp", lambda p: p["lat"]).alias("__alat"),
        F.transform("__a_fp", lambda p: p["lng"]).alias("__alng"),
        F.transform("__b_fp", lambda p: p["lat"]).alias("__blat"),
        F.transform("__b_fp", lambda p: p["lng"]).alias("__blng"),
    ]
    if has_ar:
        sel_cols.append(F.col("__a_rings"))
    if has_br:
        sel_cols.append(F.col("__b_rings"))
    sel = cand.select(*sel_cols)
    # refinement input inherits the cell join's skew (dense cells emit most
    # candidate pairs); the kernel is row-independent, so rebalance on the
    # pair hash before the Python stage — AQE sizes the shuffle output
    sel = sel.repartition(F.xxhash64(F.col(a_id), F.col(b_id)))
    dtypes = dict(sel.dtypes)
    out_schema = f"{a_id} {dtypes[a_id]}, {b_id} {dtypes[b_id]}"

    def _kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from navgraph_osm_spark.functions.geo import (
            polygons_intersect_np,
            polygons_intersect_pairwise_np,
        )

        def _nrings(col, i):
            v = col[i]
            return 1 if v is None or len(v) <= 1 else len(v)

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pdf[[a_id, b_id]]
                continue
            alat = pdf["__alat"].to_numpy()
            alng = pdf["__alng"].to_numpy()
            blat = pdf["__blat"].to_numpy()
            blng = pdf["__blng"].to_numpy()
            ar = pdf["__a_rings"].to_numpy() if has_ar else None
            br = pdf["__b_rings"].to_numpy() if has_br else None
            keep = np.zeros(n, dtype=bool)
            multi = np.zeros(n, dtype=bool)
            if ar is not None:
                multi |= np.fromiter(
                    (_nrings(ar, i) > 1 for i in range(n)), bool, n
                )
            if br is not None:
                multi |= np.fromiter(
                    (_nrings(br, i) > 1 for i in range(n)), bool, n
                )
            # multi-ring rows: per-pair kernel with ring-aware refinement
            for i in np.flatnonzero(multi):
                keep[i] = polygons_intersect_np(
                    np.asarray(alat[i]), np.asarray(alng[i]),
                    np.asarray(blat[i]), np.asarray(blng[i]),
                    a_rings=ar[i] if ar is not None else None,
                    b_rings=br[i] if br is not None else None,
                )
            # single-ring rows: batch by vertex-count shape — one
            # vectorized kernel call per (|A|, |B|) group
            single = np.flatnonzero(~multi)
            if single.size:
                na = np.fromiter((len(alat[i]) for i in single), np.int64,
                                 single.size)
                nb = np.fromiter((len(blat[i]) for i in single), np.int64,
                                 single.size)
                shape_key = na * (nb.max() + 1) + nb
                order = np.argsort(shape_key, kind="stable")
                skey = shape_key[order]
                starts = np.flatnonzero(
                    np.concatenate(([True], skey[1:] != skey[:-1]))
                )
                bounds = np.append(starts, single.size)
                for s, e in zip(bounds[:-1], bounds[1:]):
                    idx = single[order[s:e]]
                    keep[idx] = polygons_intersect_pairwise_np(
                        np.stack(alat[idx]), np.stack(alng[idx]),
                        np.stack(blat[idx]), np.stack(blng[idx]),
                    )
            yield pdf[keep][[a_id, b_id]]

    return sel.mapInPandas(_kernel, schema=out_schema)


def clip_ring_at_meridian_np(lats: np.ndarray, lngs: np.ndarray):
    """Split a ring STRADDLING ±180° into (west_ring, east_ring) via a
    Sutherland–Hodgman clip at the seam.

    Works in shifted space (negative longitudes +360 → the ring is
    continuous around 180); the west part keeps its coordinates, the east
    part maps back by −360.  Returns ``None`` when the ring does not
    straddle (max−min ≤ 180°).  Either output may be empty (ring entirely
    on one side after normalization).
    """
    lats = np.asarray(lats, dtype=np.float64)
    lngs = np.asarray(lngs, dtype=np.float64)
    if lngs.size == 0 or (lngs.max() - lngs.min()) <= 180.0:
        return None
    sh = np.where(lngs < 0.0, lngs + 360.0, lngs)

    def _clip(keep_west: bool):
        out_lat: list[float] = []
        out_lng: list[float] = []
        n = sh.size
        for i in range(n):
            j = (i + 1) % n
            a_in = (sh[i] <= 180.0) if keep_west else (sh[i] >= 180.0)
            b_in = (sh[j] <= 180.0) if keep_west else (sh[j] >= 180.0)
            if a_in:
                out_lat.append(lats[i])
                out_lng.append(sh[i])
            if a_in != b_in:  # edge crosses the seam: interpolate at 180
                t = (180.0 - sh[i]) / (sh[j] - sh[i])
                out_lat.append(lats[i] + (lats[j] - lats[i]) * t)
                out_lng.append(180.0)
        ol = np.array(out_lng)
        if not keep_west:
            ol = ol - 360.0
        return np.array(out_lat), ol

    return _clip(True), _clip(False)


def split_antimeridian(
    polygons: DataFrame, poly_id: str = "poly_id", fp: str = "footprint",
    rings: str = "ring_offsets",
) -> DataFrame:
    """Preprocess a polygon table so no footprint straddles ±180°.

    Straddling rows (lng span > 180° — the GeoJSON heuristic) are clipped
    at the seam into up to two rows SHARING the polygon id; everything
    else passes through untouched.  The split output composes with
    :func:`point_in_polygon_join` / :func:`tile_assignment` unchanged: a
    point lies in at most one shell so pairs stay unique, and each
    shell's bbox is tight — without the split, a Fiji-straddling
    footprint's bbox spans nearly all longitudes and covering-cell
    expansion degenerates to a full cell row (see SCALE.md).  Dim-table
    transform (Arrow-batched, not a hot path).

    MULTI-RING rows (a ``rings`` column, when present): every ring is
    clipped independently at the seam; each side's surviving ring parts
    (outer part first, then hole parts — a hole lies inside its outer,
    so its west part lies inside the outer's west part) reassemble into
    that side's row with rebuilt ring offsets.  A side with no
    outer-ring part emits nothing.
    """
    has_rings = rings in polygons.columns
    cols = [poly_id, fp] + ([rings] if has_rings else [])
    schema = polygons.select(*cols).schema

    def _split_row(footprint, offsets):
        """→ list of (footprint_list, offsets_list|None) output rows."""
        la = np.array([p["lat"] for p in footprint])
        ln = np.array([p["lng"] for p in footprint])
        starts = (
            [int(s) for s in offsets]
            if offsets is not None and len(offsets) > 1
            else [0]
        )
        bounds = starts + [la.size]
        ring_arrays = [
            (la[a:b], ln[a:b]) for a, b in zip(bounds[:-1], bounds[1:])
        ]
        if all(
            rl.size == 0 or (rn.max() - rn.min()) <= 180.0
            for rl, rn in ring_arrays
        ):
            return [(list(footprint), offsets)]  # nothing straddles
        sides: list[list[tuple[np.ndarray, np.ndarray]]] = [[], []]
        for ri, (rl, rn) in enumerate(ring_arrays):
            parts = clip_ring_at_meridian_np(rl, rn)
            if parts is None:
                # non-straddling ring: attach whole to the side its
                # longitudes lie on (shifted-space test, same convention
                # as the clip)
                side = 0 if (np.where(rn < 0, rn + 360.0, rn) <= 180.0).all() else 1
                sides[side].append((rl, rn))
                continue
            for side, (plat, plng) in enumerate(parts):
                if plat.size >= 3:
                    sides[side].append((plat, plng))
        out = []
        for side_rings in sides:
            if not side_rings:
                continue
            flat = [
                {"lat": float(a), "lng": float(b)}
                for rl, rn in side_rings
                for a, b in zip(rl, rn)
            ]
            offs, acc = [], 0
            for rl, _rn in side_rings:
                offs.append(acc)
                acc += rl.size
            out.append((flat, offs if len(offs) > 1 else None))
        return out

    def _kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            fps: list = []
            offs_out: list = []
            offsets_col = pdf[rings] if has_rings else None
            for i, (pid, footprint) in enumerate(zip(pdf[poly_id], pdf[fp])):
                offsets = offsets_col.iloc[i] if offsets_col is not None else None
                if offsets is not None and len(offsets) == 0:
                    offsets = None
                for flat, offs in _split_row(footprint, offsets):
                    ids.append(pid)
                    fps.append(flat)
                    offs_out.append(offs)
            data = {poly_id: ids, fp: pd.Series(fps, dtype="object")}
            if has_rings:
                data[rings] = pd.Series(offs_out, dtype="object")
            yield pd.DataFrame(data)

    return polygons.select(*cols).mapInPandas(_kernel, schema=schema)


def _is_axis_rect_expr(fp_col, lat_min, lat_max, lng_min, lng_max):
    """True iff the footprint is exactly its bounding box (axis-aligned
    rectangle traversed in perimeter order, optionally explicitly closed
    with a 5th vertex == the 1st).  For such footprints the even-odd
    interior equals the half-open bbox, so the exact refinement can be
    decided in codegen — the raster↔vector tiling case (rectangular image
    footprints) then never touches Python.

    Conditions: 4 distinct vertices, every vertex on a bbox corner,
    consecutive vertices (cyclically) differ in exactly one coordinate
    (excludes bowtie orders, whose even-odd interior is not the box),
    non-degenerate bbox.

    Codegen note: vertex access goes through flat ``array<double>``
    projections (``transform(fp, p→p.lat)``) and ``try_element_at`` on
    those, NOT ``try_element_at(fp, i)["lat"]`` struct-field chains — the
    two-level null tracking of GetStructField-over-TryElementAt under
    common-subexpression elimination trips a Janino bug (`Expression
    "isNull_*" is not an rvalue`) and Spark silently falls back to
    interpreted Predicates.  The flat-array form compiles clean even after
    Catalyst's filter pushdown inlines the whole expression into one
    predicate (regression-tested with codegen factoryMode=CODEGEN_ONLY).
    """
    lats = F.transform(fp_col, lambda p: p["lat"])
    lngs = F.transform(fp_col, lambda p: p["lng"])
    n = F.size(fp_col)
    pa = [F.try_element_at(lats, F.lit(i)) for i in (1, 2, 3, 4, 5)]
    po = [F.try_element_at(lngs, F.lit(i)) for i in (1, 2, 3, 4, 5)]
    closed5 = (n == 5) & (pa[0] == pa[4]) & (po[0] == po[4])
    size_ok = (n == 4) | closed5
    on_corner = None
    for i in range(4):
        c = ((pa[i] == lat_min) | (pa[i] == lat_max)) & (
            (po[i] == lng_min) | (po[i] == lng_max)
        )
        on_corner = c if on_corner is None else on_corner & c
    steps_ok = None
    for i in range(4):
        j = (i + 1) % 4
        one_coord = (
            (pa[i] == pa[j]).cast("int") + (po[i] == po[j]).cast("int")
        ) == 1
        steps_ok = one_coord if steps_ok is None else steps_ok & one_coord
    distinct_ok = None
    for i in range(4):
        for j in range(i + 1, 4):
            ne = (pa[i] != pa[j]) | (po[i] != po[j])
            distinct_ok = ne if distinct_ok is None else distinct_ok & ne
    return F.coalesce(
        size_ok
        & on_corner
        & steps_ok
        & distinct_ok
        & (lat_min < lat_max)
        & (lng_min < lng_max),
        F.lit(False),
    )


def _closed_edges_expr(fp_col, rings_col):
    """Per-ring CLOSED edge list of a footprint as
    ``array<struct<y1,x1,y2,x2>>`` — each ring closes onto its own first
    vertex, no cross-ring edges (column twin of
    :func:`functions.geo._ring_edges_np`).  Evaluated once per POLYGON row
    (before the covering-cell explode), so the per-candidate refinement
    can be plain codegen arithmetic over ``element_at`` accesses."""
    n = F.size(fp_col)
    if rings_col is None:
        starts = F.array(F.lit(0))
    else:
        starts = F.when(
            rings_col.isNull() | (F.size(rings_col) == 0), F.array(F.lit(0))
        ).otherwise(rings_col)
    ends = F.concat(
        F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
        F.array(n),
    )
    bounds = F.filter(
        F.arrays_zip(starts.alias("s"), ends.alias("e")),
        lambda b: b["e"] > b["s"],
    )

    def _edge(i, s, e):
        j = F.when(i + 1 == e, s).otherwise(i + 1)
        p = F.element_at(fp_col, (i + 1).cast("int"))
        q = F.element_at(fp_col, (j + 1).cast("int"))
        return F.struct(
            p["lat"].alias("y1"), p["lng"].alias("x1"),
            q["lat"].alias("y2"), q["lng"].alias("x2"),
        )

    return F.flatten(
        F.transform(
            bounds,
            lambda b: F.transform(
                F.sequence(b["s"], b["e"] - 1), lambda i: _edge(i, b["s"], b["e"])
            ),
        )
    )


def _edge_crossing_term(lat_col, lng_col, y1, x1, y2, x2):
    """One edge's contribution to the even-odd crossing count — the numpy
    kernel's EXACT float expression (``points_in_polygon_np``): crossing
    guard first, strict-``<`` intercept second, both lazily (the division
    is unreachable when the guard is false, and the guard implies
    ``y1 != y2``)."""
    crosses = (y1 > lat_col) != (y2 > lat_col)
    xint = x1 + (lat_col - y1) / (y2 - y1) * (x2 - x1)
    return F.when(
        crosses, F.when(lng_col < xint, F.lit(1)).otherwise(F.lit(0))
    ).otherwise(F.lit(0))


def _unrolled_ray_cast(lat_col, lng_col, edges_col, max_unrolled: int = 16):
    """Even-odd ray cast over a precomputed closed edge list, UNROLLED so
    the per-candidate work is whole-stage-codegen arithmetic (higher-order
    functions are CodegenFallback — interpreted per row — which measured
    ~5× slower than the numpy kernel path on dense candidate sets; the
    unrolled form beats both).  Edges beyond ``max_unrolled`` fall through
    to one lazily-evaluated ``aggregate`` tail, so any vertex count stays
    correct while typical footprints never leave codegen."""
    sz = F.size(edges_col)
    total = F.lit(0)
    for k in range(max_unrolled):
        ed = F.element_at(edges_col, k + 1)
        total = total + F.when(
            F.lit(k) < sz,
            _edge_crossing_term(
                lat_col, lng_col, ed["y1"], ed["x1"], ed["y2"], ed["x2"]
            ),
        ).otherwise(F.lit(0))
    tail = F.aggregate(
        F.slice(
            edges_col, max_unrolled + 1, F.greatest(sz - max_unrolled, F.lit(0))
        ),
        F.lit(0),
        lambda acc, ed: acc
        + _edge_crossing_term(
            lat_col, lng_col, ed["y1"], ed["x1"], ed["y2"], ed["x2"]
        ),
    )
    total = total + F.when(sz > max_unrolled, tail).otherwise(F.lit(0))
    return F.pmod(total, F.lit(2)) == 1


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int,
    point_id: str = "point_id",
    poly_id: str = "poly_id",
    lat: str = "lat",
    lng: str = "lng",
    fp: str = "footprint",
    exact: bool = True,
    rings: str = "ring_offsets",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Points ⋈ polygons containment join.

    ``carry`` lists extra POINT-side columns passed through to the output
    (e.g. an event timestamp for the streaming geofence aggregation) —
    they ride along the candidate join and refinement without affecting
    the join logic.

    Multi-ring polygons (holes / OSM multipolygon shells): when the
    polygon table carries a ``rings`` column (``array<int>`` of ring start
    offsets into the flat footprint, e.g. ``[0, 4]`` for a donut; null or
    single-entry = plain polygon), the refinement sums ray crossings across
    rings — even-odd parity excludes hole interiors.  Multi-ring rows are
    never rect-fast-pathed.

    Plan (the whole join JVM-side):

    1. candidates: equi join on cell (point cell vs polygon covering cells);
    2. **bbox prefilter in codegen** — half-open bounds chosen to match the
       ray cast's boundary convention exactly (a point at lat_max/lng_max
       can never be inside; at lat_min/lng_min it can);
    3. **rectangle fast path** — footprints that are exactly their bbox
       (detected per row, see :func:`_is_axis_rect_expr`) are decided by the
       prefilter alone;
    4. non-rectangular bbox survivors refine through the even-odd ray cast
       :func:`_unrolled_ray_cast` over the closed edge list built once per
       polygon row (the float-exact twin of
       :func:`functions.geo.points_in_polygon_np`) — no Python stage, and
       the candidate join is planned once.

    Output pairs are unique by construction (a point lies in exactly one
    cell at ``res`` and each polygon covers a cell at most once), so there is
    no distinct — no extra shuffle of the result.
    """
    from navgraph_osm_spark.sources.tables import spread_scan

    has_rings = rings in polygons.columns
    single_ring = (
        (F.col(rings).isNull() | (F.size(F.col(rings)) <= 1))
        if has_rings
        else F.lit(True)
    )
    poly_cols = [poly_id, fp] + ([rings] if has_rings else [])
    # candidate generation + refinement run inside the point side's scan
    # tasks when the polygon side broadcasts — spread an unsplittable
    # single-file point input (no-op on parallel scans)
    pts = assign_cells(
        spread_scan(points.select(point_id, lat, lng, *carry)), res, lat, lng
    )
    # the covering explode + (as the probe side of a broadcast join) the
    # whole candidate/refinement pipeline run inside the polygon side's
    # scan tasks — spread that too (no-op on already-parallel scans)
    poly_src = spread_scan(polygons.select(*poly_cols))
    if exact:
        # closed edge list once per polygon ROW (pre-explode); the raw
        # footprint is then prunable from the covering explode + join
        poly_src = poly_src.withColumn(
            "__edges",
            _closed_edges_expr(F.col(fp), F.col(rings) if has_rings else None),
        )
    # per-ring coverings when a rings column exists: separated multipolygon
    # shells cover only their own cells (hole-in-outer rows are unchanged —
    # the hole's cells are a subset of the outer covering)
    polys = covering_cells(
        poly_src, res, fp, keep_bbox=True,
        rings=rings if has_rings else None,
    )
    # rect detection evaluated on the (small) polygon-cell side, not per
    # candidate pair; a multi-ring footprint is never a plain rectangle
    polys = polys.withColumn(
        "__rect",
        _is_axis_rect_expr(
            F.col(fp), F.col("lat_min"), F.col("lat_max"),
            F.col("lng_min"), F.col("lng_max"),
        )
        & single_ring,
    )

    cand = pts.join(polys, "cell").filter(
        (F.col(lat) >= F.col("lat_min"))
        & (F.col(lat) < F.col("lat_max"))
        & (F.col(lng) >= F.col("lng_min"))
        & (F.col(lng) < F.col("lng_max"))
    )
    if not exact:
        return cand.select(point_id, poly_id, *carry)
    inside = F.when(F.col("__rect"), F.lit(True)).otherwise(
        _unrolled_ray_cast(F.col(lat), F.col(lng), F.col("__edges"))
    )
    return cand.filter(inside).select(point_id, poly_id, *carry)
