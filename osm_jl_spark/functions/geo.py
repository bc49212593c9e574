"""Geometry kernels: exact point-in-polygon (native column
expressions), polygon cell covers, and coordinate transforms.

PIP reproduces the reference's even-odd ray casting bit-for-bit
(/root/reference/src/coords.jl:69-78): closing edge first, strict
``>`` / ``<`` comparisons, open ring. It is built from Spark column
expressions with no Python at run time, in two shapes: an unrolled
per-edge sum with the edges as literals (:func:`pip_ring_expr`, the
small-polygon-set path) and an ``F.aggregate`` fold over a broadcast
edge array (:func:`pip_edges_fold_expr`, the many-polygon path).
``oracle.point_in_polygon`` is the scalar reference both are tested
against.

The scale story (SURVEY.md §4 custom work #1): computing exact PIP for
every (point, polygon) pair is O(N·P·V) and unusable at 10^12 docs.
``cell_cover`` classifies each grid cell of a polygon's bbox as FULL
(entirely inside) or BOUNDARY (edge passes through); the spatial join
then broadcast-joins points to cover cells on (cx, cy) — a native
hash join Catalyst handles — accepts FULL matches outright, and runs
the exact test only on BOUNDARY candidates, typically <5% of matches.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from osm_jl_spark.oracle import point_in_polygon

Ring = list[tuple[float, float]]


def ring_edges(ring: Ring) -> list[tuple[float, float, float, float]]:
    """Edges (ax, ay, bx, by) as doubles with the closing edge first,
    matching ``zip([P[end]; P[1:end-1]], P)`` (src/coords.jl:70)."""
    return [
        (float(ring[i - 1][0]), float(ring[i - 1][1]),
         float(ring[i][0]), float(ring[i][1]))
        for i in range(len(ring))
    ]


def pip_ring_expr(ring: Ring, lon, lat):
    """NATIVE even-odd test for one ring: the crossing count UNROLLED
    into a flat sum of per-edge scalar expressions — same strict
    comparisons and edge order as src/coords.jl:69-78.

    Unrolled (not an ``F.aggregate`` fold) on purpose: Spark's
    higher-order functions have NO whole-stage codegen and evaluate
    interpreted per row — measured ~7x slower on the sf0.1 PIP join.
    Rings are small (the polygon dim is broadcast-scale), so the flat
    expression stays well inside codegen limits. Edge constants are
    literals; ``(lat - ay) / (by - ay) * (bx - ax)`` keeps the exact
    IEEE op order of the reference (constant subexpressions fold to
    the same doubles), so bit-parity with the oracle port holds —
    pinned by tests. The division is ``try_divide``: by == ay
    only on horizontal edges, where ``crosses`` is always false, but
    under ANSI mode a bare / would raise DIVIDE_BY_ZERO if an
    optimizer reordering ever evaluated it first — try_divide yields
    NULL there and ``false & NULL = false``, safe in ANY evaluation
    order (identical quotient on every crossing edge).
    """
    total = F.lit(0)
    for ax, ay, bx, by in ring_edges(ring):
        crosses = (F.lit(ay) > lat) != (F.lit(by) > lat)
        x = F.lit(ax) + F.try_divide(
            lat - F.lit(ay), F.lit(by) - F.lit(ay)
        ) * (F.lit(bx) - F.lit(ax))
        total = total + F.when(crosses & (x < lon), 1).otherwise(0)
    return total % 2 == 1


def pip_edges_fold_expr(lon, lat, edges):
    """Even-odd test as an ``F.aggregate`` fold over an edge ARRAY
    column (struct ax, ay, bx, by per edge) — the LARGE-polygon-set
    path. Higher-order functions evaluate interpreted (no codegen),
    but the work per row is O(edges of ITS polygon) with no branch
    dispatch, and the plan size is constant in the number of polygons
    — where the unrolled CASE of pip_test_or_full_expr walks an
    N-polygon branch chain and inflates the plan/codegen unit until
    it falls out of JIT entirely (measured: the 96-square grid
    workload spent ~1.7s/15k rows in the CASE where this fold is
    ~10x cheaper). Same strict comparisons, same IEEE op order, same
    try_divide guard as pip_ring_expr — bit-parity preserved.
    """
    def step(acc, e):
        crosses = (e["ay"] > lat) != (e["by"] > lat)
        x = e["ax"] + F.try_divide(lat - e["ay"], e["by"] - e["ay"]) * (
            e["bx"] - e["ax"]
        )
        return acc + F.when(crosses & (x < lon), 1).otherwise(0)

    return F.aggregate(edges, F.lit(0), step) % 2 == 1


def pip_test_or_full_expr(polygons: dict[int, Ring], lon, lat, pid, is_full):
    """NATIVE single-pass cover-join test: FULL cells short-circuit to
    true, boundary cells run the per-polygon unrolled even-odd
    expression (dispatched by a CASE over the small polygon set;
    see pip_ring_expr for why it is unrolled, not a fold). Used up to
    joins.UNROLL_LIMIT polygons; larger sets take pip_edges_fold_expr.
    """
    if not polygons:  # no CASE to build; only FULL cells can match
        return is_full
    branch = None
    for p, ring in sorted(polygons.items()):
        inside = pip_ring_expr(ring, lon, lat)
        cond = pid == F.lit(p)
        branch = (
            F.when(cond, inside) if branch is None else branch.when(cond, inside)
        )
    return is_full | F.coalesce(branch, F.lit(False))


# ------------------------------------------------------------ cell cover

# Single source of truth for the driver-side cover enumeration budget:
# a cover row costs ~60 B broadcast, so 250k rows ~ 15 MB per polygon.
# Shared by cell_cover, joins.nodes_in_polygons (which pre-tests the
# bbox and routes over-budget polygons to the broadcast cell-RANGE
# join) and tiling.vector_to_raster (which enumerates over-budget
# covers DISTRIBUTEDLY via sequence+explode). Keeping one constant is
# the point: round 3 duplicated the value in joins.py, and a drift
# would have let a continent polygon slip past the guard into the
# driver-side enumeration below.
COVER_BUDGET = 250_000


class CoverBudgetError(ValueError):
    """A polygon's bbox exceeds the driver-side cell enumeration
    budget. Callers must route such polygons to a range representation
    (joins.py's broadcast cell-range join; tiling.py's distributed
    sequence-explode raster) instead of enumerating cells on the
    driver — a world polygon at precision 2 is ~648M cells."""


def cell_bbox_range(
    ring: Ring, precision: int
) -> tuple[int, int, int, int]:
    """(xlo, xhi, ylo, yhi) trunc-cell bounds of the ring's bbox — the
    O(1)-size range marker used instead of an enumerated cover when a
    polygon is over budget."""
    step = 10**-precision
    xs = [v[0] for v in ring]
    ys = [v[1] for v in ring]
    return (
        math.trunc(min(xs) / step),
        math.trunc(max(xs) / step),
        math.trunc(min(ys) / step),
        math.trunc(max(ys) / step),
    )


def cell_cover(
    ring: Ring, precision: int, max_cells: int = COVER_BUDGET
) -> tuple[set[tuple[int, int]], set[tuple[int, int]]]:
    """Classify the polygon's bbox cells: (full_cells, boundary_cells).

    BOUNDARY = any cell whose area an edge's bbox touches (conservative
    superset of edge-crossed cells). FULL = untouched bbox cell whose
    center is inside (even-odd is constant across an edge-free cell, so
    the center decides the whole cell).

    Raises :class:`CoverBudgetError` when the bbox exceeds
    ``max_cells``: this function enumerates cells into driver-side
    Python sets, and the pre-round-4 fallback ("everything is
    boundary" over the bbox) enumerated the very set the budget
    existed to prevent — ~GB of driver heap for a world polygon.
    Callers with big polygons must use :func:`cell_bbox_range` and a
    range-predicate join (joins.py) or distributed enumeration
    (tiling.py) instead.
    """
    step = 10**-precision
    xlo, xhi, ylo, yhi = cell_bbox_range(ring, precision)
    nx, ny = xhi - xlo + 1, yhi - ylo + 1
    if nx * ny > max_cells:
        raise CoverBudgetError(
            f"polygon bbox covers {nx}x{ny} = {nx * ny} cells at "
            f"precision {precision}, over the {max_cells}-cell budget; "
            "use cell_bbox_range + a range join / distributed "
            "enumeration"
        )

    boundary: set[tuple[int, int]] = set()
    n = len(ring)
    for i in range(n):
        a, b = ring[i - 1], ring[i]
        exlo = math.trunc(min(a[0], b[0]) / step)
        exhi = math.trunc(max(a[0], b[0]) / step)
        eylo = math.trunc(min(a[1], b[1]) / step)
        eyhi = math.trunc(max(a[1], b[1]) / step)
        # negative coords: trunc of the continuous span can start one
        # cell late; widen by one on the low side for safety
        for cx in range(exlo - 1, exhi + 1):
            for cy in range(eylo - 1, eyhi + 1):
                boundary.add((cx, cy))

    full: set[tuple[int, int]] = set()
    for cx in range(xlo, xhi + 1):
        for cy in range(ylo, yhi + 1):
            if (cx, cy) in boundary:
                continue
            center = ((cx + 0.5) * step, (cy + 0.5) * step)
            # trunc cells straddle zero; center formula only valid for
            # cx>=0 — for negative cells the cell spans ((cx-?)…); use
            # midpoint of the actual trunc-preimage interval
            if cx < 0:
                center = ((cx - 0.5) * step, center[1])
            if cy < 0:
                center = (center[0], (cy - 0.5) * step)
            if point_in_polygon(center[0], center[1], ring):
                full.add((cx, cy))
    return full, boundary & {
        (cx, cy) for cx in range(xlo, xhi + 1) for cy in range(ylo, yhi + 1)
    }


# ----------------------------------------------------- coordinate math


def with_ecef(df, lon: str = "lon", lat: str = "lat", h=None):
    """Geodetic -> ECEF as native column math (WGS84).

    The reference's ECEF (src/coords.jl:26-46) squares an ``e`` that is
    already the first eccentricity squared (``e = 1 - Rp^2/Re^2``,
    src/coords.jl:32), i.e. it uses e^4 — a known deviation from WGS84
    (SURVEY.md §2.8 C3). We implement standard WGS84 (e2 used once);
    nothing downstream in the reference consumes ECEF, so no fixture
    depends on the buggy constant.
    """
    re_ = 6378137.0
    rp = 6356752.3
    e2 = 1.0 - (rp * rp) / (re_ * re_)
    phi = F.radians(F.col(lat))
    lam = F.radians(F.col(lon))
    hh = F.lit(0.0) if h is None else F.col(h)
    n = F.lit(re_) / F.sqrt(F.lit(1.0) - F.lit(e2) * F.sin(phi) * F.sin(phi))
    return (
        df.withColumn("ecef_x", (n + hh) * F.cos(phi) * F.cos(lam))
        .withColumn("ecef_y", (n + hh) * F.cos(phi) * F.sin(lam))
        .withColumn("ecef_z", ((F.lit(1.0 - e2)) * n + hh) * F.sin(phi))
    )


def with_enu(df, ref_lon: float, ref_lat: float,
             lon: str = "lon", lat: str = "lat", h=None):
    """Geodetic -> local East-North-Up meters at a reference point.

    The reference's ENU is broken twice (SURVEY.md §2.8 C4): the
    rotation matrix repeats -sin(φ)cos(λ) where -sin(φ)sin(λ) belongs
    (src/coords.jl:12) and the 3-arg form pipes a tuple into a
    3-parameter lambda (arity error, src/coords.jl:23); it is also
    unused anywhere downstream. This implements the CORRECT standard
    rotation (documented deviation), as native column math.
    """
    import math as _m

    df = with_ecef(df, lon=lon, lat=lat, h=h)
    # reference point ECEF (python floats — exact literals in-plan)
    re_ = 6378137.0
    rp = 6356752.3
    e2 = 1.0 - (rp * rp) / (re_ * re_)
    phi0 = _m.radians(ref_lat)
    lam0 = _m.radians(ref_lon)
    n0 = re_ / _m.sqrt(1.0 - e2 * _m.sin(phi0) ** 2)
    x0 = n0 * _m.cos(phi0) * _m.cos(lam0)
    y0 = n0 * _m.cos(phi0) * _m.sin(lam0)
    z0 = (1.0 - e2) * n0 * _m.sin(phi0)
    dx = F.col("ecef_x") - F.lit(x0)
    dy = F.col("ecef_y") - F.lit(y0)
    dz = F.col("ecef_z") - F.lit(z0)
    sp, cp = _m.sin(phi0), _m.cos(phi0)
    sl, cl = _m.sin(lam0), _m.cos(lam0)
    return (
        df.withColumn("enu_e", F.lit(-sl) * dx + F.lit(cl) * dy)
        .withColumn(
            "enu_n",
            F.lit(-sp * cl) * dx + F.lit(-sp * sl) * dy + F.lit(cp) * dz,
        )
        .withColumn(
            "enu_u",
            F.lit(cp * cl) * dx + F.lit(cp * sl) * dy + F.lit(sp) * dz,
        )
    )


def haversine_m(lon1, lat1, lon2, lat2):
    """Great-circle distance in meters, native column math."""
    r = 6371008.8
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dp = F.radians(lat2) - F.radians(lat1)
    dl = F.radians(lon2) - F.radians(lon1)
    a = F.sin(dp / 2) ** 2 + F.cos(p1) * F.cos(p2) * F.sin(dl / 2) ** 2
    return F.lit(2.0 * r) * F.asin(F.sqrt(a))


def shoelace_area2_col(coords, scale: int = 5):
    """Twice the SIGNED shoelace area of a ring, in integer
    10^-``scale``-degree² units (BIGINT): Σ xᵢ·yᵢ₊₁ − xᵢ₊₁·yᵢ plus the
    last→first wrap term (zero automatically when the ring repeats its
    first point, the OSM closed-way convention).

    Integer on purpose: coordinates quantize exactly to 10^-scale, and
    BIGINT sums are order-independent — the area is bit-equal across
    engines and partitionings, where a floating shoelace would depend
    on summation order. Worst case |x·y| ≈ 1.8e7·9e6 ≈ 1.6e14 per term
    — a ring needs >5·10⁴ vertices of worst-case sign agreement to
    approach int64, far past any OSM way. ``coords`` is the
    array<struct<lon,lat>> from way_geometries; all native column ops
    (transform/slice/zip_with/aggregate), no UDF.
    """
    s = F.lit(float(10**scale))
    a = F.transform(
        coords,
        lambda p: F.struct(
            F.round(p["lon"] * s).cast("long").alias("x"),
            F.round(p["lat"] * s).cast("long").alias("y"),
        ),
    )
    n = F.size(a)
    head = F.slice(a, 1, n - 1)
    tail = F.slice(a, 2, n - 1)
    terms = F.zip_with(
        head, tail, lambda p, q: p["x"] * q["y"] - q["x"] * p["y"]
    )
    wrap = (
        F.element_at(a, -1)["x"] * F.element_at(a, 1)["y"]
        - F.element_at(a, 1)["x"] * F.element_at(a, -1)["y"]
    )
    body = F.aggregate(
        terms, F.lit(0).cast("long"), lambda acc, t: acc + t
    )
    # total on purpose: 1- and 2-point "rings" cancel to exactly 0
    # (body and wrap negate), so no NULL branch — NULLs would also
    # push the column to float64 through Arrow/pandas round trips
    return body + wrap
