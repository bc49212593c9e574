"""Seeded inputs and the DuckDB oracle for the benchmark.

Inputs are built on ``osm_jl_spark.datagen.pages_ctes`` (the integer-hash
construction the repository's own oracle uses) with one change: the
seed picks the document-id range ``[offset, offset + n)``. Every id maps
through the same Knuth hash, so every seed keeps the 50/25/25
Oslo/Vitória/world skew and the hot Oslo cell while every coordinate
changes.

DuckDB writes the inputs (parquet) before Spark starts, so generation is
outside every timed region and outside ``setup_s``. The oracle is DuckDB
over the same seed's arithmetic ground-truth points (``pages_pts``),
never over anything Spark produced; its answers are cached as JSON next
to the inputs, keyed by generator version, seed and size.
"""

from __future__ import annotations

import json
import math
import os
import shutil

from osm_jl_spark import datagen as G
from osm_jl_spark.functions.cells import bbox_cell_range

# Bump whenever the inputs or an oracle answer change for a given
# (seed, size): cached files are keyed by it.
GEN_VERSION = 2

# The seed picks one of SEED_SLOTS document-id ranges, each SLOT_DOCS
# wide. The bound keeps datagen's ((i * 4 + s + 1) * KNUTH) below 2^63
# for every id, so Spark (ANSI) and DuckDB both compute it exactly.
SLOT_DOCS = 4_000_000
SEED_SLOTS = 199
assert (SEED_SLOTS * SLOT_DOCS * 4 + 3) * G.KNUTH < 2**63

PRECISION = 2
ROLLUP_PRECISIONS = [0, 1, 2, 3]
# cover/exact-test margin for the oracle's PIP candidate join, in
# degrees: far above any rounding error, so the pre-join is a strict
# superset of every point the even-odd rule can count as inside
_PIP_MARGIN = 1e-6

# Checksum of a row: a polynomial over its integer columns, reduced
# mod a Mersenne prime at every step so the arithmetic stays exact in
# BIGINT for both engines. A result's fingerprint is (rows, sum of row
# hashes); a dropped row or a coordinate moved by 1e-5 changes it.
HASH_P = 2147483647
HASH_K = 1000003


def row_hash_sql(cols: list[str]) -> str:
    """Row hash over integer SQL expressions, same text for Spark and
    DuckDB. ``((x % P) + P) % P`` is pmod in both dialects."""
    h = "0"
    for c in cols:
        h = f"((({h}) * {HASH_K} + (CAST({c} AS BIGINT) % {HASH_P})) % {HASH_P} + {HASH_P}) % {HASH_P}"
    return h


def micro_sql(col: str) -> str:
    """Coordinate as integer micro-degrees (the generator's exact grid:
    every coordinate is ``k / 100000.0``)."""
    return f"CAST(round({col} * 100000) AS BIGINT)"


def doc_id_sql(url: str) -> str:
    return f"CAST(substr({url}, 23) AS BIGINT)"


# Output fingerprints, one per checked result: name -> integer column
# expressions over that result's columns.
FINGERPRINT_COLS = {
    "flagship": ["polygon_id", "cx", "cy", "n_points"],
    "pip_counts": ["polygon_id", "n_points"],
    "bbox_points": [doc_id_sql("url"), "pt_idx", micro_sql("lon"), micro_sql("lat")],
    "rollup": ["precision", "cx", "cy", "n_points"],
}


def fingerprint_sql(name: str, table: str) -> str:
    return (
        f"SELECT count(*) AS n, "
        f"CAST(coalesce(sum({row_hash_sql(FINGERPRINT_COLS[name])}), 0) AS BIGINT) AS h "
        f"FROM {table}"
    )


def doc_offset(seed: int) -> int:
    return (seed % SEED_SLOTS) * SLOT_DOCS


def seeded_ctes(dialect: str, seed: int, n_docs: int) -> str:
    """datagen.pages_ctes over ids [offset, offset + n_docs)."""
    if n_docs > SLOT_DOCS:
        raise ValueError(f"n_docs {n_docs} exceeds the {SLOT_DOCS}-id slot")
    off = doc_offset(seed)
    ctes = G.pages_ctes(dialect, n_docs)
    src = f"range({n_docs})) t"
    if ctes.count(src) != 1:
        raise RuntimeError("datagen.pages_ctes changed shape; update perfbench/gen.py")
    return ctes.replace(src, f"range({off}, {off + n_docs})) t")


def _dbl(v: float) -> str:
    """A DOUBLE literal. DuckDB reads ``-40.35`` as DECIMAL and would
    compute the edge differences (``by - ay``) exactly, not in IEEE
    doubles as Spark does; a point lying on an edge then falls on the
    other side of it."""
    return f"CAST({v!r} AS DOUBLE)"


def _edges_values(polys: dict[int, list[tuple[float, float]]]) -> str:
    rows = []
    for pid, ring in sorted(polys.items()):
        for i in range(len(ring)):
            a, b = ring[i - 1], ring[i]
            rows.append(f"({pid}, {_dbl(a[0])}, {_dbl(a[1])}, {_dbl(b[0])}, {_dbl(b[1])})")
    return (
        "poly_edges(polygon_id, ax, ay, bx, by) AS (SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") v(polygon_id, ax, ay, bx, by))"
    )


def _box_cells_values(polys: dict[int, list[tuple[float, float]]]) -> str:
    """CTE ``poly_box(polygon_id, kx, ky, x0, x1, y0, y1)``: each
    polygon's margin-widened bbox, once per 0.1-degree trunc cell
    (kx, ky) it touches. trunc is monotone, so every point inside the
    widened bbox has its (kx, ky) in the enumerated range: an equi-join
    on (kx, ky) plus the bbox test is a superset of the inside points."""
    rows = []
    for pid, ring in sorted(polys.items()):
        xs = [v[0] for v in ring]
        ys = [v[1] for v in ring]
        x0, x1 = min(xs) - _PIP_MARGIN, max(xs) + _PIP_MARGIN
        y0, y1 = min(ys) - _PIP_MARGIN, max(ys) + _PIP_MARGIN
        for kx in range(math.trunc(x0 * 10.0), math.trunc(x1 * 10.0) + 1):
            for ky in range(math.trunc(y0 * 10.0), math.trunc(y1 * 10.0) + 1):
                rows.append(f"({pid}, {kx}, {ky}, {_dbl(x0)}, {_dbl(x1)}, {_dbl(y0)}, {_dbl(y1)})")
    return (
        "poly_box(polygon_id, kx, ky, x0, x1, y0, y1) AS (SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") v(polygon_id, kx, ky, x0, x1, y0, y1))"
    )


def _pip_inside_ctes(polys) -> str:
    """CTE ``inside(url, pt_idx, lon, lat, polygon_id)``: every point
    inside a polygon, by a margin-widened bbox pre-join and then the
    even-odd crossing count with strict inequalities
    (src/coords.jl:69-78), as the repository's oracle_sql writes it."""
    return f"""{_box_cells_values(polys)}, {_edges_values(polys)},
cand AS (
  SELECT p.url, p.pt_idx, p.lon, p.lat, b.polygon_id
  FROM pages_pts p JOIN poly_box b
    ON CAST(trunc(p.lon * 10.0) AS BIGINT) = b.kx
   AND CAST(trunc(p.lat * 10.0) AS BIGINT) = b.ky
  WHERE p.lon BETWEEN b.x0 AND b.x1 AND p.lat BETWEEN b.y0 AND b.y1
),
inside AS (
  SELECT c.url, c.pt_idx, c.lon, c.lat, c.polygon_id
  FROM cand c JOIN poly_edges e ON e.polygon_id = c.polygon_id
  GROUP BY c.url, c.pt_idx, c.lon, c.lat, c.polygon_id
  HAVING SUM(CASE WHEN (e.ay > c.lat) <> (e.by > c.lat)
             THEN CASE WHEN e.ax + (c.lat - e.ay) / (e.by - e.ay) * (e.bx - e.ax) < c.lon
                       THEN 1 ELSE 0 END
             ELSE 0 END) % 2 = 1
)"""


def _cell(col: str, p: int) -> str:
    # DuckDB CAST(double AS BIGINT) rounds; trunc first (Spark truncates)
    return f"CAST(trunc({col} * {float(10**p)!r}) AS BIGINT)"


def oracle_queries() -> dict[str, tuple[str, str]]:
    """Oracle results as (extra CTEs, SELECT) over ``pages_pts``."""
    out = {}
    out["flagship"] = (
        _pip_inside_ctes(G.POLYGONS),
        f"SELECT polygon_id, {_cell('lon', PRECISION)} AS cx, "
        f"{_cell('lat', PRECISION)} AS cy, count(*) AS n_points "
        "FROM inside GROUP BY 1, 2, 3",
    )
    out["pip_counts"] = (
        _pip_inside_ctes(G.polygon_grid()),
        "SELECT polygon_id, count(*) AS n_points FROM inside GROUP BY 1",
    )
    xlo, xhi, ylo, yhi = bbox_cell_range(G.VITORIA_UL, G.VITORIA_LR, PRECISION)
    out["bbox_points"] = (
        "",
        f"SELECT url, pt_idx, lon, lat FROM pages_pts "
        f"WHERE {_cell('lon', PRECISION)} BETWEEN {xlo} AND {xhi} "
        f"AND {_cell('lat', PRECISION)} BETWEEN {ylo} AND {yhi}",
    )
    out["rollup"] = (
        "",
        " UNION ALL ".join(
            f"SELECT {p} AS precision, {_cell('lon', p)} AS cx, "
            f"{_cell('lat', p)} AS cy, count(*) AS n_points "
            "FROM pages_pts GROUP BY 1, 2, 3"
            for p in ROLLUP_PRECISIONS
        ),
    )
    return out


# ------------------------------------------------------------ on disk


# input keys kept on disk; the least recently used go first
KEEP_KEYS = 4


class Inputs:
    """Seeded inputs and oracle answers under ``root``, keyed by
    (GEN_VERSION, seed, n_docs). Each artifact is written once, on
    first use; at most KEEP_KEYS keys stay on disk."""

    def __init__(self, root: str, seed: int, n_docs: int, threads: int):
        self.root = root
        self.seed = seed
        self.n_docs = n_docs
        self.threads = threads
        self.dir = os.path.join(root, f"g{GEN_VERSION}_s{seed}_n{n_docs}")
        self.pages = os.path.join(self.dir, "pages.parquet")
        self.points = os.path.join(self.dir, "points.parquet")

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads = {self.threads}")
        con.execute("SET memory_limit = '3GB'")
        con.execute("SET preserve_insertion_order = false")
        con.execute("SET enable_progress_bar = false")
        con.execute(f"SET temp_directory = '{os.path.join(self.root, 'duckdb_tmp')}'")
        return con

    def ensure(self, inputs: tuple[str, ...], checks: tuple[str, ...]) -> dict:
        """Write the named inputs ("pages", "points") and compute the
        named oracle answers unless cached. Returns {"oracle": {name:
        [rows, hash]}, "n_points": int}."""
        if not os.path.isdir(self.dir):
            self._evict()
            os.makedirs(self.dir)
        os.utime(self.dir)
        meta_path = os.path.join(self.dir, "oracle.json")
        meta = {}
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
        todo_in = [x for x in inputs if not os.path.exists(os.path.join(self.dir, f"{x}.parquet"))]
        todo_ck = [c for c in checks if c not in meta]
        if todo_in or todo_ck or "n_points" not in meta:
            con = self._connect()
            try:
                ctes = seeded_ctes("duckdb", self.seed, self.n_docs)
                con.execute(
                    f"CREATE TEMP TABLE pts AS WITH {ctes} "
                    "SELECT i, url, pt_idx, lon, lat FROM pages_pts"
                )
                meta["n_points"] = con.execute("SELECT count(*) FROM pts").fetchone()[0]
                for x in todo_in:
                    self._write(con, ctes, x)
                queries = oracle_queries()
                for name in todo_ck:
                    extra = f"{queries[name][0]}, " if queries[name][0] else ""
                    n, h = con.execute(
                        f"WITH pages_pts AS (SELECT * FROM pts), {extra}"
                        f"res AS ({queries[name][1]}) {fingerprint_sql(name, 'res')}"
                    ).fetchone()
                    meta[name] = [int(n), int(h)]
            finally:
                con.close()
            with open(meta_path + ".tmp", "w") as f:
                json.dump(meta, f)
            os.replace(meta_path + ".tmp", meta_path)
        return {
            "oracle": {c: meta[c] for c in checks},
            "n_points": int(meta["n_points"]),
        }

    def _evict(self) -> None:
        if not os.path.isdir(self.root):
            return
        keys = [
            os.path.join(self.root, d)
            for d in os.listdir(self.root)
            if d.startswith("g") and os.path.isdir(os.path.join(self.root, d))
        ]
        keys.sort(key=os.path.getmtime)
        for d in keys[: max(0, len(keys) - (KEEP_KEYS - 1))]:
            shutil.rmtree(d, ignore_errors=True)

    def _write(self, con, ctes: str, what: str) -> None:
        final = os.path.join(self.dir, f"{what}.parquet")
        tmp = final + ".tmp"
        if what == "points":
            query = "SELECT url, pt_idx, lon, lat FROM pts ORDER BY i, pt_idx"
        else:
            # html as load_pages builds it: text in a paragraph, then
            # the page's whitespace-free link anchors
            query = f"""WITH {ctes},
anchors AS (
  SELECT i,
         concat(
           coalesce(max(CASE WHEN link_idx = 0 THEN concat('<a href="', href, '"></a>') END), ''),
           coalesce(max(CASE WHEN link_idx = 1 THEN concat('<a href="', href, '"></a>') END), '')
         ) AS anch
  FROM pages_links GROUP BY i
)
SELECT p.url,
       make_timestamp(CAST(p.warc_epoch AS BIGINT) * 1000000) AS warc_ts,
       encode(concat('<html><body><p>', p.text, '</p>', coalesce(a.anch, ''),
                     '</body></html>')) AS html,
       p.text, p.lang
FROM pages p LEFT JOIN anchors a ON a.i = p.i"""
        con.execute(f"COPY ({query}) TO '{tmp}' (FORMAT parquet, ROW_GROUP_SIZE 65536)")
        os.replace(tmp, final)
