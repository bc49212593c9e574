"""The three workloads: the timed job, its oracle check, and the traced
prefixes.

Every call goes through a layer's public function; nothing here reaches
inside the program. A job runs from reading the stored input to a
complete result whose fingerprint (gen.fingerprint_sql) is compared
with the DuckDB oracle's.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_jl_spark import datagen as G
from osm_jl_spark.functions.cells import with_cell
from osm_jl_spark.functions.text import extract_text_col
from osm_jl_spark.operators.joins import nodes_in_polygons
from osm_jl_spark.operators.pipeline import (
    flagship,
    geoparse_points,
    geoparse_points_from_html,
)
from osm_jl_spark.operators.tiling import tile_rollup
from osm_jl_spark.sources.store import (
    read_pages,
    read_points_bbox,
    write_points_clustered,
)

import gen
import planstats

# Prime modulus of the forcing checksum sum(pmod(xxhash64(cols), p)):
# each term is < 2^30, so the sum stays far below 2^63 under ANSI.
CHECK_P = 1_000_000_007


class CheckFailed(Exception):
    """A job's output fingerprint differs from the oracle's."""


def force(df: DataFrame, cols: list[str]):
    """Execute ``df`` by a checksum over ``cols`` (so Catalyst cannot
    prune the layer that produces them); return ((rows, checksum),
    the executed physical plan)."""
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(CHECK_P))).alias("h"),
    )
    row = agg.collect()[0]
    return (int(row["n"]), int(row["h"] or 0)), agg._jdf.queryExecution().executedPlan()


def fingerprint(df: DataFrame, name: str) -> tuple[int, int]:
    """The oracle-comparable fingerprint (rows, sum of row hashes)."""
    h = gen.row_hash_sql(gen.FINGERPRINT_COLS[name])
    r = df.selectExpr(
        "count(*) AS n", f"CAST(coalesce(sum({h}), 0) AS BIGINT) AS h"
    ).collect()[0]
    return int(r["n"]), int(r["h"])


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


@dataclass
class Ctx:
    """What a workload needs at run time."""

    spark: SparkSession
    pages: str
    points: str
    store_root: str
    n_docs: int
    n_points: int
    oracle: dict


@dataclass
class Step:
    """One traced step. ``cumulative`` steps re-run the workload from
    the scan (prefix k); the others run after the previous step's
    output exists and their time adds to the previous prefix."""

    name: str
    layer: str | None
    run: Callable[[], dict]
    cumulative: bool = True


@dataclass
class Workload:
    """A workload; README.md says why each was chosen."""

    name: str
    n_docs: int
    inputs: tuple[str, ...]
    checks: tuple[str, ...]
    rows_unit: str
    job: Callable[[Ctx], dict] = field(repr=False)
    steps: Callable[[Ctx, dict], list[Step]] = field(repr=False)
    polygons: Callable[[], dict] | None = field(default=None, repr=False)
    # untimed warm-up jobs, then the fewest timed jobs per run (the
    # median is taken over them)
    warmup_jobs: int = 1
    min_jobs: int = 3
    # whether the traced run measures session.scaling_eff (1 CPU vs all)
    scaling: bool = False

    def rows(self, ctx: Ctx) -> int:
        """Input rows per job: docs, or stored points for pip_grid."""
        return ctx.n_points if self.rows_unit == "points" else ctx.n_docs


def check(ctx: Ctx, got: dict) -> None:
    if set(got) != set(ctx.oracle):
        raise CheckFailed(f"results {sorted(got)}, oracle has {sorted(ctx.oracle)}")
    for name, fp in got.items():
        want = tuple(ctx.oracle[name])
        if tuple(fp) != want:
            raise CheckFailed(f"{name}: got {tuple(fp)}, oracle {want}")


# ------------------------------------------------------- flagship_text


def _pages(ctx: Ctx) -> DataFrame:
    return read_pages(ctx.spark, ctx.pages, fmt="parquet")


def flagship_job(ctx: Ctx) -> dict:
    out = flagship(_pages(ctx), G.POLYGONS, gen.PRECISION)
    return {"flagship": fingerprint(out, "flagship")}


PT_COLS = ["url", "pt_idx", "lon", "lat"]


def flagship_steps(ctx: Ctx, m: dict) -> list[Step]:
    def pip():
        pts = geoparse_points(_pages(ctx))
        t = time.perf_counter()
        j = nodes_in_polygons(pts, G.POLYGONS, gen.PRECISION)
        m["operators.joins.plan_s"] = time.perf_counter() - t
        return _forced(j, PT_COLS + ["polygon_id"], m, "pip")

    return [
        Step("scan", "sources.store.scan_s",
             lambda: _forced(_pages(ctx), ["url", "text"], m, "scan")),
        Step("geoparse", "functions.text.geoparse_s",
             lambda: _forced(geoparse_points(_pages(ctx)), PT_COLS, m, "geoparse")),
        Step("cell_encode", "functions.cells.encode_s",
             lambda: _forced(with_cell(geoparse_points(_pages(ctx)), gen.PRECISION),
                             PT_COLS + ["cx", "cy"], m, "cell_encode")),
        Step("pip", "operators.joins.pip_s", pip),
        Step("tile_groupby", "operators.tiling.rollup_s",
             lambda: _forced(flagship(_pages(ctx), G.POLYGONS, gen.PRECISION),
                             ["polygon_id", "cx", "cy", "n_points"], m, "tiles")),
    ]


# ------------------------------------------------------------ pip_grid


def _points(ctx: Ctx) -> DataFrame:
    return ctx.spark.read.parquet(ctx.points)


def _pip_counts(pts: DataFrame) -> DataFrame:
    return (
        nodes_in_polygons(pts, G.polygon_grid(), gen.PRECISION)
        .groupBy("polygon_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def pip_grid_job(ctx: Ctx) -> dict:
    return {"pip_counts": fingerprint(_pip_counts(_points(ctx)), "pip_counts")}


def pip_grid_steps(ctx: Ctx, m: dict) -> list[Step]:
    def pip():
        pts = _points(ctx)
        t = time.perf_counter()
        j = nodes_in_polygons(pts, G.polygon_grid(), gen.PRECISION)
        m["operators.joins.plan_s"] = time.perf_counter() - t
        return _forced(j, PT_COLS + ["polygon_id"], m, "pip")

    return [
        Step("scan", "sources.store.scan_s",
             lambda: _forced(_points(ctx), PT_COLS, m, "scan")),
        Step("cell_encode", "functions.cells.encode_s",
             lambda: _forced(with_cell(_points(ctx), gen.PRECISION),
                             PT_COLS + ["cx", "cy"], m, "cell_encode")),
        Step("pip", "operators.joins.pip_s", pip),
        Step("count_per_polygon", None,
             lambda: _forced(_pip_counts(_points(ctx)),
                             ["polygon_id", "n_points"], m, "counts")),
    ]


# -------------------------------------------------------- ingest_store


def _fresh_store(ctx: Ctx) -> str:
    path = os.path.join(ctx.store_root, f"store_{uuid.uuid4().hex}")
    os.makedirs(ctx.store_root, exist_ok=True)
    return path


def _rollup(ctx: Ctx, path: str) -> DataFrame:
    return tile_rollup(ctx.spark.read.parquet(path), gen.ROLLUP_PRECISIONS)


def _bbox(ctx: Ctx, path: str) -> DataFrame:
    return read_points_bbox(
        ctx.spark, path, G.VITORIA_UL, G.VITORIA_LR, gen.PRECISION
    )


def ingest_job(ctx: Ctx) -> dict:
    path = _fresh_store(ctx)
    try:
        write_points_clustered(geoparse_points_from_html(_pages(ctx)), path, gen.PRECISION)
        return {
            "bbox_points": fingerprint(_bbox(ctx, path), "bbox_points"),
            "rollup": fingerprint(_rollup(ctx, path), "rollup"),
        }
    finally:
        shutil.rmtree(path, ignore_errors=True)


def ingest_steps(ctx: Ctx, m: dict) -> list[Step]:
    path = _fresh_store(ctx)
    m["_cleanup"] = path

    def write():
        write_points_clustered(geoparse_points_from_html(_pages(ctx)), path, gen.PRECISION)
        files, size = dir_stats(path)
        m["sources.store.files_written"] = files
        m["sources.store.bytes_written"] = size
        return {}

    def bbox():
        out = _forced(_bbox(ctx, path), PT_COLS, m, "bbox")
        # DataFrame.inputFiles() lists the relation before partition
        # pruning; the scan's numFiles metric counts what was opened
        kept = planstats.files_read(m["_plan.bbox"])
        m["sources.store.bbox_files_frac"] = kept / max(1, m["sources.store.files_written"])
        return out

    return [
        Step("scan", "sources.store.scan_s",
             lambda: _forced(_pages(ctx), ["url", "html"], m, "scan")),
        Step("extract_text", "functions.text.extract_s",
             lambda: _forced(_pages(ctx).select("url", extract_text_col("html").alias("t")),
                             ["url", "t"], m, "extract")),
        Step("geoparse", "functions.text.geoparse_s",
             lambda: _forced(geoparse_points_from_html(_pages(ctx)), PT_COLS, m, "geoparse")),
        Step("write_store", "sources.store.write_s", write),
        Step("bbox_read", "sources.store.bbox_read_s", bbox, cumulative=False),
        Step("tile_rollup", "operators.tiling.rollup_s",
             lambda: _forced(_rollup(ctx, path), ["precision", "cx", "cy", "n_points"],
                             m, "tiles"),
             cumulative=False),
    ]


def _forced(df: DataFrame, cols: list[str], m: dict, tag: str) -> dict:
    (n, h), plan = force(df, cols)
    m[f"_rows.{tag}"] = n
    m[f"_plan.{tag}"] = plan
    return {"rows": n, "checksum": h}


# Sizes are set so a run fits the time budget on a 4-CPU host: a job
# takes about 2 s for flagship_text and pip_grid and about 12 s for
# ingest_store, whose cost is mostly the store's 360 stripe directories.
# Job CPU time keeps falling for several jobs after the first (JIT), so
# the cheap workloads warm up with 5 jobs.
WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "flagship_text",
            300_000, ("pages",), ("flagship",), "docs",
            flagship_job, flagship_steps, lambda: G.POLYGONS,
            warmup_jobs=5, min_jobs=3, scaling=True,
        ),
        Workload(
            "pip_grid",
            200_000, ("points",), ("pip_counts",), "points",
            pip_grid_job, pip_grid_steps, G.polygon_grid,
            warmup_jobs=5, min_jobs=3,
        ),
        Workload(
            "ingest_store",
            50_000, ("pages",), ("bbox_points", "rollup"), "docs",
            ingest_job, ingest_steps, None,
            warmup_jobs=1, min_jobs=2,
        ),
    ]
}
