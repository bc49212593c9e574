import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


@pytest.fixture(scope="session")
def spark():
    from osm_jl_spark.session import get_spark

    s = get_spark(app="osm-jl-spark-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def native_pip(spark):
    """Evaluate BOTH shipped even-odd expressions on one ring in one
    Spark job: returns [(unrolled, fold)] per input (lon, lat), in
    input order. The fold reads its edges from a column, as it does
    after the broadcast edge-dim join in nodes_in_polygons."""
    from pyspark.sql import functions as F

    from osm_jl_spark.functions.geo import (
        pip_edges_fold_expr,
        pip_ring_expr,
        ring_edges,
    )

    def run(ring, pts):
        edges = ring_edges(ring)
        df = spark.createDataFrame(
            [(i, float(x), float(y), edges) for i, (x, y) in enumerate(pts)],
            "i INT, lon DOUBLE, lat DOUBLE, edges ARRAY<STRUCT<"
            "ax: DOUBLE, ay: DOUBLE, bx: DOUBLE, by: DOUBLE>>",
        )
        lon, lat = F.col("lon"), F.col("lat")
        rows = df.select(
            "i",
            pip_ring_expr(ring, lon, lat).alias("unrolled"),
            pip_edges_fold_expr(lon, lat, F.col("edges")).alias("fold"),
        ).collect()
        return [
            (r["unrolled"], r["fold"]) for r in sorted(rows, key=lambda r: r["i"])
        ]

    return run
