#!/usr/bin/env python3
"""Self-tests of the benchmark itself, at a tiny size.

    python3 perfbench/selftest.py

1. Oracle: on two seeds, every workload's job fingerprint equals the
   DuckDB oracle's, and a deliberately perturbed result (one row
   dropped, or one coordinate moved by 1e-5) is caught and counted as a
   failed job.
2. Forcing action: each traced prefix's checksum keeps its layer in the
   executed plan (the geoparse ``regexp_extract_all``, the html
   ``regexp_replace`` passes, the cover ``BroadcastHashJoin``, the
   salted exchange), and the checksum stays exact under ANSI where a
   plain ``sum(xxhash64(...))`` overflows.

Exits 0 when every check passes, 1 otherwise.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import run  # noqa: E402

# input size in documents, and the two seeds the oracle test runs on
DOCS = 20_000
SEEDS = (3, 11)


def main() -> int:
    import host
    import planstats
    import workloads
    from pyspark.sql import functions as F

    failures: list[str] = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    real_fingerprint = workloads.fingerprint

    def drop_row(df, name):
        return real_fingerprint(df.exceptAll(df.limit(1)), name)

    def move_coord(df, name):
        if "lon" not in df.columns:  # the rollup beside the bbox read
            return real_fingerprint(df, name)
        one = df.limit(1).cache()
        moved = one.withColumn("lon", F.col("lon") + F.lit(1e-5))
        return real_fingerprint(df.exceptAll(one).unionByName(moved), name)

    ns = argparse.Namespace(docs=DOCS, cores=len(host.cpus()))
    root = os.path.join(run.SCRATCH, "selftest")
    with run.Session(ns.cores) as s:
        spark = s.spark
        expect(spark.conf.get("spark.sql.ansi.enabled") == "true", "session runs ANSI mode")
        for seed in SEEDS:
            for name, wl in workloads.WORKLOADS.items():
                ns.seed, ns.workload = seed, name
                _, inputs, made = run.prepare(ns)
                ctx = run.make_ctx(spark, wl, ns, inputs, made)
                ok, _, err = run.run_job(ctx, wl)
                expect(ok, f"seed {seed} {name}: job matches the DuckDB oracle {err}")
                # move a coordinate where the result has one (the bbox
                # read); tile and count results can only lose a row
                perts = (drop_row, move_coord) if name == "ingest_store" else (drop_row,)
                for pert in perts:
                    workloads.fingerprint = pert
                    try:
                        loop = run.timed_loop(ctx, wl, 0, min_jobs=1)
                    finally:
                        workloads.fingerprint = real_fingerprint
                    expect(loop["attempted"] == 1 and loop["failed"] == 1
                           and loop["errors"][0].startswith("wrong result"),
                           f"seed {seed} {name}: {pert.__name__} is caught and counted")

        # forcing action: each prefix keeps its layer in the plan
        ns.seed = SEEDS[0]
        want = {
            "flagship_text": {"geoparse": "regexp_extract_all", "pip": "BroadcastHashJoin"},
            "pip_grid": {"pip": "BroadcastHashJoin", "cell_encode": "cx"},
            "ingest_store": {"extract": "regexp_replace", "geoparse": "regexp_extract_all",
                             "tiles": "_salt"},
        }
        for name, wl in workloads.WORKLOADS.items():
            ns.workload = name
            _, inputs, made = run.prepare(ns)
            ctx = run.make_ctx(spark, wl, ns, inputs, made)
            ctx.store_root = root
            m: dict = {}
            for st in wl.steps(ctx, m):
                st.run()
            for tag, text in want[name].items():
                expect(planstats.has(m[f"_plan.{tag}"], text),
                       f"{name}: prefix {tag!r} keeps {text!r} in the executed plan")
            for k, v in m.items():
                if k.startswith("_rows."):
                    expect(v > 0, f"{name}: prefix {k[6:]} produced rows")
            shutil.rmtree(m.get("_cleanup", root), ignore_errors=True)

        # ANSI: a plain sum of xxhash64 overflows, the forcing checksum
        # (sum of pmod terms < CHECK_P) does not
        big = spark.range(200_000).select(F.col("id").cast("string").alias("k"))
        try:
            big.agg(F.sum(F.xxhash64("k"))).collect()
            plain_overflows = False
        except Exception as e:  # ArithmeticException surfaces as a Py4J/Spark error
            plain_overflows = "overflow" in str(e).lower()
        expect(plain_overflows, "plain sum(xxhash64) overflows under ANSI")
        (n, h), _ = workloads.force(big, ["k"])
        expect(n == 200_000 and 0 < h < n * workloads.CHECK_P,
               "forcing checksum is exact under ANSI")
    shutil.rmtree(root, ignore_errors=True)
    print(f"{len(failures)} failed" if failures else "all self-tests passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
