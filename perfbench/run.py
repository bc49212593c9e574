#!/usr/bin/env python3
"""Seeded closed-loop benchmark of the geoparse -> PIP -> tiling engine.

    python3 perfbench/run.py --workload flagship_text --seed 1 --seconds 12 --trace 0

Run from the repository root. One client runs one Spark job at a time
(``local[nproc]``, one driver process); every job's output is checked
against the DuckDB oracle. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the workload runs once more as timed cumulative prefixes and the
metrics are the per-layer ones (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench_scratch")

# a job that runs longer than this is cancelled and counted as failed
JOB_TIMEOUT_S = 90
# traced passes over the prefixes; per-step medians are reported
TRACE_PASSES = 2
# a traced run stops starting new work after this many seconds
RUN_LIMIT_S = 165


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------ session


class Session:
    """A SparkSession from ``session.get_spark`` whose JVM (and the
    Python workers under it) is stopped and waited for on exit."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spark = None
        self.start_s = 0.0

    def __enter__(self) -> "Session":
        from osm_jl_spark.session import get_spark

        import host

        local = os.path.join(SCRATCH, "spark_local")
        os.makedirs(local, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark(
            app="perfbench",
            cores=self.cores,
            driver_memory=host.driver_heap(),
            extra={
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(SCRATCH, "warehouse"),
                # temp files in the checkout; no /tmp/hsperfdata file;
                # JIT threads that live as long as the JVM, so that
                # host.TreeSampler can leave their CPU time out exactly
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={local} -XX:+PerfDisableSharedMem"
                    " -XX:-UseDynamicNumberOfCompilerThreads",
            },
        )
        self.start_s = time.perf_counter() - t0
        return self

    def __exit__(self, *exc) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _reap_descendants()


def _reap_descendants(timeout: float = 30.0) -> None:
    """Wait for every process started under this one to end; kill what
    outlives ``timeout``."""
    import signal

    import host

    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in host.tree_pids(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.1)


# --------------------------------------------------------------- jobs


def run_job(ctx, wl) -> tuple[bool, float, str]:
    """One checked job: (ok, wall seconds, error)."""
    import workloads

    sc = ctx.spark.sparkContext
    timer = threading.Timer(JOB_TIMEOUT_S, sc.cancelAllJobs)
    timer.start()
    t0 = time.perf_counter()
    try:
        workloads.check(ctx, wl.job(ctx))
        return True, time.perf_counter() - t0, ""
    except workloads.CheckFailed as e:
        return False, time.perf_counter() - t0, f"wrong result: {e}"
    except Exception as e:  # a failed job is counted, the run goes on
        return False, time.perf_counter() - t0, f"{type(e).__name__}: {e}"
    finally:
        timer.cancel()


def timed_loop(ctx, wl, seconds: float, min_jobs: int) -> dict:
    """Closed loop: the next job starts when the previous one ends,
    until ``seconds`` have passed and at least ``min_jobs`` ran. Each
    successful job records its wall time and the CPU seconds of the
    process tree (JVM and workers) it used."""
    import host

    tree = host.TreeSampler()
    times, cpus, errors = [], [], []
    attempted = 0
    t_end = time.perf_counter() + seconds
    while attempted < min_jobs or time.perf_counter() < t_end:
        attempted += 1
        c0 = tree.cpu_s()
        ok, dt, err = run_job(ctx, wl)
        if ok:
            times.append(dt)
            cpus.append(tree.cpu_s() - c0)
        else:
            errors.append(err)
            log(f"job failed: {err}")
    return {"times": times, "cpu": cpus, "attempted": attempted,
            "failed": len(errors), "errors": errors}


def warm_up(ctx, wl) -> dict:
    """The workload's warm-up jobs (checked, counted, not timed as
    jobs): JIT, codegen and caches settle before the timed loop."""
    return timed_loop(ctx, wl, 0, wl.warmup_jobs)


def setup_wall_s(start_s: float, warm_times: list[float], job_s: float) -> float:
    """Session start plus what the warm-up jobs took beyond warm ones,
    in wall seconds."""
    return start_s + sum(max(0.0, t - job_s) for t in warm_times)


def make_ctx(spark, wl, args, inputs, made: dict):
    import workloads

    return workloads.Ctx(
        spark=spark,
        pages=inputs.pages,
        points=inputs.points,
        store_root=os.path.join(SCRATCH, "stores"),
        n_docs=args.docs,
        n_points=made["n_points"],
        oracle=made["oracle"],
    )


def prepare(args):
    """Generate (or reuse) the seed's inputs and oracle answers."""
    import gen
    import host
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    inputs = gen.Inputs(
        os.path.join(SCRATCH, "inputs"), args.seed, args.docs, len(host.cpus())
    )
    made = inputs.ensure(wl.inputs, wl.checks)
    return wl, inputs, made


# ------------------------------------------------------ child roles


def role_scaling(args) -> dict:
    """Throughput at ``--cores`` CPUs, pinned to the first of them:
    the workload's warm-up jobs, then one timed job."""
    import host

    os.sched_setaffinity(0, host.cpus()[: args.cores])
    wl, inputs, made = prepare(args)
    with Session(args.cores) as s:
        ctx = make_ctx(s.spark, wl, args, inputs, made)
        warm = warm_up(ctx, wl)
        loop = timed_loop(ctx, wl, 0, 1)
    return {
        "job_s": statistics.median(loop["times"]) if loop["times"] else None,
        "attempted": warm["attempted"] + loop["attempted"],
        "failed": warm["failed"] + loop["failed"],
    }


def scaling_child(args, timeout: float) -> dict:
    """role_scaling at 1 CPU, in a fresh process (its own JVM)."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--role", "scaling",
        "--workload", args.workload, "--seed", str(args.seed), "--cores", "1",
    ]
    out = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=timeout
    )
    if out.returncode != 0:
        raise RuntimeError(f"scaling child failed:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


# -------------------------------------------------------------- modes


def measure(args) -> dict:
    """Untraced run: the end-to-end metrics."""
    import host

    wl, inputs, made = prepare(args)
    tree = host.TreeSampler()
    setup_cpu = -tree.cpu_s(jit=True)
    with Session(args.cores) as s:
        ctx = make_ctx(s.spark, wl, args, inputs, made)
        rows = wl.rows(ctx)
        warm = warm_up(ctx, wl)
        setup_cpu += tree.cpu_s(jit=True)
        cpu0 = host.cpu_times()
        loop = timed_loop(ctx, wl, args.seconds, wl.min_jobs)
        steal = host.steal_frac(cpu0, host.cpu_times())
    if not loop["times"]:
        raise RuntimeError("every timed job failed")
    job_s = statistics.median(loop["times"])
    job_cpu_s = statistics.median(loop["cpu"])
    # set-up in CPU seconds of the whole tree, JIT threads included:
    # session start and warm-up, less what the warm-up jobs would have
    # cost as warm jobs
    setup_s = setup_cpu - len(warm["times"]) * job_cpu_s
    attempted = loop["attempted"] + warm["attempted"]
    failed = loop["failed"] + warm["failed"]
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "job_cpu_s": (job_cpu_s, "s"),
            "rows_per_cpu_s": (rows / job_cpu_s, "rows/cpu_s"),
            "setup_s": (setup_s, "s"),
        },
        # wall-clock figures: printed, not bounded (see README)
        "shown": {
            "job_s": (job_s, "s"),
            "rows_per_s": (rows / job_s, "rows/s"),
            "setup_wall_s": (setup_wall_s(s.start_s, warm["times"], job_s), "s"),
            "host_steal_frac": (steal, "ratio"),
        },
        "extra": {
            "input_rows": rows,
            "rows_unit": wl.rows_unit,
            "start_s": s.start_s,
            "warmup_job_s": warm["times"],
            "job_s_all": loop["times"],
            "job_cpu_s_all": loop["cpu"],
            "failed_frac": failed / attempted,
        },
    }


def traced(args) -> dict:
    """Traced run: untraced jobs for reference, then TRACE_PASSES passes
    over the workload's steps, one span per step. A cumulative step k
    re-runs the workload from the scan through layer k, so a layer's
    self time is prefix(k) - prefix(k-1)."""
    import host

    t_run = time.perf_counter()
    wl, inputs, made = prepare(args)
    run_id = uuid.uuid4().hex[:12]
    spans = []
    prefix: dict[str, list[float]] = {}
    sampler = host.TreeSampler()
    with Session(args.cores) as s:
        ctx = make_ctx(s.spark, wl, args, inputs, made)
        rows = wl.rows(ctx)
        warm = warm_up(ctx, wl)
        cpu0 = host.cpu_times()
        loop = {"times": [], "cpu": [], "attempted": 0, "failed": 0, "errors": []}
        for p in range(TRACE_PASSES):
            # one untraced job before each pass, in the same JIT state
            with sampler:
                one = timed_loop(ctx, wl, 0, 1)
            for k in loop:
                loop[k] += one[k]
            m: dict = {}
            steps = wl.steps(ctx, m)
            root = {"name": wl.name, "run_id": run_id, "pass": p, "parent": None,
                    "start": time.time()}
            spans.append(root)
            acc = prev = 0.0
            for st in steps:
                t_start = time.time()
                t = time.perf_counter()
                st.run()
                dt = time.perf_counter() - t
                acc = acc + dt if not st.cumulative else dt
                prefix.setdefault(st.name, []).append(acc)
                spans.append({"name": st.name, "layer": st.layer, "run_id": run_id,
                              "pass": p, "parent": wl.name, "start": t_start,
                              "end": time.time(), "prefix_s": acc, "self_s": acc - prev})
                prev = acc
            root["end"] = time.time()
            root["traced_total_s"] = acc
            lay = layer_metrics(wl, m, args.docs)
            if "_cleanup" in m:
                shutil.rmtree(m["_cleanup"], ignore_errors=True)
    cpu_util = sum(loop["cpu"]) / (sum(loop["times"]) * args.cores)
    job_s = statistics.median(loop["times"])
    steal = host.steal_frac(cpu0, host.cpu_times())
    # self time of step k from the medians over passes
    selfs, prev = {}, 0.0
    for st in steps:
        med = statistics.median(prefix[st.name])
        selfs[st.name] = med - prev
        prev = med
        if st.layer:
            lay[st.layer] = selfs[st.name]
    total = prev
    lay["session.start_s"] = s.start_s
    lay["session.warmup_s"] = setup_wall_s(0.0, warm["times"], job_s)
    lay["session.cpu_util"] = cpu_util
    lay["session.peak_rss_mb"] = sampler.peak_rss / 2**20
    lay["session.host_steal_frac"] = steal
    lay["operators.pipeline.job_s"] = job_s
    lay["operators.pipeline.job_cpu_s"] = statistics.median(loop["cpu"])
    lay["operators.pipeline.traced_total_s"] = total
    lay["operators.pipeline.trace_overhead_s"] = total - job_s

    lo = {"job_s": None, "attempted": 0, "failed": 0}
    if wl.scaling and args.cores > 1:
        # the run must end within RUN_LIMIT_S; a scaling level that
        # cannot finish in what is left is reported as 0 and noted
        left = RUN_LIMIT_S - (time.perf_counter() - t_run)
        try:
            lo = scaling_child(args, timeout=left)
        except subprocess.TimeoutExpired:
            log(f"scaling level local[1] did not finish in {left:.0f} s")
        if lo["job_s"]:
            # throughput at local[nproc] / (nproc x throughput at local[1])
            lay["session.scaling_eff"] = lo["job_s"] / (args.cores * job_s)

    os.makedirs(os.path.join(SCRATCH, "traces"), exist_ok=True)
    span_file = os.path.join(SCRATCH, "traces", f"{wl.name}_seed{args.seed}_{run_id}.json")
    with open(span_file, "w") as f:
        json.dump({"workload": wl.name, "run_id": run_id, "seed": args.seed,
                   "docs": args.docs, "job_s_untraced": job_s, "self_s": selfs,
                   "scaling": {"cores": args.cores, "job_s_1cpu": lo["job_s"]},
                   "spans": spans}, f, indent=1)
    attempted = loop["attempted"] + warm["attempted"] + lo["attempted"]
    failed = loop["failed"] + warm["failed"] + lo["failed"]
    return {
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: (v, LAYER_METRICS[k]) for k, v in lay.items()},
        "extra": {"span_file": os.path.relpath(span_file, ROOT),
                  "self_s": selfs, "job_s_untraced": job_s, "rows": rows},
    }


def layer_metrics(wl, m: dict, n_docs: int) -> dict:
    """Counts and plan metrics of one traced pass (while its session is
    open); layers the workload does not run stay 0."""
    import planstats
    from osm_jl_spark.functions.geo import cell_cover

    lay = {k: 0.0 for k in LAYER_METRICS}
    for k in ("sources.store.files_written", "sources.store.bytes_written",
              "sources.store.bbox_files_frac", "operators.joins.plan_s"):
        if k in m:
            lay[k] = m[k]
    if "_rows.geoparse" in m:
        lay["functions.text.points_per_doc"] = m["_rows.geoparse"] / n_docs
    if "_plan.pip" in m:
        n_in = m.get("_rows.geoparse", m.get("_rows.scan"))
        lay["operators.joins.match_frac"] = m["_rows.pip"] / n_in
        lay["operators.joins.broadcast_bytes"] = planstats.exchange_bytes(m["_plan.pip"], "Broadcast")
    if "_plan.tiles" in m:
        lay["operators.tiling.tiles_out"] = m["_rows.tiles"]
        lay["operators.tiling.shuffle_bytes"] = planstats.exchange_bytes(m["_plan.tiles"], "Shuffle")
        lay["operators.tiling.shuffle_skew"] = planstats.shuffle_skew(m["_plan.tiles"], "_salt")
    if wl.polygons is not None:
        full = boundary = 0
        for ring in wl.polygons().values():
            f, b = cell_cover(ring, 2)
            full += len(f)
            boundary += len(b)
        lay["functions.geo.cover_cells"] = full + boundary
        lay["functions.geo.full_cell_frac"] = full / (full + boundary)
    return lay


# name -> unit of every per-layer metric (README: layer -> end-to-end map)
LAYER_METRICS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.cpu_util": "ratio",
    "session.scaling_eff": "ratio",
    "session.peak_rss_mb": "MB",
    "session.host_steal_frac": "ratio",
    "sources.store.scan_s": "s",
    "sources.store.write_s": "s",
    "sources.store.files_written": "count",
    "sources.store.bytes_written": "B",
    "sources.store.bbox_read_s": "s",
    "sources.store.bbox_files_frac": "ratio",
    "functions.text.extract_s": "s",
    "functions.text.geoparse_s": "s",
    "functions.text.points_per_doc": "ratio",
    "functions.cells.encode_s": "s",
    "functions.geo.cover_cells": "count",
    "functions.geo.full_cell_frac": "ratio",
    "operators.joins.plan_s": "s",
    "operators.joins.pip_s": "s",
    "operators.joins.match_frac": "ratio",
    "operators.joins.broadcast_bytes": "B",
    "operators.tiling.rollup_s": "s",
    "operators.tiling.tiles_out": "count",
    "operators.tiling.shuffle_bytes": "B",
    "operators.tiling.shuffle_skew": "ratio",
    "operators.pipeline.job_s": "s",
    "operators.pipeline.job_cpu_s": "s",
    "operators.pipeline.traced_total_s": "s",
    "operators.pipeline.trace_overhead_s": "s",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] (default: every CPU in the affinity mask)")
    ap.add_argument("--role", choices=("main", "scaling"), default="main",
                    help=argparse.SUPPRESS)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import host
    import workloads  # fails here, before any result, if the program is missing

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2
    args.docs = workloads.WORKLOADS[args.workload].n_docs
    if args.cores is None:
        args.cores = len(host.cpus())
    os.makedirs(SCRATCH, exist_ok=True)
    # Spark's Python workers run this interpreter, not whatever
    # `python` is first on PATH (one without pyarrow fails every job);
    # temp files of this process and its children stay in the checkout
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp = os.path.join(SCRATCH, "spark_local")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None

    if args.role == "scaling":
        print(json.dumps(role_scaling(args)))
        return 0

    shape = host.shape()
    res = traced(args) if args.trace else measure(args)
    shape["loadavg_end"] = list(os.getloadavg())
    for name, (value, unit) in {**res["metrics"], **res.get("shown", {})}.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} failed_frac = {res['failed'] / res['attempted']:.6g} ratio "
          f"({res['failed']} of {res['attempted']} jobs)")
    print("host " + json.dumps(shape))
    print("detail " + json.dumps(res.get("extra", {})))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
