#!/usr/bin/env python3
"""Run one workload of the engine's benchmark and print its metrics.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload olap_sf0.1 --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: every end-to-end
metric of BENCHMARK.json with ``--trace 0``, every per-layer metric with
``--trace 1``. The line before it is the run record (host, versions,
effective confs, sample counts, per-query times). Progress and failures go
to standard error. See perfbench/README.md for the protocol.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "ecom_snowflake_duckdb_migration_spark"


def isolate(work: str) -> None:
    """Point every path the run writes under ``work`` and let Python workers
    import the package. Must run before the JVM starts."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(work)  # anything written relative to the working directory stays here
    sys.path[:0] = [ROOT, HERE]


def stop_spark() -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # a later session launches a new JVM
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_record(args, res_record: dict) -> dict:
    import duckdb
    import pyspark

    def first_line(cmd):
        try:
            out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            return None
        text = (out.stdout or out.stderr).strip()
        return text.splitlines()[0] if out.returncode == 0 and text else None

    digest = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    digest.update(f.encode() + fh.read())
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    shm = shutil.disk_usage("/dev/shm").total if os.path.isdir("/dev/shm") else None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_commit": first_line(["git", "rev-parse", "HEAD"]),
        "package_sha256": digest.hexdigest(),
        "host": {
            "nproc": len(os.sched_getaffinity(0)),
            "mem_total_gb": mem_kb / 2**20,
            "dev_shm_gb": shm / 2**30 if shm else None,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        },
        "versions": {
            "spark": pyspark.__version__,
            "java": first_line(["java", "-version"]),
            "python": platform.python_version(),
            "duckdb": duckdb.__version__,
        },
        **res_record,
    }


def assemble(declared: list[dict], res) -> tuple[dict, dict]:
    """The declared metrics, in BENCHMARK.json's order, with their units and
    sample counts. A per-layer metric of a layer the workload does not run
    reads 0; an end-to-end metric must be produced by every workload."""
    metrics, samples = {}, {}
    for m in declared:
        if m["name"] in res.end_to_end:
            value, unit, n = res.end_to_end[m["name"]]
        elif "bound" in m:
            raise RuntimeError(f"end-to-end metric {m['name']} was not measured")
        else:
            value, unit = res.per_layer.get(m["name"], (0.0, m["unit"]))
            n = 1
        if unit != m["unit"]:
            raise RuntimeError(f"{m['name']}: unit {unit} but BENCHMARK.json says {m['unit']}")
        metrics[m["name"]] = {"value": value, "unit": unit}
        samples[m["name"]] = n
    return metrics, samples


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in (os.path.join(ROOT, PKG), os.path.join(ROOT, "benchdata", "sf1"),
                           os.path.join(ROOT, "BENCHMARK.json")) if not os.path.exists(p)]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    import workloads

    ctx = workloads.Ctx(root=ROOT, work=work, seed=args.seed, seconds=args.seconds,
                        trace=bool(args.trace))
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
        metrics, samples = assemble(declared, res)
        record = run_record(args, res.record)
        record["samples"] = samples
        if args.trace:
            record["traced_end_to_end"] = {k: v[0] for k, v in res.end_to_end.items()}
            record["trace_self_s"] = ctx.tracer.self_totals()
            spans = os.path.join(HERE, ".work", f"spans-{args.workload}-{args.seed}.jsonl")
            ctx.tracer.dump(spans)
            record["spans"] = os.path.relpath(spans, ROOT)
    finally:
        stop_spark()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
