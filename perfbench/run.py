#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload granule_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The command generates its inputs from
``--seed``, sets up a session with the package's own defaults, runs the
workload's operation in a closed loop (one client) for ``--seconds``
seconds (at least once), checks the outputs, and prints:

* one ``# report`` line: every metric of the workload by its own name, the
  output checks, the input sizes and the provenance stamp;
* as the last line, the result object ``{"correct", "attempted", "failed",
  "metrics"}`` — with ``--trace 0`` the end-to-end metrics, with
  ``--trace 1`` the per-layer metrics of a separate traced run.

The full report (and, when traced, every span) is also written to
``perfbench/.out/``. Exit status is non-zero when an output check fails or
the package cannot be imported.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T_START = time.perf_counter()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT_DIR = os.path.join(BENCH_DIR, ".out")
WORK_ROOT = os.path.join(BENCH_DIR, ".work")
FIXTURE_REPEATS = 3


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def source_digest() -> str:
    """sha1 over the package's Python sources: identifies the code measured
    when the checkout carries no git metadata."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "oco3_data_transformer_spark")
    for root, dirs, names in os.walk(pkg):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(root, n)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_head() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def untraced_op_s(workload: str, seed: int) -> float | None:
    """op_s of the untraced run of ``workload`` with the same seed in this
    checkout, else the median over its untraced runs with any seed, else
    None (no untraced run has been made here yet)."""
    import glob

    found = {}
    for path in glob.glob(os.path.join(OUT_DIR, f"{workload}-seed*-trace0.json")):
        with open(path) as fh:
            rep = json.load(fh)
        if not rep.get("failures"):
            found[rep["seed"]] = rep["end_to_end"]["op_s"]["value"]
    if seed in found:
        return found[seed]
    return statistics.median(found.values()) if found else None


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, BENCH_DIR]
    try:
        import pyspark  # noqa: F401
        import oco3_data_transformer_spark  # noqa: F401
        from oco3_data_transformer_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    # Python workers import the package and the fixture module too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, BENCH_DIR, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    scratch = os.path.join(work, "tmp")
    os.makedirs(scratch)
    # Keep every file the run writes inside the checkout: Spark's shuffle
    # and block files, the JVM's temp files (no hsperfdata in /tmp either)
    # and Python's temp files go under the run's work directory.
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["TMPDIR"] = tempfile.tempdir = scratch
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={scratch}", "-XX:-UsePerfData",
    ]))
    load_before = loadavg()

    spark = get_spark("perfbench")
    session_up = time.perf_counter()
    gateway = spark.sparkContext._gateway
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](work, args.seed)
        result = run(spark, wl, args, work, session_up)
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    result["report"]["provenance"]["loadavg_after"] = loadavg()
    result["report"]["provenance"]["loadavg_before"] = load_before
    emit(args, result)
    return 0 if result["correct"] else 1


def run(spark, wl, args, work: str, session_up: float) -> dict:
    import oco3_data_transformer_spark.session as session

    sc = spark.sparkContext
    gen_times = []
    for k in range(FIXTURE_REPEATS):
        t0 = time.perf_counter()
        sizes = wl.generate(os.path.join(work, f"inputs{k}"))
        gen_times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.setup(spark)
    warmup_s = time.perf_counter() - t0
    setup_s = (session_up - T_START) + statistics.median(gen_times) + warmup_s

    failures: list[str] = []
    times: list[float] = []
    attempted = 0
    tracer = None
    layers: dict = {}

    def one_op(i, tr=None) -> None:
        """Run and time operation ``i``, then check its outputs (untimed).
        A raise or a failed check counts against the operation's units."""
        nonlocal attempted
        attempted += wl.units
        t0 = time.perf_counter()
        try:
            if tr is None:
                wl.op(spark, i)
            else:
                with tr.span("op"):
                    wl.op(spark, i, tr)
        except Exception as exc:  # counted as failed; the run goes on
            failures.extend([f"op {i} raised {type(exc).__name__}: {exc}"] * wl.units)
            return
        times.append(time.perf_counter() - t0)
        failures.extend(wl.check(spark, i))

    if not args.trace:
        measure_start = time.perf_counter()
        i = 0
        while True:
            one_op(i)
            i += 1
            if time.perf_counter() - measure_start >= args.seconds:
                break
    else:
        # The traced run makes one traced operation; its untraced
        # counterpart is the op_s of the untraced runs of this workload.
        from spans import Tracer

        tracer = Tracer(spark)
        frames = wl.instrument(tracer)
        try:
            one_op(0, tracer)
            root = tracer.spans[0]
            op_groups = [s.group for s in tracer.spans if s.end <= root.end]
            persisted = tracer.persisted()
            layers = wl.layers(tracer, frames, op_groups)
        finally:
            tracer.close()
        totals = tracer.spark_totals(op_groups)
        spans = tracer.report()
        op_spans = [s for s in spans if s["id"] in {x.sid for x in tracer.spans if x.group in op_groups}]
        self_sum = sum(s["self_s"] for s in op_spans)
        untraced = untraced_op_s(args.workload, args.seed)
        python_rows = tracer.sql_node_rows(
            op_groups,
            ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
             "BatchEvalPython", "FlatMapCoGroupsInPandas", "MapInArrow"),
        )
        layers.update({
            "session.get_spark_s": session_up - T_START,
            **{f"spark.{k}": v for k, v in totals.items()},
            "spark.python_rows_out": python_rows,
            "spark.persisted_blocks_after": persisted[0],
            "spark.persisted_mb_after": persisted[1],
            "spark.slots_per_core": sc.defaultParallelism / os.cpu_count(),
            "trace.op_s": root.duration,
            "trace.untraced_op_s": untraced,
            "trace.self_sum_s": self_sum,
            "trace.reconcile_ratio": self_sum / untraced if untraced else None,
            "trace.overhead_s": root.duration - untraced if untraced else None,
            "trace.bookkeeping_s": tracer.bookkeeping_s,
            "trace.spans": len(op_spans),
        })

    rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(sc._gateway.proc.pid)
    failed = len(failures)
    correct = failed == 0 and bool(times)
    e2e = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_s": {"value": statistics.median(times) if times else None, "unit": "s"},
        "peak_rss_mb": {"value": rss, "unit": "MB"},
        **(wl.summary(times) if times else {}),
        "failed_ratio": {"value": failed / attempted, "unit": "ratio"},
    }
    conf = {"spark.master": sc.master}
    for k in ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
              "spark.sql.files.maxPartitionBytes"):
        conf[k] = spark.conf.get(k)
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "operations": attempted,
        "op_times_s": times,
        "end_to_end": e2e,
        "setup": {
            "get_spark_s": session_up - T_START,
            "fixture_s_median": statistics.median(gen_times),
            "fixture_s": gen_times,
            "warmup_s": warmup_s,
        },
        "inputs": sizes,
        "failures": failures,
        "provenance": {
            "git_head": git_head(),
            "source_sha1": source_digest(),
            "cpu_count": os.cpu_count(),
            "conf": conf,
            "tune_for_input": getattr(wl, "applied", None),
            "default_shuffle_partitions": session.DEFAULT_SHUFFLE_PARTITIONS,
            "spark_version": spark.version,
            "python_version": platform.python_version(),
        },
    }
    if args.trace:
        report["layers"] = layers
        report["spans"] = spans
    if hasattr(wl, "samples"):
        report["query_samples"] = wl.samples
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "report": report, "layers": layers, "e2e": e2e}


def emit(args, result: dict) -> None:
    """Write the full report, print its brief form, then the result line
    with the metrics BENCHMARK.json declares for this kind of run."""
    report = result["report"]
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    brief = {k: v for k, v in report.items() if k not in ("spans", "query_samples")}
    print("# report " + json.dumps(brief, default=str), flush=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    if args.trace:
        # a layer this workload does not load did no work: 0
        kind, source = "per_layer", {m["name"]: 0.0 for m in declared["per_layer"]}
        source.update(result["layers"])
    else:
        kind, source = "end_to_end", {k: v["value"] for k, v in result["e2e"].items()}
    metrics = {}
    for m in declared[kind]:
        v = source[m["name"]]  # None only when every operation raised
        metrics[m["name"]] = {"value": None if v is None else float(v), "unit": m["unit"]}
    print(json.dumps({
        "correct": result["correct"], "attempted": result["attempted"],
        "failed": result["failed"], "metrics": metrics,
    }), flush=True)


if __name__ == "__main__":
    sys.exit(main())
