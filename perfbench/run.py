"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 4 --trace 0
    python3 perfbench/run.py --compare base.txt new.txt

Run from the repository root. The run builds inputs from ``--seed`` only,
starts one ``local[nproc]`` session with ``session.get_spark``, warms the
workload up (counted in ``setup_s``), runs its closed loop for ``--seconds``,
checks every output outside the timed region and prints, as its last stdout
line, ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it (``{"perfbench": ...}``) carries the full record, including the
environment knobs, that ``--compare`` reads.

Everything the run writes lives under ``.perfbench_work/`` in the working
directory; only the span file of a traced run is kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "python_async_sample_spark"
DRIVER_MEM = "6g"  # the session default, 48g, exceeds a 16 GB machine


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _prepare_env(work: str) -> dict[str, str]:
    """Keep every file the run, the JVM and the Python workers write inside
    ``work``, and pin the session's sizing knobs."""
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    knobs = {
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    }
    os.environ.update(knobs)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVMs would otherwise keep a perf-counter file in /tmp while they run
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    return knobs


def _session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.rolling.enabled": "true",
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def _quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _stop(spark) -> None:
    """Stop the session (this flushes the event log), then end the JVM it
    launched and wait for it: the JVM exits when its stdin pipe closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def summary(ops, clients: int, setup_s: float) -> dict[str, tuple[float, str]]:
    """End-to-end figures of one run. Throughput is the closed loop's:
    clients x ops / summed op latency, so the tail where one client has
    finished and the other has not does not count as idle time. Only the
    first three are bounded metrics: with 5-16 ops a run, a p90 has fewer
    than two samples above it."""
    lat = [o.latency_s for o in ops]
    busy = sum(lat) / clients
    return {
        "op_p50_s": (_quantile(lat, 0.5), "s"),
        "ops_per_s": (len(ops) / busy, "1/s"),
        "setup_s": (setup_s, "s"),
        "op_p90_s": (_quantile(lat, 0.9), "s"),
        "rows_per_s": (sum(o.rows for o in ops) / busy, "rows/s"),
    }


END_TO_END = ("op_p50_s", "ops_per_s", "setup_s")


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    work_root = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    knobs = _prepare_env(work)
    try:
        return _run_in(args, work, work_root, knobs)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run_in(args, work: str, work_root: str, knobs: dict[str, str]) -> int:
    import numpy as np

    from perfbench import layers
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS
    from python_async_sample_spark.session import get_spark

    trace = bool(args.trace)
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        cpus=int(knobs["SPARK_GRAFT_CPUS"]),
        extra_conf=_session_conf(work, trace),
    )
    get_spark_s = time.perf_counter() - t0
    tracer = Tracer(spark, enabled=trace)
    wl = WORKLOADS[args.workload](spark, tracer, work)
    patched = []
    try:
        if trace:
            for owner, attr, repl in wl.patches():
                patched.append((owner, attr, getattr(owner, attr)))
                setattr(owner, attr, repl)
        t1 = time.perf_counter()
        with tracer.span("session.inputs"):
            wl.setup(np.random.default_rng(args.seed))
        t2 = time.perf_counter()
        with tracer.span("session.warmup"):
            wl.warmup()
        t3 = time.perf_counter()
        epoch0 = time.time()
        m0 = time.perf_counter()
        ops = wl.measure(args.seconds)
        wall_s = time.perf_counter() - m0
        epoch1 = epoch0 + wall_s
        wl.check(ops)
    finally:
        for owner, attr, orig in patched:
            setattr(owner, attr, orig)
        _stop(spark)

    phases = {"get_spark_s": get_spark_s, "inputs_s": t2 - t1, "warmup_s": t3 - t2}
    failed = sum(not o.ok for o in ops)
    e2e = summary(ops, wl.clients, get_spark_s + (t3 - t1))
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": int(trace),
        "env": knobs,
        "phases": phases,
        "ops": len(ops),
        "failed": failed,
        "wall_s": wall_s,
        "latencies_s": [o.latency_s for o in ops],
        "summary": {k: v for k, (v, _) in e2e.items()},
    }
    if trace:
        spans_path = os.path.join(work_root, f"spans-{args.workload}-s{args.seed}.jsonl")
        tracer.write(spans_path)
        metrics, record["untagged_jobs"] = layers.per_layer(
            tracer, os.path.join(work, "eventlog"), ops, phases, (epoch0, epoch1), e2e,
            row_bytes=getattr(wl, "row_bytes", 0.0),
        )
        record["spans_file"] = os.path.relpath(spans_path)
    else:
        metrics = {k: e2e[k] for k in END_TO_END}
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    print(json.dumps({"perfbench": record}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


# ------------------------------------------------------------------ compare


def _records(path: str) -> dict[tuple[str, int], list[dict]]:
    out: dict[tuple[str, int], list[dict]] = {}
    with open(path) as f:
        for line in f:
            if line.startswith('{"perfbench"'):
                rec = json.loads(line)["perfbench"]
                out.setdefault((rec["workload"], rec["trace"]), []).append(rec)
    return out


def compare(base_path: str, new_path: str) -> int:
    """Per-workload, per-metric medians of two result files (each holds the
    stdout of one or more runs) and their ratio, always printed with its
    base. Where one file holds an untraced and a traced run of a workload,
    the tracing overhead is printed too."""
    base, new = _records(base_path), _records(new_path)
    for key in sorted(set(base) | set(new)):
        workload, trace = key
        b, n = base.get(key, []), new.get(key, [])
        print(f"== {workload} ({'per-layer, traced' if trace else 'end-to-end'}); "
              f"runs: base {len(b)}, new {len(n)}")
        names = sorted({m for r in b + n for m in r["metrics"]})
        for m in names:
            bv = [r["metrics"][m] for r in b if m in r["metrics"]]
            nv = [r["metrics"][m] for r in n if m in r["metrics"]]
            bm = statistics.median(bv) if bv else None
            nm = statistics.median(nv) if nv else None
            if bm is None or nm is None:
                print(f"  {m:48s} base {bm!s:>14}  new {nm!s:>14}")
            elif bm == 0:
                print(f"  {m:48s} base {bm:14.6g}  new {nm:14.6g}  ratio n/a (base 0)")
            else:
                print(f"  {m:48s} base {bm:14.6g}  new {nm:14.6g}  "
                      f"new/base {nm / bm:7.3f} (base {bm:.6g})")
    for label, recs in (("base", base), ("new", new)):
        for (workload, trace), rs in sorted(recs.items()):
            plain = recs.get((workload, 0))
            if not trace or not plain:
                continue
            p = statistics.median(r["summary"]["op_p50_s"] for r in plain)
            t = statistics.median(r["summary"]["op_p50_s"] for r in rs)
            print(f"{label}: {workload} tracing overhead on op_p50_s: "
                  f"traced {t:.6g} s - untraced {p:.6g} s = {t - p:+.6g} s "
                  f"(ratio {t / p:.3f}, base untraced {p:.6g} s)")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("lookup", "batch_mix"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--compare", nargs=2, metavar=("BASE", "NEW"))
    args = ap.parse_args(argv)
    if args.compare:
        return compare(*args.compare)
    if not args.workload:
        ap.error("--workload is required")
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
