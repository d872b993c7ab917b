"""Benchmark entry point.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Prints an environment record, a run
summary, and as the last line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics declared in
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics of
one extra traced pass, and the full span record is written to
``perfbench/out/``. Every file the run makes lives under its own
directory in ``perfbench/out/`` and is removed at the end, except that
record. See ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / "perfbench" / "out"

#: units of every metric the result line can carry
UNITS = {"setup_s": "s", "wall_s": "s", "latency_p50_ms": "ms"}


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith(".bytes"):
        return "bytes"
    if name == "shuffle.records_per_output_row":
        return "ratio"
    return "count"


def _source_digest() -> str:
    h = hashlib.sha256()
    files = sorted((ROOT / "real_estate_bigdata_spark").rglob("*.py"))
    for f in [ROOT / "__spark_entry__.py", *files]:
        h.update(f.relative_to(ROOT).as_posix().encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def _git_commit() -> str:
    try:
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except OSError:
        return "unknown"
    return res.stdout.strip() if res.returncode == 0 else "unknown"


def cpu_times() -> list[int]:
    """The host-wide CPU time counters of ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal), in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """The share of CPU time the hypervisor gave to other guests between
    two ``cpu_times()`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def environment(n: int) -> dict:
    import numpy
    import pyspark

    load = os.getloadavg()[0]
    return {
        "nproc": n,
        "loadavg_1m_before": load,
        "contended": load > n,
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_commit": _git_commit(),
        "source_digest": _source_digest(),
    }


def prepare(run_dir: Path) -> None:
    """Point every scratch location of the JVM and the Python workers at
    ``run_dir`` (they inherit the environment) and make the checkout's
    packages importable by the workers."""
    from perfbench.workloads import nproc

    (run_dir / "tmp").mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["curation", "listing_lambda"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("__spark_entry__.py", "real_estate_bigdata_spark/__init__.py")
               if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: program under test not found: {missing}", file=sys.stderr)
        return 2

    sys.path.insert(0, str(ROOT))
    from perfbench import workloads

    n = workloads.nproc()
    run_dir = OUT / f"run-{args.workload}-{os.getpid()}-{time.time_ns()}"
    prepare(run_dir)
    env = environment(n)
    cfg = workloads.Config(seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
                           run_dir=str(run_dir))
    session = workloads.Session(str(run_dir))
    ticks = cpu_times()
    try:
        outcome = workloads.WORKLOADS[args.workload](cfg, session)
        env["java"] = session.java_version()
    finally:
        session.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    env["loadavg_1m_after"] = os.getloadavg()[0]
    env["steal_share"] = steal_share(ticks, cpu_times())

    error_rate = outcome.failed / outcome.attempted
    summary = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "error_rate": error_rate,
        "problems": outcome.problems, "end_to_end": outcome.metrics, **outcome.record,
    }
    if args.trace:
        summary["per_layer"] = outcome.layers
        OUT.mkdir(exist_ok=True)
        path = OUT / f"trace-{args.workload}-seed{args.seed}.json"
        path.write_text(json.dumps(summary, indent=1, default=str))
        summary = {k: v for k, v in summary.items() if k != "trace"}
        summary["trace_record"] = str(path.relative_to(ROOT))
    print("perfbench-run " + json.dumps(summary, default=str))

    chosen = outcome.layers if args.trace else outcome.metrics
    units = (lambda k: _layer_unit(k)) if args.trace else UNITS.__getitem__
    result = {
        "correct": outcome.failed == 0 and not outcome.problems,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": units(k)} for k, v in chosen.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
