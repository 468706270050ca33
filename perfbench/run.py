"""Survey-engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload adhoc --seed 1 --seconds 20 --trace 0

Run from the repository root. The input catalog is perfbench/data/, a
copy of the engine's sf0.01 test catalog (FIXTURES.md); every run checks
it against perfbench/data.sha256.json first, and keeps its scratch files
under ``.perfbench_data/``. Human-readable figures go to stdout; the
last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end set, or with ``--trace 1``
the per-layer set from a separately traced run). Exits 1 when a result
check fails, 2 when the engine sources are missing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench_data")
INPUTS = os.path.join(HERE, "data")
WORKLOADS = ["adhoc", "event_ingest"]
NEEDED = ["bench.py", "lsd_spark/registry.py"]


def _sha(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def ensure_data(verify: bool = True) -> dict[str, str]:
    """Check the input catalog by content hash and make the scratch
    directories."""
    dirs = {"base": INPUTS, "work": os.path.join(DATA, "work"),
            "tmp": os.path.join(DATA, "tmp")}
    with open(os.path.join(HERE, "data.sha256.json")) as fh:
        want = json.load(fh) if verify else {}
    for rel, digest in want.items():
        got = _sha(os.path.join(INPUTS, rel))
        if got != digest:
            raise SystemExit(f"input {rel} has sha256 {got}, expected {digest}")
    for d in ("work", "tmp"):
        os.makedirs(dirs[d], exist_ok=True)
    return dirs


def contain(dirs: dict[str, str]) -> None:
    """Keep every temporary file of Python, the JVM and Spark inside
    the data directory, and size the session for a shared host: Spark
    gets half the cores, so its tasks do not compete with the driver,
    the JVM's compiler and GC threads and the Python workers."""
    import tempfile

    cores = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["tmp"]
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = cores
    os.environ.setdefault("LSD_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"engine sources missing: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    os.chdir(ROOT)
    dirs = ensure_data()
    contain(dirs)

    from perfbench.workloads import Run

    with open(os.path.join(HERE, "pins.json")) as fh:
        pins = json.load(fh)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), dirs)
    phases = []
    try:
        for name, step in (("setup", run.setup), ("measure", lambda: run.measure(pins)),
                           ("check", run.check)):
            t = time.perf_counter()
            got = step()
            phases.append(f"{name} {time.perf_counter() - t:.1f}s")
            if name == "setup":
                setup_s = got
    finally:
        run.close()
    print("# phases: " + ", ".join(phases), file=sys.stderr)

    e2e, extra = run.end_to_end(setup_s), run.extra_report()
    print(f"# {args.workload} seed={args.seed} trace={args.trace}")
    print("# passes (run order, s): " + " ".join(f"{w:.3f}" for w in run.pass_walls))
    print(f"# request tail: {run.tail_note}")
    print(f"# host CPU steal during the passes: {100 * run.steal:.1f}%")
    print("# median ms by request: " + ", ".join(
        f"{k}={v:.0f}" for k, v in sorted(run.by_name().items())))
    shown = {**e2e, **extra}
    if args.trace:
        shown.update(run.per_layer())
        shown.update({f"self_s.{k}": (v, "s") for k, v in sorted(run.self_times().items())})
        spans = os.path.join(DATA, "traces", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        run.dump_spans(spans)
        print(f"# spans written to {os.path.relpath(spans, ROOT)}")
    for name, (value, unit) in shown.items():
        print(f"{name:40s} {value:14.4f} {unit}")
    for msg in run.failures:
        print(f"FAILED: {msg}")
    metrics = run.per_layer() if args.trace else e2e
    out = {
        "correct": not run.failures,
        "attempted": len(run.requests),
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0 if not run.failures else 1


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"# wall {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
