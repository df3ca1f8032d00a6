"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run from the repository root. Prints three lines on stdout: the host record
(not gated), a human-readable report of every end-to-end metric with its
unit, and last the result object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs the same workload with spans, Spark counters and the event log on, and
reports the per-layer metrics instead.

All scratch output (inputs, silver tables, checkpoints, captures, warehouse,
metastore, event log, Spark local dirs) lives in a temporary directory under
``.perfbench_tmp/`` that is removed when the run ends; the traced run's spans
are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = {
    "dashboard": "perfbench.dashboard:Dashboard",
    "corpus": "perfbench.corpus:Corpus",
    "ingest": "perfbench.ingest:Ingest",
}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=tuple(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "xboard_spark")):
        print(f"no xboard_spark package under {ROOT}", file=sys.stderr)
        return 2

    from perfbench import harness
    from perfbench.tracing import Tracer

    module, _, name = WORKLOADS[args.workload].partition(":")
    cls = getattr(importlib.import_module(module), name)

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(workdir, sub))
    # everything Python, the Spark launcher and the JVM write goes inside
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ.setdefault("XBOARD_DRIVER_MEM", "2g")
    tempfile.tempdir = os.environ["TMPDIR"]
    # one task slot: the operations are small, so a second slot did not make
    # them faster, and every busy vCPU is one more the host can steal
    cpus = 1

    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tracer = Tracer(enabled=bool(args.trace))
    try:
        workload = cls(args.seed, workdir, tracer)
        result = harness.run(workload, args.seconds, cpus)
        if tracer.enabled:
            out = os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl")
            tracer.write(out)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run is using it

    units = harness.END_TO_END if not tracer.enabled else harness.PER_LAYER
    print(json.dumps(result["host"]))
    print(json.dumps(result["report"]))
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    k: {"value": result["metrics"].get(k, 0.0), "unit": u}
                    for k, u in units.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
