"""Product-path benchmark: ExampleGen from entity spine to written examples.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process, one client: the benchmark
starts a Spark session with ``SPARK_GRAFT_CPUS`` set to the number of usable
cores, runs the workload's ``generate_examples`` call in a closed loop for
``--seconds`` after a cold and two warm-up iterations, checks every output,
and prints each metric by name with its unit. The last line of standard
output is one JSON object with the results.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics: each iteration runs the full call and then every layer
on a materialized copy of its input, inside spans that carry the Spark
counters of the jobs they submitted. The spans are written to
``.perfbench/traces/``. See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "tfx_addons_feast_examplegen_spark"
WORK = os.path.join(ROOT, ".perfbench")
# The driver JVM's heap, fixed at start (-Xms = -Xmx) so G1 does not resize
# it at times that differ from run to run.
HEAP = "2g"

E2E_UNITS = {
    "setup_s": "s",
    "run_s": "s",
    "examples_per_s": "1/s",
    "bytes_per_example": "B",
    "peak_rss_mb": "MB",
}


def _prepare_env(cpus: int) -> None:
    """Environment the session and its Python workers need. Everything they
    write stays under the checkout's ``.perfbench`` directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            # No hsperfdata file in the system /tmp.
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP}"),
            "pyspark-shell",
        ]
    )


def _unit(name: str) -> str:
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_us_per_row"):
        return "us"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith("scan_amplification"):
        return "ratio"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    _prepare_env(len(os.sched_getaffinity(0)))
    sys.path.insert(0, ROOT)
    from perfbench.bench import WORKLOADS, Bench

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    bench = Bench(WORK, args.workload, args.seed, bool(args.trace))
    try:
        metrics = bench.run(args.seconds)
    finally:
        bench.close()

    for name, value in metrics.items():
        print(f"{name:34s} {value:14.6f} {_unit(name)}")
    for name, value, unit, note in bench.notes:
        print(f"{name:34s} {value:14.6f} {unit}  {note}".rstrip())
    for err in bench.errors:
        print(f"check failed: {err}")
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
