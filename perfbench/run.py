"""Benchmark of the wroclaw_bike_stats_spark engine.

    python3 perfbench/run.py --workload sql_warm --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (frozen in perfbench/spec.json):
``sql_warm``, ``curate_cold`` and ``bike_pipeline``. Each run is one closed
loop with one client on ``local[<cores>]``: it sets up once (``setup_s``:
from process start to the end of the workload's warm-up, input generation
left out), then either runs priming passes and whole passes until
``--seconds`` have gone by (``sql_warm``), or runs the one pass that
defines a cold process (``curate_cold``, ``bike_pipeline``). Every op's
output is checked.

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the same run is made
with the Spark event log on, and the metrics are the per-layer ones folded
from it and from the benchmark's spans, plus the tracing overhead against
the median of the untraced runs in this checkout with the same spec and
seed (any seed when there is none). The line before it carries the
details (workload-only metrics, sample counts, failures).
"""

from __future__ import annotations

import sys
import time

T_PROCESS = time.perf_counter()
# No bytecode caches: a run writes nothing outside perfbench/.work.
sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import layers  # noqa: E402

SPEC = os.path.join(HERE, "spec.json")


def python_worker_preflight(spark) -> None:
    """Abort unless a Python worker can import the engine: every UDF op
    would fail otherwise, and the run would only measure the failures."""
    from pyspark.sql.functions import udf

    @udf("string")
    def engine_file(_):
        import wroclaw_bike_stats_spark

        return wroclaw_bike_stats_spark.__file__

    try:
        spark.range(1).select(engine_file("id")).collect()
    except Exception as e:  # noqa: BLE001 - reported and fatal
        raise SystemExit(
            "perfbench: a Python worker cannot import wroclaw_bike_stats_spark "
            f"(is the repo root on PYTHONPATH?): {str(e).splitlines()[0][:300]}"
        ) from e


def make_segment(run: harness.Run, prime: int):
    """The measuring part every workload shares: the preflight, then either
    ``prime`` priming passes and whole passes until ``run.seconds`` have
    gone by, or, for a workload that is defined by its first pass in a
    fresh process (``prime`` = 0), exactly that one pass."""

    def segment(one_pass) -> dict:
        python_worker_preflight(run.spark)
        if not prime:
            return {"prime": [], "window": run.passes("p", 0, one_pass)}
        return {
            "prime": [one_pass(f"prime{i}") for i in range(prime)],
            "window": run.passes("p", run.seconds, one_pass),
        }

    return segment


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spec", default=SPEC, help="workload definitions (default: perfbench/spec.json)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(args.spec, encoding="utf-8") as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    for need in ("__spark_entry__.py", "wroclaw_bike_stats_spark"):
        if not os.path.exists(os.path.join(harness.REPO_ROOT, need)):
            print(f"perfbench: engine not found: {need} is missing", file=sys.stderr)
            return 2

    wl_spec = spec["workloads"][args.workload]
    # names what this workload runs; the traced runs' baseline must match it
    spec_key = hashlib.sha256(json.dumps(wl_spec, sort_keys=True).encode()).hexdigest()[:16]
    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), spec_key)
    run.environment()
    workload = importlib.import_module(args.workload)
    try:
        segment = make_segment(run, wl_spec.get("prime", 0))
        windows = workload.main(run, T_PROCESS, wl_spec, segment)
        run.stop_session()
        report = layers.report(run, windows)
        run.write_spans({"windows": windows, "report": report})
        if not run.trace and report["result"]["correct"]:
            layers.record_untraced(run, report["result"]["metrics"]["pass_s"]["value"])
    finally:
        run.shutdown_jvm()
        run.cleanup()
    print(json.dumps({"workload": args.workload, "seed": args.seed, **report["details"]}))
    print(json.dumps(report["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
