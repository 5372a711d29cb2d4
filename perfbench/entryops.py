"""What sql_warm and curate_cold share: ops that call the entry module's
``queries()`` and collect the result, and the checks on their answers.

A result is compared in the normal form of ``oracle.normalize``, against
DuckDB's answer (``oracle.compare``) or against a committed fingerprint of
it (``goldens.json``).
"""

from __future__ import annotations

import os

import oracle
from harness import BENCH_DIR, CheckFailed


def load(spec: dict, workload: str):
    """(entry module, queries(), data dir) for a workload's spec."""
    import __spark_entry__ as entry

    queries = entry.queries()
    unknown = sorted(set(spec["ops"]) - set(queries))
    if unknown:
        raise SystemExit(f"perfbench: {workload} ops missing from queries(): {unknown}")
    return entry, queries, os.path.join(BENCH_DIR, spec["data"])


def warm_up(run, queries, names, sf):
    """The set-up's warm-up: collect each named query once."""

    def run_them():
        for name in names:
            queries[name](run.spark, sf).toPandas()

    return run_them


def collect(run, queries, name, sf):
    """Build the query's plan, then collect it; both are child spans."""
    with run.span(f"{run.current_op}/plan", "entry.plan", parent=run.current_op) as plan:
        df = queries[name](run.spark, sf)
    with run.span(f"{run.current_op}/collect", "entry.collect", parent=run.current_op) as coll:
        pdf = df.toPandas()
    run.op_extra = {
        "plan_s": plan["end"] - plan["start"],
        "collect_s": coll["end"] - coll["start"],
    }
    return pdf


def check_against(name: str, want):
    """Check for an op's pandas result: ``want`` is a normal form or a
    committed fingerprint."""

    def check(pdf):
        got = oracle.normalize(pdf)
        if isinstance(want, dict):
            fp = oracle.fingerprint(got)
            if fp != want:
                raise CheckFailed(f"{name}: fingerprint {fp} vs golden {want}")
        else:
            oracle.compare(name, got, want)

    return check


def run_pass(run, queries, sf, order, pass_id, checks) -> None:
    for name in order:
        run.op(pass_id, name, "entry", lambda n=name: collect(run, queries, n, sf), checks[name])
