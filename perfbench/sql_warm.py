"""sql_warm: relational/event entry queries on a warm session.

Each pass runs every op of the frozen list once, in an order drawn from
the seed, and collects its result to pandas. Plan building (the
``queries()[q](spark, sf)`` call) and collection are timed apart. Every
result is checked against DuckDB running the query's ``oracle_sql()``
text on the same parquet files, or, for a query without an oracle,
against the committed engine golden.
"""

from __future__ import annotations

import random

import entryops
import oracle


def expected_results(entry, spec: dict, sf: str) -> dict:
    """name → normal form of the right answer, or its golden fingerprint."""
    sql = entry.oracle_sql()
    goldens = oracle.load_goldens(spec["data"])["engine"]
    con = oracle.duck_connect(sf)
    try:
        return {
            name: oracle.normalize(con.execute(sql[name]).df()) if name in sql else goldens[name]
            for name in spec["ops"]
        }
    finally:
        con.close()


def main(run, t_process: float, spec: dict, segment) -> dict:
    entry, queries, sf = entryops.load(spec, "sql_warm")
    rng = random.Random(run.seed)
    run.setup(t_process, entryops.warm_up(run, queries, spec["warm_up"], sf))
    want = expected_results(entry, spec, sf)
    checks = {name: entryops.check_against(name, want[name]) for name in spec["ops"]}

    def shuffled_pass(pass_id: str):
        order = list(spec["ops"])
        rng.shuffle(order)
        return run.timed_pass(
            pass_id, lambda: entryops.run_pass(run, queries, sf, order, pass_id, checks)
        )

    return segment(shuffled_pass)
