"""Record the committed answers ``goldens.json`` holds.

    python3 perfbench/make_goldens.py

Answers are keyed by data directory, for every data directory that
``spec.json`` or the tests' ``tiny_spec.json`` uses:

- ``duckdb``: for every curate_cold op, the fingerprint of the DuckDB
  oracle's answer (``oracle_sql()``) at the workload's data directory;
  running the oracles on every benchmark run would take longer than the
  run itself.
- ``engine``: for the sql_warm ops that have no oracle (sketch
  estimates), the fingerprint of the engine's own answer. These are
  regression goldens of the commit that recorded them, not proofs of
  correctness.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import oracle  # noqa: E402


SPECS = [os.path.join(HERE, "spec.json"), os.path.join(HERE, "tests", "tiny_spec.json")]


def main() -> None:
    wanted: dict[str, dict[str, set]] = {}
    for path in SPECS:
        with open(path, encoding="utf-8") as f:
            spec = json.load(f)["workloads"]
        for wl in ("sql_warm", "curate_cold"):
            got = wanted.setdefault(spec[wl]["data"], {"sql_warm": set(), "curate_cold": set()})
            got[wl].update(spec[wl]["ops"])
    run = harness.Run("goldens", 0, 0, False, "")
    run.environment()
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    Q = entry.queries()
    out: dict[str, dict] = {}
    try:
        spark = run.start_session()
        for data, ops in sorted(wanted.items()):
            sf = os.path.join(HERE, data)
            section = out[data] = {"duckdb": {}, "engine": {}}
            con = oracle.duck_connect(sf)
            for name in sorted(ops["curate_cold"]):
                section["duckdb"][name] = oracle.fingerprint(oracle.normalize(con.execute(sql[name]).df()))
            con.close()
            for name in sorted(n for n in ops["sql_warm"] if n not in sql):
                section["engine"][name] = oracle.fingerprint(oracle.normalize(Q[name](spark, sf).toPandas()))
    finally:
        run.stop_session()
        run.cleanup()
    with open(oracle.GOLDENS, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
