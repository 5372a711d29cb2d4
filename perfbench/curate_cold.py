"""curate_cold: the curation queries, cold then warm.

The run's one cycle drops every shared asset and cached frame
(``release_shared()`` and ``spark.catalog.clearCache()``), runs the
frozen op list once in a seeded order (the cold pass, which pays the
shared-asset builds) and then again with the assets resident (the warm
pass). Results are checked against fingerprints of the DuckDB oracles'
answers, committed in ``goldens.json``.
"""

from __future__ import annotations

import random

import entryops
import oracle


def main(run, t_process: float, spec: dict, segment) -> dict:
    entry, queries, sf = entryops.load(spec, "curate_cold")
    goldens = oracle.load_goldens(spec["data"])["duckdb"]
    checks = {name: entryops.check_against(name, goldens[name]) for name in spec["ops"]}
    rng = random.Random(run.seed)

    def built():
        return sum(entry.shared_build_sec().values()), len(entry.shared_build_sec())

    def one_pass(order, pass_id):
        s0, n0 = built()
        got = run.timed_pass(
            pass_id, lambda: entryops.run_pass(run, queries, sf, order, pass_id, checks)
        )
        s1, n1 = built()
        run.pass_info[pass_id] = {"shared_build_s": s1 - s0, "shared_assets_built": n1 - n0}
        return got

    def cycle(pass_id: str):
        """Drop the shared assets, then the cold pass and the warm pass;
        the cold pass is the one the cycle reports."""
        order = list(spec["ops"])
        rng.shuffle(order)
        entry.release_shared()
        run.spark.catalog.clearCache()
        cold = one_pass(order, f"{pass_id}c")
        run.warm_passes.append(one_pass(order, f"{pass_id}w"))
        return cold

    run.setup(t_process, entryops.warm_up(run, queries, spec["warm_up"], sf))
    return segment(cycle)
