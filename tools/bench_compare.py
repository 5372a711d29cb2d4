"""Compare bench runs: per-query min across given run files vs an
anchor (default BENCH_ANCHOR_r14.json). Prints the biggest absolute
and relative movers plus totals.

Usage::

    python tools/bench_compare.py run1.json [run2.json ...] \
        [--anchor BENCH_ANCHOR_r14.json] [--top 40]
"""

from __future__ import annotations

import argparse
import json


def load_queries(path: str) -> dict[str, float]:
    """Per-query seconds from a ``bench.py`` result object, or from a
    recorded run whose ``tail`` holds the lines the bench printed. When
    the tail cut off the long ``{"queries": ...}`` line, the small
    ``{"queries_rounded": ...}`` chunk lines printed after it are
    assembled instead."""
    with open(path) as f:
        text = f.read()
    try:
        doc = json.loads(text)
    except json.JSONDecodeError:
        doc = json.loads(text.splitlines()[0])
    if "queries" in doc:
        return doc["queries"]
    tail = doc.get("tail", "")
    for marker in ('{"queries":', '{"metric"'):
        start = tail.find(marker)
        if start >= 0:
            obj = json.loads(tail[start:].splitlines()[0])
            if "queries" in obj:
                return obj["queries"]
    rounded: dict[str, float] = {}
    for line in tail.splitlines():
        if line.startswith('{"queries_rounded"'):
            rounded.update(json.loads(line)["queries_rounded"])
    if rounded:
        return rounded
    raise ValueError(f"no queries map in {path}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("runs", nargs="+")
    ap.add_argument("--anchor", default="/root/repo/BENCH_ANCHOR_r14.json")
    ap.add_argument("--top", type=int, default=40)
    args = ap.parse_args()

    runs = [load_queries(p) for p in args.runs]
    cur: dict[str, float] = {}
    for q in runs:
        for name, t in q.items():
            cur[name] = min(cur.get(name, float("inf")), t)
    anchor = load_queries(args.anchor)

    shared = sorted(set(cur) & set(anchor))
    rows = [
        (name, cur[name], anchor[name], cur[name] - anchor[name],
         cur[name] / anchor[name] if anchor[name] > 0 else float("inf"))
        for name in shared
    ]
    print(f"current total (min across {len(runs)} runs): "
          f"{sum(cur.values()):.2f}s over {len(cur)} queries")
    print(f"anchor total: {sum(anchor.values()):.2f}s over {len(anchor)}")
    print(f"shared ({len(shared)}): cur {sum(cur[n] for n in shared):.2f}s "
          f"vs anchor {sum(anchor[n] for n in shared):.2f}s")
    only_cur = set(cur) - set(anchor)
    if only_cur:
        print(f"new queries: { {n: cur[n] for n in sorted(only_cur)} }")

    print(f"\n== biggest absolute regressions (cur - anchor), top {args.top} ==")
    for name, c, a, d, r in sorted(rows, key=lambda x: -x[3])[: args.top]:
        print(f"{d:+7.3f}  {r:5.2f}x  cur {c:7.3f}  anc {a:7.3f}  {name}")
    print(f"\n== biggest absolute improvements, top {args.top} ==")
    for name, c, a, d, r in sorted(rows, key=lambda x: x[3])[: args.top]:
        print(f"{d:+7.3f}  {r:5.2f}x  cur {c:7.3f}  anc {a:7.3f}  {name}")
    return 0


if __name__ == "__main__":
    main()
