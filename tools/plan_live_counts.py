"""Distinct-operator-ID plan metrics from a formatted explain capture.

Formatted explain prints a cached (InMemoryRelation) subtree inline at
EVERY consumer, re-using the same operator ids — so raw substring
counts (tools/sweep_plan_quality.py) overstate the work of plans with
persisted frames. Counting DISTINCT operator ids gives the number of
physical operators that actually execute (a cache subtree builds once).

Usage: python tools/plan_live_counts.py plans/r13/*.txt
"""

from __future__ import annotations

import re
import sys


def live_counts(text: str) -> dict:
    ops: dict[int, str] = {}
    for line in text.splitlines():
        if line.startswith("==") or not line.strip():
            continue
        # match the operator name + trailing (id); formatted detail
        # sections ("(14) Exchange") are skipped by requiring the tree
        # prefix characters before the name.
        m = re.search(r"(?:^|[+:]\-\s|^\s{0,3})([A-Za-z][A-Za-z0-9]*(?: [A-Za-z]+)*?)\s*(?:\[[^\]]*\]\s*)?\((\d+)\)", line)
        if not m:
            continue
        name, oid = m.group(1), int(m.group(2))
        # detail section lines look like "(14) Exchange" — name after id
        if line.strip().startswith("("):
            continue
        ops.setdefault(oid, name.strip())
    counts: dict[str, int] = {}
    for name in ops.values():
        key = name.split(" ")[0]
        counts[key] = counts.get(key, 0) + 1
    out = {
        "live_exchange": counts.get("Exchange", 0),
        "live_broadcast_exchange": counts.get("BroadcastExchange", 0),
        "live_scan_parquet": counts.get("Scan", 0),
        "live_window": counts.get("Window", 0),
        "live_sort": counts.get("Sort", 0),
        "live_inmemory_relations": len(
            {oid for oid, n in ops.items() if n.startswith("InMemoryRelation")}
        ),
        "joins": {
            k: v
            for k, v in counts.items()
            if "Join" in k or k == "CartesianProduct"
        },
        "n_ops": len(ops),
    }
    return out


def main() -> None:
    for path in sys.argv[1:]:
        with open(path) as f:
            text = f.read()
        c = live_counts(text)
        print(
            f"{path.split('/')[-1]:55s} exch={c['live_exchange']:3d} bcast={c['live_broadcast_exchange']:2d} "
            f"scans={c['live_scan_parquet']:3d} window={c['live_window']:2d} sort={c['live_sort']:2d} "
            f"imr={c['live_inmemory_relations']} joins={c['joins']}"
        )


if __name__ == "__main__":
    main()
