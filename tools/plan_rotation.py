"""Plan the next round's driver-gate window rotation.

The external gate verifies only the FIRST 50 `__spark_entry__.queries()`
entries each round, and the registry guard test bounds staleness at two
rounds (every slot-51+ entry must be green in one of the TWO most
recent CORRECTNESS_r*.json files — "verified last round, skipped this
round" is the steady state the rotation maintains). This tool computes, from the CORRECTNESS history
and the current registration order, the set that MUST be front-loaded
next round and proposes a full ordering (must-rotate first, ordered by
recorded gate cost descending so the expensive rows spread across
rounds' cold-start budgets), leaving the remaining window slots for the
round's new/changed queries.

Usage:  python tools/plan_rotation.py [--window 50]
Exit 1 if the CURRENT order already violates the staleness bound (same
condition as tests/test_query_oracles.py::test_registry_window_policy);
it then prints the front-load that mends it: the stale entries,
gate-cost-descending, ahead of the current window.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def load_rounds() -> dict[int, dict]:
    rounds = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        try:
            rounds[int(m.group(1))] = json.load(open(path))
        except Exception:
            pass
    return rounds


def green(row: dict) -> bool:
    return bool(row.get("rows_match") and row.get("schema_match")
                and row.get("hash_match"))


def print_by_cost(names: list[str], times: dict[str, float]) -> None:
    for n in names:
        print(f"  {n:34s} {times.get(n, float('nan')):6.1f}s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--window", type=int, default=50)
    args = ap.parse_args(argv)

    import __spark_entry__ as E
    names = list(E.queries().keys())
    rounds = load_rounds()
    if not rounds:
        print("no CORRECTNESS files yet — nothing to rotate")
        return 0
    latest_n = max(rounds)
    latest_green = {n for n, row in rounds[latest_n].items() if green(row)}
    # same two-round acceptance as the guard test: a beyond-window entry
    # is fine if its newest green row is at most one round old
    recent_green = {n for r in sorted(rounds)[-2:]
                    for n, row in rounds[r].items() if green(row)}
    try:
        times = json.load(open(os.path.join(REPO, "BENCH",
                                            "gate_times.json")))["spark_secs"]
    except Exception:
        times = {}

    def cost_desc(ns: list[str]) -> list[str]:
        return sorted(ns, key=lambda n: -times.get(n, 0.0))

    beyond = names[args.window:]
    print(f"registry: {len(names)} queries; window {args.window}; "
          f"latest driver round r{latest_n} ({len(latest_green)} green)")
    stale_now = cost_desc([n for n in beyond if n not in recent_green])
    if stale_now:
        free = args.window - len(stale_now)
        print(f"VIOLATION — {len(stale_now)} beyond-window entries without "
              f"a green row in the two most recent rounds.\n"
              f"proposed front-load (gate-cost-descending), then the first "
              f"{max(free, 0)} entries of the current window:")
        print_by_cost(stale_now, times)
        return 1

    # after the NEXT driver round, today's window becomes r{latest+1}-green
    # and today's beyond-window entries (green only in r{latest}) must
    # rotate in — they are next round's mandatory front-load
    must_rotate = cost_desc([n for n in beyond if n in latest_green])
    free = args.window - len(must_rotate)
    print(f"\nnext-round window plan: front-load these {len(must_rotate)} "
          f"(gate-cost-descending), then up to {free} new/changed entries:")
    print_by_cost(must_rotate, times)
    print(f"\nfree slots for new/changed queries next round: {free}")
    print("surface headroom before the 2-round staleness bound becomes "
          f"unsatisfiable: {2 * args.window - len(names)} more queries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
