"""Freshness map + window-composition audit for the driver rotation.

The driver's correctness harness checks only the FIRST 50 entries of
``queries()`` each round, so every oracled query's "freshness" is the
newest round in which it had a full-green driver row (rows+schema+hash
in CORRECTNESS_r{N}.json). The rotation discipline (VERDICT r9 #1 and
every round since) keeps the stalest members cycling through the
window; the judge recomputes this map every round. This script IS that
recomputation, committed so the builder and the judge run the same
arithmetic:

    python freshness.py            # histogram + stalest cohort + audit
    python freshness.py --json     # machine-readable map

Checks enforced (exit 1 on violation):
  * window has exactly 50 unique names, all registered, all oracled
    (rows-only queries get no driver compare — a window slot would be
    wasted on a weaker check);
  * every oracled query appears in the union(all CORRECTNESS rounds,
    current window) — i.e. nothing oracled can go forever unchecked;
  * the 5 reference-parity pins hold the first 5 slots.

The staleness REPORT is informational: which cohort moves to the front
of the window is a judgment call made when registry.py's _WINDOW is
edited, but the map it starts from should never be hand-derived.
"""

from __future__ import annotations

import glob
import json
import re
import sys
from collections import defaultdict

PARITY_PINS = ["wc", "wc_textfiles", "ii", "mr_wc", "mr_ii"]


def freshness_map() -> tuple[dict[str, int], int]:
    """name -> newest round with a FULL-GREEN driver row; plus the
    newest round number seen on disk (the current round's artifact may
    not exist yet while a round is in progress)."""
    newest: dict[str, int] = {}
    max_round = 0
    for path in sorted(glob.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        max_round = max(max_round, rnd)
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                newest[name] = max(newest.get(name, 0), rnd)
    return newest, max_round


def main(argv: list[str] | None = None) -> int:
    # argv is injectable so the suite can run the audit IN-PROCESS
    # (tests/test_relational.py) instead of paying a subprocess
    # interpreter + registry import per run (VERDICT r18 watch item).
    argv = sys.argv[1:] if argv is None else argv
    from tp1_distribuidos_mapreduce_spark import registry

    newest, max_round = freshness_map()
    oracled = set(registry._ORACLES)
    window = list(registry._WINDOW)

    problems: list[str] = []
    if len(window) != 50:
        problems.append(f"window has {len(window)} entries, driver cap is 50")
    if len(set(window)) != len(window):
        dupes = sorted({n for n in window if window.count(n) > 1})
        problems.append(f"duplicate window entries: {dupes}")
    ghosts = [n for n in window if n not in registry._QUERIES]
    if ghosts:
        problems.append(f"window names not registered: {ghosts}")
    rows_only_in_window = [n for n in window if n not in oracled]
    if rows_only_in_window:
        problems.append(f"rows-only queries in window: {rows_only_in_window}")
    if window[:5] != PARITY_PINS:
        problems.append(
            f"first 5 slots must be the parity pins {PARITY_PINS}, "
            f"got {window[:5]}"
        )
    never = sorted(n for n in oracled if n not in newest and n not in window)
    if never:
        problems.append(
            "oracled queries with NO driver row ever and NO window slot "
            f"this round: {never}"
        )

    byround: dict[int, list[str]] = defaultdict(list)
    for n in sorted(oracled):
        byround[newest.get(n, 0)].append(n)

    if "--json" in argv:
        print(
            json.dumps(
                {
                    "max_round_on_disk": max_round,
                    "n_oracled": len(oracled),
                    "newest_green_round": {
                        n: newest.get(n, 0) for n in sorted(oracled)
                    },
                    "window": window,
                    "problems": problems,
                },
                indent=1,
            )
        )
        return 1 if problems else 0

    def label_of(rnd: int) -> str:
        # round 0 means "never green" — share one label rule with the
        # histogram so the stalest print can't drift (ADVICE r18)
        return f"r{rnd}" if rnd else "never"

    print(f"oracled queries: {len(oracled)}; newest artifact: r{max_round}")
    print("freshness histogram (newest full-green driver row):")
    for rnd in sorted(byround):
        print(f"  {label_of(rnd)}: {len(byround[rnd])}")
    stalest = min(r for r in byround if byround[r])
    print(f"\nstalest cohort ({label_of(stalest)}, front-of-line next round):")
    for n in byround[stalest]:
        mark = " [in current window]" if n in window else ""
        print(f"  {n}{mark}")
    pending = [n for n in window if newest.get(n, 0) < max_round]
    print(
        f"\nwindow: {len(window)} slots; "
        f"{len(pending)} awaiting this round's driver row"
    )
    if problems:
        print("\nAUDIT FAILURES:")
        for p in problems:
            print(f"  * {p}")
        return 1
    print("\nwindow-composition audit: OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
