#!/usr/bin/env python
"""Stalest-evidence-first driver-window rotation (r11 verdict task 1).

Policy: each round the
DRIVER_WINDOW slots go to

  1. one sentinel per SURVEY.md §2 family — the family's STALEST member
     (so sentinels rotate too, they are not pinned names), then
  2. the globally stalest remaining entries,

where staleness = the last round with a driver-green row in any
CORRECTNESS_r*.json (rows_match and no err).  Ties break on current
registry insertion order.  tests/test_registry_lint.py keeps the family
constraint honest; this tool makes the staleness half mechanical.

Usage:  python tools/rotate_window.py            # print ledger + window
        python tools/rotate_window.py --emit     # print the QUERIES block
        python tools/rotate_window.py --snapshot # pin docs/WINDOW_LEDGER.json

--snapshot records the ledger AND the selected window at rotation time;
tests/test_registry_lint.py::test_window_matches_rotation_policy replays
the selection from that snapshot, so the lint stays green when later
CORRECTNESS files land (they refresh the ledger but not the pinned
selection) and fails loudly if someone hand-edits the window.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from airflow_postgres_to_s3_pipeline_spark import registry  # noqa: E402

REPO = os.path.join(os.path.dirname(__file__), "..")


def evidence_ledger() -> dict[str, int]:
    """name -> last driver-green round (0 if never).

    Green requires the TYPED hash too (when present): r13's
    vocab_growth_curve had rows_match=true / hash_match=false, and counting
    that as green would rotate a failing entry OUT of the window exactly
    when it must be re-tested.
    """
    last: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        with open(f) as fh:
            results = json.load(fh)
        for name, row in results.items():
            if (
                row.get("rows_match")
                and row.get("err") is None
                and row.get("hash_match") is not False
            ):
                last[name] = max(last.get(name, 0), rnd)
    return {n: last.get(n, 0) for n in registry.QUERIES}


OVERLAP_COHORT = 10


def select_window(
    last: dict[str, int] | None = None,
    prev_window: list[str] | tuple[str, ...] = (),
) -> list[str]:
    """Stalest-first selection, with a deliberate overlap cohort.

    ``prev_window`` is last rotation's window: at least OVERLAP_COHORT of
    its members are kept in the new window so the driver's round-over-round
    comparison always has ``n_common > 0`` (r13's 100% rotation made PERF's
    correctness/perf deltas vacuous — 50 "dropped"/49 "new", all noise).
    Cohort members are the stalest of the previous window, so they are
    still the entries whose evidence ages first.
    """
    last = last or evidence_ledger()
    order = {n: i for i, n in enumerate(registry.QUERIES)}
    key = lambda n: (last[n], order[n])  # noqa: E731

    window: list[str] = []
    seen: set[str] = set()
    # One sentinel per family must fit; more families than window slots
    # would silently push the "stalest remaining" half out entirely.
    assert len(registry.FAMILIES) <= registry.DRIVER_WINDOW, (
        f"{len(registry.FAMILIES)} families exceed the "
        f"{registry.DRIVER_WINDOW}-slot driver window"
    )
    for members in registry.FAMILIES.values():
        sentinel = min(members, key=key)
        if sentinel not in seen:
            seen.add(sentinel)
            window.append(sentinel)
    # Overlap cohort: top up with previous-window members (stalest first)
    # until the intersection with the previous window reaches the target.
    prev = [n for n in prev_window if n in order]
    n_common = sum(1 for n in window if n in set(prev))
    for n in sorted(prev, key=key):
        if n_common >= OVERLAP_COHORT or len(window) >= registry.DRIVER_WINDOW:
            break
        if n not in seen:
            seen.add(n)
            window.append(n)
            n_common += 1
    for n in sorted(registry.QUERIES, key=key):
        if len(window) >= registry.DRIVER_WINDOW:
            break
        if n not in seen:
            seen.add(n)
            window.append(n)
    window.sort(key=key)
    return window


def main() -> None:
    last = evidence_ledger()
    # The pre-rotation window (current registry head) is the overlap source;
    # it is pinned in the snapshot so the lint can replay the selection.
    prev_window = list(registry.QUERIES)[: registry.DRIVER_WINDOW]
    window = select_window(last, prev_window)
    if "--snapshot" in sys.argv:
        ages = sorted(last[n] for n in window)
        all_ages = sorted(last.values())
        out = {
            "ledger": last,
            "window": window,
            "prev_window": prev_window,
            "window_median_round": ages[len(ages) // 2],
            "registry_median_round": all_ages[len(all_ages) // 2],
        }
        dest = os.path.join(REPO, "docs", "WINDOW_LEDGER.json")
        with open(dest, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
        print(f"pinned {dest}: window median r{out['window_median_round']} "
              f"vs registry median r{out['registry_median_round']}")
        return
    if "--emit" in sys.argv:
        # name -> source expression, read from the current registry module
        src = open(
            os.path.join(
                REPO, "airflow_postgres_to_s3_pipeline_spark", "registry.py"
            )
        ).read()
        exprs = dict(
            re.findall(r'^    "([a-z0-9_]+)": ([\w.]+),$', src, re.M)
        )
        # The regex only parses single-line `"name": dotted.name,` entries;
        # a wrapped or computed value expression would KeyError deep in the
        # loop below — fail up front naming the unparsed entries instead.
        unparsed = [n for n in registry.QUERIES if n not in exprs]
        if unparsed:
            raise SystemExit(
                "--emit cannot parse these registry entries (value must be "
                f"a one-line dotted name): {unparsed}"
            )
        for n in window:
            print(f'    "{n}": {exprs[n]},')
        print("    # -- end of driver window "
              f"({registry.DRIVER_WINDOW}) " + "-" * 37)
        for n in registry.QUERIES:
            if n not in set(window):
                print(f'    "{n}": {exprs[n]},')
        return
    ages = sorted(last[n] for n in window)
    print(f"window of {len(window)}: min r{ages[0]} "
          f"median r{ages[len(ages) // 2]} max r{ages[-1]}")
    for n in window:
        print(f"  r{last[n]:02d} {n}")


if __name__ == "__main__":
    main()
