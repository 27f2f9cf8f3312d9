"""Rotate the driver correctness window for the next round.

The driver's per-round CORRECTNESS_r{N}.json records only the first 50
registry entries (the window pinned by ``_FRONT`` in
``queries/__init__.py``). Each round the window must rotate to queries
with no green row yet. This tool automates the rotation:

    python tools/rotate_window.py CORRECTNESS_r01.json CORRECTNESS_r02.json ...

1. Collects every query key with a PASSING row (rows+schema+hash match,
   or a rows-only weak row with no error) in ANY given file.
2. Any window key that FAILED stays in the window (it must be re-proven
   after the fix); remaining slots fill with never-checked keys in
   registry order, then with the STALEST previously-green keys (ordered
   by the round of their most recent green row, oldest first) so every
   key keeps getting re-proven on a rotating schedule.
3. Rewrites the ``_FRONT`` tuple in place and prints a summary.

Run the registry guard afterwards:
    python -m pytest tests/test_registry.py -q
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WINDOW = 50
INIT_PATH = os.path.join(REPO, "hawaiidatapipeline_spark", "queries", "__init__.py")


def row_is_green(row: dict) -> bool:
    # weak (declared no-oracle) rows: green when the Spark side ran
    if row.get("err") == "no_oracle":
        return row.get("spark_rows") is not None
    if row.get("err"):
        return False
    return bool(
        row.get("rows_match") and row.get("schema_match") and row.get("hash_match")
    )


def main() -> int:
    from hawaiidatapipeline_spark.queries import collect

    green: set[str] = set()
    failed: set[str] = set()
    last_green_round: dict[str, int] = {}
    for path in sys.argv[1:]:
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        data = json.load(open(path))
        for name, row in data.items():
            if row_is_green(row):
                green.add(name)
                last_green_round[name] = max(last_green_round.get(name, 0), rnd)
            else:
                failed.add(name)
    failed -= green  # green in any round wins

    queries, _ = collect()
    all_keys = list(queries)
    unchecked = [k for k in all_keys if k not in green and k not in failed]
    # failed window keys first (must re-prove), then never-checked, then the
    # stalest previously-green keys (oldest last-green round first; registry
    # order breaks ties) so every key re-proves on a rotating schedule.
    order = {k: i for i, k in enumerate(all_keys)}
    stale = sorted(
        (k for k in all_keys if k in green),
        key=lambda k: (last_green_round.get(k, 0), order[k]),
    )
    new_front = ([k for k in all_keys if k in failed] + unchecked + stale)[:WINDOW]

    src = open(INIT_PATH).read()
    body = ",\n    ".join(
        ", ".join(repr(k) for k in new_front[i : i + 3]) for i in range(0, len(new_front), 3)
    )
    new_tuple = f"_FRONT: tuple[str, ...] = (\n    {body},\n)"
    out, n = re.subn(
        r"_FRONT: tuple\[str, \.\.\.\] = \([^)]*\)", new_tuple, src, count=1
    )
    if n != 1:
        print("ERROR: _FRONT tuple not found/replaced", file=sys.stderr)
        return 1
    # Keep the descriptive comment above the tuple in sync with the rewrite
    # (ADVICE r12: a stale "Round-4 window" comment misdescribed the list).
    n_unchecked = len([k for k in new_front if k in unchecked])
    n_stale = len([k for k in new_front if k in green])
    desc = (
        f"# Current window (tool-rewritten): {len(new_front)} keys — "
        f"{len(failed)} failed-to-reprove, {n_unchecked} never-checked,\n"
        f"# then the {n_stale} stalest greens (earliest last-checked round first)."
    )
    out = re.sub(
        r"# (?:Round-\S+ window|Current window \(tool-rewritten\)):[^\n]*\n#[^\n]*\n(?=_FRONT)",
        desc + "\n",
        out,
        count=1,
    )
    open(INIT_PATH, "w").write(out)
    print(
        f"green={len(green)} failed={sorted(failed)} "
        f"window={len(new_front)} still-unchecked-after-window="
        f"{max(0, len(unchecked) - len([k for k in new_front if k in unchecked]))}"
    )
    print("new window:", new_front)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
