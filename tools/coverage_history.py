"""Generate COVERAGE_HISTORY.md — the per-key driver-evidence ledger.

VERDICT r8 item 8: coverage claims ("all keys driver-checked") should be
greppable from ONE generated table instead of replaying every
CORRECTNESS_r*.json. For each registry key this records:

- ``first_green``: the first round whose driver row passed,
- ``last_checked``: the most recent round with any driver row,
- ``check``: E (exact oracle declared) or W (weak rows-only by declaration),
- ``status``: green / FAILED / never-checked.

Run with every committed correctness file, newest last:

    python tools/coverage_history.py CORRECTNESS_r*.json

Writes COVERAGE_HISTORY.md. tests/test_registry.py asserts the committed
table matches the committed JSON files, so a stale regeneration fails CI.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.rotate_window import row_is_green

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "COVERAGE_HISTORY.md")


def history(paths: list[str]) -> dict[str, dict]:
    """key -> {first_green, last_checked, last_green, ever_failed}."""
    hist: dict[str, dict] = {}
    for path in sorted(paths):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(path))
        rnd = int(m.group(1)) if m else 0
        data = json.load(open(path))
        rows = data if isinstance(data, dict) else {r["key"]: r for r in data}
        for key, row in rows.items():
            h = hist.setdefault(
                key,
                {"first_green": None, "last_checked": 0, "last_green": None,
                 "ever_failed": False},
            )
            h["last_checked"] = max(h["last_checked"], rnd)
            if row_is_green(row):
                if h["first_green"] is None:
                    h["first_green"] = rnd
                h["last_green"] = (
                    rnd if h["last_green"] is None else max(h["last_green"], rnd)
                )
            else:
                h["ever_failed"] = True
    return hist


def render(paths: list[str]) -> str:
    from hawaiidatapipeline_spark.queries import collect

    queries, oracles = collect()
    hist = history(paths)
    lines = [
        "# COVERAGE_HISTORY — per-key driver evidence (generated)",
        "",
        f"Generated by `tools/coverage_history.py` from "
        f"{len(paths)} CORRECTNESS files. Do not edit by hand — regenerate "
        "after each driver round:",
        "",
        "    python tools/coverage_history.py CORRECTNESS_r*.json",
        "",
        "| key | check | first_green | last_checked | status |",
        "|---|---|---|---|---|",
    ]
    n_green = n_unchecked = n_failed = 0
    for key in queries:
        check = "E" if key in oracles else "W"
        h = hist.get(key)
        if h is None:
            status, first, last = "never-checked", "—", "—"
            n_unchecked += 1
        elif h["first_green"] is None:
            status, first, last = "FAILED", "—", str(h["last_checked"])
            n_failed += 1
        else:
            status = "green"
            first, last = str(h["first_green"]), str(h["last_checked"])
            n_green += 1
        lines.append(f"| {key} | {check} | {first} | {last} | {status} |")
    lines += [
        "",
        f"**Totals: {len(queries)} registry keys — {n_green} green, "
        f"{n_failed} failed, {n_unchecked} never-checked.**",
        "",
    ]
    return "\n".join(lines)


def main() -> int:
    paths = sys.argv[1:]
    if not paths:
        print(__doc__)
        return 2
    with open(OUT, "w") as fh:
        fh.write(render(paths))
    print(f"written {OUT}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
