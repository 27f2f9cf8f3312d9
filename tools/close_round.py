"""Session-close ritual: full correctness sweep + record.

The driver samples ~50 queries per round, so between rounds most of the
inventory is only covered by THIS sweep: every ``queries()`` entry vs its
DuckDB oracle at sf0.01 through ``tools/check_correctness.py`` with a
driver-style plain session. Run it as the LAST step of a working session
(after the final query/operator edit), then commit the record.

Writes ``CLOSING_r{N}.json`` ({round, pass, weak, fail, failed: [...]})
and appends a one-line JSON record to ``PROGRESS.jsonl`` so the round's
closing state is part of the repo history the judge reads.

Run: ``python tools/close_round.py <round-number>``. Exit 0 only if no
query fails.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF_DIR = "/root/testdata/sf0.01"


def main() -> int:
    if len(sys.argv) < 2:
        print("usage: python tools/close_round.py <round-number>")
        return 2
    rnd = int(sys.argv[1])
    t0 = time.time()
    import glob

    # Ledger-hygiene gate (VERDICT r9 "What's wrong" #2-3): rounds 8 and 9
    # both ended with the previous round's evidence artifacts uncommitted.
    # Refuse to close while any CORRECTNESS/BENCH/LEAKCHECK artifact is
    # untracked or modified — closing must not bake a stale ledger into
    # the round boundary.
    g = subprocess.run(
        ["git", "status", "--porcelain"],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    stale = [
        ln
        for ln in g.stdout.splitlines()
        if re.search(r"(CORRECTNESS_r\d+|BENCH_r\d+|LEAKCHECK)\.json", ln)
    ]
    if stale:
        print(
            "REFUSING to close: evidence artifacts are untracked/modified —\n"
            + "\n".join(f"  {ln}" for ln in stale)
            + "\ncommit them first (git add CORRECTNESS_r*.json BENCH_r*.json "
            "LEAKCHECK.json), then re-run."
        )
        return 1
    # Regenerate the per-key ledger from every CORRECTNESS file on disk so
    # COVERAGE_HISTORY.md can never lag the evidence it summarizes.
    subprocess.run(
        [sys.executable, "tools/coverage_history.py"]
        + sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))),
        cwd=REPO,
        check=True,
    )
    proc = subprocess.run(
        [sys.executable, "tools/check_correctness.py", "--plain-session", SF_DIR],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    out = proc.stdout
    statuses = {"PASS": [], "WEAK": [], "FAIL": []}
    for m in re.finditer(r"^(PASS|WEAK|FAIL) (\S+?):", out, re.M):
        statuses[m.group(1)].append(m.group(2))
    # Streaming proof (VERDICT r5 item 8): the streaming runtime is
    # D-level (no SQL oracle), but every job replayed over the closed
    # events input must equal its batch twin — tests/test_streaming.py IS
    # that proof. Record its outcome alongside the oracle sweep so the
    # closing record carries the batch≡stream evidence, not just SQL
    # hashes.
    sproc = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/test_streaming.py", "-q",
         "--no-header", "-p", "no:cacheprovider"],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    stail = (sproc.stdout.strip().splitlines() or [""])[-1]
    spass = re.search(r"(\d+) passed", stail)
    sfail = re.search(r"(\d+) (?:failed|error)", stail)
    streaming_equiv = {
        "suite": "tests/test_streaming.py",
        "passed": int(spass.group(1)) if spass else 0,
        "failed": int(sfail.group(1)) if sfail else (0 if spass else -1),
        "ok": sproc.returncode == 0,
    }
    # Driver-coverage accounting (VERDICT r6 item 3): keys with no green
    # driver row that are ALSO outside the next sweep window (_FRONT) are
    # only ever proven by this closing sweep — name them and their status
    # here so the record says explicitly which keys rest on it.
    sys.path.insert(0, REPO)
    from hawaiidatapipeline_spark.queries import _FRONT, collect
    from tools.rotate_window import row_is_green

    driver_green: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        for key, row in json.load(open(path)).items():
            if row_is_green(row):
                driver_green.add(key)
    qs, _ = collect()
    # Round-7 lesson (VERDICT r7 item 2): 8 queries landed AFTER the closing
    # sweep and shipped with zero recorded verification. The sweep must be
    # the LAST registry-touching act of a round — refuse to write the
    # closing record unless the sweep covered the full registry.
    swept = set(statuses["PASS"]) | set(statuses["WEAK"]) | set(statuses["FAIL"])
    if swept != set(qs):
        missing = sorted(set(qs) - swept)
        extra = sorted(swept - set(qs))
        print(
            "REFUSING to close: sweep coverage != registry.\n"
            f"  registry keys not swept ({len(missing)}): {missing}\n"
            f"  swept keys not in registry ({len(extra)}): {extra}\n"
            "Re-run after the final registry edit — the closing sweep must "
            "be the last registry-touching act of the round."
        )
        return 1
    unseen = [k for k in qs if k not in driver_green and k not in _FRONT]
    unseen_ok = [k for k in unseen if k in statuses["PASS"] or k in statuses["WEAK"]]
    record = {
        "event": "closing_correctness_sweep",
        "round": rnd,
        "sf_dir": SF_DIR,
        "registry_total": len(qs),
        "pass": len(statuses["PASS"]),
        "weak": len(statuses["WEAK"]),
        "fail": len(statuses["FAIL"]),
        "failed": sorted(statuses["FAIL"]),
        "streaming_equiv": streaming_equiv,
        "driver_unseen_keys": sorted(unseen),
        "driver_unseen_all_green_here": sorted(unseen) == sorted(unseen_ok),
        "wall_s": round(time.time() - t0, 1),
    }
    with open(os.path.join(REPO, f"CLOSING_r{rnd:02d}.json"), "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    with open(os.path.join(REPO, "PROGRESS.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    if proc.returncode != 0 and not statuses["FAIL"]:
        print("check_correctness exited nonzero without FAIL lines — inspect:")
        print(out[-2000:])
        return 1
    return 1 if (statuses["FAIL"] or not streaming_equiv["ok"]) else 0


if __name__ == "__main__":
    raise SystemExit(main())
