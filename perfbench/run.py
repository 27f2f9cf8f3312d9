"""Benchmark entry point.

    python3 perfbench/run.py --workload <portal_etl|iterative>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. It builds the seeded
inputs, pins the environment (code under test, core count, scratch
locations), then measures the workload in a fresh process. With
``--trace 0`` it prints the end-to-end metrics; with ``--trace 1`` it runs
the workload twice with the same seed, once untraced and once with
Spark's event log on, and prints the per-layer metrics of the traced run.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (name → value and unit). The line
before it holds the run's details: versions, core count, per-op figures and
the pass-by-pass walls.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "hawaiidatapipeline_spark"
WORK = os.path.join(ROOT, ".bench_work")
RUN_LIMIT_S = 170.0


def code_digest() -> str:
    """SHA-256 over the package sources: identifies the code under test
    when the checkout carries no git metadata."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def pinned_env(run_dir: str, event_dir: str | None) -> dict:
    """The child's environment: this checkout's code for the driver and
    the Python workers, ``local[nproc]``, and every scratch location
    inside the work directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
    )
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if event_dir is not None:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    return env


def _session_pids(sid: int) -> list[int]:
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        if int(raw[raw.rindex(")") + 2 :].split()[3]) == sid:
            pids.append(int(pid))
    return pids


def _reap_session(sid: int) -> None:
    """Kill whatever the child left in its session (JVM, Python workers)
    and wait until it is gone."""
    deadline = time.time() + 20
    while _session_pids(sid) and time.time() < deadline:
        try:
            os.killpg(sid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        time.sleep(0.2)


def measure(args, data_dir: str, run_dir: str, trace: bool, deadline: float) -> dict:
    """Run ``measure.py`` once in a fresh process and return its record."""
    event_dir = os.path.join(run_dir, "eventlog") if trace else None
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
    cwd = os.path.join(run_dir, "cwd")
    os.makedirs(cwd, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable,
        os.path.join(HERE, "measure.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--data", data_dir,
        "--work", os.path.join(run_dir, "io"),
        "--out", out,
        "--spawned-at", repr(time.time()),
    ]
    with open(os.path.join(run_dir, "stderr.log"), "w") as err:
        proc = subprocess.Popen(
            cmd,
            cwd=cwd,
            env=pinned_env(run_dir, event_dir),
            stdout=subprocess.DEVNULL,
            stderr=err,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(deadline - time.time(), 1.0))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _reap_session(proc.pid)
            proc.wait()
    if code != 0:
        with open(os.path.join(run_dir, "stderr.log")) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"measuring process ended with {code}:\n{tail}")
    with open(out) as fh:
        res = json.load(fh)
    if trace:
        logs = [p for p in glob.glob(os.path.join(event_dir, "*")) if not p.endswith(".inprogress")]
        if len(logs) != 1:
            raise RuntimeError(f"expected one finished event log, found {logs}")
        res["event_log"] = logs[0]
    return res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.time()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE}/ next to {os.path.basename(HERE)}/: nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import inputs
    import metrics
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]

    data_dir = inputs.table_copy(wl.scale, args.seed, WORK)
    run_root = os.path.join(WORK, "runs", f"{wl.name}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    deadline = started + RUN_LIMIT_S
    try:
        base = measure(args, data_dir, os.path.join(run_root, "plain"), False, deadline)
        runs = [base]
        if args.trace:
            traced = measure(args, data_dir, os.path.join(run_root, "traced"), True, deadline)
            runs.append(traced)
            from eventlog import parse

            groups, ungrouped = parse(traced["event_log"])
            values = metrics.per_layer(traced, base, groups)
            units = metrics.LAYER_UNITS
            detail = {
                "per_op": metrics.per_op(traced, groups),
                "ungrouped_jobs": ungrouped,
                "job_groups": len(groups),
            }
        else:
            values = metrics.end_to_end(base)
            units = metrics.E2E_UNITS
            detail = {"op_median_s": metrics.op_medians(base["passes"])}
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    detail.update(
        workload=wl.name,
        seed=args.seed,
        scale=wl.scale,
        seconds=args.seconds,
        versions=base["versions"],
        git_commit=git_commit(),
        code_sha256=code_digest(),
        timed_passes=len(base["passes"]),
        measured_s=base["measured_s"],
        plateau=metrics.plateau(base),
        setup=base["setup"],
        fail_ratio=failed / attempted,
        errors=[e for r in runs for e in r["errors"]],
    )
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
