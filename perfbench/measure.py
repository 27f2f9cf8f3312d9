"""One measured run of one workload, in a fresh process.

Started by ``run.py`` with the environment already pinned. Sequence:

1. set-up: Spark session, query registry, table registration;
2. check pass (cold): every op runs once and its output is checked,
   outside every timed window;
3. ``WARM_PASSES`` untimed warm passes;
4. timed passes until ``--seconds`` have been measured (at least
   ``MIN_PASSES``).

Every op is timed in two phases (build, sink) under its own job group, and
the frozen host probe runs between ops at a fixed cadence. The raw records
are written as JSON to ``--out``; ``run.py`` turns them into metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

from probe import probe
from procstat import tree_cpu_s

WARM_PASSES = 1
MIN_PASSES = 3
PROBE_EVERY_S = 1.0


class Recorder:
    """Runs passes over an op list and keeps every measurement.

    ``set_group(name)`` tags the jobs that follow; ``jobs_in(name)`` counts
    the jobs a group ran. Both are injected so the pass logic can run
    without Spark."""

    def __init__(self, workload: str, ctx, set_group, jobs_in, cpu=tree_cpu_s, host_probe=probe):
        self.workload = workload
        self.ctx = ctx
        self.set_group = set_group
        self.jobs_in = jobs_in
        self.cpu = cpu
        self.host_probe = host_probe
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.probes: list[dict] = []
        self.passes: list[dict] = []

    def _fail(self, op_name: str, where: str, detail: str) -> None:
        self.failed += 1
        self.errors.append(f"{op_name} [{where}]: {detail}"[:600])

    def _probe(self, pass_id) -> int:
        wall, cpu = self.host_probe()
        self.probes.append({"pass": pass_id, "wall_s": wall, "cpu_s": cpu})
        return len(self.probes) - 1

    def check_pass(self, ops) -> None:
        """Run and check every op once; a raising or wrong op counts as
        failed and the run goes on."""
        self.set_group(f"pb|{self.workload}|-|check|check")
        self.ctx.wipe()
        for op in ops:
            self.attempted += 1
            self.ctx.layer = {}
            try:
                self.set_group(f"pb|{self.workload}|{op.name}|check|build")
                df = op.build(self.ctx)
                self.set_group(f"pb|{self.workload}|{op.name}|check|check")
                problems = op.check(self.ctx, df)
            except Exception:  # noqa: BLE001 - the run reports the failure and goes on
                self._fail(op.name, "check", traceback.format_exc(limit=3))
                continue
            if problems:
                self._fail(op.name, "check", "; ".join(problems))

    def timed_pass(self, ops, pass_id, keep: bool = True) -> dict:
        """One pass over ``ops``; ``keep=False`` runs it as warm-up only."""
        self.ctx.wipe()
        rec = {"pass": pass_id, "ops": [], "probe_cpu_s": 0.0}
        prev = self._probe(pass_id)
        cpu0 = self.cpu()
        since = 0.0
        for op in ops:
            self.attempted += 1
            self.ctx.layer = {}
            gb = f"pb|{self.workload}|{op.name}|{pass_id}|build"
            gs = f"pb|{self.workload}|{op.name}|{pass_id}|sink"
            row = {"op": op.name, "probe_before": prev, "ok": True}
            try:
                self.set_group(gb)
                t0 = time.time()
                df = op.build(self.ctx)
                t1 = time.time()
                self.set_group(gs)
                op.sink(self.ctx, df)
                t2 = time.time()
            except Exception:  # noqa: BLE001 - the run reports the failure and goes on
                row["ok"] = False
                self._fail(op.name, str(pass_id), traceback.format_exc(limit=3))
                rec["ops"].append(row)
                continue
            row.update(
                t0=t0,
                t1=t1,
                t2=t2,
                build_s=t1 - t0,
                sink_s=t2 - t1,
                wall_s=t2 - t0,
                build_jobs=self.jobs_in(gb),
                sink_jobs=self.jobs_in(gs),
                layer=dict(self.ctx.layer),
            )
            rec["ops"].append(row)
            since += row["wall_s"]
            if since >= PROBE_EVERY_S and op is not ops[-1]:
                cpu_p0 = self.cpu()
                prev = self._probe(pass_id)
                rec["probe_cpu_s"] += self.cpu() - cpu_p0
                since = 0.0
        rec["cpu_s"] = self.cpu() - cpu0 - rec["probe_cpu_s"]
        self._probe(pass_id)
        for row in rec["ops"]:
            # probes run in sequence, so the first probe after an op is the
            # one that follows the last probe before it
            row["probe_after"] = row["probe_before"] + 1
        rec["wall_s"] = sum(r.get("wall_s", 0.0) for r in rec["ops"])
        if keep:
            self.passes.append(rec)
        return rec


def _versions(spark) -> dict:
    import platform

    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "nproc": len(os.sched_getaffinity(0)),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    from workloads import WORKLOADS, Ctx, duck_connection, ops_for, portal_frame

    from inputs import soda_pages

    wl = WORKLOADS[args.workload]
    setup = {}

    t = time.time()
    from hawaiidatapipeline_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{wl.name}")
    sc = spark.sparkContext
    sc.setJobGroup(f"pb|{wl.name}|-|setup|setup", "set-up")
    setup["session.start_s"] = time.time() - t

    t = time.time()
    from hawaiidatapipeline_spark.queries import collect

    queries, oracles = collect()
    setup["queries.collect_s"] = time.time() - t

    t = time.time()
    from hawaiidatapipeline_spark.registry import register_all

    register_all(spark, args.data)
    setup["registry.load_s"] = time.time() - t

    # keys that write scratch files keep them inside the work directory
    import hawaiidatapipeline_spark.queries.sources as qsources

    qsources._SCRATCH = os.path.join(args.work, "scratch")

    ctx = Ctx(spark, args.data, args.work, queries, oracles)
    ctx.duck = duck_connection(args.data)
    if wl.portal_chain:
        ctx.portal_rows = soda_pages(args.seed)
        ctx.duck.register("permits", portal_frame(ctx.portal_rows))
    ops = ops_for(wl)

    tracker = sc.statusTracker()
    rec = Recorder(
        wl.name,
        ctx,
        set_group=lambda g: sc.setJobGroup(g, g),
        jobs_in=lambda g: len(tracker.getJobIdsForGroup(g)),
    )
    t = time.time()
    rec.check_pass(ops)
    setup["check_pass_s"] = time.time() - t
    t = time.time()
    for i in range(WARM_PASSES):
        rec.timed_pass(ops, f"warm{i}", keep=False)
    setup["warm_passes_s"] = time.time() - t

    t_first = time.time()
    setup["setup_s"] = t_first - args.spawned_at
    n = 0
    while n < MIN_PASSES or time.time() - t_first < args.seconds:
        rec.timed_pass(ops, n)
        n += 1
    measured_s = time.time() - t_first

    result = {
        "workload": wl.name,
        "seed": args.seed,
        "setup": setup,
        "measured_s": measured_s,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "errors": rec.errors,
        "probes": rec.probes,
        "passes": rec.passes,
        "versions": _versions(spark),
    }
    sc.setJobGroup(f"pb|{wl.name}|-|teardown|teardown", "teardown")
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
