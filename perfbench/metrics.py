"""Turn the raw records of a measured run into the benchmark's metrics."""

from __future__ import annotations

import math
from statistics import median

from eventlog import PYWORKER_ACCUMS, union_s

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "pass_norm": "probe",
    "op_geomean_s": "s",
    "pass_cpu_s": "s",
}

# per-layer metric → unit; names are package modules (or spark/host/trace)
LAYER_UNITS = {
    "session.start_s": "s",
    "queries.collect_s": "s",
    "registry.load_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.sink_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.result_bytes": "bytes",
    "spark.job_wall_s": "s",
    "spark.driver_idle_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "pyworker.start_s": "s",
    "pyworker.init_s": "s",
    "pyworker.run_s": "s",
    "pyworker.bytes_in": "bytes",
    "pyworker.bytes_out": "bytes",
    "sources.land_s": "s",
    "sources.land_bytes": "bytes",
    "sources.read_s": "s",
    "sources.write_amp": "ratio",
    "soql.compile_s": "s",
    "soql.exec_s": "s",
    "plans.stage_s": "s",
    "plans.checkpoint_bytes": "bytes",
    "engine.export_s": "s",
    "engine.export_bytes": "bytes",
    "host.probe_s": "s",
    "trace.overhead_ratio": "ratio",
}

# layer values an op records itself (portal chain), summed per pass
OP_LAYER_KEYS = (
    "sources.land_s",
    "sources.land_bytes",
    "sources.read_s",
    "soql.compile_s",
    "soql.exec_s",
    "plans.stage_s",
    "plans.checkpoint_bytes",
    "engine.export_s",
    "engine.export_bytes",
)


def _ok_rows(p: dict) -> list[dict]:
    return [r for r in p["ops"] if r["ok"]]


def pass_norm(p: dict, probes: list[dict]) -> float:
    """Σ over the pass's ops of op wall ÷ mean of its bracketing probes."""
    return sum(
        r["wall_s"] / ((probes[r["probe_before"]]["wall_s"] + probes[r["probe_after"]]["wall_s"]) / 2)
        for r in _ok_rows(p)
    )


def op_medians(passes: list[dict]) -> dict[str, float]:
    walls: dict[str, list[float]] = {}
    for p in passes:
        for r in _ok_rows(p):
            walls.setdefault(r["op"], []).append(r["wall_s"])
    return {op: median(ws) for op, ws in walls.items()}


def end_to_end(res: dict) -> dict[str, float]:
    passes, probes = res["passes"], res["probes"]
    meds = op_medians(passes)
    return {
        "setup_s": res["setup"]["setup_s"],
        "pass_s": median(p["wall_s"] for p in passes),
        "pass_norm": median(pass_norm(p, probes) for p in passes),
        "op_geomean_s": math.exp(sum(math.log(v) for v in meds.values()) / len(meds)),
        "pass_cpu_s": median(p["cpu_s"] for p in passes),
    }


def plateau(res: dict) -> dict:
    """Pass walls in order, with the trend across them compared to their
    own quartile spread: a warm run shows no monotone trend beyond that
    spread. Quartiles are inclusive, so three passes can show a trend."""
    from statistics import quantiles

    walls = [p["wall_s"] for p in res["passes"]]
    q = quantiles(walls, n=4, method="inclusive") if len(walls) > 1 else [walls[0]] * 3
    steps = [b - a for a, b in zip(walls, walls[1:])]
    monotone = bool(steps) and (all(s < 0 for s in steps) or all(s > 0 for s in steps))
    return {
        "pass_walls": walls,
        "iqr_s": q[2] - q[0],
        "first_minus_last_s": walls[0] - walls[-1],
        "trend": monotone and abs(walls[0] - walls[-1]) > q[2] - q[0],
    }


def per_op_pass(res: dict, groups: dict) -> list[dict]:
    """Per op and pass: wall, build/sink split, jobs and driver idle time
    (op wall − union of its job intervals), from the event log."""
    out = []
    for p in res["passes"]:
        for r in _ok_rows(p):
            intervals = []
            for phase in ("build", "sink"):
                g = groups.get(f"pb|{res['workload']}|{r['op']}|{p['pass']}|{phase}")
                if g is not None:
                    intervals += g.intervals
            busy = union_s(intervals, r["t0"], r["t2"])
            out.append(
                {
                    "op": r["op"],
                    "pass": p["pass"],
                    "wall_s": r["wall_s"],
                    "build_s": r["build_s"],
                    "sink_s": r["sink_s"],
                    "build_jobs": r["build_jobs"],
                    "sink_jobs": r["sink_jobs"],
                    "job_wall_s": busy,
                    "driver_idle_s": r["wall_s"] - busy,
                }
            )
    return out


def per_op(res: dict, groups: dict) -> dict[str, dict]:
    """Per op, the median over timed passes of each ``per_op_pass`` field."""
    rows = per_op_pass(res, groups)
    fields = [k for k in rows[0] if k not in ("op", "pass")] if rows else []
    out: dict[str, dict] = {}
    for op in dict.fromkeys(r["op"] for r in rows):
        mine = [r for r in rows if r["op"] == op]
        out[op] = {k: median(r[k] for r in mine) for k in fields}
    return out


def per_layer(traced: dict, untraced: dict, groups: dict) -> dict[str, float]:
    """Per-layer metrics of a traced run: set-up phases once, everything
    else as the median over timed passes of the per-pass total."""
    wl = traced["workload"]
    ops = per_op_pass(traced, groups)
    per_pass: dict = {}
    for p in traced["passes"]:
        tot: dict[str, float] = {k: 0.0 for k in LAYER_UNITS}
        for r in _ok_rows(p):
            tot["queries.build_s"] += r["build_s"]
            tot["queries.sink_s"] += r["sink_s"]
            tot["queries.build_jobs"] += r["build_jobs"]
            for k in OP_LAYER_KEYS:
                tot[k] += r["layer"].get(k, 0.0)
            for phase in ("build", "sink"):
                g = groups.get(f"pb|{wl}|{r['op']}|{p['pass']}|{phase}")
                if g is None:
                    continue
                tot["spark.jobs"] += g.jobs
                tot["spark.stages"] += g.stages
                tot["spark.tasks"] += g.tasks
                tot["spark.failed_tasks"] += g.failed_tasks
                tot["spark.shuffle_read_bytes"] += g.shuffle_read_bytes
                tot["spark.shuffle_write_bytes"] += g.shuffle_write_bytes
                tot["spark.spill_bytes"] += g.spill_bytes
                tot["spark.result_bytes"] += g.result_bytes
                tot["spark.executor_run_s"] += g.executor_run_s
                tot["spark.executor_cpu_s"] += g.executor_cpu_s
                tot["spark.gc_s"] += g.gc_s
                for name, metric in PYWORKER_ACCUMS.items():
                    scale = 1e3 if metric.endswith("_s") else 1.0  # timings are in ms
                    tot[metric] += g.accums.get(name, 0.0) / scale
        for o in ops:
            if o["pass"] == p["pass"]:
                tot["spark.job_wall_s"] += o["job_wall_s"]
                tot["spark.driver_idle_s"] += o["driver_idle_s"]
        landed = tot["sources.land_bytes"]
        written = tot["plans.checkpoint_bytes"] + tot["engine.export_bytes"]
        tot["sources.write_amp"] = written / landed if landed else 0.0
        per_pass[p["pass"]] = tot
    out = {k: median(t[k] for t in per_pass.values()) for k in LAYER_UNITS}
    for k in ("session.start_s", "queries.collect_s", "registry.load_s"):
        out[k] = traced["setup"][k]
    timed = [pr["wall_s"] for pr in traced["probes"] if isinstance(pr["pass"], int)]
    out["host.probe_s"] = median(timed)
    out["trace.overhead_ratio"] = end_to_end(traced)["pass_s"] / end_to_end(untraced)["pass_s"]
    return out
