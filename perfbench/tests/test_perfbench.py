"""The benchmark's own tests. They need no Spark session.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import ast
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import eventlog  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402
from measure import Recorder  # noqa: E402
from workloads import fingerprint_pandas, fingerprint_rows  # noqa: E402


class StubCtx:
    def __init__(self):
        self.layer = {}
        self.wipes = 0

    def wipe(self):
        self.wipes += 1


class StubOp:
    def __init__(self, name, fail_build=False, problems=()):
        self.name = name
        self.fail_build = fail_build
        self.problems = list(problems)

    def build(self, ctx):
        if self.fail_build:
            raise RuntimeError("boom")
        return self.name

    def sink(self, ctx, df):
        ctx.layer["sinked"] = df

    def check(self, ctx, df):
        return self.problems


def recorder(groups=None):
    groups = [] if groups is None else groups
    return Recorder(
        "w",
        StubCtx(),
        set_group=groups.append,
        jobs_in=lambda g: 0,
        cpu=lambda: 0.0,
        host_probe=lambda: (0.1, 0.1),
    )


def test_page_generator_is_deterministic():
    assert inputs.soda_pages(7) == inputs.soda_pages(7)
    assert inputs.soda_pages(7) != inputs.soda_pages(8)
    rows = inputs.soda_pages(7)
    assert len(rows) == inputs.PORTAL_PAGES * inputs.PAGE_ROWS
    assert len({r["permit_no"] for r in rows}) == len(rows)
    assert all(isinstance(v, str) for r in rows for v in r.values())


def test_table_copy_is_deterministic(tmp_path):
    import pyarrow.parquet as pq

    def read(seed, where):
        out = inputs.table_copy("sf0.001", seed, str(where))
        return pq.read_table(os.path.join(out, "nation.parquet")).to_pylist()

    a, b, c = read(3, tmp_path / "a"), read(3, tmp_path / "b"), read(4, tmp_path / "c")
    assert a == b
    assert a != c
    key = lambda r: r["n_nationkey"]  # noqa: E731
    assert sorted(a, key=key) == sorted(c, key=key)


def test_page_server_faults_once_then_serves():
    rows = inputs.soda_pages(1, pages=3)
    server = inputs.PageServer(rows, fault_every=2)
    try:
        server.fetch(inputs.PAGE_ROWS, inputs.PAGE_ROWS)
    except ConnectionResetError:
        pass
    else:
        raise AssertionError("page 1 should fault on its first request")
    assert server.fetch(inputs.PAGE_ROWS, inputs.PAGE_ROWS) == rows[1000:2000]


def test_fingerprint_ignores_row_order():
    import pandas as pd

    cols = ["a", "b"]
    rows = [(1, "x"), (2, None), (3, "z")]
    assert fingerprint_rows(cols, rows) == fingerprint_rows(cols, rows[::-1])
    pdf = pd.DataFrame(rows, columns=cols)
    shuffled = pdf.iloc[[2, 0, 1]].reset_index(drop=True)
    assert fingerprint_pandas(pdf) == fingerprint_pandas(shuffled)
    assert fingerprint_rows(cols, rows) != fingerprint_rows(cols, rows[:2])


def test_raising_or_wrong_op_counts_as_failed():
    rec = recorder()
    ops = [StubOp("good"), StubOp("raises", fail_build=True), StubOp("wrong", problems=["bad"])]
    rec.check_pass(ops)
    assert (rec.attempted, rec.failed) == (3, 2)
    rec.timed_pass(ops, 0)
    assert (rec.attempted, rec.failed) == (6, 3)
    assert [r["ok"] for r in rec.passes[0]["ops"]] == [True, False, True]
    assert rec.failed / rec.attempted == 0.5


def test_build_plus_sink_equals_op_wall():
    rec = recorder()
    rec.timed_pass([StubOp("a"), StubOp("b")], 0)
    rows = rec.passes[0]["ops"]
    for r in rows:
        assert math.isclose(r["build_s"] + r["sink_s"], r["wall_s"], abs_tol=1e-9)
    assert math.isclose(rec.passes[0]["wall_s"], sum(r["wall_s"] for r in rows))


def test_every_op_phase_has_its_own_job_group():
    groups = []
    rec = recorder(groups)
    rec.timed_pass([StubOp("a")], 4)
    assert groups == ["pb|w|a|4|build", "pb|w|a|4|sink"]


def test_probe_imports_nothing_from_the_package():
    with open(os.path.join(BENCH, "probe.py")) as fh:
        tree = ast.parse(fh.read())
    names = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names.append(node.module or "")
    assert names, "probe.py should at least import time"
    assert not [n for n in names if n.split(".")[0] == "hawaiidatapipeline_spark"]
    assert set(n.split(".")[0] for n in names) <= {"__future__", "time"}


def test_union_of_job_intervals():
    assert eventlog.union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert eventlog.union_s([(0, 2), (1, 3)], 1.5, 2.5) == 1


def test_event_log_totals_per_group(tmp_path):
    grp = {"spark.jobGroup.id": "pb|w|a|0|sink"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0], "Properties": grp},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, "Properties": grp},
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 0,
            "Task End Reason": {"Reason": "Success"},
            "Task Info": {"Accumulables": [{"Name": "time to run Python workers", "Update": "250"}]},
            "Task Metrics": {
                "Executor Run Time": 300,
                "Executor CPU Time": 2e8,
                "JVM GC Time": 10,
                "Result Size": 99,
                "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
            },
        },
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600, "Stage IDs": []},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups, ungrouped = eventlog.parse(str(path))
    g = groups["pb|w|a|0|sink"]
    assert (g.jobs, g.stages, g.tasks, g.failed_tasks, ungrouped) == (1, 1, 1, 0, 1)
    assert (g.shuffle_read_bytes, g.shuffle_write_bytes, g.result_bytes) == (3, 5, 99)
    assert math.isclose(g.executor_cpu_s, 0.2) and math.isclose(g.executor_run_s, 0.3)
    assert g.intervals == [(1.0, 1.5)]
    assert g.accums["time to run Python workers"] == 250


def test_end_to_end_metrics_from_records():
    rec = recorder()
    ops = [StubOp("a"), StubOp("b")]
    for i in range(3):
        rec.timed_pass(ops, i)
    res = {"passes": rec.passes, "probes": rec.probes, "setup": {"setup_s": 12.5}}
    m = metrics.end_to_end(res)
    assert set(m) == set(metrics.E2E_UNITS)
    assert m["setup_s"] == 12.5
    assert math.isclose(m["pass_norm"], m["pass_s"] / 0.1)
