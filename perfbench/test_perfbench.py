"""Tests of the benchmark's own helpers (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import fixtures
import measure
import probe
import run
from workloads import WORKLOADS

BENCHMARK_JSON = os.path.join(run.REPO, "BENCHMARK.json")
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.\-]{1,16}")


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        span(0, None, "workload", 0.0, 10.0),
        span(1, 0, "query:a", 1.0, 4.0),
        span(2, 0, "query:b", 3.0, 6.0),  # overlaps query:a
        span(3, 1, "job:1", 2.0, 3.0),
        span(4, 0, "query:c", 9.0, 12.0),  # runs past its parent
    ]
    st = measure.self_times(spans)
    assert st[0] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 9.0))
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)
    by_name = measure.self_time_by_name(spans)
    assert by_name == pytest.approx({"workload": 4.0, "query": 8.0, "job": 1.0})


def test_self_times_of_a_leaf_chain_add_up_to_the_root():
    spans = [
        span(0, None, "workload", 0.0, 8.0),
        span(1, 0, "query:a", 0.0, 8.0),
        span(2, 1, "operators.build", 0.0, 5.0),
        span(3, 1, "exec.write", 5.0, 8.0),
        span(4, 3, "job:7", 5.5, 7.5),
        span(5, 4, "stage:9", 6.0, 7.0),
    ]
    assert sum(measure.self_times(spans).values()) == pytest.approx(8.0)


@pytest.mark.parametrize(
    "name,ok",
    [
        ("wall_s", True),
        ("exec.core_util", True),
        ("0x-1.a_b", True),
        ("_leading", False),
        ("has space", False),
        ("x" * 64, True),
        ("x" * 65, False),
        ("", False),
    ],
)
def test_metric_name_rule(name, ok):
    assert valid_name(name) is ok


def test_declared_metrics_and_workloads_are_valid_and_match_the_code():
    for name, unit in {**run.END_TO_END, **run.PER_LAYER}.items():
        assert valid_name(name), name
        assert UNIT_RE.fullmatch(unit), unit
    with open(BENCHMARK_JSON) as fh:
        bench = json.load(fh)
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert {n: m["unit"] for n, m in e2e.items()} == run.END_TO_END
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    for w in bench["workloads"]:
        assert w["name"] in WORKLOADS and len(w["why"]) <= 200 and "\n" not in w["why"]
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))


def test_digest_is_order_and_integer_width_insensitive():
    a = pa.table({"k": pa.array([1, 2, 3], pa.int32()), "v": [0.5, 1.25, -0.0]})
    b = pa.table({"v": [1.25, 0.0, 0.5], "k": pa.array([2, 3, 1], pa.int64())})
    assert measure.digest(a) == measure.digest(b)
    assert measure.digest(a, chunk_rows=1) == measure.digest(a)


def test_planted_wrong_output_raises_failed_frac():
    good = pa.table({"word": ["a", "b", "c"], "n": [3, 2, 1]})
    wrong = pa.table({"word": ["a", "b", "c"], "n": [3, 2, 2]})
    short = pa.table({"word": ["a", "b"], "n": [3, 2]})
    rows, h = measure.digest(good)
    expected = {k: {"rows": rows, "hash": h} for k in ("wc", "ii", "ds")}
    checks = {}
    for key, table in (("wc", good), ("ii", wrong), ("ds", short)):
        r, d = measure.digest(table)
        checks[key] = {"rows": r, "hash": d}
    report = {"passes": [{"times": dict.fromkeys(expected, 1.0), "errors": {}}] * 2}
    verdict = run.verdicts(checks, expected)
    assert verdict["wc"] is None
    assert "hash" in verdict["ii"] and "rows" in verdict["ds"]
    assert run.outcome(report, verdict) == (6, 4)
    clean = run.verdicts({k: checks["wc"] for k in expected}, expected)
    assert run.outcome(report, clean) == (6, 0)


def test_a_key_that_raises_counts_as_failed():
    expected = {"ok": {"rows": 1, "hash": "x"}, "bad": {"rows": 1, "hash": "x"}}
    verdict = run.verdicts({"ok": {"rows": 1, "hash": "x"}, "bad": {"error": "boom"}}, expected)
    assert verdict == {"ok": None, "bad": "boom"}
    report = {"passes": [{"times": {"ok": 1.0, "bad": 1.0}, "errors": {"ok": "late"}}]}
    assert run.outcome(report, verdict) == (2, 2)


def test_seed_permutes_key_order_and_seed_zero_keeps_it():
    wl = WORKLOADS["cold_headline"]
    assert wl.order(0) == list(wl.keys)
    assert wl.order(3) == wl.order(3)
    assert sorted(wl.order(3)) == sorted(wl.keys) and wl.order(3) != list(wl.keys)


def test_every_timed_key_can_be_checked():
    from mapreduce_6_824_lab1_spark import ORACLES, QUERIES

    for wl in WORKLOADS.values():
        for key in wl.keys:
            assert key in QUERIES and key in ORACLES, key


def test_tree_sampler_keeps_cpu_of_a_grandchild_that_ended_in_the_window(tmp_path):
    """The grandchild burns CPU and ends inside the window; its parent, still
    alive in the tree, has reaped it, so its CPU must still be counted."""
    done = tmp_path / "done"
    busy = (
        "import time\nt = time.process_time()\n"
        "while time.process_time() - t < 0.5: pass\n"
        f"open({str(done)!r}, 'w').close()"
    )
    sampler = measure.TreeSampler(os.getpid(), interval=0.05)
    shell = subprocess.Popen(["sh", "-c", f'sleep 0.2; "{sys.executable}" -c "$0"; sleep 30', busy])
    try:
        sampler.start()
        deadline = time.monotonic() + 30
        while not done.exists() and time.monotonic() < deadline:
            time.sleep(0.05)
        time.sleep(0.2)  # let the shell reap its child
        got = sampler.stop()
    finally:
        shell.kill()
        shell.wait(timeout=30)
    assert done.exists()
    assert got["cpu_s"] >= 0.4
    assert got["peak_rss_mb"] > 0


def test_fixture_tables_are_deterministic_with_the_documented_row_counts(tmp_path):
    fixtures.make_sf01(str(tmp_path / "a"))
    fixtures.make_sf01(str(tmp_path / "b"))
    assert fixtures.row_counts(str(tmp_path / "a")) == fixtures.ROWS_SF01
    for t in fixtures.TABLES:
        a = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        b = pq.read_table(tmp_path / "b" / f"{t}.parquet")
        assert a.equals(b), t


class _FakeStatusStore:
    """The status-store calls ``EngineProbe.end_key`` makes, over jobs the
    test "runs"; each job has one stage of ``tasks`` tasks. Like Spark's
    store, it keeps every earlier job."""

    def __init__(self) -> None:
        self.group = None
        self.jobs: list[dict] = []
        self.stages: list[dict] = []

    def setJobGroup(self, group, description):  # noqa: N802 — SparkContext API
        self.group = group

    def run_job(self, tasks: int) -> None:
        sid = len(self.stages)
        self.jobs.append({"jobId": len(self.jobs), "jobGroup": self.group, "stageIds": [sid]})
        zero = dict.fromkeys((
            "inputRecords", "inputBytes", "numFailedTasks", "executorRunTime",
            "executorCpuTime", "shuffleWriteBytes", "shuffleReadBytes",
            "shuffleWriteRecords", "shuffleFetchWaitTime", "diskBytesSpilled",
        ), 0)
        self.stages.append(dict(
            zero, stageId=sid, attemptId=0, status="COMPLETE",
            numTasks=tasks, numCompleteTasks=tasks,
        ))

    def jobsList(self, statuses):  # noqa: N802
        return self.jobs

    def stageList(self, *args):  # noqa: N802
        return self.stages

    def taskSummary(self, *args):  # noqa: N802
        return None

    def waitUntilEmpty(self):  # noqa: N802
        pass

    def writeValueAsString(self, obj):  # noqa: N802
        return json.dumps(obj)


def test_a_second_pass_does_not_count_the_first_pass_jobs():
    fake = _FakeStatusStore()
    p = object.__new__(probe.EngineProbe)
    p.sc = p.store = p.bus = p.mapper = fake
    p.quantiles = (0.5, 1.0)
    p.plans = probe._PlanListener()
    p.streams = probe._StreamListener()
    got = []
    for pass_no in range(3):
        for key, jobs in (("a", 2), ("b", 1)):
            p.begin_key(pass_no, key)
            for _ in range(jobs):
                fake.run_job(tasks=4)
            got.append((key, p.end_key(None)["layer"]))
    assert len(fake.jobs) == 9  # the store still holds every pass's jobs
    for key, layer in got:
        want_jobs = 2 if key == "a" else 1
        assert layer["exec.jobs"] == want_jobs, (key, layer)
        assert layer["exec.stages"] == want_jobs
        assert layer["exec.tasks"] == 4 * want_jobs
