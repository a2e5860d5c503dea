#!/usr/bin/env python3
"""Benchmark of the engine, driven from outside through its public entry
points (``session.get_spark``, ``registry.QUERIES``, a noop-format write).

    python3 perfbench/run.py --workload cold_headline --seed 1 --seconds 1 --trace 0

Run from the repository root. The first run builds the fixture tables and
the DuckDB oracle answers under ``.perfbench_cache/`` (outside any timing);
every run then starts a fresh session process (``worker.py``), samples its
process tree from here, checks every timed key's output, and prints a detail
record and, as the last line, ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs the workload untraced and traced and reports the per-layer metrics and
the tracing overhead. A warm workload runs its traced region between two
untraced ones in one session, after its warm-up; the cold one needs a fresh
session for each region. See README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import fixtures  # noqa: E402
import measure  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

CACHE = os.path.join(REPO, ".perfbench_cache")
RUN_TIMEOUT_S = 170  # sessions of one run, after the inputs are ready
# The driver heap cap (the engine's default is 8g). Under 8g the JVM's heap
# grows to a size that depends on the order keys run in, so peak_rss_mb
# follows the seed rather than the engine: cold_headline read 1780-1855 MB
# with one seed and 2655-3115 MB with another, five seeds spreading 0.32 of
# their median; under 2g the same seeds read 1426-1598 MB. 2g holds every
# benchmarked key.
DRIVER_MEMORY = "2g"

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.build_s": "s",
    "catalog.input_rows": "count",
    "catalog.input_mb": "MB",
    "operators.build_s": "s",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "codegen.classes": "count",
    "codegen.compile_ms": "ms",
    "jvm.jit_ms": "ms",
    "jvm.gc_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.cpu_ratio": "ratio",
    "exec.core_util": "ratio",
    "exec.skew_max": "ratio",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.records": "count",
    "shuffle.fetch_wait_ms": "ms",
    "spill.mb": "MB",
    "pyworker.cpu_s": "s",
    "pyworker.spawned": "count",
    "stream.batches": "count",
    "stream.input_rows": "count",
    "stream.rows_per_s": "1/s",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.state_mb": "MB",
    "stream.state_commit_ms": "ms",
    "trace.overhead_s": "s",
    "trace.probe_s": "s",
}


class BenchError(RuntimeError):
    pass


# ---------------------------------------------------------------- oracle


def expectations(wl, sf_dir: str) -> dict[str, dict]:
    """Expected ``{"rows", "hash"}`` of every key, from its DuckDB oracle over
    the same fixtures. The answers are cached under the oracle SQL's hash, so
    they are computed once."""
    from mapreduce_6_824_lab1_spark import ORACLES

    out = {}
    con = None
    for key in wl.keys:
        if key not in ORACLES:
            raise BenchError(f"{key} has no oracle, so its output cannot be checked")
        sql = ORACLES[key]
        tag = hashlib.sha1(sql.encode()).hexdigest()[:12]
        path = os.path.join(CACHE, "oracle", f"{key}-{tag}.json")
        if not os.path.exists(path):
            if con is None:
                import duckdb

                con = duckdb.connect()
                con.execute("SET threads TO 4")
                for t in fixtures.TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            rows, digest = measure.digest(con.execute(sql).arrow())
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path + ".tmp", "w") as fh:
                json.dump({"rows": rows, "hash": digest}, fh)
            os.replace(path + ".tmp", path)
        with open(path) as fh:
            out[key] = json.load(fh)
    if con is not None:
        con.close()
    return out


def verdicts(checks: dict, expected: dict) -> dict[str, str | None]:
    """Per key: None when the output matches, else what went wrong."""
    out = {}
    for key, want in expected.items():
        got = checks.get(key)
        if got is None:
            out[key] = "not checked"
        elif "error" in got:
            out[key] = got["error"]
        elif got["rows"] != want["rows"]:
            out[key] = f"rows {got['rows']} != {want['rows']}"
        elif got["hash"] != want["hash"]:
            out[key] = "value hash differs from the oracle's"
        else:
            out[key] = None
    return out


# ---------------------------------------------------------------- processes


def _become_subreaper() -> None:
    """Orphaned descendants (the JVM, Python workers) are re-parented to this
    process, so it can wait for every one of them to end."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 10.0) -> None:
    """Terminate every remaining descendant and wait until each has ended."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        _reap()
        live = measure.tree_snapshot(os.getpid())
        if not live:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid, _ in live:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _read_line(fh, deadline: float) -> str:
    left = deadline - time.monotonic()
    if left <= 0 or not select.select([fh], [], [], left)[0]:
        raise BenchError("session timed out")
    return fh.readline().strip()


def run_session(wl, args, sf_dir: str, regions: list[str], deadline: float) -> list[dict]:
    """One fresh session process that runs the timed ``regions`` in order
    (each ``untraced`` or ``traced``); returns one view per region: the
    session's report with the region's name and passes and the tree sample
    taken over it."""
    tag = "-".join(regions)
    tmp = os.path.join(CACHE, "tmp", f"{os.getpid()}-{tag}")
    os.makedirs(tmp, exist_ok=True)
    log_path = os.path.join(CACHE, "logs", f"{wl.name}-{args.seed}-{tag}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    out_path = os.path.join(tmp, "report.json")
    # Scratch files of the session (shuffle, stream checkpoints, JVM temp)
    # stay inside the checkout.
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        # every JVM the session starts, spark-submit's launcher included
        JAVA_TOOL_OPTIONS=" ".join((
            os.environ.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
        )).strip(),
    )
    to_w_r, to_w_w = os.pipe()
    from_w_r, from_w_w = os.pipe()
    launched = time.monotonic()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "worker.py"),
                "--workload", wl.name, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--regions", ",".join(regions),
                "--launched", repr(launched), "--sf-dir", sf_dir,
                "--out", out_path, "--ctl", f"{to_w_r},{from_w_w}",
            ],
            cwd=REPO, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, pass_fds=(to_w_r, from_w_w),
        )
    os.close(to_w_r)
    os.close(from_w_w)
    samples = []
    try:
        with os.fdopen(from_w_r) as ctl_in, os.fdopen(to_w_w, "w") as ctl_out:
            for _ in regions:
                if _read_line(ctl_in, deadline) != "start":
                    raise BenchError("session ended before a timed region")
                sampler = measure.TreeSampler(os.getpid())
                sampler.start()
                ctl_out.write("go\n")
                ctl_out.flush()
                if _read_line(ctl_in, deadline) != "stop":
                    raise BenchError("session ended inside a timed region")
                samples.append(sampler.stop())
                ctl_out.write("ok\n")
                ctl_out.flush()
            proc.wait(timeout=max(deadline - time.monotonic(), 1))
        if proc.returncode != 0:
            raise BenchError(f"session exited with {proc.returncode}")
        with open(out_path) as fh:
            report = json.load(fh)
    except (BenchError, subprocess.TimeoutExpired, OSError, ValueError) as exc:
        proc.kill()
        proc.wait()
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"{wl.name} session failed: {exc}\n--- log tail ---\n{tail}") from exc
    finally:
        stop_descendants()
        shutil.rmtree(tmp, ignore_errors=True)
    return [
        dict(report, **region, sample=sample)
        for region, sample in zip(report["regions"], samples)
    ]


# ---------------------------------------------------------------- metrics


def pass_walls(report: dict) -> list[float]:
    return [sum(p["times"].values()) for p in report["passes"]]


def end_to_end(report: dict) -> dict[str, float]:
    n = len(report["passes"])
    return {
        "setup_s": report["setup_s"],
        "wall_s": statistics.median(pass_walls(report)),
        "cpu_s": report["sample"]["cpu_s"] / n,
        "peak_rss_mb": report["sample"]["peak_rss_mb"],
    }


def per_layer(traced: dict, untraced: list[dict]) -> dict[str, float]:
    passes = traced["passes"]
    n = len(passes)
    wall = statistics.median(pass_walls(traced))
    out = {name: 0.0 for name in PER_LAYER}
    stream_wall = 0.0
    for p in passes:
        for key, layer in p["layers"].items():
            for name, v in layer.items():
                if name == "exec.skew_max":
                    out[name] = max(out[name], v)
                else:
                    out[name] += v / n
            if layer["stream.batches"]:
                stream_wall += p["times"][key] / n
    out["session.build_s"] = traced["session_build_s"]
    run_s = out["exec.task_run_s"]
    out["exec.cpu_ratio"] = out["exec.task_cpu_s"] / run_s if run_s else 0.0
    out["exec.core_util"] = run_s / (wall * traced["cores"])
    out["pyworker.cpu_s"] = traced["sample"]["pyworker_cpu_s"] / n
    out["pyworker.spawned"] = traced["sample"]["pyworker_spawned"] / n
    out["stream.rows_per_s"] = out["stream.input_rows"] / stream_wall if stream_wall else 0.0
    # On the cold workload the two regions are two sessions, so host drift
    # between them shows here too; trace.probe_s is the probe's own cost.
    out["trace.overhead_s"] = wall - statistics.mean(
        statistics.median(pass_walls(u)) for u in untraced
    )
    out["trace.probe_s"] = statistics.median(p["outside_s"] for p in passes)
    return out


def span_summary(report: dict) -> dict:
    """Self time per span family over all passes, and the span count."""
    totals: dict[str, float] = {}
    count = 0
    for p in report["passes"]:
        count += len(p["spans"])
        for fam, v in measure.self_time_by_name(p["spans"]).items():
            totals[fam] = totals.get(fam, 0.0) + v
    return {"spans": count, "self_s": totals}


def outcome(report: dict, verdict: dict) -> tuple[int, int]:
    """(attempted, failed) timed key runs; a key whose output is wrong
    counts as failed on every pass."""
    attempted = failed = 0
    for p in report["passes"]:
        for key in p["times"]:
            attempted += 1
            failed += key in p["errors"] or verdict.get(key) is not None
    return attempted, failed


# ---------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    if not os.path.isfile(os.path.join(REPO, "mapreduce_6_824_lab1_spark", "__init__.py")):
        print(f"perfbench: no engine package under {REPO}", file=sys.stderr)
        return 2
    _become_subreaper()
    # exit through the finally blocks, which stop the session's processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sf_dir = fixtures.ensure(CACHE)
        expected = expectations(wl, sf_dir)
        deadline = time.monotonic() + RUN_TIMEOUT_S
        if not args.trace:
            reports = run_session(wl, args, sf_dir, ["untraced"], deadline)
        elif wl.warm:
            # Passes keep getting faster after the warm-up (the JIT is still
            # compiling), so the traced region sits between two untraced
            # ones and is compared with their mean.
            regions = ["untraced", "traced", "untraced"]
            reports = run_session(wl, args, sf_dir, regions, deadline)
        else:  # a second region of a cold workload would be warm
            reports = run_session(wl, args, sf_dir, ["untraced"], deadline)
            reports += run_session(wl, args, sf_dir, ["traced"], deadline)
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    attempted = failed = 0
    detail = {
        "workload": wl.name, "why": wl.why, "seed": args.seed, "keys": reports[0]["keys"],
    }
    labels = ("untraced", "traced", "untraced_after")
    for label, rep in zip(labels, reports):
        verdict = verdicts(rep["checks"], expected)
        a, f = outcome(rep, verdict)
        attempted, failed = attempted + a, failed + f
        detail[label] = {
            "passes": len(rep["passes"]),
            "per_key_s": [p["times"] for p in rep["passes"]],
            "check_s": {k: c["s"] for k, c in rep["checks"].items()},
            "errors": [p["errors"] for p in rep["passes"] if p["errors"]],
            "check_failures": {k: v for k, v in verdict.items() if v},
            "end_to_end": end_to_end(rep),
        }
    if args.trace:
        detail["traced"]["spans"] = span_summary(reports[1])
        detail["traced"]["per_key_layer"] = [p["layers"] for p in reports[1]["passes"]]
        metrics = per_layer(reports[1], [r for r in reports if r["name"] == "untraced"])
        units = PER_LAYER
        seen = dict(metrics, wall_s=detail["traced"]["end_to_end"]["wall_s"])
        detail["traced"]["claims"] = {text: test(seen) for text, test in wl.claims}
    else:
        metrics = end_to_end(reports[0])
        units = END_TO_END
    detail["failed_frac"] = failed / attempted
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
