"""One benchmark session: a fresh Python process that builds the engine's
SparkSession, runs a workload's keys and reports per-key times, output
digests and (traced) per-layer numbers as JSON.

Started by ``run.py``, which samples this process tree from outside; the two
agree on each timed region over a pair of pipes: the worker writes ``start``
and waits for ``go`` before the region's first timed key, and writes
``stop`` and waits for ``ok`` after its last. A session runs the timed
regions ``--regions`` names, in order, each ``untraced`` or ``traced``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import measure
from workloads import WORKLOADS


def check(queries, spark, key: str, sf_dir: str) -> dict:
    """Run ``key`` outside the timed region, collect its result and digest
    it; ``s`` is how long that took."""
    t = time.perf_counter()
    try:
        rows, digest = measure.digest(queries[key](spark, sf_dir).toArrow())
    except Exception as exc:  # noqa: BLE001 — a failing key is a result
        return {"error": f"{type(exc).__name__}: {exc}"[:500], "s": time.perf_counter() - t}
    return {"rows": rows, "hash": digest, "s": time.perf_counter() - t}


def timed_pass(queries, spark, keys, sf_dir, probe, pass_no: int) -> dict:
    """Run every key once, closed loop, materializing each result with a
    noop-format write. Returns per-key seconds, errors, the pass's seconds
    outside the keys' own times (with a probe, mostly the probe's work), and
    with a probe the per-key layer numbers and spans."""
    times, errors, layers, spans = {}, {}, {}, []
    root = {"id": 0, "parent": None, "name": "workload", "start": time.time()}
    spans.append(root)
    p0 = time.perf_counter()
    for key in keys:
        c0 = probe.counters() if probe else None
        if probe:
            probe.begin_key(pass_no, key)
        df = w1 = None
        t0, w0 = time.perf_counter(), time.time()
        try:
            df = queries[key](spark, sf_dir)
            w1 = time.time()
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — a failing key is a result
            errors[key] = f"{type(exc).__name__}: {exc}"[:500]
        times[key] = time.perf_counter() - t0
        w2 = time.time()
        w1 = w1 or w2
        if probe:
            got = probe.end_key(df)
            c1 = probe.counters()
            layer = got["layer"]
            layer.update({k: c1[k] - c0[k] for k in c0})
            layer["operators.build_s"] = w1 - w0
            layers[key] = layer
            spans.extend(_key_spans(len(spans), key, w0, w1, w2, got))
    outside_s = time.perf_counter() - p0 - sum(times.values())
    root["end"] = time.time()
    return {
        "times": times, "errors": errors, "outside_s": outside_s,
        "layers": layers, "spans": spans,
    }


def _key_spans(first_id: int, key: str, w0, w1, w2, got) -> list[dict]:
    """query:<key> › {operators.build, exec.write} › job › stage spans; jobs
    hang under whichever phase they were submitted in."""
    q, b, w = first_id, first_id + 1, first_id + 2
    spans = [
        {"id": q, "parent": 0, "name": f"query:{key}", "start": w0, "end": w2},
        {"id": b, "parent": q, "name": "operators.build", "start": w0, "end": w1},
        {"id": w, "parent": q, "name": "exec.write", "start": w1, "end": w2},
    ]
    nid = w + 1
    stage_parent = {}
    for j in got["jobs"]:
        if not j.get("submissionTime") or not j.get("completionTime"):
            continue
        start, end = j["submissionTime"] / 1e3, j["completionTime"] / 1e3
        spans.append({
            "id": nid, "parent": b if start < w1 else w, "name": f"job:{j['jobId']}",
            "start": start, "end": end,
        })
        for sid in j["stageIds"]:
            stage_parent.setdefault(sid, nid)
        nid += 1
    for s in got["stages"]:
        start = s.get("firstTaskLaunchedTime") or s.get("submissionTime")
        if not start or not s.get("completionTime") or s["stageId"] not in stage_parent:
            continue
        spans.append({
            "id": nid, "parent": stage_parent[s["stageId"]],
            "name": f"stage:{s['stageId']}",
            "start": start / 1e3, "end": s["completionTime"] / 1e3,
        })
        nid += 1
    return spans


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--regions", required=True, help="e.g. untraced,traced,untraced")
    ap.add_argument("--launched", type=float, required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--ctl", required=True, help="read_fd,write_fd")
    a = ap.parse_args()
    ctl_r, ctl_w = (int(x) for x in a.ctl.split(","))
    ctl_in, ctl_out = os.fdopen(ctl_r, "r"), os.fdopen(ctl_w, "w")

    def handshake(say: str, want: str) -> None:
        ctl_out.write(say + "\n")
        ctl_out.flush()
        if ctl_in.readline().strip() != want:
            raise RuntimeError(f"run.py did not answer {want!r}")

    wl = WORKLOADS[a.workload]
    keys = wl.order(a.seed)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from mapreduce_6_824_lab1_spark import QUERIES
    from mapreduce_6_824_lab1_spark.session import get_spark

    t = time.monotonic()
    spark = get_spark(app_name=f"perfbench-{wl.name}")
    session_build_s = time.monotonic() - t
    spark.sparkContext.setLogLevel("ERROR")
    checks = {}
    if wl.warm:
        # The untimed pass that warms codegen, the JIT and the worker pool
        # also collects each result for the correctness check. It runs in
        # the listed order whatever the seed, so the JIT's state when the
        # timed region starts does not depend on the seed: warmed up in the
        # timed order instead, `rounds` read 15.6-16.8 s on the seeds that
        # put dedup_clusters first and 12.3-15.5 s on the rest.
        checks = {k: check(QUERIES, spark, k, a.sf_dir) for k in wl.keys}
    setup_s = None
    regions = []
    for name in a.regions.split(","):
        probe = None
        if name == "traced":
            from probe import EngineProbe

            probe = EngineProbe(spark)
        setup_s = setup_s or time.monotonic() - a.launched
        handshake("start", "go")
        passes = []
        region0 = time.monotonic()
        while True:
            passes.append(timed_pass(QUERIES, spark, keys, a.sf_dir, probe, len(passes)))
            # a second pass of a cold workload would be warm
            if not wl.warm or time.monotonic() - region0 >= a.seconds:
                break
        handshake("stop", "ok")
        if probe:
            probe.close()
        regions.append({"name": name, "passes": passes})
    if not wl.warm:
        checks = {k: check(QUERIES, spark, k, a.sf_dir) for k in keys}
    out = {
        "setup_s": setup_s,
        "session_build_s": session_build_s,
        "cores": spark.sparkContext.defaultParallelism,
        "keys": keys,
        "regions": regions,
        "checks": checks,
    }
    with open(a.out, "w") as fh:
        json.dump(out, fh)
    spark.stop()


if __name__ == "__main__":
    try:
        main()
    except Exception:
        traceback.print_exc()
        sys.exit(1)
