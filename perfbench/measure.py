"""Measurement helpers that need no Spark: the /proc sampler of a process
tree, span self times and the order-insensitive output digest. Kept free of
engine imports so the tests run without a JVM."""

from __future__ import annotations

import hashlib
import math
import os
import threading
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa

PYWORKER_TOKENS = (b"pyspark.daemon", b"pyspark.worker")


# ---------------------------------------------------------------- /proc


_HZ = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1 << 20)


PF_FORKNOEXEC = 0x40  # forked and has not exec'd yet


def _read_proc(pid: int) -> tuple[int, int, float, float, bool, bool, bool] | None:
    """(ppid, starttime, cpu_s incl. reaped children, rss_mb, is_pyworker,
    is_jvm, forked_not_execd)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmdline = fh.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces and parentheses: split at the last ')'
    head, tail = stat.rsplit(b")", 1)
    f = tail.split()
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return (
        int(f[1]),
        int(f[19]),
        ticks / _HZ,
        int(f[21]) * _PAGE_MB,
        any(t in cmdline for t in PYWORKER_TOKENS),
        head.endswith(b"(java"),
        bool(int(f[6]) & PF_FORKNOEXEC),
    )


def tree_snapshot(root: int) -> dict[tuple[int, int], tuple[float, float, bool]]:
    """Every live descendant of ``root`` (not ``root`` itself), keyed by
    (pid, starttime) so a reused pid never aliases: (cpu_s, rss_mb,
    is_pyworker). A process's cpu_s includes the children it has reaped,
    so work of short-lived processes that ended inside the tree is kept.

    The JVM starts shell helpers with vfork: until the child execs, it
    shares the JVM's memory and shows the JVM's whole RSS, so such a child
    counts 0 MB."""
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            info = _read_proc(int(entry))
            if info is not None:
                procs[int(entry)] = info
    children: dict[int, list[int]] = {}
    for pid, info in procs.items():
        children.setdefault(info[0], []).append(pid)
    out = {}
    stack = list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        ppid, start, cpu, rss, py, _, clone = procs[pid]
        if clone and procs.get(ppid, (0,) * 7)[5]:
            rss = 0.0
        out[(pid, start)] = (cpu, rss, py)
        stack.extend(children.get(pid, ()))
    return out


class TreeSampler:
    """Samples the process tree under ``root`` every ``interval`` seconds
    between :meth:`start` and :meth:`stop`, from outside the measured
    processes. Reports the tree's CPU seconds and peak RSS over the window,
    and the Python workers' CPU seconds and number spawned."""

    def __init__(self, root: int, interval: float = 0.1) -> None:
        self.root = root
        self.interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_rss_mb = 0.0
        self._seen_py: set[tuple[int, int]] = set()
        self._first: dict = {}
        self._last: dict = {}

    def _sample(self) -> dict:
        snap = tree_snapshot(self.root)
        self.peak_rss_mb = max(self.peak_rss_mb, sum(v[1] for v in snap.values()))
        self._seen_py.update(k for k, v in snap.items() if v[2])
        return snap

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        self._first = self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join()
        self._last = self._sample()
        a, b = self._first, self._last
        # A process that ended inside the window was reaped by its parent
        # in the tree, whose cpu_s now holds its whole total: subtract
        # every start value, ended or not.
        cpu = sum(v[0] for v in b.values()) - sum(v[0] for v in a.values())
        py_cpu = sum(v[0] for v in b.values() if v[2]) - sum(
            v[0] for v in a.values() if v[2]
        )
        return {
            "cpu_s": cpu,
            "peak_rss_mb": self.peak_rss_mb,
            "pyworker_cpu_s": py_cpu,
            "pyworker_spawned": len(
                {k for k in self._seen_py if k not in a}
            ),
        }


# ---------------------------------------------------------------- spans


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    covered by its children (overlapping children are counted once, and a
    child running past its parent is clipped to the parent).

    ``spans`` holds dicts with ``id``, ``parent`` (None for a root),
    ``start`` and ``end`` in seconds."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(
            (max(c["start"], lo), min(c["end"], hi)) for c in kids.get(s["id"], ())
        ):
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (hi - lo) - covered
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    """Self times summed per span-name family (``query:<key>`` → ``query``)."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        fam = s["name"].split(":", 1)[0]
        out[fam] = out.get(fam, 0.0) + st[s["id"]]
    return out


# ---------------------------------------------------------------- digest


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Engine-neutral column values: every number as a float64 rounded to
    6 decimals (so int32/int64/HUGEINT/decimal agree), timestamps as UTC
    nanoseconds, everything else as its string form."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_bool_dtype(col) or pd.api.types.is_numeric_dtype(col):
            v = col.astype("float64").round(6) + 0.0  # -0.0 → 0.0
        elif pd.api.types.is_datetime64_any_dtype(col):
            if getattr(col.dt, "tz", None) is not None:
                col = col.dt.tz_convert("UTC").dt.tz_localize(None)
            v = col.astype("datetime64[ns]").astype("int64").astype("float64")
        else:
            first = col.dropna().head(1)
            if len(first) and isinstance(first.iloc[0], Decimal):
                v = col.astype("float64").round(6) + 0.0
            else:
                v = col.map(_cell_str)
        out[c] = v.fillna(-1.0e300) if v.dtype == "float64" else v
    return pd.DataFrame(out)


def _cell_str(x) -> str:
    if x is None or (isinstance(x, float) and math.isnan(x)):
        return "\x00null"
    if isinstance(x, np.ndarray):
        x = x.tolist()
    return str(x)


def digest(table: pa.Table, chunk_rows: int = 200_000) -> tuple[int, str]:
    """(row count, order-insensitive value hash) of a result table. Rows are
    hashed a chunk at a time, so a large result is never all in pandas."""
    names = sorted(table.column_names)
    head = hashlib.sha1("\x1f".join(names).encode()).hexdigest()[:16]
    total = 0
    if names:
        for batch in table.to_batches(max_chunksize=chunk_rows):
            rows = pd.util.hash_pandas_object(_normalize(batch.to_pandas()), index=False)
            # The sum of per-row hashes (mod 2**64) is independent of row order.
            total = (total + int(rows.to_numpy(np.uint64).sum(dtype=np.uint64))) % 2**64
    return table.num_rows, f"{head}:{total:016x}"
