"""Workload definitions: which registry keys run, cold or warm.

Every workload is closed-loop with one client: one driver thread runs its
keys one after another on ``local[$(nproc)]``, each key's next call starting
only after the previous result is complete. ``--seed`` permutes the key
order; seed 0 keeps the listed order.
"""

from __future__ import annotations

import random
from collections.abc import Callable
from dataclasses import dataclass

# A claim is the workload's stated reason as a test on its traced per-layer
# numbers (plus ``wall_s``); the traced run reports whether each holds.
Claim = tuple[str, Callable[[dict], bool]]


@dataclass(frozen=True)
class Workload:
    name: str
    warm: bool  # run an untimed pass (which also checks outputs) first
    keys: tuple[str, ...]
    why: str
    claims: tuple[Claim, ...] = ()

    def order(self, seed: int) -> list[str]:
        keys = list(self.keys)
        if seed:
            random.Random(seed).shuffle(keys)
        return keys


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="cold_headline",
            warm=False,
            # bench.py's HEADLINE list, copied so the workload stays fixed
            # when that list changes, without dedup_ngram_jaccard: the
            # slowest of the fifteen, and it runs warm inside dedup_clusters
            # in `rounds`.
            keys=(
                "wordcount", "inverted_index", "distributed_sort",
                "filter_project", "agg_hash", "join_inner_equi",
                "join_asof_merge", "window_analytic", "window_session",
                "window_sliding", "topk", "scalar_json",
                "similarity_topk", "text_tfidf",
            ),
            why=(
                "every new query shape pays Janino compile, JIT and planning "
                "once; this is the interactive many-query case"
            ),
            claims=(
                ("codegen.classes >= 100", lambda m: m["codegen.classes"] >= 100),
                ("jvm.jit_ms >= 0.5 * wall", lambda m: m["jvm.jit_ms"] >= 500 * m["wall_s"]),
            ),
        ),
        Workload(
            name="rounds",
            warm=True,
            keys=(
                # the connected-components and BFS fixpoint loops (ROADMAP
                # item C) and a stream drain, whose rounds are micro-batches
                "dedup_clusters", "graph_bfs_frontier", "stream_tumbling_watermark",
            ),
            why=(
                "driver-side rounds: loop iterations and stream micro-batches; "
                "per-round jobs, barriers and state commits dominate while "
                "task work is tiny"
            ),
            claims=(
                ("exec.jobs >= 40", lambda m: m["exec.jobs"] >= 40),
                ("exec.core_util < 0.5", lambda m: m["exec.core_util"] < 0.5),
                (
                    "operators.build_s >= 0.5 * wall",
                    lambda m: m["operators.build_s"] >= 0.5 * m["wall_s"],
                ),
                ("codegen.classes <= 20 (warm)", lambda m: m["codegen.classes"] <= 20),
                ("jvm.jit_ms <= 0.25 * wall (warm)", lambda m: m["jvm.jit_ms"] <= 250 * m["wall_s"]),
                ("stream.batches >= 2", lambda m: m["stream.batches"] >= 2),
                ("stream.state_rows > 0", lambda m: m["stream.state_rows"] > 0),
            ),
        ),
    )
}
