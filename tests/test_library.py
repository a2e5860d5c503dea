"""Unit tests for library functions not (fully) exercised via queries():
the generic lab-shaped map_reduce runner and the multimodal codec stubs."""

from __future__ import annotations

import warnings

import pytest

from mapreduce_6_824_lab1_spark.catalog import load_table
from mapreduce_6_824_lab1_spark.operators.mapreduce import map_reduce
from mapreduce_6_824_lab1_spark.operators.multimodal import (
    decode_image_batch,
    sample_video_frames,
)
from tests.conftest import SF_DIR


def test_map_reduce_runs_arbitrary_user_functions(spark):
    """The lab's contract: mapF(key, contents) -> [KV], reduceF(k, vs) -> str.
    Longest-word-per-lang through the generic runner."""
    docs = load_table(spark, SF_DIR, "documents")

    def map_f(lang: str, text: str):
        return [(lang, w) for w in text.split(" ")]

    def reduce_f(lang: str, words: list[str]) -> str:
        return max(words, key=lambda w: (len(w), w))

    out = {
        r.key: r.value
        for r in map_reduce(docs, map_f, reduce_f, "lang", "text").collect()
    }
    # cross-check against a declarative formulation
    from pyspark.sql import functions as F

    expect = {
        r.lang: r.w
        for r in docs.select(
            "lang", F.explode(F.split("text", " ")).alias("w")
        )
        .groupBy("lang")
        .agg(F.max(F.struct(F.length("w").alias("l"), F.col("w"))).alias("m"))
        .select("lang", F.col("m.w").alias("w"))
        .collect()
    }
    assert out == expect


def test_multimodal_codec_stubs_raise(spark):
    with pytest.raises(NotImplementedError):
        next(decode_image_batch(iter([])))
    with pytest.raises(NotImplementedError):
        next(sample_video_frames(iter([])))


def test_cluster_profile_applies(spark):
    from mapreduce_6_824_lab1_spark.cluster import (
        RUNTIME_CLUSTER_CONF,
        apply_cluster_profile,
        cluster_conf,
    )

    profile = cluster_conf()
    assert profile["spark.sql.adaptive.enabled"] == "true"
    saved = {}
    for k in RUNTIME_CLUSTER_CONF:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        failed = apply_cluster_profile(spark)
        assert not failed, failed
        assert (
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
            == RUNTIME_CLUSTER_CONF[
                "spark.sql.adaptive.advisoryPartitionSizeInBytes"
            ]
        )
    finally:
        # the session is shared across the test run — restore
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_ignored_static_conf_warns(spark):
    """get_spark's codegen cache size is a static conf: a session built
    before get_spark keeps its own value, and the check must say so."""
    from types import SimpleNamespace

    from mapreduce_6_824_lab1_spark.session import (
        CODEGEN_CACHE_CONF,
        CODEGEN_CACHE_ENTRIES,
        _warn_ignored_static_conf,
    )

    # the tuned test session took the value: no warning
    assert spark.conf.get(CODEGEN_CACHE_CONF) == CODEGEN_CACHE_ENTRIES
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        _warn_ignored_static_conf(spark)

    # a reused vanilla session reads Spark's default of 100
    vanilla = SimpleNamespace(conf=SimpleNamespace(get=lambda _key: "100"))
    with pytest.warns(UserWarning, match=CODEGEN_CACHE_CONF) as rec:
        _warn_ignored_static_conf(vanilla)
    assert "100" in str(rec[0].message)
    assert CODEGEN_CACHE_ENTRIES in str(rec[0].message)


def test_stream_runner_restores_shuffle_partitions(spark):
    # _run_to_memory pins state-store partitioning (STATE_PARTITIONS) for
    # the duration of the stream only; the session's own setting must be
    # back before any subsequent batch query plans.
    from mapreduce_6_824_lab1_spark import QUERIES
    from mapreduce_6_824_lab1_spark.streaming.jobs import STATE_PARTITIONS

    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != str(STATE_PARTITIONS)  # the test would be vacuous
    QUERIES["stream_grep"](spark, SF_DIR).count()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


# ---------------------------------------------------------------------------
# CLI entry points (python -m mapreduce_6_824_lab1_spark ...)
# ---------------------------------------------------------------------------


def test_cli_list(capsys):
    from mapreduce_6_824_lab1_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "wordcount\toracle" in out
    assert "dedup_minhash_lsh\trows-only" in out


def test_cli_run_text_out(tmp_path, capsys):
    """--format text is the mr-out-* analogue: sorted space-joined lines."""
    from mapreduce_6_824_lab1_spark.__main__ import main

    out_dir = str(tmp_path / "wc_out")
    assert main(["run", "wordcount", "--out", out_dir]) == 0
    import glob

    lines = []
    for f in glob.glob(f"{out_dir}/part-*"):
        with open(f, encoding="utf-8") as fh:
            lines += [ln.rstrip("\n") for ln in fh]
    assert lines == sorted(lines) or len(glob.glob(f"{out_dir}/part-*")) > 1
    assert any(ln.startswith("sort ") for ln in lines)


def test_cli_verify_matches_oracle(capsys):
    from mapreduce_6_824_lab1_spark.__main__ import main

    assert main(["verify", "wordcount"]) == 0
    assert "OK" in capsys.readouterr().out


def test_cli_unknown_key(capsys):
    from mapreduce_6_824_lab1_spark.__main__ import main

    assert main(["run", "nope_key"]) == 2
