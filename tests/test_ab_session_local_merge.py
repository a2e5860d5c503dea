"""Pins for the session-window local-merge knob that the cluster profile
(cluster.STREAMING_CLUSTER_CONF) turns on, after the round-14 A/B
(SCALING_r14.md). The throughput trade is weather-dependent and lives in
that record; what tests can pin is (a) the knob still takes effect and
(b) it is a physical rewrite that must not change results."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_6_824_lab1_spark.cluster import STREAMING_CLUSTER_CONF

CONF = next(k for k in STREAMING_CLUSTER_CONF if "sessionWindow.merge" in k)


def test_identity_check_on_bounded_key(spark):
    """MergingSessionsExec (conf on) must produce identical results to
    the default two-phase session merge on the bounded registry key."""
    from mapreduce_6_824_lab1_spark import QUERIES
    from mapreduce_6_824_lab1_spark.session import scoped_conf

    assert STREAMING_CLUSTER_CONF[CONF] == "true"

    def fingerprint():
        df = QUERIES["stream_session_window"](spark, "/root/testdata/sf0.01")
        row = (
            df.select(
                F.xxhash64(
                    *[F.col(c).cast("string") for c in sorted(df.columns)]
                ).alias("h")
            )
            .agg(
                F.sum(F.col("h").cast("decimal(38,0)")).alias("hsum"),
                F.count(F.lit(1)).alias("rows"),
            )
            .collect()[0]
        )
        return (int(row["rows"]), int(row["hsum"]))

    with scoped_conf(spark, {CONF: "false"}):
        off = fingerprint()
    with scoped_conf(spark, {CONF: "true"}):
        on = fingerprint()
    assert off == on
    assert off[0] > 0  # the fixture actually produced sessions


def test_conf_changes_streaming_plan(spark):
    """The knob must actually take effect: with it on, the streaming
    session aggregation plans a partial-merge (sort) before the shuffle.
    Guards against the conf name rotting across Spark upgrades — if
    Spark renames it, both plans come out identical and this fails."""
    from mapreduce_6_824_lab1_spark.session import scoped_conf

    def plan():
        df = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "10")
            .load()
            .withWatermark("timestamp", "5 seconds")
            .groupBy(F.session_window("timestamp", "3 seconds"), "value")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            df.writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", f"/tmp/ab_slm_plan_{id(df)}")
            .start()
        )
        try:
            # the physical plan is only built once a batch is planned
            import time

            for _ in range(50):
                if q.lastProgress is not None:
                    break
                time.sleep(0.2)
            return str(q._jsq.explainInternal(False))
        finally:
            q.stop()

    with scoped_conf(spark, {CONF: "false"}):
        p_off = plan()
    with scoped_conf(spark, {CONF: "true"}):
        p_on = plan()
    assert p_off != p_on
    assert "MergingSessions" in p_on
