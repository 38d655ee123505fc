"""Live two-query dataflow cycle (ref R13 — the Kafka feedback loop,
run broker-free on directory topics).  See streaming/feedback.py."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from stateflow_flink_spark.io import load
from stateflow_flink_spark.sources.kafka import TOPIC_INTERNAL
from stateflow_flink_spark.streaming.feedback import (
    make_flow_requests,
    run_event_loop,
)
from stateflow_flink_spark.streaming.transport import DirectoryTransport

from .conftest import SF_SMOKE


def test_feedback_loop_drains_every_flow_exactly_once(spark):
    """Each seeded flow (event_id % 3 + 1 hops) must cross the live
    cycle one micro-batch per hop and land EXACTLY ONE reply with the
    closed-form hop count — the same contract the batch analog
    (q_flow_iterate) proves, now across two concurrent streaming
    queries sharing the internal topic.  The hop count is read off the
    internal topic: one record per hop of each flow (the ingress send
    plus one feedback send per unfinished hop)."""
    flows = (
        load(spark, SF_SMOKE, "events")
        .select("event_id", (F.col("event_id") % 3 + 1).alias("steps_left"))
        .limit(120)
    )
    n = flows.count()
    transport = DirectoryTransport(tempfile.mkdtemp(prefix="sfs_feedback_"))
    replies = run_event_loop(
        spark, transport, make_flow_requests(spark, flows), timeout_s=90.0
    )
    rows = replies.collect()
    assert len(rows) == n  # exactly one reply per flow, none duplicated
    assert {r.event_id for r in rows} == {
        str(e) for (e,) in flows.select("event_id").collect()
    }
    for r in rows:
        assert r.current_node_type == "RETURN"
        assert r.reply == "SuccessfulInvocation"
        assert int(r.current_fun_key) == 0  # every step burned
    hops = (
        transport.read_batch(spark, TOPIC_INTERNAL)
        .groupBy(F.col("key").cast("string").alias("event_id"))
        .count()
        .collect()
    )
    assert len(hops) == n
    for h in hops:
        assert h["count"] == int(h.event_id) % 3 + 1, h
