"""The production wire path, live: proto-framed Kafka records through
the transport seam (streaming/transport.py + feedback.run_event_loop).

Every byte crossing a topic in these tests is an Event proto framed
exactly like the reference producer (key = event_id UTF-8, value =
Event bytes — KafkaSerializeProto.java:24-30); every read goes through
sources.kafka.decode_frames, every route through streaming.routing.
Swapping DirectoryTransport for KafkaTransport changes no loop code —
that substitution is what test_kafka_transport_format_wiring pins.
"""

from __future__ import annotations

import tempfile
import threading
import time

import pytest
from pyspark.sql import functions as F

from stateflow_flink_spark.io import load
from stateflow_flink_spark.sources.kafka import (
    KAFKA_RECORD,
    TOPIC_CLIENT_REQUEST,
    TOPIC_INTERNAL,
)
from stateflow_flink_spark.streaming.feedback import (
    advance_envelope,
    invoked_advance,
    make_flow_requests,
    run_event_loop,
)
from stateflow_flink_spark.streaming.transport import (
    DirectoryTransport,
    KafkaTransport,
)

from .conftest import SF_SMOKE


def _hop_flows(spark, n: int):
    """``n`` fixture flows, each with ``event_id % 3 + 1`` hops."""
    return (
        load(spark, SF_SMOKE, "events")
        .select("event_id", (F.col("event_id") % 3 + 1).alias("steps_left"))
        .limit(n)
    )


def test_wire_loop_drains_every_flow_exactly_once(spark):
    """Same contract as test_feedback_loop_drains_every_flow_exactly_once
    but over the WIRE path: each flow (event_id % 3 + 1 hops) crosses
    one proto encode/decode per hop and lands exactly one
    SuccessfulInvocation reply."""
    flows = _hop_flows(spark, 60)
    n = flows.count()
    seed = make_flow_requests(spark, flows)
    transport = DirectoryTransport(tempfile.mkdtemp(prefix="sfs_wire_"))
    replies = run_event_loop(spark, transport, seed, timeout_s=90.0)
    rows = replies.collect()
    assert len(rows) == n  # exactly one reply per flow
    assert {r.event_id for r in rows} == {
        str(e) for (e,) in flows.select("event_id").collect()
    }
    for r in rows:
        assert r.reply == "SuccessfulInvocation"
        assert r.request is None  # oneof flipped request -> reply
        assert r.current_node_type == "RETURN"
        assert int(r.current_fun_key) == 0  # counter fully burned


def test_invoked_advance_matches_advance_envelope(spark):
    """The per-event hop and the column hop are one hop in two forms:
    on the same envelopes (mid-flow, last step, exhausted, null cursor,
    plus the decode metadata columns) they must give identical rows."""
    flows = spark.createDataFrame(
        [(1, 3), (2, 2), (3, 1), (4, 0), (5, None)],
        "event_id long, steps_left long",
    )
    env = make_flow_requests(spark, flows).withColumns(
        {
            "topic": F.lit(TOPIC_INTERNAL),
            "partition": F.col("event_id").cast("int"),
            "offset": F.col("event_id").cast("long"),
        }
    )
    by_column = advance_envelope(env)
    by_event = invoked_advance(None)(env)
    assert by_event.dtypes == by_column.dtypes
    assert sorted(map(tuple, by_event.collect())) == sorted(
        map(tuple, by_column.collect())
    )


def test_wire_loop_populates_invoke_latency_histogram(spark):
    """With ``advance=invoked_advance(lat)`` every hop of the live cycle
    runs as a per-event invoked call and lands one histogram sample:
    after the drain the driver-side snapshot holds EXACTLY one sample
    per hop (the sum of steps over the seeds), and the replies keep the
    loop's contract.  This is the reference's metric-scrape point: the
    Dropwizard histogram read after the job has processed its events."""
    from stateflow_flink_spark.streaming.metrics import InvokeLatency

    flows = _hop_flows(spark, 60)
    n = flows.count()
    total_hops = flows.agg(F.sum("steps_left")).collect()[0][0]
    lat = InvokeLatency(spark, name="feedback_hop_latency")
    transport = DirectoryTransport(tempfile.mkdtemp(prefix="sfs_wire_lat_"))
    replies = run_event_loop(
        spark,
        transport,
        make_flow_requests(spark, flows),
        advance=invoked_advance(lat),
        timeout_s=90.0,
    )
    rows = replies.collect()
    assert len(rows) == n
    for r in rows:
        assert r.reply == "SuccessfulInvocation"
        assert int(r.current_fun_key) == 0

    snap = lat.snapshot()
    assert snap["name"] == "feedback_hop_latency"
    assert snap["count"] == total_hops, snap
    assert sum(snap["buckets"].values()) == total_hops
    assert snap["max_ms"] >= 0.0 and snap["mean_ms"] > 0.0
    assert snap["p50_le_ms"] is not None and snap["p99_le_ms"] is not None


def test_wire_loop_fails_fast_when_a_query_dies(spark):
    """A worker batch that raises kills query B; the drain must surface
    that error at once instead of waiting out ``timeout_s``."""

    def broken_advance(df):
        raise RuntimeError("advance exploded")

    flows = spark.range(3).select(
        F.col("id").alias("event_id"), F.lit(2).alias("steps_left")
    )
    transport = DirectoryTransport(tempfile.mkdtemp(prefix="sfs_wire_dead_"))
    t0 = time.time()
    with pytest.raises(Exception, match="advance exploded"):
        run_event_loop(
            spark,
            transport,
            make_flow_requests(spark, flows),
            advance=broken_advance,
            timeout_s=300.0,
        )
    assert time.time() - t0 < 60.0


def test_wire_loop_ping_answered_from_ingress(spark):
    """Ping never enters the internal topic: the ingress router answers
    Pong directly (IngressRouter.java:42-52) — mixed seed of Pings and
    one-hop flows must yield exactly one reply each, with the right
    oneof member."""
    flows = spark.range(3).select(
        F.col("id").alias("event_id"), F.lit(1).alias("steps_left")
    )
    seed = make_flow_requests(spark, flows)
    pings = seed.limit(0)  # envelope-shaped empty frame, then union rows
    ping_rows = [
        (
            f"ping-{i}", "globals", "ping", False, "", "Ping", None,
            b"", "", "", "", "",
        )
        for i in range(2)
    ]
    pings = spark.createDataFrame(ping_rows, seed.schema)
    transport = DirectoryTransport(tempfile.mkdtemp(prefix="sfs_wire_ping_"))
    replies = run_event_loop(
        spark, transport, seed.unionByName(pings), timeout_s=90.0
    )
    got = {r.event_id: r.reply for r in replies.collect()}
    assert got == {
        "0": "SuccessfulInvocation",
        "1": "SuccessfulInvocation",
        "2": "SuccessfulInvocation",
        "ping-0": "Pong",
        "ping-1": "Pong",
    }
    # Pings never crossed the feedback topic
    internal = transport.read_batch(spark, "internal")
    keys = {bytes(r.key).decode() for r in internal.select("key").collect()}
    assert keys == {"0", "1", "2"}


def test_directory_transport_record_shape_and_key_partitioning(spark):
    """The sandbox transport must produce the exact public Kafka record
    schema and honor the one-key-one-partition contract the loop's
    per-event ordering relies on."""
    transport = DirectoryTransport(tempfile.mkdtemp(prefix="sfs_rec_"), n_partitions=4)
    frames = spark.range(50).select(
        F.encode(F.col("id").cast("string"), "utf-8").alias("key"),
        F.col("id").cast("string").cast("binary").alias("value"),
        F.lit(TOPIC_CLIENT_REQUEST).alias("topic"),
    )
    transport.append(frames, TOPIC_CLIENT_REQUEST)
    transport.append(frames, TOPIC_CLIENT_REQUEST)  # second producer epoch
    got = transport.read_batch(spark, TOPIC_CLIENT_REQUEST)
    assert got.schema == KAFKA_RECORD
    assert got.count() == 100
    # same key -> same partition, across appends
    assert (
        got.groupBy("key")
        .agg(F.countDistinct("partition").alias("nparts"))
        .filter(F.col("nparts") > 1)
        .count()
        == 0
    )
    # offsets unique within the topic
    assert got.select("offset", "partition").distinct().count() == 100


def test_directory_transport_concurrent_appends_keep_every_row(spark):
    """Producers appending to one topic at the same time (the loop's
    ingress and worker queries both append to ``internal``) must not
    lose each other's rows: every append succeeds and every row of every
    append is present.  Four producers make the overlap near-certain."""
    transport = DirectoryTransport(tempfile.mkdtemp(prefix="sfs_race_"))
    n_producers, n_appends, n_rows = 4, 15, 100
    errors: list[Exception] = []

    def produce(p: int) -> None:
        try:
            for a in range(n_appends):
                first = (p * n_appends + a) * n_rows
                frames = spark.range(first, first + n_rows).select(
                    F.encode(F.col("id").cast("string"), "utf-8").alias("key"),
                    F.col("id").cast("string").cast("binary").alias("value"),
                )
                transport.append(frames, TOPIC_INTERNAL)
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    threads = [threading.Thread(target=produce, args=(p,)) for p in range(n_producers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=240.0)
    assert not any(t.is_alive() for t in threads), "appends did not finish in time"
    assert not errors, errors
    got = transport.read_batch(spark, TOPIC_INTERNAL)
    total = n_producers * n_appends * n_rows
    assert got.count() == total
    assert got.select("key").distinct().count() == total


def test_kafka_transport_format_wiring(spark):
    """KafkaTransport composes the R1 builder and the format('kafka')
    producer.  Without the spark-sql-kafka package the stream reader
    must fail at SOURCE RESOLUTION (proving the format string reaches
    Spark's DataSource lookup, i.e. the wiring is live); with the
    package present it must yield the public Kafka record schema."""
    t = KafkaTransport("localhost:9092")
    try:
        df = t.read_stream(spark, "internal")
    except Exception as e:  # jar absent: resolution error names the format
        assert "kafka" in str(e).lower()
        pytest.skip("spark-sql-kafka package absent (expected in sandbox)")
    assert [f.name for f in df.schema.fields] == [f.name for f in KAFKA_RECORD.fields]
