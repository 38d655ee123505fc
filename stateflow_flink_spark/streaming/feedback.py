"""Live dataflow cycle — two concurrent streaming queries sharing a topic.

The reference's event loop is a CYCLE through Kafka: the job consumes
``internal`` + ``client_request``, advances each flow one hop, and
produces mid-flow events *back to* ``internal`` — which its own source
re-consumes (``StateFlowFlinkJob.java:47-54`` source, ``:127-132``
internal producer, ``EgressRouter.java:49-63`` the feedback decision).
Structured Streaming cannot express a cycle inside one query, so
SURVEY.md §3.3(a) maps the loop to TWO independent streaming queries
sharing the feedback topic; the topic itself remains the cycle's
buffer, exactly as in the reference.

:func:`run_event_loop` is that loop.  Every topic byte is a framed
Event proto, every read crosses ``decode_frames``, every route crosses
``streaming.routing`` — through the transport seam
(``streaming/transport.py``), so the same code path runs on
directory-topics (``DirectoryTransport``) and ``format("kafka")``
(``KafkaTransport``):

  * query A (ingress router, ref R3): streams ``client_request``,
    answers Pings and finished flows straight to ``client_reply`` and
    sends mid-flow requests to ``internal``;
  * query B (flow worker, ref R4+R9+R11+R13): streams ``internal``,
    advances every flow ONE hop, egress-splits inside ``foreachBatch``
    — replies go to ``client_reply``, continuing flows go BACK to
    ``internal``, i.e. into query B's own source.  That append is the
    feedback edge.

A flow with k remaining hops crosses k micro-batches of query B, one
hop per batch, exactly one reply per flow — the same per-event
trajectory the reference executes through Kafka.

Termination is the driver's concern (the reference's job runs forever;
bounded fixtures need a drain): the loop stops once ``client_reply``
holds the expected number of replies, when either query dies, or after
a timeout.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..schemas import EGRESS, EVENT_ENVELOPE, INTERNAL
from ..sources.kafka import (
    TOPIC_CLIENT_REPLY,
    TOPIC_CLIENT_REQUEST,
    TOPIC_INTERNAL,
    decode_frames,
    egress_split as split_frames,
    encode_frames,
)
from .routing import RETURN_NODE, route_egress, route_ingress


def make_flow_requests(spark: SparkSession, flows: DataFrame) -> DataFrame:
    """Build EVENT_ENVELOPE EventFlow requests from ``(event_id,
    steps_left)`` rows — the client's seed producing to client_request.

    The flow cursor rides the envelope's EventFlowNode columns
    (event.proto:44-47): ``current_fun_key`` carries the remaining-step
    counter as a decimal string (the reference packs its flow graph into
    the payload; a counter-in-key is this fixture's bounded stand-in),
    ``current_node_type`` is the cursor the routers read
    (IngressRouter.java:79-99)."""
    return flows.select(
        F.col("event_id").cast("string").alias("event_id"),
        F.lit("flows").alias("fun_namespace"),
        F.lit("flow").alias("fun_name"),
        F.lit(True).alias("fun_stateful"),
        F.col("event_id").cast("string").alias("fun_key"),
        F.lit("EventFlow").alias("request"),
        F.lit(None).cast("string").alias("reply"),
        F.lit(b"").alias("payload"),
        F.lit("flows").alias("current_fun_namespace"),
        F.lit("step_fun").alias("current_fun_name"),
        F.col("steps_left").cast("string").alias("current_fun_key"),
        F.lit("step").alias("current_node_type"),
    )


def advance_envelope(env: DataFrame) -> DataFrame:
    """One flow hop on the wire envelope (the stateful-apply stand-in,
    SURVEY §3.3 step 2): burn one step off the cursor; an exhausted flow
    becomes a Reply event (oneof flips request->reply, event.proto:52-56)
    so route_egress sends it CLIENT (EgressRouter.java:36-42)."""
    steps = F.col("current_fun_key").cast("long") - 1
    done = steps <= 0
    return env.withColumns(
        {
            "current_fun_key": steps.cast("string"),
            "current_node_type": F.when(done, RETURN_NODE).otherwise("step"),
            "reply": F.when(done, "SuccessfulInvocation").otherwise(F.col("reply")),
            "request": F.when(done, F.lit(None).cast("string")).otherwise(
                F.col("request")
            ),
        }
    )


def invoked_advance(latency=None) -> Callable[[DataFrame], DataFrame]:
    """:func:`advance_envelope` as a PER-EVENT external function call —
    the reference's InvokeStatefulLambda contract (one lambda call per
    event, ``InvokeStatefulLambda.java:103-115``), with the latency
    histogram wrapped around the call exactly where the reference wraps
    its Dropwizard metric (``:56-59`` build, ``:112`` update).

    ``latency`` is a ``metrics.InvokeLatency``; None runs the same
    per-event path untimed.  Pass ``advance=invoked_advance(latency)``
    to :func:`run_event_loop` to make the live cycle's hops observable:
    after the loop drains, ``latency.snapshot()`` holds one sample per
    hop — the histogram the reference's metric reporter would scrape."""
    import pandas as pd

    def hop(event: dict) -> dict:
        key = event["current_fun_key"]
        steps = None if key is None else int(key) - 1
        done = steps is not None and steps <= 0
        return {
            **event,
            "current_fun_key": None if steps is None else str(steps),
            "current_node_type": RETURN_NODE if done else "step",
            "reply": "SuccessfulInvocation" if done else event["reply"],
            "request": None if done else event["request"],
        }

    fn = latency.timed_stateless(hop) if latency is not None else hop

    def advance(df: DataFrame) -> DataFrame:
        cols = df.columns
        # a hop may null request/current_fun_key, as advance_envelope does
        schema = StructType([StructField(f.name, f.dataType) for f in df.schema])

        def run(batches):
            for pdf in batches:
                yield pd.DataFrame(
                    [fn(ev) for ev in pdf.to_dict("records")], columns=cols
                )

        return df.mapInPandas(run, schema)

    return advance


def run_event_loop(
    spark: SparkSession,
    transport,
    seed: DataFrame,
    advance: Callable[[DataFrame], DataFrame] = advance_envelope,
    expected_replies: int | None = None,
    timeout_s: float = 120.0,
    trigger_s: str = "250 milliseconds",
) -> DataFrame:
    """Run the production-shaped two-query cycle over a transport.

    ``seed`` is an EVENT_ENVELOPE DataFrame of client requests (e.g.
    :func:`make_flow_requests` output, optionally mixed with Pings).
    Returns the decoded client replies.

    Data path (identical on DirectoryTransport and KafkaTransport):

      client --encode_frames--> client_request
      query A: decode_frames -> route_ingress -> {EGRESS -> client_reply,
               INTERNAL -> internal}                       (R3 ingress)
      query B: decode_frames -> advance -> route_egress -> egress_split
               -> {client_reply, internal (the feedback edge)}  (R4+R11+R13)
    """
    base = tempfile.mkdtemp(prefix="sfs_wireloop_ck_")
    n_expected = expected_replies if expected_replies is not None else seed.count()

    # Seed: the client produces proto-framed requests to client_request.
    transport.append(encode_frames(seed, TOPIC_CLIENT_REQUEST), TOPIC_CLIENT_REQUEST)

    env_cols = [f.name for f in EVENT_ENVELOPE.fields]

    # --- query A: ingress router (client_request -> internal/reply) --
    ingress = route_ingress(
        decode_frames(transport.read_stream(spark, TOPIC_CLIENT_REQUEST))
    )

    def ingress_batch(batch_df: DataFrame, batch_id: int) -> None:
        routed = batch_df.localCheckpoint()  # route ONCE, split twice
        # Ping / already-finished flows answer the client directly
        # (IngressRouter.java:42-52, :79-90): stamp out_reply into the
        # oneof before framing.
        direct = (
            routed.filter(F.col("direction") == EGRESS)
            .withColumns(
                {
                    "reply": F.col("out_reply"),
                    "request": F.lit(None).cast("string"),
                }
            )
            .select(*env_cols)
        )
        if not direct.isEmpty():
            transport.append(
                encode_frames(direct, TOPIC_CLIENT_REPLY), TOPIC_CLIENT_REPLY
            )
        mid = routed.filter(F.col("direction") == INTERNAL).select(*env_cols)
        if not mid.isEmpty():
            transport.append(encode_frames(mid, TOPIC_INTERNAL), TOPIC_INTERNAL)

    qa = (
        ingress.writeStream.foreachBatch(ingress_batch)
        .option("checkpointLocation", os.path.join(base, "ck_a"))
        .trigger(processingTime=trigger_s)
        .start()
    )

    # --- query B: flow worker (internal -> advance -> egress split) --
    internal = decode_frames(transport.read_stream(spark, TOPIC_INTERNAL))

    def worker_batch(batch_df: DataFrame, batch_id: int) -> None:
        hopped = advance(batch_df).localCheckpoint()  # advance ONCE, split twice
        client_frames, internal_frames = split_frames(route_egress(hopped))
        if not client_frames.isEmpty():
            transport.append(client_frames, TOPIC_CLIENT_REPLY)
        if not internal_frames.isEmpty():
            # THE FEEDBACK EDGE: produce back into query B's own source
            # topic (StateFlowFlinkJob.java:127-132).
            transport.append(internal_frames, TOPIC_INTERNAL)

    qb = (
        internal.writeStream.foreachBatch(worker_batch)
        .option("checkpointLocation", os.path.join(base, "ck_b"))
        .trigger(processingTime=trigger_s)
        .start()
    )

    try:
        deadline = time.time() + timeout_s
        done = 0
        while time.time() < deadline:
            for q in (qa, qb):  # a dead query never drains: fail fast
                err = q.exception()
                if err is not None:
                    raise err
            done = transport.read_batch(spark, TOPIC_CLIENT_REPLY).count()
            if done >= n_expected:
                break
            time.sleep(0.25)
        else:
            raise TimeoutError(
                f"wire loop drained {done}/{n_expected} within {timeout_s}s"
            )
    finally:
        qa.stop()
        qb.stop()
        shutil.rmtree(base, ignore_errors=True)  # both queries are done with it
    return decode_frames(transport.read_batch(spark, TOPIC_CLIENT_REPLY))

