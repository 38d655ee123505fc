"""The event-loop workloads: ``streaming.feedback.run_event_loop`` over
``DirectoryTransport``, fed by the open-loop generator (``gen.py``).

The loop is measured from outside: the transport object passed to
``run_event_loop`` is wrapped to time ``append``/``read_batch``, a
``StreamingQueryListener`` records the progress of query A (ingress)
and query B (worker) and any termination exception, and the codec and
routing functions are timed alone on the run's recorded frames after the
loop has stopped.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

from common import Spans, log, make_listener, median, quantile
from gen import payload_bytes

HERE = os.path.dirname(os.path.abspath(__file__))

# Each workload's nominal offered rate (flows/s) -- the one step an
# untraced run offers for its whole window -- the offered-rate ladder a
# traced run climbs (one step after another, each as long as the window:
# a shorter step ends before a backlog shows), the p99 latency limit a
# ladder step must meet to count as sustained, and the request mix.
# perfbench/README.md gives the figures the rates were chosen from.
WORKLOADS = {
    "loop_multihop": {
        "nominal": 200,
        "ladder": [50, 200, 1000],
        "latency_limit_s": 20.0,
        "hops": [1, 6],
        "ping_share": 0.1,
        "payload_bytes": 16,
    },
    "loop_fat_payload": {
        "nominal": 2000,
        "ladder": [500, 1000, 2000, 4000],
        "latency_limit_s": 10.0,
        "hops": [1, 1],
        "ping_share": 0.0,
        "payload_bytes": 4096,
    },
}
DRAIN_GRACE_S = 15.0  # how long the loop may run past the last due event
START_LAG_S = 2.0  # from both loop queries running to the first due event
READY_MAX_S = 30.0  # longest wait for the loop queries to start


def make_plan(cfg: dict, rates: list[int], seed: int, seconds: float) -> dict:
    """Every event of the run, from the seed alone: ``rates`` are offered
    one after another, ``seconds / len(rates)`` each."""
    rng = random.Random(seed)
    step_s = seconds / len(rates)
    events, steps = [], []
    for s, rate in enumerate(rates):
        start = s * step_s
        n = int(rate * step_s)
        steps.append({"rate": rate, "start": start, "end": start + step_s, "n": n})
        for k in range(n):
            ping = rng.random() < cfg["ping_share"]
            events.append(
                {
                    "id": f"{'p' if ping else 'f'}{seed}-{s}-{k:06d}",
                    "kind": "ping" if ping else "flow",
                    "hops": rng.randint(*cfg["hops"]),
                    "payload": 0 if ping else cfg["payload_bytes"],
                    "salt": rng.getrandbits(62),
                    "due": start + k / rate,
                    "step": s,
                }
            )
    return {"steps": steps, "events": events, "seconds": seconds}


class TracedTransport:
    """Wraps a transport: times every append (per topic) and every drain
    poll (``read_batch(...).count()``), and counts appends."""

    def __init__(self, inner, spans: Spans) -> None:
        self.inner = inner
        self.spans = spans
        self.append_s: dict[str, float] = {}
        self.appends: dict[str, int] = {}
        self.poll_s = 0.0

    def topic_dir(self, topic: str) -> str:
        return self.inner.topic_dir(topic)

    def read_stream(self, spark, topic):
        return self.inner.read_stream(spark, topic)

    def append(self, frames, topic: str) -> None:
        with self.spans.span("transport.append", topic=topic) as sp:
            self.inner.append(frames, topic)
        self.append_s[topic] = self.append_s.get(topic, 0.0) + sp.elapsed
        self.appends[topic] = self.appends.get(topic, 0) + 1

    def read_batch(self, spark, topic: str):
        df = self.inner.read_batch(spark, topic)
        count = df.count

        def timed_count() -> int:
            with self.spans.span("feedback.drain_poll", topic=topic) as sp:
                n = count()
            self.poll_s += sp.elapsed
            return n

        df.count = timed_count
        return df


def part_files(topic_dir: str) -> list[str]:
    """The committed part-files of a topic directory."""
    return sorted(
        os.path.join(topic_dir, f)
        for f in os.listdir(topic_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def read_topic(topic_dir: str):
    """All records of a topic as one Arrow table (None while empty)."""
    tables = [t for t in map(pq.read_table, part_files(topic_dir)) if t.num_rows]
    return pa.concat_tables(tables, promote_options="default") if tables else None


def expected_ok(ev: dict, reply: dict) -> bool:
    """The reply a correct loop sends for this request."""
    if reply["event_id"] != ev["id"] or reply["request"] is not None:
        return False
    if ev["kind"] == "ping":
        return reply["reply"] == "Pong"
    return (
        reply["reply"] == "SuccessfulInvocation"
        and reply["current_node_type"] == "RETURN"
        and reply["current_fun_key"] == "0"
        and reply["payload"] == payload_bytes(ev["payload"], ev["salt"])
    )


def warm_up(spark, work: str) -> None:
    """One small drain: a hundred one- and two-hop flows seeded at once
    through a throwaway loop."""
    from stateflow_flink_spark.streaming.feedback import make_flow_requests, run_event_loop
    from stateflow_flink_spark.streaming.transport import DirectoryTransport

    flows = spark.range(100).selectExpr("id AS event_id", "id % 2 + 1 AS steps_left")
    transport = DirectoryTransport(os.path.join(work, f"warm_{time.time_ns()}"))
    run_event_loop(spark, transport, make_flow_requests(spark, flows), timeout_s=60.0)


def drive(spark, work: str, cfg: dict, rates: list[int], seed: int, seconds: float,
          spans: Spans) -> dict:
    """Run the loop once under the generator; check every reply."""
    from pyspark.sql.types import StructType

    from stateflow_flink_spark.schemas import EVENT_ENVELOPE
    from stateflow_flink_spark.sources.kafka import TOPIC_CLIENT_REPLY, TOPIC_CLIENT_REQUEST
    from stateflow_flink_spark.sources.proto import decode_event
    from stateflow_flink_spark.streaming.feedback import run_event_loop
    from stateflow_flink_spark.streaming.transport import DirectoryTransport

    os.makedirs(work, exist_ok=True)
    plan = make_plan(cfg, rates, seed, seconds)
    events = plan["events"]
    transport = TracedTransport(DirectoryTransport(os.path.join(work, "topics")), spans)
    listener = make_listener()
    spark.streams.addListener(listener)

    def loop() -> None:
        seed_df = spark.createDataFrame([], StructType(EVENT_ENVELOPE.fields))
        try:
            with spans.span("loop.run_event_loop"):
                run_event_loop(
                    spark, transport, seed_df, expected_replies=len(events),
                    timeout_s=READY_MAX_S + START_LAG_S + seconds + DRAIN_GRACE_S,
                )
        except TimeoutError as exc:  # the shortfall is counted below
            log(f"loop: {exc}")

    # The schedule starts once both loop queries run, so query start-up
    # is not charged to the first requests.
    runner = threading.Thread(target=loop)
    runner.start()
    listener.both_started.wait(READY_MAX_S)
    plan["t0"] = t0 = time.time() + START_LAG_S
    plan_path = os.path.join(work, "plan.json")
    report_path = os.path.join(work, "gen_report.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "gen.py"), plan_path,
         transport.topic_dir(TOPIC_CLIENT_REQUEST), report_path]
    )
    try:
        runner.join()
    finally:
        gen.wait()
        spark.streams.removeListener(listener)
    with open(report_path) as f:
        gen_report = json.load(f)
    if listener.errors:
        log("loop: query terminated: " + " | ".join(listener.errors))

    # Output checks: exactly one correct reply per request.
    replies = read_topic(transport.topic_dir(TOPIC_CLIENT_REPLY))
    by_id = {e["id"]: e for e in events}
    answered: dict[str, float] = {}
    duplicates = wrong = unexpected = 0
    if replies is not None:
        ts = replies.column("timestamp")
        scale = {"s": 1.0, "ms": 1e-3, "us": 1e-6, "ns": 1e-9}[ts.type.unit]
        for value, t in zip(replies.column("value").to_pylist(),
                            ts.cast("int64").to_pylist()):
            rep = decode_event(value)
            ev = by_id.get(rep["event_id"])
            if ev is None:
                unexpected += 1
            elif rep["event_id"] in answered:
                duplicates += 1
            else:
                wrong += not expected_ok(ev, rep)
                answered[rep["event_id"]] = t * scale - t0
    return {
        "plan": plan, "events": events, "answered": answered,
        "duplicates": duplicates, "wrong": wrong, "unexpected": unexpected,
        "transport": transport, "listener": listener, "gen_report": gen_report,
    }


def step_figures(d: dict, limit: float) -> list[dict]:
    """Latency (due time -> reply append) per ladder step, over the flows
    that were answered; a lost flow counts as missing the latency limit."""
    answered, out = d["answered"], []
    for s, st in enumerate(d["plan"]["steps"]):
        evs = [e for e in d["events"] if e["step"] == s]
        lats = [answered[e["id"]] - e["due"] for e in evs if e["id"] in answered]
        mean = sum(lats) / len(lats) if lats else 0.0
        lost = len(evs) - len(lats)
        # Backlog at the step's end: due but unanswered requests.  Within
        # the latency limit it stays below rate * limit (Little's law).
        backlog = sum(1 for e in evs if answered.get(e["id"], 1e18) > st["end"])
        p99 = quantile(lats, 0.99)
        out.append({
            "rate": st["rate"], "n": len(evs), "lost": lost, "backlog": backlog,
            "p50": quantile(lats, 0.5), "p90": quantile(lats, 0.9), "p99": p99, "mean": mean,
            "ok": lost == 0 and p99 <= limit and backlog <= st["rate"] * limit,
        })
    return out


def run(spark, work: str, name: str, seed: int, seconds: float, spans: Spans,
        rate: int | None = None) -> dict:
    """An untraced run offers the nominal rate (or ``rate``) for
    ``seconds``; a traced run does the same with spans on, then climbs
    the ladder."""
    cfg = WORKLOADS[name]
    d = drive(spark, os.path.join(work, "nominal"), cfg, [rate or cfg["nominal"]], seed, seconds,
              spans)
    (st,) = step_figures(d, cfg["latency_limit_s"])
    n_failed = st["lost"] + d["duplicates"] + d["wrong"] + d["unexpected"]
    out = {
        "attempted": len(d["events"]),
        "failed": n_failed,
        "correct": d["wrong"] == 0 and d["duplicates"] == 0 and d["unexpected"] == 0,
        "p50_s": st["p50"],
        "p90_s": st["p90"],
        "mean_s": st["mean"],
        "layers": {},
    }
    log("loop: nominal " + json.dumps(st))
    if spans.enabled:
        m = layer_metrics(spark, d, spans)
        m["loop.failed_ratio"] = n_failed / len(d["events"])
        with spans.span("loop.ladder"):
            lad = drive(spark, os.path.join(work, "ladder"), cfg, cfg["ladder"], seed,
                        seconds * len(cfg["ladder"]), Spans(False))
        steps = step_figures(lad, cfg["latency_limit_s"])
        log("loop: ladder " + json.dumps(steps))
        m["loop.sustained_flows_per_s"] = max((s["rate"] for s in steps if s["ok"]), default=0)
        for i, s in enumerate(steps, 1):
            m[f"loop.ladder.step{i}.p99_s"] = s["p99"]
            m[f"loop.ladder.step{i}.lost"] = s["lost"]
        out["layers"] = m
    return out


def _progress_stats(rows: list[dict], prefix: str) -> dict:
    def dur(key: str) -> list[float]:
        return [float((r.get("durationMs") or {}).get(key, 0)) for r in rows]

    def mean(xs: list[float]) -> float:
        return sum(xs) / len(xs) if xs else 0.0

    return {
        f"{prefix}.batches": len(rows),
        f"{prefix}.batch_ms_p50": median(dur("triggerExecution")),
        f"{prefix}.add_batch_ms": mean(dur("addBatch")),
        f"{prefix}.latest_offset_ms": mean(dur("latestOffset")),
        f"{prefix}.query_planning_ms": mean(dur("queryPlanning")),
        f"{prefix}.commit_ms": mean(dur("commitOffsets")),
    }


def layer_metrics(spark, d: dict, spans: Spans) -> dict:
    """Per-layer figures of a traced run (see BENCHMARK.json)."""
    from stateflow_flink_spark.sources.kafka import (
        TOPIC_CLIENT_REPLY, TOPIC_INTERNAL, decode_frames, encode_frames,
    )
    from stateflow_flink_spark.streaming.feedback import advance_envelope
    from stateflow_flink_spark.streaming.routing import route_egress, route_ingress

    transport, listener, events = d["transport"], d["listener"], d["events"]
    rows = [p for p in listener.progress if p.get("numInputRows", 0) > 0
            or (p.get("durationMs") or {}).get("addBatch")]
    ingress = [p for p in rows if "client_request" in json.dumps(p.get("sources"))]
    worker = [p for p in rows if "/internal" in json.dumps(p.get("sources"))]
    m = {}
    m.update(_progress_stats(ingress, "feedback.ingress"))
    m.update(_progress_stats(worker, "feedback.worker"))
    rows_in = sum(p.get("numInputRows", 0) for p in worker)
    n_flows = sum(1 for e in events if e["kind"] == "flow")
    m["feedback.worker.rows_in"] = rows_in
    m["feedback.worker.rows_in_per_flow"] = rows_in / max(1, n_flows)
    m["feedback.drain_poll_s"] = transport.poll_s
    for topic in (TOPIC_INTERNAL, TOPIC_CLIENT_REPLY):
        m[f"transport.append_s.{topic}"] = transport.append_s.get(topic, 0.0)
        m[f"transport.appends.{topic}"] = transport.appends.get(topic, 0)
    files = part_files(transport.topic_dir(TOPIC_INTERNAL))
    m["transport.files.internal"] = len(files)
    m["transport.bytes.internal"] = sum(map(os.path.getsize, files))
    answered, seconds = d["answered"], d["plan"]["seconds"]
    m["loop.lost_flows"] = sum(1 for e in events if e["id"] not in answered)
    m["loop.duplicate_replies"] = d["duplicates"]
    m["loop.query_errors"] = len(listener.errors)
    m["loop.backlog_at_end"] = sum(1 for e in events if answered.get(e["id"], 1e18) > seconds)
    m["generator.late_s"] = d["gen_report"]["late_max_s"]

    # Codec and routing alone, each with a noop sink, on this run's frames.
    raw = transport.inner.read_batch(spark, TOPIC_INTERNAL)
    n = max(1, raw.count())

    def timed(name: str, df) -> float:
        with spans.span(name) as sp:
            df.write.format("noop").mode("overwrite").save()
        return sp.elapsed / (n / 1000.0)

    m["sources.decode_s_per_krow"] = timed("sources.decode_frames", decode_frames(raw))
    env = decode_frames(raw).drop("topic", "partition", "offset").localCheckpoint()
    m["sources.encode_s_per_krow"] = timed(
        "sources.encode_frames", encode_frames(env, TOPIC_INTERNAL))
    m["routing.ingress_s_per_krow"] = timed("routing.route_ingress", route_ingress(env))
    m["feedback.advance_s_per_krow"] = timed("feedback.advance_envelope", advance_envelope(env))
    hopped = advance_envelope(env).localCheckpoint()
    m["routing.egress_s_per_krow"] = timed("routing.route_egress", route_egress(hopped))
    # The codec's share of a worker batch: decode and encode of one
    # batch's rows, timed alone, over the batch's median duration.
    per_batch = rows_in / max(1, m["feedback.worker.batches"]) / 1000.0
    codec_s = (m["sources.decode_s_per_krow"] + m["sources.encode_s_per_krow"]) * per_batch
    m["sources.codec_share_of_worker_batch"] = codec_s / max(1e-3, m["feedback.worker.batch_ms_p50"] / 1e3)
    return m
