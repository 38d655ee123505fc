"""Open-loop load generator for the event-loop workloads.

Runs as its own process.  It reads a plan (one JSON file written by
``loop.py``: the ladder steps and every event's due offset, kind, hop
count and payload seed) and writes Kafka-shaped parquet records
(``sources.kafka.KAFKA_RECORD``) into the ``client_request`` topic
directory on a fixed schedule that never waits for the system under
test.  Each file is written under a hidden name (Spark's file source
skips names starting with ``.``) and then renamed, so a reader never
sees a half-written file.  Every record's ``timestamp`` is the event's
due time on the schedule, so a stall in the generator or the system is
charged to the events that waited.

Usage: ``python3 gen.py <plan.json> <topic_dir> <report.json>``; the
schedule starts at the plan's ``t0`` (epoch seconds).
"""

from __future__ import annotations

import json
import os
import sys
import time
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from stateflow_flink_spark.sources.proto import encode_event  # noqa: E402

TICK_S = 0.1
N_PARTITIONS = 4

RECORD_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("timestampType", pa.int32()),
    ]
)


def payload_bytes(n: int, salt: int) -> bytes:
    """Deterministic opaque payload of ``n`` bytes."""
    block = salt.to_bytes(8, "little") * 8
    return (block * (n // len(block) + 1))[:n]


def envelope(ev: dict) -> dict:
    """A plan event -> the flat EVENT_ENVELOPE request the client sends."""
    if ev["kind"] == "ping":
        return {
            "event_id": ev["id"], "fun_namespace": "globals", "fun_name": "ping",
            "fun_stateful": False, "fun_key": "", "request": "Ping", "reply": None,
            "payload": b"", "current_fun_namespace": "", "current_fun_name": "",
            "current_fun_key": "", "current_node_type": "",
        }
    return {
        "event_id": ev["id"], "fun_namespace": "flows", "fun_name": "flow",
        "fun_stateful": True, "fun_key": ev["id"], "request": "EventFlow",
        "reply": None, "payload": payload_bytes(ev["payload"], ev["salt"]),
        "current_fun_namespace": "flows", "current_fun_name": "step_fun",
        "current_fun_key": str(ev["hops"]), "current_node_type": "step",
    }


def write_file(topic_dir: str, seq: int, events: list[dict], t0: float, offset: int) -> None:
    keys = [e["id"].encode("utf-8") for e in events]
    table = pa.table(
        {
            "key": keys,
            "value": [encode_event(envelope(e)) for e in events],
            "topic": ["client_request"] * len(events),
            "partition": [zlib.crc32(k) % N_PARTITIONS for k in keys],
            "offset": list(range(offset, offset + len(events))),
            "timestamp": [int((t0 + e["due"]) * 1e6) for e in events],
            "timestampType": [0] * len(events),
        },
        schema=RECORD_SCHEMA,
    )
    name = f"part-gen-{seq:06d}.parquet"
    hidden = os.path.join(topic_dir, "." + name)
    pq.write_table(table, hidden)
    os.rename(hidden, os.path.join(topic_dir, name))


def main() -> None:
    plan_path, topic_dir, report_path = sys.argv[1:4]
    with open(plan_path) as f:
        plan = json.load(f)
    events = plan["events"]  # sorted by due offset
    t0 = plan["t0"]
    os.makedirs(topic_dir, exist_ok=True)
    late: list[float] = []
    i = seq = 0
    while i < len(events):
        now = time.time() - t0
        j = i
        while j < len(events) and events[j]["due"] <= now:
            j += 1
        if j > i:
            write_file(topic_dir, seq, events[i:j], t0, i)
            written = time.time() - t0
            late.append(max(0.0, written - events[j - 1]["due"]))
            seq += 1
            i = j
        if i < len(events):
            # Sleep to the next tick of a fixed grid: one file per tick.
            now = time.time() - t0
            time.sleep(max(0.0, (int(now / TICK_S) + 1) * TICK_S - now))
    late.sort()
    report = {
        "files": seq,
        "events": len(events),
        "late_max_s": late[-1] if late else 0.0,
        "late_p50_s": late[len(late) // 2] if late else 0.0,
    }
    with open(report_path, "w") as f:
        json.dump(report, f)


if __name__ == "__main__":
    main()
