"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Workloads: ``loop_multihop``, ``loop_fat_payload`` (``loop.py``) and
``query_mix`` (``mix.py``).  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` the per-layer ones (and the traced run's spans are
written to ``.perfbench_out/``).  ``--smoke`` runs a tiny version of the
workload for the benchmark's own tests.  Progress and the full figures
go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import (  # noqa: E402
    OUT_DIR, ROOT, RssSampler, Spans, log, make_workdir, median, remove_workdir, start_spark,
    stop_spark,
)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    # Used by the traced run's single-threaded baseline, which runs in a
    # process of its own: a Python UDF cannot outlive its session's JVM.
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--rate", type=int, default=None, help="loop offered rate (flows/s)")
    args = ap.parse_args()

    spec = load_spec()
    if not os.path.isdir(os.path.join(ROOT, "stateflow_flink_spark")):
        log("perfbench: the stateflow_flink_spark package is not in this checkout")
        return 2
    sys.path.insert(0, ROOT)
    import loop
    import mix

    if args.workload not in loop.WORKLOADS and args.workload != mix.NAME:
        log(f"perfbench: unknown workload {args.workload}")
        return 2

    spans = Spans(enabled=bool(args.trace))
    work = make_workdir()
    spark = None
    try:
        with RssSampler() as rss:
            spark, setup_s = set_up(args, work, spans)
            n_setup = len(rss.samples)
            if args.workload == mix.NAME:
                res = mix.run(spark, args.seed, args.seconds, args.smoke, spans)
            else:
                seconds = 3.0 if args.smoke else args.seconds
                res = loop.run(spark, work, args.workload, args.seed, seconds, spans, args.rate)
            if args.trace and args.workload == "loop_fat_payload" and not args.smoke:
                stop_spark(spark)
                spark = None
                res["layers"].update(single_thread_baseline(args))
        res["setup_s"] = setup_s
        res["peak_rss_mb"] = rss.peak_kb / 1024.0
        res["rss_mb"] = median(rss.samples[n_setup:]) / 1024.0
    finally:
        if spark is not None:
            stop_spark(spark)
        remove_workdir(work)

    if args.trace:
        spans.write(os.path.join(OUT_DIR, f"spans-{args.workload}-{args.seed}.jsonl"))
    log("perfbench: " + json.dumps(res, default=str))
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = dict(res["layers"]) if args.trace else res
    if args.trace:
        for k in ("p50_s", "p90_s", "mean_s", "setup_s"):
            values[f"traced.{k}"] = res[k]
        values["peak_rss_mb"] = res["peak_rss_mb"]
        values["rss_mb"] = res["rss_mb"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


def set_up(args, work: str, spans: Spans):
    """Session start plus the workload's warm-ups; returns the session
    and the set-up time."""
    import loop
    import mix

    with spans.span("setup") as sp:
        spark = start_spark(work, args.cores)
        if args.workload == mix.NAME:
            mix.warm_up(spark, args.smoke)
        else:
            loop.warm_up(spark, work)
    return spark, sp.elapsed


def single_thread_baseline(args) -> dict:
    """``loop_fat_payload`` at its lowest ladder step, for a third of the
    window, on ``local[1]``, in a child run of this command."""
    import loop

    cfg = loop.WORKLOADS["loop_fat_payload"]
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", "loop_fat_payload",
           "--seed", str(args.seed), "--seconds", str(args.seconds / len(cfg["ladder"])),
           "--trace", "0", "--cores", "1", "--rate", str(cfg["ladder"][0])]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=150)
    if proc.returncode != 0:
        raise RuntimeError("local[1] baseline failed: " + proc.stderr[-2000:])
    (line,) = [x for x in proc.stderr.splitlines() if x.startswith("perfbench: {")]
    child = json.loads(line[len("perfbench: "):])
    return {"baseline.local1.p50_s": child["p50_s"], "baseline.local1.p90_s": child["p90_s"],
            "baseline.local1.lost": child["failed"]}


if __name__ == "__main__":
    t = time.time()
    code = main()
    log(f"perfbench: {time.time() - t:.1f} s")
    sys.exit(code)
