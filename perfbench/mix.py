"""The ``query_mix`` workload: 16 registry queries in four families over
the repository's TPC-H-like fixtures at sf 0.01 (``fixtures/``), each
timed from the ``QUERIES[name]`` call to the end of a ``noop`` write,
with the cache cleared after each timing (as in ``bench.py``).

On the first pass each query's rows are then collected, outside the
timed window, and checked against its ``oracle_sql()`` entry run in
DuckDB over the same parquet files.  The seed sets the query order.
Per-family layer figures come from Spark's status stores (job, stage
and SQL metrics of the jobs each query ran) and from the streaming
listener.
"""

from __future__ import annotations

import gc
import json
import os
import random
import time

from common import Spans, log, make_listener, median, quantile

NAME = "query_mix"
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
SF_DIR = os.path.join(FIXTURES, "sf0.01")  # 60 000 lineitems
SMOKE_SF_DIR = os.path.join(FIXTURES, "sf0.001")
FAMILIES = {
    "relational": ["q_tpch_q1", "q_join_multiway", "q_graph_pagerank", "q_negative_sampling"],
    "llm_data": ["q_tfidf_cosine_pairs", "q_dedup_simhash", "q_dedup_minhash",
                 "q_build_dedup_index", "q_bpe_train"],
    "stateful_stream": ["q_stateful_fold_stream", "q_scd2_stream", "q_stream_stream_join",
                        "q_dedup_minhash_stream"],
    "flow_core": ["q_flow_iterate", "q_invoke_create", "q_proto_roundtrip"],
}
WARM_UPS = ["q_agg_groupby", "q_udf_scalar", "q_udaf_grouped", "q_stream_watermark"]
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
FAMILY_OF = {q: fam for fam, qs in FAMILIES.items() for q in qs}


def _run_query(spark, name: str, sf_dir: str, spans: Spans):
    """One timed execution: the ``QUERIES[name]`` call (streaming and
    iterative queries run eagerly here), then a ``noop`` write.  Returns
    (build_s, action_s, frame)."""
    from stateflow_flink_spark.plans.registry import QUERIES

    with spans.span("query", query=name):
        with spans.span("query.build", query=name) as build:
            df = QUERIES[name](spark, sf_dir)
        with spans.span("query.action", query=name) as action:
            df.write.format("noop").mode("overwrite").save()
    return build.elapsed, action.elapsed, df


def _reset(spark) -> None:
    """Drop memory-sink views and cached frames (cold cache per timing)."""
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name.startswith("sfs_"):
            spark.catalog.dropTempView(t.name)
    spark.catalog.clearCache()


def warm_up(spark, smoke: bool) -> None:
    """The four ``bench.py`` warm-ups (JVM and codegen, Python workers,
    grouped-map path, streaming engine) on this run's fixtures."""
    from stateflow_flink_spark.plans.registry import load_all_modules

    load_all_modules()
    for q in WARM_UPS:
        _run_query(spark, q, SMOKE_SF_DIR if smoke else SF_DIR, Spans(False))
        _reset(spark)


def oracle(sf_dir: str):
    """DuckDB over the same files, and the registry's oracle SQL."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con, entry.oracle_sql()


def run(spark, seed: int, seconds: float, smoke: bool, spans: Spans) -> dict:
    from tests.parity import compare

    sf_dir = SMOKE_SF_DIR if smoke else SF_DIR
    order = [q for qs in FAMILIES.values() for q in qs]
    random.Random(seed).shuffle(order)
    if smoke:
        order = order[:: len(order) // 4]

    con, oracle_sql = oracle(sf_dir)
    failed: set[str] = set()  # raised, or differed from the oracle
    wrong: set[str] = set()  # differed from the oracle

    listener = make_listener()
    spark.streams.addListener(listener)
    jvm_sc = spark.sparkContext._jsc.sc()
    walls: dict[str, list[float]] = {q: [] for q in order}
    builds: dict[str, list[float]] = {q: [] for q in order}
    jobs: dict[str, list[int]] = {q: [] for q in order}
    t_start = time.time()
    passes = 0
    while passes == 0 or (time.time() - t_start < seconds and not smoke):
        for q in order:
            if q in failed:  # a failed query is not timed on any pass
                continue
            # Collect garbage before the timing, so that no query pays
            # for the last one's heap.
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            first = _last_job_id(jvm_sc)
            spark.sparkContext.setJobGroup(f"perfbench:{FAMILY_OF[q]}:{q}", q)
            try:
                build, action, df = _run_query(spark, q, sf_dir, spans)
                last = _last_job_id(jvm_sc)
                # The first pass checks each result against its oracle
                # (row count and an order-insensitive comparison of every
                # value), outside the timed window.
                if passes == 0:
                    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                    compare(df.toPandas(), con.execute(oracle_sql[q]).df(), q)
            except Exception as exc:  # a raising or wrong query is a failed operation
                log(f"mix: {q} failed: {str(exc)[:300]}")
                failed.add(q)
                if isinstance(exc, AssertionError):
                    wrong.add(q)
                continue
            finally:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                _reset(spark)
            walls[q].append(build + action)
            builds[q].append(build)
            jobs[q].extend(range(first + 1, last + 1))
        passes += 1
    spark.streams.removeListener(listener)
    con.close()

    per_query = {q: median(walls[q]) for q in order if q not in failed}
    fam_s = {f: sum(per_query.get(q, 0.0) for q in qs if q in order)
             for f, qs in FAMILIES.items()}
    res = {
        "attempted": len(order),
        "failed": len(failed),
        "correct": not wrong,
        "p50_s": quantile(list(per_query.values()), 0.5),
        "p90_s": quantile(list(per_query.values()), 0.9),
        "mean_s": sum(per_query.values()) / max(1, len(per_query)),
        "passes": passes,
        "layers": {},
    }
    log("mix: per-query median s " + json.dumps({q: round(v, 3) for q, v in per_query.items()}))
    if spans.enabled:
        m = {f"mix.{f}_s": v for f, v in fam_s.items()}
        for q in order:
            m[f"{q}.build_s"] = median(builds[q])
            m[f"{q}.action_s"] = median([w - b for w, b in zip(walls[q], builds[q])])
        m.update(_stage_metrics(spark, jobs, passes))
        m.update(_state_metrics(listener.progress, passes))
        res["layers"] = m
    return res


def _last_job_id(jvm_sc) -> int:
    jobs = jvm_sc.statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


PY_SENT = "data sent to Python workers"
PY_RUN = "time to run Python workers"
_SIZE = {"B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
_TIME = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}


def _total(text: str) -> float:
    """The total of a formatted SQL metric, e.g. ``"total (min, med, max
    ...)\n782.7 KiB (...)"`` -> bytes, ``"... \n3.3 s (...)"`` -> s."""
    value, unit = text.split("\n")[-1].split(" ")[:2]
    return float(value.replace(",", "")) * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _stage_metrics(spark, jobs: dict[str, list[int]], passes: int) -> dict:
    """Per family, per pass: executor run and CPU time, GC, shuffle,
    spill and task count of the stages the family's jobs ran
    (job and stage status store), and the Python-exchange metrics of
    the family's SQL executions (SQL status store)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    job_family = {j: FAMILY_OF[q] for q, js in jobs.items() for j in js}
    keys = ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
            "spill_mb", "tasks", "python_data_sent_mb", "python_exec_s")
    acc = {f: dict.fromkeys(keys, 0.0) for f in FAMILIES}
    mb = 2.0**20
    all_jobs = store.jobsList(None)
    for i in range(all_jobs.size()):
        jd = all_jobs.apply(i)
        fam = job_family.get(jd.jobId())
        if fam is None:
            continue
        a = acc[fam]
        ids = jd.stageIds()
        for k in range(ids.size()):
            try:
                sd = store.lastStageAttempt(ids.apply(k))
            except Exception:  # a stage that never ran
                continue
            a["executor_run_s"] += sd.executorRunTime() / 1e3
            a["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            a["gc_s"] += sd.jvmGcTime() / 1e3
            a["shuffle_write_mb"] += sd.shuffleWriteBytes() / mb
            a["shuffle_read_mb"] += sd.shuffleReadBytes() / mb
            a["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / mb
            a["tasks"] += sd.numCompleteTasks()
    sql = spark._jsparkSession.sharedState().statusStore()
    execs = sql.executionsList()
    for i in range(execs.size()):
        ex = execs.apply(i)
        job_ids = ex.jobs().keySet().toList()
        fams = {job_family.get(job_ids.apply(k)) for k in range(job_ids.size())} - {None}
        if len(fams) != 1:
            continue
        a = acc[fams.pop()]
        metrics, values = ex.metrics(), sql.executionMetrics(ex.executionId())
        for k in range(metrics.size()):
            m = metrics.apply(k)
            if m.name() not in (PY_SENT, PY_RUN):
                continue
            v = values.get(m.accumulatorId())
            if v.isDefined():
                total = _total(v.get())
                if m.name() == PY_SENT:
                    a["python_data_sent_mb"] += total / mb
                else:
                    a["python_exec_s"] += total
    return {f"{f}.{k}": v / max(1, passes) for f, a in acc.items() for k, v in a.items()}


def _state_metrics(progress: list[dict], passes: int) -> dict:
    """State-store figures of the stateful queries' micro-batches."""
    ops = [op for p in progress for op in p.get("stateOperators") or []]
    batches = [p for p in progress if p.get("stateOperators")]
    return {
        "state.batches": len(batches) / max(1, passes),
        "state.commit_ms": sum(op.get("commitTimeMs", 0) for op in ops) / max(1, passes),
        "state.rows_total": sum(op.get("numRowsTotal", 0) for op in ops) / max(1, passes),
        "state.memory_mb": max((op.get("memoryUsedBytes", 0) for op in ops), default=0) / 1048576.0,
        "state.add_batch_ms": sum((p.get("durationMs") or {}).get("addBatch", 0)
                                  for p in batches) / max(1, passes),
    }
