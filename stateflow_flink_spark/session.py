"""SparkSession factory with scale-oriented defaults.

The reference engine pins its performance-relevant runtime config in
``StateFlowFlinkJob.java:36-40`` (pipelined shuffles, 5 s at-least-once
checkpoints).  Our batch analog is AQE + sensible shuffle sizing; the
streaming analog (checkpointLocation, triggers) lives in
``stateflow_flink_spark.streaming``.

All defaults here are chosen to survive a 1000-executor / 100 TB
deployment, not just local[32]:

  * AQE on: runtime coalescing of shuffle partitions, skew-join
    splitting, and dynamic join-strategy switching replace any hand
    scheduling.
  * UTC session timezone: fixture timestamps are tz-naive; Spark and
    the DuckDB oracle must agree bit-for-bit.
  * Arrow enabled: every pandas_udf / applyInPandas crosses the
    JVM<->Python boundary in columnar batches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle partition default for local test runs. On a real cluster this
# is overridden (rule of thumb: ~2-3x total executor cores, with AQE
# coalescing down); AQE's advisoryPartitionSizeInBytes then controls the
# effective post-shuffle partition size regardless of this number.
_LOCAL_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")


# The engine defaults as (key, value, runtime): configure sets every
# entry, apply_runtime_conf only the runtime ones.
_DEFAULTS: tuple[tuple[str, str, bool], ...] = (
    ("spark.sql.session.timeZone", "UTC", True),
    ("spark.sql.adaptive.enabled", "true", True),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true", True),
    ("spark.sql.adaptive.skewJoin.enabled", "true", True),
    ("spark.sql.shuffle.partitions", _LOCAL_SHUFFLE_PARTITIONS, False),
    ("spark.sql.execution.arrow.pyspark.enabled", "true", True),
    # 128m parquet split size: keeps scan tasks balanced at any SF.
    ("spark.sql.files.maxPartitionBytes", "134217728", False),
    # Broadcast threshold: dims (region/nation/supplier/part at test
    # SF) broadcast automatically; AQE can also convert at runtime.
    ("spark.sql.autoBroadcastJoinThreshold", "64m", False),
    ("spark.sql.parquet.filterPushdown", "true", True),
)


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine defaults to any SparkSession builder.

    Kept separate from :func:`get_spark` so the driver-owned session in
    ``__spark_entry__`` and test sessions share one config surface.
    """
    for key, value, _ in _DEFAULTS:
        builder = builder.config(key, value)
    return builder


def get_spark(app_name: str = "stateflow-flink-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    return configure(builder).getOrCreate()


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply the defaults marked runtime to an existing session.

    Used when the driver hands us a session we didn't build
    (``__spark_entry__.entry``).  The three sizing keys it skips
    (``shuffle.partitions``, ``files.maxPartitionBytes``,
    ``autoBroadcastJoinThreshold``) are not static — all three can be
    set at runtime — they are left at the session owner's values.
    """
    for key, value, runtime in _DEFAULTS:
        if not runtime:
            continue
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - static conf on some builds
            pass
    return spark


# Streaming stateful operators hash-partition their STATE by
# spark.sql.shuffle.partitions at first checkpoint, and that number is
# frozen into the checkpoint — AQE never coalesces it.  It is therefore
# its own deployment knob: at 100 TB you run thousands of state
# partitions (throughput / state-size bound), overriding via
# SPARK_GRAFT_STREAM_PARTITIONS.
#
# The r14 sweep split the family in two (measured at sf0.1 AND sf1):
#   * JVM stateful ops (windowed aggregates, stream-stream joins,
#     dropDuplicates) are STATE-STORE-COMMIT-bound: going 8 -> 32
#     partitions makes them 2-3x SLOWER at both scales (stream_left
#     1.97 -> 5.89 s at sf0.1, 2.68 -> 5.68 s at sf1) — more stores,
#     same work.  They keep this default (8, the r5 sweep's number).
#   * Python-stateful (applyInPandasWithState) ops keyed by a
#     high-cardinality key are PYTHON-WORKER-bound and want one
#     partition per core — see python_state_partitions below.
_STREAM_PARTITIONS = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8")


def python_state_partitions(spark: SparkSession) -> int | str:
    """State-partition count for applyInPandasWithState operators over
    a high-cardinality key (user_id: 1.5k groups at sf0.1, 15k at sf1).

    Their per-batch cost is the Python side (per-group serializer
    round-trips + the fold), which parallelizes across state
    partitions, so the scale-adaptive choice is one partition per core
    (guide §2 — not a constant tuned for either local mode or the
    cluster).  Measured r14, 8 -> defaultParallelism(32): sf1 fold
    9.8 -> 5.2 s, scd2 11.4 -> 5.7 s (~2x); sf0.1 is also faster
    across the family (sessionize 2.08 -> 1.58, anomaly 2.11 -> 1.58,
    cep 1.73 -> 1.42, 5-run medians).  The env override (same knob as
    everything else) wins when set, so a cluster deployment sizes both
    families together."""
    env = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS")
    return env or spark.sparkContext.defaultParallelism

# Reliable-checkpoint knob for iteratively-reused frames (pagerank /
# triangles / star contraction).  Conf name, or the env var of the same
# intent; when neither is set, `pin` uses localCheckpoint.
CHECKPOINT_DIR_CONF = "spark.stateflow.checkpointDir"
_ckpt_dir_applied: str | None = None


def pin(df, eager: bool = False):
    """Cut lineage on a frame an iterative loop reuses each round.

    ``localCheckpoint`` stores UNREPLICATED executor-local blocks —
    the right local-mode default (no FS round-trip), but on a cluster
    a lost executor makes the pinned frame unrecoverable and the whole
    iteration fails over to recompute-from-scratch.  Setting
    ``spark.stateflow.checkpointDir`` (or env
    ``SPARK_GRAFT_CHECKPOINT_DIR``) swaps in reliable
    ``Dataset.checkpoint()`` against that directory for every pinned
    frame — one knob, every iterative operator."""
    global _ckpt_dir_applied
    spark = df.sparkSession
    try:
        ckdir = spark.conf.get(CHECKPOINT_DIR_CONF, None)
    except Exception:
        ckdir = None
    ckdir = ckdir or os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if not ckdir:
        return df.localCheckpoint(eager=eager)
    if _ckpt_dir_applied != ckdir:
        spark.sparkContext.setCheckpointDir(ckdir)
        _ckpt_dir_applied = ckdir
    return df.checkpoint(eager=eager)


def session_token(spark: SparkSession) -> str:
    """Stable identity for memoizing per-session catalog state.

    ``id(spark)`` is unsafe as a memo key: after a SparkSession is
    garbage-collected CPython can hand the same id to a NEW session,
    which would then get a cache hit for catalog tables it never
    created (r11 ADVICE).  The applicationId is unique per JVM
    lifetime and — unlike per-Python-object identity — matches the
    scope of ``saveAsTable`` catalog entries, which are shared by all
    sessions of one context.  Callers still verify
    ``spark.catalog.tableExists`` before trusting a hit, covering the
    same-app-id-new-catalog case (e.g. a restarted derby metastore)."""
    try:
        return spark.sparkContext.applicationId
    except Exception:  # pragma: no cover - stopped context
        return f"py-{id(spark)}"


class rocksdb_state:
    """Context manager switching the streaming state-store provider to
    RocksDB for queries started within it, restoring the prior provider
    afterwards.

    Why this exists (SURVEY §4.1): the default HDFSBackedStateStore
    keeps every key's state on the JVM HEAP of each executor — the
    direct analog of the reference's heap ValueState
    (``InvokeStatefulLambda.java:61-65``), and the thing that dies
    first when keyed state approaches 100 TB scale (GC pressure, then
    OOM).  RocksDB spills state to local SSD with a bounded block
    cache, and changelog checkpointing uploads per-batch deltas instead
    of full snapshots, so state size is bounded by disk, not heap.
    The provider is picked up PER QUERY at stream start, and the choice
    is baked into that query's checkpoint — always restart a query with
    the provider it was created with.

    Sandbox note: Spark ships the RocksDB JNI bundle in core, so this
    runs on local[*] too; tests assert provider-equivalence of results.
    """

    _KEY = "spark.sql.streaming.stateStore.providerClass"
    _CHANGELOG = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    PROVIDER = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )

    def __init__(self, spark: SparkSession) -> None:
        self._spark = spark
        self._saved: dict[str, str | None] = {}

    def __enter__(self) -> None:
        for key, value in ((self._KEY, self.PROVIDER), (self._CHANGELOG, "true")):
            try:
                self._saved[key] = self._spark.conf.get(key)
            except Exception:
                self._saved[key] = None
            self._spark.conf.set(key, value)

    def __exit__(self, *exc) -> None:
        for key, saved in self._saved.items():
            if saved is None:
                self._spark.conf.unset(key)
            else:
                self._spark.conf.set(key, saved)


class stream_partitions:
    """Context manager pinning shuffle partitions (= streaming state
    partition count) for the duration of one bounded streaming query,
    restoring the batch setting afterwards.  Each registry streaming
    query starts from a fresh checkpoint, so the pinned number never
    conflicts with a prior run's state layout."""

    def __init__(self, spark: SparkSession, n: str | int | None = None) -> None:
        self._spark = spark
        self._n = str(n or _STREAM_PARTITIONS)
        self._saved: str | None = None

    def __enter__(self) -> None:
        self._saved = self._spark.conf.get("spark.sql.shuffle.partitions")
        self._spark.conf.set("spark.sql.shuffle.partitions", self._n)

    def __exit__(self, *exc) -> None:
        self._spark.conf.set("spark.sql.shuffle.partitions", self._saved)
