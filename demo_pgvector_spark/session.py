"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N]; the conf below is chosen so the same plans
hold on a large cluster: AQE on (runtime re-planning, skew-join handling),
Arrow on (vectorized pandas UDF exchange), UTC session timezone
(deterministic timestamp semantics regardless of host), and a shuffle
partition count that AQE can coalesce downward.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_session(app_name: str = "demo_pgvector_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the SparkSession used by tests and bench runs."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Round 13 (guide §3.1/§9): allow shuffled-hash join when its
        # size conditions are met instead of always sort-merge — skips
        # both sides' sorts on the per-round joins of the iterative
        # operators (measured: pagerank plan 10 SMJ → 10 SHJ, no sorts).
        # Scale posture: SHJ is chosen only when the planner's size
        # conditions hold (build side fits per-partition); sort-merge
        # remains the fallback for same-size giant joins.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Round 13: the engine's streaming surface is short-lived
        # availableNow drains; the default 60 s state-store maintenance
        # cadence snapshots dozens of accumulated (already-terminated)
        # providers and measurably taxes later micro-batches (A/B:
        # aged-session no-op drain 2.3 s @60s vs 1.0 s @600s). For a
        # continuous production stream pick the cadence for its
        # recovery-time target via SPARK_GRAFT_STATE_MAINT_INTERVAL.
        .config(
            "spark.sql.streaming.stateStore.maintenanceInterval",
            os.environ.get("SPARK_GRAFT_STATE_MAINT_INTERVAL", "600s"),
        )
        # Round 14 (guide §5 caching/driver): the engine's iterative and
        # streaming operators localCheckpoint intermediates whose blocks
        # are reclaimed by ContextCleaner only after a JVM GC enqueues
        # their weak references — on an 8 GiB heap that rarely GCs, a
        # long session (the 187-key bench, a day-long production driver)
        # accumulates hundreds of dead cached RDDs and their block-
        # manager entries. Spark's own remedy is the periodic-GC cleaner
        # tick (default 30min — longer than the whole bench session).
        # Measured same-session: an explicit System.gc() after ~30 keys
        # took graph_hyperball from 10.2 to 8.7 s. Static conf, so it is
        # set here (builder) and cannot be applied by tune_session.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "5min"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.ts is TIMESTAMP(NANOS): session-wide decision to
        # read nanos as LongType (loaders truncate to micros explicitly).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally provided session.

    The driver harness constructs its own SparkSession and hands it to
    ``queries()`` callables; these confs are all runtime-settable and make
    results deterministic (UTC timestamps) and fast (AQE) without needing
    to own the builder.
    """
    confs = [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        # guide §3.1/§9 — see get_session; runtime-settable, so the
        # driver-owned session gets the same join menu
        ("spark.sql.join.preferSortMergeJoin", "false"),
        # see get_session — short-lived drains don't need 60 s snapshots
        (
            "spark.sql.streaming.stateStore.maintenanceInterval",
            os.environ.get("SPARK_GRAFT_STATE_MAINT_INTERVAL", "600s"),
        ),
        # nanos-timestamp parquet (events.ts) reads as LongType session-wide;
        # see tables.load for the explicit truncation to micros.
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ]
    # Scan-split override for scale experiments: a single-file local table
    # in the tens of MB sits below the default 128 MB split size, so one
    # task scans it regardless of cores — a layout no real multi-file lake
    # has. SCALE.md sets this to a few MB when benchmarking replicated
    # data; production keeps the default (files there are ~1 GB and split
    # 8 ways each). Row groups must be comparably small or splits can't
    # bisect the file (parquet assigns a row group to one split).
    mpb = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    if mpb:
        confs.append(("spark.sql.files.maxPartitionBytes", mpb))
    for k, v in confs:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf locked down — proceed with session defaults
    return spark


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: T.StructType | str
) -> DataFrame:
    """A small driver-side table (tuples in ``schema``'s column order) as
    a ``LocalRelation``: the rows travel inside the plan as Arrow data,
    so scanning it starts no job and no Python worker, and an empty one
    is pruned by the optimizer. ``spark.createDataFrame`` of a Python
    list instead parallelizes it into a Python RDD, which every action
    that reads the frame re-runs through one Python task per slice."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.fieldNames()
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema)


class scoped_conf:
    """Set an arbitrary runtime conf for a bounded scope and restore the
    previous value on exit (the generic sibling of
    ``scoped_shuffle_partitions``; same sequential-rows safety
    argument). ``value=None`` is a no-op."""

    def __init__(self, spark: SparkSession, key: str, value):
        self._spark, self._key, self._value = spark, key, value
        self._prev: str | None = None
        self._had = False

    def __enter__(self):
        if self._value is not None:
            self._prev = self._spark.conf.get(self._key, None)
            self._had = self._prev is not None
            self._spark.conf.set(self._key, str(self._value))

    def __exit__(self, *exc):
        if self._value is not None:
            if self._had:
                self._spark.conf.set(self._key, self._prev)
            else:
                # The key had no prior value (not even a session default):
                # leaving the override set would leak it past the scope
                # (ADVICE r8). unset() restores the true "absent" state.
                try:
                    self._spark.conf.unset(self._key)
                except Exception:
                    pass  # conf locked down — nothing to restore
        return False


class scoped_shuffle_partitions:
    """Set ``spark.sql.shuffle.partitions`` for a bounded scope and
    restore the previous value on exit. Two consumers: streaming drains
    (the conf is read at a stream's FIRST micro-batch and frozen into
    its checkpoint, so scoping pins the state-partition count per query
    — see streaming/late.py) and small-graph iterative loops (the CC
    rounds in ``dedup.semdedup`` exchange few-hundred-row label tables;
    32-wide exchanges there schedule mostly-empty tasks every round).
    Registry rows run sequentially, so the session-global set/restore
    cannot race another query; ``n=None`` is a no-op."""

    def __init__(self, spark: SparkSession, n: int | None):
        self._spark, self._n = spark, n
        self._prev: str | None = None

    def __enter__(self):
        if self._n is not None:
            self._prev = self._spark.conf.get("spark.sql.shuffle.partitions")
            self._spark.conf.set("spark.sql.shuffle.partitions", str(self._n))

    def __exit__(self, *exc):
        if self._prev is not None:
            self._spark.conf.set("spark.sql.shuffle.partitions", self._prev)
        return False
