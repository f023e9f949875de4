"""SparkSession construction tuned for the fixpoint / KG workload.

Scale rationale (100 TB / 1000-executor design, tested on local[N]):
- AQE on: runtime coalescing + skew-join splitting replaces nemo's
  hand-tuned column orders (`nemo-physical/src/management/database/order.rs`).
- shuffle partitions sized by parallelism; at cluster scale this is set to
  2-3x total cores via spark-submit conf, not hardcoded.
- Arrow enabled for the pandas-UDF extraction path (no per-row Python).
"""

from __future__ import annotations

import os
import re
from collections.abc import Hashable

from pyspark.sql import Row, SparkSession


def get_spark(
    app_name: str = "nemo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cores = _parallelism_of(master)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 13x the 10k default: the JVM<->Python Arrow boundary dominates the
        # mapInArrow/mapInPandas stages (measured: a passthrough UDF costs
        # 75% of the full feature-extract wall), and per-batch overhead
        # (IPC framing + flushes, per-call RE2 recompiles) shrinks with
        # batch size — 10k->131k cut the extract stage 23% at local[8].
        # Python-side per-batch memory stays bounded: every batch consumer
        # that builds super-linear intermediates chunks internally
        # (kg/link.py link_embedding caps its cosine matrix at 64 MB).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    active = SparkSession.getActiveSession()
    if active is not None and active.sparkContext.master != master:
        # getOrCreate returns the EXISTING session with its original master
        # and configs; measurements would silently run at the wrong
        # parallelism (benchmark legs avoid this with subprocess isolation)
        import warnings

        warnings.warn(
            f"get_spark: active session has master={active.sparkContext.master!r}, "
            f"requested {master!r} ignored (stop the session first)",
            stacklevel=2,
        )
    return b.getOrCreate()


# a shuffle's node name in a physical plan string ("Exchange hashpartitioning
# ..."); the word boundary keeps BroadcastExchange out
_SHUFFLE_EXCHANGE = re.compile(r"\bExchange\b")


def fan_out(df, min_parallelism: int | None = None):
    """Spread a narrow scan across the cores: when the frame's physical
    partitioning is below the session's default parallelism, round-robin
    repartition it to that width.

    Why: a one-file / one-row-group parquet table produces a single scan
    split, which pins EVERY downstream map-side operator (shingle and
    minhash construction, per-row feature expressions) to one core — the
    optimization guide's "one huge unsplittable file" input-skew case, whose
    fix is "repartition immediately after the read". The gate makes it
    scale-adaptive: a production table arrives in hundreds of splits, the
    condition is false, and no shuffle is added. Predicate pushdown and
    column pruning survive the repartition (filters push through
    RepartitionOperation; verified in the scan's PushedFilters)."""
    spark = df.sparkSession
    p = min_parallelism or spark.sparkContext.defaultParallelism
    # only gate plans without a SHUFFLE exchange: on a frame with an
    # upstream shuffle, materializing .rdd to read its partition count
    # EXECUTES the shuffle stages as their own job under AQE (measured: a
    # groupBy frame's getNumPartitions ran the full stage), and post-shuffle
    # width is governed by spark.sql.shuffle.partitions / AQE anyway. A
    # BroadcastExchange does not count: a broadcast join keeps its probe
    # side's (possibly single) split, which is what needs widening.
    if _SHUFFLE_EXCHANGE.search(df._jdf.queryExecution().executedPlan().toString()):
        return df
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def single_slice_frame(spark, rows, schema):
    """Driver-held rows as a ONE-slice frame.

    PySpark's createDataFrame always routes local data through
    ``parallelize`` (there is no true Catalyst LocalRelation from Python),
    so the cheapest downstream shape is a single pickled slice: one task
    per job and no per-slice driver round-trips (the default
    defaultParallelism slices cost ~150 ms EACH to fetch when coalesced).

    ``schema`` is a StructType or DDL string. A list of column names
    instead infers the types from EVERY row, as ``createDataFrame`` does
    for a local list (from an RDD it would look at the first row only)."""
    if isinstance(schema, list):
        schema = spark._inferSchemaFromList(rows, names=schema)
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def local_rows(rows) -> list[tuple] | None:
    """Collected rows as plain tuples for a driver-local path, or ``None``
    when that path could disagree with Spark on them.

    This is the one eligibility rule of every size-gated driver-local path
    (small-graph connected components and transitive closure, the rule
    engine's local stratum). Struct cells (``Row``) become tuples. ``None``
    comes back when any cell, or any field of a struct cell, is NaN or
    unhashable (an array's list, a map's dict, a bytearray): Python's
    ``nan != nan`` breaks dict and set lookups where SQL joins NaN to NaN,
    and unhashable values cannot key a dict at all. The caller then takes
    its distributed path.

    NULL cells pass through, because the callers' semantics really differ:
    connected components and transitive closure carry a NULL endpoint the
    way SQL joins do (it joins nothing), while the rule engine keeps any
    stratum with a NULL cell distributed."""
    out = []
    for r in rows:
        if not all(map(_local_ok, r)):
            return None
        out.append(tuple(tuple(c) if isinstance(c, Row) else c for c in r))
    return out


def _local_ok(v) -> bool:
    if isinstance(v, float):
        return v == v  # NaN
    if isinstance(v, tuple):  # struct cell
        return all(map(_local_ok, v))
    return isinstance(v, Hashable)


def _parallelism_of(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
