"""SparkSession helpers.

Every entry point funnels through :func:`get_spark` / :func:`configure`
so required session confs are applied exactly once, including when the
harness hands us an already-built session (the driver does this).

:func:`get_spark` is the one session builder: the CLI, the tools and
the pytest fixture all take their session from it. It sizes nothing
from the environment — ``local[*]`` (the host's cores) unless a master
is passed, 32 shuffle partitions and an 8g driver.

Scale notes (100 TB): AQE is on for runtime shuffle coalescing and
skew-join splitting; shuffle partitions are 32 whatever the core count,
and should be ~2-3x total executor cores on a real cluster (or left to
AQE with `spark.sql.adaptive.coalescePartitions.initialPartitionNum`).
"""

from __future__ import annotations

import warnings

from pyspark.sql import SparkSession
import pyspark.sql.functions as F

# Confs that are safe (and required) to set at runtime on any session.
_RUNTIME_CONFS = {
    # /root/testdata parquet uses TIMESTAMP(NANOS); Spark reads it as
    # LongType (epoch nanos) with this legacy flag. The engine treats
    # the column as an epoch-nanos long everywhere.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp rendering for oracle parity.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for pandas UDFs (Avro codec, multimodal decode).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # collect_set/collect_list aggregations (LSH pair dedup, ANN fetch
    # fuse) run as ObjectHashAggregate, which silently degrades to
    # sort-based aggregation past this many in-memory groups PER
    # PARTITION (Spark default: 128 — tiny). The engine's fused dedup
    # shapes routinely hold a few thousand groups per partition;
    # measured ~8% on the minhash lane locally, and the sort fallback's
    # extra spill+sort grows with group count at cluster scale.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "2048",
}

# Confs that must be set at build time.
_BUILD_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # local[*] runs the executors in the driver JVM: the 1g default is
    # far too small for the task threads + broadcast builds + caches
    # (observed OOMs at 10x corpus stress). Only applies when THIS
    # builder creates the JVM; pre-existing sessions keep theirs.
    "spark.driver.memory": "8g",
    # the [Stage N:==>] bars overwrite the result lines the tools print
    "spark.ui.showConsoleProgress": "false",
    # generated-class cache (static; Spark default 100): one llm_data
    # round compiles ~320 classes, so at 100 every warm round recompiles
    # most of them
    "spark.sql.codegen.cache.maxEntries": "1024",
}


# Conf keys already warned about are stamped ON the session object —
# configure() runs on every load_table call, so failures surface ONCE per
# session, not per read. (An id(spark)-keyed module set was the r5 way:
# CPython reuses ids after GC, which could silently suppress a later
# session's warning, and the set grew unboundedly — r5 ADVICE.)
_WARNED_ATTR = "_graft_warned_confs"


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    A conf that cannot be set (static on some builds — e.g. a session
    whose ``nanosAsLong`` was fixed at JVM start) is NOT silently
    dropped: each failure surfaces once per session as a
    ``RuntimeWarning`` naming the key, so a mis-typed events clock or a
    disabled Arrow path is diagnosable instead of a downstream schema
    mystery. The session is still returned usable — callers on builds
    with the confs preset see no warning and no behavior change."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            warned = getattr(spark, _WARNED_ATTR, None)
            if warned is None:
                warned = set()
                setattr(spark, _WARNED_ATTR, warned)
            if k not in warned:
                warned.add(k)
                warnings.warn(
                    f"could not set session conf {k}={v!r} ({exc}); "
                    "if it is static on this build it must be preset "
                    "before reads rely on it",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return spark


def get_spark(app_name: str = "teste-carga-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the engine session on ``master`` (default
    ``local[*]``, one task thread per host core)."""
    builder = SparkSession.builder.appName(app_name).master(master or "local[*]")
    for k, v in _BUILD_CONFS.items():
        builder = builder.config(k, v)
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver testdata table (TESTDATA.md); idempotently applies
    the runtime confs so this works on driver-owned sessions too.

    ``events.ts`` is normalized to the engine's canonical clock — an
    epoch-nanos LONG — regardless of how the generator wrote it:
    TIMESTAMP(NANOS) parquet arrives as a long already (via
    ``nanosAsLong``), while TIMESTAMP(MICROS/MILLIS) arrives as a
    timestamp and is converted here (exact: micros * 1000 under the
    UTC session tz). Downstream code always sees nanos and derives ms
    as ``ts div 1_000_000``, matching the DuckDB oracle's
    ``epoch_ms(ts)``. The conversion is a scan-local projection — no
    shuffle, and column pruning still reaches the parquet scan.
    """
    configure(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    return df


def normalize_events_ts(df):
    """Coerce an events frame's ``ts`` to epoch-nanos long if the file
    delivered it as a timestamp type (see load_table docstring).

    Both branches are session-timezone-INDEPENDENT, bound at evaluation
    time (not plan-build time), and mutate no session conf:

    - NTZ: ``timestampdiff(MICROSECOND, epoch_ntz, ts)`` is pure
      wall-clock arithmetic between two NTZ values — measured exact
      under non-UTC sessions and stable across a tz change between
      plan build and action. (``cast(timestamp)`` and
      ``to_utc_timestamp(ts, 'UTC')`` both shift NTZ by the session-tz
      offset — measured — so neither is usable here.)
    - LTZ: ``unix_micros`` reads the instant directly (tz only affects
      rendering, never the stored micros)."""
    from pyspark.sql.types import TimestampNTZType, TimestampType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, TimestampNTZType):
        micros = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
        df = df.withColumn("ts", micros * F.lit(1000))
    elif isinstance(ts_type, TimestampType):
        df = df.withColumn("ts", F.unix_micros(F.col("ts")) * F.lit(1000))
    return df
