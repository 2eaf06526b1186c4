"""SparkSession factory.

One place to configure the engine. Defaults are tuned for the test rig
(local[N], single JVM) but every knob is chosen so the same code runs
unchanged on a 1000-executor cluster:

- AQE on: runtime join-strategy switching, partition coalescing, and
  skew-join splitting replace hand-tuning at scale.
- Arrow on: all pandas interop (Pandas UDFs, applyInPandas) is
  Arrow-batched, never row-at-a-time pickling.
- shuffle.partitions sized from the env (driver runs local[$SPARK_GRAFT_CPUS]);
  on a real cluster AQE coalesces from a higher initial number.
- session timezone UTC so timestamp semantics match the DuckDB oracle.

The width rule: a phase whose data is far smaller than the cluster runs
on a ``spark.newSession()`` clone narrowed by :func:`narrow` to
``min(clone width, max(8, ceil(rows / 65536)))``. Work is sized to its
data, not to the CPU count, so small shuffles and streaming state
stores do not pay one scheduled task (or one state-store commit) per
core; at scale the row count dominates and the clone keeps its full
width. Narrowing never widens. Only the clone changes: a query never
sets a conf on its caller's session, so concurrent queries on one
session cannot see each other's sizing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_SHUFFLE_WIDTH = "spark.sql.shuffle.partitions"
_MIN_WIDTH = 8
_ROWS_PER_PARTITION = 65536


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def get_spark(
    app_name: str = "a_share_data_pipeline_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(_SHUFFLE_WIDTH, str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs default to row-at-a-time pickling; keep every
        # Python lane Arrow-batched (plan shows ArrowEvalPythonUDTF)
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata events.ts is parquet TIMESTAMP(NANOS) — Spark has no
        # nanos timestamp; read as long and convert at the source
        # (sources/readers.py truncates to micros, matching DuckDB)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the API-shaped Python DataSource implements pushFilters — the
        # partition-pruning-from-predicates path needs this flag
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def narrow(work: SparkSession, rows: int = 0) -> SparkSession:
    """Apply the width rule to ``work`` and return it.

    ``work`` must be a clone the caller owns (``spark.newSession()``):
    its shuffle width becomes ``min(width, max(8, ceil(rows / 65536)))``.
    ``rows`` is the row count of the phase's largest shuffled input;
    the default 0 gives the floor, for phases (micro-batches, state
    stores) that are small by construction. Results never depend on the
    width, only the task count does."""
    width = int(work.conf.get(_SHUFFLE_WIDTH))
    sized = max(_MIN_WIDTH, -(-rows // _ROWS_PER_PARTITION))
    work.conf.set(_SHUFFLE_WIDTH, str(min(width, sized)))
    return work
