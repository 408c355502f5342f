"""SparkSession builder tuned for the engine (SURVEY.md §7.1).

Scale posture: AQE on (runtime coalescing + skew-join splitting), CBO on
(ANALYZE-fed join reordering — the reference's post-load ``ANALYZE TABLE``
at LoadFiles.pm:230-234 maps to Spark stats collection feeding this),
UTC session time so timestamp semantics match the DuckDB oracle, Arrow
for any pandas exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Runtime-settable confs every probe relies on. Applied both at build
#: time and defensively at call time (``ensure_session_confs``) because
#: the correctness driver may hand us a session we didn't build.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Right-size shuffles for the local harness: a vanilla session's 200
    # default turns multi-stage probes (curation funnel, training
    # pipeline) into scheduling-overhead benchmarks at sf<=0.1. Runtime-
    # mutable, result-neutral (no probe's output depends on partition
    # count); a cluster deployment overrides via SPARK_GRAFT_SHUFFLE.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # Runtime bloom-filter semi-join reduction: on a selective shuffle
    # join the filtered side builds a bloom filter over its join keys
    # and the big side probes it BEFORE its shuffle — at 100 TB this
    # drops most shuffle bytes of a big-big join whose other side is
    # filtered. (Spark default-enables it; pinned here because the
    # whole-suite bloom injection is a deliberate posture, and
    # plan-gated in tests/test_plan_quality.py.)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled": "false",
}

#: Streaming STATE-STORE partition count for stateful drains (dedup /
#: stream-stream joins). A streaming query freezes its shuffle-partition
#: count into the state layout at its first start, and state sizing
#: follows KEY CARDINALITY, not CPU count — so it is a separate knob
#: from SPARK_GRAFT_SHUFFLE: the local default (8) matches the fixture
#: key sets (32 state-store instances per micro-batch measured ~2x
#: slower on them), while a 100 TB deployment sets
#: SPARK_GRAFT_STATE_PARTITIONS to its key scale BEFORE the first
#: checkpoint is written (changing it later requires a new checkpoint).
STATE_PARTITIONS: str = os.environ.get("SPARK_GRAFT_STATE_PARTITIONS", "8")


BUILD_CONFS: dict[str, str] = {
    # local[N] runs everything in the driver JVM; the 1g default heap
    # GC-thrashes on wide shuffles at sf0.1+. Env-overridable.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    # 64 MiB broadcast threshold: at 100 TB fact scale the dimension
    # tables (region/nation/part-like) stay broadcastable.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.scheduler.mode": "FAIR",
}


def get_spark(
    app_name: str = "ensembl-database-loader-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's default tuning."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    pools = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fairscheduler.xml")
    confs = {**BUILD_CONFS, **RUNTIME_CONFS, **(extra_conf or {})}
    if os.path.exists(pools):  # priority-class pools for the mirror pipeline
        confs.setdefault("spark.scheduler.allocation.file", pools)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_session_confs(spark)
    return spark


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply determinism-critical runtime confs to an existing session.

    Safe to call on any session (all keys are runtime-mutable). Probes
    call this so results do not depend on who built the session.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf may be static on some deployments
            pass
    return spark


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """``rows`` (tuples in field order) as a frame with the exact types
    and nullability of ``schema`` (a StructType or DDL). It is built
    through Arrow so it plans as a local relation: collecting it, or a
    filter/projection of it, starts no Spark job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    records = [dict(zip(schema.names, r)) for r in rows]
    table = pa.Table.from_pylist(records, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
