"""SparkSession helpers.

The engine is designed for a large multi-executor cluster (100 TB posture):
AQE on for runtime re-planning and skew-join handling, shuffle partitions
sized to the cluster (here: local core count), UTC session timezone so
timestamp semantics are stable across engines, Arrow enabled for the few
pandas-UDF kernels.

All confs set in :func:`configure` are runtime-settable, so they also apply
when the caller hands us an externally created SparkSession (e.g. the
correctness driver's).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Runtime confs every entry point applies to whatever session it is given.
RUNTIME_CONFS = {
    # deterministic timestamp rendering / truncation across engines
    "spark.sql.session.timeZone": "UTC",
    # the driver's events table is parquet TIMESTAMP(NANOS); Spark reads it
    # as long nanos with this legacy flag (Spark has no ns timestamp type)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # runtime re-planning: partition coalescing + skew-join splitting
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas-UDF kernels (vector ops fall back to these at scale)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _partition_discovery_threshold() -> str:
    """Paths-per-listing bound below which partition discovery stays on
    the driver instead of launching a Spark job (default 32).

    Measured (r11, scratch/maint_listing_probe3.py): against the
    8192-one-file-cell ANN index, the discovery JOB form costs
    16-40 s per fresh ``spark.read.parquet(root)`` — one tiny task per
    directory, pure scheduling floor on local mode where the executors
    ARE the driver host — while driver-side sequential listing does the
    same work in 1.6-5 s (python scandir covers the same tree in
    0.09 s). Every full-index open (facade open(), annsink per-trigger
    read, doctor/stats/retrain) pays this, so local mode raises the
    bound to cover directory-per-cell layouts. On a cluster against an
    object store the distributed listing amortizes RPC latency across
    executors — deployments there should set
    SPARK_GRAFT_PARTITION_DISCOVERY_THRESHOLD back down (e.g. 32).
    """
    return os.environ.get(
        "SPARK_GRAFT_PARTITION_DISCOVERY_THRESHOLD", "65536"
    )


def _default_driver_mem() -> str:
    """Local-mode heap default: ~3/8 of physical RAM, clamped to
    [2g, 48g]. The ceiling is the measured sweet spot on a 128 GiB box
    (heap beyond that starves the 32 Python workers + Arrow buffers);
    the floor keeps the JVM launchable under small cgroup limits."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        gb = max(2, min(48, int(total * 3 / 8 / (1 << 30))))
    except (ValueError, OSError, AttributeError):
        gb = 8
    return f"{gb}g"


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (driver-supplied or ours)."""
    confs = dict(RUNTIME_CONFS)
    confs["spark.sql.sources.parallelPartitionDiscovery.threshold"] = (
        _partition_discovery_threshold()
    )
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # non-runtime-settable in some deployment; keep going
            pass
    return spark


def fan_out(df):
    """Spread a compute-bound mapInPandas input over the cluster.

    Pure-Python / model-kernel stages (codec round trips, encoders) cost
    far more per row than a shuffle of their narrow input — but a single
    small parquet file arrives as ONE input split, which would serialize
    the whole kernel chain on one core. Repartition up to the cluster's
    parallelism when the input has fewer splits; at warehouse scale inputs
    already carry >= defaultParallelism splits and this is a no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-held ``rows`` (tuples in schema order, or
    dicts keyed by field name), typed by ``schema`` (DDL string or
    StructType). The only way this package builds a frame from Python
    values.

    ``spark.createDataFrame(<python list>)`` plans as ``Scan ExistingRDD``
    over a PythonRDD parallelized across every core: each action on the
    frame, and on every frame that unions or joins it, re-runs Python
    worker tasks to unpickle the rows (a bare count() of a 10-row frame
    cost ~5 cpu_s on a 32-core box; on the delta path each broadcast
    consumer scheduled a build stage that was pure per-job floor). The
    rows here go to the JVM as one ``pyarrow.Table`` and plan as a
    ``LocalTableScan``: JVM-resident, folded by the optimizer (an empty
    side prunes, a broadcast of it costs no build job), no Python worker
    ever touches it. A pyarrow Table and not pandas: pandas plans an
    empty frame as ``ExistingRDD``, widens an int column holding None to
    float64, and falls back to the list path when
    ``spark.sql.execution.arrow.pyspark.fallback`` applies. The Table
    path ignores ``spark.sql.execution.arrow.pyspark.enabled``. Values
    are cast to the schema's Arrow types on the driver: float32 columns
    round to nearest, as the list path does.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    struct = (
        schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    )
    names = struct.fieldNames()
    rows = [
        tuple(r[n] for n in names) if isinstance(r, dict) else r for r in rows
    ]
    cols = list(zip(*rows)) if rows else [()] * len(names)
    arrow = to_arrow_schema(struct)
    arrays = [
        pa.array(list(c), type=f.type)
        for c, f in zip(cols, arrow, strict=True)
    ]
    table = pa.Table.from_arrays(arrays, schema=arrow)
    return spark.createDataFrame(table, struct)


def get_spark(app_name: str = "memvid-spark") -> SparkSession:
    """Create (or get) a local session sized from SPARK_GRAFT_CPUS.

    On a real cluster the builder master/resources come from spark-submit;
    everything here is local-mode test scaffolding.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if shuffle is None:
        shuffle = str(os.cpu_count() or 32) if cpus == "*" else cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        # AQE headroom: start wide, let coalescing shrink small shuffles.
        # With only the static number, a 10x data growth packs 10x bytes
        # per reducer (spills); with initialPartitionNum AQE picks the
        # partition count per shuffle (measured ~10% on the 10x probe
        # locally; the effect grows with the data-to-core ratio).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(int(shuffle) * 8 if shuffle.isdigit() else 256),
        )
        .config("spark.ui.enabled", "false")
        # local mode: the driver JVM IS the executor fleet — size its
        # heap for the machine, not for a thin coordinator (an 8g heap
        # on a 128 GiB box OOMed the 100x probe inside a long bench
        # session). Default: ~3/8 of physical RAM, clamped to [2g, 48g]
        # so smaller hosts / cgroup limits still launch, leaving the
        # rest for Python workers + Arrow buffers outside the JVM;
        # SPARK_GRAFT_DRIVER_MEM overrides.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
