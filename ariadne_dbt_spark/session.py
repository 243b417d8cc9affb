"""SparkSession construction with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; the same configuration
keys are what we would set on a 1000-executor cluster (AQE on, shuffle
partitions sized to the parallelism, Arrow enabled for the pandas-UDF
paths). Every query module accepts an externally-built session, so the
driver harness can inject its own.

Driver-side rows become DataFrames through :func:`local_frame` only: it
ships them to the JVM as one Arrow table, so the frame is a JVM
``LocalRelation`` and scanning it never starts a Python worker.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: tables the driver generates (TESTDATA.md)
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _driver_memory() -> str:
    """Half the host's RAM, between 1g and 64g. The driver JVM's heap
    grows toward its maximum under bursts of allocation; a 64g maximum
    on a 16 GB host let the test suite's JVM reach 15.8 GB and be killed
    by the kernel's OOM killer, taking the whole session down."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "64g"
    return f"{min(64, max(1, ram // 2**31))}g"


def get_spark(app_name: str = "ariadne-dbt-spark") -> SparkSession:
    """Build (or reuse) a local SparkSession with sane analytical defaults."""
    import sys

    # multi-join plans (index tables compose 5+ joins) recurse deeply during
    # Python-side plan handling; the default 1000 limit is marginal once a
    # test harness adds its own frames
    if sys.getrecursionlimit() < 10_000:
        sys.setrecursionlimit(10_000)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # parallelism: match cores locally; on a cluster this scales with
        # executors — AQE coalesces small post-shuffle partitions either way.
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size post-shuffle partitions from BYTES (the advisory target),
        # not the core count (guide §2.2 "fewer, larger reduce
        # partitions"): with the default parallelismFirst=true, every
        # KB-sized shuffle still fans out to `cpus` reducers — measured
        # here as hundreds of near-empty tasks per query at bench scale,
        # and the M×R tiny-block fetch pattern at cluster scale. Stages
        # whose cost is multiplicative rather than byte-proportional
        # (exploding pair joins) pin their parallelism structurally with
        # an explicit-N repartition instead (e.g. containment_pairs),
        # which AQE never coalesces. Env-overridable for A/B.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "false"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # deterministic timestamp semantics vs the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 wraps EVERY DataFrame/Column API call to capture the
        # Python call site for error enrichment — measured here as ~half
        # of all plan-CONSTRUCTION time (py4j round-trips per captured
        # frame; semantic_dedup construct 1.12 s -> 0.58 s with it off).
        # Construction overhead is pure driver cost at any cluster
        # scale; errors still raise with full JVM context, they just
        # stop citing the user's Python line. Env-overridable for
        # debugging sessions (round 11, guide §7.3's planning-cost trap).
        .config(
            "spark.sql.dataFrameQueryContext.enabled",
            os.environ.get("SPARK_GRAFT_DF_QUERY_CONTEXT", "false"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _driver_memory()))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def verify_rows(rows, schema: T.StructType) -> None:
    """Raise ``TypeError`` or ``ValueError`` on the first of ``rows`` that
    ``local_frame(spark, rows, schema)`` would refuse, without building
    the frame: the type verifier ``createDataFrame`` applies."""
    from pyspark.sql.types import _make_type_verifier

    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """A DataFrame over driver-side ``rows``, held in the JVM as a
    ``LocalRelation``.

    ``spark.createDataFrame(list, schema)`` is ``parallelize`` plus an
    identity ``map`` in PySpark 4: the frame is a ``LogicalRDD`` over a
    PythonRDD, and every job that scans it forks Python workers to
    unpickle the same rows again. An Arrow table under
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
    default) becomes a ``LocalRelation`` instead: planned and scanned in
    the JVM, and collected without a job when nothing above it shuffles.

    ``rows`` are tuples, Rows or dicts (matched by field name); ``schema``
    is a StructType or a DDL string (parsing one is a JVM round trip).
    Each row passes the same type verifier and converter the list path
    applies (:func:`verify_rows`), so a wrong Python type, a float in an
    integral column or a None in a non-nullable field still raise rather
    than being coerced by Arrow. The conversion is :func:`verified_frame`.
    """
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if not isinstance(schema, T.StructType):
        raise TypeError(f"local_frame needs a struct schema, got {schema!r}")
    rows = list(rows)
    verify_rows(rows, schema)
    return verified_frame(spark, rows, schema)


def verified_frame(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """:func:`local_frame` over ``rows`` that already passed
    :func:`verify_rows` against ``schema``: only the conversion. Converted
    rows are in Spark's internal form (timestamps as UTC micros, dates as
    days, maps as dicts, structs as tuples), which Arrow takes without a
    cast; they go to the JVM as one Arrow table typed by
    ``to_arrow_schema``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _create_converter

    convert = _create_converter(schema)
    internal = [schema.toInternal(convert(row)) for row in rows]
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*internal)) if internal else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"
