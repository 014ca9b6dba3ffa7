"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]``; the conf below is chosen so the same code
scales to a multi-executor cluster: AQE on (runtime coalescing + skew-join
splitting), small broadcast threshold for the tiny metadata dims, Arrow for
the few pandas-UDF islands. ``local_frame`` turns driver-side rows into
Arrow local relations.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# One constant drives BOTH the AQE advisory partition size and the
# SMJ->SHJ local-map threshold (which must be >= the advisory size to
# ever fire) — see the conf comments in get_spark.
_ADVISORY_PARTITION_BYTES = 64 * 1024 * 1024
# Tungsten page size: the floor of every broadcast hash relation's heap
_PAGE_BYTES = 2 * 1024 * 1024


def get_spark(
    app_name: str = "series-tiempo-ar-scraping-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's default tuning.

    Defaults are sized for the test harness (``local[$SPARK_GRAFT_CPUS]``)
    but every setting is the one we'd want on a real cluster too:

    - AQE enabled: runtime shuffle-partition coalescing, skew-join handling
      — the 100 TB posture where static partition counts are always wrong.
    - ``spark.sql.shuffle.partitions`` defaults to the local core count;
      AQE coalesces down, so oversizing is cheap.
    - Arrow enabled for the pandas-UDF islands (cells extraction, multimodal
      decode) — batch transfer instead of row pickling.
    - 2 MB Tungsten pages, so a broadcast of a few metadata rows costs
      2 MB of heap, not Spark's heap-sized page.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE SMJ -> shuffled-hash conversion (guide §3.1): when every
        # post-shuffle partition's map output is below this threshold,
        # the sort on both join sides is dropped for a per-partition
        # hash build. Runtime-gated per query per join, so it is
        # scale-adaptive by construction: big joins at fleet scale keep
        # sort-merge (partitions exceed the threshold), small/medium
        # ones skip two sorts. The conversion can only fire when the
        # threshold >= advisoryPartitionSizeInBytes, so BOTH are set
        # here from ONE constant (ADVICE r13: hardcoding them equal but
        # separately lets env-specific advisory tuning silently disable
        # the conversion). 64 MB advisory = Spark's default; measured
        # r13: -10..28% on the fact-fact join entries (fifo_cogs,
        # cdc_apply, fk_integrity, dedup_eval), parity elsewhere.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            str(_ADVISORY_PARTITION_BYTES),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(_ADVISORY_PARTITION_BYTES),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # A broadcast hash relation takes at least one whole Tungsten
        # page, however few its rows, and keeps it on the driver heap
        # while a cached plan or a live frame still holds its join.
        # Spark sizes the page from heap / cores (16 MB on a 2g
        # local[4] driver), so the kilobyte metadata dims, broadcast a
        # few dozen times a pass, pinned hundreds of MB. 2 MB is inside
        # Spark's own 1-64 MB range; a larger record gets its own page.
        .config("spark.buffer.pageSize", str(_PAGE_BYTES))
        # On by default, it makes every DataFrame API call walk the
        # Python stack (and retry importing IPython) to tag the plan
        # with its call site; errors lose those lines, nothing else
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list, schema: StructType | str) -> DataFrame:
    """Driver-side rows -> a frame planned as a bare ``LocalRelation``.

    A Python list handed to ``createDataFrame`` becomes a PythonRDD, so
    every action over it runs a job of Python-worker tasks. An Arrow
    table becomes a local relation, empty or not: the optimizer folds
    filters and projections into it, a collect of it runs no job, and a
    scan of it runs in the JVM alone. The Arrow table path has no silent
    fallback to the list path and does not depend on the session's
    Arrow setting.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


_SHIPPED_SESSIONS: set[int] = set()


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``addPyFile``.

    Required before any pandas-UDF / mapInPandas stage: cloudpickle
    serializes module-level functions by reference, so executors must be
    able to import the package — true on a real cluster (spark-submit
    --py-files) and in local mode when the driver's cwd differs from the
    repo root. Zips the package once per session.
    """
    key = id(spark)
    if key in _SHIPPED_SESSIONS:
        return
    import zipfile

    import series_tiempo_ar_scraping_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    zip_path = os.path.join(
        "/tmp", f"series_tiempo_ar_scraping_spark_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "series_tiempo_ar_scraping_spark",
                            os.path.relpath(full, pkg_dir),
                        )
                        zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_SESSIONS.add(key)


def table_path(sf_dir: str, name: str) -> str:
    """Path of one driver-generated parquet table under an sf dir."""
    return os.path.join(sf_dir, f"{name}.parquet")


# (session-id, sf_dir, table) → persisted DataFrame; see load_table.
_TABLE_CACHE: dict[tuple[int, str, str], "SparkSession"] = {}

# Below this on-disk size a table is cached as-is (no repartition): the
# shuffle would cost more than the single-task scan it avoids, and tiny
# dims are broadcast anyway.
_CACHE_REPARTITION_MIN_BYTES = 256 * 1024


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one synthetic table (TESTDATA.md). Parquet → columnar,
    predicate-pushdown-able, column-pruned scans for free.

    The ``events`` table carries INT64 TIMESTAMP(NANOS) which vanilla Spark
    rejects; read nanos as long and truncate to microseconds (identical to
    DuckDB's ns→µs truncation so oracles agree). Set at runtime so this
    works under any caller-provided session (e.g. the driver's).

    ``SPARK_GRAFT_CACHE_TABLES=1`` turns on a per-session hot-table cache
    for repeated-query workloads (the bench harness): each table is
    persisted in-memory once, repartitioned to the session's default
    parallelism first. The fixture parquet is written as ONE row group per
    file, so a cold scan is a single task no matter how many cores the
    session has — the one-time repartition converts every downstream
    pipeline from 1-way to N-way parallelism. Default OFF: the correctness
    gate and ad-hoc runs measure the cold path. At 100 TB you would cache
    only the small dimension tables this way; the fact table's analogue is
    a properly row-grouped/partitioned layout at write time, not a cache.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    use_cache = os.environ.get("SPARK_GRAFT_CACHE_TABLES") == "1"
    key = (id(spark), os.path.abspath(sf_dir), name)
    if use_cache and key in _TABLE_CACHE:
        return _TABLE_CACHE[key]
    df = spark.read.parquet(table_path(sf_dir, name))
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for f in df.schema.fields:
        if f.name == "ts" and isinstance(f.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if use_cache:
        from pyspark import StorageLevel

        try:
            nbytes = os.path.getsize(table_path(sf_dir, name))
        except OSError:
            nbytes = 0
        if nbytes >= _CACHE_REPARTITION_MIN_BYTES:
            # Partition count targets ~2 MB of (compressed) input per
            # partition, clamped to [4, cores]: at local-bench scale,
            # per-task scheduling overhead (~10 ms × stages × partitions)
            # dominates long before CPU does, so fewer-but-larger beats
            # cores-many slivers — measured 25.8 s vs 32.2 s across the
            # bench at sf0.1. On a cluster the same rule lands near the
            # usual 100-200 MB/partition once inputs are TB-scale.
            n_parts = int(os.environ.get("SPARK_GRAFT_CACHE_PARTITIONS", "0"))
            if not n_parts:
                n_parts = max(
                    4,
                    min(
                        spark.sparkContext.defaultParallelism,
                        nbytes // (2 * 1024 * 1024),
                    ),
                )
            df = df.repartition(n_parts)
        df = df.persist(StorageLevel.MEMORY_ONLY)
        df.count()  # materialize eagerly so first query isn't charged
        _TABLE_CACHE[key] = df
    return df
