"""SparkSession construction + defensive runtime config.

The driver owns its own SparkSession for t2 (``entry(spark)`` /
``queries()[name](spark, sf_dir)``), so every config we *require* must
be runtime-settable; ``ensure_conf`` is called from the table loader so
queries work on any session handed to us.  Verified on this machine:
``spark.sql.legacy.parquet.nanosAsLong`` IS runtime-settable and is
required to read events.parquet (TIMESTAMP(NANOS) — SURVEY.md §1.2).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: configs that are runtime-settable (SQLConf) and required for
#: correctness/parity on any session we receive from the driver.
RUNTIME_CONF: dict[str, str] = {
    # events.ts is parquet TIMESTAMP(NANOS); Spark 4 otherwise throws
    # PARQUET_TYPE_ILLEGAL.  Reads as LongType nanoseconds.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # DuckDB (the oracle) is timezone-naive; pin Spark to UTC so
    # timestamp arithmetic/collection matches byte-for-byte.
    "spark.sql.session.timeZone": "UTC",
    # runtime re-planning: coalesce shuffle partitions, skew-join
    # splitting, broadcast conversion — the 100 TB posture.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for any pandas-UDF path and for toPandas().
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python UDTFs evaluate through Arrow batches instead of pickled
    # rows (plan shows ArrowEvalPythonUDTF, not BatchEvalPythonUDTF) —
    # same ~10-100x batching win as pandas UDFs; verified runtime-
    # settable and parity-neutral (the runner's audit gates that no
    # row-at-a-time Python eval remains anywhere in the registry).
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # Sized for the local[32] harness (~1 wave of post-shuffle tasks;
    # AQE coalesces further).  On a real cluster this would be sized by
    # data volume (~shuffle_bytes / 128MB) instead — see bench.py notes.
    "spark.sql.shuffle.partitions": "32",
}


#: per-process package-zip path memo (see _ship_package)
_PKG_ZIP: str | None = None


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Worker processes do NOT inherit driver-side sys.path edits, so any
    pandas UDF / mapInPandas function that references a module in this
    package (pickled by reference) dies with ModuleNotFoundError when
    the driver runs from another cwd.  ``addPyFile`` is the standard,
    runtime-callable fix: zip the package once per process and ship it
    with the job; works identically on a real cluster.
    """
    sc = spark.sparkContext
    if sc is None or getattr(sc, "_mp4_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    repo_root = os.path.dirname(pkg_dir)
    # build to a fresh mkstemp path once per process (module-global
    # memo), NOT a pid-keyed reusable file: a recycled pid would find a
    # stale zip from an earlier process and silently ship outdated code
    # to executors (review r12)
    global _PKG_ZIP
    if _PKG_ZIP is None or not os.path.exists(_PKG_ZIP):
        fd, zpath = tempfile.mkstemp(
            prefix="mp4_mapreduce_spark_pkg_", suffix=".zip"
        )
        os.close(fd)
        with zipfile.ZipFile(zpath, "w") as z:
            for dirpath, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, repo_root))
        _PKG_ZIP = zpath
        # addPyFile copies the zip into Spark's files dir, so the
        # mkstemp original is safe to remove at interpreter exit —
        # without this, one orphan zip accumulates per driver process
        # (ADVICE r13)
        import atexit

        atexit.register(lambda p=zpath: os.path.exists(p) and os.unlink(p))
    zpath = _PKG_ZIP
    try:
        sc.addPyFile(zpath)
        sc._mp4_pkg_shipped = True
    except Exception:  # pragma: no cover - e.g. Spark Connect
        pass


def ensure_conf(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an externally-created session."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - non-settable on some builds
            pass
    _ship_package(spark)
    return spark


def get_spark(
    app_name: str = "mp4-mapreduce-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Local session for tests/bench.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all cores; shuffle
    partitions default to 2x cores on the local harness (at cluster
    scale you would size by data volume instead — see bench.py notes).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # default = RUNTIME_CONF's 32 (review r12: the old "2x cores"
    # default was ALWAYS silently stomped to 32 by the RUNTIME_CONF
    # loop below, so 32 is the historically-actual behavior; an
    # EXPLICIT shuffle_partitions argument now genuinely wins — it is
    # re-applied after ensure_conf, which would otherwise overwrite it)
    if shuffle_partitions is None:
        shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark = ensure_conf(builder.getOrCreate())
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    except Exception:  # pragma: no cover - non-settable on some builds
        pass
    return spark
