"""SparkSession factory with scale-aware defaults.

Local mode is a single JVM; on a real cluster the same settings hold except
memory knobs. Defaults follow the public Spark tuning guidance:

- AQE on (runtime re-plan, skew-join handling, partition coalescing)
- shuffle partitions ~ cores for local mode (cluster: set to 2-3x total cores)
- Arrow enabled for the few pandas-UDF code paths
- session timezone pinned to UTC so results compare bit-for-bit against
  DuckDB oracles (duckdb timestamps are UTC-naive)
- nested schema pruning on, so selecting ``Muon.pt`` out of an
  array<struct> column STORED as such reads only that parquet leaf (the
  Spark-native equivalent of the reference's virtual-buffer column
  pruning, nanoevents/factory.py:808-835). It does not reach a
  collection zipped at read time from flat ``Muon_*`` branches: the
  zip binds every branch, so touching ``Muon.pt`` reads all of them
  (ROADMAP item 4)
- DataFrame call-site capture off: capturing the caller's file:line
  costs about 7 py4j round trips per ``Column`` / ``F.*`` call, half the
  round trips of a processor pass. The cost: a runtime error's
  ``== DataFrame ==`` section names a JVM frame, not the user's line;
  error class and message are unchanged. Static conf, read once per
  process: ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
  "true"}`` turns it back on
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "coffea-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Env overrides: ``SPARK_GRAFT_CPUS`` (local parallelism),
    ``SPARK_GRAFT_DRIVER_MEM`` (local-mode heap).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    if driver_memory is None:
        driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # 1g JIT code cache: a long session compiles hundreds of large
        # whole-stage-codegen classes; when the default 240m cache fills,
        # the JVM stops JIT-compiling and expression-heavy queries run
        # interpreted (measured 3-5x slowdowns late in a 50-query bench;
        # 512m still showed occasional late-query outliers at 55 queries)
        .config(
            "spark.driver.extraJavaOptions",
            "-Dio.netty.tryReflectionSetAccessible=true "
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_PYFILES_SENT: set[int] = set()


def ensure_worker_imports(spark: SparkSession) -> None:
    """Make ``coffea_spark`` importable on executor Python workers.

    The package is used from a repo checkout (not pip-installed), so
    cloudpickled UDF closures reference a module workers can't import
    unless the driver's checkout happens to be their cwd. Shipping a zip
    via ``addPyFile`` works regardless of who created the SparkSession
    (the test driver runs queries in its own session, from its own cwd)."""
    key = id(spark.sparkContext)
    if key in _PYFILES_SENT:
        return
    import pathlib
    import tempfile
    import zipfile

    pkgdir = pathlib.Path(__file__).resolve().parent
    zpath = pathlib.Path(tempfile.gettempdir()) / f"coffea_spark_pkg_{os.getpid()}.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for p in sorted(pkgdir.rglob("*.py")):
            if "__pycache__" in p.parts:
                continue
            z.write(p, f"coffea_spark/{p.relative_to(pkgdir)}")
    spark.sparkContext.addPyFile(str(zpath))
    _PYFILES_SENT.add(key)


def list_files(raw: str, pattern: str) -> list[str]:
    """Sorted files named by ``raw``: a glob's matches, a directory's
    files matching ``pattern`` (e.g. ``"*.root"``), or ``raw`` itself
    when it is a file; ``[]`` when nothing matches (each caller decides
    what that means)."""
    import glob

    if any(ch in raw for ch in "*?["):
        return sorted(glob.glob(raw))
    if os.path.isdir(raw):
        return sorted(glob.glob(os.path.join(raw, pattern)))
    return [raw] if os.path.exists(raw) else []


def read_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Read the named parquet tables from a scale-factor directory.

    Returns a dict name -> DataFrame. Reading is lazy; Catalyst pushes
    projections and filters into the parquet scan.
    """
    return {n: spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet")) for n in names}
