"""SparkSession construction and runtime configuration.

Two paths:
- ``build_session()`` — used by tests/bench when we own the session.
  It ends with ``ensure_runtime_confs``, so both paths apply the same
  confs and ship the package to Python workers through one call.
- ``ensure_runtime_confs(spark)`` — used inside every query entry point
  because the verification driver owns the session; all confs we need
  are runtime-settable SQL confs (verified on pyspark 4.1.2).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: SQL confs that are safe (and required) to set at runtime on a
#: driver-owned session.
RUNTIME_CONFS: dict[str, str] = {
    # /root/testdata/*/events.parquet stores TIMESTAMP(NANOS), which the
    # vectorized reader rejects; read as long and convert in the loader
    # (FIXTURES.md "nanosecond-timestamp gotcha").
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic rendering of timestamps regardless of machine TZ so
    # the DuckDB oracle (naive timestamps) and Spark agree.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: shuffle-partition coalescing + skew-join
    # splitting — the first line of defense at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / mapInPandas / applyInPandas boundary,
    # and for UDTF evaluation (BatchEvalPythonUDTF -> ArrowEvalPythonUDTF).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # Batch shuffles start at 32 partitions and AQE coalesces them:
    # with coalescing on, every batch Exchange reads this number, not
    # spark.sql.shuffle.partitions. Streams run with AQE off and read
    # spark.sql.shuffle.partitions instead, once, when a checkpoint is
    # created — that count is the number of state-store partitions, each
    # committed on every micro-batch, and it can never change for that
    # checkpoint. ensure_runtime_confs sizes it to the cores
    # (defaultParallelism): one state partition per core, so the state
    # parallelism grows with the cluster and a small host does not pay
    # 32 store commits per operator per batch.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "32",
}

#: The conf a new streaming checkpoint records as its state-partition
#: count (see RUNTIME_CONFS above).
STATE_PARTITIONS_CONF = "spark.sql.shuffle.partitions"


def _package_zip(dest_dir: str) -> str:
    """Zip this package's ``.py`` sources into ``dest_dir`` and return
    the zip's path. The name carries a hash of the sources, so every
    process running the same tree shares one zip instead of leaving one
    per process: it is written only when absent, through a temp file
    and ``os.replace``, so no reader sees a half-written zip and two
    concurrent writers leave the same bytes."""
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    files = sorted(os.path.join(root, fn)
                   for root, _dirs, fns in os.walk(pkg_dir)
                   for fn in fns if fn.endswith(".py"))
    digest = hashlib.sha256()
    for full in files:
        with open(full, "rb") as f:
            digest.update(os.path.relpath(full, pkg_dir).encode())
            digest.update(hashlib.sha256(f.read()).digest())
    zip_path = os.path.join(
        dest_dir, f"integrator_spark_pkg_{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(zip_path):
        fd, tmp = tempfile.mkstemp(suffix=".zip", dir=dest_dir)
        with os.fdopen(fd, "wb") as out, zipfile.ZipFile(out, "w") as zf:
            for full in files:
                zf.write(full, os.path.join(
                    "integrator_spark", os.path.relpath(full, pkg_dir)))
        os.chmod(tmp, 0o644)             # mkstemp makes it owner-only
        os.replace(tmp, zip_path)
    return zip_path


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Pandas-UDF closures reference module-level kernels, which pickle by
    *reference* — so every worker must be able to import
    ``integrator_spark``. On a real cluster this zip ride-along is the
    standard deployment; in local mode it also covers driver processes
    whose CWD isn't the repo root (e.g. the verification driver). The
    zip lives in the system temp directory and must outlive this call
    (workers fetch it lazily), so it is shared, not deleted.
    """
    sc = spark.sparkContext
    if getattr(sc, "_integrator_spark_shipped", False):
        return
    import tempfile

    sc.addPyFile(_package_zip(tempfile.gettempdir()))
    sc._integrator_spark_shipped = True


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing (driver-owned) session.

    Memoized per session object: every query entry point calls this
    (often several times via load_table), and the ~10 py4j conf.set
    round trips cost 20-100 ms per *query build* — pure overhead once
    the session is configured."""
    if getattr(spark, "_integrator_confs_applied", False):
        return spark
    cores = str(spark.sparkContext.defaultParallelism)
    for k, v in {**RUNTIME_CONFS, STATE_PARTITIONS_CONF: cores}.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not recognized/settable on this build — non-fatal.
            pass
    try:
        _ship_package(spark)
    except Exception:
        # Local-mode sessions launched from the repo root still work via CWD.
        pass
    try:
        spark._integrator_confs_applied = True
    except Exception:
        pass
    return spark


def build_session(app_name: str = "integrator-spark",
                  cpus: int | None = None,
                  warehouse_dir: str | None = None) -> SparkSession:
    """Build a local session sized for the fixture scale factors.

    On a real cluster the same code runs unchanged; only master/memory
    sizing differs. Batch shuffles start at AQE's 32 initial partitions
    and coalesce from there; ``spark.sql.shuffle.partitions`` (the
    state-partition count of new streaming checkpoints) is the core
    count, the same value ``ensure_runtime_confs`` sets on a
    driver-owned session (see ``RUNTIME_CONFS``).

    With ``warehouse_dir`` the catalog is PERSISTENT: table metadata
    (including bucketing specs) lives in an embedded Derby metastore
    under ``warehouse_dir``, so a ``saveAsTable(bucketBy)`` layout
    written in one job is visible — still bucketed, still zero-Exchange
    joinable — in every later session that points at the same
    warehouse. This is the durable-layout strategy for repeated
    fact-fact joins at 100 TB: pay the bucketing shuffle once at ingest,
    reuse it across jobs (in-memory catalogs forget the bucketing spec
    on session exit, silently reintroducing the shuffle). It uses the
    Hive metastore jars pyspark already ships (hive-metastore 2.3 +
    Derby); no external service. On a real cluster you'd point
    ``ConnectionURL`` at a shared metastore DB (or use a lakehouse
    catalog) instead of embedded Derby. Cross-session behavior is proven
    in tests/test_bucketing.py (two separate driver processes,
    zero-Exchange assert in the second).
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # Before the JVM (and its Python-worker daemons) launch: see
    # integrator_spark.__init__._disable_numpy_thp_madvise — workers
    # inherit this env, so numpy in every worker skips the THP
    # madvise that is ~450x slower to fault on this kernel.
    os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(STATE_PARTITIONS_CONF, str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Cluster posture for the same THP guard (inert in local mode,
        # where workers inherit the driver env set above).
        .config("spark.executorEnv.NUMPY_MADVISE_HUGEPAGE",
                os.environ.get("NUMPY_MADVISE_HUGEPAGE", "0"))
    )
    if warehouse_dir is not None:
        wh = os.path.abspath(warehouse_dir)
        b = (
            b.config("spark.sql.warehouse.dir", wh)
            # Embedded Derby db colocated with the warehouse: the metastore
            # travels with the data directory, nothing global is touched.
            .config("javax.jdo.option.ConnectionURL",
                    f"jdbc:derby:;databaseName={wh}/metastore_db;create=true")
            .enableHiveSupport()
        )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # The same runtime confs and package shipping as a driver-owned
    # session: without the zip, an operator whose pandas UDF workers
    # import ``integrator_spark`` fails when the driver did not start
    # in the repo root and no table was loaded yet.
    return ensure_runtime_confs(spark)
