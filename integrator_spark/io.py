"""Typed table loaders + view registry (the engine's source layer).

Maps the reference's ingest stage (raw RDF cell data fetched from a
triple store — SURVEY.md §1.1/§3.1) onto Spark sources: Parquet is the
primary format; CSV/JSON scans live in ``queries/sources.py``.

The one physical quirk: ``events.parquet``'s ``ts`` column has changed
physical type across driver fixture generations (``timestamp[ns]``
in rounds 1-2, ``timestamp[us]`` from round 3 on), so the loader
normalizes whatever arrives to a session-TZ ``TIMESTAMP``:

- ``bigint`` — TIMESTAMP(NANOS) read under
  ``spark.sql.legacy.parquet.nanosAsLong=true``; exact integer
  division to micros (``ts div 1000``, no float round-trip) then
  ``timestamp_micros``.
- ``timestamp_ntz`` — the ``timestamp[us]`` (isAdjustedToUTC=false)
  footer type. Under the UTC session timezone (session.py) a cast to
  ``timestamp`` is a pure reinterpretation of the same micros value,
  matching DuckDB's naive TIMESTAMP reading of the same file.
- ``timestamp`` — already what we want; pass through.

``normalize_events_ts`` is the single place this lives — the batch
loader and the streaming source (streaming/jobs.py) both call it, so a
future fixture-type change is again a one-site fix.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import ensure_runtime_confs

#: All fixture tables (FIXTURES.md), in FK-dependency order.
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_events_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events timestamp column to session-TZ TIMESTAMP
    regardless of the fixture's physical type (see module docstring).
    Shared by the batch loader and the streaming source so the
    fixture-type handling exists in exactly one place."""
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        # TIMESTAMP(NANOS) read as long; exact integer ns -> us.
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dtype == "timestamp_ntz":
        # timestamp[us] footer; UTC session tz makes this cast exact.
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with schema fix-ups applied.

    Contract: every timestamp column leaves the loader as session-TZ
    TIMESTAMP, never TIMESTAMP_NTZ and never a raw long — the r3
    fixture regeneration proved the physical types change between
    rounds, and TIMESTAMP-only functions (unix_micros, to_utc_timestamp)
    reject NTZ at analysis time. Under the UTC session timezone the
    NTZ→TIMESTAMP cast is a pure reinterpretation, so DuckDB (which
    reads the same files as naive TIMESTAMP) still agrees bit-for-bit.
    """
    ensure_runtime_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df)
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def table_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk size of one fixture table (file or directory of parts) —
    the zero-job size estimate behind the engine's physical-strategy
    routing (rollup pre-agg, long-vs-decimal exact sums, kNN broadcast
    budget). None when the path isn't locally stat-able (object store);
    callers must treat None as 'assume big' and pick the scale path."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            return sum(e.stat().st_size for e in os.scandir(path)
                       if e.is_file())
        return os.path.getsize(path)
    except OSError:
        return None


def table_rows(sf_dir: str, name: str) -> int | None:
    """LOGICAL row count of one fixture table from parquet footers only
    (pyarrow metadata read — no Spark job, no data pages). Unlike
    table_bytes this is invariant to compression codec, parquet
    version, and partition layout, so routing decisions made on it are
    reproducible for the same logical dataset (the r6 advisor flagged
    byte-size routing as a determinism hazard for exact-vs-approx
    plan swaps). None when the path isn't locally readable (object
    store); callers must treat None as 'assume big'."""
    import pyarrow.parquet as pq
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            return sum(pq.ParquetFile(e.path).metadata.num_rows
                       for e in os.scandir(path)
                       if e.is_file() and e.name.endswith(".parquet"))
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None


def load_all(spark: SparkSession, sf_dir: str,
             tables: list[str] | None = None) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in (tables or TABLES)}


def register_views(spark: SparkSession, sf_dir: str,
                   tables: list[str] | None = None) -> dict[str, DataFrame]:
    """Register each table as a temp view (the engine's 'catalog').

    Mirrors the reference's SPARQL-endpoint surface (SURVEY.md §1.2):
    after registration, the full analytical surface is available via
    ``spark.sql`` over these names.

    Memoized per (session, table, sf_dir): every SQL-text query calls
    this, and re-doing load_table + createOrReplaceTempView is a
    handful of py4j round trips per table per query build (~100 ms for
    a 6-table query) for an identical catalog state. A table is
    re-registered only when a different sf_dir asks for it. All
    fixture-named views in the engine go through here; query-private
    views use '_'-prefixed names and are unaffected.

    The memo is validated against the live catalog: a cache hit only
    skips re-registration if the view still exists, so a dropTempView
    between calls is healed. A foreign createOrReplaceTempView under a
    fixture name is NOT detectable this way (the name still exists,
    pointing at other data) — the engine's contract is that fixture
    view names belong to this registry (query-private views use '_'
    prefixes). Single-threaded per session by design, like the
    SparkSession catalog API itself: concurrent builders should derive
    per-thread sessions via ``spark.newSession()``."""
    try:
        cache = spark._integrator_view_dirs
    except AttributeError:
        cache = {}
        try:
            spark._integrator_view_dirs = cache
        except Exception:
            pass
    dfs = {}
    for name in (tables or TABLES):
        if cache.get(name) != sf_dir or not spark.catalog.tableExists(name):
            dfs[name] = load_table(spark, sf_dir, name)
            dfs[name].createOrReplaceTempView(name)
            cache[name] = sf_dir
    return dfs


def derived_dir(sf_dir: str, *parts: str) -> str:
    """Writable scratch area for derived files (CSV/JSON exports, sinks,
    streaming checkpoints). Kept inside the repo (never under the
    read-only testdata root) and git-ignored."""
    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "_derived",
        os.path.basename(os.path.normpath(sf_dir)),
        *parts,
    )
    os.makedirs(os.path.dirname(base) if parts else base, exist_ok=True)
    return base
