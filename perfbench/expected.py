"""Compute the benchmark's expected results and write expected.json.

Run once per change to the query set or the fixtures, from the
repository root:

    python3 perfbench/expected.py

Each (scale, query) of every workload and of the self-test, and the
set-up query at each of their scales, gets the row count and SHA-256
of the canonical result (workloads.result_digest) of its DuckDB
oracle. Queries in
``workloads.PINNED`` get the digest of this commit's Spark output
instead, labelled ``pinned``. The file records the commit, the
library versions and a digest of each fixture scale it was made from;
run.py refuses to run against fixtures with another digest.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import workloads as wl  # noqa: E402


def wanted() -> dict[str, set[str]]:
    by_sf: dict[str, set[str]] = {}
    for w in (*wl.WORKLOADS.values(), wl.SELF_TEST):
        by_sf.setdefault(w.sf, set()).update(w.queries + (wl.SETUP_QUERY,))
    return by_sf


def main() -> None:
    import duckdb
    import pyspark

    from integrator_spark.registry import all_specs
    from integrator_spark.testing import duckdb_connection

    specs = all_specs()
    spark = None
    results: dict[str, dict] = {}
    for sf, names in sorted(wanted().items()):
        con = duckdb_connection(wl.sf_dir(sf))
        for name in sorted(names):
            t0 = time.perf_counter()
            if name in wl.PINNED:
                if spark is None:
                    from integrator_spark.session import build_session
                    spark = build_session("perfbench-expected")
                pdf = specs[name].fn(spark, wl.sf_dir(sf)).toPandas()
                source = "pinned"
            else:
                pdf = con.execute(specs[name].oracle).fetchdf()
                source = "duckdb-oracle"
            results[f"{sf}/{name}"] = {**wl.result_digest(pdf),
                                       "source": source}
            print(f"{sf}/{name}: {source} {time.perf_counter() - t0:.1f} s",
                  file=sys.stderr, flush=True)
        con.close()
    if spark is not None:
        spark.stop()
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        commit = None
    doc = {
        "provenance": {
            "commit": commit,
            "duckdb": duckdb.__version__,
            "pyspark": pyspark.__version__,
            "fixtures": {sf: wl.fixture_digest(sf) for sf in wanted()},
        },
        "results": results,
    }
    with open(wl.EXPECTED_PATH, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
