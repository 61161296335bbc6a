"""Drive the __spark_entry__ driver contract end-to-end, exactly as the
verification driver does (see .claude/skills/verify/SKILL.md).

Fresh process, default SparkSession confs, sf0.001 entry smoke, then every
queries() entry at sf0.01 compared to its oracle_sql() in DuckDB by
sorted-column stringified exact match. Usage:

    python scripts/run_verify.py [name_substring ...]
    python scripts/run_verify.py --sample 50 --seed 1   # stratified sample

Full-registry audit artifact (one `[i/N] name: STATUS` line per query,
guaranteed lossless — console progress is disabled so Spark's `\\r`
progress bar cannot clobber result lines):

    python scripts/run_verify.py | tee CORRECTNESS_full_rN.log

`--sample N --seed S` draws a deterministic sample stratified by query
family (the prefix before the first `_`): every family contributes at
least one query, remaining slots fill round-robin by seeded rotation, so
a small sample still touches agg/dedup/etl/events/graph/ml/stream/vec/...
rather than the alphabetically-early families.
"""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python workers (the data-source reader behind stream_custom_source)
# get their import path from PYTHONPATH, not from this sys.path; set it
# before the JVM starts so they find the package from any directory.
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p)

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as ent  # noqa: E402
from integrator_spark.testing import canonical_strings  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SF_DIR = os.environ.get("SPARK_GRAFT_VERIFY_SF", "/root/testdata/sf0.01")


def stratified_sample(names: list[str], n: int, seed: int) -> list[str]:
    """Deterministic family-stratified sample: group by the name's
    family prefix, rotate each family's order by the seed, then take one
    query per family per round until n are drawn. No RNG state — the
    same (names, n, seed) always yields the same sample."""
    fams: dict[str, list[str]] = {}
    for q in sorted(names):
        head = q.split("_", 1)[0]
        if head[:1] == "q" and head[1:].isdigit():
            head = "tpch"  # q1..q22 are one family, not 22
        fams.setdefault(head, []).append(q)
    order = sorted(fams)
    shift = seed % len(order)
    order = order[shift:] + order[:shift]  # n < #families still roams
    for f in order:
        rot = seed % len(fams[f])
        fams[f] = fams[f][rot:] + fams[f][:rot]
    picked: list[str] = []
    rnd = 0
    while len(picked) < min(n, len(names)):
        for f in order:
            if rnd < len(fams[f]):
                picked.append(fams[f][rnd])
                if len(picked) == min(n, len(names)):
                    break
        rnd += 1
    return sorted(picked)


def main() -> int:
    argv = sys.argv[1:]
    sample_n, seed = None, 0
    if "--sample" in argv:
        i = argv.index("--sample")
        sample_n = int(argv[i + 1])
        del argv[i:i + 2]
    if "--seed" in argv:
        i = argv.index("--seed")
        seed = int(argv[i + 1])
        del argv[i:i + 2]
    filters = argv

    # showConsoleProgress=false: the progress bar writes `\r`-terminated
    # segments to the same stderr a `tee`'d audit log shares, clobbering
    # result lines (round-5 artifact lost 34 of 291 lines to this).
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())

    rows = ent.entry(spark).collect()
    print(f"entry smoke: {len(rows)} rows", flush=True)
    assert len(rows) > 0

    qs, osql = ent.queries(), ent.oracle_sql()
    names = [n for n in qs if not filters or any(f in n for f in filters)]
    if sample_n is not None:
        names = stratified_sample(names, sample_n, seed)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")

    t0 = time.time()
    fails = []
    for i, name in enumerate(names, 1):
        try:
            spdf = qs[name](spark, SF_DIR).toPandas()
            if name not in osql:
                print(f"[{i}/{len(names)}] {name}: ROWS-ONLY "
                      f"spark={len(spdf)}", flush=True)
                continue
            opdf = con.execute(osql[name]).df()
            s, o = canonical_strings(spdf), canonical_strings(opdf)
            if len(spdf) != len(opdf):
                fails.append(name)
                print(f"[{i}/{len(names)}] {name}: FAIL rowcount "
                      f"spark={len(spdf)} oracle={len(opdf)}", flush=True)
            elif s != o:
                fails.append(name)
                bad = next(j for j, (a, b) in enumerate(zip(s, o)) if a != b)
                print(f"[{i}/{len(names)}] {name}: FAIL values at row {bad}\n"
                      f"  spark : {s[bad][:200]}\n"
                      f"  oracle: {o[bad][:200]}", flush=True)
            else:
                print(f"[{i}/{len(names)}] {name}: PASS "
                      f"spark={len(spdf)} oracle={len(opdf)}", flush=True)
        except Exception as e:  # noqa: BLE001
            fails.append(name)
            print(f"[{i}/{len(names)}] {name}: ERROR {type(e).__name__}: "
                  f"{str(e)[:300]}", flush=True)
    print(f"TOTAL {len(names)} queries, fails={fails}, "
          f"wall={time.time() - t0:.1f}s", flush=True)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
